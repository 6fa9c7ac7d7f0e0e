"""The three workloads: how each op drives the package, and how its
output is checked against DuckDB outside the timed window.

Every call into the package goes through a module attribute
(``parquet.read_parquet``, ``planner.QueryPlanner`` …) so the traced run
can wrap it where callers look it up.
"""

from __future__ import annotations

import hashlib
import itertools
import os
import shutil
import time
import traceback
from dataclasses import dataclass, field

import pyarrow.parquet as pq

import gen

PAGE = 100


@dataclass
class Record:
    """One timed op.  ``role`` is ``op`` (the workload's primary op) or
    ``read`` (ingest's read-back, timed on its own)."""
    op: gen.Op
    role: str = "op"
    seconds: float = 0.0
    ok: bool = True
    error: str = ""
    out: object = None            # what the check compares
    events: int = 0               # ingest: events in the batch
    raw_bytes: int = 0            # ingest: bytes of the raw batch file
    kept_bytes: int = 0           # ingest: bytes the batch added to the
                                  # store and the index
    upto: int = 0                 # ingest read-back: batches visible


@dataclass
class Context:
    spark: object
    seed: int
    pools: gen.Pools
    tables: dict                  # name → parquet path
    data_dir: str
    work: str
    tracer: object
    state: dict = field(default_factory=dict)


def _fail(rec: Record, exc: BaseException) -> None:
    rec.ok = False
    rec.error = "".join(traceback.format_exception_only(type(exc), exc))


def _noop_drain(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _dir_bytes(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, skipping markers and crc."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if not n.startswith(("_", ".")):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


def _digest(rows) -> str:
    return hashlib.sha256(repr(sorted(rows)).encode()).hexdigest()


def _norm(v):
    """Make Spark and DuckDB values compare: ints stay ints, numpy and
    decimal numbers become float, everything else str."""
    if isinstance(v, bool) or v is None:
        return v
    if isinstance(v, int):
        return v
    if isinstance(v, float):
        return v
    try:
        return float(v)
    except (TypeError, ValueError):
        return str(v)


def _page_rows(op: gen.Op, rows) -> list[tuple]:
    if op.shape == "groupby":
        n = len(op.key_cols)
        return [tuple(_norm(x) for x in r[:n + 2]) for r in rows]
    return [tuple(_norm(r[k]) for k in op.key_cols) for r in rows]


def check_page(op: gen.Op, page: list[tuple], expected: list[tuple]) -> str:
    """'' when the first page is right: every row satisfies the query
    (is in the expected set), no row repeats, and the page holds
    min(PAGE, expected count) rows."""
    want = set(expected)
    if len(set(page)) != len(page):
        return "duplicate rows on the page"
    extra = [r for r in page if r not in want]
    if extra:
        return f"{len(extra)} page rows do not satisfy the query: {extra[:2]}"
    if len(page) != min(PAGE, len(want)):
        return f"page has {len(page)} rows, expected {min(PAGE, len(want))}"
    return ""


class Workload:
    name = ""
    burn_in_ops = 10              # a cycle, once before the window
    tables: tuple[str, ...] = ("events",)

    def setup(self, ctx: Context) -> None:
        """Build what the workload reads, fresh (timed in setup_s)."""

    def reset(self, ctx: Context) -> None:
        """Fresh mutable state before a measured window (not timed)."""

    def ops(self, ctx: Context, seed: int):
        raise NotImplementedError

    def run(self, ctx: Context, op: gen.Op, op_id: int) -> list[Record]:
        raise NotImplementedError

    def check(self, ctx: Context, records: list[Record], duck) -> None:
        raise NotImplementedError

    def stored_ratio(self, ctx: Context, records: list[Record]) -> float:
        """Bytes kept for the workload per byte of generated input."""
        raise NotImplementedError


def _read_table(ctx: Context, name: str):
    from datawave_spark.sources import parquet
    return parquet.read_parquet(ctx.spark, ctx.tables[name])


def _plan(ctx: Context, df, op: gen.Op, **kw):
    from datawave_spark.plans import planner
    return planner.QueryPlanner(df, **kw).plan(op.text, syntax=op.syntax)


def _first_page(ctx: Context, res) -> list:
    """The first page of a planned query; the iterator is closed so the
    query's remaining partitions are released, as a client that stops
    paging does."""
    tr = ctx.tracer
    t0 = time.perf_counter()
    with tr.action("plans.first_page"):
        pages = res.pages(PAGE)
        try:
            page = next(pages, [])
        finally:
            pages.close()
    tr.record_frame_qe(res.df, 1000.0 * (time.perf_counter() - t0))
    return page


class Interactive(Workload):
    """Create + first page of seeded JEXL/LUCENE queries over events."""
    name = "interactive"

    def setup(self, ctx: Context) -> None:
        from datawave_spark.sources import prepared
        stats = prepared.index_stats(ctx.spark, ctx.data_dir)
        ctx.state["stats"] = {r.field: int(r.cardinality)
                              for r in stats.collect()}

    def ops(self, ctx: Context, seed: int):
        return gen.interactive_ops(seed, ctx.pools)

    def run(self, ctx: Context, op: gen.Op, op_id: int) -> list[Record]:
        rec = Record(op)
        t0 = time.perf_counter()
        try:
            with ctx.tracer.op(op_id, op.kind):
                ev = _read_table(ctx, "events")
                res = _plan(ctx, ev, op, stats=ctx.state["stats"])
                page = _first_page(ctx, res)
            rec.seconds = time.perf_counter() - t0
            rec.out = _page_rows(op, page)
        except Exception as exc:       # a failed op counts; the run goes on
            rec.seconds = time.perf_counter() - t0
            _fail(rec, exc)
        return [rec]

    def check(self, ctx: Context, records: list[Record], duck) -> None:
        for rec in records:
            if not rec.ok:
                continue
            try:
                expected = [tuple(_norm(x) for x in r)
                            for r in duck.execute(rec.op.sql).fetchall()]
                rec.error = check_page(rec.op, rec.out, expected)
            except Exception as exc:
                _fail(rec, exc)
            rec.ok = not rec.error

    def stored_ratio(self, ctx: Context, records: list[Record]) -> float:
        from datawave_spark.sources import prepared
        inp = os.path.getsize(ctx.tables["events"])
        kept = _dir_bytes(prepared.prepared_path(ctx.data_dir,
                                                 "index_stats"))[1]
        return (inp + kept) / inp


class Analytic(Workload):
    """Full-result jobs drained with the noop writer."""
    name = "analytic"
    tables = ("events", "lineitem", "embeddings")

    def setup(self, ctx: Context) -> None:
        from datawave_spark.sources import prepared
        prepared.index_frame(ctx.spark, ctx.data_dir)

    def ops(self, ctx: Context, seed: int):
        return gen.analytic_ops(seed, ctx.pools)

    def build(self, ctx: Context, op: gen.Op):
        from datawave_spark.operators import dedup
        from datawave_spark.sources import index_frame, prepared
        if op.kind == "index_query":
            ev = _read_table(ctx, "events")
            idx = ctx.spark.read.parquet(
                prepared.prepared_path(ctx.data_dir, "index_frame"))
            return index_frame.index_query(ev, idx, op.text, "event_id")
        if op.kind == "dedup_pairs":
            emb = _read_table(ctx, "embeddings")
            return dedup.embedding_dedup_pairs(
                emb, "embedding", "vec_id", threshold=op.threshold,
                block_col="label")
        return _plan(ctx, _read_table(ctx, op.table), op).df

    def run(self, ctx: Context, op: gen.Op, op_id: int) -> list[Record]:
        rec = Record(op)
        t0 = time.perf_counter()
        try:
            with ctx.tracer.op(op_id, op.kind):
                df = self.build(ctx, op)
                with ctx.tracer.action():
                    _noop_drain(df)
            rec.seconds = time.perf_counter() - t0
        except Exception as exc:
            rec.seconds = time.perf_counter() - t0
            _fail(rec, exc)
        return [rec]

    def check(self, ctx: Context, records: list[Record], duck) -> None:
        """A seeded sample of ops runs again, collected, and its rows
        are hash-matched against the SQL emitted beside it."""
        for rec in records:
            if not rec.ok or not rec.op.check:
                continue
            try:
                got = self._result_rows(ctx, rec.op)
                want = self._shape(rec.op, duck.execute(rec.op.sql)
                                   .fetchall())
                if _digest(got) != _digest(want):
                    rec.error = (f"result hash differs: {len(got)} rows vs "
                                 f"{len(want)} expected")
            except Exception as exc:
                _fail(rec, exc)
            rec.ok = not rec.error

    def _result_rows(self, ctx: Context, op: gen.Op) -> list[tuple]:
        df = self.build(ctx, op)
        if op.shape == "unique":
            df = df.select(*op.key_cols)
        elif op.shape == "rows":
            df = df.select("event_id")
        return self._shape(op, df.collect())

    @staticmethod
    def _shape(op: gen.Op, rows) -> list[tuple]:
        if op.shape == "groupby":
            n = len(op.key_cols) + 2
            return [tuple(_norm(x) for x in tuple(r)[:n]) for r in rows]
        return [tuple(_norm(x) for x in tuple(r)) for r in rows]

    def stored_ratio(self, ctx: Context, records: list[Record]) -> float:
        from datawave_spark.sources import prepared
        inp = sum(os.path.getsize(p) for p in ctx.tables.values())
        kept = _dir_bytes(prepared.prepared_path(ctx.data_dir,
                                                 "index_frame"))[1]
        return (inp + kept) / inp


class Ingest(Workload):
    """Live ingest: each op is one raw batch through the streaming
    ingest (AvailableNow one-shot) plus the incremental index append;
    after each batch one read-back query is timed on its own."""
    name = "ingest"
    burn_in_ops = 4               # two batches and their read-backs
    tables = ()
    INDEX_FIELDS = gen.INGEST_INDEX_FIELDS
    # batches stored_bytes_per_input_byte is taken over; a 10 s window
    # holds four to seven on a 4-core host
    STORED_BATCHES = 3

    def reset(self, ctx: Context) -> None:
        root = os.path.join(ctx.work, "store")
        shutil.rmtree(root, ignore_errors=True)
        dirs = {d: os.path.join(root, d)
                for d in ("stage", "input", "store", "ckpt", "index")}
        for d in ("stage", "input"):
            os.makedirs(dirs[d])
        ctx.state.update(dirs=dirs, batches=[], next_id=0)

    def setup(self, ctx: Context) -> None:
        # the store every window starts from: empty, in a fresh root
        self.reset(ctx)

    def ops(self, ctx: Context, seed: int):
        reads = gen.readback_ops(seed, ctx.pools)
        for i in itertools.count():
            yield gen.Op(kind="batch", family="batch", text=str(i))
            yield next(reads)

    @staticmethod
    def _raw_schema(raw):
        """The raw batch schema as the stream reads it: nanosecond
        timestamps arrive as epoch-nanos longs."""
        from pyspark.sql import types as T
        spark_type = {"int64": T.LongType(), "double": T.DoubleType(),
                      "string": T.StringType(), "timestamp[ns]": T.LongType()}
        return T.StructType([T.StructField(f.name, spark_type[str(f.type)])
                             for f in raw])

    def run(self, ctx: Context, op: gen.Op, op_id: int) -> list[Record]:
        if op.kind == "batch":
            return [self._batch(ctx, op, op_id)]
        return [self._readback(ctx, op, op_id)]

    def _batch(self, ctx: Context, op: gen.Op, op_id: int) -> Record:
        from datawave_spark.sources import ingest, maintenance, parquet
        from datawave_spark.streaming import ingest as streaming
        st, dirs = ctx.state, ctx.state["dirs"]
        i = len(st["batches"])
        # the raw batch is written outside the timed region and moved
        # into the watched directory whole, as a file-arrival feed does
        table = gen.ingest_batch(ctx.seed, ctx.pools, i, st["next_id"])
        name = f"batch-{i:05d}.parquet"
        staged = os.path.join(dirs["stage"], name)
        pq.write_table(table, staged)
        path = os.path.join(dirs["input"], name)
        os.rename(staged, path)
        st["next_id"] += table.num_rows
        st["batches"].append(path)
        rec = Record(op, events=table.num_rows,
                     raw_bytes=os.path.getsize(path))
        config = ingest.IngestConfig(
            datatype="perfbench", date_field="ts", uid_fields=["event_id"],
            tokenized_fields=["text"], num_shards=4)
        schema = self._raw_schema(table.schema)
        tr = ctx.tracer
        before = _dir_bytes(dirs["store"]), _dir_bytes(dirs["index"])
        t0 = time.perf_counter()
        try:
            with tr.op(op_id, "batch") as trace:
                with tr.span("streaming.trigger"):
                    q = streaming.stream_ingest(
                        ctx.spark, dirs["input"], schema,
                        config, dirs["store"], dirs["ckpt"],
                        pre=_decode_nanos)
                    tr.add_group(str(q.runId), "streaming.trigger")
                    q.awaitTermination()
                maintenance.append_index(
                    ctx.spark, dirs["index"],
                    parquet.read_parquet(ctx.spark, path),
                    self.INDEX_FIELDS, "event_id", date_col="ts")
            rec.seconds = time.perf_counter() - t0
        except Exception as exc:
            rec.seconds = time.perf_counter() - t0
            _fail(rec, exc)
            return rec
        # bookkeeping, after the timing stopped
        after = _dir_bytes(dirs["store"]), _dir_bytes(dirs["index"])
        rec.kept_bytes = sum(a[1] - b[1] for a, b in zip(after, before))
        if trace is not None:
            progress = q.recentProgress
            added = sum(p["durationMs"].get("addBatch", 0) for p in progress)
            tr.count("sources.ingest_ms", added, trace)
            tr.count("streaming.trigger_ms", -added, trace)
            tr.count("streaming.epochs", sum(
                1 for p in progress if p["numInputRows"]), trace)
            tr.count("sources.files_written", sum(
                a[0] - b[0] for a, b in zip(after, before)), trace)
            tr.count("sources.bytes_written", rec.kept_bytes, trace)
        return rec

    def _readback(self, ctx: Context, op: gen.Op, op_id: int) -> Record:
        from datawave_spark.sources import parquet
        rec = Record(op, role="read", upto=len(ctx.state["batches"]))
        t0 = time.perf_counter()
        try:
            with ctx.tracer.op(op_id, "readback"):
                ev = parquet.read_evolving(ctx.spark,
                                           ctx.state["dirs"]["store"])
                page = _first_page(ctx, _plan(ctx, ev, op))
            rec.seconds = time.perf_counter() - t0
            rec.out = _page_rows(op, page)
        except Exception as exc:
            rec.seconds = time.perf_counter() - t0
            _fail(rec, exc)
        return rec

    def check(self, ctx: Context, records: list[Record], duck) -> None:
        """Stored rows and distinct uids equal the events sent; the
        index holds one row per (field, event) with the sent value; each
        read-back page is right for the batches visible to it."""
        batches = [r for r in records if r.role == "op" and r.ok]
        files = ctx.state["batches"][:len(
            [r for r in records if r.role == "op"])]
        sent = sum(r.events for r in batches)
        err = ""
        try:
            store = ctx.spark.read.parquet(ctx.state["dirs"]["store"])
            n, uids = store.selectExpr(
                "count(*)", "count(DISTINCT uid)").first()
            if (n, uids) != (sent, sent):
                err = f"store holds {n} rows / {uids} uids, sent {sent}"
            elif files:
                got = ctx.spark.read.parquet(ctx.state["dirs"]["index"]) \
                    .select("field", "value", "uid").collect()
                flist = ", ".join(f"'{f}'" for f in files)
                want = duck.execute(" UNION ALL ".join(
                    f"SELECT '{f.upper()}', CAST({f} AS VARCHAR), "
                    f"CAST(event_id AS VARCHAR) FROM read_parquet([{flist}])"
                    for f in self.INDEX_FIELDS)).fetchall()
                if _digest([tuple(r) for r in got]) != _digest(want):
                    err = (f"index rows differ: {len(got)} stored, "
                           f"{len(want)} expected")
        except Exception as exc:
            err = repr(exc)
        if err:
            for r in batches:
                r.ok, r.error = False, err
        for rec in records:
            if rec.role != "read" or not rec.ok:
                continue
            try:
                if rec.upto == 0:
                    expected = []
                else:
                    flist = ", ".join(
                        f"'{f}'" for f in ctx.state["batches"][:rec.upto])
                    duck.execute("CREATE OR REPLACE TEMP VIEW events AS "
                                 f"SELECT * FROM read_parquet([{flist}])")
                    expected = [tuple(_norm(x) for x in r) for r in
                                duck.execute(rec.op.sql).fetchall()]
                rec.error = check_page(rec.op, rec.out, expected)
            except Exception as exc:
                _fail(rec, exc)
            rec.ok = not rec.error

    def stored_ratio(self, ctx: Context, records: list[Record]) -> float:
        """Over the window's first ``STORED_BATCHES`` batches, which are
        the same batches on any host for a given seed, so the figure does
        not follow how many batches fit in the window.  The store and
        the index are append-only, so what a batch adds does not depend
        on the batches before it."""
        batches = [r for r in records if r.role == "op"][:self.STORED_BATCHES]
        return (sum(r.kept_bytes for r in batches)
                / sum(r.raw_bytes for r in batches))


def _decode_nanos(raw):
    """Raw batches carry TIMESTAMP(NANOS), which the stream reads as
    epoch-nanos longs; rebuild the timestamp as read_parquet does."""
    from pyspark.sql import functions as F
    return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))


WORKLOADS = {w.name: w for w in (Interactive(), Analytic(), Ingest())}
