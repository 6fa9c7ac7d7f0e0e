"""Small engine utilities: parallelism spreading, skew-salted joins,
bucketed table helpers, the scoped shuffle width and the scoped
persist registry."""

from __future__ import annotations

import threading
from contextlib import contextmanager

from pyspark.sql import DataFrame, functions as F


# spread() sizing: ~8 MB of (estimated, compressed) input per task.
# Parquet bytes understate the decoded/CPU cost of the downstream
# Python/codegen stage by ~4-10x, so 8 MB of input is several hundred
# ms of vectorized work — enough to amortize a Python worker spin-up
# many times over — while a kilobyte-sized frame stops fanning into
# defaultParallelism tasks (32 workers for one Arrow batch of work was
# the measured r11 anti-scaling cost on the multimodal/sketch keys).
_SPREAD_BYTES_PER_PART = 8 << 20
_SPREAD_MIN_PARTS = 4


def spread(df: DataFrame, min_partitions: int | None = None,
           sized: bool = False) -> DataFrame:
    """Ensure enough partitions for CPU-bound per-row stages
    (tokenization, hashing, codec work), up to the cluster default
    parallelism.  ``min_partitions`` overrides the target outright.

    ``sized=True`` additionally scales the target DOWN to the
    estimated input size (~``_SPREAD_BYTES_PER_PART`` per task, floor
    ``_SPREAD_MIN_PARTS``) so tiny inputs stop paying one task + one
    Python worker per core.  This is OPT-IN per call site because the
    right granularity depends on the downstream stage's CPU cost per
    input byte, which only the call site knows: the sketch md5 passes
    and the multimodal codecs (hundreds of small payload rows — task
    overhead dominated) measure faster sized, while regex/WKT/date
    parse chains over row-per-event frames measure faster at full
    width even on kilobyte inputs (r12 A/B: geowave 1.2×, max/min
    1.25×, document pairing ~2× slower when sized).

    Locally a small parquet table arrives as ONE input split, which
    serializes regex/md5 work onto one core; on a real cluster a table
    under ``maxPartitionBytes`` does the same.  The repartition shuffles
    only the raw input once and is a no-op (returns df unchanged) when
    the scan is already wide — so at 100 TB, where scans come in with
    ~100k splits, this never shrinks parallelism.
    """
    spark = df.sparkSession
    cap = min_partitions or spark.sparkContext.defaultParallelism
    target = cap
    if sized and min_partitions is None and cap > _SPREAD_MIN_PARTS:
        # size-only estimate off the optimized logical plan — no job,
        # no physical planning; unknown-size plans (LogicalRDD etc.)
        # report defaultSizeInBytes (huge) and keep the full cap
        try:
            est = int(df._jdf.queryExecution().optimizedPlan()
                      .stats().sizeInBytes())
        except Exception:
            est = -1
        if est > 0:
            target = max(_SPREAD_MIN_PARTS,
                         min(cap, -(-est // _SPREAD_BYTES_PER_PART)))
    if _num_partitions(df) >= target:
        return df
    return df.repartition(target)


def _num_partitions(df: DataFrame) -> int:
    """Physical partition count without building the Python RDD
    wrapper (``df.rdd`` additionally sets up a JVM→Python serializer
    pipeline per call; the planning cost is the same either way)."""
    try:
        return df._jdf.queryExecution().toRdd().getNumPartitions()
    except Exception:
        return df.rdd.getNumPartitions()


def local_frame(spark, rows, schema: str):
    """Driver-local DataFrame via the Arrow path.

    ``createDataFrame(list_of_tuples)`` parallelizes PICKLED rows into
    ``defaultParallelism`` slices, and every downstream action then
    launches one Python worker per slice just to deserialize them —
    measured seconds of pure worker spin-up on a 2000-row selector
    frame at local[32].  Routing the same rows through pandas + Arrow
    ships columnar batches that deserialize JVM-side: no Python
    workers at execution, identical rows.  Falls back to the classic
    path on any conversion error (exotic cell types).  ``rows`` may be
    any iterable: it is materialized once, so the fallback still sees
    every row of a generator the Arrow attempt already drained."""
    rows = list(rows)
    try:
        import pandas as pd
        from pyspark.sql.types import _parse_datatype_string
        st = _parse_datatype_string(schema)
        pdf = pd.DataFrame(rows, columns=st.fieldNames())
        return spark.createDataFrame(pdf, schema=st)
    except Exception:
        return spark.createDataFrame(rows, schema)


def salted_join(fact: DataFrame, dim: DataFrame, key: str,
                salt: int = 8, how: str = "inner") -> DataFrame:
    """Skew-resistant equi-join: salt the fact side's key with a random
    bucket and replicate the (small) dim side across all salt values.

    Use when one key dominates (AQE's skew-join split handles moderate
    skew automatically; salting is the explicit fix when a single key
    exceeds what one task can hold).  The dim side is replicated
    ``salt``× — keep it the smaller input.
    """
    salted_fact = fact.withColumn(
        "__salt", (F.rand(seed=42) * salt).cast("int"))
    salts = dim.sparkSession.range(salt).select(
        F.col("id").cast("int").alias("__salt"))
    salted_dim = dim.crossJoin(F.broadcast(salts))
    out = salted_fact.join(salted_dim, [key, "__salt"], how)
    return out.drop("__salt")


def write_bucketed(df: DataFrame, table: str, key: str, buckets: int = 32,
                   sort_by: str | None = None, mode: str = "overwrite") -> None:
    """Persist hash-bucketed by ``key`` (saveAsTable — bucket metadata
    needs the catalog): later equi-joins/aggregations on ``key`` between
    tables bucketed the same way run WITHOUT a shuffle.  This is the
    co-located-join analog of the reference's uid-hash shard bucketing
    (BalancedShardPartitioner)."""
    w = df.write.mode(mode).bucketBy(buckets, key)
    if sort_by:
        w = w.sortBy(sort_by)
    w.saveAsTable(table)


def z_value(cols: list, bits: int = 16) -> "Column":
    """Morton/Z-order interleave of N pre-normalized integer columns
    (each in [0, 2^bits)): bit b of column i lands at position
    b·N + i.  Pure shift/or chain — whole-stage-codegen, no UDF.
    The geohash column is the hand-rolled 2-d special case of this;
    ``z_order_write`` is the general multi-column clustering."""
    from pyspark.sql import functions as F
    out = F.lit(0).cast("long")
    n = len(cols)
    for b in range(bits):
        for i, c in enumerate(cols):
            bit = F.shiftright(c.cast("long"), b).bitwiseAND(F.lit(1))
            out = out.bitwiseOR(F.shiftleft(bit, b * n + i))
    return out


def z_order_write(df: DataFrame, path: str, cols: list[str],
                  bits: int = 16, num_parts: int = 8) -> None:
    """Write ``df`` Z-ORDER clustered on ``cols`` (Delta's OPTIMIZE
    ZORDER BY analog, dependency-free): each column min/max-normalizes
    to ``bits`` bits (one bounded agg), rows cluster by the interleaved
    Morton value (repartitionByRange + sort), and the z column is
    dropped before writing.  Effect: parquet row-group min/max stats
    stay selective on EVERY listed column simultaneously — a filter on
    any of them row-group-skips, where a linear sort only serves its
    leading column.  The multi-dimensional pruning story for tables
    queried by more than one axis (e.g. (value, ts), (user, date))."""
    from pyspark.sql import functions as F
    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"__mn_{c}"), F.max(c).alias(f"__mx_{c}")]
    r = df.agg(*aggs).collect()[0]
    scale = (1 << bits) - 1
    norm = []
    for c in cols:
        mn, mx = float(r[f"__mn_{c}"]), float(r[f"__mx_{c}"])
        span = (mx - mn) or 1.0
        norm.append(F.least(
            F.lit(scale),
            F.floor((F.col(c).cast("double") - mn) / span * scale)
            .cast("long")))
    zed = df.withColumn("__z", z_value(norm, bits))
    (zed.repartitionByRange(num_parts, "__z")
        .sortWithinPartitions("__z").drop("__z")
        .write.mode("overwrite").parquet(path))


def iter_checkpoint(df: "DataFrame", reliable: bool = False) -> "DataFrame":
    """Eager lineage truncation for iterative algorithms (pagerank,
    connected components, BPE training): per-round plans reference the
    prior state several times, so without truncation Catalyst
    re-analyzes a logical tree growing exponentially with rounds.

    ``reliable=False`` (default) uses ``localCheckpoint`` — blocks
    live on executors, zero external storage, right for local mode and
    short cluster jobs.  On a LONG multi-executor run an executor loss
    would kill a local checkpoint mid-iteration; pass
    ``reliable=True`` (requires ``spark.sparkContext.
    setCheckpointDir(...)`` on cluster storage) to write rounds to the
    reliable checkpoint dir instead — the standard GraphFrames/GraphX
    discipline at 100 TB."""
    if reliable:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def graph_partitions(n_rows: int, current: int,
                     rows_per_partition: int = 50_000) -> int:
    """Partition count for graph-iteration frames (connected
    components, pagerank): per-round cost on a small graph is pure
    stage overhead at full shuffle width, so size rounds to the data —
    ~50k rows per partition, clamped to the incoming width so large
    graphs keep full parallelism."""
    return max(1, min(current, n_rows // rows_per_partition + 1))


@contextmanager
def shuffle_width(spark, n: int):
    """Scope ``spark.sql.shuffle.partitions`` to ``n`` for the body and
    restore the previous value on exit, also when the body raises.

    The conf is session-wide: for as long as the body runs, every other
    query planned on the same session (other threads included) plans
    its shuffles at ``n`` too.  Keep the body to what needs the width —
    eager work that materializes inside the scope (pagerank's
    checkpointed rounds), or a streaming query's ``start()``, which
    fixes the query's conf (and a stateful query's state-store
    partition count) at start, so ``awaitTermination()`` belongs
    outside the scope."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


# Lineage-barrier caches, scoped per operator key: each call through
# persist_scoped takes a slot in the key's bounded FIFO and unpersists
# the OLDEST slot once more than ``keep`` are taken, so repeated
# invocations (bench loops, incremental runs) hold at most ``keep``
# cached frames per operator instead of accumulating them for the
# session lifetime.  The registry is lock-guarded so concurrent callers
# cannot interleave append/evict and strand an unowned persisted frame;
# under true concurrency an evicted frame may still be read by another
# caller's job — Spark then recomputes those partitions (correct, just
# uncached), so concurrent same-operator runs lose the cache benefit,
# never correctness.
_PERSIST_SLOTS: dict[str, list] = {}
_PERSIST_LOCK = threading.Lock()


def persist_scoped(df: DataFrame, key: str, keep: int = 1) -> DataFrame:
    """``df.persist()``, registered in ``key``'s bounded FIFO of
    ``keep`` slots (see ``_PERSIST_SLOTS``).  Pass ``keep > 1`` for
    operators whose results are composed LAZILY (two short-circuit
    composites unioned before collect, two ssdeep joins materialized
    together): with one slot the second call would evict the first
    call's cache before the caller ever materializes it — recomputing
    exactly the work the persist exists to avoid.  The evicted slot is
    the oldest, which by then is materialized or abandoned; an evicted
    frame that is still referenced just recomputes, never breaks."""
    out = df.persist()
    evict = None
    with _PERSIST_LOCK:
        slots = _PERSIST_SLOTS.setdefault(key, [])
        slots.append(out)
        if len(slots) > keep:
            evict = slots.pop(0)
        keep_alive = list(slots)
    if evict is not None and evict is not out:
        # Spark uncaches by canonicalized-plan equality, and a REBUILD
        # of the same query yields a plan identical to the previous
        # build's — unpersisting the evicted frame would also uncache
        # every LIVE slot with that plan (the cache then silently
        # disappears on every same-session rebuild: bench repeats,
        # test-suite order).  Only evict when no surviving slot shares
        # its plan.
        try:
            shared = any(evict.sameSemantics(s) for s in keep_alive)
        except Exception:
            shared = False          # cross-session compare may fail
        if not shared:
            try:
                evict.unpersist(blocking=False)
            except Exception:
                pass                # session of evict may be stopped
    return out
