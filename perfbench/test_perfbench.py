"""Tests of the benchmark itself: seeded inputs, parseable queries, and
queries that agree with the SQL emitted beside them.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import itertools
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import workloads  # noqa: E402


def _files_digest(root: str) -> dict[str, str]:
    return {n: hashlib.sha256(open(os.path.join(root, n), "rb").read())
            .hexdigest() for n in sorted(os.listdir(root))}


def _ops(seed: int, n: int = 60) -> list[gen.Op]:
    pools = gen.Pools.make()
    return (list(itertools.islice(gen.interactive_ops(seed, pools), n))
            + list(itertools.islice(gen.analytic_ops(seed, pools), n))
            + list(itertools.islice(gen.readback_ops(seed, pools), n)))


def _batch_bytes(seed: int, tmp_path, tag: str) -> bytes:
    import pyarrow.parquet as pq
    path = tmp_path / f"{tag}.parquet"
    pq.write_table(gen.ingest_batch(seed, gen.Pools.make(), 3, 500), path)
    return path.read_bytes()


def test_same_seed_same_inputs(tmp_path):
    assert _ops(7) == _ops(7)
    assert _batch_bytes(7, tmp_path, "x") == _batch_bytes(7, tmp_path, "y")


def test_other_seed_other_inputs(tmp_path):
    assert [o.text for o in _ops(7)] != [o.text for o in _ops(8)]
    assert _batch_bytes(7, tmp_path, "x") != _batch_bytes(8, tmp_path, "y")


def test_seed_draws_values_not_shapes():
    """Every seed asks the same templates in the same order; only the
    literals differ."""
    def shapes(ops):
        return [(o.kind, o.family, o.syntax, o.shape, o.key_cols)
                for o in ops]
    assert shapes(_ops(7)) == shapes(_ops(8))


def test_dataset_is_fixed_and_byte_identical(tmp_path):
    """The read-only tables are one dataset, written byte-identically."""
    for tag in ("a", "b"):
        gen.write_tables(str(tmp_path / tag), gen.Pools.make())
    assert _files_digest(str(tmp_path / "a")) == \
        _files_digest(str(tmp_path / "b"))


def test_op_mix_per_cycle():
    pools = gen.Pools.make(3)
    inter = list(itertools.islice(gen.interactive_ops(3, pools), 20))
    assert sum(o.syntax == "LUCENE" for o in inter) == 8
    # one option per ten queries, #UNIQUE and #GROUPBY in turn
    assert [o.shape for o in inter if o.shape != "rows"] == ["unique",
                                                             "groupby"]
    ana = list(itertools.islice(gen.analytic_ops(3, pools), 10))
    assert sum(o.kind == "index_query" for o in ana) == 3
    assert sum(o.kind == "dedup_pairs" for o in ana) == 2
    assert sum(o.kind == "lineitem_unique" for o in ana) == 2
    assert sum(o.check for o in ana) == 2
    # each cycle holds every family at exactly its share of the mix
    for workload, ops in (("interactive", inter), ("analytic", ana)):
        assert {f: sum(o.family == f for o in ops) / len(ops)
                for f in gen.MIX[workload]} == gen.MIX[workload]


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_every_query_parses(seed):
    from datawave_spark.jexl.parser import parse
    from datawave_spark.lucene.parser import parse_lucene
    n_terms = []
    for op in _ops(seed, 200):
        if op.kind == "dedup_pairs":
            continue
        node = parse_lucene(op.text) if op.syntax == "LUCENE" \
            else parse(op.text)
        assert node is not None
        n_terms.append(op.text.count("==") + op.text.count("=~")
                       + op.text.count(":"))
    assert max(n_terms) >= 16


@pytest.fixture(scope="module")
def small(tmp_path_factory):
    """sf0.001-sized tables (1k events, 6k lineitem, 200 vectors) and a
    session with its prepared assets in a private directory."""
    import pyarrow.parquet as pq
    from datawave_spark.session import get_spark
    from datawave_spark.sources import prepared
    root = tmp_path_factory.mktemp("perfbench")
    seed, pools = 5, gen.Pools.make()
    data = root / "data"
    data.mkdir()
    tables = {}
    for name, table in (
            ("events", gen.events_table(seed, pools, n=1000)),
            ("lineitem", gen.lineitem_table(seed, n=6000)),
            ("embeddings", gen.embeddings_table(seed, n=200))):
        tables[name] = str(data / f"{name}.parquet")
        pq.write_table(table, tables[name])
    mp = pytest.MonkeyPatch()
    mp.setattr(prepared, "PREPARED_ROOT", str(root / "prepared"))
    spark = get_spark("perfbench-test")
    ctx = workloads.Context(spark, seed, pools, tables, str(data),
                            str(root), __import__("tracing").NullTracer())
    import duckdb
    duck = duckdb.connect()
    for name, path in tables.items():
        duck.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
    yield ctx, duck
    duck.close()
    mp.undo()


def test_interactive_queries_agree_with_sql(small):
    """Every generated query's full answer equals its SQL's."""
    ctx, duck = small
    wl = workloads.Interactive()
    wl.setup(ctx)
    for op in itertools.islice(gen.interactive_ops(5, ctx.pools), 40):
        df = workloads._plan(ctx, workloads._read_table(ctx, "events"), op,
                             stats=ctx.state["stats"]).df
        got = workloads._page_rows(op, df.collect())
        want = [tuple(workloads._norm(x) for x in r)
                for r in duck.execute(op.sql).fetchall()]
        assert sorted(got) == sorted(want), op.text


def test_analytic_jobs_agree_with_sql(small):
    ctx, duck = small
    wl = workloads.Analytic()
    wl.setup(ctx)
    for op in itertools.islice(gen.analytic_ops(5, ctx.pools), 20):
        got = wl._result_rows(ctx, op)
        want = wl._shape(op, duck.execute(op.sql).fetchall())
        assert workloads._digest(got) == workloads._digest(want), op.text


def test_check_page_rules():
    op = gen.Op(kind="jexl", key_cols=["event_id"])
    want = [(i,) for i in range(150)]
    assert workloads.check_page(op, want[:100], want) == ""
    assert "duplicate" in workloads.check_page(op, [(1,), (1,)], want)
    assert "do not satisfy" in workloads.check_page(op, [(999,)], want)
    assert "expected 100" in workloads.check_page(op, want[:99], want)


def test_window_reports_every_end_to_end_metric():
    """run.py prints the end-to-end metrics BENCHMARK.json names (set-up
    is timed apart from the window)."""
    import run
    op = gen.Op(kind="jexl", family="query")
    records = [workloads.Record(op, seconds=s) for s in (0.2, 0.3, 0.4)]
    wl = workloads.Interactive()
    wl.stored_ratio = lambda ctx, recs: 1.0
    m = run._window_metrics({"query": 1.0}, wl, None, records, 1.0)
    assert set(run._metric_units()["end_to_end"]) - {"setup_s"} <= set(m)


def test_ingest_stored_ratio_is_over_the_first_batches():
    """The ratio does not follow how many batches fit in the window."""
    batch = gen.Op(kind="batch", family="batch")
    read = gen.Op(kind="readback", family="readback")
    wl = workloads.Ingest()
    first = [workloads.Record(batch, raw_bytes=100, kept_bytes=200)
             for _ in range(wl.STORED_BATCHES)]
    later = [workloads.Record(read, role="read"),
             workloads.Record(batch, raw_bytes=100, kept_bytes=900)]
    assert wl.stored_ratio(None, first) == 2.0
    assert wl.stored_ratio(None, first + later) == 2.0
