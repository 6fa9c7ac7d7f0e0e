"""Chaos/reliability tests for the iterative + checkpointed paths —
the engine's analog of the reference's interrupt-resilience test
discipline (IvaratorInterruptTest, RebuildingScannerTestHelper: kill a
scan mid-flight, assert the retry converges to the same answer).

Three families (round-7 directive):
- reliable-checkpoint equivalence: ``reliable=True`` (HDFS-style
  checkpoint dir — the 100 TB discipline) must produce bit-identical
  results to the localCheckpoint default for pagerank / connected
  components / distributed BPE;
- mid-run crash + retry: a failure in the middle of an iteration
  (injected at the checkpoint seam) followed by a from-scratch retry
  must converge to the clean answer, including when the crashed run's
  leftover reliable-checkpoint files are still on disk;
- push delivery crash between the feed append and the ledger append:
  the retried epoch re-pushes that batch's rows (documented
  at-least-once bias — duplicates over losses) and the ledger stays
  exactly-once;
- the session-scoped helpers (``util.persist_scoped``,
  ``util.shuffle_width``) release what they hold: evicted cache slots,
  and the session shuffle width on a raise.
"""

import os

import pytest
from pyspark.sql import functions as F

from datawave_spark.operators import components as comp_mod
from datawave_spark.operators import text as text_mod
from datawave_spark.operators.components import (
    connected_components, pagerank)
from datawave_spark.operators.text import bpe_train
from datawave_spark.util import persist_scoped, shuffle_width


@pytest.fixture()
def edges(spark):
    # deterministic directed graph: 30 nodes, ring + chords + a dangling
    rows = [(i, (i + 1) % 30) for i in range(30)] \
        + [(i, (i * 7) % 30) for i in range(0, 30, 3)] \
        + [(99, 0)]                      # 99 has no in-links: dangling tail
    return spark.createDataFrame(rows, "src long, dst long")


@pytest.fixture()
def pair_frame(spark):
    rows = [(i, i + 1) for i in range(0, 40, 2)] \
        + [(1, 3), (5, 7), (20, 22)]
    return spark.createDataFrame(rows, "id_a long, id_b long")


def _ranks(df):
    return {r.node: round(r.rank, 9) for r in df.collect()}


def _ckpt(spark, tmp_path, name):
    d = str(tmp_path / name)
    spark.sparkContext.setCheckpointDir(d)
    return d


class TestReliableCheckpointEquivalence:
    def test_pagerank_reliable_matches_local(self, spark, edges, tmp_path):
        base = _ranks(pagerank(edges, iters=6))
        _ckpt(spark, tmp_path, "pr")
        rel = _ranks(pagerank(edges, iters=6, reliable=True))
        assert rel == base

    def test_components_reliable_matches_local(self, spark, pair_frame,
                                               tmp_path):
        # driver_threshold=0 forces the distributed label-propagation
        # path — the only one that iterates/checkpoints
        base = {(r.id, r.component) for r in connected_components(
            pair_frame, driver_threshold=0).collect()}
        _ckpt(spark, tmp_path, "cc")
        rel = {(r.id, r.component) for r in connected_components(
            pair_frame, driver_threshold=0, reliable=True).collect()}
        assert rel == base
        # cross-check against the driver union-find cutover too
        drv = {(r.id, r.component) for r in connected_components(
            pair_frame).collect()}
        assert rel == drv

    def test_bpe_reliable_matches_local(self, spark, tmp_path):
        docs = spark.createDataFrame(
            [("low low lower lowest newer new news",),
             ("wider wide widest new newer",),
             ("low newer wider news news",)], "body string")
        base = sorted(tuple(r) for r in bpe_train(
            docs, "body", n_merges=5, driver_threshold=0).collect())
        _ckpt(spark, tmp_path, "bpe")
        rel = sorted(tuple(r) for r in bpe_train(
            docs, "body", n_merges=5, driver_threshold=0,
            reliable=True).collect())
        assert rel == base


class _CrashAt:
    """Wrap iter_checkpoint to raise on the Nth call — the injection
    seam every iterative round passes through (the executor-loss /
    task-retry-exhausted analog visible to driver code)."""

    def __init__(self, real, n):
        self.real, self.n, self.calls = real, n, 0

    def __call__(self, df, reliable=False):
        self.calls += 1
        if self.calls == self.n:
            raise RuntimeError("injected mid-iteration crash")
        return self.real(df, reliable)


class TestMidRunCrashRetry:
    def test_pagerank_crash_then_retry_converges(self, spark, edges,
                                                 tmp_path, monkeypatch):
        clean = _ranks(pagerank(edges, iters=6))
        _ckpt(spark, tmp_path, "prc")
        width = spark.conf.get("spark.sql.shuffle.partitions")
        crash = _CrashAt(comp_mod.iter_checkpoint, 4)
        monkeypatch.setattr(comp_mod, "iter_checkpoint", crash)
        with pytest.raises(RuntimeError, match="injected"):
            pagerank(edges, iters=6, reliable=True)
        assert crash.calls == 4          # it really died mid-iteration
        # the graph-sized width scope is released on the failure path
        assert spark.conf.get("spark.sql.shuffle.partitions") == width
        monkeypatch.undo()
        # leftover checkpoint files from the dead run are still in the
        # dir — the retry must not read them
        retry = _ranks(pagerank(edges, iters=6, reliable=True))
        assert retry == clean

    def test_components_crash_then_retry_converges(self, spark, pair_frame,
                                                   tmp_path, monkeypatch):
        clean = {(r.id, r.component) for r in connected_components(
            pair_frame, driver_threshold=0).collect()}
        _ckpt(spark, tmp_path, "ccc")
        crash = _CrashAt(comp_mod.iter_checkpoint, 3)
        monkeypatch.setattr(comp_mod, "iter_checkpoint", crash)
        with pytest.raises(RuntimeError, match="injected"):
            connected_components(pair_frame, driver_threshold=0,
                                 reliable=True)
        monkeypatch.undo()
        retry = {(r.id, r.component) for r in connected_components(
            pair_frame, driver_threshold=0, reliable=True).collect()}
        assert retry == clean

    def test_bpe_crash_then_retry_converges(self, spark, tmp_path,
                                            monkeypatch):
        docs = spark.createDataFrame(
            [("aa ab aa ab ba bb aa",), ("ab ba bb aa aa",)], "body string")
        clean = sorted(tuple(r) for r in bpe_train(
            docs, "body", n_merges=4, driver_threshold=0).collect())
        _ckpt(spark, tmp_path, "bpec")
        crash = _CrashAt(text_mod.iter_checkpoint, 3)
        monkeypatch.setattr(text_mod, "iter_checkpoint", crash)
        with pytest.raises(RuntimeError, match="injected"):
            bpe_train(docs, "body", n_merges=4, driver_threshold=0,
                      reliable=True)
        monkeypatch.undo()
        retry = sorted(tuple(r) for r in bpe_train(
            docs, "body", n_merges=4, driver_threshold=0,
            reliable=True).collect())
        assert retry == clean


class TestPushCrashAtLeastOnce:
    def test_crash_between_feed_and_ledger_redelivers_that_batch(
            self, spark, tmp_path):
        """Kill the pipeline AFTER the feed append but BEFORE the
        ledger append (the sink hook fires exactly between the two);
        on restart the epoch retries: its rows land in the feed a
        second time (at-least-once — the documented failure bias:
        duplicates over losses), every key still reaches the ledger
        exactly once, and later batches deliver exactly once."""
        from datawave_spark.streaming.push import (
            read_feed, standing_query_push)
        src = str(tmp_path / "src")
        for name, data in {"f1": [(1, 10.0), (2, 20.0)],
                           "f2": [(3, 30.0)]}.items():
            spark.createDataFrame(data, "k long, v double") \
                .coalesce(1).write.mode("overwrite") \
                .parquet(os.path.join(src, name + ".parquet"))
        feed = str(tmp_path / "feed")
        ledger = str(tmp_path / "ledger")
        ckpt = str(tmp_path / "ckpt")
        sch = spark.read.parquet(os.path.join(src, "f1.parquet")).schema
        opts = {"maxFilesPerTrigger": "1", "recursiveFileLookup": "true"}

        def boom(df, epoch):
            raise RuntimeError("crash between feed and ledger")

        q = standing_query_push(spark, src, sch, lambda b: b, ["k"],
                                feed, ledger, ckpt, options=opts, sink=boom)
        with pytest.raises(Exception, match="crash between feed"):
            q.awaitTermination()
        # feed got epoch 0's rows; ledger did not
        assert sorted(r.k for r in read_feed(spark, feed).collect()) == [1, 2]
        assert not os.path.exists(os.path.join(ledger, "_SUCCESS"))

        # restart from the SAME checkpoint, healthy sink
        delivered = []
        q2 = standing_query_push(
            spark, src, sch, lambda b: b, ["k"], feed, ledger, ckpt,
            options=opts,
            sink=lambda df, e: delivered.append(
                sorted(r.k for r in df.collect())))
        q2.awaitTermination()
        feed_keys = sorted(r.k for r in read_feed(spark, feed).collect())
        # epoch 0 duplicated in the feed (at-least-once), epoch 1 once
        assert feed_keys == [1, 1, 2, 2, 3]
        # ledger is exactly-once per key
        ledger_keys = sorted(
            r.k for r in spark.read.parquet(ledger).collect())
        assert ledger_keys == [1, 2, 3]
        # the retried epoch re-pushed through the live hook as well
        assert delivered == [[1, 2], [3]]

        # a third run delivers nothing new: the ledger now dedups
        q3 = standing_query_push(
            spark, src, sch, lambda b: b, ["k"], feed, ledger,
            str(tmp_path / "ckpt3"), options=opts)
        q3.awaitTermination()
        assert sorted(r.k for r in
                      read_feed(spark, feed).collect()) == feed_keys


def _cached(df):
    lvl = df.storageLevel                # asks the session CacheManager
    return lvl.useMemory or lvl.useDisk


class TestPersistScoped:
    @pytest.mark.parametrize("keep", [1, 2])
    def test_fifo_evicts_different_plan_keeps_same_plan(self, spark, keep):
        from datawave_spark import util
        key = f"test.persist_scoped.keep{keep}"

        def frame(i):
            return spark.range(5).select(
                (F.col("id") + F.lit(1000 * keep + i)).alias("v"))

        try:
            slots = [persist_scoped(frame(i), key, keep=keep)
                     for i in range(keep)]
            assert all(_cached(f) for f in slots)
            # one more slot than `keep`: the oldest (a different plan)
            # is unpersisted, the survivors stay cached
            newest = persist_scoped(frame(keep), key, keep=keep)
            assert not _cached(slots[0])
            assert all(_cached(f) for f in slots[1:] + [newest])
            # a rebuild of the slot about to be evicted has the same
            # plan: evicting the old frame must not uncache the rebuild
            rebuilt = persist_scoped(frame(1), key, keep=keep)
            assert _cached(rebuilt)
            assert rebuilt.collect() == frame(1).collect()
        finally:
            for f in util._PERSIST_SLOTS.pop(key, []):
                f.unpersist()


class TestShuffleWidth:
    def test_conf_restored_when_body_raises(self, spark):
        before = spark.conf.get("spark.sql.shuffle.partitions")
        n = "3" if before != "3" else "2"
        with pytest.raises(RuntimeError, match="body failed"):
            with shuffle_width(spark, int(n)):
                assert spark.conf.get("spark.sql.shuffle.partitions") == n
                raise RuntimeError("body failed")
        assert spark.conf.get("spark.sql.shuffle.partitions") == before

    def test_stream_keeps_width_fixed_at_start(self, spark, tmp_path):
        """A streaming query fixes its conf at start(): a stateful
        stream started inside the scope runs its state stores at the
        narrowed width after the session width is restored."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        src = tmp_path / "src"
        src.mkdir()
        pq.write_table(pa.table({"k": [1, 2, 1, 3]}),
                       str(src / "part-0.parquet"))
        before = spark.conf.get("spark.sql.shuffle.partitions")
        n = 3 if before != "3" else 2
        agg = (spark.readStream.schema("k long").parquet(str(src))
               .groupBy("k").count())
        with shuffle_width(spark, n):
            q = (agg.writeStream.format("memory")
                 .queryName("test_shuffle_width_stream")
                 .outputMode("complete").trigger(availableNow=True)
                 .start())
        assert spark.conf.get("spark.sql.shuffle.partitions") == before
        q.awaitTermination()
        states = [op for p in q.recentProgress
                  for op in p["stateOperators"]]
        assert states and {op["numShufflePartitions"]
                           for op in states} == {n}
        got = {(r.k, r["count"]) for r in
               spark.table("test_shuffle_width_stream").collect()}
        assert got == {(1, 2), (2, 1), (3, 1)}
