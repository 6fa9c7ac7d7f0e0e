"""Push-mode delivery (streaming.push — the Atom/websocket analog):
multi-batch delivery order, exactly-once-per-key across batches, and
restart behavior with a retained checkpoint."""

import os

import pytest
from pyspark.sql import functions as F

from datawave_spark.streaming.push import read_feed, standing_query_push


@pytest.fixture()
def three_file_source(spark, tmp_path):
    """Three parquet files landing as separate micro-batches
    (maxFilesPerTrigger=1), with key overlap between files 1 and 2 —
    the re-qualifying-row case push delivery must dedup."""
    src = str(tmp_path / "src")
    rows = {
        "f1": [(1, "click", 100.0), (2, "click", 200.0), (3, "view", 50.0)],
        "f2": [(2, "click", 200.0), (4, "click", 300.0)],   # 2 repeats
        "f3": [(5, "click", 400.0), (1, "view", 10.0)],     # 1 re-arrives, non-matching
    }
    for name, data in rows.items():
        spark.createDataFrame(data, "event_id long, event_type string, value double") \
            .coalesce(1).write.mode("overwrite") \
            .parquet(os.path.join(src, name + ".parquet"))
    return src


def _run(spark, src, tmp_path, tag):
    feed = str(tmp_path / f"feed_{tag}")
    ledger = str(tmp_path / f"ledger_{tag}")
    ckpt = str(tmp_path / f"ckpt_{tag}")
    sch = spark.read.parquet(os.path.join(src, "f1.parquet")).schema
    pushed = []

    def sock(df, epoch):
        pushed.append((epoch, sorted(r.event_id for r in df.collect())))

    def standing(batch):
        return batch.filter(F.col("event_type") == "click") \
            .select("event_id", "value")

    q = standing_query_push(
        spark, src, sch, standing, ["event_id"], feed, ledger, ckpt,
        options={"maxFilesPerTrigger": "1",
                 "recursiveFileLookup": "true"},
        sink=sock)
    q.awaitTermination()
    return feed, ledger, ckpt, pushed


class TestPushDelivery:
    def test_each_key_delivered_exactly_once(self, spark,
                                             three_file_source, tmp_path):
        feed, _, _, _ = _run(spark, three_file_source, tmp_path, "once")
        rows = read_feed(spark, feed).collect()
        ids = sorted(r.event_id for r in rows)
        # event 2 qualifies in two batches, delivered once; event 1's
        # second arrival is non-matching and must not appear twice
        assert ids == [1, 2, 4, 5]
        assert len(ids) == len(set(ids))

    def test_delivery_order_follows_arrival_epochs(self, spark,
                                                   three_file_source,
                                                   tmp_path):
        feed, _, _, pushed = _run(spark, three_file_source, tmp_path, "ord")
        rows = read_feed(spark, feed).collect()
        by_key = {r.event_id: r.delivered_epoch for r in rows}
        # a key is stamped with the FIRST epoch in which it qualified
        # (files land one per trigger, in arrival order)
        assert by_key == {1: 0, 2: 0, 4: 1, 5: 2}
        # the websocket hook saw the same exactly-once stream, in order
        # (epoch 1's repeat of key 2 is deduped before the hook fires)
        assert pushed == [(0, [1, 2]), (1, [4]), (2, [5])]

    def test_null_keyed_rows_delivered_exactly_once(self, spark, tmp_path):
        """A NULL result key must dedup across batches too: the
        anti-join uses a null-safe (<=>) condition, so a null-keyed row
        that re-qualifies in a later batch is not re-pushed."""
        src = str(tmp_path / "nsrc")
        rows = {
            "f1": [(None, "click", 1.0), (7, "click", 2.0)],
            "f2": [(None, "click", 1.0), (8, "click", 3.0)],  # null repeats
        }
        for name, data in rows.items():
            spark.createDataFrame(
                data, "event_id long, event_type string, value double") \
                .coalesce(1).write.mode("overwrite") \
                .parquet(os.path.join(src, name + ".parquet"))
        feed, ledger, ckpt = (str(tmp_path / d) for d in
                              ("nfeed", "nledger", "nckpt"))
        sch = spark.read.parquet(os.path.join(src, "f1.parquet")).schema

        def standing(batch):
            return batch.filter(F.col("event_type") == "click") \
                .select("event_id", "value")

        q = standing_query_push(
            spark, src, sch, standing, ["event_id"], feed, ledger, ckpt,
            options={"maxFilesPerTrigger": "1",
                     "recursiveFileLookup": "true"})
        q.awaitTermination()
        rows_out = read_feed(spark, feed).collect()
        ids = sorted((r.event_id if r.event_id is not None else -1)
                     for r in rows_out)
        assert ids == [-1, 7, 8]

    def test_restart_with_checkpoint_pushes_nothing_new(self, spark,
                                                        three_file_source,
                                                        tmp_path):
        feed, ledger, ckpt, _ = _run(spark, three_file_source,
                                     tmp_path, "re")
        before = read_feed(spark, feed).count()
        sch = spark.read.parquet(
            os.path.join(three_file_source, "f1.parquet")).schema

        def standing(batch):
            return batch.filter(F.col("event_type") == "click") \
                .select("event_id", "value")

        q = standing_query_push(
            spark, three_file_source, sch, standing, ["event_id"],
            feed, ledger, ckpt,
            options={"maxFilesPerTrigger": "1",
                     "recursiveFileLookup": "true"})
        q.awaitTermination()
        assert read_feed(spark, feed).count() == before


class TestLedgerCompaction:
    """streaming.ledger: compaction (dedup + target-size rewrite) and
    the Bloom sidecar fast path — delivery semantics must be IDENTICAL
    with and without a sidecar (false positives cost a join, false
    negatives are impossible for covered keys; tail keys are always
    anti-joined)."""

    def _push_once(self, spark, src, feed, ledger, ckpt):
        def standing(batch):
            return batch.filter(F.col("event_type") == "click") \
                .select("event_id", "value")

        first = sorted(os.listdir(src))[0]
        sch = spark.read.parquet(os.path.join(src, first)).schema
        q = standing_query_push(
            spark, src, sch, standing, ["event_id"], feed, ledger, ckpt,
            options={"maxFilesPerTrigger": "1",
                     "recursiveFileLookup": "true"})
        q.awaitTermination()

    def _write(self, spark, src, name, data):
        spark.createDataFrame(
            data, "event_id long, event_type string, value double") \
            .coalesce(1).write.mode("overwrite") \
            .parquet(os.path.join(src, name + ".parquet"))

    def test_compact_dedups_and_resizes(self, spark, tmp_path):
        from datawave_spark.streaming.ledger import compact_ledger
        src = str(tmp_path / "csrc")
        self._write(spark, src, "f1", [(1, "click", 1.0), (2, "click", 2.0)])
        self._write(spark, src, "f2", [(3, "click", 3.0)])
        feed, ledger, ckpt = (str(tmp_path / d) for d in
                              ("cfeed", "cledger", "cckpt"))
        self._push_once(spark, src, feed, ledger, ckpt)
        # simulate an at-least-once crash replay: key 3 appended twice
        spark.createDataFrame([(3,)], "event_id long") \
            .coalesce(1).write.mode("append").parquet(ledger)
        stats = compact_ledger(spark, ledger, ["event_id"])
        assert stats == {"files": 1, "keys": 3, "bloom_bits": None}
        got = sorted(r.event_id for r in spark.read.parquet(ledger).collect())
        assert got == [1, 2, 3]
        # delivery semantics survive: old keys stay deduped, new deliver
        self._write(spark, src, "f3", [(3, "click", 3.0), (9, "click", 9.0)])
        self._push_once(spark, src, feed, ledger, ckpt)
        ids = sorted(r.event_id for r in read_feed(spark, feed).collect())
        assert ids == [1, 2, 3, 9]

    def test_bloom_no_false_negatives_and_split(self, spark, tmp_path):
        from datawave_spark.streaming.ledger import (
            compact_ledger, load_bloom, split_by_bloom)
        ledger = str(tmp_path / "bledger")
        spark.createDataFrame([(i,) for i in range(200)],
                              "event_id long") \
            .write.mode("overwrite").parquet(ledger)
        stats = compact_ledger(spark, ledger, ["event_id"],
                               bloom_fpp=0.01)
        assert stats["keys"] == 200 and stats["bloom_bits"] is not None
        meta = load_bloom(ledger)
        assert meta is not None and meta["tail_files"] == []
        batch = spark.createDataFrame(
            [(i,) for i in range(150, 350)], "event_id long")
        maybe, fresh = split_by_bloom(spark, batch, meta)
        maybe_ids = {r.event_id for r in maybe.collect()}
        fresh_ids = {r.event_id for r in fresh.collect()}
        # no false negatives: every covered key is in `maybe`
        assert set(range(150, 200)) <= maybe_ids
        assert maybe_ids | fresh_ids == set(range(150, 350))
        assert maybe_ids & fresh_ids == set()
        # fpp sanity: most genuinely-new keys land in `fresh`
        assert len(fresh_ids) >= 100

    def test_bloom_fast_path_delivery_identical(self, spark, tmp_path):
        """End-to-end: deliver → compact(+bloom) → deliver a mix of
        base keys, tail keys and new keys across two more epochs — the
        feed must hold each key exactly once, same as the no-bloom
        path."""
        from datawave_spark.streaming.ledger import (
            compact_ledger, load_bloom)
        src = str(tmp_path / "bsrc")
        self._write(spark, src, "f1",
                    [(1, "click", 1.0), (2, "click", 2.0)])
        feed, ledger, ckpt = (str(tmp_path / d) for d in
                              ("bfeed", "bledger2", "bckpt"))
        self._push_once(spark, src, feed, ledger, ckpt)
        compact_ledger(spark, ledger, ["event_id"], bloom_fpp=0.01)
        # epoch 2: key 2 re-qualifies (in BASE), key 5 is new → TAIL
        self._write(spark, src, "f2",
                    [(2, "click", 2.0), (5, "click", 5.0)])
        self._push_once(spark, src, feed, ledger, ckpt)
        meta = load_bloom(ledger)
        assert meta is not None and len(meta["tail_files"]) >= 1
        # epoch 3: base key 1, tail key 5, new key 7
        self._write(spark, src, "f3", [(1, "click", 1.0),
                                       (5, "click", 5.0),
                                       (7, "click", 7.0)])
        self._push_once(spark, src, feed, ledger, ckpt)
        ids = sorted(r.event_id for r in read_feed(spark, feed).collect())
        assert ids == [1, 2, 5, 7]

    def test_bloomless_recompaction_invalidates_sidecar(self, spark,
                                                        tmp_path):
        from datawave_spark.streaming.ledger import (
            compact_ledger, load_bloom)
        ledger = str(tmp_path / "sledger")
        spark.createDataFrame([(1,), (2,)], "event_id long") \
            .write.mode("overwrite").parquet(ledger)
        compact_ledger(spark, ledger, ["event_id"], bloom_fpp=0.01)
        assert load_bloom(ledger) is not None
        compact_ledger(spark, ledger, ["event_id"])
        assert load_bloom(ledger) is None

    def test_lost_ledger_with_existing_feed_fails_loudly(self, spark,
                                                         tmp_path):
        """A missing ledger alongside an EXISTING feed is a lost ledger
        (or a delivery racing compact_ledger's swap window) — treating
        it as first-batch would silently re-deliver every key, so
        push_batch must raise instead (review r8)."""
        import shutil
        src = str(tmp_path / "lsrc")
        self._write(spark, src, "f1", [(1, "click", 1.0)])
        feed, ledger, ckpt = (str(tmp_path / d) for d in
                              ("lfeed", "lledger", "lckpt"))
        self._push_once(spark, src, feed, ledger, ckpt)
        shutil.rmtree(ledger)
        self._write(spark, src, "f2", [(1, "click", 1.0),
                                       (2, "click", 2.0)])
        from pyspark.sql.streaming import StreamingQueryException
        with pytest.raises(StreamingQueryException,
                           match="refusing to re-deliver"):
            self._push_once(spark, src, feed, ledger, ckpt)

    def test_failed_batch_releases_persisted_results(self, spark, tmp_path,
                                                     monkeypatch):
        """Failure injection: an error raised after ``results`` is
        persisted and materialized, but before the feed/ledger writes,
        must still unpersist it — no cached frame or persisted RDD
        survives the failed batch."""
        from pyspark.sql.streaming import StreamingQueryException
        from pyspark.storagelevel import StorageLevel
        from datawave_spark.streaming import ledger as _ledger
        src = str(tmp_path / "xsrc")
        self._write(spark, src, "f1", [(1, "click", 1.0)])
        feed, ledger, ckpt = (str(tmp_path / d) for d in
                              ("xfeed", "xledger", "xckpt"))
        self._push_once(spark, src, feed, ledger, ckpt)
        _ledger.compact_ledger(spark, ledger, ["event_id"], bloom_fpp=0.01)
        self._write(spark, src, "f2", [(2, "click", 2.0)])

        def failing_split(spark_, results, meta):
            results.count()                 # materialize the cache
            raise RuntimeError("injected split failure")

        monkeypatch.setattr(_ledger, "split_by_bloom", failing_split)
        jsc = spark.sparkContext._jsc
        before = set(jsc.getPersistentRDDs().keys())
        seen = []

        def standing(batch):
            out = batch.filter(F.col("event_type") == "click") \
                .select("event_id", "value")
            seen.append(out)
            return out

        sch = spark.read.parquet(os.path.join(src, "f1.parquet")).schema
        q = standing_query_push(
            spark, src, sch, standing, ["event_id"], feed, ledger, ckpt,
            options={"maxFilesPerTrigger": "1",
                     "recursiveFileLookup": "true"})
        with pytest.raises(StreamingQueryException,
                           match="injected split failure"):
            q.awaitTermination()
        assert seen and all(df.storageLevel == StorageLevel.NONE
                            for df in seen)
        assert set(jsc.getPersistentRDDs().keys()) <= before

    def test_split_frame_survives_sidecar_roll(self, spark, tmp_path):
        """A split built before a compaction rolls the sidecar holds the
        superseded bits broadcast; the roll must not destroy it."""
        from datawave_spark.streaming.ledger import (
            compact_ledger, load_bloom, split_by_bloom)
        ledger = str(tmp_path / "rledger")
        spark.createDataFrame([(i,) for i in range(100)], "event_id long") \
            .write.mode("overwrite").parquet(ledger)
        compact_ledger(spark, ledger, ["event_id"], bloom_fpp=0.01)
        batch = spark.createDataFrame([(i,) for i in range(50, 150)],
                                      "event_id long")
        maybe, fresh = split_by_bloom(spark, batch, load_bloom(ledger))
        # roll: new keys + recompaction rewrite the bits, and the next
        # split re-broadcasts them, superseding the old broadcast
        spark.createDataFrame([(i,) for i in range(100, 120)],
                              "event_id long") \
            .write.mode("append").parquet(ledger)
        compact_ledger(spark, ledger, ["event_id"], bloom_fpp=0.01)
        split_by_bloom(spark, batch, load_bloom(ledger))[0].count()
        maybe_ids = {r.event_id for r in maybe.collect()}
        fresh_ids = {r.event_id for r in fresh.collect()}
        assert set(range(50, 100)) <= maybe_ids
        assert maybe_ids | fresh_ids == set(range(50, 150))
