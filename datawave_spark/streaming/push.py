"""Push-mode result delivery — the Atom-feed / websocket analog.

Reference: DataWave's only push-style delivery surfaces are
``web-services/atom/`` (an Atom feed over query results — a persisted,
ordered, append-only log a client polls/pages) and
``web-services/query-websocket/`` (results pushed to a connected
client as they materialize).  Both sit on the same contract: a
STANDING query whose new results are delivered exactly once each, in
arrival order, surviving service restarts.

Spark restatement: a Structured-Streaming ``foreachBatch`` sink over
the live-ingest stream (streaming/ingest.py).  Per micro-batch the
standing query runs over the new input, the result keys are
anti-joined against a persisted DELIVERED LEDGER (so a row that
re-qualifies in a later batch — late duplicate, replay — is never
pushed twice), the undelivered remainder is appended to the FEED with
its delivery epoch (the Atom feed IS this persisted ordered log; a
websocket fan-out is the same sink with a socket write instead of the
parquet append), and the keys are recorded in the ledger.

Scale shape: the ledger and feed are RESULT-sized, never input-sized;
the anti-join is an equi-join on the result key.  Delivery is
at-least-once on a crash BETWEEN the feed append and the ledger append
(a retried epoch re-pushes that batch's rows — the right failure bias
for a feed: duplicates over losses); with a transactional sink (Delta)
the two appends become one txn and delivery is exactly-once.

Ledger growth: every batch appends one small file and the anti-join
re-reads the whole ledger, so a long-lived standing query accumulates
files — run ``streaming.ledger.compact_ledger`` on the maintenance
cadence (dedup + target-size rewrite, same write-then-swap discipline
as every append-heavy asset; with ``bloom_fpp`` set it also rolls a
Bloom sidecar that lets ``push_batch`` skip the compacted base for
bloom-negative keys — see ledger.py for the base/tail correctness
contract).  The ledger STAYS result-keyed either way; if the standing
query's all-time result set itself is unbounded, bound it the way the
reference's Atom collections are bounded — age off delivered keys past
the feed's retention window (operators/ageoff.py), after which a
re-qualifying key legitimately re-delivers.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.utils import AnalysisException


def standing_query_push(spark: SparkSession, input_path: str,
                        schema: T.StructType,
                        transform: Callable[[DataFrame], DataFrame],
                        key_cols: list[str],
                        feed_path: str, ledger_path: str,
                        checkpoint_path: str, fmt: str = "parquet",
                        available_now: bool = True,
                        options: dict[str, str] | None = None,
                        sink: Callable[[DataFrame, int], None]
                        | None = None,
                        append_partitions: int = 1
                        ) -> StreamingQuery:
    """Run ``transform`` as a standing query over arriving input and
    push each result row exactly once (per the ledger) to the feed.

    ``sink(new_rows_df, epoch_id)`` is the optional live fan-out hook —
    the websocket side of the analog — called with ONLY the
    not-yet-delivered rows of each batch, after the feed append (so a
    socket consumer and the feed agree).  ``key_cols`` identify a
    result row for dedup across batches.  The in-batch plans run on the
    stream's own clone of the session, at the shuffle width the session
    had when the query started; setting the conf inside a batch does
    not reach them."""
    reader = spark.readStream.format(fmt).schema(schema)
    for k, v in (options or {}).items():
        reader = reader.option(k, v)
    raw = reader.load(input_path)

    def push_batch(batch_df: DataFrame, epoch_id: int) -> None:
        # persist the standing query's output for the batch's several
        # actions (bloom isEmpty probe, feed append's cache build,
        # non-bloom anti-join): each otherwise re-runs the batch input
        # scan + transform — locally that is noise, at real batch
        # volumes it is the batch cost times the action count (the
        # same discipline as stream_ingest's validation split).
        # Result-sized, dropped in the finally — which covers every
        # failure after the persist, not only the feed/ledger writes.
        results = transform(batch_df).persist()
        try:
            _deliver(results, epoch_id)
        finally:
            results.unpersist(blocking=False)

    def _deliver(results: DataFrame, epoch_id: int) -> None:
        # EXPLICIT ledger schema: schema inference over a ledger dir
        # that a crashed epoch left with only _temporary/_SUCCESS
        # throws the same AnalysisException as a missing path — and
        # swallowing that as "first batch" would silently disable dedup
        # and re-deliver every key.  With the schema pinned, only a
        # genuinely missing path raises, and only PATH_NOT_FOUND is
        # treated as first-batch; anything else propagates.
        key_schema = T.StructType(
            [results.schema[k] for k in key_cols])

        def anti(left: DataFrame, right: DataFrame) -> DataFrame:
            # no dropDuplicates: left_anti excludes a row if ANY match
            # exists, so deduping the ever-growing ledger would add an
            # O(ledger) shuffle per batch for zero semantic effect.
            # Null-safe (<=>) condition: a plain equi-join never
            # matches NULL keys, so a null-keyed row would re-deliver
            # on every batch it re-qualifies in.
            import functools
            cond = functools.reduce(
                lambda a, b: a & b,
                [left[k].eqNullSafe(right[k]) for k in key_cols])
            return left.join(right, cond, "left_anti")

        # the try wraps ONLY the ledger read: any error out of the
        # bloom path below must propagate, not be mistaken for
        # first-batch (mapping it to `new = results` silently
        # re-delivers the whole batch — review r8)
        try:
            delivered = spark.read.schema(key_schema).parquet(ledger_path)
        except AnalysisException as e:
            if "PATH_NOT_FOUND" not in str(e):
                raise
            # no ledger.  Usually first batch — but distinguish two
            # feed-already-exists cases: (1) the documented
            # at-least-once CRASH RETRY (died between the feed append
            # and the FIRST ledger append; the checkpoint replays the
            # SAME epoch, so the feed's newest epoch == this one) —
            # proceed, re-delivering only that batch; (2) a LOST
            # ledger (removed, or a delivery raced compact_ledger's
            # swap window — see its quiesce contract): the feed holds
            # only EARLIER epochs whose ledger appends committed and
            # vanished — re-delivering silently would violate
            # exactly-once, so fail loudly.
            try:
                feed_max = spark.read.parquet(feed_path) \
                    .agg(F.max("delivered_epoch")).head()[0]
            except AnalysisException as fe:
                if "PATH_NOT_FOUND" not in str(fe):
                    raise
            else:
                if feed_max is not None and feed_max < int(epoch_id):
                    raise RuntimeError(
                        f"ledger {ledger_path} is missing but feed "
                        f"{feed_path} already holds epochs through "
                        f"{feed_max} (< current {epoch_id}) — ledger "
                        f"lost or a delivery ran concurrently with "
                        f"compact_ledger; refusing to re-deliver") \
                        from e
            delivered = None
        if delivered is None:
            new = results
        else:
            # Bloom fast path (streaming/ledger.py): when a compaction
            # rolled a sidecar, bloom-NEGATIVE rows are guaranteed
            # absent from the compacted base and anti-join only the
            # post-compaction TAIL files; bloom-positive rows take the
            # full anti-join.  When every row is fresh (the steady
            # state right after compaction) the base is never read —
            # the isEmpty() probe is one batch-sized job, paid only
            # when a sidecar exists.
            from datawave_spark.streaming import ledger as _ledger
            meta = _ledger.load_bloom(ledger_path)
            if meta is not None and meta.get("key_cols") == key_cols:
                maybe, fresh = _ledger.split_by_bloom(spark, results,
                                                      meta)
                if meta["tail_files"]:
                    tail = spark.read.schema(key_schema).parquet(
                        *meta["tail_files"])
                    fresh = anti(fresh, tail)
                if maybe.isEmpty():
                    new = fresh
                else:
                    new = anti(maybe, delivered).unionByName(fresh)
            else:
                new = anti(results, delivered)
        # within-batch duplicates would double-deliver (the anti-join
        # only sees PRIOR batches).  Coalesce the appends (r11, guide
        # §6): AQE is disabled inside streaming micro-batches, so the
        # dropDuplicates shuffle would otherwise fan every batch's
        # result-sized append into shuffle-partition-count near-empty
        # files, and the per-batch ledger anti-join + the feed reader
        # pay the listing/open cost forever after.  NEW results per
        # batch are result-sized; ``append_partitions`` (default 1)
        # sets the file count for standing queries whose per-batch
        # novelty is genuinely large.
        new = (new.dropDuplicates(key_cols)
               .coalesce(max(1, append_partitions)).persist())
        try:
            (new.withColumn("delivered_epoch", F.lit(int(epoch_id)))
             .write.mode("append").parquet(feed_path))
            # the live hook fires BEFORE the ledger append: `new`'s
            # plan anti-joins the ledger BY PATH, so an action issued
            # after the append can re-list the ledger (cache re-use is
            # not guaranteed inside foreachBatch) and see its own keys
            # — the hook would then stream nothing.  Ordering feed →
            # sink → ledger keeps every consumer view pre-append;
            # crash semantics are unchanged (at-least-once either way).
            if sink is not None:
                sink(new, int(epoch_id))
            new.select(*key_cols).write.mode("append").parquet(ledger_path)
        finally:
            new.unpersist(blocking=False)

    writer = (raw.writeStream.foreachBatch(push_batch)
              .option("checkpointLocation", checkpoint_path))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_feed(spark: SparkSession, feed_path: str) -> DataFrame:
    """The consumer side of the Atom analog: the feed, ordered by
    delivery epoch — a client pages this exactly like the reference's
    Atom service pages its per-query collection."""
    return spark.read.parquet(feed_path).orderBy("delivered_epoch")
