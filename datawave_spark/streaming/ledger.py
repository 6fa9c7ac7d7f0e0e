"""Delivered-ledger maintenance for push-mode delivery: compaction +
an optional Bloom sidecar that lets the per-batch dedup skip the big
compacted base entirely when a batch carries only genuinely-new keys.

Reference analog: the push ledger (streaming/push.py) is an append-only
key log — one small parquet file per micro-batch — so a long-lived
standing query accumulates files exactly like an Accumulo tablet
accumulates RFiles; this module is its major compaction (the same
discipline ``sources/maintenance.py`` applies to the event store), plus
the Bloom-index move the reference's UniqueTransform makes for its
seen-set (transformer/UniqueTransform.java:42's Bloom over delivered
tuples — here a SIDECAR, so false positives cost a join, never a
correctness loss).

Layout and correctness contract:

- ``compact_ledger`` rewrites the ledger dir into ``ceil(size/target)``
  files with key dedup (the ledger is semantically a SET; at-least-once
  crash replays can append a key twice) using the same write-then-swap
  discipline as ``maintenance.compact``.
- With ``bloom_fpp`` set it also writes a sidecar ``<ledger>.bloom/``:
  ``bits/`` (parquet: word index → 64 packed bits, built with a
  distributed explode → bit_or aggregation — no driver collect) and
  ``meta.json`` recording m, k, and the exact FILE LIST the bloom
  covers (the post-swap compacted files).
- The bloom covers keys AS OF COMPACTION.  Files appended later form
  the TAIL (= current listing minus covered files); a bloom-negative
  key is guaranteed absent from the BASE but must still be checked
  against the tail.  ``split_by_bloom`` returns (maybe_in_base, fresh)
  so the caller anti-joins ``maybe`` against the whole ledger and
  ``fresh`` against the tail only — with a fresh compaction and mostly
  new keys, ``maybe`` is usually EMPTY and the base is never scanned.

100 TB shape: the bits table is m/64 rows (a 1e8-key ledger at 1%% fpp
≈ 1.2e9 bits ≈ 19M rows ≈ 150 MB) — broadcast-joined against the
result-sized batch; the probe explode is k× the BATCH, never the
ledger.  Beyond ~1e9 delivered keys, skip the bloom and let the plain
anti-join ride the tail+base scan (it is an equi-join on the result
key; the base scan, not the shuffle, is the cost the bloom removes).
"""

from __future__ import annotations

import json
import math
import os
import shutil

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from datawave_spark.sources.maintenance import (
    DEFAULT_TARGET_BYTES, _dir_bytes, _recover_swap, parquet_file_count,
)

_NUM_HASHES_CAP = 8


def _parquet_files(path: str) -> list[str]:
    """Basenames of the data files under a (flat) parquet dir."""
    try:
        return sorted(n for n in os.listdir(path)
                      if n.endswith(".parquet"))
    except FileNotFoundError:
        return []


def _bloom_params(n_keys: int, fpp: float) -> tuple[int, int]:
    """Standard Bloom sizing: m = -n·ln(p)/ln2², k = m/n·ln2."""
    n = max(1, n_keys)
    m = max(64, int(-n * math.log(fpp) / (math.log(2) ** 2)))
    m = (m + 63) // 64 * 64                      # whole words
    k = max(1, min(_NUM_HASHES_CAP, round(m / n * math.log(2))))
    return m, k


def _position_exprs(key_cols: list[str], m: int, k: int):
    """k double-hashed bit positions per row: pos_i = (h1 + i·h2) mod m
    (Kirsch-Mitzenmacher).  h1/h2 are Spark's xxhash64/murmur3 over the
    key columns — deterministic across build and probe, nulls hashed
    consistently."""
    # reduce mod m BEFORE combining: raw h1 + i*h2 on full-range
    # 64-bit hashes overflows (ANSI ARITHMETIC_OVERFLOW) with
    # probability ~i·2^31/2^64 per probe — vanishing in tests, an
    # expected-case job killer at the 1e8-key design point (review
    # r8).  Max intermediate here is (k+1)·m ≈ 1e10 — safe.
    h1 = F.pmod(F.xxhash64(*[F.col(c) for c in key_cols]), F.lit(m))
    h2 = F.pmod(F.hash(*[F.col(c) for c in key_cols]).cast("long"),
                F.lit(m))
    return [F.pmod(h1 + F.lit(i) * h2, F.lit(m)) for i in range(k)]


def _word(pos_name: str):
    return F.expr(f"CAST(floor({pos_name} / 64) AS BIGINT)")


def _mask(pos_name: str):
    # shiftleft needs a literal int in the Python API; expr takes a col
    return F.expr(
        f"shiftleft(CAST(1 AS BIGINT), CAST({pos_name} % 64 AS INT))")


def compact_ledger(spark: SparkSession, ledger_path: str,
                   key_cols: list[str],
                   target_file_bytes: int = DEFAULT_TARGET_BYTES,
                   bloom_fpp: float | None = None) -> dict:
    """Dedup + rewrite the delivered ledger to ~target-size files
    (write-then-swap: readers see the old ledger or the new one, never
    a half-written mix), and optionally roll the Bloom sidecar over the
    compacted keys.

    QUIESCE CONTRACT: run on the maintenance cadence with the standing
    query stopped (the same discipline as ``maintenance.compact`` for
    tables).  The swap has a window between the two renames where the
    ledger path does not exist; a delivery racing it would see
    PATH_NOT_FOUND — ``push_batch`` refuses to treat that as
    first-batch when the feed already exists, so the race fails loudly
    instead of silently re-delivering.

    Returns ``{"files": n, "keys": n, "bloom_bits": m or None}``."""
    tmp = ledger_path.rstrip("/") + ".compact.tmp"
    old = ledger_path.rstrip("/") + ".compact.old"
    _recover_swap(ledger_path, old, tmp)

    keys = spark.read.parquet(ledger_path).dropDuplicates(key_cols)
    n_keys = keys.count()
    total = max(1, _dir_bytes(ledger_path))
    n_files = max(1, -(-total // target_file_bytes))
    keys.repartition(n_files).write.mode("overwrite").parquet(tmp)
    if not os.path.exists(os.path.join(tmp, "_SUCCESS")):
        raise RuntimeError(f"ledger compaction did not commit: {tmp}")
    os.rename(ledger_path, old)
    os.rename(tmp, ledger_path)
    shutil.rmtree(old)

    bloom_dir = ledger_path.rstrip("/") + ".bloom"
    m = None
    if bloom_fpp is not None:
        m, k = _bloom_params(n_keys, bloom_fpp)
        base = spark.read.parquet(ledger_path)
        pos = _position_exprs(key_cols, m, k)
        probes = base.select(
            F.explode(F.array(*pos)).alias("__pos"))
        bits = (probes.select(_word("__pos").alias("word"),
                              _mask("__pos").alias("mask"))
                .groupBy("word").agg(F.bit_or("mask").alias("bits")))
        tmp_bloom = bloom_dir + ".tmp"
        shutil.rmtree(tmp_bloom, ignore_errors=True)
        bits.write.mode("overwrite").parquet(os.path.join(tmp_bloom,
                                                          "bits"))
        with open(os.path.join(tmp_bloom, "meta.json"), "w") as fh:
            json.dump({"m": m, "k": k, "key_cols": key_cols,
                       "n_keys": n_keys,
                       "covered_files": _parquet_files(ledger_path)},
                      fh)
        shutil.rmtree(bloom_dir, ignore_errors=True)
        os.rename(tmp_bloom, bloom_dir)
    else:
        # a compaction without a bloom invalidates any prior sidecar
        # (its covered_files no longer exist)
        shutil.rmtree(bloom_dir, ignore_errors=True)

    return {"files": parquet_file_count(ledger_path), "keys": n_keys,
            "bloom_bits": m}


def load_bloom(ledger_path: str) -> dict | None:
    """The sidecar's metadata, or None if absent/unreadable.  A stale
    sidecar (covered files no longer all present — e.g. a later
    bloomless compaction) reads as None."""
    bloom_dir = ledger_path.rstrip("/") + ".bloom"
    try:
        with open(os.path.join(bloom_dir, "meta.json")) as fh:
            meta = json.load(fh)
    except (OSError, ValueError):
        return None
    # a sidecar whose bits table is missing/uncommitted (crash between
    # meta and bits, interrupted rmtree) must read as ABSENT, not
    # surface a read error a caller might mistake for first-batch
    # (review r8)
    if not os.path.exists(os.path.join(bloom_dir, "bits", "_SUCCESS")):
        return None
    present = set(_parquet_files(ledger_path))
    if not set(meta["covered_files"]) <= present:
        return None
    meta["bits_path"] = os.path.join(bloom_dir, "bits")
    meta["tail_files"] = [os.path.join(ledger_path.rstrip("/"), f)
                          for f in sorted(present
                                          - set(meta["covered_files"]))]
    return meta


# One broadcast per SIDECAR ROLL, not per micro-batch: a standing
# query calls split_by_bloom every batch, and re-broadcasting the
# packed-bits array each time (~150 MB at the 1e8-key design point)
# leaves reclamation to driver GC / ContextCleaner — tight-interval
# queries accumulate broadcast blocks on driver and executors.  Keyed
# by the bits dir's commit fingerprint (file list + mtimes), so a
# compaction that rolls the sidecar replaces — and unpersists — the
# superseded broadcast.
_BLOOM_BC_CACHE: dict[str, tuple] = {}


def _bits_fingerprint(bits_path: str) -> tuple:
    out = []
    for n in sorted(os.listdir(bits_path)):
        st = os.stat(os.path.join(bits_path, n))
        out.append((n, st.st_size, st.st_mtime_ns))
    return tuple(out)


def _bits_broadcast(spark: SparkSession, bits_path: str, m: int):
    import pyarrow.parquet as pq
    fp = _bits_fingerprint(bits_path)
    hit = _BLOOM_BC_CACHE.get(bits_path)
    if hit is not None and hit[0] == fp:
        return hit[1]
    # the bits table is a local parquet dir written by compact_ledger —
    # a driver-side columnar read, no Spark job
    tbl = pq.read_table(bits_path, columns=["word", "bits"])
    words = np.zeros(m // 64 + 1, dtype=np.int64)
    words[tbl.column("word").to_numpy()] = tbl.column("bits").to_numpy()
    bc = spark.sparkContext.broadcast(words)
    _BLOOM_BC_CACHE[bits_path] = (fp, bc)
    if hit is not None:
        # unpersist, not destroy: a frame split before the roll still
        # holds the old broadcast and must keep evaluating — unpersist
        # only drops the executor copies, which re-fetch on use
        try:
            hit[1].unpersist(blocking=False)
        except Exception:
            pass
    return bc


def split_by_bloom(spark: SparkSession, results: DataFrame,
                   meta: dict) -> tuple[DataFrame, DataFrame]:
    """Partition a batch into (maybe_in_base, definitely_fresh) by the
    sidecar.  ``maybe`` rows need the full-ledger anti-join; ``fresh``
    rows are guaranteed absent from the bloom-covered base and need
    only the tail.

    The probe is ONE vectorized Arrow pass (r11): the k bit positions
    are computed JVM-side with the SAME xxhash64/murmur3 double-hash
    expressions the build used, and a pandas UDF tests them against
    the packed bit words shipped once as a Spark broadcast.  The
    previous formulation (k row-preserving broadcast JOINS against the
    bits table) re-planned and re-broadcast those k joins for every
    downstream action — with feed write + ledger write + the isEmpty
    probe per micro-batch that was ~21 tiny broadcast jobs of pure
    driver latency on a result-sized batch.  The bits table is m/64
    words (the module-head sizing note: ~150 MB at the 1e8-key / 1%%
    design point — the same bytes the join formulation broadcast,
    shipped once instead of k times; beyond ~1e9 keys skip the bloom
    entirely, as documented)."""
    from pyspark.sql.functions import pandas_udf

    key_cols, m, k = meta["key_cols"], meta["m"], meta["k"]
    bc = _bits_broadcast(spark, meta["bits_path"], m)

    @pandas_udf("boolean")
    def probe(poss: pd.Series) -> pd.Series:
        w = bc.value
        if not len(poss):
            return pd.Series(np.zeros(0, dtype=bool))
        arr = np.vstack(poss.to_numpy()).astype(np.int64)  # n × k
        # same bit math as _word/_mask: positions are non-negative
        # (pmod), so >>6 is floor/64 and &63 is %64; int64 shift by 63
        # wraps to the same bit pattern as the JVM's shiftleft
        masks = np.int64(1) << (arr & np.int64(63))
        hit = (w[arr >> np.int64(6)] & masks) != 0
        return pd.Series(hit.all(axis=1))

    tagged = results.withColumn(
        "__maybe", probe(F.array(*_position_exprs(key_cols, m, k))))
    maybe = tagged.filter(F.col("__maybe")).drop("__maybe")
    fresh = tagged.filter(~F.col("__maybe")).drop("__maybe")
    return maybe, fresh
