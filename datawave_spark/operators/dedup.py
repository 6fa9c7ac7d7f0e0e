"""Deduplication operators for large-scale corpus curation.

Beyond the reference's per-result #UNIQUE (UniqueTransform), a 100 TB
training-data pipeline needs corpus-level dedup.  Four strategies, all
pure DataFrame ops (JVM-side, shuffle-conscious):

- ``exact_dedup``       — content-hash groupBy (one shuffle on a short
                          hash key; group count = distinct docs).
- ``minhash_lsh_pairs`` — shingle → MinHash signature → LSH bands →
                          band-bucket equi-join → exact Jaccard verify.
                          The classic near-dup pipeline (Broder '97 /
                          Leskovec et al., MMDS ch.3).  The only
                          quadratic step is within LSH buckets.
- ``simhash_buckets``   — per-token hash bit-vote signature (Charikar
                          '02); near-dups collide on the signature.
- ``ngram_jaccard_pairs`` — n-gram explode → equi-join on gram →
                          per-pair intersection count → Jaccard via
                          |A∩B| / (|A|+|B|−|A∩B|).  This is also the
                          shape of DataWave's SSDeep similarity join
                          (reference: warehouse/query-core/.../query/
                          tables/ssdeep/SSDeepSimilarityQueryLogic.java,
                          SSDeepScoringFunction.java — decompose hash
                          into n-grams, equi-join candidates, score
                          pairs) re-expressed on documents.

Determinism: all hashing is md5-based (not Spark's ``hash()``/xxhash)
so the DuckDB oracle can reproduce signatures bit-for-bit.

Scale notes (100 TB): every pipeline here shuffles on a *derived short
key* (hash / band / gram), never on raw text; text only travels for the
verify join, which is restricted to candidate pairs.  Measured at 10×
documents (50k, high-overlap vocabulary): signatures and simhash scale
sub-linearly; the LSH band join scales ~6× but its absolute cost is
driven by bucket collisions on self-similar corpora — cap it with
``max_bucket`` (trading recall for bounded worst-case skew, the same
cardinality-cap tradeoff as the reference's Uid.List MAX); the
unpruned all-pairs ``ngram_jaccard_pairs`` join explodes quadratically
on boilerplate-heavy data — at scale ALWAYS set its ``max_df`` hot-gram
cap (or use ``minhash_lsh_pairs`` / ``prefix_filter=True`` with a high
threshold).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from datawave_spark.util import persist_scoped, spread

TOKEN_RE = "[^a-z0-9]+"


def _tokens(col) -> Column:
    return F.filter(F.split(F.lower(col), TOKEN_RE), lambda t: t != "")


def shingles(df: DataFrame, text_col: str, id_col: str, k: int = 3) -> DataFrame:
    """Distinct word k-shingles per document: (id, shingle).

    The token array is materialized (persist barrier) BEFORE
    gram-building: the gram lambda references the token array once per
    position, and Catalyst's projection collapse would re-run the regex
    tokenizer for every reference if it were still an expression over
    the raw text (observed 24× super-linear at 10× docs).  The cache
    node is a codegen boundary, so downstream slicing reads stored
    column data — O(k) per gram — with no shuffle at all (the previous
    formulation paid a posexplode + groupBy round-trip for the same
    barrier)."""
    arr = persist_scoped(
        spread(df).select(F.col(id_col).alias("id"),
                          _tokens(F.col(text_col)).alias("toks")),
        "shingles")
    toks = F.col("toks")
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - k, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)))
    return (arr.select("id", F.explode(F.array_distinct(grams)).alias("shingle"))
            .filter(F.col("shingle") != ""))


def shingle_sets(df: DataFrame, text_col: str, id_col: str,
                 k: int = 3) -> DataFrame:
    """Per-document shingle SET rows: (id, shingles array<string>, n).

    This is the ingest-time dedup asset (the TermFrequency-map analog):
    store it once at ingest and every downstream dedup pass — MinHash
    signatures, LSH banding, exact-Jaccard verification — becomes
    row-wise expressions + ONE bucket aggregation instead of repeated
    tokenize/explode/groupBy pipelines over raw text.  See
    ``sources/prepared.doc_shingle_sets``."""
    return (shingles(df, text_col, id_col, k)
            .groupBy("id")
            .agg(F.collect_list("shingle").alias("shingles"),
                 F.count(F.lit(1)).alias("n")))


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact duplicate groups by content md5: (content_hash, n_docs,
    keep_id) keeping the smallest id — the canonical representative."""
    return (df.select(F.md5(F.col(text_col).cast("string")).alias("content_hash"),
                      F.col(id_col).alias("id"))
            .groupBy("content_hash")
            .agg(F.count(F.lit(1)).alias("n_docs"), F.min("id").alias("keep_id")))


def minhash_signatures(df: DataFrame, text_col: str, id_col: str,
                       k: int = 3, num_hashes: int = 16) -> DataFrame:
    """(id, sig array<string>) — MinHash over md5(salt || shingle).

    One aggregation: shingles exploded once, ``num_hashes`` mins computed
    per group (map-side partial).  md5-of-salted-shingle stands in for
    the classic random permutations; mins of a uniform hash are an
    equally valid MinHash family.
    """
    sh = shingles(df, text_col, id_col, k)
    return minhash_signatures_from(sh, num_hashes)


def minhash_signatures_from(sh: DataFrame, num_hashes: int = 16) -> DataFrame:
    """MinHash signatures from a prebuilt (id, shingle) frame."""
    mins = [F.min(F.md5(F.concat(F.lit(f"s{i}:"), F.col("shingle"))))
            .alias(f"h{i}") for i in range(num_hashes)]
    sig = sh.groupBy("id").agg(*mins)
    return sig.select("id", F.array(*[F.col(f"h{i}") for i in range(num_hashes)])
                      .alias("sig"))


def _salted_min(arr, salt: str):
    # NB: the lambda must be unary — pyspark.transform passes the array
    # index as a second argument to binary lambdas, which would clobber
    # a default-arg salt.
    return F.array_min(F.transform(
        arr, lambda s: F.md5(F.concat(F.lit(salt), s))))


def minhash_signatures_from_sets(sets: DataFrame,
                                 num_hashes: int = 16) -> DataFrame:
    """MinHash signatures from a prebuilt (id, shingles, n) set frame —
    pure row-wise expressions (no shuffle), same values as the groupBy
    formulation."""
    sig_cols = [_salted_min(F.col("shingles"), f"s{i}:")
                for i in range(num_hashes)]
    return sets.select("id", F.array(*sig_cols).alias("sig"))


def sets_to_shingles(sets: DataFrame, with_n: bool = False) -> DataFrame:
    """Explode a (id, shingles, n) set frame back to (id, shingle) rows
    for the equi-join-shaped pipelines.  ``with_n=True`` carries the
    stored set size on every gram row — free in the explode, and it
    lets the pair join length-filter BEFORE the counting shuffle."""
    if with_n:
        return sets.select("id", "n", F.explode("shingles").alias("shingle"))
    return sets.select("id", F.explode("shingles").alias("shingle"))


def minhash_lsh_pairs(df: DataFrame, text_col: str, id_col: str,
                      k: int = 3, num_hashes: int = 16, bands: int = 8,
                      threshold: float = 0.5,
                      max_bucket: int | None = None) -> DataFrame:
    """Near-duplicate candidate pairs with exact Jaccard ≥ threshold:
    (id_a, id_b, jaccard), id_a < id_b.

    Pipeline: shingle sets → row-wise signatures → band keys →
    band-bucket grouping → dedup candidate pairs → verify with exact
    shingle Jaccard.  For repeated dedup passes, build the shingle-set
    frame once at ingest (``sources/prepared.doc_shingle_sets``) and
    call :func:`minhash_lsh_pairs_from_sets` directly.
    """
    sets = shingle_sets(df, text_col, id_col, k).persist()
    return minhash_lsh_pairs_from_sets(sets, num_hashes, bands,
                                       threshold, max_bucket)


def attach_minhash_signatures(sets: DataFrame,
                              num_hashes: int = 16) -> DataFrame:
    """Ingest-side signature materialization: (id, shingles, n) →
    + ``sig`` array<string>.  Store the result once
    (sources/prepared.doc_minhash) and every LSH pass reads signatures
    instead of re-hashing every shingle ``num_hashes`` times."""
    sig_cols = [_salted_min(F.col("shingles"), f"s{i}:")
                for i in range(num_hashes)]
    return sets.withColumn("sig", F.array(*sig_cols))


def minhash_lsh_pairs_from_signed(signed: DataFrame, num_hashes: int = 16,
                                  bands: int = 8, threshold: float = 0.5,
                                  max_bucket: int | None = None) -> DataFrame:
    """LSH near-dup pairs from an ingest-SIGNED set frame
    (id, shingles, n, sig — sources/prepared.doc_minhash): query-time
    signature work is ``bands`` md5s over stored array elements per
    document; the per-shingle hashing already happened at ingest."""
    sig = signed.select("id", *[
        F.element_at(F.col("sig"), i + 1).alias(f"h{i}")
        for i in range(num_hashes)])
    return _lsh_pairs_from_sig(signed, sig, num_hashes, bands, threshold,
                               max_bucket)


def minhash_lsh_pairs_from_sets(sets: DataFrame, num_hashes: int = 16,
                                bands: int = 8, threshold: float = 0.5,
                                max_bucket: int | None = None) -> DataFrame:
    """LSH near-dup pairs from a prebuilt (id, shingles, n) frame.

    Everything up to the bucket aggregation is ROW-WISE: the MinHash
    signature is ``array_min`` over a per-shingle md5 transform
    (identical values to the groupBy-min formulation, zero shuffles),
    and the band keys hash signature slices in the same projection.
    Total shuffle count: 1 bucket groupBy + 1 candidate distinct + the
    two verify joins (broadcast when the set frame is small).
    """
    sig_cols = [_salted_min(F.col("shingles"), f"s{i}:").alias(f"h{i}")
                for i in range(num_hashes)]
    sig = sets.select("id", *sig_cols)
    return _lsh_pairs_from_sig(sets, sig, num_hashes, bands, threshold,
                               max_bucket)


def _lsh_pairs_from_sig(sets: DataFrame, sig: DataFrame, num_hashes: int,
                        bands: int, threshold: float,
                        max_bucket: int | None) -> DataFrame:
    """Shared LSH tail: band keys over an (id, h0..hN) signature frame →
    bucket aggregation → candidate pairs → exact-Jaccard verify against
    the (id, shingles, n) set frame."""
    # One long frame (id, band, bucket); with a bucket cap the pair
    # generation is ONE shuffle: groupBy (band, bucket) collecting the
    # member ids (arrays bounded by max_bucket), then in-array
    # combinations exploded JVM-side — replacing the sizes-groupBy +
    # broadcast + self-join + wide pre-distinct of the join formulation
    # (3 shuffles and a pairs-sized exchange) with a single aggregation.
    banded = _band_frame_from_cols(sig, num_hashes, bands)
    if max_bucket is not None:
        buckets = (banded.groupBy("band", "bucket")
                   .agg(F.collect_list("id").alias("ids"))
                   .filter((F.size("ids") <= max_bucket)
                           & (F.size("ids") >= 2)))
        ids = F.col("ids")
        pair_arr = F.flatten(F.transform(
            ids, lambda x, i: F.transform(
                F.slice(ids, i + 2, F.size(ids)),
                lambda y: F.struct(F.least(x, y).alias("id_a"),
                                   F.greatest(x, y).alias("id_b")))))
        cand = (buckets.select(F.explode(pair_arr).alias("p"))
                .select("p.id_a", "p.id_b").distinct())
    else:
        # Uncapped buckets can exceed what one aggregated array should
        # hold — fall back to the self-join formulation.
        left = banded.alias("l")
        right = banded.alias("r")
        cand = (left.join(right, ["band", "bucket"])
                .filter(F.col("l.id") < F.col("r.id"))
                .select(F.col("l.id").alias("id_a"),
                        F.col("r.id").alias("id_b"))
                .distinct())
    return verify_jaccard_pairs_from_sets(sets, cand, threshold)


def verify_jaccard_pairs(df: DataFrame, text_col: str, id_col: str,
                         cand: DataFrame, k: int, threshold: float) -> DataFrame:
    """Exact Jaccard for candidate pairs from raw documents."""
    sets = shingle_sets(df, text_col, id_col, k).persist()
    return verify_jaccard_pairs_from_sets(sets, cand, threshold)


def verify_jaccard_pairs_from(sh: DataFrame, cand: DataFrame,
                              threshold: float) -> DataFrame:
    """Exact Jaccard for candidate pairs given a prebuilt (persisted)
    (id, shingle) frame."""
    sets = sh.groupBy("id").agg(F.collect_list("shingle").alias("shingles"),
                                F.count(F.lit(1)).alias("n"))
    return verify_jaccard_pairs_from_sets(sets, cand, threshold)


def verify_jaccard_pairs_from_sets(sets: DataFrame, cand: DataFrame,
                                   threshold: float,
                                   sets_b: DataFrame | None = None
                                   ) -> DataFrame:
    """Exact Jaccard for candidate pairs given a prebuilt
    (id, shingles array, n) set frame.

    Shape: join the candidate pairs to the 1-row-per-doc set frame on
    each side and intersect JVM-side with ``array_intersect``.  Two
    equi-joins of pair-count × doc-count rows — Spark broadcasts the
    array frame when it is small — instead of shuffling an exploded
    pairs×shingles row set (~50× more rows) through a two-column join;
    measured 5× faster on the LSH verify at sf0.1.

    ``sets_b`` supplies the id_b side from a DIFFERENT frame (the
    incremental shape: id_a is batch-sized, id_b corpus-sized — joining
    the a-side against the union would shuffle corpus shingle arrays
    for no reason)."""
    a = sets.select(F.col("id").alias("id_a"),
                    F.col("shingles").alias("__shs_a"),
                    F.col("n").alias("__n_a"))
    b = (sets_b if sets_b is not None else sets).select(
        F.col("id").alias("id_b"),
        F.col("shingles").alias("__shs_b"),
        F.col("n").alias("__n_b"))
    inter = F.size(F.array_intersect("__shs_a", "__shs_b"))
    # Route the intersection size through a generator (the text.py
    # quality_score barrier trick): ``__i`` feeds the Jaccard numerator,
    # denominator AND the threshold filter, and CollapseProject would
    # otherwise inline the array_intersect into every reference —
    # measured 2× on the LSH verify (r11).  inline(array(struct(...)))
    # is a projection barrier, so the intersect runs once per pair.
    packed = (cand.join(a, "id_a").join(b, "id_b")
              .select("id_a", "id_b", F.inline(F.array(F.struct(
                  inter.alias("__i"),
                  (F.col("__n_a") + F.col("__n_b")).alias("__s"))))))
    return (packed
            .withColumn("jaccard", F.round(
                F.col("__i") / (F.col("__s") - F.col("__i")), 4))
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard"))


def simhash_signatures(df: DataFrame, text_col: str, id_col: str,
                       bits: int = 16) -> DataFrame:
    """Per-document SimHash signature bitstring: (id, simhash).

    Signature bit i = majority vote over tokens of bit i of
    md5(token); bit i is the high bit of hex nibble i (≤ 32 bits).
    """
    # Explode tokens and let the codegen'd hash aggregate do the bit
    # voting (one conditional SUM per bit) — much faster than a
    # higher-order-function array fold, and the md5 runs once per token.
    high = ("8", "9", "a", "b", "c", "d", "e", "f")
    tok = spread(df).select(F.col(id_col).alias("id"),
                    F.explode(_tokens(F.col(text_col))).alias("t")) \
            .select("id", F.md5("t").alias("h"))
    votes = [F.sum(F.when(F.substring("h", i + 1, 1).isin(*high), 1)
                   .otherwise(-1)).alias(f"v{i}") for i in range(bits)]
    per_doc = tok.groupBy("id").agg(*votes)
    bit_cols = [F.when(F.col(f"v{i}") > 0, F.lit("1")).otherwise(F.lit("0"))
                for i in range(bits)]
    return per_doc.select("id", F.concat(*bit_cols).alias("simhash"))


def simhash_buckets(df: DataFrame, text_col: str, id_col: str,
                    bits: int = 16) -> DataFrame:
    """SimHash near-dup buckets: (simhash, n_docs, keep_id) —
    documents sharing a FULL signature; see
    :func:`simhash_hamming_pairs` for the within-distance variant."""
    return (simhash_signatures(df, text_col, id_col, bits)
            .groupBy("simhash")
            .agg(F.count(F.lit(1)).alias("n_docs"), F.min("id").alias("keep_id")))


def simhash_hamming_pairs(df: DataFrame, text_col: str, id_col: str,
                          bits: int = 16, max_dist: int = 2,
                          max_bucket: int | None = None) -> DataFrame:
    """SimHash near-dup PAIRS within Hamming distance ``max_dist`` —
    the block-permutation trick (Manku et al. '07, the production
    simhash dedup algorithm): split each signature into
    ``max_dist + 1`` blocks; two signatures within distance d MUST
    agree on at least one block (pigeonhole), so candidate generation
    is ONE equi-join on (block index, block value), then an exact
    Hamming verify on survivors — never an all-pairs comparison.
    Output: (id_a, id_b, hamming), id_a < id_b.  ``max_bucket`` drops
    degenerate blocks shared by more than that many docs (boilerplate
    guard, as in LSH)."""
    n_blocks = max_dist + 1
    # the signature pipeline (corpus tokenize + md5 + bit-vote agg)
    # would otherwise execute three times: once for the cap aggregation
    # and once per self-join side — persist is the lineage barrier
    # (same reason shingles() persists its token arrays); scoped so
    # repeated calls don't accumulate cached copies
    sig = persist_scoped(simhash_signatures(df, text_col, id_col, bits),
                         "simhash_hamming_pairs")
    base = bits // n_blocks
    bounds = []
    start = 1
    for i in range(n_blocks):
        ln = base + (1 if i < bits % n_blocks else 0)
        bounds.append((start, ln))
        start += ln
    blocks = F.array(*[F.substring("simhash", s, ln) for s, ln in bounds])
    b = sig.select("id", "simhash",
                   F.posexplode(blocks).alias("block", "val"))
    if max_bucket is not None:
        ok = (b.groupBy("block", "val")
              .agg(F.count(F.lit(1)).alias("__n"))
              .filter(F.col("__n") <= max_bucket).select("block", "val"))
        b = b.join(ok, ["block", "val"], "left_semi")
    # Hamming via ONE xor + popcount per candidate pair: the bitstring
    # converts to an integer ONCE per (id, block) row BEFORE the join
    # (conv base-2), so the per-pair work is bitwiseXOR + bit_count —
    # not 16 substring compares (measured ~2× on the verify fan-in,
    # which dominates this operator's cost at the bucket cap).
    b = b.withColumn("__int", F.conv("simhash", 2, 10).cast("long"))
    # persist the capped block frame too: the self-join consumes it
    # TWICE, and without this barrier each side re-runs the posexplode,
    # the bucket-cap aggregation and its semi-join from the cached
    # signatures (r11 plan: the Generate/HashAggregate/BroadcastHashJoin
    # subtree appeared once per join side).  (id, block, val, __int) is
    # n_blocks rows per document — corpus-sized, never pair-sized.
    b = persist_scoped(b, "simhash_hamming_pairs_blocks")
    left = b.select(F.col("id").alias("id_a"),
                    F.col("__int").alias("__ia"), "block", "val")
    right = b.select(F.col("id").alias("id_b"),
                     F.col("__int").alias("__ib"), "block", "val")
    ham = F.bit_count(F.col("__ia").bitwiseXOR(F.col("__ib")))
    return (left.join(right, ["block", "val"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", ham.cast("int").alias("hamming"))
            .filter(F.col("hamming") <= max_dist)
            .distinct())


def ngram_jaccard_pairs(df: DataFrame, text_col: str, id_col: str,
                        k: int = 3, threshold: float = 0.5,
                        prefix_filter: bool = False,
                        max_df: int | None = None) -> DataFrame:
    """All-pairs n-gram Jaccard ≥ threshold via gram equi-join (the
    SSDeep-similarity-join shape: explode n-grams, join on gram, score
    pairs): (id_a, id_b, jaccard).

    ``prefix_filter=True`` enables the classic prefix-filtering prune
    (Chaudhuri et al. '06 / ppjoin): order each document's shingles by
    ascending global document frequency (rarest first) and generate
    candidates only from each doc's first ``⌊(1−t)·n⌋+1`` shingles —
    two sets with Jaccard ≥ t MUST overlap within those prefixes, so
    no true pair is lost, while frequent (boilerplate) shingles stop
    generating candidate pairs.  Exactness is asserted against the
    unfiltered path in tests.

    When to use which: the prefix length shrinks with (1−t), so the
    prune only pays for itself at HIGH thresholds (t ≳ 0.6) — at
    t = 0.3 the prefix keeps ~70% of shingles and the candidate
    materialization costs more than the direct-count join it replaces.
    The direct path counts intersections inside the gram join itself
    (no candidate-pair materialization) and is the right default.

    ``max_df`` is the HOT-GRAM CAP: shingles appearing in more than
    ``max_df`` documents are dropped from the shingle universe before
    the self-join, and Jaccard is computed over the reduced universe
    (stopword-removal semantics — deterministic, oracle-mirrorable).
    Without it a boilerplate gram ("of the") lands its whole posting
    list in ONE reducer and produces O(df²) candidate rows there — the
    same skew failure the LSH ``max_bucket`` and the reference's
    Uid.List cardinality cap (GlobalIndexUidAggregator.java:25) guard
    against.  Always set it at corpus scale.
    """
    sh = persist_scoped(shingles(df, text_col, id_col, k),
                        "ngram_jaccard_pairs.sh")
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    return _ngram_jaccard_core(sh, sizes, threshold, prefix_filter,
                               max_df=max_df)


def ngram_jaccard_pairs_from_sets(sets: DataFrame, threshold: float = 0.5,
                                  prefix_filter: bool = False,
                                  max_df: int | None = None) -> DataFrame:
    """All-pairs n-gram Jaccard from the prepared (id, shingles, n)
    set frame: sizes come free (no groupBy) and the gram rows are a
    row-wise explode of stored arrays instead of re-tokenizing text.
    ``max_df``: hot-gram cap, see ``ngram_jaccard_pairs``."""
    sh = sets_to_shingles(sets, with_n=not prefix_filter)
    sizes = sets.select("id", "n")
    return _ngram_jaccard_core(sh, sizes, threshold, prefix_filter,
                               sets=sets, max_df=max_df)


def _ngram_jaccard_core(sh: DataFrame, sizes: DataFrame, threshold: float,
                        prefix_filter: bool,
                        sets: DataFrame | None = None,
                        max_df: int | None = None) -> DataFrame:
    if max_df is not None:
        # Hot-gram cap: restrict the shingle universe to grams with
        # document frequency ≤ max_df, then RECOMPUTE set sizes over
        # the reduced universe so Jaccard stays internally consistent
        # (both |A∩B| and |A∪B| exclude the dropped grams).  The df
        # aggregation is map-side combinable; re-attaching n to gram
        # rows costs one id-shuffle but restores the in-join length
        # filter, which is what keeps the pair count down.
        ok = (sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
              .filter(F.col("__df") <= max_df).select("shingle"))
        sh = sh.select("id", "shingle").join(ok, "shingle", "left_semi")
        sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
        if not prefix_filter:
            sh = sh.join(sizes, "id")
        sets = None  # stored sets no longer match the reduced universe
    if prefix_filter:
        w_rank = Window.partitionBy("id").orderBy("df", "shingle")
        gram_df = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
        ranked = (sh.join(gram_df, "shingle")
                  .join(sizes, "id")
                  .withColumn("__r", F.row_number().over(w_rank))
                  .filter(F.col("__r") <=
                          F.floor((1.0 - threshold) * F.col("n")) + 1))
        cand_src = ranked.select("id", "shingle")
    else:
        cand_src = sh
    if not prefix_filter and "n" in cand_src.columns:
        # fastest path (sets input): gram rows carry their set size, so
        # the LENGTH FILTER runs inside the gram join — J ≤ min/max, so
        # any pair with min(n) < t·max(n) cannot reach the threshold
        # and is dropped BEFORE the pair-counting shuffle (boilerplate
        # gram fan-out shrinks by the size-ratio selectivity), and the
        # sizes ride through the groupBy as keys — no post-joins.
        a = cand_src.select(F.col("id").alias("id_a"),
                            F.col("n").alias("n_a"), "shingle")
        b = cand_src.select(F.col("id").alias("id_b"),
                            F.col("n").alias("n_b"), "shingle")
        inter = (a.join(b, "shingle")
                 .filter((F.col("id_a") < F.col("id_b"))
                         & (F.least("n_a", "n_b")
                            >= threshold * F.greatest("n_a", "n_b")))
                 .groupBy("id_a", "id_b", "n_a", "n_b")
                 .agg(F.count(F.lit(1)).alias("n_inter")))
        return (inter
                .withColumn("jaccard", F.round(
                    F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 4))
                .filter(F.col("jaccard") >= threshold)
                .select("id_a", "id_b", "jaccard"))
    a = cand_src.select(F.col("id").alias("id_a"), "shingle")
    b = cand_src.select(F.col("id").alias("id_b"), "shingle")
    if not prefix_filter:
        # fast path: the equi-join already counts full intersections
        inter = (a.join(b, "shingle")
                 .filter(F.col("id_a") < F.col("id_b"))
                 .groupBy("id_a", "id_b")
                 .agg(F.count(F.lit(1)).alias("n_inter")))
        return (inter
                .join(sizes.select(F.col("id").alias("id_a"), F.col("n").alias("n_a")), "id_a")
                .join(sizes.select(F.col("id").alias("id_b"), F.col("n").alias("n_b")), "id_b")
                .withColumn("jaccard", F.round(
                    F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 4))
                .filter(F.col("jaccard") >= threshold)
                .select("id_a", "id_b", "jaccard"))
    # prefix-filtered candidates hold only partial intersections —
    # verify with the full shingle sets
    cand = (a.join(b, "shingle")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b").distinct())
    if sets is not None:
        return verify_jaccard_pairs_from_sets(sets, cand, threshold)
    return verify_jaccard_pairs_from(sh, cand, threshold)


def embedding_dedup_pairs(df: DataFrame, vec_col: str, id_col: str,
                          threshold: float = 0.95,
                          block_col: str | None = None) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a, id_b, cos ≥ t).

    ``block_col`` (e.g. an IVF cluster id or label) restricts the pair
    join to within-block comparisons — the blocking that keeps this
    near-linear at corpus scale; without it the join is all-pairs
    (quadratic: only for small frames or eval sets).
    """
    from datawave_spark.operators.similarity import _dot, _norm
    v = F.col(vec_col).cast("array<double>")
    # Precompute each vector's norm ONCE before the pair join — inside
    # the join the norm expression would re-run per PAIR (O(pairs·dim)
    # extra work; measured ~3× on the label-blocked join at sf0.1).
    base_cols = [F.col(id_col).alias("id"), v.alias("vec"),
                 _norm(v).alias("nrm")]
    if block_col:
        base_cols.append(F.col(block_col).alias("blk"))
    base = df.select(*base_cols)
    a = base.select(*[F.col(c).alias(f"{c}_a") for c in base.columns])
    b = base.select(*[F.col(c).alias(f"{c}_b") for c in base.columns])
    cond = F.col("id_a") < F.col("id_b")
    if block_col:
        joined = a.join(b, F.col("blk_a") == F.col("blk_b")).filter(cond)
    else:
        joined = a.crossJoin(b).filter(cond)
    cos = _dot(F.col("vec_a"), F.col("vec_b")) / (F.col("nrm_a") * F.col("nrm_b"))
    # generator barrier (r11): the threshold filter would otherwise be
    # pushed below this projection with the O(dim) dot product inlined
    # into it — every pair paid the dot twice (same CollapseProject
    # behavior as the LSH verify; see verify_jaccard_pairs_from_sets)
    return (joined
            .select("id_a", "id_b", F.inline(F.array(F.struct(
                F.round(cos, 4).alias("cos")))))
            .filter(F.col("cos") >= threshold))


def _band_frame_from_cols(sig: DataFrame, num_hashes: int,
                          bands: int) -> DataFrame:
    """(id, band, bucket) band keys from an (id, h0..hN) signature
    frame — THE band-key layout (md5 over 'band|h…|h…'); every LSH
    path and the DuckDB oracle strings must agree on it, so it exists
    exactly once."""
    rows = num_hashes // bands
    band_cols = [F.md5(F.concat_ws("|", F.lit(str(b)),
                                   *[F.col(f"h{b * rows + r}")
                                     for r in range(rows)]))
                 for b in range(bands)]
    return sig.select(
        "id", F.posexplode(F.array(*band_cols)).alias("band", "bucket"))


def _band_frame(signed: DataFrame, num_hashes: int,
                bands: int) -> DataFrame:
    """(id, band, bucket) band keys from a stored-signature frame
    (sig array column)."""
    cols = [F.element_at(F.col("sig"), i + 1).alias(f"h{i}")
            for i in range(num_hashes)]
    return _band_frame_from_cols(signed.select("id", *cols),
                                 num_hashes, bands)


def incremental_lsh_pairs(new_signed: DataFrame, corpus_signed: DataFrame,
                          num_hashes: int = 16, bands: int = 8,
                          threshold: float = 0.5,
                          max_bucket: int | None = None) -> DataFrame:
    """INCREMENTAL near-dup detection: pairs between a NEW batch and the
    stored corpus only — the daily-crawl shape, where re-running the
    all-pairs LSH over the whole corpus per increment would multiply
    the dominant cost by corpus/batch.

    Both inputs are ingest-signed set frames (id, shingles, n, sig —
    sources/prepared.doc_minhash layout; ids must be disjoint).  The
    new batch's band keys probe the corpus band frame with ONE
    equi-join on (band, bucket); ``max_bucket`` drops boilerplate
    corpus buckets (the Uid.List cap analog — a bucket matching
    everything identifies nothing).  Candidates verify with exact
    Jaccard against the union of the two set frames.  Output:
    (id_new, id_old, jaccard).
    """
    new_b = _band_frame(new_signed, num_hashes, bands)
    corp_b = _band_frame(corpus_signed, num_hashes, bands)
    if max_bucket is not None:
        ok = (corp_b.groupBy("band", "bucket")
              .agg(F.count(F.lit(1)).alias("__n"))
              .filter(F.col("__n") <= max_bucket)
              .select("band", "bucket"))
        corp_b = corp_b.join(ok, ["band", "bucket"], "left_semi")
    cand = (new_b.join(corp_b.withColumnRenamed("id", "__old"),
                       ["band", "bucket"])
            .select(F.col("id").alias("id_a"),
                    F.col("__old").alias("id_b"))
            .distinct())
    out = verify_jaccard_pairs_from_sets(
        new_signed.select("id", "shingles", "n"), cand, threshold,
        sets_b=corpus_signed.select("id", "shingles", "n"))
    return out.select(F.col("id_a").alias("id_new"),
                      F.col("id_b").alias("id_old"), "jaccard")


def semantic_dedup(df: DataFrame, vec_col: str, id_col: str,
                   threshold: float = 0.9,
                   block_col: str | None = None,
                   keep_col: str | None = None) -> DataFrame:
    """SemDeDup-style semantic pruning (Abbas et al. 2023,
    arXiv:2303.09540): drop every document whose embedding is within
    cosine ``threshold`` of an EARLIER (lower-id) document in the same
    block; keep the first member of each near-duplicate neighborhood.

    ``block_col`` is the cluster column that bounds the pair join —
    at scale this is the stored IVF assignment
    (sources.prepared.embedding_ivf: k-means clusters as a hive
    partition), which is exactly the SemDeDup recipe: cluster the
    corpus once at ingest, then prune within clusters only.  Without a
    block the comparison is exact all-pairs (eval sets only).

    Keep-first semantics are deterministic and non-iterative: a row is
    dropped iff ANY lower-id row in its block clears the threshold
    (one anti-join over the pair frame — no transitive chasing, no
    convergence loop).  This is the same keep-first discipline as
    ``curation.span_dedup``.

    With ``keep_col`` set, returns ALL rows with a boolean flag
    instead of filtering — the shape downstream rebalance/reporting
    steps want.

    Scale: pair generation is ``embedding_dedup_pairs`` (within-block
    join, norms precomputed); the drop set is distinct ids (short
    rows); survivors come from a broadcast-able left-anti join when
    the drop set is small, or a shuffled anti-join otherwise — either
    way one pass over the corpus, no driver collect.
    """
    pairs = embedding_dedup_pairs(df, vec_col, id_col,
                                  threshold=threshold, block_col=block_col)
    # id_a < id_b in the pair frame, so id_b always has an earlier
    # above-threshold neighbor -> id_b is the dropped side.
    dropped = pairs.select(F.col("id_b").alias(id_col)).distinct()
    if keep_col:
        flag = dropped.withColumn(keep_col, F.lit(False))
        return (df.join(flag, id_col, "left")
                .fillna({keep_col: True}))
    return df.join(dropped, id_col, "left_anti")


def exact_substring_dedup(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id", k: int = 10,
                          min_count: int = 2) -> DataFrame:
    """Corpus-level EXACT substring deduplication (the ExactSubstr half
    of Lee et al. 2021, arXiv:2107.06499 "Deduplicating Training Data
    Makes Language Models Better"), hash-window formulation.

    Every k-token window of every document is hashed; a window whose
    exact token sequence occurs >= ``min_count`` times anywhere in the
    corpus (across or within documents) is a duplicated span.  The
    corpus-first occurrence — lexicographic min (doc_id, start) — is
    kept; every other occurrence is removed.  Overlapping duplicated
    windows merge into maximal spans (gaps-and-islands) before removal,
    so a repeated region of length L >> k comes out as ONE span and the
    first document containing it keeps it intact.

    Returns one row per document:
      doc_id, n_spans (merged duplicated spans removed),
      removed_tokens, kept_tokens, cleaned_md5 (md5 of the space-joined
      surviving tokens — whitespace-normalized so an external oracle
      can replay it byte-for-byte).

    Scale shape (100 TB): the window frame is |corpus tokens| rows of
    (hash, doc, start) — text itself NEVER shuffles; spans come back to
    the document frame via a doc_id join.  Shuffles: (1) groupBy on the
    16-byte window hash with map-side partial agg (count + min-struct,
    both combiner-friendly, so a hot boilerplate window costs one
    partial row per task, not a skewed reducer), (2) the dup-hash join
    back onto windows, (3) one per-doc window + groupBy for the island
    merge (keyed on doc_id, bounded by spans-per-doc).  md5 keeps the
    oracle bit-exact; on a cluster swap in xxhash64 to halve shuffle
    width (engine-private — rows-only check).  Lee et al. build a
    single suffix array, which does not distribute; rolling k-gram
    windows are the Spark-shaped standard equivalent (cf. C4/Dolma
    span-level dedupe) and find exactly the duplicated substrings of
    length >= k.
    """
    sep = "\x1f"
    # explicit whitespace class, NOT \s: Java \s includes \x0B but
    # RE2 (the oracle engine) does not — the class below is the
    # engine-identical intersection spelled out on both sides
    toks = F.filter(F.split(F.col(text_col), r"[ \t\n\x0B\f\r]+"),
                    lambda x: x != F.lit(""))
    base = (spread(df)
            .select(F.col(id_col).alias("doc_id"), toks.alias("toks"))
            .withColumn("n_toks", F.size("toks")))

    # Window generation: guard short docs — F.sequence(1, n) with n < 1
    # would count DOWN, not produce an empty range.
    starts = F.when(F.col("n_toks") >= k,
                    F.sequence(F.lit(1), F.col("n_toks") - (k - 1))
                    ).otherwise(F.array().cast("array<int>"))
    # Persist the window-hash frame: it feeds BOTH the per-hash count
    # aggregate and the probe side of the dup-hash join — without the
    # lineage barrier each consumer re-runs tokenize + window explode +
    # md5 over the whole corpus (guide §8.1: materialize the
    # fingerprint pass; the frame is 3 narrow columns per window, the
    # text itself never enters it).
    w = persist_scoped(
        base.select("doc_id", "toks", F.explode(starts).alias("start"))
            .select("doc_id", "start",
                    F.md5(F.concat_ws(
                        sep, F.slice("toks", F.col("start"), k))).alias("h")),
        "dedup.exact_substring.windows")

    agg = (w.groupBy("h")
            .agg(F.count(F.lit(1)).alias("cnt"),
                 F.min(F.struct(F.col("doc_id").alias("d"),
                                F.col("start").alias("s"))).alias("frst"))
            .filter(F.col("cnt") >= min_count))
    dupw = (w.join(agg, "h")
             .filter(~((F.col("doc_id") == F.col("frst.d"))
                       & (F.col("start") == F.col("frst.s"))))
             .select("doc_id", F.col("start").alias("s"),
                     (F.col("start") + (k - 1)).alias("e")))

    # Gaps-and-islands merge of OVERLAPPING spans per doc (exactly
    # adjacent spans start a new island and stay distinct in n_spans).
    ow = Window.partitionBy("doc_id").orderBy("s", "e")
    pmax = F.max("e").over(ow.rowsBetween(Window.unboundedPreceding, -1))
    isl = (dupw.withColumn(
               "new_isl",
               F.when(pmax.isNull() | (F.col("s") > pmax), 1).otherwise(0))
               .withColumn("gid", F.sum("new_isl").over(ow)))
    spans = (isl.groupBy("doc_id", "gid")
                .agg(F.min("s").alias("s"), F.max("e").alias("e")))
    perdoc = (spans.groupBy("doc_id")
                   .agg(F.count(F.lit(1)).alias("n_spans"),
                        F.sort_array(F.collect_list(
                            F.struct("s", "e"))).alias("spans")))

    joined = base.join(perdoc, "doc_id", "left")
    spans_arr = F.coalesce(
        F.col("spans"), F.array().cast("array<struct<s:int,e:int>>"))
    # F.filter's index is 0-based; spans are 1-based token positions.
    kept = F.filter(
        F.col("toks"),
        lambda x, i: ~F.exists(
            spans_arr,
            lambda sp: (i + 1 >= sp["s"]) & (i + 1 <= sp["e"])))
    return (joined
            .withColumn("kept", kept)
            .select(
                "doc_id",
                F.coalesce(F.col("n_spans"), F.lit(0)).cast("long")
                 .alias("n_spans"),
                (F.col("n_toks") - F.size("kept")).cast("long")
                 .alias("removed_tokens"),
                F.size("kept").cast("long").alias("kept_tokens"),
                F.md5(F.concat_ws(" ", "kept")).alias("cleaned_md5")))
