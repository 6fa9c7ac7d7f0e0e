"""SSDeep fuzzy-hash similarity — real chunk/double-chunk semantics.

Reference: the SSDeep query stack under
warehouse/ssdeep-common/src/main/java/datawave/util/ssdeep/ and
warehouse/query-core/src/main/java/datawave/query/tables/ssdeep/:

- ``SSDeepHash.java`` — a hash is ``chunkSize:chunk:doubleChunk``
  (chunkSize = 3·2^k, chunk ≤ 64 chars, doubleChunk ≤ 32 chars at
  2×chunkSize resolution); ``normalizeSSDeepChunk`` (:191) collapses
  runs of > maxRepeatedCharacters (default 3) identical characters.
- ``NGramGenerator.java`` — indexing/query decomposition: every
  ngramSize=7 sliding substring of the chunk keyed by its chunk size,
  plus the doubleChunk's ngrams keyed by 2×chunkSize (:124-157);
  hashes with chunkSize·len(chunk) < minHashSize=64 are skipped.
- ``SSDeepNGramOverlapScorer.java`` — match score = size of the ngram
  tuple intersection.
- ``SSDeepHashEditDistanceScorer.java`` — weighted score 0-100:
  chunk-size-compatible pairs (equal or one exactly double) score via
  Levenshtein distance scaled by chunk lengths (:80-125).
- ``SSDeepSimilarityQueryLogic.java`` / ``SSDeepScoringFunction.java``
  — query hashes → ngrams → index lookup → candidate pairs → both
  scores, dropping pairs under ``minScore``.

Spark restatement: ngram decomposition is pure column expressions
(split / substr over a sequence); the candidate join is ONE equi-join
on (chunk_size, ngram) — the classic similarity-join shape; scoring is
JVM-side (``F.levenshtein`` + integer arithmetic mirroring the Java
int division exactly).  No Python UDFs anywhere.

Scale (100 TB): ngram fan-out is ≤ (64-6)+(32-6) rows per hash with a
short join key; the only shuffle is the candidate equi-join + pair
groupBy — both on derived short keys.  Hot ngrams (boilerplate chunks)
can be capped with ``max_bucket`` exactly like MinHash-LSH buckets.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

NGRAM_SIZE = 7
CHUNK_LENGTH = 64
DOUBLE_CHUNK_LENGTH = 32
MIN_CHUNK_SIZE = 3
DEFAULT_MAX_REPEATED = 3
DEFAULT_MIN_HASH_SIZE = 64
# Default hot-tuple cap: an ngram tuple carried by more target hashes
# than this is boilerplate (shared preamble chunks), and joining
# through it costs O(bucket²) candidate pairs for near-zero-score
# matches — the 10× scale probe showed 17× wall growth uncapped.  Same
# discipline as the index Uid.List cardinality cap; pass
# max_bucket=None to disable for exhaustive forensics runs.
DEFAULT_MAX_BUCKET = 200


def normalize_chunk(c: Column, max_repeated: int = DEFAULT_MAX_REPEATED) -> Column:
    """Collapse runs of > max_repeated identical characters to exactly
    max_repeated (SSDeepHash.normalizeSSDeepChunk:191).  0 disables."""
    if max_repeated <= 0:
        return c
    return F.regexp_replace(
        c, r"(.)\1{" + str(max_repeated) + r",}", "$1" * max_repeated)


def parse_hashes(df: DataFrame, hash_col: str, id_col: str,
                 max_repeated: int = DEFAULT_MAX_REPEATED) -> DataFrame:
    """→ (id, chunk_size, chunk, double_chunk), normalized.  Rows whose
    hash does not parse (no ':' / non-integer size) are dropped, as the
    reference logs-and-skips SSDeepParseException."""
    parts = F.split(F.col(hash_col), ":")
    cs = F.element_at(parts, 1).try_cast("int")
    chunk = normalize_chunk(F.element_at(parts, 2), max_repeated)
    dchunk = normalize_chunk(
        F.coalesce(F.element_at(parts, 3), F.lit("")), max_repeated)
    return (df.select(F.col(id_col).alias("id"), cs.alias("chunk_size"),
                      chunk.alias("chunk"), dchunk.alias("double_chunk"))
            .filter(F.col("chunk_size").isNotNull()
                    & F.col("chunk").isNotNull()))


def _chunk_ngrams(chunk: Column, n: int = NGRAM_SIZE) -> Column:
    """All sliding n-char substrings (possibly with duplicates; callers
    dedup via array_distinct after keying)."""
    count = F.length(chunk) - (n - 1)
    return F.when(count >= 1,
                  F.transform(F.sequence(F.lit(1), count),
                              lambda i: chunk.substr(i, F.lit(n)))) \
        .otherwise(F.array().cast("array<string>"))


def hash_ngrams(parsed: DataFrame, ngram_size: int = NGRAM_SIZE,
                min_hash_size: int = DEFAULT_MIN_HASH_SIZE) -> DataFrame:
    """(id, chunk_size, ngram) tuples — NGramGenerator.generateNgrams
    parity: chunk ngrams keyed by chunk_size, double-chunk ngrams keyed
    by 2×chunk_size, deduplicated per hash (the reference collects into
    a Set)."""
    cs = F.col("chunk_size")
    sized = parsed.filter((cs * F.length("chunk")) >= min_hash_size)
    tup = lambda size, g: F.struct(size.cast("int").alias("chunk_size"),  # noqa: E731
                                   g.alias("ngram"))
    tuples = F.array_distinct(F.concat(
        F.transform(_chunk_ngrams(F.col("chunk"), ngram_size),
                    lambda g: tup(cs, g)),
        F.transform(_chunk_ngrams(F.col("double_chunk"), ngram_size),
                    lambda g: tup(cs * 2, g)),
    ))
    return (sized.select("id", F.explode(tuples).alias("t"))
            .select("id", F.col("t.chunk_size").alias("chunk_size"),
                    F.col("t.ngram").alias("ngram")))


def _score_chunks(s1: Column, s2: Column, cs: Column) -> Column:
    """SSDeepHashEditDistanceScorer.scoreChunks (:80-125) with Java int
    division mirrored via floor (all operands non-negative)."""
    l1, l2 = F.length(s1), F.length(s2)
    denom = l1 + l2
    ed = F.levenshtein(s1, s2)
    base = F.floor(ed * CHUNK_LENGTH / denom)
    rescaled = F.floor(base * 100 / CHUNK_LENGTH)
    inverted = F.when(rescaled >= 100, F.lit(0)).otherwise(100 - rescaled)
    threshold = F.floor(cs / MIN_CHUNK_SIZE) * F.least(l1, l2)
    capped = F.least(inverted, threshold)
    return F.when((l1 > CHUNK_LENGTH) | (l2 > CHUNK_LENGTH)
                  | (denom == 0), F.lit(0)).otherwise(capped).cast("int")


def edit_distance_score(cs1: Column, c1: Column, d1: Column,
                        cs2: Column, c2: Column, d2: Column) -> Column:
    """SSDeepHashEditDistanceScorer.apply: chunk sizes must be equal or
    one exactly double; pick the comparable chunk pair."""
    return (F.when(cs1 == cs2,
                   F.greatest(_score_chunks(c1, c2, cs1),
                              _score_chunks(d1, d2, cs2)))
            .when(cs1 == cs2 * 2, _score_chunks(c1, d2, cs1))
            .when(cs2 == cs1 * 2, _score_chunks(d1, c2, cs2))
            .otherwise(F.lit(0)).cast("int"))


def text_fixture_hashes(docs: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """Deterministic ssdeep-format hashes (chunkSize:chunk:doubleChunk)
    derived from document text, reproducible bit-for-bit in DuckDB:
    chunk char i = first hex char of md5(word-2-gram i); doubleChunk =
    the same at half resolution (odd grams, 'd'-salted); chunkSize
    depends on token count.  Near-duplicate texts therefore share chunk
    substrings, exactly like real ssdeep.  This is the INGEST-side
    builder (the reference treats ssdeep hashes as ingest data —
    warehouse/ingest-ssdeep feeds the ssdeepIndex table); run once and
    store via sources.prepared.ssdeep_hashes, never per query."""
    toks = F.filter(F.split(F.lower(F.col(text_col)), "[^a-z0-9]+"),
                    lambda t: t != "")
    # materialize the token array (explode→collect) so the gram lambdas
    # slice real data instead of re-running the tokenizer per element
    tok = docs.select(F.col(id_col),
                      F.posexplode(toks).alias("pos", "tok"))
    arr = (tok.groupBy(id_col)
           .agg(F.transform(F.array_sort(F.collect_list(
               F.struct("pos", "tok"))),
               lambda s: s.getField("tok")).alias("t")))
    t = F.col("t")
    n = F.size(t)
    grams = F.when(n >= 2, F.transform(
        F.sequence(F.lit(1), n - 1),
        lambda i: F.concat_ws(" ", F.element_at(t, i),
                              F.element_at(t, i + 1)))) \
        .otherwise(F.array().cast("array<string>"))
    with_g = arr.select(id_col, grams.alias("g"))
    g = F.col("g")
    dg = F.filter(g, lambda x, i: i % 2 == 0)  # 1-based odd positions
    chunk = F.array_join(
        F.transform(F.slice(g, 1, 64),
                    lambda x: F.substring(F.md5(x), 1, 1)), "")
    dchunk = F.array_join(
        F.transform(F.slice(dg, 1, 32),
                    lambda x: F.substring(F.md5(F.concat(F.lit("d"), x)),
                                          1, 1)), "")
    cs = F.when(F.size(g) + 1 < 40, 96).when(F.size(g) + 1 < 80, 192) \
        .otherwise(384)
    base = with_g.select(
        id_col,
        F.concat_ws(":", cs.cast("string"), chunk, dchunk).alias("ssdeep"))
    # docs with no tokens never enter the explode — restore them with an
    # unscorable (empty-chunk) hash, as the reference skips sub-minimum
    # hashes rather than erroring
    return (docs.select(id_col).join(base, id_col, "left")
            .withColumn("ssdeep", F.coalesce(F.col("ssdeep"),
                                             F.lit("96::"))))


def ssdeep_similarity_join(queries: DataFrame, targets: DataFrame,
                           hash_col: str, id_col: str,
                           ngram_size: int = NGRAM_SIZE,
                           max_repeated: int = DEFAULT_MAX_REPEATED,
                           min_hash_size: int = DEFAULT_MIN_HASH_SIZE,
                           min_score: int = 0,
                           max_bucket: int | None = DEFAULT_MAX_BUCKET
                           ) -> DataFrame:
    """SSDeepSimilarityQueryLogic: → (query_id, match_id, match_score,
    weighted_score).

    ``match_score`` = overlapping ngram-tuple count
    (SSDeepNGramOverlapScorer), ``weighted_score`` = 0-100 edit-distance
    score; pairs under ``min_score`` (weighted) are dropped
    (SSDeepScoringFunction.MIN_SSDEEP_SCORE_PARAMETER).  ``max_bucket``
    (ON by default — DEFAULT_MAX_BUCKET) drops ngram tuples shared by
    more target hashes than the cap (hot boilerplate chunks — the
    Uid.List cardinality-cap analog); pass None to disable."""
    # The parsed frames are referenced several times in the final plan
    # (ngram branch, cap-sizes branch, scoring join) — persist them so
    # an expensive upstream (inline hash derivation, a filtered scan)
    # runs once, not once per reference.  Rows are one-per-hash with
    # three short strings, far smaller than whatever produced them.
    # Per-call cache slots (bounded FIFO): two similarity joins
    # composed lazily (e.g. unioned) keep both parses cached.
    from datawave_spark.util import persist_scoped
    pq = persist_scoped(parse_hashes(queries, hash_col, id_col, max_repeated),
                        "ssdeep.parse", keep=4)
    pt = persist_scoped(parse_hashes(targets, hash_col, id_col, max_repeated),
                        "ssdeep.parse", keep=4)
    qn = hash_ngrams(pq, ngram_size, min_hash_size) \
        .withColumnRenamed("id", "query_id")
    tn = hash_ngrams(pt, ngram_size, min_hash_size) \
        .withColumnRenamed("id", "match_id")
    if max_bucket is not None:
        # no explicit broadcast: sizes grows with the corpus' distinct
        # ngram tuples, so the join strategy is AQE's call (broadcast
        # while it fits, sort-merge at 100 TB)
        sizes = (tn.groupBy("chunk_size", "ngram").count()
                 .filter(F.col("count") <= max_bucket).drop("count"))
        tn = tn.join(sizes, ["chunk_size", "ngram"])
    overlap = (qn.join(tn, ["chunk_size", "ngram"])
               .filter(F.col("query_id") != F.col("match_id"))
               .groupBy("query_id", "match_id")
               .agg(F.count(F.lit(1)).alias("match_score")))
    q = pq.select(F.col("id").alias("query_id"),
                  F.col("chunk_size").alias("cs_q"),
                  F.col("chunk").alias("c_q"),
                  F.col("double_chunk").alias("d_q"))
    t = pt.select(F.col("id").alias("match_id"),
                  F.col("chunk_size").alias("cs_t"),
                  F.col("chunk").alias("c_t"),
                  F.col("double_chunk").alias("d_t"))
    scored = (overlap.join(q, "query_id").join(t, "match_id")
              .withColumn("weighted_score", edit_distance_score(
                  F.col("cs_q"), F.col("c_q"), F.col("d_q"),
                  F.col("cs_t"), F.col("c_t"), F.col("d_t"))))
    out = scored.select("query_id", "match_id", "match_score",
                        "weighted_score")
    if min_score > 0:
        out = out.filter(F.col("weighted_score") >= min_score)
    return out


def ssdeep_discovery(corpus: DataFrame, hash_col: str, id_col: str,
                     query_hashes: DataFrame,
                     qh_col: str = "ssdeep") -> DataFrame:
    """SSDeepDiscoveryQueryLogic (query/tables/ssdeep/
    SSDeepDiscoveryQueryLogic.java): EXACT lookup of query hashes in
    the stored ssdeep column — per matching hash, its occurrence count
    and first carrier: (ssdeep, n_docs, first_doc).  One semi-shaped
    equi-join on the hash string, aggregation on the (short) hash key."""
    qh = query_hashes.select(F.col(qh_col).alias("__qh")).distinct()
    return (corpus.join(qh, corpus[hash_col] == qh["__qh"], "left_semi")
            .groupBy(F.col(hash_col).alias("ssdeep"))
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.min(F.col(id_col)).alias("first_doc")))


def ssdeep_chained_discovery(queries: DataFrame, corpus: DataFrame,
                             hash_col: str, id_col: str,
                             max_repeated: int = DEFAULT_MAX_REPEATED,
                             max_bucket: int | None = DEFAULT_MAX_BUCKET) -> DataFrame:
    """SSDeepChainedDiscoveryQueryLogic + FullSSDeepDiscoveryChainStrategy
    (same dir): stage 1 runs the similarity join (fuzzy — ngram-tuple
    candidates), stage 2 feeds every MATCHED hash into the exact
    discovery lookup for its corpus occurrence info — 'what similar
    hashes exist, and how widespread is each'."""
    # candidate generation ONLY — the chained logic discards scores, so
    # running the full similarity join would drag every candidate pair
    # through the two scoring joins (parsed query + parsed target)
    # whose outputs are thrown away
    from datawave_spark.util import persist_scoped
    pq = parse_hashes(queries, hash_col, id_col, max_repeated)
    # the corpus parse feeds both the ngram branch and the cap-sizes
    # branch — persist so an expensive upstream runs once; per-call
    # slot so lazily-composed chained lookups keep both caches
    pt = persist_scoped(
        parse_hashes(corpus, hash_col, id_col, max_repeated),
        "ssdeep.chained", keep=2)
    qn = hash_ngrams(pq).withColumnRenamed("id", "query_id")
    tn = hash_ngrams(pt).withColumnRenamed("id", "match_id")
    if max_bucket is not None:
        # sizes scales with distinct corpus tuples — join strategy is
        # AQE's call, not a forced broadcast
        sizes = (tn.groupBy("chunk_size", "ngram").count()
                 .filter(F.col("count") <= max_bucket).drop("count"))
        tn = tn.join(sizes, ["chunk_size", "ngram"])
    matched = (qn.join(tn, ["chunk_size", "ngram"])
               .filter(F.col("query_id") != F.col("match_id"))
               .select(F.col("match_id").alias("__mid")).distinct())
    matched_hashes = (corpus
                      .join(matched, corpus[id_col] == matched["__mid"],
                            "left_semi")
                      .select(F.col(hash_col).alias("ssdeep")).distinct())
    return ssdeep_discovery(corpus, hash_col, id_col, matched_hashes)
