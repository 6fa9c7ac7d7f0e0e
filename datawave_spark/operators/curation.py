"""Corpus-curation operators for large-scale training-data pipelines.

These are the selection/mixing stages that sit next to dedup in a
100 TB data pipeline — beyond the reference's query surface, but built
from the same discipline: deterministic md5-based randomness (an
external oracle reproduces every decision bit-for-bit), pure column
expressions in the hot path, shuffles only on short derived keys.

- ``stratified_sample``  — per-stratum Bernoulli sampling keyed on
  md5(id): a deterministic coin that is stable across runs, engines
  and cluster sizes (no RNG state, no partition sensitivity).  The
  hex-prefix comparison makes the keep decision a codegen'd string
  compare pushable all the way into the scan.
- ``repetition_ratios``  — Gopher-style repetition quality signals
  (Rae et al. '21 §A1.3): duplicate-token and duplicate-n-gram
  fractions as row-wise array expressions; heavy repetition is the
  classic low-quality-document marker.
- ``decontaminate``      — benchmark-overlap flagging: documents
  sharing any word k-gram with a held-out/benchmark set.  The
  benchmark gram set is tiny → broadcast semi-join; corpus grams are
  a row-wise explode of stored token arrays.
- ``pack_sequences``     — deterministic next-fit packing of documents
  into fixed token-budget bins per stratum: one window cumsum, no
  driver loop; bin ids are stable under re-partitioning because the
  order key is the document id.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

TOKEN_RE = "[^a-z0-9]+"


def _tokens(col) -> Column:
    return F.filter(F.split(F.lower(col), TOKEN_RE), lambda t: t != "")


def _hex_threshold(rate: float) -> str:
    """8-hex-digit threshold such that P(md5_prefix < t) == rate for a
    uniform hash — lexicographic compare on lowercase hex is order-
    isomorphic to the numeric value, so no hex→int cast is needed in
    either engine."""
    return format(min(max(int(rate * 2 ** 32), 0), 2 ** 32 - 1), "08x")


def stratified_sample(df: DataFrame, id_col: str, strata_col: str,
                      rates: dict[str, float],
                      default_rate: float = 1.0) -> DataFrame:
    """Keep each row iff md5(id)[:8] < stratum threshold — deterministic
    per-stratum Bernoulli sampling (the data-mixing knob: up/down-weight
    sources without materializing intermediate copies).  The decision
    depends only on the row's id, so resampling with a changed mix keeps
    maximal overlap with the previous sample (consistent sampling)."""
    coin = F.substring(F.md5(F.col(id_col).cast("string")), 1, 8)
    thr: Column = F.lit(_hex_threshold(default_rate))
    for key, rate in sorted(rates.items()):
        thr = F.when(F.col(strata_col) == key,
                     F.lit(_hex_threshold(rate))).otherwise(thr)
    return df.filter(coin < thr)


def repetition_ratios(df: DataFrame, text_col: str, id_col: str,
                      round_to: int = 4) -> DataFrame:
    """Gopher-style repetition signals per document:

    - ``dup_token_ratio``  = 1 − |distinct tokens| / |tokens|
    - ``dup_2gram_ratio``  = 1 − |distinct 2-grams| / |2-grams|
    - ``dup_3gram_ratio``  = 1 − |distinct 3-grams| / |3-grams|

    All row-wise array expressions (no shuffle, no UDF); a curation
    pass filters on these (e.g. drop dup_3gram_ratio > 0.2).

    The token array is materialized behind a persist barrier before the
    gram lambdas: each gram references the array k times, and Catalyst's
    projection collapse would otherwise re-run the regex tokenizer per
    reference (the dedup.shingles lesson — measured 50× blowup on the
    raw-expression formulation at sf0.1)."""
    from datawave_spark.util import spread
    t = F.col("__t")
    out = spread(df).select(F.col(id_col),
                            _tokens(F.col(text_col)).alias("__t")).persist()

    def gram_ratio(k: int) -> Column:
        # reference the gram-building transform exactly ONCE: codegen
        # does not share lambda-bearing subexpressions, so a second
        # reference (e.g. size(grams) for the denominator) would build
        # the gram array twice per row — the total is n-k+1 by
        # construction, no need to ask the array
        n = F.size(t)
        total = n - (k - 1)
        grams = F.when(total >= 1, F.transform(
            F.sequence(F.lit(1), total),
            lambda i: F.concat_ws(
                " ", *[F.element_at(t, i + j) for j in range(k)]))) \
            .otherwise(F.array().cast("array<string>"))
        return F.when(total >= 1,
                      F.round(1 - F.size(F.array_distinct(grams)) / total,
                              round_to)).otherwise(F.lit(0.0))

    dup_tok = F.when(F.size(t) > 0,
                     F.round(1 - F.size(F.array_distinct(t)) / F.size(t),
                             round_to)).otherwise(F.lit(0.0))
    return out.select(id_col, dup_tok.alias("dup_token_ratio"),
                      gram_ratio(2).alias("dup_2gram_ratio"),
                      gram_ratio(3).alias("dup_3gram_ratio"))


def _word_kgrams(toks: Column, k: int) -> Column:
    n = F.size(toks)
    return F.when(n >= k, F.array_distinct(F.transform(
        F.sequence(F.lit(1), n - (k - 1)),
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, i + j) for j in range(k)])))) \
        .otherwise(F.array().cast("array<string>"))


def decontaminate(corpus: DataFrame, benchmark: DataFrame, text_col: str,
                  id_col: str, k: int = 5) -> DataFrame:
    """Benchmark contamination check: (id, n_shared) for corpus
    documents sharing ≥1 word k-gram with any benchmark document — the
    standard eval-leakage guard before training.  Benchmark grams are
    DISTINCT and tiny → broadcast; the corpus side is one row-wise
    explode + a broadcast semi-ish inner join + one groupBy, so the
    only shuffle is the final per-document count.  Token arrays sit
    behind a persist barrier (see ``repetition_ratios``) so the gram
    lambdas slice stored data instead of re-tokenizing per element."""
    from datawave_spark.util import spread
    btoks = (benchmark.select(_tokens(F.col(text_col)).alias("__t"))
             .persist())
    bench_grams = (btoks
                   .select(F.explode(_word_kgrams(F.col("__t"), k))
                           .alias("gram"))
                   .distinct())
    ctoks = (spread(corpus)
             .select(F.col(id_col).alias("id"),
                     _tokens(F.col(text_col)).alias("__t")).persist())
    corpus_grams = ctoks.select(
        "id", F.explode(_word_kgrams(F.col("__t"), k)).alias("gram"))
    return (corpus_grams.join(F.broadcast(bench_grams), "gram")
            .groupBy("id")
            .agg(F.count(F.lit(1)).alias("n_shared")))


def pack_sequences(df: DataFrame, id_col: str, strata_col: str,
                   size_col: str, budget: int) -> DataFrame:
    """Deterministic next-fit sequence packing: within each stratum,
    documents in id order fill fixed ``budget``-sized bins; a document
    whose size straddles the boundary opens the next bin (its own
    tokens count toward the bin it opens).  One window cumsum — the
    whole packing is a single shuffle on the stratum key, and bin ids
    are reproducible because the order key is the id, not arrival
    order.  (True optimal bin packing is NP-hard and order-dependent;
    next-fit in id order is the distributed-stable choice.)"""
    w = Window.partitionBy(strata_col).orderBy(id_col) \
        .rowsBetween(Window.unboundedPreceding, 0)
    cum = F.sum(F.col(size_col)).over(w)
    bin_id = F.floor((cum - F.col(size_col)) / F.lit(budget))
    return df.select(F.col(id_col), F.col(strata_col),
                     F.col(size_col).cast("long").alias("size"),
                     bin_id.cast("long").alias("bin"))


# PII categories, applied IN ORDER (earlier patterns must not leave
# fragments later ones would mangle: email before phone so the local
# part's digits survive, IP before phone so dotted quads aren't eaten
# by the phone separator class).  Patterns stay inside the syntax
# intersection of Java regex (Spark) and RE2 (DuckDB/oracle): no
# backrefs, no lookaround.
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("ip", r"\b(?:\d{1,3}\.){3}\d{1,3}\b"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b"),
    ("card", r"\b\d{4}[ -]\d{4}[ -]\d{4}[ -]\d{2,4}\b"),
    # no leading \b: it cannot assert before an optional "(" (space→"("
    # is a non-word/non-word position, so \b\(? would reject "(555) ..")
    ("phone", r"(?:\+\d{1,2}[ .-]?)?\(?\d{3}\)?[ .-]\d{3}[ .-]\d{4}\b"),
)


def redact_pii(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Content-level masking for training corpora: replace emails / IPs
    / SSNs / card numbers / phone numbers with ``<CATEGORY>`` tokens and
    count replacements per category — the LLM-pipeline analog of the
    reference's field-level masking (visibility.py field masking /
    ColumnVisibility), applied inside free text before it can reach a
    training set.

    Pure ``regexp_replace``/``regexp_count`` column chain — codegen'd,
    zero shuffle, linear scan at any scale.  Counts are taken against
    the ORIGINAL text per category (order-independent), replacements
    cascade in PII_PATTERNS order."""
    out = df.select(F.col(id_col), F.col(text_col).alias("__text"))
    red = F.col("__text")
    cols = []
    for cat, pat in PII_PATTERNS:
        cols.append(F.regexp_count(F.col("__text"), F.lit(pat))
                    .alias(f"n_{cat}"))
        red = F.regexp_replace(red, pat, f"<{cat.upper()}>")
    return out.select(F.col(id_col), red.alias("redacted"), *cols)


# tracking query parameters stripped by canonicalize_urls (the CCNet/
# C4-style crawl-dedup normalization set)
_TRACKING_PARAMS = ("utm_[a-z]+", "gclid", "fbclid", "ref", "mc_eid")


def canonicalize_urls(df: DataFrame, url_col: str, id_col: str) -> DataFrame:
    """Web-crawl URL canonicalization → exact-dedup key: lowercase the
    scheme+host, drop ``www.``, strip fragments, strip tracking query
    parameters (utm_*, gclid, fbclid, ref, mc_eid), drop an emptied
    ``?``, and trim a trailing slash.  Emits the canonical form and its
    md5 — the join/groupBy key for crawl dedup, so two fetches of the
    same logical page collapse regardless of tracker decoration.

    All regexp_replace column expressions (RE2-safe, oracle-matched in
    DuckDB), no shuffle; the downstream dedup shuffles on the 32-char
    md5, never the raw URL."""
    # scheme+host lowercase (path stays case-sensitive): split on the
    # first /?# after the authority and reassemble
    _AUTH = r"^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)"
    u = F.concat(F.lower(F.regexp_extract(F.col(url_col), _AUTH, 1)),
                 F.regexp_replace(F.col(url_col), _AUTH, ""))
    u = F.regexp_replace(u, r"^(https?://)www\.", r"$1")
    u = F.regexp_replace(u, r"#.*$", "")
    for p in _TRACKING_PARAMS:
        u = F.regexp_replace(u, rf"([?&]){p}=[^&#]*", r"$1")
    u = F.regexp_replace(u, r"\?&+", "?")           # "?&id" → "?id"
    u = F.regexp_replace(u, r"&&+", "&")            # "&&"  → "&"
    u = F.regexp_replace(u, r"[?&]$", "")           # emptied query
    u = F.regexp_replace(u, r"/$", "")
    return df.select(F.col(id_col), u.alias("canonical_url"),
                     F.md5(u).alias("url_key"))


def remove_duplicate_spans(df: DataFrame, text_col: str, id_col: str,
                           span_tokens: int = 10) -> DataFrame:
    """Corpus-WIDE duplicate-span removal with keep-first semantics —
    the C4 (Raffel et al. '20 §2.2) / RefinedWeb line-dedup stage,
    restated over fixed ``span_tokens`` token windows (the synthetic
    corpus has no newline structure; on real data the span split is
    the line split).  Every span that appeared earlier in the corpus
    (earlier = smaller (id, position)) is deleted from later documents;
    documents are reassembled from their surviving spans, and documents
    whose every span was seen before disappear (C4 drops emptied docs).

    Scale shape: spans explode row-wise, then ONE map-side-combinable
    aggregation ``groupBy(span).agg(min(struct(id, pos)))`` picks each
    span's first occurrence — the winner row already carries everything
    needed, so there is no join back, and a boilerplate span repeated
    in millions of documents is absorbed by partial aggregation instead
    of melting one reducer (the row_number()-window formulation has
    exactly that hot-partition failure at 100 TB).  Reassembly is one
    groupBy(id).  Total: 2 shuffles, both on short keys.
    """
    toks = _tokens(F.col(text_col))
    n_spans = F.ceil(F.size(toks) / F.lit(float(span_tokens))).cast("int")
    spans = F.when(n_spans >= 1, F.transform(
        F.sequence(F.lit(1), n_spans),
        lambda i: F.concat_ws(" ", F.slice(
            toks, (i - 1) * span_tokens + 1, span_tokens)))
    ).otherwise(F.array().cast("array<string>"))
    ex = df.select(F.col(id_col).alias("id"),
                   F.posexplode(spans).alias("pos", "span"))
    firsts = (ex.groupBy("span")
              .agg(F.min(F.struct("id", "pos")).alias("first")))
    return (firsts.select(F.col("first.id").alias("id"),
                          F.col("first.pos").alias("pos"), "span")
            .groupBy("id")
            .agg(F.concat_ws(" ", F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "span"))),
                lambda s: s["span"])).alias("text")))


def rebalance_mix(df: DataFrame, id_col: str, strata_col: str,
                  weight_col: str, targets: dict[str, float]) -> DataFrame:
    """Mixture rebalancing: compute per-stratum keep-rates so the
    sampled corpus's WEIGHT shares (tokens/chars) match a target
    distribution, then apply the deterministic md5 coin — the
    data-mixing stage that turns "we want 50% web / 30% books / 20%
    code" into per-source sampling, downsampling only (no duplication).

    Math: with stratum weights W_s and target shares t_s, the largest
    achievable corpus keeps ``c = min_s(W_s / t_s)`` total weight, so
    stratum s keeps rate ``r_s = c * t_s / W_s`` (the binding stratum
    keeps everything).  Strata absent from ``targets`` are dropped.

    A ``targets`` key with no data (stratum absent, or present with
    zero total weight) RAISES instead of degrading: absent keys would
    silently skew the realized shares away from the request, and a
    zero-weight stratum would drive ``c`` to 0 and drop every row of
    every stratum.  The guard is a bounded read — at most
    ``len(targets)`` aggregate rows, never the corpus.

    Plan shape: ONE stratum-count-sized aggregate job (map-side
    combined, pruned to the target strata at the scan) feeds BOTH the
    guard and the rate derivation — the rates are computed from that
    bounded read on the driver (len(targets) doubles; the same IEEE
    ops in the same association order as the SQL restatement, so the
    derived rates are bit-identical) and applied as a literal CASE
    over the corpus: zero joins, zero persists, zero extra jobs on
    the main pass, so the same code runs at 100 TB.  ``weight_col``
    must be integral: integer sums are order-exact, which keeps the
    derived rates bit-identical across engines and partitionings (the
    oracle recomputes them).  The coin compares the md5 prefix
    NUMERICALLY (hex→int/2^32) against the derived double rate."""
    if any(float(t) < 0.0 for t in targets.values()):
        raise ValueError("rebalance_mix: target shares must be >= 0")
    # A 0.0 share is an explicit "none of this stratum" — it is dropped
    # (no rate bound, NULL rate below) and takes no part in the guard
    # or the binding-stratum min, which would otherwise divide by zero.
    pos = {k: float(t) for k, t in targets.items() if float(t) > 0.0}
    if not pos:
        raise ValueError("rebalance_mix: no positive target shares")
    have = {r[0]: r[1] for r in
            df.filter(F.col(strata_col).isin(list(pos)))
              .groupBy(strata_col)
              .agg(F.sum(F.col(weight_col)).cast("double").alias("__w"))
              .collect()}
    bad = sorted(k for k in pos if have.get(k, 0.0) <= 0.0)
    if bad:
        raise ValueError(
            f"rebalance_mix: targets name strata with no weight in the "
            f"data: {bad} — realized shares cannot match the request")
    # c = min_s(W_s / t_s); r_s = c * t_s / W_s — double division,
    # min, multiply in exactly the order the oracle SQL uses
    c = min(have[k] / pos[k] for k in pos)
    rate_expr = None
    for k in sorted(pos):
        r = c * pos[k] / have[k]
        cond = F.col(strata_col) == F.lit(k)
        rate_expr = F.when(cond, F.lit(r)) if rate_expr is None \
            else rate_expr.when(cond, F.lit(r))
    coin = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8),
                  16, 10).cast("double") / F.lit(4294967296.0)
    # strata absent from targets get a NULL rate -> comparison is NULL
    # -> filtered, which is exactly the documented drop semantics
    return df.filter(coin < rate_expr)


def hash_split(df: DataFrame, id_col: str,
               fractions: dict[str, float],
               out_col: str = "split",
               salt: str = "split",
               remainder: str | None = None) -> DataFrame:
    """Deterministic train/val/test assignment: the md5 coin of
    (salt, id) is binned into cumulative-fraction intervals IN THE
    DICT'S INSERTION ORDER, so every row lands in exactly one split and
    assignment is reproducible across runs/engines.  Interval order
    matters for the consistent-hashing property: an existing split
    keeps exactly its rows as long as the splits BEFORE it keep their
    names and fractions — so carve a new split by APPENDING it (and
    shrinking the last split), never by inserting it earlier, or rows
    silently migrate between existing splits (held-out contamination).
    `randomSplit` has no such property at all: its assignment changes
    with partitioning.  The salt keeps independent splitting decisions
    (e.g. a second eval carve-out) uncorrelated with each other and
    with ``stratified_sample`` coins.

    Fractions must sum to ~1 (each row gets exactly one label, and the
    final interval's hi is forced to the max hex so there is no
    unassigned sliver).  To carve out less than the whole corpus —
    e.g. a 1% sample — name the remainder explicitly via
    ``remainder``: ``hash_split(df, id, {"sample": 0.01},
    remainder="rest")``.  A sub-1 sum WITHOUT a remainder name is an
    error, because silently widening the last split would turn a 1%
    carve-out into 100% of rows labeled "sample".  Zero shuffle: one
    codegen'd CASE over an md5 prefix, pushable below any downstream
    operator."""
    total = sum(fractions.values())
    if not 0 < total <= 1 + 1e-9:
        raise ValueError(f"fractions must sum to (0, 1], got {total}")
    if remainder is None and total < 1 - 1e-9:
        raise ValueError(
            f"fractions sum to {total}; name the remaining "
            f"{1 - total:.4g} explicitly (remainder=...) or make the "
            f"fractions sum to 1")
    items = list(fractions.items())
    if remainder is not None:
        if remainder in fractions:
            raise ValueError(f"remainder name {remainder!r} collides "
                             f"with a named split")
        # appending preserves the consistent-hashing property for the
        # named splits; the remainder takes [total, 1).  When the named
        # fractions already cover ~1 the remainder is EMPTY and must not
        # be appended: a zero-width terminal interval would steal the
        # forced 'ffffffff' endpoint from the last real split, making
        # the call differ from the identical no-remainder call.
        if total < 1 - 1e-9:
            items.append((remainder, 1 - total))
    coin = F.substring(
        F.md5(F.concat(F.lit(salt + ":"), F.col(id_col).cast("string"))),
        1, 8)
    expr = None
    cum = 0.0
    for i, (name, frac) in enumerate(items):
        cum += frac
        hi = "ffffffff" if i == len(items) - 1 else _hex_threshold(cum)
        cond = coin <= F.lit(hi) if i == len(items) - 1 \
            else coin < F.lit(hi)
        expr = F.when(cond, F.lit(name)) if expr is None \
            else expr.when(cond, F.lit(name))
    return df.withColumn(out_col, expr)


def domain_cap(df: DataFrame, id_col: str, domain_col: str,
               max_per_domain: int,
               order_col: str | None = None,
               descending: bool = False) -> DataFrame:
    """Per-domain quota: keep at most ``max_per_domain`` rows per
    domain, preferring the best by ``order_col`` (ties and the default
    use ascending id — deterministic).  The hot-domain downsampling
    step of crawl curation (a handful of domains dominate a crawl the
    way hot keys dominate a shuffle).

    One window over (domain) with a rank cut: Spark computes it as a
    single hash-partitioned sort per domain — no driver collect, no
    join.  A domain with billions of rows is itself a skew hazard:
    for those, pre-filter with ``stratified_sample`` on the domain to
    near the cap first (two-phase cap), which this function composes
    with."""
    from pyspark.sql import Window
    if order_col is None and descending:
        raise ValueError("descending=True requires order_col")
    order = [F.col(order_col).desc() if descending else F.col(order_col),
             F.col(id_col)] if order_col else [F.col(id_col)]
    w = Window.partitionBy(domain_col).orderBy(*order)
    return (df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= max_per_domain)
            .drop("__rn"))


def dsir_topk(df: DataFrame, target: DataFrame, text_col: str,
              id_col: str, k: int = 100) -> DataFrame:
    """Data Selection via Importance Resampling, rank variant (DSIR,
    Xie et al. 2023, arXiv:2302.03169): score each corpus document by
    the mean per-token log-ratio of a TARGET unigram LM (the benchmark
    / domain sample you want more of) to the CORPUS unigram LM, and
    keep the top-k most target-like documents.

    p_target is add-1 smoothed over the corpus vocabulary (a corpus
    token absent from the target must score finitely, not -inf);
    p_corpus needs no smoothing (every scored token occurs).  Rounded
    half-up at 4dp with doc_id tie-break so the DuckDB oracle replays
    the arithmetic bit-for-bit.

    Shape (r11 optimization pass, guide §2.3/§2.4): ONE corpus
    tokenization and ONE target tokenization.  The corpus token counts
    are persisted (vocabulary-sized — the lineage barrier stops every
    aggregate over them from re-deriving the explode+groupBy subtree:
    the previous formulation re-tokenized the corpus 3× and the target
    2× through unigram_counts/agg re-derivations), the per-token
    log-ratio is computed once in the vocab-sized table, and the token
    explosion joins that ONE broadcast table.  Same arithmetic on the
    same inputs — bit-identical scores."""
    from datawave_spark.operators.text import tokens
    from datawave_spark.util import persist_scoped, spread
    ex = spread(df, sized=True).select(F.col(id_col).alias("id"),
                           F.explode(tokens(F.col(text_col))).alias("token"))
    cnt = persist_scoped(
        ex.groupBy("token").agg(F.count(F.lit(1)).alias("nc")),
        "curation.dsir.corpus_lm")
    tot = cnt.agg(F.sum("nc").cast("double").alias("tc"),
                  F.count(F.lit(1)).cast("double").alias("v"))
    tex = spread(target, sized=True).select(
        F.explode(tokens(F.col(text_col))).alias("token"))
    tcnt = persist_scoped(
        tex.groupBy("token").agg(F.count(F.lit(1)).alias("nt")),
        "curation.dsir.target_lm")
    ttot = tcnt.agg(F.coalesce(F.sum("nt"), F.lit(0))
                    .cast("double").alias("tt"))
    # per-token log-ratio, computed ONCE in the vocabulary-sized table
    # (identical IEEE ops on identical nc/tc/nt/tt/v values as the
    # per-row formulation it replaces)
    lr = (F.log((F.coalesce(F.col("nt"), F.lit(0)) + 1)
                / (F.col("tt") + F.col("v")))
          - F.log(F.col("nc") / F.col("tc")))
    lr_tbl = (cnt.join(tcnt, "token", "left")
              .crossJoin(F.broadcast(tot)).crossJoin(F.broadcast(ttot))
              .select("token", lr.alias("__lr")))
    scored = (ex.join(F.broadcast(lr_tbl), "token")
              .groupBy("id")
              .agg(F.count(F.lit(1)).alias("n_tokens"),
                   F.sum("__lr").alias("__s")))
    score = F.floor(F.col("__s") / F.col("n_tokens") * 10000
                    + F.lit(0.5)) / 10000.0
    return (scored.select(F.col("id").alias(id_col), "n_tokens",
                          score.alias("avg_logratio"))
            .orderBy(F.desc("avg_logratio"), id_col).limit(k))


# Gopher quality-rule stopword set (Rae et al. 2021, arXiv:2112.11446
# §A1.1: a document must contain >= 2 of these 8 words).
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality_flags(df: DataFrame, text_col: str,
                         id_col: str) -> DataFrame:
    """The full Gopher document-quality rule set (arXiv:2112.11446
    §A1.1) as per-document boolean flags + overall pass:

    - 50 <= word count <= 100,000
    - 3 <= mean word length <= 10
    - symbol-to-word ratio (# and ...) <= 0.1
    - <= 90% of lines start with a bullet; <= 30% end with an ellipsis
    - >= 80% of words contain an alphabetic character
    - >= 2 of the 8 required stopwords present

    Words are whitespace-delimited (Gopher's definition — NOT the
    lowercase-alnum tokenizer the LM ops use).  All pure column
    expressions, zero shuffle; flag comparisons run on unrounded
    doubles with identical arithmetic in the DuckDB oracle, reported
    ratios round half-up at 4dp."""
    text = F.col(text_col)
    words = F.filter(F.split(text, r"\s+"), lambda w: w != "")
    lines = F.filter(F.split(text, "\n"), lambda l: l != "")
    lw = F.transform(words, F.lower)
    # Generator barrier (the text.quality_score idiom): every count is
    # computed ONCE and the flags below reference real attributes —
    # plain aliases would re-embed the split/filter subtree into ~10
    # projection columns (the documented ~8s plan-processing blowup).
    feats = F.struct(
        F.size(words).alias("__nw"),
        F.size(lines).alias("__nl"),
        F.aggregate(words, F.lit(0),
                    lambda a, w: a + F.length(w)).alias("__sumlen"),
        (F.length(text)
         - F.length(F.replace(text, F.lit("#")))).alias("__nhash"),
        ((F.length(text) - F.length(F.replace(text, F.lit("..."))))
         / F.lit(3)).alias("__nell"),
        F.size(F.filter(lines, lambda l: l.startswith("- ")
                        | l.startswith("* "))).alias("__nbullet"),
        F.size(F.filter(lines,
                        lambda l: l.endswith("..."))).alias("__nellend"),
        F.size(F.filter(words,
                        lambda w: w.rlike("[A-Za-z]"))).alias("__nalpha"),
        sum(F.when(F.array_contains(lw, w), 1).otherwise(0)
            for w in GOPHER_STOPWORDS).alias("__nstop"))
    base = df.select(F.col(id_col), F.inline(F.array(feats)))
    n_w, n_l = F.col("__nw"), F.col("__nl")
    # every ratio is 0-guarded: an empty/whitespace-only document is
    # exactly what a quality filter must FLAG, not crash on (ANSI mode
    # turns the bare division into a DIVIDE_BY_ZERO job abort)
    mean_len = F.when(n_w > 0, F.col("__sumlen") / n_w).otherwise(0.0)
    sym_ratio = F.when(n_w > 0, (F.col("__nhash") + F.col("__nell"))
                       / n_w).otherwise(0.0)
    bullet_ratio = F.when(n_l > 0,
                          F.col("__nbullet") / n_l).otherwise(0.0)
    ell_ratio = F.when(n_l > 0, F.col("__nellend") / n_l).otherwise(0.0)
    alpha_ratio = F.when(n_w > 0, F.col("__nalpha") / n_w).otherwise(0.0)
    flags = {
        "words_ok": (n_w >= 50) & (n_w <= 100_000),
        "mean_len_ok": (mean_len >= 3) & (mean_len <= 10),
        "symbol_ok": sym_ratio <= 0.1,
        "bullet_ok": bullet_ratio <= 0.9,
        "ellipsis_ok": ell_ratio <= 0.3,
        "alpha_ok": alpha_ratio >= 0.8,
        "stopwords_ok": F.col("__nstop") >= 2,
    }
    r4 = lambda c: F.floor(c * 10000 + F.lit(0.5)) / 10000.0  # noqa: E731
    out = base.select(
        F.col(id_col), n_w.alias("n_words"),
        r4(mean_len).alias("mean_word_len"),
        r4(alpha_ratio).alias("alpha_ratio"),
        *[v.alias(k) for k, v in flags.items()])
    passed = F.col("words_ok")
    for k in flags:
        if k != "words_ok":
            passed = passed & F.col(k)
    return out.withColumn("gopher_pass", passed)


def c4_clean_lines(df: DataFrame, text_col: str, id_col: str,
                   min_words: int = 3) -> DataFrame:
    """C4 cleaning rules (Raffel et al. 2020, arXiv:1910.10683 §2.2):
    keep only lines that end in a terminal punctuation mark
    (. ! ? ") AND have >= ``min_words`` whitespace words AND do not
    mention javascript; DROP the whole document when it contains a
    curly brace or the phrase "lorem ipsum" (code / boilerplate
    markers).  Returns (id, n_lines_total, n_lines_kept, text_clean)
    for surviving documents — all row-wise array expressions, zero
    shuffle, pushable document filter."""
    text = F.col(text_col)
    doc_ok = (~F.lower(text).contains("lorem ipsum")) \
        & (~text.contains("{"))
    lines = F.filter(F.split(text, "\n"), lambda l: l != "")

    def line_ok(l):
        punct = (l.endswith(".") | l.endswith("!") | l.endswith("?")
                 | l.endswith('"'))
        words = F.size(F.filter(F.split(l, r"\s+"), lambda w: w != ""))
        return punct & (words >= min_words) \
            & ~F.lower(l).contains("javascript")

    kept = F.filter(lines, line_ok)
    return (df.filter(doc_ok)
            .select(F.col(id_col),
                    F.size(lines).alias("n_lines_total"),
                    F.size(kept).alias("n_lines_kept"),
                    F.concat_ws("\n", kept).alias("text_clean")))


def decontaminate_neardup(corpus_signed: DataFrame,
                          benchmark_signed: DataFrame,
                          num_hashes: int = 16, bands: int = 8,
                          threshold: float = 0.5,
                          max_bucket: int | None = None,
                          keep_col: str | None = None) -> DataFrame:
    """NEAR-DUPLICATE benchmark decontamination: where
    :func:`decontaminate` catches verbatim k-gram leakage, this catches
    paraphrased/reformatted eval contamination — any corpus document
    whose shingle-set Jaccard to ANY benchmark document clears
    ``threshold`` is contaminated (the Llama/GPT-style fuzzy-decontam
    guard).

    Both inputs are ingest-signed set frames (id, shingles, n, sig —
    sources/prepared.doc_minhash layout; ids disjoint).  The TINY
    benchmark side probes the stored corpus signatures through
    ``dedup.incremental_lsh_pairs`` — one (band, bucket) equi-join,
    corpus-side bucket cap, exact Jaccard verify on candidates only —
    so the cost is benchmark-bucket-sized, never a corpus self-join.

    Returns surviving corpus rows; with ``keep_col`` set, ALL corpus
    rows with a boolean flag instead (the reporting shape).  The drop
    set is distinct contaminated ids (short rows), so the anti-join
    broadcasts when small."""
    from datawave_spark.operators.dedup import incremental_lsh_pairs

    pairs = incremental_lsh_pairs(benchmark_signed, corpus_signed,
                                  num_hashes=num_hashes, bands=bands,
                                  threshold=threshold,
                                  max_bucket=max_bucket)
    dropped = pairs.select(F.col("id_old").alias("id")).distinct()
    if keep_col:
        flag = dropped.withColumn(keep_col, F.lit(False))
        return (corpus_signed.join(flag, "id", "left")
                .fillna({keep_col: True}))
    return corpus_signed.join(dropped, "id", "left_anti")


def select_within_budget(df: DataFrame, id_col: str, score_col: str,
                         size_col: str, budget: int,
                         strata_col: str | None = None) -> DataFrame:
    """Budget-constrained corpus selection — the "best documents under
    a token cap" step of score-ranked curation (the selection half of
    DSIR/DoReMi-style pipelines, after the scorer has run): documents
    in (score DESC, id ASC) order fill the budget; membership is
    decided by ONE inclusive running sum (the cumsum is monotone, so
    `cum <= budget` is exactly the greedy prefix — no iterative
    knapsack).  Deterministic tiebreak on id.

    With ``strata_col`` the budget applies independently per stratum
    (per-source / per-language caps) — the scale shape: each stratum
    sorts only its own rows, one shuffle on the stratum key.  A single
    global budget is a total order; at corpus scale pre-cut with an
    approximate score quantile (percentile_approx) and run the exact
    window over the survivors instead."""
    part = [strata_col] if strata_col else []
    w = (Window.partitionBy(*part)
         .orderBy(F.col(score_col).desc(), F.col(id_col))
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (df.withColumn("__cum", F.sum(size_col).over(w))
            .filter(F.col("__cum") <= budget)
            .drop("__cum"))
