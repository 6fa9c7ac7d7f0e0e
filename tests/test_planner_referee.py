"""Planner-equivalence referee: the index-driven query path must
return EXACTLY the documents the full-scan evaluator returns, for
every query the index claims to serve.

The reference's two-phase shape (RangeStream candidate ranges →
QueryIterator fetch + evaluate; RangeStream.java:377,425,
QueryIterator re-evaluation) makes the global index a pure PRUNING
structure: it may never add or drop a document relative to evaluating
the predicate over the full event stream.  In this engine the pruning
happens in `candidate_uids` / `capped_candidates`, and — critically —
when every term is index-servable, `index_query` trusts the index and
skips re-evaluation, so any semantic drift between the index's stored
value matching (`_index_value_pred`) and the evaluation compiler
silently returns wrong documents at scale.

This referee (the round-8 extension of the test_compiler_referee /
test_filter_referee discipline) fuzzes that equivalence.  Its first
sweep found three real bugs, all fixed + pinned below:

1. `_index_value_pred` regex used bare `^(?:p)$` anchors while the
   compiler's contract is `java_full_match` = `(?is)` + anchors
   (JexlPatternCache.java:30) — a fully-indexed `=~` term dropped
   every case-insensitive / dot-matches-newline match.
2. `build_index` left a number-normalized field's value column as
   DOUBLE; the cross-field UNION then coerced the string parts to
   double and Spark's ANSI cast aborted the whole scan on the first
   alphabetic value of any other field (CAST_INVALID_INPUT).
3. `_index_value_pred` / the number normalizer used plain
   `cast("double")` — one malformed stored value in a number-typed
   field killed the scan instead of being a non-match.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from datawave_spark.compiler import compile_query
from datawave_spark.jexl.parser import parse
from datawave_spark.sources.index_frame import (
    build_capped_index, build_index, candidate_uids, capped_index_query,
    index_query,
)

ROWS = [
    # uid    S        A               N        D     ts
    ("r0", "a",    ["x", "y"],     "10",   1.0,  "2024-01-01"),
    ("r1", "B",    ["Y"],          "9",    None, "2024-01-01"),
    ("r2", "a\nb", ["x", None],    "9.5",  -3.0, "2024-01-02"),
    ("r3", None,   [],             None,   0.0,  "2024-01-02"),
    ("r4", "10",   None,           "abc",  7.5,  "2024-01-03"),
    ("r5", "b",    ["z", "x"],     "10.0", 1.0,  "2024-01-03"),
    ("r6", "A",    ["a\nb"],       "0",    2.5,  "2024-01-04"),
]
SCHEMA = ("uid string, S string, A array<string>, N string, D double, "
          "ts string")
FT = {"N": "number"}

# Leaf pool: every (field × op × literal) class the index serves —
# case-folded strings, embedded newlines, numeric-looking strings, a
# malformed number-typed value, nulls/empties/missing rows.
EQ_LITS = {
    "S": ['"a"', '"B"', '"10"', '"a\\nb"'],
    "A": ['"x"', '"Y"', '"a\\nb"'],
    "N": ["10", '"9"', "0"],
    "D": ["1.0", '"2.5"'],
}
RE_LITS = {
    "S": ['"a.*"', '"b"', '"a.b"'],
    "A": ['"[xy]"', '"Y"', '"a.b"', '".*"'],
    "N": ['"1.*"'],
    "D": ['"1.*"'],
}


def _leaves() -> list[str]:
    out = []
    for f, pool in EQ_LITS.items():
        for lit in pool:
            for op in ("==", "!=", "<", ">="):
                out.append(f"{f} {op} {lit}")
    for f, pool in RE_LITS.items():
        for lit in pool:
            for op in ("=~", "!~"):
                out.append(f"{f} {op} {lit}")
    # BOUNDED ranges (r8): served by the index as a single-value
    # interval — same-value semantics on the multi-valued A field
    for f, lo, hi in (("S", '"B"', '"b"'), ("A", '"x"', '"z"'),
                      ("N", "9", "10"), ("A", '"Y"', '"a\\nb"'),
                      ("D", "0", "5")):
        out.append(f'((_Bounded_ = true) && ({f} >= {lo} && {f} <= {hi}))')
    return out


def _trees(leaves: list[str], n: int, seed: int) -> list[str]:
    rng = random.Random(seed)
    out = []
    for _ in range(n):
        a, b = rng.sample(leaves, 2)
        q = f"({a}) {rng.choice(['&&', '||'])} ({b})"
        if rng.random() < 0.35:
            q = f"!({q})"
        if rng.random() < 0.4:
            q = f"({q}) {rng.choice(['&&', '||'])} ({rng.choice(leaves)})"
        out.append(q)
    return out


def _uids(df) -> list[str]:
    return sorted(r.uid for r in df.select("uid").distinct().collect())


@pytest.fixture(scope="module")
def events(spark):
    df = spark.createDataFrame(ROWS, SCHEMA).cache()
    df.count()
    yield df
    df.unpersist()


class TestIndexPathEquivalence:
    """index_query vs compile_query over enumerated leaves + random
    trees, with the index covering (a) every field — the no-re-eval
    fast path — and (b) a subset, so unindexed terms exercise the
    evaluation-only/_Delayed_ machinery."""

    @pytest.mark.parametrize("fields", [("S", "A", "N", "D"), ("S", "A")],
                             ids=["all-indexed", "partial"])
    def test_three_way_sweep(self, spark, events, fields):
        idx = build_index(events, list(fields), "uid",
                          field_types=FT).cache()
        fset = set(f.upper() for f in fields)
        leaves = _leaves()
        queries = leaves + _trees(leaves, 20, seed=8)
        mismatches = []
        for q in queries:
            want = _uids(compile_query(events, q, field_types=FT))
            got = _uids(index_query(events, idx, q, "uid",
                                    field_types=FT, fields=fset))
            if got != want:
                uni = events.select("uid")
                served = candidate_uids(idx, parse(q), uni, FT,
                                        fset) is not None
                mismatches.append((q, served, want, got))
        idx.unpersist()
        assert not mismatches, mismatches[:5]

    def test_regex_flags_pinned(self, spark, events):
        """Bug #1 regression: with every field indexed (no re-eval),
        the index's =~ must honor CASE_INSENSITIVE | DOTALL + full
        match — r2 ('a\\nb', DOTALL) and r6 ('A', case) must survive."""
        idx = build_index(events, ["S", "A", "N", "D"], "uid",
                          field_types=FT)
        got = _uids(index_query(events, idx, 'S =~ "a.*"', "uid",
                                field_types=FT,
                                fields={"S", "A", "N", "D"}))
        assert got == ["r0", "r2", "r6"]

    def test_malformed_number_value_is_nonmatch_not_abort(
            self, spark, events):
        """Bugs #2/#3 regression: r4's N='abc' must neither abort the
        scan (ANSI CAST_INVALID_INPUT) nor match any numeric term —
        on EITHER path, for a query touching only OTHER fields too."""
        idx = build_index(events, ["S", "A", "N", "D"], "uid",
                          field_types=FT)
        fset = {"S", "A", "N", "D"}
        for q, want in [('S == "a"', ["r0"]),
                        ("N >= 9", ["r0", "r1", "r2", "r5"]),
                        ("N != 10", ["r1", "r2", "r3", "r4", "r6"])]:
            assert _uids(index_query(events, idx, q, "uid",
                                     field_types=FT, fields=fset)) == want
            assert _uids(compile_query(events, q, field_types=FT)) == want


class TestCappedPathEquivalence:
    """Uid.List cap invariance: the capped path re-evaluates the full
    predicate, so ANY cap (including cap=1, forcing every term to a
    shard range) must return the evaluator's exact answer."""

    @pytest.mark.parametrize("cap", [1, 2, 100],
                             ids=["all-shard", "mixed", "all-explicit"])
    def test_cap_invariant(self, spark, events, cap):
        cidx = build_capped_index(events, ["S", "A", "N", "D"], "uid",
                                  date_col="ts", max_uids=cap,
                                  field_types=FT).cache()
        fset = {"S", "A", "N", "D"}
        leaves = _leaves()
        queries = leaves[::4] + _trees(leaves, 8, seed=cap)
        mismatches = []
        for q in queries:
            want = _uids(compile_query(events, q, field_types=FT))
            got = _uids(capped_index_query(events, cidx, q, "uid", "ts",
                                           field_types=FT, fields=fset))
            if got != want:
                mismatches.append((q, want, got))
        cidx.unpersist()
        assert not mismatches, mismatches[:5]


class TestNullIdParity:
    """A null-id event matches no index group: neither fetch branch —
    the left-semi join of an AND-anchored query nor the left-anti join
    of a negation-rooted one — may return it, even when its values
    satisfy the predicate."""

    @pytest.fixture(scope="class")
    def with_null_id(self, spark):
        rows = ROWS + [(None, "a", ["x"], "10", 1.0, "2024-01-05")]
        df = spark.createDataFrame(rows, SCHEMA).cache()
        df.count()
        idx = build_index(df, ["S", "A", "N", "D"], "uid",
                          field_types=FT).cache()
        yield df, idx
        idx.unpersist()
        df.unpersist()

    @pytest.mark.parametrize("q, join", [
        ('S == "a" && N == 10', "LeftSemi"),
        ('!(S == "B")', "LeftAnti"),
    ], ids=["and-anchored", "negation-rooted"])
    def test_null_id_never_fetched(self, with_null_id, q, join):
        df, idx = with_null_id
        out = index_query(df, idx, q, "uid", field_types=FT,
                          fields={"S", "A", "N", "D"})
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert join in plan
        got = [r.uid for r in out.select("uid").collect()]
        want = [r.uid for r in compile_query(df, q, field_types=FT)
                .select("uid").collect()]
        assert None in want and None not in got
        assert sorted(got) == sorted(u for u in want if u is not None)
