"""CompositeQueryLogic analog: one query fanned across several query
logics, results merged into a single stream.

Reference: core/query/.../logic/composite/CompositeQueryLogic.java:51 —
each configured logic runs in its own thread pushing into a shared
results queue; ``allMustInitialize`` decides whether one logic's
initialization failure fails the whole query, and
``shortCircuitExecution`` stops after the first logic that yields
results.  The reference needs the thread/queue machinery because each
logic drives its own Accumulo scanners; on Spark each logic is a
DataFrame, so the merge is a schema-aligned union and the parallelism
comes from the scheduler — the composite dissolves into plan algebra.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, functions as F


def _align(frames: list[DataFrame]) -> list[DataFrame]:
    """Pad every frame to the union of all output columns (missing →
    typed NULL) — the reference's common-response-schema transform.
    A column present in two logics with DIFFERENT types raises: the
    composite contract is a shared response schema, and silently
    widening (long∪string → string) would corrupt downstream typing."""
    cols: dict[str, str] = {}
    for df in frames:
        for name, dtype in df.dtypes:
            prev = cols.setdefault(name, dtype)
            if prev != dtype:
                raise ValueError(
                    f"composite logics disagree on column {name!r} type: "
                    f"{prev} vs {dtype} — logics must share a response "
                    f"schema")
    order = list(cols)
    out = []
    for df in frames:
        have = set(df.columns)
        sel = [F.col(c) if c in have
               else F.lit(None).cast(cols[c]).alias(c)
               for c in order]
        out.append(df.select(*sel))
    return out


def composite_query(logics: dict[str, Callable[[], DataFrame]],
                    all_must_initialize: bool = False,
                    short_circuit: bool = False,
                    logic_col: str | None = "logic_name") -> DataFrame:
    """Run every logic and merge results (CompositeQueryLogic.java):

    - ``logics``: name → zero-arg factory returning that logic's
      planned DataFrame.  Factories (not frames) so initialization
      errors are observable per logic, matching the reference's
      per-logic setup phase.
    - ``all_must_initialize=False`` (reference default): a logic whose
      factory raises is skipped; True re-raises.  If NO logic
      initializes, always raises (CompositeQueryLogic.initialize's
      "all logics failed" CompositeLogicException).
    - ``short_circuit=True``: logics are tried in dict order and the
      first one producing any rows wins — the reference's sequential
      shortCircuitExecution mode (used when logics are
      redundant/tiered, e.g. a fast lookup falling back to a scan).
    - ``logic_col``: adds the originating logic's name to each row
      (the reference tags results with getLogicName()); None omits.
    """
    planned: list[tuple[str, DataFrame]] = []
    errors: list[str] = []
    for name, factory in logics.items():
        try:
            planned.append((name, factory()))
        except Exception as e:
            if all_must_initialize:
                raise
            errors.append(f"{name}: {e}")
    if not planned:
        raise RuntimeError(
            f"no composite logic initialized: {'; '.join(errors)}")
    frames = []
    for name, df in planned:
        if logic_col:
            df = df.withColumn(logic_col, F.lit(name))
        frames.append(df)
    frames = _align(frames)
    if short_circuit:
        # persist each probed frame so the winner's plan is NOT
        # executed twice (once for the emptiness probe, once by the
        # caller) — losers' caches are dropped immediately, and the
        # winner goes through the bounded per-call scoped-cache
        # registry: a LATER composite call gets its own slot (so two
        # lazily-composed winners don't evict each other before the
        # caller materializes them) and the FIFO bound still releases
        # old winners, never a session-lifetime accumulation.
        from datawave_spark.util import persist_scoped
        for df in frames:
            p = persist_scoped(df, "composite.short_circuit", keep=4)
            if p.limit(1).count() > 0:
                return p
            p.unpersist(blocking=False)
        return frames[-1]
    # NB: _align already padded every frame to the shared schema (and
    # type-checked it); unionByName here needs no allowMissingColumns.
    out = frames[0]
    for df in frames[1:]:
        out = out.unionByName(df)
    return out


# --------------------------------------------------------- filtered logics
#
# FilteredQueryLogic (core/query/.../logic/filtered/
# FilteredQueryLogic.java:47-105): a logic wrapped with predicates over
# the query settings and the caller's authorizations; when any filter
# says no, the logic is "filtered" and yields an EMPTY result instead
# of an error.  Used standalone and as CompositeQueryLogic children so
# one composite serves callers with different parameters/clearances.

from dataclasses import dataclass


@dataclass(frozen=True)
class FilterByParameter:
    """QueryLogicFilterByParameter.java:  no ``value`` -> the parameter
    parses as a boolean; with ``value`` -> string equality."""
    parameter: str
    value: str | None = None
    negated: bool = False

    def can_run(self, parameters: dict | None,
                auth_sets: list[set] | None = None) -> bool:
        v = (parameters or {}).get(self.parameter)
        if self.value is None:
            ok = str(v).lower() == "true"
        else:
            ok = self.value == v
        return not ok if self.negated else ok


@dataclass(frozen=True)
class FilterByAuth:
    """QueryLogicFilterByAuth.java: a visibility expression every (ALL)
    or any (ANY) of the caller's proxied auth sets must satisfy."""
    visibility: str
    match_type: str = "ALL"           # ALL | ANY
    negated: bool = False

    def can_run(self, parameters: dict | None,
                auth_sets: list[set] | None = None) -> bool:
        from datawave_spark.visibility import evaluate
        sets = auth_sets or []
        oks = [evaluate(self.visibility, set(s)) for s in sets]
        if self.match_type == "ALL":
            ok = bool(oks) and all(oks)
        elif self.match_type == "ANY":
            ok = any(oks)
        else:
            raise ValueError(f"unknown match type {self.match_type!r}")
        return not ok if self.negated else ok


def filtered_logic(logic: Callable[[], DataFrame], filters: list,
                   parameters: dict | None = None,
                   auth_sets: list[set] | None = None,
                   schema: str | None = None) -> DataFrame:
    """Run ``logic`` only when every filter passes
    (FilteredQueryLogic.canRunQuery:58 — filters AND together);
    otherwise a schema-preserving EMPTY result (the reference's empty
    iterator), so composite unions keep their shape.

    Filters are checked BEFORE the factory runs — the reference gates
    canRunQuery ahead of initialize, so a filtered caller never
    triggers the delegate's setup (or its errors).  When filtered,
    the empty frame comes from ``schema`` (the logic's configured
    response schema, DDL string) if given, else from planning the
    delegate with ``limit(0)`` — that fallback does run the factory,
    so configure ``schema`` for logics whose setup can fail for gated
    callers."""
    for f in filters:
        if not f.can_run(parameters, auth_sets):
            if schema is not None:
                from pyspark.sql import SparkSession
                spark = (SparkSession.getActiveSession()
                         or SparkSession.builder.getOrCreate())
                return spark.createDataFrame([], schema)
            return logic().limit(0)
    return logic()
