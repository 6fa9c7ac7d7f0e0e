"""Layer tracing for the traced run (``--trace 1``).

Spans are recorded here, in the benchmark, never inside the package: the
tracer replaces each public function at the module attribute its caller
looks up (``plans.planner.compile_node``, ``sources.parquet.read_parquet``
…) with a wrapper that opens a span, and restores the originals when it
is removed.  Each span has a name, start, end, parent and op id; spans
stay in memory until the run ends.

Spark counts come from a job group per span plus ``statusTracker``;
Catalyst phases from the QueryExecution that actually ran (the listener's
for writes and collects, the frame's own for ``toLocalIterator``); GC
from the JVM's ``GarbageCollectorMXBeans``; py4j round trips from a
counter at ``py4j.clientserver.JavaClient.send_command``.
"""

from __future__ import annotations

import functools
import importlib
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

# (module, attribute, span name).  A dotted attribute patches a class
# member.  Span names are the layer metric prefixes.
PATCHES = [
    ("datawave_spark.jexl.parser", "parse", "jexl.parse"),
    ("datawave_spark.lucene.parser", "parse_lucene", "lucene.parse"),
    ("datawave_spark.plans.planner", "default_pipeline", "compiler.rewrite"),
    ("datawave_spark.plans.planner", "extract_options", "compiler.rewrite"),
    ("datawave_spark.compiler.rewrite", "order_by_cost", "compiler.rewrite"),
    ("datawave_spark.plans.planner", "compile_node", "compiler.compile"),
    ("datawave_spark.compiler", "compile_query", "compiler.compile"),
    ("datawave_spark.plans.planner", "QueryPlanner.plan", "plans.plan"),
    ("datawave_spark.sources.parquet", "read_parquet", "sources.read"),
    ("datawave_spark.sources.parquet", "read_evolving", "sources.read"),
    ("datawave_spark.sources.index_frame", "index_query", "sources.index"),
    ("datawave_spark.sources.maintenance", "append_index",
     "sources.index_append"),
    ("datawave_spark.operators.dedup", "embedding_dedup_pairs",
     "operators.build"),
]

_CATALYST_PHASES = ("analysis", "optimization", "planning")
_NO_METRIC = ("op", "spark.action")


@dataclass
class Span:
    name: str
    op_id: int
    start: float
    parent: int | None
    end: float = 0.0
    group: str | None = None


@dataclass
class OpTrace:
    op_id: int
    kind: str
    counts: dict = field(default_factory=lambda: defaultdict(float))
    groups: dict = field(default_factory=dict)     # job group → span name
    action_groups: set = field(default_factory=set)
    gc_start: int = 0
    first_span: int = 0


class Tracer:
    """Records spans and Spark counts for one op at a time (the
    benchmark runs one closed-loop client)."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.ops: list[OpTrace] = []
        self._op: OpTrace | None = None
        self._local = threading.local()
        self._originals: list[tuple[object, str, object]] = []
        self._listener = None
        self._qe_seen: list[tuple[float, dict]] = []
        self._qe_ran: list = []
        self._internal = threading.local()

    # ------------------------------------------------------------ spans
    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, jobs: bool = True):
        """A span under the innermost open span of this thread; with
        ``jobs`` its Spark jobs run in a job group of their own."""
        op = self._op
        if op is None:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        idx = len(self.spans)
        s = Span(name, op.op_id, time.perf_counter(), parent)
        self.spans.append(s)
        stack.append(idx)
        prev_group = getattr(self._local, "group", None)
        jobs = jobs and threading.current_thread() is threading.main_thread()
        if jobs:
            s.group = f"perfbench-{op.op_id}-{idx}"
            op.groups[s.group] = name
            self._set_group(s.group)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            if jobs:
                self._set_group(prev_group)

    def _set_group(self, group: str | None) -> None:
        self._local.group = group
        with self.internal():
            if group is None:
                self.sc._jsc.clearJobGroup()
            else:
                self.sc.setJobGroup(group, group)

    @contextmanager
    def internal(self):
        """py4j traffic of the tracer itself, kept out of the counts."""
        prev = getattr(self._internal, "on", False)
        self._internal.on = True
        try:
            yield
        finally:
            self._internal.on = prev

    def count(self, metric: str, n: float, op: OpTrace | None = None) -> None:
        """Add ``n`` to ``metric`` of ``op`` (a closed op's trace, for
        figures read after its timing stopped) or of the open op."""
        op = op or self._op
        if op is not None:
            op.counts[metric] += n

    def add_group(self, group: str, name: str, action: bool = True) -> None:
        """Count the jobs of a group the program set itself (a streaming
        query runs its batches under its run id)."""
        if self._op is not None:
            self._op.groups[group] = name
            if action:
                self._op.action_groups.add(group)

    # ------------------------------------------------------------- ops
    @contextmanager
    def op(self, op_id: int, kind: str):
        self._op = OpTrace(op_id, kind, first_span=len(self.spans))
        self._qe_seen = []
        self._qe_ran = []
        with self.internal():
            self._op.gc_start = self._gc_ms()
        try:
            with self.span("op"):
                yield self._op
        finally:
            with self.internal():
                # listener events of this op land before it closes
                self.sc._jsc.sc().listenerBus().waitUntilEmpty()
                for dur_ms, qe in self._qe_ran:
                    self._qe_seen.append((dur_ms, _phases(qe)))
                    self._plan_rows(qe)
                self._qe_ran = []
            op, self._op = self._op, None
            self._finish(op)
            self.ops.append(op)

    @contextmanager
    def action(self, name: str = "spark.action"):
        """The op's action: jobs inside it are not build jobs."""
        with self.span(name) as s:
            if s is not None and s.group is not None:
                self._op.action_groups.add(s.group)
            yield s

    def record_frame_qe(self, df, action_ms: float) -> None:
        """Catalyst phases of a frame whose own QueryExecution ran (the
        ``toLocalIterator`` path the listener does not see); execution
        is the action's time less those phases."""
        with self.internal():
            phases = _phases(df._jdf.queryExecution())
        self._qe_seen.append(
            (max(0.0, action_ms - sum(phases.values())), phases))

    def _gc_ms(self) -> int:
        beans = self.spark._jvm.java.lang.management.ManagementFactory \
            .getGarbageCollectorMXBeans()
        return sum(max(0, b.getCollectionTime()) for b in beans)

    def _finish(self, op: OpTrace) -> None:
        with self.internal():
            op.counts["spark.gc_ms"] += self._gc_ms() - op.gc_start
            st = self.sc.statusTracker()
            for group, name in op.groups.items():
                for jid in st.getJobIdsForGroup(group):
                    info = st.getJobInfo(jid)
                    op.counts["spark.jobs"] += 1
                    if group not in op.action_groups:
                        op.counts["spark.build_jobs"] += 1
                    if name in ("sources.read", "sources.index"):
                        op.counts[name + "_jobs"] += 1
                    for sid in (info.stageIds if info else []):
                        si = st.getStageInfo(sid)
                        if si is not None and si.numCompletedTasks > 0:
                            op.counts["spark.stages"] += 1
                            op.counts["spark.tasks"] += si.numCompletedTasks
            for dur_ms, phases in self._qe_seen:
                op.counts["spark.catalyst_ms"] += sum(phases.values())
                op.counts["spark.exec_ms"] += dur_ms
        # self time per layer: a span's duration minus its children's
        spans = range(op.first_span, len(self.spans))
        child = defaultdict(float)
        for i in spans:
            s = self.spans[i]
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        for i in spans:
            s = self.spans[i]
            if s.name in _NO_METRIC:
                continue
            op.counts[s.name + "_ms"] += \
                1000.0 * max(0.0, (s.end - s.start) - child[i])

    # ---------------------------------------------------------- install
    def install(self) -> None:
        for mod_name, attr, name in PATCHES:
            owner = importlib.import_module(mod_name)
            if "." in attr:
                cls_name, attr = attr.split(".")
                owner = getattr(owner, cls_name)
            orig = owner.__dict__[attr] if isinstance(owner, type) \
                else getattr(owner, attr)
            setattr(owner, attr, self._wrap(orig, name))
            self._originals.append((owner, attr, orig))
        self._install_py4j_counter()
        self._install_listener()

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._originals):
            setattr(owner, attr, orig)
        self._originals.clear()
        if self._listener is not None:
            with self.internal():
                self.spark._jsparkSession.listenerManager().unregister(
                    self._listener)
            self._listener = None

    def _wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)
        return traced

    def _install_py4j_counter(self) -> None:
        from py4j.clientserver import JavaClient
        orig = JavaClient.send_command
        tracer = self

        def send_command(client, command, *args, **kwargs):
            if not getattr(tracer._internal, "on", False) \
                    and tracer._op is not None:
                stack = tracer._stack()
                if stack and tracer.spans[stack[-1]].name.startswith(
                        "compiler."):
                    tracer._op.counts["compiler.py4j_calls"] += 1
            return orig(client, command, *args, **kwargs)

        JavaClient.send_command = send_command
        self._originals.append((JavaClient, "send_command", orig))

    def _install_listener(self) -> None:
        from pyspark.java_gateway import ensure_callback_server_started
        tracer = self

        class Listener:
            # runs on Spark's listener thread: keep the QueryExecution
            # and return; the op reads it after the bus drains
            def onSuccess(self, func_name, qe, duration_ns):
                tracer._qe_ran.append((duration_ns / 1e6, qe))

            def onFailure(self, func_name, qe, exc):
                pass

            class Java:
                implements = [
                    "org.apache.spark.sql.util.QueryExecutionListener"]

        with self.internal():
            ensure_callback_server_started(self.sc._gateway)
            self._listener = Listener()
            self.spark._jsparkSession.listenerManager().register(
                self._listener)

    def _plan_rows(self, qe) -> None:
        """Pairs scored and kept by the cosine-pair operator, read from
        the executed plan's SQL metrics: the rows entering the
        ``inline`` Generate that computes the cosine are the pairs
        scored, the threshold filter above it passes the pairs kept."""
        op = self._op
        if op is None or op.kind != "dedup_pairs":
            return
        kept = scored = None
        node, below_generate = qe.executedPlan(), False
        while node is not None:
            node = _unwrap(node)
            rows = _output_rows(node)
            if node.nodeName() == "Generate":
                below_generate = True
            elif rows is not None:
                if below_generate:
                    scored = rows
                    break
                if node.nodeName() == "Filter" and kept is None:
                    kept = rows
            kids = node.children()
            node = kids.apply(0) if kids.size() else None
        if scored:
            op.counts["operators.pairs_scored"] += scored
            op.counts["operators.pairs_kept"] += kept or 0

    # ------------------------------------------------------------ report
    def layer_table(self, metrics: list[str]) -> dict:
        """{op kind: {metric: mean per op}} plus an ``all`` row.  Times
        are self time in ms per op; the rest are counts per op."""
        kinds: dict[str, list[OpTrace]] = defaultdict(list)
        for op in self.ops:
            kinds[op.kind].append(op)
        kinds["all"] = list(self.ops)
        out = {}
        for kind, ops in kinds.items():
            row = {}
            for m in metrics:
                if m == "operators.pairs_kept_per_scored":
                    scored = sum(o.counts["operators.pairs_scored"]
                                 for o in ops)
                    kept = sum(o.counts["operators.pairs_kept"] for o in ops)
                    row[m] = kept / scored if scored else 0.0
                else:
                    row[m] = sum(o.counts[m] for o in ops) / max(1, len(ops))
            row["ops"] = len(ops)
            out[kind] = row
        return out


def _unwrap(node):
    """The plan node under AQE, codegen and query-stage wrappers."""
    while True:
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            node = node.executedPlan()
        elif name.startswith("WholeStageCodegen") or name == "InputAdapter":
            node = node.child()
        elif node.getClass().getSimpleName().endswith("QueryStageExec"):
            node = node.plan()
        else:
            return node


def _output_rows(node):
    metric = node.metrics().get("numOutputRows")
    return metric.get().value() if metric.isDefined() else None


def _phases(qe) -> dict:
    ph = qe.tracker().phases()
    out = {}
    for name in _CATALYST_PHASES:
        opt = ph.get(name)
        if opt.isDefined():
            out[name] = float(opt.get().durationMs())
    return out


class NullTracer:
    """Tracing off: every hook is a no-op, so the untraced run pays
    nothing for the tracer's existence."""

    @contextmanager
    def span(self, name: str, jobs: bool = True):
        yield None

    @contextmanager
    def op(self, op_id: int, kind: str):
        yield None

    @contextmanager
    def action(self, name: str = "spark.action"):
        yield None

    def count(self, metric: str, n: float, op=None) -> None:
        pass

    def add_group(self, group: str, name: str, action: bool = True) -> None:
        pass

    def record_frame_qe(self, df, action_ms: float) -> None:
        pass
