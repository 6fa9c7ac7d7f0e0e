#!/usr/bin/env python3
"""sparkwave benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 10 \
        --trace 0

Run from the repository root.  It generates every input from ``--seed``
into a private directory under ``.perfbench_work/``, starts the session
with ``datawave_spark.session.get_spark``'s defaults, sets up three times
(reporting the median as ``setup_s``), measures for ``--seconds``, checks
the outputs against DuckDB outside the timed window and prints one line
per metric, then a JSON object as the last line.  ``--trace 1`` measures
an untraced window, a traced one and another untraced one, reports the
per-layer metrics, the tracing overhead on every end-to-end metric
(against the mean of the two untraced windows around the traced one),
and writes the layer file
``.perfbench_out/layers-<workload>-seed<seed>.json``.  See README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
SETUP_REPS = 3

# the per-workload names the pooled figures are printed under
PRINTED_NAMES = {
    "interactive": {"op_p50_ms": "query_p50_ms", "op_p90_ms": "query_p90_ms",
                    "ops_per_s": "queries_per_s"},
    "analytic": {"op_p50_ms": "job_p50_ms", "op_p90_ms": "job_p90_ms",
                 "ops_per_s": "jobs_per_s"},
    "ingest": {"op_p50_ms": "batch_p50_ms", "read_p50_ms": "readback_p50_ms",
               "ops_per_s": "batches_per_s"},
}


def _isolate(work: str) -> None:
    """Keep every file the run writes inside ``work``: prepared assets,
    Spark's local dirs and temp files of Python and the JVM."""
    for d in ("prepared", "spark-local", "tmp"):
        os.makedirs(os.path.join(work, d))
    os.environ["SPARK_GRAFT_PREPARED_DIR"] = os.path.join(work, "prepared")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData")


def _reset_peak_rss(spark) -> None:
    """Collect garbage in the JVM and restart its VmHWM mark (Linux
    ``clear_refs`` 5), so set-up and burn-in peaks do not count."""
    spark._jvm.java.lang.System.gc()
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/clear_refs", "w") as fh:
        fh.write("5")


def _metric_units() -> dict[str, dict[str, str]]:
    """{"end_to_end" | "per_layer": {metric: unit}}, as BENCHMARK.json
    lists them."""
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {group: {m["name"]: m["unit"] for m in spec[group]}
            for group in ("end_to_end", "per_layer")}


def _jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM for the Spark JVM")


def _p90(values: list[float]) -> float:
    if len(values) < 2:
        return values[0]
    return statistics.quantiles(values, n=10)[-1]


def _measure(wl, ctx, seconds: float, seed: int, first_id: int):
    """Closed loop: the next op starts when the previous one ends."""
    ops = wl.ops(ctx, seed)
    records = []
    op_id = first_id
    start = time.perf_counter()
    deadline = start + seconds
    while time.perf_counter() < deadline:
        records.extend(wl.run(ctx, next(ops), op_id))
        op_id += 1
    return records, time.perf_counter() - start


def _latencies(records, by: str) -> dict[str, list[float]]:
    """Latencies in ms grouped by an op attribute (``family``/``kind``)."""
    out: dict[str, list[float]] = {}
    for r in records:
        out.setdefault(getattr(r.op, by), []).append(1000.0 * r.seconds)
    return out


def _mix_gmean(fams: dict[str, list[float]], mix: dict[str, float]) -> float:
    """Geometric mean latency of each family's ops, the families weighted
    by their share of the mix.  A mean over the window's ops repeats
    from run to run where an order statistic does not: a family's
    latencies cluster by query template, and a median over a short
    window jumps between clusters; weighing families by share rather
    than by count keeps a window's partial cycle from shifting it."""
    w = {f: mix[f] for f in fams}
    return math.exp(sum(w[f] * statistics.fmean(map(math.log, fams[f]))
                        for f in w) / sum(w.values()))


def _window(wl, ctx, duck, args, mix: dict[str, float], first_id: int,
            tracer=None):
    """One measured window from fresh workload state, its outputs
    checked after it, outside the timing; with ``tracer`` the window is
    traced.  Returns the records and the window's metrics."""
    import tracing
    wl.reset(ctx)
    _reset_peak_rss(ctx.spark)
    if tracer is not None:
        tracer.install()
        ctx.tracer = tracer
    try:
        records, elapsed = _measure(wl, ctx, args.seconds, args.seed,
                                    first_id)
    finally:
        if tracer is not None:
            tracer.uninstall()
            ctx.tracer = tracing.NullTracer()
    peak = _jvm_peak_rss_mb(ctx.spark)
    wl.check(ctx, records, duck)
    m = _window_metrics(mix, wl, ctx, records, elapsed)
    m["peak_rss_mb"] = peak
    return records, m


def _window_metrics(mix: dict[str, float], wl, ctx, records,
                    elapsed) -> dict:
    fams = _latencies(records, "family")
    prim = [r for r in records if r.role == "op"]
    read_fams = _latencies([r for r in records if r.role == "read"] or prim,
                           "family")
    lat = [1000.0 * r.seconds for r in prim]
    failed = sum(1 for r in records if not r.ok)
    # a closed loop with one client completes 1 / (mean latency) ops per
    # second; the mean is taken at the mix's shares for the same reason
    mean_ms = sum(mix[f] * statistics.fmean(v) for f, v in fams.items()) \
        / sum(mix[f] for f in fams)
    return {
        "ok_ops_frac": 1.0 - failed / len(records),
        "op_gmean_ms": _mix_gmean(fams, mix),
        "ops_per_s": 1000.0 / mean_ms,
        "read_gmean_ms": _mix_gmean(read_fams, mix),
        "stored_bytes_per_input_byte": wl.stored_ratio(ctx, records),
        "_p50": statistics.median(lat), "_p90": _p90(lat),
        "_read_p50": statistics.median(
            v for vals in read_fams.values() for v in vals),
        "_measured_ops_per_s": len(prim) / elapsed,
        "_n": len(prim), "_reads": sum(map(len, read_fams.values())),
        "_failed": failed, "_families": fams,
        "_kinds": _latencies(records, "kind"),
        "_events_per_s": (sum(r.events for r in prim if r.ok)
                          / max(1e-9, sum(r.seconds for r in prim))),
    }


def _report(workload: str, m: dict, units: dict[str, str]) -> None:
    """The per-workload lines, under the names README.md gives them."""
    names = PRINTED_NAMES[workload]
    n = m["_n"]
    print(f"# {workload}: {n} ops, {m['_reads']} timed reads, "
          f"{m['_failed']} failed")
    print(f"{workload} setup_s {m['setup_s']:.4f} s")
    print(f"{workload} failed_ops_frac {1.0 - m['ok_ops_frac']:.4f} ratio")
    print(f"{workload} peak_rss_mb {m['peak_rss_mb']:.1f} MB")
    for key in ("op_gmean_ms", "read_gmean_ms", "ops_per_s",
                "stored_bytes_per_input_byte"):
        print(f"{workload} {key} {m[key]:.4f} {units[key]}")
    print(f"{workload} {names['op_p50_ms']} {m['_p50']:.4f} ms (n={n})")
    if "op_p90_ms" in names:
        print(f"{workload} {names['op_p90_ms']} {m['_p90']:.4f} ms (n={n}, "
              f"{n - int(0.9 * n)} samples beyond it)")
    if "read_p50_ms" in names:
        print(f"{workload} {names['read_p50_ms']} {m['_read_p50']:.4f} ms "
              f"(n={m['_reads']})")
    print(f"{workload} {names['ops_per_s']} {m['_measured_ops_per_s']:.4f} "
          "1/s")
    if workload == "ingest":
        print(f"{workload} ingest_events_per_s {m['_events_per_s']:.1f} 1/s")
    for group, rows in (("family", m["_families"]), ("kind", m["_kinds"])):
        for name, lat in sorted(rows.items()):
            print(f"# {workload} {group} {name}: n={len(lat)} "
                  f"p50={statistics.median(lat):.1f} ms")


class _Phases:
    """Wall time of each phase of the run, logged to stderr."""

    def __init__(self):
        self.t = time.perf_counter()

    def __call__(self, name: str) -> None:
        now = time.perf_counter()
        print(f"# phase {name} {now - self.t:.2f} s", file=sys.stderr)
        self.t = now


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["interactive", "analytic", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    os.makedirs(os.path.join(REPO, ".perfbench_work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-",
                            dir=os.path.join(REPO, ".perfbench_work"))
    spark = None
    phase = _Phases()
    try:
        units = _metric_units()
        _isolate(work)
        sys.path.insert(0, REPO)
        # the program under test; without it the run fails here, before
        # any result is printed
        from datawave_spark.session import get_spark
        import gen
        import tracing
        import workloads
        import duckdb

        wl = workloads.WORKLOADS[args.workload]
        pools = gen.Pools.make()
        data_dir = os.path.join(work, "data")
        tables = gen.write_tables(data_dir, pools, wl.tables)
        phase("generate")

        ctx = workloads.Context(None, args.seed, pools, tables, data_dir,
                                work, tracing.NullTracer())
        setups = []
        warm_op = next(wl.ops(ctx, args.seed + 1_000_003))
        # the first set-up also launches the JVM and meets every cold
        # path; the median of three is a set-up in a running JVM
        for _ in range(SETUP_REPS):
            if spark is not None:
                spark.stop()
            shutil.rmtree(os.environ["SPARK_GRAFT_PREPARED_DIR"],
                          ignore_errors=True)
            t0 = time.perf_counter()
            spark = get_spark("perfbench")
            ctx.spark = spark
            wl.setup(ctx)
            wl.run(ctx, warm_op, -1)
            setups.append(time.perf_counter() - t0)
        phase("setup (" + ", ".join(f"{x:.2f}" for x in setups) + ")")

        duck = duckdb.connect()
        for name, path in tables.items():
            duck.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")

        # burn-in, untimed: the first ops of a stream on another seed.
        # Shapes do not depend on the seed, so these are the templates
        # the window opens with, and none meets its first-use costs
        # (code generation, class loading) inside the window
        wl.reset(ctx)
        burn = wl.ops(ctx, args.seed + 2_000_003)
        for i in range(wl.burn_in_ops):
            wl.run(ctx, next(burn), -100 - i)
        phase("burn-in")
        mix = gen.MIX[args.workload]
        records, base = _window(wl, ctx, duck, args, mix, 0)
        phase("window and check")
        all_records = list(records)
        if args.trace:
            # the traced window sits between two untraced ones, so the
            # overhead is read against windows on either side of it in
            # JVM age, not against one that ran on a colder JVM
            tracer = tracing.Tracer(spark)
            traced_records, traced = _window(wl, ctx, duck, args, mix,
                                             len(all_records), tracer)
            all_records += traced_records
            after_records, after = _window(wl, ctx, duck, args, mix,
                                           len(all_records))
            all_records += after_records
            phase("traced and untraced windows and checks")
        duck.close()
        base["setup_s"] = statistics.median(setups)
        for rec in all_records:
            if not rec.ok:
                print(f"# failed {rec.op.kind}: {rec.error.strip()[:300]} "
                      f"| {rec.op.text[:200]}", file=sys.stderr)
        failed = sum(1 for r in all_records if not r.ok)

        e2e = units["end_to_end"]
        _report(args.workload, base, e2e)
        if args.trace:
            table = tracer.layer_table(list(units["per_layer"]))
            overhead = {}
            for k in e2e:
                if k == "setup_s":
                    continue
                untraced = (base[k] + after[k]) / 2.0
                overhead[k] = traced[k] / untraced - 1.0 if untraced else 0.0
                print(f"{args.workload} trace_overhead {k} "
                      f"{100.0 * overhead[k]:+.1f} % (untraced {base[k]:.4f} "
                      f"and {after[k]:.4f}, traced {traced[k]:.4f} {e2e[k]})")
            out_dir = os.path.join(REPO, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            layer_file = os.path.join(
                out_dir, f"layers-{args.workload}-seed{args.seed}.json")
            with open(layer_file, "w") as fh:
                json.dump({"workload": args.workload, "seed": args.seed,
                           "seconds": args.seconds,
                           "layers": {args.workload: table},
                           "spans": len(tracer.spans),
                           "overhead": overhead}, fh, indent=1)
            print(f"# layer file: {os.path.relpath(layer_file, REPO)}")
            metrics = {m: {"value": table["all"][m], "unit": u}
                       for m, u in units["per_layer"].items()}
        else:
            metrics = {k: {"value": base[k], "unit": u}
                       for k, u in e2e.items()}
    finally:
        _shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))     # only when no other run
        except OSError:
            pass
        phase("shutdown")
    print(json.dumps({"correct": failed == 0, "attempted": len(all_records),
                      "failed": failed, "metrics": metrics}))
    return 0


def _shutdown(spark) -> None:
    """Stop the session and wait for the JVM to exit.  The gateway JVM
    exits when its stdin closes; py4j's own shutdown is not used, as it
    can block on callback-server sockets."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


if __name__ == "__main__":
    sys.exit(main())
