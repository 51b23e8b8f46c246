"""Repository benchmark: the polygon drill and the documents roster,
end to end and layer by layer.

    python3 perfbench/run.py --workload drill_flagship --seed 1 \
        --seconds 10 --trace 0

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the
traced layer suite and prints the per-layer metrics.  The last stdout
line is one JSON object ``{"correct", "attempted", "failed",
"metrics"}``; the lines before it are a readable report (every metric
by name with its unit, ``failed_frac``, input-generation time and the
machine's provenance).  See perfbench/README.md for the workloads and
the metric definitions.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from inputs import DATA_DIR, ROOT  # noqa: E402

# local[2] on a 4-vCPU VM: the driver JVM (GC and JIT threads) and the
# OS keep two vCPUs, which measured about a tenth of the CPU steal of
# local[4].  Never above local[4] (nproc = 4: no scaling metric).
CPUS = max(1, min(2, os.cpu_count() or 1))
SETUP_REPEATS = 3
# The traced run must end well inside the 180 s a run may take, and it
# measures every layer on the workload plus the ledger and the documents
# leaves: one call per Spark layer and one timed unit on each side of
# the tracing-overhead difference.
LAYER_REPS = 1
TRACE_UNITS = 1
E2E_UNITS = {"run_s": "s", "tiles_per_s": "1/s", "setup_s": "s",
             "peak_rss_mb": "MB"}


def _unit_of(name: str) -> str:
    """Unit of a per-layer metric, from its name."""
    if name.endswith("tiles_per_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith(("_us_per_tile", "_us_per_footprint")):
        return "us"
    if name.endswith(("bytes", "bytes_per_tile", "bytes_written",
                      "py_bytes_sent", "py_bytes_returned")):
        return "B"
    if name.endswith(("ratio", "skew")):
        return "ratio"
    return "count"


class Ops:
    """Attempted / failed operation counter with the first failure
    reasons kept for the report."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.reasons: list = []

    def add(self, n_ops: int, failures: list) -> None:
        self.attempted += n_ops
        self.failed += len(failures)
        self.reasons.extend(failures[:5 - len(self.reasons)])


def _run_unit(wl, ops: Ops):
    """One checked unit -> (seconds, steps), or None when it raised (an
    exception counts as one failed operation)."""
    try:
        dt, steps, n_ops, failures = wl.unit()
    except Exception as e:  # keep measuring; the failure is reported
        traceback.print_exc(file=sys.stderr)
        ops.add(1, [f"{type(e).__name__}: {e}"])
        return None
    ops.add(n_ops, failures)
    return dt, steps


def _warm_up(wl, ops: Ops, seconds: float) -> list:
    """Untimed, checked units for ``seconds`` (at least one unit when
    ``seconds`` > 0): unit times keep falling for several seconds after
    set-up while the JVM compiles.  The NRT workload's warm-up is its
    one-shot reference drill, checked against the oracle.  -> the
    warm-up units' seconds."""
    if hasattr(wl, "reference"):
        why = wl.reference()
        ops.add(1, [f"reference drill vs oracle: {why}"] if why else [])
    out, t0 = [], time.monotonic()
    while time.monotonic() - t0 < seconds:
        u = _run_unit(wl, ops)
        if u is not None:
            out.append(u[0])
    return out


def end_to_end(args, wl, ops: Ops, info: dict) -> dict:
    from harness import RssSampler, geomean, jvm_pid, start_session

    spark, session_s = start_session(CPUS, None)
    rss = RssSampler()
    rss.start(jvm_pid(spark))
    try:
        prep = wl.setup(spark, SETUP_REPEATS)
        warm = _warm_up(wl, ops, wl.warmup_s)
        units, peaks, worker_peaks = [], [], []
        t0 = time.monotonic()
        while (len(units) < wl.min_units
               or time.monotonic() - t0 < args.seconds):
            rss.new_window()
            u = _run_unit(wl, ops)
            if u is None and ops.failed > 3:  # the program is broken
                break
            if u is not None:
                units.append(u)
                total_mb, workers_mb = rss.window_peak_mb()
                peaks.append(total_mb)
                worker_peaks.append(workers_mb)
    finally:
        spark.stop()
        rss.stop()
    if not units:
        raise RuntimeError("no unit completed: " + "; ".join(ops.reasons))
    by_step: dict = {}
    for _, steps in units:
        for name, d in steps:
            by_step.setdefault(name, []).append(d)
    run_s = statistics.median(d for d, _ in units)
    info.update(session_s=session_s, prep_s=prep, warmup_unit_s=warm,
                units=len(units),
                workers_peak_rss_mb=statistics.median(worker_peaks),
                unit_s=[d for d, _ in units],
                batch_p50_s=statistics.median(
                    d for v in by_step.values() for d in v),
                leaf_geomean_s=geomean(
                    [statistics.median(v) for v in by_step.values()]))
    return {
        "run_s": run_s,
        "tiles_per_s": wl.n_items / run_s,
        "setup_s": session_s + statistics.median(prep),
        "peak_rss_mb": statistics.median(peaks),
    }


def _timed_units(wl, ops: Ops, n: int, tr=None) -> list:
    """Seconds of ``n`` checked units (inside "run" spans when traced)."""
    out = []
    for _ in range(n):
        with tr.span("run") if tr else contextlib.nullcontext():
            u = _run_unit(wl, ops)
        if u is not None:
            out.append(u[0])
    return out


def traced(args, wl, ops: Ops, info: dict) -> dict:
    """The per-layer run: the workload's units once without and once with
    tracing (job labels + event log), then the layer suite in the traced
    session.  Every layer is measured on every workload: layers the
    workload does not exercise run on the same seed's flagship (drill,
    ledger) or documents (leaves) inputs."""
    import shutil

    import layers
    import workloads as W
    from harness import Tracer, parse_event_log, start_session

    tiny = args.size == "tiny"
    flagship = W.TINY["flagship"] if tiny else W.FLAGSHIP
    # info.phase_s: where the run's time goes (a run must end within 180 s)
    phase: dict = {}
    t_phase = time.monotonic()

    def lap(name):
        nonlocal t_phase
        now = time.monotonic()
        phase[name] = now - t_phase
        t_phase = now

    spark, _ = start_session(CPUS, None)
    try:
        wl.setup(spark, 1)
        _warm_up(wl, ops, min(1.0, wl.warmup_s))
        untraced = _timed_units(wl, ops, TRACE_UNITS)
    finally:
        spark.stop()
    lap("untraced")

    log_dir = os.path.join(DATA_DIR, "eventlog",
                           f"{args.workload}_s{args.seed}_{os.getpid()}")
    shutil.rmtree(log_dir, ignore_errors=True)
    spark, _ = start_session(CPUS, log_dir)
    tr = Tracer(spark, label_jobs=True)
    m: dict = {}

    def aux(obj):
        obj.prepare(args.seed)
        with tr.span("setup"):
            obj.setup(spark, 1)
        return obj

    def ledger_step(step):
        return tr.span("ledger.finalize" if step == "finalize"
                       else "ledger.batch")

    try:
        with tr.span("setup"):
            wl.setup(spark, 1)
        with tr.span("warmup"):
            _warm_up(wl, ops, min(1.0, wl.warmup_s))
        is_nrt = isinstance(wl, W.NrtBatches)
        if is_nrt:
            wl.step_ctx = ledger_step
        runs = _timed_units(wl, ops, TRACE_UNITS, tr)

        # the drill layers right after the timed units, so that the layer
        # sum and the unit time it is compared with see the same JVM state
        if isinstance(wl, W.SteadyDrill):
            ctx, action_s = wl, statistics.median(runs)
        else:
            ctx = wl.batch_drill() if is_nrt else aux(W.SteadyDrill(flagship))
            with tr.span("warmup"):
                ctx.action()
            for _ in range(TRACE_UNITS):
                with tr.span("drill_action"):
                    ctx.action()
            action_s = tr.median("drill_action")
        m.update(layers.drill_layers(ctx, tr, reps=LAYER_REPS))
        m["trace.layer_sum_ratio"] = m["trace.layer_sum_s"] / action_s
        lap("drill_layers")

        nrt = wl if is_nrt else aux(W.NrtBatches(
            wl.size if isinstance(wl, W.SteadyDrill) else flagship))
        if not is_nrt:
            nrt.step_ctx = ledger_step
            nrt.run_batches()
        nrt.step_ctx = None
        m.update(layers.ledger_layers(tr, nrt))
        lap("ledger")

        docs = wl if isinstance(wl, W.DocsDedupSearch) else aux(
            W.DocsDedupSearch(W.TINY["docs"] if tiny else W.DOCS))
        leaf_m, whys = layers.leaf_layers(docs, tr)
        m.update(leaf_m)
        ops.add(len(W.DOC_LEAVES), whys)
        lap("leaves")
    finally:
        spark.stop()
    m.update(layers.engine_metrics(parse_event_log(log_dir), tr))
    shutil.rmtree(log_dir, ignore_errors=True)
    lap("event_log")

    wit_inp = (ctx.inp if ctx.size.plugin == "wit_ls9" else
               W.DrillInput(args.seed, W.TINY["wit"] if tiny
                            else W.WIT_SAMPLE).ensure())
    m.update(layers.kernel_probes(ctx.inp, wit_inp,
                                  footprints=8 if tiny else 64))
    lap("probes")
    m["kernel.ceiling_tiles_per_s"] = layers.kernel_ceiling()
    lap("ceiling")

    m["trace.run_s"] = statistics.median(runs)
    m["trace.untraced_run_s"] = statistics.median(untraced)
    m["trace.overhead_s"] = m["trace.run_s"] - m["trace.untraced_run_s"]
    trace_path = os.path.join(DATA_DIR, "traces",
                              f"{args.workload}_{args.size}_s{args.seed}.json")
    tr.dump(trace_path)
    info["trace_file"] = os.path.relpath(trace_path, ROOT)
    info["phase_s"] = phase
    return m


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full",
                   help="tiny = smoke-test inputs (selfcheck.py)")
    p.add_argument("--plant-fault", action="store_true",
                   help="drop one partial row (selfcheck.py)")
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "dea_conflux_spark")):
        print(f"perfbench: package dea_conflux_spark not found under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from harness import provenance, sandbox_env, stop_processes

    sandbox_env()
    import workloads as W

    if args.workload not in W.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{', '.join(W.WORKLOADS)}", file=sys.stderr)
        return 2
    # a SIGTERM unwinds through the finally below like an exception
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    wl = W.make(args.workload, tiny=args.size == "tiny",
                fault=args.plant_fault)
    info = {"workload": args.workload, "seed": args.seed, "size": args.size,
            **provenance(CPUS)}
    ops = Ops()
    try:
        info["gen_s"] = wl.prepare(args.seed)
        if args.trace:
            metrics = traced(args, wl, ops, info)
            units = {k: _unit_of(k) for k in metrics}
        else:
            metrics = end_to_end(args, wl, ops, info)
            units = E2E_UNITS
    finally:
        # the JVM and its Python workers end before the result prints
        t_stop = time.monotonic()
        stop_processes()
        info["stop_s"] = time.monotonic() - t_stop
    info["failed_frac"] = ops.failed / max(1, ops.attempted)
    if ops.reasons:
        info["failures"] = ops.reasons

    for k in sorted(metrics):
        print(f"{k:40s} {metrics[k]:>16.6g} {units[k]}")
    print(f"{'failed_frac':40s} {info['failed_frac']:>16.6g} 1")
    print("info " + json.dumps(info, default=float))
    print(json.dumps({
        "correct": ops.failed == 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]}
                    for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
