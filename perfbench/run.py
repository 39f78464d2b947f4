"""Seeded benchmark of the transcript stream engine on local[4].

    python3 perfbench/run.py --workload stream_catchup --seed 1 --seconds 12 --trace 0

Run from the repository root. Workloads: stream_catchup, stream_live
(see perfbench/workloads.py and perfbench/README.md).

With ``--trace 0`` the last line of standard output is one JSON object
holding every end-to-end metric; with ``--trace 1`` it holds every
per-layer metric instead, the spans are written to
``.perfbench/traces/`` and the run also measures its own tracing
overhead. Each run writes its full record (host state, sample counts,
versions, seed) to ``.perfbench/runs/``. The exit code is 1 when a
correctness gate fails, 2 when the engine package is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORES = 4
SETUPS = 3
# the end-to-end metrics of BENCHMARK.json
E2E_UNITS = {
    "setup_s": "s",
    "throughput_rows_per_s": "rows/s",
    "epoch_ms_p50": "ms",
    "emit_lag_ms_p50": "ms",
    "emit_lag_ms_tail": "ms",
    "delivered_frac": "frac",
    "peak_rss_mb": "MB",
}
SPAN_LAYERS = [
    "sources.generator", "streaming.source", "streaming.pipeline", "streaming.matcher",
    "streaming.ooo", "operators.rollups", "operators.sessions", "operators.pairs",
    "operators.skew", "streaming.sink",
]


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["stream_catchup", "stream_live"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def layer_units(name: str) -> str:
    if name.startswith("self_s."):
        return "s"
    for suffix, unit in (("_ms_max", "ms"), ("_ms", "ms"), ("_s", "s"), ("_bytes", "bytes"),
                         ("_frac", "frac"), ("_1_to_4", "frac"), ("skew", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


def per_layer_names() -> list[str]:
    from perfbench.workloads import BATCH_LAYER_METRICS, STREAM_LAYER_METRICS

    return (STREAM_LAYER_METRICS + BATCH_LAYER_METRICS
            + ["gen_late_ms_max", "parallel_efficiency_1_to_4", "trace.overhead_frac"]
            + [f"self_s.{layer}" for layer in SPAN_LAYERS])


def run(args, work: str, rss) -> tuple[bool, dict, dict]:
    from perfbench import engine as E
    from perfbench.stats import layer_self_times
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS, Ctx

    tracer = Tracer(False)
    ctx = Ctx(work, args.seed, tracer, log)
    wl = WORKLOADS[args.workload]()
    record: dict = {"setup_times_s": []}
    layers: dict = {}
    try:
        # Each set-up starts a new SparkSession (the first also launches
        # the JVM and the SparkContext), generates the inputs and warms
        # up; setup_s is the median.
        for i in range(SETUPS):
            tracer.enabled = bool(args.trace) and i == SETUPS - 1
            t0 = time.time()
            if ctx.spark is None:
                ctx.spark = E.start_session(work, CORES, event_log=bool(args.trace))
            else:
                ctx.spark = ctx.spark.newSession()
            wl.setup(ctx, args.seconds)
            record["setup_times_s"].append(time.time() - t0)
        tracer.enabled = False
        record["peak_rss_mb_setup"] = rss.peak_bytes / 2**20
        rss.reset()
        m = wl.measure(ctx, args.seconds)
        e2e = wl.e2e(m)
        e2e["setup_s"] = statistics.median(record["setup_times_s"])
        # peak memory while the workload runs (set-up and gate excluded)
        e2e["peak_rss_mb"] = rss.peak_bytes / 2**20
        record["peak_rss_mb_by_kind"] = {k: v / 2**20 for k, v in rss.peak_by_kind.items()}
        record["drains"] = wl.describe(m)
        if args.trace:
            # the same window again with spans on; per-layer metrics come
            # from this window
            tracer.enabled = True
            m = wl.measure(ctx, args.seconds)
            record["e2e_traced"] = wl.e2e(m)
        correct = wl.gate(ctx, m)
        tracer.enabled = False
        if hasattr(wl, "late_files"):
            record["gen_late_ms_max"] = max(m["late_ms"])
            record["late_files"] = wl.late_files(m)
        if args.trace:
            layers.update(wl.layers(m))
            # a third, untraced window: the traced one is compared with
            # the mean of the windows before and after it, so the warm-up
            # that continues across windows does not pass for overhead
            after = wl.e2e(wl.measure(ctx, args.seconds))
            base = (wl.primary(e2e) + wl.primary(after)) / 2
            layers["trace.overhead_frac"] = wl.primary(record["e2e_traced"]) / base - 1.0
        if args.trace and args.workload == "stream_catchup":
            # scaling evidence: one catch-up round at local[1]
            ctx.spark.stop()
            ctx.spark = E.start_session(work, 1, event_log=False)
            thr1 = wl.ROWS / wl.round_(ctx, len(m["rounds"]))["wall"]
            layers["parallel_efficiency_1_to_4"] = e2e["throughput_rows_per_s"] / (CORES * thr1)
        ctx.spark.stop()
        ctx.spark = None
        if args.trace:
            if hasattr(wl, "eventlog_layers"):
                layers.update(wl.eventlog_layers(E.eventlog_actions(os.path.join(work, "eventlog"))))
            for layer, s in layer_self_times(tracer.spans).items():
                layers[f"self_s.{layer}"] = s
            record["spans"] = tracer.spans
    finally:
        if ctx.spark is not None:
            ctx.spark.stop()
    record.update(e2e=e2e, attempted=ctx.attempted, failed=ctx.failed, layers=layers)
    return correct, e2e, record


def stop_children(timeout_s: float = 30.0) -> None:
    """Shut the Py4J gateway JVM down and wait until every process this
    run started (the JVM and its Python workers) has ended."""
    from perfbench.host import tree_pids

    try:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.terminate()
                proc.wait(timeout=timeout_s)
    except Exception as exc:  # teardown must reach the wait below
        log(f"gateway shutdown: {exc!r}")
    deadline = time.time() + timeout_s
    me = os.getpid()
    while True:
        left = [p for p in tree_pids(me) if p != me]
        if not left:
            return
        if time.time() > deadline:
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.2)
        for p in left:
            try:
                os.waitpid(p, os.WNOHANG)
            except ChildProcessError:
                pass


def main(argv=None) -> int:
    args = parse(argv)
    if not os.path.isfile(os.path.join(ROOT, "stellar_etl_spark", "__init__.py")):
        log(f"the engine package stellar_etl_spark is not in {ROOT}")
        return 2
    out = os.path.join(ROOT, ".perfbench")
    work = os.path.join(out, f"work-{os.getpid()}")
    os.makedirs(work)
    # everything the run, the JVM and the Python workers write stays here
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # Two glibc malloc arenas for the JVM and the Python workers: with the
    # default (8 per core) their native memory, and so peak RSS, varied
    # by 1.4 GB between otherwise equal runs.
    os.environ["MALLOC_ARENA_MAX"] = "2"
    sys.path.insert(0, ROOT)

    from perfbench.host import HostState, RssSampler

    host = HostState()
    try:
        with RssSampler() as rss:
            correct, e2e, record = run(args, work, rss)
    finally:
        stop_children()
        shutil.rmtree(work, ignore_errors=True)

    import pyarrow
    import pyspark

    record.update(
        workload=args.workload, seed=args.seed, seconds=args.seconds, trace=args.trace,
        correct=correct, host=host.delta(), nproc=len(os.sched_getaffinity(0)),
        cpu_count=os.cpu_count(), spark=pyspark.__version__, pyarrow=pyarrow.__version__,
    )
    stamp = time.strftime("%Y%m%dT%H%M%S")
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{stamp}.json"
    spans = record.pop("spans", None)
    if spans is not None:
        os.makedirs(os.path.join(out, "traces"), exist_ok=True)
        with open(os.path.join(out, "traces", name), "w") as f:
            json.dump(spans, f)
    os.makedirs(os.path.join(out, "runs"), exist_ok=True)
    with open(os.path.join(out, "runs", name), "w") as f:
        json.dump(record, f, indent=1, default=str)

    samples = e2e.pop("_samples", {})
    print(f"workload={args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace} "
          f"nproc={record['nproc']} spark={record['spark']} pyarrow={record['pyarrow']}")
    print("host " + " ".join(f"{k}={v:.3f}" for k, v in record["host"].items()))
    print("samples " + " ".join(f"{k}={v}" for k, v in samples.items()))
    for k, unit in E2E_UNITS.items():
        print(f"{k} = {e2e[k]:.6g} {unit}")
    # printed, not gated: a run has too few triggers for a tail above p50
    print(f"epoch_ms_tail = {e2e['epoch_ms_tail']:.6g} ms (p{samples['epoch_tail_pct']} "
          f"of {samples['epochs']} triggers)")
    print(f"failed_frac = {record['failed'] / max(1, record['attempted']):.6g} "
          f"({record['failed']} of {record['attempted']})")
    if "late_files" in record:
        print(f"generator late_ms_max={record['gen_late_ms_max']:.3f} "
              f"late_files={record['late_files']}"
              + (" RUN INVALID: files published more than one tick late" if record["late_files"] else ""))
    if args.trace:
        metrics = {k: {"value": float(record["layers"].get(k, 0.0)), "unit": layer_units(k)}
                   for k in per_layer_names()}
        for k, v in metrics.items():
            print(f"{k} = {v['value']:.6g} {v['unit']}")
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in E2E_UNITS.items()}
    print(json.dumps({"correct": bool(correct), "attempted": max(1, record["attempted"]),
                      "failed": record["failed"], "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
