#!/usr/bin/env python3
"""pages-qc benchmark.

    python3 qcbench/run.py --workload pipeline_cold --seed 1 --seconds 1 --trace 0

Run from the repository root. One client, one operation at a time, in one
process, at ``local[nproc]``; apart from the traced run's event log the
Spark session keeps the engine's default settings. Inputs are made from
``--seed`` and cached under ``qcbench/.cache``; every run's scratch (Spark
local dirs, checkpoints, temp files) lives under ``qcbench/.run`` and is
removed at exit.

``--trace 0`` measures the end-to-end metrics. ``setup_s`` runs from process
start to a ready session. Operations then run until ``--seconds`` have
passed, at least one; the first is cold (JIT, code generation and Python
workers start inside it), as in a fresh batch job. Medians over the
operations are reported, and every output is checked after the window.

``--trace 1`` traces the first, cold operation and reports the per-layer
metrics: spans and Spark job groups per stage, the event log folded per
group, probes on the traced store and a warm traced operation. The tracing
overhead is the traced cold operation's time minus the median cold
operation of the untraced runs of the same workload and code recorded in
this checkout. Spans, the folded log and the metrics go to
``qcbench/.run/artifacts``.

The last line of stdout is ``{"correct", "attempted", "failed", "metrics"}``;
the line before it is a report with the host block, every end-to-end metric
and ``error_rate`` (failed / attempted operations).
"""

from __future__ import annotations

T_PROCESS = __import__("time").monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import time  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUNS = os.path.join(HERE, ".run")
UNTRACED = os.path.join(HERE, ".cache", "untraced")
# the traced run starts no optional probe once this many seconds have passed
# since its inputs were ready, so it ends inside 180 s on a busy host; the
# metrics of a probe it skips are left out of the result, not reported as 0
PROBE_DEADLINE_S = 90

UNITS = {
    "setup_s": "s",
    "wall_s": "s",
    "docs_per_s": "1/s",
    "cpu_s": "s",
    # printed in the report line only: G1 sizes the engine's default heap
    # from GC-pause feedback, so RSS swings too much between runs to bound
    "peak_rss_mb": "MB",
}
BOUNDED = ("setup_s", "wall_s", "docs_per_s", "cpu_s")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "exome_qc_library_spark")):
        sys.exit(f"engine package not found next to {HERE}: run from a full checkout")
    return args


def isolate(run_dir: str) -> None:
    """Keep every file the engine, Spark and the JVM write inside run_dir,
    and let the Python UDF workers import the engine from this checkout."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path[:0] = [ROOT]


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM (it exits when its stdin
    closes), and wait until no process started by this run is left."""
    from pyspark import SparkContext

    from qcbench.procstat import tree_pids

    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 — fall through to the kill below
                proc.kill()
                proc.wait()
        deadline = time.monotonic() + 30
        while len(tree_pids()) > 1 and time.monotonic() < deadline:
            time.sleep(0.2)
        for pid in tree_pids()[1:]:
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass


def median(xs):
    return statistics.median(xs) if xs else 0.0


def main(argv=None) -> int:
    args = parse_args(argv)
    run_dir = os.path.join(RUNS, f"{args.workload}-s{args.seed}-p{os.getpid()}")
    isolate(run_dir)
    try:
        return run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def run(args, run_dir: str) -> int:
    from exome_qc_library_spark.session import build_session, default_parallelism

    from qcbench.procstat import HostWindow, RssPeak, tree_cpu_s
    from qcbench.trace import Tracer, event_log_conf, fold_event_log
    from qcbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        sys.exit(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    parallelism = default_parallelism()
    host = HostWindow(parallelism)
    log_dir = os.path.join(run_dir, "eventlog")
    if args.trace:
        os.makedirs(log_dir)

    t0 = time.monotonic()
    spark = build_session(app_name="qcbench", extra_conf=event_log_conf(log_dir) if args.trace else {})
    session_start = time.monotonic() - t0
    setup_s = time.monotonic() - T_PROCESS
    rss = RssPeak()
    problems: list[str] = []
    skipped: list[str] = []
    unmeasured: list[str] = []
    overhead_ref = None
    attempted = failed = 0
    samples: list[dict] = []
    outputs: list = []
    try:
        t0 = time.monotonic()
        wl = WORKLOADS[args.workload](spark, ROOT, run_dir, args.seed)
        ready = time.monotonic()
        inputs_s = ready - t0

        def timed_op() -> None:
            nonlocal attempted, failed
            ctx = wl.prepare()
            rss.reset()
            c0, w0 = tree_cpu_s(), time.monotonic()
            try:
                out = wl.op(ctx)
            except Exception:  # noqa: BLE001 — a failed operation is counted, not fatal
                traceback.print_exc()
                attempted += 1
                failed += 1
                problems.append("operation raised")
                return
            wall = time.monotonic() - w0
            samples.append({"wall_s": wall, "cpu_s": tree_cpu_s() - c0, "peak_rss_mb": rss.peak})
            outputs.append(out)

        if args.trace:
            # the first, cold operation traced, as the untraced runs time theirs
            tracer = Tracer()
            rss.reset()
            first, measured = wl.traced_op(tracer)
            cold_s = span_s(tracer)
            measured.update({"session.peak_rss_mb": rss.peak, "session.start_s": session_start})
            outputs += first
            reference = untraced_walls(args.workload)
            if reference:
                measured["trace.overhead_s"] = cold_s - median(reference)
                overhead_ref = f"median cold operation of {len(reference)} untraced runs"

            def warm() -> dict[str, float]:
                # what warming up buys: the traced cold operation minus a
                # traced warm one. With no untraced run recorded yet, the
                # overhead falls back to a warm untraced/traced pair (the
                # traced one runs later, so this reads a little low)
                nonlocal overhead_ref
                n = len(samples)
                if not reference:
                    timed_op()
                tr = Tracer()
                more, _ = wl.traced_op(tr, "warm:")
                outputs.extend(more)
                out = {"session.warmup_s": cold_s - span_s(tr)}
                if len(samples) > n:
                    out["trace.overhead_s"] = span_s(tr) - samples[-1]["wall_s"]
                    overhead_ref = "warm untraced operation just before a warm traced one"
                return out

            probes = wl.probes(outputs) + [("warm", ["session.warmup_s"], warm, False)]
            for name, fills, probe, required in probes:
                if not required and time.monotonic() - ready >= PROBE_DEADLINE_S:
                    skipped.append(name)
                    unmeasured += fills
                    continue
                try:
                    measured.update(probe())
                except Exception:  # noqa: BLE001 — counted as a failed operation
                    traceback.print_exc()
                    attempted += 1
                    failed += 1
                    problems.append(f"probe {name} raised")
                    unmeasured += fills
            if "trace.overhead_s" not in measured:
                unmeasured.append("trace.overhead_s")
        else:
            window0 = time.monotonic()
            timed_op()
            while time.monotonic() - window0 < args.seconds:
                timed_op()
            if samples:
                record_untraced(args.workload, samples[0]["wall_s"])

        checks0 = time.monotonic()
        for out in outputs:
            attempted += 1
            try:
                bad = wl.check(out)
            except Exception as e:  # noqa: BLE001
                bad = [f"check raised {e!r}"]
            if bad:
                failed += 1
                problems += bad
        try:
            bad = wl.final_check()
        except Exception as e:  # noqa: BLE001
            bad = [f"check raised {e!r}"]
        if bad:
            # every operation ran the query whose result is wrong
            failed = attempted
            problems += bad
        checks_s = time.monotonic() - checks0
    finally:
        rss.close()
        stop_spark(spark)

    e2e = {"setup_s": setup_s}
    if samples or not args.trace:
        # a traced run times untraced operations only in its overhead fallback
        e2e.update({
            "wall_s": median([s["wall_s"] for s in samples]),
            "docs_per_s": median([wl.docs / s["wall_s"] for s in samples]),
            "cpu_s": median([s["cpu_s"] for s in samples]),
            "peak_rss_mb": median([s["peak_rss_mb"] for s in samples]),
        })
    if args.trace:
        from qcbench.metrics import catalogue, per_layer

        folded, jobs = fold_event_log(log_dir)
        metrics = per_layer(tracer, folded, jobs, measured)
        for k in unmeasured:
            metrics.pop(k, None)
        units = {name: unit for name, unit, _ in catalogue()}
        write_artifact(args, tracer, folded, metrics)
    else:
        metrics, units = {k: e2e[k] for k in BOUNDED}, UNITS

    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "operations": len(samples),
        "end_to_end": {k: {"value": v, "unit": UNITS[k]} for k, v in e2e.items()},
        "error_rate": failed / attempted,
        "phases_s": {
            "session": session_start,
            "inputs": inputs_s,
            "checks": checks_s,
            "total": time.monotonic() - T_PROCESS,
        },
        "problems": problems[:20],
        "skipped_probes": skipped,
        "unmeasured": unmeasured,
        "overhead_reference": overhead_ref,
        "host": host.block(),
    }
    print(json.dumps(report))
    print(
        json.dumps(
            {
                "correct": not problems,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
            }
        )
    )
    return 0


def _untraced_path(workload: str) -> str:
    from qcbench.corpus import _file_hash, engine_hash

    code = _file_hash(*(os.path.join(HERE, f) for f in ("workloads.py", "corpus.py")))
    return os.path.join(UNTRACED, f"{workload}-{engine_hash(ROOT)}-{code}.txt")


def record_untraced(workload: str, wall_s: float) -> None:
    """Append an untraced run's cold operation time for the traced runs."""
    os.makedirs(UNTRACED, exist_ok=True)
    with open(_untraced_path(workload), "a") as f:
        f.write(f"{wall_s!r}\n")


def untraced_walls(workload: str) -> list[float]:
    """Cold operation times of the untraced runs of this workload and code."""
    try:
        with open(_untraced_path(workload)) as f:
            return [float(line) for line in f if line.strip()]
    except OSError:
        return []


def span_s(tracer) -> float:
    t0, t1 = tracer.find("op")
    return t1 - t0


def write_artifact(args, tracer, folded, metrics) -> None:
    out_dir = os.path.join(RUNS, "artifacts")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"trace-{args.workload}-s{args.seed}.json")
    with open(path, "w") as f:
        json.dump(
            {
                "spans": [
                    {"name": n, "start": a, "end": b, "parent": p} for n, a, b, p in tracer.spans
                ],
                "event_log": {str(k): v for k, v in folded.items()},
                "metrics": metrics,
            },
            f,
            indent=1,
        )


if __name__ == "__main__":
    sys.exit(main())
