"""Per-layer metric catalogue and how the traced run fills it.

A traced run reports every metric below. A layer a workload does not touch
reads 0 (the query sweep never enters the runner, a pipeline never calls
``entry_queries``); the metrics of a probe the run's deadline skipped are
dropped from the result by the caller, never reported as 0.
"""

from __future__ import annotations

from .trace import covered, self_times
from .workloads import CHECKPOINTED, QUERY_NAMES, STAGES

_EVENT_LOG = (  # (suffix, unit, better), folded from Spark's task metrics
    ("cpu_s", "s", "lower"),
    ("shuffle_read_mb", "MB", "lower"),
    ("shuffle_write_mb", "MB", "lower"),
    ("spill_mb", "MB", "lower"),
    ("jobs", "count", "lower"),
    ("task_skew", "ratio", "lower"),
)


def catalogue() -> list[tuple[str, str, str]]:
    """(name, unit, better) of every per-layer metric, in report order."""
    out = []
    for st in STAGES:
        out.append((f"{st}.fn_s", "s", "lower"))
        if st in CHECKPOINTED:
            out += [(f"{st}.write_s", "s", "lower"), (f"{st}.bytes", "bytes", "lower"),
                    (f"{st}.read_s", "s", "lower")]
        else:
            out.append((f"{st}.self_s", "s", "lower"))
        out += [(f"{st}.{k}", u, b) for k, u, b in _EVENT_LOG]
    out += [
        ("plans.pipeline.driver_gap_s", "s", "lower"),
        ("plans.pipeline.jobs", "count", "lower"),
        ("operators.dedup.candidate_pairs", "count", "lower"),
        ("operators.dedup.verified_pairs", "count", "higher"),
        ("operators.dedup.pair_yield", "ratio", "higher"),
        ("session.start_s", "s", "lower"),
        ("session.warmup_s", "s", "lower"),
        ("session.peak_rss_mb", "MB", "lower"),
    ]
    for q in QUERY_NAMES:
        out += [(f"entry_queries.{q}.wall_s", "s", "lower"), (f"entry_queries.{q}.cpu_s", "s", "lower")]
    out.append(("trace.overhead_s", "s", "lower"))
    return out


def per_layer(tracer, folded: dict, jobs: list, measured: dict) -> dict[str, float]:
    """Fill the catalogue from spans (self time per layer), the folded event
    log (per job group) and the values the workload measured itself."""
    values = {name: 0.0 for name, _, _ in catalogue()}
    for name, t in self_times(tracer.spans).items():
        stage, _, kind = name.partition(".")
        key = f"{stage}.{kind}_s"
        if stage in STAGES and key in values:
            values[key] = t
    for st in STAGES:
        for k, _, _ in _EVENT_LOG:
            values[f"{st}.{k}"] = float(folded.get(st, {}).get(k, 0.0))
    if any(s[0].endswith(".fn") for s in tracer.spans):
        t0, t1 = tracer.find("op")
        inside = [(a, b) for a, b, _ in jobs if t0 <= a <= t1]
        values["plans.pipeline.jobs"] = float(len(inside))
        values["plans.pipeline.driver_gap_s"] = (t1 - t0) - covered(inside, t0, t1)
    values.update(measured)
    return values
