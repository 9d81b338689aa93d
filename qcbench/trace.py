"""Tracing for the ``--trace 1`` run, all from outside the engine.

* :class:`Tracer` keeps spans ``(name, start, end, parent)`` in memory; a
  layer's self time is its span's duration minus the part its child spans
  cover.
* :func:`trace_pipeline` wraps every ``Stage.fn`` of a built pipeline and
  :class:`TracingStore` wraps checkpoint writes and read-backs, so each
  stage's plan build, eager driver jobs and checkpoint I/O get a span and a
  Spark job group.
* :func:`fold_event_log` folds Spark's own task metrics per job group from
  the event log the traced session writes.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager

from exome_qc_library_spark.sources.checkpoint import CheckpointStore


class Tracer:
    def __init__(self) -> None:
        self.spans: list[tuple[str, float, float, int | None]] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        self.spans.append((name, time.time(), 0.0, self._stack[-1] if self._stack else None))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            n, t0, _, parent = self.spans[idx]
            self.spans[idx] = (n, t0, time.time(), parent)

    def find(self, name: str) -> tuple[float, float]:
        """(start, end) of the last span called ``name``."""
        _, t0, t1, _ = next(s for s in reversed(self.spans) if s[0] == name)
        return t0, t1


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def self_times(spans) -> dict[str, float]:
    """Summed self time per span name: duration minus child coverage."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for _, t0, t1, parent in spans:
        if parent is not None:
            kids.setdefault(parent, []).append((t0, t1))
    out: dict[str, float] = {}
    for i, (name, t0, t1, _) in enumerate(spans):
        out[name] = out.get(name, 0.0) + (t1 - t0) - covered(kids.get(i, ()), t0, t1)
    return out


@contextmanager
def job_group(sc, group: str):
    """Label every Spark job started inside the block with ``group``."""
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        if prev is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(prev, prev)


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def stage_of(checkpoint: str) -> str:
    """Owning pipeline stage of a checkpoint (``s5__flag_counts`` → ``s5``)."""
    return checkpoint.split("__")[0]


class TracingStore(CheckpointStore):
    """CheckpointStore that spans and labels its writes and read-backs.

    Writes run under the owning stage's job group; read-backs under
    ``<stage>:read``, so a resumed stage's schema probe is not booked as
    stage work. ``group_prefix`` keeps two traced runs apart in one log."""

    def __init__(self, spark, root: str, tracer: Tracer, group_prefix: str = "") -> None:
        super().__init__(spark, root)
        self.tracer = tracer
        self.group_prefix = group_prefix
        self.bytes: dict[str, int] = {}

    def write(self, df, stage, *args, **kwargs):
        owner = stage_of(stage)
        group = self.group_prefix + owner
        with job_group(self.spark.sparkContext, group), self.tracer.span(f"{owner}.write"):
            out = super().write(df, stage, *args, **kwargs)
        if owner == stage:
            self.bytes[stage] = dir_bytes(self.path(stage))
        return out

    def read(self, stage):
        owner = stage_of(stage)
        group = f"{self.group_prefix}{owner}:read"
        with job_group(self.spark.sparkContext, group), self.tracer.span(
            f"{owner}.read"
        ):
            return super().read(stage)


def trace_pipeline(pipe, tracer: Tracer, group_prefix: str = ""):
    """Wrap each stage's fn in a span and job group named after the stage."""
    sc = pipe.store.spark.sparkContext

    def wrap(name, fn):
        def traced(df):
            with job_group(sc, group_prefix + name), tracer.span(f"{name}.fn"):
                return fn(df)

        return traced

    for st in pipe.stages:
        st.fn = wrap(st.name, st.fn)
    return pipe


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Session settings that make Spark write the event log :func:`fold_event_log` reads."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file:" + log_dir,
        # one plain JSON-lines file, readable without a zstd codec
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def fold_event_log(log_dir: str) -> tuple[dict[str, dict], list[tuple[float, float, str | None]]]:
    """Per job group: jobs, executor CPU, shuffle read/write MB, spill MB and
    the task skew (max/median task time) of the group's heaviest Spark stage.
    Also returns every job as ``(submitted_s, completed_s, group)``."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if not paths:
        raise FileNotFoundError(f"no Spark event log under {log_dir}")
    jobs: dict[int, dict] = {}
    stage_group: dict[int, str | None] = {}
    tasks: dict[int, list[dict]] = {}
    with open(max(paths, key=os.path.getmtime)) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                jobs[ev["Job ID"]] = {"start": ev["Submission Time"] / 1e3, "group": group}
                for sid in ev["Stage IDs"]:
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
            elif kind == "SparkListenerTaskEnd" and ev.get("Task Metrics"):
                tasks.setdefault(ev["Stage ID"], []).append(ev)

    folded: dict[str, dict] = {}

    def blank():
        return {"jobs": 0, "cpu_s": 0.0, "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0,
                "spill_mb": 0.0, "task_skew": 0.0, "_heaviest": -1.0}

    for job in jobs.values():
        folded.setdefault(job["group"], blank())["jobs"] += 1
    for sid, evs in tasks.items():
        g = folded.setdefault(stage_group.get(sid), blank())
        times = []
        for ev in evs:
            m, info = ev["Task Metrics"], ev["Task Info"]
            times.append(info["Finish Time"] - info["Launch Time"])
            g["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            rd = m.get("Shuffle Read Metrics") or {}
            g["shuffle_read_mb"] += (rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)) / 2**20
            g["shuffle_write_mb"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / 2**20
            g["spill_mb"] += (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / 2**20
        # the slowest task sets a stage's time: report max/median for the
        # Spark stage that carried the most task time in this group
        if sum(times) > g["_heaviest"]:
            g["_heaviest"] = sum(times)
            g["task_skew"] = max(times) / max(statistics.median(times), 1)
    for g in folded.values():
        del g["_heaviest"]
    intervals = [(j["start"], j.get("end", j["start"]), j["group"]) for j in jobs.values()]
    return folded, intervals
