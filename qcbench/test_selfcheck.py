"""Self-checks of the benchmark's own code.

    python3 -m pytest qcbench/test_selfcheck.py -q

Covers the span self-time arithmetic, the event-log fold on a tiny traced
pipeline run (cold, then rerun from s9), and the output check catching a
stage that drops rows.
"""

from __future__ import annotations

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from qcbench.trace import Tracer, covered, self_times  # noqa: E402


def test_covered_merges_and_clips_intervals():
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert covered([(0, 4), (6, 12)], 2, 10) == 6
    assert covered([], 0, 10) == 0


def test_self_time_is_duration_minus_children():
    spans = [
        ("op", 0.0, 10.0, None),
        ("a", 1.0, 4.0, 0),
        ("b", 3.0, 6.0, 0),  # overlaps a: the union, not the sum, is removed
        ("a.child", 1.5, 2.0, 1),
        ("a", 8.0, 9.0, 0),  # same name twice: self times add up
    ]
    st = self_times(spans)
    assert st["op"] == pytest.approx(10 - 6)
    assert st["a"] == pytest.approx((3 - 0.5) + 1)
    assert st["b"] == pytest.approx(3)
    assert st["a.child"] == pytest.approx(0.5)


def test_tracer_nests_spans():
    tr = Tracer()
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    assert [(n, p) for n, _, _, p in tr.spans] == [("outer", None), ("inner", 0)]
    t0, t1 = tr.find("outer")
    assert t1 >= t0


@pytest.fixture(scope="module")
def traced_run(tmp_path_factory):
    """A 300-doc cold run and a rerun from s9, both traced, in a session
    that writes an event log; yields the folded log and the two tracers."""
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    from exome_qc_library_spark.plans.quality_pipeline import build_quality_pipeline
    from exome_qc_library_spark.session import build_session
    from exome_qc_library_spark.synth import synthesize_pages

    from qcbench.trace import TracingStore, event_log_conf, fold_event_log, trace_pipeline
    from qcbench.workloads import RESCORE_FROM, RESCORE_KEEPS, copy_checkpoints

    base = tmp_path_factory.mktemp("trace")
    log_dir = base / "eventlog"
    log_dir.mkdir()
    spark = build_session(
        app_name="qcbench-selfcheck",
        extra_conf=event_log_conf(str(log_dir)),
    )
    try:
        pages = synthesize_pages(spark, n_docs=300, seed=5, with_edge_cases=False).cache()
        cold, rescore = Tracer(), Tracer()
        store = TracingStore(spark, str(base / "cold"), cold)
        with cold.span("op"):
            trace_pipeline(build_quality_pipeline(store), cold).run(pages)
        copy_checkpoints(store.root, str(base / "rescore"), RESCORE_KEEPS)
        rstore = TracingStore(spark, str(base / "rescore"), rescore, "rescore:")
        with rescore.span("op"):
            trace_pipeline(build_quality_pipeline(rstore), rescore, "rescore:").run(
                pages, from_stage=RESCORE_FROM
            )
        broken = _row_dropping_run(spark, pages, str(base / "broken"))
    finally:
        spark.stop()
    folded, jobs = fold_event_log(str(log_dir))
    return {"folded": folded, "jobs": jobs, "cold": cold, "rescore": rescore, "broken": broken}


def _row_dropping_run(spark, pages, root):
    from exome_qc_library_spark.plans.pipeline import Stage
    from exome_qc_library_spark.plans.quality_pipeline import build_quality_pipeline
    from exome_qc_library_spark.sources.checkpoint import CheckpointStore
    from pyspark.sql import functions as F

    from qcbench import checks

    pipe = build_quality_pipeline(CheckpointStore(spark, root))
    at = [s.name for s in pipe.stages].index("s11_verdict")
    drop = Stage("drop_some", lambda df: df.filter(F.length("url") % 5 != 0), materialize=False)
    pipe.stages.insert(at, drop)
    facts = checks.pipeline_facts(pipe.run(pages))
    corpus = pages.selectExpr("count(1) AS rows", "count(DISTINCT url) AS urls").first().asDict()
    return checks.pipeline_problems(facts, corpus, None)


def test_event_log_fold_charges_work_to_stages(traced_run):
    folded = traced_run["folded"]
    for stage in ("s0_ingest", "s5_near_dedup", "s9_scoring", "s6_iterative_outliers", "s11_verdict"):
        assert folded[stage]["jobs"] > 0, stage
        assert folded[stage]["cpu_s"] > 0, stage
        assert folded[stage]["task_skew"] >= 1.0, stage
    assert folded["s5_near_dedup"]["shuffle_write_mb"] > 0


def test_rescore_resumes_s5_without_work(traced_run):
    folded, rescore = traced_run["folded"], traced_run["rescore"]
    assert "rescore:s5_near_dedup" not in folded  # no fn, no write jobs
    assert folded["rescore:s9_scoring"]["jobs"] > 0
    st = self_times(rescore.spans)
    assert st.get("s5_near_dedup.write", 0.0) == pytest.approx(0.0)
    assert st["s5_near_dedup.read"] > 0
    assert "s5_near_dedup.fn" not in st


def test_pipeline_jobs_fall_inside_the_op(traced_run):
    t0, t1 = traced_run["cold"].find("op")
    inside = [g for a, _, g in traced_run["jobs"] if t0 <= a <= t1]
    # every job the runner starts is charged to a stage's job group
    assert inside and None not in inside


def test_checks_catch_a_row_dropping_stage(traced_run):
    problems = traced_run["broken"]
    assert any(p.startswith("rows ") for p in problems)
    assert any(p.startswith("distinct urls ") for p in problems)


def test_checks_pass_an_intact_output():
    from qcbench.checks import pipeline_problems

    facts = {"rows": 10, "urls": 10, "verdict_mismatch": 0, "digest": "7"}
    assert pipeline_problems(facts, {"rows": 10, "urls": 10}, "7") == []
    assert pipeline_problems(facts, {"rows": 10, "urls": 10}, "8") == [
        "digest differs from the run's first operation"
    ]
    bad = dict(facts, verdict_mismatch=2)
    assert pipeline_problems(bad, {"rows": 10, "urls": 10}, None) == [
        "2 rows with keep != flagless"
    ]


def test_benchmark_json_lists_what_run_py_reports():
    import json

    from qcbench.metrics import catalogue
    from qcbench.run import BOUNDED, UNITS
    from qcbench.workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == [(k, UNITS[k]) for k in BOUNDED]
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == catalogue()


def test_generated_sf_tables_have_the_profiled_shape():
    from qcbench.corpus import SF01_PROFILE, profile, sf_tables

    want, got = SF01_PROFILE, profile(sf_tables(1))
    exact = {
        "documents": ("rows", "words_min", "words_max", "vocabulary", "sources"),
        "orders": ("rows", "first_date", "last_date"),
        "customer": ("rows", "nations", "segments"),
        "nation": ("rows", "regions"),
        "events": ("rows", "users", "subsecond_share", "event_types", "props"),
    }
    for table, keys in exact.items():
        for k in keys:
            assert got[table][k] == want[table][k], (table, k)
    docs = got["documents"]
    assert docs["words_mean"] == pytest.approx(want["documents"]["words_mean"], abs=2)
    assert docs["duplicate_texts"] == pytest.approx(want["documents"]["duplicate_texts"], abs=2)
    for lang, share in want["documents"]["lang_share"].items():
        assert docs["lang_share"][lang] == pytest.approx(share, abs=0.02), lang
    orders = got["orders"]
    assert orders["price_min"] == pytest.approx(want["orders"]["price_min"], rel=0.01)
    assert orders["price_max"] == pytest.approx(want["orders"]["price_max"], rel=0.01)
    assert orders["customers"] >= 0.99 * want["orders"]["customers"]
    events = got["events"]
    assert events["first_ts"][:10] == want["events"]["first_ts"][:10]
    assert events["last_ts"][:10] == want["events"]["last_ts"][:10]
    assert events["value_mean"] == pytest.approx(want["events"]["value_mean"], rel=0.05)
