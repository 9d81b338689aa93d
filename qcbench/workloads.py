"""The workloads: a closed loop of one client, one operation at a time.

Each workload object prepares its inputs on construction (untimed,
cached), runs ``op`` inside the timed window, and checks every output
afterwards (``check`` per operation, ``final_check`` once). ``traced_op``
runs one operation with spans and job groups for the per-layer numbers;
``probes`` are the traced run's extra measurements.
"""

from __future__ import annotations

import glob
import os
import shutil
import time

from pyspark.sql import functions as F

from exome_qc_library_spark.entry_queries import QUERIES
from exome_qc_library_spark.operators.dedup import minhash_candidate_pairs
from exome_qc_library_spark.operators.perplexity import with_text_scores
from exome_qc_library_spark.plans.quality_pipeline import build_quality_pipeline
from exome_qc_library_spark.sources.checkpoint import CheckpointStore

from . import checks, corpus
from .procstat import tree_cpu_s
from .trace import Tracer, TracingStore, job_group, self_times, trace_pipeline

PIPELINE_DOCS = 5_000

# the operator sweep of the engine's historical headline, without its
# ``sessionize``: ``entry_queries.q_sessionize`` takes gaps in whole seconds
# where its oracle takes them fractionally, so a per-user gap in (1800, 1801) s
# gives one session fewer; events at the profiled sub-second resolution hold
# such a gap on most seeds, so the query cannot pass its check until the
# engine is fixed
QUERY_NAMES = (
    "flagship_flag_counts",
    "text_metrics",
    "langid_udf",
    "scrub_pii",
    "token_counts",
    "exact_dedup",
    "join_agg_revenue",
    "window_topk",
    "segment_zscore",
)

# execution order of the default quality pipeline; lazy stages fuse into
# the next checkpoint write
STAGES = (
    "s0_ingest",
    "s5_near_dedup",
    "s3_hard_filters",
    "s4_exact_dedup",
    "s9_scoring",
    "s6_iterative_outliers",
    "s10_segment_qc",
    "s8_host_qc",
    "s11_verdict",
)
CHECKPOINTED = ("s0_ingest", "s5_near_dedup", "s9_scoring", "s11_verdict")
# the threshold-change rerun: recompute from s9, resume s0/s5 from checkpoints
RESCORE_FROM = "s9_scoring"
RESCORE_KEEPS = ("s0_ingest", "s5_near_dedup")
# lazy stages after the checkpoint their self time is measured from
LAZY_LADDERS = (
    ("s5_near_dedup", ("s3_hard_filters", "s4_exact_dedup")),
    ("s9_scoring", ("s6_iterative_outliers", "s10_segment_qc", "s8_host_qc")),
)


def _langid_udf(spark, sf_dir):
    """Production text scorer (fused language-ID + perplexity pandas UDF)."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    return with_text_scores(docs).select("doc_id", "lang_id", "lang_conf", "perplexity")


def query_fn(name):
    return _langid_udf if name == "langid_udf" else QUERIES[name][0]


def copy_checkpoints(src_root: str, dst_root: str, stages) -> None:
    """Copy the named checkpoints (with their accounting) to a new store root."""
    os.makedirs(dst_root)
    for stage in stages:
        for src in glob.glob(os.path.join(src_root, stage + "*")):
            shutil.copytree(src, os.path.join(dst_root, os.path.basename(src)))


def noop(df) -> None:
    # a noop sink forces every output column; count() would let Catalyst
    # prune projections and time a near-empty scan
    df.write.format("noop").mode("overwrite").save()


class PipelineCold:
    """The full 11-stage default pipeline, cold into a fresh checkpoint root."""

    def __init__(self, spark, root: str, run_dir: str, seed: int) -> None:
        self.spark, self.run_dir = spark, run_dir
        self.pages_path, self.corpus = corpus.pages_corpus(spark, root, seed, PIPELINE_DOCS)
        self.pages = spark.read.parquet(self.pages_path)
        self.docs = self.corpus["rows"]
        # outputs of one seed must agree within a run and across runs
        self.pin = f"pages-s{seed}-n{PIPELINE_DOCS}-{corpus.engine_hash(root)}"
        self.reference: str | None = None
        self._n = 0

    def _fresh_root(self) -> str:
        self._n += 1
        return os.path.join(self.run_dir, f"op{self._n}")

    def prepare(self) -> str:
        return self._fresh_root()

    def op(self, store_root: str):
        return build_quality_pipeline(CheckpointStore(self.spark, store_root)).run(self.pages)

    def check(self, out) -> list[str]:
        facts = checks.pipeline_facts(out)
        if self.reference is None:
            self.reference = facts["digest"]
            pinned = checks.pinned(self.pin, self.reference)
        else:
            pinned = []
        return checks.pipeline_problems(facts, self.corpus, self.reference) + pinned

    def final_check(self) -> list[str]:
        return []

    def traced_op(self, tracer: Tracer, group_prefix: str = "") -> tuple[list, dict]:
        """One operation with a span and job group per stage; returns its
        output and the checkpoint bytes per stage."""
        store = TracingStore(self.spark, self._fresh_root(), tracer, group_prefix)
        pipe = trace_pipeline(build_quality_pipeline(store), tracer, group_prefix)
        with tracer.span("op"):
            out = pipe.run(self.pages)
        self.traced_store = store
        return [out], {f"{s}.bytes": float(store.bytes.get(s, 0)) for s in CHECKPOINTED}

    def probes(self, outputs: list) -> list:
        """Measurements on the last traced operation's store, in priority
        order, as (name, metrics it fills, function, required). The rerun
        from s9 is required: it is the run's only resume-equals-cold check."""
        store = self.traced_store
        return [
            ("rescore", [f"{s}.read_s" for s in CHECKPOINTED],
             lambda: self._rescore(store, outputs), True),
            ("dedup", ["operators.dedup.candidate_pairs", "operators.dedup.verified_pairs",
                       "operators.dedup.pair_yield"],
             lambda: self._dedup_yield(store), False),
            ("self_times", [f"{name}.self_s" for _, lazies in LAZY_LADDERS for name in lazies],
             lambda: self._self_times(store), False),
        ]

    def _rescore(self, store: CheckpointStore, outputs: list) -> dict[str, float]:
        """A traced rerun from s9 over a copy of the s0/s5 checkpoints (the
        resume branch, job groups ``rescore:``); its output must equal the
        cold run's, and its read-backs give the ``read_s`` metrics."""
        tracer = Tracer()
        root = os.path.join(self.run_dir, "rescore")
        copy_checkpoints(store.root, root, RESCORE_KEEPS)
        rstore = TracingStore(self.spark, root, tracer, "rescore:")
        with tracer.span("op"):
            out = trace_pipeline(build_quality_pipeline(rstore), tracer, "rescore:").run(
                self.pages, from_stage=RESCORE_FROM
            )
        outputs.append(out)
        return {f"{n}_s": t for n, t in self_times(tracer.spans).items() if n.endswith(".read")}

    def _self_times(self, store: CheckpointStore, reps: int = 2) -> dict[str, float]:
        """Lazy-stage self time: noop-sink time of the chain through the
        stage minus that through its predecessor, best of ``reps``."""
        fns = {st.name: st.fn for st in build_quality_pipeline(store).stages}
        out = {}
        with job_group(self.spark.sparkContext, "probe:self"):
            for base, lazies in LAZY_LADDERS:
                df = CheckpointStore.read(store, base)
                prev = None
                for name in (None, *lazies):
                    if name is not None:
                        df = fns[name](df)
                    best = float("inf")
                    for _ in range(reps):
                        t0 = time.monotonic()
                        noop(df)
                        best = min(best, time.monotonic() - t0)
                    if name is not None:
                        out[f"{name}.self_s"] = best - prev
                    prev = best
        return out

    def _dedup_yield(self, store: CheckpointStore) -> dict[str, float]:
        threshold = next(
            s.params["threshold"]
            for s in build_quality_pipeline(store).stages
            if s.name == "s5_near_dedup"
        )
        with job_group(self.spark.sparkContext, "probe:dedup"):
            pairs = minhash_candidate_pairs(CheckpointStore.read(store, "s0_ingest"))
            row = pairs.agg(
                F.count(F.lit(1)).alias("cand"),
                F.count_if(F.col("jaccard_est") >= threshold).alias("ok"),
            ).first()
        return {
            "operators.dedup.candidate_pairs": float(row["cand"]),
            "operators.dedup.verified_pairs": float(row["ok"]),
            "operators.dedup.pair_yield": row["ok"] / row["cand"] if row["cand"] else 0.0,
        }


class QuerySweep:
    """One sweep of the operator queries over sf0.1-shaped tables."""

    docs = corpus.SF_ROWS["documents"]

    def __init__(self, spark, root: str, run_dir: str, seed: int) -> None:
        self.spark = spark
        self.sf_dir = corpus.sf_tables(seed)
        self.pin = "langid-{}-{}".format(
            corpus._file_hash(os.path.join(self.sf_dir, "documents.parquet")),
            corpus.engine_hash(root),
        )

    def prepare(self) -> None:
        return None

    def op(self, _ctx) -> None:
        for name in QUERY_NAMES:
            noop(query_fn(name)(self.spark, self.sf_dir))

    def check(self, _out) -> list[str]:
        return []

    def final_check(self) -> list[str]:
        """One untimed result per query against its DuckDB oracle; the
        oracle-less ``langid_udf`` gets a row count and a digest that must
        match every earlier run's over the same documents table."""
        con = checks.duckdb_oracle(self.sf_dir)
        problems = []
        for name in QUERY_NAMES:
            df = query_fn(name)(self.spark, self.sf_dir)
            if name == "langid_udf":
                n, digest = checks.frame_digest(df)
                if n != self.docs:
                    problems.append(f"langid_udf: {n} rows != {self.docs}")
                problems += checks.pinned(self.pin, digest)
                continue
            bad = checks.oracle_problem(df.toPandas(), QUERIES[name][1], self.sf_dir, con)
            if bad:
                problems.append(f"{name}: {bad}")
        con.close()
        return problems

    def traced_op(self, tracer: Tracer, group_prefix: str = "") -> tuple[list, dict]:
        """One sweep with a span, job group and tree-CPU reading per query."""
        layer = {}
        sc = self.spark.sparkContext
        with tracer.span("op"):
            for name in QUERY_NAMES:
                c0, t0 = tree_cpu_s(), time.monotonic()
                with job_group(sc, f"{group_prefix}q:{name}"), tracer.span(f"entry_queries.{name}"):
                    noop(query_fn(name)(self.spark, self.sf_dir))
                layer[f"entry_queries.{name}.wall_s"] = time.monotonic() - t0
                layer[f"entry_queries.{name}.cpu_s"] = tree_cpu_s() - c0
        return [None], layer

    def probes(self, outputs: list) -> list:
        return []


WORKLOADS = {
    "pipeline_cold": PipelineCold,
    "queries_sf0.1": QuerySweep,
}
