"""One pass of each workload, driven through the product's public API.

A pass is what one user invocation does. Log workloads call the
``analyze`` CLI in-process (``__main__.main``); the document workload
chains the ``operators.curation`` / ``operators.dedup`` functions. Each
workload also has a traced pass that calls the same layers one by one,
inside spans, materializing each layer's output at its boundary.
"""

from __future__ import annotations

import contextlib
import io
import shutil
import time
from pathlib import Path

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

import oracle
from spans import Tracer, capture_checkpoints, catalyst_ms, plan_kb

#: per-layer metrics, in the order BENCHMARK.json lists them
LAYER_METRICS = {
    "session.pinned_blocks": "count",
    "session.peak_rss_mb": "MiB",
    "sources.kibana.exec_s": "s",
    "sources.kibana.tasks": "count",
    "sources.kibana.rows_out": "count",
    "plans.pipeline.build_s": "s",
    "plans.pipeline.analysis_ms": "ms",
    "plans.pipeline.optimization_ms": "ms",
    "plans.pipeline.planning_ms": "ms",
    "plans.pipeline.exec_s": "s",
    "plans.pipeline.cpu_s": "s",
    "plans.pipeline.plan_kb": "KiB",
    "plans.pipeline.parsed_ratio": "ratio",
    "plans.pipeline.incidents_s": "s",
    "operators.enrich.build_s": "s",
    "operators.enrich.expr_kb": "KiB",
    "operators.enrich.expr_kb_p1": "KiB",
    "operators.enrich.expr_kb_p2": "KiB",
    "operators.aggregates.build_s": "s",
    "operators.aggregates.catalyst_ms": "ms",
    "operators.aggregates.exec_s": "s",
    "operators.aggregates.cpu_s": "s",
    "operators.aggregates.gc_s": "s",
    "operators.aggregates.shuffle_write_mb": "MiB",
    "operators.aggregates.spill_mb": "MiB",
    "operators.aggregates.stages": "count",
    "operators.aggregates.tasks": "count",
    "operators.aggregates.kept_ratio": "ratio",
    "plans.reports.exec_s": "s",
    "plans.reports.bytes_out": "bytes",
    "operators.dedup.exact_s": "s",
    "operators.dedup.exact_kept_ratio": "ratio",
    "operators.dedup.lsh_s": "s",
    "operators.dedup.lsh_shuffle_write_mb": "MiB",
    "operators.dedup.lsh_candidates": "count",
    "operators.dedup.verify_s": "s",
    "operators.dedup.verify_shuffle_write_mb": "MiB",
    "operators.dedup.verify_ratio": "ratio",
    "operators.dedup.planted_recall": "ratio",
    "operators.dedup.cluster_s": "s",
    "operators.curation.scrub_s": "s",
    "operators.curation.budget_pack_s": "s",
    "trace.overhead_ratio": "ratio",
}

#: pattern-rewrite growth probe: one pattern with one, then two parameters
PROBE_PATTERNS = {
    "operators.enrich.expr_kb_p1": [{"start": "SELECT * FROM ks0.t00 WHERE id", "parameters": ["id"]}],
    "operators.enrich.expr_kb_p2": [{"start": "SELECT * FROM ks0.t00 WHERE id", "parameters": ["id", "v"]}],
}


def pinned_blocks(spark: SparkSession) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _expr_kb(col) -> float:
    return len(col._jc.toString()) / 1024


class LogWorkload:
    """``analyze`` over generated Kibana pages."""

    def __init__(self, data: Path, truth: dict, work: Path):
        self.data, self.truth, self.work = data, truth, work
        self.files = [str(data / f) for f in truth["files"]]
        self.expected = oracle.expected_reports(truth["rows"])
        self.groups = oracle.grouping_set_rows(truth["rows"])
        self.config = None

    def load_config(self):
        """Config loading through the product's own loaders (part of set-up)."""
        from cassandra_slow_queries_spark.config import AnalysisConfig
        from cassandra_slow_queries_spark.sources.configs import (
            load_query_patterns,
            load_tag_map,
        )
        from cassandra_slow_queries_spark.sources.cql_schema import parse_cql_schema

        self.config = AnalysisConfig(
            schema=parse_cql_schema((self.data / "schema.cql").read_text()),
            queries=load_query_patterns(self.data / "patterns.json"),
            tags=load_tag_map(self.data / "tags.json"),
        )

    def run(self, spark: SparkSession, tag: str) -> dict:
        from cassandra_slow_queries_spark.__main__ import main

        argv = [
            "analyze", *self.files,
            "--schema", str(self.data / "schema.cql"),
            "--queries", str(self.data / "patterns.json"),
            "--tags", str(self.data / "tags.json"),
            "--out", str(self.work / "reports"),
            "--run-tag", tag,
        ]
        err = io.StringIO()
        with contextlib.redirect_stderr(err):
            rc = main(argv)
        if rc != 0:
            raise RuntimeError(f"analyze exited with {rc}")
        return {"run_dir": self.work / "reports" / tag, "stderr": err.getvalue()}

    def check(self, out: dict) -> list[str]:
        try:
            drops = oracle.parse_drops(out["stderr"])
            return oracle.check_logs(out["run_dir"], drops, self.truth, self.expected)
        finally:
            shutil.rmtree(out["run_dir"], ignore_errors=True)

    def traced(self, spark: SparkSession, tr: Tracer, tag: str) -> dict:
        """The ``analyze`` pass split into its layers: the calls
        ``cmd_analyze`` makes (its shard-failure scan grouped with the
        source layer), each output materialized at its boundary."""
        from cassandra_slow_queries_spark.operators.aggregates import (
            five_reports_shared_shuffle,
        )
        from cassandra_slow_queries_spark.plans.pipeline import (
            incident_report,
            parse_messages,
            parse_observation,
        )
        from cassandra_slow_queries_spark.plans.reports import write_reports
        from cassandra_slow_queries_spark.sources.kibana import (
            read_kibana_json,
            shard_failure_report,
        )

        m: dict[str, float] = {}
        cfg = self.config
        with tr.span("pass") as root:
            with tr.span("sources.kibana") as sp:
                raw = read_kibana_json(spark, self.files).persist(StorageLevel.MEMORY_AND_DISK)
                m["sources.kibana.rows_out"] = raw.count()
                shard_failure_report(spark, self.files).collect()
            with tr.span("plans.pipeline") as pp:
                t0 = time.perf_counter()
                obs = parse_observation()
                fact = parse_messages(raw, spark, cfg, observation=obs, with_incidents=True)
                m["plans.pipeline.build_s"] = time.perf_counter() - t0
                for phase, ms in catalyst_ms(fact).items():
                    m[f"plans.pipeline.{phase}_ms"] = ms
                m["plans.pipeline.plan_kb"] = plan_kb(fact)
                fact = fact.persist(StorageLevel.MEMORY_AND_DISK)
                fact.count()
            with tr.span("plans.pipeline.incidents") as inc:
                incident_report(fact).collect()
            with tr.span("operators.aggregates") as ag:
                with capture_checkpoints(type(fact)) as frames:
                    reports = five_reports_shared_shuffle(fact.drop("_incidents"), cfg)
            with tr.span("plans.reports") as rp:
                run_dir = Path(write_reports(reports, str(self.work / "reports"), run_tag=tag))
        m["plans.pipeline.parsed_ratio"] = obs.get["n_parsed"] / obs.get["n_input"]
        m["plans.pipeline.incidents_s"] = tr.wall(inc)
        k = tr.jobs(sp)
        m["sources.kibana.exec_s"], m["sources.kibana.tasks"] = k["exec_s"], k["tasks"]
        k = tr.jobs(pp)
        m["plans.pipeline.exec_s"], m["plans.pipeline.cpu_s"] = k["exec_s"], k["cpu_s"]
        k = tr.jobs(ag)
        cat = sum(sum(catalyst_ms(f).values()) for f in frames)
        m["operators.aggregates.catalyst_ms"] = cat
        m["operators.aggregates.build_s"] = max(0.0, tr.wall(ag) - cat / 1000 - k["exec_s"])
        for key in ("exec_s", "cpu_s", "gc_s", "shuffle_write_mb", "spill_mb", "stages", "tasks"):
            m[f"operators.aggregates.{key}"] = k[key]
        m["operators.aggregates.kept_ratio"] = sum(df.count() for df in reports.values()) / self.groups
        m["plans.reports.exec_s"] = tr.jobs(rp)["exec_s"]
        m["plans.reports.bytes_out"] = sum(f.stat().st_size for f in run_dir.rglob("*.csv"))
        m["trace.span_sum_s"] = sum(tr.wall(s) for s in tr.spans if s["parent"] == root["id"])
        problems = oracle.check_logs(run_dir, dict(obs.get), self.truth, self.expected)
        shutil.rmtree(run_dir, ignore_errors=True)
        if problems:
            raise RuntimeError(f"traced pass output check failed: {problems}")
        m.update(self.enrich_probe(tr))
        return m

    def enrich_probe(self, tr: Tracer) -> dict:
        """Plan-time size of the pattern rewrite, built and never run: the
        configured patterns, then the one- and two-parameter probes."""
        from cassandra_slow_queries_spark.operators.enrich import apply_query_patterns

        m = {}
        with tr.span("operators.enrich") as en:
            col = apply_query_patterns(F.col("_raw_query"), self.config.queries)
        m["operators.enrich.build_s"] = tr.wall(en)
        m["operators.enrich.expr_kb"] = _expr_kb(col)
        for name, pats in PROBE_PATTERNS.items():
            with tr.span(name):
                m[name] = _expr_kb(apply_query_patterns(F.col("_raw_query"), pats))
        return m


DOC_SCHEMA = "doc_id long, text string, n_tokens long, quality double"
PACKED_COLS = ["doc_id", "n_tokens", "start_offset", "pack_id", "pack_pos", "n_spans"]


class DocWorkload:
    """The curation chain over a generated corpus."""

    def __init__(self, data: Path, truth: dict, work: Path):
        self.data, self.truth, self.work = data, truth, work
        self.path = str(data / "docs.jsonl")

    def load_config(self):
        pass

    def _read(self, spark):
        return spark.read.schema(DOC_SCHEMA).json(self.path)

    def run(self, spark: SparkSession, tag: str) -> dict:
        from cassandra_slow_queries_spark.operators import curation as C
        from cassandra_slow_queries_spark.operators import dedup as D

        docs = C.pii_scrub(self._read(spark), "text")
        exact = D.drop_exact_duplicates(docs, "text", "doc_id")
        cands = D.minhash_lsh_pairs(exact, "text", "doc_id")
        pairs = D.verified_near_dup_pairs(
            exact, cands, "text", "doc_id",
            n=oracle.JACCARD_N, threshold=oracle.JACCARD_THRESHOLD, max_doc_freq=None,
        )
        reps = D.keep_cluster_representatives(exact, pairs, "doc_id")
        selected = C.token_budget_select(reps, self.truth["budget"], "n_tokens", "quality", "doc_id")
        packed = C.pack_sequences(selected, self.truth["window"], "n_tokens", "doc_id")
        rows = packed.select(*PACKED_COLS).collect()
        return {"exact": exact, "pairs": pairs, "packed": rows}

    def check(self, out: dict) -> list[str]:
        problems, _ = oracle.check_docs(self._collect(out), self.truth)
        return problems

    @staticmethod
    def _collect(out: dict) -> dict:
        return {
            "exact_ids": [r[0] for r in out["exact"].select("doc_id").collect()],
            "pairs": [tuple(r) for r in out["pairs"].collect()],
            "packed": [tuple(r) for r in out["packed"]],
        }

    def traced(self, spark: SparkSession, tr: Tracer, tag: str) -> dict:
        from cassandra_slow_queries_spark.operators import curation as C
        from cassandra_slow_queries_spark.operators import dedup as D

        keep = StorageLevel.MEMORY_AND_DISK
        m: dict[str, float] = {}
        with tr.span("pass") as root:
            with tr.span("operators.curation.scrub") as sc:
                docs = C.pii_scrub(self._read(spark), "text").persist(keep)
                n_docs = docs.count()
            with tr.span("operators.dedup.exact") as ex:
                exact = D.drop_exact_duplicates(docs, "text", "doc_id").persist(keep)
                n_exact = exact.count()
            with tr.span("operators.dedup.lsh") as lsh:
                cands = D.minhash_lsh_pairs(exact, "text", "doc_id")
            with tr.span("operators.dedup.verify") as ver:
                pairs = D.verified_near_dup_pairs(
                    exact, cands, "text", "doc_id",
                    n=oracle.JACCARD_N, threshold=oracle.JACCARD_THRESHOLD, max_doc_freq=None,
                )
            with tr.span("operators.dedup.cluster") as cl:
                reps = D.keep_cluster_representatives(exact, pairs, "doc_id").persist(keep)
                reps.count()
            with tr.span("operators.curation.budget_pack") as bp:
                selected = C.token_budget_select(reps, self.truth["budget"], "n_tokens", "quality", "doc_id")
                packed = C.pack_sequences(selected, self.truth["window"], "n_tokens", "doc_id")
                rows = packed.select(*PACKED_COLS).collect()
        n_cands, n_pairs = cands.count(), pairs.count()
        problems, recall = oracle.check_docs(
            self._collect({"exact": exact, "pairs": pairs, "packed": rows}), self.truth
        )
        if problems:
            raise RuntimeError(f"traced pass output check failed: {problems}")
        m["operators.curation.scrub_s"] = tr.wall(sc)
        m["operators.dedup.exact_s"] = tr.wall(ex)
        m["operators.dedup.exact_kept_ratio"] = n_exact / n_docs
        m["operators.dedup.lsh_s"] = tr.wall(lsh)
        m["operators.dedup.lsh_shuffle_write_mb"] = tr.jobs(lsh)["shuffle_write_mb"]
        m["operators.dedup.lsh_candidates"] = n_cands
        m["operators.dedup.verify_s"] = tr.wall(ver)
        m["operators.dedup.verify_shuffle_write_mb"] = tr.jobs(ver)["shuffle_write_mb"]
        m["operators.dedup.verify_ratio"] = n_pairs / n_cands if n_cands else 0.0
        m["operators.dedup.planted_recall"] = recall
        m["operators.dedup.cluster_s"] = tr.wall(cl)
        m["operators.curation.budget_pack_s"] = tr.wall(bp)
        m["trace.span_sum_s"] = sum(tr.wall(s) for s in tr.spans if s["parent"] == root["id"])
        return m
