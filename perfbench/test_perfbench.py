"""Tests of the benchmark's own code: generator determinism, the oracle
against the product on tiny instances, and the BENCHMARK.json limits.

    python -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

import gen  # noqa: E402
import oracle  # noqa: E402

TINY_LOGS = dict(gen.LOG_WORKLOADS["logs_analyze"], pages=2, hits_per_page=400)
TINY_DOCS = dict(gen.DOC_WORKLOADS["curate_docs"], n_base=120)


def _tree(d: Path) -> dict[str, bytes]:
    return {p.name: p.read_bytes() for p in sorted(d.iterdir())}


@pytest.mark.parametrize("workload", [*gen.LOG_WORKLOADS, *gen.DOC_WORKLOADS])
def test_generators_are_byte_identical_per_seed(tmp_path, workload):
    a, truth_a = gen.generate(tmp_path / "a", workload, 7)
    b, truth_b = gen.generate(tmp_path / "b", workload, 7)
    c, _ = gen.generate(tmp_path / "c", workload, 8)
    assert _tree(a) == _tree(b)
    assert truth_a == truth_b
    assert _tree(a) != _tree(c)


def test_generated_logs_plant_every_drop_path(tmp_path):
    truth = gen.generate_logs(tmp_path, dict(TINY_LOGS, pages=10), 1)
    drops = truth["drops"]
    assert drops["n_bad_ts"] and drops["n_bad_grammar"] and drops["n_unknown_statement"]
    assert drops["n_parsed"] + drops["n_bad_ts"] + drops["n_bad_grammar"] + drops["n_unknown_statement"] == drops["n_input"]


def test_oracle_report_semantics_on_hand_rows():
    rows = [
        {"minute": "2026-08-01 00:00", "duration": d, "query": q, "primary_key": pk,
         "keyspace": "ks0" if pk else None, "column_family": "t" if pk else None}
        for q, pk, d in [("A;", "k1", 10)] * 5 + [("B;", None, 7)] * 6 + [("C;", "k2", 1)] * 4
    ]
    rep = oracle.expected_reports(rows)
    assert rep["slow_queries"] == [("5", "50", "10", "A;"), ("6", "42", "7", "B;")]
    assert rep["slow_primary_keys"] == [("5", "50", "10", "k1", "A;")]
    assert rep["primary_keys"] == [("5", "50", "10", "ks0", "t", "k1")]
    assert rep["volume"] == [("2026-08-01 00:00", "15", "96", "6")]
    assert oracle.grouping_set_rows(rows) == 3 + 3 + 3 + 1 + 3


def test_jaccard_matches_hand_count():
    assert oracle.jaccard("a b c d", "a b c e") == pytest.approx(1 / 3)


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    from cassandra_slow_queries_spark.session import get_spark, release_entry_storage

    s = get_spark("perfbench-tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    release_entry_storage(s)


def _tiny(tmp_path, kind):
    from workloads import DocWorkload, LogWorkload

    data = tmp_path / "data"
    data.mkdir()
    if kind == "logs":
        truth = gen.generate_logs(data, TINY_LOGS, 3)
        wl = LogWorkload(data, json.loads(json.dumps(truth)), tmp_path / "out")
    else:
        truth = gen.generate_docs(data, TINY_DOCS, 3)
        wl = DocWorkload(data, json.loads(json.dumps(truth)), tmp_path / "out")
    wl.load_config()
    return wl


@pytest.mark.parametrize("kind", ["logs", "docs"])
def test_oracle_matches_product_on_tiny_instance(spark, tmp_path, kind):
    wl = _tiny(tmp_path, kind)
    if kind == "logs":
        assert wl.expected["slow_queries"] and wl.expected["slow_primary_keys"]
    assert wl.check(wl.run(spark, "t1")) == []


def test_oracle_catches_a_wrong_report(spark, tmp_path):
    wl = _tiny(tmp_path, "logs")
    wl.expected["slow_queries"] = wl.expected["slow_queries"][1:]
    assert any(p.startswith("slow_queries") for p in wl.check(wl.run(spark, "t2")))


@pytest.mark.parametrize("kind", ["logs", "docs"])
def test_traced_pass_reports_its_layers(spark, tmp_path, kind):
    from spans import Tracer
    from workloads import LAYER_METRICS

    wl = _tiny(tmp_path, kind)
    tr = Tracer(spark, "test")
    m = wl.traced(spark, tr, "t3")
    assert set(m) - {"trace.span_sum_s"} <= set(LAYER_METRICS)
    assert m["trace.span_sum_s"] > 0
    names = {s["name"] for s in tr.spans}
    if kind == "logs":
        assert {"sources.kibana", "plans.pipeline", "operators.aggregates", "plans.reports"} <= names
        assert m["operators.enrich.expr_kb_p2"] > m["operators.enrich.expr_kb_p1"] > 0
    else:
        assert {"operators.dedup.lsh", "operators.dedup.verify"} <= names
        assert m["operators.dedup.planted_recall"] >= oracle.RECALL_FLOOR
    tr.dump(tmp_path / "spans.jsonl")
    assert len((tmp_path / "spans.jsonl").read_text().splitlines()) == len(tr.spans)


NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def test_benchmark_json_respects_the_limits():
    from run import E2E_UNITS
    from workloads import LAYER_METRICS

    raw = (ROOT / "BENCHMARK.json").read_text()
    assert len(raw.encode()) <= 64 * 1024
    b = json.loads(raw)
    assert set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert 1 <= len(b["paths"]) <= 16
    for p in b["paths"]:
        assert re.fullmatch(r"[A-Za-z0-9_./-]{1,200}", p) and not p.startswith("/") and ".." not in p
        assert (ROOT / p).is_dir()
    assert len(b["command"]) <= 32 and all(len(c) <= 200 for c in b["command"])
    assert isinstance(b["run_seconds"], int) and 1 <= b["run_seconds"] <= 60
    assert 2 <= len(b["workloads"]) <= 8
    for w in b["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"]
        assert w["name"] in gen.LOG_WORKLOADS or w["name"] in gen.DOC_WORKLOADS
    assert 1 <= len(b["end_to_end"]) <= 16 and 1 <= len(b["per_layer"]) <= 128
    for m in b["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    for m in b["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    names = [m["name"] for m in b["workloads"] + b["end_to_end"] + b["per_layer"]]
    assert len(names) == len(set(names)) and all(NAME.match(n) for n in names)
    assert all(UNIT.match(m["unit"]) for m in b["end_to_end"] + b["per_layer"])
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == E2E_UNITS
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == LAYER_METRICS
    setup = next(m for m in b["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in b["end_to_end"])
