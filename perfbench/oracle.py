"""Output checks, computed independently of the product.

Log workloads: the five reports are recomputed in DuckDB from the
generator's ground-truth records (the reference's report semantics:
HAVING ``count >= min_count``, truncating average, top-N and per-minute
top-K ordered by duration with key tiebreaks) and compared row for row
with the CSVs ``analyze`` wrote; the ``observe()`` drop counts printed by
``analyze`` must equal the planted ones.

Document workload: exact-dedup survivors, every verified pair's word
3-gram Jaccard, planted near-dup recall, cluster representatives, the
token budget and the packing offsets are all recomputed in Python.
"""

from __future__ import annotations

import csv
import re
from pathlib import Path

import duckdb
import pyarrow as pa

# reference CLI defaults (analyze_slow_queries.py:1315-1317)
TOP_N = 100
ROWS_PER_MINUTE = 5
MIN_COUNT = 5

JACCARD_N = 3
JACCARD_THRESHOLD = 0.5
RECALL_FLOOR = 0.9

REPORT_SQL = {
    "slow_queries": f"""
        SELECT c, d, d // c, query FROM (
          SELECT query, count(*) c, sum(duration) d FROM p GROUP BY query)
        WHERE c >= {MIN_COUNT} ORDER BY d DESC, query LIMIT {TOP_N}""",
    "slow_primary_keys": f"""
        SELECT c, d, d // c, pk, query FROM (
          SELECT query, pk, count(*) c, sum(duration) d FROM p
          WHERE pk <> '' GROUP BY query, pk)
        WHERE c >= {MIN_COUNT} ORDER BY d DESC, query, pk LIMIT {TOP_N}""",
    "primary_keys": f"""
        SELECT c, d, d // c, ks, cf, pk FROM (
          SELECT ks, cf, pk, count(*) c, sum(duration) d FROM p
          WHERE pk <> '' AND ks <> '' AND cf <> '' GROUP BY ks, cf, pk)
        WHERE c >= {MIN_COUNT} ORDER BY d DESC, ks, cf, pk LIMIT {TOP_N}""",
    "volume": f"""
        SELECT minute, c, d, d // c FROM (
          SELECT minute, count(*) c, sum(duration) d FROM p GROUP BY minute)
        WHERE c >= {MIN_COUNT} ORDER BY minute""",
    "volume_top_n": f"""
        SELECT minute, c, d, d // c, pk, query FROM (
          SELECT *, row_number() OVER (
            PARTITION BY minute ORDER BY d DESC, query, pk) rn
          FROM (SELECT minute, query, pk, count(*) c, sum(duration) d
                FROM p GROUP BY minute, query, pk)
          WHERE c >= {MIN_COUNT})
        WHERE rn <= {ROWS_PER_MINUTE} ORDER BY minute, d DESC, query, pk""",
}

DROPS_RE = re.compile(
    r"parsed (?P<n_parsed>\d+)/(?P<n_input>\d+) rows \(bad ts: (?P<n_bad_ts>\d+), "
    r"bad grammar: (?P<n_bad_grammar>\d+), unknown statement: (?P<n_unknown_statement>\d+)\)"
)


def _cells(row) -> tuple[str, ...]:
    return tuple("" if v is None else str(v) for v in row)


def expected_reports(rows: list[dict]) -> dict[str, list[tuple[str, ...]]]:
    """The five reports, in report order, from ground-truth records."""
    table = pa.Table.from_pylist(
        [
            {
                "minute": r["minute"],
                "duration": r["duration"],
                "query": r["query"],
                "pk": r["primary_key"] or "",
                "ks": r["keyspace"] or "",
                "cf": r["column_family"] or "",
            }
            for r in rows
        ],
        schema=pa.schema(
            [("minute", pa.string()), ("duration", pa.int64()), ("query", pa.string()),
             ("pk", pa.string()), ("ks", pa.string()), ("cf", pa.string())]
        ),
    )
    con = duckdb.connect()
    try:
        con.register("p", table)
        return {
            name: [_cells(r) for r in con.execute(sql).fetchall()]
            for name, sql in REPORT_SQL.items()
        }
    finally:
        con.close()


def grouping_set_rows(rows: list[dict]) -> int:
    """Rows the five-way GROUPING SETS aggregation computes before any
    HAVING / top-N cut (the denominator of ``aggregates.kept_ratio``)."""
    keys = [
        ("query",),
        ("query", "primary_key"),
        ("keyspace", "column_family", "primary_key"),
        ("minute",),
        ("minute", "query", "primary_key"),
    ]
    return sum(len({tuple(r[k] or "" for k in ks) for r in rows}) for ks in keys)


def read_reports(run_dir: Path) -> dict[str, list[tuple[str, ...]]]:
    """The CSVs ``analyze`` wrote, header dropped, in file order."""
    out = {}
    for name in REPORT_SQL:
        rows: list[tuple[str, ...]] = []
        for part in sorted((run_dir / name).glob("part-*.csv")):
            with part.open(newline="") as fh:
                reader = csv.reader(fh)
                next(reader, None)
                rows += [tuple(r) for r in reader]
        out[name] = rows
    return out


def parse_drops(stderr: str) -> dict | None:
    """The ``observe()`` drop counts ``analyze`` prints on stderr."""
    m = DROPS_RE.search(stderr)
    return None if m is None else {k: int(v) for k, v in m.groupdict().items()}


def check_logs(run_dir: Path, drops: dict | None, truth: dict, expected: dict) -> list[str]:
    """Compare one ``analyze`` pass (its CSVs and drop counts) with the
    oracle; returns the problems."""
    problems = []
    got = read_reports(run_dir)
    for name, want in expected.items():
        if got[name] != want:
            missing = set(want) - set(got[name])
            extra = set(got[name]) - set(want)
            problems.append(
                f"{name}: {len(got[name])} rows vs {len(want)} expected "
                f"(missing e.g. {sorted(missing)[:1]}, unexpected e.g. {sorted(extra)[:1]})"
            )
    if drops is None:
        problems.append("analyze printed no drop counts")
    elif drops != truth["drops"]:
        problems.append(f"drop counts {drops} != planted {truth['drops']}")
    return problems


# ---------------------------------------------------------------------------
# Document curation
# ---------------------------------------------------------------------------


def shingles(text: str, n: int = JACCARD_N) -> set[str]:
    toks = text.split(" ")
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: str, b: str, n: int = JACCARD_N) -> float:
    sa, sb = shingles(a, n), shingles(b, n)
    common = len(sa & sb)
    return common / (len(sa) + len(sb) - common)


def exact_keepers(docs: list[dict]) -> dict[int, int]:
    """doc id → the id kept for its scrubbed text (the minimum id)."""
    first: dict[str, int] = {}
    for i, d in enumerate(docs):
        first.setdefault(d["scrubbed"], i)
    return {i: first[d["scrubbed"]] for i, d in enumerate(docs)}


def _components(nodes: set[int], pairs: list[tuple[int, int]]) -> dict[int, int]:
    parent = {v: v for v in nodes}

    def find(v):
        while parent[v] != v:
            parent[v] = parent[parent[v]]
            v = parent[v]
        return v

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in nodes}


def check_docs(out: dict, truth: dict) -> tuple[list[str], dict]:
    """Check one curation pass. ``out`` holds ``exact_ids``, ``pairs``
    ``(id_a, id_b, jaccard)`` and ``packed`` rows ``(doc_id, n_tokens,
    start_offset, pack_id, pack_pos, n_spans)``. Returns the problems and
    the planted recall."""
    docs = truth["docs"]
    problems = []
    keeper = exact_keepers(docs)
    keepers = set(keeper.values())
    if sorted(out["exact_ids"]) != sorted(keepers):
        problems.append(
            f"exact dedup kept {len(out['exact_ids'])} docs, {len(keepers)} distinct texts"
        )
    found = set()
    for a, b, _ in out["pairs"]:
        if a not in keepers or b not in keepers:
            problems.append(f"pair ({a}, {b}) names a removed exact duplicate")
            break
        if jaccard(docs[a]["scrubbed"], docs[b]["scrubbed"]) < JACCARD_THRESHOLD:
            problems.append(f"pair ({a}, {b}) is below the Jaccard threshold")
            break
        found.add((min(a, b), max(a, b)))
    planted = {
        (min(keeper[a], keeper[b]), max(keeper[a], keeper[b]))
        for a, b in truth["planted_near"]
        if keeper[a] != keeper[b]
    }
    recall = len(planted & found) / len(planted) if planted else 1.0
    if recall < RECALL_FLOOR:
        problems.append(f"planted near-dup recall {recall:.3f} < {RECALL_FLOOR}")
    comp = _components(keepers, [(a, b) for a, b, _ in out["pairs"]])
    reps = set(comp.values())
    order = sorted(reps, key=lambda i: (-docs[i]["quality"], i))
    selected, total = [], 0
    for i in order:
        if total + docs[i]["n_tokens"] > truth["budget"]:
            break
        total += docs[i]["n_tokens"]
        selected.append(i)
    packed = sorted(out["packed"])
    if [r[0] for r in packed] != sorted(selected):
        problems.append(f"budget selected {len(packed)} docs, expected {len(selected)}")
    if sum(r[1] for r in packed) > truth["budget"]:
        problems.append("selected tokens exceed the budget")
    window, offset = truth["window"], 0
    for doc_id, n_tok, start, pack_id, pack_pos, n_spans in packed:
        spans = (start + n_tok - 1) // window - start // window + 1 if n_tok > 0 else 0
        if (start, pack_id, pack_pos, n_spans) != (offset, offset // window, offset % window, spans):
            problems.append(f"doc {doc_id} packed at {start}, expected contiguous offset {offset}")
            break
        offset += n_tok
    return problems, recall
