"""Seeded input generators for the benchmark workloads.

Everything here is plain Python on ``random.Random(seed)``: the same
``(workload, seed)`` always writes byte-identical files. The product only
ever sees the files written by :func:`generate`; the ground truth kept
beside them (``truth.json``) feeds the oracle and is never shown to it.

Log workloads write Kibana ``_msearch`` pages, a CQL schema, a tag map and
a query-pattern file. The document workload writes one JSON-lines corpus
with planted exact, email-salted and one-word-edit near duplicates.
"""

from __future__ import annotations

import bisect
import hashlib
import json
import random
from datetime import datetime, timedelta, timezone
from pathlib import Path

# ---------------------------------------------------------------------------
# Workload parameters (the single source of truth, also recorded in
# perfbench/README.md)
# ---------------------------------------------------------------------------

LOG_WORKLOADS = {
    "logs_analyze": {
        "pages": 2,
        "hits_per_page": 10_000,  # es_extract.DEFAULT_SIZE, the reference page size
        "n_patterns": 4,
        "pattern_share": 0.5,
    },
}
DOC_WORKLOADS = {
    "curate_docs": {
        "n_base": 1_700,
        "exact_share": 0.03,
        "salted_share": 0.02,
        "near_share": 0.10,
    },
}

N_KEYSPACES = 4
N_TABLES = 20
N_PARTITION_KEYS = 200_000
ZIPF_S = 1.1
DAY = datetime(2026, 8, 1, tzinfo=timezone.utc)
# planted malformed shares, one per drop path of parse_messages
BAD_TS_SHARE = 0.004
BAD_GRAMMAR_SHARE = 0.004
UNKNOWN_STMT_SHARE = 0.004
NOT_SLOW_SHARE = 0.01  # filtered by the reader, never counted in n_input

PREFIX = "DEBUG [Native-Transport-Requests-{t}] MonitoringTask.java:173 - "


def tables() -> list[dict]:
    """20 tables in 4 keyspaces. Tables 0-9 (the hot ones; the first
    ``n_patterns`` get a query pattern) have an inline ``id`` key; 10-15
    mix flat and composite keys; 16-19 are ``events`` in every keyspace,
    so a bare ``events`` resolves its keyspace through the tag map."""
    out = []
    for i in range(N_TABLES):
        ks = f"ks{i % N_KEYSPACES}"
        cf = "events" if i >= 16 else f"t{i:02d}"
        if i < 10:
            pk, ck = ["id"], []
        elif i % 2 == 0 and i < 16:
            pk, ck = ["a"], ["b", "c"]
        else:
            pk, ck = ["a", "b"], ["c"]
        out.append({"ks": ks, "cf": cf, "pk": pk, "ck": ck, "bare": i >= 16})
    return out


def schema_ddl(tbls: list[dict]) -> str:
    lines = []
    for t in tbls:
        if t["pk"] == ["id"]:
            lines += [f"CREATE TABLE {t['ks']}.{t['cf']} (", "    id text PRIMARY KEY,", "    v text", ");"]
            continue
        cols = t["pk"] + t["ck"]
        lines.append(f"CREATE TABLE {t['ks']}.{t['cf']} (")
        lines += [f"    {c} text," for c in cols] + ["    v text,"]
        if len(t["pk"]) > 1:
            key = f"(({', '.join(t['pk'])}), {', '.join(t['ck'])})"
        else:
            key = f"({', '.join(cols)})"
        lines += [f"    PRIMARY KEY {key}", ");"]
    return "\n".join(lines) + "\n"


def tag_map() -> dict:
    return {f"dc-ks{i}": f"ks{i}" for i in range(N_KEYSPACES)}


def patterns(tbls: list[dict], n: int) -> list[dict]:
    return [
        {"start": f"SELECT * FROM {t['ks']}.{t['cf']} WHERE id", "parameters": ["id"]}
        for t in tbls[:n]
    ]


class _Zipf:
    """Bounded Zipf(s) sampler over 1..n by inverse CDF."""

    def __init__(self, n: int, s: float):
        acc, cum = 0.0, []
        for k in range(1, n + 1):
            acc += k ** -s
            cum.append(acc)
        self.cum, self.total = cum, acc

    def draw(self, rng: random.Random) -> int:
        return bisect.bisect_left(self.cum, rng.random() * self.total) + 1


def _ts(rng: random.Random, micros: bool = True) -> tuple[str, str]:
    t = DAY + timedelta(microseconds=rng.randrange(86_400 * 1_000_000))
    raw = t.strftime("%Y-%m-%dT%H:%M:%S.%fZ" if micros else "%Y-%m-%dT%H:%M:%SZ")
    return raw, t.strftime("%Y-%m-%d %H:%M")


def _duration(rng: random.Random) -> int:
    return min(60_000, int(rng.lognormvariate(5.5, 1.0)) + 1)


def _key_values(t: dict, key: int, rng: random.Random) -> dict:
    if t["pk"] == ["id"]:
        return {"id": f"k{key}"}
    vals = {"a": f"k{key}"}
    if "b" in t["pk"]:
        vals["b"] = f"r{key % 7}"
    for c in t["ck"]:
        vals[c] = f"c{rng.randrange(50)}"
    return vals


def _record(rng, tbls, zipf, n_patterns, pattern_share):
    """One well-formed slow-query hit → (message, tags, truth)."""
    t = tbls[min(int(rng.expovariate(0.25)), N_TABLES - 1)]
    tags = ["prod", f"dc-{t['ks']}"]
    table = t["cf"] if t["bare"] else f"{t['ks']}.{t['cf']}"
    key = zipf.draw(rng)
    vals = _key_values(t, key, rng)
    pk = "-".join(vals[f] for f in t["pk"])
    u = rng.random()
    enriched = True
    if t["pk"] == ["id"] and tbls.index(t) < n_patterns and u < pattern_share:
        # literal form, rewritten by the table's query pattern
        lim = rng.choice((1, 10, 100))
        body = f"SELECT * FROM {table} WHERE id = '{vals['id']}' LIMIT {lim};"
        query = f"SELECT * FROM {table} WHERE id = ? LIMIT {lim};"
    else:
        cols = list(vals)
        bv = "[" + ", ".join(f"{c}:'{vals[c]}'" for c in cols) + "]"
        cond = " AND ".join(f"{c} = ?" for c in cols)
        v = rng.random()
        if v < 0.65:
            proj = rng.choice(("*", "v"))
            query = f"SELECT {proj} FROM {table} WHERE {cond};"
        elif v < 0.85:
            names = ", ".join(cols + ["v"])
            marks = ", ".join("?" for _ in range(len(cols) + 1))
            query = f"INSERT INTO {table} ({names}) VALUES ({marks});"
            bv = bv[:-1] + ", v:'x']"
        elif v < 0.95:
            query = f"UPDATE {table} SET v = ? WHERE {cond};"
            enriched = False
        else:
            query = f"DELETE FROM {table} WHERE {cond};"
            enriched = False
        if tbls.index(t) < n_patterns and query.startswith(f"SELECT * FROM {table} WHERE id"):
            # the table's pattern also matches the bound-value form: it
            # extracts the placeholder itself, and the pattern value wins
            pk = "?"
        nb = len(cols) + (1 if query.startswith("INSERT") else 0)
        body = f"[{nb} bound values] {query} {bv}"
    duration = _duration(rng)
    message = PREFIX.format(t=rng.randrange(64)) + f"Query too slow, took {duration} ms: {body}"
    truth = {
        "type": query.split(" ", 1)[0],
        "duration": duration,
        "query": query,
        "keyspace": t["ks"] if enriched else None,
        "column_family": t["cf"] if enriched else None,
        "primary_key": pk if enriched else None,
    }
    return message, tags, truth


def _batch_record(rng):
    duration = _duration(rng)
    body = "BEGIN BATCH UPDATE ks1.t01 SET v = ? WHERE id = ?; APPLY BATCH;"
    msg = PREFIX.format(t=rng.randrange(64)) + f"Query too slow, took {duration} ms: {body}"
    truth = {"type": "BATCH", "duration": duration, "query": body,
             "keyspace": None, "column_family": None, "primary_key": None}
    return msg, ["prod"], truth


def generate_logs(out: Path, p: dict, seed: int) -> dict:
    rng = random.Random(f"logs:{seed}")
    tbls = tables()
    zipf = _Zipf(N_PARTITION_KEYS, ZIPF_S)
    rows = []  # ground truth of every hit that should parse
    drops = {"n_bad_ts": 0, "n_bad_grammar": 0, "n_unknown_statement": 0}
    n_input = 0
    files = []
    for page in range(p["pages"]):
        hits = []
        for _ in range(p["hits_per_page"]):
            u = rng.random()
            ts_raw, minute = _ts(rng)
            if u < NOT_SLOW_SHARE:
                src = {"@timestamp": ts_raw, "message": "INFO Compacted 4 sstables", "tags": ["prod"]}
                hits.append({"_source": src})
                continue
            n_input += 1
            u -= NOT_SLOW_SHARE
            if u < BAD_TS_SHARE:
                msg, tags, _ = _record(rng, tbls, zipf, 0, 0.0)
                ts_raw, _ = _ts(rng, micros=False)
                drops["n_bad_ts"] += 1
            elif u < BAD_TS_SHARE + BAD_GRAMMAR_SHARE:
                msg = PREFIX.format(t=1) + "Query too slow, took 12.5 ms: SELECT * FROM ks0.t00 WHERE id = ?;"
                tags = ["prod"]
                drops["n_bad_grammar"] += 1
            elif u < BAD_TS_SHARE + BAD_GRAMMAR_SHARE + UNKNOWN_STMT_SHARE:
                msg = PREFIX.format(t=2) + f"Query too slow, took {_duration(rng)} ms: TRUNCATE ks0.t00;"
                tags = ["prod"]
                drops["n_unknown_statement"] += 1
            else:
                if rng.random() < 0.02:
                    msg, tags, truth = _batch_record(rng)
                else:
                    msg, tags, truth = _record(rng, tbls, zipf, p["n_patterns"], p["pattern_share"])
                truth["minute"] = minute
                rows.append(truth)
            field = "@message" if rng.random() < 0.01 else "message"
            hits.append({"_source": {"@timestamp": ts_raw, field: msg, "tags": tags}})
        doc = {"responses": [{"_shards": {"total": 5, "successful": 5, "failed": 0},
                              "hits": {"total": len(hits), "hits": hits}}]}
        f = out / f"page_{page:03d}.json"
        f.write_text(json.dumps(doc, separators=(",", ":")))
        files.append(f.name)
    (out / "schema.cql").write_text(schema_ddl(tbls))
    (out / "tags.json").write_text(json.dumps(tag_map(), indent=1))
    (out / "patterns.json").write_text(json.dumps(patterns(tbls, p["n_patterns"]), indent=1))
    drops["n_input"] = n_input
    drops["n_parsed"] = len(rows)
    return {"kind": "logs", "files": files, "n_records": n_input, "drops": drops, "rows": rows}


# ---------------------------------------------------------------------------
# Document corpus
# ---------------------------------------------------------------------------

EMAIL_TOKEN = "<EMAIL>"


def _vocab(rng: random.Random, n: int = 3000) -> list[str]:
    letters = "abcdefghijklmnopqrstuvwxyz"
    seen, out = set(), []
    while len(out) < n:
        w = "".join(rng.choice(letters) for _ in range(rng.randint(3, 9)))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def generate_docs(out: Path, p: dict, seed: int) -> dict:
    """Base documents plus planted duplicates. Truth keeps each document's
    scrubbed text (emails → ``<EMAIL>``) and the planted near-dup pairs."""
    rng = random.Random(f"docs:{seed}")
    vocab = _vocab(rng)
    base = []
    for _ in range(p["n_base"]):
        words = [rng.choice(vocab) for _ in range(rng.randint(40, 120))]
        if rng.random() < 0.3:
            words.insert(rng.randrange(len(words)), EMAIL_TOKEN)
        base.append(words)

    def email() -> str:
        return f"user{rng.randrange(10**6)}@mail{rng.randrange(100)}.example.com"

    docs = []  # (scrubbed words, raw text)

    def add(words):
        raw = " ".join(email() if w == EMAIL_TOKEN else w for w in words)
        docs.append((words, raw))
        return len(docs) - 1

    for words in base:
        add(words)
    n = len(base)
    planted_near = []
    for _ in range(int(n * p["exact_share"])):
        docs.append(docs[rng.randrange(n)])  # byte-identical copy
    with_email = [i for i in range(n) if EMAIL_TOKEN in base[i]]
    for _ in range(int(n * p["salted_share"])):
        add(base[rng.choice(with_email)])  # same text up to a fresh email
    for _ in range(int(n * p["near_share"])):
        src = rng.randrange(n)
        words = list(base[src])
        i = rng.choice([j for j in range(2, len(words) - 2) if words[j] != EMAIL_TOKEN])
        words[i] = rng.choice([w for w in vocab if w != words[i]])
        planted_near.append((src, add(words)))
    order = list(range(len(docs)))
    rng.shuffle(order)
    new_id = {old: new for new, old in enumerate(order)}
    lines, truth_docs = [], []
    for new, old in enumerate(order):
        words, raw = docs[old]
        quality = round(rng.random(), 6)
        lines.append(json.dumps({"doc_id": new, "text": raw, "n_tokens": len(words), "quality": quality}))
        truth_docs.append({"scrubbed": " ".join(words), "n_tokens": len(words), "quality": quality})
    (out / "docs.jsonl").write_text("\n".join(lines) + "\n")
    total_tokens = sum(d["n_tokens"] for d in truth_docs)
    return {
        "kind": "docs",
        "files": ["docs.jsonl"],
        "n_records": len(truth_docs),
        "docs": truth_docs,
        "planted_near": sorted(
            (min(new_id[a], new_id[b]), max(new_id[a], new_id[b])) for a, b in planted_near
        ),
        "budget": total_tokens // 2,
        "window": 2048,
    }


def generate(root: Path, workload: str, seed: int) -> tuple[Path, dict]:
    """Write (or reuse) the inputs of ``(workload, seed)`` under ``root``
    and return ``(directory, truth)``."""
    params = LOG_WORKLOADS.get(workload) or DOC_WORKLOADS.get(workload)
    if params is None:
        raise ValueError(f"unknown workload {workload!r}")
    tag = hashlib.sha1(json.dumps(params, sort_keys=True).encode()).hexdigest()[:8]
    out = root / f"{workload}-{seed}-{tag}"
    truth_file = out / "truth.json"
    if truth_file.exists():
        return out, json.loads(truth_file.read_text())
    out.mkdir(parents=True, exist_ok=True)
    if workload in LOG_WORKLOADS:
        truth = generate_logs(out, params, seed)
    else:
        truth = generate_docs(out, params, seed)
    tmp = out / "truth.json.tmp"
    tmp.write_text(json.dumps(truth))
    tmp.replace(truth_file)  # written last: its presence marks a complete set
    return out, truth
