"""Seeded input generation for the benchmark workloads.

Every input is a pure function of (workload, seed) and is written once
per checkout under the work directory; the timed samples only ever read
the files. The program under test never sees the seed. The query tables
are fixed (``QUERY_TABLES_SEED``); the seed only orders the queries.
"""

from __future__ import annotations

import hashlib
import io
import json
import random
from pathlib import Path

import numpy as np
import pandas as pd

#: kg_build: datagen Zipf corpus (reference traffic shape)
BUILD_CONVS = 20000
BUILD_MAX_TURNS = 40
#: kg_build traced run: the untimed base the incremental append grows from
#: (fewer conversations AND a lower turn cap, so the delta holds new
#: conversations plus grown ones)
APPEND_BASE_CONVS = 18000
APPEND_BASE_MAX_TURNS = 30
#: operator_queries: the tables are the same for every run; the run's
#: seed shuffles the query order instead
QUERY_TABLES_SEED = 42
#: operator_queries: table sizes of the generated TPC-H-ish star + text
#: (the row counts of the sf0.1 tables)
QUERY_ROWS = {"customer": 15000, "orders": 150000, "lineitem": 600000,
              "events": 100000, "documents": 5000, "embeddings": 2000}

#: headline queries the operator_queries workload leaves out: on these
#: sf0.1-sized tables (and on the repo's own sf0.1 files) the query's
#: 6-decimal cosine score differs from its DuckDB oracle's in the last
#: digit, so it fails its correctness gate (a known failure of the program)
KNOWN_FAILING_QUERIES = ("semantic_search_documents",)

WORKLOADS = ("kg_build", "operator_queries")


def _write_transcripts(rows: list[dict], path) -> None:
    """Write transcript rows as parquet to a path or a binary buffer."""
    df = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text",
                                     "tool", "ts"])
    df["turn_idx"] = df["turn_idx"].astype("int32")
    df["ts"] = pd.to_datetime(df["ts"], utc=True).dt.tz_localize(None)
    df.to_parquet(path, index=False, coerce_timestamps="us",
                  allow_truncated_timestamps=True)


def _query_tables(seed: int) -> dict[str, pd.DataFrame]:
    """TPC-H-ish star + events/documents/embeddings with the schema, row
    counts, layout (one row group per table) and value ranges of the
    repo's sf0.1 test tables; only the tables the headline queries read.
    Money columns hold whole cents, as in TPC-H."""
    rng = np.random.default_rng(seed)
    n = QUERY_ROWS
    day = np.timedelta64(86_400_000_000, "us")

    def cents(lo: int, hi: int, size: int) -> np.ndarray:
        return rng.integers(lo, hi + 1, size) / 100.0

    def dates(first: str, last: str, size: int) -> np.ndarray:
        d0, d1 = np.datetime64(first, "us"), np.datetime64(last, "us")
        return d0 + rng.integers(0, (d1 - d0) // day + 1, size) * day

    nation = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype="int32"),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype("int32")})
    customer = pd.DataFrame({
        "c_custkey": np.arange(n["customer"], dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": rng.integers(0, 25, n["customer"]).astype("int32"),
        "c_acctbal": cents(-99999, 999999, n["customer"]),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"],
                                   n["customer"])})
    orders = pd.DataFrame({
        "o_orderkey": np.arange(n["orders"], dtype="int64"),
        "o_custkey": rng.integers(0, n["customer"], n["orders"]),
        "o_orderstatus": rng.choice(["F", "O", "P"], n["orders"]),
        "o_totalprice": cents(100000, 50000000, n["orders"]),
        "o_orderdate": dates("1995-01-01", "2001-08-01", n["orders"]),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"],
                                      n["orders"])})
    lineitem = pd.DataFrame({
        "l_orderkey": rng.integers(0, n["orders"], n["lineitem"]),
        "l_partkey": rng.integers(0, 20000, n["lineitem"]),
        "l_suppkey": rng.integers(0, 1000, n["lineitem"]),
        "l_linenumber": rng.integers(1, 8, n["lineitem"]).astype("int32"),
        "l_quantity": rng.integers(1, 51, n["lineitem"]).astype("float64"),
        "l_extendedprice": cents(90000, 10500000, n["lineitem"]),
        "l_discount": cents(0, 10, n["lineitem"]),
        "l_tax": cents(0, 8, n["lineitem"]),
        "l_returnflag": rng.choice(["A", "N", "R"], n["lineitem"]),
        "l_linestatus": rng.choice(["F", "O"], n["lineitem"]),
        "l_shipdate": dates("1995-01-02", "2001-11-04", n["lineitem"])})
    ev_ts = (np.datetime64("2024-01-01T00:00:00", "us")
             + np.sort(rng.integers(0, 30 * 86_400_000_000, n["events"]))
             .astype("timedelta64[us]"))
    events = pd.DataFrame({
        "event_id": np.arange(n["events"], dtype="int64"),
        "ts": ev_ts,
        "user_id": rng.integers(0, 1500, n["events"]),
        "event_type": rng.choice(["click", "view", "purchase", "signup",
                                  "error"], n["events"]),
        "value": np.round(rng.exponential(50, n["events"]), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100,
                                                         n["events"])]})
    vocab = ("join hash row batch scan column customer filter small slow "
             "merge order vector line table data agg value key stream "
             "window a spark part group big sort query fast the").split()
    texts: list[str] = []
    for i in range(n["documents"]):
        if i >= 20 and rng.random() < 0.05:
            # near-duplicate of an earlier document (dedup queries)
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(vocab,
                                             int(rng.integers(8, 100)))))
    documents = pd.DataFrame({
        "doc_id": np.arange(n["documents"], dtype="int64"),
        "text": texts,
        "lang": rng.choice(["en", "zh", "es", "de", "fr"], n["documents"],
                           p=[0.44, 0.15, 0.14, 0.14, 0.13]),
        "source": [f"src{i % 20}" for i in range(n["documents"])],
        "n_chars": np.array([len(t) for t in texts], dtype="int64")})
    emb = rng.normal(size=(n["embeddings"], 64)).astype("float32")
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    embeddings = pd.DataFrame({
        "vec_id": np.arange(n["embeddings"], dtype="int64"),
        "embedding": list(emb),
        "label": rng.integers(0, 10, n["embeddings"]).astype("int32")})
    return {"nation": nation, "customer": customer, "orders": orders,
            "lineitem": lineitem, "events": events, "documents": documents,
            "embeddings": embeddings}


def _transcript_record(rows: list[dict], memo_max_chars: int) -> dict:
    n_turns = len(rows)
    per_conv: dict[str, int] = {}
    for r in rows:
        per_conv[r["conv_id"]] = per_conv.get(r["conv_id"], 0) + 1
    return {
        "turns": n_turns,
        "conversations": len(per_conv),
        "max_turns_per_conv": max(per_conv.values()),
        "distinct_text_ratio": round(
            len({r["text"] for r in rows}) / n_turns, 6),
        "long_turn_share": round(
            sum(len(r["text"]) > memo_max_chars for r in rows) / n_turns, 6),
        "input_files": 1,
    }


def _generator_version(root: Path) -> str:
    """Inputs are cached per checkout; key them by the generator sources
    so a changed generator never reuses stale files."""
    h = hashlib.sha256()
    for rel in ("perfbench/inputs.py", "master_project_spark/datagen.py"):
        h.update((root / rel).read_bytes())
    return h.hexdigest()[:12]


def query_order(seed: int, names: list[str]) -> list[str]:
    """The first query stays first; the seed shuffles the rest. The first
    query of a fresh application pays its cold start, 4-8 s more than the
    same query warm depending on the query, so a shuffled first query
    would move the sum with the seed."""
    first, *rest = [q for q in names if q not in KNOWN_FAILING_QUERIES]
    random.Random(seed).shuffle(rest)
    return [first] + rest


def ensure_inputs(root: Path, work: Path, workload: str, seed: int) -> Path:
    """Write the inputs of (workload, seed) once; return their directory,
    which holds the files plus ``record.json`` (the input record)."""
    key = "" if workload == "operator_queries" else f"-s{seed}"
    d = work / "inputs" / f"{workload}{key}-{_generator_version(root)}"
    if (d / "record.json").exists():
        return d
    d.mkdir(parents=True, exist_ok=True)
    from master_project_spark import datagen, udfs

    if workload == "operator_queries":
        tables = _query_tables(QUERY_TABLES_SEED)
        for name, df in tables.items():
            df.to_parquet(d / f"{name}.parquet", index=False,
                          coerce_timestamps="us",
                          allow_truncated_timestamps=True)
        record = {"rows": {k: len(v) for k, v in tables.items()},
                  "input_files": len(tables)}
    else:
        rows = datagen.gen_transcripts(BUILD_CONVS, BUILD_MAX_TURNS, seed)
        base = datagen.gen_transcripts(APPEND_BASE_CONVS,
                                       APPEND_BASE_MAX_TURNS, seed)
        _write_transcripts(rows, d / "transcripts.parquet")
        _write_transcripts(base, d / "base.parquet")
        pd.DataFrame(datagen.gen_alias_dict(seed)).to_parquet(
            d / "alias.parquet", index=False)
        record = _transcript_record(rows, udfs._MEMO_MAX_CHARS)
        # the append's delta: new conversations plus grown ones, whole
        base_n: dict[str, int] = {}
        for r in base:
            base_n[r["conv_id"]] = base_n.get(r["conv_id"], 0) + 1
        full_n: dict[str, int] = {}
        for r in rows:
            full_n[r["conv_id"]] = full_n.get(r["conv_id"], 0) + 1
        delta = [r for r in rows
                 if base_n.get(r["conv_id"]) != full_n[r["conv_id"]]]
        # the append reads the full transcripts; the delta's parquet size
        # is only the denominator of incremental.write_amp
        buf = io.BytesIO()
        _write_transcripts(delta, buf)
        record["append_delta_turns"] = len(delta)
        record["append_delta_bytes"] = len(buf.getvalue())
    (d / "record.json").write_text(json.dumps(record))
    return d
