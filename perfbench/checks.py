"""Correctness gates, run on every sample outside the timed region.

- build workloads: triple and mention P/R = 1.0 against the single-process
  oracle on a seeded sample of whole conversations plus the longest ones,
  and per-stage ``rows_out`` identical across runs of one seed and one
  program;
- operator_queries: every result equal to its DuckDB oracle, compared with
  ``tools/check_contract.compare``;
- incremental append (traced kg_build run): the appended tables equal a
  from-scratch build of base + delta.
"""

from __future__ import annotations

import hashlib
import json
import random
import sys
from pathlib import Path

import pyarrow.dataset as ds
import pyarrow.parquet as pq

SAMPLE_CONVS = 40
LONGEST = 20

_TRIPLE_KEY = ("conv_id", "turn_idx", "subj", "pred", "obj", "mtype")
_MENTION_KEY = ("conv_id", "turn_idx", "mention_id", "surface", "span_start",
                "span_end", "mtype")


def read_table(path: Path, columns: list[str], conv_ids=None) -> list[tuple]:
    """Rows of a committed (possibly batch-partitioned) table."""
    d = ds.dataset(str(path), format="parquet", partitioning="hive")
    flt = ds.field("conv_id").isin(list(conv_ids)) if conv_ids else None
    t = d.to_table(columns=columns, filter=flt)
    return list(zip(*(t.column(c).to_pylist() for c in columns)))


def _sample_convs(inp: Path, seed: int) -> tuple[list[dict], set[str]]:
    t = pq.read_table(inp / "transcripts.parquet",
                      columns=["conv_id", "turn_idx", "text"])
    ids = t.column("conv_id").to_pylist()
    counts: dict[str, int] = {}
    for c in ids:
        counts[c] = counts.get(c, 0) + 1
    picked = set(random.Random(seed).sample(sorted(counts),
                                            min(SAMPLE_CONVS, len(counts))))
    # Zipf sizes: a random sample is almost all 2-3 turn conversations, so
    # the longest ones ride along to cover later turn indices
    picked.update(sorted(counts, key=lambda c: (-counts[c], c))[:LONGEST])
    rows = [r for r in t.to_pylist() if r["conv_id"] in picked]
    return rows, picked


def check_build_output(inp: Path, out: Path, seed: int) -> list[str]:
    from master_project_spark import oracle

    rows, picked = _sample_convs(inp, seed)
    problems = []
    for name, gold_rows, key in (
            ("triples", oracle.oracle_triples(rows), _TRIPLE_KEY),
            ("mentions", oracle.oracle_mentions(rows), _MENTION_KEY)):
        gold = [tuple(r[k] for k in key) for r in gold_rows]
        got = read_table(out / name, list(key), picked)
        p, r = oracle.precision_recall(got, gold)
        if (p, r) != (1.0, 1.0) or len(got) != len(gold):
            problems.append(f"{name}: P={p:.4f} R={r:.4f} rows "
                            f"{len(got)} vs oracle {len(gold)} on "
                            f"{len(picked)} conversations")
    return problems


def program_version(root: Path) -> str:
    """Hash of the program's sources: per-stage counts are compared only
    among runs of one program."""
    h = hashlib.sha256()
    for f in sorted((root / "master_project_spark").rglob("*.py")):
        h.update(f.relative_to(root).as_posix().encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:12]


def check_rows_out(inp: Path, stages: dict, gated_ok: bool) -> list[str]:
    """rows_out per stage must repeat exactly for one seed and one program.
    The first run of them whose oracle gate passed records the reference
    beside the inputs."""
    rows = {k: v["rows_out"] for k, v in stages.items()}
    root = Path(__file__).resolve().parents[1]
    ref = inp / f"rows_out-{program_version(root)}.json"
    if not ref.exists():
        if gated_ok:
            ref.write_text(json.dumps(rows, sort_keys=True))
        return []
    want = json.loads(ref.read_text())
    return [f"rows_out {k}: {rows.get(k)} != {v} of an earlier run"
            for k, v in want.items() if rows.get(k) != v]


def check_build(inp: Path, out: Path, stages: dict, seed: int) -> list[str]:
    bad = check_build_output(inp, out, seed)
    return bad + check_rows_out(inp, stages, gated_ok=not bad)


def check_queries(inp: Path, res_dir: Path, names: list[str]) -> list[str]:
    import duckdb
    import pandas as pd

    root = Path(__file__).resolve().parents[1]
    sys.path.insert(0, str(root / "tools"))
    from check_contract import compare
    from master_project_spark.entry_queries import ORACLE_SQL

    con = duckdb.connect()
    for f in sorted(inp.glob("*.parquet")):
        con.execute(f"CREATE VIEW {f.stem} AS SELECT * FROM "
                    f"read_parquet('{f}')")
    cache = inp / "oracle"      # the oracle answer is part of the inputs
    cache.mkdir(exist_ok=True)
    problems = []
    for name in names:
        sql = ORACLE_SQL[name]
        f = cache / f"{name}-{hashlib.sha256(sql.encode()).hexdigest()[:12]}.pkl"
        if not f.exists():
            con.execute(sql).df().to_pickle(f)
        bad = compare(name, pd.read_pickle(res_dir / f"{name}.pkl"),
                      pd.read_pickle(f))
        if bad:
            problems.append(f"{name}: " + " | ".join(bad))
    con.close()
    return problems


def check_sample(workload: str, inp: Path, r: dict, out: Path,
                 seed: int) -> list[str]:
    if workload == "operator_queries":
        return check_queries(inp, out, list(r["queries"]))
    return check_build(inp, out, r["stages"], seed)


def check_append(appended: Path, fresh: Path) -> list[str]:
    """Appended tables == a from-scratch build of the same input."""
    problems = []
    for table, cols in (
            ("triples", ["conv_id", "turn_idx", "subj", "pred", "obj"]),
            ("edges", ["src", "dst", "pred", "weight"]),
            ("nodes", ["entity_id", "canonical", "n_mentions"]),
            ("chunks", ["conv_id", "chunk_idx", "chunk_text"])):
        a = sorted(read_table(appended / table, cols), key=repr)
        b = sorted(read_table(fresh / table, cols), key=repr)
        if a != b:
            problems.append(f"append {table}: {len(a)} rows differ from "
                            f"the from-scratch build ({len(b)} rows)")
    return problems
