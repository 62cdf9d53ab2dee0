"""One timed sample in a fresh process and Spark application.

Usage: python3 perfbench/sample.py SPEC.json

The spec names a mode (``build``, ``queries``, ``setup``, ``core`` or
``udfs``) and its inputs; the result JSON is written to ``spec["result"]``.
Timing covers only the calls named below, never input generation or the
correctness checks, which run in the parent after this process exits (the
query results are collected here, after the timed region).
"""

from __future__ import annotations

import json
import os
import random
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

import procs  # noqa: E402  (perfbench/ is sys.path[0] when run as a script)
from bench import _force as force  # noqa: E402


def start_spark(spec: dict):
    """Set-up as a user pays it: ``session.get_spark`` including its worker
    pool warm-up. Returns (spark, setup_s)."""
    from master_project_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(spec["cores"], app_name="perfbench",
                      extra_conf=spec["conf"])
    setup_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, setup_s


def mode_setup(spec: dict) -> dict:
    spark, setup_s = start_spark(spec)
    spark.stop()
    return {"setup_s": setup_s}


def mode_build(spec: dict) -> dict:
    from master_project_spark.pipeline import run_pipeline

    spark, setup_s = start_spark(spec)
    sid = os.getsid(0)
    inp = Path(spec["input"])
    c0, t0 = procs.session_cpu_s(sid), time.perf_counter()
    transcripts = spark.read.parquet(str(inp / "transcripts.parquet"))
    alias = spark.read.parquet(str(inp / "alias.parquet"))
    res = run_pipeline(spark, transcripts, spec["out"], alias, resume=False)
    wall = time.perf_counter() - t0
    cpu = procs.session_cpu_s(sid) - c0
    rss = procs.session_peak_rss_mb(sid)
    stages = {m["stage"]: {"wall_s": m["wall_ms"] / 1000,
                           "rows_out": int(m["rows_out"])}
              for m in res.metrics if not m["stage"].startswith("_")}
    spark.stop()
    return {"setup_s": setup_s, "wall_s": wall, "cpu_s": cpu,
            "peak_rss": rss, "stages": stages}


def mode_queries(spec: dict) -> dict:
    from master_project_spark.entry_queries import QUERIES

    spark, setup_s = start_spark(spec)
    sid = os.getsid(0)
    sf_dir = spec["input"]
    times = {}
    c0 = procs.session_cpu_s(sid)
    for name in spec["queries"]:
        t0 = time.perf_counter()
        force(QUERIES[name](spark, sf_dir))
        times[name] = time.perf_counter() - t0
    cpu = procs.session_cpu_s(sid) - c0
    rss = procs.session_peak_rss_mb(sid)
    # results for the DuckDB gate, collected after the timed region
    res_dir = Path(spec["out"])
    res_dir.mkdir(parents=True, exist_ok=True)
    for name in spec["queries"]:
        QUERIES[name](spark, sf_dir).toPandas().to_pickle(
            res_dir / f"{name}.pkl")
    spark.stop()
    return {"setup_s": setup_s, "wall_s": sum(times.values()), "cpu_s": cpu,
            "peak_rss": rss, "queries": times}


def _sample_turns(inp: Path, seed: int, cap: int) -> list[str]:
    import pyarrow.parquet as pq

    texts = pq.read_table(inp / "transcripts.parquet",
                          columns=["text"]).column("text").to_pylist()
    random.Random(seed).shuffle(texts)
    return texts[:cap]


def _per_item(fn, items) -> float:
    t0 = time.perf_counter()
    for x in items:
        fn(x)
    return (time.perf_counter() - t0) / max(1, len(items))


def mode_core(spec: dict) -> dict:
    """Single-thread ``core`` kernels on a seeded sample of the workload's
    own turns and conversations; no Spark."""
    import pyarrow.parquet as pq

    from master_project_spark import core

    inp = Path(spec["input"])
    turns = _sample_turns(inp, spec["seed"], spec["cap"])
    out = {"core.extract_turn_us": _per_item(core.extract_turn, turns) * 1e6,
           "core.normalize_and_split_us":
               _per_item(core.normalize_and_split, turns) * 1e6}
    t = pq.read_table(inp / "transcripts.parquet",
                      columns=["conv_id", "turn_idx", "text"]).to_pandas()
    convs = sorted(t["conv_id"].unique())
    rng = random.Random(spec["seed"])
    picked = rng.sample(convs, min(200, len(convs)))
    # the longest conversation always rides along
    picked.append(t.groupby("conv_id").size().idxmax())
    by_conv = t.sort_values(["conv_id", "turn_idx"]).groupby("conv_id")["text"]
    conv_texts = [" ".join(by_conv.get_group(c)) for c in picked]
    out["core.chunker_ms"] = _per_item(core.chunker, conv_texts) * 1e3
    from master_project_spark import datagen
    alias = frozenset(a["alias"] for a in datagen.gen_alias_dict(spec["seed"]))
    pairs = [(m["surface"], m["mtype"]) for text in turns[:2000]
             for m in core.extract_mentions(text)]
    out["core.verify_offline_us"] = _per_item(
        lambda p: core.verify_offline(p[0], p[1], alias), pairs) * 1e6
    return out


def mode_udfs(spec: dict) -> dict:
    """``udfs.extract_turn_batches`` on pandas batches of 2000 rows in this
    fresh process, so the per-worker memo starts empty."""
    import pyarrow.parquet as pq

    from master_project_spark import udfs

    t = pq.read_table(Path(spec["input"]) / "transcripts.parquet",
                      columns=["conv_id", "turn_idx", "ts", "text"]) \
        .to_pandas()
    t = t.sample(frac=1.0, random_state=spec["seed"]).head(spec["cap"])
    batches = [t.iloc[i:i + 2000] for i in range(0, len(t), 2000)]
    t0 = time.perf_counter()
    for _ in udfs.extract_turn_batches(iter(batches)):
        pass
    return {"udfs.extract_turn_batches_us":
            (time.perf_counter() - t0) / len(t) * 1e6}


MODES = {"setup": mode_setup, "build": mode_build, "queries": mode_queries,
         "core": mode_core, "udfs": mode_udfs}


def main() -> int:
    spec = json.loads(Path(sys.argv[1]).read_text())
    if spec["mode"] == "traced":
        import traced
        result = traced.run(spec)
    else:
        result = MODES[spec["mode"]](spec)
    Path(spec["result"]).write_text(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
