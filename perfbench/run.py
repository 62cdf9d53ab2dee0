"""KG benchmark: one command, two workloads, end-to-end metrics from
untraced fresh-process samples, per-layer metrics from a traced run.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 30 \
        --trace 0

Prints a table and the weather/input record, then, as the LAST line, one
JSON object {"correct", "attempted", "failed", "metrics"}. ``--trace 0``
reports the end-to-end metrics of BENCHMARK.json; ``--trace 1`` the
per-layer ones. See perfbench/README.md for the metric definitions and
the layer -> end-to-end map.
"""

from __future__ import annotations

import argparse
import json
import shutil
import signal
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import inputs  # noqa: E402
import procs  # noqa: E402
from harness import Ctx, run_untraced  # noqa: E402


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def py_peak_rss_mb(peaks: dict[str, float]) -> float:
    """Peak RSS summed over the sample's Python processes (its own and
    Spark's workers). The JVM's own peak moves by a quarter between identical
    runs (heap sizing), so it is a per-layer metric instead."""
    return sum(v for k, v in peaks.items() if k.split(":")[1] != "java")


def end_to_end(res: dict, record: dict) -> dict:
    s = res["samples"]
    wall = _median([x["wall_s"] for x in s])
    items = record["turns"] if "turns" in record else sum(
        record["rows"].values())
    return {
        "wall_s": wall,
        "rows_per_s": items / wall if wall else 0.0,
        "cpu_s": _median([x["cpu_s"] for x in s]),
        "setup_s": _median(res["setups"]),
        "py_peak_rss_mb": _median([py_peak_rss_mb(x["peak_rss"]) for x in s]),
        "failed_frac": res["failed"] / max(1, res["attempted"]),
    }


def print_table(title: str, rows: list[tuple]) -> None:
    print(f"== {title}")
    for r in rows:
        print("   " + "  ".join(str(c) for c in r))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=inputs.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    started = time.monotonic()
    # a terminated run still unwinds, so every child session gets reaped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = Path.cwd()
    if not (root / "master_project_spark" / "pipeline.py").is_file():
        print("error: run from the root of a checkout that holds "
              "master_project_spark/", file=sys.stderr)
        return 2
    bench_spec = json.loads((root / "BENCHMARK.json").read_text())
    work = root / ".perfbench_work"
    weather_before = procs.weather()
    inp = inputs.ensure_inputs(root, work, args.workload, args.seed)
    ctx = Ctx(args.workload, args.seed, args.seconds, work, inp,
              json.loads((inp / "record.json").read_text()), started=started)
    ctx.record["repartition_below_files"] = max(2, ctx.cores * 4 // 4)
    if args.workload == "operator_queries":
        import bench
        ctx.queries = inputs.query_order(args.seed, bench.HEADLINE_QUERIES)
        ctx.record["query_order"] = ctx.queries

    if args.trace:
        import layers
        res = layers.traced_run(ctx)
        metrics = res["metrics"]
        declared = bench_spec["per_layer"]
        correct = not res["problems"]
    else:
        res = run_untraced(ctx)
        metrics = end_to_end(res, ctx.record)
        declared = bench_spec["end_to_end"]
        correct = not res["problems"] and bool(res["samples"])
        n = len(res["samples"])
        units = {m["name"]: m["unit"] for m in declared}
        print_table(f"{args.workload} seed={args.seed} end-to-end "
                    f"(median of n={n} samples; n<11, so no tail "
                    f"percentile is reported)",
                    [(k, f"{v:.4f}", units.get(k, "ratio"))
                     for k, v in metrics.items()])
        if res["samples"]:
            first = res["samples"][0]
            if "stages" in first:
                print_table("pipeline stages (first sample)",
                            [(k, f"{v['wall_s']:.3f}", "s", v["rows_out"],
                              "rows") for k, v in first["stages"].items()])
            print_table("peak resident memory by process (first sample)",
                        [(k, f"{v:.1f}", "MB")
                         for k, v in first["peak_rss"].items()])
            if "queries" in first:
                print_table("queries (first sample)",
                            [(k, f"{v:.3f}", "s")
                             for k, v in first["queries"].items()])
    for p in res["problems"]:
        print(f"FAILED: {p}")
    print(json.dumps({"record": {"input": ctx.record,
                                 "weather_before": weather_before,
                                 "weather_after": procs.weather(),
                                 "setups_s": res.get("setups", [])}}))
    shutil.rmtree(work / "runs", ignore_errors=True)
    print(json.dumps({
        "correct": correct, "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {m["name"]: {"value": float(metrics.get(m["name"], 0.0)),
                                "unit": m["unit"]} for m in declared}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
