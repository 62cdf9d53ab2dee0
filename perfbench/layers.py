"""Traced run (parent side): one untraced sample for the tracing
overhead, the ``core`` and ``udfs`` micro-benchmarks in fresh processes,
the traced child, then the event-log fold into the per-layer metrics of
BENCHMARK.json and the per-span table."""

from __future__ import annotations

import shutil
import time
from pathlib import Path

import checks
import eventlog
from harness import Ctx, one_sample

#: isolated calls whose spans become per-layer metrics
CALLS = ("session.get_spark", "pipeline.run_pipeline", "pipeline.scan",
         "udfs.extract", "pipeline.chunk_stage", "pipeline.conv_stats",
         "udfs.verify", "canonicalize.build_entity_map",
         "pipeline.node_aggregates", "tableio.commit",
         "pipeline.input_fingerprint", "incremental.append")
#: turns fed to the core / udfs micro-benchmarks
MICRO_TURNS = 8000
#: a traced run must end within 180 s; its traced child gets what is left
RUN_LIMIT_S = 170


def _print_spans(spans: list[dict], rows: dict, selfs: dict) -> None:
    print("   span  wall_s  self_s  cpu_s  run_s  shuffle_write_mb  "
          "spill_mb  task_skew  jobs")
    depth: dict = {}
    for s in spans:
        depth[s["id"]] = depth.get(s["parent"], -1) + 1
        row = rows.get(s["id"], {})
        print("   " + "  " * depth[s["id"]] + "  ".join(
            [s["name"], f"{s['end'] - s['start']:.3f}",
             f"{selfs[s['id']]:.3f}", f"{row.get('cpu_s', 0):.3f}",
             f"{row.get('run_s', 0):.3f}",
             f"{row.get('shuffle_write_mb', 0):.2f}",
             f"{row.get('spill_mb', 0):.2f}",
             f"{row.get('task_skew', 1.0):.2f}", str(row.get("jobs", 0))]))
    if None in rows:
        print(f"   (jobs outside every span: {rows[None]})")


def _check_traced(ctx: Ctx, r: dict, out: Path) -> list[str]:
    if "stages" not in r:
        return checks.check_queries(ctx.inp, out, ctx.queries)
    appended, full = (Path(p) for p in r["append_dirs"])
    return (checks.check_build(ctx.inp, full, r["stages"], ctx.seed)
            + checks.check_append(appended, full))


def traced_run(ctx: Ctx) -> dict:
    # an untraced fresh sample of this run: the tracing overhead is the
    # traced wall minus its wall
    u, problems = one_sample(ctx, 0)
    attempted, failed = 2, int(u is None)
    metrics: dict[str, float] = {}
    try:
        if not ctx.queries:
            for mode in ("core", "udfs"):
                out = ctx.work / "runs" / mode
                r = ctx.child(ctx.spec(mode, out, cap=MICRO_TURNS), out)
                metrics.update({k: v for k, v in r.items()
                                if k.startswith(mode + ".")})
        out = ctx.work / "runs" / "traced"
        shutil.rmtree(out, ignore_errors=True)
        r = ctx.child(ctx.spec("traced", out / "out"), out,
                      RUN_LIMIT_S - (time.monotonic() - ctx.started))
        bad = _check_traced(ctx, r, out / "out")
    except Exception as e:          # a crash or timeout is a failure
        return {"metrics": metrics, "problems": problems + [str(e)],
                "attempted": attempted, "failed": failed + 1}
    if bad:
        failed += 1
        problems += bad

    for s, v in r.get("stages", {}).items():
        metrics[f"pipeline.stage.{s}.wall_s"] = v["wall_s"]
        metrics[f"pipeline.stage.{s}.rows_out"] = v["rows_out"]
    metrics.update(r["metrics"])
    if "incremental.written_bytes" in metrics:
        metrics["incremental.write_amp"] = (
            metrics.pop("incremental.written_bytes")
            / ctx.record["append_delta_bytes"])
    spans = r["spans"]
    rows = eventlog.fold(eventlog.read_events(Path(r["event_log"])), spans)
    selfs = eventlog.self_times(spans)
    for s in spans:
        if s["name"] in CALLS:
            row = rows.get(s["id"], {})
            metrics[f"{s['name']}.wall_s"] = s["end"] - s["start"]
            for k in ("cpu_s", "run_s", "shuffle_write_mb", "spill_mb",
                      "task_skew", "jobs"):
                metrics[f"{s['name']}.{k}"] = row.get(k, 0.0)
    metrics["trace.self_s"] = selfs[spans[0]["id"]]
    if u is not None:
        metrics["trace.overhead_s"] = r["wall_s"] - u["wall_s"]

    print(f"== traced run {ctx.workload} seed={ctx.seed}: event-log executor "
          f"CPU {rows['_total']['cpu_s']:.3f} s; tracing overhead "
          f"{metrics.get('trace.overhead_s', float('nan')):+.3f} s (traced "
          f"{r['wall_s']:.3f} s - untraced "
          f"{u['wall_s'] if u else float('nan'):.3f} s, both this run)")
    _print_spans(spans, rows, selfs)
    print("== per-layer metrics (all measured; BENCHMARK.json reports the "
          "declared subset)")
    for k in sorted(metrics):
        print(f"   {k}  {metrics[k]:.6g}")
    return {"metrics": metrics, "problems": problems,
            "attempted": attempted, "failed": failed}
