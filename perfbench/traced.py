"""Traced run (child side): the workload's timed call plus the isolated
per-layer calls, each inside a bench-side span, with Spark's event log on.

Runs inside ``sample.py`` (mode ``traced``) in a fresh process. Every
isolated call after the first runs in the same, by then warm, application;
only the workload call (``pipeline.run_pipeline`` or the query loop) sees
a cold one, as the untraced samples do.
"""

from __future__ import annotations

import json
import os
from pathlib import Path

import eventlog
import procs
from bench import _force as force
from sample import start_spark


def _files(d: Path) -> dict[str, tuple[int, int]]:
    return {str(p): (p.stat().st_size, p.stat().st_mtime_ns)
            for p in d.rglob("*") if p.is_file()}


def _jvm_peak_rss_mb() -> float:
    return sum(v for k, v in procs.session_peak_rss_mb(os.getsid(0)).items()
               if k.endswith(":java"))


def _tableio_counts(out: Path) -> dict:
    files = sum(json.loads(m.read_text())["n_files"]
                for m in out.glob("*._manifest.json"))
    size = sum(p.stat().st_size for p in out.rglob("*.parquet"))
    return {"tableio.files_written": files,
            "tableio.bytes_written_mb": size / 2**20}


def _build(spec: dict, tracer: eventlog.Tracer, spark, out: dict) -> None:
    from pyspark.sql import functions as F

    from master_project_spark import core
    from master_project_spark.canonicalize import build_entity_map
    from master_project_spark.incremental import append_new_conversations
    from master_project_spark.pipeline import (chunk_stage_df, conv_stats_df,
                                               cue_prefilter_condition,
                                               input_fingerprint,
                                               node_aggregates, run_pipeline)
    from master_project_spark.tableio import TableIO
    from master_project_spark.udfs import (EXTRACTED_SCHEMA,
                                           extract_turn_batches,
                                           make_verify_udf)

    inp, work = Path(spec["input"]), Path(spec["out"])
    full = work / "full"
    with tracer.span("pipeline.run_pipeline") as s:
        transcripts = spark.read.parquet(str(inp / "transcripts.parquet"))
        alias = spark.read.parquet(str(inp / "alias.parquet"))
        res = run_pipeline(spark, transcripts, str(full), alias,
                           resume=False)
    out["wall_s"] = s["end"] - s["start"]
    out["stages"] = {m["stage"]: {"wall_s": m["wall_ms"] / 1000,
                                  "rows_out": int(m["rows_out"])}
                     for m in res.metrics if not m["stage"].startswith("_")}
    out["metrics"] = _tableio_counts(full)
    out["metrics"]["session.jvm_peak_rss_mb"] = _jvm_peak_rss_mb()

    with tracer.span("pipeline.scan"):
        force(transcripts)
    with tracer.span("udfs.extract"):
        turns = transcripts.select("conv_id", "turn_idx", "ts", "text")
        pre = cue_prefilter_condition(spark)
        if pre is not None:
            turns = turns.filter(pre)
        n_part = spark.sparkContext.defaultParallelism * 4
        if len(transcripts.inputFiles()) < max(2, n_part // 4):
            turns = turns.repartition(n_part, "conv_id", "turn_idx")
        force(turns.mapInPandas(extract_turn_batches, EXTRACTED_SCHEMA))
    with tracer.span("pipeline.chunk_stage"):
        force(chunk_stage_df(transcripts))
    with tracer.span("pipeline.conv_stats"):
        force(conv_stats_df(transcripts))

    triples = spark.read.parquet(str(full / "triples"))
    mentions = spark.read.parquet(str(full / "mentions"))
    with tracer.span("udfs.verify"):
        alias_set = frozenset(r["alias"] for r in
                              alias.select("alias").distinct().collect())
        verify = make_verify_udf(spark, alias_set)
        force(triples.filter(
            verify(F.col("obj"), F.col("mtype"))
            & ((F.col("subj") == core.SELF_SUBJECT)
               | verify(F.col("subj"), F.col("mtype")))))
    surfaces = (mentions.select("surface")
                .union(triples.filter(F.col("subj") != core.SELF_SUBJECT)
                       .select(F.col("subj").alias("surface")))
                .distinct().cache())
    n_surfaces = surfaces.count()
    with tracer.span("canonicalize.build_entity_map"):
        em, n_dropped = build_entity_map(surfaces, alias)
        em = em.cache()
        force(em)
    out["metrics"].update({
        "canonicalize.lsh_buckets_dropped": n_dropped,
        "canonicalize.surfaces": n_surfaces,
        "canonicalize.entities": em.select("entity_id").distinct().count()})
    linked = spark.read.parquet(str(full / "linked_mentions"))
    entity_map = spark.read.parquet(str(full / "entity_map"))
    with tracer.span("pipeline.node_aggregates"):
        force(node_aggregates(linked.join(entity_map, "surface")))
    frame = spark.read.parquet(str(full / "extracted")).cache()
    frame.count()
    with tracer.span("tableio.commit"):
        TableIO(str(work / "commit")).commit(frame, "extracted", "perfbench",
                                             partition_by=["batch"])
    with tracer.span("pipeline.input_fingerprint"):
        input_fingerprint(transcripts)

    inc = work / "appended"
    with tracer.span("prep.base_build"):
        run_pipeline(spark, spark.read.parquet(str(inp / "base.parquet")),
                     str(inc), alias, resume=False)
    before = _files(inc)
    with tracer.span("incremental.append"):
        info = append_new_conversations(spark, transcripts, str(inc), alias)
    after = _files(inc)
    written = sum(size for p, (size, mt) in after.items()
                  if before.get(p) != (size, mt))
    out["append_dirs"] = [str(inc), str(full)]
    out["metrics"].update({
        "incremental.touched_batches": info["touched_batches"],
        "incremental.new_rows": info["new_rows"],
        "incremental.graph_rebuilt": int(bool(info["graph_rebuilt"])),
        "incremental.written_bytes": written})


def _queries(spec: dict, tracer: eventlog.Tracer, spark, out: dict) -> None:
    from master_project_spark.entry_queries import QUERIES

    sf_dir = spec["input"]
    times = {}
    for name in spec["queries"]:
        with tracer.span(f"entry_queries.{name}") as s:
            force(QUERIES[name](spark, sf_dir))
        times[name] = s["end"] - s["start"]
    out["wall_s"] = sum(times.values())
    out["metrics"] = {f"entry_queries.{k}.wall_s": v
                      for k, v in times.items()}
    out["metrics"]["session.jvm_peak_rss_mb"] = _jvm_peak_rss_mb()
    with tracer.span("pipeline.scan"):
        for f in sorted(Path(sf_dir).glob("*.parquet")):
            force(spark.read.parquet(str(f)))
    # results for the DuckDB gate, collected after every timed span
    with tracer.span("prep.collect_results"):
        for name in spec["queries"]:
            QUERIES[name](spark, sf_dir).toPandas().to_pickle(
                Path(spec["out"]) / f"{name}.pkl")


def run(spec: dict) -> dict:
    log_dir = Path(spec["out"]) / "eventlog"
    log_dir.mkdir(parents=True, exist_ok=True)
    spec = {**spec, "conf": {**spec["conf"],
                             "spark.eventLog.enabled": "true",
                             "spark.eventLog.dir": str(log_dir),
                             "spark.eventLog.compress": "false",
                             "spark.eventLog.rolling.enabled": "false"}}
    tracer = eventlog.Tracer()
    out: dict = {}
    with tracer.span("run"):
        with tracer.span("session.get_spark"):
            spark, out["setup_s"] = start_spark(spec)
        tracer.sc = spark.sparkContext
        tracer.sc.setJobGroup(tracer.spans[0]["id"], "run")
        (_queries if spec["queries"] else _build)(spec, tracer, spark, out)
        tracer.sc = None
        spark.stop()
    out["spans"] = tracer.spans
    out["event_log"] = str(eventlog.find_log(log_dir))
    return out

