"""Tests of the event-log fold on a small recorded log.

Run:       python3 -m pytest perfbench/test_eventlog.py -q
Re-record: python3 perfbench/test_eventlog.py --record   (needs Spark)

The recorded application has a root span holding a set-up span, a span
whose jobs carry its job group, and a span whose jobs are submitted from a
thread-pool thread (no job group, so they are attributed by submission
time, as the pipeline's concurrent stage commits are). The recording
keeps only job, stage and task events, with file paths blanked.
"""

from __future__ import annotations

import gzip
import json
import re
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent))

import eventlog  # noqa: E402

FIXTURES = Path(__file__).resolve().parent / "fixtures"
LOG = FIXTURES / "small_eventlog.json.gz"
SPANS = FIXTURES / "small_spans.json"


@pytest.fixture(scope="module")
def recorded():
    spans = json.loads(SPANS.read_text())
    rows = eventlog.fold(eventlog.read_events(LOG), spans)
    return spans, rows, {s["name"]: s["id"] for s in spans}


def _log_cpu_s() -> float:
    return sum((ev.get("Task Metrics") or {}).get("Executor CPU Time", 0)
               for ev in eventlog.read_events(LOG)
               if ev.get("Event") == "SparkListenerTaskEnd") / 1e9


def test_span_cpu_sums_to_log_total(recorded):
    _, rows, _ = recorded
    total = _log_cpu_s()
    assert total > 0
    folded = sum(r["cpu_s"] for k, r in rows.items() if k != "_total")
    assert folded == pytest.approx(total, rel=0.03)
    assert None not in rows            # every job fell inside some span


def test_group_and_thread_pool_jobs_are_attributed(recorded):
    _, rows, ids = recorded
    groups = [(ev.get("Properties") or {}).get("spark.jobGroup.id")
              for ev in eventlog.read_events(LOG)
              if ev.get("Event") == "SparkListenerJobStart"]
    # AQE runs each query as two (grouped) and three (pooled) jobs
    assert groups == [ids["grouped"]] * 2 + [None] * 3
    assert rows[ids["grouped"]]["jobs"] == 2
    assert rows[ids["grouped"]]["cpu_s"] > 0
    # the pool thread's jobs carry no group: placed by submission time
    assert rows[ids["pooled"]]["jobs"] == 3
    assert rows[ids["pooled"]]["shuffle_write_mb"] > 0


def test_self_time_subtracts_children(recorded):
    spans, _, ids = recorded
    selfs = eventlog.self_times(spans)
    root = next(s for s in spans if s["id"] == ids["run"])
    kids = [s for s in spans if s["parent"] == root["id"]]
    want = (root["end"] - root["start"]) - sum(k["end"] - k["start"]
                                               for k in kids)
    assert selfs[root["id"]] == pytest.approx(want, abs=1e-9)
    for k in kids:
        assert selfs[k["id"]] == pytest.approx(k["end"] - k["start"])


def test_self_time_of_overlapping_children():
    spans = [{"id": "a", "parent": None, "start": 0.0, "end": 10.0},
             {"id": "b", "parent": "a", "start": 1.0, "end": 4.0},
             {"id": "c", "parent": "a", "start": 3.0, "end": 5.0},
             {"id": "d", "parent": "a", "start": 8.0, "end": 12.0}]
    assert eventlog.self_times(spans)["a"] == pytest.approx(10 - 4 - 2)


#: the events the fold reads, plus their job/stage/task context
KEEP = {"SparkListenerJobStart", "SparkListenerJobEnd",
        "SparkListenerStageSubmitted", "SparkListenerStageCompleted",
        "SparkListenerTaskStart", "SparkListenerTaskEnd"}
_PATH = re.compile(r"(/[\w.+-]+){2,}")


def _scrub(value):
    """Blank absolute paths and drop job properties other than the group."""
    if isinstance(value, dict):
        return {k: ({"spark.jobGroup.id": v.get("spark.jobGroup.id")}
                    if k == "Properties" else _scrub(v))
                for k, v in value.items()}
    if isinstance(value, list):
        return [_scrub(v) for v in value]
    if isinstance(value, str):
        return _PATH.sub("<path>", value)
    return value


def record() -> None:
    """Record the fixture with a 2-core application."""
    import shutil
    import tempfile
    from concurrent.futures import ThreadPoolExecutor

    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    from sparkapp import start_spark

    tmp = Path(tempfile.mkdtemp(dir=Path.cwd()))
    conf = {"spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(tmp),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.ui.showConsoleProgress": "false"}
    tracer = eventlog.Tracer()
    with tracer.span("run"):
        with tracer.span("setup"):
            spark, _ = start_spark({"cores": 2, "conf": conf})
        tracer.sc = spark.sparkContext
        with tracer.span("grouped"):
            spark.range(200_000, numPartitions=4).selectExpr(
                "sum(id * id)").collect()
        with tracer.span("pooled"):
            with ThreadPoolExecutor(1) as ex:
                ex.submit(lambda: spark.range(100_000, numPartitions=4)
                          .repartition(3).count()).result()
        tracer.sc = None
        spark.stop()
    FIXTURES.mkdir(exist_ok=True)
    with gzip.open(LOG, "wt") as g:
        for ev in eventlog.read_events(eventlog.find_log(tmp)):
            if ev["Event"] in KEEP:
                g.write(json.dumps(_scrub(ev)) + "\n")
    SPANS.write_text(json.dumps(tracer.spans, indent=1))
    shutil.rmtree(tmp)


if __name__ == "__main__" and sys.argv[1:] == ["--record"]:
    record()
