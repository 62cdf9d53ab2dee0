"""Sample orchestration shared by the untraced and the traced runs: every
sample is a fresh process and Spark application (``sample.py``)."""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field
from pathlib import Path

import checks
import procs

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

#: set-ups measured per run (the samples' own plus set-up-only processes);
#: setup_s is their median
SETUPS = 2
#: wall-clock cap for one child process
CHILD_TIMEOUT_S = 150


def child_env(work: Path) -> dict:
    """Keep every file Spark and Python write inside the checkout."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env["TMPDIR"] = str(tmp)
    env["SPARK_GRAFT_LOCAL_DIR"] = str(work / "spark_local")
    env.pop("SPARK_GRAFT_MASTER", None)
    env["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in env.get("PYTHONPATH", "").split(os.pathsep)
                       if p])
    return env


def spark_conf(work: Path) -> dict:
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Duser.timezone=UTC -Djava.io.tmpdir={work / 'tmp'} "
            "-XX:-UsePerfData",
    }


@dataclass
class Ctx:
    """What one benchmark run knows: its arguments, inputs and settings."""
    workload: str
    seed: int
    seconds: float
    work: Path
    inp: Path
    record: dict
    cores: int = field(default_factory=lambda: len(os.sched_getaffinity(0)))
    queries: list[str] = field(default_factory=list)
    started: float = field(default_factory=time.monotonic)

    def spec(self, mode: str, out: Path, **extra) -> dict:
        return {"mode": mode, "cores": self.cores,
                "conf": spark_conf(self.work), "input": str(self.inp),
                "out": str(out), "queries": self.queries, "seed": self.seed,
                **extra}

    def child(self, spec: dict, out: Path, timeout_s: float = CHILD_TIMEOUT_S):
        return procs.run_child(HERE / "sample.py", spec, out,
                               child_env(self.work), timeout_s)


def one_sample(ctx: Ctx, i: int) -> tuple[dict | None, list[str]]:
    """One fresh-process sample plus its correctness gate."""
    out = ctx.work / "runs" / f"s{i}"
    shutil.rmtree(out, ignore_errors=True)
    mode = "queries" if ctx.queries else "build"
    try:
        r = ctx.child(ctx.spec(mode, out / "out"), out)
        bad = checks.check_sample(ctx.workload, ctx.inp, r, out / "out",
                                  ctx.seed)
    except Exception as e:          # a crash or timeout is a failure
        r, bad = None, [f"sample {i}: {e}"]
    shutil.rmtree(out, ignore_errors=True)
    return (None if bad else r), bad


def run_untraced(ctx: Ctx) -> dict:
    """Fresh process + Spark application per sample, until the next sample
    would overrun --seconds (at least one); then set-up-only processes
    until SETUPS set-ups were measured."""
    samples, setups, attempted, failed, problems = [], [], 0, 0, []
    t_start = time.perf_counter()
    while True:
        t0 = time.perf_counter()
        r, bad = one_sample(ctx, attempted)
        attempted += 1
        if r is not None:
            samples.append(r)
            setups.append(r["setup_s"])
        else:
            failed += 1
            problems += bad
        took = time.perf_counter() - t0
        if time.perf_counter() - t_start + took > ctx.seconds \
                or failed > 2:
            break
    while len(setups) < SETUPS and not failed:
        out = ctx.work / "runs" / f"setup{len(setups)}"
        setups.append(ctx.child(ctx.spec("setup", out), out)["setup_s"])
        shutil.rmtree(out, ignore_errors=True)
    return {"samples": samples, "setups": setups, "attempted": attempted,
            "failed": failed, "problems": problems}


