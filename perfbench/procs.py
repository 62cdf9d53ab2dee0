"""Process-tree accounting, child-process launching and the weather
record, all from /proc (Linux).

Each sample runs as the leader of a new session; the Spark JVM and its
Python workers inherit that session id, so "the process tree" of a
sample is every process whose session id is the sample's pid.
"""

from __future__ import annotations

import json
import os
import signal
import subprocess
import sys
import time
from pathlib import Path

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: str) -> list[str] | None:
    try:
        raw = Path(f"/proc/{pid}/stat").read_text()
    except OSError:
        return None
    # the command name may hold spaces: split after its closing paren
    return raw[raw.rindex(")") + 2:].split()


def session_pids(sid: int) -> list[str]:
    out = []
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            f = _stat_fields(pid)
            if f is not None and int(f[3]) == sid:   # field 6: session
                out.append(pid)
    return out


def session_cpu_s(sid: int) -> float:
    """utime+stime of the session's live processes plus the children they
    have reaped (cutime+cstime), in seconds."""
    total = 0
    for pid in session_pids(sid):
        f = _stat_fields(pid)
        if f is not None:
            total += sum(int(x) for x in f[11:15])   # fields 14-17
    return total / _TICK


def session_peak_rss_mb(sid: int) -> dict[str, float]:
    """Peak resident memory (VmHWM) of each live process of the session,
    in MB, keyed by "pid:command"."""
    out = {}
    for pid in session_pids(sid):
        try:
            status = Path(f"/proc/{pid}/status").read_text()
        except OSError:
            continue
        fields = dict(line.split(":", 1) for line in status.splitlines()
                      if ":" in line)
        if "VmHWM" in fields:
            out[f"{pid}:{fields['Name'].strip()}"] = (
                int(fields["VmHWM"].split()[0]) / 1024)
    return out


def run_child(script: Path, spec: dict, work: Path, env: dict,
              timeout_s: float) -> dict:
    """Run ``python3 script spec.json`` as a new session, then kill
    whatever the child left behind and wait until the session is empty.
    Returns the child's result JSON; raises on failure."""
    work.mkdir(parents=True, exist_ok=True)
    spec_path = work / "spec.json"
    result_path = work / "result.json"
    result_path.unlink(missing_ok=True)
    spec_path.write_text(json.dumps({**spec, "result": str(result_path)}))
    with open(work / "child.log", "w") as log:
        proc = subprocess.Popen([sys.executable, str(script),
                                 str(spec_path)], stdout=log,
                                stderr=subprocess.STDOUT, env=env,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            reap_session(proc)
    if rc != 0:
        tail = (work / "child.log").read_text()[-2000:]
        raise RuntimeError(f"{script.name} exited rc={rc}: {tail}")
    return json.loads(result_path.read_text())


def reap_session(proc: subprocess.Popen) -> None:
    """Kill every process left in the child's session and wait until none
    remains (the JVM and Python workers outlive a crashed sample)."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            pass
        if proc.poll() is None:
            try:
                proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                pass
        deadline = time.monotonic() + 10
        while time.monotonic() < deadline:
            states = [_stat_fields(p) for p in session_pids(proc.pid)]
            if all(f is None or f[0] == "Z" for f in states):
                return
            time.sleep(0.05)


def weather() -> dict:
    """Host state beside a run; ``cpu_probe_khs`` is bench.py's pinned
    single-core hashing probe (thousand hashes per second)."""
    from bench import _cpu_probe

    mem = {}
    for line in Path("/proc/meminfo").read_text().splitlines():
        k, v = line.split(":", 1)
        mem[k] = v.strip()
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg": [float(x) for x in
                    Path("/proc/loadavg").read_text().split()[:3]],
        "mem_available_mb": int(mem["MemAvailable"].split()[0]) // 1024,
        "cpu_probe_khs": _cpu_probe(),
    }
