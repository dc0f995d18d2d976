"""Measurement probes read from outside the program: the /proc process
tree (CPU time, RSS) and Spark's own event log (per-layer totals)."""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from collections import Counter, defaultdict

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")

PHASE_PROP = "perfbench.phase"


# --------------------------------------------------------------------------
# process tree: this interpreter, the JVM it launched, every Python worker
# --------------------------------------------------------------------------

def _proc_table():
    """pid -> (ppid, utime+stime+cutime+cstime ticks, rss pages)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                raw = f.read()
        except OSError:
            continue
        rest = raw[raw.rindex(b")") + 2:].split()
        out[int(name)] = (
            int(rest[1]),
            int(rest[11]) + int(rest[12]) + int(rest[13]) + int(rest[14]),
            int(rest[21]),
        )
    return out


def tree_pids(root: int | None = None, table=None) -> list[int]:
    table = _proc_table() if table is None else table
    kids = defaultdict(list)
    for pid, (ppid, *_) in table.items():
        kids[ppid].append(pid)
    todo, seen = [root or os.getpid()], []
    while todo:
        pid = todo.pop()
        seen.append(pid)
        todo.extend(kids.get(pid, ()))
    return seen


def tree_cpu_s() -> float:
    """CPU seconds used so far by the live process tree, including
    children it has already reaped."""
    table = _proc_table()
    ticks = sum(table[p][1] for p in tree_pids(table=table) if p in table)
    return ticks / _CLK


def tree_rss_mb() -> float:
    """Summed RSS of the tree.  A process the JVM is spawning (Hadoop runs
    shell commands for local file permissions) shares the JVM's memory
    until it execs, so it would count the JVM twice: a child whose RSS
    equals its parent's is skipped."""
    table = _proc_table()
    pages = 0
    for p in tree_pids(table=table):
        if p in table:
            ppid, _, rss = table[p]
            parent = table.get(ppid)
            if not (parent and parent[2] == rss):
                pages += rss
    return pages * _PAGE / 2 ** 20


class RssPeak:
    """Samples the tree's summed RSS every ``period`` seconds while
    active.  ``mark()`` starts a new segment; ``peaks_mb`` holds the
    largest sample of each segment."""

    def __init__(self, period: float = 0.05):
        self.period = period
        self.peaks_mb = [0.0]
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def mark(self):
        with self._lock:
            self.peaks_mb.append(0.0)

    def _run(self):
        while True:
            rss = tree_rss_mb()
            with self._lock:
                self.peaks_mb[-1] = max(self.peaks_mb[-1], rss)
            if self._stop.wait(self.period):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def wait_gone(pids, timeout: float = 60.0) -> bool:
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        if not [p for p in pids if os.path.exists(f"/proc/{p}")]:
            return True
        time.sleep(0.1)
    return False


# --------------------------------------------------------------------------
# Spark event log -> per-phase layer totals
# --------------------------------------------------------------------------

_PY_METRICS = {
    "time to start Python workers": ("python.worker_init_s", 1e-3),
    "time to initialize Python workers": ("python.worker_init_s", 1e-3),
    "time to run Python workers": ("python.worker_run_s", 1e-3),
    "data sent to Python workers": ("arrow.to_python_bytes", 1),
    "data returned from Python workers": ("arrow.from_python_bytes", 1),
}


def _sql_metric(node: str, name: str):
    if name in _PY_METRICS:
        return _PY_METRICS[name]
    if node.startswith("WholeStageCodegen") and name == "duration":
        return "codegen.s", 1e-3
    if name == "number of output rows":
        if "Join" in node:
            return "join.rows", 1
        if node == "MapInPandas":
            return "map_in_pandas.rows", 1
    return None


def layer_totals(path: str) -> dict[str, Counter]:
    """Sum task metrics, SQL metrics and block updates of every job,
    keyed by the job's ``perfbench.phase`` local property.  Also gives
    ``stage.skew_max``: max over stages of max/median task time."""
    accums = {}
    stage_phase, active = {}, {}
    tot = defaultdict(Counter)
    durations = defaultdict(lambda: defaultdict(list))

    def walk(info):
        for m in info.get("metrics", ()):
            hit = _sql_metric(info["nodeName"], m["name"])
            if hit:
                accums[m["accumulatorId"]] = hit
        for child in info.get("children", ()):
            walk(child)

    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if "sparkPlanInfo" in e:
                walk(e["sparkPlanInfo"])
            elif kind == "SparkListenerJobStart":
                phase = (e.get("Properties") or {}).get(PHASE_PROP)
                active[e["Job ID"]] = phase
                for s in e["Stage IDs"]:
                    stage_phase[s] = phase
            elif kind == "SparkListenerJobEnd":
                active.pop(e["Job ID"], None)
            elif kind == "SparkListenerBlockUpdated":
                info = e["Block Updated Info"]
                phases = set(active.values())
                if info["Block ID"].startswith("rdd_") and len(phases) == 1:
                    tot[phases.pop()]["checkpoint.bytes"] += (
                        info["Memory Size"] + info["Disk Size"]
                    )
            elif kind == "SparkListenerTaskEnd":
                phase = stage_phase.get(e["Stage ID"])
                m = e.get("Task Metrics")
                if phase is None or not m:
                    continue
                t = tot[phase]
                info = e["Task Info"]
                sw = m["Shuffle Write Metrics"]
                t["stage.tasks"] += 1
                t["executor.run_s"] += m["Executor Run Time"] / 1e3
                t["executor.cpu_s"] += m["Executor CPU Time"] / 1e9
                t["jvm.gc_s"] += m["JVM GC Time"] / 1e3
                t["spill.bytes"] += m["Disk Bytes Spilled"]
                t["shuffle.write_bytes"] += sw["Shuffle Bytes Written"]
                t["shuffle.records"] += sw["Shuffle Records Written"]
                t["shuffle.write_s"] += sw["Shuffle Write Time"] / 1e9
                t["shuffle.fetch_wait_s"] += (
                    m["Shuffle Read Metrics"]["Fetch Wait Time"] / 1e3
                )
                durations[phase][e["Stage ID"]].append(
                    info["Finish Time"] - info["Launch Time"]
                )
                for a in info.get("Accumulables", ()):
                    hit = accums.get(a.get("ID"))
                    if hit and a.get("Update") is not None:
                        t[hit[0]] += float(a["Update"]) * hit[1]
    for phase, stages in durations.items():
        ratios = [max(d) / max(statistics.median(d), 1.0)
                  for d in stages.values() if len(d) >= 2]
        tot[phase]["stage.skew_max"] = max(ratios, default=1.0)
    return tot
