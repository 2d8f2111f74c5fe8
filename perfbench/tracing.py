"""Spans, Spark event-log parsing and host-noise readings.

Spans are kept in memory as (name, start, end, parent) and written out once
at the end of a traced run. Every layer span runs inside its own Spark job
group, so the event log attributes task time, shuffle bytes and spill to the
layer whose public function submitted the jobs.

Host readings come from /proc only (no psutil): 1-minute load, CPU pressure
("some" avg10/avg60) and steal time, so a noisy run can be told apart from a
regression.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    group: str            # Spark job group of the jobs this span submits
    start: float
    parent: Span | None = None
    end: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """Records layer spans; each span sets the Spark job group to its own
    id, so the event log splits per span."""

    sc: object            # the SparkContext
    spans: list[Span] = field(default_factory=list)
    _stack: list[Span] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        sp = Span(name, f"span-{len(self.spans)}", time.perf_counter(),
                  parent=self._stack[-1] if self._stack else None)
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(sp.group, name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self.sc.setJobGroup(self._stack[-1].group if self._stack else "untraced", "")

    def self_times(self) -> dict[str, float]:
        """Per span name: duration minus the part its child spans cover."""
        covered: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                covered[id(s.parent)] += s.dur
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s.name] += s.dur - covered[id(s)]
        return dict(out)

    def spans_named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def records(self, groups: dict[str, GroupStats]) -> list[dict]:
        """The spans as plain records, times relative to the first span, with
        the event-log figures of each span's own job group."""
        t0 = self.spans[0].start if self.spans else 0.0
        out = []
        for s in self.spans:
            g = groups.get(s.group, GroupStats())
            out.append({"name": s.name, "group": s.group,
                        "start": round(s.start - t0, 4), "end": round(s.end - t0, 4),
                        "parent": s.parent.group if s.parent else None,
                        "jobs": g.jobs, "task_s": round(g.task_s, 3),
                        "shuffle_write_mb": round(g.shuffle_write_b / 1e6, 3),
                        "spill_mb": round(g.spill_b / 1e6, 3)})
        return out


@dataclass
class GroupStats:
    jobs: int = 0
    task_s: float = 0.0
    shuffle_read_b: int = 0
    shuffle_write_b: int = 0
    spill_b: int = 0


def parse_event_log(log_dir: str) -> dict[str, GroupStats]:
    """Per job group: jobs, executor run time, shuffle read/write and spill
    bytes, from an uncompressed, non-rolling Spark event log."""
    stage_group: dict[int, str] = {}
    stats: dict[str, GroupStats] = defaultdict(GroupStats)
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                ev = e["Event"]
                if ev == "SparkListenerJobStart":
                    g = (e.get("Properties") or {}).get("spark.jobGroup.id") or "none"
                    stats[g].jobs += 1
                    for sid in e.get("Stage IDs", []):
                        stage_group[sid] = g
                elif ev == "SparkListenerTaskEnd":
                    m = e.get("Task Metrics")
                    g = stage_group.get(e["Stage ID"])
                    if not m or g is None:
                        continue
                    st = stats[g]
                    st.task_s += m.get("Executor Run Time", 0) / 1000.0
                    r = m.get("Shuffle Read Metrics", {})
                    st.shuffle_read_b += r.get("Remote Bytes Read", 0) + r.get("Local Bytes Read", 0)
                    st.shuffle_write_b += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    st.spill_b += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return dict(stats)


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


# --- host noise ---------------------------------------------------------------

def _cpu_steal() -> tuple[int, int]:
    """(steal jiffies, total jiffies) from the aggregate cpu line."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def host_noise() -> dict:
    out: dict = {"t": time.time(), "load1": os.getloadavg()[0]}
    try:
        with open("/proc/pressure/cpu") as f:
            some = f.readline().split()
        kv = dict(x.split("=") for x in some[1:])
        out["cpu_some_avg10"] = float(kv["avg10"])
        out["cpu_some_avg60"] = float(kv["avg60"])
    except (OSError, KeyError, ValueError):
        out["cpu_some_avg10"] = out["cpu_some_avg60"] = None
    out["steal_jiffies"], out["total_jiffies"] = _cpu_steal()
    return out


def noise_record(start: dict, end: dict) -> dict:
    """Start/end readings plus the steal share over the run."""
    dt = end["total_jiffies"] - start["total_jiffies"]
    steal = (end["steal_jiffies"] - start["steal_jiffies"]) / dt if dt > 0 else 0.0
    keys = ("load1", "cpu_some_avg10", "cpu_some_avg60")
    return {"start": {k: start[k] for k in keys}, "end": {k: end[k] for k in keys},
            "steal_share": round(steal, 4)}


def peak_rss_mb(pid: int) -> float:
    """VmHWM (peak resident set) of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def jvm_memory(jvm) -> dict:
    """Heap figures of the driver JVM, to tell whether the heap cap binds:
    the cap, the old generation's peak occupancy and its occupancy after
    the last collection, and the collections' count and time."""
    mf = jvm.java.lang.management.ManagementFactory
    mb = 1024.0 * 1024.0
    out: dict = {"heap_max_mb": mf.getMemoryMXBean().getHeapMemoryUsage().getMax() / mb}
    for pool in mf.getMemoryPoolMXBeans():
        if "Old Gen" in pool.getName():
            out["old_gen_peak_mb"] = pool.getPeakUsage().getUsed() / mb
            after = pool.getCollectionUsage()
            out["old_gen_after_gc_mb"] = after.getUsed() / mb if after is not None else None
    gcs = list(mf.getGarbageCollectorMXBeans())
    out["gc_count"] = sum(g.getCollectionCount() for g in gcs)
    out["gc_s"] = sum(g.getCollectionTime() for g in gcs) / 1000.0
    return out
