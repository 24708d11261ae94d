"""Spans recorded by the benchmark and per-layer metrics derived from them
and from Spark's event log.

Spans wrap the benchmark's calls into the engine: pass -> query ->
build/action for the batch mix, drain -> micro-batch for the stream.
Every span carries wall-clock start/end (epoch seconds) so Spark jobs
from the event log can be attributed to the span they ran in: by job
group when the job carries one of the benchmark's groups, otherwise by
the innermost span whose interval holds the job's submission time (jobs that
the engine starts from its own thread pools do not inherit the
caller's job group, and stream jobs carry the query's run id).
"""

from __future__ import annotations

import json
import re
import time
from collections import defaultdict
from contextlib import contextmanager

_EPOCH0 = time.time() - time.perf_counter()


def now() -> float:
    """Monotonic clock expressed as epoch seconds."""
    return _EPOCH0 + time.perf_counter()


class Tracer:
    """In-memory span recorder; ``write`` dumps the spans as JSON lines."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **tags):
        rec = self.add(name, now(), None, **tags)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = now()
            self._stack.pop()

    def add(self, name: str, start: float, end: float | None, parent=None, **tags) -> dict:
        if parent is None and self._stack:
            parent = self._stack[-1]
        rec = {"id": len(self.spans), "parent": parent, "name": name,
               "start": start, "end": end, **tags}
        self.spans.append(rec)
        return rec

    def children(self, sid: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == sid]

    def self_time(self, span: dict) -> float:
        """Duration minus the part of it that child spans cover."""
        ivs = sorted((c["start"], c["end"]) for c in self.children(span["id"]))
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in ivs:
            s, e = max(s, span["start"]), min(e, span["end"])
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (span["end"] - span["start"]) - covered

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**s, "self_s": self.self_time(s)}) + "\n")


# -- event log ---------------------------------------------------------------

#: Spark 4.1 SQL metrics of the Python runners (Arrow UDFs, pandas state
#: fold); timing metrics are in milliseconds, data metrics in bytes
PY_METRICS = {
    "time to run Python workers": "python.run_ms",
    "time to start Python workers": "python.boot_ms",
    "time to initialize Python workers": "python.boot_ms",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_returned",
}

_RDD_BLOCK = re.compile(r"^rdd_(\d+)_\d+$")


def read_event_log(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


class JobStats:
    """Counters of the Spark jobs attributed to one span."""

    def __init__(self) -> None:
        self.c: dict[str, float] = defaultdict(float)
        self.rdds: set[int] = set()
        self.block_bytes: dict[str, int] = {}

    def __getitem__(self, k: str) -> float:
        return self.c[k]


def attribute_jobs(events: list[dict], spans: list[dict], group_of=None) -> dict[int, JobStats]:
    """Aggregate jobs, stages, tasks and RDD block puts per span.

    ``group_of`` maps a job group id to a span id; jobs without a known
    group fall back to the innermost span whose interval holds their
    submission time. Block updates carry no timestamp, so they go to
    the span of the most recently started job.
    """
    group_of = group_of or {}
    closed = [s for s in spans if s["end"] is not None]

    def by_time(t_ms: float):
        t = t_ms / 1000.0
        inside = [s for s in closed if s["start"] <= t <= s["end"]]
        return max(inside, key=lambda s: s["start"])["id"] if inside else None

    stats: dict[int, JobStats] = defaultdict(JobStats)
    stage_span: dict[int, int | None] = {}
    current = None
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            sid = group_of.get(group)
            if sid is None:
                sid = by_time(e["Submission Time"])
            current = sid
            for st in e["Stage IDs"]:
                stage_span[st] = sid
            if sid is not None:
                stats[sid].c["jobs"] += 1
        elif kind == "SparkListenerStageCompleted":
            sid = stage_span.get(e["Stage Info"]["Stage ID"])
            if sid is not None:
                stats[sid].c["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            sid = stage_span.get(e["Stage ID"])
            m = e.get("Task Metrics")
            if sid is None or not m:
                continue
            c = stats[sid].c
            c["tasks"] += 1
            c["exec_run_ms"] += m["Executor Run Time"]
            c["exec_cpu_ns"] += m["Executor CPU Time"]
            c["gc_ms"] += m["JVM GC Time"]
            c["result_bytes"] += m["Result Size"]
            c["spill_bytes"] += m["Disk Bytes Spilled"]
            c["bytes_read"] += m["Input Metrics"]["Bytes Read"]
            c["records_read"] += m["Input Metrics"]["Records Read"]
            sr = m["Shuffle Read Metrics"]
            c["shuffle_read_bytes"] += sr["Local Bytes Read"] + sr["Remote Bytes Read"]
            c["fetch_wait_ms"] += sr["Fetch Wait Time"]
            c["shuffle_write_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
            for acc in e["Task Info"].get("Accumulables", []):
                key = PY_METRICS.get(acc.get("Name"))
                if key is not None:
                    c[key] += float(acc.get("Update") or 0)
        elif kind == "SparkListenerBlockUpdated":
            info = e["Block Updated Info"]
            m = _RDD_BLOCK.match(info["Block ID"])
            size = info["Memory Size"] + info["Disk Size"]
            if m and size > 0 and current is not None:
                st = stats[current]
                st.rdds.add(int(m.group(1)))
                st.block_bytes[info["Block ID"]] = max(size, st.block_bytes.get(info["Block ID"], 0))
    return stats


def total(stats: dict[int, JobStats], span_ids) -> JobStats:
    """Sum the stats of several spans."""
    out = JobStats()
    for sid in span_ids:
        st = stats.get(sid)
        if st is None:
            continue
        for k, v in st.c.items():
            out.c[k] += v
        out.rdds |= st.rdds
        out.block_bytes.update(st.block_bytes)
    return out


def layer_counters(st: JobStats, wall_s: float, cores: int) -> dict[str, float]:
    """Operator, source, function and pin counters of a set of jobs run
    within ``wall_s`` seconds of timed wall on ``cores`` cores."""
    cpu_s = st["exec_cpu_ns"] / 1e9
    return {
        "sources.bytes_read": st["bytes_read"],
        "sources.records_read": st["records_read"],
        "driver.result_bytes": st["result_bytes"],
        "shuffle.write_bytes": st["shuffle_write_bytes"],
        "shuffle.read_bytes": st["shuffle_read_bytes"],
        "shuffle.fetch_wait_s": st["fetch_wait_ms"] / 1000,
        "spill.bytes": st["spill_bytes"],
        "exec.run_s": st["exec_run_ms"] / 1000,
        "exec.cpu_s": cpu_s,
        "exec.gc_s": st["gc_ms"] / 1000,
        "exec.cpu_util": cpu_s / (wall_s * cores) if wall_s > 0 else 0.0,
        "python.run_s": st["python.run_ms"] / 1000,
        "python.boot_s": st["python.boot_ms"] / 1000,
        "python.bytes_sent": st["python.bytes_sent"],
        "python.bytes_returned": st["python.bytes_returned"],
        "partitioning.pins": len(st.rdds),
        "partitioning.pinned_bytes": sum(st.block_bytes.values()),
    }
