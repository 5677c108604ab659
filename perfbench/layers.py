"""Per-layer measurement taken from outside the engine.

Nothing here imports the engine. It provides:

- :class:`Tracer`: in-memory spans (name, start, end, parent) and their
  self times;
- :class:`StatusStore`: Spark's status store read through the
  local UI REST API (``/api/v1/applications/<id>/...``), folded into
  scheduler, exchange, executor and Python-worker counters per job group;
- readers of ``/proc`` for the JVM's peak RSS, the CPU time of the
  PySpark worker processes and the host's steal time;
- the parquet column-chunk sizes that bound what a scan can read.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import time
import urllib.request

import pyarrow.parquet as pq


class Tracer:
    """Spans kept in memory and written out once, at the end of a run."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> its duration minus the part of its interval that its
    children cover (overlapping children are counted once)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        covered, reach = 0.0, lo
        for a, b in sorted(children.get(s["id"], [])):
            a, b = max(a, reach), min(b, hi)
            if b > a:
                covered += b - a
                reach = b
        out[s["id"]] = (hi - lo) - covered
    return out


def span_report(spans: list[dict]) -> list[dict]:
    """Spans as written to the trace file: times relative to the first
    span, with duration and self time."""
    t0 = min((s["start"] for s in spans), default=0.0)
    selfs = self_times(spans)
    return [
        {
            **s,
            "start": s["start"] - t0,
            "end": s["end"] - t0,
            "dur_s": s["end"] - s["start"],
            "self_s": selfs[s["id"]],
        }
        for s in spans
    ]


# SQL-metric names the Python exec nodes (mapInArrow, mapInPandas, Arrow
# UDFs) report for the bytes crossing the JVM <-> Python worker boundary.
_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"
_SCAN_RE = re.compile(
    r"\(\d+\) Scan parquet[^\n]*\n(?:[^\n]+\n)*?Location: \w+ \[([^\]]*)\]"
    r"(?:[^\n]*\n)*?ReadSchema: struct<([^\n]*)>"
)


def _metric_bytes(value: str) -> float:
    """A Spark SQL size metric ("total (min, med, max)\\n12.3 KiB (...)"
    or "12.3 KiB") as bytes."""
    m = re.search(r"([\d.,]+)\s*(B|KiB|MiB|GiB|TiB)\b", value)
    if not m:
        return 0.0
    scale = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
    return float(m.group(1).replace(",", "")) * scale[m.group(2)]


def read_schema_columns(struct_body: str) -> list[str]:
    """Top-level field names of a ``ReadSchema: struct<...>`` body."""
    names, depth, field = [], 0, ""
    for ch in struct_body + ",":
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        if ch == "," and depth == 0:
            if field:
                names.append(field.split(":", 1)[0].strip())
            field = ""
        else:
            field += ch
    return names


def chunk_bytes(path: str, columns: list[str]) -> int:
    """Compressed size of ``columns``' chunks in one parquet file, summed
    over its row groups: what a scan reading those columns must fetch."""
    meta = pq.ParquetFile(path).metadata
    wanted = set(columns)
    total = 0
    for rg in range(meta.num_row_groups):
        group = meta.row_group(rg)
        for c in range(group.num_columns):
            col = group.column(c)
            if col.path_in_schema.split(".", 1)[0] in wanted:
                total += col.total_compressed_size
    return total


class StatusStore:
    """Spark's own status store, read through the local UI REST API."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._sc = sc
        self._base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(f"{self._base}/{path}", timeout=60) as r:
            return json.load(r)

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event to the
        status store, so the REST view is complete."""
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()

    def snapshot(self) -> dict:
        return {
            "jobs": self._get("jobs"),
            "stages": self._get("stages?withSummaries=true&quantiles=0.5,1.0"),
            "sql": self._get("sql?details=true&planDescription=true&offset=0&length=100000"),
        }

    def tracker_job_count(self, groups: list[str]) -> int:
        """Jobs in ``groups`` as the statusTracker API counts them."""
        tracker = self._sc.statusTracker()
        return sum(len(tracker.getJobIdsForGroup(g)) for g in groups)


def group_counters(snap: dict, groups: set[str]) -> dict[str, float]:
    """Scheduler, exchange, executor, scan and Python-worker counters for
    the jobs whose job group is in ``groups``; jobs of a group ending in
    ``:build`` were started while the query was being built."""
    jobs = [j for j in snap["jobs"] if j.get("jobGroup") in groups]
    build_jobs = [j for j in jobs if j["jobGroup"].endswith(":build")]
    job_ids = {j["jobId"] for j in jobs}
    stage_ids = {s for j in jobs for s in j["stageIds"]}
    stages = [s for s in snap["stages"] if s["stageId"] in stage_ids]
    ran = [s for s in stages if s["status"] != "SKIPPED"]
    skipped = {s["stageId"] for s in stages} - {s["stageId"] for s in ran}
    tot = lambda key: float(sum(s.get(key, 0) for s in ran))  # noqa: E731
    skew_max = skew_med = 0.0
    for s in ran:
        if s["numCompleteTasks"] < 2:
            continue
        dist = (s.get("taskMetricsDistributions") or {}).get("executorRunTime")
        if dist:
            skew_med += dist[0]
            skew_max += dist[1]
    py_sent = py_recv = 0.0
    for ex in snap["sql"]:
        ex_jobs = set(ex.get("successJobIds", [])) | set(ex.get("failedJobIds", []))
        if not ex_jobs & job_ids:
            continue
        for node in ex.get("nodes", []):
            for m in node.get("metrics", []):
                if m["name"] == _PY_SENT:
                    py_sent += _metric_bytes(m["value"])
                elif m["name"] == _PY_RECV:
                    py_recv += _metric_bytes(m["value"])
    run_s = tot("executorRunTime") / 1e3
    cpu_s = tot("executorCpuTime") / 1e9
    n_stages = len(stage_ids)
    return {
        "plans.build_jobs": float(len(build_jobs)),
        "sched.jobs": float(len(jobs)),
        "sched.stages": float(n_stages),
        "sched.stages_skipped": float(len(skipped)),
        "sched.skipped_frac": len(skipped) / n_stages if n_stages else 0.0,
        "sched.tasks": tot("numCompleteTasks"),
        "sched.tasks_failed": tot("numFailedTasks"),
        "shuffle.write_bytes": tot("shuffleWriteBytes"),
        "shuffle.read_bytes": tot("shuffleReadBytes"),
        "shuffle.records": tot("shuffleWriteRecords"),
        "spill.disk_bytes": tot("diskBytesSpilled"),
        "sources.scan_bytes": tot("inputBytes"),
        "sources.scan_rows": tot("inputRecords"),
        "exec.run_s": run_s,
        "exec.cpu_s": cpu_s,
        "exec.gc_s": tot("jvmGcTime") / 1e3,
        "exec.cpu_frac": cpu_s / run_s if run_s else 0.0,
        "exec.task_skew": skew_max / skew_med if skew_med else 1.0,
        "pyworker.bytes_sent": py_sent,
        "pyworker.bytes_received": py_recv,
    }


def scanned_chunk_bytes(snap: dict, groups: set[str]) -> int:
    """Parquet column-chunk bytes of every scan node in the SQL executions
    that ran jobs of ``groups``: the files in the node's Location, the
    columns in its ReadSchema."""
    job_ids = {j["jobId"] for j in snap["jobs"] if j.get("jobGroup") in groups}
    total = 0
    for ex in snap["sql"]:
        if not set(ex.get("successJobIds", [])) & job_ids:
            continue
        for files, schema in _SCAN_RE.findall(ex.get("planDescription", "")):
            cols = read_schema_columns(schema)
            for f in files.split(","):
                path = f.strip().removeprefix("file:")
                if path.endswith(".parquet") and os.path.isfile(path):
                    total += chunk_bytes(path, cols)
    return total


def _proc_children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _proc_children(), [], [pid]
    while todo:
        for child in kids.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def wait_gone(pids: list[int], timeout: float) -> None:
    """Wait until none of ``pids`` is still running (zombies count as gone)."""
    deadline = time.monotonic() + timeout
    for pid in pids:
        while time.monotonic() < deadline:
            try:
                with open(f"/proc/{pid}/stat") as f:
                    if f.read().rsplit(")", 1)[1].split()[0] == "Z":
                        break
            except OSError:
                break
            time.sleep(0.05)


def pyworker_cpu_s(jvm_pid: int) -> float:
    """CPU seconds used so far by the PySpark worker processes under the
    Spark JVM: live workers' own time plus the time of the workers they
    have already reaped."""
    total = 0
    for pid in descendants(jvm_pid):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                if b"pyspark" not in f.read():
                    continue
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def steal_s() -> float:
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


class CallTimer:
    """Times every call to the function ``attr`` names in ``modules``
    (the same function object wherever it was imported)."""

    def __init__(self, modules: list, attr: str, original) -> None:
        self.seconds = 0.0
        self._patched = [m for m in modules if getattr(m, attr, None) is original]
        self._attr, self._original = attr, original

        def timed(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return original(*args, **kwargs)
            finally:
                self.seconds += time.perf_counter() - t0

        for m in self._patched:
            setattr(m, attr, timed)

    def reset(self) -> None:
        self.seconds = 0.0

    def restore(self) -> None:
        for m in self._patched:
            setattr(m, self._attr, self._original)
