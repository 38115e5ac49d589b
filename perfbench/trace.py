"""Measurement from outside the engine: spans around the calls into each
module, Spark event-log task counters attributed to those spans, the
streaming progress records, and /proc CPU and memory of the process tree.

Spans are kept in memory and written to a side file when the run ends.
Every Spark job is attributed to the innermost span that was open when it
was submitted: by the span tag this module sets as a Spark local property
(`perfbench.span`), else by submission time. Counts of a span include its
children's; `self_s` is its wall time minus its children's."""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import time

TAG = "perfbench.span"
_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PY_TIME_METRICS = {"time to run Python workers"}
_PY4J_RELEASE = "m\nd\n"  # py4j memory-delete command

# the per-span counters reported for every span name
SPAN_FIELDS = (
    "wall_s", "self_s", "jobs", "tasks", "exec_cpu_s", "gc_s",
    "shuffle_mb", "spill_mb", "python_s",
)


class Tracer:
    """Span recorder for one measured pass. Spans are recorded only when
    `enabled`; the pass window is always recorded, so an untraced pass
    still gets its job/task/CPU totals from the event log.

    `own_s` is the time the tracer itself spends while enabled: opening and
    closing spans (the `setLocalProperty` round trips included) and
    counting py4j calls. It is the tracing overhead of the pass."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self.pass_rec: dict = {}
        self.own_s = 0.0
        self._stack: list[dict] = []
        self._sc = None
        self.py4j_calls = 0
        self._count_py4j = False

    def bind(self, spark) -> None:
        """Count py4j calls on the session's gateway client (only while a
        span asks for it)."""
        self._sc = spark.sparkContext
        if not self.enabled:
            return
        client = self._sc._gateway._gateway_client
        send = client.send_command

        @functools.wraps(send)
        def counted(command, *args, **kwargs):
            t0 = time.perf_counter()
            # object releases follow Python's garbage collector, not the code
            if self._count_py4j and not command.startswith(_PY4J_RELEASE):
                self.py4j_calls += 1
            self.own_s += time.perf_counter() - t0
            return send(command, *args, **kwargs)

        client.send_command = counted

    @contextlib.contextmanager
    def measured_pass(self):
        rec = self.pass_rec
        rec.update(start=time.time(), cpu_s0=proc_cpu_s(), ticks0=host_cpu_ticks())
        try:
            with self.span("pass"):
                yield rec
        finally:
            rec["end"] = time.time()
            rec["wall_s"] = rec["end"] - rec["start"]
            rec["cpu_s"] = proc_cpu_s() - rec.pop("cpu_s0")
            (steal0, total0), (steal, total) = rec.pop("ticks0"), host_cpu_ticks()
            rec["steal_pct"] = 100.0 * (steal - steal0) / max(total - total0, 1)

    @contextlib.contextmanager
    def span(self, name: str, count_py4j: bool = False):
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name,
               "parent": parent["id"] if parent else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec)
        self._sc.setLocalProperty(TAG, str(rec["id"]))
        calls0, counting = self.py4j_calls, self._count_py4j
        self._count_py4j = count_py4j or counting
        self.own_s += time.perf_counter() - t0
        try:
            yield
        finally:
            t0 = time.perf_counter()
            self._count_py4j = counting
            if count_py4j:
                rec["py4j_calls"] = self.py4j_calls - calls0
            rec["end"] = time.time()
            self._stack.pop()
            self._sc.setLocalProperty(
                TAG, None if parent is None else str(parent["id"])
            )
            self.own_s += time.perf_counter() - t0

    def wrap(self, owner, attr: str, span_name: str) -> None:
        """Replace `owner.attr` with a version that runs inside a span.
        The engine source is not touched."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapped(*args, **kwargs):
            with self.span(span_name):
                return orig(*args, **kwargs)

        setattr(owner, attr, wrapped)


# ---------------------------------------------------------------------------
# /proc counters (psutil is not available)
# ---------------------------------------------------------------------------

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def process_tree() -> list[int]:
    """This process and all of its descendants: the Python driver, the JVM
    and the Python workers."""
    kids = _children()
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def proc_cpu_s() -> float:
    """user+sys seconds of the process tree, including reaped children."""
    total = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / _CLK_TCK


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) clock ticks of all CPUs since boot. Steal is the time
    the hypervisor ran something else while a virtual CPU wanted to run."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks[:8])


def proc_peak_rss_mb() -> float:
    """Sum of the process tree's peak resident set sizes."""
    total_kb = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

def event_log_path(log_dir: str, app_id: str) -> str | None:
    hits = [p for p in glob.glob(os.path.join(log_dir, f"*{app_id}*"))
            if os.path.isfile(p)]
    return hits[0] if hits else None


def read_event_log(path: str) -> list[dict]:
    """One record per job: submission time, tags, and task totals."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(path) as f:
        for line in f:
            if '"SparkListenerJobStart"' in line[:60]:
                e = json.loads(line)
                props = e.get("Properties") or {}
                jid = e["Job ID"]
                jobs[jid] = {
                    "job": jid,
                    "submit": e["Submission Time"] / 1000.0,
                    "tag": props.get(TAG),
                    "query_id": props.get("sql.streaming.queryId"),
                    "batch_id": props.get("streaming.sql.batchId"),
                    "tasks": 0, "exec_cpu_s": 0.0, "gc_s": 0.0,
                    "shuffle_mb": 0.0, "spill_mb": 0.0, "python_s": 0.0,
                    "records_written": 0,
                }
                for sid in e.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
            elif '"SparkListenerTaskEnd"' in line[:60]:
                e = json.loads(line)
                jid = stage_job.get(e["Stage ID"])
                m = e.get("Task Metrics")
                if jid is None or not m:
                    continue
                j = jobs[jid]
                j["tasks"] += 1
                j["exec_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                j["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                sw = m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                j["shuffle_mb"] += sw / 2**20
                j["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 2**20
                j["records_written"] += m.get("Output Metrics", {}).get(
                    "Records Written", 0
                )
                for acc in e["Task Info"].get("Accumulables", []):
                    if acc.get("Name") in _PY_TIME_METRICS:
                        j["python_s"] += float(acc.get("Update") or 0) / 1e3  # ms
    return sorted(jobs.values(), key=lambda j: j["job"])


_JOB_SUMS = ("tasks", "exec_cpu_s", "gc_s", "shuffle_mb", "spill_mb",
             "python_s", "records_written")


def attribute(tracer: Tracer, jobs: list[dict]) -> None:
    """Add job totals to the pass record and, inclusively, to each span."""
    rec = tracer.pass_rec
    for r in [rec] + tracer.spans:
        r.update({k: 0 for k in ("jobs",) + _JOB_SUMS})
    by_id = {s["id"]: s for s in tracer.spans}
    for j in jobs:
        if rec["start"] <= j["submit"] <= rec["end"]:
            _add(rec, j)
        span = by_id.get(int(j["tag"])) if j["tag"] else None
        if span is None:
            covering = [s for s in tracer.spans
                        if s["start"] <= j["submit"] <= (s["end"] or 0)]
            span = max(covering, key=lambda s: s["start"]) if covering else None
        while span is not None:
            _add(span, j)
            span = by_id.get(span["parent"])


def _add(rec: dict, job: dict) -> None:
    rec["jobs"] += 1
    for k in _JOB_SUMS:
        rec[k] += job[k]


def span_metrics(tracer: Tracer, names: list[str]) -> dict[str, float]:
    """`<name>.<field>` per span name, summed over the spans of that name
    (0 for a name the pass never opened)."""
    child_wall: dict[int, float] = {}
    for s in tracer.spans:
        if s["parent"] is not None:
            child_wall[s["parent"]] = child_wall.get(s["parent"], 0.0) + (
                s["end"] - s["start"]
            )
    acc = {n: dict.fromkeys(SPAN_FIELDS, 0.0) for n in names}
    for s in tracer.spans:
        if s["name"] not in acc:
            continue
        a = acc[s["name"]]
        wall = s["end"] - s["start"]
        a["wall_s"] += wall
        a["self_s"] += wall - child_wall.get(s["id"], 0.0)
        for k in SPAN_FIELDS[2:]:
            a[k] += s.get(k, 0)
    return {f"{n}.{k}": acc[n][k] for n in names for k in SPAN_FIELDS}
