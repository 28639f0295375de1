"""Measurement from outside the package: host noise, process-tree memory,
layer spans and the Spark event-log fold.

Spans are kept in memory and written when the run ends. Every span tags the
Spark jobs it starts with ``setJobDescription("layer:<name>")``, so the
event log can be folded back onto the same layer names.
"""

from __future__ import annotations

import contextlib
import json
import os
import signal
import statistics
import threading
import time
from collections import defaultdict

# layer metric -> (end-to-end metric it should move, workloads where it does)
LAYER_MAP = {
    "session.start_s": ("setup_s", "all"),
    "model.train_s": ("setup_s", "pages_html_kn (it trains KN)"),
    "warmup_s": ("setup_s", "all"),
    "scan.s": ("docs_per_cpu_s", "all (control: small share everywhere)"),
    "shuffle.write_bytes": ("docs_per_cpu_s", "docs_text, pages_html_kn (the url re-spread)"),
    "shuffle.read_bytes": ("docs_per_cpu_s", "docs_text, pages_html_kn (the url re-spread)"),
    "extract.s": ("docs_per_cpu_s", "pages_html_kn (0 on docs_text and resume_write)"),
    "extract.udf_us_per_doc": ("docs_per_cpu_s", "pages_html_kn"),
    "enrich.s": ("docs_per_cpu_s", "all"),
    "enrich.udf_us_per_doc": ("docs_per_cpu_s", "all"),
    "enrich.doc_stats_us_per_doc": ("docs_per_cpu_s", "docs_text"),
    "enrich.detect_batch_us_per_doc": ("docs_per_cpu_s", "docs_text"),
    "enrich.kn_ppl_us_per_doc": ("docs_per_cpu_s", "pages_html_kn"),
    "py.worker_s": ("docs_per_cpu_s", "docs_text (cheapest kernel, largest boundary share)"),
    "py.bytes_to_worker": ("docs_per_cpu_s", "docs_text"),
    "py.bytes_from_worker": ("docs_per_cpu_s", "docs_text"),
    "rules_scrub.s": ("docs_per_cpu_s", "all"),
    "sink.write_s": ("docs_per_cpu_s, out_bytes_per_doc", "resume_write"),
    "sink.lineage_s": ("docs_per_cpu_s", "resume_write"),
    "sink.outside_exec_s": ("docs_per_cpu_s", "resume_write"),
    "sink.bytes_written": ("out_bytes_per_doc", "resume_write"),
    "sink.files_written": ("docs_per_cpu_s, out_bytes_per_doc", "resume_write"),
    "sink.out_bytes_per_doc": ("out_bytes_per_doc", "resume_write"),
    "report.s": ("docs_per_cpu_s", "resume_write"),
    "resume.recompute_ratio": ("docs_per_cpu_s, out_bytes_per_doc", "resume_write"),
    "exec.cpu_s": ("docs_per_cpu_s", "all"),
    "exec.gc_s": ("docs_per_cpu_s, peak_rss_mb", "all"),
    "exec.spill_bytes": ("docs_per_cpu_s, peak_rss_mb", "all"),
    "task.skew": ("docs_per_cpu_s", "pages_html_kn"),
    "layers.coverage": ("(trace check: layer seconds / wall)", "all"),
    "trace.overhead": ("(trace check: traced / untraced wall)", "all"),
}


# ---------------------------------------------------------------------------
# host noise
# ---------------------------------------------------------------------------


def _cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


class HostWindow:
    """Steal % and load average around one timed window."""

    def __enter__(self):
        self.load_before = os.getloadavg()
        self._j0 = _cpu_jiffies()
        return self

    def __exit__(self, *exc):
        s1, t1 = _cpu_jiffies()
        s0, t0 = self._j0
        self.steal_pct = 100.0 * (s1 - s0) / max(t1 - t0, 1)
        self.load_after = os.getloadavg()

    def summary(self) -> dict:
        return {
            "steal_pct": round(self.steal_pct, 3),
            "load_before": [round(x, 2) for x in self.load_before],
            "load_after": [round(x, 2) for x in self.load_after],
        }


# ---------------------------------------------------------------------------
# process tree: memory and clean-up
# ---------------------------------------------------------------------------


def descendants(root: int) -> list[int]:
    children = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        children[ppid].append(int(d))
    out, todo = [], [root]
    while todo:
        kids = children.get(todo.pop(), [])
        out.extend(kids)
        todo.extend(kids)
    return out


def tree_pss_bytes(root: int) -> int:
    """Proportional set size of a process tree: resident memory with each
    shared page split among the processes that map it, so the Python
    workers forked from one daemon do not count their shared pages again."""
    total = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                total += next(int(ln.split()[1]) for ln in f if ln.startswith("Pss:")) * 1024
        except (OSError, StopIteration):
            continue
    return total


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) of a process tree: every live process,
    plus the children each has already reaped. Time the host steals from
    the machine is not counted, and neither is time spent waiting for a
    core."""
    total = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        total += sum(int(v) for v in stat[stat.rindex(")") + 2 :].split()[11:15])
    return total / _TICK


class RssSampler:
    """Peak resident memory (PSS) of this process and every descendant (the
    JVM and the Python workers) per lap, sampled from /proc while active."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self._lap = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        pss = tree_pss_bytes(os.getpid())
        with self._lock:
            self._lap = max(self._lap, pss)

    def _run(self):
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def lap(self) -> int:
        """The peak since the previous lap (or the start); starts the next."""
        self._sample()
        with self._lock:
            peak, self._lap = self._lap, 0
        return peak

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


def reap_descendants(timeout: float = 20.0) -> None:
    """Terminate whatever this process started that is still alive, and
    wait until it has gone."""
    deadline = time.time() + timeout
    sig = signal.SIGTERM
    while pids := descendants(os.getpid()):
        if time.time() > deadline:
            sig = signal.SIGKILL
        for pid in pids:
            with contextlib.suppress(ProcessLookupError, PermissionError):
                os.kill(pid, sig)
            with contextlib.suppress(ChildProcessError):
                os.waitpid(pid, os.WNOHANG)
        time.sleep(0.1)


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory spans: name, start, end and parent span. Each span tags
    the Spark jobs started inside it with ``layer:<name>``."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append({"name": name, "parent": parent, "start": time.time()})
        self._stack.append(idx)
        self.sc.setJobDescription(f"layer:{name}")
        try:
            yield
        finally:
            self.spans[idx]["end"] = time.time()
            self._stack.pop()
            up = self.spans[self._stack[-1]]["name"] if self._stack else None
            self.sc.setJobDescription(f"layer:{up}" if up else None)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

_PY_NODE = "ArrowEvalPython"


def _python_nodes(plan: dict):
    if plan["nodeName"].startswith(_PY_NODE):
        yield plan
    for child in plan.get("children", []):
        yield from _python_nodes(child)


class LayerStats:
    """Executor, Arrow-boundary and SQL-execution figures for one tag."""

    def __init__(self):
        self.cpu_s = self.gc_s = 0.0
        self.spill_bytes = self.shuffle_read = self.shuffle_write = 0
        self.py_run_s = 0.0
        self.py_to = self.py_from = self.py_rows = 0
        self.udf_stage_tasks: dict[int, list[float]] = defaultdict(list)
        self.exec_s = 0.0  # root SQL executions with a Python node
        self.other_exec_s = 0.0  # root SQL executions without one

    def task_skew(self) -> float:
        skews = [
            max(d) / statistics.median(d)
            for d in self.udf_stage_tasks.values()
            if d and statistics.median(d) > 0
        ]
        return statistics.median(skews) if skews else 1.0


def fold_event_log(path: str) -> dict[str, LayerStats]:
    """Per ``layer:<name>`` tag: task metrics summed over the tag's jobs,
    ArrowEvalPython SQL metrics (time in and bytes to/from the Python
    workers, rows entering them), UDF-stage task durations and SQL
    execution wall times."""
    stage_tag: dict[int, str] = {}
    py_acc: dict[int, tuple[int, str]] = {}  # accumulator -> (execution, metric)
    py_nodes: dict[int, int] = defaultdict(int)  # execution -> Python nodes
    execs: dict[int, dict] = {}
    stats: dict[str, LayerStats] = defaultdict(LayerStats)
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                tag = (e.get("Properties") or {}).get("spark.job.description") or ""
                for s in e["Stage IDs"]:
                    stage_tag[s] = tag
            elif ev.endswith("SQLExecutionStart") or ev.endswith("SQLAdaptiveExecutionUpdate"):
                xid = e["executionId"]
                nodes = list(_python_nodes(e["sparkPlanInfo"]))
                py_nodes[xid] = max(py_nodes[xid], len(nodes))
                for node in nodes:
                    for m in node["metrics"]:
                        py_acc[m["accumulatorId"]] = (xid, m["name"])
                if ev.endswith("SQLExecutionStart"):
                    execs[xid] = {
                        "tag": e.get("description") or "",
                        "root": e.get("rootExecutionId", xid),
                        "start": e["time"],
                    }
            elif ev.endswith("SQLExecutionEnd"):
                if e["executionId"] in execs:
                    execs[e["executionId"]]["end"] = e["time"]
            elif ev == "SparkListenerTaskEnd":
                st = stats[stage_tag.get(e["Stage ID"], "")]
                m = e.get("Task Metrics") or {}
                st.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                st.gc_s += m.get("JVM GC Time", 0) / 1e3
                st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
                rd = m.get("Shuffle Read Metrics") or {}
                st.shuffle_read += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                st.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                info = e["Task Info"]
                touched_python = False
                for acc in info.get("Accumulables", []):
                    hit = py_acc.get(acc["ID"])
                    if hit is None:
                        continue
                    touched_python = True
                    xid, name = hit
                    v = int(acc.get("Update", 0))
                    if name == "time to run Python workers":
                        st.py_run_s += v / 1e3
                    elif name == "data sent to Python workers":
                        st.py_to += v
                    elif name == "data returned from Python workers":
                        st.py_from += v
                    elif name == "number of output rows":
                        # every Python node of a plan sees the same rows
                        st.py_rows += v / max(py_nodes[xid], 1)
                if touched_python:
                    st.udf_stage_tasks[e["Stage ID"]].append(
                        info["Finish Time"] - info["Launch Time"]
                    )
    has_python = {x["root"] for xid, x in execs.items() if py_nodes[xid]}
    for xid, x in execs.items():
        if x["root"] != xid or "end" not in x:
            continue
        secs = (x["end"] - x["start"]) / 1e3
        if xid in has_python:
            stats[x["tag"]].exec_s += secs
        else:
            stats[x["tag"]].other_exec_s += secs
    return stats

