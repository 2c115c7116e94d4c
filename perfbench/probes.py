"""Outside-in collectors for the benchmark.

Nothing here touches the program under test: CPU and memory come from
`/proc` for the Spark JVM and every process that descends from it (the
PySpark daemon and its workers), Spark's own accounting comes from the
status store through the driver UI's REST API on loopback, and spans
are kept in memory by `Tracer` and written once when the run ends.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time
import urllib.request

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _read_stat(pid: int) -> tuple[str, int, int, int] | None:
    """(comm, ppid, own cpu ticks, reaped-children cpu ticks), or None
    if the process is gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            data = f.read()
    except OSError:
        return None
    # comm may contain spaces and parentheses: split at the LAST ')'
    comm = data[data.index(b"(") + 1 : data.rindex(b")")].decode(errors="replace")
    fields = data[data.rindex(b")") + 2 :].split()
    # fields[0] is /proc field 3 (state): ppid=4, utime..cstime=14..17
    return comm, int(fields[1]), int(fields[11]) + int(fields[12]), int(fields[13]) + int(fields[14])


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except OSError:
        return 0


class ProcessTree:
    """The JVM rooted at `root_pid` plus all of its descendants."""

    def __init__(self, root_pid: int) -> None:
        self.root = root_pid

    def _stats(self) -> dict[int, tuple[str, int, int, int]]:
        stats = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _read_stat(int(name))
                if st is not None:
                    stats[int(name)] = st
        members = {self.root} if self.root in stats else set()
        grew = True
        while grew:
            grew = False
            for pid, st in stats.items():
                if pid not in members and st[1] in members:
                    members.add(pid)
                    grew = True
        return {pid: stats[pid] for pid in members}

    def cpu_seconds(self) -> tuple[float, float]:
        """(JVM, Python) CPU seconds so far. The JVM is every `java`
        process's own time; the rest of the tree's own time, and the
        time of children the tree has already reaped (exited Python
        workers), is Python time."""
        jvm = py = 0
        for comm, _ppid, own, reaped in self._stats().values():
            if comm == "java":
                jvm += own
            else:
                py += own
            py += reaped
        return jvm / _TICK, py / _TICK

    def rss_bytes(self) -> tuple[int, int]:
        """(JVM, Python) resident bytes."""
        jvm = py = 0
        for pid, (comm, *_rest) in self._stats().items():
            if comm == "java":
                jvm += _rss_bytes(pid)
            else:
                py += _rss_bytes(pid)
        return jvm, py


class RssSampler:
    """Samples the tree's resident memory on a background thread;
    `peaks()` returns the largest (JVM, Python) totals seen since the
    last `reset()`."""

    def __init__(self, tree: ProcessTree, interval_s: float = 0.1) -> None:
        self._tree = tree
        self._interval = interval_s
        self._peaks = (0, 0)
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        while not self._stop.wait(self._interval):
            self.sample()

    def sample(self) -> None:
        jvm, py = self._tree.rss_bytes()
        with self._lock:
            self._peaks = (max(self._peaks[0], jvm), max(self._peaks[1], py))

    def reset(self) -> None:
        with self._lock:
            self._peaks = (0, 0)
        self.sample()

    def peaks(self) -> tuple[int, int]:
        self.sample()
        with self._lock:
            return self._peaks


@contextlib.contextmanager
def job_group(sc, group: str):
    """Tag every Spark job started inside the block with `group`."""
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


# formatted SQL-metric units → multiplier to seconds / bytes
_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
}


def parse_sql_metric(value: str) -> float:
    """Spark renders SQL metrics as text: '1,000', or for timing and
    size metrics 'total (min, med, max ...)\\n9.6 s (286 ms, ...)'.
    Returns the total in seconds, bytes or plain count."""
    line = value.strip().splitlines()[-1]
    parts = line.replace(",", "").split()
    number = float(parts[0])
    if len(parts) > 1 and parts[1] in _UNITS:
        number *= _UNITS[parts[1]]
    return number


class SparkStatus:
    """Reads the live application's status store through the UI REST
    API on loopback, scoped to one job group at a time."""

    PYTHON_NODE_METRICS = {
        "time to start Python workers": "py_boot_s",
        "time to initialize Python workers": "py_init_s",
        "time to run Python workers": "py_run_s",
        "data sent to Python workers": "py_bytes_sent",
        "data returned from Python workers": "py_bytes_returned",
    }

    def __init__(self, sc) -> None:
        if not sc.uiWebUrl:
            raise RuntimeError("the Spark UI is disabled; the status store is unreachable")
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self._base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
        self._sc = sc
        self.raw: list[dict] = []

    def _get(self, path: str):
        with urllib.request.urlopen(self._base + path, timeout=30) as resp:
            return json.load(resp)

    def drain(self) -> None:
        """Block until the listener bus has delivered every event, so the
        store reflects the jobs that just finished."""
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()

    def _jobs(self, group: str) -> list[dict]:
        return [j for j in self._get("/jobs") if j.get("jobGroup") == group]

    def group_totals(self, group: str) -> dict[str, float]:
        """Stage totals over every job in `group` (skipped stages add 0)."""
        self.drain()
        jobs = self._jobs(group)
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        stages = [s for s in self._get("/stages") if s["stageId"] in stage_ids]
        total = lambda key: sum(s.get(key, 0) for s in stages)  # noqa: E731
        return {
            "jobs": len(jobs),
            "tasks": total("numCompleteTasks"),
            "failed_tasks": total("numFailedTasks"),
            "executor_run_s": total("executorRunTime") / 1e3,
            "jvm_cpu_s": total("executorCpuTime") / 1e9,
            "gc_s": total("jvmGcTime") / 1e3,
            "shuffle_write_bytes": total("shuffleWriteBytes"),
            "shuffle_read_bytes": total("shuffleReadBytes"),
            "spill_bytes": total("memoryBytesSpilled") + total("diskBytesSpilled"),
            "input_bytes": total("inputBytes"),
            "output_bytes": total("outputBytes"),
        }

    def python_node_totals(self, group: str) -> dict[str, float]:
        """MapInArrow (and other Python-node) SQL metrics summed over the
        SQL executions whose jobs belong to `group`. The rendered values
        are kept in `self.raw` for the trace file."""
        self.drain()
        job_ids = {j["jobId"] for j in self._jobs(group)}
        out = dict.fromkeys(self.PYTHON_NODE_METRICS.values(), 0.0)
        # the endpoint pages at 20 executions unless told otherwise
        for ex in self._get("/sql?details=true&planDescription=false&offset=0&length=1000000"):
            ex_jobs = set(ex.get("successJobIds", [])) | set(ex.get("failedJobIds", []))
            if not ex_jobs & job_ids:
                continue
            for node in ex.get("nodes", []):
                for m in node.get("metrics", []):
                    key = self.PYTHON_NODE_METRICS.get(m["name"])
                    if key:
                        out[key] += parse_sql_metric(m["value"])
                        self.raw.append({"group": group, "node": node["nodeName"], **m})
        return out


class Tracer:
    """In-memory spans: name, start, end and the span that caused it."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.notes: dict = {}  # extra records for the trace file
        self._stack: list[int] = []
        self._origin = time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter() - self._origin,
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._origin
            self._stack.pop()

    def duration(self, rec: dict) -> float:
        return rec["end"] - rec["start"]

    def total(self, name: str, within: dict | None = None) -> float:
        """Summed duration of every span called `name` (optionally only
        those that descend from `within`)."""
        return sum(self.duration(s) for s in self.named(name, within))

    def named(self, name: str, within: dict | None = None) -> list[dict]:
        found = [s for s in self.spans if s["name"] == name and s["end"] is not None]
        if within is None:
            return found
        return [s for s in found if self._descends(s, within["id"])]

    def _descends(self, rec: dict, ancestor: int) -> bool:
        parent = rec["parent"]
        while parent is not None:
            if parent == ancestor:
                return True
            parent = self.spans[parent]["parent"]
        return False

    @contextlib.contextmanager
    def patched(self, targets: list[tuple[object, str, str]]):
        """Wrap `owner.attr` in a span called `name` for each target, for
        the duration of the block. The program's code is not edited:
        the wrapper is installed on the module or class attribute that
        the program looks up at call time."""
        saved = []
        for owner, attr, name in targets:
            original = getattr(owner, attr)
            saved.append((owner, attr, original))
            setattr(owner, attr, self._wrap(original, name))
        try:
            yield
        finally:
            for owner, attr, original in reversed(saved):
                setattr(owner, attr, original)

    def _wrap(self, fn, name: str):
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    def dump(self, path: str, extra: dict) -> None:
        """Write every span with its self time (duration minus the part
        covered by its children) plus `extra` as one JSON file."""
        child_time: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child_time[s["parent"]] = child_time.get(s["parent"], 0.0) + self.duration(s)
        spans = [
            {**s, "self_s": (self.duration(s) - child_time.get(s["id"], 0.0)) if s["end"] is not None else None}
            for s in self.spans
        ]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as f:
            json.dump({**extra, "spans": spans}, f, indent=1)
