"""Shared machinery of the benchmark: statistics, spans, process-tree memory,
host health, Spark session set-up and the parsers for Spark's own records.

Nothing here imports pyspark at module level, so the unit tests and the stub
fleet process can import it without a JVM.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK = os.path.join(ROOT, ".perfbench_work")

LANES = ("jvm", "arrow", "iterative")


# --- statistics ----------------------------------------------------------------

def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (numpy's default), q in [0, 100]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def beyond(values: list[float], q: float) -> int:
    """How many samples lie strictly above the q-th percentile."""
    cut = percentile(values, q)
    return sum(1 for v in values if v > cut)


def median(values: list[float]) -> float:
    return statistics.median(values)


# --- spans ---------------------------------------------------------------------

class Tracer:
    """In-memory spans around calls into the program's layers.

    A span is (id, name, start, end, parent, run id); ``enabled=False`` makes
    ``span`` a bare pass-through so untraced runs pay nothing."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None, "run": self.run_id}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[str, float]:
    """Seconds per span name, each span's duration minus the part of it
    that its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict[str, float] = {}
    for s in spans:
        own = (s["end"] - s["start"]) - _union_length(children.get(s["id"], []))
        out[s["name"]] = out.get(s["name"], 0.0) + own
    return out


def explained_share(spans: list[dict], root: dict) -> float:
    """Share of the ``root`` span's wall time covered by its direct children."""
    kids = [(s["start"], s["end"]) for s in spans if s["parent"] == root["id"]]
    return _union_length(kids) / max(root["end"] - root["start"], 1e-9)


# --- process tree memory and host health -----------------------------------------

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def _pss_bytes(pid: int) -> int:
    """Proportional set size: pages shared by forked Python workers are
    split between them instead of counted once per process."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def tree_pids(root: int, exclude: set[int]) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in exclude:
            continue
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


class RssSampler:
    """Peak resident memory of this process's tree (driver, JVM, Python
    workers) as summed PSS, sampled on a background thread; ``exclude``
    drops the stub fleet."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.exclude: set[int] = set()
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval_s)

    def sample(self) -> None:
        total = sum(_pss_bytes(p) for p in tree_pids(os.getpid(), self.exclude))
        self.peak = max(self.peak, total)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()


PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Make processes that lose their parent (Python workers of a JVM that
    has exited) children of this process, so ``stop_descendants`` can find
    and wait for them. PySpark's JVM itself would only exit once it reads
    end-of-file on its stdin, after this interpreter has exited, so it too
    is left for ``stop_descendants``."""
    import ctypes

    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def stop_descendants(grace_s: float = 10.0) -> None:
    """Terminate every process below this one (the JVM shuts down cleanly on
    SIGTERM), kill what is left after ``grace_s`` and wait until each has
    ended."""
    import signal

    def alive() -> list[int]:
        _reap()
        return [p for p in tree_pids(os.getpid(), set()) if p != os.getpid()]

    for sig, wait_s in ((signal.SIGTERM, grace_s), (signal.SIGKILL, grace_s)):
        pids = alive()
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + wait_s
        while pids and time.monotonic() < deadline:
            time.sleep(0.05)
            pids = alive()
        if not pids:
            return


def _reap() -> None:
    """Collect the exit status of every child that has ended."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def cpu_times() -> dict[str, int]:
    with open("/proc/stat") as fh:
        parts = fh.readline().split()
    names = ["user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal"]
    return dict(zip(names, (int(x) for x in parts[1:9])))


def host_health(before: dict[str, int], after: dict[str, int]) -> dict[str, float]:
    """Load average at the end of the run and the share of CPU time stolen
    by the hypervisor during it."""
    total = sum(after.values()) - sum(before.values())
    steal = after["steal"] - before["steal"]
    with open("/proc/loadavg") as fh:
        load1 = float(fh.read().split()[0])
    return {"host.loadavg_1m": load1, "host.steal_frac": steal / total if total > 0 else 0.0}


# --- Spark session ---------------------------------------------------------------

# The driver JVM's heap: fixed at its maximum from the start, with a fixed
# young generation. G1 otherwise grows the heap and sizes the young
# generation by pause times, so on a shared VM the heap it touched, and with
# it peak memory, varied by 0.5-0.8 GB between runs of the same inputs.
DRIVER_MEM = "3g"
YOUNG_GEN = "512m"


def prepare_environment() -> None:
    """Environment every Spark JVM and Python worker of the run inherits:
    the checkout's package and the benchmark's modules on the worker module
    path, and every scratch file inside the checkout."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [ROOT, BENCH_DIR] + [p for p in os.environ.get("PYTHONPATH", "").split(":") if p]
    os.environ["PYTHONPATH"] = ":".join(dict.fromkeys(paths))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(WORK, "warehouse")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tmp
    # Every JVM, the spark-submit launcher included: temp files in the
    # checkout, no hsperfdata file under /tmp, and the young generation.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xmn{YOUNG_GEN}"
    # The initial heap goes to the driver only: the launcher JVM runs with a
    # 128 MB maximum and would refuse it.
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Xms{DRIVER_MEM} "
        f"--conf spark.executorEnv.PYTHONPATH={os.environ['PYTHONPATH']} pyspark-shell"
    )


def start_session(cores: int, event_log_dir: str | None = None):
    """Start the program's own session (``syscol_spark.session.get_session``)
    on local[cores]; with ``event_log_dir`` Spark writes its JSON event log
    there. Settings reach the JVM as system properties, which every later
    SparkContext in the same JVM also reads."""
    from pyspark import SparkContext

    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    jvm = SparkContext._jvm  # noqa: SLF001
    if jvm is not None:
        props = jvm.java.lang.System
        for k, v in _event_log_conf(event_log_dir).items():
            props.setProperty(k, v)
    else:
        conf = "".join(f"--conf {k}={v} " for k, v in _event_log_conf(event_log_dir).items())
        os.environ["PYSPARK_SUBMIT_ARGS"] = conf + os.environ["PYSPARK_SUBMIT_ARGS"]
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
    from syscol_spark.session import get_session

    return get_session("perfbench")


def _event_log_conf(event_log_dir: str | None) -> dict[str, str]:
    if not event_log_dir:
        return {"spark.eventLog.enabled": "false"}
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + event_log_dir,
        "spark.eventLog.rolling.enabled": "false",
        "spark.eventLog.compress": "false",
    }


# --- Spark's own records ----------------------------------------------------------

STREAM_PHASES = ("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset")


def parse_progress(p: dict) -> dict:
    """One ``StreamingQueryProgress`` JSON → the fields the benchmark uses.
    Offsets of the metrics source are ``{"tick": n}``; the first batch has
    no start offset."""

    def tick(off):
        if off is None:
            return None
        if isinstance(off, str):
            off = json.loads(off)
        return int(off["tick"])

    src = p["sources"][0] if p.get("sources") else {}
    dur = p.get("durationMs", {})
    return {
        "batch_id": int(p["batchId"]),
        "start_tick": tick(src.get("startOffset")),
        "end_tick": tick(src.get("endOffset")),
        "rows": int(p.get("numInputRows", 0)),
        "trigger_ms": float(dur.get("triggerExecution", 0)),
        **{k: float(dur.get(k, 0)) for k in STREAM_PHASES},
    }


def parse_event_log(lines) -> dict:
    """Aggregate a Spark JSON event log into per-job-group totals.

    Returns {"jobs": {job_id: group}, "groups": {group: totals}} where totals
    hold jobs, stages, tasks, run_s (executor run time), cpu_s, gc_s,
    shuffle_write_bytes, fetch_wait_s, spill_bytes, result_bytes and
    python_s (the Python UDF / worker time SQL metrics)."""
    job_group: dict[int, str] = {}
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = {}

    def totals(g: str) -> dict:
        return groups.setdefault(g, {
            "jobs": 0, "stages": 0, "tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
            "shuffle_write_bytes": 0, "fetch_wait_s": 0.0, "spill_bytes": 0,
            "result_bytes": 0, "python_s": 0.0})

    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            g = props.get("spark.jobGroup.id") or "none"
            job_group[ev["Job ID"]] = g
            t = totals(g)
            t["jobs"] += 1
            for st in ev.get("Stage Infos", []):
                stage_group[st["Stage ID"]] = g
        elif kind == "SparkListenerStageCompleted":
            g = stage_group.get(ev["Stage Info"]["Stage ID"])
            if g is not None:
                totals(g)["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            g = stage_group.get(ev["Stage ID"])
            if g is None:
                continue
            t = totals(g)
            t["tasks"] += 1
            m = ev.get("Task Metrics") or {}
            t["run_s"] += m.get("Executor Run Time", 0) / 1e3
            t["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            t["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            t["result_bytes"] += m.get("Result Size", 0)
            t["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            t["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            t["fetch_wait_s"] += (m.get("Shuffle Read Metrics") or {}).get("Fetch Wait Time", 0) / 1e3
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                if acc.get("Name") == PYTHON_RUN_METRIC and acc.get("Update") is not None:
                    t["python_s"] += float(acc["Update"]) / 1e3
    return {"jobs": job_group, "groups": groups}


# Spark's SQL metric for the wall time of Python workers inside a task (ms);
# it covers the Python data source, pandas UDFs and mapInPandas alike.
PYTHON_RUN_METRIC = "time to run Python workers"


def read_event_logs(event_log_dir: str) -> list[str]:
    lines: list[str] = []
    for name in sorted(os.listdir(event_log_dir)):
        path = os.path.join(event_log_dir, name)
        if os.path.isfile(path):
            with open(path) as fh:
                lines.extend(fh)
    return lines


def merge_groups(groups: dict[str, dict], keep) -> dict:
    """Sum the totals of every job group for which ``keep(group)`` holds."""
    out: dict[str, float] = {}
    for g, t in groups.items():
        if keep(g):
            for k, v in t.items():
                out[k] = out.get(k, 0) + v
    return out
