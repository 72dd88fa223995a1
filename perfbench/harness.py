"""Measurement plumbing shared by the workloads: spans, percentiles, the
process-tree RSS sampler, Spark launch settings and the event-log reader.

Nothing here changes program code. Layer attribution comes from three
outside sources: spans opened in the benchmark around each call into a
layer, ``setJobGroup`` plus Spark's own JSON event log (enabled only in a
traced run, through the launch environment), and the streaming query's
``recentProgress``.
"""

from __future__ import annotations

import glob
import json
import os
import shlex
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

CPUS = 4


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def tail(xs, beyond: int = 10):
    """The highest percentile with at least ``beyond`` samples above it:
    the sorted sample at index ``n - beyond - 1``; None if there are too
    few samples to have one."""
    s = sorted(xs)
    return s[len(s) - beyond - 1] if len(s) > beyond else None


def launch_env(state_dir: str, repo_root: str, trace: bool) -> str:
    """Point everything Spark and Python write at ``state_dir``, make the
    package importable from Spark's Python workers whatever their working
    directory, and (traced run only) turn on Spark's JSON event log.
    Must run before the first Spark session starts. Returns the event-log
    directory."""
    tmp = os.path.join(state_dir, "tmp")
    local = os.path.join(state_dir, "spark-local")
    events = os.path.join(state_dir, "events")
    for d in (tmp, local, events):
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(CPUS),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(state_dir, "warehouse"),
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(
            p for p in (repo_root, os.environ.get("PYTHONPATH")) if p),
    })
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    # every JVM, the launcher's too: temp files under the state dir, and
    # no perf-data file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={tmp} "
                                       "-XX:-UsePerfData")
    args = ["--conf", f"spark.local.dir={local}"]
    if trace:
        args += ["--conf", "spark.eventLog.enabled=true",
                 "--conf", "spark.eventLog.compress=false",
                 "--conf", f"spark.eventLog.dir=file://{events}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])
    return events


def stop_jvm(timeout_s: float = 30.0) -> None:
    """Shut the Spark JVM down and wait until it and every other process
    this run started (Python workers) have exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    kids = _descendants(os.getpid())
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout_s)
            except Exception:  # noqa: BLE001 — escalate below
                proc.kill()
                proc.wait(timeout_s)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + timeout_s
    while kids and time.monotonic() < deadline:
        kids = [p for p in kids if os.path.exists(f"/proc/{p}")]
        time.sleep(0.05)
    for p in kids:
        try:
            os.kill(p, 9)
        except OSError:
            pass


# --------------------------------------------------------------------------
# spans
# --------------------------------------------------------------------------

@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None
    sid: int


class Tracer:
    """In-memory spans (name, start, end, parent, operation id). A
    disabled tracer records nothing and costs one branch per span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            sid = len(self.spans)
            sp = Span(name, time.perf_counter(), 0.0,
                      stack[-1] if stack else None, op, sid)
            self.spans.append(sp)
        stack.append(sid)
        try:
            yield
        finally:
            stack.pop()
            sp.end = time.perf_counter()

    def durations_ms(self, name: str) -> list[float]:
        return [(s.end - s.start) * 1e3 for s in self.spans if s.name == name]

    def self_ms(self) -> dict[str, float]:
        """Total self time per span name: each span's duration minus the
        part of it its children cover."""
        kids = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                kids[s.parent].append(s)
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            covered, edge = 0.0, s.start
            for c in sorted(kids[s.sid], key=lambda c: c.start):
                lo, hi = max(c.start, edge), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    edge = hi
            out[s.name] += (s.end - s.start - covered) * 1e3
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


# --------------------------------------------------------------------------
# peak resident memory of the driver process tree
# --------------------------------------------------------------------------

def _proc_children() -> dict[int, list[int]]:
    children = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children[ppid].append(int(d))
    return children


def _descendants(root: int) -> list[int]:
    children = _proc_children()
    out, todo = [], list(children.get(root, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo += children.get(p, [])
    return out


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            return next((int(ln.split()[1]) for ln in f
                         if ln.startswith("Pss:")), 0)
    except (OSError, ValueError):
        return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def _jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def tree_pss_kb() -> int:
    """Resident memory of this process and its descendants (the JVM, the
    Python worker daemon and its workers) as summed proportional set size,
    so pages shared between forked workers count once. A ``java`` process
    other than the JVM itself is a child caught between fork and exec,
    which shares the JVM's pages, and is skipped."""
    jvm = _jvm_pid()
    pids = [os.getpid()] + [p for p in _descendants(os.getpid())
                            if p == jvm or _comm(p) != "java"]
    return sum(_pss_kb(p) for p in pids)


class RssSampler:
    """Samples :func:`tree_pss_kb` every ``period_s`` and keeps the peak."""

    def __init__(self, period_s: float = 0.25):
        self.peak_kb = 0
        self._period = period_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self._period)

    def sample(self) -> None:
        self.peak_kb = max(self.peak_kb, tree_pss_kb())

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()


# --------------------------------------------------------------------------
# Spark event log
# --------------------------------------------------------------------------

@dataclass
class GroupTotals:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    gc_ms: int = 0
    descriptions: list = field(default_factory=list)


def read_event_log(events_dir: str, since_ms: float = 0
                   ) -> dict[str, GroupTotals]:
    """Per job group: jobs, stages, tasks, shuffle bytes written, bytes
    spilled (memory + disk) and JVM GC time of the jobs submitted at or
    after ``since_ms`` (epoch ms), from the JSON event log the traced run
    writes. Read it after the session stops, when the log is flushed and
    closed."""
    stage_group: dict[int, str] = {}
    out: dict[str, GroupTotals] = defaultdict(GroupTotals)
    paths = [p for p in glob.glob(os.path.join(events_dir, "**"),
                                  recursive=True) if os.path.isfile(p)]
    for path in sorted(paths, key=os.path.getmtime):
        stage_group.clear()  # stage ids restart with each application
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    if ev.get("Submission Time", 0) < since_ms:
                        continue
                    props = ev.get("Properties") or {}
                    g = props.get("spark.jobGroup.id") or "(none)"
                    t = out[g]
                    t.jobs += 1
                    t.descriptions.append(props.get("spark.job.description"))
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = g
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    if sid in stage_group and \
                            ev["Stage Info"].get("Number of Tasks"):
                        out[stage_group[sid]].stages += 1
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev.get("Stage ID"))
                    if g is None:
                        continue
                    m = ev.get("Task Metrics") or {}
                    t = out[g]
                    t.tasks += 1
                    t.shuffle_write_bytes += (m.get("Shuffle Write Metrics")
                                              or {}).get(
                        "Shuffle Bytes Written", 0)
                    t.spill_bytes += (m.get("Memory Bytes Spilled", 0)
                                      + m.get("Disk Bytes Spilled", 0))
                    t.gc_ms += m.get("JVM GC Time", 0)
    return dict(out)


@contextmanager
def job_group(spark, group: str):
    """Tag the Spark jobs run inside the block with ``group`` (traced
    operations only; plain ones leave the job properties alone)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def dir_stats(root: str) -> tuple[int, int, int]:
    """(data files, bytes, partition leaf directories) under ``root``,
    ignoring Hadoop's ``.crc`` and ``_SUCCESS`` side files."""
    files = nbytes = leaves = 0
    for dp, _dn, fn in os.walk(root):
        data = [f for f in fn if f.startswith("part-")]
        if data:
            leaves += 1
        files += len(data)
        nbytes += sum(os.path.getsize(os.path.join(dp, f)) for f in data)
    return files, nbytes, leaves
