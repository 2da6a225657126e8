"""Observation from outside the program: spans around each layer's public
functions, ``/proc`` counters of the JVM and its Python workers, Spark's
status tracker and streaming listener, and the Spark event log.

Nothing here changes what the program computes. Spans are kept in memory
and folded when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import importlib
import inspect
import itertools
import json
import os
import pkgutil
import sys
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

PACKAGE = "mlb_win_predictor_spark"
_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


# ---------------------------------------------------------------- spans


class Spans:
    """In-memory spans (id, layer, name, start, end, parent, run id).

    ``install`` wraps every public function defined in each layer module
    and rebinds the module attribute and every name other package modules
    imported it under, so both top-level and call-time imports reach the
    wrapper. Spans opened on a thread with no open span (the streaming
    ``foreachBatch`` thread) take the current entry span as parent."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.records: list[tuple] = []  # (id, layer, name, start, end, parent)
        self.entry_span: int | None = None
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def open(self, layer: str, name: str) -> tuple[int, int | None, float]:
        st = self._stack()
        parent = st[-1] if st else self.entry_span
        sid = next(self._ids)
        st.append(sid)
        return sid, parent, time.perf_counter()

    def close(self, layer: str, name: str, opened: tuple[int, int | None, float]) -> None:
        sid, parent, start = opened
        self._stack().pop()
        self.records.append((sid, layer, name, start, time.perf_counter(), parent))

    def _wrap(self, layer: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            opened = self.open(layer, fn.__name__)
            try:
                return fn(*args, **kwargs)
            finally:
                self.close(layer, fn.__name__, opened)

        return traced

    def install(self, layers: dict[str, str]) -> None:
        pkg = importlib.import_module(PACKAGE)
        for info in pkgutil.walk_packages(pkg.__path__, PACKAGE + "."):
            importlib.import_module(info.name)
        wrappers: dict[int, tuple[object, object]] = {}
        for layer, modname in layers.items():
            mod = sys.modules[modname]
            for name, obj in vars(mod).items():
                # top-level defs only: codec closures a factory returns keep
                # their ``<locals>`` qualname and must still pickle by value
                if (
                    inspect.isfunction(obj)
                    and obj.__module__ == modname
                    and obj.__qualname__ == name
                    and not name.startswith("_")
                ):
                    wrappers[id(obj)] = (obj, self._wrap(layer, obj))
        for modname, mod in list(sys.modules.items()):
            if mod is None or not (
                modname == PACKAGE
                or modname.startswith(PACKAGE + ".")
                or modname == "__spark_entry__"
            ):
                continue
            for attr, val in list(vars(mod).items()):
                hit = wrappers.get(id(val))
                if hit is not None and hit[0] is val:
                    setattr(mod, attr, hit[1])
                    self._patched.append((mod, attr, val))

    def uninstall(self) -> None:
        for mod, attr, orig in reversed(self._patched):
            setattr(mod, attr, orig)
        self._patched.clear()

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the union of its child spans."""
        children: dict[int, list[tuple[float, float]]] = {}
        for sid, _l, _n, start, end, parent in self.records:
            if parent is not None:
                children.setdefault(parent, []).append((start, end))
        out = {}
        for sid, _l, _n, start, end, _p in self.records:
            covered, cur_s, cur_e = 0.0, None, None
            for cs, ce in sorted(children.get(sid, [])):
                cs, ce = max(cs, start), min(ce, end)
                if ce <= cs:
                    continue
                if cur_e is None or cs > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = cs, ce
                else:
                    cur_e = max(cur_e, ce)
            if cur_e is not None:
                covered += cur_e - cur_s
            out[sid] = (end - start) - covered
        return out

    @contextlib.contextmanager
    def entry(self, name: str):
        """An entry span: the parent of every span its calls open."""
        self.entry_span = None
        opened = self.open("entry", name)
        self.entry_span = opened[0]
        try:
            yield opened[0]
        finally:
            self.close("entry", name, opened)
            self.entry_span = None

    def fold(self, entry_ids: set[int]) -> dict[tuple[str, str], tuple[int, float]]:
        """(layer, function) -> (calls, summed self time) over the spans
        under the given entry spans."""
        selfs = self.self_times()
        parent_of = {r[0]: r[5] for r in self.records}

        def root(sid: int) -> int:
            while parent_of.get(sid) is not None:
                sid = parent_of[sid]
            return sid

        out: dict[tuple[str, str], tuple[int, float]] = {}
        for sid, layer, name, *_ in self.records:
            if layer != "entry" and root(sid) in entry_ids:
                calls, secs = out.get((layer, name), (0, 0.0))
                out[(layer, name)] = (calls + 1, secs + selfs[sid])
        return out

    def dump(self, path: str) -> None:
        """Write every span, with its self time, as JSON lines."""
        selfs = self.self_times()
        with open(path, "w") as fh:
            for sid, layer, name, start, end, parent in self.records:
                fh.write(json.dumps({
                    "run": self.run_id, "id": sid, "layer": layer, "name": name,
                    "start": start, "end": end, "parent": parent, "self_s": selfs[sid],
                }) + "\n")


# ---------------------------------------------------------------- /proc


def _stat_fields(pid: int | str) -> list[str] | None:
    """Fields after the command of ``/proc/<pid>/stat`` (``pid`` may also
    be ``<pid>/task/<tid>``)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    return raw[raw.rindex(")") + 2 :].split()


def jit_cpu_s(pid: int) -> float:
    """CPU seconds of the JVM's JIT compiler threads."""
    ticks = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0.0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as fh:
                if not fh.read().startswith(("C1 Compiler", "C2 Compiler")):
                    continue
        except OSError:
            continue
        f = _stat_fields(f"{pid}/task/{tid}")
        if f is not None:
            ticks += int(f[11]) + int(f[12])
    return ticks / _CLK


class ProcTree:
    """CPU, RSS and write counters of the JVM and its descendants (the
    Python worker daemon and workers). CPU includes reaped children
    (cutime/cstime), so exited workers still count; steal never does.
    JVM CPU leaves out the JIT compiler threads, whose work is warm-up
    that goes on in the background for minutes; it is reported apart."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid

    def _descendants(self) -> list[int]:
        kids: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                f = _stat_fields(int(d))
                if f is not None:
                    kids.setdefault(int(f[1]), []).append(int(d))
        out, todo = [], list(kids.get(self.jvm_pid, []))
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(kids.get(pid, []))
        return out

    def pids(self) -> list[int]:
        return [self.jvm_pid, *self._descendants()]

    def snapshot(self) -> dict[str, float]:
        """jvm_cpu_s, jit_cpu_s, worker_cpu_s, rss_mb, write_bytes (cumulative)."""
        jit = jit_cpu_s(self.jvm_pid)
        jvm_cpu = worker_cpu = 0.0
        rss = 0
        for pid in self.pids():
            f = _stat_fields(pid)
            if f is None:
                continue
            cpu = sum(int(x) for x in f[11:15]) / _CLK
            if pid == self.jvm_pid:
                jvm_cpu = cpu
            else:
                worker_cpu += cpu
            rss += int(f[21]) * _PAGE
        return {
            "jvm_cpu_s": jvm_cpu - jit,
            "jit_cpu_s": jit,
            "worker_cpu_s": worker_cpu,
            "rss_mb": rss / 2**20,
            "write_bytes": float(_io_write_bytes(self.jvm_pid)),
        }


def rss_mb(pids: list[int]) -> float:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1])
        except (OSError, IndexError, ValueError):
            pass
    return total * _PAGE / 2**20


class PeakRss:
    """Peak RSS of a ``ProcTree``, read every ``interval`` seconds on a
    daemon thread (the process list is refreshed every fifth read)."""

    def __init__(self, proc: ProcTree, interval: float = 0.2):
        self._proc = proc
        self._interval = interval
        self._peak = 0.0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        pids: list[int] = []
        for tick in itertools.count():
            if tick % 5 == 0:
                pids = self._proc.pids()
            now = rss_mb(pids)
            with self._lock:
                self._peak = max(self._peak, now)
            if self._stop.wait(self._interval):
                return

    def take(self) -> float:
        """The peak since the previous call, in MB."""
        with self._lock:
            peak, self._peak = self._peak, 0.0
        return peak

    def close(self) -> None:
        self._stop.set()
        self._thread.join()


def _io_write_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/io") as fh:
            for line in fh:
                if line.startswith("write_bytes:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def steal_ticks() -> int:
    """Cumulative hypervisor steal ticks of the host (/proc/stat), or -1."""
    try:
        with open("/proc/stat") as fh:
            parts = fh.readline().split()
        return int(parts[8]) if parts[0] == "cpu" and len(parts) > 8 else -1
    except (OSError, ValueError):
        return -1


def loadavg() -> list[float]:
    try:
        return [round(x, 2) for x in os.getloadavg()]
    except OSError:
        return []


# ---------------------------------------------------------------- Spark


def jvm_gc_s(spark) -> float:
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1000.0


def tracker_counts(spark, groups: list[str]) -> dict[str, int]:
    """Jobs, stages, tasks and failed tasks of the given job groups, from
    the public status tracker. Stages skipped through shuffle reuse ran
    no tasks and are not counted."""
    st = spark.sparkContext.statusTracker()
    out = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0}
    for g in groups:
        for jid in st.getJobIdsForGroup(g):
            info = st.getJobInfo(jid)
            if info is None:
                continue
            out["jobs"] += 1
            for sid in info.stageIds:
                si = st.getStageInfo(sid)
                if si is None or si.numCompletedTasks + si.numFailedTasks == 0:
                    continue
                out["stages"] += 1
                out["tasks"] += si.numCompletedTasks + si.numFailedTasks
                out["failed_tasks"] += si.numFailedTasks
    return out


class StreamProgress(StreamingQueryListener):
    """Per-trigger ``durationMs`` and input rows, keyed by query run id.

    ``onQueryStarted`` runs synchronously inside ``start()``, so the tag
    read there is the entry sample that started the query."""

    def __init__(self, current_tag):
        self._current_tag = current_tag
        self.run_tags: dict[str, str] = {}
        self.progress: list[tuple[str, dict, int]] = []

    def onQueryStarted(self, event) -> None:
        self.run_tags[str(event.runId)] = self._current_tag()

    def onQueryProgress(self, event) -> None:
        p = event.progress
        self.progress.append((str(p.runId), dict(p.durationMs), int(p.numInputRows)))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


def read_event_log(log_dir: str, group_tag) -> dict[str, dict[str, float]]:
    """Task metrics from the Spark event log, summed per tag.

    ``group_tag`` maps a job group id to a tag (or None to skip the job).
    Stages map to the group of the first job of their file that lists them."""
    files = sorted(
        p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(p) and not p.endswith(".crc")
    )
    out: dict[str, dict[str, float]] = {}
    for path in files:
        stage_tag: dict[int, str] = {}  # one file per SparkContext; stage ids restart
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    tag = group_tag((ev.get("Properties") or {}).get("spark.jobGroup.id"))
                    if tag is not None:
                        for sid in ev.get("Stage IDs", []):
                            stage_tag.setdefault(sid, tag)
                elif kind == "SparkListenerTaskEnd":
                    tag = stage_tag.get(ev.get("Stage ID"))
                    tm = ev.get("Task Metrics")
                    if tag is None or not tm:
                        continue
                    acc = out.setdefault(tag, dict.fromkeys(
                        ("executor_run_s", "executor_cpu_s", "shuffle_read_bytes",
                         "shuffle_write_bytes", "spill_bytes"), 0.0))
                    sr = tm.get("Shuffle Read Metrics", {})
                    sw = tm.get("Shuffle Write Metrics", {})
                    acc["executor_run_s"] += tm.get("Executor Run Time", 0) / 1e3
                    acc["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                    acc["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    acc["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    acc["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
    return out
