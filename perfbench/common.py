"""Plumbing shared by the workloads: the Spark session the benchmark
drives, resource and host accounting, and the tracer that attributes
Spark jobs to the package's layers from outside the package."""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import sys
import threading
import time

PKG_DIR_MARK = os.sep + "etl_sendas_spark" + os.sep


def median(xs):
    return statistics.median(xs) if xs else 0.0


# ---------------------------------------------------------------------------
# host accounting
# ---------------------------------------------------------------------------

_CPU_FIELDS = ("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal")


def cpu_times() -> dict:
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:9]]
    return dict(zip(_CPU_FIELDS, vals))


class HostWatch:
    """loadavg and /proc/stat steal over an interval: on a shared VM
    the load can change under a run."""

    def __init__(self) -> None:
        self.load0 = os.getloadavg()[0]
        self.cpu0 = cpu_times()

    def report(self) -> dict:
        cpu1 = cpu_times()
        d = {k: cpu1[k] - self.cpu0[k] for k in _CPU_FIELDS}
        total = sum(d.values()) or 1
        return {
            "loadavg_1m_start": self.load0,
            "loadavg_1m_end": os.getloadavg()[0],
            "steal_pct": 100.0 * d["steal"] / total,
            "busy_pct": 100.0 * (total - d["idle"] - d["iowait"]) / total,
            "cores": os.cpu_count(),
        }


# ---------------------------------------------------------------------------
# resident memory of the driver, the JVM and the Python workers
# ---------------------------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _process_tree(root: int, exclude: frozenset = frozenset()) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; ppid follows the last ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in exclude:
            continue
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _rss_and_kind(pid: int, root: int) -> tuple[int, str]:
    try:
        with open(f"/proc/{pid}/statm") as f:
            rss = int(f.read().split()[1]) * _PAGE
        with open(f"/proc/{pid}/comm") as f:
            comm = f.read().strip()
    except OSError:
        return 0, "gone"
    if pid == root:
        return rss, "driver"
    return rss, "jvm" if comm == "java" else "workers"


class RssSampler:
    """Samples the RSS of this process and all its descendants (the
    JVM that spark-submit starts and the Python workers it forks), less
    the subtrees of ``exclude``: the benchmark's own helper processes."""

    def __init__(self, interval: float = 0.25, exclude=()) -> None:
        self.interval = interval
        self.root = os.getpid()
        self.exclude = frozenset(exclude)
        self.peak = 0
        self.peak_parts: dict[str, int] = {}
        self._stop = threading.Event()
        self._paused = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        parts: dict[str, int] = {}
        for pid in _process_tree(self.root, self.exclude):
            rss, kind = _rss_and_kind(pid, self.root)
            parts[kind] = parts.get(kind, 0) + rss
        total = sum(v for k, v in parts.items() if k != "gone")
        if total > self.peak:
            self.peak = total
            self.peak_parts = parts

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            if not self._paused.is_set():
                self.sample()

    @contextlib.contextmanager
    def paused(self):
        """No samples while the benchmark checks outputs: the peak
        covers the program's work, not the checks'."""
        self._paused.set()
        try:
            yield
        finally:
            self._paused.clear()

    def __enter__(self) -> "RssSampler":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    def children(self) -> list[int]:
        return _process_tree(self.root, self.exclude)[1:]

    def peak_mb(self, kind: str | None = None) -> float:
        v = self.peak if kind is None else self.peak_parts.get(kind, 0)
        return v / 2**20


def _child_main(conn, fn, args, niceness: int) -> None:
    os.nice(niceness)
    try:
        conn.send((True, fn(*args)))
    except Exception:  # noqa: BLE001 — handed to the parent
        import traceback

        conn.send((False, traceback.format_exc()))
    finally:
        conn.close()


class Background:
    """``fn(*args)`` in a forked child process, running while this one
    goes on; ``niceness`` 19 lets it take only idle CPU. Fork it before
    the JVM starts: fork is only safe before threads. Leave it out of
    the RSS by its ``pid``."""

    def __init__(self, fn, *args, niceness: int = 19) -> None:
        import multiprocessing

        ctx = multiprocessing.get_context("fork")
        self._conn, child_conn = ctx.Pipe(duplex=False)
        self.proc = ctx.Process(
            target=_child_main, args=(child_conn, fn, args, niceness), daemon=True
        )
        self.proc.start()
        child_conn.close()
        self.pid = self.proc.pid
        self._result = None

    def result(self):
        """Wait for the call and return its value; raise if it failed."""
        if self._result is None:
            try:
                self._result = self._conn.recv()
            except EOFError:
                self.proc.join()
                self._result = (False, f"the child exited with code {self.proc.exitcode}")
            self.proc.join()
        ok, value = self._result
        if not ok:
            raise RuntimeError(f"child process failed:\n{value}")
        return value

    def stop(self) -> None:
        """Stop the child if it still runs, and wait for it."""
        if self.proc.is_alive():
            self.proc.terminate()
        self.proc.join()
        self._conn.close()


def in_child(fn, *args):
    """``fn(*args)`` in a forked child process that has exited when this
    returns, so its memory never shows in the RSS of this process tree.
    Call it before the JVM starts."""
    child = Background(fn, *args, niceness=0)
    try:
        return child.result()
    finally:
        child.stop()


# ---------------------------------------------------------------------------
# Spark session
# ---------------------------------------------------------------------------


def jvm_counters(spark) -> dict:
    """Seconds the driver JVM has spent compiling (JIT) and collecting
    garbage so far, from its management beans."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    gc_ms = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
    return {
        "jvm.jit_s": mf.getCompilationMXBean().getTotalCompilationTime() / 1000,
        "jvm.gc_s": gc_ms / 1000,
    }


def start_spark(work: str):
    """The package's own session factory on local[<cores>], with every
    scratch directory inside ``work``."""
    from etl_sendas_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


# ---------------------------------------------------------------------------
# tracing
# ---------------------------------------------------------------------------


def package_call_site(frame) -> str | None:
    """``file:line`` of every package frame on the stack, outermost
    first, joined by ``>`` — None when the package is not on it."""
    sites = []
    while frame is not None:
        fn = frame.f_code.co_filename
        i = fn.find(PKG_DIR_MARK)
        if i >= 0:
            sites.append(f"{fn[i + len(PKG_DIR_MARK):]}:{frame.f_lineno}")
        frame = frame.f_back
    return ">".join(reversed(sites)) if sites else None


class Tracer:
    """Spans around the benchmark's calls into the package, and, while
    ``active``, the Spark jobs each call ran.

    Attribution works from outside the package: every span that wraps a
    public call sets its own Spark job group, and a py4j hook sets the
    Spark call site of each job to the chain of package frames
    (``file:line``) that submitted it, so a job's name says which line
    of which layer launched it. Stage metrics are read from the status
    store after the unit, outside its timed region."""

    def __init__(self, spark, hook: bool) -> None:
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._active = False
        self._restore = None
        self.hook_s = 0.0  # time spent setting call sites
        if hook:
            self._install_call_site_hook()

    @property
    def active(self) -> bool:
        return self._active

    @active.setter
    def active(self, on: bool) -> None:
        if on and self._restore is None:
            raise RuntimeError("tracing needs the call-site hook")
        if self._active and not on:
            self._clear_site()
        self._active = on

    # -- call sites ---------------------------------------------------

    def _install_call_site_hook(self) -> None:
        import py4j.java_gateway as jg

        jsc = self.spark.sparkContext._jsc
        local = threading.local()
        orig = jg.JavaMember.__call__

        def call(member, *args):
            if self._active and not getattr(local, "busy", False):
                t0 = time.perf_counter()
                site = package_call_site(sys._getframe(1))
                if site != getattr(local, "site", None):
                    set_site(site)
                self.hook_s += time.perf_counter() - t0
            return orig(member, *args)

        def set_site(site):
            local.busy = True
            try:
                jsc.setCallSite(site)
            finally:
                local.busy = False
            local.site = site

        jg.JavaMember.__call__ = call
        self._clear_site = lambda: set_site(None)

        def restore():
            jg.JavaMember.__call__ = orig

        self._restore = restore

    def close(self) -> None:
        if self._restore is not None:
            self.active = False
            self._restore()
            self._restore = None

    # -- spans ----------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str, unit: int | None = None, spark_call: bool = False):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "unit": unit,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        sc = self.spark.sparkContext
        if self._active and spark_call:
            rec["group"] = f"perfbench-{sid}"
            sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if "group" in rec:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def self_time(self, rec: dict) -> float:
        """Span duration minus the part its child spans cover."""
        kids = [s for s in self.spans if s["parent"] == rec["id"] and s["end"]]
        covered = _union([(s["start"], s["end"]) for s in kids])
        return (rec["end"] - rec["start"]) - covered

    # -- Spark jobs -----------------------------------------------------

    def jobs(self, rec: dict) -> list[dict]:
        """Completed jobs of a span's job group, with per-stage metrics."""
        if "group" not in rec:
            return []
        if "jobs" in rec:
            return rec["jobs"]
        from py4j.protocol import Py4JJavaError

        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        out = []
        tracker = sc.statusTracker()
        for jid in sorted(tracker.getJobIdsForGroup(rec["group"])):
            jd = store.job(jid)
            info = tracker.getJobInfo(jid)
            sub, done = jd.submissionTime(), jd.completionTime()
            job = {
                "id": jid,
                "site": jd.name(),
                "span": rec["name"],
                "start": sub.get().getTime() / 1000.0 if sub.isDefined() else None,
                "end": done.get().getTime() / 1000.0 if done.isDefined() else None,
                "stages": [],
            }
            for sid in info.stageIds if info else []:
                try:
                    s = store.lastStageAttempt(sid)
                except Py4JJavaError:  # a skipped stage has no attempt
                    continue
                if s.status().toString() != "COMPLETE":
                    continue
                st = {
                    "id": sid,
                    "run_ms": s.executorRunTime(),
                    "cpu_ns": s.executorCpuTime(),
                    "in_bytes": s.inputBytes(),
                    "in_rows": s.inputRecords(),
                    "out_bytes": s.outputBytes(),
                    "out_rows": s.outputRecords(),
                    "shuffle_read_rows": s.shuffleReadRecords(),
                    "shuffle_write": s.shuffleWriteBytes(),
                    "spill": s.memoryBytesSpilled() + s.diskBytesSpilled(),
                    "tasks": s.numTasks(),
                }
                job["stages"].append(st)
            out.append(job)
        rec["jobs"] = out
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s, default=str) + "\n")


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def layer_totals(jobs: list[dict], layer_of) -> dict:
    """Sum job and stage metrics per layer; ``layer_of(job)`` names the
    layer of a job. ``wall_s`` is the union of the layer's job
    intervals, so overlapping jobs are not counted twice."""
    acc: dict[str, dict] = {}
    spans: dict[str, list] = {}
    for j in jobs:
        layer = layer_of(j)
        t = acc.setdefault(
            layer,
            {"jobs": 0, "tasks": 0, "busy_s": 0.0, "cpu_s": 0.0, "in_bytes": 0,
             "in_rows": 0, "out_bytes": 0, "out_rows": 0, "shuffle_write": 0,
             "spill": 0, "sites": set()},
        )
        t["jobs"] += 1
        t["sites"].add(j["site"])
        if j["start"] is not None and j["end"] is not None:
            spans.setdefault(layer, []).append((j["start"], j["end"]))
        for s in j["stages"]:
            t["tasks"] += s["tasks"]
            t["busy_s"] += s["run_ms"] / 1000.0
            t["cpu_s"] += s["cpu_ns"] / 1e9
            for k in ("in_bytes", "in_rows", "out_bytes", "out_rows",
                      "shuffle_write", "spill"):
                t[k] += s[k]
    for layer, t in acc.items():
        t["wall_s"] = _union(spans.get(layer, []))
    return acc


def pinned_rows(jobs: list[dict]) -> int:
    """Rows of each materialization pin: what the last stage of the
    pin's last job read, summed over pins (one pin per call site)."""
    last: dict[str, dict] = {}
    for j in jobs:
        if j["stages"] and j["id"] >= last.get(j["site"], {"id": -1})["id"]:
            last[j["site"]] = j
    total = 0
    for j in last.values():
        s = max(j["stages"], key=lambda s: s["id"])
        total += s["in_rows"] + s["shuffle_read_rows"]
    return total
