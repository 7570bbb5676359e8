"""Shared machinery for the pipeline benchmark: the Spark session, the
span recorder, streaming progress capture, job counts, the event log and
memory sampling.

Everything here lives outside the engine package: layer timings come
from wrappers around the package's public functions, from Spark's
``StreamingQueryListener`` and ``statusTracker``, and from the Spark
event log.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import threading
import time
from collections import defaultdict


def nproc() -> int:
    return os.cpu_count() or 1


def host_mem_gb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // (1024 * 1024)
    return 4


def driver_memory() -> str:
    """A sixth of the host, between 1 and 8 GiB: the engine's own
    default (16g) would exceed a small host."""
    return f"{max(1, min(8, host_mem_gb() // 6))}g"


def driver_java_options(workdir: str) -> str:
    """JVM options of the Spark driver. The heap starts at its full size:
    without that, G1 still grows it to about its maximum within one run
    of either workload, but on a schedule that differs from run to run,
    and the peak memory of a run spread by 9-20 % (quartile distance ÷
    median over five seeds) and search latency with it. The driver's
    heap in use shows as ``jvm.heap_live_mb`` instead. Temporary files
    stay in the work directory."""
    return (f"-Xms{driver_memory()} -XX:-UsePerfData -Dderby.system.home={workdir}"
            f" -Djava.io.tmpdir={os.path.join(workdir, 'tmp')}")


def jvm_heap_live_mb(spark) -> float:
    """The driver's heap in use after a full collection: the data it
    retains, whatever the heap's size."""
    jvm = spark._jvm
    jvm.java.lang.System.gc()
    usage = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
    return usage.getUsed() / 2**20


def percentile(values, q: float) -> float:
    """Nearest-rank percentile (q in [0, 100]) of a non-empty sample."""
    s = sorted(values)
    if not s:
        raise ValueError("percentile of an empty sample")
    rank = max(1, min(len(s), int(-(-q * len(s) // 100))))
    return float(s[rank - 1])


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


# --- tracing ---------------------------------------------------------------


class Tracer:
    """Spans kept in memory and written out once, at the end.

    Wrappers are installed only on an ``active`` tracer (traced runs),
    so an untraced run calls the package's functions directly. An
    active tracer records only while ``enabled``, which lets a traced
    run measure an untraced pass with the wrappers in place."""

    def __init__(self, active: bool):
        self.active = active
        self.enabled = False
        self.spans: list[tuple[int, str, float, float, int | None]] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next_id = 0

    def span(self, name: str):
        return _Span(self, name)

    def count(self, name: str, n: float) -> None:
        if self.enabled:
            with self._lock:
                self.counts[name] += n

    def durations_ms(self, name: str, since: int = 0) -> list[float]:
        """Durations of the spans called ``name``, from the ``since``-th
        span recorded on."""
        return [(e - s) * 1000.0 for _, n, s, e, _ in self.spans[since:] if n == name]

    def p50_ms(self, name: str, since: int = 0) -> float:
        return median(self.durations_ms(name, since))

    def wrap(self, module, attr: str, span_name: str) -> None:
        """Replace ``module.attr`` with a timed wrapper (traced runs
        only). Callers inside the package that resolve the name through
        the module at call time are timed too."""
        setattr(module, attr, self.wrap_callable(getattr(module, attr), span_name))

    def wrap_callable(self, fn, span_name: str):
        if not self.active:
            return fn

        @functools.wraps(fn)
        def timed(*args, **kwargs):
            with self.span(span_name):
                return fn(*args, **kwargs)

        return timed

    def dump(self, path: str) -> None:
        """One JSON line per span: id, name, start, end (perf_counter
        seconds) and the id of the span it ran inside."""
        with open(path, "w") as f:
            for sid, name, s, e, parent in self.spans:
                f.write(json.dumps(
                    {"id": sid, "name": name, "start": s, "end": e, "parent": parent}
                ) + "\n")


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer = tracer
        self.name = name

    def __enter__(self):
        t = self.tracer
        # decided once: a span open when recording is switched on or
        # off is either recorded whole or not at all
        self.recording = t.enabled
        if self.recording:
            stack = getattr(t._local, "stack", None)
            if stack is None:
                stack = t._local.stack = []
            with t._lock:
                self.id = t._next_id
                t._next_id += 1
            self.parent = stack[-1] if stack else None
            stack.append(self.id)
        self.start = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.end = time.perf_counter()
        if self.recording:
            t = self.tracer
            t._local.stack.pop()
            with t._lock:
                t.spans.append((self.id, self.name, self.start, self.end, self.parent))
        return False


# --- memory ----------------------------------------------------------------


def _tree_pids(root: int, exclude: set[int]) -> list[int]:
    """``root`` and all its descendants (JVM, Python workers), less the
    subtrees rooted at ``exclude``."""
    children: dict[int, list[int]] = defaultdict(list)
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children[ppid].append(int(stat.split("/")[2]))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in exclude:
            continue
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _tree_pss_kb(root: int, exclude: set[int]) -> int:
    """Proportional set size of the process tree: a page shared by
    several processes (forked Python workers share their parent's) is
    split between them instead of counted in each."""
    total = 0
    for pid in _tree_pids(root, exclude):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
    return total


class RssSampler:
    """Peak memory of this process tree (proportional set size), sampled
    every ``PERIOD`` s. Reading a process's page-table summary briefly
    blocks its memory operations; sampling four times a second slowed
    the dashboard workload by about 15 %. The benchmark's own helper
    processes (the ES stand-in, the generator) go into ``exclude``: they
    are not the program under test."""

    PERIOD = 2.0

    def __init__(self):
        self.peak_kb = 0
        self.exclude: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _tree_pss_kb(os.getpid(), self.exclude))
            self._stop.wait(self.PERIOD)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self.stop()
        return False

    def stop(self) -> None:
        """Take a last sample and stop; later calls do nothing. Called
        when the measured window ends, so the benchmark's own checks
        afterwards do not count."""
        if not self._stop.is_set():
            self._stop.set()
            self._thread.join(timeout=5)
            self.peak_kb = max(self.peak_kb, _tree_pss_kb(os.getpid(), self.exclude))

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


# --- processes -------------------------------------------------------------

_PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Adopt every orphaned descendant (Linux ``PR_SET_CHILD_SUBREAPER``).

    The JVM starts Python worker daemons that outlive it by a moment,
    and the helper processes could outlive a failed run; as a subreaper
    this process inherits all of them, so ``stop_all_children`` can
    find, stop and reap each one before the benchmark exits."""
    import ctypes

    try:
        libc = ctypes.CDLL(None, use_errno=True)
        libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def _child_pids() -> list[int]:
    """Direct children of this process, from ``/proc``."""
    me = os.getpid()
    out = []
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        if ppid == me:
            out.append(int(stat.split("/")[2]))
    return out


def _reap() -> None:
    """Collect the exit status of every child that has ended."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_spark_jvm(timeout: float = 30.0) -> None:
    """Stop the active Spark session, if any, then its JVM: closing the
    JVM's standard input makes it exit; wait for it to end."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        try:
            sc.stop()
        except Exception:  # noqa: BLE001 - the JVM is stopped below regardless
            pass
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:  # noqa: BLE001 - the JVM may already be gone
            pass
    if proc is None:
        return
    try:
        if proc.stdin is not None:
            proc.stdin.close()
        proc.wait(timeout=timeout)
    except Exception:  # noqa: BLE001 - kill it if it does not exit by itself
        proc.kill()
        proc.wait(timeout=timeout)
    SparkContext._gateway = None
    SparkContext._jvm = None


def stop_all_children(grace: float = 15.0) -> None:
    """End every process this one started, directly or not, and wait
    for each: the Spark JVM first (cleanly), then whatever is left
    (SIGTERM, then SIGKILL after ``grace`` s). Descendants whose parent
    has ended are children here (``become_subreaper``)."""
    import signal
    import sys

    if "pyspark" in sys.modules:
        try:
            stop_spark_jvm()
        except Exception:  # noqa: BLE001 - the sweep below still ends it
            pass
    deadline = time.time() + grace
    sent_term = False
    while time.time() < deadline + grace:
        _reap()
        pids = _child_pids()
        if not pids:
            return
        sig = signal.SIGKILL if time.time() > deadline else signal.SIGTERM
        if sig == signal.SIGKILL or not sent_term:
            for pid in pids:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            sent_term = True
        time.sleep(0.05)


# --- Spark -----------------------------------------------------------------


def start_spark(workdir: str, cores: int, trace: bool, app: str):
    """The engine's session factory on ``local[cores]`` with host-sized
    driver memory; traced runs also write the Spark event log."""
    from kafka_cdc_elasticsearch_pipeline_spark.session import get_spark

    extra = {
        "spark.driver.memory": driver_memory(),
        "spark.local.dir": os.path.join(workdir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        "spark.driver.extraJavaOptions": driver_java_options(workdir),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        logdir = os.path.join(workdir, "eventlog")
        os.makedirs(logdir, exist_ok=True)
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": logdir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        })
    spark = get_spark(app, master=f"local[{cores}]", extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_python_workers(spark) -> None:
    """Start the Python worker pool once so the first measured batch
    does not pay worker spawn."""
    n = spark.sparkContext.defaultParallelism
    spark.sparkContext.parallelize(range(n * 4), n).map(lambda x: x).count()


def shuffle_bytes_from_event_log(workdir: str, job_groups: set[str]) -> float:
    """Shuffle bytes written by the jobs of ``job_groups`` (streaming
    queries run their jobs under their run id), summed over the event
    log's task-end events. Call after the session has stopped: the log
    is flushed then."""
    stages: set[int] = set()
    total = 0
    for path in sorted(glob.glob(os.path.join(workdir, "eventlog", "**"), recursive=True)):
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for line in f:
                if '"SparkListenerJobStart"' in line:
                    ev = json.loads(line)
                    group = ev.get("Properties", {}).get("spark.jobGroup.id")
                    if group in job_groups:
                        stages.update(ev.get("Stage IDs", []))
                elif '"SparkListenerTaskEnd"' in line:
                    ev = json.loads(line)
                    if ev.get("Stage ID") not in stages:
                        continue
                    sw = ev.get("Task Metrics", {}).get("Shuffle Write Metrics", {})
                    total += sw.get("Shuffle Bytes Written", 0)
    return float(total)


class ProgressLog:
    """Every streaming progress event, via ``StreamingQueryListener``
    (traced runs), keyed by query name."""

    def __init__(self):
        self.events: dict[str, list[dict]] = defaultdict(list)
        self._lock = threading.Lock()

    def attach(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        log = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = json.loads(event.progress.json)
                with log._lock:
                    log.events[p.get("name") or "?"].append(p)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _Listener()
        spark.streams.addListener(self._listener)
        return self

    def detach(self, spark):
        spark.streams.removeListener(self._listener)

    def batches(self, names) -> list[dict]:
        with self._lock:
            out = []
            for name, evs in self.events.items():
                if name in names:
                    out.extend(e for e in evs if e.get("numInputRows", 0) > 0)
            return out


def stream_layer_metrics(batches: list[dict], jobs: int, tasks: int) -> dict:
    """``stream.*`` from listener progress plus statusTracker counts."""
    def p50(key):
        return median([b["durationMs"].get(key, 0) for b in batches])

    n = len(batches)
    return {
        "stream.batches": n,
        "stream.rows_per_batch_p50": median([b["numInputRows"] for b in batches]),
        "stream.trigger_ms_p50": p50("triggerExecution"),
        "stream.planning_ms_p50": p50("queryPlanning"),
        "stream.latest_offset_ms_p50": p50("latestOffset"),
        "stream.get_batch_ms_p50": p50("getBatch"),
        "stream.add_batch_ms_p50": p50("addBatch"),
        "stream.commit_ms_p50": p50("commitOffsets"),
        "stream.jobs_per_batch": jobs / n if n else 0.0,
        "stream.tasks_per_batch": tasks / n if n else 0.0,
    }


def state_layer_metrics(batches: list[dict]) -> dict:
    ops = [b["stateOperators"][0] for b in batches if b.get("stateOperators")]
    if not ops:
        return {}
    return {
        "state.rows_total": float(ops[-1].get("numRowsTotal", 0)),
        "state.memory_bytes": float(ops[-1].get("memoryUsedBytes", 0)),
        "state.commit_ms_p50": median([o.get("commitTimeMs", 0) for o in ops]),
    }


def jobs_and_tasks(spark, group: str | None,
                   exclude: frozenset[int] = frozenset()) -> tuple[set[int], int]:
    """Job ids of a job group (None: jobs outside any group), less
    ``exclude``, and their task count, from ``statusTracker``."""
    st = spark.sparkContext.statusTracker()
    ids = set(st.getJobIdsForGroup(group)) - exclude
    tasks = 0
    for jid in ids:
        info = st.getJobInfo(jid)
        if info is None:
            continue
        for sid in info.stageIds:
            s = st.getStageInfo(sid)
            if s is not None:
                tasks += s.numTasks
    return ids, tasks


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total
