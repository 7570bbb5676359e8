"""Pipeline benchmark: one command, two workloads, correctness gates.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout of the repository. Workloads:

- ``ratings_live``       open-loop ratings at a fixed rate through the
                         ``ratings_pipeline`` streaming DAG (three sinks);
                         freshness from generator stamp to receipt at
                         the ES stand-in
- ``kibana_dashboard``   two closed-loop clients on ``SearchRestServer``
                         (the four Kibana panels, the saved search, BM25)
                         over a lake table and index kept by CDC batches

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. With ``--trace 0`` the
metrics are the end-to-end ones (same names on every workload, see
``perfbench/README.md``); with ``--trace 1`` they are the per-layer
ones. The line before it names the workload's own metrics.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib
import json
import os
import shutil
import signal
import sys
import tempfile
import time
import traceback

PACKAGE = "kafka_cdc_elasticsearch_pipeline_spark"
WORKLOADS = {
    "ratings_live": "live",
    "kibana_dashboard": "kibana",
}

#: per-layer metric → unit; every traced run prints all of them (0 where
#: the workload does not exercise the layer)
PER_LAYER = {
    "session.start_s": "s",
    "jvm.heap_live_mb": "MB",
    "stream.batches": "count",
    "stream.rows_per_batch_p50": "count",
    "stream.trigger_ms_p50": "ms",
    "stream.planning_ms_p50": "ms",
    "stream.latest_offset_ms_p50": "ms",
    "stream.get_batch_ms_p50": "ms",
    "stream.add_batch_ms_p50": "ms",
    "stream.commit_ms_p50": "ms",
    "stream.jobs_per_batch": "count",
    "stream.tasks_per_batch": "count",
    "plans.build_ms": "ms",
    "state.rows_total": "count",
    "state.memory_bytes": "bytes",
    "state.commit_ms_p50": "ms",
    "shuffle.bytes_per_batch": "bytes",
    "es_sink.batch_ms_p50": "ms",
    "es_sink.docs_per_s": "1/s",
    "es_bulk.requests": "count",
    "es_bulk.docs_per_request": "count",
    "es_bulk.bytes_per_doc": "bytes",
    "es_bulk.handler_ms_p50": "ms",
    "es_bulk.rejected_items": "count",
    "lake.merge_ms_p50": "ms",
    "lake.row_changes_ms_p50": "ms",
    "lake.bytes_written_per_batch": "bytes",
    "lake.write_amplification": "ratio",
    "lake.versions": "count",
    "lake.read_ms": "ms",
    "index.bm25_maintain_ms_p50": "ms",
    "index.segments": "count",
    "index.bytes": "bytes",
    "search.took_ms_p50": "ms",
    "search.http_ms_p50": "ms",
    "search.aggs_nested_ms_p50": "ms",
    "search.jobs_per_request": "count",
    "search.response_bytes_p50": "bytes",
    "search.count_ms_p50": "ms",
    "search.median_by_status_ms_p50": "ms",
    "search.by_channel_ms_p50": "ms",
    "search.by_person_ms_p50": "ms",
    "search.saved_search_ms_p50": "ms",
    "search.bm25_ms_p50": "ms",
    "gen.events_offered": "count",
    "gen.late_ms_max": "ms",
    "live.backlog_files_max": "count",
    "tracing.overhead_pct": "%",
}

END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "throughput_per_s": "1/s",
    "latency_p50_ms": "ms",
    "latency_tail_ms": "ms",
}


class Ctx:
    """What every workload receives: arguments, paths and the tracer."""

    def __init__(self, args, workdir: str):
        from perfbench.common import Tracer, nproc

        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.workdir = workdir
        self.cores = nproc()
        self.tracer = Tracer(active=self.trace)
        #: wall seconds of each phase of the run, printed for diagnosis
        self.phases: dict[str, float] = {}

    @contextlib.contextmanager
    def phase(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.phases[name] = self.phases.get(name, 0.0) + time.perf_counter() - t0

    def path(self, *parts: str) -> str:
        """A file under the run's work directory (its directory made)."""
        p = os.path.join(self.workdir, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def dir(self, *parts: str) -> str:
        """A directory under the run's work directory, made."""
        p = os.path.join(self.workdir, *parts)
        os.makedirs(p, exist_ok=True)
        return p


def _environment(root: str, workdir: str, cores: int) -> None:
    """Set before the JVM starts: Python workers must import the
    package from the checkout, and Spark scratch and temporary files
    stay in the run's work directory."""
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = root + (os.pathsep + path if path else "")
    os.environ.setdefault("OMP_NUM_THREADS", "1")


def _terminated(*_) -> None:
    """SIGTERM: leave through the ``finally`` that stops every process;
    a second SIGTERM must not cut that short."""
    signal.signal(signal.SIGTERM, signal.SIG_IGN)
    sys.exit(143)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # a terminated run still stops its helper processes and Spark
    signal.signal(signal.SIGTERM, _terminated)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE}/ package under {root}; run from the "
              "root of a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    from perfbench.common import become_subreaper, nproc, stop_all_children

    become_subreaper()
    workdir = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(workdir, exist_ok=True)
    _environment(root, workdir, nproc())
    try:
        mod = importlib.import_module(f"perfbench.{WORKLOADS[args.workload]}")
        ctx = Ctx(args, workdir)
        res = mod.run(ctx)
        if args.trace:
            spans = os.path.join(root, ".perfbench_work", "spans",
                                 f"{args.workload}-seed{args.seed}.jsonl")
            os.makedirs(os.path.dirname(spans), exist_ok=True)
            ctx.tracer.dump(spans)
    except Exception:  # noqa: BLE001 - report and fail the run
        traceback.print_exc()
        return 1
    finally:
        # nothing the run started outlives it, on any path out of it
        stop_all_children()
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(workdir))  # kept when it holds spans
        except OSError:
            pass

    names = PER_LAYER if args.trace else END_TO_END
    values = res["layers"] if args.trace else res["e2e"]
    missing = [n for n in END_TO_END if n not in res["e2e"]]
    if missing and not args.trace:
        print(f"perfbench: workload did not report {missing}", file=sys.stderr)
        return 1
    metrics = {
        n: {"value": float(values.get(n, 0.0)), "unit": u} for n, u in names.items()
    }
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      **res["named"], "phases_s": ctx.phases}))
    print(json.dumps({
        "correct": bool(res["correct"]),
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
