"""``ratings_live``: open-loop ratings at a fixed offered rate through
``ratings_pipeline`` into the reference's three downstream consumers
(``dag.py``: two ES indexes and the 15-minute windowed counts), with the
reference's 20-row CUSTOMERS and a fixed 2 s processing-time trigger.

The generator (``livegen.py``) is its own process and keeps its
schedule however slowly the pipeline runs. Freshness is receipt time at
the ES stand-in (``ratings-enriched``) minus the rating's generator
stamp. A run whose backlog grows over the window, or whose generator
runs late past its bound, is invalid.
"""

from __future__ import annotations

import datetime
import json
import os
import subprocess
import sys
import time

import numpy as np

from perfbench import common, dag, data
from perfbench.esstub import EsStub

RATE = 2000.0  # ratings offered per second
TICK = 0.1  # one file per tick
WARM_FILES = 2  # pre-written files the queries' first (slow) batch reads
#: untimed seconds at the offered rate before the window: batch time
#: keeps falling for about this long after the first batch (JIT)
WARM_S = 10.0
GEN_LATE_BOUND_MS = 200.0
SAMPLE_S = 0.25


class Live:
    def __init__(self, ctx, spark, stub: EsStub):
        self.ctx = ctx
        self.spark = spark
        self.stub = stub
        self.in_dir = ctx.dir("live", "in")
        self.tmp_dir = ctx.dir("live", "tmp")
        self.stop_file = ctx.path("live", "stop")
        self.stats_file = ctx.path("live", "gen_stats.json")
        self.per_file = int(round(RATE * TICK))
        self.gen = None

    def start(self, tracer: common.Tracer) -> None:
        spark = self.spark
        self.customers = spark.createDataFrame(data.reference_customers().to_pandas())
        rng = np.random.default_rng(self.ctx.seed + 1)
        n = self.per_file
        for i in range(WARM_FILES):
            users = data.live_users(rng, n)
            data.write_parquet(
                data.ratings_table(rng, 1 + i * n, n, users, np.full(n, data.BASE_MS)),
                os.path.join(self.in_dir, f"warm-{i}.parquet"))
        self.warm_rows = WARM_FILES * n
        stream = spark.readStream.schema(data.RATINGS_DDL).parquet(self.in_dir)
        self.queries, self.windows_out = dag.start_sinks(
            stream, self.customers, self.stub.url, tracer, self.ctx.dir("live", "ckpt"))

    def start_generator(self) -> None:
        self.gen = subprocess.Popen([
            sys.executable, os.path.join(os.path.dirname(__file__), "livegen.py"),
            "--out", self.in_dir, "--tmp", self.tmp_dir, "--rate", str(RATE),
            "--tick", str(TICK), "--seed", str(self.ctx.seed),
            "--first-id", str(self.warm_rows + 1),
            "--stop-file", self.stop_file, "--stats", self.stats_file,
        ])

    def processed_rows(self) -> int:
        """Rows every query has finished with."""
        return min(sum(p["numInputRows"] for p in q.recentProgress) for q in self.queries)

    def backlog_files(self) -> float:
        return len(os.listdir(self.in_dir)) - self.processed_rows() / self.per_file

    def window(self, seconds: float) -> dict:
        """Sample the backlog for ``seconds``; return the window bounds
        (epoch ms) and the samples."""
        samples = []
        w0 = time.time()
        end = w0 + seconds
        while time.time() < end:
            samples.append(self.backlog_files())
            time.sleep(SAMPLE_S)
        return {"lo_ms": w0 * 1000.0, "hi_ms": end * 1000.0, "backlog": samples}

    def stop(self, timeout: float = 60.0) -> dict:
        """Stop the generator, let the queries drain, stop them."""
        self.stop_generator()
        with open(self.stats_file) as f:
            stats = json.load(f)
        offered = sum(f[2] for f in stats["files"]) + self.warm_rows
        deadline = time.time() + timeout
        while self.processed_rows() < offered and time.time() < deadline:
            time.sleep(0.1)
        drained = self.processed_rows() >= offered
        for q in self.queries:
            q.stop()
        return {"stats": stats, "offered": offered, "drained": drained}

    def stop_generator(self) -> None:
        if self.gen is None or self.gen.poll() is not None:
            return
        with open(self.stop_file, "w"):
            pass
        try:
            self.gen.wait(timeout=30)
        except subprocess.TimeoutExpired:
            self.gen.kill()
            self.gen.wait(timeout=30)


def processing_rate(queries, w: dict) -> float:
    """Input rows per second of batch time (``triggerExecution``), over
    the batches of all three queries that started in window ``w``: what
    the pipeline can process, where the delivered rate is fixed by the
    offered one."""
    rows = ms = 0
    for q in queries:
        for p in q.recentProgress:
            start_ms = datetime.datetime.fromisoformat(p["timestamp"]).timestamp() * 1000.0
            if p["numInputRows"] and w["lo_ms"] <= start_ms < w["hi_ms"]:
                rows += p["numInputRows"]
                ms += p["durationMs"]["triggerExecution"]
    return rows / (ms / 1000.0) if ms else 0.0


def grows(samples: list[float]) -> bool:
    """True if the backlog in the second half of the window clearly
    exceeds the first half's."""
    if len(samples) < 4:
        return False
    half = len(samples) // 2
    first = sum(samples[:half]) / half
    second = sum(samples[half:]) / (len(samples) - half)
    return second > first * 1.5 + 2


def run(ctx) -> dict:
    tracer = ctx.tracer
    layers: dict = {}
    with common.RssSampler() as rss:
        t0 = time.perf_counter()
        stub = EsStub(ctx.workdir, ctx.cores)
        rss.exclude.add(stub.proc.pid)
        live = None
        try:
            with ctx.phase("session"):
                spark = common.start_spark(ctx.workdir, ctx.cores, ctx.trace,
                                           "perfbench-live")
            with ctx.phase("warmup"):
                common.warm_python_workers(spark)
                live = Live(ctx, spark, stub)
                tracer.enabled = ctx.trace  # times the plan build
                live.start(tracer)
                tracer.enabled = False
                deadline = time.time() + 60
                while live.processed_rows() < live.warm_rows and time.time() < deadline:
                    time.sleep(0.05)
                live.start_generator()
                rss.exclude.add(live.gen.pid)
                time.sleep(WARM_S)
            setup_s = time.perf_counter() - t0
            with ctx.phase("measure"):
                win = live.window(ctx.seconds)
            rss.stop()
            rate = processing_rate(live.queries, win)
            traced = None
            if ctx.trace:
                with ctx.phase("traced"):
                    traced, layers = traced_window(ctx, spark, live)
            with ctx.phase("drain"):
                end = live.stop()
            taken = stub.take()
            with ctx.phase("verify"):
                errors = dag.verify_sinks(spark, dag.read_ratings(spark, live.in_dir),
                                          live.customers, taken["docs"], live.windows_out)
            spark.stop()
            if ctx.trace:
                layers.update(dag.es_layers(tracer, taken))
                layers["shuffle.bytes_per_batch"] = common.shuffle_bytes_from_event_log(
                    ctx.workdir, set(live.run_ids)) / max(1, layers["stream.batches"])
        finally:
            if live is not None:
                live.stop_generator()
            stub.stop()

    def fresh(w):
        return [d[4] - d[3] for d in taken["docs"]
                if d[0] == dag.ENRICHED and w["lo_ms"] <= d[3] < w["hi_ms"]]

    files = end["stats"]["files"]

    def late_max(w):
        return max((f[1] for f in files if w["lo_ms"] <= f[0] * 1000 < w["hi_ms"]),
                   default=0.0)

    freshness = fresh(win)
    if grows(win["backlog"]):
        errors.append(f"backlog grew over the window: {win['backlog']}")
    if late_max(win) > GEN_LATE_BOUND_MS:
        errors.append(f"generator ran {late_max(win):.0f} ms late (bound "
                      f"{GEN_LATE_BOUND_MS:.0f} ms)")
    if not end["drained"]:
        errors.append("pipeline did not drain the offered ratings after the window")
    if not freshness:
        errors.append("no ratings delivered in the window")
    if errors:
        print("ratings_live correctness:", errors)
    e2e = {
        "setup_s": setup_s,
        "peak_rss_mb": rss.peak_mb,
        # enriched docs delivered per second: an open loop that keeps up
        # delivers what it is offered, so this is a validity check; the
        # pipeline's own speed shows in freshness (processing time plus
        # the trigger wait) and, noisier, in processed_per_s
        "throughput_per_s": len(freshness) / ctx.seconds,
        "latency_p50_ms": common.median(freshness) if freshness else 0.0,
        "latency_tail_ms": common.percentile(freshness, 99) if freshness else 0.0,
    }
    if traced is not None:
        tf = fresh(traced)
        # traced window against the mean of the untraced windows around it
        untraced_p50 = (e2e["latency_p50_ms"] + common.median(fresh(traced["after"]))) / 2
        layers.update({
            "gen.events_offered": end["offered"],
            "gen.late_ms_max": late_max(traced),
            "live.backlog_files_max": max(traced["backlog"]),
            "tracing.overhead_pct": (common.median(tf) / untraced_p50 - 1.0) * 100.0,
        })
    layers["session.start_s"] = ctx.phases["session"]
    return {
        "correct": not errors,
        "attempted": len(taken["docs"]) + len(live.queries),
        "failed": 0,
        "e2e": e2e,
        "layers": layers,
        "named": {
            "offered_per_s": RATE,
            "processed_per_s": rate,
            "freshness_p50_ms": e2e["latency_p50_ms"],
            "freshness_p99_ms": e2e["latency_tail_ms"],
            "freshness_samples": len(freshness),
            "gen_late_ms_max": late_max(win),
            "backlog_files_max": max(win["backlog"]),
        },
    }


def traced_window(ctx, spark, live: Live) -> tuple[dict, dict]:
    """A second window with spans, the listener and job counts on."""
    tracer = ctx.tracer
    tracer.enabled = True
    progress = common.ProgressLog().attach(spark)
    live.run_ids = [str(q.runId) for q in live.queries]
    before = {r: common.jobs_and_tasks(spark, r)[0] for r in live.run_ids}
    traced = live.window(ctx.seconds)
    progress.detach(spark)
    tracer.enabled = False
    jobs, tasks = 0, 0
    for r in live.run_ids:
        ids, t = common.jobs_and_tasks(spark, r, frozenset(before[r]))
        jobs += len(ids)
        tasks += t
    traced["after"] = live.window(ctx.seconds)
    heap_mb = common.jvm_heap_live_mb(spark)
    names = [q.name for q in live.queries]
    layers = {
        **common.stream_layer_metrics(progress.batches(names), jobs, tasks),
        **common.state_layer_metrics(progress.batches([n for n in names
                                                       if n.startswith("windows")])),
        "plans.build_ms": tracer.p50_ms("plans.build"),
        "jvm.heap_live_mb": heap_mb,
    }
    return traced, layers
