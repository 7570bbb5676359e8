"""``kibana_dashboard``: two closed-loop clients on ``SearchRestServer``.

Setup runs the batch ``ratings_pipeline`` on seeded ratings and loads
the enriched rows (in the ES face the dashboard reads) through the CDC
write path: Debezium ``r`` snapshot envelopes, decoded by
``sources.cdc.unwrap_envelope_cdc`` and drained through
``search_index.cdc_search_indexing_sink``, which merges them into a lake
table (``lakelog.merge_apply_cdc``) and builds the BM25 index from the
commit's change feed (``bm25_index_maintain``). The servers mount what
``lakelog.read`` returns, uncached, as the engine's ``serve-search``
does, so every search reads the lake table. Two servers stand in for
the reference's two indexes: ``ratings-enriched`` and
``unhappy_platinum_customers``.

The request mix has six types: the reference's four Kibana panels
(compiled from their saved visState by ``kibana_vis_aggs``), the
EXTRACT_TS-desc saved search and a BM25 text query. Every response is
checked against a direct Spark computation.

A traced run then sends seeded c/u/d batches through the same sink, for
the write path's layer figures. Every run ends by checking the lake
table against the changelog and the maintained BM25 index against one
built from scratch over that table.
"""

from __future__ import annotations

import functools
import json
import os
import time
from concurrent.futures import ThreadPoolExecutor
import urllib.error
import urllib.request

import numpy as np

from perfbench import common, data

N_RATINGS = 40_000  # about 22k survive the live split and the join
CUSTOMER_KEYS = 500
SPAN_HOURS = 2
CLIENTS = 2
#: c/u/d batches after the dashboard has been measured (traced runs)
UPDATE_BATCHES = 2
BATCH_CHANGES = 100
HOT_KEYS = 20  # updated in every batch
BM25_QUERIES = 2
FIELD_MAP = {f: f for f in ("EXTRACT_TS", "STARS", "CLUB_STATUS", "CHANNEL", "FULL_NAME")}

#: The reference dashboard's saved objects (Kibana 7 visState / saved
#: search attributes), embedded so the benchmark needs no reference
#: checkout.
PANELS = {
    "count": {
        "title": "Unhappy Platinum Customers", "type": "metric",
        "aggs": [{"id": "1", "enabled": True, "type": "count", "schema": "metric",
                  "params": {}}],
    },
    "median_by_status": {
        "title": "Median Rating, by Club Status", "type": "line",
        "aggs": [
            {"id": "1", "enabled": True, "type": "median", "schema": "metric",
             "params": {"field": "STARS", "percents": [50]}},
            {"id": "2", "enabled": True, "type": "date_histogram", "schema": "segment",
             "params": {"field": "EXTRACT_TS", "interval": "auto", "min_doc_count": 1}},
            {"id": "3", "enabled": True, "type": "terms", "schema": "group",
             "params": {"field": "CLUB_STATUS.keyword", "size": 5, "order": "desc",
                        "orderBy": "_term"}},
        ],
    },
    "by_channel": {
        "title": "Ratings by Channel", "type": "histogram",
        "aggs": [
            {"id": "1", "enabled": True, "type": "count", "schema": "metric", "params": {}},
            {"id": "2", "enabled": True, "type": "date_histogram", "schema": "segment",
             "params": {"field": "EXTRACT_TS", "interval": "auto", "min_doc_count": 1}},
            {"id": "3", "enabled": True, "type": "terms", "schema": "group",
             "params": {"field": "CHANNEL.keyword", "size": 5, "order": "desc",
                        "orderBy": "1"}},
        ],
    },
    "by_person": {
        "title": "Ratings per Person", "type": "table",
        "aggs": [
            {"id": "1", "enabled": True, "type": "count", "schema": "metric", "params": {}},
            {"id": "2", "enabled": True, "type": "terms", "schema": "bucket",
             "params": {"field": "FULL_NAME.keyword", "size": 5, "order": "desc",
                        "orderBy": "1"}},
        ],
    },
}
SAVED_SEARCH = {
    "title": "Unhappy Platinum Customers",
    "columns": ["FULL_NAME", "STARS", "CHANNEL", "EXTRACT_TS"],
    "sort": ["EXTRACT_TS", "desc"],
}
SAVED_SEARCH_ROWS = 50
TYPES = ("count", "median_by_status", "by_channel", "by_person", "saved_search", "bm25")


def build_requests(rng: np.random.Generator) -> dict:
    """(server, body) per request type; bm25 has several query texts."""
    from kafka_cdc_elasticsearch_pipeline_spark.extensions import search_serve as serve

    def panel(name):
        return serve.kibana_vis_aggs(PANELS[name], FIELD_MAP, fixed_interval="1m")

    field, order = SAVED_SEARCH["sort"]
    bm25 = [" ".join(rng.choice(data.VOCAB, size=2, replace=False))
            for _ in range(BM25_QUERIES)]
    return {
        # a bare count panel reads hits.total; served with the
        # value_count fallback over the unhappy index
        "count": [("unhappy", {"aggs": {"n": {"value_count": {"field": "doc_id"}}}})],
        "median_by_status": [("enriched", {"aggs": panel("median_by_status")})],
        "by_channel": [("enriched", {"aggs": panel("by_channel")})],
        "by_person": [("enriched", {"aggs": panel("by_person")})],
        "saved_search": [("unhappy", {"sort": [{"field": field, "order": order}],
                                      "k": SAVED_SEARCH_ROWS})],
        "bm25": [("enriched", {"mode": "bm25", "query": q, "k": 10}) for q in bm25],
    }


def post(url: str, body: dict) -> tuple[int, bytes]:
    req = urllib.request.Request(
        url + "/search", data=json.dumps(body).encode(),
        headers={"Content-Type": "application/json"},
    )
    try:
        with urllib.request.urlopen(req, timeout=120) as resp:  # noqa: S310
            return resp.status, resp.read()
    except urllib.error.HTTPError as e:
        return e.code, e.read()


class Dashboard:
    def __init__(self, ctx, spark):
        self.ctx = ctx
        self.spark = spark
        self.table = ctx.dir("lake", "ratings_enriched")
        self.index_root = ctx.dir("lake", "bm25")

    def setup(self, tracer) -> None:
        from pyspark.sql import functions as F

        from kafka_cdc_elasticsearch_pipeline_spark.extensions import search_index as si
        from kafka_cdc_elasticsearch_pipeline_spark.extensions.search_rest import (
            SearchRestServer,
        )
        from kafka_cdc_elasticsearch_pipeline_spark.plans.pipeline import ratings_pipeline
        from kafka_cdc_elasticsearch_pipeline_spark.sources import lakelog

        spark = self.spark
        rng = np.random.default_rng(self.ctx.seed)
        users = data.skewed_users(rng, N_RATINGS, CUSTOMER_KEYS)
        times = np.sort(rng.integers(0, SPAN_HOURS * 3_600_000, size=N_RATINGS)) \
            + data.BASE_MS
        ratings_path = self.ctx.path("in", "ratings.parquet")
        data.write_parquet(data.ratings_table(rng, 1, N_RATINGS, users, times), ratings_path)
        cust_path = self.ctx.path("in", "customers.parquet")
        data.write_parquet(data.customers_changelog(rng, CUSTOMER_KEYS, 2), cust_path)
        dag = ratings_pipeline(spark.read.parquet(ratings_path), spark.read.parquet(cust_path))
        face = dag["ratings_with_customer_data"].select(
            F.col("rating_id").alias("doc_id"),
            F.timestamp_millis(F.col("rating_time")).alias("EXTRACT_TS"),
            F.col("stars").alias("STARS"),
            F.col("club_status").alias("CLUB_STATUS"),
            F.col("channel").alias("CHANNEL"),
            F.col("full_name").alias("FULL_NAME"),
            F.col("message").alias("text"),
        )
        face_path = self.ctx.path("in", "face.parquet")
        face.write.parquet(face_path)
        face = self.face = spark.read.parquet(face_path)
        self.changes = Changes(rng, [r[0] for r in face.select("doc_id").collect()])
        self.sink = tracer.wrap_callable(
            si.cdc_search_indexing_sink(spark, self.table, self.index_root, keys=("doc_id",)),
            "cdc.sink")
        self.sink(to_cdc(face.withColumn("_op", F.lit("r")).withColumn("_ts_ms", F.lit(0))), 0)
        self.version = lakelog.latest_version(self.table)  # the version searched
        t0 = time.perf_counter()
        docs = lakelog.read(spark, self.table)
        self.n_docs = docs.count()
        self.lake_read_ms = (time.perf_counter() - t0) * 1000.0
        self.servers = {
            "enriched": SearchRestServer(spark, bm25_root=self.index_root,
                                         doc_source=docs).start(),
            "unhappy": SearchRestServer(spark, doc_source=unhappy(docs)).start(),
        }
        self.requests = build_requests(rng)

    def stop(self) -> None:
        for s in getattr(self, "servers", {}).values():
            s.stop()

    def one(self, typ: str, i: int) -> dict:
        server, body = self.requests[typ][i % len(self.requests[typ])]
        t0 = time.perf_counter()
        status, raw = post(self.servers[server].url, body)
        ms = (time.perf_counter() - t0) * 1000.0
        took = None
        if status == 200:
            took = json.loads(raw).get("took")
        return {"type": typ, "i": i % len(self.requests[typ]), "status": status,
                "ms": ms, "took": took, "bytes": len(raw), "raw": raw}

    def warm(self) -> list[dict]:
        """Untimed: one request of every type, two at a time, then one
        cycle of the closed loop (the first measured cycle ran 15-20 %
        slower than the later ones without it)."""
        with ThreadPoolExecutor(CLIENTS) as pool:
            first = list(pool.map(lambda t: self.one(t, 0), TYPES))
        return first + self.measure(0)["results"]

    def measure(self, seconds: float) -> dict:
        """Closed loop with two clients in step: both send a request of
        the same type, and the next pair goes out when both have
        answered. Clients run whole cycles (every type once, always in
        the same order), at least one, until ``seconds`` have passed, so
        every run has the same mix, order and overlap between concurrent
        requests. With a seeded order per cycle, one type ran up to 60 %
        slower in one cycle than in another, and runs spread about twice
        as much."""
        out: list[list[dict]] = [[] for _ in range(CLIENTS)]
        start = time.perf_counter()
        n = 0
        with ThreadPoolExecutor(CLIENTS) as pool:
            while True:
                for typ in TYPES:
                    pair = [pool.submit(self.one, typ, n + c) for c in range(CLIENTS)]
                    for c, f in enumerate(pair):
                        out[c].append(f.result())
                    n += CLIENTS
                if time.perf_counter() - start >= seconds:
                    break
        elapsed = time.perf_counter() - start
        results = [r for rs in out for r in rs]
        return {"results": results, "elapsed": elapsed,
                "rps": len(results) / elapsed}


def to_cdc(rows):
    """Face rows with ``_op`` and ``_ts_ms`` as Debezium envelopes,
    decoded again by ``unwrap_envelope_cdc``: what the CDC indexing sink
    receives from a topic."""
    from pyspark.sql import functions as F

    from kafka_cdc_elasticsearch_pipeline_spark.sources import cdc

    rows = rows.withColumn("_ts_ms", F.col("_ts_ms").cast("long"))
    raw = cdc.wrap_envelope_cdc(rows, ts_col="_ts_ms", table="ratings_enriched")
    return cdc.unwrap_envelope_cdc(
        raw, rows.drop("_op", "_ts_ms").schema, ["doc_id"])


class Changes:
    """Seeded c/u/d batches over the face rows, and the model of the
    table they leave. Each batch changes ``BATCH_CHANGES`` distinct
    keys: a fifth are creates (a copy of a live row under a new id),
    the ``HOT_KEYS`` are updated in every batch, other updates hit random
    live keys, and a tenth are deletes. An update or create sets new
    STARS and message text."""

    def __init__(self, rng: np.random.Generator, doc_ids: list[int]):
        self.rng = rng
        #: live key -> (face row it copies, STARS, text); None: unchanged
        self.live: dict[int, tuple[int, int, str] | None] = dict.fromkeys(doc_ids)
        self.keys = sorted(doc_ids)
        self.hot = self.keys[:HOT_KEYS]
        self.next_id = self.keys[-1] + 1
        self.deleted: set[int] = set()

    def _new_values(self, src: int) -> tuple[int, int, str]:
        return (src, int(self.rng.integers(1, 6)),
                " ".join(self.rng.choice(data.VOCAB, size=int(self.rng.integers(3, 9)))))

    def batch(self, spark, face, ts_ms: int):
        """The next batch as face rows with ``_op`` and ``_ts_ms``."""
        from pyspark.sql import functions as F

        n_create = BATCH_CHANGES // 5
        n_delete = BATCH_CHANGES // 10
        n_update = BATCH_CHANGES - n_create - n_delete
        hot = set(self.hot)
        cold = [k for k in self.keys if k not in hot]
        picked = self.rng.choice(len(cold), size=n_update - len(hot) + n_delete,
                                 replace=False)
        updates = self.hot + [cold[i] for i in picked[:n_update - len(hot)]]
        deletes = [cold[i] for i in picked[n_update - len(hot):]]
        out = []
        for k in updates:
            src = k if self.live[k] is None else self.live[k][0]
            self.live[k] = self._new_values(src)
            out.append(("u", k) + self.live[k])
        for k in deletes:
            state = self.live.pop(k)
            self.deleted.add(k)
            out.append(("d", k) + (state or (k, None, None)))
        self.keys = sorted(self.live)
        for _ in range(n_create):
            src = self.keys[int(self.rng.integers(0, len(self.keys)))]
            src = src if self.live[src] is None else self.live[src][0]
            self.live[self.next_id] = self._new_values(src)
            out.append(("c", self.next_id) + self.live[self.next_id])
            self.next_id += 1
        self.keys = sorted(self.live)
        changes = spark.createDataFrame(
            out, "_op string, doc_id long, src long, new_stars int, new_text string")
        return self._rows(face, changes.withColumn("_ts_ms", F.lit(ts_ms)))

    @staticmethod
    def _rows(face, changes):
        """Face rows of ``changes`` (doc_id, src, new_stars, new_text, ...):
        the source row under the change's id, with its STARS and text
        (where given)."""
        from pyspark.sql import functions as F

        src = face.withColumnRenamed("doc_id", "src")
        joined = changes.join(src, "src")
        cols = []
        for c in face.columns:
            if c == "STARS":
                cols.append(F.coalesce("new_stars", "STARS").alias(c))
            elif c == "text":
                cols.append(F.coalesce("new_text", "text").alias(c))
            else:
                cols.append(F.col(c))
        return joined.select(*cols, *[c for c in changes.columns if c.startswith("_")])

    def model(self, spark, face):
        """The face after every batch: latest row per key, deletes
        removed."""
        changed = [(k,) + v for k, v in self.live.items() if v is not None]
        touched = spark.createDataFrame(
            [(k,) for k in self.deleted] + [(c[0],) for c in changed], "doc_id long")
        rows = self._rows(face, spark.createDataFrame(
            changed, "doc_id long, src long, new_stars int, new_text string"))
        return face.join(touched, "doc_id", "left_anti").unionByName(rows)


def unhappy(docs):
    """The ``unhappy_platinum_customers`` rows of the enriched docs."""
    from pyspark.sql import functions as F

    return docs.filter((F.col("STARS") < 3) & (F.col("CLUB_STATUS") == "platinum"))


def expected(dash: Dashboard, pool: ThreadPoolExecutor) -> dict:
    """Each request body's answer computed directly with Spark over the
    table version the servers read (cached here: the searches are over),
    normalised the same way as :func:`normalise`. The computations are
    independent and run side by side on ``pool``."""
    from pyspark.sql import functions as F

    from kafka_cdc_elasticsearch_pipeline_spark.extensions import similarity as sim
    from kafka_cdc_elasticsearch_pipeline_spark.sources import lakelog

    docs = lakelog.read(dash.spark, dash.table, version=dash.version).cache()
    unhappy_docs = unhappy(docs)
    minute = F.timestamp_micros(
        (F.floor(F.unix_micros("EXTRACT_TS") / F.lit(60_000_000))
         * F.lit(60_000_000)).cast("bigint"))

    def iso(ts):
        return ts.isoformat(timespec="milliseconds") + "Z"

    def top5(pairs):
        return sorted(pairs, key=lambda kv: (-kv[1], kv[0]))[:5]

    def count():
        n = unhappy_docs.count()
        return n, n

    def median_by_status():
        by_minute: dict = {}
        for r in docs.groupBy(minute.alias("m"), "CLUB_STATUS").agg(
            F.count(F.lit(1)).alias("n"), F.percentile("STARS", F.lit(0.5)).alias("med")
        ).collect():
            by_minute.setdefault(iso(r["m"]), []).append(
                (r["CLUB_STATUS"], r["n"], r["med"]))
        return [(m, sorted(v, key=lambda t: t[0], reverse=True)[:5])
                for m, v in sorted(by_minute.items())]

    def by_channel():
        by_minute: dict = {}
        for r in docs.groupBy(minute.alias("m"), "CHANNEL").count().collect():
            by_minute.setdefault(iso(r["m"]), []).append((r["CHANNEL"], r["count"]))
        return [(m, top5(v)) for m, v in sorted(by_minute.items())]

    def by_person():
        return top5((r["FULL_NAME"], r["count"])
                    for r in docs.groupBy("FULL_NAME").count().collect())

    def saved_search():
        return [r["doc_id"] for r in unhappy_docs.orderBy(
            F.col("EXTRACT_TS").desc(), F.col("doc_id").asc()
        ).limit(SAVED_SEARCH_ROWS).collect()]

    tf, dl = sim.bm25_index_components(docs.select("doc_id", "text"))

    def bm25(text):
        q = dash.spark.createDataFrame([(0, text)], "query_id long, text string")
        terms = q.select("query_id", F.explode(sim.bm25_tokenize(F.col("text"))).alias("word"))
        ranked = sorted(((r["doc_id"], r["bm25"]) for r in
                         sim.bm25_score_components(tf, dl, query_terms=terms).collect()),
                        key=lambda t: (-t[1], t[0]))
        return len(ranked), [(d, round(s, 9)) for d, s in ranked[:10]]

    jobs = {("count", 0): count, ("median_by_status", 0): median_by_status,
            ("by_channel", 0): by_channel, ("by_person", 0): by_person,
            ("saved_search", 0): saved_search}
    for i, (_, body) in enumerate(dash.requests["bm25"]):
        jobs[("bm25", i)] = functools.partial(bm25, body["query"])
    futures = {k: pool.submit(fn) for k, fn in jobs.items()}
    return {k: f.result() for k, f in futures.items()}


def normalise(typ: str, resp: dict):
    """The part of a response the dashboard shows, in the shape
    :func:`expected` computes."""
    if typ == "count":
        return (resp["hits"]["total"], resp["aggregations"]["n"]["value"])
    if typ in ("median_by_status", "by_channel"):
        aggs = resp["aggregations"]
        (outer,) = aggs.keys()
        out = []
        for d in aggs[outer]["buckets"]:
            (inner,) = [k for k, v in d.items() if isinstance(v, dict) and "buckets" in v]
            if typ == "median_by_status":
                out.append((d["key_as_string"], [
                    (b["key"], b["doc_count"],
                     next(v for k, v in b.items() if isinstance(v, dict)
                          and "values" in v)["values"]["50.0"])
                    for b in d[inner]["buckets"]]))
            else:
                out.append((d["key_as_string"],
                            [(b["key"], b["doc_count"]) for b in d[inner]["buckets"]]))
        return sorted(out)
    if typ == "by_person":
        (name,) = resp["aggregations"].keys()
        return [(b["key"], b["doc_count"]) for b in resp["aggregations"][name]["buckets"]]
    if typ == "saved_search":
        return [h["_id"] for h in resp["hits"]["hits"]]
    return (resp["hits"]["total"],
            [(h["_id"], round(h["_score"], 9)) for h in resp["hits"]["hits"]])


def verify(dash: Dashboard, results: list[dict]) -> list[str]:
    """Every response against :func:`expected`, and the lake table and
    index against :func:`verify_lake`, side by side, one per core."""
    with ThreadPoolExecutor(dash.ctx.cores) as pool:
        lake = pool.submit(verify_lake, dash)
        want = expected(dash, pool)
        errors = lake.result()
    seen: dict = {}
    for r in results:
        if r["status"] != 200:
            continue  # counted as failed, not as wrong
        key = (r["type"], r["i"])
        got = normalise(r["type"], json.loads(r["raw"]))
        if key not in seen:
            seen[key] = got
            if got != want[key]:
                errors.append(f"{key}: response differs from the direct computation")
        elif got != seen[key]:
            errors.append(f"{key}: responses to the same request differ")
    return errors


def differ(a, b) -> bool:
    return bool(a.exceptAll(b).count() or b.exceptAll(a).count())


def verify_lake(dash: Dashboard) -> list[str]:
    """The lake table holds the latest row per key of everything sent
    through the sink, deletes removed, and the maintained BM25 index
    (tf, dl, df) equals one built from scratch over that table."""
    from pyspark.sql import functions as F

    from kafka_cdc_elasticsearch_pipeline_spark.extensions import search_index as si
    from kafka_cdc_elasticsearch_pipeline_spark.extensions import similarity as sim
    from kafka_cdc_elasticsearch_pipeline_spark.sources import lakelog

    errors = []
    lake = lakelog.read(dash.spark, dash.table).select(*dash.face.columns)
    if differ(lake, dash.changes.model(dash.spark, dash.face)):
        errors.append("lake table differs from the latest row per key of the"
                      " changelog, deletes removed")
    tf, dl = sim.bm25_index_components(lake.select("doc_id", "text"))
    df = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    for name, got, want in zip(("tf", "dl", "df"),
                               si.bm25_read_index(dash.spark, dash.index_root),
                               (tf, dl, df)):
        if differ(got.select(*want.columns), want):
            errors.append(f"maintained BM25 {name} differs from a from-scratch build")
    return errors


def run(ctx) -> dict:
    tracer = ctx.tracer
    dash = None
    with common.RssSampler() as rss:
        t0 = time.perf_counter()
        try:
            with ctx.phase("session"):
                spark = common.start_spark(ctx.workdir, ctx.cores, ctx.trace,
                                           "perfbench-kibana")
            with ctx.phase("setup"):
                if ctx.trace:
                    write_path_wrappers(tracer)
                dash = Dashboard(ctx, spark)
                dash.setup(tracer)
                tracer.enabled = False
            with ctx.phase("warmup"):
                warm = dash.warm()
            setup_s = time.perf_counter() - t0
            with ctx.phase("measure"):
                res = dash.measure(ctx.seconds)
            rss.stop()
            layers = {}
            traced = {"results": []}
            if ctx.trace:
                with ctx.phase("traced"):
                    layers, traced = traced_pass(ctx, spark, dash, res)
                with ctx.phase("cdc"):
                    layers.update(cdc_pass(dash, tracer))
            with ctx.phase("verify"):
                errors = verify(dash, warm + res["results"] + traced["results"])
        finally:
            if dash is not None:
                dash.stop()
            if "spark" in locals():
                spark.stop()
    lat = [r["ms"] for r in res["results"] if r["status"] == 200]
    failed = sum(1 for r in res["results"] if r["status"] != 200)
    if failed:
        errors.append(f"{failed} searches answered non-2xx")
    if errors:
        print("kibana_dashboard correctness:", errors)
    e2e = {
        "setup_s": setup_s,
        "peak_rss_mb": rss.peak_mb,
        "throughput_per_s": res["rps"],
        "latency_p50_ms": common.median(lat) if lat else 0.0,
        "latency_tail_ms": common.percentile(lat, 90) if lat else 0.0,
    }
    layers["session.start_s"] = ctx.phases["session"]
    return {
        "correct": not errors,
        "attempted": len(res["results"]),
        "failed": failed,
        "e2e": e2e,
        "layers": layers,
        "named": {
            "search_p50_ms": e2e["latency_p50_ms"],
            "search_p90_ms": e2e["latency_tail_ms"],
            "search_rps": e2e["throughput_per_s"],
            "searches": len(res["results"]),
            "docs": dash.n_docs,
            "setup_s": setup_s,
            "peak_rss_mb": rss.peak_mb,
        },
    }


def write_path_wrappers(tracer) -> None:
    """Traced runs: time the CDC write path the setup drives."""
    from kafka_cdc_elasticsearch_pipeline_spark.extensions import search_index as si
    from kafka_cdc_elasticsearch_pipeline_spark.sources import lakelog

    tracer.enabled = True
    tracer.wrap(lakelog, "merge_apply_cdc", "lake.merge_apply_cdc")
    tracer.wrap(lakelog, "read_row_changes", "lake.read_row_changes")
    tracer.wrap(si, "bm25_index_maintain", "index.bm25_index_maintain")


def traced_pass(ctx, spark, dash: Dashboard, untraced: dict) -> tuple[dict, dict]:
    """The closed loop again with the search layers timed."""
    from kafka_cdc_elasticsearch_pipeline_spark.extensions import search_serve as serve

    tracer = ctx.tracer
    tracer.enabled = True
    tracer.wrap(serve, "aggs_nested", "serve.aggs_nested")
    before, _ = common.jobs_and_tasks(spark, None)
    res = dash.measure(ctx.seconds)
    jobs, _ = common.jobs_and_tasks(spark, None, frozenset(before))
    tracer.enabled = False
    after = dash.measure(ctx.seconds)
    heap_mb = common.jvm_heap_live_mb(spark)
    ok = [r for r in res["results"] if r["status"] == 200]
    layers = {
        "search.took_ms_p50": common.median([r["took"] for r in ok]),
        "search.http_ms_p50": common.median([r["ms"] - r["took"] for r in ok]),
        "search.aggs_nested_ms_p50": tracer.p50_ms("serve.aggs_nested"),
        "search.jobs_per_request": len(jobs) / len(res["results"]),
        "search.response_bytes_p50": common.median([r["bytes"] for r in ok]),
        "lake.read_ms": dash.lake_read_ms,
        "jvm.heap_live_mb": heap_mb,
        "gen.events_offered": len(res["results"]),
        # traced pass against the mean of the untraced passes around it
        "tracing.overhead_pct": (
            (untraced["rps"] + after["rps"]) / 2 / res["rps"] - 1.0) * 100.0,
    }
    for typ in TYPES:
        layers[f"search.{typ}_ms_p50"] = common.median(
            [r["ms"] for r in ok if r["type"] == typ])
    return layers, res


def cdc_pass(dash: Dashboard, tracer) -> dict:
    """Seeded c/u/d batches through the sink, with the write path timed:
    ``lake.*`` and ``index.*`` per update batch."""
    from kafka_cdc_elasticsearch_pipeline_spark.extensions import search_index as si
    from kafka_cdc_elasticsearch_pipeline_spark.sources import lakelog

    # bytes per stored row, from the snapshot's data directory
    first = lakelog.read_manifest(dash.table, lakelog.versions(dash.table)[0])
    row_bytes = common.dir_bytes(
        os.path.join(dash.table, first["data_dirs"][-1])) / dash.n_docs
    since = len(tracer.spans)
    written = []
    tracer.enabled = True
    for b in range(1, UPDATE_BATCHES + 1):
        before = common.dir_bytes(dash.table)
        dash.sink(to_cdc(dash.changes.batch(dash.spark, dash.face, ts_ms=b)), b)
        written.append(common.dir_bytes(dash.table) - before)
    tracer.enabled = False
    return {
        "lake.merge_ms_p50": tracer.p50_ms("lake.merge_apply_cdc", since),
        "lake.row_changes_ms_p50": tracer.p50_ms("lake.read_row_changes", since),
        "lake.bytes_written_per_batch": common.median(written),
        # bytes written ÷ bytes of the changed rows
        "lake.write_amplification": common.median(written) / (BATCH_CHANGES * row_bytes),
        "lake.versions": len(lakelog.versions(dash.table)),
        "index.bm25_maintain_ms_p50": tracer.p50_ms("index.bm25_index_maintain", since),
        "index.segments": sum(v["n_segments"] for v in
                              si.index_read_amplification(dash.index_root).values()),
        "index.bytes": common.dir_bytes(dash.index_root),
    }
