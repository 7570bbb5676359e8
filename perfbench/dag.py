"""The reference's three downstream consumers of ``ratings_pipeline``,
as streaming queries, and the gate that checks what they delivered.

- ES ``ratings-enriched``: doc id = ``rating_id``
- ES ``unhappy_platinum_customers``: generated ids
- the 15-minute windowed counts: stateful, update mode, each batch's
  updates written as parquet
"""

from __future__ import annotations

import glob
import os
from concurrent.futures import ThreadPoolExecutor

from perfbench import common, data

ENRICHED = "ratings-enriched"
UNHAPPY = "unhappy_platinum_customers"
#: all three queries fire on the same fixed interval, so every run sees
#: the same cadence and the same overlap between their batches (with the
#: default trigger they drift in and out of step, and freshness with them)
TRIGGER = "2 seconds"


def start_sinks(stream, customers, es_url: str, tracer: common.Tracer,
                ckpt: str) -> tuple[list, str]:
    """Start the three queries over ``stream``; returns them and the
    directory the windowed counts are written to."""
    from kafka_cdc_elasticsearch_pipeline_spark.plans import pipeline
    from kafka_cdc_elasticsearch_pipeline_spark.sources import elasticsearch as es

    with tracer.span("plans.build"):
        dag = pipeline.ratings_pipeline(stream, customers)
    windows_out = os.path.join(ckpt, "windows_out")

    def windows_sink(df, batch_id):
        df.write.mode("append").parquet(os.path.join(windows_out, f"b{batch_id:06d}"))

    specs = [
        ("es_enriched", dag["ratings_with_customer_data"],
         es.es_sink_foreach_batch(es_url, ENRICHED, id_col="rating_id"), "append"),
        ("es_unhappy", dag["unhappy_platinum_customers"],
         es.es_sink_foreach_batch(es_url, UNHAPPY), "append"),
        ("windows", dag["ratings_per_customer_per_15minute"], windows_sink, "update"),
    ]
    queries = []
    for name, df, sink, mode in specs:
        if name.startswith("es_") and tracer.active:
            sink = timed_es_sink(tracer, sink)
        writer = (
            df.writeStream.queryName(name)
            .foreachBatch(sink)
            .outputMode(mode)
            .option("checkpointLocation", os.path.join(ckpt, name))
            .trigger(processingTime=TRIGGER)
        )
        queries.append(writer.start())
    return queries, windows_out


def timed_es_sink(tracer: common.Tracer, sink):
    """Time the ``es_sink_foreach_batch`` callable and count the docs it
    reports acked."""
    def timed(df, batch_id):
        with tracer.span("es_sink.batch"):
            n = sink(df, batch_id)
        tracer.count("es_sink.docs", n)
        return n

    return timed


def es_layers(tracer: common.Tracer, taken: dict) -> dict:
    """``es_sink.*`` from the timed sink callables, ``es_bulk.*`` from
    what the stand-in recorded (``taken``)."""
    n_req = taken["requests"]
    n_docs = len(taken["docs"])
    sink_ms = tracer.durations_ms("es_sink.batch")
    return {
        "es_sink.batch_ms_p50": common.median(sink_ms),
        "es_sink.docs_per_s": (tracer.counts["es_sink.docs"] / (sum(sink_ms) / 1000.0)
                               if sink_ms else 0.0),
        "es_bulk.requests": n_req,
        "es_bulk.docs_per_request": n_docs / n_req if n_req else 0.0,
        "es_bulk.bytes_per_doc": taken["bytes"] / n_docs if n_docs else 0.0,
        "es_bulk.handler_ms_p50": common.median(taken["handler_ms"]),
        "es_bulk.rejected_items": 0,
    }


def verify_sinks(spark, ratings, customers, docs: list, windows_out: str) -> list[str]:
    """What the sinks delivered against the batch ``ratings_pipeline``
    on the same input: each index holds exactly the batch rows' ids,
    once each, and the windowed counts equal the batch result. The
    three checks run concurrently. Returns the mismatches."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from kafka_cdc_elasticsearch_pipeline_spark.plans.pipeline import ratings_pipeline

    truth = ratings_pipeline(ratings, customers)

    def sink_ids(index: str, rel: str) -> list[str]:
        got = sorted(d[2] for d in docs if d[0] == index)
        want = sorted(r[0] for r in truth[rel].select("rating_id").collect())
        if got != want:
            return [f"{index}: {len(got)} docs indexed, {len(want)} expected"
                    " (or ids differ / repeat)"]
        if index == ENRICHED and any(d[1] != str(d[2]) for d in docs if d[0] == index):
            return [f"{index}: doc _id differs from rating_id"]
        return []

    def windows() -> list[str]:
        key = ["window_start", "full_name"]
        got = spark.read.parquet(*glob.glob(os.path.join(windows_out, "b*")))
        latest = (
            got.withColumn("_b", F.input_file_name())
            .withColumn("_r", F.row_number().over(
                Window.partitionBy(*key).orderBy(F.col("_b").desc())))
            .filter("_r = 1")
            .select(*key, "ratings_count", "ratings")
        )
        want = truth["ratings_per_customer_per_15minute"].select(
            *key, "ratings_count", "ratings")
        if latest.exceptAll(want).count() or want.exceptAll(latest).count():
            return ["windowed counts differ from the batch result"]
        return []

    with ThreadPoolExecutor(3) as pool:
        checks = [
            pool.submit(sink_ids, ENRICHED, "ratings_with_customer_data"),
            pool.submit(sink_ids, UNHAPPY, "unhappy_platinum_customers"),
            pool.submit(windows),
        ]
        return [e for c in checks for e in c.result()]


def read_ratings(spark, path: str):
    return spark.read.schema(data.RATINGS_DDL).parquet(path)
