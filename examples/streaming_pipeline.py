"""Streaming tour: generate a stream, window it, dedup it, sink it.

Run: python examples/streaming_pipeline.py
Uses availableNow triggers over file backlogs so the whole script
terminates deterministically.
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from pyspark.sql import functions as F

    from dbldatagen_spark import DataGenerator, local_session
    from dbldatagen_spark.sources.sinks import OutputDataset, write_data_to_output
    from dbldatagen_spark.streaming import (
        build_streaming,
        global_dedup_with_state,
        session_window_agg,
    )

    spark = local_session("dbldatagen_spark-streaming-example")
    spark.sparkContext.setLogLevel("ERROR")

    with tempfile.TemporaryDirectory() as td:
        # ------------------------------------------------------------------
        # 1. Streaming generation over the rate source (the reference's
        #    withStreaming=True path), written with an availableNow sink
        # ------------------------------------------------------------------
        gen = (
            DataGenerator(spark, name="clicks", rows=10_000, partitions=4)
            .withColumn("user_id", "long", minValue=1, maxValue=500, random=True)
            .withColumn("action", "string", values=["view", "click", "buy"],
                        weights=[8, 3, 1], random=True)
            .withColumn("amount", "double", minValue=0.0, maxValue=99.0,
                        random=True)
        )
        stream = build_streaming(gen, rows_per_second=5000, num_partitions=4)
        q = write_data_to_output(
            stream,
            OutputDataset(
                location=f"{td}/clicks",
                output_format="parquet",
                checkpoint_location=f"{td}/ck1",
                trigger={"processingTime": "1 second"},
            ),
        )
        # rate source emits on wall-clock time: wait for a few batches
        import time

        deadline = time.time() + 30
        while time.time() < deadline:
            if any(p.numInputRows > 0 for p in q.recentProgress):
                time.sleep(2)
                break
            time.sleep(1)
        q.stop()
        clicks = spark.read.parquet(f"{td}/clicks")
        print("generated stream rows:", clicks.count())
        clicks.groupBy("action").count().show()

        # ------------------------------------------------------------------
        # 2. Consume a replayed event stream: session windows + global dedup
        # ------------------------------------------------------------------
        # two on-disk generations exist (TIMESTAMP(NANOS)-as-long and
        # native TIMESTAMP(MICROS)); adapt like __spark_entry__._load
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        if dict(events.dtypes).get("ts") == "bigint":
            events = events.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000"))
            )
        else:
            events = events.withColumn("ts", F.col("ts").cast("timestamp"))
        events.write.parquet(f"{td}/events")
        replay = spark.readStream.schema(events.schema).parquet(f"{td}/events")

        sessions = session_window_agg(replay, gap="30 minutes", watermark="1 hour")
        q2 = (
            sessions.writeStream.format("parquet")
            .option("path", f"{td}/sessions")
            .option("checkpointLocation", f"{td}/ck2")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q2.awaitTermination(120)
        print("closed sessions:", spark.read.parquet(f"{td}/sessions").count())

        base_docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        # replay every doc twice under different ids: half the stream is dups
        docs = base_docs.union(
            base_docs.withColumn("doc_id", F.col("doc_id") + 100_000)
        )
        docs_ts = docs.withColumn("ts", F.lit("2024-01-01 00:00:00").cast("timestamp"))
        docs_ts.write.parquet(f"{td}/docs")
        doc_stream = spark.readStream.schema(docs_ts.schema).parquet(f"{td}/docs")
        deduped = global_dedup_with_state(doc_stream, "doc_id", "text")
        q3 = (
            deduped.writeStream.format("parquet")
            .option("path", f"{td}/deduped")
            .option("checkpointLocation", f"{td}/ck3")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q3.awaitTermination(120)
        n_in = docs.count()
        n_out = spark.read.parquet(f"{td}/deduped").count()
        print(f"streaming dedup: {n_in} docs -> {n_out} distinct contents")

    spark.stop()


if __name__ == "__main__":
    main()
