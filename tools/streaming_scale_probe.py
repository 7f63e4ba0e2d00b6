"""Streaming ingest-gate throughput — the sixth scale probe: how fast the
foreachBatch dedup gate digests documents when driven availableNow over a
pre-staged parquet source (the replay/backfill shape; live sources add
network, not compute).

Corpus: N docs, 10% exact duplicates of an earlier doc (the planted-dup
convention). Stage 1 writes the corpus as the stream source; the probe
times ONLY the streaming query: read -> incremental_exact_dedup vs the
growing store -> two appends per micro-batch, maxFilesPerTrigger bounding
batch size so several micro-batches actually execute (state carried via
the parquet store, not the checkpoint).

It also prints the per-batch medians of the query's triggerExecution,
walCommit and commitOffsets durations (the latter two are the offset- and
commit-log writes) and the checkpoint manager class Spark resolves for the
checkpoint directory (set by session.get_spark).

Run:  python tools/streaming_scale_probe.py [N]
"""

from __future__ import annotations

import os
import shutil
import sys
import time
from statistics import median

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N = int(sys.argv[1]) if len(sys.argv) > 1 else 500_000
TOKENS, VOCAB = 30, 50_000


def main() -> None:
    from pyspark.sql import functions as F

    from schemamap_spark.session import get_spark
    from schemamap_spark.streaming.pipeline import incremental_dedup_stream

    spark = get_spark("streaming-scale-probe")
    spark.sparkContext.setLogLevel("ERROR")

    base_dir = "/tmp/streaming_scale_probe"
    shutil.rmtree(base_dir, ignore_errors=True)
    src = os.path.join(base_dir, "src")

    # 10% exact duplicates: id % 10 == 9 reuses id-1's text verbatim
    base = F.when(F.col("id") % 10 == 9, F.col("id") - 1).otherwise(F.col("id"))
    toks = F.transform(
        F.sequence(F.lit(0), F.lit(TOKENS - 1)),
        lambda j: F.concat(
            F.lit("w"), F.pmod(F.xxhash64(base, j), F.lit(VOCAB)).cast("string")
        ),
    )
    (
        spark.range(N)
        .repartition(16)  # 16 source files -> 4 micro-batches at 4 files each
        .select(F.col("id").alias("doc_id"), F.array_join(toks, " ").alias("text"))
        .write.mode("overwrite")
        .parquet(src)
    )

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 4)
        .parquet(src)
    )
    ckpt = os.path.join(base_dir, "ckpt")
    t0 = time.monotonic()
    q = incremental_dedup_stream(
        stream,
        fresh_dir=os.path.join(base_dir, "fresh"),
        store_dir=os.path.join(base_dir, "store"),
        checkpoint_dir=ckpt,
    )
    q.awaitTermination()
    wall = time.monotonic() - t0

    data = [p for p in q.recentProgress if p["numInputRows"] > 0]
    jvm = spark._jvm
    manager = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(ckpt), spark._jsparkSession.sessionState().newHadoopConf()
    )

    fresh = spark.read.parquet(os.path.join(base_dir, "fresh")).count()
    store = spark.read.parquet(os.path.join(base_dir, "store")).count()

    print("\n=== streaming ingest-gate probe ===")
    print(f"{N:,} docs (10% exact dups), 16 source files, 4-file triggers")
    print(f"streaming dedup gate wall: {wall:.1f}s  "
          f"({N / wall / 1000:.0f}k docs/s through the gate)")
    print(f"fresh rows {fresh:,} (expected {N * 9 // 10:,})   "
          f"store digests {store:,}")
    print(f"per-batch medians over {len(data)} data batches: " + "  ".join(
        f"{k} {median(p['durationMs'].get(k, 0) for p in data):.0f} ms"
        for k in ("triggerExecution", "walCommit", "commitOffsets")
    ))
    print(f"checkpoint manager: {manager.getClass().getName()}")


if __name__ == "__main__":
    main()
