"""The curation chain of ``examples/streaming_ingest_gate.py``: the
``stateful_dedup_ttl`` exact-copy gate, then ``streaming_neardup_gate``,
each drained over a document file stream with one file per trigger.

The feed is the generated ``documents`` table in id order (event time
monotone in id, the gates' parity contract), split into ``FILES`` parquet
files. Set-up (``prepare``) runs both gates once over a small separate
feed, so Python workers and code generation are warm; then each gate
drains the full feed from a fresh checkpoint.

Check: the exact-copy gate's output equals its batch face
``batch_ttl_session_dedup``, and the near-dup flag set (min ``dup_of`` per
document) equals the batch face ``operators.dedup.neardup_gate``.
"""

from __future__ import annotations

import os
import time

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from layers import state_totals

FILES = 3
WARM_DOCS = 40
SCHEMA = "doc_id long, text string, source string, ts timestamp"


def _stage_feed(docs, directory: str, n_files: int) -> None:
    """Split ``docs`` into ``n_files`` files, in order. The file source
    takes files oldest first, in no fixed order among files with the same
    modification time (written in the same millisecond), so each file is
    stamped one second after the one before it."""
    os.makedirs(directory)
    n = docs.num_rows
    first = int(time.time()) - n_files
    for i in range(n_files):
        lo, hi = i * n // n_files, (i + 1) * n // n_files
        path = os.path.join(directory, f"part-{i:03d}.parquet")
        pq.write_table(docs.slice(lo, hi - lo), path)
        os.utime(path, (first + i, first + i))


def _gates():
    from pyspark.sql import functions as F

    from franzoxide_spark.streaming.stateful import (
        stateful_dedup_ttl,
        streaming_neardup_gate,
    )

    return {
        "exact": lambda s: stateful_dedup_ttl(
            s.withColumn("sha", F.sha2("text", 256)), "source", "sha", "ts",
            ttl_s=3600, watermark="1 hour"),
        "neardup": lambda s: streaming_neardup_gate(
            s, "doc_id", "text", threshold=0.8),
    }


def _drain(spark, build, feed: str, work: str, name: str):
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(feed)
    )
    t = time.perf_counter()
    q = (
        build(stream).writeStream.outputMode("append").format("parquet")
        .option("path", os.path.join(work, name))
        .option("checkpointLocation", os.path.join(work, f"ckpt_{name}"))
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
        elapsed = time.perf_counter() - t
    finally:
        q.stop()
    progress = [p for p in q.recentProgress if p.numInputRows > 0]
    return elapsed, progress, str(q.runId)


def _check(spark, feed_df, work: str) -> list[str]:
    from pyspark.sql import functions as F

    from franzoxide_spark.operators.dedup import neardup_gate
    from franzoxide_spark.streaming.stateful import batch_ttl_session_dedup

    failures = []
    want = {
        tuple(r) for r in batch_ttl_session_dedup(
            feed_df.withColumn("sha", F.sha2("text", 256)),
            "source", "sha", "ts", ttl_s=3600,
        ).select("key", "member", "first_es").collect()
    }
    got = {
        tuple(r) for r in spark.read.parquet(os.path.join(work, "exact"))
        .select("key", "member", "first_es").collect()
    }
    if got != want:
        failures.append(
            f"exact gate: {len(got - want)} extra, {len(want - got)} missing")
    want_flags = {
        r["doc_id"]: r["dup_of"]
        for r in neardup_gate(feed_df, "text", "doc_id", threshold=0.8)
        .filter("admitted = 0").select("doc_id", "dup_of").collect()
    }
    got_flags = {
        r["doc_id"]: r["dup_of"]
        for r in spark.read.parquet(os.path.join(work, "neardup"))
        .groupBy("doc_id").agg(F.min("dup_of").alias("dup_of")).collect()
    }
    if got_flags != want_flags:
        bad = set(got_flags.items()) ^ set(want_flags.items())
        failures.append(f"near-dup gate: {len(bad)} verdicts differ from batch face")
    return failures


class Gate:
    """Both gates drained over one document feed (see module doc)."""

    def __init__(self, spark, ctx) -> None:
        self.spark = spark
        self.work = os.path.join(ctx.work, "gate")
        self.data_dir = ctx.data_dir
        self.feed = os.path.join(self.work, "feed")
        self.gates = _gates()
        self.drain_s: dict[str, float] = {}
        self.progress: dict[str, list] = {}
        self.run_ids: list[str] = []
        self.docs = 0

    def prepare(self) -> None:
        docs = pq.read_table(os.path.join(self.data_dir, "documents.parquet"),
                             columns=["doc_id", "text", "source"])
        docs = docs.sort_by("doc_id")
        secs = pc.add(docs["doc_id"], 1_700_000_000)
        docs = docs.append_column("ts", pc.cast(pc.multiply(secs, 1_000_000),
                                                pa.timestamp("us", tz="UTC")))
        self.docs = docs.num_rows
        warm = os.path.join(self.work, "warm_feed")
        _stage_feed(docs, self.feed, FILES)
        _stage_feed(docs.slice(0, WARM_DOCS), warm, 1)
        for name, build in self.gates.items():
            _drain(self.spark, build, warm, os.path.join(self.work, "warm"), name)

    def drains(self) -> None:
        for name, build in self.gates.items():
            elapsed, self.progress[name], run_id = _drain(
                self.spark, build, self.feed, self.work, name)
            self.drain_s[name] = elapsed
            self.run_ids.append(run_id)

    def check(self) -> list[str]:
        return _check(self.spark, self.spark.read.schema(SCHEMA).parquet(self.feed),
                      self.work)

    def layers(self) -> dict[str, float]:
        batches = [p for ps in self.progress.values() for p in ps]
        return {
            "state.batch_ms": sum(p.durationMs["triggerExecution"] for p in batches)
            / len(batches),
            "state.batches": float(len(batches)),
            **state_totals(list(self.progress.values())),
        }
