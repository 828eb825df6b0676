"""Traced runs only: the composed streaming stack, measured from outside.

A few seeded micro-batches of documents with their embeddings go through a
Structured Streaming query the benchmark owns: a parquet file source read
one file per trigger (``maxFilesPerTrigger=1``, ``availableNow``) whose
``foreachBatch`` calls the public ``streaming.stack.stack_ingest_batch``.
A ``StreamingQueryListener`` registered here collects each batch's trigger
phases, and the stack root is walked for its on-disk state afterwards.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql.streaming import StreamingQueryListener

from projet_data_engineering_spark.io import read_log_table
from projet_data_engineering_spark.streaming.stack import stack_ingest_batch

SITE = "streaming.stack.stack_ingest_batch"
BATCHES = 2
DOCS_PER_BATCH = 50
PHASES = ("latestOffset", "getBatch", "queryPlanning", "walCommit", "commitOffsets")
SCHEMA = "doc_id long, text string, embedding array<float>"
METRICS = (
    *(f"streaming.trigger.{p}_ms" for p in PHASES),
    "streaming.stack.accept_ratio",
    "io.state_files",
    "io.state_bytes",
)


class PhaseListener(StreamingQueryListener):
    """Keeps ``durationMs`` of every trigger that read input rows."""

    def __init__(self):
        self.batches: list[dict] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        if event.progress.numInputRows > 0:
            self.batches.append(dict(event.progress.durationMs))

    def onQueryTerminated(self, event):
        pass


def write_batches(data_dir: str, src: str, seed: int) -> int:
    """``BATCHES`` parquet files of seeded documents that have embeddings,
    one directory each, with modification times in batch order (the file
    source reads them oldest first). Returns the number of docs written."""
    docs = pq.read_table(f"{data_dir}/documents.parquet", columns=["doc_id", "text"])
    emb = pq.read_table(f"{data_dir}/embeddings.parquet", columns=["vec_id", "embedding"])
    doc_row = {d: i for i, d in enumerate(docs.column("doc_id").to_pylist())}
    vec_row = {v: i for i, v in enumerate(emb.column("vec_id").to_pylist())}
    ids = np.array(sorted(doc_row.keys() & vec_row.keys()))
    rng = np.random.default_rng([seed, 2])
    pick = rng.choice(ids, size=BATCHES * DOCS_PER_BATCH, replace=False)
    mtime = time.time() - 100
    for k in range(BATCHES):
        batch = np.sort(pick[k * DOCS_PER_BATCH:(k + 1) * DOCS_PER_BATCH]).tolist()
        out = f"{src}/b{k}"
        os.makedirs(out)
        table = pa.table({
            "doc_id": pa.array(batch, pa.int64()),
            "text": docs.column("text").take([doc_row[d] for d in batch]),
            "embedding": emb.column("embedding").take([vec_row[d] for d in batch]),
        })
        pq.write_table(table, f"{out}/part-0.parquet")
        for p in (f"{out}/part-0.parquet", out):
            os.utime(p, (mtime + 10 * k, mtime + 10 * k))
    return BATCHES * DOCS_PER_BATCH


def dir_stats(root: str) -> tuple[int, int]:
    files = size = 0
    for d, _, names in os.walk(root):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(d, n))
    return files, size


def probe(run, data_dir: str) -> dict[str, float]:
    """Stream the seeded batches through the stack; return the stack's
    extra per-layer metrics (its call site is recorded by the tracer)."""
    spark, work = run.spark, f"{run.work}/stack"
    n_docs = write_batches(data_dir, f"{work}/src", run.seed)
    base = f"{work}/root"

    def step(batch, batch_id):
        with run.tracer.site(SITE) as h:
            stack_ingest_batch(batch, base, batch_id)
            h.built()

    listener = PhaseListener()
    spark.streams.addListener(listener)
    try:
        (
            spark.readStream.schema(SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .option("pathGlobFilter", "*.parquet")
            .parquet(f"{work}/src/*")
            .writeStream.foreachBatch(step)
            .option("checkpointLocation", f"{work}/checkpoint")
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
        # progress events reach the listener asynchronously
        deadline = time.monotonic() + 30
        while len(listener.batches) < BATCHES and time.monotonic() < deadline:
            time.sleep(0.05)
    finally:
        spark.streams.removeListener(listener)
    if len(listener.batches) != BATCHES:
        raise RuntimeError(f"listener saw {len(listener.batches)} of {BATCHES} batches")
    files, size = dir_stats(base)
    out = {
        f"streaming.trigger.{p}_ms": statistics.median(b.get(p, 0) for b in listener.batches)
        for p in PHASES
    }
    out["streaming.stack.accept_ratio"] = read_log_table(spark, f"{base}/accepted").count() / n_docs
    out["io.state_files"] = files
    out["io.state_bytes"] = size
    return out
