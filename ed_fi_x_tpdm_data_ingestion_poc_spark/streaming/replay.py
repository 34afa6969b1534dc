"""File-replay harness for Structured Streaming checks (SURVEY.md Q44-Q49).

The driver test data is static parquet; streaming semantics need *arrival
order*. The harness re-materializes a table into a replay directory of one
parquet file per micro-batch (modification times spaced so the file source
processes them oldest-first), then `readStream` + `maxFilesPerTrigger=1`
replays them as separate triggers. `Trigger.AvailableNow` bounds the run:
process everything, advance the watermark, flush final state, stop.

No streaming exists in the reference (SURVEY.md §2.3) — this is the
engine's Spark-native extension; checks are batch-equivalence, mirroring
how the reference's batch reconciliation semantics (R18/R21) carry over to
foreachBatch sinks.
"""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession

from ..session import session_cache

EVENTS_DDL = (
    "event_id long, ts timestamp, user_id long, event_type string,"
    " value double, props string"
)


def write_replay_dir(chunks: list, layout_key: str | None = None) -> str:
    """Write each pandas chunk as one parquet file in its own arrival slot.

    Files are named 0000.parquet, 0001.parquet, ... with modification times
    spaced 10s apart so the file stream source (oldest-first default)
    replays them in list order deterministically.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    out_dir = tempfile.mkdtemp(prefix="replay-")
    base = 1_700_000_000  # any fixed epoch; only relative order matters
    for i, pdf in enumerate(chunks):
        path = os.path.join(out_dir, f"{i:04d}.parquet")
        table = pa.Table.from_pandas(pdf, preserve_index=False)
        # micros keeps Spark's vectorized reader happy (nanos is refused)
        pq.write_table(table, path, coerce_timestamps="us", allow_truncated_timestamps=True)
        os.utime(path, (base + 10 * i, base + 10 * i))
    return out_dir


def _flush_frame(pdf):
    """One far-future sentinel event (user_id -1, type __flush__): advances
    the watermark past every real window/session so append-mode results are
    complete; queries filter it back out."""
    import pandas as pd

    return pd.DataFrame(
        {
            "event_id": [-1],
            "ts": [pdf["ts"].max() + pd.Timedelta(hours=1)],
            "user_id": [-1],
            "event_type": ["__flush__"],
            "value": [0.0],
            "props": [None],
        }
    )


def events_replay_dir(spark: SparkSession, sf_dir: str, *, layout: str = "single") -> str:
    """Replay directory for the events table in one of the test layouts:

    single   — whole table, one file (one micro-batch);
    dup      — table twice (two identical files: stateful-dedup fixture);
    thirds   — table split into three ts-ordered files (state must carry
               across micro-batches);
    late     — three files: [all but earliest event], [earliest event, now
               late by ~30 days], [far-future flush event closing windows];
    thirds_flush — thirds plus a far-future flush file, so append-mode
               watermark queries emit every real window/session.
    thirds_total — thirds under the TOTAL (ts, event_id) order, so a ts
               tie can never straddle a micro-batch boundary out of
               tiebreak order (the per-key monotonic-feed contract the
               incremental SCD2 apply requires).
    """
    # replay dirs are immutable once written: one per (sf_dir, layout)
    cache = session_cache(spark)
    key = ("events_replay", sf_dir, layout)
    if key in cache:
        return cache[key]

    from ..tables import table

    pdf = (
        table(spark, sf_dir, "events")
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
        .orderBy("ts")
        .toPandas()
    )
    if layout == "single":
        chunks = [pdf]
    elif layout == "dup":
        chunks = [pdf, pdf]
    elif layout == "thirds":
        n = len(pdf)
        chunks = [pdf.iloc[: n // 3], pdf.iloc[n // 3 : 2 * n // 3], pdf.iloc[2 * n // 3 :]]
    elif layout == "late":
        bulk, late = pdf.iloc[1:], pdf.iloc[:1]
        chunks = [bulk, late, _flush_frame(pdf)]
    elif layout == "thirds_total":
        pdf = pdf.sort_values(["ts", "event_id"], kind="mergesort")
        n = len(pdf)
        chunks = [
            pdf.iloc[: n // 3],
            pdf.iloc[n // 3 : 2 * n // 3],
            pdf.iloc[2 * n // 3 :],
        ]
    elif layout == "thirds_flush":
        n = len(pdf)
        chunks = [
            pdf.iloc[: n // 3],
            pdf.iloc[n // 3 : 2 * n // 3],
            pdf.iloc[2 * n // 3 :],
            _flush_frame(pdf),
        ]
    else:
        raise ValueError(f"unknown layout {layout!r}")
    cache[key] = write_replay_dir(chunks)
    return cache[key]


DOCS_SIZED_DDL = "doc_id long, tok long"


def documents_sized_replay_dir(spark: SparkSession, sf_dir: str) -> str:
    """Replay directory for (doc_id, tok) over the documents table, split
    into three doc_id-ordered files. Because the split respects id order,
    every downstream per-shard consumer (shard = doc_id % n) sees its ids
    monotonically increasing ACROSS micro-batches — the arrival contract
    a streaming packer needs to reproduce the batch next-fit assignment."""
    cache = session_cache(spark)
    key = ("docs_sized_replay", sf_dir)
    if key in cache:
        return cache[key]

    from ..operators.text import token_count
    from ..tables import table

    pdf = (
        table(spark, sf_dir, "documents")
        .select("doc_id", token_count("text").cast("long").alias("tok"))
        .orderBy("doc_id")
        .toPandas()
    )
    n = len(pdf)
    chunks = [pdf.iloc[: n // 3], pdf.iloc[n // 3 : 2 * n // 3], pdf.iloc[2 * n // 3 :]]
    cache[key] = write_replay_dir(chunks)
    return cache[key]


def read_replay_stream(
    spark: SparkSession, replay_dir: str, ddl: str = EVENTS_DDL, *, files_per_trigger: int = 1
) -> DataFrame:
    return (
        spark.readStream.schema(ddl)
        .option("maxFilesPerTrigger", str(files_per_trigger))
        .parquet(replay_dir)
    )


def low_shuffle_clone(spark: SparkSession, n: int = 4) -> SparkSession:
    """Cloned session (shared SparkContext, shared cache, ISOLATED SQL
    conf) with spark.sql.shuffle.partitions=n. Stateful streams create
    one checkpointed state store per shuffle partition per micro-batch,
    so a 15-group stream doesn't need 32 stores — but mutating the
    parent session's conf (the old pattern here) races the concurrent
    bench harness: other in-flight queries plan with 4 shuffle
    partitions until the finally restores it (round-11 ADVICE). The
    clone scopes the override to the one stream."""
    s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", str(n))
    return s


def run_to_memory(stream_df: DataFrame, *, output_mode: str, with_progress: bool = False):
    """Run a bounded (AvailableNow) stream into an in-memory sink; return
    the final result table (and, with_progress=True, the recentProgress
    list so callers can assert micro-batch structure). The memory sink is a
    test/verification surface — production streams write to real sinks
    (files, foreachBatch REST)."""
    name = "replay_" + uuid.uuid4().hex[:12]
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    result = stream_df.sparkSession.table(name)
    if with_progress:
        return result, list(q.recentProgress)
    return result


def run_to_memory_processing_time(
    stream_df: DataFrame,
    *,
    output_mode: str,
    interval: str = "1 seconds",
    idle_triggers: int = 3,
    timeout_sec: float = 120.0,
):
    """Run a stream with Trigger.ProcessingTime into an in-memory sink and
    stop once the source is drained (idle_triggers consecutive zero-input
    progress reports). Result must equal the AvailableNow run of the same
    plan — ProcessingTime is the production trigger (continuous service);
    AvailableNow is the bounded backfill trigger. Both walk the same file
    list under maxFilesPerTrigger, so state evolution is identical.
    """
    import time

    name = "replay_pt_" + uuid.uuid4().hex[:12]
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(processingTime=interval)
        .start()
    )
    deadline = time.time() + timeout_sec
    # recentProgress is a capped ring buffer (default 100 entries), so a
    # list offset goes stale once the run exceeds the cap; key new entries
    # by (batchId, timestamp) instead — batchId repeats across no-data
    # ticks, timestamp disambiguates them.
    idle, last_key = 0, None
    while time.time() < deadline and idle < idle_triggers:
        time.sleep(0.25)
        progress = q.recentProgress
        fresh = []
        for p in reversed(progress):
            key = (int(p["batchId"]), p["timestamp"])
            if key == last_key:
                break
            fresh.append(p)
        if fresh:
            last_key = (int(fresh[0]["batchId"]), fresh[0]["timestamp"])
        for p in reversed(fresh):
            idle = idle + 1 if int(p["numInputRows"]) == 0 else 0
    q.stop()
    q.awaitTermination()
    if idle < idle_triggers:
        raise TimeoutError(
            f"stream did not drain within {timeout_sec}s (idle={idle})"
        )
    return stream_df.sparkSession.table(name)


def run_foreach_batch(stream_df: DataFrame, fn) -> None:
    """Run a bounded stream through foreachBatch(fn(batch_df, batch_id))."""
    q = stream_df.writeStream.foreachBatch(fn).trigger(availableNow=True).start()
    q.awaitTermination()
