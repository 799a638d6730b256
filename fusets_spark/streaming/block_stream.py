"""Stateful streaming Gorilla block builder — applyInPandasWithState.

The batch encoder (codec/blocks.py) sees a series' full history at once;
a streaming ingest can't. This operator keeps each series' OPEN buckets
in Spark-managed group state and seals a bucket — emitting its Gorilla
DoD+XOR block — only once the event-time watermark has passed the bucket
end, so late points within the watermark still land in their bucket and
sealed blocks are byte-identical to what the batch encoder produces for
the same points (pinned in tests/test_streaming.py and by the driver
query's decode-identity oracle).

This is the engine's `applyInPandasWithState` surface (brief §custom
stateful operators): state is a pair of arrays (timestamps µs, values)
per (source, doc_id); each micro-batch appends its points, seals
watermark-expired buckets through the same canonical (ts, value) ordering
+ encoder the batch/compaction paths use, and keeps the remainder. At
10^12-sequence scale the state store shards by the group key exactly like
the batch hash buckets, and per-series state is bounded by
(watermark window / point interval) points.

Draining semantics: a bucket seals when `bucket_ts + block_seconds <=
watermark`. Spark's watermark for micro-batch N is derived from data seen
through batch N-1, so a bounded backlog needs trailing sentinel rows
(later event times, junk key) to push the watermark past the real data —
see seal_all_with_sentinels() for the deterministic drain recipe the
driver query uses.
"""

from __future__ import annotations

import pickle
from collections.abc import Iterator
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..codec.blocks import BLOCK_SCHEMA, CODEC_NAME
from ..codec.gorilla import encode_blocks_batched
from ..operators.rollup import _dt_ns

# open points ride the state store as PACKED BINARY columns (raw numpy
# buffers + a pickled doc-id array), not array<primitive>: list-typed state
# boxes every element into a Python object on each update/get — ~2M
# boxed objects per micro-batch at 1M buffered points — while
# tobytes()/frombuffer round-trips are single memcpy-scale operations.
STATE_DDL = "docs binary, ts_us binary, vals binary"


def _seal(
    docs: np.ndarray,
    ts_us: np.ndarray,
    vals: np.ndarray,
    block_seconds: int,
    wm_us: int,
) -> tuple[pd.DataFrame | None, np.ndarray, np.ndarray, np.ndarray]:
    """Split buffered points (possibly MANY series — the state key is a
    hash bucket of series, mirroring the batch encoder's granularity) into
    sealed blocks (bucket fully below the watermark) and the retained open
    remainder. Points are sealed in the CANONICAL per-series (ts, value)
    order (same as compact_blocks), so the bytes are a pure function of
    each (doc, bucket)'s point multiset — batch/stream identical."""
    span = block_seconds * 10**6
    order = np.lexsort((vals, ts_us, docs))
    docs, ts_us, vals = docs[order], ts_us[order], vals[order]
    bucket = ts_us - ts_us % span
    sealed = bucket + span <= wm_us
    keep_docs, keep_ts, keep_vals = docs[~sealed], ts_us[~sealed], vals[~sealed]
    if not sealed.any():
        return None, keep_docs, keep_ts, keep_vals
    sdocs, sts, svals, sbkt = (
        docs[sealed], ts_us[sealed], vals[sealed], bucket[sealed]
    )
    new = np.r_[True, (sdocs[1:] != sdocs[:-1]) | (np.diff(sbkt) != 0)]
    bs = np.flatnonzero(new)
    be = np.r_[bs[1:], len(sbkt)]
    blocks = encode_blocks_batched(
        [sts[s:e] for s, e in zip(bs, be)],
        [svals[s:e] for s, e in zip(bs, be)],
    )
    frame = pd.DataFrame(
        {
            "doc_id": sdocs[bs],
            "bucket_ts": _dt_ns(sbkt[bs] * 10**3),
            "n_points": (be - bs).astype(np.int64),
            "min_ts": _dt_ns(sts[bs] * 10**3),
            "max_ts": _dt_ns(sts[be - 1] * 10**3),
            "codec": CODEC_NAME,
            "block": blocks,
        }
    )
    return frame, keep_docs, keep_ts, keep_vals


def stream_encode_blocks(
    stream: DataFrame,
    block_seconds: int = 3600,
    watermark: str = "0 seconds",
    groups_per_source: int | None = None,
) -> DataFrame:
    """points stream (source, doc_id, ts, value) -> sealed-block stream
    (append mode).

    r7: the state key is (source, hash bucket of doc_id) — the SAME
    granularity the batch encoder and compactor shuffle on — not
    (source, doc_id). Per-series state made applyInPandasWithState invoke
    the Python function once per SERIES per micro-batch (~80k calls/batch
    at 1M events; measured ~40 s of pure per-group machinery), while
    per-bucket state amortizes that to `groups_per_source` calls and seals
    every expired (doc, bucket) run inside one vectorized kernel pass.
    Sealing time depends only on the global bucket grid, never on the
    series, so bucketing changes NO sealed byte (identity with the batch
    encoder stays pinned in tests/test_streaming.py). State per group is
    bounded by (bucket span / point interval) × series-per-bucket — the
    same bound the batch hash buckets already impose."""

    span_us = block_seconds * 10**6

    def fn(
        key: Any,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        # Called for keys present in the micro-batch AND for keys whose
        # event-time timeout expired (state.hasTimedOut) — the timeout is
        # what re-visits a quiet bucket group once the watermark passes an
        # open bucket's end; without it a group with no new rows would
        # never seal.
        if state.exists:
            old_docs, old_ts, old_vals = state.get
            doc_list = [pickle.loads(bytes(old_docs))]
            ts_list = [np.frombuffer(bytes(old_ts), dtype=np.int64)]
            val_list = [np.frombuffer(bytes(old_vals), dtype=np.float64)]
        else:
            doc_list, ts_list, val_list = [], [], []
        for pdf in pdfs:
            if not len(pdf):
                continue
            doc_list.append(pdf["doc_id"].to_numpy(dtype=object))
            ts_list.append(pdf["ts"].astype("int64").to_numpy() // 10**3)
            val_list.append(pdf["value"].to_numpy(np.float64))
        docs = (
            np.concatenate(doc_list)
            if doc_list
            else np.empty(0, dtype=object)
        )
        ts_us = (
            np.concatenate(ts_list) if ts_list else np.empty(0, np.int64)
        )
        vals = (
            np.concatenate(val_list) if val_list else np.empty(0, np.float64)
        )
        wm_us = state.getCurrentWatermarkMs() * 1000
        frame, keep_docs, keep_ts, keep_vals = _seal(
            docs, ts_us, vals, block_seconds, wm_us
        )
        if len(keep_ts):
            state.update(
                (
                    pickle.dumps(keep_docs, protocol=4),
                    keep_ts.tobytes(),
                    keep_vals.tobytes(),
                )
            )
            # wake this key when the watermark passes the earliest open
            # bucket end (sealing guarantees bucket_end > watermark here,
            # satisfying Spark's strictly-greater requirement)
            next_end_ms = int(
                (keep_ts.min() - keep_ts.min() % span_us + span_us) // 1000
            )
            state.setTimeoutTimestamp(next_end_ms)
        elif state.exists:
            state.remove()
        if frame is not None:
            frame.insert(0, "source", key[0])
            yield frame

    from ..session import default_groups

    groups_per_source = groups_per_source or default_groups(
        stream, minimum=256, per_core=8
    )
    from pyspark.sql import functions as F

    keyed = stream.withWatermark("ts", watermark).withColumn(
        "_g", F.pmod(F.xxhash64("doc_id"), F.lit(groups_per_source))
    )
    return (
        keyed.groupBy("source", "_g")
        .applyInPandasWithState(
            fn,
            outputStructType=BLOCK_SCHEMA,
            stateStructType=STATE_DDL,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def seal_all_with_sentinels(
    spark,
    points_df: DataFrame,
    work_dir: str,
    block_seconds: int = 3600,
    sentinel_source: str = "__sentinel__",
    sink: str = "memory",
) -> DataFrame:
    """Deterministic bounded-backlog drain: write the real points as one
    file plus TWO trailing sentinel files whose event times lie far past
    the real data (one micro-batch per file, oldest first). Spark derives
    batch N's watermark from data through batch N-1, so the second
    sentinel batch runs with the watermark already past every real
    bucket — sealing all real blocks. Sentinel rows are filtered from the
    returned (batch) DataFrame of sealed blocks.

    Sinks: sink='memory' (default) materializes the sealed blocks through
    a memory sink + collect — DRIVER-ROW-SCOPED: it exists so the driver
    correctness query can hand back one bounded DataFrame, and it holds
    the full result on the driver. The production path is sink='parquet',
    which streams sealed blocks straight to `<work_dir>/blocks` files with
    a checkpoint (exactly-once, nothing driver-side) — executors write,
    the returned DataFrame is a plain parquet scan of the sink. Byte
    identity with the batch encoder is pinned for BOTH sinks in
    tests/test_streaming.py."""
    import glob
    import os
    import shutil

    from pyspark.sql import functions as F

    pts_path = os.path.join(work_dir, "in")
    tmp_path = os.path.join(work_dir, "tmp")
    shutil.rmtree(pts_path, ignore_errors=True)
    os.makedirs(pts_path, exist_ok=True)
    # watermarks need TIMESTAMP; parquet NTZ inputs are cast under the
    # session's pinned-UTC zone
    pts = points_df.select(
        "source", "doc_id", F.col("ts").cast("timestamp").alias("ts"),
        "value",
    )
    far = pts.agg(F.max("ts").alias("m")).collect()[0]["m"]
    frames = [pts]
    for i, days in enumerate((365, 366)):
        frames.append(
            spark.createDataFrame(
                [(sentinel_source, "s", far, float(i))],
                "source string, doc_id string, ts timestamp, value double",
            ).withColumn("ts", F.col("ts") + F.expr(f"INTERVAL {days} DAYS"))
        )
    # one flat file per micro-batch with strictly increasing mtimes — the
    # file source processes oldest-modified first
    for i, frame in enumerate(frames):
        shutil.rmtree(tmp_path, ignore_errors=True)
        frame.coalesce(1).write.mode("overwrite").parquet(tmp_path)
        part = glob.glob(os.path.join(tmp_path, "part-*.parquet"))[0]
        dst = os.path.join(pts_path, f"{i:02d}.parquet")
        shutil.move(part, dst)
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
    shutil.rmtree(tmp_path, ignore_errors=True)
    stream = (
        spark.readStream.schema(
            "source string, doc_id string, ts timestamp, value double"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(pts_path)
    )
    out = stream_encode_blocks(stream, block_seconds=block_seconds)
    if sink == "parquet":
        blocks_path = os.path.join(work_dir, "blocks")
        ckpt_path = os.path.join(work_dir, "ckpt")
        shutil.rmtree(blocks_path, ignore_errors=True)
        shutil.rmtree(ckpt_path, ignore_errors=True)
        q = (
            out.writeStream.format("parquet")
            .option("path", blocks_path)
            .option("checkpointLocation", ckpt_path)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(blocks_path).filter(
            F.col("source") != sentinel_source
        )
    if sink != "memory":
        raise ValueError(f"unknown sink {sink!r} (memory|parquet)")
    import uuid

    name = f"stream_blocks_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # Materialize and drop the memory-sink table before returning: the sink
    # holds the fully-built result in driver memory, and leaking one
    # uuid-named table per call would accumulate across bench rounds /
    # repeated driver runs in a long-lived session.
    sealed = spark.table(name).filter(F.col("source") != sentinel_source)
    schema = sealed.schema
    rows = sealed.collect()
    spark.catalog.dropTempView(name)
    return spark.createDataFrame(rows, schema)
