"""Tiered continuous aggregates: raw -> 1m -> 5m -> 1h.

Semantics mirror the reference's temporal resample (reference
_phenolopy.py:448-511, ds.resample(time=interval)) generalized to the
TimescaleDB-style retention ladder required by the north rule.

Exactness strategy (parity at every tier):
  * sums are computed on the integer token domain (int64) so they are
    order-insensitive and bit-exact under any shuffle/salting;
  * avg is derived as sum/count at read time (one deterministic double
    division), never re-averaged across tiers;
  * first/last are argmin/argmax by a *unique* ordering key (pos / ts),
    so min_by/max_by are deterministic without a sort.

Tier k+1 is computed FROM tier k (partial+final reuse — the map-side combine
the reference never had), so the 1h tier never rescans raw points.

Skew: `salted_rollup` exposes the two-phase salted aggregation required for
hot (source, bucket) keys — phase 1 aggregates on (keys..., salt), phase 2
merges. Because all merge functions (sum/count/min/max + argmin/argmax by
unique key) are associative+commutative, salting cannot change results.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _dt_ns(ns):
    """int64 epoch-ns ndarray -> datetime64[ns], as a free reinterpret.
    pd.to_datetime on integer input takes the per-element object path
    (~0.28 s per million rows); the values are identical. The view skips
    pd.to_datetime's out-of-bounds check: a corrupt epoch that overflows
    on the way to nanoseconds becomes a wrong timestamp instead of an
    error. Callers pass encoder- and kernel-internal epochs only."""
    import numpy as np

    return np.ascontiguousarray(ns, dtype=np.int64).view("datetime64[ns]")

TIERS = {"1m": 60, "5m": 300, "1h": 3600}
SERIES_KEYS = ["source", "doc_id"]

_AGG_COLS = ["n_obs", "sum_val", "min_val", "max_val", "first_val", "last_val"]


def _with_avg(df: DataFrame) -> DataFrame:
    return df.withColumn(
        "avg_val", F.col("sum_val").cast("double") / F.col("n_obs")
    )


def rollup_from_raw(
    points: DataFrame,
    tier: str,
    value_col: str = "value",
    order_col: str = "pos",
    integer_values: bool = True,
    with_order_keys: bool = False,
) -> DataFrame:
    """Aggregate raw points into one tier.

    points: (source, doc_id, <order_col>, ts, value) — value NULL rows already
    dropped; order_col must be unique per series (token pos / event_id).
    integer_values=True sums on int64 (bit-exact under any shuffle order);
    False keeps double sums (token tables are the integer domain, generic
    event streams are not).

    Output: (source, doc_id, bucket_ts, n_obs, sum_val, min_val, max_val,
             first_val, last_val, avg_val)
    """
    from ..session import fanout_partitions

    # Narrow scans (one parquet row group) would otherwise run the whole
    # map-side aggregation on one core; the keyed fan-out keeps exchange
    # count AND per-group row order identical (see fanout_partitions).
    points = fanout_partitions(points, keys=tuple(SERIES_KEYS))
    seconds = TIERS[tier]
    bucket_ts = F.timestamp_seconds(
        F.unix_timestamp("ts") - F.pmod(F.unix_timestamp("ts"), F.lit(seconds))
    )
    v = F.col(value_col)
    sum_expr = F.sum(v.cast("long")) if integer_values else F.sum(v)
    extra = (
        [
            F.min(F.col(order_col)).alias("first_pos"),
            F.max(F.col(order_col)).alias("last_pos"),
        ]
        if with_order_keys
        else []
    )
    out = (
        points.groupBy(*SERIES_KEYS, bucket_ts.alias("bucket_ts"))
        .agg(
            F.count(v).alias("n_obs"),
            sum_expr.alias("sum_val"),
            F.min(v).alias("min_val"),
            F.max(v).alias("max_val"),
            F.min_by(v, F.col(order_col)).alias("first_val"),
            F.max_by(v, F.col(order_col)).alias("last_val"),
            *extra,
        )
    )
    return _with_avg(out)


def merge_tier_partials(partials: DataFrame) -> DataFrame:
    """EXACT merge of per-batch tier partials for the same (series, bucket)
    — the late-data path of the continuous aggregate: when a later batch
    contributes points to an already-materialized bucket, reading the tier
    means re-merging partial rows. Every merge is associative+commutative
    (sums/counts/min/max), and first/last merge exactly because partials
    carry their order keys (first_pos/last_pos from
    rollup_from_raw(with_order_keys=True)): the merged first is the
    first_val of the partial with the smallest first_pos. Output schema ==
    the input schema (merging is idempotent and composable)."""
    merged = partials.groupBy(*SERIES_KEYS, "bucket_ts").agg(
        F.sum("n_obs").alias("n_obs"),
        F.sum("sum_val").alias("sum_val"),
        F.min("min_val").alias("min_val"),
        F.max("max_val").alias("max_val"),
        F.min_by("first_val", F.col("first_pos")).alias("first_val"),
        F.max_by("last_val", F.col("last_pos")).alias("last_val"),
        F.min("first_pos").alias("first_pos"),
        F.max("last_pos").alias("last_pos"),
    )
    return _with_avg(merged)


def rollup_from_tier(lower: DataFrame, tier: str) -> DataFrame:
    """Re-aggregate a finer tier into a coarser one (1m->5m, 5m->1h).

    first/last merge by bucket_ts (unique per series within the coarser
    bucket), so the result is identical to aggregating raw directly.
    """
    seconds = TIERS[tier]
    bucket_ts = F.timestamp_seconds(
        F.unix_timestamp("bucket_ts")
        - F.pmod(F.unix_timestamp("bucket_ts"), F.lit(seconds))
    )
    out = (
        lower.groupBy(*SERIES_KEYS, bucket_ts.alias("bucket_ts"))
        .agg(
            F.sum("n_obs").alias("n_obs"),
            F.sum("sum_val").alias("sum_val"),
            F.min("min_val").alias("min_val"),
            F.max("max_val").alias("max_val"),
            F.min_by("first_val", F.col("bucket_ts")).alias("first_val"),
            F.max_by("last_val", F.col("bucket_ts")).alias("last_val"),
        )
    )
    return _with_avg(out)


def rollup_ladder(points: DataFrame) -> dict[str, DataFrame]:
    """Full retention ladder; coarser tiers derive from finer ones."""
    t1m = rollup_from_raw(points, "1m")
    t5m = rollup_from_tier(t1m, "5m")
    t1h = rollup_from_tier(t5m, "1h")
    return {"1m": t1m, "5m": t5m, "1h": t1h}


def rollup_tokens_native(
    tokens_df: DataFrame,
    tier: str,
    t0: str = "2024-01-01 00:00:00",
) -> DataFrame:
    """SHUFFLE-FREE tier rollup straight from the tokenized-sequence table.

    A (doc_id, bucket) group can never span two input rows — the tokens
    array IS the whole series — so the aggregation is a pure map: one
    vectorized numpy reduceat pass per Arrow batch, no explode, no shuffle.
    This is the ingest-path twin of codec.blocks.encode_blocks_from_tokens
    and produces rows identical to rollup_from_raw(explode_raw(tokens))
    (tested). Missing tokens (-1) are skipped (reference NaN convention).

    At 10^12-sequence scale this turns the hottest stage of the ladder from
    a full-corpus shuffle into an embarrassingly parallel scan."""
    import pandas as pd
    from collections.abc import Iterator

    seconds = TIERS[tier]
    t0_s = int(pd.Timestamp(t0).value // 10**9)

    def _roll(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        import numpy as np

        for pdf in batches:
            tok_list = [np.asarray(t, dtype=np.int64) for t in pdf["tokens"]]
            if not tok_list:
                continue
            lens = np.asarray([len(t) for t in tok_list], dtype=np.int64)
            toks = np.concatenate(tok_list)
            doc_idx = np.repeat(np.arange(len(tok_list)), lens)
            doc_start = np.r_[0, np.cumsum(lens)[:-1]]
            pos = np.arange(len(toks), dtype=np.int64) - doc_start[doc_idx]
            keep = toks != -1
            if not keep.any():
                continue
            d = doc_idx[keep]
            p = pos[keep]
            v = toks[keep]
            epoch = t0_s + p
            bucket = epoch - epoch % seconds
            newgrp = np.r_[True, (d[1:] != d[:-1]) | (bucket[1:] != bucket[:-1])]
            starts = np.flatnonzero(newgrp)
            ends = np.r_[starts[1:], len(d)]
            vf = v.astype(np.float64)
            n_obs = (ends - starts).astype(np.int64)
            sums = np.add.reduceat(v, starts)
            yield pd.DataFrame(
                {
                    "source": pdf["source"].to_numpy()[d[starts]],
                    "doc_id": pdf["doc_id"].to_numpy()[d[starts]],
                    "bucket_ts": _dt_ns(bucket[starts] * 10**9),
                    "n_obs": n_obs,
                    "sum_val": sums,
                    "min_val": np.minimum.reduceat(vf, starts),
                    "max_val": np.maximum.reduceat(vf, starts),
                    "first_val": vf[starts],
                    "last_val": vf[ends - 1],
                    "avg_val": sums / n_obs,
                }
            )

    schema = (
        "source string, doc_id string, bucket_ts timestamp, n_obs long, "
        "sum_val long, min_val double, max_val double, first_val double, "
        "last_val double, avg_val double"
    )
    return tokens_df.select("source", "doc_id", "tokens").mapInPandas(
        _roll, schema=schema
    )


def decode_token_batch(pdf):
    """Shared Arrow-batch decode for every from-tokens kernel: flatten one
    pandas batch's `tokens` arrays into (src_arr, doc_arr, d, pos, v)
    where d indexes src_arr/doc_arr, pos is the 0-based token position and
    v the token value, with -1 sentinels (missing) dropped. Returns None
    for empty / all-missing batches. Factoring the decode out lets the
    fused single-scan ingest (operators/ingest.py) share ONE decode with
    the ladder and the block encoder — at 200M points per bench run the
    decode + Arrow transfer dominates kernel CPU, so fusing halves it —
    and makes their outputs identical by construction."""
    import numpy as np

    tok_list = [np.asarray(t, dtype=np.int64) for t in pdf["tokens"]]
    if not tok_list:
        return None
    lens = np.asarray([len(t) for t in tok_list], dtype=np.int64)
    toks = np.concatenate(tok_list)
    doc_idx = np.repeat(np.arange(len(tok_list)), lens)
    doc_start = np.r_[0, np.cumsum(lens)[:-1]]
    pos = np.arange(len(toks), dtype=np.int64) - doc_start[doc_idx]
    keep = toks != -1
    if not keep.any():
        return None
    return (
        pdf["source"].to_numpy(),
        pdf["doc_id"].to_numpy(),
        doc_idx[keep],
        pos[keep],
        toks[keep],
    )


def ladder_frames(
    src_arr, doc_arr, d, pos_kept, v, t0_s, with_order_keys
):
    """Pure-numpy ladder fold over one decoded batch -> list of per-tier
    pandas frames: 1m reduced from raw positions, 5m re-aggregating the
    in-memory 1m group arrays, 1h the 5m arrays (the same associative
    merges as rollup_from_tier)."""
    import numpy as np
    import pandas as pd

    def reduce_tier(d, bucket, n, s, mn, mx, fv, lv, fp, lp, seconds):
        # merge finer-tier group arrays into coarser buckets (order keys
        # ride along: groups are pos-sorted, so the coarse first is the
        # first fine group's first)
        b2 = bucket - bucket % seconds
        new = np.r_[True, (d[1:] != d[:-1]) | (b2[1:] != b2[:-1])]
        st = np.flatnonzero(new)
        en = np.r_[st[1:], len(d)]
        return (
            d[st],
            b2[st],
            np.add.reduceat(n, st),
            np.add.reduceat(s, st),
            np.minimum.reduceat(mn, st),
            np.maximum.reduceat(mx, st),
            fv[st],
            lv[en - 1],
            fp[st],
            lp[en - 1],
        )

    epoch = t0_s + pos_kept
    bucket = epoch - epoch % TIERS["1m"]
    new = np.r_[True, (d[1:] != d[:-1]) | (bucket[1:] != bucket[:-1])]
    st = np.flatnonzero(new)
    en = np.r_[st[1:], len(d)]
    vf = v.astype(np.float64)
    cur = (
        d[st],
        bucket[st],
        (en - st).astype(np.int64),
        np.add.reduceat(v, st),
        np.minimum.reduceat(vf, st),
        np.maximum.reduceat(vf, st),
        vf[st],
        vf[en - 1],
        pos_kept[st],
        pos_kept[en - 1],
    )
    frames = []
    for tier, seconds in [("1m", None), ("5m", 300), ("1h", 3600)]:
        if seconds is not None:
            cur = reduce_tier(*cur, seconds)
        td, tb, tn, ts_, tmn, tmx, tf, tl, tfp, tlp = cur
        cols = {
            "source": src_arr[td],
            "doc_id": doc_arr[td],
            "bucket_ts": _dt_ns(tb * 10**9),
            "n_obs": tn,
            "sum_val": ts_,
            "min_val": tmn,
            "max_val": tmx,
            "first_val": tf,
            "last_val": tl,
            "avg_val": ts_ / tn,
            "tier": tier,
        }
        if with_order_keys:
            cols["first_pos"] = tfp
            cols["last_pos"] = tlp
        frames.append(pd.DataFrame(cols))
    return frames


LADDER_SCHEMA_BASE = (
    "source string, doc_id string, bucket_ts timestamp, n_obs long, "
    "sum_val long, min_val double, max_val double, first_val double, "
    "last_val double, avg_val double, tier string"
)


def rollup_ladder_from_tokens(
    tokens_df: DataFrame,
    t0: str = "2024-01-01 00:00:00",
    with_order_keys: bool = False,
) -> DataFrame:
    """ONE-PASS shuffle-free ladder: all three tiers (1m, 5m, 1h) from a
    single scan of the tokenized-sequence table, inside one mapInPandas —
    zero shuffles, zero explode (see ladder_frames for the fold).

    Output: rollup rows + `tier` label column; exactly equal (tested) to
    rollup_ladder_union(explode_raw(tokens))."""
    import pandas as pd
    from collections.abc import Iterator

    t0_s = int(pd.Timestamp(t0).value // 10**9)

    def _roll(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        for pdf in batches:
            dec = decode_token_batch(pdf)
            if dec is None:
                continue
            src_arr, doc_arr, d, pos_kept, v = dec
            yield pd.concat(
                ladder_frames(
                    src_arr, doc_arr, d, pos_kept, v, t0_s, with_order_keys
                ),
                ignore_index=True,
            )

    schema = LADDER_SCHEMA_BASE + (
        ", first_pos long, last_pos long" if with_order_keys else ""
    )
    return tokens_df.select("source", "doc_id", "tokens").mapInPandas(
        _roll, schema=schema
    )


def rollup_ladder_union(points: DataFrame) -> DataFrame:
    """All tiers as one DataFrame with a `tier` label column — materializes
    the whole ladder in a single Spark job (one map-side pass over raw
    points; the coarse tiers reaggregate the fine tier's shuffle output)."""
    ladder = rollup_ladder(points)
    out = None
    for tier, df in ladder.items():
        tagged = df.withColumn("tier", F.lit(tier))
        out = tagged if out is None else out.unionByName(tagged)
    return out


def salted_rollup(
    points: DataFrame,
    tier: str,
    n_salts: int = 16,
    value_col: str = "value",
    integer_values: bool = True,
) -> DataFrame:
    """Two-phase salted aggregation for hot (source, bucket) skew.

    Phase 1 groups by (series, bucket, salt) — the salt (pos % n_salts)
    spreads one hot key over n_salts reducers, bounding any single task.
    Phase 2 merges partials. Integer sums + argmin/argmax-by-unique-key make
    the result independent of the salt count. AQE handles join skew but not
    groupBy skew on hot series — this does (SURVEY.md §4).
    """
    seconds = TIERS[tier]
    bucket_ts = F.timestamp_seconds(
        F.unix_timestamp("ts") - F.pmod(F.unix_timestamp("ts"), F.lit(seconds))
    )
    v = F.col(value_col)
    sum_expr = F.sum(v.cast("long")) if integer_values else F.sum(v)
    partial = (
        points.withColumn("_salt", F.pmod(F.col("pos"), F.lit(n_salts)))
        .groupBy(*SERIES_KEYS, bucket_ts.alias("bucket_ts"), F.col("_salt"))
        .agg(
            F.count(v).alias("n_obs"),
            sum_expr.alias("sum_val"),
            F.min(v).alias("min_val"),
            F.max(v).alias("max_val"),
            F.min_by(v, F.col("pos")).alias("first_val"),
            F.min("pos").alias("_first_pos"),
            F.max_by(v, F.col("pos")).alias("last_val"),
            F.max("pos").alias("_last_pos"),
        )
    )
    out = (
        partial.groupBy(*SERIES_KEYS, "bucket_ts")
        .agg(
            F.sum("n_obs").alias("n_obs"),
            F.sum("sum_val").alias("sum_val"),
            F.min("min_val").alias("min_val"),
            F.max("max_val").alias("max_val"),
            F.min_by("first_val", F.col("_first_pos")).alias("first_val"),
            F.max_by("last_val", F.col("_last_pos")).alias("last_val"),
        )
    )
    return _with_avg(out)
