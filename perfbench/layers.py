"""The traced run: per-layer metrics for one workload.

Three passes run on the set-up session: untraced, traced, untraced. The
traced pass wraps the layers' public entry points (and the PySpark actions
they trigger) in spans; Spark's event log, folded per span, splits each
span's jobs into engine layers. The first, untraced pass gives the
workload-level walls (it is the pass the end-to-end runs time); the last
one, on the same warmed session as the traced pass, gives the tracing
overhead. Driver-side kernel and codec timings run without Spark. Every
metric in PER_LAYER is printed; a layer the workload does not exercise
reads 0.
"""

from __future__ import annotations

import glob
import os
import statistics
import time

import numpy as np

from procstats import cpu_ticks, steal_share
from spans import fold_event_log, spark_totals
from workloads import HEADLINE

# the overhead pass starts only before this many seconds into the run, so a
# slow traced run still ends within 180 s; otherwise the overhead compares
# the traced pass with the first one
OVERHEAD_PASS_BY_S = 120.0

# (name, unit) of every per-layer metric, in print order
PER_LAYER: list[tuple[str, str]] = [
    ("session.jvm_start_s", "s"),
    ("session.get_spark_s", "s"),
    ("session.ship_package_s", "s"),
    ("ingest_seq_per_s", "seq/s"),
    ("ingest.kernel_ns_per_point", "ns/point"),
    ("ingest.python_run_s", "s"),
    ("ingest.python_init_s", "s"),
    ("ingest.arrow_bytes_to_python", "B"),
    ("ingest.arrow_bytes_from_python", "B"),
    ("ingest.rows_out", "count"),
    ("ingest.scaling_eff_1to4", "ratio"),
    ("codec.encode_ns_per_point", "ns/point"),
    ("codec.decode_ns_per_point", "ns/point"),
    ("codec.block_bits_per_point", "bit/point"),
    ("codec.compact_python_run_s", "s"),
    ("codec.decode_python_run_s", "s"),
    ("store_bytes_per_point", "B/point"),
    ("compact_s", "s"),
    ("lineage.write_batch_s", "s"),
    ("lineage.write_batch_calls", "count"),
    ("lineage.parquet_write_s", "s"),
    ("lineage.stats_pass_s", "s"),
    ("lineage.bytes_written", "B"),
    ("lineage.commit_watermark_s", "s"),
    ("lineage.live_batches_s", "s"),
    ("lineage.apply_retention_s", "s"),
    ("lineage.mark_superseded_s", "s"),
    ("commit_seq_per_s", "seq/s"),
    ("commit_cpu_s", "cpu-s"),
    ("pipeline.staging_write_s", "s"),
    ("pipeline.spark_jobs_per_commit", "count"),
    ("pipeline.disk_write_bytes_per_seq", "B/seq"),
    ("pipeline.late_commit_s", "s"),
    ("pipeline.read_tier_plan_s", "s"),
    ("pipeline.read_1h_pruned_s", "s"),
    ("pipeline.read_asof_s", "s"),
    ("read_merged_1m_s", "s"),
    ("read_decode_blocks_s", "s"),
    ("tier_reads_s", "s"),
    ("lifecycle_s", "s"),
    ("rollup.merge_tier_partials_s", "s"),
    ("rollup.merge_shuffle_bytes", "B"),
    *[(f"query.{q}_s", "s") for q in HEADLINE],
    ("queries_s", "s"),
    ("spark.scan_time_s", "s"),
    ("spark.shuffle_write_time_s", "s"),
    ("spark.shuffle_bytes", "B"),
    ("spark.agg_build_time_s", "s"),
    ("spark.sort_time_s", "s"),
    ("spark.python_start_s", "s"),
    ("spark.python_init_s", "s"),
    ("spark.python_run_s", "s"),
    ("spark.python_bytes_sent", "B"),
    ("spark.python_bytes_returned", "B"),
    ("spark.jvm_cpu_s", "cpu-s"),
    ("spark.gc_s", "s"),
    ("spark.spill_bytes", "B"),
    ("spark.jobs", "count"),
    ("spark.tasks", "count"),
    ("spark.tasks_failed", "count"),
    ("spark.stage_skew", "ratio"),
    ("bench.traced_pass_s", "s"),
    ("bench.trace_overhead_s", "s"),
    ("bench.span_coverage", "ratio"),
    ("bench.unattributed_s", "s"),
    ("bench.op_self_s", "s"),
    ("bench.bootstrap_s", "s"),
    ("mem.peak_pss_mib", "MiB"),
    ("host.cpu_steal_share", "ratio"),
    ("hygiene.tmp_dirs_leaked", "count"),
    ("hygiene.persisted_rdds", "count"),
    ("hygiene.catalog_tables", "count"),
    ("hygiene.active_streams", "count"),
]


def span_targets(spark) -> list[tuple[object, str, str]]:
    """(owner, attribute, span name) of every wrapped entry point."""
    from fusets_spark.codec import blocks
    from fusets_spark.operators import ingest, rollup, whittaker
    from fusets_spark.plans.lineage import TierStore
    from fusets_spark.plans.pipeline import RollupPipeline

    df = spark.range(1)
    targets = [
        (RollupPipeline, m, f"pipeline.{m}")
        for m in ("process_batch", "read_tier", "compact_block_batches",
                  "apply_retention")
    ]
    targets += [
        (TierStore, m, f"lineage.{m}")
        for m in ("write_batch", "commit_watermark",
                  "live_batches", "apply_retention", "mark_superseded")
    ]
    targets += [
        (ingest, "ingest_from_tokens", "ingest.ingest_from_tokens"),
        (rollup, "merge_tier_partials", "rollup.merge_tier_partials"),
        (blocks, "compact_blocks", "codec.compact_blocks"),
        (blocks, "decode_blocks", "codec.decode_blocks"),
        (blocks, "roundtrip_points", "codec.roundtrip_points"),
        (whittaker, "whittaker_gapfill", "whittaker.whittaker_gapfill"),
        (type(df.write), "parquet", "spark.parquet"),
        (type(df.write), "save", "spark.save"),
        (type(df), "collect", "spark.collect"),
    ]
    return targets


def traced_run(ctx, wl, spark, ops, tracer, pss, before: dict) -> dict:
    """Run the three passes and return every PER_LAYER metric."""

    def one_pass(traced: bool) -> dict:
        ops.begin_pass()
        if traced:
            tracer.enabled = True
            with tracer.patched(span_targets(spark)), tracer.span("bench.pass"):
                wl.run_pass(spark, ops)
            tracer.enabled = False
        else:
            wl.run_pass(spark, ops)
        p = ops.end_pass()
        ctx.log_pass(p)
        return p

    # the first pass matches what the untraced runs time; the traced pass
    # and the untraced one after it both run on a warmed session, so their
    # difference is the tracing overhead
    pss.active.set()
    ticks0 = cpu_ticks()
    first = one_pass(False)
    ticks1 = cpu_ticks()
    traced = one_pass(True)
    if time.monotonic() - ctx.t_start < OVERHEAD_PASS_BY_S:
        warm = one_pass(False)
    else:
        ctx.log("late: no overhead pass")
        warm = first
    pss.active.clear()
    after = ctx.hygiene(spark)
    app_id = spark.sparkContext.applicationId
    spark.stop()
    m = dict.fromkeys((name for name, _ in PER_LAYER), 0.0)
    m.update(ctx.layer)
    m["mem.peak_pss_mib"] = pss.peak / 2**20
    m["host.cpu_steal_share"] = steal_share(ticks0, ticks1)

    # --- spans and the event log of the traced pass --------------------------
    logs = glob.glob(os.path.join(ctx.event_log, f"*{app_id}*"))
    folded = fold_event_log(logs[0]) if logs else {}
    root = tracer.by_name("bench.pass")[0]
    in_pass = [root] + tracer.subtree(root["id"])
    checks = tracer.ids_under("bench.check")
    under = tracer.ids_under

    def engine(ids: set[str]) -> dict:
        return spark_totals(folded, ids)

    pass_ids = {s["id"] for s in in_pass} - checks
    for k, v in engine(pass_ids).items():
        m[f"spark.{k}"] = v
    ops_spans = [s for s in in_pass if s["parent"] == root["id"]]
    pass_wall = root["t1"] - root["t0"]
    covered = sum(s["t1"] - s["t0"] for s in ops_spans)
    self_t = tracer.self_times()
    m["bench.traced_pass_s"] = sum(traced["wall"].values())
    m["bench.span_coverage"] = covered / pass_wall if pass_wall else 0.0
    m["bench.unattributed_s"] = pass_wall - covered
    m["bench.op_self_s"] = sum(
        self_t[s["id"]] for s in ops_spans if s["name"].startswith("op.")
    )
    m["bench.trace_overhead_s"] = (
        m["bench.traced_pass_s"] - sum(warm["wall"].values()))
    for key in after:
        m[f"hygiene.{key}"] = after[key] - before[key]

    def op_wall(name: str) -> float:
        return first["wall"].get(name, 0.0)

    if wl.name == "lifecycle":
        eng = engine(under("op.ingest"))
        m["ingest.python_run_s"] = eng["python_run_s"]
        m["ingest.python_init_s"] = eng["python_init_s"]
        m["ingest.arrow_bytes_to_python"] = eng["python_bytes_sent"]
        m["ingest.arrow_bytes_from_python"] = eng["python_bytes_returned"]
        m["codec.compact_python_run_s"] = engine(under("op.compact"))["python_run_s"]
        m["codec.decode_python_run_s"] = engine(
            under("op.read_decode_blocks"))["python_run_s"]
        writes = under("lineage.write_batch")
        m["lineage.write_batch_s"] = tracer.total("lineage.write_batch")
        m["lineage.write_batch_calls"] = len(tracer.by_name("lineage.write_batch"))
        m["lineage.parquet_write_s"] = tracer.total("spark.parquet", "lineage.write_batch")
        m["lineage.stats_pass_s"] = tracer.total("spark.collect", "lineage.write_batch")
        for name in ("commit_watermark", "live_batches", "apply_retention",
                     "mark_superseded"):
            m[f"lineage.{name}_s"] = tracer.total(f"lineage.{name}")
        commits = under("pipeline.process_batch")
        m["pipeline.staging_write_s"] = sum(
            s["t1"] - s["t0"] for s in tracer.by_name("spark.parquet")
            if s["id"] in commits and s["id"] not in writes
        )
        m["pipeline.spark_jobs_per_commit"] = engine(under("op.commit_main"))["jobs"]
        m["pipeline.late_commit_s"] = tracer.total("op.commit_late")
        m["pipeline.read_tier_plan_s"] = sum(
            s["t1"] - s["t0"] for s in tracer.by_name("pipeline.read_tier")
            if s["id"] not in checks
        )
        m["pipeline.read_1h_pruned_s"] = tracer.total("op.read_1h_pruned")
        m["pipeline.read_asof_s"] = tracer.total("op.read_asof_5m")
        m["rollup.merge_tier_partials_s"] = tracer.total(
            "spark.collect", "op.read_merged_1m")
        m["rollup.merge_shuffle_bytes"] = engine(
            under("op.read_merged_1m"))["shuffle_bytes"]

        n_docs, n_points = wl.n_docs, wl.n_points
        stats = first["stats"]
        m["ingest_seq_per_s"] = _per(n_docs, op_wall("ingest"))
        m["ingest.rows_out"] = stats.get("rows_main", 0)
        m["commit_seq_per_s"] = _per(n_docs, op_wall("commit_main"))
        m["commit_cpu_s"] = first["cpu"].get("commit_main", 0.0)
        m["pipeline.disk_write_bytes_per_seq"] = (
            first["io"].get("commit_main", 0.0) / n_docs)
        m["compact_s"] = op_wall("compact")
        m["lifecycle_s"] = sum(first["wall"].values())
        m["store_bytes_per_point"] = stats.get("store_bytes", 0) / n_points
        m["codec.block_bits_per_point"] = stats.get("block_bytes", 0) * 8 / n_points
        m["lineage.bytes_written"] = stats.get("bytes_written", 0)
        m["read_merged_1m_s"] = op_wall("read_merged_1m")
        m["read_decode_blocks_s"] = op_wall("read_decode_blocks")
        m["tier_reads_s"] = sum(
            op_wall(n) for n in ("read_merged_1m", "read_1h_pruned",
                                 "read_asof_5m", "read_decode_blocks"))

        ops.check("kernel_microbench", lambda: _ingest_kernels(wl, m),
                  check=bool)
        segs = _token_segments(wl.main_path)
        ops.check("codec_microbench", lambda: _codec(segs, m), check=bool)
        # ingest at local[1] vs local[cores]: the N -> 4N scaling pair
        t1 = ops.check("ingest_local1", lambda: _ingest_local1(ctx, wl),
                       check=lambda t: t > 0)
        m["ingest.scaling_eff_1to4"] = _per(t1 or 0.0,
                                            op_wall("ingest") * ctx.cores)
    else:
        m["codec.decode_python_run_s"] = engine(
            under("op.gorilla_roundtrip"))["python_run_s"]
        for q in HEADLINE:
            m[f"query.{q}_s"] = tracer.total(f"op.{q}")
        m["queries_s"] = sum(first["wall"].values())
        segs = _event_segments(os.path.join(wl.sf_dir, "events.parquet"))
        ops.check("codec_microbench", lambda: _codec(segs, m), check=bool)
    units = dict(PER_LAYER)
    return {k: {"value": float(m[k]), "unit": units[k]} for k, _ in PER_LAYER}


def _per(n: float, d: float) -> float:
    return n / d if d else 0.0


def _ingest_local1(ctx, wl) -> float:
    """Median ingest wall on a local[1] session, after one warm-up."""
    from fusets_spark.operators.ingest import ingest_from_tokens
    from fusets_spark.session import ship_package
    from workloads import T0, noop

    spark = ctx.session(1, event_log=False)
    try:
        ship_package(spark)
        main = spark.read.parquet(wl.main_path)
        noop(ingest_from_tokens(main, t0=T0))
        walls = []
        for _ in range(3):
            t = time.monotonic()
            noop(ingest_from_tokens(main, t0=T0))
            walls.append(time.monotonic() - t)
        return statistics.median(walls)
    finally:
        spark.stop()


def _timed(fn, reps: int = 3) -> float:
    out = []
    for _ in range(reps):
        t = time.perf_counter()
        fn()
        out.append(time.perf_counter() - t)
    return statistics.median(out)


def _ingest_kernels(wl, m: dict) -> bool:
    """decode_token_batch + ladder_frames + block_frame, called in the
    driver on the main batch as one pandas batch (no Spark)."""
    import pyarrow.parquet as pq
    from fusets_spark.codec.blocks import block_frame
    from fusets_spark.operators.rollup import decode_token_batch, ladder_frames
    from workloads import T0_US

    pdf = pq.read_table(
        wl.main_path, columns=["source", "doc_id", "tokens"]).to_pandas()

    def kernels():
        src, doc, d, pos, v = decode_token_batch(pdf)
        ladder_frames(src, doc, d, pos, v, T0_US // 10**6, True)
        block_frame(src, doc, d, T0_US + pos * 10**6, v.astype(np.float64), 3600)
        return len(v)

    n = kernels()
    m["ingest.kernel_ns_per_point"] = _timed(kernels) * 1e9 / n
    return n > 0


def _token_segments(path: str):
    """(ts µs, value) per (doc, hour) of a token batch — the blocks the
    ingest writes."""
    import pyarrow.parquet as pq
    from fusets_spark.operators.rollup import decode_token_batch
    from workloads import T0_US

    pdf = pq.read_table(path, columns=["source", "doc_id", "tokens"]).to_pandas()
    _, _, d, pos, v = decode_token_batch(pdf)
    ts = T0_US + pos * 10**6
    return _cut(d, ts, v.astype(np.float64), 3600)


def _event_segments(path: str):
    """(ts µs, value) per (event_type, user, day) — gorilla_roundtrip's
    blocks over the event stream."""
    import pyarrow.parquet as pq

    ev = pq.read_table(path).to_pandas().sort_values(
        ["event_type", "user_id", "ts"], kind="mergesort")
    key = ev["event_type"].astype("category").cat.codes.to_numpy() * 10**7 + ev[
        "user_id"].to_numpy()
    ts = ev["ts"].to_numpy().astype("datetime64[us]").astype(np.int64)
    return _cut(key, ts, ev["value"].to_numpy(np.float64), 86400)


def _cut(key, ts, vals, block_seconds: int):
    bucket = ts // (block_seconds * 10**6)
    cut = np.flatnonzero((key[1:] != key[:-1]) | (bucket[1:] != bucket[:-1])) + 1
    starts, ends = np.r_[0, cut], np.r_[cut, len(ts)]
    return ([ts[s:e] for s, e in zip(starts, ends)],
            [vals[s:e] for s, e in zip(starts, ends)])


def _codec(segs, m: dict) -> bool:
    """encode_blocks_batched / decode_blocks_batch in the driver; the round
    trip must restore every point."""
    from fusets_spark.codec.gorilla import decode_blocks_batch, encode_blocks_batched

    ts_segs, val_segs = segs
    n = sum(len(t) for t in ts_segs)
    blocks = encode_blocks_batched(ts_segs, val_segs)
    m["codec.encode_ns_per_point"] = _timed(
        lambda: encode_blocks_batched(ts_segs, val_segs)) * 1e9 / n
    m["codec.decode_ns_per_point"] = _timed(
        lambda: decode_blocks_batch(blocks)) * 1e9 / n
    if not m.get("codec.block_bits_per_point"):
        m["codec.block_bits_per_point"] = sum(len(b) for b in blocks) * 8 / n
    counts, ts, vals = decode_blocks_batch(blocks)
    return (
        np.array_equal(ts, np.concatenate(ts_segs))
        and np.array_equal(vals, np.concatenate(val_segs))
    )
