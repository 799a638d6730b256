"""The benchmark's workloads: what each pass runs and how it is checked.

A workload has three phases, all driven from one client thread:

* ``inputs``     — the seeded inputs, made or read from the cache (never
  timed);
* ``references`` — the reference answers, computed on the measurement
  session after set-up (never timed); their jobs also warm that session;
* ``run_pass``   — one pass of timed operations, each through ``Ops.op``,
  with correctness checks between them (checks are not timed).
"""

from __future__ import annotations

import os
import shutil
from concurrent.futures import ThreadPoolExecutor

import numpy as np

import inputs

T0 = "2024-01-01 00:00:00"
T0_US = 1704067200 * 10**6
TIER_COLS = [
    "source", "doc_id", "bucket_ts", "n_obs", "sum_val", "min_val",
    "max_val", "first_val", "last_val", "avg_val", "first_pos", "last_pos",
]
POINT_COLS = ["source", "doc_id", "ts", "value"]

HEADLINE = [
    "rollup_1m",
    "rollup_1h",
    "zscore_outliers",
    "lag_features",
    "resample_week_median",
    "phenometrics",
    "gorilla_roundtrip",
    "whittaker_gapfill",
]


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f))
        for r, _, fs in os.walk(path) for f in fs
    )


class Lifecycle:
    """The production job over a token corpus, from a fresh store each pass:
    ingest -> main commit -> late commit -> tier reads -> block compaction
    -> retention."""

    name = "lifecycle"
    N_DOCS = 2000
    LATE_SHARE = 0.02  # split docs; their tails make a ~1% late batch
    READ_SOURCE = "rvi"
    RETENTION_NOW = "2024-02-15 00:00:00"
    EXPECT_DROPPED = {"blocks": 3, "1m": 2}
    SAMPLE_DOCS = 16

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.first_manifests: dict[str, dict[str, str]] = {}

    # --- inputs and references (untimed) -----------------------------------
    def inputs(self, spark) -> None:
        c = self.ctx
        self.full_path = inputs.token_corpus(spark, c.cache, c.seed,
                                             self.N_DOCS)
        # the late batch is made from the next seed: it picks which docs
        # arrive late and where their token arrays are cut
        self.main_path, self.late_path = inputs.split_late(
            self.full_path, c.cache, c.seed + 1, self.LATE_SHARE
        )

    def references(self, spark, ops) -> None:
        from fusets_spark.operators.rollup import rollup_ladder_from_tokens
        from fusets_spark.plans.lineage import content_hash
        from pyspark.sql import functions as F

        c = self.ctx
        full = self.full_path
        docs, toks = inputs.read_tokens(full)
        self.n_docs = len(docs)
        self.n_points = int(sum(int((t != -1).sum()) for t in toks))
        rng = np.random.default_rng(c.seed)
        pick = rng.choice(len(docs), self.SAMPLE_DOCS, replace=False)
        self.sample = {docs[i]: toks[i] for i in pick}

        # single-pass answers over the unsplit documents: what merged reads
        # of the two-batch store must equal
        ladder = rollup_ladder_from_tokens(
            spark.read.parquet(full), t0=T0, with_order_keys=True
        )
        src = F.col("source") == self.READ_SOURCE
        pts = (
            spark.read.parquet(full)
            .filter(src)
            .select("source", "doc_id",
                    F.posexplode("tokens").alias("pos", "tok"))
            .filter(F.col("tok") != -1)
            .select(
                "source", "doc_id",
                F.timestamp_seconds(
                    F.lit(T0_US // 10**6) + F.col("pos")).alias("ts"),
                F.col("tok").cast("double").alias("value"),
            )
        )
        refs = {
            "read_merged_1m": ladder.filter(
                F.col("tier") == "1m").select(TIER_COLS),
            "read_1h_pruned": ladder.filter(
                (F.col("tier") == "1h") & src).select(TIER_COLS),
            "read_decode_blocks": pts,
        }
        with ThreadPoolExecutor(max_workers=len(refs)) as pool:
            runs = {n: pool.submit(content_hash, df) for n, df in refs.items()}
        self.ref = {
            n: ops.check(f"reference.{n}", fut.result)
            for n, fut in runs.items()
        }

    # --- one pass -----------------------------------------------------------
    def run_pass(self, spark, ops) -> None:
        from fusets_spark.codec.blocks import decode_blocks
        from fusets_spark.operators import ingest
        from fusets_spark.plans.lineage import content_hash
        from fusets_spark.plans.pipeline import RollupPipeline
        from pyspark.sql import functions as F

        store = os.path.join(self.ctx.work, "store")
        shutil.rmtree(store, ignore_errors=True)
        try:
            main = spark.read.parquet(self.main_path)
            late = spark.read.parquet(self.late_path)
            pipe = RollupPipeline(store, t0=T0)
            src = F.col("source") == self.READ_SOURCE

            ops.op("ingest", lambda: noop(ingest.ingest_from_tokens(main, t0=T0)))
            ops.op("commit_main", lambda: pipe.process_batch(main, "b-main"),
                   io=True)
            ops.op("commit_late", lambda: pipe.process_batch(late, "b-late"))
            if ops.broken:
                return
            with ops.checking("commit_late"):
                self._check_store(spark, pipe, ops)
                self._check_manifests(pipe, ops, final=False)
            if ops.broken:
                return
            reads = {
                "read_merged_1m": lambda: pipe.read_tier(
                    spark, "1m", merged=True),
                "read_1h_pruned": lambda: pipe.read_tier(
                    spark, "1h", merged=True).filter(src),
                "read_asof_5m": lambda: pipe.read_tier(
                    spark, "5m", as_of_batches={"b-main"}),
                "read_decode_blocks": lambda: decode_blocks(
                    pipe.read_tier(spark, "blocks").filter(src)),
            }
            # the time-travel read must hash to what the main commit's
            # manifest recorded; the others to the single-pass answers
            main_5m = pipe.store.manifest("5m", "b-main")
            ref = dict(self.ref, read_asof_5m=(main_5m.n_rows,
                                               main_5m.content_hash))
            for name, build in reads.items():
                cols = POINT_COLS if name == "read_decode_blocks" else TIER_COLS
                ops.op(
                    name, lambda b=build, c=cols: content_hash(b().select(c)),
                    check=lambda h, n=name: h == ref[n],
                )
            ops.op("compact", lambda: pipe.compact_block_batches(
                spark, ["b-main", "b-late"], "compact-1", 86400))
            if ops.broken:
                return
            with ops.checking("compact"):
                got = pipe.read_tier(spark, "blocks").agg(
                    F.sum("n_points")).collect()[0][0]
                ops.verify("compact", got == self.n_points,
                           f"compacted n_points {got} != {self.n_points}")
                self._check_manifests(pipe, ops, final=True)
            ops.op(
                "retention",
                lambda: pipe.apply_retention(self.RETENTION_NOW),
                check=lambda d: {t: len(b) for t, b in d.items()}
                == self.EXPECT_DROPPED,
            )
        finally:
            shutil.rmtree(store, ignore_errors=True)

    # --- checks -------------------------------------------------------------
    def _check_store(self, spark, pipe, ops) -> None:
        """Every tier holds every point of both batches, sampled docs decode
        to their token arrays, and the store's size is recorded."""
        from fusets_spark.codec.gorilla import decode_blocks_batch
        from pyspark.sql import functions as F

        sums = None
        for tier in ("1m", "5m", "1h", "blocks"):
            col = "n_points" if tier == "blocks" else "n_obs"
            part = pipe.read_tier(spark, tier).select(
                F.lit(tier).alias("tier"), F.col(col).alias("n"))
            sums = part if sums is None else sums.unionByName(part)
        got = {r["tier"]: r["n"] for r in
               sums.groupBy("tier").agg(F.sum("n").alias("n")).collect()}
        for tier in ("1m", "5m", "1h", "blocks"):
            ops.verify("commit_late", got.get(tier) == self.n_points,
                       f"{tier} holds {got.get(tier)} points, "
                       f"want {self.n_points}")
        rows = (
            pipe.read_tier(spark, "blocks")
            .filter(F.col("doc_id").isin(list(self.sample)))
            .select("doc_id", "block").collect()
        )
        by_doc: dict[str, list[bytes]] = {}
        for r in rows:
            by_doc.setdefault(r["doc_id"], []).append(bytes(r["block"]))
        for doc, toks in self.sample.items():
            if doc not in by_doc:
                ops.verify("commit_late", False, f"no blocks for {doc}")
                continue
            _, ts, vals = decode_blocks_batch(by_doc[doc])
            order = np.argsort(ts, kind="stable")
            pos = np.flatnonzero(toks != -1)
            ok = (
                len(ts) == len(pos)
                and np.array_equal(ts[order], T0_US + pos * 10**6)
                and np.array_equal(vals[order], toks[pos].astype(np.float64))
            )
            ops.verify("commit_late", ok, f"decoded blocks of {doc} differ")
        tiers = os.path.join(pipe.store.root, "tiers")
        ops.stat("store_bytes", tree_bytes(tiers))
        ops.stat("block_bytes", tree_bytes(os.path.join(tiers, "blocks")))
        ops.stat("rows_main", sum(
            pipe.store.manifest(s, "b-main").n_rows
            for s in ("1m", "5m", "1h", "blocks")))
        ops.stat("bytes_written", sum(
            m.n_bytes for s in ("1m", "5m", "1h", "blocks")
            for m in pipe.store.manifests(s)))

    def _check_manifests(self, pipe, ops, final: bool) -> None:
        """Manifest content hashes repeat from pass to pass."""
        got = {
            f"{s}/{m.batch_id}": m.content_hash
            for s in ("1m", "5m", "1h", "blocks")
            for m in pipe.store.manifests(s)
        }
        key = "final" if final else "commit"
        want = self.first_manifests.setdefault(key, got)
        ops.verify("commit_late" if not final else "compact", got == want,
                   "manifest content hashes changed between passes")


class HeadlineQueries:
    """The 8 bench.py headline queries through ``queries()`` and a noop
    sink, over the sf0.1 events with seeded keys."""

    name = "headline_queries"

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.hashes: dict[str, dict] = {}

    def inputs(self, spark) -> None:
        import __spark_entry__ as entry

        self.sf_dir = inputs.events_table(self.ctx.cache, self.ctx.seed)
        self.queries = dict(entry.queries())
        # bench.py times whittaker on the full corpus, not the registered
        # query's cheap-oracle subset; so does this benchmark
        self.queries["whittaker_gapfill"] = full_whittaker

    def references(self, spark, ops) -> None:
        """Every headline query once, on the measurement session: the ones
        with an oracle_sql() entry are compared with DuckDB on the same
        events, and every output's content hash is kept for the passes to
        repeat (the full-corpus whittaker has no oracle: the registered one
        covers a deterministic subset only)."""
        import __spark_entry__ as entry
        import duckdb

        oracles = entry.oracle_sql()
        con = duckdb.connect()
        try:
            path = os.path.join(self.sf_dir, "events.parquet")
            con.execute(
                "CREATE VIEW events AS SELECT * FROM read_parquet('"
                + path.replace("'", "''") + "')"
            )
            # untimed: the executions run side by side, and warm the
            # session's JIT and Python workers for the passes
            with ThreadPoolExecutor(max_workers=self.ctx.cores) as pool:
                runs = {n: pool.submit(self._execute, spark, n)
                        for n in HEADLINE}
            for name, fut in runs.items():
                def reference(name=name, fut=fut):
                    got, h = fut.result()
                    if got is not None and not _same_rows(
                            got, con.execute(oracles[name]).df()):
                        raise AssertionError("differs from its DuckDB oracle")
                    return h

                self.hashes[name] = ops.check(f"reference.{name}", reference)
        finally:
            con.close()

    def _execute(self, spark, name: str):
        """(collected output, or None for whittaker; observed hash)."""
        df, obs = observed(self.queries[name](spark, self.sf_dir))
        if name == "whittaker_gapfill":
            noop(df)
            return None, obs.get
        return df.toPandas(), obs.get  # the hash exists once the job ran

    def run_pass(self, spark, ops) -> None:
        for name in HEADLINE:
            def run(name=name):
                df, obs = observed(self.queries[name](spark, self.sf_dir))
                noop(df)
                return obs.get
            ops.op(name, run, check=lambda h, n=name: h == self.hashes[n])


def observed(df):
    """(df with an order-insensitive content hash observed while it runs,
    the Observation). Row count, xor and modular sum of per-row xxhash64
    over every column as a string — the lineage manifest's fold — computed
    inside the query's own job instead of a second one."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    row = F.xxhash64(*[F.col(f"`{c}`").cast("string") for c in df.columns])
    obs = Observation()
    return df.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(row).alias("x"),
        F.sum(F.pmod(row, F.lit(2**31))).alias("s"),
    ), obs


def full_whittaker(spark, sf_dir):
    """bench.py's full-corpus whittaker_gapfill headline query."""
    from fusets_spark.operators.whittaker import whittaker_gapfill
    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    pts = ev.select(
        F.col("event_type").alias("source"),
        F.col("user_id").cast("string").alias("doc_id"),
        "ts",
        "value",
    )
    return whittaker_gapfill(pts, lmbd=100.0, grid_seconds=3600)


def _same_rows(a, b) -> bool:
    """Same column names (in any order), row count and multiset of rows:
    exact values, timestamps as epoch microseconds, NaN equal to null, an
    integer column equal to a float column of the same values."""
    import pandas as pd
    from pandas.api import types

    if sorted(a.columns) != sorted(b.columns) or len(a) != len(b):
        return False
    b = b[list(a.columns)]

    def plain(s):
        if types.is_datetime64_any_dtype(s):
            if s.dt.tz is not None:
                s = s.dt.tz_localize(None)
            return s.astype("datetime64[us]").astype("int64")
        return s

    ca, cb = {}, {}
    for c in a.columns:
        x, y = plain(a[c]), plain(b[c])
        if types.is_numeric_dtype(x) and types.is_numeric_dtype(y):
            if types.is_float_dtype(x) or types.is_float_dtype(y):
                x, y = x.astype("float64"), y.astype("float64")
        else:
            x = x.astype(object).where(x.notna(), None)
            y = y.astype(object).where(y.notna(), None)
        ca[c], cb[c] = x.to_numpy(), y.to_numpy()

    def rows(cols):
        df = pd.DataFrame(cols)
        return df.sort_values(list(df.columns), kind="stable",
                              na_position="first").reset_index(drop=True)

    return rows(ca).equals(rows(cb))


WORKLOADS = {w.name: w for w in (Lifecycle, HeadlineQueries)}
