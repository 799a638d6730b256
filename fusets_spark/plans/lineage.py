"""Lineage manifests + watermark checkpoints for exact resume (north rule).

Commit protocol (per input batch, per tier):
  1. compute tier rows — a PURE function of (input batch, config): integer
     sums, argmin/argmax by unique keys, deterministic codecs (no
     partition-count or batch-order dependence anywhere);
  2. write the batch's rows under the tier's `batch=<id>` partition with
     dynamic partition overwrite (re-running replaces exactly that
     partition — idempotent);
  3. write the lineage manifest (row count + order-insensitive content hash
     + config hash) for the (tier, batch);
  4. LAST, advance the watermark file atomically (temp + rename).

Crash between any steps -> the batch is simply reprocessed on resume and
overwrites its own partition with identical content (verified by the
kill-and-resume test). The content hash is an order-insensitive fold
(sum of per-row xxhash64 over canonicalized values), so it is stable under
any shuffle order or parallelism.

On a real cluster the same protocol runs against Iceberg (`replaceWhere` /
MERGE per partition + snapshot ids in the manifest); the filesystem layout
here mirrors that with plain parquet partitions.
"""

from __future__ import annotations

import json
import os
import tempfile
from collections.abc import Iterable
from dataclasses import asdict, dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType


@dataclass
class Manifest:
    tier: str
    batch_id: str
    n_rows: int
    content_hash: str
    config_hash: str
    n_bytes: int = 0  # on-disk bytes of the batch's partition tree
    min_ts: str = ""  # ISO min/max bucket_ts of the batch (retention key)
    max_ts: str = ""
    expired: bool = False  # data partition dropped by retention policy
    superseded_by: str = ""  # compaction rewrote this batch into another
    # Batches this batch REWRITES (compaction): recorded in the NEW batch's
    # manifest so the supersede takes effect atomically with its commit —
    # the moment the rewritten batch is committed, snapshot readers exclude
    # the sources, even before their partitions are physically dropped
    # (the Iceberg analog: one snapshot swaps data files in and out).
    supersedes: list[str] | None = None


def _stats_aggs(cols: list[str]) -> list:
    """The manifest's ONE aggregation list: row count, order-insensitive
    content hash, and min/max bucket_ts when that column exists. Hash = bit_xor fold
    of xxhash64 over every column of every row (canonicalized to strings)
    plus a modular sum — both order-insensitive and overflow-free,
    identical under any partitioning/parallelism or grouping. The
    (xor, modsum, count) triple makes accidental collisions (duplicate-row
    cancellation in xor) detectable."""
    row_hash = F.xxhash64(*[F.col(c).cast("string") for c in cols])
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(row_hash).alias("x"),
        F.sum(F.pmod(row_hash, F.lit(2**31))).alias("s"),
    ]
    if "bucket_ts" in cols:
        aggs += [F.min("bucket_ts").alias("lo"), F.max("bucket_ts").alias("hi")]
    return aggs


def _fold_stats(r) -> tuple[int, str, str, str]:
    """(row count, content hash, ISO min/max bucket_ts — empty when absent)
    from one row of _stats_aggs."""
    d = r.asDict()
    x = int(d["x"] or 0) & 0xFFFFFFFFFFFFFFFF
    s = int(d["s"] or 0) % (2**31)
    lo, hi = ("" if d.get(k) is None else str(d[k]) for k in ("lo", "hi"))
    return int(d["n"]), f"{x:016x}-{s:08x}", lo, hi


def content_hash(df: DataFrame) -> tuple[int, str]:
    """(row count, order-insensitive content hash) — the manifest's fold."""
    n, h, _, _ = _fold_stats(df.agg(*_stats_aggs(df.columns)).collect()[0])
    return n, h


def _part_cols(cols: list[str]) -> list[str]:
    """Partition columns of a frame holding a `batch` column."""
    return ["batch"] + (["source"] if "source" in cols else [])


def _leaf_dir(*roots: str) -> str | None:
    """First directory under the first root that has one (sorted walk)
    holding a parquet data file, or None."""
    for root in roots:
        for d, subdirs, files in os.walk(root):
            subdirs.sort()
            if any(f.endswith(".parquet") for f in files):
                return d
    return None


class TierStore:
    """Filesystem layout:
    root/tiers/<tier>/batch=<id>/*.parquet     (dynamic partition overwrite)
    root/manifests/<tier>/<batch>.json
    root/watermarks/<tier>.json                 (atomic rename commit)
    """

    def __init__(self, root: str):
        self.root = root
        for d in ("tiers", "manifests", "watermarks"):
            os.makedirs(os.path.join(root, d), exist_ok=True)

    # --- paths
    def tier_path(self, tier: str) -> str:
        return os.path.join(self.root, "tiers", tier)

    def _manifest_path(self, tier: str, batch_id: str) -> str:
        d = os.path.join(self.root, "manifests", tier)
        os.makedirs(d, exist_ok=True)
        return os.path.join(d, f"{batch_id}.json")

    def _wm_path(self, tier: str) -> str:
        return os.path.join(self.root, "watermarks", f"{tier}.json")

    # --- watermarks
    def watermark(self, tier: str) -> str | None:
        """Last committed batch id (display/metrics only — resume decisions
        use set membership via is_committed, never id ordering: string
        comparison would mis-order non-zero-padded ids like batch-10 <
        batch-9 and skip or reprocess batches)."""
        p = self._wm_path(tier)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)["batch_id"]

    def committed(self, tier: str) -> set[str]:
        """Exact set of committed batch ids for the tier."""
        p = self._wm_path(tier)
        if not os.path.exists(p):
            return set()
        with open(p) as f:
            d = json.load(f)
        return set(d.get("committed", [d["batch_id"]] if "batch_id" in d else []))

    def is_committed(self, tier: str, batch_id: str) -> bool:
        return batch_id in self.committed(tier)

    def commit_watermark(self, tier: str, batch_id: str) -> None:
        done = self.committed(tier)
        done.add(batch_id)
        p = self._wm_path(tier)
        fd, tmp = tempfile.mkstemp(dir=os.path.dirname(p))
        with os.fdopen(fd, "w") as f:
            json.dump(
                {"batch_id": batch_id, "tier": tier, "committed": sorted(done)},
                f,
            )
        os.replace(tmp, p)  # atomic on POSIX

    # --- batch commit
    def write_batch(
        self,
        df: DataFrame,
        tier: str,
        batch_id: str,
        config_hash: str,
        supersedes: list[str] | None = None,
    ) -> Manifest:
        """Steps 2-3 of the protocol for one batch (caller advances the
        watermark). `supersedes`: batch ids this batch rewrites
        (compaction) — recorded in THIS batch's manifest so snapshot
        readers drop the sources atomically with this batch's commit.

        Layout: batch=<id>/source=<s>/ — the source subpartition gives
        partition pruning on the hot filter dimension (the Iceberg analog
        is PARTITIONED BY (batch, source, hours(bucket_ts)))."""
        out = df.withColumn("batch", F.lit(batch_id))
        return self._commit(out, tier, [batch_id], config_hash, supersedes)[
            batch_id
        ]

    def write_batches(
        self,
        df: DataFrame,
        tier: str,
        batch_col: str,
        config_hash: str,
    ) -> dict[str, Manifest]:
        """Commit MANY batches from one DataFrame in O(1) Spark jobs —
        protocol-equivalent to calling write_batch once per distinct value
        of `batch_col` (a write_batch loop re-executes the input plan and
        runs a stats aggregation per batch; at 52 weekly batches that was
        104 sequential jobs for seconds of actual data). Watermarks are
        left to the caller, as with write_batch. Rows are clustered by
        their partition dirs before the write: without it every write
        task sprays a file into every batch=/source= dir it touches."""
        out = df.withColumnRenamed(batch_col, "batch")
        batch_ids = sorted(
            r["batch"] for r in out.select("batch").distinct().collect()
        )  # bounded: one row per batch
        return self._commit(
            out.repartition(*_part_cols(out.columns)), tier, batch_ids,
            config_hash,
        )

    def _commit(
        self,
        out: DataFrame,
        tier: str,
        batch_ids: list[str],
        config_hash: str,
        supersedes: list[str] | None = None,
    ) -> dict[str, Manifest]:
        """The one commit routine: write `out` (data columns + a string
        `batch` column holding `batch_ids`) and each batch's manifest.

        An uncommitted batch=<id> tree from a crashed earlier attempt may
        hold source= subpartitions the new rows no longer produce — dynamic
        overwrite would leave them in place (and the read-back would hash
        stale rows). The batches are uncommitted, so dropping their whole
        trees first is exactly the overwrite semantics wanted.

        Manifest stats come from the JUST-WRITTEN files, not a second
        execution of the input plan, in one pass grouped by batch. The
        read-back names its schema (the input's plus `batch string`), so
        partition values like '0123' stay strings without touching the
        session's partition-type inference, and no footer is read to
        infer it."""
        import shutil

        path = self.tier_path(tier)
        for bid in batch_ids:
            shutil.rmtree(os.path.join(path, f"batch={bid}"), ignore_errors=True)
        data = [f for f in out.schema.fields if f.name != "batch"]
        data_cols = [f.name for f in data]
        (
            out.write.mode("overwrite")
            .partitionBy(*_part_cols(out.columns))
            .option("partitionOverwriteMode", "dynamic")
            .parquet(path)
        )
        parts = {bid: os.path.join(path, f"batch={bid}") for bid in batch_ids}
        back = (
            out.sparkSession.read.schema(
                StructType(data + [StructField("batch", StringType())])
            )
            .option("basePath", path)
            .parquet(*parts.values())
        )
        stats = {
            r["batch"]: _fold_stats(r)
            for r in back.groupBy("batch").agg(*_stats_aggs(data_cols)).collect()
        }
        mans: dict[str, Manifest] = {}
        for bid, part in parts.items():
            n, h, lo, hi = stats[bid]
            m = Manifest(
                tier, bid, n, h, config_hash, self._tree_bytes(part), lo, hi,
                supersedes=sorted(supersedes) if supersedes else None,
            )
            self._write_manifest(m)
            mans[bid] = m
        return mans

    def read(
        self, spark: SparkSession, tier: str, batch_ids: Iterable[str]
    ) -> DataFrame:
        """The tier's rows of `batch_ids`, partition columns (`batch`,
        `source`) as strings. The data schema comes from one leaf
        directory — a read that discovers no partitions — and the
        partition columns are appended as strings, so the scan runs no
        partition-type inference: a numeric-looking id like '0123' stays a
        string, and the batch filter stays a plan-time partition-pruning
        predicate."""
        path = self.tier_path(tier)
        ids = sorted(batch_ids)
        leaf = _leaf_dir(*[os.path.join(path, f"batch={b}") for b in ids], path)
        if leaf is None:
            raise FileNotFoundError(f"no parquet data under {path}")
        schema = StructType(
            spark.read.parquet(leaf).schema.fields
            + [
                StructField(d.split("=", 1)[0], StringType())
                for d in os.path.relpath(leaf, path).split(os.sep)
            ]
        )
        return (
            spark.read.schema(schema)
            .parquet(path)
            .filter(F.col("batch").isin(ids))
        )

    # --- snapshot-consistent read set
    def live_batches(self, tier: str) -> set[str]:
        """The batch ids a consistent reader should see RIGHT NOW:
        committed, not expired by retention, and not superseded by a
        committed compaction rewrite. Metadata-only (manifests + the
        watermark set) — this is the Iceberg snapshot's file list.

        Raw directory listings are NOT a consistent view: an uncommitted
        batch=<id> tree from a crashed write is visible on disk, and a
        crash between a compaction's commit and its source-partition drops
        leaves BOTH the rewritten batch and its sources on disk. Both
        anomalies are excluded here: uncommitted ids are absent from the
        watermark set, and a committed rewrite's `supersedes` list retires
        its sources atomically with its commit."""
        committed = self.committed(tier)
        mans = {m.batch_id: m for m in self.manifests(tier)}
        dead: set[str] = set()
        for b in committed:
            m = mans.get(b)
            if m is None:
                continue
            if m.supersedes:
                dead |= set(m.supersedes)
        for b, m in mans.items():
            # legacy path: supersede recorded only on the source manifest
            if m.superseded_by and m.superseded_by in committed:
                dead.add(b)
            if m.expired:
                dead.add(b)
        return {b for b in committed if b not in dead}

    def _write_manifest(self, m: Manifest) -> None:
        """Atomic manifest write (temp + rename, same discipline as
        commit_watermark) — a crash mid-write must never leave truncated
        JSON that wedges manifest()/resume."""
        p = self._manifest_path(m.tier, m.batch_id)
        fd, tmp = tempfile.mkstemp(dir=os.path.dirname(p))
        with os.fdopen(fd, "w") as f:
            json.dump(asdict(m), f)
        os.replace(tmp, p)

    @staticmethod
    def _tree_bytes(path: str) -> int:
        total = 0
        for root, _, files in os.walk(path):
            for name in files:
                total += os.path.getsize(os.path.join(root, name))
        return total

    # --- retention (TimescaleDB-style drop_chunks over batch partitions)
    def apply_retention(
        self, policy: dict[str, float | None], now: str
    ) -> dict[str, list[str]]:
        """Enforce a per-tier retention policy: drop every committed batch
        partition whose newest bucket_ts is older than `now - keep_seconds`
        for its tier. Metadata-only decision (manifests carry the batch's
        time range), partition-level deletion — the Iceberg analog is
        `DELETE WHERE`/expire_snapshots on the (batch) partition.

        Lineage is preserved: the manifest stays, flagged expired=true
        (content hash still documents what the data WAS). Watermarks are
        untouched — retention never un-commits a batch, so resume logic
        keeps skipping it. Idempotent: already-expired manifests are
        skipped. Tiers mapped to None (or absent) are kept forever.

        Returns {tier: [expired batch ids]}."""
        import shutil
        from datetime import datetime, timedelta

        now_dt = datetime.fromisoformat(now)
        dropped: dict[str, list[str]] = {}
        for tier, keep in policy.items():
            if keep is None:
                continue
            cutoff = now_dt - timedelta(seconds=float(keep))
            for m in self.manifests(tier):
                if m.expired or not m.max_ts:
                    continue
                if datetime.fromisoformat(m.max_ts) >= cutoff:
                    continue
                part = os.path.join(self.tier_path(tier), f"batch={m.batch_id}")
                if os.path.isdir(part):
                    shutil.rmtree(part)
                m.expired = True
                self._write_manifest(m)
                dropped.setdefault(tier, []).append(m.batch_id)
        return dropped

    def mark_superseded(
        self, tier: str, batch_id: str, new_batch_id: str
    ) -> None:
        """Flag a batch as rewritten by compaction and drop its data
        partition (idempotent). The manifest stays for lineage — content
        hash still documents what the batch held; the committed set is
        untouched so resume keeps skipping the original batch id."""
        import shutil

        m = self.manifest(tier, batch_id)
        if m is None:
            return
        part = os.path.join(self.tier_path(tier), f"batch={batch_id}")
        if os.path.isdir(part):
            shutil.rmtree(part)
        if m.superseded_by != new_batch_id:
            m.superseded_by = new_batch_id
            self._write_manifest(m)

    def manifest(self, tier: str, batch_id: str) -> Manifest | None:
        p = self._manifest_path(tier, batch_id)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return Manifest(**json.load(f))

    def manifests(self, tier: str) -> list[Manifest]:
        d = os.path.join(self.root, "manifests", tier)
        out = []
        for name in sorted(os.listdir(d)) if os.path.isdir(d) else []:
            with open(os.path.join(d, name)) as f:
                out.append(Manifest(**json.load(f)))
        return out
