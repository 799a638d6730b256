"""Seeded benchmark inputs, cached on disk by (seed, size).

Every input is a pure function of the workload seed and the size constants
below, so a cache hit is always safe to reuse. Generation is never timed.

* token corpora come from ``fusets_spark.datagen.generate_tokens`` (the
  canonical tokenized-sequence table);
* the late batch delivers the tail of some documents' token arrays, whose
  heads stay in the main batch;
* the float event stream is the sf0.1 ``events`` table (100,000 events,
  1,500 users, 5 event types, 30 days), kept in ``data/``, with user ids
  and event types remapped by seeded bijections.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TOKENS_MIN, TOKENS_MAX = 128, 384
TOKEN_MISSING = -1

EVENTS_SF01 = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "data", "events_sf0.1.parquet"
)


def _publish(tmp: str, final: str) -> None:
    """Atomically move a finished input directory into place."""
    if os.path.exists(final):
        shutil.rmtree(tmp, ignore_errors=True)
        return
    os.replace(tmp, final)


def token_corpus(spark, cache: str, seed: int, n_docs: int) -> str:
    """Parquet path of ``generate_tokens(n_docs, seed)`` (128-384 tokens)."""
    from fusets_spark.datagen import generate_tokens

    path = os.path.join(cache, f"tokens-s{seed}-n{n_docs}")
    if not os.path.exists(path):
        tmp = path + f".tmp{os.getpid()}"
        generate_tokens(
            spark, n_docs, seed=seed, min_tok=TOKENS_MIN, max_tok=TOKENS_MAX,
            partitions=4,
        ).write.mode("overwrite").parquet(tmp)
        _publish(tmp, path)
    return path


def read_tokens(path: str) -> tuple[list[str], list[np.ndarray]]:
    """(doc_id, token array) of every doc of a corpus, in doc_id order."""
    t = pq.read_table(path, columns=["doc_id", "tokens"]).sort_by("doc_id")
    toks = [
        np.asarray(a, dtype=np.int64)
        for a in t.column("tokens").to_pylist()
    ]
    return t.column("doc_id").to_pylist(), toks


def split_late(corpus: str, cache: str, seed: int, share: float):
    """Split a corpus into a main batch and a late batch; returns their
    parquet paths.

    A seeded ``share`` of documents is cut at a seeded position: the main
    batch keeps the head (tail masked as missing) and the late batch
    delivers the tail (head masked). Positions survive masking, so a merged
    tier read over both batches equals a single-pass rollup of the unsplit
    documents, and cross-batch partials share (series, bucket) keys."""
    root = os.path.join(
        cache, os.path.basename(corpus) + f"-late-s{seed}-p{share}"
    )
    if not os.path.exists(root):
        tmp = root + f".tmp{os.getpid()}"
        t = pq.read_table(corpus).sort_by("doc_id")
        rng = np.random.default_rng(seed)
        late = np.flatnonzero(rng.random(t.num_rows) < share)
        head = [np.asarray(a, dtype=np.int32)
                for a in t.column("tokens").to_pylist()]
        tail = []
        for i in late:
            cut = int(rng.integers(1, len(head[i])))
            tail.append(head[i].copy())
            tail[-1][:cut] = TOKEN_MISSING
            head[i] = head[i].copy()
            head[i][cut:] = TOKEN_MISSING
        col = t.schema.get_field_index("tokens")
        kind = t.schema.field("tokens").type
        for name, rows, arrays in [
            ("main", t, head),
            ("late", t.take(pa.array(late, pa.int64())), tail),
        ]:
            os.makedirs(os.path.join(tmp, name))
            pq.write_table(
                rows.set_column(col, "tokens", pa.array(arrays, type=kind)),
                os.path.join(tmp, name, "part-0.parquet"),
            )
        _publish(tmp, root)
    return os.path.join(root, "main"), os.path.join(root, "late")


def events_table(cache: str, seed: int) -> str:
    """Directory holding ``events.parquet``: the sf0.1 ``events`` table
    (``data/events_sf0.1.parquet``) with ``user_id`` and ``event_type``
    remapped by seeded bijections. Row count, timestamps, values and the
    per-user and per-type group sizes stay fixed; only which key a group
    lands on varies with the seed."""
    root = os.path.join(cache, f"events-sf0.1-s{seed}")
    if not os.path.exists(root):
        tmp = root + f".tmp{os.getpid()}"
        os.makedirs(tmp)
        t = pq.read_table(EVENTS_SF01)
        rng = np.random.default_rng(seed)
        users = t.column("user_id").to_numpy()
        ids = np.unique(users)
        users = ids[rng.permutation(len(ids))][np.searchsorted(ids, users)]
        types = np.asarray(t.column("event_type").to_pylist())
        names = np.unique(types)
        types = names[rng.permutation(len(names))][
            np.searchsorted(names, types)]
        t = t.set_column(t.schema.get_field_index("user_id"), "user_id",
                         pa.array(users, pa.int64()))
        t = t.set_column(t.schema.get_field_index("event_type"), "event_type",
                         pa.array(types.tolist(), pa.string()))
        pq.write_table(t, os.path.join(tmp, "events.parquet"))
        _publish(tmp, root)
    return root
