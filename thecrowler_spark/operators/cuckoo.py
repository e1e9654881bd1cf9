"""Partitioned cuckoo filter for the URL-seen set (custom piece #1,
SURVEY.md §4): the one optional prefilter in front of the exact
URL-seen join.

At 10^10 seen-URLs, joining every round's candidates against the full
seen table shuffles terabytes. The filter summarizes the seen set into
per-bucket blobs (bucket = ``pmod(xxhash64(key), n_buckets)``):
candidates that probe **negative are definitely unseen** and skip the
exact join; positives (seen + false positives) still get it, so the
result is identical to the plain anti-join. The filter is maintained
incrementally — each crawl round inserts only its visited delta — and
supports **deletion**: when a source becomes re-crawl-eligible
(update_sources interval gates, postgresql-setup.pgsql:2864-2884) its
URLs are *removed* from the summary instead of rebuilding the filter.

Design (partial-key cuckoo, Fan et al. 2014, public algorithm):
- key hashing happens JVM-side (``xxhash64`` twice → h1, h2), so the
  Python side touches only int64 arrays — vectorized numpy over Arrow
  batches, no per-row Python;
- 16-bit fingerprints, ``slots`` per table bucket, two candidate
  buckets i1 = h1 bits, i2 = i1 XOR mix(fp) over a power-of-two table;
- tables are sized to ≤50% load with 2×4 choices, which makes eviction
  chains unnecessary: insert tries i1 then i2, the (vanishingly rare)
  double-full case goes to a per-partition stash that probes exactly;
- build is ``applyInPandas`` per bucket (one blob per bucket → bounded
  memory per task); probe/insert/delete are ``cogroup().applyInPandas``
  so each bucket's keys meet exactly their bucket's blob. Insertion
  resolves within-bucket contention with a sort-rank pass, not
  per-item Python; deletion processes the delta key set per partition
  — the rare path by construction;
- duplicate inserts keep duplicate fingerprint copies (multiset), so
  deleting key X never creates a false negative for a *different*
  still-present key that collides with X.

Contract: probe False ⇒ key not in the (inserted − deleted) multiset.
Probe True may be a false positive (~2·slots/2^16 ≈ 0.02%), so the
exact join stays authoritative. Only keys actually inserted may be
deleted (standard cuckoo rule).

Reference analog: ``visitedLinks`` map + ``IsURLKnown`` EXISTS probe
(reference ``pkg/crawler/crawler.go:2223-2228``,
``pkg/database/queries.go:74-88``) — correct at one
process's scale, impossible at 10^10; this is the scale-out design.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_H2_SALT = 0x9E3779B9
_FP_MIX = np.uint64(0x5BD1E995)
CUCKOO_SCHEMA = (
    "bucket long, table binary, m long, slots int, stash binary, n_keys long,"
    " n_buckets int"
)


def _with_hashes(df: DataFrame, key_col: str, n_buckets: int) -> DataFrame:
    return df.withColumn("_h1", F.xxhash64(F.col(key_col))).withColumn(
        "_h2", F.xxhash64(F.col(key_col), F.lit(_H2_SALT))
    ).withColumn("_bucket", F.pmod(F.col("_h1"), F.lit(n_buckets)))


def _check_buckets(blob_pdf: pd.DataFrame, n_buckets: int) -> None:
    built_with = int(blob_pdf["n_buckets"].iloc[0])
    if built_with != n_buckets:
        raise ValueError(
            f"cuckoo filter was built with n_buckets={built_with}, "
            f"probed/updated with n_buckets={n_buckets} — bucket keying "
            "would silently mismatch"
        )


def _fp_and_buckets(h1: np.ndarray, h2: np.ndarray, m: int):
    """(fingerprint, i1, i2) arrays; m is a power of two."""
    mask = np.uint64(m - 1)
    fp = (h2.astype(np.uint64) & np.uint64(0xFFFF)).astype(np.uint16)
    fp = np.where(fp == 0, np.uint16(1), fp)
    i1 = ((h1.astype(np.uint64) >> np.uint64(16)) & mask).astype(np.int64)
    alt = ((fp.astype(np.uint64) * _FP_MIX) & mask).astype(np.int64)
    i2 = i1 ^ alt
    return fp, i1, i2


def _place(table: np.ndarray, bucket_idx: np.ndarray, fps: np.ndarray) -> np.ndarray:
    """Vectorized placement pass: try to put each (bucket, fp) into a
    free slot of its bucket. Returns a boolean 'placed' mask.

    Within-bucket contention resolves by sort-rank: items targeting the
    same bucket get ranks 0..g-1; rank r lands in the bucket's r-th
    free slot if one exists.
    """
    slots = table.shape[1]
    order = np.argsort(bucket_idx, kind="stable")
    b_sorted = bucket_idx[order]
    # rank within each bucket group
    first = np.ones(len(b_sorted), dtype=bool)
    first[1:] = b_sorted[1:] != b_sorted[:-1]
    grp_start = np.flatnonzero(first)
    rank = np.arange(len(b_sorted)) - np.repeat(grp_start, np.diff(np.append(grp_start, len(b_sorted))))
    free = (table[b_sorted] == 0).astype(np.int8)  # (n, slots) free mask
    free_cum = free.cumsum(axis=1)
    n_free_before = np.concatenate([np.zeros((len(b_sorted), 1), dtype=np.int8), free_cum[:, :-1]], axis=1)
    # item with rank r takes the slot where it is the (r+1)-th free slot
    take = (free == 1) & (n_free_before == rank[:, None])
    placed_sorted = take.any(axis=1)
    slot_sorted = np.where(placed_sorted, take.argmax(axis=1), 0)
    ok = np.flatnonzero(placed_sorted)
    table[b_sorted[ok], slot_sorted[ok]] = fps[order][ok]
    placed = np.zeros(len(bucket_idx), dtype=bool)
    placed[order[placed_sorted]] = True
    return placed


def build_cuckoo(
    seen: DataFrame,
    key_col: str = "norm_url",
    n_buckets: int = 64,
    slots: int = 4,
) -> DataFrame:
    """Per-bucket cuckoo blobs from the seen-key set (distinct keys)."""
    hashed = _with_hashes(seen.select(key_col).dropDuplicates(), key_col, n_buckets)

    def per_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        m = 1 << max(4, int(np.ceil(np.log2(max(1, 2 * n) / slots))) + 1)  # ≤50% load
        table = np.zeros((m, slots), dtype=np.uint16)
        fp, i1, i2 = _fp_and_buckets(pdf["_h1"].to_numpy(), pdf["_h2"].to_numpy(), m)
        placed = _place(table, i1, fp)
        rest = np.flatnonzero(~placed)
        if len(rest):
            placed2 = _place(table, i2[rest], fp[rest])
            rest = rest[~placed2]
        # double-full leftovers -> exact stash of (i1, fp) packed keys
        stash = (i1[rest].astype(np.uint64) << np.uint64(16)) | fp[rest].astype(np.uint64)
        return pd.DataFrame(
            {
                "bucket": [int(pdf["_bucket"].iloc[0])],
                "table": [table.tobytes()],
                "m": [m],
                "slots": [slots],
                "stash": [np.sort(stash).tobytes()],
                "n_keys": [n],
                "n_buckets": [n_buckets],
            }
        )

    return hashed.groupBy("_bucket").applyInPandas(per_bucket, CUCKOO_SCHEMA)


def _load_blob(blob_pdf: pd.DataFrame):
    m = int(blob_pdf["m"].iloc[0])
    slots = int(blob_pdf["slots"].iloc[0])
    table = np.frombuffer(blob_pdf["table"].iloc[0], dtype=np.uint16).reshape(m, slots).copy()
    stash = np.frombuffer(blob_pdf["stash"].iloc[0], dtype=np.uint64)
    return table, stash, m


def probe_cuckoo(
    candidates: DataFrame,
    cuckoo: DataFrame,
    key_col: str = "norm_url",
    n_buckets: int = 64,
) -> DataFrame:
    """Adds ``cuckoo_maybe`` (False ⇒ DEFINITELY unseen)."""
    cand = _with_hashes(candidates, key_col, n_buckets)
    out_schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in candidates.schema.fields
    ) + ", cuckoo_maybe boolean"

    def per_bucket(cand_pdf: pd.DataFrame, blob_pdf: pd.DataFrame) -> pd.DataFrame:
        res = cand_pdf.drop(columns=["_h1", "_h2", "_bucket"])
        if len(blob_pdf) == 0 or len(cand_pdf) == 0:
            res["cuckoo_maybe"] = False if len(cand_pdf) else pd.Series([], dtype=bool)
            return res
        _check_buckets(blob_pdf, n_buckets)
        table, stash, m = _load_blob(blob_pdf)
        fp, i1, i2 = _fp_and_buckets(
            cand_pdf["_h1"].to_numpy(), cand_pdf["_h2"].to_numpy(), m
        )
        hit = (table[i1] == fp[:, None]).any(axis=1) | (table[i2] == fp[:, None]).any(axis=1)
        if len(stash):
            packed = (i1.astype(np.uint64) << np.uint64(16)) | fp.astype(np.uint64)
            hit |= np.isin(packed, stash)
        res["cuckoo_maybe"] = hit.astype(bool)
        return res

    return (
        cand.groupBy("_bucket")
        .cogroup(cuckoo.groupBy("bucket"))
        .applyInPandas(per_bucket, out_schema)
    )


def insert_cuckoo(
    cuckoo: DataFrame,
    keys: DataFrame,
    key_col: str = "norm_url",
    n_buckets: int = 64,
    slots: int = 4,
) -> DataFrame:
    """Insert a key delta into an existing filter — the incremental
    maintenance path: at 10^10 seen-URLs a crawl round inserts only its
    visited DELTA instead of rebuilding from the full seen table.

    Capacity contract (partial-key cuckoo cannot grow its table without
    the original keys): size the initial build for the expected final
    population — the ≤50% build load leaves ≥2× headroom; once a
    bucket's table fills, overflow lands in the exact stash, which stays
    correct but probes linearly. Buckets with no existing blob get a
    fresh table (so insert-into-empty ≡ build).
    """

    cols = ["bucket", "table", "m", "slots", "stash", "n_keys", "n_buckets"]

    def per_bucket(key_pdf: pd.DataFrame, blob_pdf: pd.DataFrame) -> pd.DataFrame:
        if len(key_pdf) == 0:
            return blob_pdf[cols] if len(blob_pdf) else blob_pdf
        if len(blob_pdf) == 0:
            n = len(key_pdf)
            m = 1 << max(4, int(np.ceil(np.log2(max(1, 2 * n) / slots))) + 1)
            table = np.zeros((m, slots), dtype=np.uint16)
            stash_arr = np.array([], dtype=np.uint64)
            prev_keys = 0
            blob_bucket = int(key_pdf["_bucket"].iloc[0])
            blob_slots = slots
        else:
            _check_buckets(blob_pdf, n_buckets)
            table, stash_arr, m = _load_blob(blob_pdf)
            prev_keys = int(blob_pdf["n_keys"].iloc[0])
            blob_bucket = int(blob_pdf["bucket"].iloc[0])
            blob_slots = int(blob_pdf["slots"].iloc[0])
        fp, i1, i2 = _fp_and_buckets(
            key_pdf["_h1"].to_numpy(), key_pdf["_h2"].to_numpy(), m
        )
        placed = _place(table, i1, fp)
        rest = np.flatnonzero(~placed)
        if len(rest):
            placed2 = _place(table, i2[rest], fp[rest])
            rest = rest[~placed2]
        new_stash = (i1[rest].astype(np.uint64) << np.uint64(16)) | fp[rest].astype(np.uint64)
        stash_all = np.sort(np.concatenate([stash_arr, new_stash]))
        return pd.DataFrame(
            {
                "bucket": [blob_bucket],
                "table": [table.tobytes()],
                "m": [m],
                "slots": [blob_slots],
                "stash": [stash_all.tobytes()],
                "n_keys": [prev_keys + len(key_pdf)],
                "n_buckets": [n_buckets],
            }
        )

    hashed = _with_hashes(keys.select(key_col).dropDuplicates(), key_col, n_buckets)
    return (
        hashed.groupBy("_bucket")
        .cogroup(cuckoo.groupBy("bucket"))
        .applyInPandas(per_bucket, CUCKOO_SCHEMA)
    )


def delete_cuckoo(
    cuckoo: DataFrame,
    keys: DataFrame,
    key_col: str = "norm_url",
    n_buckets: int = 64,
) -> DataFrame:
    """Remove one fingerprint copy per key (re-crawl eligibility path —
    the operation a bloom filter cannot support). Keys must have been
    inserted. Returns the updated filter DataFrame."""

    cols = ["bucket", "table", "m", "slots", "stash", "n_keys", "n_buckets"]

    def per_bucket(key_pdf: pd.DataFrame, blob_pdf: pd.DataFrame) -> pd.DataFrame:
        if len(blob_pdf) == 0:
            return blob_pdf
        if len(key_pdf) == 0:
            return blob_pdf[cols]
        _check_buckets(blob_pdf, n_buckets)
        table, stash, m = _load_blob(blob_pdf)
        fp, i1, i2 = _fp_and_buckets(
            key_pdf["_h1"].to_numpy(), key_pdf["_h2"].to_numpy(), m
        )
        stash_list = list(stash)
        # delete is the rare path (eligibility deltas); per-key walk of
        # stash + two buckets, each O(slots). The key's OWN stash entry
        # is checked FIRST: a stashed key packed under its own i1 must
        # not instead zero a colliding still-present key's table copy
        # (that would break the multiset no-false-negative guarantee).
        for j in range(len(fp)):
            packed = (np.uint64(i1[j]) << np.uint64(16)) | np.uint64(fp[j])
            if packed in stash_list:
                stash_list.remove(packed)
                continue
            for b in (i1[j], i2[j]):
                s = np.flatnonzero(table[b] == fp[j])
                if len(s):
                    table[b, s[0]] = 0
                    break
        out = blob_pdf.iloc[[0]].copy()
        out["table"] = [table.tobytes()]
        out["stash"] = [np.sort(np.array(stash_list, dtype=np.uint64)).tobytes()]
        out["n_keys"] = [int(blob_pdf["n_keys"].iloc[0]) - len(key_pdf)]
        return out[cols]

    hashed = _with_hashes(keys.select(key_col).dropDuplicates(), key_col, n_buckets)
    return (
        hashed.groupBy("_bucket")
        .cogroup(cuckoo.groupBy("bucket"))
        .applyInPandas(per_bucket, CUCKOO_SCHEMA)
    )


def dedup_with_cuckoo(
    candidates: DataFrame,
    seen: DataFrame,
    key_col: str = "norm_url",
    n_buckets: int = 64,
    cuckoo: DataFrame | None = None,
) -> DataFrame:
    """candidates ∖ seen, cuckoo-accelerated; result set ≡ plain
    left_anti: negatives are definitely unseen and bypass the join,
    positives get the authoritative left_anti so false positives never
    drop a URL."""
    if cuckoo is None:
        cuckoo = build_cuckoo(seen, key_col, n_buckets)
    probed = probe_cuckoo(candidates, cuckoo, key_col, n_buckets)
    negatives = probed.filter(~F.col("cuckoo_maybe")).drop("cuckoo_maybe")
    positives = probed.filter(F.col("cuckoo_maybe")).drop("cuckoo_maybe")
    checked = positives.join(seen.select(key_col).dropDuplicates(), [key_col], "left_anti")
    return negatives.unionByName(checked)
