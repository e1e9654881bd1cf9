"""Snapshot-versioned parquet tables — the local stand-in for Iceberg.

Production target is Iceberg (MERGE INTO, snapshot ids, time travel,
expire_snapshots); this container has no Iceberg runtime, so
:class:`LakeTable` reproduces the semantics the crawl engine needs on
plain parquet:

- every write is a NEW immutable snapshot directory;
- the current pointer is committed via atomic ``os.replace`` (the
  snapshot-commit analog — readers never see a partial write);
- ``merge`` = keyed upsert (new rows win), the MERGE INTO analog used
  for SearchIndex/WebObjects-style sinks
  (/root/reference/pkg/crawler/crawler.go:1319-1369 upserts);
- ``read(snapshot_id)`` = time travel; ``expire_snapshots`` = GC.

Swapping to Iceberg is a sink change only for the sinks that go
through this interface. The crawl engine's per-round state does not: it
commits plain parquet directories plus a manifest per round (see
:mod:`..operators.frontier`).
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class LakeTable:
    def __init__(self, spark: SparkSession, path: str) -> None:
        self.spark = spark
        self.path = path
        os.makedirs(path, exist_ok=True)

    # ------------------------------------------------------------ meta

    def _pointer_path(self) -> str:
        return os.path.join(self.path, "_current.json")

    def current_snapshot(self) -> int | None:
        try:
            with open(self._pointer_path()) as f:
                return json.load(f)["snapshot_id"]
        except FileNotFoundError:
            return None

    def current_meta(self) -> dict:
        """Commit metadata of the current snapshot (e.g. the time-series
        aggregation checkpoint, recordTimeSeriesAggregationRun analog)."""
        try:
            with open(self._pointer_path()) as f:
                return json.load(f)
        except FileNotFoundError:
            return {}

    def snapshots(self) -> list[int]:
        out = []
        for d in os.listdir(self.path):
            if d.startswith("snap-"):
                out.append(int(d.split("-")[1]))
        return sorted(out)

    def _commit(self, snapshot_id: int, meta: dict | None = None) -> None:
        tmp = self._pointer_path() + ".tmp"
        with open(tmp, "w") as f:
            # reserved keys LAST so caller meta (e.g. a round-tripped
            # current_meta()) can never clobber the new pointer target
            json.dump({**(meta or {}), "snapshot_id": snapshot_id, "ts": time.time()}, f)
        os.replace(tmp, self._pointer_path())  # atomic commit

    def _snap_dir(self, snapshot_id: int) -> str:
        return os.path.join(self.path, f"snap-{snapshot_id:08d}")

    # ------------------------------------------------------------- ops

    def write(self, df: DataFrame, meta: dict | None = None) -> int:
        sid = (self.current_snapshot() or 0) + 1
        df.write.mode("overwrite").parquet(self._snap_dir(sid))
        self._commit(sid, meta)
        return sid

    def append(self, df: DataFrame) -> int:
        cur = self.current_snapshot()
        if cur is None:
            return self.write(df)
        return self.write(self.read().unionByName(df))

    def merge(self, df: DataFrame, key_cols: list[str]) -> int:
        """Keyed upsert: incoming rows replace current rows on key match
        (Iceberg ``MERGE INTO … WHEN MATCHED UPDATE WHEN NOT MATCHED INSERT``)."""
        cur = self.current_snapshot()
        if cur is None:
            return self.write(df.dropDuplicates(key_cols))
        current = self.read()
        kept = current.join(df.select(*key_cols).distinct(), key_cols, "left_anti")
        return self.write(kept.unionByName(df.dropDuplicates(key_cols)))

    def merge_scd2(
        self,
        df: DataFrame,
        key_cols: list[str],
        ts_col: str,
        attr_cols: list[str],
    ) -> int:
        """Type-2 slowly-changing-dimension merge: keep full attribute
        HISTORY per key as (valid_from, valid_to] intervals, the open
        row having valid_to = NULL.

        Incoming rows are (key, ts, attrs) versions. A version whose
        attrs equal the key's current open row (or the previous version
        within the batch) is a no-op; a changed version closes the open
        interval at its ts and opens a new one. Incremental merges are
        exactly equivalent to one batch derivation over all versions
        (tested + oracle-checked).

        Contract: ts must be unique per key and arrive monotonically
        non-decreasing across merges (the reference's Sources keep only
        last_updated_at — SCD1; this is the lakehouse-history extension).
        Plan: one lag + one lead window per key — partitions bounded by
        one key's version count; closed history passes through untouched.
        """
        from pyspark.sql import Window

        inc = df.select(*key_cols, ts_col, *attr_cols)
        base_closed = None
        if self.current_snapshot() is not None:
            cur = self.read()
            open_rows = cur.filter(F.col("valid_to").isNull()).select(
                *key_cols, F.col("valid_from").alias(ts_col), *attr_cols
            )
            base_closed = cur.filter(F.col("valid_to").isNotNull())
            inc = open_rows.unionByName(inc)
        w = Window.partitionBy(*key_cols).orderBy(ts_col)
        attrs = F.struct(*[F.col(c) for c in attr_cols])
        changed = (
            inc.withColumn("_prev", F.lag(attrs).over(w))
            .filter(F.col("_prev").isNull() | (F.col("_prev") != attrs))
            .drop("_prev")
        )
        out = (
            changed.withColumn("valid_from", F.col(ts_col))
            .withColumn("valid_to", F.lead(ts_col).over(w))
            .drop(ts_col)
        )
        hist = out if base_closed is None else base_closed.unionByName(out)
        return self.write(hist)

    def read(self, snapshot_id: int | None = None) -> DataFrame:
        sid = snapshot_id if snapshot_id is not None else self.current_snapshot()
        if sid is None:
            raise FileNotFoundError(f"no snapshot in {self.path}")
        return self.spark.read.parquet(self._snap_dir(sid))

    def compact(self, target_files: int = 1) -> int:
        """Rewrite the current snapshot into ``target_files`` files —
        the Iceberg ``rewrite_data_files`` analog for the reference's
        idle-time maintenance slot (VACUUM/REINDEX between polls,
        cmd/thecrowler/main.go checkSources maintenance). Data is
        unchanged; small append deltas stop multiplying scan tasks."""
        return self.write(self.read().coalesce(target_files))

    def compact_sorted(self, sort_cols: list[str], target_files: int = 4) -> int:
        """Sort-order rewrite — the Iceberg ``rewrite_data_files`` with a
        table sort order (z-order's simpler cousin): range-partition on
        ``sort_cols`` into ``target_files`` files, each internally
        sorted. Every file then owns a contiguous key range, so
        parquet min/max stats let a point/range filter on the sort key
        prune to ~1 file at read time (the scan-pruning that makes a
        10^10-row URL-seen table probe-able without touching every
        file). Data unchanged; a new snapshot is committed (old
        snapshots remain time-travelable)."""
        df = self.read()
        rewritten = df.repartitionByRange(
            target_files, *[F.col(c) for c in sort_cols]
        ).sortWithinPartitions(*sort_cols)
        return self.write(rewritten, meta={"sorted_by": sort_cols})

    def expire_snapshots(self, keep_last: int = 2) -> list[int]:
        """Drop all but the newest ``keep_last`` snapshots (never the
        current pointer's target)."""
        cur = self.current_snapshot()
        snaps = self.snapshots()
        to_drop = [s for s in snaps[:-keep_last] if s != cur]
        for s in to_drop:
            shutil.rmtree(self._snap_dir(s), ignore_errors=True)
        return to_drop
