"""Per-host politeness budget as a skew-safe top-k operator.

The reference paces with per-VDI sleeps (interval/delay,
/root/reference/pkg/crawler/web.go:1312-1321,1868-1879); at cluster
scale the equivalent contract is "at most B fetches per host per round"
(B = round_duration / interval). A naive
``row_number() OVER (PARTITION BY host)`` serializes each host into one
task — fatal for a mega-host with 10^9 pending URLs.

:func:`cap_flags` is the repo's one skew-safe per-key cap, two
``row_number`` columns of the one row stream (no filter branch, union
or join): ``r1`` ranks within (key, salt, eligible), salt = a hash of
the order mod ``salt_buckets``, so each bucket keeps its local top-B in
parallel (a local rank > B implies a global rank > B); ``r2`` ranks
within (key, survivor ? -1 : salt), so only the ≤ B × S survivors of a
key share a partition. The outcome equals the single-window rank (the
global top-B is a subset of the per-bucket top-Bs), and no key lands
on one task. Callers: the crawl engine's host budget, :func:`enforce_host_budget`
(and the trap valve) and the infoseed candidate caps.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def cap_flags(
    df: DataFrame,
    key: str,
    cap: Column | int,
    order: Sequence[Column | str],
    eligible: Column | None = None,
    salt_buckets: int = 16,
) -> DataFrame:
    """``df`` + ``_over``, true for the eligible rows whose rank within
    their ``key`` by ``order`` (a total order) exceeds ``cap``, and
    ``_rank``, that exact rank for the other eligible rows. ``eligible``
    (default every row) picks the rows the cap counts; a NULL ``cap``
    makes a row ineligible (``_over`` false, ``_rank`` NULL)."""
    order = [F.col(c) if isinstance(c, str) else c for c in order]
    cap = cap if isinstance(cap, Column) else F.lit(cap)
    elig = cap.isNotNull()
    if eligible is not None:
        elig = elig & F.coalesce(eligible, F.lit(False))
    salt = F.pmod(F.xxhash64(*order), F.lit(salt_buckets))
    df = df.withColumns({"_elig": elig, "_salt": salt})
    w1 = Window.partitionBy(key, "_salt", "_elig").orderBy(*order)
    df = df.withColumn("_r1", F.row_number().over(w1))
    surv = F.col("_elig") & (F.col("_r1") <= cap)
    w2 = Window.partitionBy(key, F.when(surv, -1).otherwise(F.col("_salt"))).orderBy(*order)
    df = df.withColumn("_r2", F.row_number().over(w2))
    over = F.col("_elig") & ((F.col("_r1") > cap) | (F.col("_r2") > cap))
    return df.withColumns(
        {"_over": over, "_rank": F.when(F.col("_elig") & ~over, F.col("_r2"))}
    ).drop("_elig", "_salt", "_r1", "_r2")


def enforce_host_budget(
    links: DataFrame,
    budgets: DataFrame,
    host_col: str = "host",
    order_cols: tuple[str, ...] = ("priority", "seq"),
    budget_col: str = "max_fetches_per_round",
    salt_buckets: int = 16,
) -> DataFrame:
    """Keep at most `budget` links per host, by deterministic order.

    ``budgets`` is broadcast (tiny dimension). Hosts without a budget
    row are unlimited: they keep every row, with a NULL ``fetch_rank``,
    and never enter a host-wide window. Returns the kept input rows +
    ``fetch_rank``.
    """
    b = F.broadcast(budgets.select(F.col("host").alias(host_col), budget_col))
    df = cap_flags(
        links.join(b, [host_col], "left"),
        host_col,
        F.col(budget_col),
        order_cols,
        salt_buckets=salt_buckets,
    )
    return (
        df.filter(~F.col("_over"))
        .withColumnRenamed("_rank", "fetch_rank")
        .drop(budget_col, "_over")
    )


def budgets_from_intervals(
    host_intervals: DataFrame,
    round_duration_s: float = 60.0,
    host_col: str = "host",
    interval_col: str = "interval_seconds",
) -> DataFrame:
    """Derive per-host budgets from reference pacing math: the engine
    sleeps `interval` seconds between fetches on a host
    (/root/reference/pkg/crawler/web.go:1312-1321), so a round of
    length R allows floor(R / interval) fetches — with the reference's
    3 s minimum effective sleep. This is parity mode for SURVEY.md §7
    trap 7 (budgets mirroring reference pacing).
    """
    eff = F.greatest(F.col(interval_col).cast("double"), F.lit(3.0))
    return host_intervals.select(
        F.col(host_col),
        F.greatest(F.floor(F.lit(float(round_duration_s)) / eff), F.lit(1))
        .cast("int")
        .alias("max_fetches_per_round"),
    )
