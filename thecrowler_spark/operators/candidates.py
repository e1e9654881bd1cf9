"""infoseed candidate normalization + built-in filters, set-at-a-time.

Re-expresses /root/reference/pkg/infoseed/candidates.go:

- :func:`normalize_candidates` ← ``NormalizeCandidatesWithRejections``
  (:133-161): canonicalize (tracking params stripped, query key-sorted,
  default port dropped), reject invalid URLs, dedup by normalized URL
  then (optionally) by host with the skew-safe per-key cap at 1 — first
  occurrence in ``order_col`` wins, every rejection carries its stable
  reason string (:46-56).
- :func:`apply_candidate_filters` ← ``ApplyBuiltInCandidateFilters``
  (:165-222): required schemes, registrable-domain allow/deny sets,
  min score, per-host / per-domain / global caps — each per-host /
  per-domain cap ranks the survivors of the previous checks with the
  skew-safe per-key cap, :func:`.politeness.cap_flags` (two salted
  ``row_number`` columns of the one row stream, so a hot host with 10^8
  candidates never lands on one task, and no filter branch is unioned
  or joined back); the global cap uses the two-phase distributed row
  number (:func:`.ranking.global_row_number`).

Documented divergences from the sequential Go loop (both engines —
the DuckDB oracle mirrors these cascade semantics exactly):

- Go only counts ACCEPTED candidates toward seen-sets/caps, so a row
  rejected by a LATER check doesn't reserve its slot in an EARLIER
  cap. Here each stage's window ranks the survivors of prior stages,
  so a row that later falls to a lower-priority cap still occupies its
  rank (reservation semantics). Same accepted set whenever caps don't
  interleave; reason strings can differ in that corner.
- A host-duplicate row does not insert its URL into Go's seen-set; a
  later identical URL would be rejected 'duplicate_host' there but
  'duplicate_url' here. Rejected either way.

Keeping the rejected rows WITH reasons (instead of Go's counters-only
map) is the auditable-drops contract the pipeline job uses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import urls as U
from .politeness import cap_flags

#: stable rejection reasons (candidates.go:46-56)
R_INVALID = "invalid_url"
R_DUP_URL = "duplicate_url"
R_DUP_HOST = "duplicate_host"
R_LIMIT = "candidate_limit"
R_ALLOWED = "allowed_domain"
R_DENIED = "denied_domain"
R_SCHEME = "required_scheme"
R_SCORE = "minimum_score"
R_MAX_HOST = "max_candidates_per_host"
R_MAX_DOMAIN = "max_candidates_per_domain"


def normalize_candidates(
    df: DataFrame,
    url_col: str = "url",
    order_col: str = "cand_id",
    tracking_params: tuple[str, ...] = U.DEFAULT_TRACKING_PARAMS,
    dedup_host: bool = False,
) -> DataFrame:
    """Candidates → same rows + (url normalized, host, reject_reason).

    ``reject_reason`` is NULL for kept rows; rejected rows keep their
    ORIGINAL url so the drop is auditable. One shuffle for the URL
    dedup, two (the salted pre-rank and the final rank) for the host dedup.
    """
    n = U.canonical_candidate_url(F.col(url_col), tracking_params)
    out = df.withColumn("_n", n)
    out = out.select(
        *[c for c in df.columns if c != url_col],
        F.when(F.col("_n.ok"), F.col("_n.url")).otherwise(F.col(url_col)).alias(url_col),
        F.col("_n.host").alias("host"),
        F.when(~F.col("_n.ok"), F.lit(R_INVALID)).alias("reject_reason"),
    )
    w_url = Window.partitionBy(F.col(url_col)).orderBy(order_col)
    out = out.withColumn(
        "reject_reason",
        F.when(F.col("reject_reason").isNotNull(), F.col("reject_reason")).when(
            F.row_number().over(w_url) > 1, F.lit(R_DUP_URL)
        ),
    )
    if dedup_host:
        # the first row per host among those that passed the URL dedup
        out = _cap_reject(out, "host", 1, order_col, R_DUP_HOST)
    return out


def _cap_reject(df: DataFrame, key: str, cap: int, order_col: str, reason: str) -> DataFrame:
    """Reject with ``reason`` the rows beyond ``cap`` per ``key`` (by
    ``order_col``) among those no earlier check rejected — the skew-safe
    per-key cap, so a hot host never lands on one task."""
    out = cap_flags(df, key, cap, [order_col], eligible=F.col("reject_reason").isNull())
    return out.withColumn(
        "reject_reason",
        F.coalesce(F.col("reject_reason"), F.when(F.col("_over"), F.lit(reason))),
    ).drop("_over", "_rank")


def apply_candidate_filters(
    df: DataFrame,
    url_col: str = "url",
    order_col: str = "cand_id",
    score_col: str | None = None,
    required_schemes: tuple[str, ...] = (),
    allowed_domains: tuple[str, ...] = (),
    denied_domains: tuple[str, ...] = (),
    min_score: float | None = None,
    max_per_host: int = 0,
    max_per_domain: int = 0,
    max_candidates: int = 0,
) -> DataFrame:
    """Built-in candidate policy (ApplyBuiltInCandidateFilters,
    candidates.go:165-222) with per-row rejection reasons."""
    u = F.col(url_col)
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.\-]*)://", 1))
    if "host" in df.columns:
        host = F.coalesce(F.lower(F.trim(F.col("host"))), F.lower(U.url_hostname(u)))
    else:
        host = F.lower(U.url_hostname(u))
    out = df.withColumn("_scheme", scheme).withColumn("_host", host).withColumn(
        "domain", U.registrable_domain(F.col("_host"))
    )
    reason = F.when((F.col("_scheme") == "") | (F.col("_host") == ""), F.lit(R_INVALID))
    if required_schemes:
        reason = reason.when(
            ~F.col("_scheme").isin(*[s.lower() for s in required_schemes]), F.lit(R_SCHEME)
        )
    if allowed_domains:
        reason = reason.when(
            ~U.matches_domain_set(F.col("_host"), allowed_domains)
            & ~U.matches_domain_set(F.col("domain"), allowed_domains),
            F.lit(R_ALLOWED),
        )
    if denied_domains:
        reason = reason.when(
            U.matches_domain_set(F.col("_host"), denied_domains)
            | U.matches_domain_set(F.col("domain"), denied_domains),
            F.lit(R_DENIED),
        )
    if min_score is not None and score_col:
        reason = reason.when(F.col(score_col) < F.lit(min_score), F.lit(R_SCORE))
    out = out.withColumn("reject_reason", reason)

    # each cap ranks the survivors of the earlier checks (reservation
    # semantics, module docstring)
    if max_per_host > 0:
        out = _cap_reject(out, "_host", max_per_host, order_col, R_MAX_HOST)
    if max_per_domain > 0:
        out = _cap_reject(out, "domain", max_per_domain, order_col, R_MAX_DOMAIN)
    if max_candidates > 0:
        from .ranking import global_row_number

        live = out.filter(F.col("reject_reason").isNull())
        over = (
            global_row_number(live, [F.col(order_col)], out_col="_grn")
            .filter(F.col("_grn") > max_candidates)
            .select(F.col(order_col).alias("_over_key"))
        )
        out = out.join(
            over, out[order_col] == F.col("_over_key"), "left"
        ).withColumn(
            "reject_reason",
            F.coalesce(
                F.col("reject_reason"),
                F.when(F.col("_over_key").isNotNull(), F.lit(R_LIMIT)),
            ),
        ).drop("_over_key")
    out = out.drop("_scheme")
    if "host" in df.columns:
        return out.drop("_host")
    return out.withColumnRenamed("_host", "host")
