"""Deduplication family for training-data pipelines.

Exact (hash groupBy), n-gram Jaccard, MinHash+LSH, SimHash, and
embedding-cosine near-dup. All pure JVM expressions (SimHash included:
md5-derived token hashes + 64 conditional-sum bit votes in one groupBy),
so every signature step has an exact DuckDB oracle.

Reference analog: WebObjects content-hash dedup
(/root/reference/pkg/crawler/crawler.go:1504-1543) is the exact path;
the rest are the scale-out extensions a 100 TB corpus needs.

Scale notes:
- exact dedup = one shuffle on the content hash (map-side partial agg free);
- MinHash LSH turns O(n²) pair search into a band-bucket equi-join —
  the only join is on ``band_key``, AQE handles bucket skew;
- portable hashing uses md5 (identical in DuckDB) so every step has a
  SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import text as TX


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest id per identical normalized text (sha256 key)."""
    h = F.sha2(TX.normalize_text(text_col), 256)
    return (
        docs.withColumn("content_hash", h)
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("n_dupes"),
        )
    )


def doc_shingles(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3) -> DataFrame:
    """(id, shingle) distinct pairs."""
    return (
        docs.select(F.col(id_col).alias("id"), F.explode(TX.shingles(text_col, k)).alias("shingle"))
        .distinct()
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.6,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """Jaccard similarity over k-token shingle sets, candidate pairs only.

    Shared-shingle equi-join generates candidates (docs with zero shared
    shingles can never pass a threshold > 0), then exact Jaccard =
    |∩| / (|A|+|B|−|∩|). One shuffle on shingle + one on the pair key.

    ``max_shingle_freq`` is the 100 TB skew valve: a shingle occurring
    in F docs contributes F² rows to the pair join — one boilerplate
    shingle shared by 10⁶ docs is 10¹² join rows on a single key. With
    the cap set, shingles in more than ``max_shingle_freq`` docs are
    dropped BEFORE the join and Jaccard is computed over the filtered
    shingle space (idf-style: ultra-common shingles carry no near-dup
    signal). Default None = exact classic Jaccard (the oracle mode).
    """
    sh = doc_shingles(docs, text_col, id_col, k)
    if max_shingle_freq is not None:
        hot = (
            sh.groupBy("shingle")
            .agg(F.count("*").alias("_df"))
            .filter(F.col("_df") > max_shingle_freq)
            .select("shingle")
        )
        sh = sh.join(hot, "shingle", "left_anti")
    sizes = sh.groupBy("id").agg(F.count("*").alias("n_shingles"))
    a = sh.alias("a")
    b = sh.alias("b")
    shared = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("shared"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_shingles").alias("na"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_shingles").alias("nb"))
    out = (
        shared.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.round(F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


def minhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 16,
    k: int = 3,
) -> DataFrame:
    """MinHash signature per doc: mh_i = min over shingles of md5(i:shingle).

    md5-as-permutation is portable (DuckDB computes identical digests),
    so the whole signature has an exact SQL oracle.

    r6 optimization (guide §2.4 "remove shuffles outright"): the min is
    per-document, so it needs NO shuffle at all — each signature column
    is ``array_min(transform(distinct_shingles, s -> md5(i:s)))`` over a
    per-row shingle array. The previous explode → distinct → groupBy(id)
    shape paid two exchanges plus (because ``min(string)`` has no
    fixed-width buffer) two SortAggregates with full sorts of the
    (id, shingle) stream. ``array_distinct`` keeps the md5 count equal
    to the old distinct pair stream; values are identical (min over a
    set == min over its multiset). Docs with zero tokens produced no
    exploded rows before and are filtered identically here.
    """
    # zero-token exclusion via a find-first-char regex instead of
    # size(tokens(text)) > 0: tokens are the maximal [a-z0-9] runs of
    # lower(text), so "has ≥1 token" ⇔ lower(text) contains an alnum
    # char — same rows, but the filter no longer pays a full tokenize
    # (lower + split + array alloc + HOF filter) that the projection
    # below repeats anyway (filter and projection are different
    # operators — no cross-operator subexpression elimination)
    sig = docs.filter(F.lower(F.col(text_col)).rlike("[a-z0-9]")).select(
        F.col(id_col).alias("id"),
        F.array_distinct(TX.shingles(text_col, k)).alias("_sh"),
    )

    def _mh(i: int):
        # unary closure — a `lambda s, i=i:` default arg would make
        # F.transform treat it as a binary (element, index) lambda
        return lambda s: F.md5(F.concat(F.lit(f"{i}:"), s))

    # two Projects on purpose: _sh is non-cheap and referenced n_hashes
    # times, so CollapseProject keeps it materialized once per row
    return sig.select(
        "id",
        *[
            F.array_min(F.transform(F.col("_sh"), _mh(i))).alias(f"mh{i}")
            for i in range(n_hashes)
        ],
    )


def minhash_lsh_candidates(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 16,
    bands: int = 4,
    k: int = 3,
) -> DataFrame:
    """LSH banding: docs sharing any band of the signature are candidates.

    rows-per-band = n_hashes / bands; band key = md5 of the band's
    concatenated minhashes. Pair generation is ONE groupBy on
    (band_idx, band_key) + a per-group ordered-pair expansion — never
    O(n²) over the corpus.

    r6: this replaces the band-key SELF-join. A self-join's
    deduplicated branch regenerates expression ids, which defeats both
    cache substitution and common-subtree reuse, so the whole signature
    chain was computed twice per run (measured: the join form cost
    2×sig + a 768k-row broadcast build at 192k docs; thread dumps
    showed the "cached" build side re-running the shingle transforms).
    The group form computes signatures once, shuffles each banded row
    once, and emits exactly the same pair set: ids within a (band_idx,
    band_key) group are distinct (one key per doc per band), sorted
    ascending, and paired (x, y) for every x earlier than y — i.e.
    {(a, b): same band key, a < b}, then distinct across bands as
    before. Skew note: a band key shared by F docs builds one F-element
    array where the join built F² rows — the array is the safer side of
    that trade, and the F² pair explosion that follows is inherent to
    LSH banding itself.
    """
    rows_per_band = n_hashes // bands
    sig = minhash_signatures(docs, text_col, id_col, n_hashes, k)
    band_cols = []
    for b in range(bands):
        cols = [F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_cols.append(
            F.struct(F.lit(b).alias("band_idx"), F.md5(F.concat_ws("|", *cols)).alias("band_key"))
        )
    banded = sig.select("id", F.explode(F.array(*band_cols)).alias("band")).select(
        "id", "band.band_idx", "band.band_key"
    )
    grouped = (
        banded.groupBy("band_idx", "band_key")
        .agg(F.sort_array(F.collect_list("id")).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    pair_arrays = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.greatest(F.size(F.col("ids")) - i - 1, F.lit(0))),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    return (
        grouped.select(F.explode(pair_arrays).alias("p"))
        .select("p.id_a", "p.id_b")
        .distinct()
    )


def winnow_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    w: int = 4,
    min_shared: int = 1,
    max_fp_freq: int | None = None,
    max_tokens: int | None = 100_000,
) -> DataFrame:
    """Partial-overlap detector: docs sharing winnowing fingerprints.

    Completes the winnow family (functions.text.winnow_fingerprints is
    the per-doc sampler): explode (doc, fingerprint) distinct pairs,
    shared-fingerprint EQUI-join (never all-pairs — docs with zero
    shared fingerprints never meet), count per pair. By the winnowing
    guarantee, any shared run of ≥ w+k−1 tokens between two docs yields
    ≥ 1 shared fingerprint, so this finds POSITIONAL overlap (quoted
    passages, boilerplate blocks) that MinHash's global sampling
    dilutes away on long documents.

    ``max_fp_freq`` is the same 100 TB skew valve as
    :func:`ngram_jaccard_pairs`'s hot-shingle cap: a fingerprint shared
    by F docs contributes F² join rows; corpus-wide boilerplate
    fingerprints carry no overlap signal and are dropped BEFORE the
    join when the cap is set. Returns (id_a, id_b, n_shared).
    """
    fps = (
        docs.select(
            F.col(id_col).alias("id"),
            F.explode(TX.winnow_fingerprints(F.col(text_col), k=k, w=w, max_tokens=max_tokens)).alias("fp"),
        )
        .distinct()
    )
    if max_fp_freq is not None:
        hot = (
            fps.groupBy("fp")
            .agg(F.count("*").alias("_df"))
            .filter(F.col("_df") > max_fp_freq)
            .select("fp")
        )
        fps = fps.join(hot, "fp", "left_anti")
    a = fps.alias("a")
    b = fps.alias("b")
    return (
        a.join(b, (F.col("a.fp") == F.col("b.fp")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def verify_pairs_jaccard(
    docs: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs ``(id_a, id_b)``.

    LSH banding over-generates: two docs colliding on one band need not
    be near-duplicates (with few hashes per band the collision carries
    almost no Jaccard signal). This computes TRUE shingle-set Jaccard
    for ONLY the candidate pairs. Returns (id_a, id_b, jaccard) for
    pairs that share at least one shingle and have jaccard >= threshold.

    r6 shape (guide §2.4 "remove shuffles outright"): the per-doc
    DISTINCT shingle set stays an ARRAY — |∩| is
    ``size(array_intersect(sh_a, sh_b))`` evaluated in the pair-join
    projection, |A| / |B| are the array sizes. The previous form
    exploded the candidate docs into (id, shingle) rows, paid a
    distinct exchange keyed on the shingle STRING, fanned each pair out
    by the left doc's shingles, probed on (id, shingle), and re-grouped
    on the pair key — four exchanges of O(pairs × avg_shingles) rows.
    Here the only materialization is the candidate shingle-array table
    (one row per candidate doc, localCheckpointed once — both pair-join
    sides read the same leaf), and the joins move one bounded array per
    pair side: O(pairs × avg_shingles) BYTES but no per-shingle rows,
    no string shuffle keys, no pair-key re-aggregation. Values are
    EXACTLY the old ones: array_intersect of distinct sets ≡ the
    shared-distinct-shingle count, sizes ≡ the distinct counts. A pair
    with no shared shingle is dropped before the threshold filter, as
    the explode form's inner join on the shared-count aggregate dropped
    it, so a threshold <= 0 never admits a zero-overlap pair; docs whose
    shingle set is empty (zero tokens) are excluded from the table.

    Cost is O(pairs × avg_shingles), never all-pairs. Mirrors the
    verification step of classic MinHash-LSH dedup; scale shape: two
    equi-joins on the pair ids over a checkpointed per-doc table.
    """
    cand_ids = (
        pairs.select(F.col("id_a").alias(id_col))
        .unionByName(pairs.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    sh = (
        docs.join(cand_ids, id_col, "inner")
        # zero-token exclusion (cheap find-first-char predicate — see
        # minhash_signatures): keeps the old explode form's semantics
        .filter(F.lower(F.col(text_col)).rlike("[a-z0-9]"))
        .select(
            F.col(id_col).alias("id"),
            F.array_distinct(TX.shingles(text_col, k)).alias("sh"),
        )
        .withColumn("n", F.size("sh"))
        .localCheckpoint(eager=False)
    )
    a = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("_sha"), F.col("n").alias("na"))
    b = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("_shb"), F.col("n").alias("nb"))
    shared = F.size(F.array_intersect(F.col("_sha"), F.col("_shb")))
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("shared", shared)
        .filter(F.col("shared") > 0)
        .withColumn(
            "jaccard",
            F.round(F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


#: int64 minimum — the bit-63 term of the signed simhash reinterpret.
#: Added as a constant because neither engine can left-shift into the
#: sign bit without overflow (Spark wraps, DuckDB throws).
_INT64_MIN = -9223372036854775808


def simhash_chunks(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, simhash, chunk0..chunk3): 64-bit SimHash, entirely JVM-side.

    Classic SimHash (Charikar): each token votes ±1 per bit of its
    64-bit hash (duplicates vote once per occurrence); bit b of the
    signature is 1 iff the vote is positive. The token hash is the
    first 8 bytes of md5 (big-endian) — portable, so DuckDB computes an
    identical signature and the whole operator has a SQL oracle.

    Plan shape: explode tokens → two conv() hex parses → ONE groupBy
    with 64 conditional sums (map-side partial agg) → bit assembly as
    four 16-bit chunks (also the Hamming-blocking keys). No Python in
    the hot path. Docs with zero tokens keep signature 0.
    """
    toks = F.filter(F.split(F.lower(F.col(text_col)), "[^a-z0-9]+"), lambda x: x != "")
    base = docs.select(F.col(id_col).alias("id"), F.explode(toks).alias("tok"))
    h = base.select(
        "id",
        F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long").alias("hi"),
        F.conv(F.substring(F.md5("tok"), 9, 8), 16, 10).cast("long").alias("lo"),
    )
    votes = [
        F.sum(
            F.when(
                F.shiftright(F.col("lo" if b < 32 else "hi"), b % 32).bitwiseAND(F.lit(1)) == 1,
                1,
            ).otherwise(-1)
        ).alias(f"v{b}")
        for b in range(64)
    ]
    agg = h.groupBy("id").agg(*votes)
    chunk_exprs = []
    for c in range(4):
        e = F.lit(0).cast("long")
        for j in range(16):
            e = e + F.when(F.col(f"v{16 * c + j}") > 0, F.lit(1 << j).cast("long")).otherwise(0)
        chunk_exprs.append(e.alias(f"chunk{c}"))
    chunks = agg.select("id", *chunk_exprs)
    # signed int64 reinterpret of the unsigned bit pattern: bits 48-62
    # shift in range; bit 63 is the sign bit, added as INT64_MIN
    sim = (
        F.col("chunk0")
        + F.shiftleft(F.col("chunk1"), 16)
        + F.shiftleft(F.col("chunk2"), 32)
        + F.shiftleft(F.col("chunk3").bitwiseAND(F.lit(32767)), 48)
        + F.when(F.col("chunk3") >= 32768, F.lit(_INT64_MIN)).otherwise(F.lit(0))
    )
    sig = chunks.select("id", sim.alias("simhash"), "chunk0", "chunk1", "chunk2", "chunk3")
    # resurrect zero-token docs with signature 0 (the empty vote vector)
    zeros = [F.coalesce(F.col(c), F.lit(0)).alias(c) for c in ("simhash", "chunk0", "chunk1", "chunk2", "chunk3")]
    return docs.select(F.col(id_col).alias("id")).join(sig, "id", "left").select("id", *zeros)


def simhash64(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, simhash) — see :func:`simhash_chunks`."""
    return simhash_chunks(docs, text_col, id_col).select("id", "simhash")


def simhash_near_dups(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance, blocked on 16-bit chunks.

    Pigeonhole: distance ≤3 ⇒ at least one of 4 16-bit chunks equal —
    so candidates come from 4 equi-joins, never a cross join. For
    max_hamming > 3 the blocking is approximate (a pair differing in
    all four chunks is missed) — the standard LSH-style recall trade;
    raise the chunk count for exact recall at larger radii.
    """
    sig = simhash_chunks(docs, text_col, id_col)
    chunks = sig.select(
        "id",
        "simhash",
        F.explode(
            F.array(*[
                F.struct(F.lit(c).alias("chunk_idx"), F.col(f"chunk{c}").alias("chunk"))
                for c in range(4)
            ])
        ).alias("ch"),
    ).select("id", "simhash", "ch.chunk_idx", "ch.chunk")
    a = chunks.alias("a")
    b = chunks.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return pairs.withColumn("hamming", hamming).filter(F.col("hamming") <= max_hamming).select(
        "id_a", "id_b", "hamming"
    )


def embedding_near_dups(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    max_rows: int | None = 100_000,
) -> DataFrame:
    """Cosine near-dup pairs — the O(n²) CORRECTNESS BASELINE (the
    non-equi ``a.id < b.id`` join is a broadcast nested loop by
    construction). The scale path is :func:`embedding_near_dups_lsh`.

    ``max_rows`` guards against calling the baseline on a corpus it
    can't survive: inputs above the cap raise instead of launching a
    10¹⁸-row join. Pass ``max_rows=None`` to opt out knowingly.
    """
    if max_rows is not None:
        n = emb.count()
        if n > max_rows:
            raise ValueError(
                f"embedding_near_dups is the O(n²) baseline; input has {n} rows "
                f"(max_rows={max_rows}). Use embedding_near_dups_lsh for scale, "
                "or pass max_rows=None to force."
            )
    norm = F.sqrt(F.aggregate(F.col(vec_col), F.lit(0.0), lambda acc, x: acc + x * x))
    e = emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"), norm.alias("n"))
    a = e.alias("a")
    b = e.alias("b")
    dot = F.aggregate(
        F.zip_with(F.col("a.v"), F.col("b.v"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .withColumn("cosine", F.round(dot / (F.col("a.n") * F.col("b.n")), 6))
        .filter(F.col("cosine") >= threshold)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), "cosine")
    )


def embedding_near_dups_lsh(
    emb,
    threshold: float = 0.8,
    bits: int = 8,
    tables: int = 6,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int | None = None,
):
    """Scale path for embedding-cosine near-dup: random-hyperplane LSH
    buckets (reusing :mod:`.similarity`'s deterministic signatures)
    restrict the pair join to same-bucket candidates — O(n·b/2^bits)
    candidate pairs instead of O(n²) — then exact cosine confirms.
    Recall vs the exact O(n²) operator is tested in
    tests/test_dedup_lsh.py; precision is exact (same threshold test)."""
    from pyspark.sql import functions as F

    from thecrowler_spark.operators.similarity import _dot, _norm, lsh_buckets

    if dim is None:
        # convenience inference — one driver round-trip; pass dim
        # explicitly in pipelines. Empty input → no pairs, not a crash.
        first = emb.select(vec_col).first()
        if first is None:
            return emb.sparkSession.createDataFrame(
                [], "id_a long, id_b long, cosine double"
            )
        dim = len(first[0])
    keyed = emb.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        _norm(F.col(vec_col)).alias("n"),
        F.explode(lsh_buckets(F.col(vec_col), dim, bits, tables)).alias("b"),
    ).select("id", "v", "n", F.col("b.table").alias("table"), F.col("b.bucket").alias("bucket"))
    a, b = keyed.alias("a"), keyed.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.table") == F.col("b.table"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.v").alias("va"),
            F.col("b.v").alias("vb"),
            F.col("a.n").alias("na"),
            F.col("b.n").alias("nb"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        cand.withColumn(
            "cosine", F.round(_dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6)
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Near-dup pairs → (id, component): the canonical-group step of
    fuzzy dedup (MinHash/SimHash candidate pairs become duplicate
    GROUPS; keep min-id per group, drop the rest).

    Min-label propagation: every node starts as its own label; each
    round joins labels across edges and keeps the per-node minimum —
    converges in O(graph diameter) rounds (near-dup clusters are
    shallow stars/cliques, so typically 2-4). Each round is one
    equi-join + one groupBy; the label table (one row per node in any
    pair) is localCheckpointed per round to cut lineage. For
    pathological long-chain graphs swap in alternating large-star /
    small-star (O(log n) rounds) — same interface.

    Component id = the MINIMUM doc id in the component (the kept
    canonical document).
    """
    edges = (
        pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
        .unionByName(pairs.select(F.col(id_b).alias("u"), F.col(id_a).alias("v")))
        .distinct()
        # materialize ONCE: every propagation round joins edges, and the
        # convergence count() is an action per round — without this the
        # caller's candidate-generation lineage (LSH + Jaccard verify)
        # re-executes EVERY round
        .localCheckpoint(eager=True)
    )
    labels = edges.select(F.col("u").alias("id")).distinct().withColumn(
        "component", F.col("id")
    )
    for _ in range(max_iter):
        prop = (
            edges.join(labels.withColumnRenamed("id", "v"), "v")
            .select(F.col("u").alias("id"), "component")
        )
        new_labels = (
            labels.unionByName(prop)
            .groupBy("id")
            .agg(F.min("component").alias("component"))
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.component") != F.col("o.component"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels


def connected_components_star(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 40,
) -> DataFrame:
    """Alternating large-star / small-star connected components
    (Kiveris et al. 2014, "Connected Components in MapReduce and
    Beyond") — the O(log n)-round scale path promised by
    :func:`connected_components`'s docstring, same (id, component)
    interface and the same DuckDB oracle.

    Why a second algorithm: min-label propagation converges in
    O(diameter) rounds — fine for the shallow star/clique graphs
    near-dup candidates form, quadratic-ish pain on a 10^10-edge web
    graph with long chains (a 200-link chain needs 200 rounds; this
    needs ~8). Each round is two shuffles (per-node min groupBy +
    edge equi-join), edge set localCheckpointed per round so lineage
    stays flat; the fixed point is star graphs centered at component
    minima.

    large-star: every node links its LARGER neighbors to its smallest
    known node (min of neighborhood ∪ self) — safe in any orientation
    because edges only ever point downhill toward the minimum.
    small-star: orient every edge big→small, then link each node's
    smaller neighbors (and itself) to the neighborhood minimum.
    """
    edges = (
        pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = (
        edges.select(F.col("u").alias("id"))
        .unionByName(edges.select(F.col("v").alias("id")))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def large_star(e: DataFrame) -> DataFrame:
        bidir = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = bidir.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
        return (
            bidir.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    def small_star(e: DataFrame) -> DataFrame:
        oriented = e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).distinct()
        mins = oriented.groupBy("u").agg(F.min("v").alias("m"))
        linked = oriented.join(mins, "u")
        return (
            linked.select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(mins.select(F.col("u"), F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    def _fingerprint(e: DataFrame) -> tuple:
        # set-equality proxy for the convergence check: (cardinality,
        # two independently-salted order-independent hash sums). A
        # shuffle-FREE partial-agg scan per round, vs exceptAll's two
        # full shuffles of both edge sets — the difference between
        # O(1) and O(edges) network per round at web-graph scale.
        # Hashes are folded mod 2^31 before summing so 10^10 edges sum
        # within int64 under ANSI; false convergence needs BOTH salted
        # sums to collide between consecutive different sets (~2^-62,
        # the same class of risk as the xxhash64 keying accepted
        # across this module).
        m = F.lit(2**31)
        row = e.agg(
            F.count("*").alias("n"),
            F.sum(F.pmod(F.xxhash64("u", "v"), m)).alias("h1"),
            F.sum(F.pmod(F.xxhash64("u", "v", F.lit(1)), m)).alias("h2"),
        ).collect()[0]
        return (row["n"], row["h1"], row["h2"])

    prev = _fingerprint(edges)
    for _ in range(max_iter):
        new_edges = small_star(large_star(edges)).localCheckpoint(eager=True)
        cur = _fingerprint(new_edges)
        edges = new_edges
        if cur == prev:
            break
        prev = cur
    return (
        nodes.join(
            edges.groupBy("u").agg(F.min("v").alias("c")).withColumnRenamed("u", "id"),
            "id",
            "left",
        )
        .select("id", F.coalesce("c", F.col("id")).alias("component"))
    )


def select_representatives(
    components: DataFrame,
    docs: DataFrame,
    quality_col: str = "n_chars",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-cluster keep-policy: the canonical copy of each duplicate
    group is its HIGHEST-QUALITY member, not its minimum id.

    Production near-dup pipelines (RefinedWeb, FineWeb, CCNet) keep the
    best copy of each MinHash cluster — longest / highest-scoring —
    because mirrors and boilerplate-wrapped variants differ in quality
    even when their shingle sets collide.  ``connected_components``
    produces the groups; this picks the winner.

    - one equi-join on the doc key (components ⋈ docs) to attach the
      quality column;
    - one groupBy(component) with an argmax encoded as
      ``max(struct(quality, -id))`` — a single shuffle on the component
      key with map-side partial aggregation, no window, no sort.  Ties
      break to the LOWEST doc id (deterministic).

    Returns (component, kept_id, n_members, kept_quality).
    """
    joined = components.join(
        docs.select(
            F.col(id_col).alias("id"),
            F.col(quality_col).cast("long").alias("__q"),
        ),
        "id",
    )
    best = F.max(F.struct(F.col("__q"), (-F.col("id")).alias("__negid")))
    return (
        joined.groupBy("component")
        .agg(
            best.alias("best"),
            F.count(F.lit(1)).alias("n_members"),
        )
        .select(
            "component",
            (-F.col("best.__negid")).alias("kept_id"),
            "n_members",
            F.col("best.__q").alias("kept_quality"),
        )
    )


# ------------------------------------------------- line-level (CCNet)


def _doc_lines(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(doc, pos, trimmed non-empty line) explode shared by the
    line-level operators."""
    return (
        docs.select(
            F.col(id_col),
            F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
        )
        .withColumn("line", F.trim("line"))
        .filter(F.col("line") != "")
    )


def line_counts(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Corpus-wide duplicate-line OCCURRENCE counts (CCNet-style
    boilerplate discovery): explode documents into (doc, pos, line) and
    count each distinct trimmed line's occurrences across the corpus
    (a line repeated inside one document counts each time).

    One shuffle (groupBy line) with map-side partial aggregation, so a
    boilerplate line repeated 10^9 times arrives at its reducer as one
    partial count per map task, not 10^9 rows. Grouping is by the line
    string itself — at 100 TB substitute ``xxhash64(line)`` as the
    shuffle key and keep one example string per hash; semantics
    identical modulo hash collisions.
    """
    return _count_lines(_doc_lines(docs, text_col, id_col))


def line_hash_counts(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(line_hash, n_occurrences) — the 8-byte-keyed form of
    :func:`line_counts` used as carry-over state by the incremental
    pipeline (the key :func:`dedup_lines` shuffles on)."""
    return (
        _doc_lines(docs, text_col, id_col)
        .withColumn("line_hash", F.xxhash64("line"))
        .groupBy("line_hash")
        .agg(F.count("*").alias("n_occurrences"))
    )


def _count_lines(lines: DataFrame) -> DataFrame:
    return lines.groupBy("line").agg(F.count("*").alias("n_occurrences"))


def dedup_lines(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_count: int = 4,
    prior_counts: DataFrame | None = None,
) -> DataFrame:
    """Remove boilerplate lines with ≥ ``max_count + 1`` occurrences
    across the corpus and reassemble each document (CCNet's
    duplicated-line filter — cookie banners, copyright footers,
    share-bar text).

    ``prior_counts`` (line_hash, n_occurrences) carries CUMULATIVE
    counts from earlier batches of a continuous feed: this batch's
    counts merge in before the threshold, so a footer that appeared
    3× last month and 2× today is boilerplate today even though
    neither batch alone crosses ``max_count`` (incremental pipeline
    mode — already-shipped batches are never retro-edited).

    Plan: explode → global line counts keyed on ``xxhash64(line)``
    (shuffle 1, partial agg — the group/shuffle key is a fixed 8-byte
    hash, so a 2 KB boilerplate footer never travels as a key and the
    count side carries NO strings at all) → equi-join lines to counts
    on the hash (the build side has UNIQUE 8-byte keys so hot
    boilerplate lines fan out without row explosion; AQE skew-split
    applies; the line string rides only the probe side, once, for
    reassembly) → filter → groupBy doc and re-join surviving lines in
    original position order (shuffle 2). Semantics identical to
    grouping by the raw string modulo xxhash64 collisions (~2^-64 per
    pair). Output: (doc_id, text_dedup, n_lines, n_kept) — docs whose
    every line was boilerplate come back with text_dedup = ''.
    """
    lines = _doc_lines(docs, text_col, id_col).withColumn(
        "line_hash", F.xxhash64("line")
    )
    counts = lines.groupBy("line_hash").agg(F.count("*").alias("n_occurrences"))
    if prior_counts is not None:
        counts = (
            counts.unionByName(prior_counts.select("line_hash", "n_occurrences"))
            .groupBy("line_hash")
            .agg(F.sum("n_occurrences").alias("n_occurrences"))
        )
    kept = lines.join(counts, "line_hash").filter(F.col("n_occurrences") <= max_count)
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("text_dedup"),
        F.count("*").alias("n_kept"),
    )
    totals = lines.groupBy(id_col).agg(F.count("*").alias("n_lines"))
    return (
        docs.select(id_col)
        .join(totals, id_col, "left")
        .join(rebuilt, id_col, "left")
        .select(
            id_col,
            F.coalesce("text_dedup", F.lit("")).alias("text_dedup"),
            F.coalesce("n_lines", F.lit(0)).cast("int").alias("n_lines"),
            F.coalesce("n_kept", F.lit(0)).cast("int").alias("n_kept"),
        )
    )


# ------------------------------------- span-level (exact-substring dedup)


def _ws_tokens(c, max_tokens: int | None = None):
    """Whitespace tokens of the RAW text (case/punctuation preserved —
    unlike :func:`functions.text.tokens` these reassemble back into
    readable text), empties filtered, optionally capped."""
    toks = F.filter(F.split(F.col(c) if isinstance(c, str) else c, r"\s+"),
                    lambda t: t != "")
    if max_tokens is not None:
        toks = F.slice(toks, 1, max_tokens)
    return toks


def repeated_spans(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    w: int = 8,
    max_count: int = 1,
    max_tokens: int | None = None,
) -> DataFrame:
    """Corpus-wide repeated w-token spans per document (the candidate
    generator for exact-substring dedup, Lee et al. 2021 "Deduplicating
    Training Data Makes Language Models Better" — token-windowed rather
    than suffix-array, which is the Spark-native formulation: the
    suffix array's global sort becomes a gram-hash partial-agg count).

    Plan: per-doc w-gram hash array (JVM ``transform`` over a
    :func:`bind_once` token array — O(tokens·w) like winnow, same
    ``max_tokens`` executor guard) → posexplode → global gram counts
    keyed on ``xxhash64(gram)`` (shuffle 1, partial agg, 8-byte keys —
    a hot boilerplate gram is ONE row on the build side; the probe-side
    fan-out is the required output, linear, AQE skew-split applies) →
    equi-join positions to counts → filter ``cnt > max_count``.

    Returns (doc_id, gpos, n_occurrences): token position ``gpos``
    starts a w-gram that appears more than ``max_count`` times in the
    corpus. Collisions: identical to grouping by the gram string modulo
    xxhash64 (~2^-64 per pair); the DuckDB oracle groups by the string.
    """

    def gram_hashes(toks):
        n = F.size(toks)
        idx = F.sequence(F.lit(0), n - w)
        # slice+join+xxhash64 per window, MEASURED as the faster kernel:
        # the hash-each-token-once + chained-xxhash64 fold alternative
        # (aggregate HOF over w token hashes) benched 5.3-5.5 s vs this
        # form's 4.8-5.1 s on 2000 docs x 2000 tokens — Catalyst's
        # per-element HOF call overhead costs more than building the
        # short gram string once and hashing it whole
        return F.when(
            n >= w,
            F.transform(idx, lambda i: F.xxhash64(F.array_join(F.slice(toks, i + 1, w), " "))),
        ).otherwise(F.array().cast("array<bigint>"))

    grams = docs.select(
        F.col(id_col),
        F.posexplode(TX.bind_once(_ws_tokens(text_col, max_tokens), gram_hashes)).alias(
            "gpos", "ghash"
        ),
    )
    counts = grams.groupBy("ghash").agg(F.count("*").alias("n_occurrences"))
    return (
        grams.join(counts.filter(F.col("n_occurrences") > max_count), "ghash")
        .select(id_col, "gpos", "n_occurrences")
    )


def repeated_span_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    w: int = 8,
    max_count: int = 1,
    max_tokens: int | None = None,
) -> DataFrame:
    """Remove every token covered by a corpus-repeated w-gram and
    reassemble the document (exact-substring dedup; the span-level
    sibling of :func:`dedup_lines` — C4/CCNet strip duplicated LINES,
    this strips duplicated mid-line runs: licence boilerplate, quoted
    reply chains, templated sentences).

    Plan: :func:`repeated_spans` → per-doc mark list (shuffle 2,
    groupBy ``doc_id``, int positions only — no strings travel) → join
    back to docs (shuffle 3 on ``doc_id``; both sides one row per doc)
    → covered-index expansion, removal, and reassembly as pure JVM
    array ops: ``covered = distinct(flatten(transform(marks, p →
    sequence(p, p+w-1))))``, ``kept = array_except(sequence(0, n-1),
    covered)`` (hash-set O(n+m), order-preserving), token gather, and a
    single ``concat_ws``. Exact-dup pairs collapse to text_clean = ''
    (every gram of both copies repeats — removal keeps no canonical
    copy, matching the dedup_lines max_count contract).

    Output: (doc_id, text_clean, n_tokens, n_removed). Whitespace is
    normalized to single spaces (token-level rewrite, same loss as any
    token-windowed substring dedup).
    """
    marks = (
        repeated_spans(docs, text_col, id_col, w=w, max_count=max_count, max_tokens=max_tokens)
        .groupBy(id_col)
        .agg(F.collect_list("gpos").alias("marks"))
    )

    def rebuild(toks):
        n = F.size(toks)
        covered = F.array_distinct(
            F.flatten(
                F.transform(
                    F.coalesce(F.col("marks"), F.array().cast("array<int>")),
                    lambda p: F.sequence(p, p + w - 1),
                )
            )
        )
        idx = F.when(n > 0, F.sequence(F.lit(0), n - 1)).otherwise(F.array().cast("array<int>"))
        kept = F.array_except(idx, covered)
        return F.struct(
            F.concat_ws(" ", F.transform(kept, lambda i: F.element_at(toks, i + 1))).alias("text_clean"),
            n.cast("int").alias("n_tokens"),
            (n - F.size(kept)).cast("int").alias("n_removed"),
        )

    rebuilt = (
        docs.join(marks, id_col, "left")
        .select(
            F.col(id_col),
            TX.bind_once(_ws_tokens(text_col, max_tokens), rebuild).alias("r"),
        )
    )
    return rebuilt.select(id_col, "r.text_clean", "r.n_tokens", "r.n_removed")


# -------------------------------------------- benchmark decontamination


def contamination_flags(
    train: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    min_shared: int = 1,
) -> DataFrame:
    """Flag training documents that share ≥ ``min_shared`` distinct
    k-token shingles with ANY benchmark document (eval-set
    decontamination — the cross-corpus sibling of n-gram dedup).

    Plan: distinct (doc, shingle) on the train side joins the DISTINCT
    benchmark shingle set on the shingle key — never doc×doc pairs; the
    benchmark shingle set is usually small enough to broadcast, and the
    groupBy is a partial-agg count. Output: (doc_id, n_shared) for
    flagged docs only.
    """
    t_sh = doc_shingles(train, text_col, id_col, k)
    b_sh = benchmark.select(
        F.explode(TX.shingles(text_col, k)).alias("shingle")
    ).distinct()
    return (
        t_sh.join(b_sh, "shingle")
        .groupBy("id")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
        .select(F.col("id").alias(id_col), F.col("n_shared").cast("int").alias("n_shared"))
    )
