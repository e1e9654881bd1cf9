"""Operator-level invariants: politeness two-phase equivalence, robots
filter equivalence, MinHash-LSH recall vs exact Jaccard, SimHash sanity,
ANN-LSH recall vs brute force, streaming-vs-batch equivalence."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from thecrowler_spark.operators import dedup as DD
from thecrowler_spark.operators import similarity as SIM
from thecrowler_spark.operators.politeness import enforce_host_budget
from thecrowler_spark.operators.robots import disallow_prefix_filter

SF = "/root/testdata/sf0.001"


def _links(spark, n=5000, hosts=7):
    return spark.range(n).select(
        F.concat(F.lit("h"), (F.col("id") % hosts).cast("string"), F.lit(".example.com")).alias("host"),
        F.concat(F.lit("https://h"), (F.col("id") % hosts).cast("string"), F.lit(".example.com/p"), F.col("id").cast("string")).alias("url_link"),
        F.col("id").alias("seq"),
        (F.col("id") % 3).cast("string").alias("priority"),
    )


def test_two_phase_budget_equals_single_window(spark):
    links = _links(spark, hosts=8)
    budgets = spark.createDataFrame(
        [(f"h{h}.example.com", 10 + h) for h in range(7)],
        "host string, max_fetches_per_round int",
    )
    # single-window reference: one host-wide row_number, kept while
    # <= budget; h7 has no budget row, so it keeps every row unranked
    w = Window.partitionBy("host").orderBy("priority", "seq")
    budget = F.col("max_fetches_per_round")
    one = (
        links.join(budgets, "host", "left")
        .withColumn("fetch_rank", F.when(budget.isNotNull(), F.row_number().over(w)))
        .filter(budget.isNull() | (F.col("fetch_rank") <= budget))
    )
    two = enforce_host_budget(links, budgets, order_cols=("priority", "seq"), salt_buckets=8)
    a = {tuple(r) for r in one.select("host", "url_link", "fetch_rank").collect()}
    b = {tuple(r) for r in two.select("host", "url_link", "fetch_rank").collect()}
    assert a == b
    unbudgeted = [r for r in b if r[0] == "h7.example.com"]
    assert len(unbudgeted) == links.filter(F.col("host") == "h7.example.com").count()
    assert all(r[2] is None for r in unbudgeted)


def test_robots_prefix_filter_matches_oracle(spark):
    from tests import oracle as O

    links = spark.createDataFrame(
        [
            ("h0.example.com", "https://h0.example.com/private/s1"),
            ("h0.example.com", "https://h0.example.com/public/x"),
            ("h0.example.com", "https://h0.example.com/privateer"),  # prefix, still blocked per RFC prefix match
            ("h1.example.com", "https://h1.example.com/private/s1"),
            ("h1.example.com", "https://h1.example.com"),
        ],
        "host string, url_link string",
    )
    robots_rows = [
        {"host": "h0.example.com", "rule_type": "disallow", "path_prefix": "/private"},
    ]
    robots = spark.createDataFrame(
        [(r["host"], r["rule_type"], r["path_prefix"]) for r in robots_rows],
        "host string, rule_type string, path_prefix string",
    )
    got = {r["url_link"] for r in disallow_prefix_filter(links, robots).collect()}
    want = {
        r["url_link"]
        for r in links.collect()
        if not O.robots_blocked(robots_rows, r["url_link"])
    }
    assert got == want


def test_minhash_lsh_recall_vs_exact(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").filter(F.col("doc_id") < 200)
    from thecrowler_spark.functions.text import tokens

    docs = docs.filter(F.size(tokens(F.col("text"))) >= 3)
    exact = {
        (r["id_a"], r["id_b"])
        for r in DD.ngram_jaccard_pairs(docs, threshold=0.7).collect()
    }
    cand = {
        (r["id_a"], r["id_b"])
        for r in DD.minhash_lsh_candidates(docs, n_hashes=16, bands=8).collect()
    }
    if exact:
        recall = len(exact & cand) / len(exact)
        assert recall >= 0.9, f"LSH recall {recall} over {len(exact)} true pairs"


def test_simhash_identical_docs_zero_distance(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy dog"),
         (3, "a completely different document about spark shuffles and joins")],
        "doc_id long, text string",
    )
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in DD.simhash_near_dups(df, max_hamming=64).collect()}
    assert pairs[(1, 2)] == 0
    assert pairs.get((1, 3), 64) > 10


def test_ann_lsh_recall(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").withColumn(
        "embedding", F.transform(F.col("embedding"), lambda x: x.cast("double"))
    )
    dim = len(emb.select("embedding").first()[0])
    corpus = emb.filter(F.col("vec_id") >= 10)
    queries = emb.filter(F.col("vec_id") < 10).withColumnRenamed("vec_id", "query_id")
    exact = SIM.cosine_topk(corpus, queries, k=5)
    approx = SIM.lsh_bucketed_ann(corpus, queries, dim=dim, k=5, bits=4)
    e = {(r["query_id"], r["corpus_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["corpus_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.5, f"ANN recall {recall}"  # 16 buckets on random data


def test_streaming_equals_batch(spark, tmp_path):
    from thecrowler_spark.streaming.events import stream_events_from_parquet, windowed_event_counts

    import shutil

    ev = spark.read.parquet(f"{SF}/events.parquet")
    batch = {tuple(r) for r in windowed_event_counts(ev).collect()}

    src_dir = tmp_path / "events_stream"
    src_dir.mkdir()
    shutil.copy(f"{SF}/events.parquet", src_dir / "part-0.parquet")
    stream = stream_events_from_parquet(spark, str(src_dir), ev.schema)
    q = (
        windowed_event_counts(stream)
        .writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    got = {tuple(r) for r in spark.table("win_counts").collect()}
    q.stop()
    assert got == batch


def test_search_json_path_field(spark):
    """Dorking @json.path:term → get_json_object LIKE (tokenizer.go:343-360)."""
    from thecrowler_spark.operators.search import compile_search

    df = spark.createDataFrame(
        [
            (1, "t", "s", "b", '{"tech": {"server": "Nginx/1.2"}}'),
            (2, "t", "s", "b", '{"tech": {"server": "apache"}}'),
            (3, "nginx in title", "s", "b", "{}"),
        ],
        "doc_id int, title string, summary string, body_text string, details string",
    )
    hits = {r["doc_id"] for r in df.filter(compile_search("@tech.server:nginx")).collect()}
    assert hits == {1}
    # OR composition with a default-field term still works
    hits2 = {r["doc_id"] for r in df.filter(compile_search("@tech.server:nginx | nginx")).collect()}
    assert hits2 == {1, 3}


def test_hash_split_stability_and_proportions(spark):
    """Split membership is a pure function of the key: growing the
    dataset must not move any existing row between splits, and the
    proportions approach the weights."""
    from pyspark.sql import functions as F

    from thecrowler_spark.operators.sampling import assign_split, sample_flag

    small = spark.range(5_000)
    big = spark.range(50_000)
    w = {"train": 0.8, "val": 0.1, "test": 0.1}

    def splits(df):
        return {
            r["id"]: r["s"]
            for r in df.select("id", assign_split(F.col("id"), w).alias("s")).collect()
        }

    s_small, s_big = splits(small), splits(big)
    assert all(s_big[k] == v for k, v in s_small.items())  # growth never reshuffles
    from collections import Counter

    frac = {k: v / 50_000 for k, v in Counter(s_big.values()).items()}
    assert abs(frac["train"] - 0.8) < 0.01 and abs(frac["val"] - 0.1) < 0.005
    # sample is uniform within strata: per-bucket-of-id rate ≈ fraction
    flagged = big.select((F.col("id") % 5).alias("stratum"), sample_flag(F.col("id"), 0.2).alias("f"))
    rates = {
        r["stratum"]: r["rate"]
        for r in flagged.groupBy("stratum").agg(F.avg(F.col("f").cast("double")).alias("rate")).collect()
    }
    assert all(abs(v - 0.2) < 0.02 for v in rates.values())


def test_pack_documents_budget_bounds(spark):
    """Every pack's token total is within one max-doc of the budget, and
    packing is deterministic under repartitioning."""
    from pyspark.sql import functions as F

    from thecrowler_spark.operators.sampling import pack_documents

    docs = spark.range(2_000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 97 + 5).cast("int").alias("n_tokens")
    )
    budget, max_doc = 512, 101
    packed = pack_documents(docs, budget=budget, buckets=8)
    sums = packed.groupBy("bucket", "pack_id").agg(
        F.sum("n_tokens").alias("tot"), F.count("*").alias("n")
    )
    rows = sums.collect()
    # all but the LAST (partial) pack of each bucket stream fill the
    # budget — last = numerically largest pack index (pack_id is a string)
    def pidx(pack_id: str) -> int:
        return int(pack_id.split("_")[1])

    per_bucket_max = {}
    for r in rows:
        per_bucket_max[r["bucket"]] = max(per_bucket_max.get(r["bucket"], -1), pidx(r["pack_id"]))
    for r in rows:
        assert r["tot"] < budget + max_doc
        if pidx(r["pack_id"]) != per_bucket_max[r["bucket"]]:
            assert r["tot"] >= budget - max_doc
    # determinism: a different physical partitioning yields identical packs
    again = {
        (r["doc_id"], r["pack_id"])
        for r in pack_documents(docs.repartition(13), budget=budget, buckets=8).collect()
    }
    assert again == {(r["doc_id"], r["pack_id"]) for r in packed.collect()}


def test_mixture_sample_budgets_and_stability(spark):
    """Integer budget split, per-source take-while, and the
    deterministic-growth property (adding docs never reshuffles the
    kept set — only the hash-order tail moves)."""
    from thecrowler_spark.operators.sampling import mixture_sample

    rows = [(i, "web" if i % 2 == 0 else "books", 10) for i in range(1, 21)]
    docs = spark.createDataFrame(rows, "doc_id long, source string, n_tokens int")
    out = mixture_sample(docs, weights={"web": 3, "books": 1}, budget_tokens=80)
    got = {r["doc_id"]: r for r in out.collect()}

    # budgets: web = 80*3 DIV 4 = 60 -> 6 docs of 10; books = 20 -> 2 docs
    for r in got.values():
        assert r["source_budget"] == (60 if r["source"] == "web" else 20)
        assert r["included"] == (r["cum_before"] < r["source_budget"])
    n_web = sum(1 for r in got.values() if r["source"] == "web" and r["included"])
    n_books = sum(1 for r in got.values() if r["source"] == "books" and r["included"])
    assert (n_web, n_books) == (6, 2)

    # unknown source -> budget 0, nothing included
    docs2 = docs.withColumn(
        "source", F.when(F.col("doc_id") <= 4, F.lit("mystery")).otherwise(F.col("source"))
    )
    out2 = mixture_sample(docs2, weights={"web": 3, "books": 1}, budget_tokens=80)
    assert out2.filter((F.col("source") == "mystery") & F.col("included")).count() == 0

    # growth stability: doubling the corpus keeps every previously-kept
    # doc's relative hash order; kept set of the grown corpus restricted
    # to old ids is a PREFIX of the old kept order (tail displacement only)
    rows_grown = rows + [(i, "web" if i % 2 == 0 else "books", 10) for i in range(21, 41)]
    grown = spark.createDataFrame(rows_grown, "doc_id long, source string, n_tokens int")
    out3 = mixture_sample(grown, weights={"web": 3, "books": 1}, budget_tokens=80)
    kept_old = {r["doc_id"] for r in out.collect() if r["included"]}
    kept_new = {r["doc_id"] for r in out3.collect() if r["included"]}
    # any old doc kept in the grown run was kept in the original run
    assert (kept_new & set(range(1, 21))) <= kept_old
