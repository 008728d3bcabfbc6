"""Golden/property tests for operators on tiny literal DataFrames."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spark_iceberg_jobs_spark.operators.aggs import top_k_by_agg
from spark_iceberg_jobs_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_near_pairs,
)
from spark_iceberg_jobs_spark.operators.events import sessionize, tumbling_window_agg
from spark_iceberg_jobs_spark.operators.joins import salted_join
from spark_iceberg_jobs_spark.operators.multimodal import (
    attach_binary_payload,
    extract_payload_features,
    sample_frames_stub,
)
from spark_iceberg_jobs_spark.operators.similarity import bruteforce_topk, lsh_topk
from spark_iceberg_jobs_spark.sources.readers import read_fixture


def test_top_k_tie_break_deterministic(spark):
    df = spark.createDataFrame(
        [("b", 10), ("a", 10), ("c", 5)], "key string, v int"
    )
    rows = top_k_by_agg(df, ["key"], F.sum("v"), "sum_v", k=1).collect()
    assert rows[0].key == "a"  # tie on sum_v=10 broken by key asc


def test_salted_join_matches_plain_join(spark):
    left = spark.createDataFrame([(i % 3, i) for i in range(100)], "k int, v int")
    right = spark.createDataFrame([(0, "x"), (1, "y"), (2, "z")], "k int, name string")
    plain = left.join(right, "k").groupBy("name").count().collect()
    salted = salted_join(left, right, "k").groupBy("name").count().collect()
    assert sorted(map(tuple, plain)) == sorted(map(tuple, salted))


def test_exact_dedup_finds_planted_duplicates(spark):
    docs = spark.createDataFrame(
        [
            (1, "Hello  World"),
            (2, "hello world"),  # same after normalization
            (3, "something else"),
        ],
        "doc_id long, text string",
    )
    rows = {r.keeper_id: r.n_copies for r in exact_dedup(docs).collect()}
    assert rows == {1: 2, 3: 1}


def test_exact_dedup_idempotent(spark):
    docs = spark.createDataFrame(
        [(i, f"text {i % 4}") for i in range(20)], "doc_id long, text string"
    )
    once = exact_dedup(docs)
    keepers = once.select(F.col("keeper_id").alias("doc_id")).join(
        docs, "doc_id"
    )
    twice = exact_dedup(keepers)
    assert once.count() == twice.count() == 4
    assert twice.agg(F.max("n_copies")).first()[0] == 1


def _near_dup_docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    variant = base.replace("today", "tomorrow")
    other = "completely different words about spark query engines and parquet files"
    return spark.createDataFrame(
        [(1, base), (2, variant), (3, other)], "doc_id long, text string"
    )


def test_ngram_jaccard_detects_near_dup(spark):
    pairs = {(r.doc_a, r.doc_b): r.jaccard for r in ngram_jaccard_pairs(
        _near_dup_docs(spark), threshold=0.5
    ).collect()}
    assert set(pairs) == {(1, 2)}
    assert 0.5 < pairs[(1, 2)] < 1.0


def test_minhash_lsh_agrees_with_exact_on_fixture(spark, sf_dir):
    docs = read_fixture(spark, sf_dir, "documents")
    exact = {(r.doc_a, r.doc_b) for r in ngram_jaccard_pairs(docs, threshold=0.8).collect()}
    approx = {(r.doc_a, r.doc_b) for r in minhash_lsh_pairs(docs, est_threshold=0.7).collect()}
    assert exact, "fixture should contain planted near-duplicates"
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"minhash recall {recall}"


def test_simhash_pairs_are_near_dups(spark, sf_dir):
    docs = read_fixture(spark, sf_dir, "documents")
    exact = {(r.doc_a, r.doc_b) for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    sim = {(r.doc_a, r.doc_b) for r in simhash_near_pairs(docs, max_hamming=3).collect()}
    assert sim, "simhash should find the planted near-dups"
    # SimHash is a similarity *sketch*: on short same-vocabulary docs some
    # moderately-similar pairs land within hamming 3 — bounded, not zero.
    false_pos = len(sim - exact) / len(sim)
    assert false_pos <= 0.4, f"simhash false positive rate {false_pos}"


def test_lsh_topk_recall(spark, sf_dir):
    emb = read_fixture(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 5)
    bf = {(r.probe_id, r.neighbor_id) for r in bruteforce_topk(emb, probes, k=5).collect()}
    ann = {(r.probe_id, r.neighbor_id) for r in lsh_topk(emb, probes, k=5).collect()}
    recall = len(bf & ann) / len(bf)
    assert recall >= 0.4, f"multi-table LSH recall {recall} (random vectors)"


def test_ivf_topk_recall_scales_with_nprobe(spark, sf_dir):
    from spark_iceberg_jobs_spark.operators.similarity import ivf_topk

    emb = read_fixture(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 5)
    bf = {(r.probe_id, r.neighbor_id) for r in bruteforce_topk(emb, probes, k=5).collect()}
    narrow = {(r.probe_id, r.neighbor_id) for r in ivf_topk(emb, probes, k=5, nprobe=2).collect()}
    wide = {(r.probe_id, r.neighbor_id) for r in ivf_topk(emb, probes, k=5, nprobe=10).collect()}
    assert len(bf & wide) / len(bf) == 1.0, "nprobe=n_cells must equal brute force"
    assert len(narrow) <= len(wide)


def test_srp_dedup_pairs_subset_of_exact_with_recall(spark, sf_dir):
    """VERDICT r1 item 4: the SRP-bucketed near-dup must (a) never emit a
    pair the exact all-pairs baseline wouldn't (precision 1.0 — survivors
    are re-scored with true cosine) and (b) retain most of the exact pairs
    even in the fixture's hostile cos≈0.42 regime (random vectors; true
    near-dups at cos≥0.9 bucket far better — see srp_dedup_pairs docstring)."""
    from spark_iceberg_jobs_spark.operators.similarity import srp_dedup_pairs
    from spark_iceberg_jobs_spark.queries.llm import dedup_embedding_cosine

    emb = read_fixture(spark, sf_dir, "embeddings")
    exact = {(r.vec_a, r.vec_b) for r in dedup_embedding_cosine(spark, sf_dir).collect()}
    approx = {(r.vec_a, r.vec_b) for r in srp_dedup_pairs(emb).collect()}
    assert exact, "exact baseline should find pairs at 0.42 on the fixture"
    assert approx <= exact, f"false positives: {approx - exact}"
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"SRP-bucketed recall {recall} (random vectors)"


def test_srp_dedup_auto_sizes_planes_to_corpus(spark, sf_dir):
    """num_planes=None derives planes from corpus size so expected bucket
    occupancy stays ~target_bucket_rows: small corpora floor at 4 planes
    (identical results to the pinned-4 config); a shrunken target on the
    same corpus must raise the plane count (observable as a longer
    signature/bucket space in the plan's sig hashing or simply via the
    sizing formula)."""
    import math as m

    from spark_iceberg_jobs_spark.operators.similarity import srp_dedup_pairs

    emb = read_fixture(spark, sf_dir, "embeddings")
    n = emb.count()
    auto = {(r.vec_a, r.vec_b) for r in srp_dedup_pairs(emb).collect()}
    pinned = {(r.vec_a, r.vec_b) for r in srp_dedup_pairs(emb, num_planes=4).collect()}
    # at fixture scale the formula floors at 4 → bit-identical output
    assert m.ceil(m.log2(max(n, 1) / 64)) <= 4
    assert auto == pinned
    # the sizing formula scales: 1M rows / 64-row target buckets → 14 planes
    assert max(4, min(24, m.ceil(m.log2(1_000_000 / 64)))) == 14


def test_srp_dedup_hot_bucket_cap(spark, sf_dir):
    """max_bucket_rows drops over-full buckets from candidate generation
    (the dense-cluster guard): a generous cap changes nothing at fixture
    scale; a cap of 0 drops every bucket and yields no pairs; any capped
    result is a subset of the uncapped one."""
    from spark_iceberg_jobs_spark.operators.similarity import srp_dedup_pairs

    emb = read_fixture(spark, sf_dir, "embeddings")
    uncapped = {(r.vec_a, r.vec_b) for r in srp_dedup_pairs(emb).collect()}
    generous = {
        (r.vec_a, r.vec_b)
        for r in srp_dedup_pairs(emb, max_bucket_rows=10**6).collect()
    }
    assert generous == uncapped
    assert srp_dedup_pairs(emb, max_bucket_rows=0).count() == 0
    tight = {
        (r.vec_a, r.vec_b) for r in srp_dedup_pairs(emb, max_bucket_rows=20).collect()
    }
    assert tight <= uncapped


def test_multiway_join(spark, sf_dir):
    from spark_iceberg_jobs_spark.operators.joins import multiway_join

    a = spark.createDataFrame([(1, "x"), (2, "y")], "k long, a string")
    b = spark.createDataFrame([(1, 10), (2, 20)], "k long, b int")
    c = spark.createDataFrame([(1, True)], "k long, c boolean")
    rows = multiway_join([a, b, c], on="k").collect()
    assert len(rows) == 1 and rows[0].k == 1


def test_bruteforce_topk_self_excluded_and_ranked(spark, sf_dir):
    emb = read_fixture(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") == 0)
    rows = bruteforce_topk(emb, probes, k=3).collect()
    assert [r.rnk for r in rows] == [1, 2, 3]
    assert all(r.neighbor_id != 0 for r in rows)
    sims = [r.sim for r in rows]
    assert sims == sorted(sims, reverse=True)


def test_asof_join_null_carried_column_stays_atomic(spark):
    """A null in one carried column must NOT cause attribute-mixing across
    right rows: the match is one real row, nulls and all."""
    from spark_iceberg_jobs_spark.operators.joins import asof_join

    left = spark.createDataFrame([(1, 300)], "k int, lts long")
    right = spark.createDataFrame(
        [(1, 100, 5.0), (1, 200, None)], "k int, rts long, rv double"
    )
    rows = asof_join(
        left, right, on="k", left_ts="lts", right_ts="rts",
        right_cols=["rts", "rv"], strict=True,
    ).collect()
    assert len(rows) == 1
    assert rows[0].asof_rts == 200
    assert rows[0].asof_rv is None  # from the SAME row — never 5.0


def test_salted_join_rejects_right_preserving(spark):
    import pytest as _pytest

    from spark_iceberg_jobs_spark.operators.joins import salted_join

    left = spark.createDataFrame([(1, 1)], "k int, v int")
    right = spark.createDataFrame([(1, "x")], "k int, name string")
    with _pytest.raises(ValueError, match="right side"):
        salted_join(left, right, "k", how="full")


def test_unigram_shingles_supported(spark):
    from spark_iceberg_jobs_spark.operators.dedup import _distinct_shingles

    docs = spark.createDataFrame([(1, "a b a")], "doc_id long, text string")
    got = {r.shingle for r in _distinct_shingles(docs, n=1).collect()}
    assert got == {"a", "b"}


def test_sessionize_gap_semantics(spark):
    events = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00", 7, 1.0),
            (2, "2024-01-01 00:10:00", 7, 2.0),  # same session (gap 600s)
            (3, "2024-01-01 01:10:00", 7, 3.0),  # new session (gap 3600s)
            (4, "2024-01-01 00:00:00", 8, 4.0),
        ],
        "event_id long, ts string, user_id long, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    rows = {
        (r.user_id, r.session_seq): (r.n_events, r.duration_sec, r.session_value)
        for r in sessionize(events, gap_sec=1800).collect()
    }
    assert rows == {
        (7, 1): (2, 600, 3.0),
        (7, 2): (1, 0, 3.0),
        (8, 1): (1, 0, 4.0),
    }


def test_tumbling_window_boundaries(spark):
    events = spark.createDataFrame(
        [
            (1, "2024-01-01 00:59:59", 1, 1.0),
            (2, "2024-01-01 01:00:00", 1, 2.0),
        ],
        "event_id long, ts string, user_id long, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    rows = {r.window_start: r.n_events for r in tumbling_window_agg(events).collect()}
    assert len(rows) == 2  # events straddle the hour boundary


def test_multimodal_features_roundtrip(spark):
    import hashlib

    docs = spark.createDataFrame([(1, "abc"), (2, "hello")], "doc_id long, text string")
    feats = {r.doc_id: r for r in extract_payload_features(attach_binary_payload(docs)).collect()}
    assert feats[1].byte_len == 3
    assert feats[1].payload_md5 == hashlib.md5(b"abc").hexdigest()
    assert feats[2].mime == "text/plain"


def test_connected_dup_clusters_chain(spark):
    """A 4-node chain (1-2, 2-3, 3-4) needs label propagation across
    multiple hops — all nodes must land in cluster 1; the isolated pair
    (8-9) keeps its own cluster."""
    from spark_iceberg_jobs_spark.operators.dedup import connected_dup_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (8, 9)], "doc_a long, doc_b long"
    )
    got = {r.doc_id: r.cluster for r in connected_dup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 8: 8, 9: 8}


def test_connected_dup_clusters_long_chain_converges(spark):
    """VERDICT r1 item 7: a 25-node chain has diameter 24 — plain min-label
    propagation with max_iter=10 would return wrong labels silently. Pointer
    jumping must converge it (reach doubles per round: ~6 rounds), and a
    too-small max_iter must RAISE instead of returning unconverged labels."""
    import pytest

    from spark_iceberg_jobs_spark.operators.dedup import connected_dup_clusters

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 25)], "doc_a long, doc_b long"
    )
    got = {r.doc_id: r.cluster for r in connected_dup_clusters(chain).collect()}
    assert got == {i: 1 for i in range(1, 26)}
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_dup_clusters(chain, max_iter=2)


def test_cache_scope_releases_all_persisted_intermediates(spark, sf_dir):
    """VERDICT r1 item 8: after a batch materializes inside cache_scope(),
    the session's CacheManager must hold nothing — long sessions running
    many dedup batches must not accumulate entries."""
    from spark_iceberg_jobs_spark.functions.cache import cache_scope
    from spark_iceberg_jobs_spark.queries.llm import pipeline_corpus_curation

    def ids():
        return {
            int(i) for i in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
        }

    before = ids()  # other tests in the shared session may hold caches
    with cache_scope():
        rows = pipeline_corpus_curation(spark, sf_dir).collect()
        assert rows
    leaked = ids() - before
    assert not leaked, f"persisted RDDs leaked by the batch: {sorted(leaked)}"


def test_assign_split_partitions_completely_and_stably(spark, sf_dir):
    """Every row gets exactly one split; proportions land near the weights;
    and membership is a pure function of the key — re-running yields the
    identical assignment (the reproducibility contract)."""
    from spark_iceberg_jobs_spark.operators.splits import assign_split

    docs = read_fixture(spark, sf_dir, "documents")
    w = {"train": 0.9, "val": 0.05, "test": 0.05}
    out = assign_split(docs, key_col="doc_id", weights=w)
    counts = {r.split: r.n for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    total = docs.count()
    assert sum(counts.values()) == total  # complete, disjoint by construction
    assert counts["train"] / total > 0.8  # loose: small-n binomial noise
    again = {r.doc_id: r.split for r in assign_split(docs, key_col="doc_id", weights=w).collect()}
    first = {r.doc_id: r.split for r in out.collect()}
    assert first == again


def test_assign_split_stable_under_append(spark, sf_dir):
    """Appending new rows must never reassign existing ones: the split of a
    doc computed on a 50% subset equals its split computed on the full set."""
    from spark_iceberg_jobs_spark.operators.splits import assign_split

    docs = read_fixture(spark, sf_dir, "documents")
    w = {"train": 0.8, "test": 0.2}
    full = {r.doc_id: r.split for r in assign_split(docs, key_col="doc_id", weights=w).collect()}
    half = docs.filter(F.col("doc_id") % 2 == 0)
    sub = {r.doc_id: r.split for r in assign_split(half, key_col="doc_id", weights=w).collect()}
    assert sub == {k: v for k, v in full.items() if k % 2 == 0}


def test_stratified_sample_rates_and_determinism(spark, sf_dir):
    from spark_iceberg_jobs_spark.operators.splits import stratified_sample

    docs = read_fixture(spark, sf_dir, "documents")
    rates = {"en": 0.25, "de": 0.5}
    out = stratified_sample(docs, key_col="doc_id", rates=rates, stratum_col="lang")
    langs = {r.lang for r in out.select("lang").distinct().collect()}
    assert langs <= {"en", "de"}, "strata without a rate must be dropped"
    en_total = docs.filter(F.col("lang") == "en").count()
    en_kept = out.filter(F.col("lang") == "en").count()
    assert 0.1 < en_kept / en_total < 0.45  # binomial tolerance around 0.25
    # sampled set is a deterministic subset: rerun matches exactly
    ids1 = {r.doc_id for r in out.select("doc_id").collect()}
    ids2 = {
        r.doc_id
        for r in stratified_sample(docs, key_col="doc_id", rates=rates, stratum_col="lang")
        .select("doc_id")
        .collect()
    }
    assert ids1 == ids2


def test_pagerank_matches_local_reference(spark):
    """5-iteration PageRank on a hand-sized graph equals a plain-Python
    reference run of the same damped per-node recurrence (undirected,
    r0=1): exact float agreement, since both run the identical arithmetic."""
    from spark_iceberg_jobs_spark.operators.graph import pagerank

    raw = [(1, 2), (2, 3), (3, 4), (4, 1), (1, 3)]
    edges = spark.createDataFrame(raw, "src long, dst long")
    got = {r.node: r.rank for r in pagerank(edges, iterations=5).collect()}

    adj: dict = {}
    for a, b in raw:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    ranks = {n: 1.0 for n in adj}
    for _ in range(5):
        ranks = {
            n: 0.15 + 0.85 * sum(ranks[m] / len(adj[m]) for m in adj[n]) for n in adj
        }
    assert set(got) == set(ranks)
    for n in ranks:
        assert abs(got[n] - ranks[n]) < 1e-12, (n, got[n], ranks[n])
    # higher-degree nodes accumulate more mass
    assert got[1] > got[2] and got[3] > got[4]


def test_grouped_ols_matches_sufficient_stats_agg(spark, sf_dir):
    """grouped_ols_trend (applyInPandas + numpy) must agree with the
    closed-form pure-JVM sufficient-statistics aggregation — the stated
    100 TB alternative for giant groups — to float precision."""
    from spark_iceberg_jobs_spark.operators.aggs import grouped_ols_trend
    from spark_iceberg_jobs_spark.sources.readers import load_tables

    orders = load_tables(spark, sf_dir, "orders")["orders"]
    df = orders.select(
        (F.col("o_custkey") % 5).cast("string").alias("g"),
        F.unix_date(F.col("o_orderdate").cast("date")).cast("double").alias("x"),
        F.col("o_totalprice").alias("y"),
    )
    got = {
        r.g: r
        for r in grouped_ols_trend(df, key_cols=["g"], x_col="x", y_col="y").collect()
    }
    stats = (
        df.groupBy("g")
        .agg(
            F.count("*").alias("n"),
            F.avg("x").alias("xm"),
            F.avg("y").alias("ym"),
            F.covar_pop("x", "y").alias("sxy"),
            F.var_pop("x").alias("sxx"),
            F.var_pop("y").alias("syy"),
        )
        .collect()
    )
    assert len(got) == len(stats) == 5
    for r in stats:
        slope = r.sxy / r.sxx
        intercept = r.ym - slope * r.xm
        r2 = (r.sxy * r.sxy) / (r.sxx * r.syy)
        g = got[r.g]
        assert g.n == r.n
        assert abs(g.slope - slope) < 1e-9
        assert abs(g.intercept - intercept) < 1e-6 * max(1.0, abs(intercept))
        assert abs(g.r2 - r2) < 1e-9


def test_incremental_dedup_within_and_against_index(spark):
    """Batch rows dedup within the batch (min id per content hash) and
    against the existing fingerprint index; normalization collapses
    case/whitespace variants."""
    from spark_iceberg_jobs_spark.operators.dedup import exact_dedup, incremental_dedup

    existing = spark.createDataFrame(
        [(90, "already ingested doc")], "doc_id long, text string"
    )
    index = exact_dedup(existing).select("text_hash")
    batch = spark.createDataFrame(
        [
            (1, "brand new doc"),
            (2, "Brand  NEW   doc"),  # normalizes to the same content as 1
            (3, "ALREADY   ingested DOC"),  # normalizes to the indexed doc
            (4, "another fresh doc"),
        ],
        "doc_id long, text string",
    )
    got = incremental_dedup(batch, index)
    assert sorted(r.doc_id for r in got.collect()) == [1, 4]


def test_ngram_contamination_detects_copied_eval_text(spark):
    """A train doc that copies an eval doc verbatim scores contamination
    1.0; a doc sharing no 3-gram is absent from the report."""
    from spark_iceberg_jobs_spark.operators.dedup import ngram_contamination

    eval_docs = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")], "doc_id long, text string"
    )
    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),  # verbatim copy
            (2, "prefix words then the quick brown fox appears here"),  # partial
            (3, "completely different tokens with zero overlap at all"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in ngram_contamination(train, eval_docs, n=3).collect()}
    assert set(got) == {1, 2}
    assert got[1].contamination == 1.0
    assert got[1].n_eval_docs == 1
    assert 0.0 < got[2].contamination < 1.0


def test_repetition_stats_flags_degenerate_doc(spark):
    """A doc that loops one bigram is flagged with top_bigram_frac ~1; a
    diverse doc is unflagged with distinct_ratio 1.0."""
    from spark_iceberg_jobs_spark.operators.text import repetition_stats

    docs = spark.createDataFrame(
        [
            (1, "spam ham " * 20 + "spam"),  # top bigram (spam ham) dominates
            # 14 distinct tokens -> 13 distinct bigrams: top share 1/13 < 0.10
            (2, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi"),
        ],
        "doc_id long, text string",
    )
    docs = docs.select("doc_id", F.trim("text").alias("text"))
    got = {r.doc_id: r for r in repetition_stats(docs, k=10).collect()}
    assert got[1].flagged and not got[2].flagged
    assert got[1].top_bigram_frac >= 0.5
    assert got[1].distinct_ratio < 0.35
    assert got[2].distinct_ratio == 1.0 and got[2].top_bigram_frac < 0.2


def test_pack_sequences_invariants(spark, sf_dir):
    """Packing invariants: offsets are the exact prefix sums in doc_id
    order within each shard (so concatenation order is well-defined),
    chunk_id == floor(offset/budget), and chunk ids are contiguous from 0
    per shard (concat-and-chunk leaves no empty chunks)."""
    from spark_iceberg_jobs_spark.operators.splits import pack_sequences

    docs = read_fixture(spark, sf_dir, "documents")
    packed = pack_sequences(docs, budget=512, shard_col="lang").collect()
    by_shard: dict = {}
    for r in packed:
        by_shard.setdefault(r.lang, []).append(r)
    for shard, rows in by_shard.items():
        rows.sort(key=lambda r: r.doc_id)
        off = 0
        for r in rows:
            assert r.token_offset == off, f"{shard}:{r.doc_id}"
            assert r.chunk_id == off // 512
            off += r.n_tokens
        chunk_ids = sorted({r.chunk_id for r in rows})
        assert chunk_ids == list(range(len(chunk_ids)))


def test_decode_image_real_pgm_roundtrip(spark, sf_dir):
    """attach_image_payload emits VALID binary PGM; decode_image really
    parses the header and raster (numpy frombuffer), and the stats match a
    local reference decode of the same md5-derived bytes."""
    import hashlib

    from spark_iceberg_jobs_spark.operators.multimodal import (
        attach_image_payload,
        decode_image,
    )

    docs = read_fixture(spark, sf_dir, "documents").limit(5)
    rows = {r.doc_id: r for r in decode_image(attach_image_payload(docs)).collect()}
    assert rows
    for doc_id, r in rows.items():
        raster = b"".join(
            hashlib.md5(f"{doc_id}:{i}".encode()).digest() for i in range(16)
        )
        assert (r.width, r.height) == (16, 16)
        assert r.min_pixel == min(raster)
        assert r.max_pixel == max(raster)
        assert abs(r.mean_pixel - sum(raster) / 256) < 1e-9


def test_decode_image_rejects_unknown_magic(spark):
    import pytest
    from pyspark.sql.utils import PythonException

    from spark_iceberg_jobs_spark.operators.multimodal import decode_image

    bad = spark.createDataFrame(
        [(1, bytearray(b"\x89PNG\r\n\x1a\nrest"))], "doc_id long, payload binary"
    )
    with pytest.raises(PythonException, match="unsupported image magic"):
        decode_image(bad).collect()


def test_decode_audio_real_wav_roundtrip(spark, sf_dir):
    """attach_audio_payload emits a VALID RIFF/WAVE PCM clip; decode_audio
    really parses the header and PCM data, matching a local reference
    decode of the same md5-derived samples (including negative s16le)."""
    import hashlib
    import struct

    from spark_iceberg_jobs_spark.operators.multimodal import (
        attach_audio_payload,
        decode_audio,
    )

    docs = read_fixture(spark, sf_dir, "documents").limit(5)
    rows = {r.doc_id: r for r in decode_audio(attach_audio_payload(docs)).collect()}
    assert rows
    for doc_id, r in rows.items():
        pcm_bytes = b"".join(
            hashlib.md5(f"wav:{doc_id}:{i}".encode()).digest() for i in range(32)
        )
        samples = struct.unpack(f"<{len(pcm_bytes)//2}h", pcm_bytes)
        assert (r.n_samples, r.sample_rate) == (256, 8000)
        assert r.duration_sec == 256 / 8000
        assert r.peak == max(abs(s) for s in samples)
        ref_rms = (sum(s * s for s in samples) / len(samples)) ** 0.5
        assert abs(r.rms - ref_rms) < 1e-9
        assert min(samples) < 0 < max(samples), "fixture should exercise signed range"


def test_resize_stub(spark):
    from spark_iceberg_jobs_spark.operators.multimodal import resize_stub

    docs = spark.createDataFrame([(1, "abcdefgh")], "doc_id long, text string")
    row = resize_stub(attach_binary_payload(docs), factor=4).first()
    assert bytes(row.thumbnail) == b"ae"
    assert row.thumb_len == 2


def test_sample_frames_stub_expansion(spark):
    docs = spark.createDataFrame([(1, "x" * 130)], "doc_id long, text string")
    rows = sample_frames_stub(attach_binary_payload(docs), every_n_bytes=64).collect()
    assert [r.frame_offset for r in rows] == [0, 64, 128]
    assert all(r.frame_byte == ord("x") for r in rows)


def test_kmeans_inertia_non_increasing_and_ivf_integration(spark, sf_dir):
    """Lloyd's guarantee: total inertia after 3 update rounds must not
    exceed the seeded (0-round) inertia. The fitted centroids must slot
    directly into ivf_topk (the production path its docstring names)."""
    from spark_iceberg_jobs_spark.functions.vectors import as_double
    from spark_iceberg_jobs_spark.operators.similarity import (
        assign_cells,
        centroids_df,
        ivf_topk,
        kmeans_fit,
    )

    emb = read_fixture(spark, sf_dir, "embeddings")
    e = emb.select(F.col("vec_id").alias("cid"), as_double("embedding").alias("v"))

    def inertia(cents):
        return assign_cells(e, cents).agg(F.sum("dist")).collect()[0][0]

    seeded = kmeans_fit(emb, k=4, iterations=0)
    fitted = kmeans_fit(emb, k=4, iterations=3)
    assert inertia(fitted) <= inertia(seeded) + 1e-9

    probes = emb.filter(F.col("vec_id") < 3)
    out = ivf_topk(
        emb, probes, k=5, nprobe=2, centroids=centroids_df(spark, fitted)
    )
    per_probe = {r.probe_id for r in out.collect()}
    assert per_probe == {0, 1, 2}


def test_kmeans_assignment_is_projection_only(spark, sf_dir):
    """The assignment pass must compile to a pure projection over the scan:
    literal-array centroids, no shuffle, no broadcast, no crossJoin."""
    from spark_iceberg_jobs_spark.functions.vectors import as_double
    from spark_iceberg_jobs_spark.operators.similarity import assign_cells, kmeans_fit
    from spark_iceberg_jobs_spark.plans.explain import count_shuffle_exchanges, formatted_plan

    emb = read_fixture(spark, sf_dir, "embeddings")
    e = emb.select(F.col("vec_id").alias("cid"), as_double("embedding").alias("v"))
    cents = kmeans_fit(emb, k=4, iterations=1)
    assigned = assign_cells(e, cents)
    assert count_shuffle_exchanges(assigned) == 0, formatted_plan(assigned)
    plan = formatted_plan(assigned)
    assert "BroadcastExchange" not in plan, plan


def test_cms_estimates_are_upper_bounds(spark, sf_dir):
    """Count-min guarantee: every estimate >= the true count (collisions
    only ever ADD), and equals it when no heavier key collides."""
    from spark_iceberg_jobs_spark.operators.aggs import cms_estimate, cms_sketch

    docs = read_fixture(spark, sf_dir, "documents")
    tok = docs.select(F.explode(F.split("text", " ")).alias("t"))
    sketch = cms_sketch(tok, "t")
    exact = (
        tok.groupBy("t")
        .agg(F.count("*").alias("exact_n"))
        .orderBy(F.desc("exact_n"), "t")
        .limit(50)
    )
    est = cms_estimate(sketch, exact.select("t"), "t")
    joined = exact.join(est, "t").collect()
    assert joined, "no probe keys"
    assert all(r.est_n >= r.exact_n for r in joined)


def test_chunk_with_overlap_edges(spark, sf_dir):
    """A doc shorter than one chunk yields exactly one chunk carrying the
    whole text; consecutive chunks overlap by the configured amount; bad
    overlap raises."""
    import pytest

    from spark_iceberg_jobs_spark.operators.text import chunk_with_overlap

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, " ".join(f"t{i}" for i in range(40)))],
        "doc_id long, text string",
    )
    out = chunk_with_overlap(docs, chunk_tokens=16, overlap=4)
    rows = {(r.doc_id, r.chunk_id): r for r in out.collect()}
    assert rows[(1, 0)].chunk_text == "a b c" and rows[(1, 0)].n_tokens == 3
    assert sum(1 for k in rows if k[0] == 1) == 1
    c0, c1 = rows[(2, 0)].chunk_text.split(), rows[(2, 1)].chunk_text.split()
    assert c0[-4:] == c1[:4]  # 4-token overlap
    with pytest.raises(ValueError):
        chunk_with_overlap(docs, chunk_tokens=8, overlap=8)


def test_kmeans_dim_validation_and_cms_depth_guard(spark, sf_dir):
    """kmeans_fit fails loud on a dim mismatch (silent truncation/poisoned
    means otherwise); cms_estimate raises on a probe depth that differs
    from the sketch's instead of estimating 0 for present keys."""
    import pytest
    from pyspark.errors import SparkRuntimeException

    from spark_iceberg_jobs_spark.operators.aggs import cms_estimate, cms_sketch
    from spark_iceberg_jobs_spark.operators.similarity import kmeans_fit

    emb = read_fixture(spark, sf_dir, "embeddings")
    with pytest.raises(ValueError, match="dimensions"):
        kmeans_fit(emb, k=2, iterations=0, dim=32)
    assert len(kmeans_fit(emb, k=2, iterations=0)[0]) == 64  # derived

    docs = read_fixture(spark, sf_dir, "documents")
    tok = docs.select(F.explode(F.split("text", " ")).alias("t"))
    sketch = cms_sketch(tok, "t", depth=4)
    probes = tok.limit(5)
    with pytest.raises(SparkRuntimeException, match="depth"):
        cms_estimate(sketch, probes, "t", depth=8).collect()


def test_chunk_with_overlap_rejects_degenerate_params(spark):
    """ADVICE r2: negative overlap (stride > chunk_tokens ⇒ silently skipped
    tokens) and non-positive chunk_tokens must fail loud."""
    import pytest

    from spark_iceberg_jobs_spark.operators.text import chunk_with_overlap

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="overlap"):
        chunk_with_overlap(docs, chunk_tokens=8, overlap=-1)
    with pytest.raises(ValueError, match="chunk_tokens"):
        chunk_with_overlap(docs, chunk_tokens=0, overlap=0)


def test_exact_embedding_dedup_guard(spark, sf_dir):
    """VERDICT r2 item 7: the O(n²) exact baseline enforces its small-n
    contract — inputs above max_rows raise instead of silently planning an
    all-pairs job; max_rows=None overrides explicitly."""
    import pytest

    from spark_iceberg_jobs_spark.queries.llm import dedup_embedding_cosine

    with pytest.raises(ValueError, match="small-n oracle baseline"):
        dedup_embedding_cosine(spark, sf_dir, max_rows=10)
    # explicit override and the default cap both still plan fine at sf0.001
    assert dedup_embedding_cosine(spark, sf_dir, max_rows=None).columns == [
        "vec_a",
        "vec_b",
        "cos_sim",
    ]
    assert dedup_embedding_cosine(spark, sf_dir).columns == ["vec_a", "vec_b", "cos_sim"]


def test_pq_fit_encode_adc_properties(spark, sf_dir):
    """PQ invariants: fit is deterministic across runs; iterating reduces
    quantization distortion vs the seed codebooks (proxied by summed
    nearest-neighbor ADC distance over 20 probes); encode emits m codes
    in [0, k)."""
    from spark_iceberg_jobs_spark.operators.similarity import (
        pq_adc_topk,
        pq_encode,
        pq_fit,
    )
    from spark_iceberg_jobs_spark.sources.readers import read_fixture

    emb = read_fixture(spark, sf_dir, "embeddings")
    books = pq_fit(emb, m=4, k=8, iterations=2, dim=64)
    again = pq_fit(emb, m=4, k=8, iterations=2, dim=64)
    assert books == again, "pq_fit must be deterministic"
    assert len(books) == 4 and all(len(b) == 8 for b in books)
    assert all(len(c) == 16 for b in books for c in b)

    def distortion(bk):
        rows = pq_adc_topk(emb, emb.limit(20), bk, k=1).collect()
        return sum(r.adc_dist for r in rows)

    seeds = pq_fit(emb, m=4, k=8, iterations=0, dim=64)
    assert distortion(books) <= distortion(seeds), (
        "Lloyd's rounds must not increase quantization distortion"
    )

    codes = pq_encode(emb, books).collect()
    assert all(len(r.codes) == 4 for r in codes)
    assert all(0 <= c < 8 for r in codes for c in r.codes)


def test_pq_encode_is_projection_only(spark, sf_dir):
    """pq_encode must compile to a pure scan projection — literal codebooks,
    zero shuffle Exchange (the 100 TB contract: encoding never moves data)."""
    from spark_iceberg_jobs_spark.operators.similarity import pq_encode, pq_fit
    from spark_iceberg_jobs_spark.plans.explain import (
        count_shuffle_exchanges,
        formatted_plan,
    )
    from spark_iceberg_jobs_spark.sources.readers import read_fixture

    emb = read_fixture(spark, sf_dir, "embeddings")
    books = pq_fit(emb, m=4, k=8, iterations=0, dim=64)
    coded = pq_encode(emb, books)
    assert count_shuffle_exchanges(coded) == 0, formatted_plan(coded)


def test_ivfpq_residual_encode_is_projection_only(spark, sf_dir):
    """residual_encode (coarse argmin + centroid subtraction + PQ argmin)
    must still compile to one scan projection — zero shuffle Exchanges: the
    IVF-PQ encode pass never moves data, exactly like flat pq_encode."""
    from spark_iceberg_jobs_spark.operators.similarity import (
        kmeans_fit,
        pq_fit,
        residual_encode,
        residuals,
    )
    from spark_iceberg_jobs_spark.plans.explain import (
        count_shuffle_exchanges,
        formatted_plan,
    )
    from spark_iceberg_jobs_spark.sources.readers import read_fixture

    emb = read_fixture(spark, sf_dir, "embeddings")
    cents = kmeans_fit(emb, k=4, iterations=1, dim=64)
    res = residuals(emb, cents)
    books = pq_fit(res, m=4, k=8, iterations=0, dim=64, id_col="vid", vec_col="res")
    coded = residual_encode(emb, cents, books)
    assert count_shuffle_exchanges(coded) == 0, formatted_plan(coded)
    rows = coded.limit(50).collect()
    assert all(0 <= r.cell < 4 for r in rows)
    assert all(len(r.codes) == 4 and all(0 <= c < 8 for c in r.codes) for r in rows)


def test_ivfpq_beats_flat_pq_distortion(spark, sf_dir):
    """The point of residual encoding: with the SAME code budget (m=4, k=8),
    quantizing within-cell residuals must reconstruct vectors closer than
    quantizing the raw vectors — summed self-ADC distance over 20 probes
    (each probe's distance to its own encoding, rank-1 with nprobe=1 when
    probing its own cell) is strictly lower for IVF-PQ than flat PQ on the
    fixture corpus."""
    from spark_iceberg_jobs_spark.operators.similarity import (
        ivfpq_adc_topk,
        kmeans_fit,
        pq_adc_topk,
        pq_fit,
        residuals,
    )
    from spark_iceberg_jobs_spark.sources.readers import read_fixture
    from pyspark.sql import functions as F

    emb = read_fixture(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 20)

    flat_books = pq_fit(emb, m=4, k=8, iterations=2, dim=64)
    flat = pq_adc_topk(emb, probes, flat_books, k=3).collect()

    cents = kmeans_fit(emb, k=4, iterations=2, dim=64)
    res = residuals(emb, cents)
    rbooks = pq_fit(res, m=4, k=8, iterations=2, dim=64, id_col="vid", vec_col="res")
    ivfpq = ivfpq_adc_topk(emb, probes, cents, rbooks, k=3, nprobe=4).collect()

    # nprobe = all cells -> same candidate set; compare mean top-3 ADC dist
    flat_sum = sum(r.adc_dist for r in flat)
    ivfpq_sum = sum(r.adc_dist for r in ivfpq)
    assert len(flat) == len(ivfpq)
    assert ivfpq_sum < flat_sum, (ivfpq_sum, flat_sum)


def test_ivfpq_nearest_cells_lit_tie_break(spark):
    """nearest_cells_lit: struct array_sort orders by (dist, cell) — an
    exact-tie pair of centroids must emit the LOWER cell first, matching
    assign_cells' array_min tie-break."""
    from spark_iceberg_jobs_spark.operators.similarity import nearest_cells_lit

    df = spark.createDataFrame([(1, [1.0, 0.0])], "id long, v array<double>")
    # cells 0 and 1 are identical -> exact tie; cell 2 is farther
    cents = [[0.0, 0.0], [0.0, 0.0], [9.0, 9.0]]
    rows = nearest_cells_lit(df, cents, n=2, vec_col="v").select("cell").collect()
    assert [r.cell for r in rows] == [0, 1]


def test_semantic_dedup_precision_and_hot_cell_guard(spark, sf_dir):
    """semantic_dedup precision is exact (every emitted pair truly scores
    >= threshold — verified by re-scoring removed/keeper pairs brute-force)
    and max_cell_rows drops pair generation for oversized cells."""
    from spark_iceberg_jobs_spark.operators.dedup import semantic_dedup
    from spark_iceberg_jobs_spark.operators.similarity import kmeans_fit
    from spark_iceberg_jobs_spark.functions.vectors import as_double, cosine
    from spark_iceberg_jobs_spark.sources.readers import read_fixture
    from pyspark.sql import functions as F

    emb = read_fixture(spark, sf_dir, "embeddings")
    cents = kmeans_fit(emb, k=4, iterations=1, dim=64)
    out = semantic_dedup(emb, cents, threshold=0.30)
    e = emb.select(F.col("vec_id").alias("rid"), as_double("embedding").alias("rv"))
    k = emb.select(F.col("vec_id").alias("kid"), as_double("embedding").alias("kv"))
    rescored = (
        out.join(e, out.removed_id == e.rid)
        .join(k, out.keeper_id == k.kid)
        .select(cosine(F.col("rv"), F.col("kv")).alias("true_sim"))
        .collect()
    )
    assert rescored, "fixture should produce at least one semantic dup at 0.30"
    assert all(r.true_sim >= 0.30 for r in rescored)

    # a cap below every cell's size must remove all pair work
    none = semantic_dedup(emb, cents, threshold=0.30, max_cell_rows=1)
    assert none.count() == 0


def test_bucket_pair_scorer_drops_zero_vector_pairs(spark):
    """Zero-vector pairs score NaN in the numpy scorer and are DROPPED by
    the ``sim >= threshold`` keep-mask (NaN compares False) — the
    deliberate r14 behavior change from the r13 JVM ``>=`` filter, which
    kept NaN pairs because Spark SQL orders NaN above every double (pinned
    here so the docstring's claim stays honest; no fixture contains a zero
    vector, so oracle hashes never see the difference)."""
    from spark_iceberg_jobs_spark.operators.dedup import semantic_dedup

    rows = [
        (0, [0.0, 0.0, 0.0, 0.0]),  # zero vector — NaN against everything
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [1.0, 1e-9, 0.0, 0.0]),  # near-dup of 1
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # one cell keeps all three together: pair (0,1)/(0,2) are NaN, (1,2) ~1.0
    out = semantic_dedup(emb, [[0.0, 0.0, 0.0, 0.0]], threshold=0.9).collect()
    got = {(r.keeper_id, r.removed_id) for r in out}
    assert got == {(1, 2)}, f"NaN pairs must be dropped, real near-dup kept: {got}"


def test_semantic_dedup_auto_cap_matches_guardless(spark, sf_dir):
    """max_cell_rows="auto" (r15 — the declared query's wiring): the 8x
    even-mass cap with the 2048 floor never fires on a healthy clustering,
    so output is IDENTICAL to the guardless run — while a synthetic mass
    collapse (every vector in one cell, cap forced low by a tiny corpus
    formula) is exercised by the explicit-int test above."""
    from spark_iceberg_jobs_spark.operators.dedup import semantic_dedup
    from spark_iceberg_jobs_spark.operators.similarity import kmeans_fit
    from spark_iceberg_jobs_spark.sources.readers import read_fixture

    emb = read_fixture(spark, sf_dir, "embeddings")
    cents = kmeans_fit(emb, k=4, iterations=1, dim=64)

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    assert rows(semantic_dedup(emb, cents, threshold=0.30, max_cell_rows="auto")) == rows(
        semantic_dedup(emb, cents, threshold=0.30)
    )


def test_hll_registers_merge_and_estimate(spark):
    """HLL invariants: registers from two shards merge by MAX to the whole
    corpus' registers (mergeable-sketch contract), and the raw estimate
    lands within 3 standard errors (3 * 1.04/sqrt(64) = 39%) of the truth."""
    from spark_iceberg_jobs_spark.operators.aggs import hll_estimate, hll_registers
    from pyspark.sql import functions as F

    df = spark.range(2000).select(
        (F.col("id") % 2).alias("g"), F.col("id").alias("k")
    )
    whole = hll_registers(df, "k", "g")
    half_a = hll_registers(df.filter(F.col("k") < 1000), "k", "g")
    half_b = hll_registers(df.filter(F.col("k") >= 1000), "k", "g")
    merged = (
        half_a.unionByName(half_b)
        .groupBy("g", "reg")
        .agg(F.max("r").alias("r"))
    )
    assert sorted(map(tuple, whole.collect())) == sorted(map(tuple, merged.collect()))

    est = {r.g: r.hll_est for r in hll_estimate(whole, "g").collect()}
    for g in (0, 1):
        assert abs(est[g] - 1000) / 1000 < 0.39, est


def test_bloom_contamination_matches_exact(spark, sf_dir):
    """The bloom prefilter must lose NOTHING (no false negatives): per-doc
    n_hit equals ngram_contamination's n_hit, and the prefilter actually
    prunes (bloom-passing shingles are a strict subset of all shingles)."""
    from spark_iceberg_jobs_spark.operators.dedup import (
        bloom_contamination,
        ngram_contamination,
    )
    from spark_iceberg_jobs_spark.sources.readers import read_fixture
    from pyspark.sql import functions as F

    docs = read_fixture(spark, sf_dir, "documents")
    is_eval = (
        F.substring(
            F.md5(F.concat(F.lit("eval:"), F.col("doc_id").cast("string"))), 1, 8
        )
        < "20000000"
    )
    train, ev = docs.filter(~is_eval), docs.filter(is_eval)
    bloom = bloom_contamination(train, ev, n=5, bits=1 << 16, hashes=3)
    exact = ngram_contamination(train, ev, n=5)
    b = {r.doc_id: r for r in bloom.collect()}
    e = {r.doc_id: r.n_hit for r in exact.collect()}
    # every exact hit shows up with the identical count
    assert all(doc in b and b[doc].n_hit == n for doc, n in e.items())
    # no phantom hits: bloom-path docs not in exact have n_hit = 0 (FPs only)
    assert all(r.n_hit == 0 for d, r in b.items() if d not in e)
    # and the prefilter prunes: survivors are far fewer than total shingles
    tot = sum(r.n_shingles for r in b.values())
    surv = sum(r.n_bloom_pass for r in b.values())
    assert surv < tot


def test_kmv_sketch_merge_and_estimates(spark):
    """KMV invariants: (1) sketches merge — re-ranking the union of two
    groups' sketches equals sketching the union directly; (2) the union
    estimate lands within 3 standard errors (~3/sqrt(k)) of truth; (3) a
    group smaller than k reports exact counts (n_sample < k path)."""
    from spark_iceberg_jobs_spark.operators.aggs import (
        kmv_pairwise_overlap,
        kmv_sketches,
    )
    from pyspark.sql import functions as F

    k = 64
    # groups: "x" = ids 0..1999, "y" = ids 1000..2999 -> union 3000, inter 1000
    df = (
        spark.range(3000)
        .select(F.col("id"))
        .withColumn("g", F.when(F.col("id") < 2000, "x").otherwise("zz"))
    )
    both = spark.range(1000, 3000).select(F.col("id"), F.lit("y").alias("g"))
    data = df.select("g", "id").unionByName(both.select("g", "id"))

    sk = kmv_sketches(data, "id", "g", k=k)
    # direct sketch of x ∪ y must equal re-ranked merge of the two sketches
    direct = kmv_sketches(
        data.filter(F.col("g") != "zz").withColumn("g", F.lit("u")), "id", "g", k=k
    )
    from pyspark.sql import Window

    merged = (
        sk.filter(F.col("g").isin("x", "y"))
        .select("h")
        .distinct()
        .withColumn("rnk", F.row_number().over(Window.partitionBy().orderBy("h")))
        .filter(F.col("rnk") <= k)
    )
    assert sorted(r.h for r in direct.collect()) == sorted(
        r.h for r in merged.collect()
    )

    ov = {(r.grp_a, r.grp_b): r for r in kmv_pairwise_overlap(sk, "g", k=k).collect()}
    xy = ov[("x", "y")]
    assert abs(xy.est_union - 3000) / 3000 < 3 / (k ** 0.5)
    # exact path: a 10-element group vs x — union sample < k reports exactly
    tiny = data.unionByName(
        spark.range(10).select(F.lit("aa").alias("g"), F.col("id"))
    )
    ov2 = {
        (r.grp_a, r.grp_b): r
        for r in kmv_pairwise_overlap(
            kmv_sketches(tiny, "id", "g", k=k), "g", k=k
        ).collect()
    }
    # pair (aa, x) must exist with sane sketch-only estimates (aa's 10 ids
    # are a subset of x's, but whether they land in the k-smallest of the
    # merged sample is chance — only the bounds are deterministic)
    assert ("aa", "x") in ov2
    r = ov2[("aa", "x")]
    assert 0.0 <= r.jaccard_est <= 1.0 and r.est_intersection <= r.est_union


def test_weighted_reservoir_favors_heavy_docs(spark, sf_dir):
    """A-ES sampling must skew toward weight: the mean n_chars of sampled
    docs exceeds the corpus mean (probability-proportional-to-size), and
    the draw is deterministic across runs."""
    from spark_iceberg_jobs_spark.queries.llm import sample_weighted_reservoir
    from pyspark.sql import functions as F

    s1 = sample_weighted_reservoir(spark, sf_dir).collect()
    s2 = sample_weighted_reservoir(spark, sf_dir).collect()
    assert s1 == s2
    from spark_iceberg_jobs_spark.sources.readers import read_fixture

    docs = read_fixture(spark, sf_dir, "documents")
    corpus_mean = docs.agg(F.avg("n_chars")).first()[0]
    sample_mean = sum(r.n_chars for r in s1) / len(s1)
    assert sample_mean > corpus_mean


def test_srp_arrow_signatures_match_fold(spark, sf_dir):
    """The Arrow matmul signature path must produce bit-identical
    (vid, tbl, sig) rows to the pure-JVM fold on the fixture corpus —
    the equivalence that keeps the plane-literal SQL oracles valid."""
    from pyspark.sql import functions as F

    from spark_iceberg_jobs_spark.functions.vectors import as_double
    from spark_iceberg_jobs_spark.operators.similarity import _multi_table_sig
    from spark_iceberg_jobs_spark.sources.readers import read_fixture

    emb = read_fixture(spark, sf_dir, "embeddings")
    e = emb.select(F.col("vec_id").alias("vid"), as_double("embedding").alias("v"))
    a = _multi_table_sig(e, vec_col="v", num_planes=4, num_tables=8, dim=64, arrow=True)
    b = _multi_table_sig(e, vec_col="v", num_planes=4, num_tables=8, dim=64, arrow=False)
    ra = sorted((r.vid, r.tbl, r.sig) for r in a.select("vid", "tbl", "sig").collect())
    rb = sorted((r.vid, r.tbl, r.sig) for r in b.select("vid", "tbl", "sig").collect())
    assert ra == rb


def test_ivfpq_recall_vs_exact_l2(spark, sf_dir):
    """IVF-PQ serving quality: with nprobe = all cells (no coarse-pruning
    loss), ADC top-5 over residual codes must retain a solid fraction of
    the exact-L2 top-5 — quantization is lossy, but m=4/k=8 on 64 dims
    must beat random (5/n ~ 1%) by a wide margin on the fixture."""
    from pyspark.sql import functions as F

    from spark_iceberg_jobs_spark.functions.vectors import as_double
    from spark_iceberg_jobs_spark.operators.similarity import (
        _sqdist,
        ivfpq_adc_topk,
        kmeans_fit,
        pq_fit,
        residuals,
    )
    from spark_iceberg_jobs_spark.sources.readers import read_fixture
    from pyspark.sql.window import Window

    emb = read_fixture(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 10)
    cents = kmeans_fit(emb, k=4, iterations=1, dim=64)
    res = residuals(emb, cents)
    books = pq_fit(res, m=4, k=8, iterations=2, dim=64, id_col="vid", vec_col="res")
    approx = {
        (r.probe_id, r.neighbor_id)
        for r in ivfpq_adc_topk(emb, probes, cents, books, k=5, nprobe=4).collect()
    }

    e = emb.select(F.col("vec_id").alias("nid"), as_double("embedding").alias("cv"))
    p = probes.select(F.col("vec_id").alias("pid"), as_double("embedding").alias("pv"))
    scored = e.crossJoin(F.broadcast(p)).filter(F.col("nid") != F.col("pid")).select(
        "pid", "nid", _sqdist(F.col("pv"), F.col("cv")).alias("d")
    )
    w = Window.partitionBy("pid").orderBy(F.asc("d"), F.asc("nid"))
    exact = {
        (r.pid, r.nid)
        for r in scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .collect()
    }
    recall = len(approx & exact) / len(exact)
    # Random 64-dim vectors are the WORST case for PQ: pairwise distances
    # concentrate, so 12-bit codes can barely order the bulk — measured
    # recall ~0.12 here vs a random-pick baseline of k/n = 1%. Real
    # embedding corpora (clustered, low intrinsic dim) quantize far
    # better; the assert pins "an order of magnitude above random".
    assert recall >= 0.08, f"IVF-PQ recall {recall} (random 64-dim fixture)"


def test_bpe_fit_greedy_semantics_and_determinism(spark):
    """BPE invariants on a hand-checkable corpus: (1) greedy left-to-right
    non-overlap — 'a a a a' contributes 3 'a a' bigrams to the count but
    only 2 merges apply; (2) merged units participate in later rounds;
    (3) the fit is deterministic across runs; (4) sentinel collision
    fails loud."""
    import pytest

    from spark_iceberg_jobs_spark.operators.text import bpe_fit

    docs = spark.createDataFrame(
        [(1, "a a a a b c"), (2, "a a b c b c"), (3, "b c b c b c")],
        "doc_id long, text string",
    )
    out = bpe_fit(docs, merges=3)
    assert out == bpe_fit(docs, merges=3)
    # round 1: 'b c' occurs 6x, 'a a' 4x (3 in doc1 + 1 in doc2) -> 'b+c'
    assert out[0][:3] == (1, "b+c", 6)
    # round 2: 'a a' now top with 4 raw occurrences
    assert out[1][:3] == (2, "a+a", 4)
    # round 3: merged units pair up: doc2/doc3 have 'b+c b+c' adjacency
    assert out[2][1] in ("b+c+b+c", "a+a+b+c") and out[2][0] == 3

    bad = spark.createDataFrame([(1, "has | pipe")], "doc_id long, text string")
    with pytest.raises(ValueError, match="sentinel collision"):
        bpe_fit(bad, merges=1)


def test_bpe_sample_fit_is_pure_function_of_sample(spark):
    """The scale contract of sample-fit BPE (round-3 VERDICT item 2): the
    fit must be a pure function of the md5-sampled sub-corpus, i.e. it
    never scans an out-of-sample doc. Pinned two ways: (1) fitting with
    ``sample_rate`` equals fitting on the pre-filtered sample exactly;
    (2) POISONING every out-of-sample doc's text leaves the fit
    bit-identical — if any round touched the full corpus, the poison
    tokens would dominate the pair counts and flip the merges."""
    from pyspark.sql import functions as F

    from spark_iceberg_jobs_spark.operators.splits import (
        _hash_prefix,
        _hex_threshold,
        stratified_sample,
    )
    from spark_iceberg_jobs_spark.operators.text import bpe_fit

    rows = [(i, f"t{i % 5} t{(i + 1) % 5} x y t{i % 3}") for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sample = stratified_sample(docs, key_col="doc_id", rates=0.5, salt="bpe")
    n_sample = sample.count()
    assert 0 < n_sample < docs.count(), "fixture must straddle the threshold"

    fitted = bpe_fit(docs, merges=4, sample_rate=0.5, salt="bpe")
    assert fitted == bpe_fit(sample, merges=4)

    in_sample = _hash_prefix(F.col("doc_id"), "bpe") < F.lit(_hex_threshold(0.5))
    poisoned = docs.withColumn(
        "text",
        F.when(in_sample, F.col("text")).otherwise(F.lit("zz zz zz zz zz zz")),
    )
    assert bpe_fit(poisoned, merges=4, sample_rate=0.5, salt="bpe") == fitted


def test_sketch_operator_guards(spark):
    """Sketch preconditions fail loud: HLL register count must divide 256
    (first-byte-mod uniformity), KMV k must be positive, histogram bins
    must divide 256-free but need bins >= 1 and hi > lo."""
    import pytest

    from spark_iceberg_jobs_spark.operators.aggs import (
        histogram_sketch,
        hll_registers,
        kmv_sketches,
    )

    df = spark.createDataFrame([(1, "g")], "k long, g string")
    with pytest.raises(ValueError, match="divide 256"):
        hll_registers(df, "k", "g", m=60)
    with pytest.raises(ValueError, match=">= 1"):
        kmv_sketches(df, "k", "g", k=0)
    with pytest.raises(ValueError, match="bins >= 1"):
        histogram_sketch(df, "k", "g", lo=0.0, hi=1.0, bins=0)
    with pytest.raises(ValueError, match="hi > lo"):
        histogram_sketch(df, "k", "g", lo=1.0, hi=1.0, bins=4)


def test_repeated_ngram_spans_merges_islands_and_guards(spark):
    from spark_iceberg_jobs_spark.operators.dedup import repeated_ngram_spans

    # doc 1 and doc 2 share the run "a b c d" twice → every 3-gram window in
    # the run duplicates; doc 3 is unique text → absent from the output
    docs = spark.createDataFrame(
        [
            (1, "a b c d x y z q r s"),
            (2, "p q a b c d w"),
            (3, "unique words only here nothing repeats ever at all"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in repeated_ngram_spans(docs, window=3, min_count=2).collect()
    }
    assert set(out) == {1, 2}
    # doc 1: windows [a b c], [b c d] duplicate → merged island tokens 0..4
    assert out[1]["n_dup_spans"] == 1 and out[1]["dup_tokens"] == 4
    assert out[1]["n_tokens"] == 10
    assert abs(out[1]["dup_frac"] - 0.4) < 1e-9
    # doc 2: same island at offset 2
    assert out[2]["n_dup_spans"] == 1 and out[2]["dup_tokens"] == 4

    with pytest.raises(ValueError, match="window"):
        repeated_ngram_spans(docs, window=1)
    with pytest.raises(ValueError, match="min_count"):
        repeated_ngram_spans(docs, min_count=1)


def test_repeated_ngram_spans_counts_within_doc_repeats(spark):
    from spark_iceberg_jobs_spark.operators.dedup import repeated_ngram_spans

    # the 2-gram "a b" occurs twice WITHIN one doc → both spans flagged,
    # non-adjacent so they stay separate islands
    docs = spark.createDataFrame(
        [(7, "a b x y z a b")], "doc_id long, text string"
    )
    [row] = repeated_ngram_spans(docs, window=2, min_count=2).collect()
    assert row["n_dup_spans"] == 2 and row["dup_tokens"] == 4
    assert row["n_tokens"] == 7


def test_logreg_fit_learns_separable_labels(spark):
    from spark_iceberg_jobs_spark.operators.regression import (
        fast_sigmoid,
        logreg_fit,
        logreg_predict,
    )

    # y = 1 iff x > 0, well-separated → GD must find a positive slope and
    # classify the training set perfectly at the 0.5 threshold
    rows = [(1.0 if i >= 0 else 0.0, float(i)) for i in range(-20, 20) if i != 0]
    feats = spark.createDataFrame(rows, "y double, x double")
    w = logreg_fit(feats, label_col="y", feature_cols=["x"], iterations=20, lr=2.0)
    assert w[1] > 0.0
    p = logreg_predict(feats, w, ["x"])
    miss = feats.select(
        ((p >= 0.5).cast("int") != F.col("y").cast("int")).cast("int").alias("m")
    ).agg(F.sum("m")).collect()[0][0]
    assert miss == 0

    with pytest.raises(ValueError, match="iterations"):
        logreg_fit(feats, label_col="y", feature_cols=["x"], iterations=-1)
    with pytest.raises(ValueError, match="feature"):
        logreg_fit(feats, label_col="y", feature_cols=[])

    # the rational link is bounded and centered
    probe = spark.range(1).select(
        fast_sigmoid(F.lit(0.0)).alias("mid"),
        fast_sigmoid(F.lit(1e9)).alias("hi"),
        fast_sigmoid(F.lit(-1e9)).alias("lo"),
    ).collect()[0]
    assert probe["mid"] == 0.5 and 0.999 < probe["hi"] < 1.0 and 0.0 < probe["lo"] < 0.001


def test_tfidf_cosine_pairs_weights_and_cap(spark):
    from spark_iceberg_jobs_spark.operators.dedup import tfidf_cosine_pairs

    # docs 1/2 are identical → cos == 1.0; doc 3 shares only the ubiquitous
    # term "the", whose idf = ln(3/3) = 0 → zero weight, no qualifying pair
    docs = spark.createDataFrame(
        [
            (1, "the quick fox jumps high"),
            (2, "the quick fox jumps high"),
            (3, "the slow turtle crawls low"),
        ],
        "doc_id long, text string",
    )
    rows = tfidf_cosine_pairs(docs, threshold=0.5).collect()
    assert [(r["doc_a"], r["doc_b"], r["cos_sim"]) for r in rows] == [(1, 2, 1.0)]

    # the df cap drops every term shared by both near-dup docs → no pairs
    assert tfidf_cosine_pairs(docs, threshold=0.5, max_term_df=1).count() == 0

    with pytest.raises(ValueError, match="threshold"):
        tfidf_cosine_pairs(docs, threshold=0.0)


def test_char_entropy_handles_empty_and_uniform_docs(spark):
    from spark_iceberg_jobs_spark.operators.text import char_entropy

    docs = spark.createDataFrame(
        [(1, "aaaa"), (2, "abab"), (3, "")], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r for r in char_entropy(docs).collect()}
    # empty doc dropped (Spark sequence(1,0) is DESCENDING — the guard
    # prevents a phantom '' character)
    assert set(rows) == {1, 2}
    assert rows[1]["entropy_nats"] == 0.0 and rows[1]["distinct_chars"] == 1
    # two equiprobable symbols → ln 2
    import math

    assert abs(rows[2]["entropy_nats"] - round(math.log(2), 6)) < 1e-9

    from spark_iceberg_jobs_spark.operators.regression import logreg_fit

    feats = spark.createDataFrame([(1.0, 1.0)], "y double, x double")
    with pytest.raises(ValueError, match="lr"):
        logreg_fit(feats, label_col="y", feature_cols=["x"], lr=0.0)


def test_bm25_ranks_matching_doc_first_and_excludes_self(spark, monkeypatch, tmp_path):
    """On a toy corpus where doc 3 shares doc 0's rare vocabulary, BM25
    must rank doc 3 first for query doc 0 and never retrieve doc 0 for
    itself."""
    import spark_iceberg_jobs_spark.queries.llm as llm

    docs = spark.createDataFrame(
        [
            (0, "quantum flux capacitor resonance", "en", "src0", 32),
            (1, "apples bananas cherries daily", "en", "src0", 29),
            (2, "weather sunny rain cloudy", "en", "src0", 25),
            (3, "quantum flux capacitor experiments", "en", "src0", 34),
            (4, "bananas weather quantum mixed", "en", "src0", 29),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    monkeypatch.setattr(llm, "read_fixture", lambda s, d, t: docs)
    rows = llm.text_bm25_topk(spark, "unused").collect()
    q0 = [r for r in rows if r.query_doc == 0]
    assert q0[0].doc_id == 3, q0
    assert all(r.doc_id != r.query_doc for r in rows)


def test_changepoint_finds_planted_level_shift(spark, monkeypatch):
    """A series that jumps from ~10/day to ~100/day on day 15 must locate
    the changepoint exactly and report a large variance reduction."""
    import datetime

    import spark_iceberg_jobs_spark.queries.events as ev_mod

    rows = []
    eid = 0
    base = datetime.datetime(2024, 1, 1)
    for day in range(30):
        n = 10 if day < 15 else 100
        for i in range(n):
            rows.append(
                (eid, base + datetime.timedelta(days=day, seconds=i), 1, "click", 1.0, "{}")
            )
            eid += 1
    events = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    monkeypatch.setattr(ev_mod, "read_fixture", lambda s, d, t: events)
    [row] = ev_mod.events_changepoint_daily(spark, "unused").collect()
    day0 = int(base.timestamp() // 86400)
    assert row.split_day == day0 + 15
    assert row.var_reduction > 0.99
    assert row.mean_before == 10.0 and row.mean_after == 100.0


def test_asof_join_left_keeps_unmatched(spark):
    from spark_iceberg_jobs_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(1, 100, "p1"), (1, 50, "p0"), (2, 10, "p2")], "k long, ts long, pid string"
    )
    right = spark.createDataFrame([(1, 60, 9.0)], "k long, ts long, v double")
    inner = asof_join(
        left, right, on="k", left_ts="ts", right_ts="ts", right_cols=["v"]
    ).collect()
    # only the 1@100 purchase has a prior right row (60 < 100)
    assert [(r.k, r.ts, r.asof_v) for r in inner] == [(1, 100, 9.0)]

    left_join = {
        (r.k, r.ts): r.asof_v
        for r in asof_join(
            left, right, on="k", left_ts="ts", right_ts="ts",
            right_cols=["v"], how="left",
        ).collect()
    }
    assert left_join == {(1, 100): 9.0, (1, 50): None, (2, 10): None}

    with pytest.raises(ValueError, match="how"):
        asof_join(
            left, right, on="k", left_ts="ts", right_ts="ts",
            right_cols=["v"], how="outer",
        )


def test_twap_weights_by_holding_duration(spark, monkeypatch):
    """A value held 9x longer must dominate TWAP while the plain average
    splits evenly; the user's final observation carries no duration."""
    import datetime

    import spark_iceberg_jobs_spark.queries.events as ev_mod

    base = datetime.datetime(2024, 1, 1)
    rows = [
        # value 10 held 90s, value 100 held 10s, final value never held
        (0, base, 1, "click", 10.0, "{}"),
        (1, base + datetime.timedelta(seconds=90), 1, "click", 100.0, "{}"),
        (2, base + datetime.timedelta(seconds=100), 1, "click", 55.0, "{}"),
    ]
    events = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    monkeypatch.setattr(ev_mod, "read_fixture", lambda s, d, t: events)
    [row] = ev_mod.events_time_weighted_value(spark, "unused").collect()
    assert row.n_intervals == 2 and row.total_sec == 100
    assert row.twap_value == 19.0  # (10*90 + 100*10) / 100
    assert row.plain_avg == 55.0  # (10 + 100) / 2


def test_rolling_hll_merges_across_gap_days(spark, monkeypatch):
    """A register seen only on day D must still contribute to day D+2's
    trailing-7-day sketch even if it never fires again — the day x
    register grid is what carries it across gap days."""
    import datetime

    import spark_iceberg_jobs_spark.queries.events as ev_mod

    base = datetime.datetime(2024, 1, 1)
    rows = [
        (0, base, 101, "click", 1.0, "{}"),  # day 0: user 101
        (1, base + datetime.timedelta(days=2), 202, "click", 1.0, "{}"),  # day 2
    ]
    events = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    monkeypatch.setattr(ev_mod, "read_fixture", lambda s, d, t: events)
    out = {r.day_num: r for r in ev_mod.events_rolling_distinct_hll(spark, "unused").collect()}
    days = sorted(out)
    # day 2's window covers both users: exact = 2, and the merged sketch
    # must carry day 0's register (2 registers set unless they collide)
    assert out[days[-1]].exact_users == 2
    assert out[days[-1]].n_regs_set >= out[days[0]].n_regs_set


def test_mmr_rerank_diversifies_near_duplicate_neighbors(spark):
    """MMR semantics on a hand-checkable case: the two closest neighbors
    are near-duplicates of each other, so plain top-2 returns both, while
    MMR's redundancy penalty (lam=0.5) makes the second pick the DIVERSE
    moderate-similarity vector instead. Guards fail loud."""
    import pytest

    from spark_iceberg_jobs_spark.operators.similarity import (
        MMR_MAX_POOL,
        bruteforce_topk,
        mmr_rerank,
    )

    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0]),   # the query
            (1, [1.0, 0.10, 0.0]),  # top neighbor
            (2, [1.0, 0.11, 0.0]),  # near-duplicate of vec 1
            (3, [0.6, 0.0, 0.8]),   # diverse, moderate similarity
        ],
        "vec_id long, embedding array<float>",
    )
    probes = emb.filter(F.col("vec_id") == 0)
    plain = [
        r.neighbor_id
        for r in bruteforce_topk(emb, probes, k=2).orderBy("rnk").collect()
    ]
    assert plain == [1, 2], "plain top-2 must return the near-dup pair"
    mmr = [
        r.neighbor_id
        for r in mmr_rerank(emb, probes, k=2, pool=3, lam=0.5).orderBy("rnk").collect()
    ]
    assert mmr == [1, 3], "MMR must swap the near-dup for the diverse vector"

    with pytest.raises(ValueError, match="cannot exceed"):
        mmr_rerank(emb, probes, k=5, pool=3)
    with pytest.raises(ValueError, match="MMR_MAX_POOL"):
        mmr_rerank(emb, probes, k=1, pool=MMR_MAX_POOL + 1)
    with pytest.raises(ValueError, match="lam"):
        mmr_rerank(emb, probes, k=1, pool=2, lam=1.5)


def test_bigram_logprob_catches_scrambled_text_unigram_misses(spark):
    """The claim that justifies the model order: a scrambled doc with the
    IDENTICAL token multiset as the natural docs gets the same unigram
    score (the unigram LM only sees the bag of words) but a strictly
    lower bigram score (the transitions are improbable). Plus the lam
    guard fails loud."""
    import pytest

    from spark_iceberg_jobs_spark.operators.text import (
        bigram_logprob,
        unigram_logprob,
    )

    docs = spark.createDataFrame(
        [
            (0, "a b c d a b c d"),
            (1, "a b c d a b c d"),
            (2, "a b c d a b c d"),
            (3, "a d b c c a d b"),  # same multiset {a:2,b:2,c:2,d:2}, scrambled
        ],
        "doc_id long, text string",
    )
    uni = {r.doc_id: r.avg_logprob for r in unigram_logprob(docs).collect()}
    assert uni[3] == uni[0], "unigram LM must be blind to token order"
    bi = {r.doc_id: r.avg_logprob for r in bigram_logprob(docs).collect()}
    assert bi[3] < bi[0], "bigram LM must penalize the scrambled transitions"

    with pytest.raises(ValueError, match="lam"):
        bigram_logprob(docs, lam=0.0)


def test_interval_overlap_join_semantics(spark):
    """Closed-interval overlap: touching endpoints match, disjoint don't,
    nesting matches once even when the pair shares several buckets."""
    from spark_iceberg_jobs_spark.operators.joins import interval_overlap_join

    left = spark.createDataFrame(
        [("a", 0, 100), ("b", 200, 300), ("c", 1000, 9000), ("m", 500, 400)],
        "lid string, s_start long, s_end long",
    )
    right = spark.createDataFrame(
        [("x", 100, 150), ("y", 301, 400), ("z", 2000, 2100), ("z", 2000, 2100)],
        "rid string, h_start long, h_end long",
    )
    pairs = interval_overlap_join(
        left,
        right,
        left_start="s_start",
        left_end="s_end",
        right_start="h_start",
        right_end="h_end",
        bucket_sec=1000,
    )
    got = sorted((r.lid, r.rid) for r in pairs.collect())
    # a-x touch at 100 (closed intervals), b-y are adjacent-but-disjoint
    # (300 < 301), c fully contains z and spans buckets 1..9 — exactly once
    # PER INPUT ROW: the duplicated z row must yield two pairs (cross-
    # product-plus-filter semantics; round-5 ADVICE), and the malformed
    # m row (end < start) is dropped, never exploded descending.
    assert got == [("a", "x"), ("c", "z"), ("c", "z")]


def test_pii_redaction_roundtrip_on_planted_needles(spark, monkeypatch):
    """Detection counts match the planted needles exactly and redaction
    leaves zero surviving matches."""
    import spark_iceberg_jobs_spark.queries.llm as llm

    docs = spark.createDataFrame(
        [
            (0, "plain words only", "en", "s1", 16),   # %7==0 → email; %11==0 → phone
            (7, "more words", "en", "s1", 10),          # %7==0 → email
            (11, "other words", "en", "s2", 11),        # %11==0 → phone
            (13, "nothing here", "en", "s2", 12),       # clean
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    monkeypatch.setattr(llm, "read_fixture", lambda s, d, n: docs)
    rows = {r["source"]: r for r in llm.pii_detect_redact(spark, "unused").collect()}
    assert rows["s1"]["total_emails"] == 2 and rows["s1"]["total_phones"] == 1
    assert rows["s2"]["total_phones"] == 1 and rows["s2"]["total_emails"] == 0
    assert all(r["all_clean"] for r in rows.values())
    # doc 0 carries both an email and a phone
    assert rows["s1"]["docs_with_email"] == 2 and rows["s1"]["docs_with_phone"] == 1


def test_repetition_topgram_flags_repetitive_doc(spark, monkeypatch):
    """A doc dominated by one repeated bigram scores near 1 and is flagged;
    an all-distinct doc scores low and is not."""
    import spark_iceberg_jobs_spark.queries.llm as llm

    docs = spark.createDataFrame(
        [
            (0, "spam ham " * 10, "en", "rep", 0),     # 'spam ham' dominates
            # the metric's floor is 2/n_tokens, so the distinct doc must
            # carry >20 tokens to sit under the 0.1 threshold
            (1, " ".join(f"w{i}" for i in range(30)), "en", "uniq", 0),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs = docs.withColumn("text", F.rtrim("text"))
    monkeypatch.setattr(llm, "read_fixture", lambda s, d, n: docs)
    rows = {
        r["source"]: r
        for r in llm.quality_repetition_topgram(spark, "unused").collect()
    }
    assert rows["rep"]["n_flagged"] == 1 and rows["rep"]["mean_top2gram_share"] > 0.9
    assert rows["uniq"]["n_flagged"] == 0 and rows["uniq"]["mean_top2gram_share"] < 0.1


def test_curriculum_phases_split_at_tertiles(spark, monkeypatch):
    """Nine docs with strictly increasing quality scores split 3/3/3 with
    the highest scores in phase 1."""
    import spark_iceberg_jobs_spark.queries.llm as llm
    import spark_iceberg_jobs_spark.operators.text as text_ops

    # scores 0.1 .. 0.9 via a stub scorer — the split logic is under test
    scored = spark.createDataFrame(
        [(i, "s", 10, 0.0, 0.0, round(0.1 * (i + 1), 4)) for i in range(9)],
        "doc_id long, source string, n_tokens int, avg_word_len double,"
        " stopword_ratio double, quality_score double",
    )
    monkeypatch.setattr(llm, "read_fixture", lambda s, d, n: scored)
    monkeypatch.setattr(text_ops, "quality_score_per_doc", lambda df: df)
    rows = {r["phase"]: r for r in llm.curriculum_quality_phases(spark, "unused").collect()}
    assert [rows[p]["n_docs"] for p in ("1_high", "2_mid", "3_low")] == [3, 3, 3]
    assert rows["1_high"]["min_score"] > rows["2_mid"]["max_score"]


def test_mixture_epochs_tiny_case(spark, monkeypatch):
    """Two sources, 3:1 token ratio, alpha=0.3: probabilities follow
    (n^0.3)/Z and epochs = p*budget/n — hand-checked."""
    import math

    import spark_iceberg_jobs_spark.queries.llm as llm

    docs = spark.createDataFrame(
        [(0, "a b c d e f", "en", "big", 0), (1, "a b", "en", "small", 0)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    monkeypatch.setattr(llm, "read_fixture", lambda s, d, n: docs)
    rows = {
        r["source"]: r
        for r in llm.mixture_token_budget_epochs(spark, "unused").collect()
    }
    w_big, w_small = round(6**0.3, 9), round(2**0.3, 9)
    z = w_big + w_small
    assert math.isclose(rows["big"]["sample_prob"], round(w_big / z, 6), abs_tol=1e-6)
    assert math.isclose(
        rows["small"]["expected_epochs"],
        round(w_small / z * 1000000 / 2, 4),
        rel_tol=1e-6,
    )


def test_js_divergence_zero_for_identical_distributions(spark, monkeypatch):
    """Sources with identical token distributions sit at (near-)zero JS;
    a source with disjoint tokens scores strictly higher."""
    import spark_iceberg_jobs_spark.queries.llm as llm

    same = "x y z x y z"
    docs = spark.createDataFrame(
        [
            (0, same, "en", "a", 0),
            (1, same, "en", "b", 0),
            (2, "q r s q r s", "en", "c", 0),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    monkeypatch.setattr(llm, "read_fixture", lambda s, d, n: docs)
    rows = {r["source"]: r for r in llm.drift_js_tokens(spark, "unused").collect()}
    # a and b each hold 1/3 of every shared token's mass: identical small
    # positive JS vs the pooled corpus; c's disjoint vocabulary is farther
    assert rows["a"]["js_divergence"] == rows["b"]["js_divergence"]
    assert rows["c"]["js_divergence"] > rows["a"]["js_divergence"]
