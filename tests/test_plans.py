"""Physical-plan shape assertions (SURVEY.md §5.3) — the reference's
pedagogical points (README.md:16-18, 24-25) verified mechanically."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from spark_iceberg_jobs_spark.plans.ddl import bootcamp_ddls, create_table_ddl, execute_ddls
from spark_iceberg_jobs_spark.plans.explain import (
    count_shuffle_exchanges,
    formatted_plan,
    has_broadcast_hash_join,
    pushed_filters,
)
from spark_iceberg_jobs_spark.plans.layout import compare_sort_layouts
from spark_iceberg_jobs_spark.schemas import MATCHES
from spark_iceberg_jobs_spark.sources.readers import read_fixture
from spark_iceberg_jobs_spark.sources.writers import write_bucketed_table


def test_broadcast_hint_wins_over_disabled_threshold(spark, sf_dir):
    """README.md:16-17: explicit F.broadcast produces a BroadcastHashJoin
    even with autoBroadcastJoinThreshold=-1."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        orders = read_fixture(spark, sf_dir, "orders")
        customer = read_fixture(spark, sf_dir, "customer")
        plain = orders.join(customer, orders.o_custkey == customer.c_custkey)
        hinted = orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        assert not has_broadcast_hash_join(plain)
        assert has_broadcast_hash_join(hinted)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bucketed_join_has_no_shuffle_exchange(spark, sf_dir):
    """README.md:18 / job1:224,239: identically bucketed tables join with
    zero shuffle Exchange (the Spark analogue of Iceberg's storage-
    partitioned join)."""
    orders = read_fixture(spark, sf_dir, "orders")
    lineitem = read_fixture(spark, sf_dir, "lineitem").withColumnRenamed(
        "l_orderkey", "o_orderkey"
    )
    write_bucketed_table(orders, "bj_orders", bucket_cols=["o_orderkey"], n_buckets=8)
    write_bucketed_table(lineitem, "bj_lineitem", bucket_cols=["o_orderkey"], n_buckets=8)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("bj_orders").join(spark.table("bj_lineitem"), "o_orderkey")
        n_shuffles = count_shuffle_exchanges(joined)
        assert n_shuffles == 0, formatted_plan(joined)
        # sanity: the same join on raw parquet shuffles both sides
        raw = read_fixture(spark, sf_dir, "orders").join(
            read_fixture(spark, sf_dir, "lineitem").withColumnRenamed(
                "l_orderkey", "o_orderkey"
            ),
            "o_orderkey",
        )
        assert count_shuffle_exchanges(raw) >= 2
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_filter_and_projection_pushdown(spark, sf_dir):
    """Filters/column pruning reach the parquet scan (SURVEY.md §4)."""
    li = read_fixture(spark, sf_dir, "lineitem")
    q = li.filter(F.col("l_returnflag") == "R").select("l_orderkey", "l_quantity")
    pf = pushed_filters(q)
    assert "l_returnflag" in pf, pf
    plan = formatted_plan(q)
    assert "ReadSchema" in plan
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_extendedprice" not in read_schema  # pruned
    assert "l_returnflag" in read_schema


def test_ddl_generation_matches_reference_layout():
    """DDL builder reproduces job1:184-275's shape: 5 tables, iceberg,
    bucket(16, match_id) on the three facts, identity on dims."""
    ddls = bootcamp_ddls()
    assert set(ddls) == {
        "match_details",
        "matches",
        "medals_matches_players",
        "maps",
        "medals",
    }
    for t in ("match_details", "matches", "medals_matches_players"):
        assert "PARTITIONED BY (bucket(16, match_id))" in ddls[t]
        assert "USING iceberg" in ddls[t]
    assert "PARTITIONED BY (mapid)" in ddls["maps"]
    assert "PARTITIONED BY (medal_id)" in ddls["medals"]
    matches_ddl = create_table_ddl("bootcamp.matches", MATCHES, partition_by="bucket(16, match_id)")
    assert "completion_date TIMESTAMP" in matches_ddl
    assert "is_team_game BOOLEAN" in matches_ddl


def test_execute_iceberg_ddl_fails_loud_without_runtime(spark):
    with pytest.raises(RuntimeError, match="iceberg-spark-runtime"):
        execute_ddls(spark, bootcamp_ddls())


def test_ivf_topk_plan_has_no_single_partition_funnel(spark, sf_dir):
    """VERDICT r1 item 1: centroid seeding must not rank the corpus through
    one task. The round-1 plan had an unpartitioned Window + Exchange
    SinglePartition; the hash-sample seeding compiles to
    TakeOrderedAndProject (distributed partial top-k). Assert no
    SinglePartition exchange anywhere in the plan."""
    from spark_iceberg_jobs_spark.operators.similarity import ivf_topk

    emb = read_fixture(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 10)
    plan = formatted_plan(ivf_topk(emb, probes, k=5))
    assert "SinglePartition" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_split_and_sample_are_zero_shuffle(spark, sf_dir):
    """Dataset splits/samples are row-local decisions: the plan up to (but
    excluding) any aggregation must contain NO shuffle Exchange — one md5
    per row fused into the scan projection/filter."""
    from spark_iceberg_jobs_spark.operators.splits import assign_split, stratified_sample

    docs = read_fixture(spark, sf_dir, "documents")
    split = assign_split(docs, key_col="doc_id", weights={"train": 0.9, "test": 0.1})
    assert count_shuffle_exchanges(split) == 0, formatted_plan(split)
    sampled = stratified_sample(
        docs, key_col="doc_id", rates={"en": 0.5}, stratum_col="lang"
    )
    assert count_shuffle_exchanges(sampled) == 0, formatted_plan(sampled)


def test_pack_sequences_window_is_shard_partitioned(spark, sf_dir):
    """Sequence packing must never serialize the corpus through one task:
    its cumsum Window is partitioned by the shard column (no
    SinglePartition exchange anywhere)."""
    from spark_iceberg_jobs_spark.operators.splits import pack_sequences

    docs = read_fixture(spark, sf_dir, "documents")
    plan = formatted_plan(pack_sequences(docs, budget=512, shard_col="lang"))
    assert "SinglePartition" not in plan, plan
    assert ", [lang#" in plan, plan  # Window partitioned by the shard column


def test_srp_dedup_pairs_plan_has_no_cartesian(spark, sf_dir):
    """The bucketed embedding near-dup must candidate-generate via the
    (tbl, sig) equi self-join — never a cartesian/broadcast nested-loop
    all-pairs product (that is exactly what it replaces)."""
    from spark_iceberg_jobs_spark.operators.similarity import srp_dedup_pairs

    emb = read_fixture(spark, sf_dir, "embeddings")
    plan = formatted_plan(srp_dedup_pairs(emb))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_max_concurrency_sweep_is_day_partitioned(spark, sf_dir):
    """VERDICT r1 item 3: the boundary-point running sum must be partitioned
    (by day) — only the per-day-totals carry-in window (one row per day) may
    be global. Mechanically: the plan's Window nodes must include one
    partitioned by `day`, and the day column must feed a broadcast join."""
    from spark_iceberg_jobs_spark.queries.events import events_max_concurrency

    plan = formatted_plan(events_max_concurrency(spark, sf_dir))
    assert ", [day#" in plan, plan  # a Window partitioned by day
    assert has_broadcast_hash_join(events_max_concurrency(spark, sf_dir))


def test_sort_layout_changes_bytes_not_results(spark, sf_dir):
    """README.md:24-25: sortWithinPartitions affects file size only.
    Low-cardinality-first ordering must not beat unsorted by accident of
    row order — and query results must be invariant."""
    orders = read_fixture(spark, sf_dir, "orders").repartition(2)
    results = compare_sort_layouts(
        orders, [[], ["o_orderstatus", "o_orderpriority"]]
    )
    by_ordering = {r.ordering: r.total_bytes for r in results}
    assert set(by_ordering) == {(), ("o_orderstatus", "o_orderpriority")}
    assert all(b > 0 for b in by_ordering.values())
    assert (
        by_ordering[("o_orderstatus", "o_orderpriority")] != by_ordering[()]
    ), "sorting should change the encoded size"
    # result invariance
    a = orders.groupBy("o_orderstatus").count().collect()
    b = (
        orders.sortWithinPartitions("o_orderstatus", "o_orderpriority")
        .groupBy("o_orderstatus")
        .count()
        .collect()
    )
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_decontamination_broadcasts_only_the_eval_side(spark, sf_dir):
    """The decontamination join must broadcast the (small) eval shingle set
    so the training-corpus scan never shuffles for the join — and the
    train-side per-doc aggregations must be the only exchanges."""
    from spark_iceberg_jobs_spark.operators.dedup import ngram_contamination

    docs = read_fixture(spark, sf_dir, "documents")
    is_eval = F.col("doc_id") % 8 == 0
    q = ngram_contamination(docs.filter(~is_eval), docs.filter(is_eval), n=5)
    assert has_broadcast_hash_join(q), formatted_plan(q)
    assert "CartesianProduct" not in formatted_plan(q)


def test_bigram_pmi_vocabulary_joins_are_not_forced_broadcast(spark, sf_dir):
    """The PMI term-vocabulary joins must carry NO broadcast hint — at
    corpus scale the unigram vocabulary is huge, so the optimizer must be
    free to shuffle them (it may still choose broadcast at fixture scale
    from size stats; that's its call). Only the two 1-row total counts are
    hint-broadcast. Mechanically: with autoBroadcast disabled, exactly the
    2 hinted BroadcastExchanges remain and the vocab joins become shuffle
    joins."""
    from spark_iceberg_jobs_spark.operators.text import bigram_pmi

    docs = read_fixture(spark, sf_dir, "documents")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_aqe = spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        plan = formatted_plan(bigram_pmi(docs))
        # vocab joins: shuffle joins, not broadcast-hash (no hint forces them)
        assert "BroadcastHashJoin" not in plan, plan
        assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") >= 2, plan
        # the 1-row totals keep their hinted broadcast cross joins
        assert "BroadcastNestedLoopJoin Cross" in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", old_aqe)


def test_trailing_spend_window_is_customer_partitioned(spark, sf_dir):
    """The time-RANGE frame must be partitioned by customer — a single
    unpartitioned range window would serialize all orders through one
    task."""
    from spark_iceberg_jobs_spark.queries.core import window_trailing_spend_range

    plan = formatted_plan(window_trailing_spend_range(spark, sf_dir))
    assert "SinglePartition" not in plan, plan
    assert ", [o_custkey#" in plan, plan  # Window partitioned by customer


def test_runtime_bloom_filter_prunes_probe_side(spark, sf_dir):
    """Spark's InjectRuntimeFilter puts a bloom filter built from the
    selective (filtered) build side into the probe-side scan of a shuffle
    join — the runtime analogue of broadcast-pruning for joins too big to
    broadcast. The size thresholds are tuned for 100 TB defaults
    (application side ≥ 10 GB), so this test lowers them to fixture scale
    and asserts the might_contain probe appears."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    }
    old = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = read_fixture(spark, sf_dir, "lineitem")
        orders = read_fixture(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = li.join(orders, li.l_orderkey == orders.o_orderkey)
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan.lower(), plan[:2000]
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_aqe_splits_skewed_join_partitions(spark):
    """AQE skew-join handling: a 90%-one-key join partition is split at
    runtime (SortMergeJoin(skew=true) + 'AQEShuffleRead ... skewed') —
    the built-in complement to operators/joins.salted_join, which
    pre-salts when the skew is known up front. Thresholds are lowered to
    make fixture-scale partitions register as skewed; at 100 TB the
    defaults (256 MB) trigger on real skew."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1",
        "spark.sql.shuffle.partitions": "8",
    }
    old = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        left = spark.range(200000).select(
            F.when(F.col("id") % 20 != 0, F.lit(7)).otherwise(F.col("id")).alias("k"),
            F.concat(F.lit("x" * 64), F.col("id").cast("string")).alias("payload"),
        )
        right = spark.range(2000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        agg = left.join(right, "k").select(F.count("*").alias("n"))
        [row] = agg.collect()  # AQE finalizes THIS dataset's plan
        assert row.n == 190100
        plan = agg._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_zorder_layout_enables_pruning_on_both_dimensions(spark, tmp_path):
    """Z-order clustering (plans/layout.zorder_key): files range-partitioned
    by the Morton key carry BOUNDED min/max stats on BOTH interleaved
    columns, so a narrow predicate on EITHER prunes most files — while a
    plain single-column sort prunes perfectly on its key and not at all on
    the other column. Measured against real parquet footer statistics."""
    import glob

    import pyarrow.parquet as pq

    from spark_iceberg_jobs_spark.plans.layout import zorder_key

    bits, n_files = 10, 64
    orders = spark.read.parquet("/root/testdata/sf0.01/orders.parquet")
    scaled = orders.select(
        (F.col("o_custkey") % (1 << bits)).alias("c1"),
        F.least(F.floor(F.col("o_totalprice") / 600.0), F.lit((1 << bits) - 1))
        .cast("long")
        .alias("c2"),
    )

    def file_stats(df, tag):
        d = str(tmp_path / tag)
        (
            df.repartitionByRange(n_files, F.col("k"))
            .sortWithinPartitions("k")
            .write.mode("overwrite")
            .parquet(d)
        )
        out = []
        for f in glob.glob(d + "/*.parquet"):
            md = pq.read_metadata(f)
            mm = {}
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    col = md.row_group(rg).column(ci)
                    name = col.path_in_schema
                    if name in ("c1", "c2") and col.statistics:
                        lo, hi = mm.get(name, (col.statistics.min, col.statistics.max))
                        mm[name] = (
                            min(lo, col.statistics.min),
                            max(hi, col.statistics.max),
                        )
            if mm:
                out.append(mm)
        return out

    def scanned(stats, col, lo, hi):
        return sum(1 for mm in stats if not (mm[col][1] < lo or mm[col][0] > hi))

    plain = file_stats(scaled.withColumn("k", F.col("c1")), "plain")
    zo = file_stats(scaled.withColumn("k", zorder_key("c1", "c2", bits=bits)), "zorder")
    probe = (500, 531)  # a ~3% slice of the 1024-wide domain
    # plain c1-sort: near-perfect on c1, ZERO pruning on c2
    assert scanned(plain, "c1", *probe) <= len(plain) // 4
    assert scanned(plain, "c2", *probe) == len(plain)
    # z-order: at most ~half the files scanned on EITHER dimension
    assert scanned(zo, "c1", *probe) <= len(zo) // 2, zo
    assert scanned(zo, "c2", *probe) <= len(zo) // 2, zo


def test_analyze_table_feeds_cbo_statistics(spark, sf_dir):
    """ANALYZE TABLE ... COMPUTE STATISTICS populates the catalog with
    table row counts and per-column min/max/ndv — the inputs Spark's
    cost-based optimizer uses for join reordering and build-side choice
    at 100 TB (where stats, not defaults, must drive the plan)."""
    orders = read_fixture(spark, sf_dir, "orders")
    orders.write.mode("overwrite").saveAsTable("cbo_orders_t")
    try:
        spark.sql(
            "ANALYZE TABLE cbo_orders_t COMPUTE STATISTICS FOR COLUMNS o_custkey"
        )
        [stats] = [
            r for r in spark.sql("DESCRIBE EXTENDED cbo_orders_t").collect()
            if r.col_name == "Statistics"
        ]
        n = orders.count()
        assert f"{n} rows" in stats.data_type
        col = {
            r.info_name: r.info_value
            for r in spark.sql("DESCRIBE EXTENDED cbo_orders_t o_custkey").collect()
        }
        assert col["num_nulls"] == "0"
        assert int(col["distinct_count"]) > 0
        assert col["min"] == "0"
    finally:
        spark.sql("DROP TABLE IF EXISTS cbo_orders_t")


def test_events_funnel_builds_lazily_single_action(spark, sf_dir):
    """VERDICT r2 item 4: events_funnel must be one lazy plan, not a
    4-action driver-side chain — building the DataFrame submits ZERO Spark
    jobs; all four stage counts materialize under a single action."""
    from spark_iceberg_jobs_spark.queries.events import events_funnel

    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    df = events_funnel(spark, sf_dir)
    after = len(tracker.getJobIdsForGroup(None) or [])
    # the parquet schema/footer read submits one job; the old implementation
    # ran >= 5 (four stage counts + a distinct) before returning
    assert after - before <= 1, (
        f"events_funnel ran {after - before} Spark jobs during plan construction"
    )
    rows = {r["stage"]: r["n_users"] for r in df.collect()}
    assert set(rows) == {
        "1_all_users",
        "2_signed_up",
        "3_clicked_after_signup",
        "4_purchased_after_click",
    }
    # funnel stages are monotonically non-increasing
    vals = [rows[k] for k in sorted(rows)]
    assert vals == sorted(vals, reverse=True)


def test_bm25_builds_lazily_single_action(spark, sf_dir):
    """VERDICT r3 item 4: text_bm25_topk must not run a job during query
    DEFINITION — the corpus stats (N, avg_dl) ride along as a broadcast
    1-row crossJoin instead of an eager collect (the unigram_logprob
    pattern; same standard as events_funnel)."""
    from spark_iceberg_jobs_spark.queries.llm import text_bm25_topk

    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    df = text_bm25_topk(spark, sf_dir)
    after = len(tracker.getJobIdsForGroup(None) or [])
    # the parquet schema/footer read submits one job; the old
    # implementation eagerly collected the 1-row stats aggregate too
    assert after - before <= 1, (
        f"text_bm25_topk ran {after - before} Spark jobs during plan construction"
    )
    rows = df.collect()
    assert len(rows) > 0 and all(r["rnk"] <= 5 for r in rows)


def test_zorder_key_raises_on_out_of_range_input(spark):
    """ADVICE r2: inputs outside [0, 2^bits) used to silently alias onto
    another Morton cell, quietly destroying the clustering property — now
    they raise; in-range values still interleave exactly."""
    import pytest

    from spark_iceberg_jobs_spark.plans.layout import zorder_key

    ok = spark.createDataFrame([(3, 5)], "a long, b long")
    assert ok.select(zorder_key("a", "b", bits=3).alias("k")).collect()[0].k == 0b100111
    for bad in [(8, 0), (0, 8), (-1, 0)]:
        df = spark.createDataFrame([bad], "a long, b long")
        with pytest.raises(Exception, match="zorder_key input outside"):
            df.select(zorder_key("a", "b", bits=3).alias("k")).collect()


def test_bloom_membership_stays_jvm_side(spark, sf_dir):
    """bloom_contamination's membership test must run as JVM string
    indexing inside the scan stage — no Python eval anywhere in the plan
    (the md5/conv/substr chain is all built-in expressions), and the bloom
    itself must arrive via a broadcast join, not a plan literal."""
    from pyspark.sql import functions as F

    from spark_iceberg_jobs_spark.operators.dedup import bloom_contamination
    from spark_iceberg_jobs_spark.plans.explain import formatted_plan
    from spark_iceberg_jobs_spark.sources.readers import read_fixture

    docs = read_fixture(spark, sf_dir, "documents")
    out = bloom_contamination(
        docs.filter(F.col("doc_id") % 8 != 0),
        docs.filter(F.col("doc_id") % 8 == 0),
        n=5,
        bits=1 << 14,
    )
    plan = formatted_plan(out)
    assert "EvalPython" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan


def test_kmv_sketch_rank_uses_partial_window_group_limit(spark, sf_dir):
    """kmv_sketches' per-group top-k must plan with the partial
    WindowGroupLimit (rank pushdown): each task truncates to k rows per
    group BEFORE the exchange, so the shuffle carries at most
    |groups| x k x partitions rows — the property that makes the sketch
    build data-bounded."""
    from spark_iceberg_jobs_spark.operators.aggs import kmv_sketches
    from spark_iceberg_jobs_spark.plans.explain import formatted_plan
    from spark_iceberg_jobs_spark.sources.readers import read_fixture

    ev = read_fixture(spark, sf_dir, "events")
    sk = kmv_sketches(ev, "user_id", "event_type", k=64)
    plan = formatted_plan(sk)
    assert plan.count("WindowGroupLimit") >= 2, plan  # Partial + Final


def test_dynamic_partition_pruning_on_partitioned_scan(spark, sf_dir, tmp_path):
    """Dynamic partition pruning: joining a hive-partitioned fact on its
    partition column against a selectively-filtered dim must inject a
    runtime subquery filter into the fact scan (the plan carries a
    dynamicpruning expression) — at 100 TB this is what turns a
    fact x filtered-dim join into a read of only the matching partitions."""
    from pyspark.sql import functions as F

    from spark_iceberg_jobs_spark.sources.readers import load_tables

    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    fact_path = str(tmp_path / "li_part")
    li.select("l_returnflag", "l_extendedprice", "l_quantity").write.partitionBy(
        "l_returnflag"
    ).parquet(fact_path)
    fact = spark.read.parquet(fact_path)
    dim = spark.createDataFrame(
        [("A", "keep"), ("N", "drop"), ("R", "drop")], "flag string, verdict string"
    )
    joined = (
        fact.join(dim, fact.l_returnflag == dim.flag)
        .filter(F.col("verdict") == "keep")
        .groupBy("l_returnflag")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan
    rows = joined.collect()
    assert [r.l_returnflag for r in rows] == ["A"]


def test_shuffle_hash_join_hint_wins(spark, sf_dir):
    """The shuffle-hash strategy must be reachable by hint: when sort-merge
    would otherwise be picked, hint("shuffle_hash") plans a
    ShuffledHashJoin — the right strategy when one side is small enough to
    hash per-partition but too big to broadcast."""
    from spark_iceberg_jobs_spark.sources.readers import load_tables

    t = load_tables(spark, sf_dir, "orders", "customer")
    j = t["orders"].join(t["customer"].hint("shuffle_hash"),
                         t["orders"].o_custkey == t["customer"].c_custkey)
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in plan, plan


def test_repartition_by_range_plans_range_partitioning(spark, sf_dir):
    """repartitionByRange + sortWithinPartitions = the write-ordered-output
    recipe (globally range-clustered files without a single-reducer sort):
    the plan must carry a rangepartitioning exchange, not hashpartitioning."""
    from spark_iceberg_jobs_spark.sources.readers import load_tables

    orders = load_tables(spark, sf_dir, "orders")["orders"]
    out = orders.repartitionByRange(8, "o_orderdate").sortWithinPartitions(
        "o_orderdate"
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in plan.lower(), plan


def test_parquet_aggregate_pushdown_under_dsv2(spark, sf_dir):
    """COUNT(*) / MIN / MAX over parquet must be answerable from footer
    statistics: under the V2 source with aggregatePushdown, the scan node
    carries PushedAggregation and the query never reads data pages — at
    100 TB the difference between a metadata lookup and a full scan.
    (Both confs are runtime SQL confs — set and restored on the shared
    session.)"""
    prev_v1 = spark.conf.get("spark.sql.sources.useV1SourceList")
    prev_pd = spark.conf.get("spark.sql.parquet.aggregatePushdown")
    spark.conf.set("spark.sql.sources.useV1SourceList", "")
    spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    try:
        df = spark.read.parquet(f"{sf_dir}/orders.parquet")
        pc = df.groupBy().count()._jdf.queryExecution().executedPlan().toString()
        assert "PushedAggregation: [COUNT(*)]" in pc, pc
        pm = (
            df.agg({"o_orderkey": "max"})
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "PushedAggregation: [MAX(o_orderkey)]" in pm, pm
        n = df.groupBy().count().first()[0]
        assert n == df.rdd.count()  # pushed answer equals a real scan
    finally:
        spark.conf.set("spark.sql.sources.useV1SourceList", prev_v1)
        spark.conf.set("spark.sql.parquet.aggregatePushdown", prev_pd)


def test_repeated_ngram_spans_plan_shape(spark, sf_dir):
    """The ExactSubstr pass must pair grams through the hash census equi
    join — never a cartesian — and both the gram-formation and island
    windows must be doc-partitioned (no global window over the corpus)."""
    from spark_iceberg_jobs_spark.operators.dedup import repeated_ngram_spans

    docs = read_fixture(spark, sf_dir, "documents")
    plan = formatted_plan(repeated_ngram_spans(docs))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    for line in plan.splitlines():
        if "windowspecdefinition" in line:
            assert "doc_id" in line, f"unpartitioned window: {line}"


def test_tfidf_cosine_plan_broadcasts_only_corpus_size(spark, sf_dir):
    """The sparse similarity join pairs docs ONLY through the term-keyed
    inverted-index equi join; the single nested-loop product allowed is
    the broadcast of the one-row corpus-size aggregate."""
    from spark_iceberg_jobs_spark.operators.dedup import tfidf_cosine_pairs

    docs = read_fixture(spark, sf_dir, "documents")
    plan = formatted_plan(tfidf_cosine_pairs(docs, threshold=0.9))
    assert "CartesianProduct" not in plan, plan
    # n_docs is driver-resident (one footer-stats count), so NO nested-loop
    # product of any kind survives — every join is hash/merge equi
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # the doc-pair join itself must be the term-keyed equi self-join
    assert "Join condition: (doc_id" in plan, plan


def test_logreg_round_is_scan_plus_aggregate(spark):
    """Each GD round embeds the weights as literals: the per-round plan
    must be scan → partial/final HashAggregate with no join, no window,
    no exchange beyond the single one-row gradient funnel."""
    from spark_iceberg_jobs_spark.operators.regression import fast_sigmoid

    feats = spark.createDataFrame(
        [(1.0, 0.5), (0.0, -0.5)], "y double, x double"
    )
    resid = fast_sigmoid(F.lit(0.1) + F.lit(0.2) * F.col("x")) - F.col("y")
    round_df = feats.agg(F.avg(resid).alias("g0"), F.avg(resid * F.col("x")).alias("g1"))
    plan = formatted_plan(round_df)
    assert "Join" not in plan, plan
    assert "windowspecdefinition" not in plan, plan
    assert plan.count("HashAggregate") >= 2, plan  # partial + final


def test_bm25_v2_serve_scan_prunes(spark, monkeypatch):
    """Round-7 artifact v2 (VERDICT r6 item 2): when the query terms are
    SELECTIVE, the incremental serve path must read the posting artifact
    through BOTH prune layers — directory pruning on term_bucket
    (PartitionFilters) and parquet min/max row-group pruning on the
    sorted term column (PushedFilters In(term,...)) — and the doc-length
    join must be gone (dl rides the posting rows). The fixture's 31-term
    vocabulary is ~fully covered by the query docs, so the cost-based
    gate is forced open here; test_bm25_v2_prune_gate_is_cost_based
    covers the default decision."""
    import spark_iceberg_jobs_spark.queries.llm as llm
    from spark_iceberg_jobs_spark.queries.llm import text_bm25_incremental

    monkeypatch.setattr(llm, "_BM25_PRUNE_MAX_SEL", 1.1)
    df = text_bm25_incremental(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    scans = [ln for ln in plan.splitlines() if "bm25_index_" in ln and "FileScan" in ln]
    assert scans, "serve plan must read the persisted posting artifact"
    tf_scan = next(ln for ln in scans if "/tf" in ln)
    assert "PartitionFilters:" in tf_scan and "term_bucket" in tf_scan.split(
        "PartitionFilters:", 1
    )[1].split("]", 1)[0], f"term_bucket directory prune missing: {tf_scan}"
    assert "PushedFilters:" in tf_scan and "In(term" in tf_scan.split(
        "PushedFilters:", 1
    )[1], f"term IN row-group prune missing: {tf_scan}"
    # denormalized norms: no scan of a dlen artifact, and dl is read from tf
    assert not any("/dlen" in ln for ln in scans)
    assert "dl:bigint" in tf_scan
    # v2 collapses the side tables (df + stats partials) into one
    # persisted union-schema read
    assert any("/side" in ln for ln in scans)
    # late-r7: the delta segment is itself a published artifact, so the
    # serve plan reads bm25_delta_* and touches the corpus text ZERO
    # times — no tokenize stage, no documents scan, warm or cold
    assert any("bm25_delta_" in ln and "FileScan" in ln for ln in plan.splitlines())
    assert "documents.parquet" not in plan


def test_xxhash64_py_matches_spark(spark):
    """The driver-side bucket mapper must replicate Spark's xxhash64
    bit-for-bit — checked over every distinct term in the smoke fixture
    plus adversarial lengths around the 32-byte stripe boundary."""
    from pyspark.sql import functions as F

    from spark_iceberg_jobs_spark.queries.llm import _xxhash64_py

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    terms = (
        docs.select(F.explode(F.split("text", " ")).alias("t"))
        .distinct()
        .select("t", F.xxhash64("t").alias("h"))
        .collect()
    )
    assert terms
    extra = ["", "a", "ü" * 17, "x" * 31, "x" * 32, "x" * 33, "東京" * 9]
    extra_rows = (
        spark.createDataFrame([(s,) for s in extra], "t string")
        .select("t", F.xxhash64("t").alias("h"))
        .collect()
    )
    for r in list(terms) + extra_rows:
        assert _xxhash64_py(r["t"]) == r["h"], repr(r["t"])


def test_ivf_persisted_serve_prunes_cells(spark):
    """Round-7 persisted IVF artifact (VERDICT r6 item 3): the serve path
    must read BOTH cell-partitioned assign segments (base index + the
    late-r7 persisted delta segment) with directory pruning on the probed
    cells (PartitionFilters cell IN ...), and — since the delta fold-in
    and probe assignments are paid once per version/key — never scan the
    source embeddings at all."""
    from spark_iceberg_jobs_spark.queries.ml import sim_ivf_incremental_topk

    df = sim_ivf_incremental_topk(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    for marker in ("ivf_index_", "ivf_delta_"):
        assign = [
            ln
            for ln in plan.splitlines()
            if marker in ln and "FileScan" in ln and "/assign" in ln
        ]
        assert assign, f"serve plan must read the {marker} assign segment"
        part = assign[0].split("PartitionFilters:")[1].split("]")[0]
        assert "cell" in part, f"cell partition prune missing: {assign[0]}"
    assert "embeddings.parquet" not in plan


def test_ivf_incremental_matches_unpersisted(spark):
    """The persisted-artifact serve path must stay bit-identical to the
    direct formulation (frozen base-fit centroids + ivf_topk over the
    merged corpus) — cold build, then warm reuse, then (VERDICT r7 item 3)
    the minor-compacted single-segment serve, then the reference."""
    import glob
    import shutil

    from pyspark.sql import functions as F

    from spark_iceberg_jobs_spark.operators.similarity import (
        centroids_df,
        ivf_topk,
        kmeans_fit,
    )
    from spark_iceberg_jobs_spark.queries.ml import (
        _DIM,
        _ITERATIONS,
        _K,
        sim_ivf_compacted_topk,
        sim_ivf_incremental_topk,
    )

    sf = "/root/testdata/sf0.001"
    for d in (
        glob.glob("/tmp/ivf_index_*")
        + glob.glob("/tmp/ivf_delta_*")
        + glob.glob("/tmp/ivf_compact_*")
    ):
        shutil.rmtree(d, ignore_errors=True)

    def rows(df):
        return sorted(tuple(map(repr, r)) for r in df.collect())

    cold = rows(sim_ivf_incremental_topk(spark, sf))
    warm = rows(sim_ivf_incremental_topk(spark, sf))
    compacted = rows(sim_ivf_compacted_topk(spark, sf))
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    cents = kmeans_fit(
        emb.filter(F.col("vec_id") % 10 != 0), k=_K, iterations=_ITERATIONS, dim=_DIM
    )
    ref = rows(
        ivf_topk(
            emb,
            emb.filter(F.col("vec_id") < 10),
            k=5,
            nprobe=3,
            centroids=centroids_df(spark, cents),
        )
    )
    assert cold == warm == compacted == ref


def test_bm25_incremental_empty_delta(spark, tmp_path):
    """A corpus with NO delta rows (no doc_id % 10 == 0) must still build,
    publish, and serve: the zero-row partitioned delta segment lands one
    schema-bearing empty file (backfill_empty_partitioned — a dynamic
    partitionBy write of 0 rows otherwise emits no files and every later
    serve dies on schema inference), and the served ranking equals the
    full rebuild over the same base-only corpus."""
    from pyspark.sql import functions as F

    from spark_iceberg_jobs_spark.queries.llm import (
        text_bm25_incremental,
        text_bm25_topk,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = str(tmp_path / "documents.parquet")
    docs.filter(F.col("doc_id") % 10 != 0).coalesce(1).write.parquet(out)

    def rows(df):
        return sorted(tuple(map(repr, r)) for r in df.collect())

    inc = rows(text_bm25_incremental(spark, str(tmp_path)))
    assert inc == rows(text_bm25_incremental(spark, str(tmp_path)))  # warm
    assert inc == rows(text_bm25_topk(spark, str(tmp_path)))
    assert inc


def test_ivf_incremental_empty_delta(spark, tmp_path):
    """Same empty-delta regression for the IVF twin: no vec_id % 10 == 0
    means a zero-row cell-partitioned delta segment; serving must still
    work and match the direct formulation on the base-only corpus."""
    from pyspark.sql import functions as F

    from spark_iceberg_jobs_spark.operators.similarity import (
        centroids_df,
        ivf_topk,
        kmeans_fit,
    )
    from spark_iceberg_jobs_spark.queries.ml import (
        _DIM,
        _ITERATIONS,
        _K,
        sim_ivf_incremental_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out = str(tmp_path / "embeddings.parquet")
    emb.filter(F.col("vec_id") % 10 != 0).coalesce(1).write.parquet(out)

    def rows(df):
        return sorted(tuple(map(repr, r)) for r in df.collect())

    got = rows(sim_ivf_incremental_topk(spark, str(tmp_path)))
    emb2 = spark.read.parquet(out)
    cents = kmeans_fit(emb2, k=_K, iterations=_ITERATIONS, dim=_DIM)
    ref = rows(
        ivf_topk(
            emb2,
            emb2.filter(F.col("vec_id") < 10),
            k=5,
            nprobe=3,
            centroids=centroids_df(spark, cents),
        )
    )
    assert got == ref and got


def test_bm25_compacted_serve_reads_one_segment(spark):
    """VERDICT r7 item 3: after minor compaction the serve plan must read
    the COMPACTED artifact only — no bm25_index_/bm25_delta_ scans, no
    two-scan union, still zero corpus reads — so serve cost returns to
    the base-only floor instead of growing with the segment list."""
    from spark_iceberg_jobs_spark.queries.llm import text_bm25_compacted

    df = text_bm25_compacted(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    scans = [ln for ln in plan.splitlines() if "FileScan" in ln]
    assert any("bm25_compact_" in ln for ln in scans)
    assert not any("bm25_index_" in ln or "bm25_delta_" in ln for ln in scans)
    assert "documents.parquet" not in plan
    # results stay correct through the fold (values pinned bit-exactly by
    # test_bm25_incremental_equals_rebuild)
    assert df.count() > 0


def test_ivf_compacted_serve_reads_one_segment(spark):
    """IVF twin of the compacted-serve plan pin: one ivf_compact_ assign
    scan with the probed-cell directory prune, no base/delta segment
    scans, no embeddings scan."""
    from spark_iceberg_jobs_spark.queries.ml import sim_ivf_compacted_topk

    df = sim_ivf_compacted_topk(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assign = [
        ln
        for ln in plan.splitlines()
        if "ivf_compact_" in ln and "FileScan" in ln and "/assign" in ln
    ]
    assert assign, "serve plan must read the compacted assign segment"
    part = assign[0].split("PartitionFilters:")[1].split("]")[0]
    assert "cell" in part, f"cell partition prune missing: {assign[0]}"
    assert not any(
        ("ivf_index_" in ln or "ivf_delta_" in ln) and "FileScan" in ln
        for ln in plan.splitlines()
    )
    assert "embeddings.parquet" not in plan


def test_bm25_v2_prune_gate_is_cost_based(spark):
    """On the smoke fixture the 3 query docs cover ~all posting rows, so
    the cost-based gate must SKIP the scan filters (no term INSET on the
    artifact scan) — the measured 64x regression this gate prevents."""
    from spark_iceberg_jobs_spark.queries.llm import text_bm25_incremental

    df = text_bm25_incremental(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    tf_scans = [
        ln
        for ln in plan.splitlines()
        if "bm25_index_" in ln and "FileScan" in ln and "/tf" in ln
    ]
    assert tf_scans
    assert all("In(term" not in ln for ln in tf_scans), (
        "unselective query must not pay the row-level term INSET"
    )


def test_bm25_incremental_serve_plan_has_no_python_rdd(spark, sf_dir):
    """The serve plan's driver-made frames (the query docs' term counts
    and the 1-row stats) are Arrow local relations: LocalTableScan, not a
    ``Scan ExistingRDD`` over a PythonRDD whose every read starts Python
    workers."""
    from spark_iceberg_jobs_spark.queries.llm import text_bm25_incremental

    df = text_bm25_incremental(spark, sf_dir)
    assert df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan, plan
    assert "LocalTableScan" in plan, plan


def test_bm25_cold_build_persists_nothing(spark, sf_dir, monkeypatch, tmp_path):
    """A cold build (fresh ARTIFACT_ROOT, so both segments are written)
    derives fwd, df and the stats partials by reading back the tf it has
    just written: no RDD is persisted inside the caller's cache_scope."""
    from spark_iceberg_jobs_spark.functions import artifacts
    from spark_iceberg_jobs_spark.functions.cache import cache_scope
    from spark_iceberg_jobs_spark.queries.llm import text_bm25_incremental

    monkeypatch.setattr(artifacts, "ARTIFACT_ROOT", str(tmp_path))
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    with cache_scope():
        rows = text_bm25_incremental(spark, sf_dir).collect()
        assert set(jsc.getPersistentRDDs().keys()) == before
    assert rows
    built = sorted(p.name.split("_")[1] for p in tmp_path.glob("bm25_*"))
    assert built == ["delta", "index"], built


def test_dpp_prunes_partitioned_fact(spark, sf_dir, tmp_path):
    """Dynamic partition pruning (SPARK-11150): when the fact table is
    hive-partitioned on the join key and the dim side carries a selective
    filter, the fact scan's PartitionFilters must gain a
    dynamicpruningexpression — the join-carried predicate reaches the
    directory level at runtime — and the result must equal the
    direct-filter formulation row-for-row."""
    from pyspark.sql import functions as F

    from spark_iceberg_jobs_spark.plans.runtime_filters import (
        dpp_probe,
        write_partitioned,
    )
    from spark_iceberg_jobs_spark.sources.readers import read_fixture

    orders = read_fixture(spark, sf_dir, "orders").withColumn(
        "order_year", F.year("o_orderdate").cast("int")
    )
    fact_dir = write_partitioned(
        orders.select("o_orderkey", "o_totalprice", "order_year"),
        "order_year",
        str(tmp_path / "fact"),
    )
    years = orders.select("order_year").distinct().withColumn(
        "is_recent", F.col("order_year") >= 1997
    )
    dim = years.filter(F.col("is_recent"))

    joined = dpp_probe(spark, fact_dir, dim, join_col="order_year")
    agg = joined.groupBy("order_year").agg(
        F.count("*").cast("long").alias("n_orders")
    )
    got = {r["order_year"]: r["n_orders"] for r in agg.collect()}

    plan = agg._jdf.queryExecution().executedPlan().toString()
    fact_scans = [
        ln
        for ln in plan.splitlines()
        if "FileScan" in ln and "fact" in ln and "order_year" in ln
    ]
    assert any(
        "dynamicpruningexpression" in ln.split("PartitionFilters:", 1)[1]
        for ln in fact_scans
        if "PartitionFilters:" in ln
    ), f"DPP filter missing from the fact scan: {fact_scans}"

    want = {
        r["order_year"]: r["n_orders"]
        for r in orders.filter(F.col("order_year") >= 1997)
        .groupBy("order_year")
        .agg(F.count("*").cast("long").alias("n_orders"))
        .collect()
    }
    assert got == want and got


def test_runtime_bloom_filter_semijoin_reduction(spark, sf_dir):
    """SPARK-32268, DPP's sibling for non-partition join keys: with a
    selective dim-side filter and a shuffle join, the probe must report a
    bloom filter built over the dim keys (bloom_filter_agg) and applied
    to the fact scan (might_contain) BEFORE the shuffle — and the row
    count must equal the plain formulation's."""
    from pyspark.sql import functions as F

    from spark_iceberg_jobs_spark.plans.runtime_filters import bloom_join_probe
    from spark_iceberg_jobs_spark.sources.readers import read_fixture

    li = read_fixture(spark, sf_dir, "lineitem")
    urgent = read_fixture(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    res = bloom_join_probe(
        spark, li, urgent, fact_key="l_orderkey", dim_key="o_orderkey"
    )
    assert res.injected, res.plan
    # the filter lands on the FACT side, keyed by the fact's join column
    assert any(
        "might_contain" in ln and "l_orderkey" in ln
        for ln in res.plan.splitlines()
    ), res.plan
    want = (
        li.join(urgent, li.l_orderkey == urgent.o_orderkey).count()
    )
    assert res.rows == want and res.rows > 0


def test_salted_join_lab_three_legs_agree_and_salt_bounds_straggler(spark):
    """The skew lab (plans/skew.py, VERDICT r8 item 6): all three legs of
    the hot-key join return the SAME count; the salted plan carries the
    explode and joins on the salt; and the largest (key, salt) sub-group
    is a salt_buckets-fold reduction of the hot key's group — the bound
    on any straggler task's input. The planted fixture puts half the fact
    on one key, the regime where a naive shuffle join serializes through
    one task."""
    from spark_iceberg_jobs_spark.plans.skew import hot_key_fixture, salted_join_lab

    fact, dim = hot_key_fixture(spark, n_rows=200_000, n_keys=2_000, hot_frac=0.5)
    res = salted_join_lab(spark, fact, dim, key="k", salt_buckets=16)
    assert res.rows_naive == res.rows_aqe == res.rows_salted == 200_000
    assert res.paybytes_naive == res.paybytes_aqe == res.paybytes_salted > 0
    assert "__salt" in res.plan_salted, "salted leg must join on the salt"
    assert "Generate explode" in res.plan_salted or "Explode" in res.plan_salted
    # the AQE leg must actually engage the runtime skew split (the lab
    # stages detection thresholds to fixture scale; the high-entropy
    # 128-byte payload keeps the hot partition above them — count(1)
    # pruning or compressible filler would silently disarm the detector)
    assert "skew=true" in res.plan_aqe, "AQE leg must mark the skewed join"
    # hot key holds ~100k rows; 16 salts cut the largest sub-group to
    # ~6.25k — allow generous slack for rand() unevenness
    assert res.max_key_rows >= 99_000
    assert res.max_subkey_rows * 8 <= res.max_key_rows, (
        f"salting must fan the hot key out: max key group "
        f"{res.max_key_rows}, max sub-group {res.max_subkey_rows}"
    )
    # confs restored after the lab
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"
