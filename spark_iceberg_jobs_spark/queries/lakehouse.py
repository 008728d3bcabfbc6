"""Lakehouse file-grain queries — the EXECUTED table-format verbs served
through the registry: zone-map data skipping, copy-on-write DELETE, and
MERGE INTO over ``sources/filetable.py`` manifest tables.

The maintenance tier (queries/maintenance.py) PLANS these verbs on a
commit-log model (delete_plan, rollback_plan, incremental_scan); this
module EXECUTES them on real range-clustered parquet files with real
per-file bounds, built once per corpus fingerprint through the
functions/artifacts.py lifecycle and served read-only afterwards — the
same build-once/serve-warm shape as the BM25/IVF segments and the MV
base partials. Every mutation (the DELETE, the MERGE) happens inside
the artifact build; a serve is a manifest read plus a pruned scan.

Reference scope: the ``USING iceberg`` tables of
job1-DDL_Load_Data_Spark_Iceberg.py:186-274 — scan planning with file
bounds, row-level DELETE, and MERGE are exactly what the Iceberg runtime
adds over raw parquet; this tier executes those semantics on the
parquet fallback so the capability is verified end-to-end today and the
jar swap changes the storage, not the claims.

Scale: the serve path reads the manifest (driver-side, file-grain) and
only the surviving data files; the build path's DELETE/MERGE read and
rewrite only straddling/matched files. Nothing here rescans the base
table after the artifact exists — see SCALE.md §Round-10 for the
1×–256× readings.
"""

from __future__ import annotations

import datetime as _dt
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.money import SQL_REVENUE as SQL_REV
from ..functions.money import dec_sum, money, money_sum, quantized, revenue_dec
from ..sources import filetable as ft
from ..sources.readers import read_fixture
from . import QuerySpec

# the executed MOR query must satisfy the SAME oracle as the simulated
# read path (queries/maintenance.py) — one canonical SQL, two engines of
# the same semantics
from .maintenance import MOR_EQUALITY_DELETES_ORACLE as _MOR_ORACLE


def _served_table(sf_dir: str, prefix: str, source: str, salt: str, build_fn) -> str:
    """Build-once-per-fingerprint file-grain table artifact; returns the
    published table dir. ``build_fn(staging)`` materializes the table
    (and runs any executed verbs) INSIDE staging; publish is atomic."""
    from ..functions.artifacts import (
        artifact_path,
        content_fingerprint,
        ensure_published_version,
        publish_atomic,
        staging_dir,
        sweep_stale,
    )

    key = content_fingerprint(f"{sf_dir}/{source}.parquet", salt=salt)
    final_dir = artifact_path(prefix, key)

    def build() -> None:
        sweep_stale(prefix, keep={os.path.basename(final_dir)})
        staging = staging_dir(final_dir)
        build_fn(staging)
        open(f"{staging}/_OK", "w").close()
        publish_atomic(staging, final_dir)

    ensure_published_version(final_dir, build)
    return final_dir


def _date_bounds(table_dir: str, col: str) -> tuple[_dt.date, _dt.date]:
    """Corpus date span from the MANIFEST bounds (driver-side JSON — the
    min of file minima / max of file maxima equals the data min/max, no
    Spark job). DATA entries only: delete-flavor entries (DV sidecars,
    delete files) carry no column stats."""
    man = ft.read_manifest(table_dir)
    data = [e for e in man["entries"] if e.get("kind", "data") == "data"]
    los = [_dt.date.fromisoformat(e["stats"][col][0]) for e in data]
    his = [_dt.date.fromisoformat(e["stats"][col][1]) for e in data]
    return min(los), max(his)


# ---------------------------------------------------------------------------
# lake_skipping_scan — zone-map data skipping, executed
# ---------------------------------------------------------------------------

#: the served band, as fractions of the corpus date span: a ~10% window,
#: so roughly 9 of 10 range-clustered files never reach the reader
_BAND_LO_FRAC, _BAND_HI_FRAC = 0.45, 0.55


def lake_skipping_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly revenue over a ~10%-of-corpus shipdate band, served from a
    48-file range-clustered lineitem table via MANIFEST pruning: the
    band's [lo, hi] intersects the per-file bounds driver-side and only
    surviving files reach ``spark.read.parquet`` (plan-pinned by
    test_lakehouse: files_read ≈ band fraction × files_total), then the
    same literal predicate pushes into the parquet scan for row-group
    pruning — Iceberg's two-level skipping stack, executed.

    Scale: the skipped files cost ZERO I/O at any table size — pruning
    is O(#files) driver metadata; the read is O(band), never O(table)."""
    table_dir = _served_table(
        sf_dir, "lakescan_", "lineitem", "lakescan-v1", lambda staging: ft.create_table(
            read_fixture(spark, sf_dir, "lineitem").select(
                "l_orderkey",
                F.to_date("l_shipdate").alias("ship_dt"),
                "l_quantity",
                "l_extendedprice",
                "l_discount",
            ),
            staging,
            stats_cols=["ship_dt"],
            cluster_by="ship_dt",
            n_files=48,
        )
    )
    lo, hi = _date_bounds(table_dir, "ship_dt")
    span = (hi - lo).days
    b_lo = lo + _dt.timedelta(days=int(span * _BAND_LO_FRAC))
    b_hi = lo + _dt.timedelta(days=int(span * _BAND_HI_FRAC))
    return (
        ft.scan_range(spark, table_dir, "ship_dt", b_lo, b_hi)
        .groupBy(F.date_format("ship_dt", "yyyy-MM").alias("ship_month"))
        .agg(
            F.count("*").alias("n_items"),
            F.sum(money("l_quantity")).cast("double").alias("sum_qty"),
            dec_sum(revenue_dec()).alias("revenue"),
        )
        .orderBy("ship_month")
    )


LAKE_SKIPPING_ORACLE = f"""
WITH span AS (
    SELECT MIN(CAST(l_shipdate AS DATE)) AS lo,
           MAX(CAST(l_shipdate AS DATE)) AS hi
    FROM lineitem
), band AS (
    SELECT lo + CAST(FLOOR((hi - lo) * {_BAND_LO_FRAC}) AS INTEGER) AS b_lo,
           lo + CAST(FLOOR((hi - lo) * {_BAND_HI_FRAC}) AS INTEGER) AS b_hi
    FROM span
)
SELECT strftime(CAST(l_shipdate AS DATE), '%Y-%m') AS ship_month,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(ROUND(SUM({SQL_REV}), 2) AS DOUBLE) AS revenue
FROM lineitem, band
WHERE CAST(l_shipdate AS DATE) BETWEEN b_lo AND b_hi
GROUP BY 1
ORDER BY ship_month
"""


# ---------------------------------------------------------------------------
# lake_cow_delete — executed retention DELETE (metadata drop + CoW rewrite)
# ---------------------------------------------------------------------------

#: same retention shape as maintenance_delete_plan (which PLANS this):
#: everything at or before (newest order date - 200 days) is deleted
_LAKE_DELETE_AGE_DAYS = 200


def lake_cow_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly order totals AFTER an executed ``DELETE WHERE order_dt <=
    max - 200d`` on a 36-file range-clustered orders table: files the
    cutoff fully covers dropped by manifest edit (bytes never read),
    the one straddling file rewritten copy-on-write, newer files
    untouched — the executed twin of maintenance_delete_plan, whose
    metadata-only classification predicts exactly this commit (the
    equivalence is pinned in test_lakehouse on the same table).

    The DELETE runs once inside the artifact build; serving reads the
    post-delete manifest. The oracle recomputes the surviving rows from
    the raw fixture with the same cutoff arithmetic — the row-level
    equality IS the executed-delete correctness claim."""
    def build(staging: str) -> None:
        ft.create_table(
            read_fixture(spark, sf_dir, "orders").select(
                "o_orderkey",
                "o_custkey",
                "o_orderstatus",
                F.to_date("o_orderdate").alias("order_dt"),
                "o_totalprice",
            ),
            staging,
            stats_cols=["order_dt"],
            cluster_by="order_dt",
            n_files=36,
        )
        _lo, hi = _date_bounds(staging, "order_dt")
        cutoff = hi - _dt.timedelta(days=_LAKE_DELETE_AGE_DAYS)
        ft.delete_where(spark, staging, "order_dt", cutoff)

    table_dir = _served_table(sf_dir, "lakedel_", "orders", "lakedel-v1", build)
    return (
        ft.read_table(spark, table_dir)
        .groupBy(F.date_format("order_dt", "yyyy-MM").alias("order_month"))
        .agg(
            F.count("*").alias("n_orders"),
            F.countDistinct("o_custkey").alias("n_custkeys"),
            money_sum("o_totalprice").alias("total_price"),
        )
        .orderBy("order_month")
    )


LAKE_COW_DELETE_ORACLE = f"""
WITH k AS (
    SELECT MAX(CAST(o_orderdate AS DATE)) - {_LAKE_DELETE_AGE_DAYS} AS del_dt
    FROM orders
)
SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS order_month,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_custkeys,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
           AS total_price
FROM orders, k
WHERE CAST(o_orderdate AS DATE) > del_dt
GROUP BY 1
ORDER BY order_month
"""


# ---------------------------------------------------------------------------
# lake_merge_into — executed 3-clause MERGE (delete / update / insert)
# ---------------------------------------------------------------------------

#: matched band: the low quarter of the customer keyspace — the MERGE
#: source only overlaps those files, so the file-scoped rewrite leaves
#: the other ~3/4 of the table untouched by metadata
_MERGE_CHURN_MIN_ORDERS = 4  # WHEN MATCHED AND n_ord >= 4 THEN DELETE


def _merge_source(spark: SparkSession, sf_dir: str, max_key: int) -> DataFrame:
    """Deterministic MERGE source from orders: per-customer urgent-order
    spend for the low quarter of the keyspace (updates/deletes), plus
    the same rows key-shifted past max_key (guaranteed not-matched →
    inserts). Keys are unique by construction (grouped, and the shifted
    set starts above max_key)."""
    urgent = (
        read_fixture(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .filter(F.col("o_custkey") <= F.lit(max_key // 4))
        .groupBy("o_custkey")
        .agg(F.sum(money("o_totalprice")).alias("spend"), F.count("*").alias("n_ord"))
    )
    matched = urgent.select(F.col("o_custkey").alias("k"), "spend", "n_ord")
    # + max_key + 1, not + max_key: keys are 0-based, so a bare max_key
    # shift would land key 0 exactly ON max_key — an accidental MATCH the
    # oracle's insert leg doesn't model (caught by the first sf0.01 run)
    inserts = urgent.select(
        (F.col("o_custkey") + F.lit(max_key + 1)).alias("k"), "spend", "n_ord"
    )
    return matched.unionByName(inserts)


def lake_merge_into(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment balances after an executed 3-clause MERGE INTO a
    16-file range-clustered customer table:

    - WHEN MATCHED AND s.n_ord >= 4 THEN DELETE (churn purge),
    - WHEN MATCHED THEN UPDATE SET c_acctbal += 10% of urgent spend
      (exact decimal arithmetic before the double store),
    - WHEN NOT MATCHED THEN INSERT a 'NEWACCT' row per shifted key.

    The executor rewrites ONLY the files that actually contain matched
    keys (key-bounds candidate prune + one file-scoped semi join); files
    holding no matched key survive by metadata (file accounting pinned
    in test_lakehouse). The oracle replays the clause semantics as a
    LEFT JOIN + UNION over the raw fixtures — row-level equality of the
    merged table is the correctness claim."""
    def build(staging: str) -> None:
        ft.create_table(
            read_fixture(spark, sf_dir, "customer").select(
                "c_custkey", "c_mktsegment", "c_nationkey", "c_acctbal"
            ),
            staging,
            stats_cols=["c_custkey"],
            cluster_by="c_custkey",
            n_files=16,
        )
        man = ft.read_manifest(staging)
        max_key = max(int(e["stats"]["c_custkey"][1]) for e in man["entries"])
        src = _merge_source(spark, sf_dir, max_key)
        ten_pct = F.lit("0.10").cast("decimal(3,2)")
        ft.merge_into(
            spark,
            staging,
            src,
            on=("c_custkey", "k"),
            when_matched_delete=F.col("s.n_ord") >= F.lit(_MERGE_CHURN_MIN_ORDERS),
            when_matched_update={
                "c_acctbal": (
                    money(F.col("t.c_acctbal")) + F.col("s.spend") * ten_pct
                ).cast("double")
            },
            when_not_matched_insert={
                "c_custkey": F.col("s.k"),
                "c_mktsegment": F.lit("NEWACCT"),
                "c_nationkey": F.col("s.k") % 25,
                "c_acctbal": (F.col("s.spend") * ten_pct).cast("double"),
            },
        )

    # salt v2: v1 artifacts were built with the key-0 shift collision
    table_dir = _served_table(sf_dir, "lakemrg_", "customer", "lakemrg-v2", build)
    return (
        ft.read_table(spark, table_dir)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_customers"),
            # post-merge balances live on a 1e-4 decimal grid (2-dec base
            # + 4-dec exact update); quantized() makes the sum exact and
            # order-independent (functions/money.py)
            dec_sum(quantized("c_acctbal", 4)).alias("total_bal"),
        )
        .orderBy("c_mktsegment")
    )


LAKE_MERGE_ORACLE = f"""
WITH mx AS (
    SELECT MAX(c_custkey) AS max_key FROM customer
), urgent AS (
    SELECT o_custkey AS k,
           SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS spend,
           COUNT(*) AS n_ord
    FROM orders, mx
    WHERE o_orderpriority = '1-URGENT' AND o_custkey <= max_key // 4
    GROUP BY 1
), merged AS (
    SELECT c.c_mktsegment AS seg,
           CASE WHEN b.k IS NOT NULL
                THEN CAST(CAST(c.c_acctbal AS DECIMAL(18,2))
                          + b.spend * CAST(0.10 AS DECIMAL(3,2)) AS DOUBLE)
                ELSE c.c_acctbal END AS bal
    FROM customer c
    LEFT JOIN urgent b ON c.c_custkey = b.k
    WHERE b.k IS NULL OR b.n_ord < {_MERGE_CHURN_MIN_ORDERS}
    UNION ALL
    SELECT 'NEWACCT' AS seg,
           CAST(spend * CAST(0.10 AS DECIMAL(3,2)) AS DOUBLE) AS bal
    FROM urgent
)
SELECT seg AS c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(ROUND(SUM(CAST(ROUND(bal, 4) AS DECIMAL(28,4))), 2) AS DOUBLE)
           AS total_bal
FROM merged
GROUP BY 1
ORDER BY c_mktsegment
"""


def lake_merge_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME 3-clause MERGE as ``lake_merge_into`` — same source, same
    clause set, same oracle (LAKE_MERGE_ORACLE, shared verbatim) —
    executed MERGE-ON-READ (VERDICT r11 item 2, Iceberg v2
    ``write.merge.mode = merge-on-read``): matched keys land in ONE
    equality-delete file, updates/inserts append at the same sequence,
    and the build refuses to publish if ANY pre-merge data file was
    rewritten (the physical claim: files_rewritten == 0, every prior
    path survives). The serve pays the standard MOR anti join instead
    of CoW's write-time rewrite — the read/write cost trade the two
    modes exist to offer, measured at 64× in SCALE.md §Round-12.

    Scale: commit cost is O(candidates' visible rows + source) with no
    rewrite amplification; the delete file is one broadcast-sized key
    set until fold_pressure fires."""
    def build(staging: str) -> None:
        ft.create_table(
            read_fixture(spark, sf_dir, "customer").select(
                "c_custkey", "c_mktsegment", "c_nationkey", "c_acctbal"
            ),
            staging,
            stats_cols=["c_custkey"],
            cluster_by="c_custkey",
            n_files=16,
        )
        man = ft.read_manifest(staging)
        before = {e["path"] for e in man["entries"]}
        max_key = max(int(e["stats"]["c_custkey"][1]) for e in man["entries"])
        src = _merge_source(spark, sf_dir, max_key)
        ten_pct = F.lit("0.10").cast("decimal(3,2)")
        summary = ft.merge_into_mor(
            spark,
            staging,
            src,
            on=("c_custkey", "k"),
            when_matched_delete=F.col("s.n_ord") >= F.lit(_MERGE_CHURN_MIN_ORDERS),
            when_matched_update={
                "c_acctbal": (
                    money(F.col("t.c_acctbal")) + F.col("s.spend") * ten_pct
                ).cast("double")
            },
            when_not_matched_insert={
                "c_custkey": F.col("s.k"),
                "c_mktsegment": F.lit("NEWACCT"),
                "c_nationkey": F.col("s.k") % 25,
                "c_acctbal": (F.col("s.spend") * ten_pct).cast("double"),
            },
        )
        after = {e["path"] for e in ft.read_manifest(staging)["entries"]}
        if summary["files_rewritten"] != 0 or not before <= after:
            raise ValueError("MOR merge rewrote a data file; publish refused")
        if summary["delete_files_added"] != 1:
            raise ValueError("MOR merge must commit exactly one delete file")

    table_dir = _served_table(sf_dir, "lakemmor_", "customer", "lakemmor-v1", build)
    return (
        ft.read_table(spark, table_dir)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_customers"),
            dec_sum(quantized("c_acctbal", 4)).alias("total_bal"),
        )
        .orderBy("c_mktsegment")
    )


# ---------------------------------------------------------------------------
# lake_stream_commits — incremental (streaming) consumption of the commit log
# ---------------------------------------------------------------------------


def lake_stream_commits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type event totals computed by CONSUMING THE COMMIT LOG of a
    3-commit file-grain events table — Iceberg's streaming read: one
    micro-batch per snapshot, each batch reading EXACTLY the files that
    commit appended (``commit_delta_paths``), folded through exact
    partial aggregates (decimal money sums — the same algebra as
    mv_incremental_refresh's merge, so the fold is bit-identical to a
    batch recompute, which is what the oracle runs over the raw
    fixture).

    The per-commit loop is bounded by the COMMIT count (3 here; a real
    consumer checkpoints between commits), never by data volume — each
    iteration's read is O(that commit's files). The true arrival-order
    ``readStream`` equivalence over the same table is pinned in
    test_lakehouse (parquet file-stream source + availableNow).

    Scale: partial aggregates cross each batch's shuffle at
    |event_type| grain; the fold union is |commits| × |event_type| rows
    — driver-trivial, and the base table is never rescanned."""
    def build(staging: str) -> None:
        ev = read_fixture(spark, sf_dir, "events").select(
            "event_id", "event_type", "value"
        )
        ft.create_table(
            ev.filter(F.col("event_id") % 3 == 0),
            staging,
            stats_cols=["event_id"],
            cluster_by="event_id",
            n_files=4,
        )
        for rem in (1, 2):
            ft.append_table(ev.filter(F.col("event_id") % 3 == rem), staging, n_files=4)

    table_dir = _served_table(sf_dir, "lakestr_", "events", "lakestr-v1", build)
    acc: DataFrame | None = None
    for v in range(1, ft.current_manifest_version(table_dir) + 1):
        batch = spark.read.parquet(*ft.commit_delta_paths(table_dir, v))
        part = batch.groupBy("event_type").agg(
            F.count("*").alias("n_events"), F.sum(money("value")).alias("sum_dec")
        )
        acc = part if acc is None else acc.unionByName(part)
    return (
        acc.groupBy("event_type")
        .agg(
            F.sum("n_events").cast("long").alias("n_events"),
            F.round(F.sum("sum_dec"), 2).cast("double").alias("total_value"),
        )
        .orderBy("event_type")
    )


LAKE_STREAM_ORACLE = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE)
           AS total_value
FROM events
GROUP BY 1
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# lake_compact_roundtrip — executed binpack rewrite, content-invariant
# ---------------------------------------------------------------------------

#: small-file table: 64 files, compacted to ~8 target-size files
_COMPACT_N_SMALL_FILES = 64
_COMPACT_TARGET_FRACTION = 8


def lake_compact_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly quantity totals served from a lineitem table that was
    written as 64 small files and then COMPACTED by the executed binpack
    rewrite (``filetable.compact_table`` — Iceberg's
    rewrite_data_files): every multi-file bin of the greedy running-sum
    plan (the same rule maintenance_compaction_bins PLANS) collapses to
    one file; the oracle recomputes from the raw fixture, so the
    row-content invariance of the executed rewrite IS the verified
    claim. The bin accounting (executed == planned, one file out per
    multi-file bin, replace-commit delta semantics) is pinned in
    test_filetable.

    Scale: each rewrite group's cost is O(its own bytes) and groups are
    independent (a cluster runs them concurrently); the serve is a
    plain clustered scan that benefits from the merged files — the
    small-file read-amplification fix this verb exists for."""
    def build(staging: str) -> None:
        ft.create_table(
            read_fixture(spark, sf_dir, "lineitem").select(
                F.to_date("l_shipdate").alias("ship_dt"), "l_quantity", "l_discount"
            ),
            staging,
            stats_cols=["ship_dt"],
            cluster_by="ship_dt",
            n_files=_COMPACT_N_SMALL_FILES,
        )
        total = sum(e["bytes"] for e in ft.read_manifest(staging)["entries"])
        ft.compact_table(
            spark, staging, target_bytes=total // _COMPACT_TARGET_FRACTION + 1
        )

    table_dir = _served_table(sf_dir, "lakecmp_", "lineitem", "lakecmp-v1", build)
    return (
        ft.read_table(spark, table_dir)
        .groupBy(F.date_format("ship_dt", "yyyy-MM").alias("ship_month"))
        .agg(
            F.count("*").alias("n_items"),
            F.sum(money("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(F.when(F.col("l_discount") > 0.05, 1).otherwise(0))
            .cast("long")
            .alias("n_discounted"),
        )
        .orderBy("ship_month")
    )


LAKE_COMPACT_ORACLE = """
SELECT strftime(CAST(l_shipdate AS DATE), '%Y-%m') AS ship_month,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_discounted
FROM lineitem
GROUP BY 1
ORDER BY ship_month
"""


# ---------------------------------------------------------------------------
# lake_bloom_point_lookup — bloom-pruned point reads on a non-clustered key
# ---------------------------------------------------------------------------

#: probe keys: the 5 interior sextiles of the keyspace (dense synthetic
#: keys, so every probe exists; derived identically in the oracle)
_BLOOM_N_PROBES = 5


def lake_bloom_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point lookup of 5 order keys on a table clustered by DATE — the
    case zone maps cannot prune (every file's o_orderkey range spans the
    whole keyspace) and per-file BLOOM filters can: the build stamps a
    65536-bit, 2-hash bloom per data file (portable salted-md5 positions,
    the sketch tier's hashing rule), and the lookup reads only files
    whose bloom admits some probe key, with the exact IN-list filter on
    top removing false positives (test_lakehouse pins files_read ≤
    #probes + false-positive slack, far under files_total).

    Scale: bloom planning is O(files × k) driver metadata; each lookup
    reads at most (#probes + FPR × files) data files regardless of table
    size — the O(1)-ish point-read path a date-clustered fact otherwise
    lacks. Iceberg stores the same structure per file (parquet bloom /
    puffin); the sidecar JSON models it at files × bits/8 bytes."""
    def build(staging: str) -> None:
        ft.create_table(
            read_fixture(spark, sf_dir, "orders").select(
                "o_orderkey",
                "o_orderstatus",
                F.to_date("o_orderdate").alias("order_dt"),
                "o_totalprice",
            ),
            staging,
            stats_cols=["order_dt", "o_orderkey"],
            cluster_by="order_dt",
            n_files=36,
        )
        ft.build_bloom_index(spark, staging, "o_orderkey")

    table_dir = _served_table(sf_dir, "lakept_", "orders", "lakept-v1", build)
    man = ft.read_manifest(table_dir)
    lo = min(int(e["stats"]["o_orderkey"][0]) for e in man["entries"])
    hi = max(int(e["stats"]["o_orderkey"][1]) for e in man["entries"])
    probes = [
        lo + (i * (hi - lo)) // (_BLOOM_N_PROBES + 1)
        for i in range(1, _BLOOM_N_PROBES + 1)
    ]
    return (
        ft.point_lookup(spark, table_dir, "o_orderkey", probes)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .orderBy("o_orderkey")
    )


LAKE_BLOOM_ORACLE = f"""
WITH k AS (
    SELECT MIN(o_orderkey) AS lo, MAX(o_orderkey) AS hi FROM orders
), probes AS (
    SELECT lo + (i * (hi - lo)) // {_BLOOM_N_PROBES + 1} AS p
    FROM k, generate_series(1, {_BLOOM_N_PROBES}) AS t(i)
)
SELECT o_orderkey, o_orderstatus, o_totalprice
FROM orders
WHERE o_orderkey IN (SELECT p FROM probes)
ORDER BY o_orderkey
"""


# ---------------------------------------------------------------------------
# lake_mor_delete — merge-on-read equality deletes, EXECUTED at file grain
# ---------------------------------------------------------------------------


def lake_mor_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mor_equality_deletes scenario (queries/maintenance.py — the
    Iceberg v2 read path as a 3-frame DataFrame simulation), EXECUTED on
    the file-grain table: commit 1 creates the base (o_orderkey % 4 !=
    3), commit 2 is an EQUALITY-DELETE FILE on o_custkey (customers with
    an o_orderkey % 97 == 0 order) touching zero data files, commit 3
    appends the % 4 == 3 rows at a higher data sequence — served
    verbatim even for deleted customers (delete-then-reinsert
    resurrects the key). The serve is ``filetable.read_table``'s MOR
    path: one null-safe broadcast anti join keyed by (delete seq > data
    seq). Same oracle as the simulation — the executed layer and the
    simulated read path must agree row-for-row.

    Scale: the delete commit is O(|keys|) regardless of table size; the
    serve's anti join broadcasts the between-compactions delete-key set
    (the MOR contract); ``fold_deletes`` is the pressure valve
    (test-pinned: folded pure-data read == MOR read)."""
    def build(staging: str) -> None:
        orders = read_fixture(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
        )
        ft.create_table(
            orders.filter(F.col("o_orderkey") % 4 != 3),
            staging,
            stats_cols=["o_orderkey"],
            cluster_by="o_orderkey",
            n_files=16,
        )
        ft.delete_keys_mor(
            spark,
            staging,
            "o_custkey",
            orders.filter(F.col("o_orderkey") % 97 == 0).select("o_custkey"),
        )
        ft.append_table(orders.filter(F.col("o_orderkey") % 4 == 3), staging, n_files=4)

    table_dir = _served_table(sf_dir, "lakemor_", "orders", "lakemor-v1", build)
    return (
        ft.read_table(spark, table_dir)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_live"),
            F.countDistinct("o_custkey").alias("n_custkeys"),
            money_sum("o_totalprice").alias("total_price"),
        )
        .orderBy("o_orderstatus")
    )


# ---------------------------------------------------------------------------
# lake_schema_evolution — field-id evolution served across old + new files
# ---------------------------------------------------------------------------


def lake_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority totals over a table whose schema EVOLVED mid-history:
    v1 creates 4/5 of orders as (o_orderkey, order_dt, o_totalprice);
    then two metadata-only commits rename o_totalprice → price and add a
    ``priority`` string column (zero files touched — field-id evolution,
    filetable.rename_column/add_column); then the remaining 1/5 appends
    UNDER THE NEW SCHEMA with the priority populated. The serve reads
    both generations in one frame: old files resolve ``price`` under
    their written name and backfill ``priority`` as NULL (surfaced as
    'LEGACY'), new files read identity — the per-seq projection rule
    Iceberg applies by field id. The oracle reconstructs the same split
    from the raw fixture, so cross-generation resolution correctness is
    the verified claim.

    Scale: evolution commits are O(1) metadata at any table size; the
    read adds one extra union arm per distinct live schema generation
    (bounded by evolution history, not data)."""
    def build(staging: str) -> None:
        orders = read_fixture(spark, sf_dir, "orders")
        old = orders.filter(F.col("o_orderkey") % 5 != 0).select(
            "o_orderkey",
            F.to_date("o_orderdate").alias("order_dt"),
            "o_totalprice",
        )
        ft.create_table(
            old, staging, stats_cols=["order_dt"], cluster_by="order_dt", n_files=12
        )
        ft.rename_column(staging, "o_totalprice", "price")
        ft.add_column(staging, "priority", "string")
        new = orders.filter(F.col("o_orderkey") % 5 == 0).select(
            "o_orderkey",
            F.to_date("o_orderdate").alias("order_dt"),
            F.col("o_totalprice").alias("price"),
            F.col("o_orderpriority").alias("priority"),
        )
        ft.append_table(new, staging, n_files=4)

    table_dir = _served_table(sf_dir, "lakesch_", "orders", "lakesch-v1", build)
    return (
        ft.read_table(spark, table_dir)
        .groupBy(F.coalesce("priority", F.lit("LEGACY")).alias("priority"))
        .agg(
            F.count("*").alias("n_orders"),
            money_sum("price").alias("total_price"),
        )
        .orderBy("priority")
    )


LAKE_SCHEMA_ORACLE = """
SELECT CASE WHEN o_orderkey % 5 = 0 THEN o_orderpriority
            ELSE 'LEGACY' END AS priority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
           AS total_price
FROM orders
GROUP BY 1
ORDER BY priority
"""


# ---------------------------------------------------------------------------
# lake_spec_evolution_scan — partition-spec evolution served across specs
# ---------------------------------------------------------------------------


def lake_spec_evolution_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Status totals for a customer-key band over a table whose
    CLUSTERING SPEC evolved mid-history — the executed twin of
    maintenance_partition_evolution's planning model: generation 1 (2/3
    of orders) is date-clustered with date-only bounds; a metadata-only
    ``evolve_stats_spec`` commit re-keys the spec to (o_custkey,
    order_dt); generation 2 appends under it, custkey-clustered with
    custkey bounds. The band scan then reads ALL gen-1 files (no custkey
    bounds — conservative, sound) and PRUNES gen-2 tightly — exactly how
    Iceberg serves across partition specs, old partitions unpruned until
    rewritten (test_lakehouse pins the per-generation file accounting).
    The oracle is the plain band filter over the raw fixture.

    Scale: the spec change is O(1) metadata; as the new spec accretes
    data, the pruned fraction of the table grows toward the band
    fraction — the compaction/rewrite path is how the old generation
    eventually joins it (compact_table re-collects CURRENT-spec bounds)."""
    def build(staging: str) -> None:
        orders = read_fixture(spark, sf_dir, "orders").select(
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            F.to_date("o_orderdate").alias("order_dt"),
            "o_totalprice",
        )
        ft.create_table(
            orders.filter(F.col("o_orderkey") % 3 != 0),
            staging,
            stats_cols=["order_dt"],
            cluster_by="order_dt",
            n_files=12,
        )
        ft.evolve_stats_spec(staging, ["o_custkey", "order_dt"])
        ft.append_table(orders.filter(F.col("o_orderkey") % 3 == 0), staging, n_files=12)

    table_dir = _served_table(sf_dir, "lakespec_", "orders", "lakespec-v1", build)
    # band: the low eighth of the customer keyspace (1-row bounded scalar,
    # replicated by the oracle's MAX()//8)
    max_key = (
        read_fixture(spark, sf_dir, "orders")
        .agg(F.max("o_custkey").alias("m"))
        .collect()[0]["m"]
    )
    return (
        ft.scan_range(spark, table_dir, "o_custkey", 0, max_key // 8)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            F.countDistinct("o_custkey").alias("n_custkeys"),
            money_sum("o_totalprice").alias("total_price"),
        )
        .orderBy("o_orderstatus")
    )


LAKE_SPEC_ORACLE = """
WITH k AS (
    SELECT MAX(o_custkey) // 8 AS band_hi FROM orders
)
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_custkeys,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
           AS total_price
FROM orders, k
WHERE o_custkey >= 0 AND o_custkey <= band_hi
GROUP BY 1
ORDER BY o_orderstatus
"""


# ---------------------------------------------------------------------------
# lake_zorder_box_scan — executed z-order rewrite + 2-D box pruning
# ---------------------------------------------------------------------------

#: the box probe: low sixth of the customer keyspace × middle 20% of the
#: date span — selective on BOTH dimensions, the shape z-order exists for
_ZBOX_KEY_FRACTION = 6
_ZBOX_LO_FRAC, _ZBOX_HI_FRAC = 0.40, 0.60


def lake_zorder_box_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Status totals for a (customer-band × date-band) BOX probe served
    from a z-ORDERED orders table — the EXECUTED form of
    layout_zorder_lab: the build creates the natural date-clustered
    layout, then ``filetable.rewrite_layout`` rewrites every file
    range-clustered on the Morton interleave of (o_custkey, day-index) —
    the same ``_morton_expr`` integer arithmetic the lab and its oracle
    share — collecting bounds on BOTH probe columns. The serve's
    ``plan_scan_box`` then prunes on both dimensions simultaneously
    (test_lakehouse pins that the natural layout cannot: its custkey
    bounds span the keyspace in every file). The oracle is the plain box
    filter over the raw fixture.

    Scale: the one-time rewrite is O(table) — the price of making every
    later box probe O(box); per-file bounds stay tight because Morton
    locality bounds both coordinates within a contiguous key range."""
    from .maintenance import _morton_expr

    def build(staging: str) -> None:
        orders = read_fixture(spark, sf_dir, "orders").select(
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            F.to_date("o_orderdate").alias("order_dt"),
            "o_totalprice",
        )
        ft.create_table(
            orders, staging, stats_cols=["order_dt"], cluster_by="order_dt", n_files=16
        )
        lo, _hi = _date_bounds(staging, "order_dt")
        z = F.expr(
            _morton_expr("o_custkey", f"datediff(order_dt, DATE '{lo}')", "div")
        )
        ft.rewrite_layout(
            spark,
            staging,
            cluster_expr=z,
            stats_cols=["o_custkey", "order_dt"],
            n_files=24,
        )

    table_dir = _served_table(sf_dir, "lakez_", "orders", "lakez-v1", build)
    man = ft.read_manifest(table_dir)
    max_key = max(int(e["stats"]["o_custkey"][1]) for e in man["entries"])
    lo, hi = _date_bounds(table_dir, "order_dt")
    span = (hi - lo).days
    box = {
        "o_custkey": (0, max_key // _ZBOX_KEY_FRACTION),
        "order_dt": (
            lo + _dt.timedelta(days=int(span * _ZBOX_LO_FRAC)),
            lo + _dt.timedelta(days=int(span * _ZBOX_HI_FRAC)),
        ),
    }
    return (
        ft.scan_box(spark, table_dir, box)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            F.countDistinct("o_custkey").alias("n_custkeys"),
            money_sum("o_totalprice").alias("total_price"),
        )
        .orderBy("o_orderstatus")
    )


LAKE_ZORDER_ORACLE = f"""
WITH span AS (
    SELECT MIN(CAST(o_orderdate AS DATE)) AS lo,
           MAX(CAST(o_orderdate AS DATE)) AS hi
    FROM orders
), k AS (
    SELECT MAX(o_custkey) // {_ZBOX_KEY_FRACTION} AS k_hi FROM orders
), band AS (
    SELECT lo + CAST(FLOOR((hi - lo) * {_ZBOX_LO_FRAC}) AS INTEGER) AS b_lo,
           lo + CAST(FLOOR((hi - lo) * {_ZBOX_HI_FRAC}) AS INTEGER) AS b_hi
    FROM span
)
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_custkeys,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
           AS total_price
FROM orders, k, band
WHERE o_custkey >= 0 AND o_custkey <= k_hi
  AND CAST(o_orderdate AS DATE) BETWEEN b_lo AND b_hi
GROUP BY 1
ORDER BY o_orderstatus
"""


# ---------------------------------------------------------------------------
# lake_pos_delete — position deletes (MOR's second flavor), executed
# ---------------------------------------------------------------------------


def lake_pos_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly totals after an executed POSITION DELETE — Iceberg v2's
    second delete flavor: matching rows are recorded as (file basename,
    ``_metadata.row_index``) coordinates in a delete file
    (``filetable.delete_positions_mor``), targeting ROWS rather than
    keys, with zero data files rewritten. The serve is the MOR read
    path's position anti join (file+ordinal equality); the oracle keeps
    the predicate's complement over the raw fixture. Delete predicate:
    ``o_orderkey % 13 == 0 AND o_orderstatus == 'O'`` — cuts across
    every file of the date-clustered layout, the shape where an
    equality delete would need the full key list and a CoW delete would
    rewrite everything.

    Scale: the delete commit costs O(matching rows) coordinates; the
    serve's anti join broadcasts them (small between folds — the same
    MOR contract as equality deletes; fold_deletes is the shared
    pressure valve, test-pinned on the mixed-flavor case)."""
    def build(staging: str) -> None:
        ft.create_table(
            read_fixture(spark, sf_dir, "orders").select(
                "o_orderkey",
                "o_custkey",
                "o_orderstatus",
                F.to_date("o_orderdate").alias("order_dt"),
                "o_totalprice",
            ),
            staging,
            stats_cols=["order_dt"],
            cluster_by="order_dt",
            n_files=24,
        )
        ft.delete_positions_mor(
            spark,
            staging,
            (F.col("o_orderkey") % 13 == 0) & (F.col("o_orderstatus") == "O"),
        )

    table_dir = _served_table(sf_dir, "lakepos_", "orders", "lakepos-v1", build)
    return (
        ft.read_table(spark, table_dir)
        .groupBy(F.date_format("order_dt", "yyyy-MM").alias("order_month"))
        .agg(
            F.count("*").alias("n_orders"),
            money_sum("o_totalprice").alias("total_price"),
        )
        .orderBy("order_month")
    )


LAKE_POS_DELETE_ORACLE = """
SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS order_month,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
           AS total_price
FROM orders
WHERE NOT (o_orderkey % 13 = 0 AND o_orderstatus = 'O')
GROUP BY 1
ORDER BY order_month
"""


# ---------------------------------------------------------------------------
# lake_branch_wap — audited branch staging + fast-forward publish, executed
# ---------------------------------------------------------------------------


def lake_branch_wap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Status totals served AFTER a branch-scoped write-audit-publish
    cycle: the build creates main from 3/4 of orders, stages the last
    quarter on an ``audit`` branch via ``append_table(branch=...)`` with
    a real audit (non-empty batch, no null keys), and publishes with
    ``fast_forward_table`` — so the SERVED main equals the full fixture
    only because the staged commit passed its audits and was fast-
    forwarded. The oracle aggregates the raw fixture: equality holds iff
    the whole WAP cycle executed correctly (a failed audit or missing
    publish would leave main at 3/4 and hash-mismatch).

    Scale: the branch commit is a normal append (O(batch)); staging and
    publish are metadata-only; audits scan only the staged files."""
    def build(staging: str) -> None:
        orders = read_fixture(spark, sf_dir, "orders").select(
            "o_orderkey",
            "o_orderstatus",
            F.to_date("o_orderdate").alias("order_dt"),
            "o_totalprice",
        )
        ft.create_table(
            orders.filter(F.col("o_orderkey") % 4 != 0),
            staging,
            stats_cols=["order_dt"],
            cluster_by="order_dt",
            n_files=12,
        )
        ft.create_branch(staging, "audit")
        ft.append_table(
            orders.filter(F.col("o_orderkey") % 4 == 0),
            staging,
            n_files=4,
            branch="audit",
            audits=[
                lambda staged: staged.count() > 0,
                lambda staged: staged.filter(F.col("o_orderkey").isNull()).count() == 0,
            ],
        )
        ft.fast_forward_table(staging, "audit")

    table_dir = _served_table(sf_dir, "lakewap_", "orders", "lakewap-v1", build)
    return (
        ft.read_table(spark, table_dir)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            money_sum("o_totalprice").alias("total_price"),
        )
        .orderBy("o_orderstatus")
    )


LAKE_BRANCH_WAP_ORACLE = """
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
           AS total_price
FROM orders
GROUP BY 1
ORDER BY o_orderstatus
"""


# ---------------------------------------------------------------------------
# lake_update_where — executed row-level UPDATE, copy-on-write
# ---------------------------------------------------------------------------

#: same retention shape as lake_cow_delete, but the old rows are
#: repriced (10% markdown) instead of removed
_UPDATE_AGE_DAYS = 200


def lake_update_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly totals after an executed row-level
    ``UPDATE orders SET o_totalprice = o_totalprice * 0.90 WHERE
    order_dt <= max - 200d`` on a 36-file range-clustered table
    (``filetable.update_where``): files entirely above the cutoff
    survive by metadata; covered and straddling files rewrite
    copy-on-write with the SET expression applied only to matching rows
    — exact decimal arithmetic (DECIMAL(18,2) × DECIMAL(3,2)) before
    the double store, so the oracle's CASE WHEN replay matches
    bit-for-bit. Updated rows keep their months, so every month's
    (n_orders, total) pair proves both the predicate boundary and the
    carried-verbatim rows.

    Scale: the rewrite set is bounds-bounded exactly like DELETE's —
    O(files that can match), with the bulk above the cutoff untouched
    at any table size; the serve is a plain clustered scan."""
    ten_off = F.lit("0.90").cast("decimal(3,2)")

    def build(staging: str) -> None:
        ft.create_table(
            read_fixture(spark, sf_dir, "orders").select(
                "o_orderkey",
                "o_orderstatus",
                F.to_date("o_orderdate").alias("order_dt"),
                "o_totalprice",
            ),
            staging,
            stats_cols=["order_dt"],
            cluster_by="order_dt",
            n_files=36,
        )
        _lo, hi = _date_bounds(staging, "order_dt")
        cutoff = hi - _dt.timedelta(days=_UPDATE_AGE_DAYS)
        ft.update_where(
            spark,
            staging,
            "order_dt",
            cutoff,
            {"o_totalprice": (money("o_totalprice") * ten_off).cast("double")},
        )

    table_dir = _served_table(sf_dir, "lakeupd_", "orders", "lakeupd-v1", build)
    return (
        ft.read_table(spark, table_dir)
        .groupBy(F.date_format("order_dt", "yyyy-MM").alias("order_month"))
        .agg(
            F.count("*").alias("n_orders"),
            # post-update prices live on a 1e-4 decimal grid (2-dec base
            # × 2-dec factor); quantized() keeps the sum exact
            dec_sum(quantized("o_totalprice", 4)).alias("total_price"),
        )
        .orderBy("order_month")
    )


LAKE_UPDATE_ORACLE = f"""
WITH k AS (
    SELECT MAX(CAST(o_orderdate AS DATE)) - {_UPDATE_AGE_DAYS} AS upd_dt
    FROM orders
), repriced AS (
    SELECT CAST(o_orderdate AS DATE) AS d,
           CASE WHEN CAST(o_orderdate AS DATE) <= upd_dt
                THEN CAST(CAST(o_totalprice AS DECIMAL(18,2))
                          * CAST(0.90 AS DECIMAL(3,2)) AS DOUBLE)
                ELSE o_totalprice END AS price
    FROM orders, k
)
SELECT strftime(d, '%Y-%m') AS order_month,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(ROUND(SUM(CAST(ROUND(price, 4) AS DECIMAL(28,4))), 2) AS DOUBLE)
           AS total_price
FROM repriced
GROUP BY 1
ORDER BY order_month
"""


# ---------------------------------------------------------------------------
# lake_changelog_delta — manifest-delta CDF between two snapshots
# ---------------------------------------------------------------------------

#: the delete commit's cutoff, as a fraction of the corpus date span
_CDF_CUTOFF_FRAC = 0.4


def lake_changelog_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level CDF between snapshot v1 and v3 of a 3-commit table,
    routed through the MANIFEST DELTA (VERDICT r10 item 5,
    ``filetable.changelog_table``): v1 creates 2/3 of orders, v2 appends
    the rest, v3 is an executed retention DELETE at 40% of the date
    span. The changelog reads ONLY the files the two manifests disagree
    on — appended files, metadata-dropped files, straddler originals and
    their rewrites; every shared file cancels by the multiset identity
    ``to ∖ from = added ∖ removed`` without being opened (the IO pin in
    test_filetable). Output: per-month insert/delete row counts and
    money totals; the oracle derives the same diff from the raw fixture
    (inserts = appended rows surviving the delete, deletes = original
    rows the delete removed), so the file-delta routing must reproduce
    the exact row-level change set to hash-match.

    Scale: cost is O(files changed between the versions), never
    O(table) — an append-only commit range reads exactly the appended
    files (Iceberg's incremental scan); the fallback two-full-scan diff
    is reserved for snapshots whose visibility differs from their data
    files (live MOR deletes)."""
    def build(staging: str) -> None:
        orders = read_fixture(spark, sf_dir, "orders").select(
            "o_orderkey",
            F.to_date("o_orderdate").alias("order_dt"),
            "o_totalprice",
        )
        ft.create_table(
            orders.filter(F.col("o_orderkey") % 3 != 0),
            staging,
            stats_cols=["order_dt"],
            cluster_by="order_dt",
            n_files=12,
        )
        ft.append_table(orders.filter(F.col("o_orderkey") % 3 == 0), staging, n_files=6)
        b = orders.agg(F.min("order_dt").alias("lo"), F.max("order_dt").alias("hi")).collect()[0]
        cutoff = b["lo"] + _dt.timedelta(
            days=int((b["hi"] - b["lo"]).days * _CDF_CUTOFF_FRAC)
        )
        ft.delete_where(spark, staging, "order_dt", cutoff)

    table_dir = _served_table(sf_dir, "lakecdf_", "orders", "lakecdf-v1", build)
    return (
        ft.changelog_table(spark, table_dir, 1, 3)
        .groupBy(
            F.col("_change_type").alias("change_type"),
            F.date_format("order_dt", "yyyy-MM").alias("order_month"),
        )
        .agg(
            F.count("*").alias("n_rows"),
            money_sum("o_totalprice").alias("total_price"),
        )
        .orderBy("change_type", "order_month")
    )


LAKE_CHANGELOG_ORACLE = f"""
WITH span AS (
    SELECT MIN(CAST(o_orderdate AS DATE)) AS lo,
           MAX(CAST(o_orderdate AS DATE)) AS hi
    FROM orders
), k AS (
    SELECT lo + CAST(FLOOR((hi - lo) * {_CDF_CUTOFF_FRAC}) AS INTEGER) AS cutoff
    FROM span
), changes AS (
    -- inserts: appended (v2) rows still visible at v3 (survived the delete)
    SELECT 'insert' AS change_type, CAST(o_orderdate AS DATE) AS d, o_totalprice
    FROM orders, k
    WHERE o_orderkey % 3 = 0 AND CAST(o_orderdate AS DATE) > cutoff
    UNION ALL
    -- deletes: v1 rows the retention delete removed
    SELECT 'delete' AS change_type, CAST(o_orderdate AS DATE) AS d, o_totalprice
    FROM orders, k
    WHERE o_orderkey % 3 <> 0 AND CAST(o_orderdate AS DATE) <= cutoff
)
SELECT change_type,
       strftime(d, '%Y-%m') AS order_month,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
           AS total_price
FROM changes
GROUP BY 1, 2
ORDER BY change_type, order_month
"""


# ---------------------------------------------------------------------------
# lake_maintenance_window — compact → expire → incremental consume, composed
# ---------------------------------------------------------------------------


def lake_maintenance_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type event totals ingested by an INCREMENTAL consumer after a
    full maintenance window ran on the table (VERDICT r10 item 6 — the
    no-double-count rule end-to-end at file grain): the build lands
    three small-file append commits (event quarters 0–2), COMPACTS the
    accumulated small files (``compact_table`` — a replace commit),
    appends quarter 3, then EXPIRES all but the last three manifests
    (``expire_table`` — the consumer's early history is gone). The serve
    replays ``filetable.incremental_feed``: bootstrap from the oldest
    retained snapshot, SKIP the compaction commit (its file delta
    re-presents rows the bootstrap already carries — ingesting it is the
    classic double-count), consume the post-compaction append's delta,
    and fold exact decimal partial aggregates. The oracle is the plain
    recompute over the raw fixture: hash equality holds only if the
    consumer saw every row EXACTLY once through the
    compact-expire-append window.

    Scale: the feed is driver-side manifest metadata; each batch reads
    only its own files; compaction groups rewrite O(their own bytes);
    expiry is metadata + unreferenced-file GC. Nothing rescans the
    table — the maintenance window costs what it touches."""
    def build(staging: str) -> None:
        ev = read_fixture(spark, sf_dir, "events").select(
            "event_id", "event_type", "value"
        )
        ft.create_table(
            ev.filter(F.col("event_id") % 4 == 0),
            staging,
            stats_cols=["event_id"],
            cluster_by="event_id",
            n_files=8,
        )
        for rem in (1, 2):
            ft.append_table(ev.filter(F.col("event_id") % 4 == rem), staging, n_files=8)
        total = sum(
            e["bytes"] for e in ft.read_manifest(staging)["entries"]
        )
        ft.compact_table(spark, staging, target_bytes=total // 4 + 1)
        ft.append_table(ev.filter(F.col("event_id") % 4 == 3), staging, n_files=8)
        ft.expire_table(staging, keep_last=3)

    table_dir = _served_table(sf_dir, "lakemw_", "events", "lakemw-v1", build)
    feed = ft.incremental_feed(table_dir)
    # the window's shape must be what the build promised: a bootstrap,
    # the skipped replace commit, and the post-compaction delta
    kinds = [b["kind"] for b in feed]
    if "replace-skip" not in kinds:
        raise ValueError(f"maintenance window lost its replace commit: {kinds}")
    acc: DataFrame | None = None
    for batch in feed:
        if not batch["paths"]:
            continue  # replace-skip: already-consumed rows in new files
        part = (
            spark.read.parquet(*batch["paths"])
            .groupBy("event_type")
            .agg(F.count("*").alias("n_events"), F.sum(money("value")).alias("sum_dec"))
        )
        acc = part if acc is None else acc.unionByName(part)
    return (
        acc.groupBy("event_type")
        .agg(
            F.sum("n_events").cast("long").alias("n_events"),
            F.round(F.sum("sum_dec"), 2).cast("double").alias("total_value"),
        )
        .orderBy("event_type")
    )


LAKE_MAINT_WINDOW_ORACLE = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE)
           AS total_value
FROM events
GROUP BY 1
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# lake_add_files_import — copy-free migrate-in-place, served
# ---------------------------------------------------------------------------


def lake_add_files_import(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly totals over a table whose last third arrived by
    ``filetable.add_files`` — Iceberg's migrate-in-place procedure: the
    build creates 2/3 of lineitem as a managed range-clustered table,
    drops the remaining third as RAW parquet under the table dir (a
    legacy dump, written outside the protocol), then registers it with
    one distributed stats pass and zero rewrite. The serve reads the
    union through the ordinary manifest; the oracle recomputes from the
    full fixture, so hash equality holds only if the import made every
    legacy row first-class without touching its bytes.

    Scale: import cost is one stats aggregate over the imported bytes —
    the entire managed table is untouched metadata; unclustered imports
    plan conservatively until a rewrite re-clusters them (Iceberg's own
    imported-partition behavior)."""
    def build(staging: str) -> None:
        li = read_fixture(spark, sf_dir, "lineitem").select(
            "l_orderkey",
            F.to_date("l_shipdate").alias("ship_dt"),
            "l_quantity",
            "l_extendedprice",
            "l_discount",
        )
        ft.create_table(
            li.filter(F.col("l_orderkey") % 3 != 0),
            staging,
            stats_cols=["ship_dt"],
            cluster_by="ship_dt",
            n_files=24,
        )
        legacy = os.path.join(staging, "data", "legacy_dump")
        li.filter(F.col("l_orderkey") % 3 == 0).repartition(4).write.parquet(legacy)
        ft.add_files(spark, staging, os.path.join("data", "legacy_dump"))

    table_dir = _served_table(sf_dir, "lakeadd_", "lineitem", "lakeadd-v1", build)
    return (
        ft.read_table(spark, table_dir)
        .groupBy(F.date_format("ship_dt", "yyyy-MM").alias("ship_month"))
        .agg(
            F.count("*").alias("n_items"),
            F.sum(money("l_quantity")).cast("double").alias("sum_qty"),
            dec_sum(revenue_dec()).alias("revenue"),
        )
        .orderBy("ship_month")
    )


LAKE_ADD_FILES_ORACLE = f"""
SELECT strftime(CAST(l_shipdate AS DATE), '%Y-%m') AS ship_month,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(ROUND(SUM({SQL_REV}), 2) AS DOUBLE) AS revenue
FROM lineitem
GROUP BY 1
ORDER BY ship_month
"""


# ---------------------------------------------------------------------------
# lake_fold_gate_serve — the fold-pressure valve firing end-to-end
# ---------------------------------------------------------------------------

#: four ~1%-of-table position-delete commits against an 0.018 ratio
#: threshold: commits 2 and 4 cross it (0.02 > 0.018), commits 1 and 3
#: stay under (0.01, ~0.0102 post-fold) — so the build folds TWICE and
#: ends with zero live delete files, deterministically
_FOLD_GATE_MODULUS = 100
_FOLD_GATE_SLICES = 4
_FOLD_GATE_THRESHOLD = 0.018


def lake_fold_gate_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly totals served AFTER the fold-pressure gate ran end-to-end
    (VERDICT r10 item 1 — the one measured scale tail, closed visibly):
    the build accumulates four position-delete commits (each ~1% of the
    table: ``o_orderkey % 100 == i``) through
    ``delete_positions_mor(auto_fold_threshold=0.018)``, so the write
    path consults ``fold_pressure`` after every commit — the ratio
    crosses the threshold at commits 2 and 4, ``fold_deletes`` fires
    twice, and the PUBLISHED table carries ZERO live delete files. The
    serve is therefore a pure clustered data scan: no MOR anti join, no
    delete-set broadcast — the flat-family plan, unlike
    ``lake_pos_delete`` which deliberately serves against a live delete
    set to keep the unfolded cost measurable. The oracle keeps the
    complement of all four delete slices over the raw fixture: equality
    holds only if every delete commit applied exactly once and both
    folds preserved visibility.

    Scale: each delete commit is O(matching rows); each fold rewrites
    only the files that actually hold deleted rows; the serve is O(live
    data) with no per-read delete overhead however many delete commits
    accumulated — SCALE.md §Round-11 shows this serve rejoining the flat
    family at 64–256× while the unfolded twin's anti join grows."""
    def build(staging: str) -> None:
        ft.create_table(
            read_fixture(spark, sf_dir, "orders").select(
                "o_orderkey",
                "o_custkey",
                "o_orderstatus",
                F.to_date("o_orderdate").alias("order_dt"),
                "o_totalprice",
            ),
            staging,
            stats_cols=["order_dt"],
            cluster_by="order_dt",
            n_files=24,
        )
        for i in range(_FOLD_GATE_SLICES):
            ft.delete_positions_mor(
                spark,
                staging,
                F.col("o_orderkey") % _FOLD_GATE_MODULUS == i,
                auto_fold_threshold=_FOLD_GATE_THRESHOLD,
            )
        # the gate must have drained the delete set: publishing a table
        # with live deletes here would mean the valve never fired
        data, eqs, poss, dvs = ft._split_entries(ft.read_manifest(staging))
        if eqs or poss:
            raise ValueError(
                f"fold gate never drained the delete set ({len(eqs) + len(poss)} "
                "live delete files at publish)"
            )

    table_dir = _served_table(sf_dir, "lakefold_", "orders", "lakefold-v1", build)
    return (
        ft.read_table(spark, table_dir)
        .groupBy(F.date_format("order_dt", "yyyy-MM").alias("order_month"))
        .agg(
            F.count("*").alias("n_orders"),
            money_sum("o_totalprice").alias("total_price"),
        )
        .orderBy("order_month")
    )


LAKE_FOLD_GATE_ORACLE = f"""
SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS order_month,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
           AS total_price
FROM orders
WHERE o_orderkey % {_FOLD_GATE_MODULUS} >= {_FOLD_GATE_SLICES}
GROUP BY 1
ORDER BY order_month
"""


# ---------------------------------------------------------------------------
# lake_dv_serve — deletion-vector MOR serve, flat BEFORE any fold
# ---------------------------------------------------------------------------

_DV_SLICES = 4
_DV_MODULUS = 100


def lake_dv_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly totals served against live DELETION VECTORS (VERDICT r11
    item 1 — the Iceberg v3 / Delta DV shape): the build accumulates
    four ~1% position-delete commits through
    ``filetable.delete_positions_dv`` and NEVER folds — each commit
    merges its positions into at most one vector per data file, so the
    serve applies one file-local membership filter whose cost is flat
    in the number of delete commits. This is the structural fix for the
    tail ``lake_pos_delete`` keeps measurable (its delete-FILE flavor
    accumulates an anti join per unfolded commit;
    ``lake_fold_gate_serve`` closes that tail by rewriting — DVs close
    it without rewriting anything). The publish gate pins the
    invariants: zero eq/pos delete files, at most one DV per data file,
    zero data files rewritten since create.

    Scale: serve = clean files as a plain scan ∪ dv'd files probing
    their own file's bitmap with try_element_at/shiftright under a
    one-row-per-file words broadcast — whole-stage codegen, no Python,
    O(1) per row; SCALE.md §Round-12 shows the 256× serve flat across
    all four unfolded delete commits (and the Arrow-membership first
    cut it replaced, which tracked the anti join instead)."""
    def build(staging: str) -> None:
        ft.create_table(
            read_fixture(spark, sf_dir, "orders").select(
                "o_orderkey",
                "o_custkey",
                "o_orderstatus",
                F.to_date("o_orderdate").alias("order_dt"),
                "o_totalprice",
            ),
            staging,
            stats_cols=["order_dt"],
            cluster_by="order_dt",
            n_files=24,
        )
        n_data = len(ft.read_manifest(staging)["entries"])
        for i in range(_DV_SLICES):
            ft.delete_positions_dv(
                spark, staging, F.col("o_orderkey") % _DV_MODULUS == i
            )
        data, eqs, poss, dvs = ft._split_entries(ft.read_manifest(staging))
        targets = [e["target"] for e in dvs]
        if eqs or poss or len(targets) != len(set(targets)):
            raise ValueError("DV invariant broken: non-DV deletes or dup vectors")
        if len(data) != n_data:
            raise ValueError("DV commits must never rewrite data files")

    table_dir = _served_table(sf_dir, "lakedv_", "orders", "lakedv-v2", build)
    return (
        ft.read_table(spark, table_dir)
        .groupBy(F.date_format("order_dt", "yyyy-MM").alias("order_month"))
        .agg(
            F.count("*").alias("n_orders"),
            money_sum("o_totalprice").alias("total_price"),
        )
        .orderBy("order_month")
    )


LAKE_DV_SERVE_ORACLE = f"""
SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS order_month,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
           AS total_price
FROM orders
WHERE o_orderkey % {_DV_MODULUS} >= {_DV_SLICES}
GROUP BY 1
ORDER BY order_month
"""


# ---------------------------------------------------------------------------
# lake_gc_orphans — executed orphan-file GC, serve-identical before/after
# ---------------------------------------------------------------------------


def lake_gc_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly totals served AFTER an executed orphan-file GC (VERDICT
    r11 item 4 — plans/procedures.py renders the CALL string; this
    DELETES): the build plants crash debris — a claimed commit dir whose
    writer 'died' before its manifest landed, holding rows that must
    never surface — runs ``gc_orphans`` once INSIDE the grace window
    (nothing may go: the debris could be an in-flight commit) and once
    past it (exactly the debris goes), and refuses to publish unless the
    file accounting is exact. The oracle aggregates the raw fixture:
    equality holds iff GC removed ONLY unreferenced bytes — a GC that
    touched any live or tag-referenced file would hash-mismatch (or
    fail the read outright).

    Scale: GC is one data-tree walk against the union of retained
    manifests' path sets — O(#files) metadata, zero data bytes read."""
    def build(staging: str) -> None:
        import time

        ft.create_table(
            read_fixture(spark, sf_dir, "orders").select(
                "o_orderkey",
                "o_orderstatus",
                F.to_date("o_orderdate").alias("order_dt"),
                "o_totalprice",
            ),
            staging,
            stats_cols=["order_dt"],
            cluster_by="order_dt",
            n_files=24,
        )
        ft.tag_snapshot(staging, "audit-base")
        # crash debris: rows that must never serve
        debris_dir = os.path.join(staging, "data", "c009999")
        spark.createDataFrame(
            [(int(-1), "X", _dt.date(1900, 1, 1), -1.0)],
            "o_orderkey long, o_orderstatus string, order_dt date, o_totalprice double",
        ).coalesce(1).write.parquet(debris_dir)
        now = time.time()
        s1 = ft.gc_orphans(staging, grace_seconds=3600, now=now)
        if s1["files_removed"] != 0 or s1["kept_in_grace"] < 1:
            raise ValueError(f"in-grace GC must remove nothing: {s1}")
        s2 = ft.gc_orphans(staging, grace_seconds=3600, now=now + 7200)
        if s2["files_removed"] != 1 or "c009999" not in s2["removed_paths"][0]:
            raise ValueError(f"GC must remove exactly the planted debris: {s2}")
        # r13 (ADVICE r12): the debris dir's _SUCCESS/.crc siblings and
        # the dir itself must be pruned too — a leftover cNNNNNN dir
        # would inflate commit numbering forever
        if s2["extra_files_removed"] < 1 or s2["dirs_removed"] < 1:
            raise ValueError(f"GC left non-parquet debris behind: {s2}")
        if os.path.exists(debris_dir):
            raise ValueError("the dead commit dir must be pruned")

    table_dir = _served_table(sf_dir, "lakegc_", "orders", "lakegc-v2", build)
    return (
        ft.read_table(spark, table_dir)
        .groupBy(F.date_format("order_dt", "yyyy-MM").alias("order_month"))
        .agg(
            F.count("*").alias("n_orders"),
            money_sum("o_totalprice").alias("total_price"),
        )
        .orderBy("order_month")
    )


LAKE_GC_ORACLE = """
SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS order_month,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
           AS total_price
FROM orders
GROUP BY 1
ORDER BY order_month
"""


# ---------------------------------------------------------------------------
# lake_spj_bucketed_join — storage-partitioned join over bucketed filetables
# ---------------------------------------------------------------------------


def lake_spj_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment order totals from a STORAGE-PARTITIONED JOIN of two
    bucket(16)-laid-out filetables (VERDICT r11 item 5 — the reference's
    pedagogical heart, README.md:18 and job1:224,239,248's ``bucket(16,
    match_id)`` transforms, executed at the manifest layer): orders
    bucketed by o_custkey joins customer bucketed by c_custkey by
    pairing bucket-aligned files straight from the two manifests — the
    fact side never shuffles (the no-``Exchange hashpartitioning`` pin
    lives in test_filetable; the exchange visible in THIS query's plan
    belongs to the aggregation above the join, which shuffles already-
    reduced rows). The oracle is the plain SQL join+aggregate.

    Scale: join memory per task = the smaller side's bucket (the same
    bound as one shuffled-join partition), parallelism = bucket count —
    size n_buckets by the shuffle-partition rule and the plan survives
    any table size with zero fact-side network."""
    def build(staging: str) -> None:
        ft.create_table(
            read_fixture(spark, sf_dir, "orders").select(
                "o_custkey", "o_orderkey", "o_totalprice"
            ),
            os.path.join(staging, "orders_b"),
            stats_cols=["o_orderkey"],
            bucket_by=("o_custkey", 16),
        )
        ft.create_table(
            read_fixture(spark, sf_dir, "customer").select(
                "c_custkey", "c_mktsegment"
            ),
            os.path.join(staging, "cust_b"),
            stats_cols=["c_custkey"],
            bucket_by=("c_custkey", 16),
        )

    root = _served_table(sf_dir, "lakespj_", "orders", "lakespj-v1", build)
    j = ft.storage_partitioned_join(
        spark,
        os.path.join(root, "orders_b"),
        os.path.join(root, "cust_b"),
        on=("o_custkey", "c_custkey"),
    )
    return (
        j.groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            money_sum("o_totalprice").alias("total_price"),
        )
        .orderBy("c_mktsegment")
    )


LAKE_SPJ_ORACLE = """
SELECT c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
           AS total_price
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY 1
ORDER BY c_mktsegment
"""


# ---------------------------------------------------------------------------
# lake_changelog_dv — manifest-delta CDF over a deletion-vector history
# ---------------------------------------------------------------------------

#: the two overlapping deleted date bands, as fractions of the span —
#: overlap exercises vector MERGING (band 2 re-deletes part of band 1's
#: files; the second commit must supersede, not duplicate)
_CDV_B1 = (0.05, 0.10)
_CDV_B2 = (0.08, 0.14)


def lake_changelog_dv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly CDF totals for a DELETION-VECTOR history, served through
    the DV-extended manifest delta (r12): vectors keep visibility
    file-local, so the changelog between the create and the head reads
    ONLY the files whose vector changed — the ~80% of the date-clustered
    table outside the two deleted bands cancels without being opened
    (plan-pinned at build: mode 'delta-dv' and vector-unchanged shared
    files absent from both read sets). The build commits two OVERLAPPING
    date-band deletes via ``delete_positions_dv`` — the overlap forces
    the second commit to MERGE into the first commit's vectors — and the
    changelog's delete rows must equal the bands' union exactly once
    (the oracle), which a double-counted or unmerged vector breaks.

    Scale: CDF cost is O(vector-changed files), never O(table) — the
    property that lets a CDC consumer follow a GDPR-delete stream on a
    100 TB table without rescans."""
    def build(staging: str) -> None:
        ft.create_table(
            read_fixture(spark, sf_dir, "orders").select(
                "o_orderkey",
                "o_orderstatus",
                F.to_date("o_orderdate").alias("order_dt"),
                "o_totalprice",
            ),
            staging,
            stats_cols=["order_dt"],
            cluster_by="order_dt",
            n_files=24,
        )
        lo, hi = _date_bounds(staging, "order_dt")
        span = (hi - lo).days
        for frac_lo, frac_hi in (_CDV_B1, _CDV_B2):
            b_lo = lo + _dt.timedelta(days=int(span * frac_lo))
            b_hi = lo + _dt.timedelta(days=int(span * frac_hi))
            ft.delete_positions_dv(
                spark,
                staging,
                (F.col("order_dt") >= F.lit(b_lo)) & (F.col("order_dt") <= F.lit(b_hi)),
            )
        plan = ft.plan_changelog(staging, 1, ft.current_manifest_version(staging))
        if plan["mode"] != "delta-dv":
            raise ValueError(f"expected the DV manifest delta, got {plan['mode']!r}")
        if not plan["files_shared"]:
            raise ValueError(
                "the bands span the whole table — nothing cancels; the plan "
                "pin is vacuous"
            )

    table_dir = _served_table(sf_dir, "lakecdv_", "orders", "lakecdv-v1", build)
    head = ft.current_manifest_version(table_dir)
    return (
        ft.changelog_table(spark, table_dir, 1, head)
        .groupBy(
            F.col("_change_type"),
            F.date_format("order_dt", "yyyy-MM").alias("order_month"),
        )
        .agg(
            F.count("*").alias("n_rows"),
            money_sum("o_totalprice").alias("total_price"),
        )
        .orderBy("_change_type", "order_month")
    )


LAKE_CHANGELOG_DV_ORACLE = f"""
WITH span AS (
    SELECT MIN(CAST(o_orderdate AS DATE)) AS lo,
           MAX(CAST(o_orderdate AS DATE)) AS hi
    FROM orders
), bands AS (
    SELECT lo + CAST(FLOOR((hi - lo) * {_CDV_B1[0]}) AS INTEGER) AS b1_lo,
           lo + CAST(FLOOR((hi - lo) * {_CDV_B1[1]}) AS INTEGER) AS b1_hi,
           lo + CAST(FLOOR((hi - lo) * {_CDV_B2[0]}) AS INTEGER) AS b2_lo,
           lo + CAST(FLOOR((hi - lo) * {_CDV_B2[1]}) AS INTEGER) AS b2_hi
    FROM span
)
SELECT 'delete' AS _change_type,
       strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS order_month,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
           AS total_price
FROM orders, bands
WHERE CAST(o_orderdate AS DATE) BETWEEN b1_lo AND b1_hi
   OR CAST(o_orderdate AS DATE) BETWEEN b2_lo AND b2_hi
GROUP BY 2
ORDER BY _change_type, order_month
"""


# ---------------------------------------------------------------------------
# lake_spj_factfact_join — the SPJ valve on a fact⋈fact input (r13)
# ---------------------------------------------------------------------------


def lake_spj_factfact_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-orderstatus revenue from a FACT⋈FACT storage-partitioned join
    (VERDICT r12 item 1 — the broadcast valve, exercised): lineitem
    bucketed by l_orderkey joins orders bucketed by o_orderkey — the
    data shape the reference's SHARED ``bucket(16, match_id)`` layout
    exists for (README.md:18; job1:224,239,248), where BOTH sides grow
    with the table and a per-bucket broadcast would push ~the smaller
    TABLE's bytes through the driver. ``broadcast_max_bytes=0`` forces
    the valve deterministically at every scale factor: each bucket
    joins with a bucket-scoped SORT-MERGE join — no BroadcastExchange
    anywhere in the plan (test-pinned), per-task memory a spillable
    sort buffer, and the exchange moves only bucket-local bytes (the
    shuffle-hash first cut died at 64× on unspillable concurrent hash
    builds — SCALE.md §Round-13). The oracle is the plain SQL
    join+aggregate.

    Scale: at 100 TB ⋈ 10 TB this plan's memory is flat in table size
    (the r12 broadcast fan-out was not); the residual bucket-scoped
    shuffle is the DataFrame-API floor that a DSv2 connector reporting
    KeyGroupedPartitioning removes."""
    def build(staging: str) -> None:
        ft.create_table(
            read_fixture(spark, sf_dir, "lineitem").select(
                "l_orderkey", "l_quantity", "l_extendedprice", "l_discount"
            ),
            os.path.join(staging, "li_b"),
            stats_cols=["l_orderkey"],
            bucket_by=("l_orderkey", 16),
        )
        ft.create_table(
            read_fixture(spark, sf_dir, "orders").select(
                "o_orderkey", "o_orderstatus"
            ),
            os.path.join(staging, "ord_b"),
            stats_cols=["o_orderkey"],
            bucket_by=("o_orderkey", 16),
        )

    root = _served_table(sf_dir, "lakespjff_", "lineitem", "lakespjff-v1", build)
    j = ft.storage_partitioned_join(
        spark,
        os.path.join(root, "li_b"),
        os.path.join(root, "ord_b"),
        on=("l_orderkey", "o_orderkey"),
        broadcast_max_bytes=0,  # the valve, deterministically engaged
    )
    return (
        j.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_items"),
            dec_sum(revenue_dec()).alias("revenue"),
        )
        .orderBy("o_orderstatus")
    )


LAKE_SPJ_FACTFACT_ORACLE = f"""
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(ROUND(SUM({SQL_REV}), 2) AS DOUBLE) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1
ORDER BY o_orderstatus
"""


# ---------------------------------------------------------------------------
# lake_spj_dv_join — SPJ composed with live deletion vectors (r13)
# ---------------------------------------------------------------------------


def lake_spj_dv_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment totals from a storage-partitioned join whose fact
    side carries LIVE deletion vectors (VERDICT r12 item 3): DVs are
    file-local, so each dv'd bucket file applies its own bitmap INSIDE
    the per-bucket scan — bucket alignment survives (no fact-side
    ``Exchange hashpartitioning``, test-pinned) and no fold is needed
    between a GDPR-delete stream and the bucketed join path. The build
    pins zero data-file rewrites and at most one vector per file; the
    oracle joins the complement of the deleted slice, so a single
    over- or under-applied vector row hash-mismatches.

    Scale: the DV probe is the same O(1)/row JVM bitmap probe as
    lake_dv_serve, under a one-row-per-dv'd-file broadcast — added to
    only the buckets that carry vectors."""
    def build(staging: str) -> None:
        ft.create_table(
            read_fixture(spark, sf_dir, "orders").select(
                "o_custkey", "o_orderkey", "o_totalprice"
            ),
            os.path.join(staging, "orders_b"),
            stats_cols=["o_orderkey"],
            bucket_by=("o_custkey", 16),
        )
        ft.create_table(
            read_fixture(spark, sf_dir, "customer").select(
                "c_custkey", "c_mktsegment"
            ),
            os.path.join(staging, "cust_b"),
            stats_cols=["c_custkey"],
            bucket_by=("c_custkey", 16),
        )
        od = os.path.join(staging, "orders_b")
        n_data = len(ft.read_manifest(od)["entries"])
        ft.delete_positions_dv(spark, od, F.col("o_orderkey") % 50 < 3)
        data, eqs, poss, dvs = ft._split_entries(ft.read_manifest(od))
        if eqs or poss or not dvs or len(data) != n_data:
            raise ValueError("DV build invariant broken (rewrites or wrong flavor)")

    root = _served_table(sf_dir, "lakespjdv_", "orders", "lakespjdv-v1", build)
    j = ft.storage_partitioned_join(
        spark,
        os.path.join(root, "orders_b"),
        os.path.join(root, "cust_b"),
        on=("o_custkey", "c_custkey"),
    )
    return (
        j.groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            money_sum("o_totalprice").alias("total_price"),
        )
        .orderBy("c_mktsegment")
    )


LAKE_SPJ_DV_ORACLE = """
SELECT c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
           AS total_price
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE o_orderkey % 50 >= 3
GROUP BY 1
ORDER BY c_mktsegment
"""


# ---------------------------------------------------------------------------
# lake_skipping_dv_scan — zone-map pruning composed with live DVs (r13)
# ---------------------------------------------------------------------------

_DVSCAN_MOD = 40  # ~2.5% of rows deleted, spread across every file


def lake_skipping_dv_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lake_skipping_scan band serve against a table carrying LIVE
    deletion vectors (r13): zone-map pruning and file-local bitmaps
    compose — the planner prunes DATA files exactly as before and the
    plan carries the surviving files' vectors, which the read applies
    with the same O(1)/row JVM probe as lake_dv_serve; clean surviving
    files stay a plain multi-path scan. No fold stands between a
    GDPR-delete stream and a pruned range scan (the r12 planners
    refused ANY live delete kind here). Both planning regimes return
    identical file+vector sets (test-pinned); the oracle is the band ∩
    delete-complement, so an over/under-applied vector or a wrongly
    pruned file hash-mismatches.

    Scale: pruning stays O(#files) metadata (or the manifest-table job
    past the threshold — dv entries ride back one narrow row per dv'd
    file); the probe adds zero Python and zero per-delete-commit cost."""
    def build(staging: str) -> None:
        ft.create_table(
            read_fixture(spark, sf_dir, "lineitem").select(
                "l_orderkey",
                F.to_date("l_shipdate").alias("ship_dt"),
                "l_quantity",
                "l_extendedprice",
                "l_discount",
            ),
            staging,
            stats_cols=["ship_dt"],
            cluster_by="ship_dt",
            n_files=48,
        )
        n_data = len(ft.read_manifest(staging)["entries"])
        ft.delete_positions_dv(spark, staging, F.col("l_orderkey") % _DVSCAN_MOD < 1)
        data, eqs, poss, dvs = ft._split_entries(ft.read_manifest(staging))
        if eqs or poss or not dvs or len(data) != n_data:
            raise ValueError("DV build invariant broken (rewrites or wrong flavor)")

    table_dir = _served_table(sf_dir, "lakedvscan_", "lineitem", "lakedvscan-v1", build)
    lo, hi = _date_bounds(table_dir, "ship_dt")
    span = (hi - lo).days
    b_lo = lo + _dt.timedelta(days=int(span * _BAND_LO_FRAC))
    b_hi = lo + _dt.timedelta(days=int(span * _BAND_HI_FRAC))
    return (
        ft.scan_range(spark, table_dir, "ship_dt", b_lo, b_hi)
        .groupBy(F.date_format("ship_dt", "yyyy-MM").alias("ship_month"))
        .agg(
            F.count("*").alias("n_items"),
            F.sum(money("l_quantity")).cast("double").alias("sum_qty"),
            dec_sum(revenue_dec()).alias("revenue"),
        )
        .orderBy("ship_month")
    )


LAKE_SKIPPING_DV_ORACLE = f"""
WITH span AS (
    SELECT MIN(CAST(l_shipdate AS DATE)) AS lo,
           MAX(CAST(l_shipdate AS DATE)) AS hi
    FROM lineitem
), band AS (
    SELECT lo + CAST(FLOOR((hi - lo) * {_BAND_LO_FRAC}) AS INTEGER) AS b_lo,
           lo + CAST(FLOOR((hi - lo) * {_BAND_HI_FRAC}) AS INTEGER) AS b_hi
    FROM span
)
SELECT strftime(CAST(l_shipdate AS DATE), '%Y-%m') AS ship_month,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(ROUND(SUM({SQL_REV}), 2) AS DOUBLE) AS revenue
FROM lineitem, band
WHERE CAST(l_shipdate AS DATE) BETWEEN b_lo AND b_hi
  AND l_orderkey % {_DVSCAN_MOD} >= 1
GROUP BY 1
ORDER BY ship_month
"""


# ---------------------------------------------------------------------------
# lake_feed_visible_bootstrap — DV-aware incremental-feed bootstrap (r13)
# ---------------------------------------------------------------------------


def lake_feed_visible_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly totals assembled by an incremental CONSUMER whose
    bootstrap snapshot carries live deletion vectors (VERDICT r12 item
    6): expiry has removed the pre-delete history, so the oldest
    retained manifest IS the DV-carrying commit — the raw-paths feed
    correctly refuses it (ADVICE r11's guard, asserted in the build),
    and ``bootstrap="visible"`` is the constructive alternative: the
    bootstrap batch is the MOR-applied read at that version, the later
    append arrives as a normal raw-path delta, and the union must equal
    the complement-plus-appended-batch oracle exactly once — a consumer
    starts from a deleted-from snapshot without any fold.

    Scale: the bootstrap batch costs one DV serve (flat, file-local
    probes); each delta batch reads only its own files — the table is
    never rescanned however long the history."""
    def build(staging: str) -> None:
        ft.create_table(
            read_fixture(spark, sf_dir, "orders").select(
                "o_orderkey",
                F.to_date("o_orderdate").alias("order_dt"),
                "o_totalprice",
            ),
            staging,
            stats_cols=["order_dt"],
            cluster_by="order_dt",
            n_files=12,
        )
        ft.delete_positions_dv(spark, staging, F.col("o_orderkey") % 50 < 2)
        reinstated = read_fixture(spark, sf_dir, "orders").filter(
            F.col("o_orderkey") % 50 == 0
        ).select(
            "o_orderkey",
            F.to_date("o_orderdate").alias("order_dt"),
            (-F.col("o_totalprice")).alias("o_totalprice"),
        )
        ft.append_table(reinstated, staging, n_files=2)
        ft.expire_table(staging, keep_last=2)  # bootstrap = the DV commit
        try:
            ft.incremental_feed(staging)
        except ValueError:
            pass  # the raw-paths guard must fire on a DV bootstrap
        else:
            raise ValueError("files-mode feed accepted a DV-carrying bootstrap")
        kinds = [b["kind"] for b in ft.incremental_feed(staging, bootstrap="visible")]
        if kinds != ["bootstrap-visible", "delta"]:
            raise ValueError(f"unexpected feed shape: {kinds}")

    table_dir = _served_table(sf_dir, "lakefeedvis_", "orders", "lakefeedvis-v1", build)
    feed = ft.incremental_feed(table_dir, bootstrap="visible")
    out = None
    for b in feed:
        if b["kind"] == "bootstrap-visible":
            part = ft.read_table(spark, table_dir, version=b["read_version"])
        elif b["paths"]:
            part = spark.read.parquet(*b["paths"])
        else:
            continue
        out = part if out is None else out.unionByName(part)
    return (
        out.groupBy(F.date_format("order_dt", "yyyy-MM").alias("order_month"))
        .agg(
            F.count("*").alias("n_rows"),
            money_sum("o_totalprice").alias("total_price"),
        )
        .orderBy("order_month")
    )


LAKE_FEED_VISIBLE_ORACLE = """
WITH delivered AS (
    SELECT CAST(o_orderdate AS DATE) AS order_dt,
           CAST(o_totalprice AS DECIMAL(18,2)) AS price
    FROM orders WHERE o_orderkey % 50 >= 2
    UNION ALL
    SELECT CAST(o_orderdate AS DATE),
           -CAST(o_totalprice AS DECIMAL(18,2))
    FROM orders WHERE o_orderkey % 50 = 0
)
SELECT strftime(order_dt, '%Y-%m') AS order_month,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(ROUND(SUM(price), 2) AS DOUBLE) AS total_price
FROM delivered
GROUP BY 1
ORDER BY order_month
"""


# ---------------------------------------------------------------------------
# lake_rebucket_imported — add_files + the explicit re-bucket escape (r14)
# ---------------------------------------------------------------------------


def lake_rebucket_imported(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment totals from a storage-partitioned join whose fact
    side ingested a third of its rows by ``add_files`` and then ran
    ``rebucket_imported`` (ADVICE r13): an import carries no bucket ids,
    which wedges BOTH the SPJ and bucket-preserving compaction until the
    explicit re-bucket verb rewrites exactly the imported bytes into the
    layout (ids stamped and commit-time verified). The serve is the
    ordinary aligned per-bucket join — no fact-side shuffle — and the
    oracle recomputes from the FULL fixture, so hash equality holds only
    if every imported row re-bucketed into the hash layout correctly.

    Scale: the re-bucket is O(imported bytes) — one hash-partitioned
    rewrite of the legacy dump; the managed two-thirds is untouched
    metadata."""
    def build(staging: str) -> None:
        ob = os.path.join(staging, "orders_b")
        orders = read_fixture(spark, sf_dir, "orders").select(
            "o_custkey", "o_orderkey", "o_totalprice"
        )
        ft.create_table(
            orders.filter(F.col("o_orderkey") % 3 != 0),
            ob,
            stats_cols=["o_orderkey"],
            bucket_by=("o_custkey", 16),
        )
        legacy = os.path.join(ob, "data", "legacy_dump")
        orders.filter(F.col("o_orderkey") % 3 == 0).coalesce(2).write.parquet(legacy)
        ft.add_files(spark, ob, os.path.join("data", "legacy_dump"))
        s = ft.rebucket_imported(spark, ob)
        if s["files_rebucketed"] == 0 or s["files_out"] == 0:
            raise ValueError("rebucket build invariant broken (nothing rewritten)")
        ft.create_table(
            read_fixture(spark, sf_dir, "customer").select(
                "c_custkey", "c_mktsegment"
            ),
            os.path.join(staging, "cust_b"),
            stats_cols=["c_custkey"],
            bucket_by=("c_custkey", 16),
        )

    root = _served_table(sf_dir, "lakerebkt_", "orders", "lakerebkt-v1", build)
    j = ft.storage_partitioned_join(
        spark,
        os.path.join(root, "orders_b"),
        os.path.join(root, "cust_b"),
        on=("o_custkey", "c_custkey"),
    )
    return (
        j.groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            money_sum("o_totalprice").alias("total_price"),
        )
        .orderBy("c_mktsegment")
    )


LAKE_REBUCKET_ORACLE = """
SELECT c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
           AS total_price
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY 1
ORDER BY c_mktsegment
"""


# ---------------------------------------------------------------------------
# lake_spj_eqdelete_join — bucket-key equality deletes through the SPJ (r14)
# ---------------------------------------------------------------------------


def lake_spj_eqdelete_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment totals from a storage-partitioned join whose fact
    side carries a LIVE equality delete keyed on the BUCKET column
    (VERDICT r13 item 5): a deleted key's rows and its delete row hash
    to the same bucket (same murmur3 ⊕ pmod), so the seq-gated anti join
    applies inside each per-bucket scan — the common GDPR-key case
    composes with zero fact-side Exchange and NO fold. The build then
    APPENDS a resurrection slice at a higher sequence number for some of
    the deleted keys, so the oracle's union (complement ∪ revived rows)
    hash-verifies the Iceberg v2 seq rule end-to-end: an over-applied
    delete (revived rows missing) or an under-applied one (deleted rows
    served) both mismatch.

    Scale: the delete side rides the MOR_BROADCAST_MAX_ROWS broadcast
    rule — one shared keys frame across all buckets; the fact sides
    still never shuffle."""
    def build(staging: str) -> None:
        ob = os.path.join(staging, "orders_b")
        orders = read_fixture(spark, sf_dir, "orders").select(
            "o_custkey", "o_orderkey", "o_totalprice"
        )
        ft.create_table(
            orders, ob, stats_cols=["o_orderkey"], bucket_by=("o_custkey", 16)
        )
        keys = (
            orders.filter(F.col("o_custkey") % 37 == 0)
            .select("o_custkey")
            .distinct()
        )
        ft.delete_keys_mor(spark, ob, "o_custkey", keys)
        # resurrection at a HIGHER seq: re-append the deleted customers'
        # rows whose order key ends in 7 — the delete must not touch them
        ft.append_table(
            orders.filter(
                (F.col("o_custkey") % 37 == 0) & (F.col("o_orderkey") % 10 == 7)
            ),
            ob,
        )
        ft.create_table(
            read_fixture(spark, sf_dir, "customer").select(
                "c_custkey", "c_mktsegment"
            ),
            os.path.join(staging, "cust_b"),
            stats_cols=["c_custkey"],
            bucket_by=("c_custkey", 16),
        )

    root = _served_table(sf_dir, "lakespjeq_", "orders", "lakespjeq-v1", build)
    j = ft.storage_partitioned_join(
        spark,
        os.path.join(root, "orders_b"),
        os.path.join(root, "cust_b"),
        on=("o_custkey", "c_custkey"),
    )
    return (
        j.groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            money_sum("o_totalprice").alias("total_price"),
        )
        .orderBy("c_mktsegment")
    )


LAKE_SPJ_EQDELETE_ORACLE = """
WITH visible AS (
    SELECT o_custkey, o_totalprice FROM orders WHERE o_custkey % 37 <> 0
    UNION ALL
    SELECT o_custkey, o_totalprice FROM orders
    WHERE o_custkey % 37 = 0 AND o_orderkey % 10 = 7
)
SELECT c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
           AS total_price
FROM visible JOIN customer ON o_custkey = c_custkey
GROUP BY 1
ORDER BY c_mktsegment
"""


# ---------------------------------------------------------------------------
# lake_delta_manifest_verbs — the r14 O(delta) commit regime, end-to-end
# ---------------------------------------------------------------------------

#: delete the oldest ~20% of the date span; flag customers in the next
#: band (≤35%) — both cutoffs replayed arithmetically in the oracle
_DELTA_DEL_FRAC = 0.20
_DELTA_UPD_FRAC = 0.35


def lake_delta_manifest_verbs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly totals over a table whose ENTIRE mutation history ran in
    the r14 DELTA-MANIFEST regime (VERDICT r13 item 1): with the
    planning threshold forced to zero, the build's DELETE, UPDATE, MERGE
    and DV-delete each commit a manifest delta — header + (base,
    removed, added) — in O(delta) driver work; no commit composes the
    full entry list (the routing test monkeypatch-explodes composition
    to pin it). The serve resolves the delta chain through the parquet
    manifest table and the oracle replays all four verbs arithmetically,
    so one wrong removed/added id anywhere in the chain hash-mismatches.

    Scale: this is the commit path a million-file table gets by
    default — every verb O(touched), one amortized O(#files) STREAM per
    MANIFEST_DELTA_MAX_CHAIN commits (the Iceberg manifest-list
    compaction analog)."""
    def build(staging: str) -> None:
        orders = read_fixture(spark, sf_dir, "orders").select(
            "o_orderkey",
            "o_custkey",
            F.to_date("o_orderdate").alias("order_dt"),
            "o_totalprice",
        )
        ft.create_table(
            orders, staging, stats_cols=["order_dt"], cluster_by="order_dt",
            n_files=16,
        )
        lo, hi = _date_bounds(staging, "order_dt")
        span = (hi - lo).days
        c1 = lo + _dt.timedelta(days=int(span * _DELTA_DEL_FRAC))
        c2 = lo + _dt.timedelta(days=int(span * _DELTA_UPD_FRAC))
        old = ft.PLAN_SPARK_THRESHOLD
        ft.PLAN_SPARK_THRESHOLD = 0  # the delta regime, deterministically
        try:
            ft.delete_where(spark, staging, "order_dt", c1)
            ft.update_where(
                spark, staging, "order_dt", c2, {"o_custkey": F.lit(0)}
            )
            src = (
                read_fixture(spark, sf_dir, "orders")
                .filter(F.col("o_orderkey") % 97 == 0)
                .select(F.col("o_orderkey").alias("sk"))
            )
            ft.merge_into(
                spark, staging, src, on=("o_orderkey", "sk"),
                when_matched_update={"o_custkey": F.lit(-1)},
            )
            ft.delete_positions_dv(
                spark, staging, F.col("o_orderkey") % 89 == 0
            )
        finally:
            ft.PLAN_SPARK_THRESHOLD = old
        forms = [
            ft._manifest_form(staging, v)[0]
            for v in ft._manifest_versions(staging)
        ]
        if forms.count("delta") < 4:
            raise ValueError(f"delta-regime build invariant broken: {forms}")

    table_dir = _served_table(
        sf_dir, "lakedelta_", "orders", "lakedelta-v1", build
    )
    return (
        ft.read_table(spark, table_dir)
        .groupBy(F.date_format("order_dt", "yyyy-MM").alias("order_month"))
        .agg(
            F.count("*").alias("n_rows"),
            money_sum("o_totalprice").alias("total_price"),
            F.sum("o_custkey").cast("long").alias("cust_sum"),
        )
        .orderBy("order_month")
    )


LAKE_DELTA_VERBS_ORACLE = f"""
WITH b AS (
    SELECT MIN(CAST(o_orderdate AS DATE)) AS lo,
           MAX(CAST(o_orderdate AS DATE)) AS hi
    FROM orders
),
cut AS (
    SELECT lo + CAST(FLOOR({_DELTA_DEL_FRAC} * (hi - lo)) AS INT) AS c1,
           lo + CAST(FLOOR({_DELTA_UPD_FRAC} * (hi - lo)) AS INT) AS c2
    FROM b
),
visible AS (
    SELECT CAST(o_orderdate AS DATE) AS order_dt,
           CAST(o_totalprice AS DECIMAL(18,2)) AS price,
           CASE
               WHEN o_orderkey % 97 = 0 THEN -1
               WHEN CAST(o_orderdate AS DATE) <= (SELECT c2 FROM cut) THEN 0
               ELSE o_custkey
           END AS cust
    FROM orders
    WHERE CAST(o_orderdate AS DATE) > (SELECT c1 FROM cut)
      AND o_orderkey % 89 <> 0
)
SELECT strftime(order_dt, '%Y-%m') AS order_month,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(ROUND(SUM(price), 2) AS DOUBLE) AS total_price,
       CAST(SUM(cust) AS BIGINT) AS cust_sum
FROM visible
GROUP BY 1
ORDER BY order_month
"""


QUERIES: dict[str, QuerySpec] = {
    # headline: the tier's serve-path representative (manifest prune +
    # pruned parquet read); the other two verbs serve metadata-identical
    # post-commit tables
    "lake_skipping_scan": QuerySpec(lake_skipping_scan, LAKE_SKIPPING_ORACLE, headline=True),
    "lake_cow_delete": QuerySpec(lake_cow_delete, LAKE_COW_DELETE_ORACLE),
    "lake_merge_into": QuerySpec(lake_merge_into, LAKE_MERGE_ORACLE),
    "lake_stream_commits": QuerySpec(lake_stream_commits, LAKE_STREAM_ORACLE),
    "lake_compact_roundtrip": QuerySpec(lake_compact_roundtrip, LAKE_COMPACT_ORACLE),
    "lake_bloom_point_lookup": QuerySpec(lake_bloom_point_lookup, LAKE_BLOOM_ORACLE),
    "lake_mor_delete": QuerySpec(lake_mor_delete, _MOR_ORACLE),
    "lake_schema_evolution": QuerySpec(lake_schema_evolution, LAKE_SCHEMA_ORACLE),
    "lake_spec_evolution_scan": QuerySpec(lake_spec_evolution_scan, LAKE_SPEC_ORACLE),
    "lake_zorder_box_scan": QuerySpec(lake_zorder_box_scan, LAKE_ZORDER_ORACLE),
    "lake_pos_delete": QuerySpec(lake_pos_delete, LAKE_POS_DELETE_ORACLE),
    "lake_branch_wap": QuerySpec(lake_branch_wap, LAKE_BRANCH_WAP_ORACLE),
    # second headline (r11): the fold-gated MOR serve — the round's
    # scale story, benched so a regression in the valve is visible
    "lake_fold_gate_serve": QuerySpec(
        lake_fold_gate_serve, LAKE_FOLD_GATE_ORACLE, headline=True
    ),
    "lake_changelog_delta": QuerySpec(lake_changelog_delta, LAKE_CHANGELOG_ORACLE),
    "lake_maintenance_window": QuerySpec(lake_maintenance_window, LAKE_MAINT_WINDOW_ORACLE),
    "lake_update_where": QuerySpec(lake_update_where, LAKE_UPDATE_ORACLE),
    "lake_add_files_import": QuerySpec(lake_add_files_import, LAKE_ADD_FILES_ORACLE),
    # third headline (r12): the deletion-vector serve — flat with NO
    # fold, benched so a regression in the DV read path is visible
    "lake_dv_serve": QuerySpec(lake_dv_serve, LAKE_DV_SERVE_ORACLE, headline=True),
    # the MOR MERGE twin shares the CoW query's oracle verbatim — same
    # MERGE semantics, different physical plan (r12)
    "lake_merge_mor": QuerySpec(lake_merge_mor, LAKE_MERGE_ORACLE),
    "lake_gc_orphans": QuerySpec(lake_gc_orphans, LAKE_GC_ORACLE),
    "lake_spj_bucketed_join": QuerySpec(lake_spj_bucketed_join, LAKE_SPJ_ORACLE),
    "lake_changelog_dv": QuerySpec(lake_changelog_dv, LAKE_CHANGELOG_DV_ORACLE),
    # fourth headline (r13): the fact⋈fact SPJ under the broadcast valve
    # — the round's scale story, benched so a valve regression is visible
    "lake_spj_factfact_join": QuerySpec(
        lake_spj_factfact_join, LAKE_SPJ_FACTFACT_ORACLE, headline=True
    ),
    "lake_spj_dv_join": QuerySpec(lake_spj_dv_join, LAKE_SPJ_DV_ORACLE),
    "lake_skipping_dv_scan": QuerySpec(lake_skipping_dv_scan, LAKE_SKIPPING_DV_ORACLE),
    "lake_feed_visible_bootstrap": QuerySpec(
        lake_feed_visible_bootstrap, LAKE_FEED_VISIBLE_ORACLE
    ),
    # r14: the ADVICE r13 re-bucket escape and the bucket-key equality
    # delete both serve through the aligned SPJ
    "lake_rebucket_imported": QuerySpec(lake_rebucket_imported, LAKE_REBUCKET_ORACLE),
    "lake_spj_eqdelete_join": QuerySpec(
        lake_spj_eqdelete_join, LAKE_SPJ_EQDELETE_ORACLE
    ),
    # fifth headline (r14): the O(delta) commit regime end-to-end — the
    # round's scale story, benched so a chain-resolution regression in
    # the manifest format is visible
    "lake_delta_manifest_verbs": QuerySpec(
        lake_delta_manifest_verbs, LAKE_DELTA_VERBS_ORACLE, headline=True
    ),
}
