"""File-grain manifest table layer (sources/filetable.py): executed
zone-map skipping, metadata-delete vs copy-on-write DELETE, file-scoped
MERGE INTO, metadata tables, and expiry — each verb pinned on the FILE
accounting (which files were read/rewritten/dropped), not just the row
results, because the file accounting IS the capability claim."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from spark_iceberg_jobs_spark.sources import filetable as ft


@pytest.fixture()
def li_table(spark, sf_dir, tmp_path):
    """A 12-file lineitem table range-clustered on l_shipdate."""
    td = str(tmp_path / "li")
    df = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .withColumn("ship_dt", F.to_date("l_shipdate"))
        .select("l_orderkey", "ship_dt", "l_quantity", "l_extendedprice")
    )
    ft.create_table(df, td, stats_cols=["ship_dt"], cluster_by="ship_dt", n_files=12)
    return td, df


def test_create_collects_per_file_bounds(spark, li_table):
    td, df = li_table
    man = ft.read_manifest(td)
    assert man["operation"] == "create"
    assert man["stats_types"] == {"ship_dt": "date"}
    assert 1 <= len(man["entries"]) <= 12
    assert sum(e["rows"] for e in man["entries"]) == df.count()
    # range clustering → file bound intervals overlap at most at the
    # boundary day (repartitionByRange splits a single day's ties)
    spans = sorted(
        (e["stats"]["ship_dt"][0], e["stats"]["ship_dt"][1]) for e in man["entries"]
    )
    for (_, hi), (lo2, _) in zip(spans, spans[1:]):
        assert lo2 >= hi, "range-clustered files must not interleave"


def _span(td):
    import datetime as dt

    man = ft.read_manifest(td)
    los = [dt.date.fromisoformat(e["stats"]["ship_dt"][0]) for e in man["entries"]]
    his = [dt.date.fromisoformat(e["stats"]["ship_dt"][1]) for e in man["entries"]]
    return min(los), max(his)


def _mid(td, frac):
    import datetime as dt

    lo, hi = _span(td)
    return lo + dt.timedelta(days=int((hi - lo).days * frac))


def test_zone_map_skipping_prunes_and_matches_full_scan(spark, li_table):
    td, df = li_table
    # data-derived half-year-ish band (the driver corpus dates are
    # synthetic, not TPC-H calendar — never hardcode)
    lo, hi = _mid(td, 0.2), _mid(td, 0.35)
    plan = ft.plan_scan(td, "ship_dt", lo, hi)
    assert plan["files_total"] == len(ft.read_manifest(td)["entries"])
    assert plan["files_skipped"] > 0, "a half-year range must skip files"
    assert plan["files_read"] + plan["files_skipped"] == plan["files_total"]
    pruned = ft.scan_range(spark, td, "ship_dt", lo, hi)
    full = df.filter((F.col("ship_dt") >= F.lit(lo)) & (F.col("ship_dt") <= F.lit(hi)))
    assert pruned.count() == full.count()
    got = pruned.agg(F.sum("l_quantity").alias("q")).collect()[0]["q"]
    want = full.agg(F.sum("l_quantity").alias("q")).collect()[0]["q"]
    assert got == want


def test_delete_where_classifies_and_rewrites_exactly(spark, li_table):
    import datetime as dt

    td, df = li_table
    before = ft.read_manifest(td)
    # cutoff mid-corpus, guaranteed strictly inside some file's bounds
    cutoff = _mid(td, 0.4)
    dropped_pred = [
        e for e in before["entries"]
        if dt.date.fromisoformat(e["stats"]["ship_dt"][1]) <= cutoff
    ]
    straddle_pred = [
        e for e in before["entries"]
        if dt.date.fromisoformat(e["stats"]["ship_dt"][0]) <= cutoff
        < dt.date.fromisoformat(e["stats"]["ship_dt"][1])
    ]
    assert dropped_pred and straddle_pred, "cutoff must exercise both paths"

    summary = ft.delete_where(spark, td, "ship_dt", cutoff)
    # executed accounting equals the bounds-predicted classification
    assert summary["files_dropped_metadata"] == len(dropped_pred)
    assert summary["files_rewritten"] == len(straddle_pred)
    assert summary["files_untouched"] == (
        len(before["entries"]) - len(dropped_pred) - len(straddle_pred)
    )
    # row-exact: deleted + surviving == original
    n_before = df.count()
    n_after = ft.read_table(spark, td).count()
    assert n_after == n_before - summary["rows_deleted"]
    assert ft.read_table(spark, td).filter(F.col("ship_dt") <= F.lit(cutoff)).count() == 0
    # metadata drop means the dropped files' BYTES still exist on disk
    # (reclaimed only by expire_table) but are no longer referenced
    after = ft.read_manifest(td)
    live = {e["path"] for e in after["entries"]}
    for e in dropped_pred:
        assert e["path"] not in live
        assert os.path.exists(os.path.join(td, e["path"]))
    # untouched files keep their exact pre-delete entries (never rewritten)
    for e in before["entries"]:
        if dt.date.fromisoformat(e["stats"]["ship_dt"][0]) > cutoff:
            assert e["path"] in live


def test_delete_matches_sql_semantics(spark, li_table):
    import datetime as dt

    td, df = li_table
    cutoff = _mid(td, 0.4)
    ft.delete_where(spark, td, "ship_dt", cutoff)
    got = (
        ft.read_table(spark, td)
        .agg(F.count("*").alias("n"), F.sum("l_quantity").alias("q"))
        .collect()[0]
    )
    want = (
        df.filter(F.col("ship_dt") > F.lit(cutoff))
        .agg(F.count("*").alias("n"), F.sum("l_quantity").alias("q"))
        .collect()[0]
    )
    assert (got["n"], got["q"]) == (want["n"], want["q"])


@pytest.fixture()
def cust_table(spark, sf_dir, tmp_path):
    td = str(tmp_path / "cust")
    df = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_mktsegment", F.col("c_acctbal").cast("double").alias("c_acctbal")
    )
    ft.create_table(df, td, stats_cols=["c_custkey"], cluster_by="c_custkey", n_files=8)
    return td, df


def test_merge_into_full_clause_set(spark, cust_table):
    td, df = cust_table
    keys = [r["c_custkey"] for r in df.select("c_custkey").orderBy("c_custkey").collect()]
    lo_key, hi_key = keys[0], keys[len(keys) // 4]  # first quarter of keyspace
    max_key = keys[-1]
    src = (
        df.filter((F.col("c_custkey") >= lo_key) & (F.col("c_custkey") <= hi_key))
        .select(
            F.col("c_custkey").alias("k"),
            F.lit(100.0).alias("delta"),
            (F.col("c_custkey") % 3 == 0).alias("purge"),
        )
        # plus keys that exist in NO target file → pure inserts
        .unionByName(
            spark.range(3).select(
                (F.col("id") + max_key + 1000).alias("k"),
                F.lit(1.5).alias("delta"),
                F.lit(False).alias("purge"),
            )
        )
    )
    summary = ft.merge_into(
        spark,
        td,
        src,
        on=("c_custkey", "k"),
        when_matched_delete=F.col("s.purge"),
        when_matched_update={"c_acctbal": F.col("t.c_acctbal") + F.col("s.delta")},
        when_not_matched_insert={
            "c_custkey": F.col("s.k"),
            "c_mktsegment": F.lit("NEWACCT"),
            "c_acctbal": F.col("s.delta"),
        },
    )
    # file-scoping: the source only touches the low quarter of the key
    # range, so most files must survive untouched
    assert summary["files_rewritten"] >= 1
    assert summary["files_untouched"] >= 4
    assert summary["rows_inserted"] == 3
    purged = [k for k in keys if lo_key <= k <= hi_key and k % 3 == 0]
    assert summary["rows_deleted"] == len(purged)

    after = ft.read_table(spark, td)
    # reference semantics computed independently with DataFrame ops
    matched = {k for k in keys if lo_key <= k <= hi_key}
    rows = {r["c_custkey"]: r for r in after.collect()}
    base = {r["c_custkey"]: r for r in df.collect()}
    for k in keys:
        if k in matched and k % 3 == 0:
            assert k not in rows, "purged key must be gone"
        elif k in matched:
            assert rows[k]["c_acctbal"] == pytest.approx(base[k]["c_acctbal"] + 100.0)
        else:
            assert rows[k]["c_acctbal"] == base[k]["c_acctbal"]
    for i in range(3):
        r = rows[max_key + 1000 + i]
        assert r["c_mktsegment"] == "NEWACCT" and r["c_acctbal"] == 1.5


def test_merge_untouched_files_survive_by_metadata(spark, cust_table):
    td, df = cust_table
    before = {e["path"] for e in ft.read_manifest(td)["entries"]}
    keys = [r["c_custkey"] for r in df.select("c_custkey").orderBy("c_custkey").limit(5).collect()]
    src = spark.createDataFrame([(k, 1.0) for k in keys], "k long, delta double")
    summary = ft.merge_into(
        spark,
        td,
        src,
        on=("c_custkey", "k"),
        when_matched_update={"c_acctbal": F.col("t.c_acctbal") + F.col("s.delta")},
    )
    after = {e["path"] for e in ft.read_manifest(td)["entries"]}
    # untouched entries carry over with identical paths — zero copying
    assert len(before & after) == summary["files_untouched"]
    assert summary["rows_inserted"] == 0 and summary["rows_deleted"] == 0


def test_merge_duplicate_source_keys_raise(spark, cust_table):
    td, _df = cust_table
    src = spark.createDataFrame([(1, 1.0), (1, 2.0)], "k long, delta double")
    with pytest.raises(ValueError, match="duplicate join keys"):
        ft.merge_into(
            spark, td, src, on=("c_custkey", "k"),
            when_matched_update={"c_acctbal": F.col("s.delta")},
        )


def test_append_shares_prior_files_and_snapshots_table(spark, cust_table):
    td, df = cust_table
    v1_entries = {e["path"] for e in ft.read_manifest(td)["entries"]}
    extra = df.limit(10).withColumn("c_custkey", F.col("c_custkey") + 1_000_000)
    ft.append_table(extra, td, n_files=1)
    man = ft.read_manifest(td)
    assert v1_entries < {e["path"] for e in man["entries"]}, "append must share v1 files"
    snaps = ft.snapshots_table(spark, td).orderBy("version").collect()
    assert [s["operation"] for s in snaps] == ["create", "append"]
    assert snaps[-1]["is_current"] and not snaps[0]["is_current"]
    assert snaps[-1]["n_rows"] == snaps[0]["n_rows"] + 10
    files = ft.files_table(spark, td)
    assert files.count() == len(man["entries"])


def test_expire_reclaims_unreferenced_data_files(spark, li_table):
    import datetime as dt

    td, _df = li_table
    before = ft.read_manifest(td)
    ft.delete_where(spark, td, "ship_dt", _mid(td, 0.4))
    live = {e["path"] for e in ft.read_manifest(td)["entries"]}
    dead = [e["path"] for e in before["entries"] if e["path"] not in live]
    assert dead and all(os.path.exists(os.path.join(td, p)) for p in dead)
    out = ft.expire_table(td, keep_last=1)
    assert out["manifests_removed"] == [1]
    assert out["data_files_removed"] == len(dead)
    assert all(not os.path.exists(os.path.join(td, p)) for p in dead)
    # the current snapshot still reads fine after expiry
    assert ft.read_table(spark, td).count() > 0


def test_compact_table_executes_planned_bins_rows_invariant(spark, li_table):
    td, df = li_table
    man = ft.read_manifest(td)
    total = sum(e["bytes"] for e in man["entries"])
    target = total // 4 + 1
    plan = ft.plan_compaction(td, target_bytes=target)
    multi = [b for b in plan if len(b) > 1]
    assert len(multi) >= 2, "target must force real rewrite groups"
    before = df.agg(F.count("*").alias("n"), F.sum("l_quantity").alias("q")).collect()[0]

    summary = ft.compact_table(spark, td, target_bytes=target)
    # executed accounting equals the greedy plan
    assert summary["bins"] == len(plan)
    assert summary["files_rewritten"] == sum(len(b) for b in multi)
    assert summary["files_out"] == len(multi), "each multi-file bin -> ONE file"
    assert summary["files_untouched"] == sum(1 for b in plan if len(b) == 1)
    # row content invariant
    after = (
        ft.read_table(spark, td)
        .agg(F.count("*").alias("n"), F.sum("l_quantity").alias("q"))
        .collect()[0]
    )
    assert (after["n"], after["q"]) == (before["n"], before["q"])
    # compaction preserves the non-interleaving clustered layout
    spans = sorted(
        (e["stats"]["ship_dt"][0], e["stats"]["ship_dt"][1])
        for e in ft.read_manifest(td)["entries"]
    )
    for (_, hi), (lo2, _) in zip(spans, spans[1:]):
        assert lo2 >= hi


def test_compaction_commit_delta_is_the_rewrite_set(spark, li_table):
    """The streaming no-double-count caveat: a compaction commit's delta
    contains the rewritten files even though it added NO rows — an
    incremental consumer must skip replace-commits (the rule
    maintenance_incremental_scan's rewrites_in_range leg reports)."""
    td, _df = li_table
    man = ft.read_manifest(td)
    total = sum(e["bytes"] for e in man["entries"])
    summary = ft.compact_table(spark, td, target_bytes=total // 3 + 1)
    v = ft.current_manifest_version(td)
    delta = ft.commit_delta_paths(td, v)
    assert len(delta) == summary["files_out"] and delta, (
        "replace-commit delta = the new rewrite files"
    )


def test_time_travel_read_by_manifest_version(spark, li_table):
    td, df = li_table
    n_v1 = ft.read_table(spark, td).count()
    ft.delete_where(spark, td, "ship_dt", _mid(td, 0.4))
    # current reads the post-delete snapshot; version=1 time-travels back
    assert ft.read_table(spark, td).count() < n_v1
    assert ft.read_table(spark, td, version=1).count() == n_v1
    ft.expire_table(td, keep_last=1)
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        ft.read_table(spark, td, version=1)


def test_mor_equality_delete_read_and_resurrect(spark, cust_table):
    """Iceberg v2 MOR at file grain: a delete at seq S hides matching keys
    in data files with seq < S only — an append AFTER the delete
    resurrects the key (operators/mor.py's 3-part rule, generalized to
    the manifest)."""
    td, df = cust_table
    keys = [r["c_custkey"] for r in df.select("c_custkey").orderBy("c_custkey").limit(40).collect()]
    dead = keys[:20]
    s = ft.delete_keys_mor(
        spark, td, "c_custkey",
        spark.createDataFrame([(k,) for k in dead], "c_custkey long"),
    )
    assert s == {"delete_files": 1, "delete_keys": 20}
    served = ft.read_table(spark, td)
    assert served.filter(F.col("c_custkey").isin(dead)).count() == 0
    assert served.count() == df.count() - 20
    # no data file was touched by the delete commit
    man = ft.read_manifest(td)
    assert man["operation"] == "delete-mor"
    data_paths = {e["path"] for e in man["entries"] if e.get("kind", "data") == "data"}
    assert data_paths == {e["path"] for e in ft.read_manifest(td, 1)["entries"]}
    # resurrect: append 5 of the deleted keys at a HIGHER seq
    ft.append_table(
        df.filter(F.col("c_custkey").isin(dead[:5])), td, n_files=1
    )
    back = ft.read_table(spark, td)
    assert back.filter(F.col("c_custkey").isin(dead[:5])).count() == 5
    assert back.filter(F.col("c_custkey").isin(dead[5:])).count() == 0


def test_fold_deletes_restores_pure_data_reads(spark, cust_table):
    td, df = cust_table
    keys = [r["c_custkey"] for r in df.select("c_custkey").orderBy("c_custkey").limit(30).collect()]
    ft.delete_keys_mor(
        spark, td, "c_custkey",
        spark.createDataFrame([(k,) for k in keys], "c_custkey long"),
    )
    ft.append_table(df.filter(F.col("c_custkey").isin(keys[:3])), td, n_files=1)
    before = sorted(r["c_custkey"] for r in ft.read_table(spark, td).collect())
    s = ft.fold_deletes(spark, td)
    assert s["delete_files_folded"] == 1
    assert s["files_rewritten"] >= 1 and s["rows_deleted"] == 30
    man = ft.read_manifest(td)
    assert man["operation"] == "fold-deletes"
    assert not [e for e in man["entries"] if e.get("kind") == "eqdelete"]
    # the folded read (pure data scan, no anti join) equals the MOR read
    after = sorted(r["c_custkey"] for r in ft.read_table(spark, td).collect())
    assert after == before
    # the post-delete append survived the fold untouched (seq > delete)
    assert len([k for k in after if k in keys[:3]]) == 3


def test_mor_time_travel_spans_delete_commits(spark, cust_table):
    td, df = cust_table
    n0 = df.count()
    ft.delete_keys_mor(
        spark, td, "c_custkey",
        df.select("c_custkey").orderBy("c_custkey").limit(10),
    )
    ft.fold_deletes(spark, td)
    assert ft.read_table(spark, td).count() == n0 - 10
    assert ft.read_table(spark, td, version=1).count() == n0  # pre-delete
    assert ft.read_table(spark, td, version=2).count() == n0 - 10  # MOR applied


def test_schema_evolution_add_rename_drop(spark, cust_table):
    """Field-id evolution: rename resolves old files under their written
    names, added columns backfill typed NULLs in pre-evolution files,
    drops project away — all metadata-only commits (zero files touched),
    the Iceberg rule."""
    td, df = cust_table
    files_before = {e["path"] for e in ft.read_manifest(td)["entries"]}
    ft.rename_column(td, "c_acctbal", "balance")
    ft.add_column(td, "tier", "string")
    # append NEW rows under the evolved schema
    extra = (
        df.limit(7)
        .select(
            (F.col("c_custkey") + 1_000_000).alias("c_custkey"),
            "c_mktsegment",
            F.col("c_acctbal").alias("balance"),
            F.lit("GOLD").alias("tier"),
        )
    )
    ft.append_table(extra, td, n_files=1)
    served = ft.read_table(spark, td)
    assert set(served.columns) == {"c_custkey", "c_mktsegment", "balance", "tier"}
    # old rows: balance resolves the written c_acctbal, tier backfills NULL
    old = served.filter(F.col("c_custkey") < 1_000_000)
    assert old.filter(F.col("tier").isNull()).count() == df.count()
    got = old.agg(F.sum("balance").alias("s")).collect()[0]["s"]
    want = df.agg(F.sum("c_acctbal").alias("s")).collect()[0]["s"]
    assert got == pytest.approx(want)  # double sum order differs per plan
    assert served.filter(F.col("tier") == "GOLD").count() == 7
    # evolution commits touched no files
    assert files_before < {e["path"] for e in ft.read_manifest(td)["entries"]}
    # drop: the column vanishes from reads; file bytes unchanged
    ft.drop_column(td, "tier")
    assert set(ft.read_table(spark, td).columns) == {
        "c_custkey", "c_mktsegment", "balance"
    }


def test_schema_evolution_guards(spark, cust_table):
    import pytest as _pytest

    td, df = cust_table
    with _pytest.raises(ValueError, match="already exists"):
        ft.add_column(td, "c_mktsegment", "string")
    with _pytest.raises(ValueError, match="stats"):
        ft.drop_column(td, "c_custkey")
    # appending the OLD schema after a rename is refused loudly
    ft.rename_column(td, "c_acctbal", "balance")
    with _pytest.raises(ValueError, match="current schema"):
        ft.append_table(df.limit(1), td, n_files=1)
    # renaming a live MOR delete key is refused until folded
    ft.delete_keys_mor(spark, td, "c_custkey", df.select("c_custkey").limit(3))
    with _pytest.raises(ValueError, match="fold_deletes"):
        ft.rename_column(td, "c_custkey", "ck")
    ft.fold_deletes(spark, td)
    ft.rename_column(td, "c_custkey", "ck")
    assert "ck" in ft.read_table(spark, td).columns


def test_schema_evolution_rewrite_is_lazy_migration(spark, cust_table):
    """A CoW rewrite (here: fold_deletes) writes survivors under the
    CURRENT names — old files migrate lazily through rewrites, exactly
    Iceberg's story."""
    td, df = cust_table
    ft.rename_column(td, "c_acctbal", "balance")
    ft.delete_keys_mor(spark, td, "c_custkey", df.select("c_custkey").limit(5))
    ft.fold_deletes(spark, td)
    man = ft.read_manifest(td)
    # rewritten entries carry the CURRENT seq and resolve identity
    rewritten = [e for e in man["entries"] if e["seq"] == man["version"] - 0]
    served = ft.read_table(spark, td)
    assert "balance" in served.columns and "c_acctbal" not in served.columns
    assert served.count() == df.count() - 5


def test_evolve_stats_spec_old_generation_scans_conservatively(spark, cust_table):
    """Spec evolution: files written before the new spec have no bounds
    for the new column → a scan on it keeps them (sound), while
    new-generation files prune tightly — Iceberg's cross-spec serve."""
    td, df = cust_table
    ft.evolve_stats_spec(td, ["c_acctbal", "c_custkey"])
    man = ft.read_manifest(td)
    assert man["operation"] == "evolve-spec"
    assert list(man["stats_types"]) == ["c_acctbal", "c_custkey"]
    gen1 = {e["path"] for e in man["entries"]}
    # appends now cluster by c_acctbal and carry its bounds
    extra = df.limit(500).select(
        (F.col("c_custkey") + 1_000_000).alias("c_custkey"),
        "c_mktsegment",
        "c_acctbal",
    )
    ft.append_table(extra, td, n_files=5)
    man2 = ft.read_manifest(td)
    gen2 = [e for e in man2["entries"] if e["path"] not in gen1]
    assert all(e["stats"].get("c_acctbal") for e in gen2)
    assert all(e["stats"].get("c_acctbal") is None for e in man["entries"])
    lo, hi = 0.0, 500.0
    plan = ft.plan_scan(td, "c_acctbal", lo, hi)
    # ALL gen1 files read (no bounds — conservative), gen2 pruned
    assert plan["files_read"] >= len(gen1)
    assert plan["files_skipped"] >= 1, plan
    # soundness: pruned scan equals full filter
    got = ft.scan_range(spark, td, "c_acctbal", lo, hi).count()
    want = ft.read_table(spark, td).filter(
        (F.col("c_acctbal") >= lo) & (F.col("c_acctbal") <= hi)
    ).count()
    assert got == want


def test_delete_everything_serves_empty_with_schema(spark, tmp_path):
    td = str(tmp_path / "empty")
    df = spark.createDataFrame([(1, 10), (2, 20)], "k long, d long")
    ft.create_table(df, td, stats_cols=["d"], cluster_by="d", n_files=2)
    s = ft.delete_where(spark, td, "d", 99)
    assert s["files_dropped_metadata"] + s["files_rewritten"] >= 1
    served = ft.read_table(spark, td)
    assert served.count() == 0
    assert set(served.columns) == {"k", "d"}


def test_tagged_snapshot_survives_expiry(spark, li_table):
    import pytest as _pytest

    td, df = li_table
    n_v1 = df.count()
    ft.tag_snapshot(td, "audit-2024")  # tags current (v1)
    with _pytest.raises(ValueError, match="immutable"):
        ft.tag_snapshot(td, "audit-2024")
    ft.delete_where(spark, td, "ship_dt", _mid(td, 0.4))
    out = ft.expire_table(td, keep_last=1)
    # the tagged v1 must survive (per-ref retention), fully readable
    assert 1 not in out["manifests_removed"]
    assert ft.read_table(spark, td, version=1).count() == n_v1
    # drop the tag -> the next expiry reclaims it
    ft.drop_tag(td, "audit-2024")
    out2 = ft.expire_table(td, keep_last=1)
    assert 1 in out2["manifests_removed"]
    with _pytest.raises(FileNotFoundError):
        ft.read_table(spark, td, version=1)


def test_partitions_table_inventories_live_files(spark, li_table):
    td, _df = li_table
    man = ft.read_manifest(td)
    pt = ft.partitions_table(spark, td)
    rows = pt.collect()
    assert len(rows) == len(man["entries"])
    assert all(r["lower_bound"] <= r["upper_bound"] for r in rows)
    assert sum(r["record_count"] for r in rows) == sum(
        e["rows"] for e in man["entries"]
    )


def test_fold_deletes_covering_every_row_yields_entryless_commit(spark, tmp_path):
    td = str(tmp_path / "all-del")
    df = spark.createDataFrame([(k, k * 10) for k in range(6)], "k long, d long")
    ft.create_table(df, td, stats_cols=["d"], cluster_by="d", n_files=2)
    ft.delete_keys_mor(
        spark, td, "k", spark.createDataFrame([(k,) for k in range(6)], "k long")
    )
    s = ft.fold_deletes(spark, td)
    assert s["rows_deleted"] == 6 and s["files_rewritten"] == 2
    served = ft.read_table(spark, td)
    assert served.count() == 0 and set(served.columns) == {"k", "d"}


def test_concurrent_appends_rebase_not_lost(spark, tmp_path):
    """Optimistic concurrency: two appenders planning from the same
    parent both succeed — the loser REBASES its (disjoint) new entries
    onto the winner's manifest under the commit lock, so neither commit
    is lost (the Iceberg append retry)."""
    import threading

    td = str(tmp_path / "cc")
    base = spark.createDataFrame([(k, k) for k in range(10)], "k long, d long")
    ft.create_table(base, td, stats_cols=["d"], cluster_by="d", n_files=2)

    barrier = threading.Barrier(2)
    errors = []

    def appender(offset):
        try:
            df = spark.createDataFrame(
                [(k + offset, k + offset) for k in range(5)], "k long, d long"
            )
            barrier.wait()
            ft.append_table(df, td, n_files=1)
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    ts = [threading.Thread(target=appender, args=(o,)) for o in (100, 200)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errors, errors
    got = sorted(r["k"] for r in ft.read_table(spark, td).collect())
    assert got == sorted(list(range(10)) + [100 + i for i in range(5)] + [200 + i for i in range(5)])
    assert ft.current_manifest_version(td) == 3, "two distinct commits landed"


def test_rewrite_verb_conflict_raises(spark, tmp_path):
    """A rewrite-class verb planned from a stale parent must refuse to
    commit (CommitConflictError) rather than silently drop the
    interleaved commit's files."""
    import pytest as _pytest

    td = str(tmp_path / "cf")
    df = spark.createDataFrame([(k, k) for k in range(10)], "k long, d long")
    ft.create_table(df, td, stats_cols=["d"], cluster_by="d", n_files=2)
    # simulate: compaction planned, then a concurrent append lands first
    man = ft.read_manifest(td)
    ft.append_table(
        spark.createDataFrame([(99, 99)], "k long, d long"), td, n_files=1
    )
    bins = [[e for e in man["entries"]]]
    with _pytest.raises(ft.CommitConflictError, match="re-plan"):
        ft._commit_manifest(
            td,
            {
                "operation": "compact",
                "stats_types": man["stats_types"],
                "summary": {},
                "entries": man["entries"],
            },
            base_version=man["version"],
        )
    # after re-planning from current, the same verb commits cleanly
    assert ft.compact_table(spark, td, target_bytes=1 << 20)["bins"] >= 1


def test_position_delete_targets_rows_not_keys(spark, tmp_path):
    """Position deletes pin (file, ordinal) — they delete SPECIFIC rows,
    so duplicate keys survive where equality deletes could not target
    them, and no data file is rewritten."""
    td = str(tmp_path / "pos")
    # duplicate keys on purpose: k=1 appears 3 times with different v
    rows = [(1, 10), (1, 11), (1, 12), (2, 20), (3, 30), (4, 40)]
    df = spark.createDataFrame(rows, "k long, v long")
    ft.create_table(df, td, stats_cols=["v"], cluster_by="v", n_files=2)
    files_before = {e["path"] for e in ft.read_manifest(td)["entries"]}
    s = ft.delete_positions_mor(spark, td, (F.col("k") == 1) & (F.col("v") < 12))
    assert s["rows_pos_deleted"] == 2
    man = ft.read_manifest(td)
    assert man["operation"] == "delete-pos"
    data_paths = {e["path"] for e in man["entries"] if e.get("kind", "data") == "data"}
    assert data_paths == files_before, "no data file rewritten"
    got = sorted((r["k"], r["v"]) for r in ft.read_table(spark, td).collect())
    assert got == [(1, 12), (2, 20), (3, 30), (4, 40)]
    # idempotent re-delete: positions already gone never re-enter
    s2 = ft.delete_positions_mor(spark, td, F.col("k") == 1)
    assert s2["rows_pos_deleted"] == 1  # only (1,12) was still visible
    assert ft.read_table(spark, td).count() == 3


def test_fold_mixed_eq_and_pos_deletes(spark, tmp_path):
    td = str(tmp_path / "mix")
    rows = [(k, k * 10) for k in range(12)]
    df = spark.createDataFrame(rows, "k long, v long")
    ft.create_table(df, td, stats_cols=["v"], cluster_by="v", n_files=3)
    ft.delete_keys_mor(
        spark, td, "k", spark.createDataFrame([(0,), (1,)], "k long")
    )
    ft.delete_positions_mor(spark, td, F.col("k").isin(5, 11))
    before = sorted(r["k"] for r in ft.read_table(spark, td).collect())
    assert before == [2, 3, 4, 6, 7, 8, 9, 10]
    s = ft.fold_deletes(spark, td)
    assert s["delete_files_folded"] == 2 and s["rows_deleted"] == 4
    man = ft.read_manifest(td)
    assert not [e for e in man["entries"] if e.get("kind", "data") != "data"]
    after = sorted(r["k"] for r in ft.read_table(spark, td).collect())
    assert after == before
    # CoW verbs work again post-fold
    assert ft.compact_table(spark, td, target_bytes=1 << 20)["bins"] >= 1


def test_branch_wap_flow_append_audit_fast_forward(spark, tmp_path):
    """Branch-scoped WAP at the manifest layer: audited appends land on
    a branch (main readers see nothing), fast_forward publishes, and a
    failing audit discards its staged files entirely."""
    import pytest as _pytest

    td = str(tmp_path / "br")
    df = spark.createDataFrame([(k, k) for k in range(10)], "k long, d long")
    ft.create_table(df, td, stats_cols=["d"], cluster_by="d", n_files=2)
    ft.create_branch(td, "audit")
    extra = spark.createDataFrame([(100, 100), (101, 101)], "k long, d long")
    v = ft.append_table(
        extra, td, n_files=1, branch="audit",
        audits=[lambda staged: staged.count() == 2],
    )
    # main unchanged; branch sees the append
    assert ft.read_table(spark, td).count() == 10
    assert ft.read_table(spark, td, branch="audit").count() == 12
    assert ft.current_manifest_version(td) == 1
    # publish
    assert ft.fast_forward_table(td, "audit") == v
    assert ft.read_table(spark, td).count() == 12
    # failing audits: nothing staged survives, branch head unmoved
    import numpy as np

    head = ft.branch_head(td, "audit")
    commit_dirs = set(os.listdir(os.path.join(td, "data")))
    one = spark.createDataFrame([(1, 1)], "k long, d long")
    for audits, msg in (
        ([lambda staged: False], "audit #0 failed"),
        # truth-tested, not `is False`: numpy.bool_(False) is not the
        # False singleton and must fail the commit too
        ([lambda staged: None, lambda staged: np.bool_(staged.isEmpty())],
         "audit #1 failed"),
        # an audit that cannot run fails loudly instead of passing
        ([lambda staged: staged.select("nope").count()], "audit #0 errored"),
    ):
        with _pytest.raises(ValueError, match=msg):
            ft.append_table(one, td, n_files=1, branch="audit", audits=audits)
        assert ft.branch_head(td, "audit") == head
        assert set(os.listdir(os.path.join(td, "data"))) == commit_dirs
    assert ft.read_table(spark, td, branch="audit").count() == 12
    # an assert-style audit returning None passes
    head = ft.append_table(
        one, td, n_files=1, branch="audit", audits=[lambda staged: None]
    )
    assert ft.branch_head(td, "audit") == head
    assert ft.read_table(spark, td, branch="audit").count() == 13
    # expire keeps the branch head even with keep_last=1
    ft.append_table(spark.createDataFrame([(7, 7)], "k long, d long"), td, n_files=1)
    out = ft.expire_table(td, keep_last=1)
    assert head not in out["manifests_removed"]


def test_fold_pressure_policy(spark, tmp_path):
    td = str(tmp_path / "fp")
    df = spark.createDataFrame([(k, k) for k in range(100)], "k long, d long")
    ft.create_table(df, td, stats_cols=["d"], cluster_by="d", n_files=2)
    assert ft.fold_pressure(td) == {
        "data_rows": 100, "delete_rows": 0, "delete_files": 0,
        "ratio": 0.0, "should_fold": False,
    }
    ft.delete_keys_mor(
        spark, td, "k", spark.createDataFrame([(k,) for k in range(2)], "k long")
    )
    assert not ft.fold_pressure(td)["should_fold"]  # 2% < 5%
    ft.delete_positions_mor(spark, td, F.col("k") >= 90)
    p = ft.fold_pressure(td)
    assert p["delete_rows"] == 12 and p["should_fold"]  # 12% > 5%
    ft.fold_deletes(spark, td)
    assert ft.fold_pressure(td)["should_fold"] is False


# ---------------------------------------------------------------------------
# planted adversarial tests (r9 program style): each kills ONE specific
# plausible-but-wrong rule in a lakehouse kernel
# ---------------------------------------------------------------------------


def _plant_manifest(tmp_path, entries, stats_types):
    """Handcraft a table whose manifest is exactly `entries` — metadata-
    only planted inputs for planner-boundary tests (no data files
    needed; the kernels under test read only bounds/bytes). The commit
    goes through the real writer, so the version carries the header and
    entry log every committed version has."""
    td = str(tmp_path / "planted")
    man = {
        "operation": "create",
        "stats_types": stats_types,
        "summary": {},
        "entries": entries,
    }
    assert ft._commit_manifest(td, man) == 1
    return td


def test_planted_zone_map_boundary_is_closed(tmp_path):
    """Kills the open-interval wrong rule: a file whose MAX equals the
    band's LO (or MIN equals HI) holds matching rows and must be READ —
    pruning drops a file only on strict disjointness."""
    entries = [
        {"path": "data/c000001/a.parquet", "rows": 1, "bytes": 10, "seq": 1,
         "stats": {"k": [0, 10]}},   # max == lo -> read
        {"path": "data/c000001/b.parquet", "rows": 1, "bytes": 10, "seq": 1,
         "stats": {"k": [20, 30]}},  # min == hi -> read
        {"path": "data/c000001/c.parquet", "rows": 1, "bytes": 10, "seq": 1,
         "stats": {"k": [31, 40]}},  # strictly above -> skip
        {"path": "data/c000001/d.parquet", "rows": 1, "bytes": 10, "seq": 1,
         "stats": {"k": [-5, 9]}},   # strictly below -> skip
    ]
    td = _plant_manifest(tmp_path, entries, {"k": "long"})
    plan = ft.plan_scan(td, "k", 10, 20)
    read = {p.rsplit("/", 1)[-1] for p in plan["paths"]}
    assert read == {"a.parquet", "b.parquet"}
    assert plan["files_skipped"] == 2


def test_planted_delete_cutoff_is_inclusive_on_max(tmp_path):
    """Kills the strict-< wrong rule: DELETE WHERE k <= cutoff must
    classify a file with max == cutoff as a pure METADATA drop (every
    row matches), not as a copy-on-write straddler."""
    entries = [
        {"path": "data/c000001/full.parquet", "rows": 5, "bytes": 50, "seq": 1,
         "stats": {"k": [0, 10]}},    # max == cutoff -> metadata drop
        {"path": "data/c000001/strad.parquet", "rows": 5, "bytes": 50, "seq": 1,
         "stats": {"k": [5, 11]}},    # straddles -> rewrite
        {"path": "data/c000001/keep.parquet", "rows": 5, "bytes": 50, "seq": 1,
         "stats": {"k": [11, 20]}},   # min > cutoff -> untouched
    ]
    td = _plant_manifest(tmp_path, entries, {"k": "long"})
    man = ft.read_manifest(td)
    bounds = ft._decode_bounds(man, "k")
    cutoff = 10
    cls = []
    for e in man["entries"]:
        b = bounds(e)
        cls.append(
            "drop" if b[1] <= cutoff else ("keep" if b[0] > cutoff else "rewrite")
        )
    assert cls == ["drop", "rewrite", "keep"]


def test_planted_binpack_running_sum_boundary(tmp_path):
    """Kills the cum-INCLUSIVE wrong rule: a file joins bin
    (cum_bytes_BEFORE // target) — three exactly-target files are three
    bins; with target = 1.5x, the classic overflow-by-one shape."""
    entries = [
        {"path": f"data/c000001/{n}.parquet", "rows": 1, "bytes": 10, "seq": 1,
         "stats": {"k": [i * 10, i * 10 + 9]}}
        for i, n in enumerate(["a", "b", "c"])
    ]
    td = _plant_manifest(tmp_path, entries, {"k": "long"})
    bins10 = ft.plan_compaction(td, target_bytes=10)
    assert [len(b) for b in bins10] == [1, 1, 1], "cum_before//10 = 0,1,2"
    bins15 = ft.plan_compaction(td, target_bytes=15)
    assert [len(b) for b in bins15] == [2, 1], "cum_before//15 = 0,0,1 (overflow by one)"


def test_planted_eq_delete_null_key_uses_null_safe_equality(spark, tmp_path):
    """Kills the plain-equality wrong rule: an equality delete whose key
    is NULL must delete NULL-keyed rows (eqNullSafe) — `=` semantics
    would silently keep them forever."""
    td = str(tmp_path / "nullkey")
    df = spark.createDataFrame([(None, 1), (7, 2), (None, 3)], "k long, d long")
    ft.create_table(df, td, stats_cols=["d"], cluster_by="d", n_files=1)
    ft.delete_keys_mor(
        spark, td, "k", spark.createDataFrame([(None,)], "k long")
    )
    got = sorted(r["d"] for r in ft.read_table(spark, td).collect())
    assert got == [2], "NULL-keyed rows must be deleted by a NULL delete key"


def test_planted_readded_column_name_is_a_new_field_id(spark, tmp_path):
    """Kills the by-NAME resolution wrong rule: dropping column v and
    adding a NEW column named v must NOT resurrect the old values — the
    re-added name is a fresh field id, so pre-drop rows read v as NULL
    (Iceberg's id-based evolution contract)."""
    td = str(tmp_path / "readd")
    df = spark.createDataFrame([(0, 100), (1, 101)], "d long, v long")
    ft.create_table(df, td, stats_cols=["d"], cluster_by="d", n_files=1)
    ft.drop_column(td, "v")
    ft.add_column(td, "v", "long")
    ft.append_table(
        spark.createDataFrame([(2, 999)], "d long, v long"), td, n_files=1
    )
    rows = {r["d"]: r["v"] for r in ft.read_table(spark, td).collect()}
    assert rows == {0: None, 1: None, 2: 999}, (
        "old rows must NOT leak the dropped field's values into the re-added name"
    )


def test_snapshot_isolation_reader_unaffected_by_concurrent_commit(spark, li_table):
    """Snapshot isolation: a reader that resolved its manifest BEFORE a
    concurrent DELETE commit serves the old snapshot's rows exactly —
    data files are immutable and survive until expire_table, so an
    in-flight plan can never observe a torn table."""
    td, df = li_table
    n_before = df.count()
    reader = ft.read_table(spark, td)  # plan resolved against v1
    ft.delete_where(spark, td, "ship_dt", _mid(td, 0.4))
    # the NEW read sees the delete; the OLD plan still serves v1 intact
    assert ft.read_table(spark, td).count() < n_before
    assert reader.count() == n_before


# ---------------------------------------------------------------------------
# round 11 — ADVICE r10 fixes: NULL delete semantics, decimal bounds,
# fast-forward ancestry, locked branch ops, bloom type whitelist
# ---------------------------------------------------------------------------


def test_delete_where_null_rows_survive_regardless_of_file_layout(spark, tmp_path):
    """ADVICE r10 #1: SQL DELETE keeps a row whose predicate column is
    NULL, whatever file it lives in. Four layouts, one cutoff (=10):
    a null-bearing file the bounds fully cover (the old metadata-drop
    hole), a null-bearing straddler (the old rewrite-filter hole), an
    all-NULL file, and a null-free fully-covered file (must STILL drop
    by pure metadata — the fix must not tax the common case)."""
    td = str(tmp_path / "nulls")
    mk = lambda rows: spark.createDataFrame(rows, "v long, tag string")  # noqa: E731
    ft.create_table(
        mk([(1, "cov"), (9, "cov"), (None, "cov")]), td, stats_cols=["v"], n_files=1
    )
    ft.append_table(mk([(5, "str"), (15, "str"), (None, "str")]), td, n_files=1)
    ft.append_table(mk([(None, "all"), (None, "all")]), td, n_files=1)
    ft.append_table(mk([(2, "drop"), (3, "drop")]), td, n_files=1)

    summary = ft.delete_where(spark, td, "v", 10)
    # only the provably null-free covered file drops by metadata
    assert summary["files_dropped_metadata"] == 1
    got = sorted(
        ((r["tag"], r["v"]) for r in ft.read_table(spark, td).collect()),
        key=lambda t: (t[0], t[1] is not None, t[1] or 0),
    )
    # survivors: v > 10 OR v IS NULL — NULL fate independent of layout
    assert got == [("all", None), ("all", None), ("cov", None), ("str", None), ("str", 15)]
    # the all-NULL file was never read or rewritten: untouched by metadata
    assert summary["files_untouched"] >= 1


def test_delete_where_pre_null_tracking_entries_rewrite_conservatively(spark, tmp_path):
    """Entries written before null tracking (no ``nulls`` key) must never
    metadata-drop — the bounds alone cannot prove the file is null-free."""
    td = str(tmp_path / "legacy")
    df = spark.createDataFrame([(1,), (9,)], "v long")
    ft.create_table(df, td, stats_cols=["v"], n_files=1)
    man = ft.read_manifest(td)
    for e in man["entries"]:
        e.pop("nulls", None)  # simulate a pre-r11 manifest
    import json as _json

    with open(ft._manifest_path(td, man["version"]), "w") as f:
        _json.dump(man, f)
    summary = ft.delete_where(spark, td, "v", 10)
    assert summary["files_dropped_metadata"] == 0
    assert summary["files_rewritten"] == 1
    assert ft.read_table(spark, td).count() == 0


def test_decimal_stats_bounds_widen_outward(spark, tmp_path):
    """ADVICE r10 #2: float(Decimal) rounds to nearest, so an encoded max
    could fall BELOW the true max and planning would skip a file holding
    the boundary row. Bounds must widen outward: a probe at the exact
    decimal boundary keeps the file, and delete_where never
    metadata-drops a file whose true max exceeds the cutoff."""
    from decimal import Decimal

    hi_d = Decimal("100.000000000000000001")  # float() rounds DOWN to 100.0
    lo_d = Decimal("-100.000000000000000001")  # float() rounds UP to -100.0
    td = str(tmp_path / "dec")
    df = spark.sql(
        f"SELECT CAST('{hi_d}' AS DECIMAL(38,18)) AS d, 1 AS k "
        f"UNION ALL SELECT CAST('{lo_d}' AS DECIMAL(38,18)), 2"
    )
    ft.create_table(df, td, stats_cols=["d"], n_files=1)
    e = ft.read_manifest(td)["entries"][0]
    enc_lo, enc_hi = e["stats"]["d"]
    assert Decimal(enc_hi) >= hi_d, "encoded max must not round below the true max"
    assert Decimal(enc_lo) <= lo_d, "encoded min must not round above the true min"
    # boundary probes keep the file in both directions
    assert ft.plan_scan(td, "d", lo=hi_d)["files_read"] == 1
    assert ft.plan_scan(td, "d", hi=lo_d)["files_read"] == 1
    # a cutoff just under the true max must NOT metadata-drop the file
    summary = ft.delete_where(spark, td, "d", Decimal("100"))
    assert summary["files_dropped_metadata"] == 0
    assert [r["k"] for r in ft.read_table(spark, td).collect()] == [1]


def test_fast_forward_refuses_diverged_main(spark, tmp_path):
    """ADVICE r10 #3: a commit that lands on MAIN after the branch
    diverged must make fast_forward raise instead of silently discarding
    it (lost update). Once the branch is recreated from current main,
    the publish goes through."""
    td = str(tmp_path / "ffwd")
    df = spark.createDataFrame([(1, 10)], "k long, v long")
    ft.create_table(df, td, stats_cols=["k"], n_files=1)
    ft.create_branch(td, "wap")
    ft.append_table(
        spark.createDataFrame([(2, 20)], "k long, v long"), td, n_files=1, branch="wap"
    )
    # a concurrent writer commits to MAIN
    ft.append_table(spark.createDataFrame([(3, 30)], "k long, v long"), td, n_files=1)
    with pytest.raises(ft.CommitConflictError, match="not an ancestor"):
        ft.fast_forward_table(td, "wap")
    # main's commit is still served — nothing was lost
    assert sorted(r["k"] for r in ft.read_table(spark, td).collect()) == [1, 3]
    # rebase: branch anew from current main, stage, publish
    ft.create_branch(td, "wap2")
    ft.append_table(
        spark.createDataFrame([(4, 40)], "k long, v long"), td, n_files=1, branch="wap2"
    )
    ft.fast_forward_table(td, "wap2")
    assert sorted(r["k"] for r in ft.read_table(spark, td).collect()) == [1, 3, 4]


def test_fast_forward_of_unmoved_branch_and_linear_history(spark, tmp_path):
    """The happy path stays: branch, stage commits, publish while main
    never moved — and every commit records its parent, giving the
    ancestry walk a real chain."""
    td = str(tmp_path / "ffok")
    df = spark.createDataFrame([(1, 10)], "k long, v long")
    ft.create_table(df, td, stats_cols=["k"], n_files=1)
    ft.create_branch(td, "stage")
    for k in (2, 3):
        ft.append_table(
            spark.createDataFrame([(k, k * 10)], "k long, v long"),
            td,
            n_files=1,
            branch="stage",
        )
    head = ft.fast_forward_table(td, "stage")
    assert ft.current_manifest_version(td) == head
    assert sorted(r["k"] for r in ft.read_table(spark, td).collect()) == [1, 2, 3]
    # parent chain: head -> ... -> v1
    chain = []
    v = head
    while v is not None:
        chain.append(v)
        v = ft.read_manifest(td, v).get("parent")
    assert chain[-1] == 1 and len(chain) == 3


def test_branch_ops_and_commits_serialize_under_one_lock(spark, tmp_path):
    """ADVICE r10 #4: create_branch racing a branch-head move must not
    overwrite the moved head with a stale dict. Two threads — one
    committing onto branch 'x', one creating new branches — finish with
    every branch present and x's head at its final commit."""
    import threading

    td = str(tmp_path / "race")
    df = spark.createDataFrame([(1, 10)], "k long, v long")
    ft.create_table(df, td, stats_cols=["k"], n_files=1)
    ft.create_branch(td, "x")
    errs: list[Exception] = []

    def committer():
        try:
            for k in range(2, 5):
                ft.append_table(
                    spark.createDataFrame([(k, k)], "k long, v long"),
                    td,
                    n_files=1,
                    branch="x",
                )
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    def brancher():
        try:
            for i in range(3):
                ft.create_branch(td, f"y{i}")
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    ts = [threading.Thread(target=committer), threading.Thread(target=brancher)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs
    branches = ft._read_branches(td)
    assert {"x", "y0", "y1", "y2"} <= set(branches)
    # x's three commits all survived: its head reads back all four rows
    got = sorted(
        r["k"] for r in ft.read_table(spark, td, branch="x").collect()
    )
    assert got == [1, 2, 3, 4]


def test_bloom_index_rejects_unportable_value_types(spark, tmp_path):
    """ADVICE r10 #5: double/decimal renderings diverge between Python
    str() and Spark CAST(... AS STRING), which would turn probes into
    false negatives (lost rows) — the build must refuse those columns."""
    td = str(tmp_path / "bloomtype")
    df = spark.createDataFrame([(1, 1.5), (2, 2.5)], "k long, x double")
    ft.create_table(df, td, stats_cols=["k"], n_files=1)
    with pytest.raises(ValueError, match="false-negative|renderings"):
        ft.build_bloom_index(spark, td, "x")
    with pytest.raises(ValueError, match="no column"):
        ft.build_bloom_index(spark, td, "nope")
    # integer columns still index fine
    ft.build_bloom_index(spark, td, "k", bits=1 << 10)
    assert ft.plan_bloom_lookup(td, "k", [1])["files_read"] == 1


# ---------------------------------------------------------------------------
# round 11 — manifest-delta CDF (changelog_table)
# ---------------------------------------------------------------------------


def _full_diff(spark, td, v_from, v_to):
    frm = ft.read_table(spark, td, version=v_from)
    to = ft.read_table(spark, td, version=v_to)
    ins = to.exceptAll(frm).withColumn("_change_type", F.lit("insert"))
    dels = frm.exceptAll(to).withColumn("_change_type", F.lit("delete"))
    return ins.unionByName(dels)


def test_changelog_delta_reads_only_changed_files(spark, li_table):
    """IO pin (VERDICT r10 item 5): an append-only range plans EXACTLY
    the appended files; a delete range plans straddlers + replacements +
    drops but never the untouched bulk — and the delta-routed changelog
    equals the two-full-scan diff row-for-row (multiset)."""
    td, df = li_table
    extra = df.limit(500).withColumn("l_quantity", F.col("l_quantity") + 1000)
    ft.append_table(extra, td, n_files=2)  # v2
    # append-only range: added == the v2 files, removed == none
    plan = ft.plan_changelog(td, 1, 2)
    assert plan["mode"] == "delta"
    assert not plan["removed"]
    v1_paths = {e["path"] for e in ft.read_manifest(td, 1)["entries"]}
    assert all(e["path"] not in v1_paths for e in plan["added"])
    assert 1 <= len(plan["added"]) <= 2
    got = sorted(
        (r["_change_type"], r["l_orderkey"], float(r["l_quantity"]))
        for r in ft.changelog_table(spark, td, 1, 2).collect()
    )
    assert len(got) == 500 and all(t == "insert" for t, _, _ in got)

    ft.delete_where(spark, td, "ship_dt", _mid(td, 0.4))  # v3
    plan13 = ft.plan_changelog(td, 1, 3)
    assert plan13["mode"] == "delta"
    assert plan13["files_shared"] > 0, "untouched files must cancel unread"
    assert len(plan13["added"]) + len(plan13["removed"]) < plan13["files_total"]
    delta = ft.changelog_table(spark, td, 1, 3)
    full = _full_diff(spark, td, 1, 3)
    assert delta.count() == full.count()
    assert delta.exceptAll(full).count() == 0
    assert full.exceptAll(delta).count() == 0


def test_changelog_falls_back_under_live_mor_deletes(spark, cust_table):
    """Live delete files make file-delta visibility unsound — the plan
    must switch to the full MOR diff, and the diff must reflect the
    equality delete's visibility (not the raw data files)."""
    td, df = cust_table
    some = df.select("c_custkey").orderBy("c_custkey").limit(10)
    ft.delete_keys_mor(spark, td, "c_custkey", some)  # v2, live eqdelete
    assert ft.plan_changelog(td, 1, 2)["mode"] == "full"
    ch = ft.changelog_table(spark, td, 1, 2)
    rows = ch.groupBy("_change_type").count().collect()
    got = {r["_change_type"]: r["count"] for r in rows}
    assert got == {"delete": 10}, "the eq-delete's 10 rows are the only change"


def test_changelog_across_schema_change_raises(spark, cust_table):
    td, _df = cust_table
    ft.add_column(td, "note", "string")  # v2: schema differs from v1
    with pytest.raises(ValueError, match="schema"):
        ft.plan_changelog(td, 1, 2)


# ---------------------------------------------------------------------------
# round 11 — two-level (distributed) manifest planning
# ---------------------------------------------------------------------------


def test_plan_scan_spark_equals_driver_planner(spark, li_table):
    """VERDICT r10 item 4 equivalence pin: the Spark-job planner over
    the parquet manifest table returns the IDENTICAL file set as the
    driver loop — closed intervals, unbounded sides, null-bounds
    conservatism and all — so the dispatch is invisible to callers."""
    td, _df = li_table
    probes = [
        (_mid(td, 0.2), _mid(td, 0.35)),
        (None, _mid(td, 0.5)),
        (_mid(td, 0.7), None),
        (None, None),
    ]
    for lo, hi in probes:
        drv = ft.plan_scan(td, "ship_dt", lo, hi)
        spk = ft.plan_scan_spark(spark, td, "ship_dt", lo, hi)
        assert sorted(drv["paths"]) == sorted(spk["paths"]), (lo, hi)
        assert (drv["files_read"], drv["files_skipped"], drv["files_total"]) == (
            spk["files_read"],
            spk["files_skipped"],
            spk["files_total"],
        )


def test_plan_scan_spark_synthetic_large_manifest(spark, tmp_path):
    """A 2,000-entry planted manifest (including null-bounds and
    boundary-touching entries) plans identically on both sides, and the
    parquet manifest table is written once and reused."""
    import random

    rng = random.Random(11)
    entries = []
    for i in range(2000):
        lo = rng.randrange(0, 10_000)
        stats = {"k": None if i % 97 == 0 else [lo, lo + rng.randrange(0, 50)]}
        entries.append(
            {
                "path": f"data/c000001/f{i:05d}.parquet",
                "rows": 10,
                "bytes": 100,
                "seq": 1,
                "stats": stats,
            }
        )
    td = _plant_manifest(tmp_path, entries, {"k": "long"})
    drv = ft.plan_scan(td, "k", 4000, 4500)
    spk = ft.plan_scan_spark(spark, td, "k", 4000, 4500)
    assert sorted(drv["paths"]) == sorted(spk["paths"])
    assert drv["files_skipped"] == spk["files_skipped"] > 0
    pdir = ft.manifest_parquet_dir(td, 1)
    assert os.path.exists(os.path.join(pdir, "_SUCCESS"))
    mtime = os.path.getmtime(os.path.join(pdir, "_SUCCESS"))
    ft.plan_scan_spark(spark, td, "k", 1, 2)
    assert os.path.getmtime(os.path.join(pdir, "_SUCCESS")) == mtime, (
        "manifest parquet is per-version immutable — written once, reused"
    )


def test_plan_scan_auto_dispatches_on_entry_count(spark, li_table):
    """Below the threshold the driver loop plans (no manifest parquet is
    materialized); above it the job path runs — same answer either way."""
    td, _df = li_table
    lo, hi = _mid(td, 0.2), _mid(td, 0.4)
    small = ft.plan_scan_auto(spark, td, "ship_dt", lo, hi)
    assert not os.path.exists(
        ft.manifest_parquet_dir(td, ft.current_manifest_version(td))
    ), "small manifests must not pay the job path"
    big = ft.plan_scan_auto(spark, td, "ship_dt", lo, hi, threshold=1)
    assert os.path.exists(
        ft.manifest_parquet_dir(td, ft.current_manifest_version(td))
    )
    assert sorted(small["paths"]) == sorted(big["paths"])


# ---------------------------------------------------------------------------
# round 11 — executed row-level UPDATE (copy-on-write)
# ---------------------------------------------------------------------------


def test_update_where_classifies_and_applies_exactly(spark, li_table):
    """UPDATE's classification is DELETE's minus the metadata shortcut:
    files above the cutoff survive by metadata, the rest rewrite with
    the SET expression applied ONLY to matching rows — totals match the
    SQL CASE WHEN replay exactly, and the summary's updated-row count
    is the predicate's."""
    import datetime as dt

    td, df = li_table
    before = ft.read_manifest(td)
    cutoff = _mid(td, 0.4)
    above = [
        e for e in before["entries"]
        if dt.date.fromisoformat(e["stats"]["ship_dt"][0]) > cutoff
    ]
    assert above and len(above) < len(before["entries"])

    summary = ft.update_where(
        spark, td, "ship_dt", cutoff, {"l_quantity": F.col("l_quantity") + 1000}
    )
    assert summary["files_untouched"] == len(above)
    assert summary["files_rewritten"] == len(before["entries"]) - len(above)
    want_updated = df.filter(F.col("ship_dt") <= F.lit(cutoff)).count()
    assert summary["rows_updated"] == want_updated

    got = (
        ft.read_table(spark, td)
        .agg(F.count("*").alias("n"), F.sum("l_quantity").alias("q"))
        .collect()[0]
    )
    want = (
        df.select(
            F.when(
                F.col("ship_dt") <= F.lit(cutoff), F.col("l_quantity") + 1000
            )
            .otherwise(F.col("l_quantity"))
            .alias("l_quantity")
        )
        .agg(F.count("*").alias("n"), F.sum("l_quantity").alias("q"))
        .collect()[0]
    )
    assert (got["n"], got["q"]) == (want["n"], want["q"])
    # untouched files keep their exact entries
    live = {e["path"] for e in ft.read_manifest(td)["entries"]}
    assert all(e["path"] in live for e in above)


def test_update_where_null_rows_never_match(spark, tmp_path):
    """SQL three-valued logic: a NULL predicate column never matches —
    an all-NULL file is untouched by metadata, and NULL rows in
    rewritten files carry verbatim."""
    td = str(tmp_path / "updnull")
    mk = lambda rows: spark.createDataFrame(rows, "v long, x long")  # noqa: E731
    ft.create_table(mk([(1, 10), (None, 20)]), td, stats_cols=["v"], n_files=1)
    ft.append_table(mk([(None, 30), (None, 40)]), td, n_files=1)
    summary = ft.update_where(spark, td, "v", 5, {"x": F.col("x") * 100})
    assert summary["files_untouched"] == 1, "the all-NULL file survives by metadata"
    assert summary["rows_updated"] == 1
    got = sorted(r["x"] for r in ft.read_table(spark, td).collect())
    assert got == [20, 30, 40, 1000], "only the v=1 row repriced"


def test_update_where_rejects_unknown_set_columns(spark, li_table):
    td, _df = li_table
    with pytest.raises(ValueError, match="SET columns"):
        ft.update_where(spark, td, "ship_dt", _mid(td, 0.4), {"nope": F.lit(1)})


def test_plan_scan_box_spark_equals_driver_planner(spark, tmp_path):
    """Box-probe equivalence on a 2-D planted manifest: the job planner
    and the driver loop agree file-for-file, including null-bounds
    conservatism on one dimension."""
    import random

    rng = random.Random(3)
    entries = []
    for i in range(400):
        a = rng.randrange(0, 1000)
        b = rng.randrange(0, 1000)
        entries.append(
            {
                "path": f"data/c000001/f{i:04d}.parquet",
                "rows": 10,
                "bytes": 100,
                "seq": 1,
                "stats": {
                    "a": [a, a + 40],
                    "b": None if i % 13 == 0 else [b, b + 40],
                },
            }
        )
    td = _plant_manifest(tmp_path, entries, {"a": "long", "b": "long"})
    box = {"a": (200, 400), "b": (500, None)}
    drv = ft.plan_scan_box(td, box)
    spk = ft.plan_scan_box_spark(spark, td, box)
    assert sorted(drv["paths"]) == sorted(spk["paths"])
    assert drv["files_skipped"] == spk["files_skipped"] > 0


# ---------------------------------------------------------------------------
# round 11 — checkpointed incremental resume + refs metadata table
# ---------------------------------------------------------------------------


def test_incremental_feed_checkpoint_resume_exactly_once(spark, tmp_path):
    """A consumer that persists its last-ingested version resumes with
    ONLY the commits after it — no bootstrap, no overlap: session-1 rows
    ⊎ session-2 rows == the final table, across an interleaved replace
    commit."""
    td = str(tmp_path / "ckpt")
    mk = lambda rows: spark.createDataFrame(rows, "k long, d long")  # noqa: E731
    ft.create_table(mk([(i, i) for i in range(10)]), td, stats_cols=["d"], n_files=2)
    ft.append_table(mk([(i, i) for i in range(10, 20)]), td, n_files=2)
    feed1 = ft.incremental_feed(td)
    checkpoint = feed1[-1]["version"]
    rows1 = [
        (r["k"], r["d"])
        for b in feed1
        if b["paths"]
        for r in spark.read.parquet(*b["paths"]).collect()
    ]
    # between sessions: a compaction (replace) and a fresh append land
    ft.compact_table(spark, td, target_bytes=1 << 20)
    ft.append_table(mk([(i, i) for i in range(20, 25)]), td, n_files=1)
    feed2 = ft.incremental_feed(td, since_version=checkpoint)
    assert [b["kind"] for b in feed2] == ["replace-skip", "delta"]
    assert all(b["kind"] != "bootstrap" for b in feed2), "resume must not re-bootstrap"
    rows2 = [
        (r["k"], r["d"])
        for b in feed2
        if b["paths"]
        for r in spark.read.parquet(*b["paths"]).collect()
    ]
    want = sorted((r["k"], r["d"]) for r in ft.read_table(spark, td).collect())
    assert sorted(rows1 + rows2) == want, "cross-session exactly-once"
    # resuming AT the head yields an empty feed
    head = ft.current_manifest_version(td)
    assert ft.incremental_feed(td, since_version=head) == []


def test_incremental_feed_expired_checkpoint_raises(spark, tmp_path):
    td = str(tmp_path / "ckptexp")
    mk = lambda rows: spark.createDataFrame(rows, "k long, d long")  # noqa: E731
    ft.create_table(mk([(1, 1)]), td, stats_cols=["d"], n_files=1)
    for i in range(2, 6):
        ft.append_table(mk([(i, i)]), td, n_files=1)
    ft.expire_table(td, keep_last=2)
    with pytest.raises(ValueError, match="re-bootstrap"):
        ft.incremental_feed(td, since_version=1)


def test_refs_table_inventories_main_tags_branches(spark, tmp_path):
    td = str(tmp_path / "refs")
    df = spark.createDataFrame([(1, 1)], "k long, d long")
    ft.create_table(df, td, stats_cols=["d"], n_files=1)
    ft.tag_snapshot(td, "v1.0")
    ft.create_branch(td, "dev")
    ft.append_table(
        spark.createDataFrame([(2, 2)], "k long, d long"), td, n_files=1, branch="dev"
    )
    rows = {r["name"]: r for r in ft.refs_table(spark, td).collect()}
    assert rows["main"]["type"] == "branch" and rows["main"]["version"] == 1
    assert rows["v1.0"]["type"] == "tag" and rows["v1.0"]["version"] == 1
    assert rows["dev"]["type"] == "branch"
    assert rows["dev"]["version"] == 2 and rows["dev"]["base_version"] == 1


def test_mor_broadcast_guard_switches_join_strategy(spark, tmp_path, monkeypatch):
    """The MOR anti join broadcast-hints only while the manifest says
    the delete set is small: with the threshold forced to 0 the plan
    must carry NO broadcast anti join (the planner shuffles instead)
    and the served rows are identical either way."""
    td = str(tmp_path / "morguard")
    df = spark.createDataFrame([(i, i % 7) for i in range(200)], "k long, d long")
    ft.create_table(df, td, stats_cols=["d"], cluster_by="d", n_files=2)
    ft.delete_keys_mor(
        spark, td, "k", spark.createDataFrame([(3,), (8,)], "k long")
    )
    want = sorted(r["k"] for r in ft.read_table(spark, td).collect())
    assert 3 not in want and 8 not in want

    monkeypatch.setattr(ft, "MOR_BROADCAST_MAX_ROWS", 0)
    served = ft.read_table(spark, td)
    plan = served._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin LeftAnti" not in plan, (
        "an over-threshold delete set must not be broadcast"
    )
    assert sorted(r["k"] for r in served.collect()) == want


def test_add_files_registers_in_place_without_rewrite(spark, tmp_path):
    """Iceberg's add_files: pre-existing parquet joins the table by
    metadata + one stats pass — the imported bytes are never rewritten
    (same file names on disk), reads see the union, zone maps prune
    with the imported files' own bounds, and the incremental feed
    treats the commit as a normal delta."""
    td = str(tmp_path / "addf")
    mk = lambda rows: spark.createDataFrame(rows, "k long, d long")  # noqa: E731
    ft.create_table(mk([(1, 10), (2, 20)]), td, stats_cols=["d"], n_files=1)
    # files arrive OUTSIDE the table protocol (a legacy dump)
    imported = os.path.join(td, "data", "imported")
    mk([(3, 30), (4, 40)]).coalesce(1).write.parquet(imported)
    names_before = set(os.listdir(imported))

    v = ft.add_files(spark, td, os.path.join("data", "imported"))
    assert ft.read_manifest(td, v)["operation"] == "add-files"
    assert set(os.listdir(imported)) >= names_before, "no rewrite of imported bytes"
    got = sorted(r["k"] for r in ft.read_table(spark, td).collect())
    assert got == [1, 2, 3, 4]
    # imported bounds prune: d in [30,40] lives only in the import
    plan = ft.plan_scan(td, "d", 25, 50)
    assert plan["files_read"] == 1 and plan["files_skipped"] >= 1
    feed = ft.incremental_feed(td)
    assert [b["kind"] for b in feed] == ["bootstrap", "delta"]
    assert len(feed[1]["paths"]) == 1

    # guards: schema mismatch, re-import, outside path
    bad = os.path.join(td, "data", "badschema")
    spark.createDataFrame([(9,)], "only long").coalesce(1).write.parquet(bad)
    with pytest.raises(ValueError, match="imported columns"):
        ft.add_files(spark, td, os.path.join("data", "badschema"))
    with pytest.raises(ValueError, match="already registered"):
        ft.add_files(spark, td, os.path.join("data", "imported"))
    with pytest.raises(ValueError, match="subdirectory OF the table"):
        ft.add_files(spark, td, "..")


def test_multi_column_equality_delete_and_fold(spark, tmp_path):
    """Iceberg v2 equality deletes may key on SEVERAL columns
    (composite equality_ids): a row dies only when ALL key columns
    match a delete row (null-safely); later appends still resurrect;
    fold compacts the composite delete away; renaming EITHER key column
    of a live delete is refused."""
    td = str(tmp_path / "mkey")
    mk = lambda rows: spark.createDataFrame(rows, "a long, b long, d long")  # noqa: E731
    ft.create_table(
        mk([(1, 1, 10), (1, 2, 20), (2, 1, 30), (None, 1, 40)]),
        td,
        stats_cols=["d"],
        n_files=1,
    )
    ft.delete_keys_mor(
        spark, td, ["a", "b"],
        spark.createDataFrame([(1, 1), (None, 1)], "a long, b long"),
    )
    got = sorted(r["d"] for r in ft.read_table(spark, td).collect())
    assert got == [20, 30], "only full composite matches die (null-safe)"
    with pytest.raises(ValueError, match="fold_deletes first"):
        ft.rename_column(td, "b", "b2")
    # resurrection: a later append re-adds the (1,1) key
    ft.append_table(mk([(1, 1, 50)]), td, n_files=1)
    got = sorted(r["d"] for r in ft.read_table(spark, td).collect())
    assert got == [20, 30, 50]
    ft.fold_deletes(spark, td)
    assert not any(
        e.get("kind") == "eqdelete" for e in ft.read_manifest(td)["entries"]
    )
    got = sorted(r["d"] for r in ft.read_table(spark, td).collect())
    assert got == [20, 30, 50], "fold preserves composite-delete visibility"


def test_planted_changelog_added_only_rule_is_wrong(spark, li_table):
    """Kills the added-files-only wrong rule for CDF: a rewrite commit's
    output files carry SURVIVOR rows forward — emitting every row of
    every added file as an insert would report carried rows as changes.
    The multiset identity (added ∖ removed) must cancel them: after a
    pure-delete commit, the changelog contains NO inserts at all."""
    td, _df = li_table
    ft.delete_where(spark, td, "ship_dt", _mid(td, 0.4))  # v2: drops + rewrite
    added = ft.plan_changelog(td, 1, 2)["added"]
    assert added, "the rewrite did add files (the wrong rule has ammo)"
    n_added_rows = sum(e["rows"] for e in added)
    assert n_added_rows > 0, "carried survivors live in the added files"
    ch = ft.changelog_table(spark, td, 1, 2)
    kinds = {r["_change_type"] for r in ch.select("_change_type").distinct().collect()}
    assert kinds == {"delete"}, (
        "a DELETE-only commit must changelog zero inserts — carried rows cancel"
    )


def test_planted_update_cutoff_is_inclusive_on_min(tmp_path):
    """Kills the strict-> wrong rule for UPDATE classification: a file
    whose MIN equals the cutoff contains matching rows and must be
    REWRITTEN — only min strictly above the cutoff may survive by
    metadata."""
    entries = [
        {"path": "data/c000001/edge.parquet", "rows": 5, "bytes": 50, "seq": 1,
         "stats": {"k": [10, 20]}, "nulls": {"k": 0}},   # min == cutoff -> rewrite
        {"path": "data/c000001/above.parquet", "rows": 5, "bytes": 50, "seq": 1,
         "stats": {"k": [11, 30]}, "nulls": {"k": 0}},   # min > cutoff -> untouched
    ]
    td = _plant_manifest(tmp_path, entries, {"k": "long"})
    man = ft.read_manifest(td)
    bounds = ft._decode_bounds(man, "k")
    cutoff = 10
    cls = [
        "untouched" if bounds(e)[0] > cutoff else "rewrite" for e in man["entries"]
    ]
    assert cls == ["rewrite", "untouched"]


def test_planted_decimal_bound_directed_rounding_pure():
    """The encoder's directed rounding, pinned without Spark: for a
    Decimal that float() rounds DOWN, the max-encoder must step UP
    (and symmetrically for min) — equality at representable values
    stays exact (no gratuitous widening)."""
    from decimal import Decimal

    up = ft._enc_double(Decimal("100.000000000000000001"), True)
    down = ft._enc_double(Decimal("100.000000000000000001"), False)
    assert Decimal(up) >= Decimal("100.000000000000000001")
    assert Decimal(down) <= Decimal("100.000000000000000001")
    assert up > down, "the bound pair must bracket the true value"
    # representable values round-trip exactly in both directions
    assert ft._enc_double(Decimal("2.5"), True) == 2.5
    assert ft._enc_double(Decimal("2.5"), False) == 2.5
    assert ft._enc_double(3.25, True) == 3.25


def test_incremental_feed_bootstrap_with_live_deletes_raises(spark, tmp_path):
    """ADVICE r11 (medium): a bootstrap snapshot carrying live MOR
    deletes must RAISE, not feed raw data-file paths — the exact replay
    (create -> delete_keys_mor -> append -> expire keep_last=2) used to
    deliver 110 rows where only 90 are visible."""
    td = str(tmp_path / "bootdel")
    mk = lambda rows: spark.createDataFrame(rows, "k long, d long")  # noqa: E731
    ft.create_table(mk([(i, i) for i in range(100)]), td, stats_cols=["d"], n_files=2)
    ft.delete_keys_mor(
        spark, td, "k", spark.createDataFrame([(i,) for i in range(10)], "k long")
    )
    ft.append_table(mk([(i, i) for i in range(100, 120)]), td, n_files=1)
    ft.expire_table(td, keep_last=2)  # bootstrap is now the delete-mor commit
    assert ft.read_table(spark, td).count() == 110
    with pytest.raises(ValueError, match="live delete files"):
        ft.incremental_feed(td)
    # the resume base is guarded the same way: a checkpoint taken at a
    # snapshot with live deletes is not a sound ingestion record
    delete_v = ft.current_manifest_version(td) - 1
    with pytest.raises(ValueError, match="live delete"):
        ft.incremental_feed(td, since_version=delete_v)
    # folding drains the delete set; once the pre-fold history expires,
    # the feed bootstraps from the folded snapshot and delivers exactly
    # the visible rows
    ft.fold_deletes(spark, td)
    ft.expire_table(td, keep_last=1)
    feed = ft.incremental_feed(td)
    assert feed[0]["kind"] == "bootstrap"
    rows = [
        r["k"]
        for b in feed
        if b["paths"]
        for r in spark.read.parquet(*b["paths"]).collect()
    ]
    assert sorted(rows) == sorted(
        r["k"] for r in ft.read_table(spark, td).collect()
    )


def test_incremental_feed_skips_metadata_only_commits(spark, tmp_path):
    """ADVICE r11: schema/spec evolution commits remove no rows — the
    feed skips them (kind 'metadata-skip') instead of hard-failing
    every consumer whose table evolved mid-history."""
    td = str(tmp_path / "metaskip")
    mk = lambda rows, s="k long, d long": spark.createDataFrame(rows, s)  # noqa: E731
    ft.create_table(mk([(1, 1), (2, 2)]), td, stats_cols=["d"], n_files=1)
    ft.add_column(td, "note", "string")
    ft.append_table(
        mk([(3, 3, "x")], "k long, d long, note string"), td, n_files=1
    )
    ft.rename_column(td, "note", "comment")
    ft.evolve_stats_spec(td, ["d"])
    feed = ft.incremental_feed(td)
    assert [b["kind"] for b in feed] == [
        "bootstrap", "metadata-skip", "delta", "metadata-skip", "metadata-skip"
    ]
    assert all(b["paths"] == [] for b in feed if b["kind"] == "metadata-skip")
    # checkpointed resume across a metadata commit works too
    feed2 = ft.incremental_feed(td, since_version=feed[0]["version"])
    assert [b["kind"] for b in feed2] == [
        "metadata-skip", "delta", "metadata-skip", "metadata-skip"
    ]
    assert len(feed2[1]["paths"]) == 1


def test_add_files_type_mismatch_raises(spark, tmp_path):
    """ADVICE r11: add_files validates TYPES, not just names — a legacy
    dump whose columns decode in a different domain must be refused
    (its bounds would encode in one domain and decode in another)."""
    td = str(tmp_path / "addtypes")
    ft.create_table(
        spark.createDataFrame([(1, 10)], "k long, d long"),
        td, stats_cols=["d"], n_files=1,
    )
    bad = os.path.join(td, "data", "badtypes")
    spark.createDataFrame([(2.0, 20.0)], "k double, d double").coalesce(
        1
    ).write.parquet(bad)
    with pytest.raises(ValueError, match="types"):
        ft.add_files(spark, td, os.path.join("data", "badtypes"))
    # the table is unchanged — no partial registration
    assert ft.read_manifest(td)["operation"] == "create"


def test_add_files_concurrent_double_register_conflicts(spark, tmp_path):
    """ADVICE r11: two concurrent add_files of the SAME subdir both pass
    the pre-lock duplicate check; the rebase branch must re-check path
    uniqueness under the commit lock and refuse the second commit."""
    td = str(tmp_path / "addrace")
    mk = lambda rows: spark.createDataFrame(rows, "k long, d long")  # noqa: E731
    ft.create_table(mk([(1, 10)]), td, stats_cols=["d"], n_files=1)
    imported = os.path.join(td, "data", "race")
    mk([(2, 20)]).coalesce(1).write.parquet(imported)
    base = ft.read_manifest(td)  # both committers plan from here
    v = ft.add_files(spark, td, os.path.join("data", "race"))  # committer A wins
    new_entries = [
        e for e in ft.read_manifest(td, v)["entries"] if "race" in e["path"]
    ]
    assert new_entries
    # committer B replays add_files' commit from the stale plan: the
    # pre-lock dup check passed (base had no race/ files), so only the
    # in-lock rebase guard stands between it and double registration
    with pytest.raises(ft.CommitConflictError, match="added twice"):
        ft._commit_manifest(
            td,
            ft._inherit_schema(base, {
                "operation": "add-files",
                "stats_types": base["stats_types"],
                "summary": {},
                "entries": base["entries"] + new_entries,
            }, adds_files=True),
            base_version=base["version"],
            rebase_append=new_entries,
        )
    # exactly one registration survived
    paths = [e["path"] for e in ft.read_manifest(td)["entries"]]
    assert len(paths) == len(set(paths))
    assert ft.read_table(spark, td).count() == 2


def test_scan_range_routes_through_job_planner_over_threshold(spark, li_table, monkeypatch):
    """VERDICT r11 item 3: the two-level dispatch is the DEFAULT read
    path — past the threshold, the public ``scan_range`` plans via the
    Spark-job planner (the driver loop is provably not called) and the
    rows are identical, with schema resolution served by the O(schema)
    header sidecar instead of the O(#files) JSON manifest."""
    td, df = li_table
    lo, hi = _mid(td, 0.3), _mid(td, 0.5)
    want = sorted(
        (r["l_orderkey"], str(r["ship_dt"]))
        for r in df.filter(
            (F.col("ship_dt") >= F.lit(lo)) & (F.col("ship_dt") <= F.lit(hi))
        ).collect()
    )
    got_small = sorted(
        (r["l_orderkey"], str(r["ship_dt"]))
        for r in ft.scan_range(spark, td, "ship_dt", lo, hi).collect()
    )
    assert got_small == want

    monkeypatch.setattr(ft, "PLAN_SPARK_THRESHOLD", 0)

    def _no_driver_plan(*a, **k):
        raise AssertionError("driver planner must not run past the threshold")

    monkeypatch.setattr(ft, "plan_scan", _no_driver_plan)
    got_big = sorted(
        (r["l_orderkey"], str(r["ship_dt"]))
        for r in ft.scan_range(spark, td, "ship_dt", lo, hi).collect()
    )
    assert got_big == want
    v = ft.current_manifest_version(td)
    assert os.path.exists(ft._header_path(td, v)), "header sidecar written"
    assert os.path.exists(
        os.path.join(ft.manifest_parquet_dir(td, v), "_SUCCESS")
    ), "parquet manifest table written"


def test_scan_box_routes_through_job_planner_over_threshold(spark, tmp_path, monkeypatch):
    """Box-scan twin of the routing pin, across a SCHEMA EVOLUTION so the
    job path's header-sidecar projection is exercised: pre-evolution
    files backfill the added column as NULL, renamed columns resolve by
    field id — identical on both planners."""
    td = str(tmp_path / "boxauto")
    mk = lambda rows, s: spark.createDataFrame(rows, s)  # noqa: E731
    ft.create_table(
        mk([(i, i % 10, i % 7) for i in range(100)], "k long, x long, y long"),
        td, stats_cols=["x", "y"], cluster_by="x", n_files=4,
    )
    ft.add_column(td, "tag", "string")
    ft.append_table(
        mk([(i, i % 10, i % 7, f"t{i}") for i in range(100, 140)],
           "k long, x long, y long, tag string"),
        td, n_files=2,
    )
    ft.rename_column(td, "x", "xx")
    preds = {"xx": (2, 5), "y": (1, 4)}
    want = sorted(
        (r["k"], r["xx"], r["y"], r["tag"])
        for r in ft.scan_box(spark, td, preds).collect()
    )
    assert want, "probe must hit rows"
    assert any(t is None for _k, _x, _y, t in want), "pre-evolution NULL backfill"
    assert any(t is not None for _k, _x, _y, t in want)

    monkeypatch.setattr(ft, "PLAN_SPARK_THRESHOLD", 0)
    monkeypatch.setattr(
        ft, "plan_scan_box",
        lambda *a, **k: (_ for _ in ()).throw(AssertionError("driver planner ran")),
    )
    got = sorted(
        (r["k"], r["xx"], r["y"], r["tag"])
        for r in ft.scan_box(spark, td, preds).collect()
    )
    assert got == want


def test_point_lookup_job_path_and_bloom_plans_without_manifest(spark, tmp_path, monkeypatch):
    """plan_bloom_lookup plans off the version-checked sidecar alone;
    past the threshold point_lookup resolves its kept files through the
    parquet manifest table — same rows either way."""
    td = str(tmp_path / "bloomauto")
    df = spark.createDataFrame(
        [(i, (i * 7919) % 1000) for i in range(500)], "d long, k long"
    )
    ft.create_table(df, td, stats_cols=["d"], cluster_by="d", n_files=5)
    ft.build_bloom_index(spark, td, "k")
    values = [7919 % 1000, (2 * 7919) % 1000]
    want = sorted(r["d"] for r in ft.point_lookup(spark, td, "k", values).collect())
    assert want == [1, 2]
    monkeypatch.setattr(ft, "PLAN_SPARK_THRESHOLD", 0)
    got = sorted(r["d"] for r in ft.point_lookup(spark, td, "k", values).collect())
    assert got == want


# ---------------------------------------------------------------------------
# round 12 — deletion vectors (Iceberg v3 / Delta DV shape)
# ---------------------------------------------------------------------------


def test_dv_merges_to_one_vector_per_file_no_rewrites(spark, tmp_path):
    """Every DV commit merges into at most ONE live vector per data
    file (old ∪ new, superseded entry dropped) and never rewrites a
    data file — the structural invariant that keeps the serve flat in
    the number of delete commits."""
    td = str(tmp_path / "dv")
    df = spark.createDataFrame([(i, i % 50) for i in range(1000)], "k long, d long")
    ft.create_table(df, td, stats_cols=["d"], cluster_by="d", n_files=4)
    data_before = sorted(
        e["path"] for e in ft.read_manifest(td)["entries"]
    )
    for i in range(3):
        s = ft.delete_positions_dv(spark, td, F.col("k") % 10 == i)
        assert s["rows_pos_deleted"] == 100
    man = ft.read_manifest(td)
    data, eqs, poss, dvs = ft._split_entries(man)
    assert not eqs and not poss
    targets = [e["target"] for e in dvs]
    assert len(targets) == len(set(targets)), "one live DV per data file"
    assert sum(e["rows"] for e in dvs) == 300
    assert sorted(e["path"] for e in data) == data_before, "zero data rewrites"
    got = sorted(r["k"] for r in ft.read_table(spark, td).collect())
    assert got == sorted(i for i in range(1000) if i % 10 >= 3)


def test_dv_equivalent_to_pos_delete_twin_and_folds(spark, tmp_path):
    """DV and delete-file position deletes are two physical plans of the
    SAME semantics: twin tables replaying identical predicates read
    identically after every commit, and fold_deletes drains both."""
    td_dv, td_pos = str(tmp_path / "tdv"), str(tmp_path / "tpos")
    df = spark.createDataFrame(
        [(i, i % 20, f"v{i}") for i in range(600)], "k long, d long, s string"
    )
    for td in (td_dv, td_pos):
        ft.create_table(df, td, stats_cols=["d"], cluster_by="d", n_files=3)
    preds = [F.col("k") % 7 == 0, F.col("d") >= 15, F.col("k") % 11 == 3]
    for p in preds:
        ft.delete_positions_dv(spark, td_dv, p)
        ft.delete_positions_mor(spark, td_pos, p)
        a = sorted(map(tuple, ft.read_table(spark, td_dv).collect()))
        b = sorted(map(tuple, ft.read_table(spark, td_pos).collect()))
        assert a == b
    for td in (td_dv, td_pos):
        s = ft.fold_deletes(spark, td)
        assert s["delete_files_folded"] > 0
        assert not any(
            e.get("kind", "data") != "data"
            for e in ft.read_manifest(td)["entries"]
        )
    a = sorted(map(tuple, ft.read_table(spark, td_dv).collect()))
    b = sorted(map(tuple, ft.read_table(spark, td_pos).collect()))
    assert a == b


def test_dv_fast_path_splits_clean_files_from_filtered(spark, tmp_path):
    """DV-only serve is PURE JVM: no Python anywhere in the plan (the
    bitmap probe is try_element_at + shiftright under a broadcast join
    of the one-row-per-dv'd-file words frame), no shuffle, and files
    without a DV stay a plain scan outside the join."""
    td = str(tmp_path / "dvsplit")
    df = spark.createDataFrame([(i, i) for i in range(400)], "k long, d long")
    ft.create_table(df, td, stats_cols=["d"], cluster_by="d", n_files=4)
    # hit only the lowest quarter: one file's range
    ft.delete_positions_dv(spark, td, F.col("d") < 50)
    _data, _eqs, _poss, dvs = ft._split_entries(ft.read_manifest(td))
    assert len(dvs) == 1, "predicate spans one file of the clustered layout"
    served = ft.read_table(spark, td)
    plan = served._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, (
        "the DV serve must not round-trip rows through Python"
    )
    assert "Exchange hashpartitioning" not in plan, "the DV serve must not shuffle"
    assert plan.count("BroadcastHashJoin") == 1, "one words-frame probe join"
    got = sorted(r["d"] for r in served.collect())
    assert got == list(range(50, 400))


def test_dv_oversized_set_falls_back_to_shuffled_anti_join(spark, tmp_path, monkeypatch):
    """Past DV_BROADCAST_MAX_BYTES the DV probe abandons the broadcast
    words join for a shuffled anti join on exploded coordinates — same
    rows either way."""
    td = str(tmp_path / "dvbig")
    df = spark.createDataFrame([(i, i) for i in range(300)], "k long, d long")
    ft.create_table(df, td, stats_cols=["d"], cluster_by="d", n_files=2)
    ft.delete_positions_dv(spark, td, F.col("k") % 3 == 0)
    want = sorted(r["k"] for r in ft.read_table(spark, td).collect())
    monkeypatch.setattr(ft, "DV_BROADCAST_MAX_BYTES", 0)
    served = ft.read_table(spark, td)
    plan = served._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin LeftAnti" not in plan, (
        "an over-threshold DV set must not broadcast"
    )
    assert sorted(r["k"] for r in served.collect()) == want


def test_dv_composes_with_equality_deletes_and_gate(spark, tmp_path):
    """Mixed MOR state (DV + equality delete) serves correctly, and the
    fold-pressure gate fires off DV rows like any other flavor."""
    td = str(tmp_path / "dvmix")
    df = spark.createDataFrame([(i, i % 10) for i in range(500)], "k long, d long")
    ft.create_table(df, td, stats_cols=["d"], cluster_by="d", n_files=3)
    ft.delete_positions_dv(spark, td, F.col("k") < 50)
    ft.delete_keys_mor(
        spark, td, "k", spark.createDataFrame([(60,), (61,)], "k long")
    )
    got = sorted(r["k"] for r in ft.read_table(spark, td).collect())
    assert got == sorted(set(range(50, 500)) - {60, 61})
    # gate: a DV commit whose merged rows cross the threshold folds
    s = ft.delete_positions_dv(
        spark, td, F.col("k") >= 450, auto_fold_threshold=0.05
    )
    assert s["folded"] is True
    assert not any(
        e.get("kind", "data") != "data" for e in ft.read_manifest(td)["entries"]
    )
    got2 = sorted(r["k"] for r in ft.read_table(spark, td).collect())
    assert got2 == sorted(set(range(50, 450)) - {60, 61})


# ---------------------------------------------------------------------------
# round 12 — MOR MERGE INTO (write.merge.mode = merge-on-read)
# ---------------------------------------------------------------------------


def _merge_src(spark, df, keys, max_key):
    lo_key, hi_key = keys[0], keys[len(keys) // 4]
    return (
        df.filter((F.col("c_custkey") >= lo_key) & (F.col("c_custkey") <= hi_key))
        .select(
            F.col("c_custkey").alias("k"),
            F.lit(100.0).alias("delta"),
            (F.col("c_custkey") % 3 == 0).alias("purge"),
        )
        .unionByName(
            spark.range(3).select(
                (F.col("id") + max_key + 1000).alias("k"),
                F.lit(1.5).alias("delta"),
                F.lit(False).alias("purge"),
            )
        )
    )


def test_merge_mor_matches_cow_twin_zero_rewrites(spark, sf_dir, tmp_path):
    """VERDICT r11 item 2: the MOR merge is the SAME MERGE as the CoW
    twin — identical visible rows on twin tables from the identical
    source and clause set — with a different physical commit: zero
    existing data files rewritten (every pre-merge entry survives by
    path), matched keys in one equality-delete file, updates/inserts
    appended at the same sequence."""
    df = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_mktsegment", F.col("c_acctbal").cast("double").alias("c_acctbal")
    )
    td_cow, td_mor = str(tmp_path / "mcow"), str(tmp_path / "mmor")
    for td in (td_cow, td_mor):
        ft.create_table(df, td, stats_cols=["c_custkey"], cluster_by="c_custkey", n_files=8)
    keys = [r["c_custkey"] for r in df.select("c_custkey").orderBy("c_custkey").collect()]
    src = _merge_src(spark, df, keys, keys[-1])
    clauses = dict(
        on=("c_custkey", "k"),
        when_matched_delete=F.col("s.purge"),
        when_matched_update={"c_acctbal": F.col("t.c_acctbal") + F.col("s.delta")},
        when_not_matched_insert={
            "c_custkey": F.col("s.k"),
            "c_mktsegment": F.lit("NEWACCT"),
            "c_acctbal": F.col("s.delta"),
        },
    )
    before = {e["path"] for e in ft.read_manifest(td_mor)["entries"]}
    s_cow = ft.merge_into(spark, td_cow, src, **clauses)
    s_mor = ft.merge_into_mor(spark, td_mor, src, **clauses)
    assert s_mor["files_rewritten"] == 0
    after_paths = {e["path"] for e in ft.read_manifest(td_mor)["entries"]}
    assert before <= after_paths, "every pre-merge data file survives by path"
    assert s_mor["rows_inserted"] == s_cow["rows_inserted"] == 3
    assert s_mor["delete_files_added"] == 1
    a = sorted(map(tuple, ft.read_table(spark, td_cow).collect()))
    b = sorted(map(tuple, ft.read_table(spark, td_mor).collect()))
    assert a == b, "MOR and CoW MERGE must be the same MERGE"


def test_merge_mor_stacks_without_fold_and_folds_clean(spark, tmp_path):
    """Repeated MOR merges compose against live MOR state (the whole
    point: no fold between them), delete-then-reinsert resurrects via
    the seq rule, and a final fold drains to pure data files with the
    same visible rows."""
    td = str(tmp_path / "stack")
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(100)], "k long, v double"
    )
    ft.create_table(df, td, stats_cols=["k"], cluster_by="k", n_files=4)
    # merge 1: update evens, delete multiples of 10
    src1 = spark.createDataFrame(
        [(k, k % 10 == 0) for k in range(0, 100, 2)], "k long, purge boolean"
    )
    ft.merge_into_mor(
        spark, td, src1, on=("k", "k"),
        when_matched_delete=F.col("s.purge"),
        when_matched_update={"v": F.col("t.v") + 1000.0},
    )
    state = {k: float(k) for k in range(100)}
    for k in range(0, 100, 2):
        if k % 10 == 0:
            del state[k]
        else:
            state[k] += 1000.0
    got = {r["k"]: r["v"] for r in ft.read_table(spark, td).collect()}
    assert got == state
    # merge 2 (no fold): re-insert key 0, update key 2 again
    src2 = spark.createDataFrame([(0, 5.0), (2, 7.0)], "k long, nv double")
    ft.merge_into_mor(
        spark, td, src2, on=("k", "k"),
        when_matched_update={"v": F.col("s.nv")},
        when_not_matched_insert={"k": F.col("s.k"), "v": F.col("s.nv")},
    )
    state[0] = 5.0  # resurrected insert (was deleted by merge 1)
    state[2] = 7.0
    got = {r["k"]: r["v"] for r in ft.read_table(spark, td).collect()}
    assert got == state
    ft.fold_deletes(spark, td)
    assert not any(
        e.get("kind", "data") != "data" for e in ft.read_manifest(td)["entries"]
    )
    got = {r["k"]: r["v"] for r in ft.read_table(spark, td).collect()}
    assert got == state


def test_merge_mor_partial_key_delete_reappends_survivors(spark, tmp_path):
    """A key whose rows are only PARTLY delete-matched (no UPDATE
    clause): the equality delete nukes the key whole, so the surviving
    rows must re-append verbatim — the clause-resolution edge an
    eqdelete-only implementation gets wrong."""
    td = str(tmp_path / "partial")
    df = spark.createDataFrame(
        [(1, 10.0), (1, 20.0), (2, 30.0), (3, 40.0)], "k long, v double"
    )
    ft.create_table(df, td, stats_cols=["k"], cluster_by="k", n_files=1)
    src = spark.createDataFrame([(1,), (2,)], "k long")
    s = ft.merge_into_mor(
        spark, td, src, on=("k", "k"),
        when_matched_delete=F.col("t.v") < 15.0,
    )
    assert s["delete_keys"] == 1, "only key 1 had a delete-matched row"
    got = sorted((r["k"], r["v"]) for r in ft.read_table(spark, td).collect())
    assert got == [(1, 20.0), (2, 30.0), (3, 40.0)]


def test_merge_mor_mixed_delete_key_raises(spark, tmp_path):
    td = str(tmp_path / "mixedkey")
    df = spark.createDataFrame([(1, 1, 1.0)], "k long, g long, v double")
    ft.create_table(df, td, stats_cols=["k"], n_files=1)
    ft.delete_keys_mor(spark, td, "g", spark.createDataFrame([(9,)], "g long"))
    with pytest.raises(ValueError, match="fold_deletes first"):
        ft.merge_into_mor(
            spark, td, spark.createDataFrame([(1, 2.0)], "k long, v double"),
            on=("k", "k"), when_matched_update={"v": F.col("s.v")},
        )


# ---------------------------------------------------------------------------
# round 12 — executed orphan-file GC
# ---------------------------------------------------------------------------


def test_gc_orphans_removes_debris_outside_grace_only(spark, tmp_path):
    """gc_orphans removes exactly the crash debris: parquet under data/
    referenced by NO on-disk manifest AND older than the grace window.
    Referenced files and in-grace strays survive; the table serves
    identically before and after."""
    import time

    td = str(tmp_path / "gc")
    mk = lambda rows: spark.createDataFrame(rows, "k long, d long")  # noqa: E731
    ft.create_table(mk([(i, i) for i in range(50)]), td, stats_cols=["d"], n_files=2)
    # crash debris: a claimed commit dir whose manifest never landed
    debris_dir = os.path.join(td, "data", "c009999")
    mk([(999, 999)]).coalesce(1).write.parquet(debris_dir)
    debris = [
        os.path.join(debris_dir, n)
        for n in os.listdir(debris_dir)
        if n.endswith(".parquet")
    ]
    assert len(debris) == 1
    now = time.time()
    # inside grace: everything unreferenced is YOUNG -> kept
    s1 = ft.gc_orphans(td, grace_seconds=3600, now=now)
    assert s1["files_removed"] == 0 and s1["kept_in_grace"] >= 1
    assert os.path.exists(debris[0])
    want = sorted(r["k"] for r in ft.read_table(spark, td).collect())
    # outside grace (clock advanced): only the debris goes
    s2 = ft.gc_orphans(td, grace_seconds=3600, now=now + 7200)
    assert s2["files_removed"] == 1
    assert not os.path.exists(debris[0])
    assert sorted(r["k"] for r in ft.read_table(spark, td).collect()) == want
    assert 999 not in want


def test_claimed_manifest_without_header_is_in_flight(spark, tmp_path, monkeypatch):
    """A commit writes its manifest, then its entry log, then its header
    and only then publishes; a claimed manifest with no header is an
    in-flight (or dead) commit. Lock-free listers skip it — GC on both
    planning paths, expiry and the snapshots table never parse it — and
    the next commit claims the number after it."""
    import time

    td = str(tmp_path / "inflight")
    mk = lambda rows: spark.createDataFrame(rows, "k long, d long")  # noqa: E731
    ft.create_table(mk([(i, i) for i in range(10)]), td, stats_cols=["d"], n_files=1)
    # an O_EXCL claim whose body, log and header never landed
    os.close(os.open(ft._manifest_path(td, 2), os.O_CREAT | os.O_EXCL | os.O_WRONLY))
    assert ft._manifest_versions(td) == [1]
    assert ft.snapshots_table(spark, td).count() == 1
    later = time.time() + 10
    assert ft.gc_orphans(td, grace_seconds=0, now=later, spark=spark)["files_removed"] == 0
    monkeypatch.setattr(ft, "PLAN_SPARK_THRESHOLD", 0)
    assert ft.gc_orphans(td, grace_seconds=0, now=later, spark=spark)["files_removed"] == 0
    assert ft.expire_table(td, keep_last=1, spark=spark)["manifests_removed"] == []
    assert ft.append_table(mk([(10, 10)]), td, n_files=1) == 3
    assert ft._manifest_versions(td) == [1, 3]
    assert ft.read_table(spark, td).count() == 11


def test_gc_orphans_keeps_files_referenced_only_by_tag(spark, tmp_path):
    """PLANTED safety: a file referenced ONLY by a tagged (non-current)
    manifest is not an orphan — GC retention is per-manifest, and
    expire_table owns manifest removal. Kills any implementation that
    walks only the CURRENT snapshot's reference set."""
    import time

    td = str(tmp_path / "gctag")
    mk = lambda rows: spark.createDataFrame(rows, "k long, d long")  # noqa: E731
    ft.create_table(mk([(i, i) for i in range(40)]), td, stats_cols=["d"], n_files=2)
    ft.tag_snapshot(td, "v1.0")
    # CoW delete drops the low file from the CURRENT manifest; the
    # tagged v1 manifest still references it
    ft.delete_where(spark, td, "d", 19)
    cur = {e["path"] for e in ft.read_manifest(td)["entries"]}
    tagged = {e["path"] for e in ft.read_manifest(td, 1)["entries"]}
    only_tagged = tagged - cur
    assert only_tagged, "the delete must have dropped a v1-only file"
    s = ft.gc_orphans(td, grace_seconds=0, now=time.time() + 10)
    assert s["files_removed"] == 0, "tag-referenced files are never orphans"
    # time travel to the tag still serves the full original table
    got = sorted(r["k"] for r in ft.read_table(spark, td, version=1).collect())
    assert got == list(range(40))
    # once the tag is dropped AND the manifest expires, the file becomes
    # expire_table's to reclaim (not GC's) — the verbs compose
    ft.drop_tag(td, "v1.0")
    ft.expire_table(td, keep_last=1)
    for rel in only_tagged:
        assert not os.path.exists(os.path.join(td, rel))


# ---------------------------------------------------------------------------
# round 12 — storage-partitioned join over bucketed filetables
# ---------------------------------------------------------------------------


def test_storage_partitioned_join_no_shuffle_and_exact(spark, tmp_path):
    """Two filetables bucketed by the same key/count join by pairing
    bucket-aligned files from the manifests: the plan carries ZERO
    shuffle exchanges (the big sides never repartition) and the rows
    equal a plain shuffled join's."""
    ta, tb = str(tmp_path / "bja"), str(tmp_path / "bjb")
    a = spark.createDataFrame(
        [(i % 40, i, float(i)) for i in range(400)], "ck long, oid long, amt double"
    )
    b = spark.createDataFrame(
        [(k, f"seg{k % 3}") for k in range(40)], "ck2 long, seg string"
    )
    ft.create_table(a, ta, stats_cols=["oid"], bucket_by=("ck", 8))
    ft.create_table(b, tb, stats_cols=["ck2"], bucket_by=("ck2", 8))
    man = ft.read_manifest(ta)
    assert man["layout"] == {"bucket_col": "ck", "n_buckets": 8}
    assert all("bucket" in e for e in man["entries"])

    j = ft.storage_partitioned_join(spark, ta, tb, on=("ck", "ck2"))
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan, "bucket-aligned join must not shuffle"
    got = sorted((r["ck"], r["oid"], r["seg"]) for r in j.collect())
    want = sorted(
        (r["ck"], r["oid"], r["seg"])
        for r in ft.read_table(spark, ta)
        .join(ft.read_table(spark, tb), F.col("ck") == F.col("ck2"))
        .collect()
    )
    assert got == want and len(got) == 400


def test_storage_partitioned_join_appends_pair_across_commits(spark, tmp_path):
    """Appends to a bucketed table re-bucket the new files; bucket i of
    a 2-commit table pairs BOTH its files against the other side."""
    ta, tb = str(tmp_path / "apa"), str(tmp_path / "apb")
    mk = lambda lo, hi: spark.createDataFrame(  # noqa: E731
        [(i % 10, i) for i in range(lo, hi)], "k long, v long"
    )
    ft.create_table(mk(0, 100), ta, stats_cols=["v"], bucket_by=("k", 4))
    ft.append_table(mk(100, 150), ta)
    ft.create_table(
        spark.createDataFrame([(k, k * 10) for k in range(10)], "k2 long, w long"),
        tb, stats_cols=["w"], bucket_by=("k2", 4),
    )
    j = ft.storage_partitioned_join(spark, ta, tb, on=("k", "k2"))
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan
    assert j.count() == 150


def test_storage_partitioned_join_mismatched_layout_falls_back(spark, tmp_path):
    """Layouts that don't align (different bucket counts) shuffle like a
    normal equi join — same rows, with the exchange present."""
    ta, tb = str(tmp_path / "fba"), str(tmp_path / "fbb")
    a = spark.createDataFrame([(i % 10, i) for i in range(100)], "k long, v long")
    b = spark.createDataFrame([(k, k * 2) for k in range(10)], "k2 long, w long")
    ft.create_table(a, ta, stats_cols=["v"], bucket_by=("k", 8))
    ft.create_table(b, tb, stats_cols=["w"], bucket_by=("k2", 4))
    j = ft.storage_partitioned_join(spark, ta, tb, on=("k", "k2"))
    assert j.count() == 100
    # and with broadcast suppressed, the fallback really shuffles
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", None)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j2 = ft.storage_partitioned_join(spark, ta, tb, on=("k", "k2"))
        plan = j2._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" in plan, "misaligned layouts must shuffle"
        assert j2.count() == 100
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        else:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_manifest_parquet_from_commit_time_jsonl_no_json_parse(spark, li_table, monkeypatch):
    """r12: commits stream a flat entry log (JSONL) + header sidecar, so
    building the parquet manifest table is a pure Spark job — pinned by
    making read_manifest explode: the conversion and the job planner
    must succeed without ever parsing the O(#files) JSON manifest."""
    td, _df = li_table
    v = ft.current_manifest_version(td)
    assert os.path.exists(ft._entries_jsonl_path(td, v))
    assert os.path.exists(ft._header_path(td, v))
    lo, hi = _mid(td, 0.2), _mid(td, 0.4)
    want = ft.plan_scan(td, "ship_dt", lo, hi)  # driver planner, JSON ok

    def _boom(*a, **k):
        raise AssertionError("warm two-level path must not parse the JSON manifest")

    monkeypatch.setattr(ft, "read_manifest", _boom)
    got = ft.plan_scan_spark(spark, td, "ship_dt", lo, hi)
    assert sorted(got["paths"]) == sorted(want["paths"])
    assert got["files_skipped"] == want["files_skipped"] > 0


def test_expire_reclaims_version_sidecars(spark, tmp_path):
    td = str(tmp_path / "sidecars")
    mk = lambda rows: spark.createDataFrame(rows, "k long, d long")  # noqa: E731
    ft.create_table(mk([(1, 1)]), td, stats_cols=["d"], n_files=1)
    ft.append_table(mk([(2, 2)]), td, n_files=1)
    ft.plan_scan_spark(spark, td, "d", 0, 1)  # materialize v2's parquet manifest
    ft.expire_table(td, keep_last=1)
    assert not os.path.exists(ft._entries_jsonl_path(td, 1))
    assert not os.path.exists(ft._header_path(td, 1))
    assert os.path.exists(ft._entries_jsonl_path(td, 2))


def test_read_table_job_path_over_threshold_incl_mor(spark, tmp_path, monkeypatch):
    """read_table past the threshold reconstructs its entry list from
    the parquet manifest table + header sidecar — including MOR state
    (eqdelete key_cols, DV targets) — without parsing the JSON manifest
    (read_manifest monkeypatched to explode), and serves the identical
    rows."""
    td = str(tmp_path / "rtauto")
    df = spark.createDataFrame([(i, i % 9) for i in range(300)], "k long, d long")
    ft.create_table(df, td, stats_cols=["d"], cluster_by="d", n_files=3)
    ft.delete_positions_dv(spark, td, F.col("k") < 20)
    ft.delete_keys_mor(spark, td, "k", spark.createDataFrame([(25,), (26,)], "k long"))
    want = sorted(r["k"] for r in ft.read_table(spark, td).collect())
    assert want[0] == 20 and 25 not in want

    monkeypatch.setattr(ft, "PLAN_SPARK_THRESHOLD", 0)
    # materialize the manifest table first (the conversion itself is
    # entitled to the commit-time jsonl/header, not the JSON manifest)
    ft.write_manifest_parquet(spark, td)
    monkeypatch.setattr(
        ft, "read_manifest",
        lambda *a, **k: (_ for _ in ()).throw(AssertionError("JSON manifest parsed")),
    )
    got = sorted(r["k"] for r in ft.read_table(spark, td).collect())
    assert got == want


def test_changelog_dv_delta_reads_only_changed_vectors(spark, tmp_path):
    """r12: deletion vectors keep visibility FILE-LOCAL, so the
    manifest-delta CDF extends to DV histories — shared files whose
    vector is unchanged cancel WITHOUT being read; only dv-changed and
    added/removed files enter either side."""
    td = str(tmp_path / "cdfdv")
    df = spark.createDataFrame([(i, i) for i in range(400)], "k long, d long")
    ft.create_table(df, td, stats_cols=["d"], cluster_by="d", n_files=4)  # v1
    ft.delete_positions_dv(spark, td, F.col("d") < 50)  # v2: dv on file 1 only
    ft.append_table(
        spark.createDataFrame([(i, i) for i in range(400, 450)], "k long, d long"),
        td, n_files=1,
    )  # v3
    ft.delete_positions_dv(spark, td, (F.col("d") >= 50) & (F.col("d") < 60))  # v4

    plan = ft.plan_changelog(td, 1, 4)
    assert plan["mode"] == "delta-dv"
    # files 3 and 4 of the create (d in [200,400)) have no DV at either
    # end and were not added/removed: they must cancel unread
    assert plan["files_shared"] >= 2
    read_paths = {e["path"] for e in plan["from_entries"] + plan["to_entries"]}
    man4 = ft.read_manifest(td, 4)
    untouched = [
        e["path"] for e in man4["entries"]
        if e.get("kind", "data") == "data" and e["seq"] == 1
        and e["stats"]["d"] and int(e["stats"]["d"][0]) >= 200
    ]
    assert untouched and not (set(untouched) & read_paths), (
        "vector-unchanged shared files must never be opened"
    )
    rows = ft.changelog_table(spark, td, 1, 4).collect()
    got = {(r["_change_type"], r["k"]) for r in rows}
    want = {("delete", k) for k in range(60)} | {
        ("insert", k) for k in range(400, 450)
    }
    assert got == want
    # between two dv commits on the SAME file: only that file is read
    plan2 = ft.plan_changelog(td, 2, 4)
    assert plan2["mode"] == "delta-dv"
    rows2 = ft.changelog_table(spark, td, 2, 4).collect()
    got2 = {(r["_change_type"], r["k"]) for r in rows2}
    assert got2 == {("delete", k) for k in range(50, 60)} | {
        ("insert", k) for k in range(400, 450)
    }


def test_merge_on_non_stats_key_is_conservative_not_an_error(spark, tmp_path):
    """A MERGE keyed on a column the manifest carries no bounds for
    loses only the zone-map prune: every file is a candidate, the
    file-scoped semi join still limits the rewrite set, and both modes
    produce the same rows (found by the hypothesis verb harness, which
    merged on the non-stats key)."""
    td_cow, td_mor = str(tmp_path / "nsc"), str(tmp_path / "nsm")
    df = spark.createDataFrame(
        [(i, i % 5, float(i)) for i in range(100)], "k long, d long, v double"
    )
    for td in (td_cow, td_mor):
        # stats on d only; merge keys on k
        ft.create_table(df, td, stats_cols=["d"], cluster_by="d", n_files=3)
    src = spark.createDataFrame([(7, 700.0), (777, 777.0)], "k long, nv double")
    s1 = ft.merge_into(
        spark, td_cow, src, on=("k", "k"),
        when_matched_update={"v": F.col("s.nv")},
        when_not_matched_insert={
            "k": F.col("s.k"), "d": F.col("s.k") % 5, "v": F.col("s.nv")
        },
    )
    s2 = ft.merge_into_mor(
        spark, td_mor, src, on=("k", "k"),
        when_matched_update={"v": F.col("s.nv")},
        when_not_matched_insert={
            "k": F.col("s.k"), "d": F.col("s.k") % 5, "v": F.col("s.nv")
        },
    )
    assert s1["files_candidates"] == s2["files_candidates"] == 3
    a = sorted(map(tuple, ft.read_table(spark, td_cow).collect()))
    b = sorted(map(tuple, ft.read_table(spark, td_mor).collect()))
    assert a == b
    assert (7, 2, 700.0) in a and (777, 777 % 5, 777.0) in a


# ---------------------------------------------------------------------------
# round 12 — planted adversarial tests (killers for named wrong rules)
# ---------------------------------------------------------------------------


def test_planted_dv_word_boundary_and_sign_bit(spark, tmp_path):
    """Kills two named wrong rules in the DV bitmap probe: (1) 0-based
    element_at indexing (position 64 lives in WORD 2 under Spark's
    1-based element_at — an off-by-one serves word 1 and deletes the
    wrong rows); (2) unsigned-shift assumptions (position 63 sets the
    SIGN bit of word 0 — long arithmetic must still read it as bit 63,
    and `shiftright` is arithmetic, so (word >> 63) & 1 must be the
    test, never a comparison against a positive mask)."""
    td = str(tmp_path / "dvedge")
    df = spark.createDataFrame([(i,) for i in range(200)], "k long")
    ft.create_table(df.withColumn("d", F.col("k")), td, stats_cols=["d"], n_files=1)
    # the single file is written clustered by d == k, so row_index == k
    ft.delete_positions_dv(spark, td, F.col("k").isin([0, 63, 64, 127, 128]))
    got = sorted(r["k"] for r in ft.read_table(spark, td).collect())
    assert got == sorted(set(range(200)) - {0, 63, 64, 127, 128})
    # and the vector really packed those exact bits (words sidecar)
    _d, _e, _p, dvs = ft._split_entries(ft.read_manifest(td))
    row = ft._dv_pos_frame(spark, td, dvs).collect()[0]
    words = row["_dv_words"]
    assert (words[0] >> 0) & 1 == 1, "position 0 is bit 0 of word 1"
    # bit 63 of word 0 is the sign bit: the stored long must be NEGATIVE
    assert words[0] < 0, "position 63 must set word 0's sign bit"
    assert (words[1] >> 0) & 1 == 1, "position 64 is bit 0 of word 2 (1-based)"
    assert sorted(row["_dv_pos"]) == [0, 63, 64, 127, 128]


def test_planted_spj_empty_bucket_must_not_shift_pairing(spark, tmp_path):
    """Kills pairing-by-file-ORDER: when a bucket is EMPTY on one side,
    the other side's same-id bucket must pair with NOTHING — an
    implementation that zips the file lists positionally silently joins
    bucket i against bucket i+1 and produces garbage rows."""
    ta, tb = str(tmp_path / "eba"), str(tmp_path / "ebb")
    n = 4
    keys = spark.createDataFrame([(k,) for k in range(64)], "k long").select(
        "k", F.expr(f"pmod(hash(k), {n})").alias("b")
    ).collect()
    by_bucket = {}
    for r in keys:
        by_bucket.setdefault(r["b"], []).append(r["k"])
    assert len(by_bucket) == n, "need keys in every bucket to stage the gap"
    skip = min(by_bucket)  # left side omits this bucket entirely
    left_keys = [k for b, ks in by_bucket.items() if b != skip for k in ks]
    a = spark.createDataFrame([(k, k * 10) for k in left_keys], "k long, v long")
    b = spark.createDataFrame([(k, k * 100) for b_, ks in by_bucket.items() for k in ks], "k2 long, w long")
    ft.create_table(a, ta, stats_cols=["v"], bucket_by=("k", n))
    ft.create_table(b, tb, stats_cols=["w"], bucket_by=("k2", n))
    man_a = ft.read_manifest(ta)
    a_buckets = {e["bucket"] for e in man_a["entries"]}
    assert skip not in a_buckets and len(a_buckets) == n - 1, (
        "left table must genuinely miss one bucket"
    )
    j = ft.storage_partitioned_join(spark, ta, tb, on=("k", "k2"))
    got = sorted((r["k"], r["v"], r["w"]) for r in j.collect())
    want = sorted((k, k * 10, k * 100) for k in left_keys)
    assert got == want, "empty bucket must pair with nothing, never shift"


def test_planted_feed_misclassified_metadata_op_raises(spark, tmp_path):
    """Kills silently trusting the operation label: a commit CLAIMING to
    be metadata-only (add-column) whose entry list actually changed the
    data file set must fail the feed's zero-file-delta assertion, not
    be skipped (a skip would lose the moved rows exactly once)."""
    import json as _json

    td = str(tmp_path / "badmeta")
    mk = lambda rows: spark.createDataFrame(rows, "k long, d long")  # noqa: E731
    ft.create_table(mk([(1, 1), (2, 2)]), td, stats_cols=["d"], n_files=1)
    ft.add_column(td, "note", "string")
    v = ft.current_manifest_version(td)
    mp = ft._manifest_path(td, v)
    man = _json.load(open(mp))
    assert man["operation"] == "add-column"
    man["entries"] = []  # the lie: a "metadata" commit that dropped files
    _json.dump(man, open(mp, "w"))
    with pytest.raises(ValueError, match="changed the data file set"):
        ft.incremental_feed(td)


# ---------------------------------------------------------------------------
# round 13 — ADVICE r12 fixes: merge determinism, bucket-layout verification,
# GC locking + debris pruning, add_files in-lock re-stat, job reference union
# ---------------------------------------------------------------------------


def test_merge_source_evaluated_exactly_once(spark, tmp_path):
    """ADVICE r12: the MOR merge runs several independent actions over
    ``source`` (dup check, range, insert count, two writes); a
    non-deterministic source would commit mutually inconsistent sets.
    The eager localCheckpoint pins ONE evaluation — counted here with a
    marker-file side effect (1 partition -> 1 marker per evaluation;
    without the fix this emits one marker per action)."""
    td = str(tmp_path / "once")
    ft.create_table(
        spark.createDataFrame([(i, i * 10) for i in range(20)], "k long, v long"),
        td, stats_cols=["k"], n_files=2,
    )
    marker_dir = tmp_path / "markers"
    marker_dir.mkdir()
    mdir = str(marker_dir)

    def mark(batches):
        import os as _os
        import uuid as _uuid

        with open(_os.path.join(mdir, _uuid.uuid4().hex), "w") as f:
            f.write("x")
        yield from batches

    src = (
        spark.createDataFrame([(5, 555), (25, 2525)], "k long, v long")
        .coalesce(1)
        .mapInPandas(mark, schema="k long, v long")
    )
    ft.merge_into_mor(
        spark, td, src, on=("k", "k"),
        when_matched_update={"v": F.col("s.v")},
        when_not_matched_insert={"k": F.col("s.k"), "v": F.col("s.v")},
    )
    assert len(os.listdir(mdir)) == 1, "source must be materialized exactly once"
    got = {r["k"]: r["v"] for r in ft.read_table(spark, td).collect()}
    assert got[5] == 555 and got[25] == 2525 and len(got) == 21


def test_bucket_layout_verification_catches_mispairing(spark, tmp_path):
    """ADVICE r12: the bucket id is parsed from the part-file NAME; if
    task-index/file-name mapping ever diverged from pmod(murmur3), the
    SPJ would pair buckets wrongly and return silently bad rows. The
    commit-time verifier must catch exactly that divergence."""
    cdir = str(tmp_path / "c000001")
    df = spark.createDataFrame([(i,) for i in range(200)], "k long")
    with ft._pinned_file_count(spark):
        df.repartition(4, F.col("k")).write.mode("append").parquet(cdir)
    entries = ft._collect_entries(spark, str(tmp_path), cdir, [])
    for e in entries:
        e["bucket"] = int(os.path.basename(e["path"]).split("-")[1])
    two = [e for e in entries if e["rows"] > 0][:2]
    assert len(two) == 2 and two[0]["bucket"] != two[1]["bucket"]
    ft._verify_bucket_layout(spark, cdir, "k", 4, entries)  # truth passes
    two[0]["bucket"], two[1]["bucket"] = two[1]["bucket"], two[0]["bucket"]
    with pytest.raises(ValueError, match="bucket layout broken"):
        ft._verify_bucket_layout(spark, cdir, "k", 4, entries)


def test_gc_orphans_removes_debris_siblings_and_dead_dirs(spark, tmp_path):
    """ADVICE r12: GC previously left _SUCCESS/.crc siblings and the
    empty cNNNNNN dir behind forever — the leftover dir also inflated
    _next_commit_dir numbering permanently. Now the whole dead dir goes
    (grace-gated), and live commit dirs keep their markers."""
    import time

    td = str(tmp_path / "gcd")
    ft.create_table(
        spark.createDataFrame([(1, 2)], "a long, b long"), td,
        stats_cols=["b"], n_files=1,
    )
    debris = os.path.join(td, "data", "c009999")
    spark.createDataFrame([(9, 9)], "a long, b long").coalesce(1).write.parquet(debris)
    now = time.time()
    res = ft.gc_orphans(td, grace_seconds=3600, now=now + 7200)
    assert res["files_removed"] == 1
    assert res["extra_files_removed"] >= 1, "_SUCCESS/.crc debris must go too"
    assert res["dirs_removed"] >= 1
    assert not os.path.exists(debris), "the dead commit dir must be pruned"
    live = os.path.join(td, "data", "c000001")
    assert os.path.exists(os.path.join(live, "_SUCCESS")), (
        "live commit dirs keep their markers"
    )
    # numbering no longer inflated by the leftover dir
    nd = ft._next_commit_dir(td)
    assert os.path.basename(nd) == "c000002"
    os.rmdir(nd)


def test_gc_orphans_in_grace_debris_fully_kept(spark, tmp_path):
    """The grace window protects the WHOLE in-flight commit dir: parquet,
    markers, and the dir itself (it may be a writer mid-commit)."""
    import time

    td = str(tmp_path / "gcg")
    ft.create_table(
        spark.createDataFrame([(1, 2)], "a long, b long"), td,
        stats_cols=["b"], n_files=1,
    )
    debris = os.path.join(td, "data", "c009999")
    spark.createDataFrame([(9, 9)], "a long, b long").coalesce(1).write.parquet(debris)
    res = ft.gc_orphans(td, grace_seconds=3600, now=time.time())
    assert res["files_removed"] == 0 and res["dirs_removed"] == 0
    assert res["extra_files_removed"] == 0
    assert os.path.exists(debris)


def test_gc_orphans_serializes_on_commit_lock(spark, tmp_path):
    """ADVICE r12: GC takes _commit_lock, so it can never interleave
    with a commit (in particular add_files' stats->commit window)."""
    import threading
    import time

    td = str(tmp_path / "gclock")
    ft.create_table(
        spark.createDataFrame([(1, 2)], "a long, b long"), td,
        stats_cols=["b"], n_files=1,
    )
    done = threading.Event()

    def run():
        ft.gc_orphans(td, now=time.time())
        done.set()

    with ft._commit_lock(td):
        t = threading.Thread(target=run)
        t.start()
        time.sleep(1.0)
        assert not done.is_set(), "gc_orphans must wait for the commit lock"
    t.join(30)
    assert done.is_set()


def test_add_files_revalidates_files_under_lock(spark, tmp_path, monkeypatch):
    """ADVICE r12: a GC between add_files' stats pass and its commit
    could delete the staged files; the in-lock re-stat refuses to
    register vanished files (simulated by interposing the deletion
    right after the stats collection)."""
    td = str(tmp_path / "addrace")
    ft.create_table(
        spark.createDataFrame([(1, 2.0)], "k long, x double"), td,
        stats_cols=["k"], n_files=1,
    )
    imp = os.path.join(td, "data", "import1")
    spark.createDataFrame([(7, 7.0)], "k long, x double").coalesce(1).write.parquet(imp)
    orig = ft._collect_entries

    def sneaky(spark_, td_, cdir, cols):
        out = orig(spark_, td_, cdir, cols)
        if cdir == imp:  # the GC race, interposed after the stats pass
            os.remove(os.path.join(td, out[0]["path"]))
        return out

    monkeypatch.setattr(ft, "_collect_entries", sneaky)
    v0 = ft.current_manifest_version(td)
    with pytest.raises(ValueError, match="vanished"):
        ft.add_files(spark, td, os.path.join("data", "import1"))
    assert ft.current_manifest_version(td) == v0, "no partial registration"


def test_gc_and_expire_reference_union_runs_as_job_past_threshold(
    spark, tmp_path, monkeypatch
):
    """VERDICT r12 item 4: past PLAN_SPARK_THRESHOLD the reference-set
    union runs as a Spark job over the commit-time entry logs — pinned
    by exploding the driver union; results must match the driver path
    exactly (same orphan removed, same survivors)."""
    import time

    td = str(tmp_path / "gcjob")
    mk = lambda rows: spark.createDataFrame(rows, "k long, d long")  # noqa: E731
    ft.create_table(mk([(i, i) for i in range(40)]), td, stats_cols=["d"], n_files=2)
    ft.append_table(mk([(i, i) for i in range(40, 60)]), td, n_files=1)
    versions = ft._manifest_versions(td)
    want_ref = ft._referenced_paths_driver(td, versions)
    monkeypatch.setattr(ft, "PLAN_SPARK_THRESHOLD", 0)
    got_ref = ft._referenced_paths_auto(spark, td, versions)
    assert got_ref == want_ref, "job union must equal the driver union"

    def _boom(*a, **k):
        raise AssertionError("past the threshold the driver union must not run")

    monkeypatch.setattr(ft, "_referenced_paths_driver", _boom)
    debris = os.path.join(td, "data", "c009999")
    spark.createDataFrame([(9, 9)], "k long, d long").coalesce(1).write.parquet(debris)
    res = ft.gc_orphans(td, grace_seconds=3600, now=time.time() + 7200, spark=spark)
    assert res["files_removed"] == 1 and not os.path.exists(debris)
    assert ft.read_table(spark, td).count() == 60, "no live byte touched"
    # expire dispatches through the same union
    res2 = ft.expire_table(td, keep_last=1, spark=spark)
    assert res2["manifests_removed"] == [1]
    assert ft.read_table(spark, td).count() == 60


# ---------------------------------------------------------------------------
# round 13 — SPJ build-side valve (VERDICT r12 item 1) and DV composition
# (item 3)
# ---------------------------------------------------------------------------


def _mk_spj_pair(spark, tmp_path, n_buckets=8):
    ta, tb = str(tmp_path / "va"), str(tmp_path / "vb")
    a = spark.createDataFrame(
        [(i % 40, i, float(i)) for i in range(400)], "k long, oid long, amt double"
    )
    b = spark.createDataFrame(
        [(j % 40, j, j * 10) for j in range(200)], "k2 long, rid long, w long"
    )
    ft.create_table(a, ta, stats_cols=["oid"], bucket_by=("k", n_buckets))
    ft.create_table(b, tb, stats_cols=["rid"], bucket_by=("k2", n_buckets))
    return ta, tb


def test_spj_valve_over_budget_no_broadcast_yet_row_equal(spark, tmp_path):
    """VERDICT r12 item 1: with a zero broadcast budget every bucket
    joins via a bucket-scoped shuffled-hash join — the plan carries NO
    BroadcastExchange (the driver-memory scale-killer) and the rows
    equal the default broadcast path's."""
    ta, tb = _mk_spj_pair(spark, tmp_path)
    base = ft.storage_partitioned_join(spark, ta, tb, on=("k", "k2"))
    want = sorted(map(tuple, base.collect()))
    plan_base = base._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan_base  # the under-budget regime
    j0 = ft.storage_partitioned_join(
        spark, ta, tb, on=("k", "k2"), broadcast_max_bytes=0
    )
    plan = j0._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" not in plan, "over-budget buckets must not broadcast"
    assert "SortMergeJoin" in plan  # spillable — shuffle_hash measured fatal at 64x
    assert sorted(map(tuple, j0.collect())) == want
    assert len(want) == 400 * 5  # 400 fact rows x 5 matching b-rows per key


def test_spj_valve_mixed_budget_row_equal(spark, tmp_path):
    """A budget that admits only the smallest build bucket: that bucket
    broadcasts, the rest shuffle — both regimes coexist in one plan and
    the union is still exact."""
    ta, tb = _mk_spj_pair(spark, tmp_path)
    man_a, man_b = ft.read_manifest(ta), ft.read_manifest(tb)

    def build_bytes(man):
        by = {}
        for e in man["entries"]:
            by[e["bucket"]] = by.get(e["bucket"], 0) + e["bytes"]
        return by

    ba, bb = build_bytes(man_a), build_bytes(man_b)
    builds = {i: min(ba[i], bb[i]) for i in set(ba) & set(bb)}
    # exactly one bucket fits, in the in-memory denomination (r13 item 2)
    cap = min(builds.values()) * ft.SPJ_BROADCAST_INFLATION
    j = ft.storage_partitioned_join(
        spark, ta, tb, on=("k", "k2"), broadcast_max_bytes=cap
    )
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan and "SortMergeJoin" in plan
    want = sorted(
        map(tuple, ft.storage_partitioned_join(spark, ta, tb, on=("k", "k2")).collect())
    )
    assert sorted(map(tuple, j.collect())) == want


def test_spj_composes_with_deletion_vectors(spark, tmp_path):
    """VERDICT r12 item 3: DVs are file-local, so a dv'd bucket file
    applies its bitmap inside the per-bucket scan — alignment intact
    (no fact-side Exchange), and a dv'd row NEVER reaches the join
    output (the planted kill)."""
    ta, tb = _mk_spj_pair(spark, tmp_path)
    ft.delete_positions_dv(spark, ta, F.col("oid") % 7 == 0)
    man = ft.read_manifest(ta)
    assert any(e.get("kind") == "dv" for e in man["entries"]), "live DVs required"
    j = ft.storage_partitioned_join(spark, ta, tb, on=("k", "k2"))
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan, "DV probe must not break alignment"
    rows = j.collect()
    assert rows and not any(r["oid"] % 7 == 0 for r in rows), (
        "a dv'd row must never survive into the join output"
    )
    want = sorted(
        (r["k"], r["oid"], r["rid"])
        for r in ft.read_table(spark, ta)
        .join(ft.read_table(spark, tb), F.col("k") == F.col("k2"))
        .collect()
    )
    assert sorted((r["k"], r["oid"], r["rid"]) for r in rows) == want


def test_spj_eq_pos_deletes_still_raise(spark, tmp_path):
    """r14 (VERDICT r13 item 5): an equality delete keyed ON THE BUCKET
    COLUMN is bucket-local (same murmur3 ⊕ pmod) and now COMPOSES —
    row-equal to the MOR read, zero fact-side Exchange. A non-bucket-key
    equality delete and a position delete keep raising (the planted
    kills: their visibility crosses buckets/files)."""
    ta, tb = _mk_spj_pair(spark, tmp_path)
    ft.delete_keys_mor(
        spark, ta, "k", spark.createDataFrame([(3,)], "k long")
    )
    j = ft.storage_partitioned_join(spark, ta, tb, on=("k", "k2"))
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan, "alignment must survive"
    rows = j.collect()
    assert all(r["k"] != 3 for r in rows), "deleted key served through SPJ"
    b = ft.read_table(spark, tb)
    want = sorted(
        map(
            tuple,
            ft.read_table(spark, ta).alias("a")
            .join(b.alias("b"), F.col("a.k") == F.col("b.k2"))
            .select("a.k", "a.oid", "a.amt", "b.rid", "b.w")
            .collect(),
        )
    )
    assert sorted(map(tuple, rows)) == want
    # resurrection: a later append at a higher seq revives the key
    ft.append_table(
        spark.createDataFrame([(3, 99_999, 9.9)], "k long, oid long, amt double"),
        ta,
    )
    j2 = ft.storage_partitioned_join(spark, ta, tb, on=("k", "k2"))
    revived = [r for r in j2.collect() if r["k"] == 3]
    assert {r["oid"] for r in revived} == {99_999}, "seq rule must gate the delete"
    # non-bucket-key equality delete (on the other side): still refused
    ft.delete_keys_mor(
        spark, tb, "rid", spark.createDataFrame([(7,)], "rid long")
    )
    with pytest.raises(ValueError, match="bucket-local"):
        ft.storage_partitioned_join(spark, ta, tb, on=("k", "k2"))


def test_spj_pos_deletes_still_raise(spark, tmp_path):
    """Position delete files stay cross-file — the SPJ keeps refusing
    them loudly (only DVs and bucket-key equality deletes compose)."""
    ta, tb = _mk_spj_pair(spark, tmp_path)
    ft.delete_positions_mor(spark, ta, F.col("oid") == 5)
    with pytest.raises(ValueError, match="position"):
        ft.storage_partitioned_join(spark, ta, tb, on=("k", "k2"))


# ---------------------------------------------------------------------------
# round 13 — two-level planning for the WRITE path (VERDICT r12 item 2)
# ---------------------------------------------------------------------------


def test_where_classifiers_driver_and_spark_agree_on_dates(spark, li_table):
    """The job classifier must reproduce the driver classifier EXACTLY —
    date bounds, both modes."""
    td, _df = li_table
    man = ft.read_manifest(td)
    cutoff = _mid(td, 0.4)
    for mode in ("delete", "update"):
        want = ft._classify_where_driver(man, "ship_dt", cutoff, mode)
        got = ft._classify_where_spark(spark, td, man["version"], "ship_dt", cutoff, mode)
        assert got == want and want, f"{mode}: classifier divergence"


def test_where_classifiers_agree_on_null_semantics(spark, tmp_path):
    """The ADVICE r10 NULL rules survive the move to the job: an
    all-NULL file is kept, a null-bearing low file straddles (never
    metadata-drops), a clean low file drops, a high file keeps."""
    td = str(tmp_path / "nullcls")
    mk = lambda rows: spark.createDataFrame(rows, "k long, d long")  # noqa: E731
    ft.create_table(mk([(i, i) for i in range(20)]), td, stats_cols=["k"], n_files=1)
    ft.append_table(mk([(None, 100), (None, 101)]), td, n_files=1)       # all-null
    ft.append_table(mk([(5, 200), (None, 201)]), td, n_files=1)          # null-bearing low
    ft.append_table(mk([(50, 300), (60, 301)]), td, n_files=1)           # high
    man = ft.read_manifest(td)
    for mode in ("delete", "update"):
        want = ft._classify_where_driver(man, "k", 25, mode)
        got = ft._classify_where_spark(spark, td, man["version"], "k", 25, mode)
        assert got == want, f"{mode}: {got} != {want}"
    dcls = ft._classify_where_driver(man, "k", 25, "delete")
    by_kind = sorted(dcls.values())
    assert by_kind == ["dropped", "straddle"], (
        "clean low file drops; null-bearing low straddles; all-null + high keep"
    )


def test_write_path_plans_as_job_past_threshold(spark, tmp_path, monkeypatch):
    """VERDICT r12 item 2 Done-criterion: with the driver classifiers
    monkeypatched to explode and the threshold at zero, DELETE / UPDATE
    / MERGE (both flavors) all commit through the manifest-table job and
    the results row-equal the driver regime's."""
    import datetime as dt

    def build(path):
        td = str(tmp_path / path)
        df = spark.createDataFrame(
            [(i, dt.date(2024, 1, 1) + dt.timedelta(days=i % 300), float(i))
             for i in range(3000)],
            "k long, d date, amt double",
        )
        ft.create_table(df, td, stats_cols=["k"], cluster_by="k", n_files=8)
        return td

    t_drv, t_job = build("wpd"), build("wpj")
    cut = 1000
    src = spark.createDataFrame(
        [(100, -1.0), (5000, -2.0)], "k long, amt double"
    )

    def run_all(td):
        s1 = ft.delete_where(spark, td, "k", cut)
        s2 = ft.update_where(spark, td, "k", 1500, {"amt": F.col("amt") + 1})
        s3 = ft.merge_into(
            spark, td, src, on=("k", "k"),
            when_matched_update={"amt": F.col("s.amt")},
            when_not_matched_insert={
                "k": F.col("s.k"), "d": F.lit(dt.date(2030, 1, 1)), "amt": F.col("s.amt")
            },
        )
        rows = sorted(map(tuple, ft.read_table(spark, td).collect()))
        return s1, s2, s3, rows

    d1, d2, d3, want = run_all(t_drv)

    def _boom(*a, **k):
        raise AssertionError("past the threshold the driver classifier must not run")

    monkeypatch.setattr(ft, "PLAN_SPARK_THRESHOLD", 0)
    monkeypatch.setattr(ft, "_classify_where_driver", _boom)
    monkeypatch.setattr(ft, "_merge_candidates_driver", _boom)
    j1, j2, j3, got = run_all(t_job)
    assert got == want
    for dd, jj in zip((d1, d2, d3), (j1, j2, j3)):
        for key in ("files_rewritten", "files_untouched"):
            if key in dd:
                assert dd[key] == jj[key], f"file accounting diverged on {key}"
    assert d1["files_dropped_metadata"] == j1["files_dropped_metadata"] > 0
    assert d1["files_rewritten"] == j1["files_rewritten"] > 0


def test_merge_mor_plans_as_job_past_threshold(spark, tmp_path, monkeypatch):
    """The MOR merge twin routes candidate selection through the same
    job — zero rewrites preserved, visible rows equal."""
    def build(path):
        td = str(tmp_path / path)
        ft.create_table(
            spark.createDataFrame(
                [(i, float(i)) for i in range(2000)], "k long, amt double"
            ),
            td, stats_cols=["k"], cluster_by="k", n_files=8,
        )
        return td

    src = spark.createDataFrame([(10, -1.0), (9999, -2.0)], "k long, amt double")
    kw = dict(
        on=("k", "k"),
        when_matched_update={"amt": F.col("s.amt")},
        when_not_matched_insert={"k": F.col("s.k"), "amt": F.col("s.amt")},
    )
    t_drv, t_job = build("mmd"), build("mmj")
    sd = ft.merge_into_mor(spark, t_drv, src, **kw)
    want = sorted(map(tuple, ft.read_table(spark, t_drv).collect()))

    def _boom(*a, **k):
        raise AssertionError("past the threshold the driver classifier must not run")

    monkeypatch.setattr(ft, "PLAN_SPARK_THRESHOLD", 0)
    monkeypatch.setattr(ft, "_merge_candidates_driver", _boom)
    sj = ft.merge_into_mor(spark, t_job, src, **kw)
    assert sj["files_rewritten"] == sd["files_rewritten"] == 0
    assert sj["files_candidates"] == sd["files_candidates"]
    assert sorted(map(tuple, ft.read_table(spark, t_job).collect())) == want


def test_fold_pressure_job_equals_driver(spark, tmp_path, monkeypatch):
    """fold_pressure's sums run off the parquet manifest table past the
    threshold — identical numbers, no entry loop."""
    td = str(tmp_path / "fpj")
    ft.create_table(
        spark.createDataFrame([(i, i) for i in range(100)], "k long, d long"),
        td, stats_cols=["d"], n_files=2,
    )
    ft.delete_keys_mor(
        spark, td, "k", spark.createDataFrame([(i,) for i in range(7)], "k long")
    )
    want = ft.fold_pressure(td, threshold=0.05)
    monkeypatch.setattr(ft, "PLAN_SPARK_THRESHOLD", 0)
    monkeypatch.setattr(ft, "read_manifest", lambda *a, **k: (_ for _ in ()).throw(
        AssertionError("job fold_pressure must not parse the JSON manifest")
    ))
    got = ft.fold_pressure(td, threshold=0.05, spark=spark)
    assert got == want and got["delete_rows"] == 7


def test_dv_sidecar_consolidation_bounds_file_opens(spark, tmp_path, monkeypatch):
    """VERDICT r12 item 5: N DV commits against DISJOINT files would
    accumulate N live sidecars (one open per serve each); past
    DV_SIDECAR_MAX the commit rewrites all live vectors into ONE
    sidecar. Pinned: live sidecar count stays bounded across 6 disjoint
    commits with the cap at 3, visibility exact throughout, and the
    <=1-vector-per-file invariant holds."""
    monkeypatch.setattr(ft, "DV_SIDECAR_MAX", 3)
    td = str(tmp_path / "dvcons")
    n = 600
    ft.create_table(
        spark.createDataFrame([(i, float(i)) for i in range(n)], "k long, amt double"),
        td, stats_cols=["k"], cluster_by="k", n_files=6,
    )
    deleted: set[int] = set()
    for i in range(6):
        key = i * 100 + 17  # one row in file i only (files are k-ranges)
        ft.delete_positions_dv(spark, td, F.col("k") == key)
        deleted.add(key)
        dvs = [e for e in ft.read_manifest(td)["entries"] if e.get("kind") == "dv"]
        live_sidecars = {e["path"] for e in dvs}
        assert len(live_sidecars) <= 3, (
            f"commit {i}: {len(live_sidecars)} live sidecars breach the cap"
        )
        targets = [e["target"] for e in dvs]
        assert len(targets) == len(set(targets)), "at most one live DV per file"
        got = sorted(r["k"] for r in ft.read_table(spark, td).collect())
        assert got == sorted(set(range(n)) - deleted), (
            f"visibility broken after commit {i}"
        )
    # the 4th commit crossed the cap: consolidation must actually have fired
    hist = [
        ft.read_manifest(td, v)["summary"].get("sidecars_consolidated")
        for v in ft._manifest_versions(td)
        if ft.read_manifest(td, v)["operation"] == "delete-dv"
    ]
    assert any(hist), "consolidation never fired across 6 disjoint commits"


# ---------------------------------------------------------------------------
# round 13 — feed bootstrap='visible' (VERDICT r12 item 6)
# ---------------------------------------------------------------------------


def test_feed_visible_bootstrap_delivers_visible_rows_and_resumes(spark, tmp_path):
    """A consumer can start from a DV-carrying snapshot WITHOUT a fold:
    the visible bootstrap batch is the MOR-applied read, deltas stay raw
    append paths, delivered rows == visible rows, and the resume split
    at the DV-carrying checkpoint is exactly-once."""
    td = str(tmp_path / "visboot")
    mk = lambda rows: spark.createDataFrame(rows, "k long, d long")  # noqa: E731
    ft.create_table(mk([(i, i) for i in range(100)]), td, stats_cols=["d"], n_files=2)
    ft.delete_positions_dv(spark, td, F.col("k") < 10)
    ft.append_table(mk([(i, i) for i in range(100, 120)]), td, n_files=1)
    ft.expire_table(td, keep_last=2)  # bootstrap is now the DV commit
    assert ft.read_table(spark, td).count() == 110

    with pytest.raises(ValueError, match="bootstrap='visible'"):
        ft.incremental_feed(td)  # files mode still refuses, with the hint

    feed = ft.incremental_feed(td, bootstrap="visible")
    assert [b["kind"] for b in feed] == ["bootstrap-visible", "delta"]
    dv_version = feed[0]["read_version"]

    def consume(batches):
        frames = []
        for b in batches:
            if b["kind"] == "bootstrap-visible":
                frames.append(ft.read_table(spark, td, version=b["read_version"]))
            elif b["paths"]:
                frames.append(spark.read.parquet(*b["paths"]))
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        return sorted((r["k"], r["d"]) for r in out.collect())

    want = sorted((r["k"], r["d"]) for r in ft.read_table(spark, td).collect())
    assert consume(feed) == want, "visible bootstrap + delta must equal the head"

    # resume split: checkpoint at the DV-carrying bootstrap version
    resumed = ft.incremental_feed(td, since_version=dv_version, bootstrap="visible")
    assert [b["kind"] for b in resumed] == ["delta"]
    part1 = sorted(
        (r["k"], r["d"])
        for r in ft.read_table(spark, td, version=dv_version).collect()
    )
    part2 = sorted(
        (r["k"], r["d"]) for r in spark.read.parquet(*resumed[0]["paths"]).collect()
    )
    assert sorted(part1 + part2) == want, "resume split must be exactly-once"
    # files mode still refuses that checkpoint
    with pytest.raises(ValueError, match="live delete"):
        ft.incremental_feed(td, since_version=dv_version)


def test_feed_visible_bootstrap_mid_chain_delete_still_raises(spark, tmp_path):
    """Visible mode relaxes only the BOOTSTRAP/RESUME base; a delete
    commit after it still cannot ride an append-only feed."""
    td = str(tmp_path / "vismid")
    mk = lambda rows: spark.createDataFrame(rows, "k long, d long")  # noqa: E731
    ft.create_table(mk([(i, i) for i in range(50)]), td, stats_cols=["d"], n_files=1)
    ft.append_table(mk([(i, i) for i in range(50, 60)]), td, n_files=1)
    ft.delete_positions_dv(spark, td, F.col("k") < 5)
    with pytest.raises(ValueError, match="cannot represent"):
        ft.incremental_feed(td, bootstrap="visible")
    with pytest.raises(ValueError, match="bootstrap must be"):
        ft.incremental_feed(td, bootstrap="mor")


def test_feed_visible_bootstrap_property_random_histories(spark, tmp_path):
    """Property replay (VERDICT r12 item 6 Done-criterion): across
    several delete-then-bootstrap histories (varying delete flavor mix,
    append counts, expiry points and resume splits), delivered rows ==
    visible rows and every resume split is exactly-once."""
    import random

    rng = random.Random(13)
    mk = lambda rows: spark.createDataFrame(rows, "k long, d long")  # noqa: E731
    for case in range(4):
        td = str(tmp_path / f"vprop{case}")
        n0 = 60 + case * 20
        ft.create_table(mk([(i, i) for i in range(n0)]), td, stats_cols=["d"], n_files=2)
        for _ in range(rng.randint(1, 3)):  # delete tier: DVs, possibly stacked
            lo = rng.randint(0, n0 - 10)
            ft.delete_positions_dv(
                spark, td, (F.col("k") >= lo) & (F.col("k") < lo + 7)
            )
        nxt = n0
        n_appends = rng.randint(1, 3)
        for _ in range(n_appends):
            ft.append_table(mk([(i, i) for i in range(nxt, nxt + 15)]), td, n_files=1)
            nxt += 15
        ft.expire_table(td, keep_last=n_appends + 1)  # bootstrap = last DV commit
        feed = ft.incremental_feed(td, bootstrap="visible")
        assert feed[0]["kind"] == "bootstrap-visible"
        got = []
        for b in feed:
            if b["kind"] == "bootstrap-visible":
                got += [
                    (r["k"], r["d"])
                    for r in ft.read_table(spark, td, version=b["read_version"]).collect()
                ]
            elif b["paths"]:
                got += [
                    (r["k"], r["d"]) for r in spark.read.parquet(*b["paths"]).collect()
                ]
        want = sorted((r["k"], r["d"]) for r in ft.read_table(spark, td).collect())
        assert sorted(got) == want, f"case {case}: delivered != visible"
        assert len(got) == len(set(got)), f"case {case}: duplicate delivery"
        # resume split at every retained version of the chain
        for split in [b["version"] for b in feed]:
            before = [
                b for b in feed if b["version"] <= split
            ]
            after = ft.incremental_feed(td, since_version=split, bootstrap="visible")
            got2 = []
            for b in before + after:
                if b["kind"] == "bootstrap-visible":
                    got2 += [
                        (r["k"], r["d"])
                        for r in ft.read_table(
                            spark, td, version=b["read_version"]
                        ).collect()
                    ]
                elif b["paths"]:
                    got2 += [
                        (r["k"], r["d"])
                        for r in spark.read.parquet(*b["paths"]).collect()
                    ]
            assert sorted(got2) == want, f"case {case} split {split}: not exactly-once"


# ---------------------------------------------------------------------------
# round 13 — pruned scans compose with deletion vectors (both planners)
# ---------------------------------------------------------------------------


def test_scan_range_composes_with_dvs_both_planners(spark, li_table, monkeypatch):
    """Zone-map pruning + file-local bitmaps: scan_range on a DV-carrying
    table serves the band's delete-complement exactly, under BOTH
    planning regimes, with identical file+vector sets in the plans."""
    td, df = li_table
    lo, hi = _mid(td, 0.2), _mid(td, 0.4)  # before the DV commit: _mid
    ft.delete_positions_dv(spark, td, F.col("l_orderkey") % 11 == 0)  # reads data stats
    p_drv = ft.plan_scan(td, "ship_dt", lo, hi)
    assert p_drv["dv_entries"], "surviving files must carry their vectors"
    assert p_drv["files_skipped"] > 0, "pruning must still prune"
    p_job = ft.plan_scan_spark(spark, td, "ship_dt", lo, hi)
    assert sorted(p_job["paths"]) == sorted(p_drv["paths"])
    assert (
        sorted((d["path"], d["target"]) for d in p_job["dv_entries"])
        == sorted((d["path"], d["target"]) for d in p_drv["dv_entries"])
    )
    assert p_job["dvd_rows"] == p_drv["dvd_rows"] > 0

    want = sorted(
        (r["l_orderkey"], r["ship_dt"])
        for r in df.filter(
            (F.col("ship_dt") >= F.lit(lo))
            & (F.col("ship_dt") <= F.lit(hi))
            & (F.col("l_orderkey") % 11 != 0)
        ).collect()
    )
    got = sorted(
        (r["l_orderkey"], r["ship_dt"])
        for r in ft.scan_range(spark, td, "ship_dt", lo, hi).collect()
    )
    assert got == want and want, "band ∩ delete-complement, exactly"
    # the job regime serves the same rows (routing forced)
    monkeypatch.setattr(ft, "PLAN_SPARK_THRESHOLD", 0)
    got2 = sorted(
        (r["l_orderkey"], r["ship_dt"])
        for r in ft.scan_range(spark, td, "ship_dt", lo, hi).collect()
    )
    assert got2 == want


def test_scan_box_composes_with_dvs(spark, tmp_path):
    td = str(tmp_path / "boxdv")
    df = spark.createDataFrame(
        [(i, i % 100, float(i)) for i in range(5000)], "a long, b long, v double"
    )
    ft.create_table(df, td, stats_cols=["a", "b"], cluster_by="a", n_files=10)
    ft.delete_positions_dv(spark, td, F.col("a") % 9 == 0)
    preds = {"a": (1000, 3000), "b": (10, 60)}
    got = sorted(
        r["a"] for r in ft.scan_box(spark, td, preds).collect()
    )
    want = sorted(
        r["a"]
        for r in df.filter(
            (F.col("a").between(1000, 3000))
            & (F.col("b").between(10, 60))
            & (F.col("a") % 9 != 0)
        ).collect()
    )
    assert got == want and want


def test_pruned_scan_job_path_never_parses_json_with_dvs(spark, li_table, monkeypatch):
    """The two-level warm path stays JSON-free even with live DVs: plan
    + read resolve through the parquet manifest table, the header
    sidecar, and the plan-carried dv rows."""
    td, df = li_table
    lo, hi = _mid(td, 0.2), _mid(td, 0.4)  # before the DV commit
    ft.delete_positions_dv(spark, td, F.col("l_orderkey") % 11 == 0)
    v = ft.current_manifest_version(td)
    ft.write_manifest_parquet(spark, td, v)  # warm the conversion
    want = ft.scan_range(spark, td, "ship_dt", lo, hi).count()

    def _boom(*a, **k):
        raise AssertionError("warm two-level path must not parse the JSON manifest")

    monkeypatch.setattr(ft, "PLAN_SPARK_THRESHOLD", 0)
    monkeypatch.setattr(ft, "read_manifest", _boom)
    got = ft.scan_range(spark, td, "ship_dt", lo, hi).count()
    assert got == want > 0


def test_pruned_scan_still_raises_on_eq_pos_deletes(spark, li_table):
    td, _df = li_table
    lo, hi = _mid(td, 0.2), _mid(td, 0.4)
    ft.delete_keys_mor(
        spark, td, "l_orderkey", spark.createDataFrame([(1,)], "l_orderkey long")
    )
    with pytest.raises(ValueError, match="equality/position"):
        ft.plan_scan(td, "ship_dt", lo, hi)
    with pytest.raises(ValueError, match="equality/position"):
        ft.plan_scan_spark(spark, td, "ship_dt", lo, hi)


def test_bloom_survives_dv_commits_and_hides_deleted_keys(spark, tmp_path):
    """r13: a deletion-vector commit changes no file contents, so the
    bloom index stays SOUND — the lookup applies the live vectors
    instead of demanding a rebuild. A dv-deleted key returns no row; a
    metadata commit is tolerated too; a DATA commit still raises."""
    td = str(tmp_path / "bloomdv")
    df = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    ft.create_table(df, td, stats_cols=["k"], cluster_by="k", n_files=4)
    ft.build_bloom_index(spark, td, "k", bits=1 << 12)
    assert sorted(
        r["k"] for r in ft.point_lookup(spark, td, "k", [5, 6]).collect()
    ) == [5, 6]
    ft.delete_positions_dv(spark, td, F.col("k") % 100 == 5)  # kills k=5,105,...
    plan = ft.plan_bloom_lookup(td, "k", [5, 6], spark=spark)
    assert plan["dv_entries"] and plan["dvd_rows"] > 0
    got = sorted(r["k"] for r in ft.point_lookup(spark, td, "k", [5, 6, 105]).collect())
    assert got == [6], "dv-deleted keys must not surface; no rebuild required"
    ft.add_column(td, "note", "string")  # metadata commit: still tolerated
    got2 = sorted(r["k"] for r in ft.point_lookup(spark, td, "k", [6]).collect())
    assert got2 == [6]
    ft.append_table(
        spark.range(1000, 1010).select(
            F.col("id").alias("k"), (F.col("id") % 7).alias("v"),
            F.lit(None).cast("string").alias("note"),
        ),
        td, n_files=1,
    )
    with pytest.raises(ValueError, match="rebuild"):
        ft.plan_bloom_lookup(td, "k", [5], spark=spark)


def test_compaction_folds_dvs_inline_and_carries_untouched(spark, tmp_path):
    """r13: compaction composes with live DVs the Iceberg way — a
    rewritten bin applies its files' vectors inline (the new file
    carries only survivors; those vectors drop), while untouched
    singleton files keep their vectors LIVE. Visibility is invariant
    in both regimes."""
    td = str(tmp_path / "compdv")
    n = 1200
    ft.create_table(
        spark.createDataFrame([(i, float(i)) for i in range(n)], "k long, amt double"),
        td, stats_cols=["k"], cluster_by="k", n_files=6,
    )
    ft.delete_positions_dv(spark, td, F.col("k") % 50 == 7)
    want = sorted(r["k"] for r in ft.read_table(spark, td).collect())
    assert len(want) == n - n // 50

    # regime 1: target below every file size -> all singletons, zero
    # rewrites, every vector carried, serve unchanged
    s1 = ft.compact_table(spark, td, target_bytes=1)
    assert s1["files_rewritten"] == 0 and s1["dvs_folded"] == 0
    assert s1["dvs_carried"] == len(
        [e for e in ft.read_manifest(td)["entries"] if e.get("kind") == "dv"]
    ) > 0
    assert sorted(r["k"] for r in ft.read_table(spark, td).collect()) == want

    # regime 2: one giant bin -> every file rewritten, all vectors
    # folded into the rewrite, zero live delete entries remain
    s2 = ft.compact_table(spark, td, target_bytes=1 << 40)
    assert s2["files_rewritten"] == 6 and s2["files_out"] == 1
    assert s2["dvs_folded"] > 0 and s2["dvs_carried"] == 0
    man = ft.read_manifest(td)
    assert not any(e.get("kind") == "dv" for e in man["entries"])
    assert sum(e["rows"] for e in man["entries"]) == len(want), (
        "the rewrite must carry exactly the visible survivors"
    )
    assert sorted(r["k"] for r in ft.read_table(spark, td).collect()) == want


def test_rewrite_layout_folds_all_delete_flavors(spark, tmp_path):
    """r13: a full layout rewrite reads the MOR-applied rows, so every
    delete flavor folds into the new clustering in one O(table) pass —
    visible rows invariant, zero delete entries survive."""
    td = str(tmp_path / "zfold")
    df = spark.createDataFrame(
        [(i, (i * 37) % 1000, float(i)) for i in range(2000)],
        "a long, b long, v double",
    )
    ft.create_table(df, td, stats_cols=["a"], cluster_by="a", n_files=4)
    ft.delete_keys_mor(spark, td, "a", spark.createDataFrame([(7,), (8,)], "a long"))
    ft.delete_positions_dv(spark, td, F.col("a") % 500 == 9)
    want = sorted(r["a"] for r in ft.read_table(spark, td).collect())
    assert len(want) == 2000 - 2 - 4
    s = ft.rewrite_layout(
        spark, td,
        cluster_expr=F.shiftleft(F.col("a") % 64, 6) + F.col("b") % 64,
        stats_cols=["a", "b"],
        n_files=8,
    )
    assert s["delete_files_folded"] >= 2
    man = ft.read_manifest(td)
    assert all(e.get("kind", "data") == "data" for e in man["entries"])
    got = sorted(r["a"] for r in ft.read_table(spark, td).collect())
    assert got == want, "the rewrite must carry exactly the visible rows"


def test_spj_over_budget_skewed_bucket_splits_under_aqe(spark, tmp_path):
    """r13 scale evidence: the over-budget SPJ fallback is a per-bucket
    SORT-MERGE join, which AQE's skew-join splitting can subdivide — a
    hot key inside one bucket becomes several tasks instead of one
    straggler (an unspillable SHJ build would have no such escape), and
    the merge hint holds through AQE replanning (no runtime broadcast
    conversion — checked on the FINAL plan, not the static one).

    The hot bucket must span MULTIPLE map outputs for AQE to split (a
    skewed reduce partition fed by one mapper is atomic) — here via
    appends (several files per bucket); at real scale a bucket's many
    row groups/files provide the mappers automatically. Thresholds are
    forced low so the split fires at test bytes."""
    ta, tb = str(tmp_path / "ska"), str(tmp_path / "skb")

    def mk(lo, hi, hotfrac=0.9):
        n = hi - lo
        hot = [(7, i, float(i)) for i in range(lo, lo + int(n * hotfrac))]
        cold = [
            (i % 40, 1000000 + i, float(i))
            for i in range(lo + int(n * hotfrac), hi)
        ]
        return spark.createDataFrame(hot + cold, "k long, oid long, amt double")

    ft.create_table(mk(0, 40000), ta, stats_cols=["oid"], bucket_by=("k", 4))
    for s in range(3):  # multiple files per bucket = multiple mappers
        ft.append_table(mk(40000 * (s + 1), 40000 * (s + 2)), ta)
    ft.create_table(
        spark.createDataFrame([(j % 40, j) for j in range(4000)], "k2 long, rid long"),
        tb, stats_cols=["rid"], bucket_by=("k2", 4),
    )
    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16k",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8k",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.2",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        j = ft.storage_partitioned_join(
            spark, ta, tb, on=("k", "k2"), broadcast_max_bytes=0
        )
        rows = j.collect()  # action on THIS dataset: AQE finalizes ITS plan
        assert len(rows) == 160000 * 100  # every key matches 100 b-rows
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastExchange" not in plan, (
            "the merge hint must hold through AQE replanning"
        )
        assert "skew=true" in plan, (
            "the hot bucket's sort-merge join must be AQE-skew-split"
        )
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_spj_alignment_survives_the_maintenance_lifecycle(spark, tmp_path):
    """r13: rewrites on a bucket-laid-out table PRESERVE the layout —
    DELETE, UPDATE, CoW MERGE, MOR merge + fold, and compaction all
    re-bucket their output files (ids stamped + commit-time verified),
    so the storage-partitioned join stays shuffle-free across the
    table's whole maintenance lifecycle (previously the first rewrite
    silently dropped the bucket ids and the SPJ raised)."""
    ta, tb = str(tmp_path / "lca"), str(tmp_path / "lcb")
    a = spark.createDataFrame(
        [(i % 40, i, float(i)) for i in range(2000)], "k long, oid long, amt double"
    )
    ft.create_table(a, ta, stats_cols=["oid"], bucket_by=("k", 8))
    ft.create_table(
        spark.createDataFrame([(j, j * 10) for j in range(40)], "k2 long, w long"),
        tb, stats_cols=["w"], bucket_by=("k2", 8),
    )

    def spj_ok(expect_rows):
        j = ft.storage_partitioned_join(spark, ta, tb, on=("k", "k2"))
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan, "alignment lost"
        got = sorted((r["k"], r["oid"]) for r in j.collect())
        want = sorted(
            (r["k"], r["oid"])
            for r in ft.read_table(spark, ta)
            .join(ft.read_table(spark, tb), F.col("k") == F.col("k2"))
            .collect()
        )
        assert got == want and len(got) == expect_rows
        man = ft.read_manifest(ta)
        assert all(
            "bucket" in e
            for e in man["entries"]
            if e.get("kind", "data") == "data"
        ), "a rewrite dropped its bucket ids"

    n = 2000
    ft.delete_where(spark, ta, "oid", 99)  # CoW delete: drops oids 0..99
    n -= 100
    spj_ok(n)
    ft.update_where(spark, ta, "oid", 500, {"amt": F.col("amt") + 1})
    spj_ok(n)
    ft.merge_into(
        spark, ta,
        spark.createDataFrame([(100, -1.0), (50000, -2.0)], "moid long, mamt double"),
        on=("oid", "moid"),
        when_matched_update={"amt": F.col("s.mamt")},
        when_not_matched_insert={
            "k": F.lit(3), "oid": F.col("s.moid"), "amt": F.col("s.mamt")
        },
    )
    n += 1  # one insert
    spj_ok(n)
    ft.merge_into_mor(
        spark, ta,
        spark.createDataFrame([(101, -3.0)], "moid long, mamt double"),
        on=("oid", "moid"),
        when_matched_update={"amt": F.col("s.mamt")},
    )
    ft.fold_deletes(spark, ta)  # fold rewrites match-bearing files
    spj_ok(n)
    s = ft.compact_table(spark, ta, target_bytes=1 << 40)  # per-bucket bins
    assert s["files_rewritten"] > 0
    spj_ok(n)
    man = ft.read_manifest(ta)
    buckets = sorted({e["bucket"] for e in man["entries"]})
    assert buckets == sorted(set(range(8)) & {
        e["bucket"] for e in man["entries"]
    }), "compaction must keep per-bucket file purity"
    # a z-order rewrite REPLACES the layout: SPJ must fall back to a
    # shuffled join (layout cleared), never claim stale alignment
    ft.rewrite_layout(
        spark, ta, cluster_expr=F.col("oid"), stats_cols=["oid"], n_files=4
    )
    assert "layout" not in ft.read_manifest(ta)
    j = ft.storage_partitioned_join(spark, ta, tb, on=("k", "k2"))
    assert j.count() == n, "fallback join must still be exact"


# ---------------------------------------------------------------------------
# round 13 — planted adversarial tests (kills for named wrong rules)
# ---------------------------------------------------------------------------


def test_planted_spj_budget_is_a_sum_not_per_bucket(spark, tmp_path):
    """Kills the per-bucket-only valve: capping each bucket's build
    under the limit while letting ALL of them broadcast leaves driver
    memory at ~the smaller table's bytes — the exact r12 hole. The
    budget must bound the SUM: with a budget that admits roughly one
    bucket's build (in the in-memory denomination — manifest bytes ×
    SPJ_BROADCAST_INFLATION, r13 item 2), the static plan may carry at
    most a few BroadcastExchanges, never one per bucket."""
    ta, tb = _mk_spj_pair(spark, tmp_path)
    man_b = ft.read_manifest(tb)
    per_bucket: dict[int, int] = {}
    for e in man_b["entries"]:
        per_bucket[e["bucket"]] = per_bucket.get(e["bucket"], 0) + e["bytes"]
    smallest = min(per_bucket.values())
    n_buckets = len(per_bucket)
    j = ft.storage_partitioned_join(
        spark, ta, tb, on=("k", "k2"),
        broadcast_max_bytes=int(smallest * ft.SPJ_BROADCAST_INFLATION * 1.5),
    )
    plan = j._jdf.queryExecution().executedPlan().toString()
    n_bcast = plan.count("BroadcastExchange")
    assert 1 <= n_bcast < n_buckets, (
        f"sum-budget must stop broadcast fan-out: {n_bcast}/{n_buckets} "
        "buckets broadcast under a ~one-bucket budget"
    )
    want = sorted(
        map(tuple, ft.storage_partitioned_join(spark, ta, tb, on=("k", "k2")).collect())
    )
    assert sorted(map(tuple, j.collect())) == want


def test_planted_bucket_id_comes_from_manifest_not_file_name(spark, tmp_path):
    """Kills re-parsing the part-file NAME for the bucket id: after a
    bucket-preserving compaction every rewritten file is part-00000-…
    (coalesce(1)), so the name-derived index is 0 for ALL buckets — a
    name-parsing SPJ would pair every compacted bucket as bucket 0 and
    silently return garbage. The manifest field is the only truth, and
    the join must stay exact after compaction."""
    ta, tb = _mk_spj_pair(spark, tmp_path)
    want = sorted(
        map(tuple, ft.storage_partitioned_join(spark, ta, tb, on=("k", "k2")).collect())
    )
    # force multi-file buckets, then compact them back to one file each
    ft.append_table(
        spark.createDataFrame(
            [(i % 40, 10_000 + i, 0.5) for i in range(400)],
            "k long, oid long, amt double",
        ),
        ta,
    )
    s = ft.compact_table(spark, ta, target_bytes=1 << 40)
    assert s["files_rewritten"] > 0
    man = ft.read_manifest(ta)
    mismatched = [
        e for e in man["entries"]
        if int(os.path.basename(e["path"]).split("-")[1]) != e["bucket"]
    ]
    assert mismatched, (
        "the kill needs at least one compacted file whose NAME index "
        "disagrees with its manifest bucket — else the wrong rule survives"
    )
    j = ft.storage_partitioned_join(spark, ta, tb, on=("k", "k2"))
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan
    got = sorted(map(tuple, j.collect()))
    want2 = sorted(
        map(
            tuple,
            ft.read_table(spark, ta)
            .join(ft.read_table(spark, tb), F.col("k") == F.col("k2"))
            .drop("k2")
            .collect(),
        )
    )
    assert got == want2 and len(got) > len(want)


def test_planted_visible_bootstrap_raw_paths_over_deliver(spark, tmp_path):
    """Kills the naive visible-mode consumer that reads the bootstrap's
    RAW data paths anyway: on a DV-carrying bootstrap the raw files
    over-deliver exactly the deleted rows — measurably wrong, which is
    why the bootstrap-visible batch carries NO paths at all (the
    consumer cannot even make the mistake without going around the
    feed)."""
    td = str(tmp_path / "rawkill")
    mk = lambda rows: spark.createDataFrame(rows, "k long, d long")  # noqa: E731
    ft.create_table(mk([(i, i) for i in range(100)]), td, stats_cols=["d"], n_files=2)
    ft.delete_positions_dv(spark, td, F.col("k") < 10)
    ft.append_table(mk([(i, i) for i in range(100, 120)]), td, n_files=1)
    ft.expire_table(td, keep_last=2)
    feed = ft.incremental_feed(td, bootstrap="visible")
    boot = feed[0]
    assert boot["kind"] == "bootstrap-visible" and boot["paths"] == []
    man = ft.read_manifest(td, boot["read_version"])
    raw_paths = [
        os.path.join(td, e["path"])
        for e in man["entries"]
        if e.get("kind", "data") == "data"
    ]
    n_raw = spark.read.parquet(*raw_paths).count()
    n_visible = ft.read_table(spark, td, version=boot["read_version"]).count()
    assert n_raw == n_visible + 10, (
        "the raw-paths rule must be DETECTABLY wrong (over-delivers the "
        "10 dv-deleted rows) — the kill is vacuous otherwise"
    )


# ---------------------------------------------------------------------------
# round 14 — ADVICE r13 fixes + VERDICT r13 items 2/3
# ---------------------------------------------------------------------------


def test_spj_admission_stays_under_in_memory_budget():
    """VERDICT r13 item 2: the admitted build set's ESTIMATED IN-MEMORY
    total (manifest bytes x SPJ_BROADCAST_INFLATION) never exceeds the
    budget — the constant now means what it protects."""
    builds = {i: ft.SPJ_BROADCAST_INFLATION * (100 + 37 * i) for i in range(16)}
    budget = 1000
    admitted = ft._spj_broadcast_admission(builds, budget)
    assert admitted, "some bucket must fit a non-trivial budget"
    assert sum(builds[i] for i in admitted) <= budget
    # the non-admitted buckets genuinely do not fit what remains
    rest = budget - sum(builds[i] for i in admitted)
    assert all(builds[i] > rest for i in set(builds) - admitted)
    # zero budget admits nothing; huge budget admits everything
    assert ft._spj_broadcast_admission(builds, 0) == set()
    assert ft._spj_broadcast_admission(builds, 10**12) == set(builds)


def test_binpack_helper_shared_and_gap_tolerant():
    """VERDICT r13 item 3: one binning rule, both call sites — and the
    sparse mapping tolerates a file larger than the target (bin index
    advances by more than one; the r13 IndexError regression)."""
    entries = [
        {"path": "a", "bytes": 10, "stats": {"d": [1, 2]}},
        {"path": "b", "bytes": 500, "stats": {"d": [3, 4]}},  # >> target
        {"path": "c", "bytes": 10, "stats": {"d": [5, 6]}},
    ]
    bounds = lambda e: tuple(e["stats"]["d"])  # noqa: E731
    bins = ft._binpack_entries(entries, bounds, 100)
    assert [[e["path"] for e in b] for b in bins] == [["a", "b"], ["c"]]
    # one entry per bin at a tiny target; order by min bound
    bins2 = ft._binpack_entries(entries, bounds, 1)
    assert [[e["path"] for e in b] for b in bins2] == [["a"], ["b"], ["c"]]


def test_merge_checkpoint_blocks_freed_after_commit(spark, tmp_path):
    """ADVICE r13: merge verbs release their eager localCheckpoint
    blocks once the commit lands — the persistent-RDD count returns to
    its pre-merge baseline (repeated merges in a long session no longer
    accumulate executor storage)."""
    td = str(tmp_path / "ckfree")
    ft.create_table(
        spark.createDataFrame([(i, float(i)) for i in range(40)], "k long, x double"),
        td, stats_cols=["k"], n_files=2,
    )
    n_rdds = lambda: spark.sparkContext._jsc.getPersistentRDDs().size()  # noqa: E731
    base = n_rdds()
    src = spark.createDataFrame([(5, 99.0), (100, 1.0)], "k long, x double")
    ft.merge_into(
        spark, td, src, on=("k", "k"),
        when_matched_update={"x": F.col("s.x")},
        when_not_matched_insert={"k": F.col("s.k"), "x": F.col("s.x")},
    )
    assert n_rdds() == base, "CoW merge leaked checkpoint blocks"
    ft.merge_into_mor(
        spark, td, src.withColumn("x", F.col("x") + 1), on=("k", "k"),
        when_matched_update={"x": F.col("s.x")},
        when_not_matched_insert={"k": F.col("s.k"), "x": F.col("s.x")},
    )
    assert n_rdds() == base, "MOR merge leaked checkpoint blocks"
    # and the verb still committed correctly (the free is post-commit)
    got = {r["k"]: r["x"] for r in ft.read_table(spark, td).collect()}
    assert got[5] == 100.0 and got[100] == 2.0


def test_gc_orphans_expensive_phase_runs_outside_lock(spark, tmp_path, monkeypatch):
    """ADVICE r13: the reference-set union and candidate walk run
    OUTSIDE the commit lock; only the re-verify-and-delete phase takes
    it. Pinned by holding the lock while GC runs in a thread: the union
    completes while the lock is still held, the deletion does not."""
    import threading
    import time

    td = str(tmp_path / "gcphase")
    ft.create_table(
        spark.createDataFrame([(1, 2)], "a long, b long"), td,
        stats_cols=["b"], n_files=1,
    )
    orphan = os.path.join(td, "data", "c009998")
    spark.createDataFrame([(9, 9)], "a long, b long").coalesce(1).write.parquet(orphan)
    union_done = threading.Event()
    gc_done = threading.Event()
    orig = ft._referenced_paths_auto

    def traced(*a, **k):
        out = orig(*a, **k)
        union_done.set()
        return out

    monkeypatch.setattr(ft, "_referenced_paths_auto", traced)
    res = {}

    def run():
        res.update(ft.gc_orphans(td, grace_seconds=0, now=time.time() + 10))
        gc_done.set()

    with ft._commit_lock(td):
        t = threading.Thread(target=run)
        t.start()
        assert union_done.wait(30), "the union must run without the lock"
        time.sleep(0.5)
        assert not gc_done.is_set(), "deletion must still wait for the lock"
    t.join(30)
    assert gc_done.is_set() and res["files_removed"] == 1


def test_gc_orphans_reverify_spares_files_registered_mid_walk(
    spark, tmp_path, monkeypatch
):
    """ADVICE r13 safety: a candidate whose registration commits between
    the unlocked walk and the locked delete phase survives — the locked
    phase folds the delta manifest versions into the reference set."""
    import time

    td = str(tmp_path / "gcverify")
    ft.create_table(
        spark.createDataFrame([(1, 2)], "a long, b long"), td,
        stats_cols=["b"], n_files=1,
    )
    staged = os.path.join(td, "data", "import9")
    spark.createDataFrame([(7, 7)], "a long, b long").coalesce(1).write.parquet(staged)
    orig = ft._referenced_paths_auto
    calls = {"n": 0}

    def racing(*a, **k):
        out = orig(*a, **k)
        calls["n"] += 1
        if calls["n"] == 1:  # between phase 1 and phase 2: a commit lands
            ft.add_files(spark, td, os.path.join("data", "import9"))
        return out

    monkeypatch.setattr(ft, "_referenced_paths_auto", racing)
    res = ft.gc_orphans(td, grace_seconds=0, now=time.time() + 10)
    assert res["files_removed"] == 0, "registered-mid-walk file must survive"
    assert ft.read_table(spark, td).count() == 2
    assert calls["n"] == 2, "the locked phase must re-union the delta versions"


def test_rebucket_imported_restores_spj_and_compaction(spark, tmp_path):
    """ADVICE r13: add_files on a bucketed table wedges SPJ and
    bucket-preserving compaction; rebucket_imported is the explicit
    escape — after it, both verbs work and rows are exact."""
    ta, tb = _mk_spj_pair(spark, tmp_path)
    want = sorted(
        map(tuple, ft.storage_partitioned_join(spark, ta, tb, on=("k", "k2")).collect())
    )
    imp = os.path.join(ta, "data", "import1")
    extra = spark.createDataFrame(
        [(i % 40, 20_000 + i, 2.5) for i in range(80)], "k long, oid long, amt double"
    )
    extra.coalesce(1).write.parquet(imp)
    ft.add_files(spark, ta, os.path.join("data", "import1"))
    with pytest.raises(ValueError, match="rebucket_imported"):
        ft.storage_partitioned_join(spark, ta, tb, on=("k", "k2"))
    with pytest.raises(ValueError, match="rebucket_imported"):
        ft.compact_table(spark, ta, target_bytes=1 << 40)
    s = ft.rebucket_imported(spark, ta)
    assert s["files_rebucketed"] == 1 and s["files_out"] >= 1
    man = ft.read_manifest(ta)
    assert all(
        "bucket" in e for e in man["entries"] if e.get("kind", "data") == "data"
    )
    j = ft.storage_partitioned_join(spark, ta, tb, on=("k", "k2"))
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan, "alignment must be restored"
    extra_want = sorted(
        map(
            tuple,
            extra.alias("e")
            .join(
                ft.read_table(spark, tb).alias("b"),
                F.col("e.k") == F.col("b.k2"),
            )
            .select("e.k", "e.oid", "e.amt", "b.rid", "b.w")
            .collect(),
        )
    )
    assert sorted(map(tuple, j.collect())) == sorted(want + extra_want)
    s2 = ft.compact_table(spark, ta, target_bytes=1 << 40)
    assert s2["files_rewritten"] > 0, "compaction must work post-rebucket"
    # idempotent: nothing left to re-bucket; no commit happens
    v = ft.current_manifest_version(ta)
    s3 = ft.rebucket_imported(spark, ta)
    assert s3["files_rebucketed"] == 0 and ft.current_manifest_version(ta) == v


def test_rebucket_imported_folds_dvs_and_guards(spark, tmp_path):
    """rebucket_imported folds a vector on an imported file into the
    rewrite (survivors only), keeps untouched files' vectors live, and
    raises on unbucketed tables and live eq/pos deletes."""
    ta, _tb = _mk_spj_pair(spark, tmp_path)
    imp = os.path.join(ta, "data", "import2")
    spark.createDataFrame(
        [(i % 40, 30_000 + i, 1.0) for i in range(40)], "k long, oid long, amt double"
    ).coalesce(1).write.parquet(imp)
    ft.add_files(spark, ta, os.path.join("data", "import2"))
    ft.delete_positions_dv(spark, ta, F.col("oid") >= 30_020)  # hits the import
    want = sorted(map(tuple, ft.read_table(spark, ta).collect()))
    s = ft.rebucket_imported(spark, ta)
    assert s["dvs_folded"] >= 1
    assert sorted(map(tuple, ft.read_table(spark, ta).collect())) == want
    # guards
    tu = str(tmp_path / "unbucketed")
    ft.create_table(
        spark.createDataFrame([(1, 2)], "a long, b long"), tu,
        stats_cols=["b"], n_files=1,
    )
    with pytest.raises(ValueError, match="bucket-laid-out"):
        ft.rebucket_imported(spark, tu)


# ---------------------------------------------------------------------------
# round 14 — base+delta manifests (VERDICT r13 item 1)
# ---------------------------------------------------------------------------


def _mk_delta_table(spark, tmp_path, name="dlt"):
    td = str(tmp_path / name)
    mk = lambda rows: spark.createDataFrame(rows, "k long, d long, x double")  # noqa: E731
    ft.create_table(
        mk([(i, i, float(i)) for i in range(100)]), td, stats_cols=["d"], n_files=4
    )
    return td, mk


def test_delta_commits_never_compose_full_entry_list(
    spark, tmp_path, monkeypatch
):
    """THE r14 routing kill (VERDICT r13 item 1 done-criterion): past
    the threshold a DELETE / UPDATE / MERGE / MOR-merge / append / DV
    delete commits a manifest DELTA, and the feed, the changelog and
    the reads all run with full-entry-list composition monkeypatched to
    EXPLODE — row-equal results throughout."""
    td, mk = _mk_delta_table(spark, tmp_path)
    monkeypatch.setattr(ft, "PLAN_SPARK_THRESHOLD", 0)

    def boom(*a, **k):
        raise AssertionError(
            "past the threshold nothing may compose the full entry list"
        )

    monkeypatch.setattr(ft, "_compose_full_entries", boom)
    ft.append_table(mk([(i, i, float(i)) for i in range(100, 120)]), td, n_files=1)
    s = ft.delete_where(spark, td, "d", 9)
    assert s["rows_deleted"] == 10
    assert ft.read_table(spark, td).count() == 110
    s = ft.update_where(spark, td, "d", 19, {"x": F.col("x") + 1000})
    assert s["rows_updated"] == 10
    src = spark.createDataFrame([(50, 1), (500, 2)], "k long, n long")
    s = ft.merge_into(
        spark, td, src, on=("k", "k"),
        when_matched_update={"x": F.lit(-1.0)},
        when_not_matched_insert={
            "k": F.col("s.k"), "d": F.col("s.n"), "x": F.lit(0.0),
        },
    )
    assert s["rows_inserted"] == 1 and s["files_rewritten"] == 1
    s = ft.merge_into_mor(
        spark, td, src.withColumn("n", F.col("n") + 5), on=("k", "k"),
        when_matched_update={"x": F.lit(-2.0)},
        when_not_matched_insert={
            "k": F.col("s.k"), "d": F.col("s.n"), "x": F.lit(0.5),
        },
    )
    assert s["delete_keys"] == 2
    got = {r["k"]: r["x"] for r in ft.read_table(spark, td).collect()}
    assert len(got) == 111 and got[50] == -2.0 and got[500] == -2.0
    # DV delete composes too (fold first would raise on live eqdeletes —
    # fold is a full-path verb, so clear MOR state BEFORE the explode
    # window in a second table instead)
    feed_kinds = None
    td2, mk2 = _mk_delta_table(spark, tmp_path, "dlt2")
    ft.append_table(mk2([(i, i, 0.0) for i in range(100, 110)]), td2, n_files=1)
    s = ft.delete_positions_dv(spark, td2, F.col("d") == 3)
    assert s["rows_pos_deleted"] == 1
    assert ft.read_table(spark, td2).count() == 109
    # fold delta-commits too (r14): delete entries + touched files out,
    # rewritten survivors in — still zero full-entry composition
    s = ft.fold_deletes(spark, td2)
    assert s["delete_files_folded"] == 1 and s["files_rewritten"] >= 1
    assert ft.read_table(spark, td2).count() == 109
    # feed + changelog on an append-only delta history
    td3, mk3 = _mk_delta_table(spark, tmp_path, "dlt3")
    ft.append_table(mk3([(i, i, 0.0) for i in range(100, 110)]), td3, n_files=1)
    ft.append_table(mk3([(i, i, 0.0) for i in range(110, 120)]), td3, n_files=1)
    feed = ft.incremental_feed(td3)
    feed_kinds = [b["kind"] for b in feed]
    assert feed_kinds == ["bootstrap", "delta", "delta"]
    assert len(feed[0]["paths"]) == 4 and len(feed[1]["paths"]) == 1
    feed2 = ft.incremental_feed(td3, since_version=feed[1]["version"])
    assert [b["kind"] for b in feed2] == ["delta"]
    head = ft.current_manifest_version(td3)
    plan = ft.plan_changelog(td3, 1, head, spark=spark)
    assert plan["mode"] == "delta" and len(plan["added"]) == 2
    ch = ft.changelog_table(spark, td3, 1, head)
    assert ch.count() == 20
    assert {r["_change_type"] for r in ch.collect()} == {"insert"}


def _assert_current_format(td) -> int:
    """The on-disk invariant filetable's readers rely on, checked over
    every manifest FILE on disk (not ``_manifest_versions``, which lists
    only versions with a header): each has a header carrying
    ``n_entries`` (exact), ``form`` and ``schema``; each full or
    external version has its entry log; and every parquet manifest table
    the verbs materialised has the ``key_cols``/``target``/``bucket``
    columns. Returns the number of manifest tables checked."""
    import pyarrow.parquet as pq

    meta = os.path.join(td, "metadata")
    versions = sorted(
        int(n[1:7]) for n in os.listdir(meta)
        if n.startswith("m") and n.endswith(".json")
    )
    assert versions
    tables = 0
    for v in versions:
        assert os.path.exists(ft._header_path(td, v)), f"v{v} has no header"
        hdr = ft.read_manifest_header(td, v)
        assert {"n_entries", "form", "schema"} <= set(hdr), (v, sorted(hdr))
        assert hdr["n_entries"] == len(ft.read_manifest(td, v)["entries"]), v
        if hdr["form"] in ("full", "external"):
            assert os.path.exists(ft._entries_jsonl_path(td, v)), f"v{v} has no log"
        else:
            assert hdr["form"] == "delta", (v, hdr["form"])
        pdir = ft.manifest_parquet_dir(td, v)
        if os.path.isdir(pdir):
            cols = pq.ParquetDataset(pdir).schema.names
            assert {"key_cols", "target", "bucket"} <= set(cols), (v, cols)
            tables += 1
    return tables


def test_delta_regime_row_and_state_equal_to_full_regime(spark, tmp_path):
    """The same verb history under the delta regime (threshold 0) and
    the classic regime resolves to the SAME entries (by id and row/byte
    accounting) and the same visible rows — and in both regimes every
    version the verbs commit is in the current on-disk format
    (``_assert_current_format``)."""
    results = {}
    for regime, thr in (("full", None), ("delta", 0)):
        td, mk = _mk_delta_table(spark, tmp_path, f"eq_{regime}")
        old = ft.PLAN_SPARK_THRESHOLD
        if thr is not None:
            ft.PLAN_SPARK_THRESHOLD = thr
        try:
            ft.append_table(mk([(i, i, 1.0) for i in range(100, 140)]), td, n_files=2)
            ft.delete_where(spark, td, "d", 24)
            ft.update_where(spark, td, "d", 60, {"x": F.lit(7.0)})
            src = spark.createDataFrame([(70, 9), (700, 9)], "k long, n long")
            ft.merge_into(
                spark, td, src, on=("k", "k"),
                when_matched_update={"x": F.lit(-3.0)},
                when_not_matched_insert={
                    "k": F.col("s.k"), "d": F.col("s.n"), "x": F.lit(0.25),
                },
            )
            ft.delete_positions_dv(spark, td, F.col("d") == 50)
            ft.compact_table(spark, td, target_bytes=1 << 30)
            mk([(900, 900, 9.0), (901, 901, 9.0)]).coalesce(1).write.parquet(
                os.path.join(td, "data", "imported")
            )
            ft.add_files(spark, td, os.path.join("data", "imported"))
            ft.create_branch(td, "b")
            ft.append_table(mk([(950, 950, 0.5)]), td, n_files=1, branch="b")
            ft.merge_into_mor(
                spark, td, spark.createDataFrame([(101, 1)], "k long, n long"),
                on=("k", "k"), when_matched_update={"x": F.lit(-1.0)},
            )
            # the job-path verbs materialise manifest tables
            n_tables = _assert_current_format(td)
            assert thr is None or n_tables > 0
        finally:
            ft.PLAN_SPARK_THRESHOLD = old
        man = ft.read_manifest(td)
        results[regime] = {
            "rows": sorted(map(tuple, ft.read_table(spark, td).collect())),
            "rowsum": sum(
                e["rows"] for e in man["entries"]
                if e.get("kind", "data") == "data"
            ),
            "kinds": sorted(
                e.get("kind", "data") for e in man["entries"]
            ),
        }
    assert results["full"]["rows"] == results["delta"]["rows"]
    assert results["full"]["rowsum"] == results["delta"]["rowsum"]
    assert results["full"]["kinds"] == results["delta"]["kinds"]


def test_delta_chain_materializes_at_cap_and_streams(
    spark, tmp_path, monkeypatch
):
    """The MANIFEST_DELTA_MAX_CHAIN-th delta commit materializes an
    external-full snapshot (chain resets; deeper reads never walk more
    than the cap) and the external form resolves row-equal from its own
    entry log. The chain's full base carries a header without ``form``,
    as full headers were written before they recorded it (persisted
    tables, e.g. published lakehouse artifacts, hold them): it still
    classifies as full."""
    import json

    td, mk = _mk_delta_table(spark, tmp_path)
    hp = ft._header_path(td, 1)
    with open(hp) as f:
        hdr = json.load(f)
    assert hdr.pop("form") == "full"
    with open(hp, "w") as f:
        json.dump(hdr, f)
    assert ft._manifest_form(td, 1) == ("full", None)
    monkeypatch.setattr(ft, "PLAN_SPARK_THRESHOLD", 0)
    for i in range(ft.MANIFEST_DELTA_MAX_CHAIN + 2):
        ft.append_table(mk([(1000 + i, 1000 + i, 0.0)]), td, n_files=1)
    forms = [ft._manifest_form(td, v)[0] for v in ft._manifest_versions(td)]
    assert "external" in forms, f"no materialization in {forms}"
    ext_v = ft._manifest_versions(td)[forms.index("external")]
    # external resolves from its own log, chain-free
    assert ft._delta_chain_depth(td, ext_v) == 0
    man = ft.read_manifest(td, ext_v)
    # v1 holds 100 rows; each later version appends exactly one row
    assert sum(e["rows"] for e in man["entries"]) == 100 + (ext_v - 1)
    assert ft.read_table(spark, td).count() == 100 + ft.MANIFEST_DELTA_MAX_CHAIN + 2


def test_delta_jsonl_roundtrip_lossless():
    """_entry_to_rec/_rec_to_entry: bucket, kinds, key_cols, target and
    bounds survive; None stats slots elide with identical semantics."""
    import json

    stats = {"d": "long", "s": "string"}
    entries = [
        {"path": "data/c1/a.parquet", "rows": 5, "bytes": 100, "seq": 3,
         "stats": {"d": [1, 9], "s": None}, "nulls": {"d": 0, "s": 2},
         "bucket": 7},
        {"path": "data/c2/k.parquet", "rows": 2, "bytes": 50, "seq": 4,
         "stats": {}, "nulls": {}, "kind": "eqdelete", "key_cols": ["k"]},
        {"path": "data/c3/dv.parquet", "rows": 3, "bytes": 60, "seq": 5,
         "stats": {}, "nulls": {}, "kind": "dv", "target": "a.parquet"},
    ]
    cols = list(stats)
    back = [
        ft._rec_to_entry(json.loads(json.dumps(ft._entry_to_rec(e, cols))), cols)
        for e in entries
    ]
    assert back[0]["bucket"] == 7 and back[0]["stats"]["d"] == [1, 9]
    assert back[0]["stats"].get("s") is None and back[0]["nulls"]["s"] == 2
    assert back[1]["kind"] == "eqdelete" and back[1]["key_cols"] == ["k"]
    assert back[2]["target"] == "a.parquet" and back[2]["rows"] == 3
    for e, b in zip(entries, back):
        assert (b["path"], b["rows"], b["bytes"], b["seq"]) == (
            e["path"], e["rows"], e["bytes"], e["seq"]
        )


def test_delta_commit_conflict_and_append_rebase(spark, tmp_path, monkeypatch):
    """Optimistic concurrency survives the delta path: a non-append
    delta commit planned from a stale base raises CommitConflictError;
    an append rebases onto the winner (disjoint by construction)."""
    td, mk = _mk_delta_table(spark, tmp_path)
    monkeypatch.setattr(ft, "PLAN_SPARK_THRESHOLD", 0)
    ft.append_table(mk([(200, 200, 0.0)]), td, n_files=1)
    base = ft._manifest_for_write(td)
    assert base["entries"] is None, "past the threshold the header view"
    # a concurrent append lands after planning
    ft.append_table(mk([(201, 201, 0.0)]), td, n_files=1)
    with pytest.raises(ft.CommitConflictError):
        ft._commit_update(
            td, base, operation="delete", summary={},
            removed_ids=[("data/c000001/x.parquet", None)],
            added_entries=[], adds_files=False,
        )
    # append_table itself rebases: plan, interpose a winner, commit
    orig = ft._write_commit
    done = {"interposed": False}

    def interpose(*a, **k):
        out = orig(*a, **k)
        if not done["interposed"]:
            done["interposed"] = True
            ft.append_table(mk([(300, 300, 0.0)]), td, n_files=1)
        return out

    monkeypatch.setattr(ft, "_write_commit", interpose)
    ft.append_table(mk([(301, 301, 0.0)]), td, n_files=1)
    assert ft.read_table(spark, td).count() == 104
    got = {r["k"] for r in ft.read_table(spark, td).collect()}
    assert {300, 301} <= got


def test_expire_materializes_survivor_before_dropping_its_base(
    spark, tmp_path, monkeypatch
):
    """The delta retention invariant: expiring a surviving delta's base
    first materializes the survivor (external-full), so reads stay
    row-equal and the reference union never walks a dangling chain —
    and a BROKEN invariant raises instead of under-counting."""
    import time

    td, mk = _mk_delta_table(spark, tmp_path)
    monkeypatch.setattr(ft, "PLAN_SPARK_THRESHOLD", 0)
    for i in range(3):
        ft.append_table(mk([(400 + i, 400 + i, 0.0)]), td, n_files=1)
    head = ft.current_manifest_version(td)
    assert ft._manifest_form(td, head)[0] == "delta"
    want = sorted(map(tuple, ft.read_table(spark, td).collect()))
    res = ft.expire_table(td, keep_last=1, spark=spark)
    assert res["manifests_removed"], "bases must actually expire"
    assert ft._manifest_form(td, head)[0] == "external", "survivor materialized"
    assert sorted(map(tuple, ft.read_table(spark, td).collect())) == want
    ft.gc_orphans(td, grace_seconds=0, now=time.time() + 10, spark=spark)
    assert sorted(map(tuple, ft.read_table(spark, td).collect())) == want
    # broken invariant: a delta whose base manifest is deleted raises
    td2, mk2 = _mk_delta_table(spark, tmp_path, "dlt_broken")
    ft.append_table(mk2([(1, 1, 0.0)]), td2, n_files=1)
    ft.append_table(mk2([(2, 2, 0.0)]), td2, n_files=1)
    vs = ft._manifest_versions(td2)
    os.remove(ft._manifest_path(td2, vs[1]))
    os.remove(ft._header_path(td2, vs[1]))
    with pytest.raises(ValueError, match="retention invariant"):
        ft._referenced_paths_driver(td2, [v for v in vs if v != vs[1]])


def test_delta_regime_property_random_histories(spark, tmp_path, monkeypatch):
    """Property replay for the r14 delta format: the SAME randomized
    verb history (appends, range deletes, updates, merges, DV deletes,
    interleaved) runs once in the classic regime and once with the
    planning threshold at zero (every commit a delta). At every step the
    visible rows must match, and at the end every retained version must
    resolve to the same row multiset through time travel — one wrong
    removed/added id anywhere in any chain breaks a step."""
    import random

    mk = lambda rows: spark.createDataFrame(rows, "k long, d long, x double")  # noqa: E731

    def run(td: str, thr: int | None, seed: int) -> list[list[tuple]]:
        rng = random.Random(seed)
        old = ft.PLAN_SPARK_THRESHOLD
        if thr is not None:
            monkeypatch.setattr(ft, "PLAN_SPARK_THRESHOLD", thr)
        try:
            n0 = 80
            ft.create_table(
                mk([(i, i, float(i)) for i in range(n0)]), td,
                stats_cols=["d"], n_files=3,
            )
            nxt = n0
            snaps = []
            has_dv = False
            for _step in range(6):
                # CoW verbs refuse live delete state (documented boundary),
                # so once a DV lands the history stays in the MOR family —
                # the verb sequence is still seed-deterministic across
                # regimes
                verb = rng.choice(
                    ["append", "dv"]
                    if has_dv
                    else ["append", "delete", "update", "merge", "dv"]
                )
                if verb == "append":
                    ft.append_table(
                        mk([(i, i, 0.5) for i in range(nxt, nxt + 12)]), td,
                        n_files=1,
                    )
                    nxt += 12
                elif verb == "delete":
                    ft.delete_where(spark, td, "d", rng.randint(0, 15))
                elif verb == "update":
                    ft.update_where(
                        spark, td, "d", rng.randint(10, 30),
                        {"x": F.col("x") + 1},
                    )
                elif verb == "merge":
                    m = rng.randint(5, 9)
                    src = spark.createDataFrame(
                        [(k, float(k)) for k in range(0, nxt, m)],
                        "sk long, sx double",
                    )
                    ft.merge_into(
                        spark, td, src, on=("k", "sk"),
                        when_matched_update={"x": F.col("s.sx") * 2},
                    )
                else:
                    m = rng.randint(11, 19)
                    ft.delete_positions_dv(spark, td, F.col("k") % m == 0)
                    has_dv = True
                snaps.append(
                    sorted(map(tuple, ft.read_table(spark, td).collect()))
                )
            # every retained version time-travels to a consistent state
            for v in ft._manifest_versions(td):
                snaps.append(
                    sorted(
                        map(tuple, ft.read_table(spark, td, version=v).collect())
                    )
                )
        finally:
            monkeypatch.setattr(ft, "PLAN_SPARK_THRESHOLD", old)
        return snaps

    for seed in (7, 21):
        a = run(str(tmp_path / f"full{seed}"), None, seed)
        b = run(str(tmp_path / f"delta{seed}"), 0, seed)
        assert a == b, f"seed {seed}: regimes diverged"


def test_planted_delta_removal_is_by_id_not_path(spark, tmp_path, monkeypatch):
    """Kills a path-keyed delta removal rule: DV entries SHARE one
    sidecar path across targets (bytes charged to the first entry), so
    a delta that removed by path alone would nuke the sibling target's
    vector when a later commit supersedes only ONE of them — silently
    resurrecting that file's deleted rows. Removal must key on
    (path, target)."""
    td = str(tmp_path / "dvid")
    mk = lambda rows: spark.createDataFrame(rows, "k long, d long")  # noqa: E731
    ft.create_table(mk([(i, i) for i in range(60)]), td, stats_cols=["d"], n_files=3)
    monkeypatch.setattr(ft, "PLAN_SPARK_THRESHOLD", 0)
    # one commit, two targets -> two dv entries sharing ONE sidecar path
    ft.delete_positions_dv(spark, td, (F.col("k") == 5) | (F.col("k") == 45))
    dvs = [
        e for e in ft.read_manifest(td)["entries"] if e.get("kind") == "dv"
    ]
    assert len(dvs) == 2 and len({e["path"] for e in dvs}) == 1, (
        "precondition: two targets must share one sidecar"
    )
    # supersede ONLY the bucket holding k=5 (same file: k in [0,20))
    ft.delete_positions_dv(spark, td, F.col("k") == 6)
    got = sorted(r["k"] for r in ft.read_table(spark, td).collect())
    assert 45 not in got, "sibling target's vector was dropped with the path"
    assert 5 not in got and 6 not in got
    assert len(got) == 57


def test_planted_gc_keeps_delta_removed_but_base_referenced_files(
    spark, tmp_path, monkeypatch
):
    """Kills a union rule that reads a delta commit's REMOVED ids as
    unreferenced: a file dropped by a delta DELETE is still referenced
    by the retained base version (time travel serves it) — GC must keep
    it until expiry actually removes that base."""
    import time

    td = str(tmp_path / "gcdelta")
    mk = lambda rows: spark.createDataFrame(rows, "k long, d long")  # noqa: E731
    ft.create_table(mk([(i, i) for i in range(40)]), td, stats_cols=["d"], n_files=2)
    monkeypatch.setattr(ft, "PLAN_SPARK_THRESHOLD", 0)
    # cutoff = the smaller file max bound -> at least one file leaves
    # the current snapshot (dropped or rewritten; tiny-data range
    # clustering can overlap, so the split is computed, not assumed)
    man = ft.read_manifest(td)
    v1_paths = {e["path"] for e in man["entries"]}
    cutoff = sorted(int(e["stats"]["d"][1]) for e in man["entries"])[0]
    s = ft.delete_where(spark, td, "d", cutoff)
    assert s["files_dropped_metadata"] + s["files_rewritten"] >= 1
    v2_paths = {e["path"] for e in ft.read_manifest(td)["entries"]}
    gone = v1_paths - v2_paths
    assert gone, "precondition: some file must be delta-removed"
    v1 = ft._manifest_versions(td)[0]
    res = ft.gc_orphans(td, grace_seconds=0, now=time.time() + 10, spark=spark)
    assert res["files_removed"] == 0, "base-referenced files must survive GC"
    assert ft.read_table(spark, td, version=v1).count() == 40, (
        "time travel to the base must still serve the removed files"
    )
    # expiry owns the removal: once the base goes, exactly those files go
    res = ft.expire_table(td, keep_last=1, spark=spark)
    assert res["data_files_removed"] == len(gone)
    assert ft.read_table(spark, td).count() == 40 - (cutoff + 1)


def test_compaction_two_level_bins_and_delta_commit(
    spark, tmp_path, monkeypatch
):
    """r14: past the threshold compaction BINS as a window job over the
    parquet manifest table and commits a delta — same bins, same rows,
    same file accounting as the driver path, with full-entry composition
    exploded; the bucketed layout (and SPJ alignment) survives."""
    mk = lambda rows: spark.createDataFrame(rows, "k long, d long, x double")  # noqa: E731
    results = {}
    for regime, thr in (("full", None), ("delta", 0)):
        td = str(tmp_path / f"cmp_{regime}")
        ft.create_table(
            mk([(i, i, float(i)) for i in range(120)]), td,
            stats_cols=["d"], n_files=4,
        )
        for j in range(3):
            ft.append_table(
                mk([(i, i, 0.0) for i in range(120 + 30 * j, 150 + 30 * j)]),
                td, n_files=2,
            )
        ft.delete_positions_dv(spark, td, F.col("d") % 31 == 0)
        if thr is not None:
            monkeypatch.setattr(ft, "PLAN_SPARK_THRESHOLD", thr)

            def boom(*a, **k):
                raise AssertionError("compaction composed the full list")

            monkeypatch.setattr(ft, "_compose_full_entries", boom)
        try:
            s = ft.compact_table(spark, td, target_bytes=1 << 40)
        finally:
            monkeypatch.undo()  # restore threshold + composition
        results[regime] = {
            "rows": sorted(map(tuple, ft.read_table(spark, td).collect())),
            "bins": s["bins"],
            "files_rewritten": s["files_rewritten"],
            "files_untouched": s["files_untouched"],
            "dvs_folded": s["dvs_folded"],
            "dvs_carried": s["dvs_carried"],
        }
    assert results["full"] == results["delta"], (
        f"two-level compaction diverged: {results}"
    )
    assert results["delta"]["files_rewritten"] > 0


def test_compaction_two_level_bucketed_preserves_spj(spark, tmp_path, monkeypatch):
    """The job binning respects bucket boundaries: a bucketed pair
    compacted in the delta regime keeps per-bucket file purity and the
    SPJ stays aligned and exact."""
    ta, tb = _mk_spj_pair(spark, tmp_path)
    want = sorted(
        map(tuple, ft.storage_partitioned_join(spark, ta, tb, on=("k", "k2")).collect())
    )
    ft.append_table(
        spark.createDataFrame(
            [(i % 40, 50_000 + i, 0.25) for i in range(200)],
            "k long, oid long, amt double",
        ),
        ta,
    )
    extra = sorted(
        map(
            tuple,
            spark.createDataFrame(
                [(i % 40, 50_000 + i, 0.25) for i in range(200)],
                "k long, oid long, amt double",
            )
            .alias("e")
            .join(ft.read_table(spark, tb).alias("b"), F.col("e.k") == F.col("b.k2"))
            .select("e.k", "e.oid", "e.amt", "b.rid", "b.w")
            .collect(),
        )
    )
    monkeypatch.setattr(ft, "PLAN_SPARK_THRESHOLD", 0)
    s = ft.compact_table(spark, ta, target_bytes=1 << 40)
    assert s["files_rewritten"] > 0
    man = ft.read_manifest(ta)
    assert all(
        "bucket" in e for e in man["entries"] if e.get("kind", "data") == "data"
    ), "job binning must stamp inherited bucket ids"
    j = ft.storage_partitioned_join(spark, ta, tb, on=("k", "k2"))
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan
    assert sorted(map(tuple, j.collect())) == sorted(want + extra)
