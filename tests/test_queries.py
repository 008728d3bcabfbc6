"""Registry contract + smoke for every registered query at sf0.001.

The driver's full DuckDB comparison runs via tools/verify_local.py; here we
assert the structural contract (names, oracles, column aliasing) and that
every query executes and returns rows at the smallest scale factor.
"""

from __future__ import annotations

import pytest

from spark_iceberg_jobs_spark.queries import registry

REG = registry()


def test_registry_nonempty_and_oracle_coverage():
    assert len(REG) >= 35
    oracled = [n for n, s in REG.items() if s.oracle]
    assert len(oracled) / len(REG) > 0.8, "most queries must be DuckDB-verifiable"


def test_headline_queries_marked():
    assert sum(1 for s in REG.values() if s.headline) >= 8


@pytest.mark.parametrize("name", sorted(REG))
def test_query_runs_at_smoke_sf(spark, sf_dir, name):
    df = REG[name].fn(spark, sf_dir)
    rows = df.limit(2000).collect()
    if name.startswith(
        ("dedup_ngram", "dedup_minhash", "dedup_simhash", "sim_lsh", "dedup_embedding_cosine_b")
    ):
        return  # near-dup pair counts may legitimately be 0 at sf0.001
    if name == "q7_nation_volume":
        return  # the specific nation pair may have no trade at 10-supplier scale
    assert rows, f"{name} returned 0 rows at smoke scale"


def test_driver_window_r14_policy():
    """The post-rotation window policy (documented in queries/__init__.py):
    permanent keeps + queries whose plan changed since their last driver
    verdict + never-scored new entries + the STALEST prior verdicts
    (oldest round first, alphabetical within a round). Staleness is
    evaluated ONLY against the artifacts that existed at window-composition
    time (r01-r13, pinned below) — the r6 lesson: a glob matching the
    current round's own artifact makes the test self-invalidating the
    moment the driver commits results.

    The per-tier COUNTS stay machine-owned (VERDICT r9 item 3 / r10 item
    2): every tier's expected membership is COMPUTED here from the
    frozen artifacts and the curated lists must match it exactly — no
    hand-written counts anywhere to drift."""
    import glob
    import json
    import os

    from spark_iceberg_jobs_spark.queries import (
        _R14_CHANGED,
        _R14_NEW,
        _R14_PERMANENT_KEEPS,
        _R14_STALE_REFRESH,
        DRIVER_WINDOW,
    )

    window = list(REG)[:DRIVER_WINDOW]
    curated = _R14_PERMANENT_KEEPS + _R14_CHANGED + _R14_NEW + _R14_STALE_REFRESH
    assert window == curated, "registry head must equal the curated r14 window"
    assert len(curated) == DRIVER_WINDOW, (
        f"window misfilled: {len(curated)}/{DRIVER_WINDOW} curated entries"
    )
    assert "cohort_ltv_by_first_year" in _R14_PERMANENT_KEEPS
    assert "flagship_revenue_topk" in _R14_PERMANENT_KEEPS
    assert all(REG[n].oracle is not None for n in window), (
        "every window entry needs a value-hash oracle"
    )

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    # Composition-time baseline: r01-r13 ONLY (frozen — later artifacts
    # must never change what this test asserts).
    last_scored: dict[str, int] = {}
    baseline = sorted(
        glob.glob(os.path.join(repo, "CORRECTNESS_r0[1-9].json"))
        + glob.glob(os.path.join(repo, "CORRECTNESS_r1[0-3].json"))
    )
    assert len(baseline) == 13, "r01..r13 artifacts are part of the repo"
    for f in baseline:
        rnd = int(os.path.basename(f).split("_r")[1].split(".")[0])
        with open(f) as fh:
            for k in json.load(fh):
                last_scored[k] = max(last_scored.get(k, 0), rnd)
    # Invariant 1 (monotone): the completed rotation covers the registry;
    # entries added AFTER the rotation must ride the current window so
    # they get their first verdict this round.
    uncovered = set(REG) - set(last_scored)
    assert uncovered <= set(window), (
        f"never-driver-scored entries outside the window: "
        f"{sorted(uncovered - set(window))}"
    )
    assert all(n not in last_scored for n in _R14_NEW), (
        "_R14_NEW is for entries with no prior driver verdict"
    )
    assert sorted(_R14_NEW) == sorted(uncovered), (
        "_R14_NEW must be exactly the never-scored registry entries"
    )
    # Invariant 2 — MACHINE-OWNED TIERS: r13 consumed most of the r7
    # tier; its 9-entry remainder leads this round's refresh (asserted,
    # so a surprise leftover cannot silently vanish), then the
    # alphabetically-oldest r8-stale entries fill the window.
    pinned = set(_R14_PERMANENT_KEEPS) | set(_R14_CHANGED)
    r6_all = sorted(
        n for n in REG if last_scored.get(n) == 6 and n not in pinned
    )
    assert r6_all == [], "the r6 tier stays empty (emptied by r12)"
    r7_all = sorted(
        n for n in REG if last_scored.get(n) == 7 and n not in pinned
    )
    r8_all = sorted(
        n for n in REG if last_scored.get(n) == 8 and n not in pinned
    )
    n_fill = DRIVER_WINDOW - (
        len(_R14_PERMANENT_KEEPS) + len(_R14_CHANGED) + len(_R14_NEW)
    )
    assert len(r7_all) < n_fill <= len(r7_all) + len(r8_all), (
        "this round consumes all of r7 and part of r8"
    )
    expected_refresh = r7_all + r8_all[: n_fill - len(r7_all)]
    assert _R14_STALE_REFRESH == expected_refresh, (
        "refresh tier must be exactly the artifact-computed staleness order: "
        f"the {len(r7_all)}-entry r7 remainder then the oldest r8-stale entries"
    )


def test_entry_contract(spark):
    import __spark_entry__ as mod

    df = mod.entry(spark)
    assert df.count() > 0
    qs, osql = mod.queries(), mod.oracle_sql()
    assert set(osql) <= set(qs)
    assert set(qs) == set(REG)


def test_window_is_curated_not_positional():
    """Only the explicit curated list reaches the driver window: nothing
    rides in on module dict order (the r1 bug this guards against), and
    the regression keeps stay present."""
    from spark_iceberg_jobs_spark.queries import DRIVER_WINDOW, _R14_CHANGED

    window = set(list(REG)[:DRIVER_WINDOW])
    assert "flagship_revenue_topk" in window
    # rotated-in extras are deliberate; anything else outside the curated
    # list must stay outside the window
    assert len(window) == DRIVER_WINDOW
    assert set(_R14_CHANGED) <= window


def test_quality_rules_fire_on_corrupted_rows(spark, monkeypatch):
    """The rules gate must detect planted violations — on the clean
    fixture every count is zero, so this is the only place the DETECTION
    side is exercised."""
    import spark_iceberg_jobs_spark.queries.llm as llm

    docs = spark.createDataFrame(
        [
            (0, "good text here", "en", "src1", 14),     # clean
            (1, "", "en", "src2", 0),                    # empty text + len 0
            (2, "mismatch", "en", "src3", 999),          # chars != len
            (3, "weird lang", "xx", "src4", 10),         # unknown lang
            (4, "bad source", "en", "feed-9", 10),       # source format
            (-1, "negative id", "de", "src5", 11),       # id < 0
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    monkeypatch.setattr(llm, "read_fixture", lambda s, d, t: docs)
    out = {r.rule: r.n_violations for r in llm.quality_rule_violations(spark, "x").collect()}
    assert out["nonempty_text"] == 1
    assert out["chars_match_len"] == 1  # only the 999-vs-8 mismatch (0==len('') passes)
    assert out["known_lang"] == 1
    assert out["source_format"] == 1
    assert out["id_nonnegative"] == 1
    assert out["len_sane"] == 1  # n_chars 0 is out of [1, 10000]


def test_fk_orphan_audit_fires_on_planted_orphan(spark, monkeypatch):
    import spark_iceberg_jobs_spark.queries.core as core

    tables = {
        "lineitem": spark.createDataFrame(
            [(1, 10, 100), (2, 20, 200), (3, 30, 999)],
            "l_orderkey long, l_partkey long, l_suppkey long",
        ),
        "orders": spark.createDataFrame(
            [(1, 7), (2, 7)], "o_orderkey long, o_custkey long"
        ),  # orderkey 3 missing -> orphan
        "part": spark.createDataFrame([(10,), (20,), (30,)], "p_partkey long"),
        "supplier": spark.createDataFrame(
            [(100, 5), (200, 5)], "s_suppkey long, s_nationkey long"
        ),  # suppkey 999 missing -> orphan
        "customer": spark.createDataFrame(
            [(7, 0)], "c_custkey long, c_nationkey long"
        ),
        "nation": spark.createDataFrame([(0,)], "n_nationkey long"),
    }
    monkeypatch.setattr(
        core, "load_tables", lambda s, d, *names: {n: tables[n] for n in names}
    )
    out = {r.fk_edge: r.n_orphans for r in core.integrity_fk_orphans(spark, "x").collect()}
    assert out["lineitem.l_orderkey->orders"] == 1
    assert out["lineitem.l_suppkey->supplier"] == 1
    assert out["lineitem.l_partkey->part"] == 0
    assert out["orders.o_custkey->customer"] == 0


def test_bm25_incremental_equals_rebuild(spark):
    """VERDICT r4 item 7 'done' criterion: the merged incremental index
    ranks bit-identically to the full rebuild on the union corpus — and
    (VERDICT r7 item 3) so does serving AFTER minor compaction folds the
    delta segment into a new base artifact."""
    from spark_iceberg_jobs_spark.queries.llm import (
        text_bm25_compacted,
        text_bm25_incremental,
        text_bm25_topk,
    )

    sf = "/root/testdata/sf0.001"
    full = [tuple(map(repr, r)) for r in text_bm25_topk(spark, sf).collect()]
    incr = [tuple(map(repr, r)) for r in text_bm25_incremental(spark, sf).collect()]
    comp = [tuple(map(repr, r)) for r in text_bm25_compacted(spark, sf).collect()]
    assert full == incr == comp


def test_rag_retrieval_null_text_docs_match_oracle(spark, sf_dir, monkeypatch):
    """A document whose text is NULL has no chunks on either engine: it
    must not add to the chunk total under idf (greatest() skips the NULL
    ceil, so the per-doc formula alone counts it as one chunk). Compared
    against the DuckDB oracle on a small corpus with three NULL-text
    documents, where each phantom chunk would move the rounded scores."""
    import duckdb
    import pandas as pd

    import spark_iceberg_jobs_spark.queries.llm as llm

    pdf = pd.read_parquet(f"{sf_dir}/documents.parquet").head(12)
    nulls = pd.DataFrame(
        {
            "doc_id": [1000, 1001, 1002],
            "text": [None, None, None],
            "lang": ["en"] * 3,
            "source": ["src1"] * 3,
            "n_chars": [0] * 3,
        }
    )
    pdf = pd.concat([pdf, nulls], ignore_index=True).astype({"doc_id": "int64"})
    docs = spark.createDataFrame(
        pdf.astype(object).where(pdf.notna(), None),
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    monkeypatch.setattr(llm, "read_fixture", lambda s, d, t: docs)
    got = sorted(
        (r.query_doc, r.rnk, r.doc_id, r.chunk_id, round(r.sim, 4))
        for r in llm.pipeline_rag_retrieval(spark, "x").collect()
    )
    con = duckdb.connect()
    con.register("documents", pdf)
    want = sorted(
        (int(q), int(k), int(d), int(c), round(float(s), 4))
        for q, k, d, c, s in con.execute(llm.RAG_ORACLE).fetchall()
    )
    assert got and got == want
