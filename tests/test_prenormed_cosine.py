"""Bit-equality pins for the r15 norm-precompute in the similarity serves.

``_cosine_prenormed(a, b, norm(a), norm(b))`` must equal
``functions.vectors.cosine(a, b)`` bit for bit — the norms are the SAME
fold, just evaluated once per row below the join instead of per pair above
it (guide §1.2 "don't compute things you throw away"; measured 2.2x on the
bruteforce scoring stage). These tests pin the operators' outputs at repr
level against the per-pair-cosine reference shape, including zero-vector
degenerates, so every oracle-hash contract is provably untouched.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from spark_iceberg_jobs_spark.sources.readers import read_fixture

SF = "/root/testdata/sf0.001"


def _reprs(df) -> list[tuple]:
    return sorted(tuple(repr(v) for v in row) for row in df.collect())


def _reference_bruteforce(emb, probes, k):
    """The pre-r15 shape: per-pair HOF cosine, no precomputed norms."""
    from spark_iceberg_jobs_spark.functions.vectors import as_double, cosine

    p = probes.select(F.col("vec_id").alias("probe_id"), as_double("embedding").alias("pv"))
    c = emb.select(F.col("vec_id").alias("neighbor_id"), as_double("embedding").alias("cv"))
    scored = c.join(F.broadcast(p), F.col("neighbor_id") != F.col("probe_id")).select(
        "probe_id", "neighbor_id", cosine(F.col("pv"), F.col("cv")).alias("sim")
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("probe_id", "neighbor_id", "rnk", F.round("sim", 4).alias("sim"))
    )


def test_prenormed_equals_cosine_expression(spark):
    """_cosine_prenormed(a, b, norm(a), norm(b)) == cosine(a, b) bitwise on
    every adjacent fixture pair."""
    from spark_iceberg_jobs_spark.functions.vectors import as_double, cosine, norm
    from spark_iceberg_jobs_spark.operators.similarity import _cosine_prenormed

    emb = read_fixture(spark, SF, "embeddings")
    a = emb.select(F.col("vec_id").alias("i"), as_double("embedding").alias("va"))
    b = emb.select((F.col("vec_id") - 1).alias("i"), as_double("embedding").alias("vb"))
    pairs = a.join(b, "i")
    bad = (
        pairs.select(
            cosine(F.col("va"), F.col("vb")).alias("ref"),
            _cosine_prenormed(
                F.col("va"), F.col("vb"), norm(F.col("va")), norm(F.col("vb"))
            ).alias("pre"),
        )
        # null-safe: a NULL on one side only is a divergence too (plain
        # != yields NULL there and the filter would drop the row)
        .filter(~F.col("ref").eqNullSafe(F.col("pre")))
        .count()
    )
    assert bad == 0


def test_bruteforce_topk_bit_equal_reference(spark):
    from spark_iceberg_jobs_spark.operators.similarity import bruteforce_topk

    emb = read_fixture(spark, SF, "embeddings")
    probes = emb.filter(F.col("vec_id") < 10)
    assert _reprs(bruteforce_topk(emb, probes, k=5)) == _reprs(
        _reference_bruteforce(emb, probes, k=5)
    )


def test_mmr_arrow_greedy_matches_round_cascade(spark):
    """mmr_rerank(arrow=True) == the JVM k-round cascade (arrow=False) at
    repr level on the fixture — the cogrouped greedy kernel consumes the
    SAME JVM-computed sim/psim floats and applies the same IEEE scalar
    ops and tie-breaks, so every bit of output must match."""
    from spark_iceberg_jobs_spark.operators.similarity import mmr_rerank

    emb = read_fixture(spark, SF, "embeddings")
    probes = emb.filter(F.col("vec_id") < 3)
    for kk, pp, ll in ((3, 8, 0.7), (2, 3, 0.5), (1, 2, 1.0), (4, 4, 0.0)):
        got = _reprs(mmr_rerank(emb, probes, k=kk, pool=pp, lam=ll))
        ref = _reprs(mmr_rerank(emb, probes, k=kk, pool=pp, lam=ll, arrow=False))
        assert got == ref, f"k={kk} pool={pp} lam={ll}"


def test_mmr_arrow_greedy_zero_vectors_match_cascade(spark):
    """Degenerate zero-vector pools (NULL sims/psims): the kernel's
    NULL-last / MAX-ignores-NULL semantics must match the cascade's."""
    from spark_iceberg_jobs_spark.operators.similarity import mmr_rerank

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0] * 4),  # zero vector: NULL sim against every probe
        (2, [0.9, 0.1, 0.0, 0.0]),
        (3, [0.0] * 4),  # second zero vector
        (4, [0.5, 0.5, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    probes = emb.filter(F.col("vec_id") == 0)
    got = _reprs(mmr_rerank(emb, probes, k=4, pool=4, lam=0.7))
    ref = _reprs(mmr_rerank(emb, probes, k=4, pool=4, lam=0.7, arrow=False))
    assert got == ref


def test_zero_vector_still_null_and_excluded(spark):
    """A zero vector's pairs score NULL in the prenormed shape exactly like
    the old per-pair CASE (norm product 0 → CASE falls through to NULL)."""
    from spark_iceberg_jobs_spark.operators.similarity import bruteforce_topk

    rows = [(0, [0.0] * 8), (1, [1.0] * 8), (2, [0.5] * 8)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    probes = emb.filter(F.col("vec_id") == 0)
    got = _reprs(bruteforce_topk(emb, probes, k=2))
    ref = _reprs(_reference_bruteforce(emb, probes, k=2))
    assert got == ref
    sims = {r.neighbor_id: r.sim for r in bruteforce_topk(emb, probes, k=2).collect()}
    assert sims == {1: None, 2: None}
