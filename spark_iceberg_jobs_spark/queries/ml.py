"""Clustering tier — iterative ML fitting as Spark dataflow, DuckDB-replayable.

``cluster_kmeans_embeddings`` runs the full Lloyd's loop
(operators/similarity.kmeans_fit): md5-seeded init → fixed rounds of
(projection-only assignment, narrow per-dim-mean update) → final assignment
stats. The oracle unrolls the SAME rounds as chained CTEs in exploded
(vec_id, dim, val) space — seeding order, argmin tie-breaks, and means all
replay bit-compatibly, so the driver hash-verifies an *iterative ML fit*
end-to-end, like queries/llm.py does for PageRank.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.frames import local_frame
from ..functions.vectors import as_double
from ..operators.similarity import assign_cells, kmeans_fit
from ..sources.readers import read_fixture
from . import QuerySpec

_K = 8
_ITERATIONS = 3
_DIM = 64

# Per-artifact serving cache for the persisted IVF index (keyed by dir) —
# bounded model payloads (centroid rows, probe assignments) plus the
# session-guarded resolved readers, mirroring llm._BM25_META_CACHE.
_IVF_META_CACHE: dict[str, dict] = {}
_IVF_META_CACHE_MAX = 8


def cluster_kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means cluster profile of the embeddings corpus: per cell, the
    member count and mean squared distance to the fitted centroid.

    Scale: each of the 3 fit rounds is one scan (literal-centroid argmin
    projection) + one k x dim partial-mean shuffle; the final stats pass is
    the same scan + a k-group aggregate. Nothing driver-side ever exceeds
    k x dim doubles.
    """
    emb = read_fixture(spark, sf_dir, "embeddings")
    cents = kmeans_fit(emb, k=_K, iterations=_ITERATIONS, dim=_DIM)
    e = emb.select(F.col("vec_id").alias("cid"), as_double("embedding").alias("v"))
    return (
        assign_cells(e, cents)
        .groupBy("cell")
        .agg(
            F.count("*").alias("n_vectors"),
            F.round(F.avg("dist"), 4).alias("mean_sq_dist"),
        )
        .orderBy("cell")
    )


def _kmeans_chain(k: int, iterations: int, *, extra_assign: bool, where: str = "") -> str:
    """The WITH-body CTE chain replaying kmeans_fit in exploded space.

    Round r: d{r} = squared-L2 of every (vector, cell) pair against c{r-1};
    a{r} = argmin with (dist, cell) tie-break — identical to assign_cells's
    array_min over (d, i) structs; c{r} = per-(cell, dim) member means,
    UNION ALL the previous round's centroid for any cell that lost all its
    members — replaying kmeans_fit's empty-cell carry-forward exactly (a
    bare GROUP BY would silently drop the cell from the next round's
    argmin candidate set and diverge). ``extra_assign`` appends round
    iterations+1's d/a pair (the final assignment against the fitted
    centroids) without a further update.
    """
    rounds = []
    last = iterations + 1 if extra_assign else iterations
    for r in range(1, last + 1):
        rounds.append(
            f"""d{r} AS (
    SELECT e.vec_id, c.cell,
           SUM((e.val - c.cval) * (e.val - c.cval)) AS dist
    FROM ev e JOIN c{r - 1} c ON e.dim = c.dim
    GROUP BY e.vec_id, c.cell
), a{r} AS (
    SELECT vec_id, cell, dist FROM (
        SELECT vec_id, cell, dist,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY dist, cell) AS rn
        FROM d{r}
    ) WHERE rn = 1
)"""
        )
        if r <= iterations:
            rounds.append(
                f"""c{r} AS (
    SELECT a.cell, e.dim, AVG(e.val) AS cval
    FROM a{r} a JOIN ev e ON a.vec_id = e.vec_id
    GROUP BY a.cell, e.dim
    UNION ALL
    SELECT p.cell, p.dim, p.cval
    FROM c{r - 1} p
    WHERE p.cell NOT IN (SELECT DISTINCT cell FROM a{r})
)"""
            )
    chain = ",\n".join(rounds)
    return f"""ev AS (
    SELECT vec_id,
           UNNEST(CAST(embedding AS DOUBLE[])) AS val,
           GENERATE_SUBSCRIPTS(CAST(embedding AS DOUBLE[]), 1) AS dim
    FROM embeddings{where}
), init AS (
    SELECT vec_id, rn - 1 AS cell FROM (
        SELECT vec_id,
               ROW_NUMBER() OVER (ORDER BY MD5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
        FROM embeddings{where}
    ) WHERE rn <= {k}
), c0 AS (
    SELECT i.cell, e.dim, e.val AS cval
    FROM init i JOIN ev e ON i.vec_id = e.vec_id
),
{chain}"""


def _kmeans_oracle_sql(k: int = _K, iterations: int = _ITERATIONS) -> str:
    """kmeans_fit replay + final assignment stats."""
    return f"""
WITH {_kmeans_chain(k, iterations, extra_assign=True)}
SELECT cell, COUNT(*) AS n_vectors, ROUND(AVG(dist), 4) AS mean_sq_dist
FROM a{iterations + 1}
GROUP BY cell
ORDER BY cell
"""


KMEANS_ORACLE = _kmeans_oracle_sql()


def sim_ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION ANN path end-to-end: k-means-fitted centroids feeding
    IVF search (ivf_topk's ``centroids`` parameter) — coarse-quantize the
    corpus by fitted cell, search each probe in its nprobe nearest cells,
    exact-cosine rerank. Hash-verified: the oracle replays the k-means fit
    AND the IVF search. Scale shape is ivf_topk's (corpus scored once
    against broadcast centroids; per-probe work bounded by nprobe cells)
    on top of kmeans_fit's (projection-only assignment rounds)."""
    from ..operators.similarity import centroids_df, ivf_topk

    emb = read_fixture(spark, sf_dir, "embeddings")
    cents = kmeans_fit(emb, k=_K, iterations=_ITERATIONS, dim=_DIM)
    probes = emb.filter(F.col("vec_id") < 10)
    return ivf_topk(
        emb, probes, k=5, nprobe=3, centroids=centroids_df(spark, cents)
    )


def _ivf_kmeans_oracle_sql(
    k: int = _K,
    iterations: int = _ITERATIONS,
    nprobe: int = 3,
    fit_where: str = "",
) -> str:
    """kmeans_fit replay → centroid arrays → the same IVF search replay as
    SIM_IVF_ORACLE (queries/llm.py), cosine ranking with (sim, id)
    tie-breaks. ``fit_where`` restricts the FIT input (incremental-index
    variant: centroids frozen on the base corpus, search over everything)."""
    return f"""
WITH {_kmeans_chain(k, iterations, extra_assign=False, where=fit_where)},
cent AS (
    SELECT cell, LIST(cval ORDER BY dim) AS centv
    FROM c{iterations} GROUP BY cell
),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
corpus_scored AS (
    SELECT e.vec_id, c.cell,
           LIST_INNER_PRODUCT(e.v, c.centv)
           / (SQRT(LIST_INNER_PRODUCT(e.v, e.v))
              * SQRT(LIST_INNER_PRODUCT(c.centv, c.centv))) AS csim
    FROM e CROSS JOIN cent c
),
assigned AS (
    SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY csim DESC, cell) AS r
        FROM corpus_scored
    ) WHERE r = 1
),
probe_cells AS (
    SELECT vec_id AS probe_id, cell FROM (
        SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY csim DESC, cell) AS r
        FROM corpus_scored WHERE vec_id < 10
    ) WHERE r <= {nprobe}
),
cands AS (
    SELECT pc.probe_id, a.vec_id AS neighbor_id
    FROM assigned a JOIN probe_cells pc ON a.cell = pc.cell
    WHERE a.vec_id <> pc.probe_id
    GROUP BY 1, 2
),
scored AS (
    SELECT cd.probe_id, cd.neighbor_id,
           LIST_INNER_PRODUCT(ep.v, ec.v)
           / (SQRT(LIST_INNER_PRODUCT(ep.v, ep.v))
              * SQRT(LIST_INNER_PRODUCT(ec.v, ec.v))) AS sim
    FROM cands cd
    JOIN e ep ON ep.vec_id = cd.probe_id
    JOIN e ec ON ec.vec_id = cd.neighbor_id
),
ranked AS (
    SELECT probe_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY probe_id
                              ORDER BY sim DESC, neighbor_id) AS rnk,
           sim
    FROM scored
)
SELECT probe_id, neighbor_id, rnk, ROUND(sim, 4) AS sim
FROM ranked
WHERE rnk <= 5
"""


IVF_KMEANS_ORACLE = _ivf_kmeans_oracle_sql()


def sim_ivf_incremental_topk(
    spark: SparkSession, sf_dir: str, *, compact_ratio: float | None = None
) -> DataFrame:
    """Dense-side incremental index maintenance — the IVF twin of
    text_bm25_incremental: centroids are fitted ONCE on the base corpus
    (vec_id % 10 != 0), FROZEN, and — since round 7 (VERDICT r6 item 3) —
    PERSISTED together with the base assignments as a cell-partitioned
    index artifact (the FAISS invlist layout as a parquet directory).
    Repeated serving runs skip the Lloyd's fit AND the base assignment
    entirely; since late round 7 the delta batch (vec_id % 10 == 0) is
    ALSO a persisted cell-partitioned segment (``/tmp/ivf_delta_*`` —
    the bm25 delta-segment recipe), so its broadcast-centroid assignment
    is paid once per delta VERSION, and warm serving is pruned reads of
    both segments + the search tail: the probed cells' partitions only
    (``cell IN (...)`` directory pruning on BOTH segment scans —
    test_ivf_persisted_serve_prunes_cells). Centroid rows and probe
    assignments are bounded model payloads cached once per corpus
    fingerprint; resolved readers are cached per (key, session) like a
    catalog's file index. Probes search the MERGED corpus, so delta
    vectors are retrievable immediately. The
    oracle replays the base-only fit and the full-corpus
    assignment/search; results are bit-identical to the unpersisted
    formulation (test_ivf_incremental_matches_unpersisted).

    Artifact lifecycle = functions/artifacts.publish: the key covers the
    source embeddings' part files and the package code (a change to
    either flips it), atomic staging→rename publish, TTL sweep of
    superseded siblings.

    Scale shape: fit cost is O(base · rounds) ONCE per corpus version;
    each serving call pays O(delta · k) assignment + an
    nprobe/n_cells-bounded partition read + candidate rescoring. At 100
    TB the assign artifact is the index: vectors live cell-partitioned
    (append a delta partition file per fold-in under a table format), and
    the probed-cell read IS the inverted-list seek.

    Minor compaction (round 8 — VERDICT r7 item 3, the bm25 recipe): when
    ``compact_ratio`` is set and the delta/base on-disk size ratio
    exceeds it, the delta assignments fold into a new cell-partitioned
    base artifact (``/tmp/ivf_compact_*``) built from the published
    segments only — cells are already assigned, so the fold is a pure
    partitioned rewrite plus a centroid copy, never an embedding rescan
    or re-fit. Serving from the compacted artifact reads ONE probed-cell
    segment (the union disappears) and is row-identical to the
    two-segment serve (test_ivf_compaction_matches_segments). Default
    ``None`` keeps the two-segment merge-on-read; the ``sim_ivf_compacted_topk``
    registry entry forces the fold for its driver hash verdict."""
    from ..functions.artifacts import (
        backfill_empty_partitioned,
        cached_readers,
        dir_bytes,
        meta_cache,
        publish,
    )
    from ..operators.similarity import centroids_df, ivf_nearest_cells, ivf_search

    K_NEIGHBORS, NPROBE = 5, 3
    emb = read_fixture(spark, sf_dir, "embeddings")

    def write_assign(batch_e, cdf_local, staging):
        assigned = ivf_nearest_cells(batch_e, cdf_local, "cid", "cv", 1)
        (
            assigned.repartition("cell")
            .write.mode("overwrite")
            .partitionBy("cell")
            .parquet(f"{staging}/assign")
        )
        # a zero-row batch (possible for the delta) emits NO part files
        # under partitionBy — land the schema-bearing empty file so the
        # published segment stays readable (review finding, late r7)
        backfill_empty_partitioned(spark, assigned.schema, f"{staging}/assign")

    def build_base(staging):
        base = emb.filter(F.col("vec_id") % 10 != 0)
        cents = kmeans_fit(base, k=_K, iterations=_ITERATIONS, dim=_DIM)
        cdf_fit = centroids_df(spark, cents)
        cdf_fit.write.mode("overwrite").parquet(f"{staging}/centroids")
        write_assign(
            base.select(
                F.col("vec_id").alias("cid"), as_double("embedding").alias("cv")
            ),
            cdf_fit,
            staging,
        )

    src = f"{sf_dir}/embeddings.parquet"
    index_dir, base_ver = publish("ivf_index_", (src,), build_base)

    # Warm path: centroids come off the artifact ONCE per key (k rows —
    # a model payload, cached as plain data), the base corpus is never
    # rescanned.
    meta = meta_cache(
        _IVF_META_CACHE, index_dir, spark, max_entries=_IVF_META_CACHE_MAX
    )
    if "cent" not in meta:
        meta["cent"] = [
            (r["cell"], [float(x) for x in r["centv"]])
            for r in spark.read.parquet(f"{index_dir}/centroids").collect()
        ]
    cdf = local_frame(spark, meta["cent"], "cell long, centv array<double>")

    # The DELTA assignment is persisted as its own cell-partitioned
    # segment (the bm25_delta_ recipe): the O(delta·k) broadcast-centroid
    # projection is paid once per delta VERSION, not per serve, and the
    # probed-cell directory prune below applies to BOTH segments.
    def build_delta(staging):
        write_assign(
            emb.filter(F.col("vec_id") % 10 == 0).select(
                F.col("vec_id").alias("cid"), as_double("embedding").alias("cv")
            ),
            cdf,
            staging,
        )

    delta_dir, delta_ver = publish("ivf_delta_", (src,), build_delta)

    def build_compacted(staging: str) -> None:
        # Minor compaction: cells are already assigned in both published
        # segments, so the fold is a pure cell-partitioned rewrite of
        # their union plus a centroid copy — no embedding rescan, no
        # re-fit, row-identical to the two-segment view by construction.
        merged = spark.read.parquet(f"{index_dir}/assign").unionByName(
            spark.read.parquet(f"{delta_dir}/assign")
        )
        (
            merged.repartition("cell")
            .write.mode("overwrite")
            .partitionBy("cell")
            .parquet(f"{staging}/assign")
        )
        backfill_empty_partitioned(spark, merged.schema, f"{staging}/assign")
        spark.read.parquet(f"{index_dir}/centroids").write.mode(
            "overwrite"
        ).parquet(f"{staging}/centroids")

    # Compaction trigger on driver-side segment-size metadata (manifest
    # numbers under a table format) — the bm25 recipe.
    serve_segs = [(index_dir, base_ver), (delta_dir, delta_ver)]
    if compact_ratio is not None and dir_bytes(delta_dir) > compact_ratio * dir_bytes(
        index_dir
    ):
        serve_segs = [publish("ivf_compact_", (src,), build_compacted)]

    # Probe assignments derive from the same immutable (source, artifact)
    # pair — one bounded collect per key (≤ probes × nprobe rows with
    # their vectors), rebuilt as a local relation so the search plan
    # broadcasts it without re-running the assignment window per serve.
    if "probes" not in meta:
        p = emb.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("probe_id"), as_double("embedding").alias("pv")
        )
        meta["probes"] = [
            (r["probe_id"], [float(x) for x in r["pv"]], r["cell"])
            for r in ivf_nearest_cells(p, cdf, "probe_id", "pv", NPROBE).collect()
        ]
    probe_cells = local_frame(
        spark, meta["probes"], "probe_id long, pv array<double>, cell long"
    )
    cells = sorted({c for _, _, c in meta["probes"]})

    # Resolved readers live in a SEGMENT-SET-MODE-keyed cache entry (the
    # bm25 recipe): both registry entries — two-segment incremental and
    # forced-compacted — run back-to-back under verify/bench, and a
    # shared entry would thrash the file-index readers on every mode
    # flip, re-paying the driver re-resolution the cache exists to
    # avoid. cent/probes stay in the base-keyed entry above: they are
    # mode-independent model payloads.
    scan_meta = meta_cache(
        _IVF_META_CACHE,
        f"{index_dir}|{len(serve_segs)}",
        spark,
        max_entries=_IVF_META_CACHE_MAX,
    )
    readers = cached_readers(
        scan_meta,
        spark,
        tuple(v for _, v in serve_segs),
        lambda: tuple(
            spark.read.parquet(f"{d}/assign") for d, _ in serve_segs
        ),
    )
    pruned = [
        r.filter(F.col("cell").isin(cells)).select("cid", "cv", "cell")
        for r in readers
    ]
    assigned = pruned[0]
    for p in pruned[1:]:
        assigned = assigned.unionByName(p)
    return ivf_search(assigned, probe_cells, k=K_NEIGHBORS)


def sim_ivf_compacted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minor-compaction leg of the IVF index lifecycle (VERDICT r7 item
    3): serve the SAME incremental IVF search after folding the delta
    assignment segment into a new cell-partitioned base artifact
    (``compact_ratio=0.0`` forces the fold). The fold is a partitioned
    rewrite of the published segments plus a centroid copy — embeddings
    are never rescanned — so this entry's driver hash verdict pins
    compaction ≡ two-segment serve ≡ the replayed full formulation."""
    return sim_ivf_incremental_topk(spark, sf_dir, compact_ratio=0.0)


IVF_INCREMENTAL_ORACLE = _ivf_kmeans_oracle_sql(
    fit_where=" WHERE vec_id % 10 != 0"
)


def corpus_cluster_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal corpus profiling: every document joined to its
    embedding's fitted k-means cell (doc_id ↔ vec_id), profiled per
    (lang, cell) — the cluster-aware view used for mixture design and
    targeted curation ("which clusters are dominated by which
    languages?").

    Scale: the k-means fit is kmeans_fit's (projection-only rounds); the
    final assignment is again a projection, so the only added work is one
    doc⋈embedding equi join (id-keyed shuffle, AQE-planned) and a small
    (lang × cell) aggregate.
    """
    docs = read_fixture(spark, sf_dir, "documents")
    emb = read_fixture(spark, sf_dir, "embeddings")
    cents = kmeans_fit(emb, k=_K, iterations=_ITERATIONS, dim=_DIM)
    e = emb.select(F.col("vec_id").alias("cid"), as_double("embedding").alias("v"))
    assigned = assign_cells(e, cents).select("cid", "cell")
    return (
        docs.join(assigned, docs.doc_id == assigned.cid)
        .groupBy("lang", "cell")
        .agg(
            F.count("*").alias("n_docs"),
            # SUM not rounded AVG: integer-exact both engines (a rounded
            # AVG of integer chars lands on .xx5 midpoints where Spark
            # HALF_UP and DuckDB binary rounding disagree - same trap as
            # window_trailing_spend_range, found by the sf0.1 oracle)
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
        .orderBy("lang", "cell")
    )


def _cluster_profile_oracle_sql(k: int = _K, iterations: int = _ITERATIONS) -> str:
    return f"""
WITH {_kmeans_chain(k, iterations, extra_assign=True)}
SELECT d.lang, a.cell, COUNT(*) AS n_docs,
       CAST(SUM(d.n_chars) AS BIGINT) AS sum_chars
FROM documents d JOIN a{iterations + 1} a ON d.doc_id = a.vec_id
GROUP BY d.lang, a.cell
ORDER BY d.lang, a.cell
"""


CLUSTER_PROFILE_ORACLE = _cluster_profile_oracle_sql()


def mixture_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based sampling weights for the language mixture:
    w(lang) ∝ n(lang)^α with α=0.5 — the standard multilingual up/down
    sampling rule (low-resource languages upweighted relative to their
    share). Pairs with operators/splits.stratified_sample, which consumes
    per-stratum rates.

    Scale: one lang-keyed count aggregate, persisted (scoped — |langs|
    rows) because the normalizer and the final projection both consume it;
    the normalizer broadcasts one row.
    """
    from ..functions.cache import scoped_persist

    docs = read_fixture(spark, sf_dir, "documents")
    per_lang = scoped_persist(docs.groupBy("lang").agg(F.count("*").alias("n_docs")))
    norm = per_lang.agg(
        F.sum(F.pow("n_docs", 0.5)).alias("z"),
        F.sum("n_docs").cast("double").alias("total"),
    )
    return (
        per_lang.crossJoin(F.broadcast(norm))
        .select(
            "lang",
            "n_docs",
            F.round(F.col("n_docs") / F.col("total"), 6).alias("raw_share"),
            F.round(F.pow("n_docs", 0.5) / F.col("z"), 6).alias("alpha05_weight"),
        )
        .orderBy("lang")
    )


MIXTURE_ORACLE = """
WITH per_lang AS (
    SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang
)
SELECT lang, n_docs,
       ROUND(CAST(n_docs AS DOUBLE) / SUM(n_docs) OVER (), 6) AS raw_share,
       ROUND(POW(n_docs, 0.5) / (SELECT SUM(POW(n_docs, 0.5)) FROM per_lang), 6)
           AS alpha05_weight
FROM per_lang
ORDER BY lang
"""


_PQ_M = 4
_PQ_K = 8
_PQ_ITER = 2


def sim_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization end-to-end under the full hash oracle: fit
    per-subspace codebooks (operators/similarity.pq_fit — Lloyd's per
    subspace, md5-seeded), encode the corpus to m codeword indices, and
    serve asymmetric-distance top-5 for probes vec_id < 10 through the
    codes only (pq_adc_topk). The oracle unrolls the per-subspace fit as
    chained CTEs in exploded (vec_id, sub, sd, val) space — the kmeans
    replay pattern with a subspace axis — then replays encode + the ADC
    lookup sum. Distances are rounded before ranking on BOTH sides: code
    sharers are exact ADC ties and must rank purely by neighbor id."""
    from ..operators.similarity import pq_adc_topk, pq_fit

    emb = read_fixture(spark, sf_dir, "embeddings")
    books = pq_fit(emb, m=_PQ_M, k=_PQ_K, iterations=_PQ_ITER, dim=_DIM)
    probes = emb.filter(F.col("vec_id") < 10)
    return pq_adc_topk(emb, probes, books, k=5)


def _pq_subchain(
    m: int, k: int, iterations: int, dim: int, *, src: str, prefix: str
) -> str:
    """CTE fragments (comma-joined, each name ``prefix``-ed) replaying
    pq_fit in exploded (vec_id, sub, sd, val) space over ``src`` — a CTE
    with columns (vec_id, dim, val), dim 1-based: the _kmeans_chain shape
    with every stage additionally keyed by the subspace — seeds are the k
    smallest-md5 vectors (their slices seed all subspaces), argmin ties
    break to the lowest code, empty (sub, code) cells carry the previous
    codeword forward. The prefix lets the chain compose with other chains
    (IVF-PQ runs it over coarse-residuals downstream of _kmeans_chain)."""
    p = prefix
    subdim = dim // m
    rounds = []
    last = iterations + 1  # extra assignment round = the encode pass
    for r in range(1, last + 1):
        rounds.append(
            f"""{p}d{r} AS (
    SELECT s.vec_id, s.sub, c.cell,
           SUM((s.val - c.cval) * (s.val - c.cval)) AS dist
    FROM {p}sv s JOIN {p}c{r - 1} c ON s.sub = c.sub AND s.sd = c.sd
    GROUP BY s.vec_id, s.sub, c.cell
), {p}a{r} AS (
    SELECT vec_id, sub, cell FROM (
        SELECT vec_id, sub, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                  ORDER BY dist, cell) AS rn
        FROM {p}d{r}
    ) WHERE rn = 1
)"""
        )
        if r <= iterations:
            rounds.append(
                f"""{p}c{r} AS (
    SELECT a.cell, s.sub, s.sd, AVG(s.val) AS cval
    FROM {p}a{r} a JOIN {p}sv s ON a.vec_id = s.vec_id AND a.sub = s.sub
    GROUP BY a.cell, s.sub, s.sd
    UNION ALL
    SELECT pp.cell, pp.sub, pp.sd, pp.cval
    FROM {p}c{r - 1} pp
    WHERE NOT EXISTS (SELECT 1 FROM {p}a{r} a
                      WHERE a.sub = pp.sub AND a.cell = pp.cell)
)"""
            )
    chain = ",\n".join(rounds)
    return f"""{p}sv AS (
    SELECT vec_id, (dim - 1) // {subdim} AS sub, (dim - 1) % {subdim} AS sd, val
    FROM {src}
), {p}init AS (
    SELECT vec_id, rn - 1 AS cell FROM (
        SELECT vec_id,
               ROW_NUMBER() OVER (ORDER BY MD5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
        FROM embeddings
    ) WHERE rn <= {k}
), {p}c0 AS (
    SELECT i.cell, s.sub, s.sd, s.val AS cval
    FROM {p}init i JOIN {p}sv s ON i.vec_id = s.vec_id
),
{chain}"""


def _pq_chain(m: int, k: int, iterations: int, dim: int) -> str:
    """WITH-body replaying pq_fit over the raw embeddings (flat PQ)."""
    return f"""ev AS (
    SELECT vec_id,
           UNNEST(CAST(embedding AS DOUBLE[])) AS val,
           GENERATE_SUBSCRIPTS(CAST(embedding AS DOUBLE[]), 1) AS dim
    FROM embeddings
),
{_pq_subchain(m, k, iterations, dim, src="ev", prefix="")}"""


def _pq_oracle_sql(
    m: int = _PQ_M, k: int = _PQ_K, iterations: int = _PQ_ITER, dim: int = _DIM
) -> str:
    final = iterations + 1
    return f"""
WITH {_pq_chain(m, k, iterations, dim)},
pv AS (SELECT * FROM sv WHERE vec_id < 10),
adc AS (
    SELECT p.vec_id AS probe_id, a.vec_id AS neighbor_id,
           SUM((p.val - c.cval) * (p.val - c.cval)) AS adist
    FROM a{final} a
    JOIN c{iterations} c ON c.sub = a.sub AND c.cell = a.cell
    JOIN pv p ON p.sub = c.sub AND p.sd = c.sd
    WHERE a.vec_id <> p.vec_id
    GROUP BY 1, 2
),
ranked AS (
    SELECT probe_id, neighbor_id, ROUND(adist, 6) AS adc_dist,
           ROW_NUMBER() OVER (PARTITION BY probe_id
                              ORDER BY ROUND(adist, 6), neighbor_id) AS rnk
    FROM adc
)
SELECT probe_id, neighbor_id, rnk, adc_dist
FROM ranked
WHERE rnk <= 5
"""


PQ_ADC_ORACLE = _pq_oracle_sql()


_IVFPQ_COARSE_ITER = 2  # bounds the composed oracle: 3 assignment rounds each


def sim_ivfpq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ end-to-end — the billion-vector ANN serving layout (FAISS
    IVFADC re-expressed as Spark dataflow) under the full hash oracle:

    1. coarse k-means fit (kmeans_fit: md5-seeded, projection-only rounds),
    2. per-vector residual against its nearest coarse cell (one-scan
       projection, operators/similarity.residuals),
    3. PQ codebook fit ON THE RESIDUALS (pq_fit — same subspace Lloyd's,
       now quantizing the much-smaller within-cell displacement),
    4. corpus encoded to (cell, codes) in one scan (residual_encode,
       plan-asserted projection-only),
    5. probes vec_id < 10 served through codes only: nprobe nearest cells
       per probe (array_sort projection), per-(probe, cell) residual LUT,
       ADC sum, (dist, id)-ranked top-5 (ivfpq_adc_topk).

    The oracle composes the two existing replay chains — _kmeans_chain for
    the coarse fit, _pq_subchain (prefixed, over a residual CTE) for the
    codebooks — then replays cell selection from the coarse distance CTE
    and the ADC sum in exploded space. Distances round (6 dp) before
    ranking on both sides: code-sharers are exact ADC ties, broken by id.
    """
    from ..operators.similarity import ivfpq_adc_topk, pq_fit, residuals

    emb = read_fixture(spark, sf_dir, "embeddings")
    cents = kmeans_fit(emb, k=_K, iterations=_IVFPQ_COARSE_ITER, dim=_DIM)
    res = residuals(emb, cents)
    books = pq_fit(
        res, m=_PQ_M, k=_PQ_K, iterations=_PQ_ITER, dim=_DIM, id_col="vid", vec_col="res"
    )
    probes = emb.filter(F.col("vec_id") < 10)
    return ivfpq_adc_topk(emb, probes, cents, books, k=5, nprobe=3)


def _ivfpq_oracle_sql(
    coarse_k: int = _K,
    coarse_iter: int = _IVFPQ_COARSE_ITER,
    m: int = _PQ_M,
    k_codes: int = _PQ_K,
    pq_iter: int = _PQ_ITER,
    dim: int = _DIM,
    nprobe: int = 3,
) -> str:
    fa = coarse_iter + 1  # the extra-assign round: a{fa} / d{fa} vs c{coarse_iter}
    pqf = pq_iter + 1  # the PQ encode round
    subdim = dim // m
    return f"""
WITH {_kmeans_chain(coarse_k, coarse_iter, extra_assign=True)},
cassign AS (SELECT vec_id, cell AS ccell FROM a{fa}),
rv AS (
    SELECT e.vec_id, e.dim, e.val - c.cval AS val
    FROM ev e
    JOIN cassign a ON e.vec_id = a.vec_id
    JOIN c{coarse_iter} c ON c.cell = a.ccell AND c.dim = e.dim
),
{_pq_subchain(m, k_codes, pq_iter, dim, src="rv", prefix="q")},
pcells AS (
    SELECT vec_id AS probe_id, cell FROM (
        SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
        FROM d{fa} WHERE vec_id < 10
    ) WHERE rn <= {nprobe}
),
pres AS (
    SELECT p.probe_id, p.cell AS ccell,
           (e.dim - 1) // {subdim} AS sub, (e.dim - 1) % {subdim} AS sd,
           e.val - c.cval AS val
    FROM pcells p
    JOIN ev e ON e.vec_id = p.probe_id
    JOIN c{coarse_iter} c ON c.cell = p.cell AND c.dim = e.dim
),
adc AS (
    SELECT pr.probe_id, a.vec_id AS neighbor_id,
           SUM((pr.val - cb.cval) * (pr.val - cb.cval)) AS adist
    FROM qa{pqf} a
    JOIN cassign ca ON ca.vec_id = a.vec_id
    JOIN qc{pq_iter} cb ON cb.sub = a.sub AND cb.cell = a.cell
    JOIN pres pr ON pr.ccell = ca.ccell AND pr.sub = cb.sub AND pr.sd = cb.sd
    WHERE a.vec_id <> pr.probe_id
    GROUP BY 1, 2
),
ranked AS (
    SELECT probe_id, neighbor_id, ROUND(adist, 6) AS adc_dist,
           ROW_NUMBER() OVER (PARTITION BY probe_id
                              ORDER BY ROUND(adist, 6), neighbor_id) AS rnk
    FROM adc
)
SELECT probe_id, neighbor_id, rnk, adc_dist
FROM ranked
WHERE rnk <= 5
"""


IVFPQ_ADC_ORACLE = _ivfpq_oracle_sql()


def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the embeddings corpus: k-means partition of the
    embedding space (kmeans_fit, projection-only rounds), then cosine
    near-dup removal WITHIN clusters only (operators/dedup.semantic_dedup)
    — pair work n²/k instead of n², the recipe that made semantic dedup
    tractable on LAION/web-scale corpora. A vector is removed when a
    lower-id clustermate scores >= 0.42; the keeper is the smallest such
    id. The oracle replays the fit (unrolled CTEs) + the within-cell pair
    scan with exact cosine."""
    from ..operators.dedup import semantic_dedup

    emb = read_fixture(spark, sf_dir, "embeddings")
    cents = kmeans_fit(emb, k=_K, iterations=_IVFPQ_COARSE_ITER, dim=_DIM)
    # "auto" hot-cell guard (r15 — VERDICT r14 item 5): 8x even-mass cap,
    # 2048 floor — never fires on the fixture clustering (oracle-pinned
    # results are unchanged), but a degenerate mass collapse at scale is
    # dropped instead of serializing n² pair work into one Python worker
    return semantic_dedup(emb, cents, threshold=0.42, max_cell_rows="auto").orderBy(
        "cell", "removed_id"
    )


def _semantic_oracle_sql(
    k: int = _K, iterations: int = _IVFPQ_COARSE_ITER, threshold: float = 0.42
) -> str:
    fa = iterations + 1
    return f"""
WITH {_kmeans_chain(k, iterations, extra_assign=True)},
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
pairs AS (
    SELECT a.cell, a.vec_id AS keeper_id, b.vec_id AS removed_id,
           LIST_INNER_PRODUCT(ea.v, eb.v)
           / (SQRT(LIST_INNER_PRODUCT(ea.v, ea.v))
              * SQRT(LIST_INNER_PRODUCT(eb.v, eb.v))) AS sim
    FROM a{fa} a
    JOIN a{fa} b ON a.cell = b.cell AND a.vec_id < b.vec_id
    JOIN e ea ON ea.vec_id = a.vec_id
    JOIN e eb ON eb.vec_id = b.vec_id
),
ranked AS (
    SELECT cell, removed_id, keeper_id, ROUND(sim, 4) AS cos_sim,
           ROW_NUMBER() OVER (PARTITION BY removed_id ORDER BY keeper_id) AS rn
    FROM pairs
    WHERE sim >= {threshold}
)
SELECT cell, removed_id, keeper_id, cos_sim
FROM ranked
WHERE rn = 1
ORDER BY cell, removed_id
"""


SEMANTIC_DEDUP_ORACLE = _semantic_oracle_sql()


def ml_ols_price_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed closed-form linear regression — the normal-equation
    primitive every shared-nothing ML trainer reduces to (MLlib's
    WeightedLeastSquares does exactly this): per return flag, fit
    price ~ quantity by aggregating centered second moments (one d x d
    partial-aggregated statistics pass — the exchange carries a handful
    of doubles per group, never rows) and solving on the driver side of
    the expression (here d=2, so the solve is a scalar ratio inside the
    projection).

    Two-pass centering (means first, then centered cross-products) keeps
    the sums numerically small — the single-pass n*Sxy - Sx*Sy form
    cancels catastrophically at corpus scale. Emits slope/intercept/R²
    per group, rounded; the oracle replays both passes."""
    from ..sources.readers import load_tables

    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    means = li.groupBy("l_returnflag").agg(
        F.avg("l_quantity").alias("mx"),
        F.avg("l_extendedprice").alias("my"),
        F.count("*").cast("long").alias("n_rows"),
    )
    j = li.join(means, "l_returnflag")
    cx = F.col("l_quantity") - F.col("mx")
    cy = F.col("l_extendedprice") - F.col("my")
    stats = j.groupBy("l_returnflag", "mx", "my", "n_rows").agg(
        F.sum(cx * cy).alias("sxy"),
        F.sum(cx * cx).alias("sxx"),
        F.sum(cy * cy).alias("syy"),
    )
    b1 = F.col("sxy") / F.col("sxx")
    return stats.select(
        "l_returnflag",
        "n_rows",
        F.round(b1, 2).alias("slope"),
        F.round(F.col("my") - b1 * F.col("mx"), 2).alias("intercept"),
        F.round(
            (F.col("sxy") * F.col("sxy")) / (F.col("sxx") * F.col("syy")), 6
        ).alias("r2"),
    ).orderBy("l_returnflag")


OLS_ORACLE = """
WITH means AS (
    SELECT l_returnflag, AVG(l_quantity) AS mx, AVG(l_extendedprice) AS my,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM lineitem GROUP BY l_returnflag
), stats AS (
    SELECT li.l_returnflag, m.mx, m.my, m.n_rows,
           SUM((li.l_quantity - m.mx) * (li.l_extendedprice - m.my)) AS sxy,
           SUM((li.l_quantity - m.mx) * (li.l_quantity - m.mx)) AS sxx,
           SUM((li.l_extendedprice - m.my) * (li.l_extendedprice - m.my)) AS syy
    FROM lineitem li JOIN means m ON li.l_returnflag = m.l_returnflag
    GROUP BY li.l_returnflag, m.mx, m.my, m.n_rows
)
SELECT l_returnflag, n_rows,
       ROUND(sxy / sxx, 2) AS slope,
       ROUND(my - (sxy / sxx) * mx, 2) AS intercept,
       ROUND((sxy * sxy) / (sxx * syy), 6) AS r2
FROM stats
ORDER BY l_returnflag
"""


_LOGREG_ITER = 5
_LOGREG_LR = 1.0


def ml_logreg_language(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed logistic regression (operators/regression.logreg_fit):
    predict lang == 'en' from document length features by 5 rounds of
    full-batch gradient descent with the rational fast-sigmoid link —
    the iterative-GD counterpart of the closed-form OLS query. Per round:
    one scan, one partial-aggregated gradient exchange (3 doubles),
    weights driver-resident as literals (the kmeans_fit pattern). Output:
    fitted coefficients plus training mean-prediction and MSE from one
    final pass. The oracle unrolls the same rounds as MATERIALIZED CTEs —
    zero-init, fixed lr, rational link make the replay exact, with
    ROUND(6) absorbing cross-engine summation-order ulp."""
    from ..functions.cache import scoped_persist
    from ..functions.texts import normalize, tokens
    from ..operators.regression import logreg_fit, logreg_predict

    docs = read_fixture(spark, sf_dir, "documents")
    feats = scoped_persist(
        docs.select(
            F.when(F.col("lang") == "en", 1.0).otherwise(0.0).alias("y"),
            (F.col("n_chars") / 300.0).alias("x1"),
            (F.size(tokens(normalize("text"))) / 50.0).alias("x2"),
        )
    )
    w = logreg_fit(
        feats,
        label_col="y",
        feature_cols=["x1", "x2"],
        iterations=_LOGREG_ITER,
        lr=_LOGREG_LR,
    )
    p = logreg_predict(feats, w, ["x1", "x2"])
    return feats.agg(
        F.count("*").cast("long").alias("n_rows"),
        F.round(F.lit(w[0]), 6).alias("w_bias"),
        F.round(F.lit(w[1]), 6).alias("w_chars"),
        F.round(F.lit(w[2]), 6).alias("w_tokens"),
        F.round(F.avg(p), 6).alias("mean_pred"),
        F.round(F.avg((p - F.col("y")) * (p - F.col("y"))), 6).alias("mse"),
    )


def _logreg_oracle_sql(iterations: int = _LOGREG_ITER, lr: float = _LOGREG_LR) -> str:
    """Unrolled GD replay: round r scores f against w{r-1} (fast sigmoid),
    averages the residual gradients, and steps to w{r}. MATERIALIZED
    throughout — the chained-CTE exponential-inlining hazard."""
    rounds = []
    for r in range(1, iterations + 1):
        rounds.append(
            f"""g{r} AS MATERIALIZED (
    SELECT AVG(p - y) AS g0, AVG((p - y) * x1) AS gx1, AVG((p - y) * x2) AS gx2
    FROM (SELECT y, x1, x2, 0.5 * (1 + z / (1 + ABS(z))) AS p
          FROM (SELECT f.y, f.x1, f.x2,
                       w.b + w.wa * f.x1 + w.wb * f.x2 AS z
                FROM f CROSS JOIN w{r - 1} w))
), w{r} AS MATERIALIZED (
    SELECT w.b - {lr!r} * g.g0 AS b,
           w.wa - {lr!r} * g.gx1 AS wa,
           w.wb - {lr!r} * g.gx2 AS wb
    FROM w{r - 1} w CROSS JOIN g{r} g
)"""
        )
    chain = ",\n".join(rounds)
    return f"""
WITH f AS MATERIALIZED (
    SELECT CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
           n_chars / 300.0 AS x1,
           LEN(STRING_SPLIT(TRIM(REGEXP_REPLACE(LOWER(text), '\\s+', ' ', 'g')), ' '))
               / 50.0 AS x2
    FROM documents
),
w0 AS (SELECT CAST(0 AS DOUBLE) AS b, CAST(0 AS DOUBLE) AS wa, CAST(0 AS DOUBLE) AS wb),
{chain},
scored AS (
    SELECT f.y, w.b, w.wa, w.wb,
           0.5 * (1 + (w.b + w.wa * f.x1 + w.wb * f.x2)
                  / (1 + ABS(w.b + w.wa * f.x1 + w.wb * f.x2))) AS p
    FROM f CROSS JOIN w{iterations} w
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       ROUND(b, 6) AS w_bias,
       ROUND(wa, 6) AS w_chars,
       ROUND(wb, 6) AS w_tokens,
       ROUND(AVG(p), 6) AS mean_pred,
       ROUND(AVG((p - y) * (p - y)), 6) AS mse
FROM scored
GROUP BY b, wa, wb
"""


LOGREG_ORACLE = _logreg_oracle_sql()


def ml_logreg_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram for the fitted logistic model: predictions
    binned into deciles, each bin reporting its mean predicted
    probability against the empirical positive rate — the standard
    calibration check before a learned quality filter gates real data.
    Reuses the same fit (weights re-derived deterministically — zero
    init, fixed rounds); the only additional work is one binned
    aggregate over the scoring pass. Bin edges land on k/10; the rational
    link's predictions are generic doubles, so edge collisions are
    measure-zero (same contract as every threshold query here)."""
    from ..functions.cache import scoped_persist
    from ..functions.texts import normalize, tokens
    from ..operators.regression import logreg_fit, logreg_predict

    docs = read_fixture(spark, sf_dir, "documents")
    feats = scoped_persist(
        docs.select(
            F.when(F.col("lang") == "en", 1.0).otherwise(0.0).alias("y"),
            (F.col("n_chars") / 300.0).alias("x1"),
            (F.size(tokens(normalize("text"))) / 50.0).alias("x2"),
        )
    )
    w = logreg_fit(
        feats,
        label_col="y",
        feature_cols=["x1", "x2"],
        iterations=_LOGREG_ITER,
        lr=_LOGREG_LR,
    )
    p = logreg_predict(feats, w, ["x1", "x2"])
    return (
        feats.select(
            F.least(F.floor(p * 10), F.lit(9)).cast("long").alias("bin"),
            F.col("y"),
            p.alias("p"),
        )
        .groupBy("bin")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.round(F.avg("p"), 6).alias("mean_pred"),
            F.round(F.avg("y"), 6).alias("frac_pos"),
        )
        .orderBy("bin")
    )


def _logreg_calibration_oracle_sql(
    iterations: int = _LOGREG_ITER, lr: float = _LOGREG_LR
) -> str:
    """The same unrolled chain as _logreg_oracle_sql, finishing in the
    decile-binned calibration aggregate instead of the coefficient row."""
    full = _logreg_oracle_sql(iterations, lr)
    head, _, _ = full.partition("SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,")
    return (
        head
        + """SELECT CAST(LEAST(FLOOR(p * 10), 9) AS BIGINT) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       ROUND(AVG(p), 6) AS mean_pred,
       ROUND(AVG(y), 6) AS frac_pos
FROM scored
GROUP BY 1
ORDER BY 1
"""
    )


LOGREG_CALIBRATION_ORACLE = _logreg_calibration_oracle_sql()


def sim_ann_recall_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality as a first-class query: per-probe recall@5 of the
    production k-means→IVF path (nprobe=3) against the exact brute-force
    top-5 — the metric an ANN deployment monitors continuously, computed
    in the SAME dataflow it measures. The oracle composes the existing
    kmeans+IVF replay chain with a brute-force rank replay and joins the
    two rankings; both sides' tie-breaks are deterministic, so the
    intersection (and hence recall) is exact, not approximate."""
    from ..operators.similarity import bruteforce_topk, centroids_df, ivf_topk

    emb = read_fixture(spark, sf_dir, "embeddings")
    cents = kmeans_fit(emb, k=_K, iterations=_ITERATIONS, dim=_DIM)
    probes = emb.filter(F.col("vec_id") < 10)
    ivf = ivf_topk(
        emb, probes, k=5, nprobe=3, centroids=centroids_df(spark, cents)
    ).select("probe_id", "neighbor_id")
    brute = bruteforce_topk(emb, probes, k=5).select("probe_id", "neighbor_id")
    hits = brute.join(ivf, ["probe_id", "neighbor_id"]).groupBy("probe_id").agg(
        F.count("*").alias("n_hits")
    )
    return (
        brute.groupBy("probe_id")
        .agg(F.count("*").cast("long").alias("k"))
        .join(hits, "probe_id", "left_outer")
        .select(
            "probe_id",
            "k",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
            F.round(F.coalesce(F.col("n_hits"), F.lit(0)) / F.col("k"), 4).alias(
                "recall"
            ),
        )
        .orderBy("probe_id")
    )


def _ann_recall_oracle_sql() -> str:
    """IVF replay chain (everything before its final SELECT) + a brute
    replay over the chain's shared `e` CTE, joined into per-probe recall."""
    ivf_full = _ivf_kmeans_oracle_sql()
    body, sep, _ = ivf_full.partition("SELECT probe_id, neighbor_id, rnk,")
    assert sep, "IVF oracle final-select marker moved"
    return (
        body
        + """, ivf AS (
    SELECT probe_id, neighbor_id FROM ranked WHERE rnk <= 5
), bscored AS (
    SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
           LIST_COSINE_SIMILARITY(p.v, c.v) AS sim
    FROM e p JOIN e c ON c.vec_id <> p.vec_id
    WHERE p.vec_id < 10
), brute AS (
    SELECT probe_id, neighbor_id FROM (
        SELECT probe_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY probe_id
                                  ORDER BY sim DESC, neighbor_id) AS rnk
        FROM bscored
    ) WHERE rnk <= 5
), hits AS (
    SELECT b.probe_id, COUNT(*) AS n_hits
    FROM brute b JOIN ivf i
      ON b.probe_id = i.probe_id AND b.neighbor_id = i.neighbor_id
    GROUP BY b.probe_id
)
SELECT b.probe_id,
       CAST(COUNT(*) AS BIGINT) AS k,
       CAST(COALESCE(MAX(h.n_hits), 0) AS BIGINT) AS n_hits,
       ROUND(CAST(COALESCE(MAX(h.n_hits), 0) AS DOUBLE) / COUNT(*), 4) AS recall
FROM brute b LEFT JOIN hits h ON b.probe_id = h.probe_id
GROUP BY b.probe_id
ORDER BY b.probe_id
"""
    )


ANN_RECALL_ORACLE = _ann_recall_oracle_sql()


_CV_FOLDS = 3
_CV_ITER = 3


def ml_logreg_crossval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed k-fold cross-validation of the GD classifier: docs are
    assigned to 3 folds by md5 (deterministic, engine-replayable); each
    fold's model trains on the OTHER folds (3 rounds of full-batch GD,
    fast-sigmoid link) and evaluates held-out MSE on its own — the
    generalization estimate a quality-filter model ships with, not its
    training loss. Per fold the cost is the usual per-round scan +
    3-double exchange; the oracle unrolls all three fold chains
    (MATERIALIZED) and replays the held-out scoring."""
    from ..functions.cache import scoped_persist
    from ..functions.texts import normalize, tokens
    from ..operators.regression import logreg_fit, logreg_predict

    docs = read_fixture(spark, sf_dir, "documents")
    fold = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("cv:"), F.col("doc_id").cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % _CV_FOLDS
    )
    feats = scoped_persist(
        docs.select(
            fold.alias("fold"),
            F.when(F.col("lang") == "en", 1.0).otherwise(0.0).alias("y"),
            (F.col("n_chars") / 300.0).alias("x1"),
            (F.size(tokens(normalize("text"))) / 50.0).alias("x2"),
        )
    )
    out = None
    for k in range(_CV_FOLDS):
        train = feats.filter(F.col("fold") != k)
        w = logreg_fit(
            train, label_col="y", feature_cols=["x1", "x2"], iterations=_CV_ITER
        )
        ev = feats.filter(F.col("fold") == k)
        p = logreg_predict(ev, w, ["x1", "x2"])
        row = ev.agg(
            F.lit(k).alias("fold"),
            F.count("*").cast("long").alias("n_eval"),
            F.round(F.lit(w[1]), 6).alias("w_chars"),
            F.round(F.lit(w[2]), 6).alias("w_tokens"),
            F.round(F.avg((p - F.col("y")) * (p - F.col("y"))), 6).alias("eval_mse"),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("fold")


def _logreg_cv_oracle_sql(
    folds: int = _CV_FOLDS, iterations: int = _CV_ITER, lr: float = _LOGREG_LR
) -> str:
    """Per fold: the GD chain over the fold's TRAIN rows, then held-out
    scoring — all fold chains unrolled (MATERIALIZED) and UNION ALLed."""
    nl = ",\n"
    chains = []
    parts = []
    for k in range(folds):
        p = f"k{k}"
        rounds = [
            f"{p}w0 AS (SELECT CAST(0 AS DOUBLE) AS b, "
            f"CAST(0 AS DOUBLE) AS wa, CAST(0 AS DOUBLE) AS wb)"
        ]
        for r in range(1, iterations + 1):
            rounds.append(
                f"""{p}g{r} AS MATERIALIZED (
    SELECT AVG(p - y) AS g0, AVG((p - y) * x1) AS gx1, AVG((p - y) * x2) AS gx2
    FROM (SELECT y, x1, x2, 0.5 * (1 + z / (1 + ABS(z))) AS p
          FROM (SELECT f.y, f.x1, f.x2,
                       w.b + w.wa * f.x1 + w.wb * f.x2 AS z
                FROM cvf f CROSS JOIN {p}w{r - 1} w
                WHERE f.fold <> {k}))
), {p}w{r} AS MATERIALIZED (
    SELECT w.b - {lr!r} * g.g0 AS b,
           w.wa - {lr!r} * g.gx1 AS wa,
           w.wb - {lr!r} * g.gx2 AS wb
    FROM {p}w{r - 1} w CROSS JOIN {p}g{r} g
)"""
            )
        chains.append(nl.join(rounds))
        parts.append(
            f"""SELECT {k} AS fold,
       CAST(COUNT(*) AS BIGINT) AS n_eval,
       ROUND(MAX(w.wa), 6) AS w_chars,
       ROUND(MAX(w.wb), 6) AS w_tokens,
       ROUND(AVG((0.5 * (1 + (w.b + w.wa * f.x1 + w.wb * f.x2)
                         / (1 + ABS(w.b + w.wa * f.x1 + w.wb * f.x2))) - f.y)
                 * (0.5 * (1 + (w.b + w.wa * f.x1 + w.wb * f.x2)
                           / (1 + ABS(w.b + w.wa * f.x1 + w.wb * f.x2))) - f.y)), 6)
           AS eval_mse
FROM cvf f CROSS JOIN {p}w{iterations} w
WHERE f.fold = {k}"""
        )
    all_chains = nl.join(chains)
    union = "\nUNION ALL\n".join(parts)
    backslash_s = "\\s+"
    return f"""
WITH cvf AS MATERIALIZED (
    SELECT CAST(('0x' || SUBSTR(MD5('cv:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
               % {folds} AS fold,
           CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
           n_chars / 300.0 AS x1,
           LEN(STRING_SPLIT(TRIM(REGEXP_REPLACE(LOWER(text), '{backslash_s}', ' ', 'g')), ' '))
               / 50.0 AS x2
    FROM documents
),
{all_chains}
SELECT * FROM (
{union}
)
ORDER BY fold
"""


LOGREG_CV_ORACLE = _logreg_cv_oracle_sql()


def cluster_topic_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Automatic topic labels for embedding clusters: each k-means cell is
    labeled by the 3 terms most over-represented in its member documents
    (doc_id ↔ vec_id) versus the whole corpus — smoothed log-odds, the
    same estimator as the per-language distinctive-terms screen — turning
    an opaque cell id into something a curator can read. Composition:
    projection-only k-means assignment → one token-count shuffle keyed by
    (cell, term) → the log-odds projection over the count tables. The
    oracle replays the fit (unrolled CTEs) and the scoring."""
    docs = read_fixture(spark, sf_dir, "documents")
    emb = read_fixture(spark, sf_dir, "embeddings")
    from pyspark.sql import Window

    from ..functions.texts import tokens as _tokens

    cents = kmeans_fit(emb, k=_K, iterations=_ITERATIONS, dim=_DIM)
    e = emb.select(F.col("vec_id").alias("cid"), as_double("embedding").alias("v"))
    assigned = assign_cells(e, cents).select("cid", "cell")
    tc = (
        docs.join(assigned, docs.doc_id == assigned.cid)
        .select("cell", F.explode(_tokens("text")).alias("term"))
        .groupBy("cell", "term")
        .agg(F.count("*").alias("y"))
    )
    totals = tc.groupBy("cell").agg(F.sum("y").alias("n_cell"))
    term_tot = tc.groupBy("term").agg(F.sum("y").alias("y_all"))
    corpus = tc.agg(F.sum("y").alias("n_all"))
    j = (
        tc.join(totals, "cell")
        .join(term_tot, "term")
        .crossJoin(F.broadcast(corpus))
        .withColumn("y_rest", F.col("y_all") - F.col("y"))
        .withColumn("n_rest", F.col("n_all") - F.col("n_cell"))
    )
    score = F.round(
        F.log((F.col("y") + 1.0) / (F.col("n_cell") - F.col("y") + 1.0))
        - F.log((F.col("y_rest") + 1.0) / (F.col("n_rest") - F.col("y_rest") + 1.0)),
        4,
    )
    scored = j.select("cell", "term", F.col("y").cast("long").alias("n_in_cell"), score.alias("log_odds"))
    w = Window.partitionBy("cell").orderBy(F.desc("log_odds"), "term")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("cell", "rnk", "term", "n_in_cell", "log_odds")
        .orderBy("cell", "rnk")
    )


def _cluster_topics_oracle_sql(k: int = _K, iterations: int = _ITERATIONS) -> str:
    return f"""
WITH {_kmeans_chain(k, iterations, extra_assign=True)},
tc AS (
    SELECT a.cell, term, COUNT(*) AS y
    FROM (SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS term FROM documents) t
    JOIN a{iterations + 1} a ON t.doc_id = a.vec_id
    GROUP BY a.cell, term
), totals AS (
    SELECT cell, SUM(y) AS n_cell FROM tc GROUP BY cell
), term_tot AS (
    SELECT term, SUM(y) AS y_all FROM tc GROUP BY term
), corpus AS (
    SELECT SUM(y) AS n_all FROM tc
), scored AS (
    SELECT tc.cell, tc.term,
           CAST(tc.y AS BIGINT) AS n_in_cell,
           ROUND(LN((tc.y + 1.0) / (totals.n_cell - tc.y + 1.0))
                 - LN((term_tot.y_all - tc.y + 1.0)
                      / (corpus.n_all - totals.n_cell - (term_tot.y_all - tc.y) + 1.0)),
                 4) AS log_odds
    FROM tc
    JOIN totals ON tc.cell = totals.cell
    JOIN term_tot ON tc.term = term_tot.term
    CROSS JOIN corpus
), ranked AS (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY cell
                                 ORDER BY log_odds DESC, term) AS rnk
    FROM scored
)
SELECT cell, CAST(rnk AS INT) AS rnk, term, n_in_cell, log_odds
FROM ranked
WHERE rnk <= 3
ORDER BY cell, rnk
"""


CLUSTER_TOPICS_ORACLE = _cluster_topics_oracle_sql()


_TRUNC_DIM = 32  # of the fixture's 64 — the MRL "half the bytes" point


def sim_dim_truncation_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style dimension-truncation evaluation: per-probe
    recall@5 of exact cosine search over the embeddings TRUNCATED to the
    first 32 of 64 dims, against the full-dimension brute-force top-5 —
    the measurement behind every 'store half the vector bytes' decision
    (MRL-trained embeddings front-load information, so truncation recall
    is the go/no-go metric; at 100 TB of vectors, halving dims halves
    every ANN index, shuffle, and cache in this engine). Same dataflow
    shape as sim_ann_recall_ivf: two broadcast-probe scans + ranking
    windows, id-only join for the intersection. The truncation itself is
    a zero-cost slice projection; the oracle replays both rankings with
    list slicing and joins them — recall is exact, not approximate."""
    from ..operators.similarity import bruteforce_topk

    emb = read_fixture(spark, sf_dir, "embeddings")

    def trunc(df: DataFrame) -> DataFrame:
        return df.select(
            "vec_id", F.slice("embedding", 1, _TRUNC_DIM).alias("embedding")
        )

    probes = emb.filter(F.col("vec_id") < 10)
    full = bruteforce_topk(emb, probes, k=5).select("probe_id", "neighbor_id")
    tr = bruteforce_topk(trunc(emb), trunc(probes), k=5).select(
        "probe_id", "neighbor_id"
    )
    hits = full.join(tr, ["probe_id", "neighbor_id"]).groupBy("probe_id").agg(
        F.count("*").alias("n_hits")
    )
    return (
        full.groupBy("probe_id")
        .agg(F.count("*").cast("long").alias("k"))
        .join(hits, "probe_id", "left_outer")
        .select(
            "probe_id",
            "k",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
            F.round(F.coalesce(F.col("n_hits"), F.lit(0)) / F.col("k"), 4).alias(
                "recall"
            ),
        )
        .orderBy("probe_id")
    )


DIM_TRUNCATION_ORACLE = f"""
WITH e AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), t AS (
    SELECT vec_id, v[1:{_TRUNC_DIM}] AS v FROM e
), fscored AS (
    SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
           LIST_COSINE_SIMILARITY(p.v, c.v) AS sim
    FROM e p JOIN e c ON c.vec_id <> p.vec_id
    WHERE p.vec_id < 10
), fullk AS (
    SELECT probe_id, neighbor_id FROM (
        SELECT probe_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY probe_id
                                  ORDER BY sim DESC, neighbor_id) AS rnk
        FROM fscored
    ) WHERE rnk <= 5
), tscored AS (
    SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
           LIST_COSINE_SIMILARITY(p.v, c.v) AS sim
    FROM t p JOIN t c ON c.vec_id <> p.vec_id
    WHERE p.vec_id < 10
), trunck AS (
    SELECT probe_id, neighbor_id FROM (
        SELECT probe_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY probe_id
                                  ORDER BY sim DESC, neighbor_id) AS rnk
        FROM tscored
    ) WHERE rnk <= 5
), hits AS (
    SELECT f.probe_id, COUNT(*) AS n_hits
    FROM fullk f JOIN trunck t2
      ON f.probe_id = t2.probe_id AND f.neighbor_id = t2.neighbor_id
    GROUP BY f.probe_id
)
SELECT f.probe_id,
       CAST(COUNT(*) AS BIGINT) AS k,
       CAST(COALESCE(MAX(h.n_hits), 0) AS BIGINT) AS n_hits,
       ROUND(CAST(COALESCE(MAX(h.n_hits), 0) AS DOUBLE) / COUNT(*), 4) AS recall
FROM fullk f LEFT JOIN hits h ON f.probe_id = h.probe_id
GROUP BY f.probe_id
ORDER BY f.probe_id
"""


QUERIES: dict[str, QuerySpec] = {
    "cluster_kmeans_embeddings": QuerySpec(cluster_kmeans_embeddings, KMEANS_ORACLE),
    "sim_ivf_kmeans_topk": QuerySpec(sim_ivf_kmeans_topk, IVF_KMEANS_ORACLE),
    "corpus_cluster_profile": QuerySpec(corpus_cluster_profile, CLUSTER_PROFILE_ORACLE),
    "mixture_temperature_weights": QuerySpec(
        mixture_temperature_weights, MIXTURE_ORACLE
    ),
    "sim_dim_truncation_recall": QuerySpec(
        sim_dim_truncation_recall, DIM_TRUNCATION_ORACLE
    ),
    "sim_ivf_incremental_topk": QuerySpec(
        sim_ivf_incremental_topk, IVF_INCREMENTAL_ORACLE
    ),
    # minor compaction folds the delta assignments into a new base-layout
    # artifact from the published segments only; same oracle (row-identical
    # by construction)
    "sim_ivf_compacted_topk": QuerySpec(sim_ivf_compacted_topk, IVF_INCREMENTAL_ORACLE),
    "sim_pq_adc_topk": QuerySpec(sim_pq_adc_topk, PQ_ADC_ORACLE, headline=True),
    "sim_ivfpq_adc_topk": QuerySpec(sim_ivfpq_adc_topk, IVFPQ_ADC_ORACLE, headline=True),
    "dedup_semantic": QuerySpec(dedup_semantic, SEMANTIC_DEDUP_ORACLE),
    "ml_ols_price_model": QuerySpec(ml_ols_price_model, OLS_ORACLE),
    "ml_logreg_language": QuerySpec(ml_logreg_language, LOGREG_ORACLE),
    "ml_logreg_calibration": QuerySpec(ml_logreg_calibration, LOGREG_CALIBRATION_ORACLE),
    "sim_ann_recall_ivf": QuerySpec(sim_ann_recall_ivf, ANN_RECALL_ORACLE),
    "ml_logreg_crossval": QuerySpec(ml_logreg_crossval, LOGREG_CV_ORACLE),
    "cluster_topic_labels": QuerySpec(cluster_topic_labels, CLUSTER_TOPICS_ORACLE),
}
