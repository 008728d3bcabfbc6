"""Similarity search over embedding columns (EXTENSION X3/X5).

Three tiers, trading recall for scale:

1. ``bruteforce_topk`` — exact cosine top-k. Probes are broadcast; the
   candidate table is scanned once; per-probe top-k is a ranking window.
   Right answer for ≤ millions of candidates or as the verification oracle.
2. ``centroid_similarity`` — IVF-style building block: per-label centroids
   computed in exploded (label, dim) space, members scored against their
   centroid. The same pattern gives coarse quantization for IVF search.
3. ``lsh_topk`` — sign-random-projection LSH: a 16-bit signature buckets
   vectors; exact cosine only within the probe's bucket. Shuffle volume
   O(n) instead of O(probes x n); recall measured against tier 1 in tests.

All vector math is ``functions.vectors`` (JVM higher-order functions, double
precision, deterministic fold order).
"""

from __future__ import annotations

import hashlib
import math

import pandas as pd  # module scope: pandas_udf resolves pd.Series type hints

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.cache import scoped_persist
from ..functions.frames import local_frame
from ..functions.vectors import as_double, dot, norm


def _cosine_prenormed(a, b, an, bn):
    """Cosine from precomputed per-side norms — the same CASE shape, fold
    arithmetic and values as ``functions.vectors.cosine`` (bit-identical:
    ``an``/``bn`` ARE ``norm(a)``/``norm(b)``, just evaluated once per ROW
    below the join instead of once per PAIR above it). The r15 A/B measured
    the old shape folding five 64-element interpreted aggregates per
    candidate pair (2 norms in the CASE condition + dot + 2 norms in the
    divisor — r15 before-plan Project(9)); precomputing norms cuts the
    scoring stage 2.2x (0.648 → 0.298 s) while static unrolling of the dot
    itself measured WORSE than the fold (codegen fallback) and was
    rejected — guide §1.1: empirical loop beats the first-principles plan."""
    d = an * bn
    return F.when(d != 0, dot(a, b) / d)


def bruteforce_topk(
    embeddings: DataFrame,
    probes: DataFrame,
    *,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact cosine top-k neighbors for each probe (excluding itself).

    ``probes`` (small) is broadcast against the candidate scan — no shuffle
    of the big side; the per-probe ranking window shuffles only
    (probes x candidates) scored rows, which the k-filter then truncates.
    Per-side norms are computed once per row BELOW the join (r15 — see
    ``_cosine_prenormed``); the per-pair work is one dot fold.
    """
    p = probes.select(
        F.col(id_col).alias("probe_id"), as_double(vec_col).alias("pv")
    ).withColumn("pn", norm(F.col("pv")))
    c = embeddings.select(
        F.col(id_col).alias("neighbor_id"), as_double(vec_col).alias("cv")
    ).withColumn("cn", norm(F.col("cv")))
    scored = (
        c.join(F.broadcast(p), F.col("neighbor_id") != F.col("probe_id"))
        .select(
            "probe_id",
            "neighbor_id",
            _cosine_prenormed(
                F.col("pv"), F.col("cv"), F.col("pn"), F.col("cn")
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("probe_id", "neighbor_id", "rnk", F.round("sim", 4).alias("sim"))
    )


def centroid_similarity(embeddings: DataFrame, *, label_col: str = "label") -> DataFrame:
    """Per-label centroid + mean member-to-centroid cosine (cluster tightness).

    Runs entirely in exploded (id, label, dim, value) space: centroids are a
    (label, dim) groupBy; dots/norms re-aggregate per vector. Two shuffles
    total, both on small keys — never materializes a dense matrix anywhere.
    """
    e = embeddings.select(
        "vec_id", F.col(label_col).alias("label"), F.posexplode(as_double("embedding"))
    ).withColumnsRenamed({"pos": "dim", "col": "val"})
    cent = e.groupBy("label", "dim").agg(F.avg("val").alias("cval"))
    joined = e.join(cent, ["label", "dim"])
    per_vec = joined.groupBy("vec_id", "label").agg(
        F.sum(F.col("val") * F.col("cval")).alias("dot"),
        F.sqrt(F.sum(F.col("val") * F.col("val"))).alias("vnorm"),
        F.sqrt(F.sum(F.col("cval") * F.col("cval"))).alias("cnorm"),
    )
    sim = per_vec.withColumn("cos", F.col("dot") / (F.col("vnorm") * F.col("cnorm")))
    return (
        sim.groupBy("label")
        .agg(
            F.count("*").alias("n_vectors"),
            F.round(F.avg("cos"), 3).alias("avg_cos_to_centroid"),
        )
        .orderBy("label")
    )


def _plane_weights(num_planes: int, dim: int, *, table: int = 0) -> list[list[float]]:
    """Deterministic ±1 hyperplanes from md5(table, plane, dim) parity — no
    RNG state, so signatures are identical across runs/sessions/executors."""
    planes = []
    for p in range(num_planes):
        row = []
        for d in range(dim):
            digest = hashlib.md5(f"srp:{table}:{p}:{d}".encode()).digest()
            row.append(1.0 if digest[0] & 1 else -1.0)
        planes.append(row)
    return planes


def srp_plane_sql_values(num_tables: int, num_planes: int, dim: int) -> str:
    """The SAME planes as ``_plane_weights``, rendered as a SQL VALUES body
    ``(tbl, p, w DOUBLE[])`` — lets a DuckDB oracle recompute SRP signatures
    bit-for-bit and hash-verify the LSH family end-to-end (the planes are
    md5-derived Python-side, so they are reproducible outside Spark)."""
    rows = []
    for t in range(num_tables):
        for p, w in enumerate(_plane_weights(num_planes, dim, table=t)):
            arr = "[" + ",".join("1.0" if x > 0 else "-1.0" for x in w) + "]"
            rows.append(f"({t},{p},{arr}::DOUBLE[])")
    return ",\n".join(rows)


def srp_signature(
    embeddings: DataFrame,
    *,
    vec_col: str = "embedding",
    num_planes: int = 16,
    dim: int = 64,
    table: int = 0,
    out_col: str = "srp_sig",
) -> DataFrame:
    """Sign-random-projection signature: bit_p = [v · plane_p > 0].

    Planes are compile-time literal arrays (broadcast with the plan); the
    projection is a zip_with/aggregate fold per plane — one scan, no shuffle.
    """
    planes = _plane_weights(num_planes, dim, table=table)
    v = as_double(vec_col)
    bits = []
    for p, weights in enumerate(planes):
        w = F.array(*[F.lit(x) for x in weights])
        proj = F.aggregate(
            F.zip_with(v, w, lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
        )
        bits.append(
            F.when(proj > 0, F.shiftleft(F.lit(1).cast("long"), p)).otherwise(
                F.lit(0).cast("long")
            )
        )
    return embeddings.withColumn(out_col, sum(bits).cast("long"))


def _all_table_sigs_arrow(*, num_planes: int, num_tables: int, dim: int):
    """Arrow-vectorized SRP signatures for ALL tables in one numpy matmul —
    an ``array<long>`` of per-table signatures per row.

    The interpreted HOF fold in srp_signature dominates the SRP pipeline
    (profiled ~60-70% of dedup_embedding_cosine_bucketed wall time at
    sf0.1: 32 plane folds x 64 dims per row, no codegen); one
    (batch, dim) @ (dim, tables*planes) BLAS call replaces them all. Bit
    semantics are identical (bit_p = [v . plane_p > 0]); only float
    summation ORDER differs from the sequential fold, which can flip a
    sign only when |projection| is within accumulated ulp of zero —
    vanishingly rare on real-valued embeddings, and
    test_srp_arrow_signatures_match_fold pins fold==matmul equality on
    the fixture corpus so the plane-literal SQL oracles stay valid."""
    import numpy as np

    planes = np.array(
        [
            w
            for t in range(num_tables)
            for w in _plane_weights(num_planes, dim, table=t)
        ],
        dtype=np.float64,
    ).T  # (dim, tables*planes)
    shifts = np.array(
        [1 << p for _ in range(num_tables) for p in range(num_planes)],
        dtype=np.int64,
    )

    @F.pandas_udf("array<long>")
    def sigs(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype="object")
        V = np.asarray(vs.tolist(), dtype=np.float64)
        bits = (V @ planes) > 0  # (n, tables*planes)
        weighted = bits * shifts
        per_table = weighted.reshape(len(V), -1, num_planes).sum(axis=2)
        return pd.Series(list(per_table))

    # asNondeterministic: posexplode over the UDF column plants an implicit
    # size(...)>0 filter that the optimizer pushes BELOW the projection,
    # duplicating the ArrowEvalPython node — every embedding then crosses
    # the Python boundary twice and the matmul runs twice (observed in the
    # r14 before-plans: two ArrowEvalPython per scan). The UDF is pure; the
    # flag only forbids the optimizer to clone it.
    return sigs.asNondeterministic()


def _multi_table_sig(
    df: DataFrame,
    *,
    vec_col: str,
    num_planes: int,
    num_tables: int,
    dim: int,
    arrow: bool = True,
) -> DataFrame:
    """Attach an array of per-table SRP signatures, then explode to
    (row, table, sig) — the multi-probe layout for the bucket join.
    ``arrow=True`` (default) computes every table's signature in one
    vectorized matmul (see _all_table_sigs_arrow); ``arrow=False`` keeps
    the pure-JVM fold (the reference semantics the tests compare against).
    """
    if arrow:
        sigs_udf = _all_table_sigs_arrow(
            num_planes=num_planes, num_tables=num_tables, dim=dim
        )
        out = df.withColumn("_sigs", sigs_udf(F.col(vec_col)))
        return out.select(
            *df.columns, F.posexplode("_sigs").alias("tbl", "sig")
        )
    out = df
    for t in range(num_tables):
        out = srp_signature(
            out, vec_col=vec_col, num_planes=num_planes, dim=dim, table=t, out_col=f"_sig_{t}"
        )
    sigs = F.array(
        *[
            F.struct(F.lit(t).alias("tbl"), F.col(f"_sig_{t}").alias("sig"))
            for t in range(num_tables)
        ]
    )
    return (
        out.withColumn("_ts", F.explode(sigs))
        .select(*df.columns, F.col("_ts.tbl").alias("tbl"), F.col("_ts.sig").alias("sig"))
    )


def ivf_topk(
    embeddings: DataFrame,
    probes: DataFrame,
    *,
    k: int = 5,
    n_cells: int = 10,
    nprobe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF (inverted-file) ANN: coarse-quantize the corpus into ``n_cells``
    cells by nearest centroid, then search a probe only in its ``nprobe``
    closest cells with exact cosine.

    Default centroids are the ``n_cells`` corpus vectors with the smallest
    ``md5(id)`` — a deterministic, order-free sample that a SQL oracle can
    recompute (md5 exists in DuckDB; xxhash64 does not). ``orderBy(hash)
    .limit(n)`` compiles to TakeOrderedAndProject: every scan task keeps its
    local top-n and the driver merges only n x partitions candidate rows, so
    seeding costs one scan with NO global sort, NO single-partition window,
    and NO extra count() action (the round-1 version had all three).
    Production passes k-means ``centroids`` (columns ``cell``, ``centv``) —
    the *search* dataflow is identical and that is what scales: the corpus is
    scored once against n_cells centroids (O(n x cells)), partitioned by
    cell, and each probe touches nprobe/n_cells of the data. Recall vs
    bruteforce is measured in tests; raise nprobe for recall, n_cells for
    speed.
    """
    e = embeddings.select(F.col(id_col).alias("cid"), as_double(vec_col).alias("cv"))
    if centroids is None:
        # The sampled vector's own id is the cell key — dense 1..n numbering
        # would need a window; the join below only needs distinctness.
        centroids = (
            e.withColumn("_h", F.md5(F.col("cid").cast("string")))
            .orderBy("_h", "cid")
            .limit(n_cells)
            .select(F.col("cid").alias("cell"), F.col("cv").alias("centv"))
        )
    assigned = ivf_nearest_cells(e, centroids, "cid", "cv", 1)
    p = probes.select(F.col(id_col).alias("probe_id"), as_double(vec_col).alias("pv"))
    probe_cells = ivf_nearest_cells(p, centroids, "probe_id", "pv", nprobe)
    return ivf_search(assigned, probe_cells, k=k)


def ivf_nearest_cells(
    df: DataFrame, centroids: DataFrame, idcol: str, vcol: str, top: int
) -> DataFrame:
    """The IVF assignment rule — nearest ``top`` centroids by cosine,
    ties broken by cell asc — shared by ``ivf_topk`` and the
    persisted-index serving path (queries/ml.sim_ivf_incremental_topk) so
    their bit-equality contract has exactly one implementation."""
    # row norm once per input row, centroid norm once per centroid — the
    # crossJoin pays one dot fold per (row, centroid) instead of five
    # (r15, _cosine_prenormed; bit-identical)
    scored = (
        df.withColumn("_vn", norm(F.col(vcol)))
        .crossJoin(
            F.broadcast(
                centroids.select("cell", "centv").withColumn(
                    "_cn", norm(F.col("centv"))
                )
            )
        )
        .select(
            idcol,
            vcol,
            "cell",
            _cosine_prenormed(
                F.col(vcol), F.col("centv"), F.col("_vn"), F.col("_cn")
            ).alias("csim"),
        )
    )
    w = Window.partitionBy(idcol).orderBy(F.desc("csim"), F.asc("cell"))
    return (
        scored.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= top)
        .select(idcol, vcol, "cell")
    )


def ivf_search(assigned: DataFrame, probe_cells: DataFrame, *, k: int) -> DataFrame:
    """The IVF search tail: co-celled candidates (broadcast probe side),
    self-exclusion, exact-cosine rescoring, per-probe top-k with the
    (sim desc, neighbor asc) tie-break. ``assigned`` carries (cid, cv,
    cell); ``probe_cells`` carries (probe_id, pv, cell)."""
    # norms once per side below the join (r15, _cosine_prenormed) — works
    # for every caller (ivf_topk and the persisted-index serves) because
    # they are derived here, not read from the index schema
    cands = (
        assigned.withColumn("_cn", norm(F.col("cv")))
        .join(F.broadcast(probe_cells.withColumn("_pn", norm(F.col("pv")))), "cell")
        .filter(F.col("cid") != F.col("probe_id"))
        .dropDuplicates(["probe_id", "cid"])
    )
    scored = cands.select(
        "probe_id",
        F.col("cid").alias("neighbor_id"),
        _cosine_prenormed(F.col("pv"), F.col("cv"), F.col("_pn"), F.col("_cn")).alias(
            "sim"
        ),
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("probe_id", "neighbor_id", "rnk", F.round("sim", 4).alias("sim"))
    )


def assign_cells(
    embeddings: DataFrame,
    centroids: list[list[float]],
    *,
    vec_col: str = "v",
) -> DataFrame:
    """Assign each vector to its nearest centroid (squared L2) — as a PURE
    PROJECTION, zero shuffle.

    The centroids are compile-time literal arrays (they are driver-small by
    definition — k x dim doubles), so the per-row distance folds and the
    argmin run inside whole-stage codegen on the scan: no crossJoin, no
    broadcast exchange, no per-row Python. The argmin is an ``array_min``
    over (distance, index) structs — deterministic tie-break by cell index.
    Adds ``cell`` (long) and ``dist`` (squared L2 to that centroid).
    """
    if not centroids:
        raise ValueError("centroids must be non-empty")
    v = F.col(vec_col)
    cands = []
    for i, c in enumerate(centroids):
        w = F.array(*[F.lit(float(x)) for x in c])
        d2 = F.aggregate(
            F.zip_with(v, w, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        cands.append(F.struct(d2.alias("d"), F.lit(i).cast("long").alias("i")))
    m = F.array_min(F.array(*cands))
    return embeddings.withColumn("cell", m["i"]).withColumn("dist", m["d"])


def kmeans_fit(
    embeddings: DataFrame,
    *,
    k: int = 8,
    iterations: int = 3,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Lloyd's k-means over an embedding column — the production centroid
    source for ``ivf_topk`` (pass the result through ``centroids_df``).

    Scale shape per round (this is the point of the design):

    - **Assignment is projection-only** (``assign_cells``): centroids are
      embedded as literal arrays, so assigning a 100 TB corpus is one scan
      with NO shuffle, NO broadcast join, NO crossJoin against a centroid
      table.
    - **Update is one narrow shuffle**: per-dim means via ``k x dim``
      partial-aggregating AVG columns — each task emits k rows of dim
      partials, the exchange carries k x partitions rows, never vectors.
    - **Centroids live on the driver** between rounds (k x dim doubles —
      small by definition; k=1024, dim=4096 is 32 MB). The per-round
      ``collect()`` of k rows replaces PageRank's per-round
      ``localCheckpoint()`` — same action count, smaller payload, and it
      keeps every round's assignment expression literal (the lineage never
      nests).

    Determinism: init picks the k vectors with the smallest
    ``md5(id)`` (TakeOrderedAndProject — distributed partial top-k, same
    seeding as ``ivf_topk``), ties in the argmin break by cell index, and
    the iteration count is FIXED so a DuckDB oracle can replay every round
    as unrolled CTEs (queries/ml.py). A cell that loses all members keeps
    its previous centroid.

    ``dim`` is derived from the data when omitted and validated against it
    when given. Returns the centroid list (index = cell id), for
    ``assign_cells`` / ``centroids_df``.
    """
    if k < 1 or iterations < 0:
        raise ValueError(f"need k >= 1 and iterations >= 0, got k={k}, iterations={iterations}")
    e = embeddings.select(F.col(id_col).alias("cid"), as_double(vec_col).alias("v"))
    init = (
        e.withColumn("_h", F.md5(F.col("cid").cast("string")))
        .orderBy("_h", "cid")
        .limit(k)
        .collect()
    )
    if not init:
        raise ValueError("kmeans_fit: embeddings input is empty")
    actual_dim = len(init[0].v)
    if dim is None:
        dim = actual_dim
    elif dim != actual_dim:
        # a silent mismatch truncates centroids (dim too small) or poisons
        # the next round with None means (dim too large) — fail loud
        raise ValueError(f"dim={dim} but vectors have {actual_dim} dimensions")
    cents = [list(r.v) for r in init]
    for _ in range(iterations):
        rows = (
            assign_cells(e, cents)
            .groupBy("cell")
            .agg(*[F.avg(F.col("v")[d]).alias(f"m{d}") for d in range(dim)])
            .collect()
        )
        nxt = list(cents)  # empty cells carry their previous centroid
        for r in rows:
            nxt[r["cell"]] = [r[f"m{d}"] for d in range(dim)]
        cents = nxt
    return cents


def centroids_df(spark, cents: list[list[float]]) -> DataFrame:
    """Render driver-side centroids as the (cell, centv) DataFrame
    ``ivf_topk(centroids=...)`` consumes."""
    return local_frame(
        spark,
        [(i, [float(x) for x in c]) for i, c in enumerate(cents)],
        "cell long, centv array<double>",
    )


#: One-shot pair scoring (np.triu_indices) is used up to this bucket size:
#: n=512 is ~131k pairs — two gathered (pairs, dim) float64 blocks are
#: ~67 MB each at dim=64, bounded even with a full slot count of
#: concurrent bucket tasks. Bigger buckets (possible only when
#: max_bucket_rows exceeds this or planes are pinned small) fall to a
#: per-row sweep with O(n x dim) memory instead.
_SRP_TRIU_MAX_ROWS = 512


def _bucket_pair_scorer(
    threshold: float,
    *,
    a_col: str = "vec_a",
    b_col: str = "vec_b",
    passthrough: tuple[str, ...] = (),
    id_col: str = "vid",
    vec_col: str = "v",
):
    """applyInPandas scorer for one bucket/cell: all (a < b) member pairs,
    exact numpy cosine, only pairs >= threshold returned. The input frame
    must carry ``id_col``/``vec_col`` (r15 ADVICE: previously hardcoded
    'vid'/'v' while output names were parameterized — now both ends are).

    The per-pair arithmetic is EXACTLY functions.vectors.cosine_arrow's —
    elementwise product, axis-1 pairwise-summation reduce, sqrt-norm
    product — on the same float64 rows, so a pair scores bit-identically
    here, in the r13 join+cosine_arrow shape, and wherever it co-buckets
    (a cross-table dropDuplicates may keep any copy).

    Zero-vector (NaN-scoring) pairs: the numpy ``sim >= threshold`` below
    drops them (NaN compares False). This is a DELIBERATE r14 behavior
    change from the r13 JVM filter ``F.col('_sim') >= lit(threshold)``,
    which KEPT them — Spark SQL orders NaN above every double, so NaN >=
    threshold was true (and DuckDB under ieee_floating_point_ops ranks NaN
    the same way). A zero vector has no direction, so "similar" is
    undefined; dropping the pair is the defensible semantics, it matches
    vectors.cosine's NULL (also dropped by any >= filter), and no fixture
    contains a zero vector at any SF, so every oracle hash is unaffected —
    pinned by test_bucket_pair_scorer_drops_zero_vector_pairs."""
    import numpy as np

    def score(pdf: pd.DataFrame) -> pd.DataFrame:
        def frame(a, b, s) -> pd.DataFrame:
            cols = {c: pdf[c].iloc[:1].repeat(len(a)).to_numpy() for c in passthrough}
            cols[a_col] = a
            cols[b_col] = b
            cols["_sim"] = s
            return pd.DataFrame(cols)

        n = len(pdf)
        e_i = np.array([], dtype=np.int64)
        if n < 2:
            return frame(e_i, e_i, np.array([], dtype=np.float64))
        pdf = pdf.sort_values(id_col)  # (a < b) pair orientation
        vids = pdf[id_col].to_numpy()
        V = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
        # per-vector norms once (n folds, not n² — same rule the exact
        # baseline uses); sqrt((row*row).sum(axis=1)) is bit-identical to
        # cosine_arrow's per-pair recompute of the same row
        nrm = np.sqrt((V * V).sum(axis=1))
        out_a, out_b, out_s = [], [], []

        def emit(ia: np.ndarray, ib: np.ndarray, sim: np.ndarray) -> None:
            keep = sim >= threshold  # NaN compares False
            if keep.any():
                out_a.append(vids[ia][keep])
                out_b.append(vids[ib][keep])
                out_s.append(sim[keep])

        if n <= _SRP_TRIU_MAX_ROWS:
            ia, ib = np.triu_indices(n, k=1)
            dots = (V[ia] * V[ib]).sum(axis=1)
            d = nrm[ia] * nrm[ib]
            emit(ia, ib, np.where(d != 0, dots / np.where(d == 0, 1.0, d), np.nan))
        else:
            for i in range(n - 1):
                dots = (V[i] * V[i + 1 :]).sum(axis=1)
                d = nrm[i] * nrm[i + 1 :]
                sim = np.where(d != 0, dots / np.where(d == 0, 1.0, d), np.nan)
                ib = np.arange(i + 1, n)
                emit(np.full(len(ib), i), ib, sim)
        if not out_a:
            return frame(e_i, e_i, np.array([], dtype=np.float64))
        return frame(
            np.concatenate(out_a), np.concatenate(out_b), np.concatenate(out_s)
        )

    return score


def srp_dedup_pairs(
    embeddings: DataFrame,
    *,
    threshold: float = 0.42,
    num_planes: int | None = None,
    num_tables: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    target_bucket_rows: int = 64,
    max_bucket_rows: int | None = None,
) -> DataFrame:
    """Embedding near-dup pairs WITHOUT all-pairs scoring (VERDICT r1 item
    4): candidate pairs are generated by a self-join on (table, SRP
    signature) across ``num_tables`` independent hash tables, then scored
    with exact cosine — only co-bucketed pairs ever meet.

    Scale shape, stage by stage (r14 — within-bucket scoring, optimization
    guide §8: every shuffle but the last moves a lightweight proxy, and
    heavy bytes move once):

    - ONE exchange carries the vectors: the (tbl, sig)-keyed groupBy ships
      each vector ``num_tables`` times — O(n x tables) linear rows, never
      the candidate pair space.
    - Each bucket scores its own pairs inside one Arrow batch
      (``applyInPandas``): per-pair arithmetic is the exact numpy
      expression cosine_arrow uses, and pairs BELOW threshold never leave
      the Python worker. The r13 shape materialized every candidate pair
      (~40% of all pairs on the fixture's random-vector regime), shuffled
      the id-pair space through a dropDuplicates, joined both 64-dim
      vectors back on, and pushed ~1 KB per pair through Arrow just to
      discard most of them at the threshold filter.
    - The cross-table dedup runs on SURVIVORS only (duplicates carry
      bit-identical sims, so any representative wins).

    Never O(n²) pairs, never a broadcast of the full vector table into a
    nested-loop join (contrast queries/llm.dedup_embedding_cosine, the
    exact small-n oracle baseline). Precision is exact (survivors are
    re-scored with true cosine); only recall is probabilistic: a pair at
    angle θ co-buckets in one table with p=(1-θ/π)^planes and is missed
    entirely with (1-p)^tables. At true near-dup thresholds (cos ≥ 0.9,
    θ ≤ 0.45) p ≈ 0.5 per table (4 planes) and the miss rate is ~4e-3
    with 8 tables while random pairs almost never collide; the fixture's
    random vectors force the much harder cos ≥ 0.42 regime, where measured
    recall vs the exact baseline is asserted in tests. Bucket count per
    table is 2^planes — per-bucket self-join work is (n/2^planes)² per
    bucket, so at FIXED planes the operator degrades quadratically as the
    corpus grows (tools/scale_lab.py measured a 64x corpus OOMing the
    default-4-planes config). ``num_planes=None`` (default) therefore
    AUTO-SIZES planes = log2(n / target_bucket_rows) from one count()
    pass, holding expected bucket occupancy — and with it per-bucket
    quadratic work — constant as n grows; raising planes costs per-table
    recall, which is why the table count rides along as the recall knob.
    Pass an explicit ``num_planes`` to pin the geometry (the oracle-paired
    query does, so its generated plane-literal SQL stays in lockstep).

    Auto-sizing holds the EXPECTED bucket size; it cannot help when the
    data itself is degenerate — a dense cluster of near-identical
    embeddings (templated/boilerplate content at corpus scale) lands its
    whole mass in one bucket of every table, and that hot bucket alone is
    quadratic (tools/scale_lab.py reproduced this with replica-constant
    vector shifts: 32k vectors → 104M candidate pairs). ``max_bucket_rows``
    is the guard: buckets larger than the cap are dropped from candidate
    generation, exactly like the stop-shingle cap in
    dedup.ngram_jaccard_pairs — members of such a cluster are better
    handled by exact dedup / connected clusters, and pairs that straddle
    cluster boundaries still surface through the other tables.
    """
    if num_planes is None:
        n = embeddings.count()  # parquet count: metadata-cheap, one pass
        num_planes = max(4, min(24, math.ceil(math.log2(max(n, 1) / target_bucket_rows))))
    e = embeddings.select(F.col(id_col).alias("vid"), as_double(vec_col).alias("v"))
    sig = _multi_table_sig(
        e, vec_col="v", num_planes=num_planes, num_tables=num_tables, dim=dim
    ).select("vid", "v", "tbl", "sig")
    if max_bucket_rows is not None:
        # persist BEFORE deriving the hot-bucket set: `hot` descends from
        # `sig`, so an unpersisted frame recomputes the whole scan + Arrow
        # matmul + explode a second time just to count bucket occupancy
        # (observed in the r14 before-plan: two full sig pipelines)
        sig = scoped_persist(sig)
        hot = (
            sig.groupBy("tbl", "sig")
            .agg(F.count("*").alias("_rows"))
            .filter(F.col("_rows") > max_bucket_rows)
            .select("tbl", "sig")
        )
        sig = sig.join(hot, ["tbl", "sig"], "left_anti")
    pairs = sig.groupBy("tbl", "sig").applyInPandas(
        _bucket_pair_scorer(threshold), "vec_a long, vec_b long, _sim double"
    )
    return pairs.dropDuplicates(["vec_a", "vec_b"]).select(
        "vec_a", "vec_b", F.round("_sim", 4).alias("cos_sim")
    )


def lsh_topk(
    embeddings: DataFrame,
    probes: DataFrame,
    *,
    k: int = 5,
    num_planes: int = 4,
    num_tables: int = 6,
    dim: int = 64,
) -> DataFrame:
    """ANN top-k: exact cosine restricted to SRP bucket matches across
    ``num_tables`` independent hash tables (multi-table LSH).

    Per table, only 1/2^planes of the corpus co-buckets with a probe; a true
    near neighbor (angle θ) matches a table with prob (1-θ/π)^planes, and
    missing ALL tables decays exponentially: recall ≈ 1-(1-p)^tables. More
    tables = recall, more planes = speed. Candidates are unioned and deduped
    before the (exact) cosine ranking, so precision is never approximate —
    only recall is. Recall vs bruteforce_topk is measured in tests.
    """
    # per-side norms ride the signature explode (one extra double per row)
    # so the bucket-match exact scoring pays ONE dot fold per candidate pair
    # instead of five folds — bit-identical (r15, _cosine_prenormed)
    c = _multi_table_sig(
        embeddings.select(
            F.col("vec_id").alias("neighbor_id"), as_double("embedding").alias("cv")
        ).withColumn("cn", norm(F.col("cv"))),
        vec_col="cv",
        num_planes=num_planes,
        num_tables=num_tables,
        dim=dim,
    )
    p = _multi_table_sig(
        probes.select(
            F.col("vec_id").alias("probe_id"), as_double("embedding").alias("pv")
        ).withColumn("pn", norm(F.col("pv"))),
        vec_col="pv",
        num_planes=num_planes,
        num_tables=num_tables,
        dim=dim,
    ).withColumnsRenamed({"tbl": "ptbl", "sig": "psig"})
    cands = (
        c.join(
            F.broadcast(p),
            (F.col("tbl") == F.col("ptbl"))
            & (F.col("sig") == F.col("psig"))
            & (F.col("neighbor_id") != F.col("probe_id")),
        )
        .select("probe_id", "neighbor_id", "pv", "cv", "pn", "cn")
        .dropDuplicates(["probe_id", "neighbor_id"])
    )
    scored = cands.select(
        "probe_id",
        "neighbor_id",
        _cosine_prenormed(F.col("pv"), F.col("cv"), F.col("pn"), F.col("cn")).alias(
            "sim"
        ),
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("probe_id", "neighbor_id", "rnk", F.round("sim", 4).alias("sim"))
    )


# --------------------------------------------------------------------------
# Product quantization (PQ): codebook fit, encode, asymmetric-distance top-k
# --------------------------------------------------------------------------


def _sqdist(a, b):
    """Squared L2 between an array column and an array expression — the same
    zip_with/aggregate fold assign_cells uses (whole-stage codegen'd)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _sub_slices(vec_col, m: int, subdim: int):
    """The m contiguous subvector slices of a dim-length array column."""
    return [F.slice(vec_col, s * subdim + 1, subdim) for s in range(m)]


def _code_expr(sub_slice, book: list[list[float]]):
    """Argmin codeword index for one subvector against one subspace's
    codebook — literal arrays, first-minimum tie-break (lowest code wins,
    mirroring assign_cells' (dist, index) struct min)."""
    dists = F.array(
        *[_sqdist(sub_slice, F.array(*[F.lit(float(x)) for x in c])) for c in book]
    )
    return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")


def pq_fit(
    embeddings: DataFrame,
    *,
    m: int = 4,
    k: int = 8,
    iterations: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Per-subspace Lloyd's fit of PQ codebooks: split each vector into
    ``m`` contiguous ``dim/m``-length subvectors and run k-means with ``k``
    codewords independently in every subspace. Returns
    ``books[sub][code][subdim]`` — ``m * k * dim/m`` doubles, driver-small
    by construction (the whole codebook of a 4096-dim, m=64, k=256 PQ is
    1 MB).

    Scale shape mirrors ``kmeans_fit`` with the subspace axis folded into
    the SAME jobs, not multiplied: per round, assignment is ONE scan whose
    posexplode emits (vector, sub, subvector) rows with the argmin fused as
    a literal-codebook projection (no shuffle, no crossJoin), and the
    update is ONE m*k x subdim partial-mean shuffle. Codebooks live on the
    driver between rounds. Determinism matches kmeans_fit: seeds are the k
    vectors with the smallest md5(id) (their slices seed every subspace),
    argmin ties break to the lowest code, empty codes carry forward — so a
    DuckDB oracle can replay the fit as unrolled CTEs (queries/ml.py).
    """
    if dim % m != 0:
        raise ValueError(f"dim {dim} must be divisible by m {m}")
    if k < 1 or iterations < 0:
        raise ValueError(f"need k >= 1 and iterations >= 0, got k={k}, iterations={iterations}")
    subdim = dim // m
    e = embeddings.select(F.col(id_col).alias("vid"), as_double(vec_col).alias("v"))
    seeds = (
        e.withColumn("_h", F.md5(F.col("vid").cast("string")))
        .orderBy("_h", "vid")
        .limit(k)
        .collect()
    )
    if not seeds:
        raise ValueError("pq_fit: embeddings input is empty")
    if len(seeds[0].v) != dim:
        raise ValueError(f"dim={dim} but vectors have {len(seeds[0].v)} dimensions")
    books = [
        [list(r.v[s * subdim : (s + 1) * subdim]) for r in seeds] for s in range(m)
    ]
    sliced = e.select(
        "vid",
        F.posexplode(F.array(*_sub_slices(F.col("v"), m, subdim))).alias("sub", "sv"),
    )
    for _ in range(iterations):
        lit_books = F.array(
            *[
                F.array(*[F.array(*[F.lit(float(x)) for x in c]) for c in books[s]])
                for s in range(m)
            ]
        )
        cents_here = F.element_at(lit_books, F.col("sub") + 1)
        dists = F.transform(cents_here, lambda c: _sqdist(F.col("sv"), c))
        assigned = sliced.withColumn(
            "code", (F.array_position(dists, F.array_min(dists)) - 1).cast("int")
        )
        rows = (
            assigned.groupBy("sub", "code")
            .agg(*[F.avg(F.col("sv")[d]).alias(f"m{d}") for d in range(subdim)])
            .collect()
        )
        nxt = [list(book) for book in books]  # empty codes carry forward
        for r in rows:
            nxt[r["sub"]][r["code"]] = [r[f"m{d}"] for d in range(subdim)]
        books = nxt
    return books


def pq_encode(
    embeddings: DataFrame,
    books: list[list[list[float]]],
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode each vector as ``m`` codeword indices — (id, codes array<int>).

    A PURE PROJECTION: the codebooks are literal arrays, so encoding a
    100 TB corpus is one scan inside whole-stage codegen — no shuffle, no
    join, no Python (plan-asserted in tests). At m=4/k=8 the 64-dim double
    vector (512 B) compresses to 4 small ints; production m=64/k=256 is
    64 B -> the 32-512x footprint cut that makes billion-vector ANN serving
    fit in memory.
    """
    m = len(books)
    subdim = len(books[0][0])
    v = as_double(vec_col)
    codes = F.array(
        *[_code_expr(sl, books[s]) for s, sl in enumerate(_sub_slices(v, m, subdim))]
    )
    return embeddings.select(F.col(id_col).alias("vid"), codes.alias("codes"))


def residuals(
    embeddings: DataFrame,
    cents: list[list[float]],
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vid, cell, res): each vector's nearest coarse cell (squared L2,
    literal argmin) and its residual against that cell's centroid — pure
    projection, the substrate IVF-PQ fits and encodes on."""
    lit_cents = F.array(*[F.array(*[F.lit(float(x)) for x in c]) for c in cents])
    e = embeddings.select(F.col(id_col).alias("vid"), as_double(vec_col).alias("v"))
    assigned = assign_cells(e, cents, vec_col="v")
    res = F.zip_with(
        F.col("v"),
        F.element_at(lit_cents, F.col("cell").cast("int") + 1),
        lambda a, b: a - b,
    )
    return assigned.select("vid", "cell", res.alias("res"))


def residual_encode(
    embeddings: DataFrame,
    cents: list[list[float]],
    books: list[list[list[float]]],
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ corpus encoding: assign each vector to its nearest coarse
    centroid (squared L2, ``assign_cells`` literal argmin), subtract that
    centroid, and PQ-encode the RESIDUAL — (vid, cell, codes array<int>).

    Like ``pq_encode`` this is a PURE PROJECTION (plan-asserted): coarse
    centroids and codebooks are both literal arrays, so encoding a 100 TB
    corpus is one scan with no shuffle, no join, no Python. Encoding the
    residual instead of the raw vector is what makes IVF-PQ beat flat PQ:
    within a cell the residual energy is a fraction of the vector's, so the
    same code budget quantizes much finer (measured in tests as lower ADC
    error vs flat PQ on the same m/k).
    """
    m = len(books)
    subdim = len(books[0][0])
    r = residuals(embeddings, cents, id_col=id_col, vec_col=vec_col)
    codes = F.array(
        *[
            _code_expr(sl, books[s])
            for s, sl in enumerate(_sub_slices(F.col("res"), m, subdim))
        ]
    )
    return r.select("vid", "cell", codes.alias("codes"))


def nearest_cells_lit(
    df: DataFrame,
    cents: list[list[float]],
    *,
    n: int,
    vec_col: str = "v",
) -> DataFrame:
    """Explode each row to its ``n`` nearest coarse cells (squared L2) — as
    a projection: distances to every literal centroid are folded into an
    array of (dist, cell) structs, ``array_sort`` orders them (struct sort =
    lexicographic, so exact-distance ties break to the lower cell exactly
    like ``assign_cells``'s array_min), and the first ``n`` explode. No
    crossJoin against a centroid table, no window — multiprobe selection
    rides the scan."""
    v = F.col(vec_col)
    cands = []
    for i, c in enumerate(cents):
        w = F.array(*[F.lit(float(x)) for x in c])
        cands.append(F.struct(_sqdist(v, w).alias("d"), F.lit(i).cast("long").alias("i")))
    top = F.slice(F.array_sort(F.array(*cands)), 1, n)
    return (
        df.withColumn("_nc", F.explode(top))
        .withColumn("cell", F.col("_nc.i"))
        .drop("_nc")
    )


def ivfpq_adc_topk(
    embeddings: DataFrame,
    probes: DataFrame,
    cents: list[list[float]],
    books: list[list[list[float]]],
    *,
    k: int = 5,
    nprobe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ serving: the composition that actually runs billion-vector ANN
    (FAISS's IVFADC layout re-expressed as Spark dataflow). The corpus lives
    as (cell, codes) only — ``residual_encode``'s one-scan projection; a
    probe touches just its ``nprobe`` nearest cells, and within them scores
    candidates through their codes with an asymmetric-distance lookup table
    built from the PROBE'S residual against each probed cell.

    Scale shape: probe-side work (cell selection, residuals, the m x k_codes
    LUT) is a projection over the tiny probe set, broadcast into the join;
    the corpus side is partition-pruned by the cell equi-join (at rest the
    encoded corpus would be partitioned/bucketed by cell, so a probe reads
    nprobe/n_cells of it) and never touches full-precision vectors. Shuffle
    is only the per-probe ranking window over candidate rows.

    Distances are rounded (6 dp) before ranking — code-sharing candidates
    are mathematically identical under ADC and must tie deterministically
    (broken by neighbor id) in every engine. Emits
    (probe_id, neighbor_id, rnk, adc_dist).
    """
    m = len(books)
    subdim = len(books[0][0])
    lit_cents = F.array(*[F.array(*[F.lit(float(x)) for x in c]) for c in cents])
    coded = residual_encode(embeddings, cents, books, id_col=id_col, vec_col=vec_col)

    p = probes.select(F.col(id_col).alias("probe_id"), as_double(vec_col).alias("pv"))
    pc = nearest_cells_lit(p, cents, n=nprobe, vec_col="pv")
    pres = F.zip_with(
        F.col("pv"),
        F.element_at(lit_cents, F.col("cell").cast("int") + 1),
        lambda a, b: a - b,
    )
    pr = pc.withColumn("_pres", pres)
    lut = F.array(
        *[
            F.array(
                *[_sqdist(sl, F.array(*[F.lit(float(x)) for x in c])) for c in books[s]]
            )
            for s, sl in enumerate(_sub_slices(F.col("_pres"), m, subdim))
        ]
    )
    pl = pr.select("probe_id", "cell", lut.alias("lut"))

    adist = F.aggregate(
        F.zip_with(
            F.col("codes"), F.col("lut"), lambda code, table: F.element_at(table, code + 1)
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = (
        coded.join(F.broadcast(pl), "cell")
        .filter(F.col("vid") != F.col("probe_id"))
        .select(
            "probe_id", F.col("vid").alias("neighbor_id"), F.round(adist, 6).alias("adc_dist")
        )
    )
    w = Window.partitionBy("probe_id").orderBy(F.asc("adc_dist"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("probe_id", "neighbor_id", "rnk", "adc_dist")
    )


def pq_adc_topk(
    embeddings: DataFrame,
    probes: DataFrame,
    books: list[list[list[float]]],
    *,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: the corpus is scored
    through its codes ONLY — per probe, a lookup table of
    ``m x k_codes`` exact subspace distances is built once (literal-codebook
    projection on the broadcast probe side), and each corpus vector's
    approximate distance is the m-term sum of table entries selected by its
    codes. The full-precision corpus vectors are never touched after
    encoding — that is the PQ serving contract at scale.

    Distances are rounded (6 dp) BEFORE ranking: vectors sharing codes have
    mathematically identical ADC distances, and the rank tie-break
    (neighbor id) must see them as equal in every engine regardless of
    floating summation order. Emits (probe_id, neighbor_id, rnk, adc_dist).
    """
    m = len(books)
    subdim = len(books[0][0])
    coded = pq_encode(embeddings, books, id_col=id_col, vec_col=vec_col)
    pv = as_double(vec_col)
    lut = F.array(
        *[
            F.array(
                *[_sqdist(sl, F.array(*[F.lit(float(x)) for x in c])) for c in books[s]]
            )
            for s, sl in enumerate(_sub_slices(pv, m, subdim))
        ]
    )
    p = probes.select(F.col(id_col).alias("probe_id"), lut.alias("lut"))
    adist = F.aggregate(
        F.zip_with(
            F.col("codes"), F.col("lut"), lambda code, table: F.element_at(table, code + 1)
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = (
        coded.crossJoin(F.broadcast(p))
        .filter(F.col("vid") != F.col("probe_id"))
        .select("probe_id", F.col("vid").alias("neighbor_id"), F.round(adist, 6).alias("adc_dist"))
    )
    w = Window.partitionBy("probe_id").orderBy(F.asc("adc_dist"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("probe_id", "neighbor_id", "rnk", "adc_dist")
    )


def _mmr_greedy_cogroup(cand: DataFrame, pair: DataFrame, *, k: int, lam: float) -> DataFrame:
    """The MMR greedy selection as ONE cogrouped applyInPandas pass
    (r15): each probe's (cid, sim) pool and (ca, cb, psim) pairs —
    ≤ pool + pool² rows, answer-scale by construction — land in one
    Python kernel that replays the cascade's exact semantics: round 1
    picks max sim, later rounds max lam*sim - (1-lam)*max_{picked}(psim),
    ties to the lowest cid, NULL scores last, NULL psims ignored by the
    max (SQL MAX semantics), candidates exhausted early stop the rounds.
    All floats are the JVM-computed inputs; for finite and NULL
    similarities the kernel's scalar IEEE ops match the cascade's
    expressions bit for bit. NaN similarities (NaN/Inf embedding inputs)
    are unsupported: the kernel treats NaN as NULL, while the cascade
    orders NaN above every double and SQL MAX propagates it."""
    lam = float(lam)
    one_minus_lam = 1.0 - lam

    def _f(v) -> float | None:
        return None if v is None or (isinstance(v, float) and math.isnan(v)) else float(v)

    def greedy(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        out_p: list[int] = []
        out_c: list[int] = []
        out_r: list[int] = []
        out_s: list[float | None] = []
        if len(left):
            probe = int(left["probe_id"].iloc[0])
            sims = {int(c): _f(s) for c, s in zip(left["cid"], left["sim"])}
            psim = {
                (int(a), int(b)): _f(s)
                for a, b, s in zip(right["ca"], right["cb"], right["psim"])
            }
            remaining = sorted(sims)
            picked: list[int] = []
            for rnd in range(1, k + 1):
                if not remaining:
                    break
                best = None
                for cid in remaining:
                    if rnd == 1:
                        score = sims[cid]
                    else:
                        reds = [
                            v
                            for v in (psim.get((cid, cb)) for cb in picked)
                            if v is not None
                        ]
                        red = max(reds) if reds else None
                        score = (
                            None
                            if sims[cid] is None or red is None
                            else lam * sims[cid] - one_minus_lam * red
                        )
                    key = (score is None, -score if score is not None else 0.0, cid)
                    if best is None or key < best[0]:
                        best = (key, cid, score)
                _, cid, score = best
                remaining.remove(cid)
                picked.append(cid)
                out_p.append(probe)
                out_c.append(cid)
                out_r.append(rnd)
                out_s.append(score)
        return pd.DataFrame(
            {
                "probe_id": pd.array(out_p, dtype="int64"),
                "cid": pd.array(out_c, dtype="int64"),
                "rnk": pd.array(out_r, dtype="int32"),
                "score": pd.array(out_s, dtype="Float64"),
            }
        )

    sel = (
        cand.select("probe_id", "cid", "sim")
        .groupBy("probe_id")
        .cogroup(pair.groupBy("probe_id"))
        .applyInPandas(greedy, "probe_id long, cid long, rnk int, score double")
    )
    return sel.select(
        "probe_id",
        "rnk",
        F.col("cid").alias("neighbor_id"),
        F.round("score", 4).alias("score"),
    )


#: Largest candidate pool ``mmr_rerank`` accepts: each probe's pool² pair
#: rows land in ONE Python worker of the cogrouped greedy pass, so 1024
#: (~10^6 pair rows per probe) bounds that worker's memory. A larger pool
#: raises instead of truncating, so no candidate is dropped silently.
MMR_MAX_POOL = 1024


def mmr_rerank(
    embeddings: DataFrame,
    probes: DataFrame,
    *,
    k: int = 3,
    pool: int = 8,
    lam: float = 0.7,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    arrow: bool = True,
) -> DataFrame:
    """Maximal-Marginal-Relevance rerank (Carbonell & Goldstein 1998) —
    the standard diversification pass a RAG/serving stack runs AFTER
    nearest-neighbor retrieval: greedily pick ``k`` results where each
    pick maximizes lam*sim(query, d) - (1-lam)*max_{s in picked}
    sim(d, s), so near-duplicate neighbors don't crowd the context
    window.

    Scale shape — the part that matters at 100 TB: candidate GENERATION
    is the distributed work (exact cosine top-``pool`` per probe over the
    full corpus: broadcast probes, one scan, ranking window — identical
    plan to ``bruteforce_topk``; swap in the IVF/PQ tiers for bigger
    corpora). The rerank itself then touches only ``pool`` rows per
    probe: the candidate pool and its pairwise cosines (≤ pool² per
    probe) are probe-keyed and tiny BY CONSTRUCTION.

    ``arrow=True`` (default, r15) runs the greedy selection per probe
    inside ONE cogrouped ``applyInPandas`` pass over the JVM-computed
    (cid, sim) pool and (ca, cb, psim) pairs — answer-scale rows cross
    the Python boundary once, and the k-round plan cascade disappears
    (the r14 shape was k rounds of anti-join + redundancy join + argmax
    with a persisted selection between rounds to stop 2^k plan growth —
    51 plan-tree exchanges and k-1 round caches at k=3; the cogroup plan
    has none of either). Score arithmetic is bit-identical: every float
    entering the kernel (sim, psim) is produced by the SAME JVM
    expressions either way, and the kernel applies the same IEEE scalar
    ops (lam*sim - (1-lam)*max(psim); max is order-exact) with the same
    (score desc, cid asc, NULL last) tie-breaks — pinned by
    test_mmr_arrow_greedy_matches_round_cascade. ``arrow=False`` keeps
    the pure-JVM round cascade (the reference semantics the tests
    compare against, like _multi_table_sig's fold path). The DuckDB
    oracle replays the identical rounds as MATERIALIZED CTEs.

    Round-1 score is the raw query similarity (the redundancy term is
    empty); later rounds report the MMR score. Ties break on neighbor id
    ascending, matching the oracle. Returns
    (probe_id, rnk, neighbor_id, score rounded to 4).
    """
    if not 0.0 <= lam <= 1.0:
        raise ValueError(f"lam must be in [0, 1], got {lam}")
    if k > pool:
        raise ValueError(f"k ({k}) cannot exceed the candidate pool ({pool})")
    if pool > MMR_MAX_POOL:
        raise ValueError(
            f"pool ({pool}) exceeds MMR_MAX_POOL ({MMR_MAX_POOL}): each probe's "
            "pool² pair rows are scored in one Python worker"
        )
    # per-side norms once per row below the join (r15, _cosine_prenormed);
    # the candidate pool carries its norm so the pool² pairwise cosines
    # reuse it too — bit-identical to the per-pair HOF cosine
    p = probes.select(
        F.col(id_col).alias("probe_id"), as_double(vec_col).alias("pv")
    ).withColumn("pn", norm(F.col("pv")))
    c = embeddings.select(
        F.col(id_col).alias("cid"), as_double(vec_col).alias("cv")
    ).withColumn("cn", norm(F.col("cv")))
    scored = c.join(F.broadcast(p), F.col("cid") != F.col("probe_id")).select(
        "probe_id",
        "cid",
        "cv",
        "cn",
        _cosine_prenormed(F.col("pv"), F.col("cv"), F.col("pn"), F.col("cn")).alias(
            "sim"
        ),
    )
    w_pool = Window.partitionBy("probe_id").orderBy(F.desc("sim"), F.asc("cid"))
    cand = scoped_persist(
        scored.withColumn("_rn", F.row_number().over(w_pool))
        .filter(F.col("_rn") <= pool)
        .select("probe_id", "cid", "cv", "cn", "sim")
    )
    # pairwise cosines within each probe's pool: ≤ pool^2 rows per probe
    a, b = cand.alias("a"), cand.alias("b")
    pair_df = a.join(
        b,
        (F.col("a.probe_id") == F.col("b.probe_id"))
        & (F.col("a.cid") != F.col("b.cid")),
    ).select(
        F.col("a.probe_id").alias("probe_id"),
        F.col("a.cid").alias("ca"),
        F.col("b.cid").alias("cb"),
        _cosine_prenormed(
            F.col("a.cv"), F.col("b.cv"), F.col("a.cn"), F.col("b.cn")
        ).alias("psim"),
    )
    if arrow:
        # single-consumer frames in this path: cand stays persisted (it
        # feeds the pair join AND the cogroup), pair does not need to
        return _mmr_greedy_cogroup(cand, pair_df, k=k, lam=lam)
    pair = scoped_persist(pair_df)
    slim = cand.select("probe_id", "cid", "sim")
    w_pick = Window.partitionBy("probe_id").orderBy(F.desc("_mmr"), F.asc("cid"))
    sel = (
        slim.withColumn("_mmr", F.col("sim"))
        .withColumn("_rn", F.row_number().over(w_pick))
        .filter(F.col("_rn") == 1)
        .select("probe_id", "cid", F.lit(1).alias("rnk"), F.col("_mmr").alias("score"))
    )
    if k > 1:
        # round-1 pick is referenced twice by round 2 — persist it (see
        # the in-loop comment; |probes| rows)
        sel = scoped_persist(sel)
    for r in range(2, k + 1):
        # every frame here descends from `cand`, so the joins are
        # self-joins — string aliases + qualified refs keep the analyzer
        # unambiguous about which lineage each column comes from
        # the picked set is < r rows per probe BY CONSTRUCTION (one
        # row_number()==1 pick per round) — a broadcast is answer-scale
        # for any serving batch, and it keeps the per-round joins
        # exchange-free instead of sort-merging 3-row frames through
        # full shuffles (r14; the guide §3.1 "broadcast what you know is
        # small" case — size estimates on cached unions are useless here)
        picked = F.broadcast(
            sel.select(F.col("probe_id").alias("sp"), F.col("cid").alias("sc"))
        ).alias(f"sl{r}")
        rem = (
            slim.alias(f"rm{r}")
            .join(
                picked,
                (F.col(f"rm{r}.probe_id") == F.col(f"sl{r}.sp"))
                & (F.col(f"rm{r}.cid") == F.col(f"sl{r}.sc")),
                "left_anti",
            )
            .alias(f"rem{r}")
        )
        picked2 = F.broadcast(
            sel.select(F.col("probe_id").alias("sp"), F.col("cid").alias("sc"))
        ).alias(f"sm{r}")
        red = (
            rem.join(
                pair.alias(f"pr{r}"),
                (F.col(f"rem{r}.probe_id") == F.col(f"pr{r}.probe_id"))
                & (F.col(f"rem{r}.cid") == F.col(f"pr{r}.ca")),
            )
            .join(
                picked2,
                (F.col(f"pr{r}.probe_id") == F.col(f"sm{r}.sp"))
                & (F.col(f"pr{r}.cb") == F.col(f"sm{r}.sc")),
            )
            .groupBy(
                F.col(f"rem{r}.probe_id").alias("probe_id"),
                F.col(f"rem{r}.cid").alias("cid"),
            )
            .agg(
                F.first(F.col(f"rem{r}.sim")).alias("sim"),
                F.max(F.col(f"pr{r}.psim")).alias("redund"),
            )
        )
        pick = (
            red.withColumn(
                "_mmr", F.lit(lam) * F.col("sim") - F.lit(1.0 - lam) * F.col("redund")
            )
            .withColumn("_rn", F.row_number().over(w_pick))
            .filter(F.col("_rn") == 1)
            .select(
                "probe_id", "cid", F.lit(r).alias("rnk"), F.col("_mmr").alias("score")
            )
        )
        sel = sel.unionByName(pick)
        if r < k:
            # persist the growing selection BETWEEN rounds: round r+1
            # references `sel` TWICE (the anti-join and the picked-set
            # redundancy join), so an unpersisted union doubles the
            # embedded plan every round — k rounds cost a 2^k-shaped plan
            # (the r14 before-plan for k=3 was 1793 lines / 65 Exchanges /
            # 72 Windows of re-derived picks). Caching the ≤ r·|probes|-row
            # selection makes the next round reference rows, not lineage.
            # The FINAL union is deliberately not persisted: it is the
            # query's result, and intermediates are what scoped caching is
            # for.
            # The k-2 superseded round persists stay registered until the
            # cache_scope exits (r15, on the r14 ADVICE): release()-ing a
            # round's sel here would fire BEFORE anything materializes it
            # (this loop only builds the plan), so the next round would
            # recompute the whole union lineage — the 2^k plan this persist
            # exists to break — and forcing materialization with a count()
            # per round would move the cand/pair cache builds out of the
            # benched action. Each stale entry is ≤ r·|probes| rows;
            # outside a scope the plain-persist lifetime is the documented
            # scoped_persist contract.
            sel = scoped_persist(sel)
    return sel.select(
        "probe_id",
        "rnk",
        F.col("cid").alias("neighbor_id"),
        F.round("score", 4).alias("score"),
    )
