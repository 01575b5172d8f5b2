"""Similarity search over an embedding column (array<float>).

* ``cosine_topk`` — brute-force exact top-k: broadcast the (small) query
  set, JVM-side dot products via ``zip_with``/``aggregate``, per-query
  top-k by window.  The correctness baseline.
* ``lsh_topk`` — random-hyperplane LSH: deterministic hyperplanes derived
  from md5 of (plane, component) — reproducible without RNG state; bucket
  equi-join prunes candidates, then exact cosine re-ranks inside buckets.
  The scale path: candidate generation is a shuffle on the signature, not
  a cross join.
* ``ivf_topk`` — IVF-style coarse quantization: each vector joins the
  list of its nearest centroid, each query probes its NPROBE nearest
  lists.  Centroids are NLIST deterministic vectors drawn from the
  dataset by id, or trained by ``kmeans_centroids``.
* ``lloyd`` — the one Lloyd's k-means loop: trains IVF's centroids
  (cosine) and PQ's m subspace codebooks (squared L2) in one pass per
  round; the trained model enters later plans as a literal.
* ``pq_topk`` — product quantization: ``lloyd`` codebooks, map-side
  encoding, ADC scoring, exact cosine re-rank of the best candidates.

All distance math is columnar (no UDFs).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def l2sq(a: Column, b: Column) -> Column:
    """Squared L2 distance between two double arrays (one fold)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def cosine_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "query_id",
    qvec_col: str = "query_vec",
) -> DataFrame:
    """Exact brute-force cosine top-k of each query against ``vectors``.
    The query side is broadcast (small); ties broken by ascending vector
    id for determinism.  Output: (query_id, vec_id, cosine_sim, rank).

    Skew shape: a plain ``Window.partitionBy(query_id)`` rank would
    serialize ALL N candidate rows of a query through one reducer — with
    few queries that is a single-reducer job.  Instead each input
    partition reduces its candidates to a k-minima array (struct sort
    key = (−sim, vec_id), state bounded by partition size), the merge
    combines ≤P arrays of ≤k rows per query, and the final rank is a
    posexplode over k rows — no stage ever moves more than P·k rows per
    query."""
    j = vectors.crossJoin(F.broadcast(queries))
    sim = cosine(F.col(vec_col), F.col(qvec_col))
    scored = j.select(
        F.col(qid_col).alias("query_id"),
        F.col(id_col).alias("vec_id"),
        F.round(sim, 6).alias("cosine_sim"),
    )
    key = F.struct(
        (-F.col("cosine_sim")).alias("_negsim"),
        F.col("vec_id").alias("vec_id"),
        F.col("cosine_sim").alias("cosine_sim"),
    )
    part = scored.groupBy(
        "query_id", F.spark_partition_id().alias("_pid")
    ).agg(F.slice(F.array_sort(F.collect_list(key)), 1, k).alias("_top"))
    merged = part.groupBy("query_id").agg(
        F.slice(
            F.array_sort(F.flatten(F.collect_list("_top"))), 1, k
        ).alias("_top")
    )
    return merged.select(
        "query_id", F.posexplode("_top").alias("_r", "_t")
    ).select(
        "query_id",
        F.col("_t.vec_id").alias("vec_id"),
        F.col("_t.cosine_sim").alias("cosine_sim"),
        (F.col("_r") + 1).cast("int").alias("rank"),
    )


def hyperplane_components(dim: int, plane_idx: int) -> "list[float]":
    """Deterministic pseudo-random hyperplane as plain floats: component
    d = (md5_lane(plane, d) % 1001 − 500) / 500, uniform in [−1, 1] and
    centered on 0 — reproducible everywhere with no RNG state, and
    embeddable verbatim in the DuckDB oracle SQL (repr() of a float
    round-trips exactly)."""
    import hashlib

    comps = []
    for d in range(dim):
        h = int(
            hashlib.md5(f"hp:{plane_idx}:{d}".encode()).hexdigest()[:15], 16
        )
        comps.append((h % 1001 - 500) / 500.0)
    return comps


def hyperplane(dim: int, plane_idx: int) -> Column:
    """The hyperplane as a literal array column (constants fold at plan
    time — no per-row hash evaluation)."""
    return F.array(*[F.lit(c) for c in hyperplane_components(dim, plane_idx)])


def rh_signature(
    vec: Column, dim: int, n_planes: int = 8, plane_offset: int = 0
) -> Column:
    """Random-hyperplane signature as an n_planes-bit int.
    ``plane_offset`` selects an independent plane family — multi-table
    LSH uses offsets t·n_planes for table t."""
    bits = []
    for p in range(n_planes):
        d = dot(vec, hyperplane(dim, plane_offset + p))
        bits.append(
            F.when(d > 0, F.shiftleft(F.lit(1).cast("long"), p)).otherwise(
                F.lit(0).cast("long")
            )
        )
    out = bits[0]
    for b in bits[1:]:
        out = out.bitwiseOR(b)
    return out


def _exact_topk(
    pairs: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    qid_col: str,
    qvec_col: str,
) -> DataFrame:
    """Exact cosine re-rank of candidate (vector, query) pairs to the
    top-k per query, ties by ascending vector id — the last step of
    every approximate search here.  Output: (query_id, vec_id,
    cosine_sim, rank)."""
    scored = pairs.select(
        F.col(qid_col).alias("query_id"),
        F.col(id_col).alias("vec_id"),
        F.round(cosine(F.col(vec_col), F.col(qvec_col)), 6).alias(
            "cosine_sim"
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("vec_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )


def lsh_topk(
    vectors: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "query_id",
    qvec_col: str = "query_vec",
) -> DataFrame:
    """Approximate top-k: equi-join on the hyperplane signature bucket,
    exact cosine re-rank inside the bucket.  Recall trades with n_planes;
    at scale the join is a hash shuffle on the signature (candidates ≪ n),
    vs the brute-force cross join."""
    v = vectors.withColumn("_sig", rh_signature(F.col(vec_col), dim, n_planes))
    q = queries.withColumn("_sig", rh_signature(F.col(qvec_col), dim, n_planes))
    j = v.join(F.broadcast(q), on="_sig")
    return _exact_topk(j, k, id_col, vec_col, qid_col, qvec_col)


def _nearest(vec: Column, book: Column, metric: str) -> Column:
    """0-based index of the row of ``book`` (array<array<double>>)
    nearest to ``vec``: the largest cosine (``"cos"``) or the smallest
    squared L2 (``"l2"``).  One fold over the scores; the strict
    comparison keeps the FIRST index on ties.  NULL for a NULL vector."""
    cos = metric == "cos"
    score, worst = (cosine, float("-inf")) if cos else (l2sq, float("inf"))

    def better(s: Column, best: Column) -> Column:
        return s > best if cos else s < best

    init = F.struct(
        F.lit(worst).alias("s"),
        F.lit(None).cast("int").alias("i"),
        F.lit(0).alias("n"),
    )
    return F.aggregate(
        F.transform(book, lambda c: score(vec, c)),
        init,
        lambda acc, s: F.struct(
            F.when(better(s, acc["s"]), s).otherwise(acc["s"]).alias("s"),
            F.when(better(s, acc["s"]), acc["n"])
            .otherwise(acc["i"])
            .alias("i"),
            (acc["n"] + 1).alias("n"),
        ),
    )["i"]


def _book_literals(model) -> "list[Column]":
    """An (m, k, sub_dim) model as m array<array<double>> columns, each
    one parsed SQL literal: one py4j call per subspace (``F.lit`` of a
    numpy array makes one per element), ``repr`` round-trips every
    double, and the optimizer folds each to a constant, so the model
    rides in the expression tree."""

    def sql(x) -> str:
        if isinstance(x, list):
            return f"array({', '.join(map(sql, x))})"
        return f"{x!r}D" if math.isfinite(x) else f"double('{x}')"

    return [F.expr(sql(book)) for book in model.tolist()]


def lloyd(
    vectors: DataFrame,
    k: int,
    dim: int,
    iters: int,
    metric: str,
    m: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> "numpy.ndarray":
    """Deterministic Lloyd's k-means over ``m`` subspaces of ``dim // m``
    components (IVF: m = 1, ``"cos"``; PQ: ``"l2"``).  Returns the model,
    an (m, k', dim // m) float64 numpy array, k' = min(k, non-NULL rows).

    Init: the k smallest-id vectors, collected and split into subspaces.
    Each round, one select codes every vector in all m subspaces against
    the model literal (``_nearest``), and one groupBy(j, code) mean
    aggregate collects ≤ k·m rows; a cluster with no members keeps its
    centroid.  NULL vectors enter neither the init nor a mean.

    Jobs at call time: the init collect and one collect per round, each
    plus one job per shuffle stage it runs — 11 at 3 rounds over a
    repartitioned scan (``ann_pq``, ``ann_ivf_kmeans``)."""
    import numpy as np

    sub = dim // m
    vectors = vectors.where(F.col(vec_col).isNotNull())
    init = vectors.orderBy(id_col).limit(k).select(vec_col).collect()
    model = np.array([r[0][: m * sub] for r in init], dtype=np.float64)
    model = model.reshape(len(init), m, sub).transpose(1, 0, 2).copy()
    subs = [F.slice(F.col(vec_col), j * sub + 1, sub) for j in range(m)]
    for _ in range(iters):
        books = _book_literals(model)
        parts = F.array(
            *[
                F.struct(
                    F.lit(j).alias("j"),
                    _nearest(sv, books[j], metric).alias("code"),
                    sv.alias("sv"),
                )
                for j, sv in enumerate(subs)
            ]
        )
        means = (
            vectors.select(F.inline(parts))
            .where(F.col("code").isNotNull())
            .groupBy("j", "code")
            .agg(F.array(*[F.avg(F.col("sv")[c]) for c in range(sub)]))
            .collect()
        )
        for j, code, mean in means:
            model[j, code] = mean
    return model


def assign_to_centroids(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Nearest-centroid assignment SHUFFLE-FREE: broadcast ONE row holding
    the centroids sorted by c_id, pick by the ``_nearest`` cosine fold
    (ties → smallest c_id) — no n×nlist explode, no per-vector window.
    Output: (id_col, vec_col, c_id, c_sim), NULLs for a NULL vector."""
    cent_row = centroids.agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("c_id"), F.col("c_vec")))
        ).alias("_cents")
    )
    i = _nearest(F.col(vec_col), F.col("_cents.c_vec"), "cos")
    # F.get, not [ ]: under ANSI a NULL index (a NULL vector) raises
    best = F.get(F.col("_cents"), F.col("_i"))
    return (
        vectors.crossJoin(F.broadcast(cent_row))
        .withColumn("_i", i)
        .select(
            id_col,
            vec_col,
            best["c_id"].alias("c_id"),
            cosine(F.col(vec_col), best["c_vec"]).alias("c_sim"),
        )
    )


def kmeans_centroids(
    vectors: DataFrame,
    nlist: int,
    dim: int,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF's trained centroids: ``lloyd`` under cosine as a frame
    (c_id, c_vec) read from the model literal.  c_id is the centroid's
    0-based rank in init order (the id order of its init vector)."""
    model = lloyd(vectors, nlist, dim, iters, "cos", 1, id_col, vec_col)
    book = _book_literals(model)[0]
    return vectors.sparkSession.range(model.shape[1]).select(
        F.col("id").alias("c_id"), book[F.col("id")].alias("c_vec")
    )


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nlist: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "query_id",
    qvec_col: str = "query_vec",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF ANN: coarse centroids are either supplied (``kmeans_centroids``
    for trained lists), or default to the NLIST smallest-id non-NULL
    vectors (k-means-free, deterministic; the rule of ``lloyd``'s init —
    a NULL centroid would match nothing and lose its list).  Every
    vector is assigned to its nearest centroid (broadcast argmax fold);
    each query probes its NPROBE nearest lists.  Exact cosine re-rank
    within probed lists."""
    if centroids is None:
        centroids = (
            vectors.where(F.col(vec_col).isNotNull())
            .orderBy(id_col)
            .limit(nlist)
            .select(F.col(id_col).alias("c_id"), F.col(vec_col).alias("c_vec"))
        )
    assigned = assign_to_centroids(vectors, centroids, id_col, vec_col)
    # queries probe nprobe nearest lists
    qc = queries.crossJoin(F.broadcast(centroids)).select(
        qid_col,
        qvec_col,
        "c_id",
        cosine(F.col(qvec_col), F.col("c_vec")).alias("c_sim"),
    )
    wq = Window.partitionBy(qid_col).orderBy(
        F.col("c_sim").desc(), F.col("c_id").asc()
    )
    probes = (
        qc.withColumn("r", F.row_number().over(wq))
        .where(F.col("r") <= nprobe)
        .select(qid_col, qvec_col, "c_id")
    )
    j = assigned.join(F.broadcast(probes), on="c_id")
    return _exact_topk(j, k, id_col, vec_col, qid_col, qvec_col)


# ---------------------------------------------------------------------------
# product quantization (PQ) — the vector-compression ANN path
# ---------------------------------------------------------------------------


def pq_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 4,
    k_codes: int = 16,
    iters: int = 3,
    refine: int = 100,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "query_id",
    qvec_col: str = "query_vec",
) -> DataFrame:
    """Product-quantization ANN with exact refinement (Jégou et al.
    2011): split ``dim`` into ``m`` subspaces, train a ``k_codes``-entry
    codebook per subspace, encode every vector as m small codes, score
    query↔vector by the ADC table sum (squared L2 is ADDITIVE over
    subspaces, so per-pair cost drops from O(dim) to O(m) lookups — the
    compression win that makes 10^11-vector scans affordable), keep the
    top ``refine`` ADC candidates per query, then re-rank those
    EXACTLY by cosine to the final top-k.

    Output matches ``cosine_topk``: (query_id, vec_id, cosine_sim,
    rank) — with ``refine`` ≫ k the result equals the exact baseline
    (recall-1 configuration), which is the driver-oracle contract.

    Scale shape: ``lloyd`` trains all m codebooks at once and they enter
    the plan as literals; encoding is map-side; ADC scoring is the
    broadcast-queries pattern of ``cosine_topk`` with O(m) work per pair;
    only the ``refine`` winners per query reach the exact re-rank.

    Vectors are L2-NORMALIZED before training/encoding (map-side): on
    the unit sphere ‖a−b‖² = 2 − 2·cos(a,b), so the squared-L2 ADC
    ordering matches the cosine ordering the re-rank uses — without
    this, norm variance corrupts recall."""
    sub_dim = dim // m

    def _unit(vc: Column) -> Column:
        n = F.sqrt(dot(vc, vc))
        return F.transform(vc, lambda x: F.when(n > 0, x / n).otherwise(x))

    def _sub(c: str, j: int) -> Column:
        return F.slice(F.col(c), j * sub_dim + 1, sub_dim)

    nv = vectors.select(id_col, _unit(F.col(vec_col)).alias(vec_col))
    nq = queries.select(qid_col, _unit(F.col(qvec_col)).alias(qvec_col))
    books = _book_literals(
        lloyd(nv, k_codes, dim, iters, "l2", m, id_col, vec_col)
    )
    # encode map-side, and per query the ADC tables: the distance from its
    # sub-vector to every centroid of that subspace.  NB a HOF lambda must
    # take ONE argument — a second (even defaulted) python parameter
    # receives the ELEMENT INDEX in Spark HOFs.
    coded = nv.select(
        id_col,
        *[
            _nearest(_sub(vec_col, j), b, "l2").alias(f"code{j}")
            for j, b in enumerate(books)
        ],
    )
    qt = nq.select(
        qid_col,
        *[
            F.transform(b, lambda c: l2sq(_sub(qvec_col, j), c)).alias(f"t{j}")
            for j, b in enumerate(books)
        ],
    )
    adc = coded.crossJoin(F.broadcast(qt))
    score = sum(
        (F.get(F.col(f"t{j}"), F.col(f"code{j}")) for j in range(m)),
        F.lit(0.0),
    )
    w = Window.partitionBy(qid_col).orderBy(
        F.col("_adc").asc_nulls_last(), F.col(id_col).asc()
    )
    cands = (
        adc.withColumn("_adc", score)
        .withColumn("_r", F.row_number().over(w))
        .where(F.col("_r") <= refine)
        .select(qid_col, id_col)
    )
    # exact re-rank of the candidate set only
    pairs = (
        cands.join(vectors.select(id_col, vec_col), on=id_col)
        .join(F.broadcast(queries), on=qid_col)
    )
    return _exact_topk(pairs, k, id_col, vec_col, qid_col, qvec_col)
