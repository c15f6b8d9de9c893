"""Similarity search over embedding columns (SURVEY.md §2.11,
OP-LLM-03 — [mandate]).

Brute-force cosine top-k is the exact baseline (one broadcast of the
query set, no shuffle of the corpus); the LSH-bucketed variant is
the 100 TB path — candidates come from sign-hash buckets so each
query probes a sliver of the corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from gexp_ml_dask_spark.operators.physical import local_table


def dot_expr(a: Column, b: Column) -> Column:
    """Dot product of two array<double> columns — JVM-side fold
    (``zip_with`` + ``aggregate``), no UDF. NB: an A/B against a
    statically-unrolled 64-term ``a[i]*b[i]`` chain measured the
    unroll ~1.7x SLOWER here — the 128-access expression tree falls
    out of whole-stage codegen (method-size limit) into a bigger
    interpreted tree than the fold — so the fold stays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm_expr(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v)
    )


def cosine_expr(a: Column, b: Column) -> Column:
    """Cosine similarity — ANSI-safe (0-norm -> null)."""
    return F.try_divide(dot_expr(a, b), norm_expr(a) * norm_expr(b))


def finite_vector_expr(v: Column) -> Column:
    """True iff every element is present and finite (no NULL / NaN /
    ±inf elements)."""
    return F.forall(
        v,
        lambda x: x.isNotNull()
        & ~F.isnan(x)
        & (F.abs(x) < F.lit(float("inf"))),
    )


def valid_vector_expr(
    v: Column, dim: int | None = None, max_abs: float | None = None
) -> Column:
    """The similarity family's vector-validity contract (declared,
    not implicit): a vector participates in cosine math iff it is
    non-NULL, has only finite elements, and has norm > 0 — plus
    ``len == dim`` where the operator carries a declared dimension
    (hyperplane LSH, IVF, JL projection). A 100 TB corpus is
    guaranteed to contain NULLs, NaNs, ragged arrays, and
    all-zero vectors; before this gate the engine silently dropped
    them through null-propagation while the DuckDB oracle CRASHED
    (``list_cosine_similarity`` dim mismatch, ``list_inner_product``
    NULL input) and NaN vectors sorted as greater-than-everything —
    found by the round-7 edge-data sweep (tools/edge_fixture.py).
    Every value oracle carries the same predicate in SQL.

    ``max_abs`` adds an element-magnitude bound for operators whose
    OUTPUT is an absolute-6dp-rounded raw dot product (JL
    projection): 6dp cross-engine exactness needs the accumulated
    dot to stay where a double ULP is < 1e-6 (|dot| ≲ 2^52·1e-6 ≈
    4.5e9) — a 1e20-magnitude vector is finite and cosine-safe
    (normalization cancels magnitude) but its raw dot differs
    between engines in the last ULPs, i.e. by thousands. Cosine
    operators leave it None."""
    cond = v.isNotNull()
    if dim is not None:
        cond = cond & (F.size(v) == F.lit(int(dim)))
    cond = cond & finite_vector_expr(v)
    if max_abs is not None:
        cond = cond & F.forall(v, lambda x: F.abs(x) <= F.lit(float(max_abs)))
    return cond & (dot_expr(v, v) > 0)


def knn_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """OP-LLM-03 — exact top-k by cosine for every query vector.

    The query set broadcasts; the corpus is scanned once with no
    shuffle until the final per-query top-k (window over rounded
    cosine, deterministic id tie-break — ulp-stable across engines).
    Self-matches (same id) are excluded. Invalid vectors (see
    :func:`valid_vector_expr`) are excluded on both sides, and a
    (corpus, query) pair is scored only when the lengths match — the
    corpus may be ragged, the pair math may not.
    """
    c = corpus.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("_cv")
    ).filter(valid_vector_expr(F.col("_cv")))
    q = queries.select(
        F.col(query_id_col), F.col(vec_col).cast("array<double>").alias("_qv")
    ).filter(valid_vector_expr(F.col("_qv")))
    scored = c.crossJoin(F.broadcast(q)).filter(
        (F.col(id_col) != F.col(query_id_col))
        & (F.size(F.col("_cv")) == F.size(F.col("_qv")))
    )
    scored = scored.select(
        query_id_col,
        id_col,
        F.round(cosine_expr(F.col("_cv"), F.col("_qv")), 6).alias("cosine"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def knn_bruteforce_pandas(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """OP-LLM-03/06 — the Arrow-vectorized scoring path: the SAME
    exact kNN as ``knn_bruteforce`` with the cosine kernel moved into
    a ``mapInPandas`` numpy matmul.

    Why it exists: the JVM fold (``zip_with``+``aggregate``) contains
    lambda variables, which evaluate interpreted — fine for small
    dims, but a (batch x dim) @ (dim x n_queries) BLAS matmul per
    Arrow batch wins as dim and query count grow. The query set is
    collected to the driver (it is the broadcast side by definition)
    and shipped inside the closure; the corpus streams through in
    Arrow batches. Top-k selection stays in Spark (window), so the
    plan's shuffle structure is identical to the JVM variant.
    """
    import numpy as np

    q_rows = (
        queries.select(
            F.col(query_id_col),
            F.col(vec_col).cast("array<double>").alias("_qv"),
        )
        .filter(valid_vector_expr(F.col("_qv")))
        .collect()
    )
    if not q_rows:
        # every query filtered out (NULL/NaN/ragged) — the kNN of an
        # empty query set is empty; np.linalg.norm on a (0,) matrix
        # would raise AxisError instead
        spark = corpus.sparkSession
        return local_table(
            spark, [], f"query_id long, {id_col} long, cosine double, rank long"
        )
    q_ids = [r[0] for r in q_rows]
    dims = {len(r[1]) for r in q_rows}
    if len(dims) > 1:
        raise ValueError(
            f"knn_bruteforce_pandas: query vectors must share one "
            f"dimension for the matmul kernel, got lengths {sorted(dims)}; "
            "use knn_bruteforce (per-pair fold) for ragged query sets"
        )
    q_mat = np.array([r[1] for r in q_rows], dtype=np.float64)  # (nq, dim)
    q_norm = np.linalg.norm(q_mat, axis=1)
    q_norm[q_norm == 0] = np.nan  # 0-norm -> null cosine, like try_divide

    # the batch kernel np.stack()s each Arrow batch — gate the corpus
    # to valid vectors OF THE QUERY DIM so a single ragged row can't
    # kill the stack (and so the scored pair set matches the JVM
    # twin's size-equality gate)
    qdim = next(iter(dims)) if dims else None
    c = corpus.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("_cv")
    ).filter(valid_vector_expr(F.col("_cv"), dim=qdim))

    def score(batches):
        import numpy as _np
        import pandas as _pd

        for pdf in batches:
            if not len(pdf):
                continue
            c_mat = _np.stack(pdf["_cv"].to_numpy())  # (b, dim)
            c_norm = _np.linalg.norm(c_mat, axis=1)
            c_norm[c_norm == 0] = _np.nan
            sims = (c_mat @ q_mat.T) / _np.outer(c_norm, q_norm)  # (b, nq)
            b = len(pdf)
            nq = len(q_ids)
            yield _pd.DataFrame(
                {
                    "query_id": _np.tile(_np.array(q_ids), b),
                    id_col: _np.repeat(pdf[id_col].to_numpy(), nq),
                    "cosine": _np.round(sims.ravel(), 6),
                }
            )

    scored = c.mapInPandas(
        score, f"query_id long, {id_col} long, cosine double"
    ).filter(F.col(id_col) != F.col("query_id"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def md5_hyperplanes(
    n_planes: int, dim: int, seed: int
) -> list[list[float]]:
    """Engine-portable hyperplane family: component (j, d) is the
    leading 32 bits of md5('seed:j:d') mapped to [-1, 1). Computed
    driver-side once and embedded as plan literals — the family is a
    pure function of the seed, so the SQL oracle bakes the SAME
    floats into its text and both engines bucket identically."""
    import hashlib

    return [
        [
            (int(hashlib.md5(f"{seed}:{j}:{d}".encode()).hexdigest()[:8], 16)
             % 20014) / 10007.0 - 1.0
            for d in range(dim)
        ]
        for j in range(n_planes)
    ]


def hyperplane_buckets(
    df: DataFrame,
    n_planes: int = 8,
    dim: int = 64,
    vec_col: str = "embedding",
    seed: int = 42,
    out_col: str = "bucket",
    family: str = "xxhash64",
) -> DataFrame:
    """Random-hyperplane (sign) LSH bucket id — deterministic
    hyperplanes derived from a seeded hash so every executor and
    every run agrees without shipping state: plane j, dim d has
    component hash(seed, j, d) mapped to [-1, 1]. Either way the
    planes are plan-time constants (Catalyst constant-folds the
    xxhash64 form); ``family='md5'`` uses md5_hyperplanes so a SQL
    oracle can reproduce the bucketing."""
    v = F.col(vec_col).cast("array<double>")
    if family == "md5":
        plane_values = md5_hyperplanes(n_planes, dim, seed)
    elif family != "xxhash64":
        raise ValueError(f"unknown hyperplane family: {family}")
    bucket = F.lit(0).cast("long")
    for j in range(n_planes):
        if family == "md5":
            plane = F.array(*[F.lit(x) for x in plane_values[j]])
        else:
            plane = F.array(
                *[
                    (
                        (F.xxhash64(F.lit(seed), F.lit(j), F.lit(d)) % 10007)
                        / F.lit(10007.0)
                    )
                    for d in range(dim)
                ]
            )
        bit = F.when(dot_expr(v, plane) >= 0, F.lit(1 << j)).otherwise(F.lit(0))
        bucket = bucket + bit
    return df.withColumn(out_col, bucket)


def knn_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    seed: int = 42,
) -> DataFrame:
    """OP-LLM-03 (IVF scale path) — inverted-file ANN: KMeans
    centroids partition the corpus into ``n_cells`` cells; each query
    probes only its ``n_probe`` nearest cells, so the scored
    candidate set is ~n_probe/n_cells of the corpus.

    The corpus is assigned to cells once (reusable across query
    batches — persist the assigned table in a serving setup); the
    centroid table is tiny and broadcast. Recall knobs: n_probe up,
    n_cells down.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    c = corpus.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("_cv")
    ).filter(valid_vector_expr(F.col("_cv")))
    # KMeans needs one homogeneous dimension; pick the corpus's most
    # common length (one scalar agg at fit time — the documented
    # estimator-fit pattern) and gate out ragged strays.
    dim_row = (
        c.groupBy(F.size("_cv").alias("_d"))
        .count()
        .orderBy(F.desc("count"), F.asc("_d"))
        .first()
    )
    if dim_row is not None:
        c = c.filter(F.size("_cv") == int(dim_row["_d"]))
    c = c.withColumn("_fv", array_to_vector(F.col("_cv")))
    model = KMeans(
        k=n_cells, seed=seed, featuresCol="_fv", predictionCol="_cell"
    ).fit(c)
    assigned = model.transform(c).select(
        id_col, F.col("_cell").cast("long").alias("_cell"), "_cv"
    )

    # Centroids: n_cells small vectors -> literal rows, broadcast.
    spark = corpus.sparkSession
    centroids = local_table(
        spark,
        [(i, [float(x) for x in ctr]) for i, ctr in enumerate(model.clusterCenters())],
        "_cell long, _centroid array<double>",
    )

    q = queries.select(
        F.col(query_id_col), F.col(vec_col).cast("array<double>").alias("_qv")
    ).filter(
        valid_vector_expr(
            F.col("_qv"),
            dim=int(dim_row["_d"]) if dim_row is not None else None,
        )
    )
    # Rank cells per query by euclidean distance to the centroid,
    # keep the n_probe nearest.
    d2 = F.aggregate(
        F.zip_with(F.col("_qv"), F.col("_centroid"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    wq = Window.partitionBy(query_id_col).orderBy(F.col("_d2").asc(), F.col("_cell").asc())
    probed = (
        q.crossJoin(F.broadcast(centroids))
        .withColumn("_d2", d2)
        .withColumn("_cell_rank", F.row_number().over(wq))
        .filter(F.col("_cell_rank") <= n_probe)
        .select(query_id_col, "_cell", "_qv")
    )

    scored = assigned.join(F.broadcast(probed), "_cell").filter(
        F.col(id_col) != F.col(query_id_col)
    )
    scored = scored.select(
        query_id_col,
        id_col,
        F.round(cosine_expr(F.col("_cv"), F.col("_qv")), 6).alias("cosine"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def knn_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    seed: int = 42,
    n_tables: int = 1,
    family: str = "xxhash64",
) -> DataFrame:
    """OP-LLM-03 (scale path) — approximate top-k: candidates only
    from the query's sign-LSH bucket (equi-join on bucket replaces
    the cross join; recall traded for a ~2^n_planes candidate
    reduction).

    ``n_tables`` is the recall knob: each table hashes with an
    independent seeded hyperplane family, a (query, corpus) pair is
    a candidate if it collides in ANY table, and a pair colliding in
    several tables is scored once (dedup BEFORE the cosine kernel,
    so extra tables add recall without re-scoring). Miss probability
    decays exponentially: (1 - p^n_planes) ** n_tables for
    similarity-p pairs."""
    c = corpus.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("_cv")
    ).filter(valid_vector_expr(F.col("_cv"), dim=dim))
    q = queries.select(
        F.col(query_id_col),
        F.col(vec_col).cast("array<double>").alias("_qv"),
    ).filter(valid_vector_expr(F.col("_qv"), dim=dim))

    cand = None
    for t in range(n_tables):
        cb = hyperplane_buckets(
            c, n_planes, dim, "_cv", seed + t, out_col="bucket", family=family
        ).select(id_col, "bucket")
        qb = hyperplane_buckets(
            q, n_planes, dim, "_qv", seed + t, out_col="bucket", family=family
        ).select(query_id_col, "bucket")
        pairs = cb.join(F.broadcast(qb), "bucket").select(
            query_id_col, id_col
        )
        cand = pairs if cand is None else cand.unionByName(pairs)
    cand = cand.distinct().filter(F.col(id_col) != F.col(query_id_col))

    scored = (
        cand.join(c, id_col)
        .join(F.broadcast(q), query_id_col)
        .select(
            query_id_col,
            id_col,
            F.round(cosine_expr(F.col("_cv"), F.col("_qv")), 6).alias(
                "cosine"
            ),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def _replant(df: DataFrame, schema: str) -> DataFrame:
    """The round loops' lineage cut: collect a small, already-rounded
    table to the driver and re-plant it as a broadcast literal
    (:func:`local_table`) in ``schema``'s column order. It moves
    values and computes none, so the next round reads the identical
    doubles; NULLs stay NULL."""
    return F.broadcast(local_table(df.sparkSession, df.collect(), schema))


def kmeans_lloyd(
    embeddings: DataFrame,
    k: int = 8,
    n_iter: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """OP-LLM-03 (exact-contract k-means) — fixed-``n_iter`` Lloyd
    iterations as pure relational ops, with a QUANTIZED-DETERMINISM
    contract that makes the whole clustering engine-reproducible
    (the checkable twin of MLlib's KMeans, and the IVF cell builder
    with an exact oracle):

    * init: the ``k`` lowest-id vectors are centroids 0..k-1 —
      deterministic, no RNG;
    * assign: squared L2 distances are ROUNDED to 6dp before the
      argmin (ties then break on cluster id), so a float-ULP
      difference between engines can never flip an assignment;
    * update: per-(cluster, dim) means are rounded to 6dp, so both
      engines enter the next round with bit-identical centroids.

    Everything is long-form relational — vectors and centroids
    explode to (id, pos, x) rows, distance + argmin are ONE
    per-vector hash agg over the pos join (a k-column pivot on the
    cluster id: the per-cluster sums land in one shuffle on vec_id,
    then the argmin is a row-local fold over the k pivot columns —
    round 9 replaced the (vec, cluster) agg + per-vector window
    pair, halving the exchanges per Lloyd round) — so nothing
    depends on array-fold evaluation order. A cluster that loses
    all members drops out (standard Lloyd degeneracy: its pivot
    column is NULL everywhere and the argmin skips it), identically
    in both engines.

    Returns final assignments: (vec_id, cluster, dist) with dist
    the rounded squared L2 to the winning centroid.

    Lineage control: the per-round centroid table is k*dim rows
    (512 here) and ALREADY rounded to 6dp, so it is collected to the
    driver between rounds and re-planted as a literal DataFrame —
    the MLlib-KMeans pattern (centroids live on the driver between
    Lloyd rounds). This truncates the otherwise O(rounds x lineage)
    unrolled plan to O(1) stages per round, turns every pos-join
    into a broadcast, and lets ``dims`` be unpersisted before
    return (no cache entries leak into long-lived sessions; the
    final returned plan re-derives the one narrow scan+explode).
    Values are bit-identical to the fully-lazy form: collection
    moves rounded doubles, it computes nothing.

    Scale posture: each round shuffles the n*k distance rows —
    right for the oracle contract and for cell-building over
    representative SAMPLES (how IVF training actually runs); a
    100 TB full-corpus fit belongs to MLlib KMeans / the Arrow kNN
    scorer, which trade the exact replayability away."""
    from pyspark.sql import Window

    spark = embeddings.sparkSession
    dims = embeddings.select(
        F.col(id_col),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("pos", "x"),
    )
    from pyspark.storagelevel import StorageLevel

    # Persist PRE-PARTITIONED on the vector id (guide §2.4: ops keyed
    # the same way share one exchange): every Lloyd round both
    # aggregates distances by id and joins the assignment back by id —
    # with the cache already hash-partitioned on id, neither needs a
    # shuffle, so each round is ONE exchange (the k*dim centroid agg)
    # instead of three.
    dims = dims.repartition(id_col).persist(StorageLevel.MEMORY_AND_DISK)

    # Seed centroids: the k lowest-id vectors, numbered 0..k-1 in id
    # order. One TakeOrderedAndProject collect straight off the
    # embeddings table (id + vector, exploded DRIVER-side — the
    # vectors are k*dim doubles) — round 9 dropped the previous
    # dims-join seed collect, which paid a full scan of the exploded
    # dims table just to pick up k vectors' elements. No
    # partitionless row_number window (single-partition WARN); the
    # numbering stays driver-side exactly as before. NULL/empty seed
    # vectors contribute no rows (posexplode semantics) and drop out
    # of the numbering, identically to the join form.
    seed_rows = (
        embeddings.select(
            F.col(id_col).alias("_sid"),
            F.col(vec_col).cast("array<double>").alias("_v"),
        )
        .orderBy("_sid")
        .limit(k)
        .collect()
    )
    seed_rows = [r for r in seed_rows if r["_v"]]
    sids = sorted(
        {r["_sid"] for r in seed_rows}, key=lambda v: (v is not None, v)
    )
    cluster_of = {v: i for i, v in enumerate(sids)}
    cent = F.broadcast(
        local_table(
            spark,
            [
                (cluster_of[r["_sid"]], pos, float(x))
                for r in seed_rows
                for pos, x in enumerate(r["_v"])
            ],
            "cluster long, pos int, c double",
        )
    )

    clusters = list(range(k))

    assign = None
    for it in range(n_iter):
        # One shuffle per assignment: per-cluster squared-L2 sums
        # pivot to k columns keyed by vec alone; the argmin is then a
        # row-local fold (min over struct(dist, cluster) — the same
        # (dist asc, cluster asc) tie order the window form used).
        # The pivot columns are renamed by position to _d0.._d{k-1},
        # so an id column named like a cluster number cannot clash.
        sq = (F.col("x") - F.col("c")) * (F.col("x") - F.col("c"))
        dist_wide = (
            dims.join(cent, "pos")
            .groupBy(id_col)
            .pivot("cluster", clusters)
            .agg(F.round(F.sum(sq), 6))
            .toDF(id_col, *[f"_d{j}" for j in clusters])
        )
        best = F.array_min(
            F.filter(
                F.array(
                    *[
                        F.struct(
                            F.col(f"_d{j}").alias("dist"),
                            F.lit(j).cast("long").alias("cluster"),
                        )
                        for j in clusters
                    ]
                ),
                lambda s: s["dist"].isNotNull(),
            )
        )
        assign = dist_wide.select(
            F.col(id_col),
            best["cluster"].alias("cluster"),
            best["dist"].alias("dist"),
        )
        if it < n_iter - 1:
            cent = _replant(
                dims.join(assign.select(id_col, "cluster"), id_col)
                .groupBy("cluster", "pos")
                .agg(F.round(F.avg("x"), 6).alias("c")),
                "cluster long, pos int, c double",
            )
    dims.unpersist()
    return assign


def pca_power_top_component(
    embeddings: DataFrame,
    n_iter: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """OP-LLM-03 (exact-contract PCA) — the top principal component
    of the embedding cloud by power iteration over the covariance
    matrix, under the same QUANTIZED-DETERMINISM contract as
    :func:`kmeans_lloyd` (every intermediate rounded to 6dp before
    it is consumed), so the loadings value-oracle exactly. The
    embedding-analytics primitive behind whitening, anisotropy
    checks, and 1-D ordering of a vector corpus.

    Dataflow — everything after the Gram pass is DIMENSION-bounded:

    1. center: per-dim means (one (pos) hash agg), subtract;
    2. Gram/covariance: C[i,j] = sum over vectors of x_i * x_j —
       ONE self-join of the exploded dims on the vector key + one
       (i,j) hash agg; C is dim x dim (64 x 64 here) and every later
       step touches only C and v;
    3. power rounds: w = C @ v (join on j, sum over j), each w, the
       norm, and the normalized v rounded to 6dp — deterministic
       start v0 = e_0.

    Sign is pinned by the deterministic init (flip follows v0, same
    in both engines). Returns (pos, loading) — the unit top
    component, 6dp.

    Scale posture: the self-join ships n * dim^2 product rows into a
    partial-aggregating shuffle — fine for dim <= a few hundred
    (Gram matrices are how distributed PCA actually starts); the
    power rounds are O(dim^2) total, engine-trivial."""
    from pyspark.storagelevel import StorageLevel

    dims = embeddings.select(
        F.col(id_col),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("pos", "x"),
    )
    means = dims.groupBy("pos").agg(F.avg("x").alias("_m"))
    centered = (
        dims.join(means, "pos")
        .select(id_col, "pos", (F.col("x") - F.col("_m")).alias("x"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    a = centered.select(F.col(id_col), F.col("pos").alias("i"), F.col("x").alias("xi"))
    b = centered.select(F.col(id_col), F.col("pos").alias("j"), F.col("x").alias("xj"))
    cov = (
        a.join(b, id_col)
        .groupBy("i", "j")
        .agg(F.round(F.sum(F.col("xi") * F.col("xj")), 6).alias("c"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    v = cov.select(F.col("i").alias("pos")).distinct().select(
        "pos", F.when(F.col("pos") == 0, 1.0).otherwise(0.0).alias("v")
    )
    from pyspark.sql import Window

    v = _replant(v, "pos int, v double")
    for _ in range(n_iter):
        w = (
            cov.join(v.select(F.col("pos").alias("j"), "v"), "j")
            .groupBy("i")
            .agg(F.round(F.sum(F.col("c") * F.col("v")), 6).alias("w"))
        )
        # dim-sized table (64 rows) — the empty-partition window is
        # bounded by the dimension, never the corpus
        nrm = F.round(
            F.sqrt(F.sum(F.col("w") * F.col("w")).over(Window.partitionBy())), 6
        )
        # A zero norm (C @ v == 0, e.g. a constant first dim) leaves v
        # NULL; the replant carries it through as NULL.
        v = _replant(
            w.select(
                F.col("i").alias("pos"),
                F.round(F.try_divide(F.col("w"), nrm), 6).alias("v"),
            ),
            "pos int, v double",
        )
    out = v.select(
        F.col("pos").cast("long").alias("pos"),
        F.col("v").alias("loading"),
    )
    # the rounds above were eagerly materialized by _replant and the
    # returned plan is a pure literal — safe to drop both caches now
    centered.unpersist()
    cov.unpersist()
    return out


def label_centroids(
    embeddings: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """OP-LLM-03 (centroids, [mandate]) — per-label mean vector in
    long form (label, dim, centroid): posexplode the array row-local,
    ONE hash agg on (label, dim). Long output keeps the plan
    shuffle-minimal and engine-portable; the wide vector is an
    array_agg away when a consumer (IVF coarse quantizer, class
    prototype scorer) needs it. Double accumulation on both engines;
    rounded at the query edge."""
    return (
        embeddings.select(
            F.col(label_col),
            F.posexplode(F.col(vec_col)).alias("dim", "val"),
        )
        .groupBy(label_col, "dim")
        .agg(F.avg("val").alias("centroid"))
        .withColumn("dim", F.col("dim").cast("long"))
    )


def random_projection(
    df: DataFrame,
    k: int = 8,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
) -> DataFrame:
    """OP-LLM-03 (dimensionality reduction, [mandate]) — deterministic
    Johnson-Lindenstrauss-style random projection to ``k`` dims: the
    projection matrix rows are the md5_hyperplanes family (pure
    function of the seed — every executor, every run, and the SQL
    oracle derive the SAME floats; nothing is shipped), components
    scaled by 1/sqrt(k). One codegen projection, no shuffle, no UDF;
    the standard pre-step that makes brute-force rescoring and
    centroid math cheap at 100 TB (64->8 dims = 8x less math and
    shuffle bytes on every downstream similarity op).

    Output columns: id, p0..p{k-1} DOUBLE rounded to 6dp
    (engine-portable exactness for the value oracle). Only valid
    ``dim``-length vectors with elements |x| <= 1e6 project
    (:func:`valid_vector_expr` with ``max_abs`` — the projection's
    output is an absolute-6dp raw dot, so cross-engine exactness
    needs the magnitude bound); NULL / ragged / non-finite /
    over-magnitude rows are excluded.
    """
    import math

    planes = md5_hyperplanes(k, dim, seed)
    v = F.col(vec_col).cast("array<double>")
    inv = 1.0 / math.sqrt(k)
    comps = [
        F.round(
            dot_expr(v, F.array(*[F.lit(x) for x in planes[j]])) * F.lit(inv),
            6,
        ).alias(f"p{j}")
        for j in range(k)
    ]
    return df.filter(valid_vector_expr(v, dim=dim, max_abs=1e6)).select(
        F.col(id_col), *comps
    )


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """OP-LLM-03 (int8 quantization, [mandate]) — symmetric per-vector
    int8 quantization of an embedding column: scale = max|x| / 127,
    q_i = round(x_i / scale). The standard 4x memory/shuffle-bytes
    reduction that makes billion-vector ANN indexes storable; dot
    products rescale by scale_a * scale_b at query time. One codegen
    projection over row-local array folds — no shuffle, no UDF.

    Output: (id, qvec ARRAY<INT> in [-127,127], scale DOUBLE 6dp).
    All-zero vectors get scale 0 and an all-zero qvec (try_divide
    null -> 0 via coalesce) so the round trip stays total over every
    FINITE vector (ragged included — quantization is row-local).
    NULL vectors and vectors with NULL/NaN/±inf elements are
    excluded: before the gate a single NaN element survived the
    coalesce (round(NaN) is NaN, not NULL) and the int8 cast threw
    CAST_OVERFLOW under ANSI — found by the round-7 edge-data sweep.
    """
    v = F.col(vec_col).cast("array<double>")
    amax = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = amax / F.lit(127.0)
    q = F.transform(
        v,
        lambda x: F.coalesce(
            F.round(F.try_divide(x, scale), 0), F.lit(0.0)
        ).cast("int"),
    )
    return df.filter(v.isNotNull() & finite_vector_expr(v)).select(
        F.col(id_col),
        q.alias("qvec"),
        F.round(scale, 6).alias("scale"),
    )
