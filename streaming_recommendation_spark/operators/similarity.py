"""Similarity search over embedding columns (array<float>).

The reference's recall stage is a dense matmul of one user embedding
against the whole item matrix followed by topk (reference:
eval_online/main/lightgcn.py:40-45; model_service/models.py:47-55).
Re-expressed for a distributed engine:

  * knn_brute_force — broadcast the (small) query set against the
    (huge) corpus: corpus stays partitioned, each task scores its
    partition against every query JVM-side (zip_with/aggregate), then
    per-query top-k via WindowGroupLimit. Cost: one corpus scan, no
    shuffle of vectors — only k rows per query shuffle to the final
    stage. This is the exact shape that survives 100 TB: the corpus
    never moves.
  * lsh_knn — sign-random-projection bucketing: vectors agreeing on
    all P hyperplane signs land in the same bucket; queries probe
    only their bucket. Hyperplanes are deterministic (seeded, stored
    as literals) so results are reproducible. Trades recall for a
    ~2^P candidate reduction.
"""

from __future__ import annotations

import math

import numpy as np

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import cosine_from_norms, dot, l2_norm
from .topk import top_k_per_group


def knn_brute_force(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    metric: str = "cosine",
) -> DataFrame:
    """Exact top-k neighbors per query. Returns
    (query_id, neighbor_id, rank) — ranks are float-free so results
    are stable under FP reassociation differences across engines."""
    # norms once per ROW (scan stage), not per pair: the pair-stage
    # cosine collapses to a single dot (cosine_from_norms docstring)
    q = queries.select(
        F.col(query_id_col), F.col(vec_col).alias("__qvec")
    ).withColumn("__qn", l2_norm("__qvec"))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cvec")
    ).withColumn("__cn", l2_norm("__cvec"))
    scored = c.join(F.broadcast(q), how="cross")
    sim = (
        cosine_from_norms("__qvec", "__cvec", "__qn", "__cn")
        if metric == "cosine"
        else dot("__qvec", "__cvec")
    )
    scored = scored.select(query_id_col, "neighbor_id", sim.alias("score"))
    return top_k_per_group(
        scored,
        k,
        [query_id_col],
        F.col("score").desc(),
        F.col("neighbor_id").asc(),
        rank_col="rank",
    ).select(query_id_col, "neighbor_id", "rank")


def filtered_knn(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    filter_cols: tuple = ("label",),
    metric: str = "cosine",
) -> DataFrame:
    """Metadata-FILTERED exact top-k — the 'filtered vector search'
    every production vector store grew (Qdrant/Milvus/pgvector filter
    clauses), PRE-filter strategy: each query row carries values for
    ``filter_cols`` and competes only against corpus rows matching
    ALL of them. The constraint is an EQUI-join key (query side
    broadcast), so a selective filter SHRINKS the scored set — unlike
    post-filtering a k-NN result, which silently returns < k rows
    when the filter eats the shortlist. Returns (query_id,
    neighbor_id, rank), float-free like knn_brute_force. Scale: one
    corpus scan; the filter predicate rides the broadcast hash join
    key, and a single-valued filter additionally pushes down to the
    parquet scan when written as a literal .where by the caller."""
    fcols = list(filter_cols)
    q = queries.select(
        F.col(query_id_col), F.col(vec_col).alias("__qvec"), *fcols
    ).withColumn("__qn", l2_norm("__qvec"))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cvec"),
        *fcols,
    ).withColumn("__cn", l2_norm("__cvec"))
    scored = c.join(F.broadcast(q), on=fcols)
    sim = (
        cosine_from_norms("__qvec", "__cvec", "__qn", "__cn")
        if metric == "cosine"
        else dot("__qvec", "__cvec")
    )
    scored = scored.select(query_id_col, "neighbor_id", sim.alias("score"))
    return top_k_per_group(
        scored,
        k,
        [query_id_col],
        F.col("score").desc(),
        F.col("neighbor_id").asc(),
        rank_col="rank",
    ).select(query_id_col, "neighbor_id", "rank")


def ivf_filtered_knn(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    num_landmarks: int = 16,
    n_probe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    filter_cols: tuple = ("label",),
) -> DataFrame:
    """Filtered ANN: the IVF cell-pruned search with the metadata
    constraint applied INSIDE the probed cells (in-cell pre-filter —
    the FAISS IDSelector / Milvus bitset shape): one shared cell
    structure serves every filter value, the probe join carries the
    filter equality alongside the cell key, and non-matching rows
    are dropped BEFORE scoring, never from the top-k afterwards. The
    recall/cost tradeoff is the plain IVF one (n_probe bounds what
    any strategy can see); a very selective filter empties probed
    cells and honestly returns fewer rows — raise n_probe for rare
    filters (the measured guidance every vector store documents).
    Scale: cell pruning and the filter compose — both ride the same
    broadcast probe join against one corpus scan."""
    fcols = list(filter_cols)
    lm = ivf_landmarks(corpus, num_landmarks, id_col, vec_col)
    cells = ivf_assign(
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("__cvec"),
            *fcols,
        ),
        lm,
        "neighbor_id",
        "__cvec",
        1,
        extra_cols=tuple(fcols),
    ).withColumn("__cn", l2_norm("__cvec"))
    probes = ivf_assign(
        queries.select(
            F.col(query_id_col), F.col(vec_col).alias("__qvec"), *fcols
        ),
        lm,
        query_id_col,
        "__qvec",
        n_probe,
        extra_cols=tuple(fcols),
    ).withColumn("__qn", l2_norm("__qvec"))
    scored = cells.join(F.broadcast(probes), on=["__lid", *fcols]).select(
        query_id_col,
        "neighbor_id",
        cosine_from_norms("__qvec", "__cvec", "__qn", "__cn").alias("score"),
    )
    return top_k_per_group(
        scored,
        k,
        [query_id_col],
        F.col("score").desc(),
        F.col("neighbor_id").asc(),
        rank_col="rank",
    ).select(query_id_col, "neighbor_id", "rank")


def cosine_topk_i64(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 20,
    id_col: str = "doc_id",
    rank_col: str = "emb_rank",
    exclude_self: bool = True,
) -> DataFrame:
    """Exact cosine top-k over INTEGER vectors (``array<long>`` —
    the hash-embedding domain of features.doc_hash_embed): dot and
    both squared norms are exact int64 sums, the score is one
    IEEE sqrt+divide, so the ranking replays bit-for-bit on any
    engine (the q191/q199 dense-leg recipe, single-sourced here so
    the batch query and the store-backed streaming read can never
    drift). ``queries`` is (query_doc, __qv); ``corpus`` is
    (id_col, __cv). Returns (query_doc, id, rank_col). Scale: the
    query side broadcasts into ONE corpus scan — never all-pairs;
    an all-zero vector scores 0.0 (guarded divide).
    """
    lit0 = F.lit(0).cast("long")
    dot_i = F.aggregate(
        F.zip_with(F.col("__qv"), F.col("__cv"), lambda x, y: x * y),
        lit0,
        lambda acc, v: acc + v,
    )
    na = F.aggregate(
        F.transform(F.col("__qv"), lambda x: x * x), lit0, lambda a, v: a + v
    )
    nb = F.aggregate(
        F.transform(F.col("__cv"), lambda x: x * x), lit0, lambda a, v: a + v
    )
    scored = corpus.crossJoin(F.broadcast(queries))
    if exclude_self:
        scored = scored.where(F.col(id_col) != F.col("query_doc"))
    scored = scored.select(
        "query_doc",
        id_col,
        F.when(
            (na > 0) & (nb > 0),
            dot_i.cast("double")
            / (F.sqrt(na.cast("double")) * F.sqrt(nb.cast("double"))),
        )
        .otherwise(F.lit(0.0))
        .alias("score"),
    )
    return top_k_per_group(
        scored,
        k,
        ["query_doc"],
        F.col("score").desc(),
        F.col(id_col).asc(),
        rank_col=rank_col,
    ).select(
        "query_doc", id_col, F.col(rank_col).cast("int").alias(rank_col)
    )


def _require_dim(dim: int | None, vec_col: str) -> int:
    """Plan builders must not run Spark jobs; callers pass the vector
    width explicitly (it is part of the table contract, e.g. 64 for
    the embeddings testdata)."""
    if dim is None:
        raise ValueError(
            f"dim is required (width of {vec_col!r}); inferring it would "
            "run a Spark job during plan construction"
        )
    return dim


def _hyperplanes(dim: int, num_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random unit hyperplanes (Box-Muller over a
    hand-rolled LCG so no RNG state leaks into the plan)."""
    state = seed
    planes = []
    for _ in range(num_planes):
        vals = []
        while len(vals) < dim:
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            u1 = ((state >> 11) + 1) / (1 << 53)
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            u2 = (state >> 11) / (1 << 53)
            vals.append(math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.pi * u2))
        norm = math.sqrt(sum(v * v for v in vals)) or 1.0
        planes.append([v / norm for v in vals])
    return planes


def srp_bucket(vec_col, planes: list[list[float]]):
    """Sign-random-projection bucket id (0..2^P-1) as a Column."""
    bucket = F.lit(0).cast("long")
    for j, plane in enumerate(planes):
        # ONE literal node per plane (np literal), not dim Column
        # objects — guide §7.3 planning cost; values identical
        lit_plane = F.lit(np.asarray(plane, dtype="float64"))
        d = F.aggregate(
            F.zip_with(vec_col, lit_plane, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bucket = bucket + F.when(d >= 0, F.lit(2 ** j).cast("long")).otherwise(F.lit(0).cast("long"))
    return bucket


def lsh_knn(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    num_planes: int = 4,
    num_tables: int = 4,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: score only same-SRP-bucket candidates.

    OR-amplified: ``num_tables`` independent plane sets; a candidate
    qualifies if it shares a bucket with the query in ANY table
    (recall grows as 1-(1-p^P)^L while each table still prunes
    ~1/2^P of the corpus). The (table, bucket) pair is an equi-join
    key, so Catalyst plans a shuffled hash join instead of the
    brute-force cross product; at scale the corpus is written
    bucketed/partitioned by the same key.

    ``dim`` is required: hyperplanes are plan-time literals, and
    discovering the width with a ``first()`` would run a Spark job
    inside a plan builder.
    """
    dim = _require_dim(dim, vec_col)
    tables = [
        _hyperplanes(dim, num_planes, seed + 1000 * t) for t in range(num_tables)
    ]

    def bucketed(df, idc, vc, nc):
        # norm once per row BEFORE the per-table explode
        return df.withColumn(nc, l2_norm(vc)).select(
            F.col(idc),
            F.col(vc),
            F.col(nc),
            F.posexplode(
                F.array(*[srp_bucket(F.col(vc), planes) for planes in tables])
            ).alias("__table", "__bucket"),
        )

    c = bucketed(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cvec")),
        "neighbor_id",
        "__cvec",
        "__cn",
    )
    q = bucketed(
        queries.select(F.col(query_id_col), F.col(vec_col).alias("__qvec")),
        query_id_col,
        "__qvec",
        "__qn",
    )
    scored = (
        c.join(F.broadcast(q), ["__table", "__bucket"])
        .select(query_id_col, "neighbor_id", "__qvec", "__cvec", "__qn", "__cn")
        .dropDuplicates([query_id_col, "neighbor_id"])
        .select(
            query_id_col,
            "neighbor_id",
            cosine_from_norms("__qvec", "__cvec", "__qn", "__cn").alias("score"),
        )
    )
    return top_k_per_group(
        scored,
        k,
        [query_id_col],
        F.col("score").desc(),
        F.col("neighbor_id").asc(),
        rank_col="rank",
    ).select(query_id_col, "neighbor_id", "rank")


def ivf_landmarks(
    corpus: DataFrame,
    num_landmarks: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(__lid, __lvec): the ``num_landmarks`` hash-ranked corpus
    vectors that act as deterministic IVF cell centroids. Pure plan —
    no fitting job; swap in k-means-refined centroids offline without
    changing any downstream plan."""
    from ..functions.hashing import det_hash_long

    return (
        corpus.select(F.col(id_col).alias("__lid"), F.col(vec_col).alias("__lvec"))
        .withColumn("__h", det_hash_long("__lid"))
        .orderBy(F.col("__h").asc(), F.col("__lid").asc())
        .limit(num_landmarks)
        .drop("__h")
    )


def _sq_l2(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def ivf_assign(
    df: DataFrame,
    landmarks: DataFrame,
    id_col: str,
    vec_col: str,
    n_probe: int = 1,
    extra_cols: tuple = (),
) -> DataFrame:
    """(id, vec, __lid): each vector's ``n_probe`` nearest landmark
    cells (ties by landmark id). Landmarks broadcast; the only shuffle
    is the per-vector argmin window. With n_probe=1 this is the cell
    assignment to persist the corpus under — write_partitioned by
    ``__lid`` and probe reads prune whole cells (see
    tests/test_layout.py). ``extra_cols`` ride through unchanged (the
    filtered-search metadata — ivf_filtered_knn)."""
    extra = list(extra_cols)
    scored = df.crossJoin(F.broadcast(landmarks)).select(
        id_col,
        vec_col,
        *extra,
        "__lid",
        _sq_l2(F.col(vec_col), F.col("__lvec")).alias("__d"),
    )
    return top_k_per_group(
        scored, n_probe, [id_col], F.col("__d").asc(), F.col("__lid").asc()
    ).select(id_col, vec_col, *extra, "__lid")


def ivf_knn(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    num_landmarks: int = 16,
    n_probe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF-style approximate top-k: a coarse Voronoi quantizer over
    deterministic LANDMARK vectors, then exact cosine inside probed
    cells — the second scale path next to SRP-LSH.

    Landmarks are the ``num_landmarks`` hash-ranked corpus vectors
    (deterministic, no fitting job; a k-means refinement can replace
    them offline without changing this plan). Every corpus vector
    joins its single nearest landmark's cell; each query probes its
    ``n_probe`` nearest cells, so the search space shrinks to
    ~n_probe/num_landmarks of the corpus while the landmark table
    stays broadcast-small. Candidate scoring is exact cosine; returns
    (query_id, neighbor_id, rank).

    Plan shape at scale: landmarks broadcast to the assignment
    cross-join; the only shuffles are the per-vector argmin window
    (key = vector id) and the cell equi-join — the corpus is never
    compared all-pairs, and at rest it can be written partitioned by
    cell id so the probe join prunes partitions.
    """
    landmarks = ivf_landmarks(corpus, num_landmarks, id_col, vec_col)
    c = ivf_assign(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cvec")),
        landmarks,
        "neighbor_id",
        "__cvec",
        1,
    )
    return ivf_knn_from_index(
        c, landmarks, queries, k, n_probe, vec_col, query_id_col
    )


def ivf_knn_from_index(
    index: DataFrame,
    landmarks: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 3,
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """The probe/score tail of :func:`ivf_knn` over a PRE-ASSIGNED
    cell index (neighbor_id, __cvec, __lid) — the shape a
    continuously-maintained vector index persists (streaming/
    vectors.py): assignment is a per-row pure function of the fixed
    landmark table, so batch-incremental index builds equal the
    single-pass build exactly (pinned by q135)."""
    q = ivf_assign(
        queries.select(F.col(query_id_col), F.col(vec_col).alias("__qvec")),
        landmarks,
        query_id_col,
        "__qvec",
        n_probe,
    ).withColumn("__qn", l2_norm("__qvec"))
    # the probed-query side is |queries| x n_probe rows — broadcast it
    # so the corpus-wide cell join never sort-merges the big side;
    # corpus norms are computed once per row in the scan stage so the
    # per-pair cosine is a single dot (a probed cell's rows pair with
    # EVERY query probing it — per-pair savings dominate)
    scored = (
        index.withColumn("__cn", l2_norm("__cvec"))
        .join(F.broadcast(q), "__lid")
        .select(
            query_id_col,
            "neighbor_id",
            cosine_from_norms("__qvec", "__cvec", "__qn", "__cn").alias("score"),
        )
    )
    return top_k_per_group(
        scored,
        k,
        [query_id_col],
        F.col("score").desc(),
        F.col("neighbor_id").asc(),
        rank_col="rank",
    ).select(query_id_col, "neighbor_id", "rank")


def embedding_near_dups(
    corpus: DataFrame,
    threshold: float = 0.95,
    num_planes: int = 6,
    num_tables: int = 4,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine (a < b, cosine >=
    threshold) — the vector analog of MinHash text dedup.

    Candidate pairs form only inside an SRP-LSH bucket (per table),
    then exact cosine verifies. High thresholds pair with more planes:
    near-identical vectors agree on almost every hyperplane sign, so
    the bucket join prunes aggressively while OR-amplification keeps
    recall. A full pairwise cosine is O(n^2) and never materializes.

    ``dim`` is required — see ``lsh_knn``.
    """
    dim = _require_dim(dim, vec_col)
    tables = [
        _hyperplanes(dim, num_planes, seed + 1000 * t) for t in range(num_tables)
    ]
    bucketed = corpus.withColumn("__n", l2_norm(vec_col)).select(
        F.col(id_col),
        F.col(vec_col),
        F.col("__n"),
        F.posexplode(
            F.array(*[srp_bucket(F.col(vec_col), planes) for planes in tables])
        ).alias("__table", "__bucket"),
    )
    a = bucketed.select(
        F.col(id_col).alias("a"),
        F.col(vec_col).alias("__va"),
        F.col("__n").alias("__na"),
        "__table",
        "__bucket",
    )
    b = bucketed.select(
        F.col(id_col).alias("b"),
        F.col(vec_col).alias("__vb"),
        F.col("__n").alias("__nb"),
        "__table",
        "__bucket",
    )
    return (
        a.join(b, ["__table", "__bucket"])
        .where(F.col("a") < F.col("b"))
        .dropDuplicates(["a", "b"])
        .select(
            "a",
            "b",
            cosine_from_norms("__va", "__vb", "__na", "__nb").alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


def kmeans_refined_landmarks(
    corpus: DataFrame,
    k: int = 16,
    n_iter: int = 2,
    dim: int | None = None,
    scale: int = 1 << 20,
    offset: float = 2.0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(__lid, __lvec): Lloyd-refined IVF centroids, deterministic
    enough for a cross-engine oracle to replay them bit-for-bit.

    Standard k-means is nondeterministic on a cluster: float partial
    sums reduce in shuffle-arrival order, so centroid ULPs — and then
    boundary assignments — drift run to run. This variant quantizes
    vectors to integers (round((x+offset)*scale), exact in int64 for
    unit-norm-ish embeddings), runs every distance / sum / mean in
    integer arithmetic (mean = sum DIV count, operands kept
    non-negative so floor == trunc on every engine), and converts the
    final centroids back with the EXACT float ops v/scale - offset
    (scale is a power of two, so both steps are rounding-free). The
    quantization error (~2^-20 per coordinate) is orders below any
    real embedding noise.

    Each round is one corpus scan: assignment = broadcast centroids +
    per-vector argmin window, update = posexplode + (cell, dim)
    partial-sum shuffle, then a k*dim-row collect to the driver (the
    same bounded fitting collect Spark MLlib's KMeans does). Seeds are
    the deterministic hash-ranked landmarks, so cells that go empty
    keep their previous centroid. Downstream IVF plans are
    centroid-source-agnostic — feed this to ivf_knn in place of
    ivf_landmarks.
    """
    spark = corpus.sparkSession
    dim = _require_dim(dim, vec_col)
    fscale = float(scale)

    def quantize(col):
        return F.transform(
            col, lambda x: F.round((x + F.lit(offset)) * F.lit(fscale)).cast("long")
        )

    qv = corpus.select(
        F.col(id_col).alias("__vid"), quantize(F.col(vec_col)).alias("__qv")
    )
    seeds = ivf_landmarks(corpus, k, id_col, vec_col).select(
        "__lid", quantize(F.col("__lvec")).alias("__qc")
    )
    cents: dict[int, list[int]] = {
        r["__lid"]: list(r["__qc"]) for r in seeds.collect()
    }
    for _ in range(n_iter):
        # assignment is a map-side argmin against plan-literal
        # centroids (the ivf_pq_adc_knn recipe): array_min over
        # struct(d, lid) picks min distance, ties to the smaller lid —
        # exactly the old crossJoin + top-1-window semantics, without
        # materializing k x |corpus| rows or the per-vector window
        # shuffle (guide §2.4). Update shuffle (lid, dim) unchanged.
        items = sorted(cents.items())
        lid_arr = F.lit(np.asarray([lid for lid, _ in items], dtype="int64"))
        cent_arr = F.array(
            *[F.lit(np.asarray(qc, dtype="int64")) for _, qc in items]
        )
        structs = F.transform(
            cent_arr,
            lambda c, i: F.struct(
                F.aggregate(
                    F.zip_with("__qv", c, lambda a, b: (a - b) * (a - b)),
                    F.lit(0).cast("long"),
                    lambda acc, v: acc + v,
                ).alias("d"),
                F.element_at(lid_arr, i + 1).alias("c"),
            ),
        )
        best = qv.select(
            F.array_min(structs)["c"].alias("__lid"), "__qv"
        )
        stats = (
            best.select("__lid", F.posexplode("__qv").alias("__dim", "__val"))
            .groupBy("__lid", "__dim")
            .agg(F.sum("__val").alias("__s"), F.count(F.lit(1)).alias("__n"))
            .collect()
        )
        new_cents: dict[int, list[int]] = {}
        for r in stats:
            vec = new_cents.setdefault(r["__lid"], [0] * dim)
            vec[r["__dim"]] = r["__s"] // r["__n"]  # non-negative: floor==trunc
        # empty cells keep their previous centroid
        cents = {lid: new_cents.get(lid, qc) for lid, qc in cents.items()}
    return spark.createDataFrame(
        [
            (lid, [v / fscale - offset for v in qc])  # exact float ops
            for lid, qc in sorted(cents.items())
        ],
        "__lid long, __lvec array<double>",
    )


def ivf_kmeans_knn(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    num_landmarks: int = 16,
    n_iter: int = 2,
    n_probe: int = 3,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """ivf_knn with Lloyd-refined centroids: identical probe/search
    plan, better-balanced cells (hash-ranked seeds can land close
    together; a couple of integer-Lloyd rounds spreads them toward
    the data's actual modes, improving recall at the same n_probe)."""
    landmarks = kmeans_refined_landmarks(
        corpus, num_landmarks, n_iter, dim, id_col=id_col, vec_col=vec_col
    )
    c = ivf_assign(
        corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cvec")
        ),
        landmarks,
        "neighbor_id",
        "__cvec",
        1,
    )
    q = ivf_assign(
        queries.select(F.col(query_id_col), F.col(vec_col).alias("__qvec")),
        landmarks,
        query_id_col,
        "__qvec",
        n_probe,
    ).withColumn("__qn", l2_norm("__qvec"))
    scored = (
        c.withColumn("__cn", l2_norm("__cvec"))
        .join(F.broadcast(q), "__lid")
        .select(
            query_id_col,
            "neighbor_id",
            cosine_from_norms("__qvec", "__cvec", "__qn", "__cn").alias("score"),
        )
    )
    return top_k_per_group(
        scored,
        k,
        [query_id_col],
        F.col("score").desc(),
        F.col("neighbor_id").asc(),
        rank_col="rank",
    ).select(query_id_col, "neighbor_id", "rank")


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Symmetric int8 quantization per vector: ``scale = 127 / max|x|``,
    ``qvec[i] = round(x[i] * scale)`` — 4x at-rest shrink for float32
    corpora (the storage path for 100 TB ANN; scoring dequantizes with
    one multiply, or runs integer dot products directly).

    Deterministic IEEE arithmetic start to finish (one division for the
    scale, then per-element multiply + half-away-from-zero round), so
    any engine reproduces the quantized codes bit-for-bit — the q88
    oracle replays them in DuckDB. Zero vectors pass through with
    scale 0 and an all-zero code.

    Map-side only: no shuffle, no UDF.
    """
    mx = F.array_max(F.transform(F.col(vec_col), lambda x: F.abs(x)))
    scale = F.when(mx > 0, F.lit(127.0) / mx).otherwise(F.lit(0.0))
    s = F.col("__scale")
    qvec = F.transform(F.col(vec_col), lambda x: F.round(x * s).cast("tinyint"))
    err = F.transform(F.col(vec_col), lambda x: x - F.round(x * s) / s)
    mse = F.when(
        s > 0,
        F.aggregate(err, F.lit(0.0), lambda acc, e: acc + e * e)
        / F.size(F.col(vec_col)),
    ).otherwise(F.lit(0.0))
    return df.withColumn("__scale", scale).select(
        F.col(id_col),
        F.col("__scale").alias("scale"),
        qvec.alias("qvec"),
        mse.alias("dequant_mse"),
    )


def semantic_dedup(
    corpus: DataFrame,
    threshold: float = 0.95,
    num_landmarks: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): drop semantically-redundant
    items by clustering embeddings and thresholding pairwise cosine
    INSIDE each cluster only. Returns (id, cluster_id, kept) for
    every input row: kept=false iff some same-cluster item with a
    smaller id is >= threshold similar (deterministic keep-lowest-id
    election, so an oracle can replay it).

    Scale shape: the whole point of SemDeDup is that the O(n^2)
    cosine matrix never forms — pairs exist only within a Voronoi
    cell of the (broadcast-small) landmark quantizer, so cost is
    sum over clusters of |cell|^2. At 100 TB, num_landmarks grows
    with the corpus (the paper uses ~100k clusters for billions of
    items) keeping cells roughly constant-sized; swap the hash-ranked
    landmarks for kmeans_refined_landmarks offline without changing
    this plan. The same cell assignment is what ivf_knn persists —
    one clustering serves both dedup and ANN serving.

    The lazy plan references the cell assignment three times (both
    pair sides + the kept-flag base), so it re-executes 3x per run —
    deliberate at this scale: persisting costs more than recomputing
    pipelined codegen stages (measured on q36's shingle table,
    NOTES_ROUND3.md), and the plan-audit pin budgets the three
    broadcast nested loops. A production corpus run writes the
    assignment out ONCE (the IVF at-rest layout, tests/test_layout)
    and every stage — and later ANN serving — reads that table.
    """
    cells = ivf_assign(
        corpus,
        ivf_landmarks(corpus, num_landmarks, id_col, vec_col),
        id_col,
        vec_col,
        n_probe=1,
    )
    with_norm = cells.withColumn("__n", l2_norm(vec_col))
    a = with_norm.select(
        F.col(id_col).alias("__a"),
        F.col(vec_col).alias("__va"),
        F.col("__n").alias("__na"),
        "__lid",
    )
    b = with_norm.select(
        F.col(id_col).alias("__b"),
        F.col(vec_col).alias("__vb"),
        F.col("__n").alias("__nb"),
        "__lid",
    )
    dropped = (
        a.join(b, "__lid")
        .where(F.col("__a") < F.col("__b"))
        .where(cosine_from_norms("__va", "__vb", "__na", "__nb") >= threshold)
        .select(F.col("__b").alias(id_col))
        .distinct()
        .withColumn("__drop", F.lit(1))
    )
    return cells.join(dropped, id_col, "left").select(
        id_col,
        F.col("__lid").alias("cluster_id"),
        (F.coalesce("__drop", F.lit(0)) == 0).alias("kept"),
    )


def contrastive_triplets(
    corpus: DataFrame,
    anchors: DataFrame,
    k_neg: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(anchor_id, positive_id, j, negative_id): the contrastive /
    triplet-loss training dataset materializer — for each anchor, the
    positive is its nearest cosine neighbor EXCLUDING itself (a
    duplicate vector, cosine 1.0, legitimately wins), and ``k_neg``
    negatives are deterministic uniform draws over the corpus ids.
    The output relation is what a two-tower / triplet-loss trainer
    consumes; the mining recipe (exact-NN positive + random
    negatives) is the standard self-supervised bootstrap when no
    labels exist.

    Pure composition of audited pieces: ``knn_brute_force`` (queries
    broadcast, corpus never shuffles, float-free ranks) for the
    positive; ``graph.skipgram_negatives`` — reused verbatim with
    (anchor, positive) as the (center, context) pair — for the draws,
    so the Knuth-hash replay and the global-sort-free dense vocab
    index are one implementation across the text and vector
    pipelines. Self-exclusion happens AFTER ranking (top-2 then drop
    self): the corpus side stays query-independent, which is what
    keeps it broadcast-join-able.
    """
    from .graph import skipgram_negatives

    q = anchors.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias(vec_col)
    )
    top2 = knn_brute_force(corpus, q, k=2, id_col=id_col, vec_col=vec_col)
    pos = (
        top2.where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy("rank")
            ),
        )
        .where(F.col("__rn") == 1)
        .select(
            F.col("query_id").alias("center"),
            F.col("neighbor_id").alias("context"),
        )
    )
    vocab = corpus.select(F.col(id_col).alias("node")).distinct()
    return skipgram_negatives(pos, vocab, k=k_neg).select(
        F.col("center").alias("anchor_id"),
        F.col("context").alias("positive_id"),
        "j",
        F.col("neg_id").alias("negative_id"),
    )


def pq_encode(
    corpus: DataFrame,
    m: int = 4,
    k: int = 8,
    n_iter: int = 1,
    dim: int | None = None,
    scale: int = 1 << 20,
    offset: float = 2.0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product quantization (Jegou et al. 2011 — the FAISS IVF-PQ
    memory knob, completing the ANN leg's cost triangle next to the
    recall knobs measured in BASELINE.md): split each vector into
    ``m`` subspaces, train a ``k``-centroid codebook per subspace
    with the same deterministic INTEGER Lloyd recipe as
    ``kmeans_refined_landmarks`` (quantize -> integer L2 argmin ->
    sum DIV count; exact on any engine and any shuffle order), then
    encode every vector as its per-subspace nearest-centroid ids.

    Returns (id, code_0..code_{m-1}, qdist) where qdist is the total
    integer quantization error — m*log2(k) bits replace dim floats
    (64 floats -> 4x3 bits here), which is what makes a 100 TB ANN
    index RAM-resident.

    Scale shape: training runs ``n_iter`` bounded rounds per subspace
    (assignment = 2k-literal map-side argmin over one corpus scan;
    update = one (cid, dim)-keyed partial-sum shuffle collapsing to
    k x dim/m driver rows — the same bounded fitting collect Spark
    MLlib's KMeans does; at 100 TB you train on a deterministic
    sample and the encode below is unchanged). ENCODING — the part
    that touches the full corpus — is ONE map-side projection: the
    trained centroids are plan-time literals, every distance an
    exact int64 fold, argmin an array_min over (dist, cid) structs
    (ties break toward the smaller cid). No shuffle, no UDF, no
    broadcast join in the encode path."""
    books = pq_train(corpus, m, k, n_iter, dim, scale, offset, id_col, vec_col)
    return pq_encode_with_books(
        corpus, books, dim=dim, scale=scale, offset=offset,
        id_col=id_col, vec_col=vec_col,
    )


def _pq_quantized(corpus, dim, scale, offset, id_col, vec_col):
    fscale = float(scale)
    return corpus.select(
        F.col(id_col).alias("__vid"),
        F.transform(
            F.col(vec_col),
            lambda x: F.round((x + F.lit(offset)) * F.lit(fscale)).cast("long"),
        ).alias("__qv"),
    )


def _int_l2_structs(sl, cents: list[list[int]]):
    """array<struct<d,c>> of exact-int64 squared L2 distances from the
    ``sl`` slice to each plan-literal centroid — array_min over it is
    the deterministic argmin (ties toward the smaller centroid id).

    Built as ONE transform-with-index over an array of single-node
    numpy literals (k+2 Py4J calls instead of ~4k Column
    constructions + k zip_with/aggregate lambda pairs): the
    per-centroid distance fold, the struct fields (d long, c int)
    and the argmin tie semantics are identical — the construction
    cost of this expression was the dominant driver-side term in
    every PQ/IVF plan (round-12 measurement: ~1 s per argmin at
    k=16, dim=64)."""
    cent_arr = F.array(*[F.lit(np.asarray(c, dtype="int64")) for c in cents])
    return F.transform(
        cent_arr,
        lambda c, i: F.struct(
            F.aggregate(
                F.zip_with(sl, c, lambda a, b: (a - b) * (a - b)),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v,
            ).alias("d"),
            i.alias("c"),
        ),
    )


def pq_train(
    corpus: DataFrame,
    m: int = 4,
    k: int = 8,
    n_iter: int = 1,
    dim: int | None = None,
    scale: int = 1 << 20,
    offset: float = 2.0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[int]]]:
    """Train the per-subspace codebooks (books[s][cid] = quantized
    centroid slice) — the bounded fitting pass ``pq_encode`` and
    ``pq_adc_knn`` consume. At 100 TB this runs on a deterministic
    sample; the returned literals parameterize the map-side encode."""
    dim = _require_dim(dim, vec_col)
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub = dim // m
    qv = _pq_quantized(corpus, dim, scale, offset, id_col, vec_col)
    return _pq_train_quantized(qv, m, k, n_iter, sub)


def _pq_train_quantized(
    qv: DataFrame, m: int, k: int, n_iter: int, sub: int
) -> list[list[list[int]]]:
    """The quantized-input training body shared by :func:`pq_train`
    (raw vectors) and :func:`ivf_pq_adc_knn` (coarse-cell RESIDUALS):
    deterministic hash-ranked seeds, then ``n_iter`` integer Lloyd
    rounds per subspace. ``qv`` must carry (__vid, __qv)."""
    from ..functions.hashing import KNUTH, MOD32

    # deterministic hash-ranked seed rows (the ivf_landmarks order)
    seed_rows = (
        qv.orderBy(
            ((F.col("__vid") * F.lit(KNUTH)) % F.lit(MOD32)).asc(),
            F.col("__vid").asc(),
        )
        .limit(k)
        .collect()
    )
    # books[s][cid] = centroid slice. Subspaces are INDEPENDENT (a
    # subspace's Lloyd round never reads another's centroids), so the
    # per-(subspace, round) update jobs batch into ONE job per round:
    # each round scans qv once and updates every subspace's centroids
    # (m*n_iter+1 jobs -> n_iter+1, and m scans -> 1 per round —
    # guide §2.4 "remove passes"). Per-(subspace, cid, dim) sums and
    # counts are grouped exactly as the per-subspace jobs grouped
    # them, so the trained books are bit-identical.
    books: list[list[list[int]]] = [
        [list(r["__qv"][s * sub : (s + 1) * sub]) for r in seed_rows]
        for s in range(m)
    ]
    for _ in range(n_iter):
        per_sub = F.array(
            *[
                F.struct(
                    F.lit(s).alias("s"),
                    F.array_min(
                        _int_l2_structs(
                            F.slice("__qv", s * sub + 1, sub), books[s]
                        )
                    )["c"].alias("cid"),
                    F.slice("__qv", s * sub + 1, sub).alias("sl"),
                )
                for s in range(m)
            ]
        )
        stats = (
            qv.select(F.explode(per_sub).alias("__x"))
            .select(
                F.col("__x.s").alias("__sub"),
                F.col("__x.cid").alias("__cid"),
                F.posexplode("__x.sl").alias("__dim", "__val"),
            )
            .groupBy("__sub", "__cid", "__dim")
            .agg(F.sum("__val").alias("__s"), F.count(F.lit(1)).alias("__n"))
            .collect()
        )
        new: list[dict[int, list[int]]] = [{} for _ in range(m)]
        for r in stats:
            vec = new[r["__sub"]].setdefault(r["__cid"], [0] * sub)
            # TRUNCATING int division (DuckDB BIGINT // semantics;
            # Python // floors — they differ on NEGATIVE sums, which
            # the ivf_pq_adc_knn RESIDUAL path produces; raw-vector
            # quantized sums are non-negative, so q188/q189 are
            # bit-identical either way)
            s_, n_ = r["__s"], r["__n"]
            vec[r["__dim"]] = -((-s_) // n_) if s_ < 0 else s_ // n_
        books = [
            [new[s].get(cid, c) for cid, c in enumerate(books[s])]
            for s in range(m)
        ]
    return books


def pq_encode_with_books(
    corpus: DataFrame,
    books: list[list[list[int]]],
    dim: int | None = None,
    scale: int = 1 << 20,
    offset: float = 2.0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The map-side encode pass against already-trained codebooks —
    one projection, no shuffle/join/UDF (see ``pq_encode``)."""
    m = len(books)
    dim = _require_dim(dim, vec_col)
    sub = dim // m
    qv = _pq_quantized(corpus, dim, scale, offset, id_col, vec_col)
    return _pq_encode_quantized(qv, books, sub, id_col)


def _pq_encode_quantized(
    qv: DataFrame,
    books: list[list[list[int]]],
    sub: int,
    id_col: str,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Encode a quantized (__vid, __qv) relation against trained books
    — the shared map-side projection behind :func:`pq_encode_with_books`
    and the residual encode inside :func:`ivf_pq_adc_knn`.
    ``extra_cols`` ride through unchanged (e.g. the coarse cell id)."""
    m = len(books)
    cols = [F.col("__vid").alias(id_col), *[F.col(c) for c in extra_cols]]
    dists = []
    for s in range(m):
        sl = F.slice("__qv", s * sub + 1, sub)
        best = F.array_min(_int_l2_structs(sl, books[s]))
        cols.append(best["c"].cast("int").alias(f"code_{s}"))
        dists.append(best["d"])
    total = dists[0]
    for d in dists[1:]:
        total = total + d
    cols.append(total.cast("long").alias("qdist"))
    return qv.select(*cols)


def pq_adc_knn(
    corpus: DataFrame,
    queries: DataFrame,
    k_neighbors: int = 10,
    m: int = 4,
    k: int = 8,
    n_iter: int = 1,
    dim: int | None = None,
    scale: int = 1 << 20,
    offset: float = 2.0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k search over PQ codes — the
    search half of the ``pq_encode`` story (Jegou et al. 2011 §IV):
    the corpus exists only as m small codes per vector; each query
    stays unquantized-to-codebook (asymmetric — only its int-grid
    quantization applies) and its distance to a corpus vector is the
    sum over subspaces of the distance to the ASSIGNED CENTROID,
    looked up rather than recomputed against the raw vector.

    Exactness: every per-subspace distance is an exact int64 fold of
    (query-slice - centroid) squares, the total one int64 sum, and
    the per-query top-k breaks ties on neighbor id — bit-replayable.

    Scale shape: the corpus side carries ONLY (id, m codes) — the 64
    floats never move; queries broadcast; each pair costs m array
    folds against plan-literal centroids (in a real serving path the
    per-query LUT has k*m entries and the fold is a table lookup —
    the plan-literal element_at here IS that lookup). One
    WindowGroupLimit per query for the top-k; no corpus shuffle."""
    books = pq_train(corpus, m, k, n_iter, dim, scale, offset, id_col, vec_col)
    dim = _require_dim(dim, vec_col)
    codes = pq_encode_with_books(
        corpus, books, dim=dim, scale=scale, offset=offset,
        id_col=id_col, vec_col=vec_col,
    ).drop("qdist")
    return pq_adc_from_codes(
        codes, queries, books, k_neighbors=k_neighbors, dim=dim,
        scale=scale, offset=offset, id_col=id_col, vec_col=vec_col,
        query_id_col=query_id_col,
    )


def pq_adc_from_codes(
    corpus_codes: DataFrame,
    queries: DataFrame,
    books: list[list[list[int]]],
    k_neighbors: int = 10,
    dim: int | None = None,
    scale: int = 1 << 20,
    offset: float = 2.0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """ADC top-k over a MATERIALIZED codes relation with FROZEN
    codebooks — the SERVING half of product quantization factored
    away from training/encoding (pq_adc_knn composes this after its
    own train+encode; the streaming codes store, streaming/pqcodes.py,
    calls it over codes read straight from disk). ``corpus_codes`` is
    (id, code_0..code_{m-1}); the floats never appear. Every distance
    is the sum of m exact-int64 centroid lookups against plan-literal
    books; queries quantize map-side and broadcast; one
    WindowGroupLimit; the codes relation never shuffles."""
    m = len(books)
    dim = _require_dim(dim, vec_col)
    sub = dim // m
    qq = _pq_quantized(queries, dim, scale, offset, query_id_col, vec_col).select(
        F.col("__vid").alias(query_id_col), F.col("__qv").alias("__qq")
    )
    cent_arrays = [
        F.array(*[F.lit(np.asarray(c, dtype="int64")) for c in books[s]])
        for s in range(m)
    ]
    dists = [
        F.aggregate(
            F.zip_with(
                F.slice("__qq", s * sub + 1, sub),
                F.element_at(cent_arrays[s], F.col(f"code_{s}") + 1),
                lambda a, b: (a - b) * (a - b),
            ),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )
        for s in range(m)
    ]
    total = dists[0]
    for d in dists[1:]:
        total = total + d
    scored = corpus_codes.crossJoin(F.broadcast(qq)).select(
        query_id_col,
        F.col(id_col).alias("neighbor_id"),
        total.cast("long").alias("adc_dist"),
    )
    return top_k_per_group(
        scored,
        k_neighbors,
        [query_id_col],
        F.col("adc_dist").asc(),
        F.col("neighbor_id").asc(),
        rank_col="rank",
    ).select(query_id_col, "neighbor_id", F.col("rank").cast("int").alias("rank"), "adc_dist")


def ivf_pq_adc_knn(
    corpus: DataFrame,
    queries: DataFrame,
    k_neighbors: int = 10,
    num_cells: int = 16,
    n_probe: int = 4,
    m: int = 4,
    k: int = 8,
    n_iter: int = 1,
    dim: int | None = None,
    scale: int = 1 << 20,
    offset: float = 2.0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF-PQ / IVFADC (Jegou et al. 2011 SV — the composition the two
    halves q188/q189 exist for, and the index FAISS actually ships):
    a coarse inverted file prunes WHICH vectors are scored, product
    quantization on the coarse RESIDUALS decides at what MEMORY cost,
    and asymmetric distance computation scores the survivors without
    ever touching the raw floats.

    Pipeline (all exact int64 on the shared quantization grid, so any
    engine replays it bit-for-bit):
      1. coarse codebook = ``num_cells`` hash-ranked corpus vectors
         (the ivf_landmarks order, quantized);
      2. every corpus vector joins its nearest coarse cell (map-side
         argmin over plan-literal centroids — NO crossJoin, no
         shuffle) and is reduced to its residual vs that centroid;
      3. per-subspace codebooks train on the residuals (textbook
         IVFADC — residuals concentrate around 0, so the same k
         centroids spend their resolution where the mass is) and the
         corpus residuals encode to m codes, map-side;
      4. each query probes its ``n_probe`` nearest cells, forms one
         residual PER PROBED CELL (the asymmetric part — the query is
         never code-quantized), and ADC-scores only rows in probed
         cells: distance = sum over subspaces of the exact int64
         distance from the query-residual slice to the row's ASSIGNED
         centroid (the k x m per-(query,cell) LUT, realized as
         plan-literal element_at lookups);
      5. per-query top-k, ties to the smaller neighbor id (same-code
         rows are indistinguishable to ADC by construction).

    Scale shape: the corpus-touching passes (assign, residual, encode)
    are each ONE map-side projection against plan literals; searching
    moves only (cell, m codes) per corpus row — n_probe/num_cells of
    the corpus, 12 bits of payload instead of 256 bytes of floats;
    probes broadcast (|queries| x n_probe rows); one WindowGroupLimit.
    Training collects k x dim/m integers per subspace (sample-train at
    real scale). This is the RAM-resident 100 TB ANN shape: recall
    knob = n_probe (measured in BASELINE.md), memory knob = m*log2(k)
    bits/vector, and both knobs turn without re-planning the scan."""
    from ..functions.hashing import KNUTH, MOD32

    dim = _require_dim(dim, vec_col)
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub = dim // m
    qv = _pq_quantized(corpus, dim, scale, offset, id_col, vec_col)
    # coarse codebook: hash-ranked quantized corpus rows (bounded
    # num_cells-row fitting collect, the ivf_landmarks recipe)
    lrows = (
        qv.orderBy(
            ((F.col("__vid") * F.lit(KNUTH)) % F.lit(MOD32)).asc(),
            F.col("__vid").asc(),
        )
        .limit(num_cells)
        .collect()
    )
    lcents = [list(r["__qv"]) for r in lrows]
    lcent_arr = F.array(
        *[F.lit(np.asarray(c, dtype="int64")) for c in lcents]
    )

    def _resid(vec_expr, cell_expr):
        return F.zip_with(
            vec_expr,
            F.element_at(lcent_arr, cell_expr + 1),
            lambda a, b: a - b,
        )

    assigned = qv.select(
        "__vid",
        F.array_min(_int_l2_structs(F.col("__qv"), lcents))["c"].alias("__cell"),
        "__qv",
    ).select(
        "__vid", "__cell", _resid(F.col("__qv"), F.col("__cell")).alias("__qv")
    )
    # persist the TRAINING input across the bounded Lloyd jobs (seeds
    # collect + one assignment/update job per subspace each re-derive
    # it otherwise — the quantize+coarse-argmin+residual chain is the
    # expensive part of this plan, measured 24 s -> ~its q188 share at
    # sf0.1 with the cache). Training at real scale runs on a SAMPLE,
    # so this persist is sample-sized; the full-corpus ENCODE below is
    # one uncached pass either way. Unpersisted as soon as the books
    # are fitted — training jobs run eagerly inside _pq_train_quantized.
    train_in = assigned.select("__vid", "__qv").persist()
    try:
        books = _pq_train_quantized(train_in, m, k, n_iter, sub)
    finally:
        train_in.unpersist(blocking=False)
    codes = _pq_encode_quantized(
        assigned, books, sub, "neighbor_id", extra_cols=("__cell",)
    ).drop("qdist")

    qq = _pq_quantized(queries, dim, scale, offset, query_id_col, vec_col)
    probe_structs = F.array_sort(_int_l2_structs(F.col("__qv"), lcents))
    probes = (
        qq.select(
            F.col("__vid").alias(query_id_col),
            "__qv",
            F.explode(F.slice(probe_structs, 1, n_probe)).alias("__p"),
        )
        .select(
            query_id_col,
            F.col("__p")["c"].alias("__cell"),
            _resid(F.col("__qv"), F.col("__p")["c"]).alias("__qrv"),
        )
    )
    cent_arrays = [
        F.array(*[F.lit(np.asarray(c, dtype="int64")) for c in books[s]])
        for s in range(m)
    ]
    dists = [
        F.aggregate(
            F.zip_with(
                F.slice("__qrv", s * sub + 1, sub),
                F.element_at(cent_arrays[s], F.col(f"code_{s}") + 1),
                lambda a, b: (a - b) * (a - b),
            ),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )
        for s in range(m)
    ]
    total = dists[0]
    for d in dists[1:]:
        total = total + d
    scored = codes.join(F.broadcast(probes), "__cell").select(
        query_id_col,
        "neighbor_id",
        total.cast("long").alias("adc_dist"),
    )
    return top_k_per_group(
        scored,
        k_neighbors,
        [query_id_col],
        F.col("adc_dist").asc(),
        F.col("neighbor_id").asc(),
        rank_col="rank",
    ).select(
        query_id_col,
        "neighbor_id",
        F.col("rank").cast("int").alias("rank"),
        "adc_dist",
    )


def ivf_pq_refine_knn(
    corpus: DataFrame,
    queries: DataFrame,
    k_neighbors: int = 10,
    k_cand: int = 50,
    num_cells: int = 16,
    n_probe: int = 4,
    m: int = 4,
    k: int = 8,
    n_iter: int = 1,
    dim: int | None = None,
    scale: int = 1 << 20,
    offset: float = 2.0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF-PQ with an exact re-rank tail — FAISS's ``refine`` stage
    (IndexRefineFlat over an IVFADC base): the lossy 12-bit ADC
    ranking shortlists ``k_cand`` candidates per query, their EXACT
    vectors are fetched by id (ONE candidate-broadcast equi-join
    against the corpus — the only time the floats move, and only
    |queries| x k_cand of them), and the final top-``k_neighbors``
    re-ranks on the exact int64 squared L2 of the shared quantization
    grid. This recovers the recall the code-compressed ADC ordering
    loses among near-ties (q190's documented non-monotone-recall
    caveat) at a bounded exact-scoring cost — the recall knob that
    turns WITHOUT raising n_probe (both stages see only probed
    cells, so the probe ceiling still binds; measured in
    BASELINE.md).

    Exactness: the shortlist is ivf_pq_adc_knn's bit-replayable
    ranking; the re-rank distance is an exact int64 fold over the
    full ``dim`` grid values; ties to the smaller neighbor id.
    Returns (query_id, neighbor_id, rank, exact_dist, adc_dist) —
    adc_dist rides along as shortlist provenance.

    Scale shape: everything q190 says, plus one fetch join where the
    |queries| x k_cand shortlist BROADCASTS into a single corpus scan
    (the corpus never shuffles; with a cell-partitioned store the
    fetch prunes to probed cells on disk) and one
    |queries| x k_cand re-scoring projection. At serving scale this
    is the standard two-tier memory story: codes stay RAM-resident,
    exact vectors page in only for the shortlist."""
    cands = ivf_pq_adc_knn(
        corpus,
        queries,
        k_neighbors=k_cand,
        num_cells=num_cells,
        n_probe=n_probe,
        m=m,
        k=k,
        n_iter=n_iter,
        dim=dim,
        scale=scale,
        offset=offset,
        id_col=id_col,
        vec_col=vec_col,
        query_id_col=query_id_col,
    ).select(query_id_col, "neighbor_id", "adc_dist")
    dim = _require_dim(dim, vec_col)
    qv = _pq_quantized(corpus, dim, scale, offset, id_col, vec_col)
    qq = _pq_quantized(
        queries, dim, scale, offset, query_id_col, vec_col
    ).select(F.col("__vid").alias(query_id_col), F.col("__qv").alias("__qq"))
    fetched = qv.join(
        F.broadcast(cands), qv["__vid"] == cands["neighbor_id"]
    ).select(query_id_col, "neighbor_id", "adc_dist", F.col("__qv").alias("__cv"))
    exact = F.aggregate(
        F.zip_with(
            F.col("__qq"), F.col("__cv"), lambda a, b: (a - b) * (a - b)
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    rescored = fetched.join(F.broadcast(qq), query_id_col).select(
        query_id_col,
        "neighbor_id",
        exact.cast("long").alias("exact_dist"),
        "adc_dist",
    )
    return top_k_per_group(
        rescored,
        k_neighbors,
        [query_id_col],
        F.col("exact_dist").asc(),
        F.col("neighbor_id").asc(),
        rank_col="rank",
    ).select(
        query_id_col,
        "neighbor_id",
        F.col("rank").cast("int").alias("rank"),
        "exact_dist",
        "adc_dist",
    )
