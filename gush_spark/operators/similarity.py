"""Embedding similarity search — brute-force cosine top-k + LSH-bucketed
ANN + embedding near-dup pairs.

The 100 TB-pipeline companion to text dedup: embedding-space retrieval
and near-duplicate detection over an ``array<float>`` column. All three
operators are pure JVM expressions (``zip_with`` + sequential
``aggregate`` fold) — no Python, no UDF, codegen throughout.

Scale design:
- brute-force top-k is the *correctness baseline*: a broadcast of the
  (small) query set against the full corpus — one pass, no shuffle on
  the corpus side, ``row_number`` per query bounded by k. Never run it
  corpus × corpus at 10^12 rows.
- the scale path buckets vectors by sign-bit LSH (axis-aligned random
  hyperplanes — here the first ``n_bits`` coordinate signs, fixed and
  deterministic): the self-join shuffles on the bucket id, so only
  bucket-mates are compared. Recall is traded for the 2^n_bits fan-in
  reduction; multi-probe (flipping one bit) is the standard recall fix.
- the cosine fold is sequential left-to-right in double precision =>
  bit-identical to DuckDB's list_reduce oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Sequential double-precision dot product (deterministic fold
    order — matches the oracle's list_reduce exactly)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """One-shot cosine — THREE folds per evaluation. Never use this in a
    pair join: project ``l2_norm`` per vector BEFORE the join and divide
    ``dot`` by the norm product instead (``cosine_with_norms``), which
    is bit-identical (same fold, same sqrt, same multiply order) but
    amortizes the two norm folds to once per vector instead of once per
    pair."""
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def cosine_with_norms(a: Column, b: Column, norm_a: Column, norm_b: Column) -> Column:
    """Cosine from a per-pair dot and per-vector precomputed norms.
    Bit-identical to ``cosine(a, b)`` when norm_x = l2_norm(x): the
    expression tree below the division is unchanged, only evaluated
    earlier (in a pre-join projection) and reused across pairs."""
    return dot(a, b) / (norm_a * norm_b)


def sign_bucket(vec: Column, n_bits: int = 8) -> Column:
    """Deterministic LSH bucket: bit i set iff coordinate i > 0 (random
    projection onto the first n_bits axis-aligned hyperplanes)."""
    bucket = F.lit(0)
    for i in range(n_bits):
        bucket = bucket + F.when(
            F.element_at(vec, i + 1) > 0, F.lit(1 << i)
        ).otherwise(F.lit(0))
    return bucket.cast("int")


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """Deterministic per-query top-k: rank by (score desc, neighbor_id)
    and keep k. Shared tail of every ANN variant — the per-query
    partition is bounded by that query's candidate set, never the
    corpus."""
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k of each query vector against the corpus.

    ``broadcast(queries)`` keeps the corpus un-shuffled: every executor
    scores its partition against all queries, and only (query, k) rows
    survive the per-query row_number — the shuffle moves candidate rows,
    not the corpus."""
    from pyspark.sql import Window

    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        l2_norm(F.col(vec_col)).alias("q_norm"),
    )
    v = vectors.select(
        F.col(id_col), F.col(vec_col), l2_norm(F.col(vec_col)).alias("v_norm")
    )
    scored = (
        v.join(F.broadcast(q), F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            F.round(
                cosine_with_norms(
                    F.col("q_vec"), F.col(vec_col), F.col("q_norm"), F.col("v_norm")
                ),
                6,
            ).alias("score"),
        )
    )
    return _rank_topk(scored, k)


def lsh_topk(
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_bits: int = 8,
    multiprobe: bool = False,
) -> DataFrame:
    """ANN top-k restricted to the query's sign-bit LSH bucket — the
    scale path (bucketed self-join instead of corpus × queries).

    ``multiprobe=True`` additionally probes every bucket at Hamming
    distance 1 (one flipped hyperplane) — the standard recall fix: a
    true near neighbor just across one hyperplane lands in a bucket
    differing by exactly that bit. The corpus is bucketed once and
    never re-shuffled; only the (tiny, broadcast) query side fans out
    ×(n_bits+1). Each corpus vector lives in exactly one bucket and
    probe buckets are distinct, so no pair is scored twice."""
    bucketed = vectors.withColumn(
        "bucket", sign_bucket(F.col(vec_col), n_bits)
    ).withColumn("v_norm", l2_norm(F.col(vec_col)))
    q0 = bucketed.join(
        queries.select(F.col(id_col).alias("query_id")),
        bucketed[id_col] == F.col("query_id"),
    ).select(
        "query_id", F.col(vec_col).alias("q_vec"), F.col("v_norm").alias("q_norm"),
        F.col("bucket").alias("home_bucket"),
    )
    if multiprobe:
        probes = F.array(
            F.col("home_bucket"),
            *[F.col("home_bucket").bitwiseXOR(F.lit(1 << i)) for i in range(n_bits)],
        )
        q = q0.select(
            "query_id", "q_vec", "q_norm", F.explode(probes).alias("bucket")
        )
    else:
        q = q0.withColumnRenamed("home_bucket", "bucket")
    scored = (
        bucketed.join(F.broadcast(q), on="bucket")
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            F.round(
                cosine_with_norms(
                    F.col("q_vec"), F.col(vec_col), F.col("q_norm"), F.col("v_norm")
                ),
                6,
            ).alias("score"),
        )
    )
    return _rank_topk(scored, k)


def lsh_topk_multiprobe(
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_bits: int = 8,
) -> DataFrame:
    """One-flip multi-probe ANN — ``lsh_topk(multiprobe=True)``."""
    return lsh_topk(vectors, queries, id_col, vec_col, k, n_bits, multiprobe=True)


def _ivf_search(
    labeled: DataFrame,
    reps: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    n_probe: int,
) -> DataFrame:
    """IVF probe + in-cell exact search over a corpus labeled by cell in
    ``_cell``: queries score the (tiny, broadcast) representatives, keep
    their best ``n_probe`` cells, then rank exact cosine against only
    those cells' members (one cell-membership semi-join — fan-in is the
    probed fraction of the corpus, never all of it)."""
    from pyspark.sql import Window

    reps = reps.withColumn("rep_norm", l2_norm(F.col("rep_vec")))
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        l2_norm(F.col(vec_col)).alias("q_norm"),
    )
    probe_w = Window.partitionBy("query_id").orderBy(
        F.col("rep_score").desc(), F.col("cell")
    )
    probed = (
        q.join(F.broadcast(reps))
        .select(
            "query_id", "q_vec", "q_norm", "cell",
            F.round(
                cosine_with_norms(
                    F.col("q_vec"), F.col("rep_vec"), F.col("q_norm"), F.col("rep_norm")
                ),
                6,
            ).alias("rep_score"),
        )
        .withColumn("_pr", F.row_number().over(probe_w))
        .filter(F.col("_pr") <= n_probe)
        .select("query_id", "q_vec", "q_norm", "cell")
    )
    v = labeled.withColumn("v_norm", l2_norm(F.col(vec_col)))
    scored = (
        v.join(F.broadcast(probed), v["_cell"] == probed["cell"])
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            F.round(
                cosine_with_norms(
                    F.col("q_vec"), F.col(vec_col), F.col("q_norm"), F.col("v_norm")
                ),
                6,
            ).alias("score"),
        )
    )
    return _rank_topk(scored, k)


# centroid coordinates are quantized to integers for the k-means update:
# integer addition is exactly associative/commutative, so the per-cell
# sums — and therefore the trained centroids — are bit-identical under
# ANY partitioning / execution order (and to the DuckDB oracle). Floats
# summed in shuffle order would make the quantizer nondeterministic.
KMEANS_QUANT = 1 << 20


def kmeans_cells(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 10,
    iters: int = 2,
    assign_quantized: bool = False,
    spread: int | None = 0,
) -> tuple[DataFrame, DataFrame]:
    """Deterministic Lloyd's k-means coarse quantizer → (assignments
    ``(id, cell)``, centroids ``(cell, rep_vec)``).

    Reproducibility contract (the reason this isn't MLlib KMeans):
    - init: the ``n_cells`` lowest-id vectors (fixed "seed"), cell id =
      the init vector's id;
    - assignment: exact cosine, ties broken by cell id — pure function
      of the centroids;
    - update: coordinates are quantized (``floor(x * KMEANS_QUANT)`` as
      long) and the new centroid is ``(sum_long / count) / KMEANS_QUANT``
      — the long sum is order-independent, so repeated runs, different
      partitionings, and the DuckDB oracle all produce the same
      centroids bit-for-bit;
    - fixed ``iters`` (no convergence test → no data-dependent plan).

    Scale shape per iteration: one broadcast join (corpus × n_cells
    reps) + one posexplode/groupBy(cell, dim) agg — shuffle rows =
    n_cells × dim, map-side combined. Train on a sample at crawl scale;
    assignment of the full corpus is the same broadcast join.

    ``assign_quantized=True`` swaps the assignment SCORE from the
    interpreted double-cosine fold to a fully-codegen integer dot:
    ``Σ_i floor(x_i·Q) · floor(c_i/|c|·Q)`` over an exploded
    (pos-keyed) broadcast join, argmax'd per vector with ``max_by`` —
    monotone in cosine up to the 2^-20 quantization step, and the LONG
    sum is order-independent so the DuckDB oracle can fold it
    sequentially and still match bit-for-bit. Interpreted
    ``aggregate``/``zip_with`` lambdas per (vector × cell) pair are the
    dominant cost of a large-k quantizer in one JVM (per-element
    boxing); the quantized path keeps the whole assignment inside
    whole-stage codegen. The two paths may place boundary vectors in
    different (equally near) cells, so pick ONE per pipeline —
    SemDeDup-style large-k partitioning uses the quantized path, the
    IVF top-k query keeps the exact-cosine path."""
    from pyspark.sql import Window

    from gush_spark.operators.dedup import _spread

    vectors = _spread(vectors, spread)
    qvec = F.transform(
        F.col(vec_col), lambda x: F.floor(x.cast("double") * KMEANS_QUANT).cast("long")
    )
    base = vectors.select(
        F.col(id_col), F.col(vec_col), qvec.alias("_qvec"),
        l2_norm(F.col(vec_col)).alias("_vnorm"),
    ).persist()
    spark = vectors.sparkSession

    def _pin(cdf: DataFrame) -> DataFrame:
        """Materialize the (n_cells × dim) centroid frame to the driver
        and rebuild it as a literal DataFrame. Values are bit-identical
        (doubles round-trip exactly through collect); what changes is
        the PLAN: without this, iteration i's centroids keep iteration
        i-1's whole training subtree in their lineage, and every
        downstream action (assignment join, the two uses in the probe
        search, bench's warm re-run) replays the full training DAG.
        Centroids are the textbook thing to pin — a few KB."""
        rows = [(r[0], list(r[1])) for r in cdf.collect()]
        return spark.createDataFrame(rows, cdf.schema)  # keep id_col's type

    cents = _pin(
        base.orderBy(F.col(id_col))
        .limit(n_cells)
        .select(
            F.col(id_col).alias("cell"),
            F.col(vec_col).cast("array<double>").alias("c_vec"),
        )
    )
    assign_w = Window.partitionBy(id_col).orderBy(
        F.col("_score").desc(), F.col("cell")
    )

    def _assign(cents_df: DataFrame) -> DataFrame:
        if not assign_quantized:
            c = cents_df.withColumn("c_norm", l2_norm(F.col("c_vec")))
            return (
                base.join(F.broadcast(c))
                .select(
                    F.col(id_col), "_qvec", "cell",
                    cosine_with_norms(
                        F.col(vec_col), F.col("c_vec"),
                        F.col("_vnorm"), F.col("c_norm"),
                    ).alias("_score"),
                )
                .withColumn("_rn", F.row_number().over(assign_w))
                .filter(F.col("_rn") == 1)
                .select(F.col(id_col), "_qvec", "cell")
            )
        # codegen path: normalized centroid coords quantized to longs
        # (n_cells × dim rows — the transform lambda runs interpreted
        # over those few rows only), exploded vector coords joined on
        # pos, integer products summed map-side, argmax via max_by on
        # (score, -cell) — highest score, ties to smallest cell
        cn = cents_df.select(
            "cell",
            F.posexplode(
                F.transform(
                    F.col("c_vec"),
                    lambda x: F.floor(
                        x / l2_norm(F.col("c_vec")) * F.lit(KMEANS_QUANT)
                    ),
                )
            ).alias("pos", "cnq"),
        )
        ex = base.select(F.col(id_col), F.posexplode("_qvec").alias("pos", "aq"))
        best = (
            ex.join(F.broadcast(cn), on="pos")
            .groupBy(id_col, "cell")
            .agg(F.sum(F.col("aq") * F.col("cnq")).alias("_score"))
            .groupBy(id_col)
            .agg(
                F.max_by(
                    "cell", F.struct(F.col("_score"), (-F.col("cell")).alias("_nc"))
                ).alias("cell")
            )
        )
        return base.select(F.col(id_col), "_qvec").join(best, on=id_col)

    assigned = None
    for _ in range(iters):
        prev = assigned
        # persist each round's assignment: the _pin collect right below
        # materializes it into cache, so the next consumer (the update
        # here, lab/edge joins downstream) reads it instead of replaying
        # the N x k scoring join
        assigned = _assign(cents).persist()
        if prev is not None:
            prev.unpersist()
        dim_sums = (
            assigned.select("cell", F.posexplode("_qvec").alias("pos", "qv"))
            .groupBy("cell", "pos")
            .agg(F.sum("qv").alias("s"), F.count(F.lit(1)).alias("n"))
        )
        cents = _pin(
            dim_sums.groupBy("cell").agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "s", "n"))),
                    lambda t: (t["s"].cast("double") / t["n"]) / F.lit(KMEANS_QUANT),
                ).alias("c_vec")
            )
        )
    assignments = assigned.select(F.col(id_col), F.col("cell"))
    centroids = cents.select("cell", F.col("c_vec").alias("rep_vec"))
    return assignments, centroids


def kmeans_ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_probe: int = 2,
    n_cells: int = 10,
    iters: int = 2,
) -> DataFrame:
    """IVF ANN with a TRAINED coarse quantizer: cells and their centroid
    representatives come from deterministic k-means (``kmeans_cells``)
    instead of a pre-existing label column (centroids track the data's
    density, so probing the best ``n_probe`` cells recovers most true
    neighbors; recall against brute force is pinned in
    tests/test_ann.py)."""
    labeled, centroids = kmeans_ivf_build(
        vectors, id_col, vec_col, n_cells=n_cells, iters=iters
    )
    return kmeans_ivf_query(
        labeled, centroids, queries, id_col, vec_col, k=k, n_probe=n_probe
    )


def kmeans_ivf_build(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    n_cells: int = 10,
    iters: int = 2,
) -> tuple[DataFrame, DataFrame]:
    """The write-once half of ``kmeans_ivf_topk``: train the quantizer
    and label the corpus. Returns ``(labeled, centroids)`` — at real
    scale ``labeled`` is the corpus materialized cell-partitioned (the
    one id-keyed join that co-locates vector with cell) and
    ``centroids`` is a driver-pinned KB table; both amortize over every
    query, so the bench times build and probe separately."""
    assignments, centroids = kmeans_cells(vectors, id_col, vec_col, n_cells, iters)
    labeled = vectors.join(assignments.withColumnRenamed("cell", "_cell"), on=id_col)
    return labeled, centroids


def kmeans_ivf_query(
    labeled: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    k: int = 5,
    n_probe: int = 2,
) -> DataFrame:
    """Probe half of ``kmeans_ivf_topk`` against a built (possibly
    materialized-and-reloaded) index: broadcast-score the centroids,
    keep ``n_probe`` cells, exact cosine within those cells only."""
    return _ivf_search(labeled, centroids, queries, id_col, vec_col, k, n_probe)


def cosine_near_dup_pairs(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.8,
    n_bits: int = 8,
    max_bucket: int | None = None,
    capped_stats: dict | None = None,
) -> DataFrame:
    """Embedding near-duplicate pairs (id_a < id_b, cosine ≥ threshold)
    within the same LSH bucket — the embedding analog of MinHash+verify.

    The bucket equi-join is the scale trick: shuffle keys are bucket
    ids, so the quadratic blowup is per-bucket, not global. Per-vector
    norms are projected BEFORE the self-join (one fold per vector, not
    two extra folds per pair). Bucket skew (dense regions) is handled by
    ``max_bucket``: oversize buckets are dropped from the join with
    eager accounting (operators/skew.py) — pass None for the exact
    oracle-checked form."""
    from gush_spark.operators.skew import cap_hot_buckets

    bucketed = vectors.select(
        F.col(id_col),
        F.col(vec_col),
        sign_bucket(F.col(vec_col), n_bits).alias("bucket"),
        l2_norm(F.col(vec_col)).alias("norm"),
    )
    bucketed = cap_hot_buckets(bucketed, ["bucket"], max_bucket, capped_stats)
    a = bucketed.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("vec_a"),
        F.col("norm").alias("norm_a"), "bucket",
    )
    b = bucketed.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vec_b"),
        F.col("norm").alias("norm_b"), "bucket",
    )
    return (
        a.join(b, on="bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(
                cosine_with_norms(
                    F.col("vec_a"), F.col("vec_b"), F.col("norm_a"), F.col("norm_b")
                ),
                6,
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def cosine_contamination_report(
    corpus: DataFrame,
    bench: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    threshold: float = 0.9,
) -> DataFrame:
    """Semantic (embedding-space) benchmark decontamination — the
    companion to the n-gram overlap gate (operators/decontaminate.py):
    paraphrased or lightly-reworded benchmark items share few exact
    n-grams but sit next to the original in embedding space. Per corpus
    vector: the max cosine to ANY benchmark vector, and a contaminated
    flag at ``threshold``.

    Scale shape — the decontamination invariant holds here too: the
    benchmark side is broadcast (eval sets are thousands of rows; the
    corpus is the 10^12 side), scoring is map-only over the corpus scan
    plus one per-id max aggregation (map-side combined: the bench-many
    rows per id reduce to one partial before the only exchange, which
    carries ``(id, cos)`` — the corpus is never re-shuffled by vector
    payload). The bench join is LEFT outer on a literal-true condition,
    so an EMPTY benchmark degenerates to one null row per vector
    instead of an empty inner cross join — vectors with nothing to
    compare against keep ``max_cos`` null and ``contaminated`` false
    (report, don't guess) with no corpus-vs-corpus rejoin. Per-vector
    norms are folded once per side, not per pair. Cosines are rounded
    to 6dp before the max/threshold so the flag is reproducible across
    engines (max of identical doubles is order-independent).
    """
    c = corpus.select(
        F.col(id_col), F.col(vec_col), l2_norm(F.col(vec_col)).alias("_cn")
    )
    b = bench.select(
        F.col(vec_col).alias("_bvec"), l2_norm(F.col(vec_col)).alias("_bn")
    )
    scored = c.join(F.broadcast(b), F.lit(True), "left").select(
        id_col,
        F.round(
            cosine_with_norms(
                F.col(vec_col), F.col("_bvec"), F.col("_cn"), F.col("_bn")
            ),
            6,
        ).alias("_cos"),
    )
    return scored.groupBy(id_col).agg(F.max("_cos").alias("max_cos")).select(
        id_col,
        "max_cos",
        F.coalesce(F.col("max_cos") >= F.lit(threshold), F.lit(False)).alias(
            "contaminated"
        ),
    )


def semantic_dup_clusters(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    threshold: float = 0.8,
    n_cells: int = 10,
    iters: int = 2,
    max_iterations: int = 20,
    spread: int | None = 0,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """SemDeDup-style semantic duplicate clustering (Abbas et al.,
    *SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication*, 2023): k-means-partition the embedding space
    (the deterministic quantizer from ``kmeans_cells``), compare
    vectors pairwise ONLY within a cell, connect pairs with cosine ≥
    ``threshold``, and return connected components.

    Returns ``(clusters (id, sem_cluster_id), assignments (id, cell),
    centroids (cell, rep_vec))`` — assignments/centroids ride along so
    the keep-policy can score members against their cell center
    without re-training.

    Scale: the quadratic pair stage is per-CELL, not global — exactly
    the SemDeDup argument: k-means with large k makes within-cluster
    all-pairs tractable (their 100M-doc run used k≈11k). The pair join
    shuffles on cell id; per-vector norms fold once before the join;
    components come from the shared min-label propagation
    (operators/dedup.min_label_components). ``threshold`` compares
    6dp-rounded cosines — reproducible across engines.
    """
    from gush_spark.operators.dedup import min_label_components

    edges, assignments, centroids = semantic_edges(
        vectors, id_col, vec_col,
        threshold=threshold, n_cells=n_cells, iters=iters, spread=spread,
    )
    clusters = min_label_components(
        vectors, id_col, edges, max_iterations=max_iterations
    ).withColumnRenamed("cluster_id", "sem_cluster_id")
    return clusters, assignments, centroids


def semantic_edges(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    threshold: float = 0.8,
    n_cells: int = 10,
    iters: int = 2,
    spread: int | None = 0,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The within-cell similarity-edge stage of ``semantic_dup_clusters``
    (factored out so the plan-shape audit can pin the pair join's scale
    shape — cell-keyed equi-join, never a global cross join — without
    running the component loop). Returns ``(edges (id_a, id_b),
    assignments (id, cell), centroids (cell, rep_vec))``."""
    assignments, centroids = kmeans_cells(
        vectors, id_col, vec_col, n_cells=n_cells, iters=iters,
        assign_quantized=True, spread=spread,
    )
    # (id, cell) pairs — persisted because BOTH the pair join here and
    # the keep-policy's centroid scoring read them, and each read would
    # otherwise replay the N×k assignment cosine join (at real scale
    # assignments would be materialized to a table between stages)
    assignments = assignments.persist()
    v = vectors.select(
        F.col(id_col), F.col(vec_col), l2_norm(F.col(vec_col)).alias("_n")
    ).join(assignments, id_col)
    a = v.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"),
        F.col("_n").alias("_na"), "cell",
    )
    b = v.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"),
        F.col("_n").alias("_nb"), "cell",
    )
    edges = (
        a.join(b, on="cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(
                cosine_with_norms(
                    F.col("_va"), F.col("_vb"), F.col("_na"), F.col("_nb")
                ),
                6,
            ).alias("_cos"),
        )
        .filter(F.col("_cos") >= F.lit(threshold))
        .select("id_a", "id_b")
    )
    return edges, assignments, centroids


def semantic_canonical_vecs(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    threshold: float = 0.8,
    n_cells: int = 10,
    iters: int = 2,
    spread: int | None = 0,
) -> DataFrame:
    """The SemDeDup keep policy over ``semantic_dup_clusters``: per
    semantic cluster keep ONE representative — the member with the
    LOWEST cosine to its k-means cell centroid (the paper's
    "low similarity to centroid" choice: the most peripheral copy
    carries the most residual information), ties broken by smallest id.
    Output: ``(sem_cluster_id, id, score, n_members)`` where score is
    the (negated-for-argmax) centroid cosine — one row per cluster.

    Composition: clusters + centroid scores + dedup.best_per_cluster —
    the same WindowGroupLimit keep-best machinery as the text-side
    ``canonical_best_docs``."""
    from gush_spark.operators.dedup import best_per_cluster

    clusters, assignments, centroids = semantic_dup_clusters(
        vectors, id_col, vec_col,
        threshold=threshold, n_cells=n_cells, iters=iters, spread=spread,
    )
    cents = centroids.withColumn("_cnorm", l2_norm(F.col("rep_vec")))
    scored = (
        vectors.select(
            F.col(id_col), F.col(vec_col), l2_norm(F.col(vec_col)).alias("_n")
        )
        .join(assignments, id_col)
        .join(F.broadcast(cents), on="cell")
        .select(
            id_col,
            (
                -F.round(
                    cosine_with_norms(
                        F.col(vec_col), F.col("rep_vec"),
                        F.col("_n"), F.col("_cnorm"),
                    ),
                    6,
                )
            ).alias("neg_centroid_cos"),
        )
    )
    out = best_per_cluster(
        clusters.withColumnRenamed("sem_cluster_id", "cluster_id"),
        scored, id_col, "neg_centroid_cos",
    )
    return out.withColumnRenamed("cluster_id", "sem_cluster_id")


def label_centroid_sums(
    vectors: DataFrame,
    group_col: str = "label",
    vec_col: str = "embedding",
    *,
    scale_bits: int = 20,
) -> DataFrame:
    """Per-group quantized centroid SUM vectors: each coordinate is
    ``Σ floor(x · 2^scale_bits)`` as BIGINT — exact in any accumulation
    order, unlike a float mean (the same quantize-first trick as the
    PQ/k-means training path, operators/pq.py). Cosine is
    scale-invariant, so downstream similarity never needs the division
    by n: the sum vector IS the centroid direction.

    One posexplode + (group, pos)-keyed agg — the only exchange carries
    (group, pos, partial long sums); vectors never shuffle whole."""
    q = F.floor(
        F.col("x").cast("double") * F.lit(float(1 << scale_bits))
    ).cast("long")
    per_dim = (
        vectors.select(group_col, F.posexplode(F.col(vec_col)).alias("pos", "x"))
        .withColumn("q", q)
        .groupBy(group_col, "pos")
        .agg(F.sum("q").alias("s"), F.count(F.lit(1)).alias("cnt"))
    )
    return per_dim.groupBy(group_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "s"))),
            lambda st: st["s"],
        ).alias("csum"),
        F.max("cnt").cast("long").alias("n"),
    )


def centroid_similarity_map(
    vectors: DataFrame,
    group_col: str = "label",
    vec_col: str = "embedding",
    *,
    scale_bits: int = 20,
    round_dp: int = 6,
) -> DataFrame:
    """Corpus cartography: pairwise cosine between group centroids
    (source/label/cluster) — "which strata cover the same region of
    embedding space" read alongside the cluster-topic report when
    choosing mixture weights (near-identical strata are redundant
    coverage; distant ones are diversity).

    The pair join is |groups|² over rows holding one BIGINT array each
    — strata counts (languages, sources, clusters) are thousands at
    most, so this is KBs joined after the single corpus pass of
    ``label_centroid_sums``. Cosine folds sequentially in double over
    the quantized sums (deterministic; rounded to ``round_dp``), and
    cosine's scale invariance makes sum vs mean irrelevant."""
    sums = label_centroid_sums(
        vectors, group_col, vec_col, scale_bits=scale_bits
    )
    a = sums.select(
        F.col(group_col).alias("group_a"),
        F.col("csum").alias("_ca"),
        F.col("n").alias("n_a"),
    )
    b = sums.select(
        F.col(group_col).alias("group_b"),
        F.col("csum").alias("_cb"),
        F.col("n").alias("n_b"),
    )
    pairs = a.crossJoin(b).filter(F.col("group_a") < F.col("group_b"))
    cos = dot(F.col("_ca"), F.col("_cb")) / (
        l2_norm(F.col("_ca")) * l2_norm(F.col("_cb"))
    )
    return pairs.select(
        "group_a",
        "group_b",
        "n_a",
        "n_b",
        F.round(cos, round_dp).alias("cos_sim"),
    )


def hard_negatives(
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 5,
) -> DataFrame:
    """Retrieval-training prep: per query, the top-``k`` most similar
    corpus vectors with a DIFFERENT label — the "hard negatives"
    (near in embedding space, wrong class) that contrastive/ranking
    losses need to learn decision boundaries; random negatives are too
    easy to carry gradient.

    Same plan as ``brute_force_topk`` (queries broadcast, corpus never
    shuffled, per-query rank bounded by k) with the label-mismatch
    predicate folded into the broadcast join — same-label rows are
    dropped before scoring ranks, not after, so the k slots are all
    negatives. Swap the scoring stage for the LSH/IVF variants when
    the corpus outgrows brute force; the label filter composes
    unchanged."""
    from pyspark.sql import Window  # noqa: F401  (rank helper below)

    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        F.col(label_col).alias("q_label"),
        l2_norm(F.col(vec_col)).alias("q_norm"),
    )
    v = vectors.select(
        F.col(id_col),
        F.col(vec_col),
        F.col(label_col),
        l2_norm(F.col(vec_col)).alias("v_norm"),
    )
    scored = (
        v.join(
            F.broadcast(q),
            (F.col(id_col) != F.col("query_id"))
            & (F.col(label_col) != F.col("q_label")),
        )
        .select(
            "query_id",
            F.col("q_label").alias("query_label"),
            F.col(id_col).alias("neighbor_id"),
            F.col(label_col).alias("neighbor_label"),
            F.round(
                cosine_with_norms(
                    F.col("q_vec"), F.col(vec_col),
                    F.col("q_norm"), F.col("v_norm"),
                ),
                6,
            ).alias("score"),
        )
    )
    return _rank_topk(scored, k)


def cross_lingual_pairs(
    vectors: DataFrame,
    docs: DataFrame,
    *,
    vec_id_col: str = "vec_id",
    doc_id_col: str = "doc_id",
    lang_col: str = "lang",
    threshold: float = 0.3,
    n_bits: int = 8,
) -> DataFrame:
    """Bitext-style mining: embedding near-dup pairs whose documents
    carry DIFFERENT language tags — semantically-aligned cross-language
    page pairs (translations, mirrored localized sites), the raw
    material for parallel-corpus extraction (the CCMatrix/LASER-margin
    recipe's candidate stage, with cosine standing in for the margin
    score).

    Composition, not new machinery: the sign-bucket LSH pair stage
    (corpus shuffles on bucket id only) + two id-keyed equi-joins
    against the map-only (id, lang) projection + the lang-mismatch
    filter. Same-language near-dups are the DEDUP signal; different-
    language ones are the ALIGNMENT signal — one pair stage serves
    both."""
    pairs = cosine_near_dup_pairs(
        vectors, vec_id_col, "embedding", threshold=threshold, n_bits=n_bits
    )
    lang = docs.select(
        F.col(doc_id_col).alias("_lid"), F.col(lang_col).alias("_lang")
    )
    return (
        pairs.join(lang, pairs.id_a == lang._lid)
        .select("id_a", "id_b", "cos_sim", F.col("_lang").alias("lang_a"))
        .join(lang, F.col("id_b") == lang._lid)
        .select("id_a", "id_b", "lang_a", F.col("_lang").alias("lang_b"), "cos_sim")
        .filter(F.col("lang_a") != F.col("lang_b"))
    )


def knn_label_eval(
    vectors: DataFrame,
    probes: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    *,
    k: int = 5,
) -> DataFrame:
    """Embedding-space quality eval by k-NN label agreement: for every
    PROBE vector, take its exact cosine top-``k`` neighbors (self
    excluded), predict the majority neighbor label (ties: most votes,
    then smallest label — deterministic), and report per-label probe
    counts, correct counts and accuracy in exact ppm. A good embedding
    space puts same-label points together; a collapsed or shuffled one
    scores at chance — THE smoke test run before trusting an embedding
    column for SemDeDup / ANN retrieval / hard-negative mining.

    Scale shape: eval is SAMPLED BY DESIGN — the probe set (a
    deterministic md5 slice upstream) broadcasts through the existing
    ``brute_force_topk`` (corpus never shuffles; only probe×k candidate
    rows move); neighbor labels ride one id-keyed join against the
    (id, label) projection; votes and the accuracy fold are two
    map-side-combinable aggs over probe-sized frames. Scoring every
    corpus point against every other is quadratic and deliberately not
    offered — sampling the probes is what an eval means at 10^12 rows.
    """
    top = brute_force_topk(vectors, probes, id_col, vec_col, k=k)
    labels = vectors.select(
        F.col(id_col).alias("neighbor_id"), F.col(label_col).alias("_nlabel")
    )
    truth = probes.select(
        F.col(id_col).alias("query_id"), F.col(label_col).alias("_tlabel")
    )
    votes = (
        top.join(labels, "neighbor_id")
        .groupBy("query_id", "_nlabel")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    pred = (
        votes.groupBy("query_id")
        .agg(
            F.min(
                F.struct((-F.col("_c")).alias("nc"), F.col("_nlabel").alias("l"))
            ).alias("_m")
        )
        .select("query_id", F.col("_m.l").alias("_pred"))
    )
    return (
        pred.join(F.broadcast(truth), "query_id")
        .groupBy(F.col("_tlabel").cast("long").alias("label"))
        .agg(
            F.count(F.lit(1)).alias("n_probes"),
            F.sum(
                F.when(F.col("_pred") == F.col("_tlabel"), 1).otherwise(0)
            ).alias("n_correct"),
        )
        .select(
            "label",
            "n_probes",
            "n_correct",
            F.expr("n_correct * 1000000 div n_probes").alias("acc_ppm"),
        )
    )


def rrf_fuse(
    runs: list[DataFrame],
    *,
    c: int = 60,
    k: int = 10,
    scale: int = 1_000_000,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Buettcher, SIGIR
    2009) — the standard ensemble combiner for hybrid retrieval
    (BM25 ∪ dense, or several ANN tiers): each run contributes
    ``1/(c + rank)`` per (query, neighbor), summed across runs:

        (query_id, neighbor_id, n_systems, rrf_x1e6, rank)

    RRF needs only RANKS, so wildly different score scales (cosine
    vs BM25 vs ADC distance) fuse without calibration — which is why
    it wins at web scale where score distributions drift per shard.
    Kept engine-exact as ``Σ scale DIV (c + rank)`` (non-negative
    BIGINTs — order-free, truncating DIV ≡ floor). Final order:
    rrf DESC, n_systems DESC, neighbor ASC (a total order).

    Scale shape: each run is already a top-k' frame (Q·k' rows); the
    fusion is one union + one (query, neighbor)-keyed combinable agg
    + a per-query WindowGroupLimit. Nothing corpus-sized appears."""
    from pyspark.sql import Window

    tagged = None
    for r in runs:
        slim = r.select(
            "query_id",
            "neighbor_id",
            F.expr(f"{int(scale)}L DIV ({int(c)} + rank)").alias("_pt"),
        )
        tagged = slim if tagged is None else tagged.unionByName(slim)
    fused = tagged.groupBy("query_id", "neighbor_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_systems"),
        F.sum("_pt").cast("long").alias("rrf_x1e6"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf_x1e6").desc(), F.col("n_systems").desc(),
        F.col("neighbor_id"),
    )
    return fused.withColumn(
        "rank", F.row_number().over(w).cast("long")
    ).filter(F.col("rank") <= int(k))
