"""Deduplication operators — exact, MinHash+LSH, SimHash, n-gram Jaccard.

The training-data-pipeline layer on top of the CEP engine: a 10^12-page
crawl is full of exact and near duplicates, and dedup is the first
large-scale transformation any corpus build runs. The reference engine
has no analog (gush dedups nothing); these are designed Spark-first.

Scale design:
- every operator is built-in-expression only (md5, array ops, window
  functions) — whole-stage codegen end to end, no Python in the path;
- exact dedup is one hash shuffle on the fingerprint;
- MinHash: shingle explode → per-doc min-hash aggregation is one
  map-side-combinable hash agg (the explode never shuffles raw text —
  only (doc_id, shingle-hash min partials) move);
- LSH banding turns the O(n²) all-pairs problem into a self-equi-join
  on (band, signature) — shuffle keyed by band signature, so only
  bucket-mates meet. Hot buckets (boilerplate pages) are the skew risk:
  cap bucket size or salt the verify join at production scale;
- exact Jaccard verification runs only on LSH candidates (bounded).

Oracle-exactness: hashing is md5 (identical in DuckDB); signature mins
compare lexicographically on hex strings; jaccard is int/int → double.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from gush_spark.functions.text_analysis import md5_fingerprint, norm_text, words_of

SHINGLE_K = 3
MINHASH_K = 16
LSH_BANDS = 4
LSH_ROWS = 4  # MINHASH_K = LSH_BANDS * LSH_ROWS

# MinHash hash families: one md5 per shingle -> 32-bit int h, then
# mh_j = min((A[j]*h + B[j]) mod MINHASH_P). The linear transforms are
# 16x cheaper than 16 independent md5s and shuffle 8-byte longs instead
# of 32-char hex strings. Constants are fixed md5-derived 28-bit values
# (A odd), so A[j]*h < 2^60 — no int64 overflow in Spark or DuckDB.
import hashlib as _hashlib

MINHASH_P = 4294967291  # largest 32-bit prime


def _seed28(tag: str) -> int:
    return int(_hashlib.md5(tag.encode()).hexdigest()[:7], 16)


MINHASH_A = [_seed28(f"a{j}") | 1 for j in range(MINHASH_K)]
MINHASH_B = [_seed28(f"b{j}") for j in range(MINHASH_K)]


def _shingles_of(ws: Column, k: int) -> Column:
    gram = F.transform(
        F.sequence(F.lit(0), F.size(ws) - k),
        lambda i: F.concat_ws(
            " ", *[F.element_at(ws, i + F.lit(j + 1)) for j in range(k)]
        ),
    )
    return F.when(F.size(ws) >= k, F.array_distinct(gram)).otherwise(
        F.array().cast("array<string>")
    )


def shingles(text: Column, k: int = SHINGLE_K) -> Column:
    """Distinct word k-gram shingles of the normalized text (empty array
    for docs shorter than k words).

    The words array is bound through a single-element-array lambda so
    every ``element_at`` inside the gram loop references the *bound*
    array: Catalyst does not common-subexpression-eliminate into lambda
    bodies, and the naive form re-ran the whole lower/regex/split chain
    per gram element (measured ~60x slower at sf0.1)."""
    return F.get(
        F.transform(F.array(words_of(text)), lambda ws: _shingles_of(ws, k)), 0
    )


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup on the content fingerprint: the lowest id per
    normalized-text group is the keeper.

    One shuffle on the 128-bit fingerprint (not the raw text — at crawl
    scale the shuffle payload is 16 bytes/row, not kilobytes)."""
    from pyspark.sql import Window

    fp = md5_fingerprint(F.col(text_col)).alias("fingerprint")
    w = Window.partitionBy("fingerprint").orderBy(F.col(id_col))
    return (
        df.select(F.col(id_col), fp)
        .withColumn("dup_rank", F.row_number().over(w))
        .withColumn("is_kept", F.col("dup_rank") == 1)
    )


def _spread(df: DataFrame, spread: int | None) -> DataFrame:
    """Fan a narrow input out before per-row-expensive expressions.

    A small parquet table arrives as one split, and everything below an
    explode would otherwise run on one core. The DEFAULT is 0 (no-op):
    at crawl scale input splits >> cores and repartitioning the raw-text
    DataFrame would violate the module's "never shuffle raw text" rule —
    a caller must opt in. Locally (single parquet split), pass
    ``spread=None`` for auto (defaultParallelism) or an explicit count;
    it costs one tiny shuffle of the raw rows and buys full parallelism.
    tools/explain_audit.py asserts the spread=0 plans contain no
    raw-text Exchange."""
    if spread == 0:
        return df
    n = spread or df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n)


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, k: int = MINHASH_K,
    spread: int | None = 0,
) -> DataFrame:
    """MinHash signature per document: each distinct shingle is hashed
    once (md5 → 32-bit int), then k independent families are the linear
    transforms ``mh_j = min((A_j*h + B_j) mod P)``. Docs with fewer
    than SHINGLE_K words carry no signature.

    Plan: explode(distinct shingles) → one md5 per shingle → hash-agg k
    integer mins keyed by doc id. Partial aggregation combines mins
    map-side; the shuffle carries k longs per doc."""
    sh = _spread(df, spread).select(
        F.col(id_col), F.explode(shingles(F.col(text_col))).alias("shingle")
    )
    h = F.conv(F.substring(F.md5("shingle"), 1, 8), 16, 10).cast("long")
    hashed = sh.select(F.col(id_col), h.alias("h"))
    return hashed.groupBy(id_col).agg(
        *[
            F.min(
                (F.lit(MINHASH_A[j]) * F.col("h") + F.lit(MINHASH_B[j]))
                % F.lit(MINHASH_P)
            ).alias(f"mh{j}")
            for j in range(k)
        ]
    )


def lsh_band_signatures(
    sigs: DataFrame, id_col: str, bands: int = LSH_BANDS, rows: int = LSH_ROWS
) -> DataFrame:
    """Fold the k minhashes into ``bands`` band signatures
    (md5 of the '|'-joined row hashes), long form: (id, band, band_sig)."""
    band_cols = [
        F.md5(
            F.concat_ws(
                "|", *[F.col(f"mh{t * rows + r}").cast("string") for r in range(rows)]
            )
        ).alias(f"band{t}")
        for t in range(bands)
    ]
    wide = sigs.select(F.col(id_col), *band_cols)
    stack_expr = ", ".join(f"{t}, band{t}" for t in range(bands))
    return wide.selectExpr(
        id_col, f"stack({bands}, {stack_expr}) AS (band, band_sig)"
    )


def _resolve_banding(
    bands: int | None, rows: int | None, threshold: float | None
) -> tuple[int, int]:
    """Banding resolution shared by the LSH operators: explicit
    bands/rows always win; otherwise a similarity ``threshold`` in
    (0, 1) derives them via ``lsh_params_for_threshold`` (the S-curve
    midpoint selector — how a curation user tunes recall); otherwise
    the fixed 4×4 default."""
    if bands is None and rows is None and threshold is not None \
            and 0.0 < threshold < 1.0:
        return lsh_params_for_threshold(threshold)
    return (
        LSH_BANDS if bands is None else bands,
        LSH_ROWS if rows is None else rows,
    )


def lsh_candidate_pairs(
    df: DataFrame, id_col: str, text_col: str,
    bands: int | None = None, rows: int | None = None,
    max_bucket: int | None = None, capped_stats: dict | None = None,
    spread: int | None = 0, threshold: float | None = None,
) -> DataFrame:
    """Near-dup candidate pairs (id_a < id_b) sharing ≥1 LSH band bucket.

    The self-join shuffles on (band, band_sig) — only same-bucket docs
    ever meet, which is what makes this sublinear in pairs at 10^12
    docs. distinct() collapses pairs that collide in multiple bands.

    Banding: pass ``threshold=`` (target Jaccard) to derive (bands,
    rows) via the S-curve midpoint selector ``lsh_params_for_threshold``
    — the tuning knob a curation user actually has; explicit
    ``bands``/``rows`` override it; neither → the fixed 4×4 default.

    Hot buckets (boilerplate pages sharing a band signature) make one
    bucket quadratic; ``max_bucket`` drops oversize buckets before the
    join with eager accounting in ``capped_stats`` (operators/skew.py).
    None (default) keeps the exact oracle-checked semantics."""
    from gush_spark.operators.skew import cap_hot_buckets

    bands, rows = _resolve_banding(bands, rows, threshold)
    long = lsh_band_signatures(
        minhash_signatures(df, id_col, text_col, bands * rows, spread=spread),
        id_col, bands, rows,
    )
    long = cap_hot_buckets(long, ["band", "band_sig"], max_bucket, capped_stats)
    a = long.select(
        F.col(id_col).alias("id_a"), "band", "band_sig"
    )
    b = long.select(F.col(id_col).alias("id_b"), "band", "band_sig")
    return (
        a.join(b, on=["band", "band_sig"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str, threshold: float = 0.0,
    bands: int | None = None, rows: int | None = None,
    max_bucket: int | None = None, capped_stats: dict | None = None,
    spread: int | None = 0,
) -> DataFrame:
    """LSH candidates verified with exact shingle-set Jaccard — the
    standard two-phase near-dup pipeline (candidates are bounded, so the
    expensive set intersection runs on a tiny fraction of all pairs).

    When ``bands``/``rows`` are not given, the candidate banding is
    derived from the VERIFY ``threshold`` via the S-curve midpoint
    selector (``lsh_params_for_threshold``) — recall near the verify
    bar instead of a fixed banding; threshold 0 (exact all-candidates
    semantics) keeps the 4×4 default.

    Joining the shingle arrays back in is broadcast-able when the
    candidate set is small; at crawl scale both joins shuffle on doc id.
    ``max_bucket``/``capped_stats`` forward to ``lsh_candidate_pairs``."""
    bands, rows = _resolve_banding(bands, rows, threshold)
    cands = lsh_candidate_pairs(
        df, id_col, text_col, bands, rows, max_bucket, capped_stats, spread=spread
    )
    sh = df.select(
        F.col(id_col), shingles(F.col(text_col)).alias("sh")
    )
    out = (
        cands.join(sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a")), "id_a")
        .join(sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
                / F.size(F.array_union("sh_a", "sh_b"))
            ).alias("jaccard"),
        )
    )
    return out.filter(F.col("jaccard") >= threshold)


def minhash_estimate_pairs(
    df: DataFrame, id_col: str, text_col: str, threshold: float = 0.0,
    bands: int | None = None, rows: int | None = None,
    max_bucket: int | None = None, capped_stats: dict | None = None,
    spread: int | None = 0,
) -> DataFrame:
    """Signature-only near-dup scoring: Jaccard ESTIMATED as the
    fraction of matching MinHash components over the LSH candidate
    pairs. P(mh_j(A) == mh_j(B)) = J(A, B) per family, so the mean of
    the k match indicators is an unbiased estimator (sd √(J(1-J)/k)) —
    UNCONDITIONALLY. Conditioned on LSH candidacy it is NOT: a
    candidate matched at least one full band, so every reported
    estimate has a hard floor of ``rows/k`` (4/16 = 0.25 at the
    default banding) and low-similarity accidental candidates are
    systematically over-estimated. Thresholds at or below ``rows/k``
    therefore filter nothing; meaningful thresholds sit above the
    floor, where the bias shrinks fast (the other k-rows components
    are unconditioned).

    This is the 10^12-doc verify tier: ``ngram_jaccard_pairs`` joins
    the shingle ARRAYS back through the candidate join — a text-scale
    payload; here only the k longs per doc (computed for banding
    anyway) cross the wire. The price is estimator variance (k=16 →
    sd ≈ 0.12 at J = 0.5) — production raises k, and the exact verify
    remains the final-adjudication tier. At scale the signature table
    is a materialized artifact (same argument as
    incremental.corpus_band_index), so the three logical reads of
    ``sigs`` below are scans of stored k-long rows, never text."""
    from gush_spark.operators.skew import cap_hot_buckets

    bands, rows = _resolve_banding(bands, rows, threshold)
    k = bands * rows
    sigs = minhash_signatures(df, id_col, text_col, k, spread=spread)
    long = lsh_band_signatures(sigs, id_col, bands, rows)
    long = cap_hot_buckets(long, ["band", "band_sig"], max_bucket, capped_stats)
    a = long.select(F.col(id_col).alias("id_a"), "band", "band_sig")
    b = long.select(F.col(id_col).alias("id_b"), "band", "band_sig")
    cands = (
        a.join(b, on=["band", "band_sig"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    sa = sigs.select(
        F.col(id_col).alias("id_a"),
        *[F.col(f"mh{i}").alias(f"_a{i}") for i in range(k)],
    )
    sb = sigs.select(
        F.col(id_col).alias("id_b"),
        *[F.col(f"mh{i}").alias(f"_b{i}") for i in range(k)],
    )
    n_match = sum(
        (F.col(f"_a{i}") == F.col(f"_b{i}")).cast("int") for i in range(k)
    )
    out = (
        cands.join(sa, on="id_a")
        .join(sb, on="id_b")
        .select(
            "id_a",
            "id_b",
            (n_match.cast("double") / F.lit(k)).alias("est_jaccard"),
        )
    )
    return out.filter(F.col("est_jaccard") >= threshold)


def containment_pairs(
    df: DataFrame, id_col: str, text_col: str, threshold: float = 0.0,
    min_shared: int = 2,
    max_bucket: int | None = None, capped_stats: dict | None = None,
    spread: int | None = 0, hash_keys: bool = False,
) -> DataFrame:
    """ASYMMETRIC shingle containment: |A∩B|/|A| and |A∩B|/|B|
    alongside Jaccard. Jaccard under-scores a short document quoted
    inside a long one (the union is huge); the containment of the short
    side is ~1.0 — the boilerplate / quotation / page-within-feed
    signal a curation pass deduplicates on.

    Candidate generation CANNOT reuse MinHash-LSH here: band collision
    probability tracks JACCARD, so a contained-but-small doc (low
    jaccard, high containment) never meets its container. Candidates
    are instead the inverted-index join — docs sharing ≥ ``min_shared``
    distinct shingles — the classic containment blocking. Shuffle keys
    are shingles; a boilerplate shingle shared by millions of docs is
    the hot bucket, handled by ``max_bucket`` exactly like the LSH
    joins (a shingle that common carries no pair information).

    ``hash_keys=True`` is the crawl-scale form: the shingle's 60-bit md5
    prefix as a LONG (8 bytes on the wire) replaces the raw n-gram
    string (tens of bytes, unbounded) BOTH as the inverted-index join
    key and in the verify-stage shingle arrays — the verify join's
    payload is two long arrays per pair instead of two string arrays.
    Set sizes (intersection/union/each side) are unchanged absent a
    60-bit collision, so containment/jaccard values are identical — a
    collision could only ADD a candidate or merge two set elements,
    both astronomically unlikely; the catalog query
    ``containment_pairs_hashed`` pins hash-equality with the
    string-keyed DuckDB oracle, and test_pipeline_ops pins set-equality
    with the string-keyed default, kept as the reference form."""
    from gush_spark.operators.skew import cap_hot_buckets

    def _h(col: Column) -> Column:
        return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")

    sh_long = _spread(df, spread).select(
        F.col(id_col), F.explode(shingles(F.col(text_col))).alias("s")
    )
    if hash_keys:
        sh_long = sh_long.select(F.col(id_col), _h(F.col("s")).alias("s"))
    sh_long = cap_hot_buckets(sh_long, ["s"], max_bucket, capped_stats)
    a = sh_long.select(F.col(id_col).alias("id_a"), "s")
    b = sh_long.select(F.col(id_col).alias("id_b"), "s")
    cands = (
        a.join(b, on="s")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("_shared"))
        .filter(F.col("_shared") >= min_shared)
        .select("id_a", "id_b")
    )
    sh_arr = shingles(F.col(text_col))
    if hash_keys:
        sh_arr = F.transform(sh_arr, _h)
    sh = df.select(F.col(id_col), sh_arr.alias("sh"))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    out = (
        cands.join(sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a")), "id_a")
        .join(sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
        .select(
            "id_a",
            "id_b",
            (inter / F.size("sh_a")).alias("containment_a"),
            (inter / F.size("sh_b")).alias("containment_b"),
            (inter / F.size(F.array_union("sh_a", "sh_b"))).alias("jaccard"),
        )
    )
    return out.filter(
        F.greatest(F.col("containment_a"), F.col("containment_b")) >= threshold
    )


def near_dup_clusters(
    df: DataFrame, id_col: str, text_col: str, threshold: float = 0.6,
    max_iterations: int = 20, spread: int | None = 0,
    bands: int | None = None, rows: int | None = None,
) -> DataFrame:
    """Connected components over the near-duplicate graph: every doc
    gets a ``cluster_id`` = the smallest doc id reachable through
    jaccard-≥-threshold edges (singletons cluster with themselves).
    The candidate banding is selector-derived from ``threshold``
    (``lsh_params_for_threshold``; 0.6 → 4×4) unless ``bands``/``rows``
    override it.

    Iterative min-label propagation (the Pregel/GraphX pattern expressed
    in DataFrames): each round joins labels across edges and keeps the
    per-vertex min; stops when a round changes nothing. Rounds needed =
    graph diameter — near-dup components are tiny, so this converges in
    a couple of distributed passes; every pass is one shuffle on the
    vertex id. The driver loop only orchestrates; no data ever collects.

    Convergence rides the SAME action as propagation: each round carries
    the previous label as ``old_label`` and the changed-count is a sum
    aggregate over the round's own (cached) result — one distributed job
    per round, not a separate join+count probe (which at round 2 doubled
    every round's cost and regressed the sf0.1 bench 3.2x). Lineage is
    truncated every few rounds with an EAGER localCheckpoint so no later
    action can re-execute the untruncated plan tree."""
    edges = ngram_jaccard_pairs(
        df, id_col, text_col, threshold=threshold, spread=spread,
        bands=bands, rows=rows,
    ).select("id_a", "id_b")
    return min_label_components(df, id_col, edges, max_iterations=max_iterations)


def min_label_components(
    vertices: DataFrame,
    id_col: str,
    edges: DataFrame,
    *,
    max_iterations: int = 20,
) -> DataFrame:
    """Connected components by iterative min-label propagation over an
    undirected edge list ``(id_a, id_b)`` (each edge listed once) —
    the engine behind ``near_dup_clusters``, factored out so any
    similarity graph (text jaccard, embedding cosine) can be clustered
    with the same convergence/lineage discipline (see the
    ``near_dup_clusters`` docstring for why convergence rides the
    propagation action and why lineage is eagerly checkpointed).
    Returns ``(id_col, cluster_id)`` with cluster_id = the smallest
    reachable vertex id.

    Only EDGE-TOUCHED vertices enter the iteration: a vertex with no
    neighbor can never change label, so the overwhelming singleton
    majority of a 10^12-page corpus is appended afterwards as its own
    cluster via one anti-join instead of riding every propagation
    round's join+agg (at crawl scale that's the difference between
    shuffling the dup-graph and shuffling the corpus, per round).

    Fault-tolerance trade (Spark's documented localCheckpoint hazard):
    localCheckpoint severs lineage, so a block lost to executor death or
    dynamic-allocation decommission cannot be recomputed — fine on a
    single-JVM bench, a real risk on an elastic cluster. When the
    SparkContext has a checkpoint directory configured
    (``sc.setCheckpointDir``), this uses reliable ``checkpoint()``
    instead (recoverable from the checkpoint store); the returned labels
    are themselves eagerly checkpointed before any intermediate blocks
    are dropped, so callers never hold a frame whose lineage points at
    unpersisted blocks."""
    # bidirectional edge list. localCheckpoint (NOT just persist): the
    # edge list's lineage can be an enormous analyzed plan (the
    # semantic graph's edges sit on a k-means training tree), and a
    # persisted-but-untruncated plan is re-ANALYZED inside every
    # round's new action — measured on the SemDeDup graph at sf0.1,
    # per-round wall doubled (1.8s -> 4.5s -> 10.2s) from Catalyst
    # re-analysis alone while the 144-edge data was already cached.
    # Severing lineage here pins every round's plan to the scan of the
    # checkpointed blocks; the materialization it forces was needed
    # anyway to fill the cache.
    sc = vertices.sparkSession.sparkContext
    reliable = sc.getCheckpointDir() is not None

    def _ckpt(df: DataFrame) -> DataFrame:
        # reliable checkpoint when a dir is configured (survives executor
        # loss); localCheckpoint otherwise (bench/local mode) — see the
        # fault-tolerance note in the docstring.
        return df.checkpoint(eager=True) if reliable else df.localCheckpoint(eager=True)

    bidir = _ckpt(
        edges.unionByName(
            edges.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"))
        )
    )
    # round 1 for free: labels start as identity, so the first
    # neighbor-min needs no label join — it's a plain min over the edge
    # list, and its groupBy defines the touched vertex set in the same
    # shuffle (no separate distinct)
    labels = (
        bidir.groupBy(F.col("id_a").alias("id"))
        .agg(F.min("id_b").alias("_nbr"))
        .select("id", F.least(F.col("id"), F.col("_nbr")).alias("label"))
        .persist()
    )
    materialized = labels
    for it in range(max_iterations - 1):
        neighbor_min = (
            bidir.join(labels, bidir.id_b == labels.id)
            .groupBy(F.col("id_a").alias("id"))
            .agg(F.min("label").alias("nbr_label"))
        )
        new_labels = (
            labels.join(neighbor_min, on="id", how="left")
            .select(
                "id",
                F.least(F.col("label"), F.coalesce("nbr_label", "label")).alias("label"),
                F.col("label").alias("old_label"),
            )
        )
        # truncate lineage every few rounds: each round nests another
        # join over the previous plan, and a deep component (high graph
        # diameter) would otherwise grow an unanalyzable plan tree.
        # EAGER: a lazy checkpoint would let the very next action
        # re-execute the full untruncated lineage once more.
        if it % 4 == 3:
            new_labels = _ckpt(new_labels)
        else:
            new_labels = new_labels.persist()
        changed = new_labels.agg(
            F.coalesce(
                F.sum((F.col("label") != F.col("old_label")).cast("long")), F.lit(0)
            ).alias("changed")
        ).first()["changed"]
        materialized.unpersist()
        materialized = new_labels
        labels = new_labels.select("id", "label")
        if changed == 0:
            break
    # Sever the final labels' lineage BEFORE dropping bidir's blocks:
    # labels may be merely persist()ed, and its lineage runs through the
    # (local)checkpointed edge list — unpersisting that first would make
    # any evicted label partition unrecomputable.
    labels = _ckpt(labels)
    materialized.unpersist()
    bidir.unpersist()
    singletons = (
        vertices.select(F.col(id_col).alias("id"))
        .join(labels.select("id"), "id", "left_anti")
        .select("id", F.col("id").alias("label"))
    )
    return labels.unionByName(singletons).select(
        F.col("id").alias(id_col), F.col("label").alias("cluster_id")
    )


def canonical_per_cluster(
    df: DataFrame, id_col: str, text_col: str, threshold: float = 0.6,
    spread: int | None = 0,
) -> DataFrame:
    """Corpus dedup decision: per near-dup cluster keep the lowest-id
    doc (the canonical), flag the rest as duplicates to drop."""
    clusters = near_dup_clusters(df, id_col, text_col, threshold, spread=spread)
    return clusters.select(
        id_col,
        "cluster_id",
        (F.col(id_col) == F.col("cluster_id")).alias("is_canonical"),
    )


def simhash32(
    df: DataFrame, id_col: str, text_col: str, spread: int | None = 0
) -> DataFrame:
    """32-bit SimHash over word occurrences (count-weighted): bit b is
    the sign of ``sum over words of (2*bit_b(h(w)) - 1)``.

    h(w) is the 60-bit md5 prefix; explode → one hash agg with 32
    map-side-combinable sums — same shuffle shape as minhash.

    ``spread`` as in ``minhash_signatures``: the default 0 skips the
    raw-text repartition (the module's "never shuffle raw text" rule —
    at crawl scale input splits >> cores already); local single-split
    callers pass ``spread=None`` to opt into the fan-out."""
    wordled = _spread(df, spread).select(
        F.col(id_col),
        F.explode(words_of(F.col(text_col))).alias("w"),
    ).withColumn("h", F.conv(F.substring(F.md5("w"), 1, 15), 16, 10).cast("long"))
    bit_sums = wordled.groupBy(id_col).agg(
        *[
            F.sum(F.shiftright(F.col("h"), b) % 2 * 2 - 1).alias(f"s{b}")
            for b in range(32)
        ]
    )
    sim = None
    for b in range(32):
        term = F.when(F.col(f"s{b}") > 0, F.lit(1 << b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sim = term if sim is None else sim + term
    return bit_sums.select(F.col(id_col), sim.alias("simhash"))


def _simhash_blocks(n_blocks: int, n_bits: int = 32) -> list[tuple[int, int]]:
    """(shift, width) per block: n_bits split into n_blocks disjoint
    segments as evenly as possible (wider segments first)."""
    base, extra = divmod(n_bits, n_blocks)
    out, shift = [], 0
    for i in range(n_blocks):
        width = base + (1 if i < extra else 0)
        out.append((shift, width))
        shift += width
    return out


def simhash_hamming_pairs(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3,
    spread: int | None = 0,
) -> DataFrame:
    """SimHash near-dup pairs with Hamming distance ≤ max_hamming.

    Blocking is pigeonhole-COMPLETE: the 32-bit simhash is split into
    ``max_hamming + 1`` disjoint bit segments, so any pair within
    Hamming ≤ max_hamming differs in at most max_hamming segments and
    must agree exactly on at least one — every qualifying pair is a
    candidate (the driver oracle checks this against brute-force
    all-pairs). The exact popcount filter then runs inside each block.

    Scale trade-off: completeness at distance d costs d+1 blocks of
    32/(d+1) bits each; narrower segments mean fewer distinct bucket
    values and quadratically bigger buckets. d=3 (the default) blocks
    on 8-bit segments (256 buckets/segment) — the practical ceiling for
    a 32-bit sketch; for looser thresholds use a 64-bit simhash or the
    MinHash/LSH family instead of raising d here."""
    n_blocks = max_hamming + 1
    sims = simhash32(df, id_col, text_col, spread=spread)
    blocks = []
    for i, (shift, width) in enumerate(_simhash_blocks(n_blocks)):
        blocks.append(
            sims.select(
                F.col(id_col),
                F.col("simhash"),
                F.lit(i).alias("blk"),
                (F.shiftright(F.col("simhash"), shift) % (1 << width)).alias("blk_val"),
            )
        )
    long = blocks[0]
    for extra in blocks[1:]:
        long = long.unionByName(extra)
    a = long.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("sim_a"), "blk", "blk_val")
    b = long.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("sim_b"), "blk", "blk_val")
    hamming = F.bit_count(F.expr("sim_a ^ sim_b"))
    # hamming-filter BEFORE distinct: the cheap per-row popcount prunes
    # the candidate set ahead of the dedup shuffle, so the exchange
    # carries only near-pairs instead of every block collision
    return (
        a.join(b, on=["blk", "blk_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .distinct()
    )


def lsh_threshold(bands: int, rows: int) -> float:
    """The Jaccard similarity at which a pair's LSH candidacy
    probability crosses ~50% for a (bands × rows) banding:
    ``(1/bands) ** (1/rows)`` — the standard S-curve midpoint
    (Leskovec/Rajaraman/Ullman, Mining of Massive Datasets ch. 3)."""
    return (1.0 / bands) ** (1.0 / rows)


def lsh_params_for_threshold(
    threshold: float, k: int = MINHASH_K
) -> tuple[int, int]:
    """Pick (bands, rows) with bands*rows == k whose S-curve midpoint
    sits closest to ``threshold`` — the tuning knob callers use instead
    of hand-picking the banding. Deterministic; ties prefer more bands
    (higher recall below the midpoint, the safer default for dedup)."""
    if not 0.0 < threshold < 1.0:
        raise ValueError("threshold must be in (0, 1)")
    options = [
        (b, k // b) for b in range(1, k + 1) if k % b == 0
    ]
    return min(
        options,
        key=lambda br: (abs(lsh_threshold(br[0], br[1]) - threshold), -br[0]),
    )


def best_per_cluster(
    clusters: DataFrame,
    scored: DataFrame,
    id_col: str,
    score_col: str,
    *,
    keep_only: bool = True,
) -> DataFrame:
    """Canonical-document selection over duplicate clusters — the
    SemDeDup-style "keep the best copy" step (Abbas et al., *SemDeDup*,
    2023 keep one doc per semantic cluster; Penedo et al., *RefinedWeb*,
    2023 keep one per MinHash cluster): given ``clusters`` =
    ``(id, cluster_id)`` (e.g. ``near_dup_clusters`` output) and
    ``scored`` = ``(id, score)`` (e.g. ``quality_features``'
    ``quality_score``), pick per cluster the highest-scoring member,
    ties broken by smallest id — fully deterministic.

    Output: ``(cluster_id, id, score, n_members)`` for the canonical
    row of every cluster (``keep_only=False`` keeps all members and
    adds ``is_canonical`` instead — the audit view).

    Scale: ONE shuffle on ``cluster_id``; both the membership count and
    the rank ride the same window partitioning, and with ``keep_only``
    the rank-1 filter plan uses WindowGroupLimit (per-partition top-1
    below the exchange), so no cluster's full membership ever sorts
    globally. Near-dup clusters are small by construction; a
    pathological mega-cluster (one page mirrored everywhere) is exactly
    the row you want reduced to one canonical representative.
    """
    j = clusters.join(scored, id_col)
    by_cluster = Window.partitionBy("cluster_id")
    rk = F.row_number().over(
        by_cluster.orderBy(F.col(score_col).desc(), F.col(id_col).asc())
    )
    n = F.count(F.lit(1)).over(by_cluster)
    out = j.select(
        "cluster_id",
        F.col(id_col),
        F.col(score_col),
        n.cast("long").alias("n_members"),
        rk.alias("_rk"),
    )
    if keep_only:
        return out.filter(F.col("_rk") == 1).drop("_rk")
    return out.withColumn("is_canonical", F.col("_rk") == 1).drop("_rk")


def source_overlap_matrix(
    df: DataFrame,
    id_col: str,
    text_col: str,
    source_col: str,
    *,
    threshold: float = 0.6,
    spread: int | None = 0,
) -> DataFrame:
    """Mirror detection: which sources near-duplicate EACH OTHER.
    Verified near-dup pairs (the standard LSH-candidates + exact
    Jaccard two-phase pipeline) roll up to an unordered source×source
    count matrix — a hot off-diagonal cell is a mirror/syndication
    relationship (keep one side), a hot diagonal is within-source
    templating (boilerplate removal territory).

    Scale shape: pair cost is the LSH pipeline's (bounded candidates,
    hot buckets cappable); the source attribution is two id-keyed
    equi-joins of (id, id) pairs against the map-only (id, source)
    projection — fingerprint-sized rows, never text; the matrix agg is
    |sources|² at most."""
    pairs = ngram_jaccard_pairs(
        df, id_col, text_col, threshold=threshold, spread=spread
    ).select("id_a", "id_b")
    src = df.select(
        F.col(id_col).alias("_sid"), F.col(source_col).alias("_src")
    )
    attributed = (
        pairs.join(src, pairs.id_a == src._sid)
        .select("id_a", "id_b", F.col("_src").alias("src_a"))
        .join(src, F.col("id_b") == src._sid)
        .select("src_a", F.col("_src").alias("src_b"))
    )
    return (
        attributed.select(
            F.least("src_a", "src_b").alias("source_a"),
            F.greatest("src_a", "src_b").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


def edit_distance_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    prefix: int = 256,
    keep_ppm: int = 800_000,
    spread: int | None = 0,
) -> DataFrame:
    """Character-level adjudication of LSH candidate pairs by
    Levenshtein distance over the normalized-text PREFIX — the verify
    tier for SHORT fields and title/template near-dups, where
    shingle-set Jaccard is blind (a 5-word title has 3 shingles; one
    edit kills all of them and Jaccard reads 0 for what an editor
    would call the same string). Complements ngram_jaccard_pairs the
    way SimHash complements MinHash: same candidate machinery,
    different distance.

    Returns ``(id_a, id_b, dist, sim_ppm, is_dup)`` per candidate:
    ``dist`` = edit distance between the two ≤ ``prefix``-char
    normalized prefixes, ``sim_ppm = (maxlen - dist)·10^6 div maxlen``
    (1e6 == identical; exact BIGINT — lengths and distances are
    integers, the division truncates identically in both engines;
    two empty prefixes are defined identical), ``is_dup`` at
    ``keep_ppm``.

    Scale shape: candidates come from the banded LSH join (never
    all-pairs); the ONLY text on the wire is the bounded ``prefix``
    chars per side, shipped through two id-keyed joins (the
    source-overlap-matrix attribution pattern); Levenshtein is
    JVM codegen, O(prefix²) per pair with prefix fixed — per-pair cost
    is a constant, total cost ∝ candidates. Full-document edit
    distance at crawl scale is deliberately NOT offered: O(n·m) per
    pair is the suffix-automaton literature's job; the span profile
    (operators/spans.py) is this repo's long-document signal.
    """
    cands = lsh_candidate_pairs(df, id_col, text_col, spread=spread)
    pref = df.select(
        F.col(id_col).alias("_pid"),
        F.substring(norm_text(F.col(text_col)), 1, prefix).alias("_pref"),
    )
    a = pref.select(F.col("_pid").alias("id_a"), F.col("_pref").alias("_pa"))
    b = pref.select(F.col("_pid").alias("id_b"), F.col("_pref").alias("_pb"))
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .withColumn(
            "_maxlen", F.greatest(F.length("_pa"), F.length("_pb")).cast("long")
        )
        .withColumn("dist", F.levenshtein("_pa", "_pb").cast("long"))
        .select(
            "id_a",
            "id_b",
            "dist",
            F.when(F.col("_maxlen") == 0, F.lit(1_000_000).cast("long"))
            .otherwise(F.expr("(_maxlen - dist) * 1000000 div _maxlen"))
            .alias("sim_ppm"),
        )
        .withColumn("is_dup", F.col("sim_ppm") >= F.lit(int(keep_ppm)))
    )


def jaccard_threshold_sweep(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_buckets: int = 10,
    spread: int | None = None,
) -> DataFrame:
    """Decile histogram of exact Jaccard over the LSH candidate pairs —
    the threshold-tuning report: how many near-dup pairs survive at
    each verify bar (``pairs_at_or_above`` is the cumulative count from
    the top bucket down), so the 0.8-vs-0.6 decision is made from one
    pass instead of re-running the verify per threshold.

    The bucket is integer-exact on both engines:
    ``least(|∩|·n_buckets div |∪|, n_buckets-1)`` — no floating decile
    boundaries. The cumulative window runs over the REDUCED histogram
    (≤ n_buckets rows), so the single-partition window is trivially
    safe at any corpus size.
    """
    bands, rows = _resolve_banding(None, None, 0.0)
    cands = lsh_candidate_pairs(df, id_col, text_col, bands, rows, spread=spread)
    sh = df.select(F.col(id_col), shingles(F.col(text_col)).alias("sh"))
    p = (
        cands.join(
            sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a")),
            "id_a",
        )
        .join(
            sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b")),
            "id_b",
        )
        .select(
            F.size(F.array_intersect("sh_a", "sh_b")).cast("long").alias("i"),
            F.size(F.array_union("sh_a", "sh_b")).cast("long").alias("u"),
        )
    )
    b = p.select(
        F.least(
            F.expr(f"i * {n_buckets} div u"), F.lit(n_buckets - 1).cast("long")
        ).alias("bucket")
    )
    h = b.groupBy("bucket").agg(F.count(F.lit(1)).alias("n_pairs"))
    from pyspark.sql import Window as _W

    w = _W.orderBy(F.col("bucket").desc()).rowsBetween(_W.unboundedPreceding, 0)
    return h.withColumn(
        "pairs_at_or_above", F.sum("n_pairs").over(w).cast("long")
    )


def lsh_parameter_plan(
    spark,
    *,
    k: int = MINHASH_K,
    grid: int = 20,
) -> DataFrame:
    """The S-curve planner behind every (bands, rows) choice in this
    module: for each factorization b·r == ``k`` of the signature
    length, the probability that a pair with true Jaccard similarity
    j collides in at least one band,

        P(collide | j)  =  1 − (1 − j^r)^b

    evaluated on the grid j = i/``grid``, i = 1..grid−1. Banding turns
    MinHash into a high-pass filter on similarity; this table IS the
    filter's transfer curve, and choosing (b, r) = reading off the
    row where the curve crosses ~0.5 nearest the dedup threshold
    (LSH_BANDS=4 × LSH_ROWS=4 crosses at j ≈ 0.63, the steep section
    spanning the 0.6-0.8 near-dup regime the pipeline targets).

    Float discipline: j^r and (1−j^r)^b are computed as explicit
    sequential multiply FOLDS (``F.aggregate`` over a unit sequence ≡
    DuckDB ``list_reduce``), never ``pow`` — both engines then execute
    the identical chain of IEEE-754 double multiplies, so the rounded
    output is hash-exact (the same bit-identical-fold trick as the
    cosine oracles in queries_pipeline).

    Scale shape: a parameter table — |divisors(k)|·(grid−1) rows
    built from ``spark.range``, zero input data, zero shuffles beyond
    one tiny explode. It runs ONCE per tuning decision; its value is
    that the plan the 10^12-page dedup runs with is derived, not
    guessed."""
    factorizations = [
        (b, k // b) for b in range(1, k + 1) if k % b == 0
    ]
    pairs = F.array(
        *[
            F.struct(
                F.lit(b).cast("long").alias("bands"),
                F.lit(r).cast("long").alias("rows_per_band"),
            )
            for b, r in factorizations
        ]
    )
    base = (
        spark.range(1, grid)
        .select(
            (F.col("id") * 100 / F.lit(grid)).cast("long").alias("jaccard_x100"),
            (F.col("id") / F.lit(grid)).cast("double").alias("_j"),
            F.explode(pairs).alias("_br"),
        )
        .select(
            F.col("_br.bands").alias("bands"),
            F.col("_br.rows_per_band").alias("rows_per_band"),
            "jaccard_x100",
            "_j",
        )
    )
    jr = F.expr(
        "aggregate(sequence(1, int(rows_per_band)), 1.0D, (acc, x) -> acc * _j)"
    )
    scored = base.withColumn("_jr", jr).withColumn(
        "_miss",
        F.expr("aggregate(sequence(1, int(bands)), 1.0D, (acc, x) -> acc * (1.0D - _jr))"),
    )
    return scored.select(
        "bands",
        "rows_per_band",
        "jaccard_x100",
        F.round(F.lit(1.0) - F.col("_miss"), 9).alias("collision_prob"),
    )


def dedup_savings_report(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chars_col: str = "n_chars",
) -> DataFrame:
    """What exact dedup would buy, as a cluster-size histogram:

        (cluster_size, n_clusters, n_docs, n_dropped, chars_dropped)

    one row per duplicate-cluster SIZE — the capacity-planning view of
    exact_dedup (which emits per-document keep flags; this emits the
    storage/compute case for running it). ``n_dropped`` counts the
    non-keeper documents and ``chars_dropped`` their characters (the
    keeper is the min-id document, the exact_dedup convention, taken
    as a struct-min so the aggregation stays one map-side-combinable
    pass — the CDC argmax trick from operators/snapshot).

    All-BIGINT; hash-exact.

    Scale shape: one shuffle keyed by the 128-bit content fingerprint
    (16 bytes/row — raw text never moves), then a histogram over the
    cluster frame whose key cardinality is bounded by the largest
    cluster. At 10^12 pages this is exactly the exact-dedup shuffle
    the pipeline already pays; the report is a rollup riding on it."""
    fp = md5_fingerprint(F.col(text_col)).alias("fingerprint")
    clusters = (
        df.select(F.col(id_col).alias("_id"), F.col(chars_col).alias("_ch"), fp)
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).cast("long").alias("cluster_size"),
            F.sum("_ch").cast("long").alias("_chars_total"),
            F.min(F.struct("_id", "_ch")).alias("_keeper"),
        )
    )
    return (
        clusters.groupBy("cluster_size")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_clusters"),
            F.sum("cluster_size").cast("long").alias("n_docs"),
            F.sum(F.col("cluster_size") - 1).cast("long").alias("n_dropped"),
            F.sum(F.col("_chars_total") - F.col("_keeper._ch"))
            .cast("long")
            .alias("chars_dropped"),
        )
    )
