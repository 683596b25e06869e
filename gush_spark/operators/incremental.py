"""Incremental dedup — a NEW BATCH against a HISTORICAL CORPUS index.

The daily-crawl pattern: a production corpus is not rebuilt from
scratch; each day's crawl increment is deduplicated against the
10^12-page historical index and only the survivors are appended. The
reference engine has no analog (gush processes a change stream but
never dedups); its exact half is the batch counterpart of
streaming/dedup.py's within-horizon fingerprint dedup (near-dup has no
streaming form), designed Spark-first.

Scale design — the corpus NEVER shuffles:
- the historical index is a materialized artifact: (fingerprint) for
  exact dedup and (band, band_sig) for near-dup, 16 bytes per entry —
  never raw text. ``corpus_fingerprints`` / ``corpus_band_index``
  derive it here for tests; production reads it as a table.
- |new batch| ≪ |corpus| always (a day vs. all of history), so every
  join BROADCASTS the new side and the corpus index is a map-only
  scan: zero exchange on the big side. Matching corpus entries
  (a bounded set: dups of today's pages) flow back and the final
  anti-join against the new batch is again broadcast.
- within-batch dedup (today's pages duplicating each other) reuses the
  self-join operators from operators/dedup.py on the small side only.

Broadcast safety: only BOUNDED projections of the new side are ever
broadcast — (id, 16-byte hash) fingerprints, (id, band, band_sig) band
signatures, and candidate id pairs; a 10M-page daily batch broadcasts
~300 MB of hashes, within executor budgets. Raw text and shingle
arrays (~k× the batch's raw text) are NEVER broadcast: the one join
that needs the new batch's shingles shuffles on ``new_id`` — the
exchange is |new batch| sized, not corpus sized, so the corpus-side
map-only invariant still holds. ``broadcast_new=False`` falls back to
shuffled joins everywhere for outsized batches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gush_spark.functions.text_analysis import md5_fingerprint
from gush_spark.operators import dedup


def _maybe_broadcast(df: DataFrame, flag: bool) -> DataFrame:
    return F.broadcast(df) if flag else df


def corpus_fingerprints(corpus: DataFrame, text_col: str) -> DataFrame:
    """The exact-dedup index: one 128-bit fingerprint per corpus doc.
    In production this is a stored table maintained by the append job;
    deriving it here keeps tests/oracles self-contained."""
    return corpus.select(
        md5_fingerprint(F.col(text_col)).alias("fingerprint")
    ).distinct()


def corpus_band_index(
    corpus: DataFrame, id_col: str, text_col: str,
    bands: int = dedup.LSH_BANDS, rows: int = dedup.LSH_ROWS,
    spread: int | None = 0,
) -> DataFrame:
    """The near-dup index: (corpus_id, band, band_sig) long form."""
    sigs = dedup.minhash_signatures(
        corpus, id_col, text_col, bands * rows, spread=spread
    )
    return dedup.lsh_band_signatures(sigs, id_col, bands, rows)


def incremental_exact_dedup(
    new: DataFrame, corpus: DataFrame, id_col: str, text_col: str,
    broadcast_new: bool = True, spread: int | None = 0,
) -> DataFrame:
    """Exact-dedup a new batch against the corpus fingerprint index.

    Returns (id, fingerprint, in_corpus, batch_rank, is_kept): a new
    doc is kept iff its fingerprint is absent from the corpus AND it is
    the lowest-id holder of that fingerprint within the batch.

    Plan: corpus index scan ⋈ broadcast(new fingerprints) emits the
    matched fingerprints (bounded by |new|); the kept decision is then
    computed entirely on the new side. The corpus side is map-only —
    no exchange — which is what makes a daily run against 10^12 pages
    a linear scan rather than a petabyte shuffle."""
    from pyspark.sql import Window

    new_fp = dedup._spread(new, spread).select(
        F.col(id_col), md5_fingerprint(F.col(text_col)).alias("fingerprint")
    )
    idx = corpus_fingerprints(corpus, text_col)
    hits = idx.join(
        _maybe_broadcast(new_fp.select("fingerprint").distinct(), broadcast_new),
        "fingerprint",
    ).distinct()
    w = Window.partitionBy("fingerprint").orderBy(F.col(id_col))
    ranked = new_fp.withColumn("batch_rank", F.row_number().over(w))
    out = ranked.join(
        _maybe_broadcast(hits.withColumn("_hit", F.lit(True)), broadcast_new),
        "fingerprint",
        "left",
    )
    in_corpus = F.coalesce(F.col("_hit"), F.lit(False))
    return out.select(
        F.col(id_col),
        "fingerprint",
        in_corpus.alias("in_corpus"),
        F.col("batch_rank").cast("long").alias("batch_rank"),
        (~in_corpus & (F.col("batch_rank") == 1)).alias("is_kept"),
    )


def incremental_near_dup_pairs(
    new: DataFrame, corpus: DataFrame, id_col: str, text_col: str,
    threshold: float = 0.0,
    bands: int | None = None, rows: int | None = None,
    max_bucket: int | None = None, capped_stats: dict | None = None,
    broadcast_new: bool = True, spread: int | None = 0,
) -> DataFrame:
    """Near-dup pairs (new_id, corpus_id, jaccard ≥ threshold) between a
    new batch and the corpus band index — NOT a self-join: candidate
    cost is |new| × bucket-collision rate, independent of |corpus|².

    Plan: broadcast the new batch's band signatures against the corpus
    index scan (map-only on the index); verify exact shingle Jaccard
    only on the candidate pairs, joining the corpus text back by the
    bounded candidate id set. Hot buckets (boilerplate band signatures
    shared by millions of corpus pages) are capped on the INDEX side
    via ``max_bucket`` — a signature that common identifies template
    text, not a duplicate of today's page.

    Banding resolves like the self-join operators (dedup._resolve_
    banding): explicit ``bands``/``rows`` win, else derived from
    ``threshold`` via the S-curve selector — so the two near-dup gates
    inside ``incremental_curate`` can never band inconsistently."""
    from gush_spark.operators.skew import cap_hot_buckets

    bands, rows = dedup._resolve_banding(bands, rows, threshold)
    new_sigs = dedup.minhash_signatures(
        new, id_col, text_col, bands * rows, spread=spread
    )
    new_bands = dedup.lsh_band_signatures(new_sigs, id_col, bands, rows).select(
        F.col(id_col).alias("new_id"), "band", "band_sig"
    )
    idx = corpus_band_index(corpus, id_col, text_col, bands, rows, spread=spread)
    idx = cap_hot_buckets(idx, ["band", "band_sig"], max_bucket, capped_stats)
    cands = (
        idx.select(F.col(id_col).alias("corpus_id"), "band", "band_sig")
        .join(_maybe_broadcast(new_bands, broadcast_new), ["band", "band_sig"])
        .select("new_id", "corpus_id")
        .distinct()
    )
    sh_new = dedup._spread(new, spread).select(
        F.col(id_col).alias("new_id"), dedup.shingles(F.col(text_col)).alias("sh_n")
    )
    sh_cor = corpus.select(
        F.col(id_col).alias("corpus_id"), dedup.shingles(F.col(text_col)).alias("sh_c")
    )
    # corpus text joins back on the bounded candidate id set — broadcast
    # the candidates so the text scan is again map-only. sh_new carries
    # the new batch's shingle ARRAYS (~k× its raw text): shuffling it on
    # new_id is |new|-sized and safe; broadcasting it would ship tens of
    # GB per executor for the documented 10M-page daily batch
    out = (
        sh_cor.join(_maybe_broadcast(cands, broadcast_new), "corpus_id")
        .join(sh_new, "new_id")
        .select(
            "new_id",
            "corpus_id",
            (
                F.size(F.array_intersect("sh_n", "sh_c")).cast("double")
                / F.size(F.array_union("sh_n", "sh_c"))
            ).alias("jaccard"),
        )
    )
    return out.filter(F.col("jaccard") >= threshold)


def incremental_near_dup_estimate(
    new: DataFrame, corpus: DataFrame, id_col: str, text_col: str,
    threshold: float = 0.0,
    bands: int | None = None, rows: int | None = None,
    max_bucket: int | None = None, capped_stats: dict | None = None,
    broadcast_new: bool = True, spread: int | None = 0,
) -> DataFrame:
    """Signature-only twin of ``incremental_near_dup_pairs``: the
    verify step estimates Jaccard from matching MinHash components
    (dedup.minhash_estimate_pairs rationale) instead of joining the
    corpus TEXT back for exact shingle intersection.

    Why this is the true 10^12-corpus daily path: the exact variant
    must re-read corpus text for every candidate id; here the
    corpus-side artifact is the SIGNATURE table (k longs per doc,
    maintained by the append job like the band index) — the daily run
    touches zero corpus text. The new side broadcasts only bounded
    projections: band signatures, candidate id pairs, and k-long
    signatures."""
    bands, rows = dedup._resolve_banding(bands, rows, threshold)
    k = bands * rows
    new_sigs = dedup.minhash_signatures(new, id_col, text_col, k, spread=spread)
    new_bands = dedup.lsh_band_signatures(new_sigs, id_col, bands, rows).select(
        F.col(id_col).alias("new_id"), "band", "band_sig"
    )
    # in production both are stored artifacts of the corpus append job
    cor_sigs = dedup.minhash_signatures(corpus, id_col, text_col, k, spread=spread)
    idx = dedup.lsh_band_signatures(cor_sigs, id_col, bands, rows)
    from gush_spark.operators.skew import cap_hot_buckets

    idx = cap_hot_buckets(idx, ["band", "band_sig"], max_bucket, capped_stats)
    cands = (
        idx.select(F.col(id_col).alias("corpus_id"), "band", "band_sig")
        .join(_maybe_broadcast(new_bands, broadcast_new), ["band", "band_sig"])
        .select("new_id", "corpus_id")
        .distinct()
    )
    sa = new_sigs.select(
        F.col(id_col).alias("new_id"),
        *[F.col(f"mh{i}").alias(f"_a{i}") for i in range(k)],
    )
    sb = cor_sigs.select(
        F.col(id_col).alias("corpus_id"),
        *[F.col(f"mh{i}").alias(f"_b{i}") for i in range(k)],
    )
    n_match = sum(
        (F.col(f"_a{i}") == F.col(f"_b{i}")).cast("int") for i in range(k)
    )
    out = (
        sb.join(_maybe_broadcast(cands, broadcast_new), "corpus_id")
        .join(_maybe_broadcast(sa, broadcast_new), "new_id")
        .select(
            "new_id",
            "corpus_id",
            (n_match.cast("double") / F.lit(k)).alias("est_jaccard"),
        )
    )
    return out.filter(F.col("est_jaccard") >= threshold)


def incremental_curate(
    new: DataFrame, corpus: DataFrame, id_col: str, text_col: str,
    threshold: float = 0.6,
    broadcast_new: bool = True, spread: int | None = 0,
    use_estimate: bool = False,
) -> DataFrame:
    """The composite append decision per new doc: drop exact dups
    (corpus or within-batch), drop near-dups of the corpus
    (jaccard ≥ threshold), and drop the higher-id side of any
    within-batch near-dup pair.

    Returns (id, in_corpus, batch_rank, near_corpus, near_batch,
    is_kept) — the full audit trail, so a curation run can report WHY
    each page was rejected (the error-channel convention of
    functions/extract.py applied to dedup).

    ``use_estimate=True`` runs BOTH near-dup verifies signature-only
    (``incremental_near_dup_estimate`` / ``minhash_estimate_pairs``) —
    the all-signature daily path where the run touches zero corpus
    text; the threshold then applies to the Jaccard ESTIMATE, so
    borderline pairs can flip within estimator noise (sd √(J(1-J)/k))
    while exact dups (estimate exactly 1.0) never do."""
    ex = incremental_exact_dedup(
        new, corpus, id_col, text_col, broadcast_new=broadcast_new, spread=spread
    )
    if use_estimate:
        corpus_pairs = incremental_near_dup_estimate(
            new, corpus, id_col, text_col, threshold=threshold,
            broadcast_new=broadcast_new, spread=spread,
        )
        batch_pairs = dedup.minhash_estimate_pairs(
            new, id_col, text_col, threshold=threshold, spread=spread
        )
    else:
        corpus_pairs = incremental_near_dup_pairs(
            new, corpus, id_col, text_col, threshold=threshold,
            broadcast_new=broadcast_new, spread=spread,
        )
        batch_pairs = dedup.ngram_jaccard_pairs(
            new, id_col, text_col, threshold=threshold, spread=spread
        )
    near_c = (
        corpus_pairs
        .select(F.col("new_id").alias(id_col))
        .distinct()
        .withColumn("_near_c", F.lit(True))
    )
    near_b = (
        batch_pairs
        .select(F.col("id_b").alias(id_col))
        .distinct()
        .withColumn("_near_b", F.lit(True))
    )
    out = (
        ex.join(_maybe_broadcast(near_c, broadcast_new), id_col, "left")
        .join(_maybe_broadcast(near_b, broadcast_new), id_col, "left")
    )
    near_corpus = F.coalesce(F.col("_near_c"), F.lit(False))
    near_batch = F.coalesce(F.col("_near_b"), F.lit(False))
    return out.select(
        F.col(id_col),
        "in_corpus",
        "batch_rank",
        near_corpus.alias("near_corpus"),
        near_batch.alias("near_batch"),
        (
            ~F.col("in_corpus")
            & (F.col("batch_rank") == 1)
            & ~near_corpus
            & ~near_batch
        ).alias("is_kept"),
    )
