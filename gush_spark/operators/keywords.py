"""Keyword extraction over the corpus: per-document TF-IDF and BM25
top-k terms, and the cluster-topic report that labels k-means embedding
cells with their characteristic vocabulary (the "corpus map" a
training-data curator reads before choosing mixture weights).

No reference analog (the reference's text surface stops at parsing,
`src/main/scala/io/simao/gush/binlog/SqlToBinlog.scala`); this family
is part of the LLM-pipeline surface the driver brief asks for.

Scale shape (shared by all three):
- tokenization is the map-only ``words_of`` split — raw text NEVER
  crosses an exchange; the first shuffle carries reduced
  ``(doc, term, partial count)`` rows, map-side combined;
- document frequencies are a second vocabulary-sized aggregation keyed
  by term;
- the tf⋈df join is a plain equi-join on term — Catalyst/AQE broadcasts
  it when the vocabulary is small and shuffles when it is web-scale
  (billions of distinct terms): exactly the decision the optimizer
  should own, so we do not force either side;
- corpus scalars (N docs, total tokens) ride a 1-row broadcast
  nested-loop join, the same pattern as DSIR's totals;
- top-k per document/cell is a rank-1..k filter that plans as
  WindowGroupLimit below the exchange (audit-pinned for the catalog
  queries).

Cross-engine exactness: counts are longs; every transcendental (the
idf logs) is rounded to 6dp immediately, and every subsequent
arithmetic step is a single correctly-rounded IEEE op on identical
inputs written in the same parenthesization on both engines — the same
discipline as the cosine operators (similarity.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from gush_spark.functions.text_analysis import words_of

# BM25 constants (Robertson/Sparck-Jones defaults; Lucene's idf form).
BM25_K1 = 1.2
BM25_B = 0.75


def doc_term_freqs(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """``(id, term, tf)`` — whitespace tokens of the normalized text
    (the shared ``norm_text`` canonical form), empty terms dropped.
    Map-only until the (id, term)-keyed count."""
    return (
        docs.select(
            F.col(id_col), F.explode(words_of(F.col(text_col))).alias("term")
        )
        .filter(F.col("term") != "")
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def _doc_count(docs: DataFrame) -> DataFrame:
    """1-row ``(_n)`` scalar frame for the broadcast cross join."""
    return docs.select(F.count(F.lit(1)).alias("_n"))


def tfidf_top_terms(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    k: int = 5,
    min_df: int = 2,
    max_df_frac: float = 0.5,
) -> DataFrame:
    """Per-document top-``k`` terms by smoothed TF-IDF:
    ``tf · round(ln((N+1)/(df+1)) + 1, 6)`` (the sklearn-style smooth
    idf — never negative, never divides by zero). ``min_df`` prunes
    hapaxes/noise; ``max_df_frac`` is the corpus-relative stopword cut
    (a term in more than that fraction of documents carries no signal).
    Ties break on the term string so the ranking is total and
    reproducible. Output ``(id, term, tf, df, tfidf, rank)``,
    rank 1..k."""
    tf = doc_term_freqs(docs, id_col, text_col)
    df_tab = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(df_tab, "term")
        .crossJoin(F.broadcast(_doc_count(docs)))
        .filter(
            (F.col("df") >= F.lit(min_df))
            & (F.col("df") <= F.col("_n") * F.lit(max_df_frac))
        )
        .select(
            F.col(id_col),
            "term",
            "tf",
            "df",
            F.round(
                F.col("tf")
                * F.round(
                    F.log(
                        (F.col("_n") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))
                    )
                    + F.lit(1.0),
                    6,
                ),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def bm25_top_terms(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    k: int = 5,
    min_df: int = 2,
    max_df_frac: float = 0.5,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Per-document top-``k`` terms by BM25 term weight — TF-IDF with
    saturation (a term's 50th occurrence adds almost nothing) and
    document-length normalization (long pages don't win by volume):

        idf   = round(ln(1 + (N - df + 0.5)/(df + 0.5)), 6)
        score = round(idf · (tf·(k1+1)) / (tf + k1·((1-b) + b·dl/avgdl)), 6)

    ``dl`` is the document's token count and ``avgdl`` total tokens / N
    over ALL documents (empty documents count in the denominator — they
    are corpus mass). The constants ``k1+1`` and ``1-b`` are folded in
    Python and inlined as literals so both engines evaluate the
    identical expression tree. Output ``(id, term, tf, df, dl, score,
    rank)``."""
    tf = doc_term_freqs(docs, id_col, text_col)
    df_tab = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    dl = tf.groupBy(id_col).agg(F.sum("tf").alias("dl"))
    totals = docs.select(F.count(F.lit(1)).alias("_n")).crossJoin(
        tf.select(F.sum("tf").alias("_toks"))
    )
    k1p1, one_minus_b = k1 + 1.0, 1.0 - b
    idf = F.round(
        F.log(
            F.lit(1.0)
            + (F.col("_n") - F.col("df") + F.lit(0.5))
            / (F.col("df") + F.lit(0.5))
        ),
        6,
    )
    avgdl = F.col("_toks") / F.col("_n")
    score = F.round(
        idf
        * (
            (F.col("tf") * F.lit(k1p1))
            / (
                F.col("tf")
                + F.lit(k1)
                * (F.lit(one_minus_b) + F.lit(b) * (F.col("dl") / avgdl))
            )
        ),
        6,
    )
    scored = (
        tf.join(df_tab, "term")
        .join(dl, id_col)
        .crossJoin(F.broadcast(totals))
        .filter(
            (F.col("df") >= F.lit(min_df))
            & (F.col("df") <= F.col("_n") * F.lit(max_df_frac))
        )
        .select(F.col(id_col), "term", "tf", "df", "dl", score.alias("score"))
    )
    w = Window.partitionBy(id_col).orderBy(F.col("score").desc(), F.col("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def cluster_topic_report(
    docs: DataFrame,
    vectors: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    n_cells: int = 12,
    iters: int = 1,
    k: int = 5,
    spread: int | None = 0,
) -> DataFrame:
    """Label each k-means embedding cell with its characteristic terms:
    per (cell, term) frequency, cluster-frequency idf (in how many of
    the ``n_cells`` cells does the term appear — a term in every cell
    describes the corpus, not the cell), top-``k`` per cell by
    ``tf_c · round(ln((C+1)/(cf+1)) + 1, 6)``, ties on term. Output
    ``(cell, term, tf, cf, score, rank)``.

    The cells come from the deterministic quantized-assignment k-means
    (``similarity.kmeans_cells(assign_quantized=True)``) so the report
    is bit-reproducible and oracle-checkable end to end. Only reduced
    ``(id, term, tf)`` and ``(id, cell)`` rows ever shuffle — the text
    explode stays map-side, the vectors stay inside the assignment's
    broadcast join."""
    from gush_spark.operators.similarity import kmeans_cells

    assignments, _ = kmeans_cells(
        vectors, vec_id_col, vec_col,
        n_cells=n_cells, iters=iters, assign_quantized=True, spread=spread,
    )
    tf = doc_term_freqs(docs, id_col, text_col)
    cell_tf = (
        tf.join(
            assignments.withColumnRenamed(vec_id_col, id_col), id_col
        )
        .groupBy("cell", "term")
        .agg(F.sum("tf").alias("tf"))
    )
    cf_tab = cell_tf.groupBy("term").agg(F.count(F.lit(1)).alias("cf"))
    scored = cell_tf.join(cf_tab, "term").select(
        "cell",
        "term",
        "tf",
        "cf",
        F.round(
            F.col("tf")
            * F.round(
                F.log(
                    (F.lit(float(n_cells)) + F.lit(1.0))
                    / (F.col("cf") + F.lit(1.0))
                )
                + F.lit(1.0),
                6,
            ),
            6,
        ).alias("score"),
    )
    w = Window.partitionBy("cell").orderBy(F.col("score").desc(), F.col("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def bm25_search(
    docs: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    k: int = 10,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Keyword search: top-``k`` documents for a set of query terms by
    summed BM25 term weight — the "show me the docs about X" lookup a
    curator runs while debugging a corpus (and the retrieval baseline
    ANN is measured against). Duplicate query terms count once (the IN
    filter has set semantics — standard BM25 drops query-side term
    multiplicity anyway at these defaults).

    Scoring matches ``bm25_top_terms`` per term; per-doc accumulation
    is exact: each term's score is scaled to an integer micro-score
    (round(score·10^6) as BIGINT), summed — order-free — and divided
    once at the end, so engines can't diverge on float addition order.

    Scale shape: the query-term IN filter sits on the tf aggregation's
    grouping column, so Catalyst pushes it below the join and only the
    |query| postings lists flow into scoring; df/dl/totals are corpus
    stats (full pass here — at 10^12 docs precompute them once as an
    inverted-index table, the corpus_band_index analog, and this
    function's plan works unchanged on the materialized form). Top-k
    documents ride orderBy+limit (TakeOrderedAndProject, per-partition
    heads — never a global sort)."""
    tf = doc_term_freqs(docs, id_col, text_col)
    df_tab = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    dl = tf.groupBy(id_col).agg(F.sum("tf").alias("dl"))
    totals = docs.select(F.count(F.lit(1)).alias("_n")).crossJoin(
        tf.select(F.sum("tf").alias("_toks"))
    )
    k1p1, one_minus_b = k1 + 1.0, 1.0 - b
    idf = F.round(
        F.log(
            F.lit(1.0)
            + (F.col("_n") - F.col("df") + F.lit(0.5))
            / (F.col("df") + F.lit(0.5))
        ),
        6,
    )
    avgdl = F.col("_toks") / F.col("_n")
    term_score = idf * (
        (F.col("tf") * F.lit(k1p1))
        / (
            F.col("tf")
            + F.lit(k1)
            * (F.lit(one_minus_b) + F.lit(b) * (F.col("dl") / avgdl))
        )
    )
    micro = F.round(term_score * F.lit(1000000.0)).cast("long")
    matched = (
        tf.filter(F.col("term").isin(list(query_terms)))
        .join(df_tab, "term")
        .join(dl, id_col)
        .crossJoin(F.broadcast(totals))
        .select(F.col(id_col), micro.alias("_micro"))
    )
    agg = matched.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_matched"),
        F.sum("_micro").alias("score_micro"),
    )
    top = agg.orderBy(F.desc("score_micro"), id_col).limit(k)
    w = Window.orderBy(F.desc("score_micro"), id_col)
    return top.select(
        id_col,
        "n_matched",
        "score_micro",
        (F.col("score_micro").cast("double") / F.lit(1000000.0)).alias("score"),
        F.row_number().over(w).cast("long").alias("rank"),
    )


LIFT_SCALE = 1_000_000  # fixed-point lift scale (1.0 == 1e6)


def collocation_lift(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    min_count: int = 5,
    k: int = 200,
    scale: int = LIFT_SCALE,
) -> DataFrame:
    """Corpus collocations: the top-``k`` adjacent word pairs by
    pointwise-mutual-information LIFT — ``P(w1 w2) / (P(w1·)·P(·w2))``,
    the classic collocation statistic (Church & Hanks 1990) with the
    log dropped so it stays in exact BIGINT fixed point:
    ``lift_scaled = c_xy · T · scale div (c_x· · c_·y)`` where the
    margins are the bigram table's own row/column sums (so they add to
    ``T`` exactly). The "what multi-word units does this corpus
    repeat" report a curator reads next to frequent_phrases_hashed
    (raw counts) and bpe_pair_stats (merge candidates) — lift surfaces
    pairs that are *bound* to each other, not merely common.

    Scale shape:
    - bigram slots come from lm.py's map-only
      ``arrays_zip(ws, slice(ws, 2, n-1))`` + explode — zero shuffle,
      zero interpreted lambda — and immediately collapse into the
      ``(w1, w2)``-keyed count, map-side combined, so the first
      exchange carries one row per DISTINCT pair per partition;
    - both margins are window sums OVER THE REDUCED PAIR FRAME
      (vocabulary-bounded, partitioned by a word — never the corpus),
      chained so the corpus is tokenized once for all three counts;
    - the grand total is a 1-row aggregate broadcast back (the
      quality_decile_assignment pattern — one extra reduced pass; a
      10^12-page run materializes the pair table once and derives all
      margins from it);
    - ``min_count`` prunes AFTER the margins (probabilities need the
      full mass) but BEFORE the division and the top-k, and the top-k
      is orderBy+limit — TakeOrderedAndProject per-partition heads,
      never a global sort.

    Exactness: every operand is a non-negative BIGINT and the one
    division is truncating (Spark ``div`` == DuckDB ``//`` on
    non-negatives, the graph.py discipline), so the driver's value
    hash cannot diverge. Overflow budget: ``c_xy · T · scale < 2^63``
    — with scale=10^6 that holds while ``c_xy · T < 9.2·10^12``; a
    corpus past that passes a smaller ``scale`` (the ranking only
    needs relative order) or pre-prunes with ``min_count``.
    """
    from gush_spark.operators.lm import zipped_token_pairs

    pairs = zipped_token_pairs(docs, id_col, text_col).filter(
        F.col("pr._nxt").isNotNull()
        & (F.col("pr._ws") != "")
        & (F.col("pr._nxt") != "")
    )
    pc = pairs.groupBy(
        F.col("pr._ws").alias("w1"), F.col("pr._nxt").alias("w2")
    ).agg(F.count(F.lit(1)).alias("pair_count"))
    total = pc.agg(F.sum("pair_count").alias("total_pairs"))
    margins = pc.withColumn(
        "left_count", F.sum("pair_count").over(Window.partitionBy("w1"))
    ).withColumn(
        "right_count", F.sum("pair_count").over(Window.partitionBy("w2"))
    )
    scored = (
        margins.filter(F.col("pair_count") >= min_count)
        .crossJoin(F.broadcast(total))
        .select(
            "w1",
            "w2",
            "pair_count",
            "left_count",
            "right_count",
            "total_pairs",
            F.expr(
                f"pair_count * total_pairs * {scale}"
                " div (left_count * right_count)"
            ).alias("lift_scaled"),
        )
    )
    return scored.orderBy(
        F.desc("lift_scaled"), F.desc("pair_count"), "w1", "w2"
    ).limit(k)


def blockmax_postings(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    block_size: int = 128,
    min_df: int = 2,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Block-max postings index — the WAND/MaxScore skipping structure
    (Ding & Suel, SIGIR 2011) under every production keyword engine:
    each term's posting list, ordered by doc id, is cut into blocks of
    ``block_size`` documents, and each block carries its doc-id range
    and its MAXIMUM BM25 micro-score:

        (term, block, n_docs, doc_lo, doc_hi, block_max_micro)

    Query time (not materialized here — bm25_search is the exhaustive
    scorer this index accelerates): the Σ-of-block-maxima upper bound
    lets the scorer SKIP any block that cannot reach the current
    k-th score, which is how a 10^12-page index answers top-k without
    touching most postings. This operator is the build side: what the
    search tier materializes next to the corpus, refreshed per crawl
    cycle.

    Exactness: per-posting scores are the bm25_search micro-integers
    (round(score·10^6) as BIGINT — the idf/k1/b expression tree is
    shared), block boundaries come from a per-TERM row_number over
    doc id (a total order), and the block rollup is min/max/count —
    all order-free. Hash-exact.

    Scale shape: the posting explode shuffles (term, doc, tf) reduced
    rows once (the df/dl stats ride the same tf frame); the block
    window partitions BY TERM — posting lists sort independently, the
    classic index-build parallelism — and hot terms are bounded by
    ``max_df_frac``-style pruning upstream if needed (here ``min_df``
    trims the hapax tail, which at web scale is most of the
    vocabulary)."""
    tf = doc_term_freqs(docs, id_col, text_col)
    df_tab = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    dl = tf.groupBy(id_col).agg(F.sum("tf").alias("dl"))
    totals = docs.select(F.count(F.lit(1)).alias("_n")).crossJoin(
        tf.select(F.sum("tf").alias("_toks"))
    )
    k1p1, one_minus_b = k1 + 1.0, 1.0 - b
    idf = F.round(
        F.log(
            F.lit(1.0)
            + (F.col("_n") - F.col("df") + F.lit(0.5))
            / (F.col("df") + F.lit(0.5))
        ),
        6,
    )
    avgdl = F.col("_toks") / F.col("_n")
    term_score = idf * (
        (F.col("tf") * F.lit(k1p1))
        / (
            F.col("tf")
            + F.lit(k1)
            * (F.lit(one_minus_b) + F.lit(b) * (F.col("dl") / avgdl))
        )
    )
    micro = F.round(term_score * F.lit(1000000.0)).cast("long")
    postings = (
        tf.join(df_tab, "term")
        .filter(F.col("df") >= F.lit(int(min_df)))
        .join(dl, id_col)
        .crossJoin(F.broadcast(totals))
        .select("term", F.col(id_col), micro.alias("_micro"))
    )
    w = Window.partitionBy("term").orderBy(id_col)
    blocked = postings.withColumn(
        "_rn", F.row_number().over(w).cast("long")
    ).withColumn(
        "block", F.expr(f"(_rn - 1) DIV {int(block_size)}").cast("long")
    )
    return (
        blocked.groupBy("term", "block")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min(id_col).cast("long").alias("doc_lo"),
            F.max(id_col).cast("long").alias("doc_hi"),
            F.max("_micro").cast("long").alias("block_max_micro"),
        )
    )
