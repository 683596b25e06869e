"""Exact heavy hitters over an exploding key universe — the two-pass
Misra-Gries pattern (Misra & Gries 1982; the batched decrement form of
Demaine et al. 2002): pass 1 runs a bounded-memory frequent-items
summary PER PARTITION (``m`` counters, Arrow-batched pandas merges —
never a per-row loop) and emits at most ``m`` candidate grams per
partition plus that partition's slot count; pass 2 exact-counts ONLY
the candidate set (a broadcast semi-join) and keeps grams whose count
clears the global share threshold.

Why this exists next to trending.py (plain groupBy counts) and
sketches.py (CMS): those are fine while the distinct-key universe fits
a shuffle, but "top n-grams of a 10^12-page crawl" has a key universe
~the corpus itself — a groupBy(gram) exchange carries every distinct
n-gram once per partition. Here the wire carries at most
``partitions × m`` candidate strings plus the exact counts of that
tiny set; the n-gram universe never crosses a shuffle.

Correctness is EXACT and partition-invariant: the Misra-Gries
guarantee (any gram with local count > local_slots/(m+1) survives the
summary) plus pigeonholing (a globally heavy gram — count·(m+1) >
total — must be locally heavy in ≥1 partition) make the candidate set
a superset of the true heavy hitters under ANY partitioning; the final
filter re-counts exactly, so false candidates drop out and the result
is the same rows a plain ``GROUP BY g HAVING count·(m+1) > total``
produces — which is exactly the DuckDB oracle.

No reference analog (gush's windows count events per batch,
`/root/reference/src/main/scala/io/simao/gush/cep/Cep.scala:31`);
this is the driver brief's training-pipeline surface (corpus phrase
inventories, boilerplate discovery, contamination screening).

Batch-decrement bound: each decrement round subtracts the (m+1)-th
largest residual ``d`` from every kept gram and drops the rest; a
round only fires when > m grams are live, so ≥ (m+1)·d mass leaves per
round and Σd ≤ local_slots/(m+1) — the classic MG undercount bound,
which is all the survival guarantee needs.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gush_spark.functions.text_analysis import words_of

HH_SCALE = 1_000_000  # fixed-point share scale (1.0 == 1e6)


def _gram_expr(arr_name: str, n: int):
    """Word-``n``-gram strings from a BOUND words-array column named
    ``arr_name`` (bind with ``withColumn`` first — the CSE discipline
    from dedup.shingles, so the split runs once, not once per element).
    Callers must guard ``size >= n`` (Spark's ``sequence(0, -1)``
    DESCENDS rather than returning empty — the trigram_lang_id gotcha)."""
    joined = ", ".join(f"{arr_name}[i + {j}]" for j in range(n))
    return F.expr(
        f"transform(sequence(0, size({arr_name}) - {n}),"
        f" i -> concat_ws(' ', {joined}))"
    )


def ngram_slots(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", *, n: int = 3
) -> DataFrame:
    """One row per word-``n``-gram slot of the normalized text — the
    map-only shifted-window form (``transform(sequence(...))`` over the
    split array, all codegen): zero shuffle, zero Python."""
    return (
        docs.withColumn("_ws", words_of(F.col(text_col)))
        .filter(F.size("_ws") >= n)
        .select(F.explode(_gram_expr("_ws", n)).alias("gram"))
    )


def mg_merge(residual: pd.Series, counts: pd.Series, m: int) -> pd.Series:
    """One Misra-Gries merge step: add a batch's value counts into the
    residual summary, then (if more than ``m`` grams are live) subtract
    the (m+1)-th largest residual from all and keep the positive ones.
    Vectorized Series ops only — the MG survival bound (Agarwal et al.,
    mergeable summaries) holds under any merge order."""
    residual = residual.add(counts, fill_value=0).astype("int64")
    if len(residual) > m:
        d = residual.nlargest(m + 1).iloc[-1]
        residual = residual[residual > d] - d
    return residual


def _mg_summary(m: int):
    """Per-partition bounded-memory frequent-items pass: merge each
    Arrow batch's value_counts into one residual Series (vectorized
    add), and when more than ``m`` grams are live, subtract the
    (m+1)-th largest residual from all and keep the positive ones.
    Emits the surviving grams plus one sentinel row (gram NULL)
    carrying the partition's slot count, so the grand total rides the
    same single pass."""

    def mg(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        residual = pd.Series(dtype="int64")
        slots = 0
        for pdf in batches:
            slots += len(pdf)
            residual = mg_merge(residual, pdf["gram"].value_counts(), m)
        if slots == 0:
            return
        out = pd.DataFrame({"gram": residual.index.astype(object)})
        out["slots"] = 0
        sentinel = pd.DataFrame({"gram": [None], "slots": [slots]})
        yield pd.concat([out, sentinel], ignore_index=True)

    return mg


def heavy_hitter_ngrams(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    n: int = 3,
    inv_share: int = 4000,
    counters: int | None = None,
    scale: int = HH_SCALE,
) -> DataFrame:
    """Exact grams with ``count · inv_share > total slots`` (i.e. share
    strictly above ``1/inv_share``), with their exact counts and the
    fixed-point share ``count·scale div total``. ``counters`` is the
    per-partition summary size ``m`` and must be ≥ ``inv_share - 1``
    for the survival guarantee (default: exactly that).

    Two corpus passes: (1) MG summaries + per-partition slot totals —
    at most ``partitions × m`` candidate rows leave pass 1; (2) exact
    counts of candidate grams only, behind a broadcast semi-join that
    prunes every other gram map-side. The result is
    partition-count-invariant (pinned by test)."""
    m = counters if counters is not None else inv_share - 1
    if m < inv_share - 1:
        raise ValueError(
            f"counters={m} breaks the MG guarantee for inv_share={inv_share}"
            f" (need >= {inv_share - 1})"
        )
    grams = ngram_slots(docs, id_col, text_col, n=n)
    # pass-1 output is tiny (≤ partitions·m candidate rows + one
    # sentinel per partition) but feeds BOTH the candidate set and the
    # grand total — persist it so the corpus-sized MG pass runs once.
    # Evictable cache, never corpus-sized; recompute-on-loss is safe
    # (plain lineage, no localCheckpoint severing — the dedup.py
    # fault-tolerance lesson).
    pass1 = grams.mapInPandas(_mg_summary(m), "gram string, slots long").persist()
    candidates = pass1.filter(F.col("gram").isNotNull()).select("gram").distinct()
    total = pass1.groupBy().agg(F.sum("slots").alias("total_slots"))
    exact = (
        grams.join(F.broadcast(candidates), "gram", "left_semi")
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        exact.crossJoin(F.broadcast(total))
        .filter(F.col("n") * F.lit(inv_share) > F.col("total_slots"))
        .select(
            "gram",
            "n",
            "total_slots",
            F.expr(f"n * {scale} div total_slots").alias("share_scaled"),
        )
    )
