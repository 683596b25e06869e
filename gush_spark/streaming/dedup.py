"""Streaming deduplication — the crawl-time analog of operators/dedup.

A 10^12-page crawl stream re-fetches the same content constantly; batch
dedup (operators/dedup.py) cleans the corpus after the fact, this stage
keeps duplicates from ever entering the sink. Built on Spark's
``dropDuplicatesWithinWatermark``: state holds one entry per distinct
key seen within the watermark horizon and is evicted as event time
advances — bounded state, unlike a plain ``dropDuplicates`` whose state
grows forever on a stream.

Scale shape: one shuffle on the 32-hex-char md5 fingerprint (16 bytes of
entropy — never the raw text/html), state partitioned like any keyed
stateful op (RocksDB-backed, changelog-checkpointed per session.py).
Duplicate pages arriving FURTHER APART than the watermark horizon are
kept — at crawl scale that residue is exactly what the batch MinHash/
exact dedup passes sweep; the two layers are complementary, not
redundant.

NEAR-dup at crawl time (this round's addition) builds on the per-row
``minhash`` array the fused featurize UDF already computes
(functions/page_features.py) — band signatures are therefore ROW-LOCAL
(no per-doc shuffle aggregation, which a streaming query couldn't chain
in front of another stateful op anyway):

- ``near_dedup_pages_stream``: dropDuplicatesWithinWatermark on the
  full band-signature digest — near-EXACT dedup (all k minhashes equal,
  jaccard ≈ 1): trivially perturbed boilerplate collapses at crawl time
  with bounded state;
- ``near_dup_candidates_stream``: the streaming twin of batch
  ``lsh_candidate_pairs`` — stateful band-bucket membership (the
  keyed-state runner, keyed by (band, band_sig)) emitting candidate
  pairs for every same-bucket co-occurrence within the watermark
  horizon. The drop decision composes downstream exactly like the batch
  pipeline (candidates → verify → cluster → canonical).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from gush_spark.config import duration_us
from gush_spark.functions.text_analysis import md5_fingerprint
from gush_spark.operators.dedup import LSH_BANDS, LSH_ROWS
from gush_spark.streaming.keyed_state import run_keyed


def with_fingerprint(pages: DataFrame, text_col: str = "text") -> DataFrame:
    """Content fingerprint column (normalized-text md5 — identical to
    the batch exact_dedup fingerprint, so stream- and batch-deduped
    corpora agree on what "same content" means)."""
    return pages.withColumn("fingerprint", md5_fingerprint(F.col(text_col)))


def dedup_pages_stream(
    pages: DataFrame,
    watermark_delay: str = "10 minutes",
    text_col: str = "text",
    extra_keys: tuple[str, ...] = (),
) -> DataFrame:
    """First-occurrence-wins streaming dedup on content fingerprint
    (+ optional extra key columns, e.g. ``("host",)`` for per-host
    dedup). Requires an event-time column ``warc_ts``; the watermark
    bounds both late data and dedup state lifetime."""
    df = with_fingerprint(pages, text_col)
    if pages.isStreaming:
        df = df.withWatermark("warc_ts", watermark_delay)
        return df.dropDuplicatesWithinWatermark(["fingerprint", *extra_keys])
    return df.dropDuplicates(["fingerprint", *extra_keys])


# ---------------------------------------------------------------------------
# streaming NEAR-dup
# ---------------------------------------------------------------------------

def _band_sig(minhash: F.Column, t: int, rows: int) -> F.Column:
    """md5 of the '|'-joined row hashes of band ``t`` — byte-identical
    encoding to the batch ``operators.dedup.lsh_band_signatures``, so
    signatures derived from the same minhash values agree across the
    stream/batch layers."""
    return F.md5(
        F.concat_ws(
            "|",
            *[
                F.element_at(minhash, t * rows + r + 1).cast("string")
                for r in range(rows)
            ],
        )
    )


def with_band_signatures(
    df: DataFrame,
    minhash_col: str = "minhash",
    bands: int = LSH_BANDS,
    rows: int = LSH_ROWS,
) -> DataFrame:
    """Adds ``band_sig0..band_sig{bands-1}`` + ``band_digest`` columns,
    all ROW-LOCAL (built-in expressions over the per-row minhash array —
    no shuffle, stream-safe in front of stateful operators). Rows with a
    NULL minhash (docs shorter than one shingle) get NULL signatures —
    guarded explicitly because concat_ws SKIPS nulls and would otherwise
    silently hash every signature-less doc into one shared bucket."""
    has_sig = F.col(minhash_col).isNotNull()
    out = df
    for t in range(bands):
        out = out.withColumn(
            f"band_sig{t}",
            F.when(has_sig, _band_sig(F.col(minhash_col), t, rows)),
        )
    return out.withColumn(
        "band_digest",
        F.when(
            has_sig,
            F.md5(F.concat_ws("|", *[F.col(f"band_sig{t}") for t in range(bands)])),
        ),
    )


def near_dedup_pages_stream(
    pages: DataFrame,
    watermark_delay: str = "10 minutes",
    minhash_col: str = "minhash",
    bands: int = LSH_BANDS,
    rows: int = LSH_ROWS,
) -> DataFrame:
    """Near-EXACT streaming dedup: first-occurrence-wins on the full
    band-signature digest (all ``bands*rows`` minhashes equal ⇒ shingle
    sets near-identical, jaccard ≈ 1) — the crawl-time guard against
    trivially perturbed boilerplate that exact-fingerprint dedup misses.

    Input needs the per-row ``minhash`` array (fused featurize UDF,
    functions/page_features.py) and event-time ``warc_ts``. Rows without
    a signature (too-short docs) pass through undeduped rather than
    collapsing into one NULL bucket. Same bounded-state story as
    ``dedup_pages_stream``: one shuffle on a 16-byte digest, state
    evicted as the watermark advances. Looser near-dup (ANY shared band)
    is ``near_dup_candidates_stream``; sub-horizon residue falls to the
    batch LSH sweep."""
    df = with_band_signatures(pages, minhash_col, bands, rows)
    df = df.withColumn(
        "_dedup_key",
        F.coalesce(F.col("band_digest"), F.concat(F.lit("nosig:"), F.col("url"))),
    )
    if pages.isStreaming:
        df = df.withWatermark("warc_ts", watermark_delay)
        out = df.dropDuplicatesWithinWatermark(["_dedup_key"])
    else:
        out = df.dropDuplicates(["_dedup_key"])
    return out.drop("_dedup_key")


NEAR_DUP_CANDIDATES_SCHEMA = T.StructType(
    [
        T.StructField("id_a", T.StringType()),
        T.StructField("id_b", T.StringType()),
        T.StructField("band", T.IntegerType()),
    ]
)

# bucket-membership state: parallel arrays ≙ list[(doc id, event ts)]
_BUCKET_STATE_SCHEMA = T.StructType(
    [
        T.StructField("ids", T.ArrayType(T.StringType())),
        T.StructField("tss", T.ArrayType(T.LongType())),
    ]
)


def _pair_rows(pdf: pd.DataFrame, ids: list, tss: list, max_bucket: int):
    """Pair every (ts,id)-ordered row against the bucket membership so
    far, growing the membership up to ``max_bucket``; returns the pair
    column lists. The bucket machine's step: it folds stream chunks into
    stored membership and, in the batch twin, a whole bucket into an
    empty one."""
    out_a, out_b = [], []
    for doc_id, ts in zip(pdf["id"], pdf["ts_us"]):
        for prior in ids:
            if prior != doc_id:
                out_a.append(prior)
                out_b.append(doc_id)
        # hot-bucket cap: membership (state AND pair fan-out per
        # newcomer) is bounded; a bucket this common is boilerplate
        # carrying no pair information (same trade as
        # operators/skew.cap_hot_buckets)
        if len(ids) < max_bucket and doc_id not in ids:
            ids.append(doc_id)
            tss.append(int(ts))
    return out_a, out_b


def near_dup_candidates_stream(
    pages: DataFrame,
    watermark_delay: str = "10 minutes",
    id_col: str = "url",
    ts_col: str = "warc_ts",
    minhash_col: str = "minhash",
    bands: int = LSH_BANDS,
    rows: int = LSH_ROWS,
    max_bucket: int = 64,
) -> DataFrame:
    """Streaming twin of batch ``lsh_candidate_pairs``: emits a
    candidate pair (id_a earlier, id_b later, band) for every pair of
    docs sharing an LSH band bucket within the watermark horizon —
    guaranteed a SUPERSET of the batch LSH pairs restricted to that
    horizon (state retention follows the dropDuplicatesWithinWatermark
    rule; entries may linger slightly longer, never shorter).

    Shape: row-local band signatures → explode to (band, band_sig) keyed
    rows (the shuffle carries id + 16-byte sig, never text) → ONE
    stateful op holding bounded bucket membership (≤ ``max_bucket``
    entries per bucket, horizon-pruned, idle buckets TTL-evicted).
    Multi-band collisions emit one pair per band — ``distinct()``
    downstream, exactly like the batch operator."""
    horizon_us = duration_us(watermark_delay)
    sig = with_band_signatures(pages, minhash_col, bands, rows)
    pairs_src = sig.filter(F.col(minhash_col).isNotNull())
    if pages.isStreaming:
        pairs_src = pairs_src.withWatermark(ts_col, watermark_delay)
    long = pairs_src.select(
        F.col(id_col).cast("string").alias("id"),
        F.col(ts_col),
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("ts_us"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("band"), F.col(f"band_sig{t}").alias("band_sig")
                    )
                    for t in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", ts_col, "ts_us", "bb.band", "bb.band_sig")

    def step(key: tuple, acc: tuple, pdf: pd.DataFrame):
        ids, tss, max_ts = acc
        pdf = pdf.sort_values(["ts_us", "id"], kind="stable")
        out_a, out_b = _pair_rows(pdf, ids, tss, max_bucket)
        pairs = pd.DataFrame({"id_a": out_a, "id_b": out_b, "band": int(key[0])})
        return (ids, tss, max(max_ts, int(pdf["ts_us"].max()))), pairs.astype({"band": "int32"})

    def save(acc: tuple, watermark_ms: int):
        # prune: an entry only matters for FUTURE same-bucket arrivals.
        # With a watermark, any future event has ts > wm, so a pair with
        # gap ≤ horizon needs the entry's ts ≥ wm - horizon — older ones
        # are provably dead (the dropDuplicatesWithinWatermark retention
        # rule). Before the first watermark, fall back to 2x horizon
        # behind the bucket-local max.
        ids, tss, max_ts = acc
        if watermark_ms:
            cutoff = watermark_ms * 1000 - horizon_us
        else:
            cutoff = max_ts - 2 * horizon_us
        keep = [i for i, t in enumerate(tss) if t >= cutoff]
        return ([ids[i] for i in keep], [tss[i] for i in keep]) if keep else None

    return run_keyed(
        long, ["band", "band_sig"], NEAR_DUP_CANDIDATES_SCHEMA, _BUCKET_STATE_SCHEMA,
        load=lambda stored: (
            ([], [], 0) if stored is None
            else (list(stored[0]), list(stored[1]), max(stored[1], default=0))
        ),
        step=step,
        save=save,
        deadline=lambda key, clock_ms: clock_ms + horizon_us // 1000 + 1,
    )
