"""Single-pass page featurization in the JVM with md5 hashes — the
oracle-parity featurizer behind the ``doc_featurize`` catalog query:
quality features, language scores, fingerprints, and a per-row MinHash
signature, every hash reproducible bit-for-bit by DuckDB's md5.

Everything but the md5 stage is a narrow column expression (no explode,
no shuffle): the words/shingles/hashes arrays are materialized once per
row as intermediate projections, and every downstream lambda references
the *bound* column — Catalyst does not CSE into lambda bodies, so
binding is what keeps this single-pass (see dedup.shingles for the
measured penalty of getting that wrong).

The streaming and scale featurizer is the fused Arrow UDF in
functions/page_features.py (crc32 hashes, same formulas); this module
exists for the hash-exact cross-engine contract.
"""

from __future__ import annotations

import hashlib

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gush_spark.functions import text_analysis as ta
from gush_spark.operators.dedup import (
    MINHASH_A,
    MINHASH_B,
    MINHASH_K,
    MINHASH_P,
    SHINGLE_K,
    _shingles_of,
)


@F.pandas_udf("struct<h: array<long>, fp60: long, rolling_fp: long>")
def _md5_hash_cols(norm: pd.Series, ws: pd.Series, sh: pd.Series) -> pd.DataFrame:
    """All md5-derived hash columns in one Arrow stage, value-identical
    to the JVM md5 expressions: hashlib md5 hex == Spark md5 == DuckDB
    md5 byte-for-byte, and the int conversions/fold are exact integer
    math. Exists because Spark's md5 expression calls
    MessageDigest.getInstance per VALUE — a synchronized provider lookup
    that convoys all 32 threads of a single JVM (measured 15x per-page
    CPU at 32 vs 8 threads, and worst-case multi-10s bench spikes);
    hashlib in separate python worker processes shares no lock."""
    h_out, fp_out, roll_out = [], [], []
    for n, w, g in zip(norm, ws, sh):
        if n is None:
            h_out.append(None)
            fp_out.append(None)
            roll_out.append(None)
            continue
        h_out.append(
            [int(hashlib.md5(x.encode()).hexdigest()[:8], 16) for x in g]
            if g is not None
            else None
        )
        fp_out.append(int(hashlib.md5(n.encode()).hexdigest()[:15], 16))
        acc = 0
        if w is not None:
            for x in w:
                acc = (
                    acc * ta.ROLL_MUL
                    + int(hashlib.md5(x.encode()).hexdigest()[:7], 16)
                ) % ta.ROLL_MOD
        roll_out.append(acc)
    return pd.DataFrame({"h": h_out, "fp60": fp_out, "rolling_fp": roll_out})


def featurize(df: DataFrame, text_col: str, hash_fn: str = "md5_arrow") -> DataFrame:
    """Append quality/lang/fingerprint/minhash columns in one projection
    chain. Null text rows get null features (error rows from the
    extractor flow through untouched — P10 error-channel convention).

    ``hash_fn`` picks where the md5 values are computed:
    - ``"md5_arrow"`` (default): one vectorized Arrow stage (hashlib per
      python worker process — no shared JVM lock), sidestepping the
      MessageDigest convoy of Spark's md5 expression.
    - ``"md5"``: the all-JVM reference the equality test pins
      ``"md5_arrow"`` against.
    """
    if hash_fn not in ("md5_arrow", "md5"):
        raise ValueError(f"hash_fn must be 'md5_arrow' or 'md5', got {hash_fn!r}")
    norm = ta.norm_text(F.col(text_col))
    with_norm = df.withColumn("_norm", norm).withColumn(
        "_ws", F.split(F.col("_norm"), " ")
    )
    lang_sc = ta.lang_scores(F.col(text_col), ws=F.col("_ws"))
    langs = sorted(ta.STOPWORDS)
    with_sc = with_norm
    for lang in langs:
        with_sc = with_sc.withColumn(f"_sc_{lang}", lang_sc[f"score_{lang}"])
    with_sh = with_sc.withColumn("_sh", _shingles_of(F.col("_ws"), SHINGLE_K))
    # one hash per shingle, bound once; 32-bit int form
    if hash_fn == "md5_arrow":
        with_h = with_sh.withColumn(
            "_md5c", _md5_hash_cols(F.col("_norm"), F.col("_ws"), F.col("_sh"))
        ).withColumn("_h", F.col("_md5c.h"))
        fp60_col = F.col("_md5c.fp60")
        roll_col = F.col("_md5c.rolling_fp")
        extra_drop = ["_md5c"]
    else:
        _md5_int = lambda s, n: F.conv(F.substring(F.md5(s), 1, n), 16, 10).cast("long")
        with_h = with_sh.withColumn(
            "_h", F.transform(F.col("_sh"), lambda s: _md5_int(s, 8))
        )
        fp60_col = _md5_int(F.col("_norm"), 15)
        roll_col = F.aggregate(
            F.col("_ws"),
            F.lit(0).cast("long"),
            lambda acc, w: (acc * F.lit(ta.ROLL_MUL) + ta.word_hash28(w))
            % F.lit(ta.ROLL_MOD),
        )
        extra_drop = []

    feats = ta.quality_features(F.col(text_col), norm=F.col("_norm"), ws=F.col("_ws"))
    pred_lang = ta.argmax_lang({f"score_{l}": F.col(f"_sc_{l}") for l in langs})
    mh = [
        F.array_min(
            F.transform(
                F.col("_h"),
                lambda h: (F.lit(MINHASH_A[j]) * h + F.lit(MINHASH_B[j]))
                % F.lit(MINHASH_P),
            )
        ).alias(f"mh{j}")
        for j in range(MINHASH_K)
    ]
    return with_h.select(
        "*",
        feats["quality_score"].alias("quality_score"),
        pred_lang.alias("pred_lang"),
        fp60_col.alias("fp60"),
        roll_col.alias("rolling_fp"),
        F.array(*mh).alias("minhash"),
    ).drop("_norm", "_ws", "_sh", "_h", *extra_drop, *[f"_sc_{l}" for l in langs])
