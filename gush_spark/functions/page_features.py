"""Fused extract+featurize pandas UDF — the scale-path per-page worker.

One Arrow batch in, one pass per page: html→text extraction (the exact
pinned spec from functions/extract.py) plus the per-page features
(quality, lang, fingerprints, MinHash, SimHash) computed in
numpy/zlib-crc32 inside the same Python worker.

Why a fused Python stage instead of the JVM column expressions in
operators/featurize.py: Spark evaluates higher-order array lambdas
(transform/aggregate) in the *interpreted* expression path — per-element
boxing through BoxesRunTime/PhysicalDataType (confirmed via jstack) —
whose memory traffic stops scaling beyond ~8 threads in one JVM.
Arrow-batched Python workers are separate processes and scale like the
hardware allows. This UDF is the only streaming and scale featurizer;
operators/featurize.py stays only as the md5 oracle-parity path behind
the ``doc_featurize`` catalog query. Same formulas (for non-empty
text quality_score and pred_lang agree value for value; empty text gets
null features here), different hash backend (crc32), so the hash
columns differ between the two implementations by design.
"""

from __future__ import annotations

import re
import zlib
from decimal import ROUND_HALF_UP, Decimal
from typing import Iterator

import numpy as np
import pandas as pd

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from gush_spark.functions.extract import extract_segments
from gush_spark.functions.text_analysis import ROLL_MOD, ROLL_MUL, STOPWORDS
from gush_spark.operators.dedup import (
    MINHASH_A,
    MINHASH_B,
    MINHASH_K,
    MINHASH_P,
    SHINGLE_K,
)

_WS_RE = re.compile(r"\s+")
_PUNCT_RE = re.compile(r"[^a-z0-9 ]")
_STOP_SETS = {lang: frozenset(ws) for lang, ws in sorted(STOPWORDS.items())}
_LANGS = sorted(STOPWORDS)
_A = np.array(MINHASH_A, dtype=np.int64)[:, None]
_B = np.array(MINHASH_B, dtype=np.int64)[:, None]
_MICRO = Decimal("1e-6")

PAGE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("text", T.StringType()),
        T.StructField("n_segments", T.IntegerType()),
        T.StructField("extract_error", T.StringType()),
        T.StructField("quality_score", T.DoubleType()),
        T.StructField("pred_lang", T.StringType()),
        T.StructField("fp60", T.LongType()),
        T.StructField("rolling_fp", T.LongType()),
        T.StructField("minhash", T.ArrayType(T.LongType())),
        T.StructField("simhash", T.LongType()),
    ]
)

_EMPTY = (None, None, None, None, None, None, None)


def _crc(s: str) -> int:
    return zlib.crc32(s.encode("utf-8"))


def _round6(x: float) -> float:
    """Half-up on the shortest decimal form, as Spark's and DuckDB's
    ``round(x, 6)`` do; Python's ``round`` goes half-even on the binary
    value and differs on ties."""
    return float(Decimal(repr(x)).quantize(_MICRO, ROUND_HALF_UP))


def featurize_text(text: str) -> tuple:
    """(quality, pred_lang, fp60, rolling_fp, minhash, simhash, norm)
    for one document — same formulas as the JVM featurize, crc32 hash
    backend."""
    norm = _WS_RE.sub(" ", text.lower()).strip()
    if not norm:
        return _EMPTY
    words = norm.split(" ")
    n = len(words)
    distinct = set(words)
    nd = len(distinct)
    n_chars = len(norm)

    mtl = (n_chars - (n - 1)) / n
    punct = len(_PUNCT_RE.findall(norm)) / n_chars
    stop_en = len(distinct & _STOP_SETS["en"]) / nd
    dr = nd / n
    quality = _round6(
        0.25 * min(mtl / 8.0, 1.0)
        + 0.25 * (1.0 - min(punct * 4.0, 1.0))
        + 0.25 * min(stop_en * 5.0, 1.0)
        + 0.25 * dr
    )

    scores = [len(distinct & _STOP_SETS[lang]) / nd for lang in _LANGS]
    pred_lang = _LANGS[int(np.argmax(scores))]

    fp60 = _crc(norm) << 28 | (_crc(norm[::-1]) & 0xFFFFFFF)  # 60-bit
    roll = 0
    word_h = np.fromiter((_crc(w) for w in words), dtype=np.int64, count=n)
    for h in word_h & 0xFFFFFFF:
        roll = (roll * ROLL_MUL + int(h)) % ROLL_MOD

    if n >= SHINGLE_K:
        sh = {
            " ".join(words[i : i + SHINGLE_K]) for i in range(n - SHINGLE_K + 1)
        }
        h32 = np.fromiter((_crc(s) for s in sh), dtype=np.int64, count=len(sh))
        minhash = ((_A * h32[None, :] + _B) % MINHASH_P).min(axis=1).tolist()
    else:
        minhash = None

    bits = ((word_h[:, None] >> np.arange(32)) & 1) * 2 - 1
    sums = bits.sum(axis=0)
    simhash = int(((sums > 0).astype(np.int64) << np.arange(32)).sum())

    return quality, pred_lang, fp60, roll, minhash, simhash, norm


def _page_features_frame(htmls: pd.Series) -> pd.DataFrame:
    rows = []
    for h in htmls:
        if h is None:
            rows.append((None, None, "null html") + _EMPTY[:6])
            continue
        segments, err = extract_segments(bytes(h))
        if err is not None:
            rows.append((None, None, err) + _EMPTY[:6])
            continue
        text = "\n".join(segments)
        q, lang, fp60, roll, mh, sim, _ = featurize_text(text)
        rows.append((text, len(segments), None, q, lang, fp60, roll, mh, sim))
    return pd.DataFrame(
        rows, columns=[f.name for f in PAGE_FEATURES_SCHEMA.fields]
    ).astype({"n_segments": "Int32", "fp60": "Int64", "rolling_fp": "Int64",
              "simhash": "Int64"})


@F.pandas_udf(PAGE_FEATURES_SCHEMA)
def page_features_udf(htmls: pd.Series) -> pd.DataFrame:
    return _page_features_frame(htmls)


def with_page_features(df: DataFrame, html_col: str = "html") -> DataFrame:
    """Single fused Arrow stage: extraction + featurization columns."""
    ext = page_features_udf(F.col(html_col)).alias("_pf")
    return (
        df.withColumn("_pf", ext)
        .select(
            "*",
            F.col("_pf.text").alias("extracted_text"),
            F.col("_pf.n_segments").alias("n_segments"),
            F.col("_pf.extract_error").alias("extract_error"),
            F.col("_pf.quality_score").alias("quality_score"),
            F.col("_pf.pred_lang").alias("pred_lang"),
            F.col("_pf.fp60").alias("fp60"),
            F.col("_pf.rolling_fp").alias("rolling_fp"),
            F.col("_pf.minhash").alias("minhash"),
            F.col("_pf.simhash").alias("simhash"),
        )
        .drop("_pf")
    )
