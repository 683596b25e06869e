"""Streaming NEAR-dup (VERDICT r2 item 5): the band-signature layer on
top of exact-fingerprint stream dedup.

- ``near_dedup_pages_stream``: near-exact first-wins drop on the full
  band-signature digest via dropDuplicatesWithinWatermark;
- ``near_dup_candidates_stream``: stateful band-bucket pair emitter —
  stream candidates must be a SUPERSET of the batch LSH candidate pairs
  restricted to one watermark horizon, and a subset of the unrestricted
  batch pairs (state never invents a collision).
"""

from __future__ import annotations

import datetime as dt
import os
import time

import pytest
from pyspark.sql import functions as F

from gush_spark.config import duration_us as _delay_us
from gush_spark.functions.page_features import with_page_features
from gush_spark.sources.fixtures import render_html
from gush_spark.streaming.dedup import (
    near_dedup_pages_stream,
    near_dup_candidates_stream,
    with_band_signatures,
)

BASE = dt.datetime(2024, 1, 1, 12, 0, 0)
HORIZON = "10 minutes"
HORIZON_US = 600 * 1_000_000

# near-dup families: same long base text with one word swapped (high
# jaccard → bands collide), plus unrelated singles and a too-short doc
_COMMON = (
    "alpha beta gamma delta epsilon zeta eta theta iota kappa "
    "lam mu nu xi omicron pi rho sigma tau upsilon"
)
_DOCS = [
    # (url suffix, minutes offset, text)
    (1, 0, _COMMON),
    (2, 1, _COMMON),                              # exact dup of 1 (same chunk)
    (3, 4, _COMMON.replace("kappa", "kappa2")),   # near dup, chunk 2
    (4, 5, "totally different words entirely unrelated content one two three"),
    (5, 9, _COMMON.replace("sigma", "sigma9")),   # near dup, chunk 3
    (6, 9, "xy"),                                 # too short: no signature
    (7, 25, _COMMON),                             # same family, BEYOND horizon of 1/2
]


def _pages_rows():
    rows = []
    for i, mins, text in _DOCS:
        rows.append(
            (
                f"https://h.example/p/{i}",
                BASE + dt.timedelta(minutes=mins),
                bytes(render_html([text])),
                None,
                "en",
                "plain",
            )
        )
    return rows


def _chunked_pages_dir(spark, tmp_path, chunks):
    """Write pages rows as one parquet file per chunk with pinned
    ascending mtimes (the file source replays in mtime order)."""
    from gush_spark.streaming.source import PAGES_SCHEMA

    src = tmp_path / "pages"
    src.mkdir()
    rows = _pages_rows()
    now = time.time()
    import shutil

    for ci, idxs in enumerate(chunks):
        d = src / f"c{ci}"
        spark.createDataFrame([rows[i] for i in idxs], PAGES_SCHEMA).coalesce(
            1
        ).write.parquet(str(d))
        f = sorted(d.rglob("*.parquet"))[0]
        dst = src / f"part-{ci}.parquet"
        shutil.copy(f, dst)
        os.utime(dst, (now + ci, now + ci))
        shutil.rmtree(d)
    return str(src)


def test_delay_us_parses_units():
    assert _delay_us("10 minutes") == 600 * 1_000_000
    assert _delay_us("90 seconds") == 90 * 1_000_000
    assert _delay_us("2 hours") == 7200 * 1_000_000
    with pytest.raises(ValueError):
        _delay_us("3 fortnights")


def _featurized(spark, pages_dir):
    from gush_spark.streaming.source import read_pages_batch

    return with_page_features(read_pages_batch(spark, pages_dir)).select(
        "url", "warc_ts", "minhash"
    )


def _batch_pairs(feat, horizon_us=None):
    """Reference pair sets straight from the batch band signatures."""
    sig = with_band_signatures(feat).filter(F.col("minhash").isNotNull())
    long = sig.select(
        "url", F.unix_micros(F.col("warc_ts").cast("timestamp")).alias("ts_us"),
        *[F.col(f"band_sig{t}") for t in range(4)],
    )
    rows = long.collect()
    pairs = set()
    for i, a in enumerate(rows):
        for b in rows[i + 1:]:
            if any(a[f"band_sig{t}"] == b[f"band_sig{t}"] for t in range(4)):
                if horizon_us is None or abs(a["ts_us"] - b["ts_us"]) <= horizon_us:
                    pairs.add(frozenset((a["url"], b["url"])))
    return pairs


def test_stream_candidates_bracket_batch_lsh_pairs(spark, tmp_path):
    pages_dir = _chunked_pages_dir(
        spark, tmp_path, chunks=[(0, 1), (2, 3), (4, 5), (6,)]
    )
    from gush_spark.streaming.source import read_pages_stream

    stream = with_page_features(
        read_pages_stream(spark, pages_dir, max_files_per_trigger=1)
    ).select("url", "warc_ts", "minhash")
    cands = near_dup_candidates_stream(stream, watermark_delay=HORIZON)
    q = (
        cands.writeStream.format("memory")
        .queryName("near_dup_cands")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        frozenset((r["id_a"], r["id_b"]))
        for r in spark.table("near_dup_cands").collect()
    }

    feat = _featurized(spark, pages_dir)
    within = _batch_pairs(feat, HORIZON_US)
    unrestricted = _batch_pairs(feat, None)
    assert within, "fixture must produce in-horizon near-dup pairs"
    assert within < unrestricted, "fixture must span beyond the horizon"
    # the contract: every in-horizon batch LSH pair is a stream candidate…
    assert within <= got
    # …and the stream never invents a pair batch LSH wouldn't see
    assert got <= unrestricted
    # batch replay of the same operator agrees with the same guarantees
    batch_got = {
        frozenset((r["id_a"], r["id_b"]))
        for r in near_dup_candidates_stream(feat, watermark_delay=HORIZON).collect()
    }
    assert within <= batch_got <= unrestricted


def test_near_dedup_stream_drops_signature_twins(spark, tmp_path):
    pages_dir = _chunked_pages_dir(
        spark, tmp_path, chunks=[(0, 1), (2, 3), (5,)]
    )
    from gush_spark.streaming.source import read_pages_stream

    stream = with_page_features(
        read_pages_stream(spark, pages_dir, max_files_per_trigger=1)
    ).select("url", "warc_ts", "minhash")
    out = near_dedup_pages_stream(stream, watermark_delay=HORIZON)
    q = (
        out.writeStream.format("memory")
        .queryName("near_dedup_pages")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    kept = sorted(r["url"] for r in spark.table("near_dedup_pages").collect())
    # doc 2 (identical text → identical full signature) is dropped;
    # the one-word-swap near dups 3 differ in ≥1 band so they survive
    # this near-EXACT layer (they're candidate territory, not drops);
    # the signature-less short doc 6 passes through undeduped
    assert "https://h.example/p/1" in kept
    assert "https://h.example/p/2" not in kept
    assert "https://h.example/p/6" in kept
    assert len(kept) == 4  # 1, 3, 4, 6
