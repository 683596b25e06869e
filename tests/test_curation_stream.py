"""Streaming curation pipeline: extract → watermark-bounded exact dedup
→ quality/language gates → exactly-once sink, compared against the batch
equivalent on the same pages."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gush_spark.config import GushSparkConfig
from gush_spark.functions import text_analysis as ta
from gush_spark.functions.extract import with_extracted_text
from gush_spark.operators.events import host_of
from gush_spark.sources.fixtures import generate_pages
from gush_spark.streaming.pipeline import curation_stream_pipeline
from gush_spark.streaming.source import read_pages_batch

CFG = GushSparkConfig(watermark_delay="30 minutes", max_files_per_trigger=2)


@pytest.fixture()
def pages_dir(tmp_path):
    d = tmp_path / "pages"
    generate_pages(d, n_pages=200, n_hosts=8)
    return str(d)


def test_curation_stream_matches_batch_gates(
    spark, pages_dir, tmp_dirs, assert_lineage_per_batch
):
    # the synthetic fixture vocabulary scores as 'de' under the
    # stopword-profile language model — gate on that, not on 'en'
    query, sink = curation_stream_pipeline(
        spark, pages_dir, tmp_dirs["sink"], tmp_dirs["checkpoint"],
        config=CFG, available_now=True, quality_threshold=0.3, lang="de",
        lineage_path=tmp_dirs["lineage"],
    )
    query.awaitTermination(180)
    assert_lineage_per_batch(sink, tmp_dirs["lineage"])
    got = sink.read_all_appends(spark).toPandas()

    # batch reference: same extraction, same gates, dedup on fingerprint
    batch = with_extracted_text(
        read_pages_batch(spark, pages_dir).withColumn("host", host_of(F.col("url")))
    ).filter(F.col("extract_error").isNull())
    feats = ta.quality_features(F.col("extracted_text"))
    scores = ta.lang_scores(F.col("extracted_text"))
    ref = (
        batch.select(
            "url",
            ta.md5_fingerprint(F.col("extracted_text")).alias("fingerprint"),
            feats["quality_score"].alias("quality_score"),
            scores["pred_lang"].alias("pred_lang"),
        )
        .filter((F.col("quality_score") >= 0.3) & (F.col("pred_lang") == "de"))
        .toPandas()
    )

    # one curated row per qualifying distinct fingerprint (which url won
    # is arrival-order-defined in the stream — compare fingerprint sets)
    assert not got.empty
    assert got["fingerprint"].is_unique
    assert set(got["fingerprint"]) == set(ref["fingerprint"].unique())
    assert (got["quality_score"] >= 0.3).all()
    assert (got["pred_lang"] == "de").all()
    # exactly-once: re-reading the sink is stable
    again = sink.read_all_appends(spark).count()
    assert again == len(got)


def test_curation_stream_scrub_and_decontaminate(
    spark, tmp_path, tmp_dirs, assert_lineage_per_batch
):
    """PII scrub + benchmark-decontamination gates composed into the
    streaming pipeline: scrubbed text lands in the sink, contaminated
    pages don't, and the surviving fingerprint set equals the batch
    reference applying the same operators in the same order."""
    import datetime as dt

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from gush_spark.operators.decontaminate import benchmark_ngram_keys, ngram_overlap
    from gush_spark.operators.scrub import scrub_columns
    from gush_spark.sources.fixtures import EPOCH0, PAGES_ARROW_SCHEMA, render_html

    texts = {
        "p1": "the quick brown fox jumps over the lazy dog in the sun",
        "p2": "contact bob@corp.io about the new data release for the winter",
        "p3": "a statement about the weather in the north of the country",
        "p4": "the archive holds a record of the past and the future",
        "p5": "short note about the harvest and the market in the town",
        "p6": "the library keeps the books and the maps of the region",
    }
    rows = []
    for i, (pid, txt) in enumerate(sorted(texts.items())):
        rows.append(
            {
                "url": f"https://host{i % 2:04d}.example/{pid}",
                "warc_ts": EPOCH0 + dt.timedelta(seconds=10 * i),
                "html": render_html([txt]),
                "text": txt,
                "lang": "en",
                "case": "plain",
            }
        )
    d = tmp_path / "pii_pages"
    d.mkdir()
    for ci, chunk in enumerate((rows[:3], rows[3:])):
        tbl = pa.Table.from_pandas(
            pd.DataFrame(chunk), schema=PAGES_ARROW_SCHEMA, preserve_index=False
        )
        pq.write_table(tbl, d / f"part-{ci:05d}.parquet")

    # benchmark set: p1's exact text -> p1 must be decontaminated away
    bench = spark.createDataFrame([(0, texts["p1"])], ["bid", "text"])
    keys = benchmark_ngram_keys(bench, "text")

    query, sink = curation_stream_pipeline(
        spark, str(d), tmp_dirs["sink"], tmp_dirs["checkpoint"],
        config=CFG, available_now=True, quality_threshold=0.0, lang="en",
        scrub=True, bench_keys=keys, contamination_threshold=0.5,
        lineage_path=tmp_dirs["lineage"],
    )
    query.awaitTermination(180)
    # gated batches: lineage counts the rows the gates let through
    assert_lineage_per_batch(sink, tmp_dirs["lineage"])
    got = sink.read_all_appends(spark).toPandas()

    by_url = {u.rsplit("/", 1)[1]: r for u, r in zip(got["url"], got.to_dict("records"))}
    assert "p1" not in by_url, "benchmark-contaminated page must be gated out"
    assert "p2" in by_url
    assert "bob@corp.io" not in by_url["p2"]["extracted_text"]
    assert "<EMAIL>" in by_url["p2"]["extracted_text"]
    assert by_url["p2"]["n_pii"] == 1
    assert all(r["n_pii"] == 0 for k, r in by_url.items() if k != "p2")

    # batch reference: same operators, same order
    batch = with_extracted_text(
        read_pages_batch(spark, str(d)).withColumn("host", host_of(F.col("url")))
    ).filter(F.col("extract_error").isNull())
    sc = scrub_columns(F.col("extracted_text"))
    feats = ta.quality_features(sc["clean_text"])
    scores = ta.lang_scores(sc["clean_text"])
    ref = batch.select(
        "url",
        ta.md5_fingerprint(F.col("extracted_text")).alias("fingerprint"),
        sc["clean_text"].alias("clean_text"),
        feats["quality_score"].alias("quality_score"),
        scores["pred_lang"].alias("pred_lang"),
    ).filter((F.col("quality_score") >= 0.0) & (F.col("pred_lang") == "en"))
    flagged = (
        ngram_overlap(ref, None, "url", "clean_text", bench_keys=keys)
        .filter(F.col("contaminated"))
        .select("url")
    )
    ref = ref.join(flagged, on="url", how="left_anti").toPandas()
    assert set(got["fingerprint"]) == set(ref["fingerprint"])


def test_gated_curation_resume_equals_uninterrupted(spark, tmp_path, tmp_dirs):
    """Kill/resume exactly-once holds THROUGH the new gates: a gated
    (scrub + decontaminate) curation stream interrupted mid-corpus and
    resumed from its checkpoint lands the same curated fingerprint set
    as an uninterrupted run."""
    import shutil

    from gush_spark.operators.decontaminate import benchmark_ngram_keys

    full = tmp_path / "pages_full"
    generate_pages(full, n_pages=200, n_hosts=8, rows_per_file=40)  # 5 files
    files = sorted(full.glob("part-*.parquet"))
    assert len(files) == 5

    docs = read_pages_batch(spark, str(full))
    bench = docs.limit(10).select("text")
    keys = benchmark_ngram_keys(bench, "text")
    kw = dict(
        config=CFG, available_now=True, quality_threshold=0.3, lang="de",
        scrub=True, bench_keys=keys,
    )

    q, full_sink = curation_stream_pipeline(
        spark, str(full), str(tmp_path / "fs"), str(tmp_path / "fc"), **kw
    )
    q.awaitTermination(180)
    expected = set(full_sink.read_all_appends(spark).toPandas()["fingerprint"])
    assert expected

    # interrupted: only the first 2 files exist, drain, then the rest
    # appear and the stream resumes from the SAME checkpoint
    part = tmp_path / "pages_part"
    part.mkdir()
    for f in files[:2]:
        shutil.copy(f, part / f.name)
    q1, sink1 = curation_stream_pipeline(
        spark, str(part), str(tmp_path / "rs"), str(tmp_path / "rc"), **kw
    )
    q1.awaitTermination(180)
    n_first = sink1.read_all_appends(spark).count()
    assert 0 < n_first < len(expected)

    for f in files[2:]:
        shutil.copy(f, part / f.name)
    q2, sink2 = curation_stream_pipeline(
        spark, str(part), str(tmp_path / "rs"), str(tmp_path / "rc"), **kw
    )
    q2.awaitTermination(180)
    resumed = sink2.read_all_appends(spark).toPandas()
    assert resumed["fingerprint"].is_unique

    # Late-data caveat: the fixture's ~3% deliberately-late rows sit in
    # the watermark gray zone, and their admission legitimately depends
    # on trigger grouping — the resumed run's bulk file pickup can ride
    # the watermark past them (exactly-once covers committed data, not
    # late-admission equivalence). So: exact equality on ON-TIME rows,
    # containment for the rest.
    i = F.regexp_extract("url", r"/p/(\d+)$", 1).cast("long")
    sched = F.timestamp_seconds(
        F.unix_timestamp(F.to_timestamp(F.lit("2024-03-01 00:00:00"))) + i * 2
    )
    late_urls = {
        r["url"]
        for r in read_pages_batch(spark, str(full))
        .where(F.col("warc_ts") < sched)
        .select("url")
        .collect()
    }
    exp_df = full_sink.read_all_appends(spark).toPandas()
    on_time_expected = set(exp_df[~exp_df["url"].isin(late_urls)]["fingerprint"])
    on_time_resumed = set(resumed[~resumed["url"].isin(late_urls)]["fingerprint"])
    assert on_time_resumed == on_time_expected
    assert set(resumed["fingerprint"]) <= expected


def test_bloom_gated_stream_equals_keys_gated_stream(spark, pages_dir, tmp_path):
    """The Bloom-served decontamination gate in the streaming pipeline:
    on the same pages and the same benchmark set, the bloom-gated
    stream's surviving fingerprints equal the exact-keys-gated
    stream's (at the default bitmap size no false positive flips a
    decision here; the upper-bound property itself is pinned in
    tests/test_bloom.py), and the contaminated pages are gone."""
    from gush_spark.operators.decontaminate import (
        benchmark_bloom_bitmap,
        benchmark_ngram_keys,
    )
    from gush_spark.streaming.source import read_pages_batch as _rpb

    batch = _rpb(spark, pages_dir)
    bench = batch.limit(3).select(F.col("text"))
    keys = benchmark_ngram_keys(bench, "text")
    bitmap = benchmark_bloom_bitmap(bench, "text")

    results = {}
    for name, kw in (
        ("keys", {"bench_keys": keys}),
        ("bloom", {"bench_bitmap": bitmap}),
    ):
        query, sink = curation_stream_pipeline(
            spark, pages_dir,
            str(tmp_path / f"sink_{name}"), str(tmp_path / f"ckpt_{name}"),
            config=CFG, available_now=True, quality_threshold=0.0, lang="de",
            contamination_threshold=0.5, **kw,
        )
        query.awaitTermination(180)
        results[name] = sink.read_all_appends(spark).toPandas()

    got_keys = set(results["keys"]["fingerprint"])
    got_bloom = set(results["bloom"]["fingerprint"])
    assert got_bloom == got_keys
    # the gate actually dropped something: the benchmark pages themselves
    ungated_fps = set(
        with_extracted_text(batch).filter(F.col("extract_error").isNull())
        .select(ta.md5_fingerprint(F.col("extracted_text")).alias("f"))
        .toPandas()["f"]
    )
    assert got_bloom < ungated_fps


def test_bench_keys_and_bitmap_both_rejected(spark, pages_dir, tmp_dirs):
    with pytest.raises(ValueError, match="not both"):
        curation_stream_pipeline(
            spark, pages_dir, tmp_dirs["sink"], tmp_dirs["checkpoint"],
            config=CFG, bench_keys=spark.range(1), bench_bitmap=spark.range(1),
        )


def test_fix_encoding_dedupes_mojibake_against_clean_twin(spark, tmp_path, tmp_dirs):
    """--fix-encoding repairs INSIDE the extraction batch, before the
    dedup fingerprint: a cp1252-mojibake copy of a clean page dedupes
    against it and the sink holds the REPAIRED text. Without the flag
    the corrupt copy slips past dedup as distinct bytes (control)."""
    import datetime as dt

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from gush_spark.sources.fixtures import EPOCH0, PAGES_ARROW_SCHEMA, render_html

    def _sloppy_decode(b: bytes) -> str:
        out = []
        for byte in b:
            try:
                out.append(bytes([byte]).decode("cp1252"))
            except UnicodeDecodeError:
                out.append(chr(byte))
        return "".join(out)

    clean = "the café by the sea serves the crowd — the menu is the same"
    mojibake = _sloppy_decode(clean.encode("utf-8"))
    assert mojibake != clean
    other = "a statement about the weather in the north of the country"
    rows = []
    for i, txt in enumerate([clean, mojibake, other]):
        rows.append({
            "url": f"https://host{i:04d}.example/p{i}",
            "warc_ts": EPOCH0 + dt.timedelta(seconds=10 * i),
            "html": render_html([txt]),
            "text": txt,
            "lang": "en",
            "case": "plain",
        })
    d = tmp_path / "moji_pages"
    d.mkdir()
    tbl = pa.Table.from_pandas(
        pd.DataFrame(rows), schema=PAGES_ARROW_SCHEMA, preserve_index=False
    )
    pq.write_table(tbl, d / "part-00000.parquet")

    query, sink = curation_stream_pipeline(
        spark, str(d), tmp_dirs["sink"], tmp_dirs["checkpoint"],
        config=CFG, available_now=True, quality_threshold=0.0, lang="en",
        fix_encoding=True,
    )
    query.awaitTermination(180)
    got = sink.read_all_appends(spark).toPandas()
    assert len(got) == 2, "repaired copy must dedupe against the clean twin"
    texts = set(got["extracted_text"])
    assert clean in texts and other in texts
    assert mojibake not in texts

    # control: without the flag, the corrupt copy survives as distinct
    query2, sink2 = curation_stream_pipeline(
        spark, str(d), str(tmp_path / "sink2"), str(tmp_path / "ckpt2"),
        config=CFG, available_now=True, quality_threshold=0.0, lang="en",
    )
    query2.awaitTermination(180)
    got2 = sink2.read_all_appends(spark).toPandas()
    assert len(got2) == 3
    assert mojibake in set(got2["extracted_text"])


def test_lm_gated_stream_equals_batch_lm_gate(spark, pages_dir, tmp_dirs):
    """In-domain LM gate composed into the streaming pipeline: a static
    bigram model (trained offline on the batch view — the trusted-corpus
    stand-in) drops low-likelihood pages inside foreachBatch; the
    surviving fingerprint set equals the batch reference applying the
    same quality/lang gates and the same LM threshold."""
    from gush_spark.operators import lm

    batch = with_extracted_text(
        read_pages_batch(spark, pages_dir).withColumn("host", host_of(F.col("url")))
    ).filter(F.col("extract_error").isNull())
    docs = batch.select(
        ta.md5_fingerprint(F.col("extracted_text")).alias("fingerprint"),
        "extracted_text",
    ).dropDuplicates(["fingerprint"])
    model, ctx, vocab = lm.train_bigram_lm(docs, "fingerprint", "extracted_text")

    # batch reference: the stream's own pre-gate filters, then LM scores
    feats = ta.quality_features(F.col("extracted_text"))
    scores = ta.lang_scores(F.col("extracted_text"))
    ref = docs.select(
        "fingerprint", "extracted_text",
        feats["quality_score"].alias("quality_score"),
        scores["pred_lang"].alias("pred_lang"),
    ).filter((F.col("quality_score") >= 0.3) & (F.col("pred_lang") == "de"))
    scored = lm.score_with_bigram_lm(
        ref, model, ctx, vocab, "fingerprint", "extracted_text",
        with_logprob=True,
    ).toPandas()
    mlps = sorted(scored["mean_logp"].dropna().unique())
    assert len(mlps) >= 4, "fixture produced too few distinct LM scores"
    # threshold in the GAP between two mid-distribution values, so no
    # doc sits exactly on the cut (FP summation order stays harmless)
    thr = (mlps[len(mlps) // 2 - 1] + mlps[len(mlps) // 2]) / 2.0
    expected_kept = set(
        scored[scored["mean_logp"].notna() & (scored["mean_logp"] >= thr)][
            "fingerprint"
        ]
    )
    assert expected_kept and len(expected_kept) < len(scored)

    query, sink = curation_stream_pipeline(
        spark, pages_dir, tmp_dirs["sink"], tmp_dirs["checkpoint"],
        config=CFG, available_now=True, quality_threshold=0.3, lang="de",
        lm_model=(model, ctx, vocab), lm_min_logp=thr,
    )
    query.awaitTermination(180)
    got = sink.read_all_appends(spark).toPandas()
    assert got["fingerprint"].is_unique
    assert set(got["fingerprint"]) == expected_kept


def test_gopher_gated_stream_equals_batch_rules(spark, tmp_path, tmp_dirs):
    """--gopher-gate keeps exactly the pages the batch gopher_rules
    conjunction keeps: a realistic >=50-word English page with
    stopwords passes; a too-short page and a long stopword-free page
    are dropped. The quality/lang gates are opened wide so the Gopher
    gate is the only discriminator."""
    import datetime as dt

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from gush_spark.sources.fixtures import EPOCH0, PAGES_ARROW_SCHEMA, render_html

    passing = (
        "the crew set out to chart the coast and that work would have "
        "taken a season of steady effort with maps of the shore and "
        "notes on the tide so the record of the voyage would be of use "
        "to those that have to sail the same waters with care"
    )
    assert len(passing.split()) >= 50
    too_short = "the quick note"
    no_stopwords = " ".join(["granite basalt quartz shale slate"] * 12)
    rows = []
    for i, txt in enumerate([passing, too_short, no_stopwords]):
        rows.append({
            "url": f"https://host{i:04d}.example/g{i}",
            "warc_ts": EPOCH0 + dt.timedelta(seconds=10 * i),
            "html": render_html([txt]),
            "text": txt,
            "lang": "en",
            "case": "plain",
        })
    d = tmp_path / "gopher_pages"
    d.mkdir()
    tbl = pa.Table.from_pandas(
        pd.DataFrame(rows), schema=PAGES_ARROW_SCHEMA, preserve_index=False
    )
    pq.write_table(tbl, d / "part-00000.parquet")

    query, sink = curation_stream_pipeline(
        spark, str(d), tmp_dirs["sink"], tmp_dirs["checkpoint"],
        config=CFG, available_now=True, quality_threshold=0.0, lang="en",
        gopher_gate=True,
    )
    query.awaitTermination(180)
    got = sink.read_all_appends(spark).toPandas()
    assert set(got["extracted_text"]) == {passing}

    # batch twin: the rules conjunction over the same extracted pages
    from gush_spark.functions.extract import with_extracted_text
    from gush_spark.streaming.source import read_pages_batch

    batch = with_extracted_text(read_pages_batch(spark, str(d))).filter(
        F.col("extract_error").isNull()
    )
    keep = ta.gopher_rules(F.col("extracted_text"))["keep"]
    ref = batch.filter(keep).select("extracted_text").toPandas()
    assert set(ref["extracted_text"]) == set(got["extracted_text"])

    # control: without the gate all three pages land (lang gate is the
    # stopword-profile argmax — all three score 'en' here or pass with
    # quality 0.0? assert by count against the ungated run)
    query2, sink2 = curation_stream_pipeline(
        spark, str(d), str(tmp_path / "sink2"), str(tmp_path / "ckpt2"),
        config=CFG, available_now=True, quality_threshold=0.0, lang="en",
    )
    query2.awaitTermination(180)
    got2 = sink2.read_all_appends(spark).toPandas()
    assert len(got2) > len(got)
