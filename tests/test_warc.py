"""WARC source goldens: spec-correct records parse back byte-exactly
(headers, status, payload), non-response records carry no payload,
malformed records surface as parse_error rows, and multi-file input
reads in one distributed scan.
"""

from __future__ import annotations

import datetime as dt

from gush_spark.sources.warc import read_warc_responses, render_warc

D0 = dt.datetime(2024, 3, 1, 0, 0, 0)


def test_roundtrip_and_record_kinds(spark, tmp_path):
    recs = [
        {"url": "http://a.example/1", "date": D0, "payload": "<html><p>one</p></html>"},
        {"url": "http://a.example/2", "date": D0 + dt.timedelta(seconds=9),
         "payload": "<html><p>two &amp; more</p></html>", "status": 301},
        {"url": "http://a.example/meta", "date": D0, "payload": "k: v",
         "warc_type": "metadata"},
        {"url": "http://a.example/req", "date": D0, "payload": "GET / HTTP/1.1",
         "warc_type": "request"},
    ]
    (tmp_path / "f.warc").write_bytes(render_warc(recs))
    rows = {r.url: r for r in read_warc_responses(spark, str(tmp_path)).collect()}
    assert rows["http://a.example/1"].http_status == 200
    assert rows["http://a.example/1"].payload == "<html><p>one</p></html>"
    assert rows["http://a.example/1"].warc_ts == D0
    assert rows["http://a.example/2"].http_status == 301
    assert rows["http://a.example/2"].payload == "<html><p>two &amp; more</p></html>"
    # declared Content-Length covers the HTTP block exactly
    http = "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n<html><p>one</p></html>"
    assert rows["http://a.example/1"].content_length == len(http.encode())
    # non-response records: headers parsed, no payload/status, no error
    for u in ("http://a.example/meta", "http://a.example/req"):
        assert rows[u].http_status is None and rows[u].payload is None
        assert rows[u].parse_error is None


def test_malformed_records_are_error_rows(spark, tmp_path):
    good = render_warc(
        [{"url": "http://ok.example/", "date": D0, "payload": "<p>x</p>"}]
    )
    # response record whose body has no HTTP status line
    broken = (
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Target-URI: http://bad.example/\r\n"
        b"WARC-Date: 2024-03-01T00:00:00Z\r\nContent-Length: 7\r\n\r\n"
        b"no http\r\n\r\n"
    )
    # record with no WARC-Type at all
    untyped = (
        b"WARC/1.0\r\nWARC-Date: 2024-03-01T00:00:00Z\r\n\r\nx\r\n\r\n"
    )
    (tmp_path / "f.warc").write_bytes(good + broken + untyped)
    rows = read_warc_responses(spark, str(tmp_path)).collect()
    errs = {r.parse_error for r in rows}
    assert errs == {None, "missing_http_status_line", "missing_warc_type"}
    ok = [r for r in rows if r.parse_error is None][0]
    assert ok.payload == "<p>x</p>"


def test_multi_file_distributed_read(spark, tmp_path):
    for f in range(3):
        recs = [
            {"url": f"http://h{f}.example/{i}",
             "date": D0 + dt.timedelta(seconds=f * 100 + i),
             "payload": f"<p>{f}-{i}</p>"}
            for i in range(50)
        ]
        (tmp_path / f"part-{f}.warc").write_bytes(render_warc(recs))
    df = read_warc_responses(spark, str(tmp_path))
    assert df.count() == 150
    assert df.where("parse_error IS NOT NULL").count() == 0
    # plan is JVM-only: text scan + regexps, no Python nodes
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan


def test_pages_pipeline_over_warc_equals_parquet(spark, tmp_path):
    """The SAME pages, shipped once as parquet and once as WARC, must
    produce identical windowed host counts through the full streaming
    pipeline — the format is a config flag, not a semantics change."""
    import dataclasses

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq_mod

    from gush_spark.config import GushSparkConfig
    from gush_spark.sources.fixtures import PAGES_ARROW_SCHEMA
    from gush_spark.streaming.pipeline import (
        extracted_pages,
        pages_pipeline,
        windowed_host_counts,
    )
    from gush_spark.streaming.source import read_input_batch

    rows = [
        {
            "url": f"https://h{i % 4}.example/p/{i}",
            "warc_ts": D0 + dt.timedelta(seconds=i * 90),
            "html": f"<html><head></head><body><p>doc {i} words</p></body></html>".encode(),
            "text": f"doc {i} words",
            "lang": "en",
            "case": "warc_eq",
        }
        for i in range(120)
    ]
    pq_dir = tmp_path / "pq"
    pq_dir.mkdir()
    pq_mod.write_table(
        pa.Table.from_pandas(pd.DataFrame(rows), schema=PAGES_ARROW_SCHEMA,
                             preserve_index=False),
        pq_dir / "part-0.parquet",
    )
    warc_dir = tmp_path / "warc"
    warc_dir.mkdir()
    for f in range(3):
        chunk = rows[f * 40 : (f + 1) * 40]
        (warc_dir / f"part-{f}.warc").write_bytes(
            render_warc(
                [{"url": r["url"], "date": r["warc_ts"],
                  "payload": r["html"].decode()} for r in chunk]
            )
        )

    cfg = GushSparkConfig(watermark_delay="4 hours")
    wcfg = dataclasses.replace(cfg, input_format="warc")

    # streaming over WARC end-to-end
    query, sink = pages_pipeline(
        spark, str(warc_dir), str(tmp_path / "sink"), str(tmp_path / "ckpt"),
        config=wcfg, available_now=True,
    )
    query.awaitTermination(180)
    got = sink.read(spark).toPandas()

    # batch over parquet
    exp = windowed_host_counts(
        extracted_pages(read_input_batch(spark, str(pq_dir), cfg), cfg), cfg
    ).toPandas()

    key = ["window_start", "host"]
    cols = key + ["n_pages", "n_errors"]
    pd.testing.assert_frame_equal(
        got.sort_values(key).reset_index(drop=True)[cols],
        exp.sort_values(key).reset_index(drop=True)[cols],
        check_dtype=False,
    )
    assert int(got.n_pages.sum()) == 120


def test_wet_export_roundtrips(spark, tmp_path):
    """write_warc_shards output re-parses record-for-record, including
    payloads that themselves contain newlines (multi-paragraph text)."""
    from pyspark.sql import functions as F

    from gush_spark.sources.warc import warc_pages, write_warc_shards

    rows = [
        (f"http://h{i % 3}.example/{i}", D0 + dt.timedelta(seconds=i),
         f"para one of {i}\n\npara two of {i}")
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "url string, warc_ts timestamp, payload string")
    out = str(tmp_path / "wet")
    write_warc_shards(df, out, n_shards=3)

    back = read_warc_responses(spark, out)
    got = {r.url: r for r in back.collect()}
    assert len(got) == 60
    assert {r.warc_type for r in got.values()} == {"conversion"}
    assert all(r.parse_error is None for r in got.values())
    for url, ts, payload in rows:
        assert got[url].warc_ts == ts
        # conversion records carry no HTTP block: payload is the body —
        # warc_pages excludes them (responses only), the raw parse keeps
        # headers; verify declared length is byte-exact
        assert got[url].content_length == len(payload.encode())
    # pages adapter excludes non-response records by contract
    assert warc_pages(back).count() == 0
