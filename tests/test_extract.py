"""Golden extraction tests — port of the reference's parser goldens
(FoundationParserTest.scala, BinlogEventTest.scala; SURVEY.md §5.1.1-2).

The correctness bar is byte-identical extracted text per url
(BASELINE.json input_hint): generator golden == pure-python spec ==
Spark vectorized UDF output.
"""

import random

import pytest

from gush_spark.functions.extract import (
    NULL_TOKEN,
    extract_segments,
    extract_text,
)
from gush_spark.sources.fixtures import (
    _make_page,
    generate_pages,
    render_html,
)


# --- pure-spec goldens (reference parser edge cases re-expressed) ---

def test_escaped_quote_canonicalization():
    # P1: \' → "  (FoundationParserTest.scala:66-71 analog)
    text, err = extract_text(b"<html><body><p>x \\'value\\'</p></body></html>")
    assert err is None
    assert text == 'x "value"'


def test_null_token():
    # P4: data-null segment → literal NULL (InsertNodeVisitor.scala:11)
    segs, err = extract_segments(render_html(["a", None, "b"]))
    assert err is None
    assert segs == ["a", NULL_TOKEN, "b"]


def test_multi_segment_flatten():
    # P6/P9: multi-row VALUES analog (FoundationParserTest.scala:48-64)
    html = render_html(["one two", "three", "four"])
    assert extract_text(html)[0] == "one two\nthree\nfour"


def test_empty_segment_kept():
    # P10: empty string values preserved (FoundationParserTest.scala:34-39)
    assert extract_text(render_html([""]))[0] == ""
    assert extract_text(render_html([]))[0] == ""


def test_trailing_comment_ignored():
    # P5 (FoundationParserTest.scala:21-27)
    html = render_html(["keep me"], comment="UPDATE ignore this")
    assert extract_text(html)[0] == "keep me"


def test_malformed_is_error_row_not_exception():
    # P3/P10 error channel (gush supervision Resume, gush.scala:13-18)
    text, err = extract_text(render_html(["x"], malformed=True))
    assert text is None and err.startswith("malformed")
    text, err = extract_text(b"\xff\xfe\x00")
    assert text is None and err.startswith("decode_error")


def test_utf8_body():
    # UTF-8 golden (FoundationParserTest.scala:14-19 fixture had UTF-8 body)
    seg = "übergrößen çay 東京 ✓"
    assert extract_text(render_html([seg]))[0] == seg


def test_entity_order_no_double_unescape():
    # P7: &amp;lt; must become &lt; not <
    html = b"<html><body><p>a &amp;lt; b</p></body></html>"
    assert extract_text(html)[0] == "a &lt; b"


def test_whitespace_canonicalization():
    html = b"<html><body><p>  a\t\tb\nc   d </p></body></html>"
    assert extract_text(html)[0] == "a b c d"


def test_generator_inverts_for_all_cases():
    rng = random.Random(7)
    for i in range(1000):
        p = _make_page(rng, i, 20, 1.3)
        text, err = extract_text(p["html"])
        if p["case"] == "malformed":
            assert err is not None and p["text"] is None
        else:
            assert err is None
            assert text == p["text"], (i, p["case"])


# --- Spark UDF surface: byte-equality at scale, error channel ---

@pytest.fixture(scope="module")
def pages_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("pages")
    generate_pages(d, n_pages=600, n_hosts=20, seed=42, rows_per_file=200)
    return str(d)


def test_udf_matches_golden_bytes(spark, pages_dir):
    from pyspark.sql import functions as F

    from gush_spark.functions.extract import with_extracted_text

    df = with_extracted_text(spark.read.parquet(pages_dir))
    bad = df.filter(
        F.col("extract_error").isNull() & (F.col("extracted_text") != F.col("text"))
    ).count()
    assert bad == 0
    # malformed rows: error channel populated, stream-alive semantics
    errs = df.filter(F.col("extract_error").isNotNull())
    assert errs.count() == df.filter(F.col("case") == "malformed").count()
    # byte-identical also means binary-equal under encode
    mismatch = df.filter(
        F.col("extract_error").isNull()
        & (F.encode("extracted_text", "UTF-8") != F.encode("text", "UTF-8"))
    ).count()
    assert mismatch == 0


def test_udf_explode_segments(spark):
    import pandas as pd

    from gush_spark.functions.extract import with_exploded_segments

    pdf = pd.DataFrame(
        {
            "url": ["u1", "u2", "u3", "u4", "u5", "u6", "u7"],
            "html": [
                render_html(["a", "b"]),
                render_html(["c"]),
                render_html(["x"], malformed=True),
                render_html([""]),
                render_html([]),
                render_html(["a", ""]),
                render_html([None, "y"]),
            ],
        }
    )
    df = with_exploded_segments(spark.createDataFrame(pdf))
    rows = {(r["url"], r["segment_idx"], r["segment"], r["extract_error"] is not None)
            for r in df.collect()}
    assert rows == {
        ("u1", 0, "a", False),
        ("u1", 1, "b", False),
        ("u2", 0, "c", False),
        ("u3", None, None, True),  # error row survives the explode (P10)
        ("u4", 0, "", False),  # one empty segment is a row
        ("u5", None, None, False),  # zero segments: one NULL row, no error
        ("u6", 0, "a", False),
        ("u6", 1, "", False),  # a trailing empty segment is kept
        ("u7", 0, NULL_TOKEN, False),
        ("u7", 1, "y", False),
    }
