"""html → text extraction: the engine's core per-record transform.

This is the graft analog of gush's SQL-statement parser (reference:
src/main/scala/io/simao/gush/parser/FoundationParser.scala:27-36 and the
visitors in InsertNodeVisitor.scala / UpdateNodeVisitor.scala). The
reference's correctness bar is golden byte-equality on the parsed field
maps (FoundationParserTest.scala); ours is **byte-identical extracted
text per url**. Every canonicalization rule is therefore pinned here,
exactly once, in pure Python (unit-testable without Spark), and the
Spark surface is a vectorized Arrow-batched UDF — no per-row Python UDF
registration anywhere.

Pinned extraction spec (mirrors SURVEY.md §2.3 P1-P10):

  P1  escape canonicalization: every ``\\'`` in the decoded html becomes
      ``"`` BEFORE any parsing (gush FoundationParser.scala:27-28).
  P2  decode: html bytes are strict UTF-8; undecodable bytes → error row.
  P3  dispatch: a document with no ``<body>`` element is malformed →
      error row (stream must survive: error is data, not an exception —
      gush supervision Resume, gush_example/gush.scala:13-18).
  P4  NULL token: a segment marked ``data-null`` extracts as the literal
      string ``NULL`` (gush stringifies SQL NULL the same way,
      InsertNodeVisitor.scala:11).
  P5  comments: ``<!-- ... -->`` spans are removed before segmentation
      (gush ignores trailing comments, FoundationParserTest.scala:21-27).
  P6  segmentation: each ``<p ...>...</p>`` inside body is one segment;
      a document may have many (gush multi-row VALUES → many events,
      InsertNodeVisitor.scala:25-28).
  P7  entity decoding, fixed order: &lt; &gt; &quot; &#39; then &amp;
      last (so ``&amp;lt;`` → ``&lt;`` — no double-unescape).
  P8  whitespace canonicalization: runs of ``[ \\t\\r\\n]`` collapse to a
      single space; segment stripped at both ends.
  P9  flatten: extracted segments join with a single ``\\n`` to form the
      document text (the exploded per-segment form is also exposed).
  P10 empty body (zero segments) extracts as the empty string, NOT null
      (gush keeps empty string values, FoundationParserTest.scala:34-39).

P3, P6 and P8 are implemented with anchored searches for explicit ASCII
case classes (``<[pP]``, ``</[pP]>``), which ``re`` scans for by their
literal prefix; the comment, entity and whitespace passes are skipped
where they cannot change the text. ``tests/test_extract_equivalence.py``
pins the kernel to the regex form of the spec (lazy ``(.*?)`` matches
under ``re.IGNORECASE``) on generated tag soup.
"""

from __future__ import annotations

import re
from typing import Iterator

import pandas as pd

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame
from pyspark.sql import types as T

_COMMENT_RE = re.compile(r"<!--.*?-->", re.DOTALL)
# P3/P6 tags. re.IGNORECASE folds each of b, o, d, y and p only onto its
# ASCII pair, so the explicit classes match exactly what the folded
# patterns did, and re scans for the literal "<" / "</" prefix instead of
# folding every character (pinned in tests/test_extract_equivalence.py).
_BODY_OPEN_RE = re.compile(r"<[bB][oO][dD][yY][^>]*>")
_BODY_CLOSE_RE = re.compile(r"</[bB][oO][dD][yY]>")
_P_OPEN_RE = re.compile(r"<[pP](\s[^>]*)?>")
_P_CLOSE_RE = re.compile(r"</[pP]>")
# P8: every run of [ \t\r\n] other than a lone space (a lone space
# already is its canonical form)
_WS_RE = re.compile(r"[\t\r\n][ \t\r\n]*| [ \t\r\n]+")
# P7 — fixed order, &amp; last
_ENTITIES = (("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'), ("&#39;", "'"), ("&amp;", "&"))

NULL_TOKEN = "NULL"


def extract_segments(html: bytes) -> tuple[list[str] | None, str | None]:
    """Pure-python extraction: html bytes → (segments, error).

    Exactly one of the pair is None. This function IS the spec — the
    pandas UDF below calls it, and the fixture generator builds its
    golden text without it, so golden tests compare generator output to
    UDF output byte-for-byte.
    """
    try:
        text = html.decode("utf-8", errors="strict")  # P2
    except UnicodeDecodeError as e:
        return None, f"decode_error: {e.reason} at byte {e.start}"
    text = text.replace("\\'", '"')  # P1
    if "<!--" in text:
        text = _COMMENT_RE.sub("", text)  # P5
    # P3: the body is from the end of the first <body ...> to the first
    # </body> after it. When the first opening tag has no ">" or no
    # closing tag after it, no later opening tag has one either.
    open_ = _BODY_OPEN_RE.search(text)
    close = _BODY_CLOSE_RE.search(text, open_.end()) if open_ else None
    if close is None:
        return None, "malformed: no body element"  # P3
    body = text[open_.end():close.start()]
    segments: list[str] = []
    pos = 0
    while (m := _P_OPEN_RE.search(body, pos)) is not None:  # P6
        # an opening tag with no </p> after it ends the segments: no
        # later opening tag can have one either
        end = _P_CLOSE_RE.search(body, m.end())
        if end is None:
            break
        pos = end.end()
        if "data-null" in (m.group(1) or ""):  # P4
            segments.append(NULL_TOKEN)
            continue
        seg = body[m.end():end.start()]
        if "&" in seg:
            for ent, ch in _ENTITIES:  # P7
                seg = seg.replace(ent, ch)
        if "\n" in seg or "\t" in seg or "\r" in seg or "  " in seg:
            seg = _WS_RE.sub(" ", seg)  # P8
        segments.append(seg.strip())
    return segments, None


def extract_text(html: bytes) -> tuple[str | None, str | None]:
    """Document-level form: (text, error); segments joined by \\n (P9);
    zero segments → empty string (P10)."""
    segments, err = extract_segments(html)
    if err is not None:
        return None, err
    return "\n".join(segments), None


EXTRACT_SCHEMA = T.StructType(
    [
        T.StructField("text", T.StringType()),
        T.StructField("n_segments", T.IntegerType()),
        T.StructField("extract_error", T.StringType()),
    ]
)


def _extract_batch(htmls: pd.Series) -> pd.DataFrame:
    texts, nsegs, errs = [], [], []
    for h in htmls:
        if h is None:
            texts.append(None); nsegs.append(None); errs.append("null html")
            continue
        segments, err = extract_segments(bytes(h))
        if err is not None:
            texts.append(None); nsegs.append(None); errs.append(err)
        else:
            texts.append("\n".join(segments)); nsegs.append(len(segments)); errs.append(None)
    return pd.DataFrame(
        {"text": texts, "n_segments": pd.array(nsegs, dtype="Int32"), "extract_error": errs}
    )


@F.pandas_udf(EXTRACT_SCHEMA)
def extract_udf(htmls: pd.Series) -> pd.DataFrame:
    """Vectorized Arrow-batched extraction (Series[binary] → struct).

    Arrow moves the whole batch JVM↔Python in one shot; the per-value
    extraction kernel runs inside the batch. This is the engine's only
    Python hot path — everything before it (filters) and after it
    (windows/joins/aggs) stays JVM-side.
    """
    return _extract_batch(htmls)


@F.pandas_udf(EXTRACT_SCHEMA)
def extract_fixing_udf(htmls: pd.Series) -> pd.DataFrame:
    """``extract_udf`` + mojibake repair FUSED into the same Arrow
    batch: the text is already Python-side for extraction, so the
    ftfy-style pass (functions/encoding.repair_text — lossless
    sloppy-cp1252→utf-8 rounds, accepted only when strictly
    marker-reducing) costs zero extra JVM↔Python transfer. Repairing
    BEFORE the text leaves the UDF means the dedup fingerprint sees
    repaired bytes — a mojibake copy of a page dedupes against its
    clean twin (pinned by test). The default ``extract_udf`` stays
    byte-exact to the goldens; this variant is opt-in
    (with_extracted_text(fix_encoding=True), job.py --fix-encoding)."""
    from gush_spark.functions.encoding import repair_text

    out = _extract_batch(htmls)
    out["text"] = out["text"].map(
        lambda t: repair_text(t) if t is not None else None
    )
    return out


def with_extracted_text(
    df: DataFrame, html_col: str = "html", fix_encoding: bool = False
) -> DataFrame:
    """Append extraction output columns to a pages DataFrame.

    Plan shape: cheap column filters should already be applied upstream
    so Catalyst keeps them below this ArrowEvalPython node (the Spark
    analog of gush's prefilter-then-parse ordering,
    SqlToBinlog.scala:12-15).

    ``fix_encoding=True`` swaps in ``extract_fixing_udf`` — mojibake
    repair fused into the extraction batch.
    """
    udf = extract_fixing_udf if fix_encoding else extract_udf
    ext = udf(F.col(html_col)).alias("_ext")
    return df.withColumn("_ext", ext).select(
        "*",
        F.col("_ext.text").alias("extracted_text"),
        F.col("_ext.n_segments").alias("n_segments"),
        F.col("_ext.extract_error").alias("extract_error"),
    ).drop("_ext")


def with_exploded_segments(df: DataFrame, html_col: str = "html") -> DataFrame:
    """P9 analog of gush's mapConcat (SqlToBinlog.scala:15): one page →
    N segment rows, flattened. Error rows survive with a NULL segment
    (posexplode_outer keeps them — the error channel must not drop).

    The segments are the text split back on ``\\n``: P8 collapses every
    newline inside a segment, so the split is exact, and Spark's
    ``split`` keeps empty segments (``'a\\n'`` → ``['a', '']``). A page
    with zero segments has text ``''``, so it gets a NULL array and one
    NULL segment row, as an error row does."""
    ext = extract_udf(F.col(html_col)).alias("_ext")
    segments = F.when(F.col("_ext.n_segments") > 0, F.split(F.col("_ext.text"), "\n"))
    return (
        df.withColumn("_ext", ext)
        .select("*", F.posexplode_outer(segments).alias("segment_idx", "segment"),
                F.col("_ext.extract_error").alias("extract_error"))
        .drop("_ext")
    )
