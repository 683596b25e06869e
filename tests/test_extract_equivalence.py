"""Differential test: the extraction kernel against its regex spec.

``extract_segments`` finds tags with anchored searches and explicit ASCII
case classes, and skips passes that cannot change a segment.
``_reference_segments`` below is the earlier implementation, frozen
verbatim: lazy ``(.*?)`` matches under ``re.IGNORECASE``, every pass run
on every segment. It is the executable form of P3, P5, P6 and P8, and the
kernel must return exactly what it returns on any input, including
tag soup that no fixture renders."""

from __future__ import annotations

import re

from hypothesis import example, given, settings
from hypothesis import strategies as st

from gush_spark.functions.extract import NULL_TOKEN, extract_segments

_COMMENT_RE = re.compile(r"<!--.*?-->", re.DOTALL)
_BODY_RE = re.compile(r"<body[^>]*>(.*?)</body>", re.DOTALL | re.IGNORECASE)
_SEG_RE = re.compile(r"<p(\s[^>]*)?>(.*?)</p>", re.DOTALL | re.IGNORECASE)
_WS_RE = re.compile(r"[ \t\r\n]+")
_ENTITIES = (("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'), ("&#39;", "'"), ("&amp;", "&"))


def _reference_segments(html: bytes) -> tuple[list[str] | None, str | None]:
    try:
        text = html.decode("utf-8", errors="strict")  # P2
    except UnicodeDecodeError as e:
        return None, f"decode_error: {e.reason} at byte {e.start}"
    text = text.replace("\\'", '"')  # P1
    text = _COMMENT_RE.sub("", text)  # P5
    body = _BODY_RE.search(text)
    if body is None:
        return None, "malformed: no body element"  # P3
    segments: list[str] = []
    for m in _SEG_RE.finditer(body.group(1)):  # P6
        attrs = m.group(1) or ""
        if "data-null" in attrs:  # P4
            segments.append(NULL_TOKEN)
            continue
        seg = m.group(2)
        for ent, ch in _ENTITIES:  # P7
            seg = seg.replace(ent, ch)
        seg = _WS_RE.sub(" ", seg).strip()  # P8
        segments.append(seg)
    return segments, None


# Pieces of tag soup: every case variant the tag searches must fold,
# tags that only look like <p (<pre>, <param x>), <p followed by a
# whitespace character outside [ \t\r\n] (\x1c, \xa0) or by ">", unclosed
# and duplicate tags (any piece may repeat or be left open), comments,
# entities, the P1 escape, NUL and the whitespace P8 does or does not
# collapse.
_TAGS = (
    "<body>", "<BODY>", "<Body class='a'>", "<bOdY\n>", "<body", "<bodyx>",
    "</body>", "</BODY>", "</Body>", "</bOdY>", "</body ",
    "<p>", "<P>", "<p class='x'>", "<P\tid=1>", "<p\x1c>", "<p\xa0b>", "<p\n", "<p ",
    "<pre>", "<PRE>", "<param x>", "<p", "</p>", "</P>", "</p ", "</pre>",
    '<p data-null="true">', "<P DATA-NULL>", "<p x=data-null>",
    "<!--", "-->", "<!-- c -->", "<!---->",
    "&amp;lt;", "&lt;", "&gt;", "&quot;", "&#39;", "&amp;", "&", "&amp;amp;",
    "\\'", "\\", "'", '"', "\x00", "<", ">", "/",
    " ", "  ", "\t", "\n", "\r", "\r\n", " \t ", "\x0b", "\x0c", "\x1c", "\xa0", "　",
    "word", "ü", "東京",
)
_piece = st.one_of(st.sampled_from(_TAGS), st.text(max_size=4))
# invalid UTF-8: a stray continuation byte, a truncated sequence, an
# encoded surrogate, a byte that never starts one
_BAD_BYTES = (b"\x80", b"\xc3", b"\xe6\x9d", b"\xed\xa0\x80", b"\xff")


@st.composite
def tag_soup(draw) -> bytes:
    html = "".join(draw(st.lists(_piece, max_size=40))).encode()
    if draw(st.integers(0, 9)) == 0:
        at = draw(st.integers(0, len(html)))
        html = html[:at] + draw(st.sampled_from(_BAD_BYTES)) + html[at:]
    return html


@settings(max_examples=1000, deadline=None)
@given(tag_soup())
@example(b"<BODY><P>a</P><p>b</p></Body>")
@example(b"<body><pre>x</pre><param x>y</p><p\x1c>z</p><p>\xc2\xa0w\xc2\xa0</p></body>")
@example(b"<body><p>a<p>b</p></p><p>open</body>")
@example(b"<body><p>x</body><body><p>y</p></body>")
@example(b"<body><p>a <!-- </p> --> b</p><p>&amp;lt; \\'q\\'</p></body>")
@example(b"<body><p>\x00 \t\r\n x  y </p><p data-null>z</p></body>")
@example(b"<body><p>a\rb</p><p>c\td</p><p>e\nf</p><p>g  h</p><p> i </p></body>")
@example(b"<body><p>\xff</p></body>")
def test_kernel_equals_regex_spec(html):
    assert extract_segments(html) == _reference_segments(html)


def test_ignorecase_folds_tag_letters_to_ascii_pairs_only():
    """The tag searches spell case folding out as [bB], [oO], [dD], [yY]
    and [pP]. That is the same pattern only because re.IGNORECASE folds
    each of these letters onto its ASCII pair and no other code point
    (unlike, say, k, which also matches KELVIN SIGN U+212A)."""
    every_code_point = "".join(map(chr, range(0x110000)))
    for letter in "bodyp":
        folded = set(re.findall(letter, every_code_point, re.IGNORECASE))
        assert folded == {letter, letter.upper()}, letter
    assert set(re.findall("k", every_code_point, re.IGNORECASE)) == {"k", "K", "\u212a"}
