"""Deterministic fixture generators (FIXTURES.md §1-§3).

Synthesizes the authoritative input table shape from BASELINE.json
input_hint — ``pages(url, warc_ts, html, text, lang)`` — plus the
``page_events`` change-sequence table (the port of the reference's
stream-level fixtures, BinlogToAkkaTest.scala:25-28). Everything is
seeded; no external data; html is rendered so the pinned extraction
spec (gush_spark.functions.extract) inverts it byte-exactly, which is
what makes golden byte-compare tests possible.

Scale notes: the generator is also the bench's data source — it writes
partitioned parquet in chunked pandas batches so sf can grow without
driver memory blowup, and hosts follow a Zipf distribution so skew
salting has something real to fix.
"""

from __future__ import annotations

import datetime as dt
import random
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from gush_spark.functions.extract import NULL_TOKEN

EPOCH0 = dt.datetime(2024, 3, 1, 0, 0, 0)
LANGS = ("en", "de", "pt", "fr", "es")
_WORDS = (
    "web crawl page index rank host link text token stream window state "
    "shuffle partition salt merge join count event time water mark batch"
).split()


def _escape_html(text: str) -> str:
    """Inverse of the entity-decode step (P7): & first, then the rest."""
    return (
        text.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
        .replace('"', "&quot;").replace("'", "&#39;")
    )


def render_html(segments: list[str | None], *, comment: str | None = None,
                malformed: bool = False, raw_escape_quote: bool = False) -> bytes:
    """Render html whose extraction yields exactly ``segments``.

    ``None`` in segments renders a data-null paragraph (→ NULL token).
    ``raw_escape_quote`` plants a literal ``\\'`` that canonicalizes to
    ``"`` (P1) — the generator's golden text must contain the ``"``.
    """
    ps = []
    for seg in segments:
        if seg is None:
            ps.append('<p data-null="true"></p>')
        else:
            body = _escape_html(seg)
            if raw_escape_quote:
                # plant the raw escape AFTER entity escaping so the byte
                # sequence \' survives into the html (P1 rewrites it to ")
                body = body.replace("&quot;", "\\'")
            ps.append(f"<p>{body}</p>")
    inner = "".join(ps)
    comment_html = f"<!-- {comment} -->" if comment else ""
    if malformed:
        return f"<html><head></head>{inner}{comment_html}</html>".encode()
    return f"<html><head></head><body>{inner}</body>{comment_html}</html>".encode()


def _rand_text(rng: random.Random, n_words: int) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(n_words))


EDGE_CASES = ("escaped_quotes", "null_token", "multi_segment", "empty_value",
              "comment_tail", "utf8_body", "malformed")


def _make_page(
    rng: random.Random, i: int, n_hosts: int, zipf_a: float,
    plain_segments: tuple[int, int] = (1, 1),
    plain_words: tuple[int, int] = (5, 40),
) -> dict:
    host_id = min(int(rng.paretovariate(zipf_a)), n_hosts) - 1
    url = f"https://host{host_id:04d}.example/p/{i}"
    # monotone-with-jitter event time; ~3% late rows far behind (for
    # watermark-drop tests)
    base = EPOCH0 + dt.timedelta(seconds=i * 2)
    if rng.random() < 0.03:
        ts = base - dt.timedelta(minutes=rng.randint(30, 120))
    else:
        ts = base + dt.timedelta(milliseconds=rng.randint(0, 1500))
    lang = rng.choice(LANGS)

    case = EDGE_CASES[i % len(EDGE_CASES)] if i % 17 == 0 else "plain"
    if case == "escaped_quotes":
        golden = f'quoted "segment" {_rand_text(rng, 4)}'
        html = render_html([golden.replace('"', "QQ")], raw_escape_quote=False)
        # simpler and exact: render with literal \' where " should appear
        html = html.replace(b"QQ", b"\\'")
    elif case == "null_token":
        seg = _rand_text(rng, 3)
        html = render_html([seg, None])
        golden = f"{seg}\n{NULL_TOKEN}"
    elif case == "multi_segment":
        segs = [_rand_text(rng, 4) for _ in range(3)]
        html = render_html(segs)
        golden = "\n".join(segs)
    elif case == "empty_value":
        html = render_html([""])
        golden = ""
    elif case == "comment_tail":
        seg = _rand_text(rng, 5)
        html = render_html([seg], comment="trailing comment, ignored")
        golden = seg
    elif case == "utf8_body":
        seg = f"übergrößen çay 東京 {_rand_text(rng, 3)} ✓"
        html = render_html([seg])
        golden = seg
    elif case == "malformed":
        html = render_html([_rand_text(rng, 4)], malformed=True)
        golden = None
    else:
        n_segs = rng.randint(*plain_segments)
        segs = [_rand_text(rng, rng.randint(*plain_words)) for _ in range(n_segs)]
        html = render_html(segs)
        golden = "\n".join(segs)

    return {"url": url, "warc_ts": ts, "html": html, "text": golden,
            "lang": lang, "case": case}


PAGES_ARROW_SCHEMA = pa.schema(
    [
        pa.field("url", pa.string()),
        pa.field("warc_ts", pa.timestamp("us")),
        pa.field("html", pa.binary()),
        pa.field("text", pa.string()),
        pa.field("lang", pa.string()),
        pa.field("case", pa.string()),
    ]
)


def generate_pages(
    out_dir: str | Path,
    n_pages: int = 2000,
    n_hosts: int = 50,
    seed: int = 42,
    zipf_a: float = 1.3,
    rows_per_file: int = 100_000,
    plain_segments: tuple[int, int] = (1, 1),
    plain_words: tuple[int, int] = (5, 40),
) -> Path:
    """Write a deterministic pages table as one-or-more parquet files.

    Chunked writes keep generator memory flat at large sf; multiple
    files give the streaming file source real microbatch boundaries
    (maxFilesPerTrigger) and Spark real split parallelism.
    ``plain_segments``/``plain_words`` scale the html payload (the
    scaling bench uses multi-segment pages so per-page CPU dominates
    fixed microbatch cost).
    """
    out_dir = Path(out_dir)
    out_dir.mkdir(parents=True, exist_ok=True)
    rng = random.Random(seed)
    buf: list[dict] = []
    file_idx = 0
    for i in range(n_pages):
        buf.append(
            _make_page(rng, i, n_hosts, zipf_a,
                       plain_segments=plain_segments, plain_words=plain_words)
        )
        if len(buf) >= rows_per_file:
            _flush_pages(buf, out_dir, file_idx)
            buf, file_idx = [], file_idx + 1
    if buf:
        _flush_pages(buf, out_dir, file_idx)
    return out_dir


def _flush_pages(buf: list[dict], out_dir: Path, file_idx: int) -> None:
    tbl = pa.Table.from_pandas(pd.DataFrame(buf), schema=PAGES_ARROW_SCHEMA,
                               preserve_index=False)
    pq.write_table(tbl, out_dir / f"part-{file_idx:05d}.parquet")


# ---------------------------------------------------------------------------
# page_events — crawl/recrawl/drop change sequences (FIXTURES.md §2)
# ---------------------------------------------------------------------------

PAGE_EVENTS_ARROW_SCHEMA = pa.schema(
    [
        pa.field("event_id", pa.int64()),
        pa.field("url", pa.string()),
        pa.field("host", pa.string()),
        pa.field("warc_ts", pa.timestamp("us")),
        pa.field("event_type", pa.string()),
        pa.field("fields", pa.map_(pa.string(), pa.string())),
    ]
)


def _ev(event_id: int, url: str, ts_s: int, etype: str, fetch_ms: int | None = None) -> dict:
    host = url.split("/")[2]
    fields = [("fetch_ms", str(fetch_ms))] if fetch_ms is not None else []
    return {
        "event_id": event_id,
        "url": url,
        "host": host,
        "warc_ts": EPOCH0 + dt.timedelta(seconds=ts_s),
        "event_type": etype,
        "fields": fields,
    }


def canonical_event_sequences() -> list[dict]:
    """The fixed fixture stream (port of BinlogToAkkaTest.scala:25-55
    style): a handful of known sequences whose windowed/CEP output is
    asserted row-exactly in tests.

    Timeline (seconds from EPOCH0), window = 60s tumbling:
      u1: crawl@5, recrawl@20, recrawl@70       (re-crawl enrichment)
      u2: crawl@10, drop@130                    (crawl→drop pattern)
      u3: crawl@65                              (single crawl, one window)
      ignored.example: crawl@15                 (host-blacklist filter)
      u4: crawl@30 arriving LATE (ts=-3600)     (watermark drop)
      u5: crawl@200, crawl@5000                 (session gap split)
    """
    return [
        _ev(1, "https://hostA.example/u1", 5, "crawl", fetch_ms=100),
        _ev(2, "https://hostA.example/u1", 20, "recrawl", fetch_ms=150),
        _ev(3, "https://hostB.example/u2", 10, "crawl", fetch_ms=200),
        _ev(4, "https://ignored.example/u9", 15, "crawl", fetch_ms=50),
        _ev(5, "https://hostA.example/u1", 70, "recrawl", fetch_ms=130),
        _ev(6, "https://hostC.example/u3", 65, "crawl", fetch_ms=90),
        _ev(7, "https://hostB.example/u2", 130, "drop"),
        _ev(8, "https://hostD.example/u4", -3600, "crawl", fetch_ms=75),
        _ev(9, "https://hostE.example/u5", 200, "crawl", fetch_ms=60),
        _ev(10, "https://hostE.example/u5", 5000, "crawl", fetch_ms=65),
    ]


def generate_page_events(
    out_dir: str | Path,
    events: list[dict] | None = None,
    n_chunks: int = 1,
) -> Path:
    """Write page_events parquet; ``n_chunks`` > 1 splits the stream into
    multiple files so `maxFilesPerTrigger=1` replays it as N ordered
    microbatches (the event-sequence test harness)."""
    out_dir = Path(out_dir)
    out_dir.mkdir(parents=True, exist_ok=True)
    events = events if events is not None else canonical_event_sequences()
    chunks = np.array_split(np.arange(len(events)), n_chunks)
    for ci, idxs in enumerate(chunks):
        rows = [events[i] for i in idxs]
        if not rows:
            continue
        tbl = pa.Table.from_pandas(pd.DataFrame(rows), schema=PAGE_EVENTS_ARROW_SCHEMA,
                                   preserve_index=False)
        pq.write_table(tbl, out_dir / f"chunk-{ci:05d}.parquet")
    return out_dir
