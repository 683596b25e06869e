"""Only ``operators/windows.py`` declares event time: ``event_time`` is
the one ``withWatermark`` call in the engine and ``event_time_column``
the one reader of the watermark metadata Spark puts on the column. Every
watermarked operator goes through them, so the rule for a delay (None
opts out; Spark rejects a malformed string) holds everywhere."""

from __future__ import annotations

import re
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "gush_spark"
ALLOWED = Path("operators") / "windows.py"
WATERMARK = re.compile(r"\.withWatermark\(|watermarkDelayMs")


def watermark_uses(root: Path) -> list[str]:
    """``file:line`` of every watermark call or metadata read outside
    ALLOWED."""
    return [
        f"{path.relative_to(root)}:{n}"
        for path in sorted(root.rglob("*.py"))
        if path.relative_to(root) != ALLOWED
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if WATERMARK.search(line)
    ]


def test_only_event_time_declares_a_watermark():
    assert watermark_uses(PKG) == []


def test_guard_flags_a_stray_watermark(tmp_path):
    (tmp_path / "operators").mkdir()
    (tmp_path / "operators" / "windows.py").write_text(
        'df.withWatermark(ts_col, delay)\n"spark.watermarkDelayMs"\n'
    )
    (tmp_path / "rogue.py").write_text(
        "event_time(df, 'warc_ts', delay)\n"
        "df = df.withWatermark('warc_ts', '10 minutes')\n"
        "[f for f in df.schema if 'spark.watermarkDelayMs' in f.metadata]\n"
    )
    assert watermark_uses(tmp_path) == ["rogue.py:2", "rogue.py:3"]
