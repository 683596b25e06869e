"""Job configuration — the analog of the reference's GushConfig.

The reference loads a YAML file with connection info plus two filter
lists: ``ignored_tables`` and ``ignored_prefixes``
(reference: src/main/scala/io/simao/gush/util/GushConfig.scala:20-22,37-59).
Our engine's config carries the equivalent stream-filter lists
(ignored hosts / url prefixes), window parameters, and runtime knobs.

YAML is optional (PyYAML may be absent in the sandbox); a flat
``key: value`` subset parser is used as fallback so the config file
format stays compatible.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from pathlib import Path

_DURATION_RE = re.compile(
    r"\s*(\d+)\s*(millisecond|second|minute|hour|day)s?\s*", re.IGNORECASE
)
_UNIT_US = {
    "millisecond": 1_000,
    "second": 1_000_000,
    "minute": 60 * 1_000_000,
    "hour": 3_600 * 1_000_000,
    "day": 86_400 * 1_000_000,
}


def duration_us(duration: str) -> int:
    """Microseconds in a Spark duration string ('10 minutes', '1 hour',
    '500 milliseconds'): an integer count and one unit, any case."""
    m = _DURATION_RE.fullmatch(duration)
    if not m:
        raise ValueError(f"unsupported duration string: {duration!r}")
    return int(m.group(1)) * _UNIT_US[m.group(2).lower()]


_YAML_SCALARS = (
    "window_duration", "watermark_delay", "max_files_per_trigger", "skew_salt_buckets",
)


@dataclass(frozen=True)
class GushSparkConfig:
    # stream filtering (F3 analog: GushConfig.scala:20-22)
    ignored_hosts: tuple[str, ...] = ()
    ignored_url_prefixes: tuple[str, ...] = ()
    # event-time windowing defaults
    window_duration: str = "10 minutes"
    watermark_delay: str = "10 minutes"
    # rate control (S4 analog — actor demand → microbatch rate limits)
    max_files_per_trigger: int = 4
    # page-stream container: "parquet" (lakehouse tables) or "warc"
    # (raw Common-Crawl archives via sources/warc.py)
    input_format: str = "parquet"
    # skew handling
    skew_salt_buckets: int = 8
    extra: dict = field(default_factory=dict)

    @staticmethod
    def from_yaml(path: str | Path) -> "GushSparkConfig":
        """Load config; requires host/window keys to be well-formed.

        Mirrors the reference's fail-if-incomplete behavior
        (BinlogServerReader.scala:41-53): unknown keys go to ``extra``,
        list keys accept comma-separated strings, and a
        ``window_duration`` or ``watermark_delay`` that ``duration_us``
        cannot read raises ``ValueError`` here, before any job starts.
        """
        text = Path(path).read_text()
        raw: dict[str, str] = {}
        for line in text.splitlines():
            line = line.strip()
            if not line or line.startswith("#") or ":" not in line:
                continue
            k, _, v = line.partition(":")
            raw[k.strip()] = v.strip().strip("'\"")

        def _list(key: str) -> tuple[str, ...]:
            v = raw.pop(key, "")
            return tuple(s.strip() for s in v.strip("[]").split(",") if s.strip())

        lists = {k: _list(k) for k in ("ignored_hosts", "ignored_url_prefixes")}
        # an absent key keeps the dataclass default; a present one takes
        # the type of that default
        scalars = {
            k: type(getattr(GushSparkConfig, k))(raw.pop(k))
            for k in _YAML_SCALARS
            if k in raw
        }
        for k in ("window_duration", "watermark_delay"):
            if k in scalars:
                duration_us(scalars[k])  # ValueError on a malformed duration
        return GushSparkConfig(**lists, **scalars, extra=raw)


DEFAULT_CONFIG = GushSparkConfig()
