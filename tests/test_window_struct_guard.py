"""Only ``operators/windows.py`` turns an event-time window struct into
columns (``windowed_agg``), and only the sampler's keyed-state window
key (``streaming/sampling.py``) reads a struct's start and end for its
keyed-state machine. Every other windowed operator groups through
``windowed_agg``, so the window columns are named and ordered in one
place."""

from __future__ import annotations

import re
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "gush_spark"
ALLOWED = {Path("operators") / "windows.py", Path("streaming") / "sampling.py"}
# "w.start" / f"{struct}.end" column references, getField/getItem("start")
# and ["end"] subscripts
STRUCT_FIELD = re.compile(
    r"""\.(start|end)["']"""
    r"""|\.(getField|getItem)\(\s*["'](start|end)["']"""
    r"""|\[\s*["'](start|end)["']\s*\]"""
)


def struct_reads(root: Path) -> list[str]:
    """``file:line`` of every window-struct field read outside ALLOWED."""
    return [
        f"{path.relative_to(root)}:{n}"
        for path in sorted(root.rglob("*.py"))
        if path.relative_to(root) not in ALLOWED
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if STRUCT_FIELD.search(line)
    ]


def test_only_windowed_agg_and_the_state_key_read_window_structs():
    assert struct_reads(PKG) == []


def test_guard_flags_a_stray_read(tmp_path):
    (tmp_path / "operators").mkdir()
    (tmp_path / "operators" / "windows.py").write_text('F.col("w.start")\n')
    (tmp_path / "rogue.py").write_text(
        "import re\n"
        "m = re.search('a', 'a'); m.start()\n"
        'out.select(F.col("w.start"), "n")\n'
        'out.select(F.col("window").getField("end"))\n'
        'out.select(F.col("window")["start"])\n'
    )
    assert struct_reads(tmp_path) == ["rogue.py:3", "rogue.py:4", "rogue.py:5"]
