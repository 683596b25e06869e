"""Only the keyed-state runner (``streaming/keyed_state.py``) may speak
Spark's GroupState protocol. Every other module under ``gush_spark/``
reaches ``applyInPandasWithState`` through ``run_keyed``, so timeouts,
state clearing and the batch twin stay written once."""

from __future__ import annotations

import re
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "gush_spark"
RUNNER = Path("streaming") / "keyed_state.py"
PROTOCOL = re.compile(r"\b(GroupState|GroupStateTimeout|applyInPandasWithState)\b")


def protocol_uses(root: Path) -> list[str]:
    """``file:line`` of every protocol name outside the runner."""
    return [
        f"{path.relative_to(root)}:{n}"
        for path in sorted(root.rglob("*.py"))
        if path.relative_to(root) != RUNNER
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if PROTOCOL.search(line)
    ]


def test_only_the_runner_uses_group_state():
    assert protocol_uses(PKG) == []


def test_guard_flags_a_stray_call(tmp_path):
    (tmp_path / "streaming").mkdir()
    (tmp_path / RUNNER).write_text("from pyspark.sql.streaming.state import GroupState\n")
    (tmp_path / "streaming" / "rogue.py").write_text(
        "def f(g):\n    return g.applyInPandasWithState(None, None, None, 'append', 'NoTimeout')\n"
    )
    assert protocol_uses(tmp_path) == ["streaming/rogue.py:2"]
