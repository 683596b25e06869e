"""Every catalog name written down outside the registry — the driver
window order and the smoke probes' query lists — must name a registered
query. ``queries._window_order`` skips unknown names silently, so a
deleted or renamed query would otherwise leave a dangling entry."""

from __future__ import annotations

import importlib.util
from pathlib import Path

import pytest

from gush_spark import queries

TOOLS = Path(__file__).resolve().parent.parent / "tools"


def _tool(name: str):
    spec = importlib.util.spec_from_file_location(name, TOOLS / f"{name}.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.mark.parametrize(
    "listed",
    [
        pytest.param(lambda: queries._DRIVER_WINDOW_FIRST, id="driver_window"),
        pytest.param(lambda: _tool("smoke_10x").HEAVY, id="smoke_10x.HEAVY"),
        pytest.param(lambda: _tool("smoke_10x").EVENTS_PROBE, id="smoke_10x.EVENTS_PROBE"),
        pytest.param(lambda: _tool("smoke_100x").CATALOG, id="smoke_100x.CATALOG"),
    ],
)
def test_listed_names_are_registered_queries(listed):
    assert sorted(set(listed()) - set(queries.all_queries())) == []


def test_driver_window_has_no_duplicates():
    names = queries._DRIVER_WINDOW_FIRST
    assert len(names) == len(set(names))
