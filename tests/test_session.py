"""Local session defaults: the driver heap is sized from physical RAM."""

from gush_spark.session import default_driver_memory


def test_driver_memory_is_half_of_ram():
    assert default_driver_memory("MemFree: 1 kB\nMemTotal:  16000000 kB\n") == "7812m"


def test_driver_memory_capped_at_20g():
    assert default_driver_memory("MemTotal: 256000000 kB\n") == "20480m"


def test_driver_memory_falls_back_when_size_unknown():
    assert default_driver_memory("") == "20g"
