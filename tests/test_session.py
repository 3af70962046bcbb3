"""Local-session defaults that depend on the host."""

from __future__ import annotations

from hierarchical_graph_db_spark.session import default_driver_mem


def test_driver_mem_default_is_three_quarters_of_ram_up_to_16g():
    gib = 2 ** 30
    assert default_driver_mem(15 * gib) == f"{15 * 1024 * 3 // 4}m"
    assert default_driver_mem(4 * gib) == "3072m"
    assert default_driver_mem(64 * gib) == "16384m"
    # with no argument it reads this host's physical RAM
    assert 0 < int(default_driver_mem()[:-1]) <= 16384
