"""Driver-heap sizing in ``get_spark``: checked without starting a JVM."""

from text_similarity_node_spark.session import (
    _default_driver_memory,
    _driver_memory,
)

GIB = 1024**3


def _to_bytes(size: str) -> int:
    units = {"m": 1024**2, "g": GIB}
    return int(size[:-1]) * units[size[-1]]


def test_small_host_gets_at_most_a_quarter_of_ram():
    phys = 16_851_337_216  # a 15.7 GB host
    heap = _to_bytes(_default_driver_memory(phys))
    assert heap <= phys // 4
    assert heap < phys
    # rounded down to whole MiB, not far below the quarter
    assert phys // 4 - heap < 1024**2


def test_large_host_keeps_the_24g_cap():
    assert _default_driver_memory(128 * GIB) == "24g"
    assert _default_driver_memory(96 * GIB) == "24g"
    assert _to_bytes(_default_driver_memory(95 * GIB)) < 24 * GIB


def test_env_override_wins():
    env = {"TSN_DRIVER_MEMORY": "3g"}
    assert _driver_memory(env, phys_bytes=128 * GIB) == "3g"
    assert _driver_memory(env, phys_bytes=16 * GIB) == "3g"


def test_unset_env_uses_host_default():
    assert _driver_memory({}, phys_bytes=16 * GIB) == "4096m"
    assert _driver_memory({}, phys_bytes=128 * GIB) == "24g"
