"""bench.py's linear scaling window follows the box's core count."""

import importlib.util
import os
import sys

BENCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "bench.py"
)


def _bench():
    """Load bench.py (no Spark at import) without writing bytecode."""
    spec = importlib.util.spec_from_file_location("bench", BENCH)
    mod = importlib.util.module_from_spec(spec)
    dont_write = sys.dont_write_bytecode
    sys.dont_write_bytecode = True
    try:
        spec.loader.exec_module(mod)
    finally:
        sys.dont_write_bytecode = dont_write
    return mod


def test_linear_window():
    window = _bench().linear_window
    assert window(4) == (1, 4)
    assert window(8) == (1, 4)
    assert window(16) == (2, 8)
    assert window(32) == (4, 16)
    assert window(64) == (8, 32)
    assert window(1) == (1, 1)
    assert window(2) == (1, 2)
    assert window(6) == (1, 6)
    assert window(12) == (1, 4)
    for cpus in range(1, 130):
        small, big = window(cpus)
        assert 1 <= small <= big <= cpus
        if big < cpus:
            assert big & (big - 1) == 0 and 4 <= big <= cpus // 2
