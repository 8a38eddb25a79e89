"""Inputs are a pure function of the seed."""

import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402


def test_store_points_repeat_per_seed():
    a, b, c = (gen.store_points(s, 4, 50) for s in (7, 7, 8))
    for k in a:
        assert np.array_equal(a[k], b[k])
    assert not np.array_equal(a["value"], c["value"])


def test_request_streams_repeat_per_seed():
    names = gen.series_names(6)
    assert gen.read_ops(3, 0, 40, names, 20_000) == gen.read_ops(3, 0, 40, names, 20_000)
    assert gen.read_ops(3, 0, 40, names, 20_000) != gen.read_ops(3, 1, 40, names, 20_000)
    assert gen.read_ops(3, 0, 40, names, 20_000) != gen.read_ops(4, 0, 40, names, 20_000)
    assert gen.write_batches(3, 5, names, 100, 10) == gen.write_batches(3, 5, names, 100, 10)
    assert gen.write_batches(3, 5, names, 100, 10) != gen.write_batches(4, 5, names, 100, 10)


def test_star_tables_repeat_per_seed():
    a, b, c = (gen.star_tables(s, 0.001) for s in (5, 5, 6))
    assert set(a) == {"region", "nation", "customer", "supplier", "part", "orders",
                      "lineitem", "events", "documents", "embeddings"}
    for name in a:
        assert a[name].equals(b[name]), name
    assert not a["lineitem"].equals(c["lineitem"])


def test_write_timestamps_continue_each_series():
    names = gen.series_names(3)
    seen = {}
    for series, body, newest in gen.write_batches(1, 30, names, 100, 5):
        first = int(body.split('"timestamp": ')[1].split(",")[0])
        assert first > seen.get(series, gen.BASE_US + 99 * gen.STEP_US)
        seen[series] = newest
