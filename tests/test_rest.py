"""REST façade tests: the reference's route table (src/main.re:175-202)
driven end-to-end through Router.handle, wire-format in/out, plus one
live ThreadingHTTPServer smoke test.

Fixture payloads mirror the reference's test/butterflies.json wire shape
(µs timestamps, tag assoc-lists, same-ts collisions)."""

from __future__ import annotations

import json

import pytest

from nibbledb_spark.rest import Router, serve
from tests.conftest import run_in_job_group

BFLY = [
    {"timestamp": 1439856000000000, "tag": [{"location": "1"}, {"scientist": "langstroth"}], "value": 12},
    {"timestamp": 1439856000000000, "tag": [{"location": "1"}, {"scientist": "perpetua"}], "value": 1},
    {"timestamp": 1439856360000000, "tag": [{"location": "1"}, {"scientist": "langstroth"}], "value": 11},
    {"timestamp": 1439856360000000, "tag": [{"location": "1"}, {"scientist": "perpetua"}], "value": 3},
    {"timestamp": 1439877240000000, "tag": [{"location": "2"}, {"scientist": "langstroth"}], "value": 2},
    {"timestamp": 1439877600000000, "tag": [{"location": "2"}, {"scientist": "langstroth"}], "value": 1},
    {"timestamp": 1439877960000000, "tag": [{"location": "2"}, {"scientist": "perpetua"}], "value": 8},
    {"timestamp": 1439878320000000, "tag": [{"location": "2"}, {"scientist": "perpetua"}], "value": 7},
]
BEES = [
    {"timestamp": 1439856000000000, "tag": [{"location": "1"}, {"scientist": "langstroth"}], "value": 23},
    {"timestamp": 1439856000000000, "tag": [{"location": "1"}, {"scientist": "perpetua"}], "value": 30},
    {"timestamp": 1439856360000000, "tag": [{"location": "1"}, {"scientist": "langstroth"}], "value": 28},
    {"timestamp": 1439856360000000, "tag": [{"location": "1"}, {"scientist": "perpetua"}], "value": 28},
]


@pytest.fixture()
def router(engine):
    r = Router(engine)
    assert r.handle("POST", "/ts/butterflies", json.dumps(BFLY))[0] == 200
    assert r.handle("POST", "/ts/honeybees", json.dumps(BEES))[0] == 200
    return r


def get(router, path):
    status, body = router.handle_json("GET", path)
    assert status == 200, body
    return body


def test_post_single_and_array(router):
    # single object, server-assigned timestamp
    status, _ = router.handle("POST", "/ts/extra", json.dumps({"value": 42}))
    assert status == 200
    assert get(router, "/ts/extra/length") == {"length": 1}


def test_post_malformed_400(router):
    for bad in ["not json", json.dumps({"nope": 1}), json.dumps({"value": "x"}), None]:
        status, body = router.handle("POST", "/ts/x", bad)
        assert status == 400 and body.startswith("Error:")


def test_unstorable_timestamps_are_400_and_keep_the_buffer(engine):
    """A timestamp that is not finite or lies past the signed 64-bit
    range is a 400 at POST, before it is buffered. Accepted, it would
    fail only at the flush, after the flush took the series' buffer, and
    every buffered point of the series would be lost."""
    r = Router(engine)
    for point in BFLY[:2]:
        assert r.handle("POST", "/ts/a", json.dumps(point))[0] == 200
    for bad in (
        '{"timestamp": 1e20, "value": 3}',
        '{"timestamp": -1e19, "value": 3}',
        '{"timestamp": Infinity, "value": 3}',
    ):
        status, body = r.handle("POST", "/ts/a", bad)
        assert status == 400 and body.startswith("Error:"), (bad, body)
    assert get(r, "/ts/a/memory/length") == {"length": 2}
    assert r.handle("GET", "/ctl/ts/sync")[0] == 200
    assert get(r, "/ts/a/length") == {"length": 2}


def test_last_latest_first_earliest(router):
    last2 = get(router, "/ts/butterflies/last/2")
    assert [p["timestamp"] for p in last2] == [1439878320000000, 1439877960000000]
    assert last2[0]["value"] == 7.0
    assert last2[0]["tag"] == [{"location": "2"}, {"scientist": "perpetua"}]
    assert get(router, "/ts/butterflies/latest") == last2[:1]
    first1 = get(router, "/ts/butterflies/first/1")
    assert first1[0]["timestamp"] == 1439856000000000
    assert get(router, "/ts/butterflies/earliest") == first1


def test_last_multi_series_is_per_series(router):
    # quirk Q4: n per series, union, desc ts
    out = get(router, "/ts/butterflies,honeybees/last/2")
    assert len(out) == 4
    ts = [p["timestamp"] for p in out]
    assert ts == sorted(ts, reverse=True)


def test_since_and_range_inclusive(router):
    since = get(router, "/ts/butterflies/since/1439877600000000")
    assert [p["value"] for p in since] == [7.0, 8.0, 1.0]  # desc, inclusive
    rng = get(router, "/ts/butterflies/range/1439856000000000/1439856360000000")
    assert len(rng) == 4  # both bounds inclusive
    assert [p["timestamp"] for p in rng] == sorted(
        (p["timestamp"] for p in rng), reverse=True
    )


def test_tag_filters(router):
    eq = get(router, "/ts/butterflies/last/8/filter/scientist/equals/perpetua")
    assert [p["value"] for p in eq] == [7.0, 8.0, 3.0, 1.0]
    sub = get(router, "/ts/butterflies/last/8/filter/scientist/contains/lang")
    assert len(sub) == 4
    # compound: OR within name, AND across names
    both = get(
        router,
        "/ts/butterflies/last/8/filter/scientist,scientist,location/equals/perpetua,langstroth,2",
    )
    assert len(both) == 4
    # count mismatch -> 400
    status, _ = router.handle("GET", "/ts/butterflies/last/8/filter/a,b/equals/1")
    assert status == 400


def test_filter_applies_after_topn(router):
    # reference semantics: top-n first, then filter the fetched rows
    out = get(router, "/ts/butterflies/last/2/filter/scientist/equals/langstroth")
    assert out == []  # newest 2 are both perpetua


def test_bounded_top_n_bodies(router):
    """last/first carry a per-series bound (n * distinct ids) that must
    not move a row: timestamps tied across series keep their order, and
    a filter + aggregate still runs over the whole top-n."""
    L1, L2, P1, P2 = (
        [{"location": loc}, {"scientist": who}]
        for loc, who in (("1", "langstroth"), ("2", "langstroth"), ("1", "perpetua"), ("2", "perpetua"))
    )
    assert get(router, "/ts/butterflies,honeybees/last/3") == [
        {"timestamp": 1439878320000000, "tag": P2, "value": 7.0},
        {"timestamp": 1439877960000000, "tag": P2, "value": 8.0},
        {"timestamp": 1439877600000000, "tag": L2, "value": 1.0},
        {"timestamp": 1439856360000000, "tag": L1, "value": 28.0},
        {"timestamp": 1439856360000000, "tag": P1, "value": 28.0},
        {"timestamp": 1439856000000000, "tag": P1, "value": 30.0},
    ]
    assert get(router, "/ts/butterflies/first/2/filter/location/equals/1/sd") == {"sd": 5.5}


def test_edge_read_bodies(engine):
    """Reads at the edges keep their exact bodies: a store not written
    yet, n of 0 and -1, an unknown id, a duplicated id, and ids that
    need quoting in SQL."""
    r = Router(engine)
    assert r.handle("GET", "/ts/butterflies/last/3") == (200, "[]")
    assert r.handle("GET", "/ts/butterflies/since/0") == (200, "[]")
    assert r.handle("GET", "/ts/butterflies/range/0/10/mean") == (200, "{}")
    assert r.handle("GET", "/ts/butterflies/first/2/sum") == (200, '{"sum": 0.0}')
    assert r.handle("POST", "/ts/butterflies", json.dumps(BFLY))[0] == 200
    assert r.handle("GET", "/ts/butterflies/last/0") == (200, "[]")
    assert r.handle("GET", "/ts/butterflies/last/-1") == (200, "[]")
    assert r.handle("GET", "/ts/nosuch/last/3") == (200, "[]")
    # a bound past the long range is still a bound, not a failed request
    assert r.handle("GET", "/ts/butterflies/since/99999999999999999999") == (200, "[]")
    last2 = (
        '[{"timestamp": 1439878320000000, "tag": [{"location": "2"}, {"scientist": "perpetua"}], "value": 7.0}, '
        '{"timestamp": 1439877960000000, "tag": [{"location": "2"}, {"scientist": "perpetua"}], "value": 8.0}]'
    )
    assert r.handle("GET", "/ts/butterflies/last/2") == (200, last2)
    assert r.handle("GET", "/ts/butterflies,butterflies/last/2") == (200, last2)
    assert r.handle("GET", "/ts/butterflies,butterflies/first/2/mean") == (200, '{"mean": 6.5}')
    for sid in ("it's", "back\\slash", "\U0001F98B", "a%20b"):
        body = json.dumps([{"timestamp": 5, "value": 1.5}, {"timestamp": 7, "value": 2.5}])
        assert r.handle("POST", f"/ts/{sid}", body)[0] == 200
        assert r.handle("GET", f"/ts/{sid}/last/2") == (
            200,
            '[{"timestamp": 7, "value": 2.5}, {"timestamp": 5, "value": 1.5}]',
        )
        assert r.handle("GET", f"/ts/{sid},nosuch/since/6/sum") == (200, '{"sum": 2.5}')


def test_aggregates(router):
    assert get(router, "/ts/butterflies/last/8/sum") == {"sum": 45.0}
    assert get(router, "/ts/butterflies/last/8/count") == {"count": 8.0}
    assert get(router, "/ts/butterflies,honeybees/last/8/count") == {"count": 12.0}
    assert get(router, "/ts/butterflies/last/8/max") == {"max": 12.0}
    assert get(router, "/ts/butterflies/last/8/min") == {"min": 1.0}
    assert get(router, "/ts/butterflies/last/8/mean") == {"mean": 45.0 / 8}
    med = get(router, "/ts/butterflies/last/8/median")
    assert med["median"] == 5.0
    sd = get(router, "/ts/butterflies/last/8/sd")["sd"]
    assert sd == pytest.approx(4.181432170919432)  # population sd (A21)


def test_empty_aggregate_shapes(router):
    # quirk Q9: {} for max/min/mean/sd/median, 0 for sum/count
    base = "/ts/butterflies/since/9999999999999999"
    assert get(router, base + "/max") == {}
    assert get(router, base + "/median") == {}
    assert get(router, base + "/sum") == {"sum": 0.0}
    assert get(router, base + "/count") == {"count": 0.0}


def test_filtered_aggregate_and_q1_compat(engine):
    r = Router(engine)
    r.handle("POST", "/ts/b", json.dumps(BFLY))
    path = "/ts/b/last/8/filter/scientist/equals/lang/mean"
    # default: true equality -> no 'lang' scientist -> empty mean
    assert r.handle_json("GET", path)[1] == {}
    # reads do not flush: store the first router's points for the second
    assert r.handle("GET", "/ctl/ts/sync")[0] == 200
    # compat_q1: equals+agg degrades to contains, matching the reference
    rq = Router(engine, compat_q1=True)
    status, out = rq.handle_json("GET", path)
    assert out == {"mean": pytest.approx((12 + 11 + 2 + 1) / 4)}


def test_delete_since_range_and_filtered(router):
    router.handle("DELETE", "/ts/honeybees/since/1439856360000000")
    assert get(router, "/ts/honeybees/length") == {"length": 2}
    router.handle(
        "DELETE", "/ts/butterflies/range/0/9999999999999999/filter/location/equals/2"
    )
    assert get(router, "/ts/butterflies/length") == {"length": 4}
    # aggregate as delete-xargs is a 400
    status, _ = router.handle("DELETE", "/ts/butterflies/since/0/mean")
    assert status == 400


def test_lengths_memory_disk(engine):
    r = Router(engine, max_buffer_size=6, shard_size=4)
    r.handle("POST", "/ts/b", json.dumps(BFLY))  # 8 >= 6 -> spills 4 twice? no: 8->spill 4, 4 left
    mem = get(r, "/ts/b/memory/length")["length"]
    disk = get(r, "/ts/b/disk/length")["length"]
    assert mem + disk == 8 and disk >= 4
    assert get(r, "/ts/b/length") == {"length": 8}
    status, _ = r.handle("GET", "/ctl/ts/sync")
    assert status == 200
    assert get(r, "/ts/b/memory/length") == {"length": 0}
    assert get(r, "/ts/b/disk/length") == {"length": 8}


def test_index_and_metadata(router):
    get(router, "/ts/butterflies/length")  # force flush
    idx = get(router, "/ts/butterflies/index")
    assert list(idx) == ["butterflies"]
    assert all(t1 <= t2 for t1, t2 in idx["butterflies"])
    n = get(router, "/ts/butterflies/index/length")["length"]
    assert n == len(idx["butterflies"])
    assert get(router, "/info/ts/names") == {"timeseries": ["butterflies", "honeybees"]}
    assert get(router, "/info/status") == {"status": "ok"}
    stats = get(router, "/info/ts/stats")
    assert [list(d)[0] for d in stats] == [
        "length", "length_in_memory", "length_on_disk", "length_of_index",
    ]
    assert {"butterflies": 8} in stats[0]["length"]


def test_unknown_routes_400(router):
    for meth, path in [
        ("GET", "/nope"),
        ("GET", "/ts/x/bogus"),
        ("GET", "/ts/x/last/2/filter/a/startswith/b"),
        ("DELETE", "/ts/x/last/2"),
        ("PUT", "/ts/x"),
    ]:
        status, body = router.handle(meth, path)
        assert status == 400 and body.startswith("Error:"), (meth, path)


def test_full_uri_routing(router):
    # quirk Q10: reference matches the tail of the full split URI
    out = get(router, "http://localhost:8000/ts/butterflies/last/1")
    assert out[0]["value"] == 7.0


def test_live_http_server(engine):
    import urllib.request

    router = Router(engine)
    server = serve(router, port=0)
    port = server.server_address[1]
    base = f"http://127.0.0.1:{port}"
    try:
        req = urllib.request.Request(
            f"{base}/ts/live", data=json.dumps(BFLY[:2]).encode(), method="POST"
        )
        assert urllib.request.urlopen(req).status == 200
        with urllib.request.urlopen(f"{base}/ts/live/length") as resp:
            assert json.loads(resp.read()) == {"length": 2}
        with urllib.request.urlopen(f"{base}/info/status") as resp:
            assert json.loads(resp.read()) == {"status": "ok"}
    finally:
        server.shutdown()


def test_router_never_crashes_on_arbitrary_paths(engine):
    """Fuzz the route table: any path/method yields 200 or a clean 400
    'Error:' body — never an unhandled exception (the reference's catch-
    all at src/main.re:216-223)."""
    import itertools
    import random

    rng = random.Random(42)
    router = Router(engine)
    router.handle("POST", "/ts/s", json.dumps({"value": 1}))
    segments = [
        "ts", "info", "ctl", "s", "last", "first", "since", "range", "filter",
        "equals", "contains", "sum", "mean", "bogus", "0", "-1", "2", "1e9",
        "", "names", "stats", "status", "sync", "length", "index", "memory",
        "disk", "a,b", "..", "%20", "🦋",
    ]
    methods = ["GET", "POST", "DELETE", "PUT"]
    for _ in range(300):
        depth = rng.randint(1, 7)
        path = "/" + "/".join(rng.choice(segments) for _ in range(depth))
        body = rng.choice([None, "junk", json.dumps({"value": 2})])
        status, text = router.handle(rng.choice(methods), path, body)
        assert status in (200, 400), (path, status)
        if status == 400:
            assert text.startswith("Error:")


def test_concurrent_http_clients(engine):
    """Concurrent writers+readers against the live server: the buffer
    lock serializes mutation (the reference serializes EVERYTHING,
    src/main.re:225-227 — we only serialize writes) and every response
    stays well-formed."""
    import threading
    import urllib.request

    router = Router(engine)
    server = serve(router, port=0)
    base = f"http://127.0.0.1:{server.server_address[1]}"
    errors: list = []

    def writer(series: str):
        try:
            for i in range(5):
                req = urllib.request.Request(
                    f"{base}/ts/{series}",
                    data=json.dumps({"timestamp": 1000 + i, "value": float(i)}).encode(),
                    method="POST",
                )
                assert urllib.request.urlopen(req).status == 200
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    def reader():
        try:
            for _ in range(5):
                with urllib.request.urlopen(f"{base}/info/ts/names") as r:
                    json.loads(r.read())
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    try:
        threads = [threading.Thread(target=writer, args=(f"s{i}",)) for i in range(4)]
        threads += [threading.Thread(target=reader) for _ in range(2)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
        assert not errors, errors
        with urllib.request.urlopen(f"{base}/ctl/ts/sync") as r:
            assert r.status == 200
        total = json.loads(
            urllib.request.urlopen(f"{base}/ts/s0,s1,s2,s3/length").read()
        )
        assert total == {"length": 20}
    finally:
        server.shutdown()


def test_delete_q2_compat_membership(engine):
    """Q2 compat: tag-filtered delete also removes same-timestamp points
    that did NOT match the filter (reference src/timeseries.re:264-268);
    default router deletes precisely."""
    precise = Router(engine)
    precise.handle("POST", "/ts/p", json.dumps(BFLY))
    precise.handle("DELETE", "/ts/p/range/0/9999999999999999/filter/scientist/equals/perpetua")
    # precise: only the 4 perpetua points die
    assert precise.handle_json("GET", "/ts/p/length")[1] == {"length": 4}

    compat = Router(engine, compat_q2=True)
    compat.handle("POST", "/ts/q", json.dumps(BFLY))
    compat.handle("DELETE", "/ts/q/range/0/9999999999999999/filter/scientist/equals/perpetua")
    # membership: langstroth points sharing ts 1439856000000000 and
    # 1439856360000000 with perpetua victims die too -> only the two
    # location-2 langstroth points (unique ts) survive
    assert compat.handle_json("GET", "/ts/q/length")[1] == {"length": 2}


def test_extension_routes(router):
    # resample with linear fill over butterflies (6-minute buckets)
    out = get(router, "/x/ts/butterflies/resample/360000000/linear")
    assert all(set(r) == {"series", "bucket_us", "value", "n"} for r in out)
    assert [r["bucket_us"] for r in out] == sorted(r["bucket_us"] for r in out)
    gaps = [r for r in out if r["n"] == 0]
    assert gaps and all(r["value"] is not None for r in gaps)  # interpolated

    deltas = get(router, "/x/ts/butterflies/delta")
    assert len(deltas) == 7  # 8 points -> 7 successive diffs

    q = get(router, "/x/ts/butterflies,honeybees/quantiles")
    assert set(q) == {"p25", "p50", "p75", "p95"}
    # bad fill mode / unknown verb are clean 400s
    assert router.handle("GET", "/x/ts/butterflies/resample/1000/cubic")[0] == 400
    assert router.handle("GET", "/x/ts/butterflies/spline")[0] == 400


def test_malformed_numeric_segments_are_400(router):
    # reference answers 400 via its Failure catch-all (src/main.re:216-223);
    # int() ValueError must not escape the router as a crash
    for method, path in [
        ("GET", "/ts/butterflies/last/abc"),
        ("GET", "/ts/butterflies/since/foo"),
        ("GET", "/ts/butterflies/range/1/bar"),
        ("DELETE", "/ts/butterflies/since/nope"),
        ("DELETE", "/ts/butterflies/range/x/y"),
        ("GET", "/x/ts/butterflies/resample/zz/linear"),
    ]:
        status, body = router.handle(method, path)
        assert status == 400, (method, path, body)
        assert body.startswith("Error:")


def test_out_of_range_numeric_segments_are_400_and_touch_nothing(router):
    """Segments that become Spark literals or engine mutations parse as
    signed 64-bit integers: past that range every such route answers 400
    before the engine is touched, instead of a py4j
    NumberFormatException escaping handle() (which drops the connection
    under serve()) or a rollup width no later call can use."""
    hour = 3_600_000_000
    big = "99999999999999999999"
    assert router.handle("GET", f"/x/ts/butterflies/rollup/{hour}")[0] == 200
    points = get(router, "/ts/butterflies/since/0")
    floor = router.engine.retention_floor_us
    for method, path in [
        ("DELETE", f"/ts/butterflies/since/{big}"),
        ("DELETE", f"/ts/butterflies/range/0/{big}"),
        ("DELETE", f"/ts/butterflies/range/-{big}/0"),
        ("GET", f"/x/ts/butterflies/resample/{big}"),
        ("GET", f"/x/ts/butterflies/rollup/{big}"),
        ("POST", f"/x/ctl/ts/retention/{big}"),
    ]:
        status, body = router.handle(method, path)
        assert status == 400 and body.startswith("Error:"), (method, path, body)
    assert get(router, "/ts/butterflies/since/0") == points
    assert sorted(router.engine.rollup_widths) == [hour]
    assert router.engine.retention_floor_us == floor
    # the edge of the range is still a bound
    assert router.handle("DELETE", f"/ts/butterflies/since/{(1 << 63) - 1}")[0] == 200
    assert get(router, "/ts/butterflies/since/0") == points


def test_delete_on_fresh_store_is_ok(engine):
    # nothing ever flushed: reference returns 200 OK for deleting
    # nonexistent series, and compaction of an empty store is a no-op
    engine.delete(["ghost"], 0, None)
    engine.compact()
    r = Router(engine)
    assert r.handle("DELETE", "/ts/ghost/since/0")[0] == 200


def test_signal_flush_hooks(engine):
    """Reference parity src/main.re:310-317: TERM/INT/HUP flush every
    buffered series. Pinned by raising SIGTERM in-process: the buffered
    points must land in the store, the server must shut down, and the
    previously-installed handler must be restored afterwards."""
    import signal

    from nibbledb_spark.rest import serve

    prev = signal.getsignal(signal.SIGTERM)
    router = Router(engine)
    server = serve(router, port=0, install_signals=True)
    try:
        router.handle("POST", "/ts/sigflush", json.dumps(BFLY))
        assert router._buffered(["sigflush"]) == len(BFLY)  # still buffered

        signal.raise_signal(signal.SIGTERM)

        assert router._buffered(["sigflush"]) == 0
        assert server.signal_flusher.flushed == [signal.SIGTERM]
        # points are durably in the store, readable without the buffer
        status, body = Router(engine).handle("GET", "/ts/sigflush/length")
        assert status == 200 and json.loads(body) == {"length": len(BFLY)}
    finally:
        server.signal_flusher.restore()
        server.shutdown()
        assert signal.getsignal(signal.SIGTERM) is prev


def test_extension_rollup_route(router):
    """/x/ts/:ids/rollup[/:every]: first call at a width enables its
    maintenance; widths form a hierarchy, so a finer width is simply a
    second rollup with at least as many buckets."""
    out = get(router, "/x/ts/butterflies/rollup/3600000000")
    assert out and all(
        set(r) == {"series", "bucket_us", "n", "sum", "min", "max", "mean"}
        for r in out
    )
    n_total = sum(r["n"] for r in out)
    assert n_total == get(router, "/ts/butterflies/length")["length"]
    assert all(r["min"] <= r["mean"] <= r["max"] for r in out)
    assert router.handle("GET", "/x/ts/butterflies/rollup/3600000000")[0] == 200
    fine = get(router, "/x/ts/butterflies/rollup/60000000")
    assert len(fine) >= len(out) and sum(r["n"] for r in fine) == n_total
    assert sorted(router.engine.rollup_widths) == [60000000, 3600000000]
    assert router.handle("GET", "/x/ts/butterflies/rollup/0")[0] == 400


def test_resample_served_from_rollup_matches_operator(router):
    """An unfilled resample at an enabled rollup width must return the
    exact operator output (identical scaled-long mean arithmetic) while
    being served from the maintained aggregate, and filled variants
    keep the raw path."""
    raw = get(router, "/x/ts/honeybees/resample/3600000000")  # raw path
    get(router, "/x/ts/honeybees/rollup/3600000000")  # enable width
    routed = get(router, "/x/ts/honeybees/resample/3600000000")
    assert routed == raw and len(routed) > 0
    filled = get(router, "/x/ts/honeybees/resample/3600000000/prev")
    assert len(filled) >= len(routed)  # gap-fill adds grid rows


def test_full_wire_protocol_over_http(engine, tmp_path):
    """A5/verdict-r10 e2e: EVERY route of the reference's table
    (src/main.re:175-202) driven over a REAL TCP socket — including the
    sync control endpoint — plus the ported load generator
    (tools/client.py, the reference's test/client.re) run as an actual
    subprocess against the live server. The in-process Router tests pin
    semantics; this pins the wire: URL parsing from a raw request line,
    Content-Length framing, JSON bodies both ways, 400 statuses."""
    import os
    import subprocess
    import sys
    import urllib.error
    import urllib.request

    router = Router(engine)
    server = serve(router, port=0)
    base = f"http://127.0.0.1:{server.server_address[1]}"
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

    def http(method, path, body=None):
        req = urllib.request.Request(
            base + path,
            data=json.dumps(body).encode() if body is not None else None,
            method=method,
        )
        try:
            with urllib.request.urlopen(req) as resp:
                text = resp.read().decode()
                return resp.status, (json.loads(text) if text else None)
        except urllib.error.HTTPError as e:
            return e.code, e.read().decode()

    try:
        # -- ingest: the reference's own client workflow ------------------
        # (client.re --file: POST a whole fixture file's array payload)
        fixture = tmp_path / "butterflies.json"
        fixture.write_text(json.dumps(BFLY))
        r = subprocess.run(
            [
                sys.executable, os.path.join(repo, "tools", "client.py"),
                "--uri", f"{base}/ts/butterflies", "--file",
                "--payload", str(fixture), "--loop", "1", "--freq", "0",
            ],
            capture_output=True, text=True, timeout=60,
        )
        assert r.returncode == 0 and "=> Created" in r.stdout, r.stderr
        # (client.re default payload loop: N single-point POSTs)
        r = subprocess.run(
            [
                sys.executable, os.path.join(repo, "tools", "client.py"),
                "--uri", f"{base}/ts/foo", "--loop", "3", "--freq", "0",
            ],
            capture_output=True, text=True, timeout=60,
        )
        assert r.returncode == 0 and r.stdout.count("=> Created") == 3
        # a 400 terminates the client with exit 1 (improvement over
        # client.re, which ignores statuses entirely)
        r = subprocess.run(
            [
                sys.executable, os.path.join(repo, "tools", "client.py"),
                "--uri", f"{base}/ts/bad", "--payload", "not json",
                "--loop", "1", "--freq", "0",
            ],
            capture_output=True, text=True, timeout=60,
        )
        assert r.returncode == 1 and "HTTP 400" in r.stderr

        # -- every GET route over the socket ------------------------------
        assert http("GET", "/ts/butterflies/length")[1] == {"length": 8}
        assert http("GET", "/ts/foo/length")[1] == {"length": 3}
        s, last2 = http("GET", "/ts/butterflies/last/2")
        assert s == 200 and [p["value"] for p in last2] == [7.0, 8.0]
        assert http("GET", "/ts/butterflies/latest")[1][0]["value"] == 7.0
        s, first2 = http("GET", "/ts/butterflies/first/2")
        assert s == 200 and len(first2) == 2
        assert (
            http("GET", "/ts/butterflies/earliest")[1][0]["timestamp"]
            == 1439856000000000
        )
        assert len(http("GET", "/ts/butterflies/since/1439877240000000")[1]) == 4
        assert (
            len(
                http(
                    "GET",
                    "/ts/butterflies/range/1439856000000000/1439856360000000",
                )[1]
            )
            == 4
        )
        # xargs over the wire: filter, filter+agg, bare agg
        s, flt = http(
            "GET", "/ts/butterflies/last/8/filter/scientist/equals/perpetua"
        )
        assert s == 200 and sorted(p["value"] for p in flt) == [1.0, 3.0, 7.0, 8.0]
        assert http(
            "GET", "/ts/butterflies/last/8/filter/scientist/equals/perpetua/sum"
        )[1] == {"sum": 19.0}
        assert http("GET", "/ts/butterflies/last/8/sum")[1] == {"sum": 45.0}
        # multi-series union read
        assert http("GET", "/ts/butterflies,foo/length")[1] == {"length": 11}
        # memory/disk split + sync control endpoint (A5)
        mem0 = http("GET", "/ts/butterflies/memory/length")[1]["length"]
        disk0 = http("GET", "/ts/butterflies/disk/length")[1]["length"]
        assert mem0 + disk0 == 8
        assert http("GET", "/ctl/ts/sync") == (200, None)
        assert http("GET", "/ts/butterflies/memory/length")[1] == {"length": 0}
        assert http("GET", "/ts/butterflies/disk/length")[1] == {"length": 8}
        # index endpoints (post-sync the shard index is non-trivial)
        n_idx = http("GET", "/ts/butterflies/index/length")[1]["length"]
        assert n_idx >= 1
        s, idx = http("GET", "/ts/butterflies/index")
        assert s == 200 and len(idx["butterflies"]) == n_idx
        assert all(lo <= hi for lo, hi in idx["butterflies"])
        # info endpoints
        assert http("GET", "/info/status")[1] == {"status": "ok"}
        names = http("GET", "/info/ts/names")[1]["timeseries"]
        assert {"butterflies", "foo"} <= set(names)
        s, stats = http("GET", "/info/ts/stats")
        assert s == 200 and [list(d)[0] for d in stats] == [
            "length", "length_in_memory", "length_on_disk", "length_of_index",
        ]

        # -- DELETE routes over the socket --------------------------------
        assert http(
            "DELETE",
            "/ts/butterflies/range/1439877240000000/1439877600000000"
            "/filter/scientist/equals/langstroth",
        ) == (200, None)
        assert http("GET", "/ts/butterflies/length")[1] == {"length": 6}
        assert http("DELETE", "/ts/butterflies/since/1439877240000000") == (
            200,
            None,
        )
        assert http("GET", "/ts/butterflies/length")[1] == {"length": 4}

        # -- wire-level 400s ----------------------------------------------
        for method, path in [
            ("GET", "/nope"),
            ("GET", "/ts/butterflies/last/notanumber"),
            ("GET", "/ts/butterflies/last/8/bogusagg"),
            ("DELETE", "/ts/butterflies"),
            ("PUT", "/ts/butterflies"),
        ]:
            status, text = http(method, path)
            assert status == 400 and text.startswith("Error:"), (method, path)
    finally:
        server.shutdown()


@pytest.mark.parametrize("kw", [{"shard_size": 0}, {"max_buffer_size": 0}])
def test_router_rejects_buffer_sizes_below_one(engine, kw):
    """A buffer or shard size below 1 never shrinks the buffer in the
    POST spill loop, which would spin forever holding the router lock:
    refused at construction."""
    with pytest.raises(ValueError, match=">= 1"):
        Router(engine, **kw)


def test_client_loop_zero_posts_once():
    """client.re's post_loop sends once even at the default loop=0
    (loop(0) fires the first request before checking n > 1); the port
    must match — --loop 0 is one POST, not zero. Pinned without a
    server: one connection attempt to a dead port = one error exit."""
    import sys

    sys.path.insert(0, "tools")
    try:
        import client
    finally:
        sys.path.pop(0)

    calls = []

    def fake_post(uri, payload, content_type):
        calls.append((uri, payload, content_type))
        return 200, ""

    orig = client.post_once
    client.post_once = fake_post
    try:
        assert client.main(["--uri", "http://x/ts/a"]) == 0
        assert len(calls) == 1  # loop default 0 => exactly one POST
        calls.clear()
        assert client.main(["--uri", "http://x/ts/a", "--loop", "3", "--freq", "0"]) == 0
        assert len(calls) == 3
    finally:
        client.post_once = orig


def test_retention_control_route(engine):
    """POST /x/ctl/ts/retention/:cutoff — the drop-raw/keep-rollup
    lifecycle over the wire: buffered points flush first, raw reads
    shrink to the live range, the rollup keeps answering aligned
    aggregates over the dropped range, and the engine's guard rails
    (no rollup, misaligned cutoff) surface as clean 400s."""
    HOUR = 3_600_000_000
    router = Router(engine)
    pts = [
        {"timestamp": h * HOUR + j * 600_000_000, "tag": [{"k": "v"}],
         "value": float(h * 10 + j)}
        for h in range(4) for j in range(3)
    ]
    assert router.handle("POST", "/ts/m", json.dumps(pts))[0] == 200

    # guard: retention without a rollup is a 400, not a crash
    status, body = router.handle("POST", f"/x/ctl/ts/retention/{2 * HOUR}")
    assert status == 400 and "rollup" in body

    router.handle("GET", f"/x/ts/m/rollup/{HOUR}")  # enable maintenance
    pre = router.handle_json(
        "GET", f"/ts/m/range/0/{2 * HOUR - 1}/sum"
    )[1]

    status, out = router.handle_json("POST", f"/x/ctl/ts/retention/{2 * HOUR}")
    assert status == 200 and out == {"retention_floor_us": 2 * HOUR}

    assert router.handle_json("GET", "/ts/m/length")[1] == {"length": 6}
    # dropped-range aligned aggregate still answers from the rollup
    assert router.handle_json(
        "GET", f"/ts/m/range/0/{2 * HOUR - 1}/sum"
    )[1] == pre
    # misaligned cutoff and backwards floor both 400
    assert router.handle("POST", f"/x/ctl/ts/retention/{3 * HOUR + 5}")[0] == 400
    assert router.handle("POST", f"/x/ctl/ts/retention/{HOUR}")[0] == 400


# ---------------------------------------------------------------------------
# reads over buffer ∪ store, with no flush
# ---------------------------------------------------------------------------

DAY = 86_400_000_000


def _read_paths(ids: str) -> list[str]:
    """last, first, since and range, each bare, filtered, filtered +
    aggregated and aggregated."""
    t0 = BFLY[0]["timestamp"]
    out = []
    for base in (
        f"/ts/{ids}/last/3",
        f"/ts/{ids}/first/3",
        f"/ts/{ids}/since/{t0 + 360_000_000}",
        f"/ts/{ids}/range/{t0 - DAY}/{t0 + 21_600_000_000}",
    ):
        out += [
            base,
            base + "/filter/location/equals/2",
            base + "/filter/scientist/equals/perpetua/mean",
            base + "/sum",
        ]
    return out


def test_reads_over_buffer_and_store_equal_reads_after_sync(spark, engine):
    """A read with points still buffered returns the literal body it
    returns once they are stored, leaves the buffer as it was and runs
    one Spark job. The buffers hold out-of-order POSTs, points older
    than the stored ones (on the same and on earlier days) and points on
    a later day; ids include a duplicate, an unknown id and a series
    with nothing stored."""
    r = Router(engine)
    assert r.handle("POST", "/ts/butterflies", json.dumps(BFLY[2:6]))[0] == 200
    assert r.handle("GET", "/ctl/ts/sync")[0] == 200
    older = [
        {"timestamp": BFLY[0]["timestamp"] - DAY + 7, "tag": [{"location": "2"}, {"scientist": "perpetua"}], "value": 4},
        {"timestamp": BFLY[0]["timestamp"] - 3 * DAY, "tag": [{"location": "3"}], "value": 9},
    ]
    later = [{"timestamp": BFLY[-1]["timestamp"] + DAY, "tag": [{"location": "2"}], "value": 5}]
    for batch in (BFLY[7:8], BFLY[0:2], older, BFLY[6:7], later):
        assert r.handle("POST", "/ts/butterflies", json.dumps(batch))[0] == 200
    assert r.handle("POST", "/ts/honeybees", json.dumps(BEES[::-1]))[0] == 200
    memory = {"butterflies": 7, "honeybees": 4}

    paths = [
        p
        for ids in ("butterflies", "butterflies,butterflies", "butterflies,nosuch", "honeybees,butterflies")
        for p in _read_paths(ids)
    ]
    before = {}
    for i, path in enumerate(paths):
        (status, body), jobs = run_in_job_group(spark, f"buffered_read_{i}", lambda: r.handle("GET", path))
        assert status == 200, (path, body)
        assert jobs == 1, path
        before[path] = body
        for s, n in memory.items():
            assert get(r, f"/ts/{s}/memory/length") == {"length": n}, path
    assert get(r, "/ts/butterflies,honeybees/length") == {"length": 15}
    assert get(r, "/ts/butterflies/memory/length") == {"length": 7}
    assert r.handle("GET", "/ctl/ts/sync")[0] == 200
    assert get(r, "/ts/butterflies,honeybees/memory/length") == {"length": 0}
    assert {p: r.handle("GET", p)[1] for p in paths} == before
    assert before["/ts/butterflies/last/3"] != "[]"


def test_read_of_ids_holding_a_shard_flushes_them(engine):
    """Ids holding shard_size or more buffered points between them are
    flushed before the read, as the reference flushes rather than merge
    a large buffer; below that the buffer stays."""
    r = Router(engine, max_buffer_size=100, shard_size=4)
    pts = [{"timestamp": t, "value": float(t)} for t in range(1, 4)]
    r.handle("POST", "/ts/a", json.dumps(pts))
    assert get(r, "/ts/a/last/2") == [{"timestamp": 3, "value": 3.0}, {"timestamp": 2, "value": 2.0}]
    assert get(r, "/ts/a/memory/length") == {"length": 3}
    r.handle("POST", "/ts/b", json.dumps(pts[:1]))
    assert get(r, "/ts/a,b/since/2/count") == {"count": 2.0}
    assert get(r, "/ts/a,b/memory/length") == {"length": 0}
    assert get(r, "/ts/a,b/disk/length") == {"length": 4}
    r.handle("POST", "/ts/a", json.dumps([{"timestamp": 9, "value": 9.0}]))
    assert get(r, "/ts/a/first/9/count") == {"count": 4.0}
    assert get(r, "/ts/a/memory/length") == {"length": 1}


def test_spilling_writer_racing_readers_loses_and_doubles_nothing(engine):
    """One writer POSTs points whose buffer spills every few POSTs while
    four readers read the series: every read holds each acknowledged
    point exactly once — a prefix of the writes at least as long as the
    acknowledged one when the read started."""
    import sys
    import threading

    # a spill every 2-3 POSTs leaves 0-4 points buffered, which reads
    # merge rather than flush (they flush at 5)
    r = Router(engine, max_buffer_size=6, shard_size=5)
    step = DAY // 2  # two points a day: the top-n day bound is in play
    posts, per_post = 24, 2
    acked = [0]
    stop = threading.Event()
    errors: list[str] = []

    def writer():
        try:
            for k in range(posts):
                body = [{"timestamp": (k * per_post + j) * step, "value": float(k * per_post + j)}
                        for j in range(per_post)]
                status, text = r.handle("POST", "/ts/w", json.dumps(body))
                if status != 200:
                    errors.append(f"POST {k}: {text}")
                acked[0] = (k + 1) * per_post
        except Exception as e:  # surfaced by the assertion below
            errors.append(f"writer: {e}"[:500])
        finally:
            stop.set()

    def reader(i: int):
        path = ("/ts/w/since/0", "/ts/w/last/3", "/ts/w/range/0/9999999999999999", "/ts/w/first/2")[i]
        try:
            while not stop.is_set():
                floor = acked[0]
                status, body = r.handle_json("GET", path)
                if status != 200:
                    errors.append(f"{path}: {body}")
                    continue
                ts = [p["timestamp"] // step for p in body]
                if path.endswith("/first/2"):
                    want_ok = ts == list(range(min(2, len(ts)))) and len(ts) >= min(2, floor)
                elif path.endswith("/last/3"):
                    top = ts[0] + 1 if ts else 0
                    want_ok = top >= floor and ts == list(range(top - 1, max(top - 3, 0) - 1, -1))
                else:
                    want_ok = len(ts) >= floor and ts == list(range(len(ts) - 1, -1, -1))
                if not want_ok:
                    errors.append(f"{path} after {floor} acknowledged: {ts}")
        except Exception as e:
            errors.append(f"{path}: {e}"[:500])

    threads = [threading.Thread(target=writer)] + [
        threading.Thread(target=reader, args=(i,)) for i in range(4)
    ]
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        stop.set()
        sys.setswitchinterval(switch)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert get(r, "/ts/w/length") == {"length": posts * per_post}


def test_stats_and_length_count_one_snapshot(engine, monkeypatch):
    """/info/ts/stats and /ts/:ids/length take the buffer counts and the
    store listing together, so a spill landing while the disk counts run
    neither drops its batch nor counts it twice; length does not
    flush."""
    r = Router(engine, max_buffer_size=6, shard_size=4)
    pts = [{"timestamp": t, "value": float(t)} for t in range(1, 10)]
    r.handle("POST", "/ts/s", json.dumps(pts[:3]))
    r.handle("GET", "/ctl/ts/sync")
    r.handle("POST", "/ts/s", json.dumps(pts[3:7]))  # 4 buffered, no spill
    stats = engine.stats
    spilled = []

    def stats_then_spill(*args, **kwargs):
        frame = stats(*args, **kwargs)
        if not spilled:  # 2 more points: 6 buffered -> spill 4
            spilled.append(r.handle("POST", "/ts/s", json.dumps(pts[7:9]))[0])
        return frame

    monkeypatch.setattr(engine, "stats", stats_then_spill)
    out = get(r, "/info/ts/stats")
    assert spilled == [200]
    assert out == [
        {"length": [{"s": 7}]},
        {"length_in_memory": [{"s": 4}]},
        {"length_on_disk": [{"s": 3}]},
        {"length_of_index": [{"s": 1}]},
    ]
    assert get(r, "/ts/s/length") == {"length": 9}
    assert get(r, "/ts/s/memory/length") == {"length": 2}
    assert get(r, "/ts/s/disk/length") == {"length": 7}
