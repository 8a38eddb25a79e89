"""Seeded inputs for every workload.

Everything here is a pure function of the seed: the points store and the
REST request streams for the tsdb workloads, and the star-schema tables
(plus ``events``, ``documents`` and ``embeddings``) that the declared
queries read. The program under test only ever sees the files and
requests produced here.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# -- points store (tsdb workloads) ---------------------------------------

BASE_US = 1_700_000_000_000_000  # 2023-11-14, fixed so inputs depend only on the seed
STEP_US = 60_000_000  # one point per series per minute
HOUR_US = 3_600_000_000
DAY_US = 24 * HOUR_US
TAG_LOC = ("0", "1", "2", "3")
TAG_DEV = ("a", "b")


def rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, input stream)."""
    return np.random.default_rng([seed, sum(ord(c) << (i % 24) for i, c in enumerate(stream))])


def series_names(n_series: int) -> list[str]:
    return [f"s{i:03d}" for i in range(n_series)]


def store_points(seed: int, n_series: int, n_points: int) -> dict[str, np.ndarray]:
    """Columns of the preloaded store: ``n_points`` per series, one a
    minute from BASE_US, tags ``loc`` and ``dev``, values with 2 dp."""
    r = rng(seed, "store")
    names = np.array(series_names(n_series))
    n = n_series * n_points
    return {
        "series": np.repeat(names, n_points),
        "ts": np.tile(BASE_US + np.arange(n_points, dtype=np.int64) * STEP_US, n_series),
        "loc": r.integers(0, len(TAG_LOC), n),
        "dev": r.integers(0, len(TAG_DEV), n),
        "value": np.round(r.normal(50.0, 12.0, n), 2),
    }


def points_table(cols: dict[str, np.ndarray], rows: slice | np.ndarray) -> pa.Table:
    """Arrow table in the engine's point schema (series, ts, tag, value)."""
    loc = cols["loc"][rows]
    dev = cols["dev"][rows]
    offsets = np.arange(0, 2 * len(loc) + 1, 2, dtype=np.int32)
    keys = pa.array(np.tile(["dev", "loc"], len(loc)))
    vals = np.empty(2 * len(loc), dtype=object)
    vals[0::2] = np.array(TAG_DEV, dtype=object)[dev]
    vals[1::2] = np.array(TAG_LOC, dtype=object)[loc]
    tag = pa.MapArray.from_arrays(pa.array(offsets), keys, pa.array(vals, pa.string()))
    return pa.table(
        {
            "series": pa.array(cols["series"][rows], pa.string()),
            "ts": pa.array(cols["ts"][rows], pa.int64()),
            "tag": tag,
            "value": pa.array(cols["value"][rows], pa.float64()),
        }
    )


def write_store_chunks(cols: dict[str, np.ndarray], n_series: int, out_dir: str, chunks: int) -> list[str]:
    """Split the store by series into ``chunks`` parquet files of near-equal
    size, one per set-up repetition."""
    per = len(cols["ts"]) // n_series
    bounds = np.linspace(0, n_series, chunks + 1).astype(int)
    paths = []
    for i in range(chunks):
        path = os.path.join(out_dir, f"preload_{i}.parquet")
        pq.write_table(points_table(cols, slice(bounds[i] * per, bounds[i + 1] * per)), path)
        paths.append(path)
    return paths


def zipf_weights(n: int, s: float = 1.1) -> np.ndarray:
    """Zipf popularity by list position: the first series is the hottest.
    The ranking is fixed so that which series share a store bucket with
    the hot ones does not change from seed to seed."""
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


READ_KINDS = ("last10", "last1000", "range1h", "range7d_mean", "last500_filter_sd", "since_median")
FRESH = "fresh_last10"  # last/10 on the series written last; its path is made at run time


def read_ops(
    seed: int, client: int, n_ops: int, names: list[str], n_points: int, fresh: bool = False
) -> list[tuple[str, str | None]]:
    """The closed-loop read stream of one client: (kind, path) pairs over
    Zipf-skewed ``names``; the kinds of READ_KINDS (and FRESH, with path
    None, when ``fresh``) take turns, each round in a new seeded order,
    so every stretch of the stream has the same mix."""
    r = rng(seed, f"reads{client}")
    n_series = len(names)
    w = zipf_weights(n_series)
    end = BASE_US + (n_points - 1) * STEP_US
    menu = READ_KINDS + ((FRESH,) if fresh else ())
    ops: list[tuple[str, str | None]] = []
    kinds: list[str] = []
    for _ in range(n_ops):
        if not kinds:
            kinds = [menu[i] for i in r.permutation(len(menu))]
        kind = kinds.pop()
        if kind == FRESH:
            ops.append((kind, None))
            continue
        s = names[r.choice(n_series, p=w)]
        if kind == "last10":
            path = f"/ts/{s}/last/10"
        elif kind == "last1000":
            path = f"/ts/{s}/last/1000"
        elif kind == "range1h":
            a = BASE_US + int(r.integers(0, max(1, (end - BASE_US - HOUR_US) // STEP_US))) * STEP_US
            path = f"/ts/{s}/range/{a}/{a + HOUR_US - 1}"
        elif kind == "range7d_mean":
            others = [j for j in range(n_series) if names[j] != s]
            if others:  # a second, different series
                s2 = names[others[r.choice(len(others), p=w[others] / w[others].sum())]]
                s = f"{s},{s2}"
            a = BASE_US + int(r.integers(0, max(1, (end - BASE_US - 7 * DAY_US) // STEP_US))) * STEP_US
            path = f"/ts/{s}/range/{a}/{a + 7 * DAY_US}/mean"
        elif kind == "last500_filter_sd":
            path = f"/ts/{s}/last/500/filter/loc/equals/{TAG_LOC[r.integers(len(TAG_LOC))]}/sd"
        else:
            path = f"/ts/{s}/since/{end - 6 * HOUR_US}/median"
        ops.append((kind, path))
    return ops


def write_batches(seed: int, n_batches: int, names: list[str], n_points: int, batch: int) -> list[tuple[str, str, int]]:
    """The open-loop POST stream: (series, json body, newest ts) per batch,
    to series chosen uniformly from ``names``, timestamps continuing each
    series past the preload one second apart."""
    if not names:
        return []
    r = rng(seed, "writes")
    n_series = len(names)
    nxt = {s: BASE_US + n_points * STEP_US for s in names}
    out = []
    for _ in range(n_batches):
        s = names[r.integers(n_series)]
        t0 = nxt[s]
        nxt[s] = t0 + batch * 1_000_000
        loc = r.integers(0, len(TAG_LOC), batch)
        dev = r.integers(0, len(TAG_DEV), batch)
        val = np.round(r.normal(50.0, 12.0, batch), 2)
        pts = [
            {
                "timestamp": t0 + i * 1_000_000,
                "tag": [{"loc": TAG_LOC[loc[i]]}, {"dev": TAG_DEV[dev[i]]}],
                "value": float(val[i]),
            }
            for i in range(batch)
        ]
        out.append((s, json.dumps(pts), t0 + (batch - 1) * 1_000_000))
    return out


# -- star schema + text/vector tables (declared_queries) -----------------

_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PTYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_ADJ = ("red", "hot", "new", "blue", "large", "old", "small", "green")
_NOUN = ("bolt", "anvil", "ring", "rod", "plate", "nut", "gear", "pipe")
_PRIO = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENTS = ("click", "error", "purchase", "signup", "view")
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
_LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
EMBED_DIM = 64
EMBED_LABELS = 10


def _dates(r, n, start: str, days: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + r.integers(0, days, n).astype("timedelta64[D]")


def star_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten tables the declared queries read, shaped like the TPC-H-ish
    test data (same columns, types and value domains), sized by ``sf``."""
    r = rng(seed, "star")
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_events = max(1000, int(1_000_000 * sf))
    n_docs = max(200, int(50_000 * sf))
    n_vec = max(100, int(20_000 * sf))
    money = lambda lo, hi, n: np.round(r.uniform(lo, hi, n), 2)  # noqa: E731

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": list(_REGIONS)})
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(_SEGMENTS)[r.integers(0, 5, n_cust)],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": money(-999.99, 9999.99, n_supp),
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in zip(r.integers(0, 8, n_part), r.integers(0, 8, n_part))],
            "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
            "p_type": np.array(_PTYPES)[r.integers(0, 6, n_part)],
            "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": np.array(("F", "O", "P"))[r.integers(0, 3, n_ord)],
            "o_totalprice": money(1000.0, 500000.0, n_ord),
            "o_orderdate": pa.array(_dates(r, n_ord, "1995-01-01", 2405), pa.timestamp("us")),
            "o_orderpriority": np.array(_PRIO)[r.integers(0, 5, n_ord)],
        }
    )
    n_li = 4 * n_ord
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(r.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(r.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(r.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(r.integers(1, 8, n_li), pa.int32()),
            "l_quantity": r.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": money(900.0, 105000.0, n_li),
            "l_discount": np.round(r.integers(0, 11, n_li) * 0.01, 2),
            "l_tax": np.round(r.integers(0, 9, n_li) * 0.01, 2),
            "l_returnflag": np.array(("A", "N", "R"))[r.integers(0, 3, n_li)],
            "l_linestatus": np.array(("F", "O"))[r.integers(0, 2, n_li)],
            "l_shipdate": pa.array(_dates(r, n_li, "1995-01-02", 2498), pa.timestamp("us")),
        }
    )
    ev_ts = np.sort(r.integers(0, 30 * 86_400_000_000, n_events)) + np.datetime64("2024-01-01", "us").astype(np.int64)
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_events), pa.int64()),
            "ts": pa.array(ev_ts, pa.timestamp("us")),
            "user_id": pa.array(r.integers(0, max(15, int(15_000 * sf)), n_events), pa.int64()),
            "event_type": np.array(_EVENTS)[r.integers(0, 5, n_events)],
            "value": np.round(r.exponential(50.0, n_events), 2),
            "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_events)],
        }
    )
    t["documents"] = _documents(r, n_docs)
    t["embeddings"] = _embeddings(r, n_vec)
    return t


def _documents(r, n: int) -> pa.Table:
    """Bag-of-words documents; one in twenty is a near-duplicate of an
    earlier one (its text plus the token ``dup``)."""
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and i % 20 == 0:
            texts.append(texts[int(r.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(np.array(_WORDS)[r.integers(0, len(_WORDS), int(r.integers(10, 101)))]))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": np.array(_LANGS)[r.integers(0, len(_LANGS), n)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(x) for x in texts], pa.int64()),
        }
    )


def _embeddings(r, n: int) -> pa.Table:
    """Unit vectors around EMBED_LABELS cluster centres."""
    centres = r.normal(0.0, 1.0, (EMBED_LABELS, EMBED_DIM))
    label = r.integers(0, EMBED_LABELS, n)
    v = centres[label] + r.normal(0.0, 1.5, (n, EMBED_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(label, pa.int32()),
        }
    )


def write_star(seed: int, sf: float, out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in star_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
