"""REST façade: the reference's URL query grammar over the Spark engine.

Maps nibbledb's HTTP surface (reference src/main.re:175-202, the full
route table) onto :class:`~nibbledb_spark.engine.TimeSeriesEngine`
DataFrame plans. The router itself is a pure function
``handle(method, path, body) -> (status, body_text)`` so the whole
surface is testable without sockets; :func:`serve` wraps it in a
stdlib ThreadingHTTPServer for live use.

Fidelity notes:

- **Write buffering** (reference src/membuf.re, src/timeseries.re:158-168):
  POSTs land in a per-series in-memory FIFO; when a series reaches
  ``max_buffer_size`` points the oldest ``shard_size`` are flushed to the
  parquet store (defaults 100,000 / 20,000 — reference src/main.re:9-10).
- **Reads over buffer ∪ store** (reference src/timeseries.re:363-434,
  SURVEY.md A35): a raw read (``last``/``first``/``since``/``range``)
  and ``length`` do not flush. The read is one statement over the ids'
  buffered points, as a local Arrow relation, ``UNION ALL`` the engine's
  store listing, so it returns what it would after a flush. As the
  reference does, ids holding ``shard_size`` or more buffered points are
  flushed first instead. Deletes, the index and extension routes, and a
  bare range aggregate served by a rollup (whose partials count stored
  points only) still flush the touched series first.
- **Serialization** (reference src/shard.re:94-108): points emit as
  ``{"timestamp": µs, "tag": [{k: v}, ...], "value": float}`` with the
  tag key omitted when absent; aggregates emit ``{"<agg>": float}``
  with the empty-selection shaping of quirk Q9 (src/timeseries.re:436-454).
  Tag entry order within a point is canonical (sorted by name) — the
  reference preserves wire order, but its own docs treat tags as a set.
- **Errors** (reference src/main.re:216-223): malformed JSON or an
  unknown route returns 400 with an ``Error:...`` body.
- **Quirk Q1** (src/timeseries.re:505-508): the reference's
  ``filter/:n/equals/:v/:agg`` path silently applies *contains*
  semantics. Default here is true equality; ``compat_q1=True`` replicates
  the reference bug.
- **Concurrency**: the reference serializes every request behind one
  global mutex (src/main.re:225-227). Here one lock guards the buffers;
  a spill or flush holds it while it appends. A read or ``stats`` takes
  its snapshot under the lock — the buffered points (or counts) and the
  engine's store listing together — so each acknowledged point is in
  exactly one of them; the Spark work runs outside the lock,
  concurrently with other requests.
"""

from __future__ import annotations

import json
import threading
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nibbledb_spark.engine import TimeSeriesEngine
from nibbledb_spark.operators import timeseries as ts_ops
from nibbledb_spark.schema import LONG_MAX, LONG_MIN, ValidationError, validate_points

DEFAULT_MAX_BUFFER_SIZE = 100_000  # reference src/main.re:9
DEFAULT_SHARD_SIZE = 20_000  # reference src/main.re:10


class RouteError(Exception):
    """Maps to HTTP 400 (reference src/main.re:216-223)."""


def _long(segment: str) -> int:
    """A numeric path segment that becomes a Spark literal or an engine
    argument: a signed 64-bit integer, else ValueError (a 400). Past the
    long range the JVM would throw NumberFormatException from inside
    py4j, which no route catches."""
    v = int(segment)
    if not LONG_MIN <= v <= LONG_MAX:
        raise ValueError(f"numeric path segment out of the 64-bit range: {segment}")
    return v


def _split_path(path: str) -> list[str]:
    """Reference quirk Q10: routes match the tail of the '/'-split full
    URI, ignoring scheme/authority (src/main.re:204-214). Accept either a
    plain path ('/ts/...') or a full URI."""
    if "://" in path:
        parts = path.split("/")[3:]
    else:
        parts = path.lstrip("/").split("/")
    return [p for p in parts] if parts != [""] else []


def _rows_to_json(df) -> list[dict[str, Any]]:
    """Serialize a points frame through the Arrow channel (toPandas):
    one columnar hop instead of Py4J row-at-a-time collect — measured
    2-3x faster on >10k-row results, and the big point responses are
    exactly where the REST read path spends its time. numpy scalars are
    unboxed (int()/float()) so json.dumps downstream sees natives; map
    tags arrive as plain dicts on the Arrow path."""
    pdf = df.toPandas()
    out = []
    for ts, tag, value in zip(pdf["ts"], pdf["tag"], pdf["value"]):
        # pd.isna guards: the Arrow hop turns SQL NULL into NaN/NaT, and
        # float(nan) would make json.dumps emit bare NaN (invalid JSON)
        # while int(NaT) raises — the collect() path emitted JSON null,
        # so preserve that contract here.
        obj: dict[str, Any] = {
            "timestamp": None if pd.isna(ts) else int(ts)
        }
        if tag:
            obj["tag"] = [{k: tag[k]} for k in sorted(tag)]
        obj["value"] = None if pd.isna(value) else float(value)
        out.append(obj)
    return out


class Router:
    """The reference's REST surface over a TimeSeriesEngine."""

    def __init__(
        self,
        engine: TimeSeriesEngine,
        *,
        max_buffer_size: int = DEFAULT_MAX_BUFFER_SIZE,
        shard_size: int = DEFAULT_SHARD_SIZE,
        compat_q1: bool = False,
        compat_q2: bool = False,
    ) -> None:
        # a size below 1 never shrinks the buffer in _post's spill loop,
        # which would then spin forever holding the lock
        if max_buffer_size < 1 or shard_size < 1:
            raise ValueError(
                f"max_buffer_size and shard_size must be >= 1: "
                f"{max_buffer_size}, {shard_size}"
            )
        self.engine = engine
        self.max_buffer_size = max_buffer_size
        self.shard_size = shard_size
        self.compat_q1 = compat_q1
        # quirk Q2: timestamp-membership over-delete (reference
        # src/timeseries.re:264-268); default is precise predicate delete
        self.compat_q2 = compat_q2
        # per-series FIFO of (ts, tag, value) — reference src/membufq.re
        self._buffer: dict[str, list[tuple[int, dict | None, float]]] = {}
        self._lock = threading.Lock()

    # -- write path ---------------------------------------------------------

    def _post(self, series: str, body: str | None) -> None:
        try:
            payload = json.loads(body or "")
        except (json.JSONDecodeError, TypeError) as e:
            raise RouteError(f"badly formatted json: {e}") from e
        records = payload if isinstance(payload, list) else [payload]
        if not all(isinstance(r, dict) for r in records):
            raise RouteError("badly formatted json")
        try:
            points = validate_points(records, strict=self.engine.strict_ingest)
        except ValidationError as e:
            raise RouteError(str(e)) from e
        with self._lock:
            buf = self._buffer.setdefault(series, [])
            buf.extend(points)
            # spill the oldest shard_size points once the buffer fills
            # (reference src/timeseries.re:100-109, 158-168)
            while len(buf) >= self.max_buffer_size:
                batch, self._buffer[series] = buf[: self.shard_size], buf[self.shard_size :]
                buf = self._buffer[series]
                self._flush_rows(series, batch)

    def _flush_rows(self, series: str, rows: list) -> None:
        self.engine.append_rows(series, rows)

    def _flush(self, ids: list[str] | None = None) -> None:
        """Flush listed (or all) series buffers to the store (A5;
        reference src/timeseries.re:170-179)."""
        with self._lock:
            self._flush_locked(ids)

    def _flush_locked(self, ids: list[str] | None) -> None:
        keys = list(self._buffer) if ids is None else [i for i in ids if i in self._buffer]
        for k in keys:
            rows = self._buffer.pop(k, [])
            self._flush_rows(k, rows)

    def _buffered(self, ids: list[str]) -> int:
        with self._lock:
            return sum(len(self._buffer.get(i, [])) for i in ids)

    # -- snapshots: the buffers and the store listing, taken together --------
    # A spill moves points from a buffer to the store under the lock, so
    # what is read from both under it holds every acknowledged point
    # exactly once. Spark work on the snapshot runs outside the lock.

    def _snapshot(self, ids: list[str]) -> tuple[DataFrame, list[tuple]]:
        """The store listing and the ``(series, ts, tag, value)`` rows
        buffered for the distinct ``ids``. Ids holding ``shard_size`` or
        more buffered points are flushed first, as the reference flushes
        rather than merge a large buffer (src/timeseries.re:363-382)."""
        keys = list(dict.fromkeys(ids))
        with self._lock:
            if sum(len(self._buffer.get(i, ())) for i in keys) >= self.shard_size:
                self._flush_locked(keys)
            held = [(i, list(self._buffer[i])) for i in keys if self._buffer.get(i)]
            store = self.engine.listing()
        return store, [(i, *p) for i, pts in held for p in pts]

    def _counts(self) -> tuple[DataFrame, dict[str, int]]:
        """The store listing and every series' buffered point count."""
        with self._lock:
            mem = {k: len(v) for k, v in self._buffer.items()}
            store = self.engine.listing()
        return store, mem

    # -- read path ----------------------------------------------------------

    def _process(self, df: DataFrame, xargs: list[str]) -> Any:
        """The reference's process_data (src/timeseries.re:502-511):
        no xargs -> rows; filter -> rows; filter+agg -> scalar;
        bare agg -> scalar. Filters compose AFTER the scan's top-n /
        time selection, exactly like the reference (which filters the
        already-fetched per-series data)."""
        if not xargs:
            return _rows_to_json(df)
        if xargs[0] == "filter":
            if len(xargs) not in (4, 5):
                raise RouteError("unknown path")
            _, names_s, op, values_s = xargs[:4]
            if op not in ("equals", "contains"):
                raise RouteError("unknown path")
            names = names_s.split(",")
            values = values_s.split(",")
            try:
                if len(xargs) == 4:
                    return _rows_to_json(ts_ops.tag_filter(df, names, values, op))
                agg = xargs[4]
                # quirk Q1: reference applies `contains` on the
                # equals+agg path (src/timeseries.re:506)
                mode = "contains" if (self.compat_q1 and op == "equals") else op
                sel = ts_ops.tag_filter(df, names, values, mode)
                return self._aggregate(sel, agg)
            except ValueError as e:  # name/value count or unknown agg
                raise RouteError(str(e)) from e
        if len(xargs) == 1:
            return self._aggregate(df, xargs[0])
        raise RouteError("unknown path")

    def _aggregate(self, df: DataFrame, agg: str) -> dict[str, float]:
        if agg not in ts_ops.AGGREGATES:
            raise RouteError("unknown path")
        return ts_ops.aggregate_result(df, agg)

    def _read(self, ids_s: str, kind: str, args: list[str], xargs: list[str]) -> Any:
        """One raw read over the ids' buffered points and the store
        listing of one snapshot, with no flush."""
        ids = ids_s.split(",")
        bounds = [int(a) for a in args]
        eng = self.engine
        if (
            kind == "range"
            and len(xargs) == 1
            and xargs[0] in ts_ops.AGGREGATES
            and eng.rollup_every_us
        ):
            # bare range+aggregate routes through the engine's
            # materialized-view dispatch (rollup when enabled, mergeable
            # and bucket-aligned; raw scan otherwise); the rollup
            # partials count flushed points only
            self._flush(ids)
            return eng.aggregate_range(ids, *bounds, xargs[0])
        store, buffered = self._snapshot(ids)
        read = {"last": eng.last, "first": eng.first, "since": eng.since, "range": eng.range}[kind]
        return self._process(read(ids, *bounds, store=store, buffered=buffered), xargs)

    def _delete(self, ids_s: str, ts_from: int, ts_to: int | None, xargs: list[str]) -> None:
        ids = ids_s.split(",")
        self._flush(ids)  # reference flushes before delete (src/timeseries.re:294-300)
        names = values = None
        mode = "equals"
        if xargs:
            if xargs[0] != "filter" or len(xargs) != 4:
                # an aggregate as delete-xargs is a 400 in the reference
                raise RouteError("unknown path")
            _, names_s, mode, values_s = xargs
            if mode not in ("equals", "contains"):
                raise RouteError("unknown path")
            names = names_s.split(",")
            values = values_s.split(",")
        try:
            self.engine.delete(
                ids,
                ts_from,
                ts_to,
                tag_names=names,
                tag_values=values,
                tag_mode=mode,
                compat_membership=self.compat_q2,
            )
        except ValueError as e:
            raise RouteError(str(e)) from e

    # -- metadata -----------------------------------------------------------

    def _names(self) -> dict[str, list[str]]:
        with self._lock:
            mem = set(self._buffer)
        return {"timeseries": sorted(mem | set(self.engine.names()))}

    def _stats(self) -> list[dict[str, Any]]:
        """A31 shape (reference src/timeseries.re:639-694): a 4-element
        array of {metric: [{id: n}, ...]} dicts, all of one snapshot.
        One Spark pass for the disk counts; index counts from the
        manifest."""
        store, mem = self._counts()
        disk = {r["series"]: r["length"] for r in self.engine.stats(store=store).collect()}
        idx: dict[str, int] = {}
        for r in self.engine.index(store=store).collect():
            idx[r["series"]] = idx.get(r["series"], 0) + 1
        ts = sorted(set(mem) | set(disk))
        return [
            {"length": [{i: disk.get(i, 0) + mem.get(i, 0)} for i in ts]},
            {"length_in_memory": [{i: mem.get(i, 0)} for i in ts]},
            {"length_on_disk": [{i: disk.get(i, 0)} for i in ts]},
            {"length_of_index": [{i: idx.get(i, 0)} for i in ts]},
        ]

    def _index(self, series: str) -> dict[str, list[list[int]]]:
        self._flush([series])
        rows = self.engine.index([series]).collect()
        return {series: [[r["t_min"], r["t_max"]] for r in rows]}

    # -- extension routes (beyond the reference grammar) ---------------------

    def _extension(self, ids_s: str, verb: str, rest: list[str]) -> Any:
        """`/x/ts/:ids/...` — the engine's tsdb extensions over REST:
        resample/:every_us[/:fill], delta[/rate], quantiles. Not part of
        the reference surface; namespaced under /x/ to keep the
        reference grammar intact."""
        from nibbledb_spark.operators.timeseries import delta, resample

        # the width parses first: a bad one is a 400 before any flush,
        # read or rollup enable
        every = (
            _long(rest[0])
            if verb in ("resample", "rollup") and rest
            else 3_600_000_000
        )
        ids = ids_s.split(",")
        self._flush(ids)
        pts = self.engine.points(ids)
        try:
            if verb == "resample" and rest:
                fill = rest[1] if len(rest) > 1 else None
                if fill is None and every in self.engine.rollup_widths:
                    # an unfilled resample IS the rollup view — same
                    # scaled-long mean arithmetic (ROLLUP_SCALE ==
                    # resample's value_scale), so the maintained
                    # aggregate serves it without touching raw points
                    out = (
                        self.engine.rollup(ids, every_us=every)
                        .select(
                            "series",
                            "bucket_us",
                            F.col("value_mean").alias("value"),
                            "n",
                        )
                        .orderBy("series", "bucket_us")
                    )
                else:
                    out = resample(pts, every, fill=fill)
                return [
                    {
                        "series": r["series"],
                        "bucket_us": r["bucket_us"],
                        "value": r["value"],
                        "n": r["n"],
                    }
                    for r in out.collect()
                ]
            if verb == "delta":
                per_second = rest == ["rate"]
                if rest and not per_second:
                    raise RouteError("unknown path")
                out = delta(pts, per_second=per_second)
                return [
                    {"series": r["series"], "ts": r["ts"], "delta": r["delta"]}
                    for r in out.collect()
                ]
            if verb == "rollup":
                # /x/ts/:ids/rollup[/:every_us] — continuous-aggregate
                # read; first call at a width enables maintenance
                if len(rest) > 1:
                    raise RouteError("unknown path")
                if every <= 0:
                    raise RouteError("rollup width must be positive")
                if every not in self.engine.rollup_widths:
                    # first call at a width enables its maintenance; widths
                    # form a hierarchy (enable_rollup docstring)
                    self.engine.enable_rollup(every)
                out = self.engine.rollup(ids, every_us=every).orderBy(
                    "series", "bucket_us"
                )
                return [
                    {
                        "series": r["series"],
                        "bucket_us": r["bucket_us"],
                        "n": r["n"],
                        "sum": r["value_sum"],
                        "min": r["value_min"],
                        "max": r["value_max"],
                        "mean": r["value_mean"],
                    }
                    for r in out.collect()
                ]
            if verb == "quantiles" and not rest:
                row = pts.agg(
                    *[
                        F.expr(f"percentile(value, {q})").alias(name)
                        for name, q in (("p25", 0.25), ("p50", 0.5), ("p75", 0.75), ("p95", 0.95))
                    ]
                ).collect()[0]
                return {} if row["p50"] is None else {k: row[k] for k in ("p25", "p50", "p75", "p95")}
        except ValueError as e:
            raise RouteError(str(e)) from e
        raise RouteError("unknown path")

    # -- the route table (reference src/main.re:175-202) ---------------------

    def handle(self, method: str, path: str, body: str | None = None) -> tuple[int, str]:
        try:
            result = self._dispatch(method.upper(), _split_path(path), body)
        except (RouteError, ValueError, IndexError) as e:
            # ValueError/IndexError: malformed numeric path segments
            # (GET /ts/x/last/abc) — the reference's Failure catch-all
            # answers 400 (src/main.re:216-223) rather than crashing.
            return 400, f"Error:{e}\n"
        if result is None:
            return 200, ""
        return 200, json.dumps(result)

    def handle_json(self, method: str, path: str, body: str | None = None):
        """handle() with the body parsed back — test/driver convenience."""
        status, text = self.handle(method, path, body)
        return status, (json.loads(text) if text.startswith(("{", "[")) else text)

    def _dispatch(self, method: str, p: list[str], body: str | None):
        if method == "POST":
            if len(p) == 2 and p[0] == "ts":
                self._post(p[1], body)
                return None
            if p[:4] == ["x", "ctl", "ts", "retention"] and len(p) == 5:
                # extension control: apply the drop-raw/keep-rollup
                # retention lifecycle at a bucket-aligned µs cutoff.
                # Mutating => POST; flush first so buffered points
                # participate in the cutoff (reference flush-before-
                # mutate discipline, src/timeseries.re:294-300)
                cutoff = _long(p[4])
                self._flush()
                try:
                    self.engine.apply_retention(cutoff)
                except ValueError as e:
                    raise RouteError(str(e)) from e
                return {"retention_floor_us": self.engine.retention_floor_us}
            raise RouteError("unknown path")
        if method == "GET":
            if p[:1] == ["ts"] and len(p) >= 3:
                ids, verb = p[1], p[2]
                rest = p[3:]
                if verb == "last" and rest:
                    return self._read(ids, "last", rest[:1], rest[1:])
                if verb == "latest":
                    return self._read(ids, "last", ["1"], rest)
                if verb == "first" and rest:
                    return self._read(ids, "first", rest[:1], rest[1:])
                if verb == "earliest":
                    return self._read(ids, "first", ["1"], rest)
                if verb == "since" and rest:
                    return self._read(ids, "since", rest[:1], rest[1:])
                if verb == "range" and len(rest) >= 2:
                    return self._read(ids, "range", rest[:2], rest[2:])
                if verb == "length" and not rest:
                    id_list = list(dict.fromkeys(ids.split(",")))
                    store, mem = self._counts()
                    disk = self.engine.length(id_list, store=store)
                    return {"length": disk + sum(mem.get(i, 0) for i in id_list)}
                if verb == "memory" and rest == ["length"]:
                    return {"length": self._buffered(ids.split(","))}
                if verb == "disk" and rest == ["length"]:
                    return {"length": self.engine.length(ids.split(","))}
                if verb == "index" and rest == ["length"]:
                    id_list = ids.split(",")
                    self._flush(id_list)
                    return {"length": self.engine.index_length(id_list)}
                if verb == "index" and not rest:
                    return self._index(ids)
            if p[:2] == ["x", "ts"] and len(p) >= 4:
                return self._extension(p[2], p[3], p[4:])
            if p == ["info", "ts", "names"]:
                return self._names()
            if p == ["info", "ts", "stats"]:
                return self._stats()
            if p == ["info", "status"]:
                return {"status": "ok"}
            if p == ["ctl", "ts", "sync"]:
                self._flush()
                return None
            raise RouteError("unknown path")
        if method == "DELETE":
            if p[:1] == ["ts"] and len(p) >= 4:
                ids, verb = p[1], p[2]
                if verb == "since":
                    self._delete(ids, _long(p[3]), None, p[4:])
                    return None
                if verb == "range" and len(p) >= 5:
                    self._delete(ids, _long(p[3]), _long(p[4]), p[5:])
                    return None
            raise RouteError("unknown path")
        raise RouteError("unknown method")


class SignalFlusher:
    """Flush-on-signal hooks (reference src/main.re:310-317: TERM/INT/HUP
    each flush every buffered series before exit).

    The handler flushes all buffers, shuts the server down if one was
    given, then chains to the previously-installed handler — process-exit
    disposition stays with the embedder (the reference exits 0; a library
    must not kill its host process). ``restore()`` reinstates the prior
    handlers. Signal handlers can only be installed from the main thread;
    install from elsewhere raises ``ValueError`` (stdlib behavior).
    """

    def __init__(self, router: Router, server=None, signals=None) -> None:
        import signal as _signal

        self.router = router
        self.server = server
        self.flushed: list[int] = []  # signums handled, for observability
        if signals is None:
            signals = (_signal.SIGTERM, _signal.SIGINT, _signal.SIGHUP)
        self._previous = {}
        for s in signals:
            self._previous[s] = _signal.signal(s, self._handle)

    def _handle(self, signum, frame) -> None:
        self.router._flush()
        self.flushed.append(signum)
        if self.server is not None:
            # serve_forever runs on its own thread, so a direct shutdown()
            # from the handler cannot deadlock
            self.server.shutdown()
        prev = self._previous.get(signum)
        if callable(prev):
            prev(signum, frame)

    def restore(self) -> None:
        import signal as _signal

        for s, h in self._previous.items():
            _signal.signal(s, h)


def serve(
    router: Router,
    host: str = "127.0.0.1",
    port: int = 8000,
    *,
    install_signals: bool = False,
):
    """Stdlib HTTP wrapper (reference default port 8000, src/main.re:8).
    Returns the started ThreadingHTTPServer; call .shutdown() to stop.
    ``install_signals=True`` registers the reference's flush-on-
    TERM/INT/HUP hooks (src/main.re:310-317) for the server's lifetime;
    the :class:`SignalFlusher` is exposed as ``server.signal_flusher``."""
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    class Handler(BaseHTTPRequestHandler):
        def _respond(self, method: str) -> None:
            n = int(self.headers.get("Content-Length") or 0)
            body = self.rfile.read(n).decode("utf-8") if n else None
            status, text = router.handle(method, self.path, body)
            data = text.encode("utf-8")
            self.send_response(status)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

        def do_GET(self):
            self._respond("GET")

        def do_POST(self):
            self._respond("POST")

        def do_DELETE(self):
            self._respond("DELETE")

        def do_PUT(self):
            # the reference answers 400 Error:unknown method (main.re:
            # 219-222) where BaseHTTPRequestHandler would 501 — route
            # through the Router so wire behavior matches
            self._respond("PUT")

        def log_message(self, *args):  # quiet
            pass

    server = ThreadingHTTPServer((host, port), Handler)
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    server.signal_flusher = SignalFlusher(router, server) if install_signals else None
    return server
