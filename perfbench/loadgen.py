"""The load generator of the tsdb workloads: one process, one thread per
connection, never more connections than cores.

Usage: python3 loadgen.py --port P --workload tsdb_read|tsdb_write_mix
           --seed N --seconds S --trace 0|1 --n-series N --n-points N --out FILE

``tsdb_read``: 2 closed-loop clients replay seeded read streams over all
series. ``tsdb_write_mix``: one connection POSTs seeded 100-point batches
on a fixed schedule (open loop, latency from each batch's due time) to
the write set of series, while 2 closed-loop clients replay read streams
over the read set, which the writer never touches; one read in seven is
instead ``last/10`` on the series written last, which flushes its buffer
under the router's lock and must return the newest acknowledged point. Every operation is
recorded; the write mix also checks that reads are fresh and that every
series' length is its preload plus its acknowledged points.

In a traced run the window alternates untraced and traced phases of
PHASE_S seconds, so one run yields both the spans and the tracing
overhead; an operation that straddles a switch belongs to neither. After
the window a fixed probe set (one read of each kind, and in the write mix
one POST and its flushing read) runs traced once more; Spark job counts
come from it.
"""

from __future__ import annotations

import argparse
import http.client
import json
import sys
import threading
import time

import gen
from common import log
from metrics import PHASE_S

POST_RATE = 50.0  # batches per second
BATCH = 100
READ_SET = 16  # series the write mix only reads
SAMPLE_EVERY = 3  # keep every 3rd mix-read response for the output check


def request(port: int, method: str, path: str, body: str | None = None) -> tuple[int, bytes]:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    try:
        conn.request(method, path, body=body, headers={"Content-Type": "application/json"} if body else {})
        resp = conn.getresponse()
        return resp.status, resp.read()
    except OSError as e:
        return 599, str(e).encode()
    finally:
        conn.close()


class Window:
    """The timed window and, in a traced run, its phase switching."""

    def __init__(self, port: int, seconds: float, trace: bool):
        self.port, self.trace = port, trace
        self.t0 = time.perf_counter()
        self.end = self.t0 + seconds

    def phase(self, a: float, b: float) -> int:
        """0 untraced, 1 traced, -1 straddles a switch (absolute times)."""
        if not self.trace:
            return 0
        pa, pb = (int((t - self.t0) // PHASE_S) % 2 for t in (a, b))
        return pa if pa == pb and b - a < PHASE_S else -1

    def drive(self) -> None:
        on = False
        while self.trace:
            nxt = self.t0 + PHASE_S * (int((time.perf_counter() - self.t0) // PHASE_S) + 1)
            if nxt >= self.end:
                break
            time.sleep(max(0.0, nxt - time.perf_counter()))
            on = not on
            request(self.port, "GET", f"/__perfbench/trace/{'on' if on else 'off'}")
        if on:
            request(self.port, "GET", "/__perfbench/trace/off")


def run(args) -> dict:
    port = args.port
    names = gen.series_names(args.n_series)
    mix = args.workload == "tsdb_write_mix"
    read_set = names[:READ_SET] if mix else names
    write_set = [s for s in names if s not in read_set]
    streams = [gen.read_ops(args.seed, c, 4000, read_set, args.n_points, fresh=mix) for c in range(2)]
    batches = gen.write_batches(args.seed, int(POST_RATE * (args.seconds + 2)) + 8, write_set, args.n_points, BATCH)
    lock = threading.Lock()
    records: list[dict] = []
    acked_pts = dict.fromkeys(names, 0)
    acked_ts: dict[str, int] = {}
    last_series = [write_set[0] if write_set else names[0]]

    def post(j: int) -> int:
        series, body, newest = batches[j]
        status, _ = request(port, "POST", f"/ts/{series}", body)
        if status == 200:
            with lock:
                acked_pts[series] += BATCH
                acked_ts[series] = max(acked_ts.get(series, 0), newest)
                last_series[0] = series
        return status

    def fresh_read(series: str) -> bool:
        with lock:
            want = acked_ts.get(series, 0)
        status, body = request(port, "GET", f"/ts/{series}/last/10")
        if status != 200:
            return False
        pts = json.loads(body)
        return len(pts) == 10 and max(p["timestamp"] for p in pts) >= want

    # one read of each kind, then (write mix) one POST -> flush -> read
    probe_reads = {}
    for kind, path in gen.read_ops(args.seed, 100, 200, read_set, args.n_points):
        probe_reads.setdefault(kind, path)
    reserved = 2  # batches 0-1 belong to the probes

    def probe(j: int) -> None:
        for path in probe_reads.values():
            request(port, "GET", path)
        if mix:
            post(j)
            fresh_read(batches[j][0])

    # warm-up, untimed: the engine's bucket lookup for each read series
    # (a written series pays its own on its first fresh read), then the
    # probe set
    request(port, "GET", f"/ts/{','.join(read_set)}/disk/length")
    probe(0)
    log("warm-up done")

    win = Window(port, args.seconds, args.trace)

    def record(rec: dict, a: float, b: float) -> None:
        rec.update(send=a - win.t0, done=b - win.t0, phase=win.phase(rec.pop("due_abs", a), b))
        with lock:
            records.append(rec)

    def reader(c: int) -> None:
        for i, (kind, path) in enumerate(streams[c]):
            a = time.perf_counter()
            if a >= win.end:
                return
            if kind == gen.FRESH:
                with lock:
                    series = last_series[0]
                rec = {"op": "read", "kind": kind, "ok": fresh_read(series)}
            else:
                status, body = request(port, "GET", path)
                rec = {"op": "read", "kind": kind, "path": path, "ok": status == 200}
                if status == 200 and i % SAMPLE_EVERY == 0:
                    rec["body"] = body.decode()
            record(rec, a, time.perf_counter())

    def writer() -> None:
        for j in range(reserved, len(batches)):
            due = win.t0 + (j - reserved) / POST_RATE
            if due >= win.end:
                return
            time.sleep(max(0.0, due - time.perf_counter()))
            a = time.perf_counter()
            status = post(j)
            record({"op": "write", "due": due - win.t0, "due_abs": due, "ok": status == 200}, a, time.perf_counter())

    threads = [threading.Thread(target=reader, args=(c,)) for c in range(2)]
    if mix:
        threads.append(threading.Thread(target=writer))
    for t in threads:
        t.start()
    win.drive()
    for t in threads:
        t.join()
    window_s = time.perf_counter() - win.t0
    if args.trace:
        # the probe set once more, traced and labelled: its Spark job
        # counts repeat exactly from run to run
        request(port, "GET", "/__perfbench/trace/probe")
        probe(1)
        request(port, "GET", "/__perfbench/trace/off")
    out = {"records": records, "window_s": window_s, "read_set": read_set}
    if mix:
        # every series must hold preload + acknowledged points; the stats
        # length counts stored and still-buffered points alike
        status, body = request(port, "GET", "/info/ts/stats")
        lengths = {}
        if status == 200:
            for entry in json.loads(body)[0]["length"]:
                lengths.update(entry)
        out["acked_points"] = sum(acked_pts.values())
        out["count_check"] = {
            "series": len(names),
            "mismatched": [s for s in names if lengths.get(s) != args.n_points + acked_pts[s]],
        }
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--port", type=int, required=True)
    ap.add_argument("--workload", required=True, choices=("tsdb_read", "tsdb_write_mix"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--n-series", type=int, required=True)
    ap.add_argument("--n-points", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    with open(args.out, "w") as f:
        json.dump(run(args), f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
