"""Manifest-log snapshot store: a Delta-style transaction log over plain
parquet, giving the engine versioned tables, time-travel reads, atomic
multi-file commits, and file-level data skipping.

This is the Spark-native analogue of the reference's Irmin/Git storage
(jptmoore/nibbledb ``src/shard.re:26-34``: every shard write is a Git
commit; ``src/index.re:19``: a per-series index of ``(t_min, t_max)``
ranges). The reference gets history and crash-atomicity for free from
Git; vanilla parquet directories have neither. This module restores
both, the way lakehouse formats do it:

- **Log**: ``<root>/_log/<version>.json`` entries, one per commit,
  recording files added/removed, the operation, and per-file column
  stats. A commit IS the atomic creation of its log entry (hard-link
  rename trick below); data files are immutable once referenced and
  orphaned files from failed commits are invisible (never referenced).
- **Snapshot**: the live file set at version ``v`` = replay of entries
  ``0..v`` (adds minus removes). ``read(version=...)`` /
  ``read(as_of_us=...)`` are the ``git checkout`` analogue;
  ``history()`` is ``git log``.
- **Checkpoints**: every ``checkpoint_every`` commits the full live set
  is written to ``<version>.checkpoint.json``, so snapshot resolution
  reads O(checkpoint_every) log files regardless of table age — at
  100 TB the log grows unbounded and linear replay would become the
  bottleneck, exactly the problem Delta's parquet checkpoints solve.
- **File stats / data skipping**: each added file carries
  ``rows`` + per-column ``min``/``max`` for the configured stats
  columns, collected at write time. ``files(predicate_bounds=...)``
  prunes the file list driver-side before Spark ever opens a footer —
  the reference's shard-index ``overlap`` check
  (``src/index.re:92-105``) generalized to any column.

Concurrency: optimistic. A commit that loses the race to its version
number (log entry already exists) is retried on top of the new head if
it is a blind append, else raises :class:`CommitConflict` — the same
semantics Delta gives concurrent writers. The atomic check-and-commit
primitive is ``os.link`` (fails with EEXIST), which is correct on the
POSIX filesystems local/HDFS-like deployments use; object stores need a
CAS service instead (as Delta-on-S3 does) — the swap point is
:meth:`SnapshotLog._publish`.

Scale notes (100 TB stance): the log holds *metadata only* (paths,
counts, min/max scalars) — a 1e6-file table is a ~100 MB log fully
checkpointed, read by the driver once per query. Data files never
rewrite on append; delete/compact rewrite only affected files and
commit the swap atomically, so readers at any version see a consistent
set (no torn reads during compaction — the staged-swap problem
``engine._staged_swap`` solves per-bucket, solved here globally).
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


class CommitConflict(RuntimeError):
    """A non-append commit raced a concurrent writer and must be re-run
    against the new table state."""


@dataclass
class FileEntry:
    path: str  # relative to <root>/
    rows: int  # PHYSICAL rows in the file (live rows = rows - dv_rows)
    stats: dict[str, list]  # col -> [min, max] (JSON-serializable scalars)
    # deletion vector (Delta DV analogue): relative path of a parquet
    # dir holding the file's deleted row POSITIONS (`pos` longs,
    # _metadata.row_index values). None = no deletions. Cumulative: a
    # second DV delete on the file replaces dv with the union. Stats
    # stay the physical file's (conservative for pruning — same as
    # Delta, which does not tighten stats under DVs).
    dv: str | None = None
    dv_rows: int = 0

    def to_json(self) -> dict:
        d = {"path": self.path, "rows": self.rows, "stats": self.stats}
        if self.dv is not None:
            d["dv"] = self.dv
            d["dv_rows"] = self.dv_rows
        return d

    @staticmethod
    def from_json(d: dict) -> "FileEntry":
        return FileEntry(
            d["path"],
            d["rows"],
            d.get("stats", {}),
            d.get("dv"),
            d.get("dv_rows", 0),
        )


@dataclass
class LogEntry:
    version: int
    op: str  # append | overwrite | delete | compact | vacuum
    ts_us: int  # commit wall-clock, epoch µs
    add: list[FileEntry] = field(default_factory=list)
    remove: list[str] = field(default_factory=list)
    schema_json: str | None = None  # kept on every entry: empty-table reads
    meta: dict = field(default_factory=dict)  # op detail (predicate, counts)


_LOG_DIR = "_log"

# DV read shape choice, COST-BASED (round-10 DV read-tax measurement,
# on both 1.2k- and 150k-row files at 128 files):
#   per-file shape  ~= _DV_PER_FILE_S * n_dvd_files   (fixed plan leg
#       per file, nothing per row — 18.9 s at 128 files either way)
#   batched shape   ~= _DV_BATCH_FIXED_S
#                      + _DV_BATCH_ROW_S * rows_in_dvd_files  (per-row
#       path-string join key: 1.25 s at 4 files -> 4.3 s at 128 x 150k)
# Crossover ~4 files for files up to ~150k rows; files beyond ~700k
# rows/file keep the per-file shape at any count (the per-row string
# tax exceeds the plan-leg cost). Entries carry physical row counts,
# so the reader evaluates the model directly. _DV_BATCH_THRESHOLD
# overrides for tests/ops: an int forces per-file at or below that
# many DV'd files (0 = always batched, huge = always per-file);
# None = cost-based.
_DV_PER_FILE_S = 0.14
_DV_BATCH_FIXED_S = 0.6
_DV_BATCH_ROW_S = 1.9e-7
_DV_BATCH_THRESHOLD: int | None = None
_DATA_DIR = "data"


def _stat(v):
    """JSON-safe scalar for the manifest: timestamps -> ISO strings,
    decimals/other exotics -> str; bounds passed to :meth:`SnapshotLog.files`
    must use the same representation."""
    if v is None or isinstance(v, (int, float, str, bool)):
        return v
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


def _entry_name(version: int) -> str:
    return f"{version:020d}.json"


def _ckpt_name(version: int) -> str:
    return f"{version:020d}.checkpoint.json"


class SnapshotLog:
    """Versioned parquet table rooted at ``root`` (local or shared FS).

    ``stats_cols``: columns to record per-file min/max for (data
    skipping). ``checkpoint_every``: commits between live-set
    checkpoints.
    """

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        *,
        stats_cols: tuple[str, ...] = (),
        checkpoint_every: int = 10,
        target_file_bytes: int = 32 << 20,
    ) -> None:
        self.spark = spark
        self.root = os.path.abspath(root)
        self.stats_cols = tuple(stats_cols)
        self.checkpoint_every = max(2, int(checkpoint_every))
        # optimizeWrite target (0 disables): small commits coalesce to
        # ~this many bytes per file instead of fragmenting the table
        self.target_file_bytes = int(target_file_bytes)
        # per-stream exactly-once marker memo: stream_id -> (scanned-to
        # version, newest batch id found). See last_stream_batch_id.
        self._stream_marker_cache: dict[str, tuple[int, int | None]] = {}
        os.makedirs(os.path.join(self.root, _LOG_DIR), exist_ok=True)
        os.makedirs(os.path.join(self.root, _DATA_DIR), exist_ok=True)

    # -- log plumbing ------------------------------------------------------

    def _log_path(self, name: str) -> str:
        return os.path.join(self.root, _LOG_DIR, name)

    def _uri_to_rel(self, uri: str) -> str:
        """Table-relative path from an ``input_file_name()`` value.

        Hadoop percent-encodes special characters (spaces, '%', …) in
        file URIs; a raw ``removeprefix("file:")`` + relpath would never
        match the table's FileEntry paths for such roots, silently
        turning predicate deletes and merges into no-ops (round-3
        advice). Decode the URI path before matching."""
        from urllib.parse import unquote, urlsplit

        parts = urlsplit(uri)
        path = unquote(parts.path) if parts.scheme else uri
        return os.path.relpath(path, self.root)

    def latest_version(self) -> int | None:
        best = None
        for name in os.listdir(self._log_path("")):
            if name.endswith(".json") and not name.endswith(".checkpoint.json"):
                try:
                    v = int(name.split(".")[0])
                except ValueError:
                    continue
                best = v if best is None else max(best, v)
        return best

    def _read_entry(self, version: int) -> LogEntry:
        with open(self._log_path(_entry_name(version))) as f:
            d = json.load(f)
        return LogEntry(
            version=d["version"],
            op=d["op"],
            ts_us=d["ts_us"],
            add=[FileEntry.from_json(x) for x in d.get("add", [])],
            remove=list(d.get("remove", [])),
            schema_json=d.get("schema_json"),
            meta=d.get("meta", {}),
        )

    def _publish(self, entry: LogEntry) -> bool:
        """Atomically publish ``entry`` as its version's log record.

        Returns False (without side effects) if the version was already
        taken by a concurrent writer. ``os.link`` is the check-and-set:
        it fails with EEXIST instead of overwriting, unlike rename.
        Object-store deployments swap this for their CAS primitive.
        """
        payload = {
            "version": entry.version,
            "op": entry.op,
            "ts_us": entry.ts_us,
            "add": [a.to_json() for a in entry.add],
            "remove": entry.remove,
            "schema_json": entry.schema_json,
            "meta": entry.meta,
        }
        tmp = self._log_path(f".tmp-{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            json.dump(payload, f)
            f.flush()
            os.fsync(f.fileno())
        final = self._log_path(_entry_name(entry.version))
        try:
            os.link(tmp, final)
            return True
        except FileExistsError:
            return False
        finally:
            os.unlink(tmp)

    def _maybe_checkpoint(self, version: int) -> None:
        if version % self.checkpoint_every != 0 or version == 0:
            return
        files, schema_json = self._resolve(version)
        # tmp + rename: a checkpoint is pure derived data, but a torn
        # half-written one would poison every later snapshot resolution
        tmp = self._log_path(f".ckpt-tmp-{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            json.dump(
                {
                    "version": version,
                    "schema_json": schema_json,
                    "live": [fe.to_json() for fe in files],
                },
                f,
            )
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self._log_path(_ckpt_name(version)))

    def _latest_checkpoint_at_or_before(self, version: int) -> int | None:
        best = None
        for name in os.listdir(self._log_path("")):
            if name.endswith(".checkpoint.json"):
                v = int(name.split(".")[0])
                if v <= version:
                    best = v if best is None else max(best, v)
        return best

    def _resolve(self, version: int) -> tuple[list[FileEntry], str | None]:
        """Live file set + schema at ``version`` (checkpoint + tail replay)."""
        live: dict[str, FileEntry] = {}
        schema_json: str | None = None
        start = 0
        ckpt = self._latest_checkpoint_at_or_before(version)
        if ckpt is not None:
            with open(self._log_path(_ckpt_name(ckpt))) as f:
                d = json.load(f)
            live = {fe["path"]: FileEntry.from_json(fe) for fe in d["live"]}
            schema_json = d.get("schema_json")
            start = ckpt + 1
        for v in range(start, version + 1):
            e = self._read_entry(v)
            for path in e.remove:
                live.pop(path, None)
            for fe in e.add:
                live[fe.path] = fe
            if e.schema_json:
                schema_json = e.schema_json
        return sorted(live.values(), key=lambda fe: fe.path), schema_json

    # -- write path --------------------------------------------------------

    def _write_files(
        self, df: DataFrame, *, optimize: bool = True
    ) -> list[FileEntry]:
        """Materialize ``df`` as immutable parquet files under data/ and
        collect per-file stats in ONE metadata pass over the fresh files.

        The stats scan groups by ``input_file_name()`` on the pre-shuffle
        frame (it is empty above the first exchange) — same pattern as
        the engine's index endpoint. Cost: one read of just-written data,
        the price the reference pays too (its index update walks the new
        shard's points, src/timeseries.re:119-135).
        """
        sub = os.path.join(_DATA_DIR, f"b-{uuid.uuid4().hex}")
        out = os.path.join(self.root, sub)
        df.write.mode("errorifexists").parquet(out)
        # optimizeWrite (Delta's analogue): a small commit inherits its
        # frame's partitioning — a 1000-row batch from a 32-way frame
        # leaves 32 ~kB files, and a table written by many small commits
        # degrades linearly in FILE COUNT, not data (measured in
        # bench --snapshots-stress: 200 such appends = 6,400 files =
        # 15.5 s head read; 8 files = 0.073 s). When the just-written
        # bytes fit fewer target-size files than were written, rewrite
        # coalesced before the stats pass — the rewrite re-reads only
        # this commit's (small by definition) data, never the table.
        # ``optimize=False`` preserves the frame's file layout verbatim:
        # compact() already chose its target_files, and a caller
        # clustering a write for stats pruning (Z-order) means the
        # multi-file layout — same opt-out Delta's optimizeWrite has.
        if optimize:
            sub, out = self._coalesce_small_write(sub, out)
        back = self.spark.read.parquet(out)
        aggs = [F.count(F.lit(1)).alias("__rows")]
        for c in self.stats_cols:
            if c in back.columns:
                aggs += [F.min(c).alias(f"__mn_{c}"), F.max(c).alias(f"__mx_{c}")]
        rows = (
            back.groupBy(F.input_file_name().alias("__file")).agg(*aggs).collect()
        )
        entries = []
        for r in rows:
            full = r["__file"]
            rel = os.path.join(sub, os.path.basename(full))
            stats = {}
            for c in self.stats_cols:
                if f"__mn_{c}" in r.asDict():
                    stats[c] = [_stat(r[f"__mn_{c}"]), _stat(r[f"__mx_{c}"])]
            entries.append(FileEntry(rel, r["__rows"], stats))
        return sorted(entries, key=lambda fe: fe.path)

    def _coalesce_small_write(self, sub: str, out: str) -> tuple[str, str]:
        """Rewrite a just-written commit directory to its target file
        count when it fragmented (see _write_files). Local-FS listing;
        an object-store deployment reads the same sizes from the
        writer's task summaries. No-op when disabled, single-file, or
        already at/below the target count."""
        if self.target_file_bytes <= 0:
            return sub, out
        try:
            files = [
                f
                for f in os.listdir(out)
                if f.endswith(".parquet") and not f.startswith(".")
            ]
            total = sum(os.path.getsize(os.path.join(out, f)) for f in files)
        except OSError:
            return sub, out
        want = max(1, -(-total // self.target_file_bytes))  # ceil div
        if len(files) <= 1 or want >= len(files):
            return sub, out
        sub2 = os.path.join(_DATA_DIR, f"b-{uuid.uuid4().hex}")
        out2 = os.path.join(self.root, sub2)
        (
            self.spark.read.parquet(out)
            .coalesce(want)
            .write.mode("errorifexists")
            .parquet(out2)
        )
        shutil.rmtree(out, ignore_errors=True)
        return sub2, out2

    def _commit(
        self,
        op: str,
        add: list[FileEntry],
        remove: list[str],
        schema_json: str | None,
        meta: dict,
        *,
        expected_version: int | None,
        retry_append: bool,
    ) -> int:
        while True:
            head = self.latest_version()
            version = 0 if head is None else head + 1
            if expected_version is not None and version != expected_version:
                raise CommitConflict(
                    f"table advanced to v{head} under a v{expected_version} "
                    f"{op}; re-read and retry"
                )
            entry = LogEntry(
                version=version,
                op=op,
                ts_us=int(time.time() * 1_000_000),
                add=add,
                remove=remove,
                schema_json=schema_json,
                meta=meta,
            )
            if self._publish(entry):
                self._maybe_checkpoint(version)
                return version
            if not retry_append:
                raise CommitConflict(
                    f"lost commit race at v{version} during {op}; "
                    "re-read and retry"
                )
            # blind append: safe to retry on the advanced head

    @staticmethod
    def _scrub_type(t):
        # drop nullability/metadata at EVERY depth: containsNull /
        # valueContainsNull on array/map types and nullable/metadata
        # on nested struct fields differ between logically-identical
        # frames (from_json vs create_map) but are parquet-compatible
        if isinstance(t, dict):
            return {
                k: SnapshotLog._scrub_type(v)
                for k, v in t.items()
                if k
                not in ("nullable", "metadata", "containsNull", "valueContainsNull")
            }
        if isinstance(t, list):
            return [SnapshotLog._scrub_type(x) for x in t]
        return t

    def _append_schema_json(
        self, df: DataFrame, head: int | None, merge_schema: bool
    ) -> str:
        """Schema to commit for an append of ``df`` at ``head``.

        Strict (default): reject frames whose (name, type) column set
        differs from the committed schema. Names alone are not enough —
        a same-name/different-type frame would mix parquet types in the
        live set. Nullability/metadata are ignored (parquet-compatible).

        ``merge_schema``: evolve instead — the committed schema becomes
        table columns + the frame's NEW columns (appended in frame
        order); the frame may also omit table columns. Reads are pinned
        to the committed schema (``_read_live``), so files on either
        side of an evolution resolve their missing columns to NULL.
        Same-name/different-type still raises (parquet can't widen in
        place; that evolution is an explicit ``overwrite``)."""
        if head is None:
            return df.schema.json()
        _, schema_json = self._resolve(head)
        if schema_json is None:
            return df.schema.json()

        def typekey(f):
            # sort_keys: nested type dicts round-trip with differing key
            # order between schema_json and jsonValue()
            return json.dumps(self._scrub_type(f["type"]), sort_keys=True)

        table_fields = json.loads(schema_json)["fields"]
        frame_fields = df.schema.jsonValue()["fields"]
        table_types = {f["name"]: typekey(f) for f in table_fields}
        frame_types = {f["name"]: typekey(f) for f in frame_fields}

        conflicts = sorted(
            n
            for n in table_types.keys() & frame_types.keys()
            if table_types[n] != frame_types[n]
        )
        if conflicts:
            raise ValueError(
                f"append schema mismatch on column(s) {conflicts}: frame "
                "types differ from the table's; use overwrite() to change "
                "a column's type"
            )
        new = [f for f in frame_fields if f["name"] not in table_types]
        missing = sorted(table_types.keys() - frame_types.keys())
        if not merge_schema:
            if new or missing:
                raise ValueError(
                    f"append schema mismatch: frame adds {sorted(f['name'] for f in new)}, "
                    f"omits {missing}; pass merge_schema=True to evolve"
                )
            # committed schema stands, NOT the frame's: a column-reordered
            # (but matching) frame must not flip the table's column order
            # (or its nullability flags) for every later read
            return schema_json
        if not new:
            return schema_json  # subset or exact: committed schema stands
        return json.dumps(
            {"type": "struct", "fields": table_fields + new}
        )

    def _read_live(self, paths: list[str], schema_json: str | None) -> DataFrame:
        """Read data files with the COMMITTED schema pinned (all fields
        nullable): files written before a merge_schema evolution resolve
        their missing columns to NULL, and the result never depends on
        which file Spark samples for inference. Falls back to inference
        for pre-schema_json log vintages."""
        if schema_json is None:
            return self.spark.read.parquet(*paths)
        base = T.StructType.fromJson(json.loads(schema_json))
        schema = T.StructType(
            [T.StructField(f.name, f.dataType, True, f.metadata) for f in base.fields]
        )
        return self.spark.read.schema(schema).parquet(*paths)

    def _read_entries(
        self,
        entries: list[FileEntry],
        schema_json: str | None,
        *,
        expose_pos: bool = False,
    ) -> DataFrame:
        """Deletion-vector-aware snapshot read: plain files scan in one
        batch; each DV'd file reads with its parquet row position
        (``_metadata.row_index``, stable for parquet) and drops its
        deleted positions via a BROADCAST anti-join (DVs are small by
        contract — that is why they exist). Every read/rewrite path
        (read, compact, merge, delete probes) routes through here, so
        deleted rows are invisible everywhere without a byte of the
        base files changing.

        ``expose_pos`` keeps ``__file`` (input_file_name) and ``__pos``
        (row position) columns — the DV delete's internal view.

        Shape choice is the measured cost model at _DV_* above (the
        round-10 DV read-tax measurement): few DV'd files — or very
        LARGE ones, where the batched shape's per-row string-key tax
        dominates — read
        per-file with position-only anti-joins; otherwise ONE batched
        scan with ONE broadcast anti-join keyed on (file identity,
        position). File identity comes from ``_metadata.file_path`` with
        the ``file:`` scheme and root prefix stripped JVM-side; the
        vector side recovers its base file through the ``fk=`` hash in
        its own ``_metadata.file_path``, joined to a broadcast
        (fk -> rel path) map built from the entries. The string-keyed
        batched shape is used ONLY when every DV'd path is URI-quote
        clean; a root Hadoop would percent-encode falls back to the
        per-file position-only shape, which is path-representation
        independent (an object-store deployment swaps the check for its
        own URI scheme)."""
        plain = [fe for fe in entries if fe.dv is None]
        dvd = [fe for fe in entries if fe.dv is not None]
        pieces: list[DataFrame] = []
        if plain:
            p = self._read_live(
                [os.path.join(self.root, fe.path) for fe in plain], schema_json
            )
            if expose_pos:
                p = p.withColumn("__file", F.input_file_name()).withColumn(
                    "__pos", F.col("_metadata.row_index")
                )
            pieces.append(p)
        # The batched branch joins on a STRING path key built by stripping
        # '^file:' from the JVM's _metadata.file_path and comparing to
        # os.path.abspath. Hadoop percent-encodes URI-special characters
        # (space, '%', '#', non-ASCII) in file_path, so for a root
        # containing any of them the key would never match and every
        # DV-deleted row — including right-to-be-forgotten tombstones —
        # would silently resurface. Rather than mirror Hadoop's exact
        # encoding Python-side (fragile across Hadoop versions), any
        # non-quote-clean DV'd path forces the per-file POSITION-ONLY
        # shape below, which uses no string keys at all and is correct
        # for any path; the cost is a plan leg per DV'd file, paid only
        # on exotic roots. (quote() is stricter than Hadoop — e.g. '='
        # is legal in a Hadoop path but flagged here — which can only
        # over-trigger the safe branch, never miss an encoded one.)
        from urllib.parse import quote

        uri_clean = all(
            quote(os.path.abspath(os.path.join(self.root, fe.path)), safe="/")
            == os.path.abspath(os.path.join(self.root, fe.path))
            for fe in dvd
        )
        if _DV_BATCH_THRESHOLD is not None:
            prefer_per_file = len(dvd) <= _DV_BATCH_THRESHOLD
        else:
            # measured cost model (see _DV_* constants above): pay the
            # per-file plan legs only while they undercut the batched
            # shape's fixed setup + per-row string-key tax
            rows_dvd = sum(fe.rows for fe in dvd)
            prefer_per_file = (
                len(dvd) * _DV_PER_FILE_S
                <= _DV_BATCH_FIXED_S + rows_dvd * _DV_BATCH_ROW_S
            )
        if dvd and (prefer_per_file or not uri_clean):
            # per-file scans with POSITION-ONLY anti joins (no string
            # keys at all): a fixed plan leg per file (~0.14 s measured)
            # but nothing per row — the right regime while DV'd files
            # are few or huge, which compaction keeps true.
            for fe in dvd:
                b = self._read_live(
                    [os.path.join(self.root, fe.path)], schema_json
                ).withColumn("__pos", F.col("_metadata.row_index"))
                if expose_pos:
                    b = b.withColumn("__file", F.input_file_name())
                dvf = self.spark.read.parquet(
                    os.path.join(self.root, fe.dv)
                ).select(F.col("pos").alias("__pos"))
                f = b.join(F.broadcast(dvf), "__pos", "anti")
                if not expose_pos:
                    f = f.drop("__pos")
                pieces.append(f)
        elif dvd:
            # join key = the NORMALIZED ABSOLUTE path (file: scheme
            # stripped JVM-side; Hadoop resolves any ../ segments a
            # shallow clone's entries carry), matched against
            # os.path.abspath of each entry — canonical on both sides
            base = self._read_live(
                [os.path.join(self.root, fe.path) for fe in dvd], schema_json
            ).withColumns(
                {
                    "__pos": F.col("_metadata.row_index"),
                    "__rel": F.expr(
                        "regexp_replace(_metadata.file_path, '^file:', '')"
                    ),
                    **(
                        {"__file": F.input_file_name()} if expose_pos else {}
                    ),
                }
            )
            fk_to_rel = self.spark.createDataFrame(
                [
                    (
                        os.path.basename(fe.dv).removeprefix("fk="),
                        os.path.abspath(os.path.join(self.root, fe.path)),
                    )
                    for fe in dvd
                ],
                "fk string, __rel string",
            )
            dv = (
                self.spark.read.parquet(
                    *[os.path.join(self.root, fe.dv) for fe in dvd]
                )
                .select(
                    F.col("pos").alias("__pos"),
                    F.regexp_extract(
                        F.col("_metadata.file_path"), "fk=([0-9a-f]{32})", 1
                    ).alias("fk"),
                )
                .join(F.broadcast(fk_to_rel), "fk")
                .select("__rel", "__pos")
            )
            filtered = base.join(F.broadcast(dv), ["__rel", "__pos"], "anti").drop(
                "__rel"
            )
            if not expose_pos:
                filtered = filtered.drop("__pos")
            pieces.append(filtered)
        if not pieces:
            schema = (
                T.StructType.fromJson(json.loads(schema_json))
                if schema_json
                else T.StructType([])
            )
            return self.spark.createDataFrame([], schema)
        out = pieces[0]
        for p in pieces[1:]:
            out = out.unionByName(p)
        return out

    def append(
        self,
        df: DataFrame,
        *,
        meta: dict | None = None,
        merge_schema: bool = False,
        optimize_write: bool = True,
    ) -> int:
        """Commit ``df`` as new files. Never rewrites existing data;
        safe under concurrent appends (auto-retries the version race).
        ``meta`` is merged into the commit record (e.g. a streaming
        micro-batch id for exactly-once sinks).

        By default rejects frames whose columns (names AND types) differ
        from the table's committed schema: a mismatched append would
        replace ``schema_json`` and leave mixed-schema files that later
        reads resolve unpredictably (same contract as ``merge``).

        ``merge_schema=True`` is additive schema evolution (the Delta
        ``mergeSchema`` analogue): the frame's NEW columns extend the
        committed schema, and the frame may omit existing columns —
        existing files are untouched (a 100 TB table adds a column as a
        metadata-only commit), and every read pins the committed schema
        so rows on either side of the evolution backfill NULL for the
        columns their file lacks. Type CHANGES always raise; rewriting
        types is an explicit ``overwrite``.

        The schema computation re-runs on every commit retry — a
        concurrent schema-evolving append winning the race invalidates
        the original result (TOCTOU), so the retry loop lives here
        rather than in ``_commit``'s blind-append path."""
        head = self.latest_version()
        schema_json = self._append_schema_json(df, head, merge_schema)
        add = self._write_files(df, optimize=optimize_write)
        m = {"rows": sum(a.rows for a in add)}
        if meta:
            m.update(meta)
        while True:
            try:
                return self._commit(
                    "append",
                    add,
                    [],
                    schema_json,
                    m,
                    expected_version=(0 if head is None else head + 1),
                    retry_append=False,
                )
            except CommitConflict:
                # lost the race: re-validate against the NEW head before
                # retrying (the winner may have evolved the schema)
                head = self.latest_version()
                schema_json = self._append_schema_json(df, head, merge_schema)

    def last_stream_batch_id(self, stream_id: str = "default") -> int | None:
        """Newest committed ``stream_batch_id`` for ``stream_id``
        (exactly-once streaming sink bookkeeping). Scans head-down and
        stops at the first append carrying this stream's marker — a
        stream's batch ids commit in order, so its newest entry is its
        maximum.

        The marker is NAMESPACED by stream id: two independent streaming
        queries sinking into one table each track their own batch-id
        watermark; comparing against a global maximum would silently
        drop a stream whose next batch id trails the other stream's
        (round-3 advice). Because a busy sibling stream can put an
        arbitrary number of entries between this stream's markers, the
        scan memoizes per instance: log entries are immutable, so
        versions at or below the last scanned head never need re-reading
        — per-batch cost is O(entries since the previous call), not
        O(distance to this stream's last marker)."""
        head = self.latest_version()
        if head is None:
            return None
        scanned_to, cached = self._stream_marker_cache.get(stream_id, (-1, None))
        found = None
        for v in range(head, scanned_to, -1):
            meta = self._read_entry(v).meta
            bid = meta.get("stream_batch_id")
            if bid is not None and meta.get("stream_id", "default") == stream_id:
                found = int(bid)
                break
        best = cached if found is None else found
        self._stream_marker_cache[stream_id] = (head, best)
        return best

    def overwrite(self, df: DataFrame, *, optimize_write: bool = True) -> int:
        """Replace the whole live set with ``df`` in one atomic commit.
        ``optimize_write=False`` preserves a deliberately clustered
        frame's file layout verbatim (same contract as ``append``)."""
        head = self.latest_version()
        files, _ = ([], None) if head is None else self._resolve(head)
        add = self._write_files(df, optimize=optimize_write)
        return self._commit(
            "overwrite",
            add,
            [fe.path for fe in files],
            df.schema.json(),
            {},
            expected_version=(0 if head is None else head + 1),
            retry_append=False,
        )

    def restore(self, version: int) -> int:
        """RESTORE the table head to an earlier ``version`` as a NEW
        commit — the Delta RESTORE analogue, and the writable side of
        time travel (``read(version=)`` is the read side). Metadata
        only: the target version's live file set and schema become the
        head's; no data rewrites, and history is preserved, so a
        restore can itself be restored away. The Irmin/Git parallel in
        the reference is resetting a branch head to an old commit
        (src/shard.re:26-34 stores shards in a Git history but exposes
        no reset; this closes that gap in the Spark rebuild).

        Raises if any of the target version's files were already
        vacuumed (the restore would commit dangling paths). Note for
        change-feed consumers: the restore commit re-adds the restored
        files the head had dropped (and ONLY those — files live at both
        ends are not re-listed), so ``inserts_between`` across it
        reports exactly the genuinely re-introduced rows as inserts."""
        head = self.latest_version()
        if head is None:
            raise ValueError("cannot restore an empty table")
        if not 0 <= version <= head:
            raise ValueError(f"version {version} out of range [0, {head}]")
        target_files, target_schema = self._resolve(version)
        missing = [
            rel
            for fe in target_files
            for rel in ([fe.path] + ([fe.dv] if fe.dv else []))
            if not os.path.exists(os.path.join(self.root, rel))
        ]
        if missing:
            raise ValueError(
                f"cannot restore v{version}: {len(missing)} of its files "
                f"were vacuumed (e.g. {missing[0]})"
            )
        cur_files, _ = self._resolve(head)
        # commit only the symmetric difference: files live at BOTH ends
        # were never dropped, and listing them as adds would make
        # inserts_between replay rows that never left the table. The
        # difference is keyed on (path, dv): a file whose DELETION
        # VECTOR changed between the two ends re-lists (remove + add
        # of the same path swaps the entry), otherwise restoring past
        # a DV delete would leave the deletions in place.
        cur_keyed = {(fe.path, fe.dv) for fe in cur_files}
        target_keyed = {(fe.path, fe.dv) for fe in target_files}
        add = [fe for fe in target_files if (fe.path, fe.dv) not in cur_keyed]
        remove = sorted(
            fe.path for fe in cur_files if (fe.path, fe.dv) not in target_keyed
        )
        return self._commit(
            "restore",
            add,
            remove,
            target_schema,
            {"restore_of": version, "restored_files": len(target_files),
             "readded_files": len(add)},
            expected_version=head + 1,
            retry_append=False,
        )

    def delete_where(self, predicate: str, *, mode: str = "rewrite") -> int:
        """Delete rows where the SQL ``predicate`` is TRUE (NULL keeps
        the row, standard SQL DELETE semantics), rewriting ONLY the
        files probed to contain matches; untouched files stay referenced
        as-is — at scale a predicate delete must not rewrite 100 TB to
        remove 1 GB. (The probe scans the live files' predicate columns;
        callers with range predicates can pre-restrict via
        ``files(bounds=...)`` stats, which the probe does not consult.)

        ``mode='dv'`` deletes via DELETION VECTORS (the Delta DV
        analogue): instead of rewriting every touched file, the matched
        rows' parquet positions append to per-file sidecar vectors and
        the commit just re-points the entries — a 1 000-row delete on a
        100 TB table costs O(matched rows), not O(touched files). Reads
        merge DVs transparently; ``compact()`` materializes them away;
        a later rewrite-mode delete on a DV'd file also materializes.
        Trade-off (same as Delta): every read of a DV'd file pays the
        position anti-join until compaction — use 'dv' for small/
        frequent deletes, 'rewrite' for bulk ones.
        """
        if mode not in ("rewrite", "dv"):
            raise ValueError(f"mode must be 'rewrite' or 'dv': {mode}")
        head = self.latest_version()
        if head is None:
            raise ValueError("empty table")
        files, schema_json = self._resolve(head)
        if not files:
            return self._commit(
                "delete", [], [], schema_json, {"predicate": predicate},
                expected_version=head + 1, retry_append=False,
            )
        if mode == "dv":
            return self._delete_where_dv(predicate, head, files, schema_json)
        # probe on the pre-tagged __file column: input_file_name() cannot
        # be attached above the DV anti-joins (multi-source plan)
        df = self._read_entries(files, schema_json, expose_pos=True)
        hit_rows = df.where(predicate).groupBy("__file").count().collect()
        hit = {self._uri_to_rel(r["__file"]) for r in hit_rows}
        hit = {p for p in (fe.path for fe in files) if p in hit}
        if not hit:
            return self._commit(
                "delete", [], [], schema_json,
                {"predicate": predicate, "rewritten_files": 0},
                expected_version=head + 1, retry_append=False,
            )
        # keep = rows where the predicate is NOT TRUE. A bare
        # NOT(pred) evaluates to NULL (not true) for NULL-valued rows
        # and would silently drop them — but only in rewritten files,
        # i.e. layout-dependent data loss. SQL DELETE removes TRUE only.
        by_path = {fe.path: fe for fe in files}
        keep = self._read_entries(
            [by_path[p] for p in sorted(hit)], schema_json
        ).where(f"NOT ({predicate}) OR ({predicate}) IS NULL")
        add = self._write_files(keep)
        # rebasing commit: a concurrent append's files are disjoint from
        # this delete's hit set, so the rewrite stays valid — the delete
        # applies to the snapshot it read (WriteSerializable semantics:
        # concurrently-appended rows survive even when they match the
        # predicate, same contract as Delta's default isolation)
        return self._commit_rebasing(
            "delete",
            add,
            sorted(hit),
            schema_json,
            {"predicate": predicate, "rewritten_files": len(hit)},
            base_head=head,
        )

    def _delete_where_dv(
        self,
        predicate: str,
        head: int,
        files: list[FileEntry],
        schema_json: str | None,
    ) -> int:
        live = self._read_entries(files, schema_json, expose_pos=True)
        return self._commit_dv_delete(
            live.where(predicate).select("__file", "__pos"),
            head,
            files,
            schema_json,
            {"predicate": predicate},
        )

    def _commit_dv_delete(
        self,
        matches: DataFrame,
        head: int,
        files: list[FileEntry],
        schema_json: str | None,
        meta: dict,
    ) -> int:
        """Deletion-vector delete: ``matches`` carries the newly-deleted
        rows' (__file, __pos) pairs over the LIVE view (already-deleted
        positions can never re-match); union each touched file's
        existing vector, publish one position batch partitioned by file
        key, and re-point the touched entries — zero base-file
        rewrites. Positions never collect to the driver; only the
        touched-file list does (small by the same argument as the
        rewrite path's probe).

        Job shape (r15 opt): ONE pass over ``matches`` — a per-file
        count collect — yields the touched-file list AND the new-row
        counts together, and the position batch writes WITHOUT a
        distinct shuffle. Dedup is free by contract: both callers
        derive ``matches`` from the DV-merged LIVE view (an
        already-deleted position cannot re-match, so new positions are
        disjoint from every existing vector, and each live row carries
        exactly one (__file, __pos)). The previous shape paid three
        jobs per delete (distinct-files collect, distinct+write,
        count collect recomputing the distinct) — measured 4.2-4.9 s
        per DV delete at sf0.1, now ~2."""
        import hashlib

        by_path = {fe.path: fe for fe in files}
        matches = matches.persist()
        try:
            new_counts_uri = {
                r["__file"]: r["n"]
                for r in matches.groupBy("__file")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
            rel_of = {u: self._uri_to_rel(u) for u in new_counts_uri}
            hit = sorted(
                {rel_of[u] for u in new_counts_uri if rel_of[u] in by_path}
            )
            if not hit:
                return self._commit(
                    "delete", [], [], schema_json,
                    {**meta, "mode": "dv", "deleted_rows": 0},
                    expected_version=head + 1, retry_append=False,
                )
            fk_of = {p: hashlib.md5(p.encode()).hexdigest() for p in hit}
            new_counts = {p: 0 for p in hit}
            for u, n in new_counts_uri.items():
                p = rel_of[u]
                if p in by_path:
                    new_counts[p] += int(n)
            mapdf = self.spark.createDataFrame(
                [
                    (u, fk_of[rel_of[u]])
                    for u in new_counts_uri
                    if rel_of[u] in by_path
                ],
                "uri string, fk string",
            )
            pos_new = matches.join(
                F.broadcast(mapdf), matches["__file"] == mapdf["uri"]
            ).select("fk", F.col("__pos").alias("pos"))
            pieces = [pos_new]
            for p in hit:
                fe = by_path[p]
                if fe.dv is not None:
                    pieces.append(
                        self.spark.read.parquet(os.path.join(self.root, fe.dv))
                        .select("pos")
                        .withColumn("fk", F.lit(fk_of[p]))
                        .select("fk", "pos")
                    )
            dvdf = pieces[0]
            for piece in pieces[1:]:
                dvdf = dvdf.unionByName(piece)
            batch_sub = os.path.join(_DATA_DIR, f"dv-{uuid.uuid4().hex}")
            dvdf.write.partitionBy("fk").mode("errorifexists").parquet(
                os.path.join(self.root, batch_sub)
            )
        finally:
            matches.unpersist()
        add = []
        deleted = 0
        for p in hit:
            fe = by_path[p]
            n = fe.dv_rows + new_counts[p]
            deleted += n - fe.dv_rows
            add.append(
                FileEntry(
                    fe.path,
                    fe.rows,
                    dict(fe.stats),
                    dv=os.path.join(batch_sub, f"fk={fk_of[p]}"),
                    dv_rows=n,
                )
            )
        return self._commit_rebasing(
            "delete",
            add,
            hit,
            schema_json,
            {**meta, "mode": "dv", "deleted_rows": deleted, "dv_files": len(hit)},
            base_head=head,
        )

    def merge(self, updates: DataFrame, key_cols: list[str]) -> int:
        """Upsert (MERGE INTO analogue): rows in ``updates`` replace live
        rows with the same key; unmatched rows insert. ONE atomic commit —
        readers see either the whole merge or none of it.

        Scale shape: only files that contain a matched key are rewritten
        — candidates found by a broadcast semi-join of the update keys
        against the live files (update sets are small relative to the
        table; a 100 TB table takes a CDC batch by rewriting the touched
        GBs, not the table). Unmatched files stay referenced as-is.
        """
        null_key = F.lit(False)
        for c in key_cols:
            null_key = null_key | F.col(c).isNull()
        counts = updates.agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct(*[F.col(c) for c in key_cols]).alias("d"),
            F.count(F.when(null_key, 1)).alias("nk"),
        ).collect()[0]
        if counts["nk"]:
            # NULL keys can never match via the semi/anti joins below,
            # and count_distinct excludes them — reject explicitly
            # instead of surfacing a bogus duplicate-keys error
            raise ValueError(
                f"merge update set has {counts['nk']} row(s) with NULL in "
                f"key columns {key_cols}; NULL keys cannot match any row"
            )
        if counts["n"] != counts["d"]:
            # same contract as Delta MERGE's multiple-source-matches
            # error: two updates for one key have no defined winner here
            raise ValueError(
                f"merge update set has duplicate keys on {key_cols} "
                f"({counts['n']} rows, {counts['d']} distinct keys)"
            )
        head = self.latest_version()
        if head is None:
            return self.append(updates)
        files, schema_json = self._resolve(head)
        # ONE DV-aware view serves both the schema check and the probe
        # (building it twice costs a plan leg per DV'd file, twice).
        # __file pre-tagged per leaf scan (expose_pos): input_file_name()
        # is rejected above a join of two file sources
        # (MULTI_SOURCES_UNSUPPORTED_FOR_EXPRESSION) — both when the
        # update batch comes from parquet and above DV anti-joins.
        tagged = self._read_entries(files, schema_json, expose_pos=True)
        table_cols = [c for c in tagged.columns if c not in ("__file", "__pos")]
        if set(updates.columns) != set(table_cols):
            # silently dropping/backfilling columns on the rewritten
            # survivors would corrupt them; schema evolution is an
            # explicit overwrite, not a merge side effect
            raise ValueError(
                f"merge schema mismatch: updates {sorted(updates.columns)} "
                f"vs table {sorted(table_cols)}"
            )
        keys = updates.select(*key_cols).dropDuplicates()
        hit_rows = (
            tagged.join(F.broadcast(keys), key_cols, "left_semi")
            .select("__file")
            .distinct()
            .collect()
        )
        rel_live = {fe.path for fe in files}
        hit = {
            p
            for p in (self._uri_to_rel(r["__file"]) for r in hit_rows)
            if p in rel_live
        }
        by_path = {fe.path: fe for fe in files}
        new_parts = [updates]
        if hit:
            survivors = self._read_entries(
                [by_path[p] for p in sorted(hit)], schema_json
            ).join(F.broadcast(keys), key_cols, "left_anti")
            new_parts.append(survivors.select(*updates.columns))
        merged = new_parts[0]
        for part in new_parts[1:]:
            merged = merged.unionByName(part)
        add = self._write_files(merged)
        return self._commit(
            "merge",
            add,
            sorted(hit),
            schema_json,
            {"key_cols": key_cols, "rewritten_files": len(hit)},
            expected_version=head + 1,
            retry_append=False,
        )

    def delete_keys(
        self, keys: DataFrame, key_cols: list[str], *, mode: str = "rewrite"
    ) -> int:
        """Delete every live row whose key appears in ``keys`` — the
        right-to-be-forgotten / tombstone-batch path. ONE atomic commit.

        Scale shape mirrors ``merge``: the key set broadcasts against
        the live scan to find the files that actually CONTAIN a match
        (``input_file_name()`` semi-join), only those rewrite via an
        anti-join, and every untouched file stays referenced as-is — a
        100 TB table erases a user's rows by rewriting the touched GBs.
        Unlike ``delete_where`` (arbitrary predicate, probe scans
        predicate columns), this takes the keys as a FRAME, so a
        million-key erasure batch never becomes a million-term SQL
        predicate. NULL keys are rejected (they can never match via the
        semi/anti joins, so 'deleting' them would silently no-op).

        ``mode='dv'``: erase via DELETION VECTORS (see ``delete_where``)
        — the natural fit for tombstone batches, where a few thousand
        scattered keys would otherwise rewrite every file they touch.
        The erased rows become unreadable through every table read path
        at commit time; the physical bytes linger in the base files
        until ``compact()``/``vacuum()``, so a strict-erasure pipeline
        follows DV tombstones with a scheduled compaction (the same
        two-phase contract as Delta DV + VACUUM)."""
        if mode not in ("rewrite", "dv"):
            raise ValueError(f"mode must be 'rewrite' or 'dv': {mode}")
        null_key = F.lit(False)
        for c in key_cols:
            null_key = null_key | F.col(c).isNull()
        nk = keys.agg(F.count(F.when(null_key, 1)).alias("nk")).collect()[0]["nk"]
        if nk:
            raise ValueError(
                f"delete_keys set has {nk} row(s) with NULL in key columns "
                f"{key_cols}; NULL keys cannot match any row"
            )
        head = self.latest_version()
        if head is None:
            raise ValueError("empty table")
        files, schema_json = self._resolve(head)
        missing = [c for c in key_cols if c not in {f.name for f in
                   self._read_entries(files[:1], schema_json).schema.fields}]
        if missing:
            raise ValueError(f"delete_keys columns absent from table: {missing}")
        kset = keys.select(*key_cols).dropDuplicates()
        tagged = self._read_entries(files, schema_json, expose_pos=True)
        if mode == "dv":
            return self._commit_dv_delete(
                tagged.join(F.broadcast(kset), key_cols, "left_semi").select(
                    "__file", "__pos"
                ),
                head,
                files,
                schema_json,
                {"key_cols": key_cols},
            )
        hit_rows = (
            tagged.join(F.broadcast(kset), key_cols, "left_semi")
            .select("__file")
            .distinct()
            .collect()
        )
        rel_live = {fe.path for fe in files}
        hit = {
            p
            for p in (self._uri_to_rel(r["__file"]) for r in hit_rows)
            if p in rel_live
        }
        if not hit:
            return self._commit(
                "delete", [], [], schema_json,
                {"key_cols": key_cols, "rewritten_files": 0},
                expected_version=head + 1, retry_append=False,
            )
        by_path = {fe.path: fe for fe in files}
        survivors = self._read_entries(
            [by_path[p] for p in sorted(hit)], schema_json
        ).join(F.broadcast(kset), key_cols, "left_anti")
        add = self._write_files(survivors)
        # rebases over concurrent appends — same snapshot-scope contract
        # as delete_where (see there); key rows appended concurrently
        # are NOT covered by this call, by design
        return self._commit_rebasing(
            "delete",
            add,
            sorted(hit),
            schema_json,
            {"key_cols": key_cols, "rewritten_files": len(hit)},
            base_head=head,
        )

    def compact(
        self,
        target_files: int = 1,
        zorder_by: tuple[str, ...] | list[str] | None = None,
        *,
        cluster: str = "zorder",
    ) -> int:
        """Rewrite the live set into ``target_files`` files. Read-result
        invariant; atomic swap via the log (readers at any version never
        see a half-compacted set).

        ``zorder_by``: numeric columns to space-fill-cluster the rewrite
        on (the Delta ``OPTIMIZE ... ZORDER BY`` analogue). Each column
        is min/max-scaled to 8-bit buckets (one tiny agg — no
        global-order window, which would single-partition at scale),
        combined into the clustering key, then range-repartitioned +
        sorted on it: afterwards this table's per-file min/max stats
        prune ``files(bounds=...)`` on ANY clustered dimension, where a
        linear sort prunes only the leading one. Cost is the compaction
        itself (a shuffle the rewrite pays anyway); reads pay nothing.

        ``cluster``: the curve — ``"zorder"`` (Morton interleave,
        ``plans.scale.zorder_key``, any column count) or ``"hilbert"``
        (``operators.layout.hilbert_index``, exactly 2 columns): every
        Hilbert unit step is a spatial unit step, so files cover
        tighter rectangles and range queries touch fewer of them (the
        reason Delta's liquid clustering moved off Z-order).
        """
        if cluster not in ("zorder", "hilbert"):
            raise ValueError(f"unknown cluster strategy: {cluster!r}")
        if cluster != "zorder" and not zorder_by:
            # a non-default curve with no columns would silently fall
            # through to a plain rewrite — the caller asked for
            # clustering they wouldn't get (round-12 advice)
            raise ValueError(
                f"cluster={cluster!r} requires zorder_by columns"
            )
        head = self.latest_version()
        if head is None:
            raise ValueError("empty table")
        files, schema_json = self._resolve(head)
        df = self._read_entries(files, schema_json)
        if zorder_by:
            from nibbledb_spark.plans.scale import zorder_key

            if cluster == "hilbert" and len(zorder_by) != 2:
                raise ValueError(
                    f"hilbert clustering takes exactly 2 columns: {zorder_by}"
                )
            bits = 8
            span = (1 << bits) - 1
            ranges = df.agg(
                *[F.min(c).alias(f"lo_{c}") for c in zorder_by],
                *[F.max(c).alias(f"hi_{c}") for c in zorder_by],
            ).collect()[0]
            buckets = []
            for c in zorder_by:
                lo, hi = ranges[f"lo_{c}"], ranges[f"hi_{c}"]
                if lo is None or hi is None or float(hi) == float(lo):
                    buckets.append(F.lit(0))
                    continue
                scale = span / (float(hi) - float(lo))
                b = F.floor((F.col(c).cast("double") - F.lit(float(lo))) * scale)
                buckets.append(
                    F.coalesce(  # NULLs cluster at bucket 0
                        F.least(F.lit(span), F.greatest(F.lit(0), b)), F.lit(0)
                    ).cast("long")
                )
            if cluster == "hilbert":
                from nibbledb_spark.operators.layout import append_hilbert_index

                keyed = append_hilbert_index(
                    df.withColumn("__bx", buckets[0]).withColumn("__by", buckets[1]),
                    "__bx",
                    "__by",
                    bits=bits,
                    out_col="__z",
                ).drop("__bx", "__by")
            else:
                keyed = df.withColumn("__z", zorder_key(buckets, bits=bits))
            df = (
                keyed.repartitionByRange(max(1, target_files), "__z")
                .sortWithinPartitions("__z")
                .drop("__z")
            )
        else:
            df = df.coalesce(max(1, target_files))
        add = self._write_files(df, optimize=False)
        return self._commit_rebasing(
            "compact",
            add,
            [fe.path for fe in files],
            schema_json,
            {
                "from_files": len(files),
                "to_files": len(add),
                **(
                    {"zorder_by": list(zorder_by), "cluster": cluster}
                    if zorder_by
                    else {}
                ),
            },
            base_head=head,
        )

    def _commit_rebasing(
        self,
        op: str,
        add: list[FileEntry],
        remove: list[str],
        schema_json: str | None,
        meta: dict,
        *,
        base_head: int,
    ) -> int:
        """Commit a file-REWRITE operation with logical conflict
        resolution (the Delta/Iceberg optimistic-concurrency rule)
        instead of the version-CAS-only rule: losing the version race
        does not invalidate a file rewrite — a concurrent APPEND only
        adds files, so the rewrite's inputs are untouched and the
        commit simply rebases to the new head (appends stay live
        alongside the rewritten set). Used by compact / delete_where /
        delete_keys; their scope is the snapshot they read
        (WriteSerializable: a delete does not cover concurrently
        appended rows). Without this, a compactor under continuous
        write load NEVER lands (measured: 4 writers starved every
        attempt across a 25 s stress), which is exactly when a 100 TB
        table needs compaction most. A real conflict — any intervening
        entry that itself removed files (a racing compact/delete/
        overwrite/restore) or changed the table schema — still raises
        ``CommitConflict``: its removals may cover our inputs, and
        committing our pre-evolution schema would regress an evolved
        table. MERGE deliberately keeps strict version-CAS: its
        correctness reads the WHOLE key space (matched rows must not be
        missed), so any concurrent commit invalidates its read set."""
        expected = base_head + 1
        while True:
            try:
                return self._commit(
                    op,
                    add,
                    remove,
                    schema_json,
                    meta,
                    expected_version=expected,
                    retry_append=False,
                )
            except CommitConflict:
                head = self.latest_version()
                assert head is not None
                for v in range(expected, head + 1):
                    e = self._read_entry(v)
                    if e.op != "append" or e.remove:
                        raise
                    if e.schema_json is not None and e.schema_json != schema_json:
                        raise
                expected = head + 1

    def vacuum(
        self,
        retain_versions: int = 5,
        min_age_s: float = 3600.0,
        *,
        force: bool = False,
    ) -> list[str]:
        """Physically delete data files unreferenced by the newest
        ``retain_versions`` snapshots (older time-travel beyond that
        horizon is forfeited — same contract as ``delta VACUUM``).

        ``min_age_s`` protects in-flight writers: a concurrent commit
        writes its data files BEFORE publishing its log entry, so a
        zero-grace vacuum could delete files a commit is about to
        reference. Files younger than the grace window are never
        touched (Delta's retention-hours guard, same reasoning).

        Files still referenced by a registered UN-DETACHED shallow
        clone (see :meth:`clone`) are also protected — Delta documents
        this hazard and deletes anyway; here the clone registry makes
        source vacuum safe by default. Registrations of deleted or
        detached clones are dropped automatically, so protection never
        outlives the experiment. ``force=True`` restores the raw
        Delta behavior (reclaim regardless; un-detached clones break).
        """
        head = self.latest_version()
        if head is None:
            return []
        keep: set[str] = set()
        keep_dirs: set[str] = set()  # live deletion-vector dirs
        for v in range(max(0, head - retain_versions + 1), head + 1):
            for fe in self._resolve(v)[0]:
                keep.add(fe.path)
                if fe.dv:
                    keep_dirs.add(fe.dv)
        if not force:
            cf, cd = self._clone_protected_files()
            keep |= cf
            keep_dirs |= cd
        now = time.time()
        removed = []
        data_root = os.path.join(self.root, _DATA_DIR)
        # recursive walk (DV batches nest fk= partition dirs under the
        # batch dir); a parquet survives if it IS a kept path or sits
        # under a kept DV dir
        for dirpath, _dirs, filenames in os.walk(data_root):
            for name in filenames:
                if not name.endswith(".parquet"):
                    continue
                full = os.path.join(dirpath, name)
                rel = os.path.relpath(full, self.root)
                if (
                    rel not in keep
                    and not any(rel.startswith(d + os.sep) for d in keep_dirs)
                    and now - os.path.getmtime(full) >= min_age_s
                ):
                    os.unlink(full)
                    removed.append(rel)
        # a dir whose parquet files are all reclaimed holds only Spark
        # sidecars (_SUCCESS, .crc) — without this sweep, empty batch
        # dirs accumulate forever on a long-lived table. Bottom-up so a
        # DV batch's emptied fk= partitions fold into their parent.
        for dirpath, _dirs, _files in os.walk(data_root, topdown=False):
            if os.path.abspath(dirpath) == os.path.abspath(data_root):
                continue
            leftover = os.listdir(dirpath)
            if not any(
                os.path.isdir(os.path.join(dirpath, n)) for n in leftover
            ) and all(n == "_SUCCESS" or n.endswith(".crc") for n in leftover):
                if not leftover or (
                    now - os.path.getmtime(dirpath) >= min_age_s
                ):
                    shutil.rmtree(dirpath, ignore_errors=True)
        self._commit(
            "vacuum", [], [], None,
            {"removed": len(removed), "retain_versions": retain_versions},
            expected_version=None, retry_append=True,
        )
        return sorted(removed)

    # -- read path ---------------------------------------------------------

    def _version_as_of(self, ts_us: int) -> int:
        head = self.latest_version()
        if head is None:
            raise ValueError("empty table")
        best = None
        for v in range(head + 1):
            if self._read_entry(v).ts_us <= ts_us:
                best = v
        if best is None:
            raise ValueError(f"no snapshot at or before ts_us={ts_us}")
        return best

    @staticmethod
    def _prune(files: list[FileEntry], bounds: dict | None) -> list[FileEntry]:
        """Stats-based file pruning: interval-overlap test per bounded
        column (src/index.re:92-105 semantics). Files with no recorded
        stats for a bounded column are kept (safe)."""
        if not bounds:
            return files
        out = []
        for fe in files:
            keep = True
            for col, (lo, hi) in bounds.items():
                st = fe.stats.get(col)
                if st is None:
                    continue
                mn, mx = st
                if (hi is not None and mn is not None and mn > hi) or (
                    lo is not None and mx is not None and mx < lo
                ):
                    keep = False
                    break
            if keep:
                out.append(fe)
        return out

    def files(
        self, version: int | None = None, bounds: dict | None = None
    ) -> list[FileEntry]:
        """Live files at ``version`` (default head), optionally pruned by
        ``bounds`` = {col: (lo, hi)} against the recorded per-file stats."""
        head = self.latest_version()
        if head is None:
            return []
        v = head if version is None else version
        files, _ = self._resolve(v)
        return self._prune(files, bounds)

    def read(
        self,
        version: int | None = None,
        as_of_us: int | None = None,
        bounds: dict | None = None,
    ) -> DataFrame:
        """Snapshot read (head / ``version`` / ``as_of_us`` time-travel),
        with optional manifest-level file pruning via ``bounds``."""
        if version is not None and as_of_us is not None:
            raise ValueError("pass version or as_of_us, not both")
        head = self.latest_version()
        if head is None:
            raise ValueError("empty table: no snapshot to read")
        if as_of_us is not None:
            version = self._version_as_of(as_of_us)
        v = head if version is None else version
        if not 0 <= v <= head:
            raise ValueError(f"version {v} out of range 0..{head}")
        files, schema_json = self._resolve(v)
        files = self._prune(files, bounds)
        if not files:
            schema = (
                T.StructType.fromJson(json.loads(schema_json))
                if schema_json
                else T.StructType([])
            )
            return self.spark.createDataFrame([], schema)
        return self._read_entries(files, schema_json)

    def streaming_sink(self, stream_id: str = "default"):
        """``foreachBatch`` handler committing each micro-batch as one
        atomic log version, exactly once.

        Structured Streaming re-runs the last micro-batch after a crash
        between sink completion and checkpoint commit; a plain parquet
        append would duplicate those rows. Here the batch id rides in the
        commit record, so a replayed batch (id <= newest committed id) is
        skipped — the transactional-sink idempotence pattern, with the
        log entry as the transaction marker. Combined with the atomic
        multi-file commit, readers never see a torn or doubled batch.

        ``stream_id`` names THIS streaming query (use one id per
        checkpoint location); distinct streams sinking into one table
        keep independent batch-id watermarks.
        """

        def sink(batch_df: DataFrame, batch_id: int) -> None:
            last = self.last_stream_batch_id(stream_id)
            if last is not None and batch_id <= last:
                return  # replayed micro-batch: already committed
            self.append(
                batch_df,
                meta={"stream_batch_id": int(batch_id), "stream_id": stream_id},
            )

        return sink

    def dedup_streaming_sink(self, key_expr: str, stream_id: str = "default"):
        """``foreachBatch`` handler for CONTINUOUS ingest with exact
        dedup against everything already committed: each micro-batch
        drops rows whose ``key_expr`` (a SQL expression, e.g.
        ``md5(text)``) already exists in the table OR earlier in the
        same batch, then commits the novel remainder atomically with the
        exactly-once batch-id guard.

        This is the streaming form of the crawl-dedup loop: the corpus
        is its own seen-set. Here the seen keys come from re-reading the
        table (correct at any scale, but a full key scan per batch); a
        100 TB deployment keeps a compacted key-only sidecar table —
        same join, scan bounded by the key table — which this API admits
        by construction since the key projection IS that sidecar.
        """

        def sink(batch_df: DataFrame, batch_id: int) -> None:
            last = self.last_stream_batch_id(stream_id)
            if last is not None and batch_id <= last:
                return
            from pyspark.sql import Window

            batch = batch_df.withColumn("__k", F.expr(key_expr))
            # first occurrence wins within the batch (deterministic by
            # full row sort under the key window); MAP columns are not
            # orderable, so they enter the sort as their JSON rendering
            order = [
                F.to_json(F.col(c)) if t.startswith("map<") else F.col(c)
                for c, t in batch_df.dtypes
            ]
            first = (
                batch.withColumn(
                    "__rn",
                    F.row_number().over(
                        Window.partitionBy("__k").orderBy(*order)
                    ),
                )
                .where(F.col("__rn") == 1)
                .drop("__rn")
            )
            if self.latest_version() is not None:
                seen = self.read().withColumn("__k", F.expr(key_expr)).select("__k")
                first = first.join(seen, "__k", "left_anti")
            novel = first.drop("__k")
            self.append(
                novel,
                meta={"stream_batch_id": int(batch_id), "stream_id": stream_id},
            )

        return sink

    def inserts_between(self, from_version: int, to_version: int) -> DataFrame:
        """Rows ADDED by commits in ``(from_version, to_version]`` — the
        insert-level change feed a downstream incremental consumer tails
        (the Delta CDF pattern, inserts only: appends, merge upserts, and
        the rewritten survivors of deletes all surface as their entry's
        added files, so a consumer that processes by (version, row)
        exactly-once can incrementally mirror the table). Reads ONLY the
        added files of those commits — never a table scan.
        """
        head = self.latest_version()
        if head is None or not 0 <= from_version <= to_version <= head:
            raise ValueError(
                f"bad change range ({from_version}, {to_version}] for head {head}"
            )
        entries: list[FileEntry] = []
        schema_json = None
        for v in range(from_version + 1, to_version + 1):
            e = self._read_entry(v)
            schema_json = e.schema_json or schema_json
            entries += list(e.add)
        if not entries:
            _, schema_json = self._resolve(to_version)
            schema = (
                T.StructType.fromJson(json.loads(schema_json))
                if schema_json
                else T.StructType([])
            )
            return self.spark.createDataFrame([], schema)
        # pinned to the newest schema in the range: added files written
        # before an in-range evolution backfill NULL for later columns
        return self._read_entries(entries, schema_json)

    def clone(self, dest_root: str, *, version: int | None = None) -> "SnapshotLog":
        """Shallow clone (round 8): a NEW table whose v0 commit
        references THIS table's data files at ``version`` (default
        head) — metadata only, zero bytes copied. The Git-branch
        semantic of the reference's Irmin store (src/shard.re:26-34)
        surfaced on the snapshot log; Delta SHALLOW CLONE / Iceberg
        branch analogue, and the way a curation team forks a 100 TB
        corpus for an experiment without duplicating it.

        Histories are independent after the fork: commits to either
        table never appear in the other. Writes to the clone that
        rewrite data (delete / merge / compact) land in the CLONE's own
        data directory; the source's files are never modified, and the
        clone's ``vacuum`` physically deletes only files under the
        clone's root (source-referencing entries just leave the live
        set). ``clone.compact()`` is the DETACH: it rewrites all live
        rows into clone-owned files, after which the source may vacuum
        freely.

        Unlike Delta (which documents the vacuum-under-a-shallow-clone
        hazard and deletes anyway), the clone registers itself in the
        source (``_clones.json``, flock-serialized), and the source's
        :meth:`vacuum` PROTECTS files a registered un-detached clone
        still references; registrations are dropped automatically once
        the clone detaches or is deleted from disk.
        ``vacuum(force=True)`` overrides.

        Protection is keyed on the clone's HEAD: once every head entry
        is clone-owned — via compact() (the documented detach) or any
        rewrite that happens to cover every source-referencing file —
        the source may reclaim, and the CLONE's time travel to its own
        pre-rewrite versions is forfeited along with it. That is the
        standard vacuum contract (the source's own time travel past
        its retention dies the same way); a clone that wants its full
        history durable should compact() first (clone-owned bytes) or
        vacuum only with a retention covering its fork point.
        """
        head = self.latest_version()
        if head is None:
            raise ValueError("cannot clone an empty table")
        v = head if version is None else version
        if not 0 <= v <= head:
            raise ValueError(f"clone version {v} out of range 0..{head}")
        files, schema_json = self._resolve(v)
        dest = SnapshotLog(
            self.spark,
            dest_root,
            stats_cols=self.stats_cols,
            checkpoint_every=self.checkpoint_every,
            target_file_bytes=self.target_file_bytes,
        )
        if dest.latest_version() is not None:
            raise ValueError(f"clone destination {dest.root} is not empty")
        rel = os.path.relpath(self.root, dest.root)
        add = [
            # normpath so entries match _uri_to_rel's normalized output
            # (delete/merge file targeting on the clone depends on it)
            FileEntry(
                os.path.normpath(os.path.join(rel, fe.path)),
                fe.rows,
                dict(fe.stats),
                dv=(
                    os.path.normpath(os.path.join(rel, fe.dv))
                    if fe.dv
                    else None
                ),
                dv_rows=fe.dv_rows,
            )
            for fe in files
        ]
        dest._commit(
            "clone",
            add,
            [],
            schema_json,
            {"source": self.root, "source_version": v, "shallow": True},
            expected_version=0,
            retry_append=False,
        )
        self._register_clone(dest.root)
        return dest

    # -- clone registry: protects shallow-clone-referenced files from
    # source vacuum (the Delta caveat, CLOSED instead of documented) ---------

    _CLONES_FILE = "_clones.json"

    def _clones_path(self) -> str:
        return os.path.join(self.root, self._CLONES_FILE)

    def _clones_locked(self):
        """Exclusive advisory lock serializing registry
        read-modify-writes: without it, a vacuum's prune (read registry
        -> resolve clone heads -> write survivors) could overwrite a
        registration a concurrent clone() just appended — losing the
        very protection the registry exists for (round-9 self-review).
        Local-FS flock; an object-store deployment swaps this for its
        CAS primitive, same as the commit log's os.link."""
        import contextlib
        import fcntl

        @contextlib.contextmanager
        def held():
            with open(self._clones_path() + ".lock", "w") as lk:
                fcntl.flock(lk, fcntl.LOCK_EX)
                try:
                    yield
                finally:
                    fcntl.flock(lk, fcntl.LOCK_UN)

        return held()

    def _load_clone_registry(self) -> dict[str, int | None]:
        """root -> parent-directory st_dev recorded at registration
        (the DEVICE WITNESS: if the parent's device later differs, the
        filesystem that held the clone is not mounted — absence from a
        listing proves nothing). Legacy list-format registries load
        with a None witness."""
        try:
            with open(self._clones_path()) as f:
                data = json.load(f)
        except FileNotFoundError:
            return {}
        if isinstance(data, list):
            return {r: None for r in data}
        return dict(data)

    def _registered_clones(self) -> list[str]:
        return sorted(self._load_clone_registry())

    def _write_clones(self, reg: dict[str, int | None]) -> None:
        tmp = self._clones_path() + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump(reg, f, sort_keys=True)
        os.replace(tmp, self._clones_path())

    def _register_clone(self, dest_root: str) -> None:
        with self._clones_locked():
            reg = self._load_clone_registry()
            if dest_root not in reg:
                parent = os.path.dirname(os.path.abspath(dest_root))
                reg[dest_root] = os.stat(parent).st_dev
                self._write_clones(reg)

    def _clone_protected_files(self) -> tuple[set[str], set[str]]:
        """(files, dv dirs) under THIS root still referenced by
        registered live clones (rel paths). Side effect: registrations
        for clones that were deleted from disk or have DETACHED (compact
        rewrote every source-referencing entry into clone-owned files)
        are dropped, so a finished experiment never pins source storage.
        Metadata only — reads each clone's log head, never data.

        The whole prune holds the registry lock: read-modify-write
        without it could erase a registration a concurrent ``clone()``
        just appended. A clone created AFTER a running vacuum computed
        its keep set can still lose files its (old-version) fork
        references — creating a clone at a version older than the
        source's vacuum retention during a vacuum is inherently racy,
        the same as Delta; clone at/near head (the default) is safe
        because the retain window protects head files regardless."""
        with self._clones_locked():
            reg = self._load_clone_registry()
            if not reg:
                return set(), set()
            keep: set[str] = set()
            keep_dirs: set[str] = set()
            still_live: dict[str, int | None] = {}
            for croot, pdev in reg.items():
                # Unregister ONLY on CONFIRMED deletion: the clone's
                # name absent from a successful listing of its parent
                # WHILE the parent sits on the same device as at
                # registration (the witness). An unmounted share whose
                # mount-point directory survives passes the listing but
                # fails the device check — dropping the registration
                # there would silently lose vacuum protection forever,
                # and the next vacuum could reclaim files the (live,
                # temporarily unreachable) clone still references. Any
                # ambiguity raises instead: vacuum() fails loudly with
                # the registration intact, and force=True remains the
                # explicit raw-Delta override (round-9/10 ADVICE).
                ambiguous = None
                try:
                    parent = os.path.dirname(os.path.abspath(croot))
                    if os.path.isdir(croot):
                        absent = False
                        if pdev is None:  # upgrade a legacy entry
                            pdev = os.stat(parent).st_dev
                    elif (
                        pdev is not None
                        and os.stat(parent).st_dev != pdev
                    ):
                        absent = False
                        ambiguous = (
                            "parent directory is on a different device "
                            "than at registration (unmounted share?)"
                        )
                    else:
                        names = os.listdir(parent)
                        absent = (
                            os.path.basename(os.path.abspath(croot))
                            not in names
                        )
                        if absent and pdev is None and not names:
                            # legacy entry with no witness: an empty
                            # parent is the unmounted-mount-point
                            # signature, not proof of deletion
                            absent = False
                            ambiguous = (
                                "parent directory is empty and the "
                                "registration has no device witness "
                                "(unmounted mount point?)"
                            )
                except OSError as exc:
                    raise RuntimeError(
                        f"registered clone {croot!r} is unreachable "
                        f"({exc}); cannot prove it detached — fix the "
                        f"mount, detach/delete the clone, or vacuum "
                        f"with force=True to reclaim regardless"
                    ) from exc
                if ambiguous:
                    raise RuntimeError(
                        f"registered clone {croot!r} is unreachable "
                        f"({ambiguous}); cannot prove it detached — fix "
                        f"the mount, detach/delete the clone, or vacuum "
                        f"with force=True to reclaim regardless"
                    )
                if absent:
                    continue  # confirmed deleted: drop registration
                c = SnapshotLog(self.spark, croot)
                chead = c.latest_version()
                if chead is None:
                    # registered clones are born with v0, so an empty
                    # log under an existing root is a torn state (or an
                    # empty mount point shadowing the real clone), not
                    # a detach — refuse rather than drop protection
                    raise RuntimeError(
                        f"registered clone {croot!r} has no snapshot "
                        f"log; cannot prove it detached — fix the "
                        f"mount, detach/delete the clone, or vacuum "
                        f"with force=True to reclaim regardless"
                    )
                refs: set[str] = set()
                dv_refs: set[str] = set()
                for fe in c._resolve(chead)[0]:
                    for rel_src, bucket in (
                        (fe.path, refs),
                        (fe.dv, dv_refs),
                    ):
                        if rel_src is None:
                            continue
                        full = os.path.abspath(os.path.join(c.root, rel_src))
                        rel = os.path.relpath(full, os.path.abspath(self.root))
                        if not rel.startswith(".."):
                            bucket.add(rel)
                if refs or dv_refs:
                    keep |= refs
                    keep_dirs |= dv_refs
                    still_live[croot] = pdev
            if still_live != reg:
                self._write_clones(still_live)
            return keep, keep_dirs

    def changes_between(self, from_version: int, to_version: int) -> DataFrame:
        """Delete-visible change feed over ``(from_version, to_version]``
        (round-7 verdict #6 — the full-CDF sibling of
        :meth:`inserts_between`, which serves append-only consumers).

        Emits ``(_change_version, _change_op, <table columns>)`` at FILE
        granularity: every commit surfaces as ``remove`` rows for its
        removed files and ``insert`` rows for its added files, so a
        rewriting commit (delete / merge / overwrite / restore) shows
        old rows out + surviving rows back in. A consumer that folds
        removes-then-inserts per version mirrors the table exactly
        (multiset semantics, no keys required). ``compact`` commits emit
        NOTHING — they are row-preserving by construction (including
        rebased compactions; the Delta ``dataChange=false`` rule), which
        keeps pure-maintenance churn out of the feed.

        Reads ONLY the files referenced by in-range commits — never a
        table scan. Removed files stay on disk until :meth:`vacuum`;
        a feed window reaching past vacuumed files raises rather than
        returning a silently incomplete feed.
        """
        head = self.latest_version()
        if head is None or not 0 <= from_version <= to_version <= head:
            raise ValueError(
                f"bad change range ({from_version}, {to_version}] for head {head}"
            )
        # newest schema in range pins the output: older-vintage files
        # (both added and removed) backfill NULL for later columns
        _, schema_json = self._resolve(to_version)
        pieces: list[DataFrame] = []
        for v in range(from_version + 1, to_version + 1):
            e = self._read_entry(v)
            if e.op == "compact":
                continue
            # DV-aware sides: the REMOVE rows of a commit are the rows
            # that were LIVE at v-1 in its removed files (a file that
            # carried a deletion vector contributes only its undeleted
            # rows), and the INSERT rows are the commit's own entries'
            # live views. A DV delete therefore folds as remove(old live
            # rows) + insert(old live rows minus newly deleted) — the
            # same multiset algebra as a rewrite delete, with zero bytes
            # rewritten underneath.
            prev_by_path: dict[str, FileEntry] | None = None
            if e.remove:
                prev_by_path = {fe.path: fe for fe in self._resolve(v - 1)[0]}
            for op, entries in (
                (
                    "remove",
                    [prev_by_path[p] for p in e.remove] if e.remove else [],
                ),
                ("insert", list(e.add)),
            ):
                if not entries:
                    continue
                missing = [
                    os.path.join(self.root, rel)
                    for fe in entries
                    for rel in ([fe.path] + ([fe.dv] if fe.dv else []))
                    if not os.path.exists(os.path.join(self.root, rel))
                ]
                if missing:
                    raise ValueError(
                        f"changes_between({from_version}, {to_version}): "
                        f"version {v} references vacuumed file(s) "
                        f"{missing[:3]} — narrow the window or raise the "
                        "vacuum retention"
                    )
                pieces.append(
                    self._read_entries(entries, schema_json).select(
                        F.lit(v).cast("long").alias("_change_version"),
                        F.lit(op).alias("_change_op"),
                        "*",
                    )
                )
        if not pieces:
            base = (
                T.StructType.fromJson(json.loads(schema_json)).fields
                if schema_json
                else []
            )
            schema = T.StructType(
                [
                    T.StructField("_change_version", T.LongType(), False),
                    T.StructField("_change_op", T.StringType(), False),
                ]
                + [T.StructField(f.name, f.dataType, True, f.metadata) for f in base]
            )
            return self.spark.createDataFrame([], schema)
        out = pieces[0]
        for p in pieces[1:]:
            out = out.unionByName(p)
        return out

    def history(self) -> list[dict]:
        """``git log`` analogue: newest-first commit records."""
        head = self.latest_version()
        if head is None:
            return []
        out = []
        for v in range(head, -1, -1):
            e = self._read_entry(v)
            out.append(
                {
                    "version": e.version,
                    "op": e.op,
                    "ts_us": e.ts_us,
                    "added_files": len(e.add),
                    # LIVE rows: a DV commit re-points files whose
                    # physical rows include the deleted positions —
                    # counting fe.rows would credit a delete with
                    # 'adding' every touched file's full size
                    "added_rows": sum(a.rows - a.dv_rows for a in e.add),
                    "removed_files": len(e.remove),
                    "meta": e.meta,
                }
            )
        return out
