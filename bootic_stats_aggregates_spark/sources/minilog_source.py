"""MiniLog as a native Spark DataSource (Spark 4 Python DataSource API).

acid.py gives MiniLog tables a Python-object read surface
(``MiniLogTable(...).read()``); this module gives them the SPARK-NATIVE
one::

    spark.dataSource.register(MiniLogDataSource)
    spark.read.format("minilog").option("version", 3).load(path)
    spark.readStream.format("minilog").load(path)       # tail the log
    df.write.format("minilog").mode("append").save(path)
    df.writeStream.format("minilog").start(path)        # exactly-once

Why this matters at 100 TB: the DataSource boundary is what makes the
format consumable by ANYTHING that speaks Spark — SQL (``CREATE TABLE
... USING minilog``), other teams' jobs, Structured Streaming — without
importing this repo's Python API. The implementation stays thin on
purpose: all transaction semantics live in the commit log + acid.py
fold; the source only (a) resolves a snapshot to a file list on the
driver and (b) reads those immutable parquet files on executors via
Arrow (one ``InputPartition`` per data file, so Spark schedules them
like any other scan).

The STREAMING reader tails the commit log with log versions as offsets
— exactly Delta's streaming-source design: ``latestOffset`` = current
table version, a micro-batch (start, end] reads the files ADDED by
those commits. Non-append commits (merge/delete/optimize rewrites)
FAIL the stream by default — replaying a rewrite as appends would
duplicate rows — matching Delta's contract; ``ignoreChanges=true``
opts into Delta's same caveat (rewritten files re-emitted in full).
``option("readChangeFeed", "true")`` switches to the CHANGE-DATA-FEED
stream instead: micro-batches of row-level inserts/deletes per commit
(acid.changes()'s file-diff composed with the version offsets), which
handles ALL commit kinds — DV deletes arrive as delete rows, OPTIMIZE
cancels to an empty feed, MERGE as delete(old)+insert(new) — with
``_change_type`` / ``_commit_version`` columns appended to the table
schema. A fresh CDF stream on a vacuum-truncated log bootstraps with
changes(-1, earliest-retained); a RESUMED offset that fell inside the
vacuumed window fails loudly (deltas are unrecoverable).

Filter pushdown (4.1's ``pushFilters`` hook) harvests single-column
range constraints and applies the log's FILE SKIPPING before Spark
schedules anything — the same skipping code as
``MiniLogTable.read(prune=...)`` (``_select_entries``: partition values
ahead of min/max stats, a one-sided range as an open bound), now
reachable from plain ``df.filter(...)`` through the native surface;
every filter is handed
back to Spark for row-level evaluation, so the skip is an optimization,
never the filter. Column pruning has no hook in 4.1 — a projection
reads full rows (row-group pruning still applies inside each parquet
file). Schema evolution IS honored on read: every partition projects
its file to the snapshot's log schema (null-filling columns a
pre-evolution file lacks) before emitting Arrow batches.

The WRITE path maps Spark's two-phase writer protocol 1:1 onto the
format's commit: tasks land immutable UUID-named parquet files with
per-file stats computed from the Arrow table (option("statsCols",
"a,b") selects the skipping index), the driver's commit folds every
task's add actions into ONE atomic log entry (``mode("overwrite")``
additionally removes the prior snapshot; ``mergeSchema`` opts into
add-column evolution), and abort deletes the landed files — the log
never references them, so no reader ever saw the failed job. The
STREAMING writer adds exactly-once: commit carries txn =
(``txnApp``, batchId), a replayed micro-batch commits nothing and the
replay's already-landed files are deleted by the txn-replay path.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from typing import Iterator, Optional

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)

from ..acid import (
    ROW_ID_COL,
    ConstraintViolation,
    MiniLogTable,
    NoSuchVersion,
    _entry_diff,
    _json_safe,
    _phys,
    plan_write_mapping,
)

@dataclass
class _FilePartition(InputPartition):
    path: str
    #: (name, ddl_type, physical) triples of the snapshot schema, None =
    #: file schema. ``physical`` is the parquet column name (column
    #: mapping: a renamed column keeps its original physical name)
    schema: Optional[tuple]
    #: deletion-vector sidecar path (None = no rows masked): positions
    #: listed there for this file are dropped executor-side before the
    #: batches leave the reader — merge-on-read through the native source
    dv: Optional[str] = None
    #: hive-partition values (PHYSICAL column -> value) for this file:
    #: partitioned files do not store the column's bytes, so the reader
    #: re-attaches it as a constant column (r9)
    partition: Optional[dict] = None
    #: ROW TRACKING through the native surface (r9): when with_row_ids
    #: is set, the reader appends a ``_row_id`` bigint column —
    #: coalesce(materialized __row_id, base_row_id + parquet position),
    #: computed BEFORE the DV mask so surviving rows keep their ids
    base_row_id: Optional[int] = None
    with_row_ids: bool = False


def _ddl(schema: list[dict]) -> str:
    return ", ".join(f"`{c['name']}` {c['type']}" for c in schema)


def _arrow_type(ddl: str):
    """Spark simpleString type -> Arrow type, context-free (executors
    have no SparkContext, so pyspark's DDL parser is unavailable there).
    Covers the types MiniLog tables carry; unknown types raise with the
    offending name so the gap is explicit, never silent."""
    import pyarrow as pa

    t = ddl.strip().lower()
    scalars = {
        "tinyint": pa.int8(),
        "smallint": pa.int16(),
        "int": pa.int32(),
        "integer": pa.int32(),
        "bigint": pa.int64(),
        "long": pa.int64(),
        "float": pa.float32(),
        "double": pa.float64(),
        "string": pa.string(),
        "boolean": pa.bool_(),
        "binary": pa.binary(),
        "date": pa.date32(),
        "timestamp": pa.timestamp("us", tz="UTC"),
        "timestamp_ntz": pa.timestamp("us"),
    }
    if t in scalars:
        return scalars[t]
    if t.startswith("decimal(") and t.endswith(")"):
        p, s = t[len("decimal(") : -1].split(",")
        return pa.decimal128(int(p), int(s))
    if t.startswith("array<") and t.endswith(">"):
        return pa.list_(_arrow_type(t[len("array<") : -1]))
    raise TypeError(f"minilog source: unsupported column type {ddl!r}")


def _read_file_arrow(part: _FilePartition):
    """Executor-side: one immutable parquet file -> Arrow batches
    projected to the log schema (null-fill for pre-evolution files),
    minus any rows the partition's deletion vector masks."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pq.read_table(part.path)
    rid_tmp = "__minilog_rid"
    if part.with_row_ids:
        import numpy as np
        import pyarrow.compute as pc

        n = table.num_rows
        if part.base_row_id is not None:
            default = pa.array(
                part.base_row_id + np.arange(n, dtype=np.int64),
                type=pa.int64(),
            )
        else:  # pre-tracking file: rows have no ids
            default = pa.nulls(n, type=pa.int64())
        if ROW_ID_COL in table.column_names:
            rid = pc.coalesce(
                table.column(ROW_ID_COL).cast(pa.int64()), default
            )
        else:
            rid = default
        # appended BEFORE the DV take so ids follow their rows
        table = table.append_column(rid_tmp, rid)
    if part.dv:
        import pyarrow.compute as pc

        mask = pq.read_table(part.dv)
        fname = os.path.basename(part.path)
        dead = mask.filter(
            pc.equal(mask.column("file"), fname)
        ).column("row_index")
        if len(dead):
            dead_set = set(dead.to_pylist())
            keep = [
                i for i in range(table.num_rows) if i not in dead_set
            ]
            table = table.take(pa.array(keep, type=pa.int64()))
    if part.schema is not None:
        pvals = part.partition or {}
        fields = [
            pa.field(name, _arrow_type(ddl))
            for name, ddl, _ in part.schema
        ]
        cols = []
        for field, (_, _, phys) in zip(fields, part.schema):
            if phys in table.column_names:  # resolve via PHYSICAL name
                cols.append(table.column(phys).cast(field.type))
            elif phys in pvals:
                # hive-partitioned file: the column's bytes live in the
                # directory name — re-attach as a constant (r9)
                v = pvals[phys]
                if v is None:
                    cols.append(pa.nulls(table.num_rows, type=field.type))
                else:
                    cols.append(
                        pa.repeat(
                            pa.scalar(v, type=field.type),
                            table.num_rows,
                        )
                    )
            else:  # pre-evolution file: null-fill
                cols.append(pa.nulls(table.num_rows, type=field.type))
        if part.with_row_ids:
            fields.append(pa.field("_row_id", pa.int64()))
            cols.append(table.column(rid_tmp))
        table = pa.table(cols, schema=pa.schema(fields))
    elif part.with_row_ids:  # pre-schema table: rename the temp column
        table = table.drop_columns(
            [c for c in (ROW_ID_COL,) if c in table.column_names]
        ).rename_columns(
            [
                "_row_id" if c == rid_tmp else c
                for c in table.column_names
                if c != ROW_ID_COL
            ]
        )
    elif ROW_ID_COL in table.column_names:
        # normal pre-schema read: the hidden materialized id column a
        # rewrite added must never leak
        table = table.drop_columns([ROW_ID_COL])
    yield from table.to_batches(max_chunksize=8192)


def _with_row_ids(options: dict) -> bool:
    return str(options.get("withrowids", "false")).lower() == "true"


def _resolve_version(path: str, options: dict):
    """Batch time-travel resolution shared by schema() and the
    readers: ``version`` (an int ordinal) or ``timestampAsOf`` (int
    epoch-µs or ISO string, resolved through the log's in-commit
    timestamps — acid.version_at), never both. None = latest."""
    version = options.get("version")
    ts = options.get("timestampasof")
    if version is not None and ts is not None:
        raise ValueError(
            "minilog: pass option 'version' OR 'timestampAsOf', not both"
        )
    if ts is not None:
        try:
            ts = int(ts)  # DSv2 options arrive as strings
        except (TypeError, ValueError):
            pass
        return _handle(path).version_at(ts)
    return int(version) if version is not None else None


class _MiniLogBatchReaderBase(DataSourceReader):
    """Snapshot scan WITHOUT the pushFilters hook: Spark refuses any
    reader that implements pushFilters when
    ``spark.sql.python.filterPushdown.enabled`` is false (the 4.1
    default), so the source picks this class for such sessions instead
    of failing the scan — skipping is an optimization, losing it must
    never lose the read. register() enables the conf, so sessions going
    through this repo's entry points get the pushdown reader."""

    def __init__(self, path: str, options: dict) -> None:
        self._path = path
        self._options = options
        #: column -> (lo, hi) range constraints harvested by pushFilters
        #: (None bound = unbounded); consumed by partitions() for
        #: log-stats file skipping. Stays empty in this base class.
        self._ranges: dict = {}

    def partitions(self):
        tbl = _handle(self._path)
        snap = tbl.snapshot(_resolve_version(self._path, self._options))
        schema = (
            tuple((c["name"], c["type"], _phys(c)) for c in snap.schema)
            if snap.schema
            else None
        )
        rids = _with_row_ids(self._options)
        # the skipping of MiniLogTable.read(prune=...): partition values
        # ahead of stats, logical names resolved to physical, open bounds
        files = tbl._select_entries(
            snap, [(col, lo, hi) for col, (lo, hi) in self._ranges.items()]
        )
        return [
            _FilePartition(
                os.path.join(self._path, f.file),
                schema,
                os.path.join(self._path, f.dv) if f.dv else None,
                f.partition or None,
                f.base_row_id,
                rids,
            )
            for f in files
        ] or [_FilePartition("", schema, with_row_ids=rids)]

    def read(self, partition: _FilePartition):
        if not partition.path:  # empty table: schema-only
            return iter(())
        return _read_file_arrow(partition)


class _MiniLogBatchReader(_MiniLogBatchReaderBase):
    def pushFilters(self, filters):
        """Log-stats FILE SKIPPING through the native surface: harvest
        single-column range constraints and prune the file list in
        partitions(). Every filter is RETURNED (Spark re-evaluates them
        row-level), so the skip is an optimization, never the filter —
        the same contract as MiniLogTable.read(prune=...). Filters on
        columns without log stats simply prune nothing."""
        for flt in filters:
            attr = getattr(flt, "attribute", None)
            if not attr or len(attr) != 1:  # nested paths: not ours
                continue
            col = attr[0]
            lo, hi = self._ranges.get(col, (None, None))
            if isinstance(flt, EqualTo):
                lo = flt.value if lo is None else max(lo, flt.value)
                hi = flt.value if hi is None else min(hi, flt.value)
            elif isinstance(flt, (GreaterThan, GreaterThanOrEqual)):
                # stats skipping is conservative: treat > as >=
                lo = flt.value if lo is None else max(lo, flt.value)
            elif isinstance(flt, (LessThan, LessThanOrEqual)):
                hi = flt.value if hi is None else min(hi, flt.value)
            else:
                continue
            self._ranges[col] = (lo, hi)
        return filters  # Spark applies all of them row-level


def _off_key(off: dict) -> tuple:
    """Total order over stream offsets: (version, file-index), with a
    FULLY-consumed version ({"version": v}, no "file") ordering after
    any mid-version position of v."""
    return (off["version"], off.get("file", float("inf")))


def _guard_forward(start: dict, end: dict) -> None:
    """Refuse a BACKWARD-ordered batch range. ``start`` is the engine's
    checkpointed frontier; the caller _note()s it before this check, so
    even if a future engine revision calls latestOffset() before the
    restart replan (today's 4.1 provably calls partitions(ckpt_start,
    ckpt_end) first — probed, see _MiniLogStreamReader._frontier), the
    admission walk can never silently rewind behind the checkpoint and
    replay already-delivered rows (ADVICE r11; canary test:
    tests/test_ratelimit.py::test_restart_resumes_capped_exactly_once)."""
    if _off_key(end) < _off_key(start):
        raise RuntimeError(
            "minilog stream: engine planned a BACKWARD batch range "
            f"(start={start}, end={end}) — committing it would rewind "
            "the checkpoint offset and replay already-delivered rows. "
            "This indicates a Spark engine-behavior change around "
            "restart replanning; re-probe the admission-control "
            "contract in sources/minilog_source.py."
        )


def _pos_int_opt(options: dict, key: str) -> Optional[int]:
    raw = options.get(key)
    if raw is None:
        return None
    try:
        v = int(raw)
    except (TypeError, ValueError):
        raise ValueError(
            f"minilog: option {key} must be a positive integer, "
            f"got {raw!r}"
        )
    if v <= 0:
        raise ValueError(
            f"minilog: option {key} must be a positive integer, "
            f"got {raw!r}"
        )
    return v


class _MiniLogStreamReader(DataSourceStreamReader):
    """Commit-log tailing: offsets are log versions (Delta's design).

    r11 adds ADMISSION CONTROL — ``maxFilesPerTrigger`` /
    ``maxBytesPerTrigger`` — with a (version, file-index) composite
    offset, so one oversized commit or the snapshot bootstrap batch
    spans several micro-batches exactly-once instead of arriving as a
    single unbounded batch (the one remaining scale-killer VERDICT r10
    named for a stream starting on a 100 TB table)."""

    def __init__(self, path: str, options: dict) -> None:
        self._path = path
        self._ignore_changes = (
            str(options.get("ignorechanges", "false")).lower() == "true"
        )
        # Delta's streaming-source contract: a RESUMED offset that fell
        # inside a vacuumed window is DATA LOSS and fails loudly unless
        # the consumer explicitly opted into at-least-once via
        # failOnDataLoss=false (ADVICE r8 medium — silently re-emitting
        # the whole retained snapshot would corrupt downstream
        # aggregates with no signal)
        self._fail_on_data_loss = (
            str(options.get("failondataloss", "true")).lower() != "false"
        )
        #: ROW TRACKING on the tail (r9): emit each row's stable id —
        #: a keyed downstream consumer (SCD state, incremental join)
        #: links rows across batches without guessing by business key
        self._with_row_ids = _with_row_ids(options)
        #: startingTimestamp (r10): tail from the first commit whose
        #: in-commit timestamp is at-or-after this (int epoch-µs or
        #: ISO string) — Delta's startingTimestamp contract. Commits
        #: before it are intentionally SKIPPED (no snapshot bootstrap,
        #: no data-loss alarm: the consumer asked to start there).
        st = options.get("startingtimestamp")
        if st is not None:
            try:
                st = int(st)
            except (TypeError, ValueError):
                pass
        self._starting_ts = st
        # ---- admission control (VERDICT r10 task 2): Delta's
        # maxFilesPerTrigger/maxBytesPerTrigger. latestOffset advances
        # at most this many files/bytes past the last KNOWN frontier,
        # carrying a (version, file-index) composite offset so a large
        # commit — or the snapshot bootstrap batch — spans several
        # micro-batches exactly-once. Without it, a stream starting on
        # (or falling behind) a 100 TB table gets one unbounded batch.
        self._max_files = _pos_int_opt(options, "maxfilespertrigger")
        self._max_bytes = _pos_int_opt(options, "maxbytespertrigger")
        #: Farthest offset this reader has SEEN — returned by a prior
        #: latestOffset, planned by partitions(), or committed. The
        #: Python API's latestOffset() takes no start argument, so the
        #: capped walk starts here. Restart-safe empirically (probed on
        #: 4.1): a restarted query calls partitions(checkpoint_start,
        #: checkpoint_end) to replan/align BEFORE its first
        #: latestOffset, so the frontier is always learned first — and
        #: the engine does NOT guard against a source offset moving
        #: backward (probed too); _note()'s max() is what guarantees
        #: offset monotonicity here.
        self._frontier: Optional[dict] = None

    def _note(self, off: dict) -> None:
        if self._frontier is None or _off_key(off) > _off_key(
            self._frontier
        ):
            self._frontier = off

    def initialOffset(self) -> dict:
        if self._starting_ts is not None:
            tbl = _handle(self._path)
            start = tbl.first_version_at_or_after(self._starting_ts)
            if start is None:
                # every retained commit is older: only future commits
                return {"version": tbl.version}
            return {"version": start - 1}
        return self._initial_offset_from_start()

    def _initial_offset_from_start(self) -> dict:
        # tail from the table's beginning: a bootstrap consumer sees
        # every commit exactly once. On a VACUUM-TRUNCATED log the
        # early entries are gone, so clamp to just before the oldest
        # retained version — partitions() then serves that version as a
        # SNAPSHOT bootstrap batch (everything live there) instead of
        # failing on a deleted log entry (ADVICE r7; Delta's streaming
        # source bootstraps from the earliest retained snapshot the
        # same way).
        versions = _handle(self._path)._versions()
        if versions and versions[0] > 0:
            # "bootstrap" marks that the FIRST batch must read the
            # SNAPSHOT at that version (commits before it are gone), not
            # just that version's add actions. The marker rides the
            # offset into the query checkpoint, so only the genuinely
            # first batch of this stream bootstraps — a long-running
            # stream that merely reaches this version through normal
            # tailing carries a plain offset and never re-emits.
            return {"version": versions[0] - 1, "bootstrap": versions[0]}
        return {"version": -1}

    # ---- shared (version, file-index) span enumeration. An OFFSET is
    # {"version": v}                     -> versions <= v fully consumed
    # {"version": v, "file": k, ...}     -> versions <= v-1 fully
    #     consumed + the first k files of v's pending list (a plain
    #     pre-r11 checkpoint offset is the first form — compatible).
    # A "bootstrap" marker rides in the offset while the earliest
    # retained snapshot is (still) being served file-by-file.

    def _boot_of(self, start: dict) -> Optional[int]:
        return start.get("bootstrap")

    def _effective_pos(
        self, tbl: "MiniLogTable", start: dict
    ) -> tuple[int, int, Optional[int]]:
        """Decode ``start`` into (next version, next file index, boot
        version to serve as snapshot), applying the vacuum-truncation
        contract: a resumed offset inside a vacuumed window fails
        loudly (Delta's failOnDataLoss) unless the consumer opted into
        at-least-once, which degrades to a snapshot bootstrap at the
        earliest retained version."""
        boot = self._boot_of(start)
        if "file" in start:
            v, k = start["version"], int(start["file"])
        else:
            v, k = start["version"] + 1, 0
        versions = tbl._versions()
        oldest = versions[0] if versions else 0
        if boot is not None and v <= boot:
            return boot, (k if v == boot else 0), boot
        if v < oldest:
            if self._fail_on_data_loss:
                raise RuntimeError(
                    f"minilog stream: offsets [{v}, {oldest}) were "
                    "vacuumed away since this checkpoint was recorded "
                    "— the missed commits are unrecoverable. Set "
                    "failOnDataLoss=false to restart from the earliest "
                    "retained snapshot (at-least-once: rows already "
                    "delivered will be re-emitted), or start a fresh "
                    "stream with a new checkpoint."
                )
            return oldest, 0, oldest
        return v, k, None

    def _version_files(
        self, tbl: "MiniLogTable", v: int, boot: Optional[int],
        strict: bool,
    ) -> list[tuple]:
        """Pending (file, dv, partition, base_row_id) of version ``v``
        in deterministic (log) order: the SNAPSHOT's live files when v
        is served as bootstrap, else the commit's add actions.
        ``strict`` arms the rewrite check (partitions must refuse to
        replay a rewrite as appends; the admission walk just counts)."""
        if boot is not None and v == boot:
            return [
                (f.file, f.dv, f.partition, f.base_row_id)
                for f in tbl.snapshot(v).files
            ]
        entry = tbl._read_entry(v)
        if strict and not self._ignore_changes and any(
            a["type"] == "remove" for a in entry["actions"]
        ):
            raise RuntimeError(
                f"minilog stream: commit {v} "
                f"({entry['operation']}) rewrites data files; "
                "streaming a rewrite as appends would duplicate "
                "rows. Set ignoreChanges=true to accept re-emitted "
                "files (Delta's contract), or start a fresh stream "
                "from the current snapshot."
            )
        return [
            (
                a["file"],
                a.get("dv"),
                a.get("partition"),
                a.get("base_row_id"),
            )
            for a in entry["actions"]
            if a["type"] == "add"
        ]

    @staticmethod
    def _encode(
        v: int, k: int, n: int, boot: Optional[int]
    ) -> dict:
        """Consumed through file k of version v (n files pending
        there) -> canonical offset."""
        if k >= n:
            off = {"version": v}
            if boot is not None and v < boot:
                off["bootstrap"] = boot
            return off
        if k <= 0:
            off = {"version": v - 1}
            if boot is not None and v <= boot:
                off["bootstrap"] = boot
            return off
        off = {"version": v, "file": k}
        if boot is not None and v <= boot:
            off["bootstrap"] = boot
        return off

    def latestOffset(self) -> dict:
        tbl = _handle(self._path)
        head = tbl.version
        if self._max_files is None and self._max_bytes is None:
            off = {"version": head}
            self._note(off)
            return off
        start = self._frontier
        if start is None:
            # first trigger of a FRESH query (a restart learns the
            # checkpoint frontier from partitions() first — see _note)
            start = self.initialOffset()
            self._note(start)
        v, k, boot = self._effective_pos(tbl, start)
        files_left = (
            self._max_files if self._max_files else float("inf")
        )
        bytes_left = (
            self._max_bytes if self._max_bytes else float("inf")
        )
        admitted = False
        off = None
        while v <= head:
            fl = self._version_files(tbl, v, boot, strict=False)
            n = len(fl)
            while k < n:
                size = (
                    os.path.getsize(os.path.join(self._path, fl[k][0]))
                    if self._max_bytes
                    else 0
                )
                # always admit >= 1 file per trigger (else a file
                # larger than maxBytesPerTrigger stalls the stream —
                # the caps are soft minimum-one, Delta's contract)
                if admitted and (files_left < 1 or bytes_left < size):
                    self._note(self._encode(v, k, n, boot))
                    return self._frontier
                files_left -= 1
                bytes_left -= size
                admitted = True
                k += 1
            off = self._encode(v, n, n, boot)
            if v == boot:
                boot = None  # bootstrap fully consumed
            v += 1
            k = 0
        if off is not None:
            self._note(off)
        return self._frontier

    def partitions(self, start: dict, end: dict):
        self._note(start)  # learn the checkpoint frontier even on replans
        _guard_forward(start, end)
        self._note(end)
        tbl = _handle(self._path)
        ev = end["version"]
        snap = tbl.snapshot(ev) if ev >= 0 else None
        schema = (
            tuple((c["name"], c["type"], _phys(c)) for c in snap.schema)
            if snap and snap.schema
            else None
        )
        rids = self._with_row_ids
        v, k, boot = self._effective_pos(tbl, start)
        # end position: (end_v, end_k) = first file NOT in this batch
        if "file" in end:
            end_v, end_k = ev, int(end["file"])
        else:
            end_v, end_k = ev + 1, 0
        parts: list[_FilePartition] = []
        while (v, k) < (end_v, end_k) and v <= tbl.version:
            if v == end_v and end_k == 0:
                break
            fl = self._version_files(tbl, v, boot, strict=True)
            hi = end_k if v == end_v else len(fl)
            for file, dv, pvals, base in fl[k:hi]:
                parts.append(
                    _FilePartition(
                        os.path.join(self._path, file),
                        schema,
                        os.path.join(self._path, dv) if dv else None,
                        pvals or None,
                        base,
                        rids,
                    )
                )
            if v == boot:
                boot = None
            v += 1
            k = 0
        return parts or [_FilePartition("", schema, with_row_ids=rids)]

    def read(self, partition: _FilePartition):
        if not partition.path:
            return iter(())
        return _read_file_arrow(partition)

    def commit(self, end: dict) -> None:
        # offsets are durable in the query's own checkpoint; noting the
        # committed end keeps the admission frontier exact
        self._note(end)

    def stop(self) -> None:
        pass


@dataclass
class _CDFPartition(InputPartition):
    """One commit's row-level change feed: the executor loads the files
    present only in the TO snapshot (added) and only in the FROM snapshot
    (removed) — entry identity (file, dv), exactly acid.changes() — and
    emits the multiset difference both ways as insert/delete rows."""

    version: int
    #: ((data path, dv path | None, pvals, base_row_id), ...) — entries
    #: only in snapshot(v)
    added: tuple
    #: entries only in snapshot(v-1)
    removed: tuple
    #: (name, ddl_type) pairs — the feed schema (required in CDF mode)
    schema: tuple
    #: r10: carry each row's stable id through the feed — the diff then
    #: keys on (values, id), so an update surfaces as delete+insert
    #: UNDER THE SAME ID (the streamed form of changes_with_ids)
    with_row_ids: bool = False


def _bag_subtract(a, b):
    """Multiset difference ``a ∖ b`` by whole-row identity. Row keys are
    ``repr`` of the Python tuple — deterministic, and NaN-stable (both
    sides render 'nan'), unlike float equality. Per-commit churn is
    bounded (O(changed files), never O(table)), so the Python loop is
    the honest cost here; a write-time CDC sidecar (Delta's _change_data
    files) is the zero-diff production extension."""
    if a.num_rows == 0 or b.num_rows == 0:
        return a
    from collections import Counter

    def keys(t):
        return [
            repr(row) for row in zip(*(c.to_pylist() for c in t.columns))
        ]

    import pyarrow as pa

    remaining = Counter(keys(b))
    take = []
    for i, k in enumerate(keys(a)):
        if remaining.get(k, 0) > 0:
            remaining[k] -= 1
        else:
            take.append(i)
    if len(take) == a.num_rows:
        return a
    # typed index array: a bare [] infers null type, which take() rejects
    return a.take(pa.array(take, type=pa.int64()))


def _read_cdf_version(part: _CDFPartition):
    """Executor-side: one commit -> insert/delete rows. Added and removed
    files are read DV-masked and projected to the feed schema (old files
    null-fill across schema evolution), then bag-differenced: rows a
    rewrite copied unchanged cancel; a DV delete surfaces exactly the
    newly masked rows as deletes; an OPTIMIZE (pure compaction) cancels
    to an empty feed."""
    import pyarrow as pa

    fields = [pa.field(n, _arrow_type(t)) for n, t, _ in part.schema]
    if part.with_row_ids:
        fields.append(pa.field("_row_id", pa.int64()))
    base = pa.schema(fields)

    def load(entries):
        tables = [
            pa.Table.from_batches(
                list(
                    _read_file_arrow(
                        _FilePartition(
                            p,
                            part.schema,
                            dv,
                            pvals,
                            base_row_id=brid,
                            with_row_ids=part.with_row_ids,
                        )
                    )
                ),
                schema=base,
            )
            for p, dv, pvals, brid in entries
        ]
        return pa.concat_tables(tables) if tables else base.empty_table()

    new_rows, old_rows = load(part.added), load(part.removed)
    inserts = _bag_subtract(new_rows, old_rows)
    deletes = _bag_subtract(old_rows, new_rows)
    out_schema = base.append(pa.field("_change_type", pa.string())).append(
        pa.field("_commit_version", pa.int64())
    )

    def tag(t, label):
        cols = t.columns + [
            pa.array([label] * t.num_rows, pa.string()),
            pa.array([part.version] * t.num_rows, pa.int64()),
        ]
        return pa.table(cols, schema=out_schema)

    yield from tag(inserts, "insert").to_batches(max_chunksize=8192)
    yield from tag(deletes, "delete").to_batches(max_chunksize=8192)


class _MiniLogCDFStreamReader(DataSourceStreamReader):
    """``spark.readStream.format("minilog").option("readChangeFeed",
    "true")``: micro-batches of ROW-LEVEL inserts/deletes per commit —
    including across DV-delete, MERGE, DELETE and OPTIMIZE commits where
    the plain tail correctly fails (replaying a rewrite as appends would
    duplicate rows). Offsets are log versions, like the tail reader; a
    batch (start, end] emits, for each version, the bag difference
    between consecutive snapshots' file sets (acid.changes() composed
    with the version offsets — VERDICT r7 task 1). The feed satisfies
    the tx_cdf_replay invariant as a stream: folding it reconstructs the
    table.

    Scale shape: each commit reads only its churned files — an
    incremental consumer of a 100 TB table pays O(churn) per trigger.
    """

    def __init__(self, path: str, options: dict) -> None:
        self._path = path
        snap = _handle(path).snapshot()
        if not snap.schema:
            raise ValueError(
                "readChangeFeed: the table has no log-tracked schema "
                "(empty or pre-schema-tracking table) — the feed schema "
                "must be pinned at stream start"
            )
        #: pinned at stream start: every batch projects to THIS schema,
        #: so Spark sees one stable source schema for the stream's life
        #: (a feed spanning a later evolution presents old rows
        #: null-filled — the acid.changes() contract)
        self._schema = tuple((c["name"], c["type"], _phys(c)) for c in snap.schema)
        self._rids = _with_row_ids(options)
        st = options.get("startingtimestamp")
        if st is not None:
            try:
                st = int(st)
            except (TypeError, ValueError):
                pass
        self._starting_ts = st
        # admission control (r11): COMMIT-granularity caps — one
        # commit's row-level diff is atomic (the bag difference needs
        # both whole file sets, splitting it would emit wrong deltas),
        # so the caps bound how many COMMITS (measured in churned
        # files/bytes) one trigger admits, minimum one. The snapshot
        # BOOTSTRAP batch is the exception: it is pure per-file
        # inserts, so it splits file-by-file under the same caps via
        # the (version, file-index) composite offset.
        self._max_files = _pos_int_opt(options, "maxfilespertrigger")
        self._max_bytes = _pos_int_opt(options, "maxbytespertrigger")
        self._frontier: Optional[dict] = None

    def _note(self, off: dict) -> None:
        if self._frontier is None or _off_key(off) > _off_key(
            self._frontier
        ):
            self._frontier = off

    def initialOffset(self) -> dict:
        tbl = _handle(self._path)
        if self._starting_ts is not None:
            # startingTimestamp (r10): feed changes from the first
            # commit at-or-after the timestamp; earlier commits are
            # intentionally skipped (no snapshot bootstrap)
            start = tbl.first_version_at_or_after(self._starting_ts)
            if start is None:
                return {"version": tbl.version}
            return {"version": start - 1}
        versions = tbl._versions()
        if versions and versions[0] > 0:
            # vacuum-truncated log: the first batch is changes(-1, oldest)
            # = every row live at the earliest retained snapshot, as
            # inserts (see partitions)
            return {"version": versions[0] - 1, "bootstrap": versions[0]}
        return {"version": -1}

    def _commit_weight(self, tbl, v: int) -> tuple[int, int]:
        """(files, bytes) churned by commit v — the admission cost of
        its diff. Entry actions, not a snapshot diff: O(entry), and
        both sides (adds AND removes) are read by the diff."""
        entry = tbl._read_entry(v)
        files = [
            a["file"]
            for a in entry["actions"]
            if a["type"] in ("add", "remove")
        ]
        size = (
            sum(
                os.path.getsize(os.path.join(self._path, f))
                for f in files
                if os.path.exists(os.path.join(self._path, f))
            )
            if self._max_bytes
            else 0
        )
        return len(files), size

    def latestOffset(self) -> dict:
        tbl = _handle(self._path)
        head = tbl.version
        if self._max_files is None and self._max_bytes is None:
            off = {"version": head}
            self._note(off)
            return off
        start = self._frontier
        if start is None:
            start = self.initialOffset()
            self._note(start)
        boot = start.get("bootstrap")
        if "file" in start:
            v, k = start["version"], int(start["file"])
        else:
            v, k = start["version"] + 1, 0
        files_left = (
            self._max_files if self._max_files else float("inf")
        )
        bytes_left = (
            self._max_bytes if self._max_bytes else float("inf")
        )
        admitted = False
        off = None
        while v <= head:
            if boot is not None and v == boot:
                fl = tbl.snapshot(v).files
                n = len(fl)
                while k < n:
                    size = (
                        os.path.getsize(
                            os.path.join(self._path, fl[k].file)
                        )
                        if self._max_bytes
                        else 0
                    )
                    if admitted and (
                        files_left < 1 or bytes_left < size
                    ):
                        self._note(
                            {"version": v, "file": k, "bootstrap": v}
                            if k > 0
                            else {"version": v - 1, "bootstrap": v}
                        )
                        return self._frontier
                    files_left -= 1
                    bytes_left -= size
                    admitted = True
                    k += 1
                off = {"version": v}
                boot = None
            else:
                nf, nb = self._commit_weight(tbl, v)
                if admitted and (files_left < nf or bytes_left < nb):
                    break
                files_left -= nf
                bytes_left -= nb
                admitted = admitted or nf > 0
                off = {"version": v}
            v += 1
            k = 0
        if off is not None:
            self._note(off)
        return self._frontier

    def partitions(self, start: dict, end: dict):
        self._note(start)  # learn the checkpoint frontier even on replans
        _guard_forward(start, end)
        self._note(end)
        tbl = _handle(self._path)
        versions = tbl._versions()
        oldest = versions[0] if versions else 0
        parts: list[_CDFPartition] = []
        boot = start.get("bootstrap")
        if "file" in start:
            first, sk = start["version"], int(start["file"])
        else:
            first, sk = start["version"] + 1, 0
        end_v = end["version"]
        end_k = int(end["file"]) if "file" in end else None

        def entry_paths(files):
            return tuple(
                (
                    os.path.join(self._path, f.file),
                    os.path.join(self._path, f.dv) if f.dv else None,
                    f.partition or None,
                    f.base_row_id,
                )
                for f in files
            )

        if boot is not None and first <= boot <= end_v:
            # fresh stream on a truncated table: snapshot(boot) as the
            # changes(-1, boot) bootstrap feed (all inserts) — sliced
            # by the composite offsets when a cap splits it
            fl = tbl.snapshot(boot).files
            lo = sk if first == boot else 0
            hi = end_k if (boot == end_v and end_k is not None) else len(fl)
            if hi > lo:
                parts.append(
                    _CDFPartition(
                        boot,
                        entry_paths(fl[lo:hi]),
                        (),
                        self._schema,
                        with_row_ids=self._rids,
                    )
                )
            first = boot + 1
        elif first < oldest:
            # a resumed stream whose offset fell inside a vacuumed
            # window: the per-commit deltas are unrecoverable, and
            # re-emitting a snapshot would DUPLICATE deltas the consumer
            # already applied — fail loudly (Delta's failOnDataLoss)
            raise RuntimeError(
                f"readChangeFeed: commits {first}..{oldest - 1} were "
                "vacuumed away; the row-level deltas are unrecoverable. "
                "Restart the stream from a fresh checkpoint (it will "
                "bootstrap from the earliest retained snapshot)."
            )
        # set-membership, not list scan: the per-version loop below
        # otherwise re-walks the whole version list each iteration —
        # quadratic planning cost on a long un-vacuumed log (ADVICE r10)
        vset = set(versions)
        for v in range(first, end["version"] + 1):
            snap_a = (
                tbl.snapshot(v - 1)
                if v - 1 in vset
                else None
            )
            added, removed = _entry_diff(
                snap_a.files if snap_a else [], tbl.snapshot(v).files
            )
            if added or removed:
                parts.append(
                    _CDFPartition(
                        v,
                        entry_paths(added),
                        entry_paths(removed),
                        self._schema,
                        with_row_ids=self._rids,
                    )
                )
        return parts or [
            _CDFPartition(-1, (), (), self._schema, self._rids)
        ]

    def read(self, partition: _CDFPartition):
        if partition.version < 0:  # empty batch: schema-only
            return iter(())
        return _read_cdf_version(partition)

    def commit(self, end: dict) -> None:
        # durable in the query's checkpoint; keeps the admission
        # frontier exact across triggers
        self._note(end)

    def stop(self) -> None:
        pass


def _local_path(p: str) -> str:
    """Normalize the catalog's path form to a plain filesystem path.

    ``spark.read.format("minilog").load(path)`` hands the option
    through verbatim, but a CATALOG table (``CREATE TABLE ... USING
    minilog``) stores its location as a Hadoop URI and the analyzer
    passes ``file:/abs/path`` (observed empirically on 4.1: options
    arrive as {path: 'file:/...', location: 'file:/...', provider:
    'minilog'}). acid.py's log fold is plain-``os`` based, so strip
    the scheme (and percent-encoding) here — and reject non-local
    schemes loudly: this engine's commit log relies on same-directory
    ``os.link`` atomicity, which only the local filesystem provides."""
    if "://" not in p and not p.startswith("file:"):
        return p
    from urllib.parse import unquote, urlparse

    u = urlparse(p)
    if u.scheme and u.scheme != "file":
        raise ValueError(
            f"minilog: unsupported filesystem scheme {u.scheme!r} "
            "(the commit log needs local-posix atomic link/rename; "
            "mount remote storage locally instead)"
        )
    # file:/x, file:///x and file://host/x all carry the path here
    return unquote(u.path) or p


def _handle(path: str, create: bool = False) -> MiniLogTable:
    """Log-fold-only handle (no SparkSession needed on this side).
    Read paths keep ``create=False`` so a typo'd path raises
    ``FileNotFoundError`` instead of silently creating directories;
    only the writer paths pass ``create=True`` (ADVICE r7)."""
    return MiniLogTable.fold_only(path, create=create)


@dataclass
class _MiniLogCommitMessage(WriterCommitMessage):
    #: add actions (file + rows + stats) for the files this task wrote
    actions: list


# -------------------------------------------------- xxhash64 port (r10)
# The bloom contract requires probe hashes to be BITWISE the hashes the
# write path folded in — and the DSv2 commit/write workers have no
# SparkSession to ask Spark for them. This is a pinned pure-Python/
# numpy port of Spark's XxHash64 (catalyst XXH64.java, itself a
# faithful XXH64: public algorithm, public constants), covering the
# legs the writer blooms — int32/date (hashInt), int64/timestamp
# (hashLong), string/binary (hashUnsafeBytes) — chained exactly like
# the `F.xxhash64(col, lit(seed))` call the Python path uses: fold
# seed 42 through the column value, then through the int literal.
# tests/test_acid.py pins BIT-EQUALITY against F.xxhash64 across all
# BLOOM_K seeds and hostile values; any engine-upgrade divergence
# fails there, never as a wrong skip.
_XXP1 = 0x9E3779B185EBCA87
_XXP2 = 0xC2B2AE3D27D4EB4F
_XXP3 = 0x165667B19E3779F9
_XXP4 = 0x85EBCA77C2B2AE63
_XXP5 = 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1


def _xx_rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _xx_fmix(h: int) -> int:
    h ^= h >> 33
    h = (h * _XXP2) & _M64
    h ^= h >> 29
    h = (h * _XXP3) & _M64
    h ^= h >> 32
    return h


def _xx_long(v: int, seed: int) -> int:
    v &= _M64
    h = (seed + _XXP5 + 8) & _M64
    h ^= (_xx_rotl((v * _XXP2) & _M64, 31) * _XXP1) & _M64
    h = (_xx_rotl(h, 27) * _XXP1 + _XXP4) & _M64
    return _xx_fmix(h)


def _xx_int(v: int, seed: int) -> int:
    h = (seed + _XXP5 + 4) & _M64
    h ^= ((v & 0xFFFFFFFF) * _XXP1) & _M64
    h = (_xx_rotl(h, 23) * _XXP2 + _XXP3) & _M64
    return _xx_fmix(h)


def _xx_bytes(b: bytes, seed: int) -> int:
    n = len(b)
    off = 0
    if n >= 32:
        v1 = (seed + _XXP1 + _XXP2) & _M64
        v2 = (seed + _XXP2) & _M64
        v3 = seed & _M64
        v4 = (seed - _XXP1) & _M64
        while off <= n - 32:
            for i, v in enumerate((v1, v2, v3, v4)):
                k = int.from_bytes(b[off + 8 * i:off + 8 * i + 8], "little")
                v = (_xx_rotl((v + k * _XXP2) & _M64, 31) * _XXP1) & _M64
                if i == 0:
                    v1 = v
                elif i == 1:
                    v2 = v
                elif i == 2:
                    v3 = v
                else:
                    v4 = v
            off += 32
        h = (
            _xx_rotl(v1, 1) + _xx_rotl(v2, 7)
            + _xx_rotl(v3, 12) + _xx_rotl(v4, 18)
        ) & _M64
        for v in (v1, v2, v3, v4):
            v = (_xx_rotl((v * _XXP2) & _M64, 31) * _XXP1) & _M64
            h = ((h ^ v) * _XXP1 + _XXP4) & _M64
    else:
        h = (seed + _XXP5) & _M64
    h = (h + n) & _M64
    while off + 8 <= n:
        k = int.from_bytes(b[off:off + 8], "little")
        h ^= (_xx_rotl((k * _XXP2) & _M64, 31) * _XXP1) & _M64
        h = (_xx_rotl(h, 27) * _XXP1 + _XXP4) & _M64
        off += 8
    if off + 4 <= n:
        h ^= (int.from_bytes(b[off:off + 4], "little") * _XXP1) & _M64
        h = (_xx_rotl(h, 23) * _XXP2 + _XXP3) & _M64
        off += 4
    while off < n:
        h ^= (b[off] * _XXP5) & _M64
        h = (_xx_rotl(h, 11) * _XXP1) & _M64
        off += 1
    return _xx_fmix(h)


def spark_xxhash64_compat(value, spark_kind: str, seed: int) -> int:
    """``F.xxhash64(col, F.lit(seed))`` replayed in Python: Spark folds
    the default seed 42 through each child in order — the column value
    (hashed per its type), then the INT literal (hashInt). Returns the
    SIGNED 64-bit result, matching what Spark collects.
    ``spark_kind``: 'int' (byte/short/int/date), 'long'
    (long/timestamp), or 'bytes' (string utf-8 / binary)."""
    h = 42
    if spark_kind == "int":
        h = _xx_int(int(value), h)
    elif spark_kind == "long":
        h = _xx_long(int(value), h)
    elif spark_kind == "bytes":
        h = _xx_bytes(value, h)
    else:  # pragma: no cover - callers gate on supported kinds
        raise TypeError(f"unsupported xxhash64 kind {spark_kind!r}")
    h = _xx_int(seed, h)
    return h - (1 << 64) if h >= (1 << 63) else h


#: Arrow column type -> (spark hash kind, value adapter). Only types
#: whose Spark hash layout is pinned by the bit-equality test may
#: receive a native bloom; anything else gets NO bloom (missing index
#: = no skip, never a wrong skip).
def _arrow_bloom_kind(typ):
    import pyarrow as pa

    if pa.types.is_int8(typ) or pa.types.is_int16(typ) or pa.types.is_int32(typ):
        return "int", int
    if pa.types.is_date32(typ):
        return "int", lambda v: (
            v if isinstance(v, int) else (v - _EPOCH_DATE).days
        )
    if pa.types.is_int64(typ):
        return "long", int
    if pa.types.is_timestamp(typ) and typ.unit == "us":
        return "long", int
    if pa.types.is_string(typ) or pa.types.is_large_string(typ):
        return "bytes", lambda v: v.encode("utf-8")
    if pa.types.is_binary(typ) or pa.types.is_large_binary(typ):
        return "bytes", bytes
    return None


_EPOCH_DATE = __import__("datetime").date(1970, 1, 1)


def _arrow_bloom_bits(column) -> "Optional[tuple]":
    """(m, bitmap bytes) for one Arrow column, or None when the type
    is outside the pinned hash surface. Mirrors acid._bloom_build_
    pandas sizing: <= BLOOM_SIDECAR_NDV distinct keys -> the in-log
    BLOOM_BITS bitmap, past that ~BLOOM_BITS_PER_KEY bits/key rounded
    to a power of two. Hashes only DISTINCT values (the bitmap is
    set-shaped anyway), so cost is O(ndv), not O(rows)."""
    import numpy as np

    from ..acid import (
        BLOOM_BITS,
        BLOOM_BITS_PER_KEY,
        BLOOM_K,
        BLOOM_SIDECAR_NDV,
    )

    kind = _arrow_bloom_kind(column.type)
    if kind is None:
        return None
    spark_kind, adapt = kind
    # arrow ints/timestamps: pull raw representation where cheap
    col = column.drop_null()
    if len(col) == 0:
        return None
    import pyarrow as pa
    import pyarrow.compute as pc

    if spark_kind in ("int", "long") and not pa.types.is_date32(
        column.type
    ):
        vals = pc.unique(col).cast(pa.int64()).to_pylist()
    elif pa.types.is_date32(column.type):
        vals = pc.unique(col.cast(pa.int32())).to_pylist()
    else:
        vals = [adapt(v) for v in pc.unique(col).to_pylist()]
    ndv = len(vals)
    if ndv <= BLOOM_SIDECAR_NDV:
        m = BLOOM_BITS
    else:
        m = 1 << int(np.ceil(np.log2(ndv * BLOOM_BITS_PER_KEY)))
    bits = np.zeros(m // 8, dtype=np.uint8)
    if spark_kind == "bytes":
        hs = [
            [spark_xxhash64_compat(v, "bytes", s) for v in vals]
            for s in range(BLOOM_K)
        ]
    else:
        hs = [
            [spark_xxhash64_compat(v, spark_kind, s) for v in vals]
            for s in range(BLOOM_K)
        ]
    for s in range(BLOOM_K):
        p = np.unique(np.array(hs[s], dtype=np.int64) % m)
        np.bitwise_or.at(bits, p >> 3, (1 << (p & 7)).astype(np.uint8))
    return int(m), bits.tobytes()


#: the exact character set Spark's escapePathName escapes (catalyst
#: ExternalCatalogUtils, cloned from Hive FileUtils): ASCII control
#: chars, the hive/path metacharacters, and DEL. Everything ELSE —
#: including non-ASCII — is written literally, because Spark's
#: unescapePathName decodes each %xx pair as ONE character: quoting
#: 'é' as UTF-8 byte pairs ('%C3%A9') would read back as 'Ã©' and
#: disagree with the add-action partition metadata (ADVICE r9 medium).
_HIVE_ESCAPE = frozenset(
    [chr(c) for c in range(0x01, 0x20)]
    + ['"', "#", "%", "'", "*", "/", ":", "=", "?", "\\", "\x7f",
       "{", "[", "]", "^"]
)


def _hive_dir(col: str, val) -> str:
    """One ``col=value`` path segment, hive-escaped the way Spark's own
    partitionBy writes it (so the Python path's basePath partition
    discovery reads both layouts identically): each character of
    Spark's escape set becomes ``%XX`` (uppercase hex of its code
    point), all other characters — non-ASCII included — stay literal,
    matching escapePathName/unescapePathName byte for byte."""
    if val is None:
        return f"{col}=__HIVE_DEFAULT_PARTITION__"
    escaped = "".join(
        f"%{ord(ch):02X}" if ch in _HIVE_ESCAPE else ch
        for ch in str(val)
    )
    return f"{col}={escaped}"


def _land_arrow_file(
    path: str, table, stats_cols: tuple, mapping: dict, subdir: str = "",
    partition: Optional[dict] = None,
):
    """Write one Arrow table as one immutable UUID-named parquet file
    (optionally under a ``col=value/`` partition subdir) and return its
    add action with per-file min/max/null stats."""
    import uuid as _uuid

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    name = os.path.join(subdir, f"{_uuid.uuid4().hex}.parquet")
    if subdir:
        os.makedirs(os.path.join(path, subdir), exist_ok=True)
    pq.write_table(table, os.path.join(path, name))
    stats = {}
    for c in stats_cols:
        p = mapping.get(c, c)
        if p in table.column_names:
            col = table.column(p)
            nulls = col.null_count
            has_values = table.num_rows > nulls
            stats[p] = {
                "min": _json_safe(pc.min(col).as_py()) if has_values else None,
                "max": _json_safe(pc.max(col).as_py()) if has_values else None,
                "nulls": nulls,
            }
    action = {
        "type": "add",
        "file": name,
        "rows": table.num_rows,
        "stats": stats,
    }
    if partition is not None:
        action["partition"] = partition
    return action


def _attach_arrow_blooms(table, bloom_cols, action, side_rows) -> None:
    """Task-side bloom stats for ONE landed file (r10, closing the r9
    gap where natively-written tables point-skipped only after a
    ``build_bloom_index()`` backfill): same dict shapes the Python
    path's ``build_bloom_stats`` commits — in-log ``hex`` at the fixed
    BLOOM_BITS size, ``sidecar`` reference past BLOOM_SIDECAR_NDV (the
    oversized bitmaps accumulate in ``side_rows`` and the task writes
    ONE sidecar parquet for all of them). Columns outside the pinned
    hash surface get NO bloom: missing index = no skip, never a wrong
    skip."""
    from ..acid import BLOOM_BITS, BLOOM_K

    for p in bloom_cols:
        if p not in table.column_names:
            continue
        got = _arrow_bloom_bits(table.column(p))
        if got is None:
            continue
        m, bits = got
        if m == BLOOM_BITS:
            action["stats"].setdefault(p, {})["bloom"] = {
                "k": BLOOM_K,
                "m": m,
                "hex": bits.hex(),
            }
        else:
            side_rows.append((action["file"], p, m, bits))


def _write_task_file(
    path: str,
    stats_cols: tuple,
    iterator,
    mapping: Optional[dict] = None,
    checks: Optional[tuple] = None,
    partition_cols: tuple = (),
    bloom_cols: tuple = (),
):
    """Executor-side write task: land this partition's Arrow batches as
    immutable parquet files under fresh UUID names and return their
    add actions with per-file min/max/null stats — the same stats the
    Python write path collects, computed here directly from the Arrow
    table (no Spark job needed). ``mapping`` (logical -> physical,
    captured driver-side at writer construction) renames the columns to
    their physical parquet names and keys the stats by physical — the
    native-writer leg of column mapping. ``checks`` = (constraints,
    generated) captured at writer construction: validated on the Arrow
    table BEFORE the file lands (logical names, so before the rename) —
    a violating task fails the job and abort() reclaims every landed
    file, so the log never references a violating row.

    ``partition_cols`` (LOGICAL names) switches to the hive layout: the
    task splits its batch by distinct partition tuples, drops the
    columns\' bytes, and lands one file per value under ``col=value/``
    — the task-side equivalent of ``write.partitionBy`` (r9), with the
    values recorded in each add action for directory-level pruning."""
    import pyarrow as pa
    import pyarrow.compute as pc

    batches = [b for b in iterator if b.num_rows]
    if not batches:
        return _MiniLogCommitMessage(actions=[])
    table = pa.Table.from_batches(batches)
    if checks is not None:
        _validate_arrow_batch(table, checks[0], checks[1])
    if mapping:
        table = table.rename_columns(
            [mapping.get(c, c) for c in table.column_names]
        )
    mapping = mapping or {}
    side_rows: list[tuple] = []  # (rel_file, col, m, bits) — oversized
    if not partition_cols:
        action = _land_arrow_file(path, table, stats_cols, mapping)
        _attach_arrow_blooms(table, bloom_cols, action, side_rows)
        actions = [action]
    else:
        pcols = [mapping.get(c, c) for c in partition_cols]
        combos = (
            table.select(pcols)
            .group_by(pcols)
            .aggregate([])
            .to_pylist()
        )
        combos.sort(key=lambda c: tuple(str(c[p]) for p in pcols))
        actions = []
        for combo in combos:
            m = None
            for p in pcols:
                v = combo[p]
                cond = (
                    pc.is_null(table.column(p))
                    if v is None
                    else pc.equal(table.column(p), v)
                )
                m = cond if m is None else pc.and_(m, cond)
            sub = table.filter(m).drop_columns(pcols)
            subdir = os.path.join(*[_hive_dir(p, combo[p]) for p in pcols])
            action = _land_arrow_file(
                path,
                sub,
                stats_cols,
                mapping,
                subdir=subdir,
                partition={p: _json_safe(combo[p]) for p in pcols},
            )
            # partition columns' bytes live in directory names (dropped
            # from sub), so a bloom request naming one is a natural
            # no-op here — directory pruning already beats it
            _attach_arrow_blooms(sub, bloom_cols, action, side_rows)
            actions.append(action)
    if side_rows:
        # one sidecar parquet per TASK for all its oversized bitmaps —
        # written before the driver commit references it, so a failed
        # job leaves it unreferenced for vacuum (the build_bloom_stats
        # contract, shared byte-layout)
        import uuid as _uuid

        import pyarrow.parquet as pq

        from ..acid import BLOOM_DIR, BLOOM_K

        side_name = os.path.join(BLOOM_DIR, f"{_uuid.uuid4().hex}.parquet")
        os.makedirs(os.path.join(path, BLOOM_DIR), exist_ok=True)
        pq.write_table(
            pa.table(
                {
                    "file": [r[0] for r in side_rows],
                    "col": [r[1] for r in side_rows],
                    "m": [r[2] for r in side_rows],
                    "bits": [r[3] for r in side_rows],
                }
            ),
            os.path.join(path, side_name),
        )
        by_file = {a["file"]: a for a in actions}
        for f, c, m, _bits in side_rows:
            by_file[f]["stats"].setdefault(c, {})["bloom"] = {
                "k": BLOOM_K,
                "m": m,
                "sidecar": side_name,
            }
    return _MiniLogCommitMessage(actions=actions)


def _abort_task_files(path: str, messages) -> None:
    seen_sidecars: set = set()
    for m in messages:
        for a in getattr(m, "actions", None) or []:
            try:
                os.unlink(os.path.join(path, a["file"]))
            except FileNotFoundError:
                pass
            for st in (a.get("stats") or {}).values():
                side = (st.get("bloom") or {}).get("sidecar")
                if side and side not in seen_sidecars:
                    seen_sidecars.add(side)
                    try:
                        os.unlink(os.path.join(path, side))
                    except FileNotFoundError:
                        pass


def _validate_arrow_batch(
    table, constraints: dict, gen_checks: dict
) -> None:
    """Task-side invariant enforcement for the NATIVE write path
    (ADVICE r8 high): every CHECK constraint and every provided
    generated column is validated on the task's Arrow table BEFORE its
    file lands, with DuckDB as the expression engine (executor Python
    workers have no SparkSession; DuckDB evaluates the same ANSI
    predicate on the Arrow batch zero-copy). Violation semantics match
    acid._validate_constraints exactly: a row violates a CHECK when the
    predicate is not TRUE (NULL violates), and a provided generated
    column must be null-safely equal to its expression on every row.
    Runs on LOGICAL column names (before the physical rename).

    SUPPORTED EXPRESSION SUBSET (ADVICE r9 low): DuckDB standing in
    for Spark is sound only where the two engines' ANSI semantics
    coincide, so constraint/generated expressions on natively-written
    tables must stay inside the subset both evaluate identically —
    comparisons (=, <, >, <=, >=, <>, IS [NOT] NULL, BETWEEN, IN),
    boolean connectives with three-valued logic, +,-,* on
    integers/decimals, string concatenation via ``concat``/``||``,
    ``length``, ``upper``/``lower``, ``substring``, ``coalesce``,
    ``abs``, and CASE WHEN. tests/test_acid.py's
    divergence-probe test pins agreement on this subset (plus the
    divergence-PRONE shapes: int `/` is FLOAT division in both
    engines; ``//``/``div`` and engine-specific casts are OUTSIDE the
    subset). Expressions outside the subset belong on the Python
    write path (MiniLogTable.append), whose validation IS Spark."""
    if not (constraints or gen_checks):
        return
    import duckdb

    con = duckdb.connect()
    try:
        con.register("__w", table)
        for name, expr in sorted(constraints.items()):
            bad = con.execute(
                f"SELECT count(*) FROM __w "
                f"WHERE ({expr}) IS DISTINCT FROM TRUE"
            ).fetchone()[0]
            if bad:
                raise ConstraintViolation(
                    f"CHECK constraint violated by {name} "
                    f"({bad} rows): {expr} [native write path]"
                )
        for name, expr in sorted(gen_checks.items()):
            bad = con.execute(
                f'SELECT count(*) FROM __w WHERE NOT ("{name}" '
                f"IS NOT DISTINCT FROM ({expr}))"
            ).fetchone()[0]
            if bad:
                raise ConstraintViolation(
                    "generated column values disagree with their "
                    f"expression: {name} ({bad} rows): {expr} "
                    "[native write path]"
                )
    finally:
        con.close()


def _plan_native_partitioning(
    path: str, declared: tuple
) -> tuple[tuple, list]:
    """Driver-side: resolve the partition columns this native write
    must honor. The LOG is authoritative once declared (a mismatching
    partitionBy option refuses — partition columns are fixed at table
    creation, the Delta contract); on a fresh/empty table the option
    declares them via a one-time ``partitions`` action the first
    commit carries. Partitioned tables REQUIRE the hive write path:
    a flat native write would put the column's bytes back into files
    and collide with partition discovery on read."""
    tbl = _handle(path, create=True)
    logged: list = []
    has_files = False
    if tbl.version >= 0:
        snap = tbl.snapshot()
        logged = list(snap.partition_cols)
        has_files = bool(snap.files)
    if logged:
        if declared and list(declared) != logged:
            raise ValueError(
                f"minilog: table is partitioned by {logged}; "
                f"option('partitionBy') gave {list(declared)} — "
                "partition columns are fixed at table creation"
            )
        return tuple(logged), []
    if not declared:
        return (), []
    if has_files:
        raise ValueError(
            "minilog: cannot declare partitionBy on a table that "
            "already holds unpartitioned data — rewrite into a new "
            "partitioned table"
        )
    return tuple(declared), [
        {"type": "partitions", "cols": list(declared)}
    ]


def _plan_native_validation(
    path: str, schema: list
) -> tuple[dict, dict]:
    """Driver-side (writer construction): capture the table's CHECK
    constraints and generated-column expressions and PROVE this writer
    can enforce them per-task — or refuse the whole write up front
    (ADVICE r8 high: 'all writers enforce invariants, or reject').

    Refusals: (a) the incoming schema OMITS a declared generated column
    — the native writer cannot self-evolve the fixed plan schema to
    materialize it mid-flight, so the caller must provide the column
    (values are then validated per task) or use MiniLogTable.append;
    (b) a predicate DuckDB cannot bind against an empty batch of the
    incoming schema — enforcement would be impossible task-side, and a
    write that lands unvalidated rows is the one outcome the format's
    'valid at every version' invariant forbids."""
    tbl = _handle(path, create=True)
    if tbl.version < 0:
        return {}, {}
    snap = tbl.snapshot()
    constraints = dict(snap.constraints)
    generated = dict(snap.generated)
    if not (constraints or generated):
        return {}, {}
    names = [c["name"] for c in schema]
    missing = sorted(n for n in generated if n not in names)
    if missing:
        raise ConstraintViolation(
            f"native minilog write omits generated column(s) "
            f"{missing}: the native writer cannot materialize them "
            "mid-plan — include the column(s) in the DataFrame "
            "(values are validated against the expression) or write "
            "via MiniLogTable.append, which materializes them"
        )
    import duckdb
    import pyarrow as pa

    probe = pa.table(
        {
            c["name"]: pa.array([], type=_arrow_type(c["type"]))
            for c in schema
        }
    )
    con = duckdb.connect()
    try:
        con.register("__w", probe)
        probes = [
            (
                "CHECK constraint",
                name,
                expr,
                f"SELECT count(*) FROM __w WHERE ({expr}) "
                "IS DISTINCT FROM TRUE",
            )
            for name, expr in sorted(constraints.items())
        ] + [
            (
                "generated column",
                name,
                expr,
                f'SELECT count(*) FROM __w WHERE NOT ("{name}" '
                f"IS NOT DISTINCT FROM ({expr}))",
            )
            for name, expr in sorted(generated.items())
        ]
        for kind, name, expr, sql in probes:
            try:
                con.execute(sql).fetchone()
            except Exception as exc:
                raise ConstraintViolation(
                    f"native minilog writer cannot enforce "
                    f"{kind} {name}: {expr!r} does not bind "
                    f"against the incoming schema ({exc}) — "
                    "write via MiniLogTable.append (Spark-side "
                    "validation) instead"
                ) from exc
    finally:
        con.close()
    return constraints, generated


class _MiniLogArrowWriter(DataSourceArrowWriter):
    """df.write.format("minilog"): Spark's two-phase writer protocol
    mapped 1:1 onto the format's commit — tasks land immutable files
    (speculative duplicates are aborted files, never data), the DRIVER
    commit folds every task's add actions plus the schema action into
    ONE atomic log entry. A failed job aborts by deleting its files;
    the log never references them, so readers never saw anything."""

    def __init__(
        self,
        path: str,
        schema: list,
        stats_cols: tuple,
        overwrite: bool,
        merge_schema: bool,
        partition_by: tuple = (),
        bloom_by: tuple = (),
    ) -> None:
        self._path = path
        self._schema = schema
        self._stats_cols = stats_cols
        self._overwrite = overwrite
        self._merge_schema = merge_schema
        os.makedirs(path, exist_ok=True)
        self._pcols, self._pactions = _plan_native_partitioning(
            path, partition_by
        )
        # column mapping: capture logical->physical at construction
        # (driver-side); overwrite resets the schema, so its mapping is
        # identity. The fresh-column pre-assignment rides into commit's
        # schema_ctx so the metaData names what the tasks wrote.
        self._mapping, self._fresh = {}, {}
        if not overwrite:
            tbl = _handle(path, create=True)
            if tbl.version >= 0:
                snap = tbl.snapshot()
                self._mapping, self._fresh = plan_write_mapping(
                    schema, snap.schema, snap.retired
                )
        # invariant enforcement (ADVICE r8 high): capture constraints +
        # generated exprs now, prove task-side enforceability or refuse;
        # commit() pins these against the live snapshot so a concurrent
        # ADD CONSTRAINT can never slip unvalidated rows in. Overwrite
        # validates too — constraints/generated are latest-wins actions
        # that SURVIVE an overwrite (the Python path's semantics).
        self._constraints, self._generated = _plan_native_validation(
            path, schema
        )
        # a DECLARED generated column not yet in the log schema is
        # schema evolution the declaration already sanctioned — the
        # first write providing it must not demand mergeSchema
        if self._generated and not overwrite:
            snap_names = {
                c["name"]
                for c in (_handle(path).snapshot().schema or [])
            }
            if any(n not in snap_names for n in self._generated):
                self._merge_schema = True
        # bloom index at WRITE TIME (r10): physical names, computed
        # task-side on the Arrow batches via the pinned xxhash64 port
        self._bloom = tuple(self._mapping.get(c, c) for c in bloom_by)

    def write(self, iterator):
        return _write_task_file(
            self._path,
            self._stats_cols,
            iterator,
            self._mapping,
            checks=(self._constraints, self._generated),
            partition_cols=self._pcols,
            bloom_cols=self._bloom,
        )

    def commit(self, messages):
        tbl = _handle(self._path, create=True)
        actions = list(self._pactions)
        for m in messages:
            actions += getattr(m, "actions", None) or []
        if self._overwrite:
            # remove_all_live: _try_commit rebuilds the remove set from
            # the LIVE snapshot (base_dv pinned) on every retry, so the
            # native overwrite has the same conflict semantics as the
            # Python path — a concurrent append cannot survive the
            # overwrite and a concurrent DV swap cannot be silently
            # erased (ADVICE r7)
            actions = list(self._pactions) + [
                {"type": "metaData", "schema": self._schema}
            ] + [a for a in actions if a["type"] != "partitions"]
            tbl._try_commit(
                "overwrite",
                actions,
                remove_all_live=True,
                expect_constraints=self._constraints,
                expect_generated=self._generated,
            )
        else:
            # schema_ctx re-derives the metaData action from the live
            # snapshot inside the commit loop (concurrent evolve-append
            # race, ADVICE r7 medium); expect_constraints/generated pin
            # the invariant set the tasks validated against — churn
            # since construction fails the job (abort reclaims files)
            # instead of landing rows no writer checked (ADVICE r8)
            tbl._try_commit(
                "append",
                actions,
                schema_ctx=(self._schema, self._merge_schema, self._fresh),
                expect_constraints=self._constraints,
                expect_generated=self._generated,
            )

    def abort(self, messages):
        _abort_task_files(self._path, messages)


class _MiniLogStreamArrowWriter(DataSourceStreamArrowWriter):
    """df.writeStream.format("minilog"): the streaming sink leg with
    EXACTLY-ONCE via the format's txn markers — commit(messages,
    batchId) carries txn = (txnApp option, batchId), so a replayed
    micro-batch commits nothing and _try_commit's replay path deletes
    the replay's already-landed files (the orphan-cleanup contract,
    tests/test_acid.py). This is stream_minilog_sink's foreachBatch
    recipe promoted into the native writer protocol."""

    def __init__(
        self,
        path: str,
        schema: list,
        stats_cols: tuple,
        txn_app: str,
        partition_by: tuple = (),
        bloom_by: tuple = (),
    ) -> None:
        self._path = path
        self._schema = schema
        self._stats_cols = stats_cols
        self._txn_app = txn_app
        os.makedirs(path, exist_ok=True)
        self._pcols, self._pactions = _plan_native_partitioning(
            path, partition_by
        )
        self._mapping = {}
        tbl = _handle(path, create=True)
        if tbl.version >= 0:
            self._mapping, _ = plan_write_mapping(
                schema, tbl.snapshot().schema, tbl.snapshot().retired
            )
        # same invariant contract as the batch writer (ADVICE r8 high):
        # the stream sink validates per micro-batch task, or refuses at
        # start when it cannot enforce what the table declares
        self._constraints, self._generated = _plan_native_validation(
            path, schema
        )
        # declaration-sanctioned evolution (see the batch writer)
        self._evolve = False
        if self._generated and tbl.version >= 0:
            snap_names = {
                c["name"] for c in (tbl.snapshot().schema or [])
            }
            self._evolve = any(
                n not in snap_names for n in self._generated
            )
        self._bloom = tuple(self._mapping.get(c, c) for c in bloom_by)

    def write(self, iterator):
        return _write_task_file(
            self._path,
            self._stats_cols,
            iterator,
            self._mapping,
            checks=(self._constraints, self._generated),
            partition_cols=self._pcols,
            bloom_cols=self._bloom,
        )

    def commit(self, messages, batchId: int):
        tbl = _handle(self._path, create=True)
        actions = list(self._pactions)
        self._pactions = []  # declare once, not per micro-batch
        for m in messages:
            actions += getattr(m, "actions", None) or []
        tbl._try_commit(
            "append",
            actions,
            txn={"app": self._txn_app, "version": int(batchId)},
            schema_ctx=(self._schema, self._evolve),
            expect_constraints=self._constraints,
            expect_generated=self._generated,
        )

    def abort(self, messages, batchId: int):
        _abort_task_files(self._path, messages)


class MiniLogDataSource(DataSource):
    """``spark.read.format("minilog")`` / ``spark.readStream.format(...)``.

    Options: ``path`` (required), ``version`` (batch time travel),
    ``ignoreChanges`` (stream rewrites re-emitted instead of failing).
    """

    @classmethod
    def name(cls) -> str:
        return "minilog"

    def _path(self) -> str:
        p = self.options.get("path")
        if not p:
            raise ValueError("minilog: .load(path) or option('path') required")
        return _local_path(p)

    def _cdf(self) -> bool:
        return (
            str(self.options.get("readchangefeed", "false")).lower()
            == "true"
        )

    def schema(self) -> str:
        tbl = _handle(self._path())
        try:
            snap = tbl.snapshot(
                _resolve_version(self._path(), dict(self.options))
            )
        except NoSuchVersion:
            raise
        rids = _with_row_ids(self.options)
        if self._cdf():
            if not snap.schema:
                raise ValueError(
                    "readChangeFeed needs a log-tracked table schema"
                )
            # withRowIds composes (r10): the streamed feed carries each
            # row's stable id, so a keyed consumer (acid.apply_changes)
            # can fold updates as replace-under-id — the streaming twin
            # of MiniLogTable.changes_with_ids
            return (
                _ddl(snap.schema)
                + (", `_row_id` bigint" if rids else "")
                + ", `_change_type` string, `_commit_version` bigint"
            )
        if snap.schema:
            ddl = _ddl(snap.schema)
            return ddl + ", `_row_id` bigint" if rids else ddl
        if snap.files:  # pre-schema-tracking table: ask parquet
            import pyarrow as pa
            import pyarrow.parquet as pq
            from pyspark.sql.pandas.types import from_arrow_schema

            sch = pq.read_schema(
                os.path.join(self._path(), snap.files[0].file)
            )
            # the hidden materialized id column never leaks as data
            sch = pa.schema([f for f in sch if f.name != ROW_ID_COL])
            st = from_arrow_schema(sch)
            if rids:
                from pyspark.sql.types import LongType

                st = st.add("_row_id", LongType())
            return st
        raise NoSuchVersion("empty minilog table has no schema")

    def reader(self, schema) -> _MiniLogBatchReaderBase:
        if self._cdf():
            raise ValueError(
                "readChangeFeed is a STREAMING option "
                "(spark.readStream.format('minilog')); for batch CDF "
                "use MiniLogTable.changes(from_version, to_version)"
            )
        cls = (
            _MiniLogBatchReader
            if _pushdown_enabled()
            else _MiniLogBatchReaderBase
        )
        return cls(self._path(), dict(self.options))

    def streamReader(self, schema):
        opts = {k.lower(): v for k, v in dict(self.options).items()}
        if self._cdf():
            return _MiniLogCDFStreamReader(self._path(), opts)
        return _MiniLogStreamReader(self._path(), opts)

    @staticmethod
    def _schema_list(schema) -> list:
        return [
            {"name": f.name, "type": f.dataType.simpleString()}
            for f in schema.fields
        ]

    def _stats_cols(self) -> tuple:
        raw = self.options.get("statscols", "")
        return tuple(c.strip() for c in raw.split(",") if c.strip())

    def _partition_by(self) -> tuple:
        # the DataFrameWriter's .partitionBy() does not reach Python
        # data sources, so the hive layout is declared as an option:
        # .option("partitionBy", "col1,col2") (r9)
        raw = self.options.get("partitionby", "")
        return tuple(c.strip() for c in raw.split(",") if c.strip())

    def _bloom_by(self) -> tuple:
        # .option("bloomCols", "col1,col2"): bloom indexes stamped at
        # WRITE TIME, task-side on the Arrow batches (r10 — closes the
        # r9 backfill-only gap for natively-written tables)
        raw = self.options.get("bloomcols", "")
        return tuple(c.strip() for c in raw.split(",") if c.strip())

    def writer(self, schema, overwrite: bool) -> _MiniLogArrowWriter:
        merge = (
            str(self.options.get("mergeschema", "false")).lower() == "true"
        )
        return _MiniLogArrowWriter(
            self._path(),
            self._schema_list(schema),
            self._stats_cols(),
            overwrite,
            merge,
            partition_by=self._partition_by(),
            bloom_by=self._bloom_by(),
        )

    def streamWriter(
        self, schema, overwrite: bool
    ) -> _MiniLogStreamArrowWriter:
        return _MiniLogStreamArrowWriter(
            self._path(),
            self._schema_list(schema),
            self._stats_cols(),
            self.options.get("txnapp", "minilog-stream-writer"),
            partition_by=self._partition_by(),
            bloom_by=self._bloom_by(),
        )


def _pushdown_enabled() -> bool:
    """Does the ACTIVE session allow Python-source filter pushdown?
    (Runs driver-side at plan time, where a session always exists.)"""
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is None:
        return False
    return (
        str(
            spark.conf.get(
                "spark.sql.python.filterPushdown.enabled", "false"
            )
        ).lower()
        == "true"
    )


def register(spark) -> None:
    """Idempotently register the source with a session (and enable
    Python-source filter pushdown so the log-stats skipping reader is
    eligible — the conf is runtime-settable and off by default)."""
    from ..session import session_cache

    cache = session_cache(spark, "minilog_dsv2")
    if not cache.get("registered"):
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
        spark.dataSource.register(MiniLogDataSource)
        cache["registered"] = True
