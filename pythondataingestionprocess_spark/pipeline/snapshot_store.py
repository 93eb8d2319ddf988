"""Snapshot-log table store: ACID commits, time travel, and
optimistic concurrency over plain parquet — the transactional surface
the reference's Postgres upserts get from the database itself
(database_utils.py:70-79,266-280) and a cluster deployment would get
from Delta/Iceberg. No Delta jars ship in this container, so the
protocol is built from scratch on the two primitives every lakehouse
format reduces to (public Delta PROTOCOL.md / Iceberg spec shapes):

1. **Immutable data files** — every commit writes NEW parquet
   directories under ``<table>/data/``; nothing is modified in place.
2. **An ordered commit log** — ``<table>/_txlog/<version>.json``, one
   JSON manifest per commit recording the action (overwrite/append),
   the data directories it added, per-file row counts + min/max
   skipping stats (the :func:`storage.file_skipping_stats` shape), the
   schema, and the base snapshot the writer built on.

**Atomicity** is the filesystem's: the manifest is fully written to a
temp name, then claimed with ``os.link`` — creating the final
``<version>.json`` succeeds for exactly ONE writer (EEXIST for every
loser) and the name only ever appears fully written. A crash before
the claim leaves orphan data files that no reader can see (vacuum
sweeps them); a crash during the temp write leaves a ``.tmp`` the log
reader ignores. On an object store without atomic create, this claim
is the piece a commit service / conditional-PUT replaces — the rest of
the protocol is storage-agnostic.

**Isolation / concurrency** (the Delta write-serializable rules):

- A blind ``append`` commutes with other appends — on losing the
  claim race it REBASES onto the new head and retries (bounded).
- ``overwrite`` is read-modify-write (it is what MERGE lowers to):
  if ANY commit landed after the snapshot the writer read, the
  table it derived from is stale and the commit fails loud with
  :class:`ConcurrentWriteError` — the caller re-reads and re-merges.
  Last-writer-wins is therefore DETECTED, never silent.

**Time travel**: ``read(name, snapshot_id=k)`` replays the log up to
``k``; ``history(name)`` is the queryable commit table. ``vacuum``
deletes data files unreferenced by the retained snapshot window and
records the horizon, so a time-travel read past it fails loud instead
of returning partial data.

:class:`SnapshotTableStore` subclasses :class:`ParquetTableStore`
overriding only the physical read/overwrite/append — ``upsert``,
``insert_if_absent``, ``delete_keys`` and the SCD builds inherit
UNCHANGED and gain snapshot isolation: their internal ``read`` pins
the base snapshot their ``overwrite`` validates against.

At 100 TB: commits are metadata-sized (one JSON per commit; stats are
files-grained), readers plan from the manifest file list without
listing storage, and the recorded min/max stats drive
:func:`skippable_files` — the same pruning
:func:`storage.prunable_files` does, served from the log instead of a
directory walk.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from pythondataingestionprocess_spark.pipeline.store import (
    SCHEMAS,
    ParquetTableStore,
)
from pythondataingestionprocess_spark.session import local_frame

_TXLOG = "_txlog"
_DATA = "data"
_VACUUM_MARK = "_vacuum.json"
MAX_APPEND_REBASES = 5

# Sentinel for a read base INVALIDATED by a failed overwrite commit:
# distinct from None (no pin → the next read pins fresh) because a
# caller that catches ConcurrentWriteError and blindly retries the
# SAME stale derivation must keep failing loud — clearing to None
# would let the retry skip validation entirely and silently clobber
# the concurrent writer (r16 review). Only an actual re-READ replaces
# the sentinel with a fresh pin.
_STALE_BASE = object()
# vacuum treats a data dir referenced by NO manifest as possibly an
# in-flight commit (data lands before the claim) and only sweeps it
# past this age — the Delta VACUUM retention idea, scaled to this
# store's commit latency (~seconds) rather than Delta's 7 days
DEFAULT_ORPHAN_RETENTION_S = 600.0


def _name_types(schema_json: str) -> list[tuple[str, str]]:
    """(name, type) pairs from a schema JSON — the append-compat key
    (nullability and metadata excluded)."""
    st = StructType.fromJson(json.loads(schema_json))
    return [(f.name, f.dataType.simpleString()) for f in st.fields]


def _resolve_append_schema(live_schema_json: str, batch_schema: StructType,
                           merge_schema: bool, name: str) -> str:
    """The schema an append commit must RECORD, validated against the
    CURRENT live schema: names+types must match exactly (nullability
    excluded — parquet round-trips relax it); ``merge_schema=True``
    permits ADDITIVE evolution (the union is recorded: existing fields
    first, new fields appended; a batch may also omit existing columns
    — reads project the union, NULL-filling either vintage); a TYPE
    change on a shared column always fails loud.

    MUST be called inside the claim-retry loop, against the head of
    each attempt: a rebased append can land on a head whose schema a
    concurrent commit evolved, and recording a stale schema would
    silently drop the evolved column from every read (ADVICE r15)."""
    live = _name_types(live_schema_json)
    mine = [(f.name, f.dataType.simpleString()) for f in batch_schema.fields]
    if live == mine:
        return batch_schema.json()
    if not merge_schema:
        raise ValueError(
            f"append schema mismatch on {name!r}: table has {live}, "
            f"batch has {mine} — pass merge_schema=True to evolve"
        )
    live_d, mine_d = dict(live), dict(mine)
    conflicts = {
        c: (live_d[c], mine_d[c])
        for c in live_d.keys() & mine_d.keys()
        if live_d[c] != mine_d[c]
    }
    if conflicts:
        raise ValueError(
            f"schema evolution on {name!r} cannot change column "
            f"types: {conflicts}"
        )
    union = StructType.fromJson(json.loads(live_schema_json))
    for f in batch_schema.fields:
        if f.name not in live_d:
            union = union.add(f.name, f.dataType, True)
    return union.json()


class ConcurrentWriteError(RuntimeError):
    """Another writer committed after the snapshot this write was
    derived from — re-read and retry the whole operation."""


class SnapshotTableStore(ParquetTableStore):
    """ParquetTableStore with a per-table snapshot log (module doc)."""

    def __init__(self, spark, root: str, writer_id: str | None = None,
                 stats_cols: dict[str, list[str]] | None = None):
        super().__init__(spark, root)
        self.writer_id = writer_id or f"writer-{uuid.uuid4().hex[:8]}"
        # per-table columns to record min/max skipping stats for
        self.stats_cols = stats_cols or {}
        # snapshot each table was last read at BY THIS INSTANCE —
        # the base the next overwrite validates against (one logical
        # transaction at a time per instance, the Spark-driver shape)
        self._read_base: dict[str, int | None] = {}

    # -- log primitives ------------------------------------------------

    def _txdir(self, name: str) -> str:
        return os.path.join(self._path(name), _TXLOG)

    def _datadir(self, name: str) -> str:
        return os.path.join(self._path(name), _DATA)

    def snapshot_ids(self, name: str) -> list[int]:
        d = self._txdir(name)
        if not os.path.isdir(d):
            return []
        out = []
        for f in os.listdir(d):
            stem, ext = os.path.splitext(f)
            if ext == ".json" and stem.isdigit():
                out.append(int(stem))
        return sorted(out)

    def current_snapshot(self, name: str) -> int | None:
        ids = self.snapshot_ids(name)
        return ids[-1] if ids else None

    def _load_commit(self, name: str, sid: int) -> dict:
        with open(os.path.join(self._txdir(name), f"{sid:020d}.json")) as f:
            return json.load(f)

    def _vacuum_horizon(self, name: str) -> int:
        mark = os.path.join(self._txdir(name), _VACUUM_MARK)
        if not os.path.exists(mark):
            return 0
        with open(mark) as f:
            return int(json.load(f)["min_readable_snapshot"])

    def _checkpoint(self, name: str) -> dict | None:
        """The log checkpoint written by vacuum (Delta's every-10th-
        commit checkpoint idea): the materialized live-dir state at
        the vacuum horizon, so replay cost resets there instead of
        growing forever with commit count. Manifests are never
        deleted — the checkpoint is a perf shortcut, the full log
        stays as the audit trail."""
        p = os.path.join(self._txdir(name), "_checkpoint.json")
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def _live_dirs(self, name: str, snapshot_id: int) -> list[str]:
        """Replay the log up to ``snapshot_id``: overwrite resets the
        file set, append extends it. Starts from the vacuum-written
        checkpoint when one covers the requested snapshot."""
        dirs: list[str] = []
        start_after = 0
        ck = self._checkpoint(name)
        if ck is not None and snapshot_id >= ck["as_of"]:
            dirs = list(ck["dirs"])
            start_after = ck["as_of"]
        for sid in self.snapshot_ids(name):
            if sid <= start_after:
                continue
            if sid > snapshot_id:
                break
            c = self._load_commit(name, sid)
            if c["action"] == "overwrite":
                dirs = list(c["dirs"])
            else:
                dirs.extend(c["dirs"])
        return dirs

    # -- read side -------------------------------------------------------

    def _schema_of(self, name: str, sid: int) -> StructType:
        return StructType.fromJson(
            json.loads(self._load_commit(name, sid)["schema"])
        )

    def read(self, name: str, snapshot_id: int | None = None) -> DataFrame:
        current = self.current_snapshot(name)
        if current is None:
            # never committed: the base class's typed-empty bootstrap
            self._read_base[name] = None
            return local_frame(self.spark, [], SCHEMAS[name])
        sid = current if snapshot_id is None else snapshot_id
        if sid > current:
            raise ValueError(
                f"snapshot {sid} does not exist (current is {current})"
            )
        if sid < self._vacuum_horizon(name):
            raise ValueError(
                f"snapshot {sid} was vacuumed (horizon "
                f"{self._vacuum_horizon(name)}) — its data files are "
                "gone; a partial read would be silent corruption"
            )
        base = self._read_base.get(name)
        if snapshot_id is None and (base is None or base is _STALE_BASE):
            # pin the base for this instance's next read-modify-write
            # at the FIRST read since the last commit/reset — a later
            # read must NOT advance it, or a transaction whose reads
            # straddle a concurrent commit would validate its
            # overwrite against the last read's snapshot and silently
            # clobber the concurrent writer's changes (ADVICE r15,
            # the lost update this class exists to detect). A
            # _STALE_BASE sentinel (failed commit) is replaced here —
            # re-reading IS the prescribed recovery.
            self._read_base[name] = sid
        dirs = self._live_dirs(name, sid)
        if not dirs:
            return local_frame(self.spark, [], self._schema_of(name, sid))
        # the RECORDED schema (the union after any merge_schema
        # evolution) is projected onto every file: parquet schema
        # projection NULL-fills columns a file's vintage predates —
        # one read for a table holding files of several vintages, and
        # no footer-sampling inference either
        return (
            self.spark.read.schema(self._schema_of(name, sid))
            .parquet(*dirs)
        )

    def history(self, name: str) -> DataFrame:
        """The commit log as a DataFrame (queryable audit trail)."""
        rows = []
        for sid in self.snapshot_ids(name):
            c = self._load_commit(name, sid)
            rows.append((
                sid, c["action"], c["writer_id"], c["base_snapshot"],
                c["ts_utc"], len(c["dirs"]),
                sum(f["n_rows"] for f in c["files"]),
            ))
        return local_frame(
            self.spark, rows,
            "snapshot_id long, action string, writer_id string, "
            "base_snapshot long, ts_utc string, n_dirs long, "
            "n_rows_added long",
        )

    # -- write side --------------------------------------------------------

    def _write_data(
        self, name: str, df: DataFrame
    ) -> tuple[str | None, list[dict]]:
        """Write ``df`` to a fresh immutable directory; return (dir,
        per-file stats entries in the file_skipping_stats shape).
        An empty write (e.g. delete_keys removing the last row) yields
        (None, []) — the commit records no dirs and readers get the
        typed-empty frame from the recorded schema."""
        d = os.path.join(self._datadir(name), uuid.uuid4().hex)
        df.write.parquet(d)
        if not any(f.endswith(".parquet") for f in os.listdir(d)):
            shutil.rmtree(d)
            return None, []
        cols = [c for c in self.stats_cols.get(name, []) if c in df.columns]
        part = self.spark.read.parquet(d)
        aggs = [F.count(F.lit(1)).alias("n_rows")]
        for c in cols:
            aggs.append(F.min(c).cast("string").alias(f"{c}_min"))
            aggs.append(F.max(c).cast("string").alias(f"{c}_max"))
        per_file = (
            part.groupBy(F.input_file_name().alias("file")).agg(*aggs)
        ).collect()  # files-sized, never rows-sized
        files = []
        for r in per_file:
            entry: dict = {"path": r["file"], "n_rows": r["n_rows"]}
            if cols:
                entry["stats"] = {
                    c: [r[f"{c}_min"], r[f"{c}_max"]] for c in cols
                }
            files.append(entry)
        return d, files

    def _claim(self, name: str, record: dict, next_id: int) -> bool:
        """Atomically claim snapshot ``next_id``: write the manifest to
        a temp name, hard-link it into place. Exactly one writer wins;
        the committed name only ever appears fully written."""
        txdir = self._txdir(name)
        os.makedirs(txdir, exist_ok=True)
        tmp = os.path.join(txdir, f".{uuid.uuid4().hex}.tmp")
        final = os.path.join(txdir, f"{next_id:020d}.json")
        with open(tmp, "w") as f:
            json.dump(record, f)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, final)
            return True
        except FileExistsError:
            return False
        finally:
            os.unlink(tmp)

    def _commit(self, name: str, action: str, df: DataFrame,
                base: int | None, merge_schema: bool = False) -> int:
        new_dir, files = self._write_data(name, df)
        if new_dir is not None:
            # refresh the dir's mtime at the claim edge: the vacuum
            # orphan retention is mtime-based and must cover the whole
            # in-flight window, not just the parquet write
            _now = time.time()
            os.utime(new_dir, (_now, _now))
        schema = df.schema.json()
        rebases = 0
        while True:
            current = self.current_snapshot(name) or 0
            if action == "overwrite" and base is _STALE_BASE:
                raise ConcurrentWriteError(
                    f"table {name!r}: this instance's read base was "
                    "invalidated by a previous failed commit — "
                    "re-READ the table and re-derive before retrying"
                )
            if action == "overwrite" and base is not None and current != base:
                # the prescribed recovery is re-read + re-derive; mark
                # the pin stale so a blind retry with the SAME
                # derivation keeps failing loud, while the re-read
                # re-pins fresh (first-pin read handles the sentinel)
                self._read_base[name] = _STALE_BASE
                raise ConcurrentWriteError(
                    f"table {name!r}: snapshot advanced {base} -> "
                    f"{current} since this write's base was read — "
                    "re-read and re-derive (read-modify-write is stale)"
                )
            if action == "append" and current:
                # re-resolved on EVERY attempt: a rebase may land on a
                # head a concurrent commit evolved
                schema = _resolve_append_schema(
                    self._load_commit(name, current)["schema"],
                    df.schema, merge_schema, name,
                )
            record = {
                "snapshot_id": current + 1,
                "action": action,
                "dirs": [new_dir] if new_dir else [],
                "files": files,
                "schema": schema,
                "writer_id": self.writer_id,
                "base_snapshot": base if isinstance(base, int) else current,
                # isinstance: a _STALE_BASE sentinel (failed overwrite
                # commit) must not leak into the manifest — an
                # append-only commit after a failure records the head

                "ts_utc": time.strftime(
                    "%Y-%m-%dT%H:%M:%SZ", time.gmtime()
                ),
            }
            if self._claim(name, record, current + 1):
                if action == "append":
                    # A successful blind append must neither CREATE a
                    # pin (a pin certifies "this instance READ at that
                    # snapshot" — an append-only instance keeps the
                    # blind-overwrite contract) nor ADVANCE an existing
                    # read pin: the append's head may cover OTHER
                    # writers' commits the pinned read never saw
                    # (read base 1 -> B appends 2 -> own append claims
                    # 3: advancing the pin to 3 would let an overwrite
                    # derived from the snapshot-1 read validate clean
                    # and clobber B's rows). Stale a live read pin so
                    # the next overwrite without a fresh read fails
                    # loud; a re-read re-pins (r16 ADVICE, medium).
                    if isinstance(self._read_base.get(name), int):
                        self._read_base[name] = _STALE_BASE
                else:
                    self._read_base[name] = current + 1
                return current + 1
            # lost the race
            if action == "overwrite":
                self._read_base[name] = _STALE_BASE
                raise ConcurrentWriteError(
                    f"table {name!r}: lost the commit race for "
                    f"snapshot {current + 1} — re-read and re-derive"
                )
            rebases += 1
            if rebases > MAX_APPEND_REBASES:
                raise ConcurrentWriteError(
                    f"table {name!r}: append lost {rebases} claim "
                    "races — giving up"
                )

    def overwrite(self, name: str, df: DataFrame) -> None:
        """Replace the table in one atomic commit. If this instance
        read the table first (every inherited MERGE/SCD path does),
        the commit validates nothing landed since that snapshot."""
        base = self._read_base.get(name)
        # materialize BEFORE the claim: df may derive from the live
        # table (upsert does), and data writes never touch old files
        self._commit(name, "overwrite", df, base)
        self._read_base[name] = None

    def append(self, name: str, df: DataFrame,
               partition_by: list[str] | None = None,
               merge_schema: bool = False) -> None:
        """Blind append: new files only, auto-rebases on claim races.
        Hive ``partition_by`` is deliberately unsupported here — the
        manifest's per-file min/max stats serve the same pruning
        (:meth:`skippable_files`) without directory explosion.
        ``merge_schema=True`` permits additive evolution: the batch
        may carry new columns (the table schema widens; older files
        read as NULL there) and may omit existing ones; type changes
        on shared columns always fail loud."""
        if partition_by:
            raise ValueError(
                "SnapshotTableStore.append does not hive-partition; "
                "skipping stats in the commit manifest replace it "
                "(pass stats_cols={table: [cols]})"
            )
        self._commit(name, "append", df, None, merge_schema=merge_schema)

    # -- exactly-once appends (streaming sink integration) ----------------

    def committed_txns(self, name: str) -> set[tuple[str, int]]:
        """Every (app_id, batch_id) pair recorded in the log."""
        out = set()
        for sid in self.snapshot_ids(name):
            txn = self._load_commit(name, sid).get("txn")
            if txn:
                out.add((txn["app_id"], int(txn["batch_id"])))
        return out

    def append_once(self, name: str, df: DataFrame, app_id: str,
                    batch_id: int, merge_schema: bool = False) -> bool:
        """Idempotent append keyed by (app_id, batch_id) — the Delta
        ``txnAppId``/``txnVersion`` pattern that makes a foreachBatch
        sink EXACTLY-ONCE: Structured Streaming re-delivers a batch
        after a crash-between-write-and-checkpoint, and the replay
        must become a no-op instead of a duplicate. The txn id rides
        the commit manifest itself, so the dedup check and the data
        commit are one atomic unit (a separate ledger table would
        reintroduce the two-writes race this store exists to close).
        Returns True if the batch committed, False if it was already
        in the log. Claim races rebase like ``append`` and re-check
        the txn set each attempt. Schema discipline is the same as
        :meth:`append` — validated against the head INSIDE the claim
        loop (ADVICE r15: a divergent batch must fail loud, never
        record its own schema and NULL-out existing columns for every
        reader), with ``merge_schema=True`` permitting additive
        evolution."""
        if (app_id, batch_id) in self.committed_txns(name):
            return False
        new_dir, files = self._write_data(name, df)
        if new_dir is not None:
            _now = time.time()
            os.utime(new_dir, (_now, _now))  # claim-edge mtime refresh
        rebases = 0
        while True:
            if (app_id, batch_id) in self.committed_txns(name):
                # a concurrent replay of the SAME batch won the race;
                # our data dir becomes a vacuumable orphan
                return False
            current = self.current_snapshot(name) or 0
            schema = df.schema.json()
            if current:
                schema = _resolve_append_schema(
                    self._load_commit(name, current)["schema"],
                    df.schema, merge_schema, name,
                )
            record = {
                "snapshot_id": current + 1,
                "action": "append",
                "dirs": [new_dir] if new_dir else [],
                "files": files,
                "schema": schema,
                "writer_id": self.writer_id,
                "base_snapshot": current,
                "txn": {"app_id": app_id, "batch_id": int(batch_id)},
                "ts_utc": time.strftime(
                    "%Y-%m-%dT%H:%M:%SZ", time.gmtime()
                ),
            }
            if self._claim(name, record, current + 1):
                return True
            rebases += 1
            if rebases > MAX_APPEND_REBASES:
                raise ConcurrentWriteError(
                    f"table {name!r}: append_once lost {rebases} "
                    "claim races — giving up"
                )

    # -- change data feed ----------------------------------------------------

    def changes(self, name: str, after: int, until: int | None = None
                ) -> DataFrame:
        """Rows APPENDED in snapshots (after, until] with a
        ``_snapshot_id`` column — the incremental-consumer feed (read
        what landed since my last cursor, advance the cursor). Fails
        loud if an overwrite commit sits in the range: a rewrite
        (MERGE/OPTIMIZE) has no append-grain delta in the log — use
        :meth:`diff_snapshots` for the row-level diff instead."""
        current = self.current_snapshot(name)
        if current is None:
            raise ValueError(f"table {name!r} has no commits")
        until = current if until is None else until
        parts = []
        for sid in self.snapshot_ids(name):
            if sid <= after or sid > until:
                continue
            c = self._load_commit(name, sid)
            if c["action"] != "append":
                raise ValueError(
                    f"snapshot {sid} is an {c['action']} — no "
                    "append-grain delta; use diff_snapshots"
                )
            if any(not os.path.isdir(d) for d in c["dirs"]):
                raise ValueError(
                    f"snapshot {sid}'s data files were vacuumed — "
                    "the change feed cursor fell behind the retention "
                    "window"
                )
            if c["dirs"]:
                # project every part onto the schema recorded at
                # ``until`` — parquet projection NULL-fills columns an
                # older vintage predates, so a range crossing an
                # additive merge_schema boundary unions cleanly
                # instead of raising (ADVICE r15)
                parts.append(
                    self.spark.read.schema(self._schema_of(name, until))
                    .parquet(*c["dirs"])
                    # cast: both this branch and the empty-range
                    # branch (and the driver face's oracle) must agree
                    # on bigint — a bare IntegerType lit made the
                    # feed's schema range-dependent (r16 ADVICE)
                    .withColumn("_snapshot_id", F.lit(sid).cast("long"))
                )
        if not parts:
            return local_frame(
                self.spark, [],
                self._schema_of(name, until).add("_snapshot_id", "long"),
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def diff_snapshots(self, name: str, a: int, b: int) -> DataFrame:
        """Row-level diff between two snapshots — works across
        overwrites. Returns full rows tagged ``_change_type``
        ('insert' rows present in b but not a, 'delete' the reverse).
        Set-oriented (two anti-joins over whole-row comparison — one
        shuffle each); at 100 TB this is the audit/backfill tool, not
        a hot path, and a keyed variant should anti-join on the key
        columns only."""
        da, db = self.read(name, snapshot_id=a), self.read(name, snapshot_id=b)
        cols = da.columns
        ins = db.join(da, cols, "left_anti").withColumn(
            "_change_type", F.lit("insert"))
        dele = da.join(db, cols, "left_anti").withColumn(
            "_change_type", F.lit("delete"))
        return ins.unionByName(dele)

    def optimize(self, name: str, max_files_per_commit: int = 128) -> int:
        """Compact the live file set into one fresh directory — the
        table-service OPTIMIZE, expressed as an ordinary overwrite
        commit so readers never see a half-compacted state and time
        travel still reaches the pre-compaction snapshots. Data is
        byte-identical (same rows, fewer files); the base-snapshot
        validation makes a concurrent writer fail THIS commit loud
        rather than silently losing their rows. Returns the new
        snapshot id."""
        df = self.read(name)  # pins the base snapshot
        n_dirs = len(self._live_dirs(name, self.current_snapshot(name)))
        compacted = df.coalesce(max(1, min(max_files_per_commit, n_dirs)))
        base = self._read_base.get(name)
        sid = self._commit(name, "overwrite", compacted, base)
        self._read_base[name] = None
        return sid

    # -- maintenance -------------------------------------------------------

    def vacuum(self, name: str, keep_last: int = 1,
               orphan_retention_s: float = DEFAULT_ORPHAN_RETENTION_S
               ) -> list[str]:
        """Delete data directories unreferenced by the newest
        ``keep_last`` snapshots (orphans from crashed commits
        included), and advance the time-travel horizon so vacuumed
        snapshots fail loud on read. Returns the removed paths.

        A directory referenced by NO manifest at all is
        indistinguishable from a commit IN FLIGHT (``_commit`` writes
        data BEFORE the claim), so such orphans are only swept once
        older than ``orphan_retention_s`` (mtime-based — the Delta
        VACUUM retention idea, ADVICE r15); a racing vacuum would
        otherwise delete the files a manifest is about to publish.
        Directories referenced by a superseded manifest cannot be
        in flight and are removed regardless of age. Pass 0 only when
        the caller holds exclusive access."""
        ids = self.snapshot_ids(name)
        if not ids:
            return []
        keep_from = ids[max(0, len(ids) - keep_last)]
        live: set[str] = set()
        for sid in ids[max(0, len(ids) - keep_last):]:
            live.update(self._live_dirs(name, sid))
        referenced: set[str] = set()
        for sid in ids:
            referenced.update(self._load_commit(name, sid)["dirs"])
        now = time.time()
        datadir = self._datadir(name)
        removed = []
        if os.path.isdir(datadir):
            for d in sorted(os.listdir(datadir)):
                full = os.path.join(datadir, d)
                if full in live:
                    continue
                if full not in referenced:
                    try:
                        age = now - os.path.getmtime(full)
                    except OSError:
                        continue  # concurrently claimed/removed
                    if age < orphan_retention_s:
                        continue  # possibly an in-flight commit
                shutil.rmtree(full)
                removed.append(full)
        mark = os.path.join(self._txdir(name), _VACUUM_MARK)
        with open(mark, "w") as f:
            json.dump({"min_readable_snapshot": keep_from,
                       "vacuumed_by": self.writer_id}, f)
        # materialize the live-dir state at the new horizon so log
        # replay restarts there (bounded by vacuum cadence) instead
        # of walking every manifest since table birth
        ck = os.path.join(self._txdir(name), "_checkpoint.json")
        # resolve BEFORE opening: _live_dirs consults the checkpoint
        # file, which is empty mid-write
        state = self._live_dirs(name, keep_from)
        tmp = ck + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"as_of": keep_from, "dirs": state}, f)
        os.replace(tmp, ck)
        return removed

    def read_range(self, name: str, col: str, lo, hi) -> DataFrame:
        """Range read that PLANS FROM THE LOG: files whose recorded
        [min, max] envelope for ``col`` misses [lo, hi] are never
        handed to Spark at all (no footer read, no task), and the
        residual filter still applies row-grain on the survivors.
        At 100 TB this is the difference between scheduling a task
        per file and scheduling one per overlapping file — the same
        contract Delta/Iceberg data skipping provides, served from
        the commit manifests. Falls back to a plain filtered read
        when no stats were recorded for ``col``."""
        current = self.current_snapshot(name)
        df = self.read(name, snapshot_id=current) if current else self.read(name)
        pred = (F.col(col) >= F.lit(lo)) & (F.col(col) <= F.lit(hi))
        if current is None:
            return df.filter(pred)
        skip = set(self.skippable_files(name, col, lo, hi))
        if not skip:
            return df.filter(pred)
        live = set(self._live_dirs(name, current))
        keep = []
        for sid in self.snapshot_ids(name):
            if sid > current:
                break
            c = self._load_commit(name, sid)
            for d in c["dirs"]:
                if d not in live:
                    continue
                keep.extend(
                    e["path"] for e in c["files"] if e["path"] not in skip
                )
        if not keep:
            return local_frame(self.spark, [], self._schema_of(name, current))
        return self.spark.read.parquet(*sorted(set(keep))).filter(pred)

    def skippable_files(self, name: str, col: str, lo, hi) -> list[str]:
        """Files a ``col BETWEEN lo AND hi`` reader can skip, decided
        from the COMMIT MANIFEST's recorded min/max — no storage
        listing, no footer reads (the prunable_files contract served
        from the log). Stats are stored as strings; comparison uses
        the caller's type via string round-trip, so use it for columns
        whose string order matches value order (dates, zero-padded
        keys) or numeric columns via the float fallback below."""
        current = self.current_snapshot(name)
        if current is None:
            return []
        live = set(self._live_dirs(name, current))
        out = []
        for sid in self.snapshot_ids(name):
            if sid > current:
                break
            c = self._load_commit(name, sid)
            for d in c["dirs"]:
                if d not in live:
                    continue
                for entry in c["files"]:
                    st = entry.get("stats", {}).get(col)
                    if not st or st[0] is None:
                        continue
                    mn, mx = st
                    try:
                        mn, mx = float(mn), float(mx)
                        lo_c, hi_c = float(lo), float(hi)
                    except (TypeError, ValueError):
                        lo_c, hi_c = str(lo), str(hi)
                        mn, mx = str(mn), str(mx)
                    if mx < lo_c or mn > hi_c:
                        out.append(entry["path"])
        return out
