"""Multi-table atomic transactions: a TABLE GROUP sharing one commit
log.

The reference's ingest writes purchase + operation + price as one
logical unit (import_files_to_postgre.py:145-227 inside one DB
session); ``SnapshotTableStore`` gives each table its OWN log, so a
crash between two tables' commits could expose a purchase without its
operations. Per-table logs cannot fix this — two independent claim
points can never be atomic together. The standard lakehouse answer
(Delta's catalog-level commit / Iceberg's multi-table transaction
proposals) is a SHARED log: one ordered sequence of commit manifests,
each listing the actions of EVERY table it touches, claimed by the
same os.link-atomic rename as the single-table store. A crash
anywhere before the claim leaves orphan data files in any number of
tables and ZERO visible change in all of them.

Scope rule: tables in a group are read and written ONLY through the
group (the shared log IS their total order — mixing in per-table
commits would create unorderable histories). Group membership is the
schema's natural transaction boundary: the reference's star schema is
one group.

Concurrency: same write-serializable rules as the single-table store,
applied at GROUP grain — a transaction containing any overwrite
validates that no commit landed after the snapshot it read (the
tables it derived from are stale otherwise); append-only transactions
commute and rebase on claim races.

Usage::

    grp = TableGroup(spark, root)
    with grp.transaction() as txn:
        txn.overwrite("purchase", p_df)
        txn.append("operation", op_df)
        txn.overwrite("price", price_df)
    # exactly one commit; all three visible together or not at all
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from pythondataingestionprocess_spark.pipeline.snapshot_store import (
    DEFAULT_ORPHAN_RETENTION_S,
    MAX_APPEND_REBASES,
    ConcurrentWriteError,
    _STALE_BASE,
    _resolve_append_schema,
)
from pythondataingestionprocess_spark.session import local_frame

_TXLOG = "_txlog"
_DATA = "data"


class TableGroup:
    """Snapshot-log table store with ONE log for many tables."""

    def __init__(self, spark: SparkSession, root: str,
                 writer_id: str | None = None,
                 schemas: dict[str, str] | None = None):
        self.spark = spark
        self.root = root
        self.writer_id = writer_id or f"writer-{uuid.uuid4().hex[:8]}"
        # optional DDL schemas for tables not yet born: read() of an
        # uncommitted table returns a typed-empty frame instead of
        # KeyError — the ParquetTableStore bootstrap contract, which
        # lets ingest/merge code run unchanged on a fresh group
        self.schemas = schemas or {}
        os.makedirs(os.path.join(root, _TXLOG), exist_ok=True)
        # snapshot the group was last read at by this instance — the
        # base the next overwrite-bearing transaction validates
        self._read_base: int | None = None

    # -- log primitives (group-wide) ---------------------------------------

    def _txdir(self) -> str:
        return os.path.join(self.root, _TXLOG)

    def snapshot_ids(self) -> list[int]:
        out = []
        for f in os.listdir(self._txdir()):
            stem, ext = os.path.splitext(f)
            if ext == ".json" and stem.isdigit():
                out.append(int(stem))
        return sorted(out)

    def current_snapshot(self) -> int | None:
        ids = self.snapshot_ids()
        return ids[-1] if ids else None

    def _load_commit(self, sid: int) -> dict:
        with open(os.path.join(self._txdir(), f"{sid:020d}.json")) as f:
            return json.load(f)

    def _claim(self, record: dict, next_id: int) -> bool:
        tmp = os.path.join(self._txdir(), f".{uuid.uuid4().hex}.tmp")
        final = os.path.join(self._txdir(), f"{next_id:020d}.json")
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

    # -- read side -----------------------------------------------------------

    def _state(self, name: str, snapshot_id: int) -> tuple[list[str], str | None]:
        """(live dirs, schema json) for ``name`` at ``snapshot_id``."""
        dirs: list[str] = []
        schema = None
        for sid in self.snapshot_ids():
            if sid > snapshot_id:
                break
            entry = self._load_commit(sid)["tables"].get(name)
            if entry is None:
                continue
            schema = entry["schema"]
            if entry["action"] == "overwrite":
                dirs = list(entry["dirs"])
            else:
                dirs.extend(entry["dirs"])
        return dirs, schema

    def _empty(self, name: str) -> DataFrame | None:
        if name in self.schemas:
            return local_frame(self.spark, [], self.schemas[name])
        return None

    def read(self, name: str, snapshot_id: int | None = None) -> DataFrame:
        current = self.current_snapshot()
        if current is None:
            self._read_base = None
            empty = self._empty(name)
            if empty is not None:
                return empty
            raise KeyError(f"group has no commits (table {name!r})")
        sid = current if snapshot_id is None else snapshot_id
        if sid > current:
            raise ValueError(f"snapshot {sid} does not exist")
        if snapshot_id is None and (
            self._read_base is None or self._read_base is _STALE_BASE
        ):
            # pin the group base at the FIRST read since the last
            # commit/reset; later reads must NOT advance it — a
            # transaction whose reads straddle a concurrent commit
            # would otherwise validate its overwrites against the
            # LAST read's snapshot and silently clobber the
            # concurrent writer's changes (ADVICE r15: writer B
            # commits between A's read of X and A's read of Y)
            self._read_base = sid
        dirs, schema = self._state(name, sid)
        if schema is None:
            empty = self._empty(name)
            if empty is not None and snapshot_id is None:
                return empty
            raise KeyError(f"table {name!r} has no commits at snapshot {sid}")
        st = StructType.fromJson(json.loads(schema))
        if not dirs:
            return local_frame(self.spark, [], st)
        # project the recorded schema — no footer-sampling inference
        return self.spark.read.schema(st).parquet(*dirs)

    def tables(self) -> list[str]:
        seen: set[str] = set()
        for sid in self.snapshot_ids():
            seen.update(self._load_commit(sid)["tables"])
        return sorted(seen)

    def history(self) -> DataFrame:
        rows = []
        for sid in self.snapshot_ids():
            c = self._load_commit(sid)
            for name, entry in sorted(c["tables"].items()):
                rows.append((sid, name, entry["action"], c["writer_id"],
                             c["base_snapshot"], c["ts_utc"]))
        return local_frame(
            self.spark, rows, "snapshot_id long, table_name string, action string, "
            "writer_id string, base_snapshot long, ts_utc string")

    # -- write side ------------------------------------------------------------

    def _write_data(self, name: str, df: DataFrame) -> tuple[str | None, list[dict]]:
        d = os.path.join(self.root, name, _DATA, uuid.uuid4().hex)
        # the row count rides the write as an observed metric instead
        # of a second job re-reading the directory
        written = Observation()
        df.observe(written, F.count(F.lit(1)).alias("n")).write.parquet(d)
        if not any(f.endswith(".parquet") for f in os.listdir(d)):
            shutil.rmtree(d)
            return None, []
        return d, [{"path": d, "n_rows": written.get["n"]}]

    def vacuum(self, keep_last: int = 1,
               orphan_retention_s: float = DEFAULT_ORPHAN_RETENTION_S
               ) -> list[str]:
        """Delete data directories (across ALL tables) unreferenced by
        the newest ``keep_last`` group snapshots — crashed-transaction
        orphans included. Manifests are never deleted (audit trail).
        Returns removed paths.

        As in :meth:`SnapshotTableStore.vacuum`, a directory no
        manifest references may be a transaction IN FLIGHT (data lands
        before the claim), so such orphans are only swept once older
        than ``orphan_retention_s``; manifest-referenced superseded
        dirs are removed regardless of age (ADVICE r15)."""
        ids = self.snapshot_ids()
        if not ids:
            return []
        retained = ids[max(0, len(ids) - keep_last):]
        live: set[str] = set()
        names = self.tables()
        for name in names:
            for sid in retained:
                dirs, _ = self._state(name, sid)
                live.update(dirs)
        referenced: set[str] = set()
        for sid in ids:
            for entry in self._load_commit(sid)["tables"].values():
                referenced.update(entry["dirs"])
        now = time.time()
        removed = []
        for name in names:
            datadir = os.path.join(self.root, name, _DATA)
            if not os.path.isdir(datadir):
                continue
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
                        continue  # possibly an in-flight transaction
                shutil.rmtree(full)
                removed.append(full)
        return removed

    def transaction(self) -> "GroupTransaction":
        return GroupTransaction(self)

    def overwrite(self, name: str, df: DataFrame) -> None:
        with self.transaction() as txn:
            txn.overwrite(name, df)

    def append(self, name: str, df: DataFrame,
               merge_schema: bool = False) -> None:
        with self.transaction() as txn:
            txn.append(name, df, merge_schema=merge_schema)

    def _commit_txn(
        self, actions: list[tuple[str, str, DataFrame, bool]]
    ) -> int:
        """Write every staged table's data, then ONE claim."""
        staged = {}
        pending: dict[str, tuple[str, StructType, bool]] = {}
        has_overwrite = False
        # The staged dirs' mtimes are a LEASE against vacuum's
        # mtime-based orphan retention, and a lease must be renewed
        # more often than it expires: refreshing only at the claim
        # edge (the r16 shape) still lost table A's dir whenever
        # TOTAL staging time exceeded the retention — the claim-edge
        # utime can't resurrect an already-swept dir (caught by the
        # r17 real-process contention test). Re-touch EVERY staged
        # dir after EACH table's write, bounding any dir's apparent
        # age by one table-staging step; the remaining contract is
        # Delta's own: orphan_retention_s must exceed the longest
        # single-table stage + the claim, not the whole transaction.
        def _renew_lease():
            now = time.time()
            for entry in staged.values():
                for d in entry["dirs"]:
                    os.utime(d, (now, now))

        for action, name, df, merge_schema in actions:
            if name in staged:
                raise ValueError(
                    f"table {name!r} staged twice in one transaction")
            new_dir, files = self._write_data(name, df)
            staged[name] = {
                "action": action,
                "dirs": [new_dir] if new_dir else [],
                "files": files,
            }
            pending[name] = (action, df.schema, merge_schema)
            has_overwrite = has_overwrite or action == "overwrite"
            _renew_lease()
        # final renewal at the claim edge covers the schema-resolve /
        # claim-race window
        _renew_lease()
        base = self._read_base
        rebases = 0
        while True:
            current = self.current_snapshot() or 0
            if has_overwrite and base is _STALE_BASE:
                raise ConcurrentWriteError(
                    "this group instance's read base was invalidated "
                    "by a previous failed commit — re-READ and "
                    "re-derive before retrying"
                )
            if has_overwrite and base is not None and current != base:
                self._read_base = _STALE_BASE
                raise ConcurrentWriteError(
                    f"group snapshot advanced {base} -> {current} since "
                    "this transaction's base was read — re-read and "
                    "re-derive"
                )
            # resolve each table's RECORDED schema against the head of
            # THIS attempt — re-run on every rebase, so an append-only
            # transaction that lost the race to a schema-evolving
            # commit re-validates instead of recording a stale schema
            # that would drop the evolved column from reads (ADVICE
            # r15). merge_schema permits ADDITIVE evolution (union
            # recorded; reads project it, NULL-filling either
            # vintage); type changes always fail loud.
            for name, (action, batch_schema, merge_schema) in pending.items():
                schema = batch_schema.json()
                if action == "append" and current:
                    live = self._state(name, current)[1]
                    if live is not None:
                        schema = _resolve_append_schema(
                            live, batch_schema, merge_schema, name)
                staged[name]["schema"] = schema
            record = {
                "snapshot_id": current + 1,
                "tables": staged,
                "writer_id": self.writer_id,
                "base_snapshot": base if isinstance(base, int) else current,
                # isinstance: a _STALE_BASE sentinel (failed overwrite
                # commit) must not leak into the manifest — an
                # append-only commit after a failure records the head

                "ts_utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            }
            if self._claim(record, current + 1):
                if not has_overwrite and base is not None:
                    # (covers both a live int pin and an already-stale
                    # sentinel; a None/absent pin keeps the blind
                    # contract — appends never CREATE a pin)
                    # An append-only transaction must NOT clear a live
                    # read pin on success: clearing it to None would
                    # make a following overwrite staged from the
                    # EARLIER read skip base validation entirely and
                    # clobber any concurrent commits that landed in
                    # between. Stale the pin instead so that overwrite
                    # fails loud until a fresh read re-pins (r16
                    # ADVICE, medium — group twin of the store's
                    # append-pin hole).
                    self._read_base = _STALE_BASE
                else:
                    self._read_base = None
                return current + 1
            if has_overwrite:
                self._read_base = _STALE_BASE
                raise ConcurrentWriteError(
                    "lost the commit race for an overwrite-bearing "
                    "transaction — re-read and re-derive"
                )
            rebases += 1
            if rebases > MAX_APPEND_REBASES:
                raise ConcurrentWriteError(
                    f"append-only transaction lost {rebases} claim races"
                )


class GroupTransaction:
    """Stages per-table actions; commits atomically on clean exit,
    commits NOTHING on an exception inside the block."""

    def __init__(self, group: TableGroup):
        self._group = group
        self._actions: list[tuple[str, str, DataFrame, bool]] = []
        self.snapshot_id: int | None = None

    def overwrite(self, name: str, df: DataFrame) -> None:
        self._actions.append(("overwrite", name, df, False))

    def append(self, name: str, df: DataFrame,
               merge_schema: bool = False) -> None:
        self._actions.append(("append", name, df, merge_schema))

    def insert_if_absent(self, name: str, incoming: DataFrame,
                         keys: list[str],
                         order_col: str | None = None) -> None:
        """Stage a MERGE WHEN NOT MATCHED THEN INSERT — the same
        semantics as ParquetTableStore.insert_if_absent, expressed as
        a staged overwrite so the whole transaction is one commit."""
        from pythondataingestionprocess_spark.pipeline.store import (
            ParquetTableStore,
        )

        existing = self._group.read(name)
        incoming = ParquetTableStore._one_per_key(incoming, keys, order_col)
        fresh = incoming.join(
            existing.select(*keys).distinct(), keys, "left_anti")
        self.overwrite(name, existing.unionByName(fresh))

    def upsert(self, name: str, incoming: DataFrame, keys: list[str],
               order_col: str | None = None) -> None:
        """Stage a whole-row MERGE (incoming wins on key match)."""
        from pythondataingestionprocess_spark.pipeline.store import (
            ParquetTableStore,
        )

        existing = self._group.read(name)
        incoming = ParquetTableStore._one_per_key(incoming, keys, order_col)
        kept = existing.join(
            incoming.select(*keys).distinct(), keys, "left_anti")
        self.overwrite(name, kept.unionByName(incoming))

    def __enter__(self) -> "GroupTransaction":
        return self

    def __exit__(self, exc_type, exc, tb) -> bool:
        if exc_type is None and self._actions:
            self.snapshot_id = self._group._commit_txn(self._actions)
        return False
