"""Run manifest: per-run lineage and integrity records for the
ingestion pipeline.

The reference's only audit trail is console prints (counters in
import_files_to_postgre.py's per-file loop); at 100 TB an operator
needs a QUERYABLE record of what each run read and wrote — row counts
and a content checksum per table — to (a) prove a re-run reproduced
the same outputs (idempotence audit), (b) detect silent input drift
between runs, and (c) answer "which run produced these rows"
without re-deriving anything.

The checksum is ORDER-INSENSITIVE and distributed: xxhash64 over each
row's canonicalized columns, summed exactly (DECIMAL(38,0)) — the sum
is partition-order-independent, so the same data yields the same
checksum on any cluster shape (the repo's cross-partitioning
determinism discipline applied to its own metadata). One aggregation
per table; manifest rows are tables-sized, never data-sized.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pythondataingestionprocess_spark.pipeline.store import ParquetTableStore
from pythondataingestionprocess_spark.session import local_frame

MANIFEST_TABLE = "_run_manifest"


def frame_summary(df: DataFrame) -> tuple[int, int]:
    """(n_rows, order-insensitive content checksum) in one pass.

    Every column is stringified (NULL → a sentinel that can't collide
    with data — the 0x00 byte) so the checksum covers values, not
    just row shape; xxhash64 runs JVM-side per row and the exact
    decimal sum is partition-order-free."""
    cols = [
        F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in df.columns
    ]
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("chk"),
    ).collect()[0]
    return int(row["n"]), int(row["chk"] or 0)


def record_run(
    store: ParquetTableStore,
    run_id: str,
    inputs: dict[str, DataFrame],
    outputs: dict[str, DataFrame],
) -> None:
    """Append one manifest row per (run, role, table). Re-recording
    the same run_id upserts (keyed on run_id/role/table), so a
    foreachBatch-style retry cannot duplicate manifest rows."""
    spark = next(iter((*inputs.values(), *outputs.values()))).sparkSession
    rows = []
    for role, frames in (("input", inputs), ("output", outputs)):
        for name, df in frames.items():
            n, chk = frame_summary(df)
            rows.append((run_id, role, name, n, str(chk)))
    manifest = local_frame(
        spark, rows, "run_id string, role string, table_name string, n_rows long, checksum string"
    )
    # existence-checked, never exception-guessed (r13 review): the old
    # bare `except Exception: overwrite` treated ANY read failure — a
    # transient FS error, a corrupt footer, a concurrent swap — as
    # "first run" and replaced the whole audit history with one run's
    # rows. A real read failure now propagates; only a genuinely
    # absent table bootstraps.
    if not os.path.exists(store._path(MANIFEST_TABLE)):
        store.overwrite(MANIFEST_TABLE, manifest)
        return
    store.upsert(MANIFEST_TABLE, manifest, keys=["run_id", "role", "table_name"])


def diff_runs(store: ParquetTableStore, run_a: str, run_b: str) -> DataFrame:
    """Tables whose content differs between two recorded runs — the
    drift report. Join on (role, table), compare counts + checksums."""
    m = store.read(MANIFEST_TABLE)
    a = m.filter(F.col("run_id") == run_a).select(
        "role",
        "table_name",
        F.col("n_rows").alias("n_rows_a"),
        F.col("checksum").alias("checksum_a"),
    )
    b = m.filter(F.col("run_id") == run_b).select(
        "role",
        "table_name",
        F.col("n_rows").alias("n_rows_b"),
        F.col("checksum").alias("checksum_b"),
    )
    return (
        a.join(b, ["role", "table_name"], "full_outer")
        .filter(
            (F.col("n_rows_a") != F.col("n_rows_b"))
            | (F.col("checksum_a") != F.col("checksum_b"))
            | F.col("n_rows_a").isNull()
            | F.col("n_rows_b").isNull()
        )
    )
