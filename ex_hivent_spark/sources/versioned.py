"""Snapshot-versioned parquet tables: time travel, atomic commits,
retention vacuum.

The missing piece next to compaction / MERGE / keyed delete: every
write lands in an immutable ``v=N`` snapshot directory and a tiny
``_VERSION`` pointer file names the current one — the single-file
analogue of a Delta/Iceberg log head. Readers resolve the pointer once
and then scan an immutable directory, so a concurrent writer can
publish ``v=N+1`` without ever disturbing an in-flight ``v=N`` scan
(snapshot isolation for free), and any historical version stays
queryable until vacuumed.

Commit protocol (single-writer, HCFS rename semantics like fsutil):

1. fully write ``<table>/v=N`` (plus its ``_SNAPSHOT.json`` manifest)
2. write ``_VERSION.tmp`` containing ``N``
3. rename ``_VERSION.tmp`` → ``_VERSION``   (the atomic commit point)

A crash before step 3 leaves an orphan ``v=N`` directory that the next
write overwrites or vacuum removes; readers never see it because the
pointer still names the previous snapshot. Step 3 is a delete and a
rename; a crash between them leaves only ``_VERSION.tmp``, which the
next pointer read rolls forward. Rename of a small file is
atomic on local disk/HDFS; on S3-proper this pointer is the one object
to CAS via a metadata service.

At 100 TB the pointer read is one tiny file per query plan — no
directory listing of historical snapshots — and snapshots share
nothing, so retention cost is explicit and bounded by ``vacuum``.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ex_hivent_spark import fsutil

POINTER = "_VERSION"
MANIFEST = "_SNAPSHOT.json"


def _pointer_path(table_dir: str) -> str:
    return f"{table_dir}/{POINTER}"


def _snapshot_dir(table_dir: str, version: int) -> str:
    return f"{table_dir}/v={version}"


def current_version(spark: SparkSession, table_dir: str) -> int | None:
    """The committed version, or None for a table with no snapshot.

    A crash between the commit's pointer delete and rename leaves only
    ``_VERSION.tmp``. It is written after the snapshot and its manifest,
    so a complete one names a complete snapshot and is rolled forward
    (the rule ``fsutil.recover_swap`` follows for a ready staging dir).
    A roll-forward that leaves no pointer raises ``IOError``."""
    fs, Path = fsutil.hadoop_fs(spark)
    pointer = _pointer_path(table_dir)
    if not fs.exists(Path(pointer)):
        tmp = f"{pointer}.tmp"
        if not fs.exists(Path(tmp)):
            return None
        if not fsutil.read_text_file(spark, tmp).strip().isdigit():
            return None  # crashed writing the first pointer: no commit
        # A concurrent reader may have rolled it forward first.
        if not fs.rename(Path(tmp), Path(pointer)) and not fs.exists(Path(pointer)):
            raise IOError(f"could not roll {tmp} forward to {pointer}")
    return int(fsutil.read_text_file(spark, pointer).strip())


def head(spark: SparkSession, table_dir: str) -> dict | None:
    """The committed head's manifest (version, rows, note, parent), or
    None for a table with no snapshot."""
    version = current_version(spark, table_dir)
    if version is None:
        return None
    mpath = f"{_snapshot_dir(table_dir, version)}/{MANIFEST}"
    return json.loads(fsutil.read_text_file(spark, mpath))


def write_snapshot(
    spark: SparkSession, df: DataFrame, table_dir: str, note: str = ""
) -> int:
    """Publish ``df`` as the next snapshot and commit the pointer to
    it. Returns the new version number. The write is all-or-nothing:
    until the pointer rename, readers keep resolving the old snapshot.
    The manifest's row count is observed on the write, not read back.
    A pointer commit that does not name the new version raises
    ``IOError``.
    """
    prev = current_version(spark, table_dir)
    version = 0 if prev is None else prev + 1
    snap = _snapshot_dir(table_dir, version)
    written = Observation()
    df = df.observe(written, F.count(F.lit(1)).alias("rows"))
    df.write.mode("overwrite").parquet(snap)
    n_rows = written.get["rows"]
    fsutil.write_text_file(
        spark,
        f"{snap}/{MANIFEST}",
        json.dumps(
            {"version": version, "rows": n_rows, "note": note,
             "parent": prev}
        ),
    )
    # two-step pointer commit: tmp write + atomic rename
    pointer = _pointer_path(table_dir)
    fsutil.write_text_file(spark, f"{pointer}.tmp", str(version))
    fs, Path = fsutil.hadoop_fs(spark)
    fs.delete(Path(pointer), False)
    if not fs.rename(Path(f"{pointer}.tmp"), Path(pointer)):
        # A concurrent reader may have rolled the pointer forward.
        if current_version(spark, table_dir) != version:
            raise IOError(f"could not commit {pointer} to v={version}")
    return version


def read_snapshot(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> DataFrame:
    """Read the current snapshot, or time-travel to ``version``."""
    if version is None:
        version = current_version(spark, table_dir)
        if version is None:
            raise FileNotFoundError(
                f"versioned table has no committed snapshot: {table_dir}"
            )
    snap = _snapshot_dir(table_dir, version)
    if not fsutil.exists(spark, snap):
        raise FileNotFoundError(f"snapshot v={version} not found (vacuumed?)")
    return spark.read.parquet(snap)


def history(spark: SparkSession, table_dir: str) -> list[dict]:
    """Manifest of every retained snapshot, newest first."""
    head = current_version(spark, table_dir)
    out: list[dict] = []
    v = head
    while v is not None and v >= 0:
        mpath = f"{_snapshot_dir(table_dir, v)}/{MANIFEST}"
        if not fsutil.exists(spark, mpath):
            v -= 1  # vacuumed gap or pre-commit orphan
            continue
        m = json.loads(fsutil.read_text_file(spark, mpath))
        out.append(m)
        v = v - 1
    return out


def vacuum(
    spark: SparkSession, table_dir: str, keep_last: int = 2
) -> list[int]:
    """Delete snapshots older than the newest ``keep_last`` (the
    committed head is always retained). Also removes uncommitted
    orphan snapshots above the head (a crashed writer's leftovers).
    Returns the versions removed."""
    head = current_version(spark, table_dir)
    if head is None:
        return []
    fs, Path = fsutil.hadoop_fs(spark)
    removed: list[int] = []
    cutoff = head - max(keep_last, 1) + 1
    for status in fs.listStatus(Path(table_dir)):
        name = status.getPath().getName()
        if not name.startswith("v="):
            continue
        v = int(name[2:])
        if v < cutoff or v > head:
            fs.delete(status.getPath(), True)
            removed.append(v)
    return sorted(removed)


def snapshot_diff(
    spark: SparkSession,
    table_dir: str,
    from_version: int,
    to_version: int,
    key_col: str,
    include_old: bool = False,
) -> DataFrame:
    """CDC between two snapshots: one row per changed key with
    ``change ∈ {insert, delete, update}`` — inserts carry the new row's
    columns, deletes the old row's, updates the new ones. This is the
    change feed a downstream incremental consumer (or merge_upsert into
    a derived table) applies instead of reprocessing the full snapshot:
    at 100 TB the diff of a daily snapshot pair is typically orders of
    magnitude smaller than the table.

    With ``include_old=True`` each row also carries ``old_<col>``
    columns (null for inserts) — what a consumer needs to RETRACT the
    prior contribution of an updated/deleted row, e.g. the incremental
    materialized-view maintenance in :mod:`ex_hivent_spark.matview`.

    Plan: one full-outer join of the two immutable snapshots on the
    key; rows equal on every shared column drop out. The join is the
    unavoidable cost of diffing unordered snapshots — partition both
    snapshots by the key at write time (write_snapshot accepts any
    pre-partitioned frame) and it runs exchange-free."""
    old = read_snapshot(spark, table_dir, from_version)
    new = read_snapshot(spark, table_dir, to_version)
    cols = [c for c in new.columns if c != key_col]
    # Schema evolution: the diff is computed over the NEW snapshot's
    # schema. A column added since from_version reads as null on the
    # old side, so rows that gained a value for it classify as updates
    # — exactly what a downstream consumer must reprocess. Columns
    # dropped in the new schema fall out of the comparison.
    new_types = dict(new.dtypes)
    for c in cols:
        if c not in old.columns:
            old = old.withColumn(c, F.lit(None).cast(new_types[c]))
    o = old.select(
        F.col(key_col), F.struct(*cols).alias("__old")
    )
    n = new.select(
        F.col(key_col), F.struct(*cols).alias("__new")
    )
    j = o.join(n, key_col, "full_outer")
    change = (
        F.when(F.col("__old").isNull(), F.lit("insert"))
        .when(F.col("__new").isNull(), F.lit("delete"))
        .when(F.col("__old") != F.col("__new"), F.lit("update"))
    )
    payload = F.coalesce(F.col("__new"), F.col("__old"))
    out_cols = [payload[c].alias(c) for c in cols]
    if include_old:
        out_cols += [F.col("__old")[c].alias(f"old_{c}") for c in cols]
    return (
        j.withColumn("change", change)
        .filter(F.col("change").isNotNull())
        .select(key_col, "change", *out_cols)
    )
