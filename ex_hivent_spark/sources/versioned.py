"""Snapshot-versioned parquet tables: time travel, atomic commits,
retention vacuum.

Every write lands in an immutable ``v=N`` snapshot directory and a tiny
``_VERSION`` pointer file names the current one — the single-file
analogue of a Delta/Iceberg log head. Readers resolve the pointer once
and then scan an immutable directory, so a concurrent writer can
publish ``v=N+1`` without ever disturbing an in-flight ``v=N`` scan
(snapshot isolation for free), and any historical version stays
queryable until vacuumed. The streaming views and the hourly rollup
publish through it; it is the program's one table commit.

Commit protocol (single-writer, HCFS rename semantics):

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
    so a complete one names a complete snapshot and is rolled forward.
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
    # No _SUCCESS marker: the pointer rename commits the snapshot.
    df.write.mode("overwrite").option(
        "mapreduce.fileoutputcommitter.marksuccessfuljobs", "false"
    ).parquet(snap)
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
    """Manifest of every retained snapshot, newest first. One listing
    of the table finds the ``v=N`` directories at or below the head, so
    the cost follows the retained snapshots, not the head version."""
    head = current_version(spark, table_dir)
    if head is None:
        return []
    fs, Path = fsutil.hadoop_fs(spark)
    names = [s.getPath().getName() for s in fs.listStatus(Path(table_dir))]
    versions = [int(n[2:]) for n in names if n.startswith("v=")]
    out: list[dict] = []
    for v in sorted((v for v in versions if v <= head), reverse=True):
        mpath = f"{_snapshot_dir(table_dir, v)}/{MANIFEST}"
        if fsutil.exists(spark, mpath):  # a crashed vacuum leaves none
            out.append(json.loads(fsutil.read_text_file(spark, mpath)))
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
