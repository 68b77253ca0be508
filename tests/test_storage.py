"""Storage-layout plan evidence: partition pruning on partitioned
writes and shuffle-free joins on bucketed tables — the two write-time
layouts that pay for themselves at 100 TB."""

from __future__ import annotations

from pyspark.sql import functions as F

from ex_hivent_spark.catalog import load_table
from ex_hivent_spark.sources.sinks import write_bucketed_table, write_partitioned


def _plan(df, mode="formatted"):
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode
    )


def test_partitioned_write_prunes_on_read(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents")
    out = str(tmp_path / "docs_by_lang")
    write_partitioned(docs, out, ["lang"])

    back = spark.read.parquet(out).filter(F.col("lang") == "de")
    plan = _plan(back)
    # the lang predicate must be a partition filter, not a data filter
    assert "PartitionFilters" in plan
    pf_line = plan.split("PartitionFilters")[1].splitlines()[0]
    assert "lang" in pf_line
    # row parity with the unpartitioned source
    assert back.count() == docs.filter(F.col("lang") == "de").count()


def test_partitioned_roundtrip_preserves_rows(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents")
    out = str(tmp_path / "docs_rt")
    write_partitioned(docs, out, ["lang", "source"])
    back = spark.read.parquet(out)
    assert back.count() == docs.count()
    assert sorted(back.columns) == sorted(docs.columns)


def test_bucketed_join_is_shuffle_free(spark, sf_dir, tmp_path):
    """orders ⋈ lineitem on the bucket key must plan with no Exchange —
    the co-located layout replaces the per-query shuffle."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    write_bucketed_table(
        spark, o, "t_orders_b", str(tmp_path / "ob"), "o_orderkey", 4,
        sort_col="o_orderkey",
    )
    write_bucketed_table(
        spark, li, "t_lineitem_b", str(tmp_path / "lb"), "l_orderkey", 4,
        sort_col="l_orderkey",
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    try:
        # disable broadcast so the planner exercises the bucketed
        # sort-merge path (at real fact-table sizes broadcast is off the
        # table anyway — this test models that regime)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        ob = spark.table("t_orders_b")
        lb = spark.table("t_lineitem_b")
        joined = ob.join(lb, ob.o_orderkey == lb.l_orderkey)
        plan = _plan(joined, mode="simple")
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan
        # and the result is the same join
        plain = o.join(li, o.o_orderkey == li.l_orderkey)
        assert joined.count() == plain.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_lineitem_b")


def test_schema_evolution_merge_read(spark, tmp_path):
    """Appends with a widened schema read back losslessly under
    mergeSchema (old rows surface NULL for the new column) — the
    additive-evolution contract a long-lived event table needs."""
    out = str(tmp_path / "evolving")
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, name string"
    ).write.mode("append").parquet(out)
    spark.createDataFrame(
        [(3, "c", 3.5)], "id long, name string, score double"
    ).write.mode("append").parquet(out)

    merged = spark.read.option("mergeSchema", "true").parquet(out)
    assert sorted(merged.columns) == ["id", "name", "score"]
    rows = {r.id: (r.name, r.score) for r in merged.collect()}
    assert rows == {1: ("a", None), 2: ("b", None), 3: ("c", 3.5)}


# ---------------------------------------------------------------------------
# snapshot-versioned tables (time travel)
# ---------------------------------------------------------------------------
def test_versioned_table_time_travel(spark, tmp_path):
    """Each write commits a new immutable snapshot; old versions stay
    readable until vacuumed and the pointer always names the newest."""
    from ex_hivent_spark.sources import versioned as V

    t = str(tmp_path / "tbl")
    assert V.current_version(spark, t) is None
    v0 = V.write_snapshot(spark, spark.range(0, 10), t, note="initial")
    v1 = V.write_snapshot(spark, spark.range(0, 25), t, note="append batch")
    assert (v0, v1) == (0, 1)
    assert V.current_version(spark, t) == 1
    assert V.read_snapshot(spark, t).count() == 25
    assert V.read_snapshot(spark, t, version=0).count() == 10
    hist = V.history(spark, t)
    assert [h["version"] for h in hist] == [1, 0]
    assert hist[0]["rows"] == 25 and hist[0]["parent"] == 0
    assert hist[1]["note"] == "initial"


def test_versioned_table_vacuum_and_orphans(spark, tmp_path):
    """Vacuum removes old snapshots beyond the retention window AND
    uncommitted orphan directories above the head; the head survives."""
    import shutil

    from ex_hivent_spark.sources import versioned as V

    t = str(tmp_path / "tbl2")
    for n in (5, 6, 7, 8):
        V.write_snapshot(spark, spark.range(0, n), t)
    # simulate a crashed writer: v=99 exists but pointer still says 3
    shutil.copytree(f"{t}/v=3", f"{t}/v=99")
    removed = V.vacuum(spark, t, keep_last=2)
    assert removed == [0, 1, 99]
    assert V.read_snapshot(spark, t).count() == 8
    assert V.read_snapshot(spark, t, version=2).count() == 7
    import pytest

    with pytest.raises(FileNotFoundError):
        V.read_snapshot(spark, t, version=0)
    # history skips vacuumed versions without error
    assert [h["version"] for h in V.history(spark, t)] == [3, 2]


def test_history_probes_do_not_grow_with_the_head(spark, tmp_path, monkeypatch):
    """history lists the table once and reads only the retained
    manifests: with two snapshots kept, the filesystem calls it makes
    at head 11 are as many as at head 1, and the output is the same
    newest-first manifest list."""
    from ex_hivent_spark import fsutil
    from ex_hivent_spark.sources import versioned as V

    t = str(tmp_path / "tbl")
    real = fsutil.hadoop_fs
    calls = []

    class Counting:
        def __init__(self, fs):
            self._fs = fs

        def __getattr__(self, name):
            calls.append(name)
            return getattr(self._fs, name)

    def counting(session):
        fs, Path = real(session)
        return Counting(fs), Path

    def probes():
        calls.clear()
        monkeypatch.setattr(fsutil, "hadoop_fs", counting)
        try:
            hist = V.history(spark, t)
        finally:
            monkeypatch.setattr(fsutil, "hadoop_fs", real)
        return hist, len(calls)

    for i in range(12):
        V.write_snapshot(spark, spark.range(0, i + 1), t, note=f"n{i}")
        V.vacuum(spark, t, keep_last=2)
        if i == 1:
            early, early_probes = probes()
    late, late_probes = probes()
    assert [(h["version"], h["note"]) for h in early] == [(1, "n1"), (0, "n0")]
    assert [(h["version"], h["rows"], h["parent"]) for h in late] == [
        (11, 12, 10), (10, 11, 9),
    ]
    assert late_probes == early_probes


def test_versioned_pointer_commit_is_crash_safe(spark, tmp_path):
    """A fully-written but uncommitted snapshot (crash before the
    pointer rename) is invisible to readers: the pointer still resolves
    the previous version."""
    from ex_hivent_spark.sources import versioned as V

    t = str(tmp_path / "tbl3")
    V.write_snapshot(spark, spark.range(0, 4), t)
    # hand-write v=1 WITHOUT committing the pointer (simulates a crash
    # between data write and pointer rename)
    spark.range(0, 999).write.parquet(f"{t}/v=1")
    assert V.current_version(spark, t) == 0
    assert V.read_snapshot(spark, t).count() == 4
    # the next real write claims version 1... but v=1 dir exists from
    # the crash; write_snapshot overwrites it (mode=overwrite) and
    # commits cleanly
    v = V.write_snapshot(spark, spark.range(0, 6), t)
    assert v == 1 and V.read_snapshot(spark, t).count() == 6


def test_versioned_pointer_rolls_forward_after_crash_mid_rename(spark, tmp_path):
    """A crash between the pointer commit's delete and rename leaves
    only ``_VERSION.tmp``: the head must still resolve to the committed
    version, and the next continuous-view publish must keep the exact
    state instead of restarting from version 0 and vacuuming every real
    snapshot as an orphan above the head."""
    import json
    import os

    from ex_hivent_spark.sources import versioned as V
    from ex_hivent_spark.streaming.continuous_view import ContinuousAggregateView

    t = str(tmp_path / "view")
    src = tmp_path / "src"
    src.mkdir()
    view = ContinuousAggregateView(spark, t, ["cat"], ["val"])

    def add_file(i):
        with open(src / f"f{i}.json", "w") as f:
            for cat, val in [("a", 1.0), ("b", 2.0)]:
                f.write(json.dumps({"cat": cat, "val": val}) + "\n")

    def drain():
        stream = (
            spark.readStream.schema("cat string, val double")
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )
        q = view.start(stream, str(tmp_path / "chk"))
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    def state():
        return sorted(
            (r.cat, r.n_rows, float(r.sum_val)) for r in view.read().collect()
        )

    for i in range(3):
        add_file(i)
    drain()
    assert state() == [("a", 3, 3.0), ("b", 3, 6.0)]
    committed = V.current_version(spark, t)

    os.rename(f"{t}/_VERSION", f"{t}/_VERSION.tmp")
    os.remove(f"{t}/._VERSION.crc")
    assert V.head(spark, t)["version"] == committed
    assert os.path.exists(f"{t}/_VERSION")

    add_file(3)
    drain()
    assert state() == [("a", 4, 4.0), ("b", 4, 8.0)]
    assert V.current_version(spark, t) == committed + 1
    assert V.read_snapshot(spark, t, committed).count() == 2


def test_versioned_pointer_rename_failure_raises(spark, tmp_path, monkeypatch):
    """A pointer rename the filesystem refuses is a failed commit:
    write_snapshot and the roll-forward in current_version raise
    instead of reporting the version as committed."""
    import os

    import pytest

    from ex_hivent_spark import fsutil
    from ex_hivent_spark.sources import versioned as V

    t = str(tmp_path / "tbl")
    V.write_snapshot(spark, spark.range(0, 3), t)

    class NoRename:
        def __init__(self, fs):
            self._fs = fs

        def rename(self, src, dst):
            return False

        def __getattr__(self, name):
            return getattr(self._fs, name)

    real = fsutil.hadoop_fs

    def refusing(session):
        fs, Path = real(session)
        return NoRename(fs), Path

    monkeypatch.setattr(fsutil, "hadoop_fs", refusing)
    with pytest.raises(IOError):
        V.write_snapshot(spark, spark.range(0, 5), t)
    assert os.path.exists(f"{t}/_VERSION.tmp")
    with pytest.raises(IOError):
        V.current_version(spark, t)

    monkeypatch.setattr(fsutil, "hadoop_fs", real)
    assert V.current_version(spark, t) == 1
    assert V.read_snapshot(spark, t).count() == 5


def test_dynamic_partition_pruning_on_join(spark, sf_dir, tmp_path):
    """Catalyst's dynamic partition pruning must kick in when a
    partitioned fact table is joined against a filtered dim: the fact
    scan's PartitionFilters gains a dynamicpruning subquery, so at
    100 TB only the joined partitions are read at all."""
    from ex_hivent_spark.catalog import load_table

    fact = str(tmp_path / "events_by_type")
    load_table(spark, sf_dir, "events").write.partitionBy(
        "event_type"
    ).mode("overwrite").parquet(fact)

    dim = spark.createDataFrame(
        [("purchase", 1.0), ("view", 0.5)], ["event_type", "weight"]
    )
    joined = (
        spark.read.parquet(fact)
        .join(dim.filter("weight > 0.9"), "event_type")
    )
    plan = joined._sc._jvm.PythonSQLUtils.explainString(
        joined._jdf.queryExecution(), "formatted"
    )
    assert "dynamicpruning" in plan
    # semantics: only the surviving partition's rows come back
    n_purchase = (
        spark.read.parquet(fact)
        .filter("event_type = 'purchase'")
        .count()
    )
    assert joined.count() == n_purchase


def test_streaming_publishes_versioned_snapshots(spark, tmp_path):
    """Composition: a streaming consumer publishing each micro-batch's
    derived state as a committed snapshot — readers time-travel across
    batch boundaries and always see a fully-committed version, never a
    half-written one."""
    from ex_hivent_spark.sources import versioned as V

    src = str(tmp_path / "src")
    tbl = str(tmp_path / "versioned_out")
    ckpt = str(tmp_path / "ckpt")
    import os

    os.makedirs(src)

    def publish(batch_df, batch_id):
        agg = batch_df.groupBy("k").count()
        V.write_snapshot(spark, agg, tbl, note=f"batch {batch_id}")

    # data exists before the stream starts, so batch 0 is never empty
    # (an empty pre-append batch 0 would make the version bookkeeping
    # below timing-dependent)
    spark.range(100).selectExpr("id", "id % 3 AS k").write.mode(
        "append"
    ).json(src)
    q = (
        spark.readStream.schema("id LONG, k LONG")
        .json(src)
        .writeStream.foreachBatch(publish)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        v_after_first = V.current_version(spark, tbl)
        spark.range(100, 160).selectExpr("id", "id % 3 AS k").write.mode(
            "append"
        ).json(src)
        q.processAllAvailable()
    finally:
        q.stop()

    assert v_after_first is not None
    head = V.current_version(spark, tbl)
    assert head > v_after_first
    # the first committed snapshot is still time-travelable and
    # reflects only the first batch's rows
    first = V.read_snapshot(spark, tbl, version=v_after_first)
    assert sum(r["count"] for r in first.collect()) == 100
    assert V.history(spark, tbl)[0]["version"] == head
