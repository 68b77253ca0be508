"""Incremental materialized-view maintenance: an incrementally
refreshed aggregate view must equal a full recompute EXACTLY (bit-equal
decimal sums), across inserts, updates (including group-moving ones),
and deletes — plus noop detection and atomic versioned publication."""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import functions as F

from ex_hivent_spark import matview
from ex_hivent_spark.catalog import load_table
from ex_hivent_spark.sources import versioned


def _rows(df):
    cols = sorted(df.columns)
    return sorted(
        [tuple(r[c] for c in cols) for r in df.collect()], key=repr
    )


def _base_v0(spark, sf_dir):
    return (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .limit(400)
    )


def _setup(spark, sf_dir, tmp_path):
    base_dir = f"{tmp_path}/base"
    view_dir = f"{tmp_path}/view"
    versioned.write_snapshot(spark, _base_v0(spark, sf_dir), base_dir)
    matview.create(
        spark,
        base_dir,
        view_dir,
        group_cols=["o_orderstatus"],
        sum_cols=["o_totalprice"],
        key_col="o_orderkey",
    )
    return base_dir, view_dir


def test_create_matches_full_aggregate(spark, sf_dir, tmp_path):
    _, view_dir = _setup(spark, sf_dir, tmp_path)
    assert _rows(versioned.read_snapshot(spark, view_dir)) == _rows(
        matview.recompute(spark, view_dir)
    )


def test_incremental_refresh_equals_recompute(spark, sf_dir, tmp_path):
    base_dir, view_dir = _setup(spark, sf_dir, tmp_path)
    v0 = versioned.read_snapshot(spark, base_dir, 0)

    # churn: delete keys %7==0, reprice %5==0, MOVE %11==0 to a new
    # group (tests retraction in the old group + assertion in the new),
    # and insert two fresh rows
    changed = (
        v0.filter(F.col("o_orderkey") % 7 != 0)
        .withColumn(
            "o_totalprice",
            F.when(
                F.col("o_orderkey") % 5 == 0, F.col("o_totalprice") + 10.0
            ).otherwise(F.col("o_totalprice")),
        )
        .withColumn(
            "o_orderstatus",
            F.when(F.col("o_orderkey") % 11 == 0, F.lit("MOVED")).otherwise(
                F.col("o_orderstatus")
            ),
        )
    )
    inserts = spark.createDataFrame(
        [(10_000_001, "O", 111.5), (10_000_002, "MOVED", 22.25)],
        "o_orderkey long, o_orderstatus string, o_totalprice double",
    )
    versioned.write_snapshot(
        spark, changed.unionByName(inserts), base_dir
    )

    report = matview.refresh(spark, view_dir)
    assert report["mode"] == "incremental"
    assert report["base_from"] == 0 and report["base_to"] == 1
    assert report["changes"] > 0

    got = _rows(versioned.read_snapshot(spark, view_dir))
    want = _rows(matview.recompute(spark, view_dir))
    assert got == want  # bit-exact, including the decimal sums


def test_refresh_chain_and_group_disappearance(spark, sf_dir, tmp_path):
    base_dir, view_dir = _setup(spark, sf_dir, tmp_path)
    v0 = versioned.read_snapshot(spark, base_dir, 0)

    # v1: drop an entire group -> its state row must disappear
    statuses = [r[0] for r in v0.select("o_orderstatus").distinct().collect()]
    victim = sorted(statuses)[0]
    versioned.write_snapshot(
        spark, v0.filter(F.col("o_orderstatus") != victim), base_dir
    )
    matview.refresh(spark, view_dir)
    state = versioned.read_snapshot(spark, view_dir)
    assert state.filter(F.col("o_orderstatus") == victim).count() == 0
    assert _rows(state) == _rows(matview.recompute(spark, view_dir))

    # v2: more churn on top — the SECOND incremental fold must still
    # equal a recompute (state composes across refreshes)
    v1 = versioned.read_snapshot(spark, base_dir, 1)
    versioned.write_snapshot(
        spark,
        v1.withColumn(
            "o_totalprice",
            F.when(
                F.col("o_orderkey") % 3 == 0, F.col("o_totalprice") * 2.0
            ).otherwise(F.col("o_totalprice")),
        ),
        base_dir,
    )
    r2 = matview.refresh(spark, view_dir)
    assert r2["mode"] == "incremental" and r2["base_from"] == 1
    assert _rows(versioned.read_snapshot(spark, view_dir)) == _rows(
        matview.recompute(spark, view_dir)
    )


def test_noop_refresh_and_versioned_publication(spark, sf_dir, tmp_path):
    base_dir, view_dir = _setup(spark, sf_dir, tmp_path)
    assert matview.refresh(spark, view_dir)["mode"] == "noop"
    assert versioned.current_version(spark, view_dir) == 0  # no new snap

    versioned.write_snapshot(
        spark,
        versioned.read_snapshot(spark, base_dir, 0).filter(
            F.col("o_orderkey") % 2 == 0
        ),
        base_dir,
    )
    matview.refresh(spark, view_dir)
    # the refresh published view v1 atomically; v0 stays time-travelable
    assert versioned.current_version(spark, view_dir) == 1
    assert versioned.read_snapshot(spark, view_dir, 0).count() > 0


def test_read_view_derives_exact_averages(spark, sf_dir, tmp_path):
    _, view_dir = _setup(spark, sf_dir, tmp_path)
    out = matview.read_view(spark, view_dir)
    row = out.orderBy("o_orderstatus").first()
    assert isinstance(row["sum_o_totalprice"], Decimal)
    assert row["avg_o_totalprice"] == float(row["sum_o_totalprice"]) / float(
        row["n_rows"]
    )


def test_seeded_random_churn_parity(spark, sf_dir, tmp_path):
    """Five rounds of seeded-random churn (delete/update/move/insert
    mixes drawn per round) — after EVERY refresh the folded state must
    equal a recompute bit-exactly. This is the IVM soundness argument
    run as a property: if any retraction/assertion path mishandled a
    case, drift would compound across rounds and the equality would
    break."""
    import random

    base_dir, view_dir = _setup(spark, sf_dir, tmp_path)
    rng = random.Random(42)
    next_key = 20_000_000
    for rnd in range(5):
        cur = versioned.read_snapshot(spark, base_dir)
        del_mod = rng.choice([5, 7, 9])
        upd_mod = rng.choice([3, 4, 6])
        move_mod = rng.choice([8, 11, 13])
        changed = (
            cur.filter(F.col("o_orderkey") % del_mod != 0)
            .withColumn(
                "o_totalprice",
                F.when(
                    F.col("o_orderkey") % upd_mod == 0,
                    F.col("o_totalprice") + float(rnd + 1),
                ).otherwise(F.col("o_totalprice")),
            )
            .withColumn(
                "o_orderstatus",
                F.when(
                    F.col("o_orderkey") % move_mod == 0,
                    F.concat(F.lit(f"G{rnd}_"), F.col("o_orderstatus")),
                ).otherwise(F.col("o_orderstatus")),
            )
        )
        inserts = spark.createDataFrame(
            [
                (next_key + i, rng.choice(["O", "F", "P", f"G{rnd}_O"]),
                 round(rng.uniform(1, 500), 2))
                for i in range(rng.randint(1, 4))
            ],
            "o_orderkey long, o_orderstatus string, o_totalprice double",
        )
        next_key += 10
        versioned.write_snapshot(spark, changed.unionByName(inserts), base_dir)
        report = matview.refresh(spark, view_dir)
        assert report["mode"] == "incremental", f"round {rnd}: {report}"
        assert _rows(versioned.read_snapshot(spark, view_dir)) == _rows(
            matview.recompute(spark, view_dir)
        ), f"state diverged from recompute at churn round {rnd}"


def _setup_minmax(spark, sf_dir, tmp_path):
    base_dir = f"{tmp_path}/base"
    view_dir = f"{tmp_path}/view"
    versioned.write_snapshot(spark, _base_v0(spark, sf_dir), base_dir)
    matview.create(
        spark,
        base_dir,
        view_dir,
        group_cols=["o_orderstatus"],
        sum_cols=["o_totalprice"],
        key_col="o_orderkey",
        minmax_cols=["o_totalprice"],
    )
    return base_dir, view_dir


def test_minmax_create_matches_recompute(spark, sf_dir, tmp_path):
    _, view_dir = _setup_minmax(spark, sf_dir, tmp_path)
    state = versioned.read_snapshot(spark, view_dir)
    assert "min_o_totalprice" in state.columns
    assert _rows(state) == _rows(matview.recompute(spark, view_dir))


def test_minmax_survives_deleting_the_extreme(spark, sf_dir, tmp_path):
    """Delete the reigning max row of one group — the monotonic fold
    cannot lower the stored max, so this exercises the pruned-repair
    path, which must land exactly on the recompute."""
    base_dir, view_dir = _setup_minmax(spark, sf_dir, tmp_path)
    v0 = versioned.read_snapshot(spark, base_dir, 0)
    # the single row holding the global max price
    top = v0.orderBy(F.col("o_totalprice").desc(), "o_orderkey").first()
    versioned.write_snapshot(
        spark, v0.filter(F.col("o_orderkey") != top["o_orderkey"]), base_dir
    )
    report = matview.refresh(spark, view_dir)
    assert report["mode"] == "incremental"
    state = versioned.read_snapshot(spark, view_dir)
    assert _rows(state) == _rows(matview.recompute(spark, view_dir))
    # and the stored max really dropped below the deleted row's value
    grp_max = state.filter(
        F.col("o_orderstatus") == top["o_orderstatus"]
    ).first()["max_o_totalprice"]
    assert grp_max < top["o_totalprice"]


def test_minmax_insert_only_folds_monotonically(spark, sf_dir, tmp_path):
    base_dir, view_dir = _setup_minmax(spark, sf_dir, tmp_path)
    v0 = versioned.read_snapshot(spark, base_dir, 0)
    inserts = spark.createDataFrame(
        [(10_000_001, "O", 999999.0), (10_000_002, "O", 0.01)],
        "o_orderkey long, o_orderstatus string, o_totalprice double",
    )
    versioned.write_snapshot(spark, v0.unionByName(inserts), base_dir)
    matview.refresh(spark, view_dir)
    state = versioned.read_snapshot(spark, view_dir)
    assert _rows(state) == _rows(matview.recompute(spark, view_dir))
    row = state.filter(F.col("o_orderstatus") == "O").first()
    assert row["max_o_totalprice"] == 999999.0
    assert row["min_o_totalprice"] == 0.01


def test_minmax_seeded_churn_parity(spark, sf_dir, tmp_path):
    """Three rounds of churn that mix deletes of extremes, group moves,
    and inserts — every refresh must equal the recompute bit-exactly,
    min/max included."""
    import random

    base_dir, view_dir = _setup_minmax(spark, sf_dir, tmp_path)
    rng = random.Random(7)
    next_key = 30_000_000
    for rnd in range(3):
        cur = versioned.read_snapshot(spark, base_dir)
        del_mod = rng.choice([4, 6, 9])
        changed = (
            cur.filter(F.col("o_orderkey") % del_mod != 0)
            .withColumn(
                "o_orderstatus",
                F.when(
                    F.col("o_orderkey") % 10 == 1, F.lit(f"M{rnd}")
                ).otherwise(F.col("o_orderstatus")),
            )
        )
        inserts = spark.createDataFrame(
            [(next_key, "O", round(rng.uniform(0, 1e6), 2))],
            "o_orderkey long, o_orderstatus string, o_totalprice double",
        )
        next_key += 1
        versioned.write_snapshot(spark, changed.unionByName(inserts), base_dir)
        matview.refresh(spark, view_dir)
        assert _rows(versioned.read_snapshot(spark, view_dir)) == _rows(
            matview.recompute(spark, view_dir)
        ), f"min/max state diverged at churn round {rnd}"


def test_refresh_fences_on_head_note_no_double_count(
    spark, sf_dir, tmp_path
):
    """The view's progress lives only in its head snapshot's note: the
    _MATVIEW.json manifest records no base version, and a second
    refresh over an unchanged base finds the diff v0->v1 already folded
    and is a noop instead of re-applying it."""
    import json as _json

    from ex_hivent_spark import fsutil

    base_dir, view_dir = _setup(spark, sf_dir, tmp_path)
    v0 = versioned.read_snapshot(spark, base_dir, 0)
    versioned.write_snapshot(
        spark, v0.filter(F.col("o_orderkey") % 2 == 0), base_dir
    )
    assert matview.refresh(spark, view_dir)["mode"] == "incremental"

    mpath = f"{view_dir}/{matview.MANIFEST}"
    assert "base_version" not in _json.loads(fsutil.read_text_file(spark, mpath))

    report = matview.refresh(spark, view_dir)
    assert report["mode"] == "noop"
    assert report["base_from"] == 1
    assert _rows(versioned.read_snapshot(spark, view_dir)) == _rows(
        matview.recompute(spark, view_dir)
    )


def test_null_group_key_folds_exactly(spark, sf_dir, tmp_path):
    """A NULL group key is a legal GROUP BY group. The state<->delta
    joins must match NULL keys null-safely or the null group's state
    and delta rows survive separately and diverge from recompute."""
    base_dir = f"{tmp_path}/base"
    view_dir = f"{tmp_path}/view"
    v0 = spark.createDataFrame(
        [(1, None, 10.0), (2, None, 20.0), (3, "A", 5.0), (4, "A", 7.0)],
        "k long, g string, x double",
    )
    versioned.write_snapshot(spark, v0, base_dir)
    matview.create(
        spark, base_dir, view_dir,
        group_cols=["g"], sum_cols=["x"], key_col="k",
        minmax_cols=["x"],
    )
    # churn touching the NULL group: delete one null-group row (its
    # reigning max), insert another, update the A group
    v1 = spark.createDataFrame(
        [(2, None, 20.0), (5, None, 1.0), (3, "A", 6.0), (4, "A", 7.0)],
        "k long, g string, x double",
    )
    versioned.write_snapshot(spark, v1, base_dir)
    report = matview.refresh(spark, view_dir)
    assert report["mode"] == "incremental"
    state = versioned.read_snapshot(spark, view_dir)
    assert _rows(state) == _rows(matview.recompute(spark, view_dir))
    null_row = state.filter(F.col("g").isNull()).collect()
    assert len(null_row) == 1  # ONE null-group row, not two
    assert null_row[0]["n_rows"] == 2
    assert null_row[0]["max_x"] == 20.0
