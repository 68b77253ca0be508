"""Incrementally-maintained materialized views over snapshot-versioned
tables — the DBSP/Materialize idea scoped to distributive aggregates.

A materialized aggregate view (GROUP BY keys → count + sums) can be
kept current WITHOUT reprocessing the base table: every base-table
change decomposes into retractions (-1, -value for the old row) and
assertions (+1, +value for the new row), and because count and
decimal-sum are commutative groups, folding those deltas into the
stored state lands on EXACTLY the state a full recompute produces.
That exactness is why the state stores sums as ``decimal(25,6)`` (the
repo-wide deterministic-aggregation convention, functions/decimals.py)
— float sums are order-dependent, so an incrementally-folded float
state would drift from a recompute even with correct logic.

Composition: the base table is a :mod:`sources.versioned` table, the
change feed is ``snapshot_diff(include_old=True)`` (one join of two
immutable snapshots), the view state itself is ANOTHER versioned table
(so view refreshes are atomic, time-travelable, and crash-safe via the
same pointer-rename commit), and a ``_MATVIEW.json`` manifest, written
once by :func:`create`, pins the view definition. The base version the
view reflects is recorded in one place only: the note of the view's
head snapshot, which commits with the state in the same pointer
rename.

Scale shape: refresh cost is O(|diff|) + one join against the view
state on the group key — never a base-table scan. At 100 TB with a
daily 0.1% churn, that's a 100 GB diff folded into a state table that
is |groups|-sized; the full recompute this replaces is the whole
100 TB. An update that MOVES a row between groups is handled by
construction (retraction lands in the old group, assertion in the
new), and groups whose count reaches zero leave the state.

Reference parity note: the reference (an Elixir event-transport
client, SURVEY.md §0) has no storage layer; this derives from the
driver's engine-completeness mandate, following published IVM
semantics (delta processing over Z-sets / DBSP; Delta Live Tables'
incremental aggregates).
"""

from __future__ import annotations

import json
import re
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ex_hivent_spark import fsutil
from ex_hivent_spark.functions.decimals import DEC
from ex_hivent_spark.sources import versioned

MANIFEST = "_MATVIEW.json"


def _manifest_path(view_dir: str) -> str:
    return f"{view_dir}/{MANIFEST}"


def _read_manifest(spark: SparkSession, view_dir: str) -> dict:
    return json.loads(fsutil.read_text_file(spark, _manifest_path(view_dir)))


def _null_safe_on(
    left: DataFrame, right: DataFrame, group_cols: list[str]
) -> Column:
    """Null-safe equi-join condition over the group key. A NULL group
    key is a legal GROUP BY group; plain ``=`` never matches NULL to
    NULL, so a null-keyed state row and its delta would survive as two
    separate rows and the fold would silently diverge from recompute().
    Every state<->delta join in this module therefore uses eqNullSafe
    (Spark plans it as a hash join on the key, same shuffle shape)."""
    return reduce(
        lambda a, b: a & b,
        [left[c].eqNullSafe(right[c]) for c in group_cols],
    )


def _aggregate(
    df: DataFrame,
    group_cols: list[str],
    sum_cols: list[str],
    minmax_cols: list[str] = (),
) -> DataFrame:
    """Full aggregation of a base frame into view-state shape: exact
    bigint count + decimal sums (the group-fold representation), plus
    exact min/max per ``minmax_cols`` column."""
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n_rows")] + [
        F.sum(F.col(c).cast(DEC)).alias(f"sum_{c}") for c in sum_cols
    ]
    for c in minmax_cols:
        aggs += [F.min(c).alias(f"min_{c}"), F.max(c).alias(f"max_{c}")]
    return df.groupBy(*group_cols).agg(*aggs)


def fold_state(
    state: DataFrame,
    deltas: DataFrame,
    group_cols: list[str],
    sum_cols: list[str],
    minmax_cols: list[str] = (),
) -> DataFrame:
    """Fold a delta frame into a view state. Deltas come in the state's
    own shape (``n_rows`` + ``sum_<col>`` [+ ``min_/max_<col>``], as
    :func:`_aggregate` builds it), so one batch's aggregate IS its
    delta: one full-outer join on the group key, coalesced group-wise
    addition, zero-count groups dropped. The batch refresh folds its
    change feed with it; the streaming continuous view, whose state
    Spark's own aggregation keeps, uses it only to merge a head left by
    another query into a new query's output.

    Min/max fold monotonically (least/greatest, nulls skipped) — sound
    for ASSERTIONS only. A retraction can delete the reigning extreme,
    which no fold can recover; the batch refresh repairs
    retraction-touched groups with a pruned recompute afterwards
    (see refresh). Two aggregates of disjoint append-only streams
    merge exactly."""
    s, d = state.alias("s"), deltas.alias("d")
    out_cols = [
        (
            F.coalesce(s["n_rows"], F.lit(0))
            + F.coalesce(d["n_rows"], F.lit(0))
        ).cast("bigint").alias("n_rows"),
    ] + [
        (
            F.coalesce(s[f"sum_{c}"], F.lit(0).cast(DEC))
            + F.coalesce(d[f"sum_{c}"], F.lit(0).cast(DEC))
        ).cast(DEC).alias(f"sum_{c}")
        for c in sum_cols
    ]
    for c in minmax_cols:
        out_cols += [
            F.least(s[f"min_{c}"], d[f"min_{c}"]).alias(f"min_{c}"),
            F.greatest(s[f"max_{c}"], d[f"max_{c}"]).alias(f"max_{c}"),
        ]
    key_cols = [
        F.coalesce(s[c], d[c]).alias(c) for c in group_cols
    ]  # coalesce is key-identity here: sides only both-match when
    # eqNullSafe-equal, and a NULL key coalesces from whichever side
    # is present
    merged = s.join(d, _null_safe_on(s, d, group_cols), "full_outer").select(
        *key_cols, *out_cols
    )
    return merged.filter(F.col("n_rows") > 0)


def create(
    spark: SparkSession,
    base_dir: str,
    view_dir: str,
    group_cols: list[str],
    sum_cols: list[str],
    key_col: str,
    minmax_cols: list[str] = (),
) -> int:
    """Materialize the aggregate view from the CURRENT base snapshot
    and pin its definition. Returns the view's snapshot version (0).

    ``key_col`` is the base table's row identity — what snapshot_diff
    keys the change feed on during refresh. ``minmax_cols`` adds exact
    per-group min/max maintenance (non-retractable: refresh repairs
    retraction-touched groups with a pruned recompute)."""
    base_version = versioned.current_version(spark, base_dir)
    if base_version is None:
        raise FileNotFoundError(f"base table has no snapshot: {base_dir}")
    base = versioned.read_snapshot(spark, base_dir, base_version)
    state = _aggregate(base, group_cols, sum_cols, minmax_cols)
    v = versioned.write_snapshot(
        spark, state, view_dir, note=f"matview full @ base v{base_version}"
    )
    fsutil.write_text_file(
        spark,
        _manifest_path(view_dir),
        json.dumps(
            {
                "base_dir": base_dir,
                "key_col": key_col,
                "group_cols": group_cols,
                "sum_cols": sum_cols,
                "minmax_cols": list(minmax_cols),
            }
        ),
    )
    return v


_NOTE_RE = re.compile(r"matview (?:full @ base |incremental base v\d+->)v(\d+)")


def _committed_base_version(spark: SparkSession, view_dir: str) -> int:
    """The base version the committed view head reflects, read from
    the head snapshot's note ("matview full @ base vN" / "matview
    incremental base vA->vB"). The note commits with the state in one
    pointer rename, so no crash can leave the state and its base
    version apart: a refresh after a crash never re-applies a diff the
    head already folded."""
    head = versioned.head(spark, view_dir)
    return int(_NOTE_RE.match(head["note"]).group(1))


def refresh(spark: SparkSession, view_dir: str) -> dict:
    """Fold the base table's changes since the last refresh into the
    view state — O(|diff|), no base rescan. Returns a refresh report
    ``{mode, base_from, base_to, changes, groups_touched}``; ``mode``
    is "noop" when the base hasn't moved.

    ``base_from`` is the base version named by the committed head's
    note, and the new snapshot's note names ``base_to``: state and
    progress commit together, so refresh writes no manifest."""
    m = _read_manifest(spark, view_dir)
    base_from = _committed_base_version(spark, view_dir)
    base_to = versioned.current_version(spark, m["base_dir"])
    if base_to == base_from:
        return {
            "mode": "noop",
            "base_from": base_from,
            "base_to": base_to,
            "changes": 0,
            "groups_touched": 0,
        }
    group_cols, sum_cols = m["group_cols"], m["sum_cols"]
    minmax_cols = m.get("minmax_cols", [])
    diff = versioned.snapshot_diff(
        spark,
        m["base_dir"],
        base_from,
        base_to,
        m["key_col"],
        include_old=True,
    ).localCheckpoint(eager=False)  # reused: assertions + retractions
    n_changes = diff.count()

    # Assertions: +1/+value under the NEW row's group (inserts+updates);
    # retractions: -1/-value under the OLD row's group (deletes+updates).
    # A group-moving update thus contributes to both groups — correct by
    # construction.
    # Min/max assertion extremes ride along as NULL on retraction rows
    # (F.min/max skip nulls), so a retraction-only group folds its
    # min/max unchanged — and is then repaired below.
    diff_types = dict(diff.dtypes)
    assert_rows = diff.filter(F.col("change") != "delete").select(
        *[F.col(c) for c in group_cols],
        F.lit(1).cast("bigint").alias("n_rows"),
        *[F.col(c).cast(DEC).alias(f"sum_{c}") for c in sum_cols],
        *[F.col(c).alias(f"mm_{c}") for c in minmax_cols],
    )
    retract_rows = diff.filter(F.col("change") != "insert").select(
        *[F.col(f"old_{c}").alias(c) for c in group_cols],
        F.lit(-1).cast("bigint").alias("n_rows"),
        *[(-F.col(f"old_{c}").cast(DEC)).alias(f"sum_{c}") for c in sum_cols],
        *[
            F.lit(None).cast(diff_types[c]).alias(f"mm_{c}")
            for c in minmax_cols
        ],
    )
    deltas = (
        assert_rows.unionByName(retract_rows)
        .groupBy(*group_cols)
        .agg(
            F.sum("n_rows").cast("bigint").alias("n_rows"),
            *[
                F.sum(f"sum_{c}").cast(DEC).alias(f"sum_{c}")
                for c in sum_cols
            ],
            *[
                agg
                for c in minmax_cols
                for agg in (
                    F.min(f"mm_{c}").alias(f"min_{c}"),
                    F.max(f"mm_{c}").alias(f"max_{c}"),
                )
            ],
        )
    )
    n_groups = deltas.count()

    state = versioned.read_snapshot(spark, view_dir)
    new_state = fold_state(state, deltas, group_cols, sum_cols, minmax_cols)
    if minmax_cols:
        # Retractions can delete a group's reigning extreme — no fold
        # recovers that. Repair: recompute min/max from the CURRENT
        # base snapshot for ONLY the retraction-touched groups (pruned
        # semi join — O(touched groups' rows), never a full rescan).
        touched = retract_rows.select(*group_cols).distinct()
        base_now = versioned.read_snapshot(spark, m["base_dir"], base_to)
        repaired = (
            base_now.join(
                F.broadcast(touched),
                _null_safe_on(base_now, touched, group_cols),
                "left_semi",
            )
            .groupBy(*group_cols)
            .agg(
                *[
                    agg
                    for c in minmax_cols
                    for agg in (
                        F.min(c).alias(f"r_min_{c}"),
                        F.max(c).alias(f"r_max_{c}"),
                    )
                ]
            )
        )
        ns, rp = new_state.alias("ns"), repaired.alias("rp")
        new_state = ns.join(
            rp, _null_safe_on(ns, rp, group_cols), "left"
        ).select(
            *[ns[c] for c in group_cols],
            "n_rows",
            *[F.col(f"sum_{c}") for c in sum_cols],
            *[
                col
                for c in minmax_cols
                for col in (
                    F.coalesce(F.col(f"r_min_{c}"), F.col(f"min_{c}")).alias(
                        f"min_{c}"
                    ),
                    F.coalesce(F.col(f"r_max_{c}"), F.col(f"max_{c}")).alias(
                        f"max_{c}"
                    ),
                )
            ],
        )
    versioned.write_snapshot(
        spark,
        new_state,
        view_dir,
        note=f"matview incremental base v{base_from}->v{base_to}",
    )
    return {
        "mode": "incremental",
        "base_from": base_from,
        "base_to": base_to,
        "changes": n_changes,
        "groups_touched": n_groups,
    }


def read_view(spark: SparkSession, view_dir: str) -> DataFrame:
    """The current view state, with derived averages attached
    (avg = decimal sum as double / count — the davg convention)."""
    m = _read_manifest(spark, view_dir)
    state = versioned.read_snapshot(spark, view_dir)
    for c in m["sum_cols"]:
        state = state.withColumn(
            f"avg_{c}",
            F.col(f"sum_{c}").cast("double") / F.col("n_rows"),
        )
    return state


def recompute(spark: SparkSession, view_dir: str) -> DataFrame:
    """Full recomputation of the view from its manifest — the parity
    baseline an incremental refresh must match EXACTLY (tests assert
    bit-equality of the decimal sums)."""
    m = _read_manifest(spark, view_dir)
    base = versioned.read_snapshot(spark, m["base_dir"])
    return _aggregate(
        base, m["group_cols"], m["sum_cols"], m.get("minmax_cols", [])
    )
