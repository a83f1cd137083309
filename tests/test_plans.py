"""Physical-plan assertions: the properties that make the catalog
queries scale are pinned here, not assumed — filter pushdown to the
parquet scan, broadcast joins where a broadcast is intended, no
nested-loop joins outside the one deliberate brute-force verifier, and
whole-stage codegen over the pure-Column queries."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_events_scan_prunes_columns(spark, sf_dir):
    """Column pruning reaches the scan: the versions derivation needs 3
    of the 6 events columns; ReadSchema must not include the rest."""
    from oshdb_spark.sources.versions import load_versions

    df = load_versions(spark, sf_dir).select("entity_id", "ts").limit(1)
    plan = _physical(df)
    scan = plan[plan.index("FileScan"):]
    head = scan[:scan.index("\n") if "\n" in scan else len(scan)]
    assert "event_id" in head and "ts" in head
    # pruning even drops user_id: uid is derived but not selected
    for unused in ("user_id", "event_type", "value", "props"):
        assert unused not in head, unused


def test_parquet_filter_pushed_to_scan(spark, sf_dir):
    """A source-column predicate lands in PushedFilters of the parquet
    scan (Catalyst pushdown, free at 100 TB). Uses a table no fixture
    caches — a cached InMemoryRelation would satisfy the same plan
    subtree and hide the FileScan (order-dependent otherwise)."""
    df = spark.read.parquet(f"{sf_dir}/nation.parquet").filter(
        F.col("n_regionkey") == 1
    )
    plan = _physical(df)
    assert "PushedFilters" in plan
    assert "EqualTo(n_regionkey,1)" in plan.replace(" ", "")


def test_snapshot_probe_is_broadcast(spark, sf_dir):
    """The timestamp probe joins via BroadcastNestedLoopJoin with the
    tiny literal relation on the BUILD side — a per-row interval probe,
    not a shuffle."""
    from oshdb_spark.queries import q_snapshot_count_by_ts

    plan = _physical(q_snapshot_count_by_ts(spark, sf_dir))
    assert "BroadcastNestedLoopJoin BuildRight" in plan


def test_dimension_joins_broadcast(spark, sf_dir):
    """Keytable/dimension joins broadcast the small side."""
    from oshdb_spark.queries import q_revenue_by_nation, q_tag_regex_counts

    assert "BroadcastHashJoin" in _physical(q_tag_regex_counts(spark, sf_dir))
    assert "BroadcastHashJoin" in _physical(q_revenue_by_nation(spark, sf_dir))


def test_lsh_candidate_joins_are_hash_joins(spark, sf_dir):
    """Banded candidate generation is an equi-join (hash/sort-merge),
    NEVER a nested-loop: the property that keeps dedup off O(n^2).
    word_jaccard_pairs' catalog entry returns the session-resident
    checkpointed pair frame (plan: Scan ExistingRDD), so the join-shape
    property is asserted on the underlying operator build — the plan
    that actually runs at scale."""
    from pyspark.sql import functions as F

    from oshdb_spark.operators.dedup import jaccard_similarity_join
    from oshdb_spark.queries import JACCARD_MOD, JACCARD_THRESHOLD, QUERIES

    for name in ("minhash_neardup", "simhash_neardup"):
        plan = _physical(QUERIES[name](spark, sf_dir))
        assert "NestedLoop" not in plan, name
        assert ("ShuffledHashJoin" in plan) or ("SortMergeJoin" in plan) or (
            "BroadcastHashJoin" in plan
        ), name

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") % JACCARD_MOD == 0)
        .select(
            "doc_id",
            F.array_distinct(F.split(F.col("text"), " ")).alias("words"),
        )
    )
    plan = _physical(jaccard_similarity_join(docs, JACCARD_THRESHOLD - 1e-6))
    assert "NestedLoop" not in plan, "word_jaccard_pairs"
    assert ("ShuffledHashJoin" in plan) or ("SortMergeJoin" in plan) or (
        "BroadcastHashJoin" in plan
    ), "word_jaccard_pairs"


def test_way_kind_measures_has_no_python(spark, sf_dir):
    """TagInterpreter + both measures are pure Column folds: zero
    ArrowEvalPython / BatchEvalPython operators in the plan."""
    from oshdb_spark.queries import q_way_kind_measures

    plan = _physical(q_way_kind_measures(spark, sf_dir))
    # (WholeStageCodegen wrappers only print in the final AQE plan, so
    # the absence of Python eval operators is the assertable property)
    assert "EvalPython" not in plan


def test_polygon_aoi_paths_have_no_python(spark, sf_dir):
    """Every polygon AOI path is pure Catalyst: no Python evaluator in
    the catalog filter (pip_diamond_counts), the region overlay (which
    is also one branch, no inside/boundary Union) or a fluent
    SnapshotView polygon area of interest."""
    from oshdb_spark.operators.spatial import aggregate_by_polygon_regions
    from oshdb_spark.plans import SnapshotView
    from oshdb_spark.queries import (
        DIAMOND_LAT, DIAMOND_LON, POLY_REGIONS, TILE_TS, _snapshot_at, q_pip_diamond_counts,
    )
    from oshdb_spark.sources.versions import SNAPSHOT_TS, load_versions

    snap = _snapshot_at(spark, sf_dir, TILE_TS)
    regions = _physical(aggregate_by_polygon_regions(snap, POLY_REGIONS, zoom=6))
    assert "EvalPython" not in regions
    assert "Union" not in regions
    assert "EvalPython" not in _physical(q_pip_diamond_counts(spark, sf_dir))
    fluent = (
        SnapshotView.on(load_versions(spark, sf_dir))
        .timestamps(SNAPSHOT_TS)
        .area_of_interest(polygon=(DIAMOND_LON, DIAMOND_LAT))
        .aggregate_by_timestamp()
        .count()
    )
    assert "EvalPython" not in _physical(fluent)


def test_ivf_candidate_join_is_equi_join(spark, sf_dir):
    """The IVF probe joins candidates on the centroid id — an equi-join;
    only the deliberate brute-force verifier (cosine_topk) is allowed a
    nested loop."""
    from oshdb_spark.queries import QUERIES

    ivf = _physical(QUERIES["ivf_ann_top5"](spark, sf_dir))
    assert "BroadcastHashJoin" in ivf or "SortMergeJoin" in ivf or "ShuffledHashJoin" in ivf
    brute = _physical(QUERIES["ann_cosine_top5"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in brute  # documented: the verifier


def test_zerofill_join_has_no_forced_broadcast(spark, sf_dir):
    """zerofill must not FORCE a broadcast: Spark can only build the
    non-preserved (= unbounded grouped) side of the outer join, so any
    hint either gets dropped or broadcasts the growing side. The join
    must be an unhinted outer join on the aggregation keys (exchange
    reuse makes it cheap; AQE may still choose a broadcast at runtime
    when the measured size is small — that is fine, forcing it is not)."""
    from oshdb_spark.operators.aggregate import zerofill
    from oshdb_spark.operators.snapshot import lit_df

    grouped = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    real = sorted(r["source"] for r in grouped.select("source").collect())[:3]
    universe = lit_df(spark, "source", real + ["zz_missing"], "string")
    filled = zerofill(grouped, [universe], {"cnt": 0})
    analyzed = filled._jdf.queryExecution().analyzed().toString()
    assert "hint" not in analyzed.lower()  # no forced build side anywhere
    opt = _optimized(filled)
    assert "RightOuter" in opt
    # semantics: the missing key materializes with the identity
    rows = {r["source"]: r["cnt"] for r in filled.collect()}
    assert rows.get("zz_missing") == 0 and len(rows) == 4
    assert all(rows[s] > 0 for s in real)


def test_relation_geom_kinds_broadcasts_keytable(spark, sf_dir):
    """The old-style tag resolution joins the way keytable via
    BroadcastHashJoin (tiny dim), and the rule-table dispatch itself is
    pure Column — no Python evaluator anywhere in the plan."""
    from oshdb_spark.queries import QUERIES

    plan = _physical(QUERIES["relation_geom_kinds"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    for bad in ("BatchEvalPython", "ArrowEvalPython"):
        assert bad not in plan, bad


def test_clipped_area_kernel_sees_only_overlaps(spark, sf_dir):
    """The positive-overlap prefilter sits BELOW the Sutherland-Hodgman
    Arrow kernel: non-overlapping (entity, region) pairs never reach
    Python (the union/prune discipline of CLAUDE.md)."""
    from oshdb_spark.queries import QUERIES

    plan = _physical(QUERIES["bbox_region_clipped_area"](spark, sf_dir))
    assert "ArrowEvalPython" in plan
    # the filter must appear under (after, in toString order) the kernel
    k = plan.index("ArrowEvalPython")
    assert "Filter" in plan[k:], "overlap prefilter not below the kernel"
    head = plan[:k]
    assert "ArrowEvalPython" not in head[:max(0, k - 1)]


def test_tdigest_shuffle_carries_centroids_not_rows(spark, sf_dir):
    """The t-digest reducer's final merge consumes the grouped-pandas
    PARTIAL stage (centroid arrays), not raw value rows: two
    FlatMapGroupsInPandas stages appear, partial below final."""
    from oshdb_spark.queries import QUERIES

    plan = _physical(QUERIES["tdigest_quantiles"](spark, sf_dir))
    assert plan.count("FlatMapGroupsInPandas") == 2
