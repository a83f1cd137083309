"""The full query catalog vs its DuckDB oracles at sf0.001 — the same
comparison the round driver applies at sf0.01 (row count, column set,
order-insensitive values). Keeps `pytest -x -q` itself the correctness
gate per BASELINE.md."""

from __future__ import annotations

import pytest

from driver_mimic import compare, duck_con
from oshdb_spark.queries import ORACLES, QUERIES


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duck_con(sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_catalog_query_matches_oracle(spark, sf_dir, duck, name):
    sdf = QUERIES[name](spark, sf_dir).toPandas()
    ddf = duck.execute(ORACLES[name]).df()
    verdict = compare(name, sdf, ddf)
    assert verdict == "OK", verdict


def test_every_query_has_an_oracle_twin():
    """Every catalog query is graded: QUERIES and ORACLES name the same
    set (no rows-only query, no orphan oracle)."""
    assert set(QUERIES) == set(ORACLES)


def test_approx_quantiles_within_tolerance_of_exact(spark, sf_dir):
    """Sketch contract (estimatedQuantile analog): the approx values
    must sit within a small rank tolerance of the exact percentiles."""
    from pyspark.sql import functions as F

    from oshdb_spark.operators.snapshot import snapshot_timestamps, snapshots
    from oshdb_spark.queries import q_approx_quantiles
    from oshdb_spark.sources.versions import SNAPSHOT_TS, load_versions

    rows = {r["snap_ts"]: r for r in q_approx_quantiles(spark, sf_dir).collect()}
    snap = snapshots(
        load_versions(spark, sf_dir), snapshot_timestamps(spark, SNAPSHOT_TS)
    )
    val = F.col("lon_e7").cast("double")
    exact = {
        r["snap_ts"]: r
        for r in snap.groupBy("snap_ts")
        .agg(
            F.round(F.percentile(val, F.lit(0.25)), 6).alias("p25"),
            F.round(F.percentile(val, F.lit(0.5)), 6).alias("p50"),
            F.round(F.percentile(val, F.lit(0.75)), 6).alias("p75"),
        )
        .collect()
    }
    assert set(rows) == set(exact)
    for ts, e in exact.items():
        a = rows[ts]
        for q in ("p25", "p50", "p75"):
            # the exact columns carry the true percentile; the *_ok flag
            # is the sketch's within-rank-tolerance contract
            assert a[f"{q}_exact"] == e[q], (ts, q)
            assert a[f"{q}_ok"] is True, (ts, q)
