"""M9 scale-runtime tests: cell-prefix partitioning, salting,
skew metrics, and checkpoint/resume with per-partition lineage
manifests (north-rule requirements with no reference equivalent)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from oshdb_spark.grid import cell_id, cell_id_col
from oshdb_spark.runtime import (
    CheckpointedStage,
    cell_prefix,
    input_snapshot_fingerprint,
    partition_metrics,
    repartition_by_cell,
    salted_count,
    skew_ratio,
)
from oshdb_spark.sources.versions import load_versions


def test_cell_prefix_matches_parent_cell(spark):
    """Prefixing a zoom-10 cell to zoom-4 equals computing the zoom-4
    cell directly — the hierarchical-key property partition pruning
    relies on."""
    pts = [(i * 97_000_019 % 3_600_000_000 - 1_800_000_000,
            i * 53_000_011 % 1_700_000_000 - 850_000_000) for i in range(500)]
    df = spark.createDataFrame(pts, "lon_e7 long, lat_e7 long")
    got = df.select(
        cell_prefix(cell_id_col(10, F.col("lon_e7"), F.col("lat_e7")), 10, 4).alias("p"),
        cell_id_col(4, F.col("lon_e7"), F.col("lat_e7")).alias("direct"),
    )
    assert got.filter(F.col("p") != F.col("direct")).count() == 0
    for lon, lat in pts[:50]:
        assert cell_id(4, lon, lat) == cell_id(4, lon, lat)


def test_repartition_by_cell_colocates(spark, sf_dir):
    v = load_versions(spark, sf_dir).withColumn(
        "cell_id", cell_id_col(6, F.col("lon_e7"), F.col("lat_e7"))
    )
    rp = repartition_by_cell(v, 8)
    # every cell lands in exactly one partition
    per_cell = (
        rp.withColumn("_pid", F.spark_partition_id())
        .groupBy("cell_id")
        .agg(F.count_distinct("_pid").alias("n"))
    )
    assert per_cell.filter(F.col("n") > 1).count() == 0


def test_salted_count_equals_plain_count(spark, sf_dir):
    v = load_versions(spark, sf_dir)
    plain = {
        r["tag_v"]: r["c"]
        for r in v.groupBy("tag_v").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    salted = {
        r["tag_v"]: r["cnt"]
        for r in salted_count(v, ["tag_v"], factor=16, row_entropy="event_id").collect()
    }
    assert salted == plain


def test_partition_metrics_and_skew(spark, sf_dir):
    v = load_versions(spark, sf_dir).withColumn(
        "cell_id", cell_id_col(6, F.col("lon_e7"), F.col("lat_e7"))
    )
    m = [r.asDict() for r in partition_metrics(repartition_by_cell(v, 8)).collect()]
    assert sum(r["rows"] for r in m) == v.count()
    assert all(r["cells_touched"] >= 1 for r in m)
    assert skew_ratio(m) >= 1.0
    # a deliberately skewed layout reports higher skew than a hashed one
    skewed = v.repartition(8, (F.col("entity_id") < 5).cast("int"))
    ms = [r.asDict() for r in partition_metrics(skewed).collect()]
    assert skew_ratio(ms) > skew_ratio(m)


@pytest.fixture()
def stage_builder(sf_dir):
    def build(spark):
        return (
            load_versions(spark, sf_dir)
            .withColumn("cell_id", cell_id_col(6, F.col("lon_e7"), F.col("lat_e7")))
            .select("entity_id", "version", "ts", "cell_id")
        )

    return build


def _mk_stage(tmp_path, snapshot, wave_size=2, num_buckets=6):
    return CheckpointedStage(
        out_dir=str(tmp_path / "out"),
        stage="versions_by_cell",
        num_buckets=num_buckets,
        bucket_key="cell_id",
        input_snapshot=snapshot,
        wave_size=wave_size,
    )


def test_checkpoint_resume_after_kill(spark, sf_dir, tmp_path, stage_builder):
    snap = input_snapshot_fingerprint(spark, [f"{sf_dir}/events.parquet"])
    expected = stage_builder(spark).count()

    # killed run: only the first wave commits
    stage = _mk_stage(tmp_path, snap)
    partial = stage.run(spark, stage_builder, fail_after_waves=1)
    assert not partial["complete"]
    assert len(partial["written_buckets"]) == 2

    # manifests: one JSON per committed bucket, with lineage fields
    mdir = tmp_path / "out" / "_lineage"
    manifests = sorted(os.listdir(mdir))
    assert len(manifests) == 2
    m = json.loads((mdir / manifests[0]).read_text())
    assert m["input_snapshot"] == snap
    assert m["stage"] == "versions_by_cell"
    assert m["rows"] >= 0 and m["cells_touched"] >= 0

    # resumed run: skips committed buckets, completes the rest
    resumed = _mk_stage(tmp_path, snap).run(spark, stage_builder)
    assert resumed["complete"]
    assert sorted(resumed["skipped_buckets"]) == sorted(partial["written_buckets"])
    assert set(resumed["written_buckets"]).isdisjoint(partial["written_buckets"])

    # output equals a single-shot computation, no dupes, no gaps
    out = spark.read.parquet(str(tmp_path / "out"))
    assert out.count() == expected
    assert out.select("entity_id", "version").distinct().count() == expected

    # a fully-complete rerun is a no-op
    noop = _mk_stage(tmp_path, snap).run(spark, stage_builder)
    assert noop["complete"] and not noop["written_buckets"]


def test_checkpoint_invalidated_by_snapshot_change(spark, tmp_path, stage_builder):
    s1 = _mk_stage(tmp_path, "snapshot-A", wave_size=6)
    s1.run(spark, stage_builder)
    assert len(s1.committed_buckets()) == 6
    # same dir, new input snapshot: stale manifests are discarded
    s2 = _mk_stage(tmp_path, "snapshot-B", wave_size=6)
    res = s2.run(spark, stage_builder)
    assert res["skipped_buckets"] == []
    assert len(res["written_buckets"]) == 6


def test_orphan_bucket_cleanup(spark, tmp_path, stage_builder):
    """A bucket dir without a manifest (crash between data and manifest
    commit) is dropped and recomputed without duplication."""
    snap = "snap"
    stage = _mk_stage(tmp_path, snap, wave_size=6)
    stage.run(spark, stage_builder)
    total = spark.read.parquet(str(tmp_path / "out")).count()
    # simulate the torn state: manifest of bucket 3 lost
    os.remove(tmp_path / "out" / "_lineage" / "bucket-3.json")
    res = _mk_stage(tmp_path, snap, wave_size=6).run(spark, stage_builder)
    assert res["written_buckets"] == [3]
    assert spark.read.parquet(str(tmp_path / "out")).count() == total


def test_doc_pipeline_job_kill_and_resume(spark, sf_dir, tmp_path):
    """The end-to-end doc pipeline (exact dedup -> signals -> LSH ->
    Jaccard -> CC -> keep/drop) through CheckpointedStage: a killed run
    (fail_after_waves) resumes with only the missing buckets, the final
    table covers every doc exactly once, and cluster representatives
    are marked keep."""
    import sys

    sys.path.insert(0, "/root/repo/jobs")
    from run_doc_pipeline import build_pipeline

    from oshdb_spark.runtime import CheckpointedStage, input_snapshot_fingerprint

    snap = input_snapshot_fingerprint(spark, [f"{sf_dir}/documents.parquet"])

    def mk():
        return CheckpointedStage(
            out_dir=str(tmp_path / "out"),
            stage="doc_pipeline",
            num_buckets=6,
            bucket_key="doc_id",
            input_snapshot=snap,
            wave_size=2,
            cell=None,
        )

    killed = mk().run(spark, lambda s: build_pipeline(s, sf_dir), fail_after_waves=1)
    assert not killed["complete"]
    assert len(killed["written_buckets"]) == 2

    resumed = mk().run(spark, lambda s: build_pipeline(s, sf_dir))
    assert resumed["complete"]
    assert sorted(resumed["skipped_buckets"]) == sorted(killed["written_buckets"])

    out = spark.read.parquet(str(tmp_path / "out"))
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert out.count() == n_docs  # every doc decided exactly once
    pdf = out.toPandas()
    # representatives keep, members of their cluster share cluster_id
    assert pdf["keep"].sum() == pdf["cluster_id"].nunique()
    reps = set(pdf.loc[pdf.keep, "doc_id"])
    assert set(pdf["cluster_id"]) <= reps


def test_doc_pipeline_decides_every_exact_duplicate(spark, sf_dir):
    """Planted byte-identical clones must still get a decision row
    (keep=False, cluster = the exact keeper) — exact dups are dropped
    from the expensive near-dup stage, never from the output."""
    import sys

    from pyspark.sql import functions as F

    sys.path.insert(0, "/root/repo/jobs")
    from run_doc_pipeline import build_pipeline

    base = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") < 50)
    )
    clones = base.withColumn("doc_id", F.col("doc_id") + 100000)
    out = build_pipeline(spark, sf_dir, docs=base.unionByName(clones)).toPandas()
    assert len(out) == 2 * base.count()  # every doc decided
    clones_out = out[out.doc_id >= 100000]
    assert (~clones_out["keep"]).all()
    assert (clones_out["cluster_id"] < 100000).all()  # exact keeper lineage
    # originals all keep (no near-dups among the distinct 50)
    orig_out = out[out.doc_id < 100000]
    assert orig_out["keep"].sum() == orig_out["cluster_id"].nunique()


# ---------------------------------------------------------------------------
# query timeout / cancellation (OSHDBDatabase.timeout, SURVEY §4 #17)
# ---------------------------------------------------------------------------

def _slow_frame(spark, n_parts: int = 8, sleep_s: float = 4.0):
    """A frame whose jobs sleep inside executor tasks — test-only: the
    sleep stands in for a genuinely expensive stage, so cancellation
    (not completion) must be what ends the query."""
    import pandas as pd

    def _sleeper(batches):
        import time as _t

        for b in batches:
            _t.sleep(sleep_s)
            yield pd.DataFrame({"id": b["id"]})

    return (
        spark.range(n_parts).repartition(n_parts).mapInPandas(_sleeper, "id long")
    )


def test_run_with_timeout_cancels_and_raises(spark):
    import time

    from oshdb_spark.runtime import OSHDBTimeoutException, run_with_timeout

    df = _slow_frame(spark, n_parts=8, sleep_s=4.0)
    t0 = time.perf_counter()
    with pytest.raises(OSHDBTimeoutException):
        run_with_timeout(spark, 1.5, df.collect, desc="slow collect")
    elapsed = time.perf_counter() - t0
    # 8 partitions x 4 s on local[8] would be ~4 s if run to completion;
    # cancellation must beat that by a clear margin
    assert elapsed < 3.5


def test_run_with_timeout_session_stays_usable(spark):
    from oshdb_spark.runtime import OSHDBTimeoutException, run_with_timeout

    df = _slow_frame(spark, n_parts=8, sleep_s=4.0)
    with pytest.raises(OSHDBTimeoutException):
        run_with_timeout(spark, 1.0, df.collect)
    # only the cancelled job group died; the session runs new jobs
    assert spark.range(10).count() == 10


def test_run_with_timeout_passes_fast_action_through(spark):
    from oshdb_spark.runtime import run_with_timeout

    got = run_with_timeout(spark, 30.0, lambda: spark.range(5).count())
    assert got == 5


def test_builder_timeout_surface(spark, sf_dir):
    """The fluent .timeout(seconds) analog of OSHDBDatabase.timeout
    (OSHDBDatabase.java:57-96): a generous limit passes results
    through; a tiny limit on a deliberately slow mapper stage cancels
    the job group and raises; timeout(None) is clearTimeout()."""
    import time

    from oshdb_spark.plans.builder import SnapshotView
    from oshdb_spark.runtime import OSHDBTimeoutException
    from oshdb_spark.sources.versions import derive_versions

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    v = derive_versions(ev)
    base = SnapshotView.on(v).timestamps([1704500000]).aggregate_by_timestamp()
    rows = base.timeout(120.0).collect()
    assert rows and rows[0] is not None

    def slow_mapper(df):
        import pandas as pd  # noqa: F401 (arrow batches are pandas)

        schema = df.schema

        def _sleeper(batches):
            import time as _t

            for b in batches:
                _t.sleep(5.0)
                yield b

        return df.repartition(8).mapInPandas(_sleeper, schema)

    slow = base.map(slow_mapper).timeout(1.0)
    t0 = time.perf_counter()
    with pytest.raises(OSHDBTimeoutException):
        slow.collect()
    assert time.perf_counter() - t0 < 4.5
    # clearTimeout(): same plan, no limit -> completes
    assert base.map(slow_mapper).timeout(1.0).timeout(None)._s.timeout_s is None


def test_stream_with_timeout_cancels_mid_consumption(spark):
    from oshdb_spark.runtime import OSHDBTimeoutException, stream_with_timeout

    df = _slow_frame(spark, n_parts=8, sleep_s=4.0)
    with pytest.raises(OSHDBTimeoutException):
        for _ in stream_with_timeout(df, 1.5, desc="slow stream"):
            pass
    assert spark.range(3).count() == 3


def test_asof_scale_job_deterministic_and_scales_output(spark, sf_dir):
    """The third scaling-job class (member-window as-of merge) is
    deterministic (seeded purely by the input) and its output count
    grows with the replica factor — the property the N vs 4N
    measurement's fixed numerator relies on."""
    from oshdb_spark.benchjob import asof_scale_job

    a = asof_scale_job(spark, sf_dir, replicas=2)
    b = asof_scale_job(spark, sf_dir, replicas=2)
    assert a == b > 0
    c = asof_scale_job(spark, sf_dir, replicas=4)
    assert c > a


def test_resident_frame_cache_evicts_oldest_dir(spark):
    """Keep-latest-2 LRU over the session-resident decoded frames: a
    session cycling 3 input dirs must free the FIRST dir's checkpoint
    blocks (round-5 eviction item). The evicted entry rebuilds on the
    next miss; the two most-recent dirs stay resident and identical."""
    from oshdb_spark.queries import _WAY_FRAME_CACHE, _decoded_ways

    sc = spark.sparkContext

    def persisted_ids() -> set[int]:
        return {i.id() for i in sc._jsc.sc().getRDDStorageInfo()}

    dirs = ["/root/testdata/sf0.001", "/root/testdata/sf0.01",
            "/root/testdata/sf0.1"]
    # other tests may have populated the cache — start from a known state
    _WAY_FRAME_CACHE.clear()
    f1 = _decoded_ways(spark, dirs[0])
    f1.count()
    rdd1 = f1._jdf.queryExecution().logical().rdd().id()
    assert rdd1 in persisted_ids()

    f2 = _decoded_ways(spark, dirs[1])
    f2.count()
    assert _decoded_ways(spark, dirs[0]) is f1  # still resident (cap 2)
    assert rdd1 in persisted_ids()

    f3 = _decoded_ways(spark, dirs[2])  # third dir: dir[1] is now LRU
    f3.count()
    assert rdd1 in persisted_ids()  # dir[0] was MRU-refreshed above
    f2b = _decoded_ways(spark, dirs[1])
    assert f2b is not f2  # evicted -> rebuilt
    rdd2 = f2._jdf.queryExecution().logical().rdd().id()
    assert rdd2 not in persisted_ids()  # and its blocks were freed
    # the rebuilt frame answers the same count as the evicted one did
    assert f2b.count() > 0


def test_resident_frame_cache_clear_unpersists_blocks(spark):
    """clear() evicts like capacity eviction does: every entry's
    checkpointed RDD leaves the session's persistent set, and the next
    get misses."""
    from oshdb_spark.queries import _ResidentFrameCache

    sc = spark.sparkContext

    def persistent_ids() -> set[int]:
        return {int(k) for k in sc._jsc.getPersistentRDDs().keySet()}

    cache = _ResidentFrameCache()
    keys = [("app", "dir-a"), ("app", "dir-b")]
    ids = set()
    for key in keys:
        f = spark.range(100).localCheckpoint(eager=True)
        cache.put(key, f, [f])
        ids.add(f._jdf.queryExecution().logical().rdd().id())
    before = persistent_ids()
    assert ids <= before
    cache.clear()
    after = persistent_ids()
    assert not ids & after
    assert len(after) < len(before)
    assert all(cache.get(k) is None for k in keys)
