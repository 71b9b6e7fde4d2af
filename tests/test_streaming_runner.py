"""Contract of streaming/runner.py, the one micro-batch lifecycle every
runner in streaming/micro_batch.py goes through: conf scoping (also
when a batch raises), the conf a foreachBatch batch actually sees, the
memory-sink drain, the named missing-state error, the quantile drains'
named disagreement errors, and a structural guard that keeps the
lifecycle skeleton from being hand-copied back into the runners.
"""

from __future__ import annotations

import ast
import os
import time

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

import kenya_agricultural_regions_weather_etl_pipeline_spark as pkg
from kenya_agricultural_regions_weather_etl_pipeline_spark.streaming.micro_batch import (
    _quantile_picks,
    _weighted_quantile_picks,
)
from kenya_agricultural_regions_weather_etl_pipeline_spark.streaming.runner import (
    drain,
    latest_version,
    read_arrivals,
    stage_arrivals,
    stream_confs,
)

PARTS = "spark.sql.shuffle.partitions"
AQE = "spark.sql.adaptive.enabled"


def _arrivals(spark, tmp_path, n=3):
    """A tiny backlog: ids 0..11 staged as ``n`` json arrival files."""
    src = str(tmp_path / "arrivals")
    os.makedirs(src)
    stage_arrivals(
        spark.range(12).select(F.col("id").alias("k")),
        src,
        n,
        F.col("k") % n,
        time.time() - 600,
        1,
    )
    return read_arrivals(spark, src, "k long", "json")


def test_one_batch_sees_runner_parts_and_aqe(spark, tmp_path):
    before = (spark.conf.get(PARTS), spark.conf.get(AQE))
    seen = []

    def one_batch(batch, batch_id):
        sess = batch.sparkSession
        seen.append((batch_id, sess.conf.get(PARTS), sess.conf.get(AQE)))

    with stream_confs(spark, 3, aqe=False):
        drain(_arrivals(spark, tmp_path), one_batch)
    # one arrival file per micro-batch, each run in a session clone that
    # carries the runner's values, not the outer session's
    assert seen == [(b, "3", "false") for b in range(3)]
    assert (spark.conf.get(PARTS), spark.conf.get(AQE)) == before


def test_aqe_true_leaves_session_aqe_alone(spark, tmp_path):
    seen = []
    with stream_confs(spark, 5, aqe=True):
        drain(
            _arrivals(spark, tmp_path, n=1),
            lambda b, _: seen.append(b.sparkSession.conf.get(AQE)),
        )
    assert seen == [spark.conf.get(AQE)]


def test_confs_restored_and_error_propagates_when_batch_raises(
    spark, tmp_path
):
    before = (spark.conf.get(PARTS), spark.conf.get(AQE))

    def one_batch(batch, batch_id):
        raise ValueError(f"boom in batch {batch_id}")

    with pytest.raises(StreamingQueryException, match="boom in batch 0"):
        with stream_confs(spark, 3, aqe=False):
            drain(_arrivals(spark, tmp_path), one_batch)
    assert (spark.conf.get(PARTS), spark.conf.get(AQE)) == before


def test_memory_sink_drain_materializes_and_drops_sink(spark, tmp_path):
    out = drain(_arrivals(spark, tmp_path), mode="append")
    assert sorted(r.k for r in out.collect()) == list(range(12))
    assert not [
        t.name for t in spark.catalog.listTables() if t.name.startswith("drain_")
    ]


def test_latest_version_picks_highest_numeric_version(spark, tmp_path):
    for d in ("v0", "v2", "v10", "v_init", "_SUCCESS"):
        os.makedirs(tmp_path / d)
    assert latest_version(spark, str(tmp_path)) == str(tmp_path / "v10")


@pytest.mark.parametrize("entries", [None, [], ["v_init", "vx", "data", "_tmp"]])
def test_latest_version_names_the_state_dir_when_empty(spark, tmp_path, entries):
    state = tmp_path / "state"
    if entries is not None:
        os.makedirs(state)
        for d in entries:
            os.makedirs(state / d)
    with pytest.raises(RuntimeError, match=str(state)):
        latest_version(spark, str(state))


def _bucket_store(spark, tmp_path):
    """A two-row, unit-weight bucket-0 store in st31/st36's landing
    layout."""
    store = str(tmp_path / "store")
    spark.createDataFrame(
        [(5.0, 1, 1, 1), (7.0, 1, 2, 1)],
        "value double, w long, l_orderkey long, l_linenumber long",
    ).withColumn("bucket", F.lit(0).cast("long")).withColumn(
        "batch_id", F.lit(0)
    ).write.partitionBy("bucket", "batch_id").parquet(store)
    return store


def test_quantile_picks_agree_with_consistent_histogram(spark, tmp_path):
    store = _bucket_store(spark, tmp_path)
    assert _quantile_picks(spark, store, [{"bucket": 0, "bn": 2}]) == [
        (0.5, 1, 2, 5.0),
        (0.9, 2, 2, 7.0),
        (0.99, 2, 2, 7.0),
    ]
    assert [
        r[3] for r in _weighted_quantile_picks(
            spark, store, [{"bucket": 0, "bw": 2}]
        )
    ] == [5.0, 7.0, 7.0]


def test_quantile_drain_names_what_disagrees(spark, tmp_path):
    store = _bucket_store(spark, tmp_path)
    # the histogram claims 5 rows / weight 10 where the store holds 2
    with pytest.raises(RuntimeError, match=r"p=0\.5: rank 3 .* bucket 0"):
        _quantile_picks(spark, store, [{"bucket": 0, "bn": 5}])
    with pytest.raises(
        RuntimeError, match=r"p=0\.5: target weight 5 .* bucket 0"
    ):
        _weighted_quantile_picks(spark, store, [{"bucket": 0, "bw": 10}])


# ---- structural guard: the lifecycle skeleton lives in runner.py ------

_CONF_KEYS = {PARTS, AQE}
# st10/st11 poll a processingTime stream until their source's backlog
# is consumed, so they open their own checkpoint
_ALLOWED = {
    ("micro_batch.py", "run_weather_stream", "checkpointLocation"),
    ("micro_batch.py", "run_weather_stream_etl", "checkpointLocation"),
}


def _skeleton_hits(path):
    """(top-level def, kind) for every skeleton element in a module:
    a write of the shuffle-partition or AQE conf (the key used anywhere
    but as a ``.get`` argument), an ``availableNow`` trigger, and a
    ``checkpointLocation`` option."""
    tree = ast.parse(open(path).read())
    hits = []
    for top in tree.body:
        owner = getattr(top, "name", "<module>")
        reads = {
            id(n.args[0])
            for n in ast.walk(top)
            if isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and n.func.attr == "get"
            and n.args
        }
        for n in ast.walk(top):
            if isinstance(n, ast.Constant) and n.value in _CONF_KEYS:
                if id(n) not in reads:
                    hits.append((owner, n.value))
            elif isinstance(n, ast.Constant) and n.value == "checkpointLocation":
                hits.append((owner, "checkpointLocation"))
            elif isinstance(n, ast.keyword) and n.arg == "availableNow":
                hits.append((owner, "availableNow"))
    return hits


def test_stream_skeleton_lives_only_in_runner():
    root = os.path.join(os.path.dirname(pkg.__file__), "streaming")
    found = {
        os.path.join(root, f): _skeleton_hits(os.path.join(root, f))
        for f in os.listdir(root)
        if f.endswith(".py")
    }
    runner = os.path.join(root, "runner.py")
    assert {kind for _, kind in found.pop(runner)} == {
        PARTS,
        AQE,
        "availableNow",
        "checkpointLocation",
    }
    stray = {
        (os.path.basename(path), owner, kind)
        for path, hits in found.items()
        for owner, kind in hits
    }
    assert stray <= _ALLOWED
