"""Contract of streaming/runner.py, the one micro-batch lifecycle every
runner in streaming/micro_batch.py goes through: conf scoping (also
when a batch raises, and for keys that had no value), the conf a
foreachBatch batch actually sees (including the local checkpoint's
FileSystem-API manager), the memory-sink drain, the state listing
(empty only for a missing directory), the named missing-state error,
the quantile drains' named disagreement errors, cleanup when a stream
or a runner raises (sink views, workdirs, cached frames), and
structural guards that keep the lifecycle skeleton, the checkpoint
manager, hand-managed temp dirs and dynamic overwrite from being
hand-copied back into the runners.
"""

from __future__ import annotations

import ast
import os
import tempfile
import time

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

import kenya_agricultural_regions_weather_etl_pipeline_spark as pkg
from kenya_agricultural_regions_weather_etl_pipeline_spark.operators.graph_index import (
    deployed_graph_index,
)
from kenya_agricultural_regions_weather_etl_pipeline_spark.streaming import (
    micro_batch,
)
from kenya_agricultural_regions_weather_etl_pipeline_spark.streaming.micro_batch import (
    _quantile_picks,
    _weighted_quantile_picks,
)
from kenya_agricultural_regions_weather_etl_pipeline_spark.streaming.runner import (
    CHECKPOINT_MANAGER,
    FS_CHECKPOINT_MANAGER,
    conf_scope,
    drain,
    latest_version,
    list_dir_names,
    read_arrivals,
    stage_arrivals,
    stream_confs,
)

PARTS = "spark.sql.shuffle.partitions"
AQE = "spark.sql.adaptive.enabled"
OVERWRITE_MODE = "spark.sql.sources.partitionOverwriteMode"


def _outer(spark):
    """The outer session's values of every conf the runner scopes; the
    checkpoint manager is unset unless someone set it."""
    return (
        spark.conf.get(PARTS),
        spark.conf.get(AQE),
        spark.conf.get(CHECKPOINT_MANAGER, None),
    )


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
    before = _outer(spark)
    seen = []

    def one_batch(batch, batch_id):
        sess = batch.sparkSession
        seen.append((batch_id, *_outer(sess)))

    with stream_confs(spark, 3, aqe=False):
        drain(_arrivals(spark, tmp_path), one_batch)
    # one arrival file per micro-batch, each run in a session clone that
    # carries the runner's values, not the outer session's
    assert seen == [(b, "3", "false", FS_CHECKPOINT_MANAGER) for b in range(3)]
    assert _outer(spark) == before


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
    before = _outer(spark)

    def one_batch(batch, batch_id):
        raise ValueError(f"boom in batch {batch_id}")

    with pytest.raises(StreamingQueryException, match="boom in batch 0"):
        with stream_confs(spark, 3, aqe=False):
            drain(_arrivals(spark, tmp_path), one_batch)
    assert _outer(spark) == before


def test_conf_scope_unsets_a_key_that_had_no_value(spark):
    key = "spark.graft.test.unsetKey"
    parts = spark.conf.get(PARTS)
    assert spark.conf.get(key, None) is None
    with pytest.raises(ValueError, match="inside"):
        with conf_scope(spark, {key: "a", PARTS: "7"}):
            assert spark.conf.get(key) == "a"
            raise ValueError("inside")
    assert (spark.conf.get(key, None), spark.conf.get(PARTS)) == (None, parts)
    with conf_scope(spark, {key: "b"}):
        with conf_scope(spark, {key: "c"}):
            assert spark.conf.get(key) == "c"
        assert spark.conf.get(key) == "b"
    assert spark.conf.get(key, None) is None


def test_memory_sink_drain_materializes_and_drops_sink(spark, tmp_path):
    out = drain(_arrivals(spark, tmp_path), mode="append")
    assert sorted(r.k for r in out.collect()) == list(range(12))
    assert not [
        t.name for t in spark.catalog.listTables() if t.name.startswith("drain_")
    ]


def _temp_views(spark):
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


def test_memory_sink_drain_drops_sink_when_stream_raises(spark, tmp_path):
    before = _temp_views(spark)
    # batches 0 and 1 land in the sink, then batch 2 (k % 3 == 2) fails
    failing = _arrivals(spark, tmp_path).select(
        "k", F.assert_true(F.col("k") % 3 != 2)
    )
    with pytest.raises(StreamingQueryException):
        drain(failing, mode="append")
    assert _temp_views(spark) == before


# every runner that drains through runner.drain inside one workdir
_WORKDIR_RUNNERS = {
    "st6": "run_foreach_batch_upsert",
    "st8": "run_jsonl_ingest",
    "st13": "run_left_outer_attribution",
    "st14": "run_streaming_near_dedup",
    "st15": "run_streaming_heavy_hitters",
    "st16": "run_cdc_apply_stream",
    "st17": "run_vector_index_ingest",
    "st18": "run_corpus_telemetry",
    "st19": "run_model_score_stream",
    "st20": "run_streaming_semantic_dedup",
    "st21": "run_knn_graph_ingest",
    "st22": "run_vector_serve_stream",
    "st23": "run_export_manifest_stream",
    "st24": "run_graph_serve_stream",
    "st25": "run_bpe_stats_stream",
    "st26": "run_contract_stream",
    "st27": "run_drift_stream",
    "st28": "run_token_budget_stream",
    "st29": "run_nb_deploy_stream",
    "st30": "run_span_index_stream",
    "st31": "run_quantile_stream",
    "st32": "run_maxsim_serve_stream",
    "st33": "run_late_data_audit",
    "st34": "run_unseen_mass_stream",
    "st35": "run_containment_ingest",
    "st36": "run_weighted_quantile_stream",
    "st37": "run_bm25_index_ingest",
    "st38": "run_hybrid_serve_stream",
    "st38b": "run_hybrid_serve_pruned",
    "st39": "run_media_dedup_ingest",
    "st40": "run_mixed_media_dedup_ingest",
    "st41": "run_erasure_request_stream",
    "st42": "run_index_erasure_stream",
    "st43": "run_cell_erasure_stream",
    "st44": "run_graph_erasure_stream",
    "st45": "run_backfill_stream",
    "st46": "run_decontamination_ingest",
    "st47": "run_preference_pair_stream",
    "st48": "run_shard_export_stream",
}


@pytest.mark.parametrize(
    "runner", list(_WORKDIR_RUNNERS.values()), ids=list(_WORKDIR_RUNNERS)
)
def test_raising_runner_leaves_no_workdir(
    spark, sf001, tmp_path, monkeypatch, runner
):
    def broken_drain(*args, **kwargs):
        raise RuntimeError("drain failed")

    # the graph index is deployed once per process and outlives every
    # query by design (st24/st44/st45): deploy it before the swap below
    deployed_graph_index(spark, sf001, k=5, n_probe=2)
    scratch = tmp_path / "tmp"
    scratch.mkdir()
    monkeypatch.setattr(micro_batch, "drain", broken_drain)
    monkeypatch.setattr(tempfile, "tempdir", str(scratch))
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    with pytest.raises(RuntimeError, match="drain failed"):
        getattr(micro_batch, runner)(spark, sf001)
    assert os.listdir(scratch) == []
    # nor a cached frame (st24 persists two around its drain)
    assert cache.isEmpty()


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


def test_list_dir_names_is_empty_only_for_a_missing_dir(spark, tmp_path):
    assert list_dir_names(spark, str(tmp_path / "missing")) == []
    assert list_dir_names(spark, "file://" + str(tmp_path / "missing")) == []
    # any other listing error propagates: callers read [] as "no data"
    with pytest.raises(Exception, match="nosuchscheme"):
        list_dir_names(spark, "nosuchscheme://host/state")


def _bucket_store(spark, tmp_path):
    """A two-row, unit-weight bucket-0 store in st31/st36's landing
    layout."""
    store = str(tmp_path / "store")
    spark.createDataFrame(
        [(5.0, 1, 1, 1), (7.0, 1, 2, 1)],
        "value double, w long, l_orderkey long, l_linenumber long",
    ).withColumn("bucket", F.lit(0).cast("long")).write.partitionBy(
        "bucket"
    ).parquet(os.path.join(store, "batch_id=0"))
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
_ALLOWED = {
    # st10/st11 poll a processingTime stream until their source's
    # backlog is consumed, so they start their own query on a
    # local_checkpoint
    ("micro_batch.py", "run_weather_stream", "checkpointLocation"),
    ("micro_batch.py", "run_weather_stream_etl", "checkpointLocation"),
    # st11 and st12 return a lazy read of their target, so its directory
    # must outlive the call; every other runner owns one
    # TemporaryDirectory
    ("micro_batch.py", "run_weather_stream_etl", "mkdtemp"),
    ("micro_batch.py", "run_dedup_ingest", "mkdtemp"),
    # st47 replaces only the cohorts a batch touched: its slot is a set
    # of partitions, not one batch directory. Every other batch-keyed
    # store overwrites its own <store>/<key>=<batch_id> path
    ("micro_batch.py", "run_preference_pair_stream", OVERWRITE_MODE),
}


def _skeleton_hits(path):
    """(top-level def, kind) for every skeleton element in a module:
    a write of the shuffle-partition or AQE conf (the key used anywhere
    but as a ``.get`` argument), an ``availableNow`` trigger, a
    ``checkpointLocation`` option, a ``mkdtemp`` call and the
    partition-overwrite-mode conf key."""
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
            elif isinstance(n, ast.Constant) and n.value in (
                "checkpointLocation",
                OVERWRITE_MODE,
            ):
                hits.append((owner, n.value))
            elif isinstance(n, ast.Attribute) and n.attr == "mkdtemp":
                hits.append((owner, "mkdtemp"))
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


def _program_modules():
    """Every module of the package, plus the driver entry module."""
    root = os.path.dirname(pkg.__file__)
    for d, _, files in os.walk(root):
        yield from (os.path.join(d, f) for f in files if f.endswith(".py"))
    yield os.path.join(os.path.dirname(root), "__spark_entry__.py")


def test_local_checkpoints_go_through_runner():
    """The checkpoint-manager conf is named only in runner.py, and every
    other function that sets a ``checkpointLocation`` takes it from
    ``local_checkpoint``, so no query checkpoints through the forking
    FileContext manager and no checkpoint directory is left behind."""
    runner = os.path.join(os.path.dirname(pkg.__file__), "streaming", "runner.py")
    named, unmanaged = set(), set()
    for path in _program_modules():
        tree = ast.parse(open(path).read())
        for top in tree.body:
            nodes = list(ast.walk(top))
            consts = {n.value for n in nodes if isinstance(n, ast.Constant)}
            if consts & {CHECKPOINT_MANAGER, FS_CHECKPOINT_MANAGER}:
                named.add(path)
            calls = {
                n.func.id
                for n in nodes
                if isinstance(n, ast.Call) and isinstance(n.func, ast.Name)
            }
            if (
                path != runner
                and "checkpointLocation" in consts
                and "local_checkpoint" not in calls
            ):
                owner = getattr(top, "name", "<module>")
                unmanaged.add((os.path.basename(path), owner))
    assert named == {runner}
    assert unmanaged == set()
