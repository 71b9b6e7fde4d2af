"""True incremental-state checks: the stateful streaming operators must
produce batch-equivalent answers when the backlog arrives as MANY
micro-batches (maxFilesPerTrigger=1), not one — state merge across
batches is what single-batch availableNow runs never exercise.
"""

from __future__ import annotations

import tempfile
from contextlib import nullcontext

import pyspark.sql.functions as F
import pytest

from kenya_agricultural_regions_weather_etl_pipeline_spark.sources.tables import (
    events_ts_unit,
    load_table,
    raw_ts_to_micros_sql,
)
from kenya_agricultural_regions_weather_etl_pipeline_spark.streaming.micro_batch import (
    EVENTS_RAW_SCHEMA,
    corpus_telemetry_counts,
    keyed_running_totals,
    windowed_event_counts,
)
from kenya_agricultural_regions_weather_etl_pipeline_spark.streaming.runner import (
    CHECKPOINT_MANAGER,
    FS_CHECKPOINT_MANAGER,
    conf_scope,
)


def _raw_events_micros(spark, sf01):
    """Raw int64-``ts`` events read, normalized to epoch-MICROS whatever
    the physical parquet unit (footer-detected) — the canonical unit
    for test-staged fragment files."""
    import os

    raw = (
        spark.read.schema(EVENTS_RAW_SCHEMA)
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")
        .load(sf01)
    )
    unit = events_ts_unit(os.path.join(sf01, "events.parquet"))
    return raw.withColumn("ts", F.expr(raw_ts_to_micros_sql(unit, "ts")))


def _fragmented_events_dir(spark, sf01, tmp_path, n_files=4):
    """events split into n parquet files, raw int64-micros schema."""
    path = str(tmp_path / "events_frag")
    _raw_events_micros(spark, sf01).repartition(n_files).write.parquet(path)
    return path


def _stream(spark, path, max_files=1):
    raw = (
        spark.readStream.schema(EVENTS_RAW_SCHEMA)
        .option("maxFilesPerTrigger", max_files)
        .format("parquet")
        .load(path)
    )
    return raw.withColumnRenamed("ts", "ts_ns").withColumn(
        "ts", F.timestamp_micros(F.col("ts_ns"))
    )


def _run(df, mode, name):
    with tempfile.TemporaryDirectory() as ckpt:
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        assert len(q.recentProgress) >= 4, "expected multiple micro-batches"
    out = df.sparkSession.table(name).localCheckpoint(eager=True)
    df.sparkSession.catalog.dropTempView(name)
    return out


def test_windowed_counts_multi_batch_equals_batch(spark, sf01, tmp_path):
    path = _fragmented_events_dir(spark, sf01, tmp_path)
    stream_out = _run(
        windowed_event_counts(_stream(spark, path)), "complete", "inc_st1"
    )
    batch_in = _stream_like_batch(spark, path)
    batch_out = windowed_event_counts(batch_in)
    assert stream_out.exceptAll(batch_out).isEmpty()
    assert batch_out.exceptAll(stream_out).isEmpty()


def test_running_totals_multi_batch_equals_batch(spark, sf01, tmp_path):
    path = _fragmented_events_dir(spark, sf01, tmp_path)
    emitted = _run(
        keyed_running_totals(_stream(spark, path).select("user_id", "value")),
        "append",
        "inc_st4",
    )
    # append mode emits one row per key per batch; the running total is
    # monotone in n_events, so the final state is the per-key max row
    final = (
        emitted.groupBy("user_id")
        .agg(F.max_by(F.struct("n_events", "sum_value"), "n_events").alias("s"))
        .select("user_id", "s.n_events", "s.sum_value")
    )
    batch = (
        _stream_like_batch(spark, path)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    j = final.join(batch.withColumnRenamed("n_events", "n_batch"), "user_id")
    assert j.filter(F.col("n_events") != F.col("n_batch")).isEmpty()
    assert final.count() == batch.count()


def _stream_like_batch(spark, path):
    raw = spark.read.schema(EVENTS_RAW_SCHEMA).parquet(path)
    return raw.withColumnRenamed("ts", "ts_ns").withColumn(
        "ts", F.timestamp_micros(F.col("ts_ns"))
    )


def test_foreach_batch_upsert_multi_batch_equals_batch(spark, sf01, tmp_path):
    """st6 state lives in the Parquet target itself: merging the backlog
    one file per micro-batch must converge to the same per-key argmax as
    a single batch query, whatever order the files arrive in."""
    from pyspark.sql import Window

    from kenya_agricultural_regions_weather_etl_pipeline_spark.streaming.micro_batch import (
        foreach_batch_upsert,
    )

    path = _fragmented_events_dir(spark, sf01, tmp_path)
    target = str(tmp_path / "st6_target")
    foreach_batch_upsert(
        _stream(spark, path),
        target,
        keys=["user_id", "event_type"],
        order_cols=["ts_ns", "event_id"],
        payload_cols=["value"],
    )
    merged = spark.read.parquet(target + "/data").select(
        "user_id", "event_type", "event_id", "value"
    )
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts_ns").desc(), F.col("event_id").desc()
    )
    batch = (
        _stream_like_batch(spark, path)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("user_id", "event_type", "event_id", "value")
    )
    assert merged.exceptAll(batch).isEmpty()
    assert batch.exceptAll(merged).isEmpty()


def _time_ordered_fragments(spark, sf01, tmp_path, n_files=4):
    """events split into n parquet files by TIME RANGE, written in
    ascending order (FileStreamSource processes by mod-time, so batches
    arrive in event-time order — required for a stream-stream join test:
    randomly-ordered fragments would put whole quartiles behind the
    watermark and the join would legitimately drop them)."""
    import time as _time

    path = str(tmp_path / "events_ordered")
    raw = _raw_events_micros(spark, sf01)
    lo, hi = raw.agg(F.min("ts"), F.max("ts")).first()
    for i in range(n_files):
        a = lo + (hi - lo) * i // n_files
        b = hi + 1 if i == n_files - 1 else lo + (hi - lo) * (i + 1) // n_files
        raw.filter((F.col("ts") >= a) & (F.col("ts") < b)).coalesce(1).write.mode(
            "append"
        ).parquet(path)
        _time.sleep(1.1)  # distinct mod-times => deterministic file order
    return path


def test_foreach_batch_upsert_keeps_target_on_schema_drift(spark, tmp_path):
    """A target the batch cannot be unioned with is existing data, not a
    first batch: the merge must raise and leave all of its rows in
    place, instead of overwriting them with the arriving batch alone."""
    import os
    import time

    from pyspark.errors import StreamingQueryException

    from kenya_agricultural_regions_weather_etl_pipeline_spark.streaming.micro_batch import (
        foreach_batch_upsert,
    )
    from kenya_agricultural_regions_weather_etl_pipeline_spark.streaming.runner import (
        read_arrivals,
        stage_arrivals,
    )

    target = str(tmp_path / "target")
    data = os.path.join(target, "data")
    spark.range(100).select(  # no ``value`` column
        F.col("id").alias("user_id"),
        F.lit("view").alias("event_type"),
        F.col("id").alias("ts_ns"),
        F.col("id").alias("event_id"),
    ).write.parquet(data)
    schema = "user_id long, event_type string, ts_ns long, event_id long, value double"
    src = str(tmp_path / "arrivals")
    os.makedirs(src)
    stage_arrivals(
        spark.createDataFrame([(7, "click", 1, 1, 1.0)], schema),
        src,
        1,
        F.lit(0),
        time.time() - 600,
        1,
    )
    with pytest.raises(StreamingQueryException, match="value"):
        foreach_batch_upsert(
            read_arrivals(spark, src, schema, "json"),
            target,
            keys=["user_id", "event_type"],
            order_cols=["ts_ns", "event_id"],
            payload_cols=["value"],
        )
    assert spark.read.parquet(data).count() == 100


def test_stream_stream_join_multi_batch_equals_batch(spark, sf01, tmp_path):
    """st7: the click->purchase join must find every pair even when the
    two sides arrive over many micro-batches (cross-batch join state),
    matching the batch join exactly."""
    from kenya_agricultural_regions_weather_etl_pipeline_spark.streaming.micro_batch import (
        click_purchase_join,
    )

    path = _time_ordered_fragments(spark, sf01, tmp_path)
    stream_out = _run(
        click_purchase_join(_stream(spark, path), _stream(spark, path)),
        "append",
        "inc_st7",
    )
    batch_in = _stream_like_batch(spark, path)
    batch_out = click_purchase_join(batch_in, batch_in)
    assert stream_out.exceptAll(batch_out).isEmpty()
    assert batch_out.exceptAll(stream_out).isEmpty()
    assert stream_out.count() > 0


def test_jsonl_ingest_runs_twice_in_one_session(spark, sf01):
    # memory-sink names must be unique per run and the temp source dirs
    # cleaned up — a second invocation in the same session must not
    # collide with the first's sink table or checkpoint
    from kenya_agricultural_regions_weather_etl_pipeline_spark.streaming.micro_batch import (
        run_jsonl_ingest,
    )

    a = {tuple(r) for r in run_jsonl_ingest(spark, sf01).collect()}
    b = {tuple(r) for r in run_jsonl_ingest(spark, sf01).collect()}
    assert a == b and len(a) > 0


def _events_fold(spark, sf01):
    """st1's windowed counts over the events, ``ts`` as epoch micros."""

    def agg(df):
        return windowed_event_counts(
            df.withColumnRenamed("ts", "ts_ns").withColumn(
                "ts", F.timestamp_micros(F.col("ts_ns"))
            )
        )

    return _raw_events_micros(spark, sf01), "event_id", agg


def _telemetry_fold(spark, sf01):
    """st18's native per-language fold over the documents."""
    docs = load_table(spark, sf01, "documents").select(
        "doc_id", "lang", "text", "n_chars"
    )
    return docs, "doc_id", corpus_telemetry_counts


@pytest.mark.parametrize(
    "manager, fold",
    [
        (None, _events_fold),
        (FS_CHECKPOINT_MANAGER, _events_fold),
        (FS_CHECKPOINT_MANAGER, _telemetry_fold),
    ],
    ids=["filecontext", "filesystem", "st18_telemetry"],
)
def test_checkpoint_resume_accumulates_state(
    spark, sf01, tmp_path, manager, fold
):
    """Exactly-once recovery: stop a stateful aggregate after a first
    backlog, land MORE files, restart with the SAME checkpoint dir —
    the resumed query must fold the new data into the recovered state
    (equal to one batch pass over everything), not reprocess or drop.
    st1's windowed agg runs with Spark's default checkpoint manager and
    with the FileSystem-API manager ``local_checkpoint`` writes
    through; st18's native fold (the aggregate its runner streams) runs
    with the latter."""
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    rows, key, agg = fold(spark, sf01)
    half1 = rows.filter(F.col(key) % 2 == 0)
    half2 = rows.filter(F.col(key) % 2 == 1)
    half1.write.mode("append").parquet(src)

    def run_once(name):
        stream = spark.readStream.schema(rows.schema).format("parquet").load(src)
        scope = (
            conf_scope(spark, {CHECKPOINT_MANAGER: manager})
            if manager
            else nullcontext()
        )
        with scope:
            q = (
                agg(stream)
                .writeStream.format("memory")
                .queryName(name)
                .outputMode("complete")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        read = sum(p["numInputRows"] for p in q.recentProgress)
        out = spark.table(name).localCheckpoint(eager=True)
        spark.catalog.dropTempView(name)
        return out, read

    first, _ = run_once("ckpt_a")
    assert first.count() > 0
    half2.write.mode("append").parquet(src)
    resumed, read = run_once("ckpt_b")
    # the restart read only the new files; the rest came from state
    assert read == half2.count()

    batch = agg(spark.read.schema(rows.schema).parquet(src))
    assert resumed.exceptAll(batch).isEmpty()
    assert batch.exceptAll(resumed).isEmpty()


# Spark jobs of build plus a ``noop`` write (the ``numTotalJobs``
# delta) for the folds that keep their state in a native streaming
# aggregate: 8/8/8/15, plus one when the query is the first of the
# process. The version-chained v{n} folds they replace ran 19-23.
NATIVE_FOLD_JOBS = {
    "st18_corpus_telemetry": 9,
    "st23_export_manifest_stream": 9,
    "st25_bpe_stats_stream": 9,
    "st27_drift_stream": 16,
}


@pytest.mark.parametrize("name", sorted(NATIVE_FOLD_JOBS))
def test_native_fold_job_count_stays_at_ceiling(spark, sf01, name):
    import __spark_entry__ as entrymod

    sched = spark.sparkContext._jsc.sc().dagScheduler()
    before = sched.numTotalJobs()
    entrymod.queries()[name](spark, sf01).write.format("noop").mode(
        "overwrite"
    ).save()
    assert sched.numTotalJobs() - before <= NATIVE_FOLD_JOBS[name]


def test_weather_stream_etl_partition_layout(spark):
    """st11: the streaming daily ETL must land one date=... partition
    per scheduled day (dynamic partition overwrite granularity) and one
    row per (region, data_timestamp) key — the upsert invariant."""
    import os
    import re

    from kenya_agricultural_regions_weather_etl_pipeline_spark.streaming.micro_batch import (
        run_weather_stream_etl,
    )

    merged = run_weather_stream_etl(spark, days=2)
    # table path is recoverable from the DataFrame's file listing
    a_file = merged.inputFiles()[0]
    root = re.sub(r"/date=.*$", "", a_file.replace("file:", ""))
    parts = sorted(d for d in os.listdir(root) if d.startswith("date="))
    assert len(parts) == 2, parts
    dup = (
        merged.groupBy("region", "data_timestamp")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert dup == 0
    assert merged.count() > 0
    # E1 side output: the day-0 malformed doc must be quarantined, not
    # silently dropped (streaming twin of the per-region failure log)
    quarantine = spark.read.parquet(root + "_quarantine")
    assert quarantine.count() == 1
    assert quarantine.first().region == "Nakuru"


def test_streaming_near_dedup_equals_batch_rule(spark, sf001):
    """st14's streaming survivors must EQUAL the batch formula — drop a
    doc iff a verified (exact Jaccard >= 0.5) LSH-candidate pair links
    it to any smaller doc_id — replayed with the batch operators on the
    same corpus. Proves the incremental state decomposition (standing
    bucket index + within-batch self-join) loses and invents nothing."""
    import pyspark.sql.functions as F

    from kenya_agricultural_regions_weather_etl_pipeline_spark.operators.dedup import (
        minhash_portable_pairs,
    )
    from kenya_agricultural_regions_weather_etl_pipeline_spark.sources.tables import (
        load_table,
    )
    from kenya_agricultural_regions_weather_etl_pipeline_spark.streaming.micro_batch import (
        run_streaming_near_dedup,
    )

    streamed = run_streaming_near_dedup(spark, sf001)
    docs = load_table(spark, sf001, "documents").select(
        "doc_id", "source", "text"
    )
    # batch twin = the SAME portable hash family st14 now streams with
    # (x2c's), so candidates and verified pairs are bit-identical
    dropped = (
        minhash_portable_pairs(docs, threshold=0.5)
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
    )
    batch = (
        docs.join(dropped, "doc_id", "left_anti")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_survivors"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
    )
    got = {r.source: (r.n_survivors, r.min_id, r.max_id) for r in streamed.collect()}
    want = {r.source: (r.n_survivors, r.min_id, r.max_id) for r in batch.collect()}
    assert got == want
    # and dedup actually did something (the corpus has known near-dups)
    assert sum(v[0] for v in want.values()) < docs.count()


def test_streaming_semantic_dedup_equals_batch_rule_any_batching(spark, sf001):
    """st20's survivors must equal the batch SemDeDup drop rule (x40c's
    √N-k pair machinery + drop-the-larger-id; st20 adopted the √N
    trainer policy in r8) REGARDLESS of how the stream is batched —
    run with 7 micro-batches (not the default 4 the oracle sweep
    exercises) and replay the rule with the batch operators."""
    import pyspark.sql.functions as F

    import __spark_entry__ as entrymod
    from kenya_agricultural_regions_weather_etl_pipeline_spark.sources.tables import (
        load_table,
    )
    from kenya_agricultural_regions_weather_etl_pipeline_spark.streaming.micro_batch import (
        run_streaming_semantic_dedup,
    )

    streamed = run_streaming_semantic_dedup(spark, sf001, n_batches=7)
    emb = load_table(spark, sf001, "embeddings")
    dropped = (
        entrymod.queries()["x40c_semantic_dedup_balanced"](spark, sf001)
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
    )
    batch = (
        emb.join(dropped, "vec_id", "left_anti")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_survivors"),
            F.min("vec_id").alias("min_id"),
            F.max("vec_id").alias("max_id"),
        )
    )
    got = {r.label: (r.n_survivors, r.min_id, r.max_id) for r in streamed.collect()}
    want = {r.label: (r.n_survivors, r.min_id, r.max_id) for r in batch.collect()}
    assert got == want
    # the synthetic corpus has pairs above the threshold, so dedup acted
    assert sum(v[0] for v in want.values()) < emb.count()


def test_st13_outer_join_flushes_mid_stream(spark, sf001):
    """st13 with the real backlog split into 3 TIME-ORDERED micro-
    batches: batch k's watermark advance must evict batch k-1's expired
    unmatched clicks mid-stream (not only at the sentinel flush), and
    the total result must still equal the batch LEFT JOIN exactly."""
    import pyspark.sql.functions as F

    from kenya_agricultural_regions_weather_etl_pipeline_spark.sources.tables import (
        load_table,
    )
    from kenya_agricultural_regions_weather_etl_pipeline_spark.streaming.micro_batch import (
        run_left_outer_attribution,
    )

    got = run_left_outer_attribution(spark, sf001, n_real_batches=3)
    ev = load_table(spark, sf001, "events")
    c = ev.filter("event_type = 'click'").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.expr("ts_ns div 1000").alias("c_us"),
    )
    p = ev.filter("event_type = 'purchase'").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.expr("ts_ns div 1000").alias("p_us"),
    )
    want = c.join(
        p,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_us") >= F.col("c_us"))
        & (F.col("p_us") <= F.col("c_us") + 30 * 60 * 1_000_000),
        "left_outer",
    ).select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        (F.col("p_us") - F.col("c_us")).alias("delay_us"),
    )
    got_rows = sorted(map(tuple, got.collect()))
    want_rows = sorted(map(tuple, want.collect()))
    assert got_rows == want_rows
    assert any(r[2] is None for r in got_rows)  # unmatched clicks present


def test_st16_cdc_epoch_order_is_semantic(spark, sf001):
    """The CDC stream's final state depends on epoch ORDER: %21 keys
    (upserted in epoch 0, deleted in epoch 1) must be absent; %35 keys
    (deleted in epoch 1, re-upserted in epoch 2) must be present at
    1.10x their original price. A union-style single merge cannot
    produce this — only sequential micro-batch application can."""
    from kenya_agricultural_regions_weather_etl_pipeline_spark.sources.tables import (
        load_table,
    )
    from kenya_agricultural_regions_weather_etl_pipeline_spark.streaming.micro_batch import (
        run_cdc_apply_stream,
    )

    final = run_cdc_apply_stream(spark, sf001)
    base = load_table(spark, sf001, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    k = F.col("o_orderkey")
    up_then_del = {
        r[0] for r in base.filter((k % 21 == 0) & (k % 5 != 0)).collect()
    }
    del_then_up = {
        (r[0], r[1] * 1.10) for r in base.filter(k % 35 == 0).collect()
    }
    assert up_then_del and del_then_up  # fixture actually exercises both
    got = {r[0]: r[1] for r in final.collect()}
    assert not (up_then_del & set(got)), "upsert-then-delete keys leaked"
    for key, want_price in del_then_up:
        assert got.get(key) == want_price, (key, got.get(key), want_price)


def test_st21_graph_ingest_equals_batch_rebuild(spark, sf001):
    """st21's drained HEAD graph must equal the batch x86 rebuild as a
    SET (the upsert exactness argument, by induction over 4 arrival
    batches split vec_id % 4 — an order unrelated to the id-ordered
    codebook)."""
    import __spark_entry__ as entrymod
    from kenya_agricultural_regions_weather_etl_pipeline_spark.streaming.micro_batch import (
        run_knn_graph_ingest,
    )

    out = run_knn_graph_ingest(spark, sf001)
    batch = entrymod.queries()["x86_knn_graph"](spark, sf001)
    assert out.count() == batch.count() > 0
    assert out.exceptAll(batch).count() == 0
    assert batch.exceptAll(out).count() == 0


def test_st22_streaming_serving_equals_batch_search(spark, sf001):
    """st22's drained served answers must equal the batch x5d IVF
    search as a SET — queries arriving in 4 separate serve batches
    (vec_id % 4, an order unrelated to cell layout) may not change a
    single answer row."""
    import __spark_entry__ as entrymod
    from kenya_agricultural_regions_weather_etl_pipeline_spark.streaming.micro_batch import (
        run_vector_serve_stream,
    )

    out = run_vector_serve_stream(spark, sf001)
    batch = entrymod.queries()["x5d_cosine_topk_ivf"](spark, sf001)
    assert out.count() == batch.count() > 0
    assert out.exceptAll(batch).count() == 0
    assert batch.exceptAll(out).count() == 0


def test_st26_contract_counts_violations_across_batches(spark, tmp_path):
    """st26's keyed uniqueness state is the one contract clause that
    cannot be a 1-row monoid: duplicates straddling micro-batches must
    still be counted once per extra occurrence. Craft an orders table
    where every expectation has a known violation count (dup keys, a
    null key, an orphan custkey, out-of-range price/status/date) and
    assert the drained scoreboard matches the hand count — the backlog
    streams as 4 files, so the counters and key state provably fold
    across batches."""
    from datetime import datetime

    from kenya_agricultural_regions_weather_etl_pipeline_spark.streaming.micro_batch import (
        run_contract_stream,
    )

    def d(s):
        return datetime.strptime(s, "%Y-%m-%d")

    orders = spark.createDataFrame(
        [
            # (key, custkey, status, price, date)
            (1, 10, "O", 100.0, d("1995-06-01")),
            (1, 10, "F", 200.0, d("1996-06-01")),   # dup of key 1
            (2, 11, "P", 300.0, d("1997-06-01")),
            (3, 12, "O", 400.0, d("1993-06-01")),
            (3, 12, "O", 500.0, d("1994-06-01")),   # dup of key 3
            (3, 12, "O", 600.0, d("1995-06-01")),   # dup of key 3
            (None, 10, "O", 700.0, d("1995-06-01")),  # null key
            (4, 99, "O", 800.0, d("1995-06-01")),   # orphan custkey
            (5, 10, "X", 900.0, d("1995-06-01")),   # bad status
            (6, 10, "O", -5.0, d("1995-06-01")),    # bad price
            (7, 10, "O", 1000.0, d("1991-06-01")),  # date too early
        ],
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp_ntz",
    ).withColumn("o_orderpriority", F.lit("1-URGENT"))
    cust = spark.createDataFrame(
        [(10,), (11,), (12,)], "c_custkey long"
    ).withColumn("c_name", F.lit("c"))
    sf_dir = str(tmp_path)
    orders.coalesce(1).write.parquet(f"{sf_dir}/_o")
    cust.coalesce(1).write.parquet(f"{sf_dir}/_c")
    import glob
    import shutil

    shutil.move(glob.glob(f"{sf_dir}/_o/part-*.parquet")[0],
                f"{sf_dir}/orders.parquet")
    shutil.move(glob.glob(f"{sf_dir}/_c/part-*.parquet")[0],
                f"{sf_dir}/customer.parquet")

    got = {
        r["expectation"]: r["violations"]
        for r in run_contract_stream(spark, sf_dir).collect()
    }
    # unique: 11 rows total, 7 distinct non-null keys -> 4 violations
    # (the 3 extra dup occurrences + the null-key row, exactly a20's
    # n - countDistinct arithmetic)
    assert got == {
        "not_null": 1,
        "unique": 4,
        "range_0_1m": 1,
        "allowed_values": 1,
        "date_bounds": 1,
        "ref_integrity": 1,
    }
