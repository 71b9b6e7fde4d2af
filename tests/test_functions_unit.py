"""SURVEY.md §5 unit/property tests: the P1/P2/P5 derivations against
pure-Python evaluations of the reference formulas
(/root/reference/daily_weather_etl_kenya.py:342-390), the pandas_udf
twin against the native expression, the rolling hash against a Python
fold, and the run_batch pipeline (idempotent upsert + verdict shape).
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from kenya_agricultural_regions_weather_etl_pipeline_spark.functions import weather as W
from kenya_agricultural_regions_weather_etl_pipeline_spark.functions import text as T
from kenya_agricultural_regions_weather_etl_pipeline_spark.plans.weather_pipeline import (
    run_batch,
)


def _round_half_up(x: float, n: int) -> float:
    s = float(10**n)
    return math.floor(x * s + 0.5) / s + 0.0


def _ref_heat_index(t: float, h: float) -> float:
    """Reference calculate_heat_index semantics
    (/root/reference/daily_weather_etl_kenya.py:342-363), with the
    engine's deterministic half-up rounding."""
    if t < 27:
        return t
    poly = (
        -8.78469475556
        + 1.61139411 * t
        + 2.33854883889 * h
        + -0.14611605 * t * h
        + -0.012308094 * t * t
        + -0.0164248277778 * h * h
        + 0.002211732 * t * t * h
        + 0.00072546 * t * h * h
        + -0.000003582 * t * t * h * h
    )
    return _round_half_up(poly, 2)


def _ref_dew_point(t: float, h: float) -> float:
    """Reference calculate_dew_point semantics
    (/root/reference/daily_weather_etl_kenya.py:365-377)."""
    a, b = 17.27, 237.7
    alpha = (a * t) / (b + t) + h / 100.0
    return _round_half_up((b * alpha) / (a - alpha), 2)


def _ref_rainfall_category(r: float) -> str:
    """Reference categorize_rainfall semantics
    (/root/reference/daily_weather_etl_kenya.py:379-390)."""
    if r == 0:
        return "No Rain"
    if r < 2.5:
        return "Light Rain"
    if r < 10:
        return "Moderate Rain"
    if r < 50:
        return "Heavy Rain"
    return "Very Heavy Rain"


def _grid():
    """Deterministic (temp, humidity, rainfall) sample grid covering the
    guard boundary (t=27), range edges, ties, and negatives."""
    temps = [-5.0, 0.0, 12.34, 18.0, 26.99, 27.0, 27.005, 28.0, 35.5, 41.9, 50.0]
    hums = [0.0, 1.0, 33.0, 50.0, 70.0, 70.5, 99.0, 100.0]
    rains = [0.0, 0.1, 2.49, 2.5, 9.99, 10.0, 49.9, 50.0, 120.0]
    rows = []
    for i, t in enumerate(temps):
        for j, h in enumerate(hums):
            rows.append((t, h, rains[(i * len(hums) + j) % len(rains)]))
    return rows


def test_p1_p2_p5_match_reference_formulas(spark):
    rows = _grid()
    df = spark.createDataFrame(rows, "t double, h double, r double")
    got = (
        df.select(
            "t",
            "h",
            "r",
            W.heat_index(F.col("t"), F.col("h")).alias("hi"),
            W.dew_point(F.col("t"), F.col("h")).alias("dp"),
            W.rainfall_category(F.col("r")).alias("rc"),
        )
        .orderBy("t", "h", "r")
        .collect()
    )
    for row in got:
        assert row.hi == pytest.approx(_ref_heat_index(row.t, row.h), abs=0), (
            f"heat_index({row.t},{row.h})"
        )
        assert row.dp == pytest.approx(_ref_dew_point(row.t, row.h), abs=0), (
            f"dew_point({row.t},{row.h})"
        )
        assert row.rc == _ref_rainfall_category(row.r), f"rainfall({row.r})"


def test_pandas_udf_twin_equals_native(spark):
    """The Arrow pandas_udf heat-index twin must agree bit-for-bit with
    the native Column expression (functions/weather.py docstring claim)."""
    rows = [(t, h, r) for t, h, r in _grid()]
    df = spark.createDataFrame(rows, "t double, h double, r double")
    udf = W.heat_index_pandas_udf()
    out = df.select(
        (W.heat_index(F.col("t"), F.col("h")) - udf(F.col("t"), F.col("h"))).alias("d")
    ).agg(F.max(F.abs(F.col("d"))).alias("max_d")).collect()[0]
    assert out.max_d == 0.0


def test_rolling_hash_matches_python_fold(spark):
    samples = ["hello world", "a", "The  QUICK   brown fox", "", "123 !?"]
    df = spark.createDataFrame([(s,) for s in samples], "text string")
    got = {
        r.text: r.h
        for r in df.select(
            "text", T.rolling_hash(F.col("text")).alias("h")
        ).collect()
    }
    for s in samples:
        norm = " ".join(s.lower().split())
        acc = 0
        for ch in norm:
            acc = (acc * 257 + ord(ch)) % 1_000_000_007
        assert got[s] == acc, f"rolling_hash({s!r})"


def test_run_batch_idempotent_upsert(spark, tmp_path):
    """The full pipeline writes a keyed table; re-running the same batch
    must not duplicate rows (the ON CONFLICT upsert invariant,
    /root/reference/daily_weather_etl_kenya.py:425-451)."""
    path = str(tmp_path / "weather_table")
    v1 = run_batch(spark, path, days=3)
    n1 = spark.read.parquet(path).count()
    v2 = run_batch(spark, path, days=3)
    n2 = spark.read.parquet(path).count()
    assert n1 == n2 > 0
    assert v1["corrupt_quarantined"] == 1
    assert set(v1) == set(v2)
    assert v1["completeness_ok"] in (True, False)
    # uniqueness invariant on the merge key
    dup = (
        spark.read.parquet(path)
        .groupBy("region", "data_timestamp")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert dup == 0


def test_lsh_recall_floor(spark, sf01):
    """x5b's measured recall vs exact top-k must clear a stated floor
    (VERDICT r1: 'recall is never measured')."""
    import __spark_entry__ as entrymod

    row = entrymod.queries()["x5c_lsh_recall"](spark, sf01).collect()[0]
    assert row.n_exact == 80
    # multi-probe (Hamming-1) sign-LSH measured 0.49 at sf0.01
    assert row.recall >= 0.4, f"sign-LSH recall collapsed: {row.recall}"


def test_touched_partition_probe_is_bounded(spark):
    """The driver-side touched-partitions collect (run_batch and the
    st11 micro-batch merge both route through it) must refuse a
    high-cardinality key instead of OOMing the driver (VERDICT r3 #7):
    the collect is LIMIT-capped at max+1 rows, then raises."""
    import pytest

    from kenya_agricultural_regions_weather_etl_pipeline_spark.operators.merge import (
        collect_touched_partitions,
    )

    wide = spark.range(0, 500).withColumnRenamed("id", "date")
    with pytest.raises(ValueError, match="more than 100 distinct"):
        collect_touched_partitions(wide, "date", max_partitions=100)
    # in-bounds path returns the distinct keys
    narrow = spark.range(0, 500).selectExpr("id % 3 AS date")
    assert sorted(collect_touched_partitions(narrow, "date")) == [0, 1, 2]


def test_cc_partition_count_scales_with_cluster_parallelism():
    """connected_components' distributed-loop partition count must be
    derived from the cluster's defaultParallelism, not a local[32]
    constant (VERDICT r3 #2): at fixed edge count, a bigger cluster
    raises the cap; at fixed cluster, more edges means more partitions
    up to that cap."""
    from kenya_agricultural_regions_weather_etl_pipeline_spark.operators.dedup import (
        _cc_num_partitions,
    )

    # data axis: partitions grow ~1 per 50k edges under the cap
    assert _cc_num_partitions(250_000, 32) == 6
    assert _cc_num_partitions(5_000_000, 32) == 101
    # cluster axis: the cap is 4×parallelism, so a 1000-core cluster
    # keeps scaling where a local[32] constant would have clipped at 32
    assert _cc_num_partitions(1_000_000_000, 32) == 128
    assert _cc_num_partitions(1_000_000_000, 4000) == 16_000
    # degenerate inputs stay sane
    assert _cc_num_partitions(0, 1) == 1


def test_semdedup_adaptive_k_recall_equivalence(spark, sf01):
    """x40b (k ∝ N, the 100 TB regime) must not LOSE pair recall vs the
    pinned-k x40 against brute-force all-pairs truth (VERDICT r3 #1).
    Measured at sf0.01: truth=990 pairs (cos ≥ 0.3), x40 recall 0.3414,
    x40b recall 0.4101 — adaptive clustering finds MORE of the truth
    while its candidate set scales linearly instead of quadratically."""
    import duckdb

    import __spark_entry__ as entrymod

    truth = set(
        duckdb.sql(
            f"""
            WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
                       FROM '{sf01}/embeddings.parquet')
            SELECT x.vec_id, y.vec_id FROM e x JOIN e y
              ON x.vec_id < y.vec_id
            WHERE round(list_dot_product(x.v, y.v)
                  / (sqrt(list_dot_product(x.v, x.v))
                     * sqrt(list_dot_product(y.v, y.v))), 6) >= 0.3
            """
        ).fetchall()
    )
    assert truth, "brute-force truth set is empty — threshold drifted"

    def recall(name):
        got = {
            (r.id_a, r.id_b)
            for r in entrymod.queries()[name](spark, sf01)
            .select("id_a", "id_b")
            .collect()
        }
        assert got <= truth, f"{name} reported a pair not in the truth set"
        return len(got & truth) / len(truth)

    r_pinned = recall("x40_semantic_dedup_pairs")
    r_adaptive = recall("x40b_semantic_dedup_adaptive")
    assert r_adaptive >= r_pinned - 0.02, (
        f"adaptive-k recall {r_adaptive:.4f} fell below pinned-k "
        f"{r_pinned:.4f}"
    )
    assert r_adaptive >= 0.3, f"adaptive-k recall collapsed: {r_adaptive}"
    # balanced policy (k=√N≈23 at sf0.01) prunes harder — smaller
    # clusters trade recall for the N^1.5 total cost; floor it so a
    # seeding/assignment regression is still caught
    r_balanced = recall("x40c_semantic_dedup_balanced")
    assert r_balanced >= 0.15, f"balanced-k recall collapsed: {r_balanced}"


def test_ivf_adaptive_probe_recall_vs_fixed(spark, sf01):
    """x5g's candidate-budgeted probing must not lose recall vs x5d's
    fixed n_probe=2 at a comparable candidate budget (min_candidates=64
    ≈ 2 mean cells of the sf0.01 corpus) — the point of pricing the
    probe in candidates instead of cells."""
    import __spark_entry__ as entrymod

    exact = {
        (r.query_id, r.vec_id)
        for r in entrymod.queries()["x5_cosine_topk"](spark, sf01)
        .select("query_id", "vec_id")
        .collect()
    }

    def recall(name):
        got = {
            (r.query_id, r.vec_id)
            for r in entrymod.queries()[name](spark, sf01)
            .select("query_id", "vec_id")
            .collect()
        }
        return len(got & exact) / len(exact)

    r_fixed = recall("x5d_cosine_topk_ivf")
    r_adaptive = recall("x5g_ivf_adaptive_probe")
    assert r_adaptive >= r_fixed - 0.05, (
        f"adaptive-probe recall {r_adaptive:.4f} fell below fixed-probe "
        f"{r_fixed:.4f}"
    )
    assert r_adaptive >= 0.5, f"adaptive-probe recall collapsed: {r_adaptive}"
    # IVF-PQ trades recall for the 32× code-scan memory win; measured
    # 0.7625 at sf0.01 (vs 0.8875 raw-vector IVF) — floor it so a code/
    # ADC regression is caught, and pin that it stays approximate-sane
    r_pq = recall("x5h_ivfpq_search")
    assert r_pq >= 0.6, f"IVF-PQ recall collapsed: {r_pq}"


def test_nn_descent_round_improves_graph_recall(spark, sf01):
    """x88's refinement must be monotone: one NN-descent round over
    x86's IVF-seeded graph may only RAISE recall@5 vs the brute-force
    truth (incumbent edges are in the candidate set, so a displacement
    only happens for a strictly better neighbor). Also floors the
    refined recall so a closure/rerank regression is caught."""
    import __spark_entry__ as entrymod
    from kenya_agricultural_regions_weather_etl_pipeline_spark.functions.vectors import (
        cosine,
        to_double_array,
    )
    from pyspark.sql import Window

    emb = entrymod.load_table(spark, sf01, "embeddings")
    a = emb.select(
        F.col("vec_id").alias("src_id"),
        to_double_array(F.col("embedding")).alias("av"),
    )
    b = emb.select(
        F.col("vec_id").alias("nbr_id"),
        to_double_array(F.col("embedding")).alias("bv"),
    )
    w = Window.partitionBy("src_id").orderBy(
        F.col("sim").desc(), F.col("nbr_id").asc()
    )
    truth = {
        (r.src_id, r.nbr_id)
        for r in a.crossJoin(b)
        .filter(F.col("src_id") != F.col("nbr_id"))
        .withColumn("sim", cosine(F.col("av"), F.col("bv")))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("src_id", "nbr_id")
        .collect()
    }

    def recall(name):
        got = {
            (r.src_id, r.nbr_id)
            for r in entrymod.queries()[name](spark, sf01)
            .select("src_id", "nbr_id")
            .collect()
        }
        return len(got & truth) / len(truth)

    r_seed = recall("x86_knn_graph")
    r_refined = recall("x88_nn_descent_round")
    # measured at sf0.01: seed 0.2796 -> refined 0.3956 (+41% relative;
    # uniform synthetic embeddings are NN-descent's worst case — no
    # manifold locality to exploit — so absolute recall stays modest)
    assert r_refined >= r_seed + 0.05, (
        f"NN-descent round did not improve recall: "
        f"{r_seed:.4f} -> {r_refined:.4f}"
    )
    assert r_refined >= 0.35, f"refined graph recall collapsed: {r_refined}"


def test_ivfpq_rejects_indivisible_subspaces(spark, sf01):
    """PQ with n_sub that does not divide the vector width would
    silently drop the trailing coordinates from codes and ADC — the
    operator must refuse loudly instead."""
    import pytest

    from kenya_agricultural_regions_weather_etl_pipeline_spark.operators.similarity import (
        cosine_topk_ivfpq,
    )
    from kenya_agricultural_regions_weather_etl_pipeline_spark.sources.tables import (
        load_table,
    )

    emb = load_table(spark, sf01, "embeddings")
    q = emb.filter("vec_id < 2").withColumnRenamed("vec_id", "query_id")
    with pytest.raises(ValueError, match="divide the vector width"):
        cosine_topk_ivfpq(emb, q, n_sub=7)


def test_minhash_estimates_track_exact_jaccard(spark, sf01):
    """MinHash est_jaccard (x2) must track the exact n-gram Jaccard (x3
    machinery, uncapped) on the pairs both report — the instrumentation
    that justifies the sketch at scale."""
    from kenya_agricultural_regions_weather_etl_pipeline_spark.operators import dedup as D
    from kenya_agricultural_regions_weather_etl_pipeline_spark.sources.tables import load_table
    import pyspark.sql.functions as F

    docs = load_table(spark, sf01, "documents")
    est = D.minhash_lsh_pairs(docs, jaccard_threshold=0.5)
    exact = D.ngram_jaccard_pairs(docs, k_shingle=3, threshold=0.2)
    joined = est.join(exact, ["id_a", "id_b"]).select(
        F.abs(F.col("est_jaccard") - F.col("jaccard")).alias("err")
    )
    stats = joined.agg(
        F.count(F.lit(1)).alias("n"), F.avg("err").alias("mae")
    ).collect()[0]
    assert stats.n > 0
    assert stats.mae < 0.2, f"minhash estimate drifted: MAE={stats.mae}"


def test_streaming_parquet_file_sink(spark, sf01, tmp_path):
    """availableNow stream -> parquet file sink (append mode) with
    checkpoint; restart with same checkpoint is a no-op (exactly-once).

    Append mode only emits a window once a LATER batch's watermark
    passes its end — a single-file backlog is one micro-batch and
    flushes nothing. So stage the events as two time-ordered files and
    pace with maxFilesPerTrigger=1: batch 1's watermark (maxTs(file A)
    - 2h) finalizes file A's closed windows.
    """
    import os
    import shutil

    from kenya_agricultural_regions_weather_etl_pipeline_spark.sources.tables import (
        events_ts_unit,
        raw_ts_to_micros_sql,
    )
    from kenya_agricultural_regions_weather_etl_pipeline_spark.streaming.micro_batch import (
        EVENTS_RAW_SCHEMA,
        read_events_stream,
        windowed_event_counts,
    )

    raw = (
        spark.read.schema(EVENTS_RAW_SCHEMA)
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")
        .load(sf01)
    )
    unit = events_ts_unit(os.path.join(sf01, "events.parquet"))
    raw = raw.withColumn("ts", F.expr(raw_ts_to_micros_sql(unit, "ts")))
    cut_us = 1705708800 * 10**6  # 2024-01-20T00:00:00Z, ~2/3 through the month
    indir = tmp_path / "in"
    indir.mkdir()
    for name, pred in [("a", F.col("ts") < cut_us), ("b", F.col("ts") >= cut_us)]:
        stage = str(tmp_path / f"stage_{name}")
        raw.filter(pred).coalesce(1).write.parquet(stage)
        part = next(
            p for p in os.listdir(stage) if p.endswith(".parquet")
        )
        shutil.move(os.path.join(stage, part), str(indir / f"{name}.parquet"))
    # FileStreamSource orders new files by (mtime, path): make A older.
    os.utime(str(indir / "a.parquet"), (1, 1))

    out = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def run():
        q = (
            windowed_event_counts(
                read_events_stream(
                    spark, str(indir), glob="*.parquet", max_files_per_trigger=1
                )
            )
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run()
    n1 = spark.read.parquet(out).count()
    run()  # same checkpoint: no new data, no duplicate output
    n2 = spark.read.parquet(out).count()
    assert n1 == n2 > 0


def test_cosine_pandas_udf_matches_native(spark, sf01):
    """The Arrow cosine twin must agree with the JVM fold to float
    tolerance (numpy pairwise summation vs sequential fold)."""
    from kenya_agricultural_regions_weather_etl_pipeline_spark.functions.vectors import (
        cosine,
        cosine_pandas_udf,
        to_double_array,
    )
    from kenya_agricultural_regions_weather_etl_pipeline_spark.sources.tables import (
        load_table,
    )
    import pyspark.sql.functions as F

    emb = load_table(spark, sf01, "embeddings").limit(200)
    a = emb.select(F.col("vec_id").alias("ida"), to_double_array(F.col("embedding")).alias("va"))
    b = emb.select((F.col("vec_id") + 1).alias("idb"), to_double_array(F.col("embedding")).alias("vb"))
    pairs = a.join(b, a.ida == b.idb)
    udf = cosine_pandas_udf()
    out = pairs.select(
        (cosine(F.col("va"), F.col("vb")) - udf(F.col("va"), F.col("vb"))).alias("d")
    ).agg(F.max(F.abs(F.col("d"))).alias("max_d")).collect()[0]
    assert out.max_d < 1e-12


def test_compact_parquet(spark, sf01, tmp_path):
    """Small-file compaction: rewrite keeps every row, cuts file count."""
    import glob

    from kenya_agricultural_regions_weather_etl_pipeline_spark.operators.maintenance import (
        compact_parquet,
    )
    from kenya_agricultural_regions_weather_etl_pipeline_spark.sources.tables import (
        load_table,
    )

    path = str(tmp_path / "frag")
    ev = load_table(spark, sf01, "events").select("event_id", "user_id", "value")
    ev.repartition(32).write.parquet(path)
    n_before = len(glob.glob(f"{path}/*.parquet"))
    n_rows = compact_parquet(spark, path, target_files=2)
    n_after = len(glob.glob(f"{path}/*.parquet"))
    assert n_rows == ev.count()
    assert n_before == 32 and n_after == 2


def test_jaccard_verify_agrees_with_inverted_index(spark, sf01):
    """Two independent exact-Jaccard implementations (per-pair
    array_intersect verify vs inverted-index self-join) must agree
    bit-for-bit on the pairs both cover."""
    from kenya_agricultural_regions_weather_etl_pipeline_spark.operators import dedup as D
    from kenya_agricultural_regions_weather_etl_pipeline_spark.sources.tables import load_table
    import pyspark.sql.functions as F

    docs = load_table(spark, sf01, "documents")
    exact = D.ngram_jaccard_pairs(docs, k_shingle=3, threshold=0.2)  # uncapped
    verified = D.ngram_jaccard_verify(
        docs, exact.select("id_a", "id_b")
    ).withColumnRenamed("jaccard", "j2")
    j = exact.join(verified, ["id_a", "id_b"])
    assert j.count() == exact.count() > 0
    assert j.filter(F.col("jaccard") != F.col("j2")).isEmpty()


def test_run_batch_observation_metrics(spark, tmp_path):
    """E5 observability: step counts harvested via Observation from the
    write action itself (no extra scan)."""
    v = run_batch(spark, str(tmp_path / "t"), days=2)
    assert v["rows_flat"] > v["rows_loaded"] > 0  # dedup+validation removed rows


def test_json_sink_source_roundtrip(spark, tmp_path):
    """JSON write -> schema'd JSON read roundtrip of the flattened
    weather frame (the reference's wire format is JSON)."""
    from kenya_agricultural_regions_weather_etl_pipeline_spark.plans.weather_pipeline import (
        pipeline_frame,
    )

    batch, _ = pipeline_frame(spark, days=2, use_datasource=False)
    path = str(tmp_path / "json_sink")
    batch.write.json(path)
    back = spark.read.schema(batch.schema).json(path)
    assert back.count() == batch.count()
    assert back.exceptAll(batch).isEmpty()


def test_approx_distinct_error_bound(spark, sf01):
    """a9: the HLL++ sketch must land within 5x its configured 1% rsd of
    the exact distinct counts (self-validation for the no-oracle query)."""
    from kenya_agricultural_regions_weather_etl_pipeline_spark.sources.tables import (
        load_table,
    )

    li = load_table(spark, sf01, "lineitem")
    row = li.agg(
        F.approx_count_distinct("l_orderkey", 0.01).alias("a_o"),
        F.countDistinct("l_orderkey").alias("e_o"),
        F.approx_count_distinct("l_partkey", 0.01).alias("a_p"),
        F.countDistinct("l_partkey").alias("e_p"),
    ).first()
    assert abs(row.a_o - row.e_o) / row.e_o < 0.05
    assert abs(row.a_p - row.e_p) / row.e_p < 0.05


def test_connected_components_multi_hop_chain(spark):
    """x14 core: a path graph 1-2-3-4 plus an isolated pair 10-11 must
    collapse to components {1,1,1,1} and {10,10} — label propagation has
    to cross multiple hops, not just adopt the direct neighbor."""
    from kenya_agricultural_regions_weather_etl_pipeline_spark.operators.dedup import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
    )
    got = {
        (r.id, r.lbl) for r in connected_components(edges).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10)}


def test_approx_quantile_error_bound(spark, sf01):
    """a13: the percentile digest (accuracy 10000) must land within 1%
    relative error of the exact per-group percentiles (self-validation
    for the no-oracle sketch query)."""
    import __spark_entry__ as entrymod

    approx = {
        r["l_returnflag"]: r
        for r in entrymod.queries()["a13_approx_quantiles"](spark, sf01).collect()
    }
    exact = {
        r["l_returnflag"]: r
        for r in entrymod.queries()["a7_quantiles"](spark, sf01).collect()
    }
    assert approx.keys() == exact.keys()
    for k in exact:
        for a_col, e_col in (("p50_approx", "p50"), ("p90_approx", "p90")):
            rel = abs(approx[k][a_col] - exact[k][e_col]) / exact[k][e_col]
            assert rel < 0.01, (k, a_col, rel)


def test_expire_partitions(spark, sf01, tmp_path):
    """Retention drops whole partition dirs (metadata-rate, no rewrite)
    and the surviving table equals a filter of the original."""
    from kenya_agricultural_regions_weather_etl_pipeline_spark.operators.maintenance import (
        expire_partitions,
    )
    from kenya_agricultural_regions_weather_etl_pipeline_spark.sources.tables import (
        load_table,
    )

    path = str(tmp_path / "li_part")
    li = load_table(spark, sf01, "lineitem").withColumn(
        "ship_year", F.year("l_shipdate")
    )
    li.write.partitionBy("ship_year").parquet(path)
    years = sorted(r["ship_year"] for r in li.select("ship_year").distinct().collect())
    keep = [str(y) for y in years[-2:]]
    dropped, remaining = expire_partitions(spark, path, "ship_year", keep)
    assert dropped == len(years) - 2
    expected = li.filter(F.col("ship_year").isin([int(k) for k in keep])).count()
    assert remaining == expected > 0


def test_apply_cdc_clause_semantics(spark):
    """Each MERGE clause class: matched-delete drops, matched-upsert
    replaces, unmatched-upsert inserts, unmatched-delete no-ops,
    untouched rows pass through."""
    from kenya_agricultural_regions_weather_etl_pipeline_spark.operators.merge import (
        apply_cdc,
    )

    target = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0)], ["k", "v"]
    )
    changes = spark.createDataFrame(
        [
            (1, "delete", 0.0),    # matched delete
            (2, "upsert", 99.0),   # matched update
            (4, "upsert", 40.0),   # unmatched insert
            (5, "delete", 0.0),    # unmatched delete -> no-op
        ],
        ["k", "op", "v"],
    )
    got = sorted(map(tuple, apply_cdc(target, changes, "k").collect()))
    assert got == [(2, 99.0), (3, 30.0), (4, 40.0)]


def test_weather_stream_reader_offsets_and_slices():
    """Pure-Python contract of the custom streaming source: offsets
    advance one day per batch and clamp at the backlog end; a
    (start, end] range is one slice that yields exactly (end-start)
    deterministic documents per region."""
    import json

    from kenya_agricultural_regions_weather_etl_pipeline_spark.sources.regions import (
        AGRICULTURAL_REGIONS,
    )
    from kenya_agricultural_regions_weather_etl_pipeline_spark.sources.weather_api import (
        WeatherStreamReader,
        synthesize_raw_payload,
    )

    r = WeatherStreamReader({"days": "2"})
    assert r.initialOffset() == {"day": 0}
    assert r.latestOffset() == {"day": 1}
    assert r.latestOffset() == {"day": 2}
    assert r.latestOffset() == {"day": 2}  # clamps: backlog exhausted

    slices = r.partitions({"day": 0}, {"day": 2})
    assert len(slices) == 1
    rows = list(r.read(slices[0]))
    assert len(rows) == 2 * len(AGRICULTURAL_REGIONS)
    assert sorted({region for region, _ in rows}) == sorted(AGRICULTURAL_REGIONS)
    region, raw = rows[0]
    assert raw == synthesize_raw_payload(region, 0)
    assert json.loads(raw)["region"] == region


def test_union_find_matches_distributed_propagation(spark):
    """The driver union-find fast path and the distributed
    min-propagation loop must assign identical components on a graph
    with multi-hop chains, a cycle, and isolated pairs (threshold=0
    forces the distributed path on the same edges)."""
    from kenya_agricultural_regions_weather_etl_pipeline_spark.operators.dedup import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 1), (10, 11), (20, 21), (21, 22), (5, 3)],
        "id_a long, id_b long",
    )
    fast = {(r.id, r.lbl) for r in connected_components(edges).collect()}
    slow = {
        (r.id, r.lbl)
        for r in connected_components(edges, small_graph_threshold=0).collect()
    }
    assert fast == slow
    assert fast == {
        (1, 1), (2, 1), (3, 1), (4, 1), (5, 1),
        (10, 10), (11, 10),
        (20, 20), (21, 20), (22, 20),
    }


def test_load_table_sees_nested_part_file_rewritten_in_place(spark, tmp_path):
    """A partitioned table keeps its part files under ``key=``
    subdirectories. Rewriting one in place under the same name changes
    no directory's (mtime, size), so the memo key must fold in the
    descendant files or load_table serves the stale plan."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from kenya_agricultural_regions_weather_etl_pipeline_spark.sources.tables import (
        load_table,
    )

    part = tmp_path / "t.parquet" / "key=1" / "part-0.parquet"
    part.parent.mkdir(parents=True)
    pq.write_table(pa.table({"v": [1, 2]}), part)
    first = load_table(spark, str(tmp_path), "t")
    assert first.count() == 2
    staged = tmp_path / "staged.parquet"
    pq.write_table(pa.table({"v": [1, 2, 3, 4, 5]}), staged)
    shutil.copyfile(staged, part)  # truncates and rewrites the same inode
    second = load_table(spark, str(tmp_path), "t")
    assert second is not first
    assert second.count() == 5


def test_load_table_sees_nested_part_file_deleted(spark, tmp_path):
    """Deleting a part file that is not the newest file changes no
    remaining file's stat, only its ``key=`` directory's mtime; the memo
    key must fold that in or load_table serves a plan that lists the
    deleted file."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from kenya_agricultural_regions_weather_etl_pipeline_spark.sources.tables import (
        load_table,
    )

    table = tmp_path / "t.parquet"
    old = table / "key=1" / "part-0.parquet"
    old.parent.mkdir(parents=True)
    pq.write_table(pa.table({"v": [1, 2]}), old)
    newest = table / "key=2" / "part-0.parquet"
    newest.parent.mkdir()
    pq.write_table(pa.table({"v": [3]}), newest)
    # back-date everything, so the newest part file is not the deleted
    # one and a stat taken now is the newest in the tree
    for i, f in enumerate((old, old.parent, newest, newest.parent, table)):
        os.utime(f, ns=(10**9 * (i + 1),) * 2)
    first = load_table(spark, str(tmp_path), "t")
    assert first.count() == 3
    old.unlink()  # changes only key=1's mtime
    second = load_table(spark, str(tmp_path), "t")
    assert second is not first
    assert second.count() == 1


def test_events_ts_unit_detection(spark, sf01, tmp_path):
    """The events loader must adapt to the generator's physical
    timestamp unit: footer detection on the real table, plus both
    bigint paths (nanos via nanosAsLong, staged micros longs) must
    produce identical TIMESTAMP_NTZ wall-clock values."""
    import os

    from pyspark.sql import functions as F

    from kenya_agricultural_regions_weather_etl_pipeline_spark.sources.tables import (
        events_ts_unit,
        load_table,
        raw_ts_to_micros_sql,
    )

    unit = events_ts_unit(os.path.join(sf01, "events.parquet"))
    assert unit in ("ns", "us", "ms")

    lt = load_table(spark, sf01, "events")
    assert dict(lt.dtypes)["ts"] == "timestamp_ntz"
    assert dict(lt.dtypes)["ts_ns"] == "bigint"
    # ts and ts_ns must agree to the microsecond, whatever the source unit
    bad = lt.filter(
        F.unix_micros(F.col("ts").cast("timestamp")) * 1000 != F.col("ts_ns")
    ).count()
    assert bad == 0
    # conversion SQL covers all three units
    assert raw_ts_to_micros_sql("ns") == "ts_ns div 1000"
    assert raw_ts_to_micros_sql("us") == "ts_ns"
    assert raw_ts_to_micros_sql("ms") == "ts_ns * 1000"


def test_merge_partial_aggregates_combiner_law(spark):
    """Folding partials from any split of the data must equal the
    aggregate over the union (r6 core), including keys present on only
    one side and a second incremental fold."""
    from kenya_agricultural_regions_weather_etl_pipeline_spark.operators.merge import (
        merge_partial_aggregates,
    )

    def partials(rows):
        df = spark.createDataFrame(rows, "k string, v long")
        return df.groupBy("k").agg(
            F.count(F.lit(1)).alias("n"), F.sum("v").alias("s")
        )

    a = [("x", 1), ("x", 2), ("y", 10)]
    b = [("x", 4), ("z", 7)]
    c = [("y", 5)]
    m1 = merge_partial_aggregates(partials(a), partials(b), ["k"], ["n", "s"])
    m2 = merge_partial_aggregates(m1, partials(c), ["k"], ["n", "s"])
    got = {(r.k, r.n, r.s) for r in m2.collect()}
    assert got == {("x", 3, 7), ("y", 2, 15), ("z", 1, 7)}


def test_hll_partial_union_error_bound(spark, sf01):
    """a16: the union of per-day HLL sketches must estimate the true
    month-wide distinct count within the sketch's error envelope (lgK=12
    default => ~1.6% RSE; assert a loose 5%)."""
    import __spark_entry__ as entrymod
    from kenya_agricultural_regions_weather_etl_pipeline_spark.sources.tables import (
        load_table,
    )

    est = entrymod.queries()["a16_hll_partial_union"](spark, sf01).collect()[0]
    exact = (
        load_table(spark, sf01, "events")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()[0]
        .n
    )
    assert est.n_days > 1
    assert abs(est.est_distinct_users - exact) / exact < 0.05, (
        f"HLL union drifted: est={est.est_distinct_users} exact={exact}"
    )


def test_simhash_identity_locality_separation(spark):
    """x4's fingerprint properties: (a) case/whitespace normalization →
    identical fingerprints; (b) one changed token out of many → SMALL
    hamming distance (locality — the property LSH blocking relies on);
    (c) disjoint-vocabulary text → LARGE distance."""
    from kenya_agricultural_regions_weather_etl_pipeline_spark.operators.dedup import (
        simhash,
    )

    base = " ".join(f"token{i}" for i in range(64))
    near = " ".join(
        ("CHANGED" if i == 31 else f"token{i}") for i in range(64)
    )
    far = " ".join(f"zweiundvierzig{i}" for i in range(64))
    df = spark.createDataFrame(
        [("base", base), ("upper", base.upper()), ("spaced", "  " + base.replace(" ", "   ") + " "),
         ("near", near), ("far", far)],
        "name string, text string",
    )
    fps = {
        r.name: r.fp
        for r in df.select("name", simhash(F.col("text")).alias("fp")).collect()
    }
    def ham(a, b):
        return bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")

    assert fps["base"] == fps["upper"] == fps["spaced"]
    assert 0 < ham(fps["base"], fps["near"]) <= 12, ham(fps["base"], fps["near"])
    assert ham(fps["base"], fps["far"]) >= 16, ham(fps["base"], fps["far"])


def test_bmp_codec_roundtrip_and_resize():
    from kenya_agricultural_regions_weather_etl_pipeline_spark.functions import (
        codecs as C,
    )

    raw = C.synthetic_bmp(5, 9, 7)
    w, h, rows = C.decode_bmp(raw)
    assert (w, h) == (9, 7)
    # logical top-left coords survive the bottom-up storage round-trip
    assert rows[2][5] == C.synthetic_pixel(5, 5, 2)
    resized = C.resize_bmp(raw, 16, 12)
    w2, h2, rr = C.decode_bmp(resized)
    assert (w2, h2) == (16, 12)
    # nearest-neighbor mapping is the floor-division the oracle replays
    assert rr[11][10] == C.synthetic_pixel(5, 10 * 9 // 16, 11 * 7 // 12)
    assert len(resized) == C.HEADER_BYTES + C.row_stride(16) * 12


def test_bmp_codec_rejects_non_bmp():
    import pytest

    from kenya_agricultural_regions_weather_etl_pipeline_spark.functions import (
        codecs as C,
    )

    with pytest.raises(ValueError):
        C.decode_bmp(b"BLOB:000000000042")
    assert not C.is_bmp(b"BLOB:000000000042")


def test_resize_images_stub_fallback_for_non_bmp():
    from kenya_agricultural_regions_weather_etl_pipeline_spark.operators.multimodal import (
        _real_or_stub_resize,
    )

    out = _real_or_stub_resize(b"BLOB:000000000042", 32, 32)
    assert out.endswith(b":resized:32x32")


def test_wav_codec_roundtrip_and_slice():
    from kenya_agricultural_regions_weather_etl_pipeline_spark.functions import (
        codecs as C,
    )

    raw = C.synthetic_wav(5, 700)
    rate, samples = C.decode_wav(raw)
    assert rate == 8000 and len(samples) == 700
    assert samples[3] == C.synthetic_sample(5, 3)
    assert min(samples) >= -4986 and max(samples) <= 4986
    # slice is a true PCM window: re-decoded samples == python slice
    rate2, seg = C.decode_wav(C.slice_wav(raw, 240, 560))
    assert rate2 == rate and seg == samples[240:560]
    # negative samples survive the int16 little-endian roundtrip
    neg = C.encode_wav([-1, -32768, 32767, 0], 16000)
    assert C.decode_wav(neg) == (16000, [-1, -32768, 32767, 0])


def test_wav_codec_rejects_non_wav_and_walks_chunks():
    import struct

    from kenya_agricultural_regions_weather_etl_pipeline_spark.functions import (
        codecs as C,
    )

    with __import__("pytest").raises(ValueError):
        C.decode_wav(b"BLOB:000000000042")
    assert not C.is_wav(b"RIFFxxxx")  # too short / wrong magic
    # an extra chunk between fmt and data must be skipped (RIFF walk)
    base = C.encode_wav([7, -7, 42], 8000)
    fmt_chunk = base[12:36]
    data_chunk = base[36:]
    extra = b"LIST" + struct.pack("<I", 4) + b"INFO"
    body = fmt_chunk + extra + data_chunk
    padded = b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body
    assert C.decode_wav(padded) == (8000, [7, -7, 42])


def test_segment_audio_slices_real_wav_payloads(spark):
    from kenya_agricultural_regions_weather_etl_pipeline_spark.functions import (
        codecs as C,
    )
    from kenya_agricultural_regions_weather_etl_pipeline_spark.operators import (
        multimodal as MM,
    )

    media = MM.synthetic_audio_media(spark, 16)
    segs = MM.segment_audio(media, win_ms=40, hop_ms=30).collect()
    assert segs, "no segments produced"
    for row in segs:
        rate, seg = C.decode_wav(bytes(row.segment_payload))
        assert rate == 8000
        _, full = C.decode_wav(C.synthetic_wav(row.asset_id,
                                               512 + row.asset_id % 7 * 128))
        s = row.segment_idx * 30 * 8  # hop_ms * rate/1000
        e = min(s + 40 * 8, len(full))
        assert seg == full[s:e]


def test_y4m_codec_roundtrip_and_slice():
    from kenya_agricultural_regions_weather_etl_pipeline_spark.functions import (
        codecs as C,
    )

    raw = C.synthetic_y4m(7, 16, 12, 4)
    w, h, fps, frames = C.decode_y4m(raw)
    assert (w, h, fps, len(frames)) == (16, 12, 25, 4)
    assert frames[2][0][5] == C.synthetic_y4m_plane(7, 2, 0, 5)
    # plane sizes: Y = w*h, chroma = (w/2)*(h/2)
    assert len(frames[0][0]) == 192 and len(frames[0][1]) == 48
    # frame slice is a true sub-stream: re-decoded frames == py slice
    _, _, _, mid = C.decode_y4m(C.slice_y4m(raw, 1, 3))
    assert mid == frames[1:3]
    with __import__("pytest").raises(ValueError):
        C.decode_y4m(b"BLOB:000000000042")
    with __import__("pytest").raises(ValueError):
        # 4:4:4 color mode must be rejected, not silently misparsed
        C.decode_y4m(b"YUV4MPEG2 W4 H4 F25:1 C444\nFRAME\n" + b"\x00" * 48)


def test_sample_frames_extracts_real_y4m_frames(spark):
    from kenya_agricultural_regions_weather_etl_pipeline_spark.functions import (
        codecs as C,
    )
    from kenya_agricultural_regions_weather_etl_pipeline_spark.operators import (
        multimodal as MM,
    )

    media = MM.synthetic_video_media(spark, 16)
    rows = MM.sample_frames(media, every_ms=40).collect()
    assert rows
    for r in rows:
        w, h, _, frames = C.decode_y4m(bytes(r.frame_payload))
        assert (w, h, len(frames)) == (16, 12, 1)
        n_src = 2 + r.asset_id % 4
        src_idx = min(r.frame_idx, n_src - 1)
        _, _, _, src = C.decode_y4m(C.synthetic_y4m(r.asset_id, 16, 12, n_src))
        assert frames[0] == src[src_idx]


def test_zorder_layout_narrows_rowgroup_spans_in_both_dims(spark, sf01, tmp_path):
    """Z-order vs single-column sort, measured on parquet footer stats:
    sorting by l_partkey alone leaves l_suppkey's per-row-group spans
    at ~full domain width (nothing skippable on the second dimension);
    the Morton layout must make BOTH dimensions substantially narrower
    than that, which is the entire point of multi-dim clustering."""
    from kenya_agricultural_regions_weather_etl_pipeline_spark.operators.maintenance import (
        rowgroup_span_stats,
        zorder_write,
    )
    from kenya_agricultural_regions_weather_etl_pipeline_spark.sources.tables import (
        load_table,
    )

    li = load_table(spark, sf01, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity"
    )
    z_path = str(tmp_path / "zorder")
    s_path = str(tmp_path / "sorted_a")
    zorder_write(spark, li, z_path, "l_partkey", "l_suppkey", n_files=16)
    (
        li.repartitionByRange(8, "l_partkey")
        .sortWithinPartitions("l_partkey")
        .write.mode("overwrite")
        .parquet(s_path)
    )

    z_a = rowgroup_span_stats(z_path, "l_partkey")
    z_b = rowgroup_span_stats(z_path, "l_suppkey")
    s_b = rowgroup_span_stats(s_path, "l_suppkey")
    # single-column sort leaves dim B unclustered (span ~ full domain)
    assert s_b > 0.9, s_b
    # z-order clusters BOTH dims well below that
    assert z_a < 0.5 * s_b, (z_a, s_b)
    assert z_b < 0.5 * s_b, (z_b, s_b)
    # and the data survives the rewrite intact
    assert spark.read.parquet(z_path).count() == li.count()


def test_w22_allocations_sum_exactly_to_budget(spark, sf001):
    """The largest-remainder guarantee: per order, allocated cents sum
    EXACTLY to the order's budget — no penny ever lost or invented."""
    import pyspark.sql.functions as F

    import __spark_entry__ as entrymod
    from kenya_agricultural_regions_weather_etl_pipeline_spark.sources.tables import (
        load_table,
    )

    alloc = entrymod.queries()["w22_prorata_allocation"](spark, sf001)
    sums = alloc.groupBy("l_orderkey").agg(
        F.sum("alloc_cents").alias("allocated")
    )
    budgets = load_table(spark, sf001, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"),
        F.floor(F.col("o_totalprice") * 5 + 0.5).cast("long").alias("budget_c"),
    )
    bad = (
        sums.join(budgets, "l_orderkey")
        .filter(F.col("allocated") != F.col("budget_c"))
        .count()
    )
    assert bad == 0


def test_x89_zorder_buckets_are_tight_rectangles(spark, sf01):
    """The point of the Z-order layout: every one of the 64 'files'
    must cover a SMALL rectangle of (user, hour) space — top-3-bits
    interleave means each bucket spans ≤ 1/8 of each normalized dim
    (plus integer-grid boundary slack), so min/max skipping works on
    BOTH columns."""
    import __spark_entry__ as entrymod

    rows = entrymod.queries()["x89_zorder_locality"](spark, sf01).collect()
    assert len(rows) >= 32  # dense grid at this SF
    u_lo = min(r.u_min for r in rows)
    u_hi = max(r.u_max for r in rows)
    h_lo = min(r.h_min for r in rows)
    h_hi = max(r.h_max for r in rows)
    u_cap = (u_hi - u_lo) / 8 + 2  # 1/8 grid cell + rounding slack
    h_cap = (h_hi - h_lo) / 8 + 2
    for r in rows:
        assert r.u_max - r.u_min <= u_cap, r
        assert r.h_max - r.h_min <= h_cap, r


def test_x90_pagerank_invariants(spark, sf01):
    """Static-PageRank sanity on the mutual-kNN graph: every node holds
    at least the teleport floor 0.15/N, isolated nodes (no mutual
    edges) hold EXACTLY the floor, total mass stays ≤ 1 (mass leaks at
    dangling nodes by design — GraphX staticPageRank semantics), and
    connected nodes strictly out-rank the floor."""
    import __spark_entry__ as entrymod
    from kenya_agricultural_regions_weather_etl_pipeline_spark.operators.similarity import (
        knn_graph,
        mutual_knn_edges,
    )

    rows = entrymod.queries()["x90_pagerank_knn"](spark, sf01).collect()
    n = len(rows)
    assert n == 500
    floor = 0.15 / n
    ranks = {r.vec_id: r["rank"] for r in rows}
    assert all(v >= floor - 1e-12 for v in ranks.values())
    assert sum(ranks.values()) <= 1.0 + 1e-9

    emb = entrymod.load_table(spark, sf01, "embeddings")
    me = mutual_knn_edges(knn_graph(emb, k=5, n_probe=2))
    linked = {r.id_a for r in me.collect()} | {r.id_b for r in me.collect()}
    for vid, v in ranks.items():
        if vid not in linked:
            assert abs(v - floor) < 1e-12, f"isolated {vid} off the floor: {v}"
    assert any(ranks[v] > floor * 1.5 for v in linked), "no node accumulated rank"


def test_io6_compaction_plan_invariants(spark, sf01):
    """The compaction plan must (a) cover every input row exactly once,
    (b) keep groups CONTIGUOUS in date order (compaction preserves the
    table's cluster order), and (c) never overfill a group beyond
    target + one input file (the prefix-sum assignment's bound)."""
    import __spark_entry__ as entrymod
    from __spark_entry__ import IO6_TARGET_ROWS

    rows = sorted(
        entrymod.queries()["io6_compaction_plan"](spark, sf01).collect(),
        key=lambda r: r.file_group,
    )
    li_n = entrymod.load_table(spark, sf01, "lineitem").count()
    assert sum(r.total_rows for r in rows) == li_n
    max_file = max(r.total_rows for r in rows)  # upper bound on any input
    for prev, cur in zip(rows, rows[1:]):
        assert prev.last_date < cur.first_date, (prev, cur)
    for r in rows:
        assert r.total_rows < IO6_TARGET_ROWS + max_file
    # plan actually compacts: fewer outputs than inputs
    n_inputs = sum(r.n_input_files for r in rows)
    assert len(rows) < n_inputs


def test_graph_beam_search_hop_monotone_recall(spark, sf01):
    """x93's beam search must be hop-monotone: with beam >= k, a true
    top-k member can only be displaced by a strictly-better node that
    is itself a true top-k member, so recall@10 vs brute force never
    decreases with hops — and the walk must genuinely add recall over
    the entry-cell-only baseline (hops=0)."""
    import __spark_entry__ as entrymod
    from kenya_agricultural_regions_weather_etl_pipeline_spark.operators.similarity import (
        cosine_topk_bruteforce,
        graph_beam_search,
        knn_graph,
    )

    emb = entrymod.load_table(spark, sf01, "embeddings")
    q = emb.filter(F.col("vec_id") < 8).withColumnRenamed(
        "vec_id", "query_id"
    )
    truth = {
        (r.query_id, r.vec_id)
        for r in cosine_topk_bruteforce(emb, q, k=10).collect()
    }
    graph = knn_graph(emb, k=5, n_probe=2)

    def recall(hops):
        got = {
            (r.query_id, r.vec_id)
            for r in graph_beam_search(
                emb, graph, q, k=10, beam=10, hops=hops
            ).collect()
        }
        return len(got & truth) / len(truth)

    r_entry, r_walked = recall(0), recall(3)
    # measured at sf0.01: 0.7875 (entry cell only) -> 0.8375 (1 hop)
    # -> 0.85 (2+ hops; plateau = the graph's own 0.28 edge recall
    # bounds what walking can reach on uniform synthetic embeddings)
    assert r_walked >= r_entry, (
        f"beam search lost recall walking the graph: "
        f"{r_entry:.4f} -> {r_walked:.4f}"
    )
    assert r_walked >= r_entry + 0.04, (
        f"graph walk added no recall: {r_entry:.4f} -> {r_walked:.4f}"
    )
    assert r_walked >= 0.8, f"walked recall collapsed: {r_walked}"


def test_x94_hierarchical_assign_agreement(spark, sf01):
    """x94's two-level assignment must (a) agree with the flat rank-1
    assignment on a stated floor of vectors — uniform synthetic
    embeddings are the WORST case (near-tie centroids, no manifold
    structure), so the floor is modest — and (b) actually use the
    coarse level (>1 super-cell), or the hierarchy degenerated."""
    import __spark_entry__ as entrymod

    r = entrymod.queries()["x94_hierarchical_ivf"](spark, sf01).collect()[0]
    assert r.n_vectors > 0
    # measured 0.476 at sf0.01 (0.444 at sf0.001)
    assert r.agreement_rate >= 0.4, r
    assert r.n_super_used >= 2, r
    assert abs(r.agreement_rate - r.n_agree / r.n_vectors) < 1e-6, r


def test_x95_refined_walk_dominates_seed_walk(spark, sf01):
    """Walking the NN-descent-refined graph (x95) must not lose
    recall@10 vs walking the seed graph (x93) — better edges can only
    improve the beam frontier — and must clear its own floor."""
    import __spark_entry__ as entrymod
    from kenya_agricultural_regions_weather_etl_pipeline_spark.operators.similarity import (
        cosine_topk_bruteforce,
    )

    emb = entrymod.load_table(spark, sf01, "embeddings")
    q = emb.filter(F.col("vec_id") < 8).withColumnRenamed(
        "vec_id", "query_id"
    )
    truth = {
        (r.query_id, r.vec_id)
        for r in cosine_topk_bruteforce(emb, q, k=10).collect()
    }

    def recall(name):
        got = {
            (r.query_id, r.vec_id)
            for r in entrymod.queries()[name](spark, sf01).collect()
        }
        return len(got & truth) / len(truth)

    r_seed, r_refined = (
        recall("x93_graph_beam_search"),
        recall("x95_refined_graph_search"),
    )
    # measured at sf0.01: 0.85 (seed walk) -> 0.9375 (refined walk)
    assert r_refined >= r_seed, (r_seed, r_refined)
    assert r_refined >= 0.9, r_refined


def test_bpe_train_greedy_merge_semantics(spark):
    """The merge rewrite is Sennrich's LEFT-TO-RIGHT non-overlapping
    greedy: 'aaaa' under rule (a,a) becomes [aa, aa] (never [a, aa, a]
    or a re-merged [aaaa]), and a just-created symbol participates in
    LATER rules as a unit. Pair counts are frequency-weighted and
    overlapping-adjacent ('aaa' contributes (a,a) twice)."""
    from kenya_agricultural_regions_weather_etl_pipeline_spark.operators.tokenizer import (
        bpe_train,
    )

    words = spark.createDataFrame(
        [("aaa", 3), ("aaaa", 1), ("banana", 2), ("ab", 5), ("x", 7)],
        "w string, wf long",
    )
    got = bpe_train(words, n_merges=2).collect()
    # round 1: (a,a) weight 3*2 + 1*3 = 9 beats (a,b) 5(+0) and the
    # banana pairs (an/na at 4); round 2: with aa fused, 'banana'
    # pairs (a,n)/(n,a) at weight 4 win over (aa,a) [aaa only: 3],
    # (aa,aa) [aaaa: 1], (a,b) [ab: 5]... (a,b) is 5 — tiebreak check:
    # an=4, na=4, ab=5 -> (a,b) wins round 2 at 5.
    assert [(r.merge_round, r.left_sym, r.right_sym, r.merged, r.pair_count)
            for r in got] == [
        (1, "a", "a", "aa", 9),
        (2, "a", "b", "ab", 5),
    ]


def test_bpe_train_rejects_unbounded_rounds(spark):
    from kenya_agricultural_regions_weather_etl_pipeline_spark.operators.tokenizer import (
        bpe_train,
    )

    words = spark.createDataFrame([("ab", 1)], "w string, wf long")
    import pytest as _pytest

    with _pytest.raises(ValueError):
        bpe_train(words, n_merges=0)
    with _pytest.raises(ValueError):
        bpe_train(words, n_merges=100_000)


def test_x101_temperature_schedule_invariants(spark, sf01):
    """α=0.5 temperature rebalancing must (a) conserve the token
    budget (Σ target ≈ Σ input), (b) normalize weights to 1, and
    (c) move every source's epoch factor TOWARD the mean — tail
    sources repeat (>1), head sources subsample (<1), ordering
    inverse to input share."""
    import __spark_entry__ as entrymod

    rows = (
        entrymod.queries()["x101_temperature_mixture"](spark, sf01)
        .collect()
    )
    tot_in = sum(r["tokens_in"] for r in rows)
    tot_out = sum(r["target_tokens"] for r in rows)
    assert abs(tot_out - tot_in) <= len(rows)  # per-source floor error
    assert abs(sum(r["weight"] for r in rows) - 1.0) < 1e-3
    by_share = sorted(rows, key=lambda r: r["share_in"])
    factors = [r["epoch_factor"] for r in by_share]
    # epoch factor strictly decreases as input share grows
    assert all(a >= b for a, b in zip(factors, factors[1:]))
    assert factors[0] > 1.0 and factors[-1] < 1.0


def test_mm9_phash_resize_invariant_but_bytes_differ(spark):
    """The mm9 claim decomposed: (a) each asset's original and 16x12
    re-encoded editions produce the IDENTICAL aHash (integer-arithmetic
    invariance, not proximity), while (b) their payload bytes share no
    md5 — so byte-level dedup (mm4) sees nothing and the perceptual
    axis is genuinely new information."""
    import hashlib

    from kenya_agricultural_regions_weather_etl_pipeline_spark.functions import (
        codecs as C,
    )
    from kenya_agricultural_regions_weather_etl_pipeline_spark.operators import (
        multimodal as MM,
    )

    media = MM.synthetic_image_media(spark, 64)
    hashes = MM.perceptual_hash_editions(media).collect()
    by_asset = {}
    for r in hashes:
        by_asset.setdefault(r.asset_id, {})[r.edition] = r.phash
    assert len(by_asset) == 22
    for aid, eds in by_asset.items():
        assert eds["orig"] == eds["up16"], f"asset {aid} hash not invariant"
    # (b) byte distinctness, checked off-Spark on one asset's editions
    raw = C.synthetic_bmp(0, 8, 6)
    resized = C.resize_bmp(raw, MM.PHASH_MID_W, MM.PHASH_MID_H)
    assert hashlib.md5(raw).hexdigest() != hashlib.md5(resized).hexdigest()


def test_mm10_audio_fp_gain_invariant_but_bytes_differ(spark):
    """The mm10 claim decomposed: (a) each asset's original and
    gain-doubled re-encoded editions produce the IDENTICAL
    energy-contour fingerprint (integer identity |2s| = 2|s|, not
    proximity), while (b) the two editions' payload bytes share no md5
    — byte-level dedup (mm4) sees nothing, the perceptual axis is new
    information."""
    import hashlib

    from kenya_agricultural_regions_weather_etl_pipeline_spark.functions import (
        codecs as C,
    )
    from kenya_agricultural_regions_weather_etl_pipeline_spark.operators import (
        multimodal as MM,
    )

    media = MM.synthetic_audio_media(spark, 64)
    rows = MM.audio_fingerprint_editions(media).collect()
    by_asset = {}
    for r in rows:
        by_asset.setdefault(r.asset_id, {})[r.edition] = r.afp
    assert len(by_asset) == 21
    for aid, eds in by_asset.items():
        assert eds["orig"] == eds["gain2"], f"asset {aid} fp not invariant"
    raw = C.synthetic_wav(1, 512)
    _, samples = C.decode_wav(raw)
    louder = C.encode_wav([2 * v for v in samples], 8000)
    assert hashlib.md5(raw).hexdigest() != hashlib.md5(louder).hexdigest()
    # the doubled samples stay within int16 (no clipping in the proof)
    assert max(abs(2 * v) for v in samples) < 32768


def test_x100_nb_classifier_separates_seed_classes(spark, sf01):
    """The trained NB filter must actually separate its training
    classes: mean score of curated-source (src0) docs strictly above
    the mean of the rest, and the score of every doc is finite (the
    add-one smoothing guarantees no -inf even for class-exclusive
    terms)."""
    import math

    import __spark_entry__ as E

    scored = E.queries()["x100_nb_quality_classifier"](spark, sf01)
    docs = spark.read.parquet(f"{sf01}/documents.parquet").select(
        "doc_id", "source"
    )
    j = scored.join(docs, "doc_id").collect()
    pos = [r.nb_score for r in j if r.source == "src0"]
    neg = [r.nb_score for r in j if r.source != "src0"]
    assert pos and neg
    assert all(math.isfinite(s) for s in pos + neg)
    assert sum(pos) / len(pos) > sum(neg) / len(neg)


def test_x102_span_coverage_bounds_and_crafted_exactness(spark, sf01, tmp_path):
    """Span-census invariants on the real corpus (0 ≤ covered ≤
    n_tokens, zero iff no dup grams), then the sharp end on a CRAFTED
    corpus: an exact-duplicate pair is 100% covered, a doc sharing
    only one 8-gram window covers exactly 8 tokens, and a disjoint doc
    covers zero."""
    import __spark_entry__ as E

    q = E.queries()["x102_crossdoc_span_dedup"]
    for r in q(spark, sf01).collect():
        assert 0 <= r.covered_tokens <= r.n_tokens
        assert (r.n_dup_grams == 0) == (r.covered_tokens == 0)

    shared = "a b c d e f g h"  # one exact 8-gram window
    crafted = spark.createDataFrame(
        [
            (0, shared + " i j", "en", "src0", 0),
            (1, shared + " i j", "en", "src1", 0),  # exact duplicate of 0
            (2, "z y " + shared + " q w", "en", "src2", 0),  # shares 1 window
            (3, "p q r s t u v w x", "en", "src3", 0),  # disjoint
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    crafted.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    res = {r.doc_id: r for r in q(spark, str(tmp_path)).collect()}
    assert res[0].covered_tokens == res[0].n_tokens == 10
    assert res[1].covered_tokens == res[1].n_tokens == 10
    # doc 2: only the verbatim 'a..h' window is shared (12 tokens total)
    assert res[2].n_tokens == 12
    assert res[2].n_dup_grams == 1 and res[2].covered_tokens == 8
    assert res[3].n_dup_grams == 0 and res[3].covered_tokens == 0


def test_st28_admission_is_the_batch_prefix(spark, sf001):
    """Streaming budget admission == the batch prefix-sum cutoff, on a
    different SF than the oracle gate exercises (multi-batch streaming
    path at sf0.001): cumulative totals are strictly monotone, capped
    by the budget, and the admitted doc_id set is exactly the docs
    whose batch-side running total fits."""
    import __spark_entry__ as E
    from kenya_agricultural_regions_weather_etl_pipeline_spark.functions.text import (
        token_count,
    )

    out = sorted(
        E.queries()["st28_token_budget_stream"](spark, sf001).collect(),
        key=lambda r: r.doc_id,
    )
    assert out and all(r.cum_tokens <= 10_000 for r in out)
    cums = [r.cum_tokens for r in out]
    assert cums == sorted(cums) and len(set(cums)) == len(cums)
    docs = (
        spark.read.parquet(f"{sf001}/documents.parquet")
        .select("doc_id", token_count(F.col("text")).alias("n"))
        .sort("doc_id")
        .collect()
    )
    total, expect = 0, []
    for r in docs:
        total += r.n
        if total > 10_000:
            break
        expect.append((r.doc_id, total))
    assert [(r.doc_id, r.cum_tokens) for r in out] == expect


def test_mm11_video_fp_upscale_invariant_but_bytes_differ(spark):
    """The mm11 claim decomposed: (a) each asset's original and 2×
    nearest-neighbor upscaled editions produce the IDENTICAL
    frame-sequence fingerprint (floor-composition integer identity),
    while (b) the editions' payloads differ in every way that matters
    (4× plane bytes, different md5) — byte dedup sees nothing."""
    import hashlib

    from kenya_agricultural_regions_weather_etl_pipeline_spark.operators import (
        multimodal as MM,
    )

    media = MM.synthetic_video_media(spark, 64)
    rows = MM.video_fingerprint_editions(media).collect()
    by_asset = {}
    for r in rows:
        by_asset.setdefault(r.asset_id, {})[r.edition] = r.vfp
    assert len(by_asset) == 21
    for aid, eds in by_asset.items():
        assert eds["orig"] == eds["up2x"], f"asset {aid} fp not invariant"
    # (b) byte distinctness + size growth, checked off-Spark
    from kenya_agricultural_regions_weather_etl_pipeline_spark.functions import (
        codecs as C,
    )

    raw = C.synthetic_y4m(2, 16, 12, 3)
    w, h, fps, frames = C.decode_y4m(raw)
    uy = bytes(
        frames[0][0][(r // 2) * w + (c // 2)]
        for r in range(2 * h)
        for c in range(2 * w)
    )
    assert len(uy) == 4 * len(frames[0][0])
    assert hashlib.md5(raw).hexdigest() != hashlib.md5(uy).hexdigest()


def test_x108_trimming_consistent_with_x102_census(spark, sf01):
    """The trim must remove EXACTLY the tokens x102 counts as covered:
    kept_tokens == n_tokens − covered_tokens for every document, and a
    doc with zero dup grams keeps a trimmed_md5 equal to the md5 of
    its own normalized token stream (nothing removed)."""
    import hashlib

    import __spark_entry__ as E

    census = {
        r.doc_id: r
        for r in E.queries()["x102_crossdoc_span_dedup"](spark, sf01).collect()
    }
    trimmed = {
        r.doc_id: r
        for r in E.queries()["x108_span_trimming"](spark, sf01).collect()
    }
    assert census.keys() == trimmed.keys()
    checked_untouched = 0
    docs = {
        r.doc_id: r.text
        for r in spark.read.parquet(f"{sf01}/documents.parquet").collect()
    }
    for did, c in census.items():
        t = trimmed[did]
        assert t.kept_tokens == c.n_tokens - c.covered_tokens, did
        if c.covered_tokens == 0:
            norm = " ".join(docs[did].lower().split())
            assert t.trimmed_md5 == hashlib.md5(norm.encode()).hexdigest()
            checked_untouched += 1
    assert checked_untouched > 0
