"""The benchmark's workloads: fixed op lists over the registry.

An op is one ``__spark_entry__.queries()`` callable: its build (the
callable itself; stream runners drain their backlog inside it) plus a
Parquet write of its output. Like ``bench.py``'s ``noop`` write, the
write forces every output column; unlike it, it keeps the output, so the
run can check exactly what it timed without running the op again.
Each pass runs every op of the workload once, in an order drawn from the
run's seed. One client runs the ops back to back (a closed loop).
"""

from __future__ import annotations

import random
import time

from pyspark.sql import SparkSession


# Untimed passes inside set-up. The first pass is cold (about 4x a warm
# one); the second still reads 5-25% above the passes after it, which
# stay within their pass-to-pass noise.
WARMUP_PASSES = 2
# Timed passes run even if --seconds is shorter; pass_s is their median.
MIN_PASSES = 3


WORKLOADS = {
    # The read path: a DataFrame and a SQL-text registry query, the keyed
    # last-write-wins merge (operators.merge), a multi-job curation
    # operator and the reference pipeline's plan over the Python
    # weather_api DataSource. No program writes, no streams. Four ops take
    # 0.25-0.5 s, so the median of a run falls inside that group rather
    # than on the edge between two ops.
    "batch_mix": (
        "q1_pricing_summary",
        "sql1_quality_sql",
        "r2_upsert_last_write_wins",
        "x48_capped_dedup",
        "e2e_weather_pipeline",
    ),
    # Structured Streaming runners, each draining its events backlog
    # with an availableNow trigger: window state, dedup state, a
    # stream-static join and a foreachBatch last-write-wins merge into
    # Parquet.
    "stream_drain": (
        "st1_windowed_counts",
        "st2_stream_dedup",
        "st5_stream_static_join",
        "st6_foreach_batch_upsert",
    ),
}


def pass_order(ops: tuple[str, ...], seed: int, pass_no: int) -> list[str]:
    """The op order of one pass: a shuffle drawn from (seed, pass)."""
    ops = list(ops)
    random.Random(seed * 1_000_003 + pass_no).shuffle(ops)
    return ops


def run_op(spark: SparkSession, query, sf_dir: str, out: str, tag=None) -> float:
    """Build one op and write its output to ``out``; returns the build
    seconds.
    ``tag(phase)`` is called before each phase (``build``, ``execute``);
    the traced run tags the phase's Spark jobs with it."""
    t0 = time.perf_counter()
    if tag:
        tag("build")
    df = query(spark, sf_dir)
    build_s = time.perf_counter() - t0
    if tag:
        tag("execute")
    df.write.parquet(out)
    return build_s
