"""The micro-batch lifecycle every streaming runner shares.

The reference's daily scheduled run maps onto Structured Streaming as
``trigger(availableNow=True)`` (the scheduled run) plus ``foreachBatch``
(the ``ON CONFLICT`` load). Every runner in ``micro_batch.py`` drives
that lifecycle through this module:

- :func:`stream_confs` — the state-partition count (and, where a runner
  turns it off, AQE) for the work a runner does around its stream;
- :func:`stage_arrivals` / :func:`read_arrivals` — the backlog as one
  arrival file per micro-batch, written and read;
- :func:`local_checkpoint` — the throwaway local checkpoint directory
  every stream commits to, written through Spark's FileSystem-API
  checkpoint manager: the default FileContext manager forks a
  ``readlink`` process for every rename when Hadoop has no native
  library, and its fail-if-exists rename guards nothing on a fresh
  single-writer local directory;
- :func:`drain` — local checkpoint, ``foreachBatch`` or memory sink,
  ``availableNow``, await;
- :func:`latest_version` — the head of a version-chained
  (``v{batch_id}``) state directory.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, SparkSession

CHECKPOINT_MANAGER = "spark.sql.streaming.checkpointFileManagerClass"
FS_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


@contextmanager
def conf_scope(spark: SparkSession, settings: dict[str, str]):
    """Set runtime confs for the body; restore the previous values in
    ``finally``, whether the body returns or raises. A key that had no
    value before is unset again."""
    prev = {k: spark.conf.get(k, None) for k in settings}
    try:
        for k, v in settings.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def stream_confs(spark: SparkSession, parts: int, aqe: bool):
    """Pin ``spark.sql.shuffle.partitions`` to ``parts`` and, when
    ``aqe`` is False, turn AQE off, for the body; both restored after.

    Stateful operators create one state-store instance per shuffle
    partition per batch, and the count is fixed at the first
    checkpoint, so it is set before ``start()`` and sized to the
    runner's state volume rather than left at the session default. A
    ``foreachBatch`` batch runs in a session clone that snapshots the
    outer conf at ``start()``, so both values reach every batch's plan.
    Runners with bounded per-batch stages turn AQE off: its
    stage-materialization jobs are pure per-batch scheduling latency
    there. Runners whose window also covers offline deploy or drain
    work keep that work inside the ``with`` block."""
    settings = {"spark.sql.shuffle.partitions": str(parts)}
    if not aqe:
        settings["spark.sql.adaptive.enabled"] = "false"
    return conf_scope(spark, settings)


def stage_arrivals(
    df: DataFrame,
    src: str,
    n: int,
    bucket: Column,
    t_base: float,
    t_step: float,
    fmt: str = "json",
) -> None:
    """Stage a backlog as one arrival file per batch in ONE partitioned
    write job: ``bucket`` is an int Column in [0, n) assigning each row
    its batch; files land as ``src/batch_k.<fmt>`` with ascending
    mtimes ``t_base + k*t_step`` (FileStreamSource replays by mtime;
    future mtimes are silently ignored, so callers stamp the past).
    An empty json bucket still produces a (zero-row) file so the
    micro-batch count never depends on id density; parquet cannot
    express a zero-byte file, so an empty parquet bucket is simply
    absent (one fewer micro-batch — identical drained state either
    way)."""
    stage = src + "__stage"
    (
        df.withColumn("_b", bucket.cast("int"))
        .repartition(n, "_b")
        .write.partitionBy("_b")
        .format(fmt)
        .save(stage)
    )
    for k in range(n):
        dst = os.path.join(src, f"batch_{k}.{fmt}")
        bdir = os.path.join(stage, f"_b={k}")
        part = None
        if os.path.isdir(bdir):
            part = next(
                (p for p in os.listdir(bdir) if p.startswith("part-")),
                None,
            )
        if part is not None:
            shutil.move(os.path.join(bdir, part), dst)
        elif fmt == "json":
            open(dst, "w").close()  # empty bucket -> zero-row batch
        else:
            continue
        os.utime(dst, (t_base + t_step * k, t_base + t_step * k))
    shutil.rmtree(stage, ignore_errors=True)


def read_arrivals(
    spark: SparkSession, src_dir: str, schema, fmt: str
) -> DataFrame:
    """Stream the ``*.<fmt>`` files of ``src_dir`` one file per
    micro-batch, in mtime order — the reader-side twin of
    :func:`stage_arrivals`. ``schema`` is a StructType or DDL string."""
    return (
        spark.readStream.schema(schema)
        .format(fmt)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", f"*.{fmt}")
        .load(src_dir)
    )


@contextmanager
def local_checkpoint(spark: SparkSession):
    """Yield a fresh local checkpoint directory, deleted on exit, with
    ``spark`` writing checkpoints through the FileSystem-API manager
    for as long as the block runs.

    Open it before ``start()`` and keep the query inside the block: the
    query's offset and commit logs take the manager at ``start()``, and
    each batch's state store takes it from the session snapshot made
    there. The same files are written (``.crc`` siblings included), and
    a local rename stays atomic. The conf is scoped, not session-wide,
    so checkpoints the caller places elsewhere keep Spark's default."""
    with conf_scope(
        spark, {CHECKPOINT_MANAGER: FS_CHECKPOINT_MANAGER}
    ), tempfile.TemporaryDirectory() as ckpt:
        yield ckpt


def drain(
    stream: DataFrame, one_batch=None, mode: str = "update"
) -> DataFrame | None:
    """Run ``stream`` to backlog exhaustion (``availableNow``) on a
    :func:`local_checkpoint` and wait for it.

    With ``one_batch``, each micro-batch goes to
    ``foreachBatch(one_batch)`` and nothing is returned. Without it the
    stream lands in a memory sink under a unique query name; its rows
    are materialized and the sink dropped, also when the stream
    raises, so repeated runs in one session never accumulate sink
    tables. ``mode`` is the output mode
    (``complete``/``append`` matter for stateful memory-sink streams).
    An exception raised in ``one_batch`` stops the query and propagates
    from here."""
    writer = stream.writeStream.outputMode(mode)
    if one_batch is None:
        name = f"drain_{uuid.uuid4().hex}"
        writer = writer.format("memory").queryName(name)
    else:
        writer = writer.foreachBatch(one_batch)
    spark = stream.sparkSession
    try:
        with local_checkpoint(spark) as ckpt:
            (
                writer.option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
                .awaitTermination()
            )
        if one_batch is not None:
            return None
        return spark.table(name).localCheckpoint(eager=True)
    finally:
        if one_batch is None:
            spark.catalog.dropTempView(name)


def list_dir_names(spark: SparkSession, path: str) -> list[str]:
    """Immediate child names of a STATE-STORE directory (bounded
    metadata: one listing of one directory).

    Local paths take one ``os.listdir``; any non-local scheme goes
    through the Hadoop FileSystem API, so the same call works when the
    store lives on object storage. Returns [] for a missing directory
    on either path; any other listing error propagates, since callers
    read [] as "no data yet"."""
    if os.path.isdir(path):
        return os.listdir(path)
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        return []
    return [s.getPath().getName() for s in fs.listStatus(hpath)]


def latest_version(spark: SparkSession, state: str) -> str:
    """Path of the newest ``v{n}`` entry of a version-chained state
    directory. Entries that are not ``v`` + digits are ignored; a
    missing directory, or one with no ``v{n}`` entry, raises a
    RuntimeError naming the directory."""
    versions = [
        int(d[1:])
        for d in list_dir_names(spark, state)
        if d.startswith("v") and d[1:].isdigit()
    ]
    if not versions:
        raise RuntimeError(f"no v{{n}} state version under {state}")
    return os.path.join(state, f"v{max(versions)}")
