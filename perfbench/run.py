"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload batch_mix --seed 1 --seconds 12 --trace 0

Run it from the root of a checkout. Its inputs are the project's sf0.01
test tables, kept under ``perfbench/data/``. It works under
``.perfbench_work/``, starts a local Spark session through the program's
own ``get_spark``, and drives the program only through its public
functions (``__spark_entry__.queries()``). One run:

1. set-up (``setup_s``): process start, session start and
   ``WARMUP_PASSES`` untimed passes over the op list.
2. the timed window: whole passes, in seed-drawn order, until
   ``--seconds`` of op time have passed and at least ``MIN_PASSES``
   passes ran.
3. the checks: every op, warm-up and timed, writes its output as
   Parquet (see ``workloads.run_op``). Once the window ends and the
   memory sampling stops, each written output is compared with the op's
   DuckDB oracle (``oracle_sql()``, by ``tests/oracle_harness.compare``).
   A mismatch fails that run of the op.

With ``--trace 0`` the last line holds the end-to-end metrics. With
``--trace 1`` it holds the per-layer metrics (see ``layertrace.py``).
``trace.overhead_ratio`` divides the traced ``pass_s`` by the median
``pass_s`` of the untraced runs of the same program files and arguments
made earlier in the same checkout, or, if there were none, of one
untraced run the traced run starts first. Diagnostics go to stderr.

The environment is pinned from outside the program: ``--cpus`` sets
``SPARK_GRAFT_CPUS``, ``--driver-mem`` sets ``SPARK_GRAFT_DRIVER_MEM``,
``SPARK_LOCAL_DIRS`` and ``TMPDIR`` point into the work directory, and
``PYTHONPATH`` holds the checkout so Python workers can import the
program's DataSources.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA_DIR = os.path.join(HERE, "data")
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
# pass_s of every untraced run in this checkout, for trace.overhead_ratio
PASS_LOG = os.path.join(WORK_ROOT, "untraced_pass_s.jsonl")


def _parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", default="2")
    ap.add_argument("--driver-mem", default="2g")
    return ap.parse_args(argv)


def _pin_env(args: argparse.Namespace, work: str, event_dir: str | None) -> None:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    if event_dir:
        os.makedirs(event_dir)
    os.environ["SPARK_GRAFT_CPUS"] = args.cpus
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = args.driver_mem
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    submit = (
        f"--driver-java-options '-XX:-UsePerfData -Djava.io.tmpdir={tmp}' "
        "--conf spark.ui.showConsoleProgress=false"
    )
    if event_dir:
        from layertrace import submit_args

        submit += " " + submit_args(event_dir)
    os.environ["PYSPARK_SUBMIT_ARGS"] = submit + " pyspark-shell"


def _run_key(args: argparse.Namespace) -> str:
    """Digest of every ``.py`` file of the checkout and of the run's
    arguments other than the seed: untraced runs with the same key
    measured the same program the same way."""
    h = hashlib.sha256()
    for dirpath, dirnames, files in os.walk(ROOT):
        dirnames[:] = sorted(d for d in dirnames if not d.startswith("."))
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(dirpath, f)
                h.update(os.path.relpath(path, ROOT).encode() + b"\0")
                with open(path, "rb") as fh:
                    h.update(fh.read())
    h.update(json.dumps([args.workload, args.seconds, args.cpus, args.driver_mem]).encode())
    return h.hexdigest()


def _remember_pass_s(args: argparse.Namespace, pass_s: float) -> None:
    os.makedirs(WORK_ROOT, exist_ok=True)
    with open(PASS_LOG, "a") as fh:
        fh.write(json.dumps({"key": _run_key(args), "pass_s": pass_s}) + "\n")


def _untraced_pass_s(args: argparse.Namespace) -> float:
    """Median pass_s of the untraced runs with this run's key made earlier
    in this checkout; if there are none, of one untraced run made now in
    a child process with the same seed."""
    key = _run_key(args)
    try:
        with open(PASS_LOG) as fh:
            seen = [json.loads(line) for line in fh]
    except FileNotFoundError:
        seen = []
    mine = [r["pass_s"] for r in seen if r.get("key") == key]
    if mine:
        return statistics.median(mine)
    cmd = [
        sys.executable, os.path.abspath(__file__), "--workload", args.workload,
        "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0",
        "--cpus", args.cpus, "--driver-mem", args.driver_mem,
    ]
    out = subprocess.run(
        cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=100, check=True
    )
    return json.loads(out.stdout.strip().splitlines()[-1])["metrics"]["pass_s"]["value"]


class Run:
    """One workload run inside an already started session."""

    def __init__(self, spark, ops: tuple[str, ...], seed: int, out_dir: str, tracer=None):
        import __spark_entry__ as entry
        from kenya_agricultural_regions_weather_etl_pipeline_spark.session import (
            release_leaked_blocks,
        )

        self.spark = spark
        self.ops = ops
        self.seed = seed
        self.out_dir = out_dir
        self.queries = entry.queries()
        self.oracles = entry.oracle_sql()
        self.release = release_leaked_blocks
        self.tracer = tracer
        self.attempted = 0
        self.raised = 0
        self.mismatched = 0
        self.kept: list[tuple[str, str]] = []  # (op, its written output)
        self.op_s: dict[str, list[float]] = {}
        self.release_s: list[float] = []

    def op(self, name: str, timed: bool) -> float | None:
        """Run one op and return its seconds, or None if it raised. The
        output it wrote is kept for ``check``."""
        from workloads import run_op

        self.attempted += 1
        tag = self.tracer.phase_tagger(self.spark, name) if timed and self.tracer else None
        path = os.path.join(self.out_dir, str(self.attempted))
        t0 = time.perf_counter()
        try:
            build_s = run_op(self.spark, self.queries[name], DATA_DIR, path, tag)
            t1 = time.perf_counter()
            self.kept.append((name, path))
        except Exception as exc:  # one failed op must not end the run
            self.raised += 1
            print(f"op {name} raised: {exc!r}"[:2000], file=sys.stderr)
            return None
        finally:
            t2 = time.perf_counter()
            self.release(self.spark)
            self.release_s.append(time.perf_counter() - t2)
        if timed and self.tracer:
            self.tracer.span(name, t0, build_s, t1)
        self.op_s.setdefault(name, []).append(t1 - t0)
        return t1 - t0

    def passes(self, first: int, count: int, timed: bool, seconds: float = 0.0):
        """Run passes ``first``, ``first+1``, ... : at least ``count``
        passes, and until ``seconds`` have passed. Yields each pass as a
        list of op seconds (None for a failed op)."""
        from workloads import pass_order

        t0 = time.perf_counter()
        p = first
        while p - first < count or time.perf_counter() - t0 < seconds:
            yield [self.op(name, timed) for name in pass_order(self.ops, self.seed, p)]
            p += 1

    def check(self) -> None:
        """Compare every written output with its op's DuckDB oracle. The
        outputs of one op are read back in one Spark job and split by the
        directory each row came from."""
        from types import SimpleNamespace

        from pyspark.sql import functions as F

        sys.path.insert(0, os.path.join(ROOT, "tests"))
        from oracle_harness import compare, duck_con

        duck = duck_con(DATA_DIR)
        for name in dict.fromkeys(n for n, _ in self.kept):
            paths = [p for n, p in self.kept if n == name]
            try:
                expected = duck.execute(self.oracles[name]).fetchdf()
                got = (
                    self.spark.read.parquet(*paths)
                    .withColumn("_out", F.regexp_extract(F.input_file_name(), r"/(\d+)/[^/]*$", 1))
                    .toPandas()
                )
                results = []
                for path in paths:
                    mine = got[got["_out"] == os.path.basename(path)].drop(columns="_out")
                    results.append(compare(SimpleNamespace(toPandas=lambda m=mine: m), expected))
            except Exception as exc:  # a check that raises fails every run it covers
                results = [(False, repr(exc))] * len(paths)
            for ok, msg in results:
                if not ok:
                    self.mismatched += 1
                    print(f"check {name} failed: {msg}"[:2000], file=sys.stderr)
        duck.close()


class Tracer:
    """Traced-run state: op spans, job-group tagging and the probes."""

    def __init__(self, spark):
        import __spark_entry__  # noqa: F401  (bind load_table before wrapping)
        from layertrace import StreamProbe, TableLoadProbe

        self.spans = []
        self.streams = StreamProbe()
        spark.streams.addListener(self.streams)
        self.tables = TableLoadProbe()

    def phase_tagger(self, spark, name: str):
        sc = spark.sparkContext
        return lambda phase: sc.setJobGroup(f"{name}/{phase}", f"{name} {phase}")

    def span(self, name: str, t0: float, build_s: float, t1: float) -> None:
        from layertrace import OpSpan

        # perf_counter -> epoch ms, to line up with event-log times
        off = time.time() - time.perf_counter()
        self.spans.append(
            OpSpan(name, (t0 + off) * 1000, (t0 + build_s + off) * 1000, (t1 + off) * 1000)
        )


def _stop(spark, tree) -> None:
    """Stop the session, end the JVM (it exits when its stdin closes) and
    wait for it and its Python workers to be gone."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=30)
    tree.reap()


def _tail(ops: list[float]) -> str:
    """The highest of p99/p95/p90/p75 with at least 10 ops beyond it."""
    for pct in (99, 95, 90, 75):
        if len(ops) * (100 - pct) / 100 >= 10:
            q = statistics.quantiles(ops, n=100)[pct - 1]
            return f"op_tail_s p{pct} {q:.4f} s over {len(ops)} ops"
    return f"op_tail_s omitted: {len(ops)} ops leave no percentile above p50 with 10 beyond"


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def main(argv: list[str]) -> int:
    args = _parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")):
        print(f"no program at {ROOT}: __spark_entry__.py is missing", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    from probes import ProcessTree, canary_s, process_age_s
    from workloads import MIN_PASSES, WARMUP_PASSES, WORKLOADS

    t_start = time.perf_counter() - process_age_s()
    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    name = args.workload
    overhead_base = None
    if args.trace:
        t0 = time.perf_counter()
        overhead_base = _untraced_pass_s(args)
        t_start += time.perf_counter() - t0  # set-up starts after the child run

    work = os.path.join(WORK_ROOT, f"{name}-{os.getpid()}")
    event_dir = os.path.join(work, "eventlog") if args.trace else None
    tree = ProcessTree()
    try:
        _pin_env(args, work, event_dir)
        os.chdir(work)
        sys.path.insert(0, ROOT)
        canary = [canary_s()]
        with tree:
            from kenya_agricultural_regions_weather_etl_pipeline_spark.session import get_spark

            t0 = time.perf_counter()
            spark = get_spark(f"perfbench-{name}")
            session_start_s = time.perf_counter() - t0
            tracer = Tracer(spark) if args.trace else None
            run = Run(spark, WORKLOADS[name], args.seed, os.path.join(work, "out"), tracer)
            warm = [
                sum(t for t in ts if t is not None)
                for ts in run.passes(0, WARMUP_PASSES, timed=False)
            ]
            setup_s = time.perf_counter() - t_start
            n_warm = len(run.release_s)
            run.op_s.clear()
            cpu0 = tree.snapshot()
            if tracer:
                tracer.tables.active = True
            t_w0 = time.perf_counter()
            timed = list(run.passes(WARMUP_PASSES, MIN_PASSES, timed=True, seconds=args.seconds))
            window_s = time.perf_counter() - t_w0
            if tracer:
                tracer.tables.active = False
            cpu1 = tree.snapshot()
        # peak_rss_mb is sampled no further: the checks' memory stays out of it
        canary.append(canary_s())
        t0 = time.perf_counter()
        run.check()
        check_s = time.perf_counter() - t0
        if tracer:
            time.sleep(1.0)  # let the listener bus deliver the last progress events
            spark.streams.removeListener(tracer.streams)
            tracer.tables.restore()
        _stop(spark, tree)

        ops = [t for ts in timed for t in ts if t is not None]
        whole = [sum(ts) for ts in timed if None not in ts]
        failed = run.raised + run.mismatched
        if not ops or not whole:
            print("no timed op succeeded", file=sys.stderr)
            return 1
        pass_s = statistics.median(whole)
        per_op = {n: round(statistics.median(v), 3) for n, v in sorted(run.op_s.items())}
        print(
            f"{name} seed={args.seed}: set-up {setup_s:.2f} s (session "
            f"{session_start_s:.2f} s, warm-up passes {[round(w, 3) for w in warm]} s); "
            f"{len(timed)} timed passes {[round(w, 3) for w in whole]} s in "
            f"{window_s:.1f} s; op_p50_s over {len(ops)} ops; {_tail(ops)}; "
            f"per-op medians {per_op}; {len(run.kept)} outputs checked in "
            f"{check_s:.2f} s, excluded; failed_ratio "
            f"{failed}/{run.attempted} = {failed / run.attempted:.4f} (base: every op "
            f"run, warm-up and timed); host.canary_s start {canary[0]:.4f} end "
            f"{canary[1]:.4f}",
            file=sys.stderr,
        )
        if not args.trace:
            _remember_pass_s(args, pass_s)
            metrics = {
                "setup_s": _metric(setup_s, "s"),
                "op_p50_s": _metric(statistics.median(ops), "s"),
                "pass_s": _metric(pass_s, "s"),
                "peak_rss_mb": _metric(tree.peak_mb["total"], "MB"),
            }
        else:
            from layertrace import EventLog, find_event_log, layer_metrics

            log = EventLog(find_event_log(event_dir))
            layers = layer_metrics(log, tracer.spans, tracer.streams, tracer.tables)
            n = len(tracer.spans)
            layers.update({
                "session.start_s": session_start_s,
                "session.release_s": statistics.mean(run.release_s[n_warm:]),
                "proc.driver_cpu_s": (cpu1["driver_cpu_s"] - cpu0["driver_cpu_s"]) / n,
                "proc.jvm_cpu_s": (cpu1["jvm_cpu_s"] - cpu0["jvm_cpu_s"]) / n,
                "proc.pyworker_cpu_s": (cpu1["pyworker_cpu_s"] - cpu0["pyworker_cpu_s"]) / n,
                "proc.jvm_rss_mb": tree.peak_mb["jvm"],
                "proc.pyworker_rss_mb": tree.peak_mb["pyworker"],
                "host.canary_s": statistics.mean(canary),
                "trace.overhead_ratio": pass_s / overhead_base,
            })
            units = _per_layer_units()
            metrics = {k: _metric(v, units[k]) for k, v in layers.items()}
        print(json.dumps({
            "correct": failed == 0,
            "attempted": run.attempted,
            "failed": failed,
            "metrics": metrics,
        }))
        return 0
    finally:
        tree.reap()  # a run that raised may leave the JVM behind
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)


def _per_layer_units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
