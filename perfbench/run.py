#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Generates the workload's inputs from the seed
(not timed), starts a ``local[nproc]`` session with the engine's own
defaults, runs one untimed warm-up pass of the workload's ops, then a fixed
number of timed passes (set by ``--seconds`` alone, never by the host's
speed), verifies every timed op's output, and prints a report whose last
line is one JSON object:

    {"correct": …, "attempted": …, "failed": …, "metrics": {…}}

With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the per-layer ones (spans around each engine call, Spark status-store reads
after each op). Everything is written under the working directory and
removed at exit, except the traced run's span file in ``.perfbench_trace/``.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import tempfile
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
ENGINE = os.path.join(ROOT, "spark_sentiment_spark")
SPEC = os.path.join(HERE, os.pardir, "BENCHMARK.json")

#: (module, attribute, span name) of every engine call the traced run wraps
TRACED_CALLS = (
    ("spark_sentiment_spark.sources.io", "load", "sources.load"),
    ("spark_sentiment_spark.sources.io", "save", "sources.save"),
    ("spark_sentiment_spark.operators.detection", "detect_text_column",
     "detection.detect"),
    ("spark_sentiment_spark.operators.detection",
     "detect_categorical_column", "detection.detect"),
    ("spark_sentiment_spark.functions.text", "clean_source",
     "functions.clean_source"),
    ("spark_sentiment_spark.operators.wordlist_extraction", "save_wordlists",
     "wordlist.extract"),
    ("spark_sentiment_spark.analyze", "analyze", "analyze.analyze"),
    ("spark_sentiment_spark.operators.components", "connected_components",
     "components.cc"),
    ("spark_sentiment_spark.plans.registry", "release_caches",
     "registry.release"),
)


def parse_args(argv):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="nominal op time; sets the fixed pass count")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true",
                   help="smoke-test input sizes")
    return p.parse_args(argv)


def make_inputs(workload: str, seed: int, size, dest: str) -> dict:
    import gen
    from workloads import tweets_path

    os.makedirs(dest)
    if workload == "sentiment_tweets":
        return gen.tweets_csv(ROOT, tweets_path(dest), int(size), seed)
    return gen.catalog_tables(dest, size, seed)


def harness_conf(tmp_root: str) -> dict:
    """The only settings the harness adds to ``get_spark()``'s defaults:
    no UI, temp dirs inside the run's directory, and the import path the
    Python workers need to find the engine (without it every analyze UDF
    fails with ModuleNotFoundError)."""
    return {
        "spark.ui.enabled": "false",
        "spark.executorEnv.PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
                os.pathsep) if p]),
        "spark.local.dir": os.path.join(tmp_root, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(tmp_root, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Dderby.system.home={tmp_root}",
    }


def stop_session(spark) -> None:
    """Stop Spark and the JVM it launched, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()      # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def dir_size(path: str) -> tuple[int, int]:
    """(data files, bytes) under an output dir, Spark's marker and checksum
    files excluded."""
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.startswith(("_", ".")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


def run_op(ctx, op, pass_no: int, out_root: str) -> dict:
    """Run one op; an exception is recorded as the op's failure."""
    out = os.path.join(out_root, f"p{pass_no}", op.name)
    rec = {"op": op.name, "pass": pass_no, "rows": op.rows, "out": out,
           "error": None, "facts": {}}
    t0 = time.perf_counter()
    try:
        rec["facts"] = op.run(ctx, out) or {}
    except Exception as exc:  # an op failure is a result, not a crash
        rec["error"] = f"raised {type(exc).__name__}: {exc}".splitlines()[0]
        traceback.print_exc(file=sys.stderr)
    rec["wall_s"] = time.perf_counter() - t0
    return rec


def warm_up(ctx, ops, cores: int, out_root: str) -> list[dict]:
    """The untimed pass: every op once, concurrently, on the timed ops'
    inputs. It pays one-time costs (class loading, JIT, Python worker
    start), which overlap instead of queueing. Tracing is paused."""
    from spark_sentiment_spark.plans.registry import release_caches

    traced, ctx.tracer.enabled = ctx.tracer.enabled, False
    try:
        with ThreadPoolExecutor(max_workers=cores) as pool:
            futures = [pool.submit(run_op, ctx, op, 0, out_root)
                       for op in ops]
            records = [f.result() for f in futures]
    finally:
        ctx.tracer.enabled = traced
    release_caches()    # once every concurrent op is done with its caches
    return records


def timed_passes(ctx, ops, passes: int, out_root: str) -> tuple[list, float]:
    """``passes`` × every op, in order, one at a time. Returns the records
    and the time spent reading Spark's status stores (traced runs)."""
    records, read_s = [], 0.0
    if ctx.status is not None:
        ctx.status.mark()               # deltas start after the warm-up
    for pass_no in range(1, passes + 1):
        for op in ops:
            if ctx.status is not None:
                ctx.spark.sparkContext.setJobGroup(op.name, op.name)
                ctx.tracer.op_id = len(records)
            start = time.time()
            with ctx.tracer.span(f"op.{op.name}"):
                rec = run_op(ctx, op, pass_no, out_root)
            if ctx.status is not None:
                t1 = time.perf_counter()
                rec["layers"] = ctx.status.op_delta(start, time.time())
                read_s += time.perf_counter() - t1
            records.append(rec)
    return records, read_s


def verify(records, inputs: str, counts: dict, workload: str, seed: int,
           tmp_root: str) -> None:
    """Fill in ``error`` for every timed op whose output is wrong."""
    import verify as v
    from workloads import TABLES

    if workload == "sentiment_tweets":
        # Spark's CSV reader reads the quoted empty text as null too, and
        # analyze() drops null texts.
        rows = counts["rows"] - counts["null_text"] - counts["empty_text"]

        def check(rec):
            if rec["op"] == "save_wordlists":
                # The word-score output of the same pass carries the cleaned
                # texts (the same clean_source(stem=True) call).
                return v.check_wordlists(rec["out"], os.path.join(
                    os.path.dirname(rec["out"]), "analyze_word-score"))
            return v.check_analyze(rec["op"].removeprefix("analyze_"),
                                   rec["out"], rows, seed)
    else:
        from spark_sentiment_spark.plans.registry import REGISTRY

        oracle = v.CatalogOracle(inputs, TABLES, tmp_root)

        def check(rec):
            return oracle.check(rec["op"], REGISTRY[rec["op"]].sql, rec["out"])

    for rec in records:
        if rec["error"]:
            continue
        try:
            rec["error"] = check(rec)
        except Exception as exc:  # a broken output is a failed op
            rec["error"] = f"verification raised {type(exc).__name__}: {exc}"


def rows_per_s(records) -> float:
    """Input rows of every timed op ÷ their summed wall time."""
    return (sum(r["rows"] for r in records)
            / sum(r["wall_s"] for r in records))


def op_geomean_s(records) -> float:
    """Geometric mean of every timed op's wall time."""
    return math.exp(sum(math.log(r["wall_s"]) for r in records)
                    / len(records))


def layer_metrics(records, tracer, read_s: float, setup: dict,
                  cores: int) -> dict:
    """Per-layer metrics over the timed ops. Every name appears on every
    workload, with 0 where the workload never reaches that layer."""
    from workloads import ANALYZE_METHODS, CATALOG

    def span_s(name):     # spans inside timed ops only
        return sum(s["end"] - s["start"] for s in tracer.spans
                   if s["name"] == name and s["op"] is not None)

    def op_s(name):
        return sum(r["wall_s"] for r in records if r["op"] == name)

    def pass_s(pass_no):
        return sum(r["wall_s"] for r in records if r["pass"] == pass_no)

    wall = sum(r["wall_s"] for r in records)
    m = {"session.get_spark_s": setup["get_spark_s"],
         "session.warmup_s": setup["warmup_s"]}
    for name in ("sources.load", "detection.detect", "functions.clean_source",
                 "wordlist.extract", "sources.save", "plans.build",
                 "plans.exec", "components.cc", "registry.release"):
        m[f"{name}_s"] = span_s(name)
    for meth in ANALYZE_METHODS:
        m[f"analyze.{meth.replace('-', '_')}_s"] = op_s(f"analyze_{meth}")
    for q in CATALOG:
        m[f"plans.{q}_s"] = op_s(q)
    m["registry.caches_released"] = sum(
        r["facts"].get("caches_released", 0) for r in records)
    m["cache.peak_mb"] = max(r["facts"].get("cache_bytes", 0)
                             for r in records) / 2**20
    files = size = 0
    for r in records:
        f, b = dir_size(r["out"])
        files, size = files + f, size + b
    m["sources.output_files"], m["sources.output_bytes"] = files, size
    for k in records[0]["layers"]:      # StatusReader.op_delta's metrics
        m[k] = sum(r["layers"][k] for r in records)
    run_s = m["spark.executor_run_s"]
    m["spark.slot_util"] = run_s / (wall * cores)
    m["python.udf_share"] = m["python.udf_s"] / run_s if run_s else 0.0
    m["spark.jobs_per_op"] = m["spark.jobs"] / len(records)
    m["timed.first_over_last"] = pass_s(1) / pass_s(records[-1]["pass"])
    m["trace.rows_per_s"] = rows_per_s(records)
    m["trace.read_s"] = read_s
    return m


def engine_digest() -> str:
    """SHA-256 over the engine's sources: identifies the code measured even
    where the checkout is not a git repository."""
    h = hashlib.sha256()
    for dirpath, dirs, names in os.walk(ENGINE):
        dirs[:] = sorted(d for d in dirs if d != "__pycache__")
        for n in sorted(names):
            path = os.path.join(dirpath, n)
            h.update(os.path.relpath(path, ROOT).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def fingerprint(spark, args, cores, conf, counts, passes) -> dict:
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                                capture_output=True, text=True, timeout=10,
                                check=True).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        commit = "n/a (not a git checkout)"
    import pyspark

    return {"nproc": cores, "master": spark.sparkContext.master,
            "shuffle_partitions":
                spark.conf.get("spark.sql.shuffle.partitions"),
            "harness_conf": conf,
            "harness_env": {k: os.environ[k] for k in (
                "SPARK_GRAFT_CPUS", "TMPDIR", "JAVA_TOOL_OPTIONS")},
            "pyspark": pyspark.__version__,
            "java": spark.sparkContext._jvm.java.lang.System.getProperty(
                "java.version"),
            "seed": args.seed, "git_commit": commit,
            "engine_sha256": engine_digest(),
            "workload": args.workload, "tiny": args.tiny,
            "passes": passes, "input_rows": counts}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ENGINE, "__init__.py")):
        print(f"perfbench: no engine package at {ENGINE}; run from the "
              "repository root", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from layers import RssSampler, StatusReader, Tracer
    from workloads import SIZES, TINY_SIZES, Context, ops
    from workloads import timed_passes as n_passes

    tmp_root = tempfile.mkdtemp(prefix=".perfbench_", dir=ROOT)
    cores = len(os.sched_getaffinity(0))
    # The engine's own knob for local[N] and N shuffle partitions. Every
    # temp file stays inside the checkout: the engine's staging dirs and the
    # Python workers use TMPDIR; every JVM spark-submit starts reads
    # JAVA_TOOL_OPTIONS (and writes no /tmp/hsperfdata_* without PerfData).
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["TMPDIR"] = tmp_root
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-XX:-UsePerfData "
                                       f"-Djava.io.tmpdir={tmp_root}")
    tempfile.tempdir = tmp_root
    tracer = Tracer(args.trace == 1)
    spark = None
    try:
        sizes = TINY_SIZES if args.tiny else SIZES
        inputs = os.path.join(tmp_root, "in")
        counts = make_inputs(args.workload, args.seed, sizes[args.workload],
                             inputs)
        passes = n_passes(args.seconds)
        for module, attr, name in TRACED_CALLS:
            tracer.wrap(module, attr, name)
        conf = harness_conf(tmp_root)
        with RssSampler(enabled=tracer.enabled) as rss:
            t0 = time.perf_counter()
            from spark_sentiment_spark import get_spark

            spark = get_spark(extra_conf=conf)
            get_spark_s = time.perf_counter() - t0
            spark.sparkContext.setLogLevel("ERROR")
            status = StatusReader(spark) if tracer.enabled else None
            op_list = ops(args.workload, counts)
            out_root = os.path.join(tmp_root, "out")
            warm = warm_up(Context(spark=spark, inputs=inputs,
                                   tracer=tracer, warm_up=True),
                           op_list, cores, out_root)
            setup_s = time.perf_counter() - t0
            timed, read_s = timed_passes(
                Context(spark=spark, inputs=inputs, tracer=tracer,
                        status=status), op_list, passes, out_root)
        verify(timed, inputs, counts, args.workload, args.seed, tmp_root)
        failed = sum(bool(r["error"]) for r in timed)
        values = {"setup_s": setup_s, "rows_per_s": rows_per_s(timed),
                  "op_geomean_s": op_geomean_s(timed),
                  "peak_rss_mb": rss.peak / 2**20,
                  "failed_ops_frac": failed / len(timed)}
        if tracer.enabled:
            values.update(layer_metrics(
                timed, tracer, read_s,
                {"get_spark_s": get_spark_s,
                 "warmup_s": setup_s - get_spark_s}, cores))
            trace_dir = os.path.join(ROOT, ".perfbench_trace")
            os.makedirs(trace_dir, exist_ok=True)
            tracer.dump(os.path.join(
                trace_dir, f"spans-{args.workload}-{args.seed}.json"))
        with open(SPEC, encoding="utf-8") as f:
            spec = json.load(f)
        units = {m["name"]: m["unit"] for m in
                 spec["per_layer" if tracer.enabled else "end_to_end"]}
        report(fingerprint(spark, args, cores, conf, counts, passes),
               warm + timed, values, units, len(timed))
        print(json.dumps({
            "correct": failed == 0, "attempted": len(timed), "failed": failed,
            "metrics": {k: {"value": values[k], "unit": units[k]}
                        for k in units}}))
        return 0
    finally:
        tracer.unwrap_all()
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(tmp_root, ignore_errors=True)


def report(fp, records, values, units, n_timed) -> None:
    """Human-readable lines above the result line: fingerprint, every op
    run, then each metric with its unit and sample count."""
    print("perfbench " + json.dumps(fp, sort_keys=True))
    print(f"{'pass':>4} {'op':<28} {'wall_s':>8} {'rows':>9}  status")
    for r in records:
        warm = r["pass"] == 0
        status = f"FAILED: {r['error']}" if r["error"] else (
            "warm-up" if warm else "ok")
        print(f"{r['pass']:>4} {r['op']:<28} {r['wall_s']:>8.3f} "
              f"{'' if warm else r['rows']:>9}  {status}")
    print(f"timed_ops {n_timed}")
    print(f"{'metric':<34} {'value':>16} {'unit':<6} samples")
    samples = {"rows_per_s": n_timed, "op_geomean_s": n_timed,
               "trace.rows_per_s": n_timed}
    for k, unit in units.items():
        print(f"{k:<34} {values[k]:>16.6g} {unit:<6} {samples.get(k, 1)}")


if __name__ == "__main__":
    sys.exit(main())
