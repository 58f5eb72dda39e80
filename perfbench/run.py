#!/usr/bin/env python3
"""Repo benchmark: one workload, one seed, one closed-loop Spark run.

    python3 perfbench/run.py --workload fused_crawl --seed 1 --seconds 8 --trace 0

Run from the root of a source checkout. Inputs come from the load generator
(``corpus.generate_pages``) for the given seed and are written as parquet
before any SparkSession starts. Spark runs ``local[nproc]``, one job at a
time: a full-shape warm-up pass, then the timed passes that fit in
``--seconds`` (at least one), each over a freshly read DataFrame and a fresh
output directory.
Every pass's outputs are then checked (workloads.py).

``--trace 0`` reports the end-to-end metrics (BENCHMARK.json ``end_to_end``);
``--trace 1`` adds one traced Spark pass and a single-process per-document
pass and reports the per-layer metrics instead. The last stdout line is the
result JSON; the line before it holds the details (quartiles, run counts,
failure accounting, versions). Spark's log goes to stderr.
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PINNED = os.path.join(HERE, "pinned.json")
PROBE_DOCS = 130  # every shape as html and pdf, plus skew, corrupt and image-only ids
# Each run is a fresh process, and Spark start plus the cold first pass take
# 15-35 s on 4 cores whatever the input size: one full-shape warm-up pass per
# run is all the benchmark's time budget leaves room for.
WARMUP_PASSES = 1
# The driver heap is fixed at 1g (-Xms = -Xmx; the program's own default is a
# 12g maximum). Under that default, how far G1 has grown the heap by a given
# pass is GC heuristics: the first timed pass's peak RSS spread from 3.0 to
# 4.7 GB over five seeds. The heap is not pre-touched, so the pages the
# program actually uses still show in RSS.
DRIVER_MEMORY = "1g"

END_TO_END = {"docs_per_s": "docs/s", "cpu_s_per_kdoc": "s/kdoc", "peak_rss_mb": "MB",
              "setup_s": "s", "ok_doc_share": "share"}


class Ctx:
    """Per-run facts the passes and checks share."""

    def __init__(self, workload, seed: int, work: str):
        self.workload, self.seed, self.work = workload, seed, work
        self.pages_path = os.path.join(work, "pages")
        self.robots_path = os.path.join(work, "robots")
        self.urls: list[str] = []
        self.refs: dict = {}
        self.designed: dict = {}
        self.n_docs = 0
        self.payload_bytes = 0
        self.input_digest = ""
        self.probe: dict = {}
        self.url_sum = None  # fused_crawl: xxhash64 sum over the input urls
        self.gen_s = 0.0


def quartiles(values: list[float]) -> dict:
    if len(values) >= 2:
        q1, q2, q3 = statistics.quantiles(values, n=4)
    else:
        q1 = q2 = q3 = values[0]
    return {"median": q2, "p25": q1, "p75": q3, "n": len(values)}


def versions() -> dict:
    import platform

    import pyarrow
    import pyspark

    return {"python": platform.python_version(), "pyspark": pyspark.__version__,
            "pyarrow": pyarrow.__version__}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def generate(ctx: Ctx, procs: int) -> None:
    """Load generator, sharded over spawned workers (gen.build_chunk)."""
    import multiprocessing as mp

    import gen

    w = ctx.workload
    ids = w.ids()
    sample = set(w.sample(ids, ctx.seed))
    os.makedirs(ctx.pages_path)
    size = -(-len(ids) // procs)
    tasks = [{"seed": ctx.seed, "ids": ids[k:k + size], "rehost": w.rehost, "reports": w.reports,
              "sample": sorted(sample.intersection(ids[k:k + size])),
              "path": os.path.join(ctx.pages_path, f"part-{k // size:03d}.parquet")}
             for k in range(0, len(ids), size)]
    pool = mp.get_context("spawn").Pool(procs)
    try:
        probe = pool.apply_async(gen.probe_digests, ({"n": PROBE_DOCS},))
        chunks = pool.map(gen.build_chunk, tasks)
        ctx.probe = probe.get()
    finally:
        pool.close()
        pool.join()
    # The spawn context also started a semaphore tracker process. Release the
    # pool's semaphores first (their finalizers unregister them), then stop it.
    del pool, probe
    gc.collect()
    from multiprocessing import resource_tracker

    getattr(resource_tracker._resource_tracker, "_stop", lambda: None)()
    h = hashlib.sha256()
    for c in chunks:
        h.update(c["digest"].encode())
        ctx.urls += c["urls"]
        ctx.refs.update(c["refs"])
        ctx.designed.update(c["designed"])
        ctx.payload_bytes += c["payload_bytes"]
    ctx.input_digest = h.hexdigest()
    ctx.n_docs = len(ctx.urls)
    if w.rehost:
        import pyarrow as pa
        import pyarrow.parquet as pq

        os.makedirs(ctx.robots_path)
        pq.write_table(pa.Table.from_pylist(gen.robots_rows()),
                       os.path.join(ctx.robots_path, "part-000.parquet"))


def submit_args(work: str, event_dir: str | None) -> str:
    conf = {"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -Xms{DRIVER_MEMORY}",
            "spark.sql.warehouse.dir": f"{work}/warehouse",
            "spark.ui.showConsoleProgress": "false"}
    if event_dir:
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": event_dir,
                     "spark.eventLog.compress": "false"})
    return " ".join(f"--conf '{k}={v}'" for k, v in conf.items()) + " pyspark-shell"


def run_passes(spark, ctx: Ctx, tag: str, count: int | None = None,
               seconds: float = 0.0) -> list[dict]:
    """Closed loop, each pass starting when the previous one has returned:
    ``count`` passes or, without a count, the passes that fit in ``seconds``.
    A pass is not started if, taking as long as the last one, it would end
    past the deadline; the first pass always runs."""
    import procstat

    out: list[dict] = []
    t_end = time.monotonic() + seconds

    def more() -> bool:
        if count is not None:
            return len(out) < count
        return not out or time.monotonic() + out[-1]["wall_s"] <= t_end

    while more():
        out_dir = os.path.join(ctx.work, "out", f"{tag}{len(out):02d}")
        with procstat.PeakRss() as rss:
            cpu0, t0 = procstat.cpu_seconds(), time.perf_counter()
            result = ctx.workload.run_pass(spark, ctx, out_dir)
            wall = time.perf_counter() - t0
            cpu = procstat.cpu_seconds() - cpu0
        out.append({"wall_s": wall, "cpu_s": cpu, "peak_rss_mb": rss.peak_mb,
                    "out_dir": out_dir, "result": result})
    return out


def stop_spark(spark) -> None:
    """Stop Spark and wait until the JVM and its Python workers have exited."""
    import procstat

    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    tree = set(procstat.tree(proc.pid))
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
    left = procstat.wait_gone(tree, 30)
    for pid in left:
        os.kill(pid, 9)
    procstat.wait_gone(left, 10)


def check_pinned(ctx, verdict, pinned: dict) -> None:
    import gen

    if ctx.probe != pinned["probe"]:
        verdict.problem(f"default-seed probe digests moved: {ctx.probe} != {pinned['probe']}")
    want = pinned["workloads"].get(ctx.workload.name)
    if ctx.seed == gen.DEFAULT_SEED and want is not None:
        got = {"inputs": ctx.input_digest, "outputs": verdict.digests[0] if verdict.digests else None}
        if got != want:
            verdict.problem(f"default-seed digests moved: {got} != {want}")
    if len(set(verdict.digests)) > 1:
        verdict.problem("passes of one run produced different outputs")


def run_spark(args, ctx: Ctx) -> dict:
    """Spark start, warm-up, timed passes and (with --trace 1) the traced pass."""
    import tracing
    from pdfextractor_spark.session import get_spark

    w = ctx.workload
    run: dict = {"traced": None, "spans": None}
    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{w.name}", cores=nproc())
    run["spark_start_s"] = time.perf_counter() - t0
    try:
        run["warm"] = run_passes(spark, ctx, "warm", count=WARMUP_PASSES)
        run["setup_s"] = time.perf_counter() - t0
        w.prepare(spark, ctx)
        run["timed"] = run_passes(spark, ctx, "pass", seconds=args.seconds)
        if args.trace:
            spans = run["spans"] = tracing.Spans()
            sc = spark.sparkContext
            sc.setJobGroup(tracing.TRACED_GROUP, "traced pass")
            with spans.installed(tracing.SPARK_PATCHES), spans.span("pass", workload=w.name):
                run["traced"] = run_passes(spark, ctx, "traced", count=1)[0]
            sc.setLocalProperty("spark.jobGroup.id", None)
    finally:
        t_stop = time.perf_counter()
        stop_spark(spark)
        run["stop_s"] = time.perf_counter() - t_stop
    return run


def end_to_end(ctx: Ctx, run: dict, verdict) -> tuple[dict, dict]:
    timed = run["timed"]
    docs_per_s = [ctx.n_docs / p["wall_s"] for p in timed]
    cpu_per_kdoc = [p["cpu_s"] / ctx.n_docs * 1000 for p in timed]
    metrics = {
        "docs_per_s": statistics.median(docs_per_s),
        "cpu_s_per_kdoc": statistics.median(cpu_per_kdoc),
        "peak_rss_mb": timed[0]["peak_rss_mb"],
        "setup_s": run["setup_s"],
        "ok_doc_share": 1.0 - verdict.failed / verdict.attempted,
    }
    detail = {
        "workload": ctx.workload.name, "seed": ctx.seed, "nproc": nproc(),
        "master": f"local[{nproc()}]", "versions": versions(),
        "docs_per_pass": ctx.n_docs, "payload_mb": ctx.payload_bytes / 2**20,
        "gen_s": ctx.gen_s, "spark_start_s": run["spark_start_s"], "setup_s": run["setup_s"],
        "warmup_wall_s": [p["wall_s"] for p in run["warm"]],
        "pass_wall_s": [p["wall_s"] for p in timed],
        "docs_per_s": quartiles(docs_per_s), "cpu_s_per_kdoc": quartiles(cpu_per_kdoc),
        "peak_rss_mb_first_pass": timed[0]["peak_rss_mb"],
        "peak_rss_mb_all_passes": quartiles([p["peak_rss_mb"] for p in timed]),
        "stop_s": run["stop_s"],
        "input_digest": ctx.input_digest, "output_digests": verdict.digests,
        "probe_digests": ctx.probe,
        "failures": {"attempted": verdict.attempted, "failed": verdict.failed,
                     "designed_errors": verdict.designed, "unexpected_errors": verdict.unexpected,
                     "problems": verdict.problems},
    }
    return metrics, detail


def per_layer(ctx: Ctx, run: dict, cpu_s_per_kdoc: float, log_path: str) -> tuple[dict, dict]:
    """Per-document pass (after Spark has stopped), stage spans, event log
    and stderr of the traced run."""
    import pyarrow.parquet as pq

    import tracing

    w, traced, spans = ctx.workload, run["traced"], run["spans"]
    rows = pq.read_table(ctx.pages_path).to_pylist()
    perdoc_spans, m = tracing.perdoc_pass(rows, w.reports)
    m.update(tracing.stage_metrics(spans))
    m.update(tracing.event_log_metrics(os.path.join(ctx.work, "events")))
    m.update(w.layer_metrics(ctx, traced["result"]))
    layer_ms = sum(m[tracing.LAYER_METRIC[n]] for n in tracing.PERDOC_LAYERS)
    m["pipeline.fused.framework_share"] = 1.0 - layer_ms / cpu_s_per_kdoc
    ckpt = tracing.dir_bytes(traced["out_dir"]) if os.path.isdir(traced["out_dir"]) else 0
    m["pipeline.tableio.write_amp"] = ckpt / tracing.dir_bytes(ctx.pages_path)
    warns = tracing.warn_counts(log_path)
    m["spark.warn_lines"] = sum(v for k, v in warns.items() if k != "large_task_binary")
    m["spark.warn_large_task_binary"] = warns.get("large_task_binary", 0)
    # Spark's event log is per application, so the untraced passes of this
    # run write it too: the ratio is the cost of the stage spans alone. The
    # event log's own cost is this run's untraced pass time against that of
    # a --trace 0 run with the same seed.
    m["trace.overhead_ratio"] = traced["wall_s"] / statistics.median(
        p["wall_s"] for p in run["timed"])
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    files = {}
    for kind, sp in (("perdoc", perdoc_spans), ("spark", spans)):
        files[kind] = os.path.join(out_dir, f"{w.name}-seed{ctx.seed}-{kind}-spans.jsonl")
        sp.dump(files[kind])
    detail = {"traced_pass_wall_s": traced["wall_s"], "warn_lines_by_class": dict(warns),
              "span_files": [os.path.relpath(f, ROOT) for f in files.values()]}
    return {k: m.get(k, 0.0) for k in tracing.PER_LAYER}, detail


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "pdfextractor_spark")):
        print(f"perfbench: no pdfextractor_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import tracing
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    # a SIGTERM unwinds like an exception: Spark is stopped, scratch removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "spark-local", "events"):
        os.makedirs(os.path.join(work, sub))
    os.environ.update({
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join([ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p]),
        "PYSPARK_SUBMIT_ARGS": submit_args(work, os.path.join(work, "events") if args.trace else None),
        # no JVM perf-data file: the JVM would write it under /tmp, outside the checkout
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
    })
    os.environ.pop("SPARK_GRAFT_ARROW_BATCH", None)

    # The JVM and the Python workers inherit fds 1 and 2: route both to a log
    # so stdout carries only the result, then replay the log on stderr.
    log_path = os.path.join(work, "stderr.log")
    real_out = os.fdopen(os.dup(1), "w")
    real_err = os.dup(2)
    log_fd = os.open(log_path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
    sys.stdout.flush()
    sys.stderr.flush()
    os.dup2(log_fd, 1)
    os.dup2(log_fd, 2)
    result = None
    try:
        ctx = Ctx(workloads.WORKLOADS[args.workload], args.seed, work)
        t_gen = time.perf_counter()
        generate(ctx, min(4, nproc()))
        ctx.gen_s = time.perf_counter() - t_gen
        run = run_spark(args, ctx)
        runs = run["timed"] + ([run["traced"]] if run["traced"] else [])
        verdict = ctx.workload.check(ctx, [p["result"] for p in runs])
        with open(PINNED) as f:
            check_pinned(ctx, verdict, json.load(f))
        metrics, detail = end_to_end(ctx, run, verdict)
        units = END_TO_END
        if args.trace:
            metrics, traced_detail = per_layer(ctx, run, metrics["cpu_s_per_kdoc"], log_path)
            detail.update(traced_detail)
            units = {k: tracing.unit(k) for k in metrics}
        result = {
            "correct": not verdict.problems and verdict.failed == 0,
            "attempted": verdict.attempted,
            "failed": verdict.failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }
    except Exception:
        traceback.print_exc()
    finally:
        sys.stdout.flush()
        sys.stderr.flush()
        os.dup2(real_err, 1)
        os.dup2(real_err, 2)
        os.close(log_fd)
        with open(log_path, "rb") as f:
            shutil.copyfileobj(f, sys.stderr.buffer)
        sys.stderr.flush()
        shutil.rmtree(work, ignore_errors=True)
    if result is None:
        return 1
    real_out.write(json.dumps({"detail": detail}) + "\n")
    real_out.write(json.dumps(result) + "\n")
    real_out.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
