#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload kg_maintain --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout.  Inputs are built under
``.perfbench_data/`` on first use, before any timing starts (see
``prepare.py``).  ``--trace 0`` prints the end-to-end metrics; ``--trace 1``
runs the same workload with spans around each call into the package and
prints the per-layer metrics instead.  ``--smoke`` runs a tiny, untimed
variant of a workload that the benchmark's own tests use.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import mix  # noqa: E402
import prepare  # noqa: E402
import workloads  # noqa: E402
from tracing import Tracer, per_pass  # noqa: E402


class Ctx:
    """State shared by a workload's passes."""

    def __init__(self, spark, tracer: Tracer, work: str):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.static = None
        self.counts: dict[str, dict[int, float]] = defaultdict(lambda: defaultdict(float))

    def scratch(self, name: str, fresh: bool = True) -> str:
        d = os.path.join(self.work, name)
        if fresh:
            shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d, exist_ok=True)
        return d

    def count(self, name: str, value: float) -> None:
        if self.tracer.pass_no >= 0:
            self.counts[name][self.tracer.pass_no] += value


def cores() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(checkout: str, work: str):
    """Local Spark pinned for repeatable timing: local[cores], shuffle
    partitions = cores, AQE on, UI off, fixed driver memory; every temp
    file stays inside the checkout."""
    n = cores()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (checkout, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.driver.memory", "2g")
        .config("spark.local.dir", tmp)
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp}")
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_peak_rss_mb(spark) -> float:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is None:
        return 0.0
    with open(f"/proc/{proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def measure(ctx: Ctx, run: workloads.Run, seconds: float, warm_up, timed_pass) -> float:
    """Untimed warm-up, then timed passes until ``seconds`` have gone by
    (at least one).  Returns the time at which set-up ended."""
    warm_up()
    ready = time.perf_counter()
    run.checking = True
    while True:
        ctx.tracer.pass_no += 1
        timed_pass()
        if time.perf_counter() >= ready + seconds:
            break
    ctx.tracer.pass_no = -1
    return ready


def _log_ops(label: str, ops: list) -> None:
    print(f"# {label}: " + " ".join(f"{n}={s:.2f}" for n, s in ops), file=sys.stderr, flush=True)


def run_kg(ctx: Ctx, cfg, seconds: float, run: workloads.Run, exp: dict) -> float:
    if ctx.tracer.enabled:
        # time the parser inside query()/update() through the name the
        # engine module calls it by; this process ends with the run
        import kolibrie_spark.engine as engine

        parse = engine.parse_query

        def traced_parse(text):
            with ctx.tracer.span("sparql.parse"):
                return parse(text)

        engine.parse_query = traced_parse

    def warm_up():
        for _ in range(cfg.warmup_passes):
            _log_ops("warm-up ops", workloads.kg_pass(ctx, exp, run))

    def timed_pass():
        ops = workloads.kg_pass(ctx, exp, run)
        _log_ops("pass ops", ops)
        run.passes.append(sum(s for _, s in ops))
        # request latency: the SPARQL calls, not the bulk load/reason/export
        run.ops.extend(s for n, s in ops if n.startswith(("select.", "update.")))

    return measure(ctx, run, seconds, warm_up, timed_pass)


def run_rsp(ctx: Ctx, cfg, seconds: float, run: workloads.Run, exp: dict) -> float:
    from kolibrie_spark import QuadStore

    ctx.static = QuadStore.from_parquet(ctx.spark, exp["static"])

    def warm_up():
        for _ in range(cfg.warmup_passes):
            _, triggers = workloads.rsp_pass(ctx, exp, run, cfg.warmup_chunks)
            _log_ops("warm-up batches", list(enumerate(triggers)))

    def timed_pass():
        try:
            wall, triggers = workloads.rsp_pass(ctx, exp, run, cfg.max_chunks or len(exp["chunks"]))
        except Exception:
            run.error("stream pass")
            return
        _log_ops("pass batches", list(enumerate(triggers)))
        run.passes.append(wall)
        run.ops.extend(triggers)

    return measure(ctx, run, seconds, warm_up, timed_pass)


WORKLOADS = {
    "kg_maintain": (prepare.ensure_kg, workloads.kg_expect, run_kg),
    "rsp_live": (prepare.ensure_stream, workloads.rsp_expect, run_rsp),
}


def layer_metrics(ctx: Ctx, run: workloads.Run, session_s: float, rss_mb: float) -> dict:
    s = ctx.tracer.summary()

    def counted(name: str) -> float:
        vals = list(ctx.counts.get(name, {}).values())
        return statistics.median(vals) if vals else 0

    pb_calls = s.get("streaming.process_batch", {}).get("calls", [])
    m = {
        "sparql.parse_s": per_pass(s, "sparql.parse"),
        "sparql.build_s": per_pass(s, "sparql.build"),
        "sparql.build_jobs": per_pass(s, "sparql.build", "jobs"),
        "sparql.plan_s": per_pass(s, "sparql.plan"),
        "sparql.exec_s": per_pass(s, "sparql.exec"),
        "sparql.exec_jobs": per_pass(s, "sparql.exec", "jobs"),
        "sparql.rows_out": counted("sparql.rows_out"),
    }
    for qid in mix.SELECT_IDS:
        m[f"sparql.q.{qid}.s"] = per_pass(s, f"sparql.q.{qid}")
        m[f"sparql.q.{qid}.jobs"] = per_pass(s, f"sparql.q.{qid}", "jobs")
    for uid in mix.UPDATE_IDS:
        m[f"sparql.update.{uid}.s"] = per_pass(s, f"sparql.update.{uid}")
        m[f"sparql.update.{uid}.jobs"] = per_pass(s, f"sparql.update.{uid}", "jobs")
    replace_calls = s.get("store.replace", {}).get("calls", [])
    n_passes = max(1, len(run.passes))
    trigger_s = counted("streaming.trigger_s")
    m.update(
        {
            "store.replace_s": per_pass(s, "store.replace"),
            "store.replace_calls": len(replace_calls) / n_passes,
            "store.quads": counted("store.quads"),
            "rdfio.load_s": per_pass(s, "rdfio.load"),
            "rdfio.load_jobs": per_pass(s, "rdfio.load", "jobs"),
            "rdfio.quads_in": counted("rdfio.quads_in"),
            "rdfio.bytes_in": counted("rdfio.bytes_in"),
            "rdfio.export_s": per_pass(s, "rdfio.export"),
            "rdfio.export_jobs": per_pass(s, "rdfio.export", "jobs"),
            "rdfio.bytes_out": counted("rdfio.bytes_out"),
            "reasoner.materialize_s": per_pass(s, "reasoner.materialize"),
            "reasoner.materialize_jobs": per_pass(s, "reasoner.materialize", "jobs"),
            "reasoner.derived_quads": counted("reasoner.derived_quads"),
            "streaming.compile_s": per_pass(s, "streaming.compile"),
            "streaming.process_batch_s": per_pass(s, "streaming.process_batch"),
            "streaming.process_batch_p50_s": statistics.median(pb_calls) if pb_calls else 0,
            "streaming.sink_s": per_pass(s, "streaming.sink"),
            "streaming.machinery_s": max(0.0, trigger_s - per_pass(s, "streaming.process_batch"))
            if trigger_s
            else 0,
            "streaming.batches": counted("streaming.batches"),
            "streaming.jobs": per_pass(s, "streaming.process_batch", "jobs"),
            "streaming.events_in": counted("streaming.events_in"),
            "streaming.rows_out": counted("streaming.rows_out"),
            "process.session_start_s": session_s,
            "process.jvm_peak_rss_mb": rss_mb,
            "traced.pass_s": statistics.median(run.passes) if run.passes else 0,
        }
    )
    return m


def declared_units(checkout: str) -> dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json declares them."""
    with open(os.path.join(checkout, "BENCHMARK.json")) as f:
        b = json.load(f)
    return {m["name"]: m["unit"] for m in b["end_to_end"] + b["per_layer"]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny untimed variant for tests")
    args = ap.parse_args(argv)

    checkout = os.path.dirname(HERE)
    if not os.path.isdir(os.path.join(checkout, "kolibrie_spark")):
        print(f"no kolibrie_spark package under {checkout}: run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, checkout)
    cfg = (workloads.SMOKE if args.smoke else workloads.CONFIGS)[args.workload]
    ensure, expect, run_workload = WORKLOADS[args.workload]

    # prepare: inputs and expected answers, outside every timed figure
    data = ensure(checkout, cfg.scale)
    exp = expect(data, args.seed)
    work = os.path.join(prepare.data_root(checkout), f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    t0 = time.perf_counter()
    spark = start_spark(checkout, work)
    session_s = time.perf_counter() - t0
    try:
        ctx = Ctx(spark, Tracer(spark.sparkContext, bool(args.trace)), work)
        run = workloads.Run()
        ready = run_workload(ctx, cfg, 0 if args.smoke else args.seconds, run, exp)
        setup_s = ready - t0
        rss_mb = jvm_peak_rss_mb(spark)
        layers = layer_metrics(ctx, run, session_s, rss_mb) if args.trace else None
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    if not run.passes or not run.attempted:
        print("no timed pass completed", file=sys.stderr)
        return 1
    values = layers if args.trace else {
        "setup_s": setup_s,
        "ok_op_ratio": (run.attempted - run.failed) / run.attempted,
        "pass_s": statistics.median(run.passes),
        "op_geomean_s": statistics.geometric_mean(run.ops),
    }
    units = declared_units(checkout)
    metrics = {k: {"value": v, "unit": units[k]} for k, v in values.items()}
    print(
        f"# workload={args.workload} seed={args.seed} cores={cores()} scale={cfg.scale} "
        f"passes={len(run.passes)} ops={len(run.ops)}",
        flush=True,
    )
    print(
        json.dumps(
            {
                "correct": run.failed == 0,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": metrics,
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
