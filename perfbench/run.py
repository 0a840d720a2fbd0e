#!/usr/bin/env python3
"""Repository benchmark: one workload per process, one JSON line out.

    python3 perfbench/run.py --workload sql_reports --seed 1 --seconds 10 --trace 0

Run from the repository root. The root is put on ``sys.path`` and on
the Python workers' ``PYTHONPATH`` (the import setup the test suite
uses), the synthetic tables are generated on first use, Spark runs on
``local[<cores>]``, and a single client thread drives the workload in a
closed loop. Workload definitions live in ``perfbench/workloads.json``.

Every metric is printed by name with its unit; the last line is the
short result record (``correct``, ``attempted``, ``failed``,
``metrics``). With ``--trace 0`` it carries the end-to-end metrics,
with ``--trace 1`` the per-layer metrics. Per-op records, spans and
the full summary go to ``.perfbench/runs/<workload>-s<seed>-t<trace>/``.

``--self-check`` runs the status-store check instead of a workload:
more than ``spark.ui.retainedStages`` stages, read twice, with job and
stage counts required to be non-negative and identical across the two
passes.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
CORES = len(os.sched_getaffinity(0))

with open(os.path.join(HERE, "workloads.json")) as _fh:
    CONFIG = json.load(_fh)


def _metrics(kind: str) -> dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json lists them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def fail(message: str) -> int:
    print(f"perfbench: {message}", file=sys.stderr)
    return 2


def tail(latencies: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples beyond it (the
    maximum, with none beyond, below eleven samples): (value,
    percentile, samples beyond)."""
    ordered = sorted(latencies)
    k = len(ordered) - 11 if len(ordered) >= 11 else len(ordered) - 1
    return ordered[k], 100.0 * (k + 1) / len(ordered), len(ordered) - 1 - k


class Context:
    """What a workload needs: the session, the tables, the tracer, the
    seeded RNG and the per-op record sink."""

    def __init__(self, args, data_dir: str, out_dir: str, expected: dict):
        import random

        from layers import Tracer

        self.args = args
        self.cfg = CONFIG["workloads"][args.workload]
        self.data = data_dir
        self.expected = expected
        self.out_dir = out_dir
        self.rng = random.Random(f"{args.workload}:{args.seed}")
        self.tracer = Tracer(bool(args.trace))
        self.cores = CORES
        self.ops: list[dict] = []
        self.spark = None
        self.jobs = None
        self.setup: dict = {}

    def record(self, rec: dict) -> dict:
        self.ops.append(rec)
        return rec

    def start_session(self):
        return start_session(f"perfbench-{self.args.workload}")


def start_session(app_name: str):
    """The engine's own session factory on ``local[<cores>]``, with its
    default configuration."""
    from ensembl_lakehouse_spark.session import get_spark

    return get_spark(app_name=app_name, master=f"local[{CORES}]")


def set_up(ctx: Context, workload) -> None:
    """Set the system up once, cold, in this fresh process: the JVM and
    session, the workload's state and the table registration."""
    from layers import JobReader

    t0 = time.perf_counter()
    spark = ctx.start_session()
    t1 = time.perf_counter()
    state = workload.start(ctx, spark)
    t2 = time.perf_counter()
    state["catalog"].register_dir(ctx.data)
    t3 = time.perf_counter()
    ctx.spark, ctx.state, ctx.jobs = spark, state, JobReader(spark)
    ctx.setup = {
        "setup_s": t3 - t0,
        "session.start_s": t1 - t0,
        "catalog.register_s": t3 - t2,
    }


def stop_jvm() -> None:
    """Shut the Py4J gateway and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def self_check(args) -> int:
    """Run past ``spark.ui.retainedStages`` stages twice and require the
    per-group job and stage counts to be non-negative and identical."""
    from pyspark.sql import functions as F

    from layers import JobReader

    spark = start_session("perfbench-self-check")
    jobs = JobReader(spark)
    retained = int(spark.conf.get("spark.ui.retainedStages", "1000"))

    def one_pass(tag: str) -> list[tuple[int, int]]:
        counts, stages, i = [], 0, 0
        while stages <= retained + 50:
            group = f"selfcheck-{tag}-{i}"
            jobs.set_group(group)
            for _ in range(10):
                # four aggregations on new keys: five stages per op
                df = spark.range(64, numPartitions=4)
                for k in (7, 5, 3, 2):
                    df = df.groupBy((F.col("id") % k).alias("k")).agg(F.sum("id").alias("id"))
                df.write.format("noop").mode("overwrite").save()
            jobs.set_group(None)
            jobs.drain()
            got = jobs.read(group)
            counts.append((got["jobs"], got["stages"]))
            stages += got["stages"]
            i += 1
        return counts

    first, second = one_pass("a"), one_pass("b")
    negative = [c for c in first + second if c[0] < 0 or c[1] < 0]
    ok = not negative and first == second and sum(s for _, s in first) > retained
    print(
        json.dumps({
            "self_check": "status_store",
            "ok": ok,
            "retained_stages": retained,
            "stages_per_pass": sum(s for _, s in first),
            "ops_per_pass": len(first),
            "identical": first == second,
            "negative": len(negative),
        })
    )
    spark.stop()
    stop_jvm()
    return 0 if ok else 1


def summarize(ctx: Context, workload, started: float) -> tuple[dict, dict]:
    """End-to-end and per-layer metrics from the op records."""
    from layers import median

    timed = [op for op in ctx.ops if op.get("timed")]
    ok = [op for op in timed if not op.get("error")]
    lat = [op["latency_s"] for op in ok]
    if not lat:
        raise RuntimeError("no timed op succeeded")
    busy = sum(op["latency_s"] + op.get("cleanup_s", 0.0) for op in ok)
    tail_s, pct, beyond = tail(lat)
    e2e = {
        "setup_s": ctx.setup["setup_s"],
        "ops_per_min": 60.0 * len(ok) / busy,
        "latency_p50_s": median(lat),
        "latency_tail_s": tail_s,
    }
    info = {
        "tail_percentile": pct,
        "tail_samples": len(lat),
        "tail_samples_beyond": beyond,
        "timed_ops": len(timed),
        "timed_busy_s": busy,
        "run_wall_s": time.perf_counter() - started,
    }
    # a layer the workload never enters reports zero work
    layers = {name: 0.0 for name in _metrics("per_layer")}
    layers["session.start_s"] = ctx.setup["session.start_s"]
    layers["catalog.register_s"] = ctx.setup["catalog.register_s"]
    layers["ops_per_min"] = e2e["ops_per_min"]
    layers["latency_p50_s"] = e2e["latency_p50_s"]
    layers["latency_tail_s"] = e2e["latency_tail_s"]
    layers["trace.latency_p50_s"] = e2e["latency_p50_s"]
    layers.update(workload.layers(ctx, timed))
    return e2e, {"per_layer": layers, "info": info}


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", choices=sorted(CONFIG["workloads"]))
    parser.add_argument("--seed", type=int, default=CONFIG["default_seed"])
    parser.add_argument("--seconds", type=float, default=20.0)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    parser.add_argument("--self-check", action="store_true")
    args = parser.parse_args(argv)

    for required in ("__spark_entry__.py", "ensembl_lakehouse_spark/__init__.py"):
        if not os.path.isfile(os.path.join(ROOT, required)):
            return fail(f"{required} not found under {ROOT}; run from a full checkout")
    if not args.self_check and not args.workload:
        return fail("--workload is required")

    sys.path[:0] = [ROOT, HERE]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # every file Spark and the JVMs it launches write stays in the checkout
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["TMPDIR"] = tmp
    if args.self_check:
        return self_check(args)

    import datagen
    import oracles
    import workloads

    started = time.perf_counter()
    data_dir = datagen.ensure_data(os.path.join(WORK, "data"))
    expected = oracles.ensure_expected(data_dir, CONFIG["workloads"][args.workload].get("queries", []))
    out_dir = os.path.join(WORK, "runs", f"{args.workload}-s{args.seed}-t{args.trace}")
    os.makedirs(out_dir, exist_ok=True)

    ctx = Context(args, data_dir, out_dir, expected)
    workload = workloads.get(args.workload)
    phases = {"prepare_s": time.perf_counter() - started}
    set_up(ctx, workload)
    phases["setup_s"] = time.perf_counter() - started - phases["prepare_s"]
    try:
        workload.run(ctx)
        phases["workload_s"] = time.perf_counter() - started - sum(phases.values())
        e2e, extra = summarize(ctx, workload, started)
    finally:
        workload.stop(ctx.state)
        ctx.spark.stop()
        stop_jvm()

    checks = [op for op in ctx.ops if op.get("check")]
    counted = [op for op in ctx.ops if op.get("timed") or op.get("check")]
    failed = sum(1 for op in counted if op.get("error") or op.get("wrong"))
    attempted = len(counted)
    correct = bool(checks) and failed == 0
    per_layer = extra["per_layer"]
    summary = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "fail_ratio": failed / attempted,
        "checks": len(checks),
        "end_to_end": e2e,
        "per_layer": per_layer,
        "setup": ctx.setup,
        "phases": phases,
        **extra["info"],
    }
    with open(os.path.join(out_dir, "summary.json"), "w") as fh:
        json.dump(summary, fh, indent=1)
    with open(os.path.join(out_dir, "ops.jsonl"), "w") as fh:
        for op in ctx.ops:
            fh.write(json.dumps(op) + "\n")
    ctx.tracer.dump(os.path.join(out_dir, "spans.jsonl"))

    shown = _metrics("per_layer" if args.trace else "end_to_end")
    values = per_layer if args.trace else e2e
    # untraced runs also print throughput and latencies, which
    # BENCHMARK.json lists as per-layer metrics (see workloads.json
    # metric_notes)
    units = {**_metrics("per_layer"), **_metrics("end_to_end")}
    for name in shown if args.trace else e2e:
        print(f"{name} = {values[name]:.6g} {units[name]}")
    print(f"fail_ratio = {failed / attempted:.6g} ({failed}/{attempted}); "
          f"checks = {len(checks)}; tail = p{extra['info']['tail_percentile']:.1f} "
          f"of {extra['info']['tail_samples']} ({extra['info']['tail_samples_beyond']} beyond); "
          f"records in {os.path.relpath(out_dir, ROOT)}")
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {name: {"value": values[name], "unit": unit} for name, unit in shown.items()},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
