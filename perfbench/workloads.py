"""The query workloads: cold builds and ``noop`` executions of a fixed
query set, one client thread, whole passes in a seeded order.

An op is ``queries()[name](spark, data)`` (plan construction plus every
plan-build job) followed by a ``noop`` write (execution), with tiling's
literal memo cleared first so every op is cold. Between ops, outside the
timer, the DataFrame is dropped and a Python and a JVM collection run
(the hygiene ``bench.py`` keeps); their time is recorded as cleanup.

Untimed warm passes of the same ops come first and let the JIT settle.
In the first of them each query's DataFrame is also collected after its
``noop`` write (executing it once more) and compared with its oracle.
"""

from __future__ import annotations

import gc
import time

import checks
from layers import median, paired_overhead, traced_slot

SCHEMA_JOB = "parquet at "
CHECKPOINT_JOB = "localCheckpoint at "


def get(name: str):
    if name == "lakehouse_service":
        import service

        return service.ServiceWorkload()
    return QueryWorkload()


def cleanup(spark) -> float:
    t0 = time.perf_counter()
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    return time.perf_counter() - t0


class QueryWorkload:
    def start(self, ctx, spark):
        import __spark_entry__ as entry
        from ensembl_lakehouse_spark.catalog import Catalog

        return {"queries": entry.queries(), "catalog": Catalog(spark)}

    def stop(self, state) -> None:
        pass

    # -- ops ------------------------------------------------------------

    def _check(self, ctx, name: str, df) -> dict:
        """Collect ``df`` (executing it once more) and compare the output
        with the query's oracle."""
        rec = {"op": f"check-{name}", "query": name, "check": True}
        try:
            if name in ctx.expected:
                got = checks.spark_digest(df)
                rec["got"] = list(got)
                rec["expected"] = list(ctx.expected[name])
                rec["wrong"] = got != tuple(ctx.expected[name])
            elif name == "embedding_pca":
                from ensembl_lakehouse_spark.operators import decomposition as DC

                rows = [r.asDict() for r in df.collect()]
                rec["problems"] = checks.pca_problems(
                    rows, ctx.data, DC.PCA_SCALE, DC.PCA_COMPONENTS
                )
                rec["wrong"] = bool(rec["problems"])
            else:
                raise RuntimeError(f"no output check for {name}")
        except Exception as exc:  # counted in fail_ratio
            rec["error"] = f"{type(exc).__name__}: {exc}"[:500]
        return ctx.record(rec)

    def _op(self, ctx, name: str, op_id: str, traced: bool, timed: bool = True, check: bool = False) -> dict:
        from ensembl_lakehouse_spark.operators import tiling

        fn = ctx.state["queries"][name]
        jobs, tracer = ctx.jobs, ctx.tracer
        rec = {"op": op_id, "query": name, "class": name, "timed": timed, "traced": traced}
        tiling._LITERAL_CACHE.clear()
        tracer.enabled = traced
        df = None
        try:
            with tracer.span("op", op_id, query=name):
                if traced:
                    jobs.set_group(f"{op_id}.build")
                t0 = time.perf_counter()
                with tracer.span("operators.build", op_id):
                    df = fn(ctx.spark, ctx.data)
                t1 = time.perf_counter()
                if traced:
                    jobs.set_group(f"{op_id}.exec")
                with tracer.span("exec", op_id):
                    df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
            rec.update(latency_s=t2 - t0, build_s=t1 - t0, exec_s=t2 - t1)
        except Exception as exc:  # counted in fail_ratio
            rec["error"] = f"{type(exc).__name__}: {exc}"[:500]
        finally:
            if traced:
                jobs.set_group(None)
        if check:
            self.checked[name] = (
                self._check(ctx, name, df)
                if "error" not in rec
                else ctx.record({"op": f"check-{name}", "query": name, "check": True, "error": rec["error"]})
            )
        df = None
        with tracer.span("exec.cleanup", op_id):
            rec["cleanup_s"] = cleanup(ctx.spark)
        if traced and "error" not in rec:
            jobs.drain()
            rec["build"] = jobs.read(f"{op_id}.build")
            rec["exec"] = jobs.read(f"{op_id}.exec")
        tracer.enabled = False
        return ctx.record(rec)

    def run(self, ctx) -> None:
        names = list(ctx.cfg["queries"])
        self.checked: dict[str, dict] = {}
        for w in range(ctx.cfg["warm_passes"]):
            for name in ctx.rng.sample(names, len(names)):
                self._op(ctx, name, f"warm{w}.{name}", False, timed=False, check=w == 0)
        # traced runs take traced_passes (whole blocks of four, see
        # traced_slot, where a pass is short enough)
        min_passes = ctx.cfg["min_passes"]
        if ctx.args.trace:
            min_passes = max(min_passes, ctx.cfg["traced_passes"])
        t_start = time.perf_counter()
        passes = 0
        while passes < min_passes or time.perf_counter() - t_start < ctx.args.seconds:
            for i, name in enumerate(ctx.rng.sample(names, len(names))):
                # traced runs trace half the queries in each pass (odd
                # queries in the complementary pattern), each query in half
                # the passes; the overhead compares each query's traced ops
                # with its own untraced ops
                traced = bool(ctx.args.trace) and traced_slot(passes) != bool(names.index(name) % 2)
                self._op(ctx, name, f"p{passes}.{i}", traced)
            passes += 1
        # a query whose output is wrong makes every op of it wrong
        wrong = {n for n, c in self.checked.items() if c.get("wrong") or c.get("error")}
        for op in ctx.ops:
            if op.get("timed") and op["query"] in wrong:
                op["wrong"] = True

    # -- per-layer -------------------------------------------------------

    def layers(self, ctx, timed: list[dict]) -> dict:
        """Per-pass layer totals: each query's median over its traced
        ops, summed over the query set."""
        traced = [op for op in timed if op.get("traced") and "build" in op]
        untraced = [op for op in timed if not op.get("traced") and "latency_s" in op]
        if not traced:
            return {}
        by_query: dict[str, list[dict]] = {}
        for op in traced:
            by_query.setdefault(op["query"], []).append(op)

        def per_pass(fn) -> float:
            return sum(
                median([fn(op) for op in ops]) for ops in by_query.values()
            )

        def build_jobs_named(op, prefix):
            return [s for n, s in zip(op["build"]["job_names"], op["build"]["job_s"]) if n.startswith(prefix)]

        exec_s = per_pass(lambda op: op["exec_s"])
        exec_task = per_pass(lambda op: op["exec"]["task_s"])
        out = {
            "sources.schema_jobs": per_pass(lambda op: len(build_jobs_named(op, SCHEMA_JOB))),
            "sources.schema_s": per_pass(lambda op: sum(build_jobs_named(op, SCHEMA_JOB))),
            "operators.construct_s": per_pass(
                lambda op: max(0.0, op["build_s"] - sum(op["build"]["job_s"]))
            ),
            "operators.build_s": per_pass(lambda op: op["build_s"]),
            "operators.build_jobs": per_pass(lambda op: op["build"]["jobs"]),
            "operators.checkpoint_jobs": per_pass(
                lambda op: len(build_jobs_named(op, CHECKPOINT_JOB))
            ),
            "operators.build_task_s": per_pass(lambda op: op["build"]["task_s"]),
            "exec.s": exec_s,
            "exec.jobs": per_pass(lambda op: op["exec"]["jobs"]),
            "exec.stages": per_pass(lambda op: op["exec"]["stages"]),
            "exec.task_s": exec_task,
            "exec.shuffle_write_bytes": per_pass(lambda op: op["exec"]["shuffle_write_bytes"]),
            "exec.spill_bytes": per_pass(lambda op: op["exec"]["spill_bytes"]),
            "exec.core_busy": exec_task / (exec_s * ctx.cores) if exec_s else 0.0,
            "exec.cleanup_s": per_pass(lambda op: op["cleanup_s"]),
        }
        out["trace.latency_p50_s"] = median([op["latency_s"] for op in traced])
        overhead = paired_overhead(traced + untraced, "query")
        if overhead is not None:
            out["trace.overhead_s"] = overhead
        return out
