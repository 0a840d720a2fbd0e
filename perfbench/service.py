"""The ``lakehouse_service`` workload: reads through the HTTP API beside
snapshot commits and rollup maintenance.

One client thread, one localhost ``http.client`` connection to an
in-process ``ApiServer``, closed loop. Each round:

1. a read in one of the reference's recorded request shapes, in the
   fixed ``read_cycle`` order: a ``fields=*`` full slice of
   ``/query/customer/{segment}``, a two-field ``/query/lineitem/{flag}``
   projection with a seeded range condition, a ``/sql`` submission with
   seeded predicates, a ``fields=*`` point lookup by identifier
   equality, or a repeat of an earlier ``/query`` submission (served by
   the semantic cache); then status polls at a fixed interval until
   SUCCEEDED;
2. a preview, and exports in parquet, csv and json, each polled until
   DONE;
3. a snapshot append of a seeded batch (every ``merge_every``-th round a
   merge), then ``ivm.maintain_rollup``, then a rollup-answered
   ``/table/sales/aggregate``;
4. every ``compact_every`` rounds, ``compact`` and ``vacuum``.

Outputs are checked outside the timers: preview and export row counts
against DuckDB counts on the same tables, every aggregate against the
benchmark's own model of the table, and, at the end, a rollup-answered
aggregate against a ``rewrite=off`` base recount.
"""

from __future__ import annotations

import http.client
import json
import os
import shutil
import time
from urllib.parse import urlencode

import pyarrow as pa
import pyarrow.parquet as pq

import checks
import datagen
from layers import median, paired_overhead, traced_slot

LINEITEM_FIELDS = (
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
    "l_extendedprice", "l_discount", "l_tax", "l_linestatus", "l_shipdate",
)
FORMATS = ("parquet", "csv", "json")
GROUP = ["flag", "status"]
AGG_PATH = "/table/sales/aggregate?" + urlencode(
    {"group_by": "flag,status", "aggs": "n=count,total=sum:price"}
)
RECOUNT_SQL = (
    "SELECT flag, status, count(*) AS n, sum(price) AS total "
    "FROM snap_sales GROUP BY flag, status"
)
TRACED_METHODS = (
    "submit_query", "submit_sql", "submit_table_aggregate",
    "query_status", "query_preview", "export",
)


def _tree_files(root: str) -> dict[str, int]:
    out = {}
    for base, _, files in os.walk(root):
        for f in files:
            p = os.path.join(base, f)
            out[p] = os.path.getsize(p)
    return out


def _artifact_rows(path: str, fmt: str) -> int:
    if fmt == "parquet":
        return pq.read_table(path).num_rows
    parts = sorted(
        os.path.join(path, f) for f in os.listdir(path) if f.startswith("part-")
    )
    rows = 0
    for p in parts:
        with open(p, "rb") as fh:
            n = sum(1 for line in fh if line.strip())
        rows += n - 1 if fmt == "csv" and n else n
    return rows


class Client:
    """GETs over one ``http.client`` connection (reopened by
    ``http.client`` whenever the server closes it)."""

    def __init__(self, port: int, tracer):
        self.conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
        self.tracer = tracer
        #: span id of the request in flight, the op id of the engine spans
        self.current: int | None = None

    def get(self, path: str, op: str) -> tuple[int, dict]:
        with self.tracer.span("api.http", op, path=path.split("?")[0]) as span:
            self.current = span["id"] if span else None
            self.conn.request("GET", path)
            resp = self.conn.getresponse()
            body = resp.read()
            self.current = None
        return resp.status, json.loads(body)

    def close(self) -> None:
        self.conn.close()


class ServiceWorkload:
    def start(self, ctx, spark):
        from ensembl_lakehouse_spark.api.http import ApiServer
        from ensembl_lakehouse_spark.engine import Engine

        work = os.path.join(ctx.out_dir, "work")
        shutil.rmtree(work, ignore_errors=True)
        engine = Engine(spark, work_dir=os.path.join(work, "engine"))
        server = ApiServer(engine, port=0, default_sf_dir=ctx.data).start()
        return {"engine": engine, "server": server, "work": work, "catalog": engine.catalog}

    def stop(self, state) -> None:
        state["server"].stop()
        state["engine"].close()

    # -- inputs ----------------------------------------------------------

    def _rows(self, ctx, keys) -> list[tuple]:
        rng = ctx.rng
        return [
            (k, rng.choice("ANR"), rng.choice("FO"), rng.randint(1, 50), rng.randint(100, 10_000_000))
            for k in keys
        ]

    def _frame(self, ctx, rows):
        table = pa.table(
            {
                "k": pa.array([r[0] for r in rows], pa.int64()),
                "flag": pa.array([r[1] for r in rows]),
                "status": pa.array([r[2] for r in rows]),
                "qty": pa.array([r[3] for r in rows], pa.int64()),
                "price": pa.array([r[4] for r in rows], pa.int64()),
            }
        )
        buf = pa.BufferOutputStream()
        pq.write_table(table, buf)
        return ctx.spark.createDataFrame(table.to_pandas()), buf.getvalue().size

    def _read_request(self, ctx, rnd: int) -> dict:
        """The round's read: the shape follows the fixed ``read_cycle``
        (the reference's recorded request shapes, ``read_shapes`` in
        workloads.json); the seed picks keys, fields, thresholds and
        which request repeats."""
        rng, cfg = ctx.rng, ctx.cfg
        kind = cfg["read_cycle"][rnd % len(cfg["read_cycle"])]
        if kind == "repeat":
            return dict(rng.choice(self.query_requests), repeat=True)
        if kind == "sql":
            status = rng.choice("FOP")
            price = round(rng.uniform(*cfg["sql_price_range"]), 2)
            where = f"o_orderstatus = '{status}' AND o_totalprice > {price}"
            sql = f"SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority FROM orders WHERE {where}"
            count_sql = f"SELECT count(*) FROM orders WHERE {where}"
            path = "/sql?" + urlencode({"query": sql})
        elif kind == "full":
            segment = self.segments[self.full_reads % len(self.segments)]
            self.full_reads += 1
            count_sql = f"SELECT count(*) FROM customer WHERE c_mktsegment = '{segment}'"
            path = f"/query/customer/{segment}?" + urlencode({"fields": "*", "condition": ""})
        elif kind == "point":
            # the first line at or after a seeded order key
            key, line, flag = self.duck.execute(
                "SELECT l_orderkey, l_linenumber, l_returnflag FROM lineitem WHERE l_orderkey >= ? "
                "ORDER BY l_orderkey, l_linenumber LIMIT 1", [rng.randrange(self.max_orderkey + 1)]
            ).fetchone()
            condition = f"l_orderkey = {key} AND l_linenumber = {line}"
            count_sql = f"SELECT count(*) FROM lineitem WHERE l_returnflag = '{flag}' AND {condition}"
            path = f"/query/lineitem/{flag}?" + urlencode({"fields": "*", "condition": condition})
        else:
            flag = rng.choice("ANR")
            fields = sorted(rng.sample(LINEITEM_FIELDS, 2))
            condition = f"l_quantity > {round(rng.uniform(*cfg['projection_qty_range']), 2)}"
            count_sql = f"SELECT count(*) FROM lineitem WHERE l_returnflag = '{flag}' AND {condition}"
            path = f"/query/lineitem/{flag}?" + urlencode(
                {"fields": ",".join(fields), "condition": condition}
            )
        req = {"kind": kind, "path": path, "rows": self.duck.execute(count_sql).fetchone()[0]}
        if kind != "sql":
            self.query_requests.append(req)
        return req

    # -- HTTP helpers ----------------------------------------------------

    def _poll(self, path: str, op: str, done, timeout_s: float = 120.0) -> tuple[dict, int]:
        deadline = time.perf_counter() + timeout_s
        polls = 0
        while True:
            status, body = self.client.get(path, op)
            polls += 1
            if done(status, body):
                return body, polls
            if time.perf_counter() > deadline:
                raise TimeoutError(f"{path} still {body} after {timeout_s} s")
            time.sleep(self.poll_s)

    def _wait_query(self, qid: str, op: str) -> tuple[dict, int]:
        return self._poll(
            f"/query/{qid}/status", op,
            lambda s, b: b.get("status") in ("SUCCEEDED", "FAILED", "CANCELLED"),
        )

    def _preview_rows(self, qid: str, op: str, n: int = 26) -> list[list[str]]:
        status, body = self.client.get(f"/query/{qid}/preview?maxResults={n}", op)
        if status != 200 or "Rows" not in body:
            raise RuntimeError(f"preview failed: {status} {body}")
        return [[c.get("VarCharValue") for c in r["Data"]] for r in body["Rows"]]

    # -- one round -------------------------------------------------------

    def _timed(self, ctx, rec: dict, fn):
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception as exc:  # counted in fail_ratio
            rec["error"] = f"{type(exc).__name__}: {exc}"[:500]
            out = None
        rec["latency_s"] = time.perf_counter() - t0
        ctx.record(rec)
        return out

    def _read_ops(self, ctx, rnd: int) -> None:
        req = self._read_request(ctx, rnd)
        op = f"r{rnd}.read"
        rec = {"op": op, "kind": "read", "class": "read-hit" if req.get("repeat") else f"read-{req['kind']}",
               "repeat": bool(req.get("repeat")), **self.mark}

        def submit_and_wait():
            status, body = self.client.get(req["path"], op)
            if status != 200:
                raise RuntimeError(f"submit {status}: {body}")
            qid = body["query_id"]
            rec["query_id"] = qid
            rec["cache_hit"] = qid in self.seen_ids
            self.seen_ids.add(qid)
            final, rec["polls"] = self._wait_query(qid, op)
            if final["status"] != "SUCCEEDED":
                raise RuntimeError(f"query {final}")
            return qid

        qid = self._timed(ctx, rec, submit_and_wait)
        if qid is None:
            return
        expected = req["rows"]
        prev = {"op": f"r{rnd}.preview", "kind": "preview", "class": "preview", **self.mark}
        rows = self._timed(ctx, prev, lambda: self._preview_rows(qid, prev["op"]))
        if rows is not None:
            prev["wrong"] = len(rows) - 1 != min(25, expected)
        for fmt in FORMATS:
            exp = {"op": f"r{rnd}.export.{fmt}", "kind": "export", "format": fmt,
                   "class": f"export-{fmt}-{'cached' if req.get('repeat') else 'fresh'}", **self.mark}

            def export():
                path = f"/query/{qid}/export?file_format={fmt}"
                body, polls = self._poll(
                    path, exp["op"], lambda s, b: s != 202 or b.get("status") not in ("QUEUED", "PROCESSING")
                )
                exp["fresh"] = polls > 1
                if body.get("status") != "DONE":
                    raise RuntimeError(f"export {body}")
                return body["result"]

            artifact = self._timed(ctx, exp, export)
            if artifact is not None:
                exp["bytes"] = sum(_tree_files(artifact).values()) if os.path.isdir(artifact) else os.path.getsize(artifact)
                exp["rows"] = _artifact_rows(artifact, fmt)
                exp["wrong"] = exp["rows"] != expected

    def _write_ops(self, ctx, rnd: int) -> None:
        import ensembl_lakehouse_spark.ivm as ivm
        import ensembl_lakehouse_spark.snapshots as SN

        cfg, jobs = ctx.cfg, ctx.jobs
        traced = self.mark["traced"]
        merge = (rnd + 1) % cfg["merge_every"] == 0
        n = cfg["batch_rows"]
        new_keys = range(self.next_key, self.next_key + (n // 2 if merge else n))
        self.next_key += len(new_keys)
        keys = list(new_keys)
        if merge:
            keys += ctx.rng.sample(sorted(self.model), n - len(keys))
        rows = self._rows(ctx, keys)
        df, user_bytes = self._frame(ctx, rows)
        before = _tree_files(self.table)

        op = f"r{rnd}.commit"
        rec = {"op": op, "kind": "commit", "merge": merge,
               "class": "commit-merge" if merge else "commit-append", **self.mark}
        if traced:
            jobs.set_group(op)
        with ctx.tracer.span("snapshots.commit", op):
            if merge:
                self._timed(ctx, rec, lambda: SN.merge_snapshot(ctx.spark, self.table, df, key="k"))
            else:
                self._timed(ctx, rec, lambda: SN.write_snapshot(self.table, df, mode="append"))
        commit_start = time.perf_counter() - rec["latency_s"]
        if traced:
            jobs.set_group(None)
            jobs.drain()
            rec["jobs"] = jobs.read(op)["jobs"]
        after = _tree_files(self.table)
        written = {p: s for p, s in after.items() if p not in before}
        rec["files_written"] = len(written)
        rec["bytes_written_ratio"] = sum(written.values()) / user_bytes
        if "error" not in rec:
            for r in rows:
                self.model[r[0]] = r

        op = f"r{rnd}.maintain"
        # a maintain after a merge applies deletes and inserts: its own class
        rec = {"op": op, "kind": "maintain", "class": "maintain-merge" if merge else "maintain-append",
               **self.mark}
        if traced:
            jobs.set_group(op)
        with ctx.tracer.span("ivm.maintain", op):
            res = self._timed(
                ctx, rec,
                lambda: ivm.maintain_rollup(ctx.spark, self.table, self.rollup, GROUP, "price"),
            )
        rec["freshness_s"] = time.perf_counter() - commit_start
        rec["mode"] = (res or {}).get("mode")
        if traced:
            jobs.set_group(None)
            jobs.drain()
            rec["jobs"] = jobs.read(op)["jobs"]

        op = f"r{rnd}.aggregate"
        rec = {"op": op, "kind": "aggregate", "class": "aggregate", **self.mark}

        def aggregate():
            status, body = self.client.get(AGG_PATH, op)
            if status != 200:
                raise RuntimeError(f"aggregate {status}: {body}")
            rec["answered_by"] = body.get("answered_by")
            final, _ = self._wait_query(body["query_id"], op)
            if final["status"] != "SUCCEEDED":
                raise RuntimeError(f"aggregate {final}")
            return body["query_id"]

        qid = self._timed(ctx, rec, aggregate)
        if qid is not None:
            got = self._groups(self._preview_rows(qid, op))
            rec["wrong"] = got != self._model_groups()
            self.last_rollup_answer = got if rec["answered_by"] not in (None, "base") else self.last_rollup_answer

        if (rnd + 1) % cfg["compact_every"] == 0:
            op = f"r{rnd}.compact"
            rec = {"op": op, "kind": "compact", "class": "compact", **self.mark}
            with ctx.tracer.span("snapshots.compact", op):
                self._timed(ctx, rec, lambda: SN.compact(ctx.spark, self.table, target_files=1))
            op = f"r{rnd}.vacuum"
            rec = {"op": op, "kind": "vacuum", "class": "vacuum", **self.mark}
            before = _tree_files(self.table)
            with ctx.tracer.span("snapshots.vacuum", op):
                self._timed(ctx, rec, lambda: SN.vacuum(self.table, keep_versions=2))
            rec["files_removed"] = len(set(before) - set(_tree_files(self.table)))

    @staticmethod
    def _groups(rows: list[list[str]]) -> dict:
        hdr = rows[0]
        return {
            (r[hdr.index("flag")], r[hdr.index("status")]): (int(r[hdr.index("n")]), int(r[hdr.index("total")]))
            for r in rows[1:]
        }

    def _model_groups(self) -> dict:
        out: dict = {}
        for _, flag, status, _, price in self.model.values():
            n, total = out.get((flag, status), (0, 0))
            out[(flag, status)] = (n + 1, total + price)
        return out

    # -- the workload loop ----------------------------------------------------

    def _prepare(self, ctx) -> None:
        import ensembl_lakehouse_spark.ivm as ivm
        import ensembl_lakehouse_spark.snapshots as SN

        engine = ctx.state["engine"]
        tables = os.path.join(ctx.state["work"], "tables")
        self.table = os.path.join(tables, "sales")
        self.rollup = os.path.join(tables, "sales_by_flag_status")
        base = self._rows(ctx, range(ctx.cfg["base_rows"]))
        self.model = {r[0]: r for r in base}
        self.next_key = ctx.cfg["base_rows"]
        df, _ = self._frame(ctx, base)
        SN.write_snapshot(self.table, df)
        ivm.maintain_rollup(ctx.spark, self.table, self.rollup, GROUP, "price")
        engine.register_snapshot_table("sales", self.table)
        engine.register_rollup("sales", "sales_by_flag_status", self.rollup, GROUP, "price")

    def run(self, ctx) -> None:
        self.poll_s = ctx.cfg["poll_interval_s"]
        self.query_requests: list[dict] = []
        self.seen_ids: set[str] = set()
        self.last_rollup_answer = None
        self.duck = checks.duckdb_conn(ctx.data, datagen.TABLES, threads=1)
        # full slices take the five segments in a seeded order, each once
        # before any comes again
        self.segments = [r[0] for r in self.duck.execute(
            "SELECT DISTINCT c_mktsegment FROM customer ORDER BY 1").fetchall()]
        ctx.rng.shuffle(self.segments)
        self.full_reads = 0
        self.max_orderkey = self.duck.execute("SELECT max(l_orderkey) FROM lineitem").fetchone()[0]
        self._prepare(ctx)
        engine = ctx.state["engine"]
        self.client = Client(ctx.state["server"].port, ctx.tracer)
        client = self.client
        if ctx.args.trace:
            for name in TRACED_METHODS:
                ctx.tracer.wrap(engine, name, f"engine.{name}", lambda *a, **k: client.current)

        # warm-up rounds run and check everything but are not timed
        warm = ctx.cfg["warm_rounds"]
        min_rounds = warm + ctx.cfg["traced_rounds" if ctx.args.trace else "min_rounds"]
        t_start = None
        rnd = 0
        while rnd < min_rounds or time.perf_counter() - t_start < ctx.args.seconds:
            if rnd == warm:
                t_start = time.perf_counter()
            timed = rnd >= warm
            # traced runs trace rounds in the pattern of traced_slot
            traced = timed and bool(ctx.args.trace) and traced_slot(rnd - warm)
            self.mark = {"timed": timed, "check": not timed, "traced": traced}
            ctx.tracer.enabled = traced
            self._read_ops(ctx, rnd)
            self._write_ops(ctx, rnd)
            ctx.tracer.enabled = False
            rnd += 1
        self._final_checks(ctx)
        client.close()
        self.duck.close()

    def _final_checks(self, ctx) -> None:
        import ensembl_lakehouse_spark.ivm as ivm
        import ensembl_lakehouse_spark.snapshots as SN

        rec = {"op": "check-recount", "kind": "recount", "check": True}
        try:
            _, body = self.client.get(
                "/sql?" + urlencode({"query": RECOUNT_SQL, "rewrite": "off"}), rec["op"]
            )
            self._wait_query(body["query_id"], rec["op"])
            base = self._groups(self._preview_rows(body["query_id"], rec["op"]))
            rec["wrong"] = (
                self.last_rollup_answer is None
                or base != self.last_rollup_answer
                or base != self._model_groups()
            )
        except Exception as exc:
            rec["error"] = f"{type(exc).__name__}: {exc}"[:500]
        ctx.record(rec)

        # space amplification: bytes on disk ÷ one fresh copy of the content
        fresh = os.path.join(ctx.state["work"], "fresh")
        SN.read_snapshot(ctx.spark, self.table).write.mode("overwrite").parquet(os.path.join(fresh, "t"))
        ivm.read_rollup(ctx.spark, self.rollup).write.mode("overwrite").parquet(os.path.join(fresh, "r"))
        fresh_bytes = sum(_tree_files(fresh).values())
        on_disk = sum(_tree_files(self.table).values()) + sum(_tree_files(self.rollup).values())
        self.space_amp = on_disk / fresh_bytes

    # -- per-layer -------------------------------------------------------

    def layers(self, ctx, timed: list[dict]) -> dict:
        ok = [op for op in timed if "error" not in op]
        kind = lambda k: [op for op in ok if op["kind"] == k]  # noqa: E731
        reads = kind("read")
        misses = [op for op in reads if not op.get("cache_hit")]
        hits = [op for op in reads if op.get("cache_hit")]
        fresh_exports = [op for op in kind("export") if op.get("fresh")]
        aggs = kind("aggregate")
        maint = kind("maintain")
        out = {
            "result_p50_s": median(op["latency_s"] for op in misses),
            "cache_hit_p50_s": median(op["latency_s"] for op in hits),
            "export_p50_s": median(op["latency_s"] for op in fresh_exports),
            "commit_p50_s": median(op["latency_s"] for op in kind("commit")),
            "freshness_p50_s": median(op["freshness_s"] for op in maint),
            "agg_p50_s": median(op["latency_s"] for op in aggs),
            "space_amp": self.space_amp,
            "service.cache_hit_ratio": len(hits) / len(reads) if reads else 0.0,
            "service.polls": median(op["polls"] for op in misses),
            "plans.rewrite_ratio": (
                sum(1 for op in aggs if op.get("answered_by") not in (None, "base")) / len(aggs)
                if aggs else 0.0
            ),
            "ivm.delta_ratio": sum(1 for op in maint if op.get("mode") == "delta") / len(maint) if maint else 0.0,
            "snapshots.files_written": median(op["files_written"] for op in kind("commit")),
            "snapshots.bytes_written": median(op["bytes_written_ratio"] for op in kind("commit")),
            "snapshots.compact_s": median(op["latency_s"] for op in kind("compact")),
            "snapshots.vacuum_files": median(op["files_removed"] for op in kind("vacuum")),
        }
        for fmt in FORMATS:
            out[f"service.export_s.{fmt}"] = median(
                op["latency_s"] for op in fresh_exports if op["format"] == fmt
            )
        by_round: dict[str, int] = {}
        for op in fresh_exports:
            key = op["op"].split(".")[0]
            by_round[key] = by_round.get(key, 0) + op["bytes"]
        out["service.export_bytes"] = median(by_round.values())

        traced = [op for op in ok if op.get("traced")]
        if not traced:
            return out
        tr = ctx.tracer
        spans = [s for s in tr.spans if "end" in s]
        out["service.submit_s"] = median(
            s["end"] - s["start"] for s in spans
            if s["name"] in ("engine.submit_query", "engine.submit_sql", "engine.submit_table_aggregate")
        )
        out["service.preview_s"] = median(tr.durations("engine.query_preview"))
        engine_time: dict[int, float] = {}
        for s in spans:
            if s["name"].startswith("engine.") and s["op"] is not None:
                engine_time[s["op"]] = engine_time.get(s["op"], 0.0) + s["end"] - s["start"]
        out["api.http.self_s"] = median(
            s["end"] - s["start"] - engine_time[s["id"]]
            for s in spans if s["name"] == "api.http" and s["id"] in engine_time
        )
        ctx.jobs.drain()
        results = [ctx.jobs.read(op["query_id"]) for op in misses if op.get("traced")]
        out["service.run_s"] = median(r["span_s"] for r in results)
        out["service.result_jobs"] = median(r["jobs"] for r in results)
        out["service.result_task_s"] = median(r["task_s"] for r in results)
        commits = [op for op in traced if op["kind"] == "commit"]
        out["snapshots.commit_s"] = median(op["latency_s"] for op in commits)
        out["snapshots.commit_jobs"] = median(op["jobs"] for op in commits)
        tmaint = [op for op in traced if op["kind"] == "maintain"]
        out["ivm.maintain_s"] = median(op["latency_s"] for op in tmaint)
        out["ivm.maintain_jobs"] = median(op["jobs"] for op in tmaint)
        out["trace.latency_p50_s"] = median(op["latency_s"] for op in traced)
        overhead = paired_overhead(ok, "class")
        if overhead is not None:
            out["trace.overhead_s"] = overhead
        return out
