"""OLAP workload: the registry's ``headline`` queries (the set
``bench.py`` times) over seeded TPC-H-ish tables.

One operation builds a query's DataFrame with its ``QuerySpec.fn`` and
fully materializes it into the noop sink. The seed permutes the query
order in every pass. Correctness: in the warm-up pass every query's
rows are collected and, after the timed passes, compared exactly
(sorted, normalized rows) with the registry's DuckDB oracle over the
same parquet files.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import math
import os
import re

import numpy as np

import gen
from harness import Ctx, Op, Sample, Workload, exec_totals, job_seconds

SIZES = {"full": 0.01, "tiny": 0.001}

LAYER_KEYS = [
    "operators.build_s",
    "operators.build_py4j_calls",
    "operators.eager_jobs",
    "operators.eager_job_s",
    "operators.self_s",
    "io.load_calls",
    "io.scan_misses",
    "io.load_s",
    "catalyst.plan_s",
    "catalyst.exchanges",
    "catalyst.broadcasts",
    "exec.s",
    "exec.jobs",
    "exec.stages",
    "exec.tasks",
    "exec.failed_tasks",
    "exec.run_ms",
    "exec.cpu_ms",
    "exec.gc_ms",
    "exec.deser_ms",
    "exec.fetch_wait_ms",
    "exec.shuffle_read_bytes",
    "exec.shuffle_write_bytes",
    "exec.spill_bytes",
    "exec.input_bytes",
]

_EXCHANGE = re.compile(r"\b(?:ShuffleExchange|Exchange)\b")


def _norm(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    if hasattr(v, "asDict"):
        return _norm(tuple(v))
    return v


def result_digest(cols: list[str], rows) -> tuple[int, str]:
    """(row count, sha256) of a result with columns in name order,
    cells normalized and rows sorted: equal digests mean the same
    multiset of rows, bit for bit."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    data = sorted(
        (repr(tuple(_norm(r[i]) for i in order)) for r in rows)
    )
    h = hashlib.sha256()
    h.update(repr(sorted(cols)).encode())
    for line in data:
        h.update(line.encode())
        h.update(b"\n")
    return len(data), h.hexdigest()


class Olap(Workload):
    PASS_SECONDS = 10.5

    def __init__(self, ctx: Ctx):
        super().__init__(ctx)
        self.sf = SIZES[ctx.size]
        self.data = os.path.join(ctx.work, "tables")
        self.rng = np.random.default_rng([ctx.seed, 10])
        self.spark_digests: dict[str, tuple] = {}
        self.failures: dict[str, str] = {}

    # -- set-up ------------------------------------------------------------

    def setup(self, specs: dict) -> None:
        self.specs = specs
        self.names = sorted(n for n, s in specs.items() if "headline" in s.tags)
        gen.write_tables(self.data, self.ctx.seed, self.sf)
        # Warm-up pass: build and collect every query once (JVM codegen,
        # Python workers, broadcast paths), keeping the rows' digest
        # for the oracle check.
        for name in self.names:
            try:
                df = specs[name].fn(self.ctx.spark, self.data)
                self.spark_digests[name] = result_digest(df.columns, df.collect())
            except Exception as e:  # reported per query, not raised
                self.failures[name] = f"spark side raised: {e!r}"[:500]
            self.ctx.spark.catalog.clearCache()

    # -- operations --------------------------------------------------------

    def make_pass(self, _p: int) -> list[Op]:
        order = self.rng.permutation(len(self.names))
        return [Op(self.names[i], "query", self._query(self.names[i])) for i in order]

    def _query(self, name: str):
        spark, tracer = self.ctx.spark, self.ctx.tracer
        fn = self.specs[name].fn

        def run():
            with tracer.span("operators.build"):
                df = fn(spark, self.data)
            if tracer.on:
                with tracer.span("catalyst.plan") as s:
                    plan = df._jdf.queryExecution().executedPlan().toString()
                    s.attrs["exchanges"] = len(_EXCHANGE.findall(plan))
                    s.attrs["broadcasts"] = plan.count("BroadcastExchange")
            with tracer.span("exec"):
                df.write.format("noop").mode("overwrite").save()
            spark.catalog.clearCache()

        return run

    def trace_layer(self, op: Op, sample: Sample) -> None:
        tr = self.ctx.tracer
        root = tr.spans[sample.layer["root_span"]]
        by_name: dict[str, list] = {}
        for s in tr.spans[root.id :]:
            if s.op == root.op:
                by_name.setdefault(s.name, []).append(s)
        build = by_name["operators.build"][0]
        plan = by_name.get("catalyst.plan", [None])[0]
        ex = by_name["exec"][0]
        loads = by_name.get("io.load_table", [])
        jobs = self.ctx.status.new_jobs()
        eager = [j for j in jobs if j["submissionTime"] <= build.epoch_end * 1000.0]
        final = [j for j in jobs if j["submissionTime"] > build.epoch_end * 1000.0]
        t = exec_totals(self.ctx.status.stage_attempts(final))
        L = sample.layer
        L["operators.build_s"] = build.dur
        L["operators.build_py4j_calls"] = build.py4j
        L["operators.eager_jobs"] = len(eager)
        L["operators.eager_job_s"] = job_seconds(eager)
        L["operators.self_s"] = tr.self_time(build)
        L["io.load_calls"] = len(loads)
        L["io.scan_misses"] = sum(s.attrs.get("miss", 0) for s in loads)
        L["io.load_s"] = sum(s.dur for s in loads)
        if plan is not None:
            L["catalyst.plan_s"] = plan.dur
            L["catalyst.exchanges"] = plan.attrs["exchanges"]
            L["catalyst.broadcasts"] = plan.attrs["broadcasts"]
        L["exec.s"] = ex.dur
        L["exec.jobs"] = len(final)
        for k, v in t.items():
            L["exec." + k] = v

    # -- correctness -------------------------------------------------------

    def check(self) -> dict[str, str]:
        """Compare each warm-up result with the DuckDB oracle. Returns
        {query: reason} for every query that failed."""
        import duckdb

        from engine.io import TABLES, table_path

        con = duckdb.connect()
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(self.data, t)}')")
        failures = dict(self.failures)
        for name in self.names:
            if name in failures:
                continue
            oracle = self.specs[name].oracle
            if oracle is None:
                failures[name] = "no oracle"
                continue
            rel = con.sql(oracle)
            want = result_digest(list(rel.columns), rel.fetchall())
            got = self.spark_digests[name]
            if got != want:
                failures[name] = f"oracle mismatch: spark rows={got[0]} duckdb rows={want[0]}"
        con.close()
        return failures
