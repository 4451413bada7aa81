"""Measurement core: the closed-loop pass runner, the tracer, and the
reader for Spark's in-process status store.

A workload is a sequence of *operations*. One *pass* runs every
operation once, each waiting for the previous one (a closed loop with
one client). A run times a fixed number of passes, each operation from
outside with ``perf_counter``.

Tracing is off for every end-to-end number. In a traced run the
runner alternates untraced and traced passes: the traced ones give the
per-layer numbers, and the difference between the two kinds of pass is
the tracing overhead.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import threading
import time
from collections.abc import Callable, Iterator
from dataclasses import dataclass, field


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def tail(values) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples beyond it:
    returns (value, percentile, sample count). With ten or fewer
    samples there is no such percentile, and the maximum is returned
    with percentile 100."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0
    if n <= 10:
        return xs[-1], 100.0, n
    i = n - 11  # exactly ten samples lie above xs[i]
    return xs[i], round(100.0 * (i + 1) / n, 1), n


# ---------------------------------------------------------------------------
# process memory
# ---------------------------------------------------------------------------


def reset_peak_rss() -> None:
    """Reset this process's VmHWM so the next read covers only what
    follows (Linux ``clear_refs`` mode 5)."""
    with contextlib.suppress(OSError), open("/proc/self/clear_refs", "w") as f:
        f.write("5")


def _status_kib(pid: int | str, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mib() -> float:
    return _status_kib("self", "VmHWM") / 1024.0


def process_tree(pid: int) -> list[int]:
    """``pid`` and all its descendants."""
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        try:
            for task in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{task}/children") as f:
                    todo.extend(int(c) for c in f.read().split())
        except OSError:
            pass
    return out


def tree_rss_mib(pid: int) -> float:
    """Current RSS of ``pid`` plus all its descendants."""
    return sum(_status_kib(p, "VmRSS") for p in process_tree(pid)) / 1024.0


# ---------------------------------------------------------------------------
# tracer
# ---------------------------------------------------------------------------


@dataclass
class Span:
    id: int
    name: str
    op: int | None
    parent: int | None
    start: float  # perf_counter seconds
    end: float = 0.0
    epoch_end: float = 0.0  # time.time() seconds, to match Spark's job clock
    py4j: int = 0  # py4j commands sent while the span was open
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory spans at the layer boundaries the benchmark calls
    into. Off by default; while off, ``span`` costs one attribute read.
    Spans opened on helper threads (the engine's own thread pools)
    take the thread's innermost open span as parent, or the current
    operation's root span."""

    def __init__(self) -> None:
        self.on = False
        self.spans: list[Span] = []
        self.op: int | None = None
        self.root: int | None = None
        self.py4j_calls = 0
        self.parquet_reads = 0
        self._local = threading.local()
        self._lock = threading.Lock()
        self._children: dict[int | None, list[Span]] = {}
        self._children_n = -1

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str, **attrs) -> Iterator[Span | None]:
        if not self.on:
            yield None
            return
        stack = self._stack()
        with self._lock:
            s = Span(
                id=len(self.spans),
                name=name,
                op=self.op,
                parent=stack[-1] if stack else self.root,
                start=time.perf_counter(),
                attrs=attrs,
            )
            self.spans.append(s)
        py4j0 = self.py4j_calls
        stack.append(s.id)
        try:
            yield s
        finally:
            stack.pop()
            s.end = time.perf_counter()
            s.epoch_end = time.time()
            s.py4j = self.py4j_calls - py4j0

    @contextlib.contextmanager
    def operation(self, op_id: int, name: str) -> Iterator[Span | None]:
        self.op = op_id
        with self.span("op", op_name=name) as s:
            self.root = s.id if s else None
            try:
                yield s
            finally:
                self.root = None
                self.op = None

    def children(self, span: Span) -> list[Span]:
        if self._children_n != len(self.spans):
            self._children = {}
            for s in self.spans:
                self._children.setdefault(s.parent, []).append(s)
            self._children_n = len(self.spans)
        return self._children.get(span.id, [])

    def self_time(self, span: Span) -> float:
        """Duration minus the part of it that child spans cover (child
        intervals are merged first, so overlapping helper-thread spans
        are not subtracted twice)."""
        ivals = sorted((c.start, c.end) for c in self.children(span))
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in ivals:
            s, e = max(s, span.start), min(e, span.end)
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return span.dur - covered

    def self_times(self) -> dict[str, float]:
        """Self time summed per layer (the span name's first dotted
        part); the ``op`` root spans give the benchmark's own share."""
        out: dict[str, float] = {}
        for s in self.spans:
            layer = s.name.split(".")[0]
            out[layer] = out.get(layer, 0.0) + self.self_time(s)
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(
                [
                    {
                        "id": s.id,
                        "name": s.name,
                        "op": s.op,
                        "parent": s.parent,
                        "start": s.start,
                        "end": s.end,
                        "self": self.self_time(s),
                        "py4j": s.py4j,
                        **s.attrs,
                    }
                    for s in self.spans
                ],
                f,
            )

    def install_py4j_counter(self) -> None:
        """Count every py4j command the driver sends (the same hook as
        ``tools/count_py4j.py``) and every ``DataFrameReader.parquet``
        call (a scan the engine had to build)."""
        import py4j.java_gateway as jg
        from pyspark.sql.readwriter import DataFrameReader

        send = jg.GatewayClient.send_command
        parquet = DataFrameReader.parquet
        tracer = self

        def counted_send(gw, *a, **kw):
            if tracer.on:
                with tracer._lock:  # the engine's pools send from several threads
                    tracer.py4j_calls += 1
            return send(gw, *a, **kw)

        def counted_parquet(reader, *a, **kw):
            if tracer.on:
                with tracer._lock:
                    tracer.parquet_reads += 1
            return parquet(reader, *a, **kw)

        jg.GatewayClient.send_command = counted_send
        DataFrameReader.parquet = counted_parquet


# ---------------------------------------------------------------------------
# Spark status store (UI off)
# ---------------------------------------------------------------------------


class StatusStore:
    """Jobs and stage attempts from the driver's ``AppStatusStore``,
    which Spark keeps even with the UI disabled. Rows come back as the
    REST API's JSON (serialized JVM-side with Jackson), so one read is
    a few py4j calls. Retention is capped by ``spark.ui.retainedJobs``
    and ``spark.ui.retainedStages``, so read after every operation."""

    def __init__(self, spark) -> None:
        jvm = spark._jvm
        self._store = spark._jsc.sc().statusStore()
        scala_module = getattr(
            getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"), "MODULE$"
        )
        self._json = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._json.registerModule(scala_module)
        self._no_quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)
        self._no_status = jvm.java.util.ArrayList()
        self._last_job = -1

    def new_jobs(self) -> list[dict]:
        """Jobs submitted since the previous call (all finished when
        called between operations)."""
        jobs = json.loads(self._json.writeValueAsString(self._store.jobsList(None)))
        fresh = [j for j in jobs if j["jobId"] > self._last_job]
        if fresh:
            self._last_job = max(j["jobId"] for j in fresh)
        return sorted(fresh, key=lambda j: j["jobId"])

    def stage_attempts(self, jobs: list[dict]) -> list[dict]:
        """Every stage attempt that ran (complete or failed) under
        ``jobs``; a stage shared by several jobs counts once."""
        from py4j.protocol import Py4JJavaError

        out = []
        for sid in sorted({s for j in jobs for s in j.get("stageIds", ())}):
            try:
                data = self._store.stageData(
                    sid, False, self._no_status, False, self._no_quantiles
                )
            except Py4JJavaError:  # evicted or never submitted
                continue
            for att in json.loads(self._json.writeValueAsString(data)):
                if att.get("status") in ("COMPLETE", "FAILED"):
                    out.append(att)
        return out


def job_seconds(jobs: list[dict]) -> float:
    return sum(
        (j["completionTime"] - j["submissionTime"]) / 1000.0
        for j in jobs
        if j.get("completionTime") and j.get("submissionTime")
    )


def stage_seconds(att: dict) -> float:
    if att.get("completionTime") and att.get("submissionTime"):
        return (att["completionTime"] - att["submissionTime"]) / 1000.0
    return 0.0


def exec_totals(stages: list[dict]) -> dict[str, float]:
    """Task metrics summed over stage attempts."""

    def tot(key: str) -> float:
        return float(sum(a.get(key) or 0 for a in stages))

    return {
        "stages": float(len(stages)),
        "tasks": tot("numCompleteTasks") + tot("numFailedTasks"),
        "failed_tasks": tot("numFailedTasks"),
        "run_ms": tot("executorRunTime"),
        "cpu_ms": tot("executorCpuTime") / 1e6,
        "gc_ms": tot("jvmGcTime"),
        "deser_ms": tot("executorDeserializeTime"),
        "fetch_wait_ms": tot("shuffleFetchWaitTime"),
        "shuffle_read_bytes": tot("shuffleReadBytes"),
        "shuffle_write_bytes": tot("shuffleWriteBytes"),
        "spill_bytes": tot("diskBytesSpilled"),
        "input_bytes": tot("inputBytes"),
    }


# ---------------------------------------------------------------------------
# the pass runner
# ---------------------------------------------------------------------------


@dataclass
class Op:
    name: str
    kind: str
    fn: Callable[[], object]
    prepare: Callable[[], object] | None = None  # runs before the timer starts


@dataclass
class Sample:
    pass_no: int  # -1: a traced run's extra warm-up pass; -2: a set-up failure
    traced: bool
    name: str
    kind: str
    seconds: float
    error: str | None = None
    layer: dict = field(default_factory=dict)


@dataclass
class Ctx:
    """What a workload gets from the runner."""

    spark: object
    tracer: Tracer
    status: StatusStore | None
    work: str
    seed: int
    cores: int
    size: str
    corrupt: bool = False  # smoke test: alter one checked output of a timed operation

    def spark_jvm_pid(self) -> int | None:
        gw = self.spark.sparkContext._gateway
        proc = getattr(gw, "proc", None)
        return proc.pid if proc is not None else None


class Workload:
    """One workload: set-up, the operations of a pass, and the checks.
    ``PASS_SECONDS``: a run times round(--seconds / PASS_SECONDS)
    passes, at least 1."""

    PASS_SECONDS = 10.0

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.warmup_errors: dict[str, str] = {}  # operation -> failure

    def setup(self, specs: dict) -> None:
        """Generate inputs and warm up (timed as part of ``setup_s``)."""
        raise NotImplementedError

    def make_pass(self, p: int) -> list[Op]:
        raise NotImplementedError

    def after_op(self, op: Op, out, sample: Sample | None) -> None:
        """Check an operation's output; raise on a wrong one."""

    def trace_layer(self, op: Op, sample: Sample) -> None:
        """Record per-layer values for a traced operation in ``sample.layer``."""

    def check(self) -> dict[str, str]:
        """Checks run after the timed passes: {operation name: failure}."""
        return {}

    def summary(self, samples: list[Sample]) -> dict[str, float]:
        """Workload-specific figures, printed in every run."""
        return {}

    def layer_metrics(self, samples: list[Sample]) -> dict[str, float]:
        """Per-layer metrics that are not per-pass sums."""
        return {}

    def warm(self, op: Op) -> None:
        """Run and check one warm-up operation; a failure is recorded,
        not raised, and counts against the run."""
        import traceback

        try:
            if op.prepare is not None:
                op.prepare()
            self.after_op(op, op.fn(), None)
        except Exception:
            self.warmup_errors[op.name] = traceback.format_exc(limit=8)


def run_passes(
    ctx: Ctx,
    make_pass: Callable[[int], list[Op]],
    after_op: Callable[[Op, object, Sample], None],
    trace_layer: Callable[[Op, Sample], None] | None,
    passes: int,
    traced_run: bool,
) -> list[Sample]:
    """Run ``passes`` whole passes. In a traced run, pass 0 is one more
    warm-up (checked, not measured) and the rest alternate traced and
    untraced in traced/untraced/untraced/traced blocks, so drift across
    the run (the JVM still warming) largely cancels out of the tracing
    overhead. ``after_op`` checks an operation's output outside its timed
    region; an exception from the operation or the check is recorded
    on the sample, never raised. ``trace_layer`` collects per-layer
    data after each traced operation."""
    import traceback

    samples: list[Sample] = []
    op_id = 0
    for p in range(passes):
        traced = traced_run and p > 0 and (p - 1) % 4 in (0, 3)
        if traced and ctx.status is not None:
            ctx.status.new_jobs()  # drop jobs from before this pass
        for op in make_pass(p):
            sample = Sample(-1 if traced_run and p == 0 else p, traced, op.name, op.kind, 0.0)
            out = None
            if op.prepare is not None:
                op.prepare()
            ctx.tracer.on = traced
            with ctx.tracer.operation(op_id, op.name) as root:
                t0 = time.perf_counter()
                try:
                    out = op.fn()
                except Exception:
                    sample.error = traceback.format_exc(limit=8)
                sample.seconds = time.perf_counter() - t0
            ctx.tracer.on = False
            if root is not None:
                sample.layer["root_span"] = root.id
            if sample.error is None:
                try:
                    after_op(op, out, sample)
                except Exception:
                    sample.error = traceback.format_exc(limit=8)
            if traced and trace_layer is not None:
                trace_layer(op, sample)
            samples.append(sample)
            op_id += 1
    return samples


def pass_walls(samples: list[Sample], traced: bool) -> list[float]:
    """Per-pass sum of operation latencies."""
    walls: dict[int, float] = {}
    for s in samples:
        if s.traced == traced and s.pass_no >= 0:
            walls[s.pass_no] = walls.get(s.pass_no, 0.0) + s.seconds
    return list(walls.values())


def pass_totals(samples: list[Sample], keys: list[str]) -> dict[str, float]:
    """Median over traced passes of each per-pass sum of ``keys``."""
    per_pass: dict[int, dict[str, float]] = {}
    for s in samples:
        if s.traced:
            acc = per_pass.setdefault(s.pass_no, {k: 0.0 for k in keys})
            for k in keys:
                acc[k] += float(s.layer.get(k, 0.0))
    return {k: median(p[k] for p in per_pass.values()) for k in keys}
