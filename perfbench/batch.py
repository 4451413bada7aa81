"""Batch-refresh workload: one round of a nightly batch in one session.

A pass runs the four Hadoop-Streaming jobs of ``mr.MapReduce`` over a
seeded corpus (seeded order), then the change stream, reads and
maintenance of ``refresh.Refresh`` against a versioned store. The two
parts share no data, only the session; each keeps its own inputs,
checks and per-layer metrics. They run as one workload so that the
``mapreduce`` and ``store`` layers are both measured within the
benchmark's run budget, which pays a JVM start and a warm-up per run.
"""

from __future__ import annotations

from harness import Ctx, Op, Sample, Workload
from mr import MapReduce
from refresh import Refresh


class BatchRefresh(Workload):
    PASS_SECONDS = 17.0

    def __init__(self, ctx: Ctx):
        super().__init__(ctx)
        self.jobs = MapReduce(ctx)
        self.store = Refresh(ctx)

    def _part(self, op: Op) -> Workload:
        return self.jobs if op.kind == "job" else self.store

    def setup(self, specs: dict) -> None:
        self.jobs.setup(specs)
        self.store.setup(specs)
        self.warmup_errors = {**self.jobs.warmup_errors, **self.store.warmup_errors}

    def make_pass(self, p: int) -> list[Op]:
        return self.jobs.make_pass(p) + self.store.make_pass(p)

    def after_op(self, op: Op, out, sample: Sample | None) -> None:
        self._part(op).after_op(op, out, sample)

    def trace_layer(self, op: Op, sample: Sample) -> None:
        self._part(op).trace_layer(op, sample)

    def summary(self, samples: list[Sample]) -> dict[str, float]:
        return self.store.summary(samples)

    def layer_metrics(self, samples: list[Sample]) -> dict[str, float]:
        return self.store.layer_metrics(samples)
