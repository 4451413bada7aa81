"""MapReduce part of ``batch_refresh``: ``engine.mapreduce.run_job``
over a seeded text corpus, the only path through the RDD pipe, the md5
partitioner, the sort shuffle and the part-file publish.

One pass runs four jobs, in a seeded order:

- ``wc_sh``: W1/W3 shell wordcount (``tr``/``awk`` map, ``uniq -c`` reduce);
- ``grep_product`` and ``grep_hadoop``: W5/W6 Python grep, the default
  query and an argv query;
- ``wc_native``: a native-callable wordcount (W2/W4 semantics: split on
  any whitespace, case kept, "word count" output).

Every job's output is checked outside its timed region against an
in-process model of the same corpus: the exact lines, the part-file
names, and (for keyed output) that each key sits in its md5 bucket.
"""

from __future__ import annotations

import hashlib
import itertools
import os
import re
from collections import Counter

import numpy as np

import gen
from harness import Ctx, Op, Sample, Workload, exec_totals, job_seconds, stage_seconds

HERE = os.path.dirname(os.path.abspath(__file__))
EXE = os.path.join(HERE, "streaming")

SIZES = {"full": (8, 3000), "tiny": (2, 200)}  # (files, lines per file)
MAPPERS = 4

LAYER_KEYS = [
    "mapreduce.job_s",
    "mapreduce.map_stage_s",
    "mapreduce.reduce_stage_s",
    "mapreduce.publish_s",
    "mapreduce.shuffle_bytes",
    "mapreduce.tasks",
    "mapreduce.run_ms",
    "mapreduce.cpu_ms",
]


def native_wordcount():
    """W2/W4 as Python callables. Built inside a function so cloudpickle
    ships them by value: executors cannot import this module."""

    def native_map(lines):
        for line in lines:
            for word in line.split():
                yield f"{word}\t1"

    def native_reduce(lines):
        parsed = (line.partition("\t") for line in lines)
        for word, group in itertools.groupby(parsed, key=lambda t: t[0]):
            yield f"{word} {sum(int(v) for _, _, v in group)}"

    return native_map, native_reduce


def md5_bucket(key: str, n: int) -> int:
    return int(hashlib.md5(key.encode("utf-8")).hexdigest(), 16) % n


# job name -> (mapper, reducer, reducers)
JOBS = {
    "wc_sh": (f"{EXE}/wc_map.sh", f"{EXE}/wc_reduce.sh", 3),
    "grep_product": (f"{EXE}/grep_map.py", f"{EXE}/grep_reduce.py", 2),
    "grep_hadoop": ([f"{EXE}/grep_map.py", "hadoop"], f"{EXE}/grep_reduce.py", 2),
    "wc_native": (*native_wordcount(), 3),
}


class MapReduce(Workload):
    PASS_SECONDS = 7.5

    def __init__(self, ctx: Ctx):
        super().__init__(ctx)
        self.corpus = os.path.join(ctx.work, "corpus")
        self.rng = np.random.default_rng([ctx.seed, 20])

    def setup(self, _specs: dict) -> None:
        files, lines = SIZES[self.ctx.size]
        gen.write_corpus(self.corpus, self.ctx.seed, files, lines)
        self.lines = []
        for name in sorted(os.listdir(self.corpus)):
            with open(os.path.join(self.corpus, name), encoding="utf-8") as f:
                self.lines.extend(f.read().split("\n")[:-1])
        self.expected = self._model()
        for op in self.make_pass(-1):
            self.warm(op)

    def _model(self) -> dict[str, list[list[str]]]:
        """Expected part-file contents per job, from the corpus alone."""
        exp = {}
        wc = Counter(t for ln in self.lines for t in re.split(r"[ \t]", ln.lower()))
        exp["wc_sh"] = self._keyed({k: f"{k}\t{c}" for k, c in wc.items()}, JOBS["wc_sh"][2])
        native = Counter(t for ln in self.lines for t in ln.split())
        exp["wc_native"] = self._keyed(
            {k: f"{k} {c}" for k, c in native.items()}, JOBS["wc_native"][2]
        )
        for job, query in (("grep_product", "product"), ("grep_hadoop", "hadoop")):
            hits = sorted(
                ln for ln in self.lines if ln.strip() and query in ln.lower() and "\t" not in ln
            )
            parts = [[] for _ in range(JOBS[job][2])]
            parts[md5_bucket("1", len(parts))] = hits
            exp[job] = parts
        return exp

    @staticmethod
    def _keyed(lines_by_key: dict[str, str], n: int) -> list[list[str]]:
        """Lines in md5 bucket of their key, each bucket sorted the way
        the shuffle sorts the reducer's input (by whole map line, which
        for these reducers orders by key)."""
        parts: list[list[tuple[str, str]]] = [[] for _ in range(n)]
        for k, line in lines_by_key.items():
            parts[md5_bucket(k, n)].append((k + "\t", line))
        return [[line for _, line in sorted(p)] for p in parts]

    def make_pass(self, _p: int) -> list[Op]:
        names = list(JOBS)
        order = self.rng.permutation(len(names))
        return [Op(names[i], "job", self._job(names[i])) for i in order]

    def _job(self, name: str):
        from engine.mapreduce.runner import run_job

        mapper, reducer, n_red = JOBS[name]
        out = os.path.join(self.ctx.work, "out", name)
        spark, tracer = self.ctx.spark, self.ctx.tracer

        def run():
            with tracer.span("mapreduce.run_job"):
                return run_job(spark, self.corpus, out, mapper, reducer, MAPPERS, n_red)

        return run

    def after_op(self, op: Op, parts, sample: Sample | None) -> None:
        want = self.expected[op.name]
        names = [os.path.basename(p) for p in parts]
        if names != [f"part-{i:05d}" for i in range(len(want))]:
            raise AssertionError(f"{op.name}: part files {names}")
        for i, path in enumerate(parts):
            with open(path, encoding="utf-8") as f:
                got = f.read().split("\n")[:-1]
            if self.ctx.corrupt and sample is not None and i == 0 and got:
                got[0] += "x"
            if got != want[i]:
                bad = next((j for j, (a, b) in enumerate(zip(got, want[i])) if a != b), None)
                raise AssertionError(
                    f"{op.name}: {names[i]} has {len(got)} lines, expected {len(want[i])};"
                    f" first difference at line {bad}"
                )

    def trace_layer(self, op: Op, sample: Sample) -> None:
        tr = self.ctx.tracer
        root = tr.spans[sample.layer["root_span"]]
        span = next(s for s in tr.spans[root.id :] if s.name == "mapreduce.run_job")
        jobs = self.ctx.status.new_jobs()
        stages = self.ctx.status.stage_attempts(jobs)
        last = max((a["stageId"] for a in stages), default=None)
        t = exec_totals(stages)
        L = sample.layer
        L["mapreduce.job_s"] = job_seconds(jobs)
        L["mapreduce.map_stage_s"] = sum(stage_seconds(a) for a in stages if a["stageId"] != last)
        L["mapreduce.reduce_stage_s"] = sum(stage_seconds(a) for a in stages if a["stageId"] == last)
        L["mapreduce.publish_s"] = span.dur - L["mapreduce.job_s"]
        L["mapreduce.shuffle_bytes"] = t["shuffle_write_bytes"]
        L["mapreduce.tasks"] = t["tasks"]
        L["mapreduce.run_ms"] = t["run_ms"]
        L["mapreduce.cpu_ms"] = t["cpu_ms"]
