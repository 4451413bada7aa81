"""Retry determinism: an injected task failure + Spark reattempt must
reproduce byte-identical results.

The engine claims retry-safety everywhere — samplers/splits are salted
h60 hash predicates (never ``rand()``, which resamples on reattempt),
and value aggregates ride the integer-grid ``qsum`` (order-independent
sums). This test PROVES the claim: partition 0 of the scan fails once
(then succeeds on reattempt, ``maxFailures=3``), and the output must
equal the clean run's bit-for-bit. It is the Spark analog of the
reference's task-reassignment assertions (reference:
tests/test_manager_05.py — a dead worker's task is re-assigned and the
job's output files must be unchanged).

The same holds for a Hadoop-Streaming job whose mapper executable fails
its first attempt: the part files equal a clean run's byte for byte.

Runs in a subprocess because task reattempts need ``local[N, F]`` with
F > 1, and the shared test session is already up with maxFailures=1.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# The engine's own session; SPARK_GRAFT_CPUS="4, 3" (set by _run) makes
# it local[4, 3]: 4 threads, maxFailures=3.
_SESSION = r"""
import json, os, shutil, sys, tempfile
sys.path.insert(0, __REPO__)
from engine.session import get_spark

spark = get_spark("retry-determinism", shuffle_partitions=8)
spark.sparkContext.setLogLevel("ERROR")
"""

_SCRIPT = r"""
from pyspark.sql import functions as F

from engine.functions.hashing import SPARK_H60
from engine.functions.rounding import qsum_rounded
from engine.io import load_table

SF = "/root/testdata/sf0.001"
marker = tempfile.mktemp(prefix="flaky_once_")


def run(flaky):
    docs = load_table(spark, SF, "documents")
    if flaky:
        schema = docs.schema

        def inject(pid, it):
            # First attempt of partition 0 dies AFTER marking, so the
            # reattempt (and every other partition) succeeds.
            if pid == 0 and not os.path.exists(marker):
                open(marker, "w").close()
                raise RuntimeError("injected task failure (attempt 0)")
            return it

        docs = spark.createDataFrame(
            docs.rdd.mapPartitionsWithIndex(inject), schema
        )
    bucket = F.expr(
        SPARK_H60.format(x="concat('split:', cast(doc_id as string))") + " % 100"
    )
    split = (
        F.when(bucket < 5, "test").when(bucket < 10, "val").otherwise("train")
    )
    agg = (
        docs.select(split.alias("split"), "n_chars")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            qsum_rounded(F.col("n_chars").cast("double"), 2).alias("chars2"),
        )
    )
    return sorted(tuple(r) for r in agg.collect())


clean = run(False)
flaky = run(True)
print(
    json.dumps(
        {
            "equal": clean == flaky,
            "failure_injected": os.path.exists(marker),
            "rows": len(clean),
        }
    )
)
"""


_STREAMING_SCRIPT = r"""
from engine.mapreduce.runner import run_job

work = tempfile.mkdtemp(prefix="retry_mr_")
inp = os.path.join(work, "in")
os.makedirs(inp)
for i in range(4):
    with open(os.path.join(inp, f"file{i}"), "w") as f:
        f.write("".join(f"w{(i * 7 + j * 3) % 50} t{j % 13}\n" for j in range(2000)))

MAP = "tr ' ' '\\n' | awk 'NF {print $1 \"\\t1\"}'\n"
REDUCE = (
    "awk -F'\\t' '$1 != k && NR > 1 {print k \"\\t\" n; n = 0}"
    " {k = $1; n += $2} END {if (NR) print k \"\\t\" n}'\n"
)
marker = os.path.join(work, "failed_once")
# The first map attempt to take the marker (mkdir is atomic) emits a few
# lines and exits non-zero; its reattempt and every other task map
# normally.
FLAKY = f"if mkdir {marker} 2>/dev/null; then head -n 5; exit 1; fi\n" + MAP


def script(name, body):
    path = os.path.join(work, name)
    with open(path, "w") as f:
        f.write("#!/bin/sh\n" + body)
    os.chmod(path, 0o755)
    return path


def run(mapper):
    out = os.path.join(work, "out_" + os.path.basename(mapper))
    parts = run_job(spark, inp, out, mapper, script("reduce.sh", REDUCE), 4, 3)
    return [(os.path.basename(p), open(p, "rb").read()) for p in parts]


clean = run(script("map.sh", MAP))
flaky = run(script("flaky_map.sh", FLAKY))
failure_injected = os.path.exists(marker)
shutil.rmtree(work)
print(
    json.dumps(
        {
            "equal": clean == flaky,
            "failure_injected": failure_injected,
            "parts": len(clean),
            "lines": sum(body.count(b"\n") for _, body in clean),
            "count": sum(
                int(line.rsplit(b"\t", 1)[1])
                for _, body in clean
                for line in body.splitlines()
            ),
        }
    )
)
"""


def _run(script: str) -> dict:
    proc = subprocess.run(
        [sys.executable, "-c", (_SESSION + script).replace("__REPO__", repr(REPO))],
        capture_output=True,
        text=True,
        timeout=600,
        cwd=REPO,
        env={**os.environ, "SPARK_GRAFT_CPUS": "4, 3"},
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_injected_task_failure_reproduces_identical_output():
    out = _run(_SCRIPT)
    assert out["failure_injected"], "the injected failure never fired"
    assert out["rows"] == 3  # train/val/test
    assert out["equal"], "task retry changed the result — not retry-safe"


def test_streaming_mapper_failure_retries_to_identical_part_files():
    """A Hadoop-Streaming mapper that fails its first attempt (after
    emitting some lines) is reattempted, and the job's part files are
    byte-equal to a clean run's: a failed attempt publishes nothing."""
    out = _run(_STREAMING_SCRIPT)
    assert out["failure_injected"], "the injected failure never fired"
    assert out["parts"] == 3
    assert out["lines"] == 50 + 13  # distinct words w0..w49 and t0..t12
    assert out["count"] == 4 * 2000 * 2  # every word of every line, once
    assert out["equal"], "task retry changed the part files"
