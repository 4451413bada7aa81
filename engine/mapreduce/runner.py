"""Hadoop-Streaming-compatible MapReduce job runner on Spark.

Reference semantics reproduced (citations into /root/reference):

- Input: a directory of UTF-8 text files, listed in sorted order
  (``manager/__main__.py:193``), read line-by-line.
- Map: each line streamed through the mapper executable's stdin; its
  stdout lines are intermediate records (``worker/__main__.py:134-151``).
  The reference runs one mapper process per input *file*; we run one per
  Spark partition — observationally identical for the documented
  contract (stateless line-wise executables, SURVEY.md §7 Phase 2).
- Partition: intermediate line → bucket
  ``int(md5(key).hexdigest(), 16) % num_reducers`` where key = text
  before the first tab (``worker/__main__.py:143-148``).
- Sort: each reducer's input is sorted lexicographically by WHOLE LINE
  (byte order; ``worker/__main__.py:166-167`` uses coreutils sort, and
  ``heapq.merge`` preserves it, ``worker/__main__.py:196-209``). Spark
  compares strings as UTF-8 bytes, which equals Python str order and
  the C-locale sort the goldens assume (SURVEY.md §8).
- Reduce: the merged sorted stream is piped through the reducer
  executable; contiguous equal keys are the grouping contract
  (``tests/testdata/exec/wc_reduce.py:25-28``).
- Output: ``part-00000 .. part-0000(R-1)`` text files in the output
  directory, one per reducer even when its bucket is empty; the
  directory is deleted and recreated first
  (``worker/__main__.py:195,213-216``; ``manager/__main__.py:183-187``).

Where it runs. The records live in the JVM from input to output, as in
Hadoop Streaming: the text input, the pipes into and out of executable
steps (Spark's ``PipedRDD``, which fails the task on a non-zero exit
and gives the process the executor's environment), the shuffle and the
part-file sink. The shuffle is one Spark SQL exchange: the md5 bucket
is computed in SQL and used as the partition id as given
(``repartitionById``), then each bucket is sorted by whole line
(``sortWithinPartitions``). Only a Python-callable step runs in a
Python worker: it reads its records as UTF-8 strings and hands its
output back as raw UTF-8 bytes, with no pickling either way. A job
whose steps are both executables starts no Python worker.

Records. An executable's output is split into records the way the
input reader splits files (Hadoop's ``LineReader``): ``\\n``,
``\\r\\n`` and a bare ``\\r`` each end a record, and a missing final
newline still ends the last one. An executable may exit without
reading all of its stdin; the rest of its input is dropped and the
task succeeds if the exit status is 0.

Scale notes: this is one Spark stage pair (map → shuffle → reduce);
the shuffle is Spark's sort-based shuffle, which spills — the
reference's <1 MiB map-heap property (``tests/test_worker_11.py:149``)
is inherited, not re-implemented. At 100 TB the only knob that matters
is ``num_reducers`` (partition count past the shuffle).
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable, Iterator
from tempfile import mkdtemp

from pyspark import RDD
from pyspark.serializers import UTF8Deserializer
from pyspark.sql import DataFrame, SparkSession

from engine.session import static_planning

LineTransform = Callable[[Iterator[str]], Iterator[str]]
Step = str | list[str] | LineTransform


def _exec_command(executable: str | list[str]) -> list[str]:
    """The argv for an executable, honoring shebangs even when the file
    lacks the executable bit (the reference always execs directly; we
    are more forgiving). Each element reaches the process as one
    argument: no shell and no re-tokenizing sits in between."""
    if isinstance(executable, list):
        parts = list(executable)
    else:
        parts = [executable]
    path = parts[0]
    if os.path.isfile(path) and not os.access(path, os.X_OK):
        with open(path, "rb") as f:
            first = f.readline().decode("utf-8", "replace").strip()
        if first.startswith("#!"):
            shebang = first[2:].split()
            if shebang and shebang[0].endswith("env"):
                # '#!/usr/bin/env -S python3 -u' → ['python3', '-u']
                interp = [a for a in shebang[1:] if a != "-S"]
            else:
                interp = shebang
            parts = interp + parts
        else:
            parts = ["sh"] + parts
    return [str(p) for p in parts]


def list_input_files(input_dir: str) -> list[str]:
    """Sorted directory listing — the reference's deterministic scan
    (manager/__main__.py:193)."""
    return [
        os.path.join(input_dir, f)
        for f in sorted(os.listdir(input_dir))
        if os.path.isfile(os.path.join(input_dir, f))
    ]


def _run_step(spark: SparkSession, records, step: Step):
    """One map or reduce step over a JVM ``JavaRDD[String]`` of records;
    returns the step's output records, again a ``JavaRDD[String]``."""
    sc = spark.sparkContext
    if not callable(step):
        return records.pipe(_exec_command(step), {}, False, 8192, "UTF-8")

    # Defined as a local closure (not a module reference) so cloudpickle
    # ships it by value — executors need no 'engine' on PYTHONPATH.
    def encoded(lines):
        for line in step(lines):
            yield line.encode("utf-8")

    # PySpark's own saveAsTextFile trick: the worker writes raw bytes
    # and the JVM decodes them, so no record is pickled.
    out = RDD(records, sc, UTF8Deserializer()).mapPartitions(encoded)
    out._bypass_serializer = True
    return out._jrdd.map(sc._jvm.BytesToString())


def _md5_bucket_sql(n: int) -> str:
    """``int(md5(key).hexdigest(), 16) % n`` in SQL over the record
    column ``value``, key = text before the first tab (``char(9)``).
    The 128-bit digest is read as four 32-bit hex chunks folded by
    Horner's rule mod ``n``, which stays inside bigint for every int
    ``n``; the repeated digest is computed once per row (subexpression
    elimination)."""
    digest = "md5(substring_index(value, char(9), 1))"
    bucket = "0"
    for i in range(4):
        chunk = f"cast(conv(substring({digest}, {8 * i + 1}, 8), 16, 10) as bigint)"
        bucket = f"({bucket} * 4294967296 + {chunk}) % {n}"
    return f"cast({bucket} as int)"


def _shuffle(spark: SparkSession, records, n: int):
    """Bucket by md5 of key and sort each bucket by whole line, as one
    SQL exchange; returns the ``n`` reducer inputs as a ``JavaRDD[String]``."""
    strings = spark._jvm.org.apache.spark.sql.Encoders.STRING()
    ds = spark._jsparkSession.createDataset(records.rdd(), strings)
    shuffled = (
        DataFrame(ds.toDF(), spark)
        .selectExpr("value", f"{_md5_bucket_sql(n)} AS bucket")
        .repartitionById(n, "bucket")
        .sortWithinPartitions("value")
        .select("value")
    )
    # Planned without AQE: it has nothing to adapt in one id-partitioned
    # exchange, and it would run the map stage eagerly here and turn an
    # empty map output into an RDD of no partitions (no part files).
    with static_planning(spark):
        return getattr(shuffled._jdf, "as")(strings).javaRDD()


def run_job(
    spark: SparkSession,
    input_directory: str,
    output_directory: str,
    mapper: Step,
    reducer: Step,
    num_mappers: int = 2,
    num_reducers: int = 2,
) -> list[str]:
    """Run one MapReduce job; returns the output part-file paths.

    ``mapper``/``reducer`` are either executables (str path, or
    [path, arg, ...] — Hadoop Streaming mode, reference-exact) or
    Python callables ``Iterator[str] -> Iterator[str]`` (native mode).
    """
    files = list_input_files(input_directory)
    if not files:
        raise FileNotFoundError(f"no input files in {input_directory}")
    # textFile takes a comma-separated path list, so a comma INSIDE a
    # filename would silently split into two bogus paths (round-1
    # advice). Reject loudly; such names also break Hadoop's own API.
    # Hadoop also interprets the path string as a GLOB, so [, ], {, },
    # *, ? in a filename would be expanded as a pattern and silently
    # skip (or mis-match) the file — same path-string-API bug class.
    bad = [f for f in files if "," in f or any(ch in f for ch in "[]{}*?")]
    if bad:
        raise ValueError(
            f"input paths must not contain commas or glob"
            f" metacharacters ([]{{}}*?): {bad}"
        )

    # minPartitions=num_mappers for task-shape parity with the
    # reference's round-robin split (manager/__main__.py:195-202);
    # per-file grouping is not load-bearing for stateless mappers.
    lines = spark.sparkContext._jsc.textFile(",".join(files), max(1, num_mappers))
    mapped = _run_step(spark, lines, mapper)
    shuffled = _shuffle(spark, mapped, max(1, num_reducers))
    reduced = _run_step(spark, shuffled, reducer)

    # Sink: delete + recreate the output dir (manager/__main__.py:183-187),
    # then publish Spark's part-NNNNN files (worker/__main__.py:195).
    if os.path.exists(output_directory):
        shutil.rmtree(output_directory)
    os.makedirs(output_directory)
    staging = mkdtemp(prefix="mapreduce-staging-")
    target = os.path.join(staging, "out")
    reduced.saveAsTextFile(target)
    out_paths: list[str] = []
    for name in sorted(os.listdir(target)):
        if name.startswith("part-"):
            # Spark names files part-00000[.codec]; reference uses bare
            # part-NNNNN (worker/__main__.py:195). A codec suffix means
            # the session enabled output compression — renaming would
            # publish compressed bytes under a plain-text name, so
            # refuse instead of silently corrupting the contract.
            if "." in name:
                raise RuntimeError(
                    f"compressed part file {name!r}: disable output"
                    " compression for reference text-sink parity"
                )
            dst = os.path.join(output_directory, name.split(".")[0])
            shutil.move(os.path.join(target, name), dst)
            out_paths.append(dst)
    shutil.rmtree(staging)
    return out_paths
