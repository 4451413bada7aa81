"""Layer A golden-output parity tests against the reference's own test
corpus and correct/ files (mirrors tests/test_integration_0{0,1,2}.py
in /root/reference)."""

import filecmp
import glob
import os

from engine.mapreduce import run_job
from tests.conftest import REFDATA

EXEC = f"{REFDATA}/exec"
INPUT = f"{REFDATA}/input"
CORRECT = f"{REFDATA}/correct"


def _read_sorted(path: str) -> list[str]:
    with open(path, encoding="utf-8") as f:
        return sorted(f.readlines())


def test_wordcount_golden(spark, tmp_path):
    """Reference test_integration_01: wc job, 2 mappers / 1 reducer,
    sorted-line equality with word_count_correct.txt."""
    out = str(tmp_path / "out")
    parts = run_job(
        spark, INPUT, out,
        mapper=f"{EXEC}/wc_map.sh", reducer=f"{EXEC}/wc_reduce.sh",
        num_mappers=2, num_reducers=1,
    )
    assert [os.path.basename(p) for p in parts] == ["part-00000"]
    assert _read_sorted(parts[0]) == _read_sorted(f"{CORRECT}/word_count_correct.txt")


def test_wordcount_two_reducers(spark, tmp_path):
    """Reference test_integration_02: 4 mappers / 2 reducers — exactly
    two part files whose merged sorted content matches the golden."""
    out = str(tmp_path / "out")
    parts = run_job(
        spark, INPUT, out,
        mapper=f"{EXEC}/wc_map.sh", reducer=f"{EXEC}/wc_reduce.sh",
        num_mappers=4, num_reducers=2,
    )
    assert [os.path.basename(p) for p in parts] == ["part-00000", "part-00001"]
    assert len(list(os.listdir(out))) == 2
    merged = sorted(
        line for p in parts for line in open(p, encoding="utf-8").readlines()
    )
    assert merged == _read_sorted(f"{CORRECT}/word_count_correct.txt")


def test_grep_golden(spark, tmp_path):
    """Reference test_integration_00: grep job, exact filecmp — also
    pins the whole-line sort order inside a partition."""
    out = str(tmp_path / "out")
    parts = run_job(
        spark, INPUT, out,
        mapper=f"{EXEC}/grep_map.py", reducer=f"{EXEC}/grep_reduce.py",
        num_mappers=2, num_reducers=1,
    )
    assert filecmp.cmp(f"{CORRECT}/grep_correct.txt", parts[0], shallow=False)


def test_grep_query_argv(spark, tmp_path):
    """grep_map.py takes the query via argv (grep_map.py:14-17)."""
    out = str(tmp_path / "out")
    parts = run_job(
        spark, INPUT, out,
        mapper=[f"{EXEC}/grep_map.py", "hadoop"], reducer=f"{EXEC}/grep_reduce.py",
        num_mappers=2, num_reducers=1,
    )
    lines = open(parts[0], encoding="utf-8").read().splitlines()
    assert lines, "expected at least one matching line for 'hadoop'"
    assert all("hadoop" in line.lower() for line in lines)


def test_native_mode_wordcount(spark, tmp_path):
    """Native mode: mapper/reducer as Python callables with the same
    line-contract — W2/W4 semantics (wc_map.py / wc_reduce.py)."""
    import itertools

    def mapper(lines):
        for line in lines:
            for word in line.split():
                yield f"{word}\t1"

    def reducer(lines):
        parsed = (line.partition("\t") for line in lines)
        for word, group in itertools.groupby(parsed, key=lambda t: t[0]):
            yield f"{word} {sum(int(v) for _, _, v in group)}"

    out = str(tmp_path / "out")
    parts = run_job(
        spark, INPUT, out, mapper=mapper, reducer=reducer,
        num_mappers=2, num_reducers=2,
    )
    counts = {}
    for p in parts:
        for line in open(p, encoding="utf-8"):
            w, _, c = line.rstrip("\n").rpartition(" ")
            counts[w] = counts.get(w, 0) + int(c)
    assert counts["Hello"] == 2  # file01 + file02, case preserved in W2
    assert counts["Hadoop"] == 2


def test_empty_key_partitioning(spark, tmp_path):
    """Empty string is a legal key (test_worker_05.py:122-124): lines
    '\\t1' must flow through partition/sort/reduce intact."""
    inp = tmp_path / "in"
    inp.mkdir()
    (inp / "f1").write_text("  leading spaces\nA  B\n", encoding="utf-8")

    out = str(tmp_path / "out")
    parts = run_job(
        spark, str(inp), out,
        mapper=f"{REFDATA}/exec/wc_map.sh", reducer=f"{REFDATA}/exec/wc_reduce.sh",
        num_mappers=1, num_reducers=1,
    )
    text = open(parts[0], encoding="utf-8").read()
    # tokens: '', '', 'leading', 'spaces', 'a', '', 'b' → empty key ×3
    assert "\t3\n" in text


def test_cli_submit_wordcount_golden(spark, tmp_path):
    """`python -m engine submit` (the mapreduce-submit parity surface,
    reference submit.py:37-58) reproduces the wordcount golden output."""
    from engine.__main__ import main

    out = str(tmp_path / "wc_cli")
    rc = main(
        [
            "submit",
            "-i", f"{REFDATA}/input",
            "-o", out,
            "-m", f"{REFDATA}/exec/wc_map.sh",
            "-r", f"{REFDATA}/exec/wc_reduce.sh",
            "--nreducers", "1",
        ]
    )
    assert rc == 0
    got = sorted(
        line
        for p in sorted(glob.glob(f"{out}/part-*"))
        for line in open(p, encoding="utf-8").read().splitlines()
    )
    want = sorted(
        open(
            f"{REFDATA}/correct/word_count_correct.txt", encoding="utf-8"
        )
        .read()
        .splitlines()
    )
    assert got == want


def test_cli_list_and_query(capsys):
    from engine.__main__ import main

    assert main(["list"]) == 0
    out = capsys.readouterr().out
    assert "q1_pricing_summary" in out and "(oracled)" in out
    assert main(["query", "nope"]) == 2


def test_chained_two_round_jobs(spark, tmp_path):
    """Multi-round MapReduce by resubmission (SURVEY §2.3): round 1
    greps the corpus, round 2 wordcounts the grep output by feeding
    round 1's output directory as round 2's input directory — the
    reference supports the same chaining through its job queue
    (output dirs are valid input dirs). Expected counts computed
    directly from the round-1 output lines."""
    from collections import Counter

    out1 = str(tmp_path / "round1")
    parts1 = run_job(
        spark, INPUT, out1,
        mapper=f"{EXEC}/grep_map.py", reducer=f"{EXEC}/grep_reduce.py",
        num_mappers=2, num_reducers=2,
    )
    assert parts1

    out2 = str(tmp_path / "round2")
    parts2 = run_job(
        spark, out1, out2,
        mapper=f"{EXEC}/wc_map.sh", reducer=f"{EXEC}/wc_reduce.sh",
        num_mappers=2, num_reducers=2,
    )

    # Expected: wc_map.sh semantics (lowercase, split on [ \t], keep
    # empty tokens) over every line of round 1's output.
    expected = Counter()
    for p in parts1:
        with open(p, encoding="utf-8") as f:
            for line in f:
                import re as _re

                for tok in _re.split(r"[ \t]", line.rstrip("\n").lower()):
                    expected[tok] += 1
    got = Counter()
    for p in parts2:
        with open(p, encoding="utf-8") as f:
            for line in f:
                tok, _, cnt = line.rstrip("\n").rpartition("\t")
                got[tok] += int(cnt)
    assert got == expected


def test_exec_command_quotes_spaces(tmp_path):
    """Executable paths and argv entries containing spaces must each
    reach the process as ONE argument (round-1 advice): the command is
    an argv list, never a string that gets re-tokenized."""
    from engine.mapreduce.runner import _exec_command

    script = tmp_path / "my mapper.sh"
    script.write_text("#!/bin/sh\ncat\n")
    argv = _exec_command([str(script), "arg with space"])
    assert argv == ["/bin/sh", str(script), "arg with space"]


def test_run_job_rejects_comma_paths(spark, tmp_path):
    """Comma-bearing input filenames would silently split sc.textFile's
    comma-joined path list; run_job refuses them loudly."""
    import pytest

    d = tmp_path / "in"
    d.mkdir()
    (d / "a,b.txt").write_text("hello\n")
    with pytest.raises(ValueError, match="comma"):
        run_job(
            spark, str(d), str(tmp_path / "out"),
            mapper=f"{EXEC}/wc_map.sh", reducer=f"{EXEC}/wc_reduce.sh",
        )


def test_crashing_executable_fails_the_job(spark, tmp_path):
    """A mapper that exits non-zero after emitting lines must FAIL the
    job (reference Hadoop-Streaming semantics) — without checkCode the
    partial output would publish as success."""
    import textwrap

    import pytest

    from engine.mapreduce.runner import run_job

    ind = tmp_path / "in"
    ind.mkdir()
    (ind / "f0.txt").write_text("hello world\n")
    bad = tmp_path / "bad_map.sh"
    bad.write_text(
        textwrap.dedent(
            """\
            #!/bin/sh
            cat
            exit 3
            """
        )
    )
    bad.chmod(0o755)
    with pytest.raises(Exception, match="3|Pipe|pipe"):
        run_job(
            spark,
            str(ind),
            str(tmp_path / "out"),
            str(bad),
            str(bad),
            num_mappers=1,
            num_reducers=1,
        )


def test_wordcount_large_corpus_golden(spark, tmp_path):
    """Large-corpus parity over the reference's input_large fixtures
    (the corpus its memory-profile tests test_worker_07/11 stream):

    (a) our map stage over input_large reproduces the reference's
        checked-in input_large_intermediate (multiset of
        '<token>\\t1' lines at ~700k tokens, where the 36 KB `input`
        goldens could hide corpus-scale edge cases). Non-empty tokens
        only: every input_large file ends with a trailing space and
        NO final newline, and a raw byte stream (how the intermediate
        was generated) yields no empty record there while a
        line-record pipe does — the in-line empty-token contract is
        already pinned exactly by test_empty_key_partitioning;
    (b) the full executable wordcount pipeline's per-token counts
        equal an independent pure-Python recount implementing
        wc_map.sh's exact semantics (tr space/tab→newline, lowercase,
        empty tokens kept)."""
    import glob

    large = f"{REFDATA}/input_large"
    inter = f"{REFDATA}/input_large_intermediate"

    # (a) map-only: a case-preserving tr-tokenizer (the mapper the
    # intermediate was generated with — wc_map.sh minus the lowercase
    # stage), identity reduce, one partition.
    raw_map = tmp_path / "raw_map.sh"
    raw_map.write_text(
        "#!/bin/bash\nset -Eeuo pipefail\n"
        "cat | tr '[ \\t]' '\\n' | awk '{print $1\"\\t1\"}'\n"
    )
    raw_map.chmod(0o755)
    out_map = str(tmp_path / "map_only")
    parts = run_job(
        spark, large, out_map,
        mapper=str(raw_map), reducer="/bin/cat",
        num_mappers=4, num_reducers=1,
    )
    got_lines = sorted(
        line
        for p in parts
        for line in open(p, encoding="utf-8").read().splitlines()
        if not line.startswith("\t")
    )
    want_lines = sorted(
        line
        for p in sorted(glob.glob(f"{inter}/file0*"))
        for line in open(p, encoding="utf-8").read().splitlines()
        if not line.startswith("\t")
    )
    assert got_lines == want_lines

    # (b) full pipeline vs independent recount
    out_wc = str(tmp_path / "wc")
    parts = run_job(
        spark, large, out_wc,
        mapper=f"{REFDATA}/exec/wc_map.sh",
        reducer=f"{REFDATA}/exec/wc_reduce.sh",
        num_mappers=4, num_reducers=2,
    )
    got = {}
    for p in parts:
        for line in open(p, encoding="utf-8").read().splitlines():
            tok, _, c = line.rpartition("\t")
            got[tok] = got.get(tok, 0) + int(c)

    import re

    want = {}
    for p in sorted(glob.glob(f"{large}/file0*")):
        for line in open(p, encoding="utf-8").read().splitlines():
            for piece in re.split(r"[ \t]", line):
                tok = piece.lower()
                want[tok] = want.get(tok, 0) + 1
    assert got == want
    assert sum(want.values()) > 50_000  # the corpus is actually large


def _md5_model(lines: list[str], n: int) -> list[list[str]]:
    """The reference's placement (worker/__main__.py:143-148,166-167):
    bucket int(md5(key), 16) % n, key = text before the first tab, each
    bucket sorted by whole line."""
    import hashlib

    parts: list[list[str]] = [[] for _ in range(n)]
    for line in lines:
        key = line.split("\t", 1)[0].encode("utf-8")
        parts[int(hashlib.md5(key).hexdigest(), 16) % n].append(line)
    return [sorted(p) for p in parts]


def _read_records(paths: list[str]) -> list[list[str]]:
    return [open(p, encoding="utf-8", newline="").read().split("\n")[:-1] for p in paths]


def _last_job_id(spark) -> int:
    return max(spark.sparkContext.statusTracker().getJobIdsForGroup(), default=-1)


def _stage_rdd_names(spark, after_job: int) -> dict[int, list[str]]:
    """RDD names per stage of every job after ``after_job``, read from
    the status store (UI off)."""
    tracker = spark.sparkContext.statusTracker()
    store = spark.sparkContext._jsc.sc().statusStore()
    stages = sorted(
        {
            s
            for j in tracker.getJobIdsForGroup()
            if j > after_job
            for s in tracker.getJobInfo(j).stageIds
        }
    )

    def names(cluster) -> list[str]:
        out = [n.name() for n in _iter(cluster.childNodes())]
        for child in _iter(cluster.childClusters()):
            out += names(child)
        return out

    return {s: names(store.operationGraphForStage(s).rootCluster()) for s in stages}


def _iter(jseq):
    it = jseq.iterator()
    while it.hasNext():
        yield it.next()


def test_executable_job_runs_no_python_worker_stage(spark, tmp_path):
    """An executable-only job stays in the JVM end to end: no stage of
    it holds a PythonRDD (the JVM pipes the executables, and bucket and
    sort are one SQL exchange). Its part files still equal the
    reference's md5 placement — non-BMP keys, empty keys, several tabs,
    more buckets than keys. A callable job, by contrast, does show a
    PythonRDD stage, so the probe can see one."""
    lines = [
        "b\tx\ty\tz", "\tempty key", "", "\t", "a\t1", "a\t0", "\U0001f600\tpoo",
        "\u00e9t\u00e9", "zz\t\t", "a",
    ]
    inp = tmp_path / "in"
    inp.mkdir()
    (inp / "f0").write_text("\n".join(lines[:4]) + "\n", encoding="utf-8")
    (inp / "f1").write_text("\n".join(lines[4:]) + "\n", encoding="utf-8")

    for n in (3, 8):
        before = _last_job_id(spark)
        parts = run_job(
            spark, str(inp), str(tmp_path / "out"), "/bin/cat", ["/bin/cat", "-"],
            num_mappers=2, num_reducers=n,
        )
        assert [os.path.basename(p) for p in parts] == [f"part-{i:05d}" for i in range(n)]
        assert _read_records(parts) == _md5_model(lines, n)
        stages = _stage_rdd_names(spark, before)
        assert len(stages) >= 2, stages  # map and reduce
        python = {s: names for s, names in stages.items() if "PythonRDD" in names}
        assert python == {}, python

    before = _last_job_id(spark)
    parts = run_job(
        spark, str(inp), str(tmp_path / "out"), lambda it: it, "/bin/cat",
        num_mappers=2, num_reducers=3,
    )
    assert _read_records(parts) == _md5_model(lines, 3)
    assert any("PythonRDD" in names for names in _stage_rdd_names(spark, before).values())


def test_executable_output_records_split_like_input_lines(spark, tmp_path):
    """Executable output is split into records the way text input is
    (Hadoop's LineReader): \\n, \\r\\n and a bare \\r each end a
    record, and a missing final newline still ends the last one."""
    inp = tmp_path / "in"
    inp.mkdir()
    (inp / "f0").write_text("ignored\n")
    emit = tmp_path / "emit.sh"
    emit.write_text("#!/bin/sh\ncat >/dev/null\nprintf 'k1\\ta\\r\\nk2\\tb\\rk3\\tc\\nk4\\td'\n")
    emit.chmod(0o755)
    parts = run_job(
        spark, str(inp), str(tmp_path / "out"), str(emit), "/bin/cat",
        num_mappers=1, num_reducers=1,
    )
    assert open(parts[0], encoding="utf-8", newline="").read() == (
        "k1\ta\nk2\tb\nk3\tc\nk4\td\n"
    )


def test_executable_may_exit_without_reading_stdin(spark, tmp_path):
    """A mapper that stops reading early (``head -n 1``) and exits 0
    succeeds; the input it never read is dropped. The file is larger
    than a pipe buffer, so the writer does hit the closed pipe."""
    inp = tmp_path / "in"
    inp.mkdir()
    (inp / "f0").write_text("".join(f"line {i:06d}\n" for i in range(40000)))
    parts = run_job(
        spark, str(inp), str(tmp_path / "out"), ["head", "-n", "1"], "/bin/cat",
        num_mappers=1, num_reducers=2,
    )
    assert sorted(r for part in _read_records(parts) for r in part) == ["line 000000"]
