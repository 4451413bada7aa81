"""The repository's benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The run generates its inputs from the
seed into ``.perfbench/`` under the root, sets up a Spark session with
``engine.session.get_spark`` (UI off), warms up, then times whole
passes of the workload's operations until ``--seconds`` have elapsed.
Every output is checked outside the timed region.

Standard output ends with one JSON line:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` they are the
per-layer ones, from traced passes alternating with untraced passes.
Lines before it (prefixed ``#``) give host context, the calibration
anchors and every workload figure by name and unit. A full record of
the run, and with ``--trace 1`` its spans, is written to
``.perfbench/out/``. See ``perfbench/README.md`` for the metrics.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

import batch  # noqa: E402
import mr  # noqa: E402
import olap  # noqa: E402
import refresh  # noqa: E402
from harness import (  # noqa: E402
    Ctx,
    Sample,
    StatusStore,
    Tracer,
    median,
    pass_totals,
    pass_walls,
    peak_rss_mib,
    process_tree,
    reset_peak_rss,
    run_passes,
    tail,
    tree_rss_mib,
)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# The bounded end-to-end metrics (BENCHMARK.json), name -> unit.
END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "driver_rss_mib": "MiB",
}


def unit_of(name: str) -> str:
    """Unit of a per-layer metric, from its name."""
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith("_ms"):
        return "ms"
    if "bytes" in name:
        return "bytes"
    if name.endswith("_mib"):
        return "MiB"
    if name.endswith(("_amp", "cpu_per_run", "core_util")):
        return "ratio"
    return "count"


WORKLOADS = {
    "olap_sf0.01": olap.Olap,
    "batch_refresh": batch.BatchRefresh,
}

PER_LAYER = (
    ["session.start_s", "registry.import_s"]
    + olap.LAYER_KEYS
    + ["exec.cpu_per_run", "exec.core_util"]
    + mr.LAYER_KEYS
    + refresh.LAYER_KEYS
    + ["driver.jvm_tree_peak_rss_mib", "trace.overhead_s"]
)


def _prepare_env(work: str) -> int:
    """Process environment for the session and its workers. Must run
    before the JVM starts. Returns the core count."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Python workers import `engine` from the repository root.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    # Keep every temporary file (Python, JVM, Spark local dirs) inside
    # the work directory; -XX:-UsePerfData stops the JVM writing
    # /tmp/hsperfdata_*.
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = None
    # UI off: bench.py turns it on through this variable.
    os.environ.pop("SPARK_GRAFT_UI", None)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ["TZ"] = "UTC"
    time.tzset()
    return int(os.environ["SPARK_GRAFT_CPUS"])


def _git_commit() -> str:
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if not ref.startswith("ref: "):
            return ref
        ref = ref[5:]
        path = os.path.join(ROOT, ".git", ref)
        if os.path.exists(path):
            with open(path) as f:
                return f.read().strip()
        with open(os.path.join(ROOT, ".git", "packed-refs")) as f:
            for line in f:
                if line.strip().endswith(ref):
                    return line.split()[0]
    except OSError:
        pass
    return "unknown"


def calibration(spark) -> dict[str, float]:
    """bench.py's two host anchors: 200k chained MD5 digests on one
    core, and a fixed 2M-row groupBy job into the noop sink. The median
    of 3 each (bench.py takes 5) keeps them inside the run's budget."""
    import hashlib
    import statistics

    cpu, job = [], []
    for _ in range(3):
        t0 = time.perf_counter()
        h = b"spark-graft-calibration-seed"
        for _ in range(200_000):
            h = hashlib.md5(h).digest()
        cpu.append(time.perf_counter() - t0)
    for _ in range(3):
        t0 = time.perf_counter()
        (
            spark.range(0, 2_000_000, 1, 32)
            .selectExpr("id % 1000 AS k", "id AS v")
            .groupBy("k")
            .sum("v")
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        job.append(time.perf_counter() - t0)
    return {"cpu_md5_sec": statistics.median(cpu), "spark_fixed_job_sec": statistics.median(job)}


def _stop_spark(spark) -> None:
    """Stop the session, close the JVM's stdin (the gateway exits on
    EOF), and wait until the JVM and every process under it (Python
    workers, piped executables) have ended."""
    import signal
    import subprocess

    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    tree = process_tree(proc.pid) if proc is not None else []
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is None:
        return
    if proc.stdin:
        proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
    def running(pid: int) -> bool:
        try:
            with open(f"/proc/{pid}/stat") as f:
                return f.read().rsplit(")", 1)[1].split()[0] != "Z"
        except OSError:
            return False

    deadline = time.monotonic() + 30
    alive = [p for p in tree[1:] if running(p)]
    while alive and time.monotonic() < deadline:
        time.sleep(0.05)
        alive = [p for p in alive if running(p)]
    for p in alive:
        with contextlib.suppress(ProcessLookupError):
            os.kill(p, signal.SIGKILL)


def _install_layer_spans(tracer) -> None:
    """A span around ``engine.io.load_table``, which the workloads reach
    only through the operators. Must run before the operator modules
    import it."""
    import engine.io as eio

    load = eio.load_table

    def load_table(spark, sf_dir, name):
        with tracer.span("io.load_table", table=name) as s:
            reads = tracer.parquet_reads
            df = load(spark, sf_dir, name)
            if s is not None:
                s.attrs["miss"] = int(tracer.parquet_reads > reads)
            return df

    eio.load_table = load_table


def run(args, work: str) -> int:
    sys.path.insert(0, ROOT)
    name = args.workload
    out_dir = os.path.join(ROOT, ".perfbench", "out")
    cores = _prepare_env(work)
    traced_run = bool(args.trace)

    tracer = Tracer()
    if traced_run:
        tracer.install_py4j_counter()
        _install_layer_spans(tracer)

    t0 = time.perf_counter()
    from engine.session import get_spark

    spark = get_spark("perfbench")
    session_s = time.perf_counter() - t0
    try:
        t0 = time.perf_counter()
        from engine.registry import all_queries_including_library

        specs = all_queries_including_library()
        registry_s = time.perf_counter() - t0

        ctx = Ctx(
            spark=spark,
            tracer=tracer,
            status=StatusStore(spark) if traced_run else None,
            work=work,
            seed=args.seed,
            cores=cores,
            size=args.size,
            corrupt=args.corrupt,
        )
        wl = WORKLOADS[name](ctx)
        wl.setup(specs)
        setup_s = time.perf_counter() - T_START

        jvm_pid = ctx.spark_jvm_pid()
        jvm_peak = [0.0]

        def trace_layer(op, sample):
            wl.trace_layer(op, sample)
            if jvm_pid:
                jvm_peak[0] = max(jvm_peak[0], tree_rss_mib(jvm_pid))

        # The pass count depends on --seconds only, never on how fast
        # the host is, so every run of a workload has the same samples.
        passes = max(1, int(args.seconds / wl.PASS_SECONDS + 0.5))
        if traced_run:  # a warm-up pass, then traced/untraced pairs
            passes = 1 + 2 * max(1, passes // 2)
        reset_peak_rss()
        samples = run_passes(ctx, wl.make_pass, wl.after_op, trace_layer, passes, traced_run)
        driver_rss = peak_rss_mib()

        # Checks against oracles, outside every timed region. A query
        # that fails marks each of its timed runs failed.
        for q, why in wl.check().items():
            for s in samples:
                if s.name == q and s.error is None:
                    s.error = why
        samples += [
            Sample(-2, False, name, "warm-up", 0.0, error) for name, error in wl.warmup_errors.items()
        ]
        figures = wl.summary(samples)
        anchors = calibration(spark)
    finally:
        _stop_spark(spark)

    plain = [s for s in samples if not s.traced and s.pass_no >= 0]
    lat = [s.seconds for s in plain]
    tail_v, tail_pct, tail_n = tail(lat)
    walls = pass_walls(samples, traced=False)
    failed = [s for s in samples if s.error]
    e2e = {
        "setup_s": setup_s,
        "wall_s": median(walls),
        "driver_rss_mib": driver_rss,
    }

    layer: dict[str, float] = {n: 0.0 for n in PER_LAYER}
    if traced_run:
        layer["session.start_s"] = session_s
        layer["registry.import_s"] = registry_s
        present = {k for s in samples for k in s.layer}
        layer.update(pass_totals(samples, [k for k in layer if k in present]))
        if layer["exec.run_ms"] > 0:
            layer["exec.cpu_per_run"] = layer["exec.cpu_ms"] / layer["exec.run_ms"]
        if layer["exec.s"] > 0:
            layer["exec.core_util"] = layer["exec.run_ms"] / (layer["exec.s"] * 1000.0 * cores)
        layer.update(wl.layer_metrics(samples))
        layer.update(figures)
        layer["driver.jvm_tree_peak_rss_mib"] = jvm_peak[0]
        layer["trace.overhead_s"] = median(pass_walls(samples, traced=True)) - median(walls)

    # Human-readable lines: host context, then every figure.
    host = {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "commit": _git_commit(),
        **{k: round(v, 4) for k, v in anchors.items()},
    }
    print("# host " + " ".join(f"{k}={v}" for k, v in host.items()))
    n_plain = len(plain)
    print(f"# {name} measured untraced passes={len(walls)} ops={n_plain} seed={args.seed}"
          f" trace={args.trace}")
    for k, v in e2e.items():
        print(f"# {k} {v:.4f} {END_TO_END[k]}")
    print(f"# op_p50_s {median(lat):.4f} s")
    print(f"# op_tail_s {tail_v:.4f} s  (p{tail_pct} of {tail_n} samples)")
    for k, v in figures.items():
        print(f"# {k} {v:.4f} {unit_of(k)}")
    err_rate = len(failed) / max(1, len(samples))
    print(f"# error_rate {err_rate:.4f} ratio ({len(failed)} of {len(samples)})")
    for s in failed:
        where = "warm-up" if s.pass_no == -2 else f"pass {s.pass_no}"
        print(f"# FAILED {s.name} ({where}): {s.error.strip().splitlines()[-1][:300]}")
    if traced_run:
        for k, v in layer.items():
            print(f"# layer {k} {v:.6g} {unit_of(k)}")
        n_traced = len({s.pass_no for s in samples if s.traced})
        for k, v in sorted(tracer.self_times().items()):
            print(f"# self_time {k} {v / n_traced:.4f} s per traced pass")

    record = {
        "workload": name,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "host": host,
        "end_to_end": e2e,
        "op_p50_s": median(lat),
        "op_tail": {"s": tail_v, "percentile": tail_pct, "samples": tail_n},
        "figures": figures,
        "per_layer": layer if traced_run else {},
        "samples": [
            {"pass": s.pass_no, "traced": s.traced, "op": s.name, "s": s.seconds, "error": s.error}
            for s in samples
        ],
    }
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{name}-seed{args.seed}-trace{args.trace}")
    with open(stem + ".json", "w") as f:
        json.dump(record, f, indent=1)
    if traced_run:
        tracer.dump(stem + "-spans.json")

    if traced_run:
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in layer.items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    print(
        json.dumps(
            {
                "correct": not failed,
                "attempted": len(samples),
                "failed": len(failed),
                "metrics": metrics,
            }
        )
    )
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=list(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--size", choices=("full", "tiny"), default="full",
        help="input size; 'tiny' is for the smoke test",
    )
    ap.add_argument(
        "--corrupt", action="store_true",
        help="alter one checked output after set-up (smoke test of the checks)",
    )
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "engine", "session.py")):
        print(f"perfbench: no engine/ under {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench", f"work-{args.workload}-{args.seed}-{os.getpid()}")
    try:
        return run(args, work)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
