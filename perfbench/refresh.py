"""Store part of ``batch_refresh``: a seeded change stream against a
partitioned ``engine.versioned_store`` table, the benchmark's only
writes.

One pass interleaves commits and reads, then runs maintenance:

    upsert, read_latest, cdf, delete, read_time_travel, merge,
    read_latest, compact, vacuum

(warm-up: upsert, read_latest).

Commits are recency-skewed (``gen.StoreStream``), so most touch a few
hot partitions. ``compact_partitions`` and ``vacuum`` run every pass so
``write_amp`` and ``space_amp`` level off instead of growing with run
length. Every read is fully materialized (collected) and checked,
outside its timed region, against a Python model of the applied
stream: the latest snapshot row for row, the time-travel read against
the model's version, and the CDF window's images by change type.
"""

from __future__ import annotations

import os
import time
from collections import Counter

import pyarrow as pa

import gen
from harness import Ctx, Op, Sample, Workload, median, tail

SIZES = {  # partitions, rows per partition, upsert / delete / merge batch
    "full": (16, 500, 40, 12, 40),
    "tiny": (4, 50, 8, 3, 8),
}
KEEP = 6  # versions vacuum keeps: covers the time-travel and CDF reach
TT_BACK = 2  # time-travel reads head - 2
CDF_BACK = 2  # CDF window (head - 2, head]
KEY = ["part", "k"]
TYPES = {"part": "string", "k": "bigint", "v": "string", "amount": "double", "seq": "bigint"}
COLS = list(TYPES)

PASS = [
    "upsert", "read_latest", "cdf", "delete", "read_time_travel", "merge",
    "read_latest", "compact", "vacuum",
]
WARMUP = ["upsert", "read_latest"]
COMMITS = ("upsert", "delete", "merge")
READS = ("read_latest", "read_time_travel", "cdf")

LAYER_KEYS = [
    "store.commit_p50_s",
    "store.commit_tail_s",
    "store.read_p50_s",
    "store.read_tail_s",
    "store.write_amp",
    "store.space_amp",
    "store.commit_jobs",
    "store.commit_files_written",
    "store.commit_bytes_written",
    "store.compact_s",
    "store.compact_bytes_rewritten",
    "store.vacuum_files_removed",
    "store.head_resolve_s",
    "store.read_jobs",
    "store.read_files_scanned",
    "store.cdf_jobs",
    "store.live_files",
]


def dir_files(root: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                out[p] = os.stat(p).st_size
            except FileNotFoundError:
                pass
    return out


def _rows(df_rows) -> list[tuple]:
    return sorted(tuple(r[c] for c in COLS) for r in (x.asDict() for x in df_rows))


class Refresh(Workload):
    PASS_SECONDS = 11.0

    def __init__(self, ctx: Ctx):
        super().__init__(ctx)
        parts, per_part, self.n_up, self.n_del, self.n_merge = SIZES[ctx.size]
        self.stream = gen.StoreStream(ctx.seed, parts, per_part)
        self.store = os.path.join(ctx.work, "store")
        self.versions: dict[int, dict] = {}  # model: version -> {key: row}
        self.head = 0
        self.user_bytes = 0
        self.written_bytes = 0
        self.pending: dict = {}
        self.write_log: list[dict] = []

    # -- set-up ------------------------------------------------------------

    def setup(self, _specs: dict) -> None:
        import engine.versioned_store as vs

        self.vs = vs
        rows = self.stream.initial()
        df = self.ctx.spark.createDataFrame(rows, gen.STORE_SCHEMA).repartition(4, "part")
        self.head = vs.commit_overwrite(df, self.store, "part", bloom_cols=["k"])
        self.versions[self.head] = {r[:2]: r for r in rows}
        for name in WARMUP:
            self.warm(Op(name, name, *self._op(name)))
        self.user_bytes = self.written_bytes = 0
        self.write_log.clear()

    # -- operations --------------------------------------------------------

    @property
    def live(self) -> dict:
        return self.versions[self.head]

    def make_pass(self, _p: int) -> list[Op]:
        return [Op(name, name, *self._op(name)) for name in PASS]

    def _op(self, name: str):
        spark, vs, tr, st = self.ctx.spark, self.vs, self.ctx.tracer, self.store
        P = self.pending

        def change_df(rows, cols):
            P["user_bytes"] = pa.Table.from_pylist([dict(zip(cols, r)) for r in rows]).nbytes
            return spark.createDataFrame(rows, ", ".join(f"{c} {TYPES[c]}" for c in cols))

        def before_write():
            P["files"] = dir_files(st)

        if name in ("upsert", "delete", "merge"):

            def prepare():
                P.clear()
                if name == "upsert":
                    P["rows"] = self.stream.upsert(self.live, self.n_up)
                    P["df"] = change_df(P["rows"], COLS)
                elif name == "delete":
                    P["rows"] = self.stream.delete(self.live, self.n_del)
                    P["df"] = change_df(P["rows"], KEY)
                else:
                    P["rows"] = self.stream.merge(self.live, self.n_merge)
                    P["df"] = change_df(P["rows"], COLS)
                before_write()

            def run():
                with tr.span("store." + name):
                    if name == "upsert":
                        return vs.commit_upsert(spark, st, P["df"], KEY)
                    if name == "delete":
                        return vs.commit_delete(spark, st, P["df"], KEY)
                    return vs.commit_merge(
                        spark, st, P["df"], KEY, matched_delete_condition="amount < 0"
                    )

            return run, prepare

        if name == "compact":

            def run():
                with tr.span("store.compact_partitions"):
                    return vs.compact_partitions(spark, st, files_per_partition=1)

            return run, lambda: (P.clear(), before_write())

        if name == "vacuum":

            def run():
                with tr.span("store.vacuum"):
                    return vs.vacuum(st, keep_latest=KEEP)

            return run, P.clear

        if name == "read_latest":

            def run():
                with tr.span("store.read_version"):
                    return vs.read_version(spark, st).collect()

            return run, P.clear

        if name == "read_time_travel":

            def prepare():
                P.clear()
                P["version"] = self.head - TT_BACK
                snap = self.versions[P["version"]]
                keys = sorted(snap)
                P["k"] = keys[len(keys) * 7 // 10][1]

            def run():
                with tr.span("store.read_version"):
                    return vs.read_version(
                        spark, st, P["version"], point_filters={"k": P["k"]}
                    ).collect()

            return run, prepare

        if name != "cdf":
            raise ValueError(f"unknown store operation {name!r}")

        def prepare():
            P.clear()
            P["va"], P["vb"] = self.head - CDF_BACK, self.head

        def run():
            with tr.span("store.table_changes"):
                return vs.table_changes(spark, st, P["va"], P["vb"], KEY).collect()

        return run, prepare

    # -- model and checks --------------------------------------------------

    def after_op(self, op: Op, out, _sample: Sample | None) -> None:
        P = self.pending
        if op.kind in COMMITS or op.kind == "compact":
            new = dir_files(self.store)
            written = {p: s for p, s in new.items() if P["files"].get(p) != s}
            self.write_log.append(
                {"kind": op.kind, "files": len(written), "bytes": sum(written.values())}
            )
            self.written_bytes += sum(written.values())
        if op.kind in COMMITS:
            self.user_bytes += P["user_bytes"]
            snap = dict(self.live)
            if op.kind == "upsert":
                snap.update({r[:2]: r for r in P["rows"]})
            elif op.kind == "delete":
                for key in P["rows"]:
                    snap.pop(key, None)
            else:
                for r in P["rows"]:
                    if r[3] < 0:
                        snap.pop(r[:2], None)
                    else:
                        snap[r[:2]] = r
            self._advance(out, snap)
        elif op.kind == "compact":
            if out is not None:
                self._advance(out, dict(self.live))
        elif op.kind == "vacuum":
            self.write_log.append({"kind": "vacuum", "removed": len(out)})
            for v in [v for v in self.versions if v <= self.head - KEEP]:
                del self.versions[v]
        elif op.kind == "read_latest":
            want = sorted(self.live.values())
            got = _rows(out)
            if got != want:
                raise AssertionError(
                    f"latest snapshot v{self.head}: {len(got)} rows, model {len(want)}"
                )
        elif op.kind == "read_time_travel":
            snap = self.versions[P["version"]]
            want = sorted(r for key, r in snap.items() if key[1] == P["k"])
            got = _rows(out)
            if got != want:
                raise AssertionError(
                    f"time travel v{P['version']} k={P['k']}: {got} != {want}"
                )
        else:
            want = self._cdf(self.versions[P["va"]], self.versions[P["vb"]])
            got = sorted(
                (r["_change_type"],) + tuple(r[c] for c in COLS) for r in (x.asDict() for x in out)
            )
            if got != want:
                raise AssertionError(
                    f"CDF v{P['va']}->v{P['vb']}: {Counter(r[0] for r in got)}"
                    f" != model {Counter(r[0] for r in want)}"
                )

    def _advance(self, version: int, snap: dict) -> None:
        if version != self.head + 1:
            raise AssertionError(f"commit returned v{version}, expected v{self.head + 1}")
        self.head = version
        self.versions[version] = snap

    @staticmethod
    def _cdf(a: dict, b: dict) -> list[tuple]:
        out = []
        for key in a.keys() | b.keys():
            ra, rb = a.get(key), b.get(key)
            if ra is None:
                out.append(("insert",) + rb)
            elif rb is None:
                out.append(("delete",) + ra)
            elif ra != rb:
                out.append(("update_preimage",) + ra)
                out.append(("update_postimage",) + rb)
        return sorted(out)

    # -- metrics -----------------------------------------------------------

    def space_amp(self) -> float:
        """Store bytes on disk ÷ bytes of the live snapshot committed
        fresh into an empty store (same partitioning and bloom)."""
        fresh = os.path.join(self.ctx.work, "fresh")
        df = self.ctx.spark.createDataFrame(
            sorted(self.live.values()), gen.STORE_SCHEMA
        ).repartition(4, "part")
        self.vs.commit_overwrite(df, fresh, "part", bloom_cols=["k"])
        return sum(dir_files(self.store).values()) / sum(dir_files(fresh).values())

    def summary(self, samples: list[Sample]) -> dict[str, float]:
        """The store's own end-to-end figures, from untraced passes."""
        plain = [s for s in samples if not s.traced and s.pass_no >= 0]
        commit = [s.seconds for s in plain if s.kind in COMMITS]
        read = [s.seconds for s in plain if s.kind in READS]
        return {
            "store.commit_p50_s": median(commit),
            "store.commit_tail_s": tail(commit)[0],
            "store.read_p50_s": median(read),
            "store.read_tail_s": tail(read)[0],
            "store.write_amp": self.written_bytes / max(1, self.user_bytes),
            "store.space_amp": self.space_amp(),
        }

    def trace_layer(self, op: Op, sample: Sample) -> None:
        status, L = self.ctx.status, sample.layer
        jobs = status.new_jobs()
        L["jobs"] = len(jobs)
        if op.kind in COMMITS or op.kind == "compact":
            L["files"] = self.write_log[-1]["files"]
            L["bytes"] = self.write_log[-1]["bytes"]
        elif op.kind == "vacuum":
            L["removed"] = self.write_log[-1]["removed"]
        elif op.kind in ("read_latest", "read_time_travel"):
            t0 = time.perf_counter()
            self.vs.current_version(self.store)
            L["head_resolve_s"] = time.perf_counter() - t0
            args = (
                (self.pending["version"],) if op.kind == "read_time_travel" else ()
            )
            kw = {"point_filters": {"k": self.pending["k"]}} if args else {}
            df = self.vs.read_version(self.ctx.spark, self.store, *args, **kw)
            L["files_scanned"] = len(df.inputFiles())
            if op.kind == "read_latest":
                L["live_files"] = L["files_scanned"]
            status.new_jobs()  # inputFiles() may list; keep it out of the next op

    def layer_metrics(self, samples: list[Sample]) -> dict[str, float]:
        tr = [s for s in samples if s.traced]

        def med(kinds, key):
            return median(s.layer[key] for s in tr if s.kind in kinds and key in s.layer)

        return {
            "store.commit_jobs": med(COMMITS, "jobs"),
            "store.commit_files_written": med(COMMITS, "files"),
            "store.commit_bytes_written": med(COMMITS, "bytes"),
            "store.compact_s": median(s.seconds for s in tr if s.kind == "compact"),
            "store.compact_bytes_rewritten": med(("compact",), "bytes"),
            "store.vacuum_files_removed": med(("vacuum",), "removed"),
            "store.head_resolve_s": med(("read_latest", "read_time_travel"), "head_resolve_s"),
            "store.read_jobs": med(("read_latest", "read_time_travel"), "jobs"),
            "store.read_files_scanned": med(("read_latest", "read_time_travel"), "files_scanned"),
            "store.cdf_jobs": med(("cdf",), "jobs"),
            "store.live_files": med(("read_latest",), "live_files"),
        }
