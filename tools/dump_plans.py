"""Generate PLANS.md: per-query physical-plan evidence for the scale
contract (shuffle counts, broadcast joins, scan pushdown, codegen).

This is the ".explain(formatted) and iterate" loop made persistent:
the table records, for every registered query, the plan properties a
reviewer would check by hand before running it on a 1000-executor
cluster.

Usage: python tools/dump_plans.py   (rewrites PLANS.md)
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from engine.plans import (  # noqa: E402
    executed_exchange_ids,
    formatted_plan,
    rdd_leaf_classes,
)
from engine.registry import all_queries, all_queries_including_library  # noqa: E402
from engine.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"

HEADER = """# PLANS — physical-plan evidence per query

Auto-generated by `tools/dump_plans.py` (plan shape at sf0.001 — shape,
not data, is what transfers to 100 TB). Columns:

- **X** — shuffle exchanges in the plan (after AQE planning). Every
  exchange is a full network pass over its input at scale.
- **BC** — broadcast(-hash/nested-loop) joins: dim/scalar sides that
  never shuffle the fact table.
- **PF** — parquet scans carrying pushed filters.
- **cols** — columns read per scan (ReadSchema) — column-pruning
  evidence: a scan reading 7/16 lineitem columns shuffles 7.
- **notes** — single-partition constructs and their justification, if
  any (see whitelists in `tools/plan_audit.py`).

`tests/test_plans.py::test_plan_audit_all_queries_clean` enforces that
nothing here regresses into an unintended cartesian/global window.

| query | X | BC | PF | cols | notes |
|---|---|---|---|---|---|
"""


def row(name: str, fn) -> str:
    from engine.plans import inspect as plan_inspect

    spark = get_spark("dump-plans")
    # Arm a fresh per-query capture sink: eagerly-materialized
    # operators record their pre-checkpoint plans (tags) while fn()
    # builds the query, which lets the notes column say WHICH hidden
    # subplans are audited instead of a blanket blind-spot warning.
    outer = plan_inspect.ITERATION_PLAN_SINK
    plan_inspect.ITERATION_PLAN_SINK = {}
    try:
        df = fn(spark, SF_DIR)
        captured = dict(plan_inspect.ITERATION_PLAN_SINK)
    finally:
        plan_inspect.ITERATION_PLAN_SINK = outer
    if outer is not None:  # merge into the run-wide table (first wins)
        for tag, counts in captured.items():
            outer.setdefault(tag, counts)
    plan = formatted_plan(df)
    # Exchange counting lives in engine.plans.executed_exchange_ids
    # (plan_id-deduped so cached multi-consumer subtrees count once);
    # fall back to the formatted-plan count only when the executed plan
    # carries NO plan_id tags at all (an untagged plan string) — a
    # tagged plan with zero BroadcastExchange matches legitimately has
    # zero broadcasts, and the fallback would re-introduce the cached-
    # repeat overcounting the plan_id dedup exists to fix.
    try:
        ex_ids, bhj_ids = executed_exchange_ids(df)
        n_ex, n_bhj = len(ex_ids), len(bhj_ids)
    except ValueError:  # untagged plan string
        n_ex = len(re.findall(r"\(\d+\) Exchange\b", plan))
        n_bhj = len(
            set(re.findall(r"\(\d+\) Broadcast(?:Hash|NestedLoop)Join", plan))
        )
    # scans: dedupe identical (filters, schema) pairs — cached repeats
    # print the same scan text verbatim
    scans = set(
        re.findall(
            r"PushedFilters: \[([^\]]*)\][\s\S]*?ReadSchema: struct<([^>]*)>",
            plan,
        )
    )
    n_pf = len([f for f, _ in scans if f.strip()])
    scan_widths = [str(s.count(",") + 1) for _, s in sorted(scans)]
    notes = []
    if "SinglePartition" in plan:
        notes.append("1-part exchange (scalar agg / bounded rank)")
    from engine.plans import captured_rdd_ids as _cap_ids

    leaf_classes = rdd_leaf_classes(plan, _cap_ids(captured))
    if leaf_classes:
        # RDD-scan leaves hide whatever produced the RDD from this
        # row's counts; say exactly what hides there. 'local' leaves
        # are caller-supplied createDataFrame inputs (the engine's own
        # offsets/dims are LocalTableScans via engine.io.local_frame,
        # so a query plan should carry none); 'audited' leaves are
        # eager checkpoints whose pre-checkpoint plan was captured
        # this run (subplan table below, budget-gated in
        # test_plans.py); a 'blind' leaf is an unaudited hidden
        # subplan and should not exist.
        parts = []
        if "local" in leaf_classes:
            parts.append(
                f"{leaf_classes.count('local')} caller-supplied"
                " local-input RDD leaves (createDataFrame lists)"
            )
        if "audited" in leaf_classes:
            parts.append(
                "eager-checkpoint leaves audited below: "
                + ", ".join(sorted(captured))
            )
        if "blind" in leaf_classes:
            parts.append(
                "UNAUDITED work below RDD-scan leaves (add a capture tag)"
            )
        notes.append("; ".join(parts))
    return (
        f"| {name} | {n_ex} | {n_bhj} | {n_pf} | {'+'.join(scan_widths) or '-'} |"
        f" {'; '.join(notes)} |\n"
    )


def subplan_rows(got: dict) -> list[str]:
    """Format the run-wide capture table: pre-checkpoint exchange
    counts of every eagerly-materialized subplan (iterative chains AND
    the static-planned eager federations) — the work the RDD-scan
    leaves in the main table hide, collected while the rows above were
    built."""
    out = [
        "\nEager/iteration subplans (pre-checkpoint — the work the"
        " RDD-scan leaves above hide; budget-gated by\n"
        "`tests/test_plans.py::test_iteration_subplans_within_exchange_budget`"
        " and `test_eager_subplans_within_exchange_budget`):\n\n",
        "| chain | X | BC |\n|---|---|---|\n",
    ]
    for tag in sorted(got):
        out.append(f"| {tag} | {got[tag]['X']} | {got[tag]['BC']} |\n")
    return out


def main() -> None:
    from engine.plans import inspect as plan_inspect

    exported = all_queries()
    everything = all_queries_including_library()
    out = [HEADER]
    # Run-wide sink: row() arms a fresh per-query sink for note
    # attribution and merges each query's captures back here.
    plan_inspect.ITERATION_PLAN_SINK = {}
    try:
        for name in sorted(exported):
            out.append(row(name, exported[name].fn))
        out.append("\nLibrary layer (`exported=False` — same audit gate):\n\n")
        out.append(
            "| query | X | BC | PF | cols | notes |\n|---|---|---|---|---|---|\n"
        )
        for name in sorted(set(everything) - set(exported)):
            out.append(row(name, everything[name].fn))
        got = dict(plan_inspect.ITERATION_PLAN_SINK)
    finally:
        plan_inspect.ITERATION_PLAN_SINK = None
    out.extend(subplan_rows(got))
    with open(os.path.join(os.path.dirname(__file__), "..", "PLANS.md"), "w") as f:
        f.writelines(out)
    print(f"PLANS.md: {len(everything)} queries ({len(exported)} exported)")


if __name__ == "__main__":
    main()
