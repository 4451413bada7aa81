"""Helpers to interrogate a DataFrame's physical plan."""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    """`df.explain("formatted")` as a string.

    Read via queryExecution().explainString rather than capturing
    stdout: contextlib.redirect_stdout swaps the PROCESS-global
    sys.stdout, so two driver threads planning concurrently (the
    checkpoint_concurrently facet pools) would capture each other's
    output — one thread gets an empty string and its checkpoint leaf
    goes unaudited (flaked the round-11 plan audit)."""
    jdf = df._jdf
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return jdf.queryExecution().explainString(mode)


def pushed_filters(df: DataFrame) -> list[str]:
    """All PushedFilters entries across the plan's scans."""
    plan = formatted_plan(df)
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[(.*?)\]", plan):
        if m.group(1).strip():
            out.extend(p.strip() for p in m.group(1).split(","))
    return out


def has_broadcast_hash_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in formatted_plan(df)


def has_cartesian_product(df: DataFrame) -> bool:
    return "CartesianProduct" in formatted_plan(df)


def n_exchanges(df: DataFrame) -> int:
    """Shuffle exchanges in the plan (excluding broadcast exchanges)."""
    plan = formatted_plan(df)
    return len(re.findall(r"\(\d+\) Exchange\b", plan))


_EX_PATTERNS = (
    r"\bExchange (?:hash|range)?[Pp]artitioning[^\n]*?\[plan_id=(\d+)\]",
    r"\bExchange SinglePartition[^\n]*?\[plan_id=(\d+)\]",
)
_BC_PATTERN = r"BroadcastExchange [^\n]*?\[plan_id=(\d+)\]"


def executed_exchange_ids(df: DataFrame) -> tuple[set[str], set[str]]:
    """(shuffle plan_ids, broadcast plan_ids) from the EXECUTED plan.

    A persisted subtree prints its full lineage under every
    InMemoryTableScan that consumes it but executes once; the executed
    plan tags each physical node with a [plan_id=N] that is SHARED
    across repeats of the same cached subtree, so distinct plan_ids
    count per-execution work honestly. The single source of truth for
    exchange counting — used by tools/dump_plans.py (PLANS.md) and the
    plan-shape regression tests. Raises if the plan string carries no
    plan_id tags at all (counting would silently return 0)."""
    phys = df._jdf.queryExecution().executedPlan().toString()
    if "[plan_id=" not in phys:
        raise ValueError("executed plan carries no [plan_id=] tags")
    shuffles: set[str] = set()
    for pat in _EX_PATTERNS:
        shuffles |= set(re.findall(pat, phys))
    return shuffles, set(re.findall(_BC_PATTERN, phys))


def n_executed_exchanges(df: DataFrame) -> int:
    """Distinct shuffle exchanges actually executed (plan_id-deduped)."""
    return len(executed_exchange_ids(df)[0])


# -- ExistingRDD leaf classification ----------------------------------------
#
# Every ExistingRDD leaf's Arguments line names the RDD's producer call
# site — "at localCheckpoint at ..." for an eager checkpoint cut, "at
# applySchemaToPythonRDD at ..." for a frame a caller built with
# ``spark.createDataFrame(<list>)`` (a user's changeset, a test's
# fixture). The engine's own driver-held rows never leave such a leaf:
# ``engine.io.local_frame`` plans them as a LocalTableScan.
# Checkpoint leaves must be covered by a capture tag (the sink below)
# or they are a plan-audit blind spot; caller-supplied local inputs
# hide nothing worth auditing.

_RDD_LEAF_RE = re.compile(r"MapPartitionsRDD\[(\d+)\] at (\w+) at ")


def rdd_leaf_classes(plan: str, captured_rdd_ids: set) -> list[str]:
    """Classify every ExistingRDD leaf in a formatted plan string:
    'local' (a caller-supplied createDataFrame input), 'audited' (an
    eager checkpoint whose pre-checkpoint plan was captured — the
    leaf's RDD id appears in ``captured_rdd_ids``, see
    ``audited_checkpoint`` / ``captured_rdd_ids``), or 'blind'
    (unaudited hidden work — a regression the plan gate must fail).

    Checkpoint leaves are matched to capture sites INDIVIDUALLY by RDD
    id (round 7): the earlier count-only pairing let surplus tags
    recorded on checkpoint-free subplans mask one genuinely uncaptured
    checkpoint elsewhere in the same plan. The same checkpointed
    DataFrame referenced twice in one plan (self-join,
    union-with-self) carries the same RDD id, so it is one audit
    obligation matched once."""
    classes = []
    for m in _RDD_LEAF_RE.finditer(plan):
        rdd_id, producer = m.group(1), m.group(2)
        if producer == "applySchemaToPythonRDD":
            classes.append("local")
        elif producer == "localCheckpoint":
            classes.append(
                "audited" if rdd_id in captured_rdd_ids else "blind"
            )
        else:
            classes.append("blind")
    return classes


def captured_rdd_ids(sink: dict) -> set[str]:
    """The checkpoint RDD ids recorded by ``audited_checkpoint`` across
    every tag in an (armed-run) capture sink — the set
    ``rdd_leaf_classes`` matches leaves against. Tags recorded via bare
    ``record_iteration_plan`` (informational captures on subplans that
    are never themselves checkpointed) contribute nothing, by design."""
    out: set[str] = set()
    for entry in sink.values():
        out.update(entry.get("rdd_ids", ()))
    return out


# -- iteration-subplan capture ----------------------------------------------
#
# Iterative chains (pagerank, k-core peel, min-label components) cut
# lineage with localCheckpoint, so the plan a consumer (PLANS.md, the
# plan-audit gate) sees is an RDD-scan leaf with X=0 — the audit is
# blind exactly where the iteration lives. The cores therefore offer a
# capture hook: arm `ITERATION_PLAN_SINK` with a dict, run the
# operator, and each core records the PRE-checkpoint exchange counts
# of its first round (and, where the chain is lazy end-to-end, the
# whole chain) under a stable tag. Disarmed (None, the default) the
# hook is a no-op — production plans are unchanged and nothing extra
# is planned.

ITERATION_PLAN_SINK: dict[str, dict] | None = None


def record_iteration_plan(tag: str, df: DataFrame) -> None:
    """Record `df`'s exchange counts under `tag` if the sink is armed.

    Only the FIRST recording per tag sticks (a federated query may run
    the same core several times; round-1's plan is the representative
    one). Planning the DataFrame is the only cost, and only when
    armed."""
    if ITERATION_PLAN_SINK is None or tag in ITERATION_PLAN_SINK:
        return
    try:
        ex, bc = executed_exchange_ids(df)
        ITERATION_PLAN_SINK[tag] = {"X": len(ex), "BC": len(bc)}
    except ValueError:  # untagged plan string: fall back to text count
        plan = formatted_plan(df)
        ITERATION_PLAN_SINK[tag] = {
            "X": len(re.findall(r"\(\d+\) Exchange\b", plan)),
            "BC": plan.count("BroadcastExchange"),
        }


def audited_checkpoint(tag: str, df: DataFrame) -> DataFrame:
    """Record `df`'s pre-checkpoint exchange counts under `tag`, cut
    lineage with an eager localCheckpoint, and — when the sink is armed
    — append the resulting checkpoint RDD id to the tag's entry so
    ``rdd_leaf_classes`` can match each ExistingRDD leaf to its capture
    site INDIVIDUALLY. Loop bodies calling this every round accumulate
    one id per round under the same tag (the counts record round 1
    only; the final plan references the last round's checkpoint).
    Disarmed this is exactly ``record_iteration_plan`` (a no-op) +
    ``localCheckpoint`` — production plans pay nothing extra.

    SIZE CONTRACT: localCheckpoint is NOT fault-tolerant — the blocks
    live only in the executors' block managers, and losing one loses
    the data with no lineage to recompute. Every call site must
    therefore checkpoint a BOUNDED intermediate (an aggregate, a
    monotonically shrinking iteration state, a few-hundred-row facet
    result), never a fact table. When the sink is armed the audit
    enforces this: the checkpointed RDD's actual block-manager size is
    recorded under the tag (``ckpt_bytes`` — a driver-side storage-info
    lookup, no job) and ``tests/test_plans.py`` asserts every audited
    payload stays within budget at the test scale factors."""
    record_iteration_plan(tag, df)
    out = df.localCheckpoint()
    if ITERATION_PLAN_SINK is not None:
        m = _RDD_LEAF_RE.search(formatted_plan(out))
        if m and m.group(2) == "localCheckpoint":
            ITERATION_PLAN_SINK.setdefault(tag, {}).setdefault(
                "rdd_ids", []
            ).append(m.group(1))
        try:
            jsc = out.sparkSession.sparkContext._jsc.sc()
            sizes = {
                info.id(): info.memSize() + info.diskSize()
                for info in jsc.getRDDStorageInfo()
            }
            rid = int(m.group(1)) if m else None
            if rid in sizes:
                ITERATION_PLAN_SINK.setdefault(tag, {}).setdefault(
                    "ckpt_bytes", []
                ).append(sizes[rid])
        except Exception:
            pass  # audit-only signal; never fail the query path
    return out


def checkpoint_concurrently(pairs: list[tuple[str, DataFrame]]) -> list[DataFrame]:
    """Eagerly materialize several INDEPENDENT DataFrames at once:
    each is ``audited_checkpoint``-ed from its own driver thread, so
    their jobs (broadcast builds, AQE stage materializations, scans)
    interleave instead of serializing — one facet's straggler tail
    back-fills with the next facet's stages (optimization guide §2.6).

    Spark actions are only sequential because driver code calls them
    sequentially; federated union queries whose facets share no
    intermediate state have no ordering constraint at all. Measured on
    q7_q8_q9_nation_trade (three independent star joins, ~35 driver
    round trips serialized before): the facet jobs overlap to roughly
    the longest facet's wall. Returns the checkpointed frames in
    input order; checkpointed results are the facets' final (small,
    aggregated) outputs, recomputed on every invocation — nothing is
    reused across calls."""
    from concurrent.futures import ThreadPoolExecutor

    if len(pairs) == 1:
        return [audited_checkpoint(pairs[0][0], pairs[0][1])]
    with ThreadPoolExecutor(max_workers=len(pairs)) as pool:
        futs = [pool.submit(audited_checkpoint, t, df) for t, df in pairs]
        return [f.result() for f in futs]
