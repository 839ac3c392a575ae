"""Physical-plan audits: assertable properties of the plans we ship.

"Would this survive a 100× scale-up?" is checked here as code, not
prose: predicate pushdown reached the scan, small dimensions went
broadcast, nothing fell back to a cartesian product, and per-row
expression pipelines stay inside WholeStageCodegen.
"""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def pushed_filters(plan: str) -> bool:
    """True if the parquet scan received pushed filters."""
    return "PushedFilters: [" in plan and "PushedFilters: []" not in plan


def has_broadcast_join(plan: str) -> bool:
    return "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def has_cartesian(plan: str) -> bool:
    return "CartesianProduct" in plan


def has_sort_merge_join(plan: str) -> bool:
    return "SortMergeJoin" in plan


def shuffle_count(plan: str) -> int:
    """Number of data shuffles (hash/range/round-robin exchanges) in
    the plan. Broadcast exchanges are excluded — they move a dimension,
    not the data. The formatted plan prints one
    ``Arguments: <partitioning>(...`` detail line per Exchange node."""
    return len(
        re.findall(
            r"Arguments: (?:hashpartitioning|rangepartitioning|"
            r"RoundRobinPartitioning)\(",
            plan,
        )
    )


#: The node names of Spark's physical operators that run Python code:
#: the UDF/UDTF evaluators (``ArrowEvalPython``, ``BatchEvalPython``,
#: ``ArrowAggregatePython``, ``ArrowWindowPython``, their ``UDTF``
#: forms) and the pandas/Arrow function operators (``MapInPandas``,
#: ``MapInArrow``, ``FlatMapGroupsInPandas``, ``FlatMapCoGroupsInArrow``,
#: ...). A ``PythonUDF`` expression is not a node and does not match.
_PYTHON_NODE = re.compile(
    r"\b((?:Arrow|Batch)\w*Python(?:UDTF)?|\w+In(?:Pandas|Arrow)(?:WithState)?)\b"
)


def python_nodes(plan: str) -> list[str]:
    """The distinct Python-running node names in ``plan``, sorted: the
    places where rows leave the JVM for a Python worker."""
    return sorted(set(_PYTHON_NODE.findall(plan)))


def reads_only(plan: str, cols: set[str]) -> bool:
    """True if every parquet ReadSchema is a subset of ``cols`` —
    column pruning reached the scan."""
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        fields = {f.split(":")[0].strip() for f in m.group(1).split(",") if f.strip()}
        if not fields <= cols:
            return False
    return True


def _tree_lines(plan_str: str) -> list[tuple[int, str]]:
    """Parse a ``plan.toString()`` tree into (depth, node_text) pairs.

    Depth is the character position of the node marker (``+-`` or
    ``:-``); the root line has no marker and gets depth -1. Children
    sit exactly 3 columns deeper, so "subtree of node at depth d" is
    the run of following lines with depth > d.
    """
    out: list[tuple[int, str]] = []
    for line in plan_str.splitlines():
        if not line.strip():
            continue
        m = re.search(r"(\+-|:-) ", line)
        if m:
            out.append((m.start(), line[m.end():]))
        else:
            out.append((-1, line.strip()))
    return out


def _top_level_groups(s: str) -> list[str]:
    """Split ``[..], [..], [..]`` into its top-level bracket groups."""
    groups, depth, cur = [], 0, []
    for ch in s:
        if ch == "[":
            depth += 1
            if depth == 1:
                cur = []
                continue
        elif ch == "]":
            depth -= 1
            if depth == 0:
                groups.append("".join(cur))
                continue
        if depth >= 1:
            cur.append(ch)
    return groups


#: Node names whose presence below a global window proves the frame
#: was already REDUCED before the single-partition exchange: grouped
#: aggregation collapses to |keys| rows, limits/top-k are explicitly
#: bounded. (A join or project preserves cardinality and does NOT
#: count.)
_REDUCING_NODES = (
    "HashAggregate(",
    "SortAggregate(",
    "ObjectHashAggregate(",
    "TakeOrderedAndProject(",
    "GlobalLimit ",
    "CollectLimit ",
)


def unreduced_global_windows(df: DataFrame) -> list[tuple[str, str]]:
    """Classify every UNPARTITIONED Window in the physical plan whose
    input subtree contains no reducing node. Returns
    ``[(kind, node_text), ...]`` where kind is:

    - ``"raw"`` — the window's input subtree reaches a parquet
      FileScan with no aggregation/limit in between: the global sort
      moves CORPUS-sized data to one partition. This is the failure
      the audit exists to catch.
    - ``"checkpointed"`` — the input is a ``Scan ExistingRDD`` (a
      localCheckpoint cut the lineage), so the plan alone cannot show
      the reduction that produced it. These need a by-name whitelist
      entry documenting the frame's bound.

    This is the repo's scale posture as an assertion (SCALE.md:
    "global windows only over already-reduced frames"): a
    ``Window.orderBy`` with no ``partitionBy`` forces an Exchange
    SinglePartition, which is only acceptable when what flows into it
    is provably small — i.e. some aggregation or limit sits between
    the window and the scans.
    """
    lines = _tree_lines(df._jdf.queryExecution().executedPlan().toString())
    bad = []
    for i, (depth, text) in enumerate(lines):
        if not text.startswith("Window ["):
            continue
        groups = _top_level_groups(text[len("Window "):])
        if len(groups) >= 3:
            continue  # partitioned (exprs, partitionSpec, orderSpec)
        # Two groups is EITHER unpartitioned-ordered (exprs, orderSpec)
        # or partitioned-unordered (exprs, partitionSpec) — e.g. an
        # avg().over(partitionBy(k)) running aggregate. Only the former
        # moves all data to one partition; an order spec is
        # recognizable by its per-column sort direction markers.
        if len(groups) == 2 and not (
            " ASC" in groups[1] or " DESC" in groups[1]
        ):
            continue  # partitioned, no ordering
        end = i + 1
        while end < len(lines) and lines[end][0] > depth:
            end += 1
        if end > i + 1 and _reduced_output(lines, i + 1, end):
            continue  # provably reduced below the window
        subtree = [t2 for _, t2 in lines[i + 1:end]]
        raw = any("FileScan" in t2 for t2 in subtree)
        bad.append(("raw" if raw else "checkpointed", text[:120]))
    return bad


#: Nodes whose output cardinality is the PRODUCT/SUM of several
#: inputs: crediting a reduction found in ONE branch would be a false
#: negative (ADVICE r10 — a join of a reduced branch with an unreduced
#: FileScan branch is still corpus-sized). All branches must be
#: reduced for the node's output to count as reduced.
_MULTI_INPUT_NODES = (
    "BroadcastHashJoin",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
    "Union",
)


def _reduced_output(lines: list[tuple[int, str]], lo: int, hi: int) -> bool:
    """True if the node at ``lines[lo]`` (subtree in ``lines[lo+1:hi]``)
    provably emits an already-reduced (bounded) frame.

    Walks the DIRECT input path instead of grepping the whole subtree:
    a reducing node credits its ancestors only through unary operators
    (project/filter/exchange/sort preserve or shrink cardinality); at a
    join/union, every branch must independently be reduced, because the
    output is as large as its largest (or, for joins, the product of
    its) inputs. This closes the reduced-branch x FileScan-branch false
    negative the posture audit exists to catch.
    """
    text = lines[lo][1]
    if any(m in text for m in _REDUCING_NODES):
        return True
    # Locate direct children: the nodes at minimal depth in the run.
    children: list[tuple[int, int]] = []  # (child_lo, child_hi)
    j = lo + 1
    while j < hi:
        d2 = lines[j][0]
        k = j + 1
        while k < hi and lines[k][0] > d2:
            k += 1
        children.append((j, k))
        j = k
    if not children:
        return False  # leaf: FileScan / Scan ExistingRDD / reused exchange
    verdicts = [_reduced_output(lines, clo, chi) for clo, chi in children]
    if any(m in text for m in _MULTI_INPUT_NODES):
        return all(verdicts)
    return any(verdicts)
