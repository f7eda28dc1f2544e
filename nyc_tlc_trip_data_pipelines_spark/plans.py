"""Physical-plan introspection helpers.

The project's scale contract (SURVEY.md §4, BASELINE.json north star) is
verified by reading plans, not guessing: filters must reach the scan
(``PushedFilters``), projections must prune (``ReadSchema``), small dims
must broadcast, and hot expressions must stay inside WholeStageCodegen.
These helpers make those assertions testable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def plan_string(df: DataFrame, mode: str = "formatted") -> str:
    """The explain output as a string (PySpark's .explain only prints)."""
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)  # type: ignore[attr-defined]


def has_pushed_filters(df: DataFrame) -> bool:
    """True if at least one scan in the plan carries pushed filters."""
    s = plan_string(df)
    return "PushedFilters: [" in s and "PushedFilters: []" not in s


def scan_read_schema(df: DataFrame) -> list[str]:
    """The ReadSchema fragments of every file scan — check column pruning."""
    return [line.strip() for line in plan_string(df).splitlines() if "ReadSchema" in line]


def uses_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in plan_string(df)


def exchange_count(df: DataFrame) -> int:
    """Number of shuffle exchanges in the physical plan — the scale cost
    driver. Lower is better; bucketing/broadcasting exist to remove these.
    Counted on the simple plan (formatted mode prints each node twice)."""
    s = plan_string(df, "simple")
    return sum(
        1
        for line in s.splitlines()
        if "Exchange" in line and "BroadcastExchange" not in line and "Reused" not in line
    )


def node_count(df: DataFrame, node: str) -> int:
    """Occurrences of a physical node name in the simple plan."""
    return plan_string(df, "simple").count(node)


def _tree_depth(line: str) -> int:
    """Depth of a node line in Spark's tree-art plan string: the column
    of its ``+-``/``:-`` marker (root lines have none → -1). Children
    sit exactly 3 columns right of their parent's marker."""
    for i in range(len(line) - 1):
        if line[i] in "+:" and line[i + 1] == "-":
            return i
    return -1


def serial_exchange_inputs_are_aggregated(df: DataFrame) -> bool:
    """The 100 TB serial-stage contract (round-10 verdict item 6): an
    ``Exchange SinglePartition`` funnels its whole input through ONE
    task, so it is only acceptable when that input is a post-aggregate
    sketch/grain table — never raw fact rows. Several statistics
    operators (KS, CUSUM, STL, ACF/CCF, equidepth) rely on exactly this
    argument ("the only serial window is sketch-sized"); this check
    makes it mechanical: True iff EVERY FileScan beneath every
    single-partition exchange has an Aggregate node between the scan
    and the exchange. A plan with no serial exchange is trivially True;
    a serial exchange sitting on an un-aggregated scan returns False.
    """
    lines = plan_string(df, "simple").splitlines()
    depths = [_tree_depth(ln) for ln in lines]
    agg_markers = ("HashAggregate", "SortAggregate", "ObjectHashAggregate")
    for i, ln in enumerate(lines):
        if "Exchange SinglePartition" not in ln:
            continue
        d = depths[i]
        # walk the subtree, tracking the aggregate-ancestor chain
        agg_stack: list[int] = []  # depths of aggregate nodes on the current path
        for j in range(i + 1, len(lines)):
            dj = depths[j]
            if dj <= d:
                break  # left the exchange's subtree
            while agg_stack and agg_stack[-1] >= dj:
                agg_stack.pop()  # moved to a sibling branch
            if any(m in lines[j] for m in agg_markers):
                agg_stack.append(dj)
            elif "Scan " in lines[j] or "FileScan" in lines[j]:
                if not agg_stack:
                    return False  # raw scan feeds the serial stage
    return True
