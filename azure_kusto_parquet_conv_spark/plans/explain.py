"""Physical-plan inspection: the feedback loop that keeps every operator
honest at scale. Tests assert on these (tests/test_plans.py) so a
regression that un-pushes a filter or turns a broadcast join into a
cartesian product fails CI, not a 100 TB run.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def executed_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def has_pushed_filters(df: DataFrame, fragment: str) -> bool:
    """True if the parquet scan's PushedFilters mentions ``fragment``."""
    plan = executed_plan(df)
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan):
        if fragment in m.group(1):
            return True
    return False


def read_schema(df: DataFrame) -> list[str]:
    """The column sets actually read from parquet (one per scan)."""
    plan = executed_plan(df)
    return re.findall(r"ReadSchema: (struct<[^\n]*)", plan)


def join_strategies(df: DataFrame) -> list[str]:
    """Physical join operators in the plan, in order of appearance."""
    plan = executed_plan(df)
    return re.findall(
        r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
        r"BroadcastNestedLoopJoin|CartesianProduct)", plan)


def assert_no_cartesian(df: DataFrame, allow_broadcast_nlj: bool = False):
    """Raise if the plan contains an unbounded cross product. Broadcast
    NLJ is allowed only when explicitly expected (intentional small-side
    cross joins like query x corpus kNN)."""
    bad = {"CartesianProduct"}
    if not allow_broadcast_nlj:
        bad.add("BroadcastNestedLoopJoin")
    found = [s for s in join_strategies(df) if s in bad]
    if found:
        raise AssertionError(
            f"plan contains {found}; refuse to ship an O(n^2) join:\n"
            + executed_plan(df)[:2000])


def analyzed_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().analyzed().toString()


_NODE_RE = re.compile(r"^([ :|]*)(\+-|:-)\s?(.*)$")


def _node_depth(line: str):
    """Tree depth of a plan line = offset of its +-/:- marker; the root
    line (no marker) is depth -1. None for blank/continuation lines."""
    m = _NODE_RE.match(line)
    if m:
        return len(m.group(1))
    return -1 if line.strip() else None


def broadcast_hint_subtrees(df: DataFrame) -> list[str]:
    """The ANALYZED-plan subtree under each explicit broadcast hint
    (``F.broadcast`` / KQL ``hint.strategy=broadcast``). The analyzed
    plan is used because optimization folds ResolvedHint into the join
    node and drops the build-side subtree association. Each returned
    string is the hinted frame's full lineage — what a forced broadcast
    would materialize on every executor, bypassing both
    autoBroadcastJoinThreshold and AQE's runtime size check."""
    lines = analyzed_plan(df).splitlines()
    out = []
    for i, line in enumerate(lines):
        if "ResolvedHint" not in line or "broadcast" not in line.lower():
            continue
        d = _node_depth(line)
        sub = []
        for nxt in lines[i + 1:]:
            nd = _node_depth(nxt)
            if nd is not None and nd <= d:
                break
            sub.append(nxt)
        out.append("\n".join(sub))
    return out


# One marker column per fixture table: seeing it inside a hinted subtree
# proves the hinted frame's lineage reads that table.
TABLE_MARKERS = {
    "customer": "c_custkey", "supplier": "s_suppkey", "part": "p_partkey",
    "orders": "o_orderkey", "lineitem": "l_orderkey", "events": "event_id",
    "documents": "doc_id", "embeddings": "vec_id",
    "nation": "n_nationkey", "region": "r_regionkey",
}
#: Tables whose row count grows with the input scale factor. nation and
#: region are bounded (25 / 5 rows at every SF) and excluded.
FACT_SCALE_TABLES = frozenset(TABLE_MARKERS) - {"nation", "region"}

_GLOBAL_AGG_RE = re.compile(r"Aggregate \[(?![^\n]*\], \[)")


def fact_scale_hint_violations(df: DataFrame) -> list[str]:
    """Hinted-broadcast subtrees whose lineage includes a fact-scale
    table scan and no global (1-row) aggregate above it — the class of
    plan that OOMs at the 100 TB design point (see PLANS.md). A global
    aggregate anywhere in the hinted lineage reduces it to a bounded
    scalar frame, which is always safe to hint."""
    bad = []
    for sub in broadcast_hint_subtrees(df):
        touches_fact = any(TABLE_MARKERS[t] in sub for t in FACT_SCALE_TABLES)
        if touches_fact and not _GLOBAL_AGG_RE.search(sub):
            bad.append(sub)
    return bad


def shuffle_count(df: DataFrame) -> int:
    """Number of exchanges in the plan (AQE may collapse some at runtime)."""
    return executed_plan(df).count("Exchange")
