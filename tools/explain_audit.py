"""Plan-quality audit: runs .explain over every registered query and
greps the physical plan for the properties that matter at 100 TB —
column pruning (ReadSchema), predicate pushdown (PushedFilters),
broadcast vs shuffle joins, whole-stage codegen coverage, Python
(Arrow) exchanges, and shuffle counts.

Usage: python tools/explain_audit.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _content_pos(line: str) -> int:
    """Column where a plan line's CONTENT starts (past the `+- :  `
    tree-drawing prefix) — the tree depth proxy the subtree walks
    below rely on."""
    m = re.search(r"[^ :+\-]", line)
    return m.start() if m is not None else len(line)


def _tree_lines(plan: str) -> list[str]:
    """The plan's tree lines. An expression that holds a newline (a
    regex literal over whitespace, say) prints across several lines;
    after the first line every tree line starts with indentation or a
    tree-drawing prefix, so a line that starts with anything else
    continues the line above it."""
    lines: list[str] = []
    for line in plan.splitlines():
        if lines and _content_pos(line) == 0:
            lines[-1] += "\n" + line
        else:
            lines.append(line)
    return lines


_HEADER = re.compile(r"^( *)\+- == (Final|Current|Initial) Plan ==")

#: Nodes that print no child line: scans (an InMemoryTableScan's
#: relation is an inner child, two levels down) and finished adaptive
#: plans (their plans print under headers; an unexecuted one prints
#: its plan as its child).
_LEAVES = ("FileScan", "Scan", "LocalTableScan", "Range", "ReusedExchange",
           "BatchScan", "InMemoryTableScan", "AdaptiveSparkPlan")


def _node_name(content: str) -> str:
    name = re.sub(r"^\*\(\d+\) ", "", content).split(" ", 1)[0]
    if name == "AdaptiveSparkPlan" and "isFinalPlan=true" not in content:
        return "AdaptiveSparkPlan(unfinished)"
    return name


class _Section:
    """One tree printed from column ``base``: the whole plan, or the
    body under one ``== ... Plan ==`` header."""

    def __init__(self, base: int, depth: int, dropped: bool = False,
                 initial: bool = False):
        self.base = base
        self.depth = depth  # true depth of the section's root
        self.dropped = dropped  # inside an initial plan
        self.initial = initial  # the body of an initial-plan header itself
        self.last = -1  # level of the section's last line
        self.more: dict[int, bool] = {}  # level -> printed ":-"
        self.names: dict[int, str] = {}  # level -> node name
        # header column of each adaptive node -> (its depth, headers seen)
        self.adaptive: dict[int, tuple[int, int]] = {}

    def takes(self, level: int, name: str, executed: bool) -> bool:
        if self.initial and executed and "InMemoryRelation" not in (
            self.names.get(k) for k in range(level)
        ):
            return False
        if self.last < 0:
            return level == 0
        if level == self.last + 1:
            return self.names[self.last] not in _LEAVES
        if level == self.last + 2:
            return (
                "Subquery" in name
                or name == "InMemoryRelation"
                or self.names.get(level - 2) == "InMemoryRelation"
            )
        return 1 <= level <= self.last and self.more.get(level, False)


def _final_tree(plan: str) -> str:
    """The executed plan's tree without its initial plans, each line
    re-indented to its true depth.

    A finalized adaptive plan prints its initial plan after the final
    one, and so does every adaptive plan nested in it (a cached relation
    built over an exchange, a dynamic-pruning subquery). Spark prints a
    nested plan's ``== Final Plan ==`` / ``== Initial Plan ==`` headers
    at 3 × the adaptive node's depth within the tree section it sits
    in, not at the node's column, and the section's body below at that
    column + 3; the enclosing tree then resumes at its own columns, its
    `:` marks lost. So indentation alone cannot delimit a block: each
    section is followed as a tree. A line continues a section when it
    is a child of the section's last line (one level deeper; two for an
    inner child — a cached relation, its plan, a subquery), or a later
    sibling of a node printed with `:-` (more siblings to come); a leaf
    has no child, and an executed node (a query stage, a codegen id)
    sits in an initial plan only under a cached relation. Anything else
    closes the section and is tried against the one around it. Initial-plan
    sections and header lines are dropped."""
    top = _Section(base=0, depth=0)
    stack = [top]
    out: list[str] = []
    for line in _tree_lines(plan):
        m = _HEADER.match(line)
        if m:
            # The innermost adaptive node at this column still waiting
            # for this header: its first one, then its initial plan.
            col, initial = len(m.group(1)), m.group(2) == "Initial"
            owners = [k for k, sec in enumerate(stack)
                      if sec.adaptive.get(col, (0, 2))[1] == int(initial)]
            if not owners:
                continue
            del stack[owners[-1] + 1:]
            sec = stack[-1]
            depth = sec.adaptive[col][0]
            sec.adaptive[col] = (depth, int(initial) + 1)
            stack.append(_Section(col + 3, depth + 1, sec.dropped or initial, initial))
            continue
        cp = _content_pos(line)
        first = len(line) - len(line.lstrip(" "))
        name = _node_name(line[cp:])
        # Query stages and codegen ids exist only once a plan has run:
        # in an initial plan they appear only under a cached relation.
        executed = "QueryStage" in name or name == "AQEShuffleRead" or bool(
            re.match(r"\*\(\d+\) ", line[cp:])
        )
        while True:
            sec = stack[-1]
            rel = cp - sec.base
            level = rel // 3
            fits = first >= sec.base and rel % 3 == 0 and sec.takes(level, name, executed)
            if fits or sec is top:
                break
            stack.pop()
        level = max(level, 0)
        sec.last = level
        sec.more[level] = line[cp - 3:cp - 1] == ":-"
        sec.names[level] = name
        depth = sec.depth + level
        if name.startswith("AdaptiveSparkPlan"):
            sec.adaptive[3 * level] = (depth, 0)
        if not sec.dropped:
            out.append("   " * depth + ("+- " if depth else "") + line[cp:])
    return "\n".join(out)


def _dedupe_cached(plan: str) -> str:
    """Drop REPRINTS of cached subplans (round-15 ADVICE): every
    InMemoryTableScan re-prints its InMemoryRelation's entire cached
    plan, so a pin consumed N times inflated shuffle/scan counts by
    N−1 copies and made the audit columns non-comparable for pinned
    plans. Spark's CacheManager keys cache entries on the CANONICALIZED
    plan, so deduping on the expr-id-normalized subtree counts each
    cache entry exactly once — the first print survives, later
    reprints keep only their one-line InMemoryRelation marker."""
    lines = _tree_lines(plan)
    out: list[str] = []
    seen: set[str] = set()
    i = 0
    while i < len(lines):
        line = lines[i]
        if "InMemoryRelation" not in line:
            out.append(line)
            i += 1
            continue
        pos = _content_pos(line)
        j = i + 1
        block = [line]
        while j < len(lines) and _content_pos(lines[j]) > pos:
            block.append(lines[j])
            j += 1
        # Key on tree-prefix-stripped content: reprints of the same
        # cache entry sit at different depths (different `:  +-`
        # prefixes) and carry fresh expr/codegen ids.
        body = "\n".join(ln[_content_pos(ln):] for ln in block)
        key = re.sub(r"#\d+L?|plan_id=\d+|\*\(\d+\)", "#", body)
        out.append(line)
        if key in seen:
            i = j  # keep the marker, drop the cached body
        else:
            # Walk into the first print: it holds the reprints of the
            # cached relations its own plan reads.
            seen.add(key)
            i += 1
    return "\n".join(out)


def _windows_over_agg(plan: str) -> list[bool]:
    """For every Window node: does its subtree hit an aggregation
    BEFORE any file scan? True means the window runs over a post-agg
    (bounded) frame — the invariant that makes a single-partition
    global window safe (round-15 verdict item: a global window over an
    unbounded key space would single-partition the corpus)."""
    lines = _tree_lines(plan)
    flags: list[bool] = []
    for i, line in enumerate(lines):
        if not re.search(r"\bWindow(GroupLimit)? \[", line):
            continue
        pos = _content_pos(line)
        verdict = False
        for below in lines[i + 1:]:
            if _content_pos(below) <= pos:
                break
            if "HashAggregate" in below or "SortAggregate" in below:
                verdict = True
                break
            if "Scan parquet" in below or "FileScan" in below:
                break
        flags.append(verdict)
    return flags


def parse_plan(name: str, plan: str) -> dict:
    """Extract the 100 TB-relevant metrics from one physical-plan
    string — shared by the batch audit below and the streaming audit
    (tools/stream_explain.py parses micro-batch executed plans with
    the SAME extraction so the EXPLAIN.md columns mean one thing)."""
    plan = _dedupe_cached(_final_tree(plan))
    # toString truncates long schema lists mid-entry ("struct<a:int,b..."
    # with no closing '>'), so capture to end-of-line and trim. A
    # zero-column count(*) scan renders as an explicit sentinel, not ''
    # (round-15 ADVICE: the empty string read as a typo in test pins).
    scans = [
        s.rstrip(">").rstrip(".") or "<no-columns>"
        for s in re.findall(r"ReadSchema: struct<([^\n]*)", plan)
    ]
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    return {
        "query": name,
        "shuffles": plan.count("Exchange"),
        "broadcast_joins": plan.count("BroadcastHashJoin")
        + plan.count("BroadcastNestedLoopJoin"),
        "sortmerge_joins": plan.count("SortMergeJoin"),
        "codegen_spans": len(set(re.findall(r"\*\((\d+)\)", plan))),
        "python_stages": plan.count("ArrowEvalPython")
        + plan.count("MapInPandas")
        + plan.count("MapInArrow")
        + plan.count("FlatMapGroupsInPandas"),
        "scan_cols": [s[:80] for s in scans],
        "pushed_filters": [p for p in pushed if p],
        "windows_over_agg": _windows_over_agg(plan),
    }


def audit(name: str, fn, spark, sf_dir: str) -> dict:
    df = fn(spark, sf_dir)
    # Execute THIS DataFrame first (collect, not count — count spawns a
    # different query execution): AQE's pre-execution plan hides
    # codegen spans (isFinalPlan=false prints no *(n) markers) and
    # shows FileScans that a materialized cache will replace.
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    return parse_plan(name, plan)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    from query_names import known_queries

    qs = known_queries(only)

    from dist_mapreduce_spark.session import get_spark

    spark = get_spark("explain_audit")
    for name, fn in qs.items():
        if only and name not in only:
            continue
        if name.startswith("stream_"):
            continue  # streaming plans need an active query
        try:
            info = audit(name, fn, spark, sf_dir)
        except Exception as ex:  # noqa: BLE001
            print(f"{name}: ERROR {ex}")
            continue
        print(
            f"{info['query']:28s} shuffles={info['shuffles']} "
            f"bcast={info['broadcast_joins']} smj={info['sortmerge_joins']} "
            f"codegen={info['codegen_spans']} py={info['python_stages']} "
            f"scans={info['scan_cols']}"
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
