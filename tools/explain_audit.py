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


def _dedupe_cached(plan: str) -> str:
    """Drop REPRINTS of cached subplans (round-15 ADVICE): every
    InMemoryTableScan re-prints its InMemoryRelation's entire cached
    plan, so a pin consumed N times inflated shuffle/scan counts by
    N−1 copies and made the audit columns non-comparable for pinned
    plans. Spark's CacheManager keys cache entries on the CANONICALIZED
    plan, so deduping on the expr-id-normalized subtree counts each
    cache entry exactly once — the first print survives, later
    reprints keep only their one-line InMemoryRelation marker."""
    lines = plan.splitlines()
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
        if key in seen:
            out.append(line)  # keep the marker, drop the cached body
        else:
            seen.add(key)
            out.extend(block)
        i = j
    return "\n".join(out)


def _windows_over_agg(plan: str) -> list[bool]:
    """For every Window node: does its subtree hit an aggregation
    BEFORE any file scan? True means the window runs over a post-agg
    (bounded) frame — the invariant that makes a single-partition
    global window safe (round-15 verdict item: a global window over an
    unbounded key space would single-partition the corpus)."""
    lines = plan.splitlines()
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
    # The finalized adaptive plan prints "+- == Initial Plan ==" after
    # the real one — drop it or every count doubles.
    plan = plan.split("== Initial Plan ==")[0]
    plan = _dedupe_cached(plan)
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
