"""Format `check_correctness.py` logs into docs/LOCAL_GATE.md.

Usage: python tools/make_local_gate.py <sf0.01.log> <sf0.1.log> <sf0.001.log> \
           [> docs/LOCAL_GATE.md]

Reads PASS lines, FAIL lines (both the `(N rows, Xs)`-suffixed form and
the `FAIL name: reason` error form), and `ok?` rows-only lines
(tolerating interleaved Spark progress bars). Rows of queries that are
no longer registered are dropped, and the output names each dropped
row, so an older log can still certify the queries that remain. Emits
a computed (never hardcoded) summary per scale, docs/LOCAL_GATE_NOTES.md
verbatim (provenance and addenda that logs cannot carry), and the
sf0.01 table sorted by query name. FAIL /
rows-only rows are surfaced in the table and the summary, and the exit
code is nonzero if any exist — the formatter must be able to report a
failure, not just celebrate.
"""

from __future__ import annotations

import datetime
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
NOTES = os.path.join(REPO, "docs", "LOCAL_GATE_NOTES.md")

PASS_LINE = re.compile(r"^(PASS)\s+(\S+) \((\d+) rows, ([\d.]+)s\)", re.M)
FAIL_LINE = re.compile(r"^(FAIL)\s+(\S+?):\s*(.+)$", re.M)
ROWS_ONLY = re.compile(r"^(ok\?)\s+(\S+?):\s*rows-only \((\d+) rows", re.M)


def parse(path: str, registered: set) -> tuple[dict, dict, dict, list]:
    """(passes, fails, rows_only, dropped) for one log, restricted to
    registered queries; dropped lists the unregistered names seen."""
    text = open(path).read().replace("\r", "\n")
    passes = {
        m.group(2): (int(m.group(3)), float(m.group(4)))
        for m in PASS_LINE.finditer(text)
    }
    fails = {m.group(2): m.group(3) for m in FAIL_LINE.finditer(text)}
    rows_only = {m.group(2): int(m.group(3)) for m in ROWS_ONLY.finditer(text)}
    seen = set(passes) | set(fails) | set(rows_only)
    dropped = sorted(seen - registered)
    keep = [
        {k: v for k, v in d.items() if k in registered}
        for d in (passes, fails, rows_only)
    ]
    return keep[0], keep[1], keep[2], dropped


def main() -> int:
    args = sys.argv[1:]
    if len(args) != 3:
        print(__doc__, file=sys.stderr)
        return 2
    import __spark_entry__ as e

    registered = set(e.queries())
    scales = [
        (label, path, *parse(path, registered))
        for label, path in zip(("sf0.01", "sf0.1", "sf0.001"), args)
    ]
    _, _, passes, fails, rows_only, _ = scales[0]
    total = len(passes) + len(fails) + len(rows_only)
    summary = {}
    for label, _path, p, f, r, _d in scales:
        summary[label] = (
            f"**{len(p)}/{len(p) + len(f) + len(r)} PASS**, {len(f)} FAIL,"
            f" {len(r)} rows-only"
        )
    today = datetime.date.today().isoformat()
    print(f"""# LOCAL_GATE — full oracle gate, all registered queries

`python tools/check_correctness.py <testdata>/sf0.01` over every
`queries()` entry — the same Spark-vs-DuckDB compare the driver runs,
but for the full registry, not the driver's fixed 50-query sample.
Formatted: {today}.

**Result: {len(passes)}/{total} PASS**, {len(fails)} FAIL,
{len(rows_only)} rows-only. Timings are single-run informational
within one warm session; the first rows carry session warm-up, and
expression-heavy rows (winnow, bpe, lsh) their one-time codegen /
oracle-fold cost.

The same full gate also runs at **sf0.1 (10× the driver's scale)**:
{summary["sf0.1"]}.

A third sweep runs at **sf0.001 (1/10th the driver's scale —
degenerate-cardinality regime: 13-cell IVF, empty candidate sets,
single-row groups)**: {summary["sf0.001"]}.
""")
    for label, path, _p, f, _r, dropped in scales:
        print(f"- {label} log: `{os.path.relpath(path)}`", end="")
        if dropped:
            names = ", ".join(f"`{n}`" for n in dropped)
            print(f"; dropped rows of unregistered queries: {names}", end="")
        print()
        for name, reason in sorted(f.items()):
            print(f"- {label} FAIL `{name}`: {reason}")
    print("\n" + open(NOTES).read().strip())
    print("""
| query | status | rows | sec |
|---|---|---|---|""")
    for name in sorted(set(passes) | set(fails) | set(rows_only)):
        if name in passes:
            n, sec = passes[name]
            print(f"| `{name}` | PASS | {n} | {sec:.1f} |")
        elif name in rows_only:
            print(f"| `{name}` | rows-only | {rows_only[name]} | — |")
        else:
            print(f"| `{name}` | **FAIL** | — | — |")
    bad = any(f or r for _l, _p, _ps, f, r, _d in scales)
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
