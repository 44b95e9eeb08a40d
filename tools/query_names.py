"""Shared command-line check for the tools that take query names.

A name that is not registered is an error, not a skip: a gate run over
a stale name list would otherwise run nothing and still exit 0.
"""

from __future__ import annotations

import sys


def known_queries(names) -> dict:
    """The registered queries, once every name in ``names`` is one of
    them. An unknown name prints the sorted valid names on stderr and
    exits 2 — before any Spark session starts."""
    import __spark_entry__ as e

    qs = e.queries()
    unknown = [n for n in names if n not in qs]
    if unknown:
        print(f"unknown queries: {unknown}; valid names:", file=sys.stderr)
        print("\n".join(sorted(qs)), file=sys.stderr)
        raise SystemExit(2)
    return qs
