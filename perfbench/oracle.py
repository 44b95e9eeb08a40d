"""Output checks, run outside every timed region.

Query outputs are compared with the registry's DuckDB ``oracle_sql``
over the same parquet files, using the gate's own canonicalization
(``tools/check_correctness.py``: columns sorted by name, rows sorted by
all columns, floats equal within 1e-9). Word-count job outputs are
compared with a Python count over the job's input files.
"""

from __future__ import annotations

import collections
import hashlib
import os
import re

import duckdb
import pandas as pd

from tools.check_correctness import canon, values_equal

TOKEN = re.compile(r"[^a-zA-Z]+")


class Oracle:
    """DuckDB oracle results, cached by input checksum plus the oracle
    SQL, for the life of one run."""

    def __init__(self, oracles: dict[str, str], spill_dir: str, threads: int) -> None:
        self.oracles = oracles
        self.spill_dir = spill_dir
        self.threads = threads
        self._cache: dict[tuple[str, str], pd.DataFrame] = {}

    def expected(self, name: str, data_dir: str, data_sha: str) -> pd.DataFrame:
        if name == "dedup_cluster":
            # Same fixpoint as its oracle_sql (transitive closure of the
            # dedup_minhash oracle's pairs, min doc_id per component);
            # the recursive-CTE form took 17 s on 4k documents.
            return self._cache_get(name, data_sha, lambda: _components(
                self.expected("dedup_minhash", data_dir, data_sha), data_dir))
        return self._cache_get(name, data_sha, lambda: self._duck(name, data_dir))

    def _cache_get(self, name: str, data_sha: str, compute) -> pd.DataFrame:
        sql = self.oracles.get(name, name)
        key = (data_sha, hashlib.sha256(sql.encode()).hexdigest())
        if key not in self._cache:
            self._cache[key] = compute()
        return self._cache[key]

    def _duck(self, name: str, data_dir: str) -> pd.DataFrame:
        con = duckdb.connect()
        try:
            con.execute(f"SET threads TO {self.threads}")
            con.execute("SET memory_limit='2GB'")
            con.execute(f"SET temp_directory='{self.spill_dir}'")
            for f in sorted(os.listdir(data_dir)):
                if f.endswith(".parquet"):
                    path = os.path.join(data_dir, f)
                    con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{path}'")
            return canon(con.execute(self.oracles[name]).fetchdf())
        finally:
            con.close()

    def check(self, name: str, got: pd.DataFrame, data_dir: str, data_sha: str) -> str | None:
        """None when ``got`` matches the oracle, else a reason."""
        if name not in self.oracles:
            return f"{name} has no oracle"
        want = self.expected(name, data_dir, data_sha)
        if sorted(got.columns) != list(want.columns):
            return f"columns {sorted(got.columns)} != {list(want.columns)}"
        if len(got) != len(want):
            return f"rows {len(got)} != {len(want)}"
        _exact, approx = values_equal(canon(got), want)
        return None if approx else "values differ beyond 1e-9"


def _components(pairs: pd.DataFrame, data_dir: str) -> pd.DataFrame:
    """Union-find over the near-duplicate pairs: every document with the
    smallest doc_id of its component."""
    docs = duckdb.sql(
        f"SELECT doc_id FROM '{os.path.join(data_dir, 'documents.parquet')}'"
    ).fetchdf()["doc_id"].tolist()
    parent = {d: d for d in docs}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(pairs["doc_a"].tolist(), pairs["doc_b"].tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    canonical = [find(d) for d in docs]
    return canon(pd.DataFrame({
        "doc_id": docs,
        "canonical_id": canonical,
        "is_dup": [c != d for c, d in zip(canonical, docs)],
    }))


class WordCounts:
    """Reference word counts (case-sensitive, ``[^a-zA-Z]+`` separator)
    per input file, summed per job."""

    def __init__(self) -> None:
        self._per_file: dict[str, collections.Counter] = {}

    def expected(self, files: list[str]) -> collections.Counter:
        total: collections.Counter = collections.Counter()
        for p in files:
            if p not in self._per_file:
                with open(p) as f:
                    self._per_file[p] = collections.Counter(
                        w for w in TOKEN.split(f.read()) if w
                    )
            total.update(self._per_file[p])
        return total

    def check(self, files: list[str], out_dir: str) -> str | None:
        """None when ``out_dir`` holds exactly the expected "word count"
        lines, each part file sorted by word, else a reason."""
        if not os.path.isdir(out_dir):
            return "no output directory"
        got: dict[str, int] = {}
        for part in sorted(os.listdir(out_dir)):
            if not part.startswith("part-"):
                continue
            with open(os.path.join(out_dir, part)) as f:
                words = []
                for line in f.read().splitlines():
                    word, cnt = line.split(" ")
                    if word in got:
                        return f"{word!r} in two part files"
                    got[word] = int(cnt)
                    words.append(word)
            if words != sorted(words):
                return f"{part} is not sorted"
        return None if got == dict(self.expected(files)) else "counts differ"
