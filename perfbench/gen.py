"""Seeded input generators. Every function takes the workload seed (or
an rng derived from it) and writes only under the directory it is
given, so the same seed always yields byte-identical inputs.

The tables mimic the distributions of the repo's TPC-H-ish star schema
at sf0.1 (independent uniform columns, Poisson(4) lines per order, a
31-word document vocabulary); the LLM corpus and the job files are
derived from the same document generator.
"""

from __future__ import annotations

import hashlib
import os
import threading

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = np.array(
    "spark window merge table column vector stream value data small join filter"
    " big group hash customer sort order slow line part fast row the agg key"
    " query a scan batch".split()
)
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
DAY_US = 86_400 * 1_000_000
#: Scale factor of the relational tables.
SF = 0.1
#: Embeddings: dimension and the noise around each cluster centre.
DIM, NOISE = 64, 0.12
#: Corpus snapshots: share of documents in near-duplicate families, and
#: the token edit rate of a family member.
DUP_FRAC, EDIT_RATE = 0.6, 0.08
#: Word-count job inputs: number of text files and their size.
N_FILES, FILE_KB = 64, 23
#: Job specs: a job reads 1..MAX_FILES files with nReduce in 1..MAX_REDUCE.
MAX_FILES, MAX_REDUCE = 16, 8
#: job_api open-loop arrival rate. Four closed-loop clients complete
#: ~4.4 jobs/s on 4 cores, so 1.6/s offers about a third of that; over
#: 10 s that is one whole block of MAX_FILES job sizes (see JobSpecs).
JOB_RATE = 1.6


def file_sha(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()[:16]


def dir_sha(paths: list[str]) -> str:
    """Checksum of several files, order-sensitive."""
    return hashlib.sha256("".join(file_sha(p) for p in paths).encode()).hexdigest()[:16]


def _write(out_dir: str, name: str, cols: dict) -> dict:
    path = os.path.join(out_dir, f"{name}.parquet")
    table = pa.table(cols)
    pq.write_table(table, path, compression="snappy")
    return {"rows": table.num_rows, "bytes": os.path.getsize(path), "sha": file_sha(path)}


def _ts(base: str, us: np.ndarray) -> pa.Array:
    return pa.array(np.datetime64(base, "us") + us.astype("timedelta64[us]"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _doc_texts(rng, n: int, lo: int = 10, hi: int = 100) -> list[str]:
    lens = rng.integers(lo, hi + 1, n)
    words = VOCAB[rng.integers(0, len(VOCAB), int(lens.sum()))]
    out, i = [], 0
    for k in lens:
        out.append(" ".join(words[i : i + k]))
        i += k
    return out


def _documents(rng, texts: list[str]) -> dict:
    n = len(texts)
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(LANGS[rng.choice(len(LANGS), n, p=LANG_P)]),
        "source": pa.array(np.char.add("src", rng.integers(0, 20, n).astype(str))),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def _embeddings(rng, n: int, n_labels: int = 10) -> dict:
    """Unit-norm vectors around n_labels random centres."""
    centres = rng.standard_normal((n_labels, DIM))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    label = rng.integers(0, n_labels, n)
    v = centres[label] + NOISE * rng.standard_normal((n, DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    }


def relational_tables(seed: int, out_dir: str) -> dict:
    """The ten star-schema tables at scale ``SF``; returns per-table
    rows, bytes and checksum."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part = int(150_000 * SF), int(10_000 * SF), int(200_000 * SF)
    n_ord, n_line, n_ev = int(1_500_000 * SF), int(6_000_000 * SF), int(1_000_000 * SF)
    n_docs, n_vecs = int(50_000 * SF), int(20_000 * SF)
    ord_span = int((np.datetime64("2001-08-01") - np.datetime64("1995-01-01")).astype(int))
    ship_span = int((np.datetime64("2001-11-04") - np.datetime64("1995-01-02")).astype(int))
    colors = "blue cold hot red small new old large".split()
    nouns = "ring plate gear rod bolt anvil widget cap".split()
    meta = {}
    meta["region"] = _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    })
    meta["nation"] = _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    meta["customer"] = _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(np.array(
            ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
        )[rng.integers(0, 5, n_cust)]),
    })
    meta["supplier"] = _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })
    pk = np.arange(n_part, dtype=np.int64)
    meta["part"] = _write(out_dir, "part", {
        "p_partkey": pa.array(pk),
        "p_name": pa.array(np.char.add(
            np.char.add(np.array(colors)[rng.integers(0, 8, n_part)], " "),
            np.array(nouns)[rng.integers(0, 8, n_part)],
        )),
        "p_brand": pa.array(np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str))),
        "p_type": pa.array(np.array(
            ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
        )[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) * 0.1, 2)),
    })
    meta["orders"] = _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": pa.array(np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, ord_span + 1, n_ord) * DAY_US),
        "o_orderpriority": pa.array(np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        )[rng.integers(0, 5, n_ord)]),
    })
    meta["lineitem"] = _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_line)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)]),
        "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, n_line)]),
        "l_shipdate": _ts("1995-01-02", rng.integers(0, ship_span + 1, n_line) * DAY_US),
    })
    ev_us = np.sort(rng.integers(0, 30 * DAY_US, n_ev))
    meta["events"] = _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": _ts("2024-01-01", ev_us),
        "user_id": pa.array(rng.integers(0, 1500, n_ev)),
        "event_type": pa.array(np.array(
            ["signup", "click", "error", "view", "purchase"]
        )[rng.integers(0, 5, n_ev)]),
        "value": pa.array(np.round(np.minimum(rng.exponential(50.0, n_ev), 560.0), 2)),
        "props": pa.array(np.char.add(
            np.char.add('{"k": ', rng.integers(0, 100, n_ev).astype(str)), "}"
        )),
    })
    texts = _doc_texts(rng, n_docs)
    for i in rng.choice(n_docs, 8, replace=False):  # a few exact copies
        texts[i] = texts[(i + 1) % n_docs]
    meta["documents"] = _write(out_dir, "documents", _documents(rng, texts))
    meta["embeddings"] = _write(out_dir, "embeddings", _embeddings(rng, n_vecs))
    return meta


def _edit(rng, toks: list[str]) -> list[str]:
    """Token-level substitutions, deletions and insertions at ``EDIT_RATE``."""
    out = []
    for t in toks:
        r = rng.random()
        if r < EDIT_RATE / 3:
            continue
        if r < 2 * EDIT_RATE / 3:
            out.append(str(VOCAB[rng.integers(len(VOCAB))]))
        elif r < EDIT_RATE:
            out.extend((t, str(VOCAB[rng.integers(len(VOCAB))])))
        else:
            out.append(t)
    return out or toks[:1]


def corpus(seed: int, snapshot: int, out_dir: str, n_docs: int, n_vecs: int) -> dict:
    """One corpus snapshot: ``documents`` in heavy-tailed near-duplicate
    families (Zipf family sizes; members are copies of the family base
    with ``EDIT_RATE`` token edits, or exact / case-and-space variants)
    plus unrelated filler, and clustered unit-norm ``embeddings``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 2, snapshot])
    texts: list[str] = []
    while len(texts) < DUP_FRAC * n_docs:
        size = int(min(rng.zipf(1.8) + 1, 150))
        base = _doc_texts(rng, 1, 30, 100)[0].split()
        texts.append(" ".join(base))
        for _ in range(size - 1):
            kind = rng.random()
            if kind < 0.15:
                texts.append(" ".join(base))
            elif kind < 0.25:
                texts.append("  " + " ".join(base).upper() + " ")
            else:
                texts.append(" ".join(_edit(rng, base)))
    texts = texts[: int(DUP_FRAC * n_docs)]
    texts += _doc_texts(rng, n_docs - len(texts), 30, 100)
    perm = rng.permutation(n_docs)
    texts = [texts[i] for i in perm]
    return {
        "documents": _write(out_dir, "documents", _documents(rng, texts)),
        "embeddings": _write(out_dir, "embeddings", _embeddings(rng, n_vecs, n_labels=16)),
    }


def job_inputs(seed: int, out_dir: str) -> dict:
    """Word-count job inputs: ``N_FILES`` text files of about
    ``FILE_KB`` KB, with mixed case and punctuation so the
    ``[^a-zA-Z]+`` tokenizer matters."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 3])
    seps = np.array([" ", " ", " ", ", ", ". ", "\n", " - ", "'s ", "; ", "!\n"])
    paths = []
    for i in range(N_FILES):
        n_words = int(FILE_KB * 1024 / 6.5)
        words = VOCAB[rng.integers(0, len(VOCAB), n_words)].astype(object)
        caps = rng.random(n_words) < 0.1
        words[caps] = [w.capitalize() for w in words[caps]]
        sep = seps[rng.integers(0, len(seps), n_words)]
        text = "".join(w + s for w, s in zip(words, sep))
        path = os.path.join(out_dir, f"input-{i:03d}.txt")
        with open(path, "w") as f:
            f.write(text)
        paths.append(path)
    return {"paths": paths, "bytes": sum(os.path.getsize(p) for p in paths), "sha": dir_sha(paths)}


class JobSpecs:
    """A seeded stream of job specs ``(files, nReduce)``. Specs come in
    blocks of the same MAX_FILES pairs: file count k = 1..MAX_FILES,
    each with nReduce 1 + (k * 5) % MAX_REDUCE, so every nReduce occurs
    equally often and every run sees the same mix of job sizes. The
    seed sets the order within each block and which files a job reads.
    Thread-safe."""

    def __init__(self, seed: int, stream: int, paths: list[str]) -> None:
        self.rng = np.random.default_rng([seed, 4, stream])
        self.paths = paths
        self.block = [(k, 1 + (k * 5) % MAX_REDUCE) for k in range(1, MAX_FILES + 1)]
        self._pending: list[tuple[int, int]] = []
        self._lock = threading.Lock()

    def next(self) -> tuple[list[str], int]:
        with self._lock:
            if not self._pending:
                self._pending = [self.block[i] for i in self.rng.permutation(len(self.block))]
            k, n_reduce = self._pending.pop()
            picks = sorted(self.rng.choice(len(self.paths), k, replace=False))
        return [self.paths[i] for i in picks], n_reduce


def arrivals(seed: int, seconds: float) -> list[float]:
    """Open-loop send offsets in [0, seconds): ``JOB_RATE * seconds``
    arrivals whose gaps are the evenly spaced quantiles of an
    exponential distribution, in seeded order. Every run thus offers
    the same load and the same set of gaps; the seed sets which bursts
    come where."""
    n = max(1, round(JOB_RATE * seconds))
    gaps = -np.log(1.0 - (np.arange(n) + 0.5) / n)
    t = np.cumsum(np.random.default_rng([seed, 5]).permutation(gaps))
    return (np.concatenate(([0.0], t[:-1])) / t[-1] * seconds).tolist()
