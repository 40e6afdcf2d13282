"""Seeded input generator for the benchmark workloads.

Every table the engine's registry reads is written as one parquet file
with the schemas of the fixture testdata (one row group per file, the
same arrow types, timestamps as naive ``timestamp[us]``).  All values
come from ``numpy.random.default_rng(seed)``; nothing depends on the
wall clock, so the same seed writes the same bytes.

Two recipes:

- :func:`write_relational` -- the TPC-H-shaped star schema plus the
  ``events`` stream table, the 31-word ``documents`` corpus and
  clustered 64-d ``embeddings``, at a scale factor ``sf`` (row counts
  as in the fixtures: ``lineitem`` = 6M x sf).
- :func:`write_zipf_corpus` -- the Zipf-vocabulary recipe of
  ``tools/zipf_stress.py`` (Zipf(1.1) text over a production-sized
  vocabulary, injected near-duplicates, per-source boilerplate and
  clustered embeddings), but seeded by the caller rather than fixed.
"""

from __future__ import annotations

import hashlib
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["red", "blue", "hot", "cold", "new", "old", "small", "large"]
_NOUN = ["bolt", "anvil", "ring", "rod", "plate", "gear", "widget", "gizmo"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "zh", "de", "fr", "es"]
_LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_US_PER_DAY = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    pa.string())


def _write(out: Path, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), out / f"{name}.parquet")


def _embeddings(rng, n: int, n_centers: int, noise: float,
                unit: bool) -> dict:
    centers = rng.normal(size=(n_centers, 64))
    ids = np.arange(n)
    vecs = centers[ids % n_centers] + rng.normal(size=(n, 64)) * noise
    if unit:
        vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    return {
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array((ids % 10).astype(np.int32), pa.int32()),
    }


def write_relational(out: Path, seed: int, sf: float, *, n_docs: int,
                     n_vecs: int, documents: bool = True) -> dict[str, int]:
    """Write the ten fixture tables at scale ``sf``; return row counts.

    ``documents=False`` skips ``documents`` and ``embeddings`` (a caller
    that writes its own corpus, such as the Zipf recipe)."""
    out.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_supp, n_cust = max(10, int(10_000 * sf)), int(150_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_li, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(10, int(15_000 * sf))

    _write(out, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(_REGIONS, pa.string()),
    })
    _write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
    })
    names = [f"{a} {b}" for a in _ADJ for b in _NOUN]
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": _pick(rng, names, n_part),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
                            pa.string()),
        "p_type": _pick(rng, _PTYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": pa.array(900.0 + rng.integers(0, 1000, n_part) / 10.0),
    })
    order_days = 2404  # 1995-01-01 .. 2001-08-01
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
        "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, order_days + 1, n_ord)
                           * _US_PER_DAY),
        "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
    })
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li, dtype=np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_li)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _ts(_EPOCH_1995 + rng.integers(1, order_days + 96, n_li)
                          * _US_PER_DAY),
    })
    ts = np.sort(rng.integers(0, 30 * _US_PER_DAY, n_ev))
    _write(out, "events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": _ts(_EPOCH_2024 + ts),
        "user_id": pa.array(rng.integers(0, n_users, n_ev, dtype=np.int64)),
        "event_type": _pick(rng, _EVENT_TYPES, n_ev),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
                          pa.string()),
    })
    counts = {"supplier": n_supp, "customer": n_cust, "part": n_part,
              "orders": n_ord, "lineitem": n_li, "events": n_ev}
    if documents:
        texts = []
        for d in range(n_docs):
            if d >= 20 and rng.random() < 0.05:
                # near-duplicate of an earlier document, marked the
                # way the fixture corpus marks its injected copies
                texts.append(texts[int(rng.integers(0, d))] + " dup")
            else:
                n = int(rng.integers(10, 101))
                texts.append(" ".join(np.asarray(_WORDS)[rng.integers(0, len(_WORDS), n)]))
        _write(out, "documents", _doc_columns(rng, texts))
        _write(out, "embeddings", _embeddings(rng, n_vecs, 10, 0.6, unit=True))
        counts.update(documents=n_docs, embeddings=n_vecs)
    return counts


def _doc_columns(rng, texts: list[str]) -> dict:
    n = len(texts)
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, _LANGS, n, p=_LANG_P),
        "source": pa.array([f"src{d % 20}" for d in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def write_zipf_corpus(out: Path, seed: int, *, n_docs: int, n_vecs: int,
                      vocab: int, zipf_s: float = 1.1) -> dict[str, int]:
    """Zipf(``zipf_s``) documents over ``vocab`` token types with
    near-duplicates (every 13th document copies the one 7 back with ~5%
    of its tokens replaced) and per-source boilerplate headers, plus
    clustered embeddings -- the ``tools/zipf_stress.py`` recipe with the
    generator seeded by ``seed``."""
    out.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    ranks = np.arange(1, vocab + 1, dtype=np.float64)
    w = 1.0 / ranks**zipf_s
    cum = np.cumsum(w / w.sum())
    lens = 20 + (np.arange(n_docs) * 7) % 80
    draws = np.searchsorted(cum, rng.random(int(lens.sum())))
    boiler = {s: [f"w{(s * 977 + j * 131) % vocab}" for j in range(6)]
              for s in range(20)}
    texts, pos = [], 0
    for d in range(n_docs):
        n = int(lens[d])
        toks = [f"w{i}" for i in draws[pos:pos + n]]
        pos += n
        if d % 13 == 12 and d >= 7:
            toks = texts[d - 7].split(" ")
            for j in range(0, len(toks), 20):
                toks[j] = f"w{(d * 331 + j) % vocab}"
        if d % 5 < 2:
            toks = boiler[d % 20] + toks
        texts.append(" ".join(toks))
    cols = _doc_columns(rng, texts)
    cols["lang"] = pa.array([_LANGS[d % 5] for d in range(n_docs)], pa.string())
    _write(out, "documents", cols)
    _write(out, "embeddings",
           _embeddings(rng, n_vecs, max(16, int(np.sqrt(n_vecs))), 0.15, unit=False))
    return {"documents": n_docs, "embeddings": n_vecs,
            "vocab_drawn": int(len(np.unique(draws)))}


def fingerprint(data_dir: Path) -> str:
    """Content hash of every parquet file in ``data_dir``."""
    h = hashlib.sha256()
    for p in sorted(data_dir.glob("*.parquet")):
        h.update(p.name.encode())
        h.update(hashlib.sha256(p.read_bytes()).digest())
    return h.hexdigest()[:16]
