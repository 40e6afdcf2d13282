"""The benchmark's workloads: why each exists, its inputs and its queries.

Every workload is a closed loop with one client: one query at a time,
each pass runs every query once, in an order the seed permutes per pass.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass
from pathlib import Path

from perfbench import datagen


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    queries: tuple[str, ...]
    write_inputs: Callable[[Path, int], dict]


def _etl_inputs(out: Path, seed: int) -> dict:
    return datagen.write_relational(out, seed, ETL_SF, n_docs=500, n_vecs=500)


def _zipf_inputs(out: Path, seed: int) -> dict:
    sizes = datagen.write_relational(out, seed, 0.001, n_docs=0, n_vecs=0,
                                     documents=False)
    sizes.update(datagen.write_zipf_corpus(
        out, seed, n_docs=ZIPF_DOCS, n_vecs=ZIPF_VECS, vocab=ZIPF_VOCAB))
    return sizes


ETL_SF = 0.01
ZIPF_DOCS, ZIPF_VECS, ZIPF_VOCAB = 2000, 1500, 100_000

WORKLOADS = {w.name: w for w in (
    Workload(
        name="etl",
        why=("TPC-H-shaped scan, join, aggregate and sort plus an Avro sink "
             "and a stream-static join: 11x the scan rows of llm_zipf, 1-2 "
             "barriers a pass, little data through Python"),
        queries=(
            "sql_tpch_q1_pricing_summary", "sql_tpch_q5_local_supplier",
            "sort_global", "sink_avro", "stream_static_join",
        ),
        write_inputs=_etl_inputs,
    ),
    Workload(
        name="llm_zipf",
        why=("Zipf(1.1) text over 100k token types: exact PPJoin dedup, "
             "Arrow-kernel classifier, stream restart. Out: "
             "llm_dedup_minhash_lsh (fails oracle); costly oracle: "
             "llm_dedup_containment, llm_sim_knn_ivf_pq"),
        # llm_dedup_ppjoin is the exact sparse-regime dedup; the LSH
        # formulation misses near-threshold pairs on some seeds, and a
        # benchmark query must pass its oracle on every seed
        queries=(
            "llm_dedup_ppjoin", "llm_quality_classifier_apply",
            "stream_rocksdb_restart",
        ),
        write_inputs=_zipf_inputs,
    ),
)}
