#!/usr/bin/env python
"""Measure the persisted IVF-PQ index (llm/similarity.py::build_ivf_pq_index
/ incremental_add_ivf_pq / search_ivf_pq_index) on its two scale dimensions:

  * extend cost — an increment is assigned to the FROZEN quantizer and
    appended, so add_wall_s must grow with the INCREMENT, never with the
    standing index;
  * search cost vs index size — the codes scan is partition-pruned to the
    nprobe probed cells, so search_wall_s grows with rows-per-cell
    (N/n_cells), a 1/16 slope at nprobe=4 of 64 cells — against the exact
    brute-force baseline whose cost is the full N per query.

Corpus (numpy, seed 31, self-contained like measure_curate_index.py):
64-dim vectors around 64 cluster centres (sigma 0.1) — the references are
the centres themselves, frozen at build time. Index ladder: 20k -> 200k ->
1M rows (build once at 20k, then two incremental adds). The query set is
FIXED: 32 perturbed corpus vectors. Brute force (cosine_topk, the exact
oracle kernel) is measured at the 20k and 200k rungs — two points pin its
linear slope; at 1M only the index search runs (the brute trend is the
cost the index exists to avoid). Recall@5 vs brute is recorded where brute
runs.

Writes /tmp/migdar_scale/ivfpq_index_stats.json for tools/gen_scaling.py.

Usage: python tools/measure_ivfpq_index.py   (run alone; ~5-10 min)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SCALE_DIR = os.environ.get("SPARK_GRAFT_SCALE_DIR", "/tmp/migdar_scale")
WORK = f"{SCALE_DIR}/ivfpq_index"
DIM = 64
N_CELLS = 64
NPROBE = 4
K = 5
N_QUERIES = 32
RUNGS = [("20k", 20_000), ("200k", 200_000), ("1M", 1_000_000)]
BRUTE_MAX_ROWS = 200_000  # brute is O(N x queries); two rungs pin the slope


def _vectors(rng, n, centres, start_id):
    import numpy as np

    cells = rng.integers(0, N_CELLS, size=n)
    vecs = centres[cells] + rng.normal(0.0, 0.1, size=(n, DIM))
    return [
        (int(start_id + i), [float(x) for x in vecs[i]])
        for i in range(n)
    ], cells


def main() -> None:
    import numpy as np
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from migdar_data_pipelines_spark.llm.similarity import (
        build_ivf_pq_index,
        cosine_topk,
        incremental_add_ivf_pq,
        search_ivf_pq_index,
    )
    from migdar_data_pipelines_spark.session import host_driver_mem

    os.makedirs(SCALE_DIR, exist_ok=True)
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", host_driver_mem())
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    rng = np.random.default_rng(31)
    centres = rng.normal(0.0, 1.0, size=(N_CELLS, DIM))
    refs = [(c, [float(x) for x in centres[c]]) for c in range(N_CELLS)]
    schema = "vec_id long, embedding array<double>"

    # fixed query set: perturbed copies of the first 32 base vectors
    base_rows, _ = _vectors(rng, RUNGS[0][1], centres, 0)
    q_rows = [
        (100_000_000 + i, [x + float(e) for x, e in
                           zip(base_rows[i][1], rng.normal(0, 0.02, DIM))])
        for i in range(N_QUERIES)
    ]
    queries = spark.createDataFrame(q_rows, schema).cache()
    queries.count()

    idx = f"{WORK}/index"
    stats = {"dim": DIM, "n_cells": N_CELLS, "nprobe": NPROBE, "k": K,
             "n_queries": N_QUERIES, "seed": 31, "rungs": {}}
    prev_n = 0
    corpus_df = None
    for name, n in RUNGS:
        inc_rows, _ = (
            (base_rows, None) if prev_n == 0
            else _vectors(rng, n - prev_n, centres, prev_n)
        )
        inc = spark.createDataFrame(inc_rows, schema)
        t0 = time.time()
        if prev_n == 0:
            build_ivf_pq_index(inc, idx, refs, "vec_id")
        else:
            incremental_add_ivf_pq(spark, idx, inc, "vec_id")
        add_wall = time.time() - t0

        t0 = time.time()
        got = search_ivf_pq_index(
            spark, idx, queries, "vec_id", k=K, nprobe=NPROBE
        ).collect()
        search_wall = time.time() - t0
        approx_pairs = {(r["query_id"], r["neighbour_id"]) for r in got}

        brute_wall = recall = None
        if n <= BRUTE_MAX_ROWS:
            corpus_df = (
                inc if corpus_df is None
                else corpus_df.unionByName(inc)
            ).repartition(32).persist()
            corpus_df.count()
            t0 = time.time()
            exact = cosine_topk(
                queries, corpus_df, "vec_id", "vec_id", k=K
            ).collect()
            brute_wall = time.time() - t0
            exact_pairs = {(r["query_id"], r["neighbour_id"]) for r in exact}
            recall = len(exact_pairs & approx_pairs) / len(exact_pairs)

        stats["rungs"][name] = {
            "rows": n,
            "increment_rows": n - prev_n,
            "add_wall_s": round(add_wall, 2),
            "search_wall_s": round(search_wall, 2),
            "brute_wall_s": None if brute_wall is None else round(brute_wall, 2),
            "recall_at_5": None if recall is None else round(recall, 4),
        }
        print(name, stats["rungs"][name], flush=True)
        prev_n = n

    out = f"{SCALE_DIR}/ivfpq_index_stats.json"
    with open(out, "w") as f:
        json.dump(stats, f, indent=1)
    print("wrote", out)
    spark.stop()


if __name__ == "__main__":
    main()
