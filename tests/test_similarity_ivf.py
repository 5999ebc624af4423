"""IVF ANN: recall vs brute force on a structured corpus."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from rotel_spark.operators.similarity import (
    brute_force_topk,
    ivf_topk,
)


def _clustered_corpus(spark, n_clusters=4, per_cluster=50, dim=16, seed=3):
    rng = np.random.RandomState(seed)
    centers = rng.standard_normal((n_clusters, dim)) * 5
    rows = []
    i = 0
    for c in range(n_clusters):
        for _ in range(per_cluster):
            v = centers[c] + rng.standard_normal(dim) * 0.3
            rows.append((i, [float(x) for x in v]))
            i += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_ivf_topk_recall_vs_brute_force(spark):
    df = _clustered_corpus(spark)
    queries = df.filter(F.col("vec_id").isin([0, 60, 120, 180]))
    corpus = df.join(queries.select("vec_id"), "vec_id", "left_anti")
    bf = brute_force_topk(corpus, queries, k=5)
    ivf = ivf_topk(corpus, queries, k=5, n_cells=4, n_probe=1)
    bf_set = {(r.query_id, r.neighbor_id) for r in bf.collect()}
    ivf_set = {(r.query_id, r.neighbor_id) for r in ivf.collect()}
    recall = len(bf_set & ivf_set) / len(bf_set)
    assert recall >= 0.9  # clusters are well separated → near-exact
