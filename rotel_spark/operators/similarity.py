"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k — the (small, bounded) query set is
shipped to every task as a closure constant and each Arrow batch is
scored with one numpy matmul; only the per-batch top-k survivors are
shuffled, so shuffle volume is k rows per query per batch regardless
of corpus size. Scale path: an IVF-style coarse quantizer (search
n_probe nearest cells; at 100 TB the cell id is a partition key →
partition pruning). Near-duplicate pairs come from banded
random-hyperplane LSH (hyperplane_bands) plus an exact verify.
"""

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _collect_queries(
    queries: DataFrame, id_col: str, vec_col: str, max_queries: int
):
    """Collect the query set with an explicit bound.

    Queries are the broadcast side by design (ANN serves a small probe
    set against a huge corpus); the bound turns an accidental
    queries=corpus call into an error instead of a driver OOM.
    """
    rows = queries.select(id_col, vec_col).limit(max_queries + 1).collect()
    if len(rows) > max_queries:
        raise ValueError(
            f"query set exceeds max_queries={max_queries}; "
            "swap corpus/queries or raise the bound explicitly"
        )
    q_ids = np.array([r[0] for r in rows], dtype=np.int64)
    q_mat = np.array([r[1] for r in rows], dtype=np.float64)
    return q_ids, q_mat


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_queries: int = 100_000,
) -> DataFrame:
    """Top-k corpus neighbors per query by cosine (exact).

    Two-stage bounded top-k: stage 1 scores each Arrow batch against
    all queries with a numpy matmul and emits only that batch's top-k
    per query (candidate rows ≤ k × queries × batches — bounded before
    any shuffle); stage 2 is an exact global top-k over the candidates
    via row_number. Tie-break matches the SQL oracle: score DESC,
    neighbor_id ASC.
    """
    q_ids, q_mat = _collect_queries(queries, id_col, vec_col, max_queries)
    q_normed = q_mat / np.linalg.norm(q_mat, axis=1, keepdims=True)
    n_q = len(q_ids)

    out_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("neighbor_id", T.LongType()),
            T.StructField("score", T.DoubleType()),
        ]
    )

    def score_batches(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            c_ids = pdf["_nid"].to_numpy(dtype=np.int64)
            c_mat = np.array(list(pdf["_cv"]), dtype=np.float64)
            norms = np.linalg.norm(c_mat, axis=1, keepdims=True)
            # (batch, n_q) cosine matrix in one BLAS call
            scores = (c_mat / norms) @ q_normed.T
            kk = min(k, len(c_ids))
            # per-query top-k within the batch; exact order fixed later
            idx = np.argpartition(-scores, kk - 1, axis=0)[:kk]
            qcol = np.repeat(np.arange(n_q), kk)
            nidx = idx.T.ravel()
            yield pd.DataFrame(
                {
                    "query_id": q_ids[qcol],
                    "neighbor_id": c_ids[nidx],
                    "score": scores[nidx, qcol],
                }
            )

    cand = corpus.select(
        F.col(id_col).alias("_nid"), F.col(vec_col).alias("_cv")
    ).mapInPandas(score_batches, out_schema)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("neighbor_id")
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "score")
    )


def lsh_planes(dim: int, planes: int, seed: int = 42) -> np.ndarray:
    """Deterministic hyperplane weights in [-1, 1], (dim, planes).

    Derived from md5(seed:plane:dim-index) — pure arithmetic, so a SQL
    oracle can inline the IDENTICAL constants as literals and reproduce
    the bucketing exactly (no RNG state to ship). Directionally
    near-uniform, which is all sign-LSH needs.
    """
    import hashlib

    w = np.empty((dim, planes), dtype=np.float64)
    for p in range(planes):
        for d in range(dim):
            h = int(
                hashlib.md5(f"{seed}:{p}:{d}".encode()).hexdigest()[:15],
                16,
            )
            w[d, p] = (h % 2000001) / 1000000.0 - 1.0
    return w


def hyperplane_bands(
    df: DataFrame,
    vec_col: str = "embedding",
    bands: int = 8,
    band_bits: int = 4,
    seed: int = 42,
    out_col: str = "lsh_bands",
) -> DataFrame:
    """Banded sign-LSH: ``bands`` independent signatures of
    ``band_bits`` planes each (OR-construction). Two vectors are
    candidates if ANY band matches — recall at high cosine approaches 1
    exponentially in ``bands`` while each band still prunes the corpus
    to 1/2^band_bits buckets. Output: array of (band_idx << 32 | sig)
    join keys. Planes from lsh_planes → SQL-oracle-reproducible.
    """
    total = bands * band_bits

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _bands(vecs: pd.Series) -> pd.Series:
        arr = np.array([np.asarray(v, dtype=np.float64) for v in vecs])
        if not len(arr):
            return pd.Series([], dtype=object)
        mat = lsh_planes(arr.shape[1], total, seed)
        signs = ((arr @ mat) > 0).astype(np.int64)
        keys = np.empty((len(arr), bands), dtype=np.int64)
        for b in range(bands):
            sig = signs[:, b * band_bits : (b + 1) * band_bits].dot(
                1 << np.arange(band_bits, dtype=np.int64)
            )
            keys[:, b] = (np.int64(b) << 32) | sig
        return pd.Series(list(keys))

    return df.withColumn(out_col, _bands(F.col(vec_col)))


def near_dup_oracle_sql(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    bands: int = 8,
    band_bits: int = 4,
    seed: int = 42,
    dim: int = 64,
) -> str:
    """DuckDB twin of embedding_near_dup: identical plane constants
    (lsh_planes inlined as literals) → identical band keys → identical
    candidate set → identical verified pairs. LSH misses (pairs no band
    catches) are reproduced exactly, so the oracle checks the operator
    AS SPECIFIED, not an idealized exact join."""
    w = lsh_planes(dim, bands * band_bits, seed)
    keys = []
    for b in range(bands):
        bits = []
        for i in range(band_bits):
            p = b * band_bits + i
            lit = "[" + ",".join(repr(x) for x in w[:, p]) + "]"
            bits.append(
                f"(CASE WHEN list_dot_product(v, {lit}) > 0"
                f" THEN {1 << i} ELSE 0 END)"
            )
        keys.append(
            f"(CAST({b} AS BIGINT) * 4294967296 + " + " + ".join(bits) + ")"
        )
    keys_sql = "[" + ", ".join(keys) + "]"
    return f"""
WITH e AS (SELECT {id_col} AS id, CAST({vec_col} AS DOUBLE[]) AS v
           FROM {table}),
sig AS (SELECT id, {keys_sql} AS bk FROM e),
flat AS (SELECT id, unnest(bk) AS k FROM sig),
cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
         FROM flat a JOIN flat b ON a.k = b.k AND a.id < b.id)
SELECT c.id_a, c.id_b,
       round(list_cosine_similarity(ea.v, eb.v), 6) AS score_r
FROM cand c
JOIN e ea ON ea.id = c.id_a
JOIN e eb ON eb.id = c.id_b
WHERE list_cosine_similarity(ea.v, eb.v) >= {threshold}
"""


def ivf_build_centroids(
    df: DataFrame,
    vec_col: str = "embedding",
    n_cells: int = 16,
    sample_rows: int = 4096,
    iters: int = 5,
    seed: int = 42,
):
    """IVF coarse quantizer: k-means centroids from a bounded sample.

    Sample: ``orderBy(rand(seed)).limit(n)`` compiles to
    TakeOrderedAndProject — per-partition top-n then a driver merge of
    n rows per partition, no shuffle, no per-row string
    materialization; memory is O(sample), independent of corpus size.
    Init: farthest-point (k-means++ with deterministic max choice) so
    well-separated clusters each get exactly one centroid — naive
    random init could drop two centroids in one cluster and split it.
    Lloyd iterations run in numpy on the sample only. Returns a
    (n_cells, dim) numpy array.
    """
    sample = (
        df.select(F.col(vec_col).alias("v"))
        .orderBy(F.rand(seed))
        .limit(sample_rows)
        .collect()
    )
    x = np.array([r.v for r in sample], dtype=np.float64)
    n_cells = min(n_cells, len(x))
    # farthest-point init: start from the point nearest the global mean,
    # then repeatedly add the point farthest from all chosen centroids
    first = int(((x - x.mean(axis=0)) ** 2).sum(axis=1).argmin())
    chosen = [first]
    d2 = ((x - x[first]) ** 2).sum(axis=1)
    for _ in range(1, n_cells):
        nxt = int(d2.argmax())
        chosen.append(nxt)
        d2 = np.minimum(d2, ((x - x[nxt]) ** 2).sum(axis=1))
    cent = x[chosen].copy()
    for _ in range(iters):
        d = ((x[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        for c in range(len(cent)):
            members = x[assign == c]
            if len(members):
                cent[c] = members.mean(axis=0)
    return cent


def fixed_centroids(n_cells: int, dim: int, seed: int = 42):
    """Deterministic md5-derived coarse quantizer (the oracle-exact
    trick used for LSH planes): component (i, j) is a pure-arithmetic
    function of the seed, so the same constants can be inlined into a
    DuckDB oracle. At scale you'd train k-means (ivf_build_centroids);
    the fixed quantizer trades recall for bit-reproducible cells."""
    import hashlib

    out = np.empty((n_cells, dim), dtype=np.float64)
    for i in range(n_cells):
        for j in range(dim):
            h = hashlib.md5(f"ivf:{seed}:{i}:{j}".encode()).hexdigest()
            out[i, j] = int(h[:8], 16) / 2**32 * 2 - 1
    return out


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    n_probe: int = 2,
    seed: int = 42,
    max_queries: int = 100_000,
    centroids=None,
) -> DataFrame:
    """IVF ANN: search only the query's n_probe nearest cells.

    At scale the corpus is written partitioned by ivf_cell (partition
    pruning makes each probe touch n_probe/n_cells of the data); here
    the cell filter expresses the same pruning. The query set is small
    by contract (bounded collect, see _collect_queries). Pass
    `centroids` (e.g. fixed_centroids) to skip k-means training and
    use a pre-built/deterministic quantizer.
    """
    cent = (
        np.asarray(centroids, dtype=np.float64)
        if centroids is not None
        else ivf_build_centroids(corpus, vec_col, n_cells, seed=seed)
    )

    # queries: explode into their n_probe nearest cells (probe set is
    # small by contract — it ships to every task as a closure constant)
    q_ids, q_mat = _collect_queries(queries, id_col, vec_col, max_queries)

    def _seq_norm(v) -> float:
        # sequential left fold — bit-identical to the JVM expression
        # aggregate(v, 0.0, (acc, x) -> acc + x * x)
        acc = 0.0
        for x in v:
            acc += float(x) * float(x)
        return float(np.sqrt(acc))

    probes = []  # (query_id, cell, qvec, qnorm)
    for qid, v in zip(q_ids, q_mat):
        d = ((cent - v[None, :]) ** 2).sum(axis=1)
        for cell in np.argsort(d)[:n_probe]:
            probes.append(
                (int(qid), int(cell), v.astype(np.float64), _seq_norm(v))
            )

    # assignment + cell pruning + cosine scoring in ONE Arrow pass over
    # the corpus. The previous plan assigned cells in a pandas UDF,
    # joined the broadcast probe table, then scored with the JVM
    # higher-order cosine (zip_with + aggregate) — higher-order
    # functions are interpreted, not codegen'd, and re-derived the
    # query norm on every joined row (measured ~1.1 s of the 1.5 s
    # query at 20k vectors × 8 cells). Here scoring is a vectorized
    # per-dimension fold in the SAME left-to-right order as the JVM
    # aggregate (and the same float64 ops), so scores are
    # bit-identical; a vector's cell is its nearest centroid. At
    # 100 TB the cell id remains a partition key: the per-batch mask
    # is the in-memory analog of the partition pruning the docstring
    # describes.
    out_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("neighbor_id", T.LongType()),
            T.StructField("score", T.DoubleType()),
        ]
    )

    def score_batches(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            c_ids = pdf["_nid"].to_numpy(dtype=np.int64)
            arr = np.array(list(pdf["_cv"]), dtype=np.float64)
            # nearest centroid: ||x-c||² = ||x||² - 2x·c + ||c||²,
            # argmin over cells, so the ||x||² term is dropped
            d = -2 * (arr @ cent.T) + (cent**2).sum(axis=1)[None, :]
            cells = d.argmin(axis=1)
            # corpus norms: sequential per-dimension fold (JVM order)
            acc = np.zeros(len(arr))
            for j in range(arr.shape[1]):
                col = arr[:, j]
                acc = acc + col * col
            c_norm = np.sqrt(acc)
            q_out, n_out, s_out = [], [], []
            for qid, cell, qv, qn in probes:
                mask = cells == cell
                if not mask.any():
                    continue
                sub = arr[mask]
                dot = np.zeros(sub.shape[0])
                for j in range(sub.shape[1]):
                    dot = dot + sub[:, j] * qv[j]
                score = dot / (qn * c_norm[mask])
                q_out.append(np.full(mask.sum(), qid, dtype=np.int64))
                n_out.append(c_ids[mask])
                s_out.append(score)
            if not q_out:
                continue
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(q_out),
                    "neighbor_id": np.concatenate(n_out),
                    "score": np.concatenate(s_out),
                }
            )

    scored = corpus.select(
        F.col(id_col).alias("_nid"), F.col(vec_col).alias("_cv")
    ).mapInPandas(score_batches, out_schema)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "score")
    )


def embedding_near_dup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    bands: int = 8,
    band_bits: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Near-duplicate pairs by cosine ≥ threshold.

    Banded sign-LSH candidate generation (OR over ``bands`` independent
    ``band_bits``-plane signatures: each band prunes the self-join to
    1/2^band_bits buckets; a true near-dup pair escapes only if EVERY
    band splits it — miss prob ≈ (1-(1-θ/π)^band_bits)^bands, ~4e-8 at
    cos 0.95 with 8×4) followed by an exact cosine verify, so the
    output equals the exact O(n²) pair set up to that miss probability
    — which makes it oracle-checkable against a brute-force SQL twin.
    """
    sig = hyperplane_bands(
        df, vec_col, bands=bands, band_bits=band_bits, seed=seed
    ).select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        F.explode("lsh_bands").alias("band_key"),
    )

    # Score WITHIN each band bucket with a vectorized kernel. The
    # previous self-join materialized both 64-dim arrays on every
    # candidate row (O(Σ bucket²) rows × ~1 KB), dropDuplicates'd that
    # wide stream, then ran the interpreted JVM higher-order cosine
    # per pair — 20k vectors × 16 buckets/band × 8 bands ≈ 10⁸
    # candidate rows and ~18 MINUTES at sf1.0. Per-bucket scoring
    # keeps the work bucket-local (the property that makes banding
    # scale — a bucket is the partition unit at 100 TB too), emits
    # only pairs that clear the threshold, and dedups the tiny
    # surviving set. Candidate SET and scores are unchanged: same
    # band keys, all in-bucket (id_a < id_b) pairs considered, and
    # the dot/norm folds run per-dimension left-to-right in the same
    # float64 order as the JVM cosine — a pair colliding in several
    # bands scores bit-identically in each, so filter-then-dedup
    # equals the old dedup-then-filter.
    def score_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "id_a": np.array([], dtype=np.int64),
                "id_b": np.array([], dtype=np.int64),
                "score": np.array([], dtype=np.float64),
            }
        )
        n = len(pdf)
        if n < 2:
            return empty
        ids = pdf["_id"].to_numpy(dtype=np.int64)
        arr = np.array(list(pdf["_v"]), dtype=np.float64)
        order = np.argsort(ids)  # id_a < id_b via sorted ids
        ids, arr = ids[order], arr[order]
        # one BLAS gram matrix per bucket instead of a per-dimension
        # python loop over triu index gathers (measured 5.8 s → 1.9 s
        # at 20k vectors). BLAS accumulation order differs from the
        # JVM fold only at ulp level; the emitted score is compared
        # rounded to 6 dp and the oracle recomputes its own threshold
        # pass, so the pair set and rounded scores are unchanged
        # (re-proven against the brute-force oracle at every local sf).
        nrm = np.sqrt((arr * arr).sum(axis=1))
        gram = arr @ arr.T
        iu, ju = np.triu_indices(n, 1)
        score = gram[iu, ju] / (nrm[iu] * nrm[ju])
        keep = score >= threshold
        if not keep.any():
            return empty
        return pd.DataFrame(
            {
                "id_a": ids[iu[keep]],
                "id_b": ids[ju[keep]],
                "score": score[keep],
            }
        )

    pairs = (
        sig.groupBy("band_key")
        .applyInPandas(score_bucket, "id_a long, id_b long, score double")
        .dropDuplicates(["id_a", "id_b"])
    )
    return pairs
