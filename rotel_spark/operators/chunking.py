"""Block-level dedup and training-window chunking over a document table.

Training-data-pipeline operators (task brief: first-class next to the
SURVEY §2 grid). The reference's per-record processors operate on log
lines; these apply the same drop/transform discipline at sub-document
granularity, the step a Common-Crawl→training-corpus pipeline runs
between url-level dedup and tokenization:

* ``block_dedup`` — C4/RefinedWeb-style duplicated-span removal.  A
  document is cut into consecutive BLOCK-token blocks; a block
  instance survives iff it is the globally FIRST occurrence of its
  text (ordered by (doc_id, block_idx)).  Every other instance —
  including repeats inside one document — is removed.  Emits per-doc
  removal stats plus the cleaned text with surviving blocks rejoined
  in order.
* ``doc_chunks`` — fixed-size training windows (CHUNK tokens, STRIDE
  step, so consecutive windows overlap by CHUNK-STRIDE) — the shape a
  pretraining dataloader consumes.

Scale design (100 TB): both are explode → hash-partitioned groupBy
chains of pure JVM expressions (split / slice / transform / explode /
collect_list) — no Python in the path, map-side partial aggregation
throughout.  ``block_dedup`` shuffles (block, doc_id) metadata rows
once, the per-(block, doc) aggregate once by block for the argmin
window, and (doc_id) once; blocks are short fixed-size strings so the
shuffle rows are narrow, and a hot identical block (boilerplate
header) sends one row per document holding it to one window
partition (see the block_dedup docstring).  ``doc_chunks`` is
embarrassingly parallel (no shuffle at all — chunk rows stay in their
input partition).

The n-gram / sequence trap (memory note): ``sequence(0, n-1)`` emits a
DESCENDING range when n = 0, so empty docs are guarded with
``case when`` before the range is built.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

BLOCK = 16          # tokens per dedup block
CHUNK = 32          # tokens per training window
STRIDE = 24         # window step (overlap = CHUNK - STRIDE)

# composite (doc_id, block_idx) order key — block_idx < 1e6 always
# holds (1e6 blocks × 16 tokens ≈ 100 MB of text in ONE doc)
_ORD = 1_000_000


def _blocks(docs: DataFrame, text_col: str) -> DataFrame:
    """(doc_id, bidx, block) — consecutive BLOCK-token blocks."""
    toks = docs.select(
        "doc_id", F.split(F.col(text_col), " ").alias("t")
    ).withColumn("nb", F.ceil(F.size("t") / BLOCK).cast("int"))
    block_arr = F.expr(
        f"CASE WHEN nb <= 0 THEN array() ELSE transform("
        f"sequence(0, nb - 1), "
        f"i -> array_join(slice(t, i * {BLOCK} + 1, {BLOCK}), ' ')) END"
    )
    return toks.select(
        "doc_id", F.posexplode(block_arr).alias("bidx", "block")
    )


def block_dedup(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """doc_id, n_blocks, n_dup_blocks, dup_frac, clean_text.

    A block instance is kept iff (doc_id, bidx) is the global minimum
    over all instances of the same block text; docs whose every block
    is removed still emit a row (clean_text = '').

    Skew note (r5 verdict #4): the earlier form joined EVERY instance
    row back on block text, so a hot boilerplate block concentrated
    all its instance rows on one join reducer.  Instances are now
    pre-aggregated per (block, doc_id) — count + min ord — before the
    per-block argmin: in-doc repeats collapse map-side, and the argmin
    window sees one narrow metadata row per (block, doc) (guide §2.3
    'shuffle keys and metadata instead of payloads').  A block
    appearing in very many DOCS still fills one window partition,
    which AQE cannot split as it splits a skewed join.  Equivalence: at
    most one instance per block survives globally (its ord equals the
    global min), so per (block, doc) it suffices to know the instance
    count and the min ord — kept/dup counts and the surviving (bidx,
    block) pairs are reconstructed exactly.
    """
    inst = _blocks(docs, text_col).withColumn(
        "ord", F.col("doc_id") * _ORD + F.col("bidx")
    )
    per = inst.groupBy("block", "doc_id").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.min("ord").alias("min_ord"),
    )
    flagged = per.withColumn(
        "keep",
        F.col("min_ord") == F.min("min_ord").over(Window.partitionBy("block")),
    )
    kept_struct = F.when(
        F.col("keep"),
        F.struct(
            (F.col("min_ord") % _ORD).cast("int").alias("bidx"),
            F.col("block"),
        ),
    )
    n_dup = F.sum(
        F.col("cnt") - F.when(F.col("keep"), 1).otherwise(0)
    )
    return flagged.groupBy("doc_id").agg(
        F.sum("cnt").cast("int").alias("n_blocks"),
        n_dup.cast("int").alias("n_dup_blocks"),
        F.round(n_dup / F.sum("cnt"), 6).alias("dup_frac"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(kept_struct)),
                lambda s: s["block"],
            ),
            " ",
        ).alias("clean_text"),
    )


def doc_chunks(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """doc_id, chunk_idx, n_tokens, chunk_text — CHUNK-token windows
    every STRIDE tokens; a doc shorter than CHUNK yields one window."""
    toks = docs.select(
        "doc_id", F.split(F.col(text_col), " ").alias("t")
    ).withColumn(
        "nc",
        F.when(
            F.size("t") <= CHUNK, F.lit(1)
        ).otherwise(
            (F.ceil((F.size("t") - CHUNK) / STRIDE) + 1).cast("int")
        ),
    )
    chunk_arr = F.expr(
        f"transform(sequence(0, nc - 1), "
        f"i -> slice(t, i * {STRIDE} + 1, {CHUNK}))"
    )
    out = toks.select(
        "doc_id", F.posexplode(chunk_arr).alias("chunk_idx", "ctoks")
    )
    return out.select(
        "doc_id",
        "chunk_idx",
        F.size("ctoks").cast("int").alias("n_tokens"),
        F.array_join("ctoks", " ").alias("chunk_text"),
    )


def block_dedup_oracle_sql(table: str = "documents") -> str:
    """DuckDB twin of block_dedup — independent derivation (window
    min over every instance instead of over the per-(block, doc)
    aggregate)."""
    return f"""
WITH inst AS (
  SELECT doc_id, i - 1 AS bidx,
         array_to_string(string_split(text, ' ')[
           (i - 1) * {BLOCK} + 1 : (i - 1) * {BLOCK} + {BLOCK}], ' ')
           AS block,
         doc_id * {_ORD} + (i - 1) AS ord
  FROM {table},
       unnest(generate_series(
         1, CAST(ceil(len(string_split(text, ' ')) / {BLOCK}.0) AS INT)
       )) AS u(i)
),
flagged AS (
  SELECT doc_id, bidx, block,
         ord = min(ord) OVER (PARTITION BY block) AS keep
  FROM inst
)
SELECT doc_id,
       CAST(count(*) AS INT) AS n_blocks,
       CAST(coalesce(sum(CASE WHEN NOT keep THEN 1 END), 0) AS INT)
         AS n_dup_blocks,
       round(coalesce(sum(CASE WHEN NOT keep THEN 1 END), 0)::DOUBLE
             / count(*), 6) AS dup_frac,
       coalesce(string_agg(CASE WHEN keep THEN block END, ' '
                           ORDER BY bidx), '') AS clean_text
FROM flagged GROUP BY doc_id
"""


def doc_chunks_oracle_sql(table: str = "documents") -> str:
    """DuckDB twin of doc_chunks (list slicing + generate_series)."""
    return f"""
WITH base AS (
  SELECT doc_id, string_split(text, ' ') AS t,
         CASE WHEN len(string_split(text, ' ')) <= {CHUNK} THEN 1
              ELSE CAST(ceil((len(string_split(text, ' ')) - {CHUNK})
                        / {STRIDE}.0) AS INT) + 1 END AS nc
  FROM {table}
)
SELECT doc_id, CAST(i - 1 AS INT) AS chunk_idx,
       CAST(len(t[(i - 1) * {STRIDE} + 1
                  : (i - 1) * {STRIDE} + {CHUNK}]) AS INT) AS n_tokens,
       array_to_string(
         t[(i - 1) * {STRIDE} + 1 : (i - 1) * {STRIDE} + {CHUNK}], ' ')
         AS chunk_text
FROM base, unnest(generate_series(1, nc)) AS u(i)
"""
