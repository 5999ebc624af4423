"""Seeded inputs and their content-keyed cache.

A pool of pages is built once per checkout: a ``documents`` table
synthesized from a fixed seed in the shape of the sf0.1 ``documents``
table (doc_id, text, lang, source, n_chars; word salad over the same
30-word vocabulary, lengths spread like sf0.1), turned into pages by the
program's own fixture rules (``fixtures.materialize_pages``), so the log
lines, their formats and the ground-truth columns are the ones the tests
use. A run's input is a sample of the pool's pages drawn without
replacement from ``--seed``, written as parquet with pyarrow: the same
seed gives the same pages, and building it needs no JVM.

Cache entries are keyed by a digest of the seed, the sizes, this file's
text and the fixture module's text (which holds ``pages_tail_clause()``),
and are used only if their row counts check out.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from pathlib import Path

import numpy as np

from common import WORK

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.412, 0.15, 0.149, 0.148, 0.141]
REPS = 20  # pages per document, as in the program's fixtures
POOL_SEED = 0
POOL_DOCS = 15_000  # 300 000 pages; a 100 000-page sample keeps a third
WARMUP_SEED = 0  # warm-up inputs do not vary with --seed, so they stay cached
KEEP_ENTRIES = 8  # samples kept; the least recently used go first
FILES = 8  # parquet files per sample, as materialize_pages writes at local[4]


def synth_documents(seed: int, n_docs: int):
    """A documents table of n_docs rows, deterministic in (seed, n_docs)."""
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    base = int(rng.integers(0, 1_000_000)) * 1000
    n_words = rng.integers(8, 90, size=n_docs)
    words = rng.integers(0, len(WORDS), size=int(n_words.sum()))
    texts, at = [], 0
    for n in n_words:
        texts.append(" ".join(WORDS[w] for w in words[at:at + n]))
        at += n
    langs = rng.choice(len(LANGS), size=n_docs, p=LANG_P)
    return pa.table({
        "doc_id": pa.array(base + np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in langs],
        "source": [f"src{i % 5}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _digest(*key) -> str:
    from rotel_spark import fixtures

    h = hashlib.sha256()
    h.update(":".join(map(str, (*key, POOL_SEED, POOL_DOCS, REPS))).encode())
    h.update(Path(__file__).read_bytes())
    h.update(Path(fixtures.__file__).read_bytes())
    h.update(fixtures.pages_tail_clause().encode())
    return h.hexdigest()[:16]


def _parquet_rows(path: Path) -> int:
    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(f).metadata.num_rows for f in path.glob("*.parquet")
    )


class _Entry:
    """A cache directory with a manifest and a ``pages`` parquet table of
    a known row count."""

    dir: Path
    n_pages: int

    def __init__(self) -> None:
        self.pages = self.dir / "pages"
        self.manifest = self.dir / "manifest.json"
        self.extra: dict = {}

    def valid(self) -> bool:
        """The cache entry exists and its row count is the expected one."""
        if not self.manifest.exists():
            return False
        m = json.loads(self.manifest.read_text())
        ok = (
            m.get("digest") == self.digest
            and m.get("n_pages") == self.n_pages
            and _parquet_rows(self.pages) == self.n_pages
        )
        if ok:
            self.extra = m.get("extra", {})
            os.utime(self.manifest)
        return ok

    def save(self) -> None:
        self.manifest.write_text(json.dumps({
            "digest": self.digest, "n_pages": self.n_pages,
            "extra": self.extra,
        }))


class Pool(_Entry):
    """POOL_DOCS documents from POOL_SEED and their materialized pages."""

    def __init__(self) -> None:
        self.digest = _digest("pool")
        self.dir = WORK / "inputs" / f"pool-{self.digest}"
        self.n_pages = POOL_DOCS * REPS
        super().__init__()

    def build(self, spark) -> None:
        """Write documents and materialize pages (untimed data prep)."""
        import pyarrow.parquet as pq

        from rotel_spark.fixtures import materialize_pages

        shutil.rmtree(self.dir, ignore_errors=True)
        sf_dir = self.dir / "sf"
        sf_dir.mkdir(parents=True)
        pq.write_table(
            synth_documents(POOL_SEED, POOL_DOCS), sf_dir / "documents.parquet"
        )
        materialize_pages(
            spark, str(sf_dir), REPS, str(self.pages),
            partitions=spark.sparkContext.defaultParallelism * 2,
        )
        self.save()
        if not self.valid():
            raise RuntimeError(f"input pool {self.dir} failed its check")


class PagesInput(_Entry):
    """n_pages pages of the pool drawn without replacement from seed, kept
    in pool order, cached under WORK/inputs/<digest>; only `columns` if
    given. ``extra`` holds per-input facts (oracles) that workloads compute
    once and store in the manifest."""

    def __init__(self, seed: int, n_pages: int, columns: list[str] | None = None) -> None:
        self.seed = seed
        self.columns = columns
        self.digest = _digest(seed, n_pages, columns)
        self.dir = WORK / "inputs" / self.digest
        self.n_pages = n_pages
        super().__init__()

    def build(self, pool: Pool) -> None:
        """Write the sample (untimed data prep; pyarrow only)."""
        import pyarrow.parquet as pq

        table = pq.read_table(pool.pages, columns=self.columns)
        rng = np.random.default_rng(self.seed)
        rows = np.sort(rng.choice(table.num_rows, self.n_pages, replace=False))
        table = table.take(rows)
        shutil.rmtree(self.dir, ignore_errors=True)
        self.pages.mkdir(parents=True)
        step = -(-self.n_pages // FILES)
        for i in range(FILES):
            pq.write_table(
                table.slice(i * step, step),
                self.pages / f"part-{i:05d}.zstd.parquet",
                compression="zstd", coerce_timestamps="us",
            )
        self.extra = {}
        self.save()
        entries = sorted(
            (d for d in self.dir.parent.iterdir()
             if not d.name.startswith("pool-") and (d / "manifest.json").exists()),
            key=lambda d: (d / "manifest.json").stat().st_mtime,
        )
        for d in entries[:-KEEP_ENTRIES]:
            shutil.rmtree(d, ignore_errors=True)

    def ensure(self, pool: Pool) -> bool:
        """Use the cache entry if it checks out, else build it from the
        (valid) pool and check it again; True if it was built."""
        if self.valid():
            return False
        self.build(pool)
        if not self.valid():
            raise RuntimeError(f"input cache {self.dir} failed its check")
        return True

    def ground_truth(self, columns: list[str]):
        """Ground-truth columns of the sampled pages as pandas."""
        import pyarrow.parquet as pq

        return pq.read_table(self.pages, columns=columns).to_pandas()
