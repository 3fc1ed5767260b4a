"""Seeded benchmark inputs, generated once per (kind, size, seed) and cached.

Every input is a pure function of its seed, so the same seed gives the same
files on any checkout. Generation runs before any timed section; the cache
lives under ``.perfbench_cache/`` in the checkout and keeps only the newest
few entries per kind, because the page tables are tens of megabytes.

Kinds:

- ``pages``   documents table split over several parquet files, like an
              Iceberg table, so the scan has many splits and the engine's
              single-split scan fan-out does not fire.
- ``corpus``  single-file ``documents`` + ``embeddings`` at the driver's
              sf0.1 shape (the fan-out fires), from the replica script's
              own generators.
"""

from __future__ import annotations

import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, ".perfbench_cache")
KEEP_PER_KIND = 3

sys.path.insert(0, os.path.join(ROOT, "scripts"))
from make_sf_bench_replica import gen_documents, gen_embeddings  # noqa: E402

# Input sizes. "full" is what the benchmark measures; "tiny" runs every
# code path in seconds for the benchmark's own tests.
SIZES = {
    "full": {"pages": 80_000, "page_files": 8, "docs": 5000, "embeddings": 2000},
    "tiny": {"pages": 4_000, "page_files": 4, "docs": 400, "embeddings": 160},
}
# Keeps the streams of different kinds apart for the same seed.
_KIND_SALT = {"pages": 1, "corpus": 2, "warm_pages": 3}
# Page table of the flagship warm-up.
WARMUP = {"pages": 2_000, "page_files": 2}


def cached(kind: str, size: str, seed: int, build) -> str:
    """Directory holding input ``kind`` for (size, seed); built on a miss.

    ``build(out_dir, rng)`` writes the files. The directory appears under
    its final name only once complete, so a killed run leaves no partial
    input behind."""
    name = f"{kind}-{size}-{seed}"
    path = os.path.join(CACHE, name)
    if os.path.exists(os.path.join(path, "_DONE")):
        os.utime(path)
        return path
    tmp = f"{path}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp, np.random.default_rng([seed, _KIND_SALT[kind]]))
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)
    _prune(kind)
    return path


def _prune(kind: str) -> None:
    entries = [os.path.join(CACHE, d) for d in os.listdir(CACHE)
               if d.startswith(kind + "-") and ".tmp-" not in d]
    entries.sort(key=os.path.getmtime, reverse=True)
    for old in entries[KEEP_PER_KIND:]:
        shutil.rmtree(old, ignore_errors=True)


def write_pages(out: str, n: int, n_files: int, rng: np.random.Generator) -> None:
    """``documents.parquet/`` as ``n_files`` part files of ``n`` pages total.

    One block of ``n // n_files`` documents comes from the replica
    script's generator; each part file re-uses its texts under fresh
    doc_ids (so fresh urls and geocodes) with permuted lang and source."""
    base_n = n // n_files
    gen_documents(out, base_n, rng)
    src = os.path.join(out, "documents.parquet")
    base = pq.read_table(src)
    os.remove(src)
    os.makedirs(src)
    for k in range(n_files):
        perm = rng.permutation(base_n)
        part = base.set_column(
            0, "doc_id", pa.array(np.arange(base_n) + k * base_n, pa.int64()))
        part = part.set_column(2, "lang", base["lang"].take(perm))
        part = part.set_column(3, "source", base["source"].take(perm))
        pq.write_table(part, os.path.join(src, f"part-{k:03d}.parquet"))


def write_corpus(out: str, n_docs: int, n_emb: int,
                 rng: np.random.Generator) -> None:
    gen_documents(out, n_docs, rng)
    gen_embeddings(out, n_emb, rng)


def outside_simplex_share(X: np.ndarray) -> float:
    """Share of pixels whose sum-to-one least-squares abundances have a
    negative entry, i.e. that take FCLS's NNLS active-set path. Uses the
    same delta augmentation as ``lsma.fcls.fcls_abundance``."""
    from unmixing_spark.pipeline import CANONICAL_ENDMEMBERS as E

    q = E.shape[0]
    delta = 1.0 / (1000.0 * np.abs(E).max())
    A = np.vstack([delta * E.T, np.ones((1, q))])
    B = np.vstack([delta * X.T, np.ones((1, len(X)))])
    sol = np.linalg.solve(A.T @ A, A.T @ B)
    return float((sol < 0).any(axis=0).mean()) if len(X) else 0.0


def pages(size: str, seed: int) -> str:
    s = SIZES[size]
    return cached("pages", size, seed,
                  lambda out, rng: write_pages(out, s["pages"], s["page_files"], rng))


def warm_pages() -> str:
    return cached("warm_pages", "fixed", 0, lambda out, rng: write_pages(
        out, WARMUP["pages"], WARMUP["page_files"], rng))


def corpus(size: str, seed: int) -> str:
    s = SIZES[size]
    return cached("corpus", size, seed,
                  lambda out, rng: write_corpus(out, s["docs"], s["embeddings"], rng))


