"""Seeded input generation for the benchmark workloads.

Everything here is numpy + pyarrow in one process; no Spark. The same
(seed, shape) always produces byte-identical files, and a finished set is
cached under ``.perfbench_work/data/`` in the checkout so repeated runs
with one seed skip the work.

Files follow the schemas ``polars_quant_spark`` reads unchanged:

* ``events.parquet/`` — the events schema (event_id, ts, user_id,
  event_type, value, props). ``sources.bars.bars`` turns it into OHLCV
  bars with symbol = event_type and close = 300 + value / 10. Prices are
  a geometric random walk around 300, so close stays in (0, 600).
* ``documents.parquet/`` — (doc_id, text, lang, source, n_chars), a base
  corpus of short documents over a 30-word vocabulary with planted near
  duplicates (star clusters), replicated through seeded a-z bijections (replica r has ids
  shifted by r * 10**7 and shares no shingle with the other replicas).
* ``embeddings.parquet/`` and ``large/embeddings.parquet/`` —
  (vec_id, embedding: list<float32>, label: int32), clustered Gaussian
  vectors. The large table is written above the 8 MiB dispatch threshold
  of ``similarity.cosine_topk_auto`` and the small one far below it. Both
  carry the name the repository's ``emb_cosine_topk`` query reads, so the
  one query serves both sides of the threshold.

Each table is a directory of ``parts`` files (at least the core count) so
the parquet scan runs in parallel.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import string
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: ``cosine_topk_auto`` sends corpora above this many file bytes to the
#: Arrow kernel; the large embeddings table must exceed it.
ARROW_DISPATCH_BYTES = 8 << 20

VOCAB = (
    "the a data spark row column table query join hash scan filter sort merge "
    "group agg window key value order line part customer batch stream vector "
    "small big fast slow"
).split()
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
ID_SHIFT = 10_000_000
#: directory, inside an input set, of the embeddings above the threshold
LARGE = "large"
#: bump when the files of an input set change, so stale caches are not reused
FORMAT = 2


@dataclass(frozen=True)
class BarShape:
    symbols: int
    bars: int


@dataclass(frozen=True)
class CorpusShape:
    base_docs: int
    replicas: int
    small_vectors: int
    large_vectors: int
    dim: int


def _write_parts(table: pa.Table, path: str, parts: int) -> None:
    """Write ``table`` as ``parts`` contiguous files under directory ``path``."""
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    step = -(-n // parts)
    for i in range(parts):
        lo = i * step
        if lo >= n:
            break
        pq.write_table(table.slice(lo, min(step, n - lo)), f"{path}/part-{i:04d}.parquet")


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(path, f)) for f in os.listdir(path)
    )


def events_table(shape: BarShape, seed: int) -> pa.Table:
    """Bars for ``shape.symbols`` symbols, ``shape.bars`` each, as events.

    Rows are grouped by symbol and time-ordered within it. ts is minute
    bars plus sub-minute jitter, so (ts, event_id) is a strict order."""
    rng = np.random.default_rng([seed, shape.symbols, shape.bars])
    n = shape.symbols * shape.bars
    steps = rng.normal(0.0, 0.01, size=(shape.symbols, shape.bars))
    close = 300.0 * np.exp(np.clip(np.cumsum(steps, axis=1), -0.6, 0.6))
    value = np.round((close.ravel() - 300.0) * 10.0, 2)
    t = np.tile(np.arange(shape.bars, dtype=np.int64), shape.symbols)
    ts = 1_704_067_200_000_000 + t * 60_000_000 + rng.integers(0, 59_000_000, n)
    names = np.array([f"S{i:05d}" for i in range(shape.symbols)])
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 10_000, n, dtype=np.int64)),
            "event_type": pa.array(np.repeat(names, shape.bars)),
            "value": pa.array(value),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def _base_documents(n: int, rng: np.random.Generator) -> list[tuple[str, str]]:
    """(text, lang) pairs of 30-90 tokens; every 20th document is a near
    copy of an earlier original (one token replaced, plus a ``dup`` marker
    token), which keeps its 3-shingle Jaccard similarity near 0.8. Copies
    are never copied again, so every duplicate cluster is a star and
    connected components converge in the same number of rounds for every
    seed."""
    docs: list[tuple[str, str]] = []
    originals: list[int] = []
    for i in range(n):
        if i >= 20 and i % 20 == 0:
            src_i = originals[int(rng.integers(0, len(originals)))]
            src = docs[src_i][0].split()
            src[int(rng.integers(0, len(src)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            docs.append((" ".join(src + ["dup"]), docs[src_i][1]))
            continue
        k = int(rng.integers(30, 90))
        words = [VOCAB[w] for w in rng.integers(0, len(VOCAB), k)]
        originals.append(i)
        docs.append((" ".join(words), LANGS[int(rng.integers(0, len(LANGS)))]))
    return docs


def documents_table(shape: CorpusShape, seed: int) -> pa.Table:
    rng = np.random.default_rng([seed, shape.base_docs, 1])
    base = _base_documents(shape.base_docs, rng)
    alpha = string.ascii_lowercase
    ids, texts, langs, sources = [], [], [], []
    seen = {alpha}
    for r in range(shape.replicas):
        key = alpha
        if r:
            while key in seen:
                key = "".join(rng.permutation(list(alpha)))
            seen.add(key)
        table = str.maketrans(alpha, key)
        for i, (text, lang) in enumerate(base):
            ids.append(r * ID_SHIFT + i)
            texts.append(text.translate(table))
            langs.append(lang)
            sources.append(f"src{i % 20}")
    return pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(langs),
            "source": pa.array(sources),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings_table(n: int, dim: int, seed: int) -> pa.Table:
    rng = np.random.default_rng([seed, n, dim])
    centers = rng.normal(0.0, 1.0, size=(16, dim))
    label = rng.integers(0, 16, n).astype(np.int32)
    vecs = (centers[label] + rng.normal(0.0, 0.7, size=(n, dim))).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True).astype(np.float32)
    flat = pa.array(vecs.ravel(), pa.float32())
    offsets = pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32))
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(label),
        }
    )


def _cache_dir(root: str, key: dict) -> str:
    digest = hashlib.sha1(json.dumps(key, sort_keys=True).encode()).hexdigest()[:12]
    return os.path.join(root, f"seed{key['seed']}-{digest}")


def _prune(root: str, keep: int) -> None:
    """Keep only the ``keep`` most recently used input sets."""
    entries = sorted(
        (os.path.join(root, d) for d in os.listdir(root)),
        key=os.path.getmtime,
        reverse=True,
    )
    for stale in entries[keep:]:
        shutil.rmtree(stale, ignore_errors=True)


def materialize(
    root: str,
    seed: int,
    parts: int,
    bars: BarShape | None = None,
    corpus: CorpusShape | None = None,
) -> tuple[str, dict]:
    """Return (directory, manifest) for the inputs of one seed and shape,
    generating them unless a finished copy is cached. ``bars`` adds the
    events table, ``corpus`` the documents and both embeddings tables. The
    manifest records the shapes and, per table path relative to the
    directory (``large/embeddings`` for the large table), its rows and
    on-disk bytes."""
    key = {
        "format": FORMAT,
        "seed": seed,
        "parts": parts,
        "bars": asdict(bars) if bars else None,
        "corpus": asdict(corpus) if corpus else None,
    }
    os.makedirs(root, exist_ok=True)
    out = _cache_dir(root, key)
    done = os.path.join(out, "_MANIFEST.json")
    if os.path.exists(done):
        os.utime(out)
        with open(done) as fh:
            return out, json.load(fh)
    tmp = f"{out}.tmp{os.getpid()}"
    tables = {}
    if bars:
        tables["events"] = events_table(bars, seed)
    if corpus:
        tables["documents"] = documents_table(corpus, seed)
        tables["embeddings"] = embeddings_table(corpus.small_vectors, corpus.dim, seed)
        tables[f"{LARGE}/embeddings"] = embeddings_table(corpus.large_vectors, corpus.dim, seed + 1)
    manifest = dict(key, tables={})
    for name, table in tables.items():
        path = os.path.join(tmp, f"{name}.parquet")
        _write_parts(table, path, parts)
        manifest["tables"][name] = {"rows": table.num_rows, "bytes": _dir_bytes(path)}
    if corpus:
        if manifest["tables"][f"{LARGE}/embeddings"]["bytes"] <= ARROW_DISPATCH_BYTES:
            raise ValueError("the large embeddings are below the Arrow dispatch threshold")
        if manifest["tables"]["embeddings"]["bytes"] > ARROW_DISPATCH_BYTES:
            raise ValueError("embeddings is above the Arrow dispatch threshold")
    with open(os.path.join(tmp, "_MANIFEST.json"), "w") as fh:
        json.dump(manifest, fh)
    try:
        os.rename(tmp, out)
    except OSError:  # a concurrent run finished the same set first
        shutil.rmtree(tmp)
    _prune(root, keep=12)
    return out, manifest
