"""Seeded input generators for the workloads.

Every input the engine sees is made here from the workload seed and written
as parquet under the run's work directory before anything is timed. The
same seed gives byte-identical inputs. Nothing reads the repository's
fixture data.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 64
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast the row "
    "agg key query a scan batch index shard cache page plan node"
).split()
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
N_CATS = 20
N_BUCKETS = 200  # the integer column predicate deletes select on


def _unit(x: np.ndarray) -> np.ndarray:
    return (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)


def _clustered(rng: np.random.Generator, n: int, k: int = 24) -> np.ndarray:
    """Unit vectors from a mixture of ``k`` gaussian clusters of unequal
    weight, so IVF cells differ in size as they do on real embeddings."""
    centers = rng.standard_normal((k, DIM))
    weights = rng.dirichlet(np.full(k, 2.0))
    member = rng.choice(k, n, p=weights)
    return _unit(centers[member] + 0.45 * rng.standard_normal((n, DIM)))


def _texts(rng: np.random.Generator, n: int, lo: int, hi: int) -> list[str]:
    return [" ".join(rng.choice(VOCAB, int(rng.integers(lo, hi)))) for _ in range(n)]


def _write(path: str, table: pa.Table) -> int:
    pq.write_table(table, path, compression="snappy")
    return os.path.getsize(path)


def _docs_table(ids, texts, langs, cats, buckets) -> pa.Table:
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "cat": pa.array(cats, pa.string()),
        "n": pa.array(buckets, pa.int32()),
    })


def _emb_table(ids, vecs: np.ndarray) -> pa.Table:
    return pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
    })


@dataclass
class Corpus:
    """A generated document store: metadata columns and vectors by id."""

    ids: np.ndarray
    vecs: np.ndarray
    texts: list[str]
    langs: np.ndarray
    cats: np.ndarray
    buckets: np.ndarray

    def write(self, out_dir: str, tag: str) -> tuple[str, str, int]:
        """Write a docs and an embeddings parquet file; return both paths
        and their total size in bytes."""
        docs = f"{out_dir}/{tag}_docs.parquet"
        emb = f"{out_dir}/{tag}_emb.parquet"
        size = _write(docs, _docs_table(self.ids, self.texts, self.langs, self.cats, self.buckets))
        size += _write(emb, _emb_table(self.ids, self.vecs))
        return docs, emb, size


def make_corpus(rng: np.random.Generator, n: int) -> Corpus:
    return Corpus(
        ids=np.arange(n, dtype=np.int64),
        vecs=_clustered(rng, n),
        texts=_texts(rng, n, 6, 30),
        langs=rng.choice(LANGS, n, p=LANG_P),
        cats=np.array([f"c{i:02d}" for i in rng.integers(0, N_CATS, n)]),
        buckets=rng.integers(0, N_BUCKETS, n).astype(np.int32),
    )


def query_vectors(rng: np.random.Generator, corpus_vecs: np.ndarray, n: int) -> np.ndarray:
    """In-distribution queries: corpus vectors with a small perturbation."""
    base = corpus_vecs[rng.integers(0, len(corpus_vecs), n)]
    return _unit(base + 0.15 * rng.standard_normal(base.shape))


def query_texts(rng: np.random.Generator, n: int) -> list[str]:
    return [" ".join(rng.choice(VOCAB, 2, replace=False)) for _ in range(n)]


# -- write plan -----------------------------------------------------------------


@dataclass
class Mutation:
    kind: str                  # "upsert" | "delete"
    after: Corpus              # the live rows once this write has landed
    probe: list[float]         # the query of the read after the write
    docs_path: str = ""
    emb_path: str = ""
    updated: list[int] = field(default_factory=list)
    inserted: list[int] = field(default_factory=list)
    bucket: int = -1           # delete predicate: n = bucket
    deleted: list[int] = field(default_factory=list)
    visible: object = None     # what the read-your-writes read returned


def _subset(c: Corpus, keep: np.ndarray) -> Corpus:
    idx = np.flatnonzero(keep)
    return Corpus(c.ids[idx], c.vecs[idx], [c.texts[i] for i in idx],
                  c.langs[idx], c.cats[idx], c.buckets[idx])


def _merge(c: Corpus, new: Corpus) -> Corpus:
    """Upsert semantics: rows of ``new`` replace rows of ``c`` by id."""
    old = _subset(c, ~np.isin(c.ids, new.ids))
    both = Corpus(np.concatenate([old.ids, new.ids]), np.concatenate([old.vecs, new.vecs]),
                  old.texts + new.texts, np.concatenate([old.langs, new.langs]),
                  np.concatenate([old.cats, new.cats]), np.concatenate([old.buckets, new.buckets]))
    return _sorted(both)


def _sorted(c: Corpus) -> Corpus:
    o = np.argsort(c.ids)
    return Corpus(c.ids[o], c.vecs[o], [c.texts[i] for i in o], c.langs[o], c.cats[o], c.buckets[o])


def make_writes(rng: np.random.Generator, corpus: Corpus, out_dir: str, batch: int) -> tuple[list[Mutation], int]:
    """One upsert (half updates of live ids with new text, vector and
    metadata, half new ids) then one predicate delete of an ``n`` bucket,
    replayed on a bookkeeping copy so every later check knows the live
    rows exactly. Returns the plan and the bytes of parquet it wrote."""
    live = _sorted(corpus)
    upd = sorted(rng.choice(live.ids, batch // 2, replace=False).tolist())
    new = list(range(int(live.ids.max()) + 1, int(live.ids.max()) + 1 + batch - len(upd)))
    fresh = make_corpus(rng, batch)
    fresh.ids = np.array(upd + new, dtype=np.int64)
    docs, emb, size = fresh.write(out_dir, "upsert")
    live = _merge(live, fresh)
    # the read after the upsert looks for an updated row's new vector
    plan = [Mutation("upsert", live, fresh.vecs[0].tolist(), docs, emb, upd, new)]
    bucket = int(rng.choice(np.unique(live.buckets)))
    gone = live.ids[live.buckets == bucket]
    # the read after the delete looks for a deleted row's vector
    probe = live.vecs[live.buckets == bucket][0].tolist()
    live = _subset(live, live.buckets != bucket)
    plan.append(Mutation("delete", live, probe, bucket=bucket, deleted=gone.tolist()))
    return plan, size


# -- curate corpus -------------------------------------------------------------

CURATE_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast the row "
    "agg key query a scan batch"
).split()


def write_curate(rng: np.random.Generator, out_dir: str, n_doc: int, n_emb: int) -> tuple[int, list[tuple[int, int]]]:
    """``documents.parquet`` and ``embeddings.parquet`` with the schema and
    distributions of the engine's fixture corpus: 8..105 words per doc,
    5% planted near-duplicates ("<base> dup") and ~0.3% exact duplicates.
    Returns the bytes written and the planted near-duplicate pairs
    ``(min_id, max_id)``."""
    n_exact = max(2, int(0.0032 * n_doc))
    n_near = int(0.05 * n_doc)
    n_base = n_doc - n_near - n_exact
    texts = [" ".join(rng.choice(CURATE_VOCAB, int(rng.integers(8, 106)))) for _ in range(n_base)]
    src = []
    for _ in range(n_near):
        b = int(rng.integers(0, n_base))
        texts.append(texts[b] + " dup")
        src.append(b)
    for _ in range(n_exact):
        texts.append(texts[int(rng.integers(0, n_base))])
    order = rng.permutation(n_doc)            # order[new] = old
    new_of = np.empty(n_doc, dtype=np.int64)
    new_of[order] = np.arange(n_doc)
    texts = [texts[i] for i in order]
    planted = sorted(
        (int(min(new_of[b], new_of[n_base + k])), int(max(new_of[b], new_of[n_base + k])))
        for k, b in enumerate(src)
    )
    size = _write(f"{out_dir}/documents.parquet", pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": pa.array(rng.choice(LANGS, n_doc, p=LANG_P)),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n_doc)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }))
    vecs = _unit(rng.standard_normal((n_emb, DIM)))
    size += _write(f"{out_dir}/embeddings.parquet", pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    }))
    return size, planted
