"""knn_batch's Arrow scoring kernel against a sequential pure-Python fold.

The reference below evaluates the SQL formula row by row — the
left-to-right dot/norm folds, ``coalesce(try_divide(dot, |c|*|q|), 0.0)``,
Spark's 6-dp HALF_UP ``round``, the threshold, and the (score desc,
id asc) ``row_number`` with NaN ordered above every double — so the
kernel's per-batch candidate pruning must return EXACTLY its rows.
"""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pytest

from grape_vector_db_spark.operators import search

NAN = float("nan")


def _fold_dot(a, b):
    if a is None or b is None or len(a) != len(b) or None in a or None in b:
        return None
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + x * y
    return acc


def _fold_norm(a):
    if a is None or None in a:
        return None
    acc = 0.0
    for x in a:
        acc = acc + x * x
    return math.sqrt(acc)


def _spark_round6(x):
    if math.isnan(x) or math.isinf(x):
        return x
    return float(Decimal(repr(x)).quantize(Decimal("1e-6"), ROUND_HALF_UP))


def _cosine(c, q):
    d, nc, nq = _fold_dot(c, q), _fold_norm(c), _fold_norm(q)
    if d is None or nc is None or nq is None or nc * nq == 0:
        return 0.0
    return d / (nc * nq)


def reference(corpus, queries, k, threshold=None):
    """corpus: [(id, vec)]; queries: [(query_id, vec, exclude)]."""
    groups: dict = {}
    for qid, qv, excl in queries:
        drop = {x for x in excl or () if x is not None}
        for cid, cv in corpus:
            if cid is not None and cid in drop:
                continue
            s = _spark_round6(_cosine(cv, qv))
            if threshold is not None and not (math.isnan(s) or s >= threshold):
                continue
            groups.setdefault(qid, []).append((cid, s))
    out = []
    for qid, cands in groups.items():
        cands.sort(
            key=lambda r: (
                0 if math.isnan(r[1]) else 1,
                0.0 if math.isnan(r[1]) else -r[1],
                r[0] is not None,
                r[0] if r[0] is not None else 0,
            )
        )
        out += [(qid, cid, s, i + 1) for i, (cid, s) in enumerate(cands[:k])]
    return out


def _key(rows):
    return sorted(
        (tuple("NaN" if isinstance(x, float) and math.isnan(x) else x for x in r)
         for r in rows),
        key=repr,
    )


def _f32(rng, n, dim):
    # float32-exact doubles: the array<float> column holds them unchanged
    vals = rng.standard_normal((n, dim)).astype(np.float32)
    return [[float(x) for x in row] for row in vals]


def _fixture(dim=4):
    rng = np.random.default_rng(7)
    rnd = _f32(rng, 24, dim)
    corpus = [(i, v) for i, v in enumerate(rnd)]
    corpus += [
        (100, None),  # NULL vector
        (101, [1.0, None, 0.0, 0.0]),  # NULL element
        (102, [1.0, 0.0]),  # ragged
        (103, [0.0] * dim),  # zero norm
        (104, rnd[3]),  # exact duplicates of row 3: 6-dp ties
        (105, rnd[3]),
        (106, [NAN, 1.0, 0.0, 0.0]),  # NaN score ranks first
        (None, rnd[5]),  # NULL id ties row 5 and sorts first
    ]
    queries = [(j, v, None) for j, v in enumerate(_f32(rng, 5, dim))]
    queries += [
        (10, rnd[3], [3, 104, None]),  # excludes two of the tied rows
        (11, rnd[5], None),
        (12, None, None),  # NULL query: every score 0.0
        (13, [0.5, None, 0.5, 0.5], []),  # NULL element
        (14, [1.0, 2.0], None),  # ragged vs the corpus
        (15, [0.0] * dim, None),  # zero norm
        (11, rnd[7], [0, 1]),  # duplicate query id shares one ranking
    ]
    return corpus, queries


def _frames(spark, corpus, queries):
    # three corpus partitions, the second one empty
    cut = len(corpus) // 2
    rdd = spark.sparkContext.parallelize(
        [corpus[:cut], [], corpus[cut:]], 3
    ).flatMap(lambda part: part)
    c = spark.createDataFrame(rdd, "vec_id long, embedding array<float>")
    q = spark.createDataFrame(
        queries, "query_id long, query_vec array<double>, ex array<bigint>"
    )
    return c, q


@pytest.mark.parametrize("k,exclude", [(3, False), (3, True), (2, True), (100, True)])
def test_knn_batch_matches_sequential_fold(spark, k, exclude):
    """k=100 is larger than the corpus: every row comes back ranked."""
    corpus, queries = _fixture()
    c, q = _frames(spark, corpus, queries)
    assert c.rdd.glom().map(len).collect()[1] == 0
    got = search.knn_batch(
        c, q, k=k, exclude_col="ex" if exclude else None
    ).collect()
    ref_q = queries if exclude else [(a, b, None) for a, b, _ in queries]
    assert _key(got) == _key(reference(corpus, ref_q, k))


def test_knn_batch_threshold_on_6dp_boundary(spark):
    """A threshold equal to a rounded score keeps that row (>=) and every
    row tied with it, and drops the next one down."""
    corpus, queries = _fixture()
    scores = sorted(
        {s for _, _, s, _ in reference(corpus, queries, 6) if not math.isnan(s)}
    )
    t = scores[len(scores) // 2]
    c, q = _frames(spark, corpus, queries)
    got = search.knn_batch(c, q, k=6, threshold=t, exclude_col="ex").collect()
    want = reference(corpus, queries, 6, t)
    assert any(s == t for _, _, s, _ in want)
    assert _key(got) == _key(want)


def test_knn_batch_small_batches_and_query_chunks(spark, monkeypatch):
    """Several Arrow batches per partition and one query per score chunk
    still give the exact rows: pruning is per (batch, query) and the
    window merges the survivors."""
    corpus, queries = _fixture()
    c, q = _frames(spark, corpus, queries)
    monkeypatch.setattr(search, "_SCORE_BLOCK", 1)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "4")
    try:
        got = search.knn_batch(c, q, k=2, exclude_col="ex").collect()
    finally:
        spark.conf.set(key, old)
    assert _key(got) == _key(reference(corpus, queries, 2))
