"""operators/dedup.py hardening pins (self-review findings):

1. minhash_lsh_candidates bounds per-row memory with chunked pair
   explode and offers the hot-bucket cap every sibling candidate
   generator has (a 100k-doc template bucket used to flatten ~5e9 pair
   structs into ONE row).
2. minhash_band_rows fails LOUDLY on a signature table built with a
   smaller num_hashes (out-of-range sig[i] was NULL and concat_ws
   silently collapsed whole bands into one '' bucket).
3. exact_duplicates / duplication_report: NULL-text rows are never
   "byte-identical copies" of each other (md5(NULL) hash-grouped every
   failed-extraction row into one fake dup group).
4. leakage_safe_split validates the corpus id type up front (a
   string-id df silently degraded every doc to the singleton fallback —
   near-dups straddling train/test).
5. simhash derives its words by digest quartering (h32_word — one md5
   per term instead of one per word), bit-identical to the updated
   oracle family.
6. A NULL embedding never pairs on any embedding pair path (fold, LSH,
   incremental, GEMM, SemDeDup); the BLAS paths used to crash on it.
"""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from grape_vector_db_spark.operators import dedup


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


class TestMinhashCandidatesBounded:
    BASE = "the quick brown fox jumps over the lazy dog number"

    def _df(self, spark, n=12):
        return _docs(
            spark, [(i, f"{self.BASE} {i % 2}") for i in range(n)]
        )

    def test_chunked_explode_same_pairs(self, spark):
        df = self._df(spark)
        small = {
            (r["a"], r["b"])
            for r in dedup.minhash_lsh_candidates(df, pair_chunk=2).collect()
        }
        big = {
            (r["a"], r["b"])
            for r in dedup.minhash_lsh_candidates(
                df, pair_chunk=512
            ).collect()
        }
        assert small == big and small
        assert all(a < b for a, b in small)

    def test_bucket_cap_drops_hot_bucket_pairs(self, spark):
        # 10 docs share one text (hot in every band), 2 share another
        df = _docs(
            spark,
            [(i, f"{self.BASE} hot") for i in range(10)]
            + [(20, f"{self.BASE} cold"), (21, f"{self.BASE} cold")],
        )
        capped = {
            (r["a"], r["b"])
            for r in dedup.minhash_lsh_candidates(df, bucket_cap=5).collect()
        }
        assert (20, 21) in capped  # the cold pair survives
        assert not any(a < 10 and b < 10 for a, b in capped)


def test_minhash_band_rows_rejects_short_signatures(spark):
    sigs = spark.createDataFrame(
        [(1, [1, 2, 3, 4, 5, 6, 7, 8])], "doc_id long, sig array<bigint>"
    )
    out = dedup.minhash_band_rows(sigs, num_hashes=16, bands=4)
    with pytest.raises(Exception, match="num_hashes"):
        out.collect()
    # a matching table still works
    ok = dedup.minhash_band_rows(sigs, num_hashes=8, bands=4)
    assert ok.count() == 4


class TestNullTextNotDuplicates:
    def test_exact_duplicates_ignores_null_text(self, spark):
        df = _docs(
            spark,
            [(1, None), (2, None), (3, None), (4, "same"), (5, "same")],
        )
        groups = dedup.exact_duplicates(df).collect()
        assert len(groups) == 1  # only the real dup pair
        assert groups[0]["n_docs"] == 2 and groups[0]["keep_id"] == 4

    def test_duplication_report_null_rows_are_unique(self, spark):
        df = spark.createDataFrame(
            [(1, None, "s"), (2, None, "s"), (3, "x", "s"), (4, "x", "s")],
            "doc_id long, text string, source string",
        )
        row = dedup.duplication_report(df).collect()[0]
        # 4 docs, 3 unique (two distinct null-text docs + one 'x' hash)
        assert row["n_docs"] == 4
        assert row["n_unique"] == 3
        assert row["dup_rate"] == 0.25


def test_leakage_safe_split_rejects_string_ids(spark):
    df = spark.createDataFrame([("a",), ("b",)], "doc_id string")
    pairs = spark.createDataFrame([(1, 2)], "a long, b long")
    with pytest.raises(ValueError, match="integer ids"):
        dedup.leakage_safe_split(df, pairs)


def test_simhash_words_are_digest_quarters(spark):
    """One md5 per term: word w of the fingerprint family is hex chars
    [8w, 8w+8) of md5('0:' + term) — h32_word's prescribed SimHash
    derivation (functions/hashing.py)."""
    df = _docs(spark, [(1, "alpha beta")])
    fp = dedup.simhash(df).collect()[0]["simhash"] % (1 << 64)
    votes_lo, votes_hi = {}, {}
    for term in ("alpha", "beta"):
        d = hashlib.md5(f"0:{term}".encode()).hexdigest()
        votes_lo[term] = int(d[:8], 16)
        votes_hi[term] = int(d[8:16], 16)
    expect = 0
    for j in range(64):
        src = votes_lo if j < 32 else votes_hi
        vote = sum(
            1 if (src[t] >> (j % 32)) & 1 else -1 for t in ("alpha", "beta")
        )
        if vote > 0:
            expect |= 1 << j
    assert fp == expect


class TestNullVectorsNeverPair:
    """A NULL embedding drops out of every embedding pair path, as it
    does in the fold reference, instead of crashing the numpy matrix
    build or shifting ids against matrix rows. Threshold 0.0 makes any
    surviving NULL-vector or dangling-id pair visible."""

    ROWS = [
        (1, [1.0, 0.0]),
        (2, [1.0, 0.01]),
        (4, [-1.0, 0.0]),
        (5, [-1.0, -0.01]),
        (3, None),  # not first: the RP dimension comes from the first row
    ]
    SCHEMA = "vec_id long, embedding array<double>"

    @staticmethod
    def _rows(df, a="a", b="b"):
        return sorted((r[a], r[b], r["cosine"]) for r in df.collect())

    def _fold(self, spark):
        emb = spark.createDataFrame(self.ROWS, self.SCHEMA)
        rows = self._rows(dedup.embedding_neardup_pairs(emb, threshold=0.0))
        assert rows and not any(3 in r[:2] for r in rows)
        return emb, rows

    def test_lsh_self_join(self, spark):
        emb, fold = self._fold(spark)
        # one plane per table: the NULL vector's bucket 0 always holds
        # one of the two opposite vector groups, so it is a candidate
        lsh = dedup.embedding_neardup_pairs_lsh(
            emb, threshold=0.0, n_planes=1, n_tables=2, seed=7
        )
        assert self._rows(lsh) == fold

    def test_incremental_cross_frames_with_dangling_index_id(self, spark):
        from grape_vector_db_spark.operators import ann

        emb, fold = self._fold(spark)
        batch_ids, corpus_ids = {2, 5, 3}, {1, 4}
        batch = spark.createDataFrame(
            [r for r in self.ROWS if r[0] in batch_ids], self.SCHEMA
        )
        corpus = spark.createDataFrame(
            [r for r in self.ROWS if r[0] in corpus_ids], self.SCHEMA
        )
        # the prebuilt index holds an id the corpus frame no longer has
        index = ann.random_projection_tables(
            corpus.unionByName(
                spark.createDataFrame([(999, [1.0, 0.0])], self.SCHEMA)
            ),
            n_planes=1, n_tables=2, seed=7,
        )
        got = dedup.incremental_embedding_neardup(
            batch, corpus, threshold=0.0, n_planes=1, n_tables=2, seed=7,
            corpus_buckets_df=index,
        )
        expect = sorted(
            (a, b, c) if a in batch_ids else (b, a, c)
            for a, b, c in fold
            if {a, b} & batch_ids and {a, b} & corpus_ids
        )
        assert expect
        assert self._rows(got, "batch_id", "corpus_id") == expect

    @pytest.mark.parametrize("n_blocks", [1, 2])
    def test_gemm(self, spark, n_blocks):
        emb, fold = self._fold(spark)
        gemm = dedup.embedding_neardup_pairs_gemm(
            emb, threshold=0.0, n_blocks=n_blocks
        )
        assert self._rows(gemm) == fold

    def test_semdedup(self, spark):
        emb, fold = self._fold(spark)
        assigned = spark.createDataFrame(
            [(i, 0) for i, _ in self.ROWS], "id long, cluster int"
        )
        pairs = dedup.semdedup_pairs(
            emb, assigned, threshold=0.0, rows_per_block=2
        )
        assert self._rows(pairs) == fold
