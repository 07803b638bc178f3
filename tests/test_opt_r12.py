"""Round-12 optimization pins: the Arrow RP fold kernel is bit-identical
to the SQL aggregate(zip_with(...)) fold it replaced — including the
degenerate rows (NULL vector, NULL element, wrong length, NaN, float32
input) and Spark's NaN-greater-than-everything CASE semantics.
"""
from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from grape_vector_db_spark.operators import ann


def _sql_tables(df, n_planes, n_tables, dim, seed, vec="embedding"):
    buckets = F.array(
        *[
            ann._rp_bucket_expr(ann._vec_sql(vec), n_planes, dim, seed + t)
            for t in range(n_tables)
        ]
    )
    return df.select(
        F.col("vec_id").alias("id"), F.posexplode(buckets).alias("tbl", "bucket")
    )


def _same(a, b):
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0
    assert [(f.name, f.dataType) for f in a.schema.fields] == [
        (f.name, f.dataType) for f in b.schema.fields
    ]


@pytest.fixture()
def edge(spark):
    rows = [
        (1, [0.5] * 8),
        (2, None),
        (3, [0.5] * 7),                   # short
        (4, [0.5] * 9),                   # long
        (5, [0.5, None] + [0.25] * 6),    # null element
        (6, [float("nan")] * 8),          # NaN dot: Spark CASE says bit 1
        (7, [0.0] * 8),                   # zero vector
        (8, [-1.0] * 8),
    ]
    return spark.createDataFrame(rows, "vec_id int, embedding array<double>")


def test_rp_kernel_bit_identical_to_sql_fold(emb):
    new = ann.random_projection_tables(emb, n_planes=4, n_tables=3, seed=11)
    old = _sql_tables(emb, 4, 3, 64, 11)
    _same(new, old)


def test_rp_kernel_edge_rows_match_fold_null_algebra(edge):
    new = ann.random_projection_tables(edge, n_planes=3, n_tables=2, seed=5, dim=8)
    old = _sql_tables(edge, 3, 2, 8, 5)
    _same(new, old)
    # NaN dot takes the CASE's true branch (Spark orders NaN greatest):
    nan_buckets = {
        r["bucket"] for r in new.where(F.col("id") == 6).collect()
    }
    assert nan_buckets == {7}
    # degenerate rows land in bucket 0, not NULL
    assert {r["bucket"] for r in new.where(F.col("id").isin(2, 3, 4, 5)).collect()} == {0}


def test_rp_project_kernel_matches_fold_values(edge):
    factor = math.sqrt(3.0 / 4)
    comps = [
        f"({ann._rp_dot_sql(ann._vec_sql('embedding'), coords)}"
        f" * {ann._sql_double(factor)})"
        for coords in ann._md5_coords("5:{p}:{i}", 4, 8)
    ]
    old = edge.select(
        F.col("vec_id").alias("id"),
        F.expr(f"array({', '.join(comps)})").alias("proj"),
    )
    new = ann.rp_project(edge, n_out=4, dim=8, seed=5)
    _same(new, old)


def test_rp_kernel_float32_and_string_ids(spark, edge):
    f32 = edge.select(
        "vec_id", F.col("embedding").cast("array<float>").alias("embedding")
    )
    _same(
        ann.random_projection_tables(f32, n_planes=3, n_tables=2, seed=5, dim=8),
        _sql_tables(f32, 3, 2, 8, 5),
    )
    sid = edge.select(
        F.concat(F.lit("d"), F.col("vec_id")).alias("vec_id"), "embedding"
    )
    out = ann.random_projection_buckets(sid, n_planes=3, seed=5, dim=8)
    assert out.schema["id"].dataType.simpleString() == "string"
    assert out.count() == edge.count()
