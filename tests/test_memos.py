"""No operator keeps a result beyond the query that built it: work shared
inside one call is passed explicitly (the IVF anchor sample), a re-run
after a table overwrite sees the new rows, and the SQL-string dot product
the IVF assignment is built from equals the Column-built one bit for bit."""

from __future__ import annotations

import math
import struct

import pytest
from pyspark.sql import functions as F


def test_cold_ivf_call_derives_anchors_once(spark, monkeypatch):
    """One cosine_topk_ivf_portable call scans the corpus for its anchor
    sample exactly ONCE: the probe side and the assignment argmax share
    the collected rows (passed as ``anchor_rows``)."""
    from salesanalytics_etl_spark.operators import ivf as I

    emb = spark.createDataFrame(
        [(i, [float(i % 4), float(i % 7), 1.0]) for i in range(24)],
        "vec_id BIGINT, embedding ARRAY<FLOAT>",
    )
    calls = {"n": 0}
    real = I._portable_anchors

    def counting(*a, **k):
        calls["n"] += 1
        return real(*a, **k)

    monkeypatch.setattr(I, "_portable_anchors", counting)
    out = I.cosine_topk_ivf_portable(
        emb, emb.filter(F.col("vec_id") < 2), k=3, n_cells=4
    )
    assert out.count() > 0
    assert calls["n"] == 1


def test_rerun_after_merge_sees_post_merge_data(spark, tmp_path):
    """merge_upsert_table overwrites a table path in the same session;
    re-running the near-dup and cell-assignment operators over a fresh
    read of that path returns the post-merge results, not the pre-merge
    ones (nothing is cached on plan identity, which a same-path
    overwrite leaves unchanged)."""
    from salesanalytics_etl_spark.operators.dedup import (
        minhash_near_dupes_portable,
    )
    from salesanalytics_etl_spark.operators.ivf import portable_cell_assignment
    from salesanalytics_etl_spark.operators.upsert import merge_upsert_table

    text = "alpha beta gamma delta epsilon zeta eta theta"
    docs = str(tmp_path / "docs_tbl")
    spark.createDataFrame(
        [(1, text), (3, "iota kappa lambda mu nu xi omicron pi")],
        "doc_id BIGINT, text STRING",
    ).write.parquet(docs)
    assert minhash_near_dupes_portable(spark.read.parquet(docs)).count() == 0
    merge_upsert_table(
        spark,
        docs,
        spark.createDataFrame([(2, text)], "doc_id BIGINT, text STRING"),
        ["doc_id"],
    )
    pairs = minhash_near_dupes_portable(spark.read.parquet(docs)).collect()
    assert [(r.doc_a, r.doc_b, r.jaccard) for r in pairs] == [(1, 2, 1.0)]

    emb = str(tmp_path / "emb_tbl")
    spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])],
        "vec_id BIGINT, embedding ARRAY<FLOAT>",
    ).write.parquet(emb)
    before = portable_cell_assignment(spark.read.parquet(emb), n_cells=2)
    assert {r.cid for r in before.collect()} == {1, 2}
    merge_upsert_table(
        spark,
        emb,
        spark.createDataFrame(
            [(3, [1.0, 0.1])], "vec_id BIGINT, embedding ARRAY<FLOAT>"
        ),
        ["vec_id"],
    )
    after = portable_cell_assignment(spark.read.parquet(emb), n_cells=2)
    assert {r.cid for r in after.collect()} == {1, 2, 3}


def _bits(x):
    return "nan" if x is not None and math.isnan(x) else struct.pack(">d", x)


@pytest.mark.parametrize(
    "anchor",
    [
        # negative, double-subnormal, +/-0.0, huge and float32-subnormal
        # components
        [-1.5, 5e-324, -0.0, 0.0, 1e300, 1.401298464324817e-45],
        [-2.2250738585072014e-308, -5e-324, 0.1, -0.0],
        # non-finite anchor components take the double('...') literal path
        [float("nan"), 1.0, -0.0, 2.0, 3.0, 4.0],
        [float("inf"), -1.0, 0.0, 1.0],
        [float("-inf"), 1.0, 1.0, -0.0],
    ],
)
def test_sql_string_dot_matches_column_dot_bit_for_bit(spark, anchor):
    from salesanalytics_etl_spark.operators.similarity import (
        _dot,
        _dot_literal_sql,
    )

    dim = len(anchor)
    comps = [-3.25, -1e-45, -0.0, 0.0, 1e-40, 7.0, 1e38]
    rows = [
        (i, [comps[(i + d) % len(comps)] for d in range(dim)])
        for i in range(len(comps))
    ]
    df = spark.createDataFrame(rows, "id BIGINT, v ARRAY<FLOAT>")
    got = df.select(
        "id",
        F.expr(_dot_literal_sql("v", anchor)).alias("sql"),
        _dot(F.col("v"), F.array(*[F.lit(x) for x in anchor])).alias("col"),
    ).collect()
    assert len(got) == len(rows)
    for r in got:
        assert _bits(r.sql) == _bits(r.col), (r.id, r.sql, r.col)


def test_sql_double_literals_round_trip(spark):
    from salesanalytics_etl_spark.operators.similarity import _sql_double

    vals = [-0.0, 0.0, 5e-324, -5e-324, 0.1, -1.5, 1e300,
            1.7976931348623157e308, float("nan"), float("inf"), float("-inf")]
    df = spark.range(1).select(
        *[F.expr(_sql_double(x)).alias(f"c{i}") for i, x in enumerate(vals)]
    )
    assert {f.dataType.simpleString() for f in df.schema} == {"double"}
    row = df.first()
    assert [_bits(v) for v in row] == [_bits(x) for x in vals]
