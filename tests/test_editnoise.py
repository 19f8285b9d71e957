"""Edit-noise near-dup audit operators (operators/editnoise.py).

The oracle gate (q186/q187) proves engine parity; these tests pin the
SEMANTICS: the variant generator's determinism and drop rate, the
recall histogram's internal consistency, and the pigeonhole guarantee
the SimHash audit is supposed to measure.
"""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from salesanalytics_etl_spark.operators.editnoise import (
    editnoise_lsh_audit,
    editnoise_pairs,
    editnoise_simhash_audit,
)

SF = "/root/testdata/sf0.001"


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def test_variant_deterministic_and_matches_python(spark):
    """The Spark variant equals an independent pure-Python rederivation
    (same md5 tags, 1-based positions) — the property the DuckDB twin
    relies on."""
    rows = (
        editnoise_pairs(_docs(spark), sample_mod=None)
        .orderBy("doc_id")
        .limit(20)
        .collect()
    )
    assert rows, "no docs at sf0.001?"
    for r in rows:
        toks = r.t.split(" ")
        kept = [
            tok
            for i, tok in enumerate(toks, start=1)
            if int(
                hashlib.md5(f"edit-{r.doc_id}-{i}".encode()).hexdigest()[:6],
                16,
            )
            % 10
            != 0
        ]
        assert r.v == " ".join(kept), r.doc_id


def test_drop_rate_near_ten_percent(spark):
    pairs = editnoise_pairs(_docs(spark), sample_mod=None)
    agg = pairs.select(
        F.size(F.split("t", " ")).alias("n_t"),
        F.size(F.split("v", " ")).alias("n_v"),
    ).agg(F.sum("n_t").alias("t"), F.sum("n_v").alias("v")).collect()[0]
    dropped = (agg.t - agg.v) / agg.t
    assert 0.05 < dropped < 0.15, dropped


def test_lsh_audit_internal_consistency(spark):
    out = editnoise_lsh_audit(_docs(spark)).collect()
    assert out, "sampled corpus empty at sf0.001?"
    for r in out:
        assert 0 <= r.j_decile <= 9
        assert 0 <= r.n_band_hit <= r.n_pairs
        # 6 bands max per pair
        assert r.sum_band_hits <= 6 * r.n_pairs
        assert r.n_band_hit <= r.sum_band_hits
        # recall_bp = floor(hit/pairs * 1e4 + .5)
        assert r.recall_bp == (r.n_band_hit * 20000 + r.n_pairs) // (
            2 * r.n_pairs
        )
        # mean exact J must sit inside its decile (floor-rounding slack)
        assert r.sum_exact_bp <= r.n_pairs * 10000


def test_simhash_audit_pigeonhole(spark):
    """Hamming <= 3 rows MUST show chunk_hit == n_pairs (4 chunks of 16
    bits: 3 flipped bits cannot touch all 4) — the guarantee q26's
    exact mode builds on; above 3 the hit rate is what the audit
    measures."""
    out = editnoise_simhash_audit(_docs(spark)).collect()
    assert out
    for r in out:
        assert 0 <= r.hamming <= 63
        assert 0 <= r.n_chunk_hit <= r.n_pairs
        if r.hamming <= 3:
            assert r.n_chunk_hit == r.n_pairs, r


def test_identical_corpus_all_decile9_hamming0(spark):
    """drop_mod so large nothing is dropped -> every pair is exact:
    J = 1.0 (decile 9, all 6 bands hit) and Hamming = 0."""
    docs = _docs(spark)
    pairs = editnoise_pairs(docs, drop_mod=10**9, sample_mod=None)
    same = pairs.filter(F.col("t") != F.col("v")).count()
    assert same == 0


def test_int8_quantize_codes(spark):
    """Codes match a pure-Python rederivation; zero vector -> zeros;
    clamp holds."""
    from salesanalytics_etl_spark.operators.similarity import int8_quantize

    rows = [
        (1, [0.5, -1.0, 0.25, 0.0]),
        (2, [0.0, 0.0, 0.0, 0.0]),
        (3, [1e-30, -1e-30, 1e-30, 1e-30]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {
        r.vec_id: r.q
        for r in df.select(
            "vec_id", int8_quantize(F.col("embedding")).alias("q")
        ).collect()
    }
    import math

    for vid, emb in rows:
        m = max(abs(x) for x in emb)
        if m == 0:
            exp = [0, 0, 0, 0]
        else:
            exp = [
                int(max(min(math.floor(x * 127.0 / m + 0.5), 127), -127))
                for x in emb
            ]
        assert out[vid] == exp, (vid, out[vid], exp)


def test_winnow_audit_consistency(spark):
    from salesanalytics_etl_spark.operators.editnoise import (
        editnoise_winnow_audit,
    )

    out = editnoise_winnow_audit(_docs(spark)).collect()
    assert out
    for r in out:
        assert 0 <= r.j_decile <= 9
        assert 0 <= r.sum_winnow_bp <= r.n_pairs * 10000
        # |a-b| summed >= |sum(a)-sum(b)|
        assert r.sum_abs_gap_bp >= abs(r.sum_winnow_bp - r.sum_exact_bp)


def test_int8_topk_recall_bounds(spark):
    from salesanalytics_etl_spark.operators.similarity import (
        int8_topk_recall,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    out = int8_topk_recall(emb, emb.filter(F.col("vec_id") < 5), k=5).collect()
    assert len(out) == 5
    for r in out:
        assert 0 <= r.n_overlap <= 5
        assert r.recall_bp == (r.n_overlap * 20000 + 5) // 10


def test_cluster_safe_split_semantics(spark):
    """Synthetic clusters: every member inherits the representative's
    split; moved flags exactly the docs whose naive split differed;
    non-clustered docs keep the naive assignment."""
    import hashlib

    from salesanalytics_etl_spark.operators.curation import (
        cluster_safe_split,
    )

    docs = spark.range(0, 200).select(F.col("id").alias("doc_id"))
    clusters = spark.createDataFrame(
        [(3, 3), (3, 50), (3, 101), (7, 7), (7, 160)],
        "cluster_id long, doc_id long",
    )
    out = {r.doc_id: r for r in cluster_safe_split(docs, clusters).collect()}
    assert len(out) == 200

    def naive(x):
        b = int(hashlib.md5(str(x).encode()).hexdigest()[:6], 16) % 100
        return "train" if b < 80 else ("val" if b < 90 else "test")

    for d in (3, 50, 101):
        assert out[d].split == naive(3)
        assert out[d].moved == (naive(d) != naive(3))
    for d in (7, 160):
        assert out[d].split == naive(7)
    clustered = {3, 50, 101, 7, 160}
    for d in set(out) - clustered:
        assert out[d].split == naive(d) and out[d].moved == 0


def test_mixed_variant_matches_python(spark):
    """Mixed-mode (delete/replace/insert) variant equals a pure-Python
    rederivation under salt 'mix' — the property the q193-q195 oracle
    twins rely on."""
    rows = (
        editnoise_pairs(_docs(spark), sample_mod=None, edits="mixed")
        .orderBy("doc_id")
        .limit(20)
        .collect()
    )
    assert rows
    for r in rows:
        out: list[str] = []
        for i, tok in enumerate(r.t.split(" "), start=1):
            a = (
                int(
                    hashlib.md5(f"mix-{r.doc_id}-{i}".encode()).hexdigest()[
                        :6
                    ],
                    16,
                )
                % 30
            )
            new = hashlib.md5(
                f"ins-mix-{r.doc_id}-{i}".encode()
            ).hexdigest()[:8]
            if a == 0:
                continue
            if a == 1:
                out.append(new)
            elif a == 2:
                out.extend([tok, new])
            else:
                out.append(tok)
        assert r.v == " ".join(out), r.doc_id


def test_mixed_edit_rate_and_additions(spark):
    """Mixed mode edits ~10% of tokens overall AND introduces tokens the
    original never had (the shingle-ADDING regime drop-only cannot
    reach): net length stays near the original (inserts offset deletes)
    while the variant token set is NOT a subset of the original's."""
    pairs = editnoise_pairs(_docs(spark), sample_mod=None, edits="mixed")
    agg = pairs.select(
        F.size(F.split("t", " ")).alias("n_t"),
        F.size(F.split("v", " ")).alias("n_v"),
        F.size(
            F.array_except(
                F.array_distinct(F.split("v", " ")),
                F.array_distinct(F.split("t", " ")),
            )
        ).alias("novel"),
    ).agg(
        F.sum("n_t").alias("t"),
        F.sum("n_v").alias("v"),
        F.sum("novel").alias("novel"),
    ).collect()[0]
    # deletes ~1/30 and inserts ~1/30 cancel in expectation
    assert abs(agg.v - agg.t) / agg.t < 0.05, (agg.t, agg.v)
    # replace+insert each mint a novel md5 token ~1/30 of positions
    assert agg.novel / agg.t > 0.03, (agg.novel, agg.t)


def test_subgram_sides_empty_sets(spark):
    """r13 ADVICE: sides shorter than the gram size contribute EMPTY
    shingle sets — no phantom truncated gram. A pair whose variant is
    sub-gram-length lands in decile 0 with zero band hits and est 0; a
    pair whose ORIGINAL has no 5-gram drops out of the audit."""
    from salesanalytics_etl_spark.operators import editnoise as en

    docs = spark.createDataFrame(
        [
            (1, "abc"),  # original itself sub-gram -> excluded
            (2, "alpha beta gamma delta epsilon zeta eta theta"),
        ],
        "doc_id long, text string",
    )
    # drop_mod=1 drops EVERY token: v = '' for both docs
    pairs = en.editnoise_pairs(docs, drop_mod=1, sample_mod=None)
    assert {r.doc_id: r.v for r in pairs.collect()} == {1: "", 2: ""}
    res = en.editnoise_lsh_audit(
        docs, drop_mod=1, sample_mod=None
    ).collect()
    assert len(res) == 1 and res[0].j_decile == 0, res
    assert res[0].n_pairs == 1 and res[0].n_band_hit == 0
    assert res[0].sum_band_hits == 0
    assert res[0].sum_exact_bp == 0 and res[0].sum_est_bp == 0
    # winnow audit: doc 2 has 5-grams but its variant has none ->
    # counted with w_bp = 0, not dropped
    wres = en.editnoise_winnow_audit(
        docs, drop_mod=1, sample_mod=None
    ).collect()
    assert len(wres) == 1 and wres[0].j_decile == 0
    assert wres[0].n_pairs == 1 and wres[0].sum_winnow_bp == 0


def test_reorder_variant_matches_python(spark):
    """Reorder-mode variant equals a pure-Python rederivation under salt
    'ro' (segment of 0-based token i in an n-token doc =
    (i*8) div n; segments sorted by 60-bit md5 of
    'ro-doc-seg-s', stable within a segment) — the property the
    q197-q199 oracle twins rely on."""
    from salesanalytics_etl_spark.operators.editnoise import N_SEGMENTS

    rows = (
        editnoise_pairs(_docs(spark), sample_mod=None, edits="reorder")
        .orderBy("doc_id")
        .limit(20)
        .collect()
    )
    assert rows
    for r in rows:
        toks = r.t.split(" ")
        n = len(toks)

        def segkey(i: int) -> int:
            seg = (i * N_SEGMENTS) // n
            return int(
                hashlib.md5(
                    f"ro-{r.doc_id}-seg-{seg}".encode()
                ).hexdigest()[:15],
                16,
            )

        order = sorted(range(n), key=lambda i: (segkey(i), i))
        assert r.v == " ".join(toks[i] for i in order), r.doc_id


def test_reorder_preserves_token_multiset(spark):
    """No token is added or dropped: sorted token lists of t and v are
    identical for every pair — the invariance q198 measures (SimHash
    over token sets cannot distinguish t from v)."""
    pairs = editnoise_pairs(_docs(spark), sample_mod=None, edits="reorder")
    diff = pairs.filter(
        F.array_sort(F.split("t", " ")) != F.array_sort(F.split("v", " "))
    ).count()
    assert diff == 0


def test_reorder_actually_reorders(spark):
    """With 8 md5-permuted segments, identity permutations are rare
    (~1/8! per doc): most docs at sf0.001 must differ from their
    variant as STRINGS while agreeing as multisets."""
    pairs = editnoise_pairs(_docs(spark), sample_mod=None, edits="reorder")
    total = pairs.count()
    changed = pairs.filter(F.col("t") != F.col("v")).count()
    assert total > 0
    assert changed / total > 0.9, (changed, total)


def test_reorder_simhash_audit_all_hamming_zero(spark):
    """The audit MEASURES the invariance: every pair lands at hamming=0
    with a chunk hit."""
    out = editnoise_simhash_audit(
        _docs(spark), edits="reorder"
    ).collect()
    assert len(out) == 1, out
    assert out[0].hamming == 0
    assert out[0].n_chunk_hit == out[0].n_pairs


@pytest.mark.parametrize(
    "kwargs",
    [
        {"salt": "a'b"},
        {"salt": 'a"b'},
        {"salt": "a`b"},
        {"salt": "a\\b"},
        {"salt": "a;b"},
        {"salt": "a--b"},
        {"doc_id_expr": 'doc_id"'},
        {"doc_id_expr": "`doc_id`"},
        {"text_expr": 'concat(text, "x")'},
        {"text_expr": "text` as t, `x"},
    ],
)
def test_perturbed_text_rejects_unsafe_interpolation(spark, kwargs):
    """Every string perturbed_text splices into its SQL expression is
    refused when it carries a quote of any kind, a backslash, a
    statement separator or a comment opener."""
    from salesanalytics_etl_spark.operators.editnoise import perturbed_text

    args = {"doc_id_expr": "doc_id", "text_expr": "text", **kwargs}
    with pytest.raises(ValueError, match="unsafe for SQL interpolation"):
        perturbed_text(**args)
    # the same call with plain identifiers builds
    perturbed_text("doc_id", "text")
