"""Semantic tests for dedup/similarity/text operators on PLANTED data —
the rows-only queries aren't oracle-checked, so these pin their behavior:
known near-duplicates must be found, known-distinct docs must not be."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from salesanalytics_etl_spark.operators.dedup import (
    exact_dedupe,
    minhash_near_dupes,
    simhash_near_dupes,
)
from salesanalytics_etl_spark.operators.similarity import (
    cosine_topk_bruteforce,
    cosine_topk_lsh,
)
from salesanalytics_etl_spark.operators.text import lang_id, quality_score

BASE = (
    "the quick brown fox jumps over the lazy dog while the sun sets slowly "
    "behind distant mountains and rivers flow quietly through green valleys "
    "carrying stories of ancient forests toward the open sea"
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, BASE),
        (2, BASE),  # exact dup of 1
        (3, BASE.replace("quick", "swift").replace("lazy", "sleepy")),  # near-dup
        (4, "completely different text about database engines and query "
            "optimization with columnar storage vectorized execution and "
            "adaptive partitioning strategies for distributed analytics"),
        (5, "el rapido zorro marron salta sobre el perro perezoso mientras "
            "la luna brilla y los rios fluyen hacia el mar"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedupe_groups_identical_texts(docs):
    groups = {r.keep_id: r.dup_count for r in exact_dedupe(docs).collect()}
    assert groups[1] == 2  # docs 1+2 collapse, keeper is min id
    assert groups[3] == 1 and groups[4] == 1


def test_minhash_finds_planted_near_dups(docs):
    pairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in minhash_near_dupes(docs, threshold=0.5).collect()
    }
    assert pairs[(1, 2)] == 1.0  # exact dup: jaccard 1
    assert (1, 3) in pairs and pairs[(1, 3)] > 0.6  # near-dup found
    assert (1, 4) not in pairs and (3, 4) not in pairs  # distinct not paired


def test_simhash_finds_exact_dup_and_separates_distinct(docs):
    pairs = {(r.doc_a, r.doc_b): r.hamming for r in simhash_near_dupes(docs).collect()}
    assert pairs.get((1, 2)) == 0  # identical token sets → distance 0
    assert (1, 4) not in pairs


def test_simhash_candidate_budget_fails_loudly(spark):
    """Exact mode (cap lifted) on a degenerate corpus must raise at the
    budget — counted from bucket sizes BEFORE any pair expansion — and
    succeed untruncated when the budget accommodates the pairs."""
    rows = [(i, "identical boilerplate document body " * 4) for i in range(6)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    # 6 identical docs -> one size-6 bucket per chunk -> 15 distinct pairs
    with pytest.raises(RuntimeError, match="candidate_budget|budget"):
        simhash_near_dupes(df, max_bucket=1 << 20, candidate_budget=10)
    got = simhash_near_dupes(df, max_bucket=1 << 20, candidate_budget=100)
    assert got.count() == 15  # all C(6,2) pairs at hamming 0


def test_connected_components_transitive_chain(spark):
    from salesanalytics_etl_spark.operators.graph import dedup_clusters

    # chain 1-2, 2-3 plus isolated pair 7-9: closure must merge the chain
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 9)], ["doc_a", "doc_b"]
    )
    out = {}
    for r in dedup_clusters(pairs).collect():
        out.setdefault(r.cluster_id, set()).add(r.doc_id)
    assert out == {1: {1, 2, 3}, 7: {7, 9}}


def test_langid_on_clear_text(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog of the house is in the garden"),
            (2, "el gato y el perro de la casa que esta en el jardin"),
            (3, "der hund und die katze das haus ist nicht hier"),
            (4, "这是一个中文文档 关于数据处理"),
            (5, "xyzzy plugh 12345"),
        ],
        ["doc_id", "text"],
    )
    preds = {r.doc_id: r.lang_pred for r in lang_id(df).collect()}
    assert preds == {1: "en", 2: "es", 3: "de", 4: "zh", 5: "und"}


def test_quality_score_ranges(spark):
    df = spark.createDataFrame(
        [(1, BASE), (2, "x"), (3, "1234 5678 !!!! ####")], ["doc_id", "text"]
    )
    q = {r.doc_id: r for r in quality_score(df).collect()}
    assert q[1].quality > 0.9  # long clean english text
    assert q[2].quality < 0.8  # too short (fails length band)
    assert q[3].alpha_ratio == 0.0


@pytest.fixture(scope="module")
def vectors(spark):
    import math

    def vec(theta):  # unit vectors on a 2D circle embedded in 4 dims
        return [math.cos(theta), math.sin(theta), 0.0, 0.0]

    rows = [
        (0, vec(0.00)),
        (1, vec(0.01)),  # nearly parallel to 0
        (2, vec(1.50)),  # far from 0
        (3, vec(3.14)),  # opposite of 0
        (4, vec(0.02)),  # close to 0 and 1
    ]
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_cosine_topk_exact_ordering(vectors):
    out = cosine_topk_bruteforce(vectors, vectors.filter(F.col("vec_id") == 0), k=2)
    got = [(r.neighbor_id, r.cosine_sim) for r in out.collect()]
    assert [n for n, _ in got] == [1, 4]  # nearest first, ties impossible
    assert got[0][1] > 0.9999


def test_ivf_topk_is_subset_of_exact(spark):
    import math

    from salesanalytics_etl_spark.operators.ivf import cosine_topk_ivf

    # two well-separated clusters on the circle; IVF must find same-cluster
    # neighbors for a query even probing only half the clusters
    rows = [(i, [math.cos(t), math.sin(t), 0.0, 0.0])
            for i, t in enumerate([0.0, 0.05, 0.1, 3.0, 3.05, 3.1])]
    vecs = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = vecs.filter(F.col("vec_id") == 0)
    out = cosine_topk_ivf(vecs, q, k=2, n_clusters=2, n_probe=1)
    got = {r.neighbor_id for r in out.collect()}
    assert got == {1, 2}  # its own cluster's members, nearest first


def test_cosine_lsh_is_subset_of_exact_and_finds_parallel(vectors):
    q = vectors.filter(F.col("vec_id") == 0)
    exact = {(r.query_id, r.neighbor_id) for r in
             cosine_topk_bruteforce(vectors, q, k=4).collect()}
    approx = {(r.query_id, r.neighbor_id) for r in
              cosine_topk_lsh(vectors, q, k=4, dim=4).collect()}
    assert approx <= exact
    assert (0, 1) in approx  # nearly-parallel vector always shares a bucket


def test_connected_components_paths_agree(spark):
    """Driver union-find (small-graph fast path) and distributed label
    propagation must produce identical (node, component) labelings."""
    from salesanalytics_etl_spark.operators.graph import (
        _driver_union_find,
        _label_propagation,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 20), (5, 4)],
        "doc_a long, doc_b long",
    )
    a = sorted(map(tuple, _driver_union_find(edges, "doc_a", "doc_b").collect()))
    b = sorted(map(tuple, _label_propagation(edges, "doc_a", "doc_b", 20).collect()))
    assert a == b
    assert (1, 1) in a and (3, 1) in a and (4, 4) in a and (5, 4) in a


def test_portable_minhash_matches_production_semantics(docs):
    """The engine-portable twin (md5 hashes + xor-mask permutations) must
    find the same planted structure the production path finds: exact dups
    at J=1, near-dups above threshold, distinct docs unpaired — the hash
    FAMILY differs, the pipeline semantics must not."""
    from salesanalytics_etl_spark.operators.dedup import (
        minhash_near_dupes_portable,
    )

    pairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in minhash_near_dupes_portable(docs, threshold=0.5).collect()
    }
    assert pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs and pairs[(1, 3)] > 0.6
    assert (1, 4) not in pairs and (3, 4) not in pairs


def test_portable_minhash_bucket_cap_drops_degenerate_buckets(spark):
    """With max_bucket=1 every bucket of >=2 members is dropped, so even
    exact duplicates must produce no pairs — pinning that the SQL-replayed
    size filter has the production drop semantics (2 <= m <= cap)."""
    from salesanalytics_etl_spark.operators.dedup import (
        minhash_near_dupes_portable,
    )

    txt = "identical text for every document here " * 3
    df = spark.createDataFrame([(i, txt) for i in range(4)], ["doc_id", "text"])
    assert minhash_near_dupes_portable(df, max_bucket=1).count() == 0
    got = minhash_near_dupes_portable(df, max_bucket=64)
    assert got.count() == 6  # all C(4,2) exact-dup pairs at J=1


def test_ivf_portable_candidates_subset_of_exact_and_recall(spark, sf_dir):
    """The portable IVF (deterministic md5-sampled anchors) must return a
    subset of the exact brute-force scores (same rounded values for any
    pair it reports) with reasonable recall at probe-4-of-16."""
    from pyspark.sql import functions as F

    from salesanalytics_etl_spark.operators.ivf import cosine_topk_ivf_portable
    from salesanalytics_etl_spark.operators.similarity import (
        cosine_topk_bruteforce,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10)
    approx = {
        (r.query_id, r.neighbor_id): r.cosine_sim
        for r in cosine_topk_ivf_portable(emb, queries, k=5).collect()
    }
    exact = {
        (r.query_id, r.neighbor_id): r.cosine_sim
        for r in cosine_topk_bruteforce(emb, queries, k=5).collect()
    }
    # scores agree exactly wherever both report the pair
    for pair, sim in approx.items():
        if pair in exact:
            assert sim == exact[pair]
    recall = len(set(approx) & set(exact)) / len(exact)
    assert recall >= 0.3, recall  # probe-4/16 with untrained anchors


def test_cell_stats_cover_corpus_and_sane_bounds(spark, sf_dir):
    """Every corpus vector lands in exactly one cell; per-cell stats obey
    min <= mean <= max and memberships sum to the corpus size."""
    from salesanalytics_etl_spark.operators.ivf import portable_cell_assignment

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n = emb.count()
    cells = portable_cell_assignment(emb).collect()
    assert len(cells) == n
    assert len({r.cid for r in cells}) == n
    from collections import defaultdict
    agg = defaultdict(list)
    for r in cells:
        agg[r.cell].append(r.cell_sim)
    for sims in agg.values():
        assert min(sims) <= sum(sims) / len(sims) <= max(sims) + 1e-9
    assert sum(len(v) for v in agg.values()) == n


def test_lsh_bucket_audit_accounts_for_cap(spark):
    """The audit must report EXACTLY what the cap drops: 5 identical docs
    form one size-5 bucket per band; with cap 3 that bucket is capped and
    its 10 candidate pairs show up as dropped_pairs, while the two
    distinct docs stay singletons."""
    from salesanalytics_etl_spark.operators.dedup import lsh_bucket_audit

    rows = [(i, "the same boilerplate text repeated verbatim") for i in range(5)]
    rows += [(10, "a completely different document about spark"),
             (11, "yet another unrelated piece of text entirely")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = lsh_bucket_audit(df, max_bucket=3).collect()
    assert len(out) == 6  # one row per band
    for r in out:
        assert r.n_capped_buckets == 1 and r.dropped_pairs == 10
        assert r.n_singletons == 2 and r.kept_pairs == 0
        assert r.n_buckets == r.n_singletons + r.n_pair_buckets + r.n_capped_buckets
    # with the cap lifted the same bucket is a pair bucket instead
    out2 = lsh_bucket_audit(df, max_bucket=64).collect()
    for r in out2:
        assert r.n_capped_buckets == 0 and r.kept_pairs == 10


def test_ann_recall_audit_matches_direct_recomputation(spark, sf_dir):
    """q121's per-query recall rows must equal |lsh∩exact|/|exact| in
    exact basis points, recomputed here from the two operators directly
    — and recall is a real number, not vacuously 0 or 10000 everywhere."""
    from salesanalytics_etl_spark.plans.extensions import q121_ann_recall_audit

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk_bruteforce(emb, q, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk_lsh(emb, q, k=5).collect()
    }
    got = {r.query_id: r for r in q121_ann_recall_audit(spark, sf_dir).collect()}
    assert len(got) == 10
    for qid, row in got.items():
        want_exact = {p for p in exact if p[0] == qid}
        want_hits = {p for p in want_exact if p in approx}
        assert row.n_exact == len(want_exact) == 5
        assert row.n_hits == len(want_hits)
        assert row.recall_bp == len(want_hits) * 10000 // 5
    assert any(r.n_hits > 0 for r in got.values())


def test_ivf_recall_audit_matches_direct_recomputation(spark, sf_dir):
    """q122's per-query recall rows must equal |ivf∩exact|/|exact| in
    exact basis points, recomputed from the two operators directly."""
    from salesanalytics_etl_spark.operators.ivf import cosine_topk_ivf_portable
    from salesanalytics_etl_spark.plans.extensions import q122_ivf_recall_audit

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk_bruteforce(emb, q, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk_ivf_portable(emb, q, k=5).collect()
    }
    got = {r.query_id: r for r in q122_ivf_recall_audit(spark, sf_dir).collect()}
    assert len(got) == 10
    for qid, row in got.items():
        want_exact = {p for p in exact if p[0] == qid}
        want_hits = {p for p in want_exact if p in approx}
        assert row.n_exact == len(want_exact) == 5
        assert row.n_hits == len(want_hits)
        assert row.recall_bp == len(want_hits) * 10000 // 5


def test_source_minhash_jaccard_estimates_set_similarity(spark):
    """The sketch twin of q170 (r11 verdict item 3): identical sources
    estimate J=1 (all 32 components match), disjoint-vocabulary sources
    estimate near 0, and duplicates inside a source do NOT move the
    estimate (min-aggregation is duplicate-insensitive — the property
    that lets the operator skip the corpus-sized distinct)."""
    from salesanalytics_etl_spark.operators.dedup import (
        source_minhash_jaccard,
    )

    same = "the quick brown fox jumps over the lazy dog again and again"
    other = "zzz yyy xxx www vvv uuu qqq ppp completely different words"
    df = spark.createDataFrame(
        [
            (1, "a", same),
            (2, "b", same),  # identical corpus -> J_hat = 1
            (3, "b", same),  # in-source duplicate: must not matter
            (4, "c", other),  # disjoint vocabulary -> J_hat ~ 0
        ],
        "doc_id BIGINT, source STRING, text STRING",
    )
    got = {
        (r.source_a, r.source_b): (r.matching_components, r.est_jaccard_bp)
        for r in source_minhash_jaccard(df).collect()
    }
    assert got[("a", "b")] == (32, 10000)
    assert got[("a", "c")][1] < 2500 and got[("b", "c")][1] < 2500
    assert got[("a", "c")] == got[("b", "c")]  # duplicate-insensitive


def test_capped_bucket_recovery_rounds(spark):
    """r14 band-cap recovery knob: an oversized bucket (every doc shares
    one signature) is DROPPED at recover_rounds=0 but re-admitted with
    bounded salted sub-bucket pairing at R>0 — pairs are valid
    (doc_a < doc_b, within the bucket, deduped) and coverage grows
    with R toward the analytic 1-(1-cap/m)^R."""
    from salesanalytics_etl_spark.operators.dedup import (
        N_HASHES,
        lsh_candidates,
    )

    n, cap = 24, 4
    # all docs share the identical signature -> one bucket of 24 per band
    sigs = spark.createDataFrame(
        [(i, *[7] * N_HASHES) for i in range(n)],
        ["doc_id", *[f"mh{i}" for i in range(N_HASHES)]],
    )
    assert lsh_candidates(sigs, max_bucket=cap).count() == 0
    got1 = lsh_candidates(sigs, max_bucket=cap, recover_rounds=1)
    got8 = lsh_candidates(sigs, max_bucket=cap, recover_rounds=8)
    rows8 = got8.collect()
    all_pairs = {(a, b) for a in range(n) for b in range(n) if a < b}
    assert {(r.doc_a, r.doc_b) for r in rows8} <= all_pairs
    assert len(rows8) == len({(r.doc_a, r.doc_b) for r in rows8})
    c1, c8 = got1.count(), len(rows8)
    assert 0 < c1 < c8 <= len(all_pairs)
    # R=8, cap/m = 4/24 -> 1-(1-1/6)^8 ~ 0.77 per band, and the salt
    # includes band_id so the 6 bands are INDEPENDENT trials (the
    # post-close review fix): combined ~ 1-(1-1/6)^48 ~ 1.0 minus
    # truncation losses. Loose bound, resilient to truncation:
    assert c8 / len(all_pairs) > 0.8, (c8, len(all_pairs))


def test_recovery_rounds_do_not_touch_small_buckets(spark):
    """Buckets under the cap produce identical output with and without
    recovery (the R=0 plan is the production default)."""
    from salesanalytics_etl_spark.operators.dedup import (
        N_HASHES,
        lsh_candidates,
    )

    sigs = spark.createDataFrame(
        [(i, *[i % 3] * N_HASHES) for i in range(9)],
        ["doc_id", *[f"mh{i}" for i in range(N_HASHES)]],
    )
    base = {
        (r.doc_a, r.doc_b)
        for r in lsh_candidates(sigs, max_bucket=8).collect()
    }
    rec = {
        (r.doc_a, r.doc_b)
        for r in lsh_candidates(
            sigs, max_bucket=8, recover_rounds=8
        ).collect()
    }
    assert base == rec and base


def test_simhash_capped_bucket_recovery(spark):
    """r15 SimHash recovery knob (the reorder probe showed the CAP, not
    Hamming, limits this path when signatures collapse): docs with the
    IDENTICAL token set share one signature, so n docs form one over-cap
    bucket per chunk — dropped at R=0, re-admitted via md5-salted
    sub-buckets at R>0. Every recovered pair is hamming=0 and coverage
    grows with R; pairs stay valid (a<b, deduped)."""
    from salesanalytics_etl_spark.operators.dedup import (
        simhash_near_dupes,
    )

    n, cap = 24, 4
    text = " ".join(f"tok{j}" for j in range(30))
    docs = spark.createDataFrame(
        [(i, text) for i in range(n)], "doc_id long, text string"
    )
    assert simhash_near_dupes(docs, max_bucket=cap).count() == 0
    got1 = simhash_near_dupes(docs, max_bucket=cap, recover_rounds=1)
    got8 = simhash_near_dupes(docs, max_bucket=cap, recover_rounds=8)
    rows8 = got8.collect()
    all_pairs = {(a, b) for a in range(n) for b in range(n) if a < b}
    assert {(r.doc_a, r.doc_b) for r in rows8} <= all_pairs
    assert len(rows8) == len({(r.doc_a, r.doc_b) for r in rows8})
    assert all(r.hamming == 0 for r in rows8)
    c1, c8 = got1.count(), len(rows8)
    assert 0 < c1 < c8 <= len(all_pairs)
    # cap/m = 1/6 per (chunk, round); 4 chunks x 8 rounds of independent
    # md5-salted partitions -> coverage ~ 1-(1-1/6)^32 minus truncation
    assert c8 / len(all_pairs) > 0.8, (c8, len(all_pairs))


def test_simhash_recovery_does_not_touch_small_buckets(spark):
    """Under-cap corpora produce identical pairs with and without
    recovery — R=0 stays the byte-identical production default."""
    from salesanalytics_etl_spark.operators.dedup import (
        simhash_near_dupes,
    )

    # 3 groups of 3 identical docs; distinct groups differ wholesale
    docs = spark.createDataFrame(
        [
            (i, " ".join(f"g{i % 3}tok{j}" for j in range(25)))
            for i in range(9)
        ],
        "doc_id long, text string",
    )
    base = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in simhash_near_dupes(docs, max_bucket=8).collect()
    }
    rec = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in simhash_near_dupes(
            docs, max_bucket=8, recover_rounds=8
        ).collect()
    }
    assert base == rec and base


def test_simhash_budget_counts_recovery_pairs(spark):
    """r15 review: the candidate budget must cover recovery sub-bucket
    pairs too — a collapsed corpus whose base buckets are all DROPPED
    (over cap) would otherwise pass a tiny budget and then grind
    through the recovery pair join anyway."""
    import pytest

    from salesanalytics_etl_spark.operators.dedup import (
        simhash_near_dupes,
    )

    text = " ".join(f"tok{j}" for j in range(30))
    docs = spark.createDataFrame(
        [(i, text) for i in range(24)], "doc_id long, text string"
    )
    # base path: the single 24-member bucket is over cap 4 -> 0 base
    # candidates, so a base-only count would pass budget=1
    assert (
        simhash_near_dupes(docs, max_bucket=4, candidate_budget=1).count()
        == 0
    )
    # with recovery the sub-buckets contribute counted pairs -> raise
    with pytest.raises(RuntimeError, match="base \\+ recovery"):
        simhash_near_dupes(
            docs, max_bucket=4, candidate_budget=1, recover_rounds=4
        )
    # and a budget that covers them proceeds, returning recovered pairs
    got = simhash_near_dupes(
        docs, max_bucket=4, candidate_budget=10_000, recover_rounds=4
    )
    assert got.count() > 0


def test_winnow_finds_planted_near_dups(docs):
    from salesanalytics_etl_spark.operators.dedup import winnow_near_dupes

    pairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in winnow_near_dupes(docs, threshold=0.5).collect()
    }
    assert pairs[(1, 2)] == 1.0  # exact dup: jaccard 1
    assert (1, 3) in pairs and pairs[(1, 3)] > 0.6  # near-dup found
    assert (1, 4) not in pairs and (3, 4) not in pairs  # distinct not paired


def test_winnow_fingerprint_guarantee_and_sampling(spark):
    """Winnowing's published guarantee: two docs sharing a common run of
    >= WINNOW_W + WINNOW_K - 1 chars share >= 1 fingerprint; and the
    fingerprint set is a strict sample (~2/(w+1)) of the gram hashes."""
    from salesanalytics_etl_spark.operators.dedup import (
        WINNOW_K,
        WINNOW_W,
        winnow_fingerprints,
    )

    run = "zqxjvkwpyfbgmdh"  # 15 chars >= 4 + 8 - 1
    rows = [
        (1, "aaaaaaaaaaaaaaaaaaaa " + run + " bbbbbbbbbbbbbbbbbbbb"),
        (2, "cccccccccccccccccccc " + run + " dddddddddddddddddddd"),
    ]
    assert len(run) >= WINNOW_W + WINNOW_K - 1
    fps = winnow_fingerprints(
        spark.createDataFrame(rows, ["doc_id", "text"])
    ).collect()
    by_doc = {1: set(), 2: set()}
    for r in fps:
        by_doc[r.doc_id].add(r.fp)
    assert by_doc[1] & by_doc[2]  # shared run -> shared fingerprint
    n_grams = len(rows[0][1]) - WINNOW_K + 1
    assert len(by_doc[1]) < n_grams / 2  # a real sample, not all hashes


def test_winnow_boilerplate_cap_drops_hot_fingerprints(spark):
    """The MOSS stopword rule: a fingerprint held by more docs than
    max_bucket is dropped WHOLESALE, so a 70-clique of identical docs
    yields no pairs at cap 64 but pairs up when the cap clears it."""
    from salesanalytics_etl_spark.operators.dedup import winnow_near_dupes

    text = (
        "identical boilerplate paragraph repeated across every document "
        "in this synthetic clique for the posting list cap test"
    )
    docs = spark.createDataFrame(
        [(i, text) for i in range(70)], ["doc_id", "text"]
    )
    assert winnow_near_dupes(docs, max_bucket=64).count() == 0
    assert winnow_near_dupes(docs, max_bucket=100).count() == 70 * 69 // 2


def test_winnow_slack_widens_candidates_monotonically(docs):
    """slack 0 candidates are a subset of slack 3000 candidates, and the
    verified output at any slack is exact-precision (every pair >= t)."""
    from salesanalytics_etl_spark.operators.dedup import winnow_near_dupes

    tight = {
        (r.doc_a, r.doc_b)
        for r in winnow_near_dupes(docs, slack_bp=0).collect()
    }
    wide = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in winnow_near_dupes(docs, slack_bp=3000).collect()
    }
    assert tight <= set(wide)
    assert all(j >= 0.5 for j in wide.values())


def test_winnow_candidate_scores_bounds(docs):
    """w_lb_bp is a true LOWER bound of the fingerprint Jaccard in bp:
    recompute exact fp-Jaccard per candidate pair and compare."""
    from salesanalytics_etl_spark.operators.dedup import (
        winnow_candidate_scores,
        winnow_fingerprints,
    )

    fps = {}
    for r in winnow_fingerprints(docs).collect():
        fps.setdefault(r.doc_id, set()).add(r.fp)
    for r in winnow_candidate_scores(docs).collect():
        inter = len(fps[r.doc_a] & fps[r.doc_b])
        union = len(fps[r.doc_a] | fps[r.doc_b])
        true_bp = (inter * 20000 + union) // (2 * union)
        assert 0 <= r.w_lb_bp <= true_bp, (r.doc_a, r.doc_b)
        assert r.n_shared <= inter


def test_winnow_recovery_restores_capped_recall(spark, sf_dir):
    """The r16 cap-collapse fix: at cap 4 every planted-dup posting list
    in the sf0.001 corpus is over-cap, so the plain pipeline finds
    NOTHING; recover_bands=4 (salted min-fingerprint bands + fp-set
    estimate + exact verify) restores nearly all pairs found at the
    production cap, and everything it emits is exact-verified >= t."""
    from salesanalytics_etl_spark.operators.dedup import winnow_near_dupes

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    full = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in winnow_near_dupes(docs).collect()
    }
    assert winnow_near_dupes(docs, max_bucket=4).count() == 0  # collapse
    rec = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in winnow_near_dupes(docs, max_bucket=4, recover_bands=4).collect()
    }
    assert len(rec) >= 0.9 * len(full) > 0  # recovery restores recall
    assert all(j >= 0.5 for j in rec.values())  # precision stays exact
    # recovered pairs carry the same verified jaccard as the full run
    for k in set(rec) & set(full):
        assert rec[k] == full[k]
