"""IVF (inverted-file) approximate nearest neighbor: a coarse quantizer
(spherical k-means) + probe-N clusters + exact rescoring.

The second ANN scale path beside hyperplane LSH (similarity.py):

1. Fit the quantizer on a BOUNDED deterministic sample of the corpus (the
   standard IVF practice — a quantizer does not need every vector). The
   driver holds only sample_cap×dim floats during the fit and the k×dim
   centroid matrix after.
2. Assign every corpus vector to its nearest centroid — one vectorized
   Arrow-batched matmul pass, partition-parallel; the cluster id becomes
   the join key ("inverted list").
3. Each query probes its ``n_probe`` nearest centroids and is compared
   ONLY against those clusters' members — an equi-join on cluster id, with
   candidate fraction ≈ n_probe/k instead of 1.

Recall/cost dial: (k, n_probe). Unlike LSH there is no hashing variance —
probing more clusters monotonically approaches exact search.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from salesanalytics_etl_spark.operators.similarity import cosine

N_CLUSTERS = 16
N_PROBE = 4
SEED = 42
SAMPLE_CAP = 4096


def _spherical_kmeans(sample: np.ndarray, k: int, iters: int = 8) -> np.ndarray:
    """Deterministic Lloyd's on the unit sphere (assign by max dot,
    recenter = normalized mean). Runs on the driver over the bounded
    sample in milliseconds — a distributed fit at quantizer scale is all
    scheduling overhead."""
    norms = np.sqrt((sample * sample).sum(axis=1, keepdims=True))
    pts = sample / np.where(norms == 0, 1.0, norms)
    rng = np.random.RandomState(SEED)
    centroids = pts[rng.choice(len(pts), size=min(k, len(pts)), replace=False)]
    for _ in range(iters):
        assign = np.argmax(pts @ centroids.T, axis=1)
        for c in range(len(centroids)):
            members = pts[assign == c]
            if len(members):
                m = members.mean(axis=0)
                n = np.sqrt((m * m).sum())
                if n > 0:
                    centroids[c] = m / n
    return centroids


def _fit_centroids(
    corpus: DataFrame, id_col: str, vec_col: str, k: int
) -> np.ndarray:
    n = corpus.count()
    step = max(1, n // SAMPLE_CAP)
    # hash-stride sample: deterministic across partitionings/sessions,
    # unlike df.sample whose draw depends on partition layout. Striding
    # on the HASH of the id, not the id itself — raw residues can be
    # empty (all-odd ids with step 2 select zero rows and the k-means
    # fit crashes on an empty array) while hash residues are uniform
    # under any id-assignment scheme.
    pdf = (
        corpus.filter(F.pmod(F.xxhash64(F.col(id_col)), F.lit(step)) == 0)
        .select(vec_col)
        .limit(SAMPLE_CAP)
        .toPandas()
    )
    if len(pdf) == 0:  # belt-and-braces: tiny corpora or extreme skew
        pdf = corpus.select(vec_col).limit(SAMPLE_CAP).toPandas()
    sample = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
    return _spherical_kmeans(sample, k)


def _assign_udf(centroids: np.ndarray, n_nearest: int):
    """pandas_udf: array<float> → n_nearest nearest centroid ids, one
    matmul per Arrow batch (cosine on normalized inputs = argmax dot)."""

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def assign(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        mat = np.array([np.asarray(v, dtype=np.float64) for v in vecs])
        norms = np.sqrt((mat * mat).sum(axis=1, keepdims=True))
        mat = mat / np.where(norms == 0, 1.0, norms)
        sims = mat @ centroids.T  # (n, k)
        nearest = np.argsort(-sims, axis=1)[:, :n_nearest].astype(np.int32)
        return pd.Series(list(nearest))

    return assign


def cosine_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_clusters: int = N_CLUSTERS,
    n_probe: int = N_PROBE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate cosine top-k via IVF probing. Output matches
    cosine_topk_bruteforce's schema; ties broken by neighbor_id."""
    centroids = _fit_centroids(corpus, id_col, vec_col, n_clusters)

    c_assign = _assign_udf(centroids, 1)
    q_assign = _assign_udf(centroids, n_probe)

    from salesanalytics_etl_spark.operators.dedup import spread_partitions

    # spread before the per-row pandas assignment UDF — single-file
    # scans otherwise run it on ONE task (r17, the q24/q190 lesson)
    c = spread_partitions(corpus, by=id_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        F.element_at(c_assign(F.col(vec_col)), 1).alias("cluster"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        F.explode(q_assign(F.col(vec_col))).alias("cluster"),
    )
    sim = F.round(cosine(F.col("q_vec"), F.col("c_vec")), 6)
    scored = (
        c.join(F.broadcast(q), on="cluster")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", sim.alias("cosine_sim"))
        .distinct()
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )


def assign_clusters(
    corpus: DataFrame,
    n_clusters: int = N_CLUSTERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Hard-assign every vector to its nearest quantizer centroid.

    Returns the corpus columns + (cluster, centroid_sim). Fits the same
    sample-fit quantizer the IVF search path probes, so cluster profiles
    and ANN share one model. One Arrow-batched matmul per batch, no
    shuffle.
    """

    centroids = _fit_centroids(corpus, id_col, vec_col, n_clusters)

    @F.pandas_udf("cluster int, centroid_sim double")
    def assign(vecs: pd.Series) -> pd.DataFrame:
        if len(vecs) == 0:
            return pd.DataFrame({"cluster": [], "centroid_sim": []})
        mat = np.array([np.asarray(v, dtype=np.float64) for v in vecs])
        norms = np.sqrt((mat * mat).sum(axis=1, keepdims=True))
        mat = mat / np.where(norms == 0, 1.0, norms)
        sims = mat @ centroids.T
        best = np.argmax(sims, axis=1)
        return pd.DataFrame(
            {
                "cluster": best.astype(np.int32),
                "centroid_sim": sims[np.arange(len(best)), best],
            }
        )

    from salesanalytics_etl_spark.operators.dedup import spread_partitions

    # spread before the per-row pandas assignment UDF (r17, q24/q190)
    return (
        spread_partitions(corpus, by=id_col)
        .withColumn("_a", assign(F.col(vec_col)))
        .select(*corpus.columns, "_a.cluster", "_a.centroid_sim")
    )


def _portable_anchors(
    corpus: DataFrame, n_cells: int, id_col: str, vec_col: str
) -> DataFrame:
    """``n_cells`` anchor vectors = the corpus rows with the smallest
    md5-derived keys — a deterministic uniform sample both engines can
    reproduce (k-means|| seeding without the iterations)."""
    from salesanalytics_etl_spark.operators.dedup import md5_token_hash

    h = md5_token_hash(
        F.concat_ws("-", F.lit("anchor"), F.col(id_col).cast("string"))
    )
    return (
        corpus.select(
            F.col(id_col).alias("anchor_id"),
            F.col(vec_col).alias("a_vec"),
            h.alias("_h"),
        )
        .orderBy("_h", "anchor_id")
        .limit(n_cells)
        .drop("_h")
    )


def portable_cell_assignment(
    corpus: DataFrame,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    anchor_rows: list | None = None,
) -> DataFrame:
    """(cid, cell, cell_sim): each vector's nearest deterministic anchor
    by ROUNDED cosine (6dp, anchor id tiebreak — the cross-engine-stable
    total order). The shared quantizer stage of the portable IVF (q112)
    and the cell-statistics report (q113).

    The anchors are collected (BOUNDED: n_cells rows — the sanctioned
    sketch-sized collect) and inlined as literal arrays, so the argmax
    is n_cells struct comparisons INSIDE one projection over the corpus
    scan — strictly map-side. The previous join+window form shuffled
    n_cells × corpus rows through the row_number exchange, the exact
    cost quantizer assignment exists to avoid at 100 TB. greatest() over
    (sim, -anchor_id) structs reproduces the (desc sim, asc id) total
    order, so the output is value-identical (float32 anchor components
    lift to the same doubles either way).

    NB the anchor collect makes plan CONSTRUCTION eager: anchors are
    frozen at build time; a genuinely EMPTY corpus yields zero anchors —
    returned as an empty result rather than letting ``greatest()`` blow
    up with no arguments. A degenerate ``n_cells <= 0`` on the other
    hand raises loudly (the repo convention: silent-empty results hide
    parameter bugs). ``anchor_rows`` lets a caller that already
    collected the anchor frame (cosine_topk_ivf_portable probes the
    same anchors) thread it through instead of re-deriving it — one
    corpus sample scan instead of two.
    """
    import math

    from salesanalytics_etl_spark.operators.similarity import (
        _dot_literal_sql,
        _norm,
        _sql_double,
    )

    if n_cells <= 0:
        raise ValueError(f"n_cells must be positive, got {n_cells}")
    rows = (
        anchor_rows
        if anchor_rows is not None
        else _portable_anchors(corpus, n_cells, id_col, vec_col).collect()
    )
    if not rows:
        return corpus.select(
            F.col(id_col).alias("cid"),
            F.lit(None).cast("long").alias("cell"),
            F.lit(None).cast("double").alias("cell_sim"),
        ).limit(0)
    # cosine(c, a) = dot(c, a) / (|c|·|a|): |c| is hoisted to ONE
    # aggregate per row (not n_cells), and |a| is computed in Python —
    # the same left-to-right float64 accumulation + IEEE sqrt as the
    # F.aggregate form, so the quotient is bit-identical while the
    # expression tree shrinks ~3× (16 norm-aggregates of 64-literal
    # arrays were pure compile/eval overhead). The argmax is built as
    # ONE SQL string — one py4j call, where a Column per anchor
    # component costs a round trip per literal.
    c = corpus.select(
        F.col(id_col).alias("cid"), F.col(vec_col).alias("c_vec")
    ).withColumn("_cn", _norm(F.col("c_vec")))
    cands = []
    for r in rows:
        vals = [float(x) for x in r.a_vec]
        anorm = math.sqrt(sum((x * x for x in vals), 0.0))
        cands.append(
            f"named_struct('s', round({_dot_literal_sql('c_vec', vals)}"
            f" / (_cn * {_sql_double(anorm)}), 6),"
            f" 'nid', cast({-int(r.anchor_id)} as bigint))"
        )
    best = cands[0] if len(cands) == 1 else f"greatest({', '.join(cands)})"
    return c.withColumn("_b", F.expr(best)).select(
        "cid",
        (-F.col("_b.nid")).cast("long").alias("cell"),
        F.col("_b.s").alias("cell_sim"),
    )


def cosine_topk_ivf_portable(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF probe-N ANN with a DETERMINISTIC data-sampled quantizer — every
    stage replayable in ANSI SQL, so the approximate output itself is
    oracle-checkable (the q28/q109 pattern applied to IVF).

    The quantizer: ``n_cells`` anchor vectors picked as the corpus rows
    with the smallest md5-derived keys (a deterministic uniform sample —
    k-means|| seeding without the iterations; "IVF over sampled centroids"
    is the standard quality baseline the trained quantizer, q34, is
    measured against). Assignment/probing/rescoring are the REAL IVF
    mechanics: every vector joins its nearest anchor's cell, a query
    probes its ``n_probe`` nearest cells, exact rescoring runs only inside
    probed cells — candidate fraction ≈ n_probe/n_cells of the corpus.

    All similarity comparisons order by the ROUNDED (6dp) cosine with the
    anchor/neighbor id as tiebreak — the cross-engine-stable total order
    (raw doubles can differ in final ulps across engines; rounded ones
    are proven identical on this surface — q27/q32).

    Scale: anchors are a bounded broadcast (n_cells rows); assignment is
    n_cells literal-anchor sims per row on the corpus scan (no shuffle);
    the candidate join is an equi-join on cell id.
    """
    c = corpus.select(F.col(id_col).alias("cid"), F.col(vec_col).alias("c_vec"))
    # the anchor list is bounded (n_cells rows): collected once, it feeds
    # both the probe side and the corpus assignment argmax
    anchor_rows = _portable_anchors(corpus, n_cells, id_col, vec_col).collect()
    cells = portable_cell_assignment(
        corpus, n_cells, id_col, vec_col, anchor_rows=anchor_rows
    ).select("cid", "cell")
    anchors = corpus.sparkSession.createDataFrame(
        [(int(r.anchor_id), [float(x) for x in r.a_vec]) for r in anchor_rows],
        "anchor_id bigint, a_vec array<double>",
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    qsim = q.join(F.broadcast(anchors)).select(
        "query_id",
        "anchor_id",
        F.round(cosine(F.col("q_vec"), F.col("a_vec")), 6).alias("s"),
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.desc("s"), F.asc("anchor_id")
    )
    probes = (
        qsim.withColumn("_rn", F.row_number().over(wq))
        .filter(F.col("_rn") <= n_probe)
        .select("query_id", F.col("anchor_id").alias("cell"))
    )
    cand = (
        cells.join(F.broadcast(probes), "cell")
        .filter(F.col("cid") != F.col("query_id"))
        .select("query_id", F.col("cid").alias("neighbor_id"))
        .distinct()
    )
    scored = (
        cand.join(F.broadcast(q), "query_id")
        .join(c.withColumnRenamed("cid", "neighbor_id"), "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("q_vec"), F.col("c_vec")), 6).alias(
                "cosine_sim"
            ),
        )
    )
    wk = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("_rk", F.row_number().over(wk))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )
