"""Large-scale-pipeline extension queries (BASELINE.json north star):
dedup, similarity search, text analysis, multimodal plumbing, event-stream
analytics. Implementations live in operators/ and streaming/; this module
registers them on the engine's query surface with DuckDB oracle twins where
the semantics are SQL-expressible (the LSH/simhash/mapInPandas paths are
not — the driver records rows-only checks for those, by design).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from salesanalytics_etl_spark.plans.registry import register


# shared table-unpacking helper — single definition in plans.queries
from salesanalytics_etl_spark.plans.queries import _t  # noqa: E402


# --------------------------------------------------------------------------
# Text analysis
# --------------------------------------------------------------------------
@register(
    "q20_docs_fingerprint",
    oracle=r"""
    SELECT doc_id,
           md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint
    FROM documents
    """,
    doc="document fingerprint: md5 of lowercased, whitespace-collapsed text",
)
def q20_docs_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from salesanalytics_etl_spark.operators.text import fingerprint

    (documents,) = _t(spark, sf_dir, "documents")
    return fingerprint(documents)


@register(
    "q21_docs_exact_dedupe",
    oracle=r"""
    SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint,
           CAST(MIN(doc_id) AS BIGINT) AS keep_id,
           CAST(COUNT(*) AS BIGINT) AS dup_count
    FROM documents GROUP BY 1
    """,
    doc="exact dedupe: hash-groupBy on normalized-text fingerprint, keep min id",
)
def q21_docs_exact_dedupe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from salesanalytics_etl_spark.operators.dedup import exact_dedupe

    (documents,) = _t(spark, sf_dir, "documents")
    return exact_dedupe(documents)


@register(
    "q22_docs_token_stats",
    oracle=r"""
    SELECT doc_id,
           CAST(length(text) AS INT) AS n_chars,
           CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+|[぀-ヿ㐀-䶿一-鿿가-힯]')) AS INT) AS n_tokens
    FROM documents
    """,
    doc="token counting: [A-Za-z0-9]+ runs + one token per CJK codepoint",
)
def q22_docs_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from salesanalytics_etl_spark.operators.text import token_count

    (documents,) = _t(spark, sf_dir, "documents")
    t = F.col("text")
    return documents.select(
        "doc_id",
        F.length(t).alias("n_chars"),
        token_count(t).alias("n_tokens"),
    )


@register(
    "q23_docs_quality",
    oracle=r"""
    WITH m AS (
      SELECT doc_id,
             length(text) AS n_chars,
             len(regexp_extract_all(text, '[A-Za-z0-9]+|[぀-ヿ㐀-䶿一-鿿가-힯]')) AS n_tokens,
             len(regexp_extract_all(text, '[A-Za-z]')) AS n_alpha,
             len(regexp_extract_all(lower(text),
                 '\b(the|and|of|to|is|in|a|that|it|for)\b')) AS n_stop
      FROM documents
    )
    SELECT doc_id,
           CAST(n_chars AS INT) AS n_chars,
           CAST(n_tokens AS INT) AS n_tokens,
           FLOOR((CASE WHEN n_chars > 0
                      THEN CAST(n_alpha AS DOUBLE) / n_chars ELSE 0.0 END)
                 * 10000.0 + 0.5) / 10000.0
             AS alpha_ratio,
           FLOOR((CASE WHEN n_tokens > 0
                      THEN CAST(n_stop AS DOUBLE) / n_tokens ELSE 0.0 END)
                 * 10000.0 + 0.5) / 10000.0
             AS stopword_ratio,
           FLOOR((0.25 * (CASE WHEN n_chars BETWEEN 64 AND 8192 THEN 1.0 ELSE 0.0 END)
               + 0.5 * (CASE WHEN n_chars > 0
                             THEN CAST(n_alpha AS DOUBLE) / n_chars ELSE 0.0 END)
               + 0.25 * (CASE WHEN n_tokens > 0
                              AND CAST(n_alpha AS DOUBLE) / n_tokens BETWEEN 2 AND 12
                              THEN 1.0 ELSE 0.0 END)) * 10000.0 + 0.5) / 10000.0
             AS quality
    FROM m
    """,
    doc="quality scoring: length band + alpha ratio + mean-token-length band",
)
def q23_docs_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from salesanalytics_etl_spark.operators.text import quality_score

    (documents,) = _t(spark, sf_dir, "documents")
    return quality_score(documents)


@register(
    "q24_docs_langid",
    oracle=r"""
    WITH s AS (
      SELECT doc_id,
             len(regexp_extract_all(text, '[一-鿿]')) AS cjk,
             len(regexp_extract_all(lower(text), '\b(the|and|of|to|is|in)\b')) AS s_en,
             len(regexp_extract_all(lower(text), '\b(el|la|los|las|de|que|y)\b')) AS s_es,
             len(regexp_extract_all(lower(text), '\b(le|la|les|des|et|est|une)\b')) AS s_fr,
             len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|nicht)\b')) AS s_de
      FROM documents
    )
    SELECT doc_id,
           CASE WHEN cjk > 0 THEN 'zh'
                WHEN s_en = 0 AND s_es = 0 AND s_fr = 0 AND s_de = 0 THEN 'und'
                WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_de THEN 'en'
                WHEN s_es >= s_fr AND s_es >= s_de THEN 'es'
                WHEN s_fr >= s_de THEN 'fr'
                ELSE 'de' END AS lang_pred
    FROM s
    """,
    doc="language-ID heuristic: CJK charset check + stopword-regex argmax "
    "(first-wins ties, 'und' on zero evidence)",
)
def q24_docs_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from salesanalytics_etl_spark.operators.text import lang_id

    (documents,) = _t(spark, sf_dir, "documents")
    return lang_id(documents)


# --------------------------------------------------------------------------
# Near-duplicate detection (LSH paths — not SQL-expressible → rows-only)
# --------------------------------------------------------------------------
@register(
    "q47_docs_chunking",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             string_split_regex(trim(regexp_replace(lower(regexp_replace(text, '([぀-ヿ㐀-䶿一-鿿가-힯])', ' \1 ', 'g')), '\s+', ' ', 'g')),
                                '\s+') AS t
      FROM documents
      WHERE length(trim(regexp_replace(lower(regexp_replace(text, '([぀-ヿ㐀-䶿一-鿿가-힯])', ' \1 ', 'g')), '\s+', ' ', 'g'))) > 0
    )
    SELECT doc_id,
           CAST(s // 24 AS INT) AS chunk_id,
           array_to_string(t[s+1 : s+32], ' ') AS chunk_text,
           CAST(LEAST(len(t) - s, 32) AS INT) AS chunk_len
    FROM toks, UNNEST(range(0, GREATEST(len(t), 1), 24)) AS u(s)
    """,
    doc="context-window chunking: overlapping 32-token chunks, stride 24 "
    "— tokenize once, explode offsets, slice per chunk; one generate op, "
    "no Python (training-data prep at corpus scale)",
)
def q47_docs_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    from salesanalytics_etl_spark.operators.text import chunk_documents

    (documents,) = _t(spark, sf_dir, "documents")
    return chunk_documents(documents, chunk_tokens=32, stride=24)


@register(
    "q48_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_qty,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_base_price,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 4) AS sum_disc_price,
           CAST(COUNT(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1-shaped pricing summary: the canonical scan→filter→"
    "wide-agg shape (decimal arithmetic, date-bounded scan)",
)
def q48_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    from salesanalytics_etl_spark.functions.scalar import dec182, money_out

    (lineitem,) = _t(spark, sf_dir, "lineitem")
    disc_price = dec182("l_extendedprice") * (F.lit(1) - dec182("l_discount"))
    return (
        lineitem.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            money_out(F.sum(dec182("l_quantity"))).alias("sum_qty"),
            money_out(F.sum(dec182("l_extendedprice"))).alias("sum_base_price"),
            money_out(F.sum(disc_price), 4).alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "q44_docs_rolling_fingerprint",
    oracle=r"""
    WITH n AS (
      SELECT doc_id,
             trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
      FROM documents
    )
    SELECT doc_id, MIN(md5(substr(norm, CAST(i AS INT), 8))) AS rolling_fp
    FROM n, UNNEST(range(1, GREATEST(length(norm) - 6, 2))) AS t(i)
    GROUP BY doc_id
    """,
    doc="rolling-hash document fingerprint (winnowing-style): minimum "
    "hash over all 8-char windows of the normalized text — robust to "
    "local edits, unlike the whole-document md5 (q20)",
)
def q44_docs_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from salesanalytics_etl_spark.operators.dedup import shingle_rows

    (documents,) = _t(spark, sf_dir, "documents")
    rows = shingle_rows(documents, k=8)
    return rows.groupBy("doc_id").agg(
        F.min(F.md5(F.col("sh"))).alias("rolling_fp")
    )


@register(
    "q45_media_resize",
    oracle="""
    SELECT doc_id, CAST(1024 AS BIGINT) AS n_bytes,
           CAST(32 AS INT) AS width, CAST(32 AS INT) AS height
    FROM documents
    """,
    doc="multimodal resize step: mapInPandas payload downsample to a "
    "fixed width*height byte budget (decode stubbed; schema/batch "
    "contract real). Oracle checks the fan-through and the exact byte "
    "budget (every payload lands at width*height bytes), i.e. the "
    "mapInPandas batch contract — the fake resample's content is covered "
    "by unit tests",
)
def q45_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from salesanalytics_etl_spark.operators.multimodal import (
        attach_payload,
        resize_images,
    )

    (documents,) = _t(spark, sf_dir, "documents")
    resized = resize_images(attach_payload(documents), width=32, height=32)
    return resized.select("doc_id", "n_bytes", "width", "height")


@register(
    "q46_media_frame_sample",
    oracle="""
    WITH m AS (
      SELECT doc_id, octet_length(encode(text)) AS n_bytes,
             GREATEST(octet_length(encode(text)) // 64, 1) AS nf
      FROM documents
    )
    SELECT doc_id, CAST(t.f AS INT) AS frame_idx,
           CAST(LEAST(64, n_bytes - t.f * 64) AS INT) AS frame_bytes
    FROM m, UNNEST(range(0, nf, 4)) AS t(f)
    """,
    doc="multimodal frame sampling: fan-out mapInPandas splitting each "
    "payload into fixed-size frames, keeping every 4th (ffmpeg stubbed). "
    "Oracle replays the frame arithmetic (count = max(bytes//64,1), "
    "stride 4, tail frame short) from byte lengths alone — checks the "
    "fan-OUT row multiplication exactly",
)
def q46_media_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from salesanalytics_etl_spark.operators.multimodal import (
        attach_payload,
        sample_frames,
    )

    (documents,) = _t(spark, sf_dir, "documents")
    frames = sample_frames(attach_payload(documents), frame_bytes=64, every_k=4)
    return frames.select("doc_id", "frame_idx", F.length("frame").alias("frame_bytes"))


@register(
    "q25_minhash_neardup",
    oracle=None,
    doc="MinHash(32)+LSH(6 bands x 5 rows) candidate pairs, exact-Jaccard "
    "verified "
    "≥0.5 — shingle/signature/banding all JVM array expressions",
)
def q25_minhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from salesanalytics_etl_spark.operators.dedup import minhash_near_dupes

    (documents,) = _t(spark, sf_dir, "documents")
    return minhash_near_dupes(documents, threshold=0.5)


@register(
    "q26_simhash_neardup",
    oracle=r"""
    WITH docs AS (
      SELECT doc_id, trim(regexp_replace(lower(regexp_replace(text, '([぀-ヿ㐀-䶿一-鿿가-힯])', ' \1 ', 'g')), '\s+', ' ', 'g')) AS t
      FROM documents WHERE doc_id < 2000
    ),
    toks AS (
      SELECT DISTINCT doc_id, unnest(string_split(t, ' ')) AS tok FROM docs
    ),
    th AS (
      SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h
      FROM toks
    ),
    votes AS (
      SELECT doc_id, b.b AS b,
             SUM(CASE WHEN (h >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS vote
      FROM th CROSS JOIN (SELECT unnest(range(0, 63)) AS b) b
      GROUP BY doc_id, b.b
    ),
    sigs AS (
      SELECT doc_id,
             SUM(CASE WHEN vote > 0 THEN (1::BIGINT << b)
                      ELSE 0::BIGINT END) AS sig
      FROM votes GROUP BY doc_id
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.sig, b.sig)) AS INTEGER) AS hamming
    FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sig, b.sig)) <= 3
    """,
    doc="SimHash(63-bit) near-dups, Hamming ≤ 3, 16-bit-chunk banding — "
    "EXACT mode for the driver gate: bucket cap lifted (pigeonhole ⇒ "
    "recall 1.0) and the engine-portable md5 token hash, so DuckDB "
    "recomputes the identical signatures all-pairs (q49 twin pattern). "
    "Bounded doc_id<2000 (inert at the sf0.01 gate) because exact-mode "
    "banding on this shared-template corpus is ~2.4M candidates at sf0.1; "
    "a 10M candidate budget (counted from bucket sizes, no pair "
    "expansion) makes a pathological corpus INSIDE the bound fail loudly "
    "instead of going quadratic. The unbounded production path keeps "
    "xxhash64 + the MAX_BUCKET cap (recall<1 by design) and is pinned by "
    "banded-vs-exact unit tests",
)
def q26_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from salesanalytics_etl_spark.operators.dedup import (
        md5_token_hash,
        simhash_near_dupes,
    )

    (documents,) = _t(spark, sf_dir, "documents")
    return simhash_near_dupes(
        documents.filter(F.col("doc_id") < 2000),
        max_hamming=3,
        max_bucket=1 << 20,
        token_hash=md5_token_hash,
        candidate_budget=10_000_000,
    )


# --------------------------------------------------------------------------
# Similarity search over embeddings
# --------------------------------------------------------------------------
@register(
    "q50_curation_sample",
    oracle="""
    SELECT doc_id, lang
    FROM documents
    WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)) AS INT)
          % 100 < (CASE WHEN lang = 'en' THEN 20 ELSE 50 END)
    """,
    doc="deterministic curation sampling: content-hash bucket < per-class "
    "rate (en 20%, others 50%) — reproducible across runs/engines, unlike "
    "rand(); the standard down/up-weighting move in corpus curation",
)
def q50_curation_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = _t(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6), 16, 10)
        .cast("long")
        % 100
    )
    rate = F.when(F.col("lang") == "en", 20).otherwise(50)
    return documents.filter(bucket < rate).select("doc_id", "lang")


@register(
    "q51_train_val_test_split",
    oracle="""
    WITH b AS (
      SELECT lang,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)) AS INT)
               % 100 AS bucket
      FROM documents
    )
    SELECT lang,
           CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val'
                ELSE 'test' END AS split,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM b GROUP BY 1, 2
    """,
    doc="deterministic 80/10/10 train/val/test split by content-hash "
    "bucket — stable under reprocessing and engine changes (no rand())",
)
def q51_train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from salesanalytics_etl_spark.operators.curation import (
        split_bucket,
        split_label,
    )

    (documents,) = _t(spark, sf_dir, "documents")
    split = split_label(split_bucket(F.col("doc_id")))
    return (
        documents.select("lang", split.alias("split"))
        .groupBy("lang", "split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@register(
    "q49_dedup_clusters",
    oracle=r"""
    WITH RECURSIVE n AS (
      SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
      FROM documents WHERE doc_id < 250
    ), sh AS (
      SELECT doc_id, list(DISTINCT substr(norm, CAST(i AS INT), 5)) AS shingles
      FROM n, UNNEST(range(1, GREATEST(length(norm) - 3, 2))) AS t(i)
      GROUP BY doc_id
    ), edges AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE FLOOR(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                  / len(list_distinct(list_concat(a.shingles, b.shingles)))
                  * 10000.0 + 0.5) / 10000.0 >= 0.5
    ), und AS (
      SELECT doc_a AS s, doc_b AS d FROM edges
      UNION SELECT doc_b, doc_a FROM edges
    ), reach(s, d) AS (
      SELECT s, d FROM und
      UNION
      SELECT r.s, u.d FROM reach r JOIN und u ON r.d = u.s
    )
    SELECT LEAST(s, MIN(d)) AS cluster_id, s AS doc_id
    FROM reach GROUP BY s
    """,
    doc="near-dup pairs → transitive-closure clusters (cluster_id = min "
    "member). Edges are EXACT 5-gram Jaccard >= 0.5 over a bounded doc "
    "subset, so the min-label components are value-checkable against a "
    "DuckDB recursive-CTE fixpoint; the same connected_components powers "
    "the MinHash pipeline's (approximate, rows-only) production path, "
    "covered by planted-chain unit tests (operators/graph.py)",
)
def q49_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _exact_clusters(spark, sf_dir)


# q49's exact clustering, composed by q105, q166 and q191.
def _exact_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from salesanalytics_etl_spark.operators.dedup import (
        jaccard_verify,
        shingle_rows,
        shingle_sets,
    )
    from salesanalytics_etl_spark.operators.graph import dedup_clusters

    (documents,) = _t(spark, sf_dir, "documents")
    subset = documents.filter(F.col("doc_id") < 250)
    sets = shingle_sets(shingle_rows(subset))
    ids = subset.select(F.col("doc_id"))
    pairs = (
        ids.select(F.col("doc_id").alias("doc_a"))
        .join(ids.select(F.col("doc_id").alias("doc_b")))
        .filter(F.col("doc_a") < F.col("doc_b"))
        # the pair list inherits the 1-file scan's partitioning;
        # without a spread, every per-pair set intersection lands on
        # one task
        .repartition(spark.sparkContext.defaultParallelism)
    )
    edges = jaccard_verify(pairs, sets, threshold=0.5).select("doc_a", "doc_b")
    # connected_components solves eagerly (driver union-find, or a
    # checkpointed propagation), so consumers re-read a materialized frame
    return dedup_clusters(edges)


@register(
    "q27_ann_cosine_topk",
    oracle="""
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           ROUND(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                        CAST(c.embedding AS DOUBLE[])), 6)
             AS cosine_sim
    FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id
    WHERE q.vec_id < 10
    QUALIFY ROW_NUMBER() OVER (
      PARTITION BY q.vec_id
      ORDER BY ROUND(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                            CAST(c.embedding AS DOUBLE[])), 6) DESC,
               c.vec_id) <= 5
    """,
    doc="exact brute-force cosine top-5 for query set vec_id<10: broadcast "
    "queries × one corpus scan, zip_with/aggregate dot products",
)
def q27_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from salesanalytics_etl_spark.operators.similarity import (
        cosine_topk_bruteforce,
    )

    (embeddings,) = _t(spark, sf_dir, "embeddings")
    queries = embeddings.filter(F.col("vec_id") < 10)
    return cosine_topk_bruteforce(embeddings, queries, k=5)


@register(
    "q28_ann_cosine_lsh",
    # The LSH hyperplanes come from a fixed LCG (similarity.py:
    # _deterministic_planes), so the WHOLE approximate pipeline — plane
    # generation, sign-bit bucketing, bucket equi-join, exact rescoring —
    # is replayed verbatim in DuckDB: a recursive CTE advances the same
    # x_{k+1} = (A*x_k + C) mod 2^63 stream in HUGEINT, and the driver
    # hash-checks the *approximate* result itself (stronger than the
    # planned recall-audit row — recall<1 no longer means unverifiable,
    # because the randomness is deterministic and engine-portable).
    oracle=r"""
    WITH RECURSIVE lcg(t, step, x) AS (
      SELECT t.t, 0, CAST(88172645463325252 + 7919 * t.t AS HUGEINT)
      FROM (SELECT unnest(range(0, 8)) AS t) t
      UNION ALL
      SELECT t, step + 1,
             (x * 2685821657736338717::HUGEINT + 3037000499)
               % 9223372036854775808::HUGEINT
      FROM lcg WHERE step < 256
    ),
    plane_vals AS (
      SELECT t, (step - 1) // 64 AS p, (step - 1) % 64 AS d,
             CAST(x AS DOUBLE) / 9223372036854775808.0 * 2.0 - 1.0 AS v
      FROM lcg WHERE step >= 1
    ),
    planes AS (
      SELECT t, p, list(v ORDER BY d) AS plane FROM plane_vals GROUP BY t, p
    ),
    vecs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    projs AS (
      SELECT v.vec_id, pl.t, pl.p, list_dot_product(v.emb, pl.plane) AS proj
      FROM vecs v CROSS JOIN planes pl
    ),
    buckets AS (
      SELECT vec_id, t,
             t * 16 + SUM(CASE WHEN proj > 0 THEN (1::BIGINT << p)
                               ELSE 0::BIGINT END) AS bucket
      FROM projs GROUP BY vec_id, t
    ),
    qb AS (SELECT vec_id AS query_id, bucket FROM buckets WHERE vec_id < 10),
    cb AS (SELECT vec_id AS neighbor_id, bucket FROM buckets),
    cand AS (
      SELECT DISTINCT q.query_id, c.neighbor_id
      FROM qb q JOIN cb c USING (bucket)
      WHERE c.neighbor_id != q.query_id
    ),
    scored AS (
      SELECT cand.query_id, cand.neighbor_id,
             ROUND(list_cosine_similarity(qv.emb, cv.emb), 6) AS cosine_sim
      FROM cand
      JOIN vecs qv ON qv.vec_id = cand.query_id
      JOIN vecs cv ON cv.vec_id = cand.neighbor_id
    )
    SELECT query_id, neighbor_id, cosine_sim FROM scored
    QUALIFY ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id) <= 5
    """,
    doc="approximate top-5 via random-hyperplane LSH buckets — the 100 TB "
    "path: equi-join on bucket, no cross product. Oracle-backed: the "
    "deterministic LCG planes are regenerated inside DuckDB (recursive "
    "CTE), so the approximate output itself is hash-checked",
)
def q28_ann_cosine_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from salesanalytics_etl_spark.operators.similarity import cosine_topk_lsh

    (embeddings,) = _t(spark, sf_dir, "embeddings")
    queries = embeddings.filter(F.col("vec_id") < 10)
    return cosine_topk_lsh(embeddings, queries, k=5)


@register(
    "q34_ann_cosine_ivf",
    oracle=None,
    doc="approximate top-5 via IVF: KMeans(16) coarse quantizer, probe-4 "
    "clusters, exact rescoring within probed clusters — candidate "
    "fraction n_probe/k, monotone recall dial (rows-only by design)",
)
def q34_ann_cosine_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from salesanalytics_etl_spark.operators.ivf import cosine_topk_ivf

    (embeddings,) = _t(spark, sf_dir, "embeddings")
    queries = embeddings.filter(F.col("vec_id") < 10)
    return cosine_topk_ivf(embeddings, queries, k=5)


@register(
    "q32_embedding_neardup",
    oracle="""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])), 6)
             AS cosine_sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                       CAST(b.embedding AS DOUBLE[])), 6) >= 0.45
    """,
    doc="embedding-cosine near-dup pairs (exact, threshold 0.45) via the "
    "blocked Arrow/numpy kernel (strict dimension-order accumulation → "
    "bit-identical to the oracle); a pair JOIN materializing 4M array rows "
    "is ~40× slower. At corpus scale the broadcast side shards into "
    "block passes; LSH (q28 infra) is the approximate alternative",
)
def q32_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from salesanalytics_etl_spark.operators.similarity import embedding_neardup_exact

    (embeddings,) = _t(spark, sf_dir, "embeddings")
    return embedding_neardup_exact(spark, embeddings, threshold=0.45)


@register(
    "q33_token_frequencies",
    oracle="""
    SELECT tok, CAST(COUNT(*) AS BIGINT) AS n
    FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
          FROM documents)
    GROUP BY tok ORDER BY n DESC, tok LIMIT 100
    """,
    doc="corpus token frequencies (wordcount): explode regex tokens → "
    "count → top-100; map-side combine makes the shuffle ~|vocabulary|",
)
def q33_token_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = _t(spark, sf_dir, "documents")
    toks = F.explode(
        F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z0-9]+"), 0)
    ).alias("tok")
    return (
        documents.select(toks)
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("tok"))
        .limit(100)
    )


# --------------------------------------------------------------------------
# Event-stream analytics (batch twins of the streaming plans)
# --------------------------------------------------------------------------
@register(
    "q29_events_hourly",
    oracle="""
    SELECT date_trunc('hour', ts) AS hour_start, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS value_sum
    FROM events GROUP BY 1, 2
    """,
    doc="tumbling 1h window rollup (F.window == date_trunc for aligned "
    "tumbles); same plan runs under Structured Streaming with a watermark",
)
def q29_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from salesanalytics_etl_spark.streaming.events import hourly_event_rollup

    (events,) = _t(spark, sf_dir, "events")
    return hourly_event_rollup(events)


@register(
    "q30_events_sessionize",
    oracle="""
    WITH flagged AS (
      SELECT user_id, event_id, ts, value,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       >= INTERVAL 30 MINUTE
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
    ), numbered AS (
      SELECT *, SUM(new_sess) OVER (
        PARTITION BY user_id ORDER BY ts, event_id
        ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM flagged
    )
    SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS value_sum
    FROM numbered GROUP BY user_id, sess_id
    """,
    doc="30-min-gap sessionization via F.session_window (native Catalyst "
    "session operator); oracle is the classic gaps-and-islands SQL",
)
def q30_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from salesanalytics_etl_spark.streaming.events import sessionize

    (events,) = _t(spark, sf_dir, "events")
    return sessionize(events)


@register(
    "q39_events_json_props",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS k_sum,
           CAST(COUNT(json_extract_string(props, '$.k')) AS BIGINT) AS k_count
    FROM events GROUP BY event_type
    """,
    doc="semi-structured extraction: JSON props column → typed field → "
    "aggregate (get_json_object stays in codegen; no Python)",
)
def q39_events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return events.groupBy("event_type").agg(
        F.sum(k).alias("k_sum"), F.count(k).alias("k_count")
    )


@register(
    "q42_purchases_with_prior_views",
    oracle="""
    SELECT p.event_id, CAST(COUNT(*) AS BIGINT) AS n_prior_views
    FROM events p JOIN events v
      ON v.user_id = p.user_id
     AND v.ts >= p.ts - INTERVAL 10 MINUTE
     AND v.ts <= p.ts
     AND v.event_type = 'view'
    WHERE p.event_type = 'purchase'
    GROUP BY p.event_id
    """,
    doc="RANGE JOIN (operators/temporal.py): views within 10 minutes "
    "before each purchase, same user — equi key + interval residual, so "
    "Catalyst hash-joins on user_id and never goes cross-product",
)
def q42_purchases_with_prior_views(spark: SparkSession, sf_dir: str) -> DataFrame:
    from salesanalytics_etl_spark.operators.temporal import range_join

    (events,) = _t(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase")
    views = events.filter(F.col("event_type") == "view")
    joined = range_join(
        purchases, views, on="user_id", left_ts="ts", right_ts="ts",
        lower="10 minutes", upper="0 seconds",
    )
    return joined.groupBy(F.col("l.event_id").alias("event_id")).agg(
        F.count(F.lit(1)).alias("n_prior_views")
    )


@register(
    "q43_purchase_asof_signup",
    oracle="""
    SELECT p.event_id, p.user_id,
           s.event_id AS asof_event_id, s.ts AS asof_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') s
      ON s.user_id = p.user_id
     AND s.ts >= p.ts - INTERVAL 30 DAY
     AND s.ts <= p.ts
    QUALIFY ROW_NUMBER() OVER (
      PARTITION BY p.event_id ORDER BY s.ts DESC, s.event_id DESC) = 1
    """,
    doc="AS-OF JOIN (operators/temporal.py): latest signup at or before "
    "each purchase (30-day horizon, event_id tiebreak, unmatched → NULL) "
    "— pandas merge_asof semantics, distributed",
)
def q43_purchase_asof_signup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from salesanalytics_etl_spark.operators.temporal import asof_join

    (events,) = _t(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    signups = events.filter(F.col("event_type") == "signup").select(
        "user_id", "event_id", "ts"
    )
    out = asof_join(
        purchases, signups, on="user_id", left_ts="ts", right_ts="ts",
        horizon="30 days", right_cols=["event_id", "ts"],
        tiebreakers=["event_id"],
    )
    return out.select("event_id", "user_id", "asof_event_id", "asof_ts")


# --------------------------------------------------------------------------
# Multimodal plumbing (pandas-batched feature extraction → rows-only)
# --------------------------------------------------------------------------
@register(
    "q31_media_features",
    oracle=r"""
    SELECT doc_id, 'image' AS modality,
           octet_length(encode(text)) AS n_bytes,
           CASE WHEN length(text) = 0 THEN 0.0 ELSE
             FLOOR(CAST(length(text) - length(regexp_replace(text,
                   '[\x20-\x2f]', '', 'g')) AS DOUBLE) / length(text)
                   * 10000.0 + 0.5) / 10000.0
           END AS f2,
           CASE WHEN length(text) = 0 THEN 0.0 ELSE
             FLOOR(CAST(length(text) - length(regexp_replace(text,
                   '[\x60-\x6f]', '', 'g')) AS DOUBLE) / length(text)
                   * 10000.0 + 0.5) / 10000.0
           END AS f6
    FROM documents
    """,
    doc="binary payload column + Arrow-batched mapInPandas feature "
    "extraction (deterministic byte-histogram fake; real codecs stubbed). "
    "The oracle replays the histogram character-wise — valid because the "
    "corpus is pure ASCII (octet_length == length driver-checked via "
    "n_bytes), so byte bins == char-class counts; bins 2 (0x20-0x2f) and "
    "6 (0x60-0x6f) are the informative ones on English text",
)
def q31_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from salesanalytics_etl_spark.operators.multimodal import (
        attach_payload,
        extract_features,
    )

    (documents,) = _t(spark, sf_dir, "documents")
    media = attach_payload(documents)
    feats = extract_features(media)
    from salesanalytics_etl_spark.functions.scalar import floor_round

    # floor-formula: the histogram features are count/len quotients of
    # small integers — terminating midpoints (the q104 sf0.1 class)
    return feats.select(
        "doc_id",
        "modality",
        "n_bytes",
        floor_round(F.element_at("features", 3), 4).alias("f2"),
        floor_round(F.element_at("features", 7), 4).alias("f6"),
    )


@register(
    "q57_ngram_jaccard_pairs",
    oracle=r"""
    WITH n AS (
      SELECT doc_id,
             trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
      FROM documents WHERE doc_id < 40
    ), sh AS (
      SELECT doc_id, list(DISTINCT substr(norm, CAST(i AS INT), 5)) AS shingles
      FROM n, UNNEST(range(1, GREATEST(length(norm) - 3, 2))) AS t(i)
      GROUP BY doc_id
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           FLOOR(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.shingles, b.shingles)))
                 * 10000.0 + 0.5) / 10000.0 AS jaccard
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    """,
    doc="exact n-gram (5-char shingle) Jaccard similarity over a bounded "
    "doc subset, all pairs — the verification kernel of the MinHash "
    "pipeline surfaced as an oracle-checked query (array_intersect/union "
    "on collected shingle sets; at scale it runs only on LSH candidates)",
)
def q57_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from salesanalytics_etl_spark.operators.dedup import (
        jaccard_verify,
        shingle_rows,
        shingle_sets,
    )

    (documents,) = _t(spark, sf_dir, "documents")
    subset = documents.filter(F.col("doc_id") < 40)
    sets = shingle_sets(shingle_rows(subset))
    ids = subset.select(F.col("doc_id"))
    pairs = (
        ids.select(F.col("doc_id").alias("doc_a"))
        .join(ids.select(F.col("doc_id").alias("doc_b")))
        .filter(F.col("doc_a") < F.col("doc_b"))
    )
    # threshold 0.0 keeps every pair: this query IS the verifier, exact
    return jaccard_verify(pairs, sets, threshold=0.0)


@register(
    "q58_mom_sales_growth",
    oracle="""
    WITH monthly AS (
      SELECT strftime(o.o_orderdate, '%Y-%m') AS order_month,
             SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS m_dec
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      GROUP BY 1
    )
    SELECT order_month,
           ROUND(CAST(m_dec AS DOUBLE), 2) AS total_sales,
           ROUND(CAST(m_dec - LAG(m_dec) OVER (ORDER BY order_month)
                      AS DOUBLE), 2) AS mom_delta
    FROM monthly
    """,
    doc="month-over-month sales delta: LAG window over the monthly rollup "
    "(delta computed in exact DECIMAL, emitted as rounded double; first "
    "month NULL)",
)
def q58_mom_sales_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from salesanalytics_etl_spark.functions.scalar import (
        dec182,
        money_out,
        year_month,
    )

    orders, lineitem = _t(spark, sf_dir, "orders", "lineitem")
    monthly = (
        orders.select("o_orderkey", "o_orderdate")
        .join(
            lineitem.select("l_orderkey", "l_extendedprice"),
            orders.o_orderkey == lineitem.l_orderkey,
        )
        .groupBy(year_month("o_orderdate").alias("order_month"))
        .agg(F.sum(dec182("l_extendedprice")).alias("m_dec"))
    )
    # unpartitioned BY DESIGN over the |months|-bounded frame — the
    # WindowExec WARN is expected/benign (plan-lint allowlisted bound)
    w = Window.orderBy("order_month")
    return monthly.select(
        "order_month",
        money_out(F.col("m_dec")).alias("total_sales"),
        money_out(F.col("m_dec") - F.lag("m_dec").over(w)).alias("mom_delta"),
    )


@register(
    "q59_salted_event_rollup",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS value_sum
    FROM events GROUP BY event_type
    """,
    doc="skew-mitigated two-phase aggregation (operators/skew.py): spray "
    "each hot key across 16 salted partial groups, combine partials — "
    "must be value-identical to the plain GROUP BY (the oracle), which "
    "is exactly what the gate proves; decimal partials keep the combine "
    "order-insensitive",
)
def q59_salted_event_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from salesanalytics_etl_spark.functions.scalar import money_out
    from salesanalytics_etl_spark.operators.skew import salted_agg

    (events,) = _t(spark, sf_dir, "events")
    out = salted_agg(
        events,
        keys=["event_type"],
        aggs={
            "n_events": ("count", F.lit(1)),
            "value_dec": ("sum", F.col("value").cast("decimal(18,2)")),
        },
        n_salts=16,
    )
    return out.select(
        "event_type",
        F.col("n_events").alias("n_events"),
        money_out(F.col("value_dec")).alias("value_sum"),
    )


@register(
    "q60_winnowing_fingerprints",
    oracle=r"""
    WITH n AS (
      SELECT doc_id,
             trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
      FROM documents
    ), h AS (
      SELECT doc_id, CAST(i AS INT) AS i,
             CAST(concat('0x', substr(md5(substr(norm, CAST(i AS INT), 8)), 1, 15))
                  AS BIGINT) AS kh
      FROM n, UNNEST(range(1, GREATEST(length(norm) - 6, 2))) AS t(i)
    ), w AS (
      SELECT doc_id,
             MIN(kh) OVER (PARTITION BY doc_id ORDER BY i
                           ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS fp
      FROM h
    )
    SELECT DISTINCT doc_id, fp FROM w
    """,
    doc="winnowing document fingerprints (Schleimer et al. sliding-window "
    "min-hash sampling): min k-gram hash per window of 4, deduplicated — "
    "guarantees a shared fingerprint for any common run >= w+k-1 chars "
    "while storing ~2/(w+1) of the hashes (vs q44's single global min, "
    "which is fragile to any edit of the minimal window). Fingerprints are "
    "60-bit longs (md5-prefix via conv/hex-cast, value-identical across "
    "engines) — the distinct shuffle and result transfer move 8-byte keys, "
    "~2x faster than 32-char hex strings. Windowed min + distinct, all "
    "codegen, shuffle only on doc_id",
)
def q60_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from salesanalytics_etl_spark.operators.dedup import winnow_fingerprints

    (documents,) = _t(spark, sf_dir, "documents")
    return winnow_fingerprints(documents)


@register(
    "q64_approx_distinct_sketch",
    oracle=None,
    doc="HyperLogLog++ approximate COUNT(DISTINCT) per event_type at 2% "
    "target error — the sketch path for 100 TB cardinality estimation "
    "(mergeable partials, no exact-distinct shuffle of the key universe); "
    "approximate by nature → rows-only for the gate, with the error bound "
    "asserted against the exact count in unit tests",
)
def q64_approx_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = _t(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


# --------------------------------------------------------------------------
# Q65-Q69 — corpus-curation analytics round 2: TF-IDF, inverted index,
# PII redaction, per-segment percentiles, repetition filtering.
# --------------------------------------------------------------------------
@register(
    "q65_tfidf_top_terms",
    oracle=r"""
    WITH n AS (
      SELECT doc_id, trim(regexp_replace(lower(regexp_replace(text, '([぀-ヿ㐀-䶿一-鿿가-힯])', ' \1 ', 'g')), '\s+', ' ', 'g')) AS norm
      FROM documents
    ), toks AS (
      SELECT doc_id, t.term
      FROM n, UNNEST(string_split(n.norm, ' ')) AS t(term)
      WHERE length(t.term) > 0
    ), tf AS (
      SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM toks GROUP BY 1, 2
    ), dfreq AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1
    ), nd AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
             ROUND(tf.tf * ln(CAST(nd.n_docs AS DOUBLE) / dfreq.df), 6) AS tfidf
      FROM tf JOIN dfreq USING (term) CROSS JOIN nd
    )
    SELECT doc_id, term, tf, df, tfidf, CAST(rk AS INT) AS term_rank
    FROM (SELECT *, ROW_NUMBER() OVER (
            PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rk
          FROM scored)
    WHERE rk <= 3
    """,
    doc="top-3 characteristic terms per doc by TF-IDF: tf shuffle on "
    "(doc,term), df on term, idf via 1-row broadcast N; ranked on the "
    "ROUNDED score + term so ordering is engine-identical "
    "(operators/text.py:tfidf_terms)",
)
def q65_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from salesanalytics_etl_spark.operators.text import tfidf_terms

    (documents,) = _t(spark, sf_dir, "documents")
    return tfidf_terms(documents, top_n=3)


@register(
    "q66_inverted_index",
    oracle=r"""
    WITH n AS (
      SELECT doc_id, trim(regexp_replace(lower(regexp_replace(text, '([぀-ヿ㐀-䶿一-鿿가-힯])', ' \1 ', 'g')), '\s+', ' ', 'g')) AS norm
      FROM documents
    ), toks AS (
      SELECT DISTINCT doc_id, t.term
      FROM n, UNNEST(string_split(n.norm, ' ')) AS t(term)
      WHERE length(t.term) > 0
    )
    SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
           array_to_string((array_agg(doc_id ORDER BY doc_id))[1:20], ',') AS postings
    FROM toks GROUP BY term HAVING COUNT(*) >= 5
    """,
    doc="inverted index (term -> sorted postings, capped at 20, df >= 5): "
    "one shuffle on term; the cap bounds stopword rows, which would "
    "otherwise be corpus-sized (operators/text.py:inverted_index)",
)
def q66_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from salesanalytics_etl_spark.operators.text import inverted_index

    (documents,) = _t(spark, sf_dir, "documents")
    return inverted_index(documents, min_df=5, max_postings=20)


@register(
    "q67_pii_redaction",
    oracle=r"""
    WITH injected AS (
      SELECT doc_id,
             text
             || CASE WHEN doc_id % 5 = 0
                     THEN ' contact: user' || CAST(doc_id AS VARCHAR)
                          || '@example.com'
                     ELSE '' END
             || CASE WHEN doc_id % 7 = 0
                     THEN ' call 555-' || CAST(1000 + doc_id % 9000 AS VARCHAR)
                     ELSE '' END AS text
      FROM documents
    )
    SELECT doc_id,
           CAST(length(regexp_extract_all(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT)
             AS n_emails,
           -- phones counted on the EMAIL-REDACTED text (replacements are
           -- sequential; a phone-shaped substring inside an email never
           -- becomes a [PHONE] placeholder)
           CAST(length(regexp_extract_all(
             regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
               '[EMAIL]', 'g'),
             '\b555-[0-9]{2,4}\b')) AS INT) AS n_phones,
           md5(regexp_replace(
                 regexp_replace(text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                   '[EMAIL]', 'g'),
                 '\b555-[0-9]{2,4}\b', '[PHONE]', 'g')) AS redacted_fp
    FROM injected
    """,
    doc="PII redaction over a deterministically-injected corpus (synthetic "
    "emails every 5th doc, phones every 7th): regexp_count + chained "
    "regexp_replace, map-only codegen; md5 of the redacted text proves the "
    "rewrite byte-exact without shipping it "
    "(operators/text.py:redact_pii)",
)
def q67_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from salesanalytics_etl_spark.operators.text import redact_pii

    (documents,) = _t(spark, sf_dir, "documents")
    injected = documents.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(
                    F.lit(" contact: user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(
                    F.lit(" call 555-"),
                    (F.lit(1000) + F.col("doc_id") % 9000).cast("string"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return redact_pii(injected)


@register(
    "q68_segment_percentiles",
    oracle="""
    WITH per_order AS (
      SELECT o.o_orderkey, c.c_mktsegment,
             CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
               AS order_total
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY 1, 2
    ), ranked AS (
      SELECT c_mktsegment AS seg, order_total AS v,
             ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                ORDER BY order_total) AS r,
             COUNT(*) OVER (PARTITION BY c_mktsegment) AS n
      FROM per_order
    ), bounded AS (
      SELECT seg, v, r, n,
             CAST(FLOOR(CAST(n - 1 AS DOUBLE) * 0.5) AS BIGINT) + 1 AS lo50,
             CAST(CEIL(CAST(n - 1 AS DOUBLE) * 0.5) AS BIGINT) + 1 AS hi50,
             CAST(FLOOR(CAST(n - 1 AS DOUBLE) * 0.9) AS BIGINT) + 1 AS lo90,
             CAST(CEIL(CAST(n - 1 AS DOUBLE) * 0.9) AS BIGINT) + 1 AS hi90,
             CAST(FLOOR(CAST(n - 1 AS DOUBLE) * 0.99) AS BIGINT) + 1 AS lo99,
             CAST(CEIL(CAST(n - 1 AS DOUBLE) * 0.99) AS BIGINT) + 1 AS hi99
      FROM ranked
    ), picked AS (
      SELECT * FROM bounded
      WHERE r = lo50 OR r = hi50 OR r = lo90 OR r = hi90
         OR r = lo99 OR r = hi99
    )
    SELECT seg AS c_mktsegment,
      CAST(MIN(n) AS BIGINT) AS n_orders,
      FLOOR((MIN(CASE WHEN r = lo50 THEN v END)
             + (CAST(MIN(n) - 1 AS DOUBLE) * 0.5
                - FLOOR(CAST(MIN(n) - 1 AS DOUBLE) * 0.5))
               * (MIN(CASE WHEN r = hi50 THEN v END)
                  - MIN(CASE WHEN r = lo50 THEN v END))) * 100 + 0.5)
        / 100.0 AS p50,
      FLOOR((MIN(CASE WHEN r = lo90 THEN v END)
             + (CAST(MIN(n) - 1 AS DOUBLE) * 0.9
                - FLOOR(CAST(MIN(n) - 1 AS DOUBLE) * 0.9))
               * (MIN(CASE WHEN r = hi90 THEN v END)
                  - MIN(CASE WHEN r = lo90 THEN v END))) * 100 + 0.5)
        / 100.0 AS p90,
      FLOOR((MIN(CASE WHEN r = lo99 THEN v END)
             + (CAST(MIN(n) - 1 AS DOUBLE) * 0.99
                - FLOOR(CAST(MIN(n) - 1 AS DOUBLE) * 0.99))
               * (MIN(CASE WHEN r = hi99 THEN v END)
                  - MIN(CASE WHEN r = lo99 THEN v END))) * 100 + 0.5)
        / 100.0 AS p99
    FROM picked GROUP BY seg
    """,
    doc="per-segment order-value percentiles on the DISTRIBUTED grouped "
    "rank path (operators/quantiles.py:exact_percentiles_grouped — r9: "
    "re-pointed per the r8 verdict; the buffered groupBy+percentile "
    "form held each segment's |orders|/5 values in one aggregation "
    "buffer and now lives only in unit tests as the value-identity "
    "twin). append_group_rank range-partitions on (segment, value) so "
    "a big segment SPANS partitions; the rank filter keeps <= 2 rows "
    "per (segment, percentile); the final aggregate is "
    "|segments|-bounded. Oracle re-spells the per-group rank CTE + "
    "the identical IEEE interpolation",
)
def q68_segment_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from salesanalytics_etl_spark.functions.scalar import dec182, floor_cents
    from salesanalytics_etl_spark.operators.quantiles import (
        exact_percentiles_grouped,
    )

    customer, orders, lineitem = _t(
        spark, sf_dir, "customer", "orders", "lineitem"
    )
    per_order = (
        lineitem.select("l_orderkey", "l_extendedprice")
        .join(orders.select("o_orderkey", "o_custkey"),
              lineitem.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer.select("c_custkey", "c_mktsegment")),
              orders.o_custkey == customer.c_custkey)
        .groupBy("o_orderkey", "c_mktsegment")
        .agg(F.sum(dec182("l_extendedprice")).cast("double").alias("order_total"))
    )
    res = exact_percentiles_grouped(
        per_order,
        ["c_mktsegment"],
        "order_total",
        {"p50": 0.5, "p90": 0.9, "p99": 0.99},
    )
    return res.select(
        "c_mktsegment",
        F.col("n_rows").alias("n_orders"),
        floor_cents(F.col("p50")).alias("p50"),
        floor_cents(F.col("p90")).alias("p90"),
        floor_cents(F.col("p99")).alias("p99"),
    )


@register(
    "q69_repetition_filter",
    oracle=r"""
    WITH n AS (
      SELECT doc_id, trim(regexp_replace(lower(regexp_replace(text, '([぀-ヿ㐀-䶿一-鿿가-힯])', ' \1 ', 'g')), '\s+', ' ', 'g')) AS norm
      FROM documents
    ), base AS (
      SELECT doc_id,
             CASE WHEN norm IS NOT NULL AND length(norm) > 0
                  THEN CAST(length(string_split(norm, ' ')) AS INT)
                  ELSE 0 END AS n_tokens,
             CASE WHEN norm IS NOT NULL AND length(norm) > 0
                  THEN CAST(length(list_distinct(string_split(norm, ' ')))
                            AS INT)
                  ELSE 0 END AS n_distinct
      FROM n
    ), toks AS (
      SELECT doc_id, t.term
      FROM n, UNNEST(string_split(n.norm, ' ')) AS t(term)
      WHERE length(t.term) > 0
    ), tc AS (
      SELECT doc_id, term, COUNT(*) AS c FROM toks GROUP BY 1, 2
    ), top AS (
      SELECT doc_id, MAX(c) AS top_c FROM tc GROUP BY 1
    )
    SELECT b.doc_id, b.n_tokens, b.n_distinct,
           CASE WHEN b.n_tokens > 0
                THEN FLOOR(CAST(b.n_distinct AS DOUBLE) / b.n_tokens
                           * 10000.0 + 0.5) / 10000.0
                END AS distinct_ratio,
           CASE WHEN b.n_tokens > 0
                THEN FLOOR(CAST(COALESCE(t.top_c, 0) AS DOUBLE)
                           / b.n_tokens * 10000.0 + 0.5) / 10000.0
                END AS top_token_share
    FROM base b LEFT JOIN top t USING (doc_id)
    """,
    doc="token-repetition quality signals (distinct/total ratio, top-token "
    "dominance) — the boilerplate/spam filter axis of corpus curation "
    "(operators/text.py:repetition_ratio)",
)
def q69_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from salesanalytics_etl_spark.operators.text import repetition_ratio

    (documents,) = _t(spark, sf_dir, "documents")
    return repetition_ratio(documents)

# --------------------------------------------------------------------------
# Q70-Q74 — corpus-curation round 3: decontamination, sequence packing,
# language rebalancing, embedding quantization, cross-source overlap.
# --------------------------------------------------------------------------
@register(
    "q70_benchmark_decontamination",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(regexp_replace(text, '([぀-ヿ㐀-䶿一-鿿가-힯])', ' \1 ', 'g')), '\s+', ' ', 'g')),
                          ' ') AS t
      FROM documents
    ), grams AS (
      SELECT doc_id, array_to_string(t[i:i+12], ' ') AS ngram
      FROM toks, UNNEST(range(1, len(t) - 11)) AS r(i)
      WHERE len(t) >= 13
    ), bench AS (
      SELECT DISTINCT doc_id AS bench_id, ngram FROM grams WHERE doc_id % 50 = 0
    ), corpus AS (
      SELECT DISTINCT doc_id, ngram FROM grams WHERE doc_id % 50 <> 0
    )
    SELECT c.doc_id,
           CAST(COUNT(DISTINCT c.ngram) AS BIGINT) AS n_hit_ngrams,
           CAST(COUNT(DISTINCT b.bench_id) AS BIGINT) AS n_bench_docs
    FROM corpus c JOIN bench b USING (ngram)
    GROUP BY 1
    """,
    doc="benchmark decontamination: corpus docs sharing any 13-token-gram "
    "with the held-out set (every 50th doc) — broadcast of the distinct "
    "benchmark n-grams, no corpus self-join "
    "(operators/curation.py:decontaminate)",
)
def q70_benchmark_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from salesanalytics_etl_spark.operators.curation import decontaminate

    (documents,) = _t(spark, sf_dir, "documents")
    bench = documents.filter(F.col("doc_id") % 50 == 0)
    corpus = documents.filter(F.col("doc_id") % 50 != 0)
    return decontaminate(corpus, bench)


@register(
    "q71_sequence_packing",
    oracle=r"""
    WITH t AS (
      SELECT doc_id, source,
             CAST(length(regexp_extract_all(text, '[A-Za-z0-9]+|[぀-ヿ㐀-䶿一-鿿가-힯]')) AS BIGINT)
               AS n_tokens
      FROM documents
    ), c AS (
      SELECT doc_id, source, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum
      FROM t
    )
    SELECT source, CAST((cum - n_tokens) // 2048 AS BIGINT) AS bin_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens
    FROM c GROUP BY 1, 2
    """,
    doc="concat-and-split sequence packing into 2048-token context "
    "windows, per source in doc_id order (each doc binned by its start "
    "offset) — per-source cumulative window, integer-exact bin arithmetic "
    "(operators/curation.py:pack_sequences)",
)
def q71_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from salesanalytics_etl_spark.operators.curation import pack_sequences

    (documents,) = _t(spark, sf_dir, "documents")
    return pack_sequences(documents, window_tokens=2048)


@register(
    "q72_language_rebalance",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, lang,
             CAST(length(regexp_extract_all(text, '[A-Za-z0-9]+|[぀-ヿ㐀-䶿一-鿿가-힯]')) AS BIGINT)
               AS n_tokens
      FROM documents
    ), totals AS (
      SELECT lang, SUM(n_tokens) AS lang_tokens FROM toks GROUP BY 1
    ), kept AS (
      SELECT t.lang, t.n_tokens,
             LEAST(1.0, 5000.0 / tot.lang_tokens) AS rate
      FROM toks t JOIN totals tot USING (lang)
      WHERE CAST(('0x' || substr(md5(CAST(t.doc_id AS VARCHAR)), 1, 6)) AS INT)
            % 10000 / 10000.0
            < LEAST(1.0, 5000.0 / tot.lang_tokens)
    )
    SELECT lang, FLOOR(MIN(rate) * 1000000.0 + 0.5) / 1000000.0 AS rate,
           CAST(COUNT(*) AS BIGINT) AS n_docs_kept,
           CAST(SUM(n_tokens) AS BIGINT) AS kept_tokens
    FROM kept GROUP BY 1
    """,
    doc="language rebalancing to a 5000-token budget per language: "
    "data-dependent sampling rate from a |langs|-row broadcast, applied "
    "as a deterministic content-hash filter (no rand()) "
    "(operators/curation.py:language_rebalance)",
)
def q72_language_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from salesanalytics_etl_spark.operators.curation import language_rebalance

    (documents,) = _t(spark, sf_dir, "documents")
    return language_rebalance(documents, budget_tokens=5000)


@register(
    "q73_embedding_quantization",
    oracle=r"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), s AS (
      SELECT vec_id, v,
             list_max(list_transform(v, x -> abs(x))) AS maxabs,
             list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
      FROM e
    )
    SELECT vec_id,
           ROUND(scale, 9) AS scale,
           CASE WHEN maxabs > 0 THEN
             CAST(list_sum(list_transform(v,
                   x -> CAST(floor(x / scale + 0.5) AS INT))) AS BIGINT)
           ELSE 0 END AS q_sum,
           CASE WHEN maxabs > 0 THEN
             CAST(list_max(list_transform(v,
                   x -> CAST(floor(x / scale + 0.5) AS INT))) AS INT)
           ELSE 0 END AS q_max,
           CASE WHEN maxabs > 0 THEN
             ROUND(sqrt(list_sum(list_transform(v,
                   x -> pow(x - floor(x / scale + 0.5) * scale, 2)))
                   / len(v)), 6)
           ELSE 0.0 END AS rmse
    FROM s
    """,
    doc="per-vector symmetric int8 quantization report (scale, quantized "
    "checksum, reconstruction RMSE): map-only array expressions, explicit "
    "half-up rounding so both engines quantize identically "
    "(operators/curation.py:quantize_embeddings)",
)
def q73_embedding_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    from salesanalytics_etl_spark.operators.curation import quantize_embeddings

    (embeddings,) = _t(spark, sf_dir, "embeddings")
    return quantize_embeddings(embeddings)


@register(
    "q74_source_overlap",
    oracle=r"""
    WITH fp AS (
      SELECT doc_id, source,
             md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
               AS fingerprint
      FROM documents
    )
    SELECT LEAST(a.source, b.source) AS source_a,
           GREATEST(a.source, b.source) AS source_b,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(COUNT(DISTINCT a.fingerprint) AS BIGINT) AS n_fingerprints
    FROM fp a JOIN fp b
      ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    """,
    doc="cross-source exact-duplicate matrix: fingerprint self-join "
    "bounded by duplicate multiplicities — which sources plagiarize "
    "which, the first question of corpus provenance "
    "(operators/curation.py:source_overlap)",
)
def q74_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from salesanalytics_etl_spark.operators.curation import source_overlap

    (documents,) = _t(spark, sf_dir, "documents")
    return source_overlap(documents)


@register(
    "q75_curation_pipeline",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, lang, text,
             CAST(length(regexp_extract_all(text, '[A-Za-z0-9]+|[぀-ヿ㐀-䶿一-鿿가-힯]')) AS BIGINT)
               AS n_tokens,
             md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
               AS fingerprint
      FROM documents
    ), quality AS (
      SELECT * FROM toks WHERE n_tokens >= 10
    ), deduped AS (
      SELECT * FROM quality
      QUALIFY ROW_NUMBER() OVER (PARTITION BY fingerprint ORDER BY doc_id) = 1
    ), corpus AS (
      SELECT * FROM deduped WHERE doc_id % 50 <> 0
    ), split_toks AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(regexp_replace(text, '([぀-ヿ㐀-䶿一-鿿가-힯])', ' \1 ', 'g')), '\s+', ' ', 'g')),
                          ' ') AS t
      FROM corpus
    ), corpus_grams AS (
      SELECT doc_id, array_to_string(t[i:i+12], ' ') AS ngram
      FROM split_toks, UNNEST(range(1, len(t) - 11)) AS r(i)
      WHERE len(t) >= 13
    ), bench_grams AS (
      SELECT DISTINCT array_to_string(t[i:i+12], ' ') AS ngram
      FROM (
        SELECT string_split(trim(regexp_replace(lower(regexp_replace(text, '([぀-ヿ㐀-䶿一-鿿가-힯])', ' \1 ', 'g')), '\s+', ' ', 'g')),
                            ' ') AS t
        FROM documents WHERE doc_id % 50 = 0
      ), UNNEST(range(1, len(t) - 11)) AS r(i)
      WHERE len(t) >= 13
    ), flagged AS (
      SELECT DISTINCT c.doc_id
      FROM corpus_grams c JOIN bench_grams b USING (ngram)
    ), clean AS (
      SELECT * FROM corpus WHERE doc_id NOT IN (SELECT doc_id FROM flagged)
    )
    SELECT CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val'
                ELSE 'test' END AS split,
           lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
    FROM (
      SELECT lang, n_tokens,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)) AS INT)
               % 100 AS bucket
      FROM clean
    )
    GROUP BY 1, 2
    """,
    doc="FLAGSHIP curation pipeline — quality gate (>=10 tokens) -> exact "
    "dedupe (keep min id per fingerprint) -> benchmark decontamination "
    "(13-gram overlap vs every-50th-doc held-out set) -> deterministic "
    "80/10/10 split -> per-(split, lang) doc/token summary, composed as "
    "ONE lazy plan (operators/curation.py:curation_pipeline)",
)
def q75_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from salesanalytics_etl_spark.operators.curation import curation_pipeline

    (documents,) = _t(spark, sf_dir, "documents")
    return curation_pipeline(documents)


@register(
    "q76_incremental_dedupe",
    oracle=r"""
    WITH fp AS (
      SELECT doc_id,
             md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
               AS fingerprint,
             doc_id % 10 = 7 AS is_batch
      FROM documents
    ), batch_unique AS (
      SELECT doc_id, fingerprint FROM fp WHERE is_batch
      QUALIFY ROW_NUMBER() OVER (PARTITION BY fingerprint ORDER BY doc_id) = 1
    )
    SELECT b.doc_id, b.fingerprint
    FROM batch_unique b
    LEFT JOIN (SELECT DISTINCT fingerprint FROM fp WHERE NOT is_batch) c
      USING (fingerprint)
    WHERE c.fingerprint IS NULL
    """,
    doc="incremental ingest dedup: batch docs (every doc_id%10=7) kept "
    "only if unseen within the batch AND absent from the existing corpus "
    "— window keep-min + fingerprint anti-join, the daily-ingest "
    "membership check (operators/curation.py:incremental_dedupe)",
)
def q76_incremental_dedupe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from salesanalytics_etl_spark.operators.curation import incremental_dedupe

    (documents,) = _t(spark, sf_dir, "documents")
    batch = documents.filter(F.col("doc_id") % 10 == 7)
    corpus = documents.filter(F.col("doc_id") % 10 != 7)
    return incremental_dedupe(corpus, batch)


@register(
    "q77_label_centroids",
    oracle="""
    SELECT label, CAST(r.i - 1 AS INT) AS dim,
           FLOOR(CAST(SUM(CAST(CAST(embedding[r.i] AS DOUBLE)
                               AS DECIMAL(27,10)))
                      AS DOUBLE) / COUNT(*) * 1000000.0 + 0.5)
             / 1000000.0 AS centroid,
           CAST(COUNT(*) AS BIGINT) AS n_vecs
    FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS r(i)
    GROUP BY 1, 2
    """,
    doc="per-label embedding centroids as (label, dim) rows: posexplode + "
    "groupBy — shuffle keyed on |labels|*dims regardless of corpus size; "
    "decimal accumulation keeps the float sum exact and order-insensitive "
    "(operators/curation.py:label_centroids)",
)
def q77_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    from salesanalytics_etl_spark.operators.curation import label_centroids

    (embeddings,) = _t(spark, sf_dir, "embeddings")
    return label_centroids(embeddings)


@register(
    "q78_regional_supplier_revenue",
    oracle="""
    SELECT n_name,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 4)
             AS revenue
    FROM customer, orders, lineitem, supplier, nation, region
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      AND r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n_name
    """,
    doc="TPC-H Q5-shaped local-supplier revenue: 6-table snowflake join "
    "(region->nation->supplier + customer->orders->lineitem, co-nation "
    "residual) — dims broadcast in a chain, facts shuffle once on the "
    "join key; date filter pushed to the orders scan",
)
def q78_regional_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from salesanalytics_etl_spark.functions.scalar import dec182, money_out

    customer, orders, lineitem, supplier, nation, region = _t(
        spark, sf_dir, "customer", "orders", "lineitem", "supplier",
        "nation", "region",
    )
    asia_nations = (
        nation.join(
            F.broadcast(region.filter(F.col("r_name") == "ASIA")),
            nation.n_regionkey == region.r_regionkey,
        ).select("n_nationkey", "n_name")
    )
    o = orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    revenue = dec182("l_extendedprice") * (F.lit(1) - dec182("l_discount"))
    return (
        lineitem.select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        # supplier and customer are NOT broadcast-hinted: both scale with
        # SF (~100M / ~1.5B rows at the 100 TB point) — shuffle joins are
        # the honest plan, and AQE still broadcasts them at small SFs
        # where they fit. Only nation/region (25 / 5 rows, fixed) carry
        # hard broadcast hints.
        .join(
            supplier.select("s_suppkey", "s_nationkey"),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(
            customer.select("c_custkey", "c_nationkey"),
            (F.col("o_custkey") == F.col("c_custkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(
            F.broadcast(asia_nations),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("n_name")
        .agg(money_out(F.sum(revenue), 4).alias("revenue"))
    )


@register(
    "q79_rolling_7day_sales",
    oracle="""
    WITH daily AS (
      SELECT CAST(o.o_orderdate AS DATE) AS order_date,
             date_diff('day', DATE '1995-01-01', CAST(o.o_orderdate AS DATE))
               AS day_no,
             SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS day_sales_dec
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      GROUP BY 1, 2
    )
    SELECT order_date,
           ROUND(CAST(day_sales_dec AS DOUBLE), 2) AS day_sales,
           -- exact integer-cent average with explicit half-up rounding:
           -- floor((sum/n)+0.5) in cents == (2*sum_cents + n) // (2*n);
           -- double round(sum/n, 2) is NOT engine-portable near half-cent
           -- boundaries
           CAST((2 * CAST(SUM(day_sales_dec) OVER w * 100 AS BIGINT)
                 + COUNT(*) OVER w)
                // (2 * COUNT(*) OVER w) AS DOUBLE) / 100.0 AS avg_7day,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_days
    FROM daily
    WINDOW w AS (ORDER BY day_no RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
    doc="7-day rolling average of daily sales via a RANGE window frame "
    "over integer day offsets (gap-aware: missing days shrink the "
    "window, unlike a ROWS frame) — runs on the ~2.4k-row daily rollup, "
    "so the global order is bounded, not corpus-sized",
)
def q79_rolling_7day_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from salesanalytics_etl_spark.functions.scalar import dec182, money_out

    orders, lineitem = _t(spark, sf_dir, "orders", "lineitem")
    daily = (
        orders.select("o_orderkey", "o_orderdate")
        .join(
            lineitem.select("l_orderkey", "l_extendedprice"),
            orders.o_orderkey == lineitem.l_orderkey,
        )
        .groupBy(F.to_date("o_orderdate").alias("order_date"))
        .agg(F.sum(dec182("l_extendedprice")).alias("day_sales_dec"))
        .withColumn(
            "day_no", F.datediff(F.col("order_date"), F.lit("1995-01-01"))
        )
    )
    # unpartitioned BY DESIGN over the calendar-bounded DAY grain —
    # the WindowExec WARN is expected/benign (plan-lint allowlisted)
    w = Window.orderBy("day_no").rangeBetween(-6, 0)
    stepped = daily.select(
        "order_date",
        "day_sales_dec",
        (F.sum("day_sales_dec").over(w) * 100).cast("long").alias("sum_cents"),
        F.count(F.lit(1)).over(w).alias("n_days"),
    )
    # exact integer-cent half-up average — see the oracle comment
    return stepped.select(
        "order_date",
        money_out(F.col("day_sales_dec")).alias("day_sales"),
        (
            F.expr("(2 * sum_cents + n_days) div (2 * n_days)").cast("double")
            / 100.0
        ).alias("avg_7day"),
        "n_days",
    )


@register(
    "q80_event_funnel",
    oracle="""
    WITH v AS (
      SELECT user_id, MIN(ts) AS v_ts FROM events
      WHERE event_type = 'view' GROUP BY 1
    ), c AS (
      SELECT e.user_id, MIN(e.ts) AS c_ts
      FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.v_ts
      WHERE e.event_type = 'click' GROUP BY 1
    ), p AS (
      SELECT e.user_id, MIN(e.ts) AS p_ts
      FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.c_ts
      WHERE e.event_type = 'purchase' GROUP BY 1
    )
    SELECT CASE WHEN p.user_id IS NOT NULL THEN 'purchase'
                WHEN c.user_id IS NOT NULL THEN 'click'
                ELSE 'view' END AS funnel_stage,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM v LEFT JOIN c ON v.user_id = c.user_id
           LEFT JOIN p ON v.user_id = p.user_id
    GROUP BY 1
    """,
    doc="ordered conversion funnel (view -> click after view -> purchase "
    "after click): every join and aggregate keys on user_id, so one "
    "partitioning serves the whole chain — the canonical event-funnel "
    "shape at billions of users",
)
def q80_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = _t(spark, sf_dir, "events")
    ev = events.select("user_id", "event_type", "ts")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id").agg(F.min("ts").alias("v_ts"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("v_ts"))
        .groupBy("user_id").agg(F.min("ts").alias("c_ts"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("c_ts"))
        .groupBy("user_id").agg(F.min("ts").alias("p_ts"))
    )
    stage = (
        F.when(F.col("p_ts").isNotNull(), "purchase")
        .when(F.col("c_ts").isNotNull(), "click")
        .otherwise("view")
    )
    return (
        v.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select(stage.alias("funnel_stage"))
        .groupBy("funnel_stage")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@register(
    "q81_bigram_merge_candidates",
    oracle=r"""
    WITH toks AS (
      SELECT string_split(trim(regexp_replace(lower(regexp_replace(text, '([぀-ヿ㐀-䶿一-鿿가-힯])', ' \1 ', 'g')), '\s+', ' ', 'g')),
                          ' ') AS t
      FROM documents
    ), pairs AS (
      SELECT t[r.i] || ' ' || t[r.i + 1] AS pair
      FROM toks, UNNEST(range(1, len(t))) AS r(i)
      WHERE len(t) >= 2
    ), counted AS (
      SELECT pair, CAST(COUNT(*) AS BIGINT) AS n_occurrences
      FROM pairs GROUP BY 1
    )
    SELECT pair, n_occurrences, CAST(rk AS INT) AS merge_rank
    FROM (SELECT *, ROW_NUMBER() OVER (
            ORDER BY n_occurrences DESC, pair) AS rk FROM counted)
    WHERE rk <= 20
    """,
    doc="BPE-style vocabulary induction, first merge step: global "
    "adjacent-token-pair frequencies, top-20 merge candidates — one "
    "shuffle on the pair key with map-side partials, then a bounded "
    "top-k (TakeOrderedAndProject, no global sort of the pair table)",
)
def q81_bigram_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from salesanalytics_etl_spark.operators.dedup import spread_partitions
    from salesanalytics_etl_spark.operators.text import tokens

    (documents,) = _t(spark, sf_dir, "documents")
    toks = spread_partitions(documents.select("doc_id", "text")).select(
        tokens(F.col("text")).alias("toks")
    )
    pairs = toks.filter(F.size("toks") >= 2).select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(toks) - 1), "
                "i -> concat_ws(' ', element_at(toks, i), "
                "element_at(toks, i + 1)))"
            )
        ).alias("pair")
    )
    counted = pairs.groupBy("pair").agg(
        F.count(F.lit(1)).alias("n_occurrences")
    )
    # top-k FIRST via TakeOrderedAndProject (per-partition top-20 merged
    # on the driver — no global sort/window over the |vocab|-sized pair
    # table), THEN rank the bounded 20-row survivor set
    top = counted.orderBy(F.desc("n_occurrences"), F.asc("pair")).limit(20)
    w = Window.orderBy(F.desc("n_occurrences"), F.asc("pair"))
    return top.select(
        "pair",
        "n_occurrences",
        F.row_number().over(w).alias("merge_rank"),
    )


@register(
    "q82_approx_percentile_sketch",
    oracle=None,
    doc="Greenwald-Khanna approximate percentiles of per-order totals per "
    "market segment (accuracy 1000 ≈ 0.001 rank error) — the sketch path "
    "for 100 TB quantiles: mergeable partials, no full sort; approximate "
    "by nature → rows-only for the gate, with the rank-error bound "
    "asserted against exact percentiles in unit tests (q68 is the exact "
    "twin)",
)
def q82_approx_percentile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from salesanalytics_etl_spark.functions.scalar import dec182

    customer, orders, lineitem = _t(
        spark, sf_dir, "customer", "orders", "lineitem"
    )
    per_order = (
        lineitem.select("l_orderkey", "l_extendedprice")
        .join(orders.select("o_orderkey", "o_custkey"),
              lineitem.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer.select("c_custkey", "c_mktsegment")),
              orders.o_custkey == customer.c_custkey)
        .groupBy("o_orderkey", "c_mktsegment")
        .agg(F.sum(dec182("l_extendedprice")).cast("double").alias("order_total"))
    )
    # accuracy 1000 → rank error <= 1e-3, 10x tighter than the 0.01 bound
    # the unit test asserts, and ~10x cheaper to insert/merge than 10000
    pct = F.percentile_approx("order_total", [0.5, 0.9, 0.99], 1000)
    return per_order.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(pct[0], 2).alias("p50_approx"),
        F.round(pct[1], 2).alias("p90_approx"),
        F.round(pct[2], 2).alias("p99_approx"),
    )


@register(
    "q83_sentence_dedup_stats",
    oracle=r"""
    WITH sents AS (
      SELECT doc_id, source,
             trim(s.sent) AS sent
      FROM documents,
           UNNEST(string_split(lower(text), '.')) AS s(sent)
      WHERE length(trim(s.sent)) >= 20
    ), fp AS (
      SELECT doc_id, source, md5(sent) AS sent_fp FROM sents
    ), dup AS (
      SELECT sent_fp, CAST(COUNT(*) AS BIGINT) AS n_copies
      FROM fp GROUP BY 1 HAVING COUNT(*) > 1
    )
    SELECT f.source,
           CAST(COUNT(*) AS BIGINT) AS n_dup_sentences,
           CAST(COUNT(DISTINCT f.sent_fp) AS BIGINT) AS n_dup_groups,
           CAST(COUNT(DISTINCT f.doc_id) AS BIGINT) AS n_docs_affected
    FROM fp f JOIN dup d USING (sent_fp)
    GROUP BY 1
    """,
    doc="sentence-level duplication per source (boilerplate detector "
    "finer than doc-level q21): explode sentences >= 20 chars, "
    "fingerprint, count cross-corpus repeats — shuffle on the 16-byte "
    "sentence fingerprint, HAVING prunes unique sentences before the "
    "stats join",
)
def q83_sentence_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from salesanalytics_etl_spark.operators.dedup import spread_partitions

    (documents,) = _t(spark, sf_dir, "documents")
    sents = (
        spread_partitions(documents.select("doc_id", "source", "text"))
        .select(
            "doc_id",
            "source",
            F.explode(F.split(F.lower("text"), r"\.")).alias("sent"),
        )
        .select("doc_id", "source", F.trim("sent").alias("sent"))
        .filter(F.length("sent") >= 20)
        .select("doc_id", "source", F.md5("sent").alias("sent_fp"))
    )
    dup = (
        sents.groupBy("sent_fp")
        .agg(F.count(F.lit(1)).alias("n_copies"))
        .filter(F.col("n_copies") > 1)
    )
    return (
        sents.join(dup.select("sent_fp"), "sent_fp")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_dup_sentences"),
            F.countDistinct("sent_fp").alias("n_dup_groups"),
            F.countDistinct("doc_id").alias("n_docs_affected"),
        )
    )


@register(
    "q84_split_leakage_check",
    oracle=r"""
    WITH fp AS (
      SELECT doc_id,
             md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
               AS fingerprint
      FROM documents
    ), assigned AS (
      SELECT fingerprint,
             CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))
                       AS INT) % 100 < 90
                  THEN 'train' ELSE 'test' END AS id_split,
             CASE WHEN CAST(('0x' || substr(md5(fingerprint), 1, 6))
                       AS INT) % 100 < 90
                  THEN 'train' ELSE 'test' END AS content_split
      FROM fp
    )
    SELECT 'by_doc_id' AS split_method,
           CAST(COUNT(*) AS BIGINT) AS n_leaking_groups
    FROM (SELECT fingerprint FROM assigned
          GROUP BY 1 HAVING COUNT(DISTINCT id_split) > 1)
    UNION ALL
    SELECT 'by_content_hash',
           CAST(COUNT(*) AS BIGINT)
    FROM (SELECT fingerprint FROM assigned
          GROUP BY 1 HAVING COUNT(DISTINCT content_split) > 1)
    """,
    doc="train/test leakage audit: duplicate-content groups spanning both "
    "splits. Splitting by doc-id hash leaks every duplicated text whose "
    "copies land in different splits; splitting by CONTENT hash leaks "
    "zero by construction — the invariant this query proves (and the "
    "reason q51-style splits should key on content for duplicated "
    "corpora)",
)
def q84_split_leakage_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    from salesanalytics_etl_spark.operators.text import normalize_text

    (documents,) = _t(spark, sf_dir, "documents")

    def bucket(col):
        return (
            F.conv(F.substring(F.md5(col), 1, 6), 16, 10).cast("long") % 100
        )

    assigned = documents.select(
        F.md5(normalize_text(F.col("text"))).alias("fingerprint"),
        F.when(
            bucket(F.col("doc_id").cast("string")) < 90, "train"
        ).otherwise("test").alias("id_split"),
    ).withColumn(
        "content_split",
        F.when(bucket(F.col("fingerprint")) < 90, "train").otherwise("test"),
    )

    def leaking(split_col: str, label: str) -> DataFrame:
        return (
            assigned.groupBy("fingerprint")
            .agg(F.countDistinct(split_col).alias("n_splits"))
            .filter(F.col("n_splits") > 1)
            .agg(F.count(F.lit(1)).alias("n_leaking_groups"))
            .select(
                F.lit(label).alias("split_method"), "n_leaking_groups"
            )
        )

    return leaking("id_split", "by_doc_id").unionByName(
        leaking("content_split", "by_content_hash")
    )


@register(
    "q85_compression_quality",
    oracle=None,
    doc="deflate-compressibility quality signal (compressed/raw ratio of "
    "normalized text): catches long-range repetition the regex heuristics "
    "can't; Arrow-batched pandas UDF (the sanctioned Python boundary — "
    "zlib has no SQL twin, hence rows-only), deterministic at pinned "
    "level 6; value behavior pinned by unit tests on planted "
    "repetitive/random docs (operators/text.py:compression_ratio)",
)
def q85_compression_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from salesanalytics_etl_spark.operators.text import compression_ratio

    (documents,) = _t(spark, sf_dir, "documents")
    return compression_ratio(documents)


@register(
    "q86_bm25_search",
    oracle=r"""
    WITH n AS (
      SELECT doc_id, trim(regexp_replace(lower(regexp_replace(text, '([぀-ヿ㐀-䶿一-鿿가-힯])', ' \1 ', 'g')), '\s+', ' ', 'g')) AS norm
      FROM documents
    ), toks AS (
      SELECT doc_id, t.term
      FROM n, UNNEST(string_split(n.norm, ' ')) AS t(term)
      WHERE length(t.term) > 0
    ), tf AS (
      SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM toks GROUP BY 1, 2
    ), dl AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM toks GROUP BY 1
    ), stats AS (
      SELECT COUNT(*) AS n_docs, AVG(CAST(dl AS DOUBLE)) AS avgdl FROM dl
    ), dfreq AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1
    ), q AS (
      SELECT UNNEST(['data', 'quality', 'pipeline']) AS term
    ), scored AS (
      SELECT tf.doc_id,
             SUM(
               ln(1 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
               * (tf.tf * 2.2)
               / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl))
             ) AS score
      FROM tf
      JOIN q USING (term)
      JOIN dfreq USING (term)
      JOIN dl USING (doc_id)
      CROSS JOIN stats
      GROUP BY 1
    )
    SELECT doc_id, ROUND(score, 6) AS bm25
    FROM scored
    ORDER BY ROUND(score, 6) DESC, doc_id
    LIMIT 10
    """,
    doc="BM25 retrieval (k1=1.2, b=0.75) for the query "
    "['data','quality','pipeline']: tf/df/doclen computed distributed, "
    "query terms + corpus stats broadcast (3-row and 1-row builds), "
    "bounded top-10 via TakeOrderedAndProject; ties broken on doc_id "
    "over the ROUNDED score so ordering is engine-identical",
)
def q86_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from salesanalytics_etl_spark.operators.text import _token_rows

    (documents,) = _t(spark, sf_dir, "documents")
    toks = _token_rows(documents)
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg(F.col("dl").cast("double")).alias("avgdl"),
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    q = spark.createDataFrame(
        [("data",), ("quality",), ("pipeline",)], ["term"]
    )
    idf = F.log(
        1
        + (F.col("n_docs") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    bm25_term = idf * (F.col("tf") * 2.2) / (
        F.col("tf") + 1.2 * (0.25 + 0.75 * F.col("dl") / F.col("avgdl"))
    )
    # df restricted to the query terms: a |query|-row broadcast that both
    # filters the tf stream and carries the df needed for idf
    query_df = F.broadcast(dfreq.join(F.broadcast(q), "term"))
    scored = (
        tf.join(query_df, "term")
        .join(dl, "doc_id")
        .join(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.sum(bm25_term).alias("score"))
    )
    return (
        scored.select("doc_id", F.round("score", 6).alias("bm25"))
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(10)
    )


@register(
    "q87_stratified_cap_sample",
    oracle="""
    SELECT source, doc_id
    FROM (
      SELECT source, doc_id,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      FROM documents
    )
    WHERE rn <= 25
    """,
    doc="deterministic stratified sample with hard per-source caps: the "
    "25 smallest-hash docs per source (a fixed-size uniform sample, "
    "unlike q50's rate-based thinning) — per-source window, no global "
    "order; the eval-set construction primitive",
)
def q87_stratified_cap_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    # two-phase pick (operators/skew.py): the |docs|-grain rows over a
    # handful of sources would otherwise sort in |sources| tasks
    from salesanalytics_etl_spark.operators.skew import topk_per_group

    (documents,) = _t(spark, sf_dir, "documents")
    return topk_per_group(
        documents.select(
            "source",
            "doc_id",
            F.md5(F.col("doc_id").cast("string")).alias("_hk"),
        ),
        ["source"],
        [F.col("_hk"), F.col("doc_id")],
        25,
    ).select("source", "doc_id")


@register(
    "q88_lang_metadata_agreement",
    oracle=r"""
    WITH s AS (
      SELECT doc_id, lang, source,
             len(regexp_extract_all(text, '[一-鿿]')) AS cjk,
             len(regexp_extract_all(lower(text), '\b(the|and|of|to|is|in)\b')) AS s_en,
             len(regexp_extract_all(lower(text), '\b(el|la|los|las|de|que|y)\b')) AS s_es,
             len(regexp_extract_all(lower(text), '\b(le|la|les|des|et|est|une)\b')) AS s_fr,
             len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|nicht)\b')) AS s_de
      FROM documents
    ), pred AS (
      SELECT lang AS lang_declared,
             CASE WHEN cjk > 0 THEN 'zh'
                  WHEN s_en = 0 AND s_es = 0 AND s_fr = 0 AND s_de = 0 THEN 'und'
                  WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_de THEN 'en'
                  WHEN s_es >= s_fr AND s_es >= s_de THEN 'es'
                  WHEN s_fr >= s_de THEN 'fr'
                  ELSE 'de' END AS lang_detected
      FROM s
    )
    SELECT lang_declared, lang_detected,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM pred GROUP BY 1, 2
    """,
    doc="metadata-vs-content language confusion matrix: declared `lang` "
    "column against the q24 detector — the DQ audit that catches "
    "mislabeled-metadata corpora before they skew per-language budgets "
    "(q72) and splits; |langs|^2-bounded output",
)
def q88_lang_metadata_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    from salesanalytics_etl_spark.operators.text import lang_id

    (documents,) = _t(spark, sf_dir, "documents")
    pred = lang_id(documents, keep=("lang",))
    return (
        pred.select(
            F.col("lang").alias("lang_declared"),
            F.col("lang_pred").alias("lang_detected"),
        )
        .groupBy("lang_declared", "lang_detected")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@register(
    "q89_embedding_cluster_stats",
    oracle=None,
    doc="KMeans(16) cluster profile of the embedding corpus: per-cluster "
    "size, mean intra-cluster cosine to the centroid, and dominant label "
    "— reuses the IVF coarse quantizer (sample-fit); "
    "iterative fit -> rows-only for the gate, semantics pinned by the "
    "IVF planted-cluster unit tests",
)
def q89_embedding_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from salesanalytics_etl_spark.operators.ivf import assign_clusters

    (embeddings,) = _t(spark, sf_dir, "embeddings")
    assigned = assign_clusters(embeddings)
    per_cluster_label = (
        assigned.groupBy("cluster", "label")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("cluster").orderBy(F.desc("n"), F.asc("label"))
    dominant = (
        per_cluster_label.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("cluster", F.col("label").alias("dominant_label"))
    )
    stats = assigned.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(F.avg("centroid_sim"), 6).alias("mean_centroid_sim"),
    )
    return stats.join(F.broadcast(dominant), "cluster")


@register(
    "q90_weighted_priority_sample",
    oracle="""
    WITH w AS (
      SELECT doc_id, lang,
             CAST(length(regexp_extract_all(text, '[A-Za-z0-9]+|[぀-ヿ㐀-䶿一-鿿가-힯]')) AS BIGINT)
               AS n_tokens,
             (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)) AS INT)
              % 10000 + 1) / 10001.0 AS u
      FROM documents
    )
    SELECT doc_id, lang, n_tokens,
           ROUND(-ln(u) / n_tokens, 6) AS priority
    FROM w
    WHERE n_tokens > 0
    ORDER BY ROUND(-ln(u) / n_tokens, 6), doc_id
    LIMIT 50
    """,
    doc="deterministic weighted sampling (Efraimidis-Spirakis priority "
    "sampling, probability ~ token count): u drawn from a content hash "
    "(never rand()), priority -ln(u)/w, bottom-50 via "
    "TakeOrderedAndProject — weighted corpus subsampling that is "
    "reproducible across runs, engines, and retries; ties broken on "
    "doc_id over the ROUNDED priority",
)
def q90_weighted_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from salesanalytics_etl_spark.operators.text import token_count

    (documents,) = _t(spark, sf_dir, "documents")
    u = (
        (
            F.conv(
                F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6), 16, 10
            ).cast("long")
            % 10000
            + 1
        )
        / 10001.0
    )
    w = documents.select(
        "doc_id",
        "lang",
        token_count(F.col("text")).cast("long").alias("n_tokens"),
        u.alias("u"),
    ).filter(F.col("n_tokens") > 0)
    pri = F.round(-F.log(F.col("u")) / F.col("n_tokens"), 6)
    return (
        w.select("doc_id", "lang", "n_tokens", pri.alias("priority"))
        .orderBy(F.asc("priority"), F.asc("doc_id"))
        .limit(50)
    )


@register(
    "q91_cohort_retention",
    oracle="""
    WITH fo AS (
      SELECT o_custkey, MIN(date_trunc('month', o_orderdate)) AS cohort_month
      FROM orders GROUP BY 1
    ), act AS (
      SELECT DISTINCT o.o_custkey, fo.cohort_month,
             date_trunc('month', o.o_orderdate) AS order_month
      FROM orders o JOIN fo ON o.o_custkey = fo.o_custkey
    )
    SELECT CAST(cohort_month AS DATE) AS cohort_month,
           CAST((EXTRACT(year FROM order_month) * 12
                 + EXTRACT(month FROM order_month))
              - (EXTRACT(year FROM cohort_month) * 12
                 + EXTRACT(month FROM cohort_month)) AS INT) AS months_since,
           CAST(COUNT(*) AS BIGINT) AS n_active
    FROM act GROUP BY 1, 2
    """,
    doc="monthly cohort retention matrix: customers grouped by first-order "
    "month, counted active per months-since offset — the standard "
    "retention triangle. Months-since via integer year*12+month "
    "arithmetic (engine-portable; months_between() interpolates on "
    "day-of-month and would diverge). Two key-local aggregations plus a "
    "fact-sized distinct; output bounded by |months|^2",
)
def q91_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = _t(spark, sf_dir, "orders")
    om = orders.select(
        "o_custkey", F.trunc("o_orderdate", "month").alias("order_month")
    )
    fo = om.groupBy("o_custkey").agg(F.min("order_month").alias("cohort_month"))
    act = om.join(fo, "o_custkey").distinct()
    months_since = (
        (F.year("order_month") * 12 + F.month("order_month"))
        - (F.year("cohort_month") * 12 + F.month("cohort_month"))
    ).cast("int")
    return (
        act.select("cohort_month", months_since.alias("months_since"))
        .groupBy("cohort_month", "months_since")
        .agg(F.count(F.lit(1)).alias("n_active"))
    )


@register(
    "q92_part_cooccurrence",
    oracle="""
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM op a JOIN op b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
    ORDER BY n_orders DESC, part_a, part_b
    LIMIT 25
    """,
    doc="market-basket co-occurrence: top-25 part pairs by number of "
    "orders containing both. Self-join on the order key AFTER "
    "distinct-ing (order, part) — pair expansion is bounded by "
    "order size (<=7 items -> <=21 pairs/order), never |lineitem|^2; "
    "total order (count, part_a, part_b) makes the top-k deterministic",
)
def q92_part_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    (lineitem,) = _t(spark, sf_dir, "lineitem")
    op = lineitem.select("l_orderkey", "l_partkey").distinct()
    a = op.select(
        F.col("l_orderkey"), F.col("l_partkey").alias("part_a")
    )
    b = op.select(
        F.col("l_orderkey"), F.col("l_partkey").alias("part_b")
    )
    return (
        a.join(b, "l_orderkey")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.desc("n_orders"), F.asc("part_a"), F.asc("part_b"))
        .limit(25)
    )


@register(
    "q93_customer_rfm",
    oracle="""
    WITH agg AS (
      SELECT o_custkey AS c_custkey,
             MAX(CAST(o_orderdate AS DATE)) AS last_order,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
               AS monetary
      FROM orders GROUP BY 1
    )
    SELECT c_custkey, last_order, n_orders, monetary,
           CAST(NTILE(4) OVER (ORDER BY last_order DESC, c_custkey) AS INT)
             AS r_quartile,
           CAST(NTILE(4) OVER (ORDER BY n_orders DESC, c_custkey) AS INT)
             AS f_quartile,
           CAST(NTILE(4) OVER (ORDER BY monetary DESC, c_custkey) AS INT)
             AS m_quartile
    FROM agg
    """,
    doc="RFM segmentation: per-customer recency (last order), frequency, "
    "monetary (decimal-accumulated, double-emitted), each bucketed into "
    "quartiles over a TOTAL order (metric, custkey) so both engines "
    "tie-break identically. Quartiles come from operators/ranking.py's "
    "DISTRIBUTED exact NTILE (range-partition + local row_number + "
    "offset join) — customers scale with the data (SF x 150k), so the "
    "naive global ntile window would funnel hundreds of millions of "
    "rows through one sort partition at 100 TB (r7 verdict finding); "
    "the only unpartitioned window left is over the <= shuffle-"
    "partitions-row offsets frame",
)
def q93_customer_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    from salesanalytics_etl_spark.functions.scalar import dec182, money_out
    from salesanalytics_etl_spark.operators.ranking import (
        append_global_ntile_multi,
    )

    (orders,) = _t(spark, sf_dir, "orders")
    agg = orders.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        F.max(F.to_date("o_orderdate")).alias("last_order"),
        F.count(F.lit(1)).alias("n_orders"),
        money_out(F.sum(dec182("o_totalprice"))).alias("monetary"),
    )
    # all three quartiles through ONE range exchange (the multi variant's
    # typed-slot unpivot); DESC orders expressed as exact negations —
    # -unix_date is tie-preserving on dates, double negation is IEEE-exact
    return append_global_ntile_multi(
        agg,
        4,
        {
            "r_quartile": -F.unix_date(F.col("last_order")),
            "f_quartile": -F.col("n_orders"),
            "m_quartile": -F.col("monetary"),
        },
        keys=["c_custkey"],
    )


@register(
    "q94_scd2_customers",
    oracle="""
    WITH base AS (
      SELECT c_custkey, c_mktsegment,
             DATE '2020-01-01' AS valid_from,
             CAST(NULL AS DATE) AS valid_to,
             TRUE AS is_current
      FROM customer
    ), upd AS (
      SELECT c_custkey, 'MIGRATED' AS c_mktsegment
      FROM customer
      WHERE c_custkey % 7 = 0 AND c_mktsegment <> 'MIGRATED'
    )
    SELECT b.c_custkey, b.c_mktsegment, b.valid_from,
           CASE WHEN u.c_custkey IS NOT NULL
                THEN DATE '2024-06-01' ELSE b.valid_to END AS valid_to,
           CASE WHEN u.c_custkey IS NOT NULL
                THEN FALSE ELSE TRUE END AS is_current
    FROM base b LEFT JOIN upd u ON b.c_custkey = u.c_custkey
    UNION ALL
    SELECT c_custkey, c_mktsegment, DATE '2024-06-01',
           CAST(NULL AS DATE), TRUE
    FROM upd
    """,
    doc="SCD2 dimension merge driver-checked end-to-end: seed the customer "
    "dim as all-current (valid_from 2020-01-01), apply a derived update "
    "batch (every 7th key re-segmented to MIGRATED effective 2024-06-01) "
    "via operators/upsert.py:scd2_apply — changed rows close out + "
    "re-open, unchanged rows pass through; broadcast join, dimension "
    "never shuffled (reference MERGE semantics, history-preserving: "
    "etl_sales_analytics.py:223-283)",
)
def q94_scd2_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from salesanalytics_etl_spark.operators.upsert import scd2_apply

    (customer,) = _t(spark, sf_dir, "customer")
    dim = customer.select(
        "c_custkey",
        "c_mktsegment",
        F.to_date(F.lit("2020-01-01")).alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    updates = (
        customer.filter(
            (F.col("c_custkey") % 7 == 0) & (F.col("c_mktsegment") != "MIGRATED")
        )
        .select("c_custkey", F.lit("MIGRATED").alias("c_mktsegment"))
    )
    return scd2_apply(
        dim,
        updates,
        keys=["c_custkey"],
        tracked=["c_mktsegment"],
        effective_date="2024-06-01",
    )


@register(
    "q95_sentence_split_udtf",
    oracle="""
    WITH s AS (
      SELECT doc_id,
             list_filter(
               list_transform(string_split(lower(text), '.'), x -> trim(x)),
               x -> length(x) > 0) AS sents
      FROM documents
    ), z AS (
      SELECT doc_id, unnest(list_zip(range(1, len(sents) + 1), sents)) AS p
      FROM s
    )
    SELECT doc_id, CAST(p[1] AS INT) AS sent_id, CAST(p[2] AS VARCHAR) AS sentence
    FROM z
    """,
    doc="Python UDTF surface (SURVEY.md §2.12): sentence explosion via a "
    "registered @udtf + LATERAL join, value-identical to the codegen'd "
    "explode(split()) convention q83 uses — proves the table-valued-"
    "function contract against the oracle; Arrow-batched transport "
    "(operators/udtfs.py)",
)
def q95_sentence_split_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from salesanalytics_etl_spark.operators.udtfs import split_sentences_udtf

    (documents,) = _t(spark, sf_dir, "documents")
    return split_sentences_udtf(spark, documents)


@register(
    "q96_event_transition_matrix",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      FROM events
    )
    SELECT prev_type AS from_type, event_type AS to_type,
           CAST(COUNT(*) AS BIGINT) AS n_transitions
    FROM seq WHERE prev_type IS NOT NULL
    GROUP BY 1, 2
    """,
    doc="per-user event-type transition matrix (Markov counts): LAG over "
    "(ts, event_id) — a TOTAL order, so ties can't flap between engines. "
    "One shuffle on user_id for the window, one |types|^2-bounded agg; "
    "the user_id partitioning is the same key the funnel (q80) and "
    "sessionizer (q30) use, so a real pipeline reuses the exchange",
)
def q96_event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    (events,) = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        "user_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    )
    return (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy(
            F.col("prev_type").alias("from_type"),
            F.col("event_type").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )


@register(
    "q97_daily_sales_anomalies",
    oracle="""
    WITH daily AS (
      SELECT CAST(o.o_orderdate AS DATE) AS order_date,
             SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS s
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      GROUP BY 1
    ), stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(s) AS DOUBLE) AS tot,
             CAST(SUM(CAST(s * s AS DECIMAL(38,4))) AS DOUBLE) AS totsq
      FROM daily
    )
    SELECT d.order_date,
           ROUND(CAST(d.s AS DOUBLE), 2) AS day_sales,
           ROUND((CAST(d.s AS DOUBLE) - tot / n)
                 / sqrt(totsq / n - (tot / n) * (tot / n)), 6) AS zscore
    FROM daily d, stats
    WHERE abs((CAST(d.s AS DOUBLE) - tot / n)
              / sqrt(totsq / n - (tot / n) * (tot / n))) > 2.0
    """,
    doc="daily-revenue anomaly detection: days whose sales z-score "
    "exceeds |2|. Mean/variance are derived from EXACT decimal "
    "sum / sum-of-squares (order-insensitive under any partitioning), "
    "cast to double only in the final closed-form z — so both engines "
    "compute bit-identical scores; a streaming stddev_samp over doubles "
    "would be summation-order-dependent and flap the gate. Stats side "
    "is a 1-row broadcast",
)
def q97_daily_sales_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    from salesanalytics_etl_spark.functions.scalar import dec182

    orders, lineitem = _t(spark, sf_dir, "orders", "lineitem")
    daily = (
        orders.select("o_orderkey", F.to_date("o_orderdate").alias("order_date"))
        .join(
            lineitem.select("l_orderkey", "l_extendedprice"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .groupBy("order_date")
        .agg(F.sum(dec182("l_extendedprice")).alias("s"))
    )
    # corpus stats as an unbounded window over `daily` — the |days|-bounded
    # AGGREGATE, not the fact table — so the orders⋈lineitem join runs
    # ONCE; a separate stats aggregate + rejoin would execute the whole
    # upstream plan twice (no persist on the pure query surface)
    from pyspark.sql import Window

    w = Window.partitionBy()
    joined = daily.select(
        "order_date",
        "s",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("s").over(w).cast("double").alias("tot"),
        F.sum((F.col("s") * F.col("s")).cast("decimal(38,4)"))
        .over(w)
        .cast("double")
        .alias("totsq"),
    )
    mean = F.col("tot") / F.col("n")
    z = (F.col("s").cast("double") - mean) / F.sqrt(
        F.col("totsq") / F.col("n") - mean * mean
    )
    return (
        joined.filter(F.abs(z) > 2.0)
        .select(
            "order_date",
            F.round(F.col("s").cast("double"), 2).alias("day_sales"),
            F.round(z, 6).alias("zscore"),
        )
    )


@register(
    "q98_supplier_type_share",
    oracle="""
    WITH rev AS (
      SELECT l.l_suppkey, p.p_type,
             SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS r
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY 1, 2
    )
    SELECT l_suppkey, p_type,
           ROUND(CAST(r AS DOUBLE), 2) AS supplier_revenue,
           FLOOR(CAST(r AS DOUBLE)
                 / CAST(SUM(r) OVER (PARTITION BY p_type) AS DOUBLE)
                 * 1000000.0 + 0.5) / 1000000.0
             AS share_of_type
    FROM rev
    """,
    doc="supplier share of part-type revenue: ratio-to-window-total. The "
    "window input is the (supplier x type) AGGREGATE, dims broadcast "
    "into the lineitem pass; the share divides two doubles derived from "
    "the same exact decimal sums, so partitioning can't skew it",
)
def q98_supplier_type_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from salesanalytics_etl_spark.functions.scalar import dec182

    lineitem, part = _t(spark, sf_dir, "lineitem", "part")
    rev = (
        lineitem.select("l_suppkey", "l_partkey", "l_extendedprice")
        .join(
            F.broadcast(part.select("p_partkey", "p_type")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("l_suppkey", "p_type")
        .agg(F.sum(dec182("l_extendedprice")).alias("r"))
    )
    w = Window.partitionBy("p_type")
    return rev.select(
        "l_suppkey",
        "p_type",
        F.round(F.col("r").cast("double"), 2).alias("supplier_revenue"),
        # floor-formula: a cents-grid quotient can terminate exactly on
        # a 7th-decimal midpoint (the q104 sf0.1 class)
        (
            F.floor(
                F.col("r").cast("double")
                / F.sum("r").over(w).cast("double")
                * F.lit(1000000.0)
                + F.lit(0.5)
            )
            / F.lit(1000000.0)
        ).alias("share_of_type"),
    )


@register(
    "q99_priority_sla",
    oracle="""
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_lineitems,
           CAST(COUNT(*) FILTER (
             WHERE CAST(l.l_shipdate AS DATE) > CAST(o.o_orderdate AS DATE) + 30
           ) AS BIGINT) AS n_late,
           FLOOR(CAST(COUNT(*) FILTER (
             WHERE CAST(l.l_shipdate AS DATE) > CAST(o.o_orderdate AS DATE) + 30
           ) AS DOUBLE) / COUNT(*) * 1000000.0 + 0.5) / 1000000.0
             AS late_rate
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY 1
    """,
    doc="ship-SLA by order priority: lineitems shipped more than 30 days "
    "after order date, as exact integer counts + one terminal double "
    "ratio. Conditional count folds map-side; output bounded by "
    "|priorities|",
)
def q99_priority_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders, lineitem = _t(spark, sf_dir, "orders", "lineitem")
    late = (
        F.to_date("l_shipdate")
        > F.date_add(F.to_date("o_orderdate"), 30)
    ).cast("long")
    joined = (
        orders.select("o_orderkey", "o_orderdate", "o_orderpriority")
        .join(
            lineitem.select("l_orderkey", "l_shipdate"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
    )
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lineitems"),
            F.sum(late).alias("n_late"),
        )
        .select(
            "o_orderpriority",
            "n_lineitems",
            "n_late",
            # floor-formula: a small-integer quotient can terminate
            # exactly on a 7th-decimal midpoint (the q104 sf0.1 class)
            (
                F.floor(
                    F.col("n_late").cast("double")
                    / F.col("n_lineitems")
                    * F.lit(1000000.0)
                    + F.lit(0.5)
                )
                / F.lit(1000000.0)
            ).alias("late_rate"),
        )
    )


@register(
    "q100_etl_dataflow",
    oracle="""
    WITH src AS (
      SELECT o_orderkey, o_custkey, o_orderdate,
             CAST(o_totalprice AS DECIMAL(18,2)) AS price, 1 AS seq
      FROM orders
      UNION ALL
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 23 = 0 THEN -o_custkey
                  ELSE o_custkey END,
             o_orderdate,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) + 10.00
                  AS DECIMAL(18,2)),
             2
      FROM orders WHERE o_orderkey % 17 = 0
    ), dedup AS (
      SELECT * FROM src
      QUALIFY ROW_NUMBER() OVER (
        PARTITION BY o_orderkey ORDER BY seq DESC) = 1
    ), valid AS (
      SELECT d.* FROM dedup d
      JOIN (SELECT DISTINCT c_custkey FROM customer) c
        ON d.o_custkey = c.c_custkey
    )
    SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS order_month,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(CAST(SUM(price) AS DOUBLE), 2) AS total_sales
    FROM valid GROUP BY 1
    """,
    doc="the reference's FULL ETL dataflow as ONE driver-checked query "
    "(etl_sales_analytics.py:302-330): ingest (base orders + a "
    "re-delivered batch where every 17th order arrives again with a "
    "corrected price and every 23rd of those carries a broken customer "
    "FK) -> keep-LAST dedupe (must pick the corrected re-delivery; "
    "operators/cleaning.py:dedupe_keep_last) -> FK validation against "
    "customer (broadcast semi-join drops the broken rows; "
    "operators/integrity.py:fk_split) -> monthly rollup (decimal-exact, "
    "double-emitted). Wrong dedupe order, wrong FK direction, or a "
    "dropped reject all change the sums — the composition is what is "
    "verified, not the stages in isolation",
)
def q100_etl_dataflow(spark: SparkSession, sf_dir: str) -> DataFrame:
    from salesanalytics_etl_spark.functions.scalar import dec182, money_out
    from salesanalytics_etl_spark.operators.cleaning import dedupe_keep_last
    from salesanalytics_etl_spark.operators.integrity import fk_split

    orders, customer = _t(spark, sf_dir, "orders", "customer")
    base = orders.select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        dec182("o_totalprice").alias("price"),
        F.lit(1).alias("seq"),
    )
    redelivery = (
        orders.filter(F.col("o_orderkey") % 17 == 0)
        .select(
            "o_orderkey",
            F.when(F.col("o_orderkey") % 23 == 0, -F.col("o_custkey"))
            .otherwise(F.col("o_custkey"))
            .alias("o_custkey"),
            "o_orderdate",
            (dec182("o_totalprice") + F.lit(10.00).cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .alias("price"),
            F.lit(2).alias("seq"),
        )
    )
    src = base.unionByName(redelivery)
    deduped = dedupe_keep_last(src, keys=["o_orderkey"], order_col="seq").drop(
        "seq"
    )
    valid, _rejects = fk_split(
        deduped, customer, child_key="o_custkey", parent_key="c_custkey"
    )
    return (
        valid.groupBy(
            F.trunc("o_orderdate", "month").alias("order_month")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            money_out(F.sum("price")).alias("total_sales"),
        )
    )


# --------------------------------------------------------------------------
# Sketch-accelerated exact statistics
# --------------------------------------------------------------------------
@register(
    "q101_heavy_hitter_shingles",
    oracle=r"""
    WITH n AS (
      SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
      FROM documents WHERE text IS NOT NULL
    ), sh AS (
      SELECT substr(norm, i, 5) AS sh
      FROM n, UNNEST(range(1, greatest(length(norm) - 4, 1) + 1)) AS t(i)
    )
    SELECT sh, CAST(COUNT(*) AS BIGINT) AS freq
    FROM sh
    GROUP BY sh
    HAVING COUNT(*) * 500 >= (SELECT COUNT(*) FROM sh)
    """,
    doc="frequent 5-char shingles (frequency >= n/500) via per-task "
    "Misra-Gries candidates + exact broadcast recount "
    "(operators/frequent.py): the only exchange is over the bounded "
    "candidate set, never the full shingle domain — yet the OUTPUT is "
    "exact (MG superset guarantee + recount), so unlike the HLL/GK "
    "sketches this sketch-accelerated path is hash-checked against the "
    "plain GROUP BY/HAVING twin",
)
def q101_heavy_hitter_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from salesanalytics_etl_spark.operators.dedup import shingle_rows
    from salesanalytics_etl_spark.operators.frequent import heavy_hitters

    (documents,) = _t(spark, sf_dir, "documents")
    rows = shingle_rows(documents)
    return heavy_hitters(rows, key_col="sh", phi_denom=500)


@register(
    "q102_exact_jaccard_join",
    oracle=r"""
    WITH n AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(regexp_replace(text, '([぀-ヿ㐀-䶿一-鿿가-힯])', ' \1 ', 'g')), '\s+', ' ', 'g')),
                          ' ') AS w
      FROM documents
    ), sh AS (
      SELECT doc_id,
             list(DISTINCT w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' ||
                           w[i+3] || ' ' || w[i+4]) AS shingles
      FROM n, UNNEST(range(1, GREATEST(len(w) - 4, 0) + 1)) AS t(i)
      GROUP BY doc_id
    ), pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             len(list_intersect(a.shingles, b.shingles)) AS i,
             len(list_distinct(list_concat(a.shingles, b.shingles))) AS u
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           FLOOR(CAST(i AS DOUBLE) / u * 10000.0 + 0.5) / 10000.0 AS jaccard
    FROM pairs WHERE i * 10000 >= 8000 * u
    """,
    doc="EXACT similarity self-join over the FULL corpus: every doc pair "
    "with 5-WORD-gram Jaccard >= 0.8 (the standard document-dedup "
    "granularity and cut), recall 1.0 — prefix filtering (rarest-first "
    "global order + length + positional pruning) turns the quadratic "
    "join into an equi-join on prefix shingles "
    "(operators/dedup.py:exact_jaccard_join); the DuckDB twin brute-"
    "forces all pairs, so a hash match certifies both the candidate "
    "completeness (no false negatives) and the verifier; docs under 5 "
    "words emit no shingles on either engine",
)
def q102_exact_jaccard_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from salesanalytics_etl_spark.operators.dedup import exact_jaccard_join

    (documents,) = _t(spark, sf_dir, "documents")
    return exact_jaccard_join(documents, threshold=0.8, unit="word")


# --------------------------------------------------------------------------
# Exact substring (span) dedup + LM quality filtering
# --------------------------------------------------------------------------
@register(
    "q103_duplicate_spans",
    oracle=r"""
    WITH nn AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(regexp_replace(text, '([぀-ヿ㐀-䶿一-鿿가-힯])', ' \1 ', 'g')), '\s+', ' ', 'g')),
                          ' ') AS w
      FROM documents
    ), sp AS (
      SELECT doc_id, array_to_string(w[i:i+19], ' ') AS span
      FROM nn, UNNEST(range(1, GREATEST(len(w) - 19, 0) + 1)) AS t(i)
    ), dup AS (
      SELECT span FROM sp GROUP BY span HAVING MIN(doc_id) <> MAX(doc_id)
    ), agg AS (
      SELECT doc_id, COUNT(*) AS n_windows,
             COUNT(*) FILTER (WHERE span IN (SELECT span FROM dup))
               AS n_dup_windows
      FROM sp GROUP BY doc_id
    )
    SELECT doc_id, n_windows, n_dup_windows,
           FLOOR(n_dup_windows * 1.0 / n_windows * 10000.0 + 0.5)
             / 10000.0 AS dup_ratio
    FROM agg WHERE n_dup_windows > 0
    """,
    doc="exact duplicated-span detection (fixed 20-word windows — the "
    "map-reduce form of exact-substring training-data dedup): per-doc "
    "count and fraction of windows appearing verbatim in another doc "
    "(operators/dedup.py:duplicate_spans). Spark shuffles 128-bit md5 "
    "fingerprints, never span text; min!=max on doc_id detects cross-doc "
    "repeats without COUNT DISTINCT; the DuckDB twin groups the raw span "
    "strings, so a hash match also certifies the fingerprint path "
    "collision-free on this corpus",
)
def q103_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from salesanalytics_etl_spark.operators.dedup import duplicate_spans

    (documents,) = _t(spark, sf_dir, "documents")
    return duplicate_spans(documents, n=20)


@register(
    "q104_unigram_surprisal",
    oracle=r"""
    WITH nn AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(regexp_replace(text, '([぀-ヿ㐀-䶿一-鿿가-힯])', ' \1 ', 'g')), '\s+', ' ', 'g')),
                          ' ') AS w
      FROM documents
    ), tok AS (
      SELECT doc_id, t.term FROM nn, UNNEST(w) AS t(term)
      WHERE length(t.term) > 0
    ), tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term
    ), vocab AS (
      SELECT term, SUM(tf) AS ctf FROM tf GROUP BY term
    ), tot AS (
      SELECT SUM(ctf) AS n FROM vocab
    ), bits AS (
      SELECT term,
             CAST(ROUND(log2(n) - log2(ctf), 6) AS DECIMAL(18,6)) AS bits
      FROM vocab, tot
    ), agg AS (
      SELECT doc_id, SUM(tf) AS n_tokens, SUM(tf * bits) AS s
      FROM tf JOIN bits USING (term) GROUP BY doc_id
    )
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           FLOOR(CAST(s AS DOUBLE) / n_tokens * 10000.0 + 0.5) / 10000.0
             AS bits_per_token
    FROM agg
    """,
    doc="per-document unigram cross-entropy (bits/token) under the "
    "corpus's own unigram LM — the CCNet-style perplexity quality filter "
    "with the model degenerate at n=1 so scoring stays in SQL "
    "(operators/text.py:unigram_surprisal). Cross-engine exactness: "
    "per-term surprisal is rounded once to 6 decimals and accumulated as "
    "DECIMAL(18,6), so the per-doc sum is order-insensitive integer "
    "arithmetic on both engines",
)
def q104_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from salesanalytics_etl_spark.operators.text import unigram_surprisal

    (documents,) = _t(spark, sf_dir, "documents")
    return unigram_surprisal(documents)


@register(
    "q105_cluster_representatives",
    oracle=r"""
    WITH RECURSIVE n AS (
      SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
      FROM documents WHERE doc_id < 250
    ), sh AS (
      SELECT doc_id, list(DISTINCT substr(norm, CAST(i AS INT), 5)) AS shingles
      FROM n, UNNEST(range(1, GREATEST(length(norm) - 3, 2))) AS t(i)
      GROUP BY doc_id
    ), edges AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE FLOOR(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                  / len(list_distinct(list_concat(a.shingles, b.shingles)))
                  * 10000.0 + 0.5) / 10000.0 >= 0.5
    ), und AS (
      SELECT doc_a AS s, doc_b AS d FROM edges
      UNION SELECT doc_b, doc_a FROM edges
    ), reach(s, d) AS (
      SELECT s, d FROM und
      UNION
      SELECT r.s, u.d FROM reach r JOIN und u ON r.d = u.s
    ), clusters AS (
      SELECT LEAST(s, MIN(d)) AS cluster_id, s AS doc_id
      FROM reach GROUP BY s
    ), q AS (
      SELECT doc_id,
             FLOOR((0.25 * (CASE WHEN length(text) BETWEEN 64 AND 8192
                                THEN 1.0 ELSE 0.0 END)
                 + 0.5 * (CASE WHEN length(text) > 0
                          THEN CAST(len(regexp_extract_all(text, '[A-Za-z]'))
                                    AS DOUBLE) / length(text) ELSE 0.0 END)
                 + 0.25 * (CASE WHEN len(regexp_extract_all(text, '[A-Za-z0-9]+|[぀-ヿ㐀-䶿一-鿿가-힯]')) > 0
                           AND CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE)
                               / len(regexp_extract_all(text, '[A-Za-z0-9]+|[぀-ヿ㐀-䶿一-鿿가-힯]'))
                               BETWEEN 2 AND 12
                           THEN 1.0 ELSE 0.0 END)) * 10000.0 + 0.5)
               / 10000.0 AS quality
      FROM documents
    )
    SELECT c.cluster_id, c.doc_id, q.quality,
           CAST(CASE WHEN ROW_NUMBER() OVER (
                  PARTITION BY c.cluster_id
                  ORDER BY q.quality DESC, c.doc_id) = 1
                THEN 1 ELSE 0 END AS INT) AS keep
    FROM clusters c JOIN q USING (doc_id)
    """,
    doc="the dedup ACTION step: near-dup clusters (q49's exact-edge "
    "transitive closure) -> keep the highest-quality member per cluster "
    "(q23's quality heuristic; doc_id tiebreak), mark the rest for "
    "dropping. Composes clustering + quality scoring + a per-cluster "
    "window — the per-cluster pick shuffles only the clustered tail of "
    "the corpus (docs in no cluster need no decision), and quality "
    "joins on doc_id before the window so one exchange serves both",
)
def q105_cluster_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from salesanalytics_etl_spark.operators.text import quality_score

    clusters = q49_dedup_clusters(spark, sf_dir)
    (documents,) = _t(spark, sf_dir, "documents")
    q = quality_score(documents).select("doc_id", "quality")
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("quality"), F.asc("doc_id")
    )
    return (
        clusters.join(q, "doc_id")
        .select(
            "cluster_id",
            "doc_id",
            "quality",
            F.when(F.row_number().over(w) == 1, 1).otherwise(0)
            .cast("int")
            .alias("keep"),
        )
    )


@register(
    "q106_token_budget_mixture",
    oracle=r"""
    WITH d AS (
      SELECT doc_id, source,
             len(regexp_extract_all(text, '[A-Za-z0-9]+|[぀-ヿ㐀-䶿一-鿿가-힯]')) AS tok,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)) AS INT)
               % 10000 AS bucket
      FROM documents
    ), per_source AS (
      SELECT source, COUNT(*) AS n_docs, SUM(tok) AS n_tokens
      FROM d GROUP BY source
    ), g AS (
      SELECT SUM(n_tokens) AS total_tokens, COUNT(*) AS n_sources
      FROM per_source
    ), rates AS (
      SELECT source, n_docs, n_tokens,
             CASE WHEN n_tokens = 0 THEN 0
                  ELSE LEAST(10000, (total_tokens // 2) * 10000
                                    // (n_sources * n_tokens))
             END AS sample_bp
      FROM per_source, g
    )
    SELECT r.source,
           CAST(r.n_docs AS BIGINT) AS n_docs,
           CAST(r.n_tokens AS BIGINT) AS n_tokens,
           CAST(r.sample_bp AS BIGINT) AS sample_bp,
           CAST(COUNT(*) FILTER (WHERE d.bucket < r.sample_bp) AS BIGINT)
             AS n_docs_sampled,
           CAST(COALESCE(SUM(d.tok) FILTER (WHERE d.bucket < r.sample_bp), 0)
                AS BIGINT) AS n_tokens_sampled
    FROM rates r JOIN d ON d.source = r.source
    GROUP BY r.source, r.n_docs, r.n_tokens, r.sample_bp
    """,
    doc="mixture planning + deterministic execution for a token-budget "
    "corpus mix: target = half the corpus tokens spread uniformly over "
    "sources; per-source sampling rate in integer basis points "
    "(LEAST(10000, budget*1e4 // (n_sources * tokens_s)) — all integer "
    "math, exact on both engines), then each doc's md5 bucket decides "
    "membership (the q51 content-hash trick: stable under reprocessing, "
    "no rand()). Scale: one groupBy(source) [tiny], a 1-row global "
    "broadcast, the rate dim broadcast back onto the corpus scan, one "
    "final groupBy(source) — the corpus is scanned twice and never "
    "shuffled on a wide key",
)
def q106_token_budget_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    from salesanalytics_etl_spark.operators.text import token_count

    (documents,) = _t(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6), 16, 10)
        .cast("long")
        % 10000
    )
    d = documents.select(
        "doc_id",
        "source",
        token_count(F.col("text")).alias("tok"),
        bucket.alias("bucket"),
    )
    per_source = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("tok").alias("n_tokens")
    )
    glob = per_source.agg(
        F.sum("n_tokens").alias("total_tokens"),
        F.count(F.lit(1)).alias("n_sources"),
    )
    rates = per_source.join(F.broadcast(glob)).select(
        "source",
        "n_docs",
        "n_tokens",
        F.when(F.col("n_tokens") == 0, F.lit(0))
        .otherwise(
            F.least(
                F.lit(10000).cast("long"),
                F.expr(
                    "((total_tokens div 2) * 10000)"
                    " div (n_sources * n_tokens)"
                ),
            )
        )
        .alias("sample_bp"),
    )
    return (
        d.join(F.broadcast(rates), "source")
        .groupBy("source", "n_docs", "n_tokens", "sample_bp")
        .agg(
            F.count(F.when(F.col("bucket") < F.col("sample_bp"), 1)).alias(
                "n_docs_sampled"
            ),
            F.coalesce(
                F.sum(
                    F.when(F.col("bucket") < F.col("sample_bp"), F.col("tok"))
                ),
                F.lit(0),
            ).alias("n_tokens_sampled"),
        )
        .select(
            "source",
            "n_docs",
            "n_tokens",
            "sample_bp",
            "n_docs_sampled",
            "n_tokens_sampled",
        )
    )


@register(
    "q107_hopping_window",
    oracle="""
    SELECT CAST(to_timestamp(CAST(floor(epoch(ts) / 900) * 900 AS BIGINT))
                AS TIMESTAMP)
             - k.k * INTERVAL 15 MINUTE AS window_start,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
             AS value_sum
    FROM events, UNNEST(range(0, 4)) AS k(k)
    GROUP BY 1, 2
    """,
    doc="hopping 1h/15min window rollup via F.window(ts, window, slide) — "
    "the sliding-window operator (q29 covers aligned tumbles); each event "
    "lands in exactly 4 epoch-aligned windows, which the oracle replays "
    "as floor-to-15min minus k*15min for k=0..3. Decimal-accumulated "
    "value sums; the same expression runs under Structured Streaming "
    "with a watermark (streaming/events.py)",
)
def q107_hopping_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from salesanalytics_etl_spark.streaming.events import hopping_event_rollup

    (events,) = _t(spark, sf_dir, "events")
    return hopping_event_rollup(events)


@register(
    "q108_identifier_linkage",
    oracle="""
    WITH c AS (SELECT DISTINCT c_name FROM customer)
    SELECT a.c_name AS name_a, b.c_name AS name_b
    FROM c a JOIN c b ON a.c_name < b.c_name
      AND abs(length(a.c_name) - length(b.c_name)) <= 1
      AND levenshtein(a.c_name, b.c_name) <= 1
    """,
    doc="record linkage: every DISTINCT customer-name pair within ONE "
    "edit (identifier-typo candidates), recall 1.0 via the deletion-"
    "neighborhood equi-join (SymSpell blocking — operators/linkage.py; "
    "prefix blocking collapses here: every name shares 'Customer#'). "
    "Spark joins 64-bit variant hashes and verifies with the built-in "
    "levenshtein; the DuckDB twin brute-forces all pairs, so a hash "
    "match certifies candidate completeness",
)
def q108_identifier_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from salesanalytics_etl_spark.operators.linkage import edit_distance_join

    (customer,) = _t(spark, sf_dir, "customer")
    return edit_distance_join(customer, "c_name", max_dist=1)


@register(
    "q109_minhash_lsh_replay",
    # The q28 trick applied to MinHash: with a portable deterministic hash
    # family (md5-prefix shingle hashes, xor-mask min-wise permutations
    # whose constants both engines derive from md5('perm-'||i)), DuckDB
    # replays the ENTIRE approximate pipeline — signatures, 6x5 banding,
    # the <=64 bucket cap, exact Jaccard verification — so the driver
    # hash-checks the approximate output itself. q25 stays the production
    # (xxhash64) path; this row certifies the LSH banding/cap/verify LOGIC
    # end to end against an independent engine.
    oracle=r"""
    WITH docs AS (
      SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
      FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id,
             CAST(('0x' || substr(md5(substr(t, CAST(i AS INTEGER), 5)),
                                  1, 15)) AS BIGINT) AS h
      FROM docs, UNNEST(range(1, GREATEST(len(t) - 4, 1) + 1)) AS u(i)
    ),
    perms AS (
      SELECT i, CAST(('0x' || substr(md5('perm-' || i), 1, 15)) AS BIGINT) AS a
      FROM (SELECT unnest(range(0, 32)) AS i)
    ),
    sigvals AS (
      SELECT s.doc_id, p.i, MIN(xor(s.h, p.a)) AS mh
      FROM sh s CROSS JOIN perms p
      GROUP BY s.doc_id, p.i
    ),
    banded AS (
      SELECT doc_id, i // 5 AS band_id,
             md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i)) AS band_key
      FROM sigvals WHERE i < 30
      GROUP BY doc_id, i // 5
    ),
    bsize AS (SELECT band_id, band_key, COUNT(*) AS m FROM banded GROUP BY 1, 2),
    member AS (
      SELECT b.doc_id, b.band_id, b.band_key
      FROM banded b JOIN bsize s USING (band_id, band_key)
      WHERE s.m BETWEEN 2 AND 64
    ),
    cand AS (
      SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      FROM member x JOIN member y USING (band_id, band_key)
      WHERE x.doc_id < y.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
    ovl AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS ov
      FROM cand c JOIN sh a ON a.doc_id = c.doc_a
                  JOIN sh b ON b.doc_id = c.doc_b AND b.h = a.h
      GROUP BY 1, 2
    )
    SELECT c.doc_a, c.doc_b,
           FLOOR(CAST(COALESCE(o.ov, 0) AS DOUBLE)
                 / (sa.sz + sb.sz - COALESCE(o.ov, 0))
                 * 10000.0 + 0.5) / 10000.0 AS jaccard
    FROM cand c
    LEFT JOIN ovl o USING (doc_a, doc_b)
    JOIN sizes sa ON sa.doc_id = c.doc_a
    JOIN sizes sb ON sb.doc_id = c.doc_b
    WHERE COALESCE(o.ov, 0) * 10000
          >= 5000 * (sa.sz + sb.sz - COALESCE(o.ov, 0))
    """,
    doc="MinHash+LSH near-dup pairs (J >= 0.5, 6x5 banding, bucket cap 64) "
    "in engine-portable form: DuckDB regenerates the identical md5-derived "
    "hash family and replays signatures -> banding -> cap -> exact verify, "
    "hash-checking the approximate pipeline itself (q28 pattern; q25 "
    "remains the production xxhash64 path)",
)
def q109_minhash_lsh_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from salesanalytics_etl_spark.operators.dedup import (
        minhash_near_dupes_portable,
    )

    (documents,) = _t(spark, sf_dir, "documents")
    return minhash_near_dupes_portable(documents)


@register(
    "q110_hll_distinct_replay",
    # Classic HLL with md5-derived hashing (operators/sketches.py) — the
    # q28/q109 determinism trick applied to cardinality estimation: DuckDB
    # rebuilds the identical 512 registers and the identical two-regime
    # estimate, so the driver hash-checks the SKETCH itself, not just its
    # error bound. q64 stays the production HLL++ (rows-only by nature).
    oracle=r"""
    WITH hb AS (
      SELECT event_type,
             CAST(('0x' || substr(md5(concat_ws('-', 'hll',
                                    CAST(user_id AS VARCHAR))), 1, 15))
                  AS BIGINT) AS h
      FROM events
    ),
    regs AS (
      SELECT event_type, h >> 51 AS bucket,
             MAX(CASE WHEN (h & ((1::BIGINT << 51) - 1)) = 0 THEN 52
                      ELSE 52 - length(bin(h & ((1::BIGINT << 51) - 1))) END)
               AS mx
      FROM hb GROUP BY 1, 2
    ),
    sk AS (
      SELECT event_type, SUM(1::BIGINT << (52 - mx)) AS s1,
             COUNT(*) AS present
      FROM regs GROUP BY 1
    ),
    est AS (
      SELECT event_type,
             (0.7213 / (1.0 + 1.079 / 512.0)) * 512.0 * 512.0
               * 4503599627370496.0
               / CAST(s1 + (512 - present) * (1::BIGINT << 52) AS DOUBLE)
               AS raw,
             512 - present AS z
      FROM sk
    )
    SELECT e.event_type,
           CAST(FLOOR(CASE WHEN raw <= 1280.0 AND z > 0
                           THEN 512.0 * ln(512.0 / CAST(z AS DOUBLE))
                           ELSE raw END) AS BIGINT) AS approx_users,
           x.exact_users
    FROM est e
    JOIN (SELECT event_type, COUNT(DISTINCT user_id) AS exact_users
          FROM events GROUP BY 1) x USING (event_type)
    """,
    doc="per-event-type approximate COUNT(DISTINCT user_id) via the "
    "engine-portable classic HLL (m=512, md5 hashing, exact-integer "
    "register accumulator) joined against the exact count — DuckDB "
    "replays the whole sketch, so approx AND its error are hash-checked; "
    "register exchange is <= keys x 512 rows at any data size",
)
def q110_hll_distinct_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from salesanalytics_etl_spark.operators.sketches import hll_distinct

    (events,) = _t(spark, sf_dir, "events")
    approx = hll_distinct(
        events, ["event_type"], "user_id", out_col="approx_users"
    )
    exact = events.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_users")
    )
    return approx.join(exact, "event_type")


@register(
    "q111_hdr_percentile_replay",
    # HDR-histogram quantile sketch (operators/sketches.py) — the sketch
    # keeps each order-total's top 6 significant BITS (exponent+mantissa,
    # via length(bin(cents)) — integer-exact, no logarithms), so both
    # engines build identical bucket counts and identical nearest-rank
    # picks. q82 stays the production GK sketch (rows-only by nature);
    # this row hash-certifies the approximate-quantile ALGORITHM class.
    oracle=r"""
    WITH per_order AS (
      SELECT o.o_orderkey, c.c_mktsegment,
             CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) * 100
                  AS BIGINT) AS cents
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
    ),
    b AS (
      SELECT c_mktsegment,
             (cents >> GREATEST(length(bin(cents)) - 6, 0))
               << GREATEST(length(bin(cents)) - 6, 0) AS lower
      FROM per_order
    ),
    counts AS (
      SELECT c_mktsegment, lower, COUNT(*) AS cnt FROM b GROUP BY 1, 2
    ),
    cum AS (
      SELECT c_mktsegment, lower, cnt,
             SUM(cnt) OVER (PARTITION BY c_mktsegment ORDER BY lower) AS cum,
             SUM(cnt) OVER (PARTITION BY c_mktsegment) AS n
      FROM counts
    )
    SELECT c_mktsegment, CAST(MAX(n) AS BIGINT) AS n_rows,
           MIN(CASE WHEN cum >= (n * 50 + 99) // 100 THEN lower END) / 100.0
             AS p50_approx,
           MIN(CASE WHEN cum >= (n * 95 + 99) // 100 THEN lower END) / 100.0
             AS p95_approx,
           MIN(CASE WHEN cum >= (n * 99 + 99) // 100 THEN lower END) / 100.0
             AS p99_approx
    FROM cum GROUP BY 1
    """,
    doc="approximate p50/p95/p99 of per-order totals per market segment "
    "via an engine-portable HDR-histogram sketch: exponent+mantissa "
    "bucketing on integer cents (<= ~3.1%% value error), exact-integer "
    "counts and nearest-rank picks, mergeable by bucket-count sum; the "
    "exchange carries <= segments x ~1.9k bucket rows at any data size. "
    "DuckDB rebuilds the identical sketch, so the APPROXIMATE quantiles "
    "are hash-checked (q68 = exact twin, q82 = production GK path)",
)
def q111_hdr_percentile_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from salesanalytics_etl_spark.functions.scalar import dec182
    from salesanalytics_etl_spark.operators.sketches import hdr_percentiles

    customer, orders, lineitem = _t(
        spark, sf_dir, "customer", "orders", "lineitem"
    )
    per_order = (
        lineitem.select("l_orderkey", "l_extendedprice")
        .join(
            orders.select("o_orderkey", "o_custkey"),
            lineitem.l_orderkey == orders.o_orderkey,
        )
        .join(
            F.broadcast(customer.select("c_custkey", "c_mktsegment")),
            orders.o_custkey == customer.c_custkey,
        )
        .groupBy("o_orderkey", "c_mktsegment")
        .agg(
            (F.sum(dec182("l_extendedprice")) * 100)
            .cast("long")
            .alias("cents")
        )
    )
    return hdr_percentiles(
        per_order, ["c_mktsegment"], "cents", percents=[50, 95, 99]
    )


@register(
    "q112_ivf_replay",
    # IVF with a deterministic data-sampled quantizer (operators/ivf.py:
    # cosine_topk_ivf_portable) — assignment, probe-4, and rescore are the
    # real IVF mechanics, and with md5-sampled anchors instead of trained
    # KMeans centroids every stage replays in SQL, so the APPROXIMATE
    # answer is hash-checked (q34 keeps the trained quantizer, rows-only).
    oracle="""
    WITH vecs AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
    ),
    anchors AS (
      SELECT vec_id AS anchor_id, emb AS a_vec
      FROM vecs
      ORDER BY CAST(('0x' || substr(md5(concat_ws('-', 'anchor',
                     CAST(vec_id AS VARCHAR))), 1, 15)) AS BIGINT), vec_id
      LIMIT 16
    ),
    cells AS (
      SELECT v.vec_id AS cid, a.anchor_id AS cell
      FROM vecs v CROSS JOIN anchors a
      QUALIFY ROW_NUMBER() OVER (PARTITION BY v.vec_id
        ORDER BY ROUND(list_cosine_similarity(v.emb, a.a_vec), 6) DESC,
                 a.anchor_id) = 1
    ),
    probes AS (
      SELECT v.vec_id AS query_id, a.anchor_id AS cell
      FROM vecs v CROSS JOIN anchors a
      WHERE v.vec_id < 10
      QUALIFY ROW_NUMBER() OVER (PARTITION BY v.vec_id
        ORDER BY ROUND(list_cosine_similarity(v.emb, a.a_vec), 6) DESC,
                 a.anchor_id) <= 4
    ),
    cand AS (
      SELECT DISTINCT p.query_id, c.cid AS neighbor_id
      FROM probes p JOIN cells c USING (cell)
      WHERE c.cid != p.query_id
    )
    SELECT cand.query_id, cand.neighbor_id,
           ROUND(list_cosine_similarity(q.emb, n.emb), 6) AS cosine_sim
    FROM cand
    JOIN vecs q ON q.vec_id = cand.query_id
    JOIN vecs n ON n.vec_id = cand.neighbor_id
    QUALIFY ROW_NUMBER() OVER (PARTITION BY cand.query_id
      ORDER BY ROUND(list_cosine_similarity(q.emb, n.emb), 6) DESC,
               cand.neighbor_id) <= 5
    """,
    doc="approximate top-5 via IVF probe-4 over 16 deterministic "
    "md5-sampled anchor cells: anchors broadcast (bounded), assignment is "
    "n_cells sims per row on the scan (no shuffle), candidates via cell "
    "equi-join, exact rescore inside probed cells only (candidate "
    "fraction ~ n_probe/n_cells). DuckDB replays quantizer/assign/probe/"
    "rescore, hash-checking the approximate answer; q34 keeps the "
    "trained-KMeans quantizer (rows-only, recall-probed in unit tests)",
)
def q112_ivf_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from salesanalytics_etl_spark.operators.ivf import cosine_topk_ivf_portable

    (embeddings,) = _t(spark, sf_dir, "embeddings")
    queries = embeddings.filter(F.col("vec_id") < 10)
    return cosine_topk_ivf_portable(embeddings, queries, k=5)


@register(
    "q113_cell_stats_replay",
    # Cluster-statistics report over the deterministic quantizer cells
    # (q112's assignment stage) — the portable twin of q89's KMeans
    # cluster stats: trained centroids aren't engine-portable, but the
    # cell-stats MECHANISM (assign -> per-cell count / similarity
    # dispersion) is, and the mean is exact-integer-accumulated
    # (micro-units) so it is partitioning-insensitive and hash-stable.
    oracle="""
    WITH vecs AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
    ),
    anchors AS (
      SELECT vec_id AS anchor_id, emb AS a_vec
      FROM vecs
      ORDER BY CAST(('0x' || substr(md5(concat_ws('-', 'anchor',
                     CAST(vec_id AS VARCHAR))), 1, 15)) AS BIGINT), vec_id
      LIMIT 16
    ),
    cells AS (
      SELECT v.vec_id AS cid, a.anchor_id AS cell,
             ROUND(list_cosine_similarity(v.emb, a.a_vec), 6) AS cell_sim
      FROM vecs v CROSS JOIN anchors a
      QUALIFY ROW_NUMBER() OVER (PARTITION BY v.vec_id
        ORDER BY ROUND(list_cosine_similarity(v.emb, a.a_vec), 6) DESC,
                 a.anchor_id) = 1
    )
    SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(SUM(CAST(FLOOR(cell_sim * 1000000 + 0.5) AS BIGINT))
                AS DOUBLE) / COUNT(*) / 1000000.0 AS mean_sim,
           MIN(cell_sim) AS min_sim,
           MAX(cell_sim) AS max_sim
    FROM cells GROUP BY cell
    """,
    doc="per-cell membership stats over the deterministic anchor "
    "quantizer (q112's assignment): count, mean member-to-anchor cosine "
    "(exact micro-unit integer accumulation - order-insensitive), min/"
    "max. The portable twin of the KMeans cluster-stats report (q89): "
    "one bounded anchor broadcast, assignment on the scan, a 16-group "
    "aggregate - no shuffle wider than the cell ids at any data size",
)
def q113_cell_stats_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from salesanalytics_etl_spark.operators.ivf import (
        portable_cell_assignment,
    )

    (embeddings,) = _t(spark, sf_dir, "embeddings")
    cells = portable_cell_assignment(embeddings)
    micro = F.floor(F.col("cell_sim") * 1000000 + F.lit(0.5)).cast("long")
    return cells.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n_members"),
        (
            F.sum(micro).cast("double")
            / F.count(F.lit(1))
            / F.lit(1000000.0)
        ).alias("mean_sim"),
        F.min("cell_sim").alias("min_sim"),
        F.max("cell_sim").alias("max_sim"),
    )


@register(
    "q114_bloom_membership_audit",
    # Engine-portable Bloom filter (operators/sketches.py) — md5-derived
    # bit positions, integer mod, exact counts — audited in-band against
    # exact membership. The 100 TB use is join pre-filtering: broadcast
    # the <=2^14-row bit table instead of shuffling the probe stream
    # against the member set. false_negatives is structurally 0 (the
    # Bloom contract) and the oracle hash-checks that along with the
    # measured FPR.
    oracle="""
    WITH members AS (SELECT DISTINCT o_custkey AS mk FROM orders),
    probes AS (
      SELECT DISTINCT pk FROM (
        SELECT c_custkey AS pk FROM customer
        UNION ALL
        SELECT c_custkey + 100000000 FROM customer  -- guaranteed absent
      )
    ),
    hashes AS (SELECT unnest(range(0, 7)) AS i),
    mpos AS (
      SELECT DISTINCT
        CAST(('0x' || substr(md5(concat_ws('-', 'bloom',
               CAST(i AS VARCHAR), CAST(mk AS VARCHAR))), 1, 15))
             AS BIGINT) % 16384 AS pos
      FROM members, hashes
    ),
    ppos AS (
      SELECT pk,
        CAST(('0x' || substr(md5(concat_ws('-', 'bloom',
               CAST(i AS VARCHAR), CAST(pk AS VARCHAR))), 1, 15))
             AS BIGINT) % 16384 AS pos
      FROM probes, hashes
    ),
    hits AS (
      SELECT pk FROM ppos JOIN mpos USING (pos)
      GROUP BY pk HAVING COUNT(*) = 7
    ),
    audit AS (
      SELECT p.pk,
             CASE WHEN h.pk IS NOT NULL THEN 1 ELSE 0 END AS pos_f,
             CASE WHEN m.mk IS NOT NULL THEN 1 ELSE 0 END AS mem_f
      FROM probes p
      LEFT JOIN hits h ON h.pk = p.pk
      LEFT JOIN members m ON m.mk = p.pk
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_probed,
           CAST(SUM(mem_f) AS BIGINT) AS n_members,
           CAST(SUM(pos_f) AS BIGINT) AS bloom_positives,
           CAST(SUM(CASE WHEN pos_f = 1 AND mem_f = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS false_positives,
           CAST(SUM(CASE WHEN mem_f = 1 AND pos_f = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS false_negatives,
           CAST(SUM(CASE WHEN pos_f = 1 AND mem_f = 0 THEN 1 ELSE 0 END)
                * 10000 // GREATEST(SUM(CASE WHEN mem_f = 0 THEN 1
                                             ELSE 0 END), 1)
                AS BIGINT) AS fpr_bp
    FROM audit
    """,
    doc="Bloom-filter membership pre-filter audited against exact truth: "
    "build the filter over customers-with-orders (distinct o_custkey), "
    "probe every customer, report probed/members/positives/FP/FN and the "
    "FPR in integer basis points. false_negatives must be 0 (the Bloom "
    "no-drop contract, certified in-band). Portable md5 bit positions "
    "mean DuckDB rebuilds the identical filter; at scale the <=2^14-row "
    "bit table broadcasts while the probe stream never shuffles against "
    "the member set",
)
def q114_bloom_membership_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from salesanalytics_etl_spark.operators.sketches import (
        bloom_membership_audit,
    )

    customer, orders = _t(spark, sf_dir, "customer", "orders")
    # every customer has orders in this data, so half the probe set is
    # synthetic guaranteed-absent keys — without them the audit would
    # never exercise the false-positive path it exists to measure
    probes = customer.select(F.col("c_custkey")).unionByName(
        customer.select((F.col("c_custkey") + 100000000).alias("c_custkey"))
    )
    return bloom_membership_audit(orders, probes, "o_custkey", "c_custkey")


@register(
    "q115_compressibility_replay",
    # Engine-portable twin of q85 (zlib deflate compressibility, the one
    # remaining twin-less no_oracle row): deflate = LZ77 + Huffman, and
    # both halves are replayed with exact integer arithmetic — the
    # Huffman half as a per-char code-length bound length(bin(N div n))
    # (within 1 bit of -log2(n/N), no logarithms → no libm ulp hazard),
    # the LZ77 half as the duplicate-8-gram fraction. All basis-point
    # integers, so DuckDB rebuilds the estimate bit-for-bit.
    oracle=r"""
    WITH n AS (
      SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g'))
               AS norm
      FROM documents
    ), b AS (
      SELECT doc_id, norm, CAST(length(norm) AS BIGINT) AS n_chars
      FROM n WHERE norm IS NOT NULL AND length(norm) > 0
    ), chars AS (
      SELECT b.doc_id, c.ch, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM b, UNNEST(string_split(b.norm, '')) AS c(ch)
      GROUP BY 1, 2
    ), ent AS (
      SELECT c.doc_id,
             CAST(SUM(c.cnt * length(bin(b.n_chars // c.cnt))) AS BIGINT)
               AS est_bits
      FROM chars c JOIN b ON c.doc_id = b.doc_id
      GROUP BY 1
    ), g AS (
      SELECT b.doc_id,
             CAST(GREATEST(b.n_chars - 7, 0) AS BIGINT) AS g8,
             CAST(COUNT(DISTINCT substr(b.norm, CAST(i.i AS INT), 8))
                  AS BIGINT) AS d8
      FROM b, UNNEST(generate_series(1, GREATEST(b.n_chars - 7, 0)))
               AS i(i)
      GROUP BY 1, 2
    )
    SELECT b.doc_id, b.n_chars, e.est_bits,
           CAST(e.est_bits * 10000 // (8 * b.n_chars) AS BIGINT)
             AS entropy_bp,
           CAST(CASE WHEN g.g8 > 0 THEN (g.g8 - g.d8) * 10000 // g.g8
                     ELSE 0 END AS BIGINT) AS dup8_bp
    FROM b
    JOIN ent e ON b.doc_id = e.doc_id
    LEFT JOIN g ON b.doc_id = g.doc_id
    """,
    doc="engine-portable compressibility estimate per document: a "
    "Huffman-bound entropy half (integer bit-length pricing, no "
    "logarithms) and an LZ77 half (duplicate overlapping-8-gram "
    "fraction), both in exact basis points — the algorithm-class twin "
    "of q85's zlib signal, computed entirely map-side with array "
    "higher-order functions (zero shuffle, zero Python); with this the "
    "LAST no_oracle family (compressibility) gains a hash-checked "
    "driver row (operators/text.py:portable_compressibility)",
)
def q115_compressibility_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from salesanalytics_etl_spark.operators.text import (
        portable_compressibility,
    )

    (documents,) = _t(spark, sf_dir, "documents")
    return portable_compressibility(documents)


@register(
    "q116_lsh_bucket_audit",
    # "No silent caps": the MinHash bucket cap (q25/q109) DROPS degenerate
    # buckets by design — this query makes that drop a first-class,
    # driver-verified number instead of an invisible recall effect. Same
    # portable banding as q109 (shared _portable_banded helper), so DuckDB
    # rebuilds the identical buckets and the audit hash-checks exactly.
    oracle=r"""
    WITH docs AS (
      SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
      FROM documents
    ),
    sh AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(substr(t, CAST(i AS INTEGER), 5)),
                                  1, 15)) AS BIGINT) AS h
      FROM docs, UNNEST(range(1, GREATEST(len(t) - 4, 1) + 1)) AS u(i)
    ),
    perms AS (
      SELECT i, CAST(('0x' || substr(md5('perm-' || i), 1, 15)) AS BIGINT) AS a
      FROM (SELECT unnest(range(0, 32)) AS i)
    ),
    sigvals AS (
      SELECT s.doc_id, p.i, MIN(xor(s.h, p.a)) AS mh
      FROM sh s CROSS JOIN perms p
      GROUP BY s.doc_id, p.i
    ),
    banded AS (
      SELECT doc_id, i // 5 AS band_id,
             md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i)) AS band_key
      FROM sigvals WHERE i < 30
      GROUP BY doc_id, i // 5
    ),
    bsize AS (SELECT band_id, band_key, COUNT(*) AS m FROM banded GROUP BY 1, 2)
    SELECT CAST(band_id AS BIGINT) AS band_id,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(SUM(CASE WHEN m = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_singletons,
           CAST(SUM(CASE WHEN m BETWEEN 2 AND 64 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_pair_buckets,
           CAST(SUM(CASE WHEN m > 64 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_capped_buckets,
           CAST(SUM(CASE WHEN m BETWEEN 2 AND 64 THEN m * (m - 1) // 2
                         ELSE 0 END) AS BIGINT) AS kept_pairs,
           CAST(SUM(CASE WHEN m > 64 THEN m * (m - 1) // 2 ELSE 0 END)
                AS BIGINT) AS dropped_pairs
    FROM bsize GROUP BY 1
    """,
    doc="per-band audit of the MinHash LSH bucket cap: buckets, "
    "singletons, pair buckets, CAPPED buckets, and the exact candidate "
    "pairs each class represents — the cap's recall cost as a "
    "driver-hash-checked number (no silent caps); one (band, key) "
    "groupBy with map-side partials + a 6-row aggregate, no pair "
    "expansion, so it is safe on corpora whose caps exist for a reason "
    "(operators/dedup.py:lsh_bucket_audit)",
)
def q116_lsh_bucket_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from salesanalytics_etl_spark.operators.dedup import lsh_bucket_audit

    (documents,) = _t(spark, sf_dir, "documents")
    return lsh_bucket_audit(documents)


@register(
    "q117_quality_threshold_calibration",
    # "keep the best X% of tokens" filter tuning: for each token-budget
    # target, the highest quality cut whose kept-token mass reaches it.
    # The corpus collapses to <= 10001 integer score buckets (4-decimal
    # quality -> exact bp via the portable floor-rounding), so the
    # cumulative sweep runs over bounded bucket rows — the q111 shape —
    # and every mass/compare is integer arithmetic.
    oracle=r"""
    WITH m AS (
      SELECT length(text) AS n_chars,
             len(regexp_extract_all(text, '[A-Za-z0-9]+|[぀-ヿ㐀-䶿一-鿿가-힯]')) AS n_tokens,
             len(regexp_extract_all(text, '[A-Za-z]')) AS n_alpha
      FROM documents
    ), scored AS (
      SELECT CAST(floor(
               (FLOOR((0.25 * (CASE WHEN n_chars BETWEEN 64 AND 8192
                                  THEN 1.0 ELSE 0.0 END)
                   + 0.5 * (CASE WHEN n_chars > 0
                                 THEN CAST(n_alpha AS DOUBLE) / n_chars
                                 ELSE 0.0 END)
                   + 0.25 * (CASE WHEN n_tokens > 0
                                  AND CAST(n_alpha AS DOUBLE) / n_tokens
                                      BETWEEN 2 AND 12
                                  THEN 1.0 ELSE 0.0 END)) * 10000.0 + 0.5)
                / 10000.0) * 10000 + 0.5
             ) AS BIGINT) AS score_bp,
             CAST(n_tokens AS BIGINT) AS tok
      FROM m
    ), buckets AS (
      SELECT score_bp, SUM(tok) AS btok, COUNT(*) AS bdocs
      FROM scored GROUP BY 1
    ), cum AS (
      SELECT score_bp,
             SUM(btok) OVER (ORDER BY score_bp DESC
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS cum_tok,
             SUM(bdocs) OVER (ORDER BY score_bp DESC
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW) AS cum_docs,
             SUM(btok) OVER () AS total_tok
      FROM buckets
    )
    SELECT t.target_bp,
           CAST(MAX(score_bp) AS BIGINT) AS cut_score_bp,
           CAST(MIN(cum_docs) AS BIGINT) AS kept_docs,
           CAST(MIN(cum_tok) AS BIGINT) AS kept_tokens,
           CAST(MIN(total_tok) AS BIGINT) AS total_tokens
    FROM cum, (SELECT UNNEST([2500, 5000, 7500]) AS target_bp) t
    WHERE cum_tok * 10000 >= t.target_bp * total_tok
    GROUP BY 1
    """,
    doc="quality-cut calibration per token-budget target (keep the best "
    "25/50/75%% of corpus tokens): highest score cut reaching each "
    "target, with kept doc/token masses — exact integer bucket sweep "
    "over <= 10001 score buckets, never a corpus-grain sort "
    "(operators/curation.py:quality_threshold_calibration)",
)
def q117_quality_threshold_calibration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from salesanalytics_etl_spark.operators.curation import (
        quality_threshold_calibration,
    )

    (documents,) = _t(spark, sf_dir, "documents")
    return quality_threshold_calibration(documents)


@register(
    "q118_fuzzy_decontamination",
    # Ratio-criterion decontamination: q70's verbatim-13-gram containment
    # misses a paraphrase that keeps many SHORT chunks; this flags corpus
    # docs whose distinct 5-gram overlap with the benchmark set reaches
    # 20% (integer basis points). Denominator is computed map-side from
    # each doc's own row; only contamination HITS shuffle at gram grain.
    oracle=r"""
    WITH nm AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(regexp_replace(text, '([぀-ヿ㐀-䶿一-鿿가-힯])', ' \1 ', 'g')), '\s+', ' ', 'g')),
                          ' ') AS toks
      FROM documents
    ), corp AS (
      SELECT doc_id, toks FROM nm WHERE doc_id % 50 != 0 AND len(toks) >= 5
    ), ben AS (
      SELECT doc_id, toks FROM nm WHERE doc_id % 50 = 0 AND len(toks) >= 5
    ), bgrams AS (
      SELECT DISTINCT array_to_string(
               list_slice(b.toks, CAST(i.i AS INT), CAST(i.i AS INT) + 4),
               ' ') AS ngram
      FROM ben b, UNNEST(generate_series(1, len(b.toks) - 4)) AS i(i)
    ), cgrams AS (
      SELECT c.doc_id,
             array_to_string(
               list_slice(c.toks, CAST(i.i AS INT), CAST(i.i AS INT) + 4),
               ' ') AS ngram
      FROM corp c, UNNEST(generate_series(1, len(c.toks) - 4)) AS i(i)
    ), denom AS (
      SELECT doc_id, CAST(COUNT(DISTINCT ngram) AS BIGINT) AS n_doc_ngrams
      FROM cgrams GROUP BY 1
    ), hits AS (
      SELECT g.doc_id, CAST(COUNT(DISTINCT g.ngram) AS BIGINT)
               AS n_hit_ngrams
      FROM cgrams g JOIN bgrams USING (ngram)
      GROUP BY 1
    )
    SELECT d.doc_id, d.n_doc_ngrams, h.n_hit_ngrams,
           CAST(h.n_hit_ngrams * 10000 // d.n_doc_ngrams AS BIGINT)
             AS overlap_bp
    FROM denom d JOIN hits h USING (doc_id)
    WHERE h.n_hit_ngrams * 10000 >= 2000 * d.n_doc_ngrams
    """,
    doc="overlap-fraction decontamination (distinct 5-gram overlap with "
    "the benchmark set >= 20%%, exact integer basis points) — the ratio "
    "criterion catching partially-contaminated docs the verbatim "
    "13-gram check (q70) misses; denominator map-side per doc, only "
    "hits shuffle at gram grain "
    "(operators/curation.py:decontaminate_fuzzy)",
)
def q118_fuzzy_decontamination(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from salesanalytics_etl_spark.operators.curation import (
        decontaminate_fuzzy,
    )

    (documents,) = _t(spark, sf_dir, "documents")
    bench = documents.filter(F.col("doc_id") % 50 == 0)
    corpus = documents.filter(F.col("doc_id") % 50 != 0)
    return decontaminate_fuzzy(corpus, bench)


@register(
    "q119_bigram_surprisal",
    oracle=r"""
    WITH nn AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(regexp_replace(text, '([぀-ヿ㐀-䶿一-鿿가-힯])', ' \1 ', 'g')), '\s+', ' ', 'g')),
                          ' ') AS w
      FROM documents
      WHERE length(trim(regexp_replace(lower(regexp_replace(text, '([぀-ヿ㐀-䶿一-鿿가-힯])', ' \1 ', 'g')), '\s+', ' ', 'g'))) > 0
    ), tr AS (
      SELECT doc_id, w[CAST(i AS INT)] AS prev, w[CAST(i + 1 AS INT)] AS cur
      FROM nn, UNNEST(range(1, len(w))) AS t(i)
    ), bf AS (
      SELECT doc_id, prev, cur, COUNT(*) AS tf FROM tr GROUP BY 1, 2, 3
    ), c2 AS (
      SELECT prev, cur, SUM(tf) AS c2 FROM bf GROUP BY 1, 2
    ), c1 AS (
      SELECT prev, SUM(c2) AS c1 FROM c2 GROUP BY 1
    ), bits AS (
      SELECT prev, cur,
             CAST(ROUND(log2(c1) - log2(c2), 6) AS DECIMAL(18,6)) AS bits
      FROM c2 JOIN c1 USING (prev)
    ), agg AS (
      SELECT doc_id, SUM(tf) AS n_transitions, SUM(tf * bits) AS s
      FROM bf JOIN bits USING (prev, cur) GROUP BY 1
    )
    SELECT doc_id, CAST(n_transitions AS BIGINT) AS n_transitions,
           FLOOR(CAST(s AS DOUBLE) / n_transitions * 10000.0 + 0.5)
             / 10000.0 AS bits_per_transition
    FROM agg
    """,
    doc="per-document bigram cross-entropy (bits/transition) under the "
    "corpus's own bigram LM — the CCNet-style perplexity quality filter "
    "at n=2: flags word salad whose TOKENS are common but whose "
    "TRANSITIONS are improbable, invisible to q104's unigram model. "
    "MLE without smoothing (the corpus is its own training set, every "
    "scored transition is observed); transitions built map-side via one "
    "array transform (no per-doc lag window); per-bigram surprisal "
    "rounded once to 6dp and accumulated as DECIMAL(18,6) so the doc "
    "sum is order-insensitive exact arithmetic on both engines "
    "(operators/text.py:bigram_surprisal)",
)
def q119_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from salesanalytics_etl_spark.operators.text import bigram_surprisal

    (documents,) = _t(spark, sf_dir, "documents")
    return bigram_surprisal(documents)


@register(
    "q120_source_kl_divergence",
    oracle=r"""
    WITH nn AS (
      SELECT source,
             string_split(trim(regexp_replace(lower(regexp_replace(text, '([぀-ヿ㐀-䶿一-鿿가-힯])', ' \1 ', 'g')), '\s+', ' ', 'g')),
                          ' ') AS w
      FROM documents
    ), tok AS (
      SELECT source, t.term FROM nn, UNNEST(w) AS t(term)
      WHERE length(t.term) > 0
    ), sv AS (
      SELECT source, term, COUNT(*) AS ctf_s FROM tok GROUP BY 1, 2
    ), totals AS (
      SELECT source, SUM(ctf_s) AS n_s FROM sv GROUP BY 1
    ), corpus AS (
      SELECT term, SUM(ctf_s) AS ctf FROM sv GROUP BY 1
    ), tot AS (
      SELECT SUM(ctf) AS n FROM corpus
    ), contrib AS (
      SELECT sv.source, sv.ctf_s,
             CAST(ROUND(
               (sv.ctf_s / totals.n_s)
               * (log2(sv.ctf_s) - log2(totals.n_s)
                  - log2(corpus.ctf) + log2(tot.n)),
               6) AS DECIMAL(18,6)) AS kl_term
      FROM sv JOIN corpus USING (term) JOIN totals USING (source)
      CROSS JOIN tot
    )
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_terms,
           CAST(SUM(ctf_s) AS BIGINT) AS n_tokens,
           FLOOR(CAST(SUM(kl_term) AS DOUBLE) * 10000.0 + 0.5) / 10000.0
             AS kl_bits
    FROM contrib GROUP BY source
    """,
    doc="per-source unigram KL divergence to the corpus distribution "
    "(bits) — the data-mixture drift diagnostic: sources whose token "
    "distribution departs from the blend (jargon, language skew, "
    "boilerplate) score high and earn their own mixture weight or "
    "filter policy. MLE, finite by construction (every source term is "
    "a corpus term); per-(source,term) contribution is ONE fixed-shape "
    "double expression rounded to 6dp and summed as DECIMAL(18,6) — "
    "order-insensitive on both engines; corpus vocab re-aggregates the "
    "per-source vocab so the token stream shuffles once "
    "(operators/text.py:source_kl_divergence)",
)
def q120_source_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from salesanalytics_etl_spark.operators.text import source_kl_divergence

    (documents,) = _t(spark, sf_dir, "documents")
    return source_kl_divergence(documents)


@register(
    "q121_ann_recall_audit",
    oracle="""
    WITH RECURSIVE lcg(t, step, x) AS (
      SELECT t.t, 0, CAST(88172645463325252 + 7919 * t.t AS HUGEINT)
      FROM (SELECT unnest(range(0, 8)) AS t) t
      UNION ALL
      SELECT t, step + 1,
             (x * 2685821657736338717::HUGEINT + 3037000499)
               % 9223372036854775808::HUGEINT
      FROM lcg WHERE step < 256
    ),
    plane_vals AS (
      SELECT t, (step - 1) // 64 AS p, (step - 1) % 64 AS d,
             CAST(x AS DOUBLE) / 9223372036854775808.0 * 2.0 - 1.0 AS v
      FROM lcg WHERE step >= 1
    ),
    planes AS (
      SELECT t, p, list(v ORDER BY d) AS plane FROM plane_vals GROUP BY t, p
    ),
    vecs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    projs AS (
      SELECT v.vec_id, pl.t, pl.p, list_dot_product(v.emb, pl.plane) AS proj
      FROM vecs v CROSS JOIN planes pl
    ),
    buckets AS (
      SELECT vec_id, t,
             t * 16 + SUM(CASE WHEN proj > 0 THEN (1::BIGINT << p)
                               ELSE 0::BIGINT END) AS bucket
      FROM projs GROUP BY vec_id, t
    ),
    qb AS (SELECT vec_id AS query_id, bucket FROM buckets WHERE vec_id < 10),
    cb AS (SELECT vec_id AS neighbor_id, bucket FROM buckets),
    cand AS (
      SELECT DISTINCT q.query_id, c.neighbor_id
      FROM qb q JOIN cb c USING (bucket)
      WHERE c.neighbor_id != q.query_id
    ),
    lsh AS (
      SELECT cand.query_id, cand.neighbor_id,
             ROUND(list_cosine_similarity(qv.emb, cv.emb), 6) AS cosine_sim
      FROM cand
      JOIN vecs qv ON qv.vec_id = cand.query_id
      JOIN vecs cv ON cv.vec_id = cand.neighbor_id
      QUALIFY ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id) <= 5
    ),
    exact AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id
      FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id
      WHERE q.vec_id < 10
      QUALIFY ROW_NUMBER() OVER (
        PARTITION BY q.vec_id
        ORDER BY ROUND(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                              CAST(c.embedding AS DOUBLE[])),
                       6) DESC,
                 c.vec_id) <= 5
    ),
    hits AS (
      SELECT e.query_id,
             CASE WHEN l.neighbor_id IS NOT NULL THEN 1 ELSE 0 END AS hit
      FROM exact e
      LEFT JOIN lsh l
        ON l.query_id = e.query_id AND l.neighbor_id = e.neighbor_id
    )
    SELECT query_id,
           CAST(COUNT(*) AS BIGINT) AS n_exact,
           CAST(SUM(hit) AS BIGINT) AS n_hits,
           CAST(SUM(hit) * 10000 // COUNT(*) AS BIGINT) AS recall_bp
    FROM hits GROUP BY query_id
    """,
    doc="recall@5 of the LSH ANN path (q28) against the exact brute-force "
    "top-5 (q27), per query, in exact integer basis points — 'no silent "
    "quality loss' made first-class: the approximation's RECALL is itself "
    "a driver-hash-checked quantity, not a claim in a docstring. Both "
    "pipelines are the deterministic engine-portable ones the oracles "
    "already replay (LCG hyperplanes, rounded-cosine total order); the "
    "audit adds one broadcast join of two 50-row results",
)
def q121_ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from salesanalytics_etl_spark.operators.similarity import (
        cosine_topk_bruteforce,
        cosine_topk_lsh,
    )

    (embeddings,) = _t(spark, sf_dir, "embeddings")
    queries = embeddings.filter(F.col("vec_id") < 10)
    exact = cosine_topk_bruteforce(embeddings, queries, k=5).select(
        "query_id", "neighbor_id"
    )
    approx = (
        cosine_topk_lsh(embeddings, queries, k=5)
        .select("query_id", "neighbor_id")
        .withColumn("_hit", F.lit(1))
    )
    return (
        exact.join(F.broadcast(approx), ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_hits"),
        )
        .select(
            "query_id",
            "n_exact",
            "n_hits",
            F.expr("n_hits * 10000 div n_exact").alias("recall_bp"),
        )
    )


@register(
    "q122_ivf_recall_audit",
    oracle="""
    WITH vecs AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
    ),
    anchors AS (
      SELECT vec_id AS anchor_id, emb AS a_vec
      FROM vecs
      ORDER BY CAST(('0x' || substr(md5(concat_ws('-', 'anchor',
                     CAST(vec_id AS VARCHAR))), 1, 15)) AS BIGINT), vec_id
      LIMIT 16
    ),
    cells AS (
      SELECT v.vec_id AS cid, a.anchor_id AS cell
      FROM vecs v CROSS JOIN anchors a
      QUALIFY ROW_NUMBER() OVER (PARTITION BY v.vec_id
        ORDER BY ROUND(list_cosine_similarity(v.emb, a.a_vec), 6) DESC,
                 a.anchor_id) = 1
    ),
    probes AS (
      SELECT v.vec_id AS query_id, a.anchor_id AS cell
      FROM vecs v CROSS JOIN anchors a
      WHERE v.vec_id < 10
      QUALIFY ROW_NUMBER() OVER (PARTITION BY v.vec_id
        ORDER BY ROUND(list_cosine_similarity(v.emb, a.a_vec), 6) DESC,
                 a.anchor_id) <= 4
    ),
    cand AS (
      SELECT DISTINCT p.query_id, c.cid AS neighbor_id
      FROM probes p JOIN cells c USING (cell)
      WHERE c.cid != p.query_id
    ),
    ivf AS (
      SELECT cand.query_id, cand.neighbor_id
      FROM cand
      JOIN vecs q ON q.vec_id = cand.query_id
      JOIN vecs n ON n.vec_id = cand.neighbor_id
      QUALIFY ROW_NUMBER() OVER (PARTITION BY cand.query_id
        ORDER BY ROUND(list_cosine_similarity(q.emb, n.emb), 6) DESC,
                 cand.neighbor_id) <= 5
    ),
    exact AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id
      FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id
      WHERE q.vec_id < 10
      QUALIFY ROW_NUMBER() OVER (
        PARTITION BY q.vec_id
        ORDER BY ROUND(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                              CAST(c.embedding AS DOUBLE[])),
                       6) DESC,
                 c.vec_id) <= 5
    ),
    hits AS (
      SELECT e.query_id,
             CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END AS hit
      FROM exact e
      LEFT JOIN ivf i
        ON i.query_id = e.query_id AND i.neighbor_id = e.neighbor_id
    )
    SELECT query_id,
           CAST(COUNT(*) AS BIGINT) AS n_exact,
           CAST(SUM(hit) AS BIGINT) AS n_hits,
           CAST(SUM(hit) * 10000 // COUNT(*) AS BIGINT) AS recall_bp
    FROM hits GROUP BY query_id
    """,
    doc="recall@5 of the portable IVF path (q112: md5-sampled anchors, "
    "probe-4-of-16) against the exact brute-force top-5 (q27), per "
    "query, in exact integer basis points — completes the recall-audit "
    "family (q121 covers LSH): every approximate ANN path on the "
    "surface now has its recall hash-checked by the driver",
)
def q122_ivf_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from salesanalytics_etl_spark.operators.ivf import cosine_topk_ivf_portable
    from salesanalytics_etl_spark.operators.similarity import (
        cosine_topk_bruteforce,
    )

    (embeddings,) = _t(spark, sf_dir, "embeddings")
    queries = embeddings.filter(F.col("vec_id") < 10)
    exact = cosine_topk_bruteforce(embeddings, queries, k=5).select(
        "query_id", "neighbor_id"
    )
    approx = (
        cosine_topk_ivf_portable(embeddings, queries, k=5)
        .select("query_id", "neighbor_id")
        .withColumn("_hit", F.lit(1))
    )
    return (
        exact.join(F.broadcast(approx), ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_hits"),
        )
        .select(
            "query_id",
            "n_exact",
            "n_hits",
            F.expr("n_hits * 10000 div n_exact").alias("recall_bp"),
        )
    )


@register(
    "q123_typo_linkage_degree",
    oracle="""
    WITH names AS (
      SELECT DISTINCT c_name AS name FROM customer WHERE c_custkey < 1000
    ),
    pairs AS (
      SELECT a.name AS name_a, b.name AS name_b,
             levenshtein(a.name, b.name) AS dist
      FROM names a JOIN names b ON a.name < b.name
      WHERE levenshtein(a.name, b.name) <= 2
    ),
    sym AS (
      SELECT name_a AS name, dist FROM pairs
      UNION ALL
      SELECT name_b AS name, dist FROM pairs
    )
    SELECT name,
           CAST(SUM(CASE WHEN dist = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dist1,
           CAST(SUM(CASE WHEN dist = 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dist2
    FROM sym GROUP BY name
    """,
    doc="per-identifier typo-linkage degree at edit distance <= 2 "
    "(SymSpell deletion neighborhood, depth 2 — closes the former "
    "max_dist=1 stub): for each customer name, how many other names sit "
    "one and two edits away. Candidates via the depth-2 "
    "deletion-variant equi-join (recall 1.0, no cross product — the "
    "DuckDB twin IS the all-pairs brute force, so the hash check "
    "certifies recall); per-name degrees keep the output |names|-sized "
    "where the raw pair list is ~140k rows at sf0.01. Bounded "
    "c_custkey<1000 because dense numeric identifier spaces make "
    "depth-2 deletion candidates quasi-quadratic (digit shifts create "
    "coincidental variant matches) — the bound keeps the audit "
    "meaningful (999 names, ~285 avg degree) at a bounded cost",
)
def q123_typo_linkage_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    from salesanalytics_etl_spark.operators.linkage import edit_distance_join

    (customer,) = _t(spark, sf_dir, "customer")
    bounded = customer.filter(F.col("c_custkey") < 1000)
    pairs = edit_distance_join(bounded, "c_name", max_dist=2).withColumn(
        "dist", F.levenshtein("name_a", "name_b")
    )
    sym = pairs.select(F.col("name_a").alias("name"), "dist").unionByName(
        pairs.select(F.col("name_b").alias("name"), "dist")
    )
    return sym.groupBy("name").agg(
        F.sum(F.when(F.col("dist") == 1, 1).otherwise(0)).alias("n_dist1"),
        F.sum(F.when(F.col("dist") == 2, 1).otherwise(0)).alias("n_dist2"),
    )


@register(
    "q124_join_key_skew",
    oracle="""
    WITH counts AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY user_id
    ),
    tot AS (
      SELECT CAST(SUM(n_events) AS BIGINT) AS n_total,
             CAST(COUNT(*) AS BIGINT) AS n_keys
      FROM counts
    )
    SELECT c.user_id, c.n_events,
           CAST(c.n_events * 10000 // t.n_total AS BIGINT) AS share_bp,
           t.n_total, t.n_keys
    FROM counts c CROSS JOIN tot t
    ORDER BY c.n_events DESC, c.user_id LIMIT 10
    """,
    doc="join-key skew audit for events.user_id — the top-10 hot keys "
    "with their exact share of the stream in integer basis points, plus "
    "key-space totals. The 'measure, don't guess' counterpart to the "
    "salting operators (q59): this is the number that DECIDES whether a "
    "key needs salting before a groupBy/join ships it to one reducer. "
    "Scale: per-key counts combine map-side; the top-10 ranks AGGREGATE "
    "rows (bounded by |keys|) via TakeOrderedAndProject, and the totals "
    "are a 1-row broadcast — no collect, no row-grain window",
)
def q124_join_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = _t(spark, sf_dir, "events")
    counts = events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    tot = counts.agg(
        F.sum("n_events").alias("n_total"),
        F.count(F.lit(1)).alias("n_keys"),
    )
    return (
        counts.join(F.broadcast(tot))
        .select(
            "user_id",
            "n_events",
            F.expr("n_events * 10000 div n_total").alias("share_bp"),
            "n_total",
            "n_keys",
        )
        .orderBy(F.desc("n_events"), F.asc("user_id"))
        .limit(10)
    )


@register(
    "q125_snapshot_diff",
    oracle="""
    WITH old_snap AS (
      SELECT * FROM orders WHERE o_orderkey % 11 <> 3
    ), new_snap AS (
      SELECT o_orderkey, o_custkey,
             CASE WHEN o_orderkey % 7 = 3 THEN 'X' ELSE o_orderstatus END
               AS o_orderstatus,
             CASE WHEN o_orderkey % 7 = 2 THEN o_totalprice + 1.0
                  ELSE o_totalprice END AS o_totalprice,
             o_orderdate,
             CASE WHEN o_orderkey % 7 = 2 THEN '9-SYNTH'
                  ELSE o_orderpriority END AS o_orderpriority
      FROM orders WHERE o_orderkey % 13 <> 5
    )
    SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
           CASE WHEN o.o_orderkey IS NULL THEN 'added'
                WHEN n.o_orderkey IS NULL THEN 'removed'
                ELSE 'changed' END AS status,
           CASE WHEN o.o_orderkey IS NOT NULL AND n.o_orderkey IS NOT NULL
                THEN CAST(
                  CAST(o.o_custkey IS DISTINCT FROM n.o_custkey AS INT)
                + CAST(o.o_orderstatus IS DISTINCT FROM n.o_orderstatus AS INT)
                + CAST(o.o_totalprice IS DISTINCT FROM n.o_totalprice AS INT)
                + CAST(o.o_orderdate IS DISTINCT FROM n.o_orderdate AS INT)
                + CAST(o.o_orderpriority IS DISTINCT FROM n.o_orderpriority
                       AS INT) AS INT)
           END AS n_changed_cols
    FROM old_snap o FULL OUTER JOIN new_snap n
      ON o.o_orderkey = n.o_orderkey
    WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
       OR o.o_custkey IS DISTINCT FROM n.o_custkey
       OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
       OR o.o_totalprice IS DISTINCT FROM n.o_totalprice
       OR o.o_orderdate IS DISTINCT FROM n.o_orderdate
       OR o.o_orderpriority IS DISTINCT FROM n.o_orderpriority
    """,
    doc="CDC-style snapshot diff (operators/diff.py): two deterministic "
    "snapshots of orders (rows absent from either side, plus two "
    "mutation classes) diffed into added/removed/changed rows with the "
    "exact changed-column count — the feed for incremental downstreams "
    "(re-embed only changed docs, re-aggregate only touched partitions) "
    "when the source has no change feed. Scale: ONE co-partitioned "
    "full-outer shuffle on the key; per-column null-safe compare stays "
    "in codegen; unchanged rows never leave the join stage. 100 TB "
    "refinement documented in the module: partition-level xxhash64 "
    "pruning before the row-level diff",
)
def q125_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from salesanalytics_etl_spark.operators.diff import snapshot_diff

    (orders,) = _t(spark, sf_dir, "orders")
    old_snap = orders.filter(F.col("o_orderkey") % 11 != 3)
    new_snap = orders.filter(F.col("o_orderkey") % 13 != 5).select(
        "o_orderkey",
        "o_custkey",
        F.when(F.col("o_orderkey") % 7 == 3, F.lit("X"))
        .otherwise(F.col("o_orderstatus"))
        .alias("o_orderstatus"),
        F.when(F.col("o_orderkey") % 7 == 2, F.col("o_totalprice") + 1.0)
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
        "o_orderdate",
        F.when(F.col("o_orderkey") % 7 == 2, F.lit("9-SYNTH"))
        .otherwise(F.col("o_orderpriority"))
        .alias("o_orderpriority"),
    )
    return snapshot_diff(old_snap, new_snap, keys="o_orderkey")


@register(
    "q126_sales_gap_fill",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE),
                   2) AS revenue
      FROM orders GROUP BY 1
    ), bounds AS (
      SELECT MIN(day) AS lo, MAX(day) AS hi FROM daily
    ), spine AS (
      SELECT CAST(UNNEST(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE)
               AS day
      FROM bounds
    )
    SELECT s.day, COALESCE(d.n_orders, 0) AS n_orders,
           COALESCE(d.revenue, 0.0) AS revenue,
           d.day IS NULL AS is_gap
    FROM spine s LEFT JOIN daily d ON s.day = d.day
    """,
    doc="calendar gap fill: a date spine from sequence(min,max) LEFT-joined "
    "to daily sales, zero-filling silent days and flagging them — the "
    "difference between 'no row' and 'zero revenue' that trend/anomaly "
    "consumers (q97) and forecasting exports need. Scale: the spine is "
    "calendar-bounded (|days|, not |orders|), built distributed via "
    "sequence+explode from a 1-row bounds aggregate — no collect, no "
    "driver loop; the join is bounded-by-days on both sides",
)
def q126_sales_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from salesanalytics_etl_spark.functions.scalar import money_out

    (orders,) = _t(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.to_date("o_orderdate").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        money_out(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        ).alias("revenue"),
    )
    bounds = daily.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    spine = bounds.select(
        F.explode(
            F.sequence(F.col("lo"), F.col("hi"), F.expr("INTERVAL 1 DAY"))
        ).alias("day")
    )
    return spine.join(daily, "day", "left").select(
        "day",
        F.coalesce(F.col("n_orders"), F.lit(0)).alias("n_orders"),
        F.coalesce(F.col("revenue"), F.lit(0.0)).alias("revenue"),
        F.col("n_orders").isNull().alias("is_gap"),
    )


@register(
    "q127_peak_window_traffic",
    oracle="""
    WITH flagged AS (
      SELECT user_id, event_id, ts,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id)
                       >= INTERVAL 30 MINUTE
                  OR LAG(ts) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
    ), numbered AS (
      SELECT *, SUM(new_sess) OVER (
        PARTITION BY user_id ORDER BY ts, event_id
        ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM flagged
    ), sessions AS (
      SELECT user_id AS sess_user, MIN(ts) AS session_start,
             MAX(ts) AS session_end, CAST(COUNT(*) AS BIGINT) AS n_events
      FROM numbered GROUP BY user_id, sess_id
    ), top20 AS (
      SELECT * FROM sessions
      ORDER BY n_events DESC, sess_user, session_start LIMIT 20
    )
    SELECT t.sess_user, t.session_start, t.session_end, t.n_events,
           CAST(COUNT(*) AS BIGINT) AS n_window_events,
           CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_window_users
    FROM top20 t JOIN events e
      ON e.ts >= t.session_start AND e.ts <= t.session_end
    GROUP BY t.sess_user, t.session_start, t.session_end, t.n_events
    """,
    doc="pure range join WITHOUT an equi key "
    "(operators/temporal.py::bucketed_range_join): the 20 busiest "
    "sessions become unaligned time windows, and ALL events (any user) "
    "are joined into the window containing them — corpus-wide traffic "
    "during each peak. Catalyst alone can only nested-loop a keyless "
    "interval join; the operator manufactures the equi key by exploding "
    "each interval into fixed-width time buckets and mapping each point "
    "to exactly one bucket, so the plan is a HASH join on bucket id with "
    "the exact containment residual — no CartesianProduct at ANY "
    "interval count (the lint pins it). Scale: cost is |points| + "
    "Σ(len/bucket+1) exploded rows through one shuffle; hot buckets are "
    "ordinary join skew (AQE splits them)",
)
def q127_peak_window_traffic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from salesanalytics_etl_spark.operators.temporal import (
        bucketed_range_join,
    )
    from salesanalytics_etl_spark.streaming.events import sessionize

    (events,) = _t(spark, sf_dir, "events")
    top20 = (
        sessionize(events)
        .select(
            F.col("user_id").alias("sess_user"),
            "session_start",
            "session_end",
            "n_events",
        )
        .orderBy(F.desc("n_events"), "sess_user", "session_start")
        .limit(20)
    )
    joined = bucketed_range_join(
        events.select("event_id", "ts", F.col("user_id").alias("evt_user")),
        "ts",
        top20,
        "session_start",
        "session_end",
        bucket_seconds=3600,
    )
    return joined.groupBy(
        "sess_user", "session_start", "session_end", "n_events"
    ).agg(
        F.count(F.lit(1)).alias("n_window_events"),
        F.count_distinct(F.col("evt_user")).alias("n_window_users"),
    )


@register(
    "q128_distributed_percentiles",
    oracle="""
    WITH per_order AS (
      SELECT l_orderkey,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
               AS order_total
      FROM lineitem GROUP BY l_orderkey
    ), ranked AS (
      SELECT order_total AS v,
             ROW_NUMBER() OVER (ORDER BY order_total) AS r,
             COUNT(*) OVER () AS n
      FROM per_order
    ), bounded AS (
      SELECT v, r, n,
             CAST(FLOOR(CAST(n - 1 AS DOUBLE) * 0.5) AS BIGINT) + 1 AS lo50,
             CAST(CEIL(CAST(n - 1 AS DOUBLE) * 0.5) AS BIGINT) + 1 AS hi50,
             CAST(FLOOR(CAST(n - 1 AS DOUBLE) * 0.9) AS BIGINT) + 1 AS lo90,
             CAST(CEIL(CAST(n - 1 AS DOUBLE) * 0.9) AS BIGINT) + 1 AS hi90,
             CAST(FLOOR(CAST(n - 1 AS DOUBLE) * 0.99) AS BIGINT) + 1 AS lo99,
             CAST(CEIL(CAST(n - 1 AS DOUBLE) * 0.99) AS BIGINT) + 1 AS hi99
      FROM ranked
    ), picked AS (
      SELECT * FROM bounded
      WHERE r = lo50 OR r = hi50 OR r = lo90 OR r = hi90
         OR r = lo99 OR r = hi99
    )
    SELECT
      FLOOR((MIN(CASE WHEN r = lo50 THEN v END)
             + (CAST(MIN(n) - 1 AS DOUBLE) * 0.5
                - FLOOR(CAST(MIN(n) - 1 AS DOUBLE) * 0.5))
               * (MIN(CASE WHEN r = hi50 THEN v END)
                  - MIN(CASE WHEN r = lo50 THEN v END))) * 100 + 0.5)
        / 100.0 AS p50,
      FLOOR((MIN(CASE WHEN r = lo90 THEN v END)
             + (CAST(MIN(n) - 1 AS DOUBLE) * 0.9
                - FLOOR(CAST(MIN(n) - 1 AS DOUBLE) * 0.9))
               * (MIN(CASE WHEN r = hi90 THEN v END)
                  - MIN(CASE WHEN r = lo90 THEN v END))) * 100 + 0.5)
        / 100.0 AS p90,
      FLOOR((MIN(CASE WHEN r = lo99 THEN v END)
             + (CAST(MIN(n) - 1 AS DOUBLE) * 0.99
                - FLOOR(CAST(MIN(n) - 1 AS DOUBLE) * 0.99))
               * (MIN(CASE WHEN r = hi99 THEN v END)
                  - MIN(CASE WHEN r = lo99 THEN v END))) * 100 + 0.5)
        / 100.0 AS p99
    FROM picked
    """,
    doc="exact percentiles WITHOUT a single aggregation buffer "
    "(operators/quantiles.py): q37's F.percentile/quantile_cont "
    "collects every value into one final-reduce buffer — a single-task "
    "OOM at 10^9 rows, the scale-killer class the window lint can't "
    "see. Here the same interpolated quantile comes from DISTRIBUTED "
    "exact ranks (operators/ranking.py): range partition + local "
    "row_number + offset join, then a map-side filter keeps <= 2 rows "
    "per percentile (the needed ranks are column expressions over the "
    "riding total), and one bounded aggregate interpolates. The oracle "
    "re-spells the rank CTE + the identical IEEE interpolation (NOT "
    "quantile_cont — algebraically equal forms differ in the last "
    "ulp); both sides emit floor-formula cents",
)
def q128_distributed_percentiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from salesanalytics_etl_spark.functions.scalar import dec182, floor_cents
    from salesanalytics_etl_spark.operators.quantiles import (
        exact_percentiles_distributed,
    )

    (lineitem,) = _t(spark, sf_dir, "lineitem")
    per_order = lineitem.groupBy("l_orderkey").agg(
        F.sum(dec182("l_extendedprice")).cast("double").alias("order_total")
    )
    res = exact_percentiles_distributed(
        per_order, "order_total", {"p50": 0.5, "p90": 0.9, "p99": 0.99}
    )

    return res.select(
        floor_cents(F.col("p50")).alias("p50"),
        floor_cents(F.col("p90")).alias("p90"),
        floor_cents(F.col("p99")).alias("p99"),
    )


@register(
    "q129_segment_percentiles_distributed",
    oracle="""
    WITH per_order AS (
      SELECT o.o_orderkey, c.c_mktsegment,
             CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
               AS order_total
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY 1, 2
    ), ranked AS (
      SELECT c_mktsegment AS seg, order_total AS v,
             ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                ORDER BY order_total) AS r,
             COUNT(*) OVER (PARTITION BY c_mktsegment) AS n
      FROM per_order
    ), bounded AS (
      SELECT seg, v, r, n,
             CAST(FLOOR(CAST(n - 1 AS DOUBLE) * 0.5) AS BIGINT) + 1 AS lo50,
             CAST(CEIL(CAST(n - 1 AS DOUBLE) * 0.5) AS BIGINT) + 1 AS hi50,
             CAST(FLOOR(CAST(n - 1 AS DOUBLE) * 0.9) AS BIGINT) + 1 AS lo90,
             CAST(CEIL(CAST(n - 1 AS DOUBLE) * 0.9) AS BIGINT) + 1 AS hi90,
             CAST(FLOOR(CAST(n - 1 AS DOUBLE) * 0.99) AS BIGINT) + 1 AS lo99,
             CAST(CEIL(CAST(n - 1 AS DOUBLE) * 0.99) AS BIGINT) + 1 AS hi99
      FROM ranked
    ), picked AS (
      SELECT * FROM bounded
      WHERE r = lo50 OR r = hi50 OR r = lo90 OR r = hi90
         OR r = lo99 OR r = hi99
    )
    SELECT seg AS c_mktsegment,
      CAST(MIN(n) AS BIGINT) AS n_orders,
      FLOOR((MIN(CASE WHEN r = lo50 THEN v END)
             + (CAST(MIN(n) - 1 AS DOUBLE) * 0.5
                - FLOOR(CAST(MIN(n) - 1 AS DOUBLE) * 0.5))
               * (MIN(CASE WHEN r = hi50 THEN v END)
                  - MIN(CASE WHEN r = lo50 THEN v END))) * 100 + 0.5)
        / 100.0 AS p50,
      FLOOR((MIN(CASE WHEN r = lo90 THEN v END)
             + (CAST(MIN(n) - 1 AS DOUBLE) * 0.9
                - FLOOR(CAST(MIN(n) - 1 AS DOUBLE) * 0.9))
               * (MIN(CASE WHEN r = hi90 THEN v END)
                  - MIN(CASE WHEN r = lo90 THEN v END))) * 100 + 0.5)
        / 100.0 AS p90,
      FLOOR((MIN(CASE WHEN r = lo99 THEN v END)
             + (CAST(MIN(n) - 1 AS DOUBLE) * 0.99
                - FLOOR(CAST(MIN(n) - 1 AS DOUBLE) * 0.99))
               * (MIN(CASE WHEN r = hi99 THEN v END)
                  - MIN(CASE WHEN r = lo99 THEN v END))) * 100 + 0.5)
        / 100.0 AS p99
    FROM picked GROUP BY seg
    """,
    doc="per-segment exact percentiles WITHOUT per-group aggregation "
    "buffers (operators/quantiles.py:exact_percentiles_grouped): q68's "
    "groupBy+percentile holds each SEGMENT's values in one buffer — "
    "with 5 segments every buffer is |orders|/5, i.e. data-scaled. "
    "Here append_group_rank range-partitions on (segment, value) so a "
    "big segment SPANS partitions; per-group offsets come from the "
    "(partitions x segments)-bounded counts frame via group-partitioned "
    "windows (never unpartitioned); the rank filter keeps <= 2 rows per "
    "(segment, percentile) map-side; the final aggregate is "
    "|segments|-bounded. Oracle re-spells the per-group rank CTE + the "
    "identical IEEE interpolation (see q128); q68 stays the "
    "engine-native buffered twin",
)
def q129_segment_percentiles_distributed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from salesanalytics_etl_spark.functions.scalar import dec182, floor_cents
    from salesanalytics_etl_spark.operators.quantiles import (
        exact_percentiles_grouped,
    )

    customer, orders, lineitem = _t(
        spark, sf_dir, "customer", "orders", "lineitem"
    )
    per_order = (
        lineitem.select("l_orderkey", "l_extendedprice")
        .join(
            orders.select("o_orderkey", "o_custkey"),
            lineitem.l_orderkey == orders.o_orderkey,
        )
        .join(
            F.broadcast(customer.select("c_custkey", "c_mktsegment")),
            orders.o_custkey == customer.c_custkey,
        )
        .groupBy("o_orderkey", "c_mktsegment")
        .agg(
            F.sum(dec182("l_extendedprice")).cast("double").alias("order_total")
        )
    )
    res = exact_percentiles_grouped(
        per_order,
        ["c_mktsegment"],
        "order_total",
        {"p50": 0.5, "p90": 0.9, "p99": 0.99},
    )

    return res.select(
        "c_mktsegment",
        F.col("n_rows").alias("n_orders"),
        floor_cents(F.col("p50")).alias("p50"),
        floor_cents(F.col("p90")).alias("p90"),
        floor_cents(F.col("p99")).alias("p99"),
    )


@register(
    "q130_robust_order_outliers",
    oracle="""
    WITH per_order AS (
      SELECT l_orderkey,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
               AS v
      FROM lineitem GROUP BY l_orderkey
    ), ranked AS (
      SELECT v, ROW_NUMBER() OVER (ORDER BY v) AS r, COUNT(*) OVER () AS n
      FROM per_order
    ), med AS (
      SELECT MIN(CASE WHEN r = CAST(FLOOR(CAST(n - 1 AS DOUBLE) * 0.5)
                                   AS BIGINT) + 1 THEN v END)
             + (CAST(MIN(n) - 1 AS DOUBLE) * 0.5
                - FLOOR(CAST(MIN(n) - 1 AS DOUBLE) * 0.5))
               * (MIN(CASE WHEN r = CAST(CEIL(CAST(n - 1 AS DOUBLE) * 0.5)
                                         AS BIGINT) + 1 THEN v END)
                  - MIN(CASE WHEN r = CAST(FLOOR(CAST(n - 1 AS DOUBLE) * 0.5)
                                           AS BIGINT) + 1 THEN v END))
               AS med
      FROM ranked
      WHERE r = CAST(FLOOR(CAST(n - 1 AS DOUBLE) * 0.5) AS BIGINT) + 1
         OR r = CAST(CEIL(CAST(n - 1 AS DOUBLE) * 0.5) AS BIGINT) + 1
    ), dev AS (
      SELECT ABS(p.v - m.med) AS av FROM per_order p CROSS JOIN med m
    ), ranked2 AS (
      SELECT av, ROW_NUMBER() OVER (ORDER BY av) AS r, COUNT(*) OVER () AS n
      FROM dev
    ), mad AS (
      SELECT MIN(CASE WHEN r = CAST(FLOOR(CAST(n - 1 AS DOUBLE) * 0.5)
                                   AS BIGINT) + 1 THEN av END)
             + (CAST(MIN(n) - 1 AS DOUBLE) * 0.5
                - FLOOR(CAST(MIN(n) - 1 AS DOUBLE) * 0.5))
               * (MIN(CASE WHEN r = CAST(CEIL(CAST(n - 1 AS DOUBLE) * 0.5)
                                         AS BIGINT) + 1 THEN av END)
                  - MIN(CASE WHEN r = CAST(FLOOR(CAST(n - 1 AS DOUBLE) * 0.5)
                                           AS BIGINT) + 1 THEN av END))
               AS mad
      FROM ranked2
      WHERE r = CAST(FLOOR(CAST(n - 1 AS DOUBLE) * 0.5) AS BIGINT) + 1
         OR r = CAST(CEIL(CAST(n - 1 AS DOUBLE) * 0.5) AS BIGINT) + 1
    )
    SELECT FLOOR(m.med * 100 + 0.5) / 100.0 AS med,
           FLOOR(d.mad * 100 + 0.5) / 100.0 AS mad,
           CAST(COUNT(CASE WHEN ABS(p.v - m.med) > 3.0 * 1.4826 * d.mad
                           THEN 1 END) AS BIGINT) AS n_outliers,
           FLOOR(MAX(p.v) * 100 + 0.5) / 100.0 AS max_total
    FROM per_order p CROSS JOIN med m CROSS JOIN mad d
    GROUP BY m.med, d.mad
    """,
    doc="robust outlier census over per-order totals: median and MAD "
    "(median absolute deviation) computed by COMPOSING the distributed "
    "exact-percentile machinery twice (q128's rank path — no "
    "single-buffer percentile anywhere), then the classic robust "
    "z-score cut |v - med| > 3·1.4826·MAD counted in one scan. "
    "Mean/stddev outlier rules (q97's z-score) are themselves dragged "
    "by the outliers they hunt; MAD has a 50% breakdown point. Scale: "
    "two narrow range exchanges + two 1-row broadcasts + one counting "
    "scan; every aggregate buffer bounded. Oracle re-spells both rank "
    "CTEs with the identical IEEE interpolation and the identical "
    "un-rounded comparison threshold",
)
def q130_robust_order_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from salesanalytics_etl_spark.functions.scalar import dec182, floor_cents
    from salesanalytics_etl_spark.operators.quantiles import (
        exact_percentiles_distributed,
    )

    (lineitem,) = _t(spark, sf_dir, "lineitem")
    per_order = lineitem.groupBy("l_orderkey").agg(
        F.sum(dec182("l_extendedprice")).cast("double").alias("v")
    )
    med = exact_percentiles_distributed(per_order, "v", {"med": 0.5})
    dev = per_order.crossJoin(F.broadcast(med)).select(
        F.abs(F.col("v") - F.col("med")).alias("av")
    )
    mad = exact_percentiles_distributed(dev, "av", {"mad": 0.5})

    cut = F.lit(3.0) * F.lit(1.4826) * F.col("mad")
    return (
        per_order.crossJoin(F.broadcast(med))
        .crossJoin(F.broadcast(mad))
        .groupBy("med", "mad")
        .agg(
            F.count(
                F.when(F.abs(F.col("v") - F.col("med")) > cut, F.lit(1))
            ).alias("n_outliers"),
            F.max("v").alias("max_total"),
        )
        .select(
            floor_cents(F.col("med")).alias("med"),
            floor_cents(F.col("mad")).alias("mad"),
            "n_outliers",
            floor_cents(F.col("max_total")).alias("max_total"),
        )
    )


@register(
    "q131_orders_profile",
    oracle="""
    WITH r AS (
      SELECT CAST(o_orderkey AS VARCHAR) AS o_orderkey,
             CAST(o_custkey AS VARCHAR) AS o_custkey,
             o_orderstatus,
             CAST(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS VARCHAR)
               AS o_totalprice,
             CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS o_orderdate,
             o_orderpriority
      FROM orders
    ), u AS (
      SELECT 'o_orderkey' AS col_name, o_orderkey AS value FROM r
      UNION ALL SELECT 'o_custkey', o_custkey FROM r
      UNION ALL SELECT 'o_orderstatus', o_orderstatus FROM r
      UNION ALL SELECT 'o_totalprice', o_totalprice FROM r
      UNION ALL SELECT 'o_orderdate', o_orderdate FROM r
      UNION ALL SELECT 'o_orderpriority', o_orderpriority FROM r
    ), pv AS (
      SELECT col_name, value, COUNT(*) AS cnt FROM u GROUP BY 1, 2
    ), stats AS (
      SELECT col_name,
             CAST(SUM(cnt) AS BIGINT) AS n_rows,
             CAST(COALESCE(SUM(CASE WHEN value IS NULL THEN cnt END), 0)
                  AS BIGINT) AS n_nulls,
             CAST(COUNT(value) AS BIGINT) AS n_distinct
      FROM pv GROUP BY 1
    ), top AS (
      SELECT col_name, value AS top_value, cnt AS top_count
      FROM (SELECT pv.*, ROW_NUMBER() OVER (
              PARTITION BY col_name ORDER BY cnt DESC, value DESC) AS rk
            FROM pv WHERE value IS NOT NULL) ranked
      WHERE rk = 1
    ), mm AS (
      SELECT 'o_orderkey' AS col_name,
             CAST(MIN(o_orderkey) AS VARCHAR) AS min_value,
             CAST(MAX(o_orderkey) AS VARCHAR) AS max_value FROM orders
      UNION ALL SELECT 'o_custkey',
             CAST(MIN(o_custkey) AS VARCHAR),
             CAST(MAX(o_custkey) AS VARCHAR) FROM orders
      UNION ALL SELECT 'o_orderstatus',
             MIN(o_orderstatus), MAX(o_orderstatus) FROM orders
      UNION ALL SELECT 'o_totalprice',
             CAST(CAST(FLOOR(MIN(o_totalprice) * 100 + 0.5) AS BIGINT)
                  AS VARCHAR),
             CAST(CAST(FLOOR(MAX(o_totalprice) * 100 + 0.5) AS BIGINT)
                  AS VARCHAR) FROM orders
      UNION ALL SELECT 'o_orderdate',
             CAST(CAST(MIN(o_orderdate) AS DATE) AS VARCHAR),
             CAST(CAST(MAX(o_orderdate) AS DATE) AS VARCHAR) FROM orders
      UNION ALL SELECT 'o_orderpriority',
             MIN(o_orderpriority), MAX(o_orderpriority) FROM orders
    )
    SELECT s.col_name, s.n_rows, s.n_nulls, s.n_distinct,
           m.min_value, m.max_value, t.top_value, t.top_count
    FROM stats s JOIN mm m USING (col_name)
    LEFT JOIN top t USING (col_name)
    """,
    doc="one-pass table profiler (operators/profile.py) over orders: per "
    "column, row/null counts, exact NDV, typed min/max, and the modal "
    "value — the trust-the-load audit the reference approximates with "
    "per-table head() prints. Scale: the naive form is k COUNT(DISTINCT) "
    "scans or one Expand that multiplies rows ×k through a single "
    "exchange; here the ×k unpivot is map-side codegen fused with the "
    "scan, the ONE shuffle keys (col_name, value) with map-side partial "
    "aggregation (a 99%-constant column pre-combines per task), and "
    "everything downstream re-aggregates the bounded per-value frame "
    "(two-phase top-1, broadcast |columns|-grain joins, typed min/max "
    "from one narrow no-shuffle aggregate). Lossy renders are explicit: "
    "cents-grid for the money double, date-grain for the timestamp — "
    "NDV is over the rendered domain by contract",
)
def q131_orders_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from salesanalytics_etl_spark.operators.profile import profile_columns

    (orders,) = _t(spark, sf_dir, "orders")
    cents = lambda c: F.floor(c * F.lit(100.0) + F.lit(0.5)).cast("bigint")  # noqa: E731
    day = lambda c: c.cast("date")  # noqa: E731
    return profile_columns(
        orders,
        columns=[
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            "o_totalprice",
            "o_orderdate",
            "o_orderpriority",
        ],
        renders={"o_totalprice": cents, "o_orderdate": day},
    )


@register(
    "q132_nation_revenue_interpolated",
    oracle="""
    WITH daily AS (
      SELECT n_name, CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS revenue
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY 1, 2
    ), bounds AS (
      SELECT MIN(day) AS lo, MAX(day) AS hi FROM daily
    ), spine AS (
      SELECT n_name,
             CAST(UNNEST(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE)
               AS day
      FROM nation, bounds
    ), grid AS (
      SELECT s.n_name, s.day, d.revenue
      FROM spine s LEFT JOIN daily d
        ON s.n_name = d.n_name AND s.day = d.day
    ), w AS (
      SELECT n_name, day, revenue,
             LAST_VALUE(revenue IGNORE NULLS) OVER (
               PARTITION BY n_name ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
             LAST_VALUE(CASE WHEN revenue IS NOT NULL THEN day END
                        IGNORE NULLS) OVER (
               PARTITION BY n_name ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
             FIRST_VALUE(revenue IGNORE NULLS) OVER (
               PARTITION BY n_name ORDER BY day
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
             FIRST_VALUE(CASE WHEN revenue IS NOT NULL THEN day END
                         IGNORE NULLS) OVER (
               PARTITION BY n_name ORDER BY day
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
      FROM grid
    )
    SELECT n_name, day,
           FLOOR((CASE WHEN revenue IS NOT NULL THEN revenue
                       WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
                         pv + (nv - pv) *
                         (CAST(DATEDIFF('day', pt, day) AS DOUBLE)
                          / CAST(DATEDIFF('day', pt, nt) AS DOUBLE))
                       WHEN pv IS NOT NULL THEN pv
                       ELSE nv END) * 100 + 0.5) / 100.0 AS revenue,
           revenue IS NULL AS is_gap
    FROM w
    """,
    doc="gap-filled + linearly interpolated nation-grain daily revenue "
    "(operators/temporal.py:interpolate_series): the q126 spine idea "
    "per key, then LOCF/backfill-clamped linear interpolation — the "
    "series shape forecasting and anomaly consumers actually train on "
    "(a NULL gap would otherwise read as a crash to a z-score). Scale: "
    "spine is |nations|x|days| (both bounded: dims and calendar), built "
    "via a constant-key broadcast join + sequence/explode — NO "
    "cartesian, no collect; the four IGNORE-NULLS running extrema ride "
    "ONE window exchange partitioned by nation with calendar-bounded "
    "frames; interpolation arithmetic is spelled in the identical IEEE "
    "op order on both engines, emitted through the floor-cents formula",
)
def q132_nation_revenue_interpolated(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from salesanalytics_etl_spark.functions.scalar import dec182, floor_cents
    from salesanalytics_etl_spark.operators.temporal import interpolate_series

    customer, orders, nation = _t(
        spark, sf_dir, "customer", "orders", "nation"
    )
    daily = (
        orders.join(
            customer.select("c_custkey", "c_nationkey"),
            orders.o_custkey == customer.c_custkey,
        )
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("n_name", F.col("o_orderdate").cast("date").alias("day"))
        .agg(F.sum(dec182("o_totalprice")).cast("double").alias("revenue"))
    )
    bounds = daily.agg(
        F.min("day").alias("_lo"), F.max("day").alias("_hi")
    ).withColumn("_one", F.lit(1))
    spine = (
        nation.select("n_name")
        .withColumn("_one", F.lit(1))
        .join(F.broadcast(bounds), "_one")
        .select(
            "n_name",
            F.explode(F.sequence("_lo", "_hi")).alias("day"),
        )
    )
    grid = spine.join(daily, ["n_name", "day"], "left").withColumn(
        "is_gap", F.col("revenue").isNull()
    )
    filled = interpolate_series(
        grid, ["n_name"], "day", "revenue", out_col="_filled"
    )
    return filled.select(
        "n_name", "day", floor_cents(F.col("_filled")).alias("revenue"),
        "is_gap"
    )


def _fk_edge_sql(name: str, child: str, ck: str, parent: str, pk: str) -> str:
    return f"""
    SELECT '{name}' AS edge,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(CASE WHEN c.{ck} IS NULL THEN 1 END) AS BIGINT)
             AS n_null_keys,
           CAST(COUNT(CASE WHEN c.{ck} IS NOT NULL AND p.{pk} IS NULL
                      THEN 1 END) AS BIGINT) AS n_orphans,
           CASE WHEN COUNT(*) - COUNT(CASE WHEN c.{ck} IS NULL THEN 1 END) > 0
                THEN CAST(COUNT(CASE WHEN c.{ck} IS NOT NULL
                                AND p.{pk} IS NULL THEN 1 END) AS BIGINT)
                     * 10000
                     // (COUNT(*) - COUNT(CASE WHEN c.{ck} IS NULL
                                          THEN 1 END))
           END AS orphan_bp
    FROM {child} c LEFT JOIN (SELECT DISTINCT {pk} FROM {parent}) p
      ON c.{ck} = p.{pk}
    """


@register(
    "q133_fk_integrity_sweep",
    oracle=" UNION ALL ".join(
        _fk_edge_sql(*e)
        for e in [
            ("orders.o_custkey->customer", "orders", "o_custkey",
             "customer", "c_custkey"),
            ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey",
             "orders", "o_orderkey"),
            ("lineitem.l_partkey->part", "lineitem", "l_partkey",
             "part", "p_partkey"),
            ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey",
             "supplier", "s_suppkey"),
            ("customer.c_nationkey->nation", "customer", "c_nationkey",
             "nation", "n_nationkey"),
            ("supplier.s_nationkey->nation", "supplier", "s_nationkey",
             "nation", "n_nationkey"),
            ("nation.n_regionkey->region", "nation", "n_regionkey",
             "region", "r_regionkey"),
        ]
    ),
    doc="whole-schema referential-integrity sweep "
    "(operators/integrity.py:fk_audit): every FK edge audited in one "
    "query — child rows, NULL keys (legal, not orphans), orphans, and "
    "the orphan share in exact integer basis points. The load-health "
    "dashboard row the reference's per-FK isin() masks imply but never "
    "aggregate. Scale: per edge ONE left join against the parent's "
    "distinct keys (AQE broadcasts dim-sized parents) folded straight "
    "into a 1-row aggregate; the result is a |edges|-row union of "
    "independent subtrees — nothing row-grain leaves the executors",
)
def q133_fk_integrity_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from salesanalytics_etl_spark.operators.integrity import fk_audit

    customer, supplier, part, orders, lineitem, nation, region = _t(
        spark, sf_dir, "customer", "supplier", "part", "orders",
        "lineitem", "nation", "region",
    )
    return fk_audit(
        [
            ("orders.o_custkey->customer", orders, "o_custkey",
             customer, "c_custkey"),
            ("lineitem.l_orderkey->orders", lineitem, "l_orderkey",
             orders, "o_orderkey"),
            ("lineitem.l_partkey->part", lineitem, "l_partkey",
             part, "p_partkey"),
            ("lineitem.l_suppkey->supplier", lineitem, "l_suppkey",
             supplier, "s_suppkey"),
            ("customer.c_nationkey->nation", customer, "c_nationkey",
             nation, "n_nationkey"),
            ("supplier.s_nationkey->nation", supplier, "s_nationkey",
             nation, "n_nationkey"),
            ("nation.n_regionkey->region", nation, "n_regionkey",
             region, "r_regionkey"),
        ]
    )


@register(
    "q134_pruned_snapshot_diff",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             strftime(o_orderdate, '%Y-%m') AS month
      FROM orders
    ), old_snap AS (
      SELECT * FROM base
      WHERE NOT (month = '1994-01' AND o_orderkey % 9 = 2)
    ), new_snap AS (
      SELECT o_orderkey, o_custkey,
             CASE WHEN month = '1996-07' AND o_orderkey % 5 = 1
                  THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
             CASE WHEN month = '1996-07' AND o_orderkey % 5 = 1
                  THEN o_totalprice + 2.0 ELSE o_totalprice
             END AS o_totalprice,
             month
      FROM base
      WHERE NOT (month = '1995-03' AND o_orderkey % 10 = 4)
    )
    SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
           CASE WHEN o.o_orderkey IS NULL THEN 'added'
                WHEN n.o_orderkey IS NULL THEN 'removed'
                ELSE 'changed' END AS status,
           CASE WHEN o.o_orderkey IS NOT NULL AND n.o_orderkey IS NOT NULL
                THEN CAST(
                  CAST(o.o_custkey IS DISTINCT FROM n.o_custkey AS INT)
                + CAST(o.o_orderstatus IS DISTINCT FROM n.o_orderstatus AS INT)
                + CAST(o.o_totalprice IS DISTINCT FROM n.o_totalprice AS INT)
                + CAST(o.month IS DISTINCT FROM n.month AS INT) AS INT)
           END AS n_changed_cols,
           COALESCE(n.month, o.month) AS month
    FROM old_snap o FULL OUTER JOIN new_snap n
      ON o.o_orderkey = n.o_orderkey
    WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
       OR o.o_custkey IS DISTINCT FROM n.o_custkey
       OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
       OR o.o_totalprice IS DISTINCT FROM n.o_totalprice
       OR o.month IS DISTINCT FROM n.month
    """,
    doc="partition-pruned CDC diff (operators/diff.py:snapshot_diff_pruned "
    "— the 100 TB refinement the r8 module header documented and the r8 "
    "verdict's missing-#3 asked for): per-month xxhash64 fingerprints "
    "(bit_xor + count, ONE map-side-combined |partitions|-row aggregate "
    "per side) find the 3 months whose contents differ out of ~84, and "
    "the row-level full-outer diff runs ONLY over those months via a "
    "literal partition predicate (planning-time parquet pruning on a "
    "month-partitioned table). Mutations are partition-sparse by "
    "construction: adds confined to 1994-01, removes to 1995-03, "
    "changes to 1996-07. Output = q125's diff shape + the month "
    "locator (COALESCE new->old, so removed rows keep their partition "
    "— what apply_changes_partitioned prunes its rewrite with). Oracle "
    "re-spells the UNPRUNED diff: pruning is a cost optimization, "
    "value-identical by construction",
)
def q134_pruned_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from salesanalytics_etl_spark.functions.scalar import year_month
    from salesanalytics_etl_spark.operators.diff import snapshot_diff_pruned

    (orders,) = _t(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        year_month("o_orderdate").alias("month"),
    )
    old_snap = base.filter(
        ~((F.col("month") == "1994-01") & (F.col("o_orderkey") % 9 == 2))
    )
    mutate = (F.col("month") == "1996-07") & (F.col("o_orderkey") % 5 == 1)
    new_snap = base.filter(
        ~((F.col("month") == "1995-03") & (F.col("o_orderkey") % 10 == 4))
    ).select(
        "o_orderkey",
        "o_custkey",
        F.when(mutate, F.lit("X"))
        .otherwise(F.col("o_orderstatus"))
        .alias("o_orderstatus"),
        F.when(mutate, F.col("o_totalprice") + 2.0)
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
        "month",
    )
    return snapshot_diff_pruned(old_snap, new_snap, "o_orderkey", ["month"])


@register(
    "q136_retention_cohorts",
    oracle="""
    WITH om AS (
      SELECT o_custkey, strftime(o_orderdate, '%Y-%m') AS ym,
             EXTRACT(year FROM o_orderdate) * 12
               + EXTRACT(month FROM o_orderdate) - 1 AS mi
      FROM orders
    ), cust AS (
      SELECT o_custkey, MIN(mi) AS c_mi FROM om GROUP BY 1
    ), names AS (
      SELECT DISTINCT mi, ym FROM om
    ), active AS (
      SELECT c.c_mi, om.mi, COUNT(DISTINCT om.o_custkey) AS n_active
      FROM om JOIN cust c ON om.o_custkey = c.o_custkey
      GROUP BY 1, 2
    ), sz AS (
      SELECT c_mi, COUNT(*) AS n0 FROM cust GROUP BY 1
    )
    SELECT n.ym AS cohort_month,
           CAST(a.mi - a.c_mi AS INT) AS month_offset,
           CAST(a.n_active AS BIGINT) AS n_active,
           CAST((a.n_active * 10000) // s.n0 AS INT) AS retention_bp
    FROM active a
    JOIN sz s ON a.c_mi = s.c_mi
    JOIN names n ON n.mi = a.c_mi
    """,
    doc="cohort retention matrix: cohort = a customer's FIRST order "
    "month; each (cohort, month-offset) cell counts customers active "
    "again that many months later, with retention in exact integer "
    "basis points of the cohort's size — the standard lifecycle "
    "analytics surface. Month arithmetic is the portable integer index "
    "year*12+month-1 on BOTH engines (never months_between/datediff, "
    "whose day-of-month semantics differ). Scale: one shuffle keyed "
    "o_custkey for first-month, one co-partitioned join back, then "
    "everything is calendar-bounded (<= |months|^2 cells); "
    "COUNT(DISTINCT) runs per bounded cell",
)
def q136_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = _t(spark, sf_dir, "orders")
    om = orders.select(
        "o_custkey",
        F.date_format("o_orderdate", "yyyy-MM").alias("ym"),
        (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1).alias("mi"),
    )
    cust = om.groupBy("o_custkey").agg(F.min("mi").alias("c_mi"))
    names = om.select("mi", "ym").distinct()
    active = (
        om.join(cust, "o_custkey")
        .groupBy("c_mi", "mi")
        .agg(F.count_distinct("o_custkey").alias("n_active"))
    )
    sz = cust.groupBy("c_mi").agg(F.count(F.lit(1)).alias("n0"))
    # names derives from the same om subtree as active — explicit
    # aliases keep the self-join columns unambiguous
    return (
        active.alias("a")
        .join(sz.alias("s"), "c_mi")
        .join(names.alias("n"), F.col("a.c_mi") == F.col("n.mi"))
        .select(
            F.col("n.ym").alias("cohort_month"),
            (F.col("a.mi") - F.col("a.c_mi")).cast("int").alias("month_offset"),
            F.col("a.n_active").cast("bigint").alias("n_active"),
            F.expr("n_active * 10000 div n0").cast("int").alias("retention_bp"),
        )
    )


@register(
    "q137_order_value_histogram",
    oracle="""
    WITH per_order AS (
      SELECT l_orderkey,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
               AS order_total
      FROM lineitem GROUP BY l_orderkey
    ), b AS (
      SELECT order_total,
             NTILE(10) OVER (ORDER BY order_total, l_orderkey) AS bucket
      FROM per_order
    )
    SELECT CAST(bucket AS INT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           MIN(order_total) AS lo,
           MAX(order_total) AS hi
    FROM b GROUP BY bucket
    """,
    doc="exact equi-DEPTH histogram of per-order totals: 10 buckets of "
    "equal population with their exact value boundaries — the "
    "data-profiling shape equi-width histograms (q07) can't give on "
    "skewed money distributions (one bucket would hold everything). "
    "Buckets come from the DISTRIBUTED exact NTILE "
    "(operators/ranking.py:append_global_ntile — range exchange + "
    "offsets join, never a single-partition sort); the per-bucket "
    "min/max/count re-aggregate is 10-row bounded. Total order "
    "(order_total, l_orderkey) makes tie placement deterministic on "
    "both engines",
)
def q137_order_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from salesanalytics_etl_spark.functions.scalar import dec182
    from salesanalytics_etl_spark.operators.ranking import append_global_ntile

    (lineitem,) = _t(spark, sf_dir, "lineitem")
    per_order = lineitem.groupBy("l_orderkey").agg(
        F.sum(dec182("l_extendedprice")).cast("double").alias("order_total")
    )
    bucketed = append_global_ntile(
        per_order, 10, [F.asc("order_total"), F.asc("l_orderkey")], "bucket"
    )
    return bucketed.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.min("order_total").alias("lo"),
        F.max("order_total").alias("hi"),
    )


# Benford expectations floor(log10(1+1/d)*10000 + 0.5), precomputed so
# BOTH engines read the same integer literals (engine log10 never runs)
_BENFORD_BP = {1: 3010, 2: 1761, 3: 1249, 4: 969, 5: 792, 6: 669,
               7: 580, 8: 512, 9: 458}
_BENFORD_SQL_CASE = "CASE digit " + " ".join(
    f"WHEN {d} THEN {bp}" for d, bp in _BENFORD_BP.items()
) + " END"


@register(
    "q138_benford_digit_audit",
    oracle=f"""
    WITH c AS (
      SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders
    ), d AS (
      SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS INT) AS digit,
             COUNT(*) AS n
      FROM c WHERE cents > 0 GROUP BY 1
    ), t AS (
      SELECT CAST(SUM(n) AS BIGINT) AS tot FROM d
    )
    SELECT digit,
           CAST(n AS BIGINT) AS n_orders,
           CAST((n * 10000) // tot AS INT) AS share_bp,
           CAST({_BENFORD_SQL_CASE} AS INT) AS benford_bp,
           CAST((n * 10000) // tot - {_BENFORD_SQL_CASE} AS INT) AS dev_bp
    FROM d, t
    """,
    doc="Benford first-digit audit of order totals — the classic "
    "anomaly/fraud screen: leading-digit shares vs Benford's law in "
    "exact integer basis points. First digit is taken from the BIGINT "
    "cents rendering (floor(x*100+0.5) — the portable cents grid), "
    "never from engine float formatting or log10 (expectations are "
    "precomputed integer literals on both sides). Scale: one map-side "
    "projection + a 9-group aggregate; the total rides a broadcast "
    "1-row frame",
)
def q138_benford_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = _t(spark, sf_dir, "orders")
    cents = orders.select(
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("cents")
    ).filter(F.col("cents") > 0)
    d = cents.groupBy(
        F.substring(F.col("cents").cast("string"), 1, 1)
        .cast("int")
        .alias("digit")
    ).agg(F.count(F.lit(1)).alias("n"))
    t = d.agg(F.sum("n").alias("tot"))
    benford = F.create_map(
        *[F.lit(x) for kv in _BENFORD_BP.items() for x in kv]
    )[F.col("digit")].cast("int")
    share = F.expr("n * 10000 div tot").cast("int")
    return (
        d.crossJoin(F.broadcast(t))  # 1-row total frame
        .select(
            "digit",
            F.col("n").cast("bigint").alias("n_orders"),
            share.alias("share_bp"),
            benford.alias("benford_bp"),
            (share - benford).cast("int").alias("dev_bp"),
        )
    )


@register(
    "q135_event_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             LEAD(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS next_type
      FROM events
    ), pairs AS (
      SELECT event_type AS from_type, next_type AS to_type,
             COUNT(*) AS n
      FROM seq WHERE next_type IS NOT NULL
      GROUP BY 1, 2
    ), outs AS (
      SELECT from_type, SUM(n) AS n_out FROM pairs GROUP BY 1
    )
    SELECT p.from_type, p.to_type,
           CAST(p.n AS BIGINT) AS n_transitions,
           CAST((p.n * 10000) // o.n_out AS INT) AS prob_bp
    FROM pairs p JOIN outs o ON p.from_type = o.from_type
    """,
    doc="first-order event-transition matrix: for each ordered pair of "
    "consecutive event types WITHIN a user's timeline, the transition "
    "count and conditional probability in exact integer basis points — "
    "the Markov-chain surface behind next-action prediction and "
    "anomalous-flow detection (q80's funnel counts fixed steps; this "
    "measures EVERY observed step). Per-user ordering is a window "
    "PARTITIONED BY user_id (high-cardinality grain — never global), "
    "tie-broken by event_id so both engines pick the same successor; "
    "the transition/out-degree frames are |event_types|^2-bounded",
)
def q135_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    (events,) = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    pairs = seq.groupBy(
        F.col("event_type").alias("from_type"),
        F.col("next_type").alias("to_type"),
    ).agg(F.count(F.lit(1)).alias("n"))
    outs = pairs.groupBy("from_type").agg(F.sum("n").alias("n_out"))
    return (
        pairs.join(outs, "from_type")
        .select(
            "from_type",
            "to_type",
            F.col("n").cast("bigint").alias("n_transitions"),
            F.expr("n * 10000 div n_out").cast("int").alias("prob_bp"),
        )
    )


@register(
    "q139_winsorized_order_stats",
    oracle="""
    WITH per_order AS (
      SELECT l_orderkey,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) * 100
                  AS BIGINT) AS cents
      FROM lineitem GROUP BY l_orderkey
    ), ranked AS (
      SELECT cents,
             ROW_NUMBER() OVER (ORDER BY cents) AS r,
             COUNT(*) OVER () AS n
      FROM per_order
    ), b AS (
      SELECT MIN(CASE WHEN r = (n + 99) // 100 THEN cents END) AS lo,
             MIN(CASE WHEN r = (n * 99 + 99) // 100 THEN cents END) AS hi
      FROM ranked
      WHERE r = (n + 99) // 100 OR r = (n * 99 + 99) // 100
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(MIN(b.lo) AS BIGINT) AS lo_cents,
           CAST(MIN(b.hi) AS BIGINT) AS hi_cents,
           CAST(SUM(CASE WHEN p.cents < b.lo THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clamped_lo,
           CAST(SUM(CASE WHEN p.cents > b.hi THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clamped_hi,
           CAST(SUM(p.cents) AS BIGINT) AS raw_sum_cents,
           CAST(SUM(LEAST(GREATEST(p.cents, b.lo), b.hi)) AS BIGINT)
             AS winsorized_sum_cents
    FROM per_order p, b
    """,
    doc="winsorized order-value statistics: nearest-rank p01/p99 "
    "boundaries from the DISTRIBUTED rank path, then one scan counting "
    "and summing with values clamped to [p01, p99] — the robust "
    "aggregate that keeps a handful of fat-finger orders from moving "
    "the mean (complements q130's median/MAD census: winsorizing "
    "preserves mass, MAD rejects). EVERYTHING is exact integer cents: "
    "nearest-rank picks (all-integer (n+99) div 100 arithmetic — no "
    "IEEE ceil(p*N) boundary flips), clamps, and sums, so both engines "
    "agree bit-for-bit with zero float renders. Scale: one range "
    "exchange for the rank, a 1-row bounds frame broadcast into the "
    "clamping scan, one bounded final aggregate",
)
def q139_winsorized_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from salesanalytics_etl_spark.functions.scalar import dec182
    from salesanalytics_etl_spark.operators.ranking import append_global_rank

    (lineitem,) = _t(spark, sf_dir, "lineitem")
    per_order = lineitem.groupBy("l_orderkey").agg(
        (F.sum(dec182("l_extendedprice")) * 100)
        .cast("bigint")
        .alias("cents")
    )
    ranked = append_global_rank(
        per_order.select("cents"), [F.asc("cents")], out_col="_r",
        total_col="_n",
    )
    lo_r = F.expr("(_n + 99) div 100")
    hi_r = F.expr("(_n * 99 + 99) div 100")
    bounds = (
        ranked.filter((F.col("_r") == lo_r) | (F.col("_r") == hi_r))
        .agg(
            F.min(F.when(F.col("_r") == lo_r, F.col("cents"))).alias("lo"),
            F.min(F.when(F.col("_r") == hi_r, F.col("cents"))).alias("hi"),
        )
    )
    clamped = F.least(F.greatest(F.col("cents"), F.col("lo")), F.col("hi"))
    return (
        per_order.crossJoin(F.broadcast(bounds))  # 1-row bounds frame
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("lo").alias("lo_cents"),
            F.min("hi").alias("hi_cents"),
            F.sum(F.when(F.col("cents") < F.col("lo"), 1).otherwise(0))
            .alias("n_clamped_lo"),
            F.sum(F.when(F.col("cents") > F.col("hi"), 1).otherwise(0))
            .alias("n_clamped_hi"),
            F.sum("cents").alias("raw_sum_cents"),
            F.sum(clamped).alias("winsorized_sum_cents"),
        )
    )


# ---------------------------------------------------------------------------
# Round 10: statistical relationships (regression/correlation), exponential
# smoothing, Pareto/ABC classification via the distributed prefix sum,
# weekday seasonality, inter-purchase gap distribution, and exact
# sliding-window distinct users. All derived doubles come from EXACT
# decimal/bigint sums cast once (order-insensitive under any partitioning);
# every quotient on the gate surface is either exact integer `div` or the
# portable FLOOR(x*10^s + 0.5) formula spelled identically on both engines.
# ---------------------------------------------------------------------------


@register(
    "q140_segment_regression",
    oracle="""
    WITH per_order AS (
      SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS x,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) * 100
                  AS BIGINT) AS y
      FROM lineitem GROUP BY 1
    ), seg AS (
      SELECT o.o_orderkey, c.c_mktsegment
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ), sums AS (
      SELECT s.c_mktsegment,
             CAST(COUNT(*) AS BIGINT) AS n,
             SUM(p.x) AS sx, SUM(p.y) AS sy,
             SUM(p.x * p.x) AS sxx,
             SUM(CAST(p.x AS HUGEINT) * p.y) AS sxy,
             SUM(CAST(p.y AS HUGEINT) * p.y) AS syy
      FROM per_order p JOIN seg s ON p.l_orderkey = s.o_orderkey
      GROUP BY 1
    )
    SELECT c_mktsegment,
           n AS n_orders,
           CAST(CAST(sy AS HUGEINT) // n AS BIGINT) AS avg_order_cents,
           CAST((CAST(sx AS HUGEINT) * 1000) // n AS BIGINT) AS avg_lines_e3,
           CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
                THEN CAST(FLOOR(
                  (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                  / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                  * 1000000.0 + 0.5) AS BIGINT) END AS slope_e6,
           CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
                 AND (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
                THEN CAST(FLOOR(
                  (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                  / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                         * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                            - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
                  * 1000000.0 + 0.5) AS BIGINT) END AS corr_e6
    FROM sums
    """,
    doc="per-segment least-squares regression + Pearson correlation of "
    "order value (cents) on line count: the relationship-mining operator "
    "(corr/regr_slope class) the surface lacked. The five raw moments "
    "(n, Σx, Σy, Σx², Σxy, Σy²) accumulate EXACTLY — bigint where the "
    "product can't overflow at any plausible SF, decimal(38,0)/HUGEINT "
    "for y·y and x·y — so they are partition-order-insensitive; each is "
    "cast to double ONCE and slope/corr come out of the identical "
    "closed-form IEEE expression with floor-formula rounding to 1e-6 on "
    "both engines. One shuffle per aggregate, |segments| output rows, "
    "zero-variance segments yield NULL instead of a division blowup",
)
def q140_segment_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    from salesanalytics_etl_spark.functions.scalar import dec182

    orders, lineitem, customer = _t(
        spark, sf_dir, "orders", "lineitem", "customer"
    )
    per_order = lineitem.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("x"),
        (F.sum(dec182("l_extendedprice")) * 100).cast("bigint").alias("y"),
    )
    seg = (
        orders.select("o_orderkey", "o_custkey")
        .join(
            customer.select("c_custkey", "c_mktsegment"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select("o_orderkey", "c_mktsegment")
    )
    sums = (
        per_order.join(seg, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum((F.col("x") * F.col("y")).cast("decimal(38,0)")).alias(
                "sxy"
            ),
            F.sum(F.col("y").cast("decimal(38,0)") * F.col("y")).alias(
                "syy"
            ),
        )
    )
    nd = F.col("n").cast("double")
    sxd = F.col("sx").cast("double")
    syd = F.col("sy").cast("double")
    num = nd * F.col("sxy").cast("double") - sxd * syd
    dx = nd * F.col("sxx").cast("double") - sxd * sxd
    dy = nd * F.col("syy").cast("double") - syd * syd
    return sums.select(
        "c_mktsegment",
        F.col("n").alias("n_orders"),
        F.expr("sy div n").cast("bigint").alias("avg_order_cents"),
        F.expr("(sx * 1000) div n").cast("bigint").alias("avg_lines_e3"),
        F.when(
            dx > 0,
            F.floor(num / dx * F.lit(1000000.0) + F.lit(0.5)).cast("bigint"),
        ).alias("slope_e6"),
        F.when(
            (dx > 0) & (dy > 0),
            F.floor(
                num / F.sqrt(dx * dy) * F.lit(1000000.0) + F.lit(0.5)
            ).cast("bigint"),
        ).alias("corr_e6"),
    )


# 30-day truncated EWMA weight table: w_j = round(0.9^j * 1e9), embedded
# as INTEGER literals in BOTH engines so no runtime pow()/float formatting
# ever runs on the gate surface (same convention as q138's Benford table).
_EWMA_W = [
    1000000000, 900000000, 810000000, 729000000, 656100000, 590490000,
    531441000, 478296900, 430467210, 387420489, 348678440, 313810596,
    282429536, 254186583, 228767925, 205891132, 185302019, 166771817,
    150094635, 135085172, 121576655, 109418989, 98477090, 88629381,
    79766443, 71789799, 64610819, 58149737, 52334763, 47101287,
]

_EWMA_VALUES = ", ".join(f"({j}, {w})" for j, w in enumerate(_EWMA_W))


@register(
    "q141_sales_ewma",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                  AS BIGINT) AS cents
      FROM orders GROUP BY 1
    ), idx AS (
      SELECT d, cents,
             CAST(datediff('day', DATE '1970-01-01', d) AS INT) AS i
      FROM daily
    ), w(j, wt) AS (VALUES {_EWMA_VALUES}),
    contrib AS (
      SELECT a.i + w.j AS ti, w.wt, a.cents AS src_cents
      FROM idx a CROSS JOIN w
    )
    SELECT b.d AS order_date, b.cents AS day_cents,
           CAST(SUM(CAST(c.src_cents AS HUGEINT) * c.wt) // SUM(c.wt)
                AS BIGINT) AS ewma_cents
    FROM idx b JOIN contrib c ON c.ti = b.i
    GROUP BY 1, 2
    """,
    doc="30-day truncated exponentially-weighted moving average of daily "
    "sales (alpha=0.1 decay, weights below ~4.7% truncated): the trend-"
    "smoothing operator behind monitoring dashboards. The recursive EWMA "
    "is re-expressed as a 30-wide equi-join — each day contributes to "
    "its next 30 calendar days through a broadcast weight table of "
    "precomputed INTEGER literals (w_j = round(0.9^j * 1e9), embedded "
    "identically in both engines; runtime pow() never runs) — then one "
    "grouped exact-integer weighted average normalized by the weights of "
    "the days actually PRESENT (calendar gaps don't dilute). Everything "
    "is exact: decimal-accumulated day cents, decimal(38,0)/HUGEINT "
    "weight products, integer division. Scale: |days| x 30 equi-join "
    "rows, never a window, never a range join",
)
def q141_sales_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    from salesanalytics_etl_spark.functions.scalar import dec182

    (orders,) = _t(spark, sf_dir, "orders")
    daily = (
        orders.select(
            F.to_date("o_orderdate").alias("d"),
            dec182("o_totalprice").alias("p"),
        )
        .groupBy("d")
        .agg((F.sum("p") * 100).cast("bigint").alias("cents"))
    )
    idx = daily.withColumn(
        "i", F.datediff(F.col("d"), F.lit("1970-01-01").cast("date"))
    )
    weights = spark.createDataFrame(
        list(enumerate(_EWMA_W)), "j INT, wt BIGINT"
    )
    contrib = (
        idx.alias("a")
        .crossJoin(F.broadcast(weights))
        .select(
            (F.col("a.i") + F.col("j")).alias("ti"),
            "wt",
            F.col("a.cents").alias("src_cents"),
        )
    )
    return (
        idx.alias("b")
        .join(contrib, F.col("b.i") == F.col("ti"))
        .groupBy(F.col("b.d").alias("order_date"), F.col("b.cents").alias("day_cents"))
        .agg(
            F.sum(F.col("src_cents").cast("decimal(38,0)") * F.col("wt"))
            .alias("_num"),
            F.sum("wt").alias("_den"),
        )
        .select(
            "order_date",
            "day_cents",
            F.expr("_num div _den").cast("bigint").alias("ewma_cents"),
        )
    )


@register(
    "q142_pareto_parts",
    oracle="""
    WITH rev AS (
      SELECT l_partkey,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) * 100
                  AS BIGINT) AS rev_c
      FROM lineitem GROUP BY 1
    ), cum AS (
      SELECT l_partkey, rev_c,
             SUM(rev_c) OVER (
               ORDER BY rev_c DESC, l_partkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cum_c,
             SUM(rev_c) OVER () AS tot_c
      FROM rev
    ), cls AS (
      SELECT CASE WHEN cum_c * 10 <= tot_c * 8 THEN 'A'
                  WHEN cum_c * 20 <= tot_c * 19 THEN 'B'
                  ELSE 'C' END AS abc_class,
             rev_c, tot_c
      FROM cum
    )
    SELECT abc_class,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(rev_c) AS BIGINT) AS class_cents,
           CAST((SUM(CAST(rev_c AS HUGEINT)) * 10000) // MAX(tot_c)
                AS INT) AS share_bp
    FROM cls GROUP BY 1
    """,
    doc="Pareto/ABC part classification: parts ranked by revenue DESC "
    "(partkey tiebreak — a total order), classified A while the running "
    "share is <= 80%, B to 95%, C above, then counted and share-of-"
    "revenue'd per class in exact integer arithmetic (cum*10 <= tot*8 "
    "and cum*20 <= tot*19 — never a float share). The cumulative sum "
    "rides operators/ranking.py:append_global_prefix_sum — range-"
    "partitioned local running sums + a bounded broadcast offsets frame "
    "— because |parts| SCALES with the data and the oracle's textbook "
    "global window would single-partition-sort 200M parts at SF1000. "
    "Only parts with sales appear (revenue grain is lineitem)",
)
def q142_pareto_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from salesanalytics_etl_spark.functions.scalar import dec182
    from salesanalytics_etl_spark.operators.ranking import (
        append_global_prefix_sum,
    )

    (lineitem,) = _t(spark, sf_dir, "lineitem")
    rev = lineitem.groupBy("l_partkey").agg(
        (F.sum(dec182("l_extendedprice")) * 100).cast("bigint").alias("rev_c")
    )
    pre = append_global_prefix_sum(
        rev,
        F.col("rev_c"),
        [F.desc("rev_c"), F.asc("l_partkey")],
        out_col="cum_c",
        total_col="tot_c",
    )
    cls = (
        F.when(F.col("cum_c") * 10 <= F.col("tot_c") * 8, "A")
        .when(F.col("cum_c") * 20 <= F.col("tot_c") * 19, "B")
        .otherwise("C")
    )
    return (
        pre.withColumn("abc_class", cls)
        .groupBy("abc_class")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum("rev_c").alias("class_cents"),
            F.max("tot_c").alias("_tot"),
        )
        .select(
            "abc_class",
            "n_parts",
            F.col("class_cents").cast("bigint").alias("class_cents"),
            F.expr("CAST(class_cents AS DECIMAL(38,0)) * 10000 div _tot")
            .cast("int")
            .alias("share_bp"),
        )
    )


@register(
    "q143_weekday_seasonality",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                  AS BIGINT) AS cents
      FROM orders GROUP BY 1
    ), wd AS (
      SELECT (datediff('day', DATE '1970-01-01', d) + 4) % 7 AS weekday,
             cents
      FROM daily
    ), per AS (
      SELECT weekday, CAST(COUNT(*) AS BIGINT) AS n_days,
             CAST(SUM(cents) AS BIGINT) AS sum_c
      FROM wd GROUP BY 1
    ), tot AS (
      SELECT SUM(n_days) AS all_days, SUM(sum_c) AS all_c FROM per
    )
    SELECT CAST(p.weekday AS INT) AS weekday,
           CASE p.weekday WHEN 0 THEN 'Sun' WHEN 1 THEN 'Mon'
                WHEN 2 THEN 'Tue' WHEN 3 THEN 'Wed' WHEN 4 THEN 'Thu'
                WHEN 5 THEN 'Fri' ELSE 'Sat' END AS day_name,
           p.n_days,
           CAST(CAST(p.sum_c AS HUGEINT) // p.n_days AS BIGINT)
             AS avg_day_cents,
           CAST((CAST(p.sum_c AS HUGEINT) * t.all_days * 10000)
                // (CAST(p.n_days AS HUGEINT) * t.all_c) AS INT)
             AS index_bp
    FROM per p, tot t
    """,
    doc="weekday seasonality index: average daily sales per weekday vs "
    "the overall daily average, in exact integer basis points (10000 = "
    "flat) — the seasonal-decomposition complement to q97's global "
    "anomaly z-scores and q58's MoM trend. The weekday is the engine-"
    "portable integer formula (days_since_epoch + 4) % 7 (epoch was a "
    "Thursday; 0=Sun) — never the engines' differently-indexed "
    "dayofweek(). index_bp = (sum_wd * all_days * 10^4) div (n_wd * "
    "all_c), all decimal(38,0)/HUGEINT — no float share. 7 output rows; "
    "one narrow |days|-grain rollup then bounded aggregates",
)
def q143_weekday_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from salesanalytics_etl_spark.functions.scalar import dec182

    (orders,) = _t(spark, sf_dir, "orders")
    daily = (
        orders.select(
            F.to_date("o_orderdate").alias("d"),
            dec182("o_totalprice").alias("p"),
        )
        .groupBy("d")
        .agg((F.sum("p") * 100).cast("bigint").alias("cents"))
    )
    wd = F.pmod(
        F.datediff(F.col("d"), F.lit("1970-01-01").cast("date")) + 4, 7
    )
    per = daily.groupBy(wd.cast("int").alias("weekday")).agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("cents").alias("sum_c"),
    )
    tot = per.agg(
        F.sum("n_days").alias("all_days"), F.sum("sum_c").alias("all_c")
    )
    name = (
        F.when(F.col("weekday") == 0, "Sun")
        .when(F.col("weekday") == 1, "Mon")
        .when(F.col("weekday") == 2, "Tue")
        .when(F.col("weekday") == 3, "Wed")
        .when(F.col("weekday") == 4, "Thu")
        .when(F.col("weekday") == 5, "Fri")
        .otherwise("Sat")
    )
    return (
        per.crossJoin(F.broadcast(tot))  # 1-row totals frame
        .select(
            "weekday",
            name.alias("day_name"),
            "n_days",
            F.expr("sum_c div n_days").cast("bigint").alias("avg_day_cents"),
            F.expr(
                "(CAST(sum_c AS DECIMAL(38,0)) * all_days * 10000) div "
                "(CAST(n_days AS DECIMAL(38,0)) * all_c)"
            )
            .cast("int")
            .alias("index_bp"),
        )
    )


@register(
    "q144_purchase_gap_histogram",
    oracle="""
    WITH seq AS (
      SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
             LAG(CAST(o_orderdate AS DATE)) OVER (
               PARTITION BY o_custkey
               ORDER BY CAST(o_orderdate AS DATE), o_orderkey
             ) AS prev_d
      FROM orders
    ), gaps AS (
      SELECT CAST(datediff('day', prev_d, d) AS BIGINT) AS gap
      FROM seq WHERE prev_d IS NOT NULL
    ), b AS (
      SELECT CASE WHEN gap <= 7 THEN '00-07' WHEN gap <= 30 THEN '08-30'
                  WHEN gap <= 90 THEN '31-90'
                  WHEN gap <= 365 THEN '91-365' ELSE '366+' END AS bucket,
             gap
      FROM gaps
    ), agg AS (
      SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_gaps,
             CAST(SUM(gap) AS BIGINT) AS sum_gap
      FROM b GROUP BY 1
    ), t AS (SELECT SUM(n_gaps) AS total FROM agg)
    SELECT a.bucket, a.n_gaps,
           CAST((a.sum_gap * 100) // a.n_gaps AS BIGINT) AS avg_gap_e2,
           CAST((a.n_gaps * 10000) // t.total AS INT) AS share_bp
    FROM agg a, t
    """,
    doc="inter-purchase interval distribution: per-customer consecutive "
    "order gaps (LAG over a customer-partitioned window, orderkey "
    "tiebreak — same-day orders contribute identical gap multisets "
    "under any tie order) bucketed into 0-7/8-30/31-90/91-365/366+ "
    "days, with exact integer average gap (x100) and share in bp. The "
    "purchase-cadence surface behind churn models that q93's RFM "
    "recency scalar and q136's cohort matrix don't expose. Window grain "
    "is o_custkey (high cardinality — never global); 5 output rows",
)
def q144_purchase_gap_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    (orders,) = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("d", "o_orderkey")
    seq = orders.select(
        "o_custkey", F.to_date("o_orderdate").alias("d"), "o_orderkey"
    ).select("o_custkey", "d", F.lag("d").over(w).alias("prev_d"))
    gaps = seq.filter(F.col("prev_d").isNotNull()).select(
        F.datediff(F.col("d"), F.col("prev_d")).cast("bigint").alias("gap")
    )
    bucket = (
        F.when(F.col("gap") <= 7, "00-07")
        .when(F.col("gap") <= 30, "08-30")
        .when(F.col("gap") <= 90, "31-90")
        .when(F.col("gap") <= 365, "91-365")
        .otherwise("366+")
    )
    agg = gaps.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.sum("gap").alias("sum_gap"),
    )
    t = agg.agg(F.sum("n_gaps").alias("total"))
    return (
        agg.crossJoin(F.broadcast(t))  # 1-row total frame
        .select(
            "bucket",
            "n_gaps",
            F.expr("(sum_gap * 100) div n_gaps")
            .cast("bigint")
            .alias("avg_gap_e2"),
            F.expr("(n_gaps * 10000) div total").cast("int").alias("share_bp"),
        )
    )


@register(
    "q145_active_users_sliding",
    oracle="""
    WITH du AS (
      SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events
    ), contrib AS (
      SELECT du.d + CAST(k.k AS INT) AS td, du.user_id, k.k
      FROM du, UNNEST(range(0, 7)) AS k(k)
    ), days AS (SELECT DISTINCT d FROM du)
    SELECT days.d AS day,
           CAST(COUNT(DISTINCT CASE WHEN c.k = 0 THEN c.user_id END)
                AS BIGINT) AS users_1d,
           CAST(COUNT(DISTINCT c.user_id) AS BIGINT) AS users_7d
    FROM contrib c JOIN days ON c.td = days.d
    GROUP BY 1
    """,
    doc="EXACT trailing-7-day distinct active users per day (DAU + "
    "rolling WAU): distinct counts cannot ride a window SUM (distincts "
    "don't add — q79's rolling revenue can, q110's HLL only "
    "approximates), so each distinct (day, user) observation is "
    "expanded to the <=7 future window-ends it supports via an "
    "exploded 0..6 offset sequence and one grouped COUNT(DISTINCT) "
    "per target day — an equi-join shape, never a range join or a "
    "|days|-wide broadcast nested loop. Scale: the expansion is 7x "
    "|distinct day-user pairs| (<< 7x |events|), one shuffle on the "
    "target day; only days with events are emitted",
)
def q145_active_users_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = _t(spark, sf_dir, "events")
    du = events.select(
        F.to_date("ts").alias("d"), "user_id"
    ).distinct()
    contrib = du.select(
        "d", "user_id", F.explode(F.sequence(F.lit(0), F.lit(6))).alias("k")
    ).select(
        F.date_add(F.col("d"), F.col("k")).alias("td"), "user_id", "k"
    )
    days = du.select("d").distinct()
    return (
        contrib.join(days, F.col("td") == F.col("d"))
        .groupBy(F.col("d").alias("day"))
        .agg(
            F.count_distinct(
                F.when(F.col("k") == 0, F.col("user_id"))
            ).alias("users_1d"),
            F.count_distinct("user_id").alias("users_7d"),
        )
    )


@register(
    "q146_weighted_price_percentiles",
    oracle="""
    WITH sold AS (
      SELECT l_partkey, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
      FROM lineitem GROUP BY 1
    ), joined AS (
      SELECT p.p_partkey,
             CAST(CAST(p.p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS v,
             s.w
      FROM part p JOIN sold s ON p.p_partkey = s.l_partkey
    ), cum AS (
      SELECT v, w,
             SUM(w) OVER (
               ORDER BY v, p_partkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cw,
             SUM(w) OVER () AS tw
      FROM joined
    )
    SELECT CAST(MIN(CASE WHEN cw * 4 >= tw THEN v END) AS BIGINT)
             AS wp25_cents,
           CAST(MIN(CASE WHEN cw * 2 >= tw THEN v END) AS BIGINT)
             AS wmedian_cents,
           CAST(MIN(CASE WHEN cw * 4 >= tw * 3 THEN v END) AS BIGINT)
             AS wp75_cents,
           CAST(MAX(tw) AS BIGINT) AS total_qty,
           CAST(COUNT(*) AS BIGINT) AS n_parts
    FROM cum
    """,
    doc="volume-WEIGHTED price percentiles: p25/median/p75 of part retail "
    "price where each part counts by total quantity sold, not once — the "
    "weighted-quantile operator (a cheap part selling 10x outweighs a "
    "boutique one) that plain percentiles (q37/q128) cannot express. "
    "Weighted rank = running weight via operators/ranking.py:"
    "append_global_prefix_sum over (price, partkey); the pick is the "
    "smallest value whose cumulative weight crosses p*W — all-integer "
    "cw*4 >= tw / cw*2 >= tw / cw*4 >= 3*tw comparisons, no float "
    "thresholds. The oracle's textbook window cumsum would single-"
    "partition-sort |parts| at scale; the engine path range-partitions",
)
def q146_weighted_price_percentiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from salesanalytics_etl_spark.functions.scalar import dec182
    from salesanalytics_etl_spark.operators.ranking import (
        append_global_prefix_sum,
    )

    part, lineitem = _t(spark, sf_dir, "part", "lineitem")
    sold = lineitem.groupBy("l_partkey").agg(
        F.sum(F.col("l_quantity").cast("bigint")).alias("w")
    )
    joined = part.select(
        "p_partkey",
        (dec182("p_retailprice") * 100).cast("bigint").alias("v"),
    ).join(sold, F.col("p_partkey") == F.col("l_partkey"))
    pre = append_global_prefix_sum(
        joined.select("p_partkey", "v", "w"),
        F.col("w"),
        [F.asc("v"), F.asc("p_partkey")],
        out_col="cw",
        total_col="tw",
    )
    return pre.agg(
        F.min(F.when(F.col("cw") * 4 >= F.col("tw"), F.col("v"))).alias(
            "wp25_cents"
        ),
        F.min(F.when(F.col("cw") * 2 >= F.col("tw"), F.col("v"))).alias(
            "wmedian_cents"
        ),
        F.min(
            F.when(F.col("cw") * 4 >= F.col("tw") * 3, F.col("v"))
        ).alias("wp75_cents"),
        F.max("tw").alias("total_qty"),
        F.count(F.lit(1)).alias("n_parts"),
    )


@register(
    "q147_customer_gini",
    oracle="""
    WITH rev AS (
      SELECT o_custkey,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                  AS BIGINT) AS cents
      FROM orders GROUP BY 1
    ), everyone AS (
      SELECT c.c_custkey, COALESCE(r.cents, 0) AS cents
      FROM customer c LEFT JOIN rev r ON c.c_custkey = r.o_custkey
    ), ranked AS (
      SELECT cents,
             ROW_NUMBER() OVER (ORDER BY cents, c_custkey) AS r,
             COUNT(*) OVER () AS n
      FROM everyone
    ), s AS (
      SELECT MAX(n) AS n, SUM(cents) AS tot,
             SUM(CAST(r AS HUGEINT) * cents) AS riwx
      FROM ranked
    )
    SELECT CAST(n AS BIGINT) AS n_customers,
           CAST(tot AS BIGINT) AS total_cents,
           CAST((2 * riwx - (CAST(n AS HUGEINT) + 1) * CAST(tot AS HUGEINT))
                * 10000
                // (CAST(n AS HUGEINT) * CAST(tot AS HUGEINT)) AS INT)
             AS gini_bp
    FROM s
    """,
    doc="Gini coefficient of customer lifetime revenue in exact integer "
    "basis points (0 = perfectly equal, ~10000 = one customer has "
    "everything) — the inequality/concentration measure that pairs with "
    "q142's Pareto classes. Uses the closed form over ascending-sorted "
    "values G = (2*Sum(i*x_i) - (n+1)*Sum(x)) / (n*Sum(x)): the rank i "
    "comes from the DISTRIBUTED append_global_rank (ties permute equal "
    "values, leaving Sum(i*x_i) invariant — deterministic without a "
    "value tiebreak, but custkey makes the order total anyway), the "
    "moment accumulates as decimal(38,0)/HUGEINT, and the final bp is "
    "one integer division. Zero-order customers count at 0 revenue "
    "(LEFT join), so the index reflects the whole book",
)
def q147_customer_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    from salesanalytics_etl_spark.functions.scalar import dec182
    from salesanalytics_etl_spark.operators.ranking import append_global_rank

    orders, customer = _t(spark, sf_dir, "orders", "customer")
    rev = orders.groupBy("o_custkey").agg(
        (F.sum(dec182("o_totalprice")) * 100).cast("bigint").alias("cents")
    )
    everyone = (
        customer.select("c_custkey")
        .join(rev, F.col("c_custkey") == F.col("o_custkey"), "left")
        .select(
            "c_custkey", F.coalesce(F.col("cents"), F.lit(0)).alias("cents")
        )
    )
    ranked = append_global_rank(
        everyone,
        [F.asc("cents"), F.asc("c_custkey")],
        out_col="r",
        total_col="n",
    )
    s = ranked.agg(
        F.max("n").alias("n"),
        F.sum("cents").alias("tot"),
        F.sum(F.col("r").cast("decimal(38,0)") * F.col("cents")).alias(
            "riwx"
        ),
    )
    return s.select(
        F.col("n").cast("bigint").alias("n_customers"),
        F.col("tot").cast("bigint").alias("total_cents"),
        F.expr(
            "(2 * riwx - (CAST(n AS DECIMAL(38,0)) + 1) "
            "* CAST(tot AS DECIMAL(38,0))) * 10000 "
            "div (CAST(n AS DECIMAL(38,0)) * CAST(tot AS DECIMAL(38,0)))"
        )
        .cast("int")
        .alias("gini_bp"),
    )


@register(
    "q148_sales_cusum",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                  AS BIGINT) AS cents
      FROM orders GROUP BY 1
    ), s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(cents) AS tot FROM daily
    ), base AS (
      SELECT d, cents,
             CAST(tot // n AS BIGINT) AS mu,
             cents - CAST(tot // n AS BIGINT)
                   - CAST((tot // n) // 20 AS BIGINT) AS dev
      FROM daily, s
    ), p AS (
      SELECT d, cents, mu,
             SUM(dev) OVER (
               ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS pp
      FROM base
    ), m AS (
      SELECT d, cents, mu, pp,
             MIN(pp) OVER (
               ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS minp
      FROM p
    )
    SELECT d AS order_date, cents AS day_cents,
           CAST(pp - LEAST(0, minp) AS BIGINT) AS cusum_cents,
           CAST(CASE WHEN pp - LEAST(0, minp) >= 2 * CAST(mu AS HUGEINT)
                     THEN 1 ELSE 0 END AS INT) AS alarm
    FROM m
    """,
    doc="one-sided CUSUM change-point detection over daily sales: the "
    "sustained-upward-shift detector (q97's z-scores flag POINT "
    "outliers; CUSUM accumulates small persistent drifts). The textbook "
    "recursion S_t = max(0, S_(t-1) + x_t - mu - k) is not window-"
    "expressible, so it is re-expressed through the exact prefix "
    "identity S_t = P_t - min(0, min_(j<=t) P_j) with P = running sum "
    "of (x - mu - k) — two windows over the calendar-bounded DAY grain "
    "(same bounded class as q18/q79). Allowance k = mu/20 (5%), alarm "
    "at S >= 2*mu; every quantity is exact integer cents from the "
    "decimal-accumulated daily rollup, mu by integer division",
)
def q148_sales_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from salesanalytics_etl_spark.functions.scalar import dec182

    (orders,) = _t(spark, sf_dir, "orders")
    daily = (
        orders.select(
            F.to_date("o_orderdate").alias("d"),
            dec182("o_totalprice").alias("p"),
        )
        .groupBy("d")
        .agg((F.sum("p") * 100).cast("bigint").alias("cents"))
    )
    stats = daily.agg(
        F.count(F.lit(1)).alias("n"), F.sum("cents").alias("tot")
    ).select(F.expr("tot div n").cast("bigint").alias("mu"))
    # unpartitioned BY DESIGN over the calendar-bounded DAY grain —
    # the WindowExec WARN is expected/benign (plan-lint allowlisted)
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    base = daily.crossJoin(F.broadcast(stats)).withColumn(
        "dev",
        F.col("cents") - F.col("mu") - F.expr("mu div 20").cast("bigint"),
    )
    p = base.withColumn("pp", F.sum("dev").over(w))
    m = p.withColumn("minp", F.min("pp").over(w))
    cusum = F.col("pp") - F.least(F.lit(0), F.col("minp"))
    return m.select(
        F.col("d").alias("order_date"),
        F.col("cents").alias("day_cents"),
        cusum.cast("bigint").alias("cusum_cents"),
        F.when(cusum >= 2 * F.col("mu"), 1).otherwise(0).cast("int").alias(
            "alarm"
        ),
    )


@register(
    "q149_categorical_entropy",
    oracle="""
    WITH vals AS (
      SELECT 'orders.o_orderstatus' AS col_name, o_orderstatus AS val
      FROM orders
      UNION ALL
      SELECT 'orders.o_orderpriority', o_orderpriority FROM orders
      UNION ALL
      SELECT 'customer.c_mktsegment', c_mktsegment FROM customer
      UNION ALL
      SELECT 'lineitem.l_returnflag', l_returnflag FROM lineitem
      UNION ALL
      SELECT 'lineitem.l_linestatus', l_linestatus FROM lineitem
      UNION ALL
      SELECT 'part.p_brand', p_brand FROM part
    ), counts AS (
      SELECT col_name, val, COUNT(*) AS c
      FROM vals WHERE val IS NOT NULL
      GROUP BY 1, 2
    ), totals AS (
      SELECT col_name, SUM(c) AS n, COUNT(*) AS k FROM counts GROUP BY 1
    ), contrib AS (
      SELECT counts.col_name,
             CAST(FLOOR(
               (counts.c / totals.n) * (log2(totals.n) - log2(counts.c))
               * 1000000.0 + 0.5) / 1000000.0 AS DECIMAL(18,6)) AS h_term
      FROM counts JOIN totals USING (col_name)
    )
    SELECT t.col_name, CAST(t.n AS BIGINT) AS n_rows,
           CAST(t.k AS BIGINT) AS n_distinct,
           FLOOR(CAST(SUM(c.h_term) AS DOUBLE) * 10000.0 + 0.5) / 10000.0
             AS entropy_bits
    FROM contrib c JOIN totals t USING (col_name)
    GROUP BY 1, 2, 3
    """,
    doc="Shannon entropy profile of the bounded-domain categorical "
    "columns (order status/priority, market segment, return flag, line "
    "status, part brand) — the column-level information density "
    "diagnostic that flags near-constant columns (entropy ~ 0) and "
    "uniform id-like ones (entropy ~ log2 k) for the data-profiling "
    "surface q131 starts. Engine path scans each TABLE once, exploding "
    "a column-name->value map (k x rows, one shuffle on (col, val) — "
    "never one scan per column); per-value contribution follows q120's "
    "determinism discipline: one fixed-shape double expression "
    "(c/N)*(log2 N - log2 c) of EXACT integer counts, rounded to 6dp, "
    "summed as DECIMAL(18,6)",
)
def q149_categorical_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders, customer, lineitem, part = _t(
        spark, sf_dir, "orders", "customer", "lineitem", "part"
    )

    def tagged(df: DataFrame, table: str, cols: list[str]) -> DataFrame:
        pairs: list = []
        for c in cols:
            pairs.append(F.lit(f"{table}.{c}"))
            pairs.append(F.col(c).cast("string"))
        return df.select(
            F.explode(F.create_map(*pairs)).alias("col_name", "val")
        )

    vals = (
        tagged(orders, "orders", ["o_orderstatus", "o_orderpriority"])
        .unionByName(tagged(customer, "customer", ["c_mktsegment"]))
        .unionByName(
            tagged(lineitem, "lineitem", ["l_returnflag", "l_linestatus"])
        )
        .unionByName(tagged(part, "part", ["p_brand"]))
    )
    counts = (
        vals.filter(F.col("val").isNotNull())
        .groupBy("col_name", "val")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    totals = counts.groupBy("col_name").agg(
        F.sum("c").alias("n"), F.count(F.lit(1)).alias("k")
    )
    # floor-formula at 6dp: (c/n)*(log2 n - log2 c) CAN terminate
    # exactly on a 7th-decimal midpoint (power-of-two count pairs,
    # e.g. c=2^j, n=2^(j+7) gives 7/128 = 0.0546875), so engine-native
    # ROUND is in the divergent class here despite the log derivation
    contrib = counts.join(F.broadcast(totals), "col_name").select(
        "col_name",
        (
            F.floor(
                (F.col("c") / F.col("n"))
                * (F.log2("n") - F.log2("c"))
                * F.lit(1000000.0)
                + F.lit(0.5)
            )
            / F.lit(1000000.0)
        )
        .cast("decimal(18,6)")
        .alias("h_term"),
    )
    return (
        contrib.groupBy("col_name")
        .agg(F.sum("h_term").alias("_h"))
        .join(F.broadcast(totals), "col_name")
        .select(
            "col_name",
            F.col("n").cast("bigint").alias("n_rows"),
            F.col("k").cast("bigint").alias("n_distinct"),
            # floor-formula — the exact DECIMAL(18,6) sum can sit on a
            # 4dp midpoint (the q104 sf0.1 class)
            (
                F.floor(F.col("_h").cast("double") * F.lit(10000.0) + F.lit(0.5))
                / F.lit(10000.0)
            ).alias("entropy_bits"),
        )
    )


@register(
    "q150_truncation_audit",
    oracle="""
    WITH tc AS (
      SELECT CAST(length(regexp_extract_all(lower(COALESCE(text, '')),
                                            '[a-z0-9]+')) AS BIGINT) AS tc
      FROM documents
    ), lim(n_limit) AS (VALUES (64), (128), (256), (512))
    SELECT l.n_limit,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN t.tc > l.n_limit THEN 1 ELSE 0 END)
                AS BIGINT) AS n_docs_truncated,
           CAST(SUM(t.tc) AS BIGINT) AS total_tokens,
           CAST(SUM(GREATEST(t.tc - l.n_limit, 0)) AS BIGINT)
             AS tokens_lost,
           CAST(SUM(GREATEST(t.tc - l.n_limit, 0)) * 10000 // SUM(t.tc)
                AS INT) AS loss_bp
    FROM tc t CROSS JOIN lim l
    GROUP BY 1
    """,
    doc="context-window truncation audit: for candidate token limits "
    "(64/128/256/512), how many documents would be cut and what share "
    "of the corpus token mass is lost — the first question a training-"
    "data pipeline asks before fixing max_seq_len. Token counts use "
    "q33's portable regex token stream ([a-z0-9]+ on lowercased text — "
    "identical extraction on both engines), so counts are exact "
    "integers and loss shares are exact basis points. Scale: ONE "
    "documents scan (the count is a map-side size(regexp_extract_all), "
    "never an explode), a 4-row broadcast limit table, and a 4-group "
    "map-side-combined aggregate",
)
def q150_truncation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = _t(spark, sf_dir, "documents")
    tc = documents.select(
        F.size(
            F.regexp_extract_all(
                F.lower(F.coalesce(F.col("text"), F.lit(""))),
                F.lit("[a-z0-9]+"),
                0,
            )
        )
        .cast("bigint")
        .alias("tc")
    )
    limits = spark.createDataFrame(
        [(64,), (128,), (256,), (512,)], "n_limit INT"
    )
    return (
        tc.crossJoin(F.broadcast(limits))
        .groupBy("n_limit")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(F.col("tc") > F.col("n_limit"), 1).otherwise(0)
            ).alias("n_docs_truncated"),
            F.sum("tc").alias("total_tokens"),
            F.sum(
                F.greatest(F.col("tc") - F.col("n_limit"), F.lit(0))
            ).alias("tokens_lost"),
        )
        .select(
            "n_limit",
            "n_docs",
            "n_docs_truncated",
            F.col("total_tokens").cast("bigint").alias("total_tokens"),
            F.col("tokens_lost").cast("bigint").alias("tokens_lost"),
            F.expr("(tokens_lost * 10000) div total_tokens")
            .cast("int")
            .alias("loss_bp"),
        )
    )


@register(
    "q151_supplier_hhi",
    oracle="""
    WITH srev AS (
      SELECT p.p_type, l.l_suppkey,
             CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) * 100
                  AS BIGINT) AS s
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY 1, 2
    )
    SELECT p_type,
           CAST(COUNT(*) AS BIGINT) AS n_suppliers,
           CAST(SUM(s) AS BIGINT) AS type_cents,
           CAST(SUM(CAST(s AS HUGEINT) * s) * 10000
                // (CAST(SUM(s) AS HUGEINT) * CAST(SUM(s) AS HUGEINT))
                AS INT) AS hhi_bp
    FROM srev GROUP BY 1
    """,
    doc="Herfindahl-Hirschman supplier-concentration index per part "
    "type, in exact integer basis points (10000 = monopoly, ~10000/n = "
    "atomized): HHI = sum(share_i^2) re-expressed integer-exactly as "
    "(sum(s_i^2) * 10^4) div (sum(s_i))^2 — the grouped market-"
    "concentration measure beside q147's global Gini and q142's Pareto "
    "classes (supply-risk surface: a type whose revenue hangs on one "
    "supplier). Two map-side-combined aggregates: (type, supplier) "
    "revenue — high-cardinality grain — then a |types|-bounded rollup "
    "with decimal(38,0)/HUGEINT squares; the part dim joins broadcast",
)
def q151_supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    from salesanalytics_etl_spark.functions.scalar import dec182

    part, lineitem = _t(spark, sf_dir, "part", "lineitem")
    srev = (
        lineitem.select("l_partkey", "l_suppkey", "l_extendedprice")
        .join(
            part.select("p_partkey", "p_type"),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("p_type", "l_suppkey")
        .agg(
            (F.sum(dec182("l_extendedprice")) * 100)
            .cast("bigint")
            .alias("s")
        )
    )
    return (
        srev.groupBy("p_type")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.sum("s").alias("type_cents"),
            F.sum(F.col("s").cast("decimal(38,0)") * F.col("s")).alias(
                "_sq"
            ),
        )
        .select(
            "p_type",
            "n_suppliers",
            F.col("type_cents").cast("bigint").alias("type_cents"),
            F.expr(
                "_sq * 10000 div (CAST(type_cents AS DECIMAL(38,0)) "
                "* CAST(type_cents AS DECIMAL(38,0)))"
            )
            .cast("int")
            .alias("hhi_bp"),
        )
    )


@register(
    "q152_decile_lift",
    oracle="""
    WITH hist AS (
      SELECT o_custkey,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                  AS BIGINT) AS h_cents
      FROM orders WHERE CAST(o_orderdate AS DATE) < DATE '1999-01-01'
      GROUP BY 1
    ), tgt AS (
      SELECT o_custkey,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                  AS BIGINT) AS t_cents
      FROM orders WHERE CAST(o_orderdate AS DATE) >= DATE '1999-01-01'
      GROUP BY 1
    ), scored AS (
      SELECT h.o_custkey, h.h_cents, COALESCE(t.t_cents, 0) AS t_cents,
             NTILE(10) OVER (ORDER BY h.h_cents DESC, h.o_custkey)
               AS decile
      FROM hist h LEFT JOIN tgt t ON h.o_custkey = t.o_custkey
    ), per AS (
      SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_customers,
             CAST(SUM(h_cents) AS BIGINT) AS hist_cents,
             CAST(SUM(t_cents) AS BIGINT) AS target_cents
      FROM scored GROUP BY 1
    ), tot AS (
      SELECT SUM(n_customers) AS n_all, SUM(target_cents) AS t_all
      FROM per
    )
    SELECT p.decile, p.n_customers, p.hist_cents, p.target_cents,
           CAST((CAST(p.target_cents AS HUGEINT) * 10000)
                // t.t_all AS INT) AS target_share_bp,
           CAST((CAST(p.target_cents AS HUGEINT) * t.n_all * 10000)
                // (CAST(t.t_all AS HUGEINT) * p.n_customers) AS INT)
             AS lift_bp
    FROM per p, tot t
    """,
    doc="decile lift table: customers ranked into 10 deciles by HISTORY "
    "revenue (orders before 1999), then each decile's share of TARGET-"
    "period revenue (1999+) and its lift vs a random decile — the "
    "gains-chart evaluation behind every propensity/churn model "
    "(decile-1 lift >> 10000 bp = past spend predicts future spend). "
    "The decile is the DISTRIBUTED append_global_ntile over (hist "
    "revenue DESC, custkey) — bit-identical to the oracle's NTILE(10), "
    "no single-partition sort; shares and lift are exact integer bp "
    "((t_decile * n_all * 10^4) div (t_all * n_decile)). Both period "
    "predicates push to the orders scan; the target join is "
    "co-partitioned on custkey",
)
def q152_decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from salesanalytics_etl_spark.functions.scalar import dec182
    from salesanalytics_etl_spark.operators.ranking import append_global_ntile

    (orders,) = _t(spark, sf_dir, "orders")
    dated = orders.select(
        "o_custkey",
        F.to_date("o_orderdate").alias("d"),
        dec182("o_totalprice").alias("p"),
    )
    split = F.lit("1999-01-01").cast("date")
    hist = (
        dated.filter(F.col("d") < split)
        .groupBy("o_custkey")
        .agg((F.sum("p") * 100).cast("bigint").alias("h_cents"))
    )
    tgt = (
        dated.filter(F.col("d") >= split)
        .groupBy("o_custkey")
        .agg((F.sum("p") * 100).cast("bigint").alias("t_cents"))
    )
    scored = append_global_ntile(
        hist.join(tgt, "o_custkey", "left").select(
            "o_custkey",
            "h_cents",
            F.coalesce(F.col("t_cents"), F.lit(0)).alias("t_cents"),
        ),
        10,
        [F.desc("h_cents"), F.asc("o_custkey")],
        "decile",
    )
    per = scored.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("h_cents").alias("hist_cents"),
        F.sum("t_cents").alias("target_cents"),
    )
    tot = per.agg(
        F.sum("n_customers").alias("n_all"),
        F.sum("target_cents").alias("t_all"),
    )
    return (
        per.crossJoin(F.broadcast(tot))  # 1-row totals frame
        .select(
            "decile",
            "n_customers",
            F.col("hist_cents").cast("bigint").alias("hist_cents"),
            F.col("target_cents").cast("bigint").alias("target_cents"),
            F.expr(
                "(CAST(target_cents AS DECIMAL(38,0)) * 10000) div t_all"
            )
            .cast("int")
            .alias("target_share_bp"),
            F.expr(
                "(CAST(target_cents AS DECIMAL(38,0)) * n_all * 10000) "
                "div (CAST(t_all AS DECIMAL(38,0)) * n_customers)"
            )
            .cast("int")
            .alias("lift_bp"),
        )
    )


@register(
    "q153_seasonal_backtest",
    oracle="""
    WITH monthly AS (
      SELECT (EXTRACT(YEAR FROM CAST(o_orderdate AS DATE)) * 12
              + EXTRACT(MONTH FROM CAST(o_orderdate AS DATE)) - 1) AS m,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                  AS BIGINT) AS cents
      FROM orders GROUP BY 1
    ), paired AS (
      SELECT a.m, a.cents AS actual, p.cents AS pred
      FROM monthly a JOIN monthly p ON p.m = a.m - 12
      WHERE a.cents > 0
    ), scored AS (
      SELECT m, actual, pred,
             CAST((ABS(actual - pred) * 10000) // actual AS BIGINT)
               AS ape_bp
      FROM paired
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_months,
           CAST(SUM(ape_bp) // COUNT(*) AS BIGINT) AS mape_bp,
           CAST(MAX(ape_bp) AS BIGINT) AS max_ape_bp,
           -- sign-split: DuckDB // FLOORS negatives while Spark div
           -- TRUNCATES — dividing the magnitude keeps both engines on
           -- identical non-negative operands
           CAST(CASE WHEN SUM(pred - actual) >= 0
                     THEN (SUM(pred - actual) * 10000)
                          // CAST(SUM(actual) AS HUGEINT)
                     ELSE -((SUM(actual - pred) * 10000)
                            // CAST(SUM(actual) AS HUGEINT)) END
                AS BIGINT) AS bias_bp
    FROM scored
    """,
    doc="seasonal-naive forecast backtest: predict each month's revenue "
    "by the SAME month one year earlier, report MAPE / worst APE / "
    "signed bias in exact integer basis points — the forecasting-"
    "evaluation harness (any real model must beat seasonal-naive to "
    "justify itself; the bias sign says whether the business is "
    "growing past its seasonality). Months ride the portable integer "
    "index year*12+month-1 (q136's convention — never months_between); "
    "the lag join is a self-equi-join on the |months|-bounded rollup; "
    "per-month APE is exact integer division, so both engines agree "
    "bit-for-bit with zero float renders",
)
def q153_seasonal_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from salesanalytics_etl_spark.functions.scalar import dec182

    (orders,) = _t(spark, sf_dir, "orders")
    monthly = (
        orders.select(
            (
                F.year(F.to_date("o_orderdate")) * 12
                + F.month(F.to_date("o_orderdate"))
                - 1
            ).alias("m"),
            dec182("o_totalprice").alias("p"),
        )
        .groupBy("m")
        .agg((F.sum("p") * 100).cast("bigint").alias("cents"))
    )
    paired = (
        monthly.alias("a")
        .join(
            monthly.alias("p"),
            F.col("p.m") == F.col("a.m") - 12,
        )
        .filter(F.col("a.cents") > 0)
        .select(
            F.col("a.cents").alias("actual"),
            F.col("p.cents").alias("pred"),
        )
    )
    scored = paired.select(
        "actual",
        "pred",
        F.expr("(ABS(actual - pred) * 10000) div actual")
        .cast("bigint")
        .alias("ape_bp"),
    )
    return scored.agg(
        F.count(F.lit(1)).alias("n_months"),
        F.expr("CAST(SUM(ape_bp) div COUNT(*) AS BIGINT)").alias("mape_bp"),
        F.max("ape_bp").alias("max_ape_bp"),
        # sign-split integer division: `div` truncates toward zero but
        # DuckDB `//` floors, so a negative numerator would differ by 1
        # between engines — divide the magnitude, reapply the sign
        F.expr(
            "CAST(CASE WHEN SUM(pred - actual) >= 0 "
            "THEN (SUM(pred - actual) * 10000) "
            "div CAST(SUM(actual) AS DECIMAL(38,0)) "
            "ELSE -((SUM(actual - pred) * 10000) "
            "div CAST(SUM(actual) AS DECIMAL(38,0))) END AS BIGINT)"
        ).alias("bias_bp"),
    )


@register(
    "q154_time_to_conversion",
    oracle="""
    WITH v AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'
    ), p AS (
      SELECT user_id, ts FROM events WHERE event_type = 'purchase'
    ), m AS (
      SELECT v.event_id,
             MIN(date_diff('microseconds', v.ts, p.ts)) AS lat_us
      FROM v LEFT JOIN p ON p.user_id = v.user_id
           AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 7 DAY
      GROUP BY v.event_id
    ), b AS (
      SELECT CASE WHEN lat_us IS NULL THEN 'none'
                  WHEN lat_us < 3600000000 THEN '00-01h'
                  WHEN lat_us < 86400000000 THEN '01-24h'
                  WHEN lat_us < 259200000000 THEN '1-3d'
                  ELSE '3-7d' END AS bucket,
             lat_us
      FROM m
    ), agg AS (
      SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_views,
             SUM(lat_us) AS s, COUNT(lat_us) AS nc
      FROM b GROUP BY 1
    ), t AS (SELECT SUM(n_views) AS total FROM agg)
    SELECT a.bucket, a.n_views,
           CAST((a.n_views * 10000) // t.total AS INT) AS share_bp,
           CAST(CASE WHEN a.nc > 0 THEN a.s // (a.nc * 1000000) END
                AS BIGINT) AS avg_latency_s
    FROM agg a, t
    """,
    doc="view-to-purchase conversion latency: for every view event, the "
    "EARLIEST purchase by the same user within 7 days (the FORWARD "
    "as-of join — operators/temporal.py:asof_join_forward, mirroring "
    "q43's backward pick), bucketed <1h / <24h / 1-3d / 3-7d / never. "
    "Latency is naive-timestamp microseconds (timestampdiff vs "
    "date_diff — no epoch, no session-timezone dependence on NTZ "
    "event times), averages are exact integer division. The funnel-"
    "LATENCY surface q80 (step counts) and q135 (transition "
    "probabilities) don't expose. Scale: one user-keyed range join "
    "(purchases ≪ events) + a per-view-id window pick, 5 output rows",
)
def q154_time_to_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from salesanalytics_etl_spark.operators.temporal import asof_join_forward

    (events,) = _t(spark, sf_dir, "events")
    views = events.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts"
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts"
    )
    picked = asof_join_forward(
        views,
        purchases,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        horizon="7 days",
        right_cols=["ts"],
    )
    lat = F.expr("timestampdiff(MICROSECOND, ts, asof_ts)")
    b = picked.select(
        F.when(lat.isNull(), "none")
        .when(lat < 3600000000, "00-01h")
        .when(lat < 86400000000, "01-24h")
        .when(lat < 259200000000, "1-3d")
        .otherwise("3-7d")
        .alias("bucket"),
        lat.alias("lat_us"),
    )
    agg = b.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_views"),
        F.sum("lat_us").alias("s"),
        F.count("lat_us").alias("nc"),
    )
    t = agg.agg(F.sum("n_views").alias("total"))
    return (
        agg.crossJoin(F.broadcast(t))  # 1-row total frame
        .select(
            "bucket",
            "n_views",
            F.expr("(n_views * 10000) div total").cast("int").alias(
                "share_bp"
            ),
            F.expr(
                "CAST(CASE WHEN nc > 0 THEN s div (nc * 1000000) END "
                "AS BIGINT)"
            ).alias("avg_latency_s"),
        )
    )


@register(
    "q155_new_vs_returning",
    oracle="""
    WITH o AS (
      SELECT o_custkey,
             (EXTRACT(YEAR FROM CAST(o_orderdate AS DATE)) * 12
              + EXTRACT(MONTH FROM CAST(o_orderdate AS DATE)) - 1) AS m,
             CAST(o_totalprice AS DECIMAL(18,2)) AS price
      FROM orders
    ), firsts AS (
      SELECT o_custkey, MIN(m) AS first_m FROM o GROUP BY 1
    )
    SELECT o.m AS month_idx,
           CAST(o.m // 12 AS VARCHAR) || '-' ||
             lpad(CAST(o.m % 12 + 1 AS VARCHAR), 2, '0') AS ym,
           CAST(SUM(CASE WHEN o.m = f.first_m THEN 1 ELSE 0 END)
                AS BIGINT) AS n_new_orders,
           CAST(SUM(CASE WHEN o.m = f.first_m THEN price ELSE 0 END) * 100
                AS BIGINT) AS new_cents,
           CAST(SUM(CASE WHEN o.m > f.first_m THEN price ELSE 0 END) * 100
                AS BIGINT) AS returning_cents,
           CAST((CAST(SUM(CASE WHEN o.m = f.first_m THEN price ELSE 0 END)
                      * 100 AS HUGEINT) * 10000)
                // CAST(SUM(price) * 100 AS HUGEINT) AS INT)
             AS new_share_bp
    FROM o JOIN firsts f ON o.o_custkey = f.o_custkey
    GROUP BY 1, 2
    """,
    doc="new-vs-returning revenue split by month: a customer's FIRST "
    "order month tags that month's revenue as acquisition, everything "
    "later as retention — the growth-quality decomposition behind "
    "every board deck (q136's cohort matrix shows retention depth; "
    "this shows the headline mix). Month rides the portable integer "
    "index year*12+month-1; the ym render is integer div/mod + lpad "
    "(no engine date formatting); shares are exact integer bp over "
    "decimal-accumulated cents. Scale: one custkey-keyed first-month "
    "aggregate co-partitioned with the join back, |months| output rows",
)
def q155_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    from salesanalytics_etl_spark.functions.scalar import dec182

    (orders,) = _t(spark, sf_dir, "orders")
    o = orders.select(
        "o_custkey",
        (
            F.year(F.to_date("o_orderdate")) * 12
            + F.month(F.to_date("o_orderdate"))
            - 1
        ).alias("m"),
        dec182("o_totalprice").alias("price"),
    )
    firsts = o.groupBy("o_custkey").agg(F.min("m").alias("first_m"))
    ym = F.concat(
        F.expr("CAST(m div 12 AS STRING)"),
        F.lit("-"),
        F.lpad(F.expr("CAST(m % 12 + 1 AS STRING)"), 2, "0"),
    )
    return (
        o.join(firsts, "o_custkey")
        .groupBy("m")
        .agg(
            F.sum(F.when(F.col("m") == F.col("first_m"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_new_orders"),
            (
                F.sum(
                    F.when(
                        F.col("m") == F.col("first_m"), F.col("price")
                    ).otherwise(F.lit(0).cast("decimal(18,2)"))
                )
                * 100
            )
            .cast("bigint")
            .alias("new_cents"),
            (
                F.sum(
                    F.when(
                        F.col("m") > F.col("first_m"), F.col("price")
                    ).otherwise(F.lit(0).cast("decimal(18,2)"))
                )
                * 100
            )
            .cast("bigint")
            .alias("returning_cents"),
        )
        .select(
            F.col("m").alias("month_idx"),
            ym.alias("ym"),
            "n_new_orders",
            "new_cents",
            "returning_cents",
            F.expr(
                "(CAST(new_cents AS DECIMAL(38,0)) * 10000) "
                "div (new_cents + returning_cents)"
            )
            .cast("int")
            .alias("new_share_bp"),
        )
    )
