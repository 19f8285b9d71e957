"""Edit-noise near-duplicate audits: how do the approximate near-dup
operators behave on REALISTIC near-duplicates (small token edits), not
just exact copies?

Motivation (r12 verdict, gap #2): the scale probes replicate document
text EXACTLY, so every volume measurement of the MinHash/LSH and
SimHash paths so far ran in the degenerate-duplicate regime (J = 1.0,
Hamming = 0). These operators manufacture a *deterministic,
engine-portable* perturbed twin of each document — drop ~1/``drop_mod``
of its whitespace tokens, chosen by ``md5('edit-'||doc_id||'-'||i)`` —
and measure, per known (original, variant) pair:

- exact 5-gram Jaccard (the ground truth the pipelines target),
- the MinHash signature agreement (the estimator),
- whether any of the 6x5 LSH bands collide (q109's banding — the
  recall event), and
- the SimHash Hamming distance + 16-bit-chunk pigeonhole hit (q26's
  banding).

Because the pair under audit is (doc, its own variant), EVERY join is
keyed by doc_id — the audit is linear in the corpus, with no candidate
self-join. That is what makes it oracle-checkable at probe volumes
where DuckDB cannot replay the full LSH pipeline (measured >79 GB
spill at 10x — SCALE.md Round-12), and shuffle-bounded at 100 TB: the
widest exchange is the doc-keyed signature aggregation, identical in
shape to the production signature stage.

Everything is derived from md5 so the DuckDB oracle regenerates the
identical variant corpus, hash family, and band keys (the q109/q26
portability pattern). Reference parity: the reference engine has no
such audit; this extends its dedup surface
(/root/reference/etl_sales_analytics.py:302-330 has only exact
row-dedup) with the measurement a 100 TB curation pipeline needs
before trusting LSH recall claims.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from salesanalytics_etl_spark.operators.dedup import (
    N_BANDS,
    N_HASHES,
    N_SIM_BITS,
    ROWS_PER_BAND,
    SHINGLE_K,
    _portable_perm_constants,
    md5_token_hash,
    spread_partitions,
)
from salesanalytics_etl_spark.operators.text import normalize_text

# drop every token whose md5 tag lands in 1/DROP_MOD of the space (~10%
# deletion — small-edit regime, keeps most pairs above the J>=0.5 target)
DROP_MOD = 10
# mixed mode: action = md5 tag % (3*DROP_MOD) — 0 delete, 1 replace,
# 2 insert-after, else keep. Each edit type hits ~1/30 of tokens, so the
# OVERALL edit rate matches drop-only (~10%) while replace/insert ADD
# shingles the original never had — the regime the r13 S-curve could
# not measure (deletions only ever REMOVE shingles).
# reorder mode: the doc is cut into N_SEGMENTS equal token runs and the
# runs are permuted by md5('ro-'||doc_id||'-seg-'||seg) — section
# reordering, the remaining realistic near-dup regime (r14 verdict
# item 5): the token MULTISET is untouched (SimHash is provably
# invariant), the char-5-gram shingle set changes only at segment
# boundaries (LSH sees a high-J pair for long docs, a scrambled one
# for short docs), and winnowing windows move wholesale.
N_SEGMENTS = 8
# audit a deterministic 1/SAMPLE_MOD of docs (salt 'editsample-',
# independent of the q51 split hash and q183's 'sample-' salt): the
# audit is linear, but its oracle twin re-derives 64 min-aggregates
# over the exploded shingle stream — 25% keeps the 30x probe inside
# the oracle engine's reach while the decile histogram stays populated
SAMPLE_MOD = 4


def _md5_int(tag: Column) -> Column:
    """First 24 bits of md5(tag) as a non-negative int — the portable
    sampling hash (DuckDB: CAST('0x'||substr(md5(tag),1,6) AS INT))."""
    return F.conv(F.substring(F.md5(tag), 1, 6), 16, 10).cast("int")


def perturbed_text(
    doc_id_expr: str,
    text_expr: str,
    salt: str = "edit",
    drop_mod: int = DROP_MOD,
    edits: str = "drop",
) -> Column:
    """Deterministic edit-noise variant of an ALREADY-NORMALIZED text
    column. ``doc_id_expr``/``text_expr`` are SQL expression strings
    (usually plain column names; callers with computed inputs stage
    them as columns first) — the whole perturbation parses as ONE
    ``F.expr`` call. The previous Column-combinator form paid ~5-10
    py4j round-trips per expression node (~0.2-0.3 s per audit build,
    r17 opt round measured); the parsed trees are identical.

    ``edits='drop'`` (default): token at 1-based position i is dropped
    iff ``md5(salt||'-'||doc_id||'-'||i) % drop_mod == 0`` — deletions
    only, so the variant's shingle set is a noisy SUBSET-leaning twin.

    ``edits='mixed'``: the same md5 tag mod ``3*drop_mod`` picks an
    action per token — 0 delete, 1 replace with a synthetic
    vocabulary-hash token (``substr(md5('ins-'||salt||'-'||doc_id||
    '-'||i), 1, 8)``), 2 insert that token AFTER the original, else
    keep. Each edit type hits ~1/(3*drop_mod) of tokens, so the total
    edit rate matches drop-only while replace/insert ADD shingles the
    original never had (the r13 handoff gap: deletions can only remove
    shingles, so the measured S-curve had never seen shingle-adding
    edits).

    ``edits='reorder'``: no token is added or dropped — the doc's
    :data:`N_SEGMENTS` equal token runs are permuted by
    ``md5(salt||'-'||doc_id||'-seg-'||s)`` (tokens within a run keep
    original order). Section reordering is the remaining realistic
    near-dup regime: the token multiset is invariant (SimHash provably
    unchanged) while char-shingle sets change only at run boundaries
    and winnowing windows move wholesale.

    All modes are higher-order-function projections (interpreted per
    element) rather than explode+string_agg: ~one md5 per token (mixed
    mode stages the action tag into a struct so CaseWhen branches don't
    re-evaluate it; the synthetic-token md5 is lazy, ~2/(3*drop_mod) of
    tokens) — the same work the explode path would do — with no shuffle
    and no re-grouping.
    Parameterized by ``salt`` so the scale probe can mint DISTINCT
    variants per replica (each replica a different small edit of the
    same base doc — the realistic near-dup clique regime).
    """
    import re as _re

    for label, v in (("salt", salt), ("doc_id_expr", doc_id_expr),
                     ("text_expr", text_expr)):
        # interpolated into a SQL string — reject anything that could
        # change the parse (quotes, backquotes, backslashes, comments)
        if _re.search(r"['\"`\\;]|--", v):
            raise ValueError(f"{label} {v!r} unsafe for SQL interpolation")
    d = f"cast({doc_id_expr} as string)"
    toks = f"split({text_expr}, ' ')"
    # _md5_int twin: first 24 bits of md5(tag) as int (same tree as the
    # former F.conv(F.substring(F.md5(tag),1,6),16,10).cast('int'))
    tag = f"concat('{salt}-', {d}, '-', cast(i + 1 as string))"
    md5i = f"cast(conv(substring(md5({tag}), 1, 6), 16, 10) as int)"

    if edits == "drop":
        return F.expr(
            f"array_join(filter({toks}, (tok, i) -> "
            f"{md5i} % {drop_mod} != 0), ' ')"
        )
    if edits == "reorder":
        # segment permutation: token at 0-based index i of an n-token
        # doc belongs to segment (i*N_SEGMENTS) div n; segments are
        # permuted by the 60-bit md5 of 'salt-doc-seg-s' (the portable
        # hash family), tokens within a segment keep original order.
        # array_sort over (segkey, i, tok) structs — one projection,
        # no shuffle, no explode; the DuckDB twin is
        # string_agg(tok ORDER BY segkey, i). No token is added or
        # dropped, so the token multiset (and SimHash) is invariant.
        segkey = (
            f"cast(conv(substring(md5(concat('{salt}-', {d}, '-seg-', "
            f"cast((i * {N_SEGMENTS}) div size({toks}) as string))), "
            f"1, 15), 16, 10) as bigint)"
        )
        return F.expr(
            f"array_join(transform(array_sort(transform({toks}, "
            f"(tok, i) -> struct({segkey} as segkey, i as i, tok as tok)"
            f")), s -> s.tok), ' ')"
        )
    if edits != "mixed":
        raise ValueError(f"unknown edits mode {edits!r}")

    # stage 1 computes the action tag ONCE per token into a struct
    # field: HOF lambdas are interpreted with no common-subexpression
    # elimination, so CaseWhen predicates over a bare `a` expression
    # would re-evaluate the md5 subtree per branch (~3x on the keep
    # path — post-close review). The synthetic-token md5 stays inside
    # the case branches, where laziness means only ~2/(3*drop_mod) of
    # tokens pay it — net ~1.07 md5 per token at the default rate.
    new = f"substring(md5(concat('ins-{salt}-', {d}, '-', s.pos)), 1, 8)"
    # array_join drops NULL elements (the deletions) when no
    # null-replacement is given — one projection, no explode
    return F.expr(
        f"array_join(transform(transform({toks}, (tok, i) -> struct("
        f"{md5i} % {3 * drop_mod} as a, tok as tok, "
        f"cast(i + 1 as string) as pos)), s -> "
        f"case when s.a = 0 then cast(null as string) "
        f"when s.a = 1 then {new} "
        f"when s.a = 2 then concat(s.tok, ' ', {new}) "
        f"else s.tok end), ' ')"
    )


def editnoise_pairs(
    df: DataFrame,
    text_col: str = "text",
    drop_mod: int = DROP_MOD,
    sample_mod: int | None = SAMPLE_MOD,
    edits: str = "drop",
) -> DataFrame:
    """(doc_id, t, v): normalized text and its deterministic edit-noise
    variant (token-drop by default; ``edits='mixed'`` adds replace and
    insert edits under salt ``'mix'``; ``edits='reorder'`` permutes
    :data:`N_SEGMENTS` token runs under salt ``'ro'`` — see
    :func:`perturbed_text`).

    ``t`` is the fingerprint-canonical form (:func:`normalize_text` —
    lowercase, whitespace collapsed), so ``split(t, ' ')`` yields the
    identical token list in both engines. A doc whose every token is
    dropped yields ``v = ''`` (the DuckDB twin reproduces this via
    LEFT JOIN + COALESCE). The sample salt is shared by both modes, so
    the mixed-mode audits run on the SAME sampled docs as the drop-mode
    ones — per-decile numbers are directly comparable.
    """
    base = df.select("doc_id", normalize_text(F.col(text_col)).alias("t"))
    if sample_mod:
        base = base.filter(
            _md5_int(
                F.concat(
                    F.lit("editsample-"), F.col("doc_id").cast("string")
                )
            )
            % sample_mod
            == 0
        )
    salt = {"drop": "edit", "mixed": "mix", "reorder": "ro"}.get(edits)
    if salt is None:
        # same self-explanatory error perturbed_text raises — a bare
        # KeyError from the salt map would hide the contract (review)
        raise ValueError(f"unknown edits mode {edits!r}")
    return spread_partitions(base).select(
        "doc_id",
        "t",
        perturbed_text("doc_id", "t", salt, drop_mod, edits).alias("v"),
    )


def _sided(pairs: DataFrame) -> DataFrame:
    """(doc_id, side 'o'|'v', txt) — both texts of each pair as rows, so
    one keyed aggregation computes per-side statistics without a
    self-join."""
    return pairs.select(
        "doc_id",
        F.explode(
            F.array(
                F.struct(
                    F.lit("o").alias("side"), F.col("t").alias("txt")
                ),
                F.struct(
                    F.lit("v").alias("side"), F.col("v").alias("txt")
                ),
            )
        ).alias("s"),
    ).select("doc_id", "s.side", "s.txt")


def editnoise_lsh_audit(
    df: DataFrame,
    text_col: str = "text",
    edits: str = "drop",
    drop_mod: int = DROP_MOD,
    sample_mod: int | None = SAMPLE_MOD,
) -> DataFrame:
    """Per-Jaccard-decile LSH recall under small-edit noise.

    For each (original, variant) pair: exact shingle Jaccard (basis
    points, integer floor-round), MinHash-estimated Jaccard from the
    32-hash portable signature, and how many of the 6 bands (5 rows
    each — q109's geometry) collide. Grouped by exact-Jaccard decile:

        j_decile | n_pairs | n_band_hit | sum_band_hits
                 | sum_exact_bp | sum_est_bp | recall_bp

    ``n_band_hit / n_pairs`` IS the LSH S-curve measured on this
    corpus: a pair is recalled by the production pipeline iff >=1 band
    collides (the bucket cap only subtracts from degenerate buckets,
    which a (doc, variant) pair never forms alone). All arithmetic is
    integer (``(a*20000 + b) div (2*b)`` = floor(a/b*1e4 + .5)), so
    the oracle comparison is exact.

    Scale shape: one explode->hash scan of 2x the sampled corpus, one
    doc-keyed 64-column min-aggregation (map-side combinable), one
    (doc, shingle) distinct for the exact side, two doc-keyed rollups.
    No pair join; output <=10 rows at any volume.
    """
    perms = _portable_perm_constants()
    pairs = editnoise_pairs(
        df, text_col, drop_mod=drop_mod, sample_mod=sample_mod, edits=edits
    )
    # a side shorter than the gram size contributes an EMPTY shingle set
    # (it has no signature in the production pipeline either) — the
    # pre-r14 greatest(...,1) bound emitted one truncated phantom gram
    # for such sides, skewing tiny-doc pairs (r13 ADVICE). A pair where
    # NEITHER side has a k-gram drops out of the audit; a pair with one
    # sub-gram side lands in decile 0 with est 0 (in mixed mode an
    # insert/replace can give the VARIANT grams a tiny original lacks,
    # so either side can be the empty one).
    ex = (
        _sided(pairs)
        .filter(F.length("txt") >= SHINGLE_K)
        .select(
            "doc_id",
            "side",
            F.explode(
                F.sequence(
                    F.lit(1), F.length("txt") - (SHINGLE_K - 1)
                )
            ).alias("i"),
            "txt",
        )
        .select(
            "doc_id",
            "side",
            md5_token_hash(F.expr(f"substr(txt, i, {SHINGLE_K})")).alias(
                "h"
            ),
        )
    )
    # signatures of BOTH sides in one doc-keyed agg: min is
    # duplicate-insensitive, so the raw (never distinct'd) shingle
    # stream feeds 2 x N_HASHES conditional partial-mins
    # built as SQL strings — one py4j call per expression instead of the
    # former ~10-call Column-combinator loops, which made DataFrame
    # construction (driver Python) a multi-second fixed cost per audit
    # (measured r16 opt round; semantics identical)
    sig_aggs = [
        F.expr(
            f"min(case when side = '{side}' then h ^ {perms[i]}L end)"
            f" as {side}{i}"
        )
        for side in ("o", "v")
        for i in range(N_HASHES)
    ]
    sigs = ex.groupBy("doc_id").agg(*sig_aggs)
    # when-form (not a bare cast of the equality): a sub-gram-length
    # side leaves its mins NULL, and NULL must count as "no match", not
    # poison the whole sum
    match_cnt = F.expr(
        " + ".join(
            f"(case when o{i} = v{i} then 1 else 0 end)"
            for i in range(N_HASHES)
        )
    )
    band_hits = F.expr(
        " + ".join(
            # a band collides iff all its rows agree — exactly the
            # band_key (md5 of the concatenated rows) equality the
            # pipeline joins on
            "(case when "
            + " and ".join(
                f"o{i} = v{i}"
                for i in range(b * ROWS_PER_BAND, (b + 1) * ROWS_PER_BAND)
            )
            + " then 1 else 0 end)"
            for b in range(N_BANDS)
        )
    )
    sigstats = sigs.select(
        "doc_id",
        match_cnt.alias("match_cnt"),
        band_hits.alias("band_hits"),
    )
    # exact Jaccard: per-hash side membership, then per-doc sizes/overlap
    # — all doc-keyed. No pre-distinct: the (doc_id, h) groupBy's ``max``
    # flags are duplicate-insensitive, so the former ``ex.distinct()``
    # exchange was redundant with the groupBy's own partial aggregation
    # (guide §2.4; r16 opt round, results bit-identical)
    per_h = ex.groupBy("doc_id", "h").agg(
        F.max((F.col("side") == "o").cast("int")).alias("in_o"),
        F.max((F.col("side") == "v").cast("int")).alias("in_v"),
    )
    stats = per_h.groupBy("doc_id").agg(
        F.sum("in_o").alias("sz_o"),
        F.sum("in_v").alias("sz_v"),
        F.sum(F.col("in_o") * F.col("in_v")).alias("ov"),
    )
    per = (
        stats.join(sigstats, "doc_id")
        .withColumn("un", F.col("sz_o") + F.col("sz_v") - F.col("ov"))
        .withColumn(
            "j_bp", F.expr("(ov * 20000 + un) div (2 * un)")
        )
        .withColumn(
            "est_bp",
            F.expr(
                f"(cast(match_cnt as bigint) * 20000 + {N_HASHES})"
                f" div {2 * N_HASHES}"
            ),
        )
        .withColumn(
            "j_decile",
            F.least(F.expr("j_bp div 1000"), F.lit(9)).cast("int"),
        )
    )
    grouped = per.groupBy("j_decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum((F.col("band_hits") > 0).cast("int"))
        .cast("bigint")
        .alias("n_band_hit"),
        F.sum("band_hits").cast("bigint").alias("sum_band_hits"),
        F.sum("j_bp").cast("bigint").alias("sum_exact_bp"),
        F.sum("est_bp").cast("bigint").alias("sum_est_bp"),
    )
    return grouped.select(
        "j_decile",
        "n_pairs",
        "n_band_hit",
        "sum_band_hits",
        "sum_exact_bp",
        "sum_est_bp",
        F.expr("(n_band_hit * 20000 + n_pairs) div (2 * n_pairs)")
        .cast("bigint")
        .alias("recall_bp"),
    ).orderBy("j_decile")


def editnoise_simhash_audit(
    df: DataFrame,
    text_col: str = "text",
    edits: str = "drop",
    drop_mod: int = DROP_MOD,
    sample_mod: int | None = SAMPLE_MOD,
) -> DataFrame:
    """SimHash behavior under small-edit noise: Hamming-distance
    histogram of (original, variant) signature pairs + the 16-bit-chunk
    pigeonhole hit rate (q26's candidate-generation event).

        hamming | n_pairs | n_chunk_hit

    A pair enters q26's candidate stage iff >=1 of the 4 chunks is
    identical — guaranteed by pigeonhole for Hamming <= 3, *measured*
    here for the realistic tail above it. Tokenization is the shared
    CJK-aware whitespace tokenizer re-applied to the canonical texts
    (idempotent on Latin corpora; CJK codepoints re-segment), hashed
    with the portable md5 family so DuckDB rebuilds identical
    signatures. One token scan, one doc-keyed 126-column vote
    aggregation, no pair join; output <= 64 rows.
    """
    pairs = editnoise_pairs(
        df, text_col, drop_mod=drop_mod, sample_mod=sample_mod, edits=edits
    )
    # q26's tokenizer applied to the canonical text: segment CJK,
    # re-collapse, split — identical nesting to the q184 oracle
    from salesanalytics_etl_spark.operators.text import cjk_segment

    toks = F.array_distinct(
        F.split(normalize_text(cjk_segment(F.col("txt"))), r"\s+")
    )
    # NO distinct here: ``toks`` is already array_distinct per (doc, side)
    # row and _sided emits each (doc_id, side) exactly once, so the
    # exploded rows are globally unique — the pre-r16 ``.distinct()`` was
    # a full token-grain exchange that changed nothing (optimization
    # guide §2.4: remove shuffles outright; r16 opt round, results
    # bit-identical)
    th = _sided(pairs).select(
        "doc_id", "side", F.explode(toks).alias("tok")
    ).select("doc_id", "side", md5_token_hash(F.col("tok")).alias("h"))
    # the 126 vote aggregates and the two 63-term signature folds are
    # built as SQL strings (ONE py4j call per expression) — the former
    # Column-combinator loops cost ~10 py4j round-trips per aggregate
    # and made DataFrame CONSTRUCTION the dominant fixed cost of this
    # audit (measured r16 opt round: build 3.5-14 s vs exec ~1 s at
    # sf0.1). Expressions are semantically identical: CASE WHEN with no
    # ELSE = the when().when() NULL default, bigint literals match the
    # former cast('long') shapes.
    vote_aggs = [
        F.expr(
            f"sum(case when side = '{side}' and"
            f" (shiftright(h, {b}) & 1) = 1 then 1"
            f" when side = '{side}' then -1 end) as {side}{b}"
        )
        for side in ("o", "v")
        for b in range(N_SIM_BITS)
    ]
    voted = th.groupBy("doc_id").agg(*vote_aggs)

    def _sig(side: str) -> Column:
        return F.expr(
            " + ".join(
                f"(case when {side}{b} > 0 then {2**b}L else 0L end)"
                for b in range(N_SIM_BITS)
            )
        )

    sigs = voted.select(
        "doc_id", _sig("o").alias("so"), _sig("v").alias("sv")
    )
    chunk_hit = F.expr(
        "greatest("
        + ", ".join(
            f"cast((shiftright(so, {16 * c}) & 65535)"
            f" = (shiftright(sv, {16 * c}) & 65535) as int)"
            for c in range(4)
        )
        + ")"
    )
    per = sigs.select(
        F.bit_count(F.col("so").bitwiseXOR(F.col("sv")))
        .cast("int")
        .alias("hamming"),
        chunk_hit.alias("chunk_hit"),
    )
    return (
        per.groupBy("hamming")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum("chunk_hit").cast("bigint").alias("n_chunk_hit"),
        )
        .orderBy("hamming")
    )


def editnoise_winnow_audit(
    df: DataFrame,
    text_col: str = "text",
    edits: str = "drop",
    drop_mod: int = DROP_MOD,
    sample_mod: int | None = SAMPLE_MOD,
) -> DataFrame:
    """Winnowing-fingerprint fidelity under small-edit noise: per
    (original, variant) pair, the Jaccard of the q60 winnowed
    fingerprint sets (8-gram hashes, window-4 min, distinct) next to
    the exact 5-gram shingle Jaccard, rolled per exact-Jaccard decile:

        j_decile | n_pairs | sum_exact_bp | sum_winnow_bp
                 | sum_abs_gap_bp

    Winnowing stores ~2/(w+1) of the k-gram hashes, so the question a
    plagiarism/dedup deployment asks is whether that sample PRESERVES
    similarity under realistic edits — the per-decile gap answers it
    with an exact integer. Same linear doc-keyed shape as the LSH
    audit (the window is per (doc, side) — data-grain partitions, no
    funnel); output <= 10 rows.
    """
    from pyspark.sql import Window

    pairs = editnoise_pairs(
        df, text_col, drop_mod=drop_mod, sample_mod=sample_mod, edits=edits
    )
    sided = _sided(pairs)

    def _gram_rows(k: int, with_pos: bool) -> DataFrame:
        # sub-gram-length sides emit EMPTY sets (no phantom truncated
        # gram — r13 ADVICE); see editnoise_lsh_audit for the semantics
        ex = sided.filter(F.length("txt") >= k).select(
            "doc_id",
            "side",
            F.explode(
                F.sequence(F.lit(1), F.length("txt") - (k - 1))
            ).alias("i"),
            "txt",
        )
        cols = ["doc_id", "side", "i"] if with_pos else ["doc_id", "side"]
        return ex.select(
            *cols,
            md5_token_hash(F.expr(f"substr(txt, i, {k})")).alias("h"),
        )

    def _pair_jaccard(distinct_h: DataFrame, out: str) -> DataFrame:
        per_h = distinct_h.groupBy("doc_id", "h").agg(
            F.max((F.col("side") == "o").cast("int")).alias("in_o"),
            F.max((F.col("side") == "v").cast("int")).alias("in_v"),
        )
        return (
            per_h.groupBy("doc_id")
            .agg(
                F.sum("in_o").alias("sz_o"),
                F.sum("in_v").alias("sz_v"),
                F.sum(F.col("in_o") * F.col("in_v")).alias("ov"),
            )
            .withColumn("un", F.col("sz_o") + F.col("sz_v") - F.col("ov"))
            .select(
                "doc_id",
                F.expr("(ov * 20000 + un) div (2 * un)").alias(out),
            )
        )

    # no pre-distinct on either side: _pair_jaccard's (doc_id, h) groupBy
    # aggregates with duplicate-insensitive ``max`` flags, so the former
    # ``.distinct()`` calls were redundant gram-grain exchanges (guide
    # §2.4; r16 opt round, results bit-identical)
    exact = _pair_jaccard(_gram_rows(SHINGLE_K, with_pos=False), "j_bp")
    w = (
        Window.partitionBy("doc_id", "side")
        .orderBy("i")
        .rowsBetween(-3, 0)
    )
    winnowed = _gram_rows(8, with_pos=True).select(
        "doc_id", "side", F.min("h").over(w).alias("h")
    )
    winnow = _pair_jaccard(winnowed, "w_bp")
    # LEFT join: a doc with >=1 5-gram but no 8-gram has an exact row
    # and an empty winnow universe — count it with w_bp = 0 rather than
    # dropping the pair from the audit
    per = (
        exact.join(winnow, "doc_id", "left")
        .withColumn("w_bp", F.coalesce("w_bp", F.lit(0).cast("bigint")))
        .withColumn(
            "j_decile",
            F.least(F.expr("j_bp div 1000"), F.lit(9)).cast("int"),
        )
    )
    return (
        per.groupBy("j_decile")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum("j_bp").cast("bigint").alias("sum_exact_bp"),
            F.sum("w_bp").cast("bigint").alias("sum_winnow_bp"),
            F.sum(F.abs(F.col("w_bp") - F.col("j_bp")))
            .cast("bigint")
            .alias("sum_abs_gap_bp"),
        )
        .orderBy("j_decile")
    )
