"""Round-12 ops — the VERDICT r11 frontier demands:

- ``dedup_semantic_cluster`` — SemDeDup (Abbas et al. 2023,
  "SemDeDup: Data-efficient learning at web-scale through semantic
  deduplication", public arXiv 2303.09540): k-means cluster the
  embedding space, then prune within-cluster pairs above a cosine
  threshold keeping the lowest-id representative. The embedding
  analog of ``dedup_minhash_lsh``'s Σ bucket² candidate bound, and
  the one widely-deployed public LLM-dedup family the registry
  lacked (VERDICT r11 #1).
- ``text_quality_classifier_score`` — linear quality-classifier
  inference as native columns (the DCLM / FineWeb-edu shape:
  hashed bag-of-words features × a fixed public-style weight
  vector + sigmoid), VERDICT r11 #4.
- ``sim_rrf_fusion`` — reciprocal-rank fusion (Cormack, Clarke &
  Büttcher, SIGIR 2009) of the existing BM25 lexical ranking and
  the dense cosine ranking — hybrid retrieval's standard merge,
  VERDICT r11 #5.
- ``sim_maxsim_late_interaction`` — ColBERT-style late-interaction
  scoring (Khattab & Zaharia, SIGIR 2020): multi-vector documents
  scored by the sum over query token-vectors of the max cosine
  against any document token-vector — the retrieval-scoring family
  (multi-vector) the registry's dense/lexical/fused trio lacked.
- ``dedup_cdc_chunks`` — content-defined chunking dedup (LBFS cut
  rule, Muthitacharoen et al. SOSP'01; FastCDC, Xia et al. ATC'16):
  rolling-hash boundaries make chunk identity shift-resistant, the
  storage-dedup view of corpus redundancy the fixed-width chunker
  cannot give.

Registry conventions as everywhere (queries/__init__.py docstring).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from caliper_poc_data_etl_spark.queries.registry import query, spread, t

# ---------------------------------------------------------------------------
# SemDeDup — semantic dedup over embeddings
# ---------------------------------------------------------------------------

# Same threshold as the exact quadratic baseline (dedup_embedding_cosine)
# so the recall-vs-exact test compares like with like.
SEM_COS_THRESHOLD = 0.4
_SEM_SALTS = 16


def _dot(x, y):
    return F.aggregate(
        F.zip_with(x, y, lambda p, q: (p * q).cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _semantic_oracle() -> str:
    from caliper_poc_data_etl_spark.queries.round5 import _kmeans_oracle

    tail = f"""
    , mem AS (
      SELECT af.vec_id, af.k, e.embedding,
             sqrt(CAST(list_dot_product(e.embedding, e.embedding) AS DOUBLE))
               AS nrm
      FROM af JOIN embeddings e ON e.vec_id = af.vec_id
    ), close AS (
      SELECT a.vec_id AS va, b.vec_id AS vb
      FROM mem a JOIN mem b ON a.k = b.k AND a.vec_id < b.vec_id
      WHERE CAST(list_dot_product(a.embedding, b.embedding) AS DOUBLE)
            / (a.nrm * b.nrm) >= {SEM_COS_THRESHOLD}
    ), nc AS (
      SELECT vec_id, CAST(COUNT(*) AS BIGINT) AS n_close FROM (
        SELECT va AS vec_id FROM close
        UNION ALL SELECT vb AS vec_id FROM close
      ) GROUP BY vec_id
    ), pruned AS (
      SELECT DISTINCT vb AS vec_id FROM close
    )
    SELECT af.vec_id, af.k AS cluster,
           p.vec_id IS NULL AS kept,
           COALESCE(nc.n_close, 0) AS n_close
    FROM af
    LEFT JOIN pruned p ON p.vec_id = af.vec_id
    LEFT JOIN nc ON nc.vec_id = af.vec_id
    """
    return _kmeans_oracle(tail=tail)


@query("dedup_semantic_cluster", oracle=_semantic_oracle())
def dedup_semantic_cluster(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023): semantic dedup over embeddings —
    k-means clusters the embedding space (the shared exact-integer
    Lloyd machinery, round5.py), then ONLY within-cluster pairs are
    cosine-scored; a vector is pruned when a lower-id vector in the
    SAME cluster has cosine >= the threshold, so each semantic
    duplicate group keeps exactly its lowest-id representative.
    Output per vector: its cluster, the kept/pruned verdict, and its
    within-cluster close-neighbor count.

    This is the embedding analog of ``dedup_minhash_lsh``: the
    cluster plays the LSH bucket's role and bounds pair generation at
    Σ cluster_size² instead of |corpus|² (the exact quadratic twin is
    ``dedup_embedding_cosine``; recall vs it is asserted in tests —
    cross-cluster near-dup pairs are the misses, the documented
    SemDeDup trade-off, §3 of the paper).

    Scale shape: pair generation is an equi-join on (cluster, salt) —
    the b-side's salt is ``pmod(vec_id, 16)`` and the a-side
    replicates 16x, so each pair is produced exactly once while the
    join parallelism is clusters x 16 tasks rather than one task per
    cluster (k-means K is small here; at 100 TB K grows with the
    corpus and the salt keeps per-task pair counts bounded either
    way). Norms are materialized per SIDE before the join — one
    interpreted dot per pair, not three (the sim_cosine_topk lesson).
    Cosine thresholding is on raw doubles, bit-identical cross-engine
    (the dedup_embedding_cosine convention)."""
    from caliper_poc_data_etl_spark.queries.round5 import (
        _kmeans_final_assignment,
    )

    af = _kmeans_final_assignment(spark, sf_dir).select("vec_id", "k")
    e = t(spark, sf_dir, "embeddings")
    base = af.join(e.select("vec_id", "embedding"), "vec_id").select(
        "vec_id",
        "k",
        "embedding",
        F.sqrt(_dot("embedding", "embedding")).alias("nrm"),
    )
    a = base.select(
        F.col("vec_id").alias("vec_a"),
        "k",
        F.col("embedding").alias("emb_a"),
        F.col("nrm").alias("nrm_a"),
        F.explode(
            F.array(*[F.lit(s) for s in range(_SEM_SALTS)])
        ).alias("salt"),
    ).repartition(_SEM_SALTS, F.col("k"), F.col("salt"))
    b = base.select(
        F.col("vec_id").alias("vec_b"),
        "k",
        F.col("embedding").alias("emb_b"),
        F.col("nrm").alias("nrm_b"),
        F.pmod(F.col("vec_id"), F.lit(_SEM_SALTS)).cast("int").alias("salt"),
    )
    cos = _dot("emb_a", "emb_b") / (
        F.col("nrm_a") * F.col("nrm_b")
    )
    close = (
        a.join(F.broadcast(b), ["k", "salt"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .filter(cos >= SEM_COS_THRESHOLD)
        .select("vec_a", "vec_b")
    )
    nc = (
        close.select(F.col("vec_a").alias("vec_id"))
        .unionAll(close.select(F.col("vec_b").alias("vec_id")))
        .groupBy("vec_id")
        .agg(F.count("*").alias("n_close"))
    )
    pruned = close.select(F.col("vec_b").alias("vec_id")).distinct().withColumn(
        "_pruned", F.lit(True)
    )
    return (
        af.join(pruned, "vec_id", "left")
        .join(nc, "vec_id", "left")
        .select(
            "vec_id",
            F.col("k").alias("cluster"),
            F.col("_pruned").isNull().alias("kept"),
            F.coalesce("n_close", F.lit(0).cast("long")).alias("n_close"),
        )
    )


# ---------------------------------------------------------------------------
# Quality-classifier inference as native columns (DCLM / FineWeb-edu shape)
# ---------------------------------------------------------------------------

_QC_BUCKETS = 256  # same feature space as text_hashing_vectorizer
# Fixed "trained" weights, one per hash bucket, published as a closed
# integer form both engines derive identically (stands in for loading a
# real classifier's weight table): w_b = ((b*1103515245 + 12345) % 2001)
# - 1000, an integer in [-1000, 1000] interpreted at 1e-3 scale.
_QC_LCG_A = 1103515245
_QC_LCG_C = 12345
_QC_MOD = 2001


def _qc_oracle() -> str:
    return f"""
    WITH weights AS (
      SELECT CAST(u.b AS BIGINT) AS bucket,
             CAST((u.b * {_QC_LCG_A} + {_QC_LCG_C}) % {_QC_MOD} - 1000
                  AS BIGINT) AS w
      FROM unnest(range(0, {_QC_BUCKETS})) AS u(b)
    ), toks AS (
      SELECT doc_id,
             ('0x' || substr(md5(tok), 1, 8))::BIGINT % {_QC_BUCKETS}
               AS bucket
      FROM (
        SELECT doc_id,
               unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
        FROM documents
      )
    ), agg AS (
      SELECT t.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(SUM(w.w) AS BIGINT) AS w_sum
      FROM toks t JOIN weights w ON w.bucket = t.bucket
      GROUP BY t.doc_id
    )
    SELECT doc_id, n_tokens, w_sum,
           FLOOR(1.0 / (1.0 + EXP(
               -(FLOOR(w_sum / (n_tokens * 1000.0) * 1e6 + 0.5) / 1e6)
             )) * 1e6 + 0.5) / 1e6 AS score
    FROM agg
    """


@query("text_quality_classifier_score", oracle=_qc_oracle())
def text_quality_classifier_score(spark, sf_dir):
    """Model-based quality-classifier inference as native columns —
    the DCLM / FineWeb-edu curation shape (a linear classifier over
    hashed bag-of-words features scores every document; the score
    gates what enters the training mix). Features are the
    ``text_hashing_vectorizer`` bucket space (256 buckets, md5-prefix
    hash); the "model" is a fixed weight vector derived from a public
    closed form (LCG over the bucket id — stands in for a trained
    model's broadcast weight table); score = sigmoid(w·x / n_tokens).

    Plan shape (VERDICT r11 #4 contract): per-token bucket → ONE
    broadcast join against the 256-row weight table (how a real
    model's weights load: a table, not an expression) → ONE hash
    aggregate on doc_id. No other shuffle anywhere; the weight join
    is map-side. At 100 TB this is a scan-shaped pipeline — inference
    cost rides the tokenizer explode, state is O(buckets).

    Cross-engine determinism: w_sum and n_tokens are exact integers;
    the logit floor-quantizes to 6 dp BEFORE the sigmoid (the
    bm25/perplexity transcendental convention, here with EXP) and the
    score floor-quantizes to 6 dp — FLOOR(x*1e6+0.5), never ROUND,
    whose decimal-half handling diverges between engines for exact
    halves like 1001/16000."""
    d = t(spark, sf_dir, "documents")
    weights = (
        spark.range(_QC_BUCKETS)
        .select(
            F.col("id").alias("bucket"),
            ((F.col("id") * _QC_LCG_A + _QC_LCG_C) % _QC_MOD - 1000).alias(
                "w"
            ),
        )
    )
    toks = d.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias(
            "tok"
        ),
    ).select(
        "doc_id",
        (
            F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long")
            % _QC_BUCKETS
        ).alias("bucket"),
    )
    agg = (
        toks.join(F.broadcast(weights), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("w").alias("w_sum"),
        )
    )
    # FLOOR(x*1e6 + 0.5) quantization, NOT ROUND: both engines then run
    # the identical IEEE mult/add/floor sequence on the identical
    # double, where ROUND's decimal-boundary handling diverges between
    # Spark (BigDecimal HALF_UP on the binary expansion) and DuckDB for
    # exact-half logits like 1001/16000 (caught at sf0.1).
    logit6 = (
        F.floor(
            F.col("w_sum") / (F.col("n_tokens") * 1000.0) * 1e6 + F.lit(0.5)
        )
        / 1e6
    )
    return agg.select(
        "doc_id",
        "n_tokens",
        "w_sum",
        (
            F.floor(1.0 / (1.0 + F.exp(-logit6)) * 1e6 + F.lit(0.5)) / 1e6
        ).alias("score"),
    )


# ---------------------------------------------------------------------------
# Hybrid-retrieval rank fusion (RRF)
# ---------------------------------------------------------------------------

_RRF_K = 60  # the constant from Cormack et al. 2009; public default
_RRF_TOPN = 20  # depth of each input ranking
_RRF_QUERY_VEC = 0  # the dense query: embedding of vec_id 0


def _rrf_oracle() -> str:
    from caliper_poc_data_etl_spark.queries.text import _bm25_oracle

    return f"""
    WITH lex AS (
      SELECT doc_id,
             CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS INT)
               AS rank_lex
      FROM ({_bm25_oracle()})
    ), q AS (
      SELECT embedding AS q_emb,
             sqrt(CAST(list_dot_product(embedding, embedding) AS DOUBLE))
               AS q_nrm
      FROM embeddings WHERE vec_id = {_RRF_QUERY_VEC}
    ), dense AS (
      SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY cos_raw DESC, doc_id)
               AS INT) AS rank_dense
      FROM (
        SELECT e.vec_id AS doc_id,
               CAST(list_dot_product(e.embedding, q.q_emb) AS DOUBLE)
                 / (sqrt(CAST(list_dot_product(e.embedding, e.embedding)
                              AS DOUBLE)) * q.q_nrm) AS cos_raw
        FROM embeddings e CROSS JOIN q
        WHERE e.vec_id <> {_RRF_QUERY_VEC}
      )
      QUALIFY rank_dense <= {_RRF_TOPN}
    )
    SELECT COALESCE(l.doc_id, d.doc_id) AS doc_id,
           l.rank_lex, d.rank_dense,
           FLOOR((COALESCE(1.0 / ({_RRF_K} + l.rank_lex), 0.0)
                  + COALESCE(1.0 / ({_RRF_K} + d.rank_dense), 0.0))
                 * 1e6 + 0.5) / 1e6 AS rrf_score,
           CAST(ROW_NUMBER() OVER (ORDER BY
               FLOOR((COALESCE(1.0 / ({_RRF_K} + l.rank_lex), 0.0)
                      + COALESCE(1.0 / ({_RRF_K} + d.rank_dense), 0.0))
                     * 1e6 + 0.5) / 1e6
               DESC, COALESCE(l.doc_id, d.doc_id)) AS INT) AS fused_rank
    FROM lex l FULL OUTER JOIN dense d ON d.doc_id = l.doc_id
    """


@query("sim_rrf_fusion", oracle=_rrf_oracle())
def sim_rrf_fusion(spark, sf_dir):
    """Hybrid-retrieval rank fusion: reciprocal-rank fusion (RRF,
    Cormack, Clarke & Büttcher SIGIR 2009 — score(d) = Σ_r 1/(k +
    rank_r(d)), k = 60) of the two rankings the registry already
    grades — the ``text_bm25_topk`` lexical top-20 and the dense
    cosine top-20 for a fixed query vector (vec_id 0; embeddings
    share the documents' id space). A document missing from one
    ranking contributes 0 from that ranker — the full-outer-join
    semantics that make RRF robust to rankers with disjoint
    coverage.

    Plan shape: two bounded top-N inputs (each already a graded
    operator's plan: BM25 is two corpus scans with a broadcast df
    join; dense is a broadcast-1-row query against the corpus scan),
    a full outer join of two <= 20-row sets, and one global window
    over <= 40 rows — every unbounded stage is rank-limited before
    the join, so fusion cost is O(N log N) in the ranking depth, not
    the corpus. Cross-engine determinism: ranks are integers; each
    1/(k+rank) is one IEEE division; the fused score floor-quantizes
    to 6 dp (FLOOR(x*1e6+0.5), the classifier-score lesson) and the
    fused rank orders by the QUANTIZED score (ties on doc_id)."""
    from caliper_poc_data_etl_spark.queries.text import text_bm25_topk

    lex = text_bm25_topk(spark, sf_dir).select(
        "doc_id",
        F.row_number()
        .over(W.orderBy(F.desc("bm25"), "doc_id"))
        .cast("int")
        .alias("rank_lex"),
    )
    e = t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == _RRF_QUERY_VEC).select(
        F.col("embedding").alias("q_emb"),
        F.sqrt(_dot("embedding", "embedding")).alias("q_nrm"),
    )
    cos = _dot("embedding", "q_emb") / (
        F.sqrt(_dot("embedding", "embedding")) * F.col("q_nrm")
    )
    dense = (
        e.filter(F.col("vec_id") != _RRF_QUERY_VEC)
        .crossJoin(F.broadcast(q))
        .select(F.col("vec_id").alias("doc_id"), cos.alias("cos_raw"))
        .withColumn(
            "rank_dense",
            F.row_number()
            .over(W.orderBy(F.desc("cos_raw"), "doc_id"))
            .cast("int"),
        )
        .filter(F.col("rank_dense") <= _RRF_TOPN)
        .select("doc_id", "rank_dense")
    )
    fused = lex.join(dense, "doc_id", "full_outer")
    # FLOOR(x*1e6+0.5) quantization, not ROUND — the
    # text_quality_classifier_score boundary lesson applied here too.
    rrf = (
        F.floor(
            (
                F.coalesce(1.0 / (_RRF_K + F.col("rank_lex")), F.lit(0.0))
                + F.coalesce(
                    1.0 / (_RRF_K + F.col("rank_dense")), F.lit(0.0)
                )
            )
            * 1e6
            + F.lit(0.5)
        )
        / 1e6
    )
    return (
        fused.withColumn("rrf_score", rrf)
        .withColumn(
            "fused_rank",
            F.row_number()
            .over(W.orderBy(F.desc("rrf_score"), "doc_id"))
            .cast("int"),
        )
        .select(
            "doc_id", "rank_lex", "rank_dense", "rrf_score", "fused_rank"
        )
    )


# ---------------------------------------------------------------------------
# ColBERT-style late-interaction (MaxSim) retrieval scoring
# ---------------------------------------------------------------------------

# Multi-vector layout derived from the embeddings fixture: consecutive
# runs of _MAXSIM_DOC_TOKENS vectors form one "document" (doc_id =
# vec_id div 8) — the per-token contextual embeddings a ColBERT-style
# encoder emits. Document 0's tokens are the query's token vectors.
_MAXSIM_DOC_TOKENS = 8
_MAXSIM_TOPN = 10


def _maxsim_oracle() -> str:
    g = _MAXSIM_DOC_TOKENS
    return f"""
    WITH xq AS MATERIALIZED (
      SELECT vec_id AS qid, u.i AS j,
             CAST(ROUND(CAST(embedding[u.i] AS DOUBLE) * 1000) AS BIGINT)
               AS x
      FROM embeddings, unnest(range(1, 65)) AS u(i)
      WHERE vec_id < {g}
    ), xd AS MATERIALIZED (
      SELECT vec_id, vec_id // {g} AS doc_id, u.i AS j,
             CAST(ROUND(CAST(embedding[u.i] AS DOUBLE) * 1000) AS BIGINT)
               AS x
      FROM embeddings, unnest(range(1, 65)) AS u(i)
      WHERE vec_id >= {g}
    ), nq AS (
      SELECT qid, CAST(SUM(x * x) AS BIGINT) AS n2 FROM xq GROUP BY qid
    ), nd AS (
      SELECT vec_id, CAST(SUM(x * x) AS BIGINT) AS n2
      FROM xd GROUP BY vec_id
    ), dots AS (
      SELECT d.vec_id, d.doc_id, q.qid,
             CAST(SUM(d.x * q.x) AS BIGINT) AS dp
      FROM xd d JOIN xq q ON q.j = d.j
      GROUP BY d.vec_id, d.doc_id, q.qid
    ), cosm AS (
      SELECT dots.doc_id, dots.qid,
             CAST(FLOOR(CAST(dp * 1000000 AS DOUBLE)
                  / sqrt(CAST(nd.n2 AS DOUBLE) * CAST(nq.n2 AS DOUBLE))
                  + 0.5) AS BIGINT) AS cos_micro
      FROM dots
      JOIN nd ON nd.vec_id = dots.vec_id
      JOIN nq ON nq.qid = dots.qid
    ), ms AS (
      SELECT doc_id, qid, MAX(cos_micro) AS maxsim_micro
      FROM cosm GROUP BY doc_id, qid
    ), sc AS (
      SELECT doc_id,
             CAST(SUM(maxsim_micro) AS BIGINT) AS score_micro,
             CAST(COUNT(*) AS BIGINT) AS n_q
      FROM ms GROUP BY doc_id
    )
    SELECT CAST(rk AS INT) AS rank, doc_id, score_micro, n_q FROM (
      SELECT *, ROW_NUMBER() OVER (ORDER BY score_micro DESC, doc_id)
               AS rk
      FROM sc
    ) WHERE rk <= {_MAXSIM_TOPN}
    """


def _milli(col):
    """Milli-integer element quantization — the exact chain the kmeans
    machinery grades green (round5.py xe): float element -> double
    (exact) -> one IEEE multiply by 1000 -> half-away round -> BIGINT."""
    return F.transform(col, lambda v: F.round(v.cast("double") * 1000).cast("long"))


def _idot(x, y):
    """Exact integer dot product of two BIGINT arrays — order-immune."""
    return F.aggregate(
        F.zip_with(x, y, lambda p, q: p * q),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


@query("sim_maxsim_late_interaction", oracle=_maxsim_oracle())
def sim_maxsim_late_interaction(spark, sf_dir):
    """ColBERT-style late-interaction retrieval scoring (Khattab &
    Zaharia, "ColBERT: Efficient and Effective Passage Search via
    Contextualized Late Interaction over BERT", SIGIR 2020): documents
    are MULTI-vector (one embedding per token), and a document's score
    for a query is MaxSim — the sum over the query's token vectors of
    the maximum cosine against any document token vector. The
    multi-vector member of the retrieval-scoring family next to the
    dense single-vector ``sim_cosine_topk``, lexical ``text_bm25_topk``
    and fused ``sim_rrf_fusion``.

    Fixture layout: consecutive runs of ``_MAXSIM_DOC_TOKENS`` (8)
    embedding rows form one document (``doc_id = vec_id div 8``) —
    doc 0 is the query's token set, every other doc is corpus. Output:
    the top-``_MAXSIM_TOPN`` docs by total MaxSim, with rank.

    Plan shape: the query's 8 token vectors BROADCAST against the
    corpus token scan (the sanctioned ``sim_cosine_topk`` shape — cost
    is |corpus| x |query tokens|, linear in the corpus); the per-(doc,
    query-token) max and the per-doc sum are BOTH map-side-combining
    hash aggregates — the only rows that ever cross a shuffle are the
    |docs| x 8 partial-max outputs and their |docs|-row per-doc
    reduction; the corpus token scan itself never shuffles, and the
    top-N window runs on <= |docs| pre-aggregated rows. The
    production refinement at 100 TB is the standard ColBERT
    two-stage (ANN-prune candidate docs via ``sim_ann_lsh``-style
    bucketing on token vectors, then MaxSim only the candidates) —
    a composition of two graded operators.

    Cross-engine determinism — fully integer at the boundary (the
    kmeans milli-quantization convention, round5.py): elements
    quantize to milli-ints through one identical IEEE chain; dots and
    squared norms are EXACT BIGINT sums (a float dot here measurably
    floor-flips at 1e-6 — DuckDB's list_dot_product accumulation
    differs from Spark's fold in the last bits); the only floating
    step is cos_micro = FLOOR(dp*1e6 / sqrt(nd*nq) + 0.5), the same
    single mult/sqrt/div/floor chain on identical integer inputs in
    both engines. Per-(doc,qid) MAX and the per-doc SUM are then
    integer — immune to accumulation order."""
    g = _MAXSIM_DOC_TOKENS
    e = t(spark, sf_dir, "embeddings")
    xq = _milli(F.col("embedding"))
    q = e.filter(F.col("vec_id") < g).select(
        F.col("vec_id").alias("qid"),
        xq.alias("q_x"),
        _idot(xq, xq).alias("q_n2"),
    )
    d = e.filter(F.col("vec_id") >= g).select(
        F.expr(f"vec_id div {g}").alias("doc_id"),
        xq.alias("d_x"),
        _idot(xq, xq).alias("d_n2"),
    )
    dp = _idot(F.col("d_x"), F.col("q_x"))
    cos_micro = F.floor(
        (dp * F.lit(1000000)).cast("double")
        / F.sqrt(F.col("d_n2").cast("double") * F.col("q_n2").cast("double"))
        + F.lit(0.5)
    ).cast("long")
    ms = (
        d.crossJoin(F.broadcast(q))
        .select("doc_id", "qid", cos_micro.alias("cos_micro"))
        .groupBy("doc_id", "qid")
        .agg(F.max("cos_micro").alias("maxsim_micro"))
    )
    sc = ms.groupBy("doc_id").agg(
        F.sum("maxsim_micro").cast("long").alias("score_micro"),
        F.count(F.lit(1)).cast("long").alias("n_q"),
    )
    w = W.orderBy(F.desc("score_micro"), "doc_id")
    return (
        sc.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= _MAXSIM_TOPN)
        .select("rank", "doc_id", "score_micro", "n_q")
    )


# ---------------------------------------------------------------------------
# Content-defined chunking (CDC) dedup
# ---------------------------------------------------------------------------

CDC_W = 8  # rolling-hash window (chars)
CDC_DIV = 32  # boundary divisor: cut when hash % DIV == 0 (~32-char chunks)


def _cdc_oracle() -> str:
    w, dv = CDC_W, CDC_DIV
    return f"""
    WITH pos AS (
      SELECT doc_id, text, u.i AS p
      FROM documents, unnest(range(1, length(text) - {w} + 2)) AS u(i)
      WHERE length(text) >= {w}
    ), cuts AS (
      SELECT doc_id, p + {w} - 1 AS e
      FROM pos
      WHERE ('0x' || substr(md5(substr(text, CAST(p AS INT), {w})), 1, 8))::BIGINT
            % {dv} = 0
    ), ends AS (
      SELECT DISTINCT doc_id, e FROM (
        SELECT doc_id, e FROM cuts
        UNION ALL
        SELECT doc_id, CAST(length(text) AS BIGINT) AS e FROM documents
      )
    ), chunks AS (
      SELECT doc_id, e,
             COALESCE(LAG(e) OVER (PARTITION BY doc_id ORDER BY e), 0) + 1
               AS s
      FROM ends
    ), hashed AS (
      SELECT c.doc_id, c.s, c.e,
             md5(substr(d.text, CAST(c.s AS INT), CAST(c.e - c.s + 1 AS INT)))
               AS chash
      FROM chunks c JOIN documents d ON d.doc_id = c.doc_id
    ), freq AS (
      SELECT chash, CAST(COUNT(*) AS BIGINT) AS cnt FROM hashed GROUP BY chash
    )
    SELECT h.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(CASE WHEN f.cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_chunks,
           CAST(SUM(CASE WHEN f.cnt > 1 THEN h.e - h.s + 1 ELSE 0 END)
             AS BIGINT) AS dup_chars,
           CAST(MAX(h.e) AS BIGINT) AS total_chars,
           CAST(CASE WHEN MAX(h.e) = 0 THEN 0
                ELSE 1000 * SUM(CASE WHEN f.cnt > 1 THEN h.e - h.s + 1
                                     ELSE 0 END) // MAX(h.e) END AS BIGINT)
             AS dup_permille
    FROM hashed h JOIN freq f ON f.chash = h.chash
    GROUP BY h.doc_id
    """


@query("dedup_cdc_chunks", oracle=_cdc_oracle())
def dedup_cdc_chunks(spark, sf_dir):
    """Content-defined chunking dedup (the LBFS rolling-hash cut rule —
    Muthitacharoen, Chen & Mazières SOSP'01 — whose modern production
    form is FastCDC, Xia et al. USENIX ATC'16): chunk boundaries fall
    AFTER any 8-char window whose hash % 32 == 0, so chunk identity is
    decided by CONTENT, not offset — an insertion near the head of a
    document re-chunks only up to the first boundary past the edit,
    and every later chunk keeps its exact hash. That shift-resistance
    is what the fixed-width ``curation_chunk_dedup_rewrite`` (C4-style
    8-word chunks) cannot give: a one-word prefix edit there shifts
    and re-keys EVERY downstream chunk. Output per document: chunk
    count, how many of its chunks appear elsewhere in the corpus
    (global multiset frequency > 1), duplicated chars, and the
    per-mille duplicated-byte ratio — the storage-dedup view of corpus
    redundancy next to the similarity views (MinHash/SimHash) and the
    span views (winnowing/ExactSubstr).

    Production notes in the docstring contract: FastCDC adds min/max
    chunk clamps and a gear table; both are boundary-rule refinements
    on this exact plan shape. Degenerates handled: docs shorter than
    the 8-char window (and empty docs) form one whole-doc chunk via
    the per-doc sentinel cut at position len.

    Scale shape: doc_id :func:`spread` BEFORE the position explode (the
    winnowing lesson — the one-row-group fixture would otherwise run
    every md5 on one task; parallelism must be decided on POST-explode
    volume), the cut filter drops ~31/32 of positions at the map, the
    chunk window and the text re-join are both on the SAME doc_id
    partitioning (no extra exchange), and the global chunk-frequency
    groupBy is the one content-keyed shuffle — it carries ~len/32
    chunk hashes per doc, partial-aggregated map-side. All arithmetic
    integer; md5 the only hash; no floats anywhere."""
    w, dv = CDC_W, CDC_DIV
    d = spread(t(spark, sf_dir, "documents"))
    pos = d.filter(F.length("text") >= w).select(
        "doc_id",
        "text",
        F.explode(
            F.sequence(F.lit(1), F.length("text") - w + 1)
        ).alias("p"),
    )
    h = F.conv(
        F.substring(F.md5(F.col("text").substr(F.col("p"), F.lit(w))), 1, 8),
        16,
        10,
    ).cast("long")
    # text rides ALONG both branches (cut rows + the per-doc sentinel)
    # so chunk substrings never re-join the corpus — a shared-lineage
    # re-join of `d` here resolved ambiguously under AQE and silently
    # dropped doc-final chunks; carrying the value column is also the
    # honest shuffle accounting (cut density 1/DIV => the end-row
    # shuffle carries ~len/32 copies of each doc, ~2x corpus bytes).
    cuts = pos.filter(h % dv == 0).select(
        "doc_id", "text", (F.col("p") + (w - 1)).cast("long").alias("e")
    )
    ends = cuts.unionAll(
        d.select("doc_id", "text", F.length("text").cast("long").alias("e"))
    ).dropDuplicates(["doc_id", "e"])
    wlag = W.partitionBy("doc_id").orderBy("e")
    chunks = ends.select(
        "doc_id",
        "text",
        "e",
        (F.coalesce(F.lag("e").over(wlag), F.lit(0).cast("long")) + 1).alias(
            "s"
        ),
    )
    hashed = chunks.select(
        "doc_id",
        "s",
        "e",
        F.md5(
            F.col("text").substr(
                F.col("s").cast("int"), (F.col("e") - F.col("s") + 1).cast("int")
            )
        ).alias("chash"),
    )
    freq = hashed.groupBy("chash").agg(F.count("*").cast("long").alias("cnt"))
    dup_chars = F.sum(
        F.when(F.col("cnt") > 1, F.col("e") - F.col("s") + 1).otherwise(0)
    ).cast("long")
    return (
        hashed.join(freq, "chash")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_chunks"),
            F.sum(F.when(F.col("cnt") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_dup_chunks"),
            dup_chars.alias("dup_chars"),
            F.max("e").cast("long").alias("total_chars"),
        )
        .select(
            "doc_id",
            "n_chunks",
            "n_dup_chunks",
            "dup_chars",
            "total_chars",
            F.when(F.col("total_chars") == 0, F.lit(0).cast("long"))
            .otherwise(
                F.expr("1000 * dup_chars div total_chars").cast("long")
            )
            .alias("dup_permille"),
        )
    )
