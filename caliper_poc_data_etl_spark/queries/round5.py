"""Round-5 additions: subword BPE tokenization, k-means (Lloyd)
semantic-dedup clustering, and the bucketed-layout TPC-H Q3.

Everything follows the registry conventions (__init__ docstring):
identical aliases both sides, exact integer/DECIMAL accumulation,
floor-rounding where doubles must be compared cross-engine.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from caliper_poc_data_etl_spark.graph import truncate_lineage
from caliper_poc_data_etl_spark.queries.registry import query, spread, t
from caliper_poc_data_etl_spark.queries.round6 import _affine_edges, _affine_edges_sql

# ---------------------------------------------------------------------------
# Subword BPE tokenization
# ---------------------------------------------------------------------------

# Frozen merge table — the tokenizer-model artifact a production
# pipeline ships next to its checkpoints (learning it is an offline
# job; ENCODING against a fixed table is the hot path this operator
# declares). Priority order matters: merges apply rank 1 first.
BPE_MERGES: list[tuple[str, str]] = [
    ("t", "h"),
    ("th", "e"),
    ("i", "n"),
    ("a", "n"),
    ("r", "e"),
    ("o", "n"),
    ("e", "r"),
    ("a", "t"),
    ("e", "n"),
    ("o", "r"),
    ("e", "s"),
    ("a", "l"),
    ("o", "u"),
    ("s", "t"),
    ("in", "g"),
    ("an", "d"),
    ("t", "o"),
    ("i", "s"),
    ("o", "f"),
    ("er", "s"),
    ("the", "r"),
    ("i", "t"),
    ("a", "s"),
    ("e", "d"),
]

# Within one rank, `replace` is left-to-right non-overlapping and the
# pattern's trailing space is CONSUMED, so a run of k same-rank pairs
# needs ~log2(k) sweeps ("ababab" merges 1st and 3rd pair on sweep 1).
# Three sweeps cover runs of up to 15 repeated pairs; anything longer
# degrades identically on both engines (same replace semantics), so
# cross-engine agreement is unconditional.
BPE_SWEEPS = 3

# ids: base chars a-z = 1..26, merge products 27.. in rank order; the
# word-boundary marker '|' never merges and never emits an id.
BPE_VOCAB: dict[str, int] = {chr(ord("a") + i): i + 1 for i in range(26)}
for _a, _b in BPE_MERGES:
    BPE_VOCAB[_a + _b] = len(BPE_VOCAB) + 1


def bpe_symbols_expr(col):
    """Encode a lowercase-text column into BPE symbols.

    The whole document is one spaced symbol string (' t h e | c a t ')
    with '|' as the un-mergeable word boundary, so encoding is a pure
    per-row expression chain — no explode, no regroup shuffle. Merges
    apply as rank-ordered single-pass literal replaces (BPE_SWEEPS
    sweeps each); this is the standard single-pass approximation of
    the iterative lowest-rank-first encoder, exact whenever later
    merges don't recreate earlier pairs (true for this table by
    construction) and deterministic regardless.
    """
    w = F.regexp_replace(F.regexp_replace(col, "[^a-z]+", "|"), "^\\||\\|$", "")
    s = F.concat(F.lit(" "), F.regexp_replace(w, "(.)", "$1 "))
    for a, b in BPE_MERGES:
        for _ in range(BPE_SWEEPS):
            s = F.replace(s, F.lit(f" {a} {b} "), F.lit(f" {a}{b} "))
    return F.split(F.trim(s), " ")


def bpe_encoded(d):
    """(doc_id, sy): the BPE symbols of every document with a letter.

    The oracle's ``WHERE w <> ''``: a letterless doc would yield
    sy = [''] after split(trim(' ')). The filter runs on the RAW text
    (lower(text) contains a letter ⇔ w <> '' ⇔ sy <> ['']) so it is
    scan-pushable; filtering on the computed sy pushed a second copy
    of the whole replace chain into the predicate (r12: +1.5 s of the
    query's 2.2 s at sf0.1). rlike drops NULL-text rows, as the
    oracle does (regexp_replace(NULL) is NULL).

    The chain then runs above a :func:`spread` exchange, so its 72
    replaces per row use every core instead of the one task that
    scans a one-row-group table."""
    return spread(d.filter(F.lower(F.col("text")).rlike("[a-z]"))).select(
        "doc_id", bpe_symbols_expr(F.lower(F.col("text"))).alias("sy")
    )


def _bpe_oracle() -> str:
    rep = "' ' || regexp_replace(w, '(.)', '\\1 ', 'g')"
    for a, b in BPE_MERGES:
        for _ in range(BPE_SWEEPS):
            rep = f"replace({rep}, ' {a} {b} ', ' {a}{b} ')"
    case = " ".join(
        f"WHEN '{sym}' THEN {sid}" for sym, sid in BPE_VOCAB.items()
    )
    return f"""
    WITH base AS (
      SELECT doc_id,
             regexp_replace(regexp_replace(lower(text), '[^a-z]+', '|', 'g'),
                            '^\\||\\|$', '', 'g') AS w
      FROM documents
    ), enc AS (
      SELECT doc_id, string_split(trim({rep}), ' ') AS sy
      FROM base WHERE w <> ''
    ), subs AS (
      SELECT doc_id,
             list_filter(sy, x -> x <> '|') AS sub,
             len(list_filter(sy, x -> x = '|')) + 1 AS n_words
      FROM enc
    )
    SELECT doc_id,
           CAST(n_words AS BIGINT) AS n_words,
           CAST(len(sub) AS BIGINT) AS n_subwords,
           array_to_string(
             list_transform(sub,
               x -> CAST(COALESCE(CASE x {case} END, 0) AS VARCHAR)),
             ',') AS token_ids
    FROM subs
    """


@query("text_bpe_tokenize", oracle=_bpe_oracle())
def text_bpe_tokenize(spark, sf_dir):
    """Subword tokenization by a frozen BPE merge table — how training
    corpora are actually tokenized (whitespace vocab-ids,
    ``text_tokenize_vocab_ids``, is the baseline this closes the gap
    on). The merge table is the shipped model artifact; encoding
    applies it rank-ordered over a spaced symbol string with '|' as
    the un-mergeable word boundary, then maps symbols to vocabulary
    ids (a-z = 1..26, merge products 27+ in rank order).

    Scale shape: the encode is one per-row projection (no explode, no
    join); per-row cost is linear in document length, and the vocab
    lookup is a literal map expression, not a join. The only shuffle
    is the :func:`bpe_encoded` spread of (doc_id, text) below the
    chain. Cross-engine determinism: literal-string replaces with
    identical left-to-right non-overlapping semantics in both engines,
    so even the documented >15-repeated-pair degradation case agrees
    byte-for-byte. (r11 measured the spread with ``count()``, which
    prunes the whole chain, and saw no gain. Timed with a noop write
    at sf0.1 on 4 cores, the query falls from 3.0 s on the one scan
    task to 0.85–1.3 s spread.)"""
    vmap = F.create_map(
        *[x for sym, sid in BPE_VOCAB.items() for x in (F.lit(sym), F.lit(sid))]
    )
    base = bpe_encoded(t(spark, sf_dir, "documents"))
    sub = F.filter(F.col("sy"), lambda x: x != "|")
    return base.select(
        "doc_id",
        (
            F.size(F.filter(F.col("sy"), lambda x: x == "|")) + 1
        ).cast("long").alias("n_words"),
        F.size(sub).cast("long").alias("n_subwords"),
        F.array_join(
            F.transform(
                sub,
                lambda x: F.coalesce(
                    F.element_at(vmap, x), F.lit(0)
                ).cast("string"),
            ),
            ",",
        ).alias("token_ids"),
    )


# ---------------------------------------------------------------------------
# k-means (Lloyd) semantic-dedup clustering
# ---------------------------------------------------------------------------

KM_K = 8
KM_ITERS = 4


def _kmeans_oracle(tail: str | None = None) -> str:
    """Chained-CTE Lloyd iterations on the integer-quantized embedding
    matrix — assignment distances and centroid updates are pure
    integer arithmetic (half-away integer division for the mean), so
    every iteration is exact cross-engine; no floating point anywhere.
    ``tail`` overrides the closing SELECT (default: final assignment).
    """
    head = f"""
    WITH xe AS MATERIALIZED (
      SELECT vec_id, u.i AS j,
             CAST(ROUND(CAST(embedding[u.i] AS DOUBLE) * 1000) AS BIGINT) AS x
      FROM embeddings, unnest(range(1, 65)) AS u(i)
    ),
    seeds AS (
      SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS k
      FROM (SELECT DISTINCT vec_id FROM embeddings ORDER BY vec_id LIMIT {KM_K})
    ),
    c0 AS MATERIALIZED (
      SELECT s.k, xe.j, xe.x AS c FROM seeds s JOIN xe ON xe.vec_id = s.vec_id
    )"""
    steps = []
    for i in range(1, KM_ITERS + 1):
        steps.append(f"""d{i} AS (
      SELECT xe.vec_id, c.k,
             SUM((xe.x - c.c) * (xe.x - c.c)) AS d2
      FROM xe JOIN c{i-1} c ON c.j = xe.j GROUP BY xe.vec_id, c.k
    ),
    a{i} AS MATERIALIZED (
      SELECT vec_id, k FROM (
        SELECT vec_id, k,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, k) AS rn
        FROM d{i}
      ) WHERE rn = 1
    ),
    m{i} AS (
      SELECT a.k, xe.j, SUM(xe.x) AS s, COUNT(*) AS cnt
      FROM a{i} a JOIN xe ON xe.vec_id = a.vec_id GROUP BY a.k, xe.j
    ),
    c{i} AS MATERIALIZED (
      SELECT p.k, p.j,
             COALESCE(CAST((CASE WHEN m.s < 0 THEN -1 ELSE 1 END)
                 * ((2 * abs(m.s) + m.cnt) // (2 * m.cnt)) AS BIGINT),
                 p.c) AS c
      FROM c{i-1} p LEFT JOIN m{i} m ON m.k = p.k AND m.j = p.j
    )""")
    n = KM_ITERS
    if tail is None:
        tail = """
    SELECT vec_id, k AS cluster, CAST(d2 AS BIGINT) AS dist_sq FROM af
    """
    return (
        head
        + ",\n    "
        + ",\n    ".join(steps)
        + f""",
    df AS (
      SELECT xe.vec_id, c.k, SUM((xe.x - c.c) * (xe.x - c.c)) AS d2
      FROM xe JOIN c{n} c ON c.j = xe.j GROUP BY xe.vec_id, c.k
    ),
    af AS (
      SELECT vec_id, k, d2 FROM (
        SELECT vec_id, k, d2,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, k) AS rn
        FROM df
      ) WHERE rn = 1
    )
    {tail}
    """
    )


def _kmeans_final_assignment(spark, sf_dir):
    """Shared Lloyd machinery for the kmeans queries: the final
    (vec_id, k, d2) assignment after KM_ITERS exact integer rounds.
    See embed_kmeans_assign for semantics and scale posture.

    Lazy checkpoints throughout (r12's phonetic-CC lesson applied in
    r13): lineage still truncates, but the per-round job barrier goes
    away — the 4-round DAG runs as one job with each checkpointed
    round cached at first materialization. Interleaved A/B at sf0.1:
    median 3.03 → 2.79 s at 32 cores, a wash at 8. Value-safe: every
    round is exact integer algebra (order-independent), so even a
    block-manager cache race duplicating a partition's compute cannot
    diverge. truncate_lineage honors the reliable-checkpoint posture
    switch (graph.py docstring)."""
    e = t(spark, sf_dir, "embeddings")
    xe = truncate_lineage(
        e.select(
            "vec_id",
            F.posexplode(
                F.transform(
                    "embedding",
                    lambda x: F.round(x.cast("double") * 1000).cast("long"),
                )
            ).alias("j0", "x"),
        ).select("vec_id", (F.col("j0") + 1).alias("j"), "x"),
        eager=False,
    )
    seeds = (
        e.select("vec_id")
        .distinct()
        .orderBy("vec_id")
        .limit(KM_K)
        .withColumn(
            "k",
            # unpartitioned window over a bounded-by-construction set:
            # exactly KM_K rows survive the limit above.
            F.row_number().over(W.orderBy("vec_id")) - 1,
        )
    )
    c = truncate_lineage(
        seeds.join(xe, "vec_id").select("k", "j", F.col("x").alias("c")),
        eager=False,
    )

    def assign(cent):
        d = (
            xe.join(F.broadcast(cent), "j")
            .groupBy("vec_id", "k")
            .agg(
                F.sum(
                    (F.col("x") - F.col("c")) * (F.col("x") - F.col("c"))
                ).alias("d2")
            )
        )
        wv = W.partitionBy("vec_id").orderBy("d2", "k")
        return (
            d.withColumn("rn", F.row_number().over(wv))
            .filter(F.col("rn") == 1)
            .select("vec_id", "k", "d2")
        )

    for _ in range(KM_ITERS):
        a = assign(c).select("vec_id", "k")
        m = (
            a.join(xe, "vec_id")
            .groupBy("k", "j")
            .agg(F.sum("x").alias("s"), F.count("*").alias("cnt"))
        )
        c = truncate_lineage(
            c.join(m, ["k", "j"], "left").select(
                "k",
                "j",
                F.coalesce(
                    (
                        F.when(F.col("s") < 0, -1).otherwise(1)
                        * F.expr("div(2 * abs(s) + cnt, 2 * cnt)")
                    ).cast("long"),
                    F.col("c"),
                ).alias("c"),
            ),
            eager=False,
        )
    return assign(c)


@query("embed_kmeans_assign", oracle=_kmeans_oracle())
def embed_kmeans_assign(spark, sf_dir):
    """k-means (Lloyd) over the embedding corpus — the standard final
    stage of semantic dedup (cluster, then keep one representative
    per semantic neighborhood) and the 4th iterative operator next to
    PageRank / connected components / power iteration. K=8 fixed
    centroids, 4 fixed assign→update rounds, then a final assignment;
    seeds are the K lowest vec_ids (deterministic, no RNG).

    Engine-exact by construction (the power-iteration recipe,
    similarity.py:771): embeddings quantize to integers (×1000);
    distances are integer sums of squares; the centroid mean
    re-quantizes with the half-away integer-division identity
    round(s/n) = sign·((2|s|+n) div 2n) — NO floating point in any
    iteration, so every round is bit-exact cross-engine. Ties in the
    argmin break on lowest cluster id; empty clusters keep their
    previous centroid.

    Scale shape: per round, one broadcast of the K·64-row centroid
    table into the exploded matrix (map-side), one
    groupBy(vec_id, k) bounded by n·K, one argmin window partitioned
    by vec_id, one groupBy(k, j) bounded by K·64 — shuffles scale
    with |vectors|, never |vectors|²; lineage truncates per round
    (localCheckpoint, the graph.pagerank discipline, zero driver
    scalars)."""
    return _kmeans_final_assignment(spark, sf_dir).select(
        "vec_id",
        F.col("k").alias("cluster"),
        F.col("d2").cast("long").alias("dist_sq"),
    )


# ---------------------------------------------------------------------------
# Bucketed-layout TPC-H Q3
# ---------------------------------------------------------------------------


_Q3_BUCKET_STAGED: dict[str, str] = {}


def _stage_q3_buckets(spark, sf_dir, base, tbl_orders, tbl_lineitem):
    from caliper_poc_data_etl_spark.sinks import write_bucketed

    write_bucketed(
        t(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_orderdate"
        ),
        tbl_orders,
        buckets=8,
        bucket_cols=["o_orderkey"],
        sort_cols=["o_orderkey"],
        path=f"{base}/orders",
    )
    write_bucketed(
        t(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_extendedprice", "l_discount"
        ),
        tbl_lineitem,
        buckets=8,
        bucket_cols=["l_orderkey"],
        sort_cols=["l_orderkey"],
        path=f"{base}/lineitem",
    )


@query(
    "q3_bucketed_top_revenue",
    oracle="""
    SELECT l.l_orderkey,
           CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                          * (1 - CAST(l.l_discount AS DECIMAL(4,2)))), 2)
                AS DOUBLE) AS revenue,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, l.l_orderkey
    LIMIT 10
    """,
)
def q3_bucketed_top_revenue(spark, sf_dir):
    """TPC-H Q3 on the PRE-BUCKETED physical layout — the K=100
    soak's only linear-cost query (71 s at ~sf10) re-run the way a
    100 TB deployment would lay it out: orders and lineitem bucketed
    on the order key at write time, so the fact⋈fact join consumes
    buckets with NO Exchange on either side, and the downstream
    groupBy(l_orderkey, o_orderdate) reuses the same partitioning
    (HashPartitioning(l_orderkey) satisfies the agg's clustered
    distribution). Customer is the broadcast dimension. Exactly one
    shuffle remains in the whole plan: the final top-10 ordering.
    Same oracle as q3_top_revenue — the layout must not change a
    single output value.

    Staging discipline follows join_bucketed_colocated
    (relational.py:1394): stable per-session path + catalog names
    keyed by applicationId. Re-invocations at the SAME sf_dir reuse
    the staged layout (the bucketing shuffle is paid once and
    amortized — exactly the 100 TB claim, and what bench trials 2+
    measure); a different sf_dir restages."""
    import tempfile

    from caliper_poc_data_etl_spark.sinks import write_bucketed

    app = spark.sparkContext.applicationId.replace("-", "_")
    base = f"{tempfile.gettempdir()}/graft_q3bkt_{app}"
    tbl_orders = f"graft_q3_orders_{app}"
    tbl_lineitem = f"graft_q3_lineitem_{app}"
    if _Q3_BUCKET_STAGED.get(app) != sf_dir:
        _stage_q3_buckets(spark, sf_dir, base, tbl_orders, tbl_lineitem)
        _Q3_BUCKET_STAGED[app] = sf_dir
    c = t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = spark.table(tbl_orders).join(
        F.broadcast(c), F.col("o_custkey") == F.col("c_custkey")
    )
    li = spark.table(tbl_lineitem)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(18,2)")
                    * (F.lit(1) - F.col("l_discount").cast("decimal(4,2)"))
                ),
                2,
            )
            .cast("double")
            .alias("revenue")
        )
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


@query(
    "embed_kmeans_representatives",
    oracle=_kmeans_oracle(
        tail="""
    SELECT k AS cluster,
           CAST(MIN(vec_id) FILTER (WHERE rn = 1) AS BIGINT) AS rep_vec_id,
           CAST(MIN(d2) FILTER (WHERE rn = 1) AS BIGINT) AS rep_dist_sq,
           CAST(COUNT(*) AS BIGINT) AS n_members
    FROM (
      SELECT vec_id, k, d2,
             ROW_NUMBER() OVER (PARTITION BY k ORDER BY d2, vec_id) AS rn
      FROM af
    ) GROUP BY k
    """
    ),
)
def embed_kmeans_representatives(spark, sf_dir):
    """Semantic-dedup survivor selection: after k-means clustering
    (``embed_kmeans_assign``), keep ONE representative per semantic
    neighborhood — the member closest to its final centroid (ties
    break on lowest vec_id). This is the stage that actually shrinks
    a training corpus: SemDeDup-style pipelines cluster embeddings,
    then keep the most central exemplar (or drop the rest above a
    similarity threshold). Output is one row per non-empty cluster
    with the representative, its distance, and the cluster size.

    Same exact-integer Lloyd machinery as embed_kmeans_assign (shared
    helper), plus one argmin window partitioned by cluster — bounded
    by |vectors|, single extra shuffle."""
    af = _kmeans_final_assignment(spark, sf_dir)
    wk = W.partitionBy("k").orderBy("d2", "vec_id")
    return (
        af.withColumn("rn", F.row_number().over(wk))
        .groupBy("k")
        .agg(
            F.min(F.when(F.col("rn") == 1, F.col("vec_id")))
            .cast("long")
            .alias("rep_vec_id"),
            F.min(F.when(F.col("rn") == 1, F.col("d2")))
            .cast("long")
            .alias("rep_dist_sq"),
            F.count("*").cast("long").alias("n_members"),
        )
        .select(
            F.col("k").alias("cluster"),
            "rep_vec_id",
            "rep_dist_sq",
            "n_members",
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q21 analog + scalable COUNT DISTINCT formulation
# ---------------------------------------------------------------------------

Q21_LATE_DAYS = 80


@query(
    "q21_sole_late_supplier",
    oracle=f"""
    WITH late AS (
      SELECT DISTINCT l.l_orderkey, l.l_suppkey
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE l.l_shipdate > o.o_orderdate + INTERVAL {Q21_LATE_DAYS} DAY
    )
    SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM late l1 JOIN supplier s ON s.s_suppkey = l1.l_suppkey
    WHERE EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM late l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey)
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    LIMIT 20
    """,
)
def q21_sole_late_supplier(spark, sf_dir):
    """TPC-H Q21 shape: suppliers who were the SOLE late shipper on a
    multi-supplier order (late = shipped > {Q21_LATE_DAYS} days after
    the order date — shipdate stands in for the missing
    commit/receipt dates, the q4 convention). The signature plan
    feature is the correlated EXISTS + NOT EXISTS pair against the
    SAME fact table: Spark plans them as a left-semi and a left-anti
    self-join on the order key — no row multiplication anywhere, both
    sides shuffle once on l_orderkey, and the supplier dimension
    broadcasts. Top-20 is deterministic (s_name unique)."""
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    late = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), Q21_LATE_DAYS))
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    l1 = late
    l2 = t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("k2"), F.col("l_suppkey").alias("s2")
    )
    l3 = late.select(
        F.col("l_orderkey").alias("k3"), F.col("l_suppkey").alias("s3")
    )
    sole_late = (
        l1.join(
            l2,
            (l1.l_orderkey == l2.k2) & (l1.l_suppkey != l2.s2),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l_orderkey") == l3.k3) & (F.col("l_suppkey") != l3.s3),
            "left_anti",
        )
    )
    s = t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        sole_late.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count("*").cast("long").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


@query(
    "agg_two_level_count_distinct",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, event_type,
             COUNT(DISTINCT user_id) AS daily_users
      FROM events GROUP BY 1, 2
    ), exact AS (
      SELECT event_type, COUNT(*) AS n_users
      FROM (SELECT DISTINCT event_type, user_id FROM events)
      GROUP BY event_type
    )
    SELECT e.event_type,
           CAST(e.n_users AS BIGINT) AS n_users_exact,
           CAST(SUM(d.daily_users) AS BIGINT) AS sum_daily_distinct
    FROM exact e JOIN daily d USING (event_type)
    GROUP BY e.event_type, e.n_users
    """,
)
def agg_two_level_count_distinct(spark, sf_dir):
    """The scalable COUNT(DISTINCT) formulation, declared as surface:
    a single-shot count-distinct over a skewed key concentrates every
    group's value set on one reducer, while the TWO-LEVEL form —
    dedupe on (group, value) first (partial-aggregatable, map-side
    combinable), then count — distributes freely; it's what Spark's
    own distinct-aggregate rewrite does internally. The output also
    carries sum-of-daily-distincts next to the exact count to pin the
    classic non-algebraic-merge bug: distinct counts DON'T add across
    partitions (a user active on 2 days counts twice in the sum) —
    the same lesson agg_incremental_merge teaches for averages.
    sum_daily_distinct ≥ n_users_exact, equality iff no user repeats
    across days; the pytest twin asserts the inequality is strict on
    this corpus."""
    e = t(spark, sf_dir, "events")
    exact = (
        e.select("event_type", "user_id")
        .distinct()
        .groupBy("event_type")
        .agg(F.count("*").cast("long").alias("n_users_exact"))
    )
    daily = (
        e.groupBy(F.to_date("ts").alias("day"), "event_type")
        .agg(F.countDistinct("user_id").alias("daily_users"))
        .groupBy("event_type")
        .agg(F.sum("daily_users").cast("long").alias("sum_daily_distinct"))
    )
    return exact.join(daily, "event_type").select(
        "event_type", "n_users_exact", "sum_daily_distinct"
    )


BPE_PAIR_TOPN = 30


def _bpe_pair_oracle() -> str:
    rep = "' ' || regexp_replace(w, '(.)', '\\1 ', 'g')"
    for a, b in BPE_MERGES:
        for _ in range(BPE_SWEEPS):
            rep = f"replace({rep}, ' {a} {b} ', ' {a}{b} ')"
    return f"""
    WITH base AS (
      SELECT doc_id,
             regexp_replace(regexp_replace(lower(text), '[^a-z]+', '|', 'g'),
                            '^\\||\\|$', '', 'g') AS w
      FROM documents
    ), enc AS (
      SELECT doc_id, string_split(trim({rep}), ' ') AS sy
      FROM base WHERE w <> ''
    ), pairs AS (
      SELECT sy[u.i] AS left_sym, sy[u.i + 1] AS right_sym
      FROM enc, unnest(range(1, len(sy))) AS u(i)
      WHERE sy[u.i] <> '|' AND sy[u.i + 1] <> '|'
    )
    SELECT left_sym, right_sym, CAST(COUNT(*) AS BIGINT) AS n
    FROM pairs GROUP BY left_sym, right_sym
    ORDER BY n DESC, left_sym, right_sym
    LIMIT {BPE_PAIR_TOPN}
    """


@query("text_bpe_pair_stats", oracle=_bpe_pair_oracle())
def text_bpe_pair_stats(spark, sf_dir):
    """The LEARNING side of BPE: adjacent symbol-pair frequencies over
    the corpus AFTER the frozen merges apply — exactly the statistic
    a BPE trainer computes to pick the next merge (the top row IS
    merge rank len(BPE_MERGES)+1). One such aggregation per learned
    merge is the whole training loop; declaring it as graded surface
    proves the engine can run that loop distributed.

    Scale shape: encode is the same spread projection as
    text_bpe_tokenize (:func:`bpe_encoded`); pairs explode linearly in
    token count and reduce through ONE partial-aggregated groupBy on
    (left, right) — the canonical word-count shape. Deterministic
    top-N via (count desc, pair asc)."""
    enc = bpe_encoded(t(spark, sf_dir, "documents"))
    syc = F.col("sy")
    pairs = enc.select(
        F.explode(
            F.filter(
                F.transform(
                    F.sequence(F.lit(1), F.size(syc) - 1),
                    lambda i: F.struct(
                        F.element_at(syc, i).alias("left_sym"),
                        F.element_at(syc, i + 1).alias("right_sym"),
                    ),
                ),
                lambda p: (p["left_sym"] != "|") & (p["right_sym"] != "|"),
            )
        ).alias("p")
    ).select("p.left_sym", "p.right_sym")
    return (
        pairs.groupBy("left_sym", "right_sym")
        .agg(F.count("*").cast("long").alias("n"))
        .orderBy(F.desc("n"), "left_sym", "right_sym")
        .limit(BPE_PAIR_TOPN)
    )


# First-digit expectations log10(1 + 1/d), precomputed as shared
# literals so neither engine's libm is in the comparison path.
BENFORD_EXPECTED = {
    1: 0.30103,
    2: 0.176091,
    3: 0.124939,
    4: 0.09691,
    5: 0.079181,
    6: 0.066947,
    7: 0.057992,
    8: 0.051153,
    9: 0.045757,
}


def _benford_oracle() -> str:
    case = " ".join(
        f"WHEN {d} THEN {p}" for d, p in BENFORD_EXPECTED.items()
    )
    return f"""
    WITH digits AS (
      SELECT CAST(substr(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR),
                         1, 1) AS INT) AS digit
      FROM orders WHERE o_totalprice >= 1
    ), counts AS (
      SELECT digit, COUNT(*) AS n FROM digits GROUP BY digit
    ), tot AS (SELECT SUM(n) AS total FROM counts)
    SELECT digit,
           CAST(n AS BIGINT) AS n,
           FLOOR(CAST(n AS DOUBLE) / (SELECT total FROM tot) * 1e4 + 0.5)
             / 1e4 AS share,
           CAST(CASE digit {case} END AS DOUBLE) AS benford_expected,
           FLOOR(ABS(CAST(n AS DOUBLE) / (SELECT total FROM tot)
                     - CASE digit {case} END) * 1e4 + 0.5) / 1e4 AS abs_dev
    FROM counts
    """


@query("dq_benford_digits", oracle=_benford_oracle())
def dq_benford_digits(spark, sf_dir):
    """Benford first-digit audit over order totals — the forensic
    data-quality screen for fabricated or truncated numeric columns
    (organic multiplicative data follows log10(1+1/d); uniform or
    hand-entered data does not). Emits per-digit counts, observed
    share, the Benford expectation, and the absolute deviation.

    Determinism: counts are exact integers; shares divide by the
    total in ONE identical IEEE chain and floor-round; the Benford
    expectations are shared literal constants (6 dp), so neither
    engine's libm log10 is in the comparison path. Scale: one scan,
    one 9-group aggregation, one broadcast total — nothing grows with
    data."""
    o = t(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1)
    digits = o.select(
        F.substring(
            F.floor("o_totalprice").cast("long").cast("string"), 1, 1
        )
        .cast("int")
        .alias("digit")
    )
    counts = digits.groupBy("digit").agg(F.count("*").alias("n"))
    tot = counts.agg(F.sum("n").alias("total"))
    bexp = F.create_map(
        *[
            x
            for d, p in BENFORD_EXPECTED.items()
            for x in (F.lit(d), F.lit(p))
        ]
    )[F.col("digit")]
    share_raw = F.col("n").cast("double") / F.col("total")
    r4 = lambda c: F.floor(c * F.lit(1e4) + F.lit(0.5)) / F.lit(1e4)  # noqa: E731
    return counts.crossJoin(F.broadcast(tot)).select(
        "digit",
        F.col("n").cast("long").alias("n"),
        r4(share_raw).alias("share"),
        bexp.alias("benford_expected"),
        r4(F.abs(share_raw - bexp)).alias("abs_dev"),
    )


# ---------------------------------------------------------------------------
# Weighted single-source shortest paths (Bellman-Ford, fixed rounds)
# ---------------------------------------------------------------------------

SSSP_SOURCE = 7
SSSP_ROUNDS = 6


def _sssp_oracle() -> str:
    # The affine graph over documents, plus an integer weight derived
    # from the endpoints.
    head = f"""
    WITH nodes AS (SELECT doc_id AS id FROM documents),
    {_affine_edges_sql("unweighted")},
    edges AS MATERIALIZED (
      SELECT src, dst, (src * 31 + dst * 17) % 97 + 1 AS w FROM unweighted
    ),
    d0 AS (SELECT CAST({SSSP_SOURCE} AS BIGINT) AS node,
                  CAST(0 AS BIGINT) AS dist)"""
    steps = []
    for i in range(1, SSSP_ROUNDS + 1):
        steps.append(f"""d{i} AS MATERIALIZED (
      SELECT node, MIN(dist) AS dist FROM (
        SELECT node, dist FROM d{i-1}
        UNION ALL
        SELECT e.dst AS node, d.dist + e.w AS dist
        FROM d{i-1} d JOIN edges e ON e.src = d.node
      ) GROUP BY node
    )""")
    return (
        head
        + ",\n    "
        + ",\n    ".join(steps)
        + f"""
    SELECT node, CAST(dist AS BIGINT) AS dist FROM d{SSSP_ROUNDS}
    """
    )


@query("graph_sssp_bellman_ford", oracle=_sssp_oracle())
def graph_sssp_bellman_ford(spark, sf_dir):
    """Weighted single-source shortest paths by Bellman-Ford — the
    5th iterative operator (after PageRank, connected components,
    power iteration, k-means), covering the weighted-graph case the
    unweighted recursive-CTE BFS can't express. Fixed SSSP_ROUNDS
    relaxation rounds bound path length at declared cost (the
    unbounded fixpoint is the same loop run to no-change); edge
    weights are deterministic integers, so every round is exact
    integer arithmetic cross-engine — no tie or rounding conventions
    at all.

    Scale shape: per round, one join of the O(|reached|) distance
    frame against the edge list (shuffles on the edge key), one
    min-groupBy — Pregel's message+combine step as two relational
    ops; lineage truncates per round (truncate_lineage, zero driver
    scalars). At 100 TB the edge list is the big side and the
    distance frame rides broadcast or co-partitioning, exactly like
    dedup_cluster_cc."""
    edges = truncate_lineage(
        _affine_edges(spark, sf_dir, "documents", "doc_id").select(
            "src",
            "dst",
            ((F.col("src") * 31 + F.col("dst") * 17) % 97 + 1).alias("w"),
        )
    )
    dist = spark.range(1).select(
        F.lit(SSSP_SOURCE).cast("long").alias("node"),
        F.lit(0).cast("long").alias("dist"),
    )
    for _ in range(SSSP_ROUNDS):
        relaxed = (
            dist.join(edges, dist.node == edges.src)
            .select(F.col("dst").alias("node"), (F.col("dist") + F.col("w")).alias("dist"))
        )
        dist = truncate_lineage(
            dist.unionByName(relaxed).groupBy("node").agg(F.min("dist").alias("dist"))
        )
    return dist.select("node", F.col("dist").cast("long").alias("dist"))


# ---------------------------------------------------------------------------
# Order-insensitive table checksum (reconciliation primitive)
# ---------------------------------------------------------------------------


@query(
    "dq_table_checksum",
    oracle="""
    WITH rows_h AS (
      SELECT o_orderstatus,
             ('0x' || substr(md5(concat_ws('|',
                 CAST(o_orderkey AS VARCHAR),
                 CAST(o_custkey AS VARCHAR),
                 o_orderstatus,
                 CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR),
                 strftime(o_orderdate, '%Y-%m-%d'),
                 o_orderpriority)), 1, 15))::BIGINT AS h
      FROM orders
    )
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(CAST(SUM(h) AS DECIMAL(38,0)) AS VARCHAR) AS checksum
    FROM rows_h GROUP BY o_orderstatus
    """,
)
def dq_table_checksum(spark, sf_dir):
    """Order-insensitive content checksum per partition group — the
    cross-system reconciliation primitive: after a migration, a CDC
    replay, or an engine swap, two sides agree iff per-group
    (n_rows, checksum) agree, with NO row ordering or co-location
    required. Each row serializes canonically (DECIMAL-formatted
    money, ISO dates, '|' separator), hashes through md5, and the
    group checksum is the plain SUM of 60-bit hash prefixes — a
    commutative fold, so it map-side combines and is independent of
    partitioning, task order, and merge order. The sum accumulates in
    DECIMAL(38,0) (38 digits hold 10¹² rows of 60-bit values) and is
    emitted as a string to stay integer-exact cross-engine.

    This query IS the mechanism the repo's own oracle gate uses
    (order-insensitive value hashing), declared as user-facing
    surface. One scan, one partial-agg groupBy; nothing grows with
    data but the scan."""
    o = t(spark, sf_dir, "orders")
    row = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"),
        F.col("o_orderstatus"),
        F.col("o_totalprice").cast("decimal(18,2)").cast("string"),
        F.date_format("o_orderdate", "yyyy-MM-dd"),
        F.col("o_orderpriority"),
    )
    h = F.conv(F.substring(F.md5(row), 1, 15), 16, 10).cast("long")
    return (
        o.select("o_orderstatus", h.alias("h"))
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum(F.col("h").cast("decimal(38,0)"))
            .cast("decimal(38,0)")
            .cast("string")
            .alias("checksum"),
        )
    )
