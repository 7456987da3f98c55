"""Round-9 continuation batch 2 (same session as round13.py; flagged
in NOTES_r09 for adjudication like every over-budget addition). Five
ops in the remaining thin spots:

- ``agg_hll_md5_parity`` — deterministic HyperLogLog registers +
  estimate: the sketch family's missing member (KMV and count-min are
  in; HLL is THE production distinct-count sketch), integer-exact.
- ``funnel_path_topk`` — top-k user journey paths (ordered event-type
  sequences), the path-analysis report between ``funnel_conversion``
  (fixed funnel) and ``ts_event_transitions`` (bigrams).
- ``mix_round_robin_interleave`` — deterministic round-robin source
  interleaving: the mixing ORDER (small sources spread evenly through
  the stream) that the mixing pack's weight/budget ops don't cover.
- ``anomaly_grid_density_events`` — DBSCAN-style density noise
  detection on the (user, hour-of-day) activity grid: the
  density-based member next to the value-based zscore/iqr/mad trio.
- ``dq_cross_table_reconciliation`` — financial reconciliation of the
  order header total vs the line-level recompute, in exact centi
  units: the cross-table AMOUNT check ``dq_referential_integrity``
  (keys only) doesn't do.
- ``stream_hll_distinct_replay`` — the streaming twin of the HLL
  sketch: per-tumbling-window registers living in windowed-agg state
  as 64 conditional-max columns (bounded state per window at any
  cardinality), availableNow replay graded against the batch oracle.

Registry conventions as everywhere (queries/__init__.py docstring).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from caliper_poc_data_etl_spark.queries.registry import query, spread, t

# ---------------------------------------------------------------------------
# Deterministic HyperLogLog (md5-parity)
# ---------------------------------------------------------------------------

HLL_M = 64  # 2^6 buckets
HLL_BUCKET_BITS = 6
HLL_W_BITS = 52 - HLL_BUCKET_BITS  # 46-bit remainder, rho in 1..47
# alpha_64 = 0.7213 / (1 + 1.079/64) = 0.709 (Flajolet et al. 2007),
# carried as the integer milli literal — no float enters the estimate.
HLL_ALPHA_MILLI = 709
# Overflow guard on the scaled inverse (unreachable below ~2^31
# distinct, but ANSI Spark would THROW on the expression-level
# overflow a pathological register state could produce; both engines
# clamp identically).
HLL_R_CAP = 3_000_000_000


# Linear-counting correction table (Flajolet et al. 2007 small-range
# branch): when the raw estimate is <= 2.5m and some registers are
# still zero, the better estimator is m * ln(m / V) with V = number of
# zero registers. V has only m possible values, so the ln is
# precomputed HERE at import (math.log at build time, the PHASH_COS
# trick) and embedded as integer-milli literals in both engines — no
# runtime transcendental.
def _hll_lc_table() -> list[int]:
    import math

    return [
        int(math.floor(math.log(HLL_M / v) * 1000 + 0.5))
        for v in range(1, HLL_M + 1)
    ]


HLL_LC_MILLI = _hll_lc_table()
HLL_LC_CUTOFF_MILLI = 2500 * HLL_M  # raw estimate <= 2.5m (in milli)
_HLL_LC_SQL = "[" + ", ".join(str(v) for v in HLL_LC_MILLI) + "]"


def _hll_clamped_inverse_col(zs):
    """The CLAMPED scaled inverse r = min(2^48·1000 div zs, R_CAP) as a
    Column from a BIGINT ``zs`` Column; the caller
    (:func:`_hll_est_from_zs`) derives raw_milli from it — INTEGRAL
    division only (`div`): the numerators (2^47*1000 ~ 1.4e17 and
    alpha*m^2*r up to ~8.7e15) exceed 2^53, so a double `/` would
    round the operands BEFORE dividing and could disagree with the
    oracle's exact `//` at quotient-boundary values — the silent
    cross-engine parity class this registry bans. Operands are
    nonnegative, so Spark's truncating `div` equals DuckDB's flooring
    `//`."""
    num = (1 << (HLL_W_BITS + 1)) * 1000
    r = F.least(
        F.expr(f"{num}L div zs_for_div"),
        F.lit(HLL_R_CAP).cast("long"),
    )
    return r


def _hll_est_from_zs(df, zs_col="zs", hit_col="n_buckets_hit"):
    """Append ``hll_est_milli`` to ``df`` from BIGINT register-sum and
    bucket-hit columns, sharing the alpha / linear-counting literals.
    All quotients use integral `div` (see
    :func:`_hll_clamped_inverse_col`)."""
    df = df.withColumn("zs_for_div", F.col(zs_col).cast("long"))
    r = _hll_clamped_inverse_col(F.col("zs_for_div"))
    df = df.withColumn("r_for_div", r)
    raw_milli = F.expr(f"({HLL_ALPHA_MILLI * HLL_M * HLL_M}L * r_for_div) div 1000")
    v_zero = (F.lit(HLL_M) - F.col(hit_col)).cast("int")
    lc_table = F.array(*[F.lit(v).cast("long") for v in HLL_LC_MILLI])
    est = F.when(
        (v_zero > 0) & (raw_milli <= HLL_LC_CUTOFF_MILLI),
        F.lit(HLL_M).cast("long") * F.element_at(lc_table, v_zero),
    ).otherwise(raw_milli)
    return df.withColumn("hll_est_milli", est.cast("long")).drop(
        "zs_for_div", "r_for_div"
    )


@query(
    "agg_hll_md5_parity",
    oracle=f"""
    WITH du AS (
      SELECT DISTINCT event_type, user_id FROM events
    ),
    h AS (
      SELECT event_type,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13))::BIGINT
               AS h52
      FROM du
    ),
    b AS (
      SELECT event_type, h52 % {HLL_M} AS bucket, h52 // {HLL_M} AS w
      FROM h
    ),
    regs AS (
      SELECT event_type, bucket,
             MAX(CASE WHEN w = 0 THEN {HLL_W_BITS + 1}
                      ELSE {HLL_W_BITS + 1} - length(bin(w)) END) AS m_j,
             COUNT(*) AS nb
      FROM b GROUP BY 1, 2
    ),
    z AS (
      SELECT event_type,
             SUM(nb) AS n_exact,
             SUM(1::BIGINT << CAST({HLL_W_BITS + 1} - m_j AS INT))
               + ({HLL_M} - COUNT(*)) * (1::BIGINT << {HLL_W_BITS + 1}) AS zs,
             COUNT(*) AS n_buckets_hit,
             SUM(m_j * (bucket + 1)) AS register_checksum
      FROM regs GROUP BY 1
    )
    ,
    est AS (
      SELECT event_type, n_exact, n_buckets_hit, register_checksum,
             {HLL_ALPHA_MILLI} * {HLL_M} * {HLL_M}
               * LEAST(((1::BIGINT << {HLL_W_BITS + 1}) * 1000) // zs,
                       {HLL_R_CAP}) // 1000 AS raw_milli,
             {HLL_M} - n_buckets_hit AS v_zero
      FROM z
    )
    SELECT event_type,
           CAST(n_exact AS BIGINT) AS n_exact,
           CAST(CASE WHEN v_zero > 0 AND raw_milli <= {HLL_LC_CUTOFF_MILLI}
                     THEN {HLL_M} * ({_HLL_LC_SQL})[CAST(v_zero AS BIGINT)]
                     ELSE raw_milli END AS BIGINT) AS hll_est_milli,
           CAST(n_buckets_hit AS BIGINT) AS n_buckets_hit,
           CAST(register_checksum AS BIGINT) AS register_checksum
    FROM est
    """,
)
def agg_hll_md5_parity(spark, sf_dir):
    """Deterministic HyperLogLog distinct-count sketch, md5-parity —
    the production distinct sketch the family lacked
    (``agg_approx_distinct`` grades rows-only because Spark's HLL++ is
    engine-internal; ``agg_kmv_distinct_sketch`` is the order-statistic
    cousin). Registers are EXACT integers on both engines: 52-bit md5
    uniform, low {HLL_BUCKET_BITS} bits pick the bucket, rho = leading
    zeros of the {HLL_W_BITS}-bit remainder + 1 via the binary-digit
    length (``length(bin(w))`` — identical builtin both engines, no
    log2 boundary risk), register = max rho. The raw estimate
    alpha*m^2/Z is carried in scaled integers: Z*2^47 fits BIGINT
    because registers cap at 47; the scaled inverse clamps at
    {HLL_R_CAP} (the documented overflow guard). The small-range
    branch is the REAL one: when raw E <= 2.5m and zero registers
    remain, linear counting m*ln(m/V) applies — and because V has only
    {HLL_M} possible values, the ln lives in an import-time integer
    table embedded in both engines (:data:`HLL_LC_MILLI`, the
    PHASH_COS trick), so the corrected estimator is still
    transcendental-free at runtime. On the fixtures: 151.5 est vs 150
    true at sf0.01, 14.5 vs 15 at sf0.001 (raw would read 142.3 and
    49.4).

    The registers are MERGEABLE (max distributes): groupBy partials
    combine map-side exactly like production HLL shards. Scale shape:
    distinct-project, then two shrinking groupBys (bucket, then
    group) — the per-group state is {HLL_M} registers regardless of
    corpus size; n_exact rides the same chain (sum of per-bucket
    counts of the distinct frame), so the sketch-vs-truth report costs
    ONE pass over the distinct frame."""
    ev = t(spark, sf_dir, "events")
    du = ev.select("event_type", "user_id").distinct()
    h52 = F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 13), 16, 10).cast(
        "long"
    )
    b = du.select(
        "event_type",
        (h52 % HLL_M).alias("bucket"),
        (h52 / HLL_M).cast("long").alias("w"),
    )
    rho = F.when(F.col("w") == 0, F.lit(HLL_W_BITS + 1)).otherwise(
        F.lit(HLL_W_BITS + 1) - F.length(F.bin(F.col("w")))
    )
    regs = b.groupBy("event_type", "bucket").agg(
        F.max(rho).alias("m_j"), F.count("*").alias("nb")
    )
    z = regs.groupBy("event_type").agg(
        F.sum("nb").alias("n_exact"),
        (
            F.sum(F.expr(f"shiftleft(1L, cast({HLL_W_BITS + 1} - m_j as int))"))
            + (F.lit(HLL_M) - F.count("*"))
            * F.lit(1 << (HLL_W_BITS + 1)).cast("long")
        ).alias("zs"),
        F.count("*").alias("n_buckets_hit"),
        F.sum(F.col("m_j") * (F.col("bucket") + 1)).alias("register_checksum"),
    )
    return _hll_est_from_zs(z).select(
        "event_type",
        F.col("n_exact").cast("long").alias("n_exact"),
        "hll_est_milli",
        F.col("n_buckets_hit").cast("long").alias("n_buckets_hit"),
        F.col("register_checksum").cast("long").alias("register_checksum"),
    )


# ---------------------------------------------------------------------------
# Top-k user journey paths
# ---------------------------------------------------------------------------

PATH_LEN = 5
PATH_TOPK = 20


@query(
    "funnel_path_topk",
    oracle=f"""
    WITH ranked AS (
      SELECT user_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ),
    paths AS (
      SELECT user_id,
             string_agg(event_type, '>' ORDER BY rn) AS path
      FROM ranked WHERE rn <= {PATH_LEN} GROUP BY user_id
    )
    SELECT path, CAST(COUNT(*) AS BIGINT) AS n_users
    FROM paths GROUP BY path
    ORDER BY n_users DESC, path
    LIMIT {PATH_TOPK}
    """,
)
def funnel_path_topk(spark, sf_dir):
    """Top-{PATH_TOPK} user journey paths — the path-analysis report
    between ``funnel_conversion`` (one FIXED step sequence) and
    ``ts_event_transitions`` (bigram matrix): each user's first
    {PATH_LEN} events in time order become an ordered '>' path, and
    the most common paths surface what users actually do first — the
    onboarding-flow dashboard every product-analytics engine ships
    (Amplitude/Mixpanel "Pathfinder").

    Scale shape: the rank window partitions by user (events
    co-partition by the groupBy key anyway); paths build via the
    house ordered-collect idiom (array_sort of (rn, type) structs —
    no second window); the global top-k is a count-groupBy on the
    BOUNDED path vocabulary followed by TakeOrderedAndProject with a
    total (count, path) order, so ties at rank {PATH_TOPK} resolve
    identically on both engines."""
    ev = t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    ranked = ev.select(
        "user_id", "event_type", F.row_number().over(w).alias("rn")
    ).filter(F.col("rn") <= PATH_LEN)
    paths = ranked.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("rn"), F.col("event_type")))
                ),
                lambda s: s["event_type"],
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").alias("n_users"))
        .orderBy(F.desc("n_users"), "path")
        .limit(PATH_TOPK)
    )


# ---------------------------------------------------------------------------
# Deterministic round-robin source interleaving
# ---------------------------------------------------------------------------


@query(
    "mix_round_robin_interleave",
    oracle="""
    WITH pos AS (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id)
               AS src_pos
      FROM documents
    )
    SELECT doc_id, source,
           CAST(src_pos AS BIGINT) AS src_pos,
           CAST(ROW_NUMBER() OVER (ORDER BY src_pos, source, doc_id)
                AS BIGINT) AS global_pos
    FROM pos
    """,
)
def mix_round_robin_interleave(spark, sf_dir):
    """Deterministic round-robin source interleaving — the mixing
    ORDER the pack's other members don't cover:
    ``mix_weighted_sources`` / ``mix_token_budget_fill`` decide HOW
    MUCH of each source enters the mix, ``mix_epoch_oversample``
    repeats it; this op decides the SEQUENCE — cycle through sources
    taking each one's next document (order by (per-source position,
    source)), so a 1%-sized source is spread evenly through the
    stream instead of clumping, the interleave a sequential trainer
    wants when it cannot shuffle globally. Deterministic: per-source
    position by doc_id, global position by the round-robin key.

    Scale shape: one source-partitioned window (sources are the
    natural parallel unit), then the global position via the TWO-PASS
    RANGE-OFFSET form (re-planned in r10 per ADVICE r9 — the first
    form's ``Window.orderBy`` with no partitionBy collapsed the whole
    manifest onto one partition): range-repartition + local sort on
    the round-robin key (unique — doc_id breaks all ties, so range
    boundaries cannot split a key), per-RANGE-partition row_number,
    then each partition's global offset joins back as a broadcast
    #partitions-row cumulative-count table. No single partition ever
    holds the dataset; the offset table is partition-count-sized. The
    ranked frame is persisted so the count branch and the output
    branch see the SAME physical range boundaries (the bm25
    match-set-reuse precedent). Manifest-sized output by
    definition."""
    d = t(spark, sf_dir, "documents")
    w_src = W.partitionBy("source").orderBy("doc_id")
    pos = d.select(
        "doc_id",
        "source",
        F.row_number().over(w_src).cast("long").alias("src_pos"),
    )
    key = ["src_pos", "source", "doc_id"]
    w_pid = W.partitionBy("pid").orderBy(*key)
    ranked = (
        pos.repartitionByRange(*key)
        .withColumn("pid", F.spark_partition_id())
        .withColumn("rn_in", F.row_number().over(w_pid).cast("long"))
        .persist()
    )
    counts = ranked.groupBy("pid").agg(F.count("*").alias("cnt"))
    w_off = W.orderBy("pid").rowsBetween(W.unboundedPreceding, -1)
    offsets = counts.select(
        "pid",
        F.coalesce(F.sum("cnt").over(w_off), F.lit(0))
        .cast("long")
        .alias("off"),
    )
    return ranked.join(F.broadcast(offsets), "pid").select(
        "doc_id",
        "source",
        "src_pos",
        (F.col("off") + F.col("rn_in")).alias("global_pos"),
    )


# ---------------------------------------------------------------------------
# Grid-density noise detection (DBSCAN-style)
# ---------------------------------------------------------------------------

DENSITY_MIN_NBR = 4  # noise: neighborhood (hour +/- 1) has < 4 events


@query(
    "anomaly_grid_density_events",
    oracle=f"""
    WITH c AS (
      SELECT user_id, CAST(EXTRACT(hour FROM ts) AS INT) AS hour,
             COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ),
    nb AS (
      SELECT a.user_id, a.hour, a.n, SUM(b.n) AS n_nbr
      FROM c a JOIN c b
        ON a.user_id = b.user_id AND abs(a.hour - b.hour) <= 1
      GROUP BY 1, 2, 3
    )
    SELECT user_id, hour,
           CAST(n AS BIGINT) AS n_cell,
           CAST(n_nbr AS BIGINT) AS n_nbr
    FROM nb WHERE n_nbr < {DENSITY_MIN_NBR}
    """,
)
def anomaly_grid_density_events(spark, sf_dir):
    """Density-based anomaly detection on the (user, hour-of-day)
    activity grid — the DBSCAN-noise member next to the value-based
    trio (``anomaly_zscore_events`` / ``anomaly_iqr_events`` /
    ``anomaly_mad_events``): a cell whose +/- 1-hour neighborhood
    holds fewer than {DENSITY_MIN_NBR} events is isolated activity —
    the user acting at an hour they (almost) never act — which no
    per-value test sees because the VALUES are unremarkable. This is
    grid-DBSCAN with minPts={DENSITY_MIN_NBR} and the grid cell as
    the epsilon-ball, the standard scalable DBSCAN reduction (hours
    don't wrap across midnight — documented simplification).

    Scale shape: the grid collapse is one map-side-combined groupBy
    (cells are bounded by users x 24, not by events); the
    neighborhood sum is a self-join ON THE CELL GRID (bounded), never
    on raw events; everything after the first groupBy is
    cell-cardinality work."""
    ev = t(spark, sf_dir, "events")
    cells = ev.groupBy(
        "user_id", F.hour("ts").cast("int").alias("hour")
    ).agg(F.count("*").alias("n"))
    a = cells.select(
        F.col("user_id").alias("u"),
        F.col("hour").alias("h"),
        F.col("n").alias("n_cell"),
    )
    b = cells.select(
        F.col("user_id").alias("u2"), F.col("hour").alias("h2"), F.col("n").alias("n2")
    )
    nb = (
        a.join(b, (F.col("u") == F.col("u2")) & (F.abs(F.col("h") - F.col("h2")) <= 1))
        .groupBy(F.col("u"), F.col("h"), F.col("n_cell"))
        .agg(F.sum("n2").alias("n_nbr"))
    )
    return nb.filter(F.col("n_nbr") < DENSITY_MIN_NBR).select(
        F.col("u").alias("user_id"),
        F.col("h").alias("hour"),
        F.col("n_cell").cast("long").alias("n_cell"),
        F.col("n_nbr").cast("long").alias("n_nbr"),
    )


# ---------------------------------------------------------------------------
# Cross-table amount reconciliation
# ---------------------------------------------------------------------------

RECON_TOL_CENTI = 100  # flag mismatches beyond 1.00


@query(
    "dq_cross_table_reconciliation",
    oracle=f"""
    WITH l AS (
      SELECT l_orderkey,
             SUM(CAST(FLOOR(((l_extendedprice * (1 - l_discount))
                             * (1 + l_tax)) * 100 + 0.5) AS BIGINT))
               AS lines_centi,
             COUNT(*) AS n_lines
      FROM lineitem GROUP BY 1
    ),
    o AS (
      SELECT o_orderkey, o_orderpriority,
             CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS hdr_centi
      FROM orders
    ),
    j AS (
      SELECT o_orderpriority, hdr_centi,
             COALESCE(lines_centi, 0) AS lines_centi,
             CASE WHEN n_lines IS NULL THEN 1 ELSE 0 END AS no_lines
      FROM o LEFT JOIN l ON o_orderkey = l_orderkey
    )
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(no_lines) AS BIGINT) AS n_no_lines,
           CAST(SUM(CASE WHEN abs(lines_centi - hdr_centi)
                              > {RECON_TOL_CENTI}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatch,
           CAST(MAX(abs(lines_centi - hdr_centi)) AS BIGINT)
             AS max_abs_diff_centi,
           CAST(SUM(lines_centi - hdr_centi) AS BIGINT) AS sum_diff_centi
    FROM j GROUP BY 1
    """,
)
def dq_cross_table_reconciliation(spark, sf_dir):
    """Cross-table AMOUNT reconciliation — the financial-close check
    the dq pack lacked: ``dq_referential_integrity`` proves the KEYS
    line up; this proves the MONEY does, recomputing each order's
    total from its lines (extendedprice * (1-discount) * (1+tax),
    centi-quantized per line exactly like an invoicing system) and
    reporting, per priority class: order count, headerless/lineless
    orders, mismatches beyond {RECON_TOL_CENTI} centi, worst and net
    drift. On this synthetic fixture every order mismatches (the
    generator doesn't reconcile headers to lines) — which is exactly
    what the report is FOR; the drift columns quantify it.

    Exactness: per-line amounts floor-quantize an identical IEEE
    product chain (identically parenthesized both engines), then all
    arithmetic is BIGINT centi. Scale shape: one map-side-combined
    groupBy on lineitem (the fact table's natural key), one
    orderkey-partitioned equi-join (co-partitioned shuffle), one
    bounded groupBy on priority; no window, no skew key (orderkeys
    are uniform)."""
    li = t(spark, sf_dir, "lineitem")
    line_centi = F.floor(
        ((F.col("l_extendedprice") * (1 - F.col("l_discount")))
         * (1 + F.col("l_tax")))
        * 100
        + F.lit(0.5)
    ).cast("long")
    l = li.groupBy("l_orderkey").agg(
        F.sum(line_centi).alias("lines_centi"), F.count("*").alias("n_lines")
    )
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("hdr_centi"),
    )
    j = o.join(l, o["o_orderkey"] == l["l_orderkey"], "left").select(
        "o_orderpriority",
        "hdr_centi",
        F.coalesce(F.col("lines_centi"), F.lit(0)).alias("lines_centi"),
        F.when(F.col("n_lines").isNull(), F.lit(1)).otherwise(F.lit(0)).alias(
            "no_lines"
        ),
    )
    diff = F.col("lines_centi") - F.col("hdr_centi")
    return j.groupBy("o_orderpriority").agg(
        F.count("*").cast("long").alias("n_orders"),
        F.sum("no_lines").cast("long").alias("n_no_lines"),
        F.sum(
            F.when(F.abs(diff) > RECON_TOL_CENTI, F.lit(1)).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("n_mismatch"),
        F.max(F.abs(diff)).cast("long").alias("max_abs_diff_centi"),
        F.sum(diff).cast("long").alias("sum_diff_centi"),
    )


# ---------------------------------------------------------------------------
# Streaming HLL: tumbling-window distinct-user sketch
# ---------------------------------------------------------------------------


def _hll_register_summary_cols():
    """(zs, hit, checksum) Columns over 64 register columns m_0..m_63
    (absent bucket = NULL = register 0), sharing the batch op's
    literals. Estimation happens downstream via
    :func:`_hll_est_from_zs` (integral `div` only). Each summary is
    ONE parsed expression instead of a 64-term Column reduce (the r12
    similarity.py recipe — same operators after parsing, so the exact
    integers are unchanged; the win is builder py4j round-trips)."""
    zs = F.expr(
        " + ".join(
            f"shiftleft(1L, cast({HLL_W_BITS + 1} - coalesce(m_{j}, 0) as int))"
            for j in range(HLL_M)
        )
    )
    hit = F.expr(
        " + ".join(
            f"CAST((m_{j} IS NOT NULL) AS BIGINT)" for j in range(HLL_M)
        )
    )
    checksum = F.expr(
        " + ".join(
            f"CAST(coalesce(m_{j}, 0) AS BIGINT) * {j + 1}"
            for j in range(HLL_M)
        )
    )
    return zs, hit, checksum


@query(
    "stream_hll_distinct_replay",
    oracle=f"""
    WITH h AS (
      SELECT time_bucket(INTERVAL '1 day', ts) AS d,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13))::BIGINT
               AS h52
      FROM events
    ),
    b AS (
      SELECT d, h52 % {HLL_M} AS bucket, h52 // {HLL_M} AS w FROM h
    ),
    regs AS (
      SELECT d, bucket,
             MAX(CASE WHEN w = 0 THEN {HLL_W_BITS + 1}
                      ELSE {HLL_W_BITS + 1} - length(bin(w)) END) AS m_j
      FROM b GROUP BY 1, 2
    ),
    z AS (
      SELECT d,
             SUM(1::BIGINT << CAST({HLL_W_BITS + 1} - m_j AS INT))
               + ({HLL_M} - COUNT(*)) * (1::BIGINT << {HLL_W_BITS + 1}) AS zs,
             COUNT(*) AS n_buckets_hit,
             SUM(m_j * (bucket + 1)) AS register_checksum
      FROM regs GROUP BY 1
    ),
    est AS (
      SELECT d, n_buckets_hit, register_checksum,
             {HLL_ALPHA_MILLI} * {HLL_M} * {HLL_M}
               * LEAST(((1::BIGINT << {HLL_W_BITS + 1}) * 1000) // zs,
                       {HLL_R_CAP}) // 1000 AS raw_milli,
             {HLL_M} - n_buckets_hit AS v_zero
      FROM z
    )
    SELECT strftime(d, '%Y-%m-%d %H:%M:%S') AS window_start,
           CAST(CASE WHEN v_zero > 0 AND raw_milli <= {HLL_LC_CUTOFF_MILLI}
                     THEN {HLL_M} * ({_HLL_LC_SQL})[CAST(v_zero AS BIGINT)]
                     ELSE raw_milli END AS BIGINT) AS hll_est_milli,
           CAST(n_buckets_hit AS BIGINT) AS n_buckets_hit,
           CAST(register_checksum AS BIGINT) AS register_checksum
    FROM est
    """,
)
def stream_hll_distinct_replay(spark, sf_dir):
    """Streaming HyperLogLog — per-tumbling-day distinct-user sketch
    over a watermarked readStream, replayed availableNow: the
    PRODUCTION way to count streaming uniques
    (``stream_distinct_users_replay`` keeps exact per-key dedupe
    state that grows with cardinality; the HLL keeps exactly
    {HLL_M} longs per window regardless of cardinality). The
    registers live IN the streaming aggregation state as {HLL_M}
    conditional-max columns — max is the HLL merge, so micro-batch
    partials combine exactly like production shards and the replayed
    result equals the batch computation (the oracle recomputes it
    from scratch; ``agg_hll_md5_parity``'s estimator with the same
    import-time linear-counting table).

    Scale shape: one stateful windowed aggregation, state =
    windows x {HLL_M} longs (bounded by the watermark horizon), no
    per-user state, no second stateful operator — the single-agg form
    deliberately avoids chained stateful aggregations. Complete-mode
    memory sink is replay-only; production writes foreachBatch."""
    from caliper_poc_data_etl_spark.streaming.events import (
        read_event_stream,
        replay_to_df,
    )

    events = read_event_stream(spark, sf_dir)
    h52 = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 13), 16, 10
    ).cast("long")
    enriched = (
        events.withWatermark("ts", "2 hours")
        .withColumn("bucket", h52 % HLL_M)
        .withColumn("w_rem", (h52 / HLL_M).cast("long"))
        .withColumn(
            "rho",
            F.when(F.col("w_rem") == 0, F.lit(HLL_W_BITS + 1)).otherwise(
                F.lit(HLL_W_BITS + 1) - F.length(F.bin(F.col("w_rem")))
            ),
        )
    )
    regs = enriched.groupBy(F.window("ts", "1 day").alias("win")).agg(
        *[
            # parsed (one py4j call per register instead of ~6)
            F.expr(f"max(CASE WHEN bucket = {j} THEN rho END)").alias(f"m_{j}")
            for j in range(HLL_M)
        ]
    )
    zs, hit, checksum = _hll_register_summary_cols()
    summarized = regs.select(
        F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        zs.cast("long").alias("zs"),
        hit.cast("long").alias("n_buckets_hit"),
        checksum.cast("long").alias("register_checksum"),
    )
    out = _hll_est_from_zs(summarized).select(
        "window_start",
        "hll_est_milli",
        "n_buckets_hit",
        "register_checksum",
    )
    return replay_to_df(out, mode="complete")


# ---------------------------------------------------------------------------
# Johnson-Lindenstrauss sign projection
# ---------------------------------------------------------------------------

JL_K = 16  # target dimension
JL_D = 64  # source embedding dimension
JL_MICRO = 1_000_000  # embedding quantization before projecting


def _jl_signs() -> list[list[int]]:
    """±1 sign matrix, row j = target dim, derived from md5(j:d) ONCE
    at import and embedded in both engines (the PHASH_COS /
    HLL_LC_MILLI build-time trick applied to the hash): s = +1 if the
    first md5 nibble is even. Integers, because the projection runs on
    the micro-quantized embedding: a first form projected the raw
    floats through each engine's dot product and DuckDB's
    list_dot_product accumulates in a DIFFERENT order than Spark's
    sequential fold — an ulp of disagreement flipped a milli rounding
    boundary at sf0.01 (caught by the oracle gate, recorded in
    NOTES_r09). Quantize-then-project is order-free exact integer
    arithmetic on both engines AND the realistic pipeline shape (ANN
    stacks project int8/int16-quantized vectors, not raw floats)."""
    import hashlib

    return [
        [
            1
            if int(hashlib.md5(f"{j}:{d}".encode()).hexdigest()[0], 16) % 2 == 0
            else -1
            for d in range(JL_D)
        ]
        for j in range(JL_K)
    ]


JL_SIGNS = _jl_signs()


def _jl_signs_sql(j: int) -> str:
    return "[" + ", ".join(str(v) for v in JL_SIGNS[j]) + "]"


@query(
    "embed_jl_projection_parity",
    oracle=f"""
    WITH signs AS (
      -- sign rows as COLUMNS: inlining the 64-literal lists inside the
      -- projection lambdas made DuckDB rebuild them per element access
      -- (15.5 s -> 0.1 s at sf0.1, result-identical; the mm_phash_dct
      -- cos-table lesson)
      SELECT {", ".join(f"{_jl_signs_sql(j)} AS s{j}" for j in range(JL_K))}
    ),
    q AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(FLOOR(CAST(x AS DOUBLE) * {JL_MICRO} + 0.5)
                         AS BIGINT)) AS xm
      FROM embeddings
    ),
    proj AS (
      SELECT vec_id,
             {", ".join(
                 f"CAST(list_sum(list_transform(range(1, {JL_D} + 1), "
                 f"i -> xm[i] * s{j}[i])) AS BIGINT) AS m{j}"
                 for j in range(JL_K)
             )}
      FROM q CROSS JOIN signs
    )
    SELECT vec_id,
           m0 AS proj0_micro, m1 AS proj1_micro,
           m2 AS proj2_micro, m3 AS proj3_micro,
           CAST({" + ".join(f"m{j} * m{j}" for j in range(JL_K))} AS BIGINT)
             AS l2sq_micro
    FROM proj
    """,
)
def embed_jl_projection_parity(spark, sf_dir):
    """Johnson–Lindenstrauss sign projection ({JL_D} -> {JL_K} dims) —
    the dimensionality-reduction step an ANN pipeline runs before
    coarse search (Achlioptas 2003: ±1 entries suffice, no Gaussians).
    The embedding is micro-quantized FIRST (floor(x*1e6+0.5), the
    registry's centi/micro recipe), then projected through the
    import-time md5-derived ±1 matrix :data:`JL_SIGNS` — every value
    crossing the engine boundary is an exact BIGINT, immune to the
    accumulation-order ulp divergence that sank the raw-float form
    (see :func:`_jl_signs`). Outputs the first four projected
    coordinates plus the full {JL_K}-dim squared norm — the quantity
    the JL lemma preserves (E[||Px||²] = {JL_K}·||x||²; pinned in
    pytest, since the hash proves parity, not geometry).

    Scale shape: {JL_K} fixed {JL_D}-term integer folds per row —
    pure per-row Column math, zero shuffle, linear at any corpus
    size, and 4x less data shipped to every downstream ANN stage."""
    e = t(spark, sf_dir, "embeddings")
    xm = F.transform(
        "embedding",
        lambda x: F.floor(x.cast("double") * JL_MICRO + F.lit(0.5)).cast("long"),
    )
    # One-row-group input: without the spread the 16 interpreted HOF
    # folds per row all run in a single task (the r11 lesson; measured
    # 23 s -> ~1 s at sf0.1).
    q = spread(e, "vec_id").select("vec_id", xm.alias("xm"))

    def proj(j):
        # ONE parsed expression per projection row instead of JL_D
        # F.lit round-trips + two lambda Columns (the r12 similarity.py
        # recipe; ~1100 py4j calls → 16). Identical tree after parsing
        # (Multiply → Add fold over exact BIGINTs), so the projected
        # integers are bit-identical.
        signs = (
            "array(" + ", ".join(str(v) + "L" for v in JL_SIGNS[j]) + ")"
        )
        return F.expr(
            f"aggregate(zip_with(xm, {signs}, (p, s) -> p * s), "
            "CAST(0 AS BIGINT), (acc, v) -> acc + v)"
        )

    pm = q.select(
        "vec_id", *[proj(j).alias(f"m{j}") for j in range(JL_K)]
    )
    from functools import reduce
    from operator import add

    l2sq = reduce(add, [F.col(f"m{j}") * F.col(f"m{j}") for j in range(JL_K)])
    return pm.select(
        "vec_id",
        F.col("m0").alias("proj0_micro"),
        F.col("m1").alias("proj1_micro"),
        F.col("m2").alias("proj2_micro"),
        F.col("m3").alias("proj3_micro"),
        l2sq.cast("long").alias("l2sq_micro"),
    )
