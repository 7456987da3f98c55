"""Deduplication operators (north-star §2B / LLM-pipeline surface).

Five dedup families over ``documents`` / ``embeddings``:

- exact (hash group-by) — oracle-checked
- exact-normalized (case/punct/ws-insensitive) — oracle-checked
- n-gram Jaccard near-dup (exact pairwise) — oracle-checked
- MinHash + LSH near-dup (banding) — rows-only (engine-specific
  hashing); recall vs the exact path is asserted in tests
- SimHash near-dup — rows-only, same reason
- embedding-cosine near-dup — oracle-checked

Scale posture: the exact-pairwise paths shuffle on shingle (bounded by
posting-list sizes); the 100 TB path is MinHash/SimHash banding where
candidate generation is a single groupBy on band keys — no quadratic
blowup. Signatures are computed as K aggregate columns (no ×K row
explosion).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from caliper_poc_data_etl_spark.queries.registry import query, spread, t

JACCARD_THRESHOLD = 0.8
COSINE_DUP_THRESHOLD = 0.4

# MinHash parameters: K hashes, banded r rows × b bands (K = r*b).
# r=2, b=16: P(candidate) = 1-(1-J²)^16 → at the 0.8 threshold the
# miss probability is (1-0.64)^16 ≈ 8e-8; halving K from 64 halves
# the aggregate-codegen cost, which dominates wall time.
MINHASH_K = 32
MINHASH_BANDS = 16  # r = 2
MERSENNE_P = (1 << 31) - 1


@query(
    "dedup_exact",
    oracle="""
    SELECT md5(text) AS content_hash,
           CAST(MIN(doc_id) AS BIGINT) AS keeper_doc_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY md5(text)
    """,
)
def dedup_exact(spark, sf_dir):
    """Exact dedup via content-hash group-by; deterministic survivor
    (min doc_id) so the result is reproducible — `dropDuplicates`
    keeps an arbitrary row, which is not."""
    d = t(spark, sf_dir, "documents")
    return d.groupBy(F.md5("text").alias("content_hash")).agg(
        F.min("doc_id").alias("keeper_doc_id"), F.count("*").alias("n_copies")
    )


@query(
    "dedup_exact_normalized",
    oracle="""
    SELECT md5(lower(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g'))) AS norm_hash,
           CAST(MIN(doc_id) AS BIGINT) AS keeper_doc_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY 1
    """,
)
def dedup_exact_normalized(spark, sf_dir):
    """Exact dedup on normalized content (case/punctuation/whitespace
    insensitive) — catches trivially-reformatted copies."""
    d = t(spark, sf_dir, "documents")
    return d.groupBy(
        F.md5(F.lower(F.regexp_replace("text", "[^a-zA-Z0-9]", ""))).alias("norm_hash")
    ).agg(F.min("doc_id").alias("keeper_doc_id"), F.count("*").alias("n_copies"))


def _doc_shingle_sets(d: DataFrame) -> DataFrame:
    """(doc_id, shset: array<string>) distinct 3-gram word shingles,
    one row per document — computed entirely per-row (narrow plan, NO
    shuffle): split → sliding-window transform → array_distinct.

    ``toks`` is materialized as a named column BEFORE the shingle
    transform: referencing a raw ``split()`` expression inside a
    higher-order-function lambda re-runs the regex split per element
    access (O(tokens²) regex work per row — measured 10×+ slowdown).
    CollapseProject keeps the materialized alias because it is
    referenced multiple times by non-cheap expressions."""
    toks = F.col("toks")
    shingles = F.transform(
        F.sequence(F.lit(1), F.size(toks) - 2),
        lambda i: F.concat_ws(
            " ",
            F.element_at(toks, i),
            F.element_at(toks, i + 1),
            F.element_at(toks, i + 2),
        ),
    )
    return (
        spread(d)
        .select("doc_id", F.split(F.trim(F.col("text")), "\\s+").alias("toks"))
        .filter(F.size(toks) >= 3)
        .select("doc_id", F.array_distinct(shingles).alias("shset"))
    )


def _doc_shingles(d: DataFrame) -> DataFrame:
    """(doc_id, shingle) exploded form of ``_doc_shingle_sets`` — only
    for plans that genuinely need a shingle-keyed shuffle (the exact
    pairwise self-join)."""
    return _doc_shingle_sets(d).select(
        "doc_id", F.explode("shset").alias("shingle")
    )


_NGRAM_ORACLE = f"""
    WITH tk AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tk
      FROM documents
    ),
    sh AS (
      SELECT doc_id, unnest(list_distinct(
        list_transform(range(1, len(tk) - 1),
          i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS shingle
      FROM tk
      WHERE len(tk) >= 3
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           ROUND(i * 1.0 / (sa.n + sb.n - i), 4) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE i * 1.0 / (sa.n + sb.n - i) >= {JACCARD_THRESHOLD}
"""


@query("dedup_ngram_jaccard", oracle=_NGRAM_ORACLE)
def dedup_ngram_jaccard(spark, sf_dir):
    """Exact near-dup pairs by 3-gram shingle Jaccard ≥ 0.8.

    Plan: per-row shingle sets (no shuffle) → explode with the set
    size carried alongside → self-equi-join on shingle (intersection
    counts; sizes ride through the group-by keys, so NO extra
    size-table joins) → filter. The shingle join is an equi-join, so
    it shuffles on shingle — no cross product; hot shingles are the
    skew risk (AQE skew-join handles)."""
    sh = _doc_shingle_sets(t(spark, sf_dir, "documents")).select(
        "doc_id", F.size("shset").alias("n"), F.explode("shset").alias("shingle")
    )
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n").alias("n_a"),
            F.col("b.n").alias("n_b"),
        )
        .agg(F.count("*").alias("i"))
    )
    jacc = F.col("i") / (F.col("n_a") + F.col("n_b") - F.col("i"))
    return (
        inter.filter(jacc >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", F.round(jacc, 4).alias("jaccard"))
    )


def _minhash_coeffs() -> list[tuple[int, int]]:
    """The K universal-hash permutation constants, fixed-seed so every
    variant (xxhash64 production path, md5 parity path, its SQL
    oracle) draws the same family."""
    import random

    rng = random.Random(20260813)
    return [
        (rng.randrange(1, MERSENNE_P), rng.randrange(0, MERSENNE_P))
        for _ in range(MINHASH_K)
    ]


def _minhash_md5_oracle() -> str:
    perms = ",\n           ".join(
        f"list_min(list_transform(harr, x -> ({a} * x + {b}) % {MERSENNE_P}))"
        for a, b in _minhash_coeffs()
    )
    return f"""
    WITH tk AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tk
      FROM documents
    ),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(tk) - 1),
               i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS shset
      FROM tk WHERE len(tk) >= 3
    ),
    h AS (
      SELECT doc_id,
             list_transform(shset,
               s -> ('0x' || substr(md5(s), 1, 15))::BIGINT % {MERSENNE_P})
               AS harr
      FROM sh
    )
    SELECT doc_id, array_to_string([{perms}], ',') AS sig FROM h
    """


@query("dedup_minhash_md5_parity", oracle=_minhash_md5_oracle())
def dedup_minhash_md5_parity(spark, sf_dir):
    """MinHash signatures with an ENGINE-AGNOSTIC base hash (md5 hex
    prefix → bigint), hash-match graded against a DuckDB oracle that
    recomputes the identical K-permutation signatures in SQL.

    Purpose: the production path (:func:`minhash_signatures` /
    ``dedup_minhash_lsh``) uses xxhash64, which no other engine
    reproduces, so it can only be rows-only graded; this variant
    proves the MinHash math itself — shingling, base hashing,
    universal-hash permutations, per-permutation minima — value-exact
    across engines. Same permutation constants, same shingle
    definition; only the base hash differs (md5 costs ~3× xxhash64,
    which is why it is the parity path, not the production one).

    The signature is emitted as a comma-joined STRING, not
    ``array<bigint>``: the grading driver canonicalizes results via
    pandas ``sort_values``, which cannot hash list cells (r3 lesson —
    graded outputs must be scalar-typed on every column)."""
    sets = _doc_shingle_sets(t(spark, sf_dir, "documents")).select(
        "doc_id",
        F.transform(
            "shset",
            lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")
            % MERSENNE_P,
        ).alias("harr"),
    )
    # K permutation minima rendered as ONE parsed expression (r12
    # build-cost fix; same Remainder arithmetic the Column loop built).
    mins = [
        f"array_min(transform(harr, h -> ({a} * h + {b}) % {MERSENNE_P}))"
        for a, b in _minhash_coeffs()
    ]
    return sets.select(
        "doc_id",
        F.expr(
            "concat_ws(',', " + ", ".join(f"CAST({m} AS STRING)" for m in mins) + ")"
        ).alias("sig"),
    )


def minhash_signatures(spark, sf_dir) -> DataFrame:
    """(doc_id, sig: array<bigint>) MinHash signatures.

    Shingle set (per-row) → 64-bit hash per shingle (hashed ONCE into
    a materialized ``harr`` column, not once per permutation) → K
    universal-hash permutations ``min((a_i * h + b_i) mod p)`` as K
    ``array_min(transform(...))`` expressions (p Mersenne-31; fixed
    seed so runs are deterministic).

    The whole signature computation is per-row — NO explode, NO
    shuffle. At 100 TB this is a map-only stage pipelined with the
    scan; the first exchange in the LSH plan is the band-bucket
    group-by, which carries one (band, hash, doc_id) row per band per
    doc, never the shingle stream.
    """
    sets = _doc_shingle_sets(t(spark, sf_dir, "documents")).select(
        "doc_id",
        F.transform(
            "shset", lambda s: F.pmod(F.xxhash64(s), F.lit(MERSENNE_P))
        ).alias("harr"),
    )
    # Full-range random coefficients (fixed seed → deterministic runs;
    # _minhash_coeffs draws the identical sequence the inline loop
    # did): small sequential a_i make a badly correlated linear family
    # and measurably miss borderline candidates. The K minima render
    # as ONE parsed expression — the 32-lambda Column loop cost ~1 s
    # of py4j round-trips per build (r12; value-identical pmod tree).
    sig_sql = "array(" + ", ".join(
        f"array_min(transform(harr, h -> pmod({a} * h + {b}, {MERSENNE_P})))"
        for a, b in _minhash_coeffs()
    ) + ")"
    return sets.select("doc_id", F.expr(sig_sql).alias("sig"))


@query("dedup_minhash_lsh", oracle=None)  # engine-specific hashing → rows-only
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash+LSH near-dup: band signatures → candidate buckets →
    exact-Jaccard verification of candidates only.

    The 100 TB path: candidates come from a groupBy on (band, band
    hash) — cost scales with bucket collisions, not n². Verification
    re-joins only candidate pairs. Tests assert recall ≥ 0.9 vs the
    exact `dedup_ngram_jaccard` result at this threshold."""
    sig = minhash_signatures(spark, sf_dir)
    r = MINHASH_K // MINHASH_BANDS
    bands = sig.select(
        "doc_id",
        F.posexplode(
            F.expr(
                "array(" + ", ".join(
                    f"xxhash64(CAST(CAST(slice(sig, {i * r + 1}, {r}) "
                    "AS ARRAY<STRING>) AS STRING))"
                    for i in range(MINHASH_BANDS)
                ) + ")"
            )
        ).alias("band", "band_hash"),
    )
    # Candidate pairs from bucket membership lists — ONE aggregation,
    # no self-join (a self-join would recompute the whole signature
    # pipeline on both sides). Pairs are generated inside each bucket
    # array; cost scales with Σ bucket² (LSH's intrinsic cost), and a
    # degenerate all-identical corpus is the only case where a single
    # bucket array gets large.
    buckets = (
        bands.groupBy("band", "band_hash")
        .agg(F.array_sort(F.collect_set("doc_id")).alias("docs"))
        .filter(F.size("docs") >= 2)
    )
    docs = F.col("docs")
    pair_arrays = F.transform(
        docs,
        lambda x, i: F.transform(
            F.slice(docs, i + 2, F.size(docs)),
            lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
        ),
    )
    candidates = (
        buckets.select(F.explode(F.flatten(pair_arrays)).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )
    # Exact verification restricted to candidates: per-doc shingle SETS
    # (bounded by document length, computed per-row with no shuffle)
    # + array_intersect per pair.
    sets = _doc_shingle_sets(t(spark, sf_dir, "documents"))
    pairs = candidates.join(
        sets.select(F.col("doc_id").alias("doc_a"), F.col("shset").alias("sh_a")),
        "doc_a",
    ).join(
        sets.select(F.col("doc_id").alias("doc_b"), F.col("shset").alias("sh_b")),
        "doc_b",
    )
    i = F.size(F.array_intersect("sh_a", "sh_b"))
    jacc = i / (F.size("sh_a") + F.size("sh_b") - i)
    return (
        pairs.filter(jacc >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", F.round(jacc, 4).alias("jaccard"))
    )


def simhash_fingerprints(d: DataFrame) -> DataFrame:
    """(doc_id, simhash): 64-bit SimHash of the token multiset.

    Per bit k: vote = #tokens with bit k set minus #tokens with it
    clear; bit k of the fingerprint = (vote > 0). Formulated as
    explode(token hash) → hash aggregate with 64 SUM(±1) columns —
    the same partial-aggregate shape as MinHash, which codegen
    compiles an order of magnitude faster than 64 per-row array-filter
    lambdas (measured 16 s → ~2 s at sf0.01). Map-side partial
    aggregation means the shuffle carries one 64-column row per doc
    per partition, not the token stream."""
    toks = (
        spread(d)
        .select("doc_id", F.split(F.trim(F.col("text")), "\\s+").alias("toks"))
        .select("doc_id", F.explode("toks").alias("tok"))
        .select("doc_id", F.xxhash64("tok").alias("h"))
    )
    # Parsed-expression builders (the r12 similarity.py recipe): the 64
    # vote aggregates and the 64-bit pack render as SQL strings — one
    # py4j round-trip each instead of ~6 per Column chain (~1100 total;
    # the build cost is paid per bench trial / correctness run). The
    # parsed trees are the same operators (CASE WHEN / & / <<), so the
    # values are bit-identical.
    votes = [
        F.expr(
            f"sum(CASE WHEN (h & (CAST(1 AS BIGINT) << {k})) != 0 "
            "THEN 1 ELSE -1 END)"
        ).alias(f"v_{k}")
        for k in range(64)
    ]
    voted = toks.groupBy("doc_id").agg(*votes)
    fingerprint = " | ".join(
        f"(CAST(CASE WHEN v_{k} > 0 THEN 1 ELSE 0 END AS BIGINT) << {k})"
        for k in range(64)
    )
    return voted.select(
        "doc_id", F.expr(f"CAST(({fingerprint}) AS BIGINT)").alias("simhash")
    )


_SIMHASH_MD5_BITS = 60  # md5 15-hex-char prefix → 60 usable bits


def _simhash_md5_oracle() -> str:
    vote = (
        "SUM(CASE WHEN (('0x' || substr(md5(tok), 1, 15))::BIGINT >> {k}) & 1 = 1 "
        "THEN 1 ELSE -1 END)"
    )
    fp = " + ".join(
        f"(CASE WHEN {vote.format(k=k)} > 0 THEN CAST(1 AS BIGINT) ELSE 0 END << {k})"
        for k in range(_SIMHASH_MD5_BITS)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
      FROM documents
    )
    SELECT doc_id, {fp} AS simhash
    FROM toks GROUP BY doc_id
    """


@query("dedup_simhash_md5_parity", oracle=_simhash_md5_oracle())
def dedup_simhash_md5_parity(spark, sf_dir):
    """SimHash fingerprints with the engine-agnostic md5 base hash
    (60-bit), hash-match graded against a DuckDB oracle recomputing
    the identical per-bit votes in SQL — parity evidence for the
    SimHash mechanism itself (same vote/threshold/bit-pack math as the
    xxhash64 production path in :func:`simhash_fingerprints`, which
    stays rows-only because no other engine reproduces xxhash64)."""
    d = t(spark, sf_dir, "documents")
    toks = (
        spread(d)
        .select("doc_id", F.split(F.trim(F.col("text")), "\\s+").alias("toks"))
        .select("doc_id", F.explode("toks").alias("tok"))
        .select(
            "doc_id",
            (
                F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("long")
            ).alias("h"),
        )
    )
    # Parsed-expression builders, as in :func:`simhash_fingerprints`
    # (same operators after parsing — hash-graded values unchanged).
    votes = [
        F.expr(
            f"sum(CASE WHEN (h & (CAST(1 AS BIGINT) << {k})) != 0 "
            "THEN 1 ELSE -1 END)"
        ).alias(f"v_{k}")
        for k in range(_SIMHASH_MD5_BITS)
    ]
    voted = toks.groupBy("doc_id").agg(*votes)
    fingerprint = " + ".join(
        f"(CAST(CASE WHEN v_{k} > 0 THEN 1 ELSE 0 END AS BIGINT) << {k})"
        for k in range(_SIMHASH_MD5_BITS)
    )
    return voted.select(
        "doc_id", F.expr(f"CAST(({fingerprint}) AS BIGINT)").alias("simhash")
    )


@query("dedup_simhash", oracle=None)  # engine-specific hashing → rows-only
def dedup_simhash(spark, sf_dir):
    """SimHash near-dup: 64-bit fingerprints, banded into 4×16-bit
    chunks (guarantees candidate coverage for Hamming distance ≤ 3),
    verified with bit_count(xor) ≤ 3."""
    d = simhash_fingerprints(t(spark, sf_dir, "documents"))
    chunks = d.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned("simhash", 16 * i)
                    .bitwiseAND(F.lit(0xFFFF).cast("long"))
                    for i in range(4)
                ]
            )
        ).alias("chunk_idx", "chunk"),
    )
    # Bucket by chunk and pair up inside each bucket array (one
    # aggregation — a self-join would recompute the fingerprint
    # pipeline on both sides). The fingerprint rides along in the
    # bucket so Hamming verification needs no re-join.
    buckets = (
        chunks.groupBy("chunk_idx", "chunk")
        .agg(
            F.array_sort(
                F.collect_set(F.struct(F.col("doc_id"), F.col("simhash")))
            ).alias("docs")
        )
        .filter(F.size("docs") >= 2)
    )
    docs = F.col("docs")
    pair_arrays = F.transform(
        docs,
        lambda x, i: F.transform(
            F.slice(docs, i + 2, F.size(docs)),
            lambda y: F.struct(
                x["doc_id"].alias("doc_a"),
                y["doc_id"].alias("doc_b"),
                F.bit_count(x["simhash"].bitwiseXOR(y["simhash"])).alias("hamming"),
            ),
        ),
    )
    return (
        buckets.select(F.explode(F.flatten(pair_arrays)).alias("p"))
        .select("p.doc_a", "p.doc_b", "p.hamming")
        .distinct()
        .filter(F.col("hamming") <= 3)
    )


@query(
    "dedup_embedding_cosine",
    oracle=f"""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND(CAST(list_dot_product(a.embedding, b.embedding) AS DOUBLE)
                 / (sqrt(CAST(list_dot_product(a.embedding, a.embedding) AS DOUBLE))
                    * sqrt(CAST(list_dot_product(b.embedding, b.embedding) AS DOUBLE))),
                 4) AS cosine
    FROM embeddings a
    JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE CAST(list_dot_product(a.embedding, b.embedding) AS DOUBLE)
          / (sqrt(CAST(list_dot_product(a.embedding, a.embedding) AS DOUBLE))
             * sqrt(CAST(list_dot_product(b.embedding, b.embedding) AS DOUBLE)))
          >= {COSINE_DUP_THRESHOLD}
    """,
)
def dedup_embedding_cosine(spark, sf_dir):
    """Embedding near-dup: all pairs with cosine ≥ threshold.

    Exact quadratic baseline (fine at this SF; the ANN/LSH variant in
    similarity.py is the scale path). The pair join is an equi-join on
    a 32-way salt (b-side salt = pmod(vec_id, 32), a-side replicated
    32x and explicitly repartitioned on salt — each pair exactly once)
    against the BROADCAST corpus side, instead of a bare theta join:
    the one-row-group input otherwise degenerates the join to a single
    task — measured 41 s → 2.2 s warm at sf0.1. (Explicit numPartitions
    on the repartition so AQE cannot coalesce the ~35 MB shuffle back
    to one task; explicit broadcast(b) because the planner otherwise
    builds on the exploded side and streams the one-row-group side.)
    The per-pair dot keeps the zip_with/aggregate HOF: a flat 64-term
    float-mult-cast chain was measured SLOWER per pair (14 s vs 2.2 s)
    — the per-term float→double casts defeat codegen's advantage,
    unlike the integer flat dot in sim_pairwise_label_stats. Norms are
    per side: one dot per pair, not three."""
    n_salts = 32
    e = t(spark, sf_dir, "embeddings")

    def dot(x, y):
        return F.aggregate(
            F.zip_with(x, y, lambda p, q: (p * q).cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    base = e.select(
        "vec_id",
        "embedding",
        F.sqrt(dot(F.col("embedding"), F.col("embedding"))).alias("norm"),
    )
    a = base.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("emb_a"),
        F.col("norm").alias("norm_a"),
        F.explode(F.array(*[F.lit(s) for s in range(n_salts)])).alias("salt"),
    ).repartition(n_salts, F.col("salt"))
    b = base.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("emb_b"),
        F.col("norm").alias("norm_b"),
        F.pmod(F.col("vec_id"), F.lit(n_salts)).cast("int").alias("salt"),
    )
    cos = dot(F.col("emb_a"), F.col("emb_b")) / (
        F.col("norm_a") * F.col("norm_b")
    )
    return (
        a.join(F.broadcast(b), "salt")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", cos.alias("cosine_raw"))
        .filter(F.col("cosine_raw") >= COSINE_DUP_THRESHOLD)
        .select("vec_a", "vec_b", F.round("cosine_raw", 4).alias("cosine"))
    )


@query("dedup_embedding_lsh", oracle=None)  # bucket set engine-specific
def dedup_embedding_lsh(spark, sf_dir):
    """Embedding near-dup, LSH-bucketed — the 100 TB path for
    ``dedup_embedding_cosine``.

    Random-hyperplane buckets (shared with sim_ann_lsh) + 1-bit
    multi-probe generate candidate pairs inside buckets only; exact
    cosine verifies candidates, so output pairs ⊆ the exact baseline
    (recall vs it asserted in tests). Candidate generation is a
    band-key groupBy-style self-join — no all-pairs blowup."""
    from caliper_poc_data_etl_spark.queries.similarity import (
        N_HYPERPLANES,
        lsh_bucket_column,
    )

    e = t(spark, sf_dir, "embeddings")

    def dot(x, y):
        return F.aggregate(
            F.zip_with(x, y, lambda p, q: (p * q).cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    base = e.select(
        "vec_id",
        "embedding",
        F.sqrt(dot(F.col("embedding"), F.col("embedding"))).alias("norm"),
        lsh_bucket_column("embedding").alias("bucket"),
    )
    # Multi-probe: register each vector under its bucket and the
    # N_HYPERPLANES 1-bit flips; a pair collides if any probe bucket
    # matches the other's home bucket.
    probes = F.array(
        F.col("bucket"),
        *[
            F.col("bucket").bitwiseXOR(F.lit(1 << i).cast("long"))
            for i in range(N_HYPERPLANES)
        ],
    )
    a = base.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("emb_a"),
        F.col("norm").alias("norm_a"),
        F.explode(probes).alias("probe"),
    )
    b = base.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("emb_b"),
        F.col("norm").alias("norm_b"),
        F.col("bucket").alias("home_b"),
    )
    cos = dot(F.col("emb_a"), F.col("emb_b")) / (F.col("norm_a") * F.col("norm_b"))
    return (
        a.join(b, (F.col("probe") == F.col("home_b")) & (F.col("vec_a") < F.col("vec_b")))
        .select("vec_a", "vec_b", cos.alias("cosine_raw"))
        .distinct()
        .filter(F.col("cosine_raw") >= COSINE_DUP_THRESHOLD)
        .select("vec_a", "vec_b", F.round("cosine_raw", 4).alias("cosine"))
    )


CONTAINMENT_THRESHOLD = 0.9

_CONTAINMENT_ORACLE = f"""
    WITH tk AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tk
      FROM documents
    ),
    sh AS (
      SELECT doc_id, unnest(list_distinct(
        list_transform(range(1, len(tk) - 1),
          i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS shingle
      FROM tk
      WHERE len(tk) >= 3
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           ROUND(i * 1.0 / sa.n, 4) AS containment
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE i * 1.0 / sa.n >= {CONTAINMENT_THRESHOLD}
"""


@query("dedup_ngram_containment", oracle=_CONTAINMENT_ORACLE)
def dedup_ngram_containment(spark, sf_dir):
    """Asymmetric containment dedup: |sh(A) ∩ sh(B)| / |sh(A)| ≥ 0.9 —
    catches document A embedded inside a larger B (quote farms,
    boilerplate wrappers, concatenated dumps), which symmetric Jaccard
    misses whenever B is much longer than A. Directed pairs: (a, b)
    and (b, a) score independently.

    Plan shape is ``dedup_ngram_jaccard``'s: per-row shingle sets, one
    shingle-keyed equi-join for intersections, sizes riding the
    group-by keys — quadratic only in co-occurring shingles, the exact
    oracle baseline for a banded variant at 100 TB."""
    d = t(spark, sf_dir, "documents")
    sized = _doc_shingle_sets(d).select(
        "doc_id", "shset", F.size("shset").alias("n")
    )
    sh = sized.select(
        "doc_id", "n", F.explode("shset").alias("shingle")
    )
    a = sh.select(
        F.col("doc_id").alias("doc_a"),
        F.col("n").alias("n_a"),
        "shingle",
    )
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        a.join(b, ["shingle"])
        .filter(F.col("doc_a") != F.col("doc_b"))
        .groupBy("doc_a", "doc_b", "n_a")
        .agg(F.count("*").alias("i"))
    )
    containment = F.col("i") / F.col("n_a")
    return (
        inter.filter(containment >= CONTAINMENT_THRESHOLD)
        .select(
            "doc_a", "doc_b", F.round(containment, 4).alias("containment")
        )
    )


@query(
    "text_dedup_prefix_key",
    oracle="""
    WITH k AS (
      SELECT doc_id,
             substr(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'),
                    1, 32) AS pkey
      FROM documents
    )
    SELECT pkey,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS keeper
    FROM k GROUP BY pkey HAVING COUNT(*) > 1
    """,
)
def text_dedup_prefix_key(spark, sf_dir):
    """Prefix-key blocking: normalized 32-char prefix as the blocking
    key, groups with >1 member are near-dup candidate blocks (keeper =
    min doc_id, the engine's standard deterministic-survivor rule).
    The cheapest tier of the dedup ladder — one hash agg, no
    signatures — used as a pre-filter ahead of MinHash/edit-distance
    verification (see fn_string_distance_pack for the verify
    primitive). Whitespace normalization matches the exact-dedup
    normalizer: lower + trim + collapse runs to single spaces."""
    d = t(spark, sf_dir, "documents")
    pkey = F.substring(
        F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "), 1, 32
    )
    return (
        d.groupBy(pkey.alias("pkey"))
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("keeper"),
        )
        .filter(F.col("n_docs") > 1)
    )


def _emb_lsh_candidate_oracle() -> str:
    from caliper_poc_data_etl_spark.queries.similarity import _hyperplanes

    planes = " + ".join(
        "(CASE WHEN list_dot_product(qv, "
        f"[{', '.join(str(v) for v in hp)}]) > 0 "
        f"THEN CAST(1 AS BIGINT) ELSE 0 END << {i})"
        for i, hp in enumerate(_hyperplanes())
    )
    return f"""
    WITH base AS (
      SELECT vec_id,
             list_transform(embedding, x -> ROUND(CAST(x AS DOUBLE) * 1000))
               AS qv
      FROM embeddings
    ), b AS (
      SELECT vec_id, {planes} AS bucket FROM base
    ), probes AS (
      SELECT vec_id,
             unnest([bucket] || list_transform(range(0, 8),
                    i -> xor(bucket, CAST(1 << i AS BIGINT)))) AS probe
      FROM b
    )
    SELECT DISTINCT p.vec_id AS vec_a, h.vec_id AS vec_b
    FROM probes p JOIN b h ON p.probe = h.bucket AND p.vec_id < h.vec_id
    """


@query(
    "dedup_embedding_lsh_candidate_parity",
    oracle=_emb_lsh_candidate_oracle(),
)
def dedup_embedding_lsh_candidate_parity(spark, sf_dir):
    """Multi-probe LSH CANDIDATE-PAIR generation made engine-exact and
    hash-match graded — the parity twin for ``dedup_embedding_lsh``.
    The bucket hash itself is proven by ``sim_lsh_bucket_parity``;
    this twin proves the next mechanism up the stack: the 1-bit-flip
    probe expansion and the probe==home collision join produce the
    identical candidate set cross-engine (integer-quantized vectors,
    same hyperplane family, same bit packing). The production path
    adds only the float cosine verification on top, which the
    subset-of-exact pytest covers."""
    from caliper_poc_data_etl_spark.queries.similarity import (
        _dot_sql,
        _hp_sql,
        _hyperplanes,
    )

    e = t(spark, sf_dir, "embeddings")
    qv = F.transform(
        "embedding", lambda x: F.round(x.cast("double") * 1000).cast("double")
    )
    base = e.select("vec_id", qv.alias("qv"))
    # One parsed expression for the whole bit pack (r12 build-cost fix;
    # same shifted-CASE sum the Column loop built, value-identical).
    bucket = F.expr(
        " + ".join(
            f"(CAST(CASE WHEN {_dot_sql('qv', _hp_sql(hp))} > 0 "
            f"THEN 1 ELSE 0 END AS BIGINT) << {i})"
            for i, hp in enumerate(_hyperplanes())
        )
    )
    b = base.select("vec_id", bucket.alias("bucket"))
    probes = F.array(
        F.col("bucket"),
        *[F.col("bucket").bitwiseXOR(F.lit(1 << i).cast("long")) for i in range(8)],
    )
    p = b.select(
        F.col("vec_id").alias("vec_a"), F.explode(probes).alias("probe")
    )
    h = b.select(F.col("vec_id").alias("vec_b"), F.col("bucket").alias("home"))
    return (
        p.join(h, (F.col("probe") == F.col("home")) & (F.col("vec_a") < F.col("vec_b")))
        .select("vec_a", "vec_b")
        .distinct()
    )


def _minhash_est_oracle() -> str:
    perms = ",\n             ".join(
        f"list_min(list_transform(harr, x -> ({a} * x + {b}) % {MERSENNE_P}))"
        for a, b in _minhash_coeffs()
    )
    return f"""
    WITH tk AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tk
      FROM documents
    ),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(tk) - 1),
               i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS shset
      FROM tk WHERE len(tk) >= 3
    ),
    h AS (
      SELECT doc_id,
             list_transform(shset,
               s -> ('0x' || substr(md5(s), 1, 15))::BIGINT % {MERSENNE_P})
               AS harr
      FROM sh
    ),
    sigs AS (SELECT doc_id, [{perms}] AS sig FROM h),
    -- Pair source = the shingle equi-join (cost: Σ per-shingle df²),
    -- the SAME mechanism the Spark side uses — identical result set,
    -- because a pair with zero shared shingles has J = 0 < 0.5. The
    -- earlier all-pairs a.doc_id < b.doc_id self-join with per-pair
    -- list_intersect was ~95% of this entry's sweep cost (the
    -- dedup_prefix_filter_jaccard oracle fix's sibling, VERDICT r10 #6).
    tok AS MATERIALIZED (
      SELECT doc_id, len(shset) AS n, u.s AS shingle
      FROM sh, unnest(shset) AS u(s)
    ),
    inter AS MATERIALIZED (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             MAX(a.n) AS n_a, MAX(b.n) AS n_b, COUNT(*) AS i
      FROM tok a JOIN tok b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    ex AS (
      SELECT doc_a, doc_b, i * 1.0 / (n_a + n_b - i) AS exact_j
      FROM inter
      WHERE i * 1.0 / (n_a + n_b - i) >= 0.5
    )
    SELECT ex.doc_a, ex.doc_b, ROUND(ex.exact_j, 4) AS exact_j,
           ROUND(len(list_filter(range(1, {MINHASH_K} + 1),
                   i -> sa.sig[i] = sb.sig[i])) * 1.0 / {MINHASH_K}, 4)
             AS est_j
    FROM ex
    JOIN sigs sa ON sa.doc_id = ex.doc_a
    JOIN sigs sb ON sb.doc_id = ex.doc_b
    """


@query("dedup_minhash_jaccard_estimate", oracle=_minhash_est_oracle())
def dedup_minhash_jaccard_estimate(spark, sf_dir):
    """MinHash ESTIMATOR accuracy, hash-exact across engines: for
    every document pair with true shingle Jaccard ≥ 0.5, report the
    exact Jaccard next to the MinHash estimate (the fraction of the 32
    md5-family signature components that agree) — the measurement that
    justifies trusting ``dedup_minhash_lsh``'s sketch at 100 TB, made
    into a graded operator. The companion pytest asserts the estimate
    tracks truth within the K=32 binomial error bound.

    The pair source is the shingle equi-join (cost: Σ per-shingle
    df², never n²); signatures ride in from the per-doc map-side
    pipeline and the estimate is a zip_with/filter over the two
    32-vectors. The oracle recomputes the identical md5-based
    signatures in SQL, so est_j — not just exact_j — hash-matches."""
    sets = _doc_shingle_sets(t(spark, sf_dir, "documents"))
    sigs = sets.select(
        "doc_id",
        F.transform(
            "shset",
            lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")
            % MERSENNE_P,
        ).alias("harr"),
    )
    sigs = sigs.select(
        "doc_id",
        F.expr(
            "array(" + ", ".join(
                f"array_min(transform(harr, h -> ({a} * h + {b}) % {MERSENNE_P}))"
                for a, b in _minhash_coeffs()
            ) + ")"
        ).alias("sig"),
    )
    sh = sets.select(
        "doc_id", F.size("shset").alias("n"), F.explode("shset").alias("shingle")
    )
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n").alias("n_a"),
            F.col("b.n").alias("n_b"),
        )
        .agg(F.count("*").alias("i"))
    )
    jacc = F.col("i") / (F.col("n_a") + F.col("n_b") - F.col("i"))
    pairs = inter.filter(jacc >= 0.5).select(
        "doc_a", "doc_b", F.round(jacc, 4).alias("exact_j")
    )
    est = F.round(
        F.aggregate(
            F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )
        / F.lit(MINHASH_K),
        4,
    )
    return (
        pairs.join(
            sigs.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a")),
            "doc_a",
        )
        .join(
            sigs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b")),
            "doc_b",
        )
        .select("doc_a", "doc_b", "exact_j", est.alias("est_j"))
    )


@query(
    "dedup_keep_longest",
    oracle=f"""
    WITH pairs AS MATERIALIZED ({_NGRAM_ORACLE}),
    losers AS (
      SELECT DISTINCT CASE
        WHEN da.n_chars < db.n_chars THEN p.doc_a
        WHEN da.n_chars > db.n_chars THEN p.doc_b
        ELSE GREATEST(p.doc_a, p.doc_b)
      END AS doc_id
      FROM pairs p
      JOIN documents da ON da.doc_id = p.doc_a
      JOIN documents db ON db.doc_id = p.doc_b
    ),
    partner_counts AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup_partners FROM (
        SELECT doc_a AS doc_id FROM pairs
        UNION ALL SELECT doc_b FROM pairs
      ) GROUP BY doc_id
    )
    SELECT d.doc_id,
           COALESCE(pc.n_dup_partners, 0) AS n_dup_partners,
           (l.doc_id IS NULL) AS kept
    FROM documents d
    LEFT JOIN partner_counts pc USING (doc_id)
    LEFT JOIN losers l USING (doc_id)
    """,
)
def dedup_keep_longest(spark, sf_dir):
    """Survivor selection for near-dup pairs — the curation half that
    turns pair DETECTION into corpus EDITS: in every Jaccard ≥ 0.8
    pair the shorter document is dominated (ties break to the lower
    doc_id), and a document dominated by ANY partner is dropped.
    "Keep the longest copy" is the stock web-pipeline heuristic
    (longer extraction ≈ less boilerplate truncation).

    Pairwise domination, deliberately NOT transitive-closure
    clustering: the cluster form (``dedup_cluster_cc`` +
    per-cluster argmax) needs the iterative CC fixed point, while the
    domination rule is two broadcast-sized joins on top of the same
    pair stream — at 100 TB the pair list is the small side by
    orders of magnitude. Both rules are real curation policies; the
    engine declares both."""
    d = t(spark, sf_dir, "documents")
    pairs = dedup_ngram_jaccard(spark, sf_dir)
    len_a = d.select(F.col("doc_id").alias("doc_a"), F.col("n_chars").alias("len_a"))
    len_b = d.select(F.col("doc_id").alias("doc_b"), F.col("n_chars").alias("len_b"))
    loser = (
        F.when(F.col("len_a") < F.col("len_b"), F.col("doc_a"))
        .when(F.col("len_a") > F.col("len_b"), F.col("doc_b"))
        .otherwise(F.greatest("doc_a", "doc_b"))
    )
    losers = (
        pairs.join(len_a, "doc_a")
        .join(len_b, "doc_b")
        .select(loser.alias("doc_id"))
        .distinct()
        .withColumn("dropped", F.lit(True))
    )
    partners = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionAll(pairs.select(F.col("doc_b").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_dup_partners"))
    )
    return (
        d.select("doc_id")
        .join(partners, "doc_id", "left")
        .join(losers, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_dup_partners", F.lit(0).cast("long")).alias(
                "n_dup_partners"
            ),
            F.col("dropped").isNull().alias("kept"),
        )
    )
