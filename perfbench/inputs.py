"""Seeded input generators for the benchmark workloads.

Everything here runs in the calling process on one thread, before any
Spark session exists: the same seed always gives byte-identical files.
Each generator returns the facts the correctness gate needs (row
counts per class, per-attempt input order), so the gate never has to
re-derive them from the program's own output.
"""

from __future__ import annotations

import datetime as dt
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Keep pyarrow on the calling thread: its pools would otherwise start
# worker threads while encoding the parquet tables.
pa.set_cpu_count(1)
pa.set_io_thread_count(1)

ITEM_COLUMNS = (
    "identity_id,login_identity_id,school_id,assessment_id,assessment_version,"
    "attempt_id,assmtitem_id,assmtitem_version,assessment_type_id,response_type,"
    "question_time,score_posible,score_earned,masterobjectives,"
    "masterobjectivesid,objectivenumber"
)
ASSESSMENT_COLUMNS = (
    "identity_id,login_identity_id,school_id,assessment_id,assessment_version,"
    "date_submitted,assessment_type_id,assessment_type,attempt_id,attemptnumber,"
    "is_mastered,score_earned,score_posible"
)

# items_grouped: ~200 question rows per attempt, as in the reference
# export; attempts interleave so that per-attempt input order matters.
ITEM_ROWS = 250_000
ITEM_ROWS_PER_ATTEMPT = 200
ITEM_MALFORMED_SHARE = 0.005  # stale 10-column rows (SURVEY F1 shape)
ITEM_MULTI_LO_SHARE = 0.10  # `;`-separated learning-objective cells

# attempts_stream: CSV drops replayed one file per trigger.
ASSESSMENT_DROPS = 8
ASSESSMENT_ROWS_PER_DROP = 1_000
ASSESSMENT_MALFORMED_SHARE = 0.005  # wrong column count
ASSESSMENT_INCOMPLETE_SHARE = 0.01  # one empty field (dropped by the pipeline)

# analytics_mix: the TPC-H-like star schema plus the events, documents
# and embeddings tables that the registry queries read.
ANALYTICS_SF = 0.1
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()


def items_csv(path: str, seed: int) -> dict:
    """Write the per-question CSV; return its expected-output facts."""
    rng = random.Random(seed)
    n_attempts = ITEM_ROWS // ITEM_ROWS_PER_ATTEMPT
    order: dict[str, list[str]] = {}  # valid rows' items per attempt, in input order
    malformed: set[str] = set()
    lines = [ITEM_COLUMNS]
    for i in range(ITEM_ROWS):
        a = rng.randrange(n_attempts)
        item = f"item-{i}"
        if rng.random() < ITEM_MALFORMED_SHARE:
            malformed.add(item)
            lines.append(f"stu-{a},login-{a},sch-{a % 7},asmt-{a % 11},1.0,att-{a},{item},1,5,TYPE")
            continue
        order.setdefault(f"att-{a}", []).append(item)
        if rng.random() < ITEM_MULTI_LO_SHARE:
            lo = ";".join(str(100 + rng.randrange(50)) for _ in range(rng.randint(2, 3)))
        else:
            lo = str(100 + rng.randrange(50))
        lines.append(
            f"stu-{a},login-{a},sch-{a % 7},asmt-{a % 11},1.0,att-{a},{item},1,5,"
            f"TYPE{rng.randrange(4)},{rng.randint(5, 300)},10,{rng.randrange(11)},"
            f"objective text {rng.randrange(30)},{lo},{rng.randint(1, 9)}.{rng.randrange(10)}"
        )
    _write_text(path, lines)
    return {"rows_in": ITEM_ROWS, "malformed": malformed, "order": order}


def assessment_drops(drop_dir: str, seed: int) -> dict:
    """Write the attempt-level CSV drops; return their row-class counts."""
    rng = random.Random(seed)
    valid = malformed = incomplete = 0
    for d in range(ASSESSMENT_DROPS):
        lines = [ASSESSMENT_COLUMNS]
        for r in range(ASSESSMENT_ROWS_PER_DROP):
            a = d * ASSESSMENT_ROWS_PER_DROP + r
            u = rng.random()
            if u < ASSESSMENT_MALFORMED_SHARE:
                malformed += 1
                lines.append(f"stu-{a},login-{a},sch-1,asmt-1,1.0,2024-01-01")
                continue
            fields = [
                f"stu-{rng.randrange(5000)}",
                f"login-{a}",
                f"sch-{rng.randrange(40)}",
                f"asmt-{rng.randrange(300)}",
                f"{rng.randint(1, 3)}.0",
                (dt.date(2024, 1, 1) + dt.timedelta(days=rng.randrange(365))).isoformat(),
                str(rng.randint(1, 9)),
                rng.choice(("quiz", "unit test", "benchmark", "practice")),
                f"att-{a}",
                str(rng.randint(1, 5)),
                rng.choice(("true", "false")),
                str(rng.randrange(101)),
                "100",
            ]
            if u < ASSESSMENT_MALFORMED_SHARE + ASSESSMENT_INCOMPLETE_SHARE:
                incomplete += 1
                fields[rng.randrange(len(fields))] = ""
            else:
                valid += 1
            lines.append(",".join(fields))
        _write_text(os.path.join(drop_dir, f"drop-{d:03d}.csv"), lines)
    return {
        "rows_in": ASSESSMENT_DROPS * ASSESSMENT_ROWS_PER_DROP,
        "malformed": malformed,
        "incomplete": incomplete,
        "valid": valid,
        "drops": ASSESSMENT_DROPS,
    }


def analytics_tables(out_dir: str, seed: int) -> dict:
    """Write the ten parquet tables the registry queries read.

    Shapes and value domains follow the repository's fixture tables at
    ``ANALYTICS_SF``. ``events.ts`` is strictly increasing, so window
    and as-of orderings have no ties and both engines agree exactly.
    Returns row counts per table.
    """
    rng = np.random.default_rng(seed)
    sf = ANALYTICS_SF
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def days(start, span, n):
        base = np.datetime64(start, "us")
        return base + rng.integers(0, span, n) * np.timedelta64(86_400_000_000, "us")

    def keys(n):
        return np.arange(n, dtype=np.int64)

    tables = {
        "region": {
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        },
        "nation": {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": np.arange(25, dtype=np.int32) % 5,
        },
        "customer": {
            "c_custkey": keys(n_cust),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(
                rng, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
            ),
        },
        "supplier": {
            "s_suppkey": keys(n_supp),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": money(-999.99, 9999.99, n_supp),
        },
        "part": {
            "p_partkey": keys(n_part),
            "p_name": [
                f"{a} {b}"
                for a, b in zip(
                    _pick(rng, "large hot blue old cold small red new".split(), n_part),
                    _pick(rng, "ring bolt plate gear widget nut pipe valve".split(), n_part),
                )
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": _pick(
                rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part
            ),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
        },
        "orders": {
            "o_orderkey": keys(n_ord),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": money(1000, 500_000, n_ord),
            "o_orderdate": days("1995-01-01", 2405, n_ord),
            "o_orderpriority": _pick(
                rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
            ),
        },
        "lineitem": {
            "l_orderkey": rng.integers(0, n_ord, n_li),
            "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": money(900, 105_000, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100,
            "l_tax": rng.integers(0, 9, n_li) / 100,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
            "l_linestatus": _pick(rng, ["F", "O"], n_li),
            "l_shipdate": days("1995-01-02", 2498, n_li),
        },
        "events": _events(rng, n_ev, max(1, int(15_000 * sf))),
        "documents": _documents(rng, n_doc),
        "embeddings": _embeddings(rng, n_emb),
    }
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, cols in tables.items():
        table = pa.table(cols)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts


def _pick(rng, choices, n):
    return [choices[i] for i in rng.integers(0, len(choices), n)]


def _events(rng, n, n_users):
    # 30 days of strictly increasing microsecond timestamps.
    span = 30 * 86_400_000_000
    offsets = np.sort(rng.choice(span, size=n, replace=False))
    return {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + offsets.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n),
        "event_type": _pick(rng, ["click", "error", "purchase", "signup", "view"], n),
        "value": np.round(rng.exponential(60.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    }


def _documents(rng, n):
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            # Near-duplicate of an earlier document, as the fixture
            # tables have; the registry's dedup queries need such pairs.
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.integers(0, len(_VOCAB), int(rng.integers(10, 101)))
            texts.append(" ".join(_VOCAB[w] for w in words))
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        # Half "en", the rest spread evenly over four other languages.
        "lang": [("en", "de", "es", "fr", "zh")[min(k, 4)] for k in rng.integers(-3, 5, n).clip(0)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng, n, dim=64, k=10):
    labels = rng.integers(0, k, n)
    centers = rng.normal(0.0, 0.15, (k, dim))
    vecs = (centers[labels] + rng.normal(0.0, 0.05, (n, dim))).astype(np.float32)
    return {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    }


def _write_text(path: str, lines: list[str]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8", newline="\n") as fh:
        fh.write("\n".join(lines))
        fh.write("\n")
