"""Oracle check over the whole registry.

Runs every ``queries()`` entry (or every entry whose name contains one
of the filters) on Spark and its ``oracle_sql()`` twin on DuckDB over
the same parquet tables, then compares row count, column names, and
order-insensitive values (floats with tolerance). Registry order does
not matter: every selected entry is checked.

Usage:
    python tools/check_oracle.py            # all queries @ sf0.01
    python tools/check_oracle.py q1 fn_date_pack   # substring filters
    python tools/check_oracle.py --vanilla  # driver-like plain SparkSession
    python tools/check_oracle.py --json=out.json   # also write a JSON record
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.001 python tools/check_oracle.py

``--vanilla`` builds a bare SparkSession with none of session.py's
configs — the same environment the grading driver uses. Round 1 lost 7
queries to a conf that existed only in get_spark() (nanosAsLong,
VERDICT r1 §What's-wrong #1); the vanilla pre-flight makes that class
of divergence visible before snapshot.
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from caliper_poc_data_etl_spark.session import get_spark
from caliper_poc_data_etl_spark.sources.readers import TABLE_NAMES

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


# DuckDB type names (substring match, covers nested ARRAY/STRUCT wrappers)
# that the driver's TYPE-SENSITIVE value hash cannot round-trip: DuckDB
# widens SUM(BIGINT) to INT128 (HUGEINT) unless the oracle re-casts, and
# the driver hash then diverges even when every value matches numerically.
# r08 shipped 2 red rows exactly this way while _norm's numeric compare
# stayed green (VERDICT r8 §What's-wrong #3) — so the gate now fails any
# oracle whose RESULT schema leaks these families, independent of values.
_BANNED_DUCK_TYPES = ("HUGEINT", "UHUGEINT", "DECIMAL")


def _banned_oracle_types(duck_types, colnames):
    """Return [(col, type_str)] for oracle output columns whose DuckDB
    type is in the INT128/DECIMAL family the driver hash can't match."""
    bad = []
    for col, t in zip(colnames, duck_types):
        ts = str(t).upper()
        if any(b in ts for b in _BANNED_DUCK_TYPES):
            bad.append((col, str(t)))
    return bad


def _type_family(type_str: str) -> str:
    """Collapse an engine type name to the family the driver hash
    cares about. Spark int-vs-long width differences hash identically
    (both land in an int64 pandas column), but int-vs-float,
    int-vs-str, etc. do not — the second half of VERDICT r8 demand
    #2(a): flag any oracle/Spark dtype-family divergence, not just
    INT128 leaks."""
    t = type_str.upper()
    if any(b in t for b in _BANNED_DUCK_TYPES):
        return "banned"
    for fam, names in (
        ("int", ("BIGINT", "INTEGER", "SMALLINT", "TINYINT", "INT", "LONG", "SHORT", "BYTE")),
        ("float", ("DOUBLE", "FLOAT", "REAL")),
        ("bool", ("BOOL",)),
        ("ts", ("TIMESTAMP",)),
        ("date", ("DATE",)),
        ("str", ("VARCHAR", "STRING", "CHAR", "TEXT")),
    ):
        if any(n in t for n in names):
            return fam
    return "other"  # arrays/structs/binary: graded outputs are
    # scalar-only by house rule; anything else is compared by value.


def _family_mismatches(spark_dtypes, duck_types, duck_cols):
    """[(col, spark_type, duck_type)] where the two engines' output
    column types land in DIFFERENT driver-hash families."""
    sfam = {c: _type_family(t) for c, t in spark_dtypes}
    out = []
    for col, t in zip(duck_cols, duck_types):
        dfam = _type_family(str(t))
        sf = sfam.get(col)
        if sf is None or "banned" in (sf, dfam):
            continue  # missing column / banned handled elsewhere
        if "other" in (sf, dfam):
            continue
        if sf != dfam:
            out.append((col, dict(spark_dtypes)[col], str(t)))
    return out


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 6)
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    return v


def _canon(rows: list[tuple], colnames: list[str]) -> list[tuple]:
    """Sort columns by name, then rows — order-insensitive canon form."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    return sorted(
        (tuple(_norm(r[i]) for i in order) for r in rows),
        key=lambda t: tuple(str(x) for x in t),
    )


def main() -> int:
    args = sys.argv[1:]
    vanilla = "--vanilla" in args
    json_out = next(
        (a.split("=", 1)[1] for a in args if a.startswith("--json=")), None
    )
    filters = [a for a in args if not a.startswith("--")]
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    if filters:
        qs = {k: v for k, v in qs.items() if any(f in k for f in filters)}

    if vanilla:
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[32]")
            .appName("oracle-check-vanilla")
            .config("spark.sql.shuffle.partitions", "32")
            .getOrCreate()
        )
    else:
        spark = get_spark("oracle-check")
    # Warm the JVM and the Python worker pool once (the bench.py
    # preamble): otherwise the first pandas-UDF entry in the sweep is
    # charged ~10 s of daemon+worker fork-and-handshake that belongs
    # to session startup, not that operator.
    spark.range(1).count()
    spark.range(1024).repartition(32).foreachPartition(lambda it: None)
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )

    n_pass = n_fail = n_rowsonly = 0
    failures: list[str] = []
    results: dict[str, dict] = {}
    for name, fn in sorted(qs.items()):
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            scols = sdf.columns
            sdtypes = sdf.dtypes
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {exc}")
            n_fail += 1
            failures.append(name)
            results[name] = {
                "status": "fail",
                "detail": f"spark error: {exc}"[:500],
                "sec": round(time.time() - t0, 2),
            }
            continue
        if name not in oracles:
            print(f"rows-only  {name}: {len(srows)} rows  ({time.time()-t0:.1f}s)")
            n_rowsonly += 1
            results[name] = {
                "status": "rows-only",
                "rows": len(srows),
                "sec": round(time.time() - t0, 2),
            }
            continue
        try:
            rel = con.sql(oracles[name])
            dcols = list(rel.columns)
            dtypes = list(rel.types)
            drows = rel.fetchall()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {exc}")
            n_fail += 1
            failures.append(name)
            results[name] = {
                "status": "fail",
                "detail": f"duckdb error: {exc}"[:500],
                "sec": round(time.time() - t0, 2),
            }
            continue
        problems = []
        bad_types = _banned_oracle_types(dtypes, dcols)
        if bad_types:
            problems.append(
                "oracle type leak (driver hash is type-sensitive): "
                + ", ".join(f"{c}:{t}" for c, t in bad_types)
            )
        fam_bad = _family_mismatches(sdtypes, dtypes, dcols)
        if fam_bad:
            problems.append(
                "dtype family mismatch (driver hash is type-sensitive): "
                + ", ".join(f"{c}: spark={s} duck={d}" for c, s, d in fam_bad)
            )
        if sorted(scols) != sorted(dcols):
            problems.append(f"columns spark={sorted(scols)} duck={sorted(dcols)}")
        if len(srows) != len(drows):
            problems.append(f"rowcount spark={len(srows)} duck={len(drows)}")
        if not problems:
            sc = _canon(srows, scols)
            dc = _canon(drows, dcols)
            if sc != dc:
                diff_i = next(
                    (i for i, (a, b) in enumerate(zip(sc, dc)) if a != b), None
                )
                detail = (
                    f"first diff at sorted row {diff_i}: spark={sc[diff_i]} "
                    f"duck={dc[diff_i]}"
                    if diff_i is not None
                    else "values differ"
                )
                problems.append(detail)
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)}")
            n_fail += 1
            failures.append(name)
            results[name] = {
                "status": "fail",
                "detail": "; ".join(problems)[:500],
                "sec": round(time.time() - t0, 2),
            }
        else:
            print(f"OK    {name}: {len(srows)} rows  ({time.time()-t0:.1f}s)")
            n_pass += 1
            results[name] = {
                "status": "ok",
                "rows": len(srows),
                "sec": round(time.time() - t0, 2),
            }

    print(
        f"\n{n_pass} ok, {n_rowsonly} rows-only, {n_fail} fail"
        + (f"  FAILURES: {failures}" if failures else "")
    )
    if json_out:
        import json

        payload = {
            "sf_dir": SF_DIR,
            "vanilla": vanilla,
            "n_ok": n_pass,
            "n_rows_only": n_rowsonly,
            "n_fail": n_fail,
            "failures": failures,
            "queries": results,
        }
        with open(json_out, "w") as fh:
            json.dump(payload, fh, indent=1, sort_keys=True)
        print(f"wrote {json_out}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
