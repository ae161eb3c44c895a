"""Local stand-in for the driver's correctness harness.

Runs every ``queries()`` entry on Spark and, where ``oracle_sql()``
declares SQL, the same query on DuckDB over the identical parquet
tables, then compares row count, column-name set, and the canonical
value matrix **the way the driver does**: both result sets are pulled
through pandas (Spark ``toPandas()``, DuckDB ``.df()``), columns
sorted by name, rows sorted by all columns, and every cell stringified
with plain ``str()`` — no numeric normalization. That reproduces both
driver failure modes round 5 exposed (the old ``fetchall()`` path
could not see either):

* DuckDB ``SUM(BIGINT)`` → HUGEINT → pandas float64 (``"60012.0"``)
  vs Spark int64 (``"60012"``) — hash drift;
* list-typed output columns crash pandas ``sort_values``
  (``TypeError: unhashable type: 'list'``).

Every oracle SQL is additionally ``DESCRIBE``-checked before running:
HUGEINT / list / struct / map output columns are rejected outright,
because the driver cannot canonicalize them.

Usage:  python tools/check_oracle.py [--sf /root/testdata/sf0.01] [name ...]
"""

from __future__ import annotations

import argparse
import os
import sys
import time
import traceback

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

# DuckDB type-name fragments the driver's pandas canonicalizer cannot
# survive: HUGEINT loses int-ness through .df() (float64), nested types
# crash sort_values.
# DECIMAL is deliberately NOT here: .df() flattens it to float64 (scale
# lost, '1.50'→'1.5'), which is SAFE only when the Spark side emits
# DOUBLE with identical shortest-repr values (profile_numeric_histogram
# relies on this) — never emit Decimal from the SPARK side of an
# oracle-checked query.
_BAD_TYPE_FRAGMENTS = ("HUGEINT", "[]", "STRUCT(", "MAP(", "UNION(")


def describe_offenders(con, sql: str) -> list[tuple[str, str]]:
    """Return (column, type) pairs whose DuckDB output type the driver
    harness cannot canonicalize (HUGEINT / list / struct / map)."""
    desc = con.execute(f"DESCRIBE {sql}").fetchall()
    return [
        (name, dtype)
        for name, dtype, *_ in desc
        if any(frag in dtype.upper() for frag in _BAD_TYPE_FRAGMENTS)
    ]


def _cell(v):
    """str() of a pandas scalar, with one normalization: plain
    ``datetime.date`` (Spark DATE via toPandas) renders as a midnight
    Timestamp so it compares equal to DuckDB's datetime64[ns] DATE —
    the driver hashes these equal (scalar_date_fns/window_running_sum
    were green in r4/r5), so raw str() would false-fail here. Numeric
    types stay raw: int64 60012 vs float64 60012.0 must differ."""
    import datetime as _dt

    import pandas as _pd

    if isinstance(v, _dt.date) and not isinstance(v, _dt.datetime):
        return str(_pd.Timestamp(v))
    return str(v)


def canon_pandas(df):
    """Driver-style canonical matrix: columns sorted by name, rows
    sorted by every column, each cell stringified via :func:`_cell`
    (so int64 60012 and float64 60012.0 stringify differently,
    exactly as they do in the driver's hash)."""
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df.columns):
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    df = df.reset_index(drop=True)
    return [tuple(_cell(v) for v in row) for row in df.itertuples(index=False)]


def _digest_sql(con, rel: str) -> str:
    """Order-independent exact digest of a relation, computed BY
    DUCKDB: count(*) + sum over per-row hashes of the row rendered
    as VARCHAR with columns in sorted-name order. Because ONE engine
    renders BOTH relations (the oracle directly; the Spark result
    re-read from parquet, where its values arrive bit-exact), the
    cross-engine stringification problem the pandas canonicalizer
    exists to referee simply does not arise — equality here is
    equality of VALUES. TIMESTAMP[TZ] columns are cast to TIMESTAMP
    first (the session is UTC) so Spark's UTC-adjusted parquet
    annotation and the oracle's NTZ render identically. FLOAT/DOUBLE
    columns add +0.0 before rendering (ADVICE r13): IEEE -0.0 + 0.0
    is +0.0, so a signed-zero that one engine produced and the other
    didn't can no longer flip the VARCHAR render ("-0.0" vs "0.0")
    into a false FAIL. The additive sum-of-row-hashes digest remains
    an AUDIT comparator (order-independent, collision-safe in
    practice, not adversarially) — the per-round driver hash is the
    canonical gate."""
    desc = con.execute(f"DESCRIBE SELECT * FROM {rel}").fetchall()
    cols = sorted((name, dtype) for name, dtype, *_ in desc)
    parts = []
    for name, dtype in cols:
        expr = f'"{name}"'
        up = dtype.upper()
        if up.startswith("TIMESTAMP"):
            expr = f"CAST({expr} AS TIMESTAMP)"
        elif up in ("FLOAT", "DOUBLE", "REAL"):
            expr = f"({expr} + 0.0)"
        parts.append(f"COALESCE(CAST({expr} AS VARCHAR), chr(30))")
    row = f"concat_ws(chr(31), {', '.join(parts)})"
    return (
        f"SELECT count(*) AS n, COALESCE(sum(hash({row})), 0) AS h "
        f"FROM {rel}"
    )


def compare_digest(con, spark, sdf, oracle_sql_text: str, tmp_dir: str):
    """Bulk-row comparison path (r13, VERDICT r12 #5a): the Spark
    result is WRITTEN to parquet by the executors (no driver
    collect, no pandas, no python-loop stringification) and both
    relations are digested engine-side by DuckDB. Memory-bounded and
    streaming at 10⁷-10⁸ rows where the driver-style pandas canon
    needed the rows twice in driver RAM. Returns (problems, n_rows).

    This is the SWEEP comparator, not the driver's: it proves value
    equality via one shared renderer + an order-independent
    sum-of-row-hashes (collision-safe for auditing, not for
    adversaries), while per-round driver hashing keeps the
    canonical-string contract on the small SFs."""
    import shutil as _sh

    out = os.path.join(tmp_dir, "spark_result.parquet")
    if os.path.exists(out):
        _sh.rmtree(out)
    # NTZ + micros on write: matches the oracle tables' parquet shape
    # (the stress_sf1 _ntz lesson) — the digest's TIMESTAMP cast then
    # compares wall-clock instants on both sides. Saved/restored
    # (ADVICE r13) so later non-digest writes in the same session
    # keep the session default.
    _ts_key = "spark.sql.parquet.outputTimestampType"
    _ts_prev = spark.conf.get(_ts_key, None)
    spark.conf.set(_ts_key, "TIMESTAMP_MICROS")
    try:
        sdf.write.mode("overwrite").parquet(out)
    finally:
        if _ts_prev is None:
            spark.conf.unset(_ts_key)
        else:
            spark.conf.set(_ts_key, _ts_prev)
    s_n, s_h = con.execute(
        _digest_sql(con, f"read_parquet('{out}/*.parquet')")
    ).fetchone()
    d_n, d_h = con.execute(
        _digest_sql(con, f"({oracle_sql_text})")
    ).fetchone()
    s_cols = sorted(
        r[0]
        for r in con.execute(
            f"DESCRIBE SELECT * FROM read_parquet('{out}/*.parquet')"
        ).fetchall()
    )
    d_cols = sorted(
        r[0]
        for r in con.execute(
            f"DESCRIBE SELECT * FROM ({oracle_sql_text})"
        ).fetchall()
    )
    problems = []
    if s_cols != d_cols:
        problems.append(f"cols spark={s_cols} duckdb={d_cols}")
    if s_n != d_n:
        problems.append(f"rowcount spark={s_n} duckdb={d_n}")
    if not problems and s_h != d_h:
        problems.append(f"digest spark={s_h} duckdb={d_h}")
    _sh.rmtree(out, ignore_errors=True)
    return problems, s_n


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument(
        "--digest",
        action="store_true",
        help="bulk-row mode: Spark writes its result to parquet and "
        "DuckDB digests both relations engine-side (no pandas, no "
        "driver collect) — for 10^7+-row results the driver-style "
        "canon cannot afford",
    )
    ap.add_argument(
        "--scale-oracle",
        action="store_true",
        help="prefer the scale-capable DuckDB twins in "
        "trendengine_spark.queries.scale_oracle over the registry's "
        "naive cross-paradigm texts — for sf10+ sweeps where the "
        "naive text is quadratic for the baseline engine (the twins "
        "are pinned row-identical to the naive texts at sf0.01 by "
        "tests/test_queries_smoke.py)",
    )
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    from trendengine_spark.session import get_spark

    import __spark_entry__ as entrymod

    # maxResultSize raised for the harness only (the stress_sf1
    # rationale): the comparison pulls each query's FULL result to
    # the driver for hashing — at sf10 the per-document outputs
    # (fingerprints, hashes) legitimately exceed the 1 GiB default.
    # Harness collection, not operator state; registry queries keep
    # their own bounded-collect discipline.
    spark = get_spark(extra_conf={"spark.driver.maxResultSize": "8g"})
    # JVM/codegen warm-up so the first query's reported time is the
    # query, not one-time JIT (~5-8 s otherwise attributed to whatever
    # happens to run first)
    spark.range(1000).selectExpr("sum(id)").collect()
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    if args.scale_oracle:
        from trendengine_spark.queries.scale_oracle import SCALE_ORACLE_SQL

        oracles = {**oracles, **SCALE_ORACLE_SQL}
    names = args.names or sorted(qs)

    con = duckdb.connect()
    # Bound the ORACLE engine's appetite (r12, sf10 sweep): the
    # heaviest doc-pipeline oracles (shingle pair joins over 5M
    # salted documents) spilled DuckDB temp past the box's 74 GB
    # free disk, burning ~15 min each before dying on ENOSPC. With
    # explicit limits a beyond-capacity oracle fails FAST and is
    # recorded as a duckdb-capacity failure, not a hang — the Spark
    # side of those rows completes (its external aggregation fits),
    # which is itself sweep evidence.
    con.execute("SET memory_limit='60GB'")
    # digest-mode TIMESTAMPTZ -> TIMESTAMP casts must be identity
    con.execute("SET TimeZone='UTC'")
    try:
        con.execute("SET max_temp_directory_size='40GB'")
    except Exception:
        pass  # knob absent on older duckdb — disk ENOSPC still ends it
    for t in TABLES:
        # driver testdata ships single-FILE {table}.parquet; scale
        # builds (tools/stress_sf1.py) write multi-file parquet
        # DIRECTORIES of the same name — glob those (r11, sf1 sweep)
        path = f"{args.sf}/{t}.parquet"
        src = f"'{path}/*.parquet'" if os.path.isdir(path) else f"'{path}'"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM {src}")

    n_pass = n_fail = n_rows_only = 0
    for name in names:
        if name not in qs:
            print(f"?? {name}: not declared")
            continue
        t0 = time.time()
        if name in oracles:
            try:
                offenders = describe_offenders(con, oracles[name])
            except Exception as exc:  # malformed SQL must fail THIS row only
                print(f"FAIL {name}: oracle DESCRIBE error: {exc}")
                n_fail += 1
                continue
            if offenders:
                print(
                    f"FAIL {name}: oracle SQL emits driver-hostile column types "
                    f"{offenders} (HUGEINT/list/struct break pandas canon)"
                )
                n_fail += 1
                continue
        if args.digest and name in oracles:
            try:
                sdf = qs[name](spark, args.sf)
                problems, n_rows = compare_digest(
                    con, spark, sdf, oracles[name], "/tmp/te_oracle_digest"
                )
            except Exception:
                print(f"FAIL {name}: digest-path error")
                traceback.print_exc()
                n_fail += 1
                continue
            if problems:
                print(f"FAIL {name}: {' | '.join(problems)}")
                n_fail += 1
            else:
                print(
                    f"PASS {name}: {n_rows} rows "
                    f"(digest, {time.time()-t0:.1f}s)"
                )
                n_pass += 1
            continue
        try:
            sdf = qs[name](spark, args.sf)
            spd = sdf.toPandas()
        except Exception:
            print(f"FAIL {name}: spark error")
            traceback.print_exc()
            n_fail += 1
            continue
        if name not in oracles:
            print(f"rows-only {name}: {len(spd)} rows ({time.time()-t0:.1f}s)")
            n_rows_only += 1
            continue
        try:
            dpd = con.execute(oracles[name]).df()
        except Exception:
            print(f"FAIL {name}: duckdb error")
            traceback.print_exc()
            n_fail += 1
            continue
        problems = []
        if len(spd) != len(dpd):
            problems.append(f"rowcount spark={len(spd)} duckdb={len(dpd)}")
        if sorted(spd.columns) != sorted(dpd.columns):
            problems.append(
                f"cols spark={sorted(spd.columns)} duckdb={sorted(dpd.columns)}"
            )
        if not problems:
            try:
                sc, dc = canon_pandas(spd), canon_pandas(dpd)
            except Exception as e:
                print(f"FAIL {name}: canonicalizer crash ({e!r}) — driver would err")
                n_fail += 1
                continue
            if sc != dc:
                diffs = [i for i, (a, b) in enumerate(zip(sc, dc)) if a != b][:3]
                detail = "; ".join(
                    f"row{i}: spark={sc[i]} duckdb={dc[i]}" for i in diffs
                )
                problems.append(f"values differ ({detail})")
        if problems:
            print(f"FAIL {name}: {' | '.join(problems)}")
            n_fail += 1
        else:
            print(f"PASS {name}: {len(spd)} rows ({time.time()-t0:.1f}s)")
            n_pass += 1

    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
