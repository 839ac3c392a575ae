"""Local replica of the driver's oracle-differential correctness gate.

Runs every ``queries()[name]`` on Spark and, where an oracle exists,
the matching ``oracle_sql()[name]`` on DuckDB over the same parquet
tables, then compares: row count, column names (sorted), and an
order-insensitive value multiset. ``compare`` is that check for one
query; ``tests/conftest.assert_matches_oracle`` calls it too.

DRIVER FIDELITY: the driver canonicalizes results through pandas
``DataFrame.sort_values`` over the name-sorted columns.  pandas raises
``TypeError: unhashable type`` on list/dict cells during that sort, so
any query emitting a top-level array/map/struct column FAILS the
driver even if the values match (round-3 q77 lesson).  This replica
therefore sorts through the SAME pandas path — it must never pass a
result shape the driver would reject.  Float canonicalization
(repr of round(9)) is applied after the pandas sort.

ROUND-4 LESSON (q168/q170/q171): the driver consumes the DuckDB
oracle through ``con.execute(sql).df()`` — duckdb's pandas
conversion — NOT ``fetchall()``.  The two paths disagree on dtypes:
HUGEINT (the result type of ``sum()`` over integers) becomes
**float64** via ``.df()`` but a plain Python int via ``fetchall()``,
so an uncast ``sum()`` column hashes as ``1234.0`` on the oracle side
vs ``1234`` on the Spark side and the driver flags a value mismatch
even when every value is numerically identical.  This replica now
pulls the oracle result via ``.df()`` so dtype-level divergence
(hugeint → float64, decimal → float64, …) is visible BEFORE the
driver sees it.  DATE columns are normalized back to ``datetime.date``
(duckdb renders them datetime64[ns]; Spark collect yields
``datetime.date`` — the driver is green on date-emitting queries, so
its canonicalization treats the two as equal).

Usage:  python tools/check_oracle.py [--strict] [sf_dir] [query ...]

Exit status: 0 all green, 1 some query failed, 2 an unknown query name,
3 the session's JVM stopped answering (an ``ABORT`` line names the query
it died on and how many were not run; their results would all be the
same ``Connection refused``).

``--strict`` first runs the static oracle-dtype gate (DESCRIBE every
registered oracle; assert no output column type outside the
driver-safe set — this is the <10 s check that would have caught the
whole HUGEINT class at authoring time), then the full replica.
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ooh_etl_spark.tables import TABLE_NAMES as TABLES  # noqa: E402


def canon(v) -> str:
    if v is None:
        return "<NULL>"
    if isinstance(v, float):  # covers numpy.float64 (a float subclass)
        v = float(v)
        if math.isnan(v):
            return "NaN"
        return repr(round(v, 9))
    import numbers

    if isinstance(v, bool) or type(v).__name__ == "bool_":
        return str(bool(v))
    if isinstance(v, numbers.Integral):  # covers numpy int scalars
        return str(int(v))
    return str(v)


def canon_frame(rows, cols_in_row_order, sorted_cols):
    """Canonicalize a result the way the driver does: pandas frame,
    name-sorted columns, ``sort_values`` over every column (raises
    TypeError on unhashable cells — deliberately NOT caught here so
    the replica fails where the driver fails), then per-cell string
    canonicalization.

    Missing values are normalized to None on BOTH sides before the
    sort: pandas coerces None→NaN only in columns it infers as float64,
    so a Spark float column and a DuckDB Decimal (object-dtype) column
    holding the same NULLs would otherwise canonicalize asymmetrically
    ('NaN' vs '<NULL>') — a false mismatch the driver (which converts
    both engines' results through the same pandas path) doesn't see."""
    import pandas as pd

    df = pd.DataFrame.from_records(list(rows), columns=list(cols_in_row_order))
    return canon_pdf(df, sorted_cols)


def canon_pdf(df, sorted_cols):
    """The shared tail of canonicalization for an already-built pandas
    frame (Spark rows via from_records, or DuckDB via ``.df()`` —
    dtype differences between the two paths survive into ``canon``,
    which is the point)."""
    df = df[sorted_cols].astype(object)
    mask = df.map(
        lambda v: v is None
        or (isinstance(v, float) and math.isnan(v))
        or type(v).__name__ in ("NaTType", "NAType")
    )
    df = df.where(~mask, None)
    df = df.sort_values(by=sorted_cols, kind="mergesort").reset_index(drop=True)
    return [tuple(canon(v) for v in row) for row in df.itertuples(index=False)]


# Output column types that round-trip duckdb .df() / Spark collect /
# pandas sort+hash identically.  sum() over integers returns HUGEINT
# (→ float64 via .df()) and must be CAST to BIGINT in the oracle;
# DECIMAL must be CAST to DOUBLE.  Anything outside this set is a
# latent driver hash failure even when values match.
SAFE_ORACLE_TYPES = frozenset(
    {"BIGINT", "INTEGER", "SMALLINT", "TINYINT", "DOUBLE", "FLOAT",
     "VARCHAR", "DATE", "TIMESTAMP", "BOOLEAN"}
)


def dtype_gate(con, oracles) -> list:
    """DESCRIBE every oracle; return (name, col, type) violations."""
    bad = []
    for name, sql in sorted(oracles.items()):
        try:
            desc = con.execute(f"DESCRIBE {sql}").fetchall()
        except Exception as e:  # noqa: BLE001
            bad.append((name, "<describe-error>", str(e)[:120]))
            continue
        for col, typ, *_ in desc:
            if str(typ).upper() not in SAFE_ORACLE_TYPES:
                bad.append((name, col, str(typ)))
    return bad


def compare(spark, con, name: str, sf_dir: str) -> str | None:
    """Run registered query ``name`` on Spark at ``sf_dir`` and its
    oracle on ``con`` (DuckDB views over the same tables); return why
    they differ, or None when they agree. Rows-only queries, and golden
    oracles on a corpus they are not pinned to, pass once Spark runs."""
    from ooh_etl_spark.queries import QUERIES

    spec = QUERIES[name]
    try:
        sdf = spec.fn(spark, sf_dir)
        srows = sdf.collect()
        scols = sorted(sdf.columns)
    except Exception as e:  # noqa: BLE001
        return f"spark error: {e}"
    if spec.oracle is None:
        return None
    # GOLDEN oracles are VALUES tables pinned to fixture corpora
    # (tools/make_golden.py); on any other corpus (5x-sweep replicas,
    # /tmp/sf0.5) the guard probe misses the pinned domain and the
    # check falls back to rows-only.
    if spec.golden_guard is not None:
        probe = str(con.execute(spec.golden_guard).fetchone()[0])
        if probe not in (spec.golden_domain or frozenset()):
            return None
    try:
        ores = con.execute(spec.oracle)
        odesc = ores.description
        ocols = sorted(d[0] for d in odesc)
        # .df(), NOT fetchall(): the driver's conversion path.
        # HUGEINT/DECIMAL become float64 here exactly as the driver
        # sees them (round-4 q168/q170/q171 class).
        odf = ores.df()
        for col, typ, *_ in odesc:
            if str(typ).upper() == "DATE" and hasattr(odf[col], "dt"):
                odf[col] = odf[col].dt.date
    except Exception as e:  # noqa: BLE001
        return f"duckdb error: {e}"
    if scols != ocols:
        return f"columns spark={scols} oracle={ocols}"
    if len(srows) != len(odf):
        return f"rowcount spark={len(srows)} oracle={len(odf)}"
    try:
        sset = canon_frame(srows, sdf.columns, scols)
        oset = canon_pdf(odf, ocols)
    except TypeError as e:
        return f"driver-canon error (unhashable cell?): {e}"
    if sset != oset:
        diffs = [(a, b) for a, b in zip(sset, oset) if a != b][:3]
        return f"value mismatch; first diffs: {diffs}"
    return None


def jvm_alive(spark) -> bool:
    """Whether the session's JVM still answers a py4j call."""
    try:
        return not spark.sparkContext._jsc.sc().isStopped()
    except Exception:  # noqa: BLE001 - a dead gateway raises py4j or socket errors
        return False


def main() -> int:
    argv = [a for a in sys.argv[1:] if a != "--strict"]
    strict = "--strict" in sys.argv[1:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    import duckdb

    import __spark_entry__ as mod
    from ooh_etl_spark.session import get_spark

    spark = get_spark("check_oracle")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = mod.queries()
    oracles = mod.oracle_sql()
    if strict:
        bad = dtype_gate(con, oracles)
        for name, col, typ in bad:
            print(f"DTYPE {name}.{col}: {typ} not driver-safe")
        print(f"dtype gate: {len(bad)} violations over {len(oracles)} oracles")
        if bad:
            return 1
    unknown = only - set(qs)
    if unknown:
        print(f"unknown query names: {sorted(unknown)}")
        return 2
    failures = []
    names = [name for name in qs if not only or name in only]
    for ran, name in enumerate(names, 1):
        t0 = time.time()
        msg = compare(spark, con, name, sf_dir)
        if msg is None:
            status = "OK" if name in oracles else "ROWS-ONLY"
            print(f"{status:>9} {name}: ({time.time()-t0:.1f}s)", flush=True)
            continue
        failures.append(name)
        print(f"FAIL {name}: {msg}", flush=True)
        if msg.startswith("spark error") and not jvm_alive(spark):
            print(
                f"ABORT {name}: the Spark JVM no longer answers; "
                f"{len(names) - ran} queries not run, {ran - len(failures)}/{ran} green",
                flush=True,
            )
            return 3

    print(f"\n{len(names) - len(failures)}/{len(names)} green")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
