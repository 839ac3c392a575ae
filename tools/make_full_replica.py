"""Build the FULL-TABLE N-x replicated corpus that every scale run
reads, and its deduplicated view OUT_DIR_dedup: /tmp/sf0.5 for
tools/check_scale_sweep.py, /tmp/sf0.5 and /tmp/sf1.0 for
tools/sweep_queries.py.

Replication semantics (FKs preserved, dims kept):
- region / nation: copied verbatim (dimension tables; nationkeys stay
  valid in every replica).
- customer / supplier / part: N copies with the primary key offset by
  copy_index * (max_key + 1); nationkey and all attributes verbatim.
- orders: N copies with o_orderkey AND o_custkey offset by the SAME
  copy index (each copy is a disjoint, internally-consistent order
  book over its own customer replica).
- lineitem: N copies with l_orderkey / l_partkey / l_suppkey offset by
  the same copy index against their parents' offsets.
- events: N copies with event_id and user_id offset (disjoint user
  populations, identical temporal shape).
- documents / embeddings: N copies with doc_id / vec_id offset
  (byte-identical text and vectors per copy, distinct ids — the
  dedup-funnel pathology).

OUT_DIR_dedup holds every table of OUT_DIR verbatim except documents,
which keeps one row per distinct text, the min-doc_id one (q26's
rule): the funnel-input corpus the pair-graph queries are specified to
run on at scale.

Usage: python tools/make_full_replica.py N OUT_DIR [BASE_DIR]
  e.g. python tools/make_full_replica.py 5 /tmp/sf0.5 /root/testdata/sf0.1
"""
from __future__ import annotations

import os
import shutil
import sys

import duckdb


def main() -> int:
    n = int(sys.argv[1])
    out = sys.argv[2].rstrip("/")
    base = (sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1").rstrip("/")
    con = duckdb.connect()
    os.makedirs(out, exist_ok=True)

    def src(t: str) -> str:
        return f"read_parquet('{base}/{t}.parquet')"

    def off(t: str, key: str) -> str:
        return f"(SELECT max({key}) + 1 FROM {src(t)})"

    copies = f"(SELECT unnest(generate_series(0, {n - 1})) AS i) c"

    # Dimensions: verbatim.
    for t in ("region", "nation"):
        con.execute(
            f"COPY (SELECT * FROM {src(t)}) TO '{out}/{t}.parquet' (FORMAT PARQUET)"
        )

    plans = {
        "customer": f"""
            SELECT c_custkey + c.i * {off('customer', 'c_custkey')} AS c_custkey,
                   c_name, c_nationkey, c_acctbal, c_mktsegment
            FROM {src('customer')}, {copies}""",
        "supplier": f"""
            SELECT s_suppkey + c.i * {off('supplier', 's_suppkey')} AS s_suppkey,
                   s_name, s_nationkey, s_acctbal
            FROM {src('supplier')}, {copies}""",
        "part": f"""
            SELECT p_partkey + c.i * {off('part', 'p_partkey')} AS p_partkey,
                   p_name, p_brand, p_type, p_size, p_retailprice
            FROM {src('part')}, {copies}""",
        "orders": f"""
            SELECT o_orderkey + c.i * {off('orders', 'o_orderkey')} AS o_orderkey,
                   o_custkey + c.i * {off('customer', 'c_custkey')} AS o_custkey,
                   o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
            FROM {src('orders')}, {copies}""",
        "lineitem": f"""
            SELECT l_orderkey + c.i * {off('orders', 'o_orderkey')} AS l_orderkey,
                   l_partkey + c.i * {off('part', 'p_partkey')} AS l_partkey,
                   l_suppkey + c.i * {off('supplier', 's_suppkey')} AS l_suppkey,
                   l_linenumber, l_quantity, l_extendedprice, l_discount,
                   l_tax, l_returnflag, l_linestatus, l_shipdate
            FROM {src('lineitem')}, {copies}""",
        "events": f"""
            SELECT event_id + c.i * {off('events', 'event_id')} AS event_id,
                   ts,
                   user_id + c.i * {off('events', 'user_id')} AS user_id,
                   event_type, value, props
            FROM {src('events')}, {copies}""",
        "documents": f"""
            SELECT doc_id + c.i * {off('documents', 'doc_id')} AS doc_id,
                   text, lang, source, n_chars
            FROM {src('documents')}, {copies}""",
        "embeddings": f"""
            SELECT vec_id + c.i * {off('embeddings', 'vec_id')} AS vec_id,
                   embedding, label
            FROM {src('embeddings')}, {copies}""",
    }
    for t, q in plans.items():
        con.execute(f"COPY ({q}) TO '{out}/{t}.parquet' (FORMAT PARQUET)")
        rows = con.execute(f"SELECT count(*) FROM '{out}/{t}.parquet'").fetchone()[0]
        print(f"{out} {t}: {rows}")

    dedup = f"{out}_dedup"
    os.makedirs(dedup, exist_ok=True)
    for t in ("region", "nation", *plans):
        if t != "documents":
            shutil.copyfile(f"{out}/{t}.parquet", f"{dedup}/{t}.parquet")
    con.execute(
        f"""COPY (SELECT * FROM read_parquet('{out}/documents.parquet')
                 QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1)
            TO '{dedup}/documents.parquet' (FORMAT PARQUET)"""
    )
    rows = con.execute(f"SELECT count(*) FROM '{dedup}/documents.parquet'").fetchone()[0]
    print(f"{dedup} documents: {rows} (deduped)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
