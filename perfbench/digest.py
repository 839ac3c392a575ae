"""Result digests and plan counts, built on the repo's own tools.

- ``frame_digest`` hashes the rows of ``tools.check_oracle.canon_pdf``,
  the canonicalisation the oracle gate compares Spark with DuckDB by, so
  equal digests mean the gate would call the results equal.
- ``oracle_digests`` runs each query's DuckDB oracle the way the gate
  does (``.df()``, DATE columns as ``datetime.date``) and caches the
  digest by table contents, digest code and SQL.
- ``plan_counts`` reads ``tools.opt_measure.plan_summary``.
"""

from __future__ import annotations

import ast
import hashlib
import json
import os
import re

from tools import check_oracle
from tools.check_oracle import TABLES, canon_pdf
from tools.opt_measure import plan_summary

_SUMMARY = re.compile(r"shuffle_exchanges=(\d+) parquet_scans=(\d+) .* python_nodes=(.*)$")


def frame_digest(df) -> str:
    cols = sorted(df.columns)
    h = hashlib.sha256(json.dumps(cols).encode())
    for row in canon_pdf(df, cols):
        h.update(b"\x1e" + "\x1f".join(row).encode())
    return h.hexdigest()


def plan_counts(plan: str) -> dict:
    """Exchanges, parquet scans and distinct Python-eval node kinds of an
    ``explain("formatted")`` plan. Only the node details are summarised:
    the tree above them names every scan a second time."""
    start = plan.find("\n(1) ")
    ex, scans, py = _SUMMARY.match(plan_summary(plan[max(start, 0):])).groups()
    return {
        "plans.shuffle_exchanges": int(ex),
        "plans.parquet_scans": int(scans),
        "plans.python_nodes": len(ast.literal_eval(py)),
    }


def _inputs_key(data_dir: str) -> str:
    """Hash of the tables and of the code that canonicalises results."""
    h = hashlib.sha256()
    paths = [os.path.join(data_dir, f"{t}.parquet") for t in TABLES]
    for path in paths + [check_oracle.__file__, __file__]:
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def oracle_digests(data_dir: str, oracles: dict[str, str], cache_dir: str) -> dict[str, str]:
    """DuckDB oracle digest per query, cached by (tables, digest code, SQL)."""
    import duckdb

    os.makedirs(cache_dir, exist_ok=True)
    files = _inputs_key(data_dir)
    out, con = {}, None
    for name, sql in oracles.items():
        key = hashlib.sha256(f"{files}\n{sql}".encode()).hexdigest()[:32]
        path = os.path.join(cache_dir, f"{name}-{key}.json")
        if os.path.exists(path):
            with open(path) as f:
                out[name] = json.load(f)["digest"]
            continue
        if con is None:
            con = duckdb.connect()
            for t in TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, t)}.parquet')"
                )
        res = con.execute(sql)
        odf = res.df()
        for col, typ, *_ in res.description:
            if str(typ).upper() == "DATE" and hasattr(odf[col], "dt"):
                odf[col] = odf[col].dt.date
        out[name] = frame_digest(odf)
        with open(path, "w") as f:
            json.dump({"query": name, "digest": out[name], "rows": len(odf)}, f)
    if con is not None:
        con.close()
    return out
