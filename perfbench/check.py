"""Correctness checks, run after the timed region.

Each check returns (failures, attempted, recall): `failures` lists one
line per mismatch, `attempted` counts the comparisons made, and `recall`
is the workload's share of the reference result it recovered.

- curate: DuckDB replay of the repository's release-pipeline oracle
  (OracleSql.pipelineRelease) against the published card; recall is the
  share of planted near-duplicate pairs the engine's near-dup stage
  removes (the harness writes its survivors and drops to out/near_dedup).
- star_join: each query against its oracle SQL (SparkEntry.oracleSql);
  recall is the share of oracle rows reproduced.
"""
import json

import duckdb
import numpy as np


def _con(work):
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute(f"SET temp_directory='{work}/duckdb_tmp'")
    return con


def _views(con, data, names):
    for t in names:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")


def _frame(df):
    df = df.copy()
    df.columns = [c.lower() for c in df.columns]
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def _same(expected, actual, name):
    """Row-set equality; floats to 1e-9 relative."""
    e, a = _frame(expected), _frame(actual)
    if list(e.columns) != list(a.columns):
        return [f"{name}: columns {list(a.columns)} != oracle {list(e.columns)}"]
    if len(e) != len(a):
        return [f"{name}: {len(a)} rows != oracle {len(e)}"]
    for c in e.columns:
        x, y = e[c].to_numpy(), a[c].to_numpy()
        if x.dtype.kind == "f" or y.dtype.kind == "f":
            ok = np.isclose(x.astype(float), y.astype(float), rtol=1e-9, atol=1e-9,
                            equal_nan=True)
        else:
            ok = np.array([u == v for u, v in zip(x, y)])
        if not ok.all():
            i = int(np.flatnonzero(~ok)[0])
            return [f"{name}: column {c} row {i}: {y[i]!r} != oracle {x[i]!r}"]
    return []


def _out(con, work, name):
    return con.sql(f"SELECT * FROM '{work}/out/{name}/*.parquet'").df()


def check_curate(work, data):
    con = _con(work)
    _views(con, data, ["documents"])
    sql = json.load(open(f"{work}/oracles.json"))["q_pipeline_release"]
    fails = _same(con.sql(sql).df(), _out(con, work, "q_pipeline_release"),
                  "q_pipeline_release")
    # recall: of the planted pairs whose both documents survive the
    # engine's exact dedup, the share its near-dup stage dropped one of
    removed, eligible = con.sql(f"""
SELECT count(*) FILTER (WHERE a.dropped OR b.dropped), count(*)
FROM '{data}/truth_near_pairs.parquet' t
JOIN '{work}/out/near_dedup/*.parquet' a ON a.doc_id = t.id_a
JOIN '{work}/out/near_dedup/*.parquet' b ON b.doc_id = t.id_b""").fetchone()
    return fails, 1, removed / eligible if eligible else 0.0


def check_star_join(work, data):
    con = _con(work)
    _views(con, data, ["region", "nation", "customer", "supplier", "part", "orders",
                       "lineitem"])
    fails, rows, matched = [], 0, 0
    oracles = json.load(open(f"{work}/oracles.json"))
    for name, sql in sorted(oracles.items()):
        expected = con.sql(sql).df()
        f = _same(expected, _out(con, work, name), name)
        fails += f
        rows += len(expected)
        matched += 0 if f else len(expected)
    return fails, len(oracles), matched / rows if rows else 0.0


def check(workload, work, data):
    if workload == "curate":
        return check_curate(work, data)
    return check_star_join(work, data)
