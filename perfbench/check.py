"""Correctness of the outputs the set-up calls dumped.

Oracle-covered ops: the op's oracle SQL (graft.SparkEntry.oracleSql) runs in
DuckDB over the same generated tables, and the Spark output must match it
by the rule of tools/oracle_check.py: same sorted column names, same row
count, and equal values row for row once both sides are sorted by every
column. The oracle side depends only on (workload, seed, SQL text), so it is
cached.

ANN ops (rows-only by design: ranking near-ties may reorder): recall@10
against the exact top-10 of the c3_sim_topk oracle on the same vectors,
with the floor TextVectorSpec pins for the IVF-PQ search they run.
"""
import hashlib
import os
import pickle

import duckdb
import pandas as pd

ANN_OPS = ("x_ann_append",)
EXACT_TOPK = "c3_sim_topk"
RECALL_FLOOR = 0.25


def _connect(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for name in sorted(os.listdir(data_dir)):
        if name.endswith(".parquet"):
            con.execute(f"CREATE VIEW {name[:-len('.parquet')]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(data_dir, name)}/*.parquet')")
    return con


def _oracle(con, cache_dir, name, sql):
    key = hashlib.sha256(sql.encode()).hexdigest()[:16]
    path = os.path.join(cache_dir, f"{name}-{key}.pkl")
    if os.path.exists(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    df = con.sql(sql).df()
    os.makedirs(cache_dir, exist_ok=True)
    with open(path + ".tmp", "wb") as f:
        pickle.dump(df, f)
    os.replace(path + ".tmp", path)
    return df


def _compare(spark_df, duck_df):
    sc, dc = sorted(spark_df.columns), sorted(duck_df.columns)
    if sc != dc:
        return f"columns spark={sc} oracle={dc}"
    if len(spark_df) != len(duck_df):
        return f"rows spark={len(spark_df)} oracle={len(duck_df)}"
    a = spark_df[sc].sort_values(sc, kind="mergesort").reset_index(drop=True)
    b = duck_df[dc].sort_values(dc, kind="mergesort").reset_index(drop=True)
    try:
        pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=True)
    except AssertionError as e:
        return "values: " + str(e).split("\n")[0]
    return None


def _recall(ann, exact):
    e = set(zip(exact["probe_id"], exact["neighbor_id"]))
    q = set(zip(ann["probe_id"], ann["neighbor_id"]))
    if not e or set(ann["probe_id"]) != set(exact["probe_id"]):
        return 0.0
    return len(e & q) / len(e)


def check(data_dir, out_dir, cache_dir, ops, oracle_sql):
    """Returns (problems: op -> message, recall_at_10 or None, unchecked ops)."""
    con = _connect(data_dir)
    problems, recalls, unchecked = {}, [], []
    for op in ops:
        res = os.path.join(out_dir, op)
        if not os.path.isdir(res):
            continue  # the set-up call failed; counted there
        spark_df = con.sql(f"SELECT * FROM read_parquet('{res}/*.parquet')").df()
        try:
            if op in oracle_sql:
                msg = _compare(spark_df, _oracle(con, cache_dir, op, oracle_sql[op]))
            elif op in ANN_OPS:
                r = _recall(spark_df, _oracle(con, cache_dir, EXACT_TOPK, oracle_sql[EXACT_TOPK]))
                recalls.append(r)
                msg = None if r >= RECALL_FLOOR else f"recall@10 {r:.3f} < {RECALL_FLOOR}"
            else:
                unchecked.append(op)
                msg = None
        except Exception as e:  # an oracle that cannot run is a failed check
            msg = f"{type(e).__name__}: {e}"
        if msg:
            problems[op] = msg
    recall = sum(recalls) / len(recalls) if recalls else None
    return problems, recall, unchecked
