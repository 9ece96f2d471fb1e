"""Correctness of the query workloads: each op's output (written by the
harness after the timed region) against its DuckDB oracle SQL, compared the
way the program's own local verifier (tools/verify_local.py) does it, with
its own canon and values_equal. Oracle answers are cached next to the
generated inputs."""
import hashlib
import json
import os
import sys

sys.path.insert(0, os.path.join(os.getcwd(), "tools"))
import duckdb  # noqa: E402
import pandas as pd  # noqa: E402
from verify_local import canon, values_equal  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def _oracle(con, sql, cache_dir):
    """The canonical oracle result, cached per input directory and SQL text
    (the inputs never change, so neither does the answer)."""
    path = os.path.join(cache_dir, hashlib.sha256(sql.encode()).hexdigest()[:24] + ".pkl")
    if os.path.exists(path):
        return pd.read_pickle(path)
    df = canon(con.execute(sql).df())
    os.makedirs(cache_dir, exist_ok=True)
    df.to_pickle(path + ".tmp")
    os.replace(path + ".tmp", path)
    return df


def _connect(data_dir):
    con = duckdb.connect()
    for t in TABLES:
        if os.path.exists(f"{data_dir}/{t}.parquet"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{data_dir}/{t}.parquet')")
    return con


def answers(data_dir, oracles):
    """Compute and cache the answers of {op: oracle SQL}."""
    con = _connect(data_dir)
    for sql in oracles.values():
        try:
            _oracle(con, sql, os.path.join(data_dir, "oracle"))
        except Exception:  # noqa: BLE001 - compare() reports it per op
            pass


def compare(data_dir, check_dir, ops, harness_errors):
    """{op: problem} for every op whose output differs from its oracle."""
    con = _connect(data_dir)
    with open(os.path.join(check_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    problems = {}
    for op in ops:
        if op in harness_errors:
            problems[op] = "output not written: " + harness_errors[op]
            continue
        if op not in oracles:
            problems[op] = "no oracle"
            continue
        try:
            got = canon(con.execute(
                f"SELECT * FROM read_parquet('{check_dir}/{op}/*.parquet')").df())
            want = _oracle(con, oracles[op], os.path.join(data_dir, "oracle"))
        except Exception as e:  # noqa: BLE001 - any failure is a mismatch
            problems[op] = f"exception {e}"
            continue
        if list(got.columns) != list(want.columns):
            problems[op] = f"columns {list(got.columns)} vs {list(want.columns)}"
        elif len(got) != len(want):
            problems[op] = f"rows {len(got)} vs {len(want)}"
        else:
            for c in got.columns:
                gv, wv = got[c].tolist(), want[c].tolist()
                bad = [i for i in range(len(gv)) if not values_equal(gv[i], wv[i])]
                if bad:
                    i = bad[0]
                    problems[op] = (f"col {c}: {len(bad)} diffs, first@{i}: "
                                    f"got={gv[i]!r} oracle={wv[i]!r}")
                    break
    return problems
