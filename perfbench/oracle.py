"""Output check: each row's parquet output against its DuckDB oracle SQL on
the same seed's tables, with the canonicalisation of scripts/check.py
(columns sorted by name, rows sorted by value, exact compare). The DuckDB
side depends only on the seed and the SQL, so it is cached per seed.
"""
import ast
import glob
import hashlib
import os

import duckdb
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
CACHE = os.path.join(HERE, ".work", "oracle")

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def load_canon(root):
    """The `canon` function of scripts/check.py, without running the script."""
    path = os.path.join(root, "scripts", "check.py")
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    fn = [n for n in tree.body if isinstance(n, ast.FunctionDef) and n.name == "canon"]
    if not fn:
        raise RuntimeError(f"{path} defines no canon()")
    ns = {"pd": pd}
    exec(compile(ast.Module(body=fn, type_ignores=[]), path, "exec"), ns)
    return ns["canon"]


def _oracle_frame(con, sf, seed, name, sql):
    key = hashlib.sha256(f"{sf}\n{sql}".encode()).hexdigest()[:16]
    path = os.path.join(CACHE, f"seed{seed}", f"{name}-{key}.pkl")
    if os.path.exists(path):
        return pd.read_pickle(path)
    df = con().execute(sql).fetchdf()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    df.to_pickle(path + ".tmp")
    os.replace(path + ".tmp", path)
    return df


def compare(got, want):
    """None when equal, else a one-line reason (check.py's rules)."""
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} vs {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} vs {len(want)}"
    try:
        pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)
    except AssertionError as e:
        return str(e).split("\n")[0] or "values differ"
    return None


def check(root, sf, seed, out_dir, oracle_sql, errors):
    """Map row name -> None (pass) or the failure reason."""
    canon = load_canon(root)
    conn = []

    def con():
        if not conn:
            c = duckdb.connect()
            for t in TABLES:
                p = os.path.join(sf, f"{t}.parquet")
                if os.path.exists(p):
                    c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
            conn.append(c)
        return conn[0]

    verdict = {}
    for name, sql in sorted(oracle_sql.items()):
        if name in errors:
            verdict[name] = f"check pass raised {errors[name]}"
            continue
        if not sql:
            verdict[name] = "no oracle SQL"
            continue
        files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
        if not files:
            verdict[name] = "no output"
            continue
        try:
            got = canon(pd.read_parquet(files[0]))
            want = canon(_oracle_frame(con, sf, seed, name, sql))
            verdict[name] = compare(got, want)
        except Exception as e:  # a failing oracle or reader is a failed row
            verdict[name] = f"{type(e).__name__}: {e}"
    if conn:
        conn[0].close()
    return verdict
