"""Checks query results against DuckDB running the program's oracle SQL
over the same staged tables. A result matches when its row count and its
order-insensitive hash equal the oracle's: columns sorted by name, cells
rendered exactly (floats by repr), rows hashed as a sorted multiset."""
import glob
import hashlib
import os


def _digest(df):
    import pandas as pd
    df = df.reindex(sorted(df.columns), axis=1)

    def cell(v):
        if v is None or v is pd.NaT:
            return "NULL"
        if isinstance(v, float):
            return "NULL" if v != v else repr(v)
        if hasattr(v, "tolist") and not isinstance(v, str):
            return repr(v.tolist())
        return str(v)

    rows = sorted("\x1f".join(cell(v) for v in r) for r in df.itertuples(index=False, name=None))
    h = hashlib.sha256()
    h.update("\x1e".join(df.columns).encode())
    for r in rows:
        h.update(b"\x1e" + r.encode())
    return len(rows), h.hexdigest()


def check(queries, tables):
    """queries: {name: {"sql": ..., "path": parquet dir}}; tables: {name: glob}.
    Returns {name: None when it matches, else the reason}."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET enable_progress_bar = false")
    for t, pattern in tables.items():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{pattern}')")
    out = {}
    for name, q in sorted(queries.items()):
        if not q.get("sql"):
            out[name] = "no oracle SQL"
            continue
        files = sorted(glob.glob(os.path.join(q["path"], "*.parquet")))
        if not files:
            out[name] = "no result written"
            continue
        try:
            got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
            exp = con.execute(q["sql"]).fetchdf()
        except Exception as e:  # a failing oracle or unreadable result is a mismatch
            out[name] = f"{type(e).__name__}: {e}"[:300]
            continue
        if sorted(got.columns) != sorted(exp.columns):
            out[name] = f"columns {sorted(got.columns)} vs oracle {sorted(exp.columns)}"
            continue
        (n_got, h_got), (n_exp, h_exp) = _digest(got), _digest(exp)
        if n_got != n_exp:
            out[name] = f"{n_got} rows vs oracle {n_exp}"
        elif h_got != h_exp:
            out[name] = f"{n_got} rows, hash differs from the oracle"
        else:
            out[name] = None
    con.close()
    return out
