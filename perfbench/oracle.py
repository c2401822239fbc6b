"""Checks the declared queries' outputs against their oracle SQL, run
by DuckDB over the same input parquet tables."""
import glob
import os

TABLES = ("events", "documents")


def norm(df):
    """Columns sorted by name, timestamps as ISO text, floats rounded,
    arrays as tuples, rows sorted: two equal results compare equal."""
    import pandas as pd
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]").astype(str)
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(6)
        elif df[c].dtype == object:
            df[c] = df[c].apply(lambda v: tuple(v) if hasattr(v, "__len__")
                                and not isinstance(v, (str, bytes)) else v)
    return df.astype(str).sort_values(by=list(df.columns), ignore_index=True)


def compare(got, want):
    """None when equal, else a one-line reason."""
    g, w = norm(got), norm(want)
    if list(g.columns) != list(w.columns):
        return f"columns {list(g.columns)} vs {list(w.columns)}"
    if len(g) != len(w):
        return f"{len(g)} rows vs {len(w)} expected"
    diff = (g != w).any(axis=1)
    if diff.any():
        return f"{int(diff.sum())} rows differ"
    return None


def check(entries):
    """[(name, reason-or-None)] for each {name, output, tables, sql}."""
    import duckdb
    import pandas as pd
    out = []
    for e in entries:
        try:
            con = duckdb.connect()
            con.execute("SET enable_progress_bar = false")
            for t in TABLES:
                p = os.path.join(e["tables"], f"{t}.parquet")
                if os.path.exists(p):
                    con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}/*.parquet')")
            if not glob.glob(os.path.join(e["output"], "*.parquet")):
                out.append((e["name"], "no output written"))
                continue
            got = pd.read_parquet(e["output"])
            want = con.sql(e["sql"]).df()
            out.append((e["name"], compare(got, want)))
            con.close()
        except Exception as ex:  # a crashed oracle is a failed check, not a crash
            out.append((e["name"], f"{type(ex).__name__}: {ex}"[:300]))
    return out
