"""DuckDB oracle comparison under scripts/preflight.py's rules: the Spark
result is read with pandas, the oracle SQL runs through DuckDB's .df(),
columns are ordered by name, rows sorted by every column, and the two
frames must be equal as CSV text (so 5 != 5.0 and DECIMAL != DOUBLE)."""
import os

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def connect(data_dir):
    """A DuckDB connection with one view per generated table; DuckDB spills
    next to the data."""
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{os.path.join(data_dir, '.duckdb-tmp')}'")
    for t in TABLES:
        p = os.path.join(data_dir, t + ".parquet")
        if os.path.isdir(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}/*.parquet')")
    return con


def csv_form(df):
    cols = sorted(df.columns)
    d = df[cols].sort_values(by=cols).reset_index(drop=True)
    return d.to_csv(index=False)


def compare(spark_df, oracle_df):
    """None when the frames agree, else a one-line reason."""
    scols, ocols = sorted(spark_df.columns), sorted(oracle_df.columns)
    if scols != ocols:
        return f"columns spark={scols} oracle={ocols}"
    if len(spark_df) != len(oracle_df):
        return f"rows spark={len(spark_df)} oracle={len(oracle_df)}"
    a, b = csv_form(spark_df), csv_form(oracle_df)
    if a == b:
        return None
    for i, (x, y) in enumerate(zip(a.splitlines(), b.splitlines())):
        if x != y:
            return f"line {i}: spark={x!r} oracle={y!r}"
    return "csv text differs"


def check(con, ref_path, sql):
    """Compares the reference parquet written by the benchmark with the
    oracle SQL's result."""
    import pandas as pd
    try:
        return compare(pd.read_parquet(ref_path), con.execute(sql).df())
    except Exception as e:  # a failing oracle query is a failed check
        return f"{type(e).__name__}: {e}"
