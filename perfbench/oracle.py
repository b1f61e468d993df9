"""DuckDB oracle compare for the query_inventory outputs.

Runs each query's oracle SQL on the same parquet tables and compares it
with the Spark output row by row, the way the repository's oracle gate
compares: same column set, same row count, then values in order, floats
by exact equality and everything else by string form.
"""
import glob
import json
import math
import os


def _spark_output(outdir, name):
    import pandas as pd
    files = sorted(glob.glob(os.path.join(outdir, name, "*.parquet")))
    if not files:
        return None
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def _equal(a, b):
    if a is None and b is None:
        return True
    if isinstance(a, float) or isinstance(b, float):
        try:
            af, bf = float(a), float(b)
        except (TypeError, ValueError):
            return str(a) == str(b)
        if math.isnan(af) and math.isnan(bf):
            return True
        return af == bf
    return str(a) == str(b)


def _problem(sdf, ddf):
    scols, dcols = sorted(sdf.columns), sorted(ddf.columns)
    if scols != dcols:
        return f"schema: spark={scols} duck={dcols}"
    if len(sdf) != len(ddf):
        return f"rows: spark={len(sdf)} duck={len(ddf)}"
    sdf, ddf = sdf.reindex(scols, axis=1), ddf.reindex(scols, axis=1)
    for c in scols:
        for i, (a, b) in enumerate(zip(sdf[c].tolist(), ddf[c].tolist())):
            if not _equal(a, b):
                return f"value[{c}][row {i}]: spark={a!r} duck={b!r}"
    return None


def compare(data_dir, work):
    """Return ({query: problem} for mismatches, number of queries compared)."""
    import duckdb
    with open(os.path.join(work, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    con = duckdb.connect()
    for f in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        stem = os.path.basename(f)[:-len(".parquet")]
        con.execute(f"CREATE OR REPLACE VIEW {stem} AS SELECT * FROM read_parquet('{f}')")
    bad = {}
    for name, sql in sorted(oracle.items()):
        sdf = _spark_output(os.path.join(work, "out"), name)
        if sdf is None:
            bad[name] = "no spark output"
            continue
        try:
            ddf = con.execute(sql).fetchdf()
        except Exception as ex:  # an oracle that cannot run is a failed check
            bad[name] = f"duckdb error: {str(ex).splitlines()[0]}"
            continue
        p = _problem(sdf, ddf)
        if p:
            bad[name] = p
    con.close()
    return bad, len(oracle)
