"""DuckDB oracle comparison for catalog query outputs.

The comparison is the one `tools/paritycheck.py` makes: run the query's
oracle SQL in DuckDB over the same parquet tables, sort both sides' columns
by name, and compare the rows value for value (NaN equals NaN). A query
without an oracle must instead return at least one row.
"""
import json
import math
import os

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return v


def compare(data_dir, out_dir, queries):
    """Returns {query: None when it passed, else a one-line reason}."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(data_dir, t)}.parquet'")
    with open(os.path.join(out_dir, "oracle_sql.json")) as fh:
        oracles = json.load(fh)
    verdict = {}
    for name in sorted(queries):
        spark_dir = os.path.join(out_dir, name)
        if not os.path.isdir(spark_dir):
            verdict[name] = "no output"
            continue
        sdf = con.execute(
            f"SELECT * FROM '{spark_dir}/*.parquet'").fetchdf()
        if name not in oracles:
            verdict[name] = None if len(sdf) > 0 else "returned no rows"
            continue
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception as e:  # noqa: BLE001 - the reason is reported
            verdict[name] = f"oracle error: {str(e)[:200]}"
            continue
        ocols, scols = sorted(odf.columns), sorted(sdf.columns)
        if ocols != scols:
            verdict[name] = f"columns differ: oracle={ocols} spark={scols}"
            continue
        if len(odf) != len(sdf):
            verdict[name] = f"rows differ: oracle={len(odf)} spark={len(sdf)}"
            continue
        orec = [tuple(_norm(v) for v in r)
                for r in odf[ocols].itertuples(index=False)]
        srec = [tuple(_norm(v) for v in r)
                for r in sdf[scols].itertuples(index=False)]
        if orec != srec:
            first = next(i for i, (a, b) in enumerate(zip(orec, srec))
                         if a != b)
            verdict[name] = (f"value mismatch at row {first}: "
                             f"oracle={orec[first]} spark={srec[first]}"[:300])
            continue
        verdict[name] = None
    con.close()
    return verdict
