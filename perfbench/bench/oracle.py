"""Output check of the fold queries against their DuckDB oracles, with
the repository's oracle hash rule: columns sorted by name, floats
rounded to 9 places, integral floats printed as integers, then an MD5
over the rows in result order. The rule is restated from
scripts/check_oracle.py, which runs its whole gate when imported."""
import glob
import hashlib
import json
import os

TABLES = ("events", "documents")


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if v != v:
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(round(v, 9))
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def df_hash(df):
    df = df[sorted(df.columns)]
    h = hashlib.md5()
    n = 0
    for row in df.itertuples(index=False):
        h.update("|".join(norm_cell(v) for v in row).encode())
        h.update(b"\n")
        n += 1
    return h.hexdigest(), n


def check(tables_dir, outputs_dir, names):
    """Return {name: (ok, detail)} for every query in `names`."""
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")
    with open(os.path.join(outputs_dir, "oracle_sql.json")) as fh:
        oracles = json.load(fh)
    result = {}
    for name in names:
        files = sorted(glob.glob(os.path.join(outputs_dir, name, "*.parquet")))
        if not files:
            result[name] = (False, "no output")
            continue
        spark_df = con.sql(f"SELECT * FROM read_parquet({files!r})").df()
        sql = oracles.get(name)
        if sql is None:
            ok = len(spark_df) > 0
            result[name] = (ok, f"no oracle; {len(spark_df)} rows")
            continue
        try:
            duck_df = con.sql(sql).df()
        except Exception as e:  # an oracle that cannot run is a failed check
            result[name] = (False, f"oracle error: {e}")
            continue
        (sh, sn), (dh, dn) = df_hash(spark_df), df_hash(duck_df)
        if sorted(spark_df.columns) != sorted(duck_df.columns):
            result[name] = (False, "columns differ")
        elif sn != dn:
            result[name] = (False, f"rows {sn} vs oracle {dn}")
        elif sh != dh:
            result[name] = (False, "hash differs")
        else:
            result[name] = (True, f"{sn} rows match")
    con.close()
    return result
