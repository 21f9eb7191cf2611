"""Output checks, made after the run, outside every timed interval.

Query results are compared with the DuckDB oracle SQL from
`SparkEntry.oracleSql` over the same parquet files, normalized the way
`tools/oracle_check.py` does (columns sorted by name, rows sorted,
values compared exactly, decimals as floats). The ingest workload is
checked against DuckDB reading the same CSV files.
"""
import datetime
import decimal
import math
import os

import duckdb

EPOCH = datetime.datetime(1970, 1, 1)


def _norm(v):
    """A sortable, engine-neutral form of one value."""
    if v is None:
        return (0,)
    if isinstance(v, bool):
        return (1, int(v))
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float) and math.isnan(v):
        return (1, "nan")
    if isinstance(v, (int, float)):
        return (1, v)
    if isinstance(v, str):
        if v.startswith("dec:"):
            return _norm(decimal.Decimal(v[4:]))
        return (2, v)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        d = v - EPOCH
        return (2, f"ts:{(d.days * 86400 + d.seconds) * 1_000_000 + d.microseconds}")
    if isinstance(v, datetime.date):
        return (2, f"date:{v.isoformat()}")
    if isinstance(v, (bytes, bytearray)):
        return (2, "bin:" + bytes(v).hex())
    if isinstance(v, dict):
        v = list(v.values())
    if isinstance(v, (list, tuple)):
        return (3, tuple(_norm(x) for x in v))
    return (2, str(v))


def _key(row):
    return tuple((x[0], str(x[1:])) for x in row)


def canonical(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_norm(r[i]) for i in order) for r in rows]
    return [columns[i] for i in order], sorted(out, key=_key)


def same(a_cols, a_rows, b_cols, b_rows):
    """(equal, reason) for two results in any column and row order."""
    ac, ar = canonical(a_cols, a_rows)
    bc, br = canonical(b_cols, b_rows)
    if ac != bc:
        return False, f"columns {ac} vs {bc}"
    if len(ar) != len(br):
        return False, f"{len(ar)} rows vs {len(br)}"
    bad = sum(1 for x, y in zip(ar, br) if x != y)
    return (bad == 0), f"{bad}/{len(ar)} rows differ"


def connect():
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    return con


def oracle_results(data_dir, sqls):
    """{sql: (columns, rows)} for each oracle statement, over views named
    after the parquet tables in data_dir."""
    con = connect()
    for p in sorted(os.listdir(data_dir)):
        if p.endswith(".parquet"):
            path = os.path.join(data_dir, p)
            con.execute(f"CREATE VIEW {p[:-8]} AS SELECT * FROM read_parquet('{path}')")
    out = {}
    for sql in sqls:
        cur = con.execute(sql)
        out[sql] = ([d[0] for d in cur.description], cur.fetchall())
    con.close()
    return out


def _csv_union(data_dir):
    files = [os.path.join(data_dir, f"data{i}.csv") for i in (1, 2, 3)]
    return " UNION ALL BY NAME ".join(
        f"SELECT {i + 1} AS file, * FROM read_csv('{f}', delim='|', header=true, all_varchar=true,"
        f" quote='', escape='')" for i, f in enumerate(files))


def _dec(c, null_token=None):
    x = f"NULLIF({c}, '{null_token}')" if null_token else c
    return f"CAST(replace({x}, ',', '.') AS DECIMAL(18,6))"


def ingest_expected(data_dir, patterns):
    """Expected (validate, readback) results of the ingest workload."""
    con = connect()
    src = _csv_union(data_dir)
    parts = []
    for i in (1, 2, 3):
        for name, pat in patterns:
            p = pat.replace("'", "''")
            parts.append(
                f"SELECT {i} AS file, '{name}' AS \"column\", CAST(count(*) FILTER (WHERE {name} IS NULL"
                f" OR {name} = '' OR NOT regexp_matches({name}, '{p}')) AS BIGINT) AS invalid"
                f" FROM ({src}) WHERE file = {i}")
    cur = con.execute(" UNION ALL ".join(parts))
    validate = ([d[0] for d in cur.description], cur.fetchall())
    cur = con.execute(f"""
        SELECT strftime(CAST(Date_Transaction AS DATE), '%Y-%m') AS sale_month,
               count(*) AS n_rows,
               sum(CAST(Quantite_Vendue AS INTEGER)) AS quantite_vendue,
               sum({_dec('CA_Net_HT')}) AS ca_net_ht,
               sum({_dec('CA_Net_TTC', '#NO VALUE')}) AS ca_net_ttc,
               sum({_dec('Marge_Nette_Magasin')}) AS marge_nette_magasin
        FROM ({src}) GROUP BY 1""")
    readback = ([d[0] for d in cur.description], cur.fetchall())
    con.close()
    return validate, readback
