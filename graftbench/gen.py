"""Input generators for the benchmark.

`tables(out_dir, sf)` writes the star schema the query paths read
(region, nation, customer, supplier, part, orders, lineitem, events,
documents, embeddings), one single-row-group parquet file per table,
with the shapes the engine's tests use: `l_shipdate` and `ts` as
timestamp[us] without time zone, 64-dim float embeddings, documents of
10-100 words with 5% near-duplicates ending in " dup". The tables use
a fixed generator seed, so every run of a workload reads the same data.

`ingest_csvs(out_dir, rows, seed)` writes the reference-shaped ingest
set: three `|`-delimited files with decimal-comma money, empty and
`#NO VALUE` placeholders, and a second file without `Numero_TPV` (21
columns). Every value is a hash of (row, column, seed), so the seed
salts the content.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 20240101

WORDS = ("spark line small fast group customer query row stream the batch sort "
         "value hash filter big data part column order scan a slow agg key "
         "window table merge vector join").split()


def _write(out_dir, name, cols):
    t = pa.table(cols)
    pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"), row_group_size=max(1, t.num_rows))


def _days(rng, n, start, end):
    """Midnight timestamps[us] uniformly between two dates."""
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    d = rng.integers(lo, hi + 1, n)
    return pa.array(d * 86_400_000_000, pa.timestamp("us"))


def tables(out_dir, sf):
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.Generator(np.random.PCG64(TABLE_SEED))
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_users = int(1_000_000 * sf), int(15_000 * sf)
    n_doc, n_emb = int(50_000 * sf), int(20_000 * sf)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segs = np.array(["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"])
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array(segs[rng.integers(0, 5, n_cust)])})
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2))})
    adj = np.array("large hot blue old cold small red green".split())
    noun = np.array("ring bolt plate gear nut screw pipe valve".split())
    types = np.array(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"])
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array(np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                                       noun[rng.integers(0, 8, n_part)])),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": pa.array(types[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1))})
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": pa.array(np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n_ord), 2)),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": pa.array(prio[rng.integers(0, 5, n_ord)])})
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105000.0, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, n_li)]),
        "l_shipdate": _days(rng, n_li, "1995-01-02", "2001-11-04")})

    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(rng.integers(t0, t0 + 30 * 86_400_000_000, n_ev))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev)),
        "event_type": pa.array(np.array(["view", "click", "purchase", "signup", "error"])[
            rng.integers(0, 5, n_ev)]),
        "value": pa.array(np.round(rng.exponential(40.0, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})

    words = np.array(WORDS)
    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(10, 101)))]))
    langs = np.array(["en", "de", "fr", "es", "zh"])
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": texts,
        "lang": pa.array(langs[rng.choice(5, n_doc, p=[0.4, 0.15, 0.15, 0.15, 0.15])]),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})

    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 1.0, (10, 64))
    v = centers[labels] + rng.normal(0.0, 0.8, (n_emb, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(v.ravel()), 64).cast(
            pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32))})


# Reference row shares of the three transaction files, and the share of
# '#NO VALUE' CA_Net_TTC tokens in the third.
SHARES = (7_787_920, 5_520_650, 5_479_334)
NO_VALUE_SHARE = 2_019_845 / 5_479_334


def ingest_rows(rows):
    total = sum(SHARES)
    n = [rows * s // total for s in SHARES]
    n[0] += rows - sum(n)
    return n


def ingest_csvs(out_dir, rows, seed):
    """Writes data1.csv..data3.csv; returns their row counts."""
    import duckdb
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    s = int(seed) % (2 ** 31)

    def h(k, mod):
        return f"(hash(i, {k}, {s}, {file_no}) % {mod})"

    def money(k, lo, hi):
        return (f"CAST(CAST({h(k, hi + lo)} AS BIGINT) - {lo} AS VARCHAR) || ',' || "
                f"lpad(CAST({h(k + 1, 1_000_000)} AS VARCHAR), 6, '0')")

    def opt(k, prefix, mod):
        return f"CASE WHEN {h(k + 500, 10)} = 0 THEN NULL ELSE '{prefix}_' || {h(k, mod)} END"

    counts = ingest_rows(rows)
    for file_no, n in enumerate(counts, start=1):
        ttc = money(21, 500000, 5500000)
        if file_no == 3:
            ttc = f"CASE WHEN i < {int(n * NO_VALUE_SHARE)} THEN '#NO VALUE' ELSE {ttc} END"
        cols = [
            ("Point_de_Vente", f"'PDV-id-' || lpad(CAST({h(1, 40)} AS VARCHAR), 4, '0')"),
            ("Numero_TPV", f"'TPV_' || {h(2, 200)}"),
            ("Numero_Transaction", f"'TID' || lpad(CAST({h(3, 4_000_000)} AS VARCHAR), 12, '0')"),
            ("Date_Transaction",
             f"strftime(DATE '2022-01-10' + CAST({h(4, 80)} AS INTEGER), '%Y-%m-%d')"),
            ("Heure", f"strftime(TIMESTAMP '2000-01-01' + to_seconds(CAST({h(5, 86400)} AS BIGINT)),"
                      f" '%H:%M:%S')"),
            ("Typologie_Magasin", f"'Typologie_Magasin_' || ({h(6, 6)} + 1)"),
            ("Numero_Fidelite", f"CASE WHEN {h(7, 4)} = 0 THEN NULL ELSE 'N_' || {h(7, 4_000_000)} END"),
            ("Type_de_Vente", f"'TV' || ({h(8, 5)} + 1)"),
            ("Univers_Produit", opt(9, "CL1", 50)),
            ("Segment_Produit", opt(10, "CL2", 50)),
            ("Famille_Produit", opt(11, "CL3", 50)),
            ("Sous_Famille_Produit", opt(12, "CL4", 50)),
            ("Fedas_Numero", f"'FedasNum' || ({h(13, 900)} + 100)"),
            ("Fedas_Libelle", f"'FedasLib' || ({h(14, 900)} + 100)"),
            ("Cible_Genre_Age", f"'CGA' || ({h(15, 9)} + 1)"),
            ("Modele_Couleur_Ref", f"'MCR' || ({h(16, 210_000)} + 1)"),
            ("Modele_Couleur_Libelle", f"'MCL' || ({h(17, 9000)} + 1000)"),
            ("Type_de_vente_NPS", f"'NPS' || ({h(18, 4)} + 1)"),
            ("Quantite_Vendue", f"CASE WHEN {h(19, 20)} = 0 "
                                f"THEN CAST(-(CAST({h(19, 3)} AS BIGINT) + 1) AS VARCHAR) "
                                f"ELSE CAST({h(19, 5)} + 1 AS VARCHAR) END"),
            ("CA_Net_HT", money(20, 500000, 4500000)),
            ("CA_Net_TTC", ttc),
            ("Marge_Nette_Magasin", money(23, 600000, 1400000)),
        ]
        if file_no == 2:
            cols = [c for c in cols if c[0] != "Numero_TPV"]
        select = ", ".join(f"{e} AS {name}" for name, e in cols)
        path = os.path.join(out_dir, f"data{file_no}.csv")
        con.execute(f"COPY (SELECT {select} FROM range({n}) t(i) ORDER BY i) TO '{path}' "
                    f"(HEADER, DELIMITER '|')")
    con.close()
    return counts
