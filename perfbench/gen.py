"""Seeded input generators for the benchmark.

* ``tables(out, seed, sf)`` writes the ten parquet tables the query
  catalogue reads (TPC-H-ish star schema, ``events``, ``documents``,
  ``embeddings``). Schemas, physical types and value distributions follow
  the repository's test data, so every query plans and runs the same way;
  the values themselves come from ``seed``.
* ``deliveries(out, seed, rows, files)`` writes the deliveries-schema CSV
  files the ETL job reads. Every filter, fill and gate of the job does
  work: out-of-range dates, ``COBR`` rows, empty ``material`` and
  ``precio`` values, both ``CS``/``ST`` units and exact duplicates inside
  one file. Four process dates and three countries make twelve output
  partitions.

The same arguments always give byte-identical files.
"""
import os

import numpy as np
import pandas as pd

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
ADJ = "blue old small new large hot cold red".split()
NOUN = "widget gizmo ring gear bolt plate rod anvil".split()
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
LANGS = ["en", "fr", "zh", "de", "es"]
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]


def _days(rng, lo, hi, n):
    """Uniform midnight timestamps in [lo, hi] (ISO dates)."""
    d0 = np.datetime64(lo, "D").astype(np.int64)
    d1 = np.datetime64(hi, "D").astype(np.int64)
    days = rng.integers(d0, d1 + 1, n)
    return (days * 86_400_000_000).astype("datetime64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(df, path):
    df.to_parquet(path, index=False)


def tables(out, seed, sf):
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_docs, n_emb = int(50_000 * sf), int(20_000 * sf)

    _write(pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        f"{out}/region.parquet")
    nk = np.arange(25, dtype=np.int32)
    _write(pd.DataFrame({"n_nationkey": nk, "n_name": [f"NATION_{i}" for i in nk],
                         "n_regionkey": (nk % 5).astype(np.int32)}),
           f"{out}/nation.parquet")

    ck = np.arange(n_cust, dtype=np.int64)
    _write(pd.DataFrame({
        "c_custkey": ck, "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -1000, 10000, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)}), f"{out}/customer.parquet")

    sk = np.arange(n_supp, dtype=np.int64)
    _write(pd.DataFrame({
        "s_suppkey": sk, "s_name": [f"Supplier#{i:09d}" for i in sk],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -1000, 10000, n_supp)}), f"{out}/supplier.parquet")

    pk = np.arange(n_part, dtype=np.int64)
    _write(pd.DataFrame({
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(rng.choice(ADJ, n_part), " "),
                              rng.choice(NOUN, n_part)),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (pk % 1000) / 10, 1)}), f"{out}/part.parquet")

    _write(pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["O", "P", "F"], n_ord),
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)}), f"{out}/orders.parquet")

    _write(pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100,
        "l_tax": rng.integers(0, 9, n_li) / 100,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["O", "F"], n_li),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_li)}),
        f"{out}/lineitem.parquet")

    # events: a time-ordered stream over 30 days with exponential gaps
    gaps = rng.exponential(1.0, n_ev)
    span_us = 30 * 86_400_000_000 - 60_000_000
    ts = np.cumsum(gaps) / gaps.sum() * span_us
    _write(pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": (np.datetime64("2024-01-01T00:00:00", "us")
               + ts.astype(np.int64).astype("timedelta64[us]")),
        "user_id": rng.integers(0, max(1, n_ev * 3 // 200), n_ev),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}),
        f"{out}/events.parquet")

    # documents: bag-of-words texts, 5 % near-duplicates (an earlier text
    # plus " dup") and a few exact duplicates
    lens = rng.integers(10, 101, n_docs)
    words = rng.choice(VOCAB, int(lens.sum()))
    cuts = np.cumsum(lens)[:-1]
    texts = [" ".join(w) for w in np.split(words, cuts)]
    ids = np.arange(n_docs)
    near = rng.choice(ids[1:], n_docs // 20, replace=False)
    for i in sorted(near):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    exact = rng.choice(np.setdiff1d(ids[1:], near), max(1, n_docs // 600), replace=False)
    for i in sorted(exact):
        texts[i] = texts[int(rng.integers(0, i))]
    _write(pd.DataFrame({
        "doc_id": ids.astype(np.int64), "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}),
        f"{out}/documents.parquet")

    emb = rng.standard_normal((n_emb, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    _write(pd.DataFrame({
        "vec_id": np.arange(n_emb, dtype=np.int64), "embedding": list(emb),
        "label": rng.integers(0, 10, n_emb).astype(np.int32)}),
        f"{out}/embeddings.parquet")


COUNTRIES = ["GT", "PE", "EC"]
# COBR rows are dropped by the delivery filter; "zpre" checks the upper()
DELIVERY_TYPES = ["ZPRE", "ZVE1", "Z04", "Z05", "COBR", "zpre"]
DELIVERY_P = [0.3, 0.2, 0.15, 0.15, 0.15, 0.05]


def deliveries(out, seed, rows, files):
    """``files`` CSVs with ``rows`` data rows in total (duplicates included)."""
    import pyarrow as pa
    import pyarrow.csv as pcsv
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out, exist_ok=True)
    per = rows // files
    # process dates: four inside the job's 2024-12-01 .. 2025-07-30 window
    # and two outside it
    dates = np.array(["20241101", "20241201", "20250101", "20250201", "20250301",
                      "20250801"])
    for f in range(files):
        n = per if f < files - 1 else rows - per * (files - 1)
        m = n - n // 20
        material = np.char.add("AA", rng.integers(100, 1000, m).astype(str))
        material = pa.array(material, mask=rng.random(m) < 0.05)
        precio = pa.array(np.round(rng.uniform(1, 5000, m), 2), mask=rng.random(m) < 0.02)
        cols = {
            "pais": pa.array(rng.choice(COUNTRIES, m)),
            "fecha_proceso": pa.array(rng.choice(dates, m)),
            "transporte": pa.array(rng.integers(10_000_000, 99_999_999, m)),
            "ruta": pa.array(rng.integers(100_000, 999_999, m)),
            "tipo_entrega": pa.array(rng.choice(DELIVERY_TYPES, m, p=DELIVERY_P)),
            "material": material,
            "precio": precio,
            "cantidad": pa.array(rng.integers(1, 200, m).astype(np.float64)),
            "unidad": pa.array(rng.choice(["CS", "ST"], m)),
        }
        t = pa.table(cols)
        # exact duplicates inside this file, shuffled in
        t = pa.concat_tables([t, t.take(rng.integers(0, m, n - m))])
        t = t.take(rng.permutation(n))
        pcsv.write_csv(t, f"{out}/entregas_{f:02d}.csv",
                       pcsv.WriteOptions(quoting_style="none"))
