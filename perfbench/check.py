"""Output checks: the Spark results against DuckDB run over the same inputs.

Sweep: each query's result (written by the harness after the timed
passes) is compared with the query's DuckDB oracle SQL
(``SparkEntry.oracleSql``): column names, row count and exact values after
the canonicalisation of the repository's oracle gate,
``tools/oracle_check.py`` (columns by name, rows by all columns, dtype
normalisation).

ETL: the job's output is compared with the same transform written in
DuckDB SQL over the same CSV files: rows out, rows per output partition
and price checksums.
"""
import glob
import os

import duckdb
import numpy as np
import pandas as pd
from oracle_check import canon  # tools/, put on sys.path by run.py


def tables_con(data_dir):
    con = duckdb.connect()
    con.sql("SET threads TO 4")
    for p in sorted(glob.glob(f"{data_dir}/*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
    return con


def oracle(data_dir, sql_by_name):
    """Canonical expected results of each query's oracle SQL."""
    con = tables_con(data_dir)
    return {n: canon(con.sql(sql).df()) for n, sql in sql_by_name.items()}


def compare(spark_dir, name, expected):
    """Returns (rows, error): error is None when the result matches."""
    try:
        got = canon(pd.read_parquet(f"{spark_dir}/{name}"))
    except Exception as e:  # a missing or unreadable result fails the query
        return -1, f"no result: {e}"
    if list(got.columns) != list(expected.columns):
        return len(got), f"columns {list(got.columns)} != {list(expected.columns)}"
    if len(got) != len(expected):
        return len(got), f"rows {len(got)} != {len(expected)}"
    if not got.equals(expected):
        neq = (got != expected) & ~(got.isna() & expected.isna())
        return len(got), f"values differ in {[c for c in got.columns if neq[c].any()]}"
    return len(got), None


ETL_SQL = """
WITH raw AS (
  SELECT *, regexp_extract(filename, '[^/]+$', 0) AS fname
  FROM read_csv('{csv}/*.csv', header = true, filename = true, all_varchar = true)
), typed AS (
  SELECT DISTINCT pais, fecha_proceso, CAST(transporte AS INTEGER) AS transporte,
         CAST(ruta AS INTEGER) AS ruta, tipo_entrega, material,
         CAST(precio AS DOUBLE) AS precio, CAST(cantidad AS DOUBLE) AS cantidad,
         unidad, fname
  FROM raw
), kept AS (
  SELECT strptime(fecha_proceso, '%Y%m%d')::DATE AS fecha, * FROM typed
  WHERE strptime(fecha_proceso, '%Y%m%d')::DATE BETWEEN DATE '2024-12-01' AND DATE '2025-07-30'
    AND upper(tipo_entrega) IN ('ZPRE', 'ZVE1', 'Z04', 'Z05')
)
SELECT fecha, pais, count(*) AS n,
       sum(CAST(coalesce(precio, 0) AS DECIMAL(18, 2))) AS precio_sum,
       sum(CASE WHEN upper(unidad) = 'CS' THEN cantidad * 20 ELSE cantidad END) AS qty_sum
FROM kept GROUP BY ALL
"""

ETL_OUT_SQL = """
SELECT CAST(fecha_proceso AS DATE) AS fecha, pais, count(*) AS n,
       sum(CAST(precio_origen AS DECIMAL(18, 2))) AS precio_sum,
       sum(cantidad_estandar) AS qty_sum,
       count(*) FILTER (WHERE material IS NULL OR precio_origen IS NULL) AS nulls
FROM read_parquet('{out}/*/*/*.parquet', hive_partitioning = true,
                  hive_types = {{'fecha_proceso': DATE, 'pais': VARCHAR}})
GROUP BY ALL
"""


def etl_expected(csv_dir):
    """Per-partition (date, country) rows and checksums of the job's output."""
    df = duckdb.sql(ETL_SQL.format(csv=csv_dir)).df()
    return df.sort_values(["fecha", "pais"], ignore_index=True)


def etl_compare(out_dir, expected):
    """Returns an error string, or None when the output matches."""
    try:
        got = duckdb.sql(ETL_OUT_SQL.format(out=out_dir)).df()
    except Exception as e:
        return f"unreadable output: {e}"
    got = got.sort_values(["fecha", "pais"], ignore_index=True)
    if int(got["nulls"].sum()):
        return "null material or price in the output"
    if len(got) != len(expected):
        return f"partitions {len(got)} != {len(expected)}"
    if not (got["fecha"].astype(str).equals(expected["fecha"].astype(str))
            and got["pais"].equals(expected["pais"])):
        return "partition keys differ"
    if not got["n"].astype(np.int64).equals(expected["n"].astype(np.int64)):
        return "rows per partition differ"
    if not got["precio_sum"].equals(expected["precio_sum"]):
        return "price checksum differs"
    if not np.allclose(got["qty_sum"], expected["qty_sum"], rtol=1e-9):
        return "standardised quantity checksum differs"
    return None
