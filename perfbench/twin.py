"""Output checks: an order-insensitive row hash, and the DuckDB twins.

Both sides of every comparison are hashed by the same Spark expression, so
engine differences in column order, integer width or the last bits of a
double cannot produce a false mismatch:

* columns are taken in sorted name order;
* integral values render as integers, other numbers are rounded to 9
  decimals (the tolerance ``tools/check_oracle.py`` uses);
* every value is cast to a string and nulls get a sentinel, then
  ``sum(xxhash64(row))`` over all rows plus ``count(*)`` is the hash.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

NULL = "∅"


def _canon(df: DataFrame, name: str):
    c = F.col(name)
    dt = df.schema[name].dataType
    if isinstance(dt, (T.FloatType, T.DoubleType, T.DecimalType)):
        d = c.cast("double")
        c = F.when(d == F.floor(d), d.cast("long").cast("string")).otherwise(
            F.round(d, 9).cast("string")
        )
    else:
        c = c.cast("string")
    return F.coalesce(c, F.lit(NULL))


def row_hash(df: DataFrame, drop_one: bool = False) -> tuple[int, str]:
    """(rows, hash) of ``df``; one aggregate that reads every column.

    ``drop_one`` removes one row before hashing. It exists so the self-tests
    can prove that a single lost row is caught.
    """
    cols = sorted(df.columns)
    h = F.xxhash64(*[_canon(df, c) for c in cols])
    if drop_one:
        df = df.withColumn("_h", h).filter(
            F.col("_h") != F.lit(df.select(F.min(h)).first()[0])
        ).drop("_h")
    row = df.agg(
        F.count(F.lit(1)).alias("n"), F.sum(h.cast("decimal(38,0)")).alias("h")
    ).first()
    return int(row["n"]), str(row["h"] if row["h"] is not None else 0)


# ---------------------------------------------------------------------------
# pipeline twin: rdfcmap_spark.oracle.pipeline_full_sql over our own input
# ---------------------------------------------------------------------------

_CC_START = "cnodes AS ("
_CC_END = "all_triples AS ("


def pipeline_sql(transcripts_path: str) -> str:
    """``pipeline_full_sql()`` reading ``transcripts_path``, with its
    connected-components CTE replaced by the ``bench_mapping`` table.

    The oracle computes components as a full transitive closure
    (``reach``), which is quadratic in component size; the synthetic
    corpus's hot identifier puts a fifth of all identifier mentions in one
    component, so the closure dominates at any useful size (~10 s at 2k
    turns). :func:`pipeline_twin` fills ``bench_mapping`` with the same
    relation -- every node of ``und`` mapped to the smallest node of its
    component -- by union-find over ``und``. Every other CTE is the
    oracle's own text.
    """
    from rdfcmap_spark.oracle import TRANSCRIPTS_ORACLE_PATH, pipeline_full_sql

    sql = pipeline_full_sql()
    if TRANSCRIPTS_ORACLE_PATH not in sql or _CC_START not in sql or _CC_END not in sql:
        raise RuntimeError("pipeline oracle SQL changed shape; update perfbench/twin.py")
    sql = sql.replace(TRANSCRIPTS_ORACLE_PATH, transcripts_path)
    s, e = sql.index(_CC_START), sql.index(_CC_END)
    return sql[:s] + "mapping AS (SELECT entity_id, canonical_id FROM bench_mapping),\n" + sql[e:]


def _min_label_components(edges: list[tuple[str, str]]) -> dict[str, str]:
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {n: find(n) for n, _ in edges}


def pipeline_twin(transcripts_path: str, out_path: str) -> None:
    """Write the DuckDB twin of the flagship output to ``out_path``."""
    import duckdb
    import pandas as pd

    sql = pipeline_sql(transcripts_path)
    con = duckdb.connect()
    try:
        con.sql("CREATE TABLE bench_mapping (entity_id VARCHAR, canonical_id VARCHAR)")
        und = con.sql(sql.replace("SELECT * FROM final", "SELECT src, dst FROM und")).fetchall()
        m = _min_label_components(und)
        mapping = pd.DataFrame({"entity_id": list(m), "canonical_id": list(m.values())})
        con.register("mapping_df", mapping)
        con.sql("INSERT INTO bench_mapping SELECT entity_id, canonical_id FROM mapping_df")
        con.sql(f"COPY ({sql}) TO '{out_path}' (FORMAT PARQUET)")
    finally:
        con.close()


def query_twin(oracle_sql: str, table_dir: str, tables: list[str], out_path: str) -> None:
    """Write a registry query's DuckDB oracle result over ``table_dir``."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in tables:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(table_dir, t)}.parquet'")
        con.sql(f"COPY ({oracle_sql}) TO '{out_path}' (FORMAT PARQUET)")
    finally:
        con.close()
