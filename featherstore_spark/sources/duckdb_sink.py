"""DuckDB sink: export feature tables into a local analytical store.

Reference parity: featherstore's primary backend IS DuckDB — it creates
one table per feature set and serves point queries from it
(featherstore pkg/storage/duckdb/duckdb.go:117-179,608-689).  In this
engine DuckDB's role is normally the *oracle*, but the serving-side use
case is real: materialized features handed to a single-node analytical
store for dashboards/offline reads.  The export path is Spark-native:

    distributed parquet write (the session codec)  ->  one DuckDB
    `CREATE TABLE ... FROM read_parquet`

so the only single-node step is DuckDB's own parallel parquet ingest of
already-materialized files; Spark never collects rows to the driver.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame


def write_duckdb(
    df: DataFrame,
    database: str,
    table: str,
    mode: str = "overwrite",
    staging_dir: str | None = None,
) -> int:
    """Materialize ``df`` into ``database`` (a .duckdb file) as ``table``.

    ``mode``: 'overwrite' replaces the table, 'append' inserts into it.
    Returns the row count written (from DuckDB, i.e. verified post-load).
    """
    import duckdb

    if mode not in ("overwrite", "append"):
        raise ValueError(f"unsupported mode {mode!r}")
    if not table.replace("_", "").isalnum():
        raise ValueError(f"invalid table name {table!r}")

    staging = tempfile.mkdtemp(prefix="fs_duckdb_sink_", dir=staging_dir)
    try:
        parquet_dir = os.path.join(staging, "export")
        df.write.mode("overwrite").parquet(parquet_dir)
        glob = os.path.join(parquet_dir, "*.parquet")
        # A 0-row DataFrame can legally produce zero part files (AQE empty
        # relation); read_parquet on an empty glob raises, so detect it and
        # fall back to an empty Arrow table carrying the Spark schema.
        have_parts = any(f.endswith(".parquet") for f in os.listdir(parquet_dir))
        con = duckdb.connect(database)
        try:
            if have_parts:
                src_sql, src_params = "SELECT * FROM read_parquet(?)", [glob]
            else:
                import pyarrow as pa  # noqa: F401  (registered view source)
                from pyspark.sql.pandas.types import to_arrow_schema

                con.register("__fs_empty_src", to_arrow_schema(df.schema).empty_table())
                src_sql, src_params = "SELECT * FROM __fs_empty_src", []
            before = 0
            if mode == "overwrite":
                con.execute(f'DROP TABLE IF EXISTS "{table}"')
                con.execute(f'CREATE TABLE "{table}" AS {src_sql}', src_params)
            else:
                exists = con.execute(
                    "SELECT count(*) FROM information_schema.tables WHERE table_name = ?",
                    [table],
                ).fetchone()[0]
                if exists:
                    before = con.execute(f'SELECT count(*) FROM "{table}"').fetchone()[0]
                    con.execute(f'INSERT INTO "{table}" {src_sql}', src_params)
                else:
                    con.execute(f'CREATE TABLE "{table}" AS {src_sql}', src_params)
            total = con.execute(f'SELECT count(*) FROM "{table}"').fetchone()[0]
        finally:
            con.close()
        return int(total - before)
    finally:
        shutil.rmtree(staging, ignore_errors=True)
