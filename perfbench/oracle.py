"""Independent DuckDB oracle for the CDC workloads: the target must hold,
per document key, the latest insert/update event by (clusterTime, token);
deletes are dropped (the reference's contract)."""

from __future__ import annotations

import duckdb
import pyarrow as pa

EXPECTED_SQL = """
SELECT documentKey._id AS _id, fullDocument.event_type AS event_type,
       fullDocument.value AS value, fullDocument.props AS props,
       epoch_us(clusterTime) AS ts_us, _id AS token
FROM read_parquet({files})
WHERE operationType IN ('insert', 'update')
QUALIFY row_number() OVER (
    PARTITION BY documentKey._id ORDER BY clusterTime DESC, _id DESC) = 1
"""


def current_rows(spark, target) -> pa.Table:
    """The target's current state as arrow (one Spark job), with the
    timestamp as epoch microseconds so no time zone is involved."""
    from pyspark.sql import functions as F

    df = target.current(spark)
    if df is None:
        return pa.table({"_id": pa.array([], pa.int64())})
    return df.select(
        "_id", "event_type", "value", "props",
        F.unix_micros("cluster_ts").alias("ts_us"), "token",
    ).toArrow()


def mismatched_keys(files: list[str], actual: pa.Table) -> int:
    """Number of document keys whose target row differs from the oracle
    (missing, extra or wrong)."""
    con = duckdb.connect()
    try:
        con.execute("SET threads = 2")
        con.register("actual", actual)
        con.execute(f"CREATE TEMP TABLE expected AS {EXPECTED_SQL.format(files=list(files))}")
        if actual.num_columns == 1:
            return con.execute("SELECT count(*) FROM expected").fetchone()[0]
        return con.execute(
            """SELECT count(DISTINCT _id) FROM (
                 (SELECT * FROM expected EXCEPT ALL SELECT * FROM actual)
                 UNION ALL
                 (SELECT * FROM actual EXCEPT ALL SELECT * FROM expected))"""
        ).fetchone()[0]
    finally:
        con.close()
