"""Output correctness: each op's Spark output against its
`SparkEntry.oracleSql` entry evaluated in DuckDB over the same inputs.

The verdict is the repository's own: `tools/check.py`'s `cmp`. This
module only loads the two sides as pandas frames, the Spark output read
like `tools/check.py` reads it, plus hive partition directories for the
outputs written through the partitioned sink.
"""
import glob
import os
import sys

import duckdb
import pandas as pd
import pyarrow.dataset as ds

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
import check  # noqa: E402


def connect(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET enable_progress_bar = false")
    for path in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(path)[: -len(".parquet")]
        src = f"{path}/*.parquet" if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{src}')")
    return con


def load_spark(out_dir, partitioned):
    """The Spark output at `out_dir` as one frame, or None if it wrote
    nothing. Partition columns come from the `col=value` directory
    names; `__HIVE_DEFAULT_PARTITION__` reads as null."""
    files = sorted(glob.glob(os.path.join(out_dir, "**", "*.parquet"), recursive=True))
    if not files:
        return None
    if partitioned:
        return ds.dataset(files, format="parquet", partitioning="hive",
                          partition_base_dir=out_dir).to_table().to_pandas()
    return pd.concat([pd.read_parquet(f) for f in files])


def check_outputs(data_dir, oracle_sql, outputs):
    """`outputs`: op name -> (output dir, written through the partitioned
    sink). Returns op name -> (verdict, output rows); an op without an
    oracle entry or whose oracle fails to run is a failure."""
    con = connect(data_dir)
    verdicts = {}
    for name, (out_dir, partitioned) in sorted(outputs.items()):
        spark_df = load_spark(out_dir, partitioned)
        if name not in oracle_sql:
            verdicts[name] = ("NO-ORACLE", 0)
        elif spark_df is None:
            verdicts[name] = ("MISSING spark output", 0)
        else:
            try:
                oracle_df = con.execute(oracle_sql[name]).fetchdf()
            except duckdb.Error as e:
                verdicts[name] = (f"ORACLE-ERROR {str(e).splitlines()[0]}", len(spark_df))
                continue
            verdicts[name] = (check.cmp(name, spark_df, oracle_df), len(spark_df))
    return verdicts
