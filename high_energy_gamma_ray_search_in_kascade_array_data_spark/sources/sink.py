"""Parquet sinks (SURVEY §2.1 S4).

The reference persists 9 NPY files — 3 splits × {matrices, features,
target} (``create_train_valid_test_datasets.py:151-160``). The engine's
form is ONE partitioned parquet dataset with a ``split`` partition
column: readers prune to a split at scan time (partition pruning), and
the three arrays live as columns of the same row — the positional
alignment hazard of the reference's parallel files is gone by
construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_partitioned(df: DataFrame, path: str, partition_cols: list[str], mode: str = "overwrite") -> None:
    """Partitioned parquet sink. At 100 TB add bucketing on the join
    key (``bucketBy``) via a saveAsTable catalog write; plain
    partitionBy keeps file-level pruning portable."""
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)

