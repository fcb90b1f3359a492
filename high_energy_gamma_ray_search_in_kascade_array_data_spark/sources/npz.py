"""Legacy NPZ/NPY ingest (SURVEY §2.1 S2/S3).

The reference's inputs are keyed NPZ archives / NPY dumps
(``create_train_valid_test_datasets.py:116-117``,
``train_classification.py:171-177``). The engine's native format is
parquet; this module is the migration path: ``binaryFile`` scan →
``mapInPandas`` numpy decode → ordinary DataFrame. Each archive file is
one row of the binary scan, so per-file decode parallelism equals the
file count — the right unit for bulk legacy ingest (one simulation
dump per file).
"""

from __future__ import annotations

import io
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

DECODED_SCHEMA = StructType(
    [
        StructField("source_file", StringType()),
        StructField("key", StringType()),
        StructField("row_idx", LongType()),
        StructField("values", ArrayType(DoubleType())),
    ]
)


def read_npz(spark: SparkSession, path_glob: str) -> DataFrame:
    """Decode every 2-D float array in NPZ archives matched by
    ``path_glob`` into long-form rows (file, key, row_idx, values).

    The decode is an Arrow-batched mapInPandas over the binary scan —
    one numpy ``np.load`` per archive, vectorized row slicing, no
    per-row Python loop beyond the final list conversion.
    """
    import numpy as np

    binary = spark.read.format("binaryFile").load(path_glob)

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for path, content in zip(pdf["path"], pdf["content"]):
                with np.load(io.BytesIO(content)) as npz:
                    for key in npz.files:
                        arr = np.atleast_2d(np.asarray(npz[key], dtype="float64"))
                        flat = arr.reshape(arr.shape[0], -1)
                        yield pd.DataFrame(
                            {
                                "source_file": path,
                                "key": key,
                                "row_idx": np.arange(flat.shape[0], dtype="int64"),
                                "values": list(flat),
                            }
                        )

    return binary.select("path", "content").mapInPandas(decode, DECODED_SCHEMA)

