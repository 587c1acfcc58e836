"""Media column plumbing: opaque `binary` bytes through one Arrow pass.

The engine's inputs are text pages, so media arrives only as an opaque
`bytes` column (the contract query feeds utf-8 document text).  Nothing
decodes it: the extractor reports what a corpus pipeline keys media on —
size and content hash — after the bytes cross the Arrow boundary.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

MEDIA_FEATURES = StructType(
    [
        StructField("media_id", LongType(), True),
        StructField("kind", StringType(), True),
        StructField("n_bytes", LongType(), False),
        StructField("content_hash", StringType(), False),
    ]
)


def extract_media_features(media: DataFrame) -> DataFrame:
    """(media_id, kind, bytes) → (media_id, kind, n_bytes, content_hash) via
    one Arrow `mapInArrow` pass; content_hash is the md5 hex digest.  NULL
    bytes count as b"" (n_bytes 0, md5 of the empty string)."""

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            data = [b or b"" for b in rb.column(2).to_pylist()]
            yield pa.RecordBatch.from_arrays(
                [
                    rb.column(0),
                    rb.column(1),
                    pa.array([len(b) for b in data], pa.int64()),
                    pa.array([hashlib.md5(b).hexdigest() for b in data], pa.string()),
                ],
                ["media_id", "kind", "n_bytes", "content_hash"],
            )

    return media.select(
        F.col("media_id").cast("long"), F.col("kind").cast("string"), "bytes"
    ).mapInArrow(run, schema=MEDIA_FEATURES)
