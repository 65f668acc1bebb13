"""JSON-Lines source and sink — the interchange format of LLM training
corpora (one JSON document per line; append-able, splittable, schema-on-
read).

The reference has CSV contracts only (SURVEY §2.1); JSONL is the
training-data-pipeline extension. Scale notes:

* JSONL is line-splittable, so a 100 TB corpus parallelizes by byte range
  exactly like CSV/parquet — no file-level skew beyond file sizes;
* the reader takes an explicit schema: schema inference is a full extra
  pass over the data;
* the sink writes explicit ``"field": null`` entries, so every line
  carries the full schema (stable downstream reads at the cost of bytes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def write_jsonl(df: DataFrame, path: str) -> None:
    """Write one JSON object per line (Spark's native json sink), nulls
    included."""
    df.write.mode("overwrite").option("ignoreNullFields", False).json(path)


def read_jsonl(spark: SparkSession, path: str, schema: T.StructType | str) -> DataFrame:
    """Read a JSONL directory/file under ``schema``; malformed lines
    null-fill (Spark's PERMISSIVE default)."""
    return spark.read.schema(schema).json(path)
