"""File discovery and work-list normalisation sources.

Reference parity:

* ``find_parquet_files`` (reference stack.py:119-171)
  — recursive discovery + extension/regex filename filter — becomes a
  glob read plus an ``input_file_name()`` rlike predicate (Catalyst still
  prunes columns; the filter runs on file-name metadata, not data).
* the SQS message-shape normaliser (reference __main__.py:707-711): ids
  arrive either as bare 36-char UUID strings or wrapped JSON
  ``{"Message": "{\"id\": ...}"}`` — ``normalise_ids`` handles both with
  ``from_json`` + ``coalesce``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def find_parquet(spark, path_glob: str, name_pattern: str | None = None,
                 schema=None) -> DataFrame:
    """Read all parquet under a glob, optionally keeping only files whose
    NAME matches ``name_pattern`` (regex), with the source path attached."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    df = reader.parquet(path_glob).withColumn(
        "_src_file", F.input_file_name())
    if name_pattern:
        df = df.filter(
            F.element_at(F.split("_src_file", "/"), -1).rlike(name_pattern))
    return df


def normalise_ids(msgs: DataFrame, col: str = "body") -> DataFrame:
    """(id string) from a mixed work-list column: bare 36-char UUIDs pass
    through; JSON-wrapped messages are unwrapped (B10)."""
    inner = F.get_json_object(F.get_json_object(F.col(col), "$.Message"),
                              "$.id")
    bare = F.when(F.length(F.col(col)) == 36, F.col(col))
    return msgs.select(F.coalesce(bare, inner).alias("id")).filter(
        F.col("id").isNotNull())
