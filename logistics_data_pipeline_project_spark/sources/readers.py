"""Stage readers with option parity to the reference (SURVEY §2.1).

- S5/S6/S7: CSV stage reads — positional $1..$9 columns, filename pattern,
  delimiter/skip-header/quote/null_if/trim options
  (dags/snowflake-EDW-ETL-dag.py:74-96; dags/snowspark-dataframe-ETL.py:26-32;
  dags/weather_api_dag.py:62-67).
- S3/S4: bulk JSON loads, optionally skipping bad records
  (dags/2_logistics-shipment-dag.py:82-87;
  dags/4_logistics_ticket_classifier_full_dag.py:173-178).
- file metadata virtual columns metadata$FILENAME / FILE_ROW_NUMBER /
  FILE_CONTENT_KEY / FILE_LAST_MODIFIED (dags/snowflake-EDW-ETL-dag.py:84-87)
  → Spark `_metadata` struct + a per-file row-number window.
- S10: dbt seed loader (seeds/control_table.csv).
- S11: skip-if-empty stage check (dags/utils/check_files.py:19-41).

Scale notes: the CSV/JSON readers are plain Spark file sources — schema
declared (no inference job), pathGlobFilter prunes at listing time, and
`_metadata` comes free from the scan. The per-file row number is the one
genuinely expensive feature (a window over file path); it is opt-in.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession, Window, functions as F
from pyspark.sql.types import StructType


def read_csv_stage(
    spark: SparkSession,
    path: str,
    schema: StructType | str | None = None,
    pattern: str | None = None,
    delimiter: str = ",",
    skip_header: bool = True,
    quote: str = '"',
    null_if: str | None = None,
    trim_space: bool = False,
    positional_names: bool = False,
) -> DataFrame:
    """CSV stage read with Snowflake file-format option parity.

    ``positional_names=True`` renames columns to $1-style ``c1..cN``
    (mirroring the reference's positional `$1..$9` stage queries) when no
    schema names are given."""
    reader = (
        spark.read.option("sep", delimiter)
        .option("header", str(skip_header).lower())
        .option("quote", quote)
        .option("mode", "PERMISSIVE")
    )
    if null_if is not None:
        reader = reader.option("nullValue", null_if)
    if trim_space:
        reader = reader.option("ignoreLeadingWhiteSpace", "true").option(
            "ignoreTrailingWhiteSpace", "true"
        )
    if pattern:
        reader = reader.option("pathGlobFilter", pattern)
    if schema is not None:
        reader = reader.schema(schema)
    df = reader.csv(path)
    if positional_names and schema is None:
        df = df.toDF(*[f"c{i + 1}" for i in range(len(df.columns))])
    return df


def read_json_stage(
    spark: SparkSession,
    path: str,
    schema: StructType | str | None = None,
    skip_bad_records: bool = False,
    multi_line: bool = True,
) -> DataFrame:
    """Bulk JSON load; ``skip_bad_records`` ≈ ON_ERROR='SKIP_FILE' at row
    granularity (DROPMALFORMED — Spark's finer-grained equivalent)."""
    reader = spark.read.option("multiLine", str(multi_line).lower())
    reader = reader.option("mode", "DROPMALFORMED" if skip_bad_records else "PERMISSIVE")
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def with_file_metadata(df: DataFrame, row_number: bool = False) -> DataFrame:
    """Attach the reference's metadata$ virtual columns:

    - FILENAME        ← _metadata.file_path
    - FILE_LAST_MODIFIED ← _metadata.file_modification_time
    - FILE_CONTENT_KEY   ← stable digest of (path, size, mtime)
    - FILE_ROW_NUMBER    ← optional window over file path (expensive:
      one shuffle keyed by file; only enable when row-level file lineage
      is required — SURVEY §4 item 4).
    """
    out = df.select(
        "*",
        F.col("_metadata.file_path").alias("METADATA_FILENAME"),
        F.col("_metadata.file_modification_time").alias("METADATA_FILE_LAST_MODIFIED"),
        F.md5(
            F.concat_ws(
                "|",
                F.col("_metadata.file_path"),
                F.col("_metadata.file_size").cast("string"),
                F.col("_metadata.file_modification_time").cast("string"),
            )
        ).alias("METADATA_FILE_CONTENT_KEY"),
    )
    if row_number:
        w = Window.partitionBy("METADATA_FILENAME").orderBy(F.monotonically_increasing_id())
        out = out.withColumn("METADATA_FILE_ROW_NUMBER", F.row_number().over(w))
    return out


def read_seed_csv(spark: SparkSession, path: str) -> DataFrame:
    """dbt seed loader: small checked-in CSV → typed table (S10;
    seeds/control_table.csv + dbt_project.yml:43-47)."""
    return spark.read.option("header", "true").option("inferSchema", "true").csv(path)


def has_pending_files(path: str, pattern: str = "*") -> bool:
    """Skip-if-empty pre-check (S11): cheap driver-side glob before
    launching a batch — the reference raises AirflowSkipException
    (dags/utils/check_files.py:19-41); callers here just skip the run."""
    return bool(glob.glob(os.path.join(path, pattern)))


def read_media_dir(
    spark: SparkSession,
    path: str,
    pattern: str | None = None,
    recursive: bool = True,
    max_bytes: int | None = None,
) -> DataFrame:
    """Binary media ingestion: read a directory of image/audio/video
    files as (path, modificationTime, length, content) rows via Spark's
    ``binaryFile`` source — the standard way raw media enters a Spark
    pipeline (one task per file, bytes never touch the driver). Feed the
    result to ``operators.multimodal.attach_payload_metadata`` for the
    typed metadata; ``decode_media`` additionally needs a long id column
    and a media-type column, decodes headers for real (image dims, WAV
    duration) and raises NotImplementedError for bytes no codec here
    can parse.

    ``pattern`` prunes at LISTING time (pathGlobFilter — unmatched files
    are never opened); ``max_bytes`` guards against a stray huge file
    blowing a task's memory (binaryFile materializes one whole file per
    row by design — media payloads, not datasets)."""
    r = spark.read.format("binaryFile")
    if pattern:
        r = r.option("pathGlobFilter", pattern)
    if recursive:
        r = r.option("recursiveFileLookup", "true")
    df = r.load(path)
    if max_bytes is not None:
        df = df.filter(F.col("length") <= max_bytes)
    return df
