"""File sources: parquet / csv / json with schema normalization.

The reference reads only from MySQL (src/Anonymizer.php:298-317); file
sources are an engine extension so the same masking plans run over data-lake
inputs. Knows the fixtures' one timestamp quirk (``TS_COLUMNS``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

# fixture columns the engine reads as TIMESTAMP, by table. Every fixture
# timestamp is stored as INT64 TIMESTAMP(MICROS) not adjusted to UTC, which
# Spark reads as timestamp_ntz
TS_COLUMNS: dict[str, list[str]] = {"events": ["ts"]}


def normalize_ts(df: DataFrame, table_name: str | None) -> DataFrame:
    """Cast ``table_name``'s ``TS_COLUMNS`` from timestamp_ntz to timestamp.
    The session time zone is pinned to UTC, so each instant is unchanged and
    matches the DuckDB oracles' reading of the same file."""
    for c in TS_COLUMNS.get(table_name or "", []):
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def read_table(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema: StructType | str | None = None,
    table_name: str | None = None,
    **options,
) -> DataFrame:
    """Read one table; a parquet table's ``TS_COLUMNS`` are read as
    timestamp (``normalize_ts``)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    if fmt == "parquet":
        return normalize_ts(reader.options(**options).parquet(path), table_name)
    if fmt == "csv":
        return reader.options(header="true", inferSchema=schema is None, **options).csv(path)
    if fmt == "json":
        return reader.options(**options).json(path)
    if fmt == "orc":
        return reader.options(**options).orc(path)
    if fmt == "xml":
        # Native XML source (built into Spark 4, SPARK-44265): rowTag
        # selects the repeating element. Ingest-side format for feeds /
        # exports; schema strongly recommended (inference scans twice).
        return reader.options(**options).format("xml").load(path)
    if fmt == "text":
        # Whole-line text source: one (value string) row per line — the
        # rawest ingest shape (logs, JSONL pre-parse, WET/WARC-extracted
        # text). Parse downstream with from_json / regexp_extract.
        return reader.options(**options).text(path)
    if fmt == "binaryFile":
        # Built-in whole-file source for opaque media payloads: one row per
        # file with (path, modificationTime, length, content binary). The
        # reader parallelizes across files and pushes pathGlobFilter /
        # modifiedAfter down to the listing, so a 100 TB media lake scans
        # only the matching objects. (No schema parameter: the source's
        # 4-column schema is fixed by Spark.)
        return spark.read.format("binaryFile").options(**options).load(path)
    raise ValueError(f"unsupported format: {fmt}")
