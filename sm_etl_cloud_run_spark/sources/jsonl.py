"""JSON-Lines source/sink — the interchange format of training corpora.

Corpus drops (Common-Crawl derivatives, instruction sets, eval suites)
ship as .jsonl[.gz]; this module reads them with an explicit schema and
quarantines malformed lines instead of failing the job or silently
nulling rows (the 100 TB reality: a multi-billion-line crawl ALWAYS
contains broken lines, and a load that dies at line 3 billion — or
drops lines without an audit trail — is operationally useless).

Spark-first shape: `spark.read.json` is a distributed line-per-record
scan (splittable for plain/bzip2, per-file parallel for gzip); with an
explicit schema there is no inference pass over 100 TB. PERMISSIVE mode
routes unparseable lines into a corrupt-record column the caller can
count, sample, and sink to a quarantine path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructType

CORRUPT_COL = "_corrupt_record"


def _with_corrupt(schema: StructType) -> StructType:
    if CORRUPT_COL in schema.fieldNames():
        return schema
    return schema.add(CORRUPT_COL, StringType(), True)


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: StructType,
    *,
    multiline: bool = False,
) -> DataFrame:
    """Schema-explicit JSONL scan with malformed-line capture.

    Returns the schema's columns plus `_corrupt_record` (NULL for clean
    rows, the raw line for broken ones). Explicit schema is mandatory:
    inference reads the data twice and schema drift across a multi-year
    crawl should fail loudly, not be auto-widened.
    """
    return (
        spark.read.schema(_with_corrupt(schema))
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .option("multiLine", multiline)
        .json(path)
    )


def split_corrupt(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(clean_rows_without_corrupt_col, quarantine_rows).

    Spark can leave non-corrupt fields partially populated on a broken
    line; quarantine keeps only the raw line, which is what a re-parse
    or a bug report needs.

    The parsed frame is persisted first: Spark refuses a query whose
    projection is ONLY the internal corrupt-record column
    (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN — the raw
    scan can't know which lines are corrupt without parsing the
    others), and caching the parse is the documented answer. Split is
    a per-drop-batch operation, so the persisted set is bounded by the
    ingest batch, not the corpus; streams filter clean rows inline
    (full projection) and never need this split.
    """
    if not df.isStreaming:
        from ..cache import persist_tracked

        df = persist_tracked(df)
    clean = df.where(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    quarantine = df.where(F.col(CORRUPT_COL).isNotNull()).select(
        F.col(CORRUPT_COL).alias("raw_line")
    )
    return clean, quarantine


def write_jsonl(
    df: DataFrame,
    path: str,
    *,
    compression: str | None = None,
    mode: str = "error",
) -> None:
    """One JSON object per line, one file per partition (the layout
    every downstream tokenizer/loader expects). Prefer no compression
    or bzip2/zstd for splittability — a single 1 TB .gz file is one
    task forever."""
    w = df.write.mode(mode)
    if compression:
        w = w.option("compression", compression)
    w.json(path)


def read_jsonl_stream(
    spark: SparkSession,
    path: str,
    schema: StructType,
    *,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """Streaming JSONL ingestion over a drop directory — the continuous
    twin of `read_jsonl` (same schema contract and corrupt capture), for
    the corpus-ingestion pipeline (fingerprint dedup with
    `streaming.stream_ops.streaming_dedup`)."""
    return (
        spark.readStream.schema(_with_corrupt(schema))
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(path)
    )
