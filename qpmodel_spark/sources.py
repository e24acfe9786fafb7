"""File sources/sinks beyond parquet+CSV: JSONL (corpus interchange), ORC.

The reference reads CSV (COPY FROM, stmtDML.cs:245-285) and its in-memory
tables; a training-data engine also speaks JSONL — the lingua franca of LLM
corpus distribution (one JSON document per line, schema drifts, lines get
corrupted).  Design rules at 100 TB:

- **Schema is declared, never inferred**: inference is a full extra pass
  over the data and silently unifies drifting types.  Readers here take an
  explicit schema.
- **Corrupt lines are captured, not dropped**: PERMISSIVE mode routes
  unparseable lines into a ``_corrupt`` column so a pipeline can count,
  quarantine, and audit them — silent data loss at 1e12 rows is
  unfindable after the fact.
- Writers shard by partition count (files ≈ tasks), compose with
  ``Engine.compact`` for small-file hygiene.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

CORRUPT_COL = "_corrupt"


def read_jsonl(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """Read JSONL with declared schema; malformed lines land in _corrupt.

    ``schema`` is the DDL string for the *data* columns; the corrupt-record
    column is appended automatically.  Rows with a non-null ``_corrupt``
    hold the raw offending line and NULL data columns.

    Implemented as text scan + ``from_json`` rather than the native JSON
    reader: Spark forbids queries that touch only the built-in corrupt
    column without caching the whole parse
    (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN) — explicit
    parsing has no such restriction, stays single-pass, and keeps the
    quarantine view cheap at any scale.  The corrupt column is declared
    inside the ``from_json`` schema with ``columnNameOfCorruptRecord``, so
    PERMISSIVE parsing stores the raw line there on failure (a parseable
    ``{}`` yields NULL data fields with a NULL corrupt field — empty is
    not corrupt).
    """
    raw = spark.read.text(path)
    parsed = raw.select(
        F.from_json(
            F.col("value"),
            f"{schema}, {CORRUPT_COL} string",
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": CORRUPT_COL},
        ).alias("_d")
    )
    return parsed.select("_d.*")


def corrupt_lines(df: DataFrame) -> DataFrame:
    """The quarantine view: raw text of every line that failed to parse."""
    return df.where(F.col(CORRUPT_COL).isNotNull()).select(
        F.col(CORRUPT_COL).alias("raw_line")
    )


def clean_rows(df: DataFrame) -> DataFrame:
    """Parsed rows only, corrupt column dropped."""
    return df.where(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)


def write_jsonl(df: DataFrame, path: str, num_files: int | None = None) -> None:
    """Write JSONL; ``num_files`` caps output shards (coalesce, no shuffle)."""
    if num_files:
        df = df.coalesce(num_files)
    df.write.mode("overwrite").json(path)


def write_orc(df: DataFrame, path: str) -> None:
    """ORC sink (columnar interchange with Hive/Trino ecosystems)."""
    df.write.mode("overwrite").orc(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.orc(path)


def read_jsonl_stream(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """Streaming twin of :func:`read_jsonl` — a landing directory consumed
    as an unbounded source (each new file = a micro-batch), same declared
    schema + corrupt-line capture.  This is the ingest edge of a streaming
    corpus pipeline: compose with dedup_stream / windowed aggregates /
    run_windowed_stream downstream.
    """
    raw = spark.readStream.format("text").load(path)
    parsed = raw.select(
        F.from_json(
            F.col("value"),
            f"{schema}, {CORRUPT_COL} string",
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": CORRUPT_COL},
        ).alias("_d")
    )
    return parsed.select("_d.*")
