"""Table catalog over the driver-generated parquet layout.

The reference keeps an in-memory ``SysTable`` dict name→TableDef
(qpmodel/Catalog.cs:168-234) with heap-row storage split over 10 emulated
machines.  Here the catalog is a thin layer over parquet + the Spark session
catalog: tables are parquet files named ``{sf_dir}/{table}.parquet``;
``register_views`` exposes them as temp views so the SQL surface matches the
DuckDB oracle's pre-registered views one-to-one.

Table metadata is read from the files themselves: :func:`data_files` is the
one listing rule for a table directory and :func:`footers` the one parquet
footer reader, with an explicit unknown result (``None``).  Every footer
read in the package, and every listing of an Engine table's files, goes
through them.

Scale note: parquet scans get predicate pushdown, column pruning and
partition-level parallelism from Catalyst for free; at 100 TB the same
catalog works over a directory of many files per table (Spark splits by
``spark.sql.files.maxPartitionBytes``) — nothing here assumes a single file.
"""

from __future__ import annotations

import os
import weakref
from typing import Iterable, Iterator, NamedTuple
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# Dimension tables small enough to broadcast at any realistic scale factor;
# the reference models these as `REPLICATED` tables (qpmodel/Catalog.cs:76-82).
BROADCAST_TABLES = {"region", "nation"}

def fanout(df: DataFrame) -> DataFrame:
    """Spread a narrow scan over the executor pool before heavy per-row work.

    The testdata writes each table as ONE parquet row group, so a bare scan
    runs as a single task no matter the core count — any compute-dense
    chain hung directly off it (per-shingle minhashing, per-dimension
    vector arithmetic) runs single-threaded (guide §2.5: "one huge
    unsplittable file ... repartition immediately after the read").  This
    inserts one round-robin exchange sized to the session's shuffle
    parallelism (env-derived via session.py, never a constant).

    SCALE-ADAPTIVE via metadata-only guards, so no 100 TB corpus pays a
    gratuitous full-payload shuffle.  It is a no-op when the frame reads
    at least as many files as the target parallelism (a real multi-file
    table at cluster scale), or when the files' total bytes divided by
    ``spark.sql.files.maxPartitionBytes`` reach the target (a few big
    splittable files already scan as that many tasks).  ``inputFiles()``
    is a listing lookup (~3 ms), where a ``df.rdd.getNumPartitions()``
    guard forces a plan->RDD conversion costing 0.1-0.7 s per build.

    Unknown size — a frame that is not file-backed, or any file whose
    footer :func:`footers` cannot read (an object-store URI) — fans out:
    a needless shuffle costs time, while one task over a big input may
    never finish.

    NOT applied centrally: an A/B over 20 registry entries measured the
    extra exchange+stage as a net LOSS on every light entry (+0.2-0.7 s
    each, +5.9 s over the set) — the win only exists where per-row compute
    dominates the scan, so call sites opt in per measurement.  Value-safe
    by audit: no caller's output depends on scan partitioning
    (collect_list is always sort-wrapped, first()/any_value() only over
    constant-per-group columns or ordered windows, the seeded .sample
    entries never fan out).
    """
    spark = df.sparkSession
    target = int(spark.conf.get("spark.sql.shuffle.partitions"))
    try:
        files = df.inputFiles()
    except Exception:
        files = []  # not file-backed: size unknown
    if len(files) >= target:
        return df
    stats = list(footers(files))
    max_split = _parse_bytes(spark.conf.get("spark.sql.files.maxPartitionBytes", "128m"))
    if stats and None not in stats and max_split > 0:
        if sum(s.bytes for s in stats) // max_split >= target:
            return df  # few big files, but the scan still splits enough
    return df.repartition(target)


def _parse_bytes(v: str) -> int:
    """Spark size-string -> bytes ('8m', '128MB', '1.5g', '134217728b',
    plain int)."""
    s = str(v).strip().lower()
    mult = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    if len(s) > 1 and s[-1] == "b" and s[-2] in mult:
        s = s[:-1]
    if s and s[-1] in mult:
        return int(float(s[:-1]) * mult[s[-1]])
    return int(s.rstrip("b") or 0)


class Footer(NamedTuple):
    """What one parquet file's footer says about it (``bytes`` is the
    file's size on disk, the unit ``maxPartitionBytes`` splits by)."""

    rows: int
    bytes: int
    columns: tuple[str, ...]


def data_files(path: str) -> list[str]:
    """The parquet data files of a table directory, at any depth (hive
    partition directories included), by the rule Spark's file index
    applies: names starting with ``.`` are skipped, and so are names
    starting with ``_`` unless they hold ``=`` (``_SUCCESS``, ``.crc``
    files, ``_temporary`` write directories)."""

    def hidden(name: str) -> bool:
        return name.startswith(".") or (name.startswith("_") and "=" not in name)

    out = []
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if not hidden(d))
        out += [
            os.path.join(root, f)
            for f in sorted(files)
            if f.endswith(".parquet") and not hidden(f)
        ]
    return out


def footers(files: Iterable[str]) -> Iterator[Footer | None]:
    """Read the footer of each file in ``files`` — what ``inputFiles()``
    returns, or :func:`data_files` of a table directory — lazily, one file
    per step, so a caller can stop at the first file that answers it.  No
    Spark job runs.

    Yields ``None`` (unknown) for a file whose footer cannot be read here:
    a URI with a scheme other than ``file:`` or with a remote host (an
    ``s3a://bucket/x`` URI is never read as the local file ``/x``), or a
    local file that is gone or is not parquet.  Each caller states its
    rule for unknown, and each errs toward the choice that stays safe at
    scale.  No Hadoop FileSystem is consulted: every caller either reads
    the Engine's local warehouse or has that safe branch."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    for f in files:
        url = urlparse(f)
        footer = None
        if url.scheme in ("", "file") and url.netloc in ("", "localhost"):
            path = unquote(url.path) if url.scheme else f
            try:
                with pq.ParquetFile(path) as pf:
                    footer = Footer(
                        pf.metadata.num_rows,
                        os.path.getsize(path),
                        tuple(pf.schema_arrow.names),
                    )
            except (OSError, pa.ArrowException):  # gone, or not parquet
                pass
        yield footer


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir.rstrip('/')}/{name}.parquet"


def ns_to_ts(col: str = "ts"):
    """int64 nanosecond epoch → TimestampType by exact integer truncation.

    Must be `div` (integer division): epoch nanos ≈ 1.7e18 exceed double's
    2^53 exact range, so `(ts / 1000).cast(long)` lands on the wrong
    microsecond for ~2% of values — this version matches DuckDB's exact
    ns→µs cast bit-for-bit.
    """
    return F.timestamp_micros(F.expr(f"{col} div 1000"))


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize ``events.ts`` to TimestampType (µs, session-tz) whatever the
    parquet physical type of the current testdata generation:

    - TIMESTAMP(NANOS) + ``nanosAsLong`` → arrives as int64 nanos → exact
      integer ns→µs truncation (:func:`ns_to_ts`);
    - timestamp[us] without tz → arrives as TIMESTAMP_NTZ → reinterpreted as
      UTC wall-clock (the session tz is pinned UTC, so the cast is
      deterministic and epoch-identical to DuckDB's naive-timestamp view).

    Downstream operators always see plain TimestampType, so window/asof/
    epoch arithmetic is generation-independent.
    """
    dt = dict(df.dtypes).get("ts")
    if dt == "bigint":
        return df.withColumn("ts", ns_to_ts("ts"))
    if dt == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one table as a DataFrame (lazy parquet scan).

    ``events.ts`` lands as TimestampType via :func:`normalize_events_ts`.
    """
    # Set at runtime: callers (e.g. the round driver) may hand us a session
    # built without these confs.  UTC pins timestamp-literal coercion against
    # the parquet NTZ columns; nanosAsLong makes nanos-generation events
    # readable (no-op for µs-generation files).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(table_path(sf_dir, name))
    if name == "events":
        df = normalize_events_ts(df)
    return df


# session → (sf_dir the session's views CURRENTLY point at, registered
# names).  Re-reading 10 parquet footers per registry query is pure overhead
# when the driver sweeps the whole registry against one session/sf_dir; the
# parquet files are immutable inputs, so view definitions never go stale —
# for ONE sf_dir.  Temp-view names are session-GLOBAL, so the cache must key
# on the session alone and invalidate whenever the sf_dir changes: the old
# (session, sf_dir) keying left views pointing at the PREVIOUS dir after a
# cross-sf call (e.g. a test driving one entry at sf0.01 inside an sf0.001
# session), and every later caller at the original dir read the wrong
# corpus while the cache claimed the views were fresh.
# WeakKeyDictionary on the session OBJECT (not id(spark)): an id can be
# reused by a new session after the old one is garbage-collected, which
# made the cache claim views exist in a session that never registered any
# (ADVICE r07) — weak keys die with the session, so a fresh session always
# misses the cache and registers its own views.
_REGISTERED: "weakref.WeakKeyDictionary[SparkSession, tuple[str, set[str]]]" = (
    weakref.WeakKeyDictionary()
)


def register_views(
    spark: SparkSession,
    sf_dir: str,
    tables: list[str] | None = None,
    force: bool = False,
) -> None:
    """Register every table as a temp view (idempotent per session WHILE the
    sf_dir is unchanged; switching sf_dir re-registers everything)."""
    norm = sf_dir.rstrip("/")
    cur = _REGISTERED.get(spark)
    if cur is None or cur[0] != norm:
        cur = (norm, set())
        _REGISTERED[spark] = cur
    done = cur[1]
    for name in tables or TABLES:
        if force or name not in done:
            load(spark, sf_dir, name).createOrReplaceTempView(name)
            done.add(name)
