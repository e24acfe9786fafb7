"""The one reader of table files and parquet footers (``catalog.footers``)
and the unknown branch of each of its callers."""

from __future__ import annotations

import ast
import pathlib

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from qpmodel_spark import registry
from qpmodel_spark.catalog import Footer, data_files, fanout, footers
from qpmodel_spark.ddl import Engine
from qpmodel_spark.queries.asof import _asof_partitions
from tests.conftest import SF_DIR

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "qpmodel_spark"


def test_footers_reads_local_files_only(tmp_path, monkeypatch):
    """Plain paths and ``file:`` URIs are read; a remote URI is unknown
    without a read, even when a local file sits at its path, and so is a
    file that is missing or not parquet."""
    good = tmp_path / "a b.parquet"
    pq.write_table(pa.table({"id": [1, 2, 3]}), str(good))
    (tmp_path / "bad.parquet").write_bytes(b"not parquet")
    reads = []
    real = pq.ParquetFile

    def counting(*a, **kw):
        reads.append(a[0])
        return real(*a, **kw)

    monkeypatch.setattr(pq, "ParquetFile", counting)
    files = [
        str(good),
        good.as_uri(),
        f"s3a://bucket{good}",
        f"hdfs://namenode{good}",
        f"file://otherhost{good}",
        str(tmp_path / "bad.parquet"),
        str(tmp_path / "gone.parquet"),
    ]
    want = Footer(3, good.stat().st_size, ("id",))
    assert list(footers(files)) == [want, want, None, None, None, None, None]
    assert reads == [str(good), str(good), str(tmp_path / "bad.parquet"),
                     str(tmp_path / "gone.parquet")]


def test_data_files_lists_partitions_and_skips_hidden(tmp_path):
    for rel in ("part-0.parquet", "g=1/part-1.parquet", "_g=2/part-2.parquet",
                "_SUCCESS", ".part-0.parquet.crc", ".staging/part-3.parquet",
                "_tmp/part-4.parquet"):
        (tmp_path / rel).parent.mkdir(parents=True, exist_ok=True)
        (tmp_path / rel).write_bytes(b"")
    got = [str(pathlib.Path(f).relative_to(tmp_path)) for f in data_files(str(tmp_path))]
    assert got == ["part-0.parquet", "_g=2/part-2.parquet", "g=1/part-1.parquet"]


@pytest.mark.parametrize("caller", ["fanout", "asof"])
def test_remote_uri_is_never_sized_from_its_local_path(spark, tmp_path, monkeypatch, caller):
    """An ``s3a://bucket/x`` input is of unknown size even when a local
    file sits at ``/x``: fanout fans out, and the as-of join runs at the
    session's shuffle partitions.  Had the local file been read, its bytes
    would make fanout a no-op (1-byte splits) and its 10 rows would size
    the as-of join at 1 partition."""
    local = tmp_path / "t.parquet"
    pq.write_table(pa.table({"id": list(range(10))}), str(local))
    df = spark.range(10)
    monkeypatch.setattr(type(df), "inputFiles", lambda self: [f"s3a://bucket{local}"])
    old = {k: spark.conf.get(k) for k in
           ("spark.sql.shuffle.partitions", "spark.sql.files.maxPartitionBytes")}
    spark.conf.set("spark.sql.shuffle.partitions", "24")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1b")
    try:
        if caller == "fanout":
            assert fanout(df) is not df
        else:
            assert _asof_partitions(spark, df) == 24
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_is_empty_unknown_footer_is_not_empty(spark, tmp_path):
    """A table file whose footer cannot be read makes the table not empty,
    so MERGE takes its general path; a readable empty table is empty."""
    eng = Engine(spark, str(tmp_path))
    eng.create_table("e", "k int")
    assert eng._is_empty("e") is True
    (tmp_path / "bad").mkdir()
    (tmp_path / "bad" / "part-0.parquet").write_bytes(b"not parquet")
    assert eng._is_empty("bad") is False
    eng.drop_table("e")


def test_semdedup_unknown_footers_count_rows(spark, monkeypatch):
    """With the embeddings footers unknown, semdedup's N is an exact
    ``count()``, and it drops the same rows as the footer-sized run."""
    fn = registry.get("pipeline_semdedup").spark_fn
    want = sorted(tuple(r) for r in fn(spark, SF_DIR).collect())
    frame = type(spark.range(1))  # the session's DataFrame implementation
    counted = []
    real_count = frame.count

    def count(self):
        counted.append(1)
        return real_count(self)

    monkeypatch.setattr(frame, "count", count)
    monkeypatch.setattr(frame, "inputFiles", lambda self: ["s3a://bucket/embeddings.parquet"])
    got = sorted(tuple(r) for r in fn(spark, SF_DIR).collect())
    assert counted and got == want


def test_only_the_catalog_imports_pyarrow_parquet():
    """Every footer read in the package goes through ``catalog.footers``,
    so ``catalog.py`` is the only module that imports ``pyarrow.parquet``."""
    importers = set()
    for path in PACKAGE.rglob("*.py"):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Import):
                names = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom):
                names = [f"{node.module}.{a.name}" for a in node.names]
            else:
                continue
            if "pyarrow.parquet" in names:
                importers.add(str(path.relative_to(PACKAGE)))
    assert importers == {"catalog.py"}
