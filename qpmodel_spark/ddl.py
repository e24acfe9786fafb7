"""DDL / DML / utility statement surface.

Reference statements (stmtDML.cs, SURVEY §2.1/§2.13) → Spark equivalents:

- CREATE TABLE [DISTRIBUTED BY c | REPLICATED | ROUNDROBIN]  → parquet table
  in a warehouse dir; the distribution clause becomes physical layout:
  ``distributed by c`` → repartition(c) on write (co-located joins on c),
  ``replicated`` → recorded so reads get a broadcast hint,
  ``roundrobin`` → plain repartition(n).
  (Reference: Catalog.cs:76-82, 104-121.)
- INSERT INTO (VALUES | SELECT)  → append writes (stmtDML.cs:164-243)
- COPY t FROM 'file' [WHERE]     → csv read + filter + append
  (stmtDML.cs:245-285)
- ANALYZE t                      → ANALYZE TABLE ... COMPUTE STATISTICS FOR
  ALL COLUMNS (feeds Spark CBO — ≙ reference ColumnStat/histograms,
  Statis.cs:321-400)
- EXPLAIN [ANALYZE|FULL]         → explain_string(df, mode)
- sys_memo introspection tables  → plan_summary() temp view over the
  physical plan (optimizer.cs:1239-1328)

At 100 TB the warehouse layout is the scale lever: ``distributed by`` maps
to a partitioned/bucketed write so downstream equi-joins on the
distribution column avoid the shuffle entirely.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import tempfile
import time
import uuid

from pyspark.sql import Column, DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from qpmodel_spark.catalog import data_files, footers


def explain_string(df: DataFrame, mode: str = "formatted") -> str:
    """EXPLAIN modes (reference Plan.cs:125-141: explain/analyze/full).

    mode ∈ {simple, extended, formatted, cost, codegen, analyze} — 'cost'
    surfaces CBO estimates (≙ reference estimated cost), 'formatted' the
    physical plan (≙ reference plan text), 'analyze' EXECUTES the query and
    prints per-operator actual row counts (≙ reference PhysicProfiling /
    EXPLAIN ANALYZE, PhysicalExec.cs:332-408).
    """
    if mode == "analyze":
        return explain_analyze(df)
    jqe = df._jdf.queryExecution()
    jvm = df.sparkSession._jvm
    return jvm.PythonSQLUtils.explainString(jqe, mode)


def plan_actuals(df: DataFrame, run: bool = True) -> list[tuple[int, str, int | None]]:
    """Per-operator actual row counts from the executed physical plan.

    ≙ the reference's PhysicProfiling wrapper, which counts actual rows and
    loops around every physical node (PhysicalExec.cs:332-408) and prints
    them in EXPLAIN (Plan.cs:125-141).  Spark already maintains these as
    SQL metrics on every operator; this walks the executed plan (descending
    through AQE wrappers and query stages) and reads them back — no plan
    modification, no overhead beyond the metrics Spark keeps anyway.

    ``run=True`` executes the plan via collect() to populate the metrics
    (EXPLAIN ANALYZE semantics — the result itself is discarded, so use on
    report-sized outputs or sampled inputs, same caveat as the reference's
    profiling mode).  Returns [(depth, operator, actual_rows)], where
    actual_rows is None for operators without a row metric (exchanges
    report shuffle record counts instead).
    """
    if run:
        df.collect()

    def metric(node, *names):
        vals = {}
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            vals[kv._1()] = kv._2().value()
        for nm in names:
            if nm in vals:
                return vals[nm]
        return None

    out: list[tuple[int, str, int | None]] = []

    def walk(node, depth: int) -> None:
        name = node.nodeName()
        rows = metric(node, "numOutputRows", "shuffleRecordsWritten", "recordsRead")
        out.append((depth, name, rows))
        if name.startswith("AdaptiveSparkPlan"):
            walk(node.executedPlan(), depth + 1)
            return
        if "QueryStage" in name:
            walk(node.plan(), depth + 1)
            return
        it = node.children().iterator()
        while it.hasNext():
            walk(it.next(), depth + 1)

    walk(df._jdf.queryExecution().executedPlan(), 0)
    return out


def explain_analyze(df: DataFrame) -> str:
    """EXPLAIN ANALYZE: executed plan tree annotated with actual rows."""
    lines = ["== Physical Plan (executed, actual rows) =="]
    for depth, name, rows in plan_actuals(df):
        suffix = "" if rows is None else f"  (actual rows: {rows})"
        lines.append(f"{'  ' * depth}{name}{suffix}")
    return "\n".join(lines)


def plan_summary(
    df: DataFrame, view_name: str | None = None, actuals: bool = False
) -> DataFrame:
    """Operator histogram of the physical plan — ≙ sys_memo introspection.

    Parses explain output into (operator, n) rows; optionally registers a
    temp view (reference registers sys_memo_expr/sys_memo_property,
    Catalog.cs:312-317).  With ``actuals=True`` the query is executed and
    each row carries the summed actual output rows for that operator
    (≙ PhysicProfiling feeding the introspection views).
    """
    spark = df.sparkSession
    if actuals:
        agg: dict[str, list] = {}
        for _, name, rows in plan_actuals(df):
            n, total = agg.get(name, (0, None))
            if rows is not None:
                total = (total or 0) + rows
            agg[name] = [n + 1, total]
        out = spark.createDataFrame(
            [
                Row(operator=k, n=v[0], actual_rows=v[1])
                for k, v in sorted(agg.items())
            ],
            "operator string, n int, actual_rows long",
        )
    else:
        text = explain_string(df, "simple")
        ops: dict[str, int] = {}
        for line in text.splitlines():
            m = re.search(r"^[\s+\-:*]*\(?\d*\)?\s*([A-Za-z]+[A-Za-z0-9]*)", line)
            if m and m.group(1) not in ("Physical", "Plan"):
                ops[m.group(1)] = ops.get(m.group(1), 0) + 1
        out = spark.createDataFrame(
            [Row(operator=k, n=v) for k, v in sorted(ops.items())]
        )
    if view_name:
        out.createOrReplaceTempView(view_name)
    return out


def with_row_observer(df: DataFrame, name: str = "rows"):
    """Attach a named row counter at this point in the plan (df.observe).

    The listener-based profiling primitive: the returned Observation yields
    the exact number of rows that flowed past this plan point during the
    next action, collected on the driver via an accumulator — zero extra
    jobs, works mid-plan (between operators), and at any scale.  Use for
    targeted checkpoints; for the full per-operator profile use
    :func:`plan_actuals` / EXPLAIN ANALYZE.
    """
    from pyspark.sql import Observation

    obs = Observation(name)
    return df.observe(obs, F.count(F.lit(1)).alias("rows")), obs


def _place_tree(src: str, dst: str, move: bool = False) -> int:
    """Put every file under ``src`` at the same relative path under ``dst``
    and return how many there were: moved when ``move``, else hard-linked
    (copied where links fail: cross-device, or a filesystem without
    links).  Parquet files are immutable, so a link is a snapshot."""
    n = 0
    for root, _dirs, files in os.walk(src):
        droot = os.path.normpath(os.path.join(dst, os.path.relpath(root, src)))
        os.makedirs(droot, exist_ok=True)
        for f in files:
            s, d = os.path.join(root, f), os.path.join(droot, f)
            if move:
                os.rename(s, d)
            else:
                try:
                    os.link(s, d)
                except OSError:
                    shutil.copy2(s, d)
            n += 1
    return n


class Engine:
    """Statement-level surface over a parquet warehouse."""

    def __init__(self, spark: SparkSession, warehouse: str | None = None):
        self.spark = spark
        self.warehouse = warehouse or tempfile.mkdtemp(prefix="qp_warehouse_")
        # table -> distribution spec ("distributed:<col>" | "replicated" | "roundrobin")
        self.distribution: dict[str, str] = {}
        # tables promoted to catalog tables by analyze(); _refresh must not
        # re-shadow these with a temp view or the CBO stats stop flowing
        self.analyzed: set[str] = set()
        # schema evolution: columns added WITHOUT rewriting existing files
        # (table -> {col: (sql_type, default_expr)}); resolved at read time
        # until the next copy-on-write rewrite materializes them
        self._added_cols: dict[str, dict[str, tuple[str, str]]] = {}
        # table -> schema of the files the Engine last wrote there, set or
        # dropped by _refresh; _scan reads with it, so only a table without
        # a record pays inference
        self._schemas: dict[str, StructType] = {}

    def _path(self, table: str) -> str:
        return f"{self.warehouse}/{table}"

    def _is_empty(self, table: str) -> bool:
        """True iff the table's parquet files hold zero rows — a footer
        check (no Spark job; the same information a manifest-based format
        holds per file) that stops at the first file holding a row.  A
        footer :func:`catalog.footers` cannot read counts as not empty, so
        the caller takes its general path."""
        files = data_files(self._path(table))
        return all(s is not None and s.rows == 0 for s in footers(files))

    # -- CREATE / DROP ------------------------------------------------------
    def create_table(
        self,
        table: str,
        schema: str,
        distribution: str | None = None,
    ) -> None:
        """CREATE TABLE t (schema DDL string) [distribution clause].

        ``limit(0)`` lets the optimizer plan the empty frame as an empty
        local relation, so the write starts no Python-worker tasks."""
        empty = self.spark.createDataFrame([], schema).limit(0)
        self._write(empty, table, distribution)
        self.distribution[table] = distribution or "none"

    def drop_table(self, table: str) -> None:
        self.spark.catalog.dropTempView(table)
        # also clear catalog entries left by analyze()/create_bucketed()
        self.spark.sql(f"DROP TABLE IF EXISTS {table}")
        shutil.rmtree(self._path(table), ignore_errors=True)
        self.distribution.pop(table, None)
        self.analyzed.discard(table)
        self._schemas.pop(table, None)  # no _refresh: the table is gone

    def _route(self, df: DataFrame, table: str, distribution: str | None = None) -> DataFrame:
        distribution = distribution or self.distribution.get(table, "none")
        if distribution and distribution.startswith("distributed:"):
            col = distribution.split(":", 1)[1]
            df = df.repartition(F.col(col))
        elif distribution == "roundrobin":
            df = df.repartition(int(self.spark.conf.get("spark.sql.shuffle.partitions")))
        return df

    def _write(
        self, df: DataFrame, table: str, distribution: str | None = None
    ) -> None:
        """Overwrite ``table`` with ``df`` (appends go through
        ``_append_staged``)."""
        df = self._route(df, table, distribution)
        df.write.mode("overwrite").parquet(self._path(table))
        self._refresh(table, df.schema)

    def _refresh(self, table: str, schema: StructType | None = None) -> None:
        """Re-expose ``table`` after its files changed.  ``schema`` is the
        schema of the files the caller just wrote, recorded for ``_scan``;
        without it the record is dropped and the next read infers the
        schema from the footers.  Every write ends here, so a writer that
        passes no schema costs one inference job, never a stale read."""
        if schema is None:
            self._schemas.pop(table, None)
        else:
            self._schemas[table] = schema
        if table in self.analyzed:
            # analyze() dropped the temp view so reads resolve the catalog
            # table (where the CBO stats live); recreating the view here
            # would silently shadow it again.  Refresh picks up appended
            # files; stats stay those of the last analyze() until re-run.
            self.spark.catalog.refreshTable(table)
            return
        df = self._read_files(table)
        if self.distribution.get(table) == "replicated":
            df = F.broadcast(df)
        df.createOrReplaceTempView(table)

    def _read_files(self, table: str) -> DataFrame:
        """Table files + schema-evolution overlay (see _read_with_overlay)."""
        extras = self._added_cols.get(table)
        if not extras:
            return self._scan(table)
        return self._read_with_overlay(self._path(table), extras)

    def _scan(self, table: str) -> DataFrame:
        """The table's files, read with the schema the Engine recorded when
        it wrote them; every read of a live table without an ADD COLUMN
        overlay goes through here.  The record is set or dropped by
        ``_refresh``, which every write ends in: overwrites (``_write``,
        ``_rewrite``, ``_overwrite_staged``) pass the frame they wrote, an
        append of the same schema passes the record on, and every other
        write passes none.  Without a record the schema is inferred from
        the parquet footers, which costs a Spark job, and is recorded.  A
        scan makes every field nullable whether its schema is given or
        inferred, so both read identically."""
        schema = self._schemas.get(table)
        if schema is not None:
            return self.spark.read.schema(schema).parquet(self._path(table))
        df = self.spark.read.parquet(self._path(table))
        self._schemas[table] = df.schema
        return df

    def _read_with_overlay(
        self, path: str, extras: dict[str, tuple[str, str]]
    ) -> DataFrame:
        """Read a file set applying the ADD COLUMN overlay with Delta/
        Iceberg semantics: the default is synthesized ONLY for rows in
        files that physically lack the column (written before the ALTER);
        files that carry it keep their values — including explicit NULLs,
        which a blanket coalesce would turn into the default.  Files are
        grouped by which overlay columns their footer schema carries and
        each group is read once; the footer scan is an O(files) metadata
        pass, the same information a manifest-based format (Delta/Iceberg)
        would hold per file at 100 TB.  A footer that cannot be read
        raises: without its column names the file cannot be grouped."""

        def dflt(sql_type: str, default: str):
            return F.expr(default).cast(sql_type)

        files = data_files(path)
        if not files:  # empty table: schema only, every overlay col absent
            df = self.spark.read.parquet(path)
            for col, (sql_type, default) in extras.items():
                df = df.withColumn(col, dflt(sql_type, default))
            return df
        groups: dict[frozenset, list[str]] = {}
        for f, footer in zip(files, footers(files)):
            if footer is None:
                raise ValueError(f"cannot read the parquet footer of {f}")
            key = frozenset(c for c in extras if c in footer.columns)
            groups.setdefault(key, []).append(f)
        parts = []
        for present, flist in groups.items():
            df = (
                self.spark.read.option("mergeSchema", "true")
                .option("basePath", path)
                .parquet(*flist)
            )
            for col, (sql_type, default) in extras.items():
                if col in present:
                    df = df.withColumn(col, F.col(col).cast(sql_type))
                else:
                    df = df.withColumn(col, dflt(sql_type, default))
            parts.append(df)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def add_column(
        self, table: str, col: str, sql_type: str, default: str = "NULL"
    ) -> None:
        """ALTER TABLE ADD COLUMN — metadata-only schema evolution.

        No file is rewritten (the 100 TB requirement: adding a column to a
        petabyte table must be O(1)): the column exists as a read-time
        overlay with ``default`` for every pre-existing row.  Inserts after
        the ALTER see the column in the table schema and write it into
        their (new) files; the next copy-on-write rewrite (update/delete/
        merge/compact) materializes it everywhere, after which the overlay
        is dropped — exactly Delta/Iceberg column-add semantics.
        """
        self._added_cols.setdefault(table, {})[col] = (sql_type, default)
        self._refresh(table, self._schemas.get(table))  # no file changed

    # -- UPDATE / DELETE / COMPACT (copy-on-write rewrites) -----------------
    # The reference parses UPDATE/DELETE but never implements them
    # (stmtDML.cs grammar-only; NistTests.cs:144-146 'gets new rows inserted
    # and deleted, which we don't support').  Parquet is immutable, so these
    # are staged copy-on-write rewrites — the same mechanism Delta/Iceberg
    # use, minus the transaction log: read current files, write the
    # transformed table to a staging dir, swap, refresh.  No read-while-
    # overwrite window (the swap happens after the staged write completes);
    # for concurrent readers production would layer a versioned table
    # format on the identical rewrite plan.

    def _stage(self, df: DataFrame, table: str) -> str:
        """Write ``df`` (routed and partitioned like ``table``) to a fresh
        staging dir and return it.  A failed write removes the dir, so
        nothing of it stays in the warehouse."""
        staging = f"{self.warehouse}/.staging_{table}_{uuid.uuid4().hex[:8]}"
        writer = self._route(df, table).write
        dist = self.distribution.get(table, "")
        if dist.startswith("partitioned:"):
            writer = writer.partitionBy(dist.split(":", 1)[1])
        try:
            writer.parquet(staging)
        except BaseException:
            shutil.rmtree(staging, ignore_errors=True)
            raise
        return staging

    def _rewrite(self, table: str, transform, op: str = "rewrite") -> None:
        """Stage ``transform(table)``, then snapshot, then swap: a write
        that fails leaves the table and its history untouched."""
        out = transform(self._read_files(table))  # overlay included
        staging = self._stage(out, table)
        self._snapshot(table, op)
        shutil.rmtree(self._path(table))
        os.rename(staging, self._path(table))
        # the rewrite materialized any added columns into every file
        self._added_cols.pop(table, None)
        self._refresh(table, out.schema)

    def _append_staged(self, df: DataFrame, table: str, op: str) -> None:
        """Append ``df`` to ``table`` the way ``_rewrite`` replaces it:
        stage, snapshot, then move every staged file to the same relative
        path in the table, so a partitioned table's rows land in their
        ``col=value`` directories.  The existing files are never touched,
        and a failed write leaves no trace."""
        staging = self._stage(df, table)
        self._snapshot(table, op)
        _place_tree(staging, self._path(table), move=True)
        shutil.rmtree(staging)
        # files of another schema (nullability aside, which a scan drops)
        # drop the record: inference picks one file's footer, as it always did
        rec = self._schemas.get(table)
        same = rec is not None and rec.simpleString() == df.schema.simpleString()
        self._refresh(table, rec if same else None)

    # -- Time travel (versioned snapshots over the same rewrite plan) -------
    # The copy-on-write note above says production layers a versioned table
    # format on the identical rewrite; this IS that layer, minus nothing
    # essential: every mutating statement first hardlinks the current file
    # set into .versions/<table>/v<N> (O(files) metadata ops, zero data
    # copy — parquet files are immutable, so a link is a snapshot) and
    # appends a log entry.  Delta/Iceberg keep the same information as
    # manifests over a shared file pool; hardlinks express it directly in
    # the filesystem.  At 100 TB on an object store the mechanism swaps to
    # manifest files (no links on S3), plan unchanged.

    def _versions_dir(self, table: str) -> str:
        return f"{self.warehouse}/.versions/{table}"

    def _snapshot(self, table: str, op: str) -> int:
        """Archive the table's CURRENT state as the next version; return its
        version number.  Called before every mutation (and by snapshot())."""
        vroot = self._versions_dir(table)
        os.makedirs(vroot, exist_ok=True)
        log = self._version_log(table)
        v = len(log)
        n_files = _place_tree(self._path(table), f"{vroot}/v{v}")
        log.append(
            {
                "version": v,
                "op": op,
                "ts": time.time(),
                "n_files": n_files,
                # schema-evolution overlay active when this version was
                # archived — read_version/restore_version reinstate it so
                # an ALTER-added column never silently disappears from a
                # snapshot that included it
                "added_cols": {
                    c: list(td) for c, td in self._added_cols.get(table, {}).items()
                }
                or None,
            }
        )
        with open(f"{vroot}/log.json", "w") as fh:
            json.dump(log, fh)
        return v

    def _version_log(self, table: str) -> list[dict]:
        """The table's version log, oldest first; [] before its first
        snapshot.  The only reader of ``log.json``."""
        log_path = f"{self._versions_dir(table)}/log.json"
        if not os.path.exists(log_path):
            return []
        with open(log_path) as fh:
            return json.load(fh)

    def snapshot(self, table: str, note: str = "manual") -> int:
        """Explicit named snapshot of the current state (no mutation)."""
        return self._snapshot(table, f"snapshot:{note}")

    def history(self, table: str) -> DataFrame:
        """Version log (≙ Delta DESCRIBE HISTORY): one row per archived
        version; version N is the state BEFORE the N-th logged operation."""
        log = self._version_log(table)
        return self.spark.createDataFrame(
            [(e["version"], e["op"], float(e["ts"]), e["n_files"]) for e in log],
            "version int, op string, ts double, n_files int",
        )

    def read_version(self, table: str, version: int) -> DataFrame:
        """Time-travel read: the table as of archived ``version``, including
        the ADD COLUMN overlay that was active at archive time."""
        vdir = f"{self._versions_dir(table)}/v{version}"
        if not os.path.isdir(vdir):
            raise ValueError(f"no snapshot v{version} for table '{table}'")
        extras = self._version_overlay(table, version)
        if extras:
            return self._read_with_overlay(vdir, extras)
        return self.spark.read.parquet(vdir)

    def _version_overlay(
        self, table: str, version: int
    ) -> dict[str, tuple[str, str]] | None:
        log = self._version_log(table)
        if version >= len(log):
            return None
        raw = log[version].get("added_cols")
        return {c: tuple(td) for c, td in raw.items()} if raw else None

    def restore_version(self, table: str, version: int) -> None:
        """Roll the live table back to ``version`` (itself logged, so a
        restore is undoable — Delta RESTORE semantics)."""
        vdir = f"{self._versions_dir(table)}/v{version}"
        if not os.path.isdir(vdir):
            raise ValueError(f"no snapshot v{version} for table '{table}'")
        self._snapshot(table, f"restore:v{version}")
        shutil.rmtree(self._path(table))
        _place_tree(vdir, self._path(table))
        # reinstate the ADD COLUMN overlay as of that version, so a column
        # added before the snapshot survives the rollback
        extras = self._version_overlay(table, version)
        if extras:
            self._added_cols[table] = extras
        else:
            self._added_cols.pop(table, None)
        self._refresh(table)

    def vacuum(self, table: str, keep_last: int = 1) -> int:
        """Drop all but the last ``keep_last`` snapshots; returns how many
        were removed.  Bounds snapshot storage (hardlinked files free their
        space once the last referencing version is vacuumed)."""
        vroot = self._versions_dir(table)
        log = self._version_log(table)
        if not log:
            return 0
        cut = [e for e in log if e["version"] < len(log) - keep_last]
        for e in cut:
            shutil.rmtree(f"{vroot}/v{e['version']}", ignore_errors=True)
            e["vacuumed"] = True
        with open(f"{vroot}/log.json", "w") as fh:
            json.dump(log, fh)
        return len(cut)

    def delete_where(self, table: str, cond: str) -> None:
        """DELETE FROM table WHERE cond.

        SQL semantics: rows where ``cond`` is NULL are retained (only
        definite matches delete), hence the explicit coalesce.
        """
        self._rewrite(
            table,
            lambda df: df.where(~F.coalesce(F.expr(cond), F.lit(False))),
            op=f"delete:{cond}",
        )

    def update_set(self, table: str, assignments: dict[str, str], cond: str) -> None:
        """UPDATE table SET col = expr, ... WHERE cond.

        Assignment expressions see the PRE-update row (standard SQL: all
        assignments evaluate against the old values simultaneously), so the
        new columns are built before any replacement.
        """
        hit = F.coalesce(F.expr(cond), F.lit(False))

        def transform(df: DataFrame) -> DataFrame:
            tmp = df
            for col, expr in assignments.items():
                tmp = tmp.withColumn(
                    f"__new_{col}", F.when(hit, F.expr(expr)).otherwise(F.col(col))
                )
            for col in assignments:
                tmp = tmp.drop(col).withColumnRenamed(f"__new_{col}", col)
            return tmp.select(*df.columns)

        self._rewrite(table, transform, op="update")

    def compact(self, table: str, target_files: int = 1) -> tuple[int, int]:
        """Rewrite a table into ``target_files`` parquet files (per
        partition directory, for a partitioned table).

        The small-files problem is the dominant failure mode of streaming
        sinks and fine-grained inserts at scale (every file is a task +
        a footer read + a namenode entry).  Returns (files_before,
        files_after), both counted by :func:`catalog.data_files`.
        coalesce (not repartition) — no shuffle, just fewer write tasks.
        """
        before = len(data_files(self._path(table)))
        self._rewrite(table, lambda df: df.coalesce(target_files), op="compact")
        return before, len(data_files(self._path(table)))

    def merge_into(
        self,
        table: str,
        source: DataFrame,
        on: str,
        when_matched_update: dict[str, str] | None = None,
        when_matched_delete: str | None = None,
        when_not_matched_insert: bool = True,
    ) -> None:
        """MERGE INTO (upsert) — ANSI semantics, one Spark action.

        ``on`` is the join key column name; ``when_matched_update`` maps
        target columns to expressions over the matched pair (source columns
        visible as ``src.<col>``); ``when_matched_delete`` is a condition
        (over the pair) that removes matched rows; unmatched source rows
        insert when ``when_not_matched_insert``.  Matched rows hit DELETE
        first, then UPDATE (ANSI WHEN-clause order as written here),
        else carry through unchanged.

        Duplicate source keys are rejected on every arm (ANSI: a target row
        matched by >1 source row is an error).  The source carries
        ``count(1) OVER (PARTITION BY on)`` and a filter that raises when
        the count exceeds 1, so the check runs inside the MERGE's own write
        and is not an action of its own.  It surfaces as ``ValueError``,
        and the table, its files and its history stay as they were: every
        arm stages its write before it snapshots and publishes.

        Three arms read the same checked source; each logs its version
        snapshot as op "merge" (so MV refresh stays conservative) and
        routes its write by the table's distribution:

        * EMPTY target — no source row can match, the matched arms are
          vacuous, and the source rows are appended.  Emptiness is a
          parquet-footer metadata check (O(files), no job).
        * INSERT-ONLY merge (no matched-update / matched-delete) — matched
          target rows carry through unchanged by definition; the delta is
          ``source ANTI JOIN target`` on the key, appended.  The table's
          existing files are never read beyond the key column, nor
          rewritten.
        * otherwise — one full-outer join target⋈source on the key +
          conditional projection, written as a copy-on-write rewrite (the
          plan Delta's MERGE executes below its log).  The check's window
          and the join need the same hash partitioning on the key, so they
          share one exchange.

        The append arms need the source to carry every target column at
        the identical type (the full-outer arm's when/otherwise coercion
        could otherwise widen the table's column type) and are skipped
        when a schema-evolution overlay is active (the full rewrite is
        what materializes overlay columns into files).
        """
        from pyspark.errors import SparkRuntimeException
        from pyspark.sql import Window

        tgt = self._read_files(table)  # ADD COLUMN overlay included
        cols = tgt.columns
        tgt_types = {f.name: f.dataType for f in tgt.schema.fields}
        src_types = {f.name: f.dataType for f in source.schema.fields}
        append_safe = (
            when_not_matched_insert
            and table not in self._added_cols
            and all(src_types.get(c) == tgt_types[c] for c in cols)
        )
        dup_msg = f"MERGE source has duplicate keys on '{on}'"
        source = (
            source.withColumn("__dup_n", F.count(F.lit(1)).over(Window.partitionBy(on)))
            .where(F.assert_true(F.col("__dup_n") <= 1, dup_msg).isNull())
            .drop("__dup_n")
        )
        src = source.select([F.col(c).alias(f"__src_{c}") for c in source.columns])

        def transform(df: DataFrame) -> DataFrame:
            j = df.join(
                src, df[on] == src[f"__src_{on}"], "full_outer"
            )
            matched = df[on].isNotNull() & src[f"__src_{on}"].isNotNull()
            src_only = df[on].isNull()
            # expression context: target cols by name, source as src.<col>
            def rewrite_expr(e: str):
                return F.expr(re.sub(r"\bsrc\.(\w+)", r"__src_\1", e))

            # NULL delete-condition = not satisfied = keep (SQL semantics)
            keep = ~(
                matched
                & F.coalesce(rewrite_expr(when_matched_delete or "false"), F.lit(False))
            )
            out_cols = []
            for c in cols:
                val = F.col(c)
                if when_matched_update and c in when_matched_update:
                    val = F.when(
                        matched, rewrite_expr(when_matched_update[c])
                    ).otherwise(val)
                if when_not_matched_insert:
                    val = F.when(src_only, F.col(f"__src_{c}")).otherwise(val)
                out_cols.append(val.alias(c))
            j = j.where(keep | src_only) if when_matched_delete else j
            if not when_not_matched_insert:
                j = j.where(~src_only)
            return j.select(*out_cols)

        try:
            if append_safe and self._is_empty(table):
                self._append_staged(source.select(*cols), table, "merge")
            elif append_safe and not when_matched_update and not when_matched_delete:
                new_rows = source.join(tgt.select(on), on, "left_anti")
                self._append_staged(new_rows.select(*cols), table, "merge")
            else:
                self._rewrite(table, transform, op="merge")
        except SparkRuntimeException as err:
            if dup_msg in str(err):
                raise ValueError(dup_msg) from err
            raise

    # -- INSERT / COPY ------------------------------------------------------
    def insert_values(self, table: str, rows: list[tuple]) -> None:
        from pyspark.sql import types as T

        # nullable copy of the schema: INSERT accepts NULL in any column
        # (no NOT NULL constraints here, and a literal-defaulted ADD COLUMN
        # overlay would otherwise infer non-nullable and reject NULLs)
        schema = T.StructType(
            [
                T.StructField(f.name, f.dataType, True)
                for f in self.spark.table(table).schema.fields
            ]
        )
        new_rows = self.spark.createDataFrame(rows, schema)
        self._append_staged(new_rows, table, "insert_values")

    def insert_select(self, table: str, df: DataFrame) -> None:
        self._append_staged(df, table, "insert_select")

    def copy_from_csv(self, table: str, path: str, where: str | None = None) -> None:
        """COPY t FROM 'file.csv' [WHERE cond] — reference stmtDML.cs:245-285
        ('' parsed as NULL, like the reference's per-column parser)."""
        schema = self.spark.table(table).schema
        df = self.spark.read.csv(path, schema=schema, nullValue="")
        if where:
            df = df.where(F.expr(where))
        self._append_staged(df, table, f"copy_from:{path}")

    # -- Partitioned tables (partition pruning) ------------------------------
    def create_partitioned(self, table: str, df: DataFrame, part_col: str) -> None:
        """Persist a table hive-partitioned by ``part_col``.

        The primary 100 TB layout lever: a filter on the partition column
        prunes whole directories before any IO (PartitionFilters in the
        scan), which is how date-ranged queries over years of data read
        only the days they touch.  ≙ the reference's Distribution concept
        applied to storage (Catalog.cs:61-67) plus its index-seek intent.
        """
        df.write.mode("overwrite").partitionBy(part_col).parquet(self._path(table))
        self.distribution[table] = f"partitioned:{part_col}"
        self._refresh(table)  # partition column types come from the paths

    def insert_overwrite_partitions(self, table: str, df: DataFrame) -> None:
        """INSERT OVERWRITE ... PARTITION (dynamic): replace ONLY the
        partitions present in ``df``; all other partitions are untouched.

        The idempotent daily-load primitive at 100 TB: re-running a day's
        load rewrites that day's directory and nothing else — no
        full-table rewrite, no read-modify-write, safe to retry.  Uses
        Spark's dynamic partitionOverwriteMode (conf pinned per-write, not
        session-wide, so concurrent static-overwrite writes are
        unaffected).
        """
        dist = self.distribution.get(table, "")
        if not dist.startswith("partitioned:"):
            raise ValueError(f"table '{table}' is not partitioned")
        part_col = dist.split(":", 1)[1]
        # every mutation archives the prior state first (time-travel
        # invariant), so overwritten partitions stay in the history
        self._snapshot(table, "insert_overwrite")
        (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(part_col)
            .parquet(self._path(table))
        )
        self._refresh(table)

    # -- Bucketed tables (shuffle-free co-located joins) ---------------------
    def create_bucketed(self, table: str, df: DataFrame, key: str, n_buckets: int = 8) -> None:
        """Persist a table bucketed by ``key`` — joins/aggs on the key are
        then shuffle-free (both sides read pre-partitioned).

        ≙ the reference's `DISTRIBUTED BY` persisted layout
        (Catalog.cs:104-121), realized as Spark bucketing: at 100 TB this
        removes the dominant fact⋈fact shuffle (e.g. lineitem⋈orders on
        orderkey) from every downstream query.
        """
        (
            df.write.mode("overwrite")
            .bucketBy(n_buckets, key)
            .sortBy(key)
            .option("path", self._path(table))
            .saveAsTable(table)
        )
        self.distribution[table] = f"bucketed:{key}:{n_buckets}"
        self._schemas.pop(table, None)  # no _refresh: a catalog table now

    # -- CREATE INDEX (zone-map layout) --------------------------------------
    def create_index(self, table: str, col: str, n_ranges: int = 8) -> None:
        """CREATE INDEX ≙ sort-clustered storage layout.

        The reference builds an in-memory B-tree (MemoryIndex,
        Index.cs:106-243) and seeks it (PhysicIndexSeek).  The columnar
        equivalent is layout, not a structure: range-partition + sort the
        table by the key so every parquet file/row-group covers a narrow
        key range, and scans with a key predicate skip whole files via
        parquet min/max statistics (plus partition pruning).  This is the
        100 TB analog of an index seek — O(matching ranges) IO instead of
        a full scan — and it is what ZORDER/liquid clustering generalize.
        """
        df = self._scan(table)
        clustered = df.repartitionByRange(n_ranges, F.col(col)).sortWithinPartitions(col)
        tmp = self._path(f"__reindex_{table}")
        clustered.write.mode("overwrite").parquet(tmp)
        shutil.rmtree(self._path(table))
        shutil.move(tmp, self._path(table))
        self._refresh(table)

    # -- Z-ORDER clustering (multi-column data skipping) ---------------------
    def create_zordered(
        self, table: str, df: DataFrame, cols: tuple[str, str],
        n_ranges: int = 16, bits: int = 8,
    ) -> None:
        """Z-order clustered layout: data skipping on EITHER of two columns.

        Generalizes :meth:`create_index` (1-D sort → narrow per-file ranges
        on one key) the way Delta's OPTIMIZE ZORDER / Morton curves do: each
        column is scaled to a ``bits``-bit bucket, the bucket bits are
        interleaved into one z-value, and the table is range-partitioned +
        sorted by it.  Locality on the space-filling curve means every file
        covers a small tile of the (c1, c2) plane — with n files, per-file
        span on EACH dimension is ~1/sqrt(n) of its range (vs 1/n on the
        sort key and the FULL range on the other column for a plain sort).
        A predicate on either column alone then skips most files via
        parquet min/max stats, which no single-column sort can provide.

        Scale path: one distributed min/max pass (broadcast back as a
        scalar cross join — no collect of data rows), one range exchange on
        the z-value; same cost class as create_index.  Linear bucketing is
        skew-sensitive; for skewed keys compose with the salting/AQE story
        in skew.py or bucket by rank quantiles fed from ANALYZE stats.
        """
        c1, c2 = cols
        mm = df.agg(
            F.min(c1).alias("mn1"), F.max(c1).alias("mx1"),
            F.min(c2).alias("mn2"), F.max(c2).alias("mx2"),
        )
        top = (1 << bits) - 1

        def bucket(col: str, mn: str, mx: str) -> Column:
            span = F.col(mx) - F.col(mn)
            frac = F.when(span > 0, (F.col(col) - F.col(mn)) / span).otherwise(F.lit(0.0))
            return F.least(F.floor(frac * (top + 1)).cast("bigint"), F.lit(top))

        def interleave(b1: Column, b2: Column) -> Column:
            z = F.lit(0).cast("bigint")
            for i in range(bits):
                z = (
                    z
                    + F.shiftleft(F.shiftright(b1, i).bitwiseAND(1), 2 * i + 1)
                    + F.shiftleft(F.shiftright(b2, i).bitwiseAND(1), 2 * i)
                )
            return z

        zdf = (
            df.crossJoin(F.broadcast(mm))
            .withColumn("__z", interleave(bucket(c1, "mn1", "mx1"), bucket(c2, "mn2", "mx2")))
            .repartitionByRange(n_ranges, F.col("__z"))
            .sortWithinPartitions("__z")
            .drop("__z", "mn1", "mx1", "mn2", "mx2")
        )
        zdf.write.mode("overwrite").parquet(self._path(table))
        self.distribution[table] = f"zordered:{c1},{c2}:{n_ranges}"
        self._refresh(table)

    # -- ANALYZE / EXPLAIN ---------------------------------------------------
    def analyze(self, table: str) -> None:
        """ANALYZE → column-level stats for CBO (reference: Statis.cs).

        Promotes the table from a temp view to a catalog table (stats live
        in the catalog, temp views can't carry them), drops the shadowing
        view so subsequent ``table()``/``sql()`` reads resolve the catalog
        entry — and therefore actually see the NDV/histogram stats.
        """
        # CBO must be on for the stats to flow into plans — set at runtime
        # (the caller's session may not come from session.get_spark).
        self.spark.conf.set("spark.sql.cbo.enabled", "true")
        self.spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
        self.spark.sql(
            f"CREATE TABLE IF NOT EXISTS {table} USING parquet LOCATION '{self._path(table)}'"
        )
        self.spark.catalog.dropTempView(table)  # unshadow the catalog table
        self.spark.sql(f"ANALYZE TABLE {table} COMPUTE STATISTICS FOR ALL COLUMNS")
        self.analyzed.add(table)

    def table(self, table: str) -> DataFrame:
        return self.spark.table(table)

    def sql(self, text: str) -> DataFrame:
        return self.spark.sql(text)

    def sql_script(self, script: str) -> list[DataFrame]:
        """Statement batch — ≙ SQLStatement.ExecSQLList (stmt.cs:228-270).

        Splits on ';' (no quoted-semicolon handling — test/catalog scripts
        only, like the reference's usage) and executes sequentially.
        """
        return [
            self.spark.sql(stmt)
            for stmt in (s.strip() for s in script.split(";"))
            if stmt
        ]

    # -- Materialized views (incremental aggregate maintenance) --------------
    # Beyond the reference (which has no MV surface): an aggregate MV over a
    # base table, refreshed INCREMENTALLY from the rows added since the last
    # refresh.  The delta comes from the time-travel layer: each (re)build
    # snapshots the base, and the next refresh computes
    # ``current EXCEPT ALL snapshot`` — append-only deltas exactly.  At
    # 100 TB the same delta is the file list added since the snapshot
    # (metadata-priced, no EXCEPT scan); the merge plan is identical.
    # Algebraic aggregates only (sum/count/min/max — mergeable partials);
    # avg derives as sum/count at read time.  If rows were DELETED since
    # the snapshot (shrinking base), incremental maintenance is unsound for
    # min/max and the refresh transparently falls back to a full recompute.

    def create_agg_mv(
        self,
        mv: str,
        base: str,
        group_cols: list[str],
        measures: dict[str, tuple[str, str]],
    ) -> None:
        """CREATE MATERIALIZED VIEW mv AS SELECT group_cols, aggs FROM base.

        ``measures``: {out_col: (fn, expr)} with fn ∈ sum|count|min|max.
        """
        for name, (fn, _e) in measures.items():
            if fn not in ("sum", "count", "min", "max"):
                raise ValueError(f"non-algebraic aggregate for MV: {fn}({name})")
        if not hasattr(self, "_mv_meta"):
            self._mv_meta: dict[str, dict] = {}
        df = self._mv_aggregate(self.spark.table(base), group_cols, measures)
        self._write(df, mv)
        self._mv_meta[mv] = {
            "base": base,
            "group_cols": list(group_cols),
            "measures": dict(measures),
            "base_version": self._snapshot(base, f"mv:{mv}"),
            "base_rows": self.spark.table(base).count(),
        }

    def _mv_aggregate(self, df, group_cols, measures):
        aggs = [
            getattr(F, fn)(F.expr(expr)).alias(name)
            for name, (fn, expr) in measures.items()
        ]
        return df.groupBy(*group_cols).agg(*aggs)

    # mutations that can change/remove existing rows: appends after these
    # are NOT the whole delta, so incremental merge (which only adds) would
    # silently keep stale contributions.  Detected via the version log — a
    # row count is blind to update_set (count unchanged) and to a
    # delete+larger-insert (count grew) [r3 advice].
    _MV_DESTRUCTIVE_OPS = (
        "delete",
        "update",
        "merge",
        "restore",
        "insert_overwrite",
    )

    def refresh_mv(self, mv: str) -> str:
        """Refresh; returns 'noop' | 'incremental' | 'full' (the path taken)."""
        meta = self._mv_meta[mv]
        base, gcols, measures = meta["base"], meta["group_cols"], meta["measures"]
        cur = self.spark.table(base)
        n_cur = cur.count()
        destructive = any(
            e["version"] > meta["base_version"]
            and e["op"].startswith(self._MV_DESTRUCTIVE_OPS)
            for e in self._version_log(base)
        )
        if not destructive and n_cur == meta["base_rows"]:
            return "noop"
        if destructive or n_cur < meta["base_rows"]:
            # rows were changed/removed (or the count shrank): deltas are
            # not purely additive and min/max partials are not
            # subtractable — recompute
            df = self._mv_aggregate(cur, gcols, measures)
            self._write(df, mv)
            meta["base_version"] = self._snapshot(base, f"mv:{mv}:full")
            meta["base_rows"] = n_cur
            return "full"
        delta = cur.exceptAll(self.read_version(base, meta["base_version"]))
        d = self._mv_aggregate(delta, gcols, measures).select(
            *[F.col(c).alias(f"__d_{c}") for c in gcols],
            *[F.col(n).alias(f"__d_{n}") for n in measures],
        )
        old = self.spark.table(mv)
        cond = None
        for c in gcols:
            eq = old[c].eqNullSafe(d[f"__d_{c}"])
            cond = eq if cond is None else (cond & eq)
        j = old.join(d, cond, "full_outer")
        merged_cols = [
            F.coalesce(old[c], d[f"__d_{c}"]).alias(c) for c in gcols
        ]
        combine = {
            "sum": lambda o, n: F.coalesce(o, F.lit(0)) + F.coalesce(n, F.lit(0)),
            "count": lambda o, n: F.coalesce(o, F.lit(0)) + F.coalesce(n, F.lit(0)),
            "min": lambda o, n: F.least(o, n),   # least/greatest skip NULLs
            "max": lambda o, n: F.greatest(o, n),
        }
        for name, (fn, _e) in measures.items():
            merged_cols.append(combine[fn](old[name], d[f"__d_{name}"]).alias(name))
        self._overwrite_staged(j.select(*merged_cols), mv)
        meta["base_version"] = self._snapshot(base, f"mv:{mv}:incr")
        meta["base_rows"] = n_cur
        return "incremental"

    def _overwrite_staged(self, df: DataFrame, table: str) -> None:
        """Overwrite ``table`` with a plan that READS from it: stage the
        result first (Spark cannot overwrite a path it is scanning), then
        swap — the _rewrite discipline without the snapshot."""
        staging = self._stage(df, table)
        shutil.rmtree(self._path(table))
        os.rename(staging, self._path(table))
        self._refresh(table, df.schema)

    # -- Zero-copy clone (Delta SHALLOW CLONE semantics) ---------------------
    def clone_table(self, src: str, dst: str) -> None:
        """Create ``dst`` as a zero-copy clone of ``src``: every parquet
        file hardlinks into the new table dir (metadata-priced, no data
        movement — parquet immutability makes links safe).  The clones
        diverge on first write to either side, because every mutation path
        is copy-on-write (staged rewrite or new appended files) — existing
        linked files are never modified in place.  The dev/test-sandbox
        primitive over a petabyte table."""
        if os.path.exists(self._path(dst)):
            raise ValueError(f"table '{dst}' already exists")
        _place_tree(self._path(src), self._path(dst))
        self.distribution[dst] = self.distribution.get(src, "none")
        if src in self._added_cols:
            self._added_cols[dst] = dict(self._added_cols[src])
        self._refresh(dst)
