"""Incremental MERGE materialization over parquet table directories.

Replaces the reference's dbt-trino incremental materializations (SURVEY §2.1
S6-S10; reference config blocks e.g.
``models/deepbook_margin/daily/fct_deepbook_margin_pool_daily.sql:1-8``
``materialized='incremental', unique_key=[...], incremental_strategy='merge'``).

Design for scale
----------------
The MERGE here is an **upsert on a composite natural key**. Without Delta Lake
in the environment, a table is a parquet directory and MERGE is expressed as::

    kept = old.join(new, on=unique_key, how="left_anti")   # rows not replaced
    result = kept.unionByName(new)

Only the files that hold a replaced row are rewritten:

1. **Find the touched files.** A target file is touched when it holds an
   in-scope row whose key matches an update: one semi-join of the
   target's key columns (plus ``_metadata.file_path``) against the
   update keys. On a partitioned table the scan is first pruned to the
   partitions the updates land in, so the search reads only those.
2. **Stage once.** The touched files' surviving rows plus the updates are
   written to a staging directory (``partitionBy`` when partitioned) —
   the write is the size of the slice and the touched files, not the
   table. Untouched files are never read by the write.
3. **Publish.** The plain :class:`TableStore` moves the staged files into
   the table directory, then deletes the touched files. This runs only
   after the staged write completed, but it is not atomic: between the
   first move and the last delete a reader can see both the old and the
   new version of a replaced row, and a crash inside that window leaves
   both behind. :class:`~.versioned.VersionedTableStore` publishes the same
   staged files by hard-linking the untouched files into a new snapshot
   and committing a manifest, which is atomic.

A full rewrite (stage the whole merged table, swap directories) remains
only where a slice cannot express the change: schema-altering merges and
a change of on-disk layout, e.g. the upgrade of a table created empty to
its declared partitioned layout.

Incremental probes (``ModelContext.watermark_ms``/``lookback_floor_date``)
and source pruning (``ModelContext.source(..., since_ms=...)``) read the
parquet footers' min/max statistics through :func:`footer_bounds`, so
their cost is O(files), not O(rows).

On a cluster with Delta/Iceberg available, ``TableStore`` is the single seam
to swap: ``merge`` becomes ``MERGE INTO target USING updates ON <keys> WHEN
MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *`` and
``optimize``/``vacuum`` become the native table operations (reference
post-hooks ``macros/dune_dbt_overrides/optimize_table.sql:3``,
``vacuum_table.sql:3``).
"""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import os
import re
import shutil
import time
import uuid
from urllib.parse import unquote, urlparse

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


def _visible(entry: str) -> bool:
    """Spark's rule for the directory entries a table read sees: hidden
    (``.``) and ``_``-prefixed names are skipped, except ``_``-prefixed
    partition directories (``_c=v``)."""
    return not (
        entry.startswith(".")
        or (entry.startswith("_") and "=" not in entry)
        or entry.endswith("._COPYING_")
    )


def data_files(root: str | None) -> list[str]:
    """Absolute paths of the files a Spark read of ``root`` would scan."""
    if root is None or not os.path.exists(root):
        return []
    root = os.path.abspath(root)
    if os.path.isfile(root):
        return [root]
    out = []
    for dirpath, dirs, files in os.walk(root):
        dirs[:] = [d for d in dirs if _visible(d)]
        out.extend(os.path.join(dirpath, f) for f in files if _visible(f))
    return sorted(out)


def _typed_partition_values(raw: list[str | None]) -> list | None:
    """Type Hive ``col=value`` strings the way Spark's partition inference
    does for the two types trusted here (integers, ISO dates); None when
    the values are neither."""
    vals = [v for v in raw if v is not None]
    if all(re.fullmatch(r"-?\d+", v) for v in vals):
        return [None if v is None else int(v) for v in raw]
    if all(re.fullmatch(r"\d{4}-\d{2}-\d{2}", v) for v in vals):
        return [None if v is None else dt.date.fromisoformat(v) for v in raw]
    return None


def _footer_column_bounds(path: str, column: str) -> tuple | None:
    """(min, max) of one data column of one parquet file from its footer
    statistics, (None, None) when every value is NULL, None when the
    footer cannot answer (no statistics, or a type other than a signed
    integer or a date)."""
    md = pq.read_metadata(path)
    idx = [md.schema.column(i).path for i in range(md.num_columns)]
    if column not in idx:
        return None
    i = idx.index(column)
    col = md.schema.column(i)
    logical = json.loads(col.logical_type.to_json())
    if col.physical_type not in ("INT32", "INT64") or logical["Type"] not in (
        "None", "Int", "Date"
    ) or not logical.get("isSigned", True):
        return None
    lo = hi = None
    for g in range(md.num_row_groups):
        rg = md.row_group(g)
        if rg.num_rows == 0:
            continue
        st = rg.column(i).statistics
        if st is None:
            return None
        if st.has_min_max:
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
        elif not (st.has_null_count and st.null_count == rg.num_rows):
            return None
    return lo, hi


def footer_bounds(files: list[str], column: str, root: str) -> tuple | None:
    """``(min, max)`` of ``column`` over ``files`` (absolute paths under
    the table or source directory ``root``) from file metadata alone:
    Hive ``column=value`` directory names when ``column`` is a partition
    column, the parquet footers' min/max statistics otherwise. Reads
    O(files) footers and no rows.

    Returns ``(None, None)`` when no file holds a non-NULL value (an empty
    table, an all-NULL column), and None when the metadata cannot answer
    — a file without statistics, a column type other than a signed
    integer or a date, partition values that are neither — so the caller
    falls back to a Spark aggregate.
    """
    seg = re.compile(rf"(?:^|{re.escape(os.sep)}){re.escape(column)}=([^{re.escape(os.sep)}]*)")
    raw = []
    lo = hi = None
    for f in files:
        m = seg.search(os.path.relpath(os.path.dirname(f), root))
        if m is None:
            b = _footer_column_bounds(f, column)
            if b is None:
                return None
            if b[1] is not None:
                lo = b[0] if lo is None else min(lo, b[0])
                hi = b[1] if hi is None else max(hi, b[1])
        elif pq.read_metadata(f).num_rows:
            v = unquote(m.group(1))
            raw.append(None if v == _HIVE_NULL else v)
    if raw:
        if lo is not None:  # a column both in paths and in files: not a layout Spark writes
            return None
        typed = _typed_partition_values(raw)
        if typed is None:
            return None
        vals = [v for v in typed if v is not None]
        return (min(vals), max(vals)) if vals else (None, None)
    return lo, hi


def _local_path(uri: str) -> str:
    """A ``_metadata.file_path`` URI as an absolute local path."""
    u = urlparse(uri)
    return os.path.abspath(unquote(u.path)) if u.scheme in ("", "file") else uri


def _remove_file(path: str) -> None:
    """Delete a data file and the Hadoop checksum Spark wrote beside it."""
    os.remove(path)
    with contextlib.suppress(FileNotFoundError):
        os.remove(os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.crc"))


def _sink_stats(files_rewritten: int, added: list[str]) -> dict:
    """What a sink wrote, from the new files' footers."""
    return {
        "files_rewritten": files_rewritten,
        "files_added": len(added),
        "rows_written": sum(pq.read_metadata(f).num_rows for f in added),
    }


def _write_table(df: DataFrame, path: str, partition_by: list[str] | None) -> None:
    """Write ``df`` as a complete table directory. A partitioned write of
    zero rows produces no data file (no partition dir, no schema); only
    then one empty, schema-bearing unpartitioned file is written instead,
    so the table stays readable. ``merge`` upgrades it to the partitioned
    layout on its first non-empty write."""
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
    if partition_by and not data_files(path):
        spark = df.sparkSession
        spark.createDataFrame([], df.schema).write.mode("overwrite").parquet(path)


def _split_merge_scope(
    old: DataFrame, incremental_predicates: list[str] | None
) -> tuple[DataFrame, DataFrame | None]:
    """Split target rows into (in-scope, out-of-scope) under dbt-style
    ``incremental_predicates``. Out-of-scope rows (predicate false OR
    NULL, per SQL MERGE match semantics) bypass the key anti-join
    entirely — that bypass IS the scan-bounding the config exists for.
    Returns ``(old, None)`` when no predicates are configured.
    """
    if not incremental_predicates:
        return old, None
    scope = None
    for p in incremental_predicates:
        cond = F.expr(p)
        scope = cond if scope is None else (scope & cond)
    in_scope = F.coalesce(scope, F.lit(False))
    return old.filter(in_scope), old.filter(~in_scope)


def _touched_partition_predicate(touched_rows, partition_by: list[str]) -> F.Column:
    """OR-of-ANDs predicate selecting exactly the touched partitions.

    Uses NULL-SAFE equality (``<=>``): a NULL partition value lands in
    Hive's ``__HIVE_DEFAULT_PARTITION__`` directory and must select that
    partition's existing rows into the touched-file search — plain ``=``
    never matches NULL, so a replaced row there would never be found and
    its old version would survive beside the update (ADVICE r10).
    Catalyst prunes partitions on ``EqualNullSafe`` the same as on
    ``EqualTo``, so the predicate still reaches the scan as partition
    pruning.
    """
    pred = None
    for row in touched_rows:
        clause = None
        for c in partition_by:
            cond = F.col(c).eqNullSafe(F.lit(row[c]))
            clause = cond if clause is None else (clause & cond)
        pred = clause if pred is None else (pred | clause)
    return pred


class TableStore:
    """A named-table store rooted at a directory; tables are parquet dirs.

    The store plays the role of the warehouse the reference writes into
    (Dune's ``delta_prod`` Delta Lake; SURVEY §2.1 S4/S11). ``schema_suffix``
    reproduces the reference's dev/prod/PR schema isolation
    (``macros/dune_dbt_overrides/get_custom_schema.sql:9-24``).
    """

    def __init__(self, spark: SparkSession, root: str, schema_suffix: str = ""):
        self.spark = spark
        self.root = root
        self.schema_suffix = schema_suffix
        os.makedirs(self._base(), exist_ok=True)

    def _base(self) -> str:
        return os.path.join(self.root, self.schema_suffix) if self.schema_suffix else self.root

    def path(self, name: str) -> str:
        return os.path.join(self._base(), name)

    def exists(self, name: str) -> bool:
        p = self.path(name)
        if not os.path.isdir(p):
            return False
        # a dir containing only _SUCCESS/_temporary is not a table yet
        return any(
            f.endswith(".parquet") or ("=" in f and os.path.isdir(os.path.join(p, f)))
            for f in os.listdir(p)
        )

    def read(self, name: str) -> DataFrame:
        return self.spark.read.parquet(self.path(name))

    def _data_dir(self, name: str) -> str | None:
        """The directory holding the table's current files."""
        return self.path(name)

    def data_files(self, name: str) -> list[str]:
        """Absolute paths of the table's current data files."""
        return data_files(self._data_dir(name))

    def column_bounds(self, name: str, column: str) -> tuple | None:
        """``(min, max)`` of ``column`` from the table's file metadata, or
        None when it cannot answer (see :func:`footer_bounds`)."""
        return footer_bounds(self.data_files(name), column, self._data_dir(name))

    # ------------------------------------------------------------------ sinks

    def write_full(
        self,
        df: DataFrame,
        name: str,
        partition_by: list[str] | None = None,
        op: str = "overwrite",
    ) -> dict:
        """CREATE TABLE AS (first run / full refresh; SURVEY §2.1 S7, C8).

        Writes the whole table to a staging dir, then replaces the table
        directory with it; a failed write job leaves the old table in
        place. The replace (remove the old directory, rename the staged
        one) is not atomic: a crash between the two leaves no table.

        ``op`` labels what the full rewrite IS semantically ("merge",
        "replace_scope", "optimize", …); the plain store ignores it, the
        versioned store records it in the commit manifest so the history
        can distinguish a MERGE that took the full-rewrite path from a
        user full refresh (ADVICE r10).

        Empty input: see :func:`_write_table`. Returns the sink counters
        (``files_rewritten``, ``files_added``, ``rows_written``).
        """
        staging = self.path(f".staging-{name}-{uuid.uuid4().hex[:8]}")
        _write_table(df, staging, partition_by)
        stats = _sink_stats(len(self.data_files(name)), data_files(staging))
        final = self.path(name)
        if os.path.isdir(final):
            shutil.rmtree(final)
        os.replace(staging, final)
        return stats

    def append(self, df: DataFrame, name: str, partition_by: list[str] | None = None) -> None:
        """Pure insert-append incremental (SURVEY §2.1 S8)."""
        writer = df.write.mode("append")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(self.path(name))

    def merge(
        self,
        updates: DataFrame,
        name: str,
        unique_key: list[str],
        partition_by: list[str] | None = None,
        on_schema_change: str = "ignore",
        incremental_predicates: list[str] | None = None,
    ) -> dict:
        """Upsert ``updates`` into table ``name`` on ``unique_key`` (S6).

        ``incremental_predicates`` (dbt's config of the same name) bound
        the TARGET side of the match: only target rows satisfying every
        predicate enter the key anti-join; the rest are carried through
        untouched without being compared. On a lake engine this is the
        knob that stops a MERGE from scanning years of target history
        (the predicates ride into the target scan as partition/file
        pruning). dbt's hazard is reproduced faithfully: an update whose
        key matches only an out-of-scope row counts as NOT MATCHED and
        is inserted — predicates must cover every window the build can
        emit. NULL-valued predicates count as out-of-scope (SQL MERGE
        match semantics).

        Semantics match dbt-trino's merge strategy: rows whose key matches an
        incoming row are replaced wholesale; new keys are inserted; rows
        outside the incoming key set are untouched. If ``updates`` contains
        several rows for one key, all are kept (same as the reference, whose
        MERGE sources are already key-unique by construction).

        ``on_schema_change`` mirrors dbt's contract for schema drift:
        ``'ignore'`` (default, the reference's effective setting) drops
        NEW source columns; ``'append_new_columns'`` widens the target
        for them, NULL-backfilling existing rows; ``'sync_all_columns'``
        additionally DROPS target columns the source no longer carries
        (full two-way sync — the one mode where a column missing from
        ``updates`` is legal); ``'fail'`` raises on any new column. Under
        every other mode a column MISSING from ``updates`` errors, as in
        dbt. A schema-altering merge always takes the full-rewrite path —
        rewriting only the touched files would leave the directory with
        mixed file schemas, and a plain parquet read samples one footer
        (silently dropping the new column for readers without
        ``mergeSchema``). A lake format with real schema metadata (the
        Delta seam) alters without the rewrite. So does a merge whose
        declared ``partition_by`` differs from the layout on disk (the
        upgrade of a table created empty). Every other merge rewrites
        only the touched files (module docstring).

        On a partitioned table a key matches only within the partitions
        the updates land in (the scan is pruned to them), so the
        partition columns should be part of ``unique_key``.

        Returns the sink counters: ``files_rewritten`` (target files
        replaced), ``files_added`` and ``rows_written`` (from the new
        files' footers).
        """
        modes = ("ignore", "append_new_columns", "fail", "sync_all_columns")
        if on_schema_change not in modes:
            # a typo must not silently behave as 'ignore' and drop columns
            raise ValueError(
                f"unsupported on_schema_change={on_schema_change!r}; "
                f"expected one of {modes}"
            )
        if not self.exists(name):
            return self.write_full(updates, name, partition_by)

        old = self.read(name)
        new_fields = [
            f for f in updates.schema.fields if f.name not in set(old.columns)
        ]
        if new_fields and on_schema_change == "fail":
            raise ValueError(
                f"schema change on {name}: new column(s) "
                f"{[f.name for f in new_fields]} with on_schema_change='fail'"
            )
        sync = on_schema_change == "sync_all_columns"
        gone_cols = (
            [c for c in old.columns if c not in set(updates.columns)] if sync else []
        )
        if any(k in gone_cols for k in unique_key):
            raise ValueError(
                f"sync_all_columns would drop unique_key column(s) "
                f"{[k for k in unique_key if k in gone_cols]} from {name}"
            )
        widen = bool(new_fields) and on_schema_change in (
            "append_new_columns",
            "sync_all_columns",
        )
        if not (widen or gone_cols) and self.partition_cols(name) == list(
            partition_by or []
        ):
            return self._merge_files(
                updates, name, unique_key, partition_by, incremental_predicates
            )
        # a schema-altering merge or a layout change (incl. a table created
        # empty that now receives its first real rows): full rewrite, into
        # the declared layout
        old = old.drop(*gone_cols)
        if widen:
            for f in new_fields:
                old = old.withColumn(f.name, F.lit(None).cast(f.dataType))
        old, out_scope = _split_merge_scope(old, incremental_predicates)
        kept = old.join(updates.select(*unique_key).distinct(), on=unique_key, how="left_anti")
        result = kept.unionByName(updates.select(*old.columns))
        if out_scope is not None:
            result = out_scope.unionByName(result)
        # write_full stages the result (which reads the current table
        # files) completely before the old directory is replaced
        return self.write_full(result, name, partition_by, op="merge")

    def _merge_files(
        self,
        updates: DataFrame,
        name: str,
        unique_key: list[str],
        partition_by: list[str] | None,
        incremental_predicates: list[str] | None,
    ) -> dict:
        """Touched-file MERGE (module docstring): find the files holding
        an in-scope row whose key matches an update, stage their
        surviving rows plus the updates once, publish."""
        unchanged = {"files_rewritten": 0, "files_added": 0, "rows_written": 0}
        # the slice feeds the touched-file search and the staged write;
        # evaluate the model's plan once
        updates = updates.persist()
        try:
            old = self.read(name)
            if partition_by:
                parts = updates.select(*partition_by).distinct().collect()
                if not parts:
                    return unchanged
                old = old.filter(_touched_partition_predicate(parts, partition_by))
            elif updates.isEmpty():
                return unchanged
            keys = updates.select(*unique_key).distinct()
            in_scope, _ = _split_merge_scope(old, incremental_predicates)
            touched = sorted(
                {
                    _local_path(r[0])
                    for r in in_scope.select(
                        *unique_key, F.col("_metadata.file_path").alias("_file")
                    )
                    .join(keys, on=unique_key, how="left_semi")
                    .select("_file")
                    .distinct()
                    .collect()
                }
            )
            result = updates.select(*old.columns)
            if touched:
                rows = (
                    self.spark.read.schema(old.schema)
                    .option("basePath", self._data_dir(name))
                    .parquet(*touched)
                )
                rows_in, rows_out = _split_merge_scope(rows, incremental_predicates)
                result = rows_in.join(keys, on=unique_key, how="left_anti").unionByName(result)
                if rows_out is not None:
                    result = rows_out.unionByName(result)
            return self._publish(name, result, partition_by, touched)
        finally:
            updates.unpersist()

    def _publish(
        self,
        name: str,
        staged: DataFrame,
        partition_by: list[str] | None,
        touched: list[str],
    ) -> dict:
        """Write ``staged`` to a staging dir, move its files into the
        table, then delete the ``touched`` files they replace. The moves
        start only after the write job completed; the window between the
        first move and the last delete is not atomic (module docstring)."""
        staging = self.path(f".staging-{name}-{uuid.uuid4().hex[:8]}")
        _write_table(staged, staging, partition_by)
        added = data_files(staging)
        stats = _sink_stats(len(touched), added)
        table = os.path.abspath(self.path(name))
        for f in added:
            dst = os.path.join(table, os.path.relpath(f, staging))
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            os.replace(f, dst)
        for f in touched:
            _remove_file(f)
        shutil.rmtree(staging)
        return stats

    def replace_scope(
        self,
        updates: DataFrame,
        name: str,
        scope_keys: DataFrame,
        key_cols: list[str],
        partition_by: list[str] | None = None,
    ) -> None:
        """Delete-then-insert within a key scope, in ONE rewrite: drop every
        existing row whose ``key_cols`` tuple appears in ``scope_keys``,
        then insert ``updates`` (whose rows must lie inside the scope).

        This is the sink primitive for derived per-key DETAIL tables whose
        row COUNT per key can shrink: a plain MERGE keyed on (id, detail)
        upserts matching rows but cannot remove superseded ones — e.g. a
        re-dropped document whose new text has fewer contaminated spans
        would keep stale span rows forever (ADVICE r8,
        ``streaming/dedup.py::stream_decontaminate``). Scoped
        delete+insert keeps the table exactly equal to "recompute the
        detail for these keys", which is what makes an at-least-once
        foreachBatch replay idempotent.
        """
        if not self.exists(name):
            self.write_full(updates, name, partition_by)
            return
        old = self.read(name)
        kept = old.join(
            scope_keys.select(*key_cols).distinct(), on=key_cols, how="left_anti"
        )
        result = kept.unionByName(updates.select(*old.columns))
        # full rewrite via write_full's staging swap (same constraint as
        # merge: cannot stream onto the directory being read)
        self.write_full(result, name, partition_by, op="replace_scope")

    def insert_overwrite(
        self,
        updates: DataFrame,
        name: str,
        partition_by: list[str],
    ) -> None:
        """dbt's third incremental strategy: replace every partition
        present in ``updates`` WHOLESALE, leave the rest untouched.

        No key matching at all — the unit of idempotency is the
        partition, which is why this beats MERGE for append-mostly daily
        data at 100 TB: the writer streams straight to the touched
        directories (no anti-join, no old-slice read), and re-running a
        day reproduces it exactly. The trade: ``updates`` must carry the
        COMPLETE new content of each touched partition (a partial slice
        silently drops that partition's other rows — dbt's documented
        contract for the strategy).
        """
        if not partition_by:
            raise ValueError("insert_overwrite requires partition_by")
        if not self.exists(name):
            self.write_full(updates, name, partition_by)
            return
        # only DYNAMIC mode scopes the overwrite to the partitions
        # actually written; Spark's default (STATIC) would delete every
        # other partition, so pin it rather than trust the session
        self.spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        (
            updates.write.mode("overwrite")
            .partitionBy(*partition_by)
            .parquet(self.path(name))
        )

    # ------------------------------------------------------------ maintenance

    def file_count(self, name: str) -> int:
        """Number of data files in the table (walked from the directory —
        no Spark job, no RDD conversion)."""
        return len(self.data_files(name))

    def partition_cols(self, name: str) -> list[str]:
        """Partition columns inferred from the on-disk ``col=value`` layout."""
        cols: list[str] = []
        p = self._data_dir(name)
        while p is not None and os.path.isdir(p):
            subs = [f for f in os.listdir(p) if "=" in f and os.path.isdir(os.path.join(p, f))]
            if not subs:
                break
            cols.append(subs[0].split("=")[0])
            p = os.path.join(p, subs[0])
        return cols

    def optimize(
        self,
        name: str,
        target_files: int | None = None,
        cluster_by: list[str] | None = None,
        zorder_by: list[str] | None = None,
    ) -> None:
        """File compaction (reference prod post-hook ``optimize_table.sql:1-6``,
        gated to the prod target there and to the Runner's prod profile here).

        Without Delta's OPTIMIZE, compaction = rewrite at a chosen file
        count, derived from the on-disk file count (a directory walk — not
        an RDD conversion, which would spin up a job just to pick a
        number). Partitioned tables keep their layout: rows are
        re-clustered on the partition columns so each partition compacts
        to one file under dynamic partition overwrite.

        ``cluster_by`` is the Delta ``ZORDER``/``CLUSTER BY`` analog for
        range predicates: unpartitioned tables range-partition on the
        cluster columns and every file sorts on them, so each file covers
        a tight, near-disjoint min/max range and parquet footer stats
        prune whole files/row-groups on ``col BETWEEN``-style scans — the
        data-skipping layer that matters most at 100 TB. Partitioned
        tables keep their partition layout and sort within it.

        ``zorder_by`` (exactly two non-negative integer columns) is the
        multi-dimensional variant — Delta's ``OPTIMIZE ... ZORDER BY``:
        files lay out along the Morton curve of both columns
        (``operators/zorder.py``), so footer stats stay tight on BOTH
        dimensions instead of only the leading sort column. Mutually
        exclusive with ``cluster_by`` (one layout per table).
        """
        if not self.exists(name):
            return
        if cluster_by and zorder_by:
            raise ValueError("choose cluster_by OR zorder_by, not both")
        df = self.read(name)
        n = target_files or max(1, self.file_count(name) // 8)
        parts = self.partition_cols(name)
        if zorder_by:
            from ..operators.zorder import zvalue

            if len(zorder_by) != 2:
                raise ValueError("zorder_by takes exactly two columns")
            # zvalue interleaves the LOW bits only, so raw columns whose
            # range exceeds 2^bits would wrap (value mod 2^bits) and the
            # layout would silently degenerate. Normalize both columns
            # into [0, 2^bits) from their observed min/max first — one
            # scalar agg (footer-cheap), integer arithmetic throughout.
            bits = 10
            xc, yc = zorder_by
            b = df.agg(
                F.min(F.col(xc).cast("long")).alias("x0"),
                F.max(F.col(xc).cast("long")).alias("x1"),
                F.min(F.col(yc).cast("long")).alias("y0"),
                F.max(F.col(yc).cast("long")).alias("y1"),
            ).first()

            def _scaled(c: str, lo, hi) -> F.Column:
                if lo is None:  # all-null column: constant key
                    return F.lit(0).cast("long")
                span = max(1, int(hi) - int(lo))
                return F.expr(
                    f"CAST((CAST(`{c}` AS BIGINT) - {int(lo)}) * "
                    f"{(1 << bits) - 1} DIV {span} AS BIGINT)"
                )

            cluster = [
                zvalue(
                    _scaled(xc, b["x0"], b["x1"]),
                    _scaled(yc, b["y0"], b["y1"]),
                    bits,
                ).alias("_zval")
            ]
        else:
            cluster = [F.col(c) for c in (cluster_by or [])]
        if parts:
            out = df.repartition(n, *[F.col(c) for c in parts])
            if cluster:
                out = out.sortWithinPartitions(*[F.col(c) for c in parts], *cluster)
            self.write_full(out, name, parts, op="optimize")
        else:
            if cluster:
                out = df.repartitionByRange(n, *cluster).sortWithinPartitions(*cluster)
            else:
                out = df.repartition(n)
            self.write_full(out, name, op="optimize")

    def vacuum(self, name: str, retain_hours: int = 168) -> None:
        """Snapshot cleanup (reference ``vacuum_table.sql:1-6``).

        Parquet dirs have no snapshots; clean stray staging dirs older than
        the retention window.
        """
        cutoff = time.time() - retain_hours * 3600
        base = self._base()
        for f in os.listdir(base):
            p = os.path.join(base, f)
            if f.startswith(".staging-") and os.path.isdir(p) and os.path.getmtime(p) < cutoff:
                shutil.rmtree(p, ignore_errors=True)

    def drop(self, name: str) -> None:
        p = self.path(name)
        if os.path.isdir(p):
            shutil.rmtree(p)

    # --------------------------------------------------------------- ad hoc

    def tables(self) -> list[str]:
        base = self._base()
        return sorted(
            f for f in os.listdir(base)
            if not f.startswith(".") and self.exists(f)  # readable tables only
        )

    def register_views(self) -> list[str]:
        """Register every materialized table as a temp view for spark.sql —
        the ad-hoc SELECT layer (reference lifecycle entry point 3:
        ``dbt show --inline`` / Dune UI queries, ``DEVELOPMENT.md:149-151``)."""
        names = self.tables()
        for name in names:
            self.read(name).createOrReplaceTempView(name)
        return names

    def sql(self, query: str) -> DataFrame:
        """Run ad-hoc SQL over the registered warehouse tables."""
        self.register_views()
        return self.spark.sql(query)
