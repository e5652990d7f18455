"""Output checks: independent row counts, content hashes, query fingerprints.

Every check returns a list of problems (empty = pass); the caller counts
each non-empty result as one failed operation.
"""

from __future__ import annotations

import os

import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from gen import EVENT_MODELS, PACKAGE, POOL_TYPE_PREFIX

FCT = "fct_deepbook_margin_pool_daily"
STG = "stg_deepbook_margin_pool_object"
# The fact model's lag() deltas are computed over the incremental slice, so
# the slice's first day legitimately differs from a full refresh (the W3
# caveat pinned in tests/test_incremental.py); updated_at is the run clock.
FCT_LAG_COLS = ("daily_supply_change", "daily_borrow_change", "daily_utilization_change")


def expected_row_counts(sources: dict[str, str], floor_ms: int) -> dict[str, int]:
    """Row counts of the 7 tables after a backfill, computed from the
    generated sources with pyarrow alone (no Spark, no model code)."""
    ev = ds.dataset(sources["sui.events"]).to_table(
        columns=["event_type"], filter=ds.field("timestamp_ms") >= floor_ms)
    types = ev.column("event_type").value_counts().to_pylist()
    by_type = {d["values"]: d["counts"] for d in types}
    out = {m: by_type.get(f"{PACKAGE}::{suffix}", 0) for m, suffix in EVENT_MODELS.items()}
    obj = ds.dataset(sources["sui.objects"]).to_table(
        columns=["object_id", "timestamp_ms", "type_"],
        filter=(ds.field("timestamp_ms") >= floor_ms))
    obj = obj.filter(pc.starts_with(obj.column("type_"), POOL_TYPE_PREFIX))
    out[STG] = obj.num_rows
    day = pc.divide(obj.column("timestamp_ms"), 86_400_000)
    out[FCT] = len(set(zip(obj.column("object_id").to_pylist(), day.to_pylist())))
    return out


def parquet_files(path: str, since_ns: int = 0) -> list[str]:
    """Data files under ``path`` modified at or after ``since_ns``."""
    out = []
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                if os.stat(p).st_mtime_ns >= since_ns:
                    out.append(p)
    return out


def parquet_rows(paths: list[str]) -> int:
    """Row count from the parquet footers alone."""
    return sum(pq.read_metadata(p).num_rows for p in paths)


def table_rows(store, names: list[str]) -> int:
    return sum(parquet_rows(parquet_files(store.path(n))) for n in names if store.exists(n))


def check_row_counts(store, expected: dict[str, int]) -> list[str]:
    problems = []
    for name, want in expected.items():
        got = parquet_rows(parquet_files(store.path(name)))
        if got != want:
            problems.append(f"{name}: {got} rows, sources give {want}")
    return problems


def content_hash(path: str, drop: tuple[str, ...] = ()) -> tuple[int, int]:
    """Order-independent content fingerprint of a parquet table directory,
    read with pyarrow: (rows, sum of per-row hashes over the name-sorted
    columns, mod 2**64). Python's string hash is salted per process, so
    fingerprints compare only within one run."""
    table = ds.dataset(path, partitioning="hive").to_table()
    cols = sorted(c for c in table.column_names if c not in drop)
    total = 0
    for row in zip(*(table.column(c).to_pylist() for c in cols)):
        total += hash(tuple("NaN" if v != v else v for v in row))
    return table.num_rows, total % 2**64


def warehouse_hashes(store, names: list[str]) -> dict[str, tuple[int, int]]:
    return {
        n: content_hash(store.path(n), ("updated_at",) + (FCT_LAG_COLS if n == FCT else ()))
        for n in names
    }


def compare_hashes(expected: dict, actual: dict) -> list[str]:
    return [
        f"{n}: content {actual.get(n)} != full refresh {want}"
        for n, want in expected.items() if actual.get(n) != want
    ]


def fingerprint(df):
    """Force every output column (the ``bench.force_full`` evaluation:
    map columns through ``to_json``, xxhash64 of the full row struct) and
    return ``(rows, hash sum)``, plus the DataFrame that ran."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import MapType

    cols = [F.to_json(F.col(f.name)) if isinstance(f.dataType, MapType) else F.col(f.name)
            for f in df.schema.fields]
    agg = df.select(F.count(F.lit(1)).alias("n"), F.sum(F.xxhash64(F.struct(*cols))).alias("h"))
    row = agg.collect()[0]
    return (int(row["n"]), int(row["h"] or 0)), agg


def duckdb_connection(table_dir: str):
    """A DuckDB connection with one view per parquet table in ``table_dir``."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for f in sorted(os.listdir(table_dir)):
        if f.endswith(".parquet"):
            p = os.path.join(table_dir, f)
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{p}')")
    return con
