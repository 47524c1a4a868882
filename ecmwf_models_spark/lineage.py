"""Lineage / checkpoint table + resumable tier writer.

The reference records provenance and the exact kwargs of each run in
overview.yml (update_image_summary_file, reference utils.py:365-409;
ts-side call era5/reshuffle.py:251), which is what makes extend/update
idempotent (reshuffle.py:280-295). Here that generalizes to a per-partition
lineage table:

    (job_id, tier, cell_id, snapshot_id, row_count, checksum,
     status, committed_at)

and a writer protocol that makes retention-tier materialization resumable
MID-TIER: every cell directory is written atomically (task temp + rename is
Spark's own commit protocol at partition-dir grain via dynamic partition
overwrite), then the cell's lineage row is appended. On rerun, committed
cells are filtered out of the input by the committed cell ids read from
the lineage table — exactly-once at cell grain without a transactional
table format (SURVEY 7 plan B). The per-cell stats of a lineage row are
taken from the files just written, so they describe what is on disk.

Checksums are order-insensitive (bit_xor of xxhash64 over rows) so they
are stable under any task placement/parallelism. Known limit: XOR
cancels in pairs, so a row hash that repeats an even number of times in
a cell drops out of its checksum — a cell whose rows change only by
pairs of identical rows ((A, A) replaced by (B, B)) keeps both its
row_count and its checksum.
"""

from __future__ import annotations

import time
import uuid

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("job_id", T.StringType()),
        T.StructField("tier", T.StringType()),
        T.StructField("cell_id", T.IntegerType()),
        T.StructField("snapshot_id", T.StringType()),
        T.StructField("row_count", T.LongType()),
        T.StructField("checksum", T.LongType()),
        T.StructField("status", T.StringType()),
        T.StructField("committed_at", T.DoubleType()),
    ]
)


def is_path_not_found(e: AnalysisException) -> bool:
    """True only for Spark's PATH_NOT_FOUND condition. Callers that want
    'absent table == empty' must use this rather than catching every
    AnalysisException — a corrupt/unreadable table must surface, not be
    reported as a successful no-op."""
    get_cls = getattr(
        e, "getCondition", getattr(e, "getErrorClass", lambda: None)
    )
    return (get_cls() or "") == "PATH_NOT_FOUND" or "PATH_NOT_FOUND" in str(e)


def _read_or_empty(spark: SparkSession, path: str, schema) -> DataFrame:
    """Attempt the read; map PATH_NOT_FOUND to an empty frame. Existence is
    decided by Spark's own filesystem resolution (works for HDFS/S3/local
    alike) — os.path.exists is local-FS-only and would silently treat a
    remote table as absent, re-deriving defaults the persisted run-kwargs
    contract exists to prevent."""
    try:
        return spark.read.schema(schema).parquet(path)
    except AnalysisException as e:
        # ONLY absence maps to empty; any other analysis failure (broken
        # permissions, conflicting metadata) must surface, or callers
        # would silently re-derive defaults — the exact failure the
        # persisted run-kwargs contract exists to prevent
        if is_path_not_found(e):
            return spark.createDataFrame([], schema)
        raise


def _rows_frame(spark: SparkSession, rows: list[tuple], schema) -> DataFrame:
    """A few driver-side rows as a frame. Built from a pandas frame so the
    session's Arrow path plans it as a LocalTableScan; a list of tuples
    plans as a pickled Python RDD (Scan ExistingRDD), ~1 s per tiny
    append instead of ~0.2 s."""
    import pandas as pd

    return spark.createDataFrame(pd.DataFrame(rows, columns=schema.names), schema)


def _append_rows(spark: SparkSession, path: str, rows: list[tuple], schema) -> None:
    """Append driver-side rows to a parquet table as one file. Goes through
    Spark's writer (not pyarrow) so remote paths work like every other
    table here. No rows, no append."""
    if not rows:
        return
    _rows_frame(spark, rows, schema).coalesce(1).write.mode("append").parquet(
        path
    )


def read_lineage(spark: SparkSession, path: str) -> DataFrame:
    return _read_or_empty(spark, path, LINEAGE_SCHEMA)


def _committed(spark: SparkSession, path: str, tier: str) -> DataFrame:
    return read_lineage(spark, path).where(
        (F.col("tier") == tier) & (F.col("status") == "committed")
    )


def committed_cells(spark: SparkSession, path: str, tier: str) -> list[int]:
    """Sorted ids of the tier's committed cells (at most n_cells)."""
    rows = _committed(spark, path, tier).select("cell_id").distinct().collect()
    return sorted(r[0] for r in rows)


def cell_stats(df: DataFrame) -> DataFrame:
    """Per-cell (row_count, order-insensitive checksum) over all columns.
    bit_xor of row hashes: commutative (placement-independent) and can't
    overflow under ANSI mode. Columns are hashed in sorted-name order so
    the checksum is invariant to plan-dependent column reordering (joins
    move the join key to the front)."""
    cols = sorted(df.columns)
    return df.groupBy("cell_id").agg(
        F.count(F.lit(1)).alias("row_count"),
        F.bit_xor(F.xxhash64(*[F.col(c) for c in cols])).alias("checksum"),
    )


SETTINGS_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType()),
        T.StructField("value", T.StringType()),
        T.StructField("job_id", T.StringType()),
        T.StructField("committed_at", T.DoubleType()),
    ]
)


def write_run_settings(
    spark: SparkSession, path: str, settings: dict, job_id: str | None = None
) -> None:
    """Persist the run kwargs next to the table they produced — the
    overview.yml parameter block (reference utils.py:365-409; consumed by
    extend_ts so a later `update_ts` needs no re-supplied parameters,
    era5/reshuffle.py:280-295). Underscore-prefixed dir, so Spark scans
    of the data ignore it. Append-only; latest committed_at wins."""
    job_id = job_id or uuid.uuid4().hex[:12]
    now = time.time()
    rows = [(k, str(v), job_id, now) for k, v in settings.items() if v is not None]
    _append_rows(spark, path, rows, SETTINGS_SCHEMA)


def _read_latest(
    spark: SparkSession, path: str, schema, keys: tuple[str, ...]
) -> dict[tuple, str]:
    """Latest value per key of an append-only (keys..., value,
    committed_at) sidecar; latest committed_at wins, ties go to the larger
    value so the answer is deterministic. The sidecars hold a handful of
    rows per write, so one plain scan + collect and a Python pass cost
    less than a groupBy/max_by and its exchange."""

    def rank(r):
        return (r["committed_at"], r["value"])

    latest = {}
    for r in _read_or_empty(spark, path, schema).collect():
        k = tuple(r[c] for c in keys)
        if k not in latest or rank(r) > rank(latest[k]):
            latest[k] = r
    return {k: r["value"] for k, r in latest.items()}


def read_run_settings(spark: SparkSession, path: str) -> dict:
    """Latest persisted value per key (as strings; callers cast)."""
    latest = _read_latest(spark, path, SETTINGS_SCHEMA, ("key",))
    return {k: v for (k,), v in latest.items()}


ATTRS_SCHEMA = T.StructType(
    [
        T.StructField("var", T.StringType()),
        T.StructField("key", T.StringType()),
        T.StructField("value", T.StringType()),
        T.StructField("committed_at", T.DoubleType()),
    ]
)


def write_table_attrs(
    spark: SparkSession, path: str, attrs: dict[str, dict[str, str]]
) -> None:
    """Persist per-variable attrs (units, long_name, ...) next to the
    table — the reference carries these dicts from source to every output
    file (interface.py:185,496-502; era5/reshuffle.py:206-207 hands them
    to Img2Ts). Underscore-prefixed dir so data scans skip it;
    append-only, latest committed_at wins (same protocol as _settings)."""
    now = time.time()
    rows = [
        (var, k, str(v), now)
        for var, kv in attrs.items()
        for k, v in kv.items()
    ]
    _append_rows(spark, path, rows, ATTRS_SCHEMA)


def read_table_attrs(spark: SparkSession, path: str) -> dict[str, dict[str, str]]:
    """Latest attrs per (var, key); {} when no sidecar exists."""
    out: dict[str, dict[str, str]] = {}
    for (var, key), v in _read_latest(
        spark, path, ATTRS_SCHEMA, ("var", "key")
    ).items():
        out.setdefault(var, {})[key] = v
    return out


class ResumableTierWriter:
    """Write a cell-partitioned tier with per-cell lineage + resume.

    Usage:
        w = ResumableTierWriter(spark, out_dir, lineage_dir, tier="daily")
        w.run(df_with_cell_id)          # writes only uncommitted cells
    """

    def __init__(
        self,
        spark: SparkSession,
        out_dir: str,
        lineage_dir: str,
        tier: str,
        snapshot_id: str = "",
        job_id: str | None = None,
    ):
        self.spark = spark
        self.out_dir = out_dir
        self.lineage_dir = lineage_dir
        self.tier = tier
        self.snapshot_id = snapshot_id
        self.job_id = job_id or uuid.uuid4().hex[:12]

    def _written(self, df: DataFrame) -> DataFrame:
        """The tier as stored, in df's column order (what cell_stats hashes)."""
        return _read_or_empty(self.spark, self.out_dir, df.schema).select(
            *df.columns
        )

    def run(self, df: DataFrame, fail_after_cells: int | None = None) -> int:
        """Materialize uncommitted cells; returns number of cells committed.

        `df` is evaluated once: the uncommitted cells are written in one
        pass, and their lineage stats are read back from the written
        files, so a lineage row describes what is on disk even when the
        upstream is nondeterministic.

        fail_after_cells simulates a crash between the write and the
        lineage commit for the resume test: every pending cell is written,
        lineage is committed for only the first k (by cell_id), then it
        raises — the next run() rewrites the rest and must produce a
        byte-identical tier.
        """
        done = committed_cells(self.spark, self.lineage_dir, self.tier)
        pending = ~F.col("cell_id").isin(done)
        # dynamic partition overwrite: each cell dir replaced atomically,
        # untouched cells preserved — write-temp-then-rename at cell grain.
        (
            df.where(pending)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("cell_id")
            .parquet(self.out_dir)
        )
        stats = cell_stats(self._written(df).where(pending)).collect()
        if not stats:
            return 0
        stats.sort(key=lambda r: r["cell_id"])
        crash = fail_after_cells is not None and fail_after_cells < len(stats)
        todo = stats[:fail_after_cells] if crash else stats
        now = time.time()
        rows = [
            (
                self.job_id,
                self.tier,
                int(r["cell_id"]),
                self.snapshot_id,
                int(r["row_count"]),
                int(r["checksum"]),
                "committed",
                now,
            )
            for r in todo
        ]
        _append_rows(self.spark, self.lineage_dir, rows, LINEAGE_SCHEMA)
        # propagate per-variable attrs into the tier (latest-wins append;
        # a resumed run re-appending identical rows is harmless)
        from .functions.lut import attrs_for

        write_table_attrs(
            self.spark, f"{self.out_dir}/_meta", attrs_for(df.columns)
        )
        if crash:
            raise RuntimeError(
                f"simulated crash after {len(todo)} of {len(stats)} cells"
            )
        return len(todo)

    def verify(self, df: DataFrame) -> bool:
        """Audit the stored tier against its lineage (write-audit):
        per-cell stats recomputed from the files, full-outer-joined with
        the committed lineage rows. A committed cell missing on disk, a
        cell on disk without a committed row, or a row_count/checksum
        mismatch returns False."""
        actual = cell_stats(self._written(df)).select(
            "cell_id",
            F.col("row_count").alias("disk_rows"),
            F.col("checksum").alias("disk_checksum"),
        )
        expected = _committed(self.spark, self.lineage_dir, self.tier).select(
            "cell_id", "row_count", "checksum"
        )
        bad = (
            actual.join(expected, "cell_id", "full_outer")
            .where(
                ~F.col("disk_rows").eqNullSafe(F.col("row_count"))
                | ~F.col("disk_checksum").eqNullSafe(F.col("checksum"))
            )
            .count()
        )
        return bad == 0
