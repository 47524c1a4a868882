"""Point reads: one conversation's series as a pandas DataFrame.

Reference: ERATs.read(lon, lat) -> nearest gpi -> gpi2cell -> open one
<cell>.nc -> one location's row across the time axis as pandas
(reference interface.py:675-720, README.rst:66-81, docs/ts_read.rst:15-34).
read_bulk caches the whole cell file (interface.py:705-711).

No Spark job per read. Like the reference, a read opens only its cell's
files, on the driver:
  * routing: cell_id is recomputed from conv_id by a pure-Python XXH64
    bit-identical to the write path's pmod(xxhash64(conv_id), n);
  * scan: the files of the one directory cell_id=<c>/ are listed and read
    with pyarrow.dataset; conv_id == k is pushed into the parquet scan (row
    groups whose min/max exclude k are skipped) and only the requested
    columns are decoded. O(cell), never O(world). The cell_id column that
    Spark's partition discovery adds is appended as int32;
  * ordering: a stable pandas sort on (ts, turn_idx), NULLs first like
    Spark's ASC;
  * offsets/scale_factors (interface.py:694-714): scale, then offset, in
    pandas with Spark's promotion (a float32 column times a Python float
    is float64).
The frame equals what Spark's `where(cell, conv).orderBy(ts, turn_idx)`
query returns through toPandas, column order and dtypes included;
timestamps are shown as naive wall time in the session time zone, as
toPandas does.

Per-read cost: one directory listing plus one parquet scan of one cell's
files. On a 4-core host, ~40 rows out of a ~2.8k-row cell take 7.7 ms
p50 (perfbench append_and_read, median of 10 runs), against 117 ms for
the one-job Spark query this replaces (analysis, scheduling, one task,
an Arrow collect).

The silver root is resolved once at open with
pyarrow.fs.FileSystem.from_uri: a bare path is a local path; file://,
s3://, gs://, hdfs:// and abfs:// resolve to pyarrow's own filesystems
(Hadoop-only schemes such as s3a:// do not). `spark` is still used at
open, to read the `_meta` attrs sidecar and the session time zone.
"""

from __future__ import annotations

import os
from urllib.parse import urlparse

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.fs as pafs
from pyspark.sql import SparkSession

from ..grid import DEFAULT_N_CELLS, cell_of_id

# the read's row order: Spark's orderBy("ts", "turn_idx") (ASC NULLS FIRST)
ORDER = ["ts", "turn_idx"]


def cell_id_for(spark: SparkSession, conv_id: str, n_cells: int) -> int:
    """Driver-side cell routing (gpi2cell): the cell directory the write
    path (grid.cell_of) put `conv_id` in. Pure Python, bit-identical to
    Spark's xxhash64, so routing costs no Spark job; `spark` is unused and
    kept for callers."""
    return cell_of_id(conv_id, n_cells)


def _filesystem(path: str) -> tuple[pafs.FileSystem, str]:
    """(filesystem, root) of a table path; a bare path is local."""
    if not urlparse(path).scheme:
        return pafs.LocalFileSystem(), os.path.abspath(path)
    return pafs.FileSystem.from_uri(path)


def _data_files(fs: pafs.FileSystem, dir_: str) -> list[str]:
    """Data files of one directory, skipping `_`/`.` names as Spark does
    (_SUCCESS, .crc); [] when the directory does not exist."""
    infos = fs.get_file_info(pafs.FileSelector(dir_, allow_not_found=True))
    return sorted(
        i.path for i in infos
        if i.is_file and not i.base_name.startswith(("_", "."))
    )


def _file_schema(fs: pafs.FileSystem, root: str) -> pa.Schema:
    """Schema of the first cell file found (Spark reads one footer too)."""
    for info in fs.get_file_info(pafs.FileSelector(root)):
        if info.type == pafs.FileType.Directory and info.base_name.startswith(
            "cell_id="
        ):
            files = _data_files(fs, info.path)
            if files:
                return ds.dataset(files[0], format="parquet", filesystem=fs).schema
    raise FileNotFoundError(f"no cell_id=*/ data files under {root}")


def _as_session_time(table: pa.Table, tz: str) -> pa.Table:
    """Spark TIMESTAMPs are UTC instants (INT96 reads as naive UTC) that
    toPandas shows as naive ns wall time in the session time zone."""
    for i, f in enumerate(table.schema):
        t = f.type
        if pa.types.is_timestamp(t) and (t.tz or t.unit != "ns" or tz != "UTC"):
            col = table.column(i).cast(pa.timestamp(t.unit, t.tz or "UTC"))
            col = pc.local_timestamp(col.cast(pa.timestamp(t.unit, tz)))
            table = table.set_column(i, f.name, col.cast(pa.timestamp("ns")))
    return table


def _promoted(s: pd.Series, v) -> pd.Series:
    """Spark widens a column combined with a double literal to double;
    pandas would keep float32."""
    return s.astype("float64") if isinstance(v, float) else s


class TsReader:
    """ERATs analogue over the cell-partitioned silver table."""

    def __init__(
        self,
        spark: SparkSession,
        silver_path: str,
        n_cells: int = DEFAULT_N_CELLS,
        read_bulk: bool = False,
        parameters: list[str] | None = None,
        offsets: dict[str, float] | None = None,
        scale_factors: dict[str, float] | None = None,
    ):
        from ..lineage import read_table_attrs

        # per-variable attrs written by write_silver / the tier writer —
        # the reference reads these back onto the returned dataset
        # (interface.py:185; GriddedNcOrthoMultiTs variable attrs)
        self.attrs = read_table_attrs(spark, f"{silver_path}/_meta")
        self.tz = spark.conf.get("spark.sql.session.timeZone")
        self.fs, self.root = _filesystem(silver_path)
        self.schema = _file_schema(self.fs, self.root)
        self.n_cells = n_cells
        self.read_bulk = read_bulk
        self.parameters = parameters
        self.offsets = offsets or {}
        self.scale_factors = scale_factors or {}
        self._cell_cache: dict[int, pa.Table] = {}

    def _cell_dataset(self, cell: int) -> ds.Dataset:
        return ds.dataset(
            _data_files(self.fs, f"{self.root}/cell_id={cell}"),
            schema=self.schema,
            format="parquet",
            filesystem=self.fs,
        )

    def _scan(self, cell: int, columns: list[str], conv_id: str) -> pa.Table:
        """conv_id's rows of one cell directory, `columns` only."""
        match = pc.field("conv_id") == conv_id
        if not self.read_bulk:
            return self._cell_dataset(cell).to_table(columns=columns, filter=match)
        if cell not in self._cell_cache:
            self._cell_cache[cell] = self._cell_dataset(cell).to_table()
        return self._cell_cache[cell].filter(match).select(columns)

    def read(self, conv_id: str) -> pd.DataFrame:
        cell = cell_of_id(conv_id, self.n_cells)
        cols = self.parameters
        extra = []
        if cols:
            # turn_idx breaks ts ties; fetched for the sort, then dropped
            extra = [] if "turn_idx" in cols else ["turn_idx"]
            wanted = ["ts", *cols, *extra]
        else:
            wanted = [*self.schema.names, "cell_id"]
        table = self._scan(cell, [c for c in wanted if c != "cell_id"], conv_id)
        if "cell_id" in wanted:
            table = table.append_column(
                "cell_id", pa.array(np.full(len(table), cell, np.int32))
            ).select(wanted)
        pdf = _as_session_time(table, self.tz).to_pandas()
        for c, sf in self.scale_factors.items():
            pdf[c] = _promoted(pdf[c], sf) * sf
        for c, off in self.offsets.items():
            pdf[c] = _promoted(pdf[c], off) + off
        pdf = pdf.sort_values(
            ORDER, kind="stable", na_position="first", ignore_index=True
        ).drop(columns=extra)
        pdf = pdf.set_index("ts") if "ts" in pdf.columns else pdf
        # pandas-native attrs carry: units/long_name per variable
        pdf.attrs["var_attrs"] = {
            c: self.attrs[c] for c in pdf.columns if c in self.attrs
        }
        return pdf

    def close(self):
        self._cell_cache.clear()
