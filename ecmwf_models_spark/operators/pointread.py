"""Point reads: one conversation's series as a pandas DataFrame.

Reference: ERATs.read(lon, lat) -> nearest gpi -> gpi2cell -> open one
<cell>.nc -> one location's row across the time axis as pandas
(reference interface.py:675-720, README.rst:66-81, docs/ts_read.rst:15-34).
read_bulk caches the whole cell file (interface.py:705-711).

Spark-first, one job per read: the pruned scan
(cell_id == c AND conv_id == k), which reads ONE partition directory of
the cell-partitioned silver table — partition pruning plays gpi2cell.
O(cell), never O(world). `offsets`/`scale_factors` (interface.py:694-714)
map to an affine select inside that scan.

Everything else runs on the driver, as the reference's gpi2cell does:
  * routing: cell_id is recomputed from conv_id by a pure-Python XXH64
    bit-identical to the write path's pmod(xxhash64(conv_id), n) — no
    Spark job, no py4j call, so it also works without a JVM gateway
    (Spark Connect);
  * ordering: one conversation's rows (tens to thousands) all land on the
    driver anyway, so a stable pandas sort on (ts, turn_idx), NULLs first
    like Spark's ASC, replaces a global orderBy that would add a
    range-sampling job and an exchange to every read.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..grid import DEFAULT_N_CELLS, cell_of_id

# the read's row order: Spark's orderBy("ts", "turn_idx") (ASC NULLS FIRST)
ORDER = ["ts", "turn_idx"]


def cell_id_for(spark: SparkSession, conv_id: str, n_cells: int) -> int:
    """Driver-side cell routing (gpi2cell): the cell directory the write
    path (grid.cell_of) put `conv_id` in. Pure Python, bit-identical to
    Spark's xxhash64, so routing costs no Spark job; `spark` is unused and
    kept for callers."""
    return cell_of_id(conv_id, n_cells)


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

        self.spark = spark
        self.silver = spark.read.parquet(silver_path)
        # per-variable attrs written by write_silver / the tier writer —
        # the reference reads these back onto the returned dataset
        # (interface.py:185; GriddedNcOrthoMultiTs variable attrs)
        self.attrs = read_table_attrs(spark, f"{silver_path}/_meta")
        self.n_cells = n_cells
        self.read_bulk = read_bulk
        self.parameters = parameters
        self.offsets = offsets or {}
        self.scale_factors = scale_factors or {}
        self._cell_cache: dict[int, DataFrame] = {}

    def _cell_df(self, cell: int) -> DataFrame:
        if self.read_bulk:
            if cell not in self._cell_cache:
                self._cell_cache[cell] = self.silver.where(
                    F.col("cell_id") == cell
                ).cache()
            return self._cell_cache[cell]
        return self.silver.where(F.col("cell_id") == cell)

    def read(self, conv_id: str) -> pd.DataFrame:
        cell = cell_id_for(self.spark, conv_id, self.n_cells)
        df = self._cell_df(cell).where(F.col("conv_id") == conv_id)
        cols = self.parameters
        extra = []
        if cols:
            # turn_idx breaks ts ties; fetched for the sort, then dropped
            extra = [] if "turn_idx" in cols else ["turn_idx"]
            df = df.select("ts", *cols, *extra)
        for c, sf in self.scale_factors.items():
            df = df.withColumn(c, F.col(c) * F.lit(sf))
        for c, off in self.offsets.items():
            df = df.withColumn(c, F.col(c) + F.lit(off))
        pdf = (
            df.toPandas()
            .sort_values(ORDER, kind="stable", na_position="first", ignore_index=True)
            .drop(columns=extra)
        )
        pdf = pdf.set_index("ts") if "ts" in pdf.columns else pdf
        # pandas-native attrs carry: units/long_name per variable
        pdf.attrs["var_attrs"] = {
            c: self.attrs[c] for c in pdf.columns if c in self.attrs
        }
        return pdf

    def close(self):
        for df in self._cell_cache.values():
            df.unpersist()
        self._cell_cache.clear()
