"""Grid / cell partitioning — the spatial dimension of the reference
(ERA_RegularImgGrid, reference grid.py:145-193) re-expressed as DataFrame
column expressions plus the graft's conv_id -> cell_id rule.

The reference chunks a global 0.25-degree grid into 5x5-degree cells
(<=2566 cells, reference docs/img2ts.rst:13-16) so each point read touches
exactly one cell file. Here the unit of locality is a conversation; the
cell is a stable hash bucket of conv_id, so point reads prune to one
partition the same way gpi2cell does (reference tests/test_grid.py:44,53).
"""

from __future__ import annotations

import struct

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

DEFAULT_N_CELLS = 64
SCALE = 1_000_000  # integer microdegrees for float-exact axes (safe_arange,
                   # reference grid.py:32-56)


def cell_of(conv_id: Column | str, n_cells: int = DEFAULT_N_CELLS) -> Column:
    """cell_id = pmod(xxhash64(conv_id), n_cells) — deterministic, uniform,
    computable at read time for partition pruning (gpi2cell analogue)."""
    c = F.col(conv_id) if isinstance(conv_id, str) else conv_id
    return F.pmod(F.xxhash64(c), F.lit(n_cells)).cast("int")


_M64 = (1 << 64) - 1
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_SEED = 42  # Spark's xxhash64 seed


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, lane: int) -> int:
    return _rotl((acc + lane * _P2) & _M64, 31) * _P1 & _M64


def xxhash64(data: bytes) -> int:
    """XXH64 of `data` as a signed 64-bit int — Spark's xxhash64 (its fixed
    seed 42; a string column hashes its UTF-8 bytes), bit for bit, so the
    driver can route a key without running a Spark job. Lanes are read
    little-endian."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (_SEED + _P1 + _P2) & _M64
        v2 = (_SEED + _P2) & _M64
        v3 = _SEED
        v4 = (_SEED - _P1) & _M64
        while i + 32 <= n:
            a, b, c, d = struct.unpack_from("<4Q", data, i)
            v1, v2, v3, v4 = _round(v1, a), _round(v2, b), _round(v3, c), _round(v4, d)
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M64
        for v in (v1, v2, v3, v4):
            h = ((h ^ _round(0, v)) * _P1 + _P4) & _M64
    else:
        h = (_SEED + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        (k,) = struct.unpack_from("<Q", data, i)
        h = (_rotl(h ^ _round(0, k), 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        (k,) = struct.unpack_from("<I", data, i)
        h = (_rotl(h ^ (k * _P1 & _M64), 23) * _P2 + _P3) & _M64
        i += 4
    while i < n:
        h = _rotl(h ^ (data[i] * _P5 & _M64), 11) * _P1 & _M64
        i += 1
    h ^= h >> 33
    h = h * _P2 & _M64
    h ^= h >> 29
    h = h * _P3 & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >> 63 else h


def cell_of_id(conv_id: str, n_cells: int = DEFAULT_N_CELLS) -> int:
    """cell_of for one conv_id, evaluated on the driver with no Spark job:
    pmod(xxhash64(conv_id), n_cells). Python's % of a signed value by a
    positive modulus is already non-negative, which is what pmod means."""
    return xxhash64(conv_id.encode("utf-8")) % n_cells


def with_cell_id(df: DataFrame, n_cells: int = DEFAULT_N_CELLS) -> DataFrame:
    return df.withColumn("cell_id", cell_of("conv_id", n_cells))


def trafo_lon(lon: Column) -> Column:
    """Longitude 0..360 -> -180..180 (reference grid.py:13-29)."""
    return F.when(lon > 180.0, lon - 360.0).otherwise(lon)


def regular_grid(
    spark: SparkSession,
    resolution: float = 0.25,
    bbox: tuple[float, float, float, float] | None = None,
    cellsize: float = 5.0,
) -> DataFrame:
    """Regular global lat/lon grid as a dimension DataFrame
    (gpi, lon, lat, cell) — the reference's ERA_RegularImgGrid
    (grid.py:145-193): gpi row-major from lon=-180.., lat=90 downward.

    Axes are generated with integer arithmetic (microdegrees) so spacing is
    float-exact (safe_arange, reference grid.py:32-56). bbox cut preserves
    global gpi numbering (reference grid.py:182-191).
    """
    step = int(round(resolution * SCALE))
    n_lon = int(round(360 / resolution))
    n_lat = int(round(180 / resolution)) + 1

    lons = spark.range(n_lon).select(
        F.col("id").alias("lon_i"),
        ((F.col("id") * step - 180 * SCALE) / SCALE).alias("lon"),
    )
    lats = spark.range(n_lat).select(
        F.col("id").alias("lat_i"),
        ((90 * SCALE - F.col("id") * step) / SCALE).alias("lat"),
    )
    g = lats.crossJoin(lons).select(
        (F.col("lat_i") * n_lon + F.col("lon_i")).alias("gpi"),
        "lon",
        "lat",
    )
    g = g.withColumn(
        "cell",
        (
            F.floor((F.col("lon") + 180.0) / cellsize) * int(round(180 / cellsize))
            + F.floor((F.col("lat") + 90.0) / cellsize)
        ).cast("int"),
    )
    if bbox is not None:
        min_lon, min_lat, max_lon, max_lat = bbox
        g = g.where(
            F.col("lon").between(min_lon, max_lon)
            & F.col("lat").between(min_lat, max_lat)
        )
    return g


def nearest_join(
    df: DataFrame,
    grid_dim: DataFrame,
    value_col: str,
    key_cols: list[str],
    coord_col: str = "coord",
    id_col: str = "gpi",
    bucket_width: float | None = None,
) -> DataFrame:
    """J1 for INEXACT keys: join every row to the NEAREST node of a (possibly
    irregular) 1-D grid — the reference's kd-tree lookup
    (interface.py:146-148 find_nearest_gpi) as a bucketed band join:

      1. bucket width >= the grid's max node spacing (computed from the
         dim if not given — one tiny aggregate), so the nearest node is
         ALWAYS in the probe's own bucket or an adjacent one;
      2. the GRID side (small) is exploded to buckets {b-1, b, b+1} and
         broadcast — each fact row meets <= 3 buckets' nodes, never the
         whole grid (no cross join, no kd-tree to ship);
      3. argmin |coord - value| per row via one aggregate min(struct(dist,
         gpi)) — deterministic ties (lower gpi wins), no window;
      4. fact buckets are CLAMPED to the grid's [min, max] bucket range,
         so probes beyond the grid extent still meet the end nodes — the
         nearest node for an out-of-range probe is always an end node,
         matching the reference kd-tree's always-returns contract.

    At 100 TB this is a broadcast hash join + a partial-aggregating
    hash aggregate over <= 3*nodes-per-bucket candidates per row. The
    grid-side stats (max gap, extent) are one tiny aggregate over the
    already-broadcast dimension."""
    if bucket_width is None:
        from pyspark.sql import Window

        w = Window.orderBy(coord_col)
        bucket_width = float(
            grid_dim.select(
                (F.col(coord_col) - F.lag(coord_col).over(w)).alias("_gap")
            )
            .agg(F.max("_gap"))
            .first()[0]
        )
    import math

    ext = grid_dim.agg(
        F.min(coord_col).alias("lo"), F.max(coord_col).alias("hi")
    ).first()
    if ext["lo"] is None:
        raise ValueError(
            "nearest_join: grid_dim has no rows — there is no nearest "
            "node to clamp to (the reference kd-tree would equally have "
            "nothing to return)"
        )
    b_lo = int(math.floor(float(ext["lo"]) / bucket_width))
    b_hi = int(math.floor(float(ext["hi"]) / bucket_width))
    b_fact = F.least(
        F.greatest(
            F.floor(F.col(value_col) / bucket_width).cast("long"),
            F.lit(b_lo),
        ),
        F.lit(b_hi),
    )
    g = grid_dim.select(
        F.col(id_col),
        F.col(coord_col),
        F.explode(
            F.array(
                *[
                    F.floor(F.col(coord_col) / bucket_width).cast("long")
                    + F.lit(o)
                    for o in (-1, 0, 1)
                ]
            )
        ).alias("_b"),
    )
    cand = df.withColumn("_b", b_fact).join(F.broadcast(g), "_b")
    dist = F.abs(F.col(coord_col) - F.col(value_col))
    best = cand.groupBy(*key_cols).agg(
        F.min(F.struct(dist.alias("dist"), F.col(id_col).alias("nearest"))).alias("_m")
    )
    return best.select(
        *key_cols,
        F.col("_m.nearest").alias(f"nearest_{id_col}"),
        F.col("_m.dist").alias("dist"),
    )


def grid_resolution_check(grid_df: DataFrame, axis: str = "lon") -> float:
    """Assert uniform spacing, else raise — the reference's
    get_grid_resolution 'Grid not regular' guard (grid.py:59-83)."""
    from pyspark.sql import Window

    w = Window.orderBy(axis)
    diffs = (
        grid_df.select(axis)
        .distinct()
        .withColumn("_d", F.round(F.col(axis) - F.lag(axis).over(w), 9))
        .where(F.col("_d").isNotNull())
        .agg(
            F.countDistinct("_d").alias("n"),
            F.first("_d").alias("res"),
        )
        .collect()[0]
    )
    if diffs["n"] != 1:
        raise ValueError("Grid not regular")
    return abs(float(diffs["res"]))
