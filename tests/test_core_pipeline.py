"""End-to-end slice: bronze -> dedup -> reshuffle -> silver -> point read.

Models the reference's golden reshuffle round-trip
(tests/tests_era5/test_era5_reshuffle.py:108-146): run the pipeline on a
small fixture, assert exact point values, sortedness, and prelim exclusion.
"""

import random
import shutil

import pandas as pd
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from ecmwf_models_spark.grid import xxhash64
from ecmwf_models_spark.lineage import read_table_attrs

from ecmwf_models_spark.operators.dedup import latest_final_wins
from ecmwf_models_spark.operators.pointread import TsReader, cell_id_for
from ecmwf_models_spark.operators.reshuffle import (
    read_silver,
    reshuffle,
    write_silver,
)


def test_dedup_drops_sentinel(bronze):
    out = latest_final_wins(bronze)
    assert out.where(F.col("text") == "PRELIM-99").count() == 0
    # exactly one row per (conv_id, turn_idx)
    assert (
        out.groupBy("conv_id", "turn_idx").count().where("count > 1").count()
        == 0
    )
    # and dedup never invents or loses keys
    assert (
        out.select("conv_id", "turn_idx").distinct().count()
        == bronze.select("conv_id", "turn_idx").distinct().count()
    )


def test_reshuffle_roundtrip(tmp_path, spark, bronze):
    path = str(tmp_path / "silver")
    silver = reshuffle(bronze, n_cells=16, num_partitions=8)
    write_silver(silver, path)

    back = read_silver(spark, path)
    base = latest_final_wins(bronze)
    assert back.count() == base.count()

    # prelim sentinel must not leak (test_era5_reshuffle.py:61-74 analogue)
    assert back.where(F.col("text") == "PRELIM-99").count() == 0

    # per-turn text equality under stable (conv_id, turn_idx) ordering —
    # the north-star anti-join diff: ours vs reference-semantics input.
    ours = back.select("conv_id", "turn_idx", "text")
    ref = base.select("conv_id", "turn_idx", "text")
    assert ours.join(ref, ["conv_id", "turn_idx", "text"], "left_anti").count() == 0
    assert ref.join(ours, ["conv_id", "turn_idx", "text"], "left_anti").count() == 0

    # cell routing is consistent: every row's cell matches cell_of(conv_id)
    assert (
        back.where(
            F.col("cell_id")
            != F.pmod(F.xxhash64("conv_id"), F.lit(16)).cast("int")
        ).count()
        == 0
    )


def test_silver_file_order_sorted(tmp_path, spark, bronze):
    """Physical ordering invariant: rows inside each parquet file are
    sorted by (conv_id, ts) — the OrthoMultiTs sortedness regression
    (reference CHANGELOG.rst:9-12; test_era5_reshuffle.py:100-103)."""
    import glob

    path = str(tmp_path / "silver2")
    write_silver(reshuffle(bronze, n_cells=16, num_partitions=8), path)
    files = glob.glob(path + "/cell_id=*/*.parquet")
    assert files
    for f in files[:20]:
        pdf = pd.read_parquet(f, columns=["conv_id", "ts"])
        key = list(zip(pdf["conv_id"], pdf["ts"]))
        assert key == sorted(key), f"unsorted rows in {f}"


def test_point_read(tmp_path, spark, bronze):
    path = str(tmp_path / "silver3")
    write_silver(reshuffle(bronze, n_cells=16, num_partitions=8), path)

    r = TsReader(spark, path, n_cells=16, read_bulk=True)
    pdf = r.read("conv-000007")
    assert len(pdf) == 12  # turns_per_conv for a non-hot conv
    assert list(pdf["turn_idx"]) == sorted(pdf["turn_idx"])
    assert pdf.index.is_monotonic_increasing
    # exact golden point values (the swvl1@(15,48) analogue):
    assert pdf["text_len"].notna().all()
    assert (pdf["tool_call"].iloc[2::3] == 1.0).all()

    # affine rescale at read (interface.py:694-714)
    r2 = TsReader(
        spark, path, n_cells=16,
        parameters=["text_len"], scale_factors={"text_len": 2.0},
        offsets={"text_len": 1.0},
    )
    pdf2 = r2.read("conv-000007")
    assert (pdf2["text_len"].values == pdf["text_len"].values * 2 + 1).all()
    r.close()


def test_cell_routing_matches_write(spark, tmp_path, bronze):
    """Driver-side routing sends every conv to the cell_id= directory the
    write path put it in."""
    path = str(tmp_path / "silver_route")
    write_silver(reshuffle(bronze, n_cells=16, num_partitions=8), path)
    on_disk = (
        spark.read.parquet(path).select("conv_id", "cell_id").distinct().collect()
    )
    assert len(on_disk) == bronze.select("conv_id").distinct().count()
    for r in on_disk:
        cid = cell_id_for(spark, r["conv_id"], 16)
        assert 0 <= cid < 16
        assert cid == r["cell_id"], r


def _hash_inputs(n: int = 5000) -> list[str]:
    """Strings of every length 0-100 (the 32-byte stripe loop and the 8-,
    4- and 1-byte tails), mixing ASCII, 2-/3-byte UTF-8 and emoji."""
    rng = random.Random(7)
    alphabet = "abcXYZ019-_ ~\x00éßΩ中文字😀🚀"
    out = ["", "conv-000007", "é", "😀", "中" * 11]
    while len(out) < n:
        k = len(out) % 101
        out.append("".join(rng.choice(alphabet) for _ in range(k)))
    return out


def test_cell_id_for_matches_spark_xxhash64(spark):
    """The driver's pure-Python XXH64 is bit-identical to F.xxhash64, and
    cell_id_for to the write path's pmod(xxhash64(conv_id), n)."""
    strs = _hash_inputs()
    assert len(strs) >= 5000
    lengths = {len(x.encode("utf-8")) for x in strs}
    assert set(range(101)) <= lengths
    ns = (1, 7, 8, 64, 256)
    rows = (
        spark.createDataFrame([(x,) for x in strs], "s string")
        .select(
            "s",
            F.xxhash64("s").alias("h"),
            *[
                F.pmod(F.xxhash64("s"), F.lit(n)).cast("int").alias(f"c{n}")
                for n in ns
            ],
        )
        .collect()
    )
    assert len(rows) == len(strs)
    for r in rows:
        assert xxhash64(r["s"].encode("utf-8")) == r["h"], r["s"]
        for n in ns:
            assert cell_id_for(spark, r["s"], n) == r[f"c{n}"], (r["s"], n)


def _spark_ordered_read(spark, path, conv_id, n_cells, parameters=None,
                        scale_factors=None, offsets=None):
    """The point read as one Spark query with a global orderBy — the
    reference order TsReader.read must reproduce."""
    cell = F.pmod(F.xxhash64(F.lit(conv_id)), F.lit(n_cells)).cast("int")
    df = (
        spark.read.parquet(path)
        .where((F.col("cell_id") == cell) & (F.col("conv_id") == conv_id))
        .orderBy("ts", "turn_idx")
    )
    if parameters:
        df = df.select("ts", *parameters)
    for c, sf in (scale_factors or {}).items():
        df = df.withColumn(c, F.col(c) * F.lit(sf))
    for c, off in (offsets or {}).items():
        df = df.withColumn(c, F.col(c) + F.lit(off))
    pdf = df.toPandas().set_index("ts")
    attrs = read_table_attrs(spark, f"{path}/_meta")
    pdf.attrs["var_attrs"] = {c: attrs[c] for c in pdf.columns if c in attrs}
    return pdf


@pytest.fixture(scope="module")
def silver16(spark, bronze, tmp_path_factory):
    """Silver whose rows sit in scrambled order inside each cell file, plus
    one null-ts turn, so the read's order comes from its own sort and
    NULLs must go first (Spark's ASC NULLS FIRST), not from the layout."""
    null_ts = bronze.where(
        "conv_id = 'conv-000007' AND turn_idx = 0 AND NOT is_prelim"
    ).withColumns({"turn_idx": F.lit(99), "ts": F.lit(None).cast("timestamp")})
    silver = reshuffle(
        bronze.unionByName(null_ts), n_cells=16, num_partitions=8
    ).sortWithinPartitions("cell_id", F.xxhash64("conv_id", "turn_idx", "text"))
    path = str(tmp_path_factory.mktemp("read_eq") / "silver")
    write_silver(silver, path)
    return path


def test_read_matches_spark_ordered_query(spark, bronze, silver16):
    """Driver-side sort == Spark's orderBy("ts", "turn_idx"), for every
    conv, including the hot conv whose turns share ts values."""
    hot = (
        bronze.where("conv_id = 'conv-000000'")
        .groupBy("ts").count().where("count > 1").count()
    )
    assert hot > 0  # ties on ts exist, so turn_idx decides the order
    r = TsReader(spark, silver16, n_cells=16)
    convs = sorted(x[0] for x in bronze.select("conv_id").distinct().collect())
    for conv in convs + ["conv-999999"]:  # plus an unknown conv: empty
        got = r.read(conv)
        want = _spark_ordered_read(spark, silver16, conv, 16)
        pd.testing.assert_frame_equal(got, want)
        assert got.attrs == want.attrs


@pytest.mark.parametrize(
    "kw",
    [
        dict(parameters=["text_len"]),
        dict(parameters=["turn_idx", "text_len"]),
        dict(parameters=["text_len", "tool_call"],
             scale_factors={"text_len": 2.0}, offsets={"tool_call": -1.0}),
        dict(scale_factors={"text_len": 0.5}, offsets={"text_len": 3.0}),
        dict(read_bulk=True),
        dict(read_bulk=True, parameters=["role"]),
    ],
)
def test_read_options_match_spark_ordered_query(spark, silver16, kw):
    r = TsReader(spark, silver16, n_cells=16, **kw)
    opts = {k: v for k, v in kw.items() if k != "read_bulk"}
    for conv in ("conv-000000", "conv-000007", "conv-000012"):
        got = r.read(conv)
        want = _spark_ordered_read(spark, silver16, conv, 16, **opts)
        pd.testing.assert_frame_equal(got, want)
        assert got.attrs == want.attrs
    r.close()


def test_read_touches_only_its_cell(spark, bronze, silver16, tmp_path):
    """With every other cell's files corrupted, reads of one cell still
    equal the Spark query: a read opens only its own cell directory."""
    import glob
    import os

    path = str(shutil.copytree(silver16, tmp_path / "silver"))
    cell = cell_id_for(spark, "conv-000007", 16)
    convs = sorted(
        x[0] for x in bronze.select("conv_id").distinct().collect()
    )
    mine = [c for c in convs if cell_id_for(spark, c, 16) == cell]
    other = next(c for c in convs if cell_id_for(spark, c, 16) != cell)
    want = {c: _spark_ordered_read(spark, path, c, 16) for c in mine}
    readers = [TsReader(spark, path, n_cells=16, read_bulk=b) for b in (False, True)]

    corrupted = 0
    for f in glob.glob(f"{path}/cell_id=*/*"):
        if os.path.basename(os.path.dirname(f)) != f"cell_id={cell}":
            with open(f, "wb") as fh:
                fh.write(b"not a parquet file")
            corrupted += 1
    assert corrupted

    for r in readers:
        for c in mine:
            got = r.read(c)
            pd.testing.assert_frame_equal(got, want[c])
            assert got.attrs == want[c].attrs
        with pytest.raises(pa.ArrowInvalid):  # the corruption is real
            r.read(other)
        r.close()


@pytest.mark.parametrize(
    "kw",
    [{}, dict(parameters=["text_len", "role"]), dict(read_bulk=True)],
)
def test_read_of_cell_without_directory(spark, silver16, tmp_path, kw):
    """A read routed to a cell with no directory returns the Spark query's
    empty frame: same columns, dtypes and index."""
    path = str(shutil.copytree(silver16, tmp_path / "silver"))
    cell = cell_id_for(spark, "conv-000007", 16)
    shutil.rmtree(f"{path}/cell_id={cell}")
    opts = {k: v for k, v in kw.items() if k != "read_bulk"}
    want = _spark_ordered_read(spark, path, "conv-000007", 16, **opts)
    assert want.empty
    r = TsReader(spark, path, n_cells=16, **kw)
    got = r.read("conv-000007")
    pd.testing.assert_frame_equal(got, want)
    assert got.attrs == want.attrs
    r.close()


def test_read_shows_session_time_zone(spark, silver16):
    """Timestamps come back as naive wall time in the session time zone,
    as Spark's toPandas shows them."""
    key = "spark.sql.session.timeZone"
    old = spark.conf.get(key)
    spark.conf.set(key, "America/New_York")
    try:
        r = TsReader(spark, silver16, n_cells=16)
        for conv in ("conv-000007", "conv-000012"):
            got = r.read(conv)
            want = _spark_ordered_read(spark, silver16, conv, 16)
            pd.testing.assert_frame_equal(got, want)
    finally:
        spark.conf.set(key, old)
