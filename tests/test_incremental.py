"""Incremental extend: the update_ts golden test translated
(reference tests/tests_era5/test_era5_reshuffle.py:81-105 — append the
preceding day's 12:00 image; merged series must be in time order and
contain both points)."""

import glob

import pandas as pd
from pyspark.sql import functions as F

from ecmwf_models_spark.incremental import extend_silver, stored_end
from ecmwf_models_spark.operators.pointread import TsReader
from ecmwf_models_spark.operators.reshuffle import reshuffle, write_silver
from ecmwf_models_spark.synth import gen_transcripts


def test_extend_merges_in_time_order(tmp_path, spark):
    # initial load: 2 days
    initial = gen_transcripts(spark, n_conv=40, days=2, turns_per_conv=8)
    path = str(tmp_path / "silver")
    write_silver(reshuffle(initial, n_cells=8, num_partitions=4), path)
    end0 = stored_end(spark, path)

    # extension batch: same convs, LATER turns (days 3-4) + one EARLIER
    # backfill turn (the update_ts case appends a preceding timestamp)
    later = gen_transcripts(
        spark, n_conv=40, days=4, turns_per_conv=16
    ).where(F.col("turn_idx") >= 8)
    backfill = (
        gen_transcripts(spark, n_conv=40, days=2, turns_per_conv=8)
        .where((F.col("conv_id") == "conv-000005") & (F.col("turn_idx") == 0))
        .withColumn("ts", F.col("ts") - F.expr("INTERVAL 12 HOURS"))
        .withColumn("turn_idx", F.lit(-1))
    )
    batch = later.unionByName(backfill)

    affected = extend_silver(spark, path, batch, n_cells=8)
    assert affected  # some cells touched

    full = spark.read.parquet(path)
    # upsert: still exactly one row per (conv_id, turn_idx)
    assert (
        full.groupBy("conv_id", "turn_idx").count().where("count>1").count()
        == 0
    )
    # extension actually extended
    assert stored_end(spark, path) > end0

    # merged series in time order incl. the backfilled earlier point
    r = TsReader(spark, path, n_cells=8)
    s = r.read("conv-000005")
    assert s.index.is_monotonic_increasing
    assert (s["turn_idx"] == -1).sum() == 1  # backfill merged in
    assert len(s) == 16 + 1

    # ordering invariant inside rewritten parquet files (CHANGELOG.rst:9-12)
    for f in glob.glob(path + "/cell_id=*/*.parquet")[:10]:
        pdf = pd.read_parquet(f, columns=["conv_id", "ts"])
        key = list(zip(pdf["conv_id"], pdf["ts"]))
        assert key == sorted(key), f


def test_extend_upsert_revises_text(tmp_path, spark):
    """Late revision: a FINAL row arriving for a (conv_id, turn_idx) that
    exists replaces it (ERA5-T -> ERA5 revision, reference I4)."""
    initial = gen_transcripts(spark, n_conv=10, days=2, turns_per_conv=6)
    path = str(tmp_path / "silver_u")
    write_silver(reshuffle(initial, n_cells=8, num_partitions=4), path)

    revision = (
        initial.where(
            (F.col("conv_id") == "conv-000002") & (F.col("turn_idx") == 3)
            & (~F.col("is_prelim"))
        )
        .withColumn("text", F.lit("REVISED"))
        .withColumn("ingest_ts", F.col("ingest_ts") + F.expr("INTERVAL 2 HOURS"))
    )
    extend_silver(spark, path, revision, n_cells=8)

    got = (
        spark.read.parquet(path)
        .where("conv_id='conv-000002' and turn_idx=3")
        .select("text")
        .collect()
    )
    assert len(got) == 1 and got[0][0] == "REVISED"


def test_extend_uses_persisted_run_kwargs(tmp_path, spark):
    """I2 idempotent-settings contract (reference reshuffle.py:280-295):
    extend without kwargs resumes with the reshuffle-time settings from
    <silver>/_settings; an explicit kwarg overrides."""
    from ecmwf_models_spark.lineage import (
        read_run_settings,
        write_run_settings,
    )

    initial = gen_transcripts(spark, n_conv=20, days=2, turns_per_conv=6)
    path = str(tmp_path / "silver_kw")
    write_silver(reshuffle(initial, n_cells=8, num_partitions=4), path)
    write_run_settings(spark, f"{path}/_settings", {"n_cells": 8})

    # settings survive dynamic-partition extends and round-trip
    assert read_run_settings(spark, f"{path}/_settings") == {"n_cells": "8"}

    later = gen_transcripts(
        spark, n_conv=20, days=3, turns_per_conv=9
    ).where(F.col("turn_idx") >= 6)
    # NO n_cells passed: must pick up 8 from settings -> cell ids < 8
    affected = extend_silver(spark, path, later)
    assert affected and max(affected) < 8
    assert read_run_settings(spark, f"{path}/_settings") == {"n_cells": "8"}

    # a second settings write with a newer value wins (latest committed_at)
    write_run_settings(spark, f"{path}/_settings", {"n_cells": 16})
    assert read_run_settings(spark, f"{path}/_settings") == {"n_cells": "16"}


def test_extend_dedups_batch_like_reshuffle(tmp_path, spark):
    """Duplicate keys inside one batch resolve as the reshuffle resolves
    them: NULL is_prelim counts as final and NULL ingest_ts falls back to
    ts. A pre-dedup of the batch with NULLs-first/last window ordering
    kept the other row of each pair."""
    import datetime as dt

    initial = gen_transcripts(spark, n_conv=10, days=2, turns_per_conv=6)
    path = str(tmp_path / "silver_nulls")
    write_silver(reshuffle(initial, n_cells=8, num_partitions=4), path)

    t = dt.datetime(2010, 1, 5)
    h = dt.timedelta(hours=1)
    rows = [
        # key A: same ts; a NULL-prelim row ingested early vs a final row
        # with no ingest_ts (falls back to ts, the later time)
        (100, "A-null-prelim-early", t, None, t - h),
        (100, "A-null-ingest", t, False, None),
        # key B: a row ingested at 09:00 vs a later final row with no
        # ingest_ts (falls back to its ts, 12:00)
        (101, "B-ingest-9h", t + 6 * h, False, t + 9 * h),
        (101, "B-final-late", t + 12 * h, False, None),
    ]
    batch = spark.createDataFrame(
        [
            dict(conv_id="conv-000001", turn_idx=k, role="user", text=text,
                 tool=None, ts=ts, is_prelim=prelim, ingest_ts=ingest)
            for k, text, ts, prelim, ingest in rows
        ],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp, is_prelim boolean, ingest_ts timestamp",
    )
    extend_silver(spark, path, batch, n_cells=8)

    def kept(df):
        return {
            r["turn_idx"]: r["text"]
            for r in df.where("conv_id = 'conv-000001' AND turn_idx >= 100")
            .select("turn_idx", "text")
            .collect()
        }

    got = kept(spark.read.parquet(path))
    assert got == {100: "A-null-ingest", 101: "B-final-late"}
    assert got == kept(reshuffle(batch, n_cells=8, num_partitions=4))
