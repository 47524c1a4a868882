"""Engine benchmark: named workloads against the engine's public functions.

    python3 perfbench/run.py --workload retention_batch --seed 1 \\
        --seconds 20 --trace 0

Run from the repository root. The last stdout line is one JSON object
{"correct", "attempted", "failed", "metrics"}: with --trace 0 the
end-to-end metrics of BENCHMARK.json, measured untraced; with --trace 1
the per-layer metrics of the same run traced (spans + Spark REST
metrics), its own end-to-end figures as `traced.<metric>` (minus the
untraced runs' medians: the tracing overhead) and the tracer's own
bookkeeping and REST time as `overhead.*`. Exits 1 when an output check
fails, 2 when the engine package is missing.

Workloads (inputs depend only on --seed):
  retention_batch  The BASELINE job per round, in the run's fresh JVM:
                   bronze -> reshuffle -> silver written -> hourly/daily/
                   monthly tiers through the resumable lineage writer ->
                   gap-fill written -> packed tier (pack_cells_stream over
                   the in-plan reshuffle). Then the next day's batch is
                   appended to the round's silver and 24 point reads are
                   served (the first 4 untimed).
  append_and_read  Silver written during set-up, which ends with one
                   unmeasured append and 6 reads. One closed-loop client
                   then repeats: append a one-day batch with extend_silver,
                   reopen the reader, then 10 point reads, half on the
                   just-appended convs and half spread over all convs.

A run measures whole rounds until --seconds have passed and it has timed
the workload's least number of reads.

Each step makes the calls the matching `cli.cmd_*` subcommand makes, but
calls the modules directly so each layer gets its own span.

Run hygiene: every round writes to fresh output and lineage dirs;
spark.catalog.clearCache() runs before every round; the checkout root is
on the workers' PYTHONPATH; heap and off-heap are sized through
SPARK_DRIVER_MEM / SPARK_GRAFT_OFFHEAP_SIZE; cores = the CPUs this
process may run on; shuffle partitions come from
sized_shuffle_partitions; SPARK_GRAFT_FAST_COMMIT is removed so writes
use the CLI's default v1 committer. All files, Spark local dirs and temp
files stay under .perfbench_work/ in the checkout and are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from collections import Counter
from contextlib import nullcontext
from dataclasses import dataclass, field

import numpy as np

import checks
import inputs
from procstat import TreeSampler, tree_pids, tree_usage
from spans import STAGE_FIELDS, Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# per workload: input size, whether a round runs the batch job, point
# reads per append, the least reads a run times, and how many reads of a
# round go untimed (the read path's first call compiles it)
WORKLOADS = {
    "retention_batch": dict(
        n_conv=600, days=30, build=True,
        reads_per_append=24, min_reads=0, warm_reads=4,
    ),
    "append_and_read": dict(
        n_conv=600, days=30, build=False,
        reads_per_append=10, min_reads=50, warm_reads=0,
    ),
}
# the benchmark's own tests run every workload at this size
TINY = dict(n_conv=40, days=4, reads_per_append=4, min_reads=3, warm_reads=1)
# Cells of silver and tiers, on every workload. The rows in a cell set how
# many rows a point read scans and an append rewrites, so the cell count
# keeps the rows per cell of the 20k-conversation reference input
# (~0.75M turns in 256 cells, ~2.9k rows a cell): 600 conversations give
# ~22.5k turns, ~2.8k rows a cell in 8 cells.
N_CELLS = 8
# append_and_read's set-up ends with one unmeasured append + reads, so the
# measured loop does not time the JVM compiling the extend and read paths
WARMUP = dict(reads_per_append=6, min_reads=0, warm_reads=0)
TURNS = 24
N_BATCHES = 12
DRIVER_MEM = "2g"
OFFHEAP = "1g"
TIERS = ("hourly", "daily", "monthly")


@dataclass
class Inputs:
    dir: str
    bronze: str
    n_turns: int
    batches: list  # (path, touched convs, rows), applied in order
    silver: str | None = None
    next_batch: int = 0


@dataclass
class Phase:
    """What one measured phase observed."""

    job_s: list = field(default_factory=list)
    job_cpu_s: list = field(default_factory=list)
    stored_bytes: list = field(default_factory=list)
    append_s: list = field(default_factory=list)
    append_rows: list = field(default_factory=list)
    read_s: list = field(default_factory=list)
    loop_cpu_s: float = 0.0
    peak_rss: dict = field(default_factory=dict)  # layer -> bytes
    attempted: int = 0
    failed: int = 0
    fails: list = field(default_factory=list)
    counts: Counter = field(default_factory=Counter)


# ------------------------------------------------------------ environment


def configure_env(work: str, cores: int) -> None:
    for d in ("tmp", "spark-local"):
        os.makedirs(f"{work}/{d}", exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = f"{work}/tmp"
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/spark-local"
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_OFFHEAP_SIZE"] = OFFHEAP
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ.pop("SPARK_GRAFT_FAST_COMMIT", None)
    os.environ.pop("SPARK_GRAFT_VIA_SUBMIT", None)


def start_spark(work: str, cores: int, traced: bool):
    from ecmwf_models_spark.session import get_spark

    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp",
        "spark.ui.enabled": "true" if traced else "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }
    return get_spark("perfbench", cores=cores, extra_conf=conf)


def stop_jvm() -> None:
    """Stop Spark and the JVM it launched, then wait for every process
    this run started to end."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    pids = tree_pids() - {os.getpid()}
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 30
    while pids and time.time() < deadline:
        pids = {p for p in pids if os.path.exists(f"/proc/{p}")}
        time.sleep(0.1)
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


# ------------------------------------------------------------------ steps
#
# One function per engine step. Each makes the calls of the matching
# cli.cmd_* subcommand inside a span named after its layer. Engine imports
# are local: main() puts the checkout root on sys.path only once it has
# checked that the engine package is there.


def step_ingest(spark, tr, spec, path, seed):
    """cmd_ingest: date-partitioned bronze."""
    from pyspark.sql import functions as F

    from ecmwf_models_spark.synth import gen_transcripts

    with tr.span("synth.gen", "synth"):
        df = gen_transcripts(
            spark, n_conv=spec["n_conv"], days=spec["days"],
            turns_per_conv=TURNS, seed=seed,
        )
        df = df.withColumn("ds", F.to_date("ts"))
        df.write.mode("overwrite").partitionBy("ds").parquet(path)


def step_reshuffle(spark, tr, bronze_path, silver_path, n_cells):
    """cmd_reshuffle; returns the in-plan silver for the packed tier."""
    from ecmwf_models_spark.lineage import write_run_settings
    from ecmwf_models_spark.operators.reshuffle import reshuffle, write_silver

    with tr.span("reshuffle", "reshuffle"):
        bronze = spark.read.parquet(bronze_path)
        silver = reshuffle(bronze, n_cells=n_cells, salt_segment_hours=None)
        write_silver(silver, silver_path)
        write_run_settings(
            spark, f"{silver_path}/_settings",
            {"n_cells": n_cells, "salt_segment_hours": None},
        )
    return silver


def step_tiers(spark, tr, silver_path, out, n_cells):
    """The engine's default one-shuffle cascade written through the
    CLI's resumable writer (cmd_rollup's writer calls)."""
    from ecmwf_models_spark.grid import with_cell_id
    from ecmwf_models_spark.lineage import ResumableTierWriter
    from ecmwf_models_spark.operators.rollup import finalize, rollup_tiers

    with tr.span("rollup", "rollup"):
        tiers = rollup_tiers(spark.read.parquet(silver_path))
        frames = {t: with_cell_id(finalize(tiers[t]), n_cells) for t in TIERS}
    writers = {}
    for tier in TIERS:
        with tr.span(f"lineage.{tier}", "lineage"):
            w = ResumableTierWriter(
                spark, f"{out}/{tier}", f"{out}/_lineage", tier=tier
            )
            w.run(frames[tier])
        writers[tier] = (w, frames[tier])
    return writers


def step_gapfill(spark, tr, silver_path, out):
    from ecmwf_models_spark.operators.gapfill import gap_fill

    with tr.span("gapfill", "gapfill"):
        gap_fill(spark.read.parquet(silver_path)).write.mode(
            "overwrite"
        ).parquet(out)


def step_pack(tr, silver_plan, out):
    from ecmwf_models_spark.codec import pack_cells_stream

    with tr.span("codec", "codec"):
        pack_cells_stream(silver_plan).write.mode("overwrite").parquet(out)


def step_extend(spark, tr, silver_path, batch_path):
    """cmd_extend with n_cells from the stored run settings."""
    from ecmwf_models_spark.incremental import extend_silver

    with tr.span("incremental", "incremental"):
        new_bronze = spark.read.parquet(batch_path)
        return extend_silver(spark, silver_path, new_bronze, n_cells=None)


def step_open_reader(spark, tr, silver_path):
    """cmd_read's set-up: stored n_cells, then the reader."""
    from ecmwf_models_spark.lineage import read_run_settings
    from ecmwf_models_spark.operators.pointread import TsReader

    with tr.span("pointread.open", "pointread"):
        stored = read_run_settings(spark, f"{silver_path}/_settings")
        return TsReader(spark, silver_path, n_cells=int(stored["n_cells"]))


def step_read(tr, reader, conv_id):
    with tr.span("pointread.read", "pointread"):
        return reader.read(conv_id)


# ---------------------------------------------------------------- phases


def prepare(spark, tr, con, spec, dir_, seed) -> Inputs:
    """Input generation: bronze, append batches and (for workloads
    without a build step) the silver they append to."""
    from ecmwf_models_spark.session import sized_shuffle_partitions


    bronze = f"{dir_}/bronze"
    step_ingest(spark, tr, spec, bronze, seed)
    n_turns = checks.count_rows(con, bronze)
    partitions = sized_shuffle_partitions(
        n_turns, int(os.environ["SPARK_GRAFT_CPUS"])
    )
    spark.conf.set("spark.sql.shuffle.partitions", str(partitions))
    with tr.span("synth.batches", "synth"):
        batches = inputs.write_batches(
            con, bronze, f"{dir_}/batches", spec["days"], N_BATCHES, seed
        )
    inp = Inputs(dir_, bronze, n_turns, batches)
    if not spec["build"]:
        inp.silver = f"{dir_}/silver"
        step_reshuffle(spark, tr, bronze, inp.silver, N_CELLS)
    return inp


def run_rounds(spark, tr, con, spec, inp, seconds, rng, ph, sampler, traced):
    """The measured loop. Returns per-round records for the checks."""

    rounds = []
    n_conv = spec["n_conv"]
    t_start = time.perf_counter()
    cpu0, _ = tree_usage()
    while inp.next_batch < len(inp.batches):
        elapsed = time.perf_counter() - t_start
        if rounds and elapsed >= seconds and len(ph.read_s) >= spec["min_reads"]:
            break
        spark.catalog.clearCache()
        rec = {"reads": []}
        with tr.span("round"):
            if spec["build"]:
                out = f"{inp.dir}/round-{len(rounds):03d}"
                rec.update(out=out, sources=[inp.bronze])
                silver = f"{out}/silver"
                with tr.span("job"):
                    c0, _ = tree_usage()
                    t0 = time.perf_counter()
                    ph.attempted += 1
                    plan = step_reshuffle(
                        spark, tr, inp.bronze, silver, N_CELLS
                    )
                    rec["writers"] = step_tiers(
                        spark, tr, silver, f"{out}/tiers", N_CELLS
                    )
                    step_gapfill(spark, tr, silver, f"{out}/gapfill")
                    step_pack(tr, plan, f"{out}/packed")
                    ph.job_s.append(time.perf_counter() - t0)
                    ph.job_cpu_s.append(tree_usage()[0] - c0)
                ph.stored_bytes.append(
                    sum(
                        checks.dir_bytes(f"{out}/{d}")[1]
                        for d in ("silver", "tiers", "packed")
                    )
                )
                if traced:  # silver before the append; the rest after
                    files, size = checks.dir_bytes(silver)
                    ph.counts["silver_rows"] += checks.count_rows(con, silver)
                    ph.counts["silver_files"] += files
                    ph.counts["silver_bytes"] += size
            else:
                silver = inp.silver
            batch, touched, n_rows = inp.batches[inp.next_batch]
            inp.next_batch += 1
            ph.attempted += 1
            t0 = time.perf_counter()
            cells = step_extend(spark, tr, silver, batch)
            ph.append_s.append(time.perf_counter() - t0)
            ph.append_rows.append(n_rows)
            if traced:
                count_append(con, silver, cells, n_rows, ph.counts)
            if spec["build"]:
                rec["state"] = [inp.bronze, batch]
            else:
                rec["state"] = [inp.bronze] + [
                    p for p, _, _ in inp.batches[: inp.next_batch]
                ]
            reader = step_open_reader(spark, tr, silver)
            half = spec["reads_per_append"] // 2
            convs = [touched[i] for i in rng.integers(len(touched), size=half)]
            convs += [
                f"conv-{i:06d}"
                for i in rng.integers(n_conv, size=spec["reads_per_append"] - half)
            ]
            for i, conv in enumerate(convs):
                ph.attempted += 1
                t0 = time.perf_counter()
                pdf = step_read(tr, reader, conv)
                if i >= spec["warm_reads"]:
                    ph.read_s.append(time.perf_counter() - t0)
                rec["reads"].append((conv, read_rows(pdf)))
            if traced:
                ph.counts["rows_returned"] += sum(
                    len(r) for _, r in rec["reads"]
                )
        rounds.append(rec)
    ph.loop_cpu_s = tree_usage()[0] - cpu0
    if sampler is not None:
        ph.peak_rss = dict(sampler.peaks)
    return rounds


def read_rows(pdf) -> list[tuple]:
    ts = pdf.index.values.astype("datetime64[us]").astype("int64")
    return list(zip(ts.tolist(), pdf["turn_idx"].tolist(), pdf["text"].tolist()))


def count_build(con, out, inp, counts) -> None:
    """Trace-only counts of one build round's tiers, gap-fill and packed
    tier, from the files it wrote."""

    counts["bronze_rows"] += inp.n_turns
    for tier in TIERS:
        counts[f"{tier}_rows"] += checks.count_rows(con, f"{out}/tiers/{tier}")
    n, size = checks.dir_bytes(f"{out}/tiers")
    counts["tier_files"] += n
    counts["tier_bytes"] += size
    gap = checks.parquet_files(f"{out}/gapfill")
    rows, gaps = con.execute(
        f"SELECT count(*), count(*) FILTER (WHERE n_turns = 0) "
        f"FROM {checks.scan(gap)}"
    ).fetchone()
    counts["gapfill_rows"] += rows
    counts["gapfill_gaps"] += gaps
    counts["packed_rows"] += checks.count_rows(con, f"{out}/packed")
    counts["packed_bytes"] += checks.dir_bytes(f"{out}/packed")[1]


def count_append(con, silver, cells, n_rows, counts) -> None:

    counts["cells_rewritten"] += len(cells)
    counts["rows_appended"] += n_rows
    for c in cells:
        counts["rows_rewritten"] += checks.count_rows(con, f"{silver}/cell_id={c}")
        counts["bytes_rewritten"] += checks.dir_bytes(f"{silver}/cell_id={c}")[1]


def check_rounds(spark, con, inp, rounds) -> list[str]:
    """Every output check, outside the timed spans."""
    from ecmwf_models_spark.codec import unpack_cells

    fails = []
    by_state: dict[tuple, list] = {}
    for rec in rounds:
        by_state.setdefault(tuple(rec["state"]), []).extend(rec["reads"])
        if "out" not in rec:
            continue
        out, src = rec["out"], rec["sources"]
        fails += checks.check_silver(con, f"{out}/silver", rec["state"])
        fails += checks.check_tiers(con, f"{out}/tiers", src)
        for tier, (w, df) in rec["writers"].items():
            if not w.verify(df):
                fails.append(f"tier {tier}: lineage verify() is false")
        unpacked = unpack_cells(spark.read.parquet(f"{out}/packed")).toPandas()
        fails += checks.check_unpacked(con, unpacked, src)
    if inp.silver:
        fails += checks.check_silver(con, inp.silver, rounds[-1]["state"])
    for state, reads in by_state.items():
        fails += checks.check_reads(con, reads, list(state))
    return fails


def measure(spark, tr, con, spec, inp, args, rng, sampler, traced) -> Phase:
    """One measured loop and its output checks."""
    ph = Phase()
    t0 = time.perf_counter()
    try:
        rounds = run_rounds(
            spark, tr, con, spec, inp, args.seconds, rng, ph, sampler, traced
        )
    except Exception:
        traceback.print_exc()
        ph.failed += 1
        ph.fails.append("an operation raised")
        return ph
    t1 = time.perf_counter()
    if traced:
        t_rest = time.perf_counter()
        tr.collect_spark_metrics()
        ph.counts["rest_s"] = time.perf_counter() - t_rest
        for rec in rounds:
            if "out" in rec:
                count_build(con, rec["out"], inp, ph.counts)
    ph.fails += check_rounds(spark, con, inp, rounds)
    print(
        f"perfbench: {len(rounds)} rounds in {t1 - t0:.1f} s, "
        f"checks {time.perf_counter() - t1:.1f} s",
        file=sys.stderr,
    )
    ph.counts["bronze_turns"] = inp.n_turns
    if inp.silver:
        ph.counts["final_silver_rows"] = checks.count_rows(con, inp.silver)
        ph.stored_bytes.append(checks.dir_bytes(inp.silver)[1])
    return ph


def run(args, spec, work, cores, sampler, traced) -> tuple:
    """One full run in a fresh JVM: set up, measure, check, stop.
    Returns (Phase, setup_s, Tracer)."""


    tr = Tracer(run_id=f"{args.workload}-{args.seed}-{os.getpid()}", enabled=traced)
    con = checks.connect()
    rng = np.random.default_rng(args.seed)
    if sampler is not None:
        sampler.label = tr.current_layer
    try:
        t0 = time.perf_counter()
        with tr.span("setup"):
            with tr.span("session.start", "session"):
                spark = start_spark(work, cores, traced)
            tr.spark = spark
            inp = prepare(spark, tr, con, spec, f"{work}/inputs", args.seed)
            if not spec["build"]:
                with tr.span("warmup"):
                    run_rounds(spark, tr, con, dict(spec, **WARMUP), inp, 0,
                               rng, Phase(), sampler, False)
        setup_s = time.perf_counter() - t0
        ph = measure(spark, tr, con, spec, inp, args, rng, sampler, traced)
        if traced:
            tr.dump(f"{work}/spans.json")
    finally:
        con.close()
        stop_jvm()
    return ph, setup_s, tr


# --------------------------------------------------------------- metrics


def end_to_end(spec, ph: Phase, setup_s: float) -> dict:
    med = statistics.median
    if spec["build"]:
        turns = ph.counts["bronze_turns"]
        turns_per_s = turns / med(ph.job_s)
        cpu = 1e6 * med(ph.job_cpu_s) / turns
        stored = med(ph.stored_bytes) / turns
    else:
        appended = sum(ph.append_rows)
        turns_per_s = appended / sum(ph.append_s)
        cpu = 1e6 * ph.loop_cpu_s / appended
        stored = ph.stored_bytes[-1] / ph.counts["final_silver_rows"]
    reads_ms = [1e3 * s for s in ph.read_s]
    return {
        "setup_s": (setup_s, "s"),
        "turns_per_s": (turns_per_s, "1/s"),
        "cpu_s_per_mturn": (cpu, "s"),
        "stored_bytes_per_turn": (stored, "B"),
        "append_p50_s": (med(ph.append_s), "s"),
        "read_p50_ms": (med(reads_ms), "ms"),
        "read_p95_ms": (
            statistics.quantiles(reads_ms, n=20, method="inclusive")[18], "ms"
        ),
    }


# per-layer Spark stage totals reported by name (see spans.STAGE_FIELDS)
STAGE_LAYERS = (
    "synth", "reshuffle", "lineage", "gapfill", "codec",
    "incremental", "pointread",
)
ALL_LAYERS = ("session", "synth", "reshuffle", "rollup", "lineage",
              "gapfill", "codec", "incremental", "pointread")
# SQL plan-node metrics of the pandas UDF node in the codec layer
PY_NODE = "MapInPandas"
PY_METRICS = {
    "py_boot_s": "time to start Python workers",
    "py_init_s": "time to initialize Python workers",
    "py_run_s": "time to run Python workers",
    "py_bytes_sent": "data sent to Python workers",
    "py_bytes_returned": "data returned from Python workers",
}


def per_layer(ph: Phase, tr) -> dict:

    c = ph.counts
    roots = [s for s in tr.spans if s.parent is None]
    setup = [s for s in roots if s.name == "setup"]
    measured = [d for r in roots if r.name == "round" for d in tr.descendants(r)]
    setup_spans = [d for r in setup for d in tr.descendants(r)]
    m = {}

    def layer_spans(layer):
        pool = setup_spans if layer in ("session", "synth") else measured
        return [s for s in pool if s.layer == layer]

    def total(spans, key):
        return sum(s.stages.get(key, 0) for s in spans)

    def ratio(a, b):
        return a / b if b else 0.0

    def node_total(spans, node, metric):
        """Sum of a SQL plan-node metric over spans; node None matches any
        node. Raises if the spans ran jobs but the metric is nowhere, so a
        renamed Spark node or metric cannot read as 0."""
        vals = [
            v for s in spans for k, v in s.sql_nodes.items()
            if k.endswith(f"|{metric}") and node in (None, k.split("|")[0])
        ]
        if any(s.jobs for s in spans) and not vals:
            raise KeyError(f"SQL node metric {node or '*'}|{metric} not found")
        return sum(vals)

    for layer in ALL_LAYERS:
        spans = layer_spans(layer)
        m[f"{layer}.wall_s"] = sum(s.wall for s in spans)
        m[f"{layer}.self_s"] = sum(tr.self_time(s) for s in spans)
        m[f"{layer}.peak_rss_mb"] = ph.peak_rss.get(layer, 0) / 2**20
        if layer in STAGE_LAYERS:
            for key in STAGE_FIELDS:
                m[f"{layer}.{key}"] = total(spans, key)
    m["session.start_s"] = m["session.wall_s"]
    m["synth.gen_s"] = sum(
        s.wall for s in layer_spans("synth") if s.name == "synth.gen"
    )

    m["reshuffle.rows_in"] = c.get("bronze_rows", 0)
    m["reshuffle.rows_out"] = c.get("silver_rows", 0)
    m["reshuffle.keep_ratio"] = ratio(m["reshuffle.rows_out"], m["reshuffle.rows_in"])
    m["reshuffle.files_written"] = c.get("silver_files", 0)
    m["reshuffle.bytes_written"] = c.get("silver_bytes", 0)

    silver_rows = m["reshuffle.rows_out"]
    for tier in TIERS:
        m[f"rollup.{tier}_rows"] = c.get(f"{tier}_rows", 0)
    m["rollup.hourly_reduction"] = ratio(silver_rows, m["rollup.hourly_rows"])
    lin = layer_spans("lineage")
    m["rollup.agg_build_s"] = node_total(lin, None, "time in aggregation build")
    m["lineage.scan_ratio"] = ratio(
        total(lin, "input_records"), silver_rows * len(TIERS)
    )
    m["lineage.jobs"] = sum(len(s.jobs) for s in lin)
    m["lineage.files_written"] = c.get("tier_files", 0)
    m["lineage.bytes_written"] = c.get("tier_bytes", 0)

    m["gapfill.rows_out"] = c.get("gapfill_rows", 0)
    m["gapfill.fill_ratio"] = ratio(c.get("gapfill_gaps", 0), m["gapfill.rows_out"])

    codec = layer_spans("codec")
    m["codec.series"] = c.get("packed_rows", 0)
    m["codec.bytes_written"] = c.get("packed_bytes", 0)
    for name, metric in PY_METRICS.items():
        m[f"codec.{name}"] = node_total(codec, PY_NODE, metric)

    m["incremental.cells_rewritten"] = c.get("cells_rewritten", 0)
    m["incremental.rows_rewritten_per_row_appended"] = ratio(
        c.get("rows_rewritten", 0), c.get("rows_appended", 0)
    )
    m["incremental.bytes_written"] = c.get("bytes_rewritten", 0)

    reads = [s for s in layer_spans("pointread") if s.name == "pointread.read"]
    m["pointread.jobs_per_read"] = ratio(sum(len(s.jobs) for s in reads), len(reads))
    m["pointread.rows_scanned_per_row_returned"] = ratio(
        total(reads, "input_records"), c.get("rows_returned", 0)
    )

    m["overhead.span_s"] = tr.bookkeeping_s
    m["overhead.rest_s"] = c.get("rest_s", 0.0)

    jobs = [s for s in measured if s.name == "job"]
    m["job.wall_s"] = sum(s.wall for s in jobs)
    m["job.self_s"] = sum(tr.self_time(s) for s in jobs)
    m["job.layers_self_s"] = sum(
        tr.self_time(d) for s in jobs for d in tr.descendants(s)
    )
    return m


# ------------------------------------------------------------------ main


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full")
    p.add_argument(
        "--keep", default=None,
        help="copy the work dir (inputs, outputs, spans.json) here",
    )
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "ecmwf_models_spark")):
        print(
            f"perfbench: engine package ecmwf_models_spark not found in {ROOT}",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, ROOT)
    spec = dict(WORKLOADS[args.workload])
    if args.scale == "tiny":
        spec.update(TINY)
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(
        ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}"
    )
    shutil.rmtree(work, ignore_errors=True)
    configure_env(work, cores)


    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        # per-layer peak RSS is a traced metric: untraced runs sample nothing
        with TreeSampler() if args.trace else nullcontext() as sampler:
            ph, setup_s, tr = run(args, spec, work, cores, sampler, args.trace)
        if args.keep:
            shutil.copytree(work, args.keep, dirs_exist_ok=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    correct = not ph.fails
    for f in ph.fails:
        print(f"perfbench: CHECK FAILED: {f}", file=sys.stderr)
    metrics = {}
    if correct:
        e2e = end_to_end(spec, ph, setup_s)
        if args.trace:
            # the traced run's own end-to-end figures: minus the untraced
            # runs' medians they give the tracing overhead
            metrics = {
                f"traced.{k}": {"value": v, "unit": u}
                for k, (v, u) in e2e.items()
            }
            for k, v in per_layer(ph, tr).items():
                metrics[k] = {"value": v, "unit": _unit(k)}
        else:
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": ph.attempted,
                "failed": ph.failed,
                "metrics": metrics,
            }
        )
    )
    return 0 if correct else 1


def _unit(name: str) -> str:
    suffix = name.rsplit(".", 1)[-1]
    if suffix.endswith("_s"):
        return "s"
    if suffix.endswith("_ms"):
        return "ms"
    if "bytes" in suffix:
        return "B"
    if suffix.endswith("_mb"):
        return "MiB"
    if "ratio" in suffix or "_per_" in suffix or suffix.endswith("reduction"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
