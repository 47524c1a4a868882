"""The benchmark's own tests: tiny-scale smoke runs of every workload,
output checks that catch a corrupted silver row or tier value, and a
well-formed span tree from a traced run.

    python3 -m pytest perfbench/selftest.py -q -p no:cacheprovider

The file name is outside pytest's default `test_*.py` pattern, so a plain
`pytest` at the repository root does not start these benchmark runs.
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)
WORKLOADS = [w["name"] for w in BENCH["workloads"]]


def bench(workload: str, keep: str, trace: int = 0) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "5", "--seconds", "1", "--trace", str(trace),
         "--scale", "tiny", "--keep", keep],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.fixture(scope="module")
def kept(tmp_path_factory):
    """One tiny untraced run per workload, outputs kept."""
    out = {}
    for w in WORKLOADS:
        keep = str(tmp_path_factory.mktemp(w))
        out[w] = (bench(w, keep), keep)
    return out


@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke(kept, workload):
    result, _ = kept[workload]
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= 1
    names = {m["name"] for m in BENCH["end_to_end"]}
    assert set(result["metrics"]) == names
    for m in BENCH["end_to_end"]:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"] and got["value"] > 0


def _round(keep: str) -> tuple[str, list[str]]:
    base = f"{keep}/inputs"
    return f"{base}/round-000", [f"{base}/bronze", f"{base}/batches/batch-000"]


def _corrupt_first_row(path: str, column: str, fn) -> None:
    """Rewrite one parquet file with fn applied to `column` of row 0."""
    table = pq.read_table(path)
    values = table.column(column).to_pylist()
    values[0] = fn(values[0])
    i = table.schema.get_field_index(column)
    field = table.schema.field(i)
    table = table.set_column(i, field, pa.array(values, type=field.type))
    pq.write_table(table, path)


def test_checks_pass_on_kept_outputs(kept):
    out, sources = _round(kept["retention_batch"][1])
    con = checks.connect()
    assert checks.check_silver(con, f"{out}/silver", sources) == []
    assert checks.check_tiers(con, f"{out}/tiers", sources[:1]) == []


def test_corrupt_silver_row_fails_check(kept):
    out, sources = _round(kept["retention_batch"][1])
    f = checks.parquet_files(f"{out}/silver")[0]
    _corrupt_first_row(f, "text", lambda t: t + "x")
    con = checks.connect()
    assert checks.check_silver(con, f"{out}/silver", sources)


def test_corrupt_tier_value_fails_check(kept):
    out, sources = _round(kept["retention_batch"][1])
    f = sorted(glob.glob(f"{out}/tiers/daily/cell_id=*/*.parquet"))[0]
    _corrupt_first_row(f, "text_len_max", lambda v: v + 1.0)
    con = checks.connect()
    fails = checks.check_tiers(con, f"{out}/tiers", sources[:1])
    assert fails and "daily" in fails[0]


def test_traced_run_span_tree(tmp_path):
    keep = str(tmp_path / "traced")
    result = bench("retention_batch", keep, trace=1)
    assert result["correct"] is True
    want = {m["name"] for m in BENCH["per_layer"]}
    assert want <= set(result["metrics"])

    with open(f"{keep}/spans.json") as f:
        spans = {s["id"]: s for s in json.load(f)}
    assert len({s["run"] for s in spans.values()}) == 1
    eps = 1e-6
    for s in spans.values():
        assert s["end"] >= s["start"]
        assert s["self_s"] >= -eps
        if s["parent"] is not None:
            p = spans[s["parent"]]
            assert p["id"] < s["id"]
            assert p["start"] - eps <= s["start"] and s["end"] <= p["end"] + eps
    for p in spans.values():
        kids = [s for s in spans.values() if s["parent"] == p["id"]]
        covered = sum(k["end"] - k["start"] for k in kids)
        assert abs(p["self_s"] + covered - (p["end"] - p["start"])) < 1e-6
    # the job's own time plus its layers' self times is its wall time
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert abs(m["job.self_s"] + m["job.layers_self_s"] - m["job.wall_s"]) < 1e-6
    assert m["lineage.scan_ratio"] > 0
    # metrics read from Spark's SQL plan nodes and stage totals are there
    for name in (
        "codec.py_run_s", "codec.py_bytes_sent", "rollup.agg_build_s",
        "reshuffle.exec_run_s", "lineage.exec_run_s", "lineage.jobs",
    ):
        assert m[name] > 0, name
