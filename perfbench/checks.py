"""Output checks: DuckDB SQL oracles over the generated inputs.

Every check reads the engine's output files and recomputes the expected
result from the raw inputs (bronze plus the append batches applied so
far), independently of Spark. A check returns a list of failure
messages; an empty list means the output is correct.
"""

from __future__ import annotations

import glob
import os

import duckdb

_RAW_COLS = (
    "conv_id, turn_idx::INTEGER AS turn_idx, role, text, tool, "
    "ts::TIMESTAMP AS ts, coalesce(is_prelim, false) AS is_prelim, "
    "coalesce(ingest_ts, ts)::TIMESTAMP AS ingest_ts"
)
_TIERS = {"hourly": "hour", "daily": "day", "monthly": "month"}
_METRICS = ("text_len", "tool_call")


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET threads = 2")
    return con


def parquet_files(table_dir: str) -> list[str]:
    """Data files of a Spark table dir; skips `_`-prefixed side dirs
    (`_settings`, `_meta`, `_lineage`) the way Spark's own scan does."""
    out = []
    for root, dirs, files in os.walk(table_dir):
        dirs[:] = sorted(d for d in dirs if not d.startswith(("_", ".")))
        out += [
            os.path.join(root, f)
            for f in sorted(files)
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        ]
    return out


def scan(files: list[str]) -> str:
    if not files:
        raise ValueError("no parquet files")
    listed = ", ".join(f"'{f}'" for f in files)
    return f"read_parquet([{listed}], hive_partitioning = true)"


def oracle_sql(sources: list[str]) -> str:
    """Latest-final-wins dedup of every raw row: per (conv_id, turn_idx)
    a final row beats a preliminary one, then the latest ingest wins."""
    raw = " UNION ALL ".join(
        f"SELECT {_RAW_COLS} FROM {scan(parquet_files(s))}" for s in sources
    )
    return f"""
        SELECT conv_id, turn_idx, role, text, tool, ts,
               length(text)::FLOAT AS text_len,
               (tool IS NOT NULL)::FLOAT AS tool_call
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY conv_id, turn_idx
                ORDER BY is_prelim ASC, ingest_ts DESC) AS rn
            FROM ({raw})
        ) WHERE rn = 1"""


def _digest(rel: str) -> str:
    """Row count plus an order-independent checksum of a relation."""
    return f"""
        SELECT count(*),
               sum(hash(conv_id, turn_idx, role, text, tool, ts,
                        text_len, tool_call)::HUGEINT)
        FROM ({rel})"""


def check_silver(con, silver_dir: str, sources: list[str]) -> list[str]:
    files = parquet_files(silver_dir)
    silver = (
        "SELECT conv_id, turn_idx::INTEGER AS turn_idx, role, text, tool, "
        "ts::TIMESTAMP AS ts, text_len, tool_call FROM " + scan(files)
    )
    got = con.execute(_digest(silver)).fetchone()
    want = con.execute(_digest(oracle_sql(sources))).fetchone()
    fails = []
    if got[0] != want[0]:
        fails.append(f"silver: {got[0]} rows, oracle {want[0]}")
    elif got[1] != want[1]:
        fails.append("silver: checksum differs from the dedup oracle")
    (prelim,) = con.execute(
        f"SELECT count(*) FROM {scan(files)} WHERE text = 'PRELIM-99'"
    ).fetchone()
    if prelim:
        fails.append(f"silver: {prelim} PRELIM-99 rows survived dedup")
    return fails


def _tier_oracle(sources: list[str], tier: str) -> str:
    aggs = ", ".join(
        f"sum(floor({c}::DOUBLE * 1e6 + 0.5))::BIGINT AS {c}_sum, "
        f"count({c}) AS {c}_cnt, min({c}) AS {c}_min, max({c}) AS {c}_max"
        for c in _METRICS
    )
    return f"""
        SELECT conv_id, date_trunc('{_TIERS[tier]}', ts) AS bucket_ts,
               count(*) AS n_turns, {aggs}
        FROM ({oracle_sql(sources)}) GROUP BY ALL"""


def _tier_written(tier_dir: str) -> str:
    cols = ", ".join(
        f"round({c}_sum * 1e6)::BIGINT AS {c}_sum, {c}_cnt, "
        f"{c}_min, {c}_max"
        for c in _METRICS
    )
    return (
        f"SELECT conv_id, bucket_ts::TIMESTAMP AS bucket_ts, n_turns, {cols} "
        f"FROM {scan(parquet_files(tier_dir))}"
    )


def check_tiers(con, tiers_dir: str, sources: list[str]) -> list[str]:
    """Every tier's n_turns / sum / cnt / min / max per (conv_id,
    bucket), exactly, with sums compared in int64 micro units."""
    fails = []
    for tier in _TIERS:
        cmp_cols = ["n_turns"] + [
            f"{c}_{s}" for c in _METRICS for s in ("sum", "cnt", "min", "max")
        ]
        differs = " OR ".join(
            f"w.{c} IS DISTINCT FROM o.{c}" for c in cmp_cols
        )
        (bad,) = con.execute(
            f"""SELECT count(*) FROM ({_tier_written(f'{tiers_dir}/{tier}')}) w
                FULL OUTER JOIN ({_tier_oracle(sources, tier)}) o
                USING (conv_id, bucket_ts)
                WHERE {differs}"""
        ).fetchone()
        if bad:
            fails.append(f"tier {tier}: {bad} (conv_id, bucket) rows differ")
    return fails


def check_unpacked(con, unpacked, sources: list[str]) -> list[str]:
    """`unpacked` (a pandas frame from codec.unpack_cells) must hold
    exactly the silver (conv_id, ts, metrics) rows the oracle expects."""
    con.register("unpacked", unpacked)
    silver = (
        "SELECT conv_id, ts, text_len, tool_call FROM "
        f"({oracle_sql(sources)})"
    )
    mine = "SELECT conv_id, ts::TIMESTAMP AS ts, text_len, tool_call FROM unpacked"
    (extra,) = con.execute(
        f"SELECT count(*) FROM (({mine}) EXCEPT ALL ({silver}))"
    ).fetchone()
    (missing,) = con.execute(
        f"SELECT count(*) FROM (({silver}) EXCEPT ALL ({mine}))"
    ).fetchone()
    con.unregister("unpacked")
    if extra or missing:
        return [f"packed: {extra} extra and {missing} missing rows vs silver"]
    return []


def check_reads(con, reads: list[tuple], sources: list[str]) -> list[str]:
    """Each read (conv_id, [(ts_us, turn_idx, text), ...]) must equal that
    conv's oracle rows in (ts, turn_idx) order."""
    if not reads:
        return []
    convs = sorted({c for c, _ in reads})
    listed = ", ".join(f"'{c}'" for c in convs)
    rows = con.execute(
        f"""SELECT conv_id, epoch_us(ts), turn_idx, text
            FROM ({oracle_sql(sources)}) WHERE conv_id IN ({listed})
            ORDER BY conv_id, ts, turn_idx"""
    ).fetchall()
    want: dict[str, list] = {c: [] for c in convs}
    for conv, ts, idx, text in rows:
        want[conv].append((ts, idx, text))
    bad = [c for c, got in reads if got != want[c]]
    if bad:
        return [f"point reads: {len(bad)} of {len(reads)} differ, e.g. {bad[0]}"]
    return []


def count_rows(con, table_dir: str) -> int:
    files = parquet_files(table_dir)
    if not files:
        return 0
    return con.execute(f"SELECT count(*) FROM {scan(files)}").fetchone()[0]


def dir_bytes(path: str) -> tuple[int, int]:
    """(parquet files, bytes of all files) under a dir, side dirs
    included; Spark's hidden .crc files are skipped."""
    n = size = 0
    for f in glob.glob(f"{path}/**/*", recursive=True):
        if os.path.isfile(f):
            n += f.endswith(".parquet")
            size += os.path.getsize(f)
    return n, size
