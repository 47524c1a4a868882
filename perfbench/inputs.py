"""Append batches for the incremental path, generated from a seed.

Each batch is one day after the bronze range. It touches 1.5% of the
conversations, chosen by the seed: 4 new turns each, a preliminary
duplicate ('PRELIM-99', is_prelim) of the second one, and for every
fourth touched conversation a revision of one existing turn (same
turn_idx and ts, new text, later ingest_ts), which must replace it.
Batch sizes do not depend on the seed.
Batches are written with pyarrow, so making them starts no Spark job.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from checks import scan, parquet_files

BASE = dt.datetime(2010, 1, 1)  # synth.BASE_TS
ROLES = ("user", "assistant", "tool")
_US_H = 3_600_000_000
NEW_TURNS = 4
_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
        ("is_prelim", pa.bool_()),
        ("ingest_ts", pa.timestamp("us", tz="UTC")),
    ]
)


def write_batches(
    con, bronze_dir: str, out_dir: str, days: int, n_batches: int,
    seed: int, frac: float = 0.015,
) -> list[tuple[str, list[str], int]]:
    """Write `n_batches` batch files; returns (path, touched convs, rows)
    per batch, in the order they must be applied."""
    bronze = scan(parquet_files(bronze_dir))
    next_idx = dict(
        con.execute(
            f"SELECT conv_id, max(turn_idx) + 1 FROM {bronze} GROUP BY 1"
        ).fetchall()
    )
    revisable: dict[str, list] = {}
    for conv, idx, role, tool, ts in con.execute(
        f"""SELECT conv_id, turn_idx, role, tool, epoch_us(ts::TIMESTAMP)
            FROM {bronze} WHERE NOT is_prelim AND turn_idx < 3"""
    ).fetchall():
        revisable.setdefault(conv, []).append((idx, role, tool, ts))
    convs = sorted(next_idx)
    rng = np.random.default_rng(seed)
    epoch0 = int((BASE - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    out = []
    for b in range(n_batches):
        day0 = epoch0 + (days + b) * 24 * _US_H
        rows = []
        touched = sorted(
            rng.choice(len(convs), max(1, round(frac * len(convs))), replace=False)
        )
        for n, ci in enumerate(touched):
            conv = convs[ci]
            for j in range(NEW_TURNS):
                idx = next_idx[conv]
                next_idx[conv] += 1
                ts = day0 + j * 4 * _US_H + int(rng.integers(0, 2)) * 600_000_000
                role = ROLES[idx % 3]
                tool = f"tool-{int(rng.integers(8))}" if role == "tool" else None
                text = f"{conv}:{idx}:b{b}-{int(rng.integers(1 << 40)):x}"
                rows.append((conv, idx, role, text, tool, ts, False, ts))
                if j == 1:
                    rows.append(
                        (conv, idx, role, "PRELIM-99", tool, ts, True, ts - _US_H)
                    )
            if n % 4 == 0:
                idx, role, tool, ts = revisable[conv][
                    int(rng.integers(len(revisable[conv])))
                ]
                text = f"REV-{b}-{conv}:{idx}"
                rows.append((conv, idx, role, text, tool, ts, False, day0 + 23 * _US_H))
        path = f"{out_dir}/batch-{b:03d}"
        cols = list(zip(*rows))
        table = pa.Table.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(cols, _SCHEMA)],
            schema=_SCHEMA,
        )
        os.makedirs(path, exist_ok=True)
        pq.write_table(table, f"{path}/part-0.parquet")
        out.append((path, [convs[i] for i in touched], len(rows)))
    return out

