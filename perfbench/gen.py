"""Seeded transcript generator for the benchmark workloads.

Rows are built from the package's public payload catalog
(`sources.transcripts.payload_for` / `conv_for`), so the benchmark feeds
the job the same payload shapes the tests use, but every row index is
shifted by a seed-derived offset and the row order is a seeded
permutation: one seed reproduces a byte-identical parquet input, and two
seeds give different payload text, conversation membership and file
layout.

The table is written with pyarrow, not Spark, so the program under test
does no work while its input is made and only ever sees the input path.
"""

from __future__ import annotations

import datetime as dt
import os
import random
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

from tool_documentsconverter_spark.sources.transcripts import (
    EPOCH, ROLES, TOOLS, conv_for, payload_for,
)

SCHEMA = pa.schema([
    ("conv_id", pa.string()),
    ("turn_idx", pa.int32()),
    ("role", pa.string()),
    ("text", pa.string()),
    ("tool", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC")),
    ("fmt_hint", pa.string()),
])


@dataclass(frozen=True)
class Spec:
    """What one workload's input looks like."""
    mix: str        # payload_for mix: "realistic" or "fixtures"
    skewed: bool    # True: ~30% of turns in conv-00000 (conv_for)
    n_turns: int


def generate(spec: Spec, seed: int) -> pa.Table:
    """The input table for `spec` and `seed`, in a seeded row order.

    turn_idx numbers each conversation's turns 0.. in row-index order,
    so turns stay contiguous per conversation whatever the file order."""
    rng = random.Random(seed)
    base = rng.randrange(1_000_000) * 100  # keeps the i % 100 mix exact
    n_convs = max(4, spec.n_turns // 40)  # synth_transcripts' default
    ids = range(base, base + spec.n_turns)
    if spec.skewed:
        convs = [conv_for(i, n_convs) for i in ids]
    else:
        convs = [f"conv-{rng.randrange(n_convs):05d}" for _ in ids]
    next_turn: dict = {}
    turn_idx = []
    for c in convs:
        k = next_turn.get(c, 0)
        turn_idx.append(k)
        next_turn[c] = k + 1
    payloads = [payload_for(i, spec.mix) for i in ids]
    order = list(range(spec.n_turns))
    rng.shuffle(order)
    cols = {
        "conv_id": [convs[j] for j in order],
        "turn_idx": [turn_idx[j] for j in order],
        "role": [ROLES[(base + j) % 3] for j in order],
        "text": [payloads[j][0] for j in order],
        "tool": [TOOLS[(base + j) % 4] for j in order],
        "ts": [EPOCH + dt.timedelta(seconds=13 * (base + j)) for j in order],
        "fmt_hint": [payloads[j][1] for j in order],
    }
    return pa.Table.from_pydict(cols, schema=SCHEMA)


def write(table: pa.Table, path: str, n_files: int) -> int:
    """Write `table` as `n_files` equal parquet files; returns the bytes
    on disk.  Equal files keep the scan's tasks balanced."""
    os.makedirs(path, exist_ok=True)
    per = -(-table.num_rows // n_files)
    total = 0
    for k in range(n_files):
        f = os.path.join(path, f"part-{k:05d}.parquet")
        pq.write_table(table.slice(k * per, per), f, compression="zstd")
        total += os.path.getsize(f)
    return total
