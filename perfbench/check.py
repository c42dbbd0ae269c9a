"""Output check for one job run: the written table must equal the
single-row reference converter byte for byte, and lineage must name
every bucket exactly once.

The reference comes from `kernels.extract_turn` applied row by row to
the generated input, in this process, with no Spark involved.  The job's
output and lineage tables are read back with pyarrow, so the check does
not share a code path with the program beyond the kernel itself.
"""

from __future__ import annotations

import hashlib
import time
from collections import Counter, defaultdict
from dataclasses import dataclass, field
from typing import Dict, List

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds

from tool_documentsconverter_spark import kernels

DIGEST_COLS = ("conv_id", "turn_idx", "md", "status", "message")
# kernel classes timed by the traced run: the sniffed format, with a
# declared .doc that is not OLE2 split out as "garbage"
KERNEL_CLASSES = ("text", "pdf", "docx", "html", "doc", "garbage")


def _field(h, v) -> None:
    b = b"\x00" if v is None else b"\x01" + str(v).encode("utf-8", "surrogatepass")
    h.update(len(b).to_bytes(8, "little"))
    h.update(b)


def digest(table: pa.Table) -> str:
    """sha256 over DIGEST_COLS in (conv_id, turn_idx) order."""
    t = table.select(list(DIGEST_COLS)).sort_by(
        [("conv_id", "ascending"), ("turn_idx", "ascending")])
    h = hashlib.sha256()
    for row in zip(*(t.column(c).to_pylist() for c in DIGEST_COLS)):
        for v in row:
            _field(h, v)
    return h.hexdigest()


def kernel_class(text: str, hint: str) -> str:
    fmt = kernels.sniff_format(text or "", hint)
    if fmt == kernels.FMT_DOC and not (text or "").startswith(kernels.OLE_MAGIC_STR):
        return "garbage"
    return fmt


@dataclass
class Reference:
    digest: str
    n_rows: int
    bucket_rows: Dict[int, int] = field(default_factory=dict)
    # kernel class -> seconds spent in extract_turn over its rows, and rows
    kernel_s: Dict[str, float] = field(default_factory=dict)
    kernel_rows: Dict[str, int] = field(default_factory=dict)


def reference(inputs: pa.Table) -> Reference:
    """Apply kernels.extract_turn to every input row, timing each call
    by kernel class (single core, this process)."""
    conv = inputs.column("conv_id").to_pylist()
    turn = inputs.column("turn_idx").to_pylist()
    text = inputs.column("text").to_pylist()
    hint = inputs.column("fmt_hint").to_pylist()
    md, status, message = [], [], []
    secs: Dict[str, float] = defaultdict(float)
    rows: Counter = Counter()
    clock = time.perf_counter
    for c, ti, t, hn in zip(conv, turn, text, hint):
        h = str(hn or "")
        k = kernel_class(t, h)
        t0 = clock()
        m, s, msg = kernels.extract_turn(c, ti, t, fmt_hint=h)
        secs[k] += clock() - t0
        rows[k] += 1
        md.append(m)
        status.append(s)
        message.append(msg)
    out = pa.table({"conv_id": conv, "turn_idx": turn, "md": md,
                    "status": status, "message": message})
    return Reference(digest(out), inputs.num_rows,
                     kernel_s=dict(secs), kernel_rows=dict(rows))


def read_output(output_path: str) -> pa.Table:
    """The job's partitioned output, bucket recovered from the path."""
    return ds.dataset(output_path, format="parquet",
                      partitioning="hive").to_table()


def check_run(ref: Reference, output_path: str,
              lineage_path: str) -> List[str]:
    """Every reason the run's output is wrong; empty when it is right.

    Lineage is the whole table, so on a resumed run the buckets an
    earlier run committed must be there too, each once."""
    problems: List[str] = []
    out = read_output(output_path)
    if out.num_rows != ref.n_rows:
        problems.append(f"output has {out.num_rows} rows, input {ref.n_rows}")
    got = digest(out)
    if got != ref.digest:
        problems.append(f"output digest {got[:12]} != reference {ref.digest[:12]}")

    out_rows = Counter(out.column("bucket").to_pylist())
    lin = ds.dataset(lineage_path, format="parquet").to_table(
        columns=["bucket", "rows_out"])
    lin_buckets = Counter(lin.column("bucket").to_pylist())
    twice = sorted(b for b, n in lin_buckets.items() if n > 1)
    if twice:
        problems.append(f"buckets committed more than once: {twice}")
    missing = sorted(set(ref.bucket_rows) - set(lin_buckets))
    if missing:
        problems.append(f"buckets missing from lineage: {missing}")
    extra = sorted(set(lin_buckets) - set(ref.bucket_rows))
    if extra:
        problems.append(f"lineage names buckets with no input: {extra}")
    for b, n in zip(lin.column("bucket").to_pylist(),
                    lin.column("rows_out").to_pylist()):
        if n != ref.bucket_rows.get(b) or n != out_rows.get(b):
            problems.append(
                f"bucket {b}: lineage rows_out {n}, output "
                f"{out_rows.get(b)}, input {ref.bucket_rows.get(b)}")
    return problems


def format_counts(out: pa.Table) -> Dict[str, Counter]:
    """Per-format rows and failed rows of a written output."""
    fmt = out.column("fmt").to_pylist()
    failed = pc.equal(out.column("status"), kernels.FAILED).to_pylist()
    return {"rows": Counter(fmt),
            "failed": Counter(f for f, bad in zip(fmt, failed) if bad)}
