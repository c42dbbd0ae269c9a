"""The benchmark's output check must be able to fail, and its generator
must be reproducible.  No Spark: a job's output and lineage tables are
written here with pyarrow in the layout the job writes them.

    python3 -m pytest -q perfbench/test_check.py
"""

from __future__ import annotations

import os
import shutil
import sys
import zlib

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import check  # noqa: E402
import gen  # noqa: E402
from tool_documentsconverter_spark import kernels  # noqa: E402

N_BUCKETS = 8


def _job_output(inputs: pa.Table, out: str, lin: str) -> dict:
    """What a correct job writes for `inputs`; returns rows per bucket."""
    rows = {"conv_id": [], "turn_idx": [], "md": [], "status": [],
            "message": []}
    by_bucket: dict = {}
    for c, ti, t, h in zip(*(inputs.column(k).to_pylist() for k in
                             ("conv_id", "turn_idx", "text", "fmt_hint"))):
        md, st, msg = kernels.extract_turn(c, ti, t, fmt_hint=h or "")
        b = zlib.crc32(c.encode()) % N_BUCKETS
        part = by_bucket.setdefault(b, {k: [] for k in rows})
        for k, v in zip(rows, (c, ti, md, st, msg)):
            part[k].append(v)
    for b, part in by_bucket.items():
        os.makedirs(os.path.join(out, f"bucket={b}"))
        pq.write_table(pa.table(part),
                       os.path.join(out, f"bucket={b}", "part-0.parquet"))
    counts = {b: len(p["conv_id"]) for b, p in by_bucket.items()}
    os.makedirs(lin)
    pq.write_table(pa.table({"bucket": list(counts),
                             "rows_out": list(counts.values())}),
                   os.path.join(lin, "part-0.parquet"))
    return counts


@pytest.fixture()
def job(tmp_path):
    inputs = gen.generate(gen.Spec("fixtures", True, 400), seed=3)
    ref = check.reference(inputs)
    out, lin = str(tmp_path / "out"), str(tmp_path / "lineage")
    ref.bucket_rows = _job_output(inputs, out, lin)
    return ref, out, lin


def test_correct_output_passes(job):
    assert check.check_run(*job) == []


def test_one_corrupted_md_byte_fails(job):
    ref, out, lin = job
    f = os.path.join(out, f"bucket={min(ref.bucket_rows)}", "part-0.parquet")
    t = pq.read_table(f)
    md = t.column("md").to_pylist()
    md[0] = md[0][:-1] + chr(ord(md[0][-1]) ^ 1)
    pq.write_table(t.set_column(t.schema.get_field_index("md"), "md",
                                pa.array(md)), f)
    problems = check.check_run(ref, out, lin)
    assert any("digest" in p for p in problems), problems


def test_one_dropped_output_bucket_fails(job):
    ref, out, lin = job
    shutil.rmtree(os.path.join(out, f"bucket={max(ref.bucket_rows)}"))
    problems = check.check_run(ref, out, lin)
    assert any("rows" in p for p in problems), problems
    assert any("digest" in p for p in problems), problems


def test_one_dropped_lineage_bucket_fails(job):
    ref, out, lin = job
    f = os.path.join(lin, "part-0.parquet")
    t = pq.read_table(f)
    pq.write_table(t.slice(1), f)
    problems = check.check_run(ref, out, lin)
    assert any("missing from lineage" in p for p in problems), problems


def test_bucket_committed_twice_fails(job):
    ref, out, lin = job
    t = pq.read_table(os.path.join(lin, "part-0.parquet"))
    pq.write_table(t.slice(0, 1), os.path.join(lin, "part-1.parquet"))
    problems = check.check_run(ref, out, lin)
    assert any("more than once" in p for p in problems), problems


def _input_bytes(tmp_path, name: str, seed: int) -> bytes:
    spec = gen.Spec("realistic", False, 300)
    path = str(tmp_path / name)
    gen.write(gen.generate(spec, seed), path, n_files=2)
    return b"".join(open(os.path.join(path, f), "rb").read()
                    for f in sorted(os.listdir(path)))


def test_one_seed_reproduces_byte_identical_input(tmp_path):
    assert _input_bytes(tmp_path, "a", 7) == _input_bytes(tmp_path, "b", 7)


def test_different_seeds_give_different_inputs(tmp_path):
    assert _input_bytes(tmp_path, "a", 7) != _input_bytes(tmp_path, "b", 8)


def test_generator_keeps_the_mix_and_contiguous_turns():
    t = gen.generate(gen.Spec("realistic", True, 1000), seed=5)
    convs = t.column("conv_id").to_pylist()
    assert convs.count("conv-00000") == 300
    turns: dict = {}
    for c, ti in zip(convs, t.column("turn_idx").to_pylist()):
        turns.setdefault(c, []).append(ti)
    assert all(sorted(v) == list(range(len(v))) for v in turns.values())
    classes = [check.kernel_class(x, h) for x, h in
               zip(t.column("text").to_pylist(),
                   t.column("fmt_hint").to_pylist())]
    assert classes.count("text") == 910  # 90% prose + 1% empty
    assert set(classes) == set(check.KERNEL_CLASSES)
