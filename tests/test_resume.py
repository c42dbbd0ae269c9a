"""Checkpoint/lineage + resume semantics (north_rule):
a killed run resumes with ZERO reprocessed partitions, and the resumed
output is byte-identical to an uninterrupted run.
"""

import pytest

from pyspark.sql import functions as F

from tool_documentsconverter_spark.plans import pipeline as P
from tool_documentsconverter_spark.sources.transcripts import synth_transcripts

N_TURNS = 240
N_BUCKETS = 8


@pytest.fixture()
def transcripts(spark):
    return synth_transcripts(spark, N_TURNS).cache()


def _md_map(spark, path):
    return {
        (r.conv_id, r.turn_idx): (r.md, r.status)
        for r in spark.read.parquet(path).collect()
    }


def test_kill_and_resume_zero_reprocessing(spark, transcripts, tmp_path):
    out = str(tmp_path / "out")
    lin = str(tmp_path / "lineage")
    out_full = str(tmp_path / "out_full")
    lin_full = str(tmp_path / "lineage_full")

    # uninterrupted reference run
    P.run_extract_job(spark, transcripts, out_full, lin_full,
                      n_buckets=N_BUCKETS, input_snapshot="full")

    # "killed" run: only the first half of the buckets committed
    P.run_extract_job(spark, transcripts, out, lin, n_buckets=N_BUCKETS,
                      only_buckets=list(range(N_BUCKETS // 2)),
                      input_snapshot="part1")
    lineage1 = spark.read.parquet(lin).collect()
    committed1 = {r.bucket for r in lineage1}
    assert committed1 <= set(range(N_BUCKETS // 2))

    # resume: anti-join must skip every committed bucket
    summary = P.run_extract_job(spark, transcripts, out, lin,
                                n_buckets=N_BUCKETS, input_snapshot="part2")
    assert summary.buckets_skipped == len(committed1)

    lineage2 = spark.read.parquet(lin).collect()
    # zero reprocessing: each bucket committed exactly once
    buckets = [r.bucket for r in lineage2]
    assert len(buckets) == len(set(buckets))

    # resumed output ≡ uninterrupted output, byte-equal per turn
    assert _md_map(spark, out) == _md_map(spark, out_full)

    # lineage row counts add up to the input
    assert sum(r.rows_out for r in lineage2) == N_TURNS
    assert sum(r.error_count for r in lineage2) > 0  # P9 failures recorded


def test_force_reprocesses_everything(spark, transcripts, tmp_path):
    out = str(tmp_path / "out")
    lin = str(tmp_path / "lineage")
    P.run_extract_job(spark, transcripts, out, lin, n_buckets=N_BUCKETS)
    s2 = P.run_extract_job(spark, transcripts, out, lin,
                           n_buckets=N_BUCKETS, force=True)
    assert s2.buckets_skipped == 0
    assert s2.rows_out == N_TURNS


def test_salting_splits_heavy_conversation(spark, transcripts):
    heavy = P.heavy_conv_ids(transcripts, fraction=1.0, threshold=0.2)
    assert "conv-00000" in heavy
    salted = P.salted(transcripts, heavy, salt=4)
    n_salts = (
        salted.where(F.col("conv_id") == "conv-00000")
        .select("salt").distinct().count()
    )
    assert n_salts > 1  # oversized conversation spread across sub-partitions
    other = (
        salted.where(F.col("conv_id") != "conv-00000")
        .select("salt").distinct().collect()
    )
    assert {r.salt for r in other} == {0}  # normal convs stay whole


def test_sparse_sample_fallback_guarded_by_coverage(spark, transcripts,
                                                    monkeypatch):
    """A sparse sample may trigger the full-scan fallback ONLY when the
    sample-implied input size is small.  With a pathological fraction
    (sample-implied size >> HEAVY_FULL_SCAN_EST_CAP) the sketch must
    degrade to 'no heavy keys detected' WITHOUT ever calling
    df.count() — at 10^12 rows that fallback would be two full scans."""
    from pyspark.sql import DataFrame

    def boom(self):
        raise AssertionError("full-scan fallback fired on a huge-implied input")

    monkeypatch.setattr(DataFrame, "count", boom)
    heavy = P.heavy_conv_ids(transcripts, fraction=1e-9, threshold=0.05)
    assert heavy == []  # degraded, not crashed, not rescanned


def test_sparse_sample_fallback_fires_on_small_input(spark, transcripts):
    """Same sparse sample over a genuinely small input (implied size
    under the cap): the full-scan fallback still runs and finds the
    oversized conversation."""
    heavy = P.heavy_conv_ids(transcripts, fraction=0.04, threshold=0.2)
    assert "conv-00000" in heavy


def test_missing_or_empty_lineage_is_first_run(spark, tmp_path):
    """No lineage directory, or one holding no committed parquet file
    (a commit that never finished), is a first run: nothing skipped."""
    assert P.committed_buckets(spark, str(tmp_path / "absent")) == []
    (tmp_path / "empty" / "_temporary").mkdir(parents=True)
    assert P.committed_buckets(spark, str(tmp_path / "empty")) == []


def test_damaged_lineage_fails_instead_of_reprocessing(spark, transcripts,
                                                       tmp_path):
    """A lineage table that exists but cannot be read is NOT a first
    run: the job must fail before it writes anything, rather than
    reprocess every bucket and append a second set of lineage rows."""
    out = tmp_path / "out"
    lin = tmp_path / "lineage"
    lin.mkdir()
    (lin / "part-0.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(Exception, match="not a Parquet file"):
        P.run_extract_job(spark, transcripts, str(out), str(lin),
                          n_buckets=N_BUCKETS)
    assert not out.exists()
    assert [p.name for p in lin.iterdir()] == ["part-0.parquet"]
