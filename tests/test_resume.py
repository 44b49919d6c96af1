"""Resume correctness (SURVEY.md §5.2.6, BASELINE.md row 'Resume'):
kill after N slices, re-run, identical final table + completed slices
skipped."""

import json
import re

import pytest

from rdflib_jsonld_spark.operators.expand import (
    expand_transcripts, expand_with_metrics)
from rdflib_jsonld_spark.sources.quads_io import (
    ResumableQuadWriter, quad_checksum)
from rdflib_jsonld_spark.sources import transcripts as tr


def _malformed_blocks(seed: int, n_convs: int) -> int:
    """The generator's planted malformed fenced blocks, by stdlib json."""
    n_bad = 0
    for conv_n in range(n_convs):
        for r in tr.generate_conv(seed, conv_n):
            for block in re.findall(r"```ld\n(.*?)\n```", r["text"], re.S):
                try:
                    json.loads(block)
                except ValueError:
                    n_bad += 1
    return n_bad


def _crash_and_resume(spark, tmp_path, df, expand_fn):
    """Crash after 2 of 6 slices, resume, and compare with a clean run;
    returns (summary, resumed quads)."""
    out = str(tmp_path / "run")

    w = ResumableQuadWriter(spark, out, n_slices=6)
    with pytest.raises(RuntimeError, match="injected failure"):
        w.run(df, expand_fn, fail_after=2)
    assert len(w.done_slices()) == 2

    # resume: only remaining slices run; result identical to a clean run
    summary = w.run(df, expand_fn)
    assert len(w.done_slices()) == 6
    resumed = w.read_quads()

    clean_dir = str(tmp_path / "clean")
    w2 = ResumableQuadWriter(spark, clean_dir, n_slices=6)
    clean_summary = w2.run(df, expand_fn)
    clean = w2.read_quads()

    assert resumed.count() == clean.count() == summary["quads_out"]
    assert quad_checksum(resumed) == quad_checksum(clean)
    assert ([m["checksum"] for m in summary["slices"]]
            == [m["checksum"] for m in clean_summary["slices"]])
    # lineage metrics reconcile with the data
    assert summary["rows_in"] == df.count()
    return summary, resumed


def test_resume_after_injected_failure(spark, tmp_path):
    df = tr.transcripts_df(spark, n_convs=24, seed=42, partitions=4).cache()
    _crash_and_resume(spark, tmp_path, df, expand_transcripts)
    df.unpersist()


def test_resume_after_injected_failure_with_metrics(spark, tmp_path):
    """Sentinel rows reach disk on the metrics path: a crash/resume must
    still give the same markers as the plain expansion, the generator's
    error count, and a clean ``read_quads`` table."""
    # 120 convs at 2% malformed-block rate → near-certain errors
    df = tr.transcripts_df(spark, n_convs=120, seed=42, partitions=4).cache()
    summary, resumed = _crash_and_resume(
        spark, tmp_path, df, expand_with_metrics)
    plain = ResumableQuadWriter(spark, str(tmp_path / "plain"), n_slices=6)
    plain_summary = plain.run(df, expand_transcripts)
    for k in ("slice", "rows_in", "quads_out", "checksum"):
        assert ([m[k] for m in summary["slices"]]
                == [m[k] for m in plain_summary["slices"]]), k
    assert plain_summary["n_parse_errors"] == 0
    assert summary["n_parse_errors"] == _malformed_blocks(42, 120) > 0
    assert resumed.where(resumed.s == "_:error").count() == 0
    assert "_kg_errors" not in resumed.columns
    df.unpersist()


def test_expansion_runs_once_per_slice(spark, tmp_path):
    """The writer must not recompute the Python expansion: a pass-through
    after the UDF logs one line per task, i.e. per (slice, partition)."""
    log = str(tmp_path / "tasks.log")

    def counted(df):
        quads = expand_with_metrics(df)

        def tap(batches):
            with open(log, "a") as f:  # local mode: shared filesystem
                f.write("task\n")
            yield from batches

        return quads.mapInPandas(tap, schema=quads.schema)

    df = tr.transcripts_df(spark, n_convs=24, seed=42, partitions=4)
    w = ResumableQuadWriter(spark, str(tmp_path / "run"), n_slices=3)
    w.run(df, counted)
    with open(log) as f:
        n_tasks = len(f.read().splitlines())
    assert n_tasks == 3 * df.rdd.getNumPartitions() == 12


def test_error_metrics_in_lineage(spark, tmp_path):
    """expand_with_metrics: malformed fenced blocks are counted into the
    per-slice lineage, and error-sentinel rows never reach the data."""
    # 120 convs at 2% malformed-block rate → near-certain errors
    df = tr.transcripts_df(spark, n_convs=120, seed=42, partitions=4).cache()
    out = str(tmp_path / "run")
    w = ResumableQuadWriter(spark, out, n_slices=3)
    summary = w.run(df, expand_with_metrics)
    assert summary["n_parse_errors"] > 0
    data = w.read_quads()
    assert data.where(data.s == "_:error").count() == 0
    assert "_kg_errors" not in data.columns
    # error counts match the generator's malformed blocks exactly
    assert summary["n_parse_errors"] == _malformed_blocks(42, 120)
    df.unpersist()


def test_rerun_skips_everything(spark, tmp_path):
    df = tr.transcripts_df(spark, n_convs=8, seed=42, partitions=2)
    out = str(tmp_path / "run")
    w = ResumableQuadWriter(spark, out, n_slices=3)
    first = w.run(df, expand_transcripts)
    # second run must be a no-op (markers complete) → same summary
    second = w.run(df, expand_transcripts)
    assert first == second
    # markers carry per-slice timing and throughput
    for m in first["slices"]:
        assert m["wall_s"] > 0
        assert m["turns_per_s"] == pytest.approx(
            m["rows_in"] / m["wall_s"], rel=0.01)
