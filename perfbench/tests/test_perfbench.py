"""Tests of the benchmark itself, at tiny input sizes.

Run from the root of the repository::

    python -m pytest perfbench/tests -q

Each Spark test starts its own JVM (the benchmark stops its JVM when a run
ends), so the module takes a few minutes.
"""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq
import pytest

from perfbench import run as bench_run
from perfbench.tracing import Span, covered

SPEC = bench_run.load_spec(bench_run.ROOT)
TINY = {"route_count": 2_000, "paced_recovery": 3_000}


def test_covered_merges_overlapping_children():
    spans = [Span(0, "a", "x", None, 1.0, 3.0), Span(1, "b", "x", None, 2.0, 4.0),
             Span(2, "c", "x", None, 6.0, 7.0)]
    assert covered(spans, 0.0, 10.0) == pytest.approx(4.0)
    assert covered(spans, 2.5, 6.5) == pytest.approx(2.0)


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_printed_metric_names_match_benchmark_json(workload, tmp_path, monkeypatch):
    from perfbench import workloads

    monkeypatch.setattr(workloads, "NEARDUP_DOCS", 1_000)
    run, e2e, layers = bench_run.execute(
        workload, seed=3, seconds=0.1, trace=True, work_dir=str(tmp_path), size=TINY[workload]
    )
    for trace, spec_key in ((False, "end_to_end"), (True, "per_layer")):
        line = bench_run.result_line(SPEC, run, layers if trace else e2e, trace)
        assert set(line) == {"correct", "attempted", "failed", "metrics"}
        assert list(line["metrics"]) == [m["name"] for m in SPEC[spec_key]]
        units = {m["name"]: m["unit"] for m in SPEC[spec_key]}
        assert all(v["unit"] == units[k] for k, v in line["metrics"].items())
    assert line["correct"] and line["failed"] == 0 and line["attempted"] > 0
    assert all(v > 0 for v in e2e.values()), e2e


def _drop_first_row(path: str) -> None:
    table = pq.read_table(path)
    pq.write_table(table.slice(1), path)
    crc = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.crc")
    if os.path.exists(crc):
        os.remove(crc)


def test_corrupted_sink_drives_error_rate_to_one(tmp_path, monkeypatch):
    import shovel_spark.pipeline as pipeline

    write_sinks = pipeline.write_sinks

    def write_then_corrupt(routed, out_dir, sinks, *args, **kwargs):
        paths = write_sinks(routed, out_dir, sinks, *args, **kwargs)
        files = sorted(glob.glob(os.path.join(out_dir, "sink_hot", "*", "*.parquet")))
        if files and pq.read_metadata(files[0]).num_rows > 0:
            _drop_first_row(files[0])
        return paths

    monkeypatch.setattr(pipeline, "write_sinks", write_then_corrupt)
    run, _e2e, _ = bench_run.execute(
        "paced_recovery", seed=4, seconds=0.1, trace=False, work_dir=str(tmp_path),
        size=TINY["paced_recovery"],
    )
    assert run.attempted > 0
    assert run.failed / run.attempted == 1.0
