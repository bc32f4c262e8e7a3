"""BENCHMARK.json names exactly the workloads and metrics run.py reports."""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import run  # noqa: E402
import workloads  # noqa: E402


def test_benchmark_json_matches_run():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"), encoding="utf-8") as fh:
        bench = json.load(fh)
    assert [w["name"] for w in bench["workloads"]] == list(workloads.WORKLOADS)
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == list(run.END_TO_END.items())
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == [
        (m, run.layer_unit(m)) for m in run.PER_LAYER]
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])


def test_percentile_interpolates():
    assert run.pct([3.0], 90) == 3.0
    assert run.pct([1.0, 2.0, 3.0, 4.0, 5.0], 50) == 3.0
    assert abs(run.pct([1.0, 2.0], 90) - 1.9) < 1e-12


def test_percentiles_take_one_kind_of_call_each():
    from workloads import Round

    hops = Round(6.0, queries=[("bronze", 1.0), ("silver", 2.0), ("gold", 3.0)], queries_s=6.0,
                 rows=600, rows_s=6.0, in_bytes=100)
    clean = Round(0.5, batches=[("stream.file", 0.5)], rows=10, rows_s=0.5, in_bytes=10)
    quarantined = Round(0.4, rows=10, rows_s=0.4, in_bytes=10)
    counters = {"output_bytes": 30, "shuffle_write_bytes": 0}
    m = run.end_to_end([hops + clean + clean + quarantined], counters, 0, 9.0, 100.0, 1.0)
    assert m["query_p50_s"] == (2.0, 3) and m["queries_per_s"] == (0.5, 3)
    assert m["batch_p50_s"] == (0.5, 2) and m["batch_p90_s"] == (0.5, 2)
    assert abs(m["rows_per_s"][0] - 630 / 7.4) < 1e-9
    assert m["write_amp"][0] == 30 / 130
