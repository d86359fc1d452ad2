"""Self-tests of the benchmark: the tracer's self time, the independent
oracles, BENCHMARK.json against what run.py prints, the bare-directory
refusal, and the geocode_scan layer ladder on a live local session.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import numpy as np
import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import harness, oracles, run  # noqa: E402


def test_self_time_subtracts_children():
    tr = harness.Tracer()
    with tr.span("outer"):
        time.sleep(0.02)
        with tr.span("a"):
            time.sleep(0.05)
        with tr.span("b"):
            time.sleep(0.05)
    outer = tr.spans[0]
    assert tr.spans[1]["parent"] == tr.spans[2]["parent"] == outer["id"]
    self_s = tr.self_time(outer["id"])
    assert 0.015 <= self_s <= 0.05
    assert self_s < (outer["end"] - outer["start"]) - 0.09


def test_oracles_on_known_shapes():
    from mundipy_spark.kernels import wkb

    square = np.array([[0.0, 0.0], [2.0, 0.0], [2.0, 2.0], [0.0, 2.0], [0.0, 0.0]])
    xs, ys = np.array([1.0, 3.0, 0.5]), np.array([1.0, 1.0, 1.9])
    assert oracles.ray_cast(xs, ys, square).tolist() == [True, False, True]
    assert oracles.shoelace(square) == 4.0
    hole = np.array([[0.5, 0.5], [1.0, 0.5], [1.0, 1.0], [0.5, 1.0], [0.5, 0.5]])
    multi = ("MultiPolygon", [[square, hole], [square + 5.0]])
    assert oracles.wkb_area(wkb.dumps(multi)) == pytest.approx(7.75)
    lon, lat = np.array([10.0, -120.5]), np.array([45.0, -33.25])
    back = oracles.mercator_to_lonlat(*oracles.lonlat_to_mercator(lon, lat))
    assert np.allclose(back, (lon, lat), atol=1e-12)


def test_region_counts_closed_form():
    ids = np.arange(1, 8001, dtype=np.int64)
    counts = oracles.region_counts(ids, 104729, 7919)
    assert sum(counts.values()) == int((ids % 8 != 0).sum())


def test_benchmark_json_matches_run():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    from perfbench.workloads import WORKLOADS

    assert [m["name"] for m in spec["per_layer"]] == run.PER_LAYER
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == {
        n: run.unit_of(n) for n in run.PER_LAYER
    }
    assert {m["name"] for m in spec["end_to_end"]} == {"setup_s", "rows_per_s"}
    assert all(w["name"] in WORKLOADS for w in spec["workloads"])


def test_bare_directory_refuses(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "geocode_scan",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


# ---------------------------------------------------------------------------
# live ladder
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def scan():
    from perfbench.workloads import GeocodeScan

    work = harness.make_work_dir(ROOT)
    sr = harness.SparkRun(ROOT, work, min(4, harness.host_cpus()))
    spark = sr.start()
    wl = GeocodeScan(spark, 11, work, sr.cpus)
    wl.rows = 200_000
    wl.generate()
    wl.expected()
    wl.prepare()
    for _ in range(wl.warmup_passes):
        assert wl.check(wl.run_pass()) == []
    yield wl
    sr.close()
    harness.remove_work_dir(work)


def test_pass_rung_matches_untraced_pass(scan):
    # the traced run's own code path: ladder between untraced passes
    layer, _ = run.ladder_between_passes(scan, run.Ops(), harness.Tracer())
    assert scan.ladder_failures == []
    untraced = layer["ladder.untraced_pass_s"]
    assert abs(layer["ladder.pass_rung_s"] - untraced) <= 0.10 * untraced


def test_observation_counts_reconcile(scan):
    scan.layers(harness.Tracer(), 1)
    c = scan.counts
    assert c["pages"] == scan.rows
    assert c["pages"] >= c["parsed"] >= c["hits"]
    assert c["candidates"] >= c["bbox_candidates"] >= c["hits"]
    # disjoint rectangles and no mention on an edge: one hit per mention
    assert c["hits"] == c["parsed"] == int((scan.doc_ids % 8 != 0).sum())


def test_injected_slowdown_shows_in_its_layer_only(scan, monkeypatch):
    from pyspark.sql import functions as F

    from perfbench import workloads

    base, _ = scan.layers(harness.Tracer(), 3)
    real_parse = workloads.geoparse.parse_geo_tokens
    delay = 0.2

    @F.pandas_udf("boolean")
    def slow(s: pd.Series) -> pd.Series:
        time.sleep(delay)
        return pd.Series(True, index=s.index)

    def slowed_parse(pages, *a, **kw):
        return real_parse(pages, *a, **kw).filter(slow(F.col("lat")))

    monkeypatch.setattr(workloads.geoparse, "parse_geo_tokens", slowed_parse)
    slowed, _ = scan.layers(harness.Tracer(), 3)
    monkeypatch.undo()
    marg = {k: v for k, v in base.items() if k.endswith("_s") and k != "operators.joins.index_build_s"}
    delta = {k: slowed[k] - base[k] for k in marg}
    injected = delta.pop("operators.geoparse.parse_s")
    assert injected > 0.5, delta
    for k, d in delta.items():
        assert abs(d) < 0.35 * injected, (k, d, injected)


def test_sink_pass_and_layers(scan):
    """geocode_sink on a small input: a checked pass as the run by name
    times it, then its layers as the traced run of geocode_scan
    measures them (the companion path)."""
    from perfbench.workloads import GeocodeSink

    sink = GeocodeSink(scan.spark, 12, scan.work, scan.cpus)
    sink.rows = 3000
    sink.generate()
    sink.expected()
    sink.prepare()
    ops = run.Ops()
    assert run.timed_pass(sink, ops, "pass") > 0
    m, lad = sink.layers(harness.Tracer(), 1)
    run.record_ladder(sink, ops, lad)
    assert ops.attempted == 2 and ops.failed == 0, ops.failures
    assert m["sources.checkpoint.files_written"] > 0
    assert m["sources.checkpoint.bytes_written"] > 0
    assert m["plans.pipeline.write_amp"] > 0
    assert m["plans.pipeline.resume_s"] > 0 and m["sources.checkpoint.completed_keys_s"] > 0
    # both passes' outputs were removed after they were measured
    assert not [d for d in os.listdir(scan.work) if d.startswith("sink_out_")]
