"""Checks of the benchmark's own machinery that need no Spark session.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import pytest

import inputs
import workloads
from spans import Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_same_seed_gives_identical_inputs(name, tmp_path):
    cls = workloads.WORKLOADS[name]
    a, b = cls(7, str(tmp_path)), cls(7, str(tmp_path))
    assert json.dumps(a.input_description()) == json.dumps(b.input_description())
    assert a.fingerprint() == b.fingerprint()


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_different_seed_gives_different_inputs(name, tmp_path):
    cls = workloads.WORKLOADS[name]
    assert cls(7, str(tmp_path)).fingerprint() != cls(8, str(tmp_path)).fingerprint()


@pytest.mark.parametrize("seed", range(20))
def test_zipf_sizes_keep_total_and_head_share(seed):
    sizes = inputs.zipf_sizes(seed, 12, 64)
    assert len(sizes) == 12
    assert sum(sizes) == 64
    assert max(sizes) == 32
    assert min(sizes) >= 1


def test_traffic_shares_and_early_fetches():
    import pandas as pd

    a = "http://a.example.test/p/"
    b = "http://b.example.test/p/"
    visits = pd.DataFrame({
        "wave": [1, 1, 3, 3, 3, 4],
        "url": [a + "0", b + "0", a + "1", a + "2", b + "1", a + "3"],
    })
    t = workloads.traffic(visits, min_delay_waves=1)
    assert t["host_share"] == {"http://a.example.test": 0.6667, "http://b.example.test": 0.3333}
    assert [(w["wave"], w["fetched"], w["hosts"], w["top_share"]) for w in t["per_wave"]] == [
        (1, 2, 2, 0.5), (3, 3, 2, round(2 / 3, 4)), (4, 1, 1, 1.0),
    ]
    # host a fetched at wave 3 and again at wave 4: one wave apart, within the delay
    assert t["min_delay_early_fetches"] == 1


def test_span_self_time_excludes_children():
    tracer = Tracer("t", enabled=True)
    with tracer.span("outer"):
        time.sleep(0.02)
        with tracer.span("inner"):
            time.sleep(0.03)
    (outer,) = [s for s in tracer.spans if s.name == "outer"]
    (inner,) = [s for s in tracer.spans if s.name == "inner"]
    assert inner.parent == outer.id and outer.parent is None
    self_s = tracer.self_times()
    assert self_s["inner"] == pytest.approx(inner.end - inner.start)
    assert self_s["outer"] == pytest.approx((outer.end - outer.start) - (inner.end - inner.start))
    assert sum(self_s.values()) == pytest.approx(outer.end - outer.start)


def test_disabled_tracer_records_nothing():
    tracer = Tracer("t", enabled=False)
    with tracer.span("x"):
        pass
    assert tracer.wrap("y", lambda: 3)() == 3
    assert tracer.spans == []


def test_design_record_covers_every_metric_and_workload():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    with open(os.path.join(HERE, "design.json")) as f:
        design = json.load(f)
    assert {w["name"] for w in spec["workloads"]} == set(design["workloads"]) == set(workloads.WORKLOADS)
    assert {m["name"] for m in spec["per_layer"]} == set(design["per_layer"])
    assert {m["name"] for m in spec["end_to_end"]} <= set(design["end_to_end"])


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("out", "__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "drain", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout == ""
