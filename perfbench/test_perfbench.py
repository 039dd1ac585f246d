"""Tests of the benchmark's own machinery (no Spark session needed).

Run: ``python3 -m pytest perfbench -q``
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench import common as C
from perfbench import datagen
from perfbench.stub import StubProcess, respond

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_percentile_reports_sample_counts():
    xs = [float(i) for i in range(1, 21)]
    p50 = C.percentile(xs, 50)
    assert (p50.value, p50.n, p50.beyond) == (10.0, 20, 10)
    p90 = C.percentile(xs, 90)
    assert (p90.value, p90.n, p90.beyond) == (18.0, 20, 2)
    assert C.percentile([3.0], 100).beyond == 0
    with pytest.raises(ValueError):
        C.percentile([], 50)
    with pytest.raises(ValueError):
        C.percentile(xs, 0)


def test_highest_supported_percentile_leaves_ten_beyond():
    assert C.highest_supported_percentile(10) is None
    assert C.highest_supported_percentile(20) == 50.0
    assert C.highest_supported_percentile(100) == 90.0
    for n in (11, 20, 37, 100, 250):
        q = C.highest_supported_percentile(n)
        assert C.percentile([float(i) for i in range(n)], q).beyond >= 10


def test_fail_rate_counting():
    o = C.Outcomes()
    o.ok(10)
    o.fail("query raised", 2)
    o.mismatch("hash differs")
    assert (o.attempted, o.failed) == (12, 3)
    assert o.fail_rate == pytest.approx(0.25)
    assert o.notes == ["query raised", "hash differs"]
    assert C.Outcomes().fail_rate == 1.0  # nothing attempted is not a success


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == C.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == C.PER_LAYER
    assert list(C.END_TO_END) == [m["name"] for m in bench["end_to_end"]]
    from perfbench.run import WORKLOADS

    assert [w["name"] for w in bench["workloads"]] == WORKLOADS


def test_tracer_self_time_subtracts_covered_child_time():
    t = C.Tracer(enabled=True)
    parent = t.add("parent", 0.0, 10.0)
    t.add("a", 1.0, 3.0, parent=parent)
    t.add("b", 2.0, 5.0, parent=parent)  # overlaps a
    t.add("c", 8.0, 9.0, parent=parent)
    spans = {s["name"]: s for s in t.with_self_time()}
    assert spans["parent"]["self_s"] == pytest.approx(5.0)
    assert spans["a"]["self_s"] == pytest.approx(2.0)
    assert C.Tracer(enabled=False).add("x", 0.0, 1.0) == -1


def test_change_slices_follow_the_seed(tmp_path):
    def gen(seed, sub):
        paths = datagen.write_change_slices(str(tmp_path / sub), seed, 2, 100, 1000, 0.2, 0.3)
        return [open(p, "rb").read() for p in paths]

    assert gen(1, "a") == gen(1, "b")
    assert gen(1, "a") != gen(2, "c")


def test_stub_answers_by_its_response_function():
    from data_misc_tools_spark.operators.http import http_call_once

    with StubProcess(seed=3) as stub:
        got = http_call_once("GET", f"{stub.base_url}/item/k1")
        assert (got[0], got[2]) == respond("GET", "/item/k1", b"")
        got = http_call_once("POST", f"{stub.base_url}/item/k2", body="hello")
        assert (got[0], got[2]) == respond("POST", "/item/k2", b"hello")
        got = http_call_once("GET", f"{stub.base_url}/err/503/k3")
        assert (got[0], got[2]) == (503, "error:503:k3")
        stats = stub.stats()
        assert (stats["requests"], stats["connections"]) == (3, 3)


def test_stub_drop_mode_yields_counted_failures_not_crashes():
    from data_misc_tools_spark.operators.http import http_call_once

    outcomes = C.Outcomes()
    with StubProcess(seed=5, drop_share=0.3) as stub:
        for i in range(60):
            path = f"/item/k{i}"
            code, _, content = http_call_once("GET", stub.base_url + path, timeout_ms=2000)
            if (code, content) == respond("GET", path, b""):
                outcomes.ok()
            else:
                assert code == -1  # a lost connection becomes an error row
                outcomes.fail(content)
        dropped = stub.stats()["dropped"]
    assert outcomes.attempted == 60
    assert 0 < outcomes.failed == dropped < 60


def test_stop_descendants_reaps_orphaned_grandchildren():
    import subprocess

    C.adopt_orphans()
    # The shell exits at once; its background sleep is orphaned and comes
    # back to this process as its subreaper.
    subprocess.run(["sh", "-c", "sleep 60 >/dev/null 2>&1 &"], check=True)
    child = subprocess.Popen(["sleep", "60"])
    assert len(C.descendants(os.getpid())) == 2
    C.stop_descendants(grace_s=0.2)
    assert C.descendants(os.getpid()) == []
    assert child.wait(timeout=1) is not None
