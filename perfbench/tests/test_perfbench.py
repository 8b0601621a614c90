"""Tests for the benchmark's own code (no Spark session needed).

Run from the repository root: python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
from collections import Counter

import pandas as pd
import pytest

from perfbench import checks, inputs, tracing, workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
SIZE_MIB = 8


def _image(tmp_path, seed: int) -> tuple[dict, bytes]:
    d = tmp_path / f"img{seed}"
    d.mkdir()
    manifest = inputs.build_image(str(d / "image.raw"), SIZE_MIB, seed, str(d))
    return manifest, (d / "image.raw").read_bytes()


def test_same_seed_same_image(tmp_path):
    m1, b1 = _image(tmp_path, 5)
    (tmp_path / "again").mkdir()
    m2 = inputs.build_image(str(tmp_path / "again" / "image.raw"), SIZE_MIB, 5, str(tmp_path / "again"))
    b2 = (tmp_path / "again" / "image.raw").read_bytes()
    assert hashlib.sha256(b1).digest() == hashlib.sha256(b2).digest()
    assert m1 == m2
    _, b3 = _image(tmp_path, 6)
    assert b1 != b3


def test_texture_and_plant_mix_do_not_depend_on_seed(tmp_path):
    mixes = set()
    for seed in (1, 2, 3):
        m, blob = _image(tmp_path, seed)
        assert len(blob) == SIZE_MIB * inputs.MIB
        plants = Counter(f["kind"] for f in m["files"])
        mixes.add((tuple(sorted(m["textures"].items())), tuple(sorted(plants.items()))))
        # one plant per MiB stripe, inside its stripe, bytes as recorded
        assert len(m["files"]) == SIZE_MIB
        for f in m["files"]:
            assert f["offset"] // inputs.MIB == (f["offset"] + f["size"] - 1) // inputs.MIB
            body = blob[f["offset"] : f["offset"] + f["size"]]
            assert hashlib.sha256(body).hexdigest() == f["sha256"]
        # every planted artefact sits in a text stripe at its offset
        for a in m["artefacts"]:
            assert a["global_start"] // inputs.MIB in m["text_stripes"]
            at = blob[a["global_start"] : a["global_start"] + len(a["content"])]
            assert at.decode() == a["content"]
    assert len(mixes) == 1


def test_plants_meet_the_default_min_sizes(tmp_path):
    from swiftbeaver_spark.config import DEFAULT_CONFIG

    m, _ = _image(tmp_path, 7)
    for f in m["files"]:
        assert f["size"] >= DEFAULT_CONFIG.file_type(f["type"]).min_size, f


def test_event_log_summed_per_job_group():
    """A recorded log: job group g1 ran a mapInPandas + groupBy (three
    jobs, one shuffle), g2 a small aggregate (two jobs)."""
    groups = tracing.summarize_events(
        tracing.read_events(os.path.join(HERE, "data", "eventlog_small.jsonl"))
    )
    g1, g2 = groups["g1"], groups["g2"]
    assert (g1["jobs"], g1["tasks"], sorted(g1["stage_ids"])) == (3, 9, [0, 2, 5])
    assert (g2["jobs"], g2["tasks"], sorted(g2["stage_ids"])) == (2, 5, [6, 8])
    assert g1["py_sent_b"] == 4 * 208544 and g1["py_recv_b"] == 4 * 202288
    assert g1["py_start_ms"] == 7640 and g1["py_run_ms"] == 14055
    assert g2["py_sent_b"] == 0
    assert g1["cpu_ns"] == 2992616950 and g1["shuffle_write_b"] == 533266
    total = tracing.total_of(groups)
    assert total["tasks"] == 14 and total["jobs"] == 5
    sm = tracing.spark_metrics(total)
    assert sm["spark.stages"] == 5 and sm["spark.py_sent_mib"] == pytest.approx(834176 / (1 << 20))


def _carved_from(manifest: dict) -> pd.DataFrame:
    return pd.DataFrame(
        [(f["offset"], f["size"], f["sha256"]) for f in manifest["files"]],
        columns=["global_start", "size", "sha256"],
    )


def _artefacts_from(manifest: dict) -> pd.DataFrame:
    return pd.DataFrame(
        [(a["kind"], a["content"], a["global_start"]) for a in manifest["artefacts"]],
        columns=["artefact_kind", "content", "global_start"],
    )


def test_checks_accept_the_planted_outputs(tmp_path):
    m, _ = _image(tmp_path, 9)
    assert checks.check_carved(m, _carved_from(m)) == []
    assert checks.check_artefacts(m, _artefacts_from(m)) == []
    assert checks.check_browser(m, dict(m["browser"])) == []


def test_checks_reject_a_tampered_manifest(tmp_path):
    m, _ = _image(tmp_path, 9)
    carved, arts = _carved_from(m), _artefacts_from(m)
    bad = json.loads(json.dumps(m))
    bad["files"][0]["sha256"] = "0" * 64
    assert checks.check_carved(bad, carved)
    bad = json.loads(json.dumps(m))
    bad["files"][1]["size"] += 1
    assert checks.check_carved(bad, carved)
    bad = json.loads(json.dumps(m))
    bad["artefacts"][0]["content"] += "x"
    assert checks.check_artefacts(bad, arts)
    bad = json.loads(json.dumps(m))
    bad["artefacts"].pop()
    assert checks.check_artefacts(bad, arts)  # an extra artefact is reported
    bad = json.loads(json.dumps(m))
    bad["browser"]["cookies"] += 1
    assert checks.check_browser(bad, dict(m["browser"]))


def test_canon_ignores_row_and_column_order():
    a = pd.DataFrame({"x": [2, 1], "y": ["b", "a"]})
    b = pd.DataFrame({"y": ["a", "b"], "x": [1, 2]})
    assert checks.canon(a) == checks.canon(b)
    assert checks.check_query("q", a, (2, checks.canon(b))) == []
    assert checks.check_query("q", a.head(1), (2, checks.canon(b)))


def test_benchmark_json_matches_the_code():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    from perfbench.run import E2E_UNITS, WORKLOADS

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == E2E_UNITS
    names = workloads.per_layer_names()
    assert [m["name"] for m in spec["per_layer"]] == names
    assert all(m["unit"] == workloads.unit_of(m["name"]) for m in spec["per_layer"])
    assert len(names) == len(set(names)) <= 128
