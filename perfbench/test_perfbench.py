"""The benchmark's own tests.

    python3 -m pytest perfbench -q

The smoke runs start real sessions on the tiny inputs (about a minute
each); the other tests need no JVM.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

import inputs
import run

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _digest(path: str) -> str:
    h = hashlib.sha256()
    for dirpath, dirs, files in sorted(os.walk(path)):
        dirs.sort()
        for name in sorted(files):
            with open(os.path.join(dirpath, name), "rb") as f:
                h.update(name.encode() + f.read())
    return h.hexdigest()


def test_names_match_benchmark_json():
    spec = _spec()
    assert spec["command"] == ["python3", "perfbench/run.py"]
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    for key, table in (("end_to_end", run.END_TO_END),
                       ("per_layer", run.PER_LAYER)):
        assert [(m["name"], m["unit"], m["better"]) for m in spec[key]] \
            == [(k, u, b) for k, (u, b) in table.items()]


@pytest.mark.parametrize("write", [
    lambda d, seed: inputs.write_tables(d, seed, inputs.SIZES["tiny"]),
    lambda d, seed: inputs.write_er_sources(d, seed, inputs.SIZES["tiny"]),
], ids=["corpus_tables", "er_sources"])
def test_seed_changes_inputs_not_their_shape(tmp_path, write):
    a = write(str(tmp_path / "a"), 1)
    again = write(str(tmp_path / "again"), 1)
    b = write(str(tmp_path / "b"), 2)
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "again"))
    assert _digest(str(tmp_path / "a")) != _digest(str(tmp_path / "b"))
    assert a["rows"] == again["rows"]
    assert set(a["rows"]) == set(b["rows"])
    for name in os.listdir(tmp_path / "a"):
        if name.endswith(".parquet"):
            assert (pq.read_schema(tmp_path / "a" / name)
                    == pq.read_schema(tmp_path / "b" / name))


def test_er_names_are_distinct_and_abns_valid(tmp_path):
    truth = inputs.write_er_sources(str(tmp_path), 5, inputs.SIZES["tiny"])
    assert len(truth["planted"]) == inputs.SIZES["tiny"].crawl_pages
    for abn in truth["delta"]:
        digits = [int(c) for c in abn]
        digits[0] -= 1
        assert sum(d * w for d, w in zip(digits, inputs._ABN_WEIGHTS)) \
            % 89 == 0


def test_refuses_without_the_package(tmp_path):
    """In a directory holding only the benchmark, the run exits non-zero
    with one machine-readable reason on stderr and no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "er_batch",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0
    assert p.stdout == ""
    assert "refused" in json.loads(p.stderr.strip().splitlines()[-1])


def test_failed_setup_refuses(monkeypatch, capsys):
    """A run whose set-up fails prints one machine-readable reason on
    stderr, no result, and exits non-zero."""
    def broken(work):
        raise OSError("no space left on device")

    monkeypatch.setattr(run.harness, "configure_env", broken)
    code = run.main(["--workload", "er_batch", "--seed", "1",
                     "--seconds", "1", "--trace", "0"])
    out = capsys.readouterr()
    assert code != 0 and out.out == ""
    reason = json.loads(out.err.strip().splitlines()[-1])["refused"]
    assert reason.startswith("run failed: OSError")


def _smoke(workload: str, seed: int, trace: int) -> tuple[dict, dict]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace),
         "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert p.returncode == 0, p.stderr[-3000:]
    detail, result = (json.loads(line)
                      for line in p.stdout.strip().splitlines()[-2:])
    return detail["detail"], result


@pytest.mark.parametrize("workload,seed", [
    ("er_batch", 1), ("er_batch", 2),
    ("corpus_curation", 1), ("corpus_curation", 2)])
def test_smoke_end_to_end(workload, seed):
    detail, result = _smoke(workload, seed, 0)
    spec = _spec()
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, detail["problems"]
    assert list(result["metrics"]) == [m["name"]
                                       for m in spec["end_to_end"]]
    for m in spec["end_to_end"]:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"] and got["value"] > 0
    prov = detail["provenance"]
    assert {"git_sha", "dirty", "source_sha", "nproc",
            "driver_heap"} <= set(prov)
    assert detail["seed"] == seed and detail["inputs"]["total_rows"] > 0


def test_smoke_traced():
    detail, result = _smoke("er_batch", 3, 1)
    assert result["correct"], detail["problems"]
    assert list(result["metrics"]) == [m["name"]
                                       for m in _spec()["per_layer"]]
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["pipeline.match.candidate_pairs"] > 0
    assert m["pipeline.match.llm_band_rows"] > 0
    assert 0 < m["sources.records_out"] <= detail["inputs"]["total_rows"]
    assert m["spark.jobs"] > 0 and m["session.py4j_calls"] > 0
