"""Golden physical-plan skeletons for every registered query (r9,
VERDICT task 8): the formatted plan's operator tree — node KINDS and
structure only, ids and expressions stripped — is snapshotted under
``tests/golden_plans/``. Any silent plan regression (a new Exchange, a
lost BroadcastHashJoin, a lost WindowGroupLimit, a scan that stopped
being an InMemoryTableScan) shows up as a reviewable text diff instead
of only as a bench drift three rounds later.

Intentional plan changes regenerate the goldens:

    UPDATE_GOLDEN_PLANS=1 python -m pytest tests/test_golden_plans.py

and the regenerated files are reviewed in the commit like any other
golden. Skeletons are taken at the pytest sf_dir (sf0.001) — node
kinds are layout-stable there because the testdata files are fixed
(broadcast decisions come from file-size estimates, which only change
when the testdata regenerates — and then the whole suite reruns)."""

from __future__ import annotations

import difflib
import os

import pytest

from australia_company_etl_pipeline_spark import plans
from australia_company_etl_pipeline_spark.plancheck import (
    plan_skeleton as _skeleton,
)

GOLDEN_DIR = os.path.join(os.path.dirname(__file__), "golden_plans")
GOLDEN_SF01_DIR = os.path.join(os.path.dirname(__file__),
                               "golden_plans_sf01")


@pytest.mark.parametrize("name", sorted(plans.REGISTRY))
def test_plan_skeleton_matches_golden(spark, sf_dir, name):
    skel = _skeleton(plans.REGISTRY[name].builder(spark, sf_dir))
    path = os.path.join(GOLDEN_DIR, f"{name}.txt")
    if os.environ.get("UPDATE_GOLDEN_PLANS"):
        os.makedirs(GOLDEN_DIR, exist_ok=True)
        with open(path, "w") as f:
            f.write(skel)
        return
    assert os.path.exists(path), (
        f"no golden plan for {name!r} — run with UPDATE_GOLDEN_PLANS=1 "
        "and review the new skeleton into the commit")
    with open(path) as f:
        want = f.read()
    if skel != want:
        diff = "\n".join(difflib.unified_diff(
            want.splitlines(), skel.splitlines(),
            fromfile=f"golden_plans/{name}.txt", tofile="current",
            lineterm=""))
        raise AssertionError(
            f"plan skeleton changed for {name!r} — if intentional, "
            f"regenerate with UPDATE_GOLDEN_PLANS=1 and review:\n{diff}")


def _headline_names():
    """The bench harness's HEADLINE list (bench.py sits at the repo
    root, which `python -m pytest` puts on sys.path)."""
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(__file__)))
    import bench

    return sorted(set(bench.HEADLINE))


@pytest.mark.skipif(
    not os.environ.get("SPARK_GRAFT_SF01_GOLDENS"),
    reason="bench-scale golden sweep is opt-in: the sf0.001 skeletons "
           "cannot see broadcast-threshold flips that only occur at "
           "bench scale; run with SPARK_GRAFT_SF01_GOLDENS=1 (and "
           "UPDATE_GOLDEN_PLANS=1 to regenerate) at the bench sf_dir")
@pytest.mark.parametrize("name", _headline_names()
                         if os.environ.get("SPARK_GRAFT_SF01_GOLDENS")
                         else [])
def test_sf01_plan_skeleton_matches_golden(spark, name):
    """r10 (VERDICT task 4): snapshot the HEADLINE queries' skeletons at
    BENCH scale ($SPARK_GRAFT_SF_DIR, default sf0.1) — file-size-driven
    broadcast decisions can differ from sf0.001, so a plan regression
    that only manifests at bench scale would slip the sf0.001 golden.
    bench.py refuses to record a window whose plans diverge from these
    (see its plan-guard)."""
    sf01_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if name not in plans.REGISTRY:
        pytest.skip(f"{name} not registered")
    skel = _skeleton(plans.REGISTRY[name].builder(spark, sf01_dir))
    path = os.path.join(GOLDEN_SF01_DIR, f"{name}.txt")
    if os.environ.get("UPDATE_GOLDEN_PLANS"):
        os.makedirs(GOLDEN_SF01_DIR, exist_ok=True)
        with open(path, "w") as f:
            f.write(skel)
        return
    assert os.path.exists(path), (
        f"no sf0.1 golden plan for {name!r} — run with "
        "SPARK_GRAFT_SF01_GOLDENS=1 UPDATE_GOLDEN_PLANS=1 and review")
    with open(path) as f:
        want = f.read()
    if skel != want:
        diff = "\n".join(difflib.unified_diff(
            want.splitlines(), skel.splitlines(),
            fromfile=f"golden_plans_sf01/{name}.txt", tofile="current",
            lineterm=""))
        raise AssertionError(
            f"bench-scale plan skeleton changed for {name!r} — if "
            f"intentional, regenerate and review:\n{diff}")


def test_plan_guard_refusal_prints_machine_readable_line(
        spark, sf_dir, tmp_path, monkeypatch, capsys):
    """A bench that refuses to time on plan drift still leaves one JSON
    line on stdout naming the diverged queries, then exits 2."""
    import json
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(__file__)))
    import bench

    bench_sf = tmp_path / "sf0.1"          # the guard's bench-scale dir
    bench_sf.symlink_to(sf_dir)
    goldens = tmp_path / "goldens"
    goldens.mkdir()
    (goldens / "abn_validate_format.txt").write_text("not this plan\n")
    monkeypatch.setattr(bench, "SF01_GOLDEN_DIR", str(goldens))
    monkeypatch.delenv("SPARK_GRAFT_SKIP_PLAN_GUARD", raising=False)
    monkeypatch.setattr(spark, "stop", lambda: None)  # shared session
    with pytest.raises(SystemExit) as exit_info:
        bench._plan_guard(spark, str(bench_sf), ["abn_validate_format"])
    assert exit_info.value.code == 2
    out = capsys.readouterr().out.strip().splitlines()
    assert json.loads(out[-1]) == {
        "metric": "headline_queries_total", "value": None,
        "error": "plan_guard", "diverged": ["abn_validate_format"]}
