"""Harness self-test at a tiny size (``--tiny``): not a measurement.

    python3 -m pytest perfbench/test_perfbench.py -q

Each case runs the benchmark command in its own process (one JVM per run,
as the benchmark itself runs). Checks:

- every end-to-end metric of ``BENCHMARK.json`` prints with its unit, for
  every workload;
- a perturbed *expected* digest (the oracle's output, never the engine's)
  makes the command exit non-zero and report ``correct: false``;
- in a traced run, span self-times sum to the root span's duration;
- a directory holding only ``BENCHMARK.json`` and ``perfbench/`` makes
  the command fail fast without printing a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import textwrap

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def _run(args: list[str], prelude: str = "", cwd: str = ROOT, timeout: int = 600):
    """Run ``perfbench/run.py`` in a fresh interpreter; ``prelude`` is
    Python executed first in that interpreter (to patch the harness)."""
    script = (
        f"import sys\nsys.path.insert(0, {ROOT!r})\n{textwrap.dedent(prelude)}\n"
        f"from perfbench import run\nsys.exit(run.main({args!r}))\n"
    ) if prelude else None
    cmd = [sys.executable, "-c", script] if script else [
        sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args
    ]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=timeout)


def _result(proc) -> dict:
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_metric_prints_with_its_unit(workload):
    proc = _run(["--workload", workload, "--seed", "3", "--seconds", "1",
                 "--trace", "0", "--tiny"])
    assert proc.returncode == 0, proc.stderr[-3000:]
    res = _result(proc)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert all(v["value"] > 0 for v in res["metrics"].values())


def test_perturbed_expected_digest_fails_the_run():
    prelude = """
        from perfbench import workloads
        _oracle = workloads.oracle_state
        def _perturbed(files):
            live, deleted = _oracle(files)
            r = live[0]
            return [(r[0], r[1], r[2] + 1) + tuple(r[3:])] + live[1:], deleted
        workloads.oracle_state = _perturbed
    """
    proc = _run(["--workload", "tail", "--seed", "3", "--seconds", "1",
                 "--trace", "0", "--tiny"], prelude=prelude)
    assert proc.returncode != 0
    res = _result(proc)
    assert res["correct"] is False and res["failed"] > 0


@pytest.mark.parametrize("workload", WORKLOADS)
def test_span_self_times_sum_to_root(workload, tmp_path):
    out = tmp_path / "spans.json"
    prelude = f"""
        import json
        from perfbench import layers
        _compute = layers.compute
        def _checked(run, ctx, io0, gc0):
            tr = run.tracer
            selfs = tr.self_times()
            (root,) = tr.named("pass")
            tree = {{root.id}} | tr.descendants(root.id)
            with open({str(out)!r}, "w") as fh:
                json.dump({{"root": root.dur, "sum": sum(selfs[i] for i in tree),
                           "spans": len(tree)}}, fh)
            return _compute(run, ctx, io0, gc0)
        layers.compute = _checked
    """
    proc = _run(["--workload", workload, "--seed", "3", "--seconds", "1",
                 "--trace", "1", "--tiny"], prelude=prelude)
    assert proc.returncode == 0, proc.stderr[-3000:]
    names = {m["name"] for m in SPEC["per_layer"]}
    assert set(_result(proc)["metrics"]) == names
    got = json.loads(out.read_text())
    assert got["spans"] > 10
    assert got["sum"] == pytest.approx(got["root"], rel=1e-9, abs=1e-9)


def test_fails_fast_without_engine_source(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(["--workload", WORKLOADS[0], "--seed", "1", "--seconds", "1",
                 "--trace", "0"], cwd=str(tmp_path), timeout=120)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
