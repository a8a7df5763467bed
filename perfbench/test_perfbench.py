"""The benchmark's own tests: smoke mode prints every metric BENCHMARK.json
names, with its unit, on every workload, and the run refuses to report
without the library.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())


def _run(cwd: Path, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=900)


# The traced run takes a seed large enough that the tree generator would
# overflow Spark's ANSI integer arithmetic if it multiplied the seed in SQL.
@pytest.mark.parametrize("trace,section,seed", [(0, "end_to_end", 7), (1, "per_layer", 98765432101)])
def test_smoke_reports_every_metric(trace, section, seed):
    p = _run(ROOT, "--workload", "all", "--smoke", "--seed", str(seed), "--seconds", "1", "--trace", str(trace))
    assert p.returncode == 0, p.stderr[-4000:]
    lines = [json.loads(line) for line in p.stdout.splitlines() if line.startswith("{")]
    meta = lines[0]["meta"]
    per_workload = {line["workload"]: line for line in lines if "workload" in line}
    assert list(per_workload) == [w["name"] for w in BENCH["workloads"]]
    want = {m["name"]: m["unit"] for m in BENCH[section]}
    for name, res in per_workload.items():
        assert res["correct"] and res["failed"] == 0, meta["errors"][name]
        assert res["attempted"] >= 1
        assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert set(lines[-1]) == {"correct", "attempted", "failed", "metrics"}
    assert lines[-1]["correct"]
    if trace:
        tree = per_workload["recursive_tree"]["metrics"]
        assert tree["compiler.routed_frac"]["value"] > 0
        assert tree["compiler.build_roundtrips"]["value"] > 0
        corpus = per_workload["corpus_scan"]["metrics"]
        assert corpus["checkpoint.jobs"]["value"] > 0
        assert corpus["columnar.rollup_s"]["value"] > corpus["columnar.scan_s"]["value"]


def test_fails_without_the_library(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(tmp_path, "--workload", BENCH["workloads"][0]["name"], "--seed", "1", "--seconds", "1")
    assert p.returncode != 0
    assert not [line for line in p.stdout.splitlines() if line.startswith("{")]
