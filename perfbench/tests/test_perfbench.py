"""Self-tests of the benchmark: every metric prints with its unit, the
correctness gate passes on honest output and fails on altered output, and
the runner refuses to run without the program beside it.

    python3 -m pytest perfbench/tests -q

The Spark runs use a tiny input scale; the whole file takes a few minutes.
"""

import json
import os
import re
import shutil
import subprocess
import sys
from collections import Counter

import pytest

BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, ROOT)

from perfbench import gates  # noqa: E402
from perfbench.run import END_TO_END, PER_LAYER, WORKLOAD_NAMES  # noqa: E402

TINY = "0.05"
METRIC_LINE = re.compile(r"^metric (\S+) = (\S+) (\S+)$")

SHOWN = {
    "extract_pages": ["docs_per_s", "docs_per_s_1core", "scaling_eff_1_to_4"],
    "chunk_pipeline": ["turns_per_s"],
    "checkpoint_resume": ["ckpt_docs_per_s", "resume_s"],
    "rag_query": ["query_p50_ms", "query_p90_ms", "queries_per_s"],
}


def run_bench(*args, cwd=ROOT, timeout=600):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=timeout,
    )


def parse(stdout: str):
    lines = stdout.strip().splitlines()
    shown = {}
    for line in lines:
        m = METRIC_LINE.match(line)
        if m:
            shown[m.group(1)] = (float(m.group(2)), m.group(3))
    return shown, json.loads(lines[-1])


def info_of(stdout: str) -> dict:
    return json.loads(next(ln for ln in stdout.splitlines() if ln.startswith("info "))[5:])


@pytest.mark.parametrize("workload", WORKLOAD_NAMES)
def test_smoke_prints_every_metric_and_passes_the_gate(workload):
    proc = run_bench("--workload", workload, "--seed", "3", "--seconds", "1", "--trace", "0", "--scale", TINY)
    assert proc.returncode == 0, proc.stderr[-3000:]
    shown, result = parse(proc.stdout)
    for name in SHOWN[workload] + ["setup_s", "peak_rss_mb", "error_rate"]:
        assert name in shown, name
        assert shown[name][1], name
    assert shown["error_rate"][0] == 0
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    assert set(result["metrics"]) == set(END_TO_END)
    for name, unit in END_TO_END.items():
        assert result["metrics"][name]["unit"] == unit
        assert result["metrics"][name]["value"] > 0


def test_traced_run_reports_every_per_layer_metric():
    proc = run_bench("--workload", "extract_pages", "--seed", "4", "--seconds", "1", "--trace", "1", "--scale", TINY)
    assert proc.returncode == 0, proc.stderr[-3000:]
    _shown, result = parse(proc.stdout)
    assert result["correct"] is True
    assert info_of(proc.stdout)["spans"] > 0
    assert set(result["metrics"]) == set(PER_LAYER)
    for name, unit in PER_LAYER.items():
        assert result["metrics"][name]["unit"] == unit
    assert result["metrics"]["plans.lineage.buckets_recomputed"]["value"] == 0


def test_gate_catches_one_altered_url():
    proc = run_bench("--workload", "extract_pages", "--seed", "3", "--seconds", "1", "--scale", TINY,
                     "--inject-mismatch")
    assert proc.returncode == 0, proc.stderr[-3000:]
    shown, result = parse(proc.stdout)
    info = info_of(proc.stdout)
    assert result["correct"] is False
    # exactly the altered url fails, once per checked job
    jobs = result["attempted"] // info["docs"]
    assert jobs >= 1 and result["failed"] == jobs
    assert shown["error_rate"][0] > 0


def test_digest_comparison_counts_each_bad_url():
    reference = {"u1": "a", "u2": "b", "u3": "c"}
    assert gates.compare_digests([("u1", "a"), ("u2", "b"), ("u3", "c")], reference) == (3, 0)
    assert gates.compare_digests([("u1", "a"), ("u2", "x"), ("u3", "c")], reference) == (3, 1)
    assert gates.compare_digests([("u1", "a"), ("u3", "c")], reference) == (3, 1)
    assert gates.compare_digests([("u1", "a"), ("u2", "b"), ("u3", "c"), ("u4", "d")], reference) == (3, 1)


def test_counter_comparison_counts_missing_and_extra_rows():
    ref = Counter({("c1", "General", 5.0): 2, ("c2", "Growth", 7.0): 1})
    assert gates.compare_counters(ref.copy(), ref) == (3, 0)
    assert gates.compare_counters(Counter({("c1", "General", 5.0): 2, ("c2", "Growth", 6.0): 1}), ref) == (3, 2)


def test_benchmark_json_matches_the_runner():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert spec["command"][:2] == ["python3", "perfbench/run.py"]
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOAD_NAMES)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    proc = run_bench("--workload", "extract_pages", "--seed", "1", "--seconds", "1", "--trace", "0",
                     cwd=tmp_path, timeout=120)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
