"""Fast self-tests of the benchmark, at tiny sizes.

    python3 -m pytest perfbench/test_perfbench.py -q

The end-to-end tests start the real command in a subprocess: on the
tiny ``lab_stream`` shape (a few thousand events), or on ``rag_curation``
over the sf0.001 fixture. Each takes one to two minutes on four cores.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(ROOT), str(HERE)]

import inputs  # noqa: E402
import names  # noqa: E402


def run_bench(workload: str, *extra: str) -> tuple[dict, dict]:
    """Run the command; return (detail line, result line)."""
    p = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload,
         "--scale", "tiny", "--seed", "7", "--seconds", "1", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2])["detail"], json.loads(lines[-1])


def test_benchmark_json_lists_every_emitted_metric():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == names.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == names.per_layer()
    assert spec["paths"] == ["perfbench"]


def test_inputs_repeat_per_seed_and_keep_their_size(tmp_path):
    shape = inputs.LAB_SHAPES["tiny"]
    d1, h1 = inputs.lab_events(3, shape, tmp_path / "a")
    d2, h2 = inputs.lab_events(3, shape, tmp_path / "b")
    _, h3 = inputs.lab_events(4, shape, tmp_path / "c")
    assert h1 == h2 != h3
    assert [f.read_bytes() for f in sorted(d1.glob("*.parquet"))] == \
           [f.read_bytes() for f in sorted(d2.glob("*.parquet"))]
    f1, g1 = inputs.fixture_inputs(3, tmp_path / "a")
    _, g2 = inputs.fixture_inputs(3, tmp_path / "b")
    f3, g3 = inputs.fixture_inputs(4, tmp_path / "c")
    assert g1 == g2 != g3
    import pyarrow.parquet as pq
    for f in sorted(f1.glob("*.parquet")):
        assert pq.read_metadata(f).num_rows == pq.read_metadata(f3 / f.name).num_rows


@pytest.mark.parametrize("workload,trace", [
    ("lab_stream", 0), ("lab_stream", 1), ("rag_curation", 1)])
def test_every_metric_is_emitted_with_its_unit(workload, trace):
    detail, res = run_bench(workload, "--trace", str(trace))
    want = names.per_layer() if trace else names.END_TO_END
    assert res["correct"] and res["failed"] == 0, detail["errors"]
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert all(isinstance(v["value"], (int, float)) for v in res["metrics"].values())
    assert detail["master"].startswith("local[")
    m = {k: v["value"] for k, v in res["metrics"].items()}
    if (workload, trace) == ("lab_stream", 1):
        assert m["stream.join.rows_out"] > 0
        assert m["stream.tumble.batches"] >= 1
    if workload == "rag_curation":
        assert m["q.training_data_pipeline.jobs"] > 0
        assert m["q.lab3_chain.jobs"] > 0
        assert m["q.ml_predict_cached.python_rows"] > 0
        assert m["ml.calls_per_distinct_prompt"] > 0
        assert m["providers.textgen_us"] > 0


@pytest.mark.parametrize("workload,output", [
    ("lab_stream", "windows"), ("rag_curation", "ml_predict_cached")])
def test_a_corrupted_output_raises_fail_ratio(workload, output):
    detail, res = run_bench(workload, "--trace", "0", "--corrupt", output)
    assert not res["correct"]
    assert res["failed"] >= 2  # the cold pass and every warm pass
    assert detail["fail_ratio"] > 0
    assert any(f"{output}: output mismatch" in e for e in detail["errors"])
