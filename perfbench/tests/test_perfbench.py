"""The benchmark's own tests.

Fast ones check the input generators and the stream check; the
``run.py`` ones make tiny end-to-end runs (sf 0.001, a few hundred
events, a few seconds live) and take a few minutes in all.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, ROOT)
sys.path.insert(0, BENCH_DIR)

import datagen  # noqa: E402
from checks import check_stream  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as _f:
    BENCH = json.load(_f)
WORKLOADS = [w["name"] for w in BENCH["workloads"]] + ["stream_live"]
TINY = ["--seconds", "3", "--sf", "0.001", "--events", "300"]


def tiny(workload: str) -> list[str]:
    # the live generator's capture follows from its rate and --seconds
    return TINY[:4] if workload == "stream_live" else TINY


def bench(*args: str, cwd: str = ROOT) -> tuple[int, list[dict], str]:
    proc = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=400,
    )
    lines = [json.loads(x) for x in proc.stdout.splitlines() if x.startswith("{")]
    return proc.returncode, lines, proc.stderr


# -- inputs ------------------------------------------------------------------


def test_same_seed_same_inputs(tmp_path):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    datagen.write_tables(str(a), 3, 0.001)
    datagen.write_tables(str(b), 3, 0.001)
    datagen.write_tables(str(c), 4, 0.001)
    for name in os.listdir(a):
        assert (a / name).read_bytes() == (b / name).read_bytes(), name
    assert (a / "lineitem.parquet").read_bytes() != (c / "lineitem.parquet").read_bytes()
    assert datagen.Capture(3, 50).changes == datagen.Capture(3, 50).changes
    assert datagen.Capture(3, 50).changes != datagen.Capture(4, 50).changes


def test_title_cardinality_grows_with_events():
    small = {c["title"] for c in datagen.Capture(1, 400).changes}
    large = {c["title"] for c in datagen.Capture(1, 4000).changes}
    assert len(large) > 5 * len(small)


def test_documents_plant_duplicates():
    texts = datagen.documents_table(5, 500).column("text").to_pylist()
    normalized = [" ".join(t.lower().split()) for t in texts]
    assert len(set(normalized)) < len(normalized)


# -- stream check ------------------------------------------------------------


def _batches(*bounds: tuple[int, int]) -> list[dict]:
    return [{"batch_id": i, "start": s, "end": e, "rows": e - s} for i, (s, e) in enumerate(bounds)]


def test_check_stream_accepts_exact_delivery():
    rows = [{"title": "A"}, {"title": "B"}]
    assert check_stream(rows, {"A", "B"}, _batches((0, 5), (5, 9)), 9) == []


def test_check_stream_catches_each_fault():
    ok = _batches((0, 5), (5, 9))
    assert check_stream([{"title": "A"}, {"title": "A"}], {"A"}, ok, 9)
    assert check_stream([{"title": "A"}], {"A", "B"}, ok, 9)
    assert check_stream([{"title": "A"}, {"title": "C"}], {"A"}, ok, 9)
    assert check_stream([{"title": "A"}], {"A"}, _batches((0, 5), (6, 9)), 9)
    assert check_stream([{"title": "A"}], {"A"}, _batches((0, 5), (3, 9)), 9)
    assert check_stream([{"title": "A"}], {"A"}, ok, 10)


# -- end to end --------------------------------------------------------------


@pytest.mark.parametrize("trace", ["0", "1"])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_tiny_run_emits_every_metric(workload, trace):
    code, lines, err = bench("--workload", workload, "--seed", "7", "--trace", trace,
                             *tiny(workload))
    assert code == 0, err[-3000:]
    context, result = lines[-2]["perfbench"], lines[-1]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, context["problems"]
    assert context["failed_ratio"] == 0
    assert result["attempted"] >= 1
    for key in ("nproc", "spark_cores", "loadavg_start", "loadavg_end", "commit"):
        assert key in context
    wanted = BENCH["per_layer"] if trace == "1" else BENCH["end_to_end"]
    assert {n: m["unit"] for n, m in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in wanted
    }
    for name, m in result["metrics"].items():
        assert isinstance(m["value"], (int, float)), name
        if trace == "0":
            assert m["value"] > 0, name


def test_dropped_rows_are_caught():
    code, lines, err = bench("--workload", "batch_llm", "--seed", "7", "--trace", "0",
                             "--fault", "drop_rows:dedup_exact", *TINY)
    assert code == 0, err[-3000:]
    result = lines[-1]
    assert result["correct"] is False and result["failed"] >= 1
    assert any(p.startswith("dedup_exact") for p in lines[-2]["perfbench"]["problems"])


def test_duplicated_sink_event_is_caught():
    code, lines, err = bench("--workload", "stream_replay", "--seed", "7", "--trace", "0",
                             "--fault", "dup_sink_event", *TINY)
    assert code == 0, err[-3000:]
    result = lines[-1]
    assert result["correct"] is False and result["failed"] >= 1
    assert any("twice" in p for p in lines[-2]["perfbench"]["problems"])


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    code, lines, _ = bench("--workload", "batch_llm", "--seed", "1", "--seconds", "1",
                           "--trace", "0", cwd=str(tmp_path))
    assert code != 0
    assert lines == []
