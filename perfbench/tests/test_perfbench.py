"""The benchmark's own tests: corpus determinism, manifest truth, metric
names, and a tiny run of every workload.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import re
import shutil
import subprocess
import sys
from collections import Counter
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent.parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

import corpus  # noqa: E402

BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())
NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")


def _bytes(d: Path) -> dict[str, bytes]:
    return {p.name: p.read_bytes() for p in sorted(d.iterdir())}


def test_generator_is_deterministic(tmp_path):
    corpus.generate(5, tmp_path / "a", corpus.TINY)
    corpus.generate(5, tmp_path / "b", corpus.TINY)
    corpus.generate(6, tmp_path / "c", corpus.TINY)
    a, b, c = (_bytes(tmp_path / x) for x in "abc")
    assert a == b
    assert a != c


def test_manifest_matches_parser_and_fastpath(tmp_path):
    from greenbuttonengine_spark.espi.fastpath import convert_file
    from greenbuttonengine_spark.espi.parser import parse_espi_feed

    manifest = corpus.generate(3, tmp_path, corpus.TINY)
    assert {r["error"] for r in manifest["files"].values() if r["error"]} == set(corpus.MALFORMED.values())
    for name, rec in manifest["files"].items():
        data = (tmp_path / name).read_bytes()
        if rec["error"] is None:
            rows = parse_espi_feed(data.decode("utf-8"), name)
            titles = {r["entry_index"]: r["title"] for r in rows if r["row_kind"] == "entry"}
            got = Counter(titles[r["entry_index"]] for r in rows if r["row_kind"] == "interval_reading")
            assert dict(got) == rec["titles"], name
        _, errors = convert_file(str(tmp_path / name))
        if rec["error"] is None:
            assert errors == [], name
        else:
            assert errors and all(rec["error"] in e.lower() for e in errors), (name, errors)


def test_benchmark_json_names_and_units():
    metrics = BENCH["end_to_end"] + BENCH["per_layer"]
    names = [m["name"] for m in metrics]
    assert len(names) == len(set(names))
    for m in metrics:
        assert NAME_RE.fullmatch(m["name"]) and m["unit"] and m["better"] in ("lower", "higher")
    assert {"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25} in BENCH["end_to_end"]


def _run(workload: str, trace: int, cwd: Path = ROOT) -> subprocess.CompletedProcess:
    cmd = [*BENCH["command"], "--workload", workload, "--seed", "1", "--seconds", "1",
           "--trace", str(trace), "--size", "tiny"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)


def _check_result(proc: subprocess.CompletedProcess, declared: list[dict]) -> dict:
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {m["name"]: m["unit"] for m in declared}
    return result


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_tiny_run_emits_every_end_to_end_metric(workload):
    result = _check_result(_run(workload, 0), BENCH["end_to_end"])
    assert all(v["value"] > 0 for v in result["metrics"].values())


def test_tiny_traced_run_emits_every_per_layer_metric():
    _check_result(_run("espi_many_small", 1), BENCH["per_layer"])
    spans = (ROOT / ".perfbench" / "records").glob("espi_many_small-seed1-trace1-*.spans.json")
    rows = json.loads(max(spans, key=lambda p: p.stat().st_mtime).read_text())["spans"]
    assert {"name", "start", "end", "parent", "run_id", "self_s"} <= set(rows[0])
    assert {"session.get_spark", "espi.convert", "espi.pipeline.denormalize", "sinks.influx"} <= {
        r["name"] for r in rows
    }


def test_fails_without_the_program(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    for p in BENCH["paths"]:
        shutil.copytree(ROOT / p, tmp_path / p, ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run("espi_many_small", 0, cwd=tmp_path)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
