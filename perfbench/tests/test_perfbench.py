"""Self-tests of the benchmark.

    python3 -m pytest perfbench/tests -q

The generator, metric-name and twin tests take seconds. The toy-scale runs
start Spark (about a minute each).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import gen  # noqa: E402
import twin  # noqa: E402
from workloads import PER_LAYER, WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
E2E = {m["name"] for m in SPEC["end_to_end"]}
LAYER = {m["name"] for m in SPEC["per_layer"]}
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def run_bench(*args, cwd=ROOT):
    cmd = [sys.executable, "perfbench/run.py", "--seconds", "1", *args]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def last_json(stdout: str) -> dict:
    return json.loads(stdout.strip().splitlines()[-1])


def test_transcripts_deterministic_per_seed():
    a = gen.fingerprint({"t": gen.transcripts_frame(1, 3, 4)})
    assert a == gen.fingerprint({"t": gen.transcripts_frame(1, 3, 4)})
    assert a != gen.fingerprint({"t": gen.transcripts_frame(2, 3, 4)})
    # a second corpus of the same seed (staged_snapshot batch b)
    assert a != gen.fingerprint({"t": gen.transcripts_frame(1, 3, 4, tag="b")})


def test_graph_tables_deterministic_per_seed():
    a = gen.fingerprint(gen.graph_frames(1, 0.02))
    assert a == gen.fingerprint(gen.graph_frames(1, 0.02))
    assert a != gen.fingerprint(gen.graph_frames(2, 0.02))


def test_metric_names_and_units():
    names = [m["name"] for m in SPEC["workloads"] + SPEC["end_to_end"] + SPEC["per_layer"]]
    assert all(NAME.match(n) for n in names)
    assert len(names) == len(set(names))
    for m in SPEC["end_to_end"] + SPEC["per_layer"]:
        assert re.match(r"^[A-Za-z0-9_/%.-]{1,16}$", m["unit"])
    assert [(m["name"], m["unit"], m["better"]) for m in SPEC["per_layer"]] == PER_LAYER
    # flagship runs locally but is not in BENCHMARK.json (see README)
    assert {w["name"] for w in SPEC["workloads"]} == set(WORKLOADS) - {"flagship"}


def test_pipeline_twin_equals_oracle(tmp_path):
    """The union-find mapping gives the oracle's exact output."""
    import duckdb

    tr = str(tmp_path / "tr")
    gen.write_transcripts(gen.transcripts_frame(5, 12, 6), tr)
    from rdfcmap_spark.oracle import TRANSCRIPTS_ORACLE_PATH, pipeline_full_sql

    want = duckdb.sql(pipeline_full_sql().replace(TRANSCRIPTS_ORACLE_PATH, tr)).fetchall()
    out = str(tmp_path / "twin.parquet")
    twin.pipeline_twin(tr, out)
    got = duckdb.sql(f"SELECT * FROM '{out}'").fetchall()
    assert len(want) > 100
    key = lambda r: tuple("" if v is None else str(v) for v in r)  # noqa: E731
    assert sorted(got, key=key) == sorted(want, key=key)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_toy_run_reports_every_metric(workload, trace):
    r = run_bench("--workload", workload, "--seed", "7", "--trace", str(trace), "--scale", "0.1")
    assert r.returncode == 0, r.stderr[-3000:]
    res = last_json(r.stdout)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert set(res["metrics"]) == (LAYER if trace else E2E)
    for m in res["metrics"].values():
        assert isinstance(m["value"], (int, float))
    if not trace:
        assert all(m["value"] > 0 for m in res["metrics"].values())


def test_dropped_row_is_a_failed_operation():
    r = run_bench("--workload", "flagship", "--seed", "7", "--scale", "0.1", "--drop-one-row")
    assert r.returncode == 0, r.stderr[-3000:]
    res = last_json(r.stdout)
    assert not res["correct"]
    assert res["failed"] == res["attempted"] >= 1


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    r = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", SPEC["workloads"][0]["name"],
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120, env=env,
    )
    assert r.returncode != 0
    assert '"metrics"' not in r.stdout
