"""Self-tests of the benchmark: metric names, units and non-vacuous checks.

Run from the repository root:  python3 -m pytest perfbench -q
The toy runs start their own Spark sessions, one at a time (~1 min each).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import crawls  # noqa: E402
import querysuite  # noqa: E402
import run  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def _run(*args, cwd=ROOT):
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def test_workloads_and_units_match_benchmark_json():
    assert [w["name"] for w in SPEC["workloads"]] == list(crawls.SHAPES)
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == run.UNITS
    setup = next(m for m in SPEC["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in SPEC["end_to_end"])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", list(crawls.SHAPES))
def test_toy_run_prints_every_metric(workload, trace):
    p = _run("--workload", workload, "--seed", "3", "--seconds", "1",
             "--trace", str(trace), "--toy")
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    out = json.loads(lines[-1])
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    spec = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert set(out["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        assert out["metrics"][m["name"]]["unit"] == m["unit"]
        assert any(line.split()[1:2] == [m["name"]] and line.split()[-1] == m["unit"]
                   for line in lines[:-1]), m["name"]
    assert any(line.split()[1:2] == ["op_fail_ratio"] for line in lines[:-1])


def test_fails_without_the_program(tmp_path):
    """In a directory with only BENCHMARK.json and perfbench/, the run must
    exit non-zero and print no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run("--workload", "crawl-bulk", "--seed", "1", "--seconds", "1", "--trace", "0",
             cwd=str(tmp_path))
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from feapder_spark.session import get_spark

    s = get_spark("perfbench-selftest", master="local[2]", extra_conf={
        "spark.driver.memory": "2g", "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(tmp_path_factory.mktemp("spark-warehouse")),
    })
    yield s
    s.stop()


@pytest.mark.parametrize("workload", list(crawls.SHAPES))
def test_crawl_check_catches_one_corrupted_row(spark, tmp_path, workload):
    shape = crawls.TOY_SHAPES[workload]
    rep, engine = crawls.crawl_once(spark, shape, 5, str(tmp_path / "wh"))
    got = crawls.engine_state(engine, exact=not shape.polite)
    want = crawls.oracle_state(shape, 5, rep.iterations)
    assert crawls.compare_states(got, want) == []

    def corrupt(key, fn):
        bad = {**got, key: fn(got[key])}
        assert crawls.compare_states(bad, want), f"a corrupted {key} row went unnoticed"

    corrupt("crawl_order", lambda o: o[:1] + ["0" * 32] + o[2:])
    corrupt("items", lambda s: set(list(s)[1:]))
    corrupt("failed", lambda s: s | {"0" * 32})
    doc = next(d for d, spans in got["docs"].items() if spans)
    corrupt("docs", lambda d: {**d, doc: [{**d[doc][0], "text": "corrupted"}] + d[doc][1:]})
    if not shape.polite:
        corrupt("seen", lambda s: set(list(s)[1:]))


def test_query_check_catches_one_corrupted_row(spark, tmp_path):
    import duckdb

    from feapder_spark import queries as Q

    pd.DataFrame({
        "doc_id": [1, 2, 3, 4, 5],
        "text": ["a b", "A  b", "c d e", "f", " c d e "],
        "lang": ["en"] * 5,
        "source": ["s0", "s1", "s0", "s2", "s1"],
        "n_chars": [3, 4, 5, 1, 7],
    }).to_parquet(tmp_path / "documents.parquet")
    got = Q.QUERIES["dedup_exact"](spark, str(tmp_path)).toPandas()
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{tmp_path}/documents.parquet'")
    want = con.sql(Q.ORACLES["dedup_exact"]).df()
    con.close()
    assert len(got) == 3
    assert querysuite.compare_frames(got, want) is None
    for col in got.columns:
        bad = got.copy()
        bad.loc[0, col] += "x" if isinstance(bad.loc[0, col], str) else 1
        assert querysuite.compare_frames(bad, want) is not None, col
    assert querysuite.compare_frames(got.iloc[1:], want) is not None
