"""Smoke tests of the benchmark itself, on a tiny corpus.

    python3 -m pytest perfbench -q

They check that every metric BENCHMARK.json names is printed with its unit
on both workloads and in both modes, that one corrupted csv byte is
counted as a failure, and that the pruning guard fires on a `count()`.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import metrics  # noqa: E402


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_matches_metric_specs():
    bench = _benchmark_json()
    assert {m["name"]: (m["unit"], m["better"]) for m in bench["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]} == {
        k: v[:2] for k, v in metrics.PER_LAYER.items()
    }
    import run

    assert {w["name"] for w in bench["workloads"]} == set(run.WORKLOADS)


@pytest.mark.parametrize("workload", ["extract_mixed", "extract_web"])
@pytest.mark.parametrize("trace", [0, 1])
def test_every_metric_printed_with_unit(workload, trace):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace), "--docs", "300"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 300, out.stdout[-3000:]
    bench = _benchmark_json()
    names = [m["name"] for m in bench["per_layer" if trace else "end_to_end"]]
    units = {m["name"]: m["unit"] for m in bench["per_layer"] + bench["end_to_end"]}
    assert sorted(result["metrics"]) == sorted(names)
    for name, m in result["metrics"].items():
        assert m["unit"] == units[name]
        assert isinstance(m["value"], (int, float))
    if not trace:
        assert all(result["metrics"][n]["value"] > 0 for n in names)
    else:  # every layer is measured on either workload; differences may be < 0
        timed = [n for n in names if units[n] == "s" and n not in ("trace.overhead_s", "extract.residual_s")]
        assert all(result["metrics"][n]["value"] > 0 for n in timed)


def test_refuses_to_run_without_the_engine(tmp_path):
    bench_dir = tmp_path / "perfbench"
    bench_dir.mkdir()
    for name in os.listdir(HERE):
        if name.endswith(".py"):
            (bench_dir / name).write_bytes(open(os.path.join(HERE, name), "rb").read())
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "extract_mixed",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode != 0
    assert out.stdout.strip() == ""


@pytest.fixture(scope="module")
def spark():
    import run
    import workloads
    from spans import Tracer

    run._prepare_environment()
    s = workloads.start_session(os.path.join(ROOT, ".bench_build", "perfbench"), 2, Tracer())
    yield s
    workloads.stop_session(s)


@pytest.fixture(scope="module")
def tiny():
    import corpus
    from pdf_table_extractor_spark.plans.profiles import PROFILES

    spec = corpus.CorpusSpec(seed=5, n_docs=120, profiles=tuple(PROFILES), noise_frac=0.1)
    return corpus.ensure_corpus(spec, os.path.join(ROOT, ".bench_build", "perfbench", "corpora"), workers=2)


def test_corrupted_csv_byte_is_a_failure(spark, tiny):
    import workloads
    from pyspark.sql import functions as F
    from pdf_table_extractor_spark.plans.extract import extract

    out = extract(spark.read.parquet(tiny.path), num_partitions=2)
    rows = out.filter(F.col("csv").isNotNull()).select("url", "profile", "n_rows", "csv").collect()
    clean = [dict(r.asDict(), md5=hashlib.md5(r["csv"]).hexdigest()) for r in rows]
    clean += [
        {"url": url, "profile": exp["profile"], "n_rows": 0, "md5": None}
        for url, exp in tiny.expected.items()
        if url not in {r["url"] for r in rows}
    ]
    ok = workloads.Checks()
    workloads.check_rows(clean, tiny.expected, ok)
    assert ok.failed == 0 and ok.attempted == len(tiny.expected)

    corrupted = bytearray(clean[0]["csv"])
    corrupted[len(corrupted) // 2] ^= 0x01
    clean[0] = dict(clean[0], md5=hashlib.md5(bytes(corrupted)).hexdigest())
    bad = workloads.Checks()
    workloads.check_rows(clean, tiny.expected, bad)
    assert bad.failed == 1 and bad.attempted == len(tiny.expected)
    assert "csv bytes differ" in bad.problems[0]


def test_pruning_guard_fires_on_count(spark, tiny):
    import sparkplan
    import workloads
    from pdf_table_extractor_spark.plans.extract import extract

    expected = sparkplan.expected_python_nodes(extract(spark.read.parquet(tiny.path), num_partitions=2))
    assert expected > 0
    full, _ = workloads.timed_reps(spark, tiny.path, 2, 0, expected)
    assert len(full) == workloads.MIN_REPS

    def count_action(df):  # what df.count() executes
        q = df.groupBy().count()
        return q.collect(), q._jdf.queryExecution().executedPlan()

    with pytest.raises(sparkplan.PrunedPlanError):
        workloads.timed_reps(spark, tiny.path, 2, 0, expected, action=count_action)
