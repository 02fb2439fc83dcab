"""Smoke test of the benchmark on a small fresh draw (about a minute).

    python3 -m pytest perfbench/test_smoke.py -q

Runs the CLI in-process on cut-down op lists: both workload loops print
every metric of ``BENCHMARK.json`` with its unit, and an op that returns a
deliberately wrong result is failed by the DuckDB check and counted.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import run  # noqa: E402
import workloads as W  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def _main(capsys, workload: str, trace: int) -> tuple[dict, dict]:
    rc = run.main(["--workload", workload, "--seed", "3", "--seconds", "1",
                   "--trace", str(trace)])
    assert rc == 0
    lines = capsys.readouterr().out.strip().splitlines()
    return json.loads(lines[-1]), json.loads(lines[-2])["run_info"]


def _assert_metrics(out: dict, kind: str) -> None:
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert {m["name"]: m["unit"] for m in BENCH[kind]} == {
        k: v["unit"] for k, v in out["metrics"].items()}
    for v in out["metrics"].values():
        assert isinstance(v["value"], float | int)


def test_metrics_printed_and_wrong_result_counted(monkeypatch, capsys):
    for k in ("PYTHONPATH", "SPARK_LOCAL_DIRS", "TMPDIR", "JAVA_TOOL_OPTIONS",
              "SPARK_GRAFT_CPUS"):
        monkeypatch.setenv(k, os.environ.get(k, ""))
    monkeypatch.setattr(W, "LOOKUP_OPS", ["q04_pagination", "q08_tristate_queue"])
    monkeypatch.setattr(W, "PIPELINE_OPS", ["q18_update_delete_queue", "q26_text_stats"])

    out, info = _main(capsys, "lead_lookup", 0)
    _assert_metrics(out, "end_to_end")
    assert out["correct"] and out["failed"] == 0
    assert out["attempted"] >= W.workloads(run.CPUS)["lead_lookup"].clients  # every client ran an op
    assert info["manifest"]["seed"] == 3

    from lawfirm_data_pipeline_spark import queries

    good = queries.QUERIES["q26_text_stats"]
    monkeypatch.setitem(queries.QUERIES, "q26_text_stats",
                        lambda spark, sf: good(spark, sf).limit(3))
    out, info = _main(capsys, "lead_pipeline", 0)
    _assert_metrics(out, "end_to_end")
    # every pass runs both ops; the tampered one fails its DuckDB check
    assert out["failed"] * 2 == out["attempted"] > 0 and not out["correct"]
    assert out["metrics"]["ok_rate"]["value"] == 0.5
    assert {f["op"] for f in info["failures"]} == {"q26_text_stats"}
    assert "row count differs" in info["failures"][0]["error"]

    monkeypatch.setitem(queries.QUERIES, "q26_text_stats", good)
    out, _ = _main(capsys, "lead_pipeline", 1)
    _assert_metrics(out, "per_layer")
    assert out["correct"] and out["attempted"] % 4 == 0  # each op untraced + traced
    # the registry callables' own time is outside every span
    assert 0.0 < out["metrics"]["trace.covered_pct"]["value"] < 100.0
