"""Self-test of the benchmark: the checkers count faulty outputs as
failures, a short run emits every metric BENCHMARK.json names, and the
benchmark refuses to run without the package.

    python -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from collections import Counter

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from checks import (  # noqa: E402
    OracleCheck,
    check_batches,
    check_landed_rows,
    check_word_counts,
    implied_records,
)

INTERVAL, PARTS, ADVANCE = 10, 4, 1000


def committed(n: int) -> list[dict]:
    return [{"batch": b, "start": b * ADVANCE, "end": (b + 1) * ADVANCE,
             "rows": implied_records(b * ADVANCE, (b + 1) * ADVANCE, INTERVAL, PARTS)}
            for b in range(n)]


def words(batch: int) -> Counter:
    """Stand-in word counts of one batch's records."""
    return Counter({f"w{batch}": 3, "common": 2})


def landed_rows(batch_ids: list[int]) -> Counter:
    rows = Counter()
    for b in batch_ids:
        for i in range(committed(b + 1)[-1]["rows"]):
            rows[(b, f"{b}:{i}".encode())] += 1
    return rows


def scanned_rows(batch_ids: list[int]) -> Counter:
    return Counter(value for (_, value) in landed_rows(batch_ids))


def test_clean_stream_passes():
    batches = committed(4)
    assert check_batches(batches, INTERVAL, PARTS) == []
    total = sum((words(b) for b in range(4)), Counter())
    assert check_word_counts(dict(total), dict(total), dict(words(4))) == []
    assert check_landed_rows(landed_rows([0, 1, 2, 3]), batches, scanned_rows([0, 1, 2, 3])) == []


def test_sink_one_batch_ahead_of_the_offset_log_passes():
    batches = committed(3)
    ahead = sum((words(b) for b in range(4)), Counter())
    before = sum((words(b) for b in range(3)), Counter())
    assert check_word_counts(dict(ahead), dict(before), dict(words(3))) == []
    assert check_landed_rows(landed_rows([0, 1, 2, 3]), batches, scanned_rows([0, 1, 2])) == []


def test_dropped_micro_batch_is_a_failure():
    batches = committed(4)
    dropped = [b for b in batches if b["batch"] != 2]
    assert check_batches(dropped, INTERVAL, PARTS)
    sink = sum((words(b) for b in (0, 1, 3)), Counter())
    scan = sum((words(b) for b in range(4)), Counter())
    assert check_word_counts(dict(sink), dict(scan), dict(words(4)))
    assert check_landed_rows(landed_rows([0, 1, 3]), batches, scanned_rows([0, 1, 2, 3]))


def test_duplicated_micro_batch_is_a_failure():
    batches = committed(4)
    assert check_batches(batches[:3] + [batches[2]] + batches[3:], INTERVAL, PARTS)
    sink = sum((words(b) for b in (0, 1, 2, 2, 3)), Counter())
    scan = sum((words(b) for b in range(4)), Counter())
    assert check_word_counts(dict(sink), dict(scan), dict(words(4)))
    assert check_landed_rows(landed_rows([0, 1, 2, 2, 3]), batches, scanned_rows([0, 1, 2, 3]))


def test_short_batch_is_a_failure():
    batches = committed(3)
    batches[1] = {**batches[1], "rows": batches[1]["rows"] - 1}
    assert check_batches(batches, INTERVAL, PARTS)


def test_wrong_oracle_row_is_a_failure():
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    oracle = OracleCheck(os.path.join(HERE, "data", "sf0.01"), ["region"])
    expected = oracle.expected("q", "SELECT r_regionkey::BIGINT AS k, r_name AS name FROM region")
    schema = StructType([StructField("k", LongType()), StructField("name", StringType())])
    rows = oracle.con.execute("SELECT r_regionkey::BIGINT, r_name FROM region").fetchall()
    assert oracle.compare("q", schema, rows, expected) == []
    wrong = [rows[0][:1] + ("not a region",)] + rows[1:]
    assert oracle.compare("q", schema, wrong, expected)
    assert oracle.compare("q", schema, rows[1:], expected)


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".work", "__pycache__"))
    proc = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "mq_drain", "--seed", "1",
                           "--seconds", "1", "--trace", "0"], cwd=tmp_path, capture_output=True,
                          text=True, timeout=180)
    assert proc.returncode != 0
    assert "{" not in proc.stdout


# Layers a traced run of each workload must measure, with a nonzero value.
MEASURED = {
    "mq_drain": [
        "session.get_spark_s", "session.warmup_s", "sources.mq.gen_rows_per_s",
        "sources.mq.scan_rows_per_s", "sources.mq.python_bytes_per_row", "sources.mq.plan_ms",
        "sources.mq.admitted_per_trigger", "streaming.query_planning_ms", "streaming.wal_commit_ms",
        "streaming.commit_offsets_ms", "streaming.add_batch_ms", "streaming.state.commit_ms",
        "streaming.state.instances", "streaming.state.rows_total", "streaming.state.memory_bytes",
        "sources.manifest.append_ms_p50", "sources.manifest.files_per_commit",
        "python.bytes_sent", "python.bytes_returned", "exec.jobs", "exec.stages", "exec.tasks",
        "exec.executor_run_ms", "exec.executor_cpu_ms", "exec.cpu_frac", "exec.core_busy_frac",
        "exec.shuffle_read_bytes", "exec.shuffle_write_bytes", "exec.stage_skew",
    ],
    "curation_batch": [
        "session.get_spark_s", "session.warmup_s", "sources.mq.gen_rows_per_s",
        "plans.build_s", "plans.collect_s", "plans.analysis_ms", "plans.optimization_ms",
        "plans.planning_ms", "operators.dedup.s", "operators.curation.s", "operators.lm.s",
        "operators.retrieval.s", "functions.text.s", "python.init_ms", "python.run_ms",
        "python.bytes_sent", "python.bytes_returned", "exec.jobs", "exec.stages", "exec.tasks",
        "exec.executor_run_ms", "exec.executor_cpu_ms", "exec.cpu_frac", "exec.core_busy_frac",
        "exec.shuffle_read_bytes", "exec.shuffle_write_bytes", "exec.stage_skew",
    ],
}


def short_run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    proc = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
                           "--seconds", str(seconds), "--trace", str(trace)], cwd=ROOT,
                          capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    return result


def measured_layers(workload: str, seed: int) -> dict:
    """The layer values a traced run set itself, before zero-filling."""
    with open(os.path.join(HERE, ".work", f"trace_{workload}_{seed}.json")) as f:
        return json.load(f)["layers"]


@pytest.mark.parametrize("trace,key", [(0, "end_to_end"), (1, "per_layer")])
def test_short_run_emits_every_metric(trace, key):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    result = short_run("mq_drain", 5, 2, trace)
    want = {m["name"]: m["unit"] for m in spec[key]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    if trace:
        layers = measured_layers("mq_drain", 5)
        assert {k: layers.get(k, 0) for k in MEASURED["mq_drain"] if not layers.get(k)} == {}


def test_short_traced_battery_measures_its_layers():
    short_run("curation_batch", 6, 1, 1)
    layers = measured_layers("curation_batch", 6)
    assert {k: layers.get(k, 0) for k in MEASURED["curation_batch"] if not layers.get(k)} == {}
    assert "python.start_ms" in layers
