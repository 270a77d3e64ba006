"""Correctness checkers. They take plain values (progress records, counts,
collected rows) so the self-test can feed them faulty inputs without Spark.
Each returns a list of failure messages; every message counts as one
failed operation."""

from __future__ import annotations

import importlib.util
import os
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def implied_records(start_ts: int, end_ts: int, interval_ms: int, num_partitions: int) -> int:
    """Records the source holds in ``[start_ts, end_ts)``: one per
    ``interval_ms`` per partition, at timestamps ``i * interval_ms``."""
    if end_ts <= start_ts:
        return 0
    first = max(0, -(-start_ts // interval_ms))
    last = -(-end_ts // interval_ms)
    return num_partitions * max(0, last - first)


def batch_record(progress: dict, initial_ts: int | None) -> dict:
    """The committed-batch facts the checkers need, from a progress event.
    The first batch reports no start offset; it starts at the source's
    initial offset, ``initial_ts``, when the caller knows it (None if not)."""
    src = progress["sources"][0]
    start = src["startOffset"]["ts"] if src["startOffset"] else initial_ts
    return {
        "batch": progress["batchId"],
        "start": None if start is None else int(start),
        "end": int(src["endOffset"]["ts"]),
        "rows": int(progress["numInputRows"]),
    }


def check_batches(batches: list[dict], interval_ms: int, num_partitions: int) -> list[str]:
    """Committed batches must have consecutive ids and contiguous offset
    ranges, and each must have read exactly the records its range holds.
    A dropped batch shows as an id or offset gap, a duplicated one as a
    repeated id or an overlap. A batch of unknown start is checked for
    contiguity only."""
    failures = []
    prev = None
    for b in batches:
        if prev is not None:
            if b["batch"] != prev["batch"] + 1:
                failures.append(f"batch {b['batch']} follows batch {prev['batch']}")
            elif b["start"] != prev["end"]:
                failures.append(f"batch {b['batch']} starts at {b['start']}, previous ended at {prev['end']}")
        want = b["rows"] if b["start"] is None else implied_records(
            b["start"], b["end"], interval_ms, num_partitions)
        if b["rows"] != want:
            failures.append(f"batch {b['batch']} read {b['rows']} records, its offsets hold {want}")
        prev = b
    return failures


def check_word_counts(sink: dict, committed: dict, in_flight: dict) -> list[str]:
    """A complete-mode sink must hold the word counts of the committed range.
    The sink commits before the offset log, so a stop() between the two may
    leave it one batch ahead: the committed range plus the next batch is
    accepted too, and nothing else."""
    if sink == committed or sink == dict(Counter(committed) + Counter(in_flight)):
        return []
    diff = sorted(set(sink.items()) ^ set(committed.items()))[:4]
    return [f"sink word counts differ from a batch scan of the committed range: {diff}"]


def check_landed_rows(landed: Counter, batches: list[dict], scanned: Counter) -> list[str]:
    """``landed`` counts the table's (batch_id, value) rows. Each committed
    batch must have landed the rows it read, and the rows of the batches of
    known start must equal ``scanned``, a batch scan of their offset range.
    Rows of one later batch (landed, offsets not yet committed at stop())
    are allowed."""
    failures = []
    committed = {b["batch"]: b for b in batches}
    per_batch = Counter()
    for (batch, _), n in landed.items():
        per_batch[batch] += n
    last = max(committed, default=-1)
    extra = sorted(set(per_batch) - set(committed))
    if extra and extra != [last + 1]:
        failures.append(f"rows of uncommitted batches {extra} landed")
    for b in batches:
        if per_batch[b["batch"]] != b["rows"]:
            failures.append(f"batch {b['batch']} landed {per_batch[b['batch']]} rows, read {b['rows']}")
    rows = Counter()
    for (batch, value), n in landed.items():
        if batch in committed and committed[batch]["start"] is not None:
            rows[value] += n
    if rows != scanned:
        missing, surplus = sum((scanned - rows).values()), sum((rows - scanned).values())
        failures.append(f"landed rows differ from a batch scan: {missing} missing, {surplus} surplus")
    return failures


def _oracle_tools():
    spec = importlib.util.spec_from_file_location(
        "check_oracles", os.path.join(ROOT, "tools", "check_oracles.py"))
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


class OracleCheck:
    """Compares collected Spark results with the registered DuckDB oracles,
    using the canonical comparison of the repo's oracle gate mirror
    (tools/check_oracles.py)."""

    def __init__(self, data_dir: str, tables: list[str]):
        import duckdb

        self.tools = _oracle_tools()
        self.con = duckdb.connect()
        for t in tables:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        self._expected: dict[str, tuple] = {}

    def expected(self, name: str, sql: str) -> tuple:
        if name not in self._expected:
            tab = self.con.execute(sql).arrow()
            rows = [tuple(r.values()) for r in tab.to_pylist()]
            self._expected[name] = (tab.schema, self.tools._canon(rows, tab.schema.names))
        return self._expected[name]

    def compare(self, name: str, schema, rows: list[tuple], expected: tuple) -> list[str]:
        """``schema`` is the Spark result's StructType, ``rows`` its tuples."""
        duck_schema, duck_canon = expected
        cols = [f.name for f in schema.fields]
        if sorted(cols) != sorted(duck_schema.names):
            return [f"{name}: columns {sorted(cols)} != oracle {sorted(duck_schema.names)}"]
        bad_types = self.tools._type_mismatches(schema, duck_schema)
        if bad_types:
            return [f"{name}: types differ {bad_types}"]
        if len(rows) != len(duck_canon):
            return [f"{name}: {len(rows)} rows, oracle has {len(duck_canon)}"]
        canon = self.tools._canon(rows, cols)
        if canon != duck_canon:
            diff = [(a, b) for a, b in zip(canon, duck_canon) if a != b][:2]
            return [f"{name}: values differ from the oracle, first: {diff}"]
        return []
