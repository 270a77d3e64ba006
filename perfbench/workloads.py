"""The four benchmark workloads. Each sets up a session, measures for the
requested seconds, then checks every output outside the timed regions.

Layers are timed only through their public functions:
``session.get_spark`` / ``register_mq_source``, ``MQBatchReader`` /
``MQStreamReader``, ``QUERIES[name].fn`` and ``DataFrame.collect``,
``run_to_table`` / ``small_state_parts``, and ``append_snapshot`` /
``read_append_table``. Everything else comes from what Spark reports:
streaming progress events, the planning tracker and the UI REST API."""

from __future__ import annotations

import os
import random
import shutil
import time
import uuid
from collections import Counter
from dataclasses import dataclass, field

from checks import (
    OracleCheck,
    batch_record,
    check_batches,
    check_landed_rows,
    check_word_counts,
)
from harness import SparkRest, StreamLog, Tracer, host_load, p50, p90, parse_ts_ms, planning_ms, steal_frac

PKG = "spark_sql_custom_mq_datasource_spark"

# mq_drain: a closed loop of back-to-back triggers, each reading
# DRAIN_PARTITIONS x DRAIN_PER_PARTITION records of a deterministic clock
# (4 x 10 000, the workload's design size).
DRAIN_PARTITIONS = 4
DRAIN_PER_PARTITION = 10000
DRAIN_INTERVAL_MS = 10
# Triggers run before the measured window opens. A drain's trigger time
# falls over its first ~14 triggers (measured on a 4-vCPU VM: 2.6 s, then
# 0.9-1.0 s, down to 0.7-0.75 s) while the JVM compiles the per-trigger paths.
DRAIN_WARM_BATCHES = 14

# mq_live: the wall-clock source offers LIVE_PARTITIONS * 1000 /
# LIVE_INTERVAL_MS records/s; a trigger fires every LIVE_TRIGGER_MS.
LIVE_PARTITIONS = 4
LIVE_INTERVAL_MS = 1
LIVE_TRIGGER_MS = 1000

# Batches the live stream runs before its measured window opens (sink and
# checkpoint creation, first planning).
LIVE_WARM_BATCHES = 2
# A stream that commits nothing for this long is stopped and counted failed.
STALL_S = 60.0

# q_ann_ivf_pq_persisted and q_semantic_kmeans (operators.similarity) are
# left out: on a 4-vCPU VM they add ~15 s to a cold pass and ~7 s to a warm
# one, and kmeans alone varied 3.6-4.9 s between warm passes, which a run
# that must fit the benchmark's time budget cannot average away.
CURATION = [
    "q_pipeline_end_to_end", "q_dedup_ngram_jaccard", "q_dedup_minhash_lsh",
    "q_dedup_embedding_cosine", "q_lm_perplexity", "q_heavy_hitters_2gram",
    "q_bm25_topk",
]
RELATIONAL = [
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier",
    "q9_profit_by_nation", "q18_large_volume_customers",
    "q_window_top_parts_per_brand", "q_events_tumbling_1d",
    "q_events_sessionize", "q_rolling_dau_wau",
]
# Per-query time is summed into the module that owns the query function.
OWNER_METRICS = [
    "operators.dedup", "operators.curation", "operators.lm",
    "operators.retrieval", "functions.text",
]


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    e2e: dict[str, float] = field(default_factory=dict)
    # (issue metric name, value, unit, samples) for the human-readable report
    report: list[tuple[str, float, str, int]] = field(default_factory=list)
    layers: dict[str, float] = field(default_factory=dict)

    def fail(self, messages: list[str]) -> None:
        self.failed += len(messages)
        self.failures.extend(messages)


class Run:
    """One workload run: its session, tracer and result."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool,
                 work_dir: str, data_dir: str, process_start: float):
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work_dir = work_dir
        self.data_dir = data_dir
        self.process_start = process_start
        self.run_id = f"{workload}-{seed}-{uuid.uuid4().hex[:8]}"
        self.tracer = Tracer(trace, self.run_id)
        self.result = Result()
        self.spark = None
        self.env: dict = {"load_before": host_load()}

    def path(self, name: str) -> str:
        p = os.path.join(self.work_dir, name)
        shutil.rmtree(p, ignore_errors=True)
        return p

    def set_up(self, warm, settle=None) -> None:
        """Process start to ready: the session, source registration and one
        untimed warm-up pass (``warm``) that spawns the Python workers and
        fills the program's caches. ``settle``, if given, runs after the
        set-up clock has stopped and before the measured window opens."""
        from spark_sql_custom_mq_datasource_spark.session import get_spark, register_mq_source

        span = self.tracer.span
        with span("session.set_up"):
            t0 = time.perf_counter()
            with span("session.get_spark"):
                self.spark = get_spark("perfbench")
            with span("session.register_mq_source"):
                register_mq_source(self.spark)
            t1 = time.perf_counter()
            with span("session.warmup"):
                warm(self.spark)
        t2 = time.perf_counter()
        self.result.e2e["setup_s"] = t2 - self.process_start
        self.result.report.append(("setup_s", t2 - self.process_start, "s", 1))
        self.result.layers["session.get_spark_s"] = t1 - t0
        self.result.layers["session.warmup_s"] = t2 - t1
        if settle is not None:
            with span("session.settle"):
                settle(self.spark)
        conf = self.spark.conf
        self.env.update({
            "spark.sql.shuffle.partitions": conf.get("spark.sql.shuffle.partitions"),
            "spark.driver.memory": self.spark.sparkContext.getConf().get("spark.driver.memory", "default"),
            "spark.master": self.spark.sparkContext.master,
        })

    def rest(self, select_job, ops: int) -> dict:
        """Per-operation exec.* and python.* counters of the selected jobs.
        None is set when no job was selected, and a python.* counter only
        when some plan node reported it, so a layer that was not measured
        shows as such in the traced run."""
        totals = SparkRest(self.spark).collect(select_job)
        if not totals["exec.jobs"]:
            return totals
        for name, value in totals.items():
            if name.startswith(("exec.", "python.")) and name != "exec.stage_skew":
                self.result.layers[name] = value / max(ops, 1)
        self.result.layers["exec.stage_skew"] = totals["exec.stage_skew"]
        run, cpu = totals["exec.executor_run_ms"], totals["exec.executor_cpu_ms"]
        self.result.layers["exec.cpu_frac"] = cpu / run if run else 0.0
        return totals

    def finish(self) -> None:
        """Stop the session, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        self.env["load_after"] = host_load()
        self.env["steal_frac"] = steal_frac(self.env["load_before"], self.env["load_after"])
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()  # the JVM exits when its stdin closes
            gateway.proc.wait(timeout=60)
            SparkContext._gateway = None


# --------------------------------------------------------------------------
# The MQ source on its own (traced runs only)
# --------------------------------------------------------------------------


def mq_generation_rate(run: Run, opts: dict, records: int) -> None:
    """Single-threaded, in-process ``MQBatchReader.read`` rows/s: the
    generator's baseline without Spark or Arrow."""
    from spark_sql_custom_mq_datasource_spark.sources.mq import MINIMAL_SCHEMA, MQBatchReader

    per_part = records // int(opts["numPartitions"])
    end = per_part * int(opts["intervalMs"])
    reader = MQBatchReader(MINIMAL_SCHEMA, {**opts, "startingTimestamp": 0, "endingTimestamp": end})
    t0 = time.perf_counter()
    with run.tracer.span("sources.mq.MQBatchReader.read"):
        n = sum(1 for part in reader.partitions() for _ in reader.read(part))
    run.result.layers["sources.mq.gen_rows_per_s"] = n / (time.perf_counter() - t0)


def mq_scan_rate(run: Run, opts: dict, records: int) -> None:
    """Batch ``format("mq")`` scan into the noop sink at one task per
    partition; rows/s and bytes returned from the Python workers per row."""
    per_part = records // int(opts["numPartitions"])
    end = per_part * int(opts["intervalMs"])
    group = f"{run.run_id}:scan"
    run.spark.sparkContext.setJobGroup(group, "mq scan rate")
    df = (run.spark.read.format("mq").options(**opts)
          .option("startingTimestamp", 0).option("endingTimestamp", end).load())
    t0 = time.perf_counter()
    with run.tracer.span("sources.mq.scan"):
        df.write.format("noop").mode("overwrite").save()
    run.result.layers["sources.mq.scan_rows_per_s"] = records / (time.perf_counter() - t0)
    run.spark.sparkContext.setJobGroup(f"{run.run_id}:idle", "")
    totals = SparkRest(run.spark).collect(lambda j: j.get("jobGroup") == group)
    rows = totals["mq_scan_rows"] or records
    run.result.layers["sources.mq.python_bytes_per_row"] = totals["mq_scan_bytes_returned"] / rows


def mq_plan_ms(run: Run, opts: dict, calls: int = 200) -> None:
    """Median ms of one ``MQStreamReader.latestOffset`` plus ``partitions``
    call pair, in process."""
    from spark_sql_custom_mq_datasource_spark.sources.mq import MINIMAL_SCHEMA, MQStreamReader

    reader = MQStreamReader(MINIMAL_SCHEMA, dict(opts))
    start = reader.initialOffset()
    times = []
    with run.tracer.span("sources.mq.plan"):
        for _ in range(calls):
            t0 = time.perf_counter()
            end = reader.latestOffset()
            reader.partitions(start, end)
            times.append((time.perf_counter() - t0) * 1e3)
            start = end
    run.result.layers["sources.mq.plan_ms"] = p50(times)


def manifest_layers(run: Run, table: str, append_ms: list[float]) -> None:
    from spark_sql_custom_mq_datasource_spark.sources.manifest import read_manifest

    manifest = read_manifest(table)
    run.result.layers["sources.manifest.append_ms_p50"] = p50(append_ms)
    run.result.layers["sources.manifest.files_per_commit"] = (
        len(manifest["files"]) / max(len(manifest["batches"]), 1))


def manifest_probe(run: Run, opts: dict, end: int, commits: int = 5) -> None:
    """``append_snapshot`` of one trigger's records, ``commits`` times, then
    ``read_append_table``. The records are cached first, so the source does
    no work inside the timed appends."""
    from spark_sql_custom_mq_datasource_spark.sources.manifest import append_snapshot, read_append_table

    df = (run.spark.read.format("mq").options(**opts)
          .option("startingTimestamp", 0).option("endingTimestamp", end).load().cache())
    rows = df.count()
    table = run.path("probe_table")
    times = []
    for batch in range(commits):
        t0 = time.perf_counter()
        with run.tracer.span("sources.manifest.append_snapshot", batch=batch):
            append_snapshot(df, table, batch)
        times.append((time.perf_counter() - t0) * 1e3)
    manifest_layers(run, table, times)
    with run.tracer.span("sources.manifest.read_append_table"):
        landed = read_append_table(run.spark, table).count()
    df.unpersist()
    if landed != commits * rows:
        run.result.fail([f"manifest probe: {landed} rows landed, {commits * rows} appended"])


# --------------------------------------------------------------------------
# Streams
# --------------------------------------------------------------------------


def word_counts(df):
    """The reference WordCount over the source's ``value`` payload."""
    from pyspark.sql import functions as F

    return (df.selectExpr("CAST(value AS STRING) AS line")
            .select(F.explode(F.split("line", " ")).alias("word"))
            .groupBy("word").count())


def scan_word_counts(spark, opts: dict, start: int, end: int) -> dict:
    if end <= start:
        return {}
    df = (spark.read.format("mq").options(**opts)
          .option("startingTimestamp", start).option("endingTimestamp", end).load())
    return {r["word"]: r["count"] for r in word_counts(df).collect()}


def run_stream(run: Run, log: StreamLog, query, warm_batches: int) -> tuple[list[dict], float]:
    """Let a started query run until its measured window (the batches after
    the first ``warm_batches``) spans ``run.seconds``, stop it, and return
    the progress of every batch committed before the stop, and the epoch ms
    at which it was stopped."""
    qid = str(query.id)
    ok = log.wait_batches(qid, warm_batches, STALL_S)
    opened = time.monotonic()
    seen, last_commit = 0, opened
    while ok and time.monotonic() - opened < run.seconds:
        time.sleep(0.05)
        n = len(log.batches(qid))
        if n > seen:
            seen, last_commit = n, time.monotonic()
        elif time.monotonic() - last_commit > STALL_S:
            ok = False
    stopped = time.time() * 1e3
    query.stop()
    if not log.wait_terminated(qid, STALL_S):
        run.result.fail([f"stream {qid} did not report termination"])
    if not ok:
        run.result.fail([f"stream {qid} stalled"])
    return sorted(log.batches(qid), key=lambda p: p["batchId"]), stopped


def progress_spans(run: Run, batches: list[dict]) -> None:
    """One span per committed trigger with its engine phases as children,
    laid out in the order the micro-batch engine runs them."""
    offset = time.perf_counter() - time.time()
    order = ["latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets"]
    for p in batches:
        start = parse_ts_ms(p["timestamp"]) / 1e3 + offset
        d = p["durationMs"]
        parent = run.tracer.add("streaming.trigger", start, start + d.get("triggerExecution", 0) / 1e3,
                                batch=p["batchId"])
        t = start
        for phase in order:
            ms = d.get(phase, 0)
            run.tracer.add(f"streaming.{phase}", t, t + ms / 1e3, parent)
            t += ms / 1e3


def stream_layers(run: Run, measured: list[dict]) -> None:
    """streaming.* and sources.mq.admitted_per_trigger from progress events."""
    layers = run.result.layers

    def med(key):
        return p50([float(p["durationMs"].get(key, 0)) for p in measured])

    layers["streaming.latest_offset_ms"] = med("latestOffset")
    layers["streaming.query_planning_ms"] = med("queryPlanning")
    layers["streaming.wal_commit_ms"] = med("walCommit")
    layers["streaming.commit_offsets_ms"] = med("commitOffsets")
    layers["streaming.add_batch_ms"] = med("addBatch")
    layers["sources.mq.admitted_per_trigger"] = p50([float(p["numInputRows"]) for p in measured])
    ops = [p["stateOperators"] for p in measured if p.get("stateOperators")]
    layers["streaming.state.commit_ms"] = p50([float(sum(o["commitTimeMs"] for o in s)) for s in ops])
    last = ops[-1] if ops else []
    layers["streaming.state.instances"] = float(sum(o.get("numStateStoreInstances", 0) for o in last))
    layers["streaming.state.rows_total"] = float(sum(o["numRowsTotal"] for o in last))
    layers["streaming.state.memory_bytes"] = float(sum(o["memoryUsedBytes"] for o in last))


def stream_rest(run: Run, measured: list[dict]) -> None:
    """exec.* / python.* per trigger over the measured batches' jobs, and
    the share of the cores their tasks kept busy."""
    if not measured:
        return
    run_id = measured[0]["runId"]
    ids = {p["batchId"] for p in measured}

    def select(job):
        desc = job.get("description") or ""
        if job.get("jobGroup") != run_id or "batch = " not in desc:
            return False
        return int(desc.rsplit("batch = ", 1)[1].split()[0]) in ids

    totals = run.rest(select, len(measured))
    wall_ms = sum(p["durationMs"].get("triggerExecution", 0) for p in measured)
    cores = run.spark.sparkContext.defaultParallelism
    if totals["exec.jobs"] and wall_ms:
        run.result.layers["exec.core_busy_frac"] = totals["exec.executor_run_ms"] / (wall_ms * cores)


def drain_options(seed: int) -> dict:
    return {"numPartitions": DRAIN_PARTITIONS, "intervalMs": DRAIN_INTERVAL_MS,
            "seed": seed, "maxRecordsPerBatch": DRAIN_PARTITIONS * DRAIN_PER_PARTITION}


def mq_drain(run: Run) -> None:
    """Closed loop: the reference WordCount over ``readStream.format("mq")``
    with a deterministic clock, complete mode into the memory sink."""
    from spark_sql_custom_mq_datasource_spark.streaming.pipelines import (
        configure_state_store,
        run_to_table,
        small_state_parts,
    )

    advance = DRAIN_PER_PARTITION * DRAIN_INTERVAL_MS
    opts = drain_options(run.seed)
    stream_opts = {**opts, "startingTimestamp": 0, "advanceMsPerBatch": advance}

    run.set_up(lambda spark: scan_word_counts(spark, opts, 0, advance))
    spark, res = run.spark, run.result
    log = StreamLog()
    spark.streams.addListener(log.listener)
    configure_state_store(spark)
    parts = small_state_parts(spark)
    shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(parts))
    sink = "perfbench_drain"
    query = (word_counts(spark.readStream.format("mq").options(**stream_opts).load())
             .writeStream.outputMode("complete").format("memory").queryName(sink)
             .option("checkpointLocation", run.path("ckpt_drain")).start())
    spark.conf.set("spark.sql.shuffle.partitions", shuffle)
    batches, _ = run_stream(run, log, query, DRAIN_WARM_BATCHES)
    measured = [p for p in batches if p["batchId"] >= DRAIN_WARM_BATCHES]
    res.attempted = max(len(batches), 1)

    trigger_ms = [float(p["durationMs"]["triggerExecution"]) for p in measured]
    records = sum(p["numInputRows"] for p in measured)
    if measured:
        first = parse_ts_ms(measured[0]["timestamp"])
        last = parse_ts_ms(measured[-1]["timestamp"]) + measured[-1]["durationMs"]["triggerExecution"]
        rate = records / max(last - first, 1.0) * 1e3
    else:
        rate = 0.0
        res.fail(["no measured trigger committed"])
    res.e2e.update(latency_ms_p50=p50(trigger_ms), throughput_per_s=rate)
    res.report += [("records_per_s", rate, "1/s", records),
                   ("trigger_ms_p50", p50(trigger_ms), "ms", len(trigger_ms)),
                   ("trigger_ms_p90", p90(trigger_ms), "ms", len(trigger_ms))]

    if run.trace:
        progress_spans(run, batches)
        stream_layers(run, measured)
        stream_rest(run, measured)
        mq_generation_rate(run, opts, 20_000)
        mq_scan_rate(run, opts, 40_000)
        mq_plan_ms(run, stream_opts)
        manifest_probe(run, opts, advance)
        with run.tracer.span("streaming.run_to_table"):
            run_to_table(spark, word_counts(spark.readStream.format("mq").options(**stream_opts).load()),
                         "complete", state_partitions=parts).collect()

    # Correctness, outside the timed window.
    recs = [batch_record(p, 0) for p in batches]
    res.fail(check_batches(recs, DRAIN_INTERVAL_MS, DRAIN_PARTITIONS))
    if recs:
        end = recs[-1]["end"]
        committed = scan_word_counts(spark, opts, recs[0]["start"], end)
        in_flight = scan_word_counts(spark, opts, end, end + advance)
        sink_counts = {r["word"]: r["count"] for r in spark.table(sink).collect()}
        res.fail(check_word_counts(sink_counts, committed, in_flight))


def mq_live(run: Run) -> None:
    """Open loop: the wall-clock source at a fixed offered rate, a
    processing-time trigger, each micro-batch landed by ``append_snapshot``."""
    from pyspark.sql import functions as F

    from spark_sql_custom_mq_datasource_spark.sources.manifest import append_snapshot, read_append_table

    opts = {"numPartitions": LIVE_PARTITIONS, "intervalMs": LIVE_INTERVAL_MS, "seed": run.seed}
    rate = LIVE_PARTITIONS * 1000 / LIVE_INTERVAL_MS

    def warm(spark):
        df = (spark.read.format("mq").options(**opts)
              .option("startingTimestamp", 0).option("endingTimestamp", LIVE_TRIGGER_MS).load())
        append_snapshot(df.withColumn("batch_id", F.lit(0)), run.path("warm_table"), 0)

    run.set_up(warm)
    spark, res, tracer = run.spark, run.result, run.tracer
    log = StreamLog()
    spark.streams.addListener(log.listener)
    table = run.path("live_table")
    appends: list[tuple[int, float]] = []

    def land(df, batch_id):
        t0 = time.perf_counter()
        with tracer.span("sources.manifest.append_snapshot", batch=batch_id):
            append_snapshot(df.withColumn("batch_id", F.lit(batch_id)), table, batch_id)
        appends.append((batch_id, (time.perf_counter() - t0) * 1e3))

    query = (spark.readStream.format("mq").options(**opts).load()
             .writeStream.foreachBatch(land)
             .trigger(processingTime=f"{LIVE_TRIGGER_MS} milliseconds")
             .option("checkpointLocation", run.path("ckpt_live")).start())
    batches, stopped = run_stream(run, log, query, LIVE_WARM_BATCHES)
    measured = [p for p in batches if p["batchId"] >= LIVE_WARM_BATCHES]
    res.attempted = max(len(batches), 1)

    lags, commits = [], []
    for p in measured:
        commit = parse_ts_ms(p["timestamp"]) + p["durationMs"]["triggerExecution"]
        commits.append(commit)
        lags.append(commit - int(p["sources"][0]["endOffset"]["ts"]))
    records = sum(p["numInputRows"] for p in measured)
    if measured:
        # The measured window opens at the first measured record's creation.
        first = int(measured[0]["sources"][0]["startOffset"]["ts"])
        sustained = records / max(commits[-1] - first, 1.0) * 1e3
        offered = max(stopped - first, 1.0) * rate / 1e3
    else:
        sustained, offered = 0.0, 1.0
        res.fail(["no measured trigger committed"])
    res.e2e.update(latency_ms_p50=p50(lags), throughput_per_s=sustained)
    res.report += [("lag_ms_p50", p50(lags), "ms", len(lags)),
                   ("lag_ms_p90", p90(lags), "ms", len(lags)),
                   ("committed_frac", records / offered, "ratio", records),
                   ("committed_per_s", sustained, "1/s", records)]

    if run.trace:
        progress_spans(run, batches)
        stream_layers(run, measured)
        stream_rest(run, measured)
        ids = {p["batchId"] for p in measured}
        manifest_layers(run, table, [ms for b, ms in appends if b in ids])
        interval = LIVE_TRIGGER_MS
        late = [parse_ts_ms(p["timestamp"]) % interval for p in measured]
        res.layers["streaming.trigger_late_ms_p50"] = p50(late)
        mq_generation_rate(run, opts, 20_000)
        mq_scan_rate(run, opts, 40_000)
        mq_plan_ms(run, opts)

    # Correctness, outside the timed window.
    recs = [batch_record(p, None) for p in batches]
    res.fail(check_batches(recs, LIVE_INTERVAL_MS, LIVE_PARTITIONS))
    known = [r for r in recs if r["start"] is not None]
    if recs:
        with tracer.span("sources.manifest.read_append_table"):
            landed = Counter((r["batch_id"], bytes(r["value"]))
                             for r in read_append_table(spark, table).collect())
        scan = (spark.read.format("mq").options(**opts)
                .option("startingTimestamp", known[0]["start"] if known else 0)
                .option("endingTimestamp", recs[-1]["end"] if known else 0).load())
        scanned = Counter(bytes(r["value"]) for r in scan.collect())
        res.fail(check_landed_rows(landed, recs, scanned))


# --------------------------------------------------------------------------
# Fixture batteries
# --------------------------------------------------------------------------


def battery(run: Run, names: list[str]) -> None:
    """Whole passes over ``names`` (order shuffled per pass from the seed):
    as many as fit in ``run.seconds``, at least one. Every result is then
    compared with its DuckDB oracle."""
    from spark_sql_custom_mq_datasource_spark import TABLES
    from spark_sql_custom_mq_datasource_spark.plans.registry import QUERIES, _load_all

    _load_all()
    rng = random.Random(run.seed)
    span = run.tracer.span

    def one_pass(spark, tag: str) -> dict:
        order = list(names)
        rng.shuffle(order)
        out = {"queries": [], "t0": time.perf_counter()}
        for name in order:
            q = QUERIES[name]
            spark.sparkContext.setJobGroup(f"{run.run_id}:{tag}:{name}", name)
            t0 = time.perf_counter()
            with span("plans.query", query=name):
                with span("plans.build"):
                    df = q.fn(spark, run.data_dir)
                t1 = time.perf_counter()
                with span("plans.collect"):
                    rows = df.collect()
            t2 = time.perf_counter()
            out["queries"].append({"name": name, "module": q.fn.__module__, "df": df,
                                   "rows": rows, "build": t1 - t0, "collect": t2 - t1})
        out["t1"] = time.perf_counter()
        spark.sparkContext.setJobGroup(f"{run.run_id}:idle", "")
        return out

    # One warm pass inside set-up, a second after it: warm passes keep getting
    # faster for several passes (curation, one process: 35.1 s cold, then
    # 12.0, 10.8, 10.9, 9.7, 9.8, 9.1 s), and a run measures a pass or two.
    warm = []
    run.set_up(lambda spark: warm.append(one_pass(spark, "warm0")),
               settle=lambda spark: warm.append(one_pass(spark, "warm1")))
    res = run.result
    passes = []
    opened = time.perf_counter()
    while not passes or time.perf_counter() - opened + passes[-1]["t1"] - passes[-1]["t0"] <= run.seconds:
        with span("battery.pass", index=len(passes)):
            passes.append(one_pass(run.spark, f"pass{len(passes)}"))

    pass_s = [p["t1"] - p["t0"] for p in passes]
    query_ms = [(q["build"] + q["collect"]) * 1e3 for p in passes for q in p["queries"]]
    n_queries = len(query_ms)
    res.attempted = n_queries + sum(len(p["queries"]) for p in warm)
    res.e2e.update(latency_ms_p50=p50(pass_s) * 1e3, throughput_per_s=n_queries / sum(pass_s))
    res.report += [("pass_s_p50", p50(pass_s), "s", len(pass_s)),
                   ("query_ms_p50", p50(query_ms), "ms", n_queries),
                   ("query_ms_p90", p90(query_ms), "ms", n_queries),
                   ("queries_per_s", n_queries / sum(pass_s), "1/s", n_queries)]

    if run.trace:
        layers = res.layers
        layers["plans.build_s"] = p50([sum(q["build"] for q in p["queries"]) for p in passes])
        layers["plans.collect_s"] = p50([sum(q["collect"] for q in p["queries"]) for p in passes])
        phases = [[planning_ms(q["df"]) for q in p["queries"]] for p in passes]
        for phase in ("analysis", "optimization", "planning"):
            layers[f"plans.{phase}_ms"] = p50([sum(ph[phase] for ph in pp) for pp in phases])
        for owner in OWNER_METRICS:
            module = f"{PKG}.{owner}"
            layers[f"{owner}.s"] = p50([sum(q["build"] + q["collect"] for q in p["queries"]
                                            if q["module"] == module) for p in passes])
        prefix = f"{run.run_id}:pass"
        totals = run.rest(lambda j: (j.get("jobGroup") or "").startswith(prefix), len(passes))
        cores = run.spark.sparkContext.defaultParallelism
        if totals["exec.jobs"]:
            layers["exec.core_busy_frac"] = totals["exec.executor_run_ms"] / (sum(pass_s) * 1e3 * cores)
        mq_generation_rate(run, drain_options(run.seed), 20_000)

    # Correctness of the warm and measured passes, outside the timed passes.
    oracle = OracleCheck(run.data_dir, list(TABLES))
    for p in warm + passes:
        for q in p["queries"]:
            expected = oracle.expected(q["name"], QUERIES[q["name"]].oracle)
            res.fail(oracle.compare(q["name"], q["df"].schema, [tuple(r) for r in q["rows"]], expected))


WORKLOADS = {
    "mq_drain": mq_drain,
    "mq_live": mq_live,
    "curation_batch": lambda run: battery(run, CURATION),
    "relational_batch": lambda run: battery(run, RELATIONAL),
}

# Per-layer metrics every traced run reports; 0 where a layer is idle or
# was not measured (run.py lists those).
LAYER_METRICS = {
    "session.get_spark_s": "s", "session.warmup_s": "s",
    "sources.mq.gen_rows_per_s": "1/s", "sources.mq.scan_rows_per_s": "1/s",
    "sources.mq.python_bytes_per_row": "B", "sources.mq.plan_ms": "ms",
    "sources.mq.admitted_per_trigger": "count",
    "streaming.latest_offset_ms": "ms", "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms", "streaming.commit_offsets_ms": "ms",
    "streaming.add_batch_ms": "ms", "streaming.state.commit_ms": "ms",
    "streaming.state.instances": "count", "streaming.state.rows_total": "count",
    "streaming.state.memory_bytes": "B", "streaming.trigger_late_ms_p50": "ms",
    "sources.manifest.append_ms_p50": "ms", "sources.manifest.files_per_commit": "count",
    "plans.build_s": "s", "plans.collect_s": "s",
    "plans.analysis_ms": "ms", "plans.optimization_ms": "ms", "plans.planning_ms": "ms",
    **{f"{owner}.s": "s" for owner in OWNER_METRICS},
    "python.start_ms": "ms", "python.init_ms": "ms", "python.run_ms": "ms",
    "python.bytes_sent": "B", "python.bytes_returned": "B",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.failed_tasks": "count", "exec.executor_run_ms": "ms",
    "exec.executor_cpu_ms": "ms", "exec.cpu_frac": "ratio", "exec.core_busy_frac": "ratio",
    "exec.gc_ms": "ms", "exec.shuffle_read_bytes": "B", "exec.shuffle_write_bytes": "B",
    "exec.shuffle_fetch_wait_ms": "ms", "exec.spill_bytes": "B", "exec.stage_skew": "ratio",
}

# The gated end-to-end metrics. p90 timings and peak RSS are reported with
# their sample counts but not gated: see README.md.
END_TO_END = {"setup_s": "s", "latency_ms_p50": "ms", "throughput_per_s": "1/s"}
