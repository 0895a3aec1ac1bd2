"""Open-loop streaming benchmark for storm_bench_spark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs one workload (see perfbench/README.md), checks every result
against a reference computed outside Spark, and prints one JSON object
as the last line of stdout. ``--trace 0`` reports the end-to-end
metrics; ``--trace 1`` reports the per-layer metrics and writes the
span file under ``.perfbench/out/``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

import gen  # noqa: E402
import reference  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("wordcount_running", "hashtag_window")

# Open-loop schedule: 34 tick files per second, so a run of S seconds
# yields 34 * S latency samples; at the benchmark's 10 s that is 340, and
# p95 has 17 samples beyond it (p99 would need 1000 samples for ten).
# Warm-up ticks (4.4 s) are played and consumed before the clock starts:
# after 50 of them, same-seed runs still differed by up to 30 % in latency;
# after 150, by under 10 %.
TICK_HZ = 34
WARM_TICKS = 150
# The backlog (released at once, drained through the same query) holds
# this many ticks, about 1-2 s of work at the seed's drain rate on a 4-vCPU
# host. It drains in one micro-batch; two drains in one run differed by
# under 10 %, so one is timed.
BACKLOG_TICKS = {"wordcount_running": 360, "hashtag_window": 300}
CORES = 4
# Shuffle partitions, one state store each. The engine default (32, tuned
# for local[32]) commits 32 state stores per micro-batch; on 4 cores that
# alone put wordcount latency at ~4.5 s. wordcount's state update runs in
# Python, so each partition is a JVM task plus a Python worker: with 4 of
# them, 8 busy processes shared 4 vCPUs, and 2 partitions gave the same
# seeds 22 % lower latency at a third of the run-to-run spread.
SHUFFLE_PARTITIONS = {"wordcount_running": 2, "hashtag_window": CORES}
# A run whose generator wrote ticks this late is not open-loop any more.
GEN_LATE_LIMIT_MS = 100.0

OUTPUT_COLUMNS = {
    "wordcount_running": ["key", "cnt"],
    "hashtag_window": ["ws", "tag", "cnt"],
}
CHECKERS = {
    "wordcount_running": reference.check_wordcount,
    "hashtag_window": reference.check_hashtags,
}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args(argv)
    if a.seconds < 1:
        p.error("--seconds must be at least 1")
    return a


def configure(work: str, workload: str) -> None:
    """Size the session for ``workload`` and keep every file Spark and its
    Python workers write inside ``work``."""
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(CORES),
        SPARK_GRAFT_DRIVER_MEM="2g",
        SPARK_GRAFT_SHUFFLE=str(SHUFFLE_PARTITIONS[workload]),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=os.path.join(work, "tmp"),
        # spark-submit's launcher JVM: no hsperfdata file in the system temp dir
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    sys.path.insert(1, ROOT)


def open_session(work: str, master: str | None = None, ui: bool = False):
    from storm_bench_spark.session import get_spark

    os.environ["SPARK_GRAFT_UI"] = "true" if ui else "false"
    spark = get_spark(
        app_name="perfbench",
        master=master,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # no hsperfdata file in the system temp directory
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
            # keep every batch's offsets: the checker maps files to batches
            "spark.sql.streaming.minBatchesToRetain": "1000000",
            # The file source stands in for Kafka; list each batch's files
            # on the driver. Above the default of 32 files per batch it runs
            # a listing job (0.3-0.6 s) in every trigger, the longer trigger
            # keeps the next batch above 32 files, and runs settled in a fast
            # or a slow mode 30-60 % apart in latency.
            "spark.sql.sources.parallelPartitionDiscovery.threshold": "1000000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown_jvm() -> None:
    """Stop the gateway JVM (and with it the Python workers) and wait."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def log(msg: str) -> None:
    """Progress on stderr; stdout carries only the result line."""
    print(f"perfbench {time.perf_counter() - T_START:7.1f} s  {msg}", file=sys.stderr, flush=True)


def metric_block(pairs: dict) -> dict:
    return {k: {"value": float(v), "unit": u} for k, (v, u) in pairs.items()}


# --- streaming workloads -------------------------------------------------------


class StreamRun:
    """One streaming query fed by the open-loop writer."""

    def __init__(self, spark, workload: str, work: str, spans=None):
        from pipelines import STREAMS
        from probe import SinkTimer

        self.spark, self.workload = spark, workload
        self.pipeline = STREAMS[workload]
        self.dirs = {k: os.path.join(work, k) for k in ("watch", "stage", "ckpt", "out")}
        for d in self.dirs.values():
            os.makedirs(d)
        self.timer = SinkTimer(spans)
        self.writer = gen.OpenLoopWriter(self.dirs["stage"], self.dirs["watch"], spans)
        self.ticks: list = []
        self.query = None

    def start(self, first) -> float:
        """Start on one tick; returns the time its batch committed."""
        from pipelines import start_stream

        self._release([first])
        d = self.dirs
        self.query = start_stream(self.spark, self.pipeline, d["watch"], d["ckpt"], d["out"], self.timer.on_batch)
        while self.query.lastProgress is None:
            if not self.query.isActive:
                raise RuntimeError(f"query stopped before its first batch: {self.query.exception()}")
            time.sleep(0.005)
        return time.perf_counter()

    def play(self, ticks) -> tuple[float, float]:
        """Write ticks on the schedule, then wait until all are processed."""
        self.ticks += ticks
        t0 = time.perf_counter()
        self.writer.start(ticks, 1.0 / TICK_HZ)
        self.writer.join(timeout=len(ticks) / TICK_HZ + 120)
        t1 = time.perf_counter()
        self.query.processAllAvailable()
        return t0, t1

    def drain(self, ticks) -> float:
        """Release a backlog at once; seconds until the sink callback of
        the batch that consumed its last file ended."""
        t0 = self._release(ticks)
        self.query.processAllAvailable()
        batch_of = reference.consumed_batches(self.dirs["ckpt"])
        return max(self.timer.callback_end[batch_of[t.name]] for t in ticks) - t0

    def _release(self, ticks) -> float:
        self.ticks += ticks
        return self.writer.write_now(ticks)

    def stop(self) -> None:
        if self.query is not None:
            self.query.stop()

    def check(self) -> tuple[int, int, dict, dict]:
        """(attempted, failed, file → batch, batch → sink rows). Attempted
        counts micro-batches plus expected result rows."""
        import pyarrow.parquet as pq

        cols = OUTPUT_COLUMNS[self.workload]
        rows = {}
        for entry in os.listdir(self.dirs["out"]):
            t = pq.read_table(os.path.join(self.dirs["out"], entry), columns=cols)
            rows[int(entry[1:])] = list(zip(*(t.column(c).to_pylist() for c in cols)))
        batch_of = reference.consumed_batches(self.dirs["ckpt"])
        attempted, wrong = CHECKERS[self.workload](self.ticks, batch_of, rows)
        return attempted + len(set(batch_of.values())), wrong, batch_of, rows


def render(workload: str, seed: int, seconds: int):
    n_meas, n_back = seconds * TICK_HZ, BACKLOG_TICKS[workload]
    ticks = gen.render_ticks(workload, seed, WARM_TICKS + n_meas + n_back, late_from=WARM_TICKS)
    return ticks[:WARM_TICKS], ticks[WARM_TICKS:WARM_TICKS + n_meas], ticks[WARM_TICKS + n_meas:]


def stream_phase(spark, workload, work, ticks, spans=None):
    """First batch → warm-up → open-loop measured phase → drain (if the
    backlog is not empty) → check."""
    warm, meas, backlog = ticks
    run = StreamRun(spark, workload, work, spans)
    try:
        t0 = time.perf_counter()
        first_commit = run.start(warm[0])
        log(f"{workload}: first batch committed")
        run.play(warm[1:])
        log(f"{workload}: warm-up played ({len(warm)} ticks)")
        window = run.play(meas)
        log(f"{workload}: measured phase played ({len(meas)} ticks)")
        drain_eps = 0.0
        if backlog:
            drain_eps = sum(t.events for t in backlog) / run.drain(backlog)
            log(f"{workload}: drained {len(backlog)} ticks")
    finally:
        run.stop()
    attempted, failed, batch_of, rows = run.check()
    done = run.timer.callback_end
    return {
        "run": run,
        "first_commit": first_commit,
        "first_batch_s": first_commit - t0,
        "latency_ms": [(done[batch_of[t.name]] - run.writer.due[t.name]) * 1000.0 for t in meas],
        "gen_late_ms": [x * 1000.0 for x in run.writer.late_s[len(warm) - 1:]],
        "drain_eps": drain_eps,
        "attempted": attempted,
        "failed": failed,
        "batch_of": batch_of,
        "rows": rows,
        "window": window,
    }


def end_to_end(setup_s, lat_ms, drain_eps) -> dict:
    from probe import pct

    log(f"latency: {len(lat_ms)} samples")
    return {
        "setup_s": (setup_s, "s"),
        "latency_p50_ms": (statistics.median(lat_ms), "ms"),
        "latency_p95_ms": (pct(lat_ms, 95), "ms"),
        "drain_eps": (drain_eps, "1/s"),
    }


def check_generator(late_ms) -> float:
    from probe import pct

    p99 = pct(late_ms, 99)
    if p99 > GEN_LATE_LIMIT_MS:
        raise RuntimeError(f"load generator ran {p99:.1f} ms late (p99): the run is not open-loop")
    return p99


def traced_session(work):
    """(session, get_spark seconds) on a fresh JVM with the UI on: the
    untraced twin ran first on a JVM of its own, so both start cold and
    ``trace.overhead_share`` compares like with like."""
    shutdown_jvm()
    t0 = time.perf_counter()
    spark = open_session(work, ui=True)
    return spark, time.perf_counter() - t0


def run_stream(args, work):
    from probe import ProgressLog, Spans

    t0 = time.perf_counter()
    ticks = render(args.workload, args.seed, args.seconds)
    render_s = time.perf_counter() - t0
    spark = open_session(work)
    if not args.trace:
        r = stream_phase(spark, args.workload, os.path.join(work, "main"), ticks)
        check_generator(r["gen_late_ms"])
        setup_s = r["first_commit"] - T_START - render_s
        return end_to_end(setup_s, r["latency_ms"], r["drain_eps"]), r["attempted"], r["failed"]

    # the latency phases only (the drain does not change latency)
    warm, meas, backlog = ticks
    base = stream_phase(spark, args.workload, os.path.join(work, "untraced"), (warm, meas, []))
    spark, session_s = traced_session(work)
    spans, listener = Spans(), ProgressLog()
    spark.streams.addListener(listener)
    r = stream_phase(spark, args.workload, os.path.join(work, "traced"), (warm, meas, []), spans)
    return stream_layers(args, work, spark, ticks, r, base, listener, spans, session_s)


# Batch-layer metrics a workload does not have are reported as 0.
LAYER_METRICS_MS = ("functions.tokenize_ms", "functions.parse_tweet_ms", "operators.sliding_agg_ms")

EXEC_UNITS = {
    "exec.shuffle_write_bytes": "bytes", "exec.shuffle_read_bytes": "bytes", "exec.task_skew": "ratio",
    "exec.gc_ms": "ms", "exec.cpu_ms": "ms", "exec.spill_bytes": "bytes",
}


def prefix_self_ms(prefixes, value, out: str, reps: int = 3) -> dict:
    """Self time per layer: the difference between the medians of
    consecutive cumulative prefixes, each materialised with the noop sink."""
    from storm_bench_spark.sources.sinks import write_batch

    medians = []
    for name, fn in prefixes:
        samples = []
        for _ in range(reps):
            t0 = time.perf_counter()
            write_batch(fn(value), out, fmt="noop")
            samples.append(time.perf_counter() - t0)
        medians.append((name, statistics.median(samples)))
    return {name: (t - prev) * 1000.0 for (name, t), (_, prev) in zip(medians[1:], medians)}


def stream_prefixes(spark, workload, ticks, work) -> tuple[dict, int]:
    """Prefix self times and parser-rejected rows over one slab (the
    measured and backlog ticks, as plain text files)."""
    from pipelines import STREAMS
    from storm_bench_spark.functions.parsers import parse_tweet_text

    slab = os.path.join(work, "slab")
    os.makedirs(slab)
    for i in range(CORES):
        with open(os.path.join(slab, f"part-{i}.txt"), "wb") as f:
            f.writelines(t.payload for t in ticks[i::CORES])
    value = spark.read.text(slab)
    times = prefix_self_ms(STREAMS[workload].prefixes, value, os.path.join(work, "noop"))
    rejected = 0
    if workload == "hashtag_window":
        rejected = value.where(parse_tweet_text("value").isNull()).count()
    return times, rejected


def injected(ticks, kind) -> int:
    return sum(t.injected[kind] for t in ticks)


def late_tag_windows(ticks) -> int:
    """Rows the stateful operator should drop: one per (hashtag, sliding
    window) of every late tweet."""
    n = 0
    for t in ticks:
        if t.injected["late"]:
            for line in t.lines:
                parsed = reference.parse_tweet(line, t.index)
                if parsed is not None and parsed[2]:
                    n += len(parsed[1]) * len(reference.windows(parsed[0]))
    return n


def stream_layers(args, work, spark, ticks, r, base, listener, spans, session_s):
    """Per-layer metrics of the traced phase, then batch prefixes, then a
    single-core drain of the backlog in a fresh query."""
    from probe import add_trigger_spans, exec_metrics, p50, pct, trigger_start

    w = args.workload
    gen_p99 = check_generator(r["gen_late_ms"])
    warm, meas, backlog = ticks
    run, batch_of = r["run"], r["batch_of"]
    meas_batches = sorted({batch_of[t.name] for t in meas})
    lo, hi = meas_batches[0], meas_batches[-1]
    progress = listener.wait_for(str(run.query.id), max(batch_of.values()))
    mp = [p for p in progress if lo <= p["batchId"] <= hi]
    exec_m = exec_metrics(spark, r["window"][0])
    slab_ticks = meas + backlog
    self_ms, rejected = stream_prefixes(spark, w, slab_ticks, os.path.join(work, "prefix"))
    log(f"{w}: prefixes timed")
    spark.stop()

    # the same warm-up as the measured query, then the backlog
    spark = open_session(work, master="local[1]")
    one = stream_phase(spark, w, os.path.join(work, "one_core"), (warm, [], backlog))
    spark.stop()

    def dur(key):
        return [p["durationMs"].get(key, 0) for p in mp]

    def ops(p, key):
        return sum(op.get(key, 0) for op in p.get("stateOperators", []))

    lists = dur("latestOffset")
    third = max(1, len(lists) // 3)
    starts = [(p["batchId"], trigger_start(p)) for p in mp]
    busy_wall = starts[-1][1] + mp[-1]["durationMs"]["triggerExecution"] / 1000.0 - starts[0][1]
    due = run.writer.due
    backlog_max = max(
        sum(1 for name, b in batch_of.items() if due[name] <= ts and b >= bid) for bid, ts in starts
    )
    writes = [s for b, s in run.timer.write_s.items() if lo <= b <= hi]
    bad_injected = injected(slab_ticks, "malformed")
    late_dropped = sum(ops(p, "numRowsDroppedByWatermark") for p in progress)
    late_expected = late_tag_windows(run.ticks)
    attempted = r["attempted"] + one["attempted"] + base["attempted"] + late_expected + bad_injected
    failed = (
        r["failed"] + one["failed"] + base["failed"]
        + abs(late_dropped - late_expected) + abs(rejected - bad_injected)
    )
    add_trigger_spans(spans, progress)
    spans.link_batches(batch_of)
    write_spans(spans, args)
    m = {
        "session.get_spark_s": (session_s, "s"),
        "session.first_batch_s": (r["first_batch_s"], "s"),
        "sources.list_ms": (p50(lists), "ms"),
        "sources.list_ms_drift": (p50(lists[-third:]) - p50(lists[:third]), "ms"),
        "sources.get_batch_ms": (p50(dur("getBatch")), "ms"),
        "sources.backlog_files_max": (backlog_max, "count"),
        "sources.rows_per_batch": (p50([p["numInputRows"] for p in mp]), "count"),
        "sources.malformed_rows": (rejected, "count"),
        "sources.malformed_injected": (bad_injected, "count"),
        "sinks.write_ms_p50": (p50(writes) * 1000.0, "ms"),
        "sinks.write_ms_p99": (pct(writes, 99) * 1000.0, "ms"),
        "sinks.rows_written": (p50([len(r["rows"].get(b, ())) for b in range(lo, hi + 1)]), "count"),
        "streaming.trigger_ms_p50": (p50(dur("triggerExecution")), "ms"),
        "streaming.trigger_ms_p99": (pct(dur("triggerExecution"), 99), "ms"),
        "streaming.planning_ms": (p50(dur("queryPlanning")), "ms"),
        "streaming.add_batch_ms": (p50(dur("addBatch")), "ms"),
        "streaming.wal_commit_ms": (p50(dur("walCommit")), "ms"),
        "streaming.commit_ms": (p50(dur("commitOffsets")), "ms"),
        "streaming.busy_share": (sum(dur("triggerExecution")) / 1000.0 / busy_wall, "share"),
        "streaming.batches": (len(mp), "count"),
        "streaming.state_rows": (ops(progress[-1], "numRowsTotal"), "count"),
        "streaming.state_mem_bytes": (ops(progress[-1], "memoryUsedBytes"), "bytes"),
        "streaming.state_update_ms": (p50([ops(p, "allUpdatesTimeMs") for p in mp]), "ms"),
        "streaming.state_commit_ms": (p50([ops(p, "commitTimeMs") for p in mp]), "ms"),
        "streaming.state_removal_ms": (p50([ops(p, "allRemovalsTimeMs") for p in mp]), "ms"),
        "streaming.state_rows_removed": (sum(ops(p, "numRowsRemoved") for p in progress), "count"),
        "streaming.late_rows_dropped": (late_dropped, "count"),
        "streaming.late_rows_injected": (late_expected, "count"),
        # applyInPandasWithState is streaming-only, so its self time comes
        # from the operator's update time rather than a batch prefix
        "streaming.running_count_ms": (
            p50([ops(p, "allUpdatesTimeMs") for p in mp]) if w == "wordcount_running" else 0.0, "ms"),
        **{k: (self_ms.get(k, 0.0), "ms") for k in LAYER_METRICS_MS},
        **{k: (v, EXEC_UNITS[k]) for k, v in exec_m.items()},
        "bench.gen_late_ms_p99": (gen_p99, "ms"),
        "bench.latency_samples": (len(r["latency_ms"]), "count"),
        "scaling.drain_eps_1core": (one["drain_eps"], "1/s"),
        "trace.overhead_share": (p50(r["latency_ms"]) / p50(base["latency_ms"]) - 1.0, "share"),
    }
    return m, attempted, failed


def write_spans(spans, args) -> None:
    out = os.path.join(ROOT, ".perfbench", "out")
    os.makedirs(out, exist_ok=True)
    spans.dump(os.path.join(out, f"spans-{args.workload}-seed{args.seed}.jsonl"))


def main(argv=None) -> int:
    args = parse_args(argv)
    work = os.path.join(ROOT, ".perfbench", "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    configure(work, args.workload)
    try:
        import storm_bench_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 2
    try:
        metrics, attempted, failed = run_stream(args, work)
    finally:
        shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
    if args.trace:
        metrics["error_share"] = (failed / attempted, "share")
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metric_block(metrics)}
    print(json.dumps(result))
    if failed:
        log(f"{failed} of {attempted} checked results were wrong, missing or extra")
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
