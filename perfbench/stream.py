"""``stream_ingest``: the reference's own path, Kafka-shaped records through
``decode_json_value`` -> ``tumbling_counts`` -> an idempotent parquet sink.

A run repeats a timed cycle (``CYCLES`` times), each on a fresh
query over its own copy of the inputs; a cycle's two phases share that
query:

* catch-up: a backlog of files is already in the watched directory (a
  restart from the earliest offsets) and is drained ``maxFilesPerTrigger``
  files at a time;
* live: an open-loop publisher thread moves one file per period into the
  watched directory with an atomic ``os.rename``, on schedule however slow
  the engine runs.  Each file's latency runs from its scheduled publish
  time to the return of the sink call for the micro-batch that held it.

Files map to micro-batches through the per-entry ``batchId`` of the file
source's checkpoint log (``sources/0``), never through file-name order:
the log compacts every ten batches into ``<n>.compact``.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
from dataclasses import dataclass, replace

import numpy as np

import datagen
from measure import quantile, tail_q

from odni_apache_beam_consumer_spark.sources import kafka, replay
from odni_apache_beam_consumer_spark.streaming import sinks, windows

KAFKA_SCHEMA = (
    "key BINARY, value BINARY, topic STRING, partition INT, offset BIGINT, "
    "timestamp TIMESTAMP, timestampType INT, "
    "headers ARRAY<STRUCT<key: STRING, value: BINARY>>"
)
COPY_SPAN = np.timedelta64(datagen.EVENTS_SPAN_DAYS, "D")
# Timed cycles per run: two catch-ups some 15 s apart, where one sampled
# the host's drifting speed at a single moment.
CYCLES = 2
WARM_UP_FILES_PER_TRIGGER = 5


@dataclass(frozen=True)
class StreamConfig:
    rows_per_file: int
    backlog_files: int
    rate_hz: float
    live_seconds: float
    warmup_files: int
    max_files_per_trigger: int

    @property
    def live_files(self) -> int:
        return int(round(self.rate_hz * self.live_seconds))


def build_files(spark, seed: int, cfg: StreamConfig, staging: str) -> list[str]:
    """Seeded, time-shifted copies of ``events`` shaped as Kafka records by
    ``as_kafka_records``, cut into parquet files of ``rows_per_file``
    records each, in event-time order.

    The first files form the backlog, then the live files."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from odni_apache_beam_consumer_spark.catalog import load_table

    n_files = cfg.backlog_files + cfg.warmup_files + cfg.live_files
    per_copy = 100 * cfg.rows_per_file
    rng = np.random.default_rng([seed, 1])
    events = pa.concat_tables(
        [datagen.events_table(rng, per_copy, start=datagen.EVENTS_START + k * COPY_SPAN,
                              first_id=k * per_copy) for k in range(-(-n_files // 100))]
    ).slice(0, n_files * cfg.rows_per_file)
    src = staging + ".__events__"
    os.makedirs(src, exist_ok=True)
    pq.write_table(events, os.path.join(src, "events.parquet"))
    records = replay.as_kafka_records(load_table(spark, src, "events")).toArrow()
    records = records.sort_by("offset")
    os.makedirs(staging, exist_ok=True)
    paths = []
    for k in range(n_files):
        dst = os.path.join(staging, f"f_{k:05d}.parquet")
        pq.write_table(records.slice(k * cfg.rows_per_file, cfg.rows_per_file), dst)
        paths.append(dst)
    shutil.rmtree(src, ignore_errors=True)
    return paths


def place_backlog(paths: list[str], watch_dir: str, copy: bool = False) -> list[str]:
    """Move (or copy) files into ``watch_dir`` with mtimes one second apart
    in file order, so the file source replays them oldest-first."""
    os.makedirs(watch_dir, exist_ok=True)
    base = time.time() - 10 * len(paths) - 60
    out = []
    for i, p in enumerate(paths):
        dst = os.path.join(watch_dir, os.path.basename(p))
        if copy:
            shutil.copyfile(p, dst)
        else:
            os.rename(p, dst)
        os.utime(dst, (base + i, base + i))
        out.append(dst)
    return out


def _log_entries(log_dir: str) -> list[list[str]]:
    """Lines after the version header of every log file in ``log_dir``."""
    out = []
    try:
        names = os.listdir(log_dir)
    except FileNotFoundError:
        return out
    for name in names:
        if name.startswith(".") or name.endswith(".tmp"):
            continue
        try:
            with open(os.path.join(log_dir, name)) as f:
                out.append([name] + [ln for ln in f.read().splitlines()[1:] if ln.strip()])
        except FileNotFoundError:
            continue
    return out


def file_batches(checkpoint: str) -> dict[str, set[int]]:
    """file name -> ids of the micro-batches that read it.

    The file source's own log (``sources/0``) tags each file with the
    source's batch id; compaction every ten batches repeats entries in
    ``<n>.compact``, so identical (file, id) pairs collapse and a file
    read twice shows two ids.  The source id counts only batches that
    found new files, while the query's batch id also counts no-data
    batches (watermark eviction), so the query's offset log
    (``offsets/<batch>``, last line ``{"logOffset": n}``) maps each source
    id to the first query batch whose offset covers it."""
    covers: list[tuple[int, int]] = []  # (logOffset, query batch id)
    for lines in _log_entries(os.path.join(checkpoint, "offsets")):
        if len(lines) >= 3:
            covers.append((json.loads(lines[-1])["logOffset"], int(lines[0])))
    covers.sort(key=lambda c: c[1])
    first_batch: dict[int, int] = {}
    for log_offset, batch_id in covers:
        for s in range(log_offset + 1):
            first_batch.setdefault(s, batch_id)
    out: dict[str, set[int]] = {}
    for lines in _log_entries(os.path.join(checkpoint, "sources", "0")):
        for line in lines[1:]:
            entry = json.loads(line)
            b = first_batch.get(int(entry["batchId"]))
            if b is not None:
                out.setdefault(os.path.basename(entry["path"]), set()).add(b)
    return out


class TimedSink:
    """Wraps ``idempotent_parquet_sink``; records each call's return time.
    When tracing, tags the batch's jobs (the whole micro-batch executes
    inside the sink's write) with the job group ``group``."""

    def __init__(self, path: str, tracer, group: str) -> None:
        self.path = path
        self.group = group
        self.fn = sinks.idempotent_parquet_sink(path)
        self.tracer = tracer
        self.calls: dict[int, tuple[float, float]] = {}
        self.skipped = 0

    def __call__(self, batch, batch_id: int) -> None:
        if os.path.exists(os.path.join(self.path, f"_committed_{batch_id}")):
            self.skipped += 1
        if self.tracer.enabled:
            batch.sparkSession.sparkContext.setJobGroup(self.group, f"batch {batch_id}")
        t0 = time.perf_counter()
        with self.tracer.span("streaming.sinks.write"):
            self.fn(batch, batch_id)
        self.calls[batch_id] = (t0, time.perf_counter())


class Publisher(threading.Thread):
    """Open-loop generator: file i is due at ``t0 + i * period``; it is
    renamed into ``watch_dir`` as soon as it is due, whatever the engine
    is doing."""

    def __init__(self, paths: list[str], watch_dir: str, period: float, t0: float) -> None:
        super().__init__(daemon=True)
        self.paths, self.watch_dir, self.period, self.t0 = paths, watch_dir, period, t0
        self.published: list[tuple[str, float, float]] = []  # (name, due, done)

    def run(self) -> None:
        for i, src in enumerate(self.paths):
            due = self.t0 + i * self.period
            delay = due - time.perf_counter()
            if delay > 0:
                time.sleep(delay)
            name = os.path.basename(src)
            now = time.time()
            os.utime(src, (now, now))
            os.rename(src, os.path.join(self.watch_dir, name))
            self.published.append((name, due, time.perf_counter()))


def commit_time(name: str, fb: dict[str, set[int]], sink: TimedSink) -> float | None:
    ids = fb.get(name)
    if not ids:
        return None
    call = sink.calls.get(min(ids))
    return call[1] if call else None


class StreamRun:
    """One catch-up + live run of the ingest pipeline."""

    def __init__(self, spark, work: str, cfg: StreamConfig, tracer) -> None:
        self.spark, self.work, self.cfg, self.tracer = spark, work, cfg, tracer
        self.watch = os.path.join(work, "watch")
        self.checkpoint = os.path.join(work, "checkpoint")
        self.sink = TimedSink(os.path.join(work, "sink"), tracer, f"stream-{os.path.basename(work)}")
        self.query = None

    def start(self, trigger_once: bool = False):
        with self.tracer.span("sources.kafka.decode_json_value"):
            raw = (self.spark.readStream.schema(KAFKA_SCHEMA)
                   .option("maxFilesPerTrigger", str(self.cfg.max_files_per_trigger))
                   .parquet(self.watch))
            decoded = kafka.decode_json_value(raw, replay.EVENTS_SCHEMA)
        with self.tracer.span("streaming.windows.tumbling_counts"):
            counts = windows.tumbling_counts(decoded)
        self.query = sinks.foreach_batch(counts, self.sink, checkpoint_location=self.checkpoint,
                                         output_mode="update", available_now=trigger_once)
        return self.query

    def wait_committed(self, names: list[str], timeout: float) -> bool:
        """Wait until every file in ``names`` is committed.

        The checkpoint logs are parsed only after a new sink call, the only
        event that can commit a file, and the query is asked for an error
        once a second: parsing and asking on every 50 ms poll kept the GIL
        and the Py4J gateway from the sink callback the timing depends on."""
        deadline = time.perf_counter() + timeout
        seen, next_check = -1, 0.0
        while time.perf_counter() < deadline:
            if len(self.sink.calls) != seen:
                seen = len(self.sink.calls)
                fb = file_batches(self.checkpoint)
                if all(commit_time(n, fb, self.sink) is not None for n in names):
                    return True
            if self.query is not None and time.perf_counter() >= next_check:
                next_check = time.perf_counter() + 1.0
                if self.query.exception() is not None:
                    raise RuntimeError(str(self.query.exception()))
            time.sleep(0.05)
        return False

    def stop(self) -> None:
        if self.query is not None:
            self.query.stop()

    def progress(self) -> list[dict]:
        return [json.loads(p.json) for p in self.query.recentProgress] if self.query else []


def stream_metrics(progress: list[dict], sink_calls: list[tuple[float, float]],
                   skipped: int) -> dict[str, float]:
    """Per-layer numbers from StreamingQueryProgress and the sink calls'
    (start, end) times."""
    def dur(key: str) -> list[float]:
        return [p["durationMs"].get(key, 0) for p in progress if "durationMs" in p]

    data = [p for p in progress if p.get("numInputRows", 0) > 0]
    state = [p.get("stateOperators") or [] for p in progress]
    writes = [(b - a) * 1e3 for a, b in sink_calls]
    return {
        "streaming.batches": len(progress),
        "streaming.no_data_batches": len(progress) - len(data),
        "streaming.rows_per_batch_p50": quantile([p["numInputRows"] for p in data], 0.5),
        "streaming.trigger_ms_p50": quantile(dur("triggerExecution"), 0.5),
        "streaming.trigger_ms_p90": quantile(dur("triggerExecution"), 0.9),
        "streaming.query_planning_ms_p50": quantile(dur("queryPlanning"), 0.5),
        "streaming.add_batch_ms_p50": quantile(dur("addBatch"), 0.5),
        "streaming.wal_commit_ms_p50": quantile(dur("walCommit"), 0.5),
        "streaming.commit_offsets_ms_p50": quantile(dur("commitOffsets"), 0.5),
        "streaming.state_rows_max": max((sum(o["numRowsTotal"] for o in s) for s in state), default=0),
        "streaming.state_rows_removed": sum(sum(o.get("numRowsRemoved", 0) for o in s) for s in state),
        "streaming.state_memory_bytes_max": max(
            (sum(o.get("memoryUsedBytes", 0) for o in s) for s in state), default=0),
        "streaming.state_commit_ms_p50": quantile(
            [sum(o.get("commitTimeMs", 0) for o in s) for s in state if s], 0.5),
        "sources.latest_offset_ms_p50": quantile(dur("latestOffset"), 0.5),
        "sources.get_batch_ms_p50": quantile(dur("getBatch"), 0.5),
        "streaming.sinks.write_ms_p50": quantile(writes, 0.5),
        "streaming.sinks.write_ms_p90": quantile(writes, 0.9),
        "streaming.sinks.skipped_batches": skipped,
    }


def expected_counts(spark, watch: str):
    """Batch ``tumbling_counts`` over every file in ``watch``, as pandas."""
    src = spark.read.schema(KAFKA_SCHEMA).parquet(watch)
    return windows.tumbling_counts(kafka.decode_json_value(src, replay.EVENTS_SCHEMA)).toPandas()


def check_sink(run: StreamRun, want) -> list[str]:
    """Final sink state (latest row per window and event type) must equal
    ``want``, the batch ``tumbling_counts`` over every published row; the
    watched directory holds exactly those."""
    import pyarrow.dataset as ds

    out = ds.dataset(run.sink.path, format="parquet", partitioning="hive").to_table().to_pandas()
    latest = (out.sort_values("batch_id")
              .groupby(["window_start", "event_type"], as_index=False).last()
              .drop(columns=["batch_id"]))
    key = ["window_start", "event_type"]
    got = latest.sort_values(key).reset_index(drop=True)
    want = want.sort_values(key).reset_index(drop=True)
    problems = []
    if len(got) != len(want) or not (got[key].values == want[key].values).all():
        return [f"sink windows differ: {len(got)} rows vs {len(want)} expected"]
    if not (got["n_events"].values == want["n_events"].values).all():
        problems.append("sink n_events differ from batch tumbling_counts")
    if not np.allclose(got["sum_value"].values, want["sum_value"].values, rtol=1e-9, atol=1e-4):
        problems.append("sink sum_value differ from batch tumbling_counts")
    return problems


def _epoch(ts: str) -> float:
    from datetime import datetime, timezone

    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc).timestamp()


def left_behind(published: list[tuple[str, float, float]], fb: dict[str, set[int]],
                batch_start: dict[int, float]) -> list[int]:
    """For each micro-batch (in id order), how many files had been
    published before it started but were in neither it nor an earlier
    batch: the queue a trigger could have taken and did not.  Zero while
    the engine keeps up; it grows once files arrive faster than triggers
    drain them.  ``published`` holds (name, due, done) in wall-clock
    seconds, ``batch_start`` wall-clock trigger starts."""
    first = {n: min(ids) for n, ids in fb.items() if ids}
    out = []
    for b in sorted(batch_start):
        t = batch_start[b]
        out.append(sum(1 for n, _, done in published
                       if done < t and first.get(n, b + 1) > b))
    return out


def run_cycle(spark, work: str, cfg: StreamConfig, backlog: list[str], live: list[str],
              tracer, catchup_only: bool) -> dict:
    """One timed cycle on a fresh query: a copy of ``backlog`` is drained
    (catch-up), then copies of ``live`` are published open-loop (live).
    Returns its catch-up time, latency samples, query progress, problems
    and the run itself for the correctness gate."""
    run = StreamRun(spark, work, cfg, tracer)
    names = [os.path.basename(p) for p in place_backlog(backlog, run.watch, copy=True)]
    staging = os.path.join(work, "live")
    os.makedirs(staging)
    live = [shutil.copyfile(p, os.path.join(staging, os.path.basename(p))) for p in live]
    problems: list[str] = []
    t0 = time.perf_counter()
    with tracer.span("streaming.catchup"):
        run.start()
        if not run.wait_committed(names, timeout=120):
            problems.append("catch-up did not commit every backlog file within 120 s")
    fb = file_batches(run.checkpoint)
    commits = [commit_time(n, fb, run.sink) for n in names]
    done = [c for c in commits if c is not None]
    out = {"run": run, "catchup_s": (max(done) if len(done) == len(commits)
                                     else time.perf_counter()) - t0,
           "published": list(names), "latencies": []}
    if not catchup_only:
        period = 1.0 / cfg.rate_hz
        wall_offset = time.time() - time.perf_counter()
        pub = Publisher(live, run.watch, period, time.perf_counter() + period)
        with tracer.span("streaming.live"):
            pub.start()
            pub.join(timeout=cfg.live_seconds + cfg.warmup_files * period + 60)
            live_end = pub.t0 + len(live) * period
            out["published"] += [n for n, _, _ in pub.published]
            if len(pub.published) != len(live):
                problems.append(f"publisher published {len(pub.published)} of {len(live)} files")
            if not run.wait_committed([n for n, _, _ in pub.published], timeout=60):
                problems.append("live files not all committed within 60 s of the last publish")
        fb = file_batches(run.checkpoint)
        timed = pub.published[cfg.warmup_files:]
        for name, due, _ in timed:
            c = commit_time(name, fb, run.sink)
            if c is not None:
                out["latencies"].append(c - due)
        if len(out["latencies"]) != len(timed):
            problems.append(f"{len(timed) - len(out['latencies'])} live files have no latency "
                            "sample")
        if any(x < 0 for x in out["latencies"]):
            problems.append("negative live latency: file-to-batch mapping is wrong")
        starts = {p["batchId"]: _epoch(p["timestamp"]) for p in run.progress()}
        pub_wall = [(n, due + wall_offset, done + wall_offset) for n, due, done in pub.published]
        first_due = pub.t0 + cfg.warmup_files * period + wall_offset
        live_batches = {b: t for b, t in starts.items() if t >= first_due}
        behind = left_behind(pub_wall, fb, live_batches)
        end_batches = [b for b, t in live_batches.items() if t <= live_end + wall_offset]
        behind_at = dict(zip(sorted(live_batches), behind))
        out.update({
            "live_backlog_files": behind_at[max(end_batches)] if end_batches else 0,
            "backlog_files_max": max(behind, default=0),
            "generator_late_max_s": max((done - due for _, due, done in pub.published),
                                        default=0.0),
        })
    out["progress"] = run.progress()
    run.stop()
    dup = [n for n in out["published"] if len(fb.get(n, ())) != 1]
    if dup:
        problems.append(f"{len(dup)} files not committed exactly once, e.g. {dup[0]}")
    out["problems"] = problems
    return out


def run_stream(spark, work: str, cfg: StreamConfig, seed: int, tracer, log,
               catchup_only: bool = False) -> dict:
    """Build inputs, warm up, then ``CYCLES`` timed cycles of catch-up
    and live phases, each on a fresh query over its own copy of the
    inputs.  Spreading the timed phases over the run, and taking the
    median catch-up and the latency quantiles over every cycle's samples,
    keeps a short slow spell on the host from deciding a whole run.

    Returns the end-to-end numbers, per-layer numbers and the problems the
    correctness gate found."""
    t0 = time.perf_counter()
    files = build_files(spark, seed, cfg, os.path.join(work, "staging"))
    log(f"built {len(files)} files in {time.perf_counter() - t0:.2f}s")
    backlog = files[: cfg.backlog_files]
    live = files[cfg.backlog_files:]

    # Warm-up: the same pipeline on its own directories drains a copy of
    # half the backlog in small triggers, so the timed queries run on a JVM
    # whose stream code paths are already compiled.  The JIT warms the
    # per-trigger paths, which dominate a trigger's time, by trigger count:
    # after six full triggers the first timed cycle's triggers still ran
    # about a sixth slower than the second's.
    warm = StreamRun(spark, os.path.join(work, "warmup"),
                     replace(cfg, max_files_per_trigger=WARM_UP_FILES_PER_TRIGGER), tracer)
    place_backlog(backlog[: len(backlog) // 2], warm.watch, copy=True)
    t0 = time.perf_counter()
    warm.start(trigger_once=True).awaitTermination(120)
    log(f"warm-up stream in {time.perf_counter() - t0:.2f}s: " + " ".join(
        str(p["durationMs"].get("triggerExecution")) for p in warm.progress()))

    ready = time.perf_counter()
    cycles = []
    for c in range(1 if catchup_only else CYCLES):
        cyc = run_cycle(spark, os.path.join(work, f"cycle{c}"), cfg, backlog, live, tracer,
                        catchup_only)
        cycles.append(cyc)
        log(f"cycle {c}: catch-up {len(backlog)} files in {cyc['catchup_s']:.2f}s; "
            "batches (id, rows, trigger ms): " + " ".join(
                f"{p['batchId']}:{p['numInputRows']}:{p['durationMs'].get('triggerExecution')}"
                for p in cyc["progress"]))
    log(f"timed phases done at +{time.perf_counter() - ready:.2f}s")
    problems = [p for cyc in cycles for p in cyc["problems"]]
    if not catchup_only:
        # Every cycle publishes copies of the same files, so one batch
        # computation serves as the expected result of each cycle whose
        # watched directory holds the same file names.
        want = expected_counts(spark, cycles[0]["run"].watch)
        names = sorted(os.listdir(cycles[0]["run"].watch))
        for cyc in cycles:
            same = sorted(os.listdir(cyc["run"].watch)) == names
            problems += check_sink(cyc["run"], want if same
                                   else expected_counts(spark, cyc["run"].watch))
    log(f"checked at +{time.perf_counter() - ready:.2f}s")
    catchup_s = quantile([cyc["catchup_s"] for cyc in cycles], 0.5)
    out = {"ready": ready, "catchup_s": catchup_s,
           "catchup_rows_per_s": len(backlog) * cfg.rows_per_file / catchup_s}
    if not catchup_only:
        lat = [x for cyc in cycles for x in cyc["latencies"]]
        out.update({
            "latency_p50_s": quantile(lat, 0.5),
            "latency_tail_s": quantile(lat, tail_q(len(lat))),
            "latency_samples": len(lat),
            "streaming.live_backlog_files": max(cyc["live_backlog_files"] for cyc in cycles),
            "sources.backlog_files_max": max(cyc["backlog_files_max"] for cyc in cycles),
            "harness.generator_late_max_s": max(cyc["generator_late_max_s"] for cyc in cycles),
        })
    progress = [p for cyc in cycles for p in cyc["progress"]]
    sink_calls = [call for cyc in cycles for call in cyc["run"].sink.calls.values()]
    out.update(stream_metrics(progress, sink_calls,
                              sum(cyc["run"].sink.skipped for cyc in cycles)))
    out["progress"] = progress
    out["problems"] = problems
    out["attempted"] = sum(len(cyc["published"]) for cyc in cycles)
    return out
