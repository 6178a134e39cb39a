"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --smoke

Runs one workload in this process (one client, one local Spark JVM) and
prints, as the last line of stdout, one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
Progress goes to stderr.  Inputs are generated from ``--seed``; all files
go under ``.perfbench_work/`` in the current directory, and every run
also writes its full record (environment, metrics, problems) to
``.perfbench_work/results/``.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
for p in (ROOT, HERE, os.path.join(ROOT, "tests")):
    if p not in sys.path:
        sys.path.insert(0, p)

import measure  # noqa: E402
from measure import RssSampler, Tracer  # noqa: E402

E2E_UNITS = {
    "setup_s": "s",
    "pass_s": "s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
}
BATCH_SCALE = 0.005


def _stream_config(seconds: float, smoke: bool):
    from stream import CYCLES, StreamConfig

    if smoke:
        return StreamConfig(rows_per_file=100, backlog_files=20, rate_hz=4.0,
                            live_seconds=seconds / CYCLES, warmup_files=4,
                            max_files_per_trigger=10)
    return StreamConfig(rows_per_file=1000, backlog_files=120, rate_hz=8.0,
                        live_seconds=seconds / CYCLES, warmup_files=8, max_files_per_trigger=20)


WORKLOADS = ("stream_ingest", "batch_queries")


def per_layer_names() -> dict[str, str]:
    """Every per-layer metric with its unit, in a fixed order."""
    import batch

    names = {
        "session.start_s": "s",
        "plans.registry_load_s": "s",
        "catalog.scan_records": "count",
        "catalog.scan_bytes": "bytes",
        "plans.build_s": "s",
        "plans.exec_s": "s",
        "plans.jobs": "count",
        "plans.tasks": "count",
        "plans.executor_run_s": "s",
        "plans.executor_cpu_s": "s",
        "plans.gc_s": "s",
        "plans.shuffle_write_bytes": "bytes",
        "plans.shuffle_read_bytes": "bytes",
        "plans.spill_bytes": "bytes",
        "plans.failed_tasks": "count",
        "plans.scheduler_delay_s": "s",
        "plans.core_busy_ratio": "ratio",
    }
    for q in batch.TPCH + batch.LLM_CURATION:
        names[f"query.{q}.exec_s"] = "s"
    names.update({
        "operators.lsh_candidate_pairs": "count",
        "operators.lsh_verified_pairs": "count",
        "operators.lsh_precision": "ratio",
        "sources.latest_offset_ms_p50": "ms",
        "sources.get_batch_ms_p50": "ms",
        "sources.backlog_files_max": "count",
        "streaming.batches": "count",
        "streaming.no_data_batches": "count",
        "streaming.rows_per_batch_p50": "count",
        "streaming.trigger_ms_p50": "ms",
        "streaming.trigger_ms_p90": "ms",
        "streaming.query_planning_ms_p50": "ms",
        "streaming.add_batch_ms_p50": "ms",
        "streaming.wal_commit_ms_p50": "ms",
        "streaming.commit_offsets_ms_p50": "ms",
        "streaming.state_rows_max": "count",
        "streaming.state_rows_removed": "count",
        "streaming.state_memory_bytes_max": "bytes",
        "streaming.state_commit_ms_p50": "ms",
        "streaming.executor_run_s": "s",
        "streaming.catchup_rows_per_s": "1/s",
        "streaming.single_core_catchup_rows_per_s": "1/s",
        "streaming.live_backlog_files": "count",
        "streaming.sinks.write_ms_p50": "ms",
        "streaming.sinks.write_ms_p90": "ms",
        "streaming.sinks.skipped_batches": "count",
        "harness.generator_late_max_s": "s",
        "harness.tracing_overhead_ratio": "ratio",
        "harness.failed_ratio": "ratio",
        "process.peak_rss_mb": "MB",
    })
    return names


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def environment(seed: int) -> dict:
    import duckdb
    import pyspark

    try:
        java = subprocess.run(["java", "-version"], capture_output=True, text=True,
                              timeout=30).stderr.splitlines()[0]
    except (OSError, subprocess.SubprocessError, IndexError):
        java = "unknown"
    try:
        commit = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                                text=True, timeout=30).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        commit = "unknown"
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "spark_graft_cpus": os.environ["SPARK_GRAFT_CPUS"],
        "driver_memory": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "pyspark": pyspark.__version__,
        "java": java,
        "duckdb": duckdb.__version__,
        "python": sys.version.split()[0],
        "commit": commit,
        "seed": seed,
    }


def spark_conf(work: str, trace: bool) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.sql.streaming.numRecentProgressUpdates": "10000",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        ev = os.path.join(work, "eventlog")
        os.makedirs(ev, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": ev,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    return conf


def event_log_metrics(work: str, groups: list[str], passes: int, wall_s: float,
                      cores: int, prefix: str) -> dict[str, float]:
    """Sum the event-log rollups of ``groups`` (per pass) under ``prefix``."""
    paths = measure.find_event_logs(os.path.join(work, "eventlog"))
    if not paths:
        return {}
    rolled = measure.read_event_log(paths)
    tot: dict[str, float] = {}
    for g in groups:
        for k, v in rolled.get(g, {}).items():
            tot[k] = tot.get(k, 0.0) + v / passes
    out = {f"{prefix}.{k}": tot.get(k, 0.0) for k in
           ("jobs", "tasks", "executor_run_s", "executor_cpu_s", "gc_s", "shuffle_write_bytes",
            "shuffle_read_bytes", "spill_bytes", "failed_tasks", "scheduler_delay_s")}
    out[f"{prefix}.core_busy_ratio"] = tot.get("executor_run_s", 0.0) / max(wall_s * cores, 1e-9)
    out["catalog.scan_records"] = tot.get("input_records", 0.0)
    out["catalog.scan_bytes"] = tot.get("input_bytes", 0.0)
    return out


def lsh_counts(spark, data_dir: str) -> dict[str, float]:
    """Candidate pairs from minhash_lsh_pairs and how many of them are
    near-duplicates by exact shingle Jaccard (>= 0.5)."""
    from pyspark.sql import functions as F

    from odni_apache_beam_consumer_spark.operators import dedup
    from odni_apache_beam_consumer_spark.plans.llm import dedup_corpus

    corpus = dedup_corpus(spark, data_dir)
    cand = dedup.minhash_lsh_pairs(corpus, shingle_words=3, num_hashes=12,
                                   rows_per_band=3).persist()
    sh = dedup.shingle_table(corpus, 3).select("doc_id", "shingle").distinct()
    size = sh.groupBy("doc_id").count()
    a = sh.withColumnRenamed("doc_id", "doc_a")
    b = sh.withColumnRenamed("doc_id", "doc_b")
    inter = (cand.join(a, "doc_a").join(b, ["doc_b", "shingle"])
             .groupBy("doc_a", "doc_b").agg(F.count(F.lit(1)).alias("i")))
    jac = (inter.join(size.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("count", "na"),
                      "doc_a")
           .join(size.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("count", "nb"),
                 "doc_b")
           .where(F.col("i") >= 0.5 * (F.col("na") + F.col("nb") - F.col("i"))))
    n_cand = cand.count()
    n_ok = jac.count()
    cand.unpersist()
    return {"operators.lsh_candidate_pairs": n_cand, "operators.lsh_verified_pairs": n_ok,
            "operators.lsh_precision": n_ok / n_cand if n_cand else 0.0}


# A run must end within three minutes; the single-core child run starts
# only if it can finish before this many seconds after process start.
RUN_DEADLINE_S = 170.0


def single_core_catchup_s(args, t_proc: float) -> float | None:
    """The same catch-up, untraced, in a child process with
    ``SPARK_GRAFT_CPUS=1``; returns its ``pass_s``, or None if it failed or
    could not end before the run's deadline."""
    left = t_proc + RUN_DEADLINE_S - time.time()
    if left < 60:
        log(f"no time left for the single-core catch-up ({left:.0f}s); skipped")
        return None
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0",
           "--catchup-only"]
    # Own process group, so a timeout also stops the child's JVM.
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                            env=dict(os.environ, SPARK_GRAFT_CPUS="1"), start_new_session=True)
    try:
        out, err = proc.communicate(timeout=left)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        log("single-core catch-up timed out")
        return None
    lines = out.strip().splitlines()
    if proc.returncode != 0 or not lines:
        log(f"single-core catch-up failed ({proc.returncode}): {err[-2000:]}")
        return None
    return json.loads(lines[-1])["metrics"]["pass_s"]["value"]


def prior_pass_s(results_dir: str, workload: str) -> list[float]:
    """pass_s of earlier untraced full runs of ``workload`` in this checkout."""
    out = []
    try:
        names = os.listdir(results_dir)
    except FileNotFoundError:
        return out
    for n in names:
        if not n.startswith(f"{workload}-") or "-trace0-" not in n:
            continue
        try:
            with open(os.path.join(results_dir, n)) as f:
                rec = json.load(f)
        except (OSError, ValueError):
            continue
        if rec.get("correct") and rec.get("mode") == "full":
            out.append(rec["end_to_end"]["pass_s"])
    return out


def run(args) -> dict:
    t_proc = measure.process_start_epoch()
    trace = bool(args.trace)
    base = os.path.join(os.getcwd(), ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    results_dir = os.path.join(base, "results")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(results_dir, exist_ok=True)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tracer = Tracer(trace, f"{args.workload}-{args.seed}-{os.getpid()}")
    layer: dict[str, float] = {}
    cpu0 = measure.cpu_times()
    try:
        with RssSampler() as rss:
            res = _run_workload(args, work, tracer, layer, t_proc)
        res["per_layer"]["process.peak_rss_mb"] = rss.peak / 2**20
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if trace and args.workload == "stream_ingest" and not args.smoke:
        single = single_core_catchup_s(args, t_proc)
        if single:
            cfg = _stream_config(args.seconds, False)
            res["per_layer"]["streaming.single_core_catchup_rows_per_s"] = (
                cfg.backlog_files * cfg.rows_per_file / single)
    if trace:
        prior = prior_pass_s(results_dir, args.workload)
        if not prior:
            log("no untraced record of this workload in this checkout: "
                "harness.tracing_overhead_ratio reads 0")
        else:
            res["per_layer"]["harness.tracing_overhead_ratio"] = (
                res["end_to_end"]["pass_s"] / sorted(prior)[len(prior) // 2] - 1.0)
        tracer.dump(os.path.join(results_dir, f"{tracer.run_id}-spans.json"))
    res["environment"] = environment(args.seed)
    res["environment"]["cpu_steal_share"] = measure.steal_share(cpu0, measure.cpu_times())
    res["mode"] = "catchup" if args.catchup_only else ("smoke" if args.smoke else "full")
    with open(os.path.join(results_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}-"
                                         f"{os.getpid()}.json"), "w") as f:
        json.dump(res, f, indent=1, default=str)
    return res


def stop_jvm() -> None:
    """End the JVM that PySpark launched and wait for it: it exits when its
    stdin closes, and its Python workers exit with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _run_workload(args, work: str, tracer: Tracer, layer: dict, t_proc: float) -> dict:
    from datagen import write_tables

    with tracer.span("session.get_spark"):
        t0 = time.perf_counter()
        from odni_apache_beam_consumer_spark.session import get_spark

        spark = get_spark(app_name=f"perfbench-{args.workload}",
                          extra_conf=spark_conf(work, bool(args.trace)))
        layer["session.start_s"] = time.perf_counter() - t0
    with tracer.span("plans.all_queries"):
        t0 = time.perf_counter()
        from odni_apache_beam_consumer_spark.plans.registry import all_oracles, all_queries

        queries = all_queries()
        oracles = all_oracles()
        layer["plans.registry_load_s"] = time.perf_counter() - t0
    log(f"session in {layer['session.start_s']:.2f}s, registry in "
        f"{layer['plans.registry_load_s']:.2f}s")
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    e2e: dict[str, float] = {}
    problems: list[str] = []
    try:
        if args.workload == "stream_ingest":
            from stream import run_stream

            cfg = _stream_config(args.seconds, args.smoke)
            with tracer.span("harness.stream"):
                out = run_stream(spark, work, cfg, args.seed, tracer, log,
                                 catchup_only=args.catchup_only)
            e2e["setup_s"] = out["ready"] - time.perf_counter() + time.time() - t_proc
            e2e["pass_s"] = out["catchup_s"]
            if not args.catchup_only:
                e2e["latency_p50_s"] = out["latency_p50_s"]
                e2e["latency_tail_s"] = out["latency_tail_s"]
            problems = out["problems"]
            attempted = out["attempted"]
            failed = min(len(problems), attempted)
            layer.update({k: v for k, v in out.items() if "." in k})
            layer["streaming.catchup_rows_per_s"] = out["catchup_rows_per_s"]
            log(f"stream: {json.dumps({k: v for k, v in out.items() if k != 'progress'})}")
        else:
            import batch

            names = batch.TPCH + batch.LLM_CURATION
            scale = 0.001 if args.smoke else BATCH_SCALE
            t0 = time.perf_counter()
            data = write_tables(os.path.join(work, "data"), args.seed, scale)
            t1 = time.perf_counter()
            with tracer.span("harness.warm_up"):
                batch.warm_up(spark, queries, data)
            e2e["setup_s"] = time.time() - t_proc
            log(f"tables in {t1 - t0:.2f}s, warm-up queries in {time.perf_counter() - t1:.2f}s")
            out = batch.run_batch(spark, queries, oracles, names, data, args.seconds, tracer, log)
            for name, probs in out["failures"].items():
                problems += [f"{name}: {p}" for p in probs]
            attempted = len(names) * len(out["passes"])
            failed = len(out["failures"])
            for k in ("pass_s", "latency_p50_s", "latency_tail_s"):
                e2e[k] = out[k]
            n_pass = len(out["passes"])
            layer["plans.build_s"] = sum(b for p in out["passes"] for b, _ in p.values()) / n_pass
            layer["plans.exec_s"] = sum(e for p in out["passes"] for _, e in p.values()) / n_pass
            for q in names:
                layer[f"query.{q}.exec_s"] = sorted(p[q][1] for p in out["passes"])[n_pass // 2]
            if args.trace:
                layer.update(lsh_counts(spark, data))
            log(f"{args.workload}: pass_s={out['pass_s']:.3f} passes={n_pass} "
                f"failures={list(out['failures'])} per query: " + " ".join(
                    f"{q}={b + e:.2f}" for q, (b, e) in out["passes"][0].items()))
    finally:
        spark.stop()
        stop_jvm()
    if args.trace and args.workload == "stream_ingest":
        from stream import CYCLES

        n = 1 if args.catchup_only else CYCLES
        ev = event_log_metrics(work, [f"stream-cycle{c}" for c in range(n)], n, 1.0, cores,
                               "streaming")
        layer["streaming.executor_run_s"] = ev.get("streaming.executor_run_s", 0.0)
    elif args.trace:
        layer.update(event_log_metrics(work, names, n_pass, e2e["pass_s"], cores, "plans"))
    layer["harness.failed_ratio"] = failed / attempted
    per_layer = {k: float(layer.get(k, 0.0)) for k in per_layer_names()}
    return {"correct": not problems, "attempted": attempted, "failed": failed,
            "problems": problems, "end_to_end": e2e, "per_layer": per_layer}


def smoke() -> int:
    """Run every workload end to end on tiny inputs and check the printed
    metric names and units against BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
            1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    ok = True
    for w in spec["workloads"]:
        for tr in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", w["name"],
                   "--seed", "1", "--seconds", "3", "--trace", str(tr), "--smoke"]
            proc = subprocess.run(cmd, capture_output=True, text=True, timeout=300)
            lines = proc.stdout.strip().splitlines()
            res = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
            got = {k: v["unit"] for k, v in res["metrics"].items()} if res else None
            good = bool(res) and res["correct"] and got == want[tr]
            ok &= good
            print(f"smoke {w['name']} trace={tr}: {'ok' if good else 'FAIL'}", flush=True)
            if not good:
                print(proc.stderr[-3000:], file=sys.stderr)
                if got is not None:
                    print(f"  names/units differ: {set(got.items()) ^ set(want[tr].items())}",
                          file=sys.stderr)
    return 0 if ok else 1


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs; without --workload, self-test every workload")
    ap.add_argument("--catchup-only", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    if args.smoke and args.workload is None:
        return smoke()
    if args.workload is None:
        ap.error("--workload is required")
    res = run(args)
    metrics = res["per_layer"] if args.trace else res["end_to_end"]
    units = per_layer_names() if args.trace else E2E_UNITS
    print(json.dumps({
        "correct": res["correct"], "attempted": res["attempted"], "failed": res["failed"],
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units if k in metrics},
    }), flush=True)
    for p in res["problems"]:
        log(f"problem: {p}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
