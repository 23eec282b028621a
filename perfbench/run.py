"""Benchmark of warcraider_spark: two workloads on seeded inputs.

    python3 perfbench/run.py --workload warc_etl --seed 1 --seconds 15 --trace 0

Run from the repository root. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` they
are the per-layer ones, and the tracing overhead is taken against the
median of the last ten untraced runs of the workload in this checkout (0
when there are none). The line before it is the run record (inputs hash,
host state, pass and op samples, span self times). Exits 1 when any output
check fails, 2 when the program is not there to run.

See perfbench/README.md for metric definitions and the workloads.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import time

T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WIDTH_CAP = 4
GEN_REPEATS = 2
# a timed pass during which the hypervisor gave more than this share of the
# machine's CPU time to other guests is made again, at most EXTRA_PASSES
# times per run (see _timed)
STEAL_MAX_PCT = 3.0
EXTRA_PASSES = 1


def _args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=15)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--curve", type=int, default=0,
                   help="record a pass-time curve of this many passes instead of a run")
    return p.parse_args(argv)


def _session(width: int, work: str, event_log: str | None):
    from warcraider_spark.session import get_spark

    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="perfbench", master=f"local[{width}]",
                      shuffle_partitions=width, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    try:
        spark.stop()
    finally:
        if gw is not None:
            try:
                gw.shutdown()
            except Exception:  # noqa: BLE001 - the gateway may already be gone
                pass
        if proc is not None:
            try:
                proc.stdin.close()
            except OSError:
                pass
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)


class Ctx:
    def __init__(self, spark, width: int, work: str, tracer) -> None:
        self.spark = spark
        self.width = width
        self.work = work
        self.tracer = tracer


def _pass(wl, ctx, pass_id: str, timed: bool, ops: list) -> int:
    """Run the ops of one pass, appending (name, seconds) of each to
    ``ops``; returns the number of ops that raised. A timed pass's Spark
    jobs are in the job group named by its pass id."""
    failed = 0
    sc = ctx.spark.sparkContext
    for name, op in wl.ops():
        sc.setJobGroup(pass_id if timed else "warmup", f"{name} {pass_id}")
        ctx.tracer.pass_id = pass_id
        t = time.perf_counter()
        try:
            op()
        except Exception as exc:  # noqa: BLE001 - an op failure is counted, not fatal
            failed += 1
            wl.fail(f"{name} {pass_id} raised {type(exc).__name__}: {str(exc)[:300]}")
        ops.append((name, time.perf_counter() - t))
        wl.after_op(timed)
    return failed


def _timed(wl, ctx, n_timed: int, probes) -> tuple[list[dict], int]:
    """The timed phase: ``n_timed`` passes, plus, while fewer than
    ``n_timed`` of them ran with CPU steal at most STEAL_MAX_PCT, up to
    EXTRA_PASSES more. Steal is time the hypervisor gave to other guests on
    a shared host; a pass that lost 10% of the CPU time to it ran up to 70%
    slower on a 4-vCPU guest, so a pass it hit is replaced when the run's
    time allows.
    Returns every pass and the ops that raised."""
    passes: list[dict] = []
    failed = 0
    steal = probes.StealClock()
    while True:
        quiet = sum(p["steal_pct"] <= STEAL_MAX_PCT for p in passes)
        if len(passes) >= n_timed and (quiet >= n_timed
                                       or len(passes) >= n_timed + EXTRA_PASSES):
            return passes, failed
        pid = f"pass{len(passes)}"
        ops: list[tuple[str, float]] = []
        with ctx.tracer.span("timed.pass"):
            t = time.perf_counter()
            failed += _pass(wl, ctx, pid, True, ops)
            dt = time.perf_counter() - t
        passes.append({"id": pid, "s": dt, "steal_pct": steal.lap(), "ops": ops})


def _kept_passes(passes: list[dict], n: int) -> list[dict]:
    """The ``n`` passes with the least steal, in the order they ran."""
    keep = {p["id"] for p in sorted(passes, key=lambda p: p["steal_pct"])[:n]}
    return [p for p in passes if p["id"] in keep]


def main(argv: list[str]) -> int:
    a = _args(argv)
    if not os.path.isdir(os.path.join(ROOT, "warcraider_spark")):
        print(f"perfbench: no warcraider_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import probes
    import workloads

    if a.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {a.workload!r}; "
              f"one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    untraced_log = os.path.join(out_dir, f"untraced-{a.workload}.jsonl")
    untraced_wall: list[float] = []
    if a.trace:
        # the tracing overhead is this run's wall_s minus the median wall_s
        # of the last ten untraced runs made in this checkout
        if os.path.exists(untraced_log):
            with open(untraced_log) as f:
                untraced_wall = [json.loads(ln)["metrics"]["wall_s"]["value"]
                                 for ln in f.read().splitlines()[-10:]]

    work = os.path.join(ROOT, ".perfbench_work", f"{a.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    # everything the run and its JVM and Python workers write stays in the
    # checkout; the workers import the program from the checkout root
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # every JVM (Spark's launcher and the driver) keeps its
    # temp files in the checkout and writes no perf-data file to /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    import tempfile

    tempfile.tempdir = None  # tempfile caches its directory on first use

    # half the vCPUs: the driver, the JVM's own threads and the Python
    # workers' pipes then never wait for a CPU, and a vCPU the hypervisor
    # takes away does not stall a task
    width = max(1, min(WIDTH_CAP, (os.cpu_count() or 1) // 2))
    ambient = probes.Ambient()
    ambient.begin(width)
    tracer = probes.Tracer(enabled=bool(a.trace))
    sampler = probes.TreeSampler().start()
    event_log = os.path.join(work, "eventlog") if a.trace else None
    spark = None
    versions = {"python": platform.python_version(), "spark": "unknown", "java": "unknown"}
    record: dict = {"workload": a.workload, "seed": a.seed, "trace": a.trace}
    try:
        with tracer.span("session.get_spark"):
            t = time.perf_counter()
            spark = _session(width, work, event_log)
            start_s = time.perf_counter() - t
        ctx = Ctx(spark, width, work, tracer)
        wl = workloads.WORKLOADS[a.workload](ctx)

        # input generation, repeated: the copies must be byte-identical, and
        # set-up counts the median generation time once
        gen_s, inputs = [], []
        for i in range(GEN_REPEATS):
            t = time.perf_counter()
            with tracer.span("generate"):
                inputs.append(wl.generate(a.seed))
            gen_s.append(time.perf_counter() - t)
        if any(x["sha256"] != inputs[0]["sha256"] for x in inputs):
            wl.fail("generator is not deterministic for one seed")
        gen_extra = sum(gen_s) - sorted(gen_s)[len(gen_s) // 2]

        with open(os.path.join(HERE, "warmup.json")) as f:
            n_warm = json.load(f)[a.workload]["warmup_passes"]
        if a.curve:
            n_warm, n_timed = a.curve, 0
        else:
            n_timed = wl.n_passes(a.seconds)
        warm_times = []
        for i in range(n_warm):
            t = time.perf_counter()
            with tracer.span("warmup.pass"):
                _pass(wl, ctx, f"warmup{i}", False, [])
            warm_times.append(time.perf_counter() - t)
        setup_s = time.perf_counter() - T0 - gen_extra
        if a.curve:
            print(json.dumps({"workload": a.workload, "seed": a.seed, "width": width,
                              "pass_s": [round(x, 4) for x in warm_times]}))
            return 0

        # ---- timed phase -------------------------------------------------
        sampler.sample()
        sampler.reset_peaks()
        workers_before = set(sampler.workers)
        t_timed = time.perf_counter()
        passes, failed = _timed(wl, ctx, n_timed, probes)
        timed_total_s = time.perf_counter() - t_timed
        attempted = sum(len(p["ops"]) for p in passes)
        kept = _kept_passes(passes, n_timed)
        wall_s = sum(p["s"] for p in kept)
        lat = [dt for p in kept for _, dt in p["ops"]]
        per_op: dict[str, list[float]] = {}
        for p in kept:
            for name, dt in p["ops"]:
                per_op.setdefault(name, []).append(dt)
        sampler.sample()
        peak_tree, peak_worker = sampler.peak_tree, sampler.peak_worker
        # a workload that runs no Python UDF does its Python work in the
        # driver, which collects the results
        worker_kind = "pyspark.worker" if peak_worker else "driver"
        peak_worker = peak_worker or sampler.peak_driver
        new_workers = len(set(sampler.workers) - workers_before)

        # ---- checks (outside the timing) -----------------------------------
        with tracer.span("check"):
            try:
                failed += wl.check()
            except Exception as exc:  # noqa: BLE001 - a crashed check fails every op
                wl.fail(f"check raised {type(exc).__name__}: {str(exc)[:300]}")
                failed = attempted
        failed = min(attempted, failed)

        p50 = probes.median(lat)
        items = wl.items_per_pass() * n_timed
        in_bytes = wl.bytes_per_pass() * n_timed
        e2e = {
            "setup_s": (setup_s, "s"),
            "wall_s": (wall_s, "s"),
            "items_per_s": (items / wall_s, "1/s"),
            "input_mb_per_s": (in_bytes / 1e6 / wall_s, "MB/s"),
            "op_p50_s": (p50, "s"),
            "peak_rss_mb": (peak_tree / 1e6, "MB"),
            "py_worker_peak_rss_mb": (peak_worker / 1e6, "MB"),
            "out_bytes_per_in_byte": (wl.out_bytes_per_in_byte(), "ratio"),
            "ops_ok_ratio": ((attempted - failed) / attempted if attempted else 0.0, "ratio"),
        }
        record.update({
            "width": width, "inputs": inputs[0], "warmup_passes": n_warm,
            "warmup_pass_s": [round(x, 4) for x in warm_times], "timed_passes": n_timed,
            "gen_s": [round(x, 4) for x in gen_s], "session_start_s": round(start_s, 4),
            "py_worker_peak_from": worker_kind, "op_samples": len(lat),
            # too few ops per run for a tail percentile with ten samples
            # beyond it: the slowest op of the kept passes, for reading only
            "op_max_s": round(max(lat), 4),
            "pass_s": [round(p["s"], 4) for p in passes],
            "pass_steal_pct": [round(p["steal_pct"], 2) for p in passes],
            "kept_passes": [p["id"] for p in kept],
            "timed_total_s": round(timed_total_s, 4),
            "ops_failed_ratio": failed / attempted if attempted else 0.0,
            "per_op_median_s": {k: round(probes.median(v), 4) for k, v in per_op.items()},
            "failures": wl.failures[:20],
        })

        if a.trace:
            if wl.name == "warc_etl":
                # the read side of the layout the ETL's sink writes
                with tracer.span("queries"):
                    n_q, n_q_failed = workloads.query_layer(ctx, a.seed, wl)
                attempted += n_q
                failed += n_q_failed
                record["ops_failed_ratio"] = failed / attempted
                record["failures"] = wl.failures[:20]
            layer = _per_layer(a, wl, ctx, work, event_log, start_s, new_workers, wall_s,
                               per_op, untraced_wall, {p["id"] for p in kept})
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in layer.items()}
            record["self_times"] = tracer.self_times()
            tracer.dump(os.path.join(out_dir, f"spans-{a.workload}-seed{a.seed}.jsonl"))
        else:
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        correct = not wl.failures
    finally:
        if spark is not None:
            versions["spark"] = spark.version
            versions["java"] = spark.sparkContext._jvm.System.getProperty("java.version")
            _stop(spark)
        sampler.stop()
        record["killed_stragglers"] = probes.wait_tree_gone(os.getpid())
        ambient.end(versions)
        record["ambient"] = ambient.record()
        shutil.rmtree(work, ignore_errors=True)
    result = {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}
    if not a.trace:
        with open(untraced_log, "a") as f:
            f.write(json.dumps(result) + "\n")
    print(json.dumps(record, default=str))
    print(json.dumps(result))
    return 0 if correct else 1


PER_LAYER_UNITS = {
    "session.start_s": "s",
    "session.py_workers_started": "count",
    "sources.warc.split_ms_per_record": "ms",
    "plans.pipeline.records_in": "count",
    "plans.pipeline.responses": "count",
    "plans.pipeline.post_blacklist": "count",
    "plans.pipeline.gzip_ok": "count",
    "plans.pipeline.parse_fallback": "count",
    "plans.pipeline.oversize": "count",
    "plans.pipeline.rows_out": "count",
    "plans.pipeline.yield_ratio": "ratio",
    "plans.pipeline.gunzip_ms_per_record": "ms",
    "plans.pipeline.engine_overhead_ms_per_record": "ms",
    "functions.html.parse_ms_per_page": "ms",
    "functions.html.parse_ms_per_kb": "ms",
    "functions.urls.absolutize_ms_per_page": "ms",
    "functions.rake.rake_ms_per_page": "ms",
    "sinks.write_stage_s": "s",
    "sinks.bytes_written": "bytes",
    "sinks.files_written": "count",
    "operators.dedup.winnowing_family_s": "s",
    "operators.dedup.exact_substring_excision_s": "s",
    "operators.dedup.cdc_chunks_s": "s",
    "operators.dedup.pairs": "count",
    "operators.dedup.chars_removed": "count",
    "operators.dedup.dup_recall": "ratio",
    "operators.text.gopher_rule_table_s": "s",
    "operators.text.gopher_repetition_table_s": "s",
    "queries.point_filter_s": "s",
    "queries.domain_rollup_s": "s",
    "queries.link_indegree_s": "s",
    "queries.keyword_topk_s": "s",
    "queries.ga_property_s": "s",
    "queries.point_bytes_read_ratio": "ratio",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.scheduler_delay_s": "s",
    "spark.busy_ratio": "ratio",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.peak_exec_mem_mb": "MB",
    "spark.input_mb": "MB",
    "trace.wall_s": "s",
    "trace.overhead_s": "s",
}


def _per_layer(a, wl, ctx, work, event_log, start_s, new_workers, wall_s, per_op,
               untraced_wall, kept: set[str]) -> dict[str, tuple[float, str]]:
    """Every per-layer metric; 0 where the workload does not reach the layer.
    Spark's figures cover the jobs of the kept timed passes."""
    import probes
    import workloads

    v: dict[str, float] = {k: 0.0 for k in PER_LAYER_UNITS}
    v["session.start_s"] = start_s
    v["session.py_workers_started"] = float(new_workers)
    v.update(workloads.kernel_timings(work, a.seed, ctx.tracer))
    events = probes.read_event_log(event_log)
    v.update(probes.spark_rollup(events, kept, wall_s, ctx.width))
    for name, times in per_op.items():
        key = name + "_s"
        if key in v:
            v[key] = probes.median(times)
    v.update(wl.layer)
    if wl.name == "warc_etl":
        exp = wl.corpus.expected
        for k, n in exp.items():
            v[f"plans.pipeline.{k}"] = float(n)
        v["plans.pipeline.yield_ratio"] = exp["rows_out"] / exp["records_in"]
        rows = exp["rows_out"] * len(kept)
        kernels = sum(v[k] for k in (
            "sources.warc.split_ms_per_record", "plans.pipeline.gunzip_ms_per_record",
            "functions.html.parse_ms_per_page", "functions.urls.absolutize_ms_per_page",
            "functions.rake.rake_ms_per_page"))
        v["plans.pipeline.engine_overhead_ms_per_record"] = (
            v["spark.executor_run_s"] * 1e3 / rows - kernels)
        v["sinks.write_stage_s"] = probes.write_stage_s(events, kept) / len(kept)
        v["sinks.bytes_written"], v["sinks.files_written"] = map(float, wl.sink[-1])
        point = probes.spark_rollup(events, {"queries"}, wall_s, ctx.width,
                                    desc_prefix="queries.point_filter ")
        v["queries.point_bytes_read_ratio"] = (
            point["spark.input_mb"] * 1e6 / workloads.QUERY_REPS / wl.query_table_bytes)
    v["trace.wall_s"] = wall_s
    if untraced_wall:
        v["trace.overhead_s"] = wall_s - probes.median(untraced_wall)
    return {k: (v[k], PER_LAYER_UNITS[k]) for k in PER_LAYER_UNITS}


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
