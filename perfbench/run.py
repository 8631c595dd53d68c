#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload crawl_uniform --seed 1 \
        --seconds 15 --trace 0

A run is a closed loop: one client (this process) drives one local
Spark session with as many cores as the machine offers, repetitions
back to back. Order of work:

1. set-up: session start; the fixture-scale oracle check (DuckDB crawl
   oracle or the pure-Python clustering oracle), which is also the
   untimed warm-up repetition; then the workload's inputs built from
   ``--seed`` three times. setup_s = start + warm-up + median build.
2. the workload's untimed warm-up repetitions at bench scale, then
   timed repetitions while the next one is expected to end within
   ``--seconds`` (at least one), each followed by its output check and
   a cache reset. Outputs must be identical across repetitions.
3. with ``--trace 1``: at least one warm-up repetition; traced and
   untraced timed repetitions alternate, then the per-layer
   decomposition.
   Spans are printed to stderr; the Spark event log (on only in
   traced runs) gives the per-layer task metrics.

The last stdout line is {"correct", "attempted", "failed", "metrics"}.
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones (see BENCHMARK.json). Everything the run writes goes to
a temporary directory inside the checkout that is removed at exit.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from perfbench.metrics import (  # noqa: E402
    GroupStats,
    RssSampler,
    Tracer,
    event_log_lines,
    layer_self_times,
    parse_event_log,
    proc_table,
    tree_pids,
)

# BENCHMARK.json's end_to_end and per_layer lists, in its order
END_TO_END = {
    "setup_s": "s",
    "items_per_s": "1/s",
    "rep_s_p50": "s",
    "peak_rss_mb": "MiB",
}
SPARK_LAYERS = (
    "frontier", "extract", "urls", "bloom", "ranking", "checkpoint",
    "clustering",
)
_STAGE_SECONDS = (
    "frontier.crawl", "frontier.schedule", "frontier.fetch_join",
    "frontier.resolve", "frontier.seen_antijoin",
    "extract.links", "urls.canonicalize",
    "bloom.build", "bloom.probe", "bloom.or_delta",
    "ranking.global_rank",
    "checkpoint.save", "checkpoint.load", "checkpoint.resume",
    "clustering.cluster_documents", "clustering.featurize",
    "clustering.tags", "clustering.candidate_pairs", "clustering.verify",
    "clustering.membership",
    "session.start", "datagen.pages", "datagen.corpus",
)
PER_LAYER = {
    **{f"{s}_s": "s" for s in _STAGE_SECONDS},
    "frontier.frontier_rows": "count",
    "frontier.scheduled_rows": "count",
    "frontier.deferred_rows": "count",
    "frontier.take_ratio": "ratio",
    "frontier.new_urls": "count",
    "frontier.new_ratio": "ratio",
    "frontier.jobs_per_round": "count",
    "extract.pages_in": "count",
    "extract.links_out": "count",
    "extract.links_per_page": "ratio",
    "urls.candidates_distinct": "count",
    "urls.kept_ratio": "ratio",
    "bloom.probed": "count",
    "bloom.maybe_seen": "count",
    "bloom.false_positive_ratio": "ratio",
    "bloom.max_shard_bytes": "B",
    "ranking.rows": "count",
    "checkpoint.bytes_written": "B",
    "checkpoint.files_written": "count",
    "checkpoint.bytes_per_fetched_url": "B",
    "clustering.candidate_pairs": "count",
    "clustering.pairs_per_doc": "ratio",
    "clustering.edges": "count",
    "clustering.verify_yield": "ratio",
    "clustering.clusters": "count",
    "clustering.pair_recall": "ratio",
    "clustering.pair_precision": "ratio",
    **{
        f"{layer}.{k}": u
        for layer in SPARK_LAYERS
        for k, u in (
            ("shuffle_write_bytes", "B"), ("spill_bytes", "B"),
            ("task_skew", "ratio"), ("tasks_failed", "count"),
        )
    },
    "trace.overhead_ratio": "ratio",
    "trace.attributed_ratio": "ratio",
}
SETUP_BUILDS = 3
DRIVER_MEM = "2g"


def _parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _stop_spark(spark) -> None:
    """Stop the session, shut the JVM down and wait until it and every
    Python worker it started have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while ((left := tree_pids(os.getpid(), proc_table())[1:])
           and time.monotonic() < deadline):
        time.sleep(0.2)
    for pid in left:
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _spark_layer_metrics(log_dir: str, rounds_traced: int) -> dict:
    """Per-layer Spark task metrics from the event log; stages belong to
    the layer named by their job group (the enclosing span)."""
    groups = parse_event_log(event_log_lines(log_dir))
    out = {}
    for layer in SPARK_LAYERS:
        merged = GroupStats()
        for name, g in groups.items():
            if name.split(".", 1)[0] != layer:
                continue
            merged.jobs += g.jobs
            merged.tasks_failed += g.tasks_failed
            merged.shuffle_write_bytes += g.shuffle_write_bytes
            merged.spill_bytes += g.spill_bytes
            merged.stage_run_ms.update(g.stage_run_ms)
        out[f"{layer}.shuffle_write_bytes"] = merged.shuffle_write_bytes
        out[f"{layer}.spill_bytes"] = merged.spill_bytes
        out[f"{layer}.task_skew"] = merged.task_skew
        out[f"{layer}.tasks_failed"] = merged.tasks_failed
    crawl_jobs = groups.get("frontier.crawl")
    if crawl_jobs is not None and rounds_traced:
        out["frontier.jobs_per_round"] = crawl_jobs.jobs / rounds_traced
    return out


def _measure(spark, w, args, start_s: float) -> dict | None:
    """Fixture check (the warm-up), set-up builds and the timed loop;
    the traced run adds the per-layer decomposition."""
    from perfbench.workloads import CheckFailed

    sc = spark.sparkContext
    sc.setJobGroup("bench", "benchmark glue")
    tracer = Tracer(
        on_enter=lambda name: sc.setJobGroup(name, name),
        on_exit=lambda parent: sc.setJobGroup(parent or "bench",
                                              parent or "benchmark glue"),
    )
    untraced = Tracer(enabled=False)

    # The fixture-scale oracle check is the untimed warm-up repetition:
    # it runs the workload's code paths once (Python workers, codegen)
    # before anything is timed except the session start.
    correct = True
    t0 = time.perf_counter()
    try:
        w.fixture_check()
    except CheckFailed as e:
        print(f"fixture check failed: {e}", file=sys.stderr)
        correct = False
    spark.catalog.clearCache()
    warmup_s = time.perf_counter() - t0
    w.prepare()
    builds = []
    for _ in range(SETUP_BUILDS):
        t0 = time.perf_counter()
        w.build_inputs()
        builds.append(time.perf_counter() - t0)
    build_s = statistics.median(builds)
    _log(f"start {start_s:.2f}s warm-up and fixture check {warmup_s:.2f}s "
         "builds " + " ".join(f"{b:.2f}s" for b in builds))

    ref_digest = None
    attempted = failed = 0

    def repetition(tr: Tracer) -> tuple[float, int]:
        """One repetition and its output check: (seconds, items)."""
        nonlocal ref_digest
        t0 = time.perf_counter()
        with tr.span("bench.rep"):
            out = w.run_once(tr)
        dt = time.perf_counter() - t0
        res = w.check(out)
        if ref_digest is None:
            ref_digest = res.digest
        elif res.digest != ref_digest:
            raise CheckFailed("output differs between repetitions")
        return dt, res.items

    # Untimed bench-scale repetitions (the workload's warmup_reps; a
    # traced run has at least one so that warming does not bias the
    # traced/untraced overhead ratio).
    last = 0.0  # seconds of the latest repetition with its check
    for _ in range(max(w.warmup_reps, args.trace)):
        attempted += 1
        t0 = time.perf_counter()
        try:
            dt, items = repetition(untraced)
            _log(f"warm-up rep {dt:.2f}s items={items}")
        except Exception:
            traceback.print_exc()
            failed += 1
        last = time.perf_counter() - t0
        spark.catalog.clearCache()
        gc.collect()

    # Timed repetitions run while the next one is expected to end by the
    # deadline (at least one per mode); the figures are their medians.
    reps = {False: [], True: []}  # traced? -> [(seconds, items)]
    modes = (True, False) if args.trace else (False,)
    timed = 0
    deadline = time.perf_counter() + args.seconds
    while timed < len(modes) or time.perf_counter() + last <= deadline:
        traced = modes[timed % len(modes)]
        timed += 1
        attempted += 1
        t0 = time.perf_counter()
        try:
            dt, items = repetition(tracer if traced else untraced)
            reps[traced].append((dt, items))
            _log(f"rep traced={int(traced)} {dt:.2f}s items={items}")
        except Exception:  # one failed repetition must not end the run
            traceback.print_exc()
            failed += 1
        last = time.perf_counter() - t0
        spark.catalog.clearCache()
        gc.collect()

    if not reps[False] or (args.trace and not reps[True]):
        print("no successful repetition to report", file=sys.stderr)
        return None
    secs = [s for s, _ in reps[False]]
    result = {"correct": correct and failed == 0, "attempted": attempted,
              "failed": failed}
    if not args.trace:
        result["metrics"] = {
            "setup_s": start_s + warmup_s + build_s,
            "items_per_s": statistics.median(n / s for s, n in reps[False]),
            "rep_s_p50": statistics.median(secs),
        }
        return result

    layer = {}
    try:
        layer = w.decompose(tracer)
    except Exception:
        traceback.print_exc()
        result["correct"] = False
    by_name: dict[str, list[float]] = {}
    for s in tracer.spans:
        by_name.setdefault(s.name, []).append(s.end - s.start)
    m = {f"{name}_s": statistics.median(v) for name, v in by_name.items()}
    m.update(layer)
    m["session.start_s"] = start_s
    m[w.build_metric] = build_s
    m["trace.overhead_ratio"] = (
        statistics.median(s for s, _ in reps[True]) / statistics.median(secs))
    self_by_layer = layer_self_times(tracer.spans)
    wall = sum(s.end - s.start for s in tracer.spans if s.parent is None)
    m["trace.attributed_ratio"] = (
        sum(v for k, v in self_by_layer.items() if k != "bench") / wall)
    m["_traced_crawl_rounds"] = len(reps[True]) * w.crawl_rounds
    result["metrics"] = m
    print("spans: " + json.dumps(tracer.to_json()), file=sys.stderr)
    return result


def run(args, tmp: Path) -> dict | None:
    from news_combinator_spark.session import get_spark
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(
            f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    cores = len(os.sched_getaffinity(0))
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(tmp / "warehouse"),
        # no hsperfdata files in the system temp dir
        "spark.driver.extraJavaOptions":
            f"-XX:-UsePerfData -Djava.io.tmpdir={tmp / 'jvm'}",
    }
    event_dir = tmp / "events"
    if args.trace:
        event_dir.mkdir()
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_dir.as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    with RssSampler() as rss:
        t0 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{args.workload}", cores=cores,
                          extra_conf=conf)
        start_s = time.perf_counter() - t0
        try:
            w = WORKLOADS[args.workload](spark, str(tmp), args.seed)
            result = _measure(spark, w, args, start_s)
        finally:
            rss.sample()
            peak_mb = rss.peak_kib / 1024
            _stop_spark(spark)
    if result is None:
        return None
    m = result["metrics"]
    if args.trace:
        # the event log is complete only once the session has stopped
        m.update(_spark_layer_metrics(
            str(event_dir), m.pop("_traced_crawl_rounds")))
    else:
        m["peak_rss_mb"] = peak_mb
    units = PER_LAYER if args.trace else END_TO_END
    result["metrics"] = {
        k: {"value": float(m.get(k, 0.0)), "unit": u}
        for k, u in units.items()
    }
    return result


def main(argv=None) -> int:
    args = _parse_args(argv)
    # a terminated run still stops Spark and removes its scratch space
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (ROOT / "news_combinator_spark" / "__init__.py").is_file():
        print(f"no news_combinator_spark package under {ROOT}", file=sys.stderr)
        return 2
    tmp = ROOT / ".perfbench_tmp" / f"{args.workload}-{os.getpid()}"
    tmp.mkdir(parents=True)
    for sub in ("spark-local", "py", "jvm"):
        (tmp / sub).mkdir()
    # Fit the machine without touching the program: driver memory,
    # scratch space inside the checkout, and the package importable by
    # the Python workers Spark starts.
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp / "spark-local")
    os.environ["TMPDIR"] = str(tmp / "py")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    try:
        import news_combinator_spark

        if Path(news_combinator_spark.__file__).resolve().parents[1] != ROOT:
            print("news_combinator_spark imported from outside the checkout",
                  file=sys.stderr)
            return 2
        result = run(args, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            (ROOT / ".perfbench_tmp").rmdir()
        except OSError:
            pass
    if result is None:
        return 1
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
