"""Crawl-frontier benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload bfs_bulk --seed 1 --seconds 10 --trace 0

Runs ``frontier.run_crawl`` from one closed-loop caller on ``local[nproc]``:
after set-up it starts whole crawls (or, for ``resume_steps``, one
``run_crawl`` call per round) until ``--seconds`` have passed, checks every
call's pages and seen set against a sequential oracle, and prints one JSON
line as the last line of stdout:

    {"correct": ..., "attempted": calls, "failed": calls, "metrics": {...}}

Workloads are defined in workloads.py.  BENCHMARK.json lists bfs_bulk and
resume_steps; polite_horizon (resume_steps' crawl kept in memory) runs the
same way but is left out there, because a third workload does not fit the
benchmark's time budget at this engine's per-round cost.

``--trace 0`` reports the end-to-end metrics: ``setup_s`` (process start to
ready: get_spark, corpus open and a one-round warm-up crawl over 200 seeds,
without input generation), ``urls_per_s`` (URLs that entered the seen set
per second inside run_crawl), ``urls_per_cpu_s`` (the same URLs per CPU
second the driver JVM and its Python workers spent inside run_crawl: steady
when hypervisor steal slows the wall clock), ``step_p50_s`` (median
run_crawl call) and ``peak_rss_mb`` (driver JVM plus Python workers).  ``--trace 1`` then replays
the last crawl one layer call at a time (replay.py) and reports per-layer
metrics instead; the replay's pages and seen set must equal the untraced
crawl's.  Spans and the host-noise record (CPU busy and steal shares, the
pinned canary from bench.py on traced runs, local[N], driver memory) go to
``perfbench/out/``; they are not metrics.
"""

import time

T_PROCESS = time.perf_counter()  # set-up time counts from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
from collections import defaultdict  # noqa: E402
from dataclasses import replace  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))  # the repo root: frontier_engine

import hostinfo  # noqa: E402

# driver heap, far below physical RAM (get_spark's own default is 16g);
# committed up front (-Xms) so peak RSS does not follow heap-resizing noise
DRIVER_MEM = "2g"
WARMUP_SEEDS = 200
PHASES = (
    "seed_ingest", "pending_check", "extract_ckpt", "ckpt_frontier", "ckpt_seen_delta",
    "bloom_merge", "ckpt_metrics", "commit", "bloom_persist",
)
END_TO_END = {
    "setup_s": "s", "urls_per_s": "1/s", "urls_per_cpu_s": "1/cpu_s", "step_p50_s": "s", "peak_rss_mb": "MB",
}
PER_LAYER_UNITS = {
    "extract.s": "s", "extract.pages_per_s": "1/s", "extract.html_mb_per_s": "MB/s",
    "canonicalize.keys_per_s": "1/s", "canonicalize.seed_ingest_s": "s",
    "fetch.join_s": "s", "fetch.ok_frac": "frac",
    "seen.bloom_build_s": "s", "seen.probe_s": "s", "seen.bloom_positive_frac": "frac",
    "seen.bloom_false_pos_frac": "frac", "seen.bloom_positives": "count",
    "seen.filter_unseen_s": "s", "seen.merge_s": "s",
    "frontier.jobs_per_round": "count", "frontier.stages_per_round": "count",
    "frontier.tasks_per_round": "count", "frontier.partitions_end": "count",
    "frontier.glue_s": "s", "frontier.update_s": "s",
    "politeness.rank_quota_s": "s", "politeness.selected_frac": "frac", "politeness.partition_skew": "ratio",
    "storage.commit_s": "s", "storage.read_s": "s", "storage.bytes_written": "bytes",
    "storage.files_written": "count", "storage.ckpt_bytes_per_url": "bytes", "storage.resume_read_s": "s",
    "storage.aux_write_s": "s", "storage.aux_read_s": "s", "metrics.round_metrics_s": "s",
    **{f"frontier.phase.{p}_s": "s" for p in PHASES},
    "session.start_s": "s", "trace.overhead_s": "s",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # smaller inputs for selfcheck.py; the benchmark proper never sets them
    ap.add_argument("--pages", type=int)
    ap.add_argument("--seeds", type=int)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    busy = hostinfo.cpu_busy_fraction()  # before any work of ours
    busy_sec = time.perf_counter() - T_PROCESS

    # imports that need the repo (frontier_engine, pyspark) come after the
    # argument check, so a checkout without them fails fast
    import workloads
    from frontier_engine.frontier import run_crawl
    from frontier_engine.session import get_spark

    wl = workloads.WORKLOADS[args.workload]
    if args.pages:
        wl = wl.scaled(args.pages, args.seeds or args.pages // 2)
    inputs, gen_sec = workloads.load_inputs(wl, args.seed)
    n_cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "20000",
        "spark.ui.retainedStages": "40000",
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM}",
    }
    cfg = wl.config(n_cpus)

    # set-up, once per run: one more (a SparkContext restart plus warm-up,
    # ~10 s on a 4-vCPU VM) does not fit the benchmark's time budget
    t0 = time.perf_counter()
    spark = get_spark(f"local[{n_cpus}]", app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    session_start_s = time.perf_counter() - t0
    corpus = spark.read.parquet(inputs.corpus_dir)
    policy = spark.createDataFrame(inputs.policy_rows) if inputs.policy_rows else None
    warm = replace(cfg, max_rounds=1)
    if wl.steps:
        warm = replace(warm, checkpoint_dir=workloads.fresh_dir("warmup"))
    run_crawl(spark, corpus, inputs.seed_urls[:WARMUP_SEEDS], warm, host_policy=policy)
    if warm.checkpoint_dir:
        shutil.rmtree(warm.checkpoint_dir, ignore_errors=True)
    setup_s = time.perf_counter() - T_PROCESS - busy_sec - gen_sec

    from replay import job_counts

    checker = workloads.Checker(wl, inputs, cfg)
    crawls = []  # per crawl: list of CallRecord
    cpu0 = hostinfo.cpu_times()
    with hostinfo.RssSampler() as rss:
        t_start = time.perf_counter()
        while time.perf_counter() - t_start < args.seconds:
            crawls.append(workloads.run_one_crawl(spark, wl, inputs, corpus, policy, cfg, checker))
    timed_cpu = hostinfo.cpu_fractions(cpu0, hostinfo.cpu_times())
    jobs = job_counts(spark.sparkContext, set().union(*(c.job_ids for c in crawls[-1])))
    calls = [c for crawl in crawls for c in crawl]
    errors = [e for c in calls for e in c.errors]
    failed = sum(1 for c in calls if c.errors)
    summary = workloads.summarize(crawls)
    record = {
        "workload": wl.name, "seed": args.seed, "trace": args.trace, "seconds": args.seconds,
        "pages": wl.n_pages, "seed_lines": len(inputs.seed_urls),
        "master": f"local[{n_cpus}]", "driver_memory": DRIVER_MEM,
        "cpu_busy_frac": busy, "timed_cpu": timed_cpu, "gen_s": gen_sec, "setup_s": setup_s,
        "session_start_s": session_start_s,
        "calls_s": [c.wall for c in calls], "calls_cpu_s": [c.cpu for c in calls],
        "call_timings": [c.timings for c in calls],
        **summary, "errors": errors,
    }
    metrics = {
        "setup_s": setup_s,
        "urls_per_s": summary["urls_per_s"],
        "urls_per_cpu_s": summary["urls_per_cpu_s"],
        "step_p50_s": summary["step_p50_s"],
        "peak_rss_mb": rss.peak / 2**20,
    }
    attempted = len(calls)
    if args.trace:
        metrics = trace_layers(spark, wl, inputs, corpus, policy, cfg, crawls[-1], jobs, record)
        metrics["session.start_s"] = session_start_s
        record["canary_s"] = hostinfo.host_canary(spark)
        # the replay is a call too
        attempted += 1
        failed += bool(record["replay_errors"])
        errors += record["replay_errors"]
    record["failed_frac"] = failed / attempted
    t0 = time.perf_counter()
    hostinfo.shutdown_spark(spark)
    record["shutdown_s"] = time.perf_counter() - t0
    record["total_s"] = time.perf_counter() - T_PROCESS

    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    name = f"{wl.name}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(out_dir, name), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    for e in errors:
        print(f"check failed: {e}", file=sys.stderr)
    units = PER_LAYER_UNITS if args.trace else END_TO_END
    result = {
        "correct": not errors,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }
    print(json.dumps(result), flush=True)
    return 0


def trace_layers(spark, wl, inputs, corpus, policy, cfg, crawl, jobs, record):
    """Replay the crawl through each layer.  Fills ``record`` with the
    spans and the replay-equality errors; returns the per-layer metrics.

    ``crawl`` is the last timed crawl, the untraced side: the replay must
    reproduce its outputs, the tracing overhead is measured against its
    wall time, and the Spark job counts ``jobs``, the phase timings and the
    checkpoint size come from it.  (A second untraced crawl after the
    replay, for an equally warm JVM, did not fit the time budget.)"""
    import workloads
    from replay import Tracer, layer_metrics, replay_call

    tr = Tracer(spark.sparkContext, f"{wl.name}-{record['seed']}")
    counts = defaultdict(float)
    t0 = time.perf_counter()
    ck = workloads.fresh_dir("replay") if wl.steps else None
    try:
        # the same calls the timed crawl makes; only the replay calls are
        # timed, as only run_crawl is on the untraced side
        for i in range(1, cfg.max_rounds + 1) if wl.steps else [cfg.max_rounds]:
            pages, seen = replay_call(
                spark, tr, counts, corpus, inputs.seed_urls, replace(cfg, max_rounds=i, checkpoint_dir=ck), policy
            )
        replay_wall = time.perf_counter() - t0
        got = workloads.frame_outputs(pages, seen)
    finally:
        if ck:
            shutil.rmtree(ck, ignore_errors=True)

    untraced = crawl[-1].outputs
    record["replay_errors"] = workloads.oracles.compare("replay seen", got[1], untraced[1]) + (
        workloads.oracles.compare("replay pages", got[0], untraced[0])
    )
    record["replay_s"] = replay_wall
    record["spans"] = tr.spans
    rounds = sum(c.rounds for c in crawl)
    out = layer_metrics(tr, counts)
    out["frontier.jobs_per_round"], out["frontier.stages_per_round"], out["frontier.tasks_per_round"] = (
        n / rounds for n in jobs
    )
    out["frontier.partitions_end"] = crawl[-1].partitions_end
    # the untraced crawl's checkpoint directory (the replay's own commits
    # write differently partitioned frames)
    nbytes, nfiles = crawl[-1].ckpt or (0, 0)
    out["storage.bytes_written"] = nbytes
    out["storage.files_written"] = nfiles
    out["storage.ckpt_bytes_per_url"] = nbytes / crawl[-1].urls
    phase = defaultdict(float)
    for c in crawl:
        for _, name, sec in c.timings:
            phase[name] += sec
    for p in PHASES:
        out[f"frontier.phase.{p}_s"] = phase[p]
    out["trace.overhead_s"] = replay_wall - sum(c.wall for c in crawl)
    return out


if __name__ == "__main__":
    sys.exit(main())
