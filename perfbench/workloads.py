"""Benchmark workloads: seeded inputs cached on disk, the crawl each one
runs, and the closed-loop driver that times it and checks every output.

Inputs are a pure function of (size, seed) and are generated once per
checkout into ``perfbench/.cache``; set-up time never includes generation.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time
from dataclasses import dataclass, replace

from frontier_engine import synth
from frontier_engine.frontier import CrawlConfig, run_crawl

import hostinfo
import oracles
from replay import counted_jobs

HERE = os.path.dirname(os.path.abspath(__file__))
CACHE = os.path.join(HERE, ".cache")
WORK = os.path.join(HERE, ".work")  # checkpoint directories, removed after use


@dataclass(frozen=True)
class Workload:
    name: str
    n_pages: int
    n_seeds: int  # gen_seed_lines' n_seeds; parsed lines add dups and 404s
    rounds: int  # max_rounds of one crawl (the horizon)
    polite: bool  # gen_host_policy(20), robots honoured, 30 s rounds
    bloom: bool
    depth: int = 0
    steps: bool = False  # one run_crawl call per round, resuming from parquet

    def config(self, n_cpus: int) -> CrawlConfig:
        # partitioning as in bench.py's crawl line: one fetch partition per
        # core, 32 Bloom shards
        cfg = CrawlConfig(
            max_depth=self.depth, max_rounds=self.rounds, use_bloom=self.bloom,
            n_partitions=n_cpus, bloom_shards=32,
        )
        if self.polite:
            return replace(cfg, round_seconds=30.0, honor_robots=True)
        return replace(cfg, round_seconds=1e9)  # quota far above the frontier

    def scaled(self, n_pages: int, n_seeds: int) -> Workload:
        return replace(self, n_pages=n_pages, n_seeds=n_seeds)


HORIZON = 2
# Sizes fit the benchmark's time budget of about 70 s per run on a 4-vCPU
# VM, 35-45 s of which is JVM start, warm-up and shutdown.  A round has a
# fixed cost of ~5 s there, so bfs_bulk is round-bound at every size that
# fits: its per-URL layers (extract, canonicalize, Bloom probe, fetch join)
# take about 45% of round time at 2k-5k pages and 56% at 10k, where a run
# no longer fits the budget when neighbours steal CPU.
WORKLOADS = {
    w.name: w
    for w in (
        Workload("bfs_bulk", 2000, 1000, rounds=4, polite=False, bloom=True, depth=1),
        Workload("polite_horizon", 2000, 1000, rounds=HORIZON, polite=True, bloom=False),
        Workload("resume_steps", 2000, 1000, rounds=HORIZON, polite=True, bloom=True, steps=True),
    )
}


@dataclass
class Inputs:
    corpus_dir: str
    seed_urls: list[str]
    policy_rows: list[dict] | None
    corpus_urls: set[str]
    depth1: tuple[set[str], set[str]] | None  # (seen keys, fetched urls)


def load_inputs(wl: Workload, seed: int) -> tuple[Inputs, float]:
    """Inputs for (wl, seed), generating and caching them on first use.
    Returns the inputs and the seconds spent generating (0 when cached)."""
    d = os.path.join(CACHE, f"p{wl.n_pages}-s{wl.n_seeds}-seed{seed}")
    t0 = time.perf_counter()
    if not os.path.exists(os.path.join(d, "meta.json")):
        _generate(d, wl, seed)
    gen_sec = time.perf_counter() - t0
    with open(os.path.join(d, "meta.json")) as fh:
        meta = json.load(fh)
    depth1 = None
    if wl.depth:
        exp = meta["depth1"]
        depth1 = (set(exp["seen_keys"]), set(exp["fetched_urls"]))
    return (
        Inputs(
            corpus_dir=os.path.join(d, "corpus"),
            seed_urls=meta["seed_urls"],
            policy_rows=synth.gen_host_policy(20) if wl.polite else None,
            corpus_urls=set(meta["corpus_urls"]),
            depth1=depth1,
        ),
        gen_sec,
    )


def _generate(d: str, wl: Workload, seed: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = synth.gen_pages(wl.n_pages, seed=seed, with_text=False)
    seed_urls = synth.parse_seed_lines(synth.gen_seed_lines(wl.n_pages, wl.n_seeds, seed=seed))
    first_html: dict[str, bytes] = {}
    for r in rows:  # warc_ts rises with row index: first row = earliest capture
        first_html.setdefault(r["url"], r["html"])
    seen_keys, fetched = oracles.depth1_expectation(seed_urls, first_html)
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "corpus"))
    table = pa.table(
        {
            "url": pa.array([r["url"] for r in rows], pa.string()),
            "warc_ts": pa.array([r["warc_ts"] for r in rows], pa.timestamp("us", tz="UTC")),
            "html": pa.array([r["html"] for r in rows], pa.binary()),
            "text": pa.array([None] * len(rows), pa.string()),
            "lang": pa.array([r["lang"] for r in rows], pa.string()),
        }
    )
    pq.write_table(table, os.path.join(tmp, "corpus", "part-00000.parquet"))
    meta = {
        "seed_urls": seed_urls,
        "corpus_urls": sorted(first_html),
        "depth1": {"seen_keys": sorted(seen_keys), "fetched_urls": sorted(fetched)},
    }
    with open(os.path.join(tmp, "meta.json"), "w") as fh:
        json.dump(meta, fh)
    shutil.rmtree(d, ignore_errors=True)
    os.replace(tmp, d)


def fresh_dir(tag: str) -> str:
    d = os.path.join(WORK, f"{tag}-{os.getpid()}")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    return d


def dir_bytes(d: str) -> tuple[int, int]:
    """(bytes, files) under ``d``."""
    n = files = 0
    for root, _, names in os.walk(d):
        for name in names:
            n += os.path.getsize(os.path.join(root, name))
            files += 1
    return n, files


# -- outputs and their checks -------------------------------------------------


def frame_outputs(pages, seen) -> tuple[list[tuple], set[str]]:
    """(fetch order [(round, host, host_rank, url)], seen keys) of a crawl."""
    order = sorted(tuple(r) for r in pages.select("round", "host", "host_rank", "url").collect())
    return order, {r[0] for r in seen.select("url_key").collect()}


class Checker:
    """Expected outputs of one workload's crawl, by horizon."""

    def __init__(self, wl: Workload, inputs: Inputs, cfg: CrawlConfig):
        self.wl, self.inputs = wl, inputs
        if wl.polite:
            policy = {r["host"]: (r["crawl_delay"], r["robots_rules"]) for r in inputs.policy_rows}
            self.fetched, self.seen_round = oracles.simulate_politeness(
                inputs.seed_urls, inputs.corpus_urls, policy, cfg.round_seconds,
                cfg.max_rounds, cfg.max_attempts, cfg.retry_backoff,
            )

    def check(self, pages: list[tuple], seen: set[str], horizon: int) -> list[str]:
        if self.wl.depth:
            want_seen, want_urls = self.inputs.depth1
            return oracles.compare("seen", seen, want_seen) + oracles.compare(
                "fetched urls", {p[3] for p in pages}, want_urls
            )
        want_pages = sorted(p for p in self.fetched if p[0] < horizon)
        want_seen = {k for k, r in self.seen_round.items() if r < horizon}
        return oracles.compare("seen", seen, want_seen) + oracles.compare(
            "fetch order", pages, want_pages
        )


@dataclass
class CallRecord:
    wall: float  # seconds inside run_crawl
    cpu: float  # CPU seconds of the Spark process tree inside run_crawl
    outputs: tuple[list[tuple], set[str]]  # frame_outputs of the result
    errors: list[str]
    rounds: int  # CrawlResult.rounds
    timings: list  # CrawlResult.timings
    partitions_end: int  # of CrawlResult.frontier
    job_ids: set[int]  # Spark jobs started inside run_crawl
    ckpt: tuple[int, int] | None = None  # (bytes, files) of the checkpoint dir after the last step

    @property
    def urls(self) -> int:
        return len(self.outputs[1])


def run_one_crawl(spark, wl: Workload, inputs: Inputs, corpus, policy, cfg, checker) -> list[CallRecord]:
    """One crawl to the horizon: a single run_crawl call, or — for a
    stepped workload — one call per round, step i with max_rounds=i, each
    resuming from the latest manifest in a fresh checkpoint directory.
    (Resuming at latest_round()+2 would stall: a round holding only
    backoff-delayed retries commits no manifest.)"""
    ck = fresh_dir(wl.name) if wl.steps else None
    horizons = range(1, cfg.max_rounds + 1) if wl.steps else [cfg.max_rounds]
    out = []
    try:
        for i in horizons:
            call_cfg = replace(cfg, max_rounds=i, checkpoint_dir=ck)
            # the job ids cover run_crawl alone, not the output collects
            with counted_jobs(spark.sparkContext, "timed-crawl") as ids:
                cpu0, t0 = hostinfo.tree_cpu_seconds(), time.perf_counter()
                res = run_crawl(spark, corpus, inputs.seed_urls, call_cfg, host_policy=policy)
                wall, cpu = time.perf_counter() - t0, hostinfo.tree_cpu_seconds() - cpu0
            pages, seen = frame_outputs(res.pages, res.seen)
            out.append(
                CallRecord(
                    wall, cpu, (pages, seen), checker.check(pages, seen, i), res.rounds, res.timings,
                    res.frontier.rdd.getNumPartitions(), ids,
                )
            )
        if ck:
            out[-1].ckpt = dir_bytes(ck)
    finally:
        if ck:
            shutil.rmtree(ck, ignore_errors=True)
    return out


def summarize(crawls: list[list[CallRecord]]) -> dict:
    """End-to-end figures of the timed crawls.  A crawl's URL count is its
    seen set after its last call; its wall time is the sum of its calls."""
    walls = [c.wall for crawl in crawls for c in crawl]
    urls = sum(crawl[-1].urls for crawl in crawls)
    return {
        "urls_per_s": urls / sum(walls),
        "urls_per_cpu_s": urls / sum(c.cpu for crawl in crawls for c in crawl),
        "step_p50_s": statistics.median(walls),
        "steps": len(walls),
        "crawls": len(crawls),
        "urls": urls,
        "ckpt_bytes_files": [crawl[-1].ckpt for crawl in crawls],
    }
