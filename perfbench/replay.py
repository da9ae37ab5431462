"""Traced replay of ``frontier.run_crawl``: the same rounds, one layer call
at a time.

Each public function the round loop composes is called with the arguments
run_crawl would give it, under its own Spark job group, and forced with an
eager ``localCheckpoint`` — so a span's duration is that layer's self time
and no later span recomputes it.  Spans (id, name, start, end, parent, run
id, job count) stay in memory; the caller writes them out when the run ends.

The replay covers the configurations the benchmark runs (depth 0 or 1,
Bloom on or off, robots, host policy, parquet snapshots with resume and
persisted Bloom aux).  Its pages and seen set are compared with the
untraced crawl's, so a drift between this file and run_crawl shows up as a
failed run, not as wrong numbers.
"""

from __future__ import annotations

import math
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from frontier_engine import frontier as frontier_mod
from frontier_engine import seen as seenmod
from frontier_engine.canonicalize import surt_key_udf, valid_url_col
from frontier_engine.extract import content_hash_col, with_extractions
from frontier_engine.fetch import fetch_via_pages_table
from frontier_engine.metrics import round_metrics
from frontier_engine.politeness import join_host_policy, rank_and_quota, robots_blocked_col, salted_repartition
from frontier_engine.storage import SnapshotStore

FRONTIER_COLS = frontier_mod.FRONTIER_COLS


def job_counts(sc, job_ids) -> tuple[int, int, int]:
    """(jobs, stages run, tasks completed) for ``job_ids``."""
    tracker = sc.statusTracker()
    stages: dict[int, int] = {}
    for j in job_ids:
        info = tracker.getJobInfo(j)
        for s in info.stageIds if info else ():
            si = tracker.getStageInfo(s)
            if si is not None and si.numCompletedTasks > 0:
                stages[s] = si.numCompletedTasks
    return len(job_ids), len(stages), sum(stages.values())


@contextmanager
def counted_jobs(sc, group: str):
    """Collect the ids of every job started inside the block: the block's
    own job group plus jobs with no group, which is where run_crawl's
    checkpoint threads land (pinned-thread mode does not pass job groups
    to threads)."""
    tracker = sc.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    ids: set[int] = set()
    sc.setJobGroup(group, group)
    try:
        yield ids
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        ids |= set(tracker.getJobIdsForGroup(group))
        ids |= set(tracker.getJobIdsForGroup(None)) - before


class Tracer:
    """In-memory span recorder; one Spark job group per span."""

    def __init__(self, sc, run_id: str):
        self.sc, self.run_id = sc, run_id
        self.spans: list[dict] = []
        self._stack: list[str] = []
        self._next = 0

    @contextmanager
    def span(self, name: str, **attrs):
        sid = f"{self.run_id}/{self._next}"
        self._next += 1
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "run_id": self.run_id, **attrs}
        self._stack.append(sid)
        self.sc.setJobGroup(sid, name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1], "parent span")
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            rec["jobs"] = len(self.sc.statusTracker().getJobIdsForGroup(sid))
            self.spans.append(rec)

    def force(self, name: str, df, **attrs):
        with self.span(name, **attrs):
            return df.localCheckpoint(eager=True)

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)


def _union(parts, empty):
    if not parts:
        return empty
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def replay_call(spark, tr: Tracer, c: dict, corpus, seed_urls, cfg, host_policy=None):
    """One run_crawl(spark, corpus, seed_urls, cfg, host_policy) call, traced.
    ``c`` is a defaultdict(float) of row counts the per-layer ratios need.
    Returns (pages, seen) DataFrames."""
    store = SnapshotStore(spark, cfg.checkpoint_dir) if cfg.checkpoint_dir else None
    empty_seen = spark.createDataFrame([], "url_key string, url string, content_hash string")
    bloom_meta = {"n_shards": cfg.bloom_shards, "m_bits": cfg.bloom_bits_per_shard}

    def build(df):
        return seenmod.build_bloom_shards(df, n_shards=cfg.bloom_shards, m_bits=cfg.bloom_bits_per_shard)

    start_round = 0
    pages_parts, seen_parts = [], []
    resumed_bloom = None
    if store is not None and (last := store.latest_round()) is not None:
        with tr.span("storage.resume_read"):
            frontier = store.read(last, "frontier").localCheckpoint(eager=True)
            pages_parts = [store.read(r, "pages") for r in range(last + 1) if store.has(r, "pages")]
            seen_rounds = [
                (r, store.read(r, "seen").localCheckpoint(eager=True))
                for r in range(last + 1) if store.has(r, "seen")
            ]
            seen_parts = [df for _, df in seen_rounds]
            for r in range(last + 1):
                if store.has(r, "metrics"):
                    store.read(r, "metrics")
        if cfg.use_bloom:
            resumed_round = -1
            for r in range(last, -1, -1):
                with tr.span("storage.read_aux"):
                    aux = store.read_aux(r, "bloom", expect_meta=bloom_meta)
                    if aux is not None:
                        resumed_bloom, resumed_round = aux.localCheckpoint(eager=True), r
                if resumed_bloom is not None:
                    break
            if resumed_bloom is not None:
                for r, df in seen_rounds:
                    if r > resumed_round:
                        delta = tr.force("seen.bloom_build", build(df))
                        resumed_bloom = tr.force("seen.merge", seenmod.merge_shards(resumed_bloom, delta))
        start_round = last + 1
    else:
        frontier = tr.force("canonicalize.seed_ingest", frontier_mod.seeds_to_frontier(spark, seed_urls))
        c["canon_keys"] += len(seed_urls)

    now = start_round * cfg.round_seconds
    bloom = None
    for round_no in range(start_round, cfg.max_rounds):
        with tr.span("frontier.round", round=round_no) as rspan:
            seen_df = _union(seen_parts, empty_seen)
            pending = frontier.filter(F.col("status").isin("pending", "retry") & (F.col("not_before") <= F.lit(now)))
            with tr.span("frontier.pending_check"):
                probe = (
                    frontier.filter(F.col("status").isin("pending", "retry"))
                    .agg(
                        F.count(F.when(F.col("not_before") <= F.lit(now), True)).alias("n_eligible"),
                        F.min("not_before").alias("min_nb"),
                    )
                    .first()
                )
            if probe["n_eligible"] == 0:
                rspan["idle"] = True
                if probe["min_nb"] is None:
                    break
                now = max(now + cfg.round_seconds,
                          math.ceil(probe["min_nb"] / cfg.round_seconds) * cfg.round_seconds)
                continue

            # seen gate: Bloom probe, then the exact confirm join
            if cfg.use_bloom and bloom is None:
                bloom = resumed_bloom if resumed_bloom is not None else tr.force("seen.bloom_build", build(seen_df))
                resumed_bloom = None
            if cfg.use_bloom:
                seen_gate = seen_df
                if cfg.prune_seen_shards:
                    seen_gate = seenmod.with_shard_id(seen_df, "url_key", cfg.bloom_shards)
                flagged = tr.force("seen.probe", seenmod.bloom_maybe_seen(pending, bloom, n_shards=cfg.bloom_shards))
                negatives = flagged.filter(~F.col("maybe_seen")).drop("maybe_seen")
                positives = flagged.filter(F.col("maybe_seen")).drop("maybe_seen")
                with tr.span("seen.filter_unseen"):
                    seen_side = seen_gate
                    if cfg.prune_seen_shards:
                        pos_shards = [
                            r[0] for r in seenmod.with_shard_id(positives.select("url_key"), "url_key", cfg.bloom_shards)
                            .select("shard_id").distinct().collect()
                        ]
                        if len(pos_shards) < cfg.bloom_shards:
                            seen_side = seen_gate.filter(F.col("shard_id").isin(pos_shards))
                    confirmed = positives.join(seen_side.select("url_key").distinct(), "url_key", "left_anti")
                    confirmed = confirmed.localCheckpoint(eager=True)
                    unseen = negatives.unionByName(confirmed).localCheckpoint(eager=True)
                with tr.span("trace.count"):
                    n_probed, n_pos = flagged.agg(F.count(F.lit(1)), F.sum(F.col("maybe_seen").cast("long"))).first()
                    c["probed"] += n_probed
                    c["positives"] += n_pos or 0
                    c["positives_unseen"] += confirmed.count()
            else:
                unseen = tr.force("seen.filter_unseen", seenmod.filter_unseen(pending, seen_df))

            # politeness: policy + robots flag, per-host rank/quota, salting
            with tr.span("politeness.join_host_policy"):
                cand = join_host_policy(unseen, host_policy)
                if cfg.honor_robots:
                    cand = cand.withColumn("__robots_blocked", robots_blocked_col())
                cand = cand.localCheckpoint(eager=True)
            blocked_keys = None
            cand_ok = cand
            if cfg.honor_robots:
                blocked_keys = cand.filter(F.col("__robots_blocked")).select("url_key")
                cand_ok = cand.filter(~F.col("__robots_blocked")).drop("__robots_blocked")
            ranked = tr.force(
                "politeness.rank_and_quota", rank_and_quota(cand_ok, cfg.round_seconds, cfg.max_per_host_per_round)
            )
            batch = tr.force(
                "politeness.salted_repartition", salted_repartition(ranked, cfg.n_partitions, cfg.salt_buckets)
            )
            with tr.span("trace.count"):
                c["candidates"] += cand_ok.count()
                sizes = [r[1] for r in batch.groupBy(F.spark_partition_id()).count().collect()]
                c["selected"] += sum(sizes)
                if sizes:
                    c["skew_sum"] += max(sizes) / statistics.median(sizes)
                    c["skew_rounds"] += 1

            # fetch + extract
            fetched = tr.force("fetch.fetch_via_pages_table", fetch_via_pages_table(batch, corpus))
            ok = fetched.filter(F.col("fetch_status") == "fetched")
            extracted = tr.force(
                "extract.with_extractions",
                with_extractions(
                    ok.select("url", "url_key", "host", "depth", "score", "seed_index", "host_rank", "slot_ts", "html")
                )
                .withColumn("content_hash", content_hash_col(F.col("html")))
                .withColumn("round", F.lit(round_no))
                .withColumn("fetch_ts", F.lit(now) + F.col("slot_ts")),
            )
            with tr.span("trace.count"):
                n_fetch, n_ok, n_bytes = fetched.agg(
                    F.count(F.lit(1)),
                    F.sum((F.col("fetch_status") == "fetched").cast("long")),
                    F.sum(F.coalesce(F.length("html"), F.lit(0))),
                ).first()
                c["fetch_rows"] += n_fetch
                c["ok_pages"] += n_ok or 0
                c["html_bytes"] += n_bytes or 0

            # seen delta and next frontier (run_crawl's lazy round glue)
            failed = fetched.filter(F.col("fetch_status") == "failed")
            exhausted = failed.filter(F.col("attempt") + 1 >= cfg.max_attempts)
            new_seen = (
                extracted.select("url_key", "url", "content_hash")
                .unionByName(exhausted.select("url_key", "url", F.lit(None).cast(StringType()).alias("content_hash")))
                .dropDuplicates(["url_key"])
            )
            seen_df = seen_df.unionByName(new_seen)
            fetched_keys = extracted.select("url_key")
            retry_rows = failed.filter(F.col("attempt") + 1 < cfg.max_attempts).select(
                "url", "url_key", "host", "depth", "score",
                F.lit("retry").alias("status"),
                (F.col("attempt") + 1).alias("attempt"),
                (F.lit(now) + F.lit(cfg.retry_backoff) * F.pow(F.lit(2.0), F.col("attempt"))).alias("not_before"),
                "seed_index",
                F.col("discovered_ts"),
            )
            leftover = frontier.filter(F.col("status").isin("pending", "retry") & (F.col("not_before") > F.lit(now)))
            exclude = batch.select("url_key").unionByName(seen_df.select("url_key"))
            if blocked_keys is not None:
                exclude = exclude.unionByName(blocked_keys)
            not_selected = pending.join(exclude, "url_key", "left_anti").select(*FRONTIER_COLS)
            next_frontier = (
                leftover.select(*FRONTIER_COLS).unionByName(not_selected).unionByName(retry_rows.select(*FRONTIER_COLS))
            )
            if cfg.max_depth > 0:
                # the canonicalize layer alone, over the raw link URLs the
                # expansion below will key (a probe: its output is unused)
                raw = tr.force(
                    "trace.link_urls",
                    extracted.filter(F.col("depth") + 1 <= cfg.max_depth)
                    .select(F.explode("links.url").alias("url"))
                    .filter(valid_url_col(F.col("url")))
                    .distinct(),
                )
                keys = tr.force("canonicalize.surt_key", raw.select(surt_key_udf("url").alias("k")))
                with tr.span("trace.count"):
                    c["canon_link_keys"] += keys.count()
                discovered = tr.force("frontier.expand_links", frontier_mod._expand_links(extracted, cfg, now))
                known = seen_df.select("url_key").unionByName(next_frontier.select("url_key")).unionByName(fetched_keys)
                fresh = discovered.join(known, "url_key", "left_anti")
                next_frontier = next_frontier.unionByName(fresh.select(*FRONTIER_COLS))

            page_rows = extracted.select(
                "url", "url_key", "host", "depth", "round", "host_rank", "slot_ts", "fetch_ts",
                "seed_index", "html", F.col("extracted_text").alias("text"),
                "links", "images", "tables", "page_metadata", "json_ld", "content_hash",
            )
            m = tr.force("metrics.round_metrics", round_metrics(fetched, round_no, deduped_count=0, snapshot_id=None))

            if store is not None:
                new_seen = tr.force("frontier.seen_delta", new_seen)
                next_frontier = tr.force("frontier.next_frontier", next_frontier)
                with tr.span("storage.commit_round"):
                    store.commit_round(
                        round_no,
                        {"frontier": next_frontier, "seen": new_seen, "pages": page_rows, "metrics": m},
                        extra={"virtual_now": now, "metrics_format": "delta"},
                    )
                with tr.span("storage.read"):
                    next_frontier = store.read(round_no, "frontier").localCheckpoint(eager=True)
                    seen_parts.append(store.read(round_no, "seen").localCheckpoint(eager=True))
                    pages_parts.append(store.read(round_no, "pages"))
                    store.read(round_no, "metrics")
                if cfg.use_bloom and bloom is not None:
                    bloom = tr.force("seen.merge", seenmod.merge_shards(bloom, build(seen_parts[-1])))
                    if cfg.persist_bloom_every and round_no % cfg.persist_bloom_every == 0:
                        with tr.span("storage.write_aux"):
                            store.write_aux(round_no, "bloom", bloom, meta=bloom_meta)
            else:
                seen_ck = tr.force("frontier.seen_delta", new_seen)
                if cfg.use_bloom and bloom is not None:
                    bloom = tr.force("seen.merge", seenmod.merge_shards(bloom, build(seen_ck)))
                next_frontier = tr.force("frontier.next_frontier", next_frontier)
                seen_parts.append(seen_ck)
                pages_parts.append(page_rows)

            if len(seen_parts) >= 16:
                seen_parts = [tr.force("frontier.compact", _union(seen_parts, empty_seen))]
            frontier = next_frontier
            now += cfg.round_seconds

    return _union(pages_parts, None), _union(seen_parts, empty_seen)


# -- per-layer metrics from spans ----------------------------------------------

# span names whose summed duration is one per-layer metric
SPAN_METRICS = {
    "extract.s": ["extract.with_extractions"],
    "fetch.join_s": ["fetch.fetch_via_pages_table"],
    "canonicalize.seed_ingest_s": ["canonicalize.seed_ingest"],
    "seen.bloom_build_s": ["seen.bloom_build"],
    "seen.probe_s": ["seen.probe"],
    "seen.filter_unseen_s": ["seen.filter_unseen"],
    "seen.merge_s": ["seen.merge"],
    "politeness.rank_quota_s": [
        "politeness.join_host_policy", "politeness.rank_and_quota", "politeness.salted_repartition",
    ],
    "frontier.update_s": [
        "frontier.pending_check", "frontier.seen_delta", "frontier.next_frontier",
        "frontier.expand_links", "frontier.compact",
    ],
    "storage.commit_s": ["storage.commit_round"],
    "storage.read_s": ["storage.read"],
    "storage.resume_read_s": ["storage.resume_read"],
    "storage.aux_write_s": ["storage.write_aux"],
    "storage.aux_read_s": ["storage.read_aux"],
    "metrics.round_metrics_s": ["metrics.round_metrics"],
}


def layer_metrics(tr: Tracer, c: dict) -> dict[str, float]:
    out = {k: sum(tr.total(n) for n in names) for k, names in SPAN_METRICS.items()}
    ext = out["extract.s"]
    out["extract.pages_per_s"] = c["ok_pages"] / ext if ext else 0.0
    out["extract.html_mb_per_s"] = c["html_bytes"] / 1e6 / ext if ext else 0.0
    canon_s = out["canonicalize.seed_ingest_s"] + tr.total("canonicalize.surt_key")
    out["canonicalize.keys_per_s"] = (c["canon_keys"] + c["canon_link_keys"]) / canon_s if canon_s else 0.0
    out["fetch.ok_frac"] = c["ok_pages"] / c["fetch_rows"] if c["fetch_rows"] else 0.0
    out["seen.bloom_positive_frac"] = c["positives"] / c["probed"] if c["probed"] else 0.0
    # 0 when nothing probed positive; bloom_positives tells 0/0 apart
    out["seen.bloom_false_pos_frac"] = c["positives_unseen"] / c["positives"] if c["positives"] else 0.0
    out["seen.bloom_positives"] = c["positives"]
    out["politeness.selected_frac"] = c["selected"] / c["candidates"] if c["candidates"] else 0.0
    out["politeness.partition_skew"] = c["skew_sum"] / c["skew_rounds"] if c["skew_rounds"] else 0.0
    # round wall minus every span inside it: the driver-side plan building
    # and lazy glue no layer call accounts for
    by_id = {s["id"]: s for s in tr.spans}
    child_s: dict[str, float] = defaultdict(float)
    for s in tr.spans:
        if s["parent"] in by_id:
            child_s[s["parent"]] += s["end"] - s["start"]
    out["frontier.glue_s"] = sum(
        s["end"] - s["start"] - child_s[s["id"]] for s in tr.spans if s["name"] == "frontier.round"
    )
    return out
