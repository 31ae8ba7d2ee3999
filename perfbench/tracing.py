"""Traced run: spans around the program's public functions, Spark event-log
accounting, and isolated replays of each layer at one round.

Nothing here runs in a timed run. The traced run wraps module attributes
from the outside (the program is unchanged), reads the uncompressed event log
the session writes, and replays layers on inputs read back from the snapshot
store with `as_of_round`.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import threading
import time


class SpanRecorder:
    """In-memory spans: name, start, end, parent id. Written out at the end."""

    def __init__(self):
        self.spans: list[dict] = []
        self._local = threading.local()

    @contextlib.contextmanager
    def span(self, name: str):
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": stack[-1] if stack else None,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.time()

    def wrap(self, name: str, fn):
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def children(self, parent: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == parent["id"]]


@contextlib.contextmanager
def instrumented(rec: SpanRecorder):
    """Wrap the layer entry points as module/class attributes for the block."""
    import cis455crawler_spark.plans.crawl as crawl_mod
    from cis455crawler_spark.sources.tables import SnapshotStore

    targets = [
        (crawl_mod, "run_crawl", "plans.crawl.run_crawl"),
        (crawl_mod, "run_round", "plans.crawl.run_round"),
        (crawl_mod, "build_robots_df", "functions.robots.build_robots_df"),
        (SnapshotStore, "begin_commit", "sources.tables.begin_commit"),
        (SnapshotStore, "finish_commit", "sources.tables.finish_commit"),
        (SnapshotStore, "read", "sources.tables.read"),
    ]
    saved = [(owner, attr, getattr(owner, attr)) for owner, attr, _ in targets]
    for (owner, attr, name), (_, _, fn) in zip(targets, saved):
        setattr(owner, attr, rec.wrap(name, fn))
    try:
        yield
    finally:
        for owner, attr, fn in saved:
            setattr(owner, attr, fn)


# -- event log -------------------------------------------------------------------


def load_event_log(event_dir: str) -> tuple[list[dict], list[dict]]:
    """(jobs, tasks) from the single uncompressed event log in event_dir.
    Times are epoch seconds; each task carries its job's id and group."""
    paths = [p for p in glob.glob(os.path.join(event_dir, "*")) if os.path.isfile(p)]
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log in {event_dir}, found {paths}")
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    raw_tasks: list[dict] = []
    with open(paths[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = {
                    "id": jid,
                    "start": ev["Submission Time"] / 1000,
                    "end": None,
                    "group": (ev.get("Properties") or {}).get("spark.jobGroup.id"),
                }
                for sid in ev["Stage IDs"]:
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000
            elif kind == "SparkListenerTaskEnd":
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                raw_tasks.append(
                    {
                        "stage": ev["Stage ID"],
                        "start": info["Launch Time"] / 1000,
                        "end": info["Finish Time"] / 1000,
                        "run_s": m.get("Executor Run Time", 0) / 1000,
                        "gc_s": m.get("JVM GC Time", 0) / 1000,
                        "input_bytes": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                        "output_bytes": (m.get("Output Metrics") or {}).get(
                            "Bytes Written", 0
                        ),
                        "shuffle_write_bytes": (m.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0
                        ),
                        "shuffle_read_records": sr.get("Total Records Read", 0),
                    }
                )
    tasks = []
    for t in raw_tasks:
        job = jobs.get(stage_job.get(t["stage"]))
        if job is not None:
            tasks.append({**t, "job": job["id"], "group": job["group"]})
    return list(jobs.values()), tasks


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of intervals."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def crawl_layer_metrics(
    rec: SpanRecorder, jobs: list[dict], tasks: list[dict], cores: int
) -> dict[str, float]:
    """plans.crawl / sources.tables / functions.robots numbers of the traced
    crawl, from its spans and the event-log jobs and tasks inside them."""
    rounds = rec.named("plans.crawl.run_round")
    out: dict[str, float] = {}
    per_round = []
    for r in rounds:
        lo, hi = r["start"], r["end"]
        rjobs = [j for j in jobs if j["group"] is None and lo <= j["start"] <= hi]
        ids = {j["id"] for j in rjobs}
        rtasks = [t for t in tasks if t["job"] in ids]
        kids = rec.children(r)
        child_iv = [(s["start"], s["end"]) for s in kids] + [
            (j["start"], j["end"] or hi) for j in rjobs
        ]
        begins = [s for s in kids if s["name"] == "sources.tables.begin_commit"]
        finishes = [s for s in kids if s["name"] == "sources.tables.finish_commit"]
        per_round.append(
            {
                "wall": hi - lo,
                "self": (hi - lo) - _covered(child_iv, lo, hi),
                "jobs": len(rjobs),
                "tasks": len(rtasks),
                "run_s": sum(t["run_s"] for t in rtasks),
                "gc_s": sum(t["gc_s"] for t in rtasks),
                "shuffle_mb": sum(t["shuffle_write_bytes"] for t in rtasks) / 1e6,
                "written_mb": sum(t["output_bytes"] for t in rtasks) / 1e6,
                "commit_s": (finishes[-1]["end"] - begins[0]["start"])
                if begins and finishes
                else 0.0,
                "read_s": sum(
                    s["end"] - s["start"] for s in kids if s["name"] == "sources.tables.read"
                ),
            }
        )
    wall = sum(p["wall"] for p in per_round)
    out["plans.crawl.round_self_s"] = _mean(p["self"] for p in per_round)
    out["plans.crawl.jobs_per_round"] = _mean(p["jobs"] for p in per_round)
    out["plans.crawl.tasks_per_round"] = _mean(p["tasks"] for p in per_round)
    out["plans.crawl.busy_share"] = (
        sum(p["run_s"] for p in per_round) / (wall * cores) if wall else 0.0
    )
    out["plans.crawl.gc_s"] = _mean(p["gc_s"] for p in per_round)
    out["plans.crawl.shuffle_mb"] = _mean(p["shuffle_mb"] for p in per_round)
    out["sources.tables.commit_s"] = _mean(p["commit_s"] for p in per_round)
    out["sources.tables.read_s"] = _mean(p["read_s"] for p in per_round)
    out["sources.tables.written_mb_per_round"] = _mean(p["written_mb"] for p in per_round)

    # build_robots_df only plans the parse; run_crawl's robots.count() right
    # after it is the job that scans every page, so it counts into the span
    (build,) = rec.named("functions.robots.build_robots_df")
    after = [j for j in jobs if j["group"] is None and j["start"] >= build["end"]]
    scan = min(after, key=lambda j: j["start"]) if after else None
    out["functions.robots.build_s"] = (build["end"] - build["start"]) + (
        (scan["end"] - scan["start"]) if scan else 0.0
    )
    return out


# -- layer replays -----------------------------------------------------------------


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Replayer:
    """Runs one layer at a time on cached inputs, each under its own job group,
    and times the forced (noop-sink) action."""

    def __init__(self, spark):
        self.spark = spark
        self.times: dict[str, float] = {}
        self._cached = []

    def cache(self, df):
        df = df.cache()
        df.count()
        self._cached.append(df)
        return df

    def time(self, name: str, df) -> None:
        sc = self.spark.sparkContext
        sc.setJobGroup(f"replay:{name}", name)
        try:
            t0 = time.perf_counter()
            _force(df)
            self.times[name] = self.times.get(name, 0.0) + time.perf_counter() - t0
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    def release(self) -> None:
        for df in self._cached:
            df.unpersist()


def replay_round(spark, store, pages, wl, cfg, k: int) -> tuple[dict, dict]:
    """Replay round k's layers. Returns (timings by layer, counts)."""
    from pyspark.sql import functions as F

    from cis455crawler_spark.functions.fetch import route_fetch
    from cis455crawler_spark.functions.html import parse_page_udf
    from cis455crawler_spark.functions.robots import build_robots_df, crawl_allowed
    from cis455crawler_spark.functions.urls import (
        host_of,
        resolve_base_parts,
        resolve_href,
        resolve_href_standard,
        sha1_hex,
        url_hash_bucket,
    )
    from cis455crawler_spark.operators.dedup import (
        anti_join_seen,
        build_bloom_sidecar,
        split_by_bloom,
    )
    from cis455crawler_spark.operators.scheduler import host_budget, pop_host_batches
    from cis455crawler_spark.plans.crawl import parsed_latest

    rp = Replayer(spark)
    counts: dict[str, float] = {}
    nb = cfg.num_buckets
    try:
        frontier = rp.cache(
            store.read("frontier", as_of_round=k - 1)
            .groupBy("url")
            .agg(F.min("depth").alias("depth"))
        )
        seen = store.read("seen", as_of_round=k - 1)
        if seen is not None:
            seen = rp.cache(seen.select("url_hash", "url", "bucket"))

        # functions.urls, part 1: the url keys every candidate carries
        def keyed_of(df):
            df = df.withColumn("url_hash", sha1_hex("url")).withColumn("host", host_of("url"))
            return df.withColumn("bucket", url_hash_bucket("url_hash", nb))

        rp.time("functions.urls.resolve", keyed_of(frontier))
        keyed = rp.cache(keyed_of(frontier))
        n_cand = keyed.count()

        # operators.dedup: the exact anti-join (through the bloom prefilter
        # when the workload uses it) and the bloom maybe-seen share
        sidecar = None
        if seen is not None:
            sidecar = store.read("bloom", as_of_round=k - 1) if cfg.use_bloom else None
            if sidecar is None:
                probe_sidecar = rp.cache(build_bloom_sidecar(seen, nb, cfg.bloom_bucket_bits))
            else:
                probe_sidecar = sidecar = rp.cache(sidecar)
            _, maybe = split_by_bloom(keyed, probe_sidecar, nb)
            counts["operators.dedup.bloom_maybe_ratio"] = (
                maybe.count() / n_cand if n_cand else 0.0
            )
        else:
            counts["operators.dedup.bloom_maybe_ratio"] = 0.0
        fresh_df = anti_join_seen(keyed, seen, bloom_sidecar=sidecar, num_buckets=nb)
        rp.time("operators.dedup.anti_join", fresh_df)
        fresh = rp.cache(fresh_df)
        n_fresh = fresh.count()
        counts["operators.dedup.new_ratio"] = n_fresh / n_cand if n_cand else 0.0

        # operators.scheduler: the salted two-phase pop on robots-allowed rows
        robots = rp.cache(build_robots_df(spark, pages))
        ok = rp.cache(
            fresh.join(F.broadcast(robots), "host", "left")
            .filter(crawl_allowed(F.col("url"), F.col("has_robots"), F.col("disallow")))
            .withColumn("budget", host_budget(F.col("crawl_delay"), cfg.round_duration_s))
            .select("url", "url_hash", "host", "bucket", "depth", "budget")
        )
        scheduled_df, deferred_df = pop_host_batches(
            ok, budget_col="budget", salt_buckets=cfg.salt_buckets
        )
        rp.time(
            "operators.scheduler.pop",
            scheduled_df.withColumn("_s", F.lit(True)).unionByName(
                deferred_df.withColumn("_s", F.lit(False))
            ),
        )
        scheduled = rp.cache(scheduled_df.drop("budget"))
        n_sched = scheduled.count()
        n_ok = ok.count()
        counts["operators.scheduler.deferred_ratio"] = (
            (n_ok - n_sched) / n_ok if n_ok else 0.0
        )

        # functions.fetch: the join against the pages cache plus routing
        fetched = scheduled.join(pages.select("url", "warc_ts", "html", "lang"), "url", "left")
        stored_ts = None
        if wl.recrawl:
            stored = parsed_latest(store).select(
                "url", F.col("warc_ts").alias("stored_ts")
            )
            fetched = fetched.join(stored, "url", "left")
            stored_ts = F.col("stored_ts")
        routed_df = fetched.withColumn(
            "action",
            route_fetch(
                "html", "url", stored_ts=stored_ts, warc_ts=F.col("warc_ts"),
                max_content_bytes=cfg.max_content_bytes,
            ),
        )
        rp.time("functions.fetch.join", routed_df)
        routed = rp.cache(routed_df.select("url", "html", "action"))
        acts = {r["action"]: r["n"] for r in routed.groupBy("action").agg(
            F.count(F.lit(1)).alias("n")).collect()}
        counts["functions.fetch.hit_ratio"] = (
            (n_sched - acts.get("miss", 0)) / n_sched if n_sched else 0.0
        )
        counts["functions.fetch.not_modified"] = acts.get("not_modified", 0)

        # functions.html: the Arrow parse UDF over the parse-routed bodies
        to_parse = rp.cache(routed.filter(F.col("action") == "parse").select("url", "html"))
        rp.time("functions.html.parse", to_parse.select(parse_page_udf("html").alias("_p")))
        row = to_parse.agg(
            F.count(F.lit(1)).alias("n"), F.sum(F.length("html")).alias("b")
        ).first()
        counts["functions.html.pages_parsed"] = row["n"]
        counts["functions.html.parse_mb"] = (row["b"] or 0) / 1e6

        # functions.urls, part 2: href resolution over the round's hrefs
        hrefs = rp.cache(
            to_parse.select("url", F.explode(parse_page_udf("html")["hrefs"]).alias("href"))
        )
        resolve = resolve_href_standard if cfg.resolve_mode == "standard" else resolve_href
        resolved = hrefs.select(
            resolve(F.col("url"), F.col("href"), parts=resolve_base_parts(F.col("url")))
            .alias("dst")
        )
        rp.time("functions.urls.resolve", resolved)
        counts["functions.urls.links_in"] = hrefs.count()
        counts["functions.urls.links_kept"] = resolved.filter(F.col("dst").isNotNull()).count()

        # recrawl path: the stored-snapshot read a recrawl generation starts from
        rp.time(
            "plans.crawl.stored_snapshot",
            parsed_latest(store).select("url", "warc_ts", "out_links"),
        )
    finally:
        rp.release()
    return rp.times, counts


def replay_metrics(times: dict, counts: dict, tasks: list[dict]) -> dict[str, float]:
    def group(name):
        return [t for t in tasks if t["group"] == f"replay:{name}"]

    fetch_tasks = group("functions.fetch.join")
    window = [t["shuffle_read_records"] for t in group("operators.scheduler.pop")]
    window = [n for n in window if n > 0]
    out = {
        "functions.fetch.join_s": times["functions.fetch.join"],
        "functions.fetch.input_mb_per_round": sum(t["input_bytes"] for t in fetch_tasks)
        / 1e6,
        "functions.html.parse_s": times["functions.html.parse"],
        "functions.urls.resolve_s": times["functions.urls.resolve"],
        "operators.dedup.anti_join_s": times["operators.dedup.anti_join"],
        "operators.scheduler.pop_s": times["operators.scheduler.pop"],
        "operators.scheduler.max_task_rows_ratio": (
            max(window) / statistics.median(window) if window else 0.0
        ),
        "plans.crawl.stored_snapshot_s": times["plans.crawl.stored_snapshot"],
    }
    out.update(counts)
    return out
