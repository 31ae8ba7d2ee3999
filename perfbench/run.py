"""Crawl-round benchmark for cis455crawler_spark.

    python3 perfbench/run.py --workload crawl_bfs --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One client drives `plans.crawl.run_crawl`
as a closed loop: one crawl at a time on local[nproc], each on a fresh state
dir, until --seconds have passed (at least one crawl). Every crawl's output
is checked against the single-process oracle in tests/oracle.py. The last
stdout line is one JSON object: correct, attempted, failed, metrics.

--trace 0 reports the end-to-end metrics (see BENCHMARK.json); --trace 1
runs an untraced and then a traced crawl, replays each layer at the busiest
round, and reports the per-layer metrics plus the tracing overhead. The
traced run also writes its spans and per-layer table to
.perfbench_out/<workload>-seed<n>.json.

All scratch state (Spark local dirs, corpus, crawl state, event log) lives in
.perfbench_work/ inside the checkout and is removed on exit.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time
from concurrent.futures import ThreadPoolExecutor

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def nproc() -> int:
    return len(os.sched_getaffinity(0))


# -- process-tree memory ---------------------------------------------------------


def proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, start time in clock ticks since boot), from /proc."""
    table = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            table[int(entry)] = (int(fields[1]), int(fields[19]))
    return table


def descendants(root_pid: int, table: dict | None = None) -> list[int]:
    """Every live descendant of root_pid."""
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in (table or proc_table()).items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], list(children.get(root_pid, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


# A child the JVM has just forked shares the JVM's pages until it execs, so
# its RSS reads as a second JVM; processes younger than this are left out.
MIN_AGE_S = 1.0


def tree_rss_bytes(root_pid: int) -> int:
    """RSS summed over root_pid and its settled descendants (this process,
    the JVM, the Python workers)."""
    page = os.sysconf("SC_PAGE_SIZE")
    ticks = os.sysconf("SC_CLK_TCK")
    table = proc_table()
    with open("/proc/uptime") as f:
        now = float(f.read().split()[0])
    total = 0
    for pid in [root_pid, *descendants(root_pid, table)]:
        if pid != root_pid and now - table[pid][1] / ticks < MIN_AGE_S:
            continue
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
    return total


class RssSampler:
    """Peak process-tree RSS, sampled every half second on a background
    thread (a tighter loop would compete with the crawl's planning for the
    GIL)."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
            self._stop.wait(0.5)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


# -- session -----------------------------------------------------------------------


def start_spark(work: str, cores: int, event_dir: str | None):
    """The program's own session factory on local[cores], with every scratch
    path inside `work` and, for the traced run, a plain-text event log."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    # python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # glibc otherwise opens up to 8 malloc arenas per core in the JVM, and how
    # many its threads touch varies run to run (Hadoop's default is also 4)
    os.environ["MALLOC_ARENA_MAX"] = "4"
    tempfile.tempdir = tmp
    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": local,
        # get_spark's GC choice, plus JVM temp files kept inside the checkout.
        # The heap starts at its 2g cap and ParallelGC's adaptive sizing is
        # off: otherwise generation sizes follow measured GC pause times, so
        # peak RSS follows how busy the host was rather than the crawl.
        "spark.driver.extraJavaOptions": (
            "-XX:+UseParallelGC -XX:-UseAdaptiveSizePolicy -Xms2g "
            f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        ),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    from cis455crawler_spark.session import get_spark

    spark = get_spark(cores=cores, app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, the JVM it launched, and wait for every child."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + 30
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except OSError:
            pass


# -- measurement -----------------------------------------------------------------


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, data files) of a snapshot store; data files are part files."""
    size = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(dirpath, n))
            if n.startswith("part-"):
                files += 1
    return size, files


class Bench:
    def __init__(self, args, work: str):
        import workloads

        self.args = args
        self.work = work
        self.wl = workloads.WORKLOADS[args.workload]
        self.cores = nproc()
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.n_state = 0
        self.spark = None

    def fresh_dir(self, tag: str) -> str:
        self.n_state += 1
        return os.path.join(self.work, f"state-{tag}-{self.n_state}")

    def note(self, phase: str, t0: float) -> None:
        print(f"setup: {phase} done at {time.perf_counter() - t0:.2f}s", file=sys.stderr)

    def generate(self):
        """Pages for --seed, after checking the generator against the pins."""
        import workloads

        pdf = workloads.generate_pdf(self.wl, self.args.seed, workers=max(1, self.cores - 1))
        pin_errors = workloads.check_pins(self.wl, self.args.seed, pdf)
        if pin_errors:
            raise SystemExit("pinned inputs changed: " + "; ".join(pin_errors))
        return pdf

    def setup(self) -> None:
        """Session, inputs, oracle answer, warm-up crawl (and gen-1 state)."""
        import workloads

        t0 = time.perf_counter()
        self.event_dir = os.path.join(self.work, "events") if self.args.trace else None
        # this process generates the pages while the JVM starts
        with ThreadPoolExecutor(max_workers=1) as pool:
            gen = pool.submit(self.generate)
            self.spark = start_spark(self.work, self.cores, self.event_dir)
            self.note("session", t0)
            pdf = gen.result()
        self.note("generate", t0)
        self.pages = workloads.cache_pages(
            self.spark, pdf, int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        )
        self.note("cache pages", t0)
        self.oracle = workloads.load_oracle()
        self.expected = workloads.expected_answer(self.oracle, self.wl, self.args.seed, pdf)
        self.seeds = self.wl.seeds(self.args.seed)
        del pdf
        self.note("oracle", t0)

        from cis455crawler_spark.plans.crawl import run_crawl

        if self.wl.recrawl:
            # the generation-1 state every timed recrawl starts from; being the
            # first crawl in the session, it also absorbs the warm-up cost
            self.gen1_dir = os.path.join(self.work, "gen1")
            _, m1 = run_crawl(self.spark, self.pages, self.seeds, self.gen1_dir, self.wl.config())
            if sum(m["parsed_pages"] for m in m1) != self.expected.gen1_parsed:
                raise SystemExit("generation-1 crawl disagrees with the oracle")
        else:
            warm = self.fresh_dir("warmup")
            run_crawl(self.spark, self.pages, self.seeds, warm, self.wl.config(rounds=1))
            shutil.rmtree(warm)
        self.note("warm-up", t0)
        self.setup_s = time.perf_counter() - t0

    def checked_crawl(self, state: str, recorder=None) -> dict:
        """One crawl on `state` with its output checks counted; {} if it raised.
        With a SpanRecorder the layer entry points are traced."""
        import tracing
        import workloads

        from cis455crawler_spark.plans import crawl as crawl_plan

        if self.wl.recrawl:
            shutil.copytree(self.gen1_dir, state)
        cfg = self.wl.config()
        traced = tracing.instrumented(recorder) if recorder else contextlib.nullcontext()
        t0 = time.perf_counter()
        try:
            with traced:
                store, metrics = crawl_plan.run_crawl(
                    self.spark, self.pages, self.seeds, state, cfg, recrawl=self.wl.recrawl
                )
        except Exception as e:  # a failed crawl counts; the loop carries on
            print(f"crawl failed: {e!r}", file=sys.stderr)
            self.attempted += cfg.max_rounds
            self.failed += cfg.max_rounds
            self.failures.append("crawl raised")
            return {}
        crawl_s = time.perf_counter() - t0
        size, files = dir_stats(state)
        checks, n_seen = workloads.check_crawl(
            store, metrics, self.wl, self.expected, self.oracle
        )
        bad = [k for k, ok in checks.items() if not ok]
        self.attempted += len(metrics) + len(checks)
        self.failed += len(bad)
        self.failures += bad
        return {
            "store": store,
            "metrics": metrics,
            "crawl_s": crawl_s,
            "round_s": [m["wall_s"] for m in metrics],
            "urls_per_s": n_seen / crawl_s,
            "state_mb": size / 1e6,
            "state_files": files,
        }

    def timed(self) -> dict[str, float]:
        """Crawl until --seconds have passed; medians over the crawls."""
        runs = []
        with RssSampler() as rss:
            t0 = time.perf_counter()
            while not runs or time.perf_counter() - t0 < self.args.seconds:
                state = self.fresh_dir("crawl")
                runs.append(self.checked_crawl(state))
                shutil.rmtree(state, ignore_errors=True)
        print(f"timed crawls: {[round(r.get('crawl_s', 0), 3) for r in runs]}", file=sys.stderr)
        ok = [r for r in runs if r]
        if not ok:  # every crawl raised; the failures are already counted
            ok = [{"crawl_s": 0.0, "urls_per_s": 0.0, "state_mb": 0.0, "state_files": 0,
                   "round_s": [0.0]}]
        med = statistics.median
        out = {k: med(r[k] for r in ok) for k in ("crawl_s", "urls_per_s", "state_mb",
                                                    "state_files")}
        out["round_s_p50"] = med(s for r in ok for s in r["round_s"])
        out["setup_s"] = self.setup_s
        out["peak_rss_mb"] = rss.peak / 1e6
        out["pass_ratio"] = 1 - self.failed / max(self.attempted, 1)
        return out

    def traced(self) -> dict[str, float]:
        """An untraced then a traced crawl, then per-layer replays at one
        round of the traced crawl."""
        import tracing

        state = self.fresh_dir("untraced")
        untraced = self.checked_crawl(state)
        shutil.rmtree(state, ignore_errors=True)

        rec = tracing.SpanRecorder()
        state = self.fresh_dir("traced")
        run = self.checked_crawl(state, recorder=rec)
        if not run:
            raise SystemExit("the traced crawl failed")
        metrics = run["metrics"]
        # the busiest round that has a seen set to dedup against (round 1
        # has none), unless the crawl stopped after one round
        later = [m for m in metrics if m is not metrics[0]] or metrics
        busiest = max(later, key=lambda m: m["scheduled"])["round"]
        times, counts = tracing.replay_round(
            self.spark, run["store"], self.pages, self.wl, self.wl.config(), busiest
        )
        # the event log is complete once the session stops
        stop_spark(self.spark)
        self.spark = None
        jobs, tasks = tracing.load_event_log(self.event_dir)
        layers = tracing.crawl_layer_metrics(rec, jobs, tasks, self.cores)
        layers.update(tracing.replay_metrics(times, counts, tasks))
        layers["sources.tables.files_per_round"] = run["state_files"] / len(metrics)
        layers["functions.robots.denied"] = sum(m["robots_denied"] for m in metrics)
        # the JVM is still warming up, which the traced (later) crawl gains
        # from, so this understates the tracing cost
        layers["trace.overhead_s"] = run["crawl_s"] - untraced.get("crawl_s", float("nan"))

        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"{self.wl.name}-seed{self.args.seed}.json")
        with open(path, "w") as f:
            json.dump(
                {"replay_round": busiest, "layers": layers, "rounds": metrics, "spans": rec.spans},
                f,
                indent=1,
            )
        for k in sorted(layers):
            print(f"{k:45s} {layers[k]:.6g}", file=sys.stderr)
        return layers


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "cis455crawler_spark", "plans", "crawl.py")):
        print("cis455crawler_spark is not in this checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if args.trace else "end_to_end"]
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    bench = Bench(args, work)
    try:
        bench.setup()
        values = bench.traced() if args.trace else bench.timed()
    finally:
        if bench.spark is not None:
            stop_spark(bench.spark)
        shutil.rmtree(work, ignore_errors=True)
    if bench.failures:
        print(f"failed checks: {bench.failures}", file=sys.stderr)
    metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in declared}
    print(
        json.dumps(
            {
                "correct": bench.failed == 0,
                "attempted": bench.attempted,
                "failed": bench.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
