"""Crawl-frontier benchmark: one workload per process, one JSON line out.

    python3 crawlbench/run.py --workload discover --seed 3 --seconds 20 --trace 0

Workloads (see crawlbench/README.md for why each exists):

* ``discover_resume`` — homepage+feed seeding, link discovery admitting new
                        URLs every wave and append-table compaction; the
                        run is killed at the frontier commit of wave 1 and
                        resumed, and must end identical to the sequential
                        simulator's uninterrupted crawl.
* ``lake_read``       — CLI verbs, the county report and ten catalog
                        queries over a lake this same code wrote in set-up.

All are closed loop with one client on ``local[nproc]``.  ``--seconds``
sets the amount of work at a nominal rate (waves or read passes); the work
never depends on the clock, so every run with the same arguments does the
same work.  ``--trace 0`` prints the end-to-end metrics; ``--trace 1``
installs the wrappers of ``tracing.py`` and prints the per-layer metrics.
The last line of stdout is the result object.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import hashlib  # noqa: E402
import io  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".crawlbench")

WORKLOADS = ("discover_resume", "lake_read")
CORES = len(os.sched_getaffinity(0))
SHUFFLE_PARTITIONS = 4
DRIVER_MEM = "1g"
# synthetic web per run: hosts and target page count
WEB = {"discover_resume": (60, 1500), "lake_read": (40, 1000)}
# nominal seconds per unit of work on 4 cores, turning --seconds into a
# fixed count of waves (the crash and resume included) or read passes
WAVE_S = 10.0  # discover_resume executes waves + 1 (the killed one)
PASS_S = 10.0
LOAD_REPS = 3
COMPACT_MAX_LIVE = 2
CRASH_WAVE = 1
LAKE_WAVES = 1
TABLES_SCALE = 0.05
HEADLINE = [
    "pricing_summary", "report_multi_join", "latest_per_key_window",
    "anti_join_unfetched", "string_agg_entities", "sessionize_events",
    "exact_dedup_docs", "token_stats", "ann_cosine_topk", "hourly_rollup",
]

END_TO_END = {"setup_s": "s", "run_s": "s", "op_s_p50": "s", "cpu_s": "s",
              "peak_rss_mb": "MB"}


def log(msg: str) -> None:
    print(f"[crawlbench {time.time() - T_START:7.2f}s] {msg}", file=sys.stderr,
          flush=True)


def crawl_waves(seconds: int) -> int:
    return max(2, round(seconds / WAVE_S))


def read_passes(seconds: int) -> int:
    return max(2, round(seconds / PASS_S))


def expect_key(workload: str, seed: int, seconds: int) -> str:
    """Stored expected outputs are keyed by everything they depend on."""
    hosts, pages = WEB[workload]
    work = (f"lake_waves={LAKE_WAVES},tables={TABLES_SCALE}"
            if workload == "lake_read" else f"waves={crawl_waves(seconds)}")
    return f"seed={seed},hosts={hosts},pages={pages},{work}"


def load_expected() -> dict:
    with open(os.path.join(HERE, "expected.json")) as f:
        return json.load(f)


# -- environment and session -----------------------------------------------


def prepare_env(run_dir: str) -> None:
    """Keep every file the run writes inside the checkout, and let Spark's
    Python workers import the program from it."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp  # Python caches the first temp dir it resolves
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    sys.path.insert(0, ROOT)


def build_spark(run_dir: str):
    from mizzounewscrawler_spark.session import build_session

    tmp = os.path.join(run_dir, "tmp")
    spark = build_session(
        CORES,
        shuffle_partitions=SHUFFLE_PARTITIONS,
        app_name="crawlbench",
        extra_conf={
            "spark.driver.memory": DRIVER_MEM,
            "spark.local.dir": os.path.join(run_dir, "spark-local"),
            # a fixed-size heap: peak RSS then does not depend on when the
            # JVM chose to grow it
            "spark.driver.extraJavaOptions":
                f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            # keep every job and stage of a run in the status store
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


# -- inputs -------------------------------------------------------------------


class Inputs:
    """The seeded synthetic web: generated once, then loaded into Spark and
    cached ``LOAD_REPS`` times (the set-up step whose median is reported)."""

    def __init__(self, spark, seed: int, hosts: int, pages: int):
        self.spark = spark
        self.seed, self.hosts, self.pages = seed, hosts, pages
        self.web = None
        self.frames: tuple | None = None
        self.page_frames: list = []  # every cached page store, for scans

    def generate(self) -> None:
        from mizzounewscrawler_spark.sources.generator import generate_web

        self.web = generate_web(seed=self.seed, n_hosts=self.hosts,
                                target_pages=self.pages)

    def load(self) -> None:
        from pyspark.sql import functions as F

        from mizzounewscrawler_spark.functions.urls import surt_expr

        for df in self.frames or ():
            df.unpersist(blocking=True)
        make = self.spark.createDataFrame
        # the canonical key is precomputed into the cache, as bench.py does
        pages = (
            make(self.web.pages)
            .repartition(SHUFFLE_PARTITIONS)
            .withColumn("url_surt", surt_expr(F.col("url")))
            .cache()
        )
        seeds = make(self.web.seeds).cache()
        robots = make(self.web.robots).cache()
        for df in (pages, seeds, robots):
            df.count()
        self.frames = (pages, seeds, robots)
        self.page_frames.append(pages)


# -- fingerprints -------------------------------------------------------------


def lake_fingerprint(spark, lake: str) -> dict:
    """Deterministic summary of a crawl lake's results."""
    from pyspark.sql import functions as F

    from mizzounewscrawler_spark.crawl import open_tables

    t = open_tables(spark, lake)
    arts = t.articles.read()
    a = arts.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("url_hash").alias("d"),
        F.expr("bit_xor(url_hash)").alias("x"),
    ).first()
    rows = sorted(
        f"{r['url']}\t{r['status']}\t{r['content_hash']}"
        for r in arts.select("url", "status", "content_hash").collect()
    )
    s = t.url_seen.read().agg(
        F.count(F.lit(1)).alias("n"), F.countDistinct("url_hash").alias("d")
    ).first()
    return {
        "articles": a["n"],
        "articles_distinct": a["d"],
        "articles_xor": a["x"],
        "articles_sha": hashlib.sha256("\n".join(rows).encode()).hexdigest(),
        "url_seen": s["n"],
        "url_seen_distinct": s["d"],
        "scheduled": [w["scheduled"] for w in committed_waves(t.frontier)],
    }


def simulator_fingerprint(web, waves: int) -> dict:
    """The same fingerprint from the sequential reference simulator."""
    from functools import reduce

    from mizzounewscrawler_spark.functions.urls import surt, url_hash
    from mizzounewscrawler_spark.simulator import simulate_crawl

    sim = simulate_crawl(web.pages, web.seeds, web.robots, max_waves=waves)
    hashes = [url_hash(surt(u)) for u in sim.articles]
    rows = sorted(f"{u}\t{st}\t{h}" for u, (st, h) in sim.articles.items())
    per_wave: dict[int, int] = {}
    for w, _, _ in sim.order:
        per_wave[w] = per_wave.get(w, 0) + 1
    return {
        "articles": len(sim.articles),
        "articles_distinct": len(set(hashes)),
        "articles_xor": reduce(lambda x, y: x ^ y, hashes, 0),
        "articles_sha": hashlib.sha256("\n".join(rows).encode()).hexdigest(),
        "url_seen": len(sim.seen),
        "url_seen_distinct": len(sim.seen),
        "scheduled": [per_wave[w] for w in sorted(per_wave)],
    }


def committed_waves(frontier) -> list[dict]:
    """Frontier snapshot summaries of committed waves, oldest first
    (compaction snapshots copy a wave's summary and are skipped)."""
    return [
        s.summary for s in frontier.snapshots()
        if s.summary.get("wave", -1) >= 0 and not s.summary.get("compaction")
    ]


# -- crawl workloads ----------------------------------------------------------


class CrashInjected(RuntimeError):
    pass


class CrashHook:
    """Raises from the frontier's ``commit_staged`` of ``wave`` once — after
    the side tables of that wave committed, so they are left as orphans —
    and records when the replayed wave's frontier commit lands."""

    def __init__(self, lake_cls, wave: int):
        self.lake_cls, self.wave = lake_cls, wave
        self.fired_at: float | None = None
        self.crashed: dict | None = None  # summary of the killed wave
        self.recovered_at: float | None = None
        self.orig = lake_cls.commit_staged
        hook = self

        def commit_staged(self_, staged, mode, summary, delete_key_col=""):
            is_target = (
                os.path.basename(self_.path.rstrip("/")) == "frontier"
                and (summary or {}).get("wave") == hook.wave
                and not (summary or {}).get("compaction")
            )
            if is_target and hook.fired_at is None:
                hook.fired_at = time.time()
                hook.crashed = dict(summary)
                raise CrashInjected(f"injected crash at wave {hook.wave}")
            snap = hook.orig(self_, staged, mode, summary, delete_key_col)
            if is_target and hook.recovered_at is None:
                hook.recovered_at = time.time()
            return snap

        commit_staged.__wrapped__ = self.orig
        lake_cls.commit_staged = commit_staged

    def remove(self) -> None:
        self.lake_cls.commit_staged = self.orig


def side_tables(t) -> list:
    """Every crawl table but the frontier (the checkpoint)."""
    return [getattr(t, f) for f in t.__dataclass_fields__ if f != "frontier"]


def orphan_snapshots(t, start_wave: int) -> int:
    return sum(
        1 for tbl in side_tables(t)
        for s in tbl.snapshots() if s.summary.get("wave", -1) >= start_wave
    )


def run_crawl_workload(ctx) -> None:
    from mizzounewscrawler_spark.crawl import CrawlConfig, open_tables, run_crawl
    from mizzounewscrawler_spark.lake import LakeTable

    waves = crawl_waves(ctx.seconds)
    pages, seeds, robots = ctx.inputs.frames
    lake = os.path.join(ctx.run_dir, "lake")
    cfg = CrawlConfig(max_waves=waves, with_order_log=False,
                      compact_max_live=COMPACT_MAX_LIVE)
    hook = CrashHook(LakeTable, CRASH_WAVE)
    checks: dict = {}
    ctx.attempted = waves
    ctx.begin_timed()
    try:
        try:
            run_crawl(ctx.spark, pages, seeds, robots, lake, cfg)
        except CrashInjected:
            checks["orphans_after_crash"] = orphan_snapshots(
                open_tables(ctx.spark, lake), CRASH_WAVE
            )
            # a killed process loses its caches: without this the replay
            # would reuse the killed wave's cached results and skip its
            # fetch and extraction
            ctx.spark.catalog.clearCache()
            ctx.inputs.load()
            pages, seeds, robots = ctx.inputs.frames
            ctx.resume_at = time.time()
            run_crawl(ctx.spark, pages, seeds, robots, lake, cfg)
    finally:
        ctx.end_timed()
        hook.remove()
    if hook.recovered_at is None or ctx.resume_at is None:
        raise RuntimeError("the crash hook never fired or never recovered")
    t = open_tables(ctx.spark, lake)
    done = committed_waves(t.frontier)
    # every wave execution is a latency sample, the killed one included
    killed = {**hook.crashed, "committed_at": hook.fired_at, "killed": True}
    ctx.ops = [
        {"op": f"wave{s['wave']}", "start": s["committed_at"] - s["wave_sec"],
         "end": s["committed_at"], "wave": s["wave"],
         "killed": s.get("killed", False)}
        for s in sorted(done + [killed], key=lambda s: s["committed_at"])
    ]
    ctx.e2e["op_s_p50"] = statistics.median(
        o["end"] - o["start"] for o in ctx.ops if o["wave"] >= 1)
    urls = sum(s["scheduled"] + s["deduped"] for s in done)
    ctx.detail.update(urls_per_s=urls / ctx.run_s, waves=done, killed=killed,
                      recover_s=hook.recovered_at - ctx.resume_at)
    checks["rollback_commits"] = sum(
        1 for tbl in (t.articles, t.url_seen, t.host_state)
        for s in tbl.snapshots() if "rollback_to" in s.summary
    )

    # -- output checks (untimed): the resumed lake must equal the
    # uninterrupted crawl of the sequential reference simulator
    fp = lake_fingerprint(ctx.spark, lake)
    ctx.detail["fingerprint"] = fp
    want = ctx.expected
    checks["expected_source"] = "stored"
    if want is None:
        want = simulator_fingerprint(ctx.inputs.web, waves)
        checks["expected_source"] = "simulator"
    bad = [k for k in want if fp.get(k) != want[k]]
    if fp["articles"] != fp["articles_distinct"]:
        bad.append("articles_duplicated")
    if fp["url_seen"] != fp["url_seen_distinct"]:
        bad.append("url_seen_duplicated")
    if fp["articles"] != sum(fp["scheduled"]):
        bad.append("articles_vs_scheduled")
    if not checks["orphans_after_crash"]:
        bad.append("no_orphans_after_crash")
    if not checks["rollback_commits"]:
        bad.append("orphans_not_rolled_back")
    checks["mismatches"] = bad
    ctx.checks.update(checks)
    if bad == ["scheduled"]:
        # only some waves scheduled the wrong URL count: those waves failed
        pairs = zip(fp["scheduled"], want["scheduled"])
        ctx.failed = sum(1 for got, exp in pairs if got != exp) + abs(
            len(fp["scheduled"]) - len(want["scheduled"]))
    else:
        ctx.failed = waves if bad else waves - len(done)


# -- lake_read -------------------------------------------------------------


def _stable(obj):
    """Drop timing fields so CLI output can be hashed."""
    if isinstance(obj, dict):
        return {
            k: _stable(v) for k, v in obj.items()
            if k not in ("committed_at", "wave_sec") and not k.startswith("sec_")
        }
    if isinstance(obj, list):
        return [_stable(v) for v in obj]
    return obj


def _hash_text(text: str) -> str:
    docs = [_stable(json.loads(line)) for line in text.splitlines() if line]
    return hashlib.sha256(json.dumps(docs, sort_keys=True).encode()).hexdigest()


def _hash_rows(df) -> str:
    def norm(v):
        if isinstance(v, float):
            return float(f"{v:.9g}")
        if isinstance(v, (list, tuple)):
            return [norm(x) for x in v]
        return v

    rows = sorted(
        json.dumps([norm(v) for v in r], default=str) for r in df.collect()
    )
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()


def read_mix(ctx) -> list[tuple[str, object]]:
    """(name, op) pairs in fixed order; op(check) runs one read and returns
    its output hash when ``check`` is true (untimed warm pass)."""
    from mizzounewscrawler_spark import cli
    from mizzounewscrawler_spark.crawl import open_tables
    from mizzounewscrawler_spark.plans.relational import CATALOG
    from mizzounewscrawler_spark.plans.report import county_report

    lake, tables = ctx.lake, ctx.tables_dir
    t = open_tables(ctx.spark, lake)
    fsnaps = t.frontier.snapshots()
    diff = f"{fsnaps[0].version}:{fsnaps[-1].version}"
    verbs = [
        ("cli.status", ["status", "--out", lake]),
        ("cli.history", ["history", "--out", lake]),
        ("cli.history_diff",
         ["history", "--out", lake, "--table", "frontier", "--diff", diff]),
        ("cli.sql_frontier",
         ["sql", "SELECT status, depth, count(*) AS n FROM frontier "
          "GROUP BY status, depth ORDER BY status, depth", "--out", lake]),
        ("cli.sql_url_seen",
         ["sql", "SELECT count(*) AS n, count(DISTINCT url_hash) AS d, "
          "bit_xor(url_hash) AS x FROM url_seen", "--out", lake]),
    ]

    def verb(argv):
        def op(check: bool):
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                rc = cli.main(argv)
            if rc != 0:
                raise RuntimeError(f"cli {argv[0]} exited {rc}")
            return _hash_text(buf.getvalue())
        return op

    def frame(make):
        def op(check: bool):
            df = make()
            df.write.format("noop").mode("overwrite").save()
            return _hash_rows(df) if check else None
        return op

    sources = ctx.inputs.frames[1]
    mix = [(name, verb(argv)) for name, argv in verbs]
    mix.append(("report.county", frame(
        lambda: county_report(open_tables(ctx.spark, lake).articles.read(),
                              sources))))
    specs = {s.name: s for s in CATALOG}
    for name in HEADLINE:
        fn = specs[name].spark_fn
        mix.append((f"query.{name}",
                    frame(lambda fn=fn: fn(ctx.spark, tables))))
    return mix


def run_read_workload(ctx) -> None:
    mix = read_mix(ctx)
    passes = read_passes(ctx.seconds)
    want = ctx.expected or {}
    hashes, bad = {}, []
    failed = 0
    # untimed warm pass: checks every output against the expected hashes
    for name, op in mix:
        try:
            hashes[name] = op(True)
        except Exception:  # noqa: BLE001 — a failed read is a failed op
            traceback.print_exc()
            hashes[name] = None
        if hashes[name] is None or (name in want and want[name] != hashes[name]):
            bad.append(name)
            failed += 1
    ctx.checks["expected_source"] = "stored" if want else "none"
    log(f"warm pass done, {len(bad)} mismatches")
    ops = []
    ctx.begin_timed()
    try:
        for p in range(passes):
            for name, op in mix:
                t0 = time.time()
                ok = True
                try:
                    h = op(False)
                    # CLI output is hashed on every call: it must not drift
                    ok = h is None or h == hashes[name]
                except Exception:  # noqa: BLE001
                    traceback.print_exc()
                    ok = False
                t1 = time.time()
                ops.append({"op": name, "pass": p, "start": t0, "end": t1,
                            "ok": ok})
                if not ok:
                    bad.append(f"{name}@{p}")
                    failed += 1
    finally:
        ctx.end_timed()
    ctx.ops = ops
    lat = [o["end"] - o["start"] for o in ops]
    ctx.e2e["op_s_p50"] = statistics.median(lat)
    ctx.detail["query_s_p90"] = statistics.quantiles(lat, n=10)[-1]
    ctx.detail["hashes"] = hashes
    ctx.checks["mismatches"] = bad
    ctx.attempted = len(mix) + len(ops)
    ctx.failed = failed


def setup_read_lake(ctx) -> None:
    from mizzounewscrawler_spark.crawl import CrawlConfig, run_crawl

    from tables import write_tables  # noqa: E402 — the benchmark's own module

    pages, seeds, robots = ctx.inputs.frames
    ctx.lake = os.path.join(ctx.run_dir, "lake")
    run_crawl(ctx.spark, pages, seeds, robots, ctx.lake,
              CrawlConfig(max_waves=LAKE_WAVES, with_order_log=False))
    ctx.tables_dir = os.path.join(ctx.run_dir, "tables")
    write_tables(ctx.tables_dir, ctx.seed, TABLES_SCALE)


# -- run context -------------------------------------------------------------


class Ctx:
    def __init__(self, args, run_dir: str):
        self.workload, self.seed = args.workload, args.seed
        self.seconds, self.trace = args.seconds, bool(args.trace)
        self.run_dir = run_dir
        self.spark = None
        self.inputs: Inputs | None = None
        self.expected = None
        self.stages: dict[str, float] = {}
        self.e2e: dict[str, float] = {}
        self.detail: dict = {}
        self.checks: dict = {}
        self.ops: list[dict] = []
        self.attempted, self.failed = 1, 0
        self.resume_at: float | None = None
        self.t0 = self.t1 = 0.0
        self.monitor = None

    def begin_timed(self) -> None:
        from procstat import TreeMonitor

        self.stages["first_timed_call"] = time.time() - T_START
        if self.trace:
            self.tracer_install()
        self.monitor = TreeMonitor()
        self.monitor.start()
        self.t0 = time.time()

    def end_timed(self) -> None:
        self.t1 = time.time()
        self.monitor.stop()
        if self.trace:
            self.tracer.restore()

    @property
    def run_s(self) -> float:
        return self.t1 - self.t0

    def tracer_install(self) -> None:
        from tracing import Tracer

        from mizzounewscrawler_spark import crawl
        from mizzounewscrawler_spark.lake import LakeTable

        tr = Tracer(self.spark)
        for attr, name in (
            ("discover_candidates", "crawl.discover_candidates"),
            ("build_wave", "scheduler.build_wave"),
            ("update_host_state", "scheduler.update_host_state"),
            ("fetch_and_extract", "extraction.fetch_and_extract"),
            ("bloom_flag", "dedup.bloom_flag"),
            ("filter_unseen_flagged", "dedup.filter_unseen_flagged"),
            ("add_hashes", "dedup.add_hashes"),
            ("build_bloom", "dedup.build_bloom"),
        ):
            tr.wrap_function(crawl, attr, name)
        tr.wrap_lake(LakeTable)
        self.tracer = tr


def start_python_workers(spark) -> None:
    """Start one Arrow-capable Python worker per core before timing, so the
    first wave does not pay their start-up."""

    def same(batches):
        yield from batches

    spark.range(CORES, numPartitions=CORES).mapInPandas(same, "id long").collect()


def timed_stage(ctx, name: str, fn, reps: int = 1) -> None:
    times = []
    for _ in range(reps):
        t0 = time.time()
        fn()
        times.append(time.time() - t0)
    ctx.stages[name] = statistics.median(times)
    ctx.stages[f"{name}_reps"] = times
    log(f"{name}: {', '.join(f'{x:.2f}' for x in times)} s")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")

    # the program under test must import; without it the run fails here
    sys.path[:0] = [ROOT, HERE]
    import mizzounewscrawler_spark.crawl  # noqa: F401

    run_dir = os.path.join(WORK, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    prepare_env(run_dir)

    ctx = Ctx(args, run_dir)
    ctx.stages["imports"] = time.time() - T_START
    try:
        ctx.expected = load_expected().get(args.workload, {}).get(
            expect_key(args.workload, args.seed, args.seconds))

        def make_session():
            ctx.spark = build_spark(run_dir)

        timed_stage(ctx, "session", make_session)
        hosts, pages = WEB[args.workload]
        ctx.inputs = Inputs(ctx.spark, args.seed, hosts, pages)
        timed_stage(ctx, "inputs", ctx.inputs.generate)
        timed_stage(ctx, "workers", lambda: start_python_workers(ctx.spark))
        timed_stage(ctx, "load", ctx.inputs.load, reps=LOAD_REPS)
        if args.workload == "lake_read":
            timed_stage(ctx, "lake", lambda: setup_read_lake(ctx))
        ctx.e2e["setup_s"] = ctx.stages["imports"] + sum(
            ctx.stages[k]
            for k in ("session", "inputs", "workers", "load", "lake")
            if k in ctx.stages
        )
        error = None
        try:
            if args.workload == "lake_read":
                run_read_workload(ctx)
            else:
                run_crawl_workload(ctx)
        except Exception as exc:  # noqa: BLE001 — reported as failed ops
            traceback.print_exc()
            error = repr(exc)
            ctx.failed = ctx.attempted = max(ctx.attempted, 1)
        ctx.e2e["run_s"] = ctx.run_s
        ctx.e2e["cpu_s"] = ctx.monitor.cpu_s if ctx.monitor else 0.0
        ctx.e2e["peak_rss_mb"] = ctx.monitor.peak_rss_mb if ctx.monitor else 0.0
        if ctx.monitor:
            ctx.detail["rss_at_peak_mb"] = ctx.monitor.at_peak
        correct = error is None and ctx.failed == 0
        if ctx.trace:
            from layers import layer_metrics, metric_units

            metrics = (
                layer_metrics(ctx, CORES, HEADLINE, os.path.join(WORK, "trace"))
                if error is None else
                {k: {"value": 0.0, "unit": unit}
                 for k, unit in metric_units(HEADLINE).items()}
            )
        else:
            metrics = {k: {"value": ctx.e2e.get(k, 0.0), "unit": unit}
                       for k, unit in END_TO_END.items()}
        result = {"correct": correct, "attempted": ctx.attempted,
                  "failed": ctx.failed, "metrics": metrics}
        save_result(ctx, result, error)
    finally:
        if ctx.spark is not None:
            stop_spark(ctx.spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop Spark and wait until the JVM and its Python workers have ended.
    The JVM exits when its stdin closes (PySpark's gateway contract)."""
    from pyspark import SparkContext

    from procstat import tree_pids

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=timeout)
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.time() + timeout
    while len(tree_pids(os.getpid())) > 1 and time.time() < deadline:
        time.sleep(0.1)


def save_result(ctx, result: dict, error) -> None:
    out = os.path.join(WORK, "results")
    os.makedirs(out, exist_ok=True)
    name = (f"{ctx.workload}-seed{ctx.seed}-trace{int(ctx.trace)}"
            f"-{time.time_ns()}")
    with open(os.path.join(out, name + ".json"), "w") as f:
        json.dump({
            "workload": ctx.workload, "seed": ctx.seed,
            "seconds": ctx.seconds, "trace": ctx.trace, "error": error,
            "result": result, "e2e": ctx.e2e, "stages": ctx.stages,
            "checks": ctx.checks, "detail": ctx.detail, "ops": ctx.ops,
            "expect_key": expect_key(ctx.workload, ctx.seed, ctx.seconds),
        }, f, default=str)


if __name__ == "__main__":
    sys.exit(main())
