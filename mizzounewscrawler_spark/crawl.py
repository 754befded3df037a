"""The crawl engine: seed → wave loop → articles, with checkpointed resume.

Restates the reference's three sequential loops (SURVEY.md §0) as a driver
wave loop over snapshot-versioned tables:

  wave W:  build_wave (politeness/budget/backoff)           [scheduler.py]
         → fetch+extract (join pages, mapInPandas cascade)  [extraction.py]
         → status cascade + content hash                     [extraction.py]
         → link discovery → canonicalize → robots → dedup    [dedup.py/robots.py]
         → commit: articles++, url_seen++, order_log++,
                   host_state←, frontier← (commit point)

Each wave commits one snapshot per table with summary counters
(frontier/scheduled/fetched/deduped/discovered) and the wave index; the
frontier commit is last and is the checkpoint: resume reads the frontier's
wave W and rolls every other table back to its snapshot at wave ≤ W, so a
job killed mid-wave re-runs only that wave's deterministic plan — no URL is
re-fetched and none is re-seen (north-rule resume requirement; tested in
tests/test_resume.py).

The wave materializes its fetch results once: fetch+extract+status runs
as one eager local checkpoint, and every consumer (articles, host_state,
discovery → URL-seen dedup → url_seen/frontier, fetch events) plans from
that checkpoint's rows instead of re-planning the wave's whole lineage.

All ordering is deterministic: (priority DESC, url_hash ASC) replaces the
reference's ``ORDER BY RANDOM()`` (extraction.py:1141), and the virtual wave
clock (wave_ts = wave_idx × wave_duration) replaces wall-clock sleeps — so
results are identical at any parallelism (tested local[8] vs local[32]).
"""

from __future__ import annotations

import shutil
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mizzounewscrawler_spark.functions.exprcache import session_memo
from mizzounewscrawler_spark.functions.urls import surt_expr, url_hash_expr
from mizzounewscrawler_spark.lake import LakeTable
from mizzounewscrawler_spark.operators.dedup import (
    CuckooFilter,
    CuckooFullError,
    DiskBloomWriter,
    PartitionedCuckoo,
    _bloom_params,
    add_hashes,
    band_self_pairs,
    bloom_flag,
    bloom_flag_sharded,
    build_bloom,
    build_bloom_to_dir,
    build_cuckoo,
    cuckoo_flag_sharded,
    filter_unseen,
    filter_unseen_flagged,
    merge_blooms,
    minhash_band_postings,
    probe_band_index,
    save_bloom_shards,
    save_cuckoo_shards,
    touched_shards,
)
from mizzounewscrawler_spark.operators.content_type import (
    initial_wire_check_status_expr,
)
from mizzounewscrawler_spark.operators.extraction import fetch_and_extract, with_status
from mizzounewscrawler_spark.operators.robots import apply_robots
from mizzounewscrawler_spark.operators.scheduler import (
    MAX_PER_HOST_PER_WAVE,
    build_wave,
    is_source_url_expr,
    update_host_state,
)

FRONTIER_COLS = ["url", "url_surt", "url_hash", "host", "status", "priority", "depth"]


@dataclass
class CrawlConfig:
    max_waves: int = 10
    wave_duration: float = 60.0
    max_per_host: int = MAX_PER_HOST_PER_WAVE
    max_depth: int = 10
    use_bloom: bool = True
    # URL-seen pre-filter family: "bloom" (default — append-only bitmap,
    # O(new)/wave driver increments, shardable) or "cuckoo" (the north
    # star's deletable variant: 16-bit-fingerprint cuckoo table supporting
    # frontier retraction via dedup.requeue_seen — un-see a URL and a later
    # wave refetches it).  Either way the exact url_seen backstop makes the
    # crawl's RESULT identical; the filter only prices the probe.  The
    # cuckoo is driver-built (kick chains are sequential); with
    # bloom_sharded=True it becomes the sharded PartitionedCuckoo —
    # per-shard files + shard-aligned probe, the same 10^10 remedy as the
    # sharded Bloom (memory math on both classes in operators/dedup.py).
    url_seen_filter: str = "bloom"
    bloom_fpr: float = 0.01
    bloom_shard_bits: int = 4
    # Shard-ALIGNED Bloom probe (the 10^10 design point, VERDICT r3 wrong
    # #1): instead of sc.broadcast()ing the whole filter (~12 GB at n=10^10,
    # fpr=0.01 — over the broadcast limit), persist one file per shard under
    # {out_dir}/bloom_shards and repartition candidates by shard_of(url_hash)
    # so each probe task loads ONLY its ~m/2^shard_bits-bit shard (see
    # dedup.bloom_flag_sharded for the memory math).  Off by default: at
    # sandbox scale the broadcast path avoids the candidate shuffle.
    bloom_sharded: bool = False
    # Disk-backed Bloom WRITER (requires bloom_sharded and the default
    # "bloom" filter — run_crawl raises ValueError otherwise instead of
    # silently building the in-RAM filter): the driver holds only the
    # filter geometry — the bulk build writes each shard file from its
    # executor task (dedup.build_bloom_to_dir) and per-wave increments are
    # per-shard read-modify-writes against {out_dir}/bloom_shards
    # (dedup.DiskBloomWriter).  Removes the last multi-GB driver residency
    # at the 10^10 geometry (~12 GB filter → one ~12 MB shard at a time);
    # bit-identical shard files to the in-RAM writer.  Off by default: at
    # sandbox scale the in-RAM filter skips the per-wave file I/O.
    bloom_disk_writer: bool = False
    # U2 real-extractor stage (import-gated, like the multimodal ``real``
    # codec): run trafilatura as the cascade's stage 0 when the lib is
    # installed on the executors — the reference's first extractor
    # (mcmetadata/content.py:60-98).  Default False: the deterministic
    # cascade is the fixture/oracle ground truth and this container ships
    # no trafilatura; turning this on without the lib raises
    # NotImplementedError at extract time (explicit-config contract).
    use_trafilatura: bool = False
    # Adaptive hot-host salting for the wave-build window (SURVEY risk #4):
    # when the pending frontier exceeds salt_trigger_rows, one dimension-
    # sized histogram agg (scheduler.adaptive_nsalts) finds the hottest
    # host and — if any host holds more than salt_rows_per_task pending
    # rows — the per-host top-k window runs as the result-identical
    # two-stage salted form, fanning the hot host over 2^k tasks.
    # Sandbox-scale waves never cross the trigger and pay nothing.
    salt_trigger_rows: int = 1_000_000
    salt_rows_per_task: int = 200_000
    # expected total URL-seen capacity; pins the Bloom geometry so per-wave
    # increments can be OR-merged into the long-lived filter (O(new)/wave)
    bloom_capacity: int = 1_000_000
    # Above this many newly-discovered URLs in one wave, the Bloom increment
    # switches from driver-side numpy bit-sets (parquet-footer read of the
    # staged url_seen write — zero Spark jobs) to a DISTRIBUTED build_bloom
    # over the staged files, OR-merged in.  Wave-sized is the common case;
    # the distributed path covers seed-all openings of huge frontiers.
    bloom_driver_increment_max: int = 2_000_000
    # global (wave, seq) crawl-order artifact: required for reference-order
    # parity, but it is a single-partition sort — turn OFF for throughput
    # runs / production where within-host order suffices
    with_order_log: bool = True
    # P1 perpetual-recrawl mode: source URLs (feeds + homepages) are NOT
    # tombstoned from the frontier after a fetch; instead the host's
    # source_next_due (wave_ts + cadence_days·86400, reference
    # parse_frequency_to_days / is_due, src/crawler/scheduling.py:30-162)
    # gates their re-eligibility in build_wave — a feed fetched at wave w is
    # re-fetched only once its cadence elapses on the virtual clock.  Off by
    # default = the drain-a-seed-list regime (each URL fetched exactly once).
    recrawl_sources: bool = False
    # Partition-aligned bucket sweep (0 = off): wave w fetches only frontier
    # rows with url_hash % bucket_sweep == w % bucket_sweep, and — when the
    # pages table carries a matching ``bucket`` partition column — the fetch
    # scan partition-prunes to that one bucket.  This turns the per-wave
    # "fetch" from an O(page-store) scan into an O(store/H) pruned read:
    # the sandbox stand-in for HTTP is a join against the page table, and
    # sweeping the hash space cyclically aligns the politeness waves with
    # storage partitioning (the Common-Crawl reprocessing pattern).  Total
    # work to drain the frontier is unchanged; politeness semantics are
    # unchanged (budgets per host per wave); a URL waits at most H−1 extra
    # waves for its bucket's turn.
    bucket_sweep: int = 0
    # Append-heavy tables (url_seen / articles / order_log) gain one
    # wave-sized live version per wave; bin-pack the small half whenever the
    # live count exceeds this cap (lake.compact_small — amortized O(wave)
    # I/O, keeps reader file listing + plan size O(cap) at 10^4+ waves).
    # 0 disables.
    compact_max_live: int = 32
    # Snapshot-expiration GC for the append-heavy tables (url_seen /
    # articles / order_log / fetch_events): keep only the newest N
    # manifests and delete version dirs no retained snapshot references —
    # compaction bounds the LIVE set, this bounds the DEAD history's
    # storage at 10^4+ waves.  0 = off (keeps full time travel).  The
    # frontier is never expired: its per-wave snapshot summaries ARE the
    # crawl's metrics/lineage record and the resume checkpoint chain.
    expire_keep_snapshots: int = 0
    # S6 proxy-scraping discovery: ((host, article_regex), …) pairs — the
    # reference's discovery_proxy sources + per-domain pattern table
    # (discovery.py:2328-2410).  For flagged hosts, source pages keep their
    # raw html through extraction and are pattern-scanned JVM-side; a host
    # whose pattern matched contributes only those matches that wave (the
    # reference's early-return on proxy success).  None = off (default).
    proxy_patterns: tuple | None = None
    # Record-level per-operation telemetry (reference comprehensive
    # telemetry, src/utils/comprehensive_telemetry.py:335): write a
    # fetch_events lake table per wave — fetch/discovery/challenge events
    # per scheduled URL, so failure forensics work for URLs that never
    # become useful article rows.  Off by default: it is one extra
    # wave-sized staged write per wave (overlapped, but not free in the
    # throughput regime); the A9 rollups recompute exactly from the event
    # stream when it is on (plans/telemetry.py: fetch_events_from_results).
    with_fetch_events: bool = False
    # S1 dataset scoping (reference dataset_label filter,
    # src/crawler/discovery.py:2071-2326): crawl only the sources that are
    # members of this named dataset — requires run_crawl(dataset_sources=…)
    # carrying the (dataset_label, source_id) M:N dim.  None = all sources.
    dataset_label: str | None = None
    # Content near-dup maintenance riding the crawl (training-data
    # hygiene): each wave's EXTRACTED articles are MinHash-banded
    # (dedup.minhash_band_postings, id = url_hash), probed against the
    # accumulated neardup_postings index for pairs vs ALL prior waves
    # (the prior waves' text is never rescanned — only their ~64 B/doc
    # postings), self-joined for intra-wave pairs, and appended to the
    # index.  Pairs land in the neardup_pairs table (id_a, id_b, wave);
    # across a whole crawl their union equals minhash_lsh_pairs over the
    # full articles table (invariant pinned in tests/test_dedup.py).  Off
    # by default: two extra wave-sized jobs per wave.
    neardup_minhash: bool = False
    # Crawler-trap guard (F4 producer wired into admission): when > 0, a
    # (host, path-template) whose ALL-TIME admitted URLs (persisted
    # incrementally in the trap_counts lake table — never a frontier
    # rescan) plus this wave's distinct candidates exceed the cap is
    # anti-joined out of admission — calendar pages, session-id
    # explosions, faceted search stop inflating the frontier at the cap
    # instead of at 10^10, and the cumulative form makes it a hard
    # LIFETIME cap per template.  Per-wave cost: two wave-sized groupBys
    # (candidates + admitted rows) and one dimension-sized counts-table
    # scan.  Blocked URLs never enter url_seen, so a later cap raise lets
    # them through.  0 = off (default — reference-order parity requires
    # admission be a pure function of the URL).
    trap_guard_max: int = 0


@session_memo
def _canon_exprs(url_col: str) -> tuple:
    """(surt, not-null filter, url_hash, host) Column trees for
    :func:`_canonical_cols` — built once per SparkContext: the ~10-regex
    SURT chain is ~100 py4j round trips and the wave loop needs it every
    wave (plan-construction latency is per-wave fixed driver cost)."""
    surt = surt_expr(F.col(url_col)).alias("url_surt")
    keep = F.col("url_surt").isNotNull()
    h = url_hash_expr(F.col("url_surt")).alias("url_hash")
    host = F.array_join(
        F.reverse(F.split(F.substring_index(F.col("url_surt"), ")", 1), ",")), "."
    ).alias("host")
    return surt, keep, h, host


def _canonical_cols(df: DataFrame, url_col: str = "url") -> DataFrame:
    surt, keep, h, host = _canon_exprs(url_col)
    return df.select("*", surt).where(keep).select("*", h, host)


@session_memo
def priority_expr() -> F.Column:
    """Feeds first (priority 2), everything else 1 — attribution-independent
    so crawl order is a pure function of the URL (parity requirement)."""
    return F.when(F.col("url_surt").endswith(")/feed"), F.lit(2)).otherwise(F.lit(1))




def seed_frontier(spark: SparkSession, seeds: DataFrame) -> DataFrame:
    """Seed URLs: each source's homepage + its feed URLs.

    Mirrors reference discovery entry points (homepage build + RSS probe,
    SURVEY.md §2.1 S2/S3) against the synthetic web's layout.
    """
    homepages = seeds.select(
        F.concat(F.lit("https://www."), F.col("host"), F.lit("/")).alias("url")
    )
    feeds = seeds.select(F.explode("feed_urls").alias("url"))
    urls = homepages.unionByName(feeds).distinct()
    return (
        _canonical_cols(urls)
        .withColumn("status", F.lit("discovered"))
        .withColumn("priority", priority_expr())
        .withColumn("depth", F.lit(0))
        .select(*FRONTIER_COLS)
        .dropDuplicates(["url_hash"])
    )


@session_memo
def _link_exprs(max_depth: int) -> tuple:
    has_links = F.col("found") & (F.size("links") > 0)
    expl = F.explode("links").alias("url")
    depth1 = (F.col("depth") + 1).alias("depth")
    depth_ok = F.col("depth") <= max_depth
    return has_links, expl, depth1, depth_ok


@session_memo
def _enqueue_robots_expr() -> F.Column:
    """robots_allowed over (url_surt, _dis) — tree cached per context."""
    from mizzounewscrawler_spark.operators.robots import (
        path_from_surt,
        robots_allowed_expr,
    )

    return robots_allowed_expr(
        path_from_surt(F.col("url_surt")), F.col("_dis")
    ).alias("robots_allowed")


def discover_candidates(
    results: DataFrame,
    allowed_hosts: DataFrame,
    robots: DataFrame,
    max_depth: int,
    host_rules: DataFrame | None = None,
    proxy_rows: list | None = None,
) -> DataFrame:
    """Extract discovered links from this wave's fetches → canonical,
    in-batch-deduped, host-scoped, robots-marked candidate frontier rows
    (everything in :func:`discover_new` EXCEPT the URL-seen dedup — split
    out so the wave loop can fold the dedup sizing count into one action).

    ``host_rules`` (host, disallow) is the pre-fused cached dimension of
    allowed hosts + their robots rules: passing it fuses the host-scope
    semi join and the robots broadcast join into one inner join (host
    presence ⇒ in scope), halving this stage's broadcast builds per wave.

    ``proxy_rows`` (host, article_regex) enables S6 proxy-scraping
    discovery (reference source_processing.py:629-650): source pages of
    flagged hosts are pattern-scanned (JVM regex over ``html_kept`` — see
    ``fetch_and_extract(keep_html_hosts=…)``), and when a page's pattern
    matched, that PAGE's generic anchor links are dropped for the wave —
    the reference's early-return-on-proxy-success short-circuits only the
    remaining discovery methods of that one source fetch (ADVICE r3: an
    anti-join keyed on host would also drop article-page outlinks fetched
    from the same host that wave, permanently, since articles tombstone).
    """
    has_links, expl, depth1, depth_ok = _link_exprs(max_depth)
    links = (
        results.where(has_links)
        .select(expl, depth1, F.col("url_hash").alias("_parent"))
        .where(depth_ok)
    )
    if proxy_rows:
        if "html_kept" not in results.columns:
            raise ValueError(
                "proxy_rows requires results with an html_kept column — "
                "call fetch_and_extract(keep_html_hosts=...)"
            )
        from mizzounewscrawler_spark.operators.proxy_discovery import (
            proxy_links_expr,
        )

        flagged = results.where(
            F.col("host").isin([h for h, _ in proxy_rows])
            & F.col("found")
            & is_source_url_expr(F.col("url_surt"))
        )
        pl = flagged.select(
            F.explode(
                proxy_links_expr(proxy_rows, F.col("host"), F.col("html_kept"))
            ).alias("_path"),
            depth1,
            F.col("url").alias("_base"),
            F.col("url_hash").alias("_parent"),
        )
        purl = F.when(
            F.col("_path").startswith("http"), F.col("_path")
        ).otherwise(
            F.concat(
                F.regexp_extract(F.col("_base"), r"^(https?://[^/]+)", 1),
                F.col("_path"),
            )
        )
        # child-depth gate — same filter the generic path applies after its
        # depth+1 alias (ADVICE r3: parent-depth gating let proxy candidates
        # enter the frontier at max_depth+1)
        pl = (
            pl.select(purl.alias("url"), "depth", "_parent")
            .where(F.col("url").startswith("http"))
            .where(depth_ok)
        )
        # early-return semantics: source PAGES whose pattern produced
        # matches contribute ONLY those matches this wave (wave-bounded
        # page-identity anti — proxy sources per wave ≤ hosts × cap)
        pages_with = pl.select("_parent").distinct()
        links = links.join(
            F.broadcast(pages_with), on="_parent", how="left_anti"
        ).unionByName(pl)
    links = links.drop("_parent")
    cand = _canonical_cols(links).select("*", priority_expr().alias("priority"))
    # in-batch dedup: one row per url_hash; deterministic winner = smallest
    # (depth, url) so tracking-param variants never shadow the canonical raw
    # URL nondeterministically
    cand = (
        cand.groupBy("url_hash")
        .agg(
            F.min_by(
                F.struct(*[c for c in cand.columns if c != "url_hash"]),
                F.struct("depth", "url"),
            ).alias("s")
        )
        .select("url_hash", "s.*")
    )
    # host scope: only hosts we have seeds for (reference allowed-host check,
    # source_processing.py:1339-1357); robots at enqueue time: disallowed
    # URLs still enter url_seen (never reconsidered) but carry
    # robots_allowed=false so they never reach the frontier
    if host_rules is not None:
        hr = host_rules.select("host", F.col("disallow").alias("_dis"))
        cand = cand.join(F.broadcast(hr), on="host", how="inner")
        keep = [c for c in cand.columns if c != "_dis"]
        cand = cand.select(*keep, _enqueue_robots_expr())
    else:
        cand = cand.join(F.broadcast(allowed_hosts), on="host", how="left_semi")
        cand = apply_robots(cand, robots)
    return cand


def discover_new(
    results: DataFrame,
    allowed_hosts: DataFrame,
    robots: DataFrame,
    seen: DataFrame,
    bloom,
    max_depth: int,
    host_rules: DataFrame | None = None,
) -> DataFrame:
    """:func:`discover_candidates` + URL-seen dedup (bloom pre-filter +
    exact anti backstop) — the full discovery stage as one call."""
    cand = discover_candidates(
        results, allowed_hosts, robots, max_depth, host_rules=host_rules
    )
    return filter_unseen(cand, seen, bloom, "url_hash")


@dataclass
class CrawlTables:
    frontier: LakeTable
    url_seen: LakeTable
    articles: LakeTable
    host_state: LakeTable
    order_log: LakeTable
    fetch_events: LakeTable
    neardup_postings: LakeTable
    neardup_pairs: LakeTable
    trap_counts: LakeTable


def open_tables(spark: SparkSession, out_dir: str) -> CrawlTables:
    return CrawlTables(
        frontier=LakeTable(spark, f"{out_dir}/frontier"),
        url_seen=LakeTable(spark, f"{out_dir}/url_seen"),
        articles=LakeTable(spark, f"{out_dir}/articles"),
        host_state=LakeTable(spark, f"{out_dir}/host_state"),
        order_log=LakeTable(spark, f"{out_dir}/order_log"),
        fetch_events=LakeTable(spark, f"{out_dir}/fetch_events"),
        neardup_postings=LakeTable(spark, f"{out_dir}/neardup_postings"),
        neardup_pairs=LakeTable(spark, f"{out_dir}/neardup_pairs"),
        trap_counts=LakeTable(spark, f"{out_dir}/trap_counts"),
    )


def _apply_trap_guard(
    t: CrawlTables, new_rows: DataFrame, cap: int
) -> DataFrame:
    """Drop genuinely-NEW rows past each (host, path-template)'s lifetime
    cap — PARTIAL admission: a template with ``prior`` all-time admitted
    URLs admits up to ``cap - prior`` of this wave's new URLs (ranked
    deterministically by url_hash) instead of all-or-nothing, so a
    template that always arrives in over-cap bursts still reaches the
    configured lifetime total rather than being pinned near zero.
    host+template are recomputed from the URL on both sides (the row's
    `host` column is the canonical form — the miner's raw netloc may
    differ).  Plan: rows in templates that fit entirely under the cap
    pass through a broadcast anti-join untouched; only rows of AT-RISK
    templates (a dimension-sized set) pay a row_number window, keyed on
    (host, template) — per-template wave volume bounds each task.  See
    the call site for the full semantics."""
    from mizzounewscrawler_spark.operators.verification import (
        mine_url_traps,
        url_template_expr,
    )

    wave_tmpl = mine_url_traps(
        new_rows.select("url"), max_per_template=cap
    ).select("host", "template", F.col("n_urls").alias("wave_n"))
    if t.trap_counts.exists():
        prior = (
            t.trap_counts.read()
            .groupBy("host", "template")
            .agg(F.sum("n").alias("prior_n"))
        )
        joined = wave_tmpl.join(
            prior, ["host", "template"], "left"
        ).na.fill({"prior_n": 0})
    else:
        joined = wave_tmpl.withColumn("prior_n", F.lit(0))
    risk = joined.where(
        F.col("prior_n") + F.col("wave_n") > cap
    ).select(
        F.col("host").alias("_t_host"),
        F.col("template").alias("_t_tmpl"),
        "prior_n",
    )
    rows = new_rows.withColumn(
        "_t_host",
        F.lower(F.regexp_extract(F.col("url"), r"^https?://([^/]+)", 1)),
    ).withColumn("_t_tmpl", url_template_expr(F.col("url")))
    safe = rows.join(
        F.broadcast(risk.select("_t_host", "_t_tmpl")),
        ["_t_host", "_t_tmpl"],
        "left_anti",
    ).drop("_t_host", "_t_tmpl")
    admitted_risky = (
        rows.join(F.broadcast(risk), ["_t_host", "_t_tmpl"], "inner")
        .withColumn(
            "_rk",
            F.row_number().over(
                Window.partitionBy("_t_host", "_t_tmpl").orderBy(
                    "url_hash", "url"
                )
            ),
        )
        .where(F.col("prior_n") + F.col("_rk") <= cap)
        .drop("_t_host", "_t_tmpl", "prior_n", "_rk")
    )
    return safe.unionByName(admitted_risky)


def _stage_dedup(pool, t, new_frontier_rows, tombstones, small_n):
    """Stage the tier-B dedup outputs (url_seen + frontier) from the
    filtered new-URL rows; returns the two stage futures.  ALL new
    canonical URLs enter url_seen — including robots-disallowed ones
    (enforced at enqueue, never reconsidered); only robots-allowed rows
    are admitted to the frontier."""
    new_seen = new_frontier_rows.select("url_hash", "url_surt").coalesce(small_n)
    admitted_rows = (
        new_frontier_rows.where(F.col("robots_allowed"))
        .withColumn("status", F.lit("discovered"))
        .select(*FRONTIER_COLS)
        .coalesce(small_n)
    )
    fut_seen = pool.submit(t.url_seen.stage, new_seen)
    fut_frontier = pool.submit(t.frontier.stage, admitted_rows, tombstones)
    return fut_seen, fut_frontier


def _side_tables(t: CrawlTables) -> tuple[LakeTable, ...]:
    """Every per-wave-committed table EXCEPT the frontier (the frontier
    IS the checkpoint and is never rolled back).  One definition so the
    two crash-recovery branches and future tables stay in sync."""
    return (
        t.articles, t.url_seen, t.order_log, t.fetch_events,
        t.host_state, t.neardup_postings, t.neardup_pairs,
        t.trap_counts,
    )


def _read_at_wave(table: LakeTable, wave: int) -> DataFrame | None:
    """Latest snapshot committed at wave ≤ ``wave`` (resume rollback)."""
    best = None
    for s in table.snapshots():
        if s.summary.get("wave", -1) <= wave:
            best = s
    return table.read(best.version) if best is not None else None


def _local_checkpoint(df: DataFrame, held: list) -> DataFrame:
    """Materialize ``df`` now and return a DataFrame over those rows: the
    returned plan is a single ``LogicalRDD`` leaf, so its consumers never
    re-analyze, re-optimize or re-plan ``df``'s lineage.  The checkpoint's
    RDD goes on ``held`` — ``DataFrame.unpersist`` does not free a local
    checkpoint, :func:`_release` does."""
    ck = df.localCheckpoint(eager=True)
    held.append(ck._jdf.queryExecution().analyzed().rdd().toJavaRDD())
    return ck


def _release(held: list) -> None:
    """Unpersist every cache, broadcast and checkpoint RDD on ``held``."""
    for c in held:
        c.unpersist()
    held.clear()


def run_crawl(
    spark: SparkSession,
    pages: DataFrame,
    seeds: DataFrame,
    robots: DataFrame,
    out_dir: str,
    config: CrawlConfig | None = None,
    initial_frontier: DataFrame | None = None,
    dataset_sources: DataFrame | None = None,
) -> dict:
    """Run (or resume) the crawl; returns the final wave counters.

    ``initial_frontier``: optional pre-built seed frontier (a DataFrame of
    raw ``url`` strings) replacing the homepage+feed seeding — the
    Common-Crawl-style regime of the north rule, where the crawl starts
    from a known 10^10-URL frontier rather than discovering from scratch.

    ``dataset_sources``: (dataset_label, source_id) M:N dim enabling S1
    dataset scoping when ``config.dataset_label`` is set — the seed set is
    semi-joined to the dataset's members up front, which scopes every
    downstream stage (frontier, host dims, waves, admission) for free.

    Fault model: each wave's fetch results live only as a local checkpoint
    (executor blocks, no lineage to recompute them from).  A lost block
    fails the wave with ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``; calling
    ``run_crawl`` again resumes from the last frontier checkpoint, exactly
    as after a killed driver.  Every cache, broadcast and checkpoint the
    call makes is released when it returns or raises.
    """
    cfg = config or CrawlConfig()
    if cfg.bloom_disk_writer and (
        not cfg.bloom_sharded or cfg.url_seen_filter == "cuckoo"
    ):
        # explicit-config contract: never fall back to the in-RAM filter
        raise ValueError(
            "config.bloom_disk_writer requires bloom_sharded=True and "
            'url_seen_filter="bloom"'
        )
    t = open_tables(spark, out_dir)
    if cfg.dataset_label is not None:
        if dataset_sources is None:
            raise ValueError(
                "config.dataset_label requires run_crawl(dataset_sources=…)"
            )
        from mizzounewscrawler_spark.operators.datasets import scope_sources

        seeds = scope_sources(seeds, dataset_sources, cfg.dataset_label)
    allowed_hosts = seeds.select("host").distinct()

    # Pre-fuse the loop-invariant host dimensions ONCE (cached): per-wave
    # broadcast-build latency is driver-bound and does not shrink with
    # cluster size, so the wave loop should pay one broadcast per stage,
    # not one per source table.
    robots_star = robots.where(F.col("user_agent") == "*").select(
        "host", "crawl_delay", "disallow"
    )
    from mizzounewscrawler_spark.operators.scheduler import (
        FREQ_DEFAULT_DAYS,
        cadence_days_expr,
    )

    cadence = (
        cadence_days_expr(F.col("frequency"))
        if "frequency" in seeds.columns
        else F.lit(FREQ_DEFAULT_DAYS)
    )
    host_dim = (
        seeds.select("host", "bot_sensitivity", cadence.alias("cadence_days"))
        .dropDuplicates(["host"])
        .join(robots_star.select("host", "crawl_delay"), "host", "left")
        .cache()
    )
    host_rules = (
        allowed_hosts.join(robots_star.select("host", "disallow"), "host", "left")
        .cache()
    )
    held: list = []  # the running wave's caches, broadcasts and checkpoint
    try:
        return _crawl(
            spark, t, cfg, pages, seeds, robots, out_dir, initial_frontier,
            allowed_hosts, host_dim, host_rules, held,
        )
    finally:
        _release(held)
        host_dim.unpersist()
        host_rules.unpersist()


def _crawl(
    spark: SparkSession,
    t: CrawlTables,
    cfg: CrawlConfig,
    pages: DataFrame,
    seeds: DataFrame,
    robots: DataFrame,
    out_dir: str,
    initial_frontier: DataFrame | None,
    allowed_hosts: DataFrame,
    host_dim: DataFrame,
    host_rules: DataFrame,
    held: list,
) -> dict:
    """:func:`run_crawl` after its host dimensions are built: resume or
    seed, then the wave loop.  Whatever a wave caches, broadcasts or
    checkpoints goes on ``held``, released at the wave's end."""
    if t.frontier.exists():
        # resume from the newest WAVE-BEARING snapshot: maintenance commits
        # (requeue readmission, out-of-band compaction without a copied
        # summary) legitimately sit on top of the checkpoint chain without
        # a "wave" key and must not break resume
        cur = t.frontier.current_snapshot()
        wave_snaps = [
            s for s in t.frontier.snapshots() if "wave" in s.summary
        ]
        last = wave_snaps[-1] if wave_snaps else cur
        start_wave = int(last.summary.get("wave", -1)) + 1
        frontier = t.frontier.read().where(F.col("status") == "discovered")
        if cur.version == last.version and "next_frontier" in last.summary:
            frontier_size = int(last.summary["next_frontier"])
        else:
            # maintenance commits after the checkpoint may have added
            # (requeue) or rewritten rows — the recorded counter is stale;
            # one count job on resume only
            frontier_size = frontier.count()
        # Crash-window recovery: a kill between the side-table commits and
        # the frontier checkpoint commit leaves COMMITTED wave-≥start_wave
        # orphan snapshots on articles/url_seen/… — replaying the wave on
        # top of them would double-append every orphaned row.  Roll each
        # side table back (history-preserving rollback commit) to its
        # newest snapshot at or below the checkpoint wave; maintenance
        # commits without a wave key (requeue, out-of-band compaction)
        # count as restore points, never as orphans.
        for tbl in _side_tables(t):
            if not tbl.exists():
                continue
            snaps = tbl.snapshots()
            # Scan the WHOLE history for orphans, not just the contiguous
            # top: a wave-less maintenance commit made between the crash
            # and the resume (requeue merge, out-of-band compaction) sits
            # ABOVE the wave>=start_wave orphans and must not mask them.
            # The restore point is the newest snapshot below the first
            # orphan; post-crash maintenance above orphans is rolled back
            # with them (bounded: re-run requeue after resume) — the
            # alternative, treating it as a restore point, would replay
            # the wave on top of the orphans and double-append every row.
            orphan_idxs = [
                i for i, s in enumerate(snaps)
                if s.summary.get("wave", -1) >= start_wave
            ]
            if not orphan_idxs:
                continue  # no orphans
            idx = orphan_idxs[0] - 1
            if idx >= 0:
                tbl.rollback(snaps[idx].version, {"wave": start_wave - 1})
                continue
            # Every pre-crash manifest was GC-pruned (expire_snapshots
            # keeps the newest N) — there is NO restore-point manifest,
            # and restoring the empty view here would wipe the table.
            # Append-mode orphans can still be excluded EXACTLY: an
            # append's data version id is its own snapshot version, so
            # current-view-minus-those-versions is the pre-crash view.
            # An overwrite orphan self-heals (the replayed wave
            # overwrites it again) and a rewrite alone is
            # content-preserving, but a rewrite/overwrite ABOVE an
            # append orphan may have folded the orphaned rows in — then
            # we skip: bounded one-wave duplicate rows beat data loss.
            suffix = snaps[idx + 1:]
            ops = {s.summary.get("operation") for s in suffix}
            appends = [
                s.version for s in suffix
                if s.summary.get("operation") == "append"
            ]
            if appends and "rewrite" not in ops and "overwrite" not in ops:
                tbl.rollback_exclude(appends, {"wave": start_wave - 1})
        seen = _read_at_wave(t.url_seen, start_wave - 1)
        host_state_df = _read_at_wave(t.host_state, start_wave - 1)
        # GC + skip-branch corner: when every pre-crash manifest was
        # expire_snapshots-pruned AND a rewrite/overwrite sat above an
        # append orphan (documented skip above), no rollback commit was
        # written, so no snapshot carries wave <= start_wave-1 and
        # _read_at_wave returns None.  Fall back to the CURRENT view
        # (orphans included): the resume then proceeds with the intended
        # bounded one-wave duplicate rows instead of crashing on
        # seen=None downstream.
        if seen is None and t.url_seen.exists():
            seen = t.url_seen.read()
        if host_state_df is None and t.host_state.exists():
            host_state_df = t.host_state.read()
    else:
        # wave-0 crash window: the frontier never committed but some side
        # tables did — those commits are pure orphans (GC cannot have run
        # before the first checkpoint); restore the empty view so the
        # fresh run's wave 0 doesn't double-append them
        for tbl in _side_tables(t):
            if tbl.exists() and tbl.current_snapshot().live_versions:
                tbl.rollback(None, {"wave": -1})  # driver-local, no job
        if initial_frontier is not None:
            # Pre-seeded (Common-Crawl-regime) frontier rows get the SAME
            # admission gates as discovered links (ADVICE r1): host scope +
            # enqueue-time robots — a seed list must not smuggle
            # robots-disallowed URLs past the engine's enqueue guarantee.
            # All canonical seed URLs enter url_seen (disallowed ones are
            # never reconsidered); only allowed ones reach the frontier.
            from mizzounewscrawler_spark.operators.robots import (
                path_from_surt,
                robots_allowed_expr,
            )

            cand = (
                _canonical_cols(initial_frontier.select("url"))
                .withColumn("priority", priority_expr())
                .withColumn("depth", F.lit(0))
                .dropDuplicates(["url_hash"])
            )
            hr = host_rules.select("host", F.col("disallow").alias("_dis"))
            cand = (
                cand.join(F.broadcast(hr), on="host", how="inner")
                .withColumn(
                    "robots_allowed",
                    robots_allowed_expr(
                        path_from_surt(F.col("url_surt")), F.col("_dis")
                    ),
                )
                .drop("_dis")
                .cache()
            )
            frontier = (
                cand.where(F.col("robots_allowed"))
                .withColumn("status", F.lit("discovered"))
                .select(*FRONTIER_COLS)
                .cache()
            )
            seen = cand.select("url_hash", "url_surt")
            held.append(cand)
        else:
            frontier = seed_frontier(spark, seeds).cache()
            seen = frontier.select("url_hash", "url_surt")
        # the seed frontier's cache feeds wave 0 and is released with it
        held.append(frontier)
        frontier_size = frontier.count()
        t.url_seen.append(seen, {"wave": -1})
        t.frontier.overwrite(
            frontier, {"wave": -1, "frontier": frontier_size, "next_frontier": frontier_size}
        )
        if initial_frontier is not None:
            cand.unpersist()
        seen = t.url_seen.read()
        host_state_df = None
        start_wave = 0

    # Bloom geometry pinned from capacity so wave increments merge (O(new))
    num_shards = 1 << cfg.bloom_shard_bits
    bloom_params = _bloom_params(
        max(cfg.bloom_capacity // num_shards, 1), cfg.bloom_fpr
    )
    if cfg.bloom_sharded:
        from mizzounewscrawler_spark.operators.dedup import (
            BLOOM_SHARD_SUBDIR,
            CUCKOO_SHARD_SUBDIR,
        )

        sub = (
            CUCKOO_SHARD_SUBDIR
            if cfg.url_seen_filter == "cuckoo"
            else BLOOM_SHARD_SUBDIR
        )
        shard_dir = f"{out_dir}/{sub}"
    else:
        shard_dir = None
    if not cfg.use_bloom:
        bloom = None
    elif cfg.url_seen_filter == "cuckoo":
        # deletable variant; bloom_sharded promotes it to the sharded
        # PartitionedCuckoo (per-shard files, shard-aligned probe — the
        # same 10^10 fix as the sharded Bloom)
        bloom = build_cuckoo(
            seen, "url_hash", cfg.bloom_capacity,
            shard_bits=cfg.bloom_shard_bits if cfg.bloom_sharded else 0,
        )
        if shard_dir is not None:
            # full write once; waves touch-up only the shards they change
            save_cuckoo_shards(bloom, shard_dir)
    elif cfg.bloom_disk_writer and shard_dir is not None:
        # driver never holds the filter: executors write their own shard
        # files, and the returned handle does per-shard read-modify-write
        # increments against shard_dir (see CrawlConfig.bloom_disk_writer)
        build_bloom_to_dir(
            seen, shard_dir, "url_hash",
            params=bloom_params, shard_bits=cfg.bloom_shard_bits,
        )
        bloom = DiskBloomWriter(shard_dir)
    else:
        bloom = build_bloom(
            seen, "url_hash", shard_bits=cfg.bloom_shard_bits,
            params=bloom_params,
        )
        if shard_dir is not None:
            save_bloom_shards(bloom, shard_dir)

    stats: dict = {"start_wave": start_wave, "waves_run": 0}
    for wave in range(start_wave, cfg.max_waves):
        # frontier_size tracked arithmetically (prev − scheduled + admitted)
        # so the loop never pays a count() job over the whole frontier
        if frontier_size == 0:
            break
        wave_t0 = time.time()
        wave_ts = wave * cfg.wave_duration

        # bucket sweep: restrict this wave's eligibility (and the page scan)
        # to the wave's hash bucket — see CrawlConfig.bucket_sweep
        if cfg.bucket_sweep > 0:
            b = wave % cfg.bucket_sweep
            eligible = frontier.where(
                F.pmod(F.col("url_hash"), F.lit(cfg.bucket_sweep)) == b
            )
            pages_wave = (
                pages.where(F.col("bucket") == b)
                if "bucket" in pages.columns
                else pages
            )
        else:
            eligible = frontier
            pages_wave = pages

        nsalts = 1
        if cfg.salt_trigger_rows and frontier_size > cfg.salt_trigger_rows:
            from mizzounewscrawler_spark.operators.scheduler import (
                adaptive_nsalts,
            )

            # the host histogram and the wave build both scan the frontier
            eligible = eligible.cache()
            held.append(eligible)
            nsalts = adaptive_nsalts(
                eligible, rows_per_task=cfg.salt_rows_per_task
            )
        wave_df = build_wave(
            eligible,
            seeds,
            robots,
            host_state_df,
            wave_ts,
            cfg.wave_duration,
            cfg.max_per_host,
            with_global_order=cfg.with_order_log,
            host_dim=host_dim,
            recrawl_sources=cfg.recrawl_sources,
            salt_partitions=nsalts,
        ).cache()
        held.append(wave_df)

        proxy_rows = list(cfg.proxy_patterns) if cfg.proxy_patterns else None
        # The wave's one extraction job: every consumer below plans from
        # the checkpointed rows, never from the fetch+extract lineage.
        t_fetch = time.time()
        results = _local_checkpoint(
            with_status(
                fetch_and_extract(
                    wave_df,
                    pages_wave,
                    keep_html_hosts=(
                        frozenset(h for h, _ in proxy_rows)
                        if proxy_rows else None
                    ),
                    use_trafilatura=cfg.use_trafilatura,
                )
            ),
            held,
        )
        sec_fetch = time.time() - t_fetch
        ok_expr = F.col("fetch_status").isin("extracted", "wire", "paywall", "feed")
        is_src = is_source_url_expr(F.col("url_surt"))

        cand = discover_candidates(
            results, allowed_hosts, robots, cfg.max_depth, host_rules=host_rules,
            proxy_rows=proxy_rows,
        )
        if bloom is not None and shard_dir is not None:
            _flag_sharded = (
                cuckoo_flag_sharded
                if isinstance(bloom, PartitionedCuckoo)
                else bloom_flag_sharded
            )
            flagged = _flag_sharded(
                cand, shard_dir, "url_hash", caches=held
            )
        else:
            flagged = bloom_flag(cand, bloom, "url_hash", caches=held)

        # NO dedicated counters action: the pre-commit counters ride as
        # observe() metrics on work the wave runs anyway (per-wave fixed
        # driver latency — serial action chains that do not shrink with
        # cluster size — is what failed the r2 scaling gate): the articles
        # write carries the results metrics and the flagged count the
        # Bloom-positive metric, each the one consumer guaranteed to scan
        # every row.  The flagged metric sits ABOVE the flagged cache: a
        # metrics node below it could report partial rows to a concurrent
        # reader racing the cache fill.
        obs_r = Observation()
        obs_f = Observation()

        # ---- staged commits (frontier manifest last = checkpoint) ----
        # per-wave outputs are wave-sized (politeness-bounded) — coalesce to
        # a few files instead of one tiny file per shuffle partition
        small_n = max(2, spark.sparkContext.defaultParallelism // 4)
        articles_batch = results.observe(
            obs_r,
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(ok_expr, 1).otherwise(0)).alias("ok"),
            F.sum(F.when(is_src, 1).otherwise(0)).alias("src"),
        ).select(
            "url",
            F.col("url_surt"),
            F.col("url_hash"),
            "host",
            "depth",
            F.col("fetch_status").alias("status"),
            "title",
            "author",
            "publish_date",
            "text",
            "method",
            "content_hash",
            F.lit(wave).alias("wave"),
        ).withColumn(
            # second-pass wire-verification state (reference
            # wire_check_status, models/__init__.py:159): pending until
            # operators.content_type.wire_recheck drains it; run_bq_export
            # gates on 'complete'
            "wire_check_status",
            initial_wire_check_status_expr(F.col("status")),
        ).coalesce(small_n)

        host_state_next = update_host_state(
            host_state_df,
            results.select(
                "host",
                ok_expr.alias("ok"),
                F.col("is_challenge").alias("challenge"),
                # URL-shape feed flag (a FAILED feed fetch must still count
                # as a feed event for the P11 retry window)
                F.col("url_surt").endswith(")/feed").alias("is_feed"),
                is_src.alias("is_source"),
            ),
            wave_ts,
            wave,
            host_dim=host_dim,
        )

        # Frontier checkpoint = ONE merge-on-read commit: append this wave's
        # admitted rows + tombstone the scheduled url_hashes — O(wave) I/O.
        # The r1 shape recomputed and OVERWROTE the whole frontier every
        # wave: O(frontier) I/O per wave, the dominant cost on the north
        # rule's 10^10-URL frontier (VERDICT r1 #6).  In recrawl mode (P1),
        # source URLs stay in the frontier (no tombstone) and build_wave
        # gates them on the host's source_next_due cadence clock.
        tombstones = (
            wave_df.where(~is_src).select("url_hash")
            if cfg.recrawl_sources
            else wave_df.select("url_hash")
        )

        flagged_obs = flagged.observe(
            obs_f, F.sum(F.col("_maybe_seen").cast("long")).alias("n")
        )
        # driver plan construction only: the extraction job is excluded
        sec_plan = round(time.time() - wave_t0 - sec_fetch, 3)

        # All per-wave table writes are independent of each other — only the
        # MANIFEST order matters (frontier last = the checkpoint).  Staging
        # runs every write from concurrent driver threads (overlapping their
        # fixed job latencies — flat at 1000 executors); the manifests are
        # then microsecond driver-local JSON commits in checkpoint order.
        # Resume-safety is unchanged: a crash mid-wave replays the wave from
        # the last frontier snapshot, and staged dirs are overwrite-idempotent
        # (tests/test_resume.py) — including dirs staged on a wave that
        # turns out empty (no commit; next wave's stage() reuses and
        # overwrites the same version).
        #
        # ONE pool, two dependency tiers.  Tier A — articles, fetch events,
        # order_log, host_state and the flagged count — reads only the
        # checkpointed results and the wave cache, both materialized before
        # the pool starts, so its jobs share no cache fill.  Tier B — the
        # url_seen/frontier stages — needs the flagged count: n_possible
        # picks the dedup join strategy, and the count fills the flagged
        # cache tier B reads.  Submitting tier B the moment fut_flag
        # resolves overlaps the dedup writes with the articles write
        # instead of serializing the two tiers behind a pool barrier.
        #
        # MEASURED DEAD END (r4): submitting tier B CONCURRENTLY with tier A
        # (the previous wave's n_possible as the join-strategy hint) made
        # waves 2–3× slower at local[32], when tier-A jobs still raced the
        # uncached extraction pipeline and blocked task slots on cache-fill
        # locks.  The checkpoint removed that race; whether tier B now
        # gains from the overlap is unmeasured.
        with ThreadPoolExecutor(max_workers=7) as pool:
            fut_articles = pool.submit(t.articles.stage, articles_batch)
            fut_events = None
            if cfg.with_fetch_events:
                from mizzounewscrawler_spark.plans.telemetry import (
                    fetch_events_from_results,
                )

                fut_events = pool.submit(
                    t.fetch_events.stage,
                    fetch_events_from_results(results, wave, wave_ts).coalesce(
                        small_n
                    ),
                )
            fut_order = (
                pool.submit(
                    t.order_log.stage,
                    wave_df.select(
                        F.lit(wave).alias("wave"), "seq", "url_surt",
                        "url_hash", "host",
                    ),
                )
                if cfg.with_order_log
                else None
            )
            fut_host = pool.submit(
                t.host_state.stage, host_state_next.coalesce(small_n)
            )
            fut_flag = pool.submit(flagged_obs.count)
            n_cand = fut_flag.result()  # materializes the flagged cache
            n_possible = int(obs_f.get["n"] or 0)
            sec_flag = round(time.time() - wave_t0, 3)

            # Idle-wave gate (ADVICE r3): when nothing was discoverable AND
            # nothing was scheduled (every pending host in backoff), skip the
            # tier-B dedup/frontier staging entirely — its staged output
            # would be discarded at the scheduled==0 check below, so staging
            # it is pure wasted per-wave driver latency.  wave_df.isEmpty()
            # is cheap here: the extraction checkpoint already materialized
            # the wave cache, and it only runs when n_cand == 0.
            idle_wave = n_cand == 0 and wave_df.isEmpty()
            fut_seen = fut_frontier = None
            if not idle_wave:
                nfr = filter_unseen_flagged(
                    flagged, seen, n_possible, "url_hash"
                )
                if cfg.trap_guard_max:
                    # INCREMENTAL trap guard, applied AFTER url_seen dedup:
                    # a (host, template) is trapped when its ALL-TIME
                    # admitted URLs (the persisted trap_counts table) plus
                    # THIS wave's genuinely-NEW URLs exceed the cap.
                    # Mining the post-dedup rows is what keeps the
                    # cumulative sum an exact distinct-URL count —
                    # rediscovered links of already-counted URLs are
                    # dedup-dropped before mining, so they never
                    # double-count (pre-dedup candidate mining would
                    # freeze a template below the cap forever once its
                    # admitted URLs keep being rediscovered each wave).
                    # Blocked rows are excluded from BOTH the frontier and
                    # url_seen, so a later cap raise re-admits them.
                    # Per-wave cost: one wave-sized groupBy + one
                    # dimension-sized counts scan — never a frontier
                    # rescan.
                    nfr = _apply_trap_guard(t, nfr, cfg.trap_guard_max)
                new_frontier_rows = nfr.cache()
                held.append(new_frontier_rows)
                fut_seen, fut_frontier = _stage_dedup(
                    pool, t, new_frontier_rows, tombstones, small_n
                )
            staged_articles = fut_articles.result()
            staged_order = fut_order.result() if fut_order is not None else None
            staged_host = fut_host.result()
            staged_events = fut_events.result() if fut_events is not None else None
            if idle_wave:
                staged_seen = staged_frontier = None
            else:
                staged_seen = fut_seen.result()
                staged_frontier = fut_frontier.result()
        r_metrics = obs_r.get
        scheduled = int(r_metrics["n"] or 0)
        fetched_ok = int(r_metrics["ok"] or 0)
        src_scheduled = int(r_metrics["src"] or 0)
        # lineage split: sec_extract = wave start until the flagged count
        # (plan, extraction job, discovery and flag); sec_commit = the rest
        # of the overlapped staging
        sec_extract = sec_flag
        sec_commit = round(time.time() - wave_t0 - sec_extract, 3)
        if scheduled == 0:
            # every pending host is in backoff this wave — advance the
            # virtual clock and retry (bounded by max_waves)
            _release(held)
            frontier = t.frontier.read().where(F.col("status") == "discovered")
            continue

        # post-dedup counters come from the parquet footers of the writes
        # that already ran — no dedicated count jobs
        discovered_new = t.url_seen.staged_rows(staged_seen)
        admitted = t.frontier.staged_rows(staged_frontier)
        if discovered_new == 0:
            staged_seen["has_data"] = False  # keep live_versions tight
        if admitted == 0:
            staged_frontier["has_data"] = False

        t.articles.commit_staged(
            staged_articles, "append", {"wave": wave, "fetched": scheduled}
        )
        t.url_seen.commit_staged(
            staged_seen, "append", {"wave": wave, "added": discovered_new}
        )
        if staged_order is not None:
            t.order_log.commit_staged(staged_order, "append", {"wave": wave})
        if staged_events is not None:
            t.fetch_events.commit_staged(staged_events, "append", {"wave": wave})
        t.host_state.commit_staged(staged_host, "overwrite", {"wave": wave})

        if cfg.trap_guard_max and discovered_new:
            from mizzounewscrawler_spark.operators.verification import (
                mine_url_traps,
            )

            # increment the persisted template counts with this wave's
            # guarded NEW rows — the exact set the guard's wave-side
            # mining counted (post-dedup, so cumulative sums stay exact
            # distinct-URL counts; includes robots-disallowed rows, which
            # also entered url_seen and will never be re-mined)
            wave_new = (
                mine_url_traps(
                    new_frontier_rows.select("url"),
                    max_per_template=cfg.trap_guard_max,
                )
                .select(
                    "host", "template", F.col("n_urls").alias("n"),
                    "example_url",
                )
                .withColumn("wave", F.lit(wave))
            )
            t.trap_counts.append(
                wave_new.coalesce(small_n), {"wave": wave}
            )
            # fold the counts table once live versions pile up: ONE
            # pre-summed row per (host, template) — without this the
            # per-wave totals groupBy re-aggregates O(templates × waves)
            # history rows instead of a dimension-sized table (the
            # overwrite is the table's compaction; amortized like
            # compact_small)
            if cfg.compact_max_live:
                snap_tc = t.trap_counts.current_snapshot()
                if len(snap_tc.live_versions) > cfg.compact_max_live:
                    folded = (
                        t.trap_counts.read()
                        .groupBy("host", "template")
                        .agg(
                            F.sum("n").alias("n"),
                            F.min("example_url").alias("example_url"),
                            F.max("wave").alias("wave"),
                        )
                    )
                    t.trap_counts.overwrite(
                        folded.coalesce(small_n), {"wave": wave}
                    )

        if cfg.neardup_minhash:
            # content near-dup riding the crawl: band this wave's extracted
            # articles, pair them against ALL prior waves via the postings
            # index (never rescanning prior text), then append the wave's
            # postings.  ORDER MATTERS: pairs must materialize against the
            # index as-of the previous wave before the postings append.
            # docs comes from the COMMITTED articles table (a wave-sized
            # parquet re-read with a flat scan plan for the signature jobs).
            docs = (
                t.articles.read()
                .where(
                    (F.col("wave") == wave)
                    & (F.col("status") == "extracted")
                    & F.col("text").isNotNull()
                    & (F.length("text") > 0)
                )
                .select(F.col("url_hash").alias("id"), "text")
            )
            postings = minhash_band_postings(docs, "id", "text").cache()
            held.append(postings)
            pairs = band_self_pairs(postings)
            if t.neardup_postings.exists():
                cross = probe_band_index(
                    postings, t.neardup_postings.read()
                ).select(
                    F.col("new_id").alias("id_a"),
                    F.col("corpus_id").alias("id_b"),
                )
                pairs = pairs.unionByName(cross)
            t.neardup_pairs.append(
                pairs.withColumn("wave", F.lit(wave)).coalesce(small_n),
                {"wave": wave},
            )
            t.neardup_postings.append(
                postings.coalesce(small_n), {"wave": wave}
            )

        # append-heavy compaction (VERDICT r3 wrong #2): bin-pack the small
        # half of each table's live versions once the count exceeds the cap
        # — keeps the per-wave url_seen re-read O(cap) dirs, amortized
        # O(wave) I/O (see lake.compact_small); runs BEFORE the url_seen
        # re-read below so the next wave plans over the packed manifest
        append_heavy = [t.url_seen, t.articles, t.order_log, t.fetch_events]
        if cfg.neardup_minhash:
            append_heavy += [t.neardup_postings, t.neardup_pairs]
        if cfg.trap_guard_max:
            append_heavy += [t.trap_counts]
        if cfg.compact_max_live:
            for tbl in append_heavy:
                tbl.compact_small(cfg.compact_max_live, {"wave": wave})
        if cfg.expire_keep_snapshots:
            # GC the dead pre-compaction history (driver-local file ops;
            # same amortized trigger as compaction — never the frontier)
            for tbl in append_heavy:
                tbl.expire_snapshots(cfg.expire_keep_snapshots)

        seen = t.url_seen.read()
        host_state_df = t.host_state.read()
        t_bloom = time.time()
        if bloom is not None and discovered_new > 0:
            # wave-sized increment: set the new hashes' bits driver-side
            # from the parquet the url_seen stage already wrote (pyarrow
            # footer read, numpy bit ops — no Spark job).  The distributed
            # build_bloom path stays for bulk increments, where shipping
            # the hash column to the driver would not be wave-sized.
            if isinstance(bloom, DiskBloomWriter):
                # increments-from-disk: per-shard read-modify-write of
                # only the touched shard files; driver residency = one
                # shard bitmap.  Bulk increments build a scratch shard
                # dir distributedly and OR-merge it file-by-file.
                if discovered_new <= cfg.bloom_driver_increment_max:
                    bloom.add(
                        t.url_seen.staged_column(staged_seen, "url_hash")
                    )
                else:
                    scratch = f"{shard_dir}.increment"
                    build_bloom_to_dir(
                        t.url_seen.staged_df(staged_seen),
                        scratch,
                        "url_hash",
                        params=(bloom.m, bloom.k),
                        shard_bits=bloom.shard_bits,
                    )
                    bloom.merge_from_dir(scratch)
                    shutil.rmtree(scratch, ignore_errors=True)
            elif isinstance(bloom, (CuckooFilter, PartitionedCuckoo)):
                # deletable variant: in-place driver insert of the wave's
                # new hashes (kick chains are sequential — no merge form);
                # sharded form persists only the shards the insert touched.
                # On CuckooFullError, rebuild at doubled capacity from the
                # just-committed url_seen (the authoritative set) — an
                # amortized O(seen) rebuild instead of a mid-wave crash;
                # the Bloom merely degrades to a higher FPR here.
                try:
                    touched = bloom.insert_many(
                        t.url_seen.staged_column(staged_seen, "url_hash")
                    )
                    if shard_dir is not None and isinstance(
                        bloom, PartitionedCuckoo
                    ):
                        save_cuckoo_shards(bloom, shard_dir, touched)
                except CuckooFullError:
                    bloom = build_cuckoo(
                        seen, "url_hash", bloom.capacity * 2,
                        shard_bits=(
                            cfg.bloom_shard_bits if cfg.bloom_sharded else 0
                        ),
                    )
                    if shard_dir is not None and isinstance(
                        bloom, PartitionedCuckoo
                    ):
                        save_cuckoo_shards(bloom, shard_dir)  # full rewrite
            elif discovered_new <= cfg.bloom_driver_increment_max:
                new_hashes = t.url_seen.staged_column(staged_seen, "url_hash")
                bloom = add_hashes(bloom, new_hashes)
                if shard_dir is not None:
                    # O(touched) shard persistence per wave
                    save_bloom_shards(
                        bloom, shard_dir, touched_shards(bloom, new_hashes)
                    )
            else:
                increment = build_bloom(
                    t.url_seen.staged_df(staged_seen),
                    "url_hash",
                    shard_bits=cfg.bloom_shard_bits,
                    params=bloom_params,
                )
                bloom = merge_blooms(bloom, increment)
                if shard_dir is not None:
                    save_bloom_shards(bloom, shard_dir, increment.shards.keys())
        sec_bloom = round(time.time() - t_bloom, 3)

        # source URLs scheduled in recrawl mode stay in the frontier
        removed = scheduled - (src_scheduled if cfg.recrawl_sources else 0)
        next_size = frontier_size - removed + admitted
        summary = {
            "wave": wave,
            "frontier": frontier_size,
            "scheduled": scheduled,
            "fetched": fetched_ok,
            "failed": scheduled - fetched_ok,
            "discovered": discovered_new,
            "deduped": discovered_new,  # post-dedup admissions to url_seen
            "admitted": admitted,  # robots-allowed frontier admissions
            "next_frontier": next_size,
            "wave_sec": round(time.time() - wave_t0, 3),
            # per-phase lineage: where this wave's time went
            "sec_extract": sec_extract,  # wave start → flagged count:
            #                              plan, extraction job, discovery
            #                              and bloom flag
            "sec_plan": sec_plan,        # ⊂ sec_extract: driver-side plan
            #                              construction only, the extraction
            #                              job excluded (pure fixed cost)
            "sec_commit": sec_commit,    # concurrent staged table writes
            "sec_bloom": sec_bloom,      # bloom increment build + merge
        }
        summary["sec_finalize"] = round(
            time.time() - wave_t0 - sec_extract - sec_commit, 3
        )
        snap = t.frontier.commit_staged(
            staged_frontier, "merge", summary, delete_key_col="url_hash"
        )
        frontier_size = next_size
        # Tombstones cost every reader a broadcast anti-join; once they
        # outnumber the live frontier, pay one O(frontier) rewrite to clear
        # them (Iceberg rewrite-data-files analog). Amortized: compactions
        # are at least a frontier-drain apart.
        if t.frontier.pending_delete_rows() > max(next_size, 10 * scheduled):
            snap = t.frontier.compact({**summary, "compaction": True})
        frontier = t.frontier.read().where(F.col("status") == "discovered")
        stats = {**stats, **summary, "waves_run": stats["waves_run"] + 1,
                 "snapshot": snap.version}
        _release(held)  # perpetual-crawl hygiene
    return stats
