"""Command-line surface mirroring the reference CLI.

The reference ships a Click CLI (``/root/reference/src/cli/commands/`` —
crawl, discovery_status/pipeline_status, verification, gazetteer,
reports, versioning, telemetry, cleaning/curation, …).  A user switching
engines keeps the same verbs; each subcommand here is a thin argparse
wrapper over the corresponding Spark plan — no logic lives in the CLI.

    python -m mizzounewscrawler_spark.cli <command> …
    # or on a cluster:
    spark-submit --py-files mnc.zip -m … (same args as jobs/crawl_job.py)

Subcommand → reference command → engine plan:

* ``crawl``       → cli/commands/crawl.py        → ``crawl.run_crawl``
* ``status``      → discovery_status.py / pipeline_status.py →
                    lake snapshot summaries + per-status/host counts
* ``verify-urls`` → verification.py              → ``verify_status_expr``
* ``gazetteer``   → gazetteer.py                 → ``geo.build_publisher_gazetteer``
* ``report``      → reports.py / discovery_report.py → ``plans.report.county_report``
* ``export``      → versioning.py (+ BQ shapes)  → ``plans.export.run_bq_export``
* ``telemetry``   → telemetry.py                 → ``plans.telemetry`` rollups
* ``curate``      → cleaning.py / content_cleaning.py → quality gate +
                    exact dedup + hash split (the corpus_curation plan)

Every command builds/gets the active SparkSession via ``getOrCreate`` so
it composes with spark-submit AND with an already-running session in
tests.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def _spark(app: str) -> SparkSession:
    return SparkSession.builder.appName(app).getOrCreate()


def _cmd_crawl(args) -> int:
    from mizzounewscrawler_spark.crawl import CrawlConfig, run_crawl

    spark = _spark("mnc-crawl")
    if args.synthetic:
        h, p, s = (int(x) for x in args.synthetic.split(":"))
        from mizzounewscrawler_spark.sources.generator import generate_web_spark

        pages, seeds, robots = generate_web_spark(
            spark, seed=s, n_hosts=h, target_pages=p
        )
        pages = pages.cache()
    else:
        if not (args.pages and args.seeds and args.robots):
            raise SystemExit("--pages/--seeds/--robots required without --synthetic")
        pages = spark.read.parquet(args.pages)
        seeds = spark.read.parquet(args.seeds)
        robots = spark.read.parquet(args.robots)
    stats = run_crawl(
        spark, pages, seeds, robots, args.out,
        CrawlConfig(max_waves=args.waves, max_per_host=args.max_per_host,
                    trap_guard_max=args.trap_guard),
    )
    print(json.dumps({k: v for k, v in stats.items() if not k.startswith("_")}))
    return 0


def _cmd_status(args) -> int:
    """discovery_status/pipeline_status: table snapshot summaries plus the
    A2 per-status and A1 per-host pending counts, one JSON document."""
    from mizzounewscrawler_spark.crawl import open_tables

    spark = _spark("mnc-status")
    t = open_tables(spark, args.out)
    out: dict = {"tables": {}, "status_counts": {}, "top_hosts": []}
    for name in ("frontier", "url_seen", "articles", "host_state",
                 "order_log", "fetch_events"):
        tbl = getattr(t, name)
        if not tbl.exists():
            continue
        snap = tbl.current_snapshot()
        out["tables"][name] = {
            "version": snap.version,
            "summary": dict(snap.summary),
        }
    if t.articles.exists():
        # one (host, status) aggregation, folded on the driver into both
        # rollups: the result is hosts × statuses rows, not article-sized
        status_counts: dict = {}
        host_counts: dict = {}
        for r in (
            t.articles.read()
            .groupBy("host", "status")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        ):
            st, host, n = r["status"], r["host"], r["n"]
            status_counts[st] = status_counts.get(st, 0) + n
            host_counts[host] = host_counts.get(host, 0) + n
        out["status_counts"] = status_counts
        # n descending, then host ascending with nulls first (Spark's order)
        out["top_hosts"] = [
            [h, n]
            for h, n in sorted(
                host_counts.items(),
                key=lambda kv: (-kv[1], kv[0] is not None, kv[0] or ""),
            )[: args.top]
        ]
    print(json.dumps(out, default=str))
    return 0


def _cmd_verify_urls(args) -> int:
    from mizzounewscrawler_spark.operators.verification import verify_status_expr

    spark = _spark("mnc-verify")
    df = spark.read.parquet(args.input)
    out = df.select(
        "*", verify_status_expr(F.col(args.column)).alias("verify_status")
    )
    out.write.mode("overwrite").parquet(args.output)
    counts = {
        r["verify_status"]: r["n"]
        for r in out.groupBy("verify_status")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    print(json.dumps(counts))
    return 0


def _cmd_gazetteer(args) -> int:
    from mizzounewscrawler_spark.operators.geo import build_publisher_gazetteer

    spark = _spark("mnc-gazetteer")
    gaz = build_publisher_gazetteer(
        spark.read.parquet(args.publishers), spark.read.parquet(args.places)
    )
    gaz.write.mode("overwrite").parquet(args.output)
    print(json.dumps({"entries": gaz.count()}))
    return 0


def _cmd_report(args) -> int:
    from mizzounewscrawler_spark.crawl import open_tables
    from mizzounewscrawler_spark.plans.report import county_report

    spark = _spark("mnc-report")
    t = open_tables(spark, args.out)
    sources = spark.read.parquet(args.sources)
    rep = county_report(t.articles.read(), sources, county=args.county)
    (rep.coalesce(1).write.mode("overwrite")
        .option("header", True).csv(args.csv))
    print(json.dumps({"rows": rep.count()}))
    return 0


def _cmd_export(args) -> int:
    from mizzounewscrawler_spark.crawl import open_tables
    from mizzounewscrawler_spark.plans.export import run_bq_export

    spark = _spark("mnc-export")
    t = open_tables(spark, args.out)
    manifests = run_bq_export(spark, args.dest, t.articles.read())
    print(json.dumps(
        {k: {"rows": v.get("rows"), "files": len(v.get("files", []))}
         for k, v in manifests.items()},
        default=str,
    ))
    return 0


def _cmd_telemetry(args) -> int:
    from mizzounewscrawler_spark.crawl import open_tables
    from mizzounewscrawler_spark.plans.telemetry import (
        host_error_summary,
        method_effectiveness,
    )

    spark = _spark("mnc-telemetry")
    t = open_tables(spark, args.out)
    arts = t.articles.read()
    out = {
        "host_errors": [
            r.asDict()
            for r in host_error_summary(arts)
            .orderBy(F.desc("n"), "host", "error_class")
            .limit(args.top)
            .collect()
        ],
        "method_effectiveness": [
            r.asDict()
            for r in method_effectiveness(arts).limit(args.top).collect()
        ],
    }
    print(json.dumps(out, default=str))
    return 0


def _cmd_curate(args) -> int:
    """The corpus_curation plan over an arbitrary documents parquet:
    lang filter → quality gate → exact dedup keep-first → hash split."""
    from pyspark.sql import Window

    from mizzounewscrawler_spark.functions.text import quality_score_expr
    from mizzounewscrawler_spark.operators.sampling import hash_split

    spark = _spark("mnc-curate")
    d = spark.read.parquet(args.input)
    w = Window.partitionBy(F.md5(F.col("text"))).orderBy(args.id_column)
    kept = (
        d.where((F.col("lang") == args.lang) & (F.trim(F.col("text")) != ""))
        .withColumn("quality", quality_score_expr(F.col("text")))
        .where(F.col("quality") >= args.min_quality)
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
    split = hash_split(kept, args.id_column, {"train": 80, "val": 10, "test": 10})
    split.write.mode("overwrite").partitionBy("split").parquet(args.output)
    stats = {
        r["split"]: r["n"]
        for r in split.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    print(json.dumps(stats))
    return 0


def _cmd_corpus(args) -> int:
    """build_training_corpus over an articles table: gates → exact
    dedup → chunks → packed sequences; writes chunks/ and packed/ under
    --output and prints the one-row stats as JSON.  ``--input`` may be a
    crawl lake dir (reads its articles table), a single LakeTable dir,
    or a plain parquet path — autodetected by layout."""
    import os

    from mizzounewscrawler_spark.lake import LakeTable
    from mizzounewscrawler_spark.plans.pipeline import build_training_corpus

    spark = _spark("mnc-corpus")
    if os.path.isdir(os.path.join(args.input, "articles", "snapshots")):
        arts = LakeTable(spark, os.path.join(args.input, "articles")).read()
    elif os.path.isdir(os.path.join(args.input, "snapshots")):
        arts = LakeTable(spark, args.input).read()
    else:
        arts = spark.read.parquet(args.input)
    if "text_clean" not in arts.columns:
        arts = arts.withColumn("text_clean", F.lit(None).cast("string"))
    out = build_training_corpus(
        arts,
        min_tokens=args.min_tokens,
        min_quality=args.min_quality,
        chunk_size=args.chunk_size,
        chunk_overlap=args.chunk_overlap,
        pack_budget=args.pack_budget,
        neardup=args.neardup,
        cache_intermediates=True,  # 3 actions below share the dedup prefix
    )
    out["chunks"].write.mode("overwrite").parquet(f"{args.output}/chunks")
    out["packed"].write.mode("overwrite").parquet(f"{args.output}/packed")
    print(json.dumps(out["stats"].collect()[0].asDict()))
    return 0


def _cmd_history(args) -> int:
    """Snapshot lineage per lake table (Iceberg table.history() analog),
    and optionally the keyed diff between two snapshots of one table —
    'what did wave N admit/retract' without rewriting anything."""
    from mizzounewscrawler_spark.crawl import open_tables

    spark = _spark("mnc-history")
    t = open_tables(spark, args.out)
    if args.table and args.diff:
        tbl = getattr(t, args.table)
        frm, to = (int(x) for x in args.diff.split(":", 1))
        d = tbl.read(frm)
        key = args.key or ("url_hash" if "url_hash" in d.columns else None)
        changes = tbl.diff(frm, to, key_col=key)
        counts = {
            r["_change"]: r["n"]
            for r in changes.groupBy("_change")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        print(json.dumps({"table": args.table, "from": frm, "to": to,
                          "key": key, "changes": counts}))
        return 0
    out = {}
    for name in ("frontier", "url_seen", "articles", "host_state",
                 "order_log", "fetch_events"):
        tbl = getattr(t, name, None)
        if tbl is not None and tbl.exists():
            out[name] = tbl.history()
    # jobs-table parity: every audited CLI verb appended a run row —
    # list them newest-first (reference Job audit trail,
    # src/models/__init__.py:502-539)
    from mizzounewscrawler_spark.plans.mlops import open_job_runs

    jr = open_job_runs(spark, args.out)
    if jr.exists():
        out["job_runs"] = [
            {k: (v.isoformat() if hasattr(v, "isoformat") else v)
             for k, v in r.asDict().items()}
            for r in jr.read().orderBy(F.desc("started_at")).collect()
        ]
    print(json.dumps(out))
    return 0


def _cmd_sql(args) -> int:
    """Ad-hoc Spark SQL over the engine's tables: every LakeTable under
    --out registers as a temp view (frontier, articles, url_seen, …), and
    every parquet table under --data registers by file stem (the
    TPC-H-ish harness tables).  Prints one JSON line per row (capped by
    --limit) — the reference's psql-against-the-DB workflow without the
    DB."""
    import glob
    import os

    from mizzounewscrawler_spark.lake import read_parquet

    spark = _spark("mnc-sql")
    if args.out:
        from mizzounewscrawler_spark.crawl import open_tables

        t = open_tables(spark, args.out)
        for name in ("frontier", "url_seen", "articles", "host_state",
                     "order_log", "fetch_events"):
            tbl = getattr(t, name, None)
            if tbl is not None and tbl.exists():
                tbl.read().createOrReplaceTempView(name)
    if args.data:
        for p in sorted(glob.glob(os.path.join(args.data, "*.parquet"))):
            stem = os.path.splitext(os.path.basename(p))[0]
            read_parquet(spark, p).createOrReplaceTempView(stem)
    df = spark.sql(args.query)
    for row in df.limit(args.limit).collect():
        print(json.dumps(row.asDict(), default=str))
    return 0


def _cmd_load_sources(args) -> int:
    """Reference load_sources.py: validate the publinks CSV (required
    columns; duplicate url_news; duplicate normalized hosts) and write the
    normalized sources table.  Validation failures exit 1 with the
    reference's remove-duplicates-before-retrying message shape."""
    from mizzounewscrawler_spark.functions.urls import host_expr

    spark = _spark("mnc-load-sources")
    df = spark.read.option("header", True).csv(args.input)
    required = ["host_id", "name", "city", "county", "url_news"]
    missing = [c for c in required if c not in df.columns]
    if missing:
        print(json.dumps({"error": f"missing required columns: {missing}"}))
        return 1
    df = df.withColumn("_host_norm", host_expr(F.col("url_news")))
    errors = []
    for col, label in (("url_news", "url_news"), ("_host_norm", "host")):
        dupes = [
            r[col]
            for r in df.groupBy(col)
            .agg(F.count(F.lit(1)).alias("n"))
            .where(F.col("n") > 1)
            .collect()
        ]
        if dupes:
            # NULLs group together too (empty url_news cells, or hosts the
            # normalizer rejected) — render them as '<null>' instead of
            # letting sorted() raise TypeError on None-vs-str
            shown = sorted("<null>" if v is None else v for v in dupes)
            errors.append(
                f"Duplicate {label} entries detected: {shown}. "
                "Remove duplicates before retrying."
            )
    if errors:
        print(json.dumps({"error": errors}))
        return 1
    out = df.select(
        F.col("_host_norm").alias("host"),
        "name", "city", "county",
        F.col("url_news").alias("url"),
        F.coalesce(F.col("media_type"), F.lit("unknown")).alias("media_type")
        if "media_type" in df.columns else F.lit("unknown").alias("media_type"),
        F.coalesce(F.col("frequency"), F.lit("unknown")).alias("frequency")
        if "frequency" in df.columns else F.lit("unknown").alias("frequency"),
        F.lit("pending").alias("status"),
        F.lit(1).alias("priority"),
    )
    out.write.mode("overwrite").parquet(args.output)
    print(json.dumps({"sources": out.count()}))
    return 0


def _cmd_housekeeping(args) -> int:
    """Reference housekeeping.py restated for the lake: bin-pack small
    snapshot versions, GC expired history, and report stuck records
    (articles whose extraction produced no text)."""
    from mizzounewscrawler_spark.crawl import open_tables

    spark = _spark("mnc-housekeeping")
    t = open_tables(spark, args.out)
    report: dict = {"compacted": {}, "null_text_articles": 0}
    from mizzounewscrawler_spark.plans.mlops import (
        open_job_runs,
        open_model_scores,
    )

    # model_scores / job_runs are append-per-run tables outside the wave
    # loop's amortized compaction — housekeeping is their bin-packer
    extra_tables = {
        "model_scores": open_model_scores(spark, args.out),
        "job_runs": open_job_runs(spark, args.out),
    }
    for name in ("url_seen", "articles", "order_log", "fetch_events",
                 "neardup_postings", "neardup_pairs", "trap_counts",
                 "model_scores", "job_runs"):
        tbl = extra_tables.get(name) or getattr(t, name)
        if not tbl.exists():
            continue
        before = len(tbl.current_snapshot().live_versions)
        tbl.compact_small(args.max_live, {"housekeeping": True})
        if args.keep_snapshots:
            tbl.expire_snapshots(args.keep_snapshots)
        report["compacted"][name] = {
            "live_versions_before": before,
            "live_versions_after": len(tbl.current_snapshot().live_versions),
        }
    if t.articles.exists():
        report["null_text_articles"] = (
            t.articles.read()
            .where(
                (F.col("status") == "extracted")
                & (F.col("text").isNull() | (F.length("text") == 0))
            )
            .count()
        )
    print(json.dumps(report))
    return 0


def _cmd_ml(args) -> int:
    """ML stage with score HISTORY: classify the lake's extracted
    articles, append ml_results-shaped rows to the model_scores table
    (reference: ml_results, src/models/__init__.py:237-268), and print
    the per-label counts of the version just applied.  Re-running with a
    new --model-version grows the history; the county report's J4
    latest-label window picks the newest version per article via
    plans.mlops.labels_view."""
    from mizzounewscrawler_spark.crawl import open_tables
    from mizzounewscrawler_spark.operators.ml import (
        MODEL_VERSION,
        classify_articles,
    )
    from mizzounewscrawler_spark.plans.mlops import (
        model_scores_from_labels,
        open_model_scores,
    )

    spark = _spark("mnc-ml")
    t = open_tables(spark, args.out)
    arts = t.articles.read().where(
        F.col("status").isin("extracted", "cleaned")
        & F.col("text").isNotNull()
    )
    labels = classify_articles(arts)
    # each flag stamps on its own; unset ones keep the classifier's tags
    if args.model_version:
        labels = labels.withColumn("model_version", F.lit(args.model_version))
    if args.label_version is not None:
        labels = labels.withColumn("label_version", F.lit(args.label_version))
    ms = open_model_scores(spark, args.out)
    rows = model_scores_from_labels(
        labels, wave=args.wave
    ).cache()
    ms.append(
        rows.coalesce(4), {"model_version": args.model_version or MODEL_VERSION}
    )
    counts = {
        r["label"]: r["n"]
        for r in rows.where(F.col("rank") == 1)
        .groupBy("label").agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    rows.unpersist()
    print(json.dumps({"scored": sum(counts.values()), "labels": counts}))
    return 0


def _cmd_drift(args) -> int:
    """Label-drift audit over the model_scores history (the query the
    per-model-version score history exists for)."""
    from mizzounewscrawler_spark.plans.mlops import (
        label_drift,
        open_model_scores,
    )

    spark = _spark("mnc-drift")
    ms = open_model_scores(spark, args.out)
    if not ms.exists():
        print(json.dumps({"error": "no model_scores table; run `ml` first"}))
        return 1
    out = [r.asDict() for r in label_drift(ms.read()).collect()]
    print(json.dumps(out))
    return 0


def _cmd_near_dup(args) -> int:
    """Near-duplicate sweep over a documents parquet: MinHash-LSH candidate
    pairs → connected-components clusters → keep-lowest-id verdicts."""
    from mizzounewscrawler_spark.operators.dedup import (
        minhash_lsh_chain_pairs,
        resolve_neardup_clusters,
    )

    spark = _spark("mnc-near-dup")
    docs = spark.read.parquet(args.input).select(
        F.col(args.id_column).alias("id"), F.col(args.text_column).alias("text")
    )
    # chain form: the consumer is connected components, so hot LSH
    # buckets emit O(m) rows with identical clusters (band_chain_pairs)
    pairs = minhash_lsh_chain_pairs(docs, "id", "text")
    verdicts = resolve_neardup_clusters(
        docs.select("id"), pairs, "id"
    ).withColumnRenamed("id", args.id_column)
    verdicts.write.mode("overwrite").parquet(args.output)
    n_dropped = verdicts.where(~F.col("is_kept")).count()
    print(json.dumps({"docs": docs.count(), "dropped": n_dropped}))
    return 0


def _cmd_requeue(args) -> int:
    """Frontier retraction: un-see URLs (url_seen equality-delete + cuckoo
    fingerprint removal) and re-admit them to the frontier as discovered
    rows, so the next crawl run refetches them.  The operational verb for
    the deletable URL-seen variant (north star: cuckoo filter for
    retraction); use after a bad extraction batch or a site-wide fix.

    ``--before-wave`` is the sliding-window-membership form (the
    time-windowed seen-set): every URL whose LATEST fetch wave is older
    than the cutoff expires from the seen set and refetches on the next
    run — recrawl-after-expiry content freshness, built on the same
    retraction machinery.  Composable with ``--url-pattern``."""
    from mizzounewscrawler_spark.crawl import FRONTIER_COLS, open_tables
    from mizzounewscrawler_spark.operators.dedup import (
        delete_from_cuckoo_shards,
        requeue_seen,
    )

    if args.url_pattern is None and args.before_wave is None:
        print(json.dumps({"error": "need --url-pattern and/or --before-wave"}))
        return 1
    spark = _spark("mnc-requeue")
    t = open_tables(spark, args.out)
    arts = t.articles.read()
    if args.before_wave is not None:
        latest = arts.groupBy("url_hash").agg(F.max("wave").alias("_lw"))
        arts = (
            arts.join(latest, "url_hash")
            .where(F.col("wave") == F.col("_lw"))
            .where(F.col("_lw") < args.before_wave)
            .drop("_lw")
        )
    if args.url_pattern is not None:
        arts = arts.where(F.col("url").rlike(args.url_pattern))
    match = (
        arts.select("url", "url_surt", "url_hash", "host", "depth")
        .dropDuplicates(["url_hash"])
        .cache()
    )
    n = match.count()
    if n == 0:
        print(json.dumps({"requeued": 0, "readmitted": 0}))
        return 0
    # O(batch) retraction: the in-memory filter is rebuilt from url_seen
    # at every crawl start, so only PERSISTED filter state needs the
    # fingerprint delete — never build a corpus-sized filter here just to
    # throw it away.  Sharded crawls keep their cuckoo state on disk;
    # delete from exactly the shards this batch routes to.
    from mizzounewscrawler_spark.operators.dedup import CUCKOO_SHARD_SUBDIR

    shard_dir = os.path.join(args.out, CUCKOO_SHARD_SUBDIR)
    if os.path.isdir(shard_dir):
        hashes = [
            r["url_hash"] for r in match.select("url_hash").collect()
        ]
        delete_from_cuckoo_shards(shard_dir, hashes)
    requeue_seen(t.url_seen, None, match)
    # materialize the frontier's accumulated tombstones first: IceLite
    # equality-deletes are not sequence-numbered, so the crawl's old
    # tombstone for these url_hashes would mask the re-append below
    t.frontier.compact({"requeue_compaction": True})
    fr = t.frontier.read()
    ftypes = {f.name: f.dataType for f in fr.schema.fields}
    readmit = (
        match.join(fr.select("url_hash"), "url_hash", "left_anti")
        .withColumn("status", F.lit("discovered"))
        .withColumn("priority", F.lit(0).cast(ftypes["priority"]))
        .withColumn("depth", F.col("depth").cast(ftypes["depth"]))
        .select(*FRONTIER_COLS)
    )
    # the stale article rows stay (append-only history); downstream
    # latest-per-key reads pick the refetched version by wave
    t.frontier.merge(readmit, None, "url_hash", {"requeue": n})
    n_admit = t.frontier.read().where(
        F.col("status") == "discovered"
    ).join(match.select("url_hash"), "url_hash", "left_semi").count()
    print(json.dumps({"requeued": n, "readmitted": n_admit}))
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="mnc-spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    c = sub.add_parser("crawl", help="run the wave crawl (cli/commands/crawl.py)")
    c.add_argument("--out", required=True)
    c.add_argument("--pages"), c.add_argument("--seeds"), c.add_argument("--robots")
    c.add_argument("--synthetic", help="H:P:SEED fixture web instead of tables")
    c.add_argument("--waves", type=int, default=10)
    c.add_argument("--max-per-host", type=int, default=3, dest="max_per_host")
    c.add_argument("--trap-guard", type=int, default=0, dest="trap_guard",
                   help="block URL templates over this distinct-URL cap")
    c.set_defaults(fn=_cmd_crawl)

    s = sub.add_parser("status", help="lake + pipeline status (discovery_status.py)")
    s.add_argument("--out", required=True)
    s.add_argument("--top", type=int, default=10)
    s.set_defaults(fn=_cmd_status)

    v = sub.add_parser("verify-urls", help="F3 verification chain (verification.py)")
    v.add_argument("--input", required=True)
    v.add_argument("--output", required=True)
    v.add_argument("--column", default="url")
    v.set_defaults(fn=_cmd_verify_urls)

    g = sub.add_parser("gazetteer", help="U7 gazetteer build (gazetteer.py)")
    g.add_argument("--publishers", required=True)
    g.add_argument("--places", required=True)
    g.add_argument("--output", required=True)
    g.set_defaults(fn=_cmd_gazetteer)

    r = sub.add_parser("report", help="county report CSV (reports.py)")
    r.add_argument("--out", required=True)
    r.add_argument("--sources", required=True)
    r.add_argument("--csv", required=True)
    r.add_argument("--county")
    r.set_defaults(fn=_cmd_report)

    e = sub.add_parser("export", help="BQ-shaped checksum export (versioning.py)")
    e.add_argument("--out", required=True)
    e.add_argument("--dest", required=True)
    e.set_defaults(fn=_cmd_export)

    tl = sub.add_parser("telemetry", help="A9 rollups (telemetry.py)")
    tl.add_argument("--out", required=True)
    tl.add_argument("--top", type=int, default=24)
    tl.set_defaults(fn=_cmd_telemetry)

    q = sub.add_parser("curate", help="quality gate + dedup + split (cleaning.py)")
    q.add_argument("--input", required=True)
    q.add_argument("--output", required=True)
    q.add_argument("--lang", default="en")
    q.add_argument("--min-quality", type=float, default=0.15, dest="min_quality")
    q.add_argument("--id-column", default="doc_id", dest="id_column")
    q.set_defaults(fn=_cmd_curate)

    cp = sub.add_parser(
        "corpus",
        help="articles -> gated+deduped chunks packed into training "
        "sequences (build_training_corpus)",
    )
    cp.add_argument("--input", required=True)
    cp.add_argument("--output", required=True)
    cp.add_argument("--min-tokens", type=int, default=20, dest="min_tokens")
    cp.add_argument(
        "--min-quality", type=float, default=0.35, dest="min_quality"
    )
    cp.add_argument("--chunk-size", type=int, default=400, dest="chunk_size")
    cp.add_argument(
        "--chunk-overlap", type=int, default=40, dest="chunk_overlap"
    )
    cp.add_argument(
        "--pack-budget", type=int, default=1200, dest="pack_budget"
    )
    cp.add_argument(
        "--neardup", action="store_true",
        help="MinHash-LSH fuzzy dedup after exact dedup",
    )
    cp.set_defaults(fn=_cmd_corpus)

    sq = sub.add_parser(
        "sql", help="ad-hoc Spark SQL over lake tables and/or parquet dirs"
    )
    sq.add_argument("query", help="SQL text")
    sq.add_argument("--out", help="crawl lake dir: registers its tables")
    sq.add_argument(
        "--data", help="parquet dir: registers each file by stem"
    )
    sq.add_argument("--limit", type=int, default=1000)
    sq.set_defaults(fn=_cmd_sql)

    hi = sub.add_parser(
        "history",
        help="snapshot lineage per table; --table X --diff A:B for a "
        "keyed between-snapshots diff",
    )
    hi.add_argument("--out", required=True)
    hi.add_argument("--table")
    hi.add_argument("--diff", help="FROM:TO snapshot versions")
    hi.add_argument("--key", help="diff key column (default url_hash)")
    hi.set_defaults(fn=_cmd_history)

    ml = sub.add_parser(
        "ml",
        help="classify articles -> model_scores history (ml_results parity)",
    )
    ml.add_argument("--out", required=True)
    ml.add_argument("--model-version", dest="model_version")
    ml.add_argument("--label-version", dest="label_version", type=int,
                    help="label_version stamp (default: the classifier's)")
    ml.add_argument("--wave", type=int, default=0,
                    help="applied_wave stamp for the history rows")
    ml.set_defaults(fn=_cmd_ml)

    dr = sub.add_parser(
        "drift",
        help="per-model-version label share audit over model_scores",
    )
    dr.add_argument("--out", required=True)
    dr.set_defaults(fn=_cmd_drift)

    ls = sub.add_parser(
        "load-sources", help="validate + normalize publinks CSV (load_sources.py)"
    )
    ls.add_argument("--input", required=True)
    ls.add_argument("--output", required=True)
    ls.set_defaults(fn=_cmd_load_sources)

    hk = sub.add_parser(
        "housekeeping", help="compaction + GC + stuck-record report (housekeeping.py)"
    )
    hk.add_argument("--out", required=True)
    hk.add_argument("--max-live", type=int, default=8, dest="max_live")
    hk.add_argument(
        "--keep-snapshots", type=int, default=4, dest="keep_snapshots"
    )
    hk.set_defaults(fn=_cmd_housekeeping)

    rq = sub.add_parser(
        "requeue",
        help="un-see URLs (cuckoo + url_seen delete) and readmit to frontier",
    )
    rq.add_argument("--out", required=True)
    rq.add_argument("--url-pattern",
                    help="regex over the article url")
    rq.add_argument("--before-wave", type=int, dest="before_wave",
                    help="sliding-window expiry: requeue every URL whose "
                    "LATEST fetch wave is older than this")
    rq.set_defaults(fn=_cmd_requeue)

    nd = sub.add_parser(
        "near-dup", help="MinHash-LSH near-dup sweep + cluster verdicts"
    )
    nd.add_argument("--input", required=True)
    nd.add_argument("--output", required=True)
    nd.add_argument("--id-column", default="doc_id", dest="id_column")
    nd.add_argument("--text-column", default="text", dest="text_column")
    nd.set_defaults(fn=_cmd_near_dup)
    return p


# Verbs that already WRITE to a crawl lake dir (args.out) get a job_runs
# audit row per execution — the reference's ``jobs`` table
# (src/models/__init__.py:502-539) written per pipeline run.  Read-only
# verbs (status/history/sql) stay side-effect-free.
_AUDITED_VERBS = frozenset(
    {"crawl", "report", "export", "requeue", "housekeeping", "ml"}
)


def _audit_job(args, cmd: str, rc: int, t0) -> None:
    """Best-effort jobs-row append; never fails the verb it audits."""
    out_dir = getattr(args, "out", None)
    if cmd not in _AUDITED_VERBS or not out_dir:
        return
    try:
        from mizzounewscrawler_spark.plans.mlops import record_job_run

        spark = SparkSession.getActiveSession()
        if spark is None:
            return
        params = {
            k: v
            for k, v in vars(args).items()
            if k not in ("fn",) and isinstance(v, (str, int, float, bool))
        }
        record_job_run(
            spark,
            out_dir,
            job_type=cmd,
            job_name=f"mnc-{cmd}",
            started_at=t0,
            exit_status="success" if rc == 0 else "failed",
            params=params,
        )
    except Exception:  # noqa: BLE001 — audit must not mask the verb's result
        pass


def main(argv=None) -> int:
    import datetime as dt

    args = build_parser().parse_args(
        argv if argv is not None else sys.argv[1:]
    )
    t0 = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
    cmd = getattr(args, "cmd", None)
    try:
        rc = args.fn(args)
    except Exception:
        _audit_job(args, cmd, 1, t0)
        raise
    _audit_job(args, cmd, rc, t0)
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
