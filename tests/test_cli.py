"""CLI surface (mizzounewscrawler_spark/cli.py) — every subcommand runs
end-to-end against a tiny crawl lake (reference CLI parity:
/root/reference/src/cli/commands/)."""

from __future__ import annotations

import json
import shutil
import tempfile

import pytest

from mizzounewscrawler_spark import cli


@pytest.fixture(scope="module")
def lake(spark):
    out = tempfile.mkdtemp(prefix="cli_lake_")
    rc = cli.main(
        ["crawl", "--out", f"{out}/crawl", "--synthetic", "4:120:7",
         "--waves", "2", "--max-per-host", "30"]
    )
    assert rc == 0
    yield out
    shutil.rmtree(out, ignore_errors=True)


def test_cli_status(lake, spark, capsys):
    assert cli.main(["status", "--out", f"{lake}/crawl", "--top", "3"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert "articles" in out["tables"]
    assert sum(out["status_counts"].values()) > 0
    # the one (host, status) aggregation folds to the per-status counts
    # and the (n desc, host asc) top hosts of separate aggregations
    from pyspark.sql import functions as F

    from mizzounewscrawler_spark.crawl import open_tables

    arts = open_tables(spark, f"{lake}/crawl").articles.read()
    per_status = arts.groupBy("status").agg(F.count(F.lit(1)).alias("n"))
    per_host = arts.groupBy("host").agg(F.count(F.lit(1)).alias("n"))
    assert out["status_counts"] == {r["status"]: r["n"] for r in per_status.collect()}
    assert out["top_hosts"] == [
        [r["host"], r["n"]]
        for r in per_host.orderBy(F.desc("n"), "host").limit(3).collect()
    ]


def test_cli_verify_urls(lake, spark, capsys):
    urls = spark.createDataFrame(
        [("https://h0.example/news/2024/story.html",),
         ("https://bit.ly/x",),
         ("https://h0.example/tag/sports",)],
        "url string",
    )
    urls.write.mode("overwrite").parquet(f"{lake}/urls")
    rc = cli.main(
        ["verify-urls", "--input", f"{lake}/urls", "--output", f"{lake}/verified"]
    )
    assert rc == 0
    counts = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert sum(counts.values()) == 3
    got = spark.read.parquet(f"{lake}/verified")
    assert "verify_status" in got.columns


def test_cli_gazetteer(lake, spark, capsys):
    spark.createDataFrame(
        [("h1", "The Post", "Carthage", "Jasper", "MO", "64836",
          "print", "Weekly", 37.17, -94.31)],
        "host string, name string, city string, county string, state string,"
        " zip string, media_type string, frequency string, lat double,"
        " lon double",
    ).write.mode("overwrite").parquet(f"{lake}/pubs")
    spark.createDataFrame(
        [("Carthage High School", "schools", 37.16, -94.30)],
        "place string, category string, lat double, lon double",
    ).write.mode("overwrite").parquet(f"{lake}/places")
    rc = cli.main(
        ["gazetteer", "--publishers", f"{lake}/pubs", "--places",
         f"{lake}/places", "--output", f"{lake}/gaz"]
    )
    assert rc == 0
    n = json.loads(capsys.readouterr().out.strip().splitlines()[-1])["entries"]
    assert n >= 4  # city, county, county+' county', school, compact alias
    gaz = {r["place"] for r in spark.read.parquet(f"{lake}/gaz").collect()}
    assert "carthage high school" in gaz


def test_cli_report(lake, spark, capsys):
    from mizzounewscrawler_spark.crawl import open_tables

    t = open_tables(spark, f"{lake}/crawl")
    hosts = [r["host"] for r in t.articles.read().select("host").distinct().collect()]
    spark.createDataFrame(
        [(h, f"src {h}", "Springfield", "Greene") for h in hosts],
        "host string, name string, city string, county string",
    ).write.mode("overwrite").parquet(f"{lake}/sources")
    rc = cli.main(
        ["report", "--out", f"{lake}/crawl", "--sources", f"{lake}/sources",
         "--csv", f"{lake}/report_csv"]
    )
    assert rc == 0
    rows = json.loads(capsys.readouterr().out.strip().splitlines()[-1])["rows"]
    assert rows > 0
    got = spark.read.option("header", True).csv(f"{lake}/report_csv")
    assert "county" in got.columns and got.count() == rows


def test_cli_export_and_telemetry_and_curate(lake, spark, capsys):
    assert cli.main(["export", "--out", f"{lake}/crawl",
                     "--dest", f"{lake}/bq"]) == 0
    manifests = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert "articles" in manifests and manifests["articles"]["files"] >= 1

    assert cli.main(["telemetry", "--out", f"{lake}/crawl"]) == 0
    tel = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert tel["host_errors"]

    docs = spark.createDataFrame(
        [(i, "the and of to in is was for with that " * 20, "en")
         for i in range(30)]
        + [(99, "", "en"), (98, "dup text", "fr")],
        "doc_id int, text string, lang string",
    )
    docs.write.mode("overwrite").parquet(f"{lake}/docs")
    rc = cli.main(["curate", "--input", f"{lake}/docs",
                   "--output", f"{lake}/curated"])
    assert rc == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    # 30 identical docs dedup to one surviving row in some split
    assert sum(stats.values()) == 1
    assert spark.read.parquet(f"{lake}/curated").count() == 1


def test_cli_load_sources_validation_and_normalize(lake, spark, capsys):
    import csv
    import os

    path = f"{lake}/publinks.csv"
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["host_id", "name", "city", "county", "url_news",
                    "media_type", "frequency"])
        w.writerow(["1", "A Post", "Carthage", "Jasper",
                    "https://www.a-post.example/news", "print", "Weekly"])
        w.writerow(["2", "B Daily", "Nixa", "Christian",
                    "https://b-daily.example/", "print", "Daily"])
    rc = cli.main(["load-sources", "--input", path,
                   "--output", f"{lake}/sources_norm"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["sources"] == 2
    rows = {r["host"]: r for r in
            spark.read.parquet(f"{lake}/sources_norm").collect()}
    assert "a-post.example" in rows  # www. stripped by host normalization
    assert rows["a-post.example"]["status"] == "pending"

    # duplicate host (same domain, different URL) → reject, exit 1
    with open(path, "a", newline="") as f:
        csv.writer(f).writerow(
            ["3", "A Post Again", "X", "Y",
             "https://a-post.example/other", "print", "Weekly"])
    rc = cli.main(["load-sources", "--input", path,
                   "--output", f"{lake}/sources_norm2"])
    assert rc == 1
    err = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert "Duplicate host" in err["error"][0]
    assert not os.path.exists(f"{lake}/sources_norm2")


def test_cli_housekeeping_and_near_dup(lake, spark, capsys):
    assert cli.main(["housekeeping", "--out", f"{lake}/crawl",
                     "--max-live", "2"]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert "articles" in rep["compacted"]
    after = rep["compacted"]["articles"]["live_versions_after"]
    assert after <= max(2, rep["compacted"]["articles"]["live_versions_before"])

    body = "the quick brown fox jumps over the lazy dog " * 8
    spark.createDataFrame(
        [(1, body), (2, body + "tail"), (3, "completely different words " * 9)],
        "doc_id int, text string",
    ).write.mode("overwrite").parquet(f"{lake}/nd_docs")
    assert cli.main(["near-dup", "--input", f"{lake}/nd_docs",
                     "--output", f"{lake}/nd_out"]) == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res == {"docs": 3, "dropped": 1}
    kept = {r["doc_id"]: r["is_kept"]
            for r in spark.read.parquet(f"{lake}/nd_out").collect()}
    assert kept == {1: True, 2: False, 3: True}


def test_cli_requeue_unsees_and_readmits(lake, spark, capsys):
    """requeue: matched article URLs leave url_seen and reappear in the
    frontier as discovered rows, ready for the next crawl run."""
    from mizzounewscrawler_spark.crawl import open_tables

    t = open_tables(spark, f"{lake}/crawl")
    art = t.articles.read().limit(1).collect()[0]
    url_re = "^" + __import__("re").escape(art["url"]) + "$"
    seen_before = t.url_seen.read().count()

    rc = cli.main(
        ["requeue", "--out", f"{lake}/crawl", "--url-pattern", url_re]
    )
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["requeued"] == 1
    assert out["readmitted"] == 1

    t2 = open_tables(spark, f"{lake}/crawl")
    assert t2.url_seen.read().count() == seen_before - 1
    fr = t2.frontier.read()
    rows = fr.where(fr["url_hash"] == art["url_hash"]).collect()
    assert len(rows) == 1 and rows[0]["status"] == "discovered"

    # full cycle: resuming the crawl (same --out, more waves) refetches the
    # requeued URL — a second article row lands at a later wave
    rc = cli.main(
        ["crawl", "--out", f"{lake}/crawl", "--synthetic", "4:120:7",
         "--waves", "4", "--max-per-host", "30"]
    )
    assert rc == 0
    capsys.readouterr()
    t3 = open_tables(spark, f"{lake}/crawl")
    arts = t3.articles.read()
    refetched = arts.where(arts["url_hash"] == art["url_hash"]).collect()
    waves = sorted(r["wave"] for r in refetched)
    assert len(waves) == 2 and waves[0] == art["wave"] and waves[1] > art["wave"]


def test_cli_corpus_packs_crawl_articles(lake, spark, capsys):
    """`corpus` over the fixture crawl's articles table: gates + dedup +
    chunk + pack end-to-end, stats JSON printed, outputs written."""
    rc = cli.main([
        "corpus",
        "--input", f"{lake}/crawl",
        "--output", f"{lake}/corpus",
        "--min-tokens", "5", "--min-quality", "0.0",
        "--chunk-size", "200", "--pack-budget", "600",
    ])
    assert rc == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["eligible_docs"] > 0
    assert stats["sequences"] > 0
    packed = spark.read.parquet(f"{lake}/corpus/packed")
    assert packed.count() == stats["sequences"]


def test_cli_sql_over_lake_and_data(lake, capsys):
    """`sql` registers lake tables and parquet-dir stems as views and
    streams JSON rows."""
    rc = cli.main([
        "sql",
        "SELECT status, count(*) AS n FROM articles GROUP BY status",
        "--out", f"{lake}/crawl",
    ])
    assert rc == 0
    rows = [json.loads(line)
            for line in capsys.readouterr().out.strip().splitlines()]
    assert rows and all("status" in r and r["n"] > 0 for r in rows)

    rc = cli.main([
        "sql",
        "SELECT count(*) AS n, count(DISTINCT source) AS s FROM documents",
        "--data", "/root/testdata/sf0.001",
    ])
    assert rc == 0
    row = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert row["n"] > 0 and row["s"] > 0


def test_cli_history_and_diff(lake, spark, capsys):
    """`history` lists snapshot lineage; --diff counts keyed adds/removes
    between two article snapshots."""
    rc = cli.main(["history", "--out", f"{lake}/crawl"])
    assert rc == 0
    hist = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert "articles" in hist and len(hist["articles"]) >= 1
    assert all("version" in s for s in hist["articles"])

    versions = [s["version"] for s in hist["articles"]]
    if len(versions) >= 2:
        frm, to = versions[0], versions[-1]
        rc = cli.main(["history", "--out", f"{lake}/crawl",
                       "--table", "articles", "--diff", f"{frm}:{to}"])
        assert rc == 0
        d = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert d["key"] == "url_hash"
        assert d["changes"].get("added", 0) >= 0


def test_laketable_diff_keyed(spark, tmp_path):
    from mizzounewscrawler_spark.lake import LakeTable

    t = LakeTable(spark, str(tmp_path / "tbl"))
    s1 = t.append(spark.createDataFrame(
        [(1, "a"), (2, "b")], "url_hash long, v string"))
    s2 = t.merge(
        appends=spark.createDataFrame([(3, "c")], "url_hash long, v string"),
        delete_keys=spark.createDataFrame([(1,)], "url_hash long"),
        key_col="url_hash",
    )
    changes = {(r["_change"], r["url_hash"])
               for r in t.diff(s1.version, s2.version, "url_hash").collect()}
    assert changes == {("added", 3), ("removed", 1)}
    hist = t.history()
    assert [h["version"] for h in hist] == [s1.version, s2.version]
    assert hist[1]["parent"] == s1.version


def test_cli_requeue_before_wave_expires_and_refetches(spark, capsys):
    """Sliding-window seen expiry: --before-wave requeues every URL whose
    latest fetch is older than the cutoff; a follow-up crawl run
    refetches exactly those."""
    import tempfile

    from mizzounewscrawler_spark.crawl import open_tables

    out = tempfile.mkdtemp(prefix="cli_expiry_")
    assert cli.main(["crawl", "--out", f"{out}/crawl",
                     "--synthetic", "3:90:11", "--waves", "2",
                     "--max-per-host", "20"]) == 0
    capsys.readouterr()
    t = open_tables(spark, f"{out}/crawl")
    arts = t.articles.read()
    waves = sorted(r["wave"] for r in arts.select("wave").distinct().collect())
    assert len(waves) >= 2
    cutoff = waves[-1]  # expire everything fetched before the last wave
    import pyspark.sql.functions as F
    latest = arts.groupBy("url_hash").agg(F.max("wave").alias("w"))
    expected = latest.where(F.col("w") < cutoff).count()
    assert expected > 0
    rc = cli.main(["requeue", "--out", f"{out}/crawl",
                   "--before-wave", str(cutoff)])
    assert rc == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["requeued"] == expected
    assert res["readmitted"] == expected
    # the expired urls are back in the frontier as discovered rows
    fr = t.frontier.read().where(F.col("status") == "discovered")
    assert fr.count() >= expected
