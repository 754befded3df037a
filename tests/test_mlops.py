"""model_scores history + job_runs audit tables (VERDICT r4 missing #3 /
next-round #6): the per-model-version score history feeds J4's
latest-label window with zero report change, label drift is auditable
across versions, and every audited CLI verb appends a jobs row the
``history`` verb lists."""

from __future__ import annotations

import json
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from mizzounewscrawler_spark.crawl import CrawlConfig, open_tables, run_crawl
from mizzounewscrawler_spark.operators.ml import classify_articles
from mizzounewscrawler_spark.plans.mlops import (
    label_drift,
    labels_view,
    latest_scores,
    model_scores_from_labels,
    open_job_runs,
    open_model_scores,
    record_job_run,
)
from mizzounewscrawler_spark.plans.report import county_report, latest_labels


@pytest.fixture(scope="module")
def crawl_out(spark, web_spark):
    pages, seeds, robots = web_spark
    out_dir = tempfile.mkdtemp(prefix="mlops_crawl_")
    run_crawl(
        spark, pages, seeds, robots, out_dir,
        CrawlConfig(max_waves=3, with_order_log=False),
    )
    yield out_dir
    shutil.rmtree(out_dir, ignore_errors=True)


def _two_version_history(spark, arts):
    """Score the same articles under two model versions (v2 = the stub
    labels with a deterministic perturbation) and persist both."""
    ex = arts.where(F.col("status") == "extracted")
    v1 = classify_articles(ex)
    # "retrained" model: swap primary/alternate for every 3rd article —
    # a deterministic stand-in for new weights shifting decisions
    flip = F.pmod(F.col("article_id"), F.lit(3)) == 0
    v2 = (
        v1.withColumn("model_version", F.lit("cin-stub-2"))
        .withColumn("label_version", F.lit(2))
        .withColumn(
            "_p",
            F.when(flip, F.col("alternate_label")).otherwise(
                F.col("primary_label")
            ),
        )
        .withColumn(
            "_a",
            F.when(flip, F.col("primary_label")).otherwise(
                F.col("alternate_label")
            ),
        )
        .drop("primary_label", "alternate_label")
        .withColumnRenamed("_p", "primary_label")
        .withColumnRenamed("_a", "alternate_label")
    )
    return v1, v2


def test_score_history_feeds_report_unchanged(spark, crawl_out):
    """The county report computed from the model_scores HISTORY (latest
    version wins per article) must equal the report computed directly from
    the newest classifier output — J4's window, now auditable."""
    t = open_tables(spark, crawl_out)
    arts = t.articles.read().cache()
    v1, v2 = _two_version_history(spark, arts)

    ms = open_model_scores(spark, crawl_out)
    ms.append(model_scores_from_labels(v1, wave=1, job_id="j1").coalesce(2))
    ms.append(model_scores_from_labels(v2, wave=2, job_id="j2").coalesce(2))
    history = ms.read()
    # 2 rows (primary+alternate) per article per version
    n_articles = v1.count()
    assert history.count() == 4 * n_articles

    sources = (
        arts.select("host").distinct()
        .withColumn("name", F.lit("Paper"))
        .withColumn("city", F.lit("Columbia"))
        .withColumn("county", F.lit("Boone"))
    )

    direct = county_report(
        arts, sources,
        labels=v2.withColumnRenamed("primary_confidence", "confidence"),
    )
    from_history = county_report(
        arts, sources,
        labels=labels_view(history).withColumnRenamed(
            "primary_confidence", "confidence"
        ),
    )
    assert sorted(map(tuple, direct.collect())) == sorted(
        map(tuple, from_history.collect())
    )

    # latest_scores == latest_labels over the reconstructed view
    a = sorted(map(tuple, latest_scores(history).collect()))
    b = sorted(
        map(
            tuple,
            latest_labels(
                labels_view(history).withColumnRenamed(
                    "primary_confidence", "confidence"
                )
            ).collect(),
        )
    )
    assert a == b
    arts.unpersist()


def test_label_drift_audit(spark, crawl_out):
    """Drift between versions is visible: the flipped articles change the
    per-version label shares, and shares sum to 1 within each version."""
    t = open_tables(spark, crawl_out)
    arts = t.articles.read()
    v1, v2 = _two_version_history(spark, arts)
    history = model_scores_from_labels(v1, wave=1).unionByName(
        model_scores_from_labels(v2, wave=2)
    )
    drift = label_drift(history).collect()
    by_version: dict = {}
    for r in drift:
        by_version.setdefault(r["model_version"], {})[r["label"]] = r
    assert set(by_version) == {"cin-stub-1", "cin-stub-2"}
    for rows in by_version.values():
        assert sum(r["share"] for r in rows.values()) == pytest.approx(1.0)
    # the deterministic flip changed at least one label's count
    shares1 = {k: r["n"] for k, r in by_version["cin-stub-1"].items()}
    shares2 = {k: r["n"] for k, r in by_version["cin-stub-2"].items()}
    assert shares1 != shares2


def test_cli_verbs_append_job_runs(spark, crawl_out, capsys):
    """Audited verbs write jobs rows; the history verb lists them."""
    from mizzounewscrawler_spark.cli import main

    rc = main(["housekeeping", "--out", crawl_out])
    assert rc == 0
    capsys.readouterr()
    jr = open_job_runs(spark, crawl_out)
    assert jr.exists()
    rows = jr.read().collect()
    assert any(r["job_type"] == "housekeeping" for r in rows)
    r = next(r for r in rows if r["job_type"] == "housekeeping")
    assert r["exit_status"] == "success"
    assert json.loads(r["params"])["out"] == crawl_out

    rc = main(["history", "--out", crawl_out])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert "job_runs" in out
    assert any(j["job_type"] == "housekeeping" for j in out["job_runs"])


def test_record_job_run_direct(spark):
    out = tempfile.mkdtemp(prefix="jobruns_")
    jid = record_job_run(
        spark, out, "crawl", "mnc-crawl",
        params={"waves": 3}, records_processed=100,
    )
    rows = open_job_runs(spark, out).read().collect()
    assert len(rows) == 1
    assert rows[0]["job_id"] == jid
    assert rows[0]["records_processed"] == 100
    assert rows[0]["finished_at"] >= rows[0]["started_at"]
    shutil.rmtree(out, ignore_errors=True)


def test_cli_ml_and_drift_verbs(spark, crawl_out, capsys):
    """`ml` scores the lake's articles into model_scores (job-audited);
    a second version grows the history; `drift` prints the per-version
    shares."""
    from mizzounewscrawler_spark.cli import main

    assert main(["ml", "--out", crawl_out]) == 0
    out1 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out1["scored"] > 0

    assert main([
        "ml", "--out", crawl_out,
        "--model-version", "cin-stub-2", "--label-version", "2",
        "--wave", "1",
    ]) == 0
    capsys.readouterr()

    ms = open_model_scores(spark, crawl_out)
    hist = ms.read()
    versions = {
        r["model_version"] for r in hist.select("model_version").distinct().collect()
    }
    assert versions == {"cin-stub-1", "cin-stub-2"}
    # J4 feed: one latest label per distinct article (the shared
    # module-scoped lake also carries earlier tests' history rows —
    # exactly the accumulation the window is for)
    latest = latest_scores(hist)
    assert (
        latest.count()
        == hist.select("article_id").distinct().count()
        == latest.select("article_id").distinct().count()
    )

    assert main(["drift", "--out", crawl_out]) == 0
    drift = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert {d["model_version"] for d in drift} == {"cin-stub-1", "cin-stub-2"}
    # the ml verb is job-audited
    jr = open_job_runs(spark, crawl_out).read()
    assert jr.where(F.col("job_type") == "ml").count() >= 2


def test_latest_scores_breaks_full_ties_deterministically(spark):
    """Two `ml` runs at the same wave tie on applied_wave, label_version
    and the pinned applied_at: the greatest model_version wins, whatever
    the row order or partitioning of the history."""
    from mizzounewscrawler_spark.functions.dates import REFERENCE_TS
    from mizzounewscrawler_spark.plans.mlops import MODEL_SCORES_DDL

    rows = [
        (aid, mv, "classifier", label, 0.9, 0.9, 1, 1, 0, REFERENCE_TS, None)
        for aid in range(6)
        for mv, label in (("cin-a", "sports"), ("cin-b", "politics"))
    ]
    want = [(aid, "politics", 0.9) for aid in range(6)]
    for order in (rows, rows[::-1]):
        for parts in (1, 4):
            hist = spark.createDataFrame(order, MODEL_SCORES_DDL).repartition(parts)
            got = sorted(map(tuple, latest_scores(hist).collect()))
            assert got == want, (parts, order is rows)


def test_cli_ml_label_version_without_model_version(spark, crawl_out, capsys):
    """--label-version stamps the rows on its own, and the snapshot
    records the classifier's MODEL_VERSION when --model-version is unset."""
    from mizzounewscrawler_spark.cli import main
    from mizzounewscrawler_spark.operators.ml import MODEL_VERSION

    assert main(
        ["ml", "--out", crawl_out, "--label-version", "7", "--wave", "9"]
    ) == 0
    capsys.readouterr()
    ms = open_model_scores(spark, crawl_out)
    stamped = {
        (r["model_version"], r["label_version"])
        for r in ms.read().where(F.col("applied_wave") == 9).collect()
    }
    assert stamped == {(MODEL_VERSION, 7)}
    assert ms.current_snapshot().summary["model_version"] == MODEL_VERSION
