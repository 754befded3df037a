"""Model-score history (``model_scores``) + job-run audit (``job_runs``)
lake tables — parity for the reference's ``ml_results`` and ``jobs`` ORM
models (/root/reference/src/models/__init__.py:237-268 and 502-539).

The reference keeps EVERY classifier/NER result keyed by
(article, model_version) so label drift between model versions is
auditable, and writes one ``jobs`` row per pipeline execution (type,
params, timings, record counts).  The engine's lineage so far lived in
snapshot summaries + the order log; these two small tables close the gap:

- ``model_scores``: one row per (article, model_version, model_type,
  rank) — the ml_results shape flattened (rank 1 = primary, rank 2 =
  alternate instead of a JSON ``details`` blob).  Append-only, wave-
  stamped (the virtual clock — no wall-time nondeterminism), compacts
  like every other append-heavy table.  ``labels_view`` reconstructs the
  article_labels top-2 shape from the history so the county report (J4's
  latest-label window) runs UNCHANGED off the score history —
  ``tests/test_mlops.py`` pins report-parity between the direct
  classifier output and the history-mediated path.
- ``label_drift``: the audit query the history exists for — per
  (model_version, label) row counts + mean score/confidence, so a rising
  label share across versions is one groupBy away.
- ``job_runs``: one appended row per CLI verb execution (type, name,
  params JSON, started/finished, exit status, record counters).  Not an
  oracle table (wall timestamps + uuid job ids are inherently
  nondeterministic); the ``history`` verb lists it.

Scale: both tables are dimension-to-fact-sized appends (model_scores is
2 rows per scored article per version — partitioned by the uniform
article_id key; job_runs is rows-per-invocation).  No shuffles beyond
the one groupBy in ``label_drift``; ``latest_scores``' window keys on
article_id, the same uniform key every J4 plan already uses.
"""

from __future__ import annotations

import datetime as dt
import json
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

MODEL_SCORES_DDL = (
    "article_id long, model_version string, model_type string, "
    "label string, score double, confidence double, rank int, "
    "label_version int, applied_wave int, applied_at timestamp, "
    "job_id string"
)

JOB_RUNS_DDL = (
    "job_id string, job_type string, job_name string, "
    "started_at timestamp, finished_at timestamp, exit_status string, "
    "params string, records_processed long, records_created long, "
    "errors_count long"
)


def model_scores_from_labels(
    labels: DataFrame,
    model_type: str = "classifier",
    wave: int = 0,
    job_id: str | None = None,
) -> DataFrame:
    """``classify_articles`` top-2 output → ml_results-shaped history rows.

    Two rows per article (rank 1 = primary, rank 2 = alternate) — the
    flattened form of MLResult's label/score/confidence + details.  Pure
    column projections; rides whatever plan produced ``labels``."""
    common = [
        F.col("article_id"),
        F.col("model_version"),
        F.lit(model_type).alias("model_type"),
    ]
    tail = [
        F.col("label_version"),
        F.lit(wave).alias("applied_wave"),
        F.col("applied_at"),
        F.lit(job_id).cast("string").alias("job_id"),
    ]
    prim = labels.select(
        *common,
        F.col("primary_label").alias("label"),
        F.col("primary_confidence").alias("score"),
        F.col("primary_confidence").alias("confidence"),
        F.lit(1).alias("rank"),
        *tail,
    )
    alt = labels.select(
        *common,
        F.col("alternate_label").alias("label"),
        F.col("alternate_confidence").alias("score"),
        F.col("alternate_confidence").alias("confidence"),
        F.lit(2).alias("rank"),
        *tail,
    )
    return prim.unionByName(alt)


def labels_view(
    scores: DataFrame, model_type: str = "classifier"
) -> DataFrame:
    """Reconstruct the article_labels top-2 shape from the score history —
    the bridge that lets ``county_report`` (and its J4 latest-label
    window) run off ``model_scores`` with zero result change.  One
    self-equi-join on the (article_id, model_version, label_version)
    composite — both sides are the same partitioned scan, and the key is
    uniform (article-keyed)."""
    base = scores.where(F.col("model_type") == model_type)
    prim = base.where(F.col("rank") == 1).select(
        "article_id",
        "label_version",
        "model_version",
        F.col("label").alias("primary_label"),
        F.col("confidence").alias("primary_confidence"),
        "applied_at",
        "applied_wave",
    )
    alt = base.where(F.col("rank") == 2).select(
        "article_id",
        "label_version",
        "model_version",
        F.col("label").alias("alternate_label"),
        F.col("confidence").alias("alternate_confidence"),
    )
    return prim.join(
        alt, ["article_id", "label_version", "model_version"], "left"
    )


def latest_scores(
    scores: DataFrame, model_type: str = "classifier"
) -> DataFrame:
    """J4 feed straight from the history: newest (applied_wave,
    label_version) primary label per article.  Same output columns as
    ``plans.report.latest_labels`` (article_id, primary_label,
    confidence).  Two runs at the same wave tie on every other key
    (applied_at is the pinned clock), so the greatest ``model_version``
    wins, and ``label`` makes the order total."""
    w = Window.partitionBy("article_id").orderBy(
        F.desc("applied_wave"), F.desc("label_version"), F.desc("applied_at"),
        F.desc("model_version"), F.asc("label"),
    )
    return (
        scores.where(
            (F.col("model_type") == model_type) & (F.col("rank") == 1)
        )
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("article_id", F.col("label").alias("primary_label"), "confidence")
    )


def label_drift(
    scores: DataFrame, model_type: str = "classifier"
) -> DataFrame:
    """The audit the score history exists for: per (model_version, label)
    primary-label share + mean score, ordered for side-by-side version
    comparison.  A label whose ``n`` share jumps between versions is
    drift; the reference answers this off ml_results with the same
    GROUP BY."""
    base = scores.where(
        (F.col("model_type") == model_type) & (F.col("rank") == 1)
    )
    totals = base.groupBy("model_version").agg(
        F.count(F.lit(1)).alias("version_n")
    )
    return (
        base.groupBy("model_version", "label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("score"), 6).alias("avg_score"),
            F.round(F.avg("confidence"), 6).alias("avg_confidence"),
        )
        .join(F.broadcast(totals), "model_version")
        .withColumn(
            "share", F.round(F.col("n") / F.col("version_n"), 6)
        )
        .drop("version_n")
        .orderBy("model_version", "label")
    )


# --------------------------------------------------------------------------
# job_runs audit table
# --------------------------------------------------------------------------


def open_model_scores(spark: SparkSession, out_dir: str):
    from mizzounewscrawler_spark.lake import LakeTable

    return LakeTable(spark, f"{out_dir}/model_scores")


def open_job_runs(spark: SparkSession, out_dir: str):
    from mizzounewscrawler_spark.lake import LakeTable

    return LakeTable(spark, f"{out_dir}/job_runs")


def record_job_run(
    spark: SparkSession,
    out_dir: str,
    job_type: str,
    job_name: str | None = None,
    started_at: dt.datetime | None = None,
    exit_status: str = "success",
    params: dict | None = None,
    records_processed: int | None = None,
    records_created: int | None = None,
    errors_count: int = 0,
) -> str:
    """Append one ``jobs``-shaped audit row; returns the job id.

    Driver-local single-row append (one tiny parquet file + snapshot
    commit — the same path every wave summary uses); uuid + wall
    timestamps are fine here because job_runs is an audit table, never an
    oracle input."""
    job_id = str(uuid.uuid4())
    finished = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
    started = started_at or finished
    row = [
        (
            job_id,
            job_type,
            job_name,
            started,
            finished,
            exit_status,
            json.dumps(params or {}, sort_keys=True),
            records_processed,
            records_created,
            errors_count,
        )
    ]
    tbl = open_job_runs(spark, out_dir)
    tbl.append(
        spark.createDataFrame(row, JOB_RUNS_DDL).coalesce(1),
        {"job_type": job_type},
    )
    return job_id
