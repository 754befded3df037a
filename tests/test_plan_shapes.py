"""Physical-plan regression tests: the plan *shapes* the 100-TB story rests
on, pinned so a refactor can't silently regress them (VERDICT r3 "Plan
audit" items).

Checked via ``explain`` output rather than timings — timings on this shared
box are weather, plan shapes are facts:

* filters and column pruning reach the parquet scan (``PushedFilters`` /
  narrow ``ReadSchema``) — a scan that reads all columns for a 2-column
  projection would read ~10x the bytes at 100 TB;
* dimension joins broadcast (no shuffle of the fact side on small dims);
* the hot relational path stays inside whole-stage codegen;
* no row-at-a-time Python (``BatchEvalPython``) anywhere in the catalog —
  Python is allowed only Arrow-vectorized (``ArrowEvalPython`` /
  ``MapInPandas`` / ``FlatMapGroupsInPandas``).
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


def _plan(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def test_pricing_summary_pushes_filter_and_prunes_columns(spark):
    q = entrymod.queries()["pricing_summary"]
    plan = _plan(q(spark, SF_DIR))
    assert "PushedFilters: [" in plan
    assert "l_shipdate" in plan.split("PushedFilters")[1].split("]")[0]
    # ReadSchema must NOT include unused wide columns (column pruning).
    read_schema = plan.split("ReadSchema: ")[1].splitlines()[0]
    assert "l_comment" not in read_schema
    assert "l_shipinstruct" not in read_schema


def test_pricing_summary_stays_in_whole_stage_codegen(spark):
    # An unexecuted AdaptiveSparkPlan reports 0 codegen subtrees, so assert
    # on the static plan — AQE only re-plans exchanges, the codegen spans
    # between them are the same ones the static plan shows.
    q = entrymod.queries()["pricing_summary"]
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = _plan(q(spark, SF_DIR), mode="codegen")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert "WholeStageCodegen" in plan
    assert "Found 0 WholeStageCodegen" not in plan


def test_report_multi_join_broadcasts_dimensions(spark):
    q = entrymod.queries()["report_multi_join"]
    plan = _plan(q(spark, SF_DIR), mode="simple")
    assert "BroadcastHashJoin" in plan
    # The fact side must not be exchanged for the dim joins alone; at least
    # one broadcast exchange must exist (dims ship to the fact, not v.v.).
    assert "BroadcastExchange" in plan


def test_no_row_at_a_time_python_in_any_catalog_query(spark):
    """Python in the catalog is Arrow-vectorized only.  BatchEvalPython is
    the row-at-a-time pickle path — 10-100x slower than Arrow; it must never
    appear in a plan."""
    for name, q in sorted(entrymod.queries().items()):
        try:
            plan = _plan(q(spark, SF_DIR), mode="simple")
        except Exception:
            pytest.fail(f"{name}: failed to build a plan at sf0.001")
        assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python UDF"


def test_recency_filter_reaches_scan(spark):
    # F6/P12 recency window: both date bounds must push into the scan —
    # at 100 TB with date-partitioned data this is the partition-pruning
    # path, not a post-scan filter.
    q = entrymod.queries()["recency_filter"]
    plan = _plan(q(spark, SF_DIR))
    pushed = plan.split("PushedFilters: [")[1].split("]")[0]
    assert "GreaterThanOrEqual(l_shipdate" in pushed
    assert "LessThan(l_shipdate" in pushed


def test_temporal_joins_plan_no_cartesian(spark):
    """asof_join must plan as window-over-union (single keyed exchange);
    range_join as an equi-join on (key, day).  Neither may fall back to a
    cartesian / broadcast-nested-loop plan — that is the whole point of
    their construction."""
    for name in ("asof_join_latest_order", "range_join_windows"):
        q = entrymod.queries()[name]
        plan = _plan(q(spark, SF_DIR), mode="simple")
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
    plan = _plan(entrymod.queries()["asof_join_latest_order"](spark, SF_DIR), "simple")
    assert "Window" in plan


def test_corpus_curation_two_exchanges_and_scan_filter(spark):
    """The curation composite (filter → quality gate → dedup window →
    hash split → agg) must stay at exactly two exchanges — the dedup
    window's and the final groupBy's.  The split assignment and quality
    gate are per-row maps; a third exchange would mean one of them
    started shuffling.  The lang filter must reach the parquet scan."""
    q = entrymod.queries()["corpus_curation"]
    df = q(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 2, plan
    formatted = _plan(df)
    pushed = formatted.split("PushedFilters: [")[1].split("]")[0]
    assert "EqualTo(lang,en)" in pushed


def test_classifier_score_single_doc_exchange(spark):
    """quality_classifier scoring: explode → broadcast model join → ONE
    doc-keyed Exchange (plus the training side's token exchange); no
    per-(doc, token) tf stage, no Python eval."""
    import pyspark.sql.functions as F

    from mizzounewscrawler_spark.operators.classifier import (
        classifier_score,
        classifier_weights,
    )

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    w = classifier_weights(d, F.col("lang") == "en")
    plan = _plan(classifier_score(d, w), mode="simple")
    # scoring + training = exactly 2 data exchanges; broadcast exchanges
    # are separate operators and don't count
    assert plan.count("Exchange hashpartitioning") == 2
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan


def test_hll_registers_single_bucket_exchange(spark):
    """HLL sketching: one Exchange on the 2^p bucket key, partial max
    map-side; whole pipeline JVM-native."""
    from mizzounewscrawler_spark.operators.sketches import hll_registers

    d = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    plan = _plan(hll_registers(d, "l_orderkey"), mode="simple")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_max" in plan
    assert "BatchEvalPython" not in plan and "EvalPython" not in plan


def test_band_chain_pairs_plan_has_no_join(spark):
    """The hot-bucket-safe chain form must be window-shaped (one exchange
    on (band,bucket), no self-join) while the clique form is join-shaped —
    the structural difference that turns O(m^2) into O(m)."""
    from mizzounewscrawler_spark.operators.dedup import (
        band_chain_pairs,
        band_self_pairs,
    )

    postings = spark.createDataFrame(
        [(0, 7, i) for i in range(5)], "band int, bucket long, id long"
    )
    chain_plan = band_chain_pairs(postings)._jdf.queryExecution().executedPlan().toString()
    clique_plan = band_self_pairs(postings)._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in chain_plan
    assert "Window" in chain_plan
    assert "Join" in clique_plan

