"""IceLite merge-on-read semantics (the frontier's per-wave commit path).

merge() must behave like Iceberg v2 equality deletes under the engine's
never-readmit invariant: appends + delete keys land in one snapshot,
readers see (data ∪ appends) ∖ deletes, time travel still works, and
compact() clears the delete set without changing the visible rows.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mizzounewscrawler_spark.lake import LakeTable  # noqa: E402


def _rows(df):
    return sorted((r["k"], r["v"]) for r in df.collect())


def test_merge_append_and_delete_one_snapshot(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "t"))
    base = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k long, v string")
    t.overwrite(base, {"wave": -1})

    appends = spark.createDataFrame([(4, "d")], "k long, v string")
    deletes = spark.createDataFrame([(2,)], "k long")
    snap = t.merge(appends, deletes, "k", {"wave": 0})

    assert _rows(t.read()) == [(1, "a"), (3, "c"), (4, "d")]
    assert snap.delete_versions and snap.delete_key_col == "k"
    # time travel: the pre-merge snapshot still shows the original rows
    assert _rows(t.read(snap.parent)) == [(1, "a"), (2, "b"), (3, "c")]


def test_merge_accumulates_and_none_sides(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "t2"))
    t.overwrite(
        spark.createDataFrame([(i, "x") for i in range(6)], "k long, v string"),
        {"wave": -1},
    )
    # delete-only wave
    t.merge(None, spark.createDataFrame([(0,), (1,)], "k long"), "k", {"wave": 0})
    # append-only wave
    t.merge(
        spark.createDataFrame([(10, "n")], "k long, v string"), None, "k",
        {"wave": 1},
    )
    # both
    t.merge(
        spark.createDataFrame([(11, "m")], "k long, v string"),
        spark.createDataFrame([(2,)], "k long"),
        "k",
        {"wave": 2},
    )
    assert _rows(t.read()) == [(3, "x"), (4, "x"), (5, "x"), (10, "n"), (11, "m")]
    assert t.pending_delete_rows() == 3


def test_compact_clears_deletes_keeps_rows(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "t3"))
    t.overwrite(
        spark.createDataFrame([(i, "x") for i in range(5)], "k long, v string"),
        {"wave": -1},
    )
    t.merge(
        spark.createDataFrame([(7, "y")], "k long, v string"),
        spark.createDataFrame([(1,), (3,)], "k long"),
        "k",
        {"wave": 0},
    )
    before = _rows(t.read())
    snap = t.compact({"wave": 0})
    assert _rows(t.read()) == before
    assert snap.delete_versions == []
    assert t.pending_delete_rows() == 0
    assert len(snap.live_versions) == 1


def test_overwrite_clears_delete_state(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "t4"))
    t.overwrite(spark.createDataFrame([(1, "a")], "k long, v string"))
    t.merge(None, spark.createDataFrame([(1,)], "k long"), "k")
    assert _rows(t.read()) == []
    t.overwrite(spark.createDataFrame([(1, "z")], "k long, v string"))
    assert _rows(t.read()) == [(1, "z")]
    assert t.current_snapshot().delete_versions == []


def test_bq_export_shapes_and_checksums(spark, tmp_path):
    """S10: the BigQuery-shaped export job produces the exact column
    names/types/order of bigquery/*_schema.json, with an S11 checksum
    manifest per table."""
    from pyspark.sql import functions as F

    from mizzounewscrawler_spark.plans.export import (
        ARTICLES_BQ_COLUMNS,
        ENTITIES_BQ_COLUMNS,
        LABELS_BQ_COLUMNS,
        bq_schema,
        run_bq_export,
    )

    articles = spark.createDataFrame(
        [
            ("https://www.a.test/1", 11, "a.test", "T one", "Jane",
             "extracted", "body text here", "article_block", 0),
            ("https://www.a.test/2", 12, "a.test", "T two", None,
             "paywall", "", "tag_strip", 1),
        ],
        "url string, url_hash long, host string, title string, author string,"
        " status string, text string, method string, wave int",
    ).withColumn("publish_date", F.to_timestamp(F.lit("2024-01-15 12:00:00")))
    sources = spark.createDataFrame(
        [("a.test", "The A Test", "Springfield", "Greene")],
        "host string, name string, city string, county string",
    )
    labels = spark.createDataFrame(
        [(11, 1, "m1", "civic", 0.9, "other", 0.1)],
        "article_id long, label_version int, model_version string,"
        " primary_label string, primary_confidence double,"
        " alternate_label string, alternate_confidence double",
    ).withColumn("applied_at", F.to_timestamp(F.lit("2024-01-16 00:00:00")))
    entities = spark.createDataFrame(
        [(11, "Springfield", "springfield", "GPE")],
        "article_id long, entity_text string, entity_norm string,"
        " entity_label string",
    )
    out = str(tmp_path / "bq")
    manifests = run_bq_export(
        spark, out, articles, sources, labels=labels, entities=entities,
        export_ts=1700000000.0,
    )
    assert set(manifests) == {"articles", "entities", "cin_labels"}
    for name, cols in (
        ("articles", ARTICLES_BQ_COLUMNS),
        ("entities", ENTITIES_BQ_COLUMNS),
        ("cin_labels", LABELS_BQ_COLUMNS),
    ):
        df = spark.read.parquet(f"{out}/{name}/*.parquet")
        assert df.schema == bq_schema(cols), name  # exact names+types+order
        assert LakeTable.verify_export(f"{out}/{name}"), name
    arts = {
        r["id"]: r
        for r in spark.read.parquet(f"{out}/articles/*.parquet").collect()
    }
    assert arts["11"]["county"] == "Greene"
    assert arts["11"]["word_count"] == 3
    assert arts["12"]["word_count"] == 0
    labs = spark.read.parquet(f"{out}/cin_labels/*.parquet").collect()
    assert labs[0]["label"] == "civic" and labs[0]["article_url"].endswith("/1")


def test_per_file_lineage_in_manifest(spark, tmp_path):
    """North rule: snapshot metadata carries per-partition lineage — one
    entry per data/delete file with footer row count + size, auditable
    without reading data (Iceberg manifest DataFile analog)."""
    import json

    t = LakeTable(spark, str(tmp_path / "lin"))
    base = spark.createDataFrame(
        [(i, f"v{i}") for i in range(10)], "k long, v string"
    ).repartition(3)
    t.overwrite(base, {"wave": -1})
    snap = t.merge(
        spark.createDataFrame([(10, "x")], "k long, v string"),
        spark.createDataFrame([(0,)], "k long"),
        "k",
        {"wave": 0},
    )
    # in-memory snapshot
    assert sum(f["rows"] for f in snap.files) == 1
    assert sum(f["rows"] for f in snap.delete_files) == 1
    assert all(f["bytes"] > 0 for f in snap.files + snap.delete_files)
    # and the durable manifest JSON says the same (crash-replay auditable)
    with open(
        os.path.join(str(tmp_path / "lin"), "snapshots", f"v{snap.version:06d}.json")
    ) as f:
        raw = json.load(f)
    assert raw["files"] == snap.files
    assert raw["delete_files"] == snap.delete_files
    # the overwrite snapshot saw the 3 repartitioned files
    first = t.snapshots()[0]
    assert len(first.files) == 3 and sum(f["rows"] for f in first.files) == 10


def test_compact_small_binpacks_and_preserves_rows(spark, tmp_path):
    """VERDICT r3 wrong #2: bin-pack compaction bounds live_versions for
    append-heavy tables without changing the visible rows, and leaves
    merge-on-read deletes in force."""
    t = LakeTable(spark, str(tmp_path / "t"))
    expect = []
    for i in range(10):
        batch = [(i * 10 + j, f"v{i}") for j in range(3)]
        expect.extend(batch)
        df = spark.createDataFrame(batch, "k long, v string")
        if i == 0:
            t.overwrite(df, {"wave": i})
        else:
            t.append(df, {"wave": i})
    assert len(t.current_snapshot().live_versions) == 10
    # a merge-on-read delete that must survive the rewrite
    t.merge(None, spark.createDataFrame([(11,)], "k long"), "k", {"wave": 10})
    expect = [(k, v) for k, v in expect if k != 11]

    snap = t.compact_small(4, {"wave": 10})
    assert snap is not None
    assert snap.summary["compaction"] == "binpack"
    assert len(snap.live_versions) <= 3  # keep 2 biggest + 1 packed
    assert snap.delete_versions, "deletes must carry through rewrite"
    assert _rows(t.read()) == sorted(expect)
    # under the cap → no-op
    assert t.compact_small(4) is None
    # appends keep working afterwards
    t.append(spark.createDataFrame([(999, "z")], "k long, v string"), {"wave": 11})
    assert (999, "z") in _rows(t.read())


def test_crawl_bounded_live_versions_and_equivalence(spark, web_spark):
    """Long-crawl contract: with the bin-pack trigger on, append-heavy
    tables keep a bounded live-version count and the crawl's results are
    identical to a run with compaction disabled."""
    import tempfile

    from mizzounewscrawler_spark.crawl import CrawlConfig, open_tables, run_crawl

    pages, seeds, robots = web_spark
    seen_sets, article_counts = {}, {}
    for cap in (0, 4):
        out = tempfile.mkdtemp(prefix=f"crawl_cap{cap}_")
        cfg = CrawlConfig(max_waves=8, bloom_capacity=10000, compact_max_live=cap)
        run_crawl(spark, pages, seeds, robots, out, cfg)
        t = open_tables(spark, out)
        seen_sets[cap] = sorted(r["url_surt"] for r in t.url_seen.read().collect())
        article_counts[cap] = t.articles.read().count()
        if cap:
            for tbl in (t.url_seen, t.articles, t.order_log):
                n_live = len(tbl.current_snapshot().live_versions)
                assert n_live <= cap + 1, (tbl.path, n_live)
    assert seen_sets[4] == seen_sets[0]
    assert article_counts[4] == article_counts[0]


def test_expire_snapshots_gc_without_changing_current(spark, tmp_path):
    """expire_snapshots removes old manifests AND unreferenced version
    dirs (the GC half compaction lacks), while the current merged view —
    including still-live EARLY versions and merge-on-read deletes — is
    byte-identical before and after."""
    t = LakeTable(spark, str(tmp_path / "gc"))
    t.overwrite(
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"),
        {"wave": -1},
    )
    for i in range(3, 7):
        t.append(spark.createDataFrame([(i, "x")], "k long, v string"))
    t.merge(None, spark.createDataFrame([(3,)], "k long"), "k", {"wave": 9})
    before = sorted((r["k"], r["v"]) for r in t.read().collect())
    n_snaps = len(t.snapshots())
    assert n_snaps == 6

    stats = t.expire_snapshots(keep_last=2)
    assert stats["expired_snapshots"] == n_snaps - 2
    assert len(t.snapshots()) == 2
    after = sorted((r["k"], r["v"]) for r in t.read().collect())
    assert after == before  # current view untouched
    # v0 (the overwrite) is STILL live in the retained snapshots → its dir
    # must survive even though its own manifest was expired
    assert os.path.isdir(t._data_dir(0))
    # a second expire is a no-op
    assert t.expire_snapshots(keep_last=2)["expired_snapshots"] == 0


def test_expire_snapshots_removes_dead_compacted_history(spark, tmp_path):
    """After a full compact, every pre-compaction data dir is dead; expire
    with keep_last=1 must delete them all and reads must still work."""
    t = LakeTable(spark, str(tmp_path / "gc2"))
    for i in range(5):
        t.append(spark.createDataFrame([(i,)], "k long"))
    t.compact()
    live = set(t.current_snapshot().live_versions)
    before = sorted(r["k"] for r in t.read().collect())
    stats = t.expire_snapshots(keep_last=1)
    assert stats["removed_dirs"] >= 5  # the five pre-compaction appends
    for v in range(5):
        if v not in live:
            assert not os.path.isdir(t._data_dir(v)), v
    assert sorted(r["k"] for r in t.read().collect()) == before
    import pytest as _pytest

    with _pytest.raises(ValueError):
        t.expire_snapshots(keep_last=0)


def test_crawl_expiration_bounds_history_and_preserves_results(spark, web_spark):
    """With GC on, append-heavy tables keep <= keep_last manifests on disk
    and the crawl's URL-seen set / article count match a no-GC run."""
    import tempfile

    from mizzounewscrawler_spark.crawl import CrawlConfig, open_tables, run_crawl

    pages, seeds, robots = web_spark
    results = {}
    for keep in (0, 2):
        out = tempfile.mkdtemp(prefix=f"crawl_gc{keep}_")
        cfg = CrawlConfig(
            max_waves=8, bloom_capacity=10000, compact_max_live=4,
            expire_keep_snapshots=keep,
        )
        run_crawl(spark, pages, seeds, robots, out, cfg)
        t = open_tables(spark, out)
        results[keep] = (
            sorted(r["url_surt"] for r in t.url_seen.read().collect()),
            t.articles.read().count(),
        )
        if keep:
            for tbl in (t.url_seen, t.articles, t.order_log):
                assert len(tbl.snapshots()) <= keep, tbl.path
            # the frontier's lineage record is never expired
            assert len(t.frontier.snapshots()) > keep
    assert results[2] == results[0]


def test_rollback_and_rollback_exclude_restore_views(spark, tmp_path):
    """rollback re-references an earlier manifest; rollback_exclude
    restores current-minus-orphans even after expire_snapshots pruned
    every pre-crash manifest (the GC-survivable crash-recovery path)."""
    t = LakeTable(spark, str(tmp_path / "tbl"))
    t.append(spark.createDataFrame([(1,), (2,)], "x int"), {"wave": 0})
    t.append(spark.createDataFrame([(3,)], "x int"), {"wave": 1})
    s1 = t.current_snapshot()
    orphan = t.append(spark.createDataFrame([(4,)], "x int"), {"wave": 2})

    # manifest-based rollback (normal crash recovery)
    t.rollback(s1.version, {"wave": 1})
    assert sorted(r["x"] for r in t.read().collect()) == [1, 2, 3]

    # re-orphan, then prune every earlier manifest: only the newest
    # manifests survive, but their data versions keep all dirs alive
    orphan2 = t.append(spark.createDataFrame([(5,)], "x int"), {"wave": 2})
    t.expire_snapshots(1)
    snaps = t.snapshots()
    assert all(s.version >= orphan2.version for s in snaps)
    t.rollback_exclude([orphan2.version], {"wave": 1})
    assert sorted(r["x"] for r in t.read().collect()) == [1, 2, 3]


def _jobs_launched(spark, fn):
    """``(fn(), Spark jobs it launched)``, counted by job group in the
    status tracker.  The tracker fills from the asynchronous listener bus,
    so a sentinel job in a second group is awaited first: once it is
    visible, every job launched before it is too."""
    import time
    import uuid

    sc = spark.sparkContext
    group = f"jobcount-{uuid.uuid4().hex}"
    try:
        sc.setJobGroup(group, "jobs launched by a read")
        result = fn()
        sc.setJobGroup(f"{group}-sentinel", "listener-bus sentinel")
        sc.parallelize([0], 1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    deadline = time.time() + 30
    while not tracker.getJobIdsForGroup(f"{group}-sentinel"):
        assert time.time() < deadline, "sentinel job never reached the tracker"
        time.sleep(0.05)
    return result, len(tracker.getJobIdsForGroup(group))


def _untyped(schema):
    """(name, type) pairs, nullability ignored: Spark reads every parquet
    column back as nullable."""
    return [(f.name, f.dataType.simpleString()) for f in schema.fields]


def test_manifest_schema_plans_crawl_reads(spark, web_spark, tmp_path):
    """Reads are planned from the manifest: after a 2-wave crawl with
    bin-pack compaction and frontier deletes, every snapshot's recorded
    schema equals the schema Spark infers from ALL its data files (merged,
    not one file's footer), delete-key files have the key column's type,
    and opening a table — deletes included — launches no Spark job."""
    from pyspark.sql import types as T

    from mizzounewscrawler_spark.crawl import CrawlConfig, open_tables, run_crawl

    pages, seeds, robots = web_spark
    out = str(tmp_path / "crawl")
    run_crawl(
        spark, pages, seeds, robots, out,
        CrawlConfig(max_waves=2, bloom_capacity=10000, compact_max_live=1),
    )
    t = open_tables(spark, out)
    tables = [tbl for tbl in vars(t).values() if tbl.exists()]
    assert {"frontier", "url_seen", "articles", "host_state"} <= {
        os.path.basename(tbl.path) for tbl in tables
    }
    binpacked = with_deletes = 0
    for tbl in tables:
        for snap in tbl.snapshots():
            binpacked += snap.summary.get("compaction") == "binpack"
            if not snap.live_versions:
                continue
            schema = T.StructType.fromJson(json.loads(snap.schema_json))
            inferred = spark.read.option("mergeSchema", "true").parquet(
                *[tbl._data_dir(v) for v in snap.live_versions]
            ).schema
            assert _untyped(schema) == _untyped(inferred), (tbl.path, snap.version)
            if snap.delete_versions:
                with_deletes += 1
                dk = spark.read.option("mergeSchema", "true").parquet(
                    *[tbl._delete_dir(v) for v in snap.delete_versions]
                ).schema
                assert _untyped(dk) == _untyped(
                    T.StructType([schema[snap.delete_key_col]])
                ), (tbl.path, snap.version)
                _, jobs = _jobs_launched(spark, lambda: tbl.read(snap.version))
                assert jobs == 0, (tbl.path, snap.version)
    assert binpacked and with_deletes
    for tbl in tables:
        assert _jobs_launched(spark, tbl.read)[1] == 0, tbl.path
    # the planned read returns the rows an inferred read does
    fr = t.frontier.current_snapshot()
    plain = spark.read.parquet(
        *[t.frontier._data_dir(v) for v in fr.live_versions]
    )
    if fr.delete_versions:
        deletes = [t.frontier._delete_dir(v) for v in fr.delete_versions]
        plain = plain.join(spark.read.parquet(*deletes), "url_hash", "left_anti")
    assert sorted(map(tuple, t.frontier.read().collect())) == sorted(
        map(tuple, plain.collect())
    )


def test_read_parquet_memo_zero_jobs_and_invalidation(spark, tmp_path):
    """A repeat catalog read of an unchanged path launches no job; a path
    rewritten with a new schema is inferred again."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mizzounewscrawler_spark.plans.relational import t as catalog_read

    path = tmp_path / "docs.parquet"
    pq.write_table(pa.table({"doc_id": [1, 2], "text": ["a", "b"]}), path)
    first, jobs = _jobs_launched(
        spark, lambda: catalog_read(spark, str(tmp_path), "docs")
    )
    assert jobs >= 1  # inference is observable, so the 0 below is not vacuous
    again, jobs = _jobs_launched(
        spark, lambda: catalog_read(spark, str(tmp_path), "docs")
    )
    assert jobs == 0
    assert again.schema == first.schema
    assert sorted(map(tuple, again.collect())) == [(1, "a"), (2, "b")]

    tmp = tmp_path / "docs.parquet.tmp"
    pq.write_table(
        pa.table({"doc_id": [3], "title_of_the_document": ["c"], "n": [1.5]}),
        tmp,
    )
    os.replace(tmp, path)
    after = catalog_read(spark, str(tmp_path), "docs")
    assert after.columns == ["doc_id", "title_of_the_document", "n"]
    assert [tuple(r) for r in after.collect()] == [(3, "c", 1.5)]
