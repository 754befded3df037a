"""The wave loop materializes each wave's fetch results once, as a local
checkpoint: extraction runs in exactly one SQL execution per wave, no
staged write re-plans it, and every cache, broadcast and checkpoint the
loop makes is released — after a clean crawl and after a crawl that
raised mid-wave."""

from __future__ import annotations

import shutil
import tempfile

import pytest

from mizzounewscrawler_spark.crawl import CrawlConfig, open_tables, run_crawl
from mizzounewscrawler_spark.lake import LakeTable


def _persistent_rdds(spark) -> set[int]:
    ids = spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    return {int(i) for i in ids}


class _Killed(RuntimeError):
    pass


def test_wave_loop_leaks_nothing(spark, web_spark, monkeypatch):
    pages, seeds, robots = web_spark
    before = _persistent_rdds(spark)
    full_dir = tempfile.mkdtemp(prefix="crawl_leak_")
    kill_dir = tempfile.mkdtemp(prefix="crawl_leak_kill_")
    try:
        stats = run_crawl(
            spark, pages, seeds, robots, full_dir, CrawlConfig(max_waves=4)
        )
        assert stats["waves_run"] == 4
        assert _persistent_rdds(spark) - before == set()

        orig = LakeTable.commit_staged

        def commit_staged(self, staged, mode, summary, delete_key_col=""):
            if self.path.rstrip("/").endswith("frontier") and (
                summary or {}
            ).get("wave") == 1:
                raise _Killed("killed at the wave-1 frontier commit")
            return orig(self, staged, mode, summary, delete_key_col)

        monkeypatch.setattr(LakeTable, "commit_staged", commit_staged)
        with pytest.raises(_Killed):
            run_crawl(
                spark, pages, seeds, robots, kill_dir, CrawlConfig(max_waves=4)
            )
        assert _persistent_rdds(spark) - before == set()
    finally:
        shutil.rmtree(full_dir, ignore_errors=True)
        shutil.rmtree(kill_dir, ignore_errors=True)


def _executions_after(spark, last_id: int) -> list[tuple[str, list]]:
    """(physical plan text, [(node name, node desc)]) of every SQL execution
    with an id above ``last_id``, once the listener bus has drained."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    ex = store.executionsList()
    out = []
    for i in range(ex.size()):
        e = ex.apply(i)
        if e.executionId() <= last_id:
            continue
        nodes = store.planGraph(e.executionId()).allNodes()
        out.append((
            e.physicalPlanDescription(),
            [(nodes.apply(k).name(), nodes.apply(k).desc())
             for k in range(nodes.size())],
        ))
    return out


def _last_execution_id(spark) -> int:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    ex = spark._jsparkSession.sharedState().statusStore().executionsList()
    return max(
        (ex.apply(i).executionId() for i in range(ex.size())), default=-1
    )


def _is_extraction(node: tuple) -> bool:
    # the extraction mapInPandas is the one emitting the cascade's columns
    name, desc = node
    return name == "MapInPandas" and "sd_is_wire" in desc


def test_extraction_runs_once_per_wave(spark, web_spark):
    pages, seeds, robots = web_spark
    out_dir = tempfile.mkdtemp(prefix="crawl_lineage_")
    try:
        last = _last_execution_id(spark)
        stats = run_crawl(
            spark, pages, seeds, robots, out_dir, CrawlConfig(max_waves=3)
        )
        executions = _executions_after(spark, last)
        t = open_tables(spark, out_dir)
        waves = {
            s.summary["wave"] for s in t.frontier.snapshots()
            if s.summary.get("wave", -1) >= 0
        }
        assert stats["waves_run"] == len(waves) == 3
        extracting = [
            (plan, nodes) for plan, nodes in executions
            if any(_is_extraction(n) for n in nodes)
        ]
        assert len(extracting) == len(waves)
        writes = [
            (plan, nodes) for plan, nodes in executions
            if "InsertIntoHadoopFsRelationCommand" in plan
        ]
        # articles, host_state, url_seen and frontier stage every wave
        assert len(writes) >= 4 * len(waves)
        for plan, nodes in writes:
            assert not any(_is_extraction(n) for n in nodes), plan
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)
