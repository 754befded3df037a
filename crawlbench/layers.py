"""Per-layer metrics of a traced run, and its span dump.

Naming: ``<layer>.<function>.call_s`` is the median time of one call (for
the lazy plan-building functions this is driver-side plan construction);
``<name>.s`` is the total time spent in the function over the timed
region.  Crawl-phase metrics are medians over committed waves >= 1.  A
metric of a layer the workload does not exercise reads 0.
"""

from __future__ import annotations

import os
import statistics
import time

from tracing import busy_s, output_attrs, p50, scan_rows, spark_jobs

CRAWL_PHASES = ("sec_plan", "sec_extract", "sec_commit", "sec_bloom",
                "sec_finalize")
CALL_S = (
    "crawl.discover_candidates", "scheduler.build_wave",
    "scheduler.update_host_state", "extraction.fetch_and_extract",
    "dedup.bloom_flag", "dedup.filter_unseen_flagged", "lake.read",
)
TOTAL_S = (
    "lake.stage.articles", "lake.stage.url_seen", "lake.stage.frontier",
    "dedup.add_hashes", "dedup.build_bloom", "lake.commit_staged",
    "lake.compact_small", "lake.compact", "lake.rollback",
)
SPARK = ("jobs", "tasks", "task_s", "gc_s", "input_mb", "shuffle_read_mb",
         "shuffle_write_mb", "spill_mb")
# the reads of run.read_mix, in order (the catalog queries follow)
READ_OPS = ["cli.status", "cli.history", "cli.history_diff",
            "cli.sql_frontier", "cli.sql_url_seen", "report.county"]


def read_op_names(headline) -> list[str]:
    return READ_OPS + [f"query.{q}" for q in headline]


def metric_units(headline) -> dict[str, str]:
    """Every per-layer metric name with its unit (BENCHMARK.json order)."""
    u = {"session.build_s": "s"}
    for ph in CRAWL_PHASES:
        u[f"crawl.{ph}_p50"] = "s"
    u.update({"crawl.wave0_s": "s", "crawl.recover_s": "s",
              "crawl.urls_per_s": "1/s"})
    for name in CALL_S:
        u[f"{name}.call_s"] = "s"
    for name in TOTAL_S:
        u[f"{name}.s"] = "s"
    u.update({
        "extraction.scan_rows_per_wave": "rows",
        "extraction.scan_rows_per_fetched": "ratio",
        "lake.files_per_read": "files",
        "lake.bytes_written_per_wave": "bytes",
        "lake.live_versions": "count",
    })
    for k in SPARK:
        u[f"spark.{k}"] = ("count" if k in ("jobs", "tasks")
                           else "MB" if k.endswith("_mb") else "s")
    u.update({"spark.driver_only_s": "s", "spark.core_util": "ratio",
              "read.query_s_p90": "s"})
    for op in read_op_names(headline):
        u[f"read.{op}.s_p50"] = "s"
        u[f"read.{op}.jobs"] = "count"
    return u


def layer_metrics(ctx, cores: int, headline, trace_dir: str) -> dict:
    spark, tr = ctx.spark, ctx.tracer
    t0, t1 = ctx.t0, ctx.t1
    v: dict[str, float] = {k: 0.0 for k in metric_units(headline)}
    v["session.build_s"] = ctx.stages["session"]

    for name in CALL_S:
        v[f"{name}.call_s"] = p50(
            [s["end"] - s["start"] for s in tr.calls(name, t0, t1)]
        )
    for name in TOTAL_S:
        v[f"{name}.s"] = sum(s["end"] - s["start"] for s in tr.calls(name, t0, t1))
    files = [s["files"] for s in tr.calls("lake.read.files", t0, t1)]
    v["lake.files_per_read"] = statistics.mean(files) if files else 0.0

    jobs = spark_jobs(spark, t0, t1)
    for k in SPARK:
        v[f"spark.{k}"] = (len(jobs) if k == "jobs"
                           else sum(j.get(k, 0.0) for j in jobs))
    busy = busy_s(jobs, t0, t1)
    v["spark.driver_only_s"] = ctx.run_s - busy
    v["spark.core_util"] = v["spark.task_s"] / (ctx.run_s * cores)

    # per operation (wave or read op): wall = busy + driver-only by construction
    per_op = []
    for op in ctx.ops:
        js = [j for j in jobs if op["start"] <= j["start"] < op["end"]]
        b = busy_s(js, op["start"], op["end"])
        per_op.append({**op, "wall_s": op["end"] - op["start"], "busy_s": b,
                       "driver_only_s": op["end"] - op["start"] - b,
                       "jobs": len(js),
                       "task_s": sum(j.get("task_s", 0.0) for j in js)})

    if ctx.workload == "lake_read":
        v["read.query_s_p90"] = ctx.detail["query_s_p90"]
        for op in read_op_names(headline):
            mine = [o for o in per_op if o["op"] == op]
            v[f"read.{op}.s_p50"] = p50([o["wall_s"] for o in mine])
            v[f"read.{op}.jobs"] = p50([o["jobs"] for o in mine])
    else:
        waves = ctx.detail["waves"]
        steady = [w for w in waves if w["wave"] >= 1]
        for ph in CRAWL_PHASES:
            v[f"crawl.{ph}_p50"] = p50([w[ph] for w in steady])
        v["crawl.wave0_s"] = next(
            (w["wave_sec"] for w in waves if w["wave"] == 0), 0.0)
        v["crawl.urls_per_s"] = ctx.detail["urls_per_s"]
        v["crawl.recover_s"] = ctx.detail.get("recover_s", 0.0)
        attrs = set().union(*map(output_attrs, ctx.inputs.page_frames))
        scans = scan_rows(spark, attrs, t0, t1)
        rows_w, ratio_w = [], []
        for o in per_op:
            if o["wave"] < 1:
                continue
            n = sum(r for ts, r in scans if o["start"] <= ts < o["end"])
            rows_w.append(n)
            sched = next(w["scheduled"] for w in waves if w["wave"] == o["wave"])
            ratio_w.append(n / sched if sched else 0.0)
            o["scan_rows"] = n
        v["extraction.scan_rows_per_wave"] = p50(rows_w)
        v["extraction.scan_rows_per_fetched"] = p50(ratio_w)
        v["lake.bytes_written_per_wave"] = p50(
            bytes_per_wave(ctx, [w["wave"] for w in steady]))
        v["lake.live_versions"] = live_versions(ctx)

    # spans carry the operation (wave execution or read) they ran in
    for span in tr.spans:
        span["op"] = next(
            (i for i, o in enumerate(per_op)
             if o["start"] <= span["start"] < o["end"]), None)
    tr.dump(
        os.path.join(trace_dir,
                     f"{ctx.workload}-seed{ctx.seed}-{time.time_ns()}.json"),
        {"workload": ctx.workload, "seed": ctx.seed, "t0": t0, "t1": t1,
         "ops": per_op, "jobs": jobs},  # span "op" indexes "ops"
    )
    units = metric_units(headline)
    return {k: {"value": float(v[k]), "unit": units[k]} for k in units}


def _crawl_tables(ctx) -> list:
    from mizzounewscrawler_spark.crawl import open_tables

    t = open_tables(ctx.spark, os.path.join(ctx.run_dir, "lake"))
    return [getattr(t, f) for f in t.__dataclass_fields__]


def bytes_per_wave(ctx, waves: list[int]) -> list[int]:
    out = []
    tables = _crawl_tables(ctx)
    for w in waves:
        n = 0
        for tbl in tables:
            for s in tbl.snapshots():
                if s.summary.get("wave") == w:
                    n += sum(f.get("bytes", 0) for f in s.files + s.delete_files)
        out.append(n)
    return out


def live_versions(ctx) -> int:
    n = 0
    for tbl in _crawl_tables(ctx):
        snap = tbl.current_snapshot()
        if snap is not None:
            n += len(snap.live_versions)
    return n
