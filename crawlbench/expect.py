"""Write the expected outputs of each workload, per seed, to expected.json.

    python3 crawlbench/expect.py --workload discover_resume --seeds 0-63 --seconds 30
    python3 crawlbench/expect.py --workload lake_read --seeds 0-19 --seconds 30

``discover_resume``: the lake fingerprint of an uninterrupted crawl, from
the sequential reference simulator (no Spark) — the crash-resumed lake of a
run must equal it.  ``lake_read``: the row hash of every read in the mix,
from this code on a lake it writes.  A run whose seed is not stored falls
back to the simulator (``discover_resume``) or to checking that every pass
returns what the first one did (``lake_read``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import types

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402 — the benchmark's own module


def seed_list(text: str) -> list[int]:
    out: list[int] = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def discover_expected(seeds, seconds: int) -> dict:
    sys.path.insert(0, run.ROOT)
    from mizzounewscrawler_spark.sources.generator import generate_web

    hosts, pages = run.WEB["discover_resume"]
    out = {}
    for seed in seeds:
        web = generate_web(seed=seed, n_hosts=hosts, target_pages=pages)
        out[run.expect_key("discover_resume", seed, seconds)] = (
            run.simulator_fingerprint(web, run.crawl_waves(seconds)))
        print(f"discover_resume seed {seed}: done", file=sys.stderr)
    return out


def read_expected(seeds, seconds: int) -> dict:
    work = os.path.join(run.WORK, "expect")
    run.prepare_env(work)
    spark = run.build_spark(work)
    hosts, pages = run.WEB["lake_read"]
    out = {}
    try:
        for seed in seeds:
            run_dir = os.path.join(work, f"seed{seed}")
            ctx = types.SimpleNamespace(spark=spark, seed=seed, run_dir=run_dir)
            ctx.inputs = run.Inputs(spark, seed, hosts, pages)
            ctx.inputs.generate()
            ctx.inputs.load()
            run.setup_read_lake(ctx)
            out[run.expect_key("lake_read", seed, seconds)] = {
                name: op(True) for name, op in run.read_mix(ctx)
            }
            for df in ctx.inputs.frames:
                df.unpersist()
            shutil.rmtree(run_dir, ignore_errors=True)
            print(f"lake_read seed {seed}: done", file=sys.stderr)
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=run.WORKLOADS)
    ap.add_argument("--seeds", required=True, help="e.g. 0-19 or 1,5,9")
    ap.add_argument("--seconds", type=int, required=True)
    args = ap.parse_args()
    seeds = seed_list(args.seeds)
    if args.workload == "discover_resume":
        new = discover_expected(seeds, args.seconds)
    else:
        new = read_expected(seeds, args.seconds)
    path = os.path.join(HERE, "expected.json")
    data = run.load_expected()
    data.setdefault(args.workload, {}).update(new)
    with open(path, "w") as f:
        json.dump(data, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
