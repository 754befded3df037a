"""The benchmark's own smoke test, at toy size (about five minutes):

    python3 crawlbench/smoke.py

1. ``discover_resume`` untraced and traced: both correct, with identical
   lake fingerprints; the crash left orphan snapshots and the resume rolled
   them back.
2. ``discover_resume`` with one stored expected value corrupted: the run
   reports failed operations and ``correct: false``.
3. ``lake_read`` traced: correct, with a latency for every read of the
   mix; then untraced with one stored row hash corrupted: exactly that
   read is a failed operation.

Exits 0 when every check holds.
"""

from __future__ import annotations

import contextlib
import glob
import io
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402 — the benchmark's own module

TOY_WEB = {"discover_resume": (8, 300), "lake_read": (8, 300)}
SEED = 0
SECONDS = 30


def one_run(workload: str, trace: int, expected: dict | None) -> tuple[dict, dict]:
    """Run one workload in this process; returns (printed result, saved
    result file)."""
    run.load_expected = lambda: {workload: {
        run.expect_key(workload, SEED, SECONDS): expected}} if expected else {}
    saved = os.path.join(run.WORK, "*", "*.json")  # results/ and trace/
    before = set(glob.glob(saved))
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        rc = run.main(["--workload", workload, "--seed", str(SEED),
                       "--seconds", str(SECONDS), "--trace", str(trace)])
    assert rc == 0, rc
    printed = json.loads(out.getvalue().strip().splitlines()[-1])
    new = set(glob.glob(saved)) - before
    (path,) = [p for p in new if os.sep + "results" + os.sep in p]
    with open(path) as f:
        record = json.load(f)
    for p in new:  # toy-size runs must not mix into report.py's figures
        os.remove(p)
    return printed, record


def main() -> int:
    run.WEB = TOY_WEB
    failures = []

    def check(cond: bool, what: str) -> None:
        print(("ok   " if cond else "FAIL ") + what, flush=True)
        if not cond:
            failures.append(what)

    plain, plain_saved = one_run("discover_resume", 0, None)
    check(plain["correct"] and plain["failed"] == 0,
          "discover_resume untraced run is correct")
    check(set(plain["metrics"]) == set(run.END_TO_END),
          "untraced run prints every end-to-end metric")
    checks = plain_saved["checks"]
    check(checks["orphans_after_crash"] > 0,
          "the crash left orphan side-table snapshots")
    check(checks["rollback_commits"] > 0, "the resume rolled them back")

    traced, traced_saved = one_run("discover_resume", 1, None)
    check(traced["correct"], "discover_resume traced run is correct")
    check(traced_saved["detail"]["fingerprint"]
          == plain_saved["detail"]["fingerprint"],
          "traced and untraced lake fingerprints are identical")
    from layers import metric_units

    check(set(traced["metrics"]) == set(metric_units(run.HEADLINE)),
          "traced run prints every per-layer metric")

    bad = dict(plain_saved["detail"]["fingerprint"])
    bad["articles"] += 1
    corrupt, _ = one_run("discover_resume", 0, bad)
    check(not corrupt["correct"] and corrupt["failed"] > 0,
          "a corrupted expected fingerprint is reported as failed")

    reads, reads_saved = one_run("lake_read", 1, None)
    check(reads["correct"], "lake_read traced run is correct")
    check(all(m["value"] > 0 for k, m in reads["metrics"].items()
              if k.startswith("read.") and k.endswith(".s_p50")),
          "every read of the mix has a per-layer latency")
    hashes = dict(reads_saved["detail"]["hashes"])
    hashes["query.token_stats"] = "0" * 64
    corrupt, _ = one_run("lake_read", 0, hashes)
    check(not corrupt["correct"] and corrupt["failed"] == 1,
          "a corrupted expected row hash is one failed read")

    print("smoke:", "FAILED " + "; ".join(failures) if failures else "passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
