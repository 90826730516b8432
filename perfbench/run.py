#!/usr/bin/env python3
"""Benchmark of the dedup engine, run from the root of a source checkout:

    python3 perfbench/run.py --workload clips_boilerplate --seed 1 \\
        --seconds 8 --trace 0

Workloads (inputs are generated from --seed; see perfbench/inputs.py):

* ``clips_boilerplate`` — ``jobs/run_dedup.main([... "--local"])`` over the
  FIXTURES.md clips mix plus template families whose text MinHash buckets
  overflow ``bucket_cap``.
* ``doc_queries`` — the nine round-6 bench doc queries of
  ``__spark_entry__.queries()`` over a generated documents/embeddings pair.

``--trace 0`` times the workload with tracing off and prints the
end-to-end metrics, their times corrected for the host's speed (steal and
clock; see common.Timer and common.probe_kernel). ``--trace 1`` runs the
workload once untraced and once in a traced session (Spark event log + one
job group per layer) and prints the per-layer metrics, including the
tracing overhead. Every run checks the program's outputs outside the timed
region; the last line of stdout is ``{"correct", "attempted", "failed",
"metrics"}``, the line before it a detail record with every metric, the
launch settings and the output fingerprints. The process exits 1 when a
check fails and 2 when the checkout does not hold the program.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import shutil
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
PROGRAM_FILES = ("file_deduplicator_spark/session.py", "jobs/run_dedup.py",
                 "__spark_entry__.py")

sys.path.insert(0, str(HERE))

from common import ROOT, Bench  # noqa: E402


WORKLOADS = ("clips_boilerplate", "doc_queries")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in PROGRAM_FILES if not (ROOT / p).is_file()]
    if missing:
        print(f"perfbench: run from the root of a source checkout; missing "
              f"{', '.join(missing)} under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))

    b = Bench(args.workload, args.seed, args.seconds, bool(args.trace))
    b.detail.update({"workload": b.workload, "seed": b.seed,
                     "seconds": b.seconds, "trace": int(b.trace)})
    b.detail["launch"] = b.launch_settings()
    b.probe()
    b.start_rss_sampler()
    try:
        if b.workload == "clips_boilerplate":
            import clips as wl
        else:
            import docs as wl
        metrics = wl.run(b)
    finally:
        b.shutdown()
        peak = b.peak_rss_mb()
        shutil.rmtree(b.work, ignore_errors=True)
        with contextlib.suppress(OSError):
            (ROOT / ".perfbench_work").rmdir()
    if not b.trace:
        metrics["peak_rss_mb"] = (peak, "MB")
        # times and rates scaled to the baseline host's clock; the figures
        # before scaling stay in detail.raw_metrics
        f = b.host_factor()
        b.detail["raw_metrics"] = {k: v for k, (v, _) in metrics.items()}
        metrics = {k: (v / f if u == "s" else v * f if u == "rows/s" else v, u)
                   for k, (v, u) in metrics.items()}
    b.check(b.failed == 0, f"{b.failed} of {b.attempted} operations failed")
    b.detail["attempted"], b.detail["failed"] = b.attempted, b.failed
    b.detail["ops_failed_frac"] = b.failed / max(1, b.attempted)
    b.detail["errors"] = b.errors
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    wanted = {m["name"]: m["unit"] for m in
              spec["per_layer" if b.trace else "end_to_end"]}
    if b.trace:
        # layers this workload does not run read 0
        b.detail["untouched_metrics"] = sorted(set(wanted) - set(metrics))
        metrics = {**{k: (0, u) for k, u in wanted.items()}, **metrics}
    b.detail["metrics"] = {k: {"value": v, "unit": wanted.get(k, u)}
                           for k, (v, u) in metrics.items()}
    correct = not b.errors
    print(json.dumps({"detail": b.detail}, default=str))
    print(json.dumps({
        "correct": correct,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {k: b.detail["metrics"][k] for k in wanted},
    }))
    for e in b.errors:
        print(f"perfbench: check failed: {e}", file=sys.stderr)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
