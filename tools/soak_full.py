#!/usr/bin/env python
"""Full-registry sf1 sweep (VERDICT r3 item 7): run EVERY registered
query against the 10x fixtures so scale regressions cannot hide in
unbenched queries. Records per-query status/rows/seconds; any
exception is captured, not fatal.

VARIANCE-AWARE (VERDICT r8 finding #1): a 233-query sweep through one
JVM drifts with session/load noise — r8's soak showed ~13% broad drift
and two 2x outliers on byte-identical code. So any query whose first
run is slow enough to matter (>= --rethreshold seconds) is re-run and
the MIN is recorded (a third run triggers when the first two disagree
by >30%); all raw timings are kept in ``runs`` so a real regression is
distinguishable from one noisy sample.

Usage: python tools/soak_full.py [--sf .scratch/sf1] [--out PATH]
                                 [--rethreshold 3.0]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dlp_rdb_bq_import_spark import harness  # noqa: E402
from dlp_rdb_bq_import_spark.session import get_spark  # noqa: E402


# Oracle-twin queries that are QUADRATIC BY DESIGN (they exist only to
# verify a scalable production path at small fixture scale, and are
# plan-lint-allowlisted as such). Running them at 10x data proves
# nothing except that all-pairs is all-pairs; the production paths they
# verify (e.g. embedding_neardup_lsh) ARE swept.
SKIP_QUADRATIC_TWINS = {
    "embedding_neardup": "exact all-pairs twin of embedding_neardup_lsh "
    "(1.25B candidate pairs at sf1)",
    "record_linkage_scores": "full-audit twin of record_linkage_review: "
    "materializes every scored candidate incl. the non_match bulk — "
    "output quadratic in name-collision density (26.9M rows at sf1); "
    "the bounded review form IS swept",
    "semantic_decontam": "exact |train|x|bench| broadcast-dots twin of "
    "semantic_decontam_lsh (19M pair-dots of dim 64 at sf1, 139.6s); "
    "the banded sign-LSH production form IS swept",
}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=".scratch/sf1")
    ap.add_argument("--out", default=".scratch/soak_full.json")
    ap.add_argument(
        "--fixpoint-bound", type=int, default=0,
        help="override operators.DRIVER_VALUE_BOUND, the one driver-or-"
        "distributed bound of the dual-path operators (graph incl. "
        "union-find CC, k-center, BPE), so the soak TIMES the "
        "distributed loops (default 0 = always distributed; pass -1 "
        "to keep the production bound, in which case the branch guard "
        "may fire)")
    ap.add_argument(
        "--rethreshold",
        type=float,
        default=3.0,
        help="first-run seconds above which a query is re-run for min-of-N",
    )
    args = ap.parse_args()

    spark = get_spark(app_name="soak_full")
    if args.fixpoint_bound >= 0:
        from dlp_rdb_bq_import_spark import operators

        operators.DRIVER_VALUE_BOUND = args.fixpoint_bound
        print(f"fixpoint driver bound overridden to {args.fixpoint_bound}")
    spark.range(1000).count()  # JVM/codegen warmup
    qs = harness.queries()
    results: dict[str, dict] = {}
    for name, why in SKIP_QUADRATIC_TWINS.items():
        if name in qs:
            results[name] = {"status": "skipped_quadratic_twin", "sec": 0.0, "why": why}
            del qs[name]

    def _once(fn, sf: str) -> tuple[int, float, bool]:
        t0 = time.time()
        hits0 = harness._SCRATCH_MEMO_HITS
        n = fn(spark, sf).count()
        memoized = harness._SCRATCH_MEMO_HITS > hits0
        return n, round(time.time() - t0, 2), memoized

    for i, (name, fn) in enumerate(sorted(qs.items())):
        t0 = time.time()
        try:
            n, sec, memo0 = _once(fn, args.sf)
            runs = [sec]
            memoized_rerun = False
            # min-of-N on the slow tail: session noise inflates, it
            # never deflates, so the min is the honest per-query cost
            if sec >= args.rethreshold:
                spark.catalog.clearCache()
                _, s2, m2 = _once(fn, args.sf)
                runs.append(s2)
                memoized_rerun = memoized_rerun or m2
                if abs(runs[0] - runs[1]) / max(min(runs), 0.01) > 0.3:
                    spark.catalog.clearCache()
                    _, s3, m3 = _once(fn, args.sf)
                    runs.append(s3)
                    memoized_rerun = memoized_rerun or m3
            results[name] = {
                "status": "ok",
                "rows": n,
                "sec": min(runs),
                "runs": runs,
            }
            # ADVICE r9: a memo-served re-run measures the warm
            # steady-state path while runs[0] is cold — mark mixed
            # timing semantics so artifact readers can tell them apart
            # (runs[0] is always the cold cost either way).
            if memoized_rerun:
                results[name]["memoized_rerun"] = True
                results[name]["cold_sec"] = runs[0]
            if memo0:
                # even the FIRST run hit a memo another query populated
                results[name]["memoized_first_run"] = True
        except Exception as e:  # capture, keep sweeping
            results[name] = {
                "status": "error",
                "sec": round(time.time() - t0, 2),
                "err": f"{type(e).__name__}: {str(e)[:300]}",
            }
        spark.catalog.clearCache()
        print(
            f"[{i + 1}/{len(qs)}] {name}: {results[name]['status']} "
            f"({results[name]['sec']}s"
            + (
                f", runs={results[name]['runs']}"
                if len(results[name].get("runs", [])) > 1
                else ""
            )
            + ")",
            flush=True,
        )
    errors = {
        k: v
        for k, v in results.items()
        if v["status"] not in ("ok", "skipped_quadratic_twin")
    }
    # registry-count guard (VERDICT r11 task 2): the soak must cover
    # every registered query (skipped quadratic twins still count as
    # covered rows) — fail loudly if the sweep and the registry diverge.
    registered = len(harness.queries())
    if len(results) != registered:
        errors["__registry_count_guard__"] = {
            "status": "error",
            "sec": 0.0,
            "err": f"swept {len(results)} != {registered} registered",
        }
        print(
            f"FAIL registry-count guard: swept {len(results)} != "
            f"{registered} registered"
        )
    # Fixpoint-branch telemetry (r14 verdict task 6): the measured-size
    # driver fast paths mean sf0.1 bench runs may never execute the
    # DISTRIBUTED loops; the sf1 soak is where they must run. Record
    # the per-operator branch counts and FAIL the soak if any fixpoint
    # operator that ran at all never took its distributed branch here
    # (lower its bound for the soak or grow the fixture if this fires).
    from dlp_rdb_bq_import_spark.operators import FIXPOINT_BRANCHES

    branch_counts = {f"{op}:{br}": n for (op, br), n in sorted(FIXPOINT_BRANCHES.items())}
    fixpoint_ops = {op for (op, _br) in FIXPOINT_BRANCHES}
    never_distributed = sorted(
        op for op in fixpoint_ops if FIXPOINT_BRANCHES.get((op, "distributed"), 0) == 0
    )
    for op in never_distributed:
        errors[f"__fixpoint_branch_guard__{op}"] = {
            "status": "error",
            "sec": 0.0,
            "err": f"fixpoint {op} never took its distributed branch at sf1",
        }
        print(f"FAIL fixpoint-branch guard: {op} ran driver-only at sf1")
    out = {
        "sf_dir": args.sf,
        "queries": len(results),
        "registered": registered,
        "errors": len(errors),
        "total_sec": round(sum(v["sec"] for v in results.values()), 1),
        "fixpoint_branches": branch_counts,
        "results": results,
    }
    # MERGE with any existing artifact: auxiliary certified blocks
    # (e.g. edge_staging_comparison, written by a different tool) must
    # survive a re-sweep — the r12 end-of-round soak overwrote one out
    # of the tree (VERDICT r12 finding 2). Standard sweep keys are
    # replaced; unknown top-level keys are preserved.
    if os.path.exists(args.out):
        try:
            with open(args.out) as f:
                prior = json.load(f)
            for k, v in prior.items():
                if k not in out:
                    out[k] = v
        except (json.JSONDecodeError, OSError):
            pass  # corrupt/unreadable prior artifact: write fresh
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1)
    print(f"swept {len(results)} queries, {len(errors)} errors -> {args.out}")
    spark.stop()
    sys.exit(1 if errors else 0)


if __name__ == "__main__":
    main()
