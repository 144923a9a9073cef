"""Adjudicate driver-vs-committed bench records (round-9 verdict #5).

Both the r8 and r9 driver bench records showed a UNIFORM 1.09-1.16x
co-tenant inflation over the builder's same-tree committed take, with a
few per-query outliers that took manual solo re-runs to tell apart from
real regressions (r9: corpus_ngram_diversity_approx, 6.06 s driver vs
2.16 s committed — noise, verified 1.82 s solo). This tool automates
that triage: it normalizes away the uniform environment shift (the
median per-query ratio) and flags only the queries whose ratio is BOTH
large in absolute terms and unexplained by the shift their neighbors
share.

Usage:
  python tools/bench_triage.py DRIVER.json COMMITTED.json
  python tools/bench_triage.py BENCH_FULL.json --git <ref>
      (compares against BENCH_FULL.json as committed at <ref>)
  flags: --abs-ratio 2.0   absolute ratio gate (either direction)
         --rel-ratio 1.8   gate on ratio / median-ratio (the
                           non-uniform-neighbors test)

A record is the bench.py full format: {"queries": {name: seconds}, ...}
(a bare {name: seconds} mapping is accepted too). Exit code 1 if any
query is flagged, 0 otherwise; for each flag it prints a ready-to-paste
SCALING.md note line prompting the solo re-run that adjudicates it.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load_record(path: str, git_ref: str | None = None) -> dict[str, float]:
    if git_ref:
        text = subprocess.run(
            ["git", "show", f"{git_ref}:{os.path.relpath(os.path.abspath(path), ROOT)}"],
            capture_output=True,
            text=True,
            check=True,
            cwd=ROOT,
        ).stdout
    else:
        text = open(path).read()
    d = json.loads(text)
    q = d.get("queries", d)
    return {k: float(v) for k, v in q.items()}


def triage(
    driver: dict[str, float],
    committed: dict[str, float],
    abs_ratio: float = 2.0,
    rel_ratio: float = 1.8,
):
    shared = sorted(set(driver) & set(committed))
    if not shared:
        return None
    ratios = {
        q: driver[q] / committed[q] for q in shared if committed[q] > 0
    }
    med = statistics.median(ratios.values())
    flags = []
    for q, r in sorted(ratios.items(), key=lambda kv: -kv[1]):
        worse = max(r, 1.0 / r)
        # normalize out the uniform environment shift before judging
        rel = (r / med) if r >= med else (med / r)
        if worse >= abs_ratio and rel >= rel_ratio:
            flags.append(
                {
                    "query": q,
                    "driver_s": driver[q],
                    "committed_s": committed[q],
                    "ratio": round(r, 2),
                    "vs_uniform_shift": round(r / med, 2),
                }
            )
    return {
        "shared_queries": len(shared),
        "median_ratio": round(med, 3),
        "uniform_shift_note": (
            "uniform co-tenant signature"
            if 0.85 <= med <= 1.25
            else "NON-uniform medians — environments differ materially"
        ),
        "flags": flags,
    }


def main(argv: list[str]) -> int:
    abs_ratio, rel_ratio, git_ref, paths = 2.0, 1.8, None, []
    it = iter(argv)
    for a in it:
        if a == "--git":
            git_ref = next(it)
        elif a == "--abs-ratio":
            abs_ratio = float(next(it))
        elif a == "--rel-ratio":
            rel_ratio = float(next(it))
        elif a.startswith("--"):
            print(f"bench_triage: unknown flag {a}")
            return 2
        else:
            paths.append(a)
    if git_ref and len(paths) == 1:
        driver = load_record(paths[0])
        committed = load_record(paths[0], git_ref)
    elif len(paths) == 2:
        driver = load_record(paths[0])
        committed = load_record(paths[1])
    else:
        print(__doc__)
        return 2

    out = triage(driver, committed, abs_ratio, rel_ratio)
    if out is None:
        print("bench_triage: no shared queries between the records")
        return 2
    print(
        f"{out['shared_queries']} shared queries, median ratio "
        f"{out['median_ratio']}x ({out['uniform_shift_note']})"
    )
    for f in out["flags"]:
        print(
            f"FLAG {f['query']}: {f['committed_s']:.2f}s -> "
            f"{f['driver_s']:.2f}s ({f['ratio']}x raw, "
            f"{f['vs_uniform_shift']}x after removing the uniform shift)"
        )
        print(
            f"  SCALING.md note: `{f['query']}` driver record "
            f"{f['driver_s']:.2f}s vs committed {f['committed_s']:.2f}s "
            f"({f['ratio']}x, {f['vs_uniform_shift']}x vs the "
            f"{out['median_ratio']}x uniform shift) — solo re-run "
            "(median of 3, idle box) to adjudicate noise vs regression."
        )
    if not out["flags"]:
        print(
            "no per-query outliers beyond the uniform shift "
            f"(gates: {abs_ratio}x absolute, {rel_ratio}x vs median)"
        )
    return 1 if out["flags"] else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
