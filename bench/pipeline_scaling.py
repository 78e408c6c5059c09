"""Scaling evidence for the LLM-data-pipeline family (VERDICT r5 #4):
the identical clean_corpus chain (jobs/pipeline_bench.py — gopher →
exact dedup → minhash-LSH → decontaminate → sample → redact) on the
identical deterministic input at two parallelism levels, under the
BASELINE.md protocol (settle until idle, taskset-pinned core budget,
min-of-N attempts). The north-rule build evidence covers the index
build only; this extends it to the pipeline operators, whose dominant
stage (minhash-LSH) is a shuffle-heavy shape the build never exercises.

Writes BENCH/pipeline_scaling{TAG}.json. Run:
    python bench/pipeline_scaling.py
Env: PSCALE_DOCS (default 1M), PSCALE_LEVELS (default 2,8),
PSCALE_BEST_OF (default 2), SCALE_* knobs pass through to the shared
submit harness (bench/scaling.py).
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from scaling import spark_submit  # noqa: E402 — shared submit protocol
# (bench/ is scripts, not a package — import the sibling by path)

DOCS = int(os.environ.get("PSCALE_DOCS", "1000000"))
LEVELS = tuple(int(x) for x in
               os.environ.get("PSCALE_LEVELS", "2,8").split(","))
BEST_OF = int(os.environ.get("PSCALE_BEST_OF", "2"))
OUT_TAG = os.environ.get("PSCALE_TAG", "")


def main() -> None:
    results: dict[int, dict] = {}
    for cpus in LEVELS:
        attempts = []
        for rep in range(BEST_OF):
            # pipeline_bench rmtree's its workdir → every attempt runs
            # the full chain (no lineage resume across attempts); the
            # corpus is regenerated deterministically and generation is
            # reported separately (gen_sec), outside the chain timing
            attempts.append(spark_submit(
                cpus, "jobs/pipeline_bench.py", "--docs", str(DOCS),
                "--workdir", f"/tmp/pscale_{cpus}"))
        best = min(attempts, key=lambda a: a["value"])
        best["attempts_sec"] = [a["value"] for a in attempts]
        results[cpus] = best
        print(json.dumps({cpus: {"chain_sec": best["value"],
                                 "attempts": best["attempts_sec"]}}),
              flush=True)

    lo, hi = LEVELS[0], LEVELS[-1]
    k = hi // lo
    r_lo = DOCS / results[lo]["value"]
    r_hi = DOCS / results[hi]["value"]
    eff = r_hi / (k * r_lo)
    # per-stage E = t_lo / (k · t_hi): both levels process identical
    # row counts per stage (deterministic input + deterministic ops)
    stage_eff = {}
    for s_lo, s_hi in zip(results[lo]["stages"], results[hi]["stages"]):
        if s_hi["sec"]:
            stage_eff[s_lo["stage"]] = {
                "t_lo": s_lo["sec"], "t_hi": s_hi["sec"],
                "efficiency": round(s_lo["sec"] / (k * s_hi["sec"]), 3)}

    report = {"docs": DOCS, "levels": list(LEVELS), "best_of": BEST_OF,
              "chain_sec": {c: results[c]["value"] for c in LEVELS},
              "attempts": {c: results[c]["attempts_sec"] for c in LEVELS},
              "docs_per_sec": {lo: round(r_lo, 1), hi: round(r_hi, 1)},
              "scaling_efficiency": round(eff, 3),
              "stage_efficiency": stage_eff,
              "stages": {c: results[c]["stages"] for c in LEVELS}}
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    out = os.path.join(REPO, "BENCH", f"pipeline_scaling{OUT_TAG}.json")
    with open(out, "w") as f:
        json.dump(report, f, indent=2)
    print(json.dumps(report))


if __name__ == "__main__":
    main()
