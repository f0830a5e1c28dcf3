#!/usr/bin/env python3
"""Recompute SURVEY.md's `artifact-claims` block from the newest committed
driver artifacts and rewrite it in place.

This is the write-side twin of SurveyClaimsSpec (src/test/scala/graft/
SurveyClaimsSpec.scala), which recomputes the same fields at `sbt test`
time and fails the build on any drift. The spec is the gate; this tool is
the mechanized refresh so the per-round artifact hand-off
(CORRECTNESS_r{N}.json / BENCH_r{N}.json landing on disk) stops requiring
a hand-edit of SURVEY.md. Both sides implement the same contract:

  - anchor to the highest-round CORRECTNESS_r<N>.json and BENCH_r<N>.json
    in the repo root (`_cN` cross-checks such as BENCH_r17_c8.json are
    not anchors);
  - correctness_total/green/red from the per-query three-gate rows;
  - bench_total_sec from the bench artifact's contract line (the last
    {"metric":...} line in its "tail");
  - bench_weak_gate = queries > 2x DuckDB AND > 0.8 s absolute, against
    DUCKDB_BASELINE.json (keys "q::<name>").

Usage: python3 tools/refresh_claims.py [--check]
  --check: exit 1 if SURVEY.md would change (no write). Default: rewrite.
"""
import json
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def latest(prefix: str) -> str:
    # Official artifacts only: a `_cN` core-count cross-check
    # (BENCH_r17_c8.json) sorts above its round but is not an anchor.
    official = re.compile(re.escape(prefix) + r"(\d+)\.json")
    rounds = [(int(m.group(1)), n) for n in os.listdir(ROOT)
              for m in [official.fullmatch(n)] if m]
    if not rounds:
        raise SystemExit(f"no {prefix}<N>.json artifacts in {ROOT}")
    return max(rounds)[1]


def fmt_num(x: float) -> str:
    # Match the spec's toDouble comparison: shortest repr that round-trips.
    s = f"{x:g}"
    return s


def build_block() -> str:
    corr_name = latest("CORRECTNESS_r")
    bench_name = latest("BENCH_r")
    with open(os.path.join(ROOT, corr_name)) as f:
        corr = json.load(f)
    greens = [q for q, v in corr.items()
              if v.get("rows_match") and v.get("schema_match")
              and v.get("hash_match")]
    reds = sorted(q for q in corr if q not in set(greens))

    with open(os.path.join(ROOT, bench_name)) as f:
        bench = json.load(f)
    lines = [l for l in bench["tail"].splitlines()
             if l.startswith('{"metric"')]
    if not lines:
        raise SystemExit(f"no contract line in {bench_name} tail")
    contract = json.loads(lines[-1])
    with open(os.path.join(ROOT, "DUCKDB_BASELINE.json")) as f:
        base = json.load(f)
    weak = sorted(
        q for q, s in contract["queries"].items()
        if f"q::{q}" in base and s > 0.8 and s > 2.0 * base[f"q::{q}"])

    def set_field(xs):
        return ", ".join(xs) if xs else "none"

    return (
        "<!-- artifact-claims\n"
        f"correctness_artifact: {corr_name}\n"
        f"correctness_total: {len(corr)}\n"
        f"correctness_green: {len(greens)}\n"
        f"correctness_red: {set_field(reds)}\n"
        f"bench_artifact: {bench_name}\n"
        f"bench_total_sec: {fmt_num(contract['value'])}\n"
        f"bench_weak_gate: {set_field(weak)}\n"
        "-->")


def main() -> int:
    check = "--check" in sys.argv
    survey_path = os.path.join(ROOT, "SURVEY.md")
    with open(survey_path) as f:
        survey = f.read()
    pat = re.compile(r"<!-- artifact-claims\n.*?-->", re.S)
    if not pat.search(survey):
        raise SystemExit("SURVEY.md has no artifact-claims block")
    block = build_block()
    updated = pat.sub(lambda _m: block, survey, count=1)
    if updated == survey:
        print("artifact-claims block already current")
        return 0
    if check:
        print("artifact-claims block is STALE (run without --check to fix)")
        return 1
    with open(survey_path, "w") as f:
        f.write(updated)
    print("artifact-claims block refreshed:")
    print(block)
    return 0


if __name__ == "__main__":
    sys.exit(main())
