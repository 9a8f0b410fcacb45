"""Like-for-like bench regression gate.

Compares two bench recordings and fails (exit 1) if any query shared by
both regressed more than ``--max-ratio`` (default 2x), mechanizing the
per-round bench audit the same way the plan lint mechanized the scale
audit (VERDICT r04 item 7).

Accepted input shapes, auto-detected per file:

* a full ``bench.py`` output line (``{"metric": ..., "queries": {...},
  "value": ...}``) — the repo records these under ``bench_runs/``; its
  ``warm_queries`` block (the shared-frame builds timed before the
  per-query loop) is gated too, under ``warm:<name>`` keys;
* a driver ``BENCH_r{N}.json`` (``{"tail": "...", ...}``) — the tail is
  a 2,000-char truncation, so per-query pairs are recovered by regex
  and only the queries visible in BOTH files are compared;
* a file whose last line is a bench JSON line (raw bench stdout).

Sub-second timings are noise-floored: a query is flagged only when
``curr > max_ratio * max(prev, --min-sec)``. Shared-cache families
(LSH pairs, BPE merge chain, Lloyd memo) shift first-touch attribution
between runs; the floor plus the 2x ratio absorbs that, and
``--allow name`` skips a query with a justified one-off (each use
should be recorded in BASELINE.md).

Usage::

    python tools/bench_diff.py PREV CURR [--max-ratio 2.0]
        [--min-sec 1.0] [--allow NAME ...]
"""

from __future__ import annotations

import argparse
import json
import re
import sys
from pathlib import Path

_PAIR = re.compile(r'"([a-z0-9_]+)":\s*(-?\d+(?:\.\d+)?)')


def load_timings(path: str) -> dict[str, float]:
    """Return {query: seconds} from any accepted bench recording."""
    text = Path(path).read_text()
    try:
        doc = json.loads(text)
    except json.JSONDecodeError:
        # raw bench stdout: the JSON line is the last non-empty line
        line = [ln for ln in text.splitlines() if ln.strip()][-1]
        doc = json.loads(line)
    if isinstance(doc, dict) and isinstance(doc.get("queries"), dict):
        out = {k: float(v) for k, v in doc["queries"].items()}
        warm = doc.get("warm_queries") or {}
        out.update({f"warm:{k}": float(v) for k, v in warm.items()})
        return out
    if isinstance(doc, dict) and isinstance(doc.get("tail"), str):
        pairs = _PAIR.findall(doc["tail"])
        # the first regex hit inside a truncated tail may be a partial
        # key (the tail can start mid-name); a partial name simply
        # won't intersect the other file, so it is harmless
        out = {k: float(v) for k, v in pairs if k not in ("value", "sf")}
        if not out:
            raise SystemExit(f"{path}: no per-query timings in tail")
        return out
    raise SystemExit(f"{path}: unrecognized bench recording shape")


def diff(
    prev: dict[str, float],
    curr: dict[str, float],
    max_ratio: float,
    min_sec: float,
    allow: set[str],
) -> tuple[list[tuple[str, float, float, float]], float, float]:
    shared = sorted(set(prev) & set(curr))
    regressions = []
    for name in shared:
        p, c = prev[name], curr[name]
        if p < 0 or name in allow:
            continue
        if c < 0:  # errored now but not before: always a regression
            regressions.append((name, p, c, float("inf")))
            continue
        floor = max(p, min_sec)
        if c > max_ratio * floor:
            regressions.append((name, p, c, c / floor))
    tot_p = sum(prev[n] for n in shared if prev[n] >= 0 and curr[n] >= 0)
    tot_c = sum(curr[n] for n in shared if prev[n] >= 0 and curr[n] >= 0)
    return regressions, tot_p, tot_c


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("prev")
    ap.add_argument("curr")
    ap.add_argument("--max-ratio", type=float, default=2.0)
    ap.add_argument("--min-sec", type=float, default=1.0)
    ap.add_argument("--allow", action="append", default=[])
    args = ap.parse_args()

    prev, curr = load_timings(args.prev), load_timings(args.curr)
    shared = set(prev) & set(curr)
    if not shared:
        print("bench_diff: no shared queries between the two recordings")
        return 1
    regressions, tot_p, tot_c = diff(
        prev, curr, args.max_ratio, args.min_sec, set(args.allow)
    )
    print(
        f"bench_diff: {len(shared)} shared queries; like-for-like total "
        f"{tot_p:.1f}s -> {tot_c:.1f}s ({tot_c / tot_p:.2f}x)"
        if tot_p
        else f"bench_diff: {len(shared)} shared queries"
    )
    for name, p, c, r in sorted(regressions, key=lambda t: -t[3]):
        print(f"  REGRESSED {name}: {p:.2f}s -> {c:.2f}s ({r:.1f}x)")
    if regressions:
        print(f"bench_diff: {len(regressions)} queries regressed "
              f">{args.max_ratio}x (floor {args.min_sec}s) — FAIL")
        return 1
    print("bench_diff: PASS")
    return 0


if __name__ == "__main__":
    sys.exit(main())
