"""Benchmark entry point.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 10 --trace 0

Workloads: ``batch`` (perfbench/batch.py) and ``rsvp_stream``
(perfbench/stream.py). Spark runs at ``local[4]``.
Human-readable lines come first; the last line of standard output is
one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``: every end-to-end metric with ``--trace 0``, every
per-layer metric with ``--trace 1`` (perfbench/metrics.py).

Exits non-zero, printing no result, when the engine package is not
next to this directory.
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench import harness, metrics  # noqa: E402

WORKLOADS = ("batch", "rsvp_stream")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--corrupt-expected",
        action="store_true",
        help="self-test only: check outputs against a deliberately wrong "
        "expectation, so the run must report failures",
    )
    ap.add_argument(
        "--toy",
        action="store_true",
        help="self-test only: tiny inputs (sf0.001 tables, a few-second "
        "stream) and a single batch pass",
    )
    args = ap.parse_args(argv)

    try:
        work = harness.prepare(args.workload, args.seed)
    except harness.SetupError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2

    if args.workload == "rsvp_stream":
        from perfbench import stream as workload
    else:
        from perfbench import batch as workload
    try:
        res = workload.run(
            args.workload, args.seed, args.seconds, bool(args.trace), work,
            corrupt=args.corrupt_expected, toy=args.toy,
        )
    finally:
        harness.stop_jvm()

    attempted, failed = res["attempted"], res["failed"]
    for name, (unit, _) in metrics.END_TO_END.items():
        print(f"{args.workload} {name} = {res['end_to_end'][name]:.6g} {unit}")
    for name, value in res["info"].items():
        print(f"{args.workload} {name} = {value}")
    print(
        f"{args.workload} failed_ratio = {failed / max(attempted, 1):.6g} fraction"
        f" ({failed} of {attempted})"
    )
    table = metrics.PER_LAYER if args.trace else metrics.END_TO_END
    values = res["per_layer"] if args.trace else res["end_to_end"]
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics.emit(values, table),
    }
    sys.stdout.flush()
    print(json.dumps(result))
    harness.cleanup(work)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
