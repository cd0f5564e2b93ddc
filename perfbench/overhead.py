"""Tracing overhead: the traced-minus-untraced difference in every
end-to-end metric, for each workload and seed that has both a traced and
an untraced result under ``.bench_work/results/``.

    python3 perfbench/overhead.py [results_dir]
"""

from __future__ import annotations

import glob
import json
import os
import sys


def overhead(results_dir: str) -> list[tuple[str, str, float, float]]:
    """(run tag, metric, untraced value, traced minus untraced)."""
    rows = []
    for traced in sorted(glob.glob(os.path.join(results_dir, "*-trace1.json"))):
        plain = traced[: -len("-trace1.json")] + "-trace0.json"
        if not os.path.exists(plain):
            continue
        with open(traced) as fh:
            t = json.load(fh)["end_to_end"]
        with open(plain) as fh:
            p = json.load(fh)["end_to_end"]
        tag = os.path.basename(plain)[: -len("-trace0.json")]
        rows.extend((tag, k, p[k], t[k] - p[k]) for k in p if k in t)
    return rows


def main(argv: list[str]) -> int:
    results_dir = argv[0] if argv else os.path.join(".bench_work", "results")
    rows = overhead(results_dir)
    if not rows:
        print(f"no traced/untraced result pairs in {results_dir}", file=sys.stderr)
        return 1
    for tag, metric, base, diff in rows:
        share = diff / base if base else float("nan")
        print(f"{tag:40s} {metric:20s} untraced {base:12.4f}  traced-untraced {diff:+12.4f} ({share:+.1%})")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
