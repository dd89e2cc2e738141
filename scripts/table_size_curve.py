#!/usr/bin/env python
"""Per-table time of ``core.pipeline.process_table_html`` against table size.

For each side N (default 20 40 60 80: 400 / 1,600 / 3,600 / 6,400 cells)
an N x N table of ``<td>r{r}c{c}</td>`` cells goes through the no-Spark
kernel harness ``perfbench.kernel.run`` ``--reps`` times; one line per size
prints the median whole-table time and the median time spent in
``match_ocr_to_cells`` (the ``match`` stage).  Every output is checked to
round-trip to its input cells.

Usage:
    python scripts/table_size_curve.py [--reps 3] [N ...]

The package is imported from ``PYTHONPATH`` first, so the same command can
time another checkout: ``PYTHONPATH=<checkout> python scripts/table_size_curve.py``.
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.append(REPO_ROOT)


def grid_html(n: int) -> str:
    rows = ("<tr>" + "".join(f"<td>r{r}c{c}</td>" for c in range(n)) + "</tr>" for r in range(n))
    return "<table>" + "".join(rows) + "</table>"


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("sides", nargs="*", type=int, default=[20, 40, 60, 80])
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args()

    from perfbench.kernel import run
    from tablestructurerec_spark.core.html_parse import parse_table_html

    print("cells\ttable_s\tmatch_s")
    for n in args.sides:
        html = grid_html(n)
        table_s, match_s = [], []
        for _ in range(args.reps):
            res = run([html])
            table_s.append(res["core.ms_per_table"] / 1000)
            match_s.append(res["core.match_s"])
            logic, texts = parse_table_html(res["_plain"][0]["pred_html"])
            if len(logic) != n * n or texts[-1] != [f"r{n - 1}c{n - 1}"]:
                sys.exit(f"{n}x{n}: output does not round-trip")
        print(f"{n * n}\t{statistics.median(table_s):.3f}\t{statistics.median(match_s):.3f}")


if __name__ == "__main__":
    main()
