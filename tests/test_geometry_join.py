"""Candidate-pair joins of ``match_ocr_to_cells`` and ``duplicate_box_indices``.

Above their small-input fast paths (more than 1,024 fragment x cell pairs;
more than 64 boxes) both functions only test the pairs a sort on box
extents can bring together.  Two checks pin that down:

* frozen fixtures: inputs and outputs of the earlier all-pairs scan, stored in
  ``tests/fixtures/geometry_join.json.gz`` and replayed exactly.
  ``python -m tests.test_geometry_join --freeze`` rewrites the file from the
  ``tablestructurerec_spark`` on the import path;
* property tests: on seeded inputs of every family below, the results equal
  an in-test oracle.  With finite coordinates the oracle is the pure-Python
  pair scan.  A non-finite coordinate keeps the all-pairs NumPy semantics
  (Python's ``min``/``max`` and NumPy's disagree on NaN), so there the
  oracle is the dense NumPy scan.
"""

import gzip
import json
import math
import os
import random
import sys

import numpy as np
import pytest

from perfbench.gen import WIDE_SHAPES, wide_table
from tablestructurerec_spark.core.geometry import (
    box_iou,
    box_to_quad,
    contained_side,
    duplicate_box_indices,
    match_ocr_to_cells,
    quad_to_box,
)
from tablestructurerec_spark.core.html_parse import quads_from_logic_points
from tablestructurerec_spark.core.pipeline import synth_ocr_fragments

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "geometry_join.json.gz")


# ---------------------------------------------------------------- inputs
# Each family maps a seeded rng to (fragments, cells) boxes for matching;
# dedup cases take the union of both lists, which is always > 64 boxes.


def _grid(rng, n_rows, n_cols, x0=0.0, y0=0.0):
    w, h = rng.choice([60.0, 120.0, 33.5]), rng.choice([20.0, 40.0, 17.25])
    return [
        [x0 + c * w, y0 + r * h, x0 + (c + 1) * w, y0 + (r + 1) * h]
        for r in range(n_rows)
        for c in range(n_cols)
    ]


def _inside(rng, cells, k=1):
    """``k`` random fragments per cell, mostly inside it, some straddling."""
    out = []
    for x0, y0, x1, y1 in cells:
        for _ in range(k):
            w, h = x1 - x0, y1 - y0
            fx0 = x0 + rng.uniform(-0.3, 0.8) * w
            fy0 = y0 + rng.uniform(-0.3, 0.8) * h
            out.append([fx0, fy0, fx0 + rng.uniform(0.1, 0.9) * w, fy0 + rng.uniform(0.1, 0.9) * h])
    return out


def _wide(rng, n_rows=None, n_cols=None):
    """A ``perfbench`` wide table through the kernel's own detector and OCR
    stand-ins: fragments are exactly what ``process_table_html`` matches."""
    if n_rows is None:
        n_rows, n_cols = rng.randint(6, 14), rng.randint(6, 14)
    logic, texts = wide_table(rng, n_rows, n_cols)
    cw = [[q[0], q[3], q[2], q[1]] for q in quads_from_logic_points(logic)]
    frags = synth_ocr_fragments(cw, texts)
    return [quad_to_box(r[0]) for r in frags], [quad_to_box(q) for q in cw]


def _random(rng):
    def box():
        x, y = rng.randint(0, 300), rng.randint(0, 200)
        return [float(x), float(y), float(x + rng.randint(0, 80)), float(y + rng.randint(0, 40))]

    return [box() for _ in range(rng.randint(40, 90))], [box() for _ in range(rng.randint(40, 90))]


def _touching(rng):
    cells = _grid(rng, rng.randint(7, 10), rng.randint(7, 10))
    frags = []
    for x0, y0, x1, y1 in cells:
        pick = rng.randrange(4)
        if pick == 0:  # the cell itself
            frags.append([x0, y0, x1, y1])
        elif pick == 1:  # starts exactly on the right edge
            frags.append([x1, y0, x1 + (x1 - x0) / 2, y1])
        elif pick == 2:  # ends exactly on the top edge
            frags.append([x0, y0 - (y1 - y0), x1, y0])
        else:  # corner to corner
            frags.append([x1, y1, x1 + 5.0, y1 + 5.0])
    return frags, cells


def _zero_area(rng):
    cells = _grid(rng, rng.randint(7, 10), rng.randint(7, 10))
    frags = []
    for x0, y0, x1, y1 in cells:
        pick = rng.randrange(4)
        if pick == 0:  # a point inside
            px, py = rng.uniform(x0, x1), rng.uniform(y0, y1)
            frags.append([px, py, px, py])
        elif pick == 1:  # a point on a corner
            frags.append([x1, y1, x1, y1])
        elif pick == 2:  # a horizontal segment along an edge
            frags.append([x0, y0, x1, y0])
        else:  # a vertical segment through the cell
            px = rng.uniform(x0, x1)
            frags.append([px, y0 - 1.0, px, y1 + 1.0])
    for c in rng.sample(range(len(cells)), 3):  # degenerate cells too
        x0, y0 = cells[c][0], cells[c][1]
        cells[c] = [x0, y0, x0, cells[c][3]]
    return frags, cells


def _negative(rng):
    cells = _grid(rng, rng.randint(7, 10), rng.randint(7, 10), x0=-5000.5, y0=-300.25)
    return _inside(rng, cells), cells


def _straddle_zero(rng):
    """Row 0 and column 0 start a hair below zero, so their extents round
    down to the nominal size; points on the far corners touch their cells."""
    n_rows, n_cols, w = rng.randint(7, 10), rng.randint(7, 10), rng.choice([0.5, 1.0, 3.0])
    xs = [-rng.uniform(1e-20, 1e-18)] + [c * w for c in range(1, n_cols + 1)]
    ys = [-rng.uniform(1e-20, 1e-18)] + [float(r) for r in range(1, n_rows + 1)]
    cells = [[xs[c], ys[r], xs[c + 1], ys[r + 1]] for r in range(n_rows) for c in range(n_cols)]
    frags = [[x1, y1, x1, y1] for _x0, _y0, x1, y1 in cells]
    return frags + _inside(rng, cells), cells


def _full_row(rng):
    n_rows, n_cols = rng.randint(7, 10), rng.randint(7, 10)
    cells = _grid(rng, n_rows, n_cols)
    r = rng.randrange(n_rows)
    row = cells[r * n_cols : (r + 1) * n_cols]
    span = [row[0][0], row[0][1], row[-1][2], row[-1][3]]
    cells = cells[: r * n_cols] + [span] + cells[(r + 1) * n_cols :]
    return _inside(rng, cells, k=2), cells


def _non_finite(rng):
    cells = _grid(rng, 6, 7)
    frags = _inside(rng, cells)
    for boxes in (frags, cells):
        for i in rng.sample(range(len(boxes)), 4):
            boxes[i][rng.randrange(4)] = rng.choice([math.nan, math.inf, -math.inf])
    return frags, cells


FAMILIES = {
    "wide": _wide,
    "random": _random,
    "touching": _touching,
    "zero_area": _zero_area,
    "negative": _negative,
    "straddle_zero": _straddle_zero,
    "full_row": _full_row,
    "non_finite": _non_finite,
}


def _dedup_boxes(rng, frags, cells):
    """Cells and fragments together, plus jittered near-copies of some cells
    so the IoU and containment rules fire."""
    boxes = [list(b) for b in cells + frags]
    for b in rng.sample(cells, min(len(cells), 12)):
        boxes.insert(rng.randrange(len(boxes) + 1), [v + rng.uniform(-2, 2) for v in b])
    return boxes


# ---------------------------------------------------------------- oracles


def _scan_match(frags, cells):
    """The pure-Python pair scan (the kernel's small-table loop) at any size;
    returns ``({cell: [fragment, ...]}, [unmatched fragment, ...])`` as indices."""
    matched, unmatched = {}, []
    for i, (ox0, oy0, ox1, oy1) in enumerate(frags):
        hit = False
        for j, (cx0, cy0, cx1, cy1) in enumerate(cells):
            if ox1 < cx0 or ox0 > cx1 or oy1 < cy0 or oy0 > cy1:
                continue
            iw = min(ox1, cx1) - max(ox0, cx0)
            ih = min(oy1, cy1) - max(oy0, cy0)
            inter = (iw if iw > 0.0 else 0.0) * (ih if ih > 0.0 else 0.0)
            area_o = (ox1 - ox0) * (oy1 - oy0)
            area_c = (cx1 - cx0) * (cy1 - cy0)
            out_ratio = (area_o - inter) / area_o if area_o > 0 else 0.0
            union = area_o + area_c - inter
            iou = 1.0 if union == 0 else inter / union
            if out_ratio < 0.6 or iou > 0.8:
                matched.setdefault(j, []).append(i)
                hit = True
        if not hit:
            unmatched.append(i)
    return dict(sorted(matched.items())), unmatched


def _dense_terms(a, b):
    """All-pairs NumPy overlap flags, IoU and outside ratios of ``a`` x ``b``."""
    ax0, ay0, ax1, ay1 = (np.asarray(a, float)[:, k][:, None] for k in range(4))
    bx0, by0, bx1, by1 = (np.asarray(b, float)[:, k][None, :] for k in range(4))
    with np.errstate(all="ignore"):
        overlap = ~((ax1 < bx0) | (ax0 > bx1) | (ay1 < by0) | (ay0 > by1))
        iw = np.maximum(np.minimum(ax1, bx1) - np.maximum(ax0, bx0), 0.0)
        ih = np.maximum(np.minimum(ay1, by1) - np.maximum(ay0, by0), 0.0)
        inter = iw * ih
        area_a = (ax1 - ax0) * (ay1 - ay0)
        area_b = (bx1 - bx0) * (by1 - by0)
        union = area_a + area_b - inter
        iou = np.where(union == 0, 1.0, inter / union)
        ratio_a = np.where(area_a > 0, (area_a - inter) / area_a, 0.0)
        ratio_b = np.where(area_b > 0, (area_b - inter) / area_b, 0.0)
    return overlap, iou, ratio_a, ratio_b


def _dense_match(frags, cells):
    """The all-pairs NumPy scan: the above-threshold semantics for any input."""
    overlap, iou, out_ratio, _ = _dense_terms(frags, cells)
    hits = overlap & ((out_ratio < 0.6) | (iou > 0.8))
    matched = {
        int(j): [int(i) for i in np.nonzero(hits[:, j])[0]] for j in np.nonzero(hits.any(0))[0]
    }
    return matched, [int(i) for i in np.nonzero(~hits.any(1))[0]]


def _replay(boxes, pairs):
    """Keep-first duplicate scan over ``pairs`` (i < j, in scan order)."""
    dropped, cur_i, skip_i = set(), -1, False
    for i, j in pairs:
        if i != cur_i:
            cur_i, skip_i = i, i in dropped
        if skip_i or j in dropped:
            continue
        if box_iou(boxes[i], boxes[j]) > 0.8:
            dropped.add(j)
            continue
        side = contained_side(boxes[i], boxes[j])
        if side == 2:
            dropped.add(j)
        elif side == 1:
            dropped.add(i)
    return dropped


def _scan_dedup(boxes):
    """The reference pairwise scan (the kernel's n <= 64 loop) at any size."""
    n = len(boxes)
    return _replay(boxes, [(i, j) for i in range(n) for j in range(i + 1, n)])


def _dense_dedup(boxes):
    """The all-pairs NumPy candidate filter followed by the same replay."""
    _, iou, ratio_a, ratio_b = _dense_terms(boxes, boxes)
    cand = np.triu((iou > 0.8) | (ratio_a < 0.2) | (ratio_b < 0.2), k=1)
    return _replay(boxes, [(int(i), int(j)) for i, j in zip(*np.nonzero(cand))])


# ---------------------------------------------------------------- kernel calls


def _run_match(frags, cells):
    """``match_ocr_to_cells`` on quads, with its output as fragment indices
    in the order returned (dict order included)."""
    rows = [[box_to_quad(b), f"f{i}", 1.0] for i, b in enumerate(frags)]
    where = {id(r): i for i, r in enumerate(rows)}
    matched, unmatched = match_ocr_to_cells(rows, [box_to_quad(b) for b in cells])
    return (
        {int(j): [where[id(r)] for r in rs] for j, rs in matched.items()},
        [where[id(r)] for r in unmatched],
    )


def _frozen_cases():
    """The fixture inputs: the six benchmark wide-table shapes plus two
    seeds of every other family."""
    cases = []
    for n_rows, n_cols in WIDE_SHAPES:
        rng = random.Random(n_rows * 1000 + n_cols)
        cases.append((f"wide_{n_rows}x{n_cols}", rng, _wide(rng, n_rows, n_cols)))
    for name, family in FAMILIES.items():
        if name == "wide":
            continue
        for seed in (0, 1):
            rng = random.Random(f"{name}-{seed}")
            cases.append((f"{name}_{seed}", rng, family(rng)))
    return cases


def freeze():
    """Record the current kernels' outputs on the fixture inputs."""
    out = {"match": [], "dedup": []}
    for name, rng, (frags, cells) in _frozen_cases():
        assert len(frags) * len(cells) > 1024
        matched, unmatched = _run_match(frags, cells)
        out["match"].append(
            {
                "name": name,
                "frags": frags,
                "cells": cells,
                "matched": list(matched.items()),
                "unmatched": unmatched,
            }
        )
        boxes = _dedup_boxes(rng, frags, cells)
        assert len(boxes) > 64
        out["dedup"].append(
            {"name": name, "boxes": boxes, "dropped": sorted(duplicate_box_indices(boxes))}
        )
    os.makedirs(os.path.dirname(FIXTURE), exist_ok=True)
    with gzip.GzipFile(FIXTURE, "wb", mtime=0) as f:
        f.write(json.dumps(out, separators=(",", ":")).encode())


@pytest.fixture(scope="module")
def frozen():
    with gzip.open(FIXTURE, "rb") as f:
        return json.loads(f.read())


def test_fixtures_cover_every_family(frozen):
    assert {c["name"].rsplit("_", 1)[0] for c in frozen["match"]} == set(FAMILIES)
    assert len(frozen["dedup"]) == len(frozen["match"])


def test_match_replays_frozen_outputs(frozen):
    for case in frozen["match"]:
        matched, unmatched = _run_match(case["frags"], case["cells"])
        assert json.dumps(list(matched.items())) == json.dumps(case["matched"]), case["name"]
        assert unmatched == case["unmatched"], case["name"]


def test_dedup_replays_frozen_outputs(frozen):
    for case in frozen["dedup"]:
        assert sorted(duplicate_box_indices(case["boxes"])) == case["dropped"], case["name"]


@pytest.mark.parametrize("family", sorted(FAMILIES))
@pytest.mark.parametrize("seed", range(6))
def test_sorted_join_matches_oracle(family, seed):
    rng = random.Random(f"prop-{family}-{seed}")
    frags, cells = FAMILIES[family](rng)
    assert len(frags) * len(cells) > 1024
    finite = np.isfinite(np.asarray(frags + cells, float)).all()
    matched, unmatched = _run_match(frags, cells)
    oracle = _scan_match if finite else _dense_match
    assert (dict(sorted(matched.items())), unmatched) == oracle(frags, cells)

    boxes = _dedup_boxes(rng, frags, cells)
    assert len(boxes) > 64
    dedup_oracle = _scan_dedup if finite else _dense_dedup
    assert duplicate_box_indices(boxes) == dedup_oracle(boxes)


if __name__ == "__main__":
    if sys.argv[1:] != ["--freeze"]:
        sys.exit("usage: python -m tests.test_geometry_join --freeze")
    freeze()
