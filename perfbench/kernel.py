"""No-Spark kernel harness: runs ``core.pipeline.process_table_html`` over
a list of tables in this process, once plain (per-table latency) and once
with the functions ``core.pipeline`` calls wrapped by stage timers.

The wrappers replace names in the ``core.pipeline`` module namespace from
outside and are removed afterwards; nothing inside the package changes.
``check_kernel`` compares the two runs' outputs to show the timers observe
the kernel without changing it."""

from __future__ import annotations

import time
from contextlib import contextmanager
from typing import Dict, List, Sequence

import numpy as np

from tablestructurerec_spark.core import pipeline

# name looked up by core.pipeline at call time -> stage
STAGES = {
    "parse_table_html": "parse",
    "quads_from_logic_points": "parse",  # detector stand-in
    "recover_logic_points": "recover",  # wired logic (also the classifier)
    "snap_and_round_logic": "recover",  # wireless logic
    "synth_ocr_fragments": "ocr_standin",
    "match_ocr_to_cells": "match",
    "backfill_empty_cells": "records",
    "cell_records_from_match": "records",
    "duplicate_box_indices": "dedup_merge",
    "merge_grid_duplicates": "dedup_merge",
    "reading_order": "sort_gather",
    "gather_ocr_rows": "sort_gather",
    "render_table_html": "render",
}
STAGE_NAMES = ["parse", "recover", "ocr_standin", "match", "records", "dedup_merge", "sort_gather", "render"]


@contextmanager
def stage_timers():
    """Yields ``(seconds, calls)`` dicts filled while the block runs."""
    seconds: Dict[str, float] = {s: 0.0 for s in STAGE_NAMES}
    calls: Dict[str, int] = {name: 0 for name in STAGES}
    originals = {name: getattr(pipeline, name) for name in STAGES}

    def wrap(name, fn, stage):
        def timed(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                seconds[stage] += time.perf_counter() - t0
                calls[name] += 1

        return timed

    for name, stage in STAGES.items():
        setattr(pipeline, name, wrap(name, originals[name], stage))
    try:
        yield seconds, calls
    finally:
        for name, fn in originals.items():
            setattr(pipeline, name, fn)


def run(tables: Sequence[str]) -> dict:
    """Both runs over ``tables``; returns the layer metrics plus the two
    output lists under ``"_plain"`` / ``"_wrapped"``."""
    plain, lat = [], []
    for i, html in enumerate(tables):
        t0 = time.perf_counter()
        plain.append(pipeline.process_table_html(html, i))
        lat.append(time.perf_counter() - t0)
    with stage_timers() as (seconds, calls):
        t0 = time.perf_counter()
        wrapped = [pipeline.process_table_html(html, i) for i, html in enumerate(tables)]
        wrapped_s = time.perf_counter() - t0
    plain_s = sum(lat)
    kinds = [r["table_kind"] for r in plain if r]
    wired = kinds.count("wired")
    ms = np.asarray(lat) * 1000
    out: Dict[str, object] = {
        "core.tables": len(tables),
        "core.ms_per_table": float(ms.mean()) if len(ms) else 0.0,
        "core.table_ms_p50": float(np.percentile(ms, 50)) if len(ms) else 0.0,
        "core.table_ms_p99": float(np.percentile(ms, 99)) if len(ms) else 0.0,
        "core.recover_calls": calls["recover_logic_points"],
        "core.wired_tables": wired,
        "core.wireless_tables": kinds.count("wireless"),
        "core.recover_yield": wired / calls["recover_logic_points"] if calls["recover_logic_points"] else 0.0,
        "core.wrap_overhead_share": (wrapped_s - plain_s) / plain_s if plain_s else 0.0,
        "_plain": plain,
        "_wrapped": wrapped,
    }
    out.update({f"core.{s}_s": v for s, v in seconds.items()})
    return out
