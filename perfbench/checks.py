"""Correctness checks.  Each takes collected outputs and returns
``(attempted, failures)``; a failure is a one-line description.  They run
outside the timed window and feed ``failed`` / ``attempted``."""

from __future__ import annotations

import math
from typing import Dict, Iterable, List, Sequence, Tuple

from tablestructurerec_spark.core.html_parse import TABLE_RE, strip_boilerplate
from tablestructurerec_spark.sources.synthetic import expected_tables_for_turn

Key = Tuple[str, int, int]


def _compare_tables(expected: Dict[Key, str], rows: Iterable[Sequence]) -> List[str]:
    """rows: (conv_id, turn_idx, table_idx, table_kind, pred_html, error)."""
    failures: List[str] = []
    seen = set()
    for conv_id, turn_idx, table_idx, kind, pred_html, error in rows:
        key = (conv_id, int(turn_idx), int(table_idx))
        seen.add(key)
        if kind == "error" or error is not None:
            failures.append(f"error row {key}: {error}")
        elif key not in expected:
            failures.append(f"unexpected table {key}")
        elif pred_html != expected[key]:
            failures.append(f"pred_html mismatch {key}")
    failures.extend(f"missing table {k}" for k in sorted(set(expected) - seen))
    return failures


def check_chat(
    seed: int,
    turns: Sequence[Tuple[str, int, str]],
    tables: Iterable[Sequence],
    main_text: Dict[Tuple[str, int], str],
) -> Tuple[int, List[str]]:
    """chat_tables: every table's ``pred_html`` equals the generator's
    ``expected_tables_for_turn`` and every turn's ``main_text`` equals
    ``strip_boilerplate(TABLE_RE.sub(" ", text))``, in
    (conv_id, turn_idx, table_idx) order."""
    expected: Dict[Key, str] = {}
    failures: List[str] = []
    for conv_id, turn_idx, text in sorted(turns, key=lambda t: (t[0], t[1])):
        conv = int(conv_id.rsplit("-", 1)[1])
        for ti, html in enumerate(expected_tables_for_turn(seed, conv, int(turn_idx))):
            expected[(conv_id, int(turn_idx), ti)] = html
        want = strip_boilerplate(TABLE_RE.sub(" ", text))
        got = main_text.get((conv_id, int(turn_idx)))
        if got != want:
            failures.append(f"main_text mismatch {(conv_id, int(turn_idx))}")
    failures.extend(_compare_tables(expected, sorted(tables, key=lambda r: (r[0], r[1], r[2]))))
    return len(expected) + len(turns), failures


def check_wide(turns: Iterable[Tuple[str, int, str]], tables: Iterable[Sequence]) -> Tuple[int, List[str]]:
    """wide_tables: each turn ``(conv_id, turn_idx, html)`` holds one table,
    whose ``pred_html`` is ``html``, the input as ``render_table_html``
    rendered it."""
    expected = {(conv_id, int(turn_idx), 0): html for conv_id, turn_idx, html in turns}
    return len(expected), _compare_tables(expected, sorted(tables, key=lambda r: (r[0], r[1], r[2])))


def check_round_trip(inputs: Sequence[str], outputs: Sequence[dict]) -> Tuple[int, List[str]]:
    """Kernel harness on wide tables: the ``pred_html`` for each input table, which
    was rendered by ``render_table_html``, is the input itself."""
    failures = [f"wide table {i} does not round-trip" for i, (h, r) in enumerate(zip(inputs, outputs)) if r["pred_html"] != h]
    if len(outputs) != len(inputs):
        failures.append(f"{len(outputs)} outputs for {len(inputs)} wide tables")
    return len(inputs), failures


def _normalize(df) -> List[tuple]:
    df = df[sorted(df.columns)]
    rows = []
    for tup in df.itertuples(index=False):
        rows.append(
            tuple(
                ("nan" if math.isnan(v) else round(v, 6)) if isinstance(v, float) else v
                for v in tup
            )
        )
    return sorted(rows, key=repr)


def check_query(name: str, spark_df, oracle_df) -> Tuple[int, List[str]]:
    """Operator suite: a query's rows equal its DuckDB oracle's (same column
    names, same row count, order-insensitive values rounded to 1e-6)."""
    if sorted(spark_df.columns) != sorted(oracle_df.columns):
        return 1, [f"{name}: columns {sorted(spark_df.columns)} != {sorted(oracle_df.columns)}"]
    if len(spark_df) != len(oracle_df):
        return 1, [f"{name}: {len(spark_df)} rows, oracle {len(oracle_df)}"]
    bad = sum(a != b for a, b in zip(_normalize(spark_df), _normalize(oracle_df)))
    return 1, ([f"{name}: {bad} rows differ from the oracle"] if bad else [])


def check_lineage(
    lineage: Iterable[Sequence],
    recount: Dict[int, int],
    n_turns: int,
    n_buckets: int,
    resumed: list,
) -> Tuple[int, List[str]]:
    """Lineage rows ``(bucket, status, n_turns, n_tables)``: one ``ok`` row
    per bucket, ``n_tables`` equal to a recount of the written output,
    ``n_turns`` summing to the input; the resume call processes nothing."""
    failures: List[str] = []
    rows = {int(b): (status, int(nt), int(ntab)) for b, status, nt, ntab in lineage}
    if sorted(rows) != list(range(n_buckets)):
        failures.append(f"lineage covers {len(rows)} of {n_buckets} buckets")
    if any(status != "ok" for status, _, _ in rows.values()):
        failures.append("lineage has a bucket not ok")
    bad = [b for b, (_, _, ntab) in rows.items() if ntab != recount.get(b, 0)]
    if bad:
        failures.append(f"n_tables differs from the written output in buckets {bad[:5]}")
    if sum(nt for _, nt, _ in rows.values()) != n_turns:
        failures.append("lineage n_turns does not sum to the input turns")
    if resumed:
        failures.append(f"resume re-processed buckets {resumed[:5]}")
    return 4, failures


def check_kernel(wrapped: Sequence, plain: Sequence) -> Tuple[int, List[str]]:
    """The stage-timed kernel run returns exactly the unwrapped run's
    outputs, table by table."""
    failures = [f"timed kernel output differs on table {i}" for i, (a, b) in enumerate(zip(wrapped, plain)) if a != b]
    if len(wrapped) != len(plain):
        failures.append(f"timed kernel returned {len(wrapped)} outputs, plain {len(plain)}")
    return len(plain), failures
