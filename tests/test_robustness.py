"""Hostile-input robustness: one poisoned fragment must never fail a job.

The reference degrades per image to an empty output
(lineless_table_rec/main.py:132-134); the Spark stage degrades per table
with an error column for the lineage metrics.
"""

from hypothesis import given, settings
from hypothesis import strategies as st

from tablestructurerec_spark.core.html_parse import extract_turn, parse_table_html
from tablestructurerec_spark.core.pipeline import process_table_html

HOSTILE = [
    "<table>",  # unclosed — regex won't even match; must not crash extract
    "<table></table>",
    "<table><tr></table>",
    "<table><td>orphan cell</td></table>",
    "<table><tr><td rowspan=x colspan=''>bad spans</td></tr></table>",
    "<table><tr><td rowspan=999999999 colspan=999999999>huge</td></tr></table>",
    "<table><tr><td colspan=2>a</td><td>b</td><td>c</td></tr><tr><td>d</td></tr></table>",
    "<table><tr><td><table><tr><td>nested</td></tr></table></td></tr></table>",
    "<table><tr><td>unclosed",
    "<TABLE><TR><TD ROWSPAN=2>caps</TD></TR></TABLE>",
    "<table><tr><td>&amp;&lt;&gt;&#65;</td></tr></table>",
]


def test_hostile_fragments_do_not_crash():
    for frag in HOSTILE:
        text = f"prefix {frag} suffix"
        main, tables = extract_turn(text)  # must not raise
        assert isinstance(main, str)
        if frag.startswith("<table") and "</table>" in frag.lower():
            try:
                res = process_table_html(frag, 0)
            except ValueError as exc:
                # the one sanctioned kernel-level rejection: hostile grid
                # claims (the Spark stage degrades it to an error row)
                assert "too large" in str(exc)
                continue
            assert res["pred_html"].startswith("<html><body><table>")


@settings(max_examples=200, deadline=None)
@given(st.text(alphabet="<>trd= aAbB/139\"'&;#\n", max_size=300))
def test_parser_never_crashes_on_garbage(garbage):
    html = f"<table>{garbage}</table>"
    logic, texts = parse_table_html(html)  # must not raise
    assert len(logic) == len(texts)
    for lp in logic:
        assert lp[0] >= 0 and lp[2] >= 0 and lp[1] >= lp[0] and lp[3] >= lp[2]


def test_poisoned_fragment_degrades_in_spark_stage(spark):
    from tablestructurerec_spark.plans.extract import extract_tables

    rows = [
        ("c0", 0, "ok <table><tr><td rowspan=1 colspan=1>fine</td></tr></table>", None),
        # a fragment the kernel cannot process end-to-end still yields an
        # error row, not a job failure (huge spans exhaust the grid fill)
        ("c0", 1, "bad <table><tr><td rowspan=4000 colspan=4000>boom</td></tr></table>", None),
    ]
    df = spark.createDataFrame(
        [(c, t, x) for c, t, x, _ in rows], "conv_id string, turn_idx int, text string"
    ).selectExpr(
        "conv_id", "turn_idx", "cast(null as string) role", "text",
        "cast(null as string) tool", "cast(null as timestamp) ts"
    )
    out = {r.turn_idx: r for r in extract_tables(df).collect()}
    assert out[0].error is None and out[0].n_cells == 1
    # oversized grid claim degrades to an error row with empty output
    assert out[1].table_kind == "error" and "too large" in out[1].error
    assert out[1].pred_html == "<html><body><table></table></body></html>"


def test_large_legit_table_processes_correctly():
    """A 60x40 (2,400-cell) and an 80x80 (6,400-cell) table go through the
    full kernel and round-trip (regression for the dense-pair-matrix memory
    blowup in OCR matching)."""
    from tablestructurerec_spark.core.html_parse import parse_table_html
    from tablestructurerec_spark.core.pipeline import process_table_html

    for n_rows, n_cols in [(60, 40), (80, 80)]:
        rows = [
            "<tr>" + "".join(f"<td>r{r}c{c}</td>" for c in range(n_cols)) + "</tr>"
            for r in range(n_rows)
        ]
        out = process_table_html("<table>" + "".join(rows) + "</table>", 0)
        assert out is not None and out["n_cells"] == n_rows * n_cols
        logic, texts = parse_table_html(out["pred_html"])
        assert logic == [[r, r, c, c] for r in range(n_rows) for c in range(n_cols)]
        assert texts == [[f"r{r}c{c}"] for r in range(n_rows) for c in range(n_cols)]


def test_extraction_plans_tolerate_null_columns(spark):
    """Real transcript tables carry nulls; every plan must pass them through
    (null text → filtered by the contains pre-filter, never a crash)."""
    from tablestructurerec_spark.plans.extract import clean_turns, extract_cells, extract_tables

    rows = [
        ("c0", 0, "user", None, None, None),
        ("c0", 1, None, "<table><tr><td>x</td></tr></table>", None, None),
        ("c0", 2, "assistant", "", "tool-a", None),
        (None, 3, "user", "plain text no table", None, None),
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    assert clean_turns(df).count() == 4
    tables = extract_tables(df).collect()
    assert len(tables) == 1 and tables[0].n_cells == 1 and tables[0].error is None
    assert extract_cells(df).count() == 1
