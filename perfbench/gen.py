"""Seeded input generators.  Everything here is pure Python: the same seed
gives the same inputs, and nothing touches Spark."""

from __future__ import annotations

import random
from typing import List, Tuple

import pandas as pd

from tablestructurerec_spark.core.html_render import render_table_html
from tablestructurerec_spark.core.pipeline import classify_table_kind
from tablestructurerec_spark.sources.synthetic import _conv_turn_count

# chat_tables: synth_transcripts' default mean conversation length
MEAN_TURNS = 8

_WORDS = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima "
    "mike november oscar papa quebec romeo sierra tango uniform victor whiskey "
    "xray yankee zulu table cell row column span merge header value"
).split()

# wide tables for the kernel harness: fixed shape ladder (rows, cols),
# 400..2500 grid slots.  The seed varies spans, texts and order, never the
# sizes, so the kernel's superlinear cost is the same on every seed.
WIDE_SHAPES = [(20, 20), (25, 25), (30, 30), (35, 35), (40, 40), (50, 50)]


def n_convs_for_turns(seed: int, target_turns: int) -> Tuple[int, int]:
    """(n_convs, n_turns): the fewest conversations of
    ``synth_transcripts(seed=seed)`` holding at least ``target_turns`` turns.

    Conversation sizes are Zipfian, so a fixed conversation count would give
    a turn count that varies by ~15% between seeds; fixing the turn count
    keeps one pass the same amount of work on every seed."""
    n_turns = 0
    n_convs = 0
    while n_turns < target_turns:
        n_turns += _conv_turn_count(seed, n_convs, MEAN_TURNS)
        n_convs += 1
    return n_convs, n_turns


def _prose(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(n))


def wide_table(rng: random.Random, n_rows: int, n_cols: int):
    """(logic_points, cell_texts) of an n_rows x n_cols grid with ~20%
    row/col spans of 2.  Only 1x1 cells may be textless: an empty spanning
    cell renders no ``<td>`` and makes the HTML ambiguous."""
    taken = [[False] * n_cols for _ in range(n_rows)]
    logic: List[List[int]] = []
    texts: List[List[str]] = []
    for r in range(n_rows):
        c = 0
        while c < n_cols:
            if taken[r][c]:
                c += 1
                continue
            cspan = 2 if c + 1 < n_cols and not taken[r][c + 1] and rng.random() < 0.2 else 1
            rspan = 2 if r + 1 < n_rows and rng.random() < 0.2 else 1
            for rr in range(r, r + rspan):
                for cc in range(c, c + cspan):
                    taken[rr][cc] = True
            logic.append([r, r + rspan - 1, c, c + cspan - 1])
            # fixed line and word counts: OCR fragments, and so the matching
            # work, then depend on the grid alone
            n_lines = 2 if len(logic) % 7 == 0 else 1
            texts.append([_prose(rng, 2) for _ in range(n_lines)])
            c += cspan
    unit = [i for i, lp in enumerate(logic) if lp[0] == lp[1] and lp[2] == lp[3]]
    for i in rng.sample(unit, min(len(unit), 3)):
        # keep row 0 / col 0 texts: the renderer clips rows and columns
        # before the first non-empty cell
        if logic[i][0] > 0 and logic[i][2] > 0:
            texts[i] = [""]
    return logic, texts


def wide_tables(seed: int, ladders: int) -> pd.DataFrame:
    """``ladders`` runs of one wired table of every WIDE_SHAPES size, all
    in one seeded order, so tasks that each take a ladder work on tables of
    the same size at the same time: columns ``ladder``, ``conv_id``,
    ``turn_idx``, ``shape``, ``html`` (rendered by ``render_table_html``,
    so it is also the expected output of the kernel) and ``text``, a turn
    embedding the table.  Wired only: whether random spans route a table
    wireless varies by seed, and the wireless path costs more per cell, so
    a varying mix would make the kernel time vary by seed."""
    rng = random.Random(seed * 9_176_213 + 17)
    shapes = list(WIDE_SHAPES)
    rng.shuffle(shapes)
    recs = []
    for ladder in range(ladders):
        for turn_idx, (n_rows, n_cols) in enumerate(shapes):
            logic, texts = wide_table(rng, n_rows, n_cols)
            while classify_table_kind(logic) != "wired":
                logic, texts = wide_table(rng, n_rows, n_cols)
            html = render_table_html(logic, dict(enumerate(texts)))
            # a chat turn carries the bare <table> element, without the
            # <html><body> wrapper the renderer adds
            table = html[html.index("<table>") : html.rindex("</table>") + len("</table>")]
            recs.append(
                {
                    "ladder": ladder,
                    "conv_id": f"wide-{ladder}",
                    "turn_idx": turn_idx,
                    "shape": f"{n_rows}x{n_cols}",
                    "html": html,
                    "text": f"Here is the {n_rows}x{n_cols} sheet you asked for:\n\n{table}\n\nLet me know if a column is off.",
                }
            )
    return pd.DataFrame(recs)


# The operator suite's ``documents`` table follows the statistics of the
# repository's fixed sf0.1 ``documents`` table (5,000 rows), which the
# benchmark may not read because it runs on its checkout alone:
# - text: 10..100 words drawn uniformly from a 30-word lowercase ASCII
#   vocabulary, one space apart; no punctuation, digits, e-mails, IPs,
#   phones or non-Latin script (t_text_profile appends its own PII and
#   repeated sentences per doc_id); n_chars 44..577, median 295;
# - 5% of rows are near-duplicates: a copy of another row with " dup"
#   appended; 0.16% are exact copies of another row;
# - lang: en 41%, zh 15%, es 15%, fr 15%, de 14%, independent of the text;
# - source: src<doc_id mod 20>, 250 rows per source.
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
_LANGS = ("en", "zh", "es", "fr", "de")
_LANG_WEIGHTS = (41, 15, 15, 15, 14)
_SOURCES = 20
_NEAR_DUP_EVERY = 20
_EXACT_DUP_EVERY = 625


def documents(seed: int, n_docs: int) -> pd.DataFrame:
    """The ``documents`` table of the operator suite:
    ``(doc_id, text, lang, source, n_chars)``, with the sf0.1 statistics
    above.  The number of copied rows is fixed; which rows, and what they
    copy, depends on the seed."""
    rng = random.Random(seed * 4_256_233 + 5)
    texts = [" ".join(rng.choices(_VOCAB, k=rng.randint(10, 100))) for _ in range(n_docs)]
    copies = rng.sample(range(1, n_docs), n_docs // _NEAR_DUP_EVERY + n_docs // _EXACT_DUP_EVERY)
    for k, i in enumerate(copies):
        near = k < n_docs // _NEAR_DUP_EVERY
        texts[i] = texts[rng.randrange(i)] + (" dup" if near else "")
    return pd.DataFrame(
        {
            "doc_id": pd.Series(range(n_docs), dtype="int64"),
            "text": texts,
            "lang": rng.choices(_LANGS, weights=_LANG_WEIGHTS, k=n_docs),
            "source": [f"src{i % _SOURCES}" for i in range(n_docs)],
            "n_chars": pd.Series([len(t) for t in texts], dtype="int64"),
        }
    )
