"""Tests of the benchmark itself (no Spark): generators are deterministic
per seed, every correctness check rejects a corrupted output, the stage
timers leave the kernel unchanged, and the event-log summariser counts what
the log holds.

    python3 -m pytest perfbench/tests -q
"""

import json

import pandas as pd
import pytest

from perfbench import checks, eventlog, gen, kernel
from tablestructurerec_spark.core import pipeline
from tablestructurerec_spark.core.html_parse import TABLE_RE, find_table_fragments, strip_boilerplate
from tablestructurerec_spark.sources.synthetic import _rows_for_conv, expected_tables_for_turn

SEED = 11


# -- generators ---------------------------------------------------------------
def test_wide_tables_deterministic_per_seed():
    a, b, c = gen.wide_tables(SEED, 2), gen.wide_tables(SEED, 2), gen.wide_tables(SEED + 1, 2)
    pd.testing.assert_frame_equal(a, b)
    assert list(a["html"]) != list(c["html"])
    for ladder in (0, 1):
        assert sorted(a[a["ladder"] == ladder]["shape"]) == sorted(f"{r}x{c}" for r, c in gen.WIDE_SHAPES)
    for text, html in zip(a["text"], a["html"]):
        assert [pipeline.process_table_html(h, 0)["pred_html"] for _, _, h in find_table_fragments(text)] == [html]


def test_documents_deterministic_per_seed():
    a, b, c = gen.documents(SEED, 1250), gen.documents(SEED, 1250), gen.documents(SEED + 1, 1250)
    pd.testing.assert_frame_equal(a, b)
    assert list(a["text"]) != list(c["text"])
    assert list(a["n_chars"]) == [len(t) for t in a["text"]]
    for d in (a, c):
        assert d["text"].str.endswith(" dup").sum() == 1250 // 20
        assert d["text"].duplicated().sum() >= 1250 // 625


def test_chat_sizing_deterministic_and_reaches_target():
    n1, t1 = gen.n_convs_for_turns(SEED, 500)
    assert gen.n_convs_for_turns(SEED, 500) == (n1, t1)
    assert t1 >= 500
    assert gen.n_convs_for_turns(SEED, 499)[0] <= n1


# -- chat_tables check --------------------------------------------------------
def _chat_outputs(n_convs=4):
    turns, tables, main_text = [], [], {}
    for conv in range(n_convs):
        rows = _rows_for_conv(SEED, conv, gen.MEAN_TURNS)
        for conv_id, turn_idx, text in rows[["conv_id", "turn_idx", "text"]].itertuples(index=False, name=None):
            turns.append((conv_id, int(turn_idx), text))
            main_text[(conv_id, int(turn_idx))] = strip_boilerplate(TABLE_RE.sub(" ", text))
            for ti, html in enumerate(expected_tables_for_turn(SEED, conv, int(turn_idx))):
                tables.append([conv_id, int(turn_idx), ti, "wired", html, None])
    assert tables, "fixture must hold tables"
    return turns, tables, main_text


def test_check_chat_accepts_correct_outputs():
    turns, tables, main_text = _chat_outputs()
    attempted, failures = checks.check_chat(SEED, turns, tables, main_text)
    assert failures == []
    assert attempted == len(tables) + len(turns)


@pytest.mark.parametrize("corrupt", ["html", "error", "missing", "extra", "main_text"])
def test_check_chat_rejects_corrupted_output(corrupt):
    turns, tables, main_text = _chat_outputs()
    if corrupt == "html":
        tables[0][4] = tables[0][4].replace("<td", "<td class=x", 1)
    elif corrupt == "error":
        tables[0][3], tables[0][5] = "error", "ValueError: boom"
    elif corrupt == "missing":
        tables.pop()
    elif corrupt == "extra":
        tables.append(list(tables[0][:2]) + [99] + list(tables[0][3:]))
    else:
        key = next(iter(main_text))
        main_text[key] += " x"
    _, failures = checks.check_chat(SEED, turns, tables, main_text)
    assert len(failures) == 1, failures


# -- wide_tables check --------------------------------------------------------
@pytest.mark.parametrize("corrupt", [None, "html", "error", "missing"])
def test_check_wide(corrupt):
    wide = gen.wide_tables(SEED, 1).head(3)
    turns = list(wide[["conv_id", "turn_idx", "html"]].itertuples(index=False, name=None))
    tables = [[c, t, 0, "wired", html, None] for c, t, html in turns]
    if corrupt == "html":
        tables[1][4] = tables[1][4].replace("</td>", "</td><td></td>", 1)
    elif corrupt == "error":
        tables[1][3], tables[1][5] = "error", "ValueError: boom"
    elif corrupt == "missing":
        tables.pop()
    attempted, failures = checks.check_wide(turns, tables)
    assert attempted == 3
    assert len(failures) == (0 if corrupt is None else 1), failures


# -- kernel harness round trip -----------------------------------------------
def test_check_round_trip():
    htmls = list(gen.wide_tables(SEED, 1)["html"])[:2]
    outputs = [pipeline.process_table_html(h, 0) for h in htmls]
    assert checks.check_round_trip(htmls, outputs) == (2, [])
    outputs[1] = dict(outputs[1], pred_html=outputs[1]["pred_html"].replace("</td>", "</td><td></td>", 1))
    assert len(checks.check_round_trip(htmls, outputs)[1]) == 1


# -- operator suite check ----------------------------------------------------
def test_check_query_rejects_a_changed_value_and_a_lost_row():
    want = pd.DataFrame({"doc_id": [1, 2, 3], "score": [0.5, 0.25, 1.0]})
    assert checks.check_query("q", want.iloc[::-1].copy(), want) == (1, [])
    changed = want.copy()
    changed.loc[1, "score"] = 0.2500011
    assert len(checks.check_query("q", changed, want)[1]) == 1
    assert len(checks.check_query("q", want.iloc[:2], want)[1]) == 1
    assert len(checks.check_query("q", want.rename(columns={"score": "s"}), want)[1]) == 1


# -- lineage check ------------------------------------------------------------
def test_check_lineage():
    lineage = [(0, "ok", 5, 2), (1, "ok", 3, 0), (2, "ok", 4, 1)]
    recount = {0: 2, 2: 1}
    assert checks.check_lineage(lineage, recount, 12, 3, []) == (4, [])
    assert len(checks.check_lineage(lineage, {0: 2, 2: 2}, 12, 3, [])[1]) == 1
    assert len(checks.check_lineage(lineage, recount, 13, 3, [])[1]) == 1
    assert len(checks.check_lineage(lineage, recount, 12, 3, [1])[1]) == 1
    assert len(checks.check_lineage(lineage[:2], {0: 2}, 8, 3, [])[1]) == 1


# -- kernel harness -----------------------------------------------------------
def _some_tables():
    turns, _, _ = _chat_outputs(2)
    return [h for _, _, text in turns for _, _, h in find_table_fragments(text)]


def test_stage_timers_restore_the_kernel():
    before = {name: getattr(pipeline, name) for name in kernel.STAGES}
    with kernel.stage_timers() as (seconds, calls):
        assert pipeline.render_table_html is not before["render_table_html"]
        pipeline.process_table_html(_some_tables()[0], 0)
    assert {name: getattr(pipeline, name) for name in kernel.STAGES} == before
    assert calls["parse_table_html"] == 1 and seconds["render"] > 0


def test_kernel_run_is_unchanged_by_the_timers():
    res = kernel.run(_some_tables())
    assert checks.check_kernel(res["_wrapped"], res["_plain"]) == (len(res["_plain"]), [])
    assert res["core.wired_tables"] + res["core.wireless_tables"] == len(res["_plain"])
    assert res["core.recover_calls"] >= res["core.wired_tables"]
    bad = list(res["_wrapped"])
    bad[0] = dict(bad[0], pred_html="")
    assert len(checks.check_kernel(bad, res["_plain"])[1]) == 1


# -- event-log summariser -----------------------------------------------------
def _task(stage, launch, finish, sent=0, run_ms=0, shuffle_write=0):
    accs = [{"Name": "data sent to Python workers", "Update": sent}, {"Name": "time to run Python workers", "Update": run_ms}] if sent else []
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {"Launch Time": launch, "Finish Time": finish, "Accumulables": accs},
        "Task Metrics": {
            "Executor Run Time": finish - launch,
            "Disk Bytes Spilled": 0,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 0},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_write},
        },
    }


def test_eventlog_summarize_rolling_log(tmp_path):
    app = "local-1"
    d = tmp_path / f"eventlog_v2_{app}"
    d.mkdir()
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000, "Stage IDs": [0], "Properties": {"spark.jobGroup.id": "extract"}},
        _task(0, 1000, 1100, sent=50, run_ms=80),
        _task(0, 1000, 1100, sent=50, run_ms=80),
        _task(0, 1000, 1400, sent=100, run_ms=300),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1500},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2000, "Stage IDs": [1], "Properties": {}},
        _task(1, 2000, 2100, shuffle_write=7),
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 2100},
    ]
    (d / f"events_1_{app}").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    out = eventlog.summarize(str(tmp_path), app)
    assert set(out) == {"extract"}  # the untagged job is ignored
    ex = out["extract"]
    assert (ex["jobs"], ex["tasks"], ex["py_bytes_in"]) == (1, 3, 200)
    assert ex["py_run_s"] == pytest.approx(0.46)
    assert ex["job_s"] == ex["python_job_s"] == pytest.approx(0.5)
    assert ex["task_max_over_median"] == pytest.approx(4.0)
