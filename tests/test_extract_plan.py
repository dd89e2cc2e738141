"""End-to-end Spark extraction-plan tests.

The synthesizer is its own oracle: every embedded table's normalized HTML is
replayable per (seed, conv, turn), so per-turn text equality is asserted
byte-for-byte through the full distributed plan.
"""

import pytest

from tablestructurerec_spark.core.html_parse import TABLE_RE, strip_boilerplate
from tablestructurerec_spark.functions.text import strip_boilerplate_col, strip_tables_col
from tablestructurerec_spark.plans.extract import extract_transcripts
from tablestructurerec_spark.sources.synthetic import (
    expected_tables_for_turn,
    synth_transcripts,
)

SEED = 42
N_CONVS = 30


@pytest.fixture(scope="module")
def transcripts(spark):
    return synth_transcripts(spark, n_convs=N_CONVS, mean_turns=6, seed=SEED).cache()


def test_synth_is_deterministic_and_skewed(transcripts):
    rows = transcripts.groupBy("conv_id").count().collect()
    assert len(rows) == N_CONVS
    counts = sorted(r["count"] for r in rows)
    assert counts[-1] > counts[0]  # Zipfian tail exists


def test_tables_match_oracle_per_turn(spark, transcripts):
    _, tables = extract_transcripts(transcripts)
    got = {
        (r.conv_id, r.turn_idx, r.table_idx): (r.pred_html, r.table_kind, r.n_cells)
        for r in tables.collect()
    }
    n_checked = 0
    for r in transcripts.select("conv_id", "turn_idx").collect():
        conv = int(r.conv_id.split("-")[1])
        for ti, want in enumerate(expected_tables_for_turn(SEED, conv, r.turn_idx)):
            key = (r.conv_id, r.turn_idx, ti)
            assert key in got, f"missing table {key}"
            assert got[key][0] == want, f"pred_html mismatch at {key}"
            n_checked += 1
    assert n_checked == len(got) and n_checked > 30
    kinds = {got[k][1] for k in got}
    assert kinds <= {"wired", "wireless"} and "wired" in kinds


def test_native_strip_matches_python_kernel(spark, transcripts):
    """The JVM boilerplate-strip expressions must equal the python kernel."""
    sample = transcripts.select("text").limit(200)
    native = (
        sample.select(
            "text",
            strip_boilerplate_col(strip_tables_col("text")).alias("main_native"),
        )
    ).collect()
    for r in native:
        want = strip_boilerplate(TABLE_RE.sub(" ", r.text))
        assert r.main_native == want


def test_clean_turns_plan_is_native(spark, transcripts, tmp_path):
    """Over a parquet source, clean_turns must stay pure codegen (no Python
    stage) and prune columns at the scan."""
    path = str(tmp_path / "t.parquet")
    transcripts.write.mode("overwrite").parquet(path)
    turns, _ = extract_transcripts(spark.read.parquet(path))
    plan = turns._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan and "MapInPandas" not in plan
    # "*(1)" marks the whole-stage-codegen span over the scan+project
    assert "*(1) Project" in plan and "FileScan parquet" in plan


def test_stable_ordering(spark, transcripts):
    turns, _ = extract_transcripts(transcripts)
    out = turns.orderBy("conv_id", "turn_idx").select("conv_id", "turn_idx").collect()
    keys = [(r.conv_id, r.turn_idx) for r in out]
    assert keys == sorted(keys)


def test_native_strip_crlf_parity(spark):
    """CRLF and stray-CR text must clean identically through the python
    kernel and the native Column chain (all three faces carry \\r in the
    horizontal-whitespace class)."""
    from pyspark.sql import functions as F

    from tablestructurerec_spark.core.html_parse import strip_boilerplate
    from tablestructurerec_spark.functions.text import strip_boilerplate_col

    cases = ["a\r\n\r\nb", "a\rb", "x <b>y</b>\r\n z", "line1\r\nline2\r\n"]
    df = spark.createDataFrame([(c,) for c in cases], "text string")
    got = [r.out for r in df.select(strip_boilerplate_col(F.col("text")).alias("out")).collect()]
    want = [strip_boilerplate(c) for c in cases]
    assert got == want


def test_zip_stat_check_installed_in_workers_only(spark):
    """Importing the package in a Python worker installs the zipimport stat
    check (see ``tablestructurerec_spark._install_zip_stat_check``); the
    driver keeps the stdlib method."""
    import zipimport

    def report(batches):
        import zipimport

        import pandas as pd

        import tablestructurerec_spark  # noqa: F401

        for _ in batches:
            pass
        checked = getattr(zipimport.zipimporter.invalidate_caches, "_stat_checked", False)
        yield pd.DataFrame({"checked": [checked]})

    rows = spark.range(2, numPartitions=2).mapInPandas(report, "checked boolean").collect()
    assert [r.checked for r in rows] == [True, True]
    assert not getattr(zipimport.zipimporter.invalidate_caches, "_stat_checked", False)
