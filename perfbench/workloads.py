"""The benchmark's workloads.  Each sets up its seeded input, checks the
program's outputs once outside the timed window, warms up, then either
times whole passes (``run.trace`` false) or times each layer separately.

A workload returns ``work``: the per-pass work counts the end-to-end
throughputs divide by, and in an untraced run the pass times and peak RSS.
Per-layer metrics go to ``run.layers``."""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor
from typing import Callable, Dict, List

import duckdb

from perfbench import checks, eventlog, gen, kernel
from perfbench.harness import RssSampler, Run, cpu_ticks, median, noop, steal_share, timed_passes

# chat_tables: turns per pass, and tables the kernel harness replays
CHAT_TURNS = 3000
CHAT_CORE_TABLES = 600
# lineage: run_with_lineage's bucket count, as the CLI default
LINEAGE_BUCKETS = 64
# operator suite: documents in the generated corpus, and the registry queries
SUITE_DOCS = 1000
SUITE_QUERIES = ("t_text_profile", "dedup_ngram_jaccard")
# a traced run repeats each layer pass at least this many times
TRACE_ROUNDS = 2
# untimed passes after the correctness pass, per workload.  The JVM's JIT
# compiles by call counts, so a fixed pass count warms it the same on a
# slow host and a fast one, where a fixed time would not.  A chat_tables
# pass is mostly JVM work (scan, Arrow, clean_turns' regexes) and still
# sped up by ~10% over its next 15 s after 5 warm-up passes; a wide_tables
# pass is mostly Python and takes ~2 s.
CHAT_WARMUP_PASSES = 12
WIDE_WARMUP_PASSES = 6
_COLS = ["conv_id", "turn_idx", "table_idx", "table_kind", "pred_html", "error"]


def _identity(batches):
    yield from batches


def _warm_up(run: Run, one_pass: Callable[[], None], passes: int) -> None:
    for _ in range(passes):
        one_pass()
    run.phase("warmup")


def _time(run: Run, one_pass: Callable[[], None], seconds: float, work: dict) -> bool:
    """In an untraced run, the timed window (pass times and peak RSS into
    ``work``) and True.  A traced run instead times a few untraced passes,
    the reference of ``trace.overhead_share``, restarts the session with the
    event log on and returns False: the caller re-binds its DataFrames to
    ``run.spark``."""
    if run.trace:
        run.layers["trace.untraced_pass_s"] = median(timed_passes(0, one_pass))
        run.start_tracing()
        run.phase("untraced")
        return False
    ticks = cpu_ticks()
    with RssSampler() as rss:
        work["pass_times"] = timed_passes(seconds, one_pass)
    work["peak_rss_bytes"] = rss.tree_peak
    work["host_steal_share"] = steal_share(ticks, cpu_ticks())
    run.phase("timed")
    return True


def _layer_rounds(seconds: float, steps: Dict[str, Callable[[], None]], run: Run) -> Dict[str, List[float]]:
    """Traced run: repeat every step in turn, each under its own job group,
    until ``seconds`` have passed and TRACE_ROUNDS rounds are done."""
    times: Dict[str, List[float]] = {k: [] for k in steps}
    end = time.perf_counter() + seconds
    while len(times[next(iter(steps))]) < TRACE_ROUNDS or time.perf_counter() < end:
        for name, step in steps.items():
            with run.job_group(name):
                t0 = time.perf_counter()
                step()
                times[name].append(time.perf_counter() - t0)
    return times


def _extract_layers(run: Run, df, seconds: float, clean: bool) -> Dict[str, List[float]]:
    """Layer passes of a traced run: scan + pre-filter, the same with an
    identity mapInPandas, the full extraction, and clean_turns when
    ``clean``."""
    from pyspark.sql import functions as F

    from tablestructurerec_spark.functions.text import has_table_col
    from tablestructurerec_spark.plans.extract import clean_turns, extract_tables

    src = df.where(has_table_col(F.col("text"))).select("conv_id", "turn_idx", "text")
    steps = {
        "scan": lambda: noop(src),
        "identity": lambda: noop(src.mapInPandas(_identity, src.schema)),
        "extract": lambda: noop(extract_tables(df)),
    }
    if clean:
        steps["clean"] = lambda: noop(clean_turns(df))
    with RssSampler() as rss:
        times = _layer_rounds(seconds, steps, run)
    scan, ident, full = (median(times[k]) for k in ("scan", "identity", "extract"))
    run.layers.update(
        {
            "sources.scan_filter_s": scan,
            "sources.input_splits": src.rdd.getNumPartitions(),
            "extract.arrow_s": ident - scan,
            "extract.kernel_s": full - ident,
            "extract.worker_rss_peak_mb": rss.worker_peak / 2**20,
            "trace.pass_s": full,
        }
    )
    if clean:
        run.layers["functions.clean_turns_s"] = median(times["clean"])
        run.layers["trace.pass_s"] += median(times["clean"])
    return times


def _extract_log(run: Run, logs: Dict[str, dict], rounds: int, tables) -> None:
    """extract.* from the event log (per pass) and the checked output."""
    ex = logs.get("extract", {})
    run.layers.update(
        {
            "extract.tables": len(tables),
            "extract.cells": int(tables["n_cells"].sum()),
            "extract.error_tables": int((tables["table_kind"] == "error").sum()),
            "extract.py_bytes_in": ex.get("py_bytes_in", 0) / rounds,
            "extract.py_bytes_out": ex.get("py_bytes_out", 0) / rounds,
            "extract.py_run_s": ex.get("py_run_s", 0) / rounds,
            "extract.tasks": ex.get("tasks", 0) / rounds,
            "extract.task_max_over_median": ex.get("task_max_over_median", 0.0),
        }
    )


def _wide_kernel(run: Run, wide) -> None:
    """The kernel harness on the first ladder of wide tables, one wired
    table of every WIDE_SHAPES size, where ``match_ocr_to_cells`` and the
    superlinear per-table path dominate; each must round-trip to its input
    HTML."""
    htmls = list(wide[wide["ladder"] == 0]["html"])
    res = kernel.run(htmls)
    wrapped, plain = res.pop("_wrapped"), res.pop("_plain")
    run.check(*checks.check_kernel(wrapped, plain))
    run.check(*checks.check_round_trip(htmls, plain))
    run.layers.update(
        {
            "core.wide_cells": sum(r["n_cells"] for r in plain),
            "core.wide_ms_per_table": res["core.ms_per_table"],
            "core.wide_match_s": res["core.match_s"],
        }
    )


def chat_tables(run: Run, seed: int, seconds: float) -> dict:
    from tablestructurerec_spark.core.html_parse import find_table_fragments
    from tablestructurerec_spark.plans.extract import clean_turns, extract_tables
    from tablestructurerec_spark.sources.synthetic import synth_transcripts

    n_convs, _ = gen.n_convs_for_turns(seed, CHAT_TURNS)

    def make_input(spark, path):
        # one file per core with the same number of turns: Zipfian
        # conversation sizes otherwise give one task up to twice the turns
        # of another, and the pass then waits on that one core
        turns = synth_transcripts(spark, n_convs, mean_turns=gen.MEAN_TURNS, seed=seed)
        turns.repartition(run.cpus).write.parquet(path)

    path = run.set_up(make_input)
    run.phase("setup")
    df = run.spark.read.parquet(path)

    tables = extract_tables(df).toPandas()
    clean = clean_turns(df).select("conv_id", "turn_idx", "main_text").toPandas()
    turns = list(df.select("conv_id", "turn_idx", "text").toPandas().itertuples(index=False, name=None))
    main_text = {(c, int(t)): m for c, t, m in clean.itertuples(index=False, name=None)}
    rows = tables[_COLS].itertuples(index=False, name=None)
    run.check(*checks.check_chat(seed, turns, rows, main_text))
    run.phase("check")
    work = {"convs": n_convs, "turns": len(turns), "tables": len(tables), "cells": int(tables["n_cells"].sum())}

    def one_pass():
        noop(extract_tables(df))
        noop(clean_turns(df))

    _warm_up(run, one_pass, CHAT_WARMUP_PASSES)
    if _time(run, one_pass, seconds, work):
        return work

    df = run.spark.read.parquet(path)
    times = _extract_layers(run, df, seconds, clean=True)
    _lineage(run, df, len(turns))
    htmls = [h for _, _, text in sorted(turns) for _, _, h in find_table_fragments(text)]
    res = kernel.run(htmls[:CHAT_CORE_TABLES])
    run.check(*checks.check_kernel(res.pop("_wrapped"), res.pop("_plain")))
    run.layers.update(res)
    run.stop_spark()

    logs = eventlog.summarize(run.path("eventlog"), run.app_id)
    _extract_log(run, logs, len(times["extract"]), tables)
    lin = logs.get("lineage.run", {})
    run.layers.update(
        {
            "functions.table_turn_share": sum(1 for _, _, t in turns if find_table_fragments(t)) / len(turns),
            "lineage.jobs": lin.get("jobs", 0),
            "lineage.write_job_s": lin.get("python_job_s", 0.0),
            "lineage.metric_jobs_s": lin.get("job_s", 0.0) - lin.get("python_job_s", 0.0),
        }
    )
    return work


def wide_tables(run: Run, seed: int, seconds: float) -> dict:
    from tablestructurerec_spark.plans.extract import extract_tables

    wide = {}

    def make_input(spark, path):
        # one ladder of WIDE_SHAPES per core, each in its own file, so every
        # task gets the same set of table sizes
        wide["df"] = gen.wide_tables(seed, run.cpus)
        os.makedirs(path)
        for ladder, part in wide["df"].groupby("ladder"):
            part[["conv_id", "turn_idx", "text"]].to_parquet(os.path.join(path, f"part-{ladder}.parquet"), index=False)

    path = run.set_up(make_input)
    run.phase("setup")
    df = run.spark.read.parquet(path)
    tables = extract_tables(df).toPandas()
    turns = wide["df"][["conv_id", "turn_idx", "html"]].itertuples(index=False, name=None)
    run.check(*checks.check_wide(turns, tables[_COLS].itertuples(index=False, name=None)))
    run.phase("check")
    work = {"ladders": run.cpus, "turns": len(wide["df"]), "tables": len(tables), "cells": int(tables["n_cells"].sum())}

    def one_pass():
        noop(extract_tables(df))

    _warm_up(run, one_pass, WIDE_WARMUP_PASSES)
    if _time(run, one_pass, seconds, work):
        return work

    df = run.spark.read.parquet(path)
    times = _extract_layers(run, df, seconds, clean=False)
    _wide_kernel(run, wide["df"])
    suite_rounds = _suite_layers(run, seed, seconds)
    run.stop_spark()

    logs = eventlog.summarize(run.path("eventlog"), run.app_id)
    _extract_log(run, logs, len(times["extract"]), tables)
    _suite_log(run, logs, suite_rounds)
    return work


def _lineage(run: Run, df, n_turns: int) -> None:
    """One run_with_lineage into a fresh directory, then a resume call that
    must find every bucket done; checks the lineage counts against a
    recount of the written output."""
    from tablestructurerec_spark.plans.lineage import read_output, run_with_lineage

    out = run.path("lineage")
    with run.job_group("lineage.run"):
        t0 = time.perf_counter()
        run_with_lineage(run.spark, df, out, n_buckets=LINEAGE_BUCKETS, run_id="perfbench")
        run_s = time.perf_counter() - t0
    with run.job_group("lineage.resume"):
        t0 = time.perf_counter()
        resumed = run_with_lineage(run.spark, df, out, n_buckets=LINEAGE_BUCKETS, run_id="perfbench-resume")
        resume_s = time.perf_counter() - t0
    lineage = run.spark.read.parquet(f"{out}/_lineage").select("bucket", "status", "n_turns", "n_tables").collect()
    recount = {r["bucket"]: r["count"] for r in read_output(run.spark, out).groupBy("bucket").count().collect()}
    run.check(*checks.check_lineage(lineage, recount, n_turns, LINEAGE_BUCKETS, resumed))
    files = [os.path.join(d, f) for d, _, fs in os.walk(f"{out}/tables") for f in fs if f.endswith(".parquet")]
    run.layers.update(
        {
            "lineage.run_s": run_s,
            "lineage.resume_s": resume_s,
            "lineage.files_written": len(files),
            "lineage.bytes_written": sum(os.path.getsize(f) for f in files),
        }
    )


def _suite_queries():
    from tablestructurerec_spark.operators import dedup, profile

    registry = {**dedup.QUERIES, **profile.QUERIES}
    oracles = {**dedup.ORACLE_SQL, **profile.ORACLE_SQL}
    return {q: registry[q] for q in SUITE_QUERIES}, {q: oracles[q] for q in SUITE_QUERIES}


def _oracle_results(sf_dir: str, oracles: Dict[str, str]) -> dict:
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')")
        return {name: con.execute(sql).df() for name, sql in oracles.items()}
    finally:
        con.close()


def _suite_layers(run: Run, seed: int, seconds: float) -> int:
    """The operator layer in a traced run: the SUITE_QUERIES over a
    seeded ``documents`` table, checked against their DuckDB oracles, then
    built, planned and executed in turn for ``seconds``.  Returns the
    number of rounds."""
    queries, oracles = _suite_queries()
    sf_dir = run.path("documents")
    os.makedirs(sf_dir)
    gen.documents(seed, SUITE_DOCS).to_parquet(os.path.join(sf_dir, "documents.parquet"), index=False)
    spark = run.spark
    # the DuckDB oracles run in a thread while Spark computes the same
    # queries and warms up
    with ThreadPoolExecutor(max_workers=1) as pool:
        want = pool.submit(_oracle_results, sf_dir, oracles)
        got = {name: q(spark, sf_dir).toPandas() for name, q in queries.items()}
        for _ in range(TRACE_ROUNDS):
            for q in queries.values():
                noop(q(spark, sf_dir))
        want = want.result()
    for name in queries:
        run.check(*checks.check_query(name, got[name], want[name]))
    run.phase("suite_check")

    build: Dict[str, List[float]] = {q: [] for q in queries}
    plan: Dict[str, List[float]] = {q: [] for q in queries}
    exe: Dict[str, List[float]] = {q: [] for q in queries}
    rounds = 0
    end = time.perf_counter() + seconds
    while rounds < TRACE_ROUNDS or time.perf_counter() < end:
        for name, q in queries.items():
            with run.job_group(f"suite.{name}"):
                t0 = time.perf_counter()
                qdf = q(spark, sf_dir)
                t1 = time.perf_counter()
                qdf._jdf.queryExecution().executedPlan()
                t2 = time.perf_counter()
                noop(qdf)
                t3 = time.perf_counter()
            build[name].append(t1 - t0)
            plan[name].append(t2 - t1)
            exe[name].append(t3 - t2)
        rounds += 1
    for name in queries:
        run.layers.update(
            {
                f"suite.{name}.build_s": median(build[name]),
                f"suite.{name}.plan_s": median(plan[name]),
                f"suite.{name}.exec_s": median(exe[name]),
            }
        )
    run.layers.update(
        {
            "suite.build_s": sum(median(v) for v in build.values()),
            "suite.exec_s": sum(median(v) for v in exe.values()),
        }
    )
    return rounds


def _suite_log(run: Run, logs: Dict[str, dict], rounds: int) -> None:
    """suite.* from the event log, per round."""
    for name in SUITE_QUERIES:
        s = logs.get(f"suite.{name}", {})
        run.layers.update(
            {
                f"suite.{name}.jobs": s.get("jobs", 0) / rounds,
                f"suite.{name}.shuffle_bytes": s.get("shuffle_write_bytes", 0) / rounds,
                f"suite.{name}.spill_bytes": s.get("spill_bytes", 0) / rounds,
                f"suite.{name}.task_max_over_median": s.get("task_max_over_median", 0.0),
            }
        )
    run.layers["suite.jobs"] = sum(run.layers[f"suite.{q}.jobs"] for q in SUITE_QUERIES)


WORKLOADS = {"chat_tables": chat_tables, "wide_tables": wide_tables}
