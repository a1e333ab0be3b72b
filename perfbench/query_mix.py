"""query_mix: closed loop, one caller, running a fixed list of registry
queries, one per family, over tables generated from the seed.

- Each query is built with ``reg[name].fn`` and materialized with a
  ``noop`` write; caches and temp views are dropped between queries, as
  ``bench.py`` does.
- A first pass checks every query against its DuckDB oracle with the
  comparison of ``tools/check_correctness.py``; it also warms the JVM and
  the Python workers, and is not timed.
- Timed passes follow until the run's seconds are used. A traced run
  alternates untraced and traced passes (at least one of each).
- The embeddings-LSH queries are left out on purpose: their run time is
  bimodal, and they are measured on their own.
"""

from __future__ import annotations

import os
import time

import datagen
import harness
from harness import Metric

QUERIES = (
    "pricing_summary",
    "top_supplier_revenue",
    "events_json_extract",
    "doc_quality_scores",
    "dedup_minhash_lsh",
    "pagerank_two_rounds",
    "kinesis_sim_render_e2e",
    "multimodal_image_neardup",
    "template_render_line_variant",
    "stream_windowed_counts",
)
# Tables each query reads; kinesis_sim_render_e2e reads its own simulated
# source (4 shards x 250 records).
QUERY_TABLES = {
    "pricing_summary": ("lineitem",),
    "top_supplier_revenue": ("supplier", "lineitem"),
    "events_json_extract": ("events",),
    "doc_quality_scores": ("documents",),
    "dedup_minhash_lsh": ("documents",),
    "pagerank_two_rounds": ("orders", "lineitem"),
    "kinesis_sim_render_e2e": (),
    "multimodal_image_neardup": ("documents",),
    "template_render_line_variant": ("events",),
    "stream_windowed_counts": ("events",),
}
SIM_SOURCE_ROWS = 1000
SIZES = {
    "full": {"scale": 0.1, "queries": QUERIES},
    "tiny": {"scale": 0.02, "queries": ("pricing_summary", "events_json_extract",
                                        "kinesis_sim_render_e2e")},
}
STAGE_REPS = 3


def _drop_state(spark) -> None:
    spark.catalog.clearCache()
    for tbl in spark.catalog.listTables():
        if tbl.isTemporary:
            spark.catalog.dropTempView(tbl.name)


def _stage(tables, k: int) -> str:
    out = os.path.join(harness.WORK_DIR, f"tables-{k}")
    datagen.write_tables(tables, out)
    return out


def _check(spark, reg, names, sf_dir, tables, wrong_expected, tracer, outcome) -> None:
    """Each query against its DuckDB oracle; failures count in ``outcome``."""
    import duckdb

    from tools.check_correctness import compare

    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    for name in names:
        with tracer.span("query_mix.check", query=name):
            try:
                got = reg[name].fn(spark, sf_dir).toPandas()
            except Exception as exc:  # noqa: BLE001 - a failed query is a result
                outcome.fail(1, f"{name}: spark raised {type(exc).__name__}: {exc}")
                continue
            finally:
                _drop_state(spark)
            want = con.sql(reg[name].oracle).df()
            if wrong_expected and name == names[0]:
                want = want.iloc[1:]
            problems = compare(name, got, want)
            if problems:
                outcome.fail(1, f"{name}: {'; '.join(problems)}")
    con.close()


def run(spark_conf, args, tracer, outcome) -> None:
    size = SIZES[args.scale]
    names = size["queries"]
    tables = datagen.query_tables(args.seed, size["scale"])
    sf_dir, stage_times = harness.timed_reps(lambda k: _stage(tables, k), STAGE_REPS)
    rows = {t: tables[t].num_rows for t in tables}
    pass_rows = sum(
        sum(rows[t] for t in QUERY_TABLES[q]) or SIM_SOURCE_ROWS for q in names
    )

    with tracer.span("session.get_spark"):
        spark, get_spark_s = harness.start_session("perfbench-query_mix", spark_conf)
    try:
        from kinesis_log_watcher_spark.queries import registry
        from kinesis_log_watcher_spark.streaming.metrics import MetricsRecorder

        reg = registry()
        recorder = MetricsRecorder.attach(spark) if tracer.enabled else None
        ledger = harness.JobLedger(spark, tracer.run_id) if tracer.enabled else None
        with harness.traced_layers(tracer):
            _check(spark, reg, names, sf_dir, tables, args.wrong_expected, tracer, outcome)
            checked = len(names)
            if ledger is not None:
                ledger.mark_sql_seen()

            plain_passes, traced_passes = [], []
            per_query: dict[str, list[float]] = {n: [] for n in names}
            build_s: dict[str, list[float]] = {n: [] for n in names}
            jobs: dict[str, list[int]] = {n: [] for n in names}
            exec_s, stats, phases, latencies = [], [], [], []
            attempted = checked
            t_start = time.perf_counter()
            while (time.perf_counter() - t_start < args.seconds or not plain_passes
                   or (tracer.enabled and not traced_passes)):
                traced = tracer.enabled and len(plain_passes) > len(traced_passes)
                t_pass = time.perf_counter()
                for name in names:
                    attempted += 1
                    group = ledger.new_group() if traced else None
                    t0 = time.perf_counter()
                    try:
                        with tracer.span("queries.call", query=name, traced=traced):
                            with tracer.span("queries.build"):
                                df = reg[name].fn(spark, sf_dir)
                            t_built = time.perf_counter()
                            if traced:
                                phases.append(harness.catalyst_phases(df))
                            t_exec = time.perf_counter()
                            with tracer.span("queries.exec"):
                                df.write.format("noop").mode("overwrite").save()
                    except Exception as exc:  # noqa: BLE001 - a failed query is a result
                        outcome.fail(1, f"{name}: timed run raised {type(exc).__name__}: {exc}")
                        continue
                    finally:
                        _drop_state(spark)
                    t1 = time.perf_counter()
                    if traced:
                        ledger.clear_group()
                        st = ledger.stats(group)
                        stats.append(st)
                        exec_s.append(t1 - t_exec)
                        build_s[name].append(t_built - t0)
                        jobs[name].append(st.jobs)
                    else:
                        per_query[name].append(t1 - t0)
                        latencies.append(t1 - t0)
                (traced_passes if traced else plain_passes).append(time.perf_counter() - t_pass)
        if recorder is not None:
            recorder.detach()
        rss = harness.peak_rss_mb(spark)
    finally:
        harness.stop_session(spark)

    outcome.attempted = attempted
    pass_s = harness.median(plain_passes)
    outcome.end_to_end = {
        "setup_s": Metric(get_spark_s + harness.median(stage_times), "s", len(stage_times)),
        "peak_rss_mb": Metric(rss, "MB"),
        "rows_per_s": Metric(pass_rows / pass_s, "1/s", len(plain_passes)),
        "latency_p50_s": Metric(harness.median(latencies), "s", len(latencies)),
        "latency_p90_s": Metric(harness.quantile(latencies, 0.9), "s", len(latencies)),
    }
    outcome.report = {
        "setup_s": outcome.end_to_end["setup_s"],
        "peak_rss_mb": outcome.end_to_end["peak_rss_mb"],
        "fail_rate": Metric(outcome.failed / attempted, "ratio", attempted),
        "rows_per_s": outcome.end_to_end["rows_per_s"],
        "pass_s": Metric(pass_s, "s", len(plain_passes)),
        "pass_input_rows": Metric(pass_rows, "count"),
    }
    for name, xs in per_query.items():
        if xs:
            outcome.report[f"queries.{name}.total_s"] = Metric(harness.median(xs), "s", len(xs))
    if tracer.enabled:
        progress = recorder.progress()
        layers = {
            "session.get_spark_s": Metric(get_spark_s, "s"),
            "sources.stage_s": Metric(harness.median(stage_times), "s", len(stage_times)),
            "watcher.render_errors": Metric(0, "count"),
            "streaming.batches": Metric(len(progress), "count"),
            "streaming.state_rows_max": Metric(
                max((r["state_rows"] for r in progress), default=0), "count"),
            "queries.build_py_s": Metric(
                sum(sum(v) for v in build_s.values()) / max(1, len(stats)), "s", len(stats)),
            "trace.overhead_s": Metric(
                (harness.median(traced_passes) - pass_s) / len(names), "s", len(traced_passes)),
        }
        for name in names:
            if build_s[name]:
                layers[f"queries.{name}.build_py_s"] = Metric(
                    harness.median(build_s[name]), "s", len(build_s[name]))
                layers[f"queries.{name}.jobs"] = Metric(
                    harness.median(jobs[name]), "count", len(jobs[name]))
        layers.update(harness.template_layer_metrics(tracer))
        layers.update(harness.call_layer_metrics(stats, exec_s))
        layers.update(harness.phase_metrics(phases))
        outcome.layers = layers
