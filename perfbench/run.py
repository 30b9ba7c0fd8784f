"""Benchmark of pimdb_spark: one command, seeded inputs, checked outputs.

    python3 perfbench/run.py --workload imdb_pipeline --seed 1 --seconds 5 --trace 0

Run from the root of a checkout.  Workloads (see perfbench/README.md):

- ``imdb_pipeline``: transfer, build, refresh and query one IMDb snapshot;
- ``catalog_ops``: operator-catalog queries over seeded star-schema,
  document, embedding and event tables.

Each run starts one Spark session on ``local[<nproc>]``, generates its
inputs from ``--seed``, repeats the workload's pass until ``--seconds`` have
been measured (at least one pass), checks every output outside the timed
region, and prints every metric as ``metric <name> <value> <unit>``.  The
last stdout line is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` -- the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``.  A traced run also writes its spans to
``perfbench/out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("imdb_pipeline", "catalog_ops")

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "query_geomean_ms": "ms",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric and its unit, in output order."""
    from catalog_ops import QUERIES
    from imdb_pipeline import DATASETS, TEMPLATES

    from pimdb_spark.schemas import NORMALIZED_TABLE_NAMES

    def snake(dataset: str) -> str:
        return dataset.replace(".", "_")

    units = {
        "session.get_spark_s": "s",
        "session.synth_imdb_s": "s",
        "session.synth_catalog_s": "s",
        "session.peak_rss_mb": "MB",
    }
    units.update({f"ingest.transfer.{snake(d)}_s": "s" for d in DATASETS})
    units.update({
        "ingest.transfer.stages": "count",
        "ingest.transfer.tasks": "count",
        "ingest.rows_kept_ratio": "ratio",
        "ingest.transfer_rows_per_s": "1/s",
        "plans.store.bytes_written": "bytes",
        "plans.store.files_written": "count",
        "plans.store.reads": "count",
        "plans.store.read_s": "s",
    })
    units.update({f"plans.build.{t}_s": "s" for t in NORMALIZED_TABLE_NAMES})
    units.update({
        "plans.build_rows_per_s": "1/s",
        "plans.store.bytes_per_input_byte": "ratio",
        "plans.build.plan_s": "s",
        "plans.build.stages": "count",
        "plans.build.tasks": "count",
        "plans.build.failed_tasks": "count",
        "plans.store.sql_ms": "ms",
        "plans.store.register_all_ms": "ms",
        "plans.store.spark_sql_ms": "ms",
        "sources.tsv.print_tsv_ms": "ms",
        "query.jobs_per_query": "count",
        "query.tasks_per_query": "count",
    })
    units.update({f"query.{t}_p50_ms": "ms" for t in TEMPLATES})
    units.update({f"ingest.incremental_transfer.{snake(d)}_s": "s" for d in DATASETS})
    units.update({
        "ingest.refresh_s": "s",
        "ingest.refresh.rows_changed": "count",
        "ingest.refresh.tables_rewritten": "count",
        "ingest.refresh.rewrite_ratio": "ratio",
        "ingest.refresh.tasks": "count",
    })
    units.update({f"catalog.{q}_s": "s" for q in QUERIES})
    units.update({
        "catalog.stages": "count",
        "catalog.tasks": "count",
        "trace.pass_s": "s",
        "trace.spans": "count",
    })
    return units


def _median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def start_spark(work_dir: str):
    """Start the session the program's CLI would start, on local[nproc],
    with executor Python workers able to import pimdb_spark from any
    working directory and every temp file inside ``work_dir``."""
    from pimdb_spark.catalog import ensure_worker_code
    from pimdb_spark.session import get_spark

    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp)
    tempfile.tempdir = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    spark = get_spark(
        "pimdb-spark-perfbench",
        extra_conf={"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    ensure_worker_code(spark)
    spark.range(1).count()
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def peak_rss_mb(spark) -> float:
    """High-water resident set of this Python process plus the Spark JVM."""
    python_kib = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kib = 0
    with open(f"/proc/{jvm_pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kib = int(line.split()[1])
    return (python_kib + jvm_kib) / 1024.0


def install_layer_spans(tracer) -> None:
    """Wrap the layer entry points the pass reaches only indirectly."""
    import pimdb_spark.ingest as ingest
    from pimdb_spark.plans.store import ParquetDatabase

    tracer.wrap(ingest, "read_dataset", "sources.tsv.read_dataset",
                label=lambda spark, path, dataset, *a, **k: {"dataset": dataset})
    tracer.wrap(ParquetDatabase, "write", "plans.store.write",
                label=lambda db, df, table, *a, **k: {"table": table})
    tracer.wrap(ParquetDatabase, "read", "plans.store.read",
                label=lambda db, table: {"table": table})
    tracer.wrap(ParquetDatabase, "sql", "plans.store.sql")
    tracer.wrap(ParquetDatabase, "register_all", "plans.store.register_all")


def per_dataset_seconds(tracer, op_span) -> dict[str, float]:
    """Seconds per dataset inside a transfer/refresh span: from one
    dataset's read_dataset call to the next one (or the span's end)."""
    reads = sorted(tracer.named("sources.tsv.read_dataset", within=op_span),
                   key=lambda s: s.start)
    ends = [s.start for s in reads[1:]] + [op_span.end]
    return {r.attrs["dataset"]: end - r.start for r, end in zip(reads, ends)}


def imdb_layer_metrics(tracer, passes: list[dict]) -> dict[str, float]:
    from imdb_pipeline import DATASETS, TEMPLATES

    m: dict[str, float] = {}
    transfers = tracer.named("ingest.transfer")
    refreshes = tracer.named("ingest.incremental_transfer")
    builds = tracer.named("plans.build.run")
    for op, spans in (("transfer", transfers), ("incremental_transfer", refreshes)):
        per = [per_dataset_seconds(tracer, s) for s in spans]
        for d in DATASETS:
            m[f"ingest.{op}.{d.replace('.', '_')}_s"] = _median(p[d] for p in per)
    t_counts = [tracer.subtree_counts(s) for s in transfers]
    m["ingest.transfer.stages"] = _median(c["stages"] for c in t_counts)
    m["ingest.transfer.tasks"] = _median(c["tasks"] for c in t_counts)
    m["ingest.rows_kept_ratio"] = _median(p["rows_kept_ratio"] for p in passes)
    m["ingest.transfer_rows_per_s"] = _median(
        sum(p["tsv_rows_a"].values()) / p["transfer_s"] for p in passes
    )
    m["plans.build_rows_per_s"] = _median(p["built_rows"] / p["build_s"] for p in passes)
    m["plans.store.bytes_per_input_byte"] = _median(
        p["db_bytes"] / p["tsv_bytes_b"] for p in passes
    )
    m["ingest.refresh_s"] = _median(p["refresh_s"] for p in passes)
    m["plans.store.bytes_written"] = _median(p["db_bytes"] for p in passes)
    m["plans.store.files_written"] = _median(p["db_files"] for p in passes)
    reads = tracer.named("plans.store.read")
    m["plans.store.reads"] = len(reads) / len(passes)
    m["plans.store.read_s"] = sum(s.seconds for s in reads) / len(passes)
    for table in passes[0]["build_timings"]:
        m[f"plans.build.{table}_s"] = _median(p["build_timings"][table] for p in passes)
    m["plans.build.plan_s"] = _median(
        p["build_s"] - sum(p["build_timings"].values()) for p in passes
    )
    b_counts = [tracer.subtree_counts(s) for s in builds]
    for k in ("stages", "tasks", "failed_tasks"):
        m[f"plans.build.{k}"] = _median(c[k] for c in b_counts)
    sqls = tracer.named("plans.store.sql")
    registers = [tracer.named("plans.store.register_all", within=s)[0] for s in sqls]
    m["plans.store.sql_ms"] = _median(s.seconds * 1e3 for s in sqls)
    m["plans.store.register_all_ms"] = _median(r.seconds * 1e3 for r in registers)
    m["plans.store.spark_sql_ms"] = _median(
        (s.seconds - r.seconds) * 1e3 for s, r in zip(sqls, registers)
    )
    m["sources.tsv.print_tsv_ms"] = _median(
        s.seconds * 1e3 for s in tracer.named("sources.tsv.print_tsv")
    )
    q_counts = [tracer.subtree_counts(s) for s in tracer.named("query")]
    m["query.jobs_per_query"] = statistics.mean(c["jobs"] for c in q_counts)
    m["query.tasks_per_query"] = statistics.mean(c["tasks"] for c in q_counts)
    for t in TEMPLATES:
        m[f"query.{t}_p50_ms"] = _median(
            ms for p in passes for name, _, _, ms in p["queries"] if name == t
        )
    stats = passes[0]["refresh_stats"]
    rewritten = [t for t, s in stats.items() if any(s.values())]
    m["ingest.refresh.rows_changed"] = sum(sum(s.values()) for s in stats.values())
    m["ingest.refresh.tables_rewritten"] = len(rewritten)
    rows_b = passes[0]["tsv_rows_b"]
    m["ingest.refresh.rewrite_ratio"] = sum(rows_b[t] for t in rewritten) / sum(rows_b.values())
    m["ingest.refresh.tasks"] = _median(tracer.subtree_counts(s)["tasks"] for s in refreshes)
    return m


def catalog_layer_metrics(tracer, passes: list[dict]) -> dict[str, float]:
    from catalog_ops import QUERIES

    m = {f"catalog.{q}_s": _median(p["seconds"][q] for p in passes) for q in QUERIES}
    counts = [tracer.subtree_counts(s) for s in tracer.spans if s.name.startswith("catalog.")]
    m["catalog.stages"] = sum(c["stages"] for c in counts) / len(passes)
    m["catalog.tasks"] = sum(c["tasks"] for c in counts) / len(passes)
    return m


def run_imdb(spark, work_dir: str, seed: int, seconds: float, size: str, tracer, setup: dict):
    import imdb_pipeline as w

    t0 = time.perf_counter()
    snaps = w.Snapshots(os.path.join(work_dir, "tsv"), seed, size)
    setup["session.synth_imdb_s"] = time.perf_counter() - t0
    expected_rows = snaps.expected_row_counts()
    tsv_rows_a = snaps.tsv_data_rows(snaps.dir_a)
    tsv_rows_b = snaps.tsv_data_rows(snaps.dir_b)
    tsv_bytes_b = snaps.tsv_bytes(snaps.dir_b)
    db_dir = os.path.join(work_dir, "db")
    passes, checks, measured = [], [], 0.0
    while not passes or measured < seconds:
        p = w.run_pass(spark, snaps, db_dir, tracer)
        p["pass_s"] = p["transfer_s"] + p["build_s"] + p["refresh_s"] + sum(
            q[3] for q in p["queries"]) / 1e3
        measured += p["pass_s"]
        # checks, outside the timed region
        rows = w.table_rows(db_dir)
        datasets = list(w.TABLE_OF.values())
        checks.append(("transfer", all(rows.get(t) == expected_rows[t] for t in datasets)))
        checks.append(("build", all(rows.get(t) == n for t, n in expected_rows.items()
                                    if t not in datasets)))
        checks.append(("refresh", p["refresh_stats"] == snaps.delta))
        checks.extend(
            (f"query {q[0]}", ok) for q, ok in zip(p["queries"], w.replay_queries(db_dir, p["queries"]))
        )
        p["rows_kept_ratio"] = sum(rows[t] for t in datasets) / sum(tsv_rows_b.values())
        p["db_bytes"], p["db_files"] = w.parquet_footprint(db_dir)
        p["built_rows"] = sum(rows[t] for t in rows if t not in datasets)
        p.update(tsv_rows_a=tsv_rows_a, tsv_rows_b=tsv_rows_b, tsv_bytes_b=tsv_bytes_b)
        passes.append(p)
    latencies = [q[3] for p in passes for q in p["queries"]]
    return passes, latencies, checks, imdb_layer_metrics


def run_catalog(spark, work_dir: str, seed: int, seconds: float, size: str, tracer, setup: dict):
    import catalog_ops as w

    t0 = time.perf_counter()
    sf_dir = w.generate_tables(os.path.join(work_dir, "catalog"), seed, size)
    setup["session.synth_catalog_s"] = time.perf_counter() - t0
    passes, checks, measured = [], [], 0.0
    while not passes or measured < seconds:
        secs, results = w.run_pass(spark, sf_dir, tracer)
        measured += sum(secs.values())
        checks.extend((f"catalog {q}", ok) for q, ok in w.check_results(sf_dir, results).items())
        passes.append({"seconds": secs, "pass_s": sum(secs.values())})
    latencies = [s * 1e3 for p in passes for s in p["seconds"].values()]
    return passes, latencies, checks, catalog_layer_metrics


def run(workload: str, seed: int, seconds: float, trace: bool, size: str) -> dict:
    """Run one workload and return the result object of the last line."""
    from tracing import Tracer

    work_dir = os.path.join(HERE, ".work", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work_dir, ignore_errors=True)
    os.makedirs(work_dir)
    cpus = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    print(f"setting SPARK_GRAFT_CPUS={cpus}")
    print("setting executor_code=catalog.ensure_worker_code (pimdb_spark shipped via addPyFile)")
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(work_dir)
        setup = {"session.get_spark_s": time.perf_counter() - t0}
        tracer = Tracer(spark.sparkContext, enabled=trace)
        install_layer_spans(tracer)
        runner = run_imdb if workload == "imdb_pipeline" else run_catalog
        passes, latencies, checks, layer_fn = runner(
            spark, work_dir, seed, seconds, size, tracer, setup
        )
        end_to_end = {
            "setup_s": sum(setup.values()),
            "pass_s": _median(p["pass_s"] for p in passes),
            "query_geomean_ms": statistics.geometric_mean(latencies),
        }
        print(f"info passes {len(passes)} query_samples {len(latencies)}")
        for name, ok in checks:
            print(f"check {name} {'ok' if ok else 'FAILED'}")
        for name, value in end_to_end.items():
            print(f"metric {name} {value} {END_TO_END[name]}")
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in end_to_end.items()}
        if trace:
            units = per_layer_units()
            layer = dict.fromkeys(units, 0.0)
            layer.update(setup)
            layer["session.peak_rss_mb"] = peak_rss_mb(spark)
            layer.update(layer_fn(tracer, passes))
            layer["trace.pass_s"] = end_to_end["pass_s"]
            layer["trace.spans"] = len(tracer.spans)
            for name, value in layer.items():
                print(f"metric {name} {value} {units[name]}")
            metrics = {k: {"value": v, "unit": units[k]} for k, v in layer.items()}
            out_dir = os.path.join(HERE, "out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.write(os.path.join(out_dir, f"spans-{workload}-seed{seed}.jsonl"))
        failed = sum(1 for _, ok in checks if not ok)
        return {"correct": failed == 0, "attempted": len(checks), "failed": failed,
                "metrics": metrics}
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work_dir, ignore_errors=True)


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    parser.add_argument("--workload", required=True, choices=WORKLOADS)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, default=5.0)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    parser.add_argument("--size", choices=("bench", "smoke"), default="bench",
                        help="input size; 'smoke' is for the smoke test")
    args = parser.parse_args(argv)
    sys.path[:0] = [HERE, ROOT]
    result = run(args.workload, args.seed, args.seconds, bool(args.trace), args.size)
    print(json.dumps(result, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
