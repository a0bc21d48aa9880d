"""spark-submit entry point for the clips validation suite (north_rule:
"run via spark-submit --py-files on a multi-executor cluster").

    spark-submit --py-files pyanomalydetector2_spark.zip \
        -m pyanomalydetector2_spark.run_suite --rows 1000000 --buckets 64
or locally:
    python -m pyanomalydetector2_spark.run_suite --rows 100000 --cpus 32

Generates (or reads) the current + baseline clips snapshots, runs the full
constraint suite, writes verdicts + violations to the results catalog, and
prints a one-line JSON summary (clips/sec throughput — the BASELINE.md
metric).
"""

from __future__ import annotations

import argparse
import json
import os
import time

from pyanomalydetector2_spark.constraints import (
    default_clips_suite,
    load_suite,
    run_suite,
)
from pyanomalydetector2_spark.datagen.clips import clips_table, dim_codec, dim_sr
from pyanomalydetector2_spark.session import get_spark
from pyanomalydetector2_spark.sources.catalog import open_table
from pyanomalydetector2_spark.streaming.checkpoint import CheckpointLedger


def main(argv: list[str] | None = None) -> dict:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=100_000)
    ap.add_argument("--buckets", type=int, default=32)
    ap.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", 32)))
    ap.add_argument("--run-id", default="run-local")
    ap.add_argument(
        "--suite",
        default=None,
        help="YAML suite config (constraints/config.py format, env-"
        "interpolated); default = the built-in clips suite",
    )
    ap.add_argument("--warehouse", default="/tmp/pyad2_warehouse")
    ap.add_argument("--resume", action="store_true", help="resume from ledger")
    ap.add_argument(
        "--salt-buckets",
        type=int,
        default=None,
        help="salt the uniqueness groupBy over N reducers (hot-key inputs)",
    )
    ap.add_argument(
        "--no-materialize",
        dest="materialize",
        action="store_false",
        help="validate the generated frames directly instead of writing "
        "snapshots to the catalog first (default materializes: the engine's "
        "real input is a table, and throughput should not charge datagen)",
    )
    ap.add_argument(
        "--skip-datagen",
        action="store_true",
        help="expect the warehouse already materialized (scaling runs: "
        "identical input, different parallelism)",
    )
    ap.add_argument(
        "--hot-key-share",
        type=float,
        default=0.0,
        help="datagen skew knob: this share of rows become full copies of "
        "clip 0 — one degenerate clip_id and bucket (skew-bench input)",
    )
    ap.add_argument(
        "--drop-checks",
        default="",
        help="comma-separated constraint ids to EXCLUDE from the suite "
        "(ablation / wall-decomposition runs; unknown ids are an error)",
    )
    ap.add_argument(
        "--metrics-history",
        default=None,
        help="metrics-repository parquet dir: append this run's verdict "
        "observations after persist, then z-score the latest run against "
        "the repository history (reference screen semantics, "
        "operators/reconcile.py) and report flagged metrics",
    )
    ap.add_argument(
        "--metrics-lam",
        type=float,
        default=3.0,
        help="z-score lambda for --metrics-history anomaly reporting",
    )
    ap.add_argument(
        "--drift-sketch-store",
        default=None,
        help="catalog table dir for persisted per-column KLL sketches "
        "backing equi-depth drift bin edges: first run bootstraps from the "
        "baseline, later runs read KBs of sketch state instead of "
        "rescanning the baseline (operators/kll.py)",
    )
    ap.add_argument("--json-out", default=None, help="also append summary JSON to this file")
    ap.add_argument(
        "--suggest-out",
        default=None,
        help="profile the current snapshot, write the SUGGESTED suite as "
        "YAML to this path (loadable via --suite), and exit without "
        "validating — the Deequ suggestion bootstrap",
    )
    ap.add_argument(
        "--suggest-columns",
        default="clip_id,codec,sr_hz,dur_ms,transcript",
        help="comma-separated columns to profile for --suggest-out",
    )
    ap.add_argument(
        "--suggest-max-domain",
        type=int,
        default=20,
        help="max distinct values for a suggested IN-domain check",
    )
    args = ap.parse_args(argv)

    # local parquet inputs are tiny vs the 128m cluster default split size;
    # keep scan splits small so every core gets work (a real cluster reading
    # 100 TB never hits this — file count >> slots)
    spark = get_spark(
        cpus=args.cpus,
        app_name="pyad2-suite",
        extra_conf={
            # ~32 MB splits: enough tasks to feed every core at bench sizes
            # without per-task scheduling/python-worker churn dominating
            "spark.sql.files.maxPartitionBytes": "32m",
            "spark.sql.files.openCostInBytes": "512k",
            # smaller Arrow batches bound each python worker's scratch
            # footprint (first-touch page supply is slow on this host class)
            "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    # backend-probed seam: real Iceberg when the session carries the
    # runtime + a catalog, parquet snapshot dirs otherwise
    cur_t = open_table(spark, os.path.join(args.warehouse, "clips_current"))
    base_t = open_table(spark, os.path.join(args.warehouse, "clips_baseline"))
    if args.skip_datagen:
        cur, base = cur_t.read(spark), base_t.read(spark)
    else:
        cur = clips_table(
            spark, args.rows, planted=True, n_buckets=args.buckets,
            hot_key_share=args.hot_key_share,
        )
        base = clips_table(
            spark, args.rows, planted=False, n_buckets=args.buckets,
            hot_key_share=args.hot_key_share,
        )
        if args.materialize:
            # cluster rows into their bucket partition before writing: ONE
            # file per bucket instead of (write-tasks × buckets) shards —
            # otherwise every downstream stage schedules thousands of
            # micro-tasks and the driver becomes the bottleneck
            from pyspark.sql import functions as F

            cur_t.write_snapshot(
                cur.repartition(F.col("bucket")), partition_by=["bucket"]
            )
            base_t.write_snapshot(
                base.repartition(F.col("bucket")), partition_by=["bucket"]
            )
            cur, base = cur_t.read(spark), base_t.read(spark)

    if args.suggest_out:
        from pyanomalydetector2_spark.constraints.config import save_suite
        from pyanomalydetector2_spark.constraints.suggest import (
            suggest_constraints,
            suite_from_suggestions,
        )

        cols = [c for c in args.suggest_columns.split(",") if c]
        t0 = time.time()
        sugg = suggest_constraints(
            cur,
            cols,
            max_domain=args.suggest_max_domain,
            distinct_mode="prefilter",  # the scale path; emission identical
        )
        suite = suite_from_suggestions(sugg)
        save_suite(suite, args.suggest_out)
        summary = {
            "metric": "suggested_constraints",
            "value": len(suite.all_ids()),
            "unit": "checks",
            "columns": cols,
            "out": args.suggest_out,
            "wall_sec": round(time.time() - t0, 3),
        }
        print(json.dumps(summary))
        return summary

    dims = {"dim_codec": dim_codec(spark), "dim_sr": dim_sr(spark)}
    ledger = CheckpointLedger(os.path.join(args.warehouse, "ledger")) if args.resume else None

    suite = load_suite(args.suite) if args.suite else default_clips_suite()
    drop = {s for s in args.drop_checks.split(",") if s}
    if drop:
        from pyanomalydetector2_spark.constraints.dsl import drop_checks

        try:
            suite = drop_checks(suite, drop)
        except ValueError as e:
            raise SystemExit(f"--drop-checks: {e}")

    t0 = time.time()
    # commit=False: the ledger must be marked AFTER results are durably
    # persisted below — write-ahead ordering, or a crash between validation
    # and persist makes --resume skip buckets whose violations were lost
    sketch_store = (
        open_table(spark, args.drift_sketch_store)
        if args.drift_sketch_store
        else None
    )
    res = run_suite(
        cur, base, dims, suite, args.run_id, checkpoint=ledger,
        salt_buckets=args.salt_buckets, commit=False,
        sketch_store=sketch_store,
    )
    # persist results (FIXTURES.md §B3/§B4 output contract)
    results_t = open_table(spark, os.path.join(args.warehouse, "results"))
    verdicts_t = open_table(spark, os.path.join(args.warehouse, "verdicts"))
    results_sid = results_t.merge_upsert(
        res.violations, ["run_id", "bucket", "clip_id", "constraint_id"],
        partition_by=["bucket"],
    )
    verdicts_sid = verdicts_t.merge_upsert(
        res.verdicts, ["run_id", "bucket", "constraint_id", "metric"]
    )
    if ledger is not None:
        from pyanomalydetector2_spark.constraints.suite import commit_checkpoint

        commit_checkpoint(
            res, ledger, snapshot_id=results_sid, verdicts_snapshot_id=verdicts_sid
        )
    n_metric_anomalies = None
    if args.metrics_history:
        from pyanomalydetector2_spark.operators.reconcile import (
            append_suite_metrics,
            next_run_seq,
            suite_metrics_anomalies,
        )

        # append AFTER the verdicts are durably persisted (same write-ahead
        # ordering as the ledger): the repository must never hold a run the
        # results tables lost
        seq = next_run_seq(spark, args.metrics_history)
        append_suite_metrics(res.verdicts, seq, args.metrics_history)
        n_metric_anomalies = suite_metrics_anomalies(
            spark, args.metrics_history, lam=args.metrics_lam
        ).count()
    wall = time.time() - t0

    n_viol = res.violations.count()
    n_fail = res.verdicts.filter("NOT passed").count()
    # throughput is charged to the rows actually processed this run —
    # args.rows can disagree under --skip-datagen (pre-materialized
    # warehouse) or --resume (committed buckets skipped); a resume no-op
    # honestly reports 0 rows / 0 clips/sec
    rows_done = res.row_count
    summary = {
        "metric": "clips_per_sec",
        "value": round(rows_done / wall, 1),
        "unit": "clips/sec",
        "rows": rows_done,
        "wall_sec": round(wall, 2),
        "violations": n_viol,
        "failed_verdicts": n_fail,
        "buckets": len(res.processed_buckets),
        "skipped_buckets": len(res.skipped_buckets),
        "cpus": args.cpus,
        "catalog_backend": results_t.backend,
        "results_snapshot_id": results_sid,
        "verdicts_snapshot_id": verdicts_sid,
    }
    if n_metric_anomalies is not None:
        summary["metric_anomalies"] = n_metric_anomalies
    print(json.dumps(summary))
    if args.json_out:
        with open(args.json_out, "a") as f:
            f.write(json.dumps(summary) + "\n")
    spark.stop()
    return summary


if __name__ == "__main__":
    main()
