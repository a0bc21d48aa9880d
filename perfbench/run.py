"""The repository benchmark: throughput and latency of the clips
validation suite.

    python3 perfbench/run.py --workload batch_meta_skew --seed 1 --seconds 10 --trace 0

Run it from the repository root. One process generates seeded rows with
the datagen (staged as parquet under ``.perfbench_work/`` while the JVM
starts), starts a Spark session on local[<cores>], writes the snapshot
tables, discards one warm-up run, then runs the workload in a closed loop
(one client, this process) for ``--seconds`` (at least the workload's
``min_runs``) and prints one JSON line: ``{"correct", "attempted",
"failed", "metrics"}``. Every run's per-constraint violation counts are
checked against closed-form counts (``oracle.py``); a run that raises or
fails that check counts in ``failed``.

Workloads (``BENCHMARK.json`` lists the two the benchmark gate runs):

- ``batch_meta_skew``: the default clips suite without the audio row
  checks, plus a codec -> sr_hz functional dependency, over a snapshot
  where 5% of rows copy one hot clip_id: run_suite, merge-upsert of
  violations and verdicts, ledger commit; then the same run resumed.
- ``stream_incremental``: the default suite plus reconcile and FD checks,
  streamed: a backlog file is drained, two more files arrive and are
  drained one at a time, then verdicts are assembled against the baseline.
- ``batch_full``: the default suite, decode-bound, uniform keys.

``--trace 0`` prints the end-to-end metrics (medians over the measured
runs). ``--trace 1`` enables the Spark event log, makes one run without
spans and then runs with spans around every call into a layer plus the
operators called alone, and prints the per-layer metrics; the spans and
their task counters are also written to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from contextlib import nullcontext

T_START = time.perf_counter()
ROOT = os.getcwd()
PACKAGE = "pyanomalydetector2_spark"
N_BUCKETS = 32
SETUP_REPEATS = 2
VIOLATION_KEYS = ["run_id", "bucket", "clip_id", "constraint_id"]
VERDICT_KEYS = ["run_id", "bucket", "constraint_id", "metric"]


def _arrow_schema():
    import pyarrow as pa

    return pa.schema(
        [
            ("clip_id", pa.string()),
            ("bytes", pa.binary()),
            ("sr_hz", pa.int32()),
            ("dur_ms", pa.int32()),
            ("codec", pa.string()),
            ("transcript", pa.string()),
            ("bucket", pa.int32()),
        ]
    )


@dataclasses.dataclass(frozen=True)
class Workload:
    rows: int
    audio: bool = True
    fd: bool = False
    reconcile: bool = False
    hot_key_share: float = 0.0
    stream_files: int = 0  # backlog files drained in the first drain
    arrivals: int = 0  # files that then arrive and are drained one at a time
    # measured runs made even when --seconds ends sooner (a stream run
    # costs about twice a batch run, so it gets one)
    min_runs: int = 2


WORKLOADS = {
    "batch_full": Workload(rows=8192),
    "batch_meta_skew": Workload(
        rows=16384, audio=False, fd=True, hot_key_share=0.05
    ),
    "stream_incremental": Workload(
        rows=6144, fd=True, reconcile=True, stream_files=1, arrivals=2,
        min_runs=1,
    ),
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    size = count = 0
    for d, _, files in os.walk(path):
        for f in files:
            size += os.path.getsize(os.path.join(d, f))
            count += 1
    return size, count


class Bench:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.w = WORKLOADS[args.workload]
        self.spark = None
        self.tracer = None
        self.attempted = 0
        self.failed = 0
        self.failed_verdicts: set[int] = set()
        self.samples: dict[str, list[float]] = {}
        self.layer: dict[str, list[float]] = {}

    # ---- session ---------------------------------------------------------
    def start_session(self) -> None:
        for sub in ("tmp", "spark-local", "eventlog"):
            os.makedirs(os.path.join(self.work, sub), exist_ok=True)
        # Python workers inherit the JVM's environment: the repo root on
        # their path lets pandas UDFs import the package
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        )
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        # no hsperfdata files under /tmp from the launcher or driver JVM
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        from pyanomalydetector2_spark.session import get_spark

        conf = {
            "spark.driver.memory": "1g",
            "spark.driver.extraJavaOptions": "-Xms1g -XX:+UseParallelGC "
            f"-XX:-UsePerfData -Djava.io.tmpdir={self.work}/tmp",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.sql.files.maxPartitionBytes": "32m",
            "spark.sql.files.openCostInBytes": "512k",
            "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
        }
        if self.args.trace:
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://"
                    + os.path.join(self.work, "eventlog"),
                    "spark.eventLog.compress": "false",
                }
            )
        cpus = len(os.sched_getaffinity(0))
        self.spark = get_spark(cpus=cpus, app_name="perfbench", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.args.trace:
            from spans import Tracer

            self.tracer = Tracer(self.spark.sparkContext)

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()

    # ---- inputs ----------------------------------------------------------
    def generate(self) -> None:
        """Generate the seeded rows with the datagen's batch generator and
        stage them as parquet (this runs while the JVM starts): the current
        and baseline tables and, for a stream workload, the current rows
        split into the files that arrive one by one."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyanomalydetector2_spark.datagen.clips import CODECS, _gen_batch

        ids = np.arange(self.first_id, self.first_id + self.n_rows, dtype=np.int64)
        os.makedirs(self.stage)
        for name, planted in (("current", True), ("baseline", False)):
            pdf = _gen_batch(ids, planted, CODECS, self.w.hot_key_share)
            pdf["bucket"] = (pdf["bucket"] % N_BUCKETS).astype(np.int32)
            table = pa.Table.from_pandas(pdf, schema=_arrow_schema(), preserve_index=False)
            pq.write_table(table, f"{self.stage}/{name}.parquet")
            if planted and self.w.stream_files:
                n_files = self.w.stream_files + self.w.arrivals
                per = self.n_rows // n_files
                self.files = [f"{self.stage}/file-{j}.parquet" for j in range(n_files)]
                for j, path in enumerate(self.files):
                    pq.write_table(table.slice(j * per, per), path)

    def write_snapshot(self, path: str, name: str):
        from pyspark.sql import functions as F
        from pyanomalydetector2_spark.sources.catalog import open_table

        table = open_table(self.spark, path)
        frame = self.spark.read.parquet(f"{self.stage}/{name}.parquet")
        with self.span("catalog.write_snapshot"):
            table.write_snapshot(frame.repartition(F.col("bucket")), partition_by=["bucket"])
        return table.read(self.spark)

    def materialize(self, d: str) -> None:
        """Write this workload's snapshot tables under ``d``; the program
        reads only these tables and the arriving files."""
        from pyanomalydetector2_spark.datagen.clips import CLIPS_SCHEMA

        self.base = self.write_snapshot(f"{d}/baseline", "baseline")
        if self.w.stream_files:
            self.cur = self.spark.read.schema(CLIPS_SCHEMA).parquet(*self.files)
        else:
            self.cur = self.write_snapshot(f"{d}/current", "current")

    def setup(self) -> float:
        import numpy as np
        import oracle
        from pyanomalydetector2_spark.constraints import default_clips_suite
        from pyanomalydetector2_spark.constraints.dsl import FdCheck, ReconcileCheck
        from pyanomalydetector2_spark.datagen.clips import dim_codec, dim_sr

        w = self.w
        # the seed moves the generated id range: ids, buckets, plants and
        # the closed-form counts all follow it
        self.first_id = (self.args.seed % 100_000) * 1_000_000
        full = default_clips_suite()
        self.suite = dataclasses.replace(
            full,
            row_checks=tuple(
                c for c in full.row_checks if w.audio or not c.requires_audio
            ),
            fd_checks=(FdCheck("fd_codec_sr", ("codec",), "sr_hz"),) if w.fd else (),
            reconcile_checks=(
                ReconcileCheck(
                    "snapshot_reconcile",
                    ("codec", "dur_ms", "transcript"),
                    max_removed_rate=0.01,
                    max_changed_rate=2.0,
                ),
            )
            if w.reconcile
            else (),
        )

        n_files = max(w.stream_files + w.arrivals, 1)
        self.n_rows = w.rows // n_files * n_files
        self.stage = f"{self.work}/stage"
        with ThreadPoolExecutor(1) as pool:
            generated = pool.submit(self.generate)
            self.start_session()
            session_s = time.perf_counter() - T_START
            generated.result()
        ready_s = time.perf_counter() - T_START
        self.dims = {"dim_codec": dim_codec(self.spark), "dim_sr": dim_sr(self.spark)}

        mat_s = []
        for r in range(SETUP_REPEATS):
            d = f"{self.work}/inputs{r}"
            if r:
                shutil.rmtree(f"{self.work}/inputs{r - 1}", ignore_errors=True)
            t0 = time.perf_counter()
            self.materialize(d)
            mat_s.append(time.perf_counter() - t0)

        ids = np.arange(self.first_id, self.first_id + self.n_rows, dtype=np.int64)
        kw = dict(
            audio=w.audio, fd=w.fd, reconcile=w.reconcile,
            hot_key_share=w.hot_key_share,
        )
        self.expected = oracle.expected_violations(ids, **kw)

        # the warm-up run is discarded, and left out of the trace
        tracer, self.tracer = self.tracer, None
        t0 = time.perf_counter()
        self.iteration("warmup", record=False)
        warm_s = time.perf_counter() - t0
        self.tracer = tracer
        log(
            f"setup: session {session_s:.2f}s, rows generated {ready_s:.2f}s, "
            f"snapshots {[round(x, 2) for x in mat_s]}s, warm-up {warm_s:.2f}s"
        )
        return ready_s + median(mat_s) + warm_s

    # ---- one measured run ------------------------------------------------
    def iteration(self, tag: str, record: bool = True) -> None:
        d = f"{self.work}/run-{tag}"
        self.attempted += 1
        self.rss.peak_bytes = 0
        try:
            if self.w.stream_files:
                out, bad = self.stream_run(d, tag)
            else:
                out, bad = self.batch_run(d, tag)
        except Exception:
            log(f"run {tag} raised:\n{traceback.format_exc()}")
            out, bad = None, ["raised"]
        finally:
            shutil.rmtree(d, ignore_errors=True)
            self.spark.catalog.clearCache()
        if bad:
            self.failed += 1
            log(f"run {tag} failed the correctness gate: {bad}")
            return
        out["peak_rss_mb"] = self.rss.peak_bytes / 2**20
        log(f"run {tag}: " + ", ".join(f"{k} {v:.3f}" for k, v in out.items()))
        if record:
            for k, v in out.items():
                self.samples.setdefault(k, []).append(v)

    def check_counts(self, got: dict, failed_verdicts: int) -> list[str]:
        import oracle

        bad = oracle.count_mismatches(got, self.expected)
        self.failed_verdicts.add(failed_verdicts)
        if len(self.failed_verdicts) > 1:
            bad.append(f"failed-verdict count varies: {sorted(self.failed_verdicts)}")
        return bad

    def batch_run(self, d: str, tag: str):
        from pyspark.sql import functions as F
        from pyanomalydetector2_spark.constraints import run_suite
        from pyanomalydetector2_spark.constraints.suite import commit_checkpoint
        from pyanomalydetector2_spark.sources.catalog import open_table
        from pyanomalydetector2_spark.streaming.checkpoint import CheckpointLedger

        spark = self.spark
        ledger = CheckpointLedger(f"{d}/ledger")
        results = open_table(spark, f"{d}/results")
        verdicts = open_table(spark, f"{d}/verdicts")

        def validate(run_id: str, span):
            # write-ahead order of run_suite.py: validate, persist, commit
            with span("suite.run_suite"):
                res = run_suite(
                    self.cur, self.base, self.dims, self.suite, run_id,
                    checkpoint=ledger, commit=False,
                )
            t_verdicts = time.perf_counter()
            with span("catalog.merge_upsert"):
                results.merge_upsert(res.violations, VIOLATION_KEYS, partition_by=["bucket"])
                verdicts.merge_upsert(res.verdicts, VERDICT_KEYS)
            with span("checkpoint.commit"):
                commit_checkpoint(res, ledger)
            return res, t_verdicts

        run_id = f"run-{tag}"
        with self.span("bench.run"):
            t0 = time.perf_counter()
            res, t_verdicts = validate(run_id, self.span)
            wall = time.perf_counter() - t0
        res.unpersist()
        spark.catalog.clearCache()
        if self.tracer:
            self.layer.setdefault("catalog.results_bytes", []).append(
                dir_stats(f"{d}/results")[0]
            )

        # incremental: the same run resumed after its commit. The ledger
        # skips every bucket, so nothing is validated again; persist and
        # commit still run, in the same order
        with self.span("bench.incremental"):
            t1 = time.perf_counter()
            rerun, _ = validate(run_id, lambda name: nullcontext())
            inc_wall = time.perf_counter() - t1

        got = {
            r["constraint_id"]: r["count"]
            for r in results.read(spark).groupBy("constraint_id").count().collect()
        }
        nfail = verdicts.read(spark).filter(~F.col("passed")).count()
        bad = self.check_counts(got, nfail)
        if res.row_count != self.n_rows:
            bad.append(f"validated {res.row_count} rows, expected {self.n_rows}")
        if rerun.row_count or rerun.skipped_buckets != res.processed_buckets:
            bad.append(
                f"resumed run validated {rerun.row_count} rows, "
                f"skipped {len(rerun.skipped_buckets)} buckets"
            )
        return {
            "clips_per_s": res.row_count / wall,
            "verdict_latency_s": t_verdicts - t0,
            "incremental_s": inc_wall,
        }, bad

    def stream_run(self, d: str, tag: str):
        from pyspark.sql import functions as F
        from pyanomalydetector2_spark.datagen.clips import CLIPS_SCHEMA
        from pyanomalydetector2_spark.streaming.suite_stream import (
            batch_metrics,
            run_suite_stream,
            streaming_suite_result,
        )

        spark, k = self.spark, self.w.stream_files
        src, state, run_id = f"{d}/src", f"{d}/state", f"stream-{tag}"
        os.makedirs(src)

        def arrive(j: int) -> None:
            os.link(self.files[j], f"{src}/f{j}.parquet")

        def drain() -> None:
            run_suite_stream(
                spark, src, state, self.suite, self.dims, run_id, CLIPS_SCHEMA,
                max_files_per_trigger=1,
            )

        for j in range(k):
            arrive(j)
        with self.span("bench.run"):
            t0 = time.perf_counter()
            with self.span("stream.drain"):
                drain()
            t1 = time.perf_counter()
            incremental = []
            for j in range(k, len(self.files)):
                arrive(j)
                t = time.perf_counter()
                with self.span("stream.incremental"):
                    drain()
                incremental.append(time.perf_counter() - t)
            t2 = time.perf_counter()
            with self.span("stream.assemble"):
                res = streaming_suite_result(spark, state, self.suite, self.base, run_id)
                got = {
                    r["constraint_id"]: r["count"]
                    for r in res.violations.groupBy("constraint_id").count().collect()
                }
                nfail = res.verdicts.filter(~F.col("passed")).count()
            t3 = time.perf_counter()
        res.unpersist()

        records = batch_metrics(state)
        bad = self.check_counts(got, nfail)
        backlog = sum(r["rows"] for r in records[:k])
        per = self.n_rows // len(self.files)
        if (
            len(records) != len(self.files)
            or backlog != k * per
            or res.row_count != self.n_rows
        ):
            bad.append(
                f"batches {len(records)}, backlog rows {backlog}, rows {res.row_count}"
            )
        if self.tracer:
            size, files = dir_stats(state)
            for name, v in (
                ("stream.batches", len(records)),
                ("stream.state_bytes", size),
                ("stream.state_files", files),
            ):
                self.layer.setdefault(name, []).append(v)
            self.layer.setdefault("stream.batch_wall_s", []).extend(
                r["wall_sec"] for r in records
            )
        return {
            "clips_per_s": backlog / (t1 - t0),
            "incremental_s": median(incremental),
            "verdict_latency_s": t3 - t2,
        }, bad

    # ---- isolated layer calls (traced run only) ---------------------------
    def layer_calls(self) -> None:
        """Each operator the suite uses, called alone on the same inputs and
        forced through the noop sink, inside its own span."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F
        from pyanomalydetector2_spark.operators.audio import with_audio_invariants
        from pyanomalydetector2_spark.operators.drift import (
            HistSpec,
            drift_scores_categorical_df,
            drift_scores_multi,
        )
        from pyanomalydetector2_spark.operators.integrity import (
            fd_violations,
            referential_violations,
        )
        from pyanomalydetector2_spark.operators.reconcile import snapshot_diff
        from pyanomalydetector2_spark.operators.stats import column_profile
        from pyanomalydetector2_spark.operators.uniqueness import duplicate_rows

        def noop(df) -> None:
            df.write.format("noop").mode("overwrite").save()

        cur, base, s = self.cur, self.base, self.suite
        if any(c.requires_audio for c in s.row_checks):
            obs = Observation("audio")
            with self.span("audio.invariants"):
                noop(
                    with_audio_invariants(cur).observe(
                        obs,
                        F.count(F.lit(1)).alias("n"),
                        F.sum(F.col("decode_ok").cast("long")).alias("ok"),
                    )
                )
            n, ok = obs.get["n"], obs.get["ok"]
            self.layer.setdefault("audio.rows_per_s", []).append(
                n / self.tracer.seconds("audio.invariants")[-1]
            )
            self.layer.setdefault("audio.decode_ok_ratio", []).append(ok / n)
        with self.span("stats.column_profile"):
            noop(column_profile(cur, sorted({c.column for c in s.stat_checks}), ["bucket"]))
        for c in s.unique_checks:
            with self.span("uniqueness.duplicate_rows"):
                noop(duplicate_rows(cur, c.column, ["bucket"]))
        with self.span("integrity.referential_violations"):
            for c in s.ref_checks:
                noop(
                    referential_violations(
                        cur, c.column, self.dims[c.dim_name], keep_cols=["clip_id", "bucket"]
                    )
                )
        for c in s.fd_checks:
            with self.span("integrity.fd_violations"):
                noop(fd_violations(cur, list(c.determinant), c.dependent, ["clip_id", "bucket"]))
        specs = [
            HistSpec(c.column, c.lo, c.hi, c.nbins)
            for c in s.drift_checks
            if not (c.categorical or c.equi_depth or c.distributed)
        ]
        with self.span("drift.scores_multi"):
            drift_scores_multi(cur, base, specs, group_col="bucket")
        for c in s.drift_checks:
            if c.categorical:
                with self.span("drift.categorical"):
                    noop(drift_scores_categorical_df(cur, base, c.column, group_col="bucket"))
        for c in s.reconcile_checks:
            with self.span("reconcile.snapshot_diff"):
                noop(
                    snapshot_diff(
                        base, cur, ["clip_id"], list(c.compare_cols), carry_cols=["bucket"]
                    )
                )

    # ---- the measured loop -----------------------------------------------
    def loop(self, seconds: float, tag: str, runs: int) -> None:
        deadline = time.monotonic() + seconds
        i = 0
        while i < runs or time.monotonic() < deadline:
            self.iteration(f"{tag}{i}")
            if self.tracer:
                self.layer_calls()
            i += 1


OPERATOR_SPANS = (
    "audio.invariants",
    "stats.column_profile",
    "uniqueness.duplicate_rows",
    "integrity.referential_violations",
    "integrity.fd_violations",
    "drift.scores_multi",
    "drift.categorical",
    "reconcile.snapshot_diff",
)
COUNTED_SPANS = (
    "catalog.write_snapshot",
    "suite.run_suite",
    "catalog.merge_upsert",
    "checkpoint.commit",
    "stream.drain",
    "stream.incremental",
    "stream.assemble",
) + OPERATOR_SPANS


# counters that are 0 by construction: the traced upsert writes a fresh
# table, and the audio invariants are a map-only projection
ALWAYS_ZERO = {
    "catalog.merge_upsert.shuffle_write_bytes",
    "audio.invariants.shuffle_write_bytes",
}


def layer_metrics(bench: Bench, untraced_cps: float, traced_cps: float) -> dict:
    """The per-layer metrics of a traced run (0 for a layer the workload's
    suite never calls)."""
    from spans import max_task_share, per_call_counters, span_counters

    spans = bench.tracer.spans
    counters = span_counters(os.path.join(bench.work, "eventlog"), spans)
    med = bench.tracer.median_s
    run_suite_s = med("suite.run_suite")
    m = {
        "catalog.merge_upsert_s": (med("catalog.merge_upsert"), "s"),
        "catalog.results_bytes": (median(bench.layer.get("catalog.results_bytes", [])), "bytes"),
        "catalog.write_snapshot_s": (med("catalog.write_snapshot"), "s"),
        "suite.run_suite_s": (run_suite_s, "s"),
        "suite.unattributed_s": (
            run_suite_s - sum(med(n) for n in OPERATOR_SPANS) if run_suite_s else 0.0,
            "s",
        ),
        "audio.invariants_s": (med("audio.invariants"), "s"),
        "audio.rows_per_s": (median(bench.layer.get("audio.rows_per_s", [])), "1/s"),
        "audio.decode_ok_ratio": (median(bench.layer.get("audio.decode_ok_ratio", [])), "ratio"),
        "stats.column_profile_s": (med("stats.column_profile"), "s"),
        "uniqueness.duplicate_rows_s": (med("uniqueness.duplicate_rows"), "s"),
        "uniqueness.max_task_share": (
            max_task_share(spans, counters, "uniqueness.duplicate_rows"),
            "ratio",
        ),
        "integrity.referential_violations_s": (med("integrity.referential_violations"), "s"),
        "integrity.fd_violations_s": (med("integrity.fd_violations"), "s"),
        "drift.scores_multi_s": (med("drift.scores_multi"), "s"),
        "drift.categorical_s": (med("drift.categorical"), "s"),
        "reconcile.snapshot_diff_s": (med("reconcile.snapshot_diff"), "s"),
        "checkpoint.commit_s": (med("checkpoint.commit"), "s"),
        "stream.batch_wall_s": (median(bench.layer.get("stream.batch_wall_s", [])), "s"),
        "stream.batches": (median(bench.layer.get("stream.batches", [])), "count"),
        "stream.state_bytes": (median(bench.layer.get("stream.state_bytes", [])), "bytes"),
        "stream.state_files": (median(bench.layer.get("stream.state_files", [])), "count"),
        "stream.assemble_s": (med("stream.assemble"), "s"),
        "trace.overhead_clips_per_s": (traced_cps - untraced_cps, "clips/s"),
    }
    units = {"tasks": "count", "shuffle_write_bytes": "bytes", "executor_run_s": "s", "gc_s": "s"}
    for name in COUNTED_SPANS:
        for k, v in per_call_counters(spans, counters, name).items():
            if f"{name}.{k}" not in ALWAYS_ZERO:
                m[f"{name}.{k}"] = (v, units[k])
    os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
    out = os.path.join(
        ROOT, ".perfbench_out", f"trace-{bench.args.workload}-seed{bench.args.seed}.json"
    )
    with open(out, "w") as f:
        json.dump(
            {
                "spans": spans,
                "counters": {
                    str(k): {c: v for c, v in x.items() if c != "stage_task_s"}
                    for k, x in counters.items()
                },
            },
            f,
        )
    return {k: {"value": float(v), "unit": u} for k, (v, u) in m.items()}


def shutdown(spark) -> None:
    """Stop Spark, end the gateway JVM, and wait for every process this
    benchmark started (the Python workers are the JVM's children)."""
    import procfs
    from pyspark import SparkContext

    pids = procfs.descendants(os.getpid())
    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at EOF on its stdin
        proc.wait(timeout=60)
    procfs.wait_gone(pids, 30.0)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        log(f"no {PACKAGE}/ package under {ROOT}: run from the repository root")
        return 2
    sys.path.insert(0, ROOT)
    import procfs

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    bench = Bench(args, work)
    bench.rss = procfs.PeakRss(interval_s=0.5).start()
    try:
        setup_s = bench.setup()
        if args.trace:
            # tracing overhead: the same loop, first without spans
            tracer, bench.tracer = bench.tracer, None
            bench.loop(args.seconds / 2, "u", 1)
            untraced = median(bench.samples.get("clips_per_s", []))
            bench.tracer = tracer
            bench.samples.clear()
            bench.loop(args.seconds / 2, "t", 1)
        else:
            bench.loop(args.seconds, "m", bench.w.min_runs)
        bench.rss.stop()
        shutdown(bench.spark)  # also flushes the event log
        bench.spark = None
        if not bench.samples.get("clips_per_s"):
            log("no run passed; no result")
            return 1
        n = len(bench.samples["clips_per_s"])
        log(f"{n} measured runs, {bench.failed} of {bench.attempted} failed")
        if args.trace:
            metrics = layer_metrics(
                bench, untraced, median(bench.samples["clips_per_s"])
            )
        else:
            units = {
                "clips_per_s": "clips/s",
                "incremental_s": "s",
                "verdict_latency_s": "s",
                "peak_rss_mb": "MB",
            }
            metrics = {"setup_s": {"value": setup_s, "unit": "s"}}
            metrics.update(
                {
                    k: {"value": median(bench.samples[k]), "unit": u}
                    for k, u in units.items()
                }
            )
    finally:
        bench.rss.stop()
        if bench.spark is not None:
            shutdown(bench.spark)
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
    print(
        json.dumps(
            {
                "correct": bench.failed == 0,
                "attempted": bench.attempted,
                "failed": bench.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
