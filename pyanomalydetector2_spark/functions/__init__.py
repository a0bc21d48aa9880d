"""Scalar helper expressions (SURVEY.md §2.8).

All pure Column expressions — JVM-side, whole-stage-codegen friendly. No
Python UDFs here; the reference's row-wise Python scalar work
(/root/reference/utils/__init__.py, zabbix_getter.py:125-131) becomes
vectorized expressions.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def rebalance_for_expansion(
    df, min_parallelism: int | None = None, min_bytes: int | None = None
):
    """Repartition ahead of a row-EXPLODING operator when the scan delivered
    fewer partitions than the cluster has slots (tiny/single-file inputs).

    Why: a k-gram shingle explode expands 1 row → ~50; if the 0.6 MB input
    parquet arrives as ONE split, all downstream map work runs on one core
    and AQE cannot help (the expansion happens before any exchange). On a
    100 TB table the file count ≫ slot count, the condition is false, and
    this is a no-op — the shuffle only ever moves the tiny pre-explosion
    rows. Measured: shingle pass 3.0 s → 0.7 s at sf0.1 on local[32].

    ``min_bytes``: cost guard for operators whose per-byte map work is only
    moderate (token explode + hash vs the ~50× shingle expansion) — below
    this optimizer-estimated input size the extra exchange + stage barrier
    costs more than the single-core map work it parallelizes, so skip the
    shuffle. Scale-adaptive by construction: the decision reads the plan's
    own size estimate, not a partition-count constant."""
    sc = df.sparkSession.sparkContext
    target = min_parallelism or sc.defaultParallelism
    if min_bytes is not None:
        try:
            est = int(
                df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
            )
        except Exception:
            est = min_bytes  # unknown size → assume big enough
        if est < min_bytes:
            return df
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def local_rows_df(spark, rows, schema):
    """Tiny driver-local DataFrame via the Arrow path (pandas input).

    ``createDataFrame(list_of_tuples)`` stores the rows as a PICKLED rdd,
    so EVERY downstream action launches a Python worker just to unpickle
    a handful of rows — measured ~2.5-4 s per action on this host (worker
    spawn dominates), e.g. an 8-row parquet write cost 3.8 s. Routing the
    same rows through a pandas frame (dtype=object, so large ints never
    coerce to float64) makes the relation Arrow-backed JVM data: the same
    write is ~0.15 s and no Python worker is ever involved.

    ``schema`` is a DDL string or StructType; pandas columns are named
    from it so the Arrow conversion binds by name. None stays NULL.
    Falls back to the classic path if the Arrow conversion refuses the
    types (e.g. exotic nested rows)."""
    import pandas as pd
    from pyspark.sql.types import StructType

    st = (
        schema
        if isinstance(schema, StructType)
        else spark.createDataFrame([], schema).schema
    )
    names = st.fieldNames()
    rows = list(rows)
    try:
        # build each column as dtype=object DIRECTLY: from_records would
        # auto-coerce a numeric column first (a long > 2^53 next to a
        # None would round through float64) and NaN-ify the Nones
        pdf = pd.DataFrame(
            {
                n: pd.Series([r[i] for r in rows], dtype=object)
                for i, n in enumerate(names)
            },
            columns=names,
        )
        return spark.createDataFrame(pdf, st)
    except Exception:
        return spark.createDataFrame(rows, st)


def empty_frame(spark, schema):
    """Empty typed DataFrame that Spark plans as an empty ``LocalRelation``:
    ``isEmpty()`` over it finishes without a Spark job, and
    ``SnapshotTable.merge_upsert`` sees from the plan alone that it has
    nothing to commit. ``createDataFrame([], schema)`` is a pickled RDD
    instead, and every action on it starts a Python worker."""
    return local_rows_df(spark, [], schema).limit(0)


def conform(df, schema):
    """``df`` reduced to the fields of ``schema`` (a StructType or DDL
    string), each cast to its declared type: frames that are written and
    read back with a pinned schema must carry exactly that schema (parquet's
    vectorized reader refuses an INT64 file column under a pinned int)."""
    from pyspark.sql.types import StructType

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    return df.select(*[F.col(f.name).cast(f.dataType) for f in schema.fields])


def collect_concurrently(spark, fns: dict) -> dict:
    """Call every callable of ``fns`` in its own thread and return
    {name: result}: independent small collects run as concurrent Spark
    jobs, so the wall is the slowest one, not the sum. Each callable runs
    under ``inheritable_thread_target``, so its jobs carry the caller's
    local properties (job group, description, scheduler pool) — jobs from
    a plain pool thread run in no group, out of reach of the caller's
    ``cancelJobGroup``. A failure is re-raised, the first in key order,
    once every call has finished."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    if not fns:
        return {}
    with ThreadPoolExecutor(max_workers=len(fns)) as ex:
        # one wrapper per callable: each thread gets its own copy of the
        # caller's properties, so the SQL execution id one thread's query
        # sets in them is never seen by another's
        futs = {
            k: ex.submit(inheritable_thread_target(spark)(f))
            for k, f in fns.items()
        }
        return {k: f.result() for k, f in futs.items()}


def safe_div(num: Column, den: Column, default: float = 0.0) -> Column:
    """num/den with 0-denominator → default (reference guards std>0,
    detector.py:202,306 — here the guard is an expression, not a filter)."""
    return F.coalesce(F.try_divide(num, den), F.lit(default))


def clean_float(c: Column, default: float = 0.0) -> Column:
    """NaN/±inf/null → default (reference stats.py:133-139 replaces inf/NaN
    with 0 after the closed-form std)."""
    bad = F.isnull(c) | F.isnan(c) | (F.abs(c) == float("inf"))
    return F.when(bad, F.lit(default)).otherwise(c)
