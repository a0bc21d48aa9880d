"""SnapshotTable commits: empty sources that commit nothing, snapshot-id
claims that keep concurrent commits from losing work, and the write
layout of partitioned snapshots."""

from __future__ import annotations

import json
import os
import sys
import threading
import time
import uuid
from concurrent.futures import ThreadPoolExecutor

import pytest

from pyanomalydetector2_spark.functions import empty_frame
from pyanomalydetector2_spark.sources.catalog import SnapshotTable, _known_empty

KEYS = ["bucket", "id"]


def listing(root: str) -> dict[str, float]:
    """Every file under ``root`` with its mtime."""
    return {
        os.path.join(d, f): os.path.getmtime(os.path.join(d, f))
        for d, _, files in os.walk(root)
        for f in files
    }


def rows(df) -> dict[tuple, str]:
    return {(r["bucket"], r["id"]): r["v"] for r in df.collect()}


def frame(spark, data: dict):
    return spark.createDataFrame(
        [(b, i, v) for (b, i), v in sorted(data.items())],
        "bucket int, id long, v string",
    )


@pytest.mark.parametrize("partition_by", [["bucket"], None])
def test_empty_merge_commits_nothing(spark, tmp_path, partition_by):
    t = SnapshotTable(str(tmp_path / "t"))
    sid = t.write_snapshot(
        frame(spark, {(0, 1): "a", (1, 2): "b"}), partition_by=partition_by
    )
    before = listing(t.path)
    empty = empty_frame(spark, "bucket int, id long, v string")
    assert t.merge_upsert(empty, KEYS, partition_by=partition_by) == sid
    assert t.snapshots() == [sid]
    assert listing(t.path) == before


def test_emptiness_is_read_from_the_plan_without_a_job(spark, tmp_path):
    """Only a source the optimizer proves empty skips the merge. Deciding
    runs no Spark job, and a source that is empty only at run time is
    merged as usual (its upstream stages run once, in the write)."""
    t = SnapshotTable(str(tmp_path / "t"))
    sid = t.write_snapshot(frame(spark, {(0, 1): "a", (1, 2): "b"}))
    # built outside the job group: the parquet read infers its schema
    every_row = t.read(spark)
    runtime_empty = every_row.filter("v = 'none'")
    empty = empty_frame(spark, "bucket int, id long, v string")
    sc = spark.sparkContext
    try:
        sc.setJobGroup("emptiness", "plan-only emptiness checks")
        assert _known_empty(empty)
        assert not _known_empty(runtime_empty)
        assert not _known_empty(every_row)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("emptiness") == []
    assert t.merge_upsert(runtime_empty, KEYS) == sid + 1
    assert rows(t.read(spark)) == {(0, 1): "a", (1, 2): "b"}


def test_expired_snapshot_read_raises(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    s1 = t.write_snapshot(frame(spark, {(0, 1): "a"}), partition_by=["bucket"])
    t.merge_upsert(frame(spark, {(1, 2): "b"}), KEYS, partition_by=["bucket"])
    s3 = t.merge_upsert(frame(spark, {(0, 1): "A"}), KEYS, partition_by=["bucket"])
    assert t.expire_snapshots(keep_last=1) == [s1, s1 + 1]
    for sid in (s1, s1 + 1, s3 + 7):
        with pytest.raises(FileNotFoundError):
            t.read(spark, sid)
    assert rows(t.read(spark, s3)) == {(0, 1): "A", (1, 2): "b"}


def test_concurrent_merges_lose_no_snapshot_or_update(spark, tmp_path, monkeypatch):
    """Two handles on one table both read the same meta before either
    commits. Each merge must land as its own snapshot and the final one
    must hold both updates."""
    path = str(tmp_path / "t")
    SnapshotTable(path).write_snapshot(
        frame(spark, {(0, 1): "a", (1, 2): "b"}), partition_by=["bucket"]
    )
    barrier = threading.Barrier(2, timeout=120)
    seen = threading.local()
    meta = SnapshotTable._meta

    def racing_meta(self):
        out = meta(self)
        if not getattr(seen, "done", False):
            seen.done = True
            barrier.wait()  # neither writer proceeds until both have read
        return out

    monkeypatch.setattr(SnapshotTable, "_meta", racing_meta)
    errors: list[BaseException] = []

    def writer(src):
        try:
            SnapshotTable(path).merge_upsert(
                frame(spark, src), KEYS, partition_by=["bucket"]
            )
        except Exception as e:  # surfaced by the main thread
            errors.append(e)

    threads = [
        threading.Thread(target=writer, args=(src,))
        for src in ({(0, 1): "A"}, {(1, 2): "B"})
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=300)
    monkeypatch.undo()
    assert not any(th.is_alive() for th in threads)
    assert not errors, errors
    t = SnapshotTable(path)
    assert t.snapshots() == [1, 2, 3]
    assert rows(t.read(spark)) == {(0, 1): "A", (1, 2): "B"}
    # each intermediate snapshot holds exactly one of the two updates
    assert sorted(rows(t.read(spark, 2)).values()) in (["A", "b"], ["B", "a"])


def test_write_distribution_one_file_per_partition(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    df = spark.range(0, 4000, numPartitions=8).selectExpr(
        "cast(id % 4 as int) as bucket", "id", "cast(id as string) as v"
    )
    sid = t.write_snapshot(df, partition_by=["bucket"])
    for b in range(4):
        d = os.path.join(t._snap_dir(sid), f"bucket={b}")
        assert len([f for f in os.listdir(d) if f.endswith(".parquet")]) == 1
    assert t.read(spark).count() == 4000


def stage_tokens(t: SnapshotTable, tokens: list[int]) -> str:
    """A staged snapshot holding only a token list (no Spark write)."""
    stage = os.path.join(t.path, "_staging", uuid.uuid4().hex)
    os.makedirs(stage)
    with open(os.path.join(stage, "tokens.json"), "w") as f:
        json.dump(tokens, f)
    return stage


def read_tokens(t: SnapshotTable, sid: int | None) -> list[int]:
    if sid is None:
        return []
    with open(os.path.join(t._snap_dir(sid), "tokens.json")) as f:
        return json.load(f)


def test_commit_protocol_stress_loses_no_update(tmp_path):
    """More writers than cores each commit a read-modify-write snapshot
    (parent's tokens + its own) through the claim protocol: every commit
    gets its own id and the last snapshot holds every writer's token."""
    path = str(tmp_path / "t")
    n = 3 * (os.cpu_count() or 4)

    def writer(k: int) -> None:
        t = SnapshotTable(path)
        while True:
            parent = t.current_snapshot()
            stage = stage_tokens(t, read_tokens(t, parent) + [k])
            if t._publish(stage, None, parent=parent) is not None:
                return

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(n) as pool:
            for f in [pool.submit(writer, k) for k in range(n)]:
                f.result(timeout=120)
    finally:
        sys.setswitchinterval(old)
    t = SnapshotTable(path)
    assert t.snapshots() == list(range(1, n + 1))
    assert sorted(read_tokens(t, n)) == list(range(n))


def test_stale_claim_of_dead_writer_is_broken(tmp_path):
    """A writer that died between claiming an id and publishing leaves a
    claim marker behind; once it is older than the timeout the next writer
    takes the id over instead of waiting forever."""
    t = SnapshotTable(str(tmp_path / "t"))
    t._publish(stage_tokens(t, [0]), None)
    marker = os.path.join(t.path, "_claims", "2")
    open(marker, "w").close()
    old = time.time() - 3600
    os.utime(marker, (old, old))
    assert t._publish(stage_tokens(t, [1]), None) == 2
    assert read_tokens(t, 2) == [1]


def test_stale_claims_of_two_dead_writers_in_a_row_are_broken(tmp_path):
    """The writer that takes over a stale claim can die before publishing
    too; its claim goes stale in turn and the next writer breaks it."""
    t = SnapshotTable(str(tmp_path / "t"))
    t._publish(stage_tokens(t, [0]), None)
    marker = os.path.join(t.path, "_claims", "2")
    old = time.time() - 3600

    open(marker, "w").close()  # first writer claims id 2 and dies
    os.utime(marker, (old, old))
    for _ in range(100):  # second writer takes the claim over ...
        if t._claim(2):
            break
    else:
        pytest.fail("the first stale claim was never broken")
    os.utime(marker, (old - 1, old - 1))  # ... and dies before publishing

    published: list[int | None] = []
    third = threading.Thread(
        target=lambda: published.append(t._publish(stage_tokens(t, [1]), None)),
        daemon=True,  # a writer stuck on the claim must not hang the suite
    )
    third.start()
    third.join(timeout=60)
    assert published == [2]
    assert read_tokens(t, 2) == [1]
