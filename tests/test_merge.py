"""Unit tests for the MERGE layer — the reference's idempotency contract:
ingest twice ⇒ zero changes; mutate one field ⇒ exactly one update
(SURVEY §7 P2 milestone)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from etl_stack_spark.operators.merge import ParquetMergeTable, changed_only
from tests.conftest import jobs_in


def props(spark, rows):
    return spark.createDataFrame(
        rows, "client_id string, external_id string, title string, content_hash string, status string"
    )


@pytest.fixture()
def table(spark, tmp_path):
    return ParquetMergeTable(spark, str(tmp_path / "lead_properties"))


BATCH1 = [
    ("c1", "p1", "Casa A", "h1", "active"),
    ("c1", "p2", "Casa B", "h2", "active"),
    ("c2", "p9", "Casa Z", "h9", "active"),
]


def test_first_merge_inserts_all(spark, table):
    stats = table.merge(props(spark, BATCH1), keys=["client_id", "external_id"])
    assert stats == {"inserted": 3, "updated": 0, "unchanged": 0, "soft_deleted": 0}
    assert table.read().count() == 3


def test_idempotent_remerge_changes_nothing(spark, table):
    table.merge(props(spark, BATCH1), keys=["client_id", "external_id"])
    stats = table.merge(props(spark, BATCH1), keys=["client_id", "external_id"])
    assert stats["inserted"] == 0 and stats["updated"] == 0 and stats["unchanged"] == 3


def test_hash_change_updates_exactly_one(spark, table):
    table.merge(props(spark, BATCH1), keys=["client_id", "external_id"])
    batch2 = [
        ("c1", "p1", "Casa A renovada", "h1_new", "active"),  # changed
        ("c1", "p2", "Casa B", "h2", "active"),  # unchanged
        ("c2", "p9", "Casa Z", "h9", "active"),  # unchanged
    ]
    stats = table.merge(props(spark, batch2), keys=["client_id", "external_id"])
    assert stats["updated"] == 1 and stats["unchanged"] == 2 and stats["inserted"] == 0
    row = table.read().filter(F.col("external_id") == "p1").first()
    assert row["title"] == "Casa A renovada"


def test_soft_delete_scoped_to_client(spark, table):
    table.merge(props(spark, BATCH1), keys=["client_id", "external_id"])
    # client c1's new batch lacks p2 → p2 soft-deletes; c2 rows untouched
    batch2 = [("c1", "p1", "Casa A", "h1", "active")]
    stats = table.merge(
        props(spark, batch2),
        keys=["client_id", "external_id"],
        soft_delete_scope=F.col("t.client_id") == "c1",
    )
    assert stats["soft_deleted"] == 1
    out = {r["external_id"]: r["status"] for r in table.read().collect()}
    assert out == {"p1": "active", "p2": "deleted", "p9": "active"}


def test_resurrect_deleted_row_even_with_same_hash(spark, table):
    table.merge(props(spark, BATCH1), keys=["client_id", "external_id"])
    table.merge(
        props(spark, [("c1", "p1", "Casa A", "h1", "active")]),
        keys=["client_id", "external_id"],
        soft_delete_scope=F.col("t.client_id") == "c1",
    )
    # p2 comes back with the SAME hash → must still flip to active (M1's
    # `OR target.status = 'deleted'` clause)
    stats = table.merge(
        props(spark, [("c1", "p2", "Casa B", "h2", "active")]),
        keys=["client_id", "external_id"],
    )
    assert stats["updated"] == 1
    assert table.read().filter(F.col("external_id") == "p2").first()["status"] == "active"


def test_changed_only_filters_unchanged(spark, table):
    table.merge(props(spark, BATCH1), keys=["client_id", "external_id"])
    batch2 = props(
        spark,
        [
            ("c1", "p1", "Casa A", "h1", "active"),  # same hash → skip
            ("c1", "p2", "Casa B", "h2_new", "active"),  # changed → keep
            ("c3", "p5", "Casa N", "h5", "active"),  # new → keep
        ],
    )
    delta = changed_only(batch2, table, keys=["client_id", "external_id"])
    got = {r["external_id"] for r in delta.collect()}
    assert got == {"p2", "p5"}


def test_delete_where_like_pattern(spark, table):
    docs = spark.createDataFrame(
        [("d1", "x"), ("d1_part_1", "y"), ("d1_part_2", "z"), ("d2", "w"), (None, "v")],
        "content_id string, content_hash string",
    )
    t = ParquetMergeTable(spark, table.root + "_docs")
    t.overwrite(docs)
    n = t.delete_where(F.col("content_id").like("d1_part_%"))
    assert n == 2
    # a row whose predicate is NULL is not deleted (SQL/Delta DELETE WHERE)
    assert {r["content_id"] for r in t.read().collect()} == {"d1", "d2", None}


def test_vacuum_keeps_current_and_recent(spark, table):
    table.merge(props(spark, BATCH1), keys=["client_id", "external_id"])
    table.merge(props(spark, BATCH1), keys=["client_id", "external_id"])
    table.merge(props(spark, BATCH1), keys=["client_id", "external_id"])
    dropped = table.vacuum(keep_last=2)
    assert len(dropped) == 1
    assert table.read().count() == 3  # current snapshot still readable
    # keep_last=0: every superseded snapshot goes, the current one stays
    import os

    current = table.current_version()
    superseded = [v for v in table._read_manifest()["history"] if v != current]
    assert superseded and table.vacuum(keep_last=0) == superseded
    assert {d for d in os.listdir(table.root) if d.startswith("v_")} == {current}
    assert table.read().count() == 3


def test_time_travel_read(spark, table):
    table.merge(props(spark, BATCH1), keys=["client_id", "external_id"])
    table.merge(
        props(spark, [("c1", "p1", "Casa A v2", "h1x", "active")]),
        keys=["client_id", "external_id"],
    )
    now = table.read().filter(F.col("external_id") == "p1").first()["title"]
    before = table.read(version=-2).filter(F.col("external_id") == "p1").first()["title"]
    assert (now, before) == ("Casa A v2", "Casa A")


def test_merge_rejects_null_merge_keys(spark, table):
    """ADVICE round 1: a null-keyed source row used to slip through the
    full-outer join as an all-null phantom 'keep' row with wrong counters."""
    table.merge(props(spark, BATCH1), keys=["client_id", "external_id"])
    bad = props(spark, [("c1", None, "Casa ?", "hX", "active")])
    with pytest.raises(ValueError, match="NULL in merge key"):
        table.merge(bad, keys=["client_id", "external_id"])
    assert table.read().count() == 3  # untouched


def test_merge_keeps_legacy_null_key_target_rows(spark, table):
    """Presence flags (not key null-ness) classify rows: a null-keyed row
    already in the target (via append) survives a merge as 'keep'."""
    table.merge(props(spark, BATCH1), keys=["client_id", "external_id"])
    table.append(props(spark, [("c9", None, "Legacy", "hL", "active")]))
    stats = table.merge(
        props(spark, [("c1", "p1", "Casa A v2", "h1b", "active")]),
        keys=["client_id", "external_id"],
    )
    assert stats["updated"] == 1 and stats["inserted"] == 0
    out = table.read()
    assert out.count() == 4
    assert out.filter(F.col("title") == "Legacy").count() == 1
    # no all-null phantom rows
    assert out.filter(F.col("client_id").isNull() & F.col("title").isNull()).count() == 0


def test_concurrent_writer_lost_update_detected(spark, table):
    """Optimistic concurrency (round-1 review item #2): writer A reads the
    table, writer B commits, A's commit must raise ConcurrentWriteError
    instead of silently clobbering B's update; a retry on the fresh
    snapshot then lands both changes."""
    from etl_stack_spark.operators.merge import ConcurrentWriteError

    table.merge(props(spark, BATCH1), keys=["client_id", "external_id"])

    # transaction A captures its base version (as merge() does internally)
    base = table.current_version()
    target_a = table.read(base)
    a_out = target_a.withColumn(
        "title", F.when(F.col("external_id") == "p1", "A's title").otherwise(F.col("title"))
    )

    # writer B commits a conflicting change first
    table.merge(
        props(spark, [("c1", "p2", "B's title", "h2b", "active")]),
        keys=["client_id", "external_id"],
    )

    with pytest.raises(ConcurrentWriteError, match="advanced"):
        table.overwrite(a_out, expected_version=base)
    # B's committed write survived untouched
    assert table.read().filter(F.col("title") == "B's title").count() == 1
    assert table.read().filter(F.col("title") == "A's title").count() == 0

    # A retries against the fresh snapshot → both changes land
    base2 = table.current_version()
    retry = table.read(base2).withColumn(
        "title", F.when(F.col("external_id") == "p1", "A's title").otherwise(F.col("title"))
    )
    table.overwrite(retry, expected_version=base2)
    titles = {r["external_id"]: r["title"] for r in table.read().collect()}
    assert titles["p1"] == "A's title" and titles["p2"] == "B's title"


def test_concurrent_merge_api_conflict(spark, table):
    """The same race through the public merge() API: simulate B committing
    between A's version capture and A's commit via the merge hook."""
    from unittest.mock import patch

    from etl_stack_spark.operators.merge import ConcurrentWriteError

    table.merge(props(spark, BATCH1), keys=["client_id", "external_id"])

    real_write = type(table)._write_snapshot
    state = {"fired": False}

    def racing_write(self, df, expected_version=None, **kw):
        if not state["fired"]:
            state["fired"] = True
            # writer B sneaks in a full commit while A is mid-transaction
            other = type(table)(spark, table.root)
            other.merge(
                props(spark, [("c9", "p99", "Interloper", "h99", "active")]),
                keys=["client_id", "external_id"],
            )
        return real_write(self, df, expected_version=expected_version, **kw)

    with patch.object(type(table), "_write_snapshot", racing_write):
        with pytest.raises(ConcurrentWriteError):
            table.merge(
                props(spark, [("c1", "p1", "Casa A v3", "h1c", "active")]),
                keys=["client_id", "external_id"],
            )
    # the interloper's row is intact; A's change did not partially apply
    out = table.read()
    assert out.filter(F.col("title") == "Interloper").count() == 1
    assert out.filter(F.col("title") == "Casa A v3").count() == 0
    # the aborted writer's orphan data directory was cleaned up
    import os

    dirs = {d for d in os.listdir(table.root) if d.startswith("v_")}
    manifest_dirs = set(table._read_manifest()["history"])
    assert dirs == manifest_dirs


def test_merge_with_retry_lands_both_writers(spark, table):
    """VERDICT r2 task 7: on ConcurrentWriteError the retry helper re-reads
    the fresh snapshot and re-applies the merge — both writers' commits
    land with no manual intervention."""
    from unittest.mock import patch

    from etl_stack_spark.operators.merge import merge_with_retry

    table.merge(props(spark, BATCH1), keys=["client_id", "external_id"])

    real_write = type(table)._write_snapshot
    state = {"fired": False}

    def racing_write(self, df, expected_version=None, **kw):
        if not state["fired"]:
            state["fired"] = True
            other = type(table)(spark, table.root)
            other.merge(
                props(spark, [("c9", "p99", "Interloper", "h99", "active")]),
                keys=["client_id", "external_id"],
            )
        return real_write(self, df, expected_version=expected_version, **kw)

    with patch.object(type(table), "_write_snapshot", racing_write):
        stats = merge_with_retry(
            table,
            props(spark, [("c1", "p1", "Casa A v3", "h1c", "active")]),
            keys=["client_id", "external_id"],
        )
    assert stats["attempts"] == 2 and stats["updated"] == 1
    out = table.read()
    assert out.filter(F.col("title") == "Interloper").count() == 1
    assert out.filter(F.col("title") == "Casa A v3").count() == 1
    # idempotent over re-application: a third run changes nothing
    stats2 = merge_with_retry(
        table,
        props(spark, [("c1", "p1", "Casa A v3", "h1c", "active")]),
        keys=["client_id", "external_id"],
    )
    assert stats2["updated"] == 0 and stats2["unchanged"] >= 1


def test_vacuum_under_lock_preserves_concurrent_commit(spark, table):
    """ADVICE r2: vacuum takes the commit lock, so a committer's manifest
    append can't interleave with vacuum's manifest rewrite."""
    table.merge(props(spark, BATCH1), keys=["client_id", "external_id"])
    table.merge(props(spark, BATCH1), keys=["client_id", "external_id"])
    table.merge(props(spark, BATCH1), keys=["client_id", "external_id"])
    dropped = table.vacuum(keep_last=1)
    assert len(dropped) == 2
    # manifest and directories stay consistent and the table still commits
    table.merge(
        props(spark, [("c1", "p1", "post-vacuum", "hv", "active")]),
        keys=["client_id", "external_id"],
    )
    assert table.read().filter(F.col("title") == "post-vacuum").count() == 1
    import os

    dirs = {d for d in os.listdir(table.root) if d.startswith("v_")}
    assert dirs == set(table._read_manifest()["history"])


def test_merge_schema_drift_modes(spark, tmp_path):
    """Source columns the table lacks: error by default (silent data loss
    is never a default), evolve widens with NULL backfill, ignore drops
    explicitly."""
    import pytest

    from etl_stack_spark.operators.merge import ParquetMergeTable

    t = ParquetMergeTable(spark, str(tmp_path / "drift"))
    v1 = spark.createDataFrame(
        [(1, "a", "h1"), (2, "b", "h2")], "id int, val string, content_hash string"
    )
    t.merge(v1, keys=["id"])

    v2 = spark.createDataFrame(
        [(2, "b2", "h2x", 9.5), (3, "c", "h3", 7.0)],
        "id int, val string, content_hash string, score double",
    )
    with pytest.raises(ValueError, match="score"):
        t.merge(v2, keys=["id"])

    stats = t.merge(v2, keys=["id"], on_extra_columns="evolve")
    # unchanged folds in target-only "keep" rows (id=1)
    assert stats == {"inserted": 1, "updated": 1, "unchanged": 1, "soft_deleted": 0}
    rows = {r["id"]: (r["val"], r["score"]) for r in t.read().collect()}
    assert rows[1] == ("a", None)      # pre-drift row: NULL backfill
    assert rows[2] == ("b2", 9.5)      # updated row carries the new column
    assert rows[3] == ("c", 7.0)

    v3 = spark.createDataFrame(
        [(4, "d", "h4", "junk")], "id int, val string, content_hash string, debug string"
    )
    t.merge(v3, keys=["id"], on_extra_columns="ignore")
    out = t.read()
    assert "debug" not in out.columns and out.filter("id = 4").count() == 1


# --- PartitionedMergeTable: partition-scoped rewrites ------------------------

def _ptable_rows(spark, rows):
    return spark.createDataFrame(
        rows, "client_id string, external_id string, title string, content_hash string"
    )


def test_partitioned_merge_rewrites_only_touched_partitions(spark, tmp_path):
    from etl_stack_spark.operators.merge import PartitionedMergeTable

    t = PartitionedMergeTable(spark, str(tmp_path / "pt"), "client_id")
    seed = _ptable_rows(spark, [
        ("c1", "p1", "t1", "h1"), ("c1", "p2", "t2", "h2"),
        ("c2", "q1", "u1", "g1"),
    ])
    stats = t.merge(seed, keys=["client_id", "external_id"])
    assert stats["inserted"] == 3 and stats["partitions_rewritten"] == 2
    c1_dir_before = t.parts()["c1"]

    delta = _ptable_rows(spark, [
        ("c2", "q1", "u1-edited", "g1x"),   # update
        ("c2", "q2", "u2", "g2"),           # insert
    ])
    stats = t.merge(delta, keys=["client_id", "external_id"])
    core = {k: stats[k] for k in (
        "inserted", "updated", "unchanged", "soft_deleted", "partitions_rewritten",
    )}
    assert core == {
        "inserted": 1, "updated": 1, "unchanged": 0, "soft_deleted": 0,
        "partitions_rewritten": 1,
    }
    # r8 stats-pruning counters: the delta's key range covers the single
    # c2 file, so nothing prunes here — but the counters must be present
    # and consistent
    assert stats["files_pruned"] == 0 and stats["rows_carried"] == 0
    assert stats["rows_rewritten"] == stats["inserted"] + stats["updated"]
    # c1 was untouched: same physical directory, same rows
    assert t.parts()["c1"] == c1_dir_before
    rows = {(r["client_id"], r["external_id"]): r["title"] for r in t.read().collect()}
    assert rows == {
        ("c1", "p1"): "t1", ("c1", "p2"): "t2",
        ("c2", "q1"): "u1-edited", ("c2", "q2"): "u2",
    }
    # partition-pruned read
    assert {r["external_id"] for r in t.read(["c2"]).collect()} == {"q1", "q2"}


def test_partitioned_merge_requires_partition_key(spark, tmp_path):
    from etl_stack_spark.operators.merge import PartitionedMergeTable

    t = PartitionedMergeTable(spark, str(tmp_path / "pt2"), "client_id")
    with pytest.raises(ValueError, match="must be part of the merge keys"):
        t.merge(_ptable_rows(spark, [("c1", "p1", "t", "h")]), keys=["external_id"])
    with pytest.raises(ValueError, match="NULL"):
        t.merge(
            _ptable_rows(spark, [(None, "p1", "t", "h")]),
            keys=["client_id", "external_id"],
        )


def test_partitioned_merge_cross_partition_writers_both_commit(spark, tmp_path):
    """The point of per-partition conflict detection: a writer landing in
    c2 while our c1 transaction is in flight does NOT abort it."""
    from unittest.mock import patch

    from etl_stack_spark.operators.merge import PartitionedMergeTable

    root = str(tmp_path / "pt3")
    t = PartitionedMergeTable(spark, root, "client_id")
    t.merge(
        _ptable_rows(spark, [("c1", "p1", "t1", "h1"), ("c2", "q1", "u1", "g1")]),
        keys=["client_id", "external_id"],
    )

    real_lock = PartitionedMergeTable._commit_lock
    state = {"fired": False}

    import contextlib as _ctx

    @_ctx.contextmanager
    def racing_lock(self):
        if not state["fired"]:
            state["fired"] = True
            other = PartitionedMergeTable(spark, root, "client_id")
            other.merge(
                _ptable_rows(spark, [("c2", "q2", "interloper", "g2")]),
                keys=["client_id", "external_id"],
            )
        with real_lock(self):
            yield

    with patch.object(PartitionedMergeTable, "_commit_lock", racing_lock):
        stats = t.merge(
            _ptable_rows(spark, [("c1", "p1", "t1-edited", "h1x")]),
            keys=["client_id", "external_id"],
        )
    assert stats["updated"] == 1  # no ConcurrentWriteError
    rows = {(r["client_id"], r["external_id"]): r["title"] for r in t.read().collect()}
    assert rows[("c1", "p1")] == "t1-edited"
    assert rows[("c2", "q2")] == "interloper"  # B's commit survived


def test_partitioned_merge_same_partition_conflict_detected(spark, tmp_path):
    from unittest.mock import patch

    from etl_stack_spark.operators.merge import (
        ConcurrentWriteError,
        PartitionedMergeTable,
    )

    root = str(tmp_path / "pt4")
    t = PartitionedMergeTable(spark, root, "client_id")
    t.merge(
        _ptable_rows(spark, [("c1", "p1", "t1", "h1")]),
        keys=["client_id", "external_id"],
    )

    real_lock = PartitionedMergeTable._commit_lock
    state = {"fired": False}
    import contextlib as _ctx

    @_ctx.contextmanager
    def racing_lock(self):
        if not state["fired"]:
            state["fired"] = True
            other = PartitionedMergeTable(spark, root, "client_id")
            other.merge(
                _ptable_rows(spark, [("c1", "p9", "sneak", "h9")]),
                keys=["client_id", "external_id"],
            )
        with real_lock(self):
            yield

    with patch.object(PartitionedMergeTable, "_commit_lock", racing_lock):
        with pytest.raises(ConcurrentWriteError, match="partition 'c1'"):
            t.merge(
                _ptable_rows(spark, [("c1", "p1", "t1-edited", "h1x")]),
                keys=["client_id", "external_id"],
            )
    # the sneak write survived; the loser's row did not half-land
    rows = {r["external_id"]: r["title"] for r in t.read().collect()}
    assert rows == {"p1": "t1", "p9": "sneak"}


def test_partitioned_evolve_column_survives_read(spark, tmp_path):
    """ADVICE r4: merge(on_extra_columns='evolve') widens only the touched
    partitions; read() must still surface the evolved column everywhere
    (NULL for partitions written before the evolve), not silently drop it."""
    from etl_stack_spark.operators.merge import PartitionedMergeTable

    t = PartitionedMergeTable(spark, str(tmp_path / "pte"), "client_id")
    keys = ["client_id", "external_id"]
    t.merge(
        _ptable_rows(spark, [("c1", "p1", "a", "h1"), ("c2", "q1", "b", "g1")]),
        keys=keys,
    )
    widened = spark.createDataFrame(
        [("c1", "p1", "a2", "h2", 0.9)],
        "client_id string, external_id string, title string, "
        "content_hash string, score double",
    )
    t.merge(widened, keys=keys, on_extra_columns="evolve")

    full = t.read()
    assert "score" in full.columns
    rows = {(r["client_id"], r["external_id"]): r["score"] for r in full.collect()}
    assert rows[("c1", "p1")] == 0.9
    assert rows[("c2", "q1")] is None  # pre-evolve partition: NULL, not dropped
    # partition-pruned read of the UN-evolved partition also carries the column
    pruned = t.read(["c2"])
    assert "score" in pruned.columns
    # a later merge touching only the un-evolved partition must not narrow
    # the table schema back
    t.merge(_ptable_rows(spark, [("c2", "q2", "c", "g2")]), keys=keys)
    assert "score" in t.read().columns
    # the evolved column is the table's: a merge into a partition written
    # before the evolve may carry it under the default on_extra_columns
    scored = spark.createDataFrame(
        [("c2", "q1", "b", "g1x", 0.5)],
        "client_id string, external_id string, title string, "
        "content_hash string, score double",
    )
    assert t.merge(scored, keys=keys)["updated"] == 1
    row = t.read(["c2"]).filter(F.col("external_id") == "q1").first()
    assert row["score"] == 0.5


@pytest.mark.parametrize("mode", ["error", "ignore", "evolve"])
def test_partitioned_merge_reading_no_target_keeps_drift_policy(spark, tmp_path, mode):
    """A merge that reads no target file still applies the schema-drift
    policy against the recorded table schema: into a brand-new partition,
    and into an existing partition whose files are all stats-pruned."""
    from etl_stack_spark.operators.merge import PartitionedMergeTable

    keys = ["client_id", "external_id"]
    cases = {"new": ("c9", "n1"), "pruned": ("c1", "z9")}
    for case, (client, ext) in cases.items():
        t = PartitionedMergeTable(spark, str(tmp_path / case), "client_id")
        t.merge(_ptable_rows(spark, [("c1", "p1", "a", "h1"), ("c1", "p2", "b", "h2")]), keys=keys)
        src = spark.createDataFrame(
            [(client, ext, "x", "g1", "junk")],
            "client_id string, external_id string, title string, "
            "content_hash string, debug string",
        )
        if mode == "error":
            with pytest.raises(ValueError, match="debug"):
                t.merge(src, keys=keys)
            assert "debug" not in t.read().columns and t.read().count() == 2, case
            continue
        stats = t.merge(src, keys=keys, on_extra_columns=mode)
        assert stats["inserted"] == 1, (case, stats)
        if case == "pruned":
            assert stats["files_pruned"] >= 1 and stats["rows_carried"] == 2, stats
        out = t.read()
        rows = {r["external_id"]: r for r in out.collect()}
        assert set(rows) == {"p1", "p2", ext}, case
        if mode == "ignore":
            assert "debug" not in out.columns, case
        else:
            assert rows[ext]["debug"] == "junk" and rows["p1"]["debug"] is None, case


def test_partitioned_vacuum_keep_last_zero_and_per_partition(spark, tmp_path):
    """ADVICE r4: keep_last=0 must drop ALL superseded versions (the old
    history[:-0] slice made it a no-op), and retention is per partition —
    a busy partition's churn cannot evict a quiet partition's history."""
    import os

    from etl_stack_spark.operators.merge import PartitionedMergeTable

    t = PartitionedMergeTable(spark, str(tmp_path / "ptz"), "client_id")
    keys = ["client_id", "external_id"]
    t.merge(_ptable_rows(spark, [("c1", "p1", "a", "h1"), ("c2", "q1", "b", "g1")]), keys=keys)
    c2_v1 = t.parts()["c2"]
    t.merge(_ptable_rows(spark, [("c2", "q1", "b2", "g2")]), keys=keys)
    # churn c1 three times; c2 now has exactly one superseded version
    for i in range(3):
        t.merge(_ptable_rows(spark, [("c1", "p1", f"a{i}", f"h{i}")]), keys=keys)

    # keep_last=2 per partition (live + one prior): c2's single superseded
    # version is retained even though c1 churned past the global window
    dropped = t.vacuum(keep_last=2)
    assert c2_v1 not in dropped
    assert os.path.isdir(os.path.join(t.root, c2_v1))

    # keep_last=0: everything superseded goes, live versions stay
    dropped = t.vacuum(keep_last=0)
    assert c2_v1 in dropped
    live = set(t.parts().values())
    assert not (set(dropped) & live)
    rows = {(r["client_id"], r["external_id"]): r["title"] for r in t.read().collect()}
    assert rows == {("c1", "p1"): "a2", ("c2", "q1"): "b2"}


def test_partitioned_vacuum_drops_superseded_keeps_live(spark, tmp_path):
    import os

    from etl_stack_spark.operators.merge import PartitionedMergeTable

    t = PartitionedMergeTable(spark, str(tmp_path / "ptv"), "client_id")
    keys = ["client_id", "external_id"]
    t.merge(_ptable_rows(spark, [("c1", "p1", "a", "h1"), ("c2", "q1", "b", "g1")]), keys=keys)
    t.merge(_ptable_rows(spark, [("c1", "p1", "a2", "h2")]), keys=keys)
    t.merge(_ptable_rows(spark, [("c1", "p1", "a3", "h3")]), keys=keys)

    dropped = t.vacuum(keep_last=2)
    assert dropped  # c1's first superseded version goes
    live_dirs = set(t.parts().values())
    assert not (set(dropped) & live_dirs)
    for d in live_dirs:
        assert os.path.isdir(os.path.join(t.root, d))
    rows = {(r["client_id"], r["external_id"]): r["title"] for r in t.read().collect()}
    assert rows == {("c1", "p1"): "a3", ("c2", "q1"): "b"}


def test_partitioned_compact_reduces_files_keeps_data(spark, tmp_path):
    import os

    from etl_stack_spark.operators.merge import PartitionedMergeTable

    root = str(tmp_path / "ptc")
    t = PartitionedMergeTable(spark, root, "client_id")
    seed = _ptable_rows(spark, [
        ("c1", f"p{i}", f"t{i}", f"h{i}") for i in range(12)
    ]).repartition(6)  # trickle-write shape: many small files
    t.merge(seed, keys=["client_id", "external_id"])

    def n_files(part):
        d = os.path.join(root, t.parts()[part])
        return len([f for f in os.listdir(d) if f.endswith(".parquet")])

    n_before = n_files("c1")
    assert n_before > 2
    before = {(r["client_id"], r["external_id"]): r["title"] for r in t.read().collect()}
    old_dir = t.parts()["c1"]

    out = t.compact(target_files_per_partition=1)
    # file count before compaction depends on the session's write width —
    # assert against the measured count, not a hardcoded one
    assert out["compacted"] == {"c1": n_before} and out["skipped"] == []
    assert n_files("c1") == 1 and t.parts()["c1"] != old_dir
    after = {(r["client_id"], r["external_id"]): r["title"] for r in t.read().collect()}
    assert after == before  # data-identical rewrite

    # idempotent: already at 1 file <= min_files, nothing to do
    assert t.compact() == {"compacted": {}, "skipped": []}
    # the superseded dir is vacuum-able, the compacted one survives
    dropped = t.vacuum(keep_last=1)
    assert old_dir in dropped or not os.path.exists(os.path.join(root, old_dir))
    assert {(r["client_id"], r["external_id"]) for r in t.read().collect()} == set(before)


def test_partitioned_compact_skips_partition_advanced_mid_rewrite(spark, tmp_path):
    """The never-clobber rule: if a partition advances between the file
    listing and the commit, compact must NOT install its (now stale)
    rewrite. Simulated by editing the manifest between plan and commit
    via a racing merge from a second table handle."""
    import os

    from etl_stack_spark.operators.merge import PartitionedMergeTable

    root = str(tmp_path / "ptr")
    t = PartitionedMergeTable(spark, root, "client_id")
    t.merge(
        _ptable_rows(spark, [("c1", f"p{i}", f"t{i}", f"h{i}") for i in range(8)]).repartition(5),
        keys=["client_id", "external_id"],
    )

    real_lock = t._commit_lock

    def racing_lock():
        # a second writer lands an update AFTER compact planned/rewrote,
        # BEFORE it takes the commit lock
        PartitionedMergeTable(spark, root, "client_id").merge(
            _ptable_rows(spark, [("c1", "p0", "t0-new", "h0x")]),
            keys=["client_id", "external_id"],
        )
        t._commit_lock = real_lock  # run the race only once
        return real_lock()

    t._commit_lock = racing_lock
    out = t.compact(target_files_per_partition=1)
    assert out == {"compacted": {}, "skipped": ["c1"]}
    rows = {r["external_id"]: r["title"] for r in t.read().collect()}
    assert rows["p0"] == "t0-new"  # the racing update survived
    # no orphaned compaction directory remains
    assert not [d for d in os.listdir(root) if d.startswith("c_")]


def test_diff_versions_change_data_feed(spark, tmp_path):
    from etl_stack_spark.operators.merge import ParquetMergeTable, diff_versions

    t = ParquetMergeTable(spark, str(tmp_path / "cdf"))
    rows = lambda d: spark.createDataFrame(  # noqa: E731
        [(k, v, f"h-{v}") for k, v in d.items()],
        "id string, val string, content_hash string",
    )
    t.merge(rows({"a": "1", "b": "2", "c": "3"}), keys=["id"])
    v1 = t.current_version()
    # b updated, c deleted, d inserted
    t.overwrite(rows({"a": "1", "b": "2x", "d": "4"}))

    feed = {
        (r["_change_type"], r["id"]): r["val"]
        for r in diff_versions(t, v1, keys=["id"]).collect()
    }
    assert feed == {
        ("insert", "d"): "4",
        ("delete", "c"): "3",
        ("update_preimage", "b"): "2",
        ("update_postimage", "b"): "2x",
    }  # unchanged 'a' absent; updates carry both images


def test_diff_versions_full_row_compare_without_hash(spark, tmp_path):
    from etl_stack_spark.operators.merge import ParquetMergeTable, diff_versions

    t = ParquetMergeTable(spark, str(tmp_path / "cdf2"))
    mk = lambda *rws: spark.createDataFrame(list(rws), "id string, x int, y int")  # noqa: E731
    t.overwrite(mk(("a", 1, 1), ("b", 2, 2)))
    v1 = t.current_version()
    t.overwrite(mk(("a", 1, 1), ("b", 2, 9)))
    feed = {
        (r["_change_type"], r["id"]): (r["x"], r["y"])
        for r in diff_versions(t, v1, keys=["id"], hash_col=None).collect()
    }
    assert feed == {
        ("update_preimage", "b"): (2, 2),
        ("update_postimage", "b"): (2, 9),
    }


def test_fsck_clean_table_ok(spark, tmp_path):
    from etl_stack_spark.operators.merge import ParquetMergeTable, fsck

    t = ParquetMergeTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.range(5).selectExpr("id", "id * 2 AS v"))
    t.overwrite(spark.range(3).selectExpr("id", "id * 3 AS v"))
    rep = fsck(t)
    assert rep["ok"] and rep["removed"] == []


def test_fsck_finds_and_repairs_orphans_and_lost_history(spark, tmp_path):
    import os
    import shutil

    from etl_stack_spark.operators.merge import ParquetMergeTable, fsck

    t = ParquetMergeTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.range(5).selectExpr("id", "id AS v"))
    t.overwrite(spark.range(5).selectExpr("id", "id + 1 AS v"))
    hist = t._read_manifest()["history"]
    # a crashed writer's parked snapshot (no manifest entry)
    orphan = os.path.join(t.root, "v_9999999999999_1_9")
    os.makedirs(orphan)
    open(os.path.join(orphan, "part-0.parquet"), "wb").close()
    # a superseded version whose dir was lost out-of-band
    shutil.rmtree(os.path.join(t.root, hist[0]))

    rep = fsck(t)
    assert not rep["ok"]
    assert rep["orphans"] == ["v_9999999999999_1_9"]
    assert rep["history_missing"] == [hist[0]]
    assert rep["live_missing"] == []

    rep2 = fsck(t, remove_orphans=True)
    assert sorted(rep2["removed"]) == sorted(["v_9999999999999_1_9", hist[0]])
    assert not os.path.exists(orphan)
    assert t._read_manifest()["history"] == [hist[1]]
    assert fsck(t)["ok"]
    # the repair never touched the live snapshot
    assert t.read().count() == 5


def test_fsck_live_missing_is_reported_not_repaired(spark, tmp_path):
    import shutil

    from etl_stack_spark.operators.merge import ParquetMergeTable, fsck

    t = ParquetMergeTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.range(2))
    cur = t.current_version()
    shutil.rmtree(f"{t.root}/{cur}")
    rep = fsck(t, remove_orphans=True)
    assert rep["live_missing"] == [cur] and not rep["ok"]
    assert cur not in rep["removed"]  # data loss is never "repaired" away


def test_fsck_partitioned_and_stale_lock(spark, tmp_path):
    import os
    import time

    from etl_stack_spark.operators.merge import PartitionedMergeTable, fsck

    t = PartitionedMergeTable(spark, str(tmp_path / "p"), "region")
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, "eu", 10), (2, "us", 20)], "id long, region string, v long"
    ).withColumn("content_hash", F.sha2(F.col("v").cast("string"), 256)).withColumn(
        "updated_at", F.current_timestamp()
    )
    t.merge(df, keys=["id", "region"])
    lock = os.path.join(t.root, "COMMIT_LOCK")
    open(lock, "w").close()
    old = time.time() - 120
    os.utime(lock, (old, old))
    rep = fsck(t)
    assert rep["stale_lock"] and not rep["ok"]
    rep2 = fsck(t, remove_orphans=True)
    assert "COMMIT_LOCK" in rep2["removed"] and not os.path.exists(lock)
    assert fsck(t)["ok"]
    assert t.read().count() == 2


def test_fsck_collects_crashed_compaction_dirs(spark, tmp_path):
    """A compactor that dies between its data write and the manifest swap
    parks a c_* dir no manifest knows about; fsck must flag and collect
    it — while a LIVE compaction dir (a committed compact) stays."""
    import os

    from pyspark.sql import functions as F

    from etl_stack_spark.operators.merge import PartitionedMergeTable, fsck

    t = PartitionedMergeTable(spark, str(tmp_path / "p"), "region")
    df = spark.createDataFrame(
        [(1, "eu", 10), (2, "eu", 20)], "id long, region string, v long"
    ).withColumn("content_hash", F.sha2(F.col("v").cast("string"), 256))
    t.merge(df, keys=["id", "region"])
    t.merge(df.withColumn("v", F.col("v") + 1).withColumn(
        "content_hash", F.sha2((F.col("v") + 1).cast("string"), 256)
    ), keys=["id", "region"])
    res = t.compact(min_files=0)
    assert res["compacted"]
    live_c = [d for d in t.parts().values() if d.startswith("c_")]
    assert live_c, "compact must have committed a c_ dir"

    # plant a crashed compaction: a c_ dir with data, absent from manifest
    crashed = os.path.join(t.root, "c_9_99999_1")
    os.makedirs(crashed)
    spark.range(3).write.mode("overwrite").parquet(crashed)

    # and a crashed merge: it wrote all its partitions into a staging
    # dir but died before renaming them into place
    stage = os.path.join(t.root, "p_stage_99999_1_0")
    spark.range(3).withColumn("_dir", F.lit("p_0_99999_1_0")).write.partitionBy(
        "_dir"
    ).parquet(stage)

    rep = fsck(t)
    assert "c_9_99999_1" in rep["orphans"]
    assert "p_stage_99999_1_0" in rep["orphans"]
    assert all(d not in rep["orphans"] for d in live_c)
    fsck(t, remove_orphans=True)
    assert not os.path.exists(crashed)
    assert not os.path.exists(stage)
    assert fsck(t)["ok"]
    assert t.read().count() == 2


def test_stats_pruned_partitioned_merge(spark, tmp_path):
    """VERDICT r7 task 5 — the classic Delta MERGE file-pruning
    optimization: on a partition clustered on a merge key, a narrow
    delta rewrites only the files whose stats ranges intersect the
    source's key bounds; carried files stay live in their old
    directories (file-granular manifest), counters stay exact, the
    Delta log tombstones ONLY rewritten files, and vacuum/compact/fsck
    respect the carried set."""
    import json
    import os

    from etl_stack_spark.operators.delta_log import DeltaLog
    from etl_stack_spark.operators.merge import PartitionedMergeTable, fsck
    from tests.delta_replay_validator import replay as independent_replay

    rows = (
        spark.range(0, 8000)
        .select(
            (F.col("id") % 4).cast("string").alias("bucket"),
            F.lpad(F.col("id").cast("string"), 10, "0").alias("lkey"),
            F.col("id").cast("string").alias("payload"),
        )
        .withColumn("content_hash", F.sha2(F.col("payload"), 256))
    )
    root = tmp_path / "pt"
    pt = PartitionedMergeTable(spark, str(root), "bucket", delta_log=True)
    pt.merge(rows, keys=["bucket", "lkey"], cluster_by=["lkey"], cluster_files=8)

    delta = (
        rows.filter(
            (F.col("bucket") == "3")
            & (F.col("lkey") >= "0000004000")
            & (F.col("lkey") < "0000004200")
        )
        .withColumn("payload", F.concat(F.col("payload"), F.lit("-x")))
        .withColumn("content_hash", F.sha2(F.col("payload"), 256))
    )
    nd = delta.count()
    r = pt.merge(delta, keys=["bucket", "lkey"])
    assert r["updated"] == nd and r["inserted"] == 0
    assert r["files_pruned"] >= 6, r  # clustered 8-file partition, narrow range
    assert r["updated"] + r["unchanged"] == 2000  # exact counters incl. carried
    assert r["rows_carried"] + r["rows_rewritten"] == 2000

    # data correctness: updates landed, nothing lost, partition read intact
    assert pt.read().filter(F.col("payload").endswith("-x")).count() == nd
    assert pt.read().count() == 8000
    assert pt.read(part_values=["3"]).count() == 2000

    # the log tombstones ONLY the rewritten files of the touched partition
    acts = [
        json.loads(l)
        for l in (root / "_delta_log" / f"{1:020d}.json").read_text().splitlines()
    ]
    removes = [a["remove"] for a in acts if "remove" in a]
    assert len(removes) == 8 - r["files_pruned"]
    # replay (both replayers) == table read
    st = DeltaLog(str(root)).state()
    ind = independent_replay(str(root))
    assert sorted(st["files"]) == sorted(ind["files"])
    via = spark.read.option("mergeSchema", "true").parquet(
        *[str(root / p) for p in st["files"]]
    )
    assert via.count() == 8000

    # maintenance ops respect carried files in superseded directories
    pt.vacuum(keep_last=0)
    assert pt.read().count() == 8000
    assert fsck(pt)["ok"]
    res = pt.compact(min_files=1)
    assert res["compacted"] and pt.read().count() == 8000
    # post-compact merge is still exact (single-file partition: no pruning)
    delta2 = delta.withColumn(
        "payload", F.concat(F.col("payload"), F.lit("2"))
    ).withColumn("content_hash", F.sha2(F.col("payload"), 256))
    r2 = pt.merge(delta2, keys=["bucket", "lkey"])
    assert r2["updated"] == nd and pt.read().count() == 8000


def test_vacuum_tombstones_reclaims_under_carried_files(spark, tmp_path):
    """Log-driven retention VACUUM (round 8): stats-pruned merges carry
    live files inside superseded directories, so dir-level vacuum can
    never reclaim those dirs' REWRITTEN files — only the log's
    tombstones know which files are dead. Expired tombstones delete,
    live (carried) files survive, reads and replay stay intact, and
    manifest history for partially-vacuumed dirs is pruned so time
    travel can only resolve complete snapshots."""
    import os

    from etl_stack_spark.operators.delta_log import DeltaLog
    from etl_stack_spark.operators.merge import (
        ParquetMergeTable,
        PartitionedMergeTable,
        fsck,
        vacuum_tombstones,
    )
    from tests.delta_replay_validator import replay as independent_replay

    rows = (
        spark.range(0, 4000)
        .select(
            (F.col("id") % 2).cast("string").alias("bucket"),
            F.lpad(F.col("id").cast("string"), 10, "0").alias("lkey"),
            F.col("id").cast("string").alias("payload"),
        )
        .withColumn("content_hash", F.sha2(F.col("payload"), 256))
    )
    root = tmp_path / "pt"
    pt = PartitionedMergeTable(spark, str(root), "bucket", delta_log=True)
    pt.merge(rows, keys=["bucket", "lkey"], cluster_by=["lkey"], cluster_files=8)
    first_dir = pt.parts()["1"]
    delta = (
        rows.filter(
            (F.col("bucket") == "1")
            & (F.col("lkey") >= "0000002000")
            & (F.col("lkey") < "0000002200")
        )
        .withColumn("payload", F.concat(F.col("payload"), F.lit("-x")))
        .withColumn("content_hash", F.sha2(F.col("payload"), 256))
    )
    r = pt.merge(delta, keys=["bucket", "lkey"], cluster_by=["lkey"], cluster_files=8)
    assert r["files_pruned"] > 0  # first_dir now holds carried + dead files

    # unexpired retention: nothing reclaimed
    assert vacuum_tombstones(pt) == []

    state_before = DeltaLog(str(root)).state()
    dead = set(state_before["tombstones"])
    assert any(p.startswith(first_dir + "/") for p in dead)
    carried = {p for p in state_before["files"] if p.startswith(first_dir + "/")}
    assert carried, "stats pruning must have carried files in the old dir"

    # now_ms one past the newest tombstone: a wall-clock `now` can read the
    # commit's own millisecond, and a tombstone aged 0 ms is not expired
    deleted = vacuum_tombstones(
        pt, retention_ms=0, now_ms=max(state_before["tombstones"].values()) + 1
    )
    assert sorted(deleted) == sorted(dead)
    for rel in carried:  # live files untouched, in the same directory
        assert (root / rel).is_file()
    for rel in deleted:
        assert not (root / rel).exists()

    # reads, replay (both replayers) and fsck all intact after reclaim
    assert pt.read().count() == 4000
    assert pt.read().filter(F.col("payload").endswith("-x")).count() == delta.count()
    st = DeltaLog(str(root)).state()
    assert sorted(st["files"]) == sorted(independent_replay(str(root))["files"])
    for rel in st["files"]:
        assert (root / rel).is_file()
    assert fsck(pt)["ok"]

    # whole-snapshot flavor: superseded snapshots reclaim file-wise and
    # their (now incomplete) history entries are pruned in the same commit
    t = ParquetMergeTable(spark, str(tmp_path / "t"), delta_log=True)
    t.overwrite(spark.createDataFrame([("a", "h1")], "pk string, content_hash string"))
    old_version = t.current_version()
    t.merge(
        spark.createDataFrame([("b", "h2")], "pk string, content_hash string"),
        keys=["pk"],
    )
    deleted = vacuum_tombstones(
        t, retention_ms=0,
        now_ms=max(DeltaLog(str(tmp_path / "t")).state()["tombstones"].values()) + 1,
    )
    assert deleted and all(p.startswith(old_version + "/") for p in deleted)
    hist = t._read_manifest()["history"]
    assert old_version not in hist and t.current_version() in hist
    assert {r.pk for r in t.read().collect()} == {"a", "b"}


def test_soft_delete_scope_keys_frame_equivalent(spark, table):
    """soft_delete_scope_keys (r10): the scope as a broadcast key frame
    must behave exactly like the Column-predicate form — and reject
    being combined with it. The frame form exists because an
    isin([...N ids]) literal scope bloats codegen at real micro-batch
    sizes (measured ~2 min/batch at 15k ids in the r10 audit)."""
    table.merge(props(spark, BATCH1), keys=["client_id", "external_id"])
    batch2 = [("c1", "p1", "Casa A", "h1", "active")]
    scope = spark.createDataFrame([("c1",)], "client_id string")
    stats = table.merge(
        props(spark, batch2),
        keys=["client_id", "external_id"],
        soft_delete_scope_keys=scope,
    )
    assert stats["soft_deleted"] == 1
    out = {r["external_id"]: r["status"] for r in table.read().collect()}
    assert out == {"p1": "active", "p2": "deleted", "p9": "active"}
    # the internal marker column must not leak into the table
    assert "_scope" not in table.read().columns
    # mutually exclusive with the Column form
    with pytest.raises(ValueError):
        table.merge(
            props(spark, batch2),
            keys=["client_id", "external_id"],
            soft_delete_scope=F.col("t.client_id") == "c1",
            soft_delete_scope_keys=scope,
        )


def test_merge_job_budget(spark, table):
    """One merge = one validation aggregate + one classify-and-write pass
    whose counters are observed, reading the target snapshot with the
    schema recorded when it was committed: at most 7 jobs on a small
    table (the three-pass form with a cached snapshot and a separate
    counting job took 12; inferring the target's schema took one more)."""
    table.merge(props(spark, BATCH1), keys=["client_id", "external_id"])
    batch2 = [
        ("c1", "p1", "Casa A v2", "h1b", "active"),
        ("c1", "p3", "Casa C", "h3", "active"),
    ]
    stats, jobs = jobs_in(
        spark,
        "test_merge_job_budget",
        lambda: table.merge(
            props(spark, batch2),
            keys=["client_id", "external_id"],
            soft_delete_scope=F.col("t.client_id") == "c1",
        ),
    )
    assert stats == {"inserted": 1, "updated": 1, "unchanged": 1, "soft_deleted": 1}
    assert 0 < jobs <= 7, jobs


def test_partitioned_merge_job_budget(spark, tmp_path):
    """One partitioned merge = one validation aggregate + one
    classify-and-write job for ALL affected partitions, its counters
    observed and its target read at the recorded table schema: at most 7
    jobs whether it touches 1 or 3 partitions (a cached frame, a counting
    job and one write per partition took 11 and 13)."""
    from etl_stack_spark.operators.merge import PartitionedMergeTable

    t = PartitionedMergeTable(spark, str(tmp_path / "ptj"), "client_id")
    keys = ["client_id", "external_id"]
    t.merge(
        _ptable_rows(spark, [
            (c, f"{c}p{i}", "t", f"h{i}") for c in ("c1", "c2", "c3") for i in range(2)
        ]),
        keys=keys,
    )

    def core(stats):
        # footer stats may carry files the source's key range misses, so
        # only the rewritten + carried total is fixed
        out = {k: stats[k] for k in (
            "inserted", "updated", "unchanged", "soft_deleted", "partitions_rewritten",
        )}
        out["rows"] = stats["rows_rewritten"] + stats["rows_carried"]
        return out

    one = _ptable_rows(spark, [("c1", "c1p0", "t2", "h0x"), ("c1", "c1p9", "t", "h9")])
    stats, jobs = jobs_in(spark, "ptj_one", lambda: t.merge(one, keys=keys))
    assert core(stats) == {
        "inserted": 1, "updated": 1, "unchanged": 1, "soft_deleted": 0,
        "partitions_rewritten": 1, "rows": 3,
    }
    assert 0 < jobs <= 7, jobs

    three = _ptable_rows(spark, [
        ("c1", "c1p1", "t3", "h1x"), ("c2", "c2p9", "t", "h9"), ("c3", "c3p0", "t", "h0"),
    ])
    stats, jobs = jobs_in(spark, "ptj_three", lambda: t.merge(three, keys=keys))
    assert core(stats) == {
        "inserted": 1, "updated": 1, "unchanged": 6, "soft_deleted": 0,
        "partitions_rewritten": 3, "rows": 8,
    }
    assert 0 < jobs <= 7, jobs
    rows = {(r["client_id"], r["external_id"]): r["title"] for r in t.read().collect()}
    assert len(rows) == 8
    assert rows[("c1", "c1p0")] == "t2" and rows[("c1", "c1p1")] == "t3"
    assert rows[("c2", "c2p9")] == "t" and rows[("c3", "c3p1")] == "t"


def test_merge_keeps_source_observation(spark, table):
    """The merge persists its source; an ``observe()`` the caller attached
    to that source must still deliver its counters (``obs.get`` blocks
    until they arrive, so a lost observation would hang: wait with a
    timeout instead)."""
    import threading

    from etl_stack_spark.plans.ingest import with_quality_observation

    src = props(spark, BATCH1).select(
        "*",
        F.when(F.col("external_id") == "p2", None).otherwise(F.lit(1.0)).alias("price"),
        F.lit(9.9).alias("location_lat"),
        F.lit(None).cast("double").alias("location_lng"),
    )
    # an empty first write, so the observed merge below takes the
    # classify-and-write path, which carries its own observation too
    table.merge(src.limit(0), keys=["client_id", "external_id"])
    observed, obs = with_quality_observation(src)
    stats = table.merge(observed, keys=["client_id", "external_id"])
    assert stats["inserted"] == 3
    got = {}
    reader = threading.Thread(target=lambda: got.update(obs.get), daemon=True)
    reader.start()
    reader.join(timeout=60)
    assert not reader.is_alive(), "observation metrics never arrived"
    assert (got["n_rows"], got["null_price"], got["null_coords"]) == (3, 1, 3)


_BAD_SOURCES = {
    "null_key": (
        [("c1", "p1", "t", "h"), ("c1", None, "t", "h")],
        "merge source contains NULL in merge key\\(s\\) \\['client_id', 'external_id'\\]",
    ),
    "duplicate_key": (
        [("c1", "p1", "t", "h"), ("c1", "p1", "t2", "h2")],
        "merge source has multiple rows per merge key \\['client_id', 'external_id'\\]; "
        "deduplicate the source first",
    ),
    "null_partition": (
        [("c1", "p1", "t", "h"), (None, "p2", "t", "h")],
        "merge source contains NULL 'client_id'",
    ),
}


@pytest.mark.parametrize("kind", ["whole", "partitioned"])
@pytest.mark.parametrize("bad", sorted(_BAD_SOURCES))
def test_rejected_source_changes_nothing(spark, tmp_path, kind, bad):
    """A source that fails validation raises before anything is written:
    same manifest, no new snapshot directory, and the merge's persist of
    the source is released."""
    import os

    from pyspark import StorageLevel

    from etl_stack_spark.operators.merge import PartitionedMergeTable

    root = str(tmp_path / "t")
    if kind == "whole":
        t = ParquetMergeTable(spark, root)
    else:
        t = PartitionedMergeTable(spark, root, "client_id")
    rows, message = _BAD_SOURCES[bad]
    if bad == "null_partition" and kind == "whole":
        message = _BAD_SOURCES["null_key"][1]  # no partition column: a plain null key
    t.merge(_ptable_rows(spark, [("c1", "p1", "t", "h"), ("c2", "q1", "u", "g")]),
            keys=["client_id", "external_id"])

    def state():
        with open(os.path.join(root, "MANIFEST.json")) as f:
            return f.read(), sorted(os.listdir(root))

    before = state()
    source = _ptable_rows(spark, rows)
    with pytest.raises(ValueError, match=f"^{message}"):
        t.merge(source, keys=["client_id", "external_id"])
    assert state() == before
    assert source.storageLevel == StorageLevel.NONE
