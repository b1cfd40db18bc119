"""KeyedTable: bulk_insert / upsert / delete / clean / snapshot reads.

Ports the reference's day=0/1/2 incremental scenario (FIXTURES.md F2,
glue/NYTaxiDataPrep.py:36-49) onto tiny inline frames: an initial load,
an update batch with a newer precombine, and a late-arriving batch with
an older precombine — asserting the per-key winners under both late-data
policies.
"""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import Row
from pyspark.sql.functions import col as F_col

from hudi_glue_spark.table import KeyedTable, ingest
from hudi_glue_spark.table.keyed_table import ARRIVAL_WINS, EVENT_TIME_WINS


def ts_d(day: int) -> datetime.datetime:
    return datetime.datetime(2026, 1, 1) + datetime.timedelta(days=day - 1)


def ts(day: int) -> datetime.datetime:
    return datetime.datetime(2026, 1, day, 12, 0, 0)


def day0(spark):
    # initial load: keys 1-4 across two partitions
    return spark.createDataFrame(
        [
            Row(pk=1, part="a", val="init1", update_ts=ts(10)),
            Row(pk=2, part="a", val="init2", update_ts=ts(10)),
            Row(pk=3, part="b", val="init3", update_ts=ts(10)),
            Row(pk=4, part="b", val="init4", update_ts=ts(10)),
        ]
    )


def day1(spark):
    # update batch: newer precombine; key 2 also MOVES partition a→b
    # (the reference mutates its partition column the same way,
    # glue/NYTaxiDataPrep.py:47)
    return spark.createDataFrame(
        [
            Row(pk=1, part="a", val="upd1", update_ts=ts(11)),
            Row(pk=2, part="b", val="upd2", update_ts=ts(11)),
            Row(pk=5, part="c", val="new5", update_ts=ts(11)),
        ]
    )


def day2(spark):
    # late-arriving batch: update_ts five days OLDER than day0
    return spark.createDataFrame(
        [
            Row(pk=1, part="a", val="late1", update_ts=ts(5)),
            Row(pk=3, part="b", val="late3", update_ts=ts(5)),
        ]
    )


def snapshot(tbl, spark) -> dict:
    return {r.pk: (r.part, r.val) for r in tbl.read(spark).collect()}


@pytest.fixture
def tmppath(tmp_path):
    return str(tmp_path / "tbl")


def run_scenario(spark, tmppath, policy):
    tbl = KeyedTable(tmppath, key="pk", precombine="update_ts", partition_by="part", policy=policy)
    ingest(tbl, day0(spark))
    ingest(tbl, day1(spark))
    ingest(tbl, day2(spark))
    return tbl


def test_scenario_event_time_wins(spark, tmppath):
    tbl = run_scenario(spark, tmppath, EVENT_TIME_WINS)
    got = snapshot(tbl, spark)
    # day1 (newest event time) wins over late day2; day0 only for key 4
    assert got == {
        1: ("a", "upd1"),
        2: ("b", "upd2"),
        3: ("b", "init3"),  # late3 is older than init3 → rejected
        4: ("b", "init4"),
        5: ("c", "new5"),
    }


def test_scenario_arrival_wins(spark, tmppath):
    tbl = run_scenario(spark, tmppath, ARRIVAL_WINS)
    got = snapshot(tbl, spark)
    # last-written batch wins regardless of event time (Hudi-0.5 payload)
    assert got == {
        1: ("a", "late1"),
        2: ("b", "upd2"),
        3: ("b", "late3"),
        4: ("b", "init4"),
        5: ("c", "new5"),
    }


def test_key_uniqueness_and_counts(spark, tmppath):
    tbl = run_scenario(spark, tmppath, EVENT_TIME_WINS)
    df = tbl.read(spark)
    assert df.count() == 5
    assert df.select("pk").distinct().count() == 5


def test_partition_move_leaves_no_ghost(spark, tmppath):
    """Key 2 moved a→b on day1; partition a must not retain the old row."""
    tbl = run_scenario(spark, tmppath, EVENT_TIME_WINS)
    rows = tbl.read(spark).filter("part = 'a'").collect()
    assert {r.pk for r in rows} == {1}


def test_untouched_partition_files_carried(spark, tmppath):
    """CoW must NOT rewrite partitions an upsert doesn't touch."""
    tbl = KeyedTable(tmppath, key="pk", precombine="update_ts", partition_by="part")
    tbl.bulk_insert(day0(spark))
    import json as _json
    from hudi_glue_spark.table import manifest as M

    man0 = M.read_manifest(tmppath)
    only_a = day1(spark).filter("part = 'a'")
    tbl.upsert(only_a)
    man1 = M.read_manifest(tmppath)
    b_files_before = {f for f in man0.files if f.startswith("part=b/")}
    b_files_after = {f for f in man1.files if f.startswith("part=b/")}
    assert b_files_before == b_files_after  # carried, not rewritten
    assert _json.loads(man1.to_json())["stats"]["partitions_rewritten"] == ["part=a"]


def test_precombine_dedup_within_batch(spark, tmppath):
    tbl = KeyedTable(tmppath, key="pk", precombine="update_ts", partition_by="part")
    dup = spark.createDataFrame(
        [
            Row(pk=1, part="a", val="older", update_ts=ts(1)),
            Row(pk=1, part="a", val="newer", update_ts=ts(2)),
        ]
    )
    ingest(tbl, dup)
    assert snapshot(tbl, spark) == {1: ("a", "newer")}


def test_delete(spark, tmppath):
    tbl = run_scenario(spark, tmppath, EVENT_TIME_WINS)
    keys = spark.createDataFrame([Row(pk=1), Row(pk=4)])
    tbl.delete(keys)
    got = snapshot(tbl, spark)
    assert set(got) == {2, 3, 5}


def test_time_travel_and_incremental(spark, tmppath):
    tbl = KeyedTable(tmppath, key="pk", precombine="update_ts", partition_by="part")
    c0 = tbl.bulk_insert(day0(spark))
    c1 = tbl.upsert(day1(spark))
    assert tbl.read(spark, at=c0).count() == 4
    assert tbl.read(spark, at=c1).count() == 5
    inc = tbl.read_incremental(spark, since=c0)
    # files added by the upsert: rewritten partitions a,b,c content
    assert {r.pk for r in inc.collect()} >= {5}


def test_clean_retention(spark, tmppath):
    tbl = run_scenario(spark, tmppath, EVENT_TIME_WINS)
    assert len(tbl.commits()) == 3
    removed = tbl.clean(retain_commits=1)
    assert len(tbl.commits()) == 1
    # table still readable after cleaning
    assert tbl.read(spark).count() == 5
    # at least day0's superseded files got physically removed
    assert removed


def test_non_partitioned_table(spark, tmppath):
    tbl = KeyedTable(tmppath, key="pk", precombine="update_ts")
    ingest(tbl, day0(spark).drop("part"))
    ingest(tbl, day1(spark).drop("part"))
    df = tbl.read(spark)
    assert df.count() == 5
    assert {r.val for r in df.collect()} == {"upd1", "upd2", "init3", "init4", "new5"}


def test_register_catalog(spark, tmppath):
    tbl = run_scenario(spark, tmppath, EVENT_TIME_WINS)
    tbl.register(spark, "scenario_tbl")
    assert spark.sql("SELECT count(*) AS n FROM scenario_tbl").first().n == 5


def test_missing_key_refused():
    with pytest.raises(ValueError):
        KeyedTable("/tmp/x", key=[], precombine="ts")


def test_empty_batch_upsert_noop(spark, tmppath):
    tbl = KeyedTable(tmppath, key="pk", precombine="update_ts", partition_by="part")
    tbl.bulk_insert(day0(spark))
    tbl.upsert(day0(spark).filter("pk < 0"))
    assert tbl.read(spark).count() == 4


def test_schema_evolution_add_column(spark, tmp_path):
    """A batch carrying a NEW column widens the table schema; existing
    rows read NULL for it, pre-evolution commits stay readable."""
    t = KeyedTable(str(tmp_path / "t"), key="pk", precombine="update_ts",
                   partition_by="part")
    ingest(t, day0(spark))
    evolved = spark.createDataFrame(
        [Row(pk=2, part="a", val="upd2", update_ts=ts(11), score=0.9)]
    )
    ingest(t, evolved)
    snap = t.read(spark)
    assert "score" in snap.columns
    got = {r["pk"]: r["score"] for r in snap.collect()}
    assert got[2] == pytest.approx(0.9)
    assert all(got[k] is None for k in (1, 3, 4))
    # a later batch WITHOUT the column NULL-fills it
    ingest(t, day1(spark))
    assert {r["pk"] for r in t.read(spark).collect()} == {1, 2, 3, 4, 5}
    # time travel to the pre-evolution commit: original schema
    first = t.read(spark, at=t.commits()[0])
    assert "score" not in first.columns


def test_concurrent_commit_refused(spark, tmp_path):
    from hudi_glue_spark.table import manifest as M

    t = KeyedTable(str(tmp_path / "t"), key="pk", precombine="update_ts")
    ingest(t, day0(spark))
    man = M.read_manifest(t.path)
    with pytest.raises(M.ConcurrentCommitError):
        M.write_manifest(t.path, man)  # same commit id again


def test_partition_key_scope_skips_global_probe(spark, tmp_path):
    """key_scope='partition' (Hudi non-global index parity): an upsert
    touches only the batch's partitions; a key that changes its
    partition value inserts THERE and the old row survives — two rows,
    one key, two partitions."""
    t = KeyedTable(str(tmp_path / "t"), key="pk", precombine="update_ts",
                   partition_by="part", key_scope="partition")
    ingest(t, day0(spark))
    moved = spark.createDataFrame(
        [Row(pk=2, part="b", val="moved2", update_ts=ts(11))]
    )
    ingest(t, moved)
    rows = {(r["pk"], r["part"]): r["val"] for r in t.read(spark).collect()}
    # pk=2 now exists in BOTH partitions (non-global semantics)
    assert rows[(2, "a")] == "init2" and rows[(2, "b")] == "moved2"
    # within-partition update still merges
    upd = spark.createDataFrame(
        [Row(pk=1, part="a", val="upd1", update_ts=ts(12))]
    )
    ingest(t, upd)
    rows = {(r["pk"], r["part"]): r["val"] for r in t.read(spark).collect()}
    assert rows[(1, "a")] == "upd1" and len(rows) == 5
    # round-trips through table metadata
    assert KeyedTable.load(t.path).key_scope == "partition"


def test_delete_where_predicate(spark, tmp_path):
    t = KeyedTable(str(tmp_path / "t"), key="pk", precombine="update_ts",
                   partition_by="part")
    ingest(t, day0(spark))
    t.delete_where(spark, "part = 'a'")
    assert {r["pk"] for r in t.read(spark).collect()} == {3, 4}


def test_register_external_catalog(spark, tmp_path):
    """Persistent external-table registration with partition recovery;
    after clean(retain_commits=1) the files on disk equal the snapshot."""
    t = KeyedTable(str(tmp_path / "t"), key="pk", precombine="update_ts",
                   partition_by="part")
    ingest(t, day0(spark))
    ingest(t, day1(spark))
    t.clean(retain_commits=1)
    t.register_external(spark, "kt_ext")
    try:
        got = {r["pk"]: r["val"] for r in spark.sql(
            "SELECT pk, val FROM kt_ext").collect()}
        want = {r["pk"]: r["val"] for r in t.read(spark).collect()}
        assert got == want
        # partition pruning works through the catalog
        assert spark.sql(
            "SELECT count(*) FROM kt_ext WHERE part = 'c'").first()[0] == 1
    finally:
        t.unregister_external(spark, "kt_ext")


def test_optimize_unpartitioned(spark, tmp_path):
    import hudi_glue_spark.table.manifest as M

    t = KeyedTable(str(tmp_path / "t"), key="pk", precombine="update_ts")
    t.save_meta()
    df = day0(spark)
    files, nrows = t._write_files(df.repartition(8), "x", repartition=False)
    t._commit("bulk_insert", files, df.schema, rows=nrows)
    assert len(M.read_manifest(t.path).files) > 1
    assert t.optimize(spark, target_file_mb=64) is not None
    assert len(M.read_manifest(t.path).files) == 1
    assert t.read(spark).count() == 4


def test_read_range_skips_files(spark, tmp_path):
    """Manifest min/max stats prune files: three commits with disjoint
    precombine ranges → a range read over the middle slice scans only
    that commit's files, and the rows match a full-scan filter."""
    # partitioned by an opaque group so each commit keeps its own file;
    # pruning below uses the update_ts STATS, not the partition value
    t = KeyedTable(str(tmp_path / "t"), key="pk", precombine="update_ts",
                   partition_by="grp")
    for day0_, n in [(1, 0), (11, 100), (21, 200)]:
        batch = spark.createDataFrame(
            [Row(pk=n + i, grp=f"g{n}", val=f"v{n + i}", update_ts=ts_d(day0_ + i))
             for i in range(3)]
        )
        ingest(t, batch)
    import hudi_glue_spark.table.manifest as M

    man = M.read_manifest(t.path)
    assert all("update_ts" in st for st in man.file_stats.values())
    lo, hi = ts_d(11), ts_d(13)
    pruned = t.files_in_range("update_ts", lo, hi)
    assert len(pruned) < len(man.files)
    got = {r["pk"] for r in t.read_range(spark, "update_ts", lo, hi).collect()}
    want = {
        r["pk"]
        for r in t.read(spark).filter(
            (F_col("update_ts") >= lo) & (F_col("update_ts") <= hi)
        ).collect()
    }
    assert got == want == {100, 101, 102}


def test_merge_into_update_delete_insert(spark, tmp_path):
    """One MERGE exercising all three branches: matched+delete-condition
    removes, matched otherwise updates, not-matched inserts."""
    t = KeyedTable(str(tmp_path / "t"), key="pk", precombine="update_ts",
                   partition_by="part")
    ingest(t, day0(spark))  # pks 1-4
    src = spark.createDataFrame([
        Row(pk=1, part="a", val="upd1", update_ts=ts(11)),   # matched → update
        Row(pk=3, part="b", val="doom", update_ts=ts(11)),   # matched → delete
        Row(pk=9, part="c", val="new9", update_ts=ts(11)),   # not matched → insert
    ])
    t.merge_into(src, delete_condition="source.val = 'doom'")
    rows = {r["pk"]: (r["part"], r["val"]) for r in t.read(spark).collect()}
    assert rows == {
        1: ("a", "upd1"),
        2: ("a", "init2"),
        4: ("b", "init4"),
        9: ("c", "new9"),
    }


def test_merge_into_conditional_update_no_insert(spark, tmp_path):
    t = KeyedTable(str(tmp_path / "t"), key="pk", precombine="update_ts")
    ingest(t, day0(spark))
    src = spark.createDataFrame([
        Row(pk=1, part="a", val="upd1", update_ts=ts(9)),   # older → no update
        Row(pk=2, part="a", val="upd2", update_ts=ts(12)),  # newer → update
        Row(pk=9, part="c", val="new9", update_ts=ts(12)),  # insert suppressed
    ])
    t.merge_into(
        src,
        update_condition="source.update_ts > target.update_ts",
        when_not_matched_insert=False,
    )
    rows = {r["pk"]: r["val"] for r in t.read(spark).collect()}
    assert rows == {1: "init1", 2: "upd2", 3: "init3", 4: "init4"}


def test_diff_commits_change_feed(spark, tmp_path):
    t = KeyedTable(str(tmp_path / "t"), key="pk", precombine="update_ts",
                   partition_by="part")
    c0 = t.bulk_insert(day0(spark))     # pks 1-4
    t.upsert(day1(spark))               # upd 1, move 2, new 5
    t.delete(spark.createDataFrame([Row(pk=4)]))
    changes = {
        r["pk"]: r["_change_type"]
        for r in t.diff_commits(spark, c0).collect()
    }
    assert changes == {1: "update", 2: "update", 4: "delete", 5: "insert"}
    # post-image for updates, pre-image for deletes
    vals = {r["pk"]: r["val"] for r in t.diff_commits(spark, c0).collect()}
    assert vals[1] == "upd1" and vals[4] == "init4"


def test_diff_commits_general_path_prunes_carried_files(spark, tmp_path):
    """r12: the general snapshot diff scans only files that DIFFER
    between the two manifests — a file carried with the same DV state
    nets zero in the key-wise join by the unique-key invariant, so
    partitions untouched by the range never enter the scan (O(churn),
    not O(table) at 100 TB)."""
    import os

    from hudi_glue_spark.table import manifest as M

    t = KeyedTable(str(tmp_path / "t"), key="pk",
                   precombine="update_ts", partition_by="part")
    c0 = t.bulk_insert(day0(spark))     # parts a (1,2), b (3,4)
    # touch ONLY partition a
    t.upsert(spark.createDataFrame(
        [Row(pk=1, part="a", val="upd1", update_ts=ts(11))]
    ))
    out = t.diff_commits(spark, c0)
    assert {(r["pk"], r["_change_type"]) for r in out.collect()} == {
        (1, "update")
    }
    # the plan reads no file of the untouched partition b
    b_files = {
        os.path.basename(f)
        for f in M.read_manifest(t.path).files
        if "part=b" in f
    }
    scanned = {os.path.basename(f) for f in out.inputFiles()}
    assert scanned, "expected a non-empty pruned scan"
    assert not (scanned & b_files), (scanned, b_files)


def test_diff_commits_general_path_widened_range(spark, tmp_path):
    """r12: a diff across a schema-widening commit works on the
    general path — the pre-side conforms to the `to` schema (added
    columns read NULL before), matching the chlog composition's
    contract. Previously this raised UNRESOLVED_COLUMN."""
    t = KeyedTable(str(tmp_path / "t"), key="pk",
                   precombine="update_ts", partition_by="part")
    c0 = t.bulk_insert(day0(spark))
    t.upsert(spark.createDataFrame(
        [Row(pk=1, part="a", val="upd1", update_ts=ts(11), extra="x")]
    ))
    out = t.diff_commits(spark, c0)
    rows = {r["pk"]: (r["_change_type"], r["extra"]) for r in out.collect()}
    # pk 1 carries the new column; pk 2 was rewritten (same partition)
    # with extra=NULL — NULL <=> NULL pre/post, so it must NOT appear
    assert rows == {1: ("update", "x")}


def test_diff_commits_general_path_remasked_carried_file(spark, tmp_path):
    """r12 pruning soundness: a file carried by BOTH manifests whose
    DV state CHANGED in the range (point delete without rewrite) must
    stay in the diff — its dv-deleted rows classify as deletes."""
    t = KeyedTable(str(tmp_path / "t"), key="pk",
                   precombine="update_ts", partition_by="part")
    c0 = t.bulk_insert(day0(spark))
    # CoW op (breaks the DV fast path) + DV delete on a CARRIED file
    t.upsert(spark.createDataFrame(
        [Row(pk=1, part="a", val="upd1", update_ts=ts(11))]
    ))
    t.delete_dv(spark.createDataFrame([Row(pk=3)]))  # part b untouched by CoW
    out = {
        (r["pk"], r["_change_type"])
        for r in t.diff_commits(spark, c0).collect()
    }
    assert out == {(1, "update"), (3, "delete")}


def test_partition_scoped_delete(spark, tmp_path):
    """r12: under key_scope='partition', a delete frame CARRYING the
    partition columns removes only those (partition, key) rows — the
    shared key's row in the other partition survives — for both the
    CoW delete and the DV twin; a bare-key frame keeps the
    global-delete behavior."""
    t = KeyedTable(str(tmp_path / "t"), key="pk",
                   precombine="update_ts", partition_by="part",
                   key_scope="partition")
    rows = [Row(pk=1, part="a", val="a1", update_ts=ts(10)),
            Row(pk=1, part="b", val="b1", update_ts=ts(10)),
            Row(pk=2, part="a", val="a2", update_ts=ts(10)),
            Row(pk=2, part="b", val="b2", update_ts=ts(10)),
            Row(pk=3, part="a", val="a3", update_ts=ts(10))]
    t.bulk_insert(spark.createDataFrame(rows))
    # scoped CoW delete: only (1, a) goes
    t.delete(spark.createDataFrame([Row(pk=1, part="a")]))
    left = {(r["pk"], r["part"]) for r in t.read(spark).collect()}
    assert left == {(1, "b"), (2, "a"), (2, "b"), (3, "a")}
    # scoped DV delete: only (2, b) goes
    t.delete_dv(spark.createDataFrame([Row(pk=2, part="b")]))
    left = {(r["pk"], r["part"]) for r in t.read(spark).collect()}
    assert left == {(1, "b"), (2, "a"), (3, "a")}
    # bare-key delete stays global: pk 2 goes everywhere it lives
    t.delete(spark.createDataFrame([Row(pk=2)]))
    left = {(r["pk"], r["part"]) for r in t.read(spark).collect()}
    assert left == {(1, "b"), (3, "a")}


def test_delete_scope_explicit_flag(spark, tmp_path):
    """r13 (ADVICE r12): ``scoped`` makes the partition-scope trigger
    EXPLICIT — ``scoped=False`` forces global semantics from a frame
    of FULL ROWS (the common caller shape that auto-detect would
    silently scope), ``scoped=True`` refuses a frame lacking the
    partition columns, and a key list is always global."""
    import pytest as _pytest

    t = KeyedTable(str(tmp_path / "t"), key="pk",
                   precombine="update_ts", partition_by="part",
                   key_scope="partition")
    rows = [Row(pk=1, part="a", val="a1", update_ts=ts(10)),
            Row(pk=1, part="b", val="b1", update_ts=ts(10)),
            Row(pk=2, part="a", val="a2", update_ts=ts(10)),
            Row(pk=2, part="b", val="b2", update_ts=ts(10)),
            Row(pk=3, part="a", val="a3", update_ts=ts(10))]
    t.bulk_insert(spark.createDataFrame(rows))
    # full-row frame + scoped=False → pk 1 dies in BOTH partitions
    # (auto-detect would have deleted only (1, a))
    t.delete(
        spark.createDataFrame([rows[0]]), scoped=False
    )
    left = {(r["pk"], r["part"]) for r in t.read(spark).collect()}
    assert left == {(2, "a"), (2, "b"), (3, "a")}
    # DV twin honors the same flag
    t.delete_dv(
        spark.createDataFrame([Row(pk=2, part="a", val="a2",
                                   update_ts=ts(10))]),
        scoped=False,
    )
    left = {(r["pk"], r["part"]) for r in t.read(spark).collect()}
    assert left == {(3, "a")}
    # scoped=True without the partition columns refuses loudly
    with _pytest.raises(ValueError, match="identity column"):
        t.delete(spark.createDataFrame([Row(pk=3)]), scoped=True)
    with _pytest.raises(ValueError, match="always global"):
        t.delete_dv([3], scoped=True)
    assert {(r["pk"], r["part"]) for r in t.read(spark).collect()} \
        == {(3, "a")}


def test_unsafe_duplicate_keys_routes_unpruned_diff(
    spark, tmp_path, monkeypatch
):
    """r13 (ADVICE r12): diff classification assumes unique row
    identity; a bulk load declaring ``unique_keys=False`` plants a
    STICKY flag that (a) survives later DML and (b) routes
    diff_commits to the unpruned snapshot scan — the changed-file
    pruning's net-zero argument needs the invariant.
    ``validate_unique_keys`` audits the live table."""
    from hudi_glue_spark.table import manifest as M

    t = KeyedTable(str(tmp_path / "t"), key="pk",
                   precombine="update_ts", partition_by="part")
    dup = spark.createDataFrame(
        [Row(pk=1, part="a", val="x", update_ts=ts(10)),
         Row(pk=1, part="a", val="y", update_ts=ts(11)),
         Row(pk=2, part="b", val="z", update_ts=ts(10))]
    )
    c0 = t.bulk_insert(dup, unique_keys=False)
    assert t.validate_unique_keys(spark) == 1  # pk=1 twice
    assert (M.read_manifest(t.path, c0).stats or {})[
        "unsafe_duplicate_keys"
    ]
    # sticky across unrelated DML
    t.upsert(spark.createDataFrame(
        [Row(pk=3, part="b", val="w", update_ts=ts(12))]))
    head = t.commits()[-1]
    assert (M.read_manifest(t.path, head).stats or {}).get(
        "unsafe_duplicate_keys"
    )
    # the diff reads FULL file lists on both sides, never a pruned
    # subset (spy on _read_pruned's keep argument)
    calls = []
    orig = KeyedTable._read_pruned

    def spy(self, spark_, man, keep, schema):
        calls.append((man.commit_id, len(list(keep)), len(man.files)))
        return orig(self, spark_, man, keep, schema)

    monkeypatch.setattr(KeyedTable, "_read_pruned", spy)
    t.diff_commits(spark, c0).collect()
    monkeypatch.undo()
    assert calls and all(kept == total for _, kept, total in calls)
    # a clean table (no declaration) still prunes: the carried file
    # of the untouched partition stays out of the diff
    t2 = KeyedTable(str(tmp_path / "t2"), key="pk",
                    precombine="update_ts", partition_by="part")
    c0b = t2.bulk_insert(spark.createDataFrame(
        [Row(pk=1, part="a", val="x", update_ts=ts(10)),
         Row(pk=2, part="b", val="z", update_ts=ts(10))]))
    t2.upsert(spark.createDataFrame(
        [Row(pk=3, part="b", val="w", update_ts=ts(12))]))
    calls2 = []

    def spy2(self, spark_, man, keep, schema):
        calls2.append((len(list(keep)), len(man.files)))
        return orig(self, spark_, man, keep, schema)

    monkeypatch.setattr(KeyedTable, "_read_pruned", spy2)
    t2.diff_commits(spark, c0b).collect()
    monkeypatch.undo()
    assert any(kept < total for kept, total in calls2), calls2


def test_merge_into_partition_key_scope_identity(spark, tmp_path):
    """r12: merge_into matches on the row identity — a source row for
    (key, partition a) must not touch the shared key's row in
    partition b (previously the bare-key full-outer join
    cross-matched them)."""
    t = KeyedTable(str(tmp_path / "t"), key="pk",
                   precombine="update_ts", partition_by="part",
                   key_scope="partition")
    t.bulk_insert(spark.createDataFrame(
        [Row(pk=1, part="a", val="a1", update_ts=ts(10)),
         Row(pk=1, part="b", val="b1", update_ts=ts(10)),
         Row(pk=2, part="a", val="a2", update_ts=ts(10))]))
    t.merge_into(spark.createDataFrame(
        [Row(pk=1, part="a", val="a1x", update_ts=ts(11)),
         Row(pk=3, part="b", val="b3", update_ts=ts(11))]))
    got = {(r["pk"], r["part"], r["val"]) for r in t.read(spark).collect()}
    assert got == {
        (1, "a", "a1x"),   # matched in a, updated
        (1, "b", "b1"),    # same key, other partition: UNTOUCHED
        (2, "a", "a2"),
        (3, "b", "b3"),    # not-matched insert
    }


def test_diff_commits_partition_key_scope_identity(spark, tmp_path):
    """r12 fix: under key_scope='partition' row identity is
    (partition, key) — the diff classification and the composed-diff
    windows key on it. Previously the join on the bare key
    cross-joined a shared key's rows across partitions and LOST
    updates (two-partition update of the same key returned one row).
    Covers the general path (non-chlog) and the composition (chlog),
    plus within-batch precombine keeping one row per (partition,
    key)."""
    for chlog in (False, True):
        t = KeyedTable(str(tmp_path / f"t{int(chlog)}"), key="pk",
                       precombine="update_ts", partition_by="part",
                       key_scope="partition", change_log=chlog)
        c0 = t.bulk_insert(spark.createDataFrame(
            [Row(pk=1, part="a", val="a1", update_ts=ts(10)),
             Row(pk=1, part="b", val="b1", update_ts=ts(10)),
             Row(pk=2, part="a", val="a2", update_ts=ts(10))]))
        # ONE batch carries the same key in both partitions: precombine
        # must keep both rows (identity = partition+key)
        t.upsert(spark.createDataFrame(
            [Row(pk=1, part="a", val="a1x", update_ts=ts(11)),
             Row(pk=1, part="b", val="b1x", update_ts=ts(11))]))
        got = {(r["pk"], r["part"], r["val"], r["_change_type"])
               for r in t.diff_commits(spark, c0).collect()}
        assert got == {
            (1, "a", "a1x", "update"),
            (1, "b", "b1x", "update"),
        }, (chlog, got)
        if chlog:
            assert t._diff_chlog_fast(
                spark, c0, t.commits()[-1], "post"
            ) is not None


def test_diff_commits_composes_mixed_chlog_and_dv(spark, tmp_path):
    """r12: DV commits inside a chlog range SYNTHESIZE their event
    frame (newly-dead positions → delete events with positioned
    pre-images, new files → inserts) instead of killing the
    composition — the realistic mixed workload (bulk CoW merges + DV
    point deletes) keeps the O(changed keys) diff. Net-out cases
    cross families: a key CoW-updated then dv-deleted nets one delete
    with its ORIGINAL pre-image; a dv-upserted key then CoW-deleted
    nets the same way."""
    t = KeyedTable(str(tmp_path / "t"), key="pk",
                   precombine="update_ts", partition_by="part",
                   change_log=True)
    c0 = t.bulk_insert(day0(spark))            # pks 1-4
    t.upsert(day1(spark))                      # CoW: upd 1, move 2, new 5
    t.delete_dv(spark.createDataFrame([Row(pk=1)]))   # DV delete of a CoW-updated key
    t.upsert_dv(spark.createDataFrame(         # DV: update 3, new 6
        [Row(pk=3, part="b", val="dv3", update_ts=ts(12)),
         Row(pk=6, part="c", val="new6", update_ts=ts(12))]))
    t.delete(spark.createDataFrame([Row(pk=6)]))      # CoW delete of a DV-inserted key
    fast = t._diff_chlog_fast(spark, c0, t.commits()[-1], "post")
    assert fast is not None, "mixed range must compose"
    general = t._classify_diff(
        t.read(spark, at=c0), t.read(spark), "post"
    )
    got = {(r["pk"], r["_change_type"], r["val"])
           for r in t.diff_commits(spark, c0).collect()}
    want = {(r["pk"], r["_change_type"], r["val"])
            for r in general.collect()}
    assert got == want
    assert got == {
        (1, "delete", "init1"),   # CoW-update then dv-delete → original pre
        (2, "update", "upd2"),
        (3, "update", "dv3"),
        (5, "insert", "new5"),
    }  # pk=6 dv-inserted then CoW-deleted → nets to NOTHING
    g_both = {
        tuple(r)
        for r in t._classify_diff(
            t.read(spark, at=c0), t.read(spark), "both"
        ).collect()
    }
    f_both = {
        tuple(r)
        for r in t._diff_chlog_fast(
            spark, c0, t.commits()[-1], "both"
        ).collect()
    }
    assert f_both == g_both


def test_diff_commits_composes_recorded_change_logs(spark, tmp_path):
    """r11 change_log tables: diff_commits composes the range's
    RECORDED write-time deltas (O(changed keys)) instead of the
    full-outer snapshot diff — identical classification, including
    the net-out cases: insert-then-delete vanishes, update-then-
    delete carries the ORIGINAL pre-image, chained updates collapse
    to one update with the final post-image."""
    from pyspark.sql import functions as F

    t = KeyedTable(str(tmp_path / "t"), key="pk",
                   precombine="update_ts", partition_by="part",
                   change_log=True)
    c0 = t.bulk_insert(day0(spark))     # pks 1-4
    t.upsert(day1(spark))               # upd 1, move 2, new 5
    t.upsert(spark.createDataFrame(     # chain: update 1 AGAIN; new 6
        [Row(pk=1, part="a", val="upd1b", update_ts=ts(12)),
         Row(pk=6, part="b", val="new6", update_ts=ts(12))]))
    t.delete(spark.createDataFrame([Row(pk=4), Row(pk=6)]))
    t.update_where(spark, {"val": "'pred3'"}, "pk = 3")
    # the fast path engages (every commit in range carries a log)...
    fast = t._diff_chlog_fast(spark, c0, t.commits()[-1], "post")
    assert fast is not None
    # ...and diff_commits (which routes through it) matches the
    # general snapshot diff exactly, both image modes
    general = t._classify_diff(
        t.read(spark, at=c0), t.read(spark), "post"
    )
    got = {(r["pk"], r["_change_type"], r["val"])
           for r in t.diff_commits(spark, c0).collect()}
    want = {(r["pk"], r["_change_type"], r["val"])
            for r in general.collect()}
    assert got == want
    assert got == {
        (1, "update", "upd1b"),   # chained updates → final post
        (2, "update", "upd2"),
        (3, "update", "pred3"),
        (4, "delete", "init4"),   # pre-image at c0
        (5, "insert", "new5"),
    }  # pk=6 inserted then deleted → nets to NOTHING
    both = t.diff_commits(spark, c0, images="both")
    pre1 = both.filter(
        (F.col("pk") == 1)
        & (F.col("_change_type") == "update_preimage")
    ).first()
    assert pre1["val"] == "init1"  # pre-image is the c0 row, not upd1
    # a non-chlog commit in range → honest fallback to the general
    # diff (rollback commits never carry a usable log)
    t.rollback(t.commits()[-2])
    assert t._diff_chlog_fast(spark, c0, t.commits()[-1], "post") is None
    assert {
        (r["pk"], r["_change_type"])
        for r in t.diff_commits(spark, c0).collect()
    } == {(1, "update"), (2, "update"), (4, "delete"), (5, "insert")}


def test_fold_change_logs_degrades_to_general_diff(spark, tmp_path):
    """§9h#2 / VERDICT r11 #4: folding old recorded deltas bounds the
    _changes/ byte growth; a post-fold diff_commits over the folded
    range returns the SAME answer via the general snapshot diff
    (_diff_chlog_fast honestly refuses), and the stream planner falls
    through to the gate/coarse path instead of raising on the missing
    dir. run_maintenance applies the policy for change_log tables."""
    import os

    from hudi_glue_spark.table import manifest as M

    t = KeyedTable(str(tmp_path / "t"), key="pk",
                   precombine="update_ts", partition_by="part",
                   change_log=True)
    c0 = t.bulk_insert(day0(spark))     # pks 1-4
    t.upsert(day1(spark))               # upd 1, move 2, new 5
    t.delete(spark.createDataFrame([Row(pk=4)]))
    t.update_where(spark, {"val": "'pred3'"}, "pk = 3")
    pre_fold = {(r["pk"], r["_change_type"], r["val"])
                for r in t.diff_commits(spark, c0).collect()}
    refs = [
        ((M.read_manifest(t.path, c).stats or {})
         .get("change_log") or {}).get("ref")
        for c in t.commits()
    ]
    live = [r for r in refs if r]
    assert len(live) == 3
    # keep only the newest commit's log: the two older dirs fold away
    folded = t.fold_change_logs(keep_last=1)
    assert sorted(folded) == sorted(live[:-1])
    chdir = os.path.join(t.path, "_changes")
    assert sorted(os.listdir(chdir)) == sorted(live[-1:])
    # the composed fast path refuses (a log in range is gone) ...
    assert t._diff_chlog_fast(spark, c0, t.commits()[-1], "post") is None
    # ... and diff_commits still answers exactly via the general path
    post_fold = {(r["pk"], r["_change_type"], r["val"])
                 for r in t.diff_commits(spark, c0).collect()}
    assert post_fold == pre_fold
    # idempotent; a range ending before the fold horizon also works
    assert t.fold_change_logs(keep_last=1) == []
    # run_maintenance applies the policy: whatever remains under
    # _changes/ is referenced by the last commit alone (an optimize
    # landing inside the pass is a silent op and carries no log)
    t.upsert(day1(spark))
    summary = t.run_maintenance(
        spark, retain_commits=50, chlog_keep_commits=1
    )
    assert summary.get("folded_change_logs", 0) >= 1
    allowed = {
        ((M.read_manifest(t.path, t.commits()[-1]).stats or {})
         .get("change_log") or {}).get("ref")
    } - {None}
    assert set(os.listdir(chdir)) <= allowed


def test_fold_change_logs_bytes_target(spark, tmp_path):
    """§9j#5: ``max_bytes`` is a storage SLO on _changes/ — surviving
    logs fold OLDEST-FIRST until the total is under the target, the
    SLO winning over keep_last; correctness degrades honestly to the
    general diff exactly as count-based folding does."""
    import os

    from hudi_glue_spark.table import manifest as M

    t = KeyedTable(str(tmp_path / "t"), key="pk",
                   precombine="update_ts", partition_by="part",
                   change_log=True)
    c0 = t.bulk_insert(day0(spark))
    t.upsert(day1(spark))
    t.delete(spark.createDataFrame([Row(pk=4)]))
    t.update_where(spark, {"val": "'pred3'"}, "pk = 3")
    pre_fold = {(r["pk"], r["_change_type"], r["val"])
                for r in t.diff_commits(spark, c0).collect()}
    chdir = os.path.join(t.path, "_changes")

    def size_of(ref):
        p = os.path.join(chdir, ref)
        return sum(
            os.path.getsize(os.path.join(dp, fn))
            for dp, _d, fns in os.walk(p)
            for fn in fns
        )

    refs = [r for r in (
        ((M.read_manifest(t.path, c).stats or {})
         .get("change_log") or {}).get("ref")
        for c in t.commits()
    ) if r]
    assert len(refs) == 3
    sizes = {r: size_of(r) for r in refs}
    total = sum(sizes.values())
    # target admits everything → nothing folds
    assert t.fold_change_logs(keep_last=10, max_bytes=total) == []
    # target forces exactly the OLDEST log out (keep_last would keep it)
    target = total - 1
    folded = t.fold_change_logs(keep_last=10, max_bytes=target)
    assert folded == [refs[0]]
    assert sum(size_of(r) for r in refs[1:]) <= target
    # SLO of 0 folds every surviving log, newest included
    folded2 = t.fold_change_logs(keep_last=10, max_bytes=0)
    assert sorted(folded2) == sorted(refs[1:])
    assert os.listdir(chdir) == []
    # post-fold the answer is unchanged via the general snapshot diff
    assert t._diff_chlog_fast(spark, c0, t.commits()[-1], "post") is None
    post_fold = {(r["pk"], r["_change_type"], r["val"])
                 for r in t.diff_commits(spark, c0).collect()}
    assert post_fold == pre_fold
    # run_maintenance plumbs the knob
    t.upsert(day1(spark))
    summary = t.run_maintenance(
        spark, retain_commits=50, chlog_keep_commits=50,
        chlog_max_bytes=0,
    )
    assert summary.get("folded_change_logs", 0) >= 1
    assert os.listdir(chdir) == []


def test_fold_change_logs_sweeps_aged_orphans(spark, tmp_path):
    """r13 (ADVICE r12): the byte SLO must govern EVERYTHING under
    ``_changes/`` — tokens referenced by no commit (lost races,
    rolled-back commits) are dead storage, swept before referenced
    logs fold; a FRESH unreferenced dir (a rival's just-staged delta
    whose commit publishes moments later) survives the grace."""
    import os

    t = KeyedTable(str(tmp_path / "t"), key="pk",
                   precombine="update_ts", partition_by="part",
                   change_log=True)
    t.bulk_insert(day0(spark))
    t.upsert(day1(spark))
    chdir = os.path.join(t.path, "_changes")
    aged = os.path.join(chdir, "deadbeef00000000")
    fresh = os.path.join(chdir, "cafebabe00000000")
    for p in (aged, fresh):
        os.makedirs(p)
        with open(os.path.join(p, "part-0.parquet"), "wb") as fh:
            fh.write(b"x" * 4096)
    os.utime(aged, (os.path.getmtime(aged) - 3600,) * 2)
    referenced = set(os.listdir(chdir)) - {
        os.path.basename(aged), os.path.basename(fresh)
    }
    folded = t.fold_change_logs(keep_last=10, max_bytes=None)
    assert os.path.basename(aged) in folded
    assert not os.path.isdir(aged)  # dead bytes reclaimed
    assert os.path.isdir(fresh)     # in-flight rival honored
    assert referenced <= set(os.listdir(chdir))  # real logs untouched
    # with the orphan gone, a byte target admitting the referenced
    # total folds nothing further (the SLO no longer over-reports)
    total = sum(
        os.path.getsize(os.path.join(dp, fn))
        for ref in referenced
        for dp, _d, fns in os.walk(os.path.join(chdir, ref))
        for fn in fns
    )
    assert t.fold_change_logs(
        keep_last=10, max_bytes=total, orphan_grace_s=7200
    ) == []


def test_rollback_metadata_only(spark, tmp_path):
    t = KeyedTable(str(tmp_path / "t"), key="pk", precombine="update_ts",
                   partition_by="part")
    c0 = t.bulk_insert(day0(spark))
    t.upsert(day1(spark))
    assert t.read(spark).count() == 5
    rb = t.rollback(c0)
    assert t.read(spark).count() == 4
    assert snapshot(t, spark)[1] == ("a", "init1")
    # the undone state is still reachable by time travel
    assert t.read(spark, at=t.commits()[1]).count() == 5
    # and rollback itself is a commit (audit trail)
    assert rb == t.commits()[-1]


def test_missing_columns_clear_error(spark, tmp_path):
    t = KeyedTable(str(tmp_path / "t"), key="pk", precombine="update_ts",
                   partition_by="part")
    bad = spark.createDataFrame([Row(pk=1, val="x")])  # no update_ts/part
    with pytest.raises(ValueError, match="missing required column"):
        ingest(t, bad)


def test_validate_integrity(spark, tmp_path):
    import os
    t = KeyedTable(str(tmp_path / "t"), key="pk", precombine="update_ts",
                   partition_by="part")
    ingest(t, day0(spark))
    ingest(t, day1(spark))
    assert t.validate() == []
    # break it: remove a referenced file
    from hudi_glue_spark.table import manifest as M
    victim = M.read_manifest(t.path).files[0]
    os.unlink(os.path.join(M.data_dir(t.path), victim))
    assert any("missing file" in p for p in t.validate())


def test_upsert_widens_int_and_float(spark, tmp_path):
    """A batch with wider numerics (int→long, float→double) widens the
    COMMITTED schema; files written before the widening keep the narrow
    physical type and are upcast by the reader in place — the untouched
    partition's file is NOT rewritten."""
    from hudi_glue_spark.table import manifest as M

    t = KeyedTable(str(tmp_path / "t"), key="pk", precombine="update_ts",
                   partition_by="part")
    narrow = spark.createDataFrame(
        [
            Row(pk=1, part="a", n=1, x=1.5, update_ts=ts(10)),
            Row(pk=3, part="b", n=3, x=3.5, update_ts=ts(10)),
        ]
    ).select("pk", "part", F_col("n").cast("int").alias("n"),
             F_col("x").cast("float").alias("x"), "update_ts")
    ingest(t, narrow)
    files_before = set(M.read_manifest(t.path).files)

    wide = spark.createDataFrame(
        [Row(pk=1, part="a", n=2**40, x=2.25, update_ts=ts(11))]
    ).select("pk", "part", F_col("n").cast("long").alias("n"),
             F_col("x").cast("double").alias("x"), "update_ts")
    ingest(t, wide)

    snap = t.read(spark)
    assert snap.schema["n"].dataType.typeName() == "long"
    assert snap.schema["x"].dataType.typeName() == "double"
    got = {r.pk: (r.n, r.x) for r in snap.collect()}
    assert got == {1: (2**40, 2.25), 3: (3, 3.5)}
    # partition b untouched: its narrow file carried forward verbatim
    files_after = set(M.read_manifest(t.path).files)
    assert any(f in files_after for f in files_before if f.startswith("part=b"))


def test_drop_column_metadata_only_and_retired(spark, tmp_path):
    """drop_columns rewrites nothing (same file list), prunes the column
    from reads, survives a later upsert, and refuses resurrection."""
    from hudi_glue_spark.table import manifest as M

    t = KeyedTable(str(tmp_path / "t"), key="pk", precombine="update_ts",
                   partition_by="part")
    ingest(t, day0(spark).withColumn("tag", F_col("val")))
    before = M.read_manifest(t.path).files
    t.drop_columns(["tag"])
    man = M.read_manifest(t.path)
    assert man.files == before  # zero files rewritten
    assert "tag" not in t.read(spark).columns

    # later upsert keeps the column dropped
    ingest(t, day1(spark))
    assert "tag" not in t.read(spark).columns
    # resurrection refused
    with pytest.raises(ValueError, match="re-add dropped"):
        t.upsert(day1(spark).withColumn("tag", F_col("val")))
    # protected columns refused
    with pytest.raises(ValueError, match="key/precombine/partition"):
        t.drop_columns(["pk"])


def test_time_travel_sees_pre_drop_and_pre_widen_schema(spark, tmp_path):
    """Time-travel reads use the schema committed AT that commit: the
    dropped column reappears, the widened column reads narrow."""
    t = KeyedTable(str(tmp_path / "t"), key="pk", precombine="update_ts",
                   partition_by="part")
    ingest(t, day0(spark).withColumn("tag", F_col("val")))
    first = t.commits()[-1]
    t.drop_columns(["tag"])
    old = t.read(spark, at=first)
    assert "tag" in old.columns
    assert {r.tag for r in old.collect()} == {"init1", "init2", "init3", "init4"}


def test_insert_overwrite_replaces_only_batch_partitions(spark, tmp_path):
    """insert_overwrite: partitions in the batch hold EXACTLY the batch
    rows (no merge — a key absent from the batch disappears); untouched
    partitions carry their files forward verbatim."""
    from hudi_glue_spark.table import manifest as M

    t = KeyedTable(str(tmp_path / "t"), key="pk", precombine="update_ts",
                   partition_by="part")
    ingest(t, day0(spark))  # pk 1,2 in a; 3,4 in b
    b_files = {f for f in M.read_manifest(t.path).files if f.startswith("part=b")}

    batch = spark.createDataFrame(
        [Row(pk=9, part="a", val="fresh9", update_ts=ts(12))]
    )
    t.insert_overwrite(batch)

    got = {(r.pk, r.part, r.val) for r in t.read(spark).collect()}
    assert got == {(9, "a", "fresh9"), (3, "b", "init3"), (4, "b", "init4")}
    man = M.read_manifest(t.path)
    assert man.op == "insert_overwrite"
    assert b_files <= set(man.files)  # b untouched, carried forward
    assert man.stats["partitions_rewritten"] == ["part=a"]


def test_bloom_point_lookup_prunes_files_no_false_negatives(spark, tmp_path):
    """key_bloom tables: a point lookup opens a strict subset of files,
    every present key is found (no false negatives, per construction),
    and clean() keeps live sidecars while dropping orphaned ones."""
    import os

    from hudi_glue_spark.table import bloom as B
    from hudi_glue_spark.table import manifest as M

    t = KeyedTable(str(tmp_path / "t"), key="pk", precombine="update_ts",
                   partition_by="part", key_bloom=True)
    rows = [
        Row(pk=i, part=f"p{i % 8}", val=f"v{i}", update_ts=ts(10))
        for i in range(400)
    ]
    ingest(t, spark.createDataFrame(rows))

    man = M.read_manifest(t.path)
    ddir = M.data_dir(t.path)
    assert all(
        os.path.exists(B.sidecar_path(os.path.join(ddir, f)))
        for f in man.files
    )
    # pruning: one key lives in exactly one partition's file(s)
    keep = t.files_with_keys([17])
    assert 0 < len(keep) < len(man.files)
    got = {r.pk: r.val for r in t.read_keys(spark, [17, 399, 999999]).collect()}
    assert got == {17: "v17", 399: "v399"}  # absent key absent, no FN
    # every key findable (no false negatives across the whole table)
    assert all(t.files_with_keys([i]) for i in range(0, 400, 37))

    # rewrite partition p0 → old p0 file becomes orphaned after clean
    t.upsert(spark.createDataFrame([Row(pk=0, part="p0", val="new0",
                                        update_ts=ts(11))]))
    t.clean(retain_commits=1)
    man2 = M.read_manifest(t.path)
    on_disk = {
        os.path.relpath(os.path.join(dp, fn), ddir)
        for dp, _d, fns in os.walk(ddir) for fn in fns
        if fn.endswith(B.SIDECAR_SUFFIX)
    }
    assert on_disk == {
        os.path.relpath(B.sidecar_path(os.path.join(ddir, f)), ddir)
        for f in man2.files
    }
    assert {r.val for r in t.read_keys(spark, [0]).collect()} == {"new0"}


def test_bloom_vectorized_build_matches_scalar_reference():
    """The numpy build must stay bit-identical to the definitional
    per-key construction ((h1 + i*h2) % m over unbounded ints) — the
    read side deserializes old sidecars, so the layout is a contract."""
    import base64

    from hudi_glue_spark.table import bloom as B

    def build_scalar(keys):
        m = max(1024, len(keys) * B.BITS_PER_KEY)
        arr = bytearray((m + 7) // 8)
        for key in keys:
            h1, h2 = B._hash_pair(key)
            for i in range(B.NUM_PROBES):
                b = (h1 + i * h2) % m
                arr[b >> 3] |= 1 << (b & 7)
        return base64.b64encode(bytes(arr)).decode()

    keys = [f"k{i * 7919}" for i in range(5000)] + ["", "a|b", "雪", "0"]
    # the md5 family stays bit-identical to the definitional form —
    # it's what every pre-r16 persisted filter carries
    assert B.build(keys, kind="md5")["b64"] == build_scalar(keys)
    assert B.build([], kind="md5")["b64"] == build_scalar([])

    for kind in ("md5", B.BLOOM_HASH):
        b = B.build(keys, kind=kind)
        assert all(B.maybe_contains(b, k) for k in keys)
        assert B.contains_any(b, ["absent-1", keys[17]])
        assert not B.contains_any(b, [])


def test_bloom_hash_family_tag_roundtrip():
    """A filter probes correctly through every (de)serialization form
    regardless of hash family: the tag rides the JSON dict and the
    binary shard header, and a kind-less legacy blob reads as md5 —
    mixed-family probe sets hash once per family (ProbeHashes)."""
    from hudi_glue_spark.table import bloom as B

    keys = [f"key-{i}" for i in range(500)] + ["", "\0null", "a|b"]
    new = B.build(keys)  # poly1 default
    old = B.build(keys, kind="md5")
    assert new.get("h") == B.BLOOM_HASH and "h" not in old
    # binary roundtrip preserves the family
    for b in (new, old):
        rb = B.from_bytes(B.to_bytes(b))
        assert rb.get("h", "md5") == b.get("h", "md5")
        assert all(B.maybe_contains(rb, k) for k in keys)
    # one probe set against BOTH families — no false negatives either way
    want = B.hash_pairs(keys)
    assert B.contains_any_hashed(B.from_bytes(B.to_bytes(new)), want)
    assert B.contains_any_hashed(B.from_bytes(B.to_bytes(old)), want)
    # a legacy binary blob (pad=0 header) must read as md5
    legacy = B.to_bytes(old)
    assert B.from_bytes(legacy).get("h", "md5") == "md5"
    # bulk probe-side canonicalization is exact vs the per-value form
    import datetime
    import decimal

    for vals in (
        [1, 2, None, 3],
        ["a", None, "b|c", ""],
        [True, False, None],
        [1.5, 2.0, None],
        [decimal.Decimal("2.50"), None],
        [datetime.datetime(2024, 1, 1), None],
        [1, "mixed", None],
    ):
        assert B.key_strings_values(vals) == [
            B.key_string((v,)) for v in vals
        ]


def test_bloom_unknown_hash_family_refused(spark, tmp_path, monkeypatch):
    """A filter tagged with a hash-family code this reader does not know
    (a newer writer's) is refused — probing it with another family's
    hash would give silent false negatives."""
    import struct

    from hudi_glue_spark.table import bloom as B

    raw = B.to_bytes(B.build(["a", "b"]))
    bad = raw[:6] + struct.pack("<H", 7) + raw[8:]
    with pytest.raises(ValueError, match="unknown bloom hash family code 7"):
        B.from_bytes(bad)

    # end to end: a table whose manifest shards carry code-7 filters
    # refuses the bloom-pruned key read
    monkeypatch.setitem(B._KIND_CODE, B.BLOOM_HASH, 7)
    t = KeyedTable(str(tmp_path / "t"), key="pk", precombine="update_ts",
                   partition_by="part", key_bloom=True)
    ingest(t, day0(spark))
    monkeypatch.setitem(B._KIND_CODE, B.BLOOM_HASH, 1)
    with pytest.raises(ValueError, match="unknown bloom hash family code 7"):
        t.read_keys(spark, [1]).collect()


def test_bloom_poly_no_false_negatives_property():
    """Same property as the md5 family, for the poly1 family."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from hudi_glue_spark.table import bloom as B

    @settings(max_examples=200, deadline=None)
    @given(st.lists(st.text(max_size=40), max_size=120))
    def prop(keys):
        b = B.build(keys, kind="poly1")
        assert all(B.maybe_contains(b, k) for k in keys)
        if keys:
            assert B.contains_any(b, keys)

    prop()


def test_bloom_no_false_negatives_property():
    """Hypothesis: for ANY key set (arbitrary unicode, dups, empties),
    every inserted key probes positive — false negatives are impossible
    by construction, which is what lets read_keys prune files safely."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from hudi_glue_spark.table import bloom as B

    @settings(max_examples=200, deadline=None)
    @given(st.lists(st.text(max_size=40), max_size=120))
    def prop(keys):
        b = B.build(keys)
        assert all(B.maybe_contains(b, k) for k in keys)
        if keys:
            assert B.contains_any(b, keys)
            assert B.contains_any(b, ["definitely-absent-xyz"] + keys[:1])

    prop()


class TestPredicateDML:
    def _table(self, spark, tmp_path):
        t = KeyedTable(str(tmp_path / "t"), key="pk", precombine="update_ts",
                       partition_by="part")
        rows = [Row(pk=i, part=f"p{i % 3}", val=float(i), tag="x" if i % 2 else None,
                    update_ts=ts(10)) for i in range(30)]
        ingest(t, spark.createDataFrame(rows))
        return t

    def test_update_where_rewrites_only_touched_partitions(self, spark, tmp_path):
        from hudi_glue_spark.table import manifest as M

        t = self._table(spark, tmp_path)
        before = M.read_manifest(t.path).files
        t.update_where(spark, {"val": "val + 1000.0D"}, "part = 'p1'")
        after = M.read_manifest(t.path)
        got = {r.pk: r.val for r in t.read(spark).collect()}
        assert all(got[i] == i + 1000 for i in range(30) if i % 3 == 1)
        assert all(got[i] == i for i in range(30) if i % 3 != 1)
        # p0/p2 files carried forward untouched, only p1 rewritten
        untouched = {f for f in before if not f.startswith("part=p1")}
        assert untouched <= set(after.files)
        assert after.stats["partitions_rewritten"] == ["part=p1"]

    def test_update_where_rejects_key_and_partition_columns(self, spark, tmp_path):
        t = self._table(spark, tmp_path)
        with pytest.raises(ValueError, match="key/partition"):
            t.update_where(spark, {"pk": "pk + 1"}, "true")
        with pytest.raises(ValueError, match="key/partition"):
            t.update_where(spark, {"part": "'p9'"}, "true")

    def test_delete_where_null_predicate_keeps_row(self, spark, tmp_path):
        t = self._table(spark, tmp_path)
        # tag IS NULL for even pk → predicate NULL → row kept (3VL)
        t.delete_where(spark, "tag = 'x'")
        kept = {r.pk for r in t.read(spark).collect()}
        assert kept == {i for i in range(30) if i % 2 == 0}

    def test_no_match_is_a_noop_commit_wise(self, spark, tmp_path):
        t = self._table(spark, tmp_path)
        n = len(t.commits())
        assert t.delete_where(spark, "val > 1e9") == t.commits()[-1]
        assert t.update_where(spark, {"val": "0.0D"}, "val > 1e9") == t.commits()[-1]
        assert len(t.commits()) == n

    def test_sequencing_update_then_delete(self, spark, tmp_path):
        t = self._table(spark, tmp_path)
        t.update_where(spark, {"val": "val * 10.0D"}, "part = 'p0'")
        t.delete_where(spark, "val >= 100.0D")
        got = {r.pk: r.val for r in t.read(spark).collect()}
        # p0: val*10 >= 100 → pk 12,15,... deleted; pk 0,3,6,9 kept scaled
        assert {p for p in got if p % 3 == 0} == {0, 3, 6, 9}
        assert got[9] == 90.0
        # non-p0 rows all < 100 → all kept, unscaled
        assert all(got[i] == i for i in got if i % 3 != 0)


def test_bloom_reader_honors_stored_probe_count():
    """A sidecar written under a different NUM_PROBES must keep its
    no-false-negative guarantee: the reader probes with the filter's
    OWN stored k, never the current build constant."""
    import base64

    from hudi_glue_spark.table import bloom as B

    keys = [f"k{i}" for i in range(500)]
    k_old = 3
    m = max(1024, len(keys) * B.BITS_PER_KEY)
    arr = bytearray((m + 7) // 8)
    for key in keys:
        h1, h2 = B._hash_pair(key)
        for i in range(k_old):
            b = (h1 + i * h2) % m
            arr[b >> 3] |= 1 << (b & 7)
    old_sidecar = {"m": m, "k": k_old, "n": len(keys),
                   "b64": base64.b64encode(bytes(arr)).decode()}
    assert all(B.maybe_contains(old_sidecar, k) for k in keys)
    assert B.contains_any(old_sidecar, ["absent"] + keys[:1])


def test_update_where_rejects_unknown_columns(spark, tmp_path):
    t = KeyedTable(str(tmp_path / "t"), key="pk", precombine="update_ts",
                   partition_by="part")
    rows = [Row(pk=i, part=f"p{i % 3}", val=float(i), update_ts=ts(10))
            for i in range(9)]
    ingest(t, spark.createDataFrame(rows))
    with pytest.raises(ValueError, match="unknown column"):
        t.update_where(spark, {"vall": "0.0D"}, "part = 'p1'")
    # even when the predicate matches nothing — a typo must never no-op
    with pytest.raises(ValueError, match="unknown column"):
        t.update_where(spark, {"vall": "0.0D"}, "val > 1e9")


def test_retired_columns_survive_clean(spark, tmp_path):
    """The retirement guard is durable: dropped_cols is carried forward
    into every later manifest's stats (retired_cols), so aging out the
    drop_columns commit via clean() cannot silently re-open the door to
    resurrecting stale pre-drop bytes (ADVICE r4, keyed_table.py:1098)."""
    t = KeyedTable(str(tmp_path / "t"), key="pk", precombine="update_ts",
                   partition_by="part")
    ingest(t, day0(spark).withColumn("tag", F_col("val")))
    t.drop_columns(["tag"])
    # push the drop commit out of the retained window
    for day in range(11, 16):
        t.upsert(spark.createDataFrame(
            [Row(pk=1, part="a", val=f"v{day}", update_ts=ts(day))]
        ))
    t.clean(retain_commits=2)
    assert len(t.commits()) == 2  # the drop_columns commit is GONE
    assert "tag" in t._retired_columns()
    with pytest.raises(ValueError, match="re-add dropped"):
        t.upsert(spark.createDataFrame(
            [Row(pk=1, part="a", val="x", update_ts=ts(20), tag="boo")]
        ))


def test_lsh_index_rebuild_after_ingest(spark, tmp_path):
    """build_lsh_index is re-runnable (the documented rebuild-after-
    ingest flow): a second build replaces the prior bucket columns
    instead of colliding with them (ADVICE r4, keyed_table.py:1213)."""
    import random

    rng = random.Random(7)
    rows = [Row(pk=i, part="a", update_ts=ts(10),
                embedding=[rng.uniform(-1, 1) for _ in range(8)])
            for i in range(40)]
    t = KeyedTable(str(tmp_path / "t"), key="pk", precombine="update_ts",
                   partition_by="part")
    ingest(t, spark.createDataFrame(rows))
    t.build_lsh_index(spark, "embedding", dim=8, n_planes=3, n_tables=4)

    # ingest → index MAINTAINED: the new row's buckets are computed
    # from the stored plane family and the registration is carried
    t.upsert(spark.createDataFrame(
        [Row(pk=100, part="a", update_ts=ts(11),
             embedding=[rng.uniform(-1, 1) for _ in range(8)])]
    ))
    assert t.vector_index() is not None
    got = t.read(spark).filter(F_col("pk") == 100).collect()[0]
    assert all(got[f"__lshb{i}"] is not None for i in range(4))

    # a rebuild still replaces the bucket columns without colliding
    t.build_lsh_index(spark, "embedding", dim=8, n_planes=3, n_tables=4)
    snap = t.read(spark)
    buckets = [c for c in snap.columns if c.startswith(t.LSH_BUCKET_PREFIX)]
    assert sorted(buckets) == [f"__lshb{i}" for i in range(4)]  # no dupes
    assert snap.count() == 41
    got = snap.filter(F_col("pk") == 100).collect()[0]
    assert all(got[c] is not None for c in buckets)
    assert t.vector_index() is not None


def test_bloom_key_canonicalization_no_false_negatives(spark, tmp_path):
    """Equal key values canonicalize identically across type
    representations (write side = pyarrow objects, probe side = caller
    values), so mixed-type probes cannot produce bloom false negatives
    (ADVICE r4, bloom.py:38)."""
    import decimal

    from hudi_glue_spark.table import bloom as B

    # unit level: the canonical forms collapse
    assert B.key_string((5,)) == B.key_string((5.0,))
    assert B.key_string((5,)) == B.key_string((decimal.Decimal("5.00"),))
    assert B.key_string((decimal.Decimal("2.50"),)) == B.key_string((2.5,))
    aware = datetime.datetime(2026, 1, 10, 12, 0,
                              tzinfo=datetime.timezone.utc)
    naive = datetime.datetime(2026, 1, 10, 12, 0)
    assert B.key_string((aware,)) == B.key_string((naive,))
    assert B.key_string((True,)) == B.key_string((1,))

    # end to end: long-typed key probed with float / Decimal values
    t = KeyedTable(str(tmp_path / "t"), key="pk", precombine="update_ts",
                   partition_by="part", key_bloom=True)
    rows = [Row(pk=i, part=f"p{i % 4}", val=f"v{i}", update_ts=ts(10))
            for i in range(100)]
    ingest(t, spark.createDataFrame(rows))
    assert t.files_with_keys([17.0])  # float probe of a long key
    assert t.files_with_keys([decimal.Decimal("17")])
    got = {r.pk for r in t.read_keys(spark, [17, 23]).collect()}
    assert got == {17, 23}


def test_validate_flags_sidecar_problems(spark, tmp_path):
    """validate() audits bloom sidecars: an orphaned sidecar (data file
    no longer referenced) and a live file missing its sidecar are both
    surfaced (ADVICE r4, keyed_table.py:359)."""
    import os

    from hudi_glue_spark.table import bloom as B
    from hudi_glue_spark.table import manifest as M

    t = KeyedTable(str(tmp_path / "t"), key="pk", precombine="update_ts",
                   partition_by="part", key_bloom=True)
    rows = [Row(pk=i, part=f"p{i % 2}", val=f"v{i}", update_ts=ts(10))
            for i in range(20)]
    ingest(t, spark.createDataFrame(rows))
    assert t.validate() == []

    ddir = M.data_dir(t.path)
    man = M.read_manifest(t.path)
    # plant an orphan sidecar + remove a live file's sidecar
    stray = os.path.join(ddir, "part=p0", "deadbeef.parquet" + B.SIDECAR_SUFFIX)
    with open(stray, "w") as f:
        f.write("{}")
    victim = sorted(man.files)[0]
    os.unlink(B.sidecar_path(os.path.join(ddir, victim)))

    problems = t.validate()
    assert any("orphan bloom sidecar" in p for p in problems)
    assert any(p == f"live file missing bloom sidecar: {victim}" for p in problems)


def test_diff_commits_pre_post_images(spark, tmp_path):
    """images='both' must emit exactly: 1 insert row (post-image),
    1 delete row (pre-image), and an update as a pre/post PAIR whose
    values are the old and new rows — the contract incremental view
    maintenance retracts against."""
    t = KeyedTable(str(tmp_path / "cdf"), key="k", precombine="v")
    t.bulk_insert(
        spark.createDataFrame(
            [Row(k=1, v=10.0), Row(k=2, v=20.0), Row(k=3, v=30.0)]
        )
    )
    c0 = t.commits()[0]
    # update k=2, insert k=4
    t.upsert(spark.createDataFrame([Row(k=2, v=25.0), Row(k=4, v=40.0)]))
    # delete k=3
    t.delete_where(spark, "k = 3")

    feed = {
        (r["_change_type"], r["k"]): r["v"]
        for r in t.diff_commits(spark, c0, images="both").collect()
    }
    assert feed == {
        ("insert", 4): 40.0,
        ("delete", 3): 30.0,
        ("update_preimage", 2): 20.0,
        ("update_postimage", 2): 25.0,
    }

    # default 'post' view unchanged: one row per change, post-image wins
    post = {
        (r["_change_type"], r["k"]): r["v"]
        for r in t.diff_commits(spark, c0).collect()
    }
    assert post == {
        ("insert", 4): 40.0,
        ("delete", 3): 30.0,
        ("update", 2): 25.0,
    }

    with pytest.raises(ValueError):
        t.diff_commits(spark, c0, images="neither")


def test_cdf_feed_reconstructs_any_aggregate(spark, tmp_path):
    """IVM invariant: for any commit sequence, applying the signed
    pre/post feed (+post, −pre) to the before-aggregate reproduces the
    after-aggregate — INCLUDING updates that move a row between groups
    (the case a post-image-only feed cannot retract correctly)."""
    import random

    from pyspark.sql import functions as F

    rnd = random.Random(7)
    rows = [
        Row(k=i, g=rnd.randint(0, 3), v=float(rnd.randint(1, 50)), ver=1)
        for i in range(40)
    ]
    t = KeyedTable(str(tmp_path / "cdfp"), key="k", precombine="ver")
    t.bulk_insert(spark.createDataFrame(rows))
    c0 = t.commits()[0]

    # updates move half the touched rows to a DIFFERENT group
    ups = [
        Row(k=i, g=(r.g + 2) % 4 if i % 2 else r.g, v=r.v + 100.0, ver=2)
        for i, r in enumerate(rows)
        if i % 3 == 0
    ]
    ins = [Row(k=100 + i, g=i % 4, v=7.0, ver=2) for i in range(10)]
    t.upsert(spark.createDataFrame(ups + ins))
    t.delete_where(spark, "k % 5 = 0")

    def agg(df):
        return {
            r["g"]: (r["n"], r["s"])
            for r in df.groupBy("g")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("v").cast("decimal(18,4)")).cast("double").alias("s"),
            )
            .collect()
        }

    before = agg(t.read(spark, at=c0))
    after = agg(t.read(spark))

    feed = t.diff_commits(spark, c0, images="both")
    pos = F.col("_change_type").isin("insert", "update_postimage")
    delta = {
        r["g"]: (r["dn"], r["ds"])
        for r in feed.groupBy("g")
        .agg(
            F.sum(F.when(pos, 1).otherwise(-1)).alias("dn"),
            F.sum(
                F.when(pos, F.col("v").cast("decimal(18,4)")).otherwise(
                    -F.col("v").cast("decimal(18,4)")
                )
            )
            .cast("double")
            .alias("ds"),
        )
        .collect()
    }
    for g in set(before) | set(after) | set(delta):
        bn, bs = before.get(g, (0, 0.0))
        dn, ds = delta.get(g, (0, 0.0))
        an, asum = after.get(g, (0, 0.0))
        assert bn + dn == an, g
        assert abs(bs + ds - asum) < 1e-9, g


def test_history_timeline(spark, tmp_path):
    t = KeyedTable(str(tmp_path / "h"), key="k", precombine="v")
    t.bulk_insert(spark.createDataFrame([Row(k=1, v=1.0), Row(k=2, v=2.0)]))
    t.upsert(spark.createDataFrame([Row(k=2, v=3.0), Row(k=5, v=5.0)]))
    t.delete_where(spark, "k = 1")
    h = t.history(spark).orderBy("seq").collect()
    assert [r["op"] for r in h] == ["bulk_insert", "upsert", "delete_where"]
    assert [r["seq"] for r in h] == [0, 1, 2]
    assert all(r["n_files"] >= 1 for r in h)
    assert h[0]["files_removed"] == 0 and h[0]["files_added"] == h[0]["n_files"]
    # metadata-only per-commit row counts ride along
    assert [r["n_rows"] for r in h] == [2, 3, 2]


def test_partition_evolution(spark, tmp_path):
    """change_partitioning rewrites into the new layout in one commit:
    data identical, later writes target the new directories, time
    travel to the old layout still works, and clean() drops it."""
    from hudi_glue_spark.table import manifest as M

    t = KeyedTable(
        str(tmp_path / "pe"), key="k", precombine="v", partition_by="a"
    )
    rows = [Row(k=i, a=f"a{i % 2}", b=f"b{i % 3}", v=float(i)) for i in range(30)]
    t.bulk_insert(spark.createDataFrame(rows))
    c0 = t.commits()[0]

    t.change_partitioning(spark, "b")
    assert t.partition_by == ["b"]
    man = M.read_manifest(t.path)
    assert all(f.startswith("b=") for f in man.files), man.files
    assert man.stats["previous_partition_by"] == ["a"]
    # reloading from disk sees the new layout
    assert KeyedTable.load(t.path).partition_by == ["b"]

    got = {r.k: (r.a, r.b, r.v) for r in t.read(spark).collect()}
    assert got == {r.k: (r.a, r.b, r.v) for r in rows}

    # post-migration upsert lands under the new scheme
    t.upsert(spark.createDataFrame([Row(k=1, a="a1", b="b1", v=100.0)]))
    newest = M.read_manifest(t.path)
    assert all(f.startswith("b=") for f in newest.files)
    assert t.read(spark).filter(F_col("k") == 1).collect()[0].v == 100.0

    # pre-migration snapshot still readable, then cleanable
    assert t.read(spark, at=c0).count() == 30
    t.clean(retain_commits=2)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        M.read_manifest(t.path, c0)


def test_rollback_across_partition_evolution_restores_layout(spark, tmp_path):
    """Rolling back over a change_partitioning commit must restore the
    OLD layout in table metadata — otherwise the next upsert scopes its
    partition rewrite against the wrong directory scheme and duplicates
    every carried-forward row."""
    t = KeyedTable(
        str(tmp_path / "rbpe"), key="k", precombine="v", partition_by="a"
    )
    rows = [Row(k=i, a=f"a{i % 2}", b=f"b{i % 3}", v=float(i)) for i in range(20)]
    t.bulk_insert(spark.createDataFrame(rows))
    c0 = t.commits()[0]
    t.change_partitioning(spark, "b")
    assert t.partition_by == ["b"]

    t.rollback(c0)
    assert t.partition_by == ["a"]
    assert KeyedTable.load(t.path).partition_by == ["a"]

    # the post-rollback upsert must NOT duplicate rows
    t.upsert(spark.createDataFrame([Row(k=3, a="a1", b="b0", v=99.0)]))
    out = t.read(spark)
    assert out.count() == 20
    assert out.filter(F_col("k") == 3).collect()[0].v == 99.0


def test_predicate_dml_index_carry(spark, tmp_path):
    """Predicate DML and the vector index: delete_where always carries
    the index (removing rows can't invalidate survivors' assignments);
    update_where carries it iff the SET doesn't touch the index's
    vector/assignment columns, and honestly drops it when it does."""
    import random

    from hudi_glue_spark.operators import similarity as S

    rng = random.Random(11)
    rows = [
        Row(pk=i, label=i % 3, update_ts=ts(10),
            embedding=[rng.uniform(-1, 1) for _ in range(8)])
        for i in range(48)
    ]
    t = KeyedTable(str(tmp_path / "dmlvidx"), key="pk", precombine="update_ts")
    t.bulk_insert(spark.createDataFrame(rows))
    cents = S.ivf_centroids(t.read(spark), "pk", "embedding", n_centroids=4)
    t.build_ivf_index(spark, "embedding", centroids=cents)

    t.delete_where(spark, "pk % 13 = 0")
    assert t.vector_index() is not None

    t.update_where(spark, {"label": "label + 1"}, "pk % 7 = 0")
    assert t.vector_index() is not None
    # the maintained index still searches
    q = t.read(spark).limit(2)
    assert S.ivf_search_indexed(spark, t, q, "pk", k=3).count() > 0

    t.update_where(spark, {"embedding": "embedding"}, "pk % 5 = 0")
    assert t.vector_index() is None  # vector column rewritten → drop


def test_vector_index_full_lifecycle_contract(spark, tmp_path):
    """EVERY mutating commit maintains or honestly drops the index —
    the full contract in one flow: overwrite/merge assign new rows,
    compaction and re-layout carry, rollback restores the target's
    registration, drop_columns of an unrelated column carries."""
    import random

    from pyspark.sql import functions as F

    from hudi_glue_spark.operators import similarity as S

    rng = random.Random(3)

    def rows(ids, part="a"):
        return spark.createDataFrame(
            [Row(pk=i, part=part, note=f"n{i}", update_ts=ts(10),
                 embedding=[rng.uniform(-1, 1) for _ in range(8)])
             for i in ids]
        )

    t = KeyedTable(str(tmp_path / "vl"), key="pk", precombine="update_ts",
                   partition_by="part")
    t.bulk_insert(rows(range(12)))
    cents = S.ivf_centroids(t.read(spark), "pk", "embedding", n_centroids=4)
    t.build_ivf_index(spark, "embedding", centroids=cents)
    c_indexed = t.commits()[-1]

    # insert_overwrite: replacement rows get assignments
    t.insert_overwrite(rows(range(4), part="a"))
    assert t.vector_index() is not None
    snap = t.read(spark)
    assert snap.filter(F.col("__cid").isNull()).count() == 0

    # merge_into: inserted source rows get assignments
    t.merge_into(rows([50, 51], part="b"))
    assert t.vector_index() is not None
    assert t.read(spark).filter(F.col("__cid").isNull()).count() == 0

    # optimize: carry (rows move, never change)
    if t.optimize(spark, target_file_mb=128) is not None:
        assert t.vector_index() is not None

    # change_partitioning: carry through the re-layout
    t.change_partitioning(spark, None)
    assert t.vector_index() is not None

    # drop_columns of an unrelated column: carry
    t.drop_columns(["note"])
    assert t.vector_index() is not None

    # rollback to the index commit restores its registration
    t.rollback(c_indexed)
    assert t.vector_index() is not None
    # the maintained/carried index searches at every step
    q = t.read(spark).limit(2)
    assert S.ivf_search_indexed(spark, t, q, "pk", k=3).count() > 0


def test_check_constraints_modes(spark, tmp_path):
    """CHECK constraints: fail rejects the whole batch (no commit),
    drop excludes lazily, quarantine preserves violators with labels
    and commit-stats counts; NULL passes (SQL CHECK semantics);
    constraints round-trip through _meta.json."""
    from hudi_glue_spark.table.keyed_table import ConstraintViolation

    rows = [
        Row(pk=1, v=10.0, ok_ts=ts(1)),
        Row(pk=2, v=-5.0, ok_ts=ts(1)),
        Row(pk=3, v=None, ok_ts=ts(1)),  # NULL → passes
    ]
    batch = spark.createDataFrame(rows)

    # fail mode: batch rejected, table never created
    t = KeyedTable(str(tmp_path / "f"), key="pk", precombine="ok_ts",
                   constraints={"nonneg": "v >= 0"})
    with pytest.raises(ConstraintViolation, match="nonneg"):
        t.bulk_insert(batch)
    assert not t.exists()

    # drop mode: violator excluded, NULL admitted
    t2 = KeyedTable(str(tmp_path / "d"), key="pk", precombine="ok_ts",
                    constraints={"nonneg": "v >= 0"}, on_violation="drop")
    t2.bulk_insert(batch)
    assert {r.pk for r in t2.read(spark).collect()} == {1, 3}

    # quarantine mode across bulk_insert + upsert
    t3 = KeyedTable(str(tmp_path / "q"), key="pk", precombine="ok_ts",
                    constraints={"nonneg": "v >= 0"},
                    on_violation="quarantine")
    t3.bulk_insert(batch)
    assert {r.pk for r in t3.read(spark).collect()} == {1, 3}
    assert t3.latest_stats()["quarantined"] == 1
    t3.upsert(spark.createDataFrame([Row(pk=4, v=-1.0, ok_ts=ts(2)),
                                     Row(pk=5, v=5.0, ok_ts=ts(2))]))
    assert {r.pk for r in t3.read(spark).collect()} == {1, 3, 5}
    q = t3.read_quarantine(spark)
    got = {(r.pk, tuple(r["__violated"])) for r in q.collect()}
    assert got == {(2, ("nonneg",)), (4, ("nonneg",))}

    # constraints survive load(); add/drop update meta
    t3b = KeyedTable.load(t3.path)
    assert t3b.constraints == {"nonneg": "v >= 0"}
    t3b.add_constraint("big", "v >= 1")
    assert KeyedTable.load(t3.path).constraints == {
        "nonneg": "v >= 0", "big": "v >= 1"
    }
    t3b.drop_constraint("big")
    assert KeyedTable.load(t3.path).constraints == {"nonneg": "v >= 0"}


def test_derived_partition_column(spark, tmp_path):
    """GENERATED columns: materialized from the rule on every ingest
    path, caller-supplied values overwritten (no drift), upserts whose
    recomputed key MOVES a row between partitions leave no ghost, and
    the rule round-trips through _meta.json."""
    t = KeyedTable(str(tmp_path / "g"), key="pk", precombine="ets",
                   partition_by="day", derived_cols={"day": "to_date(ets)"})
    t.bulk_insert(spark.createDataFrame(
        [Row(pk=1, ets=ts(1)), Row(pk=2, ets=ts(2))]
    ))
    got = {r.pk: str(r.day) for r in t.read(spark).collect()}
    assert got == {1: "2026-01-01", 2: "2026-01-02"}

    # a WRONG caller-supplied day is overwritten by the rule
    import datetime as _dt
    t.upsert(spark.createDataFrame(
        [Row(pk=3, ets=ts(3), day=_dt.date(1999, 1, 1))]
    ))
    got = {r.pk: str(r.day) for r in t.read(spark).collect()}
    assert got[3] == "2026-01-03"

    # ts update moves pk=1 to a new derived partition — no ghost row
    t.upsert(spark.createDataFrame([Row(pk=1, ets=ts(9))]))
    snap = t.read(spark).collect()
    assert {r.pk: str(r.day) for r in snap}[1] == "2026-01-09"
    assert len(snap) == 3

    t2 = KeyedTable.load(t.path)
    assert t2.derived_cols == {"day": "to_date(ets)"}
    t2.upsert(spark.createDataFrame([Row(pk=4, ets=ts(4))]))
    assert {str(r.day) for r in t2.read(spark).filter("pk = 4").collect()} == {
        "2026-01-04"
    }


def test_savepoint_survives_clean(spark, tmppath):
    """Hudi savepoint parity: a pinned commit's manifest and files
    survive clean() outside the retention window; time travel and
    rollback onto it keep working; releasing the pin lets the next
    clean reclaim it."""
    tbl = run_scenario(spark, tmppath, EVENT_TIME_WINS)
    c0 = tbl.commits()[0]
    tbl.savepoint(c0)
    tbl.clean(retain_commits=1)
    assert c0 in tbl.commits()  # pinned commit retained
    assert tbl.read(spark, at=c0).count() == 4  # files intact
    tbl.rollback(c0)  # Hudi restore
    assert tbl.read(spark).count() == 4
    tbl.release_savepoint(c0)
    tbl.clean(retain_commits=1)
    assert c0 not in tbl.commits()
    assert tbl.validate() == []
    with pytest.raises(ValueError):
        tbl.release_savepoint("00000042")


def test_update_where_respects_rules_and_constraints(spark, tmp_path):
    """update_where participates in the ingest-gate invariants: a SET
    of a generated column's INPUT recomputes the column (and relocates
    the row's partition); SET of the generated column itself is
    refused; an update that would write constraint-violating rows
    raises instead of landing them."""
    from hudi_glue_spark.table.keyed_table import ConstraintViolation

    t = KeyedTable(str(tmp_path / "ur"), key="pk", precombine="ets",
                   partition_by="day",
                   derived_cols={"day": "to_date(ets)"},
                   constraints={"nonneg": "v >= 0"})
    t.bulk_insert(spark.createDataFrame(
        [Row(pk=1, v=1.0, ets=ts(1)), Row(pk=2, v=2.0, ets=ts(2))]
    ))

    # day is refused twice over: partition column AND generated column
    with pytest.raises(ValueError, match="day"):
        t.update_where(spark, {"day": "to_date(ets)"}, "pk = 1")

    with pytest.raises(ConstraintViolation, match="nonneg"):
        t.update_where(spark, {"v": "-9.0"}, "pk = 1")
    assert {r.v for r in t.read(spark).collect()} == {1.0, 2.0}  # nothing landed

    # SET ts moves pk=1 to a recomputed day partition, no drift, no ghost
    t.update_where(spark, {"ets": "ets + interval 7 days"}, "pk = 1")
    snap = t.read(spark)
    assert snap.filter("to_date(ets) <> day").count() == 0
    got = {r.pk: str(r.day) for r in snap.collect()}
    assert got == {1: "2026-01-08", 2: "2026-01-02"}
    assert snap.count() == 2


def test_index_staleness_signal(spark, tmp_path):
    """index_staleness: fresh build reads tight (no recluster), a
    maintaining upsert widens the new files' cell ranges and moves the
    signal, and a rebuild resets it — the metadata-only scheduling
    loop for re-clustering."""
    import random

    from hudi_glue_spark.operators import similarity as S

    rng = random.Random(5)
    rows = [
        Row(pk=i, update_ts=ts(10),
            embedding=[rng.uniform(-1, 1) for _ in range(8)])
        for i in range(64)
    ]
    t = KeyedTable(str(tmp_path / "st"), key="pk", precombine="update_ts")
    t.bulk_insert(spark.createDataFrame(rows))
    assert t.index_staleness() is None  # no index yet
    cents = S.ivf_centroids(t.read(spark), "pk", "embedding", n_centroids=4)
    t.build_ivf_index(spark, "embedding", centroids=cents)
    fresh = t.index_staleness()
    assert fresh is not None and fresh["stale_fraction"] <= 0.5

    # unpartitioned maintaining upsert rewrites everything mixed-cell
    t.upsert(spark.createDataFrame(
        [Row(pk=100 + i, update_ts=ts(11),
             embedding=[rng.uniform(-1, 1) for _ in range(8)])
         for i in range(8)]
    ))
    stale = t.index_staleness()
    assert stale["stale_fraction"] >= fresh["stale_fraction"]
    assert stale["recommend_recluster"] is True

    t.build_ivf_index(spark, "embedding", centroids=cents)
    again = t.index_staleness()
    assert again["stale_fraction"] <= 0.5
    assert again["recommend_recluster"] is False


def test_compaction_report_flags_fragmented_partitions(spark, tmp_path):
    """compaction_report: a fragmented table is flagged, the numbers
    come from the manifest alone (zero data I/O), and optimize()
    clears the flag."""
    import datetime
    import os as _os

    from pyspark.sql import Row

    from hudi_glue_spark.table import KeyedTable

    t = KeyedTable(str(tmp_path / "advisor"), key="id", precombine="ts")
    ts = datetime.datetime(2026, 5, 1)
    df = spark.createDataFrame([Row(id=i, ts=ts) for i in range(800)])
    # unpartitioned tables keep the caller's partitioning → 8 fragments
    t.bulk_insert(df.repartition(8), dedupe=False)

    rep = t.compaction_report(spark, target_rows_per_file=1_000_000).collect()
    assert len(rep) == 1
    r = rep[0]
    assert r["n_files"] == 8
    assert r["rows"] == 800
    assert r["ideal_files"] == 1
    assert r["recommend_compact"]
    # metadata-only: the report's plan reads only _manifests parquet
    files = t.compaction_report(spark).inputFiles()
    assert files and all(f"{_os.sep}_manifests{_os.sep}" in p for p in files)

    t.optimize(spark, target_file_mb=1024, small_file_mb=1 << 20)
    after = t.compaction_report(spark, target_rows_per_file=1_000_000).collect()
    assert not any(x["recommend_compact"] for x in after)
    assert sum(x["rows"] for x in after) == 800


def test_purge_quarantine(spark, tmp_path):
    """purge_quarantine: the quarantine audit log is GC-able —
    before_commit expires only older batches, full purge removes the
    raw violator bytes entirely (the RTBF closure for rejected rows)."""
    import datetime

    from pyspark.sql import Row

    from hudi_glue_spark.table import KeyedTable

    t = KeyedTable(
        str(tmp_path / "q"), key="id", precombine="ts",
        constraints={"pos": "v > 0"}, on_violation="quarantine",
    )
    ts0 = datetime.datetime(2026, 5, 1)
    t.bulk_insert(spark.createDataFrame(
        [Row(id=1, v=1.0, ts=ts0), Row(id=2, v=-1.0, ts=ts0)]
    ))
    t.upsert(spark.createDataFrame(
        [Row(id=3, v=2.0, ts=ts0), Row(id=4, v=-4.0, ts=ts0)]
    ))
    q = t.read_quarantine(spark)
    assert q is not None and q.count() == 2

    # expire only the first commit's batch
    assert t.purge_quarantine(before_commit=t.commits()[-1]) == 1
    assert t.read_quarantine(spark).count() == 1
    # full purge: no quarantined bytes remain on disk
    assert t.purge_quarantine() == 1
    assert t.read_quarantine(spark) is None
    import os as _os

    assert not _os.path.isdir(_os.path.join(t.path, "_quarantine"))


def test_read_as_of_timestamp(spark, tmppath):
    """Wall-clock time travel (Hudi as.of.instant / Delta timestampAsOf
    parity): as_of resolves to the last commit stamped at or before the
    instant; before-the-table instants refuse."""
    import datetime
    import time as _time

    import pytest

    from hudi_glue_spark.table import manifest as M

    tbl = KeyedTable(tmppath, key="pk", precombine="update_ts",
                     partition_by="part")
    ingest(tbl, day0(spark))
    _time.sleep(1.1)  # commit stamps are second-resolution
    ingest(tbl, day1(spark))
    c0, c1 = tbl.commits()
    ts0 = M.read_manifest(tmppath, c0).ts
    ts1 = M.read_manifest(tmppath, c1).ts
    if ts1 > ts0:  # distinct stamps: the instant between picks c0
        assert tbl.commit_as_of(ts0) == c0
        assert tbl.read(spark, as_of=ts0).count() == 4
    assert tbl.commit_as_of(ts1) == c1
    # datetime input (aware), resolving to the head
    now = datetime.datetime.now(datetime.timezone.utc)
    assert tbl.read(spark, as_of=now).count() == 5
    with pytest.raises(ValueError, match="no commit at or before"):
        tbl.read(spark, as_of="2000-01-01T00:00:00Z")
    with pytest.raises(ValueError, match="not both"):
        tbl.read(spark, at=c0, as_of=now)
    # REAL ISO-8601 inputs (ADVICE r9): a UTC offset converts before
    # comparing (the old string massage appended 'Z' to '+02:00' and
    # compared garbage), and fractional seconds truncate to the
    # stamps' second resolution (the old lexical compare sorted
    # '...SS.5' BEFORE '...SSZ', wrongly excluding a commit stamped
    # in that same second)
    head_dt = datetime.datetime.fromisoformat(ts1.replace("Z", "+00:00"))
    tz2 = datetime.timezone(datetime.timedelta(hours=2))
    assert tbl.commit_as_of(head_dt.astimezone(tz2).isoformat()) == c1
    assert tbl.commit_as_of(ts1[:-1] + ".500Z") == c1
    tzm5 = datetime.timezone(datetime.timedelta(hours=-5))
    early = (head_dt - datetime.timedelta(hours=3)).astimezone(tzm5)
    assert tbl.commit_as_of(early.isoformat()) is None


def test_merge_null_conditions_do_not_drop_rows(spark, tmp_path):
    """ADVICE r13 (high): a clause condition that evaluates to SQL NULL
    must mean 'clause does not apply' — NOT poison `keep`/`taken` and
    silently delete the row.  Three-valued logic: NULL never selects."""
    t = KeyedTable(str(tmp_path / "t"), key="pk", precombine="update_ts",
                   partition_by="part")
    t.bulk_insert(spark.createDataFrame(
        [Row(pk=1, part="a", flag="x", update_ts=ts(10)),
         Row(pk=2, part="a", flag=None, update_ts=ts(10)),
         Row(pk=3, part="b", flag="y", update_ts=ts(10))]))
    # by_source_delete with a NULL-valued condition: pk=2 (flag NULL)
    # must SURVIVE — SQL keeps a row whose delete predicate is NULL
    src = spark.createDataFrame(
        [Row(pk=3, part="b", flag="y", update_ts=ts(11))])
    t.merge_into(src, when_not_matched_insert=False,
                 by_source_delete="target.flag = 'x'")
    assert {r["pk"] for r in t.read(spark).collect()} == {2, 3}


def test_merge_null_matched_condition_falls_through(spark, tmp_path):
    """ADVICE r13 (high), second repro: a NULL-valued first matched
    clause must fall through to the next ordered clause, not swallow
    the row (NULL poisoning the `taken` accumulator deleted it)."""
    t = KeyedTable(str(tmp_path / "t"), key="pk", precombine="update_ts")
    sch = "pk bigint, flag string, val string, update_ts timestamp"
    t.bulk_insert(spark.createDataFrame(
        [(1, None, "old", ts(10))], schema=sch))
    src = spark.createDataFrame([(1, None, "new", ts(11))], schema=sch)
    t.merge_into(
        src,
        when_not_matched_insert=False,
        matched_clauses=[
            {"action": "delete", "condition": "target.flag = 'x'"},
            {"action": "update"},
        ],
    )
    rows = t.read(spark).collect()
    assert [(r["pk"], r["val"]) for r in rows] == [(1, "new")]


def test_merge_null_update_condition_keeps_row(spark, tmp_path):
    """NULL update_condition = clause does not apply; row untouched."""
    t = KeyedTable(str(tmp_path / "t"), key="pk", precombine="update_ts")
    sch = "pk bigint, flag string, val string, update_ts timestamp"
    t.bulk_insert(spark.createDataFrame(
        [(1, None, "old", ts(10))], schema=sch))
    src = spark.createDataFrame([(1, "z", "new", ts(11))], schema=sch)
    t.merge_into(src, when_not_matched_insert=False,
                 update_condition="target.flag = 'x'")
    rows = t.read(spark).collect()
    assert [(r["pk"], r["val"]) for r in rows] == [(1, "old")]


def test_merge_insert_values_bare_column_name(spark, tmp_path):
    """ADVICE r13 (low): a bare column name for a key/partition INSERT
    value is accepted by validation — it must then resolve as the
    source column, not die ambiguous over the aliased join."""
    t = KeyedTable(str(tmp_path / "t"), key="pk", precombine="update_ts",
                   partition_by="part")
    ingest(t, day0(spark))
    src = spark.createDataFrame(
        [Row(pk=9, part="c", val="new9", update_ts=ts(11))])
    t.merge_into(
        src,
        matched_clauses=[],
        insert_values={"pk": "pk", "part": "part",
                       "val": "upper(source.val)",
                       "update_ts": "source.update_ts"},
    )
    rows = {r["pk"]: (r["part"], r["val"]) for r in t.read(spark).collect()}
    assert rows[9] == ("c", "NEW9")


def test_merge_condition_on_source_only_column(spark, tmp_path):
    """Standard SQL MERGE scoping: clause conditions / SET / INSERT
    expressions may reference SOURCE columns outside the target
    schema (the staging-batch op-flag shape). Extras ride through the
    join and are never written."""
    t = KeyedTable(str(tmp_path / "t"), key="pk", precombine="update_ts")
    ingest(t, day0(spark))  # pks 1-4
    src = spark.createDataFrame([
        Row(pk=1, part="a", val="u1", update_ts=ts(11), op="U"),
        Row(pk=2, part="a", val="x", update_ts=ts(11), op="D"),
        Row(pk=9, part="c", val="n9", update_ts=ts(11), op="I"),
    ])
    t.merge_into(
        src,
        matched_clauses=[
            {"action": "delete", "condition": "source.op = 'D'"},
            {"action": "update", "condition": "source.op = 'U'"},
        ],
        insert_condition="source.op = 'I'",
    )
    rows = {r["pk"]: r["val"] for r in t.read(spark).collect()}
    assert rows == {1: "u1", 3: "init3", 4: "init4", 9: "n9"}
    assert "op" not in t.read(spark).columns
