"""A small commit's bookkeeping runs on the driver.

When its input fits one scan split (``spark.sql.files.maxPartitionBytes``)
the record-index delta is built and written with pyarrow, a list probe
of the index streams the span-pruned segments on the driver, deletion-
vector marks arrive from one JVM aggregate, and the DV candidate scan is
one bounded collect. Each driver path must give exactly what the Spark
path it short-cuts gives; these tests hold them to that, and count the
Spark jobs so the saving cannot silently regress.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import Counter

import numpy as np
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from hudi_glue_spark.table import KeyedTable
from hudi_glue_spark.table import dv as DVB
from hudi_glue_spark.table import manifest as M
from hudi_glue_spark.table import record_index as RI


@pytest.fixture(autouse=True)
def _release_op_persists(spark):
    """Unpersist what the ops under test left persisted (upsert_dv's
    local checkpoint). The context cleaner frees it only after some
    later JVM GC, so without this the session-wide persist count that
    other test modules bound would depend on GC timing."""
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    yield
    for rid, rdd in jsc.getPersistentRDDs().items():
        if rid not in before:
            rdd.unpersist(True)


def _rows(spark, keys, ktype: str, ts: int = 0):
    return spark.createDataFrame(
        [(int(k), int(k) % 4, ts + int(k)) for k in keys],
        "k long, p long, ts long",
    ).select(
        F.col("k").cast(ktype).alias("pk"),
        F.col("p").cast("string").alias("part"),
        F.col("ts"),
        (F.col("k") * 3).alias("val"),
    )


def _indexed(spark, root, ktype: str, **kw) -> KeyedTable:
    t = KeyedTable(
        root, key="pk", precombine="ts", partition_by="part",
        key_bloom=True, **kw,
    )
    t.bulk_insert(_rows(spark, range(0, 200), ktype))
    t.build_record_index(spark)
    return t


def _segment_rows(root: str, names) -> Counter:
    out: Counter = Counter()
    for n in names:
        t = pq.read_table(os.path.join(RI.rli_dir(root), n))
        out.update(
            zip(*(t.column(c).to_pylist() for c in t.column_names))
        )
    return out


def _span(spans) -> list:
    return [min(s[0] for s in spans), max(s[1] for s in spans)]


@pytest.mark.parametrize(
    "ktype, batch_type, new_keys",
    [
        ("long", "long", range(150, 260)),
        ("string", "string", range(150, 260)),
        # int → long: the commit widens the key; its files hold longs
        ("int", "long", [*range(150, 200), 2**40, 2**40 + 7]),
    ],
    ids=["long", "string", "widened"],
)
def test_arrow_delta_segment_matches_spark_builder(
    spark, tmp_path, ktype, batch_type, new_keys
):
    t = _indexed(spark, str(tmp_path / "t"), ktype)
    before = t.record_index_info()
    parent = M.read_manifest(t.path)
    t.upsert(_rows(spark, new_keys, batch_type, ts=1000))
    man = M.read_manifest(t.path)
    reg = t.record_index_info()
    added = sorted(set(reg["deltas"]) - set(before["deltas"]))
    assert len(added) == 1  # one driver-built segment
    assert reg["seq"] == before["seq"] + 1

    new_files = sorted(set(man.files) - set(parent.files))
    schema = StructType.fromJson(json.loads(man.schema_json))
    ref_root = str(tmp_path / "ref")
    ref = RI.write_entries(
        t._rli_entries_for_files(
            spark, new_files, before["seq"], "pk", schema
        ),
        ref_root,
        "ref",
        "pk",
    )
    got = _segment_rows(t.path, added)
    assert got == _segment_rows(ref_root, ref)
    assert {
        (str(k) if ktype == "string" else k) for k in new_keys
    } <= {k for k, _f, _s in got}
    assert reg["deltas"][added[0]] == _span(ref.values())


def test_partition_key_delta_keeps_spark_path(spark, tmp_path):
    """A key that is also the partition column is not stored in the
    data files: the advance takes its values from the Spark scan of the
    partition directories, and the delta still indexes every new row."""
    t = KeyedTable(
        str(tmp_path / "t"), key="pk", precombine="ts", partition_by="pk"
    )
    t.bulk_insert(_rows(spark, range(0, 12), "long").drop("part"))
    t.build_record_index(spark)
    before = t.record_index_info()
    parent = M.read_manifest(t.path)
    t.upsert(_rows(spark, range(8, 16), "long", ts=100).drop("part"))
    man = M.read_manifest(t.path)
    new_files = sorted(set(man.files) - set(parent.files))
    schema = StructType.fromJson(json.loads(man.schema_json))
    assert t._rli_entries_arrow(spark, new_files, 1, "pk", schema) is None
    reg = t.record_index_info()
    added = sorted(set(reg["deltas"]) - set(before["deltas"]))
    got = _segment_rows(t.path, added)
    assert sorted(k for k, _f, _s in got) == list(range(8, 16))
    assert all(f == f"pk={k}/" + os.path.basename(f) for k, f, _s in got)
    for k in (3, 9, 15):
        hosts = t.files_hosting_keys(spark, [k])
        assert hosts and all(h.startswith(f"pk={k}/") for h in hosts)


def test_driver_list_probe_matches_spark_filter(spark, tmp_path, monkeypatch):
    """``_index_hosts`` answers a list probe on the driver with exactly
    the Spark filter's host set — across base and delta segments of two
    key widths, and for probes that cannot cast to a segment's type
    (which fall back to the Spark filter)."""
    t = _indexed(spark, str(tmp_path / "t"), "int")
    t.upsert(_rows(spark, range(190, 230), "int", ts=1000))
    t.upsert(_rows(spark, [5, 2**40], "long", ts=2000))  # widens the key
    man = M.read_manifest(t.path)
    reg = RI.resolve_reg(t.path, man.stats["record_index"])
    assert len(reg["deltas"]) == 2

    real = RI.probe_hosts
    driver_answers = []

    def tracked(*a, **kw):
        out = real(*a, **kw)
        driver_answers.append(out is not None)
        return out

    probe_sets = [
        [5],
        [0, 1, 2, 3, 199, 200, 229, 229],
        [5, 2**40],  # 2**40 does not fit the int32 base segments
        [10**6],  # no host; only the widened delta's span holds it
    ]
    monkeypatch.setattr(RI, "probe_hosts", tracked)
    driver = [t._index_hosts(spark, man, reg, p) for p in probe_sets]
    monkeypatch.setattr(RI, "probe_hosts", lambda *a, **kw: None)
    spark_side = [t._index_hosts(spark, man, reg, p) for p in probe_sets]
    assert driver == spark_side
    assert driver[0] and driver[2]
    # the castable probes were answered on the driver, the others not
    assert driver_answers == [True, True, False, True]


def test_dv_blobs_from_jvm_aggregate_match_reference(spark, tmp_path):
    """The per-file blobs built from the ``collect_list`` aggregate equal
    a bitmap of the sorted marked positions (unioned with the old mask)
    — for a file that already carries a mask and one that does not."""
    t = _indexed(spark, str(tmp_path / "t"), "long")
    t.delete_dv([0, 4, 8], on_large="force")  # masks part=0's file
    man = M.read_manifest(t.path)
    assert set(M.partition_of(f) for f in man.dvs) == {"part=0"}
    marked = (
        t._positioned_read(spark, man, man.files, columns=["pk"])
        .filter(F.col("pk").isin(12, 16, 40, 1, 5, 9))
        .select("__file", "__pos")
    )
    rows = marked.collect()
    entries, total = t._dv_entries(spark, man, marked, "test-cid")
    assert total == len(rows) == 6
    by_file: dict = {}
    for r in rows:
        by_file.setdefault(r["__file"], []).append(r["__pos"])
    assert set(entries) == set(by_file)
    assert {f in man.dvs for f in entries} == {True, False}
    for rel, pos in by_file.items():
        want = DVB.from_positions(np.sort(pos), man.file_rows[rel])
        if rel in man.dvs:
            want = DVB.union(DVB.read(t.path, man.dvs[rel][0]), want)
        name, n_dead = entries[rel]
        assert DVB.read(t.path, name) == want
        assert n_dead == DVB.dead_count(want)


def _jobs(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


#: Spark jobs of the 600-row partition-scoped upsert_dv below, measured
#: on local[4] with AQE on; with the bookkeeping on Spark it ran 17
UPSERT_DV_JOB_BUDGET = 11


def test_small_upsert_dv_job_budget(spark, tmp_path, monkeypatch):
    """A 600-row ``upsert_dv`` on an indexed, partition-scoped table:
    the record-index advance and the list probe launch no Spark job,
    and the whole op stays within its measured job count."""
    t = KeyedTable(
        str(tmp_path / "t"), key="pk", precombine="ts", partition_by="part",
        key_bloom=True, key_scope="partition",
    )
    t.bulk_insert(_rows(spark, range(0, 3000), "long"))
    t.build_record_index(spark)
    t.upsert_dv(_rows(spark, range(2900, 3500), "long", ts=5000))  # warm

    counts: dict = {"advance": [], "probe": []}
    real_adv, real_hosts = KeyedTable._rli_advance, KeyedTable._index_hosts

    def adv(self, *a, **kw):
        j0 = _jobs(spark)
        out = real_adv(self, *a, **kw)
        counts["advance"].append(_jobs(spark) - j0)
        return out

    def hosts(self, spark_, man, reg, keys):
        j0 = _jobs(spark)
        out = real_hosts(self, spark_, man, reg, keys)
        if isinstance(keys, list):
            counts["probe"].append(_jobs(spark) - j0)
        return out

    monkeypatch.setattr(KeyedTable, "_rli_advance", adv)
    monkeypatch.setattr(KeyedTable, "_index_hosts", hosts)
    j0 = _jobs(spark)
    t.upsert_dv(_rows(spark, range(3300, 3900), "long", ts=9000))
    jobs = _jobs(spark) - j0
    assert counts["advance"] == [0]
    assert counts["probe"] == [0]
    assert jobs <= UPSERT_DV_JOB_BUDGET, jobs
    assert t.read(spark).count() == 3900


def test_touched_partitions_probe_failure_surfaces(spark, tmp_path, monkeypatch):
    """When the main-thread partition collect fails, the overlapped
    index probe's job is cancelled instead of waited out, and its own
    error is attached to the raised one."""
    t = _indexed(spark, str(tmp_path / "t"), "long")
    man = M.read_manifest(t.path)
    batch = _rows(spark, range(0, 8), "long", ts=100)
    started = threading.Event()

    def slow_probe(self, spark_, keys, man=None):
        started.set()

        def sleepy(it):
            time.sleep(120)
            yield from it

        # one task: the main thread's collect keeps cores to run on
        spark_.range(1, numPartitions=1).mapInPandas(
            sleepy, "id long"
        ).collect()
        return []

    def failing_dirname(self, row):
        started.wait(30)
        time.sleep(1)  # let the probe's job start
        raise RuntimeError("partition collect failed")

    monkeypatch.setattr(KeyedTable, "files_hosting_keys", slow_probe)
    monkeypatch.setattr(KeyedTable, "_dirname", failing_dirname)
    t0 = time.monotonic()
    with pytest.raises(RuntimeError, match="partition collect failed") as ei:
        t._touched_partitions(t.read(spark), batch, man)
    assert time.monotonic() - t0 < 60
    notes = getattr(ei.value, "__notes__", [])
    assert any("overlapped record-index probe failed too" in n for n in notes)
