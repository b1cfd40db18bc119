"""The two closed-loop workloads over one keyed table.

Both run the same cycle with one client: (every few cycles) delete
known keys, commit one upsert batch, query the per-day aggregate
through catalog SQL, then read the table back by key, by ``ts`` range
and incrementally. They differ in how a batch is written:

- ``cow_batch_upsert``: large batches through the copy-on-write
  ``KeyedTable.upsert`` / ``delete``.
- ``dv_stream_cdc``: one small file lands per cycle and
  ``stream_ingest(mode="dv")`` drains it; deletes go through
  ``delete_dv``. Traced runs also build the aggregate once from
  ``stream_changes(mode="cdf")`` through ``run_to_memory``.

A run times a fixed number of cycles, so every run of a seed makes the
same commits and reads the same table states. Traced
``cow_batch_upsert`` runs then time curation passes over a small seeded
corpus (see curation.py), for the per-layer ``operators.*`` figures.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener
from pyspark.sql.window import Window

import curation
import gen
import probe
from hudi_glue_spark.catalog import catalog_open
from hudi_glue_spark.sql_read import sql_read
from hudi_glue_spark.streaming.ingest import run_to_memory, stream_ingest
from hudi_glue_spark.streaming.sources import stream_parquet
from hudi_glue_spark.streaming.table_source import stream_changes
from hudi_glue_spark.table import manifest as M
from hudi_glue_spark.table.keyed_table import KeyedTable

SCHEMA = "id BIGINT, day INT, ts BIGINT, v BIGINT, pad STRING"
COLS = ["id", "day", "ts", "v"]
TABLE = "bench_t"
AGG_SQL = f"SELECT day, count(*) AS n, sum(v) AS s FROM {TABLE} GROUP BY day"
#: set-ups per run; setup_s is their median
SETUP_REPS = 3
STREAM_TIMEOUT_S = 120
#: curation passes of a traced cow run: untimed, then timed
CURATION_WARM, CURATION_TIMED = 1, 3

SIZES = {
    "cow_batch_upsert": gen.Sizes(
        base_rows=160_000, batch_rows=16_000, delete_rows=1_600,
        lookups_per_cycle=3, ranges_per_cycle=2, incrementals_per_cycle=1,
    ),
    "dv_stream_cdc": gen.Sizes(
        base_rows=30_000, batch_rows=600, delete_rows=60,
        lookups_per_cycle=2, ranges_per_cycle=3, incrementals_per_cycle=3,
    ),
}
#: untimed cycles, then timed ones. Commits and lookups still got faster
#: over the first two cycles after set-up (JIT), so two warm up.
WARM_CYCLES = 2
TIMED_CYCLES = 4


def dir_bytes(root: str, skip: str | None = None) -> int:
    total = 0
    for d, dirs, files in os.walk(root):
        if skip is not None:
            dirs[:] = [x for x in dirs if os.path.join(d, x) != skip]
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def agg_of(rows) -> dict[int, tuple[int, int]]:
    return {int(r["day"]): (int(r["n"]), int(r["s"])) for r in rows if r["n"]}


class _Progress(StreamingQueryListener):
    """Collects StreamingQueryProgress events (traced runs only)."""

    def __init__(self):
        self.events = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        self.events.append(event.progress)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


class TableLoop:
    def __init__(self, spark, rec: probe.Recorder, workload: str, seed: int,
                 work: str):
        self.spark = spark
        self.rec = rec
        self.stream = workload == "dv_stream_cdc"
        self.sz = SIZES[workload]
        self.seed = seed
        self.work = work
        self.model = gen.Model(
            self.sz.base_rows + (WARM_CYCLES + TIMED_CYCLES) * self.sz.batch_rows
        )
        self.snap_agg: dict[str, dict] = {}  # commit id -> expected agg
        self.done: list[gen.Cycle] = []
        self.curate = rec.trace and not self.stream
        self.write_rows = 0
        self.write_s = 0.0
        self.progress = None
        self.phases: dict[str, float] = {}
        if rec.trace:
            self.progress = _Progress()
            spark.streams.addListener(self.progress)

    # -- set-up ----------------------------------------------------------

    def set_up(self) -> list[float]:
        """Stage the inputs, then create, load, index and register the
        table SETUP_REPS times; the last copy is the one the run uses.
        Returns the engine set-up time of each copy."""
        t0 = time.perf_counter()
        self.base, self.cycles = gen.stage(
            self.seed, self.sz, WARM_CYCLES + TIMED_CYCLES,
            os.path.join(self.work, "inputs"),
        )
        if self.curate:
            self.corpus = curation.stage(
                self.seed, os.path.join(self.work, "corpus")
            )
        self.phases["stage_inputs"] = time.perf_counter() - t0
        times = []
        for r in range(SETUP_REPS):
            wh = os.path.join(self.work, f"warehouse{r}")
            t0 = time.perf_counter()
            t = KeyedTable(
                os.path.join(wh, TABLE), key="id", precombine="ts",
                partition_by="day", key_bloom=True,
                key_scope="partition" if self.stream else "global",
            )
            t.bulk_insert(self.spark.read.schema(SCHEMA).parquet(self.base))
            t.build_record_index(self.spark)
            tables = catalog_open(wh)
            times.append(time.perf_counter() - t0)
        self.t, self.tables = t, tables
        self.model.upsert(pq.read_table(self.base))
        self.snap_agg[t.commits()[-1]] = self.model.agg()
        if self.stream:
            self.land = os.path.join(self.work, "land")
            os.makedirs(self.land)
        return times

    # -- one cycle -------------------------------------------------------

    def cycle(self, cyc: gen.Cycle, record: bool = True) -> None:
        rec, t, spark = self.rec, self.t, self.spark
        if cyc.deletes is not None:
            ids = pq.read_table(cyc.deletes)["id"].to_numpy()
            with rec.op("delete", record):
                with rec.span("table.keyed_table"):
                    if self.stream:
                        t.delete_dv([int(k) for k in ids])
                    else:
                        t.delete(spark.read.schema("id BIGINT").parquet(cyc.deletes))
            self._write_done(record, len(ids), "delete")
            self.model.delete(ids)
            self.snap_agg[t.commits()[-1]] = self.model.agg()
        # the incremental reads cover the upsert only, so that every
        # cycle's increment is one batch's worth
        since = t.commits()[-1]
        man0 = M.read_manifest(t.path) if rec.trace else None
        if self.stream:
            staged = os.path.join(self.land, os.path.basename(cyc.batch))
            shutil.copyfile(cyc.batch, staged + ".tmp")
            os.replace(staged + ".tmp", staged)
            with rec.op("commit", record):
                with rec.span("streaming.ingest"):
                    q = stream_ingest(
                        t, stream_parquet(spark, self.land),
                        os.path.join(self.work, "ckpt_ingest"), mode="dv",
                    )
                    drained = q.awaitTermination(STREAM_TIMEOUT_S)
                    q.stop()
                if not drained:
                    raise TimeoutError("stream_ingest did not drain")
        else:
            with rec.op("commit", record):
                with rec.span("table.keyed_table"):
                    t.upsert(spark.read.schema(SCHEMA).parquet(cyc.batch))
        self._write_done(record, cyc.n_rows, "commit")
        self.model.upsert(pq.read_table(cyc.batch))
        head = t.commits()[-1]
        self.snap_agg[head] = self.model.agg()
        if rec.trace:
            self._commit_counters(man0, M.read_manifest(t.path), cyc.n_rows)
        self._reads(cyc, since, record)
        self.done.append(cyc)

    def _write_done(self, record: bool, rows: int, op: str) -> None:
        if record:
            self.write_rows += rows
            self.write_s += self.rec.samples[op][-1]
        if self.progress is not None:
            self._stream_counters(op, record)

    def _sql_agg(self, record: bool) -> dict:
        with self.rec.op("snapshot_agg", record):
            with self.rec.span("sql_read"):
                df = sql_read(self.spark, AGG_SQL, self.tables)
            with self.rec.span("session.collect"):
                rows = df.collect()
        return agg_of(rows)

    def _refresh(self) -> dict:
        """Build the per-day aggregate from the table's change feed."""
        spark = self.spark
        with self.rec.op("refresh"):
            with self.rec.span("streaming.table_source"):
                ch = stream_changes(spark, self.t, starting="earliest", mode="cdf")
                sign = F.when(F.col("_change_type") == "insert", 1).otherwise(-1)
                agg = ch.groupBy("day").agg(
                    F.sum(sign).alias("n"), F.sum(sign * F.col("v")).alias("s")
                )
                out = run_to_memory(
                    spark, agg, os.path.join(self.work, "ckpt_cdf"),
                    timeout_s=STREAM_TIMEOUT_S,
                )
            with self.rec.span("session.collect"):
                rows = out.collect()
        self._stream_counters("refresh", True)
        return agg_of(rows)

    def _reads(self, cyc: gen.Cycle, since: str, record: bool) -> None:
        rec, t, spark, m = self.rec, self.t, self.spark, self.model
        head = t.commits()[-1]
        rec.check(self._sql_agg(record) == self.snap_agg[head],
                  f"aggregate after commit {head}")
        for keys in cyc.lookups:
            if rec.trace:
                self._probe_counters(keys)
            with rec.op("lookup", record):
                with rec.span("table.keyed_table"):
                    df = t.read_keys(spark, keys)
                with rec.span("session.collect"):
                    rows = df.select(*COLS).collect()
            got = {r["id"]: (r["day"], r["ts"], r["v"]) for r in rows}
            rec.check(
                len(rows) == len(got) and got == m.rows(keys),
                f"lookup {keys[:4]}...",
            )
        for lo, hi in cyc.ranges:
            with rec.op("range", record):
                with rec.span("table.keyed_table"):
                    df = t.read_range(spark, "ts", lo, hi)
                with rec.span("session.collect"):
                    rows = df.select(*COLS).collect()
            got = {r["id"]: (r["day"], r["ts"], r["v"]) for r in rows}
            rec.check(
                len(rows) == len(got) and got == m.rows(sorted(m.in_range(lo, hi))),
                f"range [{lo}, {hi}]",
            )
            if rec.trace:
                man = M.read_manifest(t.path)
                sel = t.files_in_range("ts", lo, hi, man=man)
                rec.count("table.manifest.range_files_selected_ratio",
                          len(sel) / man.n_files)
        # consumers of the cycle's increment: exactly the current rows
        # of the files written since ``since``, which hold every winner
        # of the cycle's batch
        expect = self._increment(since)
        winners = self._batch_winners(cyc)
        for _ in range(self.sz.incrementals_per_cycle):
            with rec.op("incremental", record):
                with rec.span("table.keyed_table"):
                    df = t.read_incremental(spark, since)
                with rec.span("session.collect"):
                    rows = df.select(*COLS).collect()
            got = {r["id"]: (r["day"], r["ts"], r["v"]) for r in rows}
            rec.check(
                len(rows) == len(got) and got == expect
                and all(got.get(k) == v for k, v in winners.items()),
                f"incremental since {since}: {len(got)} rows, "
                f"expected {len(expect)}",
            )
        # a second reader of the aggregate, after the reads above
        rec.check(self._sql_agg(record) == self.snap_agg[head],
                  "sql aggregate after reads")
        if rec.trace:
            rec.count(
                "plans.persist_registry.persisted_rdds_after_op",
                self.spark.sparkContext._jsc.getPersistentRDDs().size(),
            )

    def _increment(self, since: str) -> dict:
        """What ``read_incremental(since)`` must return: the rows of the
        data files the head snapshot lists and the ``since`` snapshot
        does not, read with pyarrow, that the model holds as current."""
        root, m = self.t.path, self.model
        added = set(M.read_manifest(root).files) - set(
            M.read_manifest(root, since).files
        )
        current = []
        for f in sorted(added):
            b = pq.read_table(
                os.path.join(M.data_dir(root), f), columns=["id", "ts", "v"]
            )
            ids, ts, v = (b[c].to_numpy() for c in ("id", "ts", "v"))
            cur = m.live[ids] & (m.ts[ids] == ts) & (m.v[ids] == v)
            current.append(ids[cur])
        return m.rows(np.concatenate(current)) if current else {}

    def _batch_winners(self, cyc: gen.Cycle) -> dict:
        """Rows of ``cyc``'s batch that the model kept."""
        b = pq.read_table(cyc.batch, columns=COLS)
        cur = self.model.rows(b["id"].to_numpy())
        out = {}
        for k, d, ts, v in zip(*(b[c].to_pylist() for c in COLS)):
            if cur.get(k) == (d, ts, v):
                out[k] = (d, ts, v)
        return out

    # -- traced counters ------------------------------------------------

    def _commit_counters(self, before, after, rows: int) -> None:
        rec = self.rec
        old, new = set(before.files), set(after.files)
        added, removed = new - old, old - new
        parts = {M.partition_of(f) for f in added | removed}
        fb = after.file_bytes
        written = sum(fb.get(f, 0) for f in added)
        live_bytes = sum(fb.get(f, 0) for f in new)
        per_row = live_bytes / max(1, after.total_rows() or 1)
        rec.count("table.keyed_table.partitions_touched_per_commit", len(parts))
        rec.count("table.keyed_table.files_rewritten_per_commit", len(removed))
        rec.count("table.keyed_table.bytes_written_per_commit", written)
        rec.count("table.keyed_table.write_amp", written / (rows * per_row))
        rec.count("table.dv.masked_positions",
                  sum(nd for _b, nd in after.dvs.values()))
        rec.count("table.dv.dv_files", len(after.dvs))

    def _probe_counters(self, keys: list[int]) -> None:
        rec, t = self.rec, self.t
        with rec.span("table.manifest"):
            t0 = time.perf_counter()
            man = M.read_manifest(t.path)
            rec.count("table.manifest.read_s", time.perf_counter() - t0)
        rec.count("table.manifest.live_files", man.n_files)
        with rec.span("table.bloom"):
            bloom = t.files_with_keys(keys, man=man)
        with rec.span("table.record_index"):
            t0 = time.perf_counter()
            rli = t.files_hosting_keys(self.spark, keys, man=man)
            rec.count("table.record_index.locate_s", time.perf_counter() - t0)
        rec.count("table.bloom.files_per_lookup", len(bloom))
        rec.count("table.record_index.files_per_lookup", len(rli or []))
        if bloom:
            ddir = M.data_dir(t.path)
            hosts = {
                os.path.basename(r[0])
                for r in self.spark.read.parquet(
                    *[os.path.join(ddir, f) for f in bloom]
                )
                .where(F.col("id").isin(keys))
                .select(F.input_file_name())
                .distinct()
                .collect()
            }
            fp = sum(1 for f in bloom if os.path.basename(f) not in hosts)
            rec.count("table.bloom.false_positive_ratio", fp / len(bloom))

    def _stream_counters(self, op: str, record: bool) -> None:
        """Fold the progress events of the op that just ran."""
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        events, self.progress.events = self.progress.events, []
        if not record or not events:
            return
        rec = self.rec
        dur = [e.durationMs for e in events]
        trig = sum(d.get("triggerExecution", 0) for d in dur) / 1e3
        rec.count(f"streaming.query_overhead_s.{op}",
                  max(0.0, rec.samples[op][-1] - trig))
        if op == "commit":
            rec.count("streaming.ingest.add_batch_ms",
                      sum(d.get("addBatch", 0) for d in dur))
        elif op == "refresh":
            for key, metric in (("latestOffset", "latest_offset_ms"),
                                ("getBatch", "get_batch_ms"),
                                ("queryPlanning", "query_planning_ms")):
                rec.count(f"streaming.table_source.{metric}",
                          sum(d.get(key, 0) for d in dur))

    # -- end of run ------------------------------------------------------

    def space_amp(self) -> float:
        """Bytes under the table root over the bytes of its live
        snapshot written once by a plain Spark parquet write."""
        ref = os.path.join(self.work, "space_ref")
        self.t.read(self.spark).write.partitionBy("day").parquet(ref)
        amp = dir_bytes(self.t.path) / dir_bytes(ref)
        shutil.rmtree(ref)
        return amp

    def final_check(self) -> None:
        """The table equals a plain-Spark window dedup of every batch it
        received, minus the deleted keys."""
        spark = self.spark
        files = [self.base] + [c.batch for c in self.done]
        dels = [c.deletes for c in self.done if c.deletes is not None]
        rows = spark.read.schema(SCHEMA).parquet(*files).select(*COLS)
        w = Window.partitionBy("id").orderBy(F.col("ts").desc())
        ref = (
            rows.withColumn("rn", F.row_number().over(w))
            .where("rn = 1")
            .drop("rn")
        )
        if dels:
            gone = spark.read.schema("id BIGINT").parquet(*dels)
            ref = ref.join(gone, "id", "left_anti")
        got = self.t.read(spark).select(*COLS)
        diff = got.exceptAll(ref).count() + ref.exceptAll(got).count()
        self.rec.check(diff == 0, f"final table vs reference: {diff} rows differ")
        # time travel to the first and the next-to-last snapshot
        commits = [c for c in self.t.commits() if c in self.snap_agg]
        for cid in (commits[0], commits[-2]):
            rows = (
                self.t.read(spark, at=cid).groupBy("day")
                .agg(F.count("*").alias("n"), F.sum("v").alias("s"))
                .collect()
            )
            self.rec.check(agg_of(rows) == self.snap_agg[cid],
                           f"time travel to {cid}")
        if self.stream and self.rec.trace:
            snap = got.groupBy("day").agg(
                F.count("*").alias("n"), F.sum("v").alias("s")
            )
            self.rec.check(self._refresh() == agg_of(snap.collect()),
                           "CDF-maintained aggregate vs final snapshot aggregate")

    def layer_summary(self) -> None:
        rec = self.rec
        t = self.t
        meta = dir_bytes(t.path, skip=M.data_dir(t.path))
        n_commits = len(t.commits())
        rec.count("table.manifest.commits", n_commits)
        rec.count("table.manifest.meta_bytes_per_commit", meta / n_commits)
        rec.count("session.jvm_peak_rss_mb", probe.jvm_peak_rss_mb(self.spark))
        cycles = max(1, len(self.done))
        for layer, s in rec.self_times().items():
            rec.count(f"selftime.{layer}.s_per_cycle", s / cycles)
        for name, key in (("commit_p50_s", "commit"),
                          ("lookup_p50_s", "lookup")):
            rec.count(f"trace.{name}", rec.p50(key))
        if self.curate:
            rec.count("operators.curation_pass_p50_s", rec.p50("curation"))

    def run(self, seconds: float) -> dict:
        """Warm up, then time TIMED_CYCLES cycles (and, when
        curating, the timed curation passes). ``seconds`` only caps the
        timed cycles: a cycle that would start after it is skipped, so a
        run on a stalled host still ends."""
        spark, rec = self.spark, self.rec
        t0 = time.perf_counter()
        for cyc in self.cycles[:WARM_CYCLES]:
            self.cycle(cyc, record=False)
        t1 = time.perf_counter()
        space = self.space_amp()
        t2 = time.perf_counter()
        for cyc in self.cycles[WARM_CYCLES:]:
            if time.perf_counter() - t2 >= seconds:
                print(f"cap reached after {len(self.done) - WARM_CYCLES}"
                      " timed cycles", flush=True)
                break
            self.cycle(cyc)
        t3 = time.perf_counter()
        if self.curate:
            for i in range(CURATION_WARM + CURATION_TIMED):
                curation.run_pass(spark, rec, self.corpus, i >= CURATION_WARM)
            rec.count(
                "plans.persist_registry.persisted_rdds_after_op",
                spark.sparkContext._jsc.getPersistentRDDs().size(),
            )
        t4 = time.perf_counter()
        self.final_check()
        self.phases.update(warm_up=t1 - t0, space_amp=t2 - t1, cycles=t3 - t2,
                           curation=t4 - t3, final_check=time.perf_counter() - t4)
        if rec.trace:
            self.layer_summary()
        return {"space_amp": space}
