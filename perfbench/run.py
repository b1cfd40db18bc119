"""Keyed-lakehouse benchmark: one closed-loop workload per run.

    python3 perfbench/run.py --workload cow_batch_upsert --seed 1 \
        --seconds 16 --trace 0

Run from the root of a checkout. The engine package is imported from
that root; nothing outside the checkout is read or written. The last
line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BENCH = os.path.join(ROOT, "BENCHMARK.json")
T_START = time.perf_counter()


def _cpu_ticks() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat: user, nice, system,
    idle, iowait, irq, softirq, steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def _rig(spark=None) -> dict:
    rig = {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg": os.getloadavg(),
        "cpu_ticks": _cpu_ticks(),
    }
    if spark is not None:
        import pyarrow

        rig["spark"] = spark.version
        rig["pyarrow"] = pyarrow.__version__
    return rig


def _session(work: str, cpus: int):
    from hudi_glue_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    spark = get_spark(
        "perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it
    started) to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.terminate()
        proc.wait(timeout=60)


def end_to_end(loop, rec, setup: list[float], extra: dict) -> dict:
    import probe

    print("samples " + json.dumps(
        {k: [round(x, 4) for x in v] for k, v in rec.samples.items()}),
        flush=True)
    m = {
        "setup_s": (statistics.median(setup), "s"),
        "commit_p50_s": (rec.p50("commit"), "s"),
        "lookup_p50_s": (rec.p50("lookup"), "s"),
        "range_read_p50_s": (rec.p50("range"), "s"),
        "incremental_read_p50_s": (rec.p50("incremental"), "s"),
        "snapshot_agg_p50_s": (rec.p50("snapshot_agg"), "s"),
        "ingest_rows_per_s": (loop.write_rows / loop.write_s, "1/s"),
        "space_amp": (extra["space_amp"], "ratio"),
        "driver_peak_rss_mb": (probe.driver_peak_rss_mb(), "MB"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def per_layer(rec) -> dict:
    """Every per-layer metric BENCHMARK.json names, as the mean of its
    samples; 0 where the workload never reaches that layer."""
    with open(BENCH) as f:
        spec = json.load(f)["per_layer"]
    out = {}
    for s in spec:
        vals = rec.layer.get(s["name"], [])
        out[s["name"]] = {
            "value": statistics.fmean(vals) if vals else 0.0,
            "unit": s["unit"],
        }
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["cow_batch_upsert", "dv_stream_cdc"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "hudi_glue_spark")):
        print(f"engine package missing under {ROOT}", file=sys.stderr)
        return 2
    # Python workers (UDFs, the Python data sources behind
    # stream_changes) import the engine too: put the checkout on their
    # path before the JVM starts them
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.chdir(work)
    rig = _rig()
    spark = None
    try:
        import loop
        import probe

        cpus = rig["nproc"]
        spark = _session(work, cpus)
        rec = probe.Recorder(spark, args.workload, bool(args.trace))
        wl = loop.TableLoop(spark, rec, args.workload, args.seed, work)
        t0 = time.perf_counter()
        setup = wl.set_up()
        t1 = time.perf_counter()
        extra = wl.run(args.seconds)
        phases = {"start": t0 - T_START, "set_up": t1 - t0, **wl.phases}
        print("phases " + json.dumps({k: round(v, 2) for k, v in phases.items()})
              + f" setup_reps {[round(x, 2) for x in setup]}"
              + f" cycles {len(wl.done)}", flush=True)
        metrics = (
            per_layer(rec) if args.trace else end_to_end(wl, rec, setup, extra)
        )
        after = _rig(spark)
        rig["loadavg_after"] = after.pop("loadavg")
        # hypervisor steal while the run was on CPU, as a share of all
        # CPU time: a run with high steal reads slow throughout
        d = [b - a for a, b in zip(rig.pop("cpu_ticks"), after.pop("cpu_ticks"))]
        rig["steal_pct"] = round(100.0 * d[7] / max(1, sum(d)), 1)
        rig.update(after)
        print("rig " + json.dumps(rig), flush=True)
        if args.trace:
            out = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out, exist_ok=True)
            path = os.path.join(
                out, f"spans-{args.workload}-{args.seed}-{int(time.time())}.jsonl"
            )
            rec.write_spans(path)
            print(f"spans written to {os.path.relpath(path, ROOT)}", flush=True)
    finally:
        if spark is not None:
            _stop(spark)
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": rec.failed == 0,
        "attempted": rec.attempted,
        "failed": rec.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
