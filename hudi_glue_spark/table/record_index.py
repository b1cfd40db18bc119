"""Record-level index: a persisted key→file index (Hudi 1.0
record-level-index parity; ↦ the record-key tagging the reference
delegates to ``hoodie.index.type`` inside the Hudi JARs,
glue/HudiJarGlueJob.py:83).

The index is an LSM-shaped parquet dataset under ``<root>/_rli/``:

- **base** segments — the snapshot's ``(key, file, seq)`` entries,
  globally sorted by key so every segment covers a tight key span
  (recorded from the parquet footer in the commit registration);
- **delta** segments — one small sorted run per mutating commit,
  covering ONLY that commit's freshly written files (O(changed rows),
  appended by ``KeyedTable._commit``'s central hook);
- the **registration** — ``{key, seq, base: {name: span},
  deltas: {name: span}}`` — rides each commit's manifest stats, so
  rollback / time travel restore the exact index state of the target
  snapshot for free and ``clean()`` GCs segments referenced by no
  retained commit (the deletion-vector lifecycle, applied to index
  files).

SEMANTICS — a pruning index with a superset guarantee, the same
stance as the manifest stats and key blooms: every live row's
``(key, host file)`` pair appears in some segment (base covers the
build-time snapshot; every later commit's new files get a delta), so
``entries(key) ∩ live-files`` is a SUPERSET of the key's true hosts.
Entries pointing at removed files are filtered against the manifest's
live set at lookup time; entries pointing at live files that no
longer hold the key's visible row (a DV-masked original) cost one
pruned read, never correctness — the exact key filter re-applies
after the scan. No "latest entry wins" reduction is needed, which
also keeps the index correct for tables holding duplicate keys
(``bulk_insert(dedupe=False)``).

At 100 TB the difference is the probe shape: the bloom sidecar probe
decodes O(live files) filters driver-side per lookup, while the RLI
prunes by key span to a handful of sorted segments and answers with
a scan of O(probe-span) index bytes — streamed on the driver when the
pruned segments fit one scan split, executor-side above that — and a
100M-row upsert batch tags its candidate files with one distributed
join against the index instead of a driver loop. A small commit's
delta run is likewise sorted and written on the driver with pyarrow;
bigger deltas and base builds keep the Spark global sort.
"""

from __future__ import annotations

import os
import shutil

RLI_SUBDIR = "_rli"


def rli_dir(root: str) -> str:
    return os.path.join(root, RLI_SUBDIR)


def list_segments(root: str) -> list[str]:
    d = rli_dir(root)
    if not os.path.isdir(d):
        return []
    return sorted(fn for fn in os.listdir(d) if fn.endswith(".parquet"))


def write_entries(
    df,
    root: str,
    cid: str,
    key_col: str,
    max_records_per_file: int | None = None,
) -> dict[str, list | None]:
    """Stage ``df`` (``key, file, seq``) as globally key-sorted parquet
    segments and move them under ``_rli/`` with commit-prefixed,
    writer-token names (the data-file staging idiom — segments are
    immutable once moved; the REGISTRATION in the commit manifest is
    the publish point, so a failed commit leaves only unreferenced
    orphans for clean()). Returns ``{segment_name: [key_lo, key_hi] |
    None}`` with spans read from the parquet footer — no extra scan."""
    stage, token = _stage_dir(root, cid)
    w = df.sort(key_col).write.mode("overwrite")
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", str(max_records_per_file))
    w.parquet(stage)
    return _publish_stage(stage, root, cid, token, key_col)


def write_entries_arrow(table, root: str, cid: str, key_col: str) -> dict:
    """:func:`write_entries` for an entry table already on the driver
    (a small commit's delta): sort with pyarrow and stage ONE segment,
    under the same staging, naming and footer-span rules."""
    import pyarrow.parquet as pq

    stage, token = _stage_dir(root, cid)
    os.makedirs(stage)
    # dictionary pages only where they pay (few file names, one seq):
    # dictionary-encoding the unique keys costs writer memory for nothing
    pq.write_table(
        table.sort_by(key_col),
        os.path.join(stage, "part-00000.parquet"),
        use_dictionary=["file", "seq"],
    )
    return _publish_stage(stage, root, cid, token, key_col)


def _stage_dir(root: str, cid: str) -> tuple[str, str]:
    import uuid

    token = uuid.uuid4().hex[:8]
    stage = os.path.join(root, ".tmp", f"rli-{cid}-{token}")
    shutil.rmtree(stage, ignore_errors=True)
    return stage, token


def _publish_stage(
    stage: str, root: str, cid: str, token: str, key_col: str
) -> dict[str, list | None]:
    from hudi_glue_spark.table.keyed_table import _parquet_footer_stats

    out: dict[str, list | None] = {}
    d = rli_dir(root)
    os.makedirs(d, exist_ok=True)
    i = 0
    for fn in sorted(os.listdir(stage)):
        if not fn.endswith(".parquet"):
            continue
        src = os.path.join(stage, fn)
        n, st = _parquet_footer_stats(src, [key_col])
        if n == 0:
            continue  # empty task output: nothing to index
        name = f"{cid}-{token}-{i:05d}.parquet"
        os.replace(src, os.path.join(d, name))
        out[name] = st.get(key_col)
        i += 1
    shutil.rmtree(stage, ignore_errors=True)
    return out


#: a registration whose base+deltas span maps exceed this many bytes
#: of JSON moves them into a parquet sidecar under ``_rli/``, leaving
#: only a pointer in the commit stats — the Iceberg metadata-tree
#: move the manifest shards already made (SURVEY §9d#1): without it a
#: table carrying several column indexes through a long un-compacted
#: delta chain grows EVERY commit's JSON linearly in O(indexes ×
#: chain length). Per-registration bound, so the commit JSON ceiling
#: is ~indexes × this; 1 KiB keeps a 10-index table's commits near
#: their no-index size (measured: max 12 KB over a 100-commit chain,
#: vs 63 KB at a 4 KiB bound and unbounded growth before the spill).
REG_SPILL_BYTES = 1024


def _reg_sidecar_name(cid: str) -> str:
    import uuid

    return f"{cid}-{uuid.uuid4().hex[:8]}-reg.parquet"


def pack_reg(root: str, cid: str, reg: dict | None) -> dict | None:
    """Spill a big registration's span maps to a parquet sidecar and
    return the pointer form ``{key, seq, ref, n_base, n_deltas}``;
    small registrations (and pointers already packed by a parent
    commit whose maps didn't change) pass through untouched. The
    sidecar is immutable and lives in ``_rli/`` so the existing
    segment lifecycle (clean GC by retained-commit reference,
    rollback restore, validate audit) covers it for free."""
    import json

    if reg is None or "ref" in reg:
        return reg
    base = reg.get("base") or {}
    deltas = reg.get("deltas") or {}
    if len(json.dumps({"b": base, "d": deltas})) <= REG_SPILL_BYTES:
        return reg
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows_kind, rows_name, rows_span = [], [], []
    for kind, m in (("base", base), ("delta", deltas)):
        for name in sorted(m):
            rows_kind.append(kind)
            rows_name.append(name)
            span = m[name]
            rows_span.append(None if span is None else json.dumps(span))
    t = pa.table(
        {
            "kind": pa.array(rows_kind, pa.string()),
            "name": pa.array(rows_name, pa.string()),
            "span_json": pa.array(rows_span, pa.string()),
        }
    )
    d = rli_dir(root)
    os.makedirs(d, exist_ok=True)
    ref = _reg_sidecar_name(cid)
    tmp = os.path.join(d, f".tmp-{ref}")
    pq.write_table(t, tmp)
    os.replace(tmp, os.path.join(d, ref))
    return {
        "key": reg["key"],
        "seq": reg["seq"],
        "ref": ref,
        "n_base": len(base),
        "n_deltas": len(deltas),
    }


def resolve_reg(root: str, reg: dict | None) -> dict | None:
    """Materialize a (possibly packed) registration: pointers load
    their sidecar's span maps; plain registrations pass through. Every
    reader of ``man.stats['record_index' | 'column_indexes']`` goes
    through here."""
    import json

    if reg is None or "ref" not in reg:
        return reg
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(rli_dir(root), reg["ref"]))
    base: dict = {}
    deltas: dict = {}
    for kind, name, span in zip(
        t.column("kind").to_pylist(),
        t.column("name").to_pylist(),
        t.column("span_json").to_pylist(),
    ):
        (base if kind == "base" else deltas)[name] = (
            None if span is None else json.loads(span)
        )
    return {"key": reg["key"], "seq": reg["seq"], "base": base, "deltas": deltas}


def reg_file_names(
    root: str, reg: dict | None, strict: bool = False
) -> set[str]:
    """Every ``_rli/`` file a registration keeps alive: its segments
    (resolving a pointer's sidecar when needed) plus the sidecar
    itself — the lifecycle unit clean()/validate() track.

    ``strict=True`` (the clean() liveness pass) PROPAGATES a sidecar
    resolve failure instead of degrading to ``{ref}``: a transiently
    unreadable sidecar (EIO, partial copy) must make the caller skip
    its ``_rli`` sweep, not treat every still-referenced segment as
    unreferenced and unlink live index files (ADVICE r10)."""
    if reg is None:
        return set()
    out: set[str] = set()
    if "ref" in reg:
        out.add(reg["ref"])
        try:
            reg = resolve_reg(root, reg)
        except Exception:  # noqa: BLE001 — sidecar gone
            if strict:
                raise
            return out  # audit contexts report the miss; don't crash
    out.update(reg.get("base") or {})
    out.update(reg.get("deltas") or {})
    return out


def prune_isin(segments: dict[str, list | None], probes_norm: list) -> list[str]:
    """Segment names that may hold ANY of the normalized probe values:
    span-intersected driver-side (the registration is O(segments),
    hundreds of entries, so plain Python beats shipping it anywhere).
    Segments without a recorded span are always kept — pruning must
    never be load-bearing for correctness."""
    keep = []
    for name, span in segments.items():
        if span is None or span[0] is None or span[1] is None:
            keep.append(name)
            continue
        lo, hi = span
        if any(lo <= p <= hi for p in probes_norm):
            keep.append(name)
    return sorted(keep)


def probe_hosts(
    root: str, names: list[str], key_col: str, probes: list, max_bytes: int
) -> set[str] | None:
    """Files the named segments pair with any of ``probes``, answered
    on the driver: each segment streams in record batches with its
    ``file`` column dictionary-encoded (driver memory stays one batch,
    not one segment) and keys match C-side with ``is_in``. Returns
    None — the caller's Spark filter answers instead — when the
    segments total more than ``max_bytes`` or the probe values do not
    cast exactly to a segment's integer or string key type, so the
    answer is always the Spark filter's host set."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    d = rli_dir(root)
    paths = [os.path.join(d, n) for n in names]
    if sum(os.path.getsize(p) for p in paths) > max_bytes:
        return None
    try:
        want = pa.array(probes).drop_null()
    except (pa.ArrowInvalid, pa.ArrowTypeError):
        return None  # mixed or unrepresentable probe values
    cast: dict = {}
    hits: set[str] = set()
    for p in paths:
        with pq.ParquetFile(p, read_dictionary=["file"]) as pf:
            kt = pf.schema_arrow.field(key_col).type
            if kt not in cast:
                same = (
                    pa.types.is_integer(kt) and pa.types.is_integer(want.type)
                ) or (pa.types.is_string(kt) and pa.types.is_string(want.type))
                if not same:
                    return None
                try:
                    cast[kt] = want.cast(kt)
                except pa.ArrowInvalid:
                    return None  # a probe out of the segment type's range
            for b in pf.iter_batches(columns=[key_col, "file"]):
                m = pc.is_in(b.column(0), value_set=cast[kt], skip_nulls=True)
                if pc.any(m).as_py():
                    hits.update(b.column(1).filter(m).unique().to_pylist())
    return hits


def entries_df(spark, root: str, names: list[str], key_field):
    """Scan the named index segments under the CURRENT key type (a
    widened key upcasts in place, same as data files) — schema
    ``(key, file, seq)``."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            key_field,
            StructField("file", StringType(), False),
            StructField("seq", LongType(), False),
        ]
    )
    d = rli_dir(root)
    if not names:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(
        *[os.path.join(d, n) for n in names]
    )
