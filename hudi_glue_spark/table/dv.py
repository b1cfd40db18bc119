"""Deletion vectors: positional row-level deletes without file rewrites.

The reference's Hudi tables are COPY-ON-WRITE (``storage.type=cow``
implied by glue/HudiJarGlueJob.py's writer config): every upsert/delete
rewrites whole files, so a 10-row correction in a 1 GB file costs 1 GB
of write amplification. Modern table formats (Hudi MoR, Delta deletion
vectors, Iceberg v2 position deletes) fix this with a sidecar that
marks individual ROW POSITIONS dead; readers mask them out, and
compaction folds them into real rewrites later. This module is that
sidecar for :class:`KeyedTable`:

- A DV is a dense bitmap over one data file's row positions
  (bit i set = row i is dead), zlib-compressed — ~rows/8 bytes worst
  case per file, far less for the sparse masks point-DML produces.
- DV blobs are immutable files under ``<root>/_dv/``, named like data
  files (``{commit}-{token}-{i}.dv``); a commit that adds dead rows to
  a file writes a NEW blob holding the UNION and re-points the
  manifest. Old blobs stay referenced by old commits (time travel) and
  are reclaimed by clean() when those commits age out.
- The manifest (commit JSON) carries ``dvs: {rel_file: [dv_name,
  n_dead]}`` — O(files with DVs), bounded because maintenance folds
  DVs into rewrites. Readers apply the mask positionally during the
  arrow scan (sources/manifest_relation.py), so a masked read costs
  one bitmap slice per batch, never a join.

Layout note: positions are 0-based row indices within ONE parquet
file, in physical row order — exactly what a sequential arrow scan
yields, and what Spark's ``_metadata.row_index`` would call the same
rows. All functions are driver-or-executor safe (pure numpy/zlib).
"""

from __future__ import annotations

import os
import struct
import zlib

import numpy as np

MAGIC = b"HGDV1\x00"
_HDR = struct.Struct("<6sQQ")  # magic, nrows, ndead


def dv_dir(root: str) -> str:
    return os.path.join(root, "_dv")


def from_positions(positions, nrows: int) -> bytes:
    """Serialize a DV blob marking ``positions`` dead in a file of
    ``nrows`` rows. Positions out of range are rejected (a DV that
    outlives its file's row count is a corruption, not a request)."""
    pos = np.asarray(positions, dtype=np.int64)
    if pos.size and (pos.min() < 0 or pos.max() >= nrows):
        raise ValueError(
            f"DV position out of range: file has {nrows} rows, "
            f"got [{pos.min()}, {pos.max()}]"
        )
    bits = np.zeros(nrows, dtype=bool)
    bits[pos] = True
    ndead = int(bits.sum())
    payload = zlib.compress(np.packbits(bits).tobytes(), 6)
    return _HDR.pack(MAGIC, nrows, ndead) + payload


def _unpack(blob: bytes) -> tuple[int, int, np.ndarray]:
    magic, nrows, ndead = _HDR.unpack_from(blob)
    if magic != MAGIC:
        raise ValueError("not a DV blob")
    raw = np.frombuffer(zlib.decompress(blob[_HDR.size :]), dtype=np.uint8)
    bits = np.unpackbits(raw)[:nrows].astype(bool)
    return nrows, ndead, bits


def num_rows(blob: bytes) -> int:
    return _HDR.unpack_from(blob)[1]


def dead_count(blob: bytes) -> int:
    return _HDR.unpack_from(blob)[2]


def dead_mask(blob: bytes, offset: int = 0, length: int | None = None):
    """Boolean dead-mask slice ``[offset, offset+length)`` — what a
    scanner applies per RecordBatch as it walks a file sequentially."""
    _nrows, _nd, bits = _unpack(blob)
    if length is None:
        return bits[offset:]
    return bits[offset : offset + length]


def positions(blob: bytes) -> np.ndarray:
    _nrows, _nd, bits = _unpack(blob)
    return np.flatnonzero(bits).astype(np.int64)


def union(a: bytes, b: bytes) -> bytes:
    """OR of two DVs over the same file (row counts must agree)."""
    na, _, ba = _unpack(a)
    nb, _, bb = _unpack(b)
    if na != nb:
        raise ValueError(f"DV row counts disagree: {na} vs {nb}")
    bits = ba | bb
    payload = zlib.compress(np.packbits(bits).tobytes(), 6)
    return _HDR.pack(MAGIC, na, int(bits.sum())) + payload


# -- blob IO -----------------------------------------------------------------

#: tiny immutable-blob cache (DV files never change once published)
_CACHE: dict[tuple[str, str], bytes] = {}
_CACHE_MAX = 4096


def write(root: str, name: str, blob: bytes) -> None:
    d = dv_dir(root)
    os.makedirs(d, exist_ok=True)
    tmp = os.path.join(d, f".{name}.tmp")
    with open(tmp, "wb") as f:
        f.write(blob)
    os.replace(tmp, os.path.join(d, name))


def read(root: str, name: str) -> bytes:
    key = (root, name)
    blob = _CACHE.get(key)
    if blob is None:
        with open(os.path.join(dv_dir(root), name), "rb") as f:
            blob = f.read()
        if len(_CACHE) >= _CACHE_MAX:
            _CACHE.clear()
        _CACHE[key] = blob
    return blob


def exists(root: str, name: str) -> bool:
    return os.path.isfile(os.path.join(dv_dir(root), name))


def list_blobs(root: str) -> list[str]:
    d = dv_dir(root)
    if not os.path.isdir(d):
        return []
    return sorted(n for n in os.listdir(d) if n.endswith(".dv"))
