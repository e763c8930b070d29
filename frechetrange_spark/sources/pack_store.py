"""Curve packs: the one way every refine kernel gets its curves.

A curve pack is ``{"ids", "cols", "scal"}``: every array column
(xs/ys and the s{i}_xs/s{i}_ys simplification levels) as (flat float64,
absolute offsets int64) buffers, one list row per curve, plus the
per-curve s{i}_eps scalars. A refine kernel receives an Arrow batch of
pairs, asks ``resolve_pack`` for each side's pack and per-pair row
selectors, and runs the ``kernels.batch.*_buffers`` kernels on them. A
side's source spec is one of three kinds:

- ``("bcast", broadcast)`` — the whole curve table packed on the driver
  (``pack_curves``) and shipped in one SparkContext broadcast, LRU-cached
  per table (``pack_broadcast``). The pair rows carry ids only.
- ``("disk", path)`` — the co-partitioned on-disk store below.
  ``gather_pack`` resolves the batch's unique ids to blocks via the
  manifest, mmaps only the touched blocks and gathers just the needed
  curves. The pair rows carry ids only.
- ``("rows", prefix)`` — the batch's own ``{prefix}xs``/``{prefix}ys``
  (and ``{prefix}s{i}_*``) columns, read zero-copy with identity
  selectors: the arrays ride every pair row.

Every kind yields the same buffers for the same curve, so the funnel and
decider results are bit-identical across sources.

Which kind a side gets is the engine's choice, made per side by
``choose_source`` from what it can see: broadcast when that side's array
payload fits ``spark.sql.autoBroadcastJoinThreshold``; else the disk
store when one holds exactly that side's curves; else rows. The payload
estimate and the threshold parsing live here too.

The disk store: once a curve table's array payload exceeds the broadcast
threshold, shipping arrays on every pair row costs ~4 KB per candidate
pair through the join, the repartition and the JVM->Python Arrow stream.
``write_pack`` materializes the curve arrays ONCE as traj_id
range-partitioned, id-sorted flat npy blocks (one block per Spark task —
a distributed write, nothing passes through the driver) plus a tiny JSON
manifest of [block dir, min_id, max_id].

Per-executor amortization: block mmaps are cached per python worker
process (workers are reused across batches/tasks), and the OS page cache
shares the underlying bytes across workers on the same host — each
executor reads a curve's bytes ~once per query, like the broadcast pack,
instead of once per candidate pair like the rows source. On a real
cluster the store lives on the shared store (HDFS/S3 via a local block
cache); locally it is a directory.

Write atomicity under task retries: each attempt writes into its own
``block_<pid>_<attemptId>`` directory and the manifest — assembled on the
driver from the COMMITTED task outputs only — is written last; orphan
attempt dirs are never referenced.
"""

from __future__ import annotations

import json
import os

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MANIFEST = "_manifest.json"

# (query side, dataset side) source specs for pair rows that carry both
# curves' arrays (q_xs/q_ys/xs/ys plus any simplification columns)
ROW_SOURCES = (("rows", "q_"), ("rows", ""))


def pack_columns(df_columns, simp_levels: int | None = None):
    """(list_cols, scalar_cols) packed for a curve table: xs/ys plus the
    s{i}_xs/s{i}_ys arrays and s{i}_eps scalars for every stored
    simplification level (or the first ``simp_levels`` levels)."""
    cols, scal = ["xs", "ys"], []
    i = 0
    while f"s{i}_xs" in df_columns and (simp_levels is None or i < simp_levels):
        cols += [f"s{i}_xs", f"s{i}_ys"]
        scal.append(f"s{i}_eps")
        i += 1
    return cols, scal


# ---------------------------------------------------------------------------
# payload policy (driver side): how big a curve table's arrays are, and
# whether they fit the broadcast threshold
# ---------------------------------------------------------------------------


def est_payload_bytes(points: int, rows: int) -> int:
    """Estimated in-memory broadcast size of a curve table's array payload
    from its point count (full-resolution arrays plus every stored
    simplification level) and row count: 16 bytes per (x, y) point times
    a 3x HashedRelation overhead factor, plus per-row slack."""
    return points * 16 * 3 + rows * 64


def _est_broadcast_bytes(df: DataFrame) -> int:
    """est_payload_bytes of a curve table, with the point counts summed
    exactly over the list sizes of every stored resolution (one job)."""
    xs_cols = [c for c in pack_columns(df.columns)[0] if c.endswith("xs")]
    row = df.agg(*[F.sum(F.size(c)) for c in xs_cols], F.count("*")).collect()[0]
    return est_payload_bytes(sum(int(v or 0) for v in row[:-1]), int(row[-1]))


def _plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's own size estimate for the plan (file-size-based for
    parquet scans) — free: no job runs. None when the JVM handle doesn't
    expose stats (e.g. a mocked session)."""
    try:
        return int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes().longValue()
        )
    except Exception:
        return None


def _payload_bytes_gated(df: DataFrame, thr: int) -> int:
    """_est_broadcast_bytes with a known-large short-circuit: when
    Catalyst's free plan-size estimate already exceeds 8x the broadcast
    threshold, skip the full array-column scan and report the plan size
    (any value > thr suffices — on-disk parquet of incompressible float
    trajectories is ~1/3 the in-memory payload, so 8x leaves a wide
    safety margin against compression). Keeps ``choose_source`` from
    paying a full pass over a 100-TB table just to conclude it does not
    fit."""
    plan_bytes = _plan_size_bytes(df)
    if plan_bytes is not None and plan_bytes > 8 * thr:
        return plan_bytes
    return _est_broadcast_bytes(df)


_BYTE_SUFFIXES = {
    "k": 1024,
    "m": 1024**2,
    "g": 1024**3,
    "t": 1024**4,
    "p": 1024**5,
}


def _parse_byte_string(raw: str) -> int:
    """Spark-style byte string: bare bytes or a k/m/g/t/p suffix with an
    optional trailing 'b' (JavaUtils.byteStringAsBytes semantics: '10m',
    '64K', '1gb'), case-insensitive."""
    s = raw.strip().lower()
    mult = 1
    if s.endswith("b") and len(s) > 1 and s[-2] in _BYTE_SUFFIXES:
        s = s[:-1]
    if s and s[-1] in _BYTE_SUFFIXES:
        mult = _BYTE_SUFFIXES[s[-1]]
        s = s[:-1]
    return int(s) * mult


def _broadcast_threshold(spark) -> int:
    raw = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "33554432")
    try:
        return max(_parse_byte_string(raw), 0)
    except ValueError:
        return 32 * 1024 * 1024


def _block_writer(cols: list[str], scal: list[str], out_dir: str):
    def fn(batches):
        import pyarrow as pa
        from pyspark import TaskContext

        from frechetrange_spark.kernels.batch import _list_buffers

        tbl = pa.Table.from_batches(list(batches))
        if tbl.num_rows == 0:
            return
        ctx = TaskContext.get()
        name = f"block_{ctx.partitionId():05d}_{ctx.taskAttemptId()}"
        d = os.path.join(out_dir, name)
        os.makedirs(d, exist_ok=True)
        ids = tbl.column("traj_id").combine_chunks().to_numpy().astype(np.int64)
        np.save(os.path.join(d, "ids.npy"), ids)
        for c in cols:
            flat, off = _list_buffers(tbl.column(c))
            # normalize offsets to start at 0 (combine_chunks can leave a
            # nonzero base) so readers can slice without a base term
            flat = np.ascontiguousarray(
                flat[off[0] : off[-1]], dtype=np.float64
            )
            np.save(os.path.join(d, f"{c}_flat.npy"), flat)
            np.save(os.path.join(d, f"{c}_off.npy"), (off - off[0]))
        for c in scal:
            np.save(
                os.path.join(d, f"{c}.npy"),
                tbl.column(c).combine_chunks().to_numpy().astype(np.float64),
            )
        yield pa.RecordBatch.from_arrays(
            [
                pa.array([name]),
                pa.array([int(ids[0])]),
                pa.array([int(ids[-1])]),
                pa.array([int(ids.size)]),
            ],
            ["block", "min_id", "max_id", "n"],
        )

    return fn


def write_pack(
    curves: DataFrame,
    path: str,
    n_blocks: int | None = None,
    target_block_bytes: int = 128 * 1024 * 1024,
    payload_bytes: int | None = None,
) -> dict:
    """Write the curve-pack store for ``curves`` under ``path``; returns
    the manifest dict. Block count defaults to the larger of the cluster
    parallelism and payload/target_block_bytes (~128 MB blocks: big
    enough to amortize open/mmap, small enough that one candidate batch
    never faults a monster file)."""
    spark = curves.sparkSession
    cols, scal = pack_columns(curves.columns)
    if n_blocks is None:
        par = spark.sparkContext.defaultParallelism
        if payload_bytes is None:
            payload_bytes = _est_broadcast_bytes(curves)
        n_blocks = max(par, -(-payload_bytes // target_block_bytes))
    os.makedirs(path, exist_ok=True)
    rows = (
        curves.select("traj_id", *cols, *scal)
        .repartitionByRange(int(n_blocks), "traj_id")
        .sortWithinPartitions("traj_id")
        .mapInArrow(
            _block_writer(cols, scal, os.path.abspath(path)),
            "block string, min_id long, max_id long, n long",
        )
        .collect()
    )
    blocks = sorted(
        (
            {
                "block": r["block"],
                "min_id": int(r["min_id"]),
                "max_id": int(r["max_id"]),
                "n": int(r["n"]),
            }
            for r in rows
        ),
        key=lambda b: b["min_id"],
    )
    manifest = {"cols": cols, "scal": scal, "blocks": blocks}
    tmp = os.path.join(path, MANIFEST + ".tmp")
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    os.replace(tmp, os.path.join(path, MANIFEST))
    return manifest


# ---------------------------------------------------------------------------
# reader (runs inside python workers; module state is the per-process cache)
# ---------------------------------------------------------------------------

_MANIFESTS: dict = {}
_BLOCKS: dict = {}
_BLOCK_CACHE_CAP = 64


def _manifest(path: str) -> dict:
    m = _MANIFESTS.get(path)
    if m is None:
        with open(os.path.join(path, MANIFEST)) as f:
            m = json.load(f)
        m["_min_ids"] = np.asarray(
            [b["min_id"] for b in m["blocks"]], dtype=np.int64
        )
        m["_max_ids"] = np.asarray(
            [b["max_id"] for b in m["blocks"]], dtype=np.int64
        )
        _MANIFESTS[path] = m
    return m


def _block(path: str, name: str, cols, scal) -> dict:
    """mmap handles for one block, LRU-cached per worker process."""
    key = (path, name)
    blk = _BLOCKS.pop(key, None)
    if blk is None:
        d = os.path.join(path, name)
        blk = {"ids": np.load(os.path.join(d, "ids.npy"))}
        for c in cols:
            blk[c] = (
                np.load(os.path.join(d, f"{c}_flat.npy"), mmap_mode="r"),
                np.load(os.path.join(d, f"{c}_off.npy")),
            )
        for c in scal:
            blk[c] = np.load(os.path.join(d, f"{c}.npy"), mmap_mode="r")
    _BLOCKS[key] = blk  # LRU refresh
    while len(_BLOCKS) > _BLOCK_CACHE_CAP:
        _BLOCKS.pop(next(iter(_BLOCKS)))
    return blk


def _ragged_gather(flat, off, idx):
    """Compact (flat, offsets) holding rows ``idx`` of a (flat, offsets)
    ragged array — one vectorized fancy-index, no per-row copies."""
    lens = off[idx + 1] - off[idx]
    out_off = np.zeros(idx.size + 1, dtype=np.int64)
    np.cumsum(lens, out=out_off[1:])
    pos = np.repeat(off[idx] - out_off[:-1], lens) + np.arange(
        int(out_off[-1]), dtype=np.int64
    )
    return np.asarray(flat[pos], dtype=np.float64), out_off


def gather_pack(path: str, ids: np.ndarray, simp_levels: int) -> dict:
    """Compact in-memory pack (same shape as ``pack_curves``)
    holding exactly the curves ``ids`` (sorted unique int64), gathered
    from the mmapped blocks the ids actually touch. Missing ids raise
    KeyError loudly (a silent miss would gather another curve)."""
    m = _manifest(path)
    cols, scal = pack_columns(m["cols"] + m["scal"], simp_levels)
    for c in cols + scal:
        if c not in m["cols"] + m["scal"]:
            raise KeyError(f"pack store at {path} lacks column {c}")
    bidx = np.searchsorted(m["_min_ids"], ids, "right") - 1
    if ids.size and (int(bidx.min()) < 0 or np.any(ids > m["_max_ids"][bidx])):
        raise KeyError("curve-pack store is missing candidate traj_ids")
    parts: list[dict] = []
    for b in np.unique(bidx) if ids.size else []:
        blk = _block(path, m["blocks"][int(b)]["block"], m["cols"], m["scal"])
        sel = ids[bidx == b]
        ridx = np.searchsorted(blk["ids"], sel)
        ridx = np.minimum(ridx, blk["ids"].size - 1)
        if not np.array_equal(blk["ids"][ridx], sel):
            raise KeyError("curve-pack store is missing candidate traj_ids")
        part = {"ids": sel, "cols": {}, "scal": {}}
        for c in cols:
            flat, off = blk[c]
            part["cols"][c] = _ragged_gather(flat, off, ridx)
        for c in scal:
            part["scal"][c] = np.asarray(blk[c][ridx], dtype=np.float64)
        parts.append(part)
    if not parts:
        z = np.empty(0, dtype=np.int64)
        return {
            "ids": z,
            "cols": {c: (np.empty(0), np.zeros(1, dtype=np.int64)) for c in cols},
            "scal": {c: np.empty(0) for c in scal},
        }
    if len(parts) == 1:
        return parts[0]
    out = {"ids": np.concatenate([p["ids"] for p in parts]), "cols": {}, "scal": {}}
    for c in cols:
        flats = [p["cols"][c][0] for p in parts]
        offs = [p["cols"][c][1] for p in parts]
        flat = np.concatenate(flats)
        off = np.zeros(sum(o.size - 1 for o in offs) + 1, dtype=np.int64)
        pos, base = 1, 0
        for o in offs:
            off[pos : pos + o.size - 1] = o[1:] + base
            base += o[-1]
            pos += o.size - 1
        out["cols"][c] = (flat, off)
    for c in scal:
        out["scal"][c] = np.concatenate([p["scal"][c] for p in parts])
    return out


# ---------------------------------------------------------------------------
# broadcast packs (driver side) and the per-batch resolver (worker side)
# ---------------------------------------------------------------------------


def pack_curves(df: DataFrame, simp_levels: int) -> dict:
    """Driver-side pack of a curve table for the broadcast source: every
    array column as (flat float64, offsets int64) buffers over the curves
    SORTED by traj_id, plus the per-curve simplification eps scalars.
    Only called when the table passed the broadcast-size gate of
    ``choose_source`` (payload <= autoBroadcastJoinThreshold), so the
    collect is bounded by the same budget a broadcast hash join would
    use."""
    cols, scal = pack_columns(df.columns, simp_levels)
    pdf = df.select("traj_id", *cols, *scal).orderBy("traj_id").toPandas()
    packed_cols = {}
    for c in cols:
        vals = pdf[c].to_numpy()
        lens = np.fromiter((len(v) for v in vals), dtype=np.int64, count=len(vals))
        off = np.concatenate([np.zeros(1, dtype=np.int64), np.cumsum(lens)])
        flat = (
            np.concatenate(list(vals)).astype(np.float64, copy=False)
            if len(vals)
            else np.empty(0, dtype=np.float64)
        )
        packed_cols[c] = (flat, off)
    return {
        "ids": pdf["traj_id"].to_numpy(dtype=np.int64),
        "cols": packed_cols,
        "scal": {c: pdf[c].to_numpy(dtype=np.float64) for c in scal},
    }


# Broadcast curve packs, cached per (optimized-plan semantic hash,
# simp_levels): repeated queries against the same index reuse ONE
# broadcast instead of re-collecting and re-broadcasting the pack per
# call, and eviction unpersists executor copies so a long-lived session
# issuing many broadcast-attach queries cannot accumulate broadcasts
# without bound. 8 entries: a working set of four concurrent query
# families (range queries and kNN), two packs each. Packs are ~5-15 MB
# broadcasts.
_PACK_CACHE: dict = {}
_PACK_CACHE_CAP = 8


def _plan_key(df: DataFrame):
    try:
        return int(df._jdf.queryExecution().optimizedPlan().semanticHash())
    except Exception:
        return id(df)


def pack_broadcast(df: DataFrame, simp_levels: int):
    """sc.broadcast of pack_curves(df), LRU-cached (see _PACK_CACHE).

    The cache key is the semantic hash of the PROJECTED plan (just the
    columns the pack reads), so two DataFrames that differ only in
    pack-irrelevant columns — e.g. a self-join's query side (no cell
    columns) vs its index side — share one collected pack instead of
    collecting and broadcasting the same curves twice. Each entry pins a
    reference to its source DataFrame so the id(df) fallback key can
    never alias a garbage-collected plan (a recycled CPython id would
    otherwise serve a stale pack)."""
    cols, scal = pack_columns(df.columns, simp_levels)
    proj = df.select("traj_id", *cols, *scal)
    key = (_plan_key(proj), simp_levels)
    hit = _PACK_CACHE.pop(key, None)
    if hit is not None:
        _PACK_CACHE[key] = hit  # LRU refresh
        return hit[0]
    b = df.sparkSession.sparkContext.broadcast(pack_curves(df, simp_levels))
    _PACK_CACHE[key] = (b, proj)
    while len(_PACK_CACHE) > _PACK_CACHE_CAP:
        _PACK_CACHE.pop(next(iter(_PACK_CACHE)))[0].unpersist(blocking=False)
    return b


def clear_pack_cache(destroy: bool = False) -> None:
    """Release every cached curve-pack broadcast (executor copies always;
    driver values too with ``destroy=True`` — only safe once no lazy
    DataFrame built against them will run again)."""
    while _PACK_CACHE:
        b = _PACK_CACHE.pop(next(iter(_PACK_CACHE)))[0]
        b.destroy() if destroy else b.unpersist(blocking=False)


def lookup(ids: np.ndarray, vals: np.ndarray) -> np.ndarray:
    """Sorted-id -> row-index resolution with a loud miss guard (a miss
    would silently gather another curve's buffers). Degenerate empty
    batches (no candidates to resolve) return an empty index array
    instead of tripping the guard."""
    if vals.size == 0:
        return np.empty(0, dtype=np.int64)
    idx = np.searchsorted(ids, vals)
    if ids.size == 0:
        raise KeyError("curve pack is missing candidate traj_ids")
    idx = np.minimum(idx, ids.size - 1)
    if not np.array_equal(ids[idx], vals):
        raise KeyError("curve pack is missing candidate traj_ids")
    return idx


def _rows_pack(rb, prefix: str, simp_levels: int) -> dict:
    """Pack view of one side's array columns riding an Arrow batch of
    pairs: one list row per pair, zero-copy buffers."""
    from frechetrange_spark.kernels.batch import _list_buffers

    names = [n[len(prefix) :] for n in rb.schema.names if n.startswith(prefix)]
    cols, scal = pack_columns(names, simp_levels)
    return {
        "ids": None,
        "cols": {c: _list_buffers(rb.column(prefix + c)) for c in cols},
        "scal": {
            c: rb.column(prefix + c).to_numpy(zero_copy_only=False) for c in scal
        },
    }


def resolve_pack(spec, ids: np.ndarray, rb, simp_levels: int = 0):
    """(pack, sel) for one side of an Arrow batch of pairs: pair i reads
    curve ``sel[i]`` of ``pack``. ``ids`` are that side's per-pair curve
    ids; ``spec`` is a ("bcast" | "disk" | "rows", value) source (see the
    module docstring)."""
    kind, v = spec
    if kind == "rows":
        return _rows_pack(rb, v, simp_levels), np.arange(rb.num_rows, dtype=np.int64)
    if kind == "bcast":
        pack = v.value
    else:
        pack = gather_pack(v, np.unique(ids), simp_levels)
    return pack, lookup(pack["ids"], ids)


def choose_source(
    df: DataFrame,
    prefix: str,
    simp_levels: int = 0,
    payload_bytes: int | None = None,
    pack_path: str | None = None,
):
    """The source spec for ONE side of a pair stream over the curves of
    ``df``, in this order:

    1. ``("bcast", pack_broadcast(df, simp_levels))`` when the side's
       payload fits ``spark.sql.autoBroadcastJoinThreshold``:
       ``payload_bytes`` if known (an index's build-time meta), else
       ``_payload_bytes_gated``.
    2. ``("disk", pack_path)``: pass ``pack_path`` only when that store
       holds exactly this side's curves (a foreign query table with
       overlapping ids would gather the index's curves).
    3. ``("rows", prefix)``: the caller carries the side's arrays on the
       pair rows as ``{prefix}xs``/``{prefix}ys`` (+ simplifications)."""
    thr = _broadcast_threshold(df.sparkSession)
    if thr > 0:
        if payload_bytes is None:
            payload_bytes = _payload_bytes_gated(df, thr)
        if payload_bytes <= thr:
            return ("bcast", pack_broadcast(df, simp_levels))
    if pack_path:
        return ("disk", pack_path)
    return ("rows", prefix)


def curve_buffers(pack: dict, level: int | None = None) -> tuple:
    """(flat_x, off_x, flat_y, off_y) of a pack's full-resolution curves,
    or of simplification level ``level``."""
    pre = "" if level is None else f"s{level}_"
    return (*pack["cols"][f"{pre}xs"], *pack["cols"][f"{pre}ys"])
