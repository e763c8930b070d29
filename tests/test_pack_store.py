"""Co-partitioned curve-pack store (sources/pack_store) and the per-side
curve-source choice (pack_store.choose_source). Each source is selected
through what the engine sees — the broadcast threshold conf and
meta['pack_path'] — and every mix must return identical result sets."""

from contextlib import contextmanager

import numpy as np
import pytest
from pyspark.sql import functions as F

from frechetrange_spark.operators.range_query import (
    build_grid_index,
    range_query_bruteforce,
    range_query_grid,
)
from frechetrange_spark.operators.simplifications import (
    enrich_with_simplifications,
)
from frechetrange_spark.sources.pack_store import (
    gather_pack,
    pack_curves,
    write_pack,
)
from frechetrange_spark.sources.trajectories import (
    assemble_curves,
    trajectory_points,
)
from tests.conftest import SF_SMALL


THRESHOLD = "spark.sql.autoBroadcastJoinThreshold"


@contextmanager
def broadcast_threshold(spark, value):
    old = spark.conf.get(THRESHOLD)
    spark.conf.set(THRESHOLD, str(value))
    try:
        yield
    finally:
        spark.conf.set(THRESHOLD, old)


def _pairs(df):
    return set(map(tuple, df.collect()))


def _all_rows(spark, idx, queries, meta, **kw):
    """Both sides' arrays ride the pair rows: broadcast disabled, no pack."""
    unpacked = {k: v for k, v in meta.items() if k != "pack_path"}
    with broadcast_threshold(spark, -1):
        return _pairs(range_query_grid(idx, queries, 15.0, unpacked, **kw))


def _packed_index(spark, curves, tmp_path):
    from frechetrange_spark.sources.index_table import read_index, write_index

    index_df, meta = build_grid_index(curves, 15.0, corner="min_min")
    path = str(tmp_path / "idx")
    write_index(index_df, path, meta, pack=True)
    idx, meta2 = read_index(spark, path)
    assert meta2.get("pack_path")
    return idx, meta2


@pytest.fixture(scope="module")
def enriched(spark):
    c = enrich_with_simplifications(
        assemble_curves(trajectory_points(spark, SF_SMALL)),
        levels=2,
        fractions=(0.07, 0.6),
    ).persist()
    c.count()
    return c


def test_write_gather_roundtrip(spark, enriched, tmp_path):
    """gather_pack over the on-disk blocks reproduces the driver-side
    broadcast pack (pack_curves) buffer-for-buffer, for the full id set
    and for scattered subsets crossing block boundaries."""
    path = str(tmp_path / "pack")
    man = write_pack(enriched, path, n_blocks=7)
    assert len(man["blocks"]) >= 1
    ref = pack_curves(enriched, 2)
    for ids in (ref["ids"], ref["ids"][::5], ref["ids"][-3:]):
        got = gather_pack(path, np.asarray(ids), 2)
        assert np.array_equal(got["ids"], ids)
        sel = np.searchsorted(ref["ids"], ids)
        for c, (flat, off) in got["cols"].items():
            rflat, roff = ref["cols"][c]
            for k, r in enumerate(sel):
                np.testing.assert_array_equal(
                    flat[off[k] : off[k + 1]], rflat[roff[r] : roff[r + 1]]
                )
        for c, vals in got["scal"].items():
            np.testing.assert_array_equal(vals, ref["scal"][c][sel])


def test_missing_ids_raise(spark, enriched, tmp_path):
    path = str(tmp_path / "pack")
    write_pack(enriched, path, n_blocks=3)
    with pytest.raises(KeyError):
        gather_pack(path, np.asarray([10**12], dtype=np.int64), 0)
    # empty request is fine (degenerate candidate batch)
    empty = gather_pack(path, np.empty(0, dtype=np.int64), 2)
    assert empty["ids"].size == 0


def test_pack_attach_parity(spark, enriched, tmp_path):
    """disk (dataset) + broadcast (query) == all-broadcast == all-rows
    result sets, with the funnel columns riding."""
    from frechetrange_spark.sources.pack_store import _est_broadcast_bytes

    idx, meta = _packed_index(spark, enriched, tmp_path)
    queries = idx.filter(F.col("traj_id") % 20 == 0)
    q_bytes = _est_broadcast_bytes(queries)
    assert q_bytes < meta["payload_bytes"]
    rows = _all_rows(spark, idx, queries, meta)
    bcast = _pairs(range_query_grid(idx, queries, 15.0, meta))
    with broadcast_threshold(spark, (q_bytes + meta["payload_bytes"]) // 2):
        disk = _pairs(range_query_grid(idx, queries, 15.0, meta))
    assert disk == rows == bcast
    assert len(disk) > 0


def test_pack_self_join_disk_query_side(spark, enriched, tmp_path):
    """Symmetric self-join with the broadcast threshold at 1k: neither side
    can broadcast and both read the SAME disk store (the query side is
    the indexed table); results still match the all-rows arm."""
    idx, meta = _packed_index(spark, enriched, tmp_path)
    want = _all_rows(spark, idx, idx, meta, symmetric=True)
    with broadcast_threshold(spark, "1k"):
        got = _pairs(range_query_grid(idx, idx, 15.0, meta, symmetric=True))
    assert got == want


def test_pack_foreign_over_threshold_query_exact(spark, tmp_path):
    """A foreign query table past the broadcast threshold against a packed
    index: the dataset side reads the disk store and the query side rides
    the rows — it must never be given the index store's curves. The query
    table shares every traj_id with the index but its curves are shifted
    by +3 in x, so reading the index's store for it would be wrong."""
    pts = trajectory_points(spark, SF_SMALL)
    curves = assemble_curves(pts)
    queries = assemble_curves(pts.withColumn("x", F.col("x") + 3.0))
    idx, meta = _packed_index(spark, curves, tmp_path)
    want = _pairs(range_query_bruteforce(curves, queries, 15.0))
    with broadcast_threshold(spark, meta["payload_bytes"] // 2):
        got = _pairs(range_query_grid(idx, queries, 15.0, meta))
    assert got == want
    assert len(got) > 0


def test_mixed_sources_query_broadcast_dataset_rows(spark, enriched):
    """An unpacked index past the threshold with a small query table: the
    query side broadcasts and the dataset side rides the rows; results
    match the all-rows and all-broadcast arms."""
    from frechetrange_spark.sources.pack_store import _est_broadcast_bytes

    idx, meta = build_grid_index(enriched, 15.0, corner="min_min")
    queries = enriched.filter(F.col("traj_id") % 20 == 0)
    q_bytes = _est_broadcast_bytes(queries)
    bcast = _pairs(range_query_grid(idx, queries, 15.0, meta))
    with broadcast_threshold(spark, (q_bytes + meta["payload_bytes"]) // 2):
        mixed = _pairs(range_query_grid(idx, queries, 15.0, meta))
    assert mixed == _all_rows(spark, idx, queries, meta) == bcast
    assert len(mixed) > 0
