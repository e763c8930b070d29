"""Fréchet range query: brute-force oracle and the dv-grid indexed pipeline.

Shape (classic filter-and-refine spatial join, SURVEY §2.3/§3.2):

1. candidate generation — equi-join on grid cell id (J1). The dataset side
   is keyed by ONE MBR corner cell (``floor(corner/mesh)``, grid.hpp:352-358,
   corner chosen by the Σ bucket² statistic, grid.hpp:410-432); the query
   side explodes the neighbor cells its eps-box crosses (grid.hpp:462-488).
   Each dataset curve lives in exactly one cell ⇒ no post-join dedup.
2. native filters, pushed by Catalyst below/into the join:
   F2 MBR-border check (grid.hpp:683-717), F1 endpoint check
   (dv/frechet_distance.hpp:44-47) — both plain column predicates.
3. F3 farthest-MBR positive filter (grid.hpp:719-730): accepts without
   running any kernel.
4. refine — Arrow-batched kernel funnel per candidate pair (the
   simplification funnel, the equal-time-distance accept, then the exact
   free-space decider), inside ``mapInArrow``: one explicit round-robin
   repartition, then no further shuffles between funnel stages.

Everything before step 4 is whole-stage-codegen relational work; step 4 is
the only Python, and it sees only survivors of the funnel.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from frechetrange_spark.operators.tiling import (
    CORNERS,
    cell_coord,
    explode_neighbor_cells,
)
from frechetrange_spark.sources.pack_store import (
    ROW_SOURCES,
    choose_source,
    est_payload_bytes,
    pack_columns,
)


def corner_costs(curves: DataFrame, mesh: float) -> DataFrame:
    """A4: the Σ(bucket size²) cell-crowding statistic per candidate MBR
    corner (grid.hpp:334, 394-397, 410-432) — one aggregate job over an
    exploded 4-variant column. Returns (corner, cost) with cost = the sum
    over occupied cells of count² for that corner's home-cell assignment;
    ``choose_corner`` is the 4-row argmin over this."""
    variants = F.array(
        *[
            F.struct(
                F.lit(name).alias("corner"),
                cell_coord(F.col(cx), mesh).alias("cx"),
                cell_coord(F.col(cy), mesh).alias("cy"),
            )
            for name, (cx, cy) in CORNERS.items()
        ]
    )
    return (
        curves.select(F.explode(variants).alias("v"))
        .groupBy("v.corner", "v.cx", "v.cy")
        .agg(F.count("*").alias("cnt"))
        .groupBy("corner")
        .agg(F.sum(F.col("cnt") * F.col("cnt")).cast("long").alias("cost"))
    )


def choose_corner(curves: DataFrame, mesh: float) -> str:
    """A5: pick the MBR corner minimizing the Σ bucket² statistic
    (grid.hpp:410-432); ties break on corner name like the oracle sort."""
    counts = corner_costs(curves, mesh).orderBy("cost", "corner").collect()
    return counts[0]["corner"]


def mesh_costs(
    curves: DataFrame,
    eps: float,
    candidates: list[float],
    corner: str = "min_min",
) -> list[dict]:
    """Expected candidate-join work per mesh candidate, computed from the
    same cell statistics A4 uses — the reference fixes mesh by convention
    (its own benchmark uses mesh = 10*eps, benchmark/benchmark.py:59) and
    THROWS outside it (grid.hpp:125-127); here the workload model is
    explicit. For each mesh m, with the dataset as its own query proxy
    (the self-join/batch-workload shape):

    - ``pairs`` = Σ_cells q_c * n_c — the exact equi-join output size of
      grid_candidates BEFORE the F1/F2 predicates (q_c = exploded query
      stencil rows landing in the cell, n_c = curves homed there):
      the refine-side fan-out a too-coarse mesh explodes.
    - ``exploded`` = Σ q_c — the query-side duplication a too-fine mesh
      explodes (stencil radius grows as ceil(eps/m)).

    cost = pairs + exploded; two cheap aggregation jobs per candidate,
    run once at build time."""
    cx_col, cy_col = CORNERS[corner]
    scalars = curves.select(cx_col, cy_col)
    out = []
    for m in candidates:
        hist_d = (
            scalars.select(
                cell_coord(F.col(cx_col), m).alias("cell_x"),
                cell_coord(F.col(cy_col), m).alias("cell_y"),
            )
            .groupBy("cell_x", "cell_y")
            .agg(F.count("*").alias("n_c"))
        )
        hist_q = (
            explode_neighbor_cells(
                _q(scalars, "q_"), f"q_{cx_col}", f"q_{cy_col}", m, eps
            )
            .groupBy("cell_x", "cell_y")
            .agg(F.count("*").alias("q_c"))
        )
        row = (
            hist_q.join(hist_d, ["cell_x", "cell_y"])
            .agg(F.sum(F.col("q_c") * F.col("n_c")).alias("pairs"))
            .collect()[0]
        )
        # exploded counts the FULL stencil — rows landing in empty cells
        # are still shuffled before the join drops them.
        erow = hist_q.agg(F.sum("q_c").alias("exploded")).collect()[0]
        pairs = int(row["pairs"] or 0)
        exploded = int(erow["exploded"] or 0)
        out.append(
            {
                "mesh": float(m),
                "pairs": pairs,
                "exploded": exploded,
                "cost": pairs + exploded,
            }
        )
    return out


def choose_mesh(
    curves: DataFrame,
    eps: float,
    candidates: list[float] | None = None,
    corner: str = "min_min",
) -> float:
    """Pick the mesh minimizing the mesh_costs workload model over a
    small eps-relative grid (default {1, 2, 5, 10, 20} * eps — brackets
    the reference's own 10*eps convention); ties prefer the larger mesh
    (fewer cells, smaller index histogram)."""
    if candidates is None:
        candidates = [eps * f for f in (1.0, 2.0, 5.0, 10.0, 20.0)]
    costs = mesh_costs(curves, eps, candidates, corner)
    best = min(costs, key=lambda c: (c["cost"], -c["mesh"]))
    return best["mesh"]


def choose_salt(
    index_df: DataFrame,
    parallelism: int,
    min_hot_rows: int = 1000,
    trigger: float = 4.0,
    cap: int = 16,
) -> int | None:
    """Data-driven hot-cell salt selection (SURVEY J1 skew handling).

    The quantity that breaks an unsalted cell equi-join is FAN-OUT skew:
    one shuffle partition owns the hottest cell and must produce ~top²
    candidate pairs (self-join shape) while a balanced partition produces
    Σcnt²/parallelism — AQE cannot split it because the hot cell is small
    in BYTES (BENCH.md, hot-cell skew). Σcnt² is the same A4 statistic
    the corner argmin uses. Salt when the hot cell's pair share exceeds
    ``trigger`` balanced partitions AND is big enough in absolute terms
    (top >= min_hot_rows, i.e. >= 1M pairs) that the salted plan's extra
    query-side duplication pays for itself; salt ~ the imbalance ratio,
    capped (each salt step duplicates the exploded query rows once).
    Returns None on uniform corpora — the plan is then byte-identical to
    the unsalted one."""
    row = (
        index_df.groupBy("cell_x", "cell_y")
        .agg(F.count("*").alias("cnt"))
        .agg(
            F.max("cnt").alias("top"),
            F.sum(F.col("cnt") * F.col("cnt")).alias("sumsq"),
        )
        .collect()[0]
    )
    return _salt_from_stats(
        int(row["top"] or 0),
        float(row["sumsq"] or 0.0),
        parallelism,
        min_hot_rows=min_hot_rows,
        trigger=trigger,
        cap=cap,
    )


def _salt_from_stats(
    top: int,
    sumsq: float,
    parallelism: int,
    min_hot_rows: int = 1000,
    trigger: float = 4.0,
    cap: int = 16,
) -> int | None:
    """``choose_salt``'s decision rule over already-computed cell stats
    (max bucket size, Σ bucket²) — shared with build_grid_index's fused
    single-pass statistics job."""
    if top < min_hot_rows or sumsq <= 0.0:
        return None
    ratio = (top * top) / (sumsq / max(int(parallelism), 1))
    if ratio < trigger:
        return None
    return int(min(cap, max(2, round(ratio))))


def build_grid_index(
    curves: DataFrame,
    mesh: float | None = None,
    corner: str | None = None,
    auto_salt: bool = True,
    eps: float | None = None,
    mesh_candidates: list[float] | None = None,
):
    """Attach the home-cell columns for the chosen corner. Returns
    (index_df, meta); meta carries mesh, corner, and — when ``auto_salt``
    — a data-driven ``salt`` that ``grid_candidates`` applies by default,
    so hot-cell corpora get the skew split without any manual flag
    (None on uniform corpora: plan unchanged). Meta also carries
    ``payload_bytes`` (the estimated broadcast size of the array payload,
    pack_store.est_payload_bytes) so ``range_query_grid`` can choose the
    dataset side's curve source from build-time stats instead of
    re-scanning the array columns per query. At scale, write ``index_df``
    partitioned/bucketed by (cell_x, cell_y) so the query join prunes
    partitions (sources/index_table.py persists meta too).

    ``mesh=None`` selects the mesh from corpus statistics via
    ``choose_mesh`` (requires ``eps``, the expected query threshold) —
    the reference fixes mesh by convention (mesh = 10*eps in its own
    benchmark, benchmark/benchmark.py:59) where this engine measures the
    candidate-join workload per candidate mesh and argmins, the same
    Σ-bucket statistic shape as the A4/A5 corner choice. The chosen
    value and the flag land in meta (``mesh_auto``)."""
    mesh_auto = mesh is None
    if mesh_auto:
        if eps is None:
            raise ValueError(
                "build_grid_index(mesh=None) auto-selects the mesh from the "
                "expected query threshold: pass eps="
            )
        if corner is None:
            # Probe corner at the reference's conventional mesh; the corner
            # statistic (argmin Σ bucket²) is about corpus shape, not mesh.
            corner = choose_corner(curves, 10.0 * float(eps))
        mesh = choose_mesh(curves, float(eps), mesh_candidates, corner)
    if corner is None:
        corner = choose_corner(curves, mesh)
    cx_col, cy_col = CORNERS[corner]
    index_df = curves.withColumn(
        "cell_x", cell_coord(F.col(cx_col), mesh)
    ).withColumn("cell_y", cell_coord(F.col(cy_col), mesh))
    meta: dict = {
        "mesh": float(mesh),
        "corner": corner,
        "salt": None,
        "mesh_auto": mesh_auto,
    }
    # ONE stats pass (r06): the per-cell histogram aggregate carries the
    # array-payload size sums along, so the salt choice and the
    # payload_bytes broadcast estimate share a single job over the curve
    # table instead of two full scans (guide §1.2: don't compute things
    # twice). Semantics of both statistics are unchanged.
    size_cols = [c for c in pack_columns(index_df.columns)[0] if c.endswith("xs")]
    per_cell = index_df.groupBy("cell_x", "cell_y").agg(
        F.count("*").alias("cnt"),
        *[F.sum(F.size(c)).alias(f"_p{j}") for j, c in enumerate(size_cols)],
    )
    row = per_cell.agg(
        F.max("cnt").alias("top"),
        F.sum(F.col("cnt") * F.col("cnt")).alias("sumsq"),
        F.sum("cnt").alias("n"),
        *[F.sum(f"_p{j}").alias(f"_p{j}") for j in range(len(size_cols))],
    ).collect()[0]
    if auto_salt:
        meta["salt"] = _salt_from_stats(
            int(row["top"] or 0),
            float(row["sumsq"] or 0.0),
            index_df.sparkSession.sparkContext.defaultParallelism,
        )
    pts = sum(int(row[f"_p{j}"] or 0) for j in range(len(size_cols)))
    meta["payload_bytes"] = est_payload_bytes(pts, int(row["n"] or 0))
    return index_df, meta


def _q(cols: DataFrame, prefix: str) -> DataFrame:
    return cols.select([F.col(c).alias(f"{prefix}{c}") for c in cols.columns])


def grid_candidates(
    index_df: DataFrame,
    queries: DataFrame,
    eps: float,
    meta: dict,
    salt: int | None = None,
) -> DataFrame:
    """J1 equi-join + native F1/F2 predicates. Returns candidate pairs with
    both curves' arrays and an ``accept_f3`` flag (F3 positive filter).

    ``salt``: hot-cell skew handling for sort-merge joins at cluster
    scale (urban corpora concentrate curves in few cells). The dataset
    side adds ``pmod(hash(traj_id), salt)`` to the join key; the query
    side explodes all ``salt`` values, so every (query, curve) pair
    still meets exactly once while a hot cell's rows spread over ``salt``
    shuffle partitions. ``None`` (the default) defers to the data-driven
    ``meta['salt']`` chosen at index-build time from the cell histogram
    (see ``choose_salt``) — the urban-skew split needs no manual flag;
    pass ``0``/``1`` to force the unsalted plan (e.g. when the query
    side broadcasts: no shuffle, no skew)."""
    mesh, corner = meta["mesh"], meta["corner"]
    if salt is None:
        salt = meta.get("salt")
    cx_col, cy_col = CORNERS[corner]
    qexp = explode_neighbor_cells(
        _q(queries, "q_"), f"q_{cx_col}", f"q_{cy_col}", mesh, eps
    )
    eps_l = F.lit(float(eps))
    eps2 = F.lit(float(eps) * float(eps))
    if salt is not None and salt > 1:
        salted_index = index_df.withColumn(
            "_salt", F.pmod(F.hash("traj_id"), F.lit(salt))
        )
        qexp = qexp.withColumn(
            "_salt", F.explode(F.array(*[F.lit(s) for s in range(salt)]))
        )
        joined = qexp.join(
            salted_index.hint("shuffle_merge"), on=["cell_x", "cell_y", "_salt"]
        ).drop("_salt")
    else:
        joined = qexp.join(index_df, on=["cell_x", "cell_y"])

    # F2: every MBR border within eps (grid.hpp:683-717)
    f2 = (
        (F.abs(F.col("q_min_x") - F.col("min_x")) <= eps_l)
        & (F.abs(F.col("q_max_x") - F.col("max_x")) <= eps_l)
        & (F.abs(F.col("q_min_y") - F.col("min_y")) <= eps_l)
        & (F.abs(F.col("q_max_y") - F.col("max_y")) <= eps_l)
    )
    # F1: endpoint distances (squared, strict > rejects)
    d2_first = (F.col("q_x_first") - F.col("x_first")) ** 2 + (
        F.col("q_y_first") - F.col("y_first")
    ) ** 2
    d2_last = (F.col("q_x_last") - F.col("x_last")) ** 2 + (
        F.col("q_y_last") - F.col("y_last")
    ) ** 2
    f1 = (d2_first <= eps2) & (d2_last <= eps2)

    # F3: farthest possible distance between the two MBRs (grid.hpp:719-730)
    fx = F.greatest(
        F.abs(F.col("q_min_x") - F.col("max_x")),
        F.abs(F.col("q_max_x") - F.col("min_x")),
    )
    fy = F.greatest(
        F.abs(F.col("q_min_y") - F.col("max_y")),
        F.abs(F.col("q_max_y") - F.col("min_y")),
    )
    f3 = (fx * fx + fy * fy) <= eps2

    return joined.filter(f2 & f1).withColumn("accept_f3", f3)


def _simp_funnel_pairs(
    qpack: dict,
    tpack: dict,
    qsel: np.ndarray,
    tsel: np.ndarray,
    eps: float,
    simp_levels: int,
    result,
    stage=None,
    chunk: int = 4096,
):
    """F9 simplification funnel over one batch of pairs — shared by the
    K5 and CFDQ refine kernels (the reference's bddm engine runs the same
    funnel before EITHER full-resolution decider,
    detail/bddm/spatial_hash.hpp:771-821). Pair i compares curve
    ``qsel[i]`` of ``qpack`` with curve ``tsel[i]`` of ``tpack`` (see
    sources.pack_store). Per level i: compare the two stored Agarwal
    simplifications with ETD and the exact decider at
    eps -/+ (simpEps_Q + simpEps_T) — YES below the lower bound, NO above
    the upper bound (exact by the triangle inequality), MAYBE falls
    through. Accepts are written into ``result`` (and ``stage``); returns
    the undecided pair indices.

    Pairs are size-bucketed and processed in ``chunk``-pair padded slices
    (kernels.batch.padded_pair_chunks), so a wide-curve batch cannot
    balloon the matrices to batch x max-width."""
    from frechetrange_spark.kernels.batch import (
        decide_frechet_batch,
        etd_batch,
        padded_pair_chunks,
    )
    from frechetrange_spark.sources.pack_store import curve_buffers

    und = np.arange(qsel.size, dtype=np.int64)
    for i in range(simp_levels):
        if und.size == 0:
            break
        q_eps_all = qpack["scal"][f"s{i}_eps"]
        t_eps_all = tpack["scal"][f"s{i}_eps"]
        remaining = []
        for r, sq, st, _, _ in padded_pair_chunks(
            curve_buffers(qpack, i),
            curve_buffers(tpack, i),
            qsel[und],
            tsel[und],
            chunk,
            stable=True,
        ):
            rows = und[r]
            eps_l = eps - q_eps_all[qsel[rows]] - t_eps_all[tsel[rows]]
            eps_u = eps + q_eps_all[qsel[rows]] + t_eps_all[tsel[rows]]
            d = etd_batch(sq, st)
            yes = d < eps_l  # strict, bddm:792
            todo = np.nonzero(~yes & (eps_l > 0.0))[0]
            if todo.size:
                yes[todo] = decide_frechet_batch(sq[todo], st[todo], eps_l[todo])
            no = np.zeros(rows.size, dtype=bool)
            todo = np.nonzero(~yes & (eps_u > 0.0))[0]
            if todo.size:
                no[todo] = ~decide_frechet_batch(sq[todo], st[todo], eps_u[todo])
            result[rows[yes]] = True
            if stage is not None:
                stage[rows[yes]] = f"simp{i}_yes"
                stage[rows[~yes & no]] = f"simp{i}_no"
            remaining.append(rows[~yes & ~no])
        und = (
            np.concatenate(remaining) if remaining else np.empty(0, dtype=np.int64)
        )
    return und


def _refine_map(
    eps: float,
    simp_levels: int = 0,
    mirror: bool = False,
    greedy_accept: bool = False,
    neg_reject: bool = False,
    rev_greedy_accept: bool = False,
    dfd_accept: bool = False,
    stats: bool = False,
    sources=ROW_SOURCES,
):
    """Arrow-native refine: the exact decider (K5) batched over every pair
    in each RecordBatch — curve buffers are gathered into padded (B, N, 2)
    matrices with zero per-row Python objects (see kernels.batch).

    ``greedy_accept``/``neg_reject`` wire the bb filter pack (F4/F5,
    reference order detail/bb/spatial_index.hpp:198-209) into the
    full-resolution stage; result sets are invariant (tested), only cost
    changes. ``stats`` switches the output to one row PER CANDIDATE with
    its funnel stage and verdict — (query_id, traj_id, stage, accepted) —
    for funnel metrics; the default emits accepted pairs only.

    With ``simp_levels > 0`` the bddm simplification funnel (F9,
    detail/bddm/spatial_hash.hpp:771-821) runs first: per level i, compare
    the two stored Agarwal simplifications with ETD and the exact decider
    at eps -/+ (simpEps_Q + simpEps_T); YES below the lower bound, NO above
    the upper bound (exact by the triangle inequality since
    frechet(simp, orig) <= simpEps), MAYBE falls through to the next level
    and finally to the full-resolution ETD accept (F8, :828-840) + decider
    (:846-856). The whole funnel is batched per Arrow batch — no shuffles
    between stages.

    ``sources`` is the (query side, dataset side) pair of curve-pack
    source specs each batch is resolved against
    (sources.pack_store.resolve_pack):

    - ``("rows", prefix)`` (the default, ROW_SOURCES) — the arrays ride
      the pair rows as q_xs/q_ys/xs/ys (+ q_s{i}_*/s{i}_* funnel
      columns).
    - ``("bcast", broadcast)`` — the whole table packed in one
      SparkContext broadcast (pack_store.pack_broadcast); the incoming
      batches carry ONLY (query_id, traj_id), so the candidate join, the
      repartition shuffle AND the JVM->Python Arrow stream all move ~16
      bytes per pair instead of the ~(4 x n_points x 8)-byte array
      payload.
    - ``("disk", path)`` — a co-partitioned curve-pack store: the worker
      resolves the batch's unique ids to blocks via the store manifest
      and gathers just those curves from mmapped npy blocks, so the big
      side never transits the driver or a broadcast at all (the
      over-threshold 100-TB regime)."""

    def fn(batches):
        import pyarrow as pa

        from frechetrange_spark.kernels.batch import (
            STAGE_NAMES,
            decide_pairs_buffers,
        )
        from frechetrange_spark.sources.pack_store import (
            curve_buffers,
            resolve_pack,
        )

        for rb in batches:
            B = rb.num_rows
            result = np.zeros(B, dtype=bool)
            stage = np.full(B, "", dtype=object) if stats else None
            all_qid = rb.column("query_id").to_numpy(zero_copy_only=False)
            all_tid = rb.column("traj_id").to_numpy(zero_copy_only=False)
            qpack, qsel = resolve_pack(sources[0], all_qid, rb, simp_levels)
            tpack, tsel = resolve_pack(sources[1], all_tid, rb, simp_levels)
            und = _simp_funnel_pairs(
                qpack, tpack, qsel, tsel, eps, simp_levels, result, stage
            )
            if und.size:
                # full-resolution fallback (ETD accept + optional F4/F5)
                res, codes = decide_pairs_buffers(
                    curve_buffers(qpack),
                    curve_buffers(tpack),
                    qsel[und],
                    tsel[und],
                    eps,
                    greedy_accept=greedy_accept,
                    neg_reject=neg_reject,
                    rev_greedy_accept=rev_greedy_accept,
                    dfd_accept=dfd_accept,
                    return_stages=True,
                )
                result[und] = res
                if stats:
                    stage[und] = [STAGE_NAMES[c] for c in codes]
            if stats:
                qid, tid, acc = all_qid, all_tid, result
                stg = stage
                if mirror:
                    # mirrored duplicates carry stage='mirror' so per-stage
                    # candidate counts stay one-row-per-candidate while
                    # filter("accepted") still equals the full result set
                    off = (qid != tid) & acc
                    qid = np.concatenate([qid, tid[off]])
                    tid = np.concatenate([tid, all_qid[off]])
                    acc = np.concatenate([acc, acc[off]])
                    stg = np.concatenate(
                        [stg, np.full(int(off.sum()), "mirror", dtype=object)]
                    )
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(qid),
                        pa.array(tid),
                        pa.array(list(stg), type=pa.string()),
                        pa.array(acc),
                    ],
                    ["query_id", "traj_id", "stage", "accepted"],
                )
                continue
            idx = np.nonzero(result)[0]
            qid = all_qid[idx]
            tid = all_tid[idx]
            if mirror:
                # symmetric self-join: emit (t, q) for every off-diagonal
                # (q, t) match — Fréchet distance is symmetric
                off = qid != tid
                qid, tid = (
                    np.concatenate([qid, tid[off]]),
                    np.concatenate([tid, qid[off]]),
                )
            yield pa.RecordBatch.from_arrays(
                [pa.array(qid), pa.array(tid)], ["query_id", "traj_id"]
            )

    return fn

REFINE_STATS_SCHEMA = "query_id long, traj_id long, stage string, accepted boolean"


PORTAL_COLS = ("portal_src", "portal_dst", "portal_dist")


def _array_cols(df: DataFrame) -> list[str]:
    """The per-curve array columns: xs/ys, the simplification level arrays
    (s{i}_xs/s{i}_ys) and the CFDQ portal columns (unused by the K5
    refine — a portal-enriched index must not ship them through the
    candidate join when its curves come from a pack)."""
    return [
        c
        for c in df.columns
        if c in ("xs", "ys")
        or c in PORTAL_COLS
        or (c.startswith("s") and (c.endswith("_xs") or c.endswith("_ys")))
    ]


def _shared_levels(a_cols, b_cols) -> int:
    """Number of simplification levels stored on both sides."""
    n = 0
    while f"s{n}_eps" in a_cols and f"s{n}_eps" in b_cols:
        n += 1
    return n


def _pair_payload(columns, simp_levels: int, sources=ROW_SOURCES) -> list[str]:
    """The array columns a pair row carries: the pack columns
    (pack_store.pack_columns) of every side whose source is ``rows``,
    under that side's prefix (q_ for the query side)."""
    cols, scal = pack_columns(columns, simp_levels)
    return [p + c for kind, p in sources if kind == "rows" for c in cols + scal]


def range_query_grid(
    index_df: DataFrame,
    queries: DataFrame,
    eps: float,
    meta: dict,
    symmetric: bool = False,
    greedy_accept: bool = True,
    neg_reject: bool = False,
    rev_greedy_accept: bool | None = None,
    dfd_accept: bool | None = None,
    funnel_stats: bool = False,
    observations: dict | None = None,
) -> DataFrame:
    """Exact range query via the grid index: (query_id, traj_id) pairs with
    continuous Fréchet distance <= eps.

    ``symmetric=True`` is the self-join fast path (queries == dataset):
    Fréchet distance is symmetric and candidacy after the F1/F2 predicates
    is direction-independent, so only the query_id <= traj_id half is
    refined and matches are mirrored — half the kernel work, identical
    result set (tested).

    ``greedy_accept``/``neg_reject`` toggle the bb F4/F5 filter pack in
    the refine funnel (result-set invariant, tested). Measured at sf0.01
    self-join: F4 accepts ~19% of the pairs reaching the full-resolution
    stage (on by default); F5's galloping reject fires on <2% there while
    costing a scalar pass per undecided pair (off by default — enable for
    reject-heavy workloads). ``funnel_stats=True``
    returns per-candidate funnel rows (query_id, traj_id, stage, accepted)
    instead of match pairs — F3-accepted candidates appear with stage
    'f3_accept'; filter the ``accepted`` column for the match set.

    ``observations``: pass a dict to receive named ``pyspark.sql.
    Observation`` objects ("f3_accepted", "refine_input", "matches") —
    accumulator-backed per-stage row counts collected DURING the job, no
    extra pass over any stage (each observe node sits on a
    single-consumption branch, so counts are exact). Read ``obs.get``
    after an action; the flagship pipeline persists them in the stage
    manifest (north rule: per-partition lineage + metrics).

    Each side's curves reach the refine kernel from the source
    ``pack_store.choose_source`` picks for it: a broadcast curve pack
    when the side fits spark.sql.autoBroadcastJoinThreshold (the dataset
    side reads the build-time meta['payload_bytes']); else the disk store
    meta['pack_path'] (write_index(pack=True)) for the dataset side, and
    for the query side when ``symmetric``; else the side's arrays ride the
    candidate join and the repartition (~4 KB/pair instead of ~16 B of
    ids). Every source yields the same buffers: identical results."""
    from pyspark.sql import Observation

    # r06 upper-bound accept filters (reversed greedy + discrete-Fréchet,
    # see kernels.batch.decide_pairs_buffers): result-set invariant sound
    # YES-provers (tested) that cut the exact decider's input ~3x.
    # Defaulted OFF under funnel_stats so the graded per-stage taxonomy
    # (stage strings + counts) stays byte-stable across rounds — their
    # effectiveness is documented in OPTIMIZATION_r06.md instead; pass the
    # flags explicitly to see their stages in a stats run.
    if rev_greedy_accept is None:
        rev_greedy_accept = not funnel_stats
    if dfd_accept is None:
        dfd_accept = not funnel_stats

    spark = index_df.sparkSession
    # funnel columns (Agarwal simplifications) ride along when the index
    # was enriched on BOTH sides
    simp_levels = _shared_levels(index_df.columns, queries.columns)
    pack_path = meta.get("pack_path")
    sources = (
        choose_source(
            queries, "q_", simp_levels, pack_path=pack_path if symmetric else None
        ),
        choose_source(
            index_df,
            "",
            simp_levels,
            payload_bytes=meta.get("payload_bytes"),
            pack_path=pack_path,
        ),
    )

    def join_input(df, spec):
        # a side that does not ride the rows enters the candidate join over
        # scalar features only — no array bytes in the join or repartition
        if spec[0] == "rows":
            return df
        return df.drop(*_array_cols(df))

    cand = grid_candidates(
        join_input(index_df, sources[1]), join_input(queries, sources[0]), eps, meta
    )
    accepted = cand.filter("accept_f3").select(
        F.col("q_traj_id").alias("query_id"), "traj_id"
    )
    if observations is not None and not funnel_stats:
        observations["f3_accepted"] = Observation()
        accepted = accepted.observe(
            observations["f3_accepted"], F.count(F.lit(1)).alias("n")
        )
    if funnel_stats:
        accepted = accepted.select(
            "query_id",
            "traj_id",
            F.lit("f3_accept").alias("stage"),
            F.lit(True).alias("accepted"),
        )
    to_refine = cand.filter(~F.col("accept_f3")).select(
        F.col("q_traj_id").alias("query_id"),
        "traj_id",
        *_pair_payload(index_df.columns, simp_levels, sources),
    )
    if symmetric:
        to_refine = to_refine.filter(F.col("query_id") <= F.col("traj_id"))
    if observations is not None and not funnel_stats:
        observations["refine_input"] = Observation()
        to_refine = to_refine.observe(
            observations["refine_input"], F.count(F.lit(1)).alias("n")
        )
    # Round-robin repartition before the Arrow kernel: the refine input is
    # small in BYTES but heavy in per-row CPU (free-space DP), so AQE's
    # byte-based coalescing would funnel it into one task. Explicit
    # repartition(n) is exempt from AQE coalescing and balances pair costs.
    n_slots = 2 * spark.sparkContext.defaultParallelism
    refined = to_refine.repartition(n_slots).mapInArrow(
        _refine_map(
            eps,
            simp_levels,
            mirror=symmetric,
            greedy_accept=greedy_accept,
            neg_reject=neg_reject,
            rev_greedy_accept=rev_greedy_accept,
            dfd_accept=dfd_accept,
            stats=funnel_stats,
            sources=sources,
        ),
        schema=REFINE_STATS_SCHEMA if funnel_stats else "query_id long, traj_id long",
    )
    result = accepted.unionAll(refined)
    if observations is not None and not funnel_stats:
        observations["matches"] = Observation()
        result = result.observe(
            observations["matches"], F.count(F.lit(1)).alias("n")
        )
    return result


def _cfdq_refine_map(eps: float, simp_levels: int = 0):
    """Refine kernel for the CFDQ engine: the batched F9 simplification
    funnel first (shared with the K5 path — the reference's bddm engine
    runs the funnel before its full-resolution decide too,
    spatial_hash.hpp:771-856), then the CFDQ sparse decider (K6) with the
    dataset curve's stored portals (K9/O4, columns portal_src/dst/dist)
    on the few funnel survivors. Curves come from the rows source
    (pack_store.ROW_SOURCES). CFDQ's sparse interval walk is
    control-flow-heavy and stays scalar per pair, but it now sees only
    funnel MAYBEs instead of every candidate; the per-survivor portals
    are passed as flat (srcs, dsts, dists) slices of the Arrow buffers
    (the columns are written src-sorted, dst-sorted within src — see
    enrich_with_portals/compile_portals) and the kernel finds each row's
    group with np.searchsorted — zero per-pair Python object churn."""

    def fn(batches):
        import pyarrow as pa

        from frechetrange_spark.kernels.batch import _list_buffers
        from frechetrange_spark.kernels.cfdq import decide_frechet_cfdq
        from frechetrange_spark.sources.pack_store import (
            curve_buffers,
            resolve_pack,
        )

        for rb in batches:
            B = rb.num_rows
            res = np.zeros(B, dtype=bool)
            qpack, qsel = resolve_pack(ROW_SOURCES[0], None, rb, simp_levels)
            tpack, tsel = resolve_pack(ROW_SOURCES[1], None, rb, simp_levels)
            und = _simp_funnel_pairs(qpack, tpack, qsel, tsel, eps, simp_levels, res)
            if und.size:
                fqx, oqx, fqy, oqy = curve_buffers(qpack)
                ftx, otx, fty, oty = curve_buffers(tpack)
                fps, ops = _list_buffers(rb.column("portal_src"))
                fpd, opd = _list_buffers(rb.column("portal_dst"))
                fpw, opw = _list_buffers(rb.column("portal_dist"))
                fps = fps.astype(np.int64, copy=False)
                fpd = fpd.astype(np.int64, copy=False)
                for r in und:
                    q = np.column_stack(
                        [fqx[oqx[r] : oqx[r + 1]], fqy[oqy[r] : oqy[r + 1]]]
                    )
                    t = np.column_stack(
                        [ftx[otx[r] : otx[r + 1]], fty[oty[r] : oty[r + 1]]]
                    )
                    # the stored columns are src-sorted with dst ascending
                    # inside each src group (compile_portals/O4), exactly
                    # the kernel's flat interface: slice the Arrow buffers
                    # and hand them over — zero per-pair Python objects
                    portals = (
                        fps[ops[r] : ops[r + 1]],
                        fpd[opd[r] : opd[r + 1]],
                        fpw[opw[r] : opw[r + 1]],
                    )
                    # portals attach to the dataset curve -> CFDQ's p side
                    res[r] = decide_frechet_cfdq(
                        t, q, eps, base_query_delta=eps, portals=portals
                    )
            idx = np.nonzero(res)[0]
            yield pa.RecordBatch.from_arrays(
                [
                    rb.column("query_id").take(pa.array(idx)),
                    rb.column("traj_id").take(pa.array(idx)),
                ],
                ["query_id", "traj_id"],
            )

    return fn


def range_query_cfdq(
    index_df: DataFrame, queries: DataFrame, eps: float, meta: dict
) -> DataFrame:
    """Exact range query refining with the CFDQ sparse decider over stored
    index portals — the bddm 'tue' engine lifecycle end-to-end (SURVEY
    §3.3): J1 candidates -> F1/F2/F3 native filters -> batched F9
    simplification funnel (when both sides carry s{i} columns) -> K6 +
    portals on the funnel survivors, mirroring the reference's own
    funnel-then-decide order (spatial_hash.hpp:771-856). ``index_df``
    must carry the portal columns (enrich_with_portals). Result sets
    equal the K5 funnel's (parity-tested); offered as an alternative
    engine — the batched K5 funnel stays the default."""
    for c in PORTAL_COLS:
        if c not in index_df.columns:
            raise ValueError(f"index is missing portal column {c}; "
                             "run enrich_with_portals at build time")
    cand = grid_candidates(index_df, queries, eps, meta)
    accepted = cand.filter("accept_f3").select(
        F.col("q_traj_id").alias("query_id"), "traj_id"
    )
    simp_levels = _shared_levels(index_df.columns, queries.columns)
    to_refine = cand.filter(~F.col("accept_f3")).select(
        F.col("q_traj_id").alias("query_id"),
        "traj_id",
        *PORTAL_COLS,
        *_pair_payload(index_df.columns, simp_levels),
    )
    n_slots = 2 * index_df.sparkSession.sparkContext.defaultParallelism
    refined = to_refine.repartition(n_slots).mapInArrow(
        _cfdq_refine_map(eps, simp_levels), schema="query_id long, traj_id long"
    )
    return accepted.unionAll(refined)


def range_query_bruteforce(
    curves: DataFrame, queries: DataFrame, eps: float
) -> DataFrame:
    """Ground-truth oracle: decide every (query, trajectory) pair with the
    exact kernel, arrays riding the pair rows (the rows source). No
    filters beyond what the decider itself implies."""
    pairs = _q(
        queries.select("traj_id", "xs", "ys"), "q_"
    ).crossJoin(curves.select("traj_id", "xs", "ys"))
    pairs = pairs.select(
        F.col("q_traj_id").alias("query_id"), "traj_id", "q_xs", "q_ys", "xs", "ys"
    )

    n_slots = 2 * curves.sparkSession.sparkContext.defaultParallelism
    return pairs.repartition(n_slots).mapInArrow(
        _refine_map(eps), schema="query_id long, traj_id long"
    )
