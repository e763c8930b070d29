"""Uniform + hierarchical grid tiling — the engine's H3/S2 stand-in.

The reference's indexes are all plain uniform grids with floor-division
cell assignment (detail/dv/grid.hpp:352-358 ``floor(coord/mesh)``;
detail/bddm/spatial_hash.hpp:511-540 ``find_slot``). We keep that exact
cell-assignment semantics (it is the tested invariant) and add a
hierarchical variant: level-L cells halve the mesh per level so a level-L
cell id is a prefix-refinement of its level-(L-1) parent — the same
role H3/S2 resolution levels play, with pure integer Catalyst expressions.

Cell ids are pairs ``(cell_x, cell_y)`` (ints). For partition keys we also
provide a single interleaved long (Morton/Z-order, 32 bits per axis) so an
index table can be range- or hash-partitioned on one column while
preserving spatial locality.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# MBR corner name -> (x column, y column) of the corner a curve is homed by
# (grid.hpp:352-358; the corner itself is chosen by the A4/A5 statistic)
CORNERS = {
    "min_min": ("min_x", "min_y"),
    "min_max": ("min_x", "max_y"),
    "max_min": ("max_x", "min_y"),
    "max_max": ("max_x", "max_y"),
}


def cell_coord(coord: Column, mesh: float) -> Column:
    """floor(coord / mesh) as int — reference grid.hpp:352-358."""
    return F.floor(coord / F.lit(float(mesh))).cast("long")


def cell_coords(x: Column, y: Column, mesh: float) -> tuple[Column, Column]:
    return cell_coord(x, mesh), cell_coord(y, mesh)


def hier_cell(x: Column, y: Column, base_mesh: float, level: int) -> tuple[Column, Column]:
    """Level-L cell: mesh = base_mesh / 2^L. Parent of a level-L cell is
    its coordinates >> 1 at level L-1 (tested invariant)."""
    mesh = float(base_mesh) / (2**level)
    return cell_coord(x, mesh), cell_coord(y, mesh)


def morton_key(cell_x: Column, cell_y: Column) -> Column:
    """Interleave two signed cell coords into one long Z-order key.

    Coordinates are offset to unsigned 16-bit lanes (±32768 cells is ample:
    the reference's di-hash uses a 500x500 grid, bddm:136) and bit-interleaved
    with native shifts — a monotone space-filling curve so range partitions
    on the key are spatially coherent.
    """
    ux = (cell_x + F.lit(32768)).cast("long")
    uy = (cell_y + F.lit(32768)).cast("long")

    def spread(v: Column) -> Column:
        # spread 16 bits to even positions (classic Morton bit tricks)
        v = v.bitwiseOR(F.shiftleft(v, 8)).bitwiseAND(F.lit(0x00FF00FF))
        v = v.bitwiseOR(F.shiftleft(v, 4)).bitwiseAND(F.lit(0x0F0F0F0F))
        v = v.bitwiseOR(F.shiftleft(v, 2)).bitwiseAND(F.lit(0x33333333))
        v = v.bitwiseOR(F.shiftleft(v, 1)).bitwiseAND(F.lit(0x55555555))
        return v

    return spread(ux).bitwiseOR(F.shiftleft(spread(uy), 1))


def neighbor_offsets(radius: int = 1):
    """The (2r+1)^2 stencil offsets as a list of (dx, dy) tuples."""
    return [(dx, dy) for dx in range(-radius, radius + 1) for dy in range(-radius, radius + 1)]


def explode_neighbor_cells(
    df,
    corner_x: str,
    corner_y: str,
    mesh: float,
    eps: float,
    out_x: str = "cell_x",
    out_y: str = "cell_y",
):
    """Attach, per row, the neighbor cells its eps-box actually crosses —
    the reference's visit_left/right/top/bottom logic (grid.hpp:462-488)
    generalized to radius ceil(eps/mesh) (the reference throws when
    eps > mesh, grid.hpp:125-127; we widen the stencil instead, SURVEY §7).

    Emits one row per (row, visited cell). Pure Catalyst: a literal offset
    array + explode + a crossing predicate, so it broadcasts/shuffles like
    any relational plan.
    """
    import math

    radius = max(1, math.ceil(float(eps) / float(mesh) - 1e-12))
    home_x = cell_coord(F.col(corner_x), mesh)
    home_y = cell_coord(F.col(corner_y), mesh)
    offsets = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx, dy in neighbor_offsets(radius)
        ]
    )
    exploded = df.withColumn("_home_x", home_x).withColumn("_home_y", home_y).withColumn(
        "_off", F.explode(offsets)
    )
    cx = F.col("_home_x") + F.col("_off.dx")
    cy = F.col("_home_y") + F.col("_off.dy")
    meshl = F.lit(float(mesh))
    epsl = F.lit(float(eps))
    # the eps-interval [corner-eps, corner+eps] must intersect the cell
    crosses = (
        (F.col(corner_x) - epsl < (cx + 1) * meshl)
        & (F.col(corner_x) + epsl >= cx * meshl)
        & (F.col(corner_y) - epsl < (cy + 1) * meshl)
        & (F.col(corner_y) + epsl >= cy * meshl)
    )
    return (
        exploded.filter(crosses)
        .withColumn(out_x, cx)
        .withColumn(out_y, cy)
        .drop("_home_x", "_home_y", "_off")
    )
