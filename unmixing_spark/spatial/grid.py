"""Deterministic affine world grid — the engine's spatial index.

This generalizes the reference's GeoTransform affine + truncating
point→cell assignment (``utils.xy_to_pixel``, utils.py:1104-1157: inverse
affine with ``int()`` truncation → nearest-containing-cell) to a global
equal-angle grid, playing the role H3/S2 plays in the north rule. Cells
nest: a tile is a ``tile x tile`` block of cells, so

    cell_id  = iy * nx + ix            (row-major over the cell lattice)
    tile_id  = ty * ntx + tx           (row-major over the tile lattice)

All encode/decode arithmetic is closed-form integer/float math, expressed
as SQL fragments that render identically under Spark SQL (whole-stage
codegen — never leaves the JVM) and DuckDB (the correctness oracle).

Scale notes: cell assignment is a narrow projection (no shuffle); the
first shuffle in any pipeline is the ``groupBy(cell_id)`` /
``groupBy(tile_id)`` that follows. ``tile_id`` is the partitioning key for
all raster work: `repartitionByRange(tile_id)` mirrors the reference's
contiguous range partitioner (utils.partition, utils.py:872-887), and
hot city tiles are handled by salted two-phase aggregation
(spatial/skew.py).
"""

from __future__ import annotations

from dataclasses import dataclass

from unmixing_spark import dialect as D


@dataclass(frozen=True)
class GridSpec:
    """Equal-angle grid: ``deg`` degrees per cell, ``tile`` cells per tile
    side. Default 0.05 deg ≈ 5.5 km at the equator; 32x32-cell tiles."""

    deg: float = 0.05
    tile: int = 32

    @property
    def nx(self) -> int:
        return int(round(360.0 / self.deg))

    @property
    def ny(self) -> int:
        return int(round(180.0 / self.deg))

    @property
    def ntx(self) -> int:
        return (self.nx + self.tile - 1) // self.tile

    # ---- SQL fragments (portable across spark/duckdb) ----

    def ix_sql(self, lon: str) -> str:
        """Column index from longitude; truncation semantics of
        utils.py:1153-1155 (floor = containing cell), clamped to range."""
        raw = D.idiv(f"({lon}) + {D.dbl(180.0)}", D.dbl(self.deg))
        return f"least(greatest({raw}, 0), {self.nx - 1})"

    def iy_sql(self, lat: str) -> str:
        """Row index from latitude (north-up: row 0 at +90, like a GDAL
        negative-dy GeoTransform, utils.py:52-55)."""
        raw = D.idiv(f"{D.dbl(90.0)} - ({lat})", D.dbl(self.deg))
        return f"least(greatest({raw}, 0), {self.ny - 1})"

    def cell_sql(self, lon: str, lat: str) -> str:
        return f"({self.iy_sql(lat)}) * {self.nx} + ({self.ix_sql(lon)})"

    def cell_to_ix(self, cell: str) -> str:
        return f"(({cell}) % {self.nx})"

    def cell_to_iy(self, cell: str) -> str:
        return D.idiv(cell, str(self.nx))

    def tile_sql_from_cell(self, cell: str) -> str:
        tx = D.idiv(self.cell_to_ix(cell), str(self.tile))
        ty = D.idiv(self.cell_to_iy(cell), str(self.tile))
        return f"({ty}) * {self.ntx} + ({tx})"

    def local_rc_sql(self, cell: str) -> tuple[str, str]:
        """(row, col) of a cell within its tile — rasterization target."""
        return (
            f"(({self.cell_to_iy(cell)}) % {self.tile})",
            f"(({self.cell_to_ix(cell)}) % {self.tile})",
        )

    def cell_center_lon_sql(self, cell: str) -> str:
        """Center-of-cell longitude (pixel_to_xy centering,
        utils.py:890-937)."""
        return f"(({self.cell_to_ix(cell)}) + {D.dbl(0.5)}) * {D.dbl(self.deg)} - {D.dbl(180.0)}"

    def cell_center_lat_sql(self, cell: str) -> str:
        return f"{D.dbl(90.0)} - (({self.cell_to_iy(cell)}) + {D.dbl(0.5)}) * {D.dbl(self.deg)}"

    def parent_cell_sql(self, cell: str, factor: int) -> str:
        """Re-key a cell to the coarser grid whose cells are ``factor``x
        bigger — the regridding join of intersect_rasters
        (utils.py:676-731) without resampling."""
        ix = D.idiv(self.cell_to_ix(cell), str(factor))
        iy = D.idiv(self.cell_to_iy(cell), str(factor))
        return f"({iy}) * {self.nx // factor} + ({ix})"

    # ---- Python-side helpers (driver/UDF use) ----

    def geotransform(self, tile_id: int) -> tuple[float, float, float, float, float, float]:
        """GDAL-style (x0, dx, 0, y0, 0, dy) for a tile — the reference's
        ``gt`` 6-tuple (utils.py:52-55)."""
        ty, tx = divmod(tile_id, self.ntx)
        x0 = -180.0 + tx * self.tile * self.deg
        y0 = 90.0 - ty * self.tile * self.deg
        return (x0, self.deg, 0.0, y0, 0.0, -self.deg)

    def neighbors(self, tile_id: int) -> list[int]:
        """Ids of the (up to 8) tiles around ``tile_id`` (halo-exchange
        support for focal windows, sasma.py:268-293)."""
        nty = (self.ny + self.tile - 1) // self.tile
        ty, tx = divmod(tile_id, self.ntx)
        out = []
        for dy in (-1, 0, 1):
            for dx in (-1, 0, 1):
                y, x = ty + dy, tx + dx
                if 0 <= y < nty and 0 <= x < self.ntx and (dy, dx) != (0, 0):
                    out.append(y * self.ntx + x)
        return out


WORLD_GRID = GridSpec()
