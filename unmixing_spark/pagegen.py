"""Deterministic synthetic Common-Crawl-style pages table.

``BASELINE.json`` input_hint: the engine's input is an Iceberg table
``pages(url string, warc_ts timestamp, html binary, text string,
lang string)``. In this sandbox we derive it *deterministically* from the
driver's seeded ``documents.parquet`` (doc_id, text, lang, source, n_chars)
so Spark and the DuckDB oracle construct byte-identical tables from the
same parquet — no external data, no RNG at query time.

Geocoding is a pure function of ``md5(url)`` (SURVEY.md §7.1): 80% of pages
land in 8 city hotspots (heavy grid-cell skew, on purpose — the skew the
north rule requires us to handle), 20% spread world-wide. Everything is
closed-form SQL so both dialects agree bit-for-bit.

The per-row invariant (BASELINE.json): ``text`` is carried byte-identical
end-to-end; ``sha2(text,256)`` is exposed for pipeline-invariant checks.
"""

from __future__ import annotations

from unmixing_spark import dialect as D
from unmixing_spark.spatial.grid import WORLD_GRID

# (lon, lat) hotspots: NYC, London, Paris, Tokyo, Beijing, Delhi, LA, Sydney
CITIES: list[tuple[float, float]] = [
    (-74.0, 40.7), (-0.13, 51.5), (2.35, 48.86), (139.7, 35.68),
    (116.4, 39.9), (77.2, 28.6), (-118.2, 34.05), (151.2, -33.87),
]

EPOCH_2025 = 1735689600  # 2025-01-01T00:00:00Z


def url_expr(dialect: str) -> str:
    """The canonical page url as an expr over ``documents`` columns — the
    SINGLE definition (pages_sql and crawl_q's link resolution share it,
    so a planted href and the page table cannot disagree on a url)."""
    return ("'https://' || source || '.example.com/' || lang || '/' || "
            + D.to_str("doc_id", dialect))


def pages_sql(dialect: str) -> str:
    """SELECT producing the canonical ``pages`` table from ``documents``."""
    url = url_expr(dialect)
    h1 = D.md5_slice("url", 1, dialect)
    ts = D.epoch_to_ts(f"{EPOCH_2025} + ({h1}) % 31536000", dialect)
    html = D.to_binary("'<html><body>' || text || '</body></html>'", dialect)
    return f"""
    SELECT url,
           {ts} AS warc_ts,
           {html} AS html,
           text,
           lang
    FROM (SELECT {url} AS url, text, lang FROM documents)
    """


def geocode_exprs(dialect: str) -> dict[str, str]:
    """lon/lat as a pure function of md5(url) — hotspot-skewed."""
    h1 = D.md5_slice("url", 1, dialect)
    h2 = D.md5_slice("url", 9, dialect)
    h3 = D.md5_slice("url", 17, dialect)
    city_lon = "CASE (" + h1 + ") % 8 " + " ".join(
        f"WHEN {i} THEN cast({lon} as double)" for i, (lon, _) in enumerate(CITIES)
    ) + " END"
    city_lat = "CASE (" + h1 + ") % 8 " + " ".join(
        f"WHEN {i} THEN cast({lat} as double)" for i, (_, lat) in enumerate(CITIES)
    ) + " END"
    jlon = f"((({h2}) % 100000) / {D.dbl(1e5)} - {D.dbl(0.5)}) * {D.dbl(2.0)}"
    jlat = f"((({h3}) % 100000) / {D.dbl(1e5)} - {D.dbl(0.5)}) * {D.dbl(2.0)}"
    lon = (f"CASE WHEN ({h1}) % 10 < 8 THEN ({city_lon}) + ({jlon}) "
           f"ELSE (({h2}) % 3600000) / {D.dbl(1e4)} - {D.dbl(180.0)} END")
    lat = (f"CASE WHEN ({h1}) % 10 < 8 THEN ({city_lat}) + ({jlat}) "
           f"ELSE (({h3}) % 1700000) / {D.dbl(1e4)} - {D.dbl(85.0)} END")
    return {"lon": lon, "lat": lat}


def geo_pages_sql(dialect: str) -> str:
    """pages + (lon, lat, cell_id, tile_id, epoch) on ``WORLD_GRID`` —
    the ``geo_pages`` stage (SURVEY.md §7.0 lifecycle)."""
    g = geocode_exprs(dialect)
    grid = WORLD_GRID
    return f"""
    SELECT url, warc_ts, text, lang,
           {D.ts_to_epoch('warc_ts', dialect)} AS warc_epoch,
           lon, lat,
           {grid.cell_sql('lon', 'lat')} AS cell_id,
           {grid.tile_sql_from_cell(grid.cell_sql('lon', 'lat'))} AS tile_id
    FROM (
      SELECT p.*, {g['lon']} AS lon, {g['lat']} AS lat
      FROM ({pages_sql(dialect)}) p
    )
    """


# Band definitions for rasterization: per-cell aggregates over pages.
# Band semantics (the web-page analogue of spectral bands):
#   b1 page count                 b2 mean text length
#   b3 distinct languages         b4 mean whitespace-token count
#   b5 mean url length            b6 latest crawl day-of-year
BAND_NAMES = ["b1", "b2", "b3", "b4", "b5", "b6"]


def cell_raster_sql(dialect: str) -> str:
    """The rasterize step as a relational aggregate: one row per occupied
    cell, 6 'band' statistics. This is the long/sparse form of the raster
    cube (SURVEY.md §1.5) — tile assembly to sparse tile rows happens in
    raster/rasterize.py via a sort-based mapInArrow."""
    tokens = f"size({D.ws_split('text', dialect)})" if dialect == D.SPARK \
        else f"len({D.ws_split('text', dialect)})"
    # Spark plans count(DISTINCT) as a second aggregation with its own
    # exchange; collect_set keeps the cell aggregate in one. Both skip
    # NULLs, and lang has a handful of values, so the sets stay small.
    langs = "size(collect_set(lang))" if dialect == D.SPARK \
        else "count(distinct lang)"
    doy = D.idiv(f"warc_epoch - {EPOCH_2025}", "86400")
    return f"""
    SELECT cell_id,
           cast(min(tile_id) as bigint)              AS tile_id,
           cast(count(*) as double)                  AS b1,
           round(avg(length(text)), 6)               AS b2,
           cast({langs} as double)      AS b3,
           round(avg({tokens}), 6)                   AS b4,
           round(avg(length(url)), 6)                AS b5,
           cast(max({doy}) as double)                AS b6
    FROM ({geo_pages_sql(dialect)})
    GROUP BY cell_id
    """
