"""Core relational queries: the pages pipeline, dedup, windows, rollups.

These cover SURVEY.md §2.2 (projections/filters), §2.5 (MISSING analytic
windows — supplied), §2.6 (top-k), §2.7 (set ops / rollups) and the web-
pipeline invariants from BASELINE.json input_hint.
"""

from __future__ import annotations

from unmixing_spark import dialect as D
from unmixing_spark.pagegen import cell_raster_sql, geo_pages_sql, pages_sql
from unmixing_spark.queries import sql_template


# -- pages + per-row invariant (input_hint: byte-identical text per url) --
def _pages_invariant(d: str) -> str:
    return f"""
    SELECT url, lang,
           {D.ts_to_epoch('warc_ts', d)} AS warc_epoch,
           {D.binary_len('html', d)} AS html_bytes,
           length(text) AS text_len,
           {D.sha256_('text', d)} AS text_sha256
    FROM ({pages_sql(d)})
    ORDER BY url
    """


sql_template("q_pages_invariant", _pages_invariant,
             "pages table build + sha256(text) per-row invariant")


def _geo_pages(d: str) -> str:
    return f"""
    SELECT url, lang, warc_epoch, lon, lat, cell_id, tile_id
    FROM ({geo_pages_sql(d)})
    """


sql_template("q_geocode_cells", _geo_pages,
             "deterministic geocode + grid cell/tile encode (xy_to_pixel, utils.py:1104-1157)")

sql_template("q_cell_raster", cell_raster_sql,
             "rasterize as relational agg: per-cell multiband stats (as_array analogue)")


# -- dedup latest crawl per (host, lang): window + filter ------------
def _dedup_latest(d: str) -> str:
    return f"""
    SELECT url, lang, warc_epoch
    FROM (
      SELECT url, lang, warc_epoch,
             row_number() OVER (PARTITION BY split_part(url, '/', 3), lang
                                ORDER BY warc_epoch DESC, url) AS rn
      FROM ({geo_pages_sql(d)})
    ) WHERE rn = 1
    """


sql_template("q_dedup_latest_crawl", _dedup_latest,
             "keep newest crawl per (host, lang) — ranking window dedup (SURVEY §2.5 MISSING row)")


# -- mode aggregation (mask_ledaps_qa, utils.py:796-845: modal QA value) --
def _mode_lang_per_tile(d: str) -> str:
    return f"""
    SELECT tile_id, lang AS modal_lang, cnt AS modal_count
    FROM (
      SELECT tile_id, lang, cnt,
             row_number() OVER (PARTITION BY tile_id
                                ORDER BY cnt DESC, lang) AS rn
      FROM (
        SELECT tile_id, lang, count(*) AS cnt
        FROM ({geo_pages_sql(d)}) GROUP BY tile_id, lang
      )
    ) WHERE rn = 1
    """


sql_template("q_mode_per_group", _mode_lang_per_tile,
             "modal value per group with deterministic tie-break (mask_ledaps_qa mode, utils.py:835)")


# -- sessionize events: lag window (§2.5 MISSING lag/lead — supplied) -----
def _sessionize(d: str) -> str:
    ep = D.ts_to_epoch("ts", d)
    return f"""
    SELECT user_id,
           cast(count(*) as bigint) AS events,
           cast(sum(new_session) as bigint) AS sessions
    FROM (
      SELECT user_id,
             CASE WHEN {ep} - lag({ep}) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > 1800 OR lag({ep}) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ) GROUP BY user_id
    """


sql_template("q_sessionize_events", _sessionize,
             "lag-window sessionization over the events stream table",
             tables=("events",))


# -- top-k (argmax selection, lsma.py:424/455/490) -------------------------
def _topk(d: str) -> str:
    return f"""
    SELECT cell_id, b1, b2
    FROM ({cell_raster_sql(d)})
    ORDER BY b1 DESC, b2 DESC, cell_id
    LIMIT 20
    """


sql_template("q_topk_cells", _topk,
             "top-k selection with deterministic tie-break (argmax pattern, lsma.py:424)")


# -- grouping sets / rollup (§2.4 MISSING — supplied) ----------------------
def _rollup(d: str) -> str:
    return f"""
    SELECT coalesce(lang, 'ALL') AS lang,
           coalesce(source, 'ALL') AS source,
           cast(count(*) as bigint) AS docs,
           cast(sum(n_chars) as bigint) AS chars
    FROM documents
    GROUP BY GROUPING SETS ((lang, source), (lang), (source), ())
    """


sql_template("q_rollup_lang_source", _rollup,
             "grouping-sets rollup per lang x source (cube/rollup built-ins)")


# -- distinct + approx distinct ---------------------------------------------
def _distinct_hosts(d: str) -> str:
    # canonical host, not the raw authority (shared D.canon_host — the
    # same definition hygiene_q's q_canonical_url composes; pagegen URLs
    # are already clean so the values are unchanged)
    canon = D.canon_host("split_part(url, '/', 3)")
    return f"""
    SELECT lang,
           cast(count(distinct {canon}) as bigint) AS hosts,
           cast(count(*) as bigint) AS pages
    FROM ({pages_sql(d)})
    GROUP BY lang
    """


sql_template("q_distinct_hosts", _distinct_hosts,
             "exact distinct aggregation (approx_count_distinct variant in engine tests)")
