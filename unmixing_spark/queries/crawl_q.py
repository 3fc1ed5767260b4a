"""Crawl-cycle operators: the steps between fetching pages and having a
clean, indexed, deduplicated corpus (task brief; the reference engine has
no web surface):

- q_extract_links — href extraction from page html + resolution against
  the page table, proven IN-QUERY to recover exactly the synthetic link
  graph the centrality queries (PageRank/HyperBall/HITS) run on.
- q_anchor_text — the anchor-text index: per target page, in-link counts
  and the SHA-256 of the deterministically ordered anchor texts (the
  classic web-search relevance signal; Brin & Page 1998 §2.2).
- q_simhash_pairs — Manku et al. 2007 ("Detecting Near-Duplicates for Web
  Crawling"): 64-bit SimHash with 4x16-bit block banding; by pigeonhole,
  blocking is EXACT for Hamming distance <= 3 — every qualifying pair
  shares an intact block.
- q_bloom_crossdedup — incremental cross-crawl dedup: a Bloom filter
  built over the previous crawl's text digests probes the new crawl,
  with exact-join ground truth so false positives are accounted per row.
- q_cdx_index — CDX-style capture index generation: SURT-ordered url
  keys, 14-digit timestamps, content digests (the index format web
  archives/Common Crawl ship alongside WARC).

All dual-rendered (Spark executes, DuckDB is the driver's oracle) and
hash-deterministic. Scale notes per operator in the docstrings below.
"""

from __future__ import annotations

from unmixing_spark import dialect as D
from unmixing_spark.pagegen import EPOCH_2025, pages_sql, url_expr
from unmixing_spark.queries import QuerySpec, register, sql_template
from unmixing_spark.queries.linkgraph_q import link_ctes
from unmixing_spark.queries.text_q import _tokens

# ---- link extraction from html ------------------------------------------------

A_TAG_RX = r'<a href="[^"]*">[^<]*</a>'
A_HREF_RX = r'<a href="([^"]*)"'
A_TEXT_RX = r'>([^<]*)</a>'


def _links_html_ctes(d: str) -> str:
    """Shared CTE chain ending in ``edges``(src, dst, idx, anchor).

    Synthesis: each page's html carries one ``<a>`` tag per out-link of
    the synthetic graph (link_ctes keep_k — the SINGLE graph definition
    shared with the centrality queries), concatenated in fan order.
    Every other link is serialized PROTOCOL-RELATIVE (``//host/path``),
    so resolution must recover the scheme from the linking page — a real
    resolution step, not string passthrough.

    Extraction: regexp_extract_all pulls the tags back out of the html,
    hrefs are resolved (scheme fill-in) and joined against the page
    table on url. That join is the web-graph build's real shape at
    10^12 pages: the href stream shuffles on url against the page
    table (both corpus-sized — a shuffled equi-join, never broadcast);
    everything before it is per-row string work that pipelines with the
    scan, and the planted-side aggregation is one (src, dst)-keyed
    exchange. No all-pairs anywhere."""
    href = ("CASE WHEN (l.src + l.k) % 2 = 0 THEN u.url "
            "ELSE '//' || substr(u.url, 9) END")
    anchor = f"'p' || {D.to_str('l.dst', d)} || ' k' || {D.to_str('l.k', d)}"
    tag = f"'<a href=\"' || {href} || '\">' || {anchor} || '</a>'"
    html = ("'<html><body><p>' || u.text || '</p>' || a.tags_html || "
            "'</body></html>'")
    if d == D.SPARK:
        tag_stream = f"""(
      SELECT doc_id, url, idx0 + 1 AS idx, tag
      FROM page
      LATERAL VIEW posexplode(regexp_extract_all(html, {D.rx_lit(A_TAG_RX, d)}, 0)) t AS idx0, tag
    )"""
    else:
        tag_stream = f"""(
      SELECT doc_id, url, cast(idx as int) AS idx, tag
      FROM (
        SELECT doc_id, url,
               unnest(range(1, len(tags) + 1)) AS idx,
               unnest(tags) AS tag
        FROM (SELECT doc_id, url,
                     regexp_extract_all(html, {D.rx_lit(A_TAG_RX, d)}, 0) AS tags
              FROM page) t)
    )"""
    return f"""{link_ctes(d, keep_k=True)},
    urls AS {D.mat(d)}(
      SELECT doc_id, {url_expr(d)} AS url, text FROM documents
    ),
    atags AS (
      SELECT l.src,
             {D.ordered_string_agg(tag, 'l.k', "''", d)} AS tags_html
      FROM links l JOIN urls u ON u.doc_id = l.dst
      GROUP BY l.src
    ),
    page AS (
      SELECT u.doc_id, u.url, {html} AS html
      FROM urls u JOIN atags a ON a.src = u.doc_id
    ),
    tags AS (SELECT doc_id, url, idx, tag FROM {tag_stream}),
    parsed AS (
      SELECT doc_id AS src, url AS src_url, idx,
             regexp_extract(tag, {D.rx_lit(A_HREF_RX, d)}, 1) AS href,
             regexp_extract(tag, {D.rx_lit(A_TEXT_RX, d)}, 1) AS anchor
      FROM tags
    ),
    resolved AS (
      SELECT src, idx, anchor,
             CASE WHEN href LIKE '//%'
                  THEN split_part(src_url, ':', 1) || ':' || href
                  ELSE href END AS abs_url
      FROM parsed
    ),
    edges AS {D.mat(d)}(
      SELECT r.src, u.doc_id AS dst, r.idx, r.anchor
      FROM resolved r JOIN urls u ON u.url = r.abs_url
    )"""


def _extract_links(d: str) -> str:
    """Recovered edge multiset FULL-JOINed against the planted graph:
    ``match = 1`` on every row iff extraction + resolution inverted the
    synthesis exactly (the in-query proof that the html-derived graph IS
    the graph PageRank/HyperBall/HITS consume)."""
    return f"""
    WITH {_links_html_ctes(d)},
    ex AS (SELECT src, dst, cast(count(*) as bigint) AS n
           FROM edges GROUP BY src, dst),
    pl AS (SELECT src, dst, cast(count(*) as bigint) AS n
           FROM links GROUP BY src, dst)
    SELECT coalesce(e.src, p.src) AS src,
           coalesce(e.dst, p.dst) AS dst,
           cast(coalesce(e.n, 0) as bigint) AS extracted_n,
           cast(coalesce(p.n, 0) as bigint) AS planted_n,
           cast(CASE WHEN e.n = p.n THEN 1 ELSE 0 END as bigint) AS match
    FROM ex e FULL JOIN pl p ON p.src = e.src AND p.dst = e.dst
    """


sql_template("q_extract_links", _extract_links,
             "href extraction from page html + url resolution (incl. "
             "protocol-relative) joined against the page table, with an "
             "in-query proof the recovered edges equal the synthetic "
             "link graph the centrality queries run on",
             repartition=False)


def _anchor_text(d: str) -> str:
    """Anchor-text aggregation per TARGET page (the relevance signal web
    search indexes under the target, not the source). Order key
    src*8+idx is unique (out-degree <= 4 < 8), so the SHA-256 pins the
    exact ordered anchor bytes. One dst-keyed exchange over the edge
    stream — anchor payloads ride the shuffle once; at 10^12 pages this
    is the standard anchor-index build (skewed dsts are AQE's case;
    per-dst caps compose like HOT_BUCKET_CAP if a super-target needs
    one)."""
    okey = "src * 8 + idx"
    return f"""
    WITH {_links_html_ctes(d)}
    SELECT dst AS doc_id,
           cast(count(*) as bigint) AS n_inlinks,
           cast(count(DISTINCT src) as bigint) AS n_src_pages,
           {D.sha256_(D.ordered_string_agg('anchor', okey, "' '", d), d)}
             AS anchors_sha
    FROM edges
    GROUP BY dst
    """


sql_template("q_anchor_text", _anchor_text,
             "anchor-text index: per-target in-link counts + SHA-256 of "
             "the deterministically ordered anchor texts")


# ---- SimHash Hamming-block near-dup pairs --------------------------------------

SIM64_HD_MAX = 3   # Manku et al. 2007 use k=3 over 64 bits in production


def _simhash64_cte(d: str) -> str:
    """CTE chain ending in ``sh``(doc_id, lo, hi): a 64-bit SimHash as
    two 32-bit halves (bit 63 would overflow signed int64 as a sum
    term), from two independent md5 slices per token. Same per-bit
    weighted-majority construction as q_simhash (Charikar 2002), one
    tok-exploded aggregation — map-side combinable, one doc_id
    exchange."""
    def bits(h: str) -> str:
        # majority of occurrences: (#set - #unset) > 0 <=> 2*#set > n —
        # the arithmetic form keeps the per-row aggregate input a plain
        # shift-and (no CASE branch per bit per token)
        return " + ".join(
            f"(CASE WHEN 2 * sum(({h} >> {b}) & 1) > count(*) "
            f"THEN {1 << b} ELSE 0 END)"
            for b in range(32))
    return f"""toks AS (
      SELECT doc_id, {D.md5_slice('tok', 1, d)} AS h1,
             {D.md5_slice('tok', 9, d)} AS h2
      FROM {_tokens(d)}
    ),
    sh AS {D.mat(d)}(
      SELECT doc_id,
             cast({bits('h1')} as bigint) AS lo,
             cast({bits('h2')} as bigint) AS hi
      FROM toks GROUP BY doc_id
    )"""


def _simhash_pairs_tail(d: str, sh: str) -> str:
    """The banding + verification tail over an ``sh``(doc_id, lo, hi)
    relation — factored so the Spark side can feed a once-computed,
    checkpointed simhash table (``sh`` is referenced SIX times below;
    as a CTE each reference re-ran the full token pass) while the
    DuckDB oracle text renders over the materialized ``sh`` CTE,
    byte-identical to the round-5 fingerprint."""
    hd = (f"bit_count({D.xor_('a.lo', 'b.lo', d)}) + "
          f"bit_count({D.xor_('a.hi', 'b.hi', d)})")
    return f"""blk AS (
      SELECT doc_id, 0 AS blk, (lo & 65535) AS bval FROM {sh}
      UNION ALL SELECT doc_id, 1, ((lo >> 16) & 65535) FROM {sh}
      UNION ALL SELECT doc_id, 2, (hi & 65535) FROM {sh}
      UNION ALL SELECT doc_id, 3, ((hi >> 16) & 65535) FROM {sh}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM blk a JOIN blk b
        ON a.blk = b.blk AND a.bval = b.bval AND a.doc_id < b.doc_id
    )
    SELECT c.doc_a, c.doc_b, cast({hd} as bigint) AS hamming
    FROM cand c
    JOIN {sh} a ON a.doc_id = c.doc_a
    JOIN {sh} b ON b.doc_id = c.doc_b
    WHERE {hd} <= {SIM64_HD_MAX}
    """


def _simhash_pairs(d: str) -> str:
    """Near-dup pairs at Hamming distance <= SIM64_HD_MAX over a 64-bit
    SimHash, blocked on 4x16-bit blocks (Manku et al. 2007): a pair
    differing in <= 3 bits touches <= 3 blocks, so BY PIGEONHOLE it
    collides on an intact block — the blocking is EXACT, not
    approximate (the pytest pin asserts equality with the brute-force
    all-pairs answer). Candidate generation is a (blk, bval)-keyed
    self-join: O(docs x 4) bucket rows, 65,536 values per block, never
    all-pairs. At web scale the hot buckets ARE the exact-duplicate
    clusters — production runs q_dedup_exact first (Manku §4) and/or
    splits a residual hot bucket on a second block; the corpus here has
    none (the pin checks the max bucket size), so a cap would only mask
    the exactness property this operator guarantees."""
    return f"""
    WITH {_simhash64_cte(d)},
    {_simhash_pairs_tail(d, "sh")}"""


def _simhash_pairs_spark(spark, sf_dir):
    """q_simhash_pairs' Spark side (round-6 optimization): the 64-bit
    simhash table is built ONCE from vocabulary-hashed token counts and
    checkpointed, then the banding tail runs over it.

    Two measured wins vs the pure-CTE rendering (guide §2.3/§1.2):
    (1) hash the DISTINCT vocabulary and weight the per-bit majority by
    the (doc, tok) count — 2·sum(c·bit) > sum(c) <=> 2·#set > n, so the
    simhash is identical bit-for-bit while md5 volume drops corpus →
    vocabulary; (2) the tail references ``sh`` six times, and a CTE
    reference re-executes its whole token pass (Catalyst prunes each
    consumer differently, so ReuseExchange cannot dedupe them) — the
    eager localCheckpoint makes all six consumers read one 50k-row
    table. Results pinned bit-identical; DuckDB oracle text unchanged."""
    from unmixing_spark import pipeline

    pipeline.register_tables(spark, sf_dir, ("documents",))
    d = D.SPARK

    def wbits(h: str) -> str:
        return " + ".join(
            f"(CASE WHEN 2 * sum(c * (({h} >> {b}) & 1)) > sum(c) "
            f"THEN {1 << b} ELSE 0 END)"
            for b in range(32))

    tfq = spark.sql(
        f"SELECT doc_id, tok, cast(count(*) as bigint) AS c "
        f"FROM {_tokens(d)} GROUP BY doc_id, tok"
    ).localCheckpoint(eager=True)
    tfq.createOrReplaceTempView("sp64_tfq")
    sh = spark.sql(f"""
    WITH th AS (
      SELECT tok, {D.md5_slice('tok', 1, d)} AS h1,
             {D.md5_slice('tok', 9, d)} AS h2
      FROM (SELECT DISTINCT tok FROM sp64_tfq)
    )
    SELECT doc_id,
           cast({wbits('h1')} as bigint) AS lo,
           cast({wbits('h2')} as bigint) AS hi
    FROM sp64_tfq JOIN th ON th.tok = sp64_tfq.tok GROUP BY doc_id
    """).localCheckpoint(eager=True)
    sh.createOrReplaceTempView("sp64_sh")
    # Spark-side tail: block rows carry (lo, hi) so the Hamming filter
    # runs INSIDE the self-join stage, before any exchange — the
    # correlated-bit skew of a small vocabulary makes block values hot
    # (19M candidate doc pairs at sf1.0), and the original tail shuffled
    # all of them through a DISTINCT and re-joined sh twice; filtering
    # first leaves ~14k rows for the DISTINCT. Same rows out: the
    # hamming value is a function of the pair, so dedup-after-filter ==
    # filter-after-dedup. Oracle text unchanged.
    hd = (f"bit_count({D.xor_('a.lo', 'b.lo', d)}) + "
          f"bit_count({D.xor_('a.hi', 'b.hi', d)})")
    return spark.sql(f"""
    WITH blk AS (
      SELECT doc_id, lo, hi, 0 AS blk, (lo & 65535) AS bval FROM sp64_sh
      UNION ALL SELECT doc_id, lo, hi, 1, ((lo >> 16) & 65535) FROM sp64_sh
      UNION ALL SELECT doc_id, lo, hi, 2, (hi & 65535) FROM sp64_sh
      UNION ALL SELECT doc_id, lo, hi, 3, ((hi >> 16) & 65535) FROM sp64_sh
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           cast({hd} as bigint) AS hamming
    FROM blk a JOIN blk b
      ON a.blk = b.blk AND a.bval = b.bval AND a.doc_id < b.doc_id
    WHERE {hd} <= {SIM64_HD_MAX}
    """)


register("q_simhash_pairs", QuerySpec(
    spark_fn=_simhash_pairs_spark, oracle=_simhash_pairs(D.DUCKDB),
    doc="64-bit SimHash near-dup pairs via 4x16-bit block banding "
        "(Manku et al. 2007) — pigeonhole-exact for Hamming <= 3, "
        "pinned against brute force"))


# ---- Bloom-filter incremental cross-crawl dedup --------------------------------

BLOOM_M = 2048   # filter bits. UNDER-sized on purpose at toy scale so the
                 # false-positive path is exercised (~3% FP at ~250 old
                 # keys: (1 - e^(-k n / m))^k); production sizes m ~ 10n
                 # per shard. 64 words x 32 bits.
BLOOM_K = 3      # hash functions = 3 independent md5 hex slices
BLOOM_CUTOFF = EPOCH_2025 + 15768000   # mid-year: captures before it are
                                       # the "previous crawl"


def _bloom_crossdedup(d: str) -> str:
    """Incremental dedup of a new crawl against the previous one — the
    standing-corpus half of dedup that whole-corpus passes (exact /
    MinHash / SimHash) don't cover: at 100 TB you don't re-shuffle last
    year's corpus to admit this week's crawl; you probe its digest
    Bloom filter.

    Filter build: k md5-slice positions per OLD text digest; DISTINCT
    (word, bit) pairs sum exact pow2 literals into 64 bigint words — a
    B-row aggregate (B = 64 << corpus), broadcast onto the probe
    stream. Probes: per NEW page, bloom_hit = every one of its k bits
    set (min over bit tests); ground truth via a digest-keyed LEFT
    join back to the old keys so false positives are per-row auditable
    (a real pipeline drops the truth join and accepts the FP rate —
    here it IS the oracle check). All exchanges are digest-keyed or
    broadcast; no all-pairs. Per-shard filters at 10^12 pages are this
    same query GROUPed by shard key."""
    pow2_rows = ", ".join(f"({n}, {1 << n})" for n in range(32))
    def pos_union(src: str, cols: str) -> str:
        return " UNION ALL ".join(
            f"SELECT {cols}, ({D.hex2int(f'substr(tk, {o}, 8)', d)}) "
            f"% {BLOOM_M} AS p FROM {src}"
            for o in (1, 9, 17))
    w = D.idiv_i("p", "32", d)
    return f"""
    WITH pg AS (SELECT * FROM ({pages_sql(d)}) q),
    sp AS {D.mat(d)}(
      SELECT url, md5(text) AS tk,
             CASE WHEN {D.ts_to_epoch('warc_ts', d)} < {BLOOM_CUTOFF}
                  THEN 0 ELSE 1 END AS is_new
      FROM pg
    ),
    pow2 AS ({D.values_rel(pow2_rows, "t(n, p)", d)}),
    oldk AS {D.mat(d)}(SELECT DISTINCT tk FROM sp WHERE is_new = 0),
    opos AS ({pos_union('oldk', 'tk')}),
    obits AS (SELECT DISTINCT {w} AS w, p % 32 AS b FROM opos),
    bloom AS {D.mat(d)}(
      SELECT w, cast(sum(p2.p) as bigint) AS wd
      FROM obits JOIN pow2 p2 ON p2.n = b
      GROUP BY w
    ),
    probe AS {D.mat(d)}(SELECT url, tk FROM sp WHERE is_new = 1),
    ppos AS ({pos_union('probe', 'url')}),
    hits AS (
      SELECT pp.url,
             min(CASE WHEN f.wd IS NOT NULL AND (f.wd & p2.p) <> 0
                      THEN 1 ELSE 0 END) AS bloom_hit
      FROM ppos pp
      JOIN pow2 p2 ON p2.n = pp.p % 32
      LEFT JOIN bloom f ON f.w = {D.idiv_i('pp.p', '32', d)}
      GROUP BY pp.url
    )
    SELECT pr.url,
           cast(h.bloom_hit as bigint) AS bloom_hit,
           cast(CASE WHEN o.tk IS NOT NULL THEN 1 ELSE 0 END as bigint)
             AS exact_dup,
           cast(CASE WHEN h.bloom_hit = 1 AND o.tk IS NULL
                     THEN 1 ELSE 0 END as bigint) AS false_pos
    FROM probe pr
    JOIN hits h ON h.url = pr.url
    LEFT JOIN oldk o ON o.tk = pr.tk
    """


def _bloom_crossdedup_spark(spark, sf_dir):
    """q_bloom_crossdedup's Spark side (round-6): the digest table ``sp``
    is computed ONCE and checkpointed — as a CTE it was re-executed by
    each of its four consumers (old keys, probe stream, and the two
    ground-truth joins), each re-run re-deriving the synthetic page
    table and re-hashing every text. The tail SQL is the template's own
    text over the checkpointed views; results bit-identical, DuckDB
    oracle text unchanged."""
    from unmixing_spark import pipeline

    pipeline.register_tables(spark, sf_dir, ("documents",),
                             repartition=False)
    d = D.SPARK
    pow2_rows = ", ".join(f"({n}, {1 << n})" for n in range(32))

    def pos_union(src: str, cols: str) -> str:
        return " UNION ALL ".join(
            f"SELECT {cols}, ({D.hex2int(f'substr(tk, {o}, 8)', d)}) "
            f"% {BLOOM_M} AS p FROM {src}"
            for o in (1, 9, 17))

    w = D.idiv_i("p", "32", d)
    sp = spark.sql(f"""
    WITH pg AS (SELECT * FROM ({pages_sql(d)}) q)
    SELECT url, md5(text) AS tk,
           CASE WHEN {D.ts_to_epoch('warc_ts', d)} < {BLOOM_CUTOFF}
                THEN 0 ELSE 1 END AS is_new
    FROM pg
    """).localCheckpoint(eager=True)
    sp.createOrReplaceTempView("bl_sp")
    return spark.sql(f"""
    WITH pow2 AS ({D.values_rel(pow2_rows, "t(n, p)", d)}),
    oldk AS (SELECT DISTINCT tk FROM bl_sp WHERE is_new = 0),
    opos AS ({pos_union('oldk', 'tk')}),
    obits AS (SELECT DISTINCT {w} AS w, p % 32 AS b FROM opos),
    bloom AS (
      SELECT w, cast(sum(p2.p) as bigint) AS wd
      FROM obits JOIN pow2 p2 ON p2.n = b
      GROUP BY w
    ),
    probe AS (SELECT url, tk FROM bl_sp WHERE is_new = 1),
    ppos AS ({pos_union('probe', 'url')}),
    hits AS (
      SELECT pp.url,
             min(CASE WHEN f.wd IS NOT NULL AND (f.wd & p2.p) <> 0
                      THEN 1 ELSE 0 END) AS bloom_hit
      FROM ppos pp
      JOIN pow2 p2 ON p2.n = pp.p % 32
      LEFT JOIN bloom f ON f.w = {D.idiv_i('pp.p', '32', d)}
      GROUP BY pp.url
    )
    SELECT pr.url,
           cast(h.bloom_hit as bigint) AS bloom_hit,
           cast(CASE WHEN o.tk IS NOT NULL THEN 1 ELSE 0 END as bigint)
             AS exact_dup,
           cast(CASE WHEN h.bloom_hit = 1 AND o.tk IS NULL
                     THEN 1 ELSE 0 END as bigint) AS false_pos
    FROM probe pr
    JOIN hits h ON h.url = pr.url
    LEFT JOIN oldk o ON o.tk = pr.tk
    """)


register("q_bloom_crossdedup", QuerySpec(
    spark_fn=_bloom_crossdedup_spark, oracle=_bloom_crossdedup(D.DUCKDB),
    doc="incremental cross-crawl dedup: Bloom filter over the "
        "previous crawl's text digests probes the new crawl, with "
        "exact-join ground truth making false positives auditable"))


# ---- CDX capture index ----------------------------------------------------------


def _cdx_index(d: str) -> str:
    """CDX-style capture index over the pages table: SURT-ordered url
    key (reversed host labels — one host's captures are contiguous
    under a plain string sort), 14-digit timestamp, SHA-256 content
    digest, payload length, and the global line number the sorted
    index file would carry. Per-row string work + ONE global sort
    window; at 10^12 captures the sort is a range-partitioned
    sort-merge write (Spark's sortWithinPartitions over a range
    partitioner — the exact plan writeTo(...).sortedBy produces) and
    line_no becomes per-shard offsets + a shard manifest, the way CDX
    shards actually ship."""
    host = "lower(split_part(split_part(url, '://', 2), '/', 1))"
    path = ("substr(split_part(url, '://', 2), "
            "length(split_part(split_part(url, '://', 2), '/', 1)) + 1)")
    surt = f"{D.host_surt('host', d)} || ')' || path"
    return f"""
    WITH pg AS (SELECT * FROM ({pages_sql(d)}) q),
    parts AS (
      SELECT url, warc_ts, text, html, {host} AS host, {path} AS path
      FROM pg
    ),
    keyed AS (
      SELECT {surt} AS surt_key,
             {D.ts_compact('warc_ts', d)} AS ts14,
             url,
             {D.sha256_('text', d)} AS digest,
             'text/html' AS mime,
             cast({D.binary_len('html', d)} as bigint) AS length_bytes
      FROM parts
    )
    SELECT surt_key, ts14, url, digest, mime, length_bytes,
           cast(row_number() OVER (ORDER BY surt_key, ts14, url)
                as bigint) AS line_no
    FROM keyed
    """


sql_template("q_cdx_index", _cdx_index,
             "CDX capture index: SURT-ordered keys, 14-digit timestamps, "
             "SHA-256 digests, payload lengths, sorted line numbers")


# ---- robots.txt evaluation (RFC 9309 longest-match) -----------------------------

RULE_RX = r"(Allow|Disallow): (.+)"


def _robots_rules(d: str) -> str:
    """robots.txt fetch-compliance filter with the REAL match semantics
    (RFC 9309 §2.2.2: the longest matching path prefix wins; §2.3.2
    ties go to Allow) — q_meta_robots' upstream sibling: the crawler
    applies THIS before fetching, the indexer applies robots-meta after.

    Each host's robots.txt is synthesized deterministically (md5(host)
    convention) to fire every semantic branch: a Disallow overridden by
    a longer Allow, a blanket ``Disallow: /``, an equal-length
    Allow/Disallow tie, and rule-free hosts. The rule table is PARSED
    back out of the file text (newline split + regexp per line, the
    group-less single-agent scope declared), never passed around as
    structured data — the parser is part of the operator.

    Scale shape: robots files are per-HOST (~10^7 hosts vs 10^12 pages)
    so the parsed rule table is small and the page-stream join is
    host-keyed with a broadcast build side; the longest-match winner is
    one doc_id-keyed window over the (few-rules-per-page) match rows.
    Per-row work pipelines with the scan. UT1-style category blocking
    over the same shape is q_url_blocklist."""
    host = "source || '.example.com'"
    path = f"'/' || lang || '/' || {D.to_str('doc_id', d)}"
    hkey = "'h' || host"
    g = f"({D.md5_slice(hkey, 1, d)}) % 4"
    nl = "chr(10)"
    body = f"""CASE {g}
      WHEN 0 THEN {nl} || 'Disallow: /zh/' || {nl} || 'Allow: /zh/1'
      WHEN 1 THEN {nl} || 'Disallow: /'
      WHEN 2 THEN {nl} || 'Allow: /en/' || {nl} || 'Disallow: /en/'
                  || {nl} || 'Disallow: /de/'
      ELSE '' END"""
    if d == D.SPARK:
        line_stream = f"""(
      SELECT host, line FROM robots
      LATERAL VIEW explode({D.line_split('txt', d)}) t AS line
    )"""
    else:
        line_stream = f"""(
      SELECT host, unnest({D.line_split('txt', d)}) AS line FROM robots
    )"""
    return f"""
    WITH hosts AS (SELECT DISTINCT {host} AS host FROM documents),
    robots AS (
      SELECT host, 'User-agent: *' || ({body}) AS txt FROM hosts
    ),
    lines AS (SELECT host, line FROM {line_stream}),
    rules AS {D.mat(d)}(
      SELECT host,
             regexp_extract(line, {D.rx_lit(RULE_RX, d)}, 1) AS typ,
             regexp_extract(line, {D.rx_lit(RULE_RX, d)}, 2) AS prefix
      FROM lines
      WHERE regexp_extract(line, {D.rx_lit(RULE_RX, d)}, 2) <> ''
    ),
    pages AS (
      SELECT doc_id, {host} AS host, {path} AS path FROM documents
    ),
    matched AS (
      SELECT p.doc_id, r.typ, r.prefix,
             row_number() OVER (PARTITION BY p.doc_id
                                ORDER BY length(r.prefix) DESC, r.typ)
               AS rn
      FROM pages p JOIN rules r
        ON r.host = p.host AND substr(p.path, 1, length(r.prefix)) = r.prefix
    )
    SELECT p.doc_id, p.host, p.path,
           coalesce(m.typ, '') AS rule_typ,
           coalesce(m.prefix, '') AS rule_prefix,
           cast(CASE WHEN m.typ = 'Disallow' THEN 0 ELSE 1 END as bigint)
             AS allowed
    FROM pages p
    LEFT JOIN matched m ON m.doc_id = p.doc_id AND m.rn = 1
    """


sql_template("q_robots_rules", _robots_rules,
             "RFC 9309 robots.txt evaluation: rules parsed from the "
             "per-host file text, longest-match-wins with Allow winning "
             "ties — the crawler-side compliance filter")


# ---- host-graph rollup -----------------------------------------------------------


def _host_graph(d: str) -> str:
    """Page graph → host graph rollup (the host/domain graph releases
    Common Crawl publishes next to the page-level data, and the level
    its harmonic-centrality rankings are computed at): per
    (src_host, dst_host), link multiplicity and the distinct page
    counts on each side.

    Scale shape: the page→host map is a projection of the page table;
    the two mappings join the edge list keyed by page id (the edge
    list's natural keys — co-bucketable with the page table), then ONE
    (src_host, dst_host)-keyed aggregation with map-side combine. The
    host graph output is ~10^7 x fan rows — orders smaller than the
    page graph, which is the point of the rollup."""
    host = "source || '.example.com'"
    return f"""
    WITH {link_ctes(d)},
    hm AS (SELECT doc_id, {host} AS host FROM documents)
    SELECT s.host AS src_host, t.host AS dst_host,
           cast(count(*) as bigint) AS n_links,
           cast(count(DISTINCT l.src) as bigint) AS n_src_pages,
           cast(count(DISTINCT l.dst) as bigint) AS n_dst_pages
    FROM links l
    JOIN hm s ON s.doc_id = l.src
    JOIN hm t ON t.doc_id = l.dst
    GROUP BY s.host, t.host
    """


sql_template("q_host_graph", _host_graph,
             "page graph -> host graph rollup (the Common Crawl "
             "host-graph release shape): per host pair, link "
             "multiplicity + distinct page counts")


# ---- cross-snapshot crawl delta ---------------------------------------------------

DELTA_REMOVED_MOD = 10   # urls with fate 0 disappear from snapshot B
DELTA_CHANGED_MOD = 10   # urls with fate 1 change content in snapshot B
DELTA_ADDED_MOD = 17     # every 17th doc contributes a B-only url


def _crawl_delta(d: str) -> str:
    """Crawl-over-crawl delta — the first report run when a new snapshot
    lands (Common Crawl's crawl-diff statistics): FULL JOIN of two
    captures keyed by url, classified added / removed / changed /
    unchanged by content digest. Snapshot B is derived deterministically
    from snapshot A (md5(url) fate: ~10% removed, ~10% changed, plus a
    B-only url per 17th doc), so every status branch fires and both
    renderings construct identical snapshots.

    Scale shape: one url-keyed FULL OUTER equi-join between two
    corpus-sized snapshots (the canonical sort/shuffle-merge case —
    bucketing both snapshots by url makes it exchange-free), digest
    compare per row. Nothing else."""
    url = url_expr(d)
    fkey = "'f' || url"
    fate = f"({D.md5_slice(fkey, 1, d)}) % {DELTA_REMOVED_MOD}"
    return f"""
    WITH a AS (
      SELECT url, md5(text) AS digest
      FROM (SELECT {url} AS url, text FROM documents) t
    ),
    fated AS (
      SELECT url, digest, {fate} AS fate FROM a
    ),
    b AS (
      SELECT url,
             CASE WHEN fate = 1 THEN md5('v2:' || digest) ELSE digest END
               AS digest
      FROM fated WHERE fate <> 0
      UNION ALL
      SELECT {url} || '/v2-extra' AS url, md5('new:' || text) AS digest
      FROM documents WHERE doc_id % {DELTA_ADDED_MOD} = 0
    )
    SELECT coalesce(a.url, b.url) AS url,
           coalesce(a.digest, '') AS digest_a,
           coalesce(b.digest, '') AS digest_b,
           CASE WHEN a.url IS NULL THEN 'added'
                WHEN b.url IS NULL THEN 'removed'
                WHEN a.digest <> b.digest THEN 'changed'
                ELSE 'unchanged' END AS status
    FROM a FULL JOIN b ON b.url = a.url
    """


# ---- politeness-aware frontier scheduling -----------------------------------------

FRONTIER_DELAY_MODS = 5   # per-host crawl delay in 1..5 seconds


def _crawl_frontier(d: str) -> str:
    """Politeness-aware crawl frontier scheduling — the ordering step
    between having a URL set and fetching it: per host, fetches are
    serialized one per crawl-delay window (the per-host queue every
    polite crawler maintains; RFC 9309 crawl-delay semantics), and
    within a host the indegree-richest pages fetch first (BFS/indegree
    prioritization — Cho, Garcia-Molina & Page 1998's backlink-count
    ordering, the simple end of OPIC).

    Synthesis: the frontier is the page table itself; per-host delay is
    1 + md5('d'||host) % {FRONTIER_DELAY_MODS} seconds; priority is the
    planted link graph's indegree (0 for unlinked pages via LEFT JOIN).

    Scale shape: indegree is one dst-keyed aggregation of the edge
    list; slot assignment is a host-partitioned window (hot hosts ARE
    the skew — but a host's frontier is serialized by politeness
    anyway, so the window's skew mirrors the real fetch queue; at
    10^12 urls the per-host queues are written out bucketed by host and
    consumed as ranges). The global fetch_order is a total sort —
    range-partitioned sort-merge at scale, same as the CDX write."""
    host = "source || '.example.com'"
    dkey = "'d' || host"
    delay = f"1 + ({D.md5_slice(dkey, 1, d)}) % {FRONTIER_DELAY_MODS}"
    return f"""
    WITH {link_ctes(d)},
    indeg AS {D.mat(d)}(
      SELECT dst AS doc_id, cast(count(*) as bigint) AS inlinks
      FROM links GROUP BY dst
    ),
    fr AS (
      SELECT doc_id, {host} AS host,
             cast({delay} as bigint) AS delay_s
      FROM documents
    ),
    slotted AS (
      SELECT f.doc_id, f.host, f.delay_s,
             cast(coalesce(i.inlinks, 0) as bigint) AS inlinks,
             cast(row_number() OVER (PARTITION BY f.host
                                     ORDER BY coalesce(i.inlinks, 0) DESC,
                                              f.doc_id) - 1
                  as bigint) AS slot
      FROM fr f LEFT JOIN indeg i ON i.doc_id = f.doc_id
    )
    SELECT doc_id, host, inlinks, delay_s, slot,
           cast(slot * delay_s as bigint) AS sched_offset_s,
           cast(row_number() OVER (ORDER BY slot * delay_s, host, doc_id)
                as bigint) AS fetch_order
    FROM slotted
    """


sql_template("q_crawl_frontier", _crawl_frontier,
             "politeness-aware frontier scheduling: per-host crawl-delay "
             "slots with indegree-first prioritization and a global "
             "fetch order")


# ---- sitemap coverage -------------------------------------------------------------

SITEMAP_LISTED_MOD = 3       # ~2/3 of a host's pages appear in its sitemap
SITEMAP_PHANTOMS = 2         # per-host sitemap-only urls not yet crawled
SITEMAP_ENTRY_RX = r"<url><loc>[^<]*</loc><lastmod>[^<]*</lastmod></url>"
SITEMAP_LOC_RX = r"<loc>([^<]*)</loc>"
SITEMAP_LASTMOD_RX = r"<lastmod>([^<]*)</lastmod>"


def _sitemap_urls(d: str) -> str:
    """Sitemap coverage report — crawl scheduling's discovery input
    (sitemaps.org protocol): each host's sitemap.xml is synthesized
    deterministically (2/3 of its crawled pages listed, plus
    {SITEMAP_PHANTOMS} sitemap-only urls per host), then PARSED back out
    of the xml text (regexp per entry — the parser is part of the
    operator, robots_rules doctrine), and FULL JOINed against the crawl
    by url: status = both / sitemap_only (discovery backlog) /
    crawl_only (unlisted but crawled); for matched urls, stale = the
    sitemap lastmod postdates the capture (refetch signal). lastmod and
    capture time both render as 14-digit compact timestamps, so
    staleness is a plain string compare.

    Scale shape: sitemaps are per-HOST (~10^7 files vs 10^12 urls) —
    the xml build/parse side is host-keyed and tiny relative to the
    crawl; the coverage join is url-keyed between the parsed entry
    stream and the capture table (both bucketable by url); every branch
    of the synthesis fires at sf0.001."""
    host = "source || '.example.com'"
    url = url_expr(d)
    smkey = "'sm' || url"
    lmkey = "'lm' || url"
    listed = f"({D.md5_slice(smkey, 1, d)}) % {SITEMAP_LISTED_MOD} < 2"
    lm_epoch = f"{EPOCH_2025} + ({D.md5_slice(lmkey, 1, d)}) % 63072000"
    lastmod = D.ts_compact(D.epoch_to_ts(lm_epoch, d), d)
    entry = "'<url><loc>' || url || '</loc><lastmod>' || lm || '</lastmod></url>'"
    if d == D.SPARK:
        entry_stream = f"""(
      SELECT host, entry FROM sitemaps
      LATERAL VIEW explode(regexp_extract_all(xml, {D.rx_lit(SITEMAP_ENTRY_RX, d)}, 0)) t AS entry
    )"""
    else:
        entry_stream = f"""(
      SELECT host, unnest(regexp_extract_all(xml, {D.rx_lit(SITEMAP_ENTRY_RX, d)}, 0)) AS entry
      FROM sitemaps
    )"""
    phantom_rows = ", ".join(f"({n})" for n in range(1, SITEMAP_PHANTOMS + 1))
    return f"""
    WITH pg AS (SELECT * FROM ({pages_sql(d)}) q),
    crawled AS {D.mat(d)}(
      SELECT url,
             lower(split_part(split_part(url, '://', 2), '/', 1)) AS host,
             {D.ts_compact('warc_ts', d)} AS warc14
      FROM pg
    ),
    listed AS (
      SELECT host, url, {lastmod} AS lm FROM crawled WHERE {listed}
      UNION ALL
      SELECT h.host,
             'https://' || h.host || '/sitemap-only/' || {D.to_str('n.n', d)}
               AS url,
             {D.ts_compact(D.epoch_to_ts(
                 f"{EPOCH_2025} + ({D.md5_slice(chr(39) + 'ph' + chr(39) + ' || h.host || ' + D.to_str('n.n', d), 1, d)}) % 63072000",
                 d), d)} AS lm
      FROM (SELECT DISTINCT host FROM crawled) h
      CROSS JOIN ({D.values_rel(phantom_rows, "t(n)", d)}) n
    ),
    sitemaps AS {D.mat(d)}(
      SELECT host,
             '<?xml version="1.0"?><urlset>' ||
             {D.ordered_string_agg(entry, 'url', "''", d)} ||
             '</urlset>' AS xml
      FROM listed GROUP BY host
    ),
    entries AS (SELECT host, entry FROM {entry_stream}),
    parsed AS {D.mat(d)}(
      SELECT host,
             regexp_extract(entry, {D.rx_lit(SITEMAP_LOC_RX, d)}, 1) AS url,
             regexp_extract(entry, {D.rx_lit(SITEMAP_LASTMOD_RX, d)}, 1)
               AS lastmod14
      FROM entries
    )
    SELECT coalesce(p.url, c.url) AS url,
           coalesce(p.host, c.host) AS host,
           CASE WHEN c.url IS NULL THEN 'sitemap_only'
                WHEN p.url IS NULL THEN 'crawl_only'
                ELSE 'both' END AS status,
           coalesce(p.lastmod14, '') AS lastmod14,
           coalesce(c.warc14, '') AS warc14,
           cast(CASE WHEN p.url IS NOT NULL AND c.url IS NOT NULL
                          AND p.lastmod14 > c.warc14
                     THEN 1 ELSE 0 END as bigint) AS stale
    FROM parsed p FULL JOIN crawled c ON c.url = p.url
    """


sql_template("q_sitemap_urls", _sitemap_urls,
             "sitemap coverage: per-host sitemap.xml synthesized then "
             "parsed back, FULL JOINed against the crawl — "
             "both/sitemap_only/crawl_only status + lastmod staleness")


# ---- change-rate recrawl priority ---------------------------------------------------

RECRAWL_CAPTURES = 6          # capture history length per url
RECRAWL_STEP = 2592000        # 30 days between captures
RECRAWL_CHANGE_PCT = 3        # md5 % 10 < 3 -> ~30% change per interval


def _recrawl_priority(d: str) -> str:
    """Change-rate-driven recrawl prioritization (Cho & Garcia-Molina
    2003, "Effective Page Refresh Policies for Web Crawlers"): estimate
    each url's change rate from its capture history, then rank refetch
    urgency by (change rate x staleness age).

    Synthesis: {RECRAWL_CAPTURES} captures per url, 30 days apart;
    interval i changed iff md5('ch'||url||':'||i) % 10 <
    {RECRAWL_CHANGE_PCT} (~30%). In production the history IS the CDX
    index (q_cdx_index) grouped by urlkey — this query composes
    downstream of it.

    Estimator: lambda_hat = changes / intervals (the MLE for the
    per-interval Bernoulli change probability — integer ratio, so the
    double is deterministic); age_days = days since the last observed
    change (or since first capture if never changed); priority =
    round(lambda_hat * age_days, 6); tier = ntile(4) by priority DESC
    (tier 1 = refetch first).

    Scale shape: the per-url aggregation is one url-keyed exchange over
    the K-row-per-url history stream (map-side combinable); the global
    ntile is the only total window — at 10^12 urls it becomes
    approx-quantile cutpoints (one 1-row broadcast) instead of a sort,
    the standard rank-to-threshold rewrite."""
    url = url_expr(d)
    iv_rows = ", ".join(f"({i})" for i in range(1, RECRAWL_CAPTURES))
    ckey = f"'ch' || u.url || ':' || {D.to_str('i.i', d)}"
    changed = (f"CASE WHEN ({D.md5_slice(ckey, 1, d)}) % 10 "
               f"< {RECRAWL_CHANGE_PCT} THEN 1 ELSE 0 END")
    t_i = f"{EPOCH_2025} + i.i * {RECRAWL_STEP}"
    now = EPOCH_2025 + RECRAWL_CAPTURES * RECRAWL_STEP
    lam = (f"cast(changes as double) / "
           f"cast({RECRAWL_CAPTURES - 1} as double)")
    return f"""
    WITH urls AS (SELECT {url} AS url FROM documents),
    ivs AS ({D.values_rel(iv_rows, "t(i)", d)}),
    hist AS (
      SELECT u.url, i.i,
             {changed} AS changed,
             {t_i} AS t_epoch
      FROM urls u CROSS JOIN ivs i
    ),
    agg AS (
      SELECT url,
             cast(sum(changed) as bigint) AS changes,
             max(CASE WHEN changed = 1 THEN t_epoch
                      ELSE {EPOCH_2025} END) AS last_change_epoch
      FROM hist GROUP BY url
    ),
    scored AS (
      SELECT url, changes,
             {D.idiv(f'{now} - last_change_epoch', '86400')} AS age_days,
             round(({lam}) * cast({D.idiv(f'{now} - last_change_epoch', '86400')} as double), 6)
               AS priority
      FROM agg
    )
    SELECT url, changes, age_days, priority,
           cast(ntile(4) OVER (ORDER BY priority DESC, url) as bigint)
             AS tier
    FROM scored
    """


REDIR_PCT = 2      # md5 % 10 < 2 -> ~20% of urls redirect
REDIR_MAX_HOPS = 4  # crawler redirect-follow cap (curl defaults ~5;
                    # bounded unroll keeps both renderings identical)


def _redirect_resolution(d: str) -> str:
    """HTTP redirect-chain resolution — the fetch-side step between the
    frontier and the page store: ~{REDIR_PCT}0% of urls 3xx-redirect to
    an md5-chosen other url; the crawler follows up to
    {REDIR_MAX_HOPS} hops and records the terminal url, the hop count,
    and whether the chain resolved (chains still redirecting at the
    cap read resolved = 0, exactly a crawler's 'too many redirects').
    Urls with doc_id % 250 == 3 form a PLANTED deterministic cycle
    (each redirects to the next such url modulo N), so the unresolved
    branch fires at every sf — random md5 chains alone resolve within
    the cap on small corpora.

    The redirect map is a total function (every url has a row; non-
    redirects carry next_url = themselves), so each hop is ONE
    url-keyed equi-join — the bounded unroll is {REDIR_MAX_HOPS} keyed
    joins in both renderings, never iteration-until-fixpoint (a
    crawler never follows unbounded chains either).

    Scale shape: the redirect map is corpus-sized; each hop joins the
    frontier stream to it url-keyed (bucketing both by url makes every
    hop exchange-free). Hop count is small and fixed."""
    url = url_expr(d)
    rkey = "'rd' || u.url"
    tkey = "'rt' || u.url"
    is_r = (f"CASE WHEN u.doc_id % 250 = 3 THEN 1 "
            f"WHEN ({D.md5_slice(rkey, 1, d)}) % 10 < {REDIR_PCT} "
            f"THEN 1 ELSE 0 END")
    tgt_id = (f"CASE WHEN u.doc_id % 250 = 3 "
              f"THEN (u.doc_id + 250) % nd.n "
              f"ELSE ({D.md5_slice(tkey, 1, d)}) % nd.n END")
    hops = []
    for i in range(1, REDIR_MAX_HOPS + 1):
        prev = f"h{i - 1}"
        hops.append(f"""h{i} AS (
      SELECT p.start,
             CASE WHEN p.done = 1 THEN p.cur ELSE m.next_url END AS cur,
             CASE WHEN p.done = 1 THEN p.hops ELSE p.hops + 1 END AS hops,
             CASE WHEN p.done = 1 THEN 1
                  WHEN m2.is_redirect = 0 THEN 1 ELSE 0 END AS done
      FROM {prev} p
      JOIN m ON m.url = p.cur
      JOIN m m2 ON m2.url = CASE WHEN p.done = 1 THEN p.cur
                                 ELSE m.next_url END)""")
    hops_sql = ",\n    ".join(hops)
    return f"""
    WITH nd AS (SELECT cast(count(*) as bigint) AS n FROM documents),
    urls AS (SELECT doc_id, {url} AS url FROM documents),
    m AS {D.mat(d)}(
      SELECT u.url, {is_r} AS is_redirect,
             CASE WHEN u.doc_id % 250 = 3
                       OR ({D.md5_slice(rkey, 1, d)}) % 10 < {REDIR_PCT}
                  THEN t.url ELSE u.url END AS next_url
      FROM urls u
      CROSS JOIN nd
      JOIN urls t ON t.doc_id = {tgt_id}
    ),
    h0 AS (
      SELECT url AS start, url AS cur, 0 AS hops,
             CASE WHEN is_redirect = 1 THEN 0 ELSE 1 END AS done
      FROM m
    ),
    {hops_sql}
    SELECT start AS url, cur AS final_url,
           cast(hops as bigint) AS hops,
           cast(done as bigint) AS resolved
    FROM h{REDIR_MAX_HOPS}
    """


sql_template("q_redirect_resolution", _redirect_resolution,
             "redirect-chain resolution: follow up to 4 hops through a "
             "url-keyed redirect map, terminal url + hop count + "
             "too-many-redirects flag (cycles included)")


CANON_PCT = 2   # md5 % 5 < 2 -> ~40% of non-head pages declare a canonical
CANON_CLUSTER = 5   # planted duplicate-cluster span (consecutive doc_ids)
CANON_RX = r'<link rel="canonical" href="([^"]*)"'


def _canonical_cluster(d: str) -> str:
    """rel=canonical clustering — the index-side dedup signal SEO
    surfaces provide: pages declare their canonical version in a
    ``<link rel="canonical">`` head tag; the indexer extracts it and
    folds duplicate variants onto their canonical target.

    Synthesis: doc_ids partition into runs of {CANON_CLUSTER}; a
    non-head page in a run plants the tag pointing at its run head
    with probability ~{CANON_PCT}/5 (md5-driven), everything else
    declares nothing — so extraction must distinguish planted from
    absent. The tag is planted INTO the html text and regexp-extracted
    back (parser-is-the-operator doctrine). Output: per page its
    canonical target (self when undeclared), the cluster size under
    canonical grouping, and is_canonical_head.

    Scale shape: per-row regexp on the html stream, one url-keyed
    aggregation for cluster sizes, one join back — the same two
    exchanges every canonical-fold pass costs."""
    url = url_expr(d)
    ckey = "'cn' || url"
    head_id = f"(doc_id - doc_id % {CANON_CLUSTER})"
    plants = (f"CASE WHEN doc_id % {CANON_CLUSTER} <> 0 "
              f"AND ({D.md5_slice(ckey, 1, d)}) % 5 < {CANON_PCT} "
              f"THEN 1 ELSE 0 END")
    return f"""
    WITH urls AS (SELECT doc_id, {url} AS url, text FROM documents),
    heads AS (SELECT doc_id AS head_id, url AS head_url FROM urls),
    pg AS (
      SELECT u.doc_id, u.url,
             '<html><head>' ||
             CASE WHEN {plants} = 1
                  THEN '<link rel="canonical" href="' || h.head_url || '">'
                  ELSE '' END ||
             '</head><body>' || u.text || '</body></html>' AS html
      FROM urls u JOIN heads h ON h.head_id = {head_id}
    ),
    extracted AS {D.mat(d)}(
      SELECT doc_id, url,
             regexp_extract(html, {D.rx_lit(CANON_RX, d)}, 1) AS decl
      FROM pg
    ),
    canon AS {D.mat(d)}(
      SELECT doc_id, url,
             CASE WHEN decl <> '' THEN decl ELSE url END AS canonical_url
      FROM extracted
    ),
    sizes AS (
      SELECT canonical_url, cast(count(*) as bigint) AS cluster_size
      FROM canon GROUP BY canonical_url
    )
    SELECT c.doc_id, c.url, c.canonical_url,
           s.cluster_size,
           cast(CASE WHEN c.canonical_url = c.url THEN 1 ELSE 0 END
                as bigint) AS is_canonical_head
    FROM canon c JOIN sizes s ON s.canonical_url = c.canonical_url
    """


sql_template("q_canonical_cluster", _canonical_cluster,
             "rel=canonical clustering: the tag planted into html and "
             "regexp-extracted back, variants folded onto their "
             "canonical target with cluster sizes")


INDEX_SHARDS = 16   # hash shards for the serving-index layout


def _index_shards(d: str) -> str:
    """Index shard assignment + balance report — the layout audit run
    before a serving-index build (and the query-side view of the
    engine's write-time bucketing path, io/bucketing.py): docs hash to
    {INDEX_SHARDS} shards by md5(url); per shard, doc count and payload
    bytes, plus the global imbalance factor (max shard bytes / mean
    shard bytes) every row carries so a skewed layout is visible in one
    scan of the report.

    Scale shape: one shard-keyed aggregation with map-side combine
    (16 groups), one 1-row global aggregate broadcast back. The hash
    assignment is the same modulo-of-md5 the bucketed writer uses, so
    this report audits the real layout, not a simulation of it."""
    url = url_expr(d)
    shard = f"({D.md5_slice('url', 1, d)}) % {INDEX_SHARDS}"
    return f"""
    WITH pg AS (
      SELECT {url} AS url, text FROM documents
    ),
    sharded AS (
      SELECT {shard} AS shard, length(text) AS nb FROM pg
    ),
    per AS {D.mat(d)}(
      SELECT shard,
             cast(count(*) as bigint) AS n_docs,
             cast(sum(nb) as bigint) AS n_bytes
      FROM sharded GROUP BY shard
    ),
    tot AS (
      SELECT cast(max(n_bytes) as bigint) AS mx,
             cast(sum(n_bytes) as bigint) AS sm,
             cast(count(*) as bigint) AS k
      FROM per
    )
    SELECT p.shard, p.n_docs, p.n_bytes,
           round(cast(p.n_bytes as double) * t.k / t.sm, 6)
             AS rel_load,
           round(cast(t.mx as double) * t.k / t.sm, 6)
             AS imbalance_factor
    FROM per p CROSS JOIN tot t
    """


sql_template("q_index_shards", _index_shards,
             "serving-index shard assignment + balance report: per-shard "
             "doc/byte counts, relative load, global imbalance factor")


RETAIN_K = 3   # web-archive retention: keep the latest K captures per url


def _capture_retention(d: str) -> str:
    """Capture retention / compaction policy — the storage-side report a
    web archive runs per crawl cycle: over each url's capture history
    (same parameters as q_recrawl_priority's synthesis — {RECRAWL_CAPTURES}
    captures, 30-day step; note the grids differ by design: retention
    prices all {RECRAWL_CAPTURES} captures i=0..5 while recrawl models
    the 5 change INTERVALS i=1..5 — in production both read the CDX
    index), keep the
    latest {RETAIN_K} captures, and report kept/dropped counts plus the
    bytes compaction reclaims. Capture payload sizes are deterministic
    md5 functions so both renderings price the same bytes.

    Scale shape: one url-keyed row_number window over the history
    stream + one url-keyed aggregation — exactly the latest-K shape
    q_dedup_latest_crawl already proves at K=1, extended with the
    byte accounting."""
    url = url_expr(d)
    iv_rows = ", ".join(f"({i})" for i in range(RECRAWL_CAPTURES))
    szkey = f"'sz' || u.url || ':' || {D.to_str('i.i', d)}"
    nb = f"500 + ({D.md5_slice(szkey, 1, d)}) % 1500"
    return f"""
    WITH urls AS (SELECT {url} AS url FROM documents),
    ivs AS ({D.values_rel(iv_rows, "t(i)", d)}),
    hist AS (
      SELECT u.url, i.i AS cap_i,
             {EPOCH_2025} + i.i * {RECRAWL_STEP} AS t_epoch,
             cast({nb} as bigint) AS n_bytes
      FROM urls u CROSS JOIN ivs i
    ),
    ranked AS (
      SELECT url, cap_i, t_epoch, n_bytes,
             row_number() OVER (PARTITION BY url ORDER BY t_epoch DESC)
               AS rn
      FROM hist
    )
    SELECT url,
           cast(count(*) as bigint) AS n_captures,
           cast(sum(CASE WHEN rn <= {RETAIN_K} THEN 1 ELSE 0 END)
                as bigint) AS n_kept,
           cast(sum(CASE WHEN rn > {RETAIN_K} THEN 1 ELSE 0 END)
                as bigint) AS n_dropped,
           cast(sum(n_bytes) as bigint) AS bytes_total,
           cast(sum(CASE WHEN rn > {RETAIN_K} THEN n_bytes ELSE 0 END)
                as bigint) AS bytes_reclaimed,
           cast(min(CASE WHEN rn <= {RETAIN_K} THEN t_epoch END)
                as bigint) AS oldest_kept_epoch
    FROM ranked
    GROUP BY url
    """


sql_template("q_capture_retention", _capture_retention,
             "web-archive retention compaction: keep the latest K "
             "captures per url, report kept/dropped counts and "
             "reclaimed bytes over the capture history")


sql_template("q_recrawl_priority", _recrawl_priority,
             "change-rate recrawl priority (Cho & Garcia-Molina 2003): "
             "per-url Bernoulli change-rate MLE from the capture "
             "history x staleness age, ntile'd into refetch tiers")


sql_template("q_crawl_delta", _crawl_delta,
             "crawl-over-crawl delta: url-keyed FULL JOIN of two "
             "snapshots classified added/removed/changed/unchanged by "
             "content digest")


# ---- rendezvous (HRW) resharding ----------------------------------------------

HRW_OLD = 8   # current shard count (mirrors INDEX_SHARDS' order of
HRW_NEW = 9   # magnitude) and the count after adding one shard


def _hrw_combined(s: int, d: str) -> str:
    """Shard ``s``'s rendezvous score for the current url, packed with a
    shard tie-break: score * 16 + (15 - s), so one greatest() yields the
    argmax with smaller-shard-wins ties (md5 score ties are ~2^-32 but
    the decision must still be deterministic in both engines)."""
    h = D.md5_slice(f"'{s}#' || url", 1, d)
    return f"(({h}) * 16 + {15 - s})"


def _rendezvous_shards(d: str) -> str:
    """Rendezvous / highest-random-weight resharding audit (Thaler &
    Ravishankar 1998 — the consistent-hashing family): each url goes to
    the shard with the highest hash score, so growing the fleet from
    HRW_OLD to HRW_NEW moves ONLY keys whose new shard wins the global
    argmax — expected 1/HRW_NEW of them, each moving TO the new shard.
    The modulo assignment q_index_shards audits would re-home
    (HRW_NEW-1)/HRW_NEW of the corpus on the same event; this operator
    is the minimal-movement upgrade, with the HRW invariant (moved
    implies destination = the added shard) proven per row in-query.

    Scale shape: pure projection — both argmaxes are one greatest() over
    inline per-shard scores, NO exchange of any kind (the ideal 100 TB
    shape: resharding a trillion urls is one map-only scan)."""
    old = "greatest(" + ", ".join(
        _hrw_combined(s, d) for s in range(HRW_OLD)) + ")"
    new = "greatest(" + ", ".join(
        _hrw_combined(s, d) for s in range(HRW_NEW)) + ")"
    url = url_expr(d)
    return f"""
    SELECT url,
           cast(shard_old as bigint) AS shard_old,
           cast(shard_new as bigint) AS shard_new,
           cast(moved as bigint)     AS moved,
           cast(CASE WHEN moved = 0 OR shard_new = {HRW_NEW - 1}
                     THEN 1 ELSE 0 END as bigint) AS hrw_invariant_ok
    FROM (
      SELECT url,
             15 - ({old} % 16) AS shard_old,
             15 - ({new} % 16) AS shard_new,
             CASE WHEN 15 - ({old} % 16) <> 15 - ({new} % 16)
                  THEN 1 ELSE 0 END AS moved
      FROM (SELECT {url} AS url FROM documents) p) z
    """


sql_template("q_rendezvous_shards", _rendezvous_shards,
             "rendezvous/HRW resharding (Thaler & Ravishankar 1998): "
             "map-only argmax assignment at N and N+1 shards, minimal-"
             "movement invariant proven per row")
