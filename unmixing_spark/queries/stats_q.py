"""Corpus-statistics operators a 100 TB pipeline runs as standing reports
(task brief; the reference has no text surface):

- q_heavy_hitters — count-min-sketch heavy hitters (Cormode & Muthukrishnan
  2005): the frequency sketch a streaming/sharded vocabulary monitor
  maintains, audited in-query against exact counts (the CMS estimate is
  provably an upper bound; the overestimate column measures collision
  error on an intentionally tight sketch).
- q_length_quantiles — exact per-language token-length quantiles
  (percentile_disc semantics), the report that calibrates length-filter
  thresholds (e.g. Gopher's 50-token floor) per language.
- q_cdc_chunks — content-defined chunking (Muthitacharoen et al. 2001,
  LBFS; the FastCDC/rsync family) at token granularity: rolling-hash
  boundaries + chunk-level dedup accounting, the storage-side dedup that
  survives insertions/edits where fixed-size blocking breaks.

All dual-rendered (Spark executes, DuckDB is the driver's oracle),
exact-integer arithmetic throughout except declared rounded means.
"""

from __future__ import annotations

from unmixing_spark import dialect as D
from unmixing_spark.queries import QuerySpec, register, sql_template
from unmixing_spark.queries.text_q import N_HASHES, _pos_tokens, _tokens

# ---- count-min-sketch heavy hitters -----------------------------------------

CMS_D = 4    # hash rows
CMS_W = 16   # buckets per row — intentionally tight vs the corpus vocab
             # (31 tokens at sf0.001) so bucket collisions actually fire
             # and the overestimate audit is non-vacuous; production
             # sizes w = ceil(e/eps) for an eps*N error bound
HH_TOP = 25  # heavy hitters reported


def _cms_bucket(tok_expr: str, seed_expr: str, d: str) -> str:
    """Row-``seed`` CMS bucket of ``tok_expr``: first 8 hex chars of
    md5(seed || '#' || tok) mod CMS_W — an independent-per-seed hash
    family, identical bigint arithmetic in both dialects."""
    h = D.hex2int(f"substr(md5({seed_expr} || '#' || {tok_expr}), 1, 8)", d)
    return f"(({h}) % {CMS_W})"


def _heavy_hitters(d: str) -> str:
    """Scale shape: the sketch build is the 100 TB path — a (row, bucket)
    keyed aggregation over the token stream that map-side-combines to
    CMS_D * CMS_W cells per partition before any exchange, so the shuffle
    moves O(d*w) rows per task regardless of corpus size (this mergeability
    is the point of CMS: per-shard sketches sum cell-wise). The exact
    ``tf`` table exists only as the audit/top-k side at toy scale; a real
    deployment queries the sketch alone. Estimates join the tiny cell
    table (broadcast-size by construction).

    The SPARK rendering builds the sketch cells from the vocabulary-sized
    ``tf`` table instead of the raw token stream — cell = count of
    occurrences hashing to (i, b) = sum over the tokens hashing there of
    their exact counts, so the result is identical bigint-for-bigint
    while the md5 volume drops from CMS_D x corpus tokens to CMS_D x
    vocabulary (guide §2.3 "aggregate before you shuffle": the (doc-less)
    token count map-side-combines to vocab-sized partials before any
    hashing happens, and the two ``tf`` references share one exchange via
    Spark's ReuseExchange). The DuckDB oracle text keeps the direct
    stream-keyed form — the round-5 fingerprinted rendering."""
    seeds = ", ".join(f"({i})" for i in range(CMS_D))
    si = D.to_str("s.i", d)
    if d == D.SPARK:
        return f"""
    WITH tf AS (
      SELECT tok, cast(count(*) as bigint) AS c
      FROM {_tokens(d)} GROUP BY tok
    ),
    seeds AS ({D.values_rel(seeds, "s(i)", d)}),
    cells AS (
      SELECT s.i, {_cms_bucket('f.tok', si, d)} AS b,
             cast(sum(f.c) as bigint) AS cell
      FROM tf f CROSS JOIN seeds s
      GROUP BY s.i, {_cms_bucket('f.tok', si, d)}
    ),
    est AS (
      SELECT f.tok, f.c, min(cl.cell) AS est
      FROM tf f
      CROSS JOIN seeds s
      JOIN cells cl ON cl.i = s.i AND cl.b = {_cms_bucket('f.tok', si, d)}
      GROUP BY f.tok, f.c
    )
    SELECT cast(rnk as bigint)       AS rank,
           tok,
           cast(c as bigint)         AS exact_cnt,
           cast(est as bigint)       AS cms_est,
           cast(est - c as bigint)   AS overestimate,
           cast(CASE WHEN est >= c THEN 1 ELSE 0 END as bigint) AS ub_ok
    FROM (SELECT tok, c, est,
                 row_number() OVER (ORDER BY c DESC, tok) AS rnk
          FROM est) z
    WHERE rnk <= {HH_TOP}
    """
    return f"""
    WITH toks AS {D.mat(d)}(SELECT tok FROM {_tokens(d)}),
    seeds AS ({D.values_rel(seeds, "s(i)", d)}),
    cells AS {D.mat(d)}(
      SELECT s.i, {_cms_bucket('t.tok', si, d)} AS b,
             cast(count(*) as bigint) AS cell
      FROM toks t CROSS JOIN seeds s
      GROUP BY s.i, {_cms_bucket('t.tok', si, d)}
    ),
    tf AS (
      SELECT tok, cast(count(*) as bigint) AS c
      FROM toks GROUP BY tok
    ),
    est AS (
      SELECT f.tok, f.c, min(cl.cell) AS est
      FROM tf f
      CROSS JOIN seeds s
      JOIN cells cl ON cl.i = s.i AND cl.b = {_cms_bucket('f.tok', si, d)}
      GROUP BY f.tok, f.c
    )
    SELECT cast(rnk as bigint)       AS rank,
           tok,
           cast(c as bigint)         AS exact_cnt,
           cast(est as bigint)       AS cms_est,
           cast(est - c as bigint)   AS overestimate,
           cast(CASE WHEN est >= c THEN 1 ELSE 0 END as bigint) AS ub_ok
    FROM (SELECT tok, c, est,
                 row_number() OVER (ORDER BY c DESC, tok) AS rnk
          FROM est) z
    WHERE rnk <= {HH_TOP}
    """


sql_template("q_heavy_hitters", _heavy_hitters,
             "count-min-sketch heavy hitters (Cormode & Muthukrishnan "
             "2005): mergeable d x w integer sketch vs exact counts, "
             "upper-bound property audited in-query")


# ---- exact per-language length quantiles -------------------------------------

LQ_PCTS = (25, 50, 75, 90, 99)


def _length_quantiles(d: str) -> str:
    """percentile_disc(q) = the value at row ceil(q*n) of the per-lang
    token-count order — rendered as ONE rank window shared by every
    quantile (the engines' own percentile functions differ in
    interpolation, so the disc semantics is spelled out). Scale shape:
    one lang-keyed exchange + per-lang sort, the same physical shape the
    built-in window would run; at 10^12 docs the standing report swaps
    to approx_percentile (t-digest) — this exact form is also the oracle
    such a sketch would be audited against. mean_toks divides two exact
    integers once, so the rounded double is order-independent."""
    ntok = (f"size({D.ws_split('text', d)})" if d == D.SPARK
            else f"len({D.ws_split('text', d)})")
    picks = ",\n           ".join(
        f"max(CASE WHEN rn = {D.idiv_i(f'{p} * n + 99', '100', d)} "
        f"THEN n_toks END) AS p{p}_toks" for p in LQ_PCTS)
    return f"""
    WITH base AS (
      SELECT lang, doc_id, cast({ntok} as bigint) AS n_toks
      FROM documents
    ),
    r AS (
      SELECT lang, n_toks,
             row_number() OVER (PARTITION BY lang
                                ORDER BY n_toks, doc_id) AS rn,
             count(*) OVER (PARTITION BY lang) AS n,
             sum(n_toks) OVER (PARTITION BY lang) AS s
      FROM base
    )
    SELECT lang,
           cast(max(n) as bigint) AS n_docs,
           {picks},
           round(cast(max(s) as double) / cast(max(n) as double), 6)
             AS mean_toks
    FROM r GROUP BY lang
    """


sql_template("q_length_quantiles", _length_quantiles,
             "exact per-language token-count quantiles "
             "(percentile_disc via one rank window) + exact-ratio mean")


# ---- content-defined chunking ------------------------------------------------

CDC_W = 3    # rolling-hash window (tokens) — the boundary decision sees
             # only the last CDC_W tokens, which is what makes chunk
             # boundaries LOCAL (an edit re-chunks O(1) chunks, the CDC
             # property fixed-size blocking lacks)
CDC_MOD = 8  # boundary when h % CDC_MOD == 0 → expected chunk ~8 tokens


def _cdc_chunks(d: str) -> str:
    """Token-level content-defined chunking + chunk-level dedup report.
    A position ends a chunk iff the rolling hash of the CDC_W-token
    window ending there is 0 mod CDC_MOD (positions < CDC_W never cut, a
    min-size floor). Chunks group by content hash corpus-wide; per doc
    the report counts chunks/tokens sitting in duplicated chunks (copies
    >= 2 anywhere) and in cross-document duplicates specifically.

    Scale shape: boundary hashing and chunk assembly are doc_id-keyed
    windows (ONE exchange the token stream pays once); the duplicate
    table is a chunk-hash-keyed aggregation (map-side combined) joined
    back hash-keyed — exactly the exact-dedup shuffle shape, no
    all-pairs. The chunk-hash table is the big exchange at 100 TB, as in
    any CAS/dedup store."""
    return f"""
    WITH {_cdc_head(d)},
    chunks AS {D.mat(d)}(
      {_cdc_chunks_body(d)}
    ),
    {_cdc_tail("chunks")}"""


def _cdc_head(d: str) -> str:
    """The token-window chain pos → rh → st → ch (rolling-hash cuts,
    chunk starts, running chunk index), shared by the template and
    q_cdc_chunks' Spark side."""
    gram = " || ' ' || ".join(
        [f"lag(tok, {k}) OVER w" for k in range(CDC_W - 1, 0, -1)] + ["tok"])
    h = D.hex2int("substr(md5(gram), 1, 8)", d)
    return f"""pos AS (SELECT doc_id, pos, tok FROM {_pos_tokens(d)}),
    rh AS (
      SELECT doc_id, pos, tok,
             CASE WHEN gram IS NOT NULL AND ({h}) % {CDC_MOD} = 0
                  THEN 1 ELSE 0 END AS cuts_after
      FROM (SELECT doc_id, pos, tok, {gram} AS gram
            FROM pos WINDOW w AS (PARTITION BY doc_id ORDER BY pos))
    ),
    st AS (
      SELECT doc_id, pos, tok,
             CASE WHEN lag(pos) OVER w2 IS NULL
                       OR lag(cuts_after) OVER w2 = 1
                  THEN 1 ELSE 0 END AS starts
      FROM rh WINDOW w2 AS (PARTITION BY doc_id ORDER BY pos)
    ),
    ch AS (
      SELECT doc_id, pos, tok,
             sum(starts) OVER (PARTITION BY doc_id ORDER BY pos
                               ROWS UNBOUNDED PRECEDING) AS chunk_idx
      FROM st
    )"""


def _cdc_chunks_body(d: str) -> str:
    """One row per (doc_id, chunk_idx) over ``ch``: token count and the
    chunk's content hash."""
    return f"""SELECT doc_id, chunk_idx,
             cast(count(*) as bigint) AS n_toks,
             md5({D.ordered_string_agg('tok', 'pos', "' '", d)})
               AS chunk_md5
      FROM ch GROUP BY doc_id, chunk_idx"""


def _cdc_tail(chunks: str) -> str:
    """The ``dup`` table and the per-doc report over a ``chunks``
    relation."""
    return f"""dup AS (
      SELECT chunk_md5,
             cast(count(*) as bigint) AS copies,
             cast(count(DISTINCT doc_id) as bigint) AS nd
      FROM {chunks} GROUP BY chunk_md5
    )
    SELECT c.doc_id,
           cast(count(*) as bigint)      AS n_chunks,
           cast(sum(c.n_toks) as bigint) AS n_toks,
           cast(sum(CASE WHEN u.copies >= 2 THEN 1 ELSE 0 END) as bigint)
             AS dup_chunks,
           cast(sum(CASE WHEN u.copies >= 2 THEN c.n_toks ELSE 0 END)
                as bigint) AS dup_toks,
           cast(sum(CASE WHEN u.nd >= 2 THEN c.n_toks ELSE 0 END)
                as bigint) AS crossdoc_dup_toks
    FROM {chunks} c JOIN dup u ON u.chunk_md5 = c.chunk_md5
    GROUP BY c.doc_id
    """


def _cdc_chunks_spark(spark, sf_dir):
    """q_cdc_chunks' Spark side (round-6 optimization, guide §2.4/§5):
    the template's ``chunks`` CTE has two consumers (``dup`` and the
    final join), and Catalyst inlines CTEs — so the whole token-window
    chain (posexplode + 3 doc-keyed window passes + ordered string_agg)
    executed twice. Materialize ``chunks`` ONCE and run the dup/report
    tail over it."""
    from unmixing_spark import loops, pipeline

    pipeline.register_tables(spark, sf_dir, ("documents",))
    d = D.SPARK
    loops.checkpoint(spark.sql(
        f"WITH {_cdc_head(d)}\n    {_cdc_chunks_body(d)}"
    )).createOrReplaceTempView("cdc_chunks_t")
    return spark.sql(f"WITH {_cdc_tail('cdc_chunks_t')}")


register("q_cdc_chunks", QuerySpec(
    spark_fn=_cdc_chunks_spark, oracle=_cdc_chunks(D.DUCKDB),
    doc="content-defined chunking (LBFS/FastCDC family) at token "
        "granularity: rolling-hash boundaries, chunk-level dedup "
        "accounting per doc"))


# ---- HyperLogLog distinct-count audit ----------------------------------------

HLL_M = 16          # registers (b=4 index bits); small on purpose so the
                    # sketch error is visible and the audit non-vacuous
HLL_ALPHA = 0.673   # the m=16 bias constant (Flajolet et al. 2007, Fig. 3)
HLL_RMAX = 29       # rho cap: 28 payload bits after the 4 index bits


def _hll_scopes(d: str) -> str:
    """Two cardinality scopes per language — ``tokens`` (vocab ~31, lands
    in the linear-counting small-range branch) and ``bigrams`` (hundreds,
    lands in the raw-HLL branch) — so BOTH estimator paths are exercised
    and auditable.

    The SPARK rendering carries ``lang`` through the explode directly
    (no doc_id join back) and builds bigrams array-side from the split
    token array instead of a lead() window — the same (doc-local)
    consecutive pairs without the doc_id-keyed exchange+sort the window
    pays (guide §2.4: remove shuffles outright). DuckDB oracle text is
    the round-5 fingerprinted join+window form."""
    if d == D.SPARK:
        toks = D.ws_split("text", d)
        bigrams = ("transform(slice(toks, 1, greatest(size(toks) - 1, 0)), "
                   "(x, i) -> x || ' ' || toks[i + 1])")
        return f"""items AS (
      SELECT 'tokens' AS scope, lang, tok AS item
      FROM documents LATERAL VIEW explode({toks}) t AS tok
      UNION ALL
      SELECT 'bigrams' AS scope, lang, gram AS item
      FROM (SELECT lang, {toks} AS toks FROM documents)
      LATERAL VIEW explode({bigrams}) g AS gram)"""
    return f"""items AS {D.mat(d)}(
      SELECT 'tokens' AS scope, lang, tok AS item
      FROM (SELECT dd.lang, t.tok
            FROM {_tokens(d)} t JOIN documents dd ON dd.doc_id = t.doc_id)
      UNION ALL
      SELECT 'bigrams' AS scope, lang, gram AS item FROM (
        SELECT dd.lang, p.tok || ' ' || lead(p.tok) OVER (
                 PARTITION BY p.doc_id ORDER BY p.pos) AS gram
        FROM {_pos_tokens(d)} p JOIN documents dd ON dd.doc_id = p.doc_id)
      WHERE gram IS NOT NULL)"""


def _hll_distinct(d: str) -> str:
    """HyperLogLog distinct-count estimate vs exact count(DISTINCT),
    entirely in SQL with deterministic arithmetic (Flajolet, Fusy,
    Gandouet & Meunier 2007). Register index = low 4 bits of the 32-bit
    md5 slice; rho = trailing zeros of the remaining 28 bits + 1 (the
    (x & -x) low-bit trick + bit_count, identical in both engines).
    Float doctrine: each register contributes 2^-M — an exact power of
    two — and the 16-term sum spans < 36 mantissa bits, so it is EXACT
    regardless of accumulation order; the estimate is then one division
    (and the small-range branch is m * (ln(m) - ln(V)), integer ln()
    arguments). Both branches fire by construction (see _hll_scopes).

    Scale shape: the registers are a (scope, lang, idx)-keyed MAX
    aggregation — map-side combined to <= 16 rows per group per
    partition, the textbook mergeable sketch (per-shard registers merge
    by max; this GROUP BY is exactly that merge). The exact distinct is
    the audit side only — at 10^12 rows one runs just the sketch."""
    return f"""
    WITH {_hll_scopes(d)},
    {_hll_sketch(d, "items")},
    ex AS (
      SELECT scope, lang, cast(count(DISTINCT item) as bigint) AS exact_nd
      FROM items GROUP BY scope, lang
    )
    {_HLL_REPORT}"""


def _hll_sketch(d: str, items: str) -> str:
    """hashed → reg → grp → full_reg → est over an ``items`` relation:
    the per-(scope, lang) registers and the estimator's sums."""
    h = D.hex2int("substr(md5(item), 1, 8)", d)
    rest = D.idiv_i("h", str(HLL_M), d)
    regs = ", ".join(f"({i})" for i in range(HLL_M))
    return f"""hashed AS (
      SELECT scope, lang, h % {HLL_M} AS idx, {rest} AS rest
      FROM (SELECT scope, lang, {h} AS h FROM {items})
    ),
    reg AS (
      SELECT scope, lang, idx,
             max(CASE WHEN rest = 0 THEN {HLL_RMAX}
                      ELSE bit_count((rest & (-rest)) - 1) + 1 END) AS m
      FROM hashed GROUP BY scope, lang, idx
    ),
    grp AS (SELECT DISTINCT scope, lang FROM {items}),
    full_reg AS (
      SELECT g.scope, g.lang, r.i AS idx, coalesce(reg.m, 0) AS m
      FROM grp g
      CROSS JOIN ({D.values_rel(regs, "r(i)", d)}) r
      LEFT JOIN reg ON reg.scope = g.scope AND reg.lang = g.lang
                   AND reg.idx = r.i
    ),
    est AS (
      SELECT scope, lang,
             sum({D.dbl(1.0)} / cast(cast(1 as bigint) << m as double))
               AS s,
             cast(sum(CASE WHEN m = 0 THEN 1 ELSE 0 END) as bigint) AS v
      FROM full_reg GROUP BY scope, lang
    )"""


# the estimate (linear counting in the small range, raw HLL above it)
# joined to the exact count ``ex``; dialect-invariant text
_HLL_REPORT = f"""SELECT e.scope, e.lang, x.exact_nd,
           cast(CASE WHEN raw <= {D.dbl(2.5)} * {HLL_M} AND e.v > 0
                     THEN 1 ELSE 0 END as bigint) AS linear_branch,
           round(CASE WHEN raw <= {D.dbl(2.5)} * {HLL_M} AND e.v > 0
                      THEN {HLL_M} * (ln({HLL_M}) - ln(e.v))
                      ELSE raw END, 6) AS est_nd
    FROM (SELECT scope, lang, v, s,
                 {D.dbl(HLL_ALPHA)} * {HLL_M} * {HLL_M} / s AS raw
          FROM est) e
    JOIN ex x ON x.scope = e.scope AND x.lang = e.lang
    """


def _hll_distinct_spark(spark, sf_dir):
    """q_hll_distinct's Spark side (round-6 optimization, guide
    §2.3/§2.4): collapse the item stream to the DISTINCT (scope, lang,
    item) table ONCE (the stream has three CTE consumers, and each CTE
    reference re-executes the explodes) and hash only that. Register max
    over occurrences == max over distinct items (rho is a function of
    the item), exact_nd = count(*) of the distinct table, grp identical
    — md5 volume drops corpus → vocabulary, and the lead() window
    behind the bigram stream is replaced by the _hll_scopes
    Spark-rendering array transform (no doc_id exchange+sort)."""
    from unmixing_spark import loops, pipeline

    pipeline.register_tables(spark, sf_dir, ("documents",))
    d = D.SPARK
    loops.checkpoint(spark.sql(
        f"WITH {_hll_scopes(d)} "
        f"SELECT DISTINCT scope, lang, item FROM items"
    )).createOrReplaceTempView("hll_itemd")
    return spark.sql(f"""
    WITH {_hll_sketch(d, "hll_itemd")},
    ex AS (
      SELECT scope, lang, cast(count(*) as bigint) AS exact_nd
      FROM hll_itemd GROUP BY scope, lang
    )
    {_HLL_REPORT}""")


register("q_hll_distinct", QuerySpec(
    spark_fn=_hll_distinct_spark, oracle=_hll_distinct(D.DUCKDB),
    doc="HyperLogLog distinct-count sketch (Flajolet et al. 2007) "
        "vs exact count(DISTINCT): mergeable max-registers, both "
        "estimator branches exercised, per (scope, lang)"))


# ---- MinHash Jaccard-estimate accuracy audit ----------------------------------

def _mh_pairs(d: str, capped: str) -> str:
    """The DISTINCT candidate pairs of the capped LSH bucket join."""
    return f"""pairs AS {D.mat(d)}(
      SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
      FROM {capped} a JOIN {capped} b
        ON b.bh = a.bh AND b.doc_id > a.doc_id
    )"""


def _mh_fixed_point(d: str, keys: str, matched: str, i: str, na: str,
                    nb: str, src: str) -> str:
    """The estimate / exact / error projection over ``src``: ``keys``
    yields doc_a, doc_b and matched_hashes; ``matched`` is the matching
    signature count, ``i`` the exact intersection size and ``na``/``nb``
    the two shingle-set sizes."""
    return f"""SELECT doc_a, doc_b, matched_hashes,
           cast(est_u as double) / {D.dbl(1e6)}            AS est_jaccard,
           cast(ex_u as double) / {D.dbl(1e6)}             AS exact_jaccard,
           cast(abs(est_u - ex_u) as double) / {D.dbl(1e6)} AS abs_err
    FROM (
      SELECT {keys},
             -- micro-unit (1e-6) fixed point, HALF_UP by exact integer
             -- arithmetic: round(x/y * 1e6) = (2*1e6*x + y) div (2*y).
             -- Engine round() on doubles disagrees at binary half-way
             -- ties (Spark decimal-expansion HALF_UP vs DuckDB libm);
             -- integer rounding cannot.
             {matched} * {1000000 // N_HASHES} AS est_u,
             {D.idiv_i(f'2000000 * {i} + ({na} + {nb} - {i})',
                       f'2 * ({na} + {nb} - {i})', d)} AS ex_u
      FROM {src}) z
    """


def _mh_matches() -> str:
    return " + ".join(
        f"CASE WHEN sa.m{j} = sb.m{j} THEN 1 ELSE 0 END"
        for j in range(N_HASHES))


def _mh_audit_tail(d: str, sig: str, capped: str, shs: str) -> str:
    """The oracle's pairs → exact intersections → estimates → fixed
    point chain over the given relation names."""
    return f"""{_mh_pairs(d, capped)},
    nsh AS {D.mat(d)}(
      SELECT doc_id, cast(count(*) as bigint) AS n FROM {shs}
      GROUP BY doc_id
    ),
    inter AS (
      SELECT p.da, p.db, cast(count(*) as bigint) AS i
      FROM pairs p
      JOIN {shs} x ON x.doc_id = p.da
      JOIN {shs} y ON y.doc_id = p.db AND y.sh = x.sh
      GROUP BY p.da, p.db
    ),
    est AS (
      SELECT p.da, p.db, ({_mh_matches()}) AS matched
      FROM pairs p
      JOIN {sig} sa ON sa.doc_id = p.da
      JOIN {sig} sb ON sb.doc_id = p.db
    )
    """ + _mh_fixed_point(
        d, "e.da AS doc_a, e.db AS doc_b,\n"
           "             cast(e.matched as bigint) AS matched_hashes",
        "e.matched", "coalesce(i.i, 0)", "na.n", "nb.n",
        "est e\n"
        "      LEFT JOIN inter i ON i.da = e.da AND i.db = e.db\n"
        "      JOIN nsh na ON na.doc_id = e.da\n"
        "      JOIN nsh nb ON nb.doc_id = e.db")


def _mh_audit_oracle() -> str:
    from unmixing_spark.queries.text_q import _lsh_buckets_cte, _shingles
    dd = D.DUCKDB
    return (f"WITH {_lsh_buckets_cte(dd)}, "
            f"shs AS {D.mat(dd)}(SELECT DISTINCT doc_id, sh "
            f"FROM {_shingles(dd)}),\n    "
            + _mh_audit_tail(dd, "sig", "capped", "shs"))


def _mh_audit_spark(spark, sf_dir):
    """Per LSH candidate pair: the MinHash Jaccard ESTIMATE (matching
    signature components / N_HASHES — the unbiased estimator the dedup
    threshold actually consumes) against the EXACT shingle-set Jaccard,
    with the absolute error. This is the operator that tells a pipeline
    owner whether N_HASHES is sized right before a 100 TB dedup run.

    Scale shape: the signature, capped-bucket, and distinct-shingle
    inputs are each computed ONCE and lineage-truncated (eager
    checkpoint — the pure-SQL form re-expanded each multi-referenced CTE
    into a 44-parquet-scan plan; at production scale this is a
    persist()); candidate pairs come from the capped LSH bucket join
    (O(docs*bands)); the exact side joins each pair's two DISTINCT
    shingle sets PAIR-KEYED (pairs join first, then the two doc-keyed
    probes) — never a bare shingle-keyed self-join, which a 31-token
    vocabulary (or real boilerplate) would send quadratic."""
    from unmixing_spark import loops, pipeline
    from unmixing_spark.queries.text_q import SHINGLE, minhash_lsh_views

    # the per-row shingle arrays below repay the scan fan-out
    pipeline.register_tables(spark, sf_dir, ("documents",), fan_out=True)
    d = D.SPARK
    sig_v, capped_v = minhash_lsh_views(spark)
    # Round-6 exact side (guide §2.3/§2.4): a document's DISTINCT
    # shingle set is a pure function of its own text, so it is computed
    # as ONE per-row array expression — no shingle explode, no
    # (doc, sh) distinct exchange (13.6M rows at sf1.0) — and the exact
    # intersections become array_intersect sizes on the pair join
    # (|A∩B| and |A|/|B| are identical set quantities).
    loops.checkpoint(spark.sql(
        f"SELECT doc_id, array_distinct(transform("
        f"sequence(1, greatest(length(text) - {SHINGLE} + 1, 1)), "
        f"i -> substr(text, i, {SHINGLE}))) AS shs FROM documents"
    )).createOrReplaceTempView("mh_sharr")
    return spark.sql(f"""
    WITH {_mh_pairs(d, capped_v)},
    ji AS (
      SELECT p.da, p.db,
             cast(size(array_intersect(x.shs, y.shs)) as bigint) AS i,
             cast(size(x.shs) as bigint) AS na,
             cast(size(y.shs) as bigint) AS nb,
             cast(({_mh_matches()}) as bigint) AS matched
      FROM pairs p
      JOIN mh_sharr x ON x.doc_id = p.da
      JOIN mh_sharr y ON y.doc_id = p.db
      JOIN {sig_v} sa ON sa.doc_id = p.da
      JOIN {sig_v} sb ON sb.doc_id = p.db
    )
    """ + _mh_fixed_point(
        d, "da AS doc_a, db AS doc_b, matched AS matched_hashes",
        "matched", "i", "na", "nb", "ji"))


register("q_minhash_est_audit", QuerySpec(
    spark_fn=_mh_audit_spark, oracle=_mh_audit_oracle(),
    doc="MinHash accuracy audit per LSH candidate pair: signature "
        "Jaccard estimate vs exact shingle-set Jaccard + abs error"))



# ---- weighted PPS sampling (Efraimidis-Spirakis) -------------------------------

WS_TAKE = 50   # sample size


def _weighted_sample(d: str) -> str:
    """Weight-proportional sampling WITHOUT replacement (Efraimidis &
    Spirakis 2006, "Weighted random sampling with a reservoir"): each
    doc draws u = (h+1)/2^32 from md5 and keeps key = u^(1/w); the
    global top-{WS_TAKE} keys ARE the PPS sample — the one-pass,
    merge-friendly construction a 'sample training docs proportional to
    length/quality' stage runs at corpus scale. Ranking uses the
    monotone-equivalent log form key = (ln(h+1) - ln(2^32)) / w, whose
    ln() arguments are exact integers (the repo's integer-ln doctrine:
    identical doubles in both engines), so order and the rounded output
    key match bit-for-bit.

    Scale shape: the ORDER BY ... LIMIT pair is Spark's
    TakeOrderedAndProject — each partition keeps its local top-
    {WS_TAKE} and only those reach the driver-side merge; no global
    sort, no full exchange (the same per-shard top-S merge a reservoir
    variant would do). The rank window runs AFTER the limit, over
    {WS_TAKE} rows."""
    h = D.md5_slice(D.to_str("doc_id", d), 1, d)
    return f"""
    WITH keyed AS (
      SELECT doc_id, lang,
             cast(n_chars as bigint) AS weight,
             (ln(({h}) + 1) - ln(cast(4294967296 as double)))
               / cast(n_chars as double) AS k
      FROM documents
    ),
    top AS (
      SELECT doc_id, lang, weight, k
      FROM keyed ORDER BY k DESC, doc_id LIMIT {WS_TAKE}
    )
    SELECT cast(row_number() OVER (ORDER BY k DESC, doc_id) as bigint)
             AS rank,
           doc_id, lang, weight,
           round(k, 6) AS log_key
    FROM top
    """


sql_template("q_weighted_sample", _weighted_sample,
             "Efraimidis-Spirakis PPS sampling without replacement: "
             "top-k of u^(1/w) keys in log form (integer-ln doctrine), "
             "TakeOrderedAndProject shape")


# ---- log-bucket quantile sketch audit ---------------------------------------

def _quantile_sketch_audit(d: str) -> str:
    """Mergeable log-bucketed quantile sketch (the DDSketch construction,
    Masson et al. 2019, at gamma = 2 so every bucket boundary is an EXACT
    power of two — bit-length binning, zero float in the sketch) audited
    in-query against the exact per-language quantiles of
    q_length_quantiles: for each (lang, pct) the sketch answers with the
    first bucket whose cumulative count reaches the target rank, and the
    result row PROVES its own guarantee — ``contained`` (the exact
    quantile lies inside the answering bucket: DDSketch's rank-
    correctness invariant) and ``bound_ok`` (upper estimate < 2x exact:
    the gamma-relative-error guarantee) must both read 1 on every row.

    Scale shape: the sketch IS the 100 TB path — a (lang, bucket)
    aggregation that map-side-combines to <= 65 cells per language per
    partition before any exchange, and per-shard sketches merge by
    cell-wise addition (the mergeability that lets a quantile report run
    as a standing streaming/sharded job). The cumulative window runs
    over <= 65 rows per language; the exact rank-window side exists only
    as the audit at toy scale."""
    ntok = (f"size({D.ws_split('text', d)})" if d == D.SPARK
            else f"len({D.ws_split('text', d)})")
    # bucket k covers [2^k, 2^(k+1)-1] for k in 0..62; k=-1 holds the
    # exact-zero cell (DDSketch's special zero bucket)
    bl_rows = ", ".join([f"(-1, 0, 0)"] + [
        f"({k}, {1 << k}, {(1 << (k + 1)) - 1})" for k in range(63)])
    pct_rows = ", ".join(f"({p})" for p in LQ_PCTS)
    rank = D.idiv_i("p.p * c.n + 99", "100", d)
    xrank = D.idiv_i("p.p * n + 99", "100", d)
    return f"""
    WITH base AS {D.mat(d)}(
      SELECT lang, doc_id, cast({ntok} as bigint) AS n_toks
      FROM documents
    ),
    bl AS ({D.values_rel(bl_rows, "b(k, lo, hi)", d)}),
    pcts AS ({D.values_rel(pct_rows, "p(p)", d)}),
    cells AS {D.mat(d)}(
      SELECT t.lang, b.k, b.lo, b.hi, cast(count(*) as bigint) AS cnt
      FROM base t JOIN bl b ON t.n_toks BETWEEN b.lo AND b.hi
      GROUP BY t.lang, b.k, b.lo, b.hi
    ),
    cum AS (
      SELECT lang, k, lo, hi,
             sum(cnt) OVER (PARTITION BY lang ORDER BY k) AS cum,
             sum(cnt) OVER (PARTITION BY lang)            AS n
      FROM cells
    ),
    est AS (
      SELECT c.lang, p.p, min(c.k) AS k
      FROM cum c JOIN pcts p ON c.cum >= {rank}
      GROUP BY c.lang, p.p
    ),
    ex AS (
      SELECT lang, p.p,
             max(CASE WHEN rn = {xrank} THEN n_toks END) AS exact_toks,
             cast(max(n) as bigint) AS n_docs
      FROM (
        SELECT lang, n_toks,
               row_number() OVER (PARTITION BY lang
                                  ORDER BY n_toks, doc_id) AS rn,
               count(*) OVER (PARTITION BY lang) AS n
        FROM base
      ) r CROSS JOIN pcts p
      GROUP BY lang, p.p
    )
    SELECT e.lang,
           cast(e.p as bigint)   AS pct,
           x.n_docs,
           x.exact_toks,
           cast(b.lo as bigint)  AS sk_lo,
           cast(b.hi as bigint)  AS sk_hi,
           cast(b.hi as bigint)  AS est_toks,
           cast(CASE WHEN x.exact_toks BETWEEN b.lo AND b.hi
                     THEN 1 ELSE 0 END as bigint) AS contained,
           round(CASE WHEN x.exact_toks > 0
                      THEN cast(b.hi - x.exact_toks as double)
                           / cast(x.exact_toks as double)
                      ELSE cast(0 as double) END, 6) AS rel_err,
           cast(CASE WHEN b.hi < 2 * greatest(x.exact_toks, 1)
                     THEN 1 ELSE 0 END as bigint) AS bound_ok
    FROM est e
    JOIN bl b ON b.k = e.k
    JOIN ex x ON x.lang = e.lang AND x.p = e.p
    """


sql_template("q_quantile_sketch_audit", _quantile_sketch_audit,
             "DDSketch-style gamma=2 log-bucket quantile sketch "
             "(mergeable <=65-cell per-language state) audited in-query "
             "against exact percentile_disc: rank containment + the "
             "2x relative-error guarantee proven per row")


# ---- data-quality constraint report -------------------------------------------

DQ_NCHARS_MAX = 100000       # validity ceiling for documents.n_chars
DQ_SPAN_MAX_S = 366 * 86400  # freshness ceiling: events span <= one year


def _data_quality(d: str) -> str:
    """Deequ-style data-quality constraint report (Schelter et al. 2018,
    "Automating Large-Scale Data Quality Verification"): the standing
    nightly check a production pipeline runs before anything downstream
    trusts a table. One row per constraint — completeness, uniqueness,
    cross-column consistency, regex validity, numeric range, referential
    integrity across tables, and timestamp freshness — each with the
    observed metric, its threshold, and a passed flag, so a scheduler
    can gate on min(passed) while a human reads the metrics.

    Bit-parity: every metric is a ratio (or difference) of exact bigint
    aggregates through one identically-written IEEE expression, then
    round(6); thresholds are D.dbl literals. Scale shape: one
    conditional-aggregation pass per table (documents, events), one
    doc_id-keyed anti-join for the embeddings referential check (the
    only exchange whose build side isn't a 1-row aggregate) — at 10^12
    rows this is the cheapest standing report a pipeline owns, which is
    why production systems run it on every load."""
    lang_rx = D.rx_lit("^[a-z]{2}$", d)
    etype_rx = D.rx_lit("^[a-z_]+$", d)
    span = (f"{D.ts_to_epoch('max(ts)', d)} - "
            f"{D.ts_to_epoch('min(ts)', d)}")
    return f"""
    WITH doc_agg AS (
      SELECT cast(count(*) as bigint)                          AS n,
             cast(sum(CASE WHEN text IS NOT NULL AND text <> ''
                      THEN 1 ELSE 0 END) as bigint)            AS text_filled,
             cast(count(DISTINCT doc_id) as bigint)            AS id_distinct,
             cast(sum(CASE WHEN {D.regexp_count('lang', lang_rx, d)} >= 1
                      THEN 1 ELSE 0 END) as bigint)            AS lang_valid,
             cast(sum(CASE WHEN n_chars BETWEEN 1 AND {DQ_NCHARS_MAX}
                      THEN 1 ELSE 0 END) as bigint)            AS chars_in_range,
             cast(sum(CASE WHEN n_chars = length(text)
                      THEN 1 ELSE 0 END) as bigint)            AS chars_consistent
      FROM documents
    ),
    ev_agg AS (
      SELECT cast(count(*) as bigint)                          AS n,
             cast(count(ts) as bigint)                         AS ts_nonnull,
             cast(sum(CASE WHEN {D.regexp_count('event_type', etype_rx, d)} >= 1
                      THEN 1 ELSE 0 END) as bigint)            AS type_valid,
             cast({span} as bigint)                            AS span_s
      FROM events
    ),
    ref_agg AS (
      -- build side is DISTINCT doc_id: a duplicate doc_id (exactly the
      -- dirty-data condition the uniqueness check above catches) must
      -- not fan out embeddings and corrupt this metric's denominator
      SELECT cast(count(*) as bigint) AS n,
             cast(sum(CASE WHEN dx.doc_id IS NULL THEN 1 ELSE 0 END)
                  as bigint)          AS orphans
      FROM embeddings e
      LEFT JOIN (SELECT DISTINCT doc_id FROM documents) dx
        ON dx.doc_id = e.vec_id
    )
    SELECT check_name, round(metric, 6) AS metric, threshold,
           cast(CASE WHEN metric >= threshold THEN 1 ELSE 0 END as int)
             AS passed
    FROM (
      SELECT 'documents.text completeness' AS check_name,
             cast(text_filled as double) / cast(n as double) AS metric,
             {D.dbl(1.0)} AS threshold
      FROM doc_agg
      UNION ALL
      SELECT 'documents.doc_id uniqueness',
             cast(id_distinct as double) / cast(n as double), {D.dbl(1.0)}
      FROM doc_agg
      UNION ALL
      SELECT 'documents.lang validity ^[a-z]{{2}}$',
             cast(lang_valid as double) / cast(n as double), {D.dbl(1.0)}
      FROM doc_agg
      UNION ALL
      SELECT 'documents.n_chars range [1,{DQ_NCHARS_MAX}]',
             cast(chars_in_range as double) / cast(n as double), {D.dbl(1.0)}
      FROM doc_agg
      UNION ALL
      SELECT 'documents.n_chars = length(text) consistency',
             cast(chars_consistent as double) / cast(n as double),
             {D.dbl(1.0)}
      FROM doc_agg
      UNION ALL
      SELECT 'events.ts completeness',
             cast(ts_nonnull as double) / cast(n as double), {D.dbl(1.0)}
      FROM ev_agg
      UNION ALL
      SELECT 'events.event_type validity ^[a-z_]+$',
             cast(type_valid as double) / cast(n as double), {D.dbl(1.0)}
      FROM ev_agg
      UNION ALL
      SELECT 'events.ts freshness (span <= 1y)',
             cast({DQ_SPAN_MAX_S} - span_s as double), {D.dbl(0.0)}
      FROM ev_agg
      UNION ALL
      SELECT 'embeddings.vec_id -> documents.doc_id referential',
             cast(n - orphans as double) / cast(n as double), {D.dbl(1.0)}
      FROM ref_agg
    ) checks
    """


sql_template("q_data_quality", _data_quality,
             "Deequ-style data-quality constraint report: completeness, "
             "uniqueness, consistency, regex validity, numeric range, "
             "cross-table referential integrity, and freshness — one "
             "passed-flagged row per constraint from exact bigint "
             "aggregates",
             tables=("documents", "events", "embeddings"))


# ---- volume anomaly detection ---------------------------------------------------

VA_K = 3.5      # Iglewicz-Hoaglin modified z-score cutoff
VA_C = 0.6745   # the 0.75-quantile of the standard normal (their scale
                # constant: 0.6745 * (x - med) / MAD ~ z under normality)


def _volume_anomaly(d: str) -> str:
    """Ingest-volume anomaly report (the Deequ/monitoring companion to
    q_data_quality): daily event counts flagged by the Iglewicz-Hoaglin
    modified z-score — MEDIAN and MAD, not mean/stddev, because the
    statistic screening for outliers must itself resist them — plus
    gap-awareness (days missing before each observed day), the two
    standing questions a pipeline owner asks of any feed: "did volume
    spike or crater?" and "did a day simply not arrive?".

    Bit-parity: daily counts are exact bigints; med/MAD use the shared
    interpolated-median helper (verified identical across engines);
    the z expression is one identically-written IEEE chain, round(6).
    MAD = 0 (a constant feed) is declared: z goes NULL and any day
    deviating from the median flags. Scale shape: one day-keyed
    aggregation (map-side combined), two 1-row medians broadcast back,
    one lag window over the day-cardinality relation — the report's
    cost is one pass over the feed regardless of horizon."""
    if d == D.SPARK:
        gap = "datediff(day, prev_day) - 1"
    else:
        gap = "date_diff('day', prev_day, day) - 1"
    z = (f"{D.dbl(VA_C)} * (cast(n_events as double) - med) / mad")
    return f"""
    WITH daily AS (
      -- NULL ts rows are excluded EXPLICITLY: they belong to
      -- q_data_quality's completeness check, and a NULL day group would
      -- break cross-engine parity in the lag window below (Spark orders
      -- window NULLS FIRST, DuckDB NULLS LAST)
      SELECT cast(date_trunc('day', ts) as date) AS day,
             cast(count(*) as bigint) AS n_events
      FROM events WHERE ts IS NOT NULL
      GROUP BY cast(date_trunc('day', ts) as date)
    ),
    med AS (SELECT {D.median_('n_events', d)} AS med FROM daily),
    mad AS (
      SELECT {D.median_('abs(cast(n_events as double) - med)', d)} AS mad
      FROM daily CROSS JOIN med
    ),
    laged AS (
      SELECT day, n_events,
             lag(day) OVER (ORDER BY day) AS prev_day
      FROM daily
    )
    SELECT l.day, l.n_events,
           round(CASE WHEN m2.mad = {D.dbl(0.0)} THEN NULL
                      ELSE {z} END, 6) AS modified_z,
           cast(CASE WHEN m2.mad = {D.dbl(0.0)}
                     THEN CASE WHEN cast(l.n_events as double) <> m.med
                               THEN 1 ELSE 0 END
                     WHEN abs({z}) > {D.dbl(VA_K)} THEN 1 ELSE 0 END
                as int) AS is_anomaly,
           cast(CASE WHEN l.prev_day IS NULL THEN 0
                     ELSE {gap} END as int) AS gap_days_before
    FROM laged l CROSS JOIN med m CROSS JOIN mad m2
    """


sql_template("q_volume_anomaly", _volume_anomaly,
             "ingest-volume anomaly report: per-day event counts with "
             "Iglewicz-Hoaglin modified z-scores (median/MAD, outlier-"
             "resistant) and missing-day gap detection",
             tables=("events",))
