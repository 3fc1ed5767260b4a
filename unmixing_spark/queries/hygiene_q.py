"""Corpus-hygiene operators a 100 TB training-data pipeline runs between
crawl and training (task brief; the reference has no text surface):

- q_duplicated_spans — substring-level exact dedup (Lee et al. 2021,
  "Deduplicating Training Data Makes Language Models Better"): maximal
  token spans of length >= SPAN_K occurring >= 2 times anywhere in the
  corpus (across OR within documents), as (doc_id, span_start, span_len).
- q_pii_redact — email / IPv4 / phone detection + redaction counts with a
  SHA-256 of the redacted text (C4-style corpus hygiene pass).
- q_canonical_url — RFC 3986-flavoured URL canonicalization (scheme/host
  case, default ports, fragments, www prefix, query-param sort) plus
  registered-domain (eTLD+1) extraction over a declared public-suffix
  subset.
- q_domain_quota — per-registered-domain quota sampling (source-mix
  control), the md5-ranked exact-quota window from q_stratified_sample
  keyed by registered domain.
- q_lm_perplexity — CCNet-style quality filter (Wenzek et al. 2020):
  bigram-LM perplexity against a reference slice, add-one smoothing.
- q_corpus_keep — the composite curation decision (exact dup + near-dup
  + eval split + contamination + perplexity ceiling), one flag per
  reason.

All dual-rendered (Spark executes, DuckDB is the driver's oracle) and
hash-deterministic. Scale notes per operator in the docstrings below.
"""

from __future__ import annotations

from unmixing_spark import dialect as D
from unmixing_spark.pagegen import url_expr
from unmixing_spark.queries import QuerySpec, register, sql_template
from unmixing_spark.queries.text_q import _lead_gram, _pos_tokens

# ---- substring-level duplicated spans ---------------------------------------

SPAN_K = 6   # minimum duplicated span length in tokens (Lee et al. use 50
             # BPE tokens at corpus scale; 6 keeps the synthetic corpus'
             # repetition structure exercised — 1,157 duplicated 6-grams
             # at sf0.001)


def _span_isl_ctes(d: str) -> str:
    """Shared CTE chain ending in ``isl``(doc_id, pos, island): token
    positions whose SPAN_K-gram occurs >= 2 times corpus-wide, labeled
    with their merged-interval island id (gaps-and-islands). Composed by
    q_duplicated_spans (report the spans) and q_span_scrub (remove
    them)."""
    k = SPAN_K
    return f"""pos AS {D.mat(d)}(SELECT doc_id, pos, tok FROM {_pos_tokens(d)}),
    g AS (
      SELECT doc_id, pos, gram FROM (
        SELECT doc_id, pos, {_lead_gram(k)} AS gram
        FROM pos WINDOW w AS (PARTITION BY doc_id ORDER BY pos))
      WHERE gram IS NOT NULL
    ),
    dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
    hits AS (SELECT g.doc_id, g.pos FROM g JOIN dup ON dup.gram = g.gram),
    gaps AS (
      SELECT doc_id, pos,
             CASE WHEN lag(pos) OVER w2 IS NULL
                       OR pos - lag(pos) OVER w2 > {k} THEN 1 ELSE 0 END
               AS new_island
      FROM hits WINDOW w2 AS (PARTITION BY doc_id ORDER BY pos)
    ),
    isl AS (
      SELECT doc_id, pos,
             sum(new_island) OVER (PARTITION BY doc_id ORDER BY pos
                                   ROWS UNBOUNDED PRECEDING) AS island
      FROM gaps
    )"""


def _duplicated_spans(d: str) -> str:
    """Positions whose SPAN_K-gram occurs >= 2 times corpus-wide cover
    intervals [pos, pos + K - 1]; merging overlapping/adjacent intervals
    (gaps-and-islands, same machinery as q_gopher_repetition) yields the
    MAXIMAL duplicated spans. Scale shape: one gram-keyed shuffle for the
    global HAVING count >= 2 (map-side partial agg), one gram-keyed join
    back onto the gram stream (the duplicated-gram set is corpus-sized in
    the worst case, so it shuffles rather than broadcasts — the standard
    repeated-substring pass), then one doc_id-keyed window. No all-pairs
    anywhere."""
    k = SPAN_K
    return f"""
    WITH {_span_isl_ctes(d)}
    SELECT doc_id,
           cast(min(pos) as bigint)                    AS span_start,
           cast(max(pos) + {k} - min(pos) as bigint)   AS span_len,
           cast(count(*) as bigint)                    AS n_dup_grams
    FROM isl
    GROUP BY doc_id, island
    """


sql_template("q_duplicated_spans", _duplicated_spans,
             "substring-level dedup (Lee et al. 2021): maximal >=K-token "
             "spans occurring >=2 times corpus-wide, gaps-and-islands merge")


# sha256 of the empty string (docs whose every token sits in a duplicated
# span scrub to empty; the aggregate group vanishes, so the value is a
# literal) — FIPS 180-4 test vector
_SHA256_EMPTY = ("e3b0c44298fc1c149afbf4c8996fb924"
                 "27ae41e4649b934ca495991b7852b855")


def _span_scrub(d: str) -> str:
    """The REMOVAL half of Lee et al. 2021 (their pipeline cuts every
    duplicated span out of the training text; q_duplicated_spans only
    reports them): tokens inside any merged duplicated interval are
    dropped and the surviving text is rebuilt in position order, pinned
    by SHA-256. Scale shape: the span chain's exchanges (gram-keyed agg
    + join, doc window) plus one doc_id-keyed interval anti-join — the
    merged intervals per doc are disjoint, so a position matches at most
    one interval and the join never fans out. The rebuild is one ordered
    aggregation per doc (the exchange the token stream already paid)."""
    k = SPAN_K
    return f"""
    WITH {_span_isl_ctes(d)},
    iv AS (
      SELECT doc_id, min(pos) AS s, max(pos) + {k} - 1 AS e
      FROM isl GROUP BY doc_id, island
    ),
    kept AS (
      SELECT p.doc_id, p.pos, p.tok
      FROM pos p LEFT JOIN iv
        ON iv.doc_id = p.doc_id AND p.pos BETWEEN iv.s AND iv.e
      WHERE iv.s IS NULL
    ),
    reb AS (
      SELECT doc_id,
             cast(count(*) as bigint) AS kept_tokens,
             {D.sha256_(D.ordered_string_agg('tok', 'pos', "' '", d), d)}
               AS scrubbed_sha
      FROM kept GROUP BY doc_id
    ),
    nt AS (SELECT doc_id, cast(count(*) as bigint) AS n_tok
           FROM pos GROUP BY doc_id)
    SELECT n.doc_id, n.n_tok,
           coalesce(r.kept_tokens, 0) AS kept_tokens,
           n.n_tok - coalesce(r.kept_tokens, 0) AS removed_tokens,
           coalesce(r.scrubbed_sha, '{_SHA256_EMPTY}') AS scrubbed_sha
    FROM nt n LEFT JOIN reb r ON r.doc_id = n.doc_id
    """


sql_template("q_span_scrub", _span_scrub,
             "duplicated-span REMOVAL (Lee et al. 2021): drop every "
             "token inside a merged duplicated interval, rebuild the "
             "surviving text in position order, SHA-256 pinned")


# ---- PII detection / redaction ----------------------------------------------

# RE2-and-Java-compatible patterns (no lookaround / backreferences);
# cross-engine byte-parity is pinned by tests/test_hygiene.py on a
# planted-PII fixture. Declared scope: the standard C4-style regex pass —
# not a full NER PII system.
PII_EMAIL_RX = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4_RX = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE_RX = r"\(?\d{3}\)?[-. ]\d{3}[-. ]\d{4}"


def _pii_redact(d: str) -> str:
    """Counts on the ORIGINAL text per pattern; redaction is sequential
    email -> IPv4 -> phone (emails can embed digit runs; IPv4 must be
    consumed before the looser phone pattern can bite into it). Pure
    per-row string work — embarrassingly parallel, no shuffle at all."""
    e = D.rx_lit(PII_EMAIL_RX, d)
    i = D.rx_lit(PII_IPV4_RX, d)
    p = D.rx_lit(PII_PHONE_RX, d)
    red = D.regexp_replace_all("text", e, "'[EMAIL]'", d)
    red = D.regexp_replace_all(red, i, "'[IP]'", d)
    red = D.regexp_replace_all(red, p, "'[PHONE]'", d)
    return f"""
    SELECT doc_id,
           cast({D.regexp_count("text", e, d)} as bigint) AS n_emails,
           cast({D.regexp_count("text", i, d)} as bigint) AS n_ips,
           cast({D.regexp_count("text", p, d)} as bigint) AS n_phones,
           {D.sha256_(red, d)}                            AS redacted_sha,
           cast(length({red}) as bigint)                  AS redacted_len
    FROM documents
    """


sql_template("q_pii_redact", _pii_redact,
             "PII hygiene pass: email/IPv4/phone counts + SHA-256 of the "
             "sequentially redacted text (byte-parity pinned on a planted "
             "fixture)")


# ---- URL canonicalization + registered domain --------------------------------

# Declared public-suffix subset (the full PSL is a data file, not logic;
# swapping in the complete list is a broadcast-join against a suffix
# table — same plan shape, more rows).
PSL_2LEVEL = ("co.uk", "org.uk", "ac.uk", "co.jp", "com.au", "com.br",
              "co.in", "co.nz", "github.io")

DOMAIN_QUOTA = 40  # per-registered-domain keep quota


def _messy_url(d: str) -> str:
    """Deterministic messy-URL synthesis (pure function of doc_id — the
    clean pagegen URLs exercise none of the canonicalization rules):
    five variants covering host case, explicit default ports, fragments,
    unsorted query strings, a www prefix, and a two-level public
    suffix."""
    sid = D.to_str("doc_id", d)
    return f"""CASE doc_id % 5
      WHEN 0 THEN 'https://' || source || '.Example.COM/' || lang || '/p' || {sid}
      WHEN 1 THEN 'HTTPS://' || source || '.example.com:443/' || lang || '/p' || {sid} || '#sec2'
      WHEN 2 THEN 'https://www.' || source || '.example.com/' || lang || '/p' || {sid} || '?b=2&a=1&utm=x'
      WHEN 3 THEN 'http://' || source || '.example.com:80/' || lang || '/p' || {sid} || '?a=1&b=2'
      ELSE 'https://' || source || '.example.co.uk/' || lang || '/p' || {sid}
    END"""


def _canon_cte(d: str) -> str:
    """Shared canonicalization CTE chain ending in relation `canon`
    (doc_id, url, canon_url, host, registered_domain)."""
    if d == D.SPARK:
        qs_sort = "array_join(array_sort(split(qs, '&')), '&')"
    else:
        qs_sort = "array_to_string(list_sort(string_split(qs, '&')), '&')"
    last2 = f"regexp_extract(host, {D.rx_lit(r'([^.]+[.][^.]+)$', d)}, 1)"
    last3 = f"regexp_extract(host, {D.rx_lit(r'([^.]+[.][^.]+[.][^.]+)$', d)}, 1)"
    # the PSL as a RELATION, not an IN list: the real public-suffix list
    # is ~9k rows, far past literal-predicate territory — the scale shape
    # is a broadcast hash join of the host stream against the suffix
    # table (Catalyst broadcasts the VALUES relation; swapping in the
    # full list is just more rows in `psl`)
    psl_rows = ", ".join(f"('{s}')" for s in PSL_2LEVEL)
    psl_rel = (f"SELECT * FROM VALUES {psl_rows} AS t(suffix)"
               if d == D.SPARK
               else f"SELECT * FROM (VALUES {psl_rows}) t(suffix)")
    return f"""raw AS (SELECT doc_id, {_messy_url(d)} AS url FROM documents),
    psl AS ({psl_rel}),
    p1 AS (
      SELECT doc_id, url,
             lower(split_part(url, '://', 1)) AS scheme,
             split_part(split_part(url, '://', 2), '#', 1) AS rest
      FROM raw
    ),
    p2 AS (
      SELECT *, split_part(rest, '/', 1) AS hostport,
             substr(rest, length(split_part(rest, '/', 1)) + 1) AS pathqs
      FROM p1
    ),
    p3 AS (
      SELECT *, {D.canon_host('hostport')} AS host,
             split_part(hostport, ':', 2) AS port
      FROM p2
    ),
    p4 AS (
      SELECT *,
             CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
                       OR (scheme = 'https' AND port = '443') THEN ''
                  ELSE ':' || port END AS keep_port,
             split_part(pathqs, '?', 1) AS path,
             split_part(pathqs, '?', 2) AS qs
      FROM p3
    ),
    canon AS (
      SELECT doc_id, url,
             scheme || '://' || host || keep_port || path ||
               CASE WHEN qs = '' THEN '' ELSE '?' || {qs_sort} END
               AS canon_url,
             host,
             CASE WHEN p.suffix IS NOT NULL AND {last3} <> '' THEN {last3}
                  ELSE {last2} END AS registered_domain
      FROM p4 LEFT JOIN psl p ON {last2} = p.suffix
    )"""


def _canonical_url(d: str) -> str:
    """Per-row string work only — no shuffle. The eTLD+1 CASE is the
    broadcast-PSL-join collapsed to a literal IN list."""
    return f"""
    WITH {_canon_cte(d)}
    SELECT doc_id, url, canon_url, host, registered_domain FROM canon
    """


sql_template("q_canonical_url", _canonical_url,
             "URL canonicalization (scheme/host case, default ports, "
             "fragment, www, query sort) + registered-domain (eTLD+1) "
             "over a declared PSL subset")


def _domain_quota(d: str) -> str:
    """Exact per-registered-domain quotas, md5-ranked (the deterministic
    twin of uniform downsampling) — how CC-scale pipelines cap any one
    domain's share of the training mix. One shuffle keyed by domain; at
    10^12 docs the window becomes a map-side per-group top-k + merge
    (same escalation note as q_stratified_sample)."""
    h = D.md5_slice(D.to_str("doc_id", d), 1, d)
    return f"""
    WITH {_canon_cte(d)}
    SELECT doc_id, registered_domain, cast(rn as bigint) AS rn
    FROM (
      SELECT doc_id, registered_domain,
             row_number() OVER (PARTITION BY registered_domain
                                ORDER BY ({h}), doc_id) AS rn
      FROM canon)
    WHERE rn <= {DOMAIN_QUOTA}
    """


sql_template("q_domain_quota", _domain_quota,
             "per-registered-domain exact quota sample (md5-ranked) — "
             "per-domain source-mix control")


# ---- n-gram LM perplexity (CCNet-style quality filter) ------------------------

LM_REF_MOD = 5   # reference slice = doc_id % 5 == 0: CCNet (Wenzek et al.
                 # 2020) trains the LM on clean reference text (Wikipedia)
                 # and scores the crawl by perplexity; a deterministic
                 # corpus slice is the declared stand-in for that corpus
LM_ALPHA = 1     # add-one (Laplace) smoothing


def _lm_ctes(d: str) -> str:
    """CTE chain ending in ``lm``(doc_id, n_bigrams, avg_ll, ppl);
    expects an existing CTE ``pos``(doc_id, pos, tok) — composable, so
    q_corpus_keep can share one token stream across its filters."""
    m, a = LM_REF_MOD, LM_ALPHA
    return f"""big AS (
      SELECT doc_id, w1, w2 FROM (
        SELECT doc_id, tok AS w1, lead(tok, 1) OVER w AS w2
        FROM pos WINDOW w AS (PARTITION BY doc_id ORDER BY pos))
      WHERE w2 IS NOT NULL
    ),
    refc AS (SELECT w1, w2, count(*) AS c FROM big
             WHERE doc_id % {m} = 0 GROUP BY w1, w2),
    uni AS (SELECT w1, sum(c) AS c1 FROM refc GROUP BY w1),
    voc AS (SELECT count(DISTINCT tok) AS v FROM pos
            WHERE doc_id % {m} = 0),
    scored AS (
      SELECT b.doc_id,
             ln(coalesce(r.c, 0) + {a})
               - ln(coalesce(u.c1, 0) + {a} * v.v) AS ll
      FROM big b
      LEFT JOIN refc r ON r.w1 = b.w1 AND r.w2 = b.w2
      LEFT JOIN uni u ON u.w1 = b.w1
      CROSS JOIN voc v
    ),
    lm AS (
      SELECT doc_id,
             cast(count(*) as bigint) AS n_bigrams,
             round(sum(ll) / count(*), 6) AS avg_ll,
             round(exp(-round(sum(ll) / count(*), 6)), 4) AS ppl
      FROM scored
      GROUP BY doc_id
    )"""


def _lm_perplexity(d: str) -> str:
    """Bigram-LM perplexity per document: P(w2|w1) = (c(w1,w2) + a) /
    (c1(w1) + a·V) with counts from the reference slice, scored as
    avg_ll = mean ln P over the doc's bigrams and ppl = exp(-avg_ll).

    Bit-parity: every ln() takes INTEGER counts (identical in both
    engines); avg_ll is rounded to 6 before ppl exponentiates, so both
    engines feed exp() the identical double and round(ppl, 4) kills the
    final ulp.

    Scale shape: bigram stream = one doc_id-keyed window exchange; the
    reference count tables are gram-/w1-keyed partial+final aggregations
    over the (smaller) reference slice; scoring joins are keyed by
    (w1, w2) and w1 — corpus-sized streams join shuffled on
    high-cardinality keys, never broadcast (the LM table is large), and
    V is a 1-row broadcast cross join. Map-side combine everywhere; no
    all-pairs."""
    return f"""
    WITH pos AS {D.mat(d)}(SELECT doc_id, pos, tok FROM {_pos_tokens(d)}),
    {_lm_ctes(d)}
    SELECT doc_id, n_bigrams, avg_ll, ppl FROM lm
    """


sql_template("q_lm_perplexity", _lm_perplexity,
             "CCNet-style quality filter (Wenzek et al. 2020): bigram-LM "
             "perplexity vs a reference slice, add-one smoothing")


# ---- composite curation decision ----------------------------------------------

PPL_MAX = 36.0  # keep threshold on bigram-LM perplexity: p95 of the
                # synthetic corpus is ~35.6 (median ~32), so 36 drops the
                # worst ~5% — a pinned stand-in for the corpus-specific
                # quantile a production pipeline would calibrate


KN_D4 = 3   # Kneser-Ney absolute discount D = 0.75 carried as the
            # integer 3 over the implicit denominator 4, so every KN
            # probability is a ratio of integers


def _kn_bigram_lm(d: str) -> str:
    """Interpolated Kneser-Ney bigram LM (Kneser & Ney 1995; Chen &
    Goodman 1999 eq. 4.25) trained on the same reference slice as
    q_lm_perplexity and scored per document — the standard upgrade over
    the add-one LM for CCNet-style perplexity filtering:

        P(w2|w1) = max(c(w1,w2) - D, 0)/c(w1)
                 + D·N1+(w1,*)/c(w1) · Pcont(w2)

    with D = 3/4 and the continuation distribution add-one smoothed
    (Pcont(w2) = (N1+(*,w2)+1)/(N1+(*,*)+V)) so unseen-type tokens stay
    finite; unseen-history bigrams (c(w1) = 0) back off to Pcont alone.

    Bit-parity: with D = {KN_D4}/4, every probability is a RATIO OF
    INTEGERS — P = (max(4c-3,0)·(T+V) + 3·N1w·(n2+1)) / (4·c1·(T+V)) —
    so ln P = ln(num) - ln(den) keeps the integer-ln doctrine intact
    (no ln of a composite float anywhere); avg_ll rounds to 6 before
    ppl exponentiates, like the add-one LM. Count products stay under
    2^52 far past sf0.1 (4·c1·(T+V) ~ 1e13 at 1e6-bigram slices);
    beyond that the double-precision count cast costs ~1e-16 relative,
    which the rounding absorbs.

    Scale shape: identical to q_lm_perplexity — one doc_id-keyed window
    for the bigram stream, gram-keyed aggregations for the count
    tables (plus the two distinct-count continuation tables, same
    keys), scoring joins keyed by (w1, w2) and w1, 1-row broadcasts
    for the totals. Map-side combine everywhere; no all-pairs."""
    m = LM_REF_MOD
    num = (f"(greatest(4 * coalesce(r.c, 0) - {KN_D4}, 0) * (ct.t + v.v) "
           f"+ {KN_D4} * coalesce(u.n1w, 0) * (coalesce(cw.n2, 0) + 1))")
    den = "(4 * u.c1 * (ct.t + v.v))"
    bo_num = "(coalesce(cw.n2, 0) + 1)"
    bo_den = "(ct.t + v.v)"
    ll = (f"CASE WHEN u.c1 IS NOT NULL AND u.c1 > 0 "
          f"THEN ln(cast({num} as double)) - ln(cast({den} as double)) "
          f"ELSE ln(cast({bo_num} as double)) - ln(cast({bo_den} as double)) "
          f"END")
    return f"""
    WITH pos AS {D.mat(d)}(SELECT doc_id, pos, tok FROM {_pos_tokens(d)}),
    big AS {D.mat(d)}(
      SELECT doc_id, w1, w2 FROM (
        SELECT doc_id, tok AS w1, lead(tok, 1) OVER w AS w2
        FROM pos WINDOW w AS (PARTITION BY doc_id ORDER BY pos))
      WHERE w2 IS NOT NULL
    ),
    refc AS {D.mat(d)}(SELECT w1, w2, cast(count(*) as bigint) AS c FROM big
             WHERE doc_id % {m} = 0 GROUP BY w1, w2),
    uni AS {D.mat(d)}(
      SELECT w1, cast(sum(c) as bigint) AS c1,
             cast(count(*) as bigint) AS n1w
      FROM refc GROUP BY w1
    ),
    contw AS (SELECT w2, cast(count(*) as bigint) AS n2 FROM refc GROUP BY w2),
    ctot AS (SELECT cast(count(*) as bigint) AS t FROM refc),
    voc AS (SELECT cast(count(DISTINCT tok) as bigint) AS v FROM pos
            WHERE doc_id % {m} = 0),
    scored AS (
      SELECT b.doc_id, {ll} AS ll
      FROM big b
      LEFT JOIN refc r ON r.w1 = b.w1 AND r.w2 = b.w2
      LEFT JOIN uni u ON u.w1 = b.w1
      LEFT JOIN contw cw ON cw.w2 = b.w2
      CROSS JOIN ctot ct
      CROSS JOIN voc v
    )
    SELECT doc_id,
           cast(count(*) as bigint) AS n_bigrams,
           round(sum(ll) / count(*), 6) AS avg_ll,
           round(exp(-round(sum(ll) / count(*), 6)), 4) AS ppl
    FROM scored
    GROUP BY doc_id
    """


sql_template("q_kn_bigram_lm", _kn_bigram_lm,
             "interpolated Kneser-Ney bigram LM (D=3/4 as an integer "
             "ratio, add-one continuation floor) trained on the "
             "reference slice, per-doc avg log-likelihood + perplexity")


def _corpus_keep(d: str) -> str:
    """The end-to-end curation decision a training pipeline materializes
    per document: keep = not an exact-dup copy, not an LSH near-dup drop,
    not in the eval split, not eval-contaminated, and under the LM
    perplexity ceiling — with one flag column per reason so the drop mix
    is auditable. Composes the engine's existing filters in ONE
    dual-rendered query (shared `pos` token stream feeds both the
    decontamination grams and the LM bigrams).

    Scale shape: every filter's own shape is unchanged (hash-window for
    exact dup, capped LSH bucket join for near-dup, broadcast eval-gram
    set for contamination, gram-keyed aggs for the LM); the final
    assembly is doc_id-keyed LEFT joins where every right side is at most
    doc-cardinality. Multi-referenced CTEs are MATERIALIZED in the DuckDB
    rendering only (D.mat) — Catalyst handles reuse itself."""
    from unmixing_spark.queries.text_q import (
        DECON_EVAL_MOD,
        DECON_N,
        _lead_gram,
        _minhash_lsh,
    )

    m = DECON_EVAL_MOD
    fallback = D.dbl(999.0)   # docs with no bigrams score as unkeepable
    return f"""
    WITH exact AS (
      SELECT doc_id,
             CASE WHEN doc_id = min(doc_id) OVER (PARTITION BY md5(text))
                  THEN 0 ELSE 1 END AS is_exact_dup
      FROM documents
    ),
    pairs AS ({_minhash_lsh(d)}),
    neardrop AS (SELECT DISTINCT doc_b AS doc_id FROM pairs
                 WHERE shared_bands >= 2),
    pos AS {D.mat(d)}(SELECT doc_id, pos, tok FROM {_pos_tokens(d)}),
    ng AS {D.mat(d)}(
      SELECT doc_id, gram FROM (
        SELECT doc_id, {_lead_gram(DECON_N)} AS gram
        FROM pos WINDOW w AS (PARTITION BY doc_id ORDER BY pos))
      WHERE gram IS NOT NULL
    ),
    ev AS (SELECT DISTINCT gram FROM ng WHERE doc_id % {m} = 0),
    contam AS (
      SELECT DISTINCT g.doc_id
      FROM ng g JOIN ev e ON e.gram = g.gram
      WHERE g.doc_id % {m} <> 0
    ),
    {_lm_ctes(d)}
    SELECT d0.doc_id,
           cast(e.is_exact_dup as bigint) AS is_exact_dup,
           cast(CASE WHEN nd.doc_id IS NULL THEN 0 ELSE 1 END as bigint)
             AS is_near_dup,
           cast(CASE WHEN d0.doc_id % {m} = 0 THEN 1 ELSE 0 END as bigint)
             AS is_eval,
           cast(CASE WHEN c.doc_id IS NULL THEN 0 ELSE 1 END as bigint)
             AS contaminated,
           cast(CASE WHEN coalesce(l.ppl, {fallback}) > {D.dbl(PPL_MAX)}
                     THEN 1 ELSE 0 END as bigint) AS high_ppl,
           cast(CASE WHEN e.is_exact_dup = 0 AND nd.doc_id IS NULL
                          AND d0.doc_id % {m} <> 0 AND c.doc_id IS NULL
                          AND coalesce(l.ppl, {fallback}) <= {D.dbl(PPL_MAX)}
                     THEN 1 ELSE 0 END as bigint) AS keep
    FROM documents d0
    JOIN exact e ON e.doc_id = d0.doc_id
    LEFT JOIN neardrop nd ON nd.doc_id = d0.doc_id
    LEFT JOIN contam c ON c.doc_id = d0.doc_id
    LEFT JOIN lm l ON l.doc_id = d0.doc_id
    """


sql_template("q_corpus_keep", _corpus_keep,
             "end-to-end curation decision: exact dup + LSH near-dup + "
             "eval split + contamination + LM perplexity ceiling, one "
             "auditable flag per reason")


# ---- DSIR importance weights -------------------------------------------------

DSIR_B = 1024    # hashed feature buckets (Xie et al. use 10k buckets of
                 # unigram+bigram hashes at corpus scale; 1024 keeps the
                 # synthetic corpus' buckets non-degenerate)


def _dsir_weights(d: str) -> str:
    """Data Selection via Importance Resampling (Xie et al. 2023, DSIR):
    score every document by the log importance weight log p_target(x) -
    log p_raw(x) under two hashed-bigram bag-of-features models — the
    target model counted over the reference slice (same declared
    stand-in as q_lm_perplexity: doc_id % LM_REF_MOD = 0), the raw model
    over the rest of the corpus. Each bigram hashes into DSIR_B buckets
    (md5-derived, identical in both dialects); bucket models are add-one
    smoothed. Selection itself (top-k by weight, or Gumbel-perturbed
    resampling) is a one-line consumer of the score column — at 10^12
    docs it composes with the q_stratified_sample quota machinery rather
    than a global rank here.

    Bit-parity: every ln() argument is an exact integer (bucket count +
    1, total + B); the per-doc float sum is rounded to 6 in both
    renderings (the q_lm_perplexity convention). Scale shape: one
    doc_id-keyed window for the bigram stream; bucket models are
    B-row aggregates — broadcast-sized by construction (2·DSIR_B rows),
    joined back onto the stream by bucket id; totals are 1-row cross
    joins. Map-side combine everywhere; no all-pairs."""
    m = LM_REF_MOD
    h = D.md5_slice("w1 || ' ' || w2", 1, d)
    return f"""
    WITH pos AS (SELECT doc_id, pos, tok FROM {_pos_tokens(d)}),
    big AS (
      SELECT doc_id, w1, w2 FROM (
        SELECT doc_id, tok AS w1, lead(tok, 1) OVER w AS w2
        FROM pos WINDOW w AS (PARTITION BY doc_id ORDER BY pos))
      WHERE w2 IS NOT NULL
    ),
    hb AS {D.mat(d)}(
      SELECT doc_id, ({h}) % {DSIR_B} AS b FROM big
    ),
    tgt AS (SELECT b, count(*) AS c FROM hb
            WHERE doc_id % {m} = 0 GROUP BY b),
    rawm AS (SELECT b, count(*) AS c FROM hb
             WHERE doc_id % {m} != 0 GROUP BY b),
    tt AS (SELECT cast(coalesce(sum(c), 0) as bigint) AS t FROM tgt),
    rt AS (SELECT cast(coalesce(sum(c), 0) as bigint) AS t FROM rawm),
    scored AS (
      SELECT hb.doc_id,
             ln(coalesce(tg.c, 0) + 1) - ln(tt.t + {DSIR_B})
               - ln(coalesce(rw.c, 0) + 1) + ln(rt.t + {DSIR_B}) AS lw
      FROM hb
      LEFT JOIN tgt tg ON tg.b = hb.b
      LEFT JOIN rawm rw ON rw.b = hb.b
      CROSS JOIN tt CROSS JOIN rt
    )
    SELECT doc_id,
           cast(count(*) as bigint) AS n_bigrams,
           round(sum(lw), 6) AS log_weight,
           round(sum(lw) / count(*), 6) AS avg_log_weight
    FROM scored GROUP BY doc_id
    """


sql_template("q_dsir_weights", _dsir_weights,
             "DSIR data selection (Xie et al. 2023): hashed-bigram "
             "importance weights log p_target - log p_raw vs the "
             "reference slice, add-one smoothed buckets")


# ---- URL blocklist filtering -------------------------------------------------

# Declared blocklist stand-in (UT1-style category lists; RefinedWeb §3.1
# filters on exactly such lists). kind: host = exact canonical host,
# domain = exact registered domain (eTLD+1), path = substring of the
# canonical URL. rule_id doubles as match priority (lowest wins).
URL_BLOCKLIST = [
    (1, "host", "src1.example.com", "ads"),
    # source = src(doc_id % 20) and URL variant = doc_id % 5 are
    # correlated, so only hosts srcN.example.com with N % 5 != 4 and
    # domains srcN.example.co.uk with N % 5 == 4 exist in the corpus
    (2, "host", "src7.example.com", "adult"),
    (3, "domain", "src9.example.co.uk", "tracking"),
    (4, "path", "/zh/", "geo-restricted"),
]


def _url_blocklist(d: str) -> str:
    """Blocklist filtering over canonical URLs: every document joins the
    (broadcast-sized) rule table on host / registered-domain / path
    predicates; the lowest-rule_id match decides the category. The real
    UT1 lists are ~4M domains — still broadcast territory (a few 100 MB
    of hashed strings), and the join shape here (corpus stream x small
    build side, no shuffle of the stream) is exactly what scales; past
    broadcast size the same query becomes a shuffled semi-join on host.

    Full-value oracle: the rule table, canonicalization, and min()
    tie-break are identical SQL in both renderings."""
    rule_rows = ", ".join(f"({i}, '{k}', '{p}', '{c}')"
                          for i, k, p, c in URL_BLOCKLIST)
    return f"""
    WITH {_canon_cte(d)},
    rules AS ({D.values_rel(rule_rows, "t(rule_id, kind, pattern, category)", d)}),
    hits AS (
      SELECT c.doc_id, min(r.rule_id) AS rule_id
      FROM canon c JOIN rules r
        ON (r.kind = 'host' AND c.host = r.pattern)
        OR (r.kind = 'domain' AND c.registered_domain = r.pattern)
        OR (r.kind = 'path' AND instr(c.canon_url, r.pattern) > 0)
      GROUP BY c.doc_id
    )
    SELECT c.doc_id, c.host, c.registered_domain,
           cast(CASE WHEN h.rule_id IS NOT NULL THEN 1 ELSE 0 END
                as bigint) AS blocked,
           r.category, r.pattern AS matched_pattern
    FROM canon c
    LEFT JOIN hits h ON h.doc_id = c.doc_id
    LEFT JOIN rules r ON r.rule_id = h.rule_id
    """


sql_template("q_url_blocklist", _url_blocklist,
             "UT1/RefinedWeb-style URL blocklist filter: host / eTLD+1 / "
             "path rules joined broadcast onto canonical URLs, "
             "lowest-rule priority")


# ---- temperature-scaled source mixing ----------------------------------------

MIX_ALPHA = 0.7      # sampling temperature exponent: p_i ∝ n_i^alpha
MIX_EPOCH_CAP = 4.0  # repeat-epoch warning line (Muennighoff et al. 2023)


def _source_mix(d: str) -> str:
    """Temperature-scaled source-mixing plan (the exponent-smoothed
    sampling every multilingual / multi-source LM run computes before
    training — Lample & Conneau 2019 §3.1, mBERT's exponent 0.7;
    GPT-3/The Pile publish the resulting per-source weights+epochs
    table): per-language token counts raised to MIX_ALPHA and
    normalized give the sampling distribution p_mix; against the raw
    share p_raw that yields a token budget and an effective epoch
    count per language. over_epoch_cap flags languages the mix would
    repeat more than MIX_EPOCH_CAP times — past ~4 epochs repeated
    data stops helping (Muennighoff et al. 2023, "Scaling
    Data-Constrained Language Models"). Keyed by lang (the corpus'
    skewed attribute; source is uniform by construction) — per-source
    or per-registered-domain mixing is the same query keyed by
    q_canonical_url's registered_domain.

    Bit-parity: ln() takes an exact integer token count (the repo's
    established integer-ln doctrine, q_zipf_vocab/q_lm_perplexity);
    the weight rounds to 6 BEFORE normalization, and every downstream
    column derives from the already-rounded p_mix so both engines feed
    identical doubles into identical arithmetic. The normalizer
    sum(wt) adds a handful of rounded doubles whose ulp-level order
    noise sits ten digits below the round(,6) on p_mix.

    Scale shape: one lang-keyed map-side-combined aggregation (result
    is #sources-sized, << corpus) + a 1-row broadcast cross join.
    Nothing else touches the corpus stream; at 10^12 docs this is the
    cheapest query in the registry."""
    toks = (f"size({D.ws_split('text', d)})" if d == D.SPARK
            else f"len({D.ws_split('text', d)})")
    a = D.dbl(MIX_ALPHA)
    p_mix = "round(w.wt / t.sw, 6)"
    epochs = f"{p_mix} * t.st / w.n_toks"
    return f"""
    WITH cnt AS (
      SELECT lang,
             cast(count(*) as bigint)    AS n_docs,
             cast(sum({toks}) as bigint) AS n_toks
      FROM documents GROUP BY lang
    ),
    w AS (
      SELECT lang, n_docs, n_toks,
             round(exp({a} * ln(n_toks)), 6) AS wt
      FROM cnt
    ),
    tot AS (SELECT sum(wt) AS sw, cast(sum(n_toks) as bigint) AS st FROM w)
    SELECT w.lang, w.n_docs, w.n_toks, w.wt,
           round(cast(w.n_toks as double) / t.st, 6)   AS p_raw,
           {p_mix}                                     AS p_mix,
           cast(round({p_mix} * t.st) as bigint)       AS target_toks,
           round({epochs}, 6)                          AS epochs,
           cast(CASE WHEN {epochs} > {D.dbl(MIX_EPOCH_CAP)}
                     THEN 1 ELSE 0 END as bigint)      AS over_epoch_cap
    FROM w CROSS JOIN tot t
    """


sql_template("q_source_mix", _source_mix,
             "temperature-scaled source mixing (p ∝ n^alpha): per-lang "
             "sampling weights, token budgets, effective epochs, "
             "over-epoch-cap flags")


# ---- explicit-recipe mixture rebalance (materialized) -------------------------

# Hand-set recipe weights by source tier — the Pile/LLaMA-style table where
# a human assigns each source a quality multiplier (Gao et al. 2020 Table 1
# publishes per-source epochs; Touvron et al. 2023 Table 1 the sampling
# proportions). Tiers are declared on the source id: src0-4 "curated" 4x,
# src5-9 "books-grade" 2x, the rest "web" 1x.
MIX_TIERS = ((5, 4.0), (10, 2.0))   # (exclusive upper src index, weight)
MIX_TIER_DEFAULT = 1.0


def _mix_rebalance(d: str) -> str:
    """Materialized mixture rebalance — the EXECUTION step downstream of
    the q_source_mix plan: given explicit per-source recipe weights
    (MIX_TIERS), emit per-document repeat counts that realize the target
    token shares at constant total-token budget. A target share above a
    source's natural share upsamples it (repeats >= 1 grows past 1
    epoch); below, downsamples (some docs drop to repeats = 0).

    Fractional rates materialize by DETERMINISTIC stochastic rounding:
    repeats = floor(rate) + [u < frac(rate)] with u = md5(doc_id)/2^32 —
    reproducible across runs, shards, and engines (no RNG state; the
    same doctrine as q_sample_10pct/q_weighted_sample), and unbiased in
    expectation per source. The per-source achieved_share audit column
    is computed IN the query so the oracle value-hash gates both the
    assignment and its realized mixture.

    Bit-parity: rate rounds to 6 BEFORE floor/frac/compare so both
    engines branch on identical doubles; u is an exact dyadic rational
    (32-bit int / 2^32); achieved shares divide exact bigint token sums.

    Scale shape: one source-keyed 20-row aggregate (map-side combined),
    a 1-row total, and two broadcast joins back onto the doc stream —
    the corpus is touched by map-only passes plus tiny re-joins; no
    wide shuffle, and deliberately NO global window — achieved shares
    come from a second column-pruned corpus pass into a 20-row
    aggregate, because sum(...) OVER () would funnel every row through
    one partition. At 10^12 docs the rate table is still #sources
    rows. DuckDB materializes doc/rep (D.mat) against its
    inline-everything CTE default."""
    toks = (f"size({D.ws_split('text', d)})" if d == D.SPARK
            else f"len({D.ws_split('text', d)})")
    tiers = " ".join(
        f"WHEN cast(substr(source, 4) as int) < {hi} THEN {D.dbl(w)}"
        for hi, w in MIX_TIERS)
    wt = f"CASE {tiers} ELSE {D.dbl(MIX_TIER_DEFAULT)} END"
    u = f"cast({D.md5_slice(D.to_str('doc_id', d), 1, d)} as double) / cast(4294967296 as double)"
    return f"""
    WITH doc AS {D.mat(d)}(
      SELECT doc_id, source, cast({toks} as bigint) AS n_toks
      FROM documents
    ),
    src AS (
      SELECT source, cast(sum(n_toks) as bigint) AS src_toks,
             max({wt}) AS wt
      FROM doc GROUP BY source
    ),
    tot AS (SELECT sum(wt) AS sw, cast(sum(src_toks) as bigint) AS st FROM src),
    rate AS (
      SELECT s.source,
             round(s.wt / t.sw, 6)                          AS target_share,
             round(cast(s.src_toks as double) / t.st, 6)    AS natural_share,
             round((s.wt / t.sw) * t.st / s.src_toks, 6)    AS rate
      FROM src s CROSS JOIN tot t
    ),
    rep AS {D.mat(d)}(
      SELECT d.doc_id, d.source, d.n_toks, r.target_share, r.natural_share,
             r.rate,
             cast(floor(r.rate) as bigint)
               + (CASE WHEN ({u}) < r.rate - floor(r.rate)
                       THEN 1 ELSE 0 END)                   AS repeats
      FROM doc d JOIN rate r ON d.source = r.source
    ),
    achieved AS (
      SELECT source,
             cast(sum(n_toks * repeats) as bigint) AS out_toks
      FROM rep GROUP BY source
    ),
    out_tot AS (SELECT cast(sum(out_toks) as bigint) AS ot FROM achieved)
    SELECT p.doc_id, p.source, p.n_toks, p.target_share, p.natural_share,
           p.rate, p.repeats,
           round(cast(a.out_toks as double) / o.ot, 6) AS achieved_share
    FROM rep p
    JOIN achieved a ON a.source = p.source
    CROSS JOIN out_tot o
    """


sql_template("q_mix_rebalance", _mix_rebalance,
             "explicit-recipe mixture rebalance: per-doc deterministic "
             "repeat counts (stochastic rounding by doc hash) realizing "
             "Pile/LLaMA-style target token shares, with in-query "
             "achieved-share audit")


# ---- k-anonymous release (privacy-preserving corpus statistics) ---------------

K_ANON = 4   # minimum published group size (Sweeney 2002 k-anonymity)


def _kanon_release(d: str) -> str:
    """k-anonymous corpus-statistics release (Sweeney 2002): publish
    per-(lang, source) doc counts and char sums only for groups of at
    least K_ANON documents; smaller groups GENERALIZE up the hierarchy
    (source → '*', then lang → '*') and pool, and a pooled cell still
    under K_ANON is suppressed outright rather than published — the
    release-side counterpart to q_pii_redact's record-side scrub (what
    a corpus dashboard / datasheet pipeline runs before numbers leave
    the enclave). anonymity_level records how far each published row
    generalized (0 = exact cell, 1 = lang only, 2 = global residual);
    kanon_ok is the in-query proof that EVERY published row meets the
    floor, so the oracle value-hash gates the guarantee itself, not
    just the arithmetic.

    Scale shape: one (lang, source)-keyed map-side-combined aggregate
    (≤ |lang|·|source| rows ≪ corpus), then all pooling, flags, and
    the min() OVER () audit run on that tiny release table — the
    global window never sees the corpus stream."""
    k = K_ANON
    return f"""
    WITH g AS (
      SELECT lang, source,
             cast(count(*) as bigint)     AS n_docs,
             cast(sum(n_chars) as bigint) AS n_chars_sum
      FROM documents GROUP BY lang, source
    ),
    lvl1 AS (
      SELECT lang, cast(sum(n_docs) as bigint) AS n_docs,
             cast(sum(n_chars_sum) as bigint)  AS n_chars_sum
      FROM g WHERE n_docs < {k} GROUP BY lang
    ),
    lvl2 AS (
      SELECT cast(sum(n_docs) as bigint)      AS n_docs,
             cast(sum(n_chars_sum) as bigint) AS n_chars_sum
      FROM lvl1 WHERE n_docs < {k}
      HAVING sum(n_docs) IS NOT NULL
    ),
    pub AS (
      SELECT lang, source, n_docs, n_chars_sum, cast(0 as int) AS anonymity_level
      FROM g WHERE n_docs >= {k}
      UNION ALL
      SELECT lang, '*' AS source, n_docs, n_chars_sum, cast(1 as int)
      FROM lvl1 WHERE n_docs >= {k}
      UNION ALL
      SELECT '*' AS lang, '*' AS source, n_docs, n_chars_sum, cast(2 as int)
      FROM lvl2 WHERE n_docs >= {k}
    )
    SELECT lang, source, n_docs, n_chars_sum, anonymity_level,
           cast(CASE WHEN min(n_docs) OVER () >= {k} THEN 1 ELSE 0 END as int)
             AS kanon_ok
    FROM pub
    """


sql_template("q_kanon_release", _kanon_release,
             "k-anonymous statistics release: per-(lang, source) counts "
             "published only at group size >= K_ANON, smaller cells "
             "generalized up the hierarchy and pooled, residuals under "
             "the floor suppressed; in-query kanon_ok proof")


# ---- HTML boilerplate stripping / text extraction -----------------------------

# The html column (BASELINE input_hint: pages(... html binary ...)) is
# synthesized from text (pagegen.py) — to make extraction non-vacuous,
# this query wraps the text in a DETERMINISTIC rich page (title, style
# and script blocks, a tag-bearing comment, an entity-encoded salt
# paragraph, multi-line indented markup) and then runs the real
# extractor over it. The salt exercises &lt; &gt; &quot; &#39; &#90;
# &nbsp; &amp; — decoded in the standard amp-last order.
HTML_SALT_PLAIN = """AT&T <b> "q" 'a' Z"""
HTML_SALT_ENC = "AT&amp;T &lt;b&gt; &quot;q&quot; &#39;a&#39; &#90;&nbsp;"
# (plain, encoded) entity table, amp LAST so '&amp;lt;' cannot double-decode
HTML_ENTITIES = [("<", "&lt;"), (">", "&gt;"), ('"', "&quot;"),
                 ("'", "&#39;"), ("Z", "&#90;"), (" ", "&nbsp;"),
                 ("&", "&amp;")]


def _sql_str(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _html_extract(d: str) -> str:
    """HTML → text extraction (the boilerplate-strip pass C4/CCNet run
    between WARC and every text filter; Raffel et al. 2020 §2.2 start
    from extracted text): drop script/style subtrees, drop comments,
    strip tags, decode entities (amp-last), normalize whitespace. The
    north-rule invariant — byte-identical extracted text per url — is
    checked IN the query: roundtrip=1 iff sha2(extracted) equals
    sha2(expected) where expected = salt || ' ' || text by
    construction.

    Extraction order: the whole <head> subtree goes first (title/meta
    are boilerplate, not text — and its script/style go with it), then
    body-level script/style subtrees, comments, tags, entities,
    whitespace. Regex subset is RE2-and-Java compatible: (?is) flags +
    non-greedy .*? only — no lookaround, no backreferences (RE2 has
    neither, hence separate script/style patterns instead of
    <(script|style)>...</\\1>). Scale shape: pure per-row string work over the page
    stream — embarrassingly parallel, zero shuffle; at 10^12 pages
    this pipelines with the scan."""
    nl = "chr(10)"
    enc_text = "text"  # corpus text contains no markup metacharacters —
    # the encode leg on the synthetic side is exercised by the salt
    html = (f"'<html><head><title>t</title>' || {nl} || "
            f"'<style>p {{ color: red; }}</style>' || {nl} || "
            f"'<script type=\"text/javascript\">var x = 1 < 2; // </b>' "
            f"|| {nl} || '</script></head>' || {nl} || "
            f"'<body><!-- comment with <tags> & entities --> ' || {nl} || "
            f"'  <p id=\"salt\">{HTML_SALT_ENC}</p>' || {nl} || "
            f"'  <p>' || {enc_text} || '</p>' || {nl} || "
            f"'</body></html>'")
    x = D.from_binary("html", d)
    x = D.regexp_replace_all(
        x, D.rx_lit(r"(?is)<head[^>]*>.*?</head>", d), "' '", d)
    x = D.regexp_replace_all(
        x, D.rx_lit(r"(?is)<script[^>]*>.*?</script>", d), "' '", d)
    x = D.regexp_replace_all(
        x, D.rx_lit(r"(?is)<style[^>]*>.*?</style>", d), "' '", d)
    x = D.regexp_replace_all(
        x, D.rx_lit(r"(?s)<!--.*?-->", d), "' '", d)
    x = D.regexp_replace_all(x, D.rx_lit(r"<[^>]*>", d), "' '", d)
    for plain, enc in HTML_ENTITIES:
        x = f"replace({x}, {_sql_str(enc)}, {_sql_str(plain)})"
    x = f"trim({D.regexp_replace_all(x, D.rx_lit(chr(92) + 's+', d), chr(39) + ' ' + chr(39), d)})"
    expected = f"{_sql_str(HTML_SALT_PLAIN)} || ' ' || text"
    return f"""
    WITH page AS (
      SELECT doc_id, text, {D.to_binary(html, d)} AS html
      FROM documents
    ),
    ext AS (
      SELECT doc_id, text,
             {D.binary_len('html', d)} AS html_bytes,
             {x} AS extracted
      FROM page
    )
    SELECT doc_id,
           cast(html_bytes as bigint)              AS html_bytes,
           cast(length(extracted) as bigint)       AS extracted_len,
           {D.sha256_('extracted', d)}             AS extracted_sha,
           cast(CASE WHEN extracted = ({expected})
                     THEN 1 ELSE 0 END as bigint)  AS roundtrip
    FROM ext
    """


sql_template("q_html_extract", _html_extract,
             "HTML→text extraction (C4-style boilerplate strip): "
             "script/style/comment removal, tag strip, entity decode, "
             "ws-normalize — with an in-query byte-identical roundtrip "
             "proof against the north-rule text invariant")


# ---- CCNet perplexity buckets --------------------------------------------------

PPL_FALLBACK = 999.0  # docs with no bigrams sort to the tail (the
                      # q_corpus_keep convention)


def _ppl_buckets(d: str) -> str:
    """CCNet's head/middle/tail split (Wenzek et al. 2020 §4.4): per
    language, documents are ranked by LM perplexity and cut into
    terciles — 'head' (lowest perplexity, most Wikipedia-like) is what
    high-quality pretraining mixes keep, 'tail' is what they drop or
    down-weight. Reuses the engine's bigram-LM scoring chain
    (_lm_ctes); the split is one ntile(3) window per language with a
    deterministic (ppl, doc_id) order so ties cannot float between
    buckets.

    Bit-parity: ppl comes out of the shared chain already rounded in
    both renderings; ntile over an identical total order is pure
    integer bucketing (both engines implement the SQL-standard
    earlier-buckets-get-the-remainder distribution). Scale shape: the
    LM chain's exchanges (doc_id window, gram-keyed aggs) plus ONE
    lang-keyed window over the doc-cardinality score table. At 10^12
    docs a global per-lang sort window becomes the standard
    sample-the-quantile-boundaries pass (compute the two tercile
    thresholds per lang from an approx-quantile sketch, then bucket by
    comparison — one map-side pass); the emitted semantics are
    identical."""
    return f"""
    WITH pos AS {D.mat(d)}(SELECT doc_id, pos, tok FROM {_pos_tokens(d)}),
    {_lm_ctes(d)},
    scored2 AS (
      SELECT doc.doc_id, doc.lang,
             cast(coalesce(lm.n_bigrams, 0) as bigint) AS n_bigrams,
             coalesce(lm.ppl, {D.dbl(PPL_FALLBACK)})   AS ppl
      FROM documents doc LEFT JOIN lm ON lm.doc_id = doc.doc_id
    )
    SELECT doc_id, lang, n_bigrams, ppl,
           cast(ntile(3) OVER (PARTITION BY lang ORDER BY ppl, doc_id)
                as bigint) AS tercile,
           CASE ntile(3) OVER (PARTITION BY lang ORDER BY ppl, doc_id)
                WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail'
           END AS bucket
    FROM scored2
    """


sql_template("q_ppl_buckets", _ppl_buckets,
             "CCNet head/middle/tail split (Wenzek et al. 2020): per-lang "
             "perplexity terciles via a deterministic ntile window")


# ---- robots meta directives ----------------------------------------------------


def _meta_robots(d: str) -> str:
    """Robots-meta compliance filter (the first drop every crawler-fed
    corpus applies: pages declaring <meta name="robots" noindex> must
    not be indexed or kept — C4/CCNet inherit this from the crawler).
    The pages table's html is synthesized clean, so the directive is
    PLANTED deterministically (md5(doc_id) convention, lines_q/linkgraph
    style): ~30% of pages carry noindex and/or nofollow, in BOTH
    attribute orders (name-first and content-first) and mixed case, so
    the extractor's coalesce-over-two-patterns path and the
    case-insensitive directive match are all exercised.

    Scale shape: pure per-row regexp work over the page stream — zero
    exchanges, pipelines with the scan (same class as q_html_extract)."""
    sid = D.to_str("doc_id", d)
    h = D.md5_slice(f"'r' || {sid}", 1, d)
    content = f"""CASE ({h}) % 10
      WHEN 0 THEN 'noindex' WHEN 1 THEN 'noindex, nofollow'
      WHEN 2 THEN 'nofollow' WHEN 3 THEN 'NOINDEX'
      ELSE 'index, follow' END"""
    meta = f"""CASE ({h}) % 2 WHEN 0
      THEN '<meta name="robots" content="' || ({content}) || '">'
      ELSE '<meta content="' || ({content}) || '" name="robots">' END"""
    html = (f"'<html><head>' || ({meta}) || "
            f"'<meta charset=\"utf-8\"></head><body><p>' || text || "
            f"'</p></body></html>'")
    rx1 = D.rx_lit(r'(?i)<meta[^>]*name="robots"[^>]*content="([^"]*)"', d)
    rx2 = D.rx_lit(r'(?i)<meta[^>]*content="([^"]*)"[^>]*name="robots"', d)
    robots = (f"coalesce(nullif(regexp_extract(page_html, {rx1}, 1), ''), "
              f"nullif(regexp_extract(page_html, {rx2}, 1), ''), '')")
    return f"""
    WITH page AS (
      SELECT doc_id, {html} AS page_html FROM documents
    ),
    ext AS (
      SELECT doc_id, {robots} AS robots FROM page
    )
    SELECT doc_id, robots,
           cast(CASE WHEN instr(lower(robots), 'noindex') > 0
                     THEN 1 ELSE 0 END as bigint) AS noindex,
           cast(CASE WHEN instr(lower(robots), 'nofollow') > 0
                     THEN 1 ELSE 0 END as bigint) AS nofollow,
           cast(CASE WHEN instr(lower(robots), 'noindex') > 0
                     THEN 0 ELSE 1 END as bigint) AS keep
    FROM ext
    """


sql_template("q_meta_robots", _meta_robots,
             "robots-meta compliance filter: extract the robots "
             "directive from page html (both attribute orders, "
             "case-insensitive) and derive noindex/nofollow/keep flags")


# ---- reproducible epoch shuffling + sharding -------------------------------

SHUF_EPOCHS = 3   # training epochs, each with its own deterministic order
SHUF_SHARDS = 8   # contiguous worker shards per epoch


def _epoch_shuffle(d: str) -> str:
    """Reproducible per-epoch data ordering + sharding — the data-order
    leg of training reproducibility (a resumed or re-run job must read
    the corpus in the SAME order; Megatron/T5-style deterministic
    shuffles keyed on (seed, epoch)): each epoch permutes the corpus by
    md5(epoch || url) and splits the permutation into {SHUF_SHARDS}
    contiguous worker shards. Output is one row per (epoch, shard) with
    the shard's size, position range, and the SHA-256 of its doc
    sequence IN ORDER — the order itself is value-hashed, so any
    nondeterminism in the shuffle breaks the oracle gate. The bijection
    proof rides in-query: per epoch, positions are dense 1..n
    (pos_ok = 1 on every row or the hash breaks).

    Scale shape: the md5 rank is ONE key — at 10^12 docs the epoch
    order materializes as write-time repartitionByRange(shuffle_key)
    (sampled boundaries, no global window); the row_number here is the
    audit-scale stand-in, same note as q_stratified_sample. Shards are
    contiguous ranges of that order, so a worker's shard is a
    partition-pruned scan, not a shuffle."""
    url = url_expr(d)
    ep_rows = ", ".join(f"({e})" for e in range(SHUF_EPOCHS))
    key = f"md5('ep' || {D.to_str('e.epoch', d)} || ':' || u.url)"
    return f"""
    WITH urls AS (SELECT doc_id, {url} AS url FROM documents),
    eps AS ({D.values_rel(ep_rows, "t(epoch)", d)}),
    n AS (SELECT cast(count(*) as bigint) AS n FROM urls),
    ranked AS {D.mat(d)}(
      SELECT e.epoch, u.doc_id,
             row_number() OVER (PARTITION BY e.epoch
                                ORDER BY {key}, u.url) AS pos
      FROM urls u CROSS JOIN eps e
    ),
    sharded AS (
      SELECT r.epoch, r.doc_id, r.pos,
             {D.idiv_i('(r.pos - 1) * ' + str(SHUF_SHARDS), 'n.n', d)}
               AS shard
      FROM ranked r CROSS JOIN n
    )
    SELECT epoch, shard,
           cast(count(*) as bigint) AS n_docs,
           cast(min(pos) as bigint) AS pos_first,
           cast(max(pos) as bigint) AS pos_last,
           cast(CASE WHEN max(pos) - min(pos) + 1 = count(*)
                THEN 1 ELSE 0 END as bigint) AS pos_ok,
           {D.sha256_(D.ordered_string_agg(D.to_str('doc_id', d), 'pos', "','", d), d)}
             AS seq_sha
    FROM sharded
    GROUP BY epoch, shard
    ORDER BY epoch, shard
    """


sql_template("q_epoch_shuffle", _epoch_shuffle,
             "reproducible per-epoch shuffle + contiguous worker shards: "
             "the doc ORDER itself is SHA-pinned per (epoch, shard), "
             "dense-position proof in-query")


# ---- temporal train/eval split + leakage audit --------------------------------

SPLIT_CUTOFF = 1735689600 + 15768000  # mid-2025 (pagegen.EPOCH_2025 +
                                      # half a year) — the same boundary
                                      # q_bloom_crossdedup's incremental
                                      # pass uses, so the two operators
                                      # describe the same crawl split


def _time_split(d: str) -> str:
    """Temporal train/eval split with a cross-split contamination audit —
    the 'train on the past, evaluate on the future' holdout every
    time-sensitive LLM eval needs. The split is by CAPTURE time
    (md5-derived warc_ts, so copies of the same text land on independent
    sides); the leak notion is the decontamination standard (Brown et
    al. 2020 appendix C, applied across the boundary instead of against
    a fixed eval set): a page leaks if any of its SPAN_K-token grams
    also occurs on the other side of the cutoff. Per page: split, the
    count of its distinct leaking grams, and the flag; the gate a
    pipeline applies is one GROUP BY over this output.

    Scale shape: one gram-keyed aggregation for the cross-split gram
    table (map-side combined; count(DISTINCT split) over a 2-value
    column) joined back gram-keyed onto the per-doc DISTINCT gram
    stream, then one doc-keyed count — the decontamination shuffle
    shape, no all-pairs. Pages come from the shared pagegen template."""
    from unmixing_spark.pagegen import pages_sql, url_expr
    from unmixing_spark.queries.text_q import _lead_gram, _pos_tokens
    k = SPAN_K
    cut = f"cast({SPLIT_CUTOFF} as bigint)"
    ep = D.ts_to_epoch("p.warc_ts", d)
    return f"""
    WITH splits AS {D.mat(d)}(
      SELECT dd.doc_id, p.url,
             CASE WHEN {ep} < {cut} THEN 'train' ELSE 'eval' END AS split
      FROM ({pages_sql(d)}) p
      JOIN (SELECT doc_id, {url_expr(d)} AS url FROM documents) dd
        ON dd.url = p.url
    ),
    g AS {D.mat(d)}(
      SELECT DISTINCT doc_id, gram FROM (
        SELECT doc_id, {_lead_gram(k)} AS gram
        FROM {_pos_tokens(d)} WINDOW w AS (PARTITION BY doc_id
                                           ORDER BY pos))
      WHERE gram IS NOT NULL
    ),
    xg AS (
      SELECT g.gram
      FROM g JOIN splits s ON s.doc_id = g.doc_id
      GROUP BY g.gram HAVING count(DISTINCT s.split) > 1
    ),
    leaks AS (
      SELECT g.doc_id, cast(count(*) as bigint) AS n_leak_grams
      FROM g JOIN xg ON xg.gram = g.gram
      GROUP BY g.doc_id
    )
    SELECT s.url, s.split,
           cast(coalesce(l.n_leak_grams, 0) as bigint) AS n_leak_grams,
           cast(CASE WHEN l.n_leak_grams > 0 THEN 1 ELSE 0 END as bigint)
             AS leaked
    FROM splits s LEFT JOIN leaks l ON l.doc_id = s.doc_id
    """


sql_template("q_time_split", _time_split,
             "temporal train/eval split by capture time + cross-split "
             "k-gram contamination audit (Brown et al. 2020 notion "
             "applied across the boundary)")


# ---- winnowing fingerprints ----------------------------------------------------

WIN_K = 4   # fingerprint gram size (tokens)
WIN_W = 3   # winnowing window (grams) — guarantee: any shared token run
            # of >= WIN_K + WIN_W - 1 = 6 tokens (= SPAN_K, so the
            # corpus' duplicated spans exercise it) shares a fingerprint
_WIN_PB = 1 << 20   # position field width: winnowing applies to docs of
_WIN_HB = 1 << 21   # < 2^20 tokens (longer docs chunk first — standard);
                    # combined = h * 2^21 + (2^20 - pos) stays < 2^53


def _winnow_fp(d: str) -> str:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken
    2003, MOSS): per WIN_W-gram window take the minimum gram hash,
    rightmost on ties — the local fingerprint selection whose guarantee
    (every shared substring of length >= k + w - 1 yields a shared
    fingerprint) makes it the plagiarism/near-dup detector that cannot
    miss long copies, at ~2/(w+1) the storage of all grams. Differs
    from q_doc_fingerprint (one order-insensitive hash per doc) and
    q_duplicated_spans (exact gram join over ALL grams): winnowing is
    the sub-linear index between them.

    The rightmost-min-on-ties rule rides ONE window min over the
    combined key h * 2^21 + (2^20 - pos): smaller hash wins, then larger
    pos — decoded back arithmetically, so both engines agree exactly.

    Scale shape: gram hashing + the window min are doc_id-keyed (the one
    exchange the token stream pays); fingerprint dedup per doc is the
    same exchange; the shared-fingerprint table is a fp-hash-keyed
    aggregation joined back hash-keyed. No all-pairs; the fingerprint
    index is ~2/(w+1) of the gram volume by construction."""
    return f"""
    WITH g AS (
      {_winnow_g(d)}
    ),
    wm AS (
      {_winnow_wm("g")}
    ),
    sel AS {D.mat(d)}(
      {_winnow_sel(d)}
    ),
    {_winnow_tail("g", "sel")}"""


def _winnow_g(d: str) -> str:
    """Per gram position: the combined (hash, position) key ``cmb``."""
    h = D.hex2int("substr(md5(gram), 1, 8)", d)
    return f"""SELECT doc_id, pos, ({h}) * {_WIN_HB} + ({_WIN_PB} - pos) AS cmb
      FROM (SELECT doc_id, pos, {_lead_gram(WIN_K)} AS gram
            FROM {_pos_tokens(d)} WINDOW w AS (PARTITION BY doc_id
                                               ORDER BY pos))
      WHERE gram IS NOT NULL"""


def _winnow_wm(g: str) -> str:
    """The window minimum ``m`` of ``cmb`` over a gram relation."""
    return f"""-- every gram position ends a window over the last <= WIN_W grams
      -- (boundary windows at pos < WIN_W are partial — the prefix
      -- convention; the >= k+w-1 sharing guarantee is unaffected, the
      -- selection is a superset of strict-window winnowing)
      SELECT doc_id,
             min(cmb) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN {WIN_W - 1} PRECEDING
                            AND CURRENT ROW) AS m
      FROM {g}"""


def _winnow_sel(d: str) -> str:
    """The selected fingerprints (decoded hash and position) over
    ``wm``."""
    return f"""SELECT DISTINCT doc_id,
             {D.idiv_i('m', str(_WIN_HB), d)} AS fp_h,
             {_WIN_PB} - (m % {_WIN_HB}) AS fp_pos
      FROM wm"""


def _winnow_tail(g: str, sel: str) -> str:
    """Cross-doc shared fingerprint counts and the per-doc report over
    the gram and selection relations."""
    return f"""shared AS (
      SELECT fp_h, cast(count(DISTINCT doc_id) as bigint) AS nd
      FROM {sel} GROUP BY fp_h
    ),
    ng AS (SELECT doc_id, cast(count(*) as bigint) AS n_grams
           FROM {g} GROUP BY doc_id)
    SELECT s.doc_id,
           max(n.n_grams)                 AS n_grams,
           cast(count(*) as bigint)       AS n_fp,
           cast(sum(CASE WHEN sh.nd >= 2 THEN 1 ELSE 0 END) as bigint)
             AS n_shared_fp
    FROM {sel} s
    JOIN shared sh ON sh.fp_h = s.fp_h
    JOIN ng n ON n.doc_id = s.doc_id
    GROUP BY s.doc_id
    """


def _winnow_fp_spark(spark, sf_dir):
    """q_winnow_fingerprints' Spark side (round-6 optimization, guide
    §2.4 "remove shuffles outright" / §5 localCheckpoint): Catalyst
    inlines the template's CTEs, so ``g`` (token explode + 4-gram md5)
    executes 3x — once under each ``sel`` consumer and once under ``ng``
    — and the window-min + DISTINCT behind ``sel`` executes 2x. The
    gram table and the fingerprint selection are each materialized ONCE;
    the tail aggregations read the checkpointed tables."""
    from unmixing_spark import loops, pipeline

    pipeline.register_tables(spark, sf_dir, ("documents",))
    d = D.SPARK
    loops.checkpoint(spark.sql(_winnow_g(d))).createOrReplaceTempView(
        "win_g")
    loops.checkpoint(spark.sql(
        f"WITH wm AS ({_winnow_wm('win_g')}\n) {_winnow_sel(d)}"
    )).createOrReplaceTempView("win_sel")
    return spark.sql(f"WITH {_winnow_tail('win_g', 'win_sel')}")


register("q_winnow_fingerprints", QuerySpec(
    spark_fn=_winnow_fp_spark, oracle=_winnow_fp(D.DUCKDB),
    doc="winnowing (Schleimer et al. 2003): rightmost-min-of-window "
        "gram-hash fingerprints per doc + cross-doc shared counts"))


# ---- writing-system (script) mix ------------------------------------------------

SCRIPT_RANGES = (
    # (name, regex char class) — BMP ranges; order = deterministic
    # dominant-script tie-break (first listed wins at equal counts).
    # Latin-1's two math signs × (U+00D7) and ÷ (U+00F7) sit inside the
    # accented-letter block and are not letters: latin skips them
    ("latin", r"[A-Za-z\x{00C0}-\x{00D6}\x{00D8}-\x{00F6}"
              r"\x{00F8}-\x{024F}]"),
    ("cyrillic", r"[\x{0400}-\x{04FF}]"),
    ("greek", r"[\x{0370}-\x{03FF}]"),
    ("arabic", r"[\x{0600}-\x{06FF}]"),
    ("hebrew", r"[\x{0590}-\x{05FF}]"),
    ("devanagari", r"[\x{0900}-\x{097F}]"),
    ("cjk", r"[\x{4E00}-\x{9FFF}]"),
    ("kana", r"[\x{3040}-\x{30FF}]"),
    ("hangul", r"[\x{AC00}-\x{D7AF}\x{1100}-\x{11FF}]"),
    ("digit", r"[0-9]"),
)


def _script_mix(d: str) -> str:
    """Per-document writing-system mix (the multilingual-corpus report
    Dolma/FineWeb-class pipelines publish next to language ID, and the
    cross-check that catches langid failures: a doc tagged 'en' that is
    90% CJK is mislabeled): per-script character counts from explicit
    BMP codepoint ranges, the dominant script by count (ties broken by
    the fixed range order), and its coverage fraction over counted
    (non-whitespace, non-'other') characters. Script coverage is also
    the practical mojibake detector — encoding damage scatters
    codepoints across ranges and drives dominant-share down.

    Scale shape: one projection-only pass — every count is a
    regexp_count against a literal char-class (JVM/RE2-side, no
    explode, no shuffle; the only exchange is whatever the consumer
    adds). Bit-parity: counts are exact ints from the same regex
    ranges; the one fraction is a ratio of exact ints, round(6)."""
    cols = ",\n           ".join(
        f"cast({D.regexp_count('text', D.rx_lit(rx, d), d)} as bigint) "
        f"AS n_{name}" for name, rx in SCRIPT_RANGES)
    total = " + ".join(f"n_{name}" for name, _ in SCRIPT_RANGES)
    dom_pairs = ", ".join(
        f"(n_{name}, '{name}')" for name, _ in SCRIPT_RANGES)
    # greatest-count argmax with first-listed tie-break: compare each
    # count against the running best via a CASE cascade (fixed, tiny)
    cascade = "'none'"
    best = "cast(0 as bigint)"
    for name, _ in reversed(SCRIPT_RANGES):
        cascade = (f"CASE WHEN n_{name} >= {best} AND n_{name} > 0 "
                   f"THEN '{name}' ELSE {cascade} END")
        best = f"greatest(n_{name}, {best})"
    return f"""
    WITH counted AS (
      SELECT doc_id,
           {cols},
           cast(length(text) as bigint) AS n_chars_total
      FROM documents
    )
    SELECT doc_id,
           {", ".join(f"n_{name}" for name, _ in SCRIPT_RANGES)},
           n_chars_total,
           {cascade} AS dominant_script,
           round(CASE WHEN ({total}) = 0 THEN {D.dbl(0.0)}
                      ELSE cast({best} as double)
                           / cast(({total}) as double) END, 6)
             AS dominant_share
    FROM counted
    """


sql_template("q_script_mix", _script_mix,
             "per-document writing-system mix from explicit BMP "
             "codepoint ranges: per-script counts, dominant script "
             "(fixed tie order), dominant share — the langid cross-check "
             "and practical mojibake detector")


# ---- encoding-damage (mojibake) detection -----------------------------------------

MOJI_MIN_DOUBLE = 2  # >= 2 double-encoding digraphs flags a doc (a single
                     # 'Ã' can be legitimate text; runs of them are not)


def _mojibake(d: str) -> str:
    """Encoding-damage detector — the hygiene pass every Common-Crawl
    pipeline runs before trusting `text`: counts the three classic
    mojibake signatures per document and flags. (1) U+FFFD replacement
    characters = the upstream decoder already gave up; (2) C1 control
    codepoints U+0080-U+009F = cp1252/latin-1 bytes decoded as the wrong
    8-bit map (real text never contains C1); (3) UTF-8-decoded-as-8-bit
    digraphs — a 'Ã'/'Â' (U+00C2/U+00C3) or 'â' (U+00E2) lead followed
    by a continuation-byte image: either the raw C1/latin-1 range
    U+0080-U+00BF (utf-8 read as latin-1) or cp1252's PRINTABLE images
    of bytes 0x80-0x9F (€ ‚ ƒ „ … † ‡ ˆ ‰ Š ‹ Œ Ž ' ' " " • – — ˜ ™ š
    › œ ž Ÿ — utf-8 read as cp1252, where 'â€™' contains no C1 char at
    all; the planted-fixture test caught exactly this gap). Stray C0 controls (outside
    tab/newline/CR) are reported as a fourth count but do not flag
    alone. Flag rule: any replacement char, any C1, or >=
    MOJI_MIN_DOUBLE double-encoding digraphs.

    Scale shape: projection-only regexp_counts against literal classes,
    same as q_script_mix — no explode, no shuffle. Counts exact ints;
    the per-1k-chars rate is one rounded ratio."""
    rx_repl = D.rx_lit(r"\x{FFFD}", d)
    rx_c1 = D.rx_lit(r"[\x{0080}-\x{009F}]", d)
    cp1252_imgs = (r"\x{20AC}\x{201A}\x{0192}\x{201E}\x{2026}\x{2020}"
                   r"\x{2021}\x{02C6}\x{2030}\x{0160}\x{2039}\x{0152}"
                   r"\x{017D}\x{2018}\x{2019}\x{201C}\x{201D}\x{2022}"
                   r"\x{2013}\x{2014}\x{02DC}\x{2122}\x{0161}\x{203A}"
                   r"\x{0153}\x{017E}\x{0178}")
    rx_double = D.rx_lit(
        r"[\x{00C2}\x{00C3}\x{00E2}][\x{0080}-\x{00BF}" + cp1252_imgs + "]",
        d)
    rx_c0 = D.rx_lit(
        r"[\x{0001}-\x{0008}\x{000B}\x{000C}\x{000E}-\x{001F}]", d)
    k = D.dbl(1000.0)
    return f"""
    WITH sig AS (
      SELECT doc_id,
             cast({D.regexp_count('text', rx_repl, d)} as bigint)
               AS n_replacement,
             cast({D.regexp_count('text', rx_c1, d)} as bigint)   AS n_c1,
             cast({D.regexp_count('text', rx_double, d)} as bigint)
               AS n_double_enc,
             cast({D.regexp_count('text', rx_c0, d)} as bigint)
               AS n_c0_control,
             cast(length(text) as bigint) AS n_chars_total
      FROM documents
    )
    SELECT doc_id, n_replacement, n_c1, n_double_enc, n_c0_control,
           n_chars_total,
           round({k} * cast(n_replacement + n_c1 + n_double_enc as double)
                 / cast(greatest(n_chars_total, 1) as double), 6)
             AS moji_per_1k,
           cast(CASE WHEN n_replacement > 0 OR n_c1 > 0
                       OR n_double_enc >= {MOJI_MIN_DOUBLE}
                     THEN 1 ELSE 0 END as int) AS is_mojibake
    FROM sig
    """


sql_template("q_mojibake", _mojibake,
             "encoding-damage detection: U+FFFD, C1 controls, "
             "UTF-8-as-8-bit double-encoding digraphs, stray C0 — "
             "per-doc counts, per-1k rate, flag")


# ---- readability (Flesch) ---------------------------------------------------------


def _readability(d: str) -> str:
    """Flesch Reading Ease per document (Flesch 1948; the readability
    feature quality classifiers and curriculum filters consume):
    206.835 - 1.015*(words/sentences) - 84.6*(syllables/words), with
    the standard vowel-group syllable approximation (a maximal
    [aeiouy]+ run in a lowercased word ~ one syllable; every word
    counts at least one) and terminal-punctuation-run sentence counting
    (at least one sentence per non-empty doc). The score is NOT clamped
    to [0,100] — genuinely degenerate text scoring negative is signal,
    not error (the published scale is open at both ends).

    Scale shape: projection-only — three regexp_counts and one length
    per doc, no explode, no shuffle. Bit-parity: counts exact ints;
    the score is one identically-written IEEE chain over D.dbl
    constants, round(6)."""
    rx_word = D.rx_lit(r"[A-Za-z]+", d)
    rx_syll = D.rx_lit(r"[aeiouy]+", d)
    rx_sent = D.rx_lit(r"[.!?]+", d)
    c0, c1, c2 = D.dbl(206.835), D.dbl(1.015), D.dbl(84.6)
    return f"""
    WITH f AS (
      SELECT doc_id,
             cast({D.regexp_count('text', rx_word, d)} as bigint) AS words,
             cast({D.regexp_count('lower(text)', rx_syll, d)} as bigint)
               AS vowel_groups,
             cast({D.regexp_count('text', rx_sent, d)} as bigint)
               AS sent_marks
      FROM documents
    ),
    n AS (
      SELECT doc_id, words,
             greatest(vowel_groups, words) AS syllables,
             greatest(sent_marks, 1) AS sentences
      FROM f
    )
    SELECT doc_id, words, syllables, sentences,
           round(CASE WHEN words = 0 THEN {D.dbl(0.0)}
                      ELSE {c0}
                           - {c1} * (cast(words as double)
                                     / cast(sentences as double))
                           - {c2} * (cast(syllables as double)
                                     / cast(words as double)) END, 6)
             AS flesch_ease
    FROM n
    """


sql_template("q_readability", _readability,
             "Flesch Reading Ease per document: vowel-group syllable "
             "approximation, terminal-punctuation sentences, unclamped "
             "score from exact integer counts")
