"""Content-extraction + curation operators (task brief; the reference has
no text surface — these serve the LLM-training-pipeline half of the
charter, like text_q/hygiene_q/lines_q):

- q_badwords_filter — C4's NSFW-wordlist document drop (Raffel et al.
  2020 §2.2 drop any page containing a word from a blocklist). The list
  is a declared stand-in (the container ships no public wordlist); the
  MACHINERY is the production shape: the wordlist is a *relation* joined
  (broadcast — it is tiny even at 10^5 entries) against the token
  stream, not an IN-literal compiled into the plan, so swapping in the
  real list is a data change, not a query change.
- q_main_content — jusText-style main-content extraction (Pomikálek
  2011: block-level text/stopword/link-density classification with a
  context-sensitive promotion pass; the same block-density family as
  Boilerpipe, Kohlschütter et al. WSDM 2010). Blocks are groups of
  BLOCK_LINES synthesized lines (the lines_q line view — single-line
  synthetic corpus, same convention documented there) with a planted
  per-block anchor-word count standing in for <a> text. Classification
  is the declared-simplified jusText rule set below; the
  context-sensitive step promotes short/neargood blocks adjacent to a
  context-free GOOD block (one lag/lead pass — jusText's full algorithm
  iterates to the nearest non-short neighbor; declared one-hop
  simplification). Emits the extracted main text's SHA-256 so the
  oracle pins the surviving BYTES.
- q_cluster_keep_best — quality-aware fuzzy-dedup representative
  selection: connected components over the MinHash-LSH candidate graph
  (the exact cc_labels loop of q_neardup_components), but the keeper is
  the LONGEST document per component (FineWeb/RefinedWeb keep-best
  convention; Penedo et al. 2024 keep one representative per cluster)
  instead of min doc_id — tie-broken by doc_id for determinism.

Scale shape (10^12 docs): q_badwords_filter is one doc_id-keyed
aggregation over the token stream with the wordlist broadcast onto it —
map-side combine, no corpus-side shuffle beyond the group-by.
q_main_content is the lines_q shape: one doc_id-keyed window exchange;
blocks, densities, lag/lead and the final per-doc aggregation all share
that partitioning (single exchange end-to-end). q_cluster_keep_best adds
one window over the component-keyed label table (≪ corpus — only docs in
candidate pairs carry labels; the count + row_number windows share one
partitioning).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from unmixing_spark import dialect as D
from unmixing_spark import pipeline
from unmixing_spark.queries import QuerySpec, register, sql_template
from unmixing_spark.queries.lines_q import _lines_cte
from unmixing_spark.queries.text_q import LEXICON

# ---- C4 badword document filter ---------------------------------------------

# Declared stand-in blocklist: 'dup' occurs rarely in the synthetic corpus
# (the drop branch fires on real docs at every sf) and 'crash' never does
# (a list entry with zero hits is exercised — the left join must not
# manufacture rows for it).
BADWORDS = ("dup", "crash")


def _badwords_filter(d: str) -> str:
    from unmixing_spark.queries.text_q import _tokens

    rows = ", ".join(f"('{w}')" for w in BADWORDS)
    return f"""
    WITH bad AS ({D.values_rel(rows, 'b(w)', d)}),
    tk AS (SELECT doc_id, tok FROM {_tokens(d)} tt),
    cnt AS (
      SELECT tk.doc_id,
             cast(count(*) as bigint) AS n_tok,
             cast(sum(CASE WHEN b.w IS NOT NULL THEN 1 ELSE 0 END)
                  as bigint) AS bad_hits
      FROM tk LEFT JOIN bad b ON b.w = tk.tok
      GROUP BY tk.doc_id
    )
    SELECT doc_id, n_tok, bad_hits,
           round(cast(bad_hits as double) / n_tok, 6) AS bad_frac,
           cast(CASE WHEN bad_hits = 0 THEN 1 ELSE 0 END as bigint) AS keep
    FROM cnt
    """


sql_template("q_badwords_filter", _badwords_filter,
             "C4 NSFW-wordlist document filter: blocklist joined "
             "(broadcast) against the token stream, per-doc hit counts "
             "+ keep flag")


# ---- jusText-style main-content extraction -----------------------------------

BLOCK_LINES = 3       # lines per block
MC_LINK_MAX = 0.15    # link density above this → bad (jusText max_link_density)
MC_LEN_LOW = 8        # words below this → short (or bad with no stopwords)
MC_LEN_HIGH = 18      # good needs at least this many words
MC_STOP_HI = 0.30     # stopword density for a (long-enough) good block
MC_STOP_LO = 0.18     # stopword density floor for neargood


def _main_content(d: str) -> str:
    stop = "', '".join(LEXICON["en"] + LEXICON["de"])
    blk_of = D.idiv_i("ln", str(BLOCK_LINES), d)
    seed = (f"{D.to_str('b.doc_id', d)} || ':' || "
            f"{D.to_str('b.blk', d)} || ':lnk'")
    cls0 = f"""CASE
        WHEN link_frac > {D.dbl(MC_LINK_MAX)} THEN 'bad'
        WHEN words < {MC_LEN_LOW} THEN
          CASE WHEN stop_hits = 0 THEN 'bad' ELSE 'short' END
        WHEN stop_frac >= {D.dbl(MC_STOP_HI)} AND words >= {MC_LEN_HIGH}
          THEN 'good'
        WHEN stop_frac >= {D.dbl(MC_STOP_LO)} THEN 'neargood'
        ELSE 'bad' END"""
    w = "PARTITION BY doc_id ORDER BY blk"
    return f"""
    WITH {_lines_cte(d)},
    lblk AS (
      SELECT doc_id, {blk_of} AS blk, ln, n_words, line
      FROM deco
    ),
    tstop AS (
      SELECT doc_id, {D.idiv_i('ln', str(BLOCK_LINES), d)} AS blk,
             cast(sum(CASE WHEN tok IN ('{stop}') THEN 1 ELSE 0 END)
                  as bigint) AS stop_hits
      FROM ltok GROUP BY doc_id, {D.idiv_i('ln', str(BLOCK_LINES), d)}
    ),
    bagg AS (
      SELECT doc_id, blk,
             cast(sum(n_words) as bigint) AS words,
             {D.ordered_string_agg('line', 'ln', "' '", d)} AS btext
      FROM lblk GROUP BY doc_id, blk
    ),
    bseed AS (
      SELECT b.doc_id, b.blk, b.words, b.btext, s.stop_hits,
             {D.md5_slice(seed, 1, d)} AS a
      FROM bagg b JOIN tstop s ON s.doc_id = b.doc_id AND s.blk = b.blk
    ),
    bdens AS (
      SELECT doc_id, blk, words, btext, stop_hits,
             CASE WHEN a % 3 = 0
                  THEN least(1 + {D.idiv_i('a', '3', d)} % 4, words)
                  ELSE 0 END AS link_words
      FROM bseed
    ),
    bfrac AS (
      SELECT doc_id, blk, words, btext, stop_hits, link_words,
             round(cast(link_words as double) / words, 6) AS link_frac,
             round(cast(stop_hits as double) / words, 6) AS stop_frac
      FROM bdens
    ),
    bcls AS (
      SELECT doc_id, blk, words, btext, link_frac, stop_frac,
             {cls0} AS cls0
      FROM bfrac
    ),
    bctx AS (
      SELECT doc_id, blk, words, btext, link_frac, stop_frac, cls0,
             CASE
               WHEN cls0 = 'good' THEN 1
               WHEN cls0 IN ('short', 'neargood')
                    AND (coalesce(lag(cls0) OVER ({w}), '') = 'good'
                         OR coalesce(lead(cls0) OVER ({w}), '') = 'good')
                 THEN 1
               ELSE 0 END AS is_good
      FROM bcls
    ),
    kept AS (
      SELECT doc_id,
             cast(count(*) as bigint) AS good_blocks,
             cast(sum(CASE WHEN cls0 <> 'good' THEN 1 ELSE 0 END)
                  as bigint) AS promoted_blocks,
             cast(sum(words) as bigint) AS content_words,
             {D.sha256_(D.ordered_string_agg('btext', 'blk', 'chr(10)', d), d)}
               AS content_sha
      FROM bctx WHERE is_good = 1 GROUP BY doc_id
    ),
    tot AS (
      SELECT doc_id, cast(count(*) as bigint) AS n_blocks,
             cast(sum(words) as bigint) AS total_words,
             cast(sum(CASE WHEN cls0 = 'bad' THEN 1 ELSE 0 END)
                  as bigint) AS bad_blocks
      FROM bctx GROUP BY doc_id
    )
    SELECT t.doc_id, t.n_blocks, t.bad_blocks,
           cast(coalesce(k.good_blocks, 0) as bigint) AS good_blocks,
           cast(coalesce(k.promoted_blocks, 0) as bigint) AS promoted_blocks,
           cast(coalesce(k.content_words, 0) as bigint) AS content_words,
           round(cast(coalesce(k.content_words, 0) as double)
                 / t.total_words, 6) AS content_frac,
           k.content_sha
    FROM tot t LEFT JOIN kept k ON k.doc_id = t.doc_id
    """


sql_template("q_main_content", _main_content,
             "jusText-style main-content extraction: block text/stopword/"
             "link densities, context-free classification + one-hop "
             "context promotion, SHA-256 of the extracted text")


# ---- quality-aware near-dup representative (keep longest per component) ------

def _cluster_keep_best_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same candidate graph + cc_labels loop as q_neardup_components
    (scale_q.py — adaptive driver-checked fixpoint, raises past the round
    cap), different representative rule: keep the LONGEST doc per
    component (n_chars DESC, doc_id ASC). comp_size and the keeper rank
    share one component-keyed window partitioning — a single exchange
    over the label table, which holds only docs appearing in candidate
    pairs."""
    from pyspark.sql import Window

    from unmixing_spark.queries.scale_q import cc_labels
    from unmixing_spark.queries.text_q import _minhash_lsh

    pipeline.register_tables(spark, sf_dir, ("documents",))
    pairs = spark.sql(_minhash_lsh(D.SPARK)).select("doc_a", "doc_b")
    edges = (pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
             .unionAll(pairs.select(F.col("doc_b").alias("u"),
                                    F.col("doc_a").alias("v"))))
    n, _rounds = cc_labels(edges)
    lbl = n.select(F.col("id").alias("doc_id"), "lbl")
    comp = (spark.table("documents").select("doc_id", "n_chars")
            .join(lbl, "doc_id", "left")
            .select("doc_id", "n_chars",
                    F.coalesce("lbl", F.col("doc_id")).alias("component")))
    part = Window.partitionBy("component")
    rank_w = part.orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return comp.select(
        "doc_id", "component", "n_chars",
        F.count("*").over(part).cast("bigint").alias("comp_size"),
        F.when(F.row_number().over(rank_w) == 1, 1).otherwise(0)
        .cast("bigint").alias("keep"))


def _cluster_keep_best_oracle() -> str:
    from unmixing_spark.queries.scale_q import _cc_core_ctes

    ctes, last = _cc_core_ctes()
    return f"""
    WITH {ctes},
    comp AS MATERIALIZED (
      SELECT dd.doc_id, dd.n_chars,
             coalesce(l.lbl, dd.doc_id) AS component
      FROM documents dd LEFT JOIN {last} l ON l.id = dd.doc_id
    )
    SELECT doc_id, component, n_chars,
           cast(count(*) OVER (PARTITION BY component) as bigint)
             AS comp_size,
           cast(CASE WHEN row_number() OVER (
                  PARTITION BY component
                  ORDER BY n_chars DESC, doc_id) = 1
                THEN 1 ELSE 0 END as bigint) AS keep
    FROM comp
    """


def _register_cluster_keep_best() -> None:
    register("q_cluster_keep_best", QuerySpec(
        spark_fn=_cluster_keep_best_spark, oracle=_cluster_keep_best_oracle(),
        doc="fuzzy-dedup representative selection: connected components "
            "over LSH candidate pairs, keeper = longest doc per component "
            "(FineWeb keep-best convention) via one component-keyed window"))


_register_cluster_keep_best()
