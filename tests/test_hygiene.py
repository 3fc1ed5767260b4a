"""Corpus-hygiene operators (hygiene_q.py) vs independent Python brute
force. Dialect parity alone can't catch a wrong metric shared by both
renderings — these pins compute the expected values a third way."""

from __future__ import annotations

import re

import pandas as pd

from tests.conftest import SF_SMALL
from unmixing_spark.queries import registry


def _docs():
    return pd.read_parquet(f"{SF_SMALL}/documents.parquet")


def test_duplicated_spans_match_brute_force(spark):
    from unmixing_spark.queries.hygiene_q import SPAN_K

    out = (registry()["q_duplicated_spans"].spark_fn(spark, SF_SMALL)
           .toPandas())
    docs = _docs()
    counts: dict[str, int] = {}
    per_doc_pos: dict[int, list[tuple[int, str]]] = {}
    for _, row in docs.iterrows():
        toks = re.split(r"\s+", row["text"])
        gp = [(i + 1, " ".join(toks[i:i + SPAN_K]))
              for i in range(len(toks) - SPAN_K + 1)]
        per_doc_pos[row["doc_id"]] = gp
        for _, g in gp:
            counts[g] = counts.get(g, 0) + 1
    expect: set[tuple[int, int, int, int]] = set()
    for doc_id, gp in per_doc_pos.items():
        hit_pos = [p for p, g in gp if counts[g] >= 2]
        if not hit_pos:
            continue
        # merge intervals [p, p + K - 1] when the next start is <= K away
        start, prev, n = hit_pos[0], hit_pos[0], 1
        for p in hit_pos[1:]:
            if p - prev > SPAN_K:
                expect.add((doc_id, start, prev + SPAN_K - start, n))
                start, n = p, 0
            prev = p
            n += 1
        expect.add((doc_id, start, prev + SPAN_K - start, n))
    got = {(int(r["doc_id"]), int(r["span_start"]), int(r["span_len"]),
            int(r["n_dup_grams"])) for _, r in out.iterrows()}
    assert expect, "corpus must exercise the duplicated-span branch"
    assert got == expect
    # spans are maximal: every span is >= K tokens and merged spans exist
    assert (out["span_len"] >= SPAN_K).all()
    assert (out["span_len"] > SPAN_K).any()


PLANTED = [
    "contact me at jane.doe+spam@Example-Mail.co.uk for details",
    "server at 192.168.0.1 and 10.0.0.255 went down",
    "call (555) 123-4567 or 555.987.6543 today",
    "mixed: bob@host.org, 8.8.8.8, 212-555-0198 together",
    "no pii here at all",
    "tricky email-ish a@b.c and short 1.2.3 non-ip",
]


def test_pii_redact_planted_fixture(spark, tmp_path):
    """Byte-exact redaction parity three ways: Spark == DuckDB == Python
    re, on a fixture with planted emails/IPs/phones."""
    import duckdb

    from tests.oracle_harness import compare
    from unmixing_spark.queries.hygiene_q import (PII_EMAIL_RX, PII_IPV4_RX,
                                                  PII_PHONE_RX)

    docs = _docs().head(len(PLANTED)).copy()
    docs["text"] = PLANTED
    docs["n_chars"] = docs["text"].str.len()
    sf_dir = str(tmp_path)
    docs.to_parquet(f"{sf_dir}/documents.parquet", index=False)

    spec = registry()["q_pii_redact"]
    sdf = spec.spark_fn(spark, sf_dir).toPandas()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{sf_dir}/documents.parquet')")
    ddf = con.sql(spec.oracle).df()
    assert not compare(sdf, ddf)

    import hashlib
    sdf = sdf.sort_values("doc_id").reset_index(drop=True)
    for i, text in enumerate(PLANTED):
        red = re.sub(PII_EMAIL_RX, "[EMAIL]", text)
        red = re.sub(PII_IPV4_RX, "[IP]", red)
        red = re.sub(PII_PHONE_RX, "[PHONE]", red)
        row = sdf.iloc[i]
        assert int(row["n_emails"]) == len(re.findall(PII_EMAIL_RX, text))
        assert int(row["n_ips"]) == len(re.findall(PII_IPV4_RX, text))
        assert int(row["n_phones"]) == len(re.findall(PII_PHONE_RX, text))
        assert row["redacted_sha"] == hashlib.sha256(red.encode()).hexdigest()
        assert int(row["redacted_len"]) == len(red)
    # fixture must exercise every pattern
    assert sdf["n_emails"].sum() >= 2
    assert sdf["n_ips"].sum() >= 3
    assert sdf["n_phones"].sum() >= 3
    assert (sdf["n_emails"] + sdf["n_ips"] + sdf["n_phones"] == 0).any()


def test_canonical_url_pinned_variants(spark):
    """One pinned expectation per synthesized mess variant."""
    out = (registry()["q_canonical_url"].spark_fn(spark, SF_SMALL)
           .toPandas().set_index("doc_id"))
    docs = _docs().set_index("doc_id")
    for doc_id in list(docs.index[:25]):
        src, lang = docs.loc[doc_id, "source"], docs.loc[doc_id, "lang"]
        got = out.loc[doc_id]
        v = doc_id % 5
        if v == 0:
            assert got["canon_url"] == \
                f"https://{src}.example.com/{lang}/p{doc_id}"
            assert got["registered_domain"] == "example.com"
        elif v == 1:  # case + default port + fragment all stripped
            assert got["canon_url"] == \
                f"https://{src}.example.com/{lang}/p{doc_id}"
        elif v == 2:  # www stripped, query sorted
            assert got["canon_url"] == \
                f"https://{src}.example.com/{lang}/p{doc_id}?a=1&b=2&utm=x"
        elif v == 3:  # http default port stripped, scheme preserved
            assert got["canon_url"] == \
                f"http://{src}.example.com/{lang}/p{doc_id}?a=1&b=2"
        else:  # two-level public suffix -> three-label registered domain
            assert got["host"] == f"{src}.example.co.uk"
            assert got["registered_domain"] == "example.co.uk"
    # canonicalization must collapse distinct raw URLs (variants 0/1 of
    # the same source/lang/path would collide across docs only by id —
    # instead check the per-row invariant: canon never contains '#',
    # never an explicit default port, never a www. host)
    assert not out["canon_url"].str.contains("#").any()
    assert not out["canon_url"].str.contains(":443|:80").any()
    assert not out["host"].str.startswith("www.").any()


def test_domain_quota_matches_brute_force(spark):
    import hashlib

    from unmixing_spark.queries.hygiene_q import DOMAIN_QUOTA

    out = (registry()["q_domain_quota"].spark_fn(spark, SF_SMALL)
           .toPandas())
    canon = (registry()["q_canonical_url"].spark_fn(spark, SF_SMALL)
             .toPandas())

    def rank(doc_id: int):
        return (int(hashlib.md5(str(doc_id).encode()).hexdigest()[:8], 16),
                doc_id)

    canon["rank"] = [rank(i) for i in canon["doc_id"]]
    expect = (canon.sort_values("rank").groupby("registered_domain")
              .head(DOMAIN_QUOTA))
    assert set(out["doc_id"]) == set(expect["doc_id"])
    assert (out.groupby("registered_domain")["doc_id"].count()
            <= DOMAIN_QUOTA).all()


def test_lm_perplexity_matches_brute_force(spark):
    import math

    from unmixing_spark.queries.hygiene_q import LM_ALPHA, LM_REF_MOD

    out = (registry()["q_lm_perplexity"].spark_fn(spark, SF_SMALL)
           .toPandas().set_index("doc_id").sort_index())
    docs = _docs()
    bigrams: dict[int, list[tuple[str, str]]] = {}
    for _, row in docs.iterrows():
        toks = re.split(r"\s+", row["text"])
        bigrams[row["doc_id"]] = list(zip(toks, toks[1:]))
    refc: dict[tuple[str, str], int] = {}
    uni: dict[str, int] = {}
    vocab: set[str] = set()
    for did, bg in bigrams.items():
        if did % LM_REF_MOD == 0:
            vocab.update(re.split(r"\s+", docs.set_index("doc_id")
                                  .loc[did, "text"]))
            for p in bg:
                refc[p] = refc.get(p, 0) + 1
                uni[p[0]] = uni.get(p[0], 0) + 1
    v = len(vocab)
    assert len(out) == sum(1 for bg in bigrams.values() if bg)
    for did, bg in bigrams.items():
        if not bg:
            continue
        lls = [math.log(refc.get(p, 0) + LM_ALPHA)
               - math.log(uni.get(p[0], 0) + LM_ALPHA * v) for p in bg]
        avg = round(sum(lls) / len(lls), 6)
        got = out.loc[did]
        assert int(got["n_bigrams"]) == len(bg)
        assert abs(got["avg_ll"] - avg) < 1e-9, did
        assert abs(got["ppl"] - round(math.exp(-avg), 4)) < 1e-9, did
    # the filter separates: reference-slice docs must score no worse on
    # average than the corpus at large (they ARE the training text)
    ref_ppl = out.loc[[d for d in out.index if d % LM_REF_MOD == 0], "ppl"]
    other_ppl = out.loc[[d for d in out.index if d % LM_REF_MOD != 0], "ppl"]
    assert ref_ppl.mean() <= other_ppl.mean() * 1.05


def test_corpus_keep_consistent_with_component_queries(spark):
    """keep must be the exact conjunction of the standalone filters —
    each of which has its own brute-force pin — so divergence between
    the composite and any component is a failure here."""
    from unmixing_spark.queries.hygiene_q import PPL_MAX
    from unmixing_spark.queries.text_q import DECON_EVAL_MOD

    keep = (registry()["q_corpus_keep"].spark_fn(spark, SF_SMALL)
            .toPandas().set_index("doc_id").sort_index())
    exact = (registry()["q_dedup_exact"].spark_fn(spark, SF_SMALL)
             .toPandas())
    keepers = set(exact["keeper"])
    pairs = (registry()["q_minhash_lsh_pairs"].spark_fn(spark, SF_SMALL)
             .toPandas())
    near_dropped = set(pairs.loc[pairs["shared_bands"] >= 2, "doc_b"])
    decon = (registry()["q_decontaminate"].spark_fn(spark, SF_SMALL)
             .toPandas().set_index("doc_id"))
    lm = (registry()["q_lm_perplexity"].spark_fn(spark, SF_SMALL)
          .toPandas().set_index("doc_id"))
    docs = _docs()
    assert len(keep) == len(docs)
    dup_groups = docs.groupby(docs["text"].map(hash))["doc_id"].min()
    for did, row in keep.iterrows():
        is_eval = did % DECON_EVAL_MOD == 0
        assert row["is_exact_dup"] == (0 if did in keepers else 1), did
        assert row["is_near_dup"] == (1 if did in near_dropped else 0), did
        assert row["is_eval"] == (1 if is_eval else 0), did
        contaminated = (not is_eval and did in decon.index
                        and decon.loc[did, "contaminated"] == 1)
        assert row["contaminated"] == (1 if contaminated else 0), did
        high = lm.loc[did, "ppl"] > PPL_MAX if did in lm.index else True
        assert row["high_ppl"] == (1 if high else 0), did
        expect_keep = int(row[["is_exact_dup", "is_near_dup", "is_eval",
                               "contaminated", "high_ppl"]].sum() == 0)
        assert row["keep"] == expect_keep, did
    # the decision is non-trivial in both directions on this corpus
    assert 0 < keep["keep"].sum() < len(keep)


def test_dsir_weights_match_brute_force(spark):
    import hashlib
    import math

    from unmixing_spark.queries.hygiene_q import DSIR_B, LM_REF_MOD

    out = (registry()["q_dsir_weights"].spark_fn(spark, SF_SMALL)
           .toPandas().set_index("doc_id").sort_index())
    docs = _docs()
    per_doc: dict[int, list[int]] = {}
    tgt: dict[int, int] = {}
    raw: dict[int, int] = {}
    for _, row in docs.iterrows():
        toks = re.split(r"\s+", row["text"])
        bs = [int(hashlib.md5(f"{a} {b}".encode()).hexdigest()[:8], 16)
              % DSIR_B for a, b in zip(toks, toks[1:])]
        per_doc[row["doc_id"]] = bs
        model = tgt if row["doc_id"] % LM_REF_MOD == 0 else raw
        for b in bs:
            model[b] = model.get(b, 0) + 1
    tt, rt = sum(tgt.values()), sum(raw.values())
    ref_avg, other_avg = [], []
    for doc_id, bs in per_doc.items():
        lw = sum(math.log(tgt.get(b, 0) + 1) - math.log(tt + DSIR_B)
                 - math.log(raw.get(b, 0) + 1) + math.log(rt + DSIR_B)
                 for b in bs)
        got = out.loc[doc_id]
        assert int(got["n_bigrams"]) == len(bs)
        assert abs(float(got["log_weight"]) - round(lw, 6)) < 1e-5
        avg = lw / len(bs)
        assert abs(float(got["avg_log_weight"]) - round(avg, 6)) < 1e-5
        (ref_avg if doc_id % LM_REF_MOD == 0 else other_avg).append(avg)
    # separation property: the target model was counted over the
    # reference slice, so reference docs must score higher on average
    assert (sum(ref_avg) / len(ref_avg)
            > sum(other_avg) / len(other_avg))


def test_url_blocklist_matches_brute_force(spark):
    from unmixing_spark.queries.hygiene_q import URL_BLOCKLIST

    out = (registry()["q_url_blocklist"].spark_fn(spark, SF_SMALL)
           .toPandas().set_index("doc_id").sort_index())
    canon = (registry()["q_canonical_url"].spark_fn(spark, SF_SMALL)
             .toPandas().set_index("doc_id").sort_index())
    blocked = clean = 0
    cats = set()
    for doc_id, row in canon.iterrows():
        match = None
        for rid, kind, pat, cat in sorted(URL_BLOCKLIST):
            hit = ((kind == "host" and row["host"] == pat)
                   or (kind == "domain"
                       and row["registered_domain"] == pat)
                   or (kind == "path" and pat in row["canon_url"]))
            if hit:
                match = (rid, pat, cat)
                break
        got = out.loc[doc_id]
        assert got["host"] == row["host"]
        assert got["registered_domain"] == row["registered_domain"]
        if match is None:
            clean += 1
            assert int(got["blocked"]) == 0
            assert pd.isna(got["category"])
        else:
            blocked += 1
            cats.add(match[2])
            assert int(got["blocked"]) == 1
            assert got["category"] == match[2]
            assert got["matched_pattern"] == match[1]
    # the declared rules must fire across multiple categories AND leave
    # a clean majority
    assert len(cats) >= 3, cats
    assert blocked > 0 and clean > blocked, (blocked, clean)


def _rnd(x: float, k: int) -> float:
    """SQL-style half-away-from-zero rounding."""
    import math
    s = 10 ** k
    return (math.floor(x * s + 0.5) / s if x >= 0
            else -math.floor(-x * s + 0.5) / s)


def test_source_mix_matches_brute_force(spark):
    import math

    from unmixing_spark.queries.hygiene_q import MIX_ALPHA, MIX_EPOCH_CAP

    out = (registry()["q_source_mix"].spark_fn(spark, SF_SMALL)
           .toPandas().set_index("lang").sort_index())
    docs = _docs()
    per_lang: dict[str, list[int]] = {}
    for _, row in docs.iterrows():
        per_lang.setdefault(row["lang"], []).append(
            len(re.split(r"\s+", row["text"])))
    wt = {g: _rnd(math.exp(MIX_ALPHA * math.log(sum(t))), 6)
          for g, t in per_lang.items()}
    sw = sum(wt.values())
    st = sum(sum(t) for t in per_lang.values())
    assert set(out.index) == set(per_lang)
    for g, t in per_lang.items():
        got = out.loc[g]
        n_toks = sum(t)
        p_mix = _rnd(wt[g] / sw, 6)
        assert int(got["n_docs"]) == len(t)
        assert int(got["n_toks"]) == n_toks
        assert abs(got["wt"] - wt[g]) < 1e-9
        assert abs(got["p_raw"] - _rnd(n_toks / st, 6)) < 1e-9
        assert abs(got["p_mix"] - p_mix) < 1e-9
        assert int(got["target_toks"]) == int(math.floor(p_mix * st + 0.5))
        epochs = p_mix * st / n_toks
        assert abs(got["epochs"] - _rnd(epochs, 6)) < 1e-9
        assert int(got["over_epoch_cap"]) == (1 if epochs > MIX_EPOCH_CAP
                                              else 0)
    # temperature semantics: the dominant language is down-weighted,
    # every minority language is up-weighted (p_mix between p_raw and
    # uniform), and the budget is conserved up to per-lang rounding
    big = out["p_raw"].idxmax()
    assert out.loc[big, "p_mix"] < out.loc[big, "p_raw"]
    small = out[out.index != big]
    assert (small["p_mix"] > small["p_raw"]).all()
    assert abs(int(out["target_toks"].sum()) - st) <= len(out)


def test_mix_rebalance_matches_brute_force(spark):
    import hashlib
    import math

    from unmixing_spark.queries.hygiene_q import MIX_TIER_DEFAULT, MIX_TIERS

    out = (registry()["q_mix_rebalance"].spark_fn(spark, SF_SMALL)
           .toPandas().set_index("doc_id").sort_index())
    docs = _docs()

    def tier_wt(source: str) -> float:
        idx = int(source[3:])
        for hi, w in MIX_TIERS:
            if idx < hi:
                return w
        return MIX_TIER_DEFAULT

    toks = {int(r["doc_id"]): len(re.split(r"\s+", r["text"]))
            for _, r in docs.iterrows()}
    src_of = {int(r["doc_id"]): r["source"] for _, r in docs.iterrows()}
    src_toks: dict[str, int] = {}
    for did, s in src_of.items():
        src_toks[s] = src_toks.get(s, 0) + toks[did]
    sw = sum(tier_wt(s) for s in src_toks)
    st = sum(src_toks.values())
    rate = {s: _rnd((tier_wt(s) / sw) * st / src_toks[s], 6)
            for s in src_toks}
    repeats: dict[int, int] = {}
    for did, s in src_of.items():
        u = int(hashlib.md5(str(did).encode()).hexdigest()[:8], 16) / 2**32
        r = rate[s]
        repeats[did] = int(math.floor(r)) + (1 if u < r - math.floor(r)
                                             else 0)
    out_toks = {s: 0 for s in src_toks}
    for did, s in src_of.items():
        out_toks[s] += toks[did] * repeats[did]
    ot = sum(out_toks.values())

    assert set(out.index) == set(toks)
    for did in toks:
        got = out.loc[did]
        s = src_of[did]
        assert got["source"] == s
        assert int(got["n_toks"]) == toks[did]
        assert abs(got["target_share"] - _rnd(tier_wt(s) / sw, 6)) < 1e-9
        assert abs(got["natural_share"] - _rnd(src_toks[s] / st, 6)) < 1e-9
        assert abs(got["rate"] - rate[s]) < 1e-9
        assert int(got["repeats"]) == repeats[did]
        assert abs(got["achieved_share"] - _rnd(out_toks[s] / ot, 6)) < 1e-9
    # recipe semantics: tier-4 sources are upsampled past their natural
    # share, tier-1 web sources downsampled below it; the realized mix
    # lands within 3 sigma of the target per source (stochastic rounding
    # flips are independent Bernoullis, var <= sum tok_i^2 / 4)
    per_src = out.groupby("source").first()
    hi = per_src[[s.startswith("src") and int(s[3:]) < 5
                  for s in per_src.index]]
    lo = per_src[[int(s[3:]) >= 10 for s in per_src.index]]
    assert (hi["target_share"] > hi["natural_share"]).all()
    assert (lo["target_share"] < lo["natural_share"]).all()
    assert (hi["rate"] > 1.0).all() and (lo["rate"] < 1.0).all()
    for s in src_toks:
        drift = abs(out_toks[s] - (tier_wt(s) / sw) * st)
        sigma = 0.5 * math.sqrt(sum(toks[d] ** 2 for d in toks
                                    if src_of[d] == s))
        assert drift <= 3 * sigma, (s, drift, sigma)


def test_kanon_release_matches_brute_force(spark):
    from unmixing_spark.queries.hygiene_q import K_ANON

    out = (registry()["q_kanon_release"].spark_fn(spark, SF_SMALL)
           .toPandas())
    docs = _docs()
    cells: dict[tuple[str, str], list[int]] = {}
    for _, r in docs.iterrows():
        cells.setdefault((r["lang"], r["source"]), []).append(
            int(r["n_chars"]))
    expect: set[tuple[str, str, int, int, int]] = set()
    pool1: dict[str, tuple[int, int]] = {}
    for (lang, src), chars in cells.items():
        if len(chars) >= K_ANON:
            expect.add((lang, src, len(chars), sum(chars), 0))
        else:
            n, c = pool1.get(lang, (0, 0))
            pool1[lang] = (n + len(chars), c + sum(chars))
    pool2 = (0, 0)
    for lang, (n, c) in pool1.items():
        if n >= K_ANON:
            expect.add((lang, "*", n, c, 1))
        else:
            pool2 = (pool2[0] + n, pool2[1] + c)
    if pool2[0] >= K_ANON:
        expect.add(("*", "*", pool2[0], pool2[1], 2))

    got = {(r["lang"], r["source"], int(r["n_docs"]),
            int(r["n_chars_sum"]), int(r["anonymity_level"]))
           for _, r in out.iterrows()}
    assert got == expect
    # the in-query proof must hold and agree with an external check
    assert (out["kanon_ok"] == 1).all()
    assert int(out["n_docs"].min()) >= K_ANON
    # fixture shape: all three behaviours exercised — exact cells,
    # generalized rows, and a nonzero suppressed remainder accounted for
    levels = set(out["anonymity_level"])
    assert 0 in levels and len(levels) >= 2, levels
    published = int(out["n_docs"].sum())
    suppressed = len(docs) - published
    assert 0 <= suppressed < K_ANON
    if suppressed:
        assert 2 not in levels  # suppression only ever hits the residual


class _PyExtractor:
    """Independent third-way HTML extractor: a real event-driven parse
    (html.parser with convert_charrefs) instead of the query's regex
    pipeline — skips head/script/style subtrees and comments, decodes
    entities natively."""

    def __init__(self) -> None:
        from html.parser import HTMLParser

        outer = self

        class P(HTMLParser):
            def __init__(self) -> None:
                super().__init__(convert_charrefs=True)
                self.skip = 0

            def handle_starttag(self, tag, attrs):
                if tag in ("head", "script", "style"):
                    self.skip += 1

            def handle_endtag(self, tag):
                if tag in ("head", "script", "style"):
                    self.skip = max(0, self.skip - 1)

            def handle_data(self, data):
                if not self.skip:
                    outer.parts.append(data)

        self.parts: list[str] = []
        self._p = P()

    def extract(self, html: str) -> str:
        self.parts = []
        self._p.feed(html)
        self._p.close()
        # \xa0: html.parser decodes &nbsp; to U+00A0; the SQL extractor
        # (like C4) folds it into plain whitespace
        return " ".join(
            t for t in re.split(r"[\s\xa0]+", "".join(self.parts)) if t)


def test_html_extract_matches_independent_parser(spark):
    import hashlib

    from unmixing_spark.queries.hygiene_q import (HTML_SALT_ENC,
                                                  HTML_SALT_PLAIN)

    out = (registry()["q_html_extract"].spark_fn(spark, SF_SMALL)
           .toPandas().set_index("doc_id").sort_index())
    docs = _docs()
    assert (out["roundtrip"] == 1).all()
    for _, row in docs.iterrows():
        text = row["text"]
        html = "\n".join([
            '<html><head><title>t</title>',
            '<style>p { color: red; }</style>',
            '<script type="text/javascript">var x = 1 < 2; // </b>',
            '</script></head>',
            '<body><!-- comment with <tags> & entities --> ',
            f'  <p id="salt">{HTML_SALT_ENC}</p>',
            f'  <p>{text}</p>',
            '</body></html>'])
        expected = HTML_SALT_PLAIN + " " + text
        extracted = _PyExtractor().extract(html)
        assert extracted == expected, row["doc_id"]
        got = out.loc[row["doc_id"]]
        sha = hashlib.sha256(extracted.encode()).hexdigest()
        assert got["extracted_sha"] == sha
        assert int(got["extracted_len"]) == len(expected)
        assert int(got["html_bytes"]) == len(html.encode())


def test_ppl_buckets_match_brute_force(spark):
    import math

    from unmixing_spark.queries.hygiene_q import (LM_ALPHA, LM_REF_MOD,
                                                  PPL_FALLBACK)

    out = (registry()["q_ppl_buckets"].spark_fn(spark, SF_SMALL)
           .toPandas().set_index("doc_id").sort_index())
    docs = _docs()
    bigrams: dict[int, list[tuple[str, str]]] = {}
    lang: dict[int, str] = {}
    for _, row in docs.iterrows():
        toks = re.split(r"\s+", row["text"])
        bigrams[row["doc_id"]] = list(zip(toks, toks[1:]))
        lang[row["doc_id"]] = row["lang"]
    refc: dict[tuple[str, str], int] = {}
    uni: dict[str, int] = {}
    vocab: set[str] = set()
    for did, bg in bigrams.items():
        if did % LM_REF_MOD == 0:
            vocab.update(re.split(r"\s+", docs.set_index("doc_id")
                                  .loc[did, "text"]))
            for p in bg:
                refc[p] = refc.get(p, 0) + 1
                uni[p[0]] = uni.get(p[0], 0) + 1
    v = len(vocab)
    ppl: dict[int, float] = {}
    for did, bg in bigrams.items():
        if not bg:
            ppl[did] = PPL_FALLBACK
            continue
        lls = [math.log(refc.get(p, 0) + LM_ALPHA)
               - math.log(uni.get(p[0], 0) + LM_ALPHA * v) for p in bg]
        ppl[did] = round(math.exp(-round(sum(lls) / len(lls), 6)), 4)
    # ntile(3): first n % 3 buckets get the extra row
    expect: dict[int, int] = {}
    for g in set(lang.values()):
        members = sorted((ppl[d], d) for d in lang if lang[d] == g)
        n = len(members)
        base, extra = divmod(n, 3)
        sizes = [base + (1 if i < extra else 0) for i in range(3)]
        i = 0
        for t, sz in enumerate(sizes, start=1):
            for _ in range(sz):
                expect[members[i][1]] = t
                i += 1
    assert set(out.index) == set(expect)
    labels = {1: "head", 2: "middle", 3: "tail"}
    for did in expect:
        got = out.loc[did]
        assert got["lang"] == lang[did]
        assert abs(got["ppl"] - ppl[did]) < 1e-9, did
        assert int(got["tercile"]) == expect[did], did
        assert got["bucket"] == labels[expect[did]], did
    # semantics: within every language head scores strictly better than
    # tail on average
    for g in set(lang.values()):
        rows = out[out["lang"] == g]
        assert (rows[rows["bucket"] == "head"]["ppl"].mean()
                < rows[rows["bucket"] == "tail"]["ppl"].mean()), g


def test_meta_robots_matches_brute_force(spark):
    import hashlib

    out = (registry()["q_meta_robots"].spark_fn(spark, SF_SMALL)
           .toPandas().set_index("doc_id").sort_index())
    docs = _docs()
    seen = {"noindex": 0, "nofollow": 0, "clean": 0, "reversed": 0}
    for _, row in docs.iterrows():
        did = int(row["doc_id"])
        h = int(hashlib.md5(f"r{did}".encode()).hexdigest()[:8], 16)
        content = {0: "noindex", 1: "noindex, nofollow", 2: "nofollow",
                   3: "NOINDEX"}.get(h % 10, "index, follow")
        if h % 2 == 0:
            meta = f'<meta name="robots" content="{content}">'
        else:
            meta = f'<meta content="{content}" name="robots">'
            seen["reversed"] += 1
        html = (f'<html><head>{meta}<meta charset="utf-8"></head>'
                f'<body><p>{row["text"]}</p></body></html>')
        m = (re.search(r'(?i)<meta[^>]*name="robots"[^>]*content="([^"]*)"',
                       html)
             or re.search(r'(?i)<meta[^>]*content="([^"]*)"[^>]*name="robots"',
                          html))
        robots = m.group(1) if m else ""
        assert robots == content, did   # extraction is lossless
        noindex = 1 if "noindex" in robots.lower() else 0
        nofollow = 1 if "nofollow" in robots.lower() else 0
        got = out.loc[did]
        assert got["robots"] == robots, did
        assert int(got["noindex"]) == noindex
        assert int(got["nofollow"]) == nofollow
        assert int(got["keep"]) == 1 - noindex
        seen["noindex" if noindex else "clean"] += 1
        seen["nofollow"] += nofollow
    # the plant exercises every branch: directives in both orders,
    # both flags, and a kept majority
    assert all(v > 0 for v in seen.values()), seen
    assert seen["clean"] > seen["noindex"]


def test_span_scrub_matches_brute_force(spark):
    """The removal half of Lee et al.: Python recomputes the covered
    intervals, scrubs, and re-hashes — byte-exact agreement, with both
    the partially- and fully-scrubbed branches exercised."""
    import hashlib

    from unmixing_spark.queries.hygiene_q import SPAN_K

    out = (registry()["q_span_scrub"].spark_fn(spark, SF_SMALL)
           .toPandas().set_index("doc_id"))
    docs = _docs()
    counts: dict[str, int] = {}
    toks_by_doc: dict[int, list[str]] = {}
    for _, row in docs.iterrows():
        toks = re.split(r"\s+", row["text"])
        toks_by_doc[row["doc_id"]] = toks
        for i in range(len(toks) - SPAN_K + 1):
            g = " ".join(toks[i:i + SPAN_K])
            counts[g] = counts.get(g, 0) + 1
    saw_partial = saw_empty = False
    for doc_id, toks in toks_by_doc.items():
        covered = set()
        for i in range(len(toks) - SPAN_K + 1):
            if counts[" ".join(toks[i:i + SPAN_K])] >= 2:
                covered.update(range(i, i + SPAN_K))
        kept = [t for i, t in enumerate(toks) if i not in covered]
        r = out.loc[doc_id]
        assert int(r["n_tok"]) == len(toks)
        assert int(r["kept_tokens"]) == len(kept)
        assert int(r["removed_tokens"]) == len(covered)
        assert r["scrubbed_sha"] == hashlib.sha256(
            " ".join(kept).encode()).hexdigest()
        saw_partial |= 0 < len(covered) < len(toks)
        saw_empty |= len(covered) == len(toks) > 0
    assert saw_partial and saw_empty


def test_kn_bigram_lm_matches_brute_force(spark):
    """Interpolated Kneser-Ney per-doc scores equal a plain-Python
    rebuild using the exact integer-ratio probability, and the filter
    separates the reference slice."""
    import math

    from unmixing_spark.queries.hygiene_q import KN_D4, LM_REF_MOD

    out = (registry()["q_kn_bigram_lm"].spark_fn(spark, SF_SMALL)
           .toPandas().set_index("doc_id").sort_index())
    docs = _docs()
    bigrams: dict[int, list[tuple[str, str]]] = {}
    for _, row in docs.iterrows():
        toks = re.split(r"\s+", row["text"])
        bigrams[row["doc_id"]] = list(zip(toks, toks[1:]))
    refc: dict[tuple[str, str], int] = {}
    vocab: set[str] = set()
    for did, bg in bigrams.items():
        if did % LM_REF_MOD == 0:
            vocab.update(re.split(r"\s+", docs.set_index("doc_id")
                                  .loc[did, "text"]))
            for p in bg:
                refc[p] = refc.get(p, 0) + 1
    c1: dict[str, int] = {}
    n1w: dict[str, int] = {}
    n2: dict[str, int] = {}
    for (w1, w2), c in refc.items():
        c1[w1] = c1.get(w1, 0) + c
        n1w[w1] = n1w.get(w1, 0) + 1
        n2[w2] = n2.get(w2, 0) + 1
    t = len(refc)
    v = len(vocab)
    for did, bg in bigrams.items():
        if not bg:
            continue
        lls = []
        for w1, w2 in bg:
            if c1.get(w1, 0) > 0:
                num = (max(4 * refc.get((w1, w2), 0) - KN_D4, 0) * (t + v)
                       + KN_D4 * n1w[w1] * (n2.get(w2, 0) + 1))
                den = 4 * c1[w1] * (t + v)
            else:
                num = n2.get(w2, 0) + 1
                den = t + v
            lls.append(math.log(num) - math.log(den))
        avg = round(sum(lls) / len(lls), 6)
        got = out.loc[did]
        assert int(got["n_bigrams"]) == len(bg)
        assert abs(got["avg_ll"] - avg) < 1e-9, did
        assert abs(got["ppl"] - round(math.exp(-avg), 4)) < 1e-9, did
        # every probability is a proper probability (num <= den)
    # separation: the reference slice scores better under its own LM
    ref_ppl = out.loc[[d for d in out.index if d % LM_REF_MOD == 0], "ppl"]
    other = out.loc[[d for d in out.index if d % LM_REF_MOD != 0], "ppl"]
    assert ref_ppl.mean() < other.mean()


def test_epoch_shuffle_matches_brute_force(spark):
    import hashlib as _hl

    from unmixing_spark.queries.hygiene_q import SHUF_EPOCHS, SHUF_SHARDS

    docs = pd.read_parquet(f"{SF_SMALL}/documents.parquet")
    urls = [(int(r.doc_id),
             f"https://{r.source}.example.com/{r.lang}/{r.doc_id}")
            for r in docs.itertuples()]
    n = len(urls)

    expect = {}
    orders = {}
    for e in range(SHUF_EPOCHS):
        ranked = sorted(
            urls, key=lambda t: (_hl.md5(f"ep{e}:{t[1]}".encode())
                                 .hexdigest(), t[1]))
        orders[e] = [doc_id for doc_id, _ in ranked]
        shards: dict[int, list[tuple[int, int]]] = {}
        for pos0, (doc_id, _) in enumerate(ranked):
            shards.setdefault(pos0 * SHUF_SHARDS // n, []).append(
                (pos0 + 1, doc_id))
        for sh, rows in shards.items():
            seq = ",".join(str(d) for _, d in rows)
            expect[(e, sh)] = (
                len(rows), rows[0][0], rows[-1][0],
                _hl.sha256(seq.encode()).hexdigest())

    out = registry()["q_epoch_shuffle"].spark_fn(spark, SF_SMALL).toPandas()
    assert (out["pos_ok"] == 1).all()
    assert len(out) == len(expect) == SHUF_EPOCHS * SHUF_SHARDS
    for r in out.itertuples():
        nd, pf, pl, sha = expect[(int(r.epoch), int(r.shard))]
        assert (int(r.n_docs), int(r.pos_first), int(r.pos_last)) == \
            (nd, pf, pl), (r.epoch, r.shard)
        assert r.seq_sha == sha, (r.epoch, r.shard)
    # epochs must produce genuinely different orders (the point of the
    # epoch key), while each epoch is itself a full permutation
    assert orders[0] != orders[1] != orders[2]
    for e in range(SHUF_EPOCHS):
        assert sorted(orders[e]) == sorted(d for d, _ in urls)


def _winnow_fps(toks: list[str]) -> set[tuple[int, int]]:
    """Independent winnowing: rightmost-min gram-hash per <= WIN_W
    window (prefix convention at doc start), as (hash, pos) pairs."""
    import hashlib

    from unmixing_spark.queries.hygiene_q import WIN_K, WIN_W

    grams = [" ".join(toks[i:i + WIN_K])
             for i in range(len(toks) - WIN_K + 1)]
    hs = [int(hashlib.md5(g.encode()).hexdigest()[:8], 16) for g in grams]
    sel: set[tuple[int, int]] = set()
    for p in range(len(hs)):          # window ends at p (0-based)
        lo = max(0, p - WIN_W + 1)
        best = min(range(lo, p + 1), key=lambda q: (hs[q], -q))
        sel.add((hs[best], best + 1))
    return sel


def test_winnow_fingerprints_match_brute_force(spark):
    from unmixing_spark.queries.hygiene_q import WIN_K, WIN_W

    out = (registry()["q_winnow_fingerprints"].spark_fn(spark, SF_SMALL)
           .toPandas().sort_values("doc_id").reset_index(drop=True))
    docs = _docs()
    fps: dict[int, set[tuple[int, int]]] = {}
    toks_of: dict[int, list[str]] = {}
    for _, r in docs.iterrows():
        toks = re.split(r"\s+", r["text"])
        toks_of[int(r["doc_id"])] = toks
        fps[int(r["doc_id"])] = _winnow_fps(toks)
    docs_of_h: dict[int, set[int]] = {}
    for did, sel in fps.items():
        for h, _ in sel:
            docs_of_h.setdefault(h, set()).add(did)
    for _, r in out.iterrows():
        did = int(r["doc_id"])
        assert int(r["n_grams"]) == len(toks_of[did]) - WIN_K + 1
        assert int(r["n_fp"]) == len(fps[did])
        assert int(r["n_shared_fp"]) == sum(
            1 for h, _ in fps[did] if len(docs_of_h[h]) >= 2)
    # selection density is near the theoretical 2/(w+1)
    density = (out["n_fp"] / out["n_grams"]).mean()
    assert abs(density - 2 / (WIN_W + 1)) < 0.1
    # THE winnowing guarantee (Schleimer et al. 2003 Thm): two docs
    # sharing a >= WIN_K + WIN_W - 1 token run share a fingerprint hash.
    # Find such pairs independently via shared (k+w-1)-gram strings.
    run = WIN_K + WIN_W - 1
    by_run: dict[str, set[int]] = {}
    for did, toks in toks_of.items():
        for i in range(len(toks) - run + 1):
            by_run.setdefault(" ".join(toks[i:i + run]), set()).add(did)
    pairs = {(a, b) for ds in by_run.values() if len(ds) >= 2
             for a in ds for b in ds if a < b}
    assert pairs, "corpus must exercise the sharing guarantee"
    hset = {did: {h for h, _ in sel} for did, sel in fps.items()}
    for a, b in pairs:
        assert hset[a] & hset[b], (a, b)


def test_script_mix_planted_multilingual(spark, tmp_path):
    """q_script_mix on a planted multilingual fixture: per-script counts
    recomputed by Python codepoint classification, dominant-script
    tie-break to the first listed range, zero-script and mixed-script
    arms, AND DuckDB-vs-Spark parity on the same non-ASCII fixture (the
    corpus oracle run only ever sees ASCII)."""
    import duckdb

    from tests.oracle_harness import compare
    from unmixing_spark.queries.hygiene_q import SCRIPT_RANGES

    texts = [
        "pure latin text",
        "Привет мир",                           # cyrillic
        "中文文本处理系统",                       # cjk
        "مرحبا بالعالم",                         # arabic
        "שלום עולם",                             # hebrew
        "ひらがなとカタカナ",                     # kana
        "한국어 텍스트",                          # hangul
        "mixed Привет 中文 text",                # latin-dominant mix
        "2024 12345",                            # digits only
        "!!! ...",                               # none of the ranges
        "νόμος ελληνικά",                        # greek
        "हिन्दी पाठ",                             # devanagari
        "абв abc",                               # 3-3 tie -> latin (first)
        "3×4÷2 résumé",                          # × ÷ are not letters
    ]
    docs = _docs().head(len(texts)).copy()
    docs["text"] = texts
    docs["n_chars"] = docs["text"].str.len()
    sf_dir = str(tmp_path)
    docs.to_parquet(f"{sf_dir}/documents.parquet", index=False)

    spans = {
        "latin": [(0x41, 0x5A), (0x61, 0x7A), (0xC0, 0xD6), (0xD8, 0xF6),
                  (0xF8, 0x24F)],
        "cyrillic": [(0x400, 0x4FF)],
        "greek": [(0x370, 0x3FF)],
        "arabic": [(0x600, 0x6FF)],
        "hebrew": [(0x590, 0x5FF)],
        "devanagari": [(0x900, 0x97F)],
        "cjk": [(0x4E00, 0x9FFF)],
        "kana": [(0x3040, 0x30FF)],
        "hangul": [(0xAC00, 0xD7AF), (0x1100, 0x11FF)],
        "digit": [(0x30, 0x39)],
    }
    order = [n for n, _ in SCRIPT_RANGES]

    out = (registry()["q_script_mix"].spark_fn(spark, sf_dir)
           .toPandas().sort_values("doc_id").reset_index(drop=True))
    for i, text in enumerate(texts):
        cnt = {s: sum(1 for ch in text
                      if any(lo <= ord(ch) <= hi for lo, hi in spans[s]))
               for s in order}
        row = out.iloc[i]
        for s in order:
            assert int(row[f"n_{s}"]) == cnt[s], (i, s, text)
        assert int(row["n_chars_total"]) == len(text)
        if max(cnt.values()) == 0:
            assert row["dominant_script"] == "none"
            assert float(row["dominant_share"]) == 0.0
        else:
            best = max(cnt.values())
            dom = next(s for s in order if cnt[s] == best)
            assert row["dominant_script"] == dom, (i, text, dict(cnt))
            assert abs(float(row["dominant_share"])
                       - round(best / sum(cnt.values()), 6)) < 1e-9
    # the planted tie resolves to the first-listed script
    assert out.iloc[12]["dominant_script"] == "latin"

    # cross-engine parity on the SAME non-ASCII fixture
    from unmixing_spark.queries import registry as _reg
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM "
            f"'{sf_dir}/documents.parquet'")
    duck = con.sql(_reg()["q_script_mix"].oracle).df()
    problems = compare(out, duck)
    assert not problems, problems


def test_mojibake_planted_damage(spark, tmp_path):
    """q_mojibake on genuinely damaged strings produced by the real
    failure modes (utf-8 bytes decoded as latin-1 / cp1252), plus clean
    controls including legitimate single 'A-tilde' text --- Python
    recount of every signature AND DuckDB-vs-Spark parity on the
    non-ASCII fixture."""
    import duckdb

    from tests.oracle_harness import compare
    from unmixing_spark.queries.hygiene_q import MOJI_MIN_DOUBLE

    clean = ["plain ascii text", "caf\u00e9 na\u00efve r\u00e9sum\u00e9 \u2014 fine",
             "\u4e2d\u6587 is fine too", "\u00c3 lone capital A-tilde word"]
    damaged = [
        "caf\u00e9 na\u00efve r\u00e9sum\u00e9".encode("utf-8").decode("latin-1"),
        "curly \u2019quotes\u2019 and \u2014 dashes".encode("utf-8")
            .decode("cp1252", "replace"),
        "lost \ufffd chars \ufffd here",
        "c1 control \x85 inside",
        "bell \x07 and \x01 controls only",  # C0 only: counted, NOT flagged
    ]
    texts = clean + damaged
    docs = _docs().head(len(texts)).copy()
    docs["text"] = texts
    docs["n_chars"] = docs["text"].str.len()
    sf_dir = str(tmp_path)
    docs.to_parquet(f"{sf_dir}/documents.parquet", index=False)

    out = (registry()["q_mojibake"].spark_fn(spark, sf_dir)
           .toPandas().sort_values("doc_id").reset_index(drop=True))

    def counts(t):
        n_repl = t.count("\ufffd")
        n_c1 = sum(1 for c in t if 0x80 <= ord(c) <= 0x9F)
        cp1252_imgs = ("\u20ac\u201a\u0192\u201e\u2026\u2020"
                       "\u2021\u02c6\u2030\u0160\u2039\u0152"
                       "\u017d\u2018\u2019\u201c\u201d\u2022"
                       "\u2013\u2014\u02dc\u2122\u0161\u203a"
                       "\u0153\u017e\u0178")
        n_double = len(re.findall(
            "[\u00c2\u00c3\u00e2][\u0080-\u00bf" + cp1252_imgs + "]",
            t))
        n_c0 = sum(1 for c in t
                   if ord(c) <= 0x1F and c not in "\t\n\r")
        return n_repl, n_c1, n_double, n_c0

    for i, t in enumerate(texts):
        n_repl, n_c1, n_double, n_c0 = counts(t)
        row = out.iloc[i]
        assert int(row["n_replacement"]) == n_repl, (i, t)
        assert int(row["n_c1"]) == n_c1, (i, t)
        assert int(row["n_double_enc"]) == n_double, (i, t)
        assert int(row["n_c0_control"]) == n_c0, (i, t)
        exp_flag = int(n_repl > 0 or n_c1 > 0
                       or n_double >= MOJI_MIN_DOUBLE)
        assert int(row["is_mojibake"]) == exp_flag, (i, t)
    # every clean doc passes, every damaged-encoding doc flags, and the
    # C0-only doc is reported but NOT flagged
    assert list(out["is_mojibake"][:len(clean)]) == [0] * len(clean)
    assert list(out["is_mojibake"][len(clean):len(clean) + 4]) == [1] * 4
    assert int(out.iloc[len(texts) - 1]["is_mojibake"]) == 0
    assert int(out.iloc[len(texts) - 1]["n_c0_control"]) == 2

    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM "
            f"'{sf_dir}/documents.parquet'")
    duck = con.sql(registry()["q_mojibake"].oracle).df()
    problems = compare(out, duck)
    assert not problems, problems


def test_readability_planted_fixture(spark, tmp_path):
    """q_readability vs a Python replay on texts spanning the scale:
    short simple sentences (high ease), long polysyllabic prose (low,
    possibly negative — unclamped by design), the no-terminal-punct arm
    (sentences floored at 1), and the empty-ish arm (words=0 -> 0.0)."""
    import re as _re

    texts = [
        "The cat sat. The dog ran. It was fun.",
        ("Incomprehensibility characterizes multidimensional "
         "organizational heterogeneity notwithstanding "
         "institutionalization of internationalization."),
        "no terminal punctuation here at all",
        "!!! ??? ...",
        "Reading is easy. Words flow well. Short is sweet!",
    ]
    docs = _docs().head(len(texts)).copy()
    docs["text"] = texts
    docs["n_chars"] = docs["text"].str.len()
    sf_dir = str(tmp_path)
    docs.to_parquet(f"{sf_dir}/documents.parquet", index=False)

    out = (registry()["q_readability"].spark_fn(spark, sf_dir)
           .toPandas().sort_values("doc_id").reset_index(drop=True))
    for i, t in enumerate(texts):
        words = len(_re.findall(r"[A-Za-z]+", t))
        syll = max(len(_re.findall(r"[aeiouy]+", t.lower())), words)
        sents = max(len(_re.findall(r"[.!?]+", t)), 1)
        row = out.iloc[i]
        assert int(row["words"]) == words
        assert int(row["syllables"]) == syll
        assert int(row["sentences"]) == sents
        if words == 0:
            exp = 0.0
        else:
            exp = round(206.835 - 1.015 * words / sents
                        - 84.6 * syll / words, 6)
        assert abs(float(row["flesch_ease"]) - exp) < 1e-9, (i, t)
    ease = dict(zip(out["doc_id"], out["flesch_ease"]))
    ids = list(out["doc_id"])
    # ordering sanity: simple prose scores far above the polysyllabic
    # monster, which lands negative (the unclamped arm)
    assert ease[ids[0]] > 80
    assert ease[ids[1]] < 0
    assert ease[ids[3]] == 0.0
