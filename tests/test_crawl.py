"""Crawl-cycle operators (crawl_q.py) vs independent Python brute force.
Dialect parity alone can't catch a wrong metric shared by both renderings —
these pins compute the expected values a third way."""

from __future__ import annotations

import hashlib
import re

import pandas as pd

from tests.conftest import SF_SMALL
from unmixing_spark.queries import registry


def _docs():
    return pd.read_parquet(f"{SF_SMALL}/documents.parquet")


def _md5_slice(s: str, start: int) -> int:
    """Python twin of dialect.md5_slice (1-indexed hex offsets)."""
    return int(hashlib.md5(s.encode()).hexdigest()[start - 1:start + 7], 16)


def _planted_links(n: int) -> list[tuple[int, int, int]]:
    """Python twin of linkgraph_q.link_ctes: (src, k, dst) triples."""
    from unmixing_spark.queries.linkgraph_q import PR_MAX_FAN
    out = []
    for src in range(n):
        for k in range(1 + src % PR_MAX_FAN):
            out.append((src, k, _md5_slice(f"{src}#{k}", 1) % n))
    return out


def test_extract_links_inverts_synthesis(spark):
    """The recovered edge multiset equals the brute-force link graph AND
    every row carries match=1 (extraction + protocol-relative resolution
    invert the html synthesis exactly)."""
    out = registry()["q_extract_links"].spark_fn(spark, SF_SMALL).toPandas()
    links = _planted_links(len(_docs()))
    expect: dict[tuple[int, int], int] = {}
    for src, _k, dst in links:
        expect[(src, dst)] = expect.get((src, dst), 0) + 1
    got = {(int(r.src), int(r.dst)): int(r.extracted_n)
           for r in out.itertuples()}
    assert got == expect
    assert (out["match"] == 1).all()
    assert (out["extracted_n"] == out["planted_n"]).all()
    # the protocol-relative serialization branch is exercised: both
    # parities of (src + k) occur in the planted graph
    assert any((s + k) % 2 == 1 for s, k, _ in links)
    assert any((s + k) % 2 == 0 for s, k, _ in links)


def test_anchor_text_ordered_sha(spark):
    """Per-target anchor aggregation matches an independent Python
    rebuild: same anchors, same (src, fan-order) ordering, same SHA."""
    out = registry()["q_anchor_text"].spark_fn(spark, SF_SMALL).toPandas()
    per_dst: dict[int, list[tuple[int, str]]] = {}
    srcs: dict[int, set[int]] = {}
    for src, k, dst in _planted_links(len(_docs())):
        # extraction sees tags in fan order, so tag index idx = k + 1
        per_dst.setdefault(dst, []).append((src * 8 + k + 1,
                                            f"p{dst} k{k}"))
        srcs.setdefault(dst, set()).add(src)
    assert set(out["doc_id"]) == set(per_dst)
    for r in out.itertuples():
        anchors = [a for _, a in sorted(per_dst[int(r.doc_id)])]
        sha = hashlib.sha256(" ".join(anchors).encode()).hexdigest()
        assert r.anchors_sha == sha
        assert int(r.n_inlinks) == len(anchors)
        assert int(r.n_src_pages) == len(srcs[int(r.doc_id)])


def _simhash64(text: str) -> tuple[int, int]:
    toks = re.split(r"\s+", text)
    lo = hi = 0
    for b in range(32):
        s_lo = s_hi = 0
        for t in toks:
            s_lo += 1 if (_md5_slice(t, 1) >> b) & 1 else -1
            s_hi += 1 if (_md5_slice(t, 9) >> b) & 1 else -1
        if s_lo > 0:
            lo |= 1 << b
        if s_hi > 0:
            hi |= 1 << b
    return lo, hi


def test_simhash_pairs_exact_vs_brute_force(spark):
    """The 4x16-bit block banding is EXACT for Hamming <= 3 (pigeonhole):
    the query's pairs equal the brute-force all-pairs answer, not a
    subset. Also checks no block bucket is hot enough that a production
    cap (which this operator deliberately omits) would have bitten."""
    from unmixing_spark.queries.crawl_q import SIM64_HD_MAX

    out = registry()["q_simhash_pairs"].spark_fn(spark, SF_SMALL).toPandas()
    docs = _docs()
    sh = {int(r.doc_id): _simhash64(r.text) for r in docs.itertuples()}
    ids = sorted(sh)
    expect = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            hd = (bin((sh[a][0] ^ sh[b][0])).count("1")
                  + bin((sh[a][1] ^ sh[b][1])).count("1"))
            if hd <= SIM64_HD_MAX:
                expect[(a, b)] = hd
    got = {(int(r.doc_a), int(r.doc_b)): int(r.hamming)
           for r in out.itertuples()}
    assert expect, "corpus must exercise the near-dup branch"
    assert got == expect
    # bucket-size audit: the largest (block, value) bucket stays far from
    # quadratic territory on this corpus
    buckets: dict[tuple[int, int], int] = {}
    for lo, hi in sh.values():
        for blk, bval in enumerate((lo & 0xFFFF, lo >> 16,
                                    hi & 0xFFFF, hi >> 16)):
            buckets[(blk, bval)] = buckets.get((blk, bval), 0) + 1
    # bound = text_q.HOT_BUCKET_CAP: where the MinHash path CAPS buckets,
    # this exact path must instead stay under the same line naturally
    assert max(buckets.values()) <= 64


def test_bloom_crossdedup_no_false_negatives(spark, tmp_path):
    """On a fixture with texts planted as exact copies across the crawl
    split, every true duplicate probe must hit the filter (Bloom filters
    cannot false-negative), false positives stay under a loose bound,
    and Spark == DuckDB on the fixture."""
    import duckdb

    from tests.oracle_harness import compare
    from unmixing_spark.pagegen import EPOCH_2025
    from unmixing_spark.queries.crawl_q import BLOOM_CUTOFF

    docs = _docs().copy()
    planted = docs["doc_id"] < 90
    docs.loc[planted, "text"] = [
        f"planted duplicate text number {i % 3}"
        for i in docs.loc[planted, "doc_id"]]
    docs["n_chars"] = docs["text"].str.len()
    sf_dir = str(tmp_path)
    docs.to_parquet(f"{sf_dir}/documents.parquet", index=False)

    # the fixture must actually place copies of each planted text on
    # BOTH sides of the md5-derived time split (deterministic, so this
    # holds forever once it holds once)
    def is_new(row) -> bool:
        url = f"https://{row.source}.example.com/{row.lang}/{row.doc_id}"
        return EPOCH_2025 + _md5_slice(url, 1) % 31536000 >= BLOOM_CUTOFF
    sides = {}
    for r in docs[planted].itertuples():
        sides.setdefault(r.text, set()).add(is_new(r))
    assert all(s == {False, True} for s in sides.values())

    spec = registry()["q_bloom_crossdedup"]
    sdf = spec.spark_fn(spark, sf_dir).toPandas()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{sf_dir}/documents.parquet')")
    ddf = con.sql(spec.oracle).df()
    assert not compare(sdf, ddf)

    dups = sdf[sdf["exact_dup"] == 1]
    assert len(dups) > 0, "fixture must produce true cross-split dups"
    assert (dups["bloom_hit"] == 1).all()          # no false negatives
    clean = sdf[sdf["exact_dup"] == 0]
    assert clean["false_pos"].mean() < 0.15        # deliberately-small m


def test_robots_rules_longest_match(spark):
    """Independent RFC 9309 evaluation: rebuild the per-host rule sets in
    Python, apply longest-match (Allow wins ties), compare every verdict
    — and require every semantic branch to have fired."""
    out = registry()["q_robots_rules"].spark_fn(spark, SF_SMALL).toPandas()
    docs = _docs()
    rules_by_group = {
        0: [("Disallow", "/zh/"), ("Allow", "/zh/1")],
        1: [("Disallow", "/")],
        2: [("Allow", "/en/"), ("Disallow", "/en/"), ("Disallow", "/de/")],
        3: [],
    }
    branches = set()
    expect = {}
    for r in docs.itertuples():
        host = f"{r.source}.example.com"
        path = f"/{r.lang}/{r.doc_id}"
        rules = rules_by_group[_md5_slice("h" + host, 1) % 4]
        hits = [(len(p), t, p) for t, p in rules if path.startswith(p)]
        if not hits:
            expect[r.doc_id] = ("", "", 1)
            branches.add("none")
        else:
            # longest prefix first; 'Allow' < 'Disallow' breaks ties
            _, typ, pref = sorted(hits, key=lambda h: (-h[0], h[1]))[0]
            expect[r.doc_id] = (typ, pref, 0 if typ == "Disallow" else 1)
            branches.add(pref)
    for r in out.itertuples():
        assert (r.rule_typ, r.rule_prefix, int(r.allowed)) \
            == expect[int(r.doc_id)], r
    assert branches >= {"none", "/", "/zh/", "/zh/1", "/en/", "/de/"}


def test_host_graph_rollup(spark):
    """Host-pair link counts equal a Python rollup of the brute-force
    page graph."""
    out = registry()["q_host_graph"].spark_fn(spark, SF_SMALL).toPandas()
    docs = _docs()
    host = {int(r.doc_id): f"{r.source}.example.com"
            for r in docs.itertuples()}
    agg: dict[tuple[str, str], list] = {}
    for src, _k, dst in _planted_links(len(docs)):
        key = (host[src], host[dst])
        e = agg.setdefault(key, [0, set(), set()])
        e[0] += 1
        e[1].add(src)
        e[2].add(dst)
    assert len(out) == len(agg)
    for r in out.itertuples():
        n, s, t = agg[(r.src_host, r.dst_host)]
        assert (int(r.n_links), int(r.n_src_pages), int(r.n_dst_pages)) \
            == (n, len(s), len(t))


def test_crawl_delta_statuses(spark):
    """Every delta status matches an independent Python rebuild of the
    two snapshots, and all four branches fire."""
    from unmixing_spark.queries.crawl_q import (DELTA_ADDED_MOD,
                                                DELTA_REMOVED_MOD)

    out = registry()["q_crawl_delta"].spark_fn(spark, SF_SMALL).toPandas()
    expect = {}
    for r in _docs().itertuples():
        url = f"https://{r.source}.example.com/{r.lang}/{r.doc_id}"
        fate = _md5_slice("f" + url, 1) % DELTA_REMOVED_MOD
        if fate == 0:
            expect[url] = "removed"
        elif fate == 1:
            expect[url] = "changed"
        else:
            expect[url] = "unchanged"
        if r.doc_id % DELTA_ADDED_MOD == 0:
            expect[url + "/v2-extra"] = "added"
    got = {r.url: r.status for r in out.itertuples()}
    assert got == expect
    assert set(got.values()) == {"added", "removed", "changed", "unchanged"}


def test_cdx_index_pin(spark):
    """SURT keys, timestamps, digests, and global line numbers match an
    independent Python rebuild of the index."""
    from datetime import datetime, timezone

    from unmixing_spark.pagegen import EPOCH_2025

    out = (registry()["q_cdx_index"].spark_fn(spark, SF_SMALL)
           .toPandas().sort_values("line_no").reset_index(drop=True))
    rows = []
    for r in _docs().itertuples():
        url = f"https://{r.source}.example.com/{r.lang}/{r.doc_id}"
        epoch = EPOCH_2025 + _md5_slice(url, 1) % 31536000
        ts14 = datetime.fromtimestamp(epoch, tz=timezone.utc).strftime(
            "%Y%m%d%H%M%S")
        surt = f"com,example,{r.source})/{r.lang}/{r.doc_id}"
        digest = hashlib.sha256(r.text.encode()).hexdigest()
        html_len = len(f"<html><body>{r.text}</body></html>".encode())
        rows.append((surt, ts14, url, digest, "text/html", html_len))
    rows.sort()
    expect = pd.DataFrame(rows, columns=["surt_key", "ts14", "url",
                                         "digest", "mime", "length_bytes"])
    assert len(out) == len(expect)
    for c in expect.columns:
        assert (out[c].astype(str) == expect[c].astype(str)).all(), c
    assert (out["line_no"] == range(1, len(out) + 1)).all()


def test_crawl_frontier_politeness(spark):
    """Slots, schedule offsets, and the global fetch order match a
    Python rebuild; the politeness and priority invariants hold."""
    from unmixing_spark.queries.crawl_q import FRONTIER_DELAY_MODS

    out = registry()["q_crawl_frontier"].spark_fn(spark, SF_SMALL).toPandas()
    docs = _docs()
    indeg: dict[int, int] = {}
    for _src, _k, dst in _planted_links(len(docs)):
        indeg[dst] = indeg.get(dst, 0) + 1
    rows = []
    for r in docs.itertuples():
        host = f"{r.source}.example.com"
        delay = 1 + _md5_slice("d" + host, 1) % FRONTIER_DELAY_MODS
        rows.append((host, -indeg.get(int(r.doc_id), 0), int(r.doc_id), delay))
    expect = {}
    by_host: dict[str, list] = {}
    for row in sorted(rows):
        by_host.setdefault(row[0], []).append(row)
    for host, hrows in by_host.items():
        for slot, (h, neg, doc, delay) in enumerate(hrows):
            expect[doc] = (h, -neg, delay, slot, slot * delay)
    for r in out.itertuples():
        assert expect[int(r.doc_id)] == (
            r.host, int(r.inlinks), int(r.delay_s), int(r.slot),
            int(r.sched_offset_s)), r
    # global order is the (sched, host, doc) sort, 1..N with no gaps
    srt = out.sort_values("fetch_order")
    assert list(srt.fetch_order) == list(range(1, len(out) + 1))
    assert (srt.sort_values(["sched_offset_s", "host", "doc_id"])
            .fetch_order.is_monotonic_increasing)
    # per host: indegree never increases with slot (priority order), and
    # consecutive fetches are exactly delay_s apart (politeness)
    for _host, g in out.groupby("host"):
        g = g.sort_values("slot")
        assert g.inlinks.is_monotonic_decreasing
        d = g.sched_offset_s.diff().dropna()
        assert (d == g.delay_s.iloc[0]).all()


def test_sitemap_urls_statuses(spark):
    """Status and staleness per url match a Python rebuild of the
    sitemap synthesis, and all three statuses + both staleness
    branches fire."""
    from datetime import datetime, timezone

    from unmixing_spark.pagegen import EPOCH_2025
    from unmixing_spark.queries.crawl_q import (SITEMAP_LISTED_MOD,
                                                SITEMAP_PHANTOMS)

    def ts14(epoch: int) -> str:
        return datetime.fromtimestamp(epoch, tz=timezone.utc).strftime(
            "%Y%m%d%H%M%S")

    out = registry()["q_sitemap_urls"].spark_fn(spark, SF_SMALL).toPandas()
    crawled = {}
    hosts = set()
    for r in _docs().itertuples():
        url = f"https://{r.source}.example.com/{r.lang}/{r.doc_id}"
        host = f"{r.source}.example.com"
        hosts.add(host)
        crawled[url] = (host, ts14(EPOCH_2025 + _md5_slice(url, 1) % 31536000))
    listed = {}
    for url, (host, _w) in crawled.items():
        if _md5_slice("sm" + url, 1) % SITEMAP_LISTED_MOD < 2:
            listed[url] = (host,
                           ts14(EPOCH_2025 + _md5_slice("lm" + url, 1) % 63072000))
    for host in hosts:
        for n in range(1, SITEMAP_PHANTOMS + 1):
            url = f"https://{host}/sitemap-only/{n}"
            listed[url] = (host,
                           ts14(EPOCH_2025 + _md5_slice(f"ph{host}{n}", 1) % 63072000))
    expect = {}
    for url in set(crawled) | set(listed):
        if url in crawled and url in listed:
            stale = int(listed[url][1] > crawled[url][1])
            expect[url] = ("both", listed[url][1], crawled[url][1], stale)
        elif url in listed:
            expect[url] = ("sitemap_only", listed[url][1], "", 0)
        else:
            expect[url] = ("crawl_only", "", crawled[url][1], 0)
    got = {r.url: (r.status, r.lastmod14, r.warc14, int(r.stale))
           for r in out.itertuples()}
    assert got == expect
    statuses = {v[0] for v in got.values()}
    assert statuses == {"both", "sitemap_only", "crawl_only"}
    stales = {v[3] for v in got.values() if v[0] == "both"}
    assert stales == {0, 1}


def test_recrawl_priority_estimator(spark):
    """Change counts, ages, and priorities match the Python MLE rebuild;
    tiers partition by non-increasing priority."""
    from unmixing_spark.pagegen import EPOCH_2025
    from unmixing_spark.queries.crawl_q import (RECRAWL_CAPTURES,
                                                RECRAWL_CHANGE_PCT,
                                                RECRAWL_STEP)

    out = registry()["q_recrawl_priority"].spark_fn(spark, SF_SMALL).toPandas()
    now = EPOCH_2025 + RECRAWL_CAPTURES * RECRAWL_STEP
    expect = {}
    for r in _docs().itertuples():
        url = f"https://{r.source}.example.com/{r.lang}/{r.doc_id}"
        changes, last = 0, EPOCH_2025
        for i in range(1, RECRAWL_CAPTURES):
            if _md5_slice(f"ch{url}:{i}", 1) % 10 < RECRAWL_CHANGE_PCT:
                changes += 1
                last = EPOCH_2025 + i * RECRAWL_STEP
        age = (now - last) // 86400
        lam = changes / (RECRAWL_CAPTURES - 1)
        expect[url] = (changes, age, round(lam * age, 6))
    assert len(out) == len(expect)
    for r in out.itertuples():
        e = expect[r.url]
        assert (int(r.changes), int(r.age_days)) == e[:2]
        assert abs(r.priority - e[2]) < 1e-9
    # tiers: 4 near-equal buckets ordered by priority
    sizes = out.tier.value_counts()
    assert set(sizes.index) == {1, 2, 3, 4}
    assert sizes.max() - sizes.min() <= 1
    for t in (1, 2, 3):
        assert (out[out.tier == t].priority.min()
                >= out[out.tier == t + 1].priority.max())


def test_index_shards_balance(spark):
    """Shard assignment and the imbalance factor equal a Python rebuild;
    every doc lands in exactly one shard."""
    from unmixing_spark.queries.crawl_q import INDEX_SHARDS

    out = registry()["q_index_shards"].spark_fn(spark, SF_SMALL).toPandas()
    docs = _docs()
    per: dict[int, list[int]] = {}
    for r in docs.itertuples():
        url = f"https://{r.source}.example.com/{r.lang}/{r.doc_id}"
        s = _md5_slice(url, 1) % INDEX_SHARDS
        e = per.setdefault(s, [0, 0])
        e[0] += 1
        e[1] += len(r.text)
    assert len(out) == len(per)
    assert int(out.n_docs.sum()) == len(docs)
    k = len(per)
    sm = sum(b for _, b in per.values())
    mx = max(b for _, b in per.values())
    for r in out.itertuples():
        nd, nb = per[int(r.shard)]
        assert (int(r.n_docs), int(r.n_bytes)) == (nd, nb)
        assert abs(r.rel_load - round(nb * k / sm, 6)) < 1e-9
        assert abs(r.imbalance_factor - round(mx * k / sm, 6)) < 1e-9


def test_capture_retention_policy(spark):
    """Latest-K retention accounting equals a Python rebuild of the
    capture history."""
    from unmixing_spark.pagegen import EPOCH_2025
    from unmixing_spark.queries.crawl_q import (RECRAWL_CAPTURES,
                                                RECRAWL_STEP, RETAIN_K)

    out = registry()["q_capture_retention"].spark_fn(spark, SF_SMALL).toPandas()
    docs = _docs()
    assert len(out) == len(docs)
    got = {r.url: r for r in out.itertuples()}
    for r in docs.itertuples():
        url = f"https://{r.source}.example.com/{r.lang}/{r.doc_id}"
        caps = []
        for i in range(RECRAWL_CAPTURES):
            nb = 500 + _md5_slice(f"sz{url}:{i}", 1) % 1500
            caps.append((EPOCH_2025 + i * RECRAWL_STEP, nb))
        caps.sort(reverse=True)
        kept = caps[:RETAIN_K]
        dropped = caps[RETAIN_K:]
        g = got[url]
        assert int(g.n_captures) == RECRAWL_CAPTURES
        assert int(g.n_kept) == len(kept)
        assert int(g.n_dropped) == len(dropped)
        assert int(g.bytes_total) == sum(b for _, b in caps)
        assert int(g.bytes_reclaimed) == sum(b for _, b in dropped)
        assert int(g.oldest_kept_epoch) == min(t for t, _ in kept)


def test_redirect_resolution_chains(spark):
    """Terminal urls, hop counts, and the too-many-redirects flag match
    a Python transitive resolve of the same map; both branches fire."""
    from unmixing_spark.queries.crawl_q import REDIR_MAX_HOPS, REDIR_PCT

    out = registry()["q_redirect_resolution"].spark_fn(spark, SF_SMALL).toPandas()
    docs = _docs()
    n = len(docs)
    url_of = {int(r.doc_id): f"https://{r.source}.example.com/{r.lang}/{r.doc_id}"
              for r in docs.itertuples()}
    id_of = {v: k for k, v in url_of.items()}
    nxt, is_r = {}, {}
    for d, u in url_of.items():
        if d % 250 == 3:
            is_r[u] = 1
            nxt[u] = url_of[(d + 250) % n]
        elif _md5_slice("rd" + u, 1) % 10 < REDIR_PCT:
            is_r[u] = 1
            nxt[u] = url_of[_md5_slice("rt" + u, 1) % n]
        else:
            is_r[u] = 0
            nxt[u] = u
    expect = {}
    for u in url_of.values():
        cur, hops, done = u, 0, 1 - is_r[u]
        for _ in range(REDIR_MAX_HOPS):
            if done:
                break
            cur = nxt[cur]
            hops += 1
            done = 1 - is_r[cur]
        expect[u] = (cur, hops, done)
    got = {r.url: (r.final_url, int(r.hops), int(r.resolved))
           for r in out.itertuples()}
    assert got == expect
    rs = {v[2] for v in got.values()}
    assert rs == {0, 1}              # planted cycle exercises the cap
    assert max(v[1] for v in got.values()) == REDIR_MAX_HOPS


def test_canonical_cluster_folding(spark):
    """Canonical targets, cluster sizes, and head flags match a Python
    rebuild of the planting; declared and undeclared pages both
    occur."""
    from unmixing_spark.queries.crawl_q import CANON_CLUSTER, CANON_PCT

    out = registry()["q_canonical_cluster"].spark_fn(spark, SF_SMALL).toPandas()
    docs = _docs()
    url_of = {int(r.doc_id): f"https://{r.source}.example.com/{r.lang}/{r.doc_id}"
              for r in docs.itertuples()}
    canon = {}
    for d, u in url_of.items():
        head = url_of[d - d % CANON_CLUSTER]
        if d % CANON_CLUSTER != 0 and _md5_slice("cn" + u, 1) % 5 < CANON_PCT:
            canon[u] = head
        else:
            canon[u] = u
    sizes: dict[str, int] = {}
    for tgt in canon.values():
        sizes[tgt] = sizes.get(tgt, 0) + 1
    got = {r.url: (r.canonical_url, int(r.cluster_size),
                   int(r.is_canonical_head)) for r in out.itertuples()}
    assert len(got) == len(canon)
    for u, (tgt, sz, head) in got.items():
        assert tgt == canon[u], u
        assert sz == sizes[tgt], u
        assert head == int(tgt == u)
    folded = sum(1 for u, t in canon.items() if t != u)
    assert folded > 0 and folded < len(canon)


def test_rendezvous_shards_match_brute_force(spark):
    import hashlib

    from unmixing_spark.queries.crawl_q import HRW_NEW, HRW_OLD

    out = (registry()["q_rendezvous_shards"].spark_fn(spark, SF_SMALL)
           .toPandas())
    docs = pd.read_parquet(f"{SF_SMALL}/documents.parquet")

    def score(s: int, url: str) -> tuple[int, int]:
        h = int(hashlib.md5(f"{s}#{url}".encode()).hexdigest()[:8], 16)
        return (h, -s)   # smaller shard wins score ties

    expect = {}
    for _, r in docs.iterrows():
        url = f"https://{r['source']}.example.com/{r['lang']}/{r['doc_id']}"
        old = max(range(HRW_OLD), key=lambda s: score(s, url))
        new = max(range(HRW_NEW), key=lambda s: score(s, url))
        expect[url] = (old, new, int(old != new))
    got = {r["url"]: (int(r["shard_old"]), int(r["shard_new"]),
                      int(r["moved"]))
           for _, r in out.iterrows()}
    assert got == expect
    assert (out["hrw_invariant_ok"] == 1).all()
    # minimal movement: the moved fraction is ~1/HRW_NEW, nowhere near
    # the (HRW_NEW-1)/HRW_NEW a modulo reshard would cost
    frac = out["moved"].mean()
    assert 0.04 < frac < 0.25
    moved = out[out["moved"] == 1]
    assert (moved["shard_new"] == HRW_NEW - 1).all()
    # both shardings are reasonably balanced (no empty shard)
    assert out.groupby("shard_old").size().min() > 0
    assert out["shard_new"].nunique() == HRW_NEW
