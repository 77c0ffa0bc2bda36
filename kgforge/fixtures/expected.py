"""Materialized oracles for the kg_* contract queries.

Round 1 left the 8 kg_* queries with ``err: "no_oracle"`` — the driver's
hard correctness signal (rows+schema+hash) never touched the flagship KG
path. The kg semantics are deterministic pure Python (MockTagger +
kgforge.textnorm.pipeline + kgforge.extract.triples + linking/graph
oracles — the exact modules the Spark stages call inside mapInPandas), so
the expected outputs can be computed OFF-Spark and written as parquet;
``oracle_sql()`` then serves ``SELECT … FROM read_parquet('<path>')`` per
kg query and DuckDB hash-checks the distributed pipeline end to end.

Dtype discipline: each parquet is written with the exact Arrow types the
Spark query returns (int32 for sizes/ids-in-doc, int64 for counts, float64
for scores/ranks) so the driver's typed schema+hash compare passes.

Rounding discipline: where the Spark query applies ``F.round`` (HALF_UP on
the shortest-decimal repr of the double — Scala ``BigDecimal(double)`` via
``Double.toString``), the twin uses ``_round_spark`` —
``decimal.Decimal(repr(x)).quantize(…, ROUND_HALF_UP)`` — not Python's
banker's ``round`` and not the exact binary expansion.

Oracle independence caveat (round-2 advisor): the kg_* expected tables are
generated by importing the SAME pure functions the Spark stages execute
(punctuate_one, doc_triples, find_mentions, fuzzy_link_batch, …), so the
driver's rows+schema+hash check validates the distributed plumbing —
partitioning, shuffles, UDF batching, join semantics — but cannot catch a
semantic bug inside those shared modules. Independent semantic coverage
lives in the hand-annotated gold sets (tests/test_gold_triples.py) and the
reference-vendored byte-identity tests; keep growing those alongside this
twin.
"""

from __future__ import annotations

import hashlib
import itertools
import os
from collections import Counter, defaultdict
from decimal import ROUND_HALF_UP, Decimal

EXPECTED_VERSION = "v49"  # bump when any kg_* query semantics change
# v34: round-5 extractor promotions (matrix-NP of-subjects, bare comma
# object pairs, zh 考察/调研) can change the triple set on any doc
# v35: round-5 review fixes (per-item bare-conjunct guards, trailing
# temporal-adjunct trim in _trim_obj, tightened bare-chain protection)
# v36: review pass 2 — trim preserves the clause-closing end index,
# pure-temporal object spans rejected, digit adjunct items, empty-span
# trailing-adjunct drop in bare lists
# v37: round-5 continuation promotions (conative control verbs, V-to-V
# chains, at/from-PP subjects, boost/praise, elided-subject borrow, 座谈)
# v38: review fixes on v37 — noun-homograph borrow guards, base-form-only
# V-to-V infinitives, 座谈 comitative-only + 座谈会 guard, verb-final
# failure suffixes (失败/取消), "low" manner adverb
# v39: review pass 2 on v38 — borrow guards graded by surface-form
# ambiguity (plural-concord bare stems, -s-only span check), zh
# 进行/开展 light-verb 座谈 forms
# v40: continuation wave — 40 news/report verb stems (incl. -ise twins),
# _trim_subj past-form stop (attributive double-fire kill), zh 会晤
# v41: review fixes on v40 — "warn" dropped from stems (clause-introducer
# conflict), past-form stop scoped to true subject walks (NP-head and
# passive-patient walks keep attributive participles), 会晤 transitive
# requires 了 + comitative light-verb lookbehinds and 举行/进行/开展 forms
# v42: review pass 2 on v41 — the past_stop parameter replaced by one
# positional rule (a det-fronted/span-opening participle is attributive,
# a content word to its left marks the finite verb) for subject, patient,
# and NP-head walks alike; 举办/召开 join the comitative light verbs;
# comitative 会晤 takes (?!了); 举办-hosted refuses 座谈/会晤 objects
# v43: second continuation wave — uncommitted-subject donation, comma-only
# predicate coordination (bare-verb direct-NP, quotative/report guards),
# object walks stop at the relation's own trailing punctuation, report
# verbs rejected from coordinated-object spans, critique/acclaim stems
# (lambaste/applaud/denounce/…), degree adverbs (much/highly/…) skip in
# subject walks, "than" stopword + comparative-quantity object re-walk,
# zh 洽谈/磋商/商谈 comitatives
# v44: review fixes on v43 — comma-borrow span rejects copulas/report
# verbs, quotative set covers the critique/acclaim class, ditransitive
# participles never comma-borrow, elliptical "more than expected"
# rejected, zh (?!判) keeps 磋商谈判 spans uncorrupted
# v45: review pass 2 on v44 — the and-gap borrow branches reject
# copula/report-verb spans too, ditransitive participles rejected from
# coordinated-object lists, ellipsis check narrowed to SPAN-FINAL verb
# forms ("more than expected revenue" extracts again)
# v46: review pass 3 — "wrote" barred from the comma borrow (written
# quotative attribution), degree-modified comparatives ("far/much more
# than…") re-walk or reject like bare ones, all-adjunct object rejection
# extended to comparative spans ("earned far more" asserts no edge)
# v47: kg_bgp contract query added (BGP serving layer: chain / OPTIONAL /
# WCOJ cycle shapes over the canonical edge table, capped per shape)
# v48: kg_bgp grew not_exists (FILTER NOT EXISTS anti-join) and alt
# (inline predicate alternation) shapes
# v49: kg_bgp grew the path shape (3-hop BFS property path from the
# lexically-smallest subject, shortest distances as string hops)
TIER_DOCS = {"sf0.001": 300, "sf0.01": 1000, "sf0.1": 2000}

KG_TABLES = [
    "kg_normalize",
    "kg_sentences",
    "kg_triples",
    "kg_entities",
    "kg_edges_topk",
    "kg_mentions",
    "kg_linked_fuzzy",
    "kg_cooccur",
    "kg_degree_hist",
    "kg_media_meta",
    "kg_token_tag_corpus",
    "kg_pagerank_topk",
    "kg_degree_over_time",
    "kg_daily_nodes",
    "kg_window_subgraph",
    "kg_edge_diff",
    "kg_entity_profile",
    "kg_two_hop",
    "kg_triangles",
    "kg_communities",
    "kg_edge_latest",
    "kg_pred_canon",
    "kg_components",
    "kg_kcore",
    "kg_sameas_candidates",
    "kg_bgp",
]


def expected_dir(tier: str) -> str:
    return os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected", tier)


def _round_spark(x: float, scale: int) -> float:
    """Spark's round(): Scala ``BigDecimal(double)`` goes through
    ``Double.toString`` (shortest round-trip decimal), NOT the exact binary
    expansion — so quantize ``Decimal(repr(x))`` (Python repr is the same
    shortest form), not ``Decimal(x)``. E.g. round(2.675, 2): repr-based
    gives 2.68 (Spark), exact-binary gives 2.67."""
    return float(
        Decimal(repr(x)).quantize(Decimal(1).scaleb(-scale), rounding=ROUND_HALF_UP)
    )


def _md5_12(s: str) -> str:
    return hashlib.md5(s.encode("utf-8")).hexdigest()[:12]


def _self_entity(mention: str) -> str:
    return "M#" + _md5_12(mention)


# ---------------------------------------------------------------------------
# pure-Python twins of the Spark stages
# ---------------------------------------------------------------------------


def _normalized_docs(n_docs: int) -> list[dict]:
    """Twin of stages.normalize over the in-memory webdocs fixture."""
    from kgforge.fixtures.gen import gen_webdocs_rows
    from kgforge.stages.normalize import _tag_map
    from kgforge.textnorm.pipeline import DEFAULT_MAX_SEQUENCE_LENGTH, punctuate_one
    from kgforge.textnorm.tagger import MockTagger

    taggers: dict[str, MockTagger] = {}
    out = []
    for row in gen_webdocs_rows(n_docs):
        lang = row["lang"] or "en"
        tagger = taggers.setdefault(lang, MockTagger(lang=lang))
        text_norm, labels = punctuate_one(
            row["text"] or "", tagger, _tag_map(lang), DEFAULT_MAX_SEQUENCE_LENGTH
        )
        out.append(
            {
                "url": row["url"],
                "lang": lang,
                "text_norm": text_norm,
                "n_tokens": len(labels),
                "n_chunks": max(1, -(-len(labels) // DEFAULT_MAX_SEQUENCE_LENGTH)),
            }
        )
    return out


def _sentences(norm: list[dict]) -> list[dict]:
    from kgforge.extract.triples import split_sentences

    out = []
    for d in norm:
        for sent_id, sentence in enumerate(split_sentences(d["text_norm"], d["lang"])):
            out.append({"url": d["url"], "sent_id": sent_id, "sentence": sentence})
    return out


def _triples(norm: list[dict]) -> list[dict]:
    from kgforge.extract.triples import doc_triples

    out = []
    for d in norm:
        for sent_id, subj, pred, obj, conf in doc_triples(d["text_norm"], d["lang"]):
            out.append(
                {
                    "url": d["url"],
                    "sent_id": sent_id,
                    "subj": subj,
                    "pred": pred,
                    "obj": obj,
                    "conf": conf,
                }
            )
    return out


def _scores(texts_a: list[str], texts_b: list[str], priors: list[float]):
    """Bitwise twin of stages.link._pair_score: same embed_many + einsum."""
    import numpy as np

    from kgforge.linking.embed import embed_many

    m = embed_many(texts_a)
    c = embed_many(texts_b)
    cos = np.einsum("ij,ij->i", m, c) if len(m) else np.zeros(0)
    return cos * np.asarray(priors, dtype=np.float64)


def _entities(triples: list[dict], alias_rows: list[dict]) -> list[dict]:
    """Twin of link(mentions(triples), alias_df)."""
    mentions = sorted(
        {m for t in triples for m in (t["subj"], t["obj"]) if m}
    )
    by_alias: dict[str, list[dict]] = defaultdict(list)
    for r in alias_rows:
        by_alias[r["alias"]].append(r)
    out = []
    for mention in mentions:
        cands = by_alias.get(mention)
        if not cands:
            out.append(
                {
                    "mention": mention,
                    "entity_id": _self_entity(mention),
                    "canon": mention,
                    "score": 0.0,
                }
            )
            continue
        scores = _scores(
            [mention] * len(cands),
            [c["canon"] for c in cands],
            [c["prior"] for c in cands],
        )
        best_ix = min(
            range(len(cands)), key=lambda i: (-scores[i], cands[i]["entity_id"])
        )
        b = cands[best_ix]
        out.append(
            {
                "mention": mention,
                "entity_id": b["entity_id"],
                "canon": b["canon"],
                "score": float(scores[best_ix]),
            }
        )
    return out


def _union_find_components(edges: list[tuple[str, str]]) -> dict[str, str]:
    """Twin of graph.cc.connected_components: node → lexicographic-min
    component representative."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    return {n: find(n) for n in list(parent)}


def _alias_map(alias_rows: list[dict]) -> dict[str, str]:
    """Twin of stages.link.alias_resolution: alias → canon_id."""
    scores = _scores(
        [r["alias"] for r in alias_rows],
        [r["canon"] for r in alias_rows],
        [r["prior"] for r in alias_rows],
    )
    best: dict[str, tuple[float, str]] = {}
    for r, s in zip(alias_rows, scores):
        cur = best.get(r["alias"])
        cand = (-float(s), r["entity_id"])
        if cur is None or cand < cur:
            best[r["alias"]] = cand
    # sameAs edges: distinct entity_id pairs sharing identical (alias, canon)
    group: dict[tuple[str, str], set[str]] = defaultdict(set)
    for r in alias_rows:
        group[(r["alias"], r["canon"])].add(r["entity_id"])
    edges = sorted(
        {
            (a, b)
            for ids in group.values()
            for a, b in itertools.combinations(sorted(ids), 2)
        }
    )
    labels = _union_find_components(edges)
    return {
        alias: labels.get(eid, eid) for alias, (_negs, eid) in best.items()
    }


def _edge_rows(triples: list[dict], alias_map: dict[str, str]) -> list[tuple[str, str, str]]:
    out = []
    for t in triples:
        s = alias_map.get(t["subj"]) or _self_entity(t["subj"])
        o = alias_map.get(t["obj"]) or _self_entity(t["obj"])
        out.append((s, t["pred"], o))
    return out


def _edge_rows_with_day(
    triples: list[dict], alias_map: dict[str, str], url_day: dict[str, str]
) -> list[tuple[str, str, str, str]]:
    """(day, subj_id, pred, obj_id) per raw triple — twin of
    edges_with_day(rewrite_triples(...)) with UTC date_format."""
    out = []
    for t in triples:
        s = alias_map.get(t["subj"]) or _self_entity(t["subj"])
        o = alias_map.get(t["obj"]) or _self_entity(t["obj"])
        out.append((url_day[t["url"]], s, t["pred"], o))
    return out


def _degree_over_time(
    day_edges: list[tuple[str, str, str, str]], k: int = 30
) -> list[dict]:
    """Twin of graph.temporal.degree_over_time: distinct (day, src, dst),
    degree = endpoint count per (day, node), top-k."""
    e = sorted({(d, s, o) for d, s, _p, o in day_edges})
    deg: Counter = Counter()
    for d, s, o in e:
        deg[(d, s)] += 1
        deg[(d, o)] += 1
    ranked = sorted(deg.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    return [
        {"day": d, "node": n, "degree": c} for (d, n), c in ranked
    ]


def _daily_nodes(
    day_edges: list[tuple[str, str, str, str]]
) -> list[dict]:
    """Twin of graph.analytics.daily_active_nodes: distinct nodes active
    in either role per crawl day (multiplicity-insensitive)."""
    nodes: dict[str, set] = {}
    for d, sj, _p, o in day_edges:
        nodes.setdefault(d, set()).update((sj, o))
    return [
        {"day": d, "n_nodes": len(ns)} for d, ns in sorted(nodes.items())
    ]


def _window_subgraph(
    day_edges: list[tuple[str, str, str, str]],
    lo: str,
    hi: str,
    k: int = 20,
) -> list[dict]:
    """Twin of graph.temporal.window_subgraph_topk over [lo, hi]."""
    counts = Counter(
        (s, p, o) for d, s, p, o in day_edges if lo <= d <= hi
    )
    ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    return [
        {"subj_id": s, "pred": p, "obj_id": o, "n": n}
        for (s, p, o), n in ranked
    ]


def _window_edge_diff(
    day_edges: list[tuple[str, str, str, str]],
    a_lo: str,
    a_hi: str,
    b_lo: str,
    b_hi: str,
    k: int = 20,
) -> list[dict]:
    """Twin of graph.temporal.window_edge_diff_topk: window-B edge counts
    among (s, p, o) absent from window A."""
    seen_a = {(s, p, o) for d, s, p, o in day_edges if a_lo <= d <= a_hi}
    counts = Counter(
        (s, p, o)
        for d, s, p, o in day_edges
        if b_lo <= d <= b_hi and (s, p, o) not in seen_a
    )
    ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    return [
        {"subj_id": s, "pred": p, "obj_id": o, "n": n}
        for (s, p, o), n in ranked
    ]


def _edges_topk(edge_rows: list[tuple[str, str, str]], k: int = 20) -> list[dict]:
    counts = Counter(edge_rows)
    ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    return [
        {"subj_id": s, "pred": p, "obj_id": o, "n": n}
        for (s, p, o), n in ranked
    ]


def _mentions_topk(
    norm: list[dict], alias_rows: list[dict], amap: dict[str, str], k: int = 20
) -> list[dict]:
    """Twin of _kg_mentions: gazetteer scan over every sentence (shared
    matcher kgforge.linking.mentions) → canon_id mention counts, top-k."""
    from kgforge.extract.triples import split_sentences
    from kgforge.linking.mentions import build_mention_index, find_mentions

    en_index, zh_aliases = build_mention_index(
        sorted({r["alias"] for r in alias_rows})
    )
    counts: Counter = Counter()
    for d in norm:
        for sentence in split_sentences(d["text_norm"], d["lang"]):
            for surface in find_mentions(sentence, d["lang"], en_index, zh_aliases):
                counts[amap[surface]] += 1
    ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    return [{"canon_id": c, "n": n} for c, n in ranked]


def _linked_fuzzy_topk(
    triples: list[dict], alias_rows: list[dict], amap: dict[str, str], k: int = 20
) -> list[dict]:
    """Twin of _kg_linked_fuzzy: embedding candidate scoring for mentions
    with no exact alias hit (shared scorer kgforge.linking.fuzzy)."""
    from kgforge.linking.fuzzy import build_alias_matrix, fuzzy_link_batch

    alias_set = {r["alias"] for r in alias_rows}
    ms = sorted(
        {m for t in triples for m in (t["subj"], t["obj"]) if m}
        - alias_set
    )
    surfaces, mat = build_alias_matrix([r["alias"] for r in alias_rows])
    rows = [
        {"mention": m, "alias": a, "canon_id": amap[a], "score": s}
        for m, (a, s) in zip(ms, fuzzy_link_batch(ms, surfaces, mat))
        if a is not None
    ]
    return sorted(rows, key=lambda r: (-r["score"], r["mention"]))[:k]


def _cooccur_topk(
    norm: list[dict], alias_rows: list[dict], amap: dict[str, str], k: int = 20
) -> list[dict]:
    """Twin of _kg_cooccur: within-sentence canonical-entity pairs."""
    from kgforge.extract.triples import split_sentences
    from kgforge.linking.mentions import build_mention_index, find_mentions

    en_index, zh_aliases = build_mention_index(
        sorted({r["alias"] for r in alias_rows})
    )
    counts: Counter = Counter()
    for d in norm:
        for sentence in split_sentences(d["text_norm"], d["lang"]):
            ents = sorted(
                {
                    amap[surface]
                    for surface in find_mentions(
                        sentence, d["lang"], en_index, zh_aliases
                    )
                }
            )
            for e1, e2 in itertools.combinations(ents, 2):
                counts[(e1, e2)] += 1
    ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    return [{"e1": a, "e2": b, "n": n} for (a, b), n in ranked]


def _degree_hist(edge_rows: list[tuple[str, str, str]], k: int = 30) -> list[dict]:
    """Twin of _kg_degree_hist: total-degree histogram over the distinct
    (src, dst) pairs (self-loops count both endpoints, mirroring the
    Spark unionAll)."""
    e = sorted({(s, o) for s, _p, o in edge_rows})
    deg: Counter = Counter()
    for s, o in e:
        deg[s] += 1
        deg[o] += 1
    hist = Counter(deg.values())
    ranked = sorted(hist.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    return [{"degree": d, "n_nodes": n} for d, n in ranked]


def _pagerank_topk(
    edge_rows: list[tuple[str, str, str]],
    iterations: int = 8,
    damping: float = 0.85,
    k: int = 20,
) -> list[dict]:
    """Twin of graph.pagerank over the distinct (src, dst) edge set."""
    e = sorted({(s, o) for s, _p, o in edge_rows if s and o})
    nodes = sorted({x for pair in e for x in pair})
    n = len(nodes)
    if n == 0:
        return []
    out_deg = Counter(s for s, _ in e)
    ranks = {node: 1.0 / n for node in nodes}
    base = (1.0 - damping) / n
    in_edges: dict[str, list[str]] = defaultdict(list)
    for s, d in e:
        in_edges[d].append(s)
    for _ in range(iterations):
        dangling = sum(ranks[u] for u in nodes if out_deg.get(u, 0) == 0)
        new = {}
        for v in nodes:
            in_sum = sum(ranks[u] / out_deg[u] for u in in_edges.get(v, ()))
            new[v] = base + damping * (in_sum + dangling / n)
        ranks = new
    rounded = [(node, _round_spark(r, 8)) for node, r in ranks.items()]
    top = sorted(rounded, key=lambda kv: (-kv[1], kv[0]))[:k]
    return [{"node": node, "rank": r} for node, r in top]


def _media_meta(sf_dir: str) -> list[dict]:
    """Twin of _kg_media_meta over the shared documents table."""
    import pyarrow.parquet as pq

    from kgforge.functions.multimodal import _fake_decode

    tbl = pq.read_table(os.path.join(sf_dir, "documents.parquet"), columns=["text"])
    agg: dict[str, list] = defaultdict(lambda: [0, 0, 0])  # n, bytes, width_sum
    for text in tbl.column("text").to_pylist():
        payload = (text or "").encode("utf-8")
        fmt, w, _h = _fake_decode(payload)
        a = agg[fmt]
        a[0] += 1
        a[1] += len(payload)
        a[2] += w
    return [
        {
            "format": fmt,
            "n": n,
            "total_bytes": nbytes,
            "avg_width": _round_spark(wsum / n, 4),
        }
        for fmt, (n, nbytes, wsum) in sorted(agg.items())
    ]


def _token_tag_corpus(norm: list[dict]) -> list[dict]:
    """Twin of _kg_token_tag_corpus (en docs → clean → process_line →
    rechunk(8, 64) → chunk-length histogram)."""
    from kgforge.textnorm.cleaning import clean_text, kept_removed_puncs, lower, process_line
    from kgforge.textnorm.constants import DEFAULT_ENGLISH_NER_MAPPING
    from kgforge.textnorm.corpus import rechunk_doc

    kept, removed = kept_removed_puncs(DEFAULT_ENGLISH_NER_MAPPING)
    hist: Counter = Counter()
    for d in norm:
        if d["lang"] != "en":
            continue
        line = clean_text(d["text_norm"] or "", kept, removed, lower)
        tokens, tags = process_line(line or "", DEFAULT_ENGLISH_NER_MAPPING)
        for tok, _tag in rechunk_doc(tokens, tags, str(d["url"]), 8, 64):
            hist[len(tok)] += 1
    return [
        {"chunk_len": ln, "n_chunks": n} for ln, n in sorted(hist.items())
    ]


def _edge_rows_full(
    triples: list[dict],
    alias_map: dict[str, str],
    url_info: dict[str, tuple[int, str]],
) -> list[tuple[str, str, str, str, int, str]]:
    """(subj_id, pred, obj_id, url, epoch_s, day) per raw triple."""
    out = []
    for t in triples:
        s = alias_map.get(t["subj"]) or _self_entity(t["subj"])
        o = alias_map.get(t["obj"]) or _self_entity(t["obj"])
        epoch, day = url_info[t["url"]]
        out.append((s, t["pred"], o, t["url"], epoch, day))
    return out


def _entity_profile(full_edges, k: int = 20) -> list[dict]:
    """Twin of graph.analytics.entity_profile (assertion-stream counts)."""
    prof: dict[str, list] = {}
    for s, p, o, _url, _epoch, day in full_edges:
        for node, is_out in ((s, 1), (o, 0)):
            a = prof.setdefault(node, [0, 0, set(), day, day])
            a[0] += is_out
            a[1] += 1 - is_out
            a[2].add(p)
            a[3] = min(a[3], day)
            a[4] = max(a[4], day)
    ranked = sorted(prof.items(), key=lambda kv: (-(kv[1][0] + kv[1][1]), kv[0]))[:k]
    return [
        {
            "node": n,
            "out_edges": a[0],
            "in_edges": a[1],
            "n_preds": len(a[2]),
            "first_day": a[3],
            "last_day": a[4],
        }
        for n, a in ranked
    ]


def _two_hop(full_edges, k: int = 20) -> list[dict]:
    """Twin of graph.analytics.two_hop_reach (independent BFS-2 per seed)."""
    adj: dict[str, set] = defaultdict(set)
    for s, _p, o, *_rest in full_edges:
        if s != o:
            adj[s].add(o)
    out = []
    for seed, nbrs in adj.items():
        reach = set(nbrs)
        for m in nbrs:
            reach.update(adj.get(m, ()))
        reach.discard(seed)
        out.append({"node": seed, "reach": len(reach)})
    return sorted(out, key=lambda r: (-r["reach"], r["node"]))[:k]


def _triangles(full_edges, k: int = 20) -> list[dict]:
    """Twin of graph.analytics.triangle_counts — INDEPENDENT method
    (neighbor-set intersection per undirected edge), not the Spark side's
    degree-ordered orientation, so an orientation bug cannot self-confirm."""
    und: set = set()
    adj: dict[str, set] = defaultdict(set)
    for s, _p, o, *_rest in full_edges:
        if s == o:
            continue
        u, v = (s, o) if s < o else (o, s)
        if (u, v) not in und:
            und.add((u, v))
            adj[u].add(v)
            adj[v].add(u)
    counts: Counter = Counter()
    for u, v in und:
        for w in adj[u] & adj[v]:
            if w > v:  # u < v < w: each triangle once
                counts[u] += 1
                counts[v] += 1
                counts[w] += 1
    ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    return [{"node": n, "n_triangles": c} for n, c in ranked]


def _communities(full_edges, iterations: int = 5, k: int = 20) -> list[dict]:
    """Twin of graph.analytics.label_propagation (synchronous, max-count
    tie→min-label)."""
    adj: dict[str, set] = defaultdict(set)
    for s, _p, o, *_rest in full_edges:
        if s != o:
            adj[s].add(o)
            adj[o].add(s)
    labels = {n: n for n in adj}
    for _ in range(iterations):
        new = {}
        for n, nbrs in adj.items():
            votes = Counter(labels[m] for m in nbrs)
            new[n] = min(votes.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        labels = new
    sizes = Counter(labels.values())
    ranked = sorted(sizes.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    return [{"community": c, "size": n} for c, n in ranked]


def _edge_latest(full_edges, k: int = 20) -> list[dict]:
    """Twin of graph.analytics.edge_latest (latest-wins upsert analog)."""
    agg: dict[tuple, list] = {}
    for s, p, o, url, epoch, _day in full_edges:
        a = agg.setdefault((s, p, o), [0, (epoch, url)])
        a[0] += 1
        a[1] = max(a[1], (epoch, url))
    ranked = sorted(
        agg.items(), key=lambda kv: (-kv[1][1][0], kv[0])
    )[:k]
    return [
        {
            "subj_id": s,
            "pred": p,
            "obj_id": o,
            "n": n,
            "last_ts": ts,
            "last_url": url,
        }
        for (s, p, o), (n, (ts, url)) in ranked
    ]


def _kcore_topk(full_edges, k: int = 3, top: int = 20) -> list[dict]:
    """Twin of graph.analytics.kcore: pure-python peel to fixpoint."""
    und = {(min(s, o), max(s, o)) for s, _p, o, *_r in full_edges if s != o}
    while True:
        deg: Counter = Counter()
        for u, v in und:
            deg[u] += 1
            deg[v] += 1
        keep = {n for n, d in deg.items() if d >= k}
        nxt = {(u, v) for u, v in und if u in keep and v in keep}
        if nxt == und:
            break
        und = nxt
    deg = Counter()
    for u, v in und:
        deg[u] += 1
        deg[v] += 1
    ranked = sorted(deg.items(), key=lambda kv: (-kv[1], kv[0]))[:top]
    return [{"node": n, "degree": d} for n, d in ranked]


def _sameas_topk(
    full_edges, threshold: float = 0.5, top: int = 20, mid_cap: int = 64
) -> list[dict]:
    """Twin of graph.analytics.sameas_candidates: capped-mid candidate
    generation + exact full-adjacency Jaccard (Spark-rounding via
    _round_spark before the threshold, mirroring the plan)."""
    adj: dict[str, set] = defaultdict(set)
    for s, _p, o, *_r in full_edges:
        if s != o:
            adj[s].add(o)
            adj[o].add(s)
    cands: set = set()
    for mid, nbrs_of_mid in adj.items():
        if len(nbrs_of_mid) > mid_cap:
            continue
        ns = sorted(nbrs_of_mid)
        for i in range(len(ns)):
            for j in range(i + 1, len(ns)):
                cands.add((ns[i], ns[j]))
    rows = []
    for e1, e2 in cands:
        inter = len(adj[e1] & adj[e2])
        jac = _round_spark(inter / len(adj[e1] | adj[e2]), 6)
        if jac >= threshold:
            rows.append({"e1": e1, "e2": e2, "jaccard": jac})
    return sorted(rows, key=lambda r: (-r["jaccard"], r["e1"], r["e2"]))[:top]


def _components_topk(full_edges, k: int = 20) -> list[dict]:
    """Twin of the kg_components query: union-find (this module's
    _union_find_components — independent of graph.cc) over the distinct
    non-self-loop canonical pairs; component sizes top-k."""
    pairs = sorted({(s, o) for s, _p, o, *_rest in full_edges if s != o})
    labels = _union_find_components(pairs)
    sizes = Counter(labels.values())
    ranked = sorted(sizes.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    return [{"component": c, "size": n} for c, n in ranked]


def _pred_canon(full_edges, k: int = 20) -> list[dict]:
    """Twin of the kg_pred_canon query (shared canonicalize_pred — the map
    itself is the semantics under test; the aggregation is independent)."""
    from kgforge.extract.predicates import canonicalize_pred

    n_by_canon: Counter = Counter()
    surfaces: dict[str, set] = defaultdict(set)
    for _s, p, _o, *_rest in full_edges:
        c = canonicalize_pred(p)
        n_by_canon[c] += 1
        surfaces[c].add(p)
    ranked = sorted(n_by_canon.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    return [
        {"canon_pred": c, "n": n, "n_surfaces": len(surfaces[c])}
        for c, n in ranked
    ]


def _bgp_family(full_edges, cap: int = 200) -> list[dict]:
    """Twin of the kg_bgp contract query: brute-force evaluation of the
    six BGP shapes (chain, cycle, optional, not_exists, alt, path) over
    the distinct canonical edge set — INDEPENDENT of graph/bgp.py,
    graph/wcoj.py, and graph/paths.py (plain dict/set joins and a
    hand-rolled BFS, the same method as the pytest oracles), so a
    planner bug cannot self-confirm.
    Each shape's bindings are capped to the first ``cap`` under the total
    order (a, b, c) — unique binding triples, so the cut is deterministic;
    None sorts first, mirroring Spark's asc_nulls_first."""
    edges = {(s, p, o) for s, p, o, *_rest in full_edges}
    by_pred: dict[str, list] = defaultdict(list)
    for s, p, o in edges:
        by_pred[p].append((s, o))
    wrk_by_src: dict[str, set] = defaultdict(set)
    wrk_pairs: set = set()
    for s, o in by_pred["works at"]:
        wrk_by_src[s].add(o)
        wrk_pairs.add((s, o))
    acq_by_src: dict[str, set] = defaultdict(set)
    for s, o in by_pred["acquired"]:
        acq_by_src[s].add(o)
    loc_by_src: dict[str, set] = defaultdict(set)
    for s, o in by_pred["located in"]:
        loc_by_src[s].add(o)
    # chain: ?a acquired ?b . ?b works at ?c
    chain = {
        (a, b, c)
        for a, bs in acq_by_src.items()
        for b in bs
        for c in wrk_by_src.get(b, ())
    }
    # optional: ?a acquired ?b OPTIONAL ?b located in ?c
    opt = set()
    for a, bs in acq_by_src.items():
        for b in bs:
            cs = loc_by_src.get(b)
            if cs:
                opt.update((a, b, c) for c in cs)
            else:
                opt.add((a, b, None))
    # cycle: ?a works at ?b . ?b acquired ?c . ?c works at ?a
    cyc = {
        (a, b, c)
        for (a, b) in wrk_pairs
        for c in acq_by_src.get(b, ())
        if (c, a) in wrk_pairs
    }
    # not_exists: ?a acquired ?b FILTER NOT EXISTS { ?b located in ?c }
    nex = {
        (a, b, None)
        for a, bs in acq_by_src.items()
        for b in bs
        if not loc_by_src.get(b)
    }
    # alt: ?a (works at | founded) ?b — inline alternation
    alt = {
        (s, o, None)
        for s, p, o in edges
        if p in ("works at", "founded")
    }
    # path: 3-hop any-predicate BFS (shortest distance) from the
    # lexically-smallest subject — twin of graph.paths.reachable_from
    adj: dict[str, set] = defaultdict(set)
    for s, _p, o in edges:
        adj[s].add(o)
    dist: dict[str, int] = {}
    if adj:  # empty edge set → empty path shape (matches the Spark side)
        frontier = [min(adj)]
        for hop in (1, 2, 3):
            nxt = []
            for n in frontier:
                for m in adj.get(n, ()):
                    if m not in dist:
                        dist[m] = hop
                        nxt.append(m)
            frontier = nxt
    path = {(n, str(d), None) for n, d in dist.items()}
    rows = []
    for shape, st in (
        ("alt", alt),
        ("chain", chain),
        ("cycle", cyc),
        ("not_exists", nex),
        ("optional", opt),
        ("path", path),
    ):
        ranked = sorted(st, key=lambda t: (t[0], t[1], t[2] is not None, t[2] or ""))
        for a, b, c in ranked[:cap]:
            rows.append({"shape": shape, "a": a, "b": b, "c": c})
    return rows


# ---------------------------------------------------------------------------
# parquet materialization
# ---------------------------------------------------------------------------


def _write(path: str, rows: list[dict], schema) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = {f.name: [r[f.name] for r in rows] for f in schema}
    pq.write_table(pa.table(cols, schema=schema), path)


def _fingerprint(tier: str, sf_dir: str) -> str:
    # content hash: re-creating the fixture directory with the same bytes
    # changes mtimes but must not re-stamp the committed _VERSION files
    doc_pq = os.path.join(sf_dir, "documents.parquet")
    if os.path.exists(doc_pq):
        with open(doc_pq, "rb") as fh:
            doc_sig = hashlib.sha256(fh.read()).hexdigest()
    else:
        doc_sig = "absent"
    return f"{EXPECTED_VERSION}|{tier}|{TIER_DOCS.get(tier, 300)}|{doc_sig}"


def ensure_expected(tier: str = "sf0.01", sf_dir: str | None = None) -> dict[str, str]:
    """Idempotently materialize all kg_* expected tables for ``tier``;
    returns {query_name: parquet_path}. Regenerates when the version stamp
    or the shared documents.parquet changed."""
    import pyarrow as pa

    sf_dir = sf_dir or f"/root/testdata/{tier}"
    out_dir = expected_dir(tier)
    os.makedirs(out_dir, exist_ok=True)
    paths = {t: os.path.join(out_dir, f"{t}.parquet") for t in KG_TABLES}
    stamp_path = os.path.join(out_dir, "_VERSION")
    stamp = _fingerprint(tier, sf_dir)
    if (
        os.path.exists(stamp_path)
        and open(stamp_path).read() == stamp
        and all(os.path.exists(p) for p in paths.values())
    ):
        return paths

    from kgforge.fixtures.gen import gen_alias_rows, gen_webdocs_rows

    n_docs = TIER_DOCS.get(tier, 300)
    norm = _normalized_docs(n_docs)
    trips = _triples(norm)
    alias_rows = list(gen_alias_rows(n_docs))
    amap = _alias_map(alias_rows)
    edge_rows = _edge_rows(trips, amap)
    url_day = {}
    url_info = {}
    for row in gen_webdocs_rows(n_docs):
        ts = row["warc_ts"]
        day = ts.strftime("%Y-%m-%d")
        url_day[row["url"]] = day
        url_info[row["url"]] = (int(ts.timestamp()), day)
    day_edges = _edge_rows_with_day(trips, amap, url_day)
    full_edges = _edge_rows_full(trips, amap, url_info)

    s = pa.string()
    _write(
        paths["kg_normalize"],
        norm,
        pa.schema(
            [
                ("url", s),
                ("lang", s),
                ("text_norm", s),
                ("n_tokens", pa.int32()),
                ("n_chunks", pa.int32()),
            ]
        ),
    )
    _write(
        paths["kg_sentences"],
        _sentences(norm),
        pa.schema([("url", s), ("sent_id", pa.int32()), ("sentence", s)]),
    )
    _write(
        paths["kg_triples"],
        trips,
        pa.schema(
            [
                ("url", s),
                ("sent_id", pa.int32()),
                ("subj", s),
                ("pred", s),
                ("obj", s),
                ("conf", pa.float64()),
            ]
        ),
    )
    _write(
        paths["kg_entities"],
        _entities(trips, alias_rows),
        pa.schema(
            [("mention", s), ("entity_id", s), ("canon", s), ("score", pa.float64())]
        ),
    )
    _write(
        paths["kg_edges_topk"],
        _edges_topk(edge_rows),
        pa.schema(
            [("subj_id", s), ("pred", s), ("obj_id", s), ("n", pa.int64())]
        ),
    )
    _write(
        paths["kg_mentions"],
        _mentions_topk(norm, alias_rows, amap),
        pa.schema([("canon_id", s), ("n", pa.int64())]),
    )
    _write(
        paths["kg_linked_fuzzy"],
        _linked_fuzzy_topk(trips, alias_rows, amap),
        pa.schema(
            [("mention", s), ("alias", s), ("canon_id", s), ("score", pa.float64())]
        ),
    )
    _write(
        paths["kg_cooccur"],
        _cooccur_topk(norm, alias_rows, amap),
        pa.schema([("e1", s), ("e2", s), ("n", pa.int64())]),
    )
    _write(
        paths["kg_degree_hist"],
        _degree_hist(edge_rows),
        pa.schema([("degree", pa.int64()), ("n_nodes", pa.int64())]),
    )
    _write(
        paths["kg_media_meta"],
        _media_meta(sf_dir),
        pa.schema(
            [
                ("format", s),
                ("n", pa.int64()),
                ("total_bytes", pa.int64()),
                ("avg_width", pa.float64()),
            ]
        ),
    )
    _write(
        paths["kg_token_tag_corpus"],
        _token_tag_corpus(norm),
        pa.schema([("chunk_len", pa.int32()), ("n_chunks", pa.int64())]),
    )
    _write(
        paths["kg_pagerank_topk"],
        _pagerank_topk(edge_rows),
        pa.schema([("node", s), ("rank", pa.float64())]),
    )
    from kgforge.graph.temporal import (
        WINDOW_B_HI,
        WINDOW_B_LO,
        WINDOW_HI,
        WINDOW_LO,
    )

    _write(
        paths["kg_degree_over_time"],
        _degree_over_time(day_edges),
        pa.schema([("day", s), ("node", s), ("degree", pa.int64())]),
    )
    _write(
        paths["kg_daily_nodes"],
        _daily_nodes(day_edges),
        pa.schema([("day", s), ("n_nodes", pa.int64())]),
    )
    _write(
        paths["kg_window_subgraph"],
        _window_subgraph(day_edges, WINDOW_LO, WINDOW_HI),
        pa.schema(
            [("subj_id", s), ("pred", s), ("obj_id", s), ("n", pa.int64())]
        ),
    )
    _write(
        paths["kg_edge_diff"],
        _window_edge_diff(
            day_edges, WINDOW_LO, WINDOW_HI, WINDOW_B_LO, WINDOW_B_HI
        ),
        pa.schema(
            [("subj_id", s), ("pred", s), ("obj_id", s), ("n", pa.int64())]
        ),
    )
    _write(
        paths["kg_entity_profile"],
        _entity_profile(full_edges),
        pa.schema(
            [
                ("node", s),
                ("out_edges", pa.int64()),
                ("in_edges", pa.int64()),
                ("n_preds", pa.int64()),
                ("first_day", s),
                ("last_day", s),
            ]
        ),
    )
    _write(
        paths["kg_two_hop"],
        _two_hop(full_edges),
        pa.schema([("node", s), ("reach", pa.int64())]),
    )
    _write(
        paths["kg_triangles"],
        _triangles(full_edges),
        pa.schema([("node", s), ("n_triangles", pa.int64())]),
    )
    _write(
        paths["kg_communities"],
        _communities(full_edges),
        pa.schema([("community", s), ("size", pa.int64())]),
    )
    _write(
        paths["kg_edge_latest"],
        _edge_latest(full_edges),
        pa.schema(
            [
                ("subj_id", s),
                ("pred", s),
                ("obj_id", s),
                ("n", pa.int64()),
                ("last_ts", pa.int64()),
                ("last_url", s),
            ]
        ),
    )
    _write(
        paths["kg_pred_canon"],
        _pred_canon(full_edges),
        pa.schema([("canon_pred", s), ("n", pa.int64()), ("n_surfaces", pa.int64())]),
    )
    _write(
        paths["kg_components"],
        _components_topk(full_edges),
        pa.schema([("component", s), ("size", pa.int64())]),
    )
    _write(
        paths["kg_kcore"],
        _kcore_topk(full_edges),
        pa.schema([("node", s), ("degree", pa.int64())]),
    )
    _write(
        paths["kg_sameas_candidates"],
        _sameas_topk(full_edges),
        pa.schema([("e1", s), ("e2", s), ("jaccard", pa.float64())]),
    )
    _write(
        paths["kg_bgp"],
        _bgp_family(full_edges),
        pa.schema([("shape", s), ("a", s), ("b", s), ("c", s)]),
    )
    with open(stamp_path, "w") as f:
        f.write(stamp)
    return paths


def kg_oracle_sql(tier: str = "sf0.01", sf_dir: str | None = None) -> dict[str, str]:
    """DuckDB oracle statements for the kg_* queries (plain SELECTs over
    the materialized expected parquet — all aggregation happened in the
    pure-Python twin, so no DuckDB type coercion can drift)."""
    paths = ensure_expected(tier, sf_dir)
    return {
        name: f"SELECT * FROM read_parquet('{path}')"
        for name, path in paths.items()
    }
