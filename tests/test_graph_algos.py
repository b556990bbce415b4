"""PageRank + degrees (operators/graph_algos.py) and the unigram LM
quality scorer (text_analysis.unigram_lm_scores) — closed-form and
reference-implementation checks on hand-built fixtures."""

import math

import pytest

import numpy as np
from pyspark.sql import functions as F

from legal_knowledge_graph_spark.operators.graph_algos import (
    degrees, pagerank,
)
from legal_knowledge_graph_spark.operators.text_analysis import (
    unigram_lm_scores,
)


def _numpy_pagerank(edge_list, damping, n_iter):
    nodes = sorted({a for a, _ in edge_list} | {b for _, b in edge_list})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    out = {}
    for a, _ in edge_list:
        out[a] = out.get(a, 0) + 1
    r = np.full(n, 1.0 / n)
    for _ in range(n_iter):
        c = np.zeros(n)
        for a, b in edge_list:
            c[idx[b]] += r[idx[a]] / out[a]
        dangling = max(0.0, 1.0 - c.sum())
        r = (1 - damping) / n + damping * (c + dangling / n)
    return {nodes[i]: r[i] for i in range(n)}


def test_pagerank_matches_reference_power_iteration(spark):
    # diamond + dangling sink: a->b, a->c, b->d, c->d (d dangles)
    edge_list = [("a", "b"), ("a", "c"), ("b", "d"), ("c", "d")]
    e = spark.createDataFrame(edge_list, "src string, dst string")
    got = {r.node: r["rank"] for r in pagerank(e, n_iter=10).collect()}
    want = _numpy_pagerank(edge_list, 0.85, 10)
    assert set(got) == set(want)
    for node in want:
        assert math.isclose(got[node], want[node], rel_tol=1e-9), node
    # the dangling redistribution keeps total mass = 1
    assert math.isclose(sum(got.values()), 1.0, rel_tol=1e-9)
    # symmetric midpoints tie; the sink accumulates the most rank
    assert math.isclose(got["b"], got["c"], rel_tol=1e-12)
    assert got["d"] == max(got.values())


def test_pagerank_duplicate_edges_collapse_and_empty_graph(spark):
    e = spark.createDataFrame(
        [("a", "b")] * 5 + [("b", "a")], "src string, dst string")
    got = {r.node: r["rank"] for r in pagerank(e, n_iter=5).collect()}
    want = _numpy_pagerank([("a", "b"), ("b", "a")], 0.85, 5)
    for node in want:
        assert math.isclose(got[node], want[node], rel_tol=1e-9)
    empty = spark.createDataFrame([], "src string, dst string")
    assert pagerank(empty).count() == 0


def test_degrees(spark):
    e = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c"), ("a", "b")],
        "src string, dst string")
    got = {r.node: (r.out_degree, r.in_degree) for r in degrees(e).collect()}
    assert got == {"a": (2, 0), "b": (1, 1), "c": (0, 2)}


def test_unigram_lm_scores_closed_form(spark):
    docs = spark.createDataFrame(
        [(0, "the cat"), (1, "the the dog"), (2, "  ")],
        "doc_id long, text string")
    # corpus counts: the=3, cat=1, dog=1 -> T=5, V=3, denom = 5 + 0.5*3
    denom = 5 + 0.5 * 3
    p = {"the": (3 + 0.5) / denom, "cat": (1 + 0.5) / denom,
         "dog": (1 + 0.5) / denom}
    out = {r.doc_id: r for r in unigram_lm_scores(docs).collect()}
    assert set(out) == {0, 1}  # doc 2 has no tokens
    assert out[0].n_tokens == 2
    want0 = (math.log10(p["the"]) + math.log10(p["cat"])) / 2
    assert math.isclose(out[0].avg_logprob, want0, rel_tol=1e-12)
    want1 = (2 * math.log10(p["the"]) + math.log10(p["dog"])) / 3
    assert math.isclose(out[1].avg_logprob, want1, rel_tol=1e-12)
    # the all-common-words doc scores higher (more typical text)
    assert out[1].avg_logprob > want0 or out[1].n_tokens == 3


def test_unigram_lm_empty_corpus(spark):
    docs = spark.createDataFrame([(0, "")], "doc_id long, text string")
    assert unigram_lm_scores(docs).count() == 0


def test_pagerank_on_kg_edges(spark):
    """PageRank runs directly on the pipeline's edge table; hub entities
    (the repo, shared licenses/modules — high in-degree endpoints) must
    outrank leaf files, and mass must stay 1."""
    from legal_knowledge_graph_spark.corpus import corpus_df
    from legal_knowledge_graph_spark.plans import run_pipeline

    res = run_pipeline(spark, corpus_df(spark, 40, seed=42))
    edges = res.edges.where(~F.col("need_coref"))
    pr = pagerank(edges, src="subject_entity_id", dst="object_entity_id",
                  n_iter=10)
    rows = pr.join(
        res.nodes, pr["node"] == res.nodes["entity_id"]
    ).select("entity_type", "canonical_name", "rank").collect()
    assert abs(sum(r["rank"] for r in rows) - 1.0) < 1e-6
    by_rank = sorted(rows, key=lambda r: -r["rank"])
    top_types = {r.entity_type for r in by_rank[:5]}
    # sinks of file_in_repo / license_covers_repo / file_imports_module
    # edges dominate; a leaf File never beats every hub
    assert top_types & {"Repo", "License", "Module", "Author"}
    assert by_rank[0].entity_type != "File"


def test_pack_sequences_closed_form(spark):
    """Concat-and-chunk placement: offsets are the running token sum per
    shard in doc_id order; seq_first/seq_last bracket the budget-sized
    chunks a doc overlaps; zero-token docs are dropped."""
    from legal_knowledge_graph_spark.operators.packing import pack_sequences

    # n_shards=2: even doc_ids -> shard 0, odd -> shard 1
    docs = spark.createDataFrame(
        [(0, "a b c"),            # 3 tokens, shard 0, start 0
         (1, "w x y z"),          # 4 tokens, shard 1, start 0
         (2, "d e f g h"),        # 5 tokens, shard 0, start 3 -> spans chunk 0..1
         (3, ""),                 # 0 tokens -> dropped
         (4, "i j")],             # 2 tokens, shard 0, start 8 -> chunk 2
        "doc_id long, text string")
    out = {r.doc_id: r for r in
           pack_sequences(docs, budget=4, n_shards=2).collect()}
    assert set(out) == {0, 1, 2, 4}
    assert (out[0].shard, out[0].token_start, out[0].seq_first,
            out[0].seq_last) == (0, 0, 0, 0)
    assert (out[1].shard, out[1].token_start, out[1].seq_first,
            out[1].seq_last) == (1, 0, 0, 0)
    # doc 2: tokens [3,8) with budget 4 -> chunks 0 and 1
    assert (out[2].token_start, out[2].seq_first, out[2].seq_last) == (3, 0, 1)
    # doc 4: tokens [8,10) -> chunk 2 only
    assert (out[4].token_start, out[4].seq_first, out[4].seq_last) == (8, 2, 2)
    # shard streams are gapless: starts partition the token axis
    assert out[2].token_start == out[0].n_tokens
    assert out[4].token_start == out[0].n_tokens + out[2].n_tokens


def test_pack_sequences_plan_is_shard_local(spark):
    """The only Exchange is the hash partition on `shard` feeding the
    window — no global sort, no joins."""
    from legal_knowledge_graph_spark.operators.packing import pack_sequences

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = pack_sequences(docs)._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(shard" in plan
    assert "Join" not in plan and "Cartesian" not in plan


def _brute_triangles(edge_list):
    """Reference per-node triangle counts over the undirected simple
    graph (self-loops dropped, duplicates/reversals collapsed)."""
    import itertools

    und = {tuple(sorted(e)) for e in edge_list if e[0] != e[1]}
    nodes = sorted({n for e in und for n in e})
    tri = {n: 0 for n in nodes}
    deg = {n: 0 for n in nodes}
    for a, b in und:
        deg[a] += 1
        deg[b] += 1
    for x, y, z in itertools.combinations(nodes, 3):
        if {(x, y), (x, z), (y, z)} <= und:
            tri[x] += 1
            tri[y] += 1
            tri[z] += 1
    return nodes, deg, tri


def _check_triangles(spark, edge_list):
    from legal_knowledge_graph_spark.operators.graph_algos import (
        triangle_count,
    )

    nodes, deg, tri = _brute_triangles(edge_list)
    e = spark.createDataFrame(edge_list, "src string, dst string")
    got = {r.node: r for r in triangle_count(e).collect()}
    assert sorted(got) == nodes
    for n in nodes:
        assert got[n].degree == deg[n], n
        assert got[n].n_triangles == tri[n], n
        want_c = (2.0 * tri[n] / (deg[n] * (deg[n] - 1))
                  if deg[n] >= 2 else 0.0)
        assert abs(got[n].clustering - round(want_c, 6)) < 1e-9, n


def test_triangle_count_complete_graph(spark):
    # K4: every node has degree 3, sits in C(3,2)=3 triangles, clustering 1
    k4 = [(a, b) for a in "abcd" for b in "abcd" if a < b]
    _check_triangles(spark, k4)


def test_triangle_count_mixed_graph_vs_bruteforce(spark):
    # hub h touching everything + one clean triangle + a dangling path;
    # reversed duplicates and a self-loop must collapse
    edges = [("h", "a"), ("a", "h"), ("h", "b"), ("h", "c"), ("h", "d"),
             ("a", "b"), ("c", "d"), ("d", "e"), ("e", "f"), ("x", "x"),
             ("p", "q"), ("q", "r"), ("r", "p"), ("p", "q")]
    _check_triangles(spark, [e for e in edges if e != ("x", "x")])


def test_triangle_count_triangle_free(spark):
    # bipartite square: zero triangles everywhere
    _check_triangles(spark, [("a", "x"), ("a", "y"), ("b", "x"), ("b", "y")])


def _brute_lpa(edge_list, n_iter):
    """Reference synchronous LPA: most-frequent neighbor label, min-label
    tiebreak, all nodes relabel every round."""
    und = {tuple(sorted(e)) for e in edge_list if e[0] != e[1]}
    adj = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    labels = {n: n for n in adj}
    for _ in range(n_iter):
        new = {}
        for v, ns in adj.items():
            counts = {}
            for u in ns:
                counts[labels[u]] = counts.get(labels[u], 0) + 1
            top_n = max(counts.values())
            new[v] = min(l for l, c in counts.items() if c == top_n)
        labels = new
    return labels


def test_label_propagation_two_cliques_bridge(spark):
    from legal_knowledge_graph_spark.operators.graph_algos import (
        label_propagation,
    )

    # two triangles joined by one bridge edge; LPA should settle into two
    # communities matching the reference implementation exactly
    edges = [("a", "b"), ("b", "c"), ("c", "a"),
             ("x", "y"), ("y", "z"), ("z", "x"), ("c", "x"),
             ("b", "a")]  # duplicate reversed edge must collapse
    for n_iter in (1, 3, 5):
        want = _brute_lpa(edges, n_iter)
        e = spark.createDataFrame(edges, "src string, dst string")
        got = {r.node: r.label
               for r in label_propagation(e, n_iter=n_iter).collect()}
        assert got == want, n_iter


def test_label_propagation_star_converges_to_hub_vote(spark):
    from legal_knowledge_graph_spark.operators.graph_algos import (
        label_propagation,
    )

    # star: hub h with leaves l1..l4 — after round 1 every leaf takes h's
    # label and h takes the min leaf label; matches reference
    edges = [("h", f"l{i}") for i in range(1, 5)]
    want = _brute_lpa(edges, 2)
    e = spark.createDataFrame(edges, "src string, dst string")
    got = {r.node: r.label for r in label_propagation(e, n_iter=2).collect()}
    assert got == want


def test_pmi_collocations_closed_form(spark):
    import math

    from legal_knowledge_graph_spark.operators.text_analysis import (
        pmi_collocations,
    )

    # "aa bb" x3 and "aa cc" x1 in one doc stream; min_count=2 keeps only
    # (aa,bb) and the in-between (bb,aa) pairs
    docs = spark.createDataFrame(
        [(1, "aa bb aa bb aa bb aa cc")], "doc_id long, text string")
    rows = pmi_collocations(docs, k=10, min_count=2).collect()
    got = {(r.x, r.y): (r.n_xy, r.pmi, r.rank) for r in rows}
    # tokens: aa x4, bb x3, cc x1 (T=8); bigrams: (aa,bb) x3, (bb,aa) x3,
    # (aa,cc) x1 (B=7); min_count=2 keeps the first two, which tie on pmi
    # (symmetric product) and break on x asc
    t, b = 8.0, 7.0
    def pmi(nxy, nx, ny):
        return round(math.log((nxy / b) / ((nx / t) * (ny / t))), 6)
    assert got == {
        ("aa", "bb"): (3, pmi(3, 4, 3), 1),
        ("bb", "aa"): (3, pmi(3, 3, 4), 2),
    }


def test_pmi_collocations_empty_and_short_docs(spark):
    from legal_knowledge_graph_spark.operators.text_analysis import (
        pmi_collocations,
    )

    docs = spark.createDataFrame(
        [(1, ""), (2, "solo"), (3, "  ")], "doc_id long, text string")
    assert pmi_collocations(docs, k=5, min_count=1).count() == 0


def test_hits_closed_form(spark):
    from legal_knowledge_graph_spark.operators.graph_algos import hits

    # two hubs pointing at shared authorities; a3 has an out-edge too
    edges = [("h1", "a1"), ("h1", "a2"), ("h2", "a2"), ("h2", "a3"),
             ("a3", "a1")]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r.node: (r.hub, r.auth) for r in hits(df, n_iter=5).collect()}

    # replicate the exact recurrence in python
    nodes = sorted({u for e in edges for u in e})
    h = {v: 1.0 / len(nodes) for v in nodes}
    a = {}
    for _ in range(5):
        a = {}
        for u, v in edges:
            a[v] = a.get(v, 0.0) + h.get(u, 0.0)
        sa = sum(a.values())
        a = {v: x / sa for v, x in a.items()}
        h = {}
        for u, v in edges:
            h[u] = h.get(u, 0.0) + a.get(v, 0.0)
        sh = sum(h.values())
        h = {u: x / sh for u, x in h.items()}
    for v in nodes:
        assert got[v][0] == pytest.approx(h.get(v, 0.0), abs=1e-12)
        assert got[v][1] == pytest.approx(a.get(v, 0.0), abs=1e-12)
    # hubs have zero authority (nothing points at them) and vice versa
    assert got["h1"][1] == 0.0 and got["a2"][0] == 0.0
    # L1 invariants hold after the final normalization
    assert sum(x for x, _ in got.values()) == pytest.approx(1.0)
    assert sum(x for _, x in got.values()) == pytest.approx(1.0)


def test_hits_empty_graph(spark):
    from legal_knowledge_graph_spark.operators.graph_algos import hits

    df = spark.createDataFrame([], "src string, dst string")
    assert hits(df, n_iter=3).count() == 0


def test_k_core_peels_cascading_chain(spark):
    from legal_knowledge_graph_spark.operators.graph_algos import k_core

    # 4-clique {a,b,c,d} with a pendant chain d-e-f: k=2 must peel f,
    # then e (its degree drops to 1 only AFTER f goes), keeping the
    # clique; k=4 peels everything
    clique = [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"),
              ("c", "d")]
    chain = [("d", "e"), ("e", "f")]
    df = spark.createDataFrame(clique + chain, "src string, dst string")
    core2 = {r.node: r.degree for r in k_core(df, k=2, max_iter=8).collect()}
    assert core2 == {"a": 3, "b": 3, "c": 3, "d": 3}
    assert k_core(df, k=4, max_iter=8).count() == 0
    # duplicate/reversed/self edges collapse before peeling
    noisy = df.unionByName(spark.createDataFrame(
        [("b", "a"), ("a", "a"), ("a", "b")], "src string, dst string"))
    assert {r.node: r.degree
            for r in k_core(noisy, k=2, max_iter=8).collect()} == core2


def test_remove_duplicate_spans_rebuilds_text(spark):
    from legal_knowledge_graph_spark.operators.dedup import (
        remove_duplicate_spans,
    )

    shared = "p1 p2 p3 p4 p5"
    rows = [
        (1, "u1 u2 " + shared + " u3 u4"),
        (2, shared + " y1 y2"),
        (3, "solo doc"),
        (4, shared),           # entirely duplicated -> cleaned to ''
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.n_tokens, r.n_removed, r.cleaned_text)
           for r in remove_duplicate_spans(docs, k=5, min_docs=2).collect()}
    assert got == {
        1: (9, 5, "u1 u2 u3 u4"),
        2: (7, 5, "y1 y2"),
        3: (2, 0, "solo doc"),
        4: (5, 5, ""),
    }


def test_bfs_distances_closed_form(spark):
    from legal_knowledge_graph_spark.operators.graph_algos import (
        bfs_distances,
    )

    # path a-b-c-d-e plus a branch c-x; seed {a}
    edges = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("c", "x")]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r.node: r.dist
           for r in bfs_distances(df, ["a"], max_hops=6).collect()}
    assert got == {"a": 0, "b": 1, "c": 2, "d": 3, "x": 3, "e": 4}
    # hop bound truncates the reach
    got2 = {r.node: r.dist
            for r in bfs_distances(df, ["a"], max_hops=2).collect()}
    assert got2 == {"a": 0, "b": 1, "c": 2}
    # multi-source takes the min over seeds; duplicate seeds collapse
    got3 = {r.node: r.dist
            for r in bfs_distances(df, ["a", "e", "e"], max_hops=6).collect()}
    assert got3 == {"a": 0, "b": 1, "c": 2, "d": 1, "x": 3, "e": 0}
    # directed: edges only traverse src->dst
    got4 = {r.node: r.dist for r in bfs_distances(
        df, ["c"], max_hops=6, directed=True).collect()}
    assert got4 == {"c": 0, "d": 1, "x": 1, "e": 2}
    # disconnected seed reaches only itself
    assert {r.node: r.dist for r in bfs_distances(
        df, ["zz"], max_hops=3).collect()} == {"zz": 0}


def _brute_link_prediction(edge_list, cap=None):
    """Reference scorer: dict adjacency, non-adjacent pairs sharing >=1
    common neighbor, apex-degree cap applied to which wedges count."""
    import itertools
    import math

    und = {tuple(sorted(e)) for e in edge_list if e[0] != e[1]}
    adj = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    out = {}
    for w, ns in adj.items():
        if cap is not None and len(ns) > cap:
            continue
        for a, b in itertools.combinations(sorted(ns), 2):
            if (a, b) in und:
                continue
            cn, aa = out.get((a, b), (0, 0.0))
            out[(a, b)] = (cn + 1, aa + 1.0 / math.log(len(adj[w])))
    return {
        (a, b): (cn,
                 round(cn / (len(adj[a]) + len(adj[b]) - cn), 6),
                 round(aa, 6))
        for (a, b), (cn, aa) in out.items()}


@pytest.mark.parametrize("cap", [None, 3])
def test_link_prediction_vs_bruteforce(spark, cap):
    from legal_knowledge_graph_spark.operators.graph_algos import (
        link_prediction,
    )

    # hub h (degree 5) + triangle + path + duplicates/self-loop to
    # collapse; cap=3 drops every wedge through the hub
    edges = [("h", "a"), ("a", "h"), ("h", "b"), ("h", "c"), ("h", "d"),
             ("h", "e"), ("a", "b"), ("c", "d"), ("d", "e"), ("x", "x"),
             ("p", "q"), ("q", "r"), ("r", "p"), ("s", "q"), ("s", "r")]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {
        (r.a, r.b): (r.common_neighbors, r.jaccard, r.adamic_adar)
        for r in link_prediction(df, max_apex_degree=cap).collect()}
    exp = _brute_link_prediction(
        [e for e in edges if e[0] != e[1]], cap=cap)
    assert got == exp


def test_link_prediction_top_k_order(spark):
    from legal_knowledge_graph_spark.operators.graph_algos import (
        link_prediction,
    )

    edges = [("h", x) for x in "abcde"] + [("a", "b"), ("c", "d")]
    df = spark.createDataFrame(edges, "src string, dst string")
    full = link_prediction(df).collect()
    ordered = sorted(
        full, key=lambda r: (-r.adamic_adar, -r.common_neighbors, r.a, r.b))
    top3 = link_prediction(df, top_k=3).collect()
    assert [(r.a, r.b) for r in top3] == [(r.a, r.b) for r in ordered[:3]]


def test_ccnet_buckets_vs_reference(spark):
    """Independent python replay: unigram LM -> round(4) -> numpy type-7
    terciles per stratum -> head/middle/tail; must match row-for-row."""
    import numpy as np
    from legal_knowledge_graph_spark.operators.text_analysis import (
        ccnet_buckets,
    )

    rows = []
    for i in range(30):
        lang = "en" if i % 2 == 0 else "de"
        # vary typicality: low-i docs reuse common words, high-i docs
        # inject rare tokens
        words = ["the"] * 3 + [f"w{i % 5}"] * 2 + [f"rare{i}"] * ((i // 2) % 4)
        rows.append((i, lang, " ".join(words)))
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")

    # reference scores
    from collections import Counter
    corpus = Counter()
    toks = {}
    for i, lang, text in rows:
        t = [w for w in text.lower().strip().split() if w]
        toks[i] = t
        corpus.update(t)
    T, V = sum(corpus.values()), len(corpus)
    denom = T + 0.5 * V
    score = {
        i: round(sum(math.log10((corpus[w] + 0.5) / denom) for w in t)
                 / len(t), 4)
        for i, t in toks.items() if t}
    exp = {}
    for lang in ("en", "de"):
        vals = np.array(sorted(score[i] for i, l, _ in rows if l == lang))
        c_lo = float(np.percentile(vals, 100 / 3, method="linear"))
        c_hi = float(np.percentile(vals, 200 / 3, method="linear"))
        for i, l, _ in rows:
            if l != lang:
                continue
            s = score[i]
            exp[i] = ("head" if s >= c_hi
                      else "tail" if s < c_lo else "middle")

    got = {r.doc_id: r.bucket for r in ccnet_buckets(docs).collect()}
    assert got == exp
    # every stratum produces all three buckets on this fixture
    assert {exp[i] for i in exp} == {"head", "middle", "tail"}


def _numpy_ppr(edge_list, seeds, damping, n_iter):
    nodes = sorted({a for a, _ in edge_list} | {b for _, b in edge_list})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    out = {}
    for a, _ in edge_list:
        out[a] = out.get(a, 0) + 1
    present = [s for s in sorted(set(seeds)) if s in idx]
    tele = np.zeros(n)
    for s in present:
        tele[idx[s]] = 1.0 / len(present)
    r = tele.copy()
    for _ in range(n_iter):
        c = np.zeros(n)
        for a, b in edge_list:
            c[idx[b]] += r[idx[a]] / out[a]
        dangling = max(0.0, 1.0 - c.sum())
        r = (1 - damping) * tele + damping * (c + dangling * tele)
    return {nodes[i]: r[i] for i in range(n)}


def test_personalized_pagerank_matches_reference(spark):
    # chain with a side loop + dangling sink; seed mass should
    # concentrate near the seeds, far nodes near zero
    edge_list = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"),
                 ("d", "e"), ("x", "a")]
    e = spark.createDataFrame(edge_list, "src string, dst string")
    got = {r.node: r["rank"]
           for r in pagerank(e, n_iter=8, seeds=["a", "x"]).collect()}
    want = _numpy_ppr(edge_list, ["a", "x"], 0.85, 8)
    assert set(got) == set(want)
    for node in want:
        assert math.isclose(got[node], want[node],
                            rel_tol=1e-9, abs_tol=1e-15), node
    assert got["a"] > got["e"]
    # absent seeds renormalize over the present ones; all-absent raises
    got2 = {r.node: r["rank"]
            for r in pagerank(e, n_iter=8, seeds=["a", "zz"]).collect()}
    want2 = _numpy_ppr(edge_list, ["a"], 0.85, 8)
    for node in want2:
        assert math.isclose(got2[node], want2[node],
                            rel_tol=1e-9, abs_tol=1e-15), node
    with pytest.raises(ValueError):
        pagerank(e, n_iter=2, seeds=["zz"])


def test_sssp_weighted_closed_form(spark):
    from legal_knowledge_graph_spark.operators.graph_algos import (
        sssp_weighted,
    )

    # cheapest path beats fewest hops: a-b-c costs 2, direct a-c costs 10
    edges = [("a", "b", 1.0), ("b", "c", 1.0), ("a", "c", 10.0),
             ("c", "d", 5.0)]
    df = spark.createDataFrame(edges, "src string, dst string, weight double")
    got = {r.node: r.dist
           for r in sssp_weighted(df, ["a"], max_hops=8).collect()}
    assert got == {"a": 0.0, "b": 1.0, "c": 2.0, "d": 7.0}
    # hop bound: with <=1 edge the direct (expensive) edge wins for c
    got1 = {r.node: r.dist
            for r in sssp_weighted(df, ["a"], max_hops=1).collect()}
    assert got1 == {"a": 0.0, "b": 1.0, "c": 10.0}
    # parallel edges collapse to min weight
    dup = spark.createDataFrame(
        edges + [("a", "b", 0.5)], "src string, dst string, weight double")
    assert {r.node: r.dist
            for r in sssp_weighted(dup, ["a"], max_hops=8).collect()}["b"] \
        == 0.5
    # directed: no back-traversal
    gotd = {r.node: r.dist for r in sssp_weighted(
        df, ["c"], max_hops=8, directed=True).collect()}
    assert gotd == {"c": 0.0, "d": 5.0}
    # multi-source min over seeds
    gotm = {r.node: r.dist
            for r in sssp_weighted(df, ["a", "d"], max_hops=8).collect()}
    assert gotm == {"a": 0.0, "b": 1.0, "c": 2.0, "d": 0.0}


def test_sssp_weighted_early_exit_identical_to_full_unroll(spark):
    from legal_knowledge_graph_spark.operators.graph_algos import (
        sssp_weighted,
    )

    # a 4-cycle with a tail: fixpoint reached well before 12 rounds, so
    # the (count, sum)-observed early exit must not change the output
    edges = [("a", "b", 2.0), ("b", "c", 3.0), ("c", "d", 2.0),
             ("d", "a", 3.0), ("d", "e", 1.0)]
    df = spark.createDataFrame(edges, "src string, dst string, weight double")
    fast = sorted(map(tuple, sssp_weighted(df, ["a"], max_hops=12).collect()))
    slow = sorted(map(tuple, sssp_weighted(df, ["a"], max_hops=4).collect()))
    assert fast == slow == [
        ("a", 0.0), ("b", 2.0), ("c", 5.0), ("d", 3.0), ("e", 4.0)]
