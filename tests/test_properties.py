"""Property-based invariants over random small graphs (hypothesis).

These check engine-level laws the reference semantics imply, on graphs
the fixtures don't reach (self-loops, parallel edges, isolated nodes,
disconnected pieces).  Python-side oracles are tiny BFS/set routines.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from networkframe_spark import NetworkFrame

N_MAX = 7

_edges = st.lists(
    st.tuples(st.integers(0, N_MAX - 1), st.integers(0, N_MAX - 1)),
    min_size=0,
    max_size=10,
)

_settings = settings(
    max_examples=8,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _frame(spark, edge_list):
    nodes = spark.createDataFrame(
        [(i, float(i * 10)) for i in range(N_MAX)], "id long, value double"
    )
    edges = spark.createDataFrame(
        [(s, t, 1.0) for s, t in edge_list] or [],
        "source long, target long, weight double",
    )
    return NetworkFrame(nodes, edges)


def _py_components(edge_list, n=N_MAX):
    adj = {i: set() for i in range(n)}
    for s, t in edge_list:
        adj[s].add(t)
        adj[t].add(s)
    seen, comps = set(), []
    for i in range(n):
        if i in seen:
            continue
        stack, comp = [i], set()
        while stack:
            x = stack.pop()
            if x in comp:
                continue
            comp.add(x)
            stack.extend(adj[x] - comp)
        seen |= comp
        comps.append(frozenset(comp))
    return comps


@given(edge_list=_edges, threshold=st.integers(0, N_MAX))
@_settings
def test_query_nodes_closure_invariant(spark, edge_list, threshold):
    """Filtered frame keeps exactly the edges with both endpoints
    surviving, and no others."""
    nf = _frame(spark, edge_list)
    out = nf.query_nodes(f"id < {threshold}")
    kept_nodes = {r["id"] for r in out.nodes.collect()}
    kept_edges = [(r["source"], r["target"]) for r in out.edges.collect()]
    assert kept_nodes == {i for i in range(N_MAX) if i < threshold}
    expect = sorted((s, t) for s, t in edge_list if s in kept_nodes and t in kept_nodes)
    assert sorted(kept_edges) == expect


@given(edge_list=_edges)
@_settings
def test_weak_components_partition(spark, edge_list):
    """Component labels are dense 0..k-1, partition the node set, and
    agree with a python BFS oracle."""
    nf = _frame(spark, edge_list)
    labels = {
        r["id"]: r["component"]
        for r in nf.component_labels(directed=False).collect()
    }
    assert set(labels) == set(range(N_MAX))
    comps = _py_components(edge_list)
    assert len(set(labels.values())) == len(comps)
    assert set(labels.values()) == set(range(len(comps)))
    for comp in comps:
        assert len({labels[i] for i in comp}) == 1, f"split component {comp}"


# The *_distributed twins rerun a property on the distributed loops
# (guard forced to 0) with fewer examples: those loops cost seconds.
_twin_settings = settings(_settings, max_examples=3)


@given(edge_list=_edges)
@_twin_settings
def test_weak_components_partition_distributed(spark, distributed, edge_list):
    test_weak_components_partition.hypothesis.inner_test(spark, edge_list)


@given(edge_list=_edges)
@_settings
def test_k1_pairs_are_neighbors(spark, edge_list):
    """k=1 undirected pair table == symmetrized neighbor relation
    minus self-loops."""
    nf = _frame(spark, edge_list)
    pairs = {
        (r["node"], r["neighbor"])
        for r in nf.k_hop_pairs(1, directed=False, drop_self=True).collect()
    }
    expect = set()
    for s, t in edge_list:
        if s != t:
            expect.add((s, t))
            expect.add((t, s))
    assert pairs == expect


@given(edge_list=_edges)
@_settings
def test_condense_preserves_edge_count(spark, edge_list):
    """Quotient-graph sizes sum to the original edge count."""
    nf = _frame(spark, edge_list)
    cond = nf.groupby_nodes("value").size_edges()
    assert sum(r["size"] for r in cond.collect()) == len(edge_list)


@given(edge_list=_edges)
@_settings
def test_strong_components_vs_reachability_oracle(spark, edge_list):
    """SCC labels (iterative Tarjan under the local guard) must equal
    the equivalence classes of mutual reachability."""
    nf = _frame(spark, edge_list)
    labels = {
        r["id"]: r["component"]
        for r in nf.component_labels(directed=True, connection="strong").collect()
    }
    # brute-force reachability closure
    reach = {i: {i} for i in range(N_MAX)}
    changed = True
    while changed:
        changed = False
        for s, t in edge_list:
            new = reach[t] - reach[s]
            if new:
                reach[s] |= new
                changed = True
    for a in range(N_MAX):
        for b in range(N_MAX):
            same = b in reach[a] and a in reach[b]
            assert (labels[a] == labels[b]) == same, (a, b, labels)


@given(edge_list=_edges)
@_settings
def test_triangle_counts_match_bruteforce(spark, edge_list):
    """Per-node triangle counts equal the brute-force count over the
    undirected simple projection (loops dropped, duplicates collapsed)."""
    nf = _frame(spark, edge_list)
    got = {r["id"]: r["triangles"] for r in nf.triangle_counts().collect()}
    und = {frozenset((s, t)) for s, t in edge_list if s != t}
    want = {i: 0 for i in range(N_MAX)}
    import itertools

    for a, b, c in itertools.combinations(range(N_MAX), 3):
        if (
            frozenset((a, b)) in und
            and frozenset((a, c)) in und
            and frozenset((b, c)) in und
        ):
            want[a] += 1
            want[b] += 1
            want[c] += 1
    assert got == want, (sorted(und), got, want)


@given(edge_list=_edges)
@_settings
def test_pagerank_matches_python_loop(spark, edge_list):
    """Engine PageRank equals the plain-Python recurrence (dangling
    mass dropped, multigraph multiplicity) within rounding tolerance."""
    nf = _frame(spark, edge_list)
    got = {r["id"]: r["pagerank"] for r in nf.pagerank(n_iter=3).collect()}
    outdeg: dict[int, int] = {}
    for s, _ in edge_list:
        outdeg[s] = outdeg.get(s, 0) + 1
    pr = {v: 1.0 / N_MAX for v in range(N_MAX)}
    for _ in range(3):
        contrib = {v: 0.0 for v in range(N_MAX)}
        for s, t in edge_list:
            contrib[t] += pr[s] / outdeg[s]
        pr = {v: 0.15 / N_MAX + 0.85 * contrib[v] for v in range(N_MAX)}
    for v in range(N_MAX):
        assert abs(got[v] - pr[v]) < 5e-6, (v, got[v], pr[v])


@given(edge_list=_edges)
@_twin_settings
def test_pagerank_matches_python_loop_distributed(spark, distributed, edge_list):
    test_pagerank_matches_python_loop.hypothesis.inner_test(spark, edge_list)


@given(
    pair_list=st.lists(
        st.tuples(st.integers(0, N_MAX - 1), st.integers(0, N_MAX - 1)),
        min_size=0,
        max_size=8,
    )
)
@_settings
def test_duplicate_clusters_match_union_find(spark, pair_list):
    """Cluster folding equals a driver-side union-find over the same
    pairs (self-pairs and duplicates included)."""
    from networkframe_spark.functions.dedup import duplicate_clusters

    docs = spark.createDataFrame(
        [(i, f"d{i}") for i in range(N_MAX)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        [(a, b) for a, b in pair_list] or [], "id_a long, id_b long"
    )
    got = {
        r["doc_id"]: (r["cluster_id"], r["is_duplicate"])
        for r in duplicate_clusters(docs, pairs).collect()
    }
    parent = list(range(N_MAX))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pair_list:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {}
    roots = {}
    for i in range(N_MAX):
        r = find(i)
        roots.setdefault(r, i)  # min member = first seen ascending
    for i in range(N_MAX):
        cid = roots[find(i)]
        want[i] = (cid, i != cid)
    assert got == want, (pair_list, got, want)


def _py_bfs_dist(edge_list, seed, n=N_MAX):
    adj = {i: set() for i in range(n)}
    for s, t in edge_list:
        adj[s].add(t)
        adj[t].add(s)
    dist, frontier, d = {seed: 0}, {seed}, 0
    while frontier:
        d += 1
        nxt = set()
        for u in frontier:
            for v in adj[u]:
                if v not in dist:
                    dist[v] = d
                    nxt.add(v)
        frontier = nxt
    return dist


@given(_edges)
@_settings
def test_hop_distances_matches_python_bfs(spark, edge_list):
    nf = _frame(spark, edge_list)
    got = {r["id"]: r["dist"] for r in nf.hop_distances(0, directed=False).collect()}
    assert got == _py_bfs_dist(edge_list, 0)


def _py_k_core(edge_list, k, n=N_MAX):
    adj = {i: set() for i in range(n)}
    for s, t in edge_list:
        if s != t:
            adj[s].add(t)
            adj[t].add(s)
    live = {i for i in range(n) if adj[i]}
    changed = True
    while changed:
        changed = False
        for i in list(live):
            deg = len(adj[i] & live)
            if deg < k:
                live.discard(i)
                changed = True
    return {i: len(adj[i] & live) for i in live}


@given(_edges, st.integers(1, 3))
@_settings
def test_k_core_matches_python_peel(spark, edge_list, k):
    nf = _frame(spark, edge_list)
    got = {r["id"]: r["core_degree"] for r in nf.k_core(k).collect()}
    assert got == _py_k_core(edge_list, k)


@given(_edges, st.integers(1, 3))
@_twin_settings
def test_k_core_matches_python_peel_distributed(spark, distributed, edge_list, k):
    test_k_core_matches_python_peel.hypothesis.inner_test(spark, edge_list, k)


@given(_edges)
@_settings
def test_link_prediction_matches_python(spark, edge_list):
    import math

    nf = _frame(spark, edge_list)
    got = {
        (r["source"], r["candidate"]): (r["n_common"], r["jaccard"], r["adamic_adar"])
        for r in nf.link_prediction(min_common=1).collect()
    }
    adj = {i: set() for i in range(N_MAX)}
    for s, t in edge_list:
        if s != t:
            adj[s].add(t)
            adj[t].add(s)
    want = {}
    for a in range(N_MAX):
        for b in range(a + 1, N_MAX):
            if b in adj[a]:
                continue
            common = adj[a] & adj[b]
            if not common:
                continue
            aa = round(sum(1.0 / math.log(len(adj[w])) for w in common), 6)
            jac = round(len(common) / len(adj[a] | adj[b]), 6)
            want[(a, b)] = (len(common), jac, aa)
    assert set(got) == set(want)
    for key, (nc, jac, aa) in want.items():
        gnc, gjac, gaa = got[key]
        assert gnc == nc
        assert abs(gjac - jac) < 1e-9
        assert abs(gaa - aa) < 1e-9


_wedges = st.lists(
    st.tuples(
        st.integers(0, N_MAX - 1),
        st.integers(0, N_MAX - 1),
        st.integers(1, 9),
    ),
    min_size=0,
    max_size=10,
)


@given(edge_list=_wedges)
@_settings
def test_shortest_paths_matches_python_dijkstra(spark, edge_list):
    """Bellman-Ford on DataFrames == a tiny Python Dijkstra, on random
    weighted digraphs with parallel edges and self-loops."""
    import heapq

    nodes = spark.createDataFrame(
        [(i,) for i in range(N_MAX)], "id long"
    )
    edges = spark.createDataFrame(
        [(s, t, float(w)) for s, t, w in edge_list] or [],
        "source long, target long, weight double",
    )
    nf = NetworkFrame(nodes, edges)
    got = {r["id"]: r["dist"] for r in nf.shortest_paths(0).collect()}

    adj = {}
    for s, t, w in edge_list:
        adj.setdefault(s, []).append((t, float(w)))
    dist = {0: 0.0}
    heap = [(0.0, 0)]
    while heap:
        d, u = heapq.heappop(heap)
        if d > dist.get(u, float("inf")):
            continue
        for v, w in adj.get(u, []):
            nd = d + w
            if nd < dist.get(v, float("inf")):
                dist[v] = nd
                heapq.heappush(heap, (nd, v))
    assert got == dist


@given(edge_list=_edges)
@_settings
def test_label_propagation_is_component_refinement(spark, edge_list):
    """LPA communities never straddle weak components, and node ids in
    a community always contain the community label itself."""
    nf = _frame(spark, edge_list)
    comm = {r["id"]: r["community"] for r in nf.label_propagation(n_iter=4).collect()}
    comp = {
        r["id"]: r["component"]
        for r in nf.label_nodes_by_component(connection="weak")
        .nodes.select("id", "component")
        .collect()
    }
    by_label = {}
    for nid, lab in comm.items():
        by_label.setdefault(lab, []).append(nid)
    for lab, members in by_label.items():
        assert lab in members  # label is one of its own members
        assert len({comp[m] for m in members}) == 1  # within one component


_texts = st.lists(
    st.text(
        alphabet=st.sampled_from("ab \n"), min_size=0, max_size=30
    ),
    min_size=1,
    max_size=5,
)


@given(texts=_texts)
@_settings
def test_chunk_documents_covers_every_token(spark, texts):
    """Every whitespace token of every document appears in at least
    one chunk, and no chunk exceeds chunk_size tokens."""
    from networkframe_spark.functions.pipeline import chunk_documents

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    out = chunk_documents(df, chunk_size=3, stride=2).collect()
    per_doc: dict[int, list] = {}
    for r in out:
        assert r["n_tokens"] <= 3
        per_doc.setdefault(r["doc_id"], []).extend(r["chunk_text"].split())
    import re

    for i, t in enumerate(texts):
        want = [w for w in re.split(r"\s+", t) if w] or []
        got = [w for w in per_doc.get(i, []) if w]
        # multiset cover: overlapping chunks may repeat tokens
        assert set(want) <= set(got) if want else True


@given(texts=_texts)
@_settings
def test_dedup_lines_identity_when_threshold_unreachable(spark, texts):
    """min_docs above the corpus size can never classify any line as
    boilerplate: reassembled text round-trips exactly."""
    from networkframe_spark.functions.pipeline import dedup_lines

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    out = {
        r["doc_id"]: r
        for r in dedup_lines(df, min_docs=len(texts) + 1, sep="\n").collect()
    }
    for i, t in enumerate(texts):
        assert out[i]["text"] == t and out[i]["n_removed"] == 0


def _py_bfs_levels(edge_list, seed, max_hops, n=N_MAX):
    adj = {i: set() for i in range(n)}
    for s, t in edge_list:
        if s != t:
            adj[s].add(t)
            adj[t].add(s)
    dist = {seed: 0}
    frontier = [seed]
    for d in range(1, max_hops + 1):
        nxt = []
        for u in frontier:
            for v in adj[u]:
                if v not in dist:
                    dist[v] = d
                    nxt.append(v)
        frontier = nxt
    return dist


@given(_edges, st.lists(st.integers(0, N_MAX - 1), min_size=1, max_size=3, unique=True))
@_settings
def test_harmonic_matches_python_bfs(spark, edge_list, seeds):
    nf = _frame(spark, edge_list)
    got = {
        r["id"]: r["harmonic"]
        for r in nf.harmonic_centrality(seeds, directed=False).collect()
    }
    want = {i: 0 for i in range(N_MAX)}
    for s in seeds:
        for v, d in _py_bfs_levels(edge_list, s, 30).items():
            if d > 0:
                want[v] += 10**12 // d
    assert got == {i: round(want[i] / 1e12, 6) for i in range(N_MAX)}


def _py_brandes(edge_list, seeds, max_hops, n=N_MAX):
    """Pure-python bounded-depth Brandes mirroring the engine's
    rounding contract (12-dp terms, per-level sums)."""
    adj = {i: set() for i in range(n)}
    for s, t in edge_list:
        if s != t:
            adj[s].add(t)
            adj[t].add(s)
    bt = {i: 0.0 for i in range(n)}
    for s in seeds:
        dist = _py_bfs_levels(edge_list, s, max_hops)
        levels = {}
        for v, d in dist.items():
            levels.setdefault(d, []).append(v)
        sigma = {s: 1}
        for d in range(1, max_hops + 1):
            for v in levels.get(d, []):
                sigma[v] = sum(
                    sigma[u] for u in adj[v] if dist.get(u) == d - 1
                )
        delta = {v: 0.0 for v in levels.get(max_hops, [])}
        for d in range(max_hops - 1, -1, -1):
            for v in levels.get(d, []):
                terms = [
                    round(sigma[v] / sigma[w] * (1 + delta[w]), 12)
                    for w in adj[v]
                    if dist.get(w) == d + 1
                ]
                delta[v] = round(sum(terms), 12)
        for v, dl in delta.items():
            if v != s:
                bt[v] += dl
    return {v: round(x, 6) for v, x in bt.items()}


@given(_edges, st.lists(st.integers(0, N_MAX - 1), min_size=1, max_size=2, unique=True))
@_settings
def test_betweenness_matches_python_brandes(spark, edge_list, seeds):
    nf = _frame(spark, edge_list)
    got = {
        r["id"]: r["betweenness"]
        for r in nf.betweenness_approx(seeds, directed=False, max_hops=3).collect()
    }
    want = _py_brandes(edge_list, seeds, 3)
    assert set(got) == set(want)
    for v in want:
        assert abs(got[v] - want[v]) < 1e-6, (v, got[v], want[v])


def _py_hits(edge_list, n_iter, n=N_MAX):
    """Python twin of algorithms.hits: L1-normalized rounds with the
    same 12-dp rounding contract (decimal sums are exact in python's
    arbitrary-precision fractions of rounded floats here because the
    summands are tiny sets)."""
    e = {(s, t) for s, t in edge_list if s != t}
    h = {i: round(1.0 / n, 12) for i in range(n)}
    a = {}

    def half(scores, flip):
        raw = {i: 0.0 for i in range(n)}
        for s, t in e:
            u, v = (t, s) if flip else (s, t)
            raw[v] += round(scores[u], 12)
        tot = sum(raw.values())
        return {
            i: (0.0 if raw[i] == 0 else round(raw[i] / tot, 12))
            for i in range(n)
        }

    for _ in range(n_iter):
        a = half(h, flip=False)
        h = half(a, flip=True)
    return (
        {i: round(h[i], 6) for i in range(n)},
        {i: round(a[i], 6) for i in range(n)},
    )


@given(_edges)
@_settings
def test_hits_matches_python_power_iteration(spark, edge_list):
    nf = _frame(spark, edge_list)
    got = {
        r["id"]: (r["hub"], r["authority"])
        for r in nf.hits(n_iter=2).collect()
    }
    hubs, auths = _py_hits(edge_list, 2)
    for i in range(N_MAX):
        assert abs(got[i][0] - hubs[i]) < 1e-6, (i, got[i][0], hubs[i])
        assert abs(got[i][1] - auths[i]) < 1e-6, (i, got[i][1], auths[i])


def _py_neighbor_sample(edge_list, seeds, fanouts, seed=42, n=N_MAX):
    import hashlib

    adj = {i: set() for i in range(n)}
    for s, t in edge_list:
        if s != t:
            adj[s].add(t)
            adj[t].add(s)

    def coin(a, b):
        return hashlib.md5(f"{a}:{b}:{seed}".encode()).hexdigest()

    out = []
    frontier = set(seeds)
    for h, fanout in enumerate(fanouts, start=1):
        picked = []
        for a in frontier:
            ranked = sorted(adj[a], key=lambda b: (coin(a, b), b))
            picked += [(h, a, b) for b in ranked[:fanout]]
        out += picked
        frontier = {b for _, _, b in picked}
    return sorted(out)


@given(_edges, st.lists(st.integers(0, N_MAX - 1), min_size=1, max_size=2, unique=True))
@_settings
def test_neighbor_sample_matches_python_md5(spark, edge_list, seeds):
    nf = _frame(spark, edge_list)
    got = sorted(
        (r["hop"], r["source"], r["target"])
        for r in nf.neighbor_sample(seeds, fanouts=[2, 2], directed=False).collect()
    )
    assert got == _py_neighbor_sample(edge_list, seeds, [2, 2])


@given(edge_list=_edges, k=st.integers(3, 5))
@_settings
def test_k_truss_matches_python_peel(spark, edge_list, k):
    """Converged k-truss == a tiny Python peel-to-fixpoint, on random
    graphs with self-loops / parallel edges (collapsed first)."""
    nf = _frame(spark, edge_list)
    got = {
        (r["source"], r["target"]): r["support"]
        for r in nf.k_truss(k).collect()
    }

    und = {(min(s, t), max(s, t)) for s, t in edge_list if s != t}

    def support(edges):
        adj = {}
        for u, v in edges:
            adj.setdefault(u, set()).add(v)
            adj.setdefault(v, set()).add(u)
        return {
            (u, v): len(adj.get(u, set()) & adj.get(v, set()))
            for u, v in edges
        }

    while True:
        sup = support(und)
        nxt = {e for e in und if sup[e] >= k - 2}
        if nxt == und:
            break
        und = nxt
    assert got == support(und)


@given(
    words=st.lists(
        st.text(alphabet="abc", min_size=1, max_size=5), min_size=1, max_size=8
    ),
    n_merges=st.integers(1, 4),
)
@_settings
def test_bpe_train_matches_python_reference(spark, words, n_merges):
    """Distributed BPE == a tiny python reference: max-count pair with
    pair-ascending ties, greedy leftmost non-overlapping application."""
    from networkframe_spark.functions.text import bpe_train

    docs = spark.createDataFrame(
        [(0, " ".join(words))], "doc_id long, text string"
    )
    got = [
        (r["merge_rank"], r["left"], r["right"], r["pair_count"])
        for r in bpe_train(docs, n_merges=n_merges)
        .orderBy("merge_rank")
        .collect()
    ]

    from collections import Counter

    freq = Counter(words)
    syms = {w: [ch for ch in w] for w in freq}
    expect = []
    for rank in range(1, n_merges + 1):
        pc = Counter()
        for w, f in freq.items():
            s = syms[w]
            for a, b in zip(s, s[1:]):
                pc[(a, b)] += f
        if not pc:
            break
        best = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        (l, r), c = best
        expect.append((rank, l, r, c))
        for w in syms:
            s, out, i = syms[w], [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == l and s[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            syms[w] = out
    assert got == expect


@given(edge_list=_edges)
@_settings
def test_core_numbers_match_python_peel(spark, edge_list):
    """Converged h-index iteration == the classic min-degree peel."""
    nf = _frame(spark, edge_list)
    got = {
        r["id"]: r["core_number"] for r in nf.core_numbers().collect()
    }

    adj = {i: set() for i in range(N_MAX)}
    for s, t in edge_list:
        if s != t:
            adj[s].add(t)
            adj[t].add(s)
    deg = {v: len(ns) for v, ns in adj.items()}
    remaining = set(adj)
    core, k = {}, 0
    while remaining:
        v = min(remaining, key=lambda x: (deg[x], x))
        k = max(k, deg[v])
        core[v] = k
        remaining.discard(v)
        for w in adj[v]:
            if w in remaining:
                deg[w] -= 1
    assert got == core


@given(
    offset=st.integers(0, 30),
    window=st.integers(2, 8),
    stride_extra=st.integers(0, 5),
    data=st.data(),
)
@_settings
def test_exact_substring_pigeonhole_guarantee(spark, offset, window, stride_extra, data):
    """The pigeonhole contract: any shared exact run of
    window + stride - 1 tokens is detected regardless of its offset in
    the corpus document, for arbitrary (window, stride) choices."""
    from networkframe_spark.functions.pipeline import (
        exact_substring_decontaminate,
    )

    stride = window + 1 + stride_extra
    run_len = window + stride - 1
    shared = [f"s{i}" for i in range(run_len)]
    noise_n = data.draw(st.integers(0, 10))
    prefix = [f"p{i}" for i in range(offset)]
    suffix = [f"q{i}" for i in range(noise_n)]
    corpus = spark.createDataFrame(
        [(1, " ".join(prefix + shared + suffix))], "doc_id long, text string"
    )
    ev = spark.createDataFrame(
        [(100, " ".join([f"e{i}" for i in range(3)] + shared))],
        "doc_id long, text string",
    )
    flagged = exact_substring_decontaminate(
        corpus, ev, window=window, stride=stride
    ).collect()
    assert [r["doc_id"] for r in flagged] == [1]


@given(
    vals=st.lists(
        st.tuples(
            st.sampled_from(["a", "b"]),
            st.integers(-50, 50),
        ),
        min_size=4,
        max_size=24,
    ).filter(
        lambda vs: {g for g, _ in vs} == {"a", "b"}
    )
)
@_settings
def test_mann_whitney_invariant_under_monotone_transform(spark, vals):
    """U, z, and p depend only on ranks: applying a strictly
    increasing transform (3x + 7) to every value leaves the whole
    result row unchanged."""
    from networkframe_spark.functions.stats import mann_whitney_u

    raw = spark.createDataFrame(
        [(g, float(v)) for g, v in vals], "g string, v double"
    )
    txf = spark.createDataFrame(
        [(g, float(3 * v + 7)) for g, v in vals], "g string, v double"
    )
    r1 = mann_whitney_u(raw, "v", "g", "a", "b").collect()[0]
    r2 = mann_whitney_u(txf, "v", "g", "a", "b").collect()[0]
    assert r1 == r2


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 2)),
        min_size=2,
        max_size=30,
    )
)
@_settings
def test_chi2_matches_numpy_contingency(spark, rows):
    """chi2/dof agree with the dense NumPy formula on arbitrary
    small contingency tables (including 1xK and Kx1 edge shapes)."""
    import numpy as np

    from networkframe_spark.functions.stats import chi2_independence

    df = spark.createDataFrame(
        [(f"a{a}", f"b{b}") for a, b in rows], "x string, y string"
    )
    got = chi2_independence(df, "x", "y").collect()[0]
    xs = sorted({f"a{a}" for a, _ in rows})
    ys = sorted({f"b{b}" for _, b in rows})
    o = np.zeros((len(xs), len(ys)))
    for a, b in rows:
        o[xs.index(f"a{a}"), ys.index(f"b{b}")] += 1
    n = o.sum()
    e = np.outer(o.sum(1), o.sum(0)) / n
    with np.errstate(invalid="ignore", divide="ignore"):
        chi2 = np.nansum(
            np.where(e > 0, (o - e) ** 2 / e, 0.0)
        )
    assert got["dof"] == (len(xs) - 1) * (len(ys) - 1)
    assert abs(got["chi2"] - chi2) < 5e-6
    assert got["n"] == len(rows)


_snm_rows = st.lists(
    st.tuples(st.integers(0, 30), st.text(alphabet="abc", max_size=4)),
    min_size=0,
    max_size=12,
    unique_by=lambda t: t[0],
)


@given(rows=_snm_rows, window=st.integers(2, 6))
@_settings
def test_sorted_neighborhood_matches_enumeration(spark, rows, window):
    """SNM candidates == the enumerated pair set within `window`
    positions of the (key, id) sort order, for arbitrary duplicate
    keys (including all-equal and all-empty)."""
    from networkframe_spark.functions.dedup import (
        sorted_neighborhood_pairs,
    )

    if not rows:
        return
    df = spark.createDataFrame(rows, "doc_id long, k string")
    got = sorted(
        (r["id_a"], r["id_b"], r["gap"])
        for r in sorted_neighborhood_pairs(
            df, "k", window=window
        ).collect()
    )
    order = [i for i, _ in sorted(rows, key=lambda t: (t[1], t[0]))]
    want = sorted(
        (order[i], order[j], j - i)
        for i in range(len(order))
        for j in range(i + 1, min(i + window, len(order)))
    )
    assert got == want


_vecs = st.lists(
    st.lists(
        st.integers(-3, 3).map(float), min_size=3, max_size=3
    ),
    min_size=2,
    max_size=8,
)


@given(vecs=_vecs, k=st.integers(1, 4))
@_settings
def test_ann_rerank_is_brute_on_full_candidates(spark, vecs, k):
    """Law: rerank over the complete candidate set IS brute force,
    for arbitrary small integer vectors (ties, zero vectors, dups)."""
    from networkframe_spark.functions.similarity import (
        ann_rerank,
        brute_force_top_k,
    )

    rows = [(i, v) for i, v in enumerate(vecs)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    qs = emb.limit(2).select(
        emb.vec_id.alias("query_id"), "embedding"
    )
    allpairs = qs.select("query_id").crossJoin(emb.select("vec_id"))
    fetch = lambda df, c: sorted(
        (r["query_id"], r["rank"], r["vec_id"], r[c]) for r in df.collect()
    )
    got = fetch(ann_rerank(allpairs, emb, qs, k=k, metric="l2"), "d2")
    want = fetch(
        brute_force_top_k(
            emb, qs, k=k, query_id_col="query_id",
            exclude_self=False, metric="l2",
        ),
        "d2",
    )
    assert got == want


@given(
    vals=st.lists(
        st.floats(
            min_value=-1e6,
            max_value=1e6,
            allow_nan=False,
            allow_infinity=False,
        ),
        min_size=1,
        max_size=8,
    )
)
@_settings
def test_round_half_up_matches_spark_round(spark, vals):
    """round_half_up (the numpy twin the fused int8 quantize pass and
    pq_encode score through) must agree with F.round on arbitrary
    doubles INCLUDING decimal midpoints — a divergence here would
    silently shift int8/PQ codes away from the SQL oracle."""
    from pyspark.sql import functions as F

    from networkframe_spark.functions.similarity import round_half_up

    # exercise exact .5 midpoints too: append half-integer variants
    probe = vals + [float(int(v)) + 0.5 for v in vals[:3]]
    df = spark.createDataFrame([(v,) for v in probe], "x double")
    got = [
        r["r"]
        for r in df.select(F.round("x", 0).alias("r"))
        .collect()
    ]
    want = [float(round_half_up(v, 0)) for v in probe]
    assert got == want
