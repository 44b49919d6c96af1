"""Graph analytics (degrees, PageRank) vs an independent hand-rolled
reference implementation."""

import pytest

from rdflib_jsonld_spark.operators.graphstats import degree_stats, pagerank


def ref_pagerank(edges, iterations=10, d=0.85):
    """Independent dict-based power iteration (no Spark, no shared code)."""
    edges = sorted(set(edges))
    nodes = sorted({n for e in edges for n in e})
    n = len(nodes)
    out = {}
    for s, _ in edges:
        out[s] = out.get(s, 0) + 1
    rank = {v: 1.0 / n for v in nodes}
    for _ in range(iterations):
        dangling = sum(r for v, r in rank.items() if v not in out)
        contrib = {v: 0.0 for v in nodes}
        for s, t in edges:
            contrib[t] += rank[s] / out[s]
        rank = {v: (1 - d) / n + d * (contrib[v] + dangling / n)
                for v in nodes}
    return rank


EDGES = [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("d", "c"),
         ("c", "d"), ("e", "a")]  # e is a source-only node; none dangling
DANGLING = [("a", "b"), ("b", "c"), ("a", "c")]  # c has no out-edges


@pytest.mark.usefixtures("spark")
class TestPageRank:
    def _run(self, spark, edges, **kw):
        df = spark.createDataFrame(edges, ["src", "dst"])
        return {r.node: r.rank for r in pagerank(df, **kw).collect()}

    def test_matches_independent_reference(self, spark):
        got = self._run(spark, EDGES, iterations=10)
        want = ref_pagerank(EDGES, iterations=10)
        assert set(got) == set(want)
        for v in want:
            assert got[v] == pytest.approx(want[v], abs=1e-12)

    def test_dangling_mass_redistributed_sum_is_one(self, spark):
        got = self._run(spark, DANGLING, iterations=12)
        want = ref_pagerank(DANGLING, iterations=12)
        assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)
        for v in want:
            assert got[v] == pytest.approx(want[v], abs=1e-12)

    def test_duplicate_edges_count_once(self, spark):
        got = self._run(spark, EDGES + EDGES[:3], iterations=6)
        want = ref_pagerank(EDGES, iterations=6)
        for v in want:
            assert got[v] == pytest.approx(want[v], abs=1e-12)

    def test_hub_outranks_leaves_in_star(self, spark):
        star = [("hub", f"l{i}") for i in range(5)] + \
               [(f"l{i}", "hub") for i in range(5)]
        got = self._run(spark, star, iterations=8)
        assert all(got["hub"] > got[f"l{i}"] for i in range(5))

    def test_empty_graph(self, spark):
        df = spark.createDataFrame([], "src string, dst string")
        assert pagerank(df).collect() == []


@pytest.mark.usefixtures("spark")
class TestDegrees:
    def test_degree_stats_excludes_literals_and_type(self, spark):
        rows = [
            # g, s, s_is_bnode, p, o_kind, o_value, o_datatype, o_lang
            (None, "A", False, "http://e/p", "iri", "B", None, None),
            (None, "A", False, "http://e/p", "literal", "x", None, None),
            (None, "A", False,
             "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
             "iri", "T", None, None),
            (None, "B", False, "http://e/q", "iri", "A", None, None),
            (None, "C", False, "http://e/q", "iri", "A", None, None),
        ]
        schema = ("g string, s string, s_is_bnode boolean, p string, "
                  "o_kind string, o_value string, o_datatype string, "
                  "o_lang string")
        got = {r.node: (r.out_degree, r.in_degree)
               for r in degree_stats(
                   spark.createDataFrame(rows, schema)).collect()}
        assert got == {"A": (1, 2), "B": (1, 1), "C": (1, 0)}


@pytest.mark.usefixtures("spark")
class TestTriangles:
    @staticmethod
    def ref_triangles(edges):
        """Brute-force reference: count unordered node triples with all
        three edges present."""
        und = {frozenset(e) for e in edges if e[0] != e[1]}
        nodes = sorted({n for e in und for n in e})
        tri = 0
        import itertools
        for a, b, c in itertools.combinations(nodes, 3):
            if ({frozenset((a, b)), frozenset((b, c)),
                 frozenset((a, c))} <= und):
                tri += 1
        deg = {n: sum(1 for e in und if n in e) for n in nodes}
        wedges = sum(d * (d - 1) // 2 for d in deg.values())
        return len(nodes), len(und), wedges, tri

    def _run(self, spark, edges):
        from rdflib_jsonld_spark.operators.graphstats import triangle_stats
        df = spark.createDataFrame(edges, ["src", "dst"])
        return triangle_stats(df).collect()[0]

    def test_random_graph_matches_bruteforce(self, spark):
        import random
        rng = random.Random(11)
        edges = [(f"n{rng.randint(0, 19)}", f"n{rng.randint(0, 19)}")
                 for _ in range(70)]
        got = self._run(spark, edges)
        n, m, w, t = self.ref_triangles(edges)
        assert (got.n_nodes, got.n_edges, got.n_wedges,
                got.n_triangles) == (n, m, w, t)

    def test_clique_coefficient_is_one(self, spark):
        import itertools
        edges = list(itertools.combinations([f"k{i}" for i in range(6)], 2))
        got = self._run(spark, edges)
        assert got.n_triangles == 20 and got.clustering_coefficient == 1.0

    def test_triangle_free_star(self, spark):
        edges = [("hub", f"l{i}") for i in range(6)]
        got = self._run(spark, edges)
        assert got.n_triangles == 0 and got.clustering_coefficient == 0.0
        assert got.n_wedges == 15

    def test_duplicates_and_reversals_collapse(self, spark):
        edges = [("a", "b"), ("b", "a"), ("b", "c"), ("c", "a"),
                 ("a", "b"), ("a", "a")]
        got = self._run(spark, edges)
        assert (got.n_edges, got.n_triangles) == (3, 1)

    def test_census_leaves_no_cached_frame(self, spark):
        """The degree and orientation frames are cached for the census
        and freed before it returns: one call on a 4-edge graph adds no
        entry to the storage info, and the result reads back."""
        def cached():
            return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())

        before = cached()
        got = self._run(spark, [("a", "b"), ("b", "c"), ("c", "a"),
                                ("c", "d")])
        assert (got.n_nodes, got.n_edges, got.n_triangles) == (4, 4, 1)
        assert cached() <= before


@pytest.mark.usefixtures("spark")
class TestLabelPropagation:
    @staticmethod
    def ref_lpa(edges, iterations):
        """Independent synchronous reference with min-label tie-break."""
        adj = {}
        for s, d in edges:
            if s == d:
                continue
            adj.setdefault(s, set()).add(d)
            adj.setdefault(d, set()).add(s)
        label = {n: n for n in adj}
        for _ in range(iterations):
            nxt = {}
            for n, nbrs in adj.items():
                counts = {}
                for b in nbrs:
                    counts[label[b]] = counts.get(label[b], 0) + 1
                best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
                nxt[n] = best[0]
            label = nxt
        return label

    def _run(self, spark, edges, iterations):
        from rdflib_jsonld_spark.operators.graphstats import (
            label_propagation)
        df = spark.createDataFrame(edges, ["src", "dst"])
        return {r.node: r.label
                for r in label_propagation(df, iterations).collect()}

    def test_matches_reference_on_random_graph(self, spark):
        import random
        rng = random.Random(23)
        edges = list({(f"n{rng.randint(0, 14)}", f"n{rng.randint(0, 14)}")
                      for _ in range(40)})
        for it in (1, 3):
            assert self._run(spark, edges, it) == self.ref_lpa(edges, it)

    def test_two_cliques_with_bridge(self, spark):
        import itertools
        a = [f"a{i}" for i in range(4)]
        b = [f"b{i}" for i in range(4)]
        edges = (list(itertools.combinations(a, 2))
                 + list(itertools.combinations(b, 2)) + [("a0", "b0")])
        got = self._run(spark, edges, 4)
        assert {got[x] for x in a} == {"a0"}
        assert {got[x] for x in b} == {"b0"}


@pytest.mark.usefixtures("spark")
class TestBfs:
    @staticmethod
    def ref_bfs(edges, sources, directed, max_depth=20):
        from collections import deque
        adj = {}
        for s, d in edges:
            if s == d:
                continue
            adj.setdefault(s, set()).add(d)
            if not directed:
                adj.setdefault(d, set()).add(s)
            else:
                adj.setdefault(d, set())
        dist = {s: 0 for s in sources if s in adj}
        q = deque(dist)
        while q:
            n = q.popleft()
            if dist[n] >= max_depth:
                continue
            for m in adj.get(n, ()):
                if m not in dist:
                    dist[m] = dist[n] + 1
                    q.append(m)
        return dist

    def _run(self, spark, edges, sources, **kw):
        from rdflib_jsonld_spark.operators.graphstats import bfs_distances
        df = spark.createDataFrame(edges, ["src", "dst"])
        return {r.node: r.dist
                for r in bfs_distances(df, sources, **kw).collect()}

    def test_matches_reference_random(self, spark):
        import random
        rng = random.Random(41)
        edges = list({(f"n{rng.randint(0, 24)}", f"n{rng.randint(0, 24)}")
                      for _ in range(40)})
        for directed in (False, True):
            got = self._run(spark, edges, ["n0", "n7"], directed=directed)
            assert got == self.ref_bfs(edges, ["n0", "n7"], directed)

    def test_depth_cap_and_chain(self, spark):
        edges = [(f"c{i}", f"c{i + 1}") for i in range(15)]
        got = self._run(spark, edges, ["c0"], max_depth=5)
        assert got == {f"c{i}": i for i in range(6)}

    def test_unreachable_absent(self, spark):
        edges = [("a", "b"), ("x", "y")]
        got = self._run(spark, edges, ["a"])
        assert got == {"a": 0, "b": 1}


class TestWeightedDistances:
    @staticmethod
    def ref_dijkstra(edges, sources, directed):
        import heapq
        adj = {}
        for s, d, w in edges:
            adj.setdefault(s, []).append((d, w))
            if not directed:
                adj.setdefault(d, []).append((s, w))
        dist = {s: 0 for s in sources if s in adj
                or any(s in (d for d, _ in v) for v in adj.values())}
        pq = [(0, s) for s in dist]
        heapq.heapify(pq)
        while pq:
            dv, v = heapq.heappop(pq)
            if dv > dist.get(v, float("inf")):
                continue
            for u, w in adj.get(v, ()):
                nd = dv + w
                if nd < dist.get(u, float("inf")):
                    dist[u] = nd
                    heapq.heappush(pq, (nd, u))
        return dist

    def _run(self, spark, edges, sources, **kw):
        from rdflib_jsonld_spark.operators.graphstats import (
            weighted_distances)
        df = spark.createDataFrame(edges, ["src", "dst", "weight"])
        return {r.node: r.dist
                for r in weighted_distances(df, sources, **kw).collect()}

    def test_matches_dijkstra_random(self, spark):
        import random
        rng = random.Random(7)
        edges = list({(f"n{rng.randint(0, 19)}", f"n{rng.randint(0, 19)}",
                       rng.randint(1, 9)) for _ in range(50)})
        edges = [e for e in edges if e[0] != e[1]]
        for directed in (True, False):
            got = self._run(spark, edges, ["n0", "n5"], directed=directed)
            assert got == self.ref_dijkstra(edges, ["n0", "n5"], directed)

    def test_shortcut_beats_hop_count(self, spark):
        # 3 cheap hops beat 1 expensive edge
        edges = [("a", "z", 10), ("a", "b", 2), ("b", "c", 2),
                 ("c", "z", 2)]
        got = self._run(spark, edges, ["a"])
        assert got["z"] == 6

    def test_iteration_cap(self, spark):
        edges = [(f"c{i}", f"c{i + 1}", 1) for i in range(10)]
        got = self._run(spark, edges, ["c0"], max_iters=4)
        assert got == {f"c{i}": i for i in range(5)}
