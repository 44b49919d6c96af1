"""Graph analytics over the constructed KG: degrees and PageRank.

The reference builds graphs but never analyzes them (its dataset is one
in-memory rdflib Graph — SURVEY.md §4.1); entity-importance ranking is
the first analytics ask on a constructed KG (which canonical entities
matter?), so the pipeline carries it as a first-class operator the same
way it carries connected components (SURVEY.md §2.F2).

Algorithm: classic PageRank power iteration (Page et al. 1999, public),
expressed as DataFrame joins so Catalyst/AQE own the physical plan:

    contrib(dst) = Σ_{(src,dst)∈E} rank(src) / out_degree(src)
    rank'(v)     = (1-d)/N + d · (contrib(v) + dangling_mass/N)

Scale posture (10^12-edge ready):
- one hash join rank⋈edges + one hash agg per iteration — the same
  shuffle shape as one round of distributed CC; AQE handles skewed hubs
  (the same reason E6 salting exists for aggregations is why the
  contribution agg keys on dst, never on a hot constant);
- ``localCheckpoint`` per iteration, the previous one freed by
  ``rounds.release`` (``unpersist()`` does not free a checkpoint) —
  plans stay O(1) deep, storage O(1) rounds;
- the only driver actions are one scalar row per iteration (N once,
  dangling mass per round) — bounded at any scale;
- iteration count is FIXED (default 10), not convergence-tested: a fixed
  unrollable recurrence is what makes the result exactly replicable by
  the SQL oracle and by a resumed run (determinism > adaptive stopping;
  callers needing convergence can compare successive calls).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..plans.driver import local_frame
from .rounds import frontier_rounds, release

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"


def degree_stats(quads: DataFrame) -> DataFrame:
    """Per-node in/out degree over the quad table's IRI-to-IRI edges
    (literals are attributes, not graph edges; rdf:type is schema, not
    topology). One union + one hash agg — no joins."""
    edges = quads.where((F.col("o_kind") == "iri")
                        & (F.col("p") != RDF_TYPE))
    outs = edges.select(F.col("s").alias("node"),
                        F.lit(1).alias("out_e"), F.lit(0).alias("in_e"))
    ins = edges.select(F.col("o_value").alias("node"),
                       F.lit(0).alias("out_e"), F.lit(1).alias("in_e"))
    return (outs.unionByName(ins)
            .groupBy("node")
            .agg(F.sum("out_e").cast("long").alias("out_degree"),
                 F.sum("in_e").cast("long").alias("in_degree")))


def pagerank(edges: DataFrame, iterations: int = 10,
             damping: float = 0.85) -> DataFrame:
    """(src, dst) directed edges → (node, rank) after a fixed number of
    power iterations. Ranks sum to 1 (dangling mass redistributed
    uniformly). Duplicate edges count once (set semantics, matching the
    quad table's graph model)."""
    e = (edges.select("src", "dst").dropDuplicates(["src", "dst"])
         .persist())
    nodes = (e.select(F.col("src").alias("node"))
             .unionByName(e.select(F.col("dst").alias("node")))
             .distinct().persist())
    n = nodes.count()
    if n == 0:
        e.unpersist()
        return nodes.select("node", F.lit(0.0).alias("rank"))

    out_deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("out_degree"))
    # degree rides WITH the rank table so each iteration is ONE join with
    # the edge set, not two
    ranks = (nodes.join(out_deg, nodes.node == out_deg.src, "left")
             .select("node",
                     F.lit(1.0 / n).alias("rank"),
                     F.col("out_degree"))
             .localCheckpoint(eager=True))

    base = (1.0 - damping) / n
    for _ in range(iterations):
        # bounded driver action: ONE scalar — total rank parked on
        # dangling nodes this round
        dangling = ranks.where(F.col("out_degree").isNull()) \
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0))).collect()[0][0]
        spread = base + damping * dangling / n
        contrib = (e.join(ranks, e.src == ranks.node)
                   .groupBy("dst")
                   .agg(F.sum(F.col("rank") / F.col("out_degree"))
                        .alias("contrib")))
        nxt = (ranks.join(contrib, ranks.node == contrib.dst, "left")
               .select(ranks.node,
                       (F.lit(spread) + F.lit(damping)
                        * F.coalesce(F.col("contrib"), F.lit(0.0)))
                       .alias("rank"),
                       ranks.out_degree)
               .localCheckpoint(eager=True))
        release(ranks)
        ranks = nxt
    e.unpersist()
    nodes.unpersist()
    return ranks.select("node", "rank")


def triangle_stats(edges: DataFrame) -> DataFrame:
    """Undirected triangle census: one row with ``n_nodes, n_edges,
    n_wedges, n_triangles, clustering_coefficient``.

    Algorithm: compact-forward / degree orientation (Latapy 2008, public
    methodology — the same orientation GraphX's TriangleCount uses).
    Each undirected edge is oriented from the lower-(degree, id) endpoint
    to the higher one; every triangle then has EXACTLY one wedge
    a→b, a→c with b→c, so one wedge join + one edge semi-join counts each
    triangle once. The orientation is the skew story at 10^12 edges: a
    celebrity node with degree 10^8 has near-zero OUT-degree after
    orientation, so the wedge join never explodes on hot keys (wedge
    volume is Σ out_deg², bounded by m^1.5 — the theoretical optimum).

    Wedges (open + closed paths of length 2) come from Σ C(deg, 2), one
    hash aggregate; the global clustering coefficient is 3·triangles /
    wedges. The census runs eagerly (one action) and leaves no cached
    frame behind.
    """
    e = (edges.select(F.least("src", "dst").alias("a"),
                      F.greatest("src", "dst").alias("b"))
         .where(F.col("a") != F.col("b"))
         .dropDuplicates(["a", "b"]))
    deg = (e.select(F.col("a").alias("node"))
           .unionByName(e.select(F.col("b").alias("node")))
           .groupBy("node").agg(F.count(F.lit(1)).alias("deg"))
           .persist())  # scanned by both endpoints' joins + wedge agg
    # orient by (deg, node): lower endpoint keeps the out-edge
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("da"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("db"))
    oriented = (e.join(da, "a").join(db, "b")
                .select(F.when((F.col("da") < F.col("db"))
                               | ((F.col("da") == F.col("db"))
                                  & (F.col("a") < F.col("b"))),
                               F.struct(F.col("a").alias("u"),
                                        F.col("b").alias("v")))
                        .otherwise(F.struct(F.col("b").alias("u"),
                                            F.col("a").alias("v")))
                        .alias("d"))
                .select("d.u", "d.v").persist())
    w1 = oriented.select(F.col("u").alias("ctr"), F.col("v").alias("x"))
    w2 = oriented.select(F.col("u").alias("ctr"), F.col("v").alias("y"))
    wedges = (w1.join(w2, "ctr").where(F.col("x") < F.col("y")))
    tri = (wedges.join(
        oriented.select(F.col("u").alias("x"), F.col("v").alias("y"))
        .unionByName(
            oriented.select(F.col("v").alias("x"), F.col("u").alias("y"))),
        ["x", "y"], "left_semi")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles")))
    counts = (deg.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        (F.sum("deg") / 2).cast("long").alias("n_edges"),
        F.sum(F.col("deg") * (F.col("deg") - 1) / 2).cast("long")
        .alias("n_wedges")))
    out = (counts.crossJoin(tri)
           .select("n_nodes", "n_edges", "n_wedges", "n_triangles",
                   F.when(F.col("n_wedges") > 0,
                          3.0 * F.col("n_triangles") / F.col("n_wedges"))
                   .otherwise(F.lit(0.0))
                   .alias("clustering_coefficient")))
    # the census is one row: compute it while deg/oriented are cached,
    # free them, and hand the row back as a LocalRelation
    row = out.first()
    deg.unpersist()
    oriented.unpersist()
    return local_frame(edges.sparkSession, [row], out.schema)


def label_propagation(edges: DataFrame, iterations: int = 5) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan et
    al. 2007, public) → ``(node, label)`` after a fixed number of
    rounds. Deterministic: labels start as the node's own id, every
    round each node adopts the most frequent label among its neighbors,
    ties broken toward the SMALLEST label — no RNG, no asynchronous
    order-dependence, so the recurrence is exactly replicable (SQL
    oracle, resume) like the PageRank loop above.

    Per round: one join (labels ⋈ symmetrized edges) and two hash
    aggregates ((node, label) counts → per-node argmax). Same
    localCheckpoint/release storage discipline as CC/PageRank; at
    10^12 edges the (node, label) aggregate is the same shuffle shape
    as one CC round, AQE-skew-tolerant.
    """
    e = (edges.select("src", "dst")
         .unionByName(edges.select(F.col("dst").alias("src"),
                                   F.col("src").alias("dst")))
         .where(F.col("src") != F.col("dst"))
         .dropDuplicates(["src", "dst"]).persist())
    labels = (e.select(F.col("src").alias("node")).distinct()
              .select("node", F.col("node").alias("label"))
              .localCheckpoint(eager=True))
    for _ in range(iterations):
        votes = (e.join(labels, e.dst == labels.node)
                 .groupBy(e.src, "label")
                 .agg(F.count(F.lit(1)).alias("cnt")))
        nxt = (votes.groupBy("src")
               .agg(F.min(F.struct((-F.col("cnt")).alias("nc"),
                                   F.col("label"))).alias("w"))
               .select(F.col("src").alias("node"),
                       F.col("w.label").alias("label"))
               .localCheckpoint(eager=True))
        release(labels)
        labels = nxt
    e.unpersist()
    return labels


def bfs_distances(edges: DataFrame, sources: list,
                  max_depth: int = 20,
                  directed: bool = False) -> DataFrame:
    """Single-source(s) unweighted shortest-path lengths →
    ``(node, dist)`` for every node within ``max_depth`` hops of any
    source (sources themselves at 0).

    Frontier-expansion BFS as iterative joins: each level is one
    equi-join of the current frontier with the edge set plus one
    anti-join against the settled set — the textbook distributed BFS
    (Pregel's traversal pattern) on DataFrames, run by
    ``rounds.frontier_rounds``. Level count ≤ graph diameter (capped by
    ``max_depth``); one bounded emptiness probe per level is the only
    driver action. Complements the SPARQL property-path operators,
    which answer reachability but not DISTANCE.
    """
    e = edges.select("src", "dst")
    if not directed:
        e = e.unionByName(edges.select(F.col("dst").alias("src"),
                                       F.col("src").alias("dst")))
    e = (e.where(F.col("src") != F.col("dst"))
         .dropDuplicates(["src", "dst"]).persist())
    nodes = (e.select(F.col("src").alias("node"))
             .unionByName(e.select(F.col("dst").alias("node"))).distinct())

    def step(frontier, dist, d):
        return (frontier.join(e, frontier.node == e.src)
                .select(F.col("dst").alias("node")).distinct()
                .join(dist, "node", "left_anti")
                .select("node", F.lit(d).alias("dist")))

    dist = frontier_rounds(
        nodes.where(F.col("node").isin(list(sources)))
        .select("node", F.lit(0).alias("dist")), step, max_depth)
    e.unpersist()
    return dist


def weighted_distances(edges: DataFrame, sources: list,
                       weight_col: str = "weight",
                       directed: bool = True,
                       max_iters: int = 50) -> DataFrame:
    """Single-source(s) WEIGHTED shortest-path distances → ``(node,
    dist)`` — the weighted companion of :func:`bfs_distances`.

    Synchronous frontier Bellman-Ford (the Pregel SSSP pattern, public
    — Malewicz et al. 2010 §5.2): each round relaxes only out-edges of
    nodes whose distance improved last round (one equi-join + one
    min-agg), folds improvements into the settled table, and stops when
    a round improves nothing (≤ longest shortest-path edge count
    rounds, capped by ``max_iters``). ``rounds.frontier_rounds`` runs
    the loop: one bounded emptiness probe per round is the only driver
    action, and superseded rounds are released.
    Non-negative weights converge to exact distances; a negative cycle
    is bounded by ``max_iters`` (Bellman-Ford semantics on the
    ≤ max_iters-edge path set).
    """
    e = edges.select("src", "dst", F.col(weight_col).alias("w"))
    if not directed:
        e = e.unionByName(edges.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"),
            F.col(weight_col).alias("w")))
    e = e.where(F.col("src") != F.col("dst")).persist()
    nodes = (e.select(F.col("src").alias("node"))
             .unionByName(e.select(F.col("dst").alias("node"))).distinct())

    def step(frontier, dist, _):
        cand = (frontier.join(e, frontier.node == e.src)
                .select(F.col("dst").alias("node"),
                        (F.col("dist") + F.col("w")).alias("dist"))
                .groupBy("node").agg(F.min("dist").alias("dist")))
        return (cand.join(dist.select("node", F.col("dist").alias("_old")),
                          "node", "left")
                .where(F.col("_old").isNull()
                       | (F.col("dist") < F.col("_old")))
                .select("node", "dist"))

    def keep_min(dist, improved):
        return (dist.unionByName(improved)
                .groupBy("node").agg(F.min("dist").alias("dist")))

    dist = frontier_rounds(
        nodes.where(F.col("node").isin(list(sources)))
        .select("node", F.lit(0).cast("long").alias("dist")),
        step, max_iters, merge=keep_min)
    e.unpersist()
    return dist
