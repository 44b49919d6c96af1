"""Entity linking & canonicalization over the quad table (SURVEY.md §2.F).

The reference never joins — one in-memory graph ([v0.5.0]; SURVEY.md §2.F
preamble). The north_star pipeline adds: blocking (F1), connected
components over mention/sameAs edges (F2), and canonical-id rewrite (F3).

Algorithms & scale posture:
- Blocking uses the **star scheme**: within a block every entity connects
  to the block's min entity (m edges, not m² — a hot entity with 10^6
  mentions yields 10^6 edges, never 10^12 pairs). Block keys come from
  pure JVM-side column functions (no Python).
- Connected components is the alternating **large-star / small-star**
  algorithm (Kiveris et al., "Connected Components in MapReduce and
  Beyond", SOCC'14 — public), O(log n) rounds, skew-tolerant because every
  round is a partial-aggregated min + an equi-join that AQE can split.
  Each round is ``localCheckpoint``-ed to cut lineage (SURVEY.md §2.F2).
- All shuffles happen on the edge key; AQE (enabled by callers) handles
  residual skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from rdflib_jsonld_spark.plans.driver import collect_bounded, local_frame
from rdflib_jsonld_spark.sources.registry import OWL_SAMEAS, VOCAB
from .rounds import release

ABOUT = VOCAB + "about"
SURFACE = VOCAB + "surface"


def normalize_surface(col):
    """Deterministic surface normalization → block key (F1), built from
    JVM-side functions only: lower, strip punctuation, drop corporate
    suffixes, collapse whitespace."""
    c = F.lower(col)
    c = F.regexp_replace(c, r"[^a-z0-9]+", " ")
    c = F.regexp_replace(c, r"\b(inc|gmbh|corp|ltd|llc)\b", " ")
    c = F.trim(F.regexp_replace(c, r" +", " "))
    return c


def mention_edges(quads: DataFrame) -> DataFrame:
    """Edge list (src, dst) for CC from two sources:
    1. explicit owl:sameAs assertions between entity IRIs;
    2. blocking: entities whose mentions share a normalized surface form
       (star scheme within each block).
    """
    sameas = (
        quads.where((F.col("p") == OWL_SAMEAS) & (F.col("o_kind") == "iri"))
        .select(F.col("s").alias("src"), F.col("o_value").alias("dst"))
    )
    mentions = (
        quads.where((F.col("p") == ABOUT) & (F.col("o_kind") == "iri"))
        .select(F.col("s").alias("mention"), F.col("o_value").alias("entity"))
    )
    surfaces = (
        quads.where((F.col("p") == SURFACE) & (F.col("o_kind") == "literal"))
        .select(F.col("s").alias("mention"),
                normalize_surface(F.col("o_value")).alias("block_key"))
    )
    blocks = mentions.join(surfaces, "mention").select("entity", "block_key")
    # Star scheme: min entity per block, m edges per block (skew-safe).
    block_min = blocks.groupBy("block_key").agg(F.min("entity").alias("root"))
    block_edges = (
        blocks.join(block_min, "block_key")
        .select(F.col("entity").alias("src"), F.col("root").alias("dst"))
        .where(F.col("src") != F.col("dst"))
    )
    return sameas.unionByName(block_edges).distinct()


def _symmetrize(e: DataFrame) -> DataFrame:
    return e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))


def _large_star(e: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of u to min(Γ(u) ∪ {u}).

    The symmetrized edge list is NOT deduplicated before the min/join:
    duplicates cannot change a min, the join fan-out they cause is
    bounded ×2 (only mutual pairs repeat), and the round's output is
    deduplicated anyway — dropping the intermediate distinct saves one
    full shuffle of the edge set per round (r03; at 4.6e9 edges that is
    the single largest data movement in the loop)."""
    sym = _symmetrize(e)
    mins = (sym.groupBy("src").agg(F.min("dst").alias("mn"))
            .withColumn("mn", F.least("mn", F.col("src"))))
    return (sym.join(mins, "src")
            .where(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("mn").alias("dst"))
            .where(F.col("src") != F.col("dst"))
            .distinct())


def _small_star(e: DataFrame) -> DataFrame:
    """Connect every smaller-or-equal neighbor (and u itself) to the min."""
    oriented = (e.select(F.greatest("src", "dst").alias("src"),
                         F.least("src", "dst").alias("dst"))
                .where(F.col("src") != F.col("dst")))
    mins = oriented.groupBy("src").agg(F.min("dst").alias("mn"))
    nbrs = (oriented.join(mins, "src")
            .select(F.col("dst").alias("src"), F.col("mn").alias("dst")))
    selfs = mins.select("src", F.col("mn").alias("dst"))
    return (nbrs.unionByName(selfs)
            .where(F.col("src") != F.col("dst"))
            .distinct())


def _driver_union_find(rows) -> list[tuple[str, str]]:
    """Union-find with path compression for small edge sets."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != r:
            parent[x], x = r, parent[x]
        return r

    for src, dst in rows:
        ra, rb = find(src), find(dst)
        if ra != rb:
            # root = lexicographic min, matching the star algorithm
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    nodes = set(parent)
    for src, dst in rows:
        nodes.add(src)
        nodes.add(dst)
    return [(n, find(n)) for n in sorted(nodes) if find(n) != n]


def _set_digest(pairs: DataFrame) -> tuple:
    """Fixpoint test of a distinct pair set: bit_xor is overflow-free
    under ANSI mode and order-independent, a sound set digest."""
    return tuple(pairs.agg(F.count(F.lit(1)), F.expr(
        "bit_xor(xxhash64(src, dst))")).collect()[0])


def connected_components(edges: DataFrame,
                         driver_threshold: int = 200_000) -> DataFrame:
    """(src, dst) undirected edges → (node, root) with root = component min.

    Adaptive strategy (the GraphFrames-style switch): below
    ``driver_threshold`` edges, collect and run union-find on the driver —
    O(E α(E)) beats ~10 shuffle rounds by two orders of magnitude for the
    post-blocking entity graph, which is tiny relative to the quad table
    even at 10^12 turns (|entities| ≪ |mentions|). Above it, alternate
    large-star/small-star (Kiveris et al., proven to converge) until
    :func:`_set_digest` stops changing. localCheckpoint per round cuts
    lineage so plans stay O(1) deep (SURVEY.md §2.F2).
    """
    e = edges.select("src", "dst").where(F.col("src") != F.col("dst"))
    # one bounded collect returns the FULL edge set iff it fits under
    # the threshold — no separate count() pass over the (potentially
    # expensive, e.g. freshly-expanded) edge plan
    probe = collect_bounded(e, driver_threshold)
    if probe == []:
        return e.select(F.col("src").alias("node"), F.col("dst").alias("root"))
    if probe is not None:
        pairs = _driver_union_find([(r.src, r.dst) for r in probe])
        return local_frame(edges.sparkSession, pairs, ["node", "root"])
    cur, prev_sig = e, None
    while True:
        nxt = _small_star(_large_star(cur)).localCheckpoint(eager=True)
        # free the previous round's checkpoint — without this the
        # executor storage grows by one edge-set per round (surfaced as
        # GC-locker stalls at ~1M edges; fatal at web scale)
        if cur is not e:
            release(cur)
        cur = nxt
        sig = _set_digest(cur)
        if sig == prev_sig:
            break
        prev_sig = sig
    # At fixpoint every edge points at its component root.
    return cur.select(F.col("src").alias("node"), F.col("dst").alias("root"))


def transitive_closure(edges: DataFrame) -> DataFrame:
    """Directed transitive closure of an edge set — the SPARQL ``p+``
    property-path primitive over the constructed graph (follow-on to
    the BGP surface: ``?x p+ ?y`` = closure of the p edge list).

    Algorithm: **path doubling** — each round joins the closure with
    itself, so paths of length ≤ 2^k are covered after k rounds:
    O(log diameter) shuffle rounds, not O(diameter) like naive
    chaining (a 1M-long chain needs 21 rounds, not 1M), looping until
    :func:`_set_digest` stops changing. ``localCheckpoint`` per round
    cuts lineage exactly like the CC loop. Cycles yield their self-pairs
    ((a,a) for a on a cycle), matching SPARQL path semantics; explicit
    self-loops are length-1 paths and kept.

    Scale: each round is one equi-join + distinct on the pair key —
    AQE-splittable; the state is the closure pair set, which for the
    entity-alias graphs this engine builds is ≪ the quad table.
    """
    closure = edges.select("src", "dst").distinct() \
        .localCheckpoint(eager=True)
    prev_sig = None
    while True:
        a, b = closure.alias("a"), closure.alias("b")
        step = (a.join(b, F.col("a.dst") == F.col("b.src"))
                .select(F.col("a.src").alias("src"),
                        F.col("b.dst").alias("dst")))
        nxt = closure.unionByName(step).distinct() \
            .localCheckpoint(eager=True)
        release(closure)
        closure = nxt
        sig = _set_digest(closure)
        if sig == prev_sig:
            break
        prev_sig = sig
    return closure


def canonical_mapping(quads: DataFrame) -> DataFrame:
    """quads → (node, root) canonical-id map for entity IRIs (F2 result)."""
    return connected_components(mention_edges(quads))


def canonicalize_quads(quads: DataFrame, mapping: DataFrame,
                       broadcast_threshold: int = 2_000_000) -> DataFrame:
    """Rewrite subject/object IRIs to component roots (F3).

    The mapping is usually tiny relative to the quad table (entities ≪
    mentions) → broadcast hash join, zero shuffle of the big side. When
    the mapping outgrows ``broadcast_threshold`` rows (~hundreds of MB serialized; bounded
    limit(T+1) probe, no full count), the broadcast hint is DROPPED and
    the join runs as a shuffle hash/sort-merge join on s / o_value —
    the SCALE.md canonical-map fallback: a 10^9-entity mapping must not
    be shipped to every executor.
    """
    # bounded one-action probe, same pattern as connected_components
    probe_n = mapping.select("node").limit(broadcast_threshold + 1).count()
    if probe_n <= broadcast_threshold:
        smap = F.broadcast(mapping).alias("smap")
        omap = F.broadcast(mapping).alias("omap")
    else:
        smap = mapping.alias("smap")
        omap = mapping.alias("omap")
    q = quads.alias("q")
    return (
        q.join(smap, F.col("q.s") == F.col("smap.node"), "left")
        .join(omap, (F.col("q.o_value") == F.col("omap.node"))
              & (F.col("q.o_kind") == "iri"), "left")
        .select(
            F.col("q.g").alias("g"),
            F.coalesce(F.col("smap.root"), F.col("q.s")).alias("s"),
            F.col("q.s_is_bnode").alias("s_is_bnode"),
            F.col("q.p").alias("p"),
            F.col("q.o_kind").alias("o_kind"),
            F.coalesce(F.col("omap.root"), F.col("q.o_value")).alias("o_value"),
            F.col("q.o_datatype").alias("o_datatype"),
            F.col("q.o_lang").alias("o_lang"),
            F.col("q.conv_id").alias("conv_id"),
            F.col("q.turn_idx").alias("turn_idx"),
        )
    )


def entity_mention_counts(quads: DataFrame, mapping: DataFrame,
                          salt_buckets: int = 16) -> DataFrame:
    """Mentions per canonical entity with **salted aggregation** (E6):
    two-level groupBy so a hot entity's per-salt partials spread over
    ``salt_buckets`` reducers before the final combine. (AQE splits
    skewed joins but does NOT salt aggregations — SURVEY.md §4.2.)

    Where salting actually pays: for a plain ``count`` Spark's hash
    aggregate already does map-side partial combine (≤1 row per input
    partition per key reaches the shuffle), so this pattern buys little
    here — it is kept as THE template for the aggregations where partial
    state is large (``collect_list``/``collect_set``/exact distinct),
    where a hot key's state otherwise funnels through one reducer. The
    salt is ``pmod(xxhash64(key, row_id), K)`` — derived from the data,
    not ``spark_partition_id()``, so the spread never degrades when an
    upstream stage happens to deliver few (or skewed) partitions."""
    mentions = (
        quads.where((F.col("p") == ABOUT) & (F.col("o_kind") == "iri"))
        .select(F.col("o_value").alias("entity"))
    )
    canon = (
        mentions.join(F.broadcast(mapping),
                      mentions.entity == mapping.node, "left")
        .select(F.coalesce("root", "entity").alias("canonical_id"))
    )
    salted = canon.withColumn(
        "salt", F.pmod(F.xxhash64("canonical_id",
                                  F.monotonically_increasing_id()),
                       F.lit(salt_buckets)))
    partial = salted.groupBy("canonical_id", "salt").agg(
        F.count(F.lit(1)).alias("cnt"))
    return partial.groupBy("canonical_id").agg(
        F.sum("cnt").alias("n_mentions"))
