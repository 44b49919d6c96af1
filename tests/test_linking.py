"""Entity linking: CC correctness on adversarial shapes + gold-cluster
recovery from the synthetic corpus (SURVEY.md §2.F2/F3, FIXTURES.md §5)."""

import re

from pyspark.sql import functions as F

from rdflib_jsonld_spark.operators.expand import expand_transcripts
from rdflib_jsonld_spark.operators.linking import (
    canonical_mapping, canonicalize_quads, connected_components,
    entity_mention_counts, mention_edges, normalize_surface)
from rdflib_jsonld_spark.sources import transcripts as tr
from rdflib_jsonld_spark.sources.registry import KG


def _cc(spark, pairs):
    """Run BOTH CC paths (driver union-find and distributed star) and
    assert they agree before returning the mapping."""
    e = spark.createDataFrame(pairs, ["src", "dst"])
    fast = {(r.node, r.root) for r in connected_components(e).collect()}
    dist = {(r.node, r.root) for r in
            connected_components(e, driver_threshold=0).collect()}
    assert fast == dist, (sorted(fast - dist)[:5], sorted(dist - fast)[:5])
    return dict(fast)


def test_cc_chain(spark):
    # 12-node chain — needs multiple star rounds
    pairs = [(f"n{i:02d}", f"n{i+1:02d}") for i in range(11)]
    comp = _cc(spark, pairs)
    assert set(comp.values()) == {"n00"}
    assert all(comp[f"n{i:02d}"] == "n00" for i in range(1, 12))


def test_cc_two_components_and_clique(spark):
    pairs = [("a1", "a2"), ("a2", "a3"), ("a1", "a3"),  # clique
             ("b1", "b2"),
             ("c1", "c2"), ("c2", "c3"), ("c3", "c4"), ("c1", "c4")]  # cycle
    comp = _cc(spark, pairs)
    assert comp["a2"] == comp["a3"] == "a1"
    assert comp["b2"] == "b1"
    assert comp["c2"] == comp["c3"] == comp["c4"] == "c1"


def test_cc_star_hot_node(spark):
    # skew: one hub connected to 200 leaves
    pairs = [("hub", f"leaf{i:03d}") for i in range(200)]
    comp = _cc(spark, pairs)
    assert set(comp.values()) == {"hub"}
    assert len(comp) == 200


def test_normalize_surface(spark):
    df = spark.createDataFrame(
        [("Quantum Systems 0",), ("quantum-systems-0",),
         ("QUANTUM SYSTEMS 0",), ("quantum systems 0 inc",)], ["s"])
    vals = {r[0] for r in df.select(normalize_surface(F.col("s"))).collect()}
    assert vals == {"quantum systems 0"}


def test_gold_cluster_recovery(spark):
    """CC over sameAs + surface-block edges must recover the generator's
    gold clustering alias → kge:e/{i}/a0 (FIXTURES.md §5)."""
    df = tr.transcripts_df(spark, n_convs=80, seed=42, partitions=8)
    quads = expand_transcripts(df).cache()
    mapping = canonical_mapping(quads)
    alias_re = re.compile(re.escape(KG) + r"e/(\d+)/a(\d+)$")
    bad = []
    rows = mapping.collect()
    seen_entities = set()
    for r in rows:
        m = alias_re.match(r.node)
        if not m:
            continue
        ent = m.group(1)
        seen_entities.add(ent)
        if r.root != f"{KG}e/{ent}/a0":
            bad.append((r.node, r.root))
    assert not bad, bad[:10]
    assert len(seen_entities) > 20  # corpus covered a spread of entities
    # aliases j>0 actually occurred (CC had real work)
    assert any(alias_re.match(r.node).group(2) != "0"
               for r in rows if alias_re.match(r.node))
    quads.unpersist()


def test_pipeline_partition_independence(spark):
    """Full pipeline (expand→link→canonical counts) yields identical
    results regardless of input partitioning (SURVEY.md §5.2.4)."""
    import __spark_entry__ as em

    def run(partitions):
        df = tr.transcripts_df(spark, n_convs=30, seed=42,
                               partitions=partitions)
        quads = expand_transcripts(df)
        from rdflib_jsonld_spark.operators.expand import dedup_quads
        q = dedup_quads(quads).persist()
        mapping = canonical_mapping(q)
        counts = entity_mention_counts(q, mapping)
        out = {(r.canonical_id, r.n_mentions) for r in counts.collect()}
        q.unpersist()
        return out

    assert run(3) == run(13)


def test_canonicalize_broadcast_plan(spark):
    """F3 rewrite must broadcast the canonical map (entities ≪ quads)."""
    quads = expand_transcripts(tr.transcripts_df(spark, 5, partitions=2))
    mapping = spark.createDataFrame([("a", "b")], ["node", "root"])
    plan = canonicalize_quads(quads, mapping)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_canonicalize_shuffle_fallback_past_threshold(spark):
    """SCALE.md canonical-map row: when the mapping outgrows the
    broadcast threshold the hint is dropped and the join runs as a
    shuffle join — a 10^9-entity map must never ship to every executor.
    Both strategies must agree on the rewrite."""
    quads = expand_transcripts(tr.transcripts_df(spark, 5, partitions=2))
    mapping = spark.createDataFrame(
        [(f"{KG}e/{i}/a1", f"{KG}e/{i}/a0") for i in range(8)],
        ["node", "root"])
    # disable size-based auto-broadcast so the plan reflects ONLY our hint
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        small = canonicalize_quads(quads, mapping, broadcast_threshold=100)
        big = canonicalize_quads(quads, mapping, broadcast_threshold=4)
        p_small = small._jdf.queryExecution().executedPlan().toString()
        p_big = big._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in p_small
        assert "BroadcastHashJoin" not in p_big
        assert ("SortMergeJoin" in p_big) or ("ShuffledHashJoin" in p_big)
        key = ["g", "s", "p", "o_kind", "o_value"]
        a = {tuple(r) for r in small.select(*key).collect()}
        b = {tuple(r) for r in big.select(*key).collect()}
        assert a == b and a
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_canonicalize_and_counts(spark):
    df = tr.transcripts_df(spark, n_convs=40, seed=42, partitions=4)
    quads = expand_transcripts(df).cache()
    mapping = canonical_mapping(quads).cache()
    canon = canonicalize_quads(quads, mapping)
    # after rewrite, no subject/object alias with j>0 remains
    alias_pat = re.escape(KG) + r"e/\d+/a[1-9]"
    assert canon.where(F.col("s").rlike(alias_pat)).count() == 0
    assert canon.where((F.col("o_kind") == "iri")
                       & F.col("o_value").rlike(alias_pat)).count() == 0
    # salted counts equal naive counts
    counts = entity_mention_counts(quads, mapping)
    naive = (
        canonicalize_quads(quads, mapping)
        .where((F.col("p") == f"{KG}vocab#about") & (F.col("o_kind") == "iri"))
        .groupBy(F.col("o_value").alias("canonical_id"))
        .agg(F.count(F.lit(1)).alias("n_mentions"))
    )
    got = {(r.canonical_id, r.n_mentions) for r in counts.collect()}
    want = {(r.canonical_id, r.n_mentions) for r in naive.collect()}
    assert got == want
    # zipf: entity 0 is the hot head
    top = max(got, key=lambda t: t[1])
    assert top[0] == f"{KG}e/0/a0"
    mapping.unpersist()
    quads.unpersist()


def test_transitive_closure_chain_and_cycle(spark):
    """p+ property-path primitive: path doubling covers long chains in
    O(log n) rounds; cycles yield their self-pairs (SPARQL semantics);
    disconnected components never mix."""
    from rdflib_jsonld_spark.operators.linking import transitive_closure
    chain = [(f"n{i}", f"n{i+1}") for i in range(9)]        # n0→…→n9
    cycle = [("x", "y"), ("y", "x")]
    other = [("p", "q")]
    edges = spark.createDataFrame(chain + cycle + other, ["src", "dst"])
    got = {(r.src, r.dst) for r in transitive_closure(edges).collect()}
    want = {(f"n{i}", f"n{j}") for i in range(10) for j in range(10) if i < j}
    want |= {("x", "y"), ("y", "x"), ("x", "x"), ("y", "y"), ("p", "q")}
    assert got == want
