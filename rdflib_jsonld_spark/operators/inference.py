"""RDFS entailment materialization over quad tables — Spark-first.

``rdfs_closure(quads)`` returns the input plus the triples entailed by
the core RDFS rules, computed in ONE ordered pass of joins (no
fixpoint loop):

1. rdfs5 / rdfs11 — transitive closure of ``rdfs:subPropertyOf`` /
   ``rdfs:subClassOf`` via path doubling (reuses
   linking.transitive_closure: O(log diameter) shuffle rounds).
2. rdfs7 — ``(s p o) ∧ p ⊑ q → (s q o)`` (property inheritance).
3. rdfs2 — ``(p domain C) ∧ (s p o) → (s rdf:type C)``.
4. rdfs3 — ``(p range C) ∧ (s p o)``, o non-literal ``→ (o rdf:type C)``.
5. rdfs9 — ``(s rdf:type C) ∧ C ⊑ D → (s rdf:type D)``.

The order is complete for this rule set: property inheritance feeds
domain/range, whose types feed subclass propagation, and no later rule
produces input for an earlier one. (Exotic chains — a property
declared ``⊑ rdf:type``, or domains declared ON ``rdf:type`` firing
over freshly-inferred type triples — would need a second pass; they
are outside the materialized subset and documented here. [spec] RDF
1.1 Semantics §9.2 RDFS entailment rules,
https://www.w3.org/TR/rdf11-mt/#rdfs-entailment.)

Scale posture: ontology terms (sub-class/-property, domain, range
declarations) are a tiny fraction of any real dataset — Catalyst/AQE
broadcast them into every rule join, so each rule is one broadcast
hash join over the quad table, and the closures run on the
ontology-sized edge sets only. Inference lands in the default graph
(dataset-wide RDFS semantics; per-graph entailment is a documented
narrowing), with NULL lineage columns like every derived quad.

The reference checkout has no inference (tombstone; rdflib owns RDFS
entailment) — KG-construction breadth on the engine's quad model.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..plans.driver import local_frame
from .linking import transitive_closure
from .expand import QUAD_KEY_COLS
from .update import _anti_on_key, _conform

RDFS = "http://www.w3.org/2000/01/rdf-schema#"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"


def _edges(quads: DataFrame, pred: str) -> DataFrame:
    return (quads.where((F.col("p") == pred)
                        & (F.col("o_kind") != "literal"))
            .select(F.col("s").alias("src"),
                    F.col("o_value").alias("dst")))


def _quad_rows(df: DataFrame, s, s_is_bnode, p, o_kind, o_value
               ) -> DataFrame:
    return df.select(
        F.lit(None).cast("string").alias("g"),
        s.alias("s"),
        s_is_bnode.alias("s_is_bnode"),
        p.alias("p"),
        o_kind.alias("o_kind"),
        o_value.alias("o_value"),
        F.lit(None).cast("string").alias("o_datatype"),
        F.lit(None).cast("string").alias("o_lang"))


def rdfs_closure(quads: DataFrame,
                 include_schema_closure: bool = True) -> DataFrame:
    """Materialize RDFS entailment; returns input ∪ inferred, set-
    deduped on the quad key (input columns preserved, inferred rows
    carry NULL lineage). ``include_schema_closure`` also emits the
    closed ⊑ edges themselves (rdfs5/rdfs11) as triples."""
    has = set()
    for r in quads.where(F.col("p").isin(
            RDFS + "subClassOf", RDFS + "subPropertyOf",
            RDFS + "domain", RDFS + "range")) \
            .select("p").distinct().collect():
        has.add(r["p"])

    sco = transitive_closure(_edges(quads, RDFS + "subClassOf")) \
        if RDFS + "subClassOf" in has else None
    spo = transitive_closure(_edges(quads, RDFS + "subPropertyOf")) \
        if RDFS + "subPropertyOf" in has else None

    inferred: list[DataFrame] = []
    core = quads.select("g", "s", "s_is_bnode", "p", "o_kind",
                        "o_value", "o_datatype", "o_lang")

    # rdfs7: property inheritance (also the input for domain/range)
    ext = core
    if spo is not None:
        inh = (core.join(F.broadcast(spo.withColumnRenamed("src", "p")),
                         on="p")
               .select(F.lit(None).cast("string").alias("g"), "s",
                       "s_is_bnode", F.col("dst").alias("p"),
                       "o_kind", "o_value", "o_datatype", "o_lang"))
        inferred.append(inh)
        ext = core.unionByName(inh)

    # rdfs2/rdfs3: domain and range typing
    if RDFS + "domain" in has:
        dom = quads.where(F.col("p") == RDFS + "domain") \
            .select(F.col("s").alias("p"),
                    F.col("o_value").alias("cls"))
        inferred.append(_quad_rows(
            ext.join(F.broadcast(dom), on="p"),
            F.col("s"), F.col("s_is_bnode"), F.lit(RDF_TYPE),
            F.lit("iri"), F.col("cls")))
    if RDFS + "range" in has:
        rng = quads.where(F.col("p") == RDFS + "range") \
            .select(F.col("s").alias("p"),
                    F.col("o_value").alias("cls"))
        inferred.append(_quad_rows(
            ext.join(F.broadcast(rng), on="p")
            .where(F.col("o_kind") != "literal"),
            F.col("o_value"), F.col("o_kind") == "bnode",
            F.lit(RDF_TYPE), F.lit("iri"), F.col("cls")))

    # rdfs9: subclass type propagation over original + inferred types
    if sco is not None:
        all_types = ext.where(F.col("p") == RDF_TYPE) \
            .select("s", "s_is_bnode", F.col("o_value").alias("src"))
        for part in inferred:
            all_types = all_types.unionByName(
                part.where(F.col("p") == RDF_TYPE)
                .select("s", "s_is_bnode",
                        F.col("o_value").alias("src")))
        inferred.append(_quad_rows(
            all_types.join(F.broadcast(sco), on="src"),
            F.col("s"), F.col("s_is_bnode"), F.lit(RDF_TYPE),
            F.lit("iri"), F.col("dst")))

    # rdfs5/rdfs11: the closed schema edges as triples
    if include_schema_closure:
        for closure, pred in ((sco, RDFS + "subClassOf"),
                              (spo, RDFS + "subPropertyOf")):
            if closure is not None:
                inferred.append(_quad_rows(
                    closure, F.col("src"),
                    F.col("src").startswith("_:"), F.lit(pred),
                    F.lit("iri"), F.col("dst")))

    if not inferred:
        return quads
    new = inferred[0]
    for part in inferred[1:]:
        new = new.unionByName(part)
    new = new.dropDuplicates(QUAD_KEY_COLS)
    fresh = _anti_on_key(_conform(new, quads), quads)
    return quads.unionByName(fresh)


OWL = "http://www.w3.org/2002/07/owl#"


def owl_property_closure(quads: DataFrame) -> DataFrame:
    """Materialize the OWL property-characteristic rules that are safe
    as one ordered pass ([spec] OWL 2 RL, W3C Rec — rules prp-inv1/2,
    prp-symp, prp-trp; the reference has no inference, same breadth
    note as :func:`rdfs_closure`):

    1. ``p owl:inverseOf q`` → every ``(s p o)`` yields ``(o q s)`` and
       every ``(s q o)`` yields ``(o p s)``  (literal objects cannot
       invert — skipped per RDF abstract syntax).
    2. ``p rdf:type owl:SymmetricProperty`` → ``(s p o)`` yields
       ``(o p s)``.
    3. ``p owl:equivalentProperty q`` (prp-eqp1/2) → edges copy in both
       directions; equivalence CHAINS close on the driver (union-find
       over the ontology-sized pair list), so ``p ≡ q ≡ r`` propagates
       in this one pass.
    4. ``c owl:equivalentClass d`` (cax-eqc1/2) → ``rdf:type`` triples
       copy across each driver-closed class-equivalence class.
    5. ``p rdf:type owl:TransitiveProperty`` → per property, the
       transitive closure of its edge set (path doubling —
       O(log diameter) rounds on property-sized edge sets).

    Ordering is complete for these three: inverse/symmetric feed the
    transitive stage (their outputs are unioned in before closure);
    nothing transitive feeds back into inverse/symmetric for a FIXED
    property vocabulary (a property both symmetric and inverse of a
    transitive one converges here too because closure runs last on the
    extended edges). Property lists are ontology-sized → driver
    collect + broadcast joins, like the RDFS rules.
    """
    inv = (quads.where((F.col("p") == OWL + "inverseOf")
                       & (F.col("o_kind") == "iri"))
           .select(F.col("s").alias("pa"), F.col("o_value").alias("pb")))
    inv_rows = inv.collect()
    sym = [r["s"] for r in quads.where(
        (F.col("p") == RDF_TYPE)
        & (F.col("o_value") == OWL + "SymmetricProperty"))
        .select("s").distinct().collect()]
    trans = [r["s"] for r in quads.where(
        (F.col("p") == RDF_TYPE)
        & (F.col("o_value") == OWL + "TransitiveProperty"))
        .select("s").distinct().collect()]
    eqp = [(r["s"], r["o_value"]) for r in quads.where(
        (F.col("p") == OWL + "equivalentProperty")
        & (F.col("o_kind") == "iri")).select("s", "o_value").collect()]
    eqc = [(r["s"], r["o_value"]) for r in quads.where(
        (F.col("p") == OWL + "equivalentClass")
        & (F.col("o_kind") == "iri")).select("s", "o_value").collect()]

    core = quads.select("g", "s", "s_is_bnode", "p", "o_kind",
                        "o_value", "o_datatype", "o_lang")

    def flipped(df: DataFrame, new_p) -> DataFrame:
        src = df.where(F.col("o_kind") != "literal")
        return _quad_rows(
            src, F.col("o_value"), F.col("o_kind") == "bnode", new_p,
            F.when(F.col("s_is_bnode"), F.lit("bnode"))
            .otherwise(F.lit("iri")), F.col("s"))

    inferred: list[DataFrame] = []
    for r in inv_rows:
        inferred.append(flipped(core.where(F.col("p") == r["pa"]),
                                F.lit(r["pb"])))
        inferred.append(flipped(core.where(F.col("p") == r["pb"]),
                                F.lit(r["pa"])))
    for p in sym:
        inferred.append(flipped(core.where(F.col("p") == p), F.lit(p)))

    def _eq_classes(pairs):
        # union-find over the ontology-sized pair list: equivalence is
        # symmetric AND transitive, so chains close on the driver
        parent: dict = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in pairs:
            parent[find(a)] = find(b)
        groups: dict = {}
        for x in parent:
            groups.setdefault(find(x), []).append(x)
        return [sorted(g) for g in groups.values() if len(g) > 1]

    # prp-eqp1/2: copy each member's edges to every other member
    for group in _eq_classes(eqp):
        for pa in group:
            src = core.where(F.col("p") == pa)
            for pb in group:
                if pb != pa:
                    inferred.append(
                        src.withColumn("p", F.lit(pb))
                        .withColumn("g", F.lit(None).cast("string")))
    # cax-eqc1/2: copy rdf:type triples across the class group
    for group in _eq_classes(eqc):
        for ca in group:
            src = core.where((F.col("p") == RDF_TYPE)
                             & (F.col("o_value") == ca))
            for cb in group:
                if cb != ca:
                    inferred.append(
                        src.withColumn("o_value", F.lit(cb))
                        .withColumn("g", F.lit(None).cast("string")))

    # transitive stage sees the symmetric/inverse/equivalence output too
    ext = core
    for part in inferred:
        ext = ext.unionByName(part)
    for p in trans:
        edges = (ext.where((F.col("p") == p)
                           & (F.col("o_kind") != "literal"))
                 .select(F.col("s").alias("src"),
                         F.col("o_value").alias("dst")))
        closure = transitive_closure(edges)
        inferred.append(_quad_rows(
            closure, F.col("src"), F.col("src").startswith("_:"),
            F.lit(p), F.when(F.col("dst").startswith("_:"),
                             F.lit("bnode")).otherwise(F.lit("iri")),
            F.col("dst")))

    if not inferred:
        return quads
    new = inferred[0]
    for part in inferred[1:]:
        new = new.unionByName(part)
    new = new.dropDuplicates(QUAD_KEY_COLS)
    fresh = _anti_on_key(_conform(new, quads), quads)
    return quads.unionByName(fresh)


OWL_SAMEAS = OWL + "sameAs"


def owl_sameas_rules(quads: DataFrame) -> DataFrame:
    """Derive owl:sameAs pairs from (inverse-)functional property
    declarations ([spec] OWL 2 RL rules prp-fp / prp-ifp) — the
    ontology-driven face of entity resolution:

    - ``p rdf:type owl:FunctionalProperty`` ∧ (x p y₁) ∧ (x p y₂)
      → y₁ owl:sameAs y₂  (non-literal objects only);
    - ``p rdf:type owl:InverseFunctionalProperty`` ∧ (x₁ p y) ∧ (x₂ p y)
      → x₁ owl:sameAs x₂  (the "same email ⇒ same person" rule;
      literal keys compare on (lexical, datatype, language)).

    Returns the DERIVED canonical pairs (src < dst, one row each) —
    feed them to linking.connected_components / canonicalize_quads,
    which is where a KG pipeline closes the equivalence. Per declared
    property: one self-join keyed on the subject (fp) or the full
    object identity (ifp); AQE handles hot keys the same way the
    blocking join does.
    """
    fp = [r["s"] for r in quads.where(
        (F.col("p") == RDF_TYPE)
        & (F.col("o_value") == OWL + "FunctionalProperty"))
        .select("s").distinct().collect()]
    ifp = [r["s"] for r in quads.where(
        (F.col("p") == RDF_TYPE)
        & (F.col("o_value") == OWL + "InverseFunctionalProperty"))
        .select("s").distinct().collect()]
    spark = quads.sparkSession
    empty = local_frame(spark, [], "src string, dst string")
    outs: list[DataFrame] = []
    for p in fp:
        vals = (quads.where((F.col("p") == p)
                            & (F.col("o_kind") != "literal"))
                .select(F.col("s").alias("x"),
                        F.col("o_value").alias("y")).distinct())
        a = vals.select("x", F.col("y").alias("ya"))
        b = vals.select(F.col("x").alias("xb"), F.col("y").alias("yb"))
        outs.append(a.join(b, (a.x == b.xb) & (a.ya < b.yb))
                    .select(F.col("ya").alias("src"),
                            F.col("yb").alias("dst")))
    for p in ifp:
        vals = (quads.where(F.col("p") == p)
                .select(F.col("s").alias("x"), "o_kind", "o_value",
                        "o_datatype", "o_lang").distinct())
        key = ["o_kind", "o_value", "o_datatype", "o_lang"]
        a = vals.select(F.col("x").alias("xa"), *key)
        b = vals.toDF(*(["xb"] + key))
        cond = (F.col("xa") < F.col("xb"))
        for k in key:
            cond = cond & a[k].eqNullSafe(b[k])
        outs.append(a.join(b, cond)
                    .select(F.col("xa").alias("src"),
                            F.col("xb").alias("dst")))
    if not outs:
        return empty
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.dropDuplicates(["src", "dst"])
