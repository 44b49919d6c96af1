"""SHACL-core shape validation over quad tables — Spark-first.

``validate(quads, shapes)`` evaluates the common SHACL core constraint
set and returns a VIOLATIONS DataFrame ``(shape_id, focus, path,
constraint, value)`` — empty means conformant, and the row set is the
Spark-native ValidationReport (aggregate it, join it back to sources,
write it next to the data). Shapes are plain Python dicts (the
shapes-graph-as-RDF parser is a documented narrowing — pipelines
version shapes in code):

    {"id": "PersonShape",
     "target_class": iri,            # or target_subjects_of: pred
     "closed": True,                 # only declared paths allowed
     "ignored_properties": [iris],   # exempt from closed (rdf:type always)
     "properties": [
        {"path": pred,
         "min_count": n, "max_count": n,
         "datatype": xsd_iri,
         "node_kind": "iri"|"literal"|"bnode"              # §4.1.3, incl.
                      |"bnode_or_iri"|"bnode_or_literal"   # the compound
                      |"iri_or_literal",                   # kinds
         "class": iri,               # values must be instances of iri
         "pattern": regex,           # on the lexical form
         "in": [lexical values],
         "min_inclusive": x, "max_inclusive": x,
         "has_value": lexical,       # some value must equal this
         "unique_lang": True,        # ≤1 value per language tag
         "min_length": n, "max_length": n,
         "language_in": ["en", ...],
         "equals": pred2,            # same value set as pred2
         "disjoint": pred2,          # no shared values with pred2
         "less_than": pred2}]}       # every pair v < v2 (numeric-aware)

[spec] W3C SHACL, https://www.w3.org/TR/shacl/ — §2 shapes/targets,
§4 core constraint components (sh:minCount/maxCount §4.2,
sh:datatype/nodeKind/class §4.1, sh:minInclusive/maxInclusive +
sh:min/maxLength §4.3, sh:pattern/languageIn/uniqueLang §4.4,
sh:equals/disjoint/lessThan §4.5, sh:in/hasValue §4.6, sh:closed
§4.8). The reference checkout has no validation (tombstone; SHACL
post-dates it) — KG-QA breadth.

Comparison semantics (sweep 18): sh:equals/sh:disjoint compare full RDF
terms (kind+lexical+datatype+lang), and the SPARQL-comparison components
(sh:min/maxInclusive, sh:lessThan) follow the spec's "violation unless
the comparison returns true" — non-numeric, non-literal, lang-tagged or
mixed-type operands are violations, never silent passes. sh:in and
sh:hasValue keep the documented LEXICAL matching (this dict-based shape
surface takes plain strings; a narrowing, noted here).

Every constraint is JVM column algebra over one (focus ⋈ values)
join per property shape: counting constraints are a groupBy on the
focus key, value constraints are narrow filters, sh:class is one
anti-join against the type table. The shapes themselves are
driver-side constants — nothing here scales with anything but the
quad table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..plans.driver import local_frame

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
_XSD = "http://www.w3.org/2001/XMLSchema#"
#: datatypes SPARQL's numeric operator mapping covers ([spec] SPARQL 1.1
#: §17.1 operand data types) — sh:lessThan / min/maxInclusive compare
#: numerically only when the value actually carries one of these.
NUMERIC_DTS = tuple(_XSD + n for n in (
    "integer", "decimal", "double", "float", "long", "int", "short",
    "byte", "nonNegativeInteger", "nonPositiveInteger", "negativeInteger",
    "positiveInteger", "unsignedLong", "unsignedInt", "unsignedShort",
    "unsignedByte"))
#: sh:nodeKind values ([spec] SHACL §4.1.3) → allowed o_kind sets; the
#: three plain kinds keep the module's lowercase convention.
NODE_KINDS = {
    "iri": ("iri",), "literal": ("literal",), "bnode": ("bnode",),
    "bnode_or_iri": ("bnode", "iri"),
    "bnode_or_literal": ("bnode", "literal"),
    "iri_or_literal": ("iri", "literal"),
}

_REPORT_COLS = ("shape_id", "focus", "path", "constraint", "value")


def _term_key(kind="o_kind", value="value", dt="o_datatype", lang="o_lang"):
    """Full-term join key — sh:equals/sh:disjoint compare RDF TERMS, not
    lexical forms ([spec] SHACL §4.5: 'value nodes'); 'x'@en and 'x'@fr
    must not count as equal (sweep 18)."""
    # \x1f-separated with the free-text lexical form LAST: kind is a
    # fixed word, datatype an IRI, lang alphanumeric — none can contain
    # \x1f — so the remainder after the third separator is unambiguously
    # the value even if the value itself contains the separator
    # (ADVICE r04: a separator the VALUE can contain still allowed
    # value/datatype boundary collisions with value in second position).
    return F.concat_ws("\x1f", F.col(kind),
                       F.coalesce(F.col(dt), F.lit("")),
                       F.coalesce(F.col(lang), F.lit("")),
                       F.col(value))


def _report(df: DataFrame, shape_id: str, path: str, constraint: str,
            has_value: bool = True) -> DataFrame:
    return df.select(
        F.lit(shape_id).alias("shape_id"),
        F.col("focus"),
        F.lit(path).alias("path"),
        F.lit(constraint).alias("constraint"),
        (F.col("value") if has_value
         else F.lit(None).cast("string")).alias("value"))


def _focus_nodes(quads: DataFrame, shape: dict) -> DataFrame:
    if "target_class" in shape:
        return (quads.where((F.col("p") == RDF_TYPE)
                            & (F.col("o_value") == shape["target_class"]))
                .select(F.col("s").alias("focus")).distinct())
    if "target_subjects_of" in shape:
        return (quads.where(F.col("p") == shape["target_subjects_of"])
                .select(F.col("s").alias("focus")).distinct())
    if "target_node" in shape:
        return local_frame(quads.sparkSession,
                           [(n,) for n in shape["target_node"]],
                           "focus string")
    raise ValueError(f"shape {shape.get('id')}: needs target_class / "
                     f"target_subjects_of / target_node")


def validate(quads: DataFrame, shapes: list[dict]) -> DataFrame:
    """Evaluate ``shapes`` against ``quads`` → violations DataFrame
    (empty ⇔ conformant)."""
    spark = quads.sparkSession
    out: DataFrame | None = None

    def add(df: DataFrame):
        nonlocal out
        out = df if out is None else out.unionByName(df)

    for shape in shapes:
        sid = shape.get("id", "shape")
        focus = _focus_nodes(quads, shape)
        for ps in shape.get("properties", []):
            path = ps["path"]
            vals = focus.join(
                quads.where(F.col("p") == path)
                .select(F.col("s").alias("focus"),
                        F.col("o_kind"),
                        F.col("o_value").alias("value"),
                        F.col("o_datatype"),
                        F.col("o_lang")),
                on="focus", how="left")
            present = vals.where(F.col("value").isNotNull())

            if "min_count" in ps or "max_count" in ps:
                counts = vals.groupBy("focus").agg(
                    F.count("value").alias("_n"))
                if "min_count" in ps:
                    add(_report(
                        counts.where(F.col("_n") < ps["min_count"]),
                        sid, path, "min_count", has_value=False))
                if "max_count" in ps:
                    add(_report(
                        counts.where(F.col("_n") > ps["max_count"]),
                        sid, path, "max_count", has_value=False))
            if "datatype" in ps:
                add(_report(present.where(
                    (F.col("o_kind") != "literal")
                    | ~F.col("o_datatype").eqNullSafe(ps["datatype"])),
                    sid, path, "datatype"))
            if "node_kind" in ps:
                allowed_kinds = NODE_KINDS[ps["node_kind"]]
                add(_report(
                    present.where(~F.col("o_kind").isin(*allowed_kinds)),
                    sid, path, "node_kind"))
            if "class" in ps:
                types = quads.where(
                    (F.col("p") == RDF_TYPE)
                    & (F.col("o_value") == ps["class"])) \
                    .select(F.col("s").alias("value")).distinct()
                add(_report(
                    present.join(types, on="value", how="left_anti"),
                    sid, path, "class"))
            if "pattern" in ps:
                # [spec] SHACL §4.4.2: blank nodes ALWAYS violate
                # sh:pattern; IRIs match against their string form.
                add(_report(
                    present.where((F.col("o_kind") == "bnode")
                                  | ~F.col("value").rlike(ps["pattern"])),
                    sid, path, "pattern"))
            if "in" in ps:
                add(_report(
                    present.where(~F.col("value").isin(ps["in"])),
                    sid, path, "in"))
            # [spec] SHACL §4.3: a range violation exists whenever the
            # SPARQL comparison does NOT return true — non-numeric and
            # non-literal values therefore VIOLATE instead of passing
            # silently (sweep 18).
            _rng_num = (F.col("o_kind") == "literal") \
                & F.col("o_datatype").isin(*NUMERIC_DTS) \
                & F.col("value").cast("double").isNotNull()
            if "min_inclusive" in ps:
                add(_report(present.where(
                    ~(_rng_num & (F.col("value").cast("double")
                                  >= float(ps["min_inclusive"])))),
                    sid, path, "min_inclusive"))
            if "max_inclusive" in ps:
                add(_report(present.where(
                    ~(_rng_num & (F.col("value").cast("double")
                                  <= float(ps["max_inclusive"])))),
                    sid, path, "max_inclusive"))
            if "min_length" in ps:
                add(_report(present.where(
                    (F.col("o_kind") == "bnode")
                    | (F.length("value") < ps["min_length"])),
                    sid, path, "min_length"))
            if "max_length" in ps:
                add(_report(present.where(
                    (F.col("o_kind") == "bnode")
                    | (F.length("value") > ps["max_length"])),
                    sid, path, "max_length"))
            if "has_value" in ps:
                # violation is on the FOCUS: no value equals the target
                hv = vals.groupBy("focus").agg(
                    F.max(F.col("value")
                          .eqNullSafe(ps["has_value"]).cast("int"))
                    .alias("_hit"))
                add(_report(hv.where(F.col("_hit") < 1),
                            sid, path, "has_value", has_value=False))
            if ps.get("unique_lang"):
                dupl = (present.where(F.col("o_lang").isNotNull())
                        .groupBy("focus", "o_lang")
                        .agg(F.count(F.lit(1)).alias("_n"))
                        .where(F.col("_n") > 1)
                        .select("focus", F.col("o_lang").alias("value")))
                add(_report(dupl, sid, path, "unique_lang"))
            if "language_in" in ps:
                add(_report(present.where(
                    ~F.coalesce(F.col("o_lang"), F.lit(""))
                    .isin([lang.lower() for lang in ps["language_in"]])),
                    sid, path, "language_in"))
            for key, how in (("equals", "equals"),
                             ("disjoint", "disjoint")):
                if key not in ps:
                    continue
                # sh:equals/sh:disjoint compare full RDF TERMS ([spec]
                # SHACL §4.5) — join on the term key, not the lexical
                # form, so 'x'@en vs 'x'@fr (or an IRI vs a same-lexical
                # literal) never count as the same value (sweep 18).
                other = focus.join(
                    quads.where(F.col("p") == ps[key])
                    .select(F.col("s").alias("focus"),
                            _term_key(value="o_value").alias("_term"),
                            F.col("o_value").alias("value")),
                    on="focus")
                mine = present.select("focus", _term_key().alias("_term"),
                                      "value")
                if how == "equals":
                    # every value not in BOTH sets is a violation
                    only_mine = mine.join(other.select("focus", "_term"),
                                          ["focus", "_term"], "left_anti")
                    only_other = other.join(mine.select("focus", "_term"),
                                            ["focus", "_term"], "left_anti")
                    add(_report(only_mine.select("focus", "value")
                                .unionByName(only_other
                                             .select("focus", "value"))
                                .distinct(), sid, path, "equals"))
                else:
                    add(_report(mine.join(other.select("focus", "_term"),
                                          ["focus", "_term"], "left_semi")
                                .select("focus", "value").distinct(),
                                sid, path, "disjoint"))
            if "less_than" in ps:
                other = focus.join(
                    quads.where(F.col("p") == ps["less_than"])
                    .select(F.col("s").alias("focus"),
                            F.col("o_kind").alias("_k2"),
                            F.col("o_value").alias("_v2"),
                            F.col("o_datatype").alias("_dt2"),
                            F.col("o_lang").alias("_lang2")),
                    on="focus")
                pairs = present.select(
                    "focus", "o_kind", "value", "o_datatype", "o_lang") \
                    .join(other, "focus")
                # [spec] SHACL §4.5.3: a violation exists whenever the
                # SPARQL '<' comparison does NOT return true — numeric
                # pairs compare numerically, plain/xsd:string pairs
                # lexically, and every incomparable pair (IRIs, bnodes,
                # lang-tagged or mixed-type operands — SPARQL type
                # errors) VIOLATES instead of passing silently (sweep 18).
                v1d = F.col("value").cast("double")
                v2d = F.col("_v2").cast("double")
                n1 = (F.col("o_kind") == "literal") \
                    & F.col("o_datatype").isin(*NUMERIC_DTS) \
                    & v1d.isNotNull()
                n2 = (F.col("_k2") == "literal") \
                    & F.col("_dt2").isin(*NUMERIC_DTS) & v2d.isNotNull()
                s1 = (F.col("o_kind") == "literal") \
                    & F.col("o_lang").isNull() \
                    & (F.col("o_datatype").isNull()
                       | (F.col("o_datatype") == _XSD + "string"))
                s2 = (F.col("_k2") == "literal") \
                    & F.col("_lang2").isNull() \
                    & (F.col("_dt2").isNull()
                       | (F.col("_dt2") == _XSD + "string"))
                ok = (n1 & n2 & (v1d < v2d)) \
                    | (s1 & s2 & (F.col("value") < F.col("_v2")))
                add(_report(pairs.where(~ok)
                            .select("focus", "value").distinct(),
                            sid, path, "less_than"))

        if shape.get("closed"):
            allowed = ({ps["path"] for ps in shape.get("properties", [])}
                       | set(shape.get("ignored_properties", []))
                       | {RDF_TYPE})
            offending = (focus.join(
                quads.select(F.col("s").alias("focus"), "p",
                             F.col("o_value")),
                on="focus")
                .where(~F.col("p").isin(sorted(allowed)))
                .select("focus", F.col("p").alias("_path"),
                        F.col("o_value").alias("value")))
            add(offending.select(
                F.lit(sid).alias("shape_id"), "focus",
                F.col("_path").alias("path"),
                F.lit("closed").alias("constraint"), "value"))

    if out is None:
        return local_frame(
            spark, [], "shape_id string, focus string, path string, "
                "constraint string, value string")
    return out
