"""Distributed N-Quads source/sink for quad tables.

The reference round-tripped graphs through ``.nq`` golden files and rdflib's
nquads plugin ([v0.5.0] test/test_testsuite.py compared toRdf output against
N-Quads — SURVEY.md §5.1); this is the same capability as a Spark I/O pair
per [spec] RDF 1.1 N-Quads (W3C Rec 2014-02-25):

- **sink**: quad rows → one N-Quads statement per line, built ENTIRELY with
  JVM-side column functions (literal `F.replace` chains for escaping, no
  regex, no Python) — the write path stays in whole-stage codegen and
  scales with the cluster; `df.write.text` emits one part-file per
  partition.
- **source**: `spark.read.text` → Arrow-batched ``mapInPandas`` over the
  pure-core parser (jsonld/nquads.py parse_line) — parsing is inherently
  per-line stringy work, so it rides the same vectorized-UDF seam as
  expansion (SURVEY.md §2.J).

Line-format parity with the pure core (`jsonld.nquads.quad_to_nq`) is
asserted test-side so fixtures, the oracle comparator, and the distributed
sink can never drift apart.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F

from rdflib_jsonld_spark.jsonld import keys
from rdflib_jsonld_spark.operators.expand import CORE_SCHEMA, quad_to_cells


def _escape_col(c):
    """N-Quads string escaping ([spec] N-Quads §2.3 ECHAR): literal
    replaces, backslash FIRST. `F.replace` is plain-string (no regex)."""
    c = F.replace(c, F.lit("\\"), F.lit("\\\\"))
    c = F.replace(c, F.lit('"'), F.lit('\\"'))
    c = F.replace(c, F.lit("\n"), F.lit("\\n"))
    c = F.replace(c, F.lit("\r"), F.lit("\\r"))
    c = F.replace(c, F.lit("\t"), F.lit("\\t"))
    return c


def _encode_label_col(c):
    """JVM twin of jsonld.nquads.encode_label: injectively map lineage-
    salted labels onto N-Quads BLANK_NODE_LABEL grammar. '_' escape FIRST;
    the '_e' sentinel marks sink-encoded labels so the reader leaves
    foreign labels untouched (see jsonld.nquads.LABEL_SENTINEL). Labels
    with chars outside the table's safe set (space, quotes, … — foreign
    documents' identifiers) are deterministically relabeled to a hashed
    form instead of emitted unparseable (sweep 27; bnode labels carry no
    RDF semantics, so stable relabeling is sound)."""
    from rdflib_jsonld_spark.jsonld.nquads import LABEL_ILLEGAL_PATTERN
    hashed = F.concat(F.lit("_e_x"), F.substring(F.md5(c), 1, 16))
    enc = c
    for raw, code in (("_", "__"), ("/", "_s"), ("#", "_h"),
                      (":", "_c"), (".", "_d")):
        enc = F.replace(enc, F.lit(raw), F.lit(code))
    return F.when(c.rlike(LABEL_ILLEGAL_PATTERN), hashed) \
        .otherwise(F.concat(F.lit("_e"), enc))


def _tok_quotes_odd(tok):
    """Does this space-split token flip string-literal quote parity?
    Counts UNESCAPED '\"' — strip '\\\\' pairs first so a literal
    backslash before a real quote still counts it, then strip '\\\"'."""
    x = F.replace(F.replace(tok, F.lit("\\\\"), F.lit("")),
                  F.lit('\\"'), F.lit(""))
    return (F.length(x) - F.length(F.replace(x, F.lit('"'), F.lit("")))) \
        % 2 == 1


def _encode_star_col(c):
    """Quoted-triple table spelling ('<< … >>', star.py) → grammar-safe
    N-Quads spelling: every bnode label INSIDE the spelling goes through
    the same sentinel encoder as plain cells (ADVICE r04 medium: raw
    labels carrying '/ # : .' were emitted as unparseable
    BLANK_NODE_LABELs). Pure JVM: one `F.aggregate` fold over the
    space-split tokens of the canonical spelling — '_:' tokens outside
    string literals are re-labeled, quote parity guards literal bodies
    that themselves contain ' _:x ' text. Labels containing the
    spelling's own delimiters (space, '\"') are not recoverable from a
    flat spelling and stay the caller's malformed-cell problem."""
    return F.aggregate(
        F.split(c, " "),
        F.struct(F.lit(False).alias("inq"), F.lit("").alias("acc")),
        lambda st, tok: F.struct(
            (st["inq"] != _tok_quotes_odd(tok)).alias("inq"),
            F.concat(
                st["acc"],
                F.when(F.length(st["acc"]) == 0, F.lit(""))
                .otherwise(F.lit(" ")),
                F.when((~st["inq"]) & tok.startswith("_:"),
                       F.concat(F.lit("_:"),
                                _encode_label_col(
                                    F.substring(tok, 3, 1 << 30))))
                .otherwise(tok)).alias("acc")),
        lambda st: st["acc"])


def _node_col(c):
    """IRI-or-bnode column → N-Quads spelling (bnodes carry '_:');
    RDF-star quoted spellings ('<< … >>', star.py table encoding) keep
    their shape but get their inner bnode labels sentinel-encoded like
    every plain cell (`_encode_star_col`)."""
    return F.when(c.startswith("<<"), _encode_star_col(c)) \
        .when(c.startswith("_:"),
              F.concat(F.lit("_:"),
                       _encode_label_col(F.substring(c, 3, 1 << 30)))) \
        .otherwise(F.concat(F.lit("<"), c, F.lit(">")))


def nquads_lines(quads: DataFrame) -> DataFrame:
    """quads(g,s,p,o_kind,o_value,o_datatype,o_lang,…) → one-column
    DataFrame ``value`` of N-Quads statements. Pure column algebra."""
    lit_body = F.concat(F.lit('"'), _escape_col(F.col("o_value")),
                        F.lit('"'))
    obj = (
        F.when(F.col("o_kind") == "triple", _encode_star_col(F.col("o_value")))
        .when(F.col("o_kind") == "literal",
               F.when(F.col("o_lang").isNotNull(),
                      F.concat(lit_body, F.lit("@"), F.col("o_lang")))
               .when(F.col("o_datatype").isNotNull()
                     & (F.col("o_datatype") != keys.XSD_STRING),
                     F.concat(lit_body, F.lit("^^<"),
                              F.col("o_datatype"), F.lit(">")))
               .otherwise(lit_body))
        .otherwise(_node_col(F.col("o_value")))
    )
    line = F.concat(
        _node_col(F.col("s")), F.lit(" "),
        _node_col(F.col("p")), F.lit(" "),
        obj,
        F.when(F.col("g").isNotNull(),
               F.concat(F.lit(" "), _node_col(F.col("g"))))
        .otherwise(F.lit("")),
        F.lit(" ."),
    )
    return quads.select(line.alias("value"))


def write_nquads(quads: DataFrame, path: str, mode: str = "error") -> None:
    """Materialize a quad table as N-Quads text (one part per partition)."""
    nquads_lines(quads).write.mode(mode).text(path)


def read_nquads(spark: SparkSession, path: str,
                decode_labels: bool = True,
                strict: bool = True) -> DataFrame:
    """N-Quads text file(s) → quad table (lineage-free columns).

    Splittable: `spark.read.text` gives one row per line across file
    splits; each Arrow batch runs the pure-core parser.

    ``decode_labels``: decode '_e'-sentinel bnode labels this sink wrote
    (lineage-salt round trip). For ENTIRELY foreign corpora pass False —
    an in-band sentinel is only unambiguous against our own output, and a
    foreign file that legitimately contains both '_:b0' and '_:_eb0'
    would otherwise see them merged."""
    return parse_nquads_lines(spark.read.text(path),
                              decode_labels=decode_labels, strict=strict)


#: One-regex grammar for a whole statement — the vectorized fast path.
#: LANGTAG per the spec production; a trailing '# comment' after the final
#: '.' is grammar-legal (sweep 17). Terminating-dot backtracking already
#: keeps '.' out of bnode labels here (the anchored $ forces it).
_LINE_RE = (
    r'^\s*(?:<(?P<s_iri>[^>]*)>|_:(?P<s_bn>[^\s<"]+))'
    r'\s+(?:<(?P<p_iri>[^>]*)>|_:(?P<p_bn>[^\s<"]+))'
    r'\s+(?:<(?P<o_iri>[^>]*)>|_:(?P<o_bn>[^\s<"]+)'
    r'|"(?P<lit>(?:[^"\\]|\\.)*)"'
    r'(?:\^\^<(?P<dt>[^>]*)>|@(?P<lang>[a-zA-Z]+(?:-[a-zA-Z0-9]+)*))?)'
    r'\s*(?:<(?P<g_iri>[^>]*)>|_:(?P<g_bn>[^\s<"]+))?'
    r'\s*\.\s*(?:#.*)?$'
)


def parse_nquads_lines(lines: DataFrame,
                       decode_labels: bool = True,
                       strict: bool = True) -> DataFrame:
    """One-column ``value`` DataFrame of N-Quads statements → quad table.

    Vectorized: one compiled-regex ``Series.str.extract`` per Arrow batch
    (column-at-a-time C loops in pandas), with the scalar escape/label
    decoders applied ONLY to the rows that actually contain escapes —
    ~10× the per-row parser on escape-free corpora, byte-identical output
    (asserted against ``jsonld.nquads.parse_line`` in tests).

    ``strict`` (default): a line that is neither blank, a comment, nor a
    grammar-valid statement raises with the offending line — malformed
    data must not vanish silently (sweep 17; the engine-wide silent-drop
    rule). Pass ``strict=False`` to skip such lines when ingesting
    known-dirty foreign corpora.
    """
    import re as _re
    from rdflib_jsonld_spark.jsonld.nquads import (_unescape, decode_label,
                                                   parse_line)

    def _star_rows(values) -> list[tuple]:
        # RDF-star slow path: lines containing '<<' go through the pure
        # recursive parser and the quad-table term codec (quoted terms
        # in their canonical star.py spelling, plain terms exactly as
        # the fast path spells them). Raises on malformed lines like the
        # pure parser; in permissive mode they are skipped.
        # decode passes through to parse_term so the slow path honours
        # decode_labels exactly like the fast path's _decode_bn (ADVICE
        # r04 high: one foreign '_:_eb0' otherwise split into two terms
        # depending on whether its line also contained '<<').
        rows = []
        for ln in values:
            try:
                q = parse_line(ln, decode=decode_labels)
            except ValueError:
                if strict:
                    raise
                continue
            if q is not None:
                rows.append(quad_to_cells(q))
        return rows

    unesc_mark = _re.compile(r"\\")
    dec_mark = _re.compile(r"^_e")  # only sink-encoded labels decode
    skip_mark = _re.compile(r"^\s*(?:#|$)")  # blank / comment lines

    def _decode_bn(series: pd.Series) -> pd.Series:
        if not decode_labels:
            return series
        mask = series.notna() & series.str.contains(dec_mark, na=False)
        if mask.any():
            series = series.copy()
            series[mask] = series[mask].map(decode_label)
        return series

    def _unesc_sparse(series: pd.Series) -> pd.Series:
        # UCHAR is legal in every IRIREF ([spec] N-Quads §2.1) — decode,
        # but only touch rows that actually carry a backslash (sweep 17:
        # the fast path diverged from parse_line by never unescaping IRIs)
        mask = series.notna() & series.str.contains(unesc_mark, na=False)
        if mask.any():
            series = series.copy()
            series[mask] = series[mask].map(_unescape)
        return series

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = CORE_SCHEMA.fieldNames()
        for pdf in batches:
            v = pdf["value"]
            star = v.str.contains("<<", regex=False)
            star_out = None
            if star.any():
                star_out = pd.DataFrame(
                    _star_rows(v[star]), columns=cols)
                v = v[~star]
                if v.empty:
                    if len(star_out):
                        yield star_out
                    continue
            ext = v.str.extract(_LINE_RE)
            ok = ext["s_iri"].notna() | ext["s_bn"].notna()
            if strict and not ok.all():
                bad = v[~ok]
                bad = bad[~bad.str.contains(skip_mark, na=False)]
                if len(bad):
                    raise ValueError(
                        f"malformed N-Quads line: {bad.iloc[0]!r}"
                        + (f" (+{len(bad) - 1} more in this batch)"
                           if len(bad) > 1 else ""))
            ext = ext[ok].copy()
            if ext.empty:
                continue
            for c in ("s_iri", "p_iri", "o_iri", "g_iri", "dt"):
                ext[c] = _unesc_sparse(ext[c])
            for c in ("s_bn", "p_bn", "o_bn", "g_bn"):
                ext[c] = _decode_bn(ext[c])
            lit = ext["lit"]
            esc = lit.notna() & lit.str.contains(unesc_mark, na=False)
            if esc.any():
                lit = lit.copy()
                lit[esc] = lit[esc].map(_unescape)
            s_is_bn = ext["s_bn"].notna()
            s = ext["s_iri"].where(~s_is_bn, "_:" + ext["s_bn"])
            p = ext["p_iri"].where(ext["p_bn"].isna(), "_:" + ext["p_bn"])
            g = ext["g_iri"].where(ext["g_bn"].isna(), "_:" + ext["g_bn"])
            is_lit = lit.notna()
            is_obn = ext["o_bn"].notna()
            o_kind = pd.Series("iri", index=ext.index) \
                .where(~is_lit, "literal").where(~is_obn, "bnode")
            o_value = ext["o_iri"].where(
                ext["o_iri"].notna(), ("_:" + ext["o_bn"]).where(is_obn, lit))
            has_lang = ext["lang"].notna()
            o_lang = ext["lang"].str.lower().where(is_lit & has_lang, None)
            o_dt = (ext["dt"]
                    .where(ext["dt"].notna(), keys.XSD_STRING)
                    .where(~has_lang, keys.RDF_LANGSTRING)
                    .where(is_lit, None))
            out = pd.DataFrame({
                "g": g.where(g.notna(), None),
                "s": s, "s_is_bnode": s_is_bn, "p": p,
                "o_kind": o_kind, "o_value": o_value,
                "o_datatype": o_dt.where(o_dt.notna(), None),
                "o_lang": o_lang.where(o_lang.notna(), None),
            }, columns=cols)
            if star_out is not None and len(star_out):
                out = pd.concat([out, star_out], ignore_index=True)
            yield out

    return lines.mapInPandas(parse, schema=CORE_SCHEMA)
