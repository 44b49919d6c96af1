"""Distributed N-Quads sink/source tests (sources/nquads_io.py).

- JVM-side line builder must agree byte-for-byte with the pure core's
  ``quad_to_nq`` (the fixtures/oracle comparator format).
- write→read round trip over the real expansion output preserves the quad
  set exactly.
- Escaping edge cases (quotes, backslashes, newlines, tabs, unicode,
  language tags, typed literals, bnodes, named graphs) survive.
"""

import json

import pytest

from pyspark.sql import functions as F

from rdflib_jsonld_spark.jsonld import to_rdf
from rdflib_jsonld_spark.jsonld.nquads import quad_to_nq
from rdflib_jsonld_spark.operators.expand import (
    QUAD_KEY_COLS, dedup_quads, expand_transcripts)
from rdflib_jsonld_spark.sources import transcripts as tr
from rdflib_jsonld_spark.sources.nquads_io import (
    nquads_lines, read_nquads, write_nquads)

NASTY = {
    "@context": {"ex": "http://e/", "label": {"@id": "ex:label"},
                 "note": {"@id": "ex:note", "@language": "en"},
                 "n": {"@id": "ex:n",
                       "@type": "http://www.w3.org/2001/XMLSchema#integer"}},
    "@id": "ex:s",
    "label": 'quote " backslash \\ newline \n tab \t cr \r done',
    "note": "ünïcödé ☃",
    "n": 42,
    "ex:friend": {"@id": "_:anon"},
    "@graph": [],
}


def _quad_df(spark, doc):
    quads = to_rdf(doc)
    rows = []
    for g, s, p, o in quads:
        g_str = (f"_:{g[1]}" if g[0] == "bnode" else g[1]) if g else None
        s_str = f"_:{s[1]}" if s[0] == "bnode" else s[1]
        p_str = f"_:{p[1]}" if p[0] == "bnode" else p[1]
        if o[0] == "lit":
            rows.append((g_str, s_str, s[0] == "bnode", p_str, "literal",
                         o[1], o[2], o[3]))
        else:
            o_str = f"_:{o[1]}" if o[0] == "bnode" else o[1]
            rows.append((g_str, s_str, s[0] == "bnode", p_str,
                         "bnode" if o[0] == "bnode" else "iri",
                         o_str, None, None))
    return quads, spark.createDataFrame(
        rows, "g string, s string, s_is_bnode boolean, p string, "
              "o_kind string, o_value string, o_datatype string, "
              "o_lang string")


def test_jvm_lines_match_pure_core(spark):
    quads, df = _quad_df(spark, NASTY)
    expected = sorted(quad_to_nq(q) for q in quads)
    got = sorted(r["value"] for r in nquads_lines(df).collect())
    assert got == expected


def test_roundtrip_preserves_quadset(spark, tmp_path):
    t = tr.transcripts_df(spark, n_convs=30, seed=7)
    quads = dedup_quads(expand_transcripts(t)).select(*QUAD_KEY_COLS)
    path = str(tmp_path / "nq")
    write_nquads(quads, path)
    back = read_nquads(spark, path)
    a = set(map(tuple, quads.collect()))
    b = set(map(tuple, back.select(*QUAD_KEY_COLS).collect()))
    assert a and a == b


def test_roundtrip_nasty_literals(spark, tmp_path):
    _, df = _quad_df(spark, NASTY)
    path = str(tmp_path / "nasty")
    write_nquads(df, path)
    back = read_nquads(spark, path)
    a = set(map(tuple, df.select(*QUAD_KEY_COLS).collect()))
    b = set(map(tuple, back.select(*QUAD_KEY_COLS).collect()))
    assert a == b
    # the langString and typed-integer survived exactly
    langs = [r for r in back.collect() if r["o_lang"] == "en"]
    assert langs and langs[0]["o_value"] == "ünïcödé ☃"


def test_named_graph_column_roundtrip(spark, tmp_path):
    doc = {"@id": "http://e/g1",
           "@graph": [{"@id": "http://e/a",
                       "http://e/p": {"@value": "x"}}]}
    _, df = _quad_df(spark, doc)
    path = str(tmp_path / "g")
    write_nquads(df, path)
    back = read_nquads(spark, path).collect()
    assert back[0]["g"] == "http://e/g1"


def test_sink_plan_is_jvm_only(spark):
    _, df = _quad_df(spark, NASTY)
    plan = nquads_lines(df)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan \
        and "FlatMapsInPandas" not in plan.replace("FlatMapsInPandas", "")
    assert "Exchange" not in plan  # narrow projection, no shuffle


def test_bnode_labels_grammar_valid_and_decoded(spark, tmp_path):
    """Lineage-salted labels (with / # .) must be encoded to N-Quads
    BLANK_NODE_LABEL grammar on write and decoded back on read."""
    import re
    df = spark.createDataFrame(
        [(None, "_:conv_01/7/0#2", True, "http://e/p", "bnode",
          "_:conv_01/7/0#3", None, None)],
        "g string, s string, s_is_bnode boolean, p string, o_kind string, "
        "o_value string, o_datatype string, o_lang string")
    [line] = [r["value"] for r in nquads_lines(df).collect()]
    for label in re.findall(r"_:(\S+)", line):
        assert re.fullmatch(r"[A-Za-z0-9_]+", label), line
    path = str(tmp_path / "enc")
    write_nquads(df, path)
    back = read_nquads(spark, path).collect()[0]
    assert back["s"] == "_:conv_01/7/0#2"
    assert back["o_value"] == "_:conv_01/7/0#3"


def test_foreign_bnode_labels_pass_through(spark, tmp_path):
    """Externally-authored grammar-legal labels must NOT be rewritten:
    '_:b_d1' and '_:b.1' are distinct foreign bnodes and must stay
    distinct on read; only the sink's own sentinel-prefixed labels decode.
    (ADVICE r01: unconditional decode silently merged foreign labels.)"""
    from rdflib_jsonld_spark.jsonld.nquads import decode_label, encode_label
    assert decode_label("b_d1") == "b_d1"          # foreign: untouched
    assert encode_label("b.1") == "_eb_d1"          # ours: sentinel + enc
    assert decode_label(encode_label("b.1")) == "b.1"
    lines = ['_:b_d1 <http://e/p> <http://e/o> .',
             '_:b.1 <http://e/p> <http://e/o> .']
    p = tmp_path / "foreign.nq"
    p.write_text("\n".join(lines) + "\n")
    subs = {r["s"] for r in read_nquads(spark, str(p)).collect()}
    assert subs == {"_:b_d1", "_:b.1"}


def test_illegal_bnode_labels_hashed_not_emitted_raw(spark):
    """Sweep 27: a label with grammar-illegal chars (space, quote, é —
    reachable via foreign documents' blank node identifiers) must be
    deterministically RELABELED, never emitted as an unparseable
    BLANK_NODE_LABEL. Pure and JVM encoders must agree bit-for-bit."""
    from pyspark.sql import functions as F

    from rdflib_jsonld_spark.jsonld.nquads import encode_label, parse_line
    from rdflib_jsonld_spark.sources.nquads_io import _encode_label_col

    labels = ["a b", 'q"x', " ls", "ok-label", "s/h#c.d_e",
              "é", "emoji🙂"]                   # last two: legal PN_CHARS
    pure = [encode_label(lab) for lab in labels]
    for lab, enc in zip(labels, pure):
        # every encoded label parses back as a legal statement
        parse_line(f"_:{enc} <http://e/p> <http://e/o> .")
        assert enc.startswith("_e")
    assert len(set(pure)) == len(pure)          # distinct inputs distinct
    assert pure[3] == "_eok-label"              # safe labels keep the table
    assert pure[5] == "_eé" and pure[6] == "_eemoji🙂"   # exact round-trip
    df = spark.createDataFrame([(lab,) for lab in labels], "l string") \
        .select(_encode_label_col(F.col("l")).alias("e"))
    jvm = [r.e for r in df.collect()]
    assert jvm == pure


def test_decode_labels_opt_out(spark, tmp_path):
    """decode_labels=False: even sentinel-shaped foreign labels pass
    through verbatim (for corpora this sink did not write)."""
    lines = ['_:_eb0 <http://e/p> <http://e/o> .',
             '_:b0 <http://e/p> <http://e/o> .']
    p = tmp_path / "raw.nq"
    p.write_text("\n".join(lines) + "\n")
    subs = {r["s"] for r in
            read_nquads(spark, str(p), decode_labels=False).collect()}
    assert subs == {"_:_eb0", "_:b0"}  # distinct, unrewritten
    subs2 = {r["s"] for r in read_nquads(spark, str(p)).collect()}
    assert subs2 == {"_:b0"}  # default decodes the sentinel label → merge


def test_vectorized_parse_matches_pure_parser(spark, tmp_path):
    """The pandas fast path must agree row-for-row with parse_line on a
    corpus covering every term shape incl. escapes and named graphs."""
    from rdflib_jsonld_spark.jsonld.nquads import parse_line
    lines = [
        '<http://e/s> <http://e/p> <http://e/o> .',
        '<http://e/s> <http://e/p> "plain" .',
        '<http://e/s> <http://e/p> "tagged"@en-GB .',
        '<http://e/s> <http://e/p> "42"^^<http://www.w3.org/2001/XMLSchema#integer> .',
        '<http://e/s> <http://e/p> "esc \\" \\\\ \\n \\t" .',
        '_:conv__01_s7_h2 <http://e/p> _:b0 <http://e/g> .',
        '<http://e/s> <http://e/p> "in graph" _:g__0 .',
        '# a comment',
        '',
        '<http://e/s> <http://e/p> "" .',
    ]
    p = tmp_path / "mix.nq"
    p.write_text("\n".join(lines) + "\n")
    got = sorted(map(tuple, read_nquads(spark, str(p)).collect()),
                 key=lambda t: tuple(str(x) for x in t))
    expected = []
    for ln in lines:
        q = parse_line(ln)
        if q is None:
            continue
        g, s, pp, o = q
        g_str = (f"_:{g[1]}" if g[0] == "bnode" else g[1]) if g else None
        s_str = f"_:{s[1]}" if s[0] == "bnode" else s[1]
        p_str = f"_:{pp[1]}" if pp[0] == "bnode" else pp[1]
        if o[0] == "lit":
            expected.append((g_str, s_str, s[0] == "bnode", p_str,
                             "literal", o[1], o[2], o[3]))
        else:
            o_str = f"_:{o[1]}" if o[0] == "bnode" else o[1]
            expected.append((g_str, s_str, s[0] == "bnode", p_str,
                             "bnode" if o[0] == "bnode" else "iri",
                             o_str, None, None))
    expected = sorted(expected, key=lambda t: tuple(str(x) for x in t))
    assert got == expected


def test_fuzzed_literals_roundtrip(spark, tmp_path):
    """200 adversarial literals (control chars, quotes, backslash runs,
    unicode, RTL, long runs) through JVM serialize → vectorized parse."""
    import random
    rng = random.Random(99)
    alphabet = ['"', "\\", "\n", "\r", "\t", "a", "β", "☃", "_", ":", "/",
                "#", ".", " ", "\\n", '\\"', "‏", "z"]
    rows = []
    for i in range(200):
        lex = "".join(rng.choice(alphabet)
                      for _ in range(rng.randrange(0, 40)))
        lang = rng.choice([None, "en", "de-AT"])
        dt = ("http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"
              if lang else rng.choice(
                  [None, "http://www.w3.org/2001/XMLSchema#string",
                   "http://e/dt"]))
        rows.append((None, f"http://e/s{i}", False, "http://e/p",
                     "literal", lex, dt, lang))
    df = spark.createDataFrame(
        rows, "g string, s string, s_is_bnode boolean, p string, "
              "o_kind string, o_value string, o_datatype string, "
              "o_lang string")
    path = str(tmp_path / "fuzz")
    write_nquads(df, path)
    back = read_nquads(spark, path)
    # parsers canonicalize language tags to lowercase, matching to_rdf's
    # own normalization (RDF 1.1 Concepts lowercase-convention)
    want = {(r[5], r[6] or "http://www.w3.org/2001/XMLSchema#string",
             r[7].lower() if r[7] else None) for r in rows}
    got = {(r["o_value"], r["o_datatype"], r["o_lang"])
           for r in back.collect()}
    assert want == got


def _star_quad_df(spark, rows):
    return spark.createDataFrame(
        rows, "g string, s string, s_is_bnode boolean, p string, "
              "o_kind string, o_value string, o_datatype string, "
              "o_lang string")


def test_star_inner_bnode_labels_roundtrip(spark, tmp_path):
    """ADVICE r04 (medium): bnode labels inside quoted-triple spellings
    carry lineage salts ('/ # : .') — the sink must emit them as
    grammar-valid BLANK_NODE_LABELs (sentinel-encoded, like plain cells)
    and the reader must decode them back to the raw table spelling."""
    import re
    df = _star_quad_df(spark, [
        # quoted spelling in OBJECT position with a salted inner bnode
        (None, "http://e/s", False, "http://e/p", "triple",
         "<< _:b/0#x <http://e/q> _:c.1:z >>", None, None),
        # quoted spelling in SUBJECT position, salted outer bnode object
        (None, "<< <http://e/a> <http://e/q> _:b/0#x >>", False,
         "http://e/cert", "bnode", "_:b/0#x", None, None),
    ])
    path = str(tmp_path / "star.nq")
    write_nquads(df, path)
    lines = [r.value for r in spark.read.text(path).collect()]
    # every emitted BLANK_NODE_LABEL is grammar-valid (no / # : inside)
    for ln in lines:
        for label in re.findall(r"_:([^\s<\">]+)", ln):
            assert not re.search(r"[/#:]", label), (label, ln)
            assert label.startswith("_e"), (label, ln)
    back = read_nquads(spark, path)
    got = {tuple(r) for r in back.collect()}
    want = {tuple(r) for r in df.collect()}
    assert got == want


def test_star_literal_with_bnode_text_not_rewritten(spark, tmp_path):
    """A string literal INSIDE a quoted spelling whose text contains
    ' _:x.y ' must pass through untouched (quote-parity guard)."""
    sp = '<< <http://e/a> <http://e/q> "see _:x.y and \\"q\\" _:z.w" >>'
    df = _star_quad_df(spark, [
        (None, "http://e/s", False, "http://e/p", "triple",
         sp, None, None)])
    path = str(tmp_path / "starlit.nq")
    write_nquads(df, path)
    [ln] = [r.value for r in spark.read.text(path).collect()]
    assert '"see _:x.y and \\"q\\" _:z.w"' in ln
    back = read_nquads(spark, path).collect()
    assert back[0].o_value == sp


def test_star_line_bnode_subject_consistent_with_plain(spark, tmp_path):
    """ADVICE r04 (high): one bnode appearing BOTH on a '<<'-bearing
    line and a plain line must come back as ONE term, under both
    decode_labels settings."""
    df = _star_quad_df(spark, [
        (None, "_:b.0", True, "http://e/p", "triple",
         "<< <http://e/a> <http://e/q> <http://e/b> >>", None, None),
        (None, "_:b.0", True, "http://e/p2", "literal",
         "has << inside", "http://www.w3.org/2001/XMLSchema#string", None),
        (None, "_:b.0", True, "http://e/p3", "iri", "http://e/o",
         None, None),
    ])
    path = str(tmp_path / "mix.nq")
    write_nquads(df, path)
    back = read_nquads(spark, path)
    subs = {r.s for r in back.collect()}
    assert subs == {"_:b.0"}
    # decode_labels=False: the sink-encoded spelling stays raw, but
    # STILL one single term across slow ('<<') and fast paths
    raw = read_nquads(spark, path, decode_labels=False)
    subs_raw = {r.s for r in raw.collect()}
    assert len(subs_raw) == 1 and subs_raw == {"_:_eb_d0"}


def test_sink_plan_still_jvm_only_with_star_branch(spark):
    """The star-cell encoder is column algebra — no Python stage may
    appear in the write plan even though the branch exists."""
    df = _star_quad_df(spark, [
        (None, "http://e/s", False, "http://e/p", "iri", "http://e/o",
         None, None)])
    plan = nquads_lines(df)._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "Arrow" not in plan, plan


def test_document_star_quads_roundtrip_distributed(spark, tmp_path):
    """r05: quads produced by the JSON-LD-star DOCUMENT syntax (nested
    annotations, salted bnode labels, literal containing '<<' and
    quotes) survive the distributed sink/source round trip with labels
    consistently sentinel-encoded at every nesting depth."""
    from rdflib_jsonld_spark.jsonld import to_rdf
    from rdflib_jsonld_spark.operators.expand import quad_to_cells
    EX = "http://ex/"
    doc = {"@context": {"ex": EX}, "@id": "ex:a",
           "ex:p": {"@id": "_:inner/salt#1",
                    "@annotation": {"ex:src": {"@id": "ex:doc",
                        "@annotation": {"ex:note": 'two words "q" <<'}}}}}
    rows = [quad_to_cells(q) for q in to_rdf(doc)]
    df = spark.createDataFrame(
        rows, "g string, s string, s_is_bnode boolean, p string, "
              "o_kind string, o_value string, o_datatype string, "
              "o_lang string")
    path = str(tmp_path / "docstar.nq")
    write_nquads(df, path)
    import re
    for ln in (r.value for r in spark.read.text(path).collect()):
        for label in re.findall(r"_:([^\s<\">]+)", ln):
            assert label.startswith("_e") and "/" not in label, ln
    back = read_nquads(spark, path)
    got = sorted(map(str, (tuple(r) for r in back.collect())))
    want = sorted(map(str, (tuple(r) for r in df.collect())))
    assert got == want
