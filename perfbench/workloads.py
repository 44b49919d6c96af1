"""The benchmark's workloads, driven through the library's public functions.

``build``  one fresh construction of the graph per unit: resumable
           expansion -> dedup -> sameAs linking -> canonical rewrite and
           graph-table write -> entity counts written (the stage sequence
           ``tools/run_pipeline.py`` runs).
``serve``  requests against the stored graph, per unit one cycle: eight
           SPARQL read shapes and one SPARQL Update request of four
           operations, committed as the next store version and read back.

Every op checks its output against answers derived from the generator
(``expected.py``); a mismatch raises :class:`Mismatch` and counts as a
failed op.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time

from pyspark.sql import functions as F

from rdflib_jsonld_spark.jsonld.context import Context
from rdflib_jsonld_spark.operators.expand import (
    dedup_quads, expand_with_metrics, quads_for_turn)
from rdflib_jsonld_spark.operators.linking import (
    canonical_mapping, canonicalize_quads, entity_mention_counts)
from rdflib_jsonld_spark.operators.sparql import parse_query, sparql
from rdflib_jsonld_spark.operators.update import update
from rdflib_jsonld_spark.sources import transcripts as tr
from rdflib_jsonld_spark.sources.quads_io import (
    ResumableQuadWriter, read_graph, write_quads)
from rdflib_jsonld_spark.sources.registry import (
    CONTEXT_V1_IRI, KG, OWL_SAMEAS, REGISTRY, VOCAB)

import expected


class Mismatch(AssertionError):
    """An op's output differs from the generator-derived answer."""


def _check(what: str, got, want) -> None:
    if got != want:
        raise Mismatch(f"{what}: got {got!r}, want {want!r}")


# --------------------------------------------------------------- build


class Builder:
    """Runs the construction sequence into fresh directories under
    ``root`` and checks each result against the generator tallies."""

    def __init__(self, spark, transcripts, corpus: expected.Corpus,
                 root: str, n_slices: int):
        self.spark = spark
        self.transcripts = transcripts
        self.corpus = corpus
        self.root = root
        self.n_slices = n_slices
        self.n_built = 0
        self.slice_checksums: list | None = None
        self.last: dict = {}

    def build(self, tracer) -> str:
        """One construction; returns the graph-table path."""
        out = os.path.join(self.root, f"build{self.n_built}")
        self.n_built += 1
        writer = ResumableQuadWriter(self.spark, out, n_slices=self.n_slices)
        with tracer.span("expand.write"):
            summary = writer.run(self.transcripts, expand_with_metrics)
        quads = dedup_quads(writer.read_quads())
        with tracer.span("linking.mapping"):
            mapping = canonical_mapping(quads).cache()
            pairs = {r.node: r.root for r in mapping.collect()}
        graph = os.path.join(out, "graph")
        with tracer.span("linking.rewrite_write"):
            write_quads(canonicalize_quads(quads, mapping), graph)
        with tracer.span("linking.counts_write"):
            entity_mention_counts(quads, mapping).write.mode(
                "overwrite").parquet(os.path.join(out, "entity_counts"))
        mapping.unpersist()
        self._verify(summary, pairs, out, graph)
        return graph

    def _verify(self, summary, pairs, out, graph) -> None:
        c = self.corpus
        n_graph = read_graph(self.spark, graph).count()
        counts = {r.canonical_id: r.n_mentions for r in self.spark.read
                  .parquet(os.path.join(out, "entity_counts")).collect()}
        self.last = {"quads_out": summary["quads_out"],
                     "parse_errors": summary["n_parse_errors"],
                     "nodes": len(pairs), "graph_rows": n_graph}
        _check("turns in", summary["rows_in"], c.turns)
        _check("raw quads", summary["quads_out"], c.raw_quads)
        _check("parse errors", summary["n_parse_errors"], c.parse_errors)
        _check("gold clustering", pairs, c.gold_mapping())
        _check("graph rows", n_graph, c.dedup_quads)
        _check("entity counts", counts, c.entity_counts())
        sums = [s["checksum"] for s in summary["slices"]]
        if self.slice_checksums is None:
            self.slice_checksums = sums
        _check("slice checksums", sums, self.slice_checksums)


def kernel_turns_per_s(corpus: expected.Corpus, repeats: int = 3) -> float:
    """Pure per-turn worker (JSON-LD to RDF) over a fixed sample of the
    input's turns: one core, no Spark. Median rate of ``repeats``."""
    ctx = Context(registry=REGISTRY).load(CONTEXT_V1_IRI)
    rates = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        for conv_id, turn_idx, text in corpus.sample_turns:
            quads_for_turn(conv_id, turn_idx, text, ctx)
        rates.append(len(corpus.sample_turns) / (time.perf_counter() - t0))
    return statistics.median(rates)


# --------------------------------------------------------------- serve

PREFIX = (f"PREFIX v: <{VOCAB}> PREFIX owl: <{OWL_SAMEAS[:-6]}> "
          "PREFIX xsd: <http://www.w3.org/2001/XMLSchema#> ")
SHAPES = ("point", "star", "optional", "filter", "agg", "path", "subquery",
          "exists")
#: one serve cycle: every read shape once, then one update request
CYCLE = SHAPES[:4] + ("update",) + SHAPES[4:]


class Op:
    """One request of the serve workload with its expected answer."""

    def __init__(self, kind: str, text: str, expect, target=(),
                 changed: int = 0):
        self.kind = kind
        self.text = text
        #: read: the answer; update: the change in store rows
        self.expect = expect
        #: update: (s, p, rows with that s and p after the commit)
        self.target = target
        #: update: rows deleted plus rows inserted
        self.changed = changed


def _pools(corpus: expected.Corpus):
    """Disjoint target pools: reads use even entity indexes, updates odd
    ones, so no update changes a read's answer. Entities need a sameAs
    chain (path / relink); the ten hottest are skipped when enough
    others exist, which keeps latency independent of the seed."""
    linked = sorted(i for i in corpus.by_entity if corpus.max_alias.get(i))
    cool = [i for i in linked if i >= 10]
    base = cool if len(cool) >= 16 else linked
    return ([i for i in base if i % 2 == 0], [i for i in base if i % 2])


def _read_op(shape: str, corpus, rng, pool) -> Op:
    i = rng.choice(pool)
    e = f"<{tr.canonical_iri(i)}>"
    ms = corpus.by_entity[i]
    if shape == "point":
        m = rng.choice(ms)
        return Op(shape, PREFIX + f"SELECT ?p ?o WHERE {{ <{m.iri}> ?p ?o }}",
                  m.n_quads - 4 * m.has_tags)  # list cells hang off a bnode
    if shape == "star":
        return Op(shape, PREFIX + f"SELECT ?m ?s ?c WHERE {{ ?m v:about {e} "
                  "; v:surface ?s ; v:confidence ?c }",
                  sorted(m.iri for m in ms))
    if shape == "optional":
        return Op(shape, PREFIX + f"SELECT ?m ?l WHERE {{ ?m v:about {e} "
                  "OPTIONAL { ?m v:label ?l FILTER(lang(?l) = 'en') } }",
                  (len(ms), sum(m.has_label for m in ms)))
    if shape == "filter":
        t = rng.randrange(600, 950) / 1000 + 0.0005
        return Op(shape, PREFIX + f"SELECT ?m WHERE {{ ?m v:about {e} ; "
                  f"v:confidence ?c FILTER(?c > {t}) }}",
                  sorted(m.iri for m in ms if m.confidence > t))
    if shape == "agg":
        k = rng.randrange(3, 9)
        top = sorted(corpus.entity_counts().items(),
                     key=lambda kv: (-kv[1], kv[0]))[:k]
        return Op(shape, PREFIX + "SELECT ?e (COUNT(?m) AS ?n) WHERE "
                  "{ ?m v:about ?e } GROUP BY ?e ORDER BY DESC(?n) ?e "
                  f"LIMIT {k}", top)
    if shape == "path":
        return Op(shape, PREFIX + f"SELECT ?x WHERE {{ {e} owl:sameAs+ ?x }}",
                  [tr.canonical_iri(i)])
    if shape == "subquery":
        return Op(shape, PREFIX + "SELECT ?n WHERE { { SELECT ?e "
                  "(COUNT(?m) AS ?n) WHERE { ?m v:about ?e } GROUP BY ?e } "
                  f"FILTER(?e = {e}) }}", [len(ms)])
    if shape == "exists":
        return Op(shape, PREFIX + f"SELECT ?m WHERE {{ ?m v:about {e} "
                  "FILTER NOT EXISTS { ?m v:label ?l } }",
                  sorted(m.iri for m in ms if not m.has_label))
    raise ValueError(shape)


def _answer(op: Op, rows) -> object:
    if op.kind == "point":
        return len(rows)
    if op.kind == "optional":
        return (len(rows), sum(r.l is not None for r in rows))
    if op.kind == "agg":
        return [(r.e, int(r.n)) for r in rows]
    if op.kind == "path":
        return sorted(r.x for r in rows)
    if op.kind == "subquery":
        return [int(r.n) for r in rows]
    return sorted(r.m for r in rows)


class UpdateTargets:
    """Builds update requests on distinct targets from the write pool, so
    each request's effect on the store follows from the generator alone."""

    def __init__(self, corpus: expected.Corpus, rng: random.Random,
                 tag: str):
        _, pool = _pools(corpus)
        self.corpus = corpus
        self.tag = tag
        self.entities = rng.sample(pool, len(pool))
        mentions = [m for i in pool for m in corpus.by_entity[i]]
        self.mentions = rng.sample(mentions, len(mentions))
        self.n = 0

    def request(self) -> Op:
        """One request of four operations: INSERT DATA of a new quad,
        DELETE DATA of one mention's surface, DELETE WHERE of another
        mention's confidence, and DELETE/INSERT WHERE relinking one
        entity's sameAs edges."""
        self.n += 1
        new = f"{KG}m/bench/{self.tag}/{self.n}"
        m1, m2 = self.mentions.pop(), self.mentions.pop()
        i = self.entities.pop()
        a0 = tr.canonical_iri(i)
        # the canonical store holds one `a0 sameAs a0` row per alias edge
        n_edges = self.corpus.max_alias[i]
        text = PREFIX + " ; ".join((
            f'INSERT DATA {{ <{new}> v:confidence "0.5"^^xsd:double }}',
            f'DELETE DATA {{ <{m1.iri}> v:surface "{m1.surface}" }}',
            f"DELETE WHERE {{ <{m2.iri}> v:confidence ?c }}",
            f"DELETE {{ <{a0}> owl:sameAs ?y }} INSERT {{ <{a0}> v:linkedTo "
            f"?y }} WHERE {{ <{a0}> owl:sameAs ?y }}"))
        target = [(new, VOCAB + "confidence", 1), (m1.iri, VOCAB + "surface", 0),
                  (m2.iri, VOCAB + "confidence", 0), (a0, OWL_SAMEAS, 0),
                  (a0, VOCAB + "linkedTo", 1)]
        # row change: +1 inserted, -1 and -1 deleted, relink -n_edges +1
        return Op("update", text, -n_edges, target,
                  changed=3 + n_edges + 1)


class Store:
    """Versioned graph store: version 0 is the built graph; each update
    commit writes the next version directory."""

    def __init__(self, spark, root: str, base: str, base_rows: int):
        self.spark = spark
        self.root = root
        self.base = base
        self.base_rows = base_rows
        self.n_commits = 0
        self.reset()

    def reset(self) -> None:
        self.path = self.base
        self.rows = self.base_rows
        for name in os.listdir(self.root):
            shutil.rmtree(os.path.join(self.root, name))

    def read(self):
        return read_graph(self.spark, self.path)

    def next_path(self) -> str:
        self.n_commits += 1
        return os.path.join(self.root, f"v{self.n_commits}")


def run_serve_op(op: Op, store: Store, tracer, stats: dict) -> None:
    """One request; raises :class:`Mismatch` on a wrong answer."""
    if op.kind == "update":
        _run_update(op, store, tracer, stats)
        return
    if tracer.enabled:
        with tracer.span("sparql.parse"):
            parse_query(op.text)
    g = store.read()
    with tracer.span("sparql.plan"):
        df = sparql(g, op.text)
    with tracer.span("sparql.exec"):
        rows = df.collect()
    _check(op.kind, _answer(op, rows), op.expect)


def _run_update(op: Op, store: Store, tracer, stats: dict) -> None:
    g = store.read()
    with tracer.span("update.apply"):
        out = update(g, op.text)
    nxt = store.next_path()
    with tracer.span("update.commit"):
        write_quads(out, nxt)
    out.unpersist()
    with tracer.span("update.verify"):
        hits = [F.sum(((F.col("s") == s) & (F.col("p") == p)).cast("int"))
                for s, p, _ in op.target]
        row = read_graph(store.spark, nxt).agg(F.count(F.lit(1)),
                                               *hits).first()
    total, got = row[0], list(row[1:])
    _check("update rows", total, store.rows + op.expect)
    _check("update read-back", got, [n for _, _, n in op.target])
    stats.setdefault("rows_written", []).append(total)
    stats.setdefault("rows_changed", []).append(op.changed)
    store.path, store.rows = nxt, total


# ---------------------------------------------------------- workloads
#
# A workload's ``unit()`` is one unit of timed work as a list of
# (kind, fn(tracer)) ops: one construction for build, one cycle of
# requests for serve.


class BuildWorkload:

    def __init__(self, spark, transcripts, corpus, work, size, seed):
        self.builder = Builder(spark, transcripts, corpus,
                               os.path.join(work, "build"), size["n_slices"])

    def warm_up(self, tracer) -> None:
        self.builder.build(tracer)

    def start(self) -> None:
        pass

    def unit(self) -> list:
        return [("build", self._build)]

    def _build(self, tracer) -> None:
        graph = self.builder.build(tracer)
        shutil.rmtree(os.path.dirname(graph))


class ServeWorkload:

    def __init__(self, spark, transcripts, corpus, work, size, seed):
        self.corpus = corpus
        self.seed = seed
        self.builder = Builder(spark, transcripts, corpus,
                               os.path.join(work, "build"), size["n_slices"])
        self.store_root = os.path.join(work, "store")
        os.makedirs(self.store_root)
        self.stats: dict = {}

    def warm_up(self, tracer) -> None:
        graph = self.builder.build(tracer)
        self.store = Store(self.builder.spark, self.store_root, graph,
                           self.corpus.dedup_quads)
        self.start("warm")
        for _, fn in self.unit():
            fn(tracer)

    def start(self, tag: str = "run") -> None:
        """Reset the store to the built graph and restart the seeded
        request sequence, so every phase replays the same requests."""
        self.store.reset()
        self.stats.clear()
        self.rng = random.Random(f"serve:{tag}:{self.seed}")
        self.writes = UpdateTargets(
            self.corpus, random.Random(f"serve-writes:{tag}:{self.seed}"),
            tag)

    def unit(self) -> list:
        reads, _ = _pools(self.corpus)
        ops = [self.writes.request() if kind == "update"
               else _read_op(kind, self.corpus, self.rng, reads)
               for kind in CYCLE]
        return [(op.kind, lambda tracer, op=op: run_serve_op(
            op, self.store, tracer, self.stats)) for op in ops]
