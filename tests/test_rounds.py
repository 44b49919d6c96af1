"""Checkpoint lifetime of the iterative loops (operators/rounds.py).

Every loop checkpoints each round; a superseded round must be freed
before the call returns. ``DataFrame.unpersist()`` does not free a
``localCheckpoint``, so this takes the ids of the RDDs that actually
hold cached blocks in the JVM before and after each call, and counts
only the ids the call created: RDDs an earlier case left, freed by the
ContextCleaner meanwhile, cannot hide a leak."""

import pytest
from pyspark.sql import functions as F

from rdflib_jsonld_spark.operators.graphstats import bfs_distances
from rdflib_jsonld_spark.operators.linking import (connected_components,
                                                   transitive_closure)
from rdflib_jsonld_spark.operators.paths import match_path
from rdflib_jsonld_spark.operators.rounds import frontier_rounds, release
from rdflib_jsonld_spark.operators.update import update
from rdflib_jsonld_spark.plans import driver
from rdflib_jsonld_spark.sources.quads_io import read_graph, write_quads

V = "http://ex.org/v#"
E = "http://ex.org/e/"
SAME_AS = "http://www.w3.org/2002/07/owl#sameAs"
SCHEMA = ("g string, s string, s_is_bnode boolean, p string, o_kind string, "
          "o_value string, o_datatype string, o_lang string")


def chain_edges(spark, hops=12):
    return spark.createDataFrame(
        [(f"n{i}", f"n{i + 1}") for i in range(hops)], ["src", "dst"])


def chain_quads(spark, p=SAME_AS, hops=12):
    rows = [(None, f"{E}n{i}", False, p, "iri", f"{E}n{i + 1}", None, None)
            for i in range(hops)]
    rows += [(None, f"{E}n{i}", False, V + "name", "literal", f"N{i}",
              None, None) for i in range(hops)]
    return spark.createDataFrame(rows, SCHEMA)


UPDATE_3OP = (
    f"PREFIX v: <{V}> "
    "DELETE { ?s v:name ?n } INSERT { ?s v:label ?n } "
    "WHERE { ?s v:name ?n } ; "
    f"INSERT {{ ?s v:linked true }} WHERE {{ ?s <{SAME_AS}> ?o }} ; "
    "DELETE WHERE { ?s v:label ?l }")

UPDATE_PATHS_2OP = (
    f"PREFIX v: <{V}> "
    f"INSERT {{ ?x v:reached true }} WHERE {{ <{E}n0> <{SAME_AS}>+ ?x }} ; "
    f"INSERT {{ ?x v:reaches true }} WHERE {{ ?x <{SAME_AS}>+ <{E}n8> }}")

CALLS = {
    "bfs_distances": lambda s: bfs_distances(chain_edges(s), ["n0"]),
    "transitive_closure": lambda s: transitive_closure(chain_edges(s)),
    "connected_components": lambda s: connected_components(
        chain_edges(s), driver_threshold=0),
    "seeded_sameAs_plus": lambda s: match_path(
        chain_quads(s), E + "n0", f"<{SAME_AS}>+", "?x"),
    "update_3op": lambda s: update(chain_quads(s), UPDATE_3OP),
    # the closures each op's WHERE checkpointed are freed with the op
    "update_paths_2op": lambda s: update(chain_quads(s, hops=8),
                                         UPDATE_PATHS_2OP),
}


def _cached_rdds(spark):
    """Ids of the RDDs holding cached blocks."""
    return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


@pytest.mark.parametrize("name", sorted(CALLS))
def test_loop_releases_superseded_checkpoints(spark, name):
    before = _cached_rdds(spark)
    out = CALLS[name](spark)
    assert out.count() > 0
    # the result itself may be one live checkpoint; nothing else stays
    assert len(_cached_rdds(spark) - before) <= 1, name


@pytest.mark.parametrize("name", ["seeded_sameAs_plus", "update_3op",
                                  "update_paths_2op"])
def test_distributed_path_releases_superseded_checkpoints(spark, name,
                                                          monkeypatch):
    """The same calls with the driver bound at 0: the seeded closure
    runs ``frontier_rounds`` and every Update op folds into a
    checkpoint, so the fold's and ``released_on_exit``'s releases are
    what keeps the count down."""
    monkeypatch.setattr(driver, "DRIVER_ROWS", 0)
    test_loop_releases_superseded_checkpoints(spark, name)


def test_frontier_rounds_cap_and_conf_restore(spark):
    edges = chain_edges(spark, hops=6)
    key = "spark.sql.constraintPropagation.enabled"
    prev = spark.conf.get(key)

    def step(frontier, seen, _):
        return (frontier.join(edges, frontier.node == edges.src)
                .select(F.col("dst").alias("node"))
                .join(seen, "node", "left_anti"))

    start = spark.createDataFrame([("n0",)], ["node"])
    full = frontier_rounds(start, step)
    capped = frontier_rounds(start, step, max_rounds=2)
    assert sorted(r.node for r in full.collect()) == \
        [f"n{i}" for i in range(7)]
    assert sorted(r.node for r in capped.collect()) == ["n0", "n1", "n2"]
    assert spark.conf.get(key) == prev   # the planning guard is undone
    ids = {df._jdf.queryExecution().analyzed().rdd().id()
           for df in (full, capped)}
    assert len(ids) == 2 and ids <= _cached_rdds(spark)
    release(full)
    release(capped)
    assert not ids & _cached_rdds(spark)


def _request(i):
    """A serve-shaped request on chain node ``i``: INSERT DATA, DELETE
    DATA, DELETE WHERE and a DELETE/INSERT WHERE relink."""
    n = f"<{E}n{i}>"
    return (f'INSERT DATA {{ <{E}new{i}> <{V}flag> "x" }} ; '
            f'DELETE DATA {{ {n} <{V}name> "N{i}" }} ; '
            f"DELETE WHERE {{ <{E}n{i + 3}> <{V}name> ?c }} ; "
            f"DELETE {{ {n} <{SAME_AS}> ?y }} INSERT {{ {n} <{V}linked> ?y }} "
            f"WHERE {{ {n} <{SAME_AS}> ?y }}")


@pytest.mark.parametrize("n_requests", [1, 2, 3])
def test_update_commit_leaves_no_persistent_rdd(spark, tmp_path, n_requests):
    """update → write_quads → unpersist() frees everything the request
    made: the result is lazy over the stored table, not a checkpoint
    that ``unpersist()`` cannot free (one was left per request)."""
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    path = str(tmp_path / "v0")
    write_quads(chain_quads(spark).withColumn("conv_id", F.lit("c0"))
                .withColumn("turn_idx", F.lit(0)), path, n_buckets=4)
    before = persistent().size()
    for i in range(n_requests):
        out = update(read_graph(spark, path), _request(i))
        path = str(tmp_path / f"v{i + 1}")
        write_quads(out, path, n_buckets=4)
        out.unpersist()
    assert persistent().size() <= before
    assert read_graph(spark, path).count() == 24 - n_requests
