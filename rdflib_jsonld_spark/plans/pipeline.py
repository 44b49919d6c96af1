"""The north-star KG-construction pipeline, end to end (SURVEY.md §3.4).

    transcripts(conv_id, turn_idx, role, text, tool, ts)
      → [narrow]  fused extract+expand (mapInPandas; ctx broadcast)
      → [shuffle] graph-set dedup (G4)
      → [shuffle] blocking + sameAs edges → large/small-star CC (F1/F2)
      → [bcast]   canonical rewrite (F3)
      → [shuffle] write bucket(s)-partitioned quad table (M4)

All per-turn work is shuffle-free until linking; the canonical map is
broadcast (entities ≪ quads). ``build_session`` is the one session
factory; ``construct_graph`` is the one composition of these stages
(``tools/run_pipeline.py`` is its spark-submit entry).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from rdflib_jsonld_spark.operators.expand import (
    dedup_quads, expand_with_metrics)
from rdflib_jsonld_spark.operators.linking import (
    canonical_mapping, canonicalize_quads, entity_mention_counts)
from rdflib_jsonld_spark.sources.quads_io import (
    ResumableQuadWriter, read_graph, write_quads)


def build_session(master: str | None = None, app: str = "kg-pipeline",
                  shuffle_partitions: int | None = None,
                  driver_memory: str | None = None) -> SparkSession:
    """The session every entry point uses: Arrow on, UTC session timezone
    (output never depends on the host), AQE at Spark's default (on), and
    PySpark's DataFrame call-site capture off. That capture wraps every
    ``functions``/``Column``/``DataFrame`` call in about ten Py4J round
    trips plus a failed ``import IPython``, more than half the round
    trips of a small request's planning; it only adds the Python call
    site to error messages. The conf is static, so it is set here.

    ``master=None`` leaves master and UI to spark-submit, since builder
    options override ``--conf`` (plain python resolves to ``local[*]``);
    an explicit master is a local run with the UI off.
    ``shuffle_partitions=1`` is the tiny-input profile (fuzzers, dozen-row
    stores): default parallelism 1 and AQE off, so scans and unions do not
    fan out to hundreds of no-op tasks. ``driver_memory`` only applies when
    the builder launches the JVM; under spark-submit the submit args win."""
    b = (SparkSession.builder.appName(app)
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.python.sql.dataFrameDebugging.enabled", "false"))
    if master:
        b = b.master(master).config("spark.ui.enabled", "false")
    if shuffle_partitions:
        b = b.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    if shuffle_partitions == 1:
        b = (b.config("spark.default.parallelism", "1")
             .config("spark.sql.adaptive.enabled", "false"))
    if driver_memory:
        b = b.config("spark.driver.memory", driver_memory)
    return b.getOrCreate()


def register_views(stages: dict[str, DataFrame],
                   prefix: str = "kg_") -> list[str]:
    """Expose pipeline stages as temp views so users can `spark.sql` over
    the constructed graph (quads/mapping/canonical_quads/entity_counts) —
    Catalyst produces the same plans either way (SQL API parity)."""
    names = []
    for key, df in stages.items():
        name = f"{prefix}{key}"
        df.createOrReplaceTempView(name)
        names.append(name)
    return names


def construct_graph(spark: SparkSession, transcripts: DataFrame,
                    output: str, n_slices: int = 8,
                    n_buckets: int | None = None,
                    registry: dict | None = None
                    ) -> tuple[dict[str, DataFrame], dict]:
    """Build the graph under ``output``; returns ``(stages, metrics)``.

    Writes ``_lineage/`` + ``quads/`` (resumable: a re-run on the same
    ``output`` skips every slice with a marker), ``graph/`` (bucketed
    canonical quads; ``n_buckets=None`` is :func:`write_quads`' default,
    one bucket per core) and ``entity_counts/``. ``registry`` merges extra
    pre-fetched contexts over the built-in one. The dedup table is
    persisted once and feeds the mapping, rewrite and counts; it and the
    mapping stay cached for exports and queries over
    ``stages["canonical_quads"]`` (the in-memory rewrite). ``metrics`` is
    the ``metrics.json`` content; ``n_canonical_quads`` is read back from
    ``graph/`` so the rewrite join does not run twice, and ``n_buckets``
    is the bucket count the graph was written with."""
    writer = ResumableQuadWriter(spark, output, n_slices=n_slices)
    summary = writer.run(
        transcripts, lambda df: expand_with_metrics(df, registry=registry))
    # Spark plans a cached query with AQE off unless this is set, and the
    # uncoalesced dedup then fans every consumer out to
    # spark.sql.shuffle.partitions tasks; the plan is fixed at persist()
    aqe_cache = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
    prev = spark.conf.get(aqe_cache)
    spark.conf.set(aqe_cache, "true")
    try:
        quads = dedup_quads(writer.read_quads()).persist()
    finally:
        spark.conf.set(aqe_cache, prev)
    n_quads = quads.count()
    mapping = canonical_mapping(quads).cache()
    canon = canonicalize_quads(quads, mapping)
    graph_path = os.path.join(output, "graph")
    n_buckets = write_quads(canon, graph_path, n_buckets=n_buckets)
    counts_path = os.path.join(output, "entity_counts")
    entity_mention_counts(quads, mapping).write.mode("overwrite").parquet(
        counts_path)
    stages = {
        "quads": quads,
        "mapping": mapping,
        "canonical_quads": canon,
        "entity_counts": spark.read.parquet(counts_path),
    }
    metrics = {
        "expansion": summary,
        "n_quads_dedup": n_quads,
        "n_linked_nodes": mapping.count(),
        "n_canonical_quads": read_graph(spark, graph_path).count(),
        "n_buckets": n_buckets,
    }
    return stages, metrics
