"""Partitioned quad-table materialization with per-slice lineage + resume.

SURVEY.md §7 M4. Iceberg jars are not provisioned in the sandbox (risk R1),
so the writer targets the documented fallback: directory-partitioned
parquet with the SAME bucket-column layout an Iceberg
``bucket(N, s)``/``bucket(N, p)`` table would use, plus a ``_lineage/``
metrics directory. N defaults to one bucket (one file) per core of the
writing session and is recorded in the table's ``_buckets.json``, where
Iceberg would keep it in table metadata. The writer interface is the one
seam to swap for ``spark.read/write.format("iceberg")`` on a real
cluster.

Resume model (north_rule: "resumable from checkpoint with per-partition
lineage + metrics"):
- Work is split into ``n_slices`` deterministic conv-hash slices
  (``pmod(xxhash64(conv_id), n_slices)``) — the unit of restart.
- Each slice's expansion runs once: quads, ``_:error`` sentinel rows and
  ``_kg_errors`` go to ``quads/slice=<i>/``; one aggregate over that
  parquet fills ``_lineage/slice_<i>.json`` {slice, rows_in, quads_out,
  n_parse_errors, checksum, wall_s, turns_per_s}, written LAST, so a crash
  mid-slice leaves no marker and the slice re-runs. Expansion is a pure
  function of the input slice (deterministic bnodes — SURVEY.md §4.3.1),
  so re-running yields identical bytes. ``read_quads`` drops sentinels.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from typing import Callable

from pyspark.sql import (DataFrame, Observation, SparkSession, functions as F,
                         types as T)

from rdflib_jsonld_spark.operators.expand import (
    ERROR_SUBJECT, QUAD_SCHEMA, drop_error_rows)
from rdflib_jsonld_spark.plans.driver import local_frame

#: The graph table's one schema: :data:`QUAD_SCHEMA` plus the
#: ``s_bucket`` partition column, typed as Parquet schema inference types
#: a :func:`write_quads` table (every column nullable, the bucket an int).
GRAPH_SCHEMA = T.StructType(
    [T.StructField(f.name, f.dataType, True) for f in QUAD_SCHEMA.fields]
    + [T.StructField("s_bucket", T.IntegerType(), True)])

#: Sidecar in a graph table's directory recording its ``s_bucket`` count.
BUCKETS_FILE = "_buckets.json"

_QUAD_HASH = ("xxhash64(coalesce(g,''), s, p, o_kind, o_value, coalesce("
              "o_datatype,''), coalesce(o_lang,''), conv_id, turn_idx)")


def quad_checksum(quads: DataFrame) -> int:
    """Order-independent set digest (``bit_xor`` of ``_QUAD_HASH``) of
    quad identity columns (G4 key)."""
    return quads.agg(F.bit_xor(F.expr(_QUAD_HASH))).first()[0] or 0


def read_graph(spark: SparkSession, path: str) -> DataFrame:
    """Read a bucket(s)-partitioned graph table written by
    :func:`write_quads`, with :data:`GRAPH_SCHEMA`.

    The schema is given, not inferred: ``spark.read.parquet(path)``
    alone runs one Spark job per call to read Parquet footers, and
    cannot read a table that an update emptied (only ``_SUCCESS`` left).
    With the schema the read starts no job and an empty table reads
    back as 0 rows."""
    return spark.read.schema(GRAPH_SCHEMA).parquet(path)


def lookup_subjects(spark: SparkSession, path: str,
                    subjects: list[str]) -> DataFrame:
    """Point lookups on the graph table with PARTITION PRUNING: compute
    each subject's bucket driver-side and filter on the partition column,
    so only |distinct buckets| directories are scanned (the Iceberg
    bucket-transform pruning pattern; at 10^12 quads with N buckets this
    is the difference between touching 1/N of the table and all of it).

    N is the count :func:`write_quads` recorded in the table's
    ``_buckets.json``; a table without that file raises
    :class:`FileNotFoundError` rather than pruning to the wrong buckets."""
    marker = os.path.join(path, BUCKETS_FILE)
    if not os.path.exists(marker):
        raise FileNotFoundError(
            f"{marker} not found: {path} was not written by write_quads, "
            "so its bucket count is unknown")
    with open(marker) as f:
        n_buckets = json.load(f)["n_buckets"]
    probe = local_frame(spark, [(s,) for s in subjects], "s string") \
        .withColumn("s_bucket", F.pmod(F.xxhash64("s"), F.lit(n_buckets)))
    buckets = [r.s_bucket for r in probe.select("s_bucket").distinct().collect()]
    g = read_graph(spark, path)
    return (g.where(F.col("s_bucket").isin(buckets))
            .where(F.col("s").isin(subjects)))


def write_quads(quads: DataFrame, path: str,
                n_buckets: int | None = None) -> int:
    """Final graph table: directory-partitioned by subject hash bucket —
    the stand-in for Iceberg ``bucket(N, s)`` partition transforms
    (SURVEY.md §3.4 shuffle 4). Predicate-bucket layout would be the same
    writer with p. Returns N.

    N defaults to the writing session's ``defaultParallelism``: every
    bucket is one file written by one task, so a full scan opens one
    file per core, and a scan's cost grows with its file count (32
    buckets of a 54,000-quad graph made a scan about 1.7x slower than
    4). N is recorded in ``<path>/_buckets.json``, which Spark's readers
    skip (``_``-prefixed) and :func:`lookup_subjects` reads.

    Writes exactly the :data:`GRAPH_SCHEMA` columns, cast to its types
    (an ``s_bucket`` already on ``quads``, e.g. from
    :func:`read_graph`, is recomputed), so :func:`read_graph` can read
    the table with that schema."""
    n = n_buckets or quads.sparkSession.sparkContext.defaultParallelism
    (quads
     .withColumn("s_bucket", F.pmod(F.xxhash64("s"), F.lit(n)))
     .select(*[F.col(f.name).cast(f.dataType) for f in GRAPH_SCHEMA])
     .repartition("s_bucket")
     .write.mode("overwrite").partitionBy("s_bucket").parquet(path))
    with open(os.path.join(path, BUCKETS_FILE), "w") as f:
        json.dump({"n_buckets": n}, f)
    return n


class ResumableQuadWriter:
    """Slice-at-a-time expansion runner with lineage markers."""

    def __init__(self, spark: SparkSession, out_dir: str, n_slices: int = 8):
        self.spark = spark
        self.out_dir = out_dir
        self.n_slices = n_slices
        self.lineage_dir = os.path.join(out_dir, "_lineage")
        self.data_dir = os.path.join(out_dir, "quads")
        os.makedirs(self.lineage_dir, exist_ok=True)

    def _marker(self, i: int) -> str:
        return os.path.join(self.lineage_dir, f"slice_{i}.json")

    def done_slices(self) -> set[int]:
        return {i for i in range(self.n_slices)
                if os.path.exists(self._marker(i))}

    def run(self, transcripts: DataFrame,
            expand_fn: Callable[[DataFrame], DataFrame],
            fail_after: int | None = None) -> dict:
        """Process all pending slices, each expanded, counted (observed
        ``rows_in``) and written in one job; returns the summary.

        ``fail_after`` injects a crash after N slices (resume tests,
        SURVEY.md §5.2.6)."""
        sliced = transcripts.withColumn(
            "_slice", F.pmod(F.xxhash64("conv_id"), F.lit(self.n_slices)))
        completed = 0
        for i in range(self.n_slices):
            if os.path.exists(self._marker(i)):
                continue
            t0 = time.perf_counter()
            part = sliced.where(F.col("_slice") == i).drop("_slice")
            seen = Observation()
            quads = expand_fn(part.observe(seen, F.count(F.lit(1)).alias("n")))
            if "_kg_errors" not in quads.columns:
                quads = quads.withColumn("_kg_errors", F.lit(0))
            slice_path = os.path.join(self.data_dir, f"slice={i}")
            quads.write.mode("overwrite").parquet(slice_path)
            is_quad = F.col("s") != ERROR_SUBJECT
            n, errs, h = self.spark.read.schema(quads.schema) \
                .parquet(slice_path).agg(
                F.count(F.when(is_quad, 1)), F.sum("_kg_errors"),
                F.bit_xor(F.when(is_quad, F.expr(_QUAD_HASH)))).first()
            rows_in = seen.get["n"]
            wall_s = time.perf_counter() - t0
            metrics = {
                "slice": i,
                "rows_in": rows_in,
                "quads_out": n,
                "n_parse_errors": int(errs or 0),
                "checksum": h or 0,
                "wall_s": round(wall_s, 3),
                "turns_per_s": round(rows_in / wall_s, 1),
            }
            # marker LAST → crash before this line re-runs the slice
            with open(self._marker(i), "w") as f:
                json.dump(metrics, f)
            completed += 1
            if fail_after is not None and completed >= fail_after:
                raise RuntimeError(f"injected failure after {completed} slices")
        return self.summary()

    def summary(self) -> dict:
        out = {"slices": [], "quads_out": 0, "rows_in": 0,
               "n_parse_errors": 0}
        for i in sorted(self.done_slices()):
            with open(self._marker(i)) as f:
                m = json.load(f)
            out["slices"].append(m)
            out["quads_out"] += m["quads_out"]
            out["rows_in"] += m["rows_in"]
            out["n_parse_errors"] += m.get("n_parse_errors", 0)
        return out

    def read_quads(self) -> DataFrame:
        return drop_error_rows(self.spark.read.parquet(self.data_dir))

    def reset(self) -> None:
        shutil.rmtree(self.out_dir, ignore_errors=True)
        os.makedirs(self.lineage_dir, exist_ok=True)


def write_quads_bucketed_table(quads: DataFrame, table: str,
                               path: str, n_buckets: int = 32) -> None:
    """Materialize the graph as a NATIVE Spark bucketed table
    (``bucketBy(n, s).sortBy(s)``, external at ``path``): both sides of
    any subject-keyed self-join or entity join then read pre-bucketed
    and pre-sorted, so the join plans WITHOUT a shuffle — the Spark
    face of Iceberg's bucket-transform write distribution, and the
    co-located-join half of the directory-bucketed layout
    :func:`write_quads` keeps for pruning."""
    (quads.write.mode("overwrite")
     .bucketBy(n_buckets, "s").sortBy("s")
     .option("path", path)
     .format("parquet").saveAsTable(table))
