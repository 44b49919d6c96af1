"""Structured Streaming: incremental expansion equals batch expansion;
checkpoint makes re-runs incremental; watermarked window agg runs."""

import glob

from pyspark.sql import functions as F

from rdflib_jsonld_spark.operators.expand import expand_transcripts
from rdflib_jsonld_spark.sources import transcripts as tr
from rdflib_jsonld_spark.streaming.incremental import (
    run_turn_rates, stream_expand)


def _write_batch(spark, path, lo, hi):
    (tr.transcripts_df(spark, n_convs=hi, seed=42, partitions=2)
     .where(F.col("conv_id") >= f"conv_{lo:08d}")
     .write.mode("append").parquet(path))


def test_stream_expand_matches_batch_and_is_incremental(spark, tmp_path):
    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    _write_batch(spark, inp, 0, 10)
    stream_expand(spark, inp, out, ckpt)
    got1 = spark.read.parquet(out)
    want1 = expand_transcripts(spark.read.parquet(inp))
    assert got1.count() == want1.count()

    n_files_1 = len(glob.glob(f"{out}/*.parquet"))

    # append a second batch of NEW conversations; only they get processed
    _write_batch(spark, inp, 10, 18)
    stream_expand(spark, inp, out, ckpt)
    got2 = spark.read.parquet(out)
    want2 = expand_transcripts(spark.read.parquet(inp))
    assert got2.count() == want2.count()
    assert {tuple(r) for r in got2.collect()} \
        == {tuple(r) for r in want2.collect()}
    assert len(glob.glob(f"{out}/*.parquet")) > n_files_1


def test_stream_dedup_exactly_once(spark, tmp_path):
    """Re-delivered turns within the watermark are dropped before
    expansion (streaming dedup on (conv_id, turn_idx))."""
    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    # the same 6 conversations delivered twice in one batch window
    _write_batch(spark, inp, 0, 6)
    _write_batch(spark, inp, 0, 6)
    base = spark.read.parquet(inp)
    assert base.count() == 2 * base.dropDuplicates(
        ["conv_id", "turn_idx"]).count()
    stream_expand(spark, inp, out, ckpt, dedup=True)
    got = spark.read.parquet(out)
    want = expand_transcripts(
        base.dropDuplicates(["conv_id", "turn_idx"]))
    assert got.count() == want.count()


def test_stream_content_dedup(spark, tmp_path):
    """Content-fingerprint streaming dedup: identical TEXT delivered under
    different keys collapses to one row per distinct content within the
    watermark (the streaming face of exact_dedup)."""
    from rdflib_jsonld_spark.streaming.incremental import (
        deduplicate_content, read_transcript_stream)
    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    _write_batch(spark, inp, 0, 4)
    # re-deliver the same conversations as different conv ids → same text
    base = spark.read.parquet(inp)
    base.withColumn("conv_id", F.concat(F.col("conv_id"), F.lit("_copy"))) \
        .write.mode("append").parquet(inp)
    stream = deduplicate_content(read_transcript_stream(spark, inp))
    q = (stream.writeStream.format("parquet")
         .option("path", out).option("checkpointLocation", ckpt)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    got = spark.read.parquet(out)
    n_distinct_text = spark.read.parquet(inp) \
        .select("text").distinct().count()
    assert got.count() == n_distinct_text
    assert got.count() * 2 == spark.read.parquet(inp).count()


def test_stream_graph_dedup_isomorphic(spark, tmp_path):
    """Semantic graph dedup: turns whose fenced blocks are ISOMORPHIC
    (different bnode-free JSON key order, different surrounding prose,
    different keys) collapse; distinct graphs and no-block turns all
    pass through, and each block's blank nodes stay its own."""
    import datetime
    from rdflib_jsonld_spark.sources.transcripts import TRANSCRIPT_SCHEMA
    from rdflib_jsonld_spark.streaming.incremental import (
        deduplicate_graphs, read_transcript_stream)
    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    blk_a1 = ('```ld\n{"@context":{"@vocab":"http://x.org/"},'
              '"p":[{"q":"1"},{"q":"2"}]}\n```')
    blk_a2 = ('```ld\n{"p":[{"q":"2"},{"q":"1"}],'
              '"@context":{"@vocab":"http://x.org/"}}\n```')   # iso to a1
    blk_b = ('```ld\n{"@context":{"@vocab":"http://x.org/"},'
             '"p":[{"q":"3"}]}\n```')
    # two blocks = two anonymous nodes; one block with two names = one
    # node: not isomorphic, so neither turn may drop the other
    ctx = '"@context":{"@vocab":"http://x.org/"}'
    two_blocks = "".join(f'```ld\n{{{ctx},"name":"{v}"}}\n```\n'
                         for v in "ab")
    one_block = f'```ld\n{{{ctx},"name":["a","b"]}}\n```'
    ts = datetime.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        ("c1", 0, "user", "note " + blk_a1, None, ts),
        ("c2", 0, "user", "other prose " + blk_a2, None, ts),  # dup of c1
        ("c3", 0, "user", blk_b, None, ts),                    # distinct
        ("c4", 0, "user", "no block here", None, ts),          # passes
        ("c5", 0, "user", "also blockless", None, ts),         # passes
        ("c6", 0, "user", two_blocks, None, ts),               # distinct
        ("c7", 0, "user", one_block, None, ts),                # distinct
    ]
    spark.createDataFrame(rows, TRANSCRIPT_SCHEMA).write.parquet(inp)
    stream = deduplicate_graphs(read_transcript_stream(spark, inp))
    q = (stream.writeStream.format("parquet")
         .option("path", out).option("checkpointLocation", ckpt)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    got = spark.read.parquet(out)
    assert got.count() == 6                       # one of c1/c2 dropped
    kept = {r.conv_id for r in got.collect()}
    assert {"c3", "c4", "c5", "c6", "c7"} <= kept
    assert len({"c1", "c2"} & kept) == 1


def test_stateful_conversation_progress(spark, tmp_path):
    from rdflib_jsonld_spark.streaming.stateful import (
        run_conversation_progress)
    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    _write_batch(spark, inp, 0, 6)
    run_conversation_progress(spark, inp, out, ckpt)
    got = {r.conv_id: r for r in spark.read.parquet(out).collect()}
    regen = {f"conv_{i:08d}": tr.generate_conv(42, i) for i in range(6)}
    assert set(got) == set(regen)
    for cid, rows in regen.items():
        assert got[cid].n_turns == len(rows)
        assert got[cid].max_turn_idx == len(rows) - 1
        assert not got[cid].has_gap
        want_blocks = sum(r["text"].count("```ld") for r in rows)
        assert got[cid].n_blocks == want_blocks
    # second batch: state carries across micro-batch runs via checkpoint
    _write_batch(spark, inp, 6, 9)
    run_conversation_progress(spark, inp, out, ckpt)
    latest = {}
    for r in spark.read.parquet(out).orderBy("n_turns").collect():
        latest[r.conv_id] = r
    assert len(latest) == 9


def test_stream_turn_rates(spark, tmp_path):
    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    _write_batch(spark, inp, 0, 10)
    run_turn_rates(spark, inp, out, ckpt)
    got = spark.read.parquet(out)
    rows = got.collect()
    assert len(rows) > 0
    assert {r.role for r in rows} <= {"user", "assistant", "tool"}
    assert all(r.n_turns > 0 for r in rows)


def test_stream_static_canonical_rewrite(spark, tmp_path):
    """Stream-static enrichment: the canonical-mapping table (static,
    broadcast-sized) rewrites a STREAM of freshly-expanded quads — the
    composition a production incremental KG build runs per micro-batch.
    Incremental output must equal the batch pipeline on the same
    input."""
    from rdflib_jsonld_spark.operators.expand import dedup_quads
    from rdflib_jsonld_spark.operators.linking import (
        canonical_mapping, canonicalize_quads)

    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    _write_batch(spark, inp, 0, 8)

    # static side from the batch view (entity dictionary)
    batch_quads = dedup_quads(
        expand_transcripts(spark.read.parquet(inp))).persist()
    mapping = canonical_mapping(batch_quads).persist()
    mapping.count()

    stream = (spark.readStream.schema(
        spark.read.parquet(inp).schema).parquet(inp))
    squads = expand_transcripts(stream)
    rewritten = canonicalize_quads(squads, mapping)
    q = (rewritten.writeStream.format("parquet")
         .option("path", out).option("checkpointLocation", ckpt)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)

    got = spark.read.parquet(out)
    want = canonicalize_quads(expand_transcripts(
        spark.read.parquet(inp)), mapping)
    assert {tuple(r) for r in got.collect()} \
        == {tuple(r) for r in want.collect()}
    batch_quads.unpersist()
    mapping.unpersist()


def test_stream_stream_watermarked_join(spark, tmp_path):
    """Stream-stream inner join with watermarks on both sides (the
    Structured Streaming join the incremental pipeline uses to marry
    expanded mentions with late-arriving turn metadata): output equals
    the batch join on the same inputs."""
    inp_a = str(tmp_path / "a")
    inp_b = str(tmp_path / "b")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    _write_batch(spark, inp_a, 0, 6)
    # metadata side: one row per (conv, turn) with a derived score
    (spark.read.parquet(inp_a)
     .select("conv_id", "turn_idx", "ts",
             (F.length("text") % 97).alias("score"))
     .write.parquet(inp_b))

    a = (spark.readStream.schema(spark.read.parquet(inp_a).schema)
         .parquet(inp_a)
         .withColumn("ts", F.col("ts").cast("timestamp"))
         .withWatermark("ts", "1 hour"))
    b = (spark.readStream.schema(spark.read.parquet(inp_b).schema)
         .parquet(inp_b)
         .select("conv_id", "turn_idx",
                 F.col("ts").cast("timestamp").alias("ts_b"), "score")
         .withWatermark("ts_b", "1 hour"))
    joined = a.join(
        b, (a.conv_id == b.conv_id) & (a.turn_idx == b.turn_idx)
        & (b.ts_b.between(a.ts - F.expr("interval 1 hour"),
                          a.ts + F.expr("interval 1 hour")))) \
        .select(a.conv_id, a.turn_idx, "score")
    q = (joined.writeStream.format("parquet")
         .option("path", out).option("checkpointLocation", ckpt)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(180)

    got = sorted(map(tuple, spark.read.parquet(out).collect()))
    want = sorted(map(tuple,
                      spark.read.parquet(inp_a)
                      .join(spark.read.parquet(inp_b)
                            .select("conv_id", "turn_idx", "score"),
                            ["conv_id", "turn_idx"])
                      .select("conv_id", "turn_idx", "score").collect()))
    assert got == want and got


def test_stream_curation_filters_match_batch(spark, tmp_path):
    """The stateless curation stages (C4 + Gopher flags, mixture
    sampling) compose onto readStream unchanged — streaming output over
    the same files equals the batch run (narrow projections have no
    state, so parity is exact)."""
    from rdflib_jsonld_spark.operators.curation import (
        c4_quality_flags, gopher_quality_flags, sample_mixture)

    inp = str(tmp_path / "docs_in")
    out = str(tmp_path / "docs_out")
    ckpt = str(tmp_path / "docs_ckpt")
    rows = []
    for i in range(60):
        text = "the quick brown fox jumps over and that have with " \
               "more filler words to clear the minimum " + ("w%d " % i) * 45
        if i % 3 == 0:
            text += "\nGood terminal planted line number one here.\n" \
                    "And a second good planted line for keeping!\n" \
                    "Plus a third planted line that also qualifies."
        rows.append((i, "src%d" % (i % 4), text))
    spark.createDataFrame(rows, ["doc_id", "source", "text"]) \
        .write.parquet(inp)

    docs = spark.read.parquet(inp)

    def curate(df):
        keep_c4 = c4_quality_flags(df).where("keep").select("doc_id")
        s1 = df.join(keep_c4, "doc_id")
        keep_g = gopher_quality_flags(s1, min_words=40).where("keep") \
            .select("doc_id")
        s2 = s1.join(keep_g, "doc_id")
        return sample_mixture(s2, {"src0": 1.0, "src1": 0.5},
                              default_rate=0.8)

    # streaming joins against a STATIC side need the static side from a
    # batch read; flags-as-filter composes as a stream-static semi-join
    stream = (spark.readStream.schema(docs.schema).parquet(inp))
    q = (curate(stream).writeStream.format("parquet")
         .option("path", out).option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    got = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    want = {r["doc_id"] for r in curate(docs).collect()}
    assert got == want and len(want) > 0
