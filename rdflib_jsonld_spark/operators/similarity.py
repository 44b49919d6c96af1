"""Similarity search over an embedding column (array<float>).

Two paths (training-data pipeline extension, see build brief):
- brute-force cosine top-k — the exactness baseline; dot products stay
  JVM-side (zip_with/aggregate, whole-stage codegen).
- LSH-bucketed ANN (random hyperplanes, deterministic seed) — the scale
  path: signatures are a narrow numpy pass; the candidate join is an
  equi-join on (band, bucket) like MinHash-LSH.

At 100 TB the brute-force path is O(n·q) dot products per query batch —
usable for small q with a broadcast query matrix; the LSH path bounds
candidates per bucket and is the default for corpus-vs-corpus jobs.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F, types as T

from ..plans.driver import local_frame


def _cosine_expr(vec_col, qvec: list[float]):
    """cos(v, q) via JVM-side higher-order functions (no Python)."""
    q = F.array(*[F.lit(float(x)) for x in qvec])
    dot = F.aggregate(
        F.zip_with(vec_col, q, lambda a, b: a.cast("double") * b),
        F.lit(0.0), lambda acc, x: acc + x)
    nv = F.sqrt(F.aggregate(
        F.transform(vec_col, lambda a: a.cast("double") * a.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x))
    nq = float(np.sqrt(np.dot(qvec, qvec)))
    # zero-norm guard: NaN sorts as LARGEST in Spark orderings, so an
    # all-zero vector would otherwise fake its way to the top of top-k
    return F.when(nv > 0, dot / (nv * F.lit(max(nq, 1e-300)))) \
        .otherwise(F.lit(-1.0))


def brute_force_topk(embeddings: DataFrame, qvec: list[float], k: int = 10,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding") -> DataFrame:
    """Exact cosine top-k for one query vector: narrow map + TakeOrdered
    (no full sort, no shuffle of vectors)."""
    return (embeddings
            .select(F.col(id_col),
                    F.round(_cosine_expr(F.col(vec_col), qvec), 6)
                    .alias("cosine"))
            .orderBy(F.desc("cosine"), F.asc(id_col))
            .limit(k))


def _pair_cosine(a_col: str, b_col: str):
    """Guarded cosine between two vector columns, JVM-side. Zero-norm
    vectors score -1.0 instead of NaN (NaN sorts LARGEST in Spark
    orderings and would fake its way into every top-k)."""
    dot = F.aggregate(
        F.zip_with(a_col, b_col,
                   lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x)

    def norm(c):
        return F.sqrt(F.aggregate(
            F.transform(c, lambda v: v.cast("double") * v.cast("double")),
            F.lit(0.0), lambda acc, x: acc + x))

    na, nb = norm(F.col(a_col)), norm(F.col(b_col))
    return F.when((na > 0) & (nb > 0),
                  F.round(dot / (na * nb), 6)).otherwise(F.lit(-1.0))


#: broadcast-small contract for multi-query APIs: loud failure instead of
#: a driver OOM / terabyte cross join when misused with a big query table
MAX_BROADCAST_QUERIES = 10_000


def _assert_broadcast_small(queries: DataFrame, max_queries: int,
                            op: str) -> None:
    """Bounded probe (limit(n+1), never a full count) enforcing the
    broadcast-small query-side contract (VERDICT r02 #4)."""
    n = queries.limit(max_queries + 1).count()
    if n > max_queries:
        raise ValueError(
            f"{op}: query side has more than {max_queries} rows; it is "
            f"collected/broadcast to every executor. Raise max_queries "
            f"explicitly if this is intended, or use the bucketed "
            f"corpus-vs-corpus path (embedding_near_dup_pairs).")


def pairwise_topk(embeddings: DataFrame, queries: DataFrame, k: int = 5,
                  id_col: str = "vec_id", vec_col: str = "embedding",
                  max_queries: int = MAX_BROADCAST_QUERIES) -> DataFrame:
    """Corpus × broadcast-queries exact top-k (crossJoin is explicit and
    the query side must be small — the broadcast dim pattern; enforced
    by ``max_queries``)."""
    _assert_broadcast_small(queries, max_queries, "pairwise_topk")
    q = queries.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).alias("qvec"))
    e = embeddings.select(F.col(id_col).alias("nbr_id"),
                          F.col(vec_col).alias("evec"))
    scored = (e.crossJoin(F.broadcast(q))
              .withColumn("cosine", _pair_cosine("qvec", "evec"))
              .where(F.col("query_id") != F.col("nbr_id")))
    return _window_topk(scored, k)


def _window_topk(scored: DataFrame, k: int) -> DataFrame:
    from pyspark.sql import Window as W
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("nbr_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "nbr_id", "cosine", "rank"))


def _hyperplanes(dim: int, n_bits: int, seed: int = 1234) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.normal(size=(n_bits, dim)).astype(np.float64)


def lsh_bucket_signatures(embeddings: DataFrame, dim: int, n_bits: int = 12,
                          n_tables: int = 8, seed: int = 1234,
                          id_col: str = "vec_id",
                          vec_col: str = "embedding") -> DataFrame:
    """(id, table, bucket) — multi-table random-hyperplane LSH, one numpy
    pass. Multiple independent tables trade space for recall (union of
    per-table buckets), the standard sign-LSH construction (Charikar '02 /
    Indyk-Motwani — public). Recall is data-dependent: high on clustered
    embeddings, inherently poor on isotropic-random ones (no locality to
    hash — verified by the clustered-vs-uniform tests)."""
    planes = [_hyperplanes(dim, n_bits, seed + 7919 * t)
              for t in range(n_tables)]
    schema = T.StructType([
        T.StructField(id_col, T.LongType(), False),
        T.StructField("table", T.IntegerType(), False),
        T.StructField("bucket", T.LongType(), False),
    ])

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        weights = (1 << np.arange(n_bits, dtype=np.uint64))
        for pdf in batches:
            mat = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            if mat.size == 0:
                continue
            frames = []
            for t, pl in enumerate(planes):
                signs = (mat @ pl.T) > 0
                buckets = (signs.astype(np.uint64) * weights).sum(axis=1)
                frames.append(pd.DataFrame({
                    id_col: pdf[id_col].values,
                    "table": np.int32(t),
                    "bucket": buckets.astype(np.int64)}))
            yield pd.concat(frames, ignore_index=True)

    return embeddings.select(id_col, vec_col).mapInPandas(gen, schema=schema)


def query_buckets(qvec: list[float], n_bits: int = 12, n_tables: int = 8,
                  seed: int = 1234) -> list[tuple[int, int]]:
    """(table, bucket) keys for a query vector — same planes as above."""
    dim = len(qvec)
    qv = np.asarray(qvec, dtype=np.float64)
    weights = (1 << np.arange(n_bits, dtype=np.uint64))
    out = []
    for t in range(n_tables):
        planes = _hyperplanes(dim, n_bits, seed + 7919 * t)
        signs = (planes @ qv) > 0
        out.append((t, int((signs.astype(np.uint64) * weights).sum())))
    return out


def ivf_centroids(embeddings: DataFrame, n_clusters: int = 16,
                  sample_n: int = 4096, iters: int = 12, seed: int = 7,
                  vec_col: str = "embedding",
                  n_rows: int | None = None) -> np.ndarray:
    """IVF coarse quantizer: seeded Lloyd k-means on a driver-side sample
    (centroids are a tiny broadcastable model; the sample is bounded, so
    this is O(1) in corpus size — the standard IVF training shape).

    Sampling is a seeded uniform ``df.sample`` — NOT ``.limit``, which
    takes the first parquet rows and is biased when the table is sorted or
    clustered (time-ordered ingest would train centroids on one era).
    Seeding is k-means++ (D² weighting) for spread-out initial centers.
    """
    n = n_rows if n_rows is not None else embeddings.count()
    frac = min(1.0, (sample_n * 1.25) / max(n, 1))
    cap = int(sample_n * 1.25) + 64
    rows = (embeddings.select(vec_col)
            .sample(fraction=frac, seed=seed).limit(cap).collect())
    sample = np.array([r[0] for r in rows], dtype=np.float64)
    if len(sample) == 0:
        raise ValueError("ivf_centroids: empty sample")
    rng = np.random.RandomState(seed)
    if len(sample) > sample_n:
        # driver-side uniform down-sample of the Bernoulli oversample —
        # truncation by .limit alone would reintroduce partition-order
        # bias for the overflow fraction
        sample = sample[rng.choice(len(sample), size=sample_n,
                                   replace=False)]
    k = min(n_clusters, len(sample))
    # k-means++ seeding: first center uniform, then D²-weighted picks
    cents = sample[[rng.randint(len(sample))]]
    for _ in range(1, k):
        d2 = ((sample[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2) \
            .min(axis=1)
        tot = d2.sum()
        if tot <= 0:
            # all remaining points coincide with a center — pad uniformly
            cents = np.vstack([cents, sample[[rng.randint(len(sample))]]])
            continue
        cents = np.vstack(
            [cents, sample[[rng.choice(len(sample), p=d2 / tot)]]])
    for _ in range(iters):
        d = ((sample[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        for c in range(len(cents)):
            members = sample[assign == c]
            if len(members):
                cents[c] = members.mean(axis=0)
    return cents


def ivf_assignments(embeddings: DataFrame, centroids: np.ndarray,
                    id_col: str = "vec_id",
                    vec_col: str = "embedding") -> DataFrame:
    """(id, cluster) — one numpy pass; centroids ship inside the closure
    (equivalent to a broadcast: KBs, not data)."""
    cents = centroids.copy()
    schema = T.StructType([
        T.StructField(id_col, T.LongType(), False),
        T.StructField("cluster", T.IntegerType(), False),
    ])

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            mat = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            if mat.size == 0:
                continue
            d = ((mat[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            yield pd.DataFrame({id_col: pdf[id_col].values,
                                "cluster": d.argmin(axis=1).astype(np.int32)})

    return embeddings.select(id_col, vec_col).mapInPandas(gen, schema=schema)


def ivf_topk(embeddings: DataFrame, qvec: list[float], k: int = 10,
             n_clusters: int = 16, n_probe: int = 4, seed: int = 7,
             id_col: str = "vec_id", vec_col: str = "embedding",
             centroids: np.ndarray | None = None) -> DataFrame:
    """IVF ANN: exact scoring restricted to the n_probe clusters nearest
    the query. Recall/latency tunes with n_probe; candidates ≈
    n·n_probe/n_clusters."""
    if centroids is None:
        centroids = ivf_centroids(embeddings, n_clusters, seed=seed,
                                  vec_col=vec_col)
    assigns = ivf_assignments(embeddings, centroids, id_col, vec_col)
    q = np.asarray(qvec, dtype=np.float64)
    order = (((centroids - q[None, :]) ** 2).sum(axis=1)).argsort()[:n_probe]
    cand_ids = assigns.where(
        F.col("cluster").isin([int(c) for c in order])).select(id_col)
    cands = embeddings.join(cand_ids, id_col, "left_semi")
    return brute_force_topk(cands, qvec, k, id_col, vec_col)


def ivf_topk_multi(embeddings: DataFrame, queries: DataFrame, k: int = 10,
                   n_clusters: int = 16, n_probe: int = 4, seed: int = 7,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   centroids: np.ndarray | None = None,
                   max_queries: int = MAX_BROADCAST_QUERIES) -> DataFrame:
    """Batch IVF ANN: assignments are computed ONCE for the whole corpus;
    every query probes its n_probe nearest cells, and the exact re-rank
    runs as one broadcast join + per-query window top-k. The query side
    must be broadcast-small (the same contract as pairwise_topk,
    enforced by ``max_queries`` — the collect below fails loudly instead
    of OOMing the driver); corpus work is shared across queries instead
    of one scan per query."""
    if centroids is None:
        centroids = ivf_centroids(embeddings, n_clusters, seed=seed,
                                  vec_col=vec_col)
    assigns = ivf_assignments(embeddings, centroids, id_col, vec_col)
    spark = embeddings.sparkSession
    qrows = queries.select(id_col, vec_col) \
        .limit(max_queries + 1).collect()
    if len(qrows) > max_queries:
        raise ValueError(
            f"ivf_topk_multi: query side has more than {max_queries} "
            f"rows; raise max_queries explicitly if intended.")
    probe_pairs = []
    for r in qrows:
        qv = np.asarray([float(x) for x in r[1]], dtype=np.float64)
        order = (((centroids - qv[None, :]) ** 2).sum(axis=1)) \
            .argsort()[:n_probe]
        probe_pairs.extend((int(r[0]), int(c)) for c in order)
    probe = local_frame(spark, probe_pairs, "query_id long, cluster int")
    cand = (assigns.join(F.broadcast(probe), "cluster")
            .select("query_id", id_col))
    e = embeddings.select(F.col(id_col).alias("nbr_id"),
                          F.col(vec_col).alias("evec"))
    q = queries.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).alias("qvec"))
    scored = (cand.withColumnRenamed(id_col, "nbr_id")
              .join(e, "nbr_id").join(F.broadcast(q), "query_id")
              .where(F.col("query_id") != F.col("nbr_id"))
              .withColumn("cosine", _pair_cosine("qvec", "evec")))
    return _window_topk(scored, k)


def ivf_probe_assignments(queries: DataFrame, centroids: np.ndarray,
                          n_probe: int = 4, id_col: str = "vec_id",
                          vec_col: str = "embedding") -> DataFrame:
    """(query_id, cluster) rows for each query's ``n_probe`` nearest
    cells — computed DISTRIBUTED (one numpy pass per Arrow batch, the
    centroid plate ships in the closure). No driver collect: this is
    what lets the join variant below take an arbitrarily large query
    table."""
    cents = centroids.copy()
    schema = T.StructType([
        T.StructField("query_id", T.LongType(), False),
        T.StructField("cluster", T.IntegerType(), False),
    ])

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            mat = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            if mat.size == 0:
                continue
            d = ((mat[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            take = min(n_probe, d.shape[1])
            order = np.argsort(d, axis=1)[:, :take]
            yield pd.DataFrame({
                "query_id": np.repeat(pdf[id_col].to_numpy(), take),
                "cluster": order.ravel().astype(np.int32)})

    return queries.select(id_col, vec_col).mapInPandas(gen, schema=schema)


def ivf_topk_join(embeddings: DataFrame, queries: DataFrame, k: int = 10,
                  n_clusters: int = 16, n_probe: int = 4, seed: int = 7,
                  id_col: str = "vec_id", vec_col: str = "embedding",
                  centroids: np.ndarray | None = None) -> DataFrame:
    """Corpus-vs-corpus IVF ANN — the SCALE path past ivf_topk_multi's
    broadcast-small query contract: probe cells are computed per-query
    in a distributed pass, candidates come from a shuffle equi-join on
    the cluster id (AQE-splittable on hot cells), and the exact re-rank
    is a per-query window top-k. Nothing is collected; both sides can
    be arbitrarily large. Candidates per query ≈ n·n_probe/n_clusters —
    the same recall/latency dial as single-query IVF."""
    if centroids is None:
        centroids = ivf_centroids(embeddings, n_clusters, seed=seed,
                                  vec_col=vec_col)
    assigns = ivf_assignments(embeddings, centroids, id_col, vec_col)
    probes = ivf_probe_assignments(queries, centroids, n_probe,
                                   id_col, vec_col)
    cand = (assigns.join(probes, "cluster")
            .select("query_id", F.col(id_col).alias("nbr_id"))
            .dropDuplicates(["query_id", "nbr_id"]))
    e = embeddings.select(F.col(id_col).alias("nbr_id"),
                          F.col(vec_col).alias("evec"))
    q = queries.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).alias("qvec"))
    scored = (cand.join(e, "nbr_id").join(q, "query_id")
              .where(F.col("query_id") != F.col("nbr_id"))
              .withColumn("cosine", _pair_cosine("qvec", "evec")))
    return _window_topk(scored, k)


def embedding_near_dup_pairs(embeddings: DataFrame, threshold: float = 0.9,
                             n_bits: int = 10, n_tables: int = 6,
                             seed: int = 1234, id_col: str = "vec_id",
                             vec_col: str = "embedding") -> DataFrame:
    """Embedding-cosine near-duplicate pairs (a < b, cosine ≥ threshold):
    multi-table sign-LSH buckets generate candidates (equi-join on
    (table, bucket) — never O(n²)), exact cosine verifies JVM-side."""
    dim_row = embeddings.select(F.size(vec_col).alias("d")).head()
    sigs = lsh_bucket_signatures(embeddings, int(dim_row["d"]), n_bits,
                                 n_tables, seed, id_col, vec_col)
    a, b = sigs.alias("a"), sigs.alias("b")
    cand = (a.join(b, ["table", "bucket"])
            .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            .select(F.col(f"a.{id_col}").alias("id_a"),
                    F.col(f"b.{id_col}").alias("id_b"))
            .dropDuplicates(["id_a", "id_b"]))
    ea = embeddings.select(F.col(id_col).alias("id_a"),
                           F.col(vec_col).alias("vec_a"))
    eb = embeddings.select(F.col(id_col).alias("id_b"),
                           F.col(vec_col).alias("vec_b"))
    return (cand.join(ea, "id_a").join(eb, "id_b")
            .withColumn("cosine", _pair_cosine("vec_a", "vec_b"))
            .where(F.col("cosine") >= threshold)
            .select("id_a", "id_b", "cosine"))


def ann_topk(embeddings: DataFrame, qvec: list[float], k: int = 10,
             n_bits: int = 12, n_tables: int = 8, seed: int = 1234,
             id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """ANN: exact rescoring restricted to the union of the query's buckets
    across tables — candidate count ≈ n_tables · n / 2^n_bits, tunable."""
    sigs = lsh_bucket_signatures(embeddings, len(qvec), n_bits, n_tables,
                                 seed, id_col, vec_col)
    qb = query_buckets(qvec, n_bits, n_tables, seed)
    cond = None
    for t, b in qb:
        c = (F.col("table") == t) & (F.col("bucket") == b)
        cond = c if cond is None else (cond | c)
    cand_ids = sigs.where(cond).select(id_col).distinct()
    cands = embeddings.join(cand_ids, id_col, "left_semi")
    return brute_force_topk(cands, qvec, k, id_col, vec_col)


def quantize_embeddings(embs: DataFrame, bits: int = 8,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding") -> DataFrame:
    """Per-vector affine integer quantization — the vector-store
    compression step of an embedding pipeline (scalar quantization as
    in FAISS's SQ8, public methodology): each vector maps to
    ``code_i = floor((x_i - min) / scale + 0.5)`` with
    ``scale = (max - min) / (2^bits - 1)``, plus its reconstruction
    error stats. Returns one row per vector:
    ``(id, n_dims, sum_codes, max_code, scale, zero_point,
    max_abs_err, mse)`` — the integer columns are exact, the float
    columns rounded to 6 decimals (BM25 convention). Pure zero-shuffle
    JVM projection: at 10^12 vectors this is a narrow map over the
    scan, and the codes (+ scale/zero per vector) are the 4×-smaller
    payload a downstream ANN index would store.

    The half-up rounding is spelled ``floor(x + 0.5)`` explicitly so
    the DuckDB oracle (emb_quantization) computes bit-identical codes;
    a constant vector quantizes to all-zero codes (scale guard).
    """
    levels = (1 << bits) - 1
    vecd = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    mn = F.array_min(vecd)
    mx = F.array_max(vecd)
    scale = F.when(mx > mn, (mx - mn) / F.lit(float(levels))) \
        .otherwise(F.lit(1.0))
    codes = F.transform(
        vecd,
        lambda x: F.least(F.floor((x - mn) / scale + F.lit(0.5))
                          .cast("long"), F.lit(levels)))
    deq = F.transform(codes, lambda c: mn + c.cast("double") * scale)
    err = F.zip_with(vecd, deq, lambda a, b: F.abs(a - b))
    n = F.size(vecd)
    return embs.select(
        id_col,
        n.cast("long").alias("n_dims"),
        F.aggregate(codes, F.lit(0).cast("long"), lambda a, c: a + c)
        .alias("sum_codes"),
        F.array_max(codes).cast("long").alias("max_code"),
        F.round(scale, 6).alias("scale"),
        F.round(mn, 6).alias("zero_point"),
        F.round(F.array_max(err), 6).alias("max_abs_err"),
        F.round(F.aggregate(err, F.lit(0.0), lambda a, e: a + e * e)
                / n.cast("double"), 6).alias("mse"))
