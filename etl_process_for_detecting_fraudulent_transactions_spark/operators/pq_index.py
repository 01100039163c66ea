"""Persisted IVF-PQ index: codebook + coarse centroids + codes partitioned
by inverted list, probed with partition pruning.

The in-query gate (queries/similarity.py:knn_ivf_pq) retrains and re-encodes
on every call — right for a one-shot correctness gate, wrong for the
production "encode the corpus once, answer queries forever" loop. This
operator persists the three artifacts of an IVF-PQ index (FAISS's IVFPQ on
a filesystem):

- ``codebook``: the trained PQ sub-quantizers — M·K rows of (m, cid,
  subvector). Kilobytes; always broadcast at probe time.
- ``coarse``: the coarse-quantizer centroids (full fixed-point vectors).
  Also kilobytes.
- ``meta``: one row of build-time scalars (nvec, nlist, stride) so probe
  calls read constants back instead of re-counting (r12).
- ``codes``: one row per (vec_id, m) with its PQ code, hive-partitioned by
  the vector's inverted list — the ONLY corpus-sized artifact, and it is
  16× smaller than the raw float32 vectors (M 4-bit codes per vector). A
  probe reads only the nprobe_eff directories its query's coarse ranking
  selects:
  the parquet scan prunes partitions statically from a driver-side IN
  list, exactly like operators/ann_index.py.

Everything is the gate's fixed-point integer arithmetic, so probe results
are pinned EQUAL to the knn_ivf_pq gate output (tests/test_pq_index.py) —
not just statistically similar.

No DuckDB gate: the filesystem layout is the operator; the arithmetic it
serves is already oracle-verified through pq_encode / knn_pq_adc /
knn_ivf_pq.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from ..frames import local_frame

# The exactness-critical fixed-point expressions (_quantize_full, _sq_l2,
# _subvectors, _pq_lut) are imported from the gate module — single
# definition, so index probes can never drift from the oracle-verified
# gates (the same discipline ann_index.py follows for the LSH kernels).
from ..queries.similarity import (
    RERANK_R,
    TOP_K,
    _emb,
    _pq_lut,
    _pq_parts,
    _quantize_full,
    _sq_l2,
    _subvectors,
    centroid_stride,
    nprobe_eff,
)

_META = StructType([StructField(n, LongType()) for n in ("nvec", "nlist", "stride")])


def build_pq_index(spark: SparkSession, sf_dir: str, path: str) -> None:
    """Train on the corpus and persist codebook + coarse centroids + codes.

    The codes write shuffles once on list_id (AQE ``REBALANCE`` so a hot
    inverted list splits across tasks instead of serializing) — each of the
    ~N/stride directories (stride = centroid_stride(N), so ~sqrt(N) lists beyond test scale) holds its list's codes as a few large
    files."""
    sub, cent, final = _pq_parts(spark, sf_dir)
    qfull = _quantize_full(_emb(spark, sf_dir), "vec_id", "embedding")
    # scale-aware centroid stride, same single definition as the gate
    # (nlist ≈ sqrt(N) beyond test scale); a 1-scalar driver count, like
    # the probe-time collects — counted ONCE here and persisted as index
    # metadata so probes never re-count
    qfull_count = qfull.count()
    stride = centroid_stride(qfull_count)
    coarse = qfull.filter(F.col("vec_id") % stride == 0).select(
        F.col("vec_id").alias("centroid_id"), F.col("qv").alias("cfull")
    )
    coarse_count = coarse.count()  # metadata-scale (kilobytes of centroids)
    cd = qfull.crossJoin(F.broadcast(coarse)).select(
        "vec_id", "centroid_id", _sq_l2("qv", "cfull").alias("cd")
    )
    w = Window.partitionBy("vec_id").orderBy("cd", "centroid_id")
    lists = (
        cd.withColumn("crank", F.row_number().over(w))
        .filter(F.col("crank") == 1)
        .select("vec_id", F.col("centroid_id").alias("list_id"))
    )
    codes = final.select("vec_id", "m", "cid").join(lists, "vec_id")
    cent.write.mode("overwrite").parquet(f"{path}/codebook")
    coarse.write.mode("overwrite").parquet(f"{path}/coarse")
    (
        codes.hint("rebalance", "list_id")
        .write.mode("overwrite")
        .partitionBy("list_id")
        .parquet(f"{path}/codes")
    )
    # one-row scalar metadata (nvec/nlist/stride): probe time reads these
    # back instead of re-counting the coarse table per call — the counts
    # are invariants of the built index (round-12 advice)
    meta = local_frame(spark, [(qfull_count, coarse_count, stride)], _META)
    meta.coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")


def query_pq_index(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    top_k: int = TOP_K,
    exclude_self: bool = True,
    rerank_with: DataFrame | None = None,
    rerank_r: int = RERANK_R,
) -> DataFrame:
    """ADC top-k over the probed inverted lists only.

    ``queries``: (query_id, embedding array<double>). Coarse ranking picks
    nprobe_eff lists per query; the probed list ids are collected driver-side
    (metadata: ≤ |queries|·nprobe_eff longs) and pushed as a partition
    IN-filter, so the codes scan reads only those directories. Scoring is
    M lookups per candidate against the per-query LUT — the raw vectors
    are never read at probe time.

    ``rerank_with`` (r12, VERDICT r11 #6): the corpus (vec_id, embedding)
    frame. When given, runs the two-stage search: ADC top-``rerank_r``
    shortlist, then an exact fixed-point squared-L2 re-rank over the
    shortlist's full vectors — fetched by id via a broadcast semi-join
    (≤ |queries|·R vectors), never a corpus scan. Output ranks by
    ``exact_dist`` instead of ``adc_dist``; same fixed-point arithmetic as
    the knn_ivf_pq_rerank gate (pinned equal in tests/test_pq_index.py)."""
    qfull = _quantize_full(
        queries.select(F.col("query_id").alias("vec_id"), "embedding"),
        "vec_id",
        "embedding",
    ).localCheckpoint(eager=True)
    coarse = spark.read.parquet(f"{path}/coarse")
    cent = spark.read.parquet(f"{path}/codebook")
    # scale-aware probe width, same single definition as the knn_ivf_pq
    # gate (queries/similarity.py nprobe_eff) — nlist comes from the
    # 1-row meta artifact written at build time (falling back to counting
    # the kilobyte-scale centroid table for pre-r12 indexes)
    try:
        k_lists = nprobe_eff(
            spark.read.parquet(f"{path}/meta").head()["nlist"]
        )
    except Exception:
        k_lists = nprobe_eff(coarse.count())
    cd = qfull.crossJoin(F.broadcast(coarse)).select(
        "vec_id", "centroid_id", _sq_l2("qv", "cfull").alias("cd")
    )
    w = Window.partitionBy("vec_id").orderBy("cd", "centroid_id")
    probes = (
        cd.withColumn("crank", F.row_number().over(w))
        .filter(F.col("crank") <= k_lists)
        .select(
            F.col("vec_id").alias("query_id"), F.col("centroid_id").alias("list_id")
        )
        .localCheckpoint(eager=True)
    )
    probed = [r["list_id"] for r in probes.select("list_id").distinct().collect()]
    lut = _pq_lut(_subvectors(qfull), cent)
    codes = spark.read.parquet(f"{path}/codes").filter(F.col("list_id").isin(probed))
    scored = codes.join(F.broadcast(probes), "list_id")
    if exclude_self:
        scored = scored.filter(F.col("query_id") != F.col("vec_id"))
    scored = (
        scored.join(F.broadcast(lut), ["query_id", "m", "cid"])
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("d").alias("adc_dist"))
    )
    wr = Window.partitionBy("query_id").orderBy("adc_dist", "neighbor_id")
    if rerank_with is None:
        return (
            scored.withColumn("rank", F.row_number().over(wr))
            .filter(F.col("rank") <= top_k)
            .select("query_id", "neighbor_id", "adc_dist", "rank")
        )
    shortlist = (
        scored.withColumn("rrank", F.row_number().over(wr))
        .filter(F.col("rrank") <= rerank_r)
        .select("query_id", "neighbor_id")
    )
    nfull = _quantize_full(
        rerank_with.select(F.col("vec_id").alias("neighbor_id"), "embedding"),
        "neighbor_id",
        "embedding",
    ).select("neighbor_id", F.col("qv").alias("n_qv"))
    exact = (
        nfull.join(F.broadcast(shortlist), "neighbor_id")
        .join(
            F.broadcast(
                qfull.select(F.col("vec_id").alias("query_id"), F.col("qv").alias("q_qv"))
            ),
            "query_id",
        )
        .select(
            "query_id", "neighbor_id", _sq_l2("q_qv", "n_qv").alias("exact_dist")
        )
    )
    we = Window.partitionBy("query_id").orderBy("exact_dist", "neighbor_id")
    return (
        exact.withColumn("rank", F.row_number().over(we))
        .filter(F.col("rank") <= top_k)
        .select("query_id", "neighbor_id", "exact_dist", "rank")
    )
