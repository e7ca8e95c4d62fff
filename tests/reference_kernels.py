"""Reference implementations the tests compare the production kernels
against. Each one computes the same result as a package function by a
plainer route — Catalyst expressions or driver-side numpy instead of
Arrow-batched numpy kernels, or a separate pass instead of a fused
scan — and is used only as a test oracle.

  minhash_signature_expr   dedup.minhash_signature (bit-identical)
  simhash_expr             dedup.simhash (bit-identical)
  lsh_pairs_expr           dedup.minhash_lsh_duplicates (same pairs)
  hyperplane_signature     similarity.hyperplane_signatures_batch (one table)
  lsh_topk_expr            similarity.lsh_topk (same neighbors)
  brute_force_topk         similarity.brute_force_topk_arrow (same ranks)
  run_validation_classic_profile
                           validate.run_validation's fused rules+profile scan
"""

from __future__ import annotations

from itertools import combinations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from automatic_data_validator_spark.dedup import word_shingles
from automatic_data_validator_spark.profile import profile
from automatic_data_validator_spark.similarity import _dot, _norm, _plane_matrix
from automatic_data_validator_spark.validate import ValidationResult, run_validation


def minhash_signature_expr(text_col: str, num_hashes: int = 16, shingle_k: int = 3):
    """MinHash in pure Catalyst: all minima fold in ONE aggregate pass
    over the word shingles with an array accumulator."""
    sh = word_shingles(text_col, shingle_k)
    idx = F.sequence(F.lit(0), F.lit(num_hashes - 1))
    return F.aggregate(
        sh,
        F.array_repeat(F.lit((1 << 63) - 1).cast("long"), num_hashes),
        lambda acc, s: F.zip_with(acc, idx, lambda m, i: F.least(m, F.xxhash64(s, i))),
    )


def simhash_expr(text_col: str, bits: int = 64):
    """SimHash in pure Catalyst: token xxhash64s, bit-majority folded
    in ONE aggregate() pass with a ``bits``-wide vote array, bit-packed
    in the aggregate's finish lambda."""
    quoted = "`" + text_col.replace("`", "``") + "`"
    return F.expr(
        f"""
        aggregate(
          transform(split(lower({quoted}), '\\\\s+'), t -> xxhash64(t)),
          array_repeat(0L, {bits}),
          (acc, h) -> zip_with(
              acc, sequence(0, {bits - 1}),
              (a, b) -> a + if((shiftright(h, b) & 1L) = 1L, 1L, -1L)),
          acc -> aggregate(
              zip_with(acc, sequence(0, {bits - 1}),
                       (v, b) -> if(v > 0L, shiftleft(1L, b), 0L)),
              0L, (x, y) -> x | y)
        )
        """
    )


def lsh_pairs_expr(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
) -> set:
    """minhash_lsh_duplicates' (id_a, id_b) pairs, banded on the driver
    over expression signatures: two docs pair when any band's rows of
    their signatures are equal (no bucket cap)."""
    rows_per_band = num_hashes // bands
    sigs = df.select(
        id_col, minhash_signature_expr(text_col, num_hashes, shingle_k).alias("s")
    ).collect()
    pairs = set()
    for b in range(bands):
        buckets: dict = {}
        for r in sigs:
            key = tuple(r["s"][b * rows_per_band:(b + 1) * rows_per_band])
            buckets.setdefault(key, []).append(r[id_col])
        for ids in buckets.values():
            pairs.update((a, c) for a, c in combinations(sorted(ids), 2) if a < c)
    return pairs


def hyperplane_signature(vec_col: str, n_planes: int = 16, dim: int = 64, seed: int = 42):
    """One table's random-hyperplane signature as a bigint bit-pack,
    with the plane weights embedded as literal arrays and one
    interpreted aggregate() dot product per plane. Rows whose
    embedding length is not ``dim`` get a NULL signature."""
    planes = _plane_matrix(n_planes, dim, seed)
    v = F.col(vec_col)
    sig = F.lit(0).cast("long")
    for p in range(n_planes):
        w_lit = F.array(*[F.lit(float(x)) for x in planes[p]])
        proj = F.aggregate(
            F.zip_with(v, w_lit, lambda x, w: x * w),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        sig = sig.bitwiseOR(
            F.when(proj > 0, F.shiftleft(F.lit(1).cast("long"), p)).otherwise(F.lit(0).cast("long"))
        )
    return F.when(F.size(v) == dim, sig)


def lsh_topk_expr(
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    n_planes: int,
    n_tables: int,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> dict:
    """lsh_topk on the driver: per query, the vectors sharing any
    table's expression signature, ranked by cosine (sim desc, id asc)
    in numpy. Returns {query_id: [neighbor_id, ...]}."""
    dim = len(queries.select(vec_col).first()[0])

    def signed(df, idc):
        sig_cols = [
            hyperplane_signature(vec_col, n_planes, dim, seed + t).alias(f"s{t}")
            for t in range(n_tables)
        ]
        return [
            (r[0], np.asarray(r[1], dtype=np.float64), tuple(r[2:]))
            for r in df.select(idc, vec_col, *sig_cols).collect()
        ]

    vecs = signed(vectors, id_col)
    out = {}
    for qid, qv, qsig in signed(queries, query_id_col):
        ranked = sorted(
            (-float(v @ qv) / (np.linalg.norm(v) * np.linalg.norm(qv)), vid)
            for vid, v, vsig in vecs
            if any(a is not None and a == b for a, b in zip(vsig, qsig))
        )
        out[qid] = [vid for _, vid in ranked[:k]]
    return out


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k as a broadcast cross join with interpreted
    zip_with/aggregate dot products; (sim desc, id asc) ranking per
    query. Returns (query_id, neighbor_id, cosine_sim)."""
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        _norm(F.col(vec_col)).alias("_qn"),
    )
    v = vectors.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_v"),
        _norm(F.col(vec_col)).alias("_vn"),
    )
    sims = v.crossJoin(F.broadcast(q)).select(
        "query_id",
        "neighbor_id",
        (_dot(F.col("_v"), F.col("_qv")) / (F.col("_vn") * F.col("_qn"))).alias(
            "cosine_sim"
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return (
        sims.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def run_validation_classic_profile(spark, documents: DataFrame, **kwargs) -> ValidationResult:
    """run_validation without the fused scan: the row rules evaluated
    on their own (a run without profile) and the metrics from the
    classic single-aggregate profile pass over the same input."""
    res = run_validation(spark, documents, with_profile=False, **kwargs)
    res.metrics = profile(documents, detect_formats=False).metrics_df(spark)
    return res

