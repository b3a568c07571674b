"""Similarity search over embedding columns (``array<float>``).

- ``cosine_sim``      — pure-expression cosine (zip_with + aggregate fold,
                        double precision, deterministic left-to-right sum
                        order so results hash-match external oracles);
- ``brute_force_topk`` — exact top-k for one query vector: a single
                        column-expression pass + ORDER BY LIMIT k (Spark
                        plans TakeOrderedAndProject — no full sort);
- ``lsh_bucket_pairs`` / ``lsh_ann_topk`` — random-hyperplane LSH: sign
                        signature → equi-join on (table, signature) →
                        rerank candidates. The scale path: shuffle is an
                        equi-join on uniform hash buckets.

Hyperplanes are generated from a seeded ``random.Random`` so plans are
deterministic across runs/restarts.
"""

from __future__ import annotations

import random
from typing import Optional, Sequence

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def cosine_sim(a, b):
    """Cosine similarity of two array<double> columns, all JVM expressions.

    Left-to-right fold order (F.aggregate) is deterministic, so double
    results are bit-stable and comparable against DuckDB's sequential
    list_dot_product on DOUBLE[]."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )
    na = F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v))
    nb = F.sqrt(F.aggregate(F.transform(b, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v))
    return F.when((na > 0) & (nb > 0), dot / (na * nb)).otherwise(F.lit(0.0))


def brute_force_topk(
    df: DataFrame, vec_col: str, id_col: str, query_vec: Sequence[float], k: int = 10
) -> DataFrame:
    """Exact top-k neighbors of ``query_vec`` by cosine. One scan; Spark
    turns ORDER BY+LIMIT into TakeOrderedAndProject (per-partition top-k +
    driver merge), so no global sort even at 10^9 rows."""
    q = F.array(*[F.lit(float(x)) for x in query_vec]).cast("array<double>")
    return (
        df.select(
            F.col(id_col).alias("neighbor_id"),
            cosine_sim(F.col(vec_col).cast("array<double>"), q).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc("neighbor_id"))
        .limit(k)
    )


def _hyperplanes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def _lsh_sigs_udf(planes_per_table: list[list[list[float]]]):
    """All tables' sign signatures in ONE Arrow-batched matmul.

    Expression-based signatures (zip_with + aggregate per plane) run
    interpreted — n_tables × n_planes × dim lambda evaluations per row.
    Stacking every table's hyperplanes into a (dim, T·L) matrix turns the
    whole batch into one BLAS gemm + a packbits; returns array<long> of
    length n_tables."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    n_tables = len(planes_per_table)
    n_planes = len(planes_per_table[0])
    # (dim, T*L) — column t*L+p is plane p of table t
    M = np.concatenate([np.asarray(p, dtype=np.float64).T for p in planes_per_table], axis=1)
    weights = (1 << np.arange(n_planes, dtype=np.int64))

    def compute(vecs: pd.Series) -> pd.Series:
        X = np.asarray([np.asarray(v, dtype=np.float64) for v in vecs])
        if X.size == 0:
            return pd.Series([], dtype=object)
        bits = (X @ M) >= 0  # (n, T*L)
        sigs = bits.reshape(len(X), n_tables, n_planes).astype(np.int64) @ weights
        return pd.Series(list(sigs))

    return pandas_udf(compute, ArrayType(LongType()))


def _planes_for_threshold(threshold: float) -> tuple[int, int]:
    """Signature length / table count tuned to the target cosine.

    Sign-LSH bit-agreement probability for cosine c is 1 - arccos(c)/pi;
    recall of an L-bit AND over T ORed tables is 1-(1-p^L)^T. Long
    signatures only work for high thresholds — at c=0.4 (p≈0.63) a 12-bit
    signature has 0.4% per-table recall, i.e. finds nothing. Candidate
    cost grows as sum(bucket^2), so L trades recall against join fan-out:
    pick short signatures + more tables for loose thresholds, long + few
    for near-dup thresholds."""
    if threshold >= 0.85:
        return 8, 6  # p≈0.86 → 0.29/table → 0.87 recall, 256 buckets/table
    if threshold >= 0.7:
        return 6, 8
    # Below ~0.6 sign-LSH cannot prune: collision probability for RANDOM
    # pairs is (1/2)^L per table, so short-enough-to-recall signatures
    # admit a large share of all pairs — candidates approach brute force.
    # The operator stays correct (rerank is exact) but the scale path is
    # the IVF variant; callers wanting loose thresholds should expect
    # near-quadratic candidate volume.
    return 4, 8


def lsh_bucket_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float,
    dim: int,
    n_planes: int | None = None,
    n_tables: int | None = None,
    seed: int = 42,
) -> DataFrame:
    """Approximate near-dup pairs: rows sharing a full signature in ANY of
    ``n_tables`` hash tables become candidates (equi-join on
    (table, signature)), then exact cosine reranks. Recall grows with
    n_tables; cost stays an equi-join. Candidate pairs are deduped BEFORE
    the cosine so each pair pays the O(dim) rerank once, not once per
    colliding table."""
    auto_planes, auto_tables = _planes_for_threshold(threshold)
    n_planes = n_planes or auto_planes
    n_tables = n_tables or auto_tables
    planes_per_table = [
        _hyperplanes(dim, n_planes, seed + 1000 * t) for t in range(n_tables)
    ]
    # signatures for ALL tables in one Arrow matmul, exploded to
    # (table_idx, sig) — the expression form (zip_with+aggregate per
    # plane) runs interpreted and dominates runtime
    # posexplode_outer: plain posexplode lets InferFiltersFromGenerate
    # push a size()>0 filter below the scan that re-runs the signature
    # UDF; _sigs is always n_tables long so outer ≡ inner
    sig_udf = _lsh_sigs_udf(planes_per_table)
    base = df.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).cast("array<double>").alias("_vec"),
        sig_udf(F.col(vec_col)).alias("_sigs"),
    ).select("_id", "_vec", F.posexplode_outer("_sigs").alias("table_idx", "sig"))
    # the vector RIDES the signature explode (n_tables copies of one
    # row's payload — a few MB at corpus scale-per-bucket) into a
    # per-(table, sig)-bucket blocked-gram rerank: candidate id pairs
    # are never materialized and vectors are never joined per pair
    # (r14, guide §8; the former id-explode → dedup → two vector joins
    # shuffled every candidate with ~1 KB of payload twice)
    return _bucket_gram_pairs(
        base, ["table_idx", "sig"], "_vec", "_id", threshold
    ).select(F.col("id_a"), F.col("id_b"), F.col("cosine"))


def _bucket_gram_pairs(
    bucketed: DataFrame,
    key_cols: list[str],
    vec_col: str,
    id_col: str,
    threshold: float,
    max_bucket_size: Optional[int] = None,
    block: int = 4096,
) -> DataFrame:
    """Exact-cosine pairs of rows sharing a bucket, computed PER BUCKET
    as a blocked gram matrix — the candidate-pair explosion never
    materializes and the vectors are never joined onto pairs.

    The former shape (bucket_pairs id-explode → dropDuplicates → join
    both vectors back → per-pair einsum) shuffled every candidate pair
    with BOTH its 64-double payloads: at the IVF geometry of the bench
    key that is ~10⁶ pairs × ~1 KB ≈ 1 GB through two joins for 4,000
    input vectors. This shape shuffles each vector once per bucket
    membership (the explode the caller already pays, a few MB), gathers
    each bucket into one task, and emits only surviving pairs — the
    guide §8 discipline (decide with a local gemm, never move payloads
    per candidate). Every pair's cosine uses the same arithmetic as
    `exact_rerank_pairs` (raw dot / max(norm·norm, 1e-300), zero when a
    norm is 0); a pair sharing several buckets is deduped by
    groupBy(max) — the blocked dgemm is deterministic per bucket, so
    the output is run-stable.

    ``max_bucket_size`` keeps bucket_pairs' skew-guard semantics: a
    bucket with more rows contributes NO pairs (checked before any
    compute). ``block`` bounds per-task memory at block×m gram cells —
    a capped bucket never exceeds block×max_bucket_size doubles."""
    import numpy as np

    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    out_schema = StructType(
        [
            StructField("id_a", LongType()),
            StructField("id_b", LongType()),
            StructField("cosine", DoubleType()),
        ]
    )
    empty = {"id_a": np.empty(0, np.int64), "id_b": np.empty(0, np.int64),
             "cosine": np.empty(0, np.float64)}

    def gram(pdf):
        m = len(pdf)
        if m < 2 or (max_bucket_size is not None and m > max_bucket_size):
            return pd.DataFrame(empty)
        ids = pdf[id_col].to_numpy(np.int64)
        X = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
        order = np.argsort(ids)  # shuffle-order independence
        ids, X = ids[order], X[order]
        norms = np.linalg.norm(X, axis=1)
        out_a, out_b, out_c = [], [], []
        for i0 in range(0, m, block):
            Xi, ni = X[i0 : i0 + block], norms[i0 : i0 + block]
            for j0 in range(i0, m, block):
                G = Xi @ X[j0 : j0 + block].T
                denom = ni[:, None] * norms[None, j0 : j0 + block]
                cos = np.where(denom > 0, G / np.maximum(denom, 1e-300), 0.0)
                ii, jj = np.nonzero(cos >= threshold)
                gi, gj = ii + i0, jj + j0
                keep = gi < gj  # strict upper triangle, id_a < id_b
                if keep.any():
                    out_a.append(ids[gi[keep]])
                    out_b.append(ids[gj[keep]])
                    out_c.append(cos[ii[keep], jj[keep]])
        if not out_a:
            return pd.DataFrame(empty)
        return pd.DataFrame(
            {
                "id_a": np.concatenate(out_a),
                "id_b": np.concatenate(out_b),
                "cosine": np.concatenate(out_c),
            }
        )

    pairs = bucketed.groupBy(*key_cols).applyInPandas(gram, out_schema)
    # a pair co-bucketed k times surfaces k near-identical cosines (the
    # dgemm block geometry can differ per bucket) — max() makes the
    # retained value deterministic; survivors are tiny next to candidates
    return pairs.groupBy("id_a", "id_b").agg(F.max("cosine").alias("cosine"))


def exact_rerank_pairs(
    df: DataFrame,
    cand: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float,
) -> DataFrame:
    """Exact cosine rerank of a deduped (id_a, id_b) candidate frame:
    vectors join back onto the candidates and one fused mapInPandas pass
    computes einsum cosines + the threshold filter (a ``.where(udf>=t)``
    would split into Filter + re-projection and evaluate the cosine UDF
    twice per candidate). Shared by every bucketed pair generator
    (LSH tables, IVF cells) — the rerank makes the RESULT exact; only
    candidate RECALL is approximate."""
    import numpy as np

    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    vecs = df.select(F.col(id_col).alias("_vid"), F.col(vec_col).cast("array<double>").alias("_vec"))
    va = vecs.select(F.col("_vid").alias("id_a"), F.col("_vec").alias("_va"))
    vb = vecs.select(F.col("_vid").alias("id_b"), F.col("_vec").alias("_vb"))

    out_schema = StructType(
        [
            StructField("id_a", LongType()),
            StructField("id_b", LongType()),
            StructField("cosine", DoubleType()),
        ]
    )

    def rerank(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            A = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf["_va"]])
            B = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf["_vb"]])
            dots = np.einsum("ij,ij->i", A, B)
            denom = np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1)
            cos = np.where(denom > 0, dots / np.maximum(denom, 1e-300), 0.0)
            keep = cos >= threshold
            yield pd.DataFrame(
                {
                    "id_a": pdf["id_a"].to_numpy()[keep],
                    "id_b": pdf["id_b"].to_numpy()[keep],
                    "cosine": cos[keep],
                }
            )

    return cand.join(va, "id_a").join(vb, "id_b").mapInPandas(rerank, out_schema)


def _ivf_multi_assign_udf(centroids: list[list[float]], n_assign: int):
    """Top-``n_assign`` nearest centroids per row (one gemm + argpartition
    per Arrow batch) — multi-probe assignment for pair generation."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    C = np.asarray(centroids, dtype=np.float64)
    half_sq = 0.5 * (C * C).sum(axis=1)
    k = min(n_assign, len(C))

    def compute(vecs: pd.Series) -> pd.Series:
        X = np.asarray([np.asarray(v, dtype=np.float64) for v in vecs])
        if X.size == 0:
            return pd.Series([], dtype=object)
        scores = X @ C.T - half_sq
        if k >= scores.shape[1]:
            top = np.argsort(-scores, axis=1)
        else:
            part = np.argpartition(-scores, k - 1, axis=1)[:, :k]
            # argpartition is unordered; fine — bucket membership is a set
            top = part
        return pd.Series([row.astype("int32") for row in top[:, :k]])

    return pandas_udf(compute, "array<int>")


def ivf_near_dup_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float,
    n_centroids: int = 16,
    n_assign: int = 2,
    seed: int = 42,
    centroids: Optional[list[list[float]]] = None,
    max_bucket_size: Optional[int] = None,
) -> DataFrame:
    """IVF-bucketed near-dup pairs — the SemDeDup shape: candidate
    pairs are generated WITHIN coarse-quantizer cells only, with each
    vector joining its ``n_assign`` nearest centroids (multi-probe) so
    pairs straddling a Voronoi boundary still co-bucket. Cost is
    Σ_cells m²/2 id-only pairs plus ONE exact gemm rerank of the deduped
    candidates; with balanced cells the candidate fraction is roughly
    ``n_centroids · (n_assign/n_centroids)²`` of all pairs — REAL
    pruning requires ``n_assign² ≪ n_centroids``.

    Where it wins vs sign-LSH: the cells are LEARNED from the data, so
    on corpora with genuine cluster structure (the semantic-dedup
    assumption — near-dups are tight and co-cluster) recall stays high
    at candidate fractions sign-LSH can only reach for cosine ≥ ~0.85.
    On structureless data at loose thresholds (near-threshold pairs in
    the diffuse bulk) recall honestly degrades with pruning — no cell
    method beats that regime; the exact blocked-gemm baseline is the
    only complete answer there.

    The rerank is exact, so every emitted pair truly has cosine ≥
    threshold; only candidate RECALL is approximate (pytest law vs the
    exact baseline on clustered data). ``max_bucket_size`` drops
    degenerate cells (same skew guard as the LSH/shingle joins)."""
    if centroids is None:
        centroids = ivf_centroids(df, vec_col, n_centroids=n_centroids, seed=seed)
    assign = _ivf_multi_assign_udf(centroids, n_assign)
    # the vector rides the multi-assign explode (n_assign copies) into a
    # per-cell blocked-gram rerank — candidate id pairs never
    # materialize and vectors are never joined per pair (r14, guide §8;
    # the former id-explode → dedup → two vector joins shuffled ~10⁶
    # candidate pairs × ~1 KB of payload for 4,000 vectors at the bench
    # geometry)
    base = df.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).cast("array<double>").alias("_vec"),
        assign(F.col(vec_col)).alias("_bkts"),
    ).select("_id", "_vec", F.explode("_bkts").alias("bucket"))
    return _bucket_gram_pairs(
        base, ["bucket"], "_vec", "_id", threshold,
        max_bucket_size=max_bucket_size,
    ).select(F.col("id_a"), F.col("id_b"), F.col("cosine"))


def ivf_centroids(
    df: DataFrame,
    vec_col: str,
    n_centroids: int = 16,
    seed: int = 42,
    sample_rows: int = 100_000,
    max_iter: int = 12,
) -> list[list[float]]:
    """Coarse quantizer: KMeans centers fitted on a BOUNDED sample,
    driver-side in numpy (the faiss IVF training recipe). At 100 TB the
    fit stays O(sample_rows × dim) — collect ≤~2×sample_rows vectors
    (~100 MB at d=64), run seeded kmeans++ + Lloyd's as gemms, and let
    the distributed ``ivf_assign`` handle the full corpus. Spark ML's
    KMeans on the same sample costs ~20 driver-coordinated jobs (seconds
    of per-iteration scheduling) for identical centers.

    The sample is ONE scan, no prior ``count()`` job (a full extra pass
    over the corpus just to size a fraction): each partition contributes
    its first ``2*sample_rows/n_partitions`` vectors and stops consuming
    input, and the driver trims to ``sample_rows`` with a seeded rng.
    Head-of-partition bias is the faiss convention (it trains on the
    first n_train vectors outright); spreading the quota across all
    partitions already mixes file ranges far more than that, and a
    coarse quantizer only needs coverage, not exact uniformity."""
    X = collect_training_sample(df, vec_col, sample_rows=sample_rows)
    return _fit_ivf_centroids(
        X, n_centroids=n_centroids, seed=seed, sample_rows=sample_rows,
        max_iter=max_iter,
    )


def collect_training_sample(
    df: DataFrame, vec_col: str, sample_rows: int = 100_000
):
    """ONE bounded single-scan sample collect shared by every driver-side
    quantizer fit: each partition contributes its first
    ``2*sample_rows/n_partitions`` vectors and stops consuming input;
    the driver returns the RAW (untrimmed, unnormalized) matrix — each
    fit applies its own seeded trim/normalization exactly as before, so
    a caller that trains the coarse quantizer AND the PQ codebooks from
    one shared sample (``build_ann_index``, ``ivf_pq_topk``) gets
    byte-identical models to the former two-scan form while paying the
    scan+collect job ONCE (guide §2.4 — remove a whole pass outright).

    No prior ``count()`` job (a full extra pass just to size a
    fraction), and ``defaultParallelism`` instead of probing ``.rdd``
    (the DataFrame→RDD conversion runs an analysis job just to size the
    quota — an estimate is all it needs). Head-of-partition bias is the
    faiss convention (it trains on the first n_train vectors outright);
    spreading the quota across partitions already mixes file ranges far
    more than that, and quantizers need coverage, not exact uniformity.
    ``toPandas`` = Arrow batch transfer; ``.collect()``'s Row objects
    cost seconds of per-row conversion at 10^5 vectors."""
    import math as _math

    import numpy as np

    sample = df.select(F.col(vec_col).cast("array<double>").alias("_v"))
    n_parts = max(1, sample.sparkSession.sparkContext.defaultParallelism)
    quota = max(256, _math.ceil(2 * sample_rows / n_parts))

    def head_quota(batches):
        taken = 0
        for pdf in batches:
            if taken + len(pdf) >= quota:
                yield pdf.iloc[: quota - taken]
                break  # stop consuming this partition's remaining batches
            taken += len(pdf)
            yield pdf

    pdf = sample.mapInPandas(head_quota, schema=sample.schema).toPandas()
    return np.array([np.asarray(v, dtype=np.float64) for v in pdf["_v"]])


def _fit_ivf_centroids(
    X,
    n_centroids: int = 16,
    seed: int = 42,
    sample_rows: int = 100_000,
    max_iter: int = 12,
) -> list[list[float]]:
    """Driver-side coarse-quantizer fit over an already-collected sample
    matrix — the numpy half of :func:`ivf_centroids`, split out so
    shared-sample callers (``build_ann_index``) skip the scan."""
    import numpy as np

    rng = np.random.RandomState(seed)
    if len(X) > sample_rows:
        X = X[rng.choice(len(X), sample_rows, replace=False)]
    # kmeans++ init. The min distance to the chosen set is maintained
    # INCREMENTALLY (min of the running array and the newest center's
    # distances — exact: min is associative, every per-center distance
    # array is computed by the same expression), not recomputed over
    # every center each step: the full recompute is O(k²·n·d) numpy
    # calls, the dominant fit cost at k≳32 (guide §1.2).
    centers = [X[rng.randint(len(X))]]
    d2 = ((X - centers[0]) ** 2).sum(axis=1)
    for _ in range(1, min(n_centroids, len(X))):
        probs = d2 / d2.sum() if d2.sum() > 0 else None
        centers.append(X[rng.choice(len(X), p=probs)])
        d2 = np.minimum(d2, ((X - centers[-1]) ** 2).sum(axis=1))
    C = np.array(centers)
    # Lloyd's: assignment via argmax(x·c - ½||c||²) gemm
    for _ in range(max_iter):
        assign = (X @ C.T - 0.5 * (C * C).sum(axis=1)).argmax(axis=1)
        newC = np.array(
            [
                X[assign == k].mean(axis=0) if (assign == k).any() else C[k]
                for k in range(len(C))
            ]
        )
        if np.allclose(newC, C):
            break
        C = newC
    return [list(map(float, c)) for c in C]


def _ivf_assign_udf(centroids: list[list[float]]):
    """Vectorized nearest-centroid: argmin ||x-c||² = argmax (x·c - ½||c||²)
    — one gemm per Arrow batch instead of n_centroids × dim interpreted
    lambda evaluations per row."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import IntegerType

    C = np.asarray(centroids, dtype=np.float64)  # (k, d)
    half_sq = 0.5 * (C * C).sum(axis=1)  # (k,)

    def compute(vecs: pd.Series) -> pd.Series:
        X = np.asarray([np.asarray(v, dtype=np.float64) for v in vecs])
        if X.size == 0:
            return pd.Series([], dtype="int32")
        scores = X @ C.T - half_sq
        return pd.Series(scores.argmax(axis=1).astype("int32"))

    return pandas_udf(compute, IntegerType())


def ivf_assign(df: DataFrame, vec_col: str, centroids: list[list[float]], bucket_col: str = "ivf_bucket") -> DataFrame:
    return df.withColumn(bucket_col, _ivf_assign_udf(centroids)(F.col(vec_col)))


def ivf_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query_vec: Sequence[float],
    k: int = 10,
    centroids: Optional[list[list[float]]] = None,
    n_centroids: int = 16,
    n_probe: int = 4,
    seed: int = 42,
) -> DataFrame:
    """IVF ANN: assign rows to their nearest KMeans centroid, search only
    the ``n_probe`` buckets nearest the query, exact-rerank survivors.
    The bucket filter prunes ~(1 - n_probe/n_centroids) of the corpus
    before any cosine; with a persisted assignment (``ivf_assign`` +
    partitionBy(bucket) on write) the scan prunes at the file level."""
    if centroids is None:
        centroids = ivf_centroids(df, vec_col, n_centroids=n_centroids, seed=seed)
    q = [float(x) for x in query_vec]
    dists = [
        (sum((a - b) * (a - b) for a, b in zip(q, c)), i) for i, c in enumerate(centroids)
    ]
    probes = [i for _, i in sorted(dists)[:n_probe]]
    assigned = ivf_assign(df, vec_col, centroids)
    qcol = F.array(*[F.lit(x) for x in q]).cast("array<double>")
    return (
        assigned.where(F.col("ivf_bucket").isin(probes))
        .select(
            F.col(id_col).alias("neighbor_id"),
            cosine_sim(F.col(vec_col).cast("array<double>"), qcol).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc("neighbor_id"))
        .limit(k)
    )


def lsh_ann_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query_vec: Sequence[float],
    k: int = 10,
    n_planes: int = 10,
    n_tables: int = 4,
    max_hamming: int = 2,
    seed: int = 42,
) -> DataFrame:
    """ANN top-k for one query: candidates = rows whose signature is within
    ``max_hamming`` bits of the query's in any table (signature comparison
    is a cheap long XOR popcount — the scan prunes most rows before any
    cosine is computed), then exact rerank of the survivors."""
    dim = len(query_vec)
    planes_per_table = [
        _hyperplanes(dim, n_planes, seed + 1000 * t) for t in range(n_tables)
    ]
    qsigs = []
    for planes in planes_per_table:
        qsig = 0
        for i, plane in enumerate(planes):
            dot = sum(float(a) * float(b) for a, b in zip(query_vec, plane))
            if dot >= 0:
                qsig |= 1 << i
        qsigs.append(qsig)
    sig_udf = _lsh_sigs_udf(planes_per_table)
    q = F.array(*[F.lit(float(x)) for x in query_vec]).cast("array<double>")
    base = df.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("_v"),
        sig_udf(F.col(vec_col)).alias("_sigs"),
    )
    conds = [
        F.bit_count(F.col("_sigs")[t].bitwiseXOR(F.lit(qsigs[t]).cast("long"))) <= max_hamming
        for t in range(n_tables)
    ]
    cond = conds[0]
    for c in conds[1:]:
        cond = cond | c
    return (
        base.where(cond)
        .select("neighbor_id", cosine_sim(F.col("_v"), q).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("neighbor_id"))
        .limit(k)
    )


# ---- Product quantization (PQ) — the compressed-scan ANN path ----


def _normalized_rows(X):
    import numpy as np

    n = np.linalg.norm(X, axis=1, keepdims=True)
    return X / np.maximum(n, 1e-300)


def pq_train(
    df: DataFrame,
    vec_col: str,
    m_subspaces: int = 8,
    n_centroids: int = 256,
    seed: int = 42,
    sample_rows: int = 100_000,
    max_iter: int = 12,
) -> list[list[list[float]]]:
    """Train PQ codebooks: split the (L2-normalized) vector into
    ``m_subspaces`` contiguous sub-vectors and fit a seeded KMeans of
    ``n_centroids`` centers per subspace on a BOUNDED single-scan sample
    (identical recipe and bounds to :func:`ivf_centroids` — the faiss
    training convention). Returns ``m`` codebooks of shape (k, d/m).

    Why PQ at 100 TB: an encoded corpus stores ``m`` small ints per
    vector (8 B at m=8) instead of 256 B of floats — the scan that
    ranks 10^10 vectors reads 32× less and computes table lookups, not
    dot products. Training cost is O(sample × dim), driver-side numpy.
    """
    X = collect_training_sample(df, vec_col, sample_rows=sample_rows)
    return _fit_pq_books(
        X, m_subspaces=m_subspaces, n_centroids=n_centroids, seed=seed,
        sample_rows=sample_rows, max_iter=max_iter,
    )


def _fit_pq_books(
    X,
    m_subspaces: int = 8,
    n_centroids: int = 256,
    seed: int = 42,
    sample_rows: int = 100_000,
    max_iter: int = 12,
) -> list[list[list[float]]]:
    """Driver-side PQ fit over an already-collected sample matrix ``X``
    (rows × dim, unnormalized): the numpy half of :func:`pq_train`,
    split out so callers that already hold the sample (shared-sample
    trainings, see ``build_ann_index``) skip the scan.

    The kmeans++ seeding runs LOCKSTEP across subspaces: the sequential
    form is m_subspaces × (k−1) tiny-array numpy calls whose interpreter
    overhead dominates the whole fit (measured ~6 s at m=16, k=256,
    n=2000 — vs ~0.2 s vectorized; guide §1.2 "per-task work"). Draws
    are pre-extracted from the SAME seeded RandomState in the SAME order
    the sequential loop consumed them, every per-element arithmetic op
    is kept identical (broadcast-subtract/square/sum, running minimum,
    cumsum + left-searchsorted draw), so the chosen center indices — and
    therefore the returned codebooks — are bit-identical. The one
    data-dependent branch (a zero total distance, only reachable when
    every remaining point coincides with a chosen center) falls back to
    the sequential loop for that degenerate input."""
    import numpy as np

    X_raw = X
    rng = np.random.RandomState(seed)
    if len(X) > sample_rows:
        X = X[rng.choice(len(X), sample_rows, replace=False)]
    X = _normalized_rows(X)
    n, d = X.shape
    if d % m_subspaces != 0:
        raise ValueError(f"dim {d} not divisible by m_subspaces {m_subspaces}")
    dsub = d // m_subspaces
    k = min(n_centroids, n)
    # pre-draw the rng stream in the sequential loop's exact consumption
    # order: per subspace, one randint (first center) then k-1 uniform
    # doubles (one per ++ step, assuming every step's total distance is
    # positive — the non-degenerate case; verified below)
    first_idx = []
    step_draws = []
    for _m in range(m_subspaces):
        first_idx.append(rng.randint(n))
        step_draws.append(rng.random_sample(k - 1) if k > 1 else np.empty(0))
    # lockstep kmeans++: D2[m] is subspace m's running min squared
    # distance; one (m_subspaces, n, dsub) broadcast per step replaces
    # m_subspaces sequential steps of tiny-array calls
    Xsub = np.ascontiguousarray(
        X.reshape(n, m_subspaces, dsub).transpose(1, 0, 2)
    )  # (m, n, dsub)
    chosen = np.empty((m_subspaces, k), dtype=np.int64)
    chosen[:, 0] = first_idx
    first_centers = Xsub[np.arange(m_subspaces), chosen[:, 0]]  # (m, dsub)
    D2 = ((Xsub - first_centers[:, None, :]) ** 2).sum(axis=2)  # (m, n)
    degenerate = False
    for s in range(1, k):
        cs = np.cumsum(D2, axis=1)  # (m, n)
        tot = cs[:, -1]
        if not (tot > 0).all():
            degenerate = True
            break
        vals = np.array([step_draws[m][s - 1] for m in range(m_subspaces)]) * tot
        # first index with cumsum >= draw — identical to the sequential
        # np.searchsorted(cumsum, draw) ('left') + clamp
        idx = np.minimum((cs >= vals[:, None]).argmax(axis=1), n - 1)
        chosen[:, s] = idx
        nxt = Xsub[np.arange(m_subspaces), idx]  # (m, dsub)
        D2 = np.minimum(D2, ((Xsub - nxt[:, None, :]) ** 2).sum(axis=2))
    if degenerate:
        return _fit_pq_books_sequential(
            X_raw, m_subspaces=m_subspaces, n_centroids=n_centroids,
            seed=seed, sample_rows=sample_rows, max_iter=max_iter,
        )
    books = []
    for m in range(m_subspaces):
        Xs = X[:, m * dsub : (m + 1) * dsub]
        C = Xs[chosen[m]]
        C = _pq_lloyd(Xs, C, max_iter)
        books.append([list(map(float, c)) for c in C])
    return books


def _pq_lloyd(Xs, C, max_iter: int):
    """The (unchanged) Lloyd refinement loop of one PQ subspace."""
    import numpy as np

    for _ in range(max_iter):
        assign = (Xs @ C.T - 0.5 * (C * C).sum(axis=1)).argmax(axis=1)
        # scatter means via bincount — per-centroid boolean masks are
        # k passes over the sample per iteration, the training hotspot
        counts = np.bincount(assign, minlength=len(C)).astype(np.float64)
        sums = np.stack(
            [
                np.bincount(assign, weights=Xs[:, j], minlength=len(C))
                for j in range(Xs.shape[1])
            ],
            axis=1,
        )
        newC = C.copy()
        nz = counts > 0
        newC[nz] = sums[nz] / counts[nz, None]
        if np.allclose(newC, C):
            break
        C = newC
    return C


def _fit_pq_books_sequential(
    X,
    m_subspaces: int,
    n_centroids: int,
    seed: int,
    max_iter: int,
    sample_rows: int = 100_000,
) -> list[list[list[float]]]:
    """The original per-subspace sequential fit — the degenerate-input
    fallback of :func:`_fit_pq_books`. Takes the RAW (untrimmed,
    unnormalized) sample and replays the historical rng consumption from
    the start (trim draw included), so the zero-total branch yields the
    exact codebooks the sequential implementation always produced."""
    import numpy as np

    rng = np.random.RandomState(seed)
    if len(X) > sample_rows:
        X = X[rng.choice(len(X), sample_rows, replace=False)]
    X = _normalized_rows(X)
    d = X.shape[1]
    dsub = d // m_subspaces
    k = min(n_centroids, len(X))
    books = []
    for m in range(m_subspaces):
        Xs = X[:, m * dsub : (m + 1) * dsub]
        centers = [Xs[rng.randint(len(Xs))]]
        d2 = ((Xs - centers[0]) ** 2).sum(axis=1)
        for _ in range(1, k):
            tot = d2.sum()
            if tot > 0:
                idx = int(np.searchsorted(np.cumsum(d2), rng.random_sample() * tot))
                idx = min(idx, len(Xs) - 1)
            else:
                idx = rng.randint(len(Xs))
            nxt = Xs[idx]
            centers.append(nxt)
            d2 = np.minimum(d2, ((Xs - nxt) ** 2).sum(axis=1))
        C = _pq_lloyd(Xs, np.array(centers), max_iter)
        books.append([list(map(float, c)) for c in C])
    return books


def _pq_encode_udf(codebooks: list[list[list[float]]]):
    """Vectorized encoder: per subspace, argmax(x·c − ½‖c‖²) gemm over
    the Arrow batch — m gemms per batch, never per-row loops."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    Cs = [np.asarray(b, dtype=np.float64) for b in codebooks]
    halves = [0.5 * (C * C).sum(axis=1) for C in Cs]
    dsub = Cs[0].shape[1]

    def compute(vecs: pd.Series) -> pd.Series:
        X = np.asarray([np.asarray(v, dtype=np.float64) for v in vecs])
        if X.size == 0:
            return pd.Series([], dtype="object")
        X = _normalized_rows(X)
        codes = np.stack(
            [
                (X[:, m * dsub : (m + 1) * dsub] @ Cs[m].T - halves[m]).argmax(axis=1)
                for m in range(len(Cs))
            ],
            axis=1,
        ).astype("int32")
        return pd.Series(list(codes))

    return pandas_udf(compute, "array<int>")


def pq_encode(
    df: DataFrame,
    vec_col: str,
    codebooks: list[list[list[float]]],
    code_col: str = "pq_code",
) -> DataFrame:
    """Attach the m-int PQ code; persist this (partitioned however the
    corpus is) and the float vectors never need re-reading for ranking."""
    return df.withColumn(code_col, _pq_encode_udf(codebooks)(F.col(vec_col)))


def pq_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query_vec: Sequence[float],
    k: int = 10,
    codebooks: Optional[list[list[list[float]]]] = None,
    m_subspaces: int = 8,
    n_centroids: int = 256,
    seed: int = 42,
    code_col: Optional[str] = None,
) -> DataFrame:
    """PQ-ADC top-k: build the m×k table of ``query_sub · centroid`` dot
    products on the driver (tiny), broadcast it, and score every row as
    m table LOOKUPS over its code — the asymmetric-distance scan. Pass
    ``code_col`` to rank a pre-encoded corpus without touching vectors.
    Approximates cosine (vectors are L2-normalized at train/encode);
    the top-k is TakeOrderedAndProject — no global sort."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    if codebooks is None:
        codebooks = pq_train(
            df, vec_col, m_subspaces=m_subspaces, n_centroids=n_centroids, seed=seed
        )
    q = np.asarray([float(x) for x in query_vec], dtype=np.float64)
    q = q / max(float(np.linalg.norm(q)), 1e-300)
    dsub = len(codebooks[0][0])
    tables = [
        np.asarray(b, dtype=np.float64) @ q[m * dsub : (m + 1) * dsub]
        for m, b in enumerate(codebooks)
    ]

    def score_udf():
        def compute(codes: pd.Series) -> pd.Series:
            if len(codes) == 0:
                return pd.Series([], dtype="float64")
            C = np.asarray([np.asarray(c, dtype=np.int64) for c in codes])
            s = np.zeros(len(C), dtype=np.float64)
            for m, t in enumerate(tables):
                s += t[C[:, m]]
            return pd.Series(s)

        return pandas_udf(compute, "double")

    encoded = (
        df if code_col is not None else pq_encode(df, vec_col, codebooks)
    )
    cc = code_col or "pq_code"
    return (
        encoded.select(
            F.col(id_col).alias("neighbor_id"),
            score_udf()(F.col(cc)).alias("adc_score"),
        )
        .orderBy(F.desc("adc_score"), F.asc("neighbor_id"))
        .limit(k)
    )


def ivf_pq_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query_vec: Sequence[float],
    k: int = 10,
    centroids: Optional[list[list[float]]] = None,
    codebooks: Optional[list[list[list[float]]]] = None,
    n_centroids: int = 16,
    n_probe: int = 4,
    m_subspaces: int = 8,
    pq_centroids: int = 256,
    seed: int = 42,
) -> DataFrame:
    """IVF-PQ: the production ANN shape (the faiss IVFPQ recipe) —
    coarse-quantize to prune ~(1 − n_probe/n_centroids) of the corpus at
    the partition/file level, then rank ONLY the probed buckets by the
    compressed PQ-ADC scan. With assignments and codes persisted
    (``ivf_assign`` + ``pq_encode``, write partitioned by bucket), a
    query touches n_probe file groups and reads 8-16 B per candidate
    vector — the scan shape that serves top-k out of 10^10 vectors."""
    if centroids is None or codebooks is None:
        # the coarse quantizer and the PQ codebooks train on ONE shared
        # bounded sample scan (r14, guide §2.4 — this replaces the two
        # overlapped scans: one job beats two concurrent ones); each
        # fit applies its own seeded trim/normalization, so the models
        # are byte-identical to the former independent trainings
        X = collect_training_sample(df, vec_col)
        if centroids is None:
            centroids = _fit_ivf_centroids(X, n_centroids=n_centroids, seed=seed)
        if codebooks is None:
            codebooks = _fit_pq_books(
                X, m_subspaces=m_subspaces, n_centroids=pq_centroids, seed=seed
            )
    q = [float(x) for x in query_vec]
    dists = [
        (sum((a - b) * (a - b) for a, b in zip(q, c)), i)
        for i, c in enumerate(centroids)
    ]
    probes = [i for _, i in sorted(dists)[:n_probe]]
    assigned = ivf_assign(df, vec_col, centroids).where(
        F.col("ivf_bucket").isin(probes)
    )
    return pq_topk(
        assigned, vec_col, id_col, q, k=k, codebooks=codebooks
    )


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    group_col: str,
    k: int = 10,
) -> DataFrame:
    """Hard-negative mining for contrastive / embedding-model training:
    for every query row, the ``k`` corpus rows MOST similar by cosine
    whose ``group_col`` DIFFERS from the query's — the near-miss
    negatives that sharpen a retriever far more than random negatives
    (the DPR / contrastive-learning recipe).

    Returns ``query_id | neighbor_id | neighbor_group | cosine | rank``
    (cosine the raw fold-order-stable double — bit-identical to the
    sequential DuckDB fold, so no rounding is needed or wanted; rank
    1..k by cosine desc / neighbor_id asc).

    Scale shape: ``queries`` is the SMALL side (a training batch, not
    the corpus) and is broadcast — the corpus streams through one scan
    against all queries at once (BroadcastNestedLoopJoin on the
    group-differs predicate); per-query top-k reduces via a rank window
    whose ``rank <= k`` Spark executes as WindowGroupLimit, so each map
    task ships at most k rows per query to the final exchange. Corpus
    rows shuffled: ≤ k × |queries| × partitions, never O(|corpus|).
    For query sets too large to broadcast, run the persisted-index path
    instead (``operators/ann_index.ann_index_topk_batch`` with an
    over-fetch, then anti-filter same-group rows and re-rank — index
    retrieval is approximate, so over-fetch ≥ 2-3× k).

    Cosine uses the expression fold (``cosine_sim``) — deterministic
    left-to-right sum order, so doubles hash-match DuckDB's sequential
    ``list_dot_product`` oracle exactly.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    from pyspark.sql import Window

    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("_qv"),
        F.col(group_col).alias("_qg"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("_cv"),
        F.col(group_col).alias("neighbor_group"),
    )
    joined = c.join(
        F.broadcast(q),
        # null-group rows can never be negatives for anyone (their
        # group is unknown) and null-group queries mine nothing
        (F.col("_qg") != F.col("neighbor_group"))
        & (F.col("query_id") != F.col("neighbor_id")),
    )
    scored = joined.select(
        "query_id",
        "neighbor_id",
        "neighbor_group",
        cosine_sim(F.col("_cv"), F.col("_qv")).alias("_cos"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("_cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "neighbor_group",
            F.col("_cos").alias("cosine"),
            F.col("rank").cast("int").alias("rank"),
        )
    )
