"""Embedding similarity search (north-star extension; SURVEY.md §7
Phase 5c).

- Brute-force cosine top-k: the correctness baseline. The dot product
  is ``aggregate(zip_with(a, b, *), +)`` — built-in higher-order
  functions, JVM-side, no UDF. Queries are broadcast so the big side
  never shuffles.
- LSH-bucketed variant: random-hyperplane signs -> bucket id; only
  in-bucket pairs are compared (the 100 TB path: shuffle on bucket id
  instead of an all-pairs cross join). Hyperplane i's component j is
  the deterministic pseudo-random ``sin(i * 1000 + j)`` so engine and
  oracle derive identical planes without an RNG.
- Cosine near-dup pairs: LSH-blocked pairwise cosine above a
  threshold — embedding-space analogue of minhash dedup.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

N_HYPERPLANES = 8


def dot_expr(a: Column, b: Column) -> Column:
    """Dot product of two array<numeric> columns (JVM higher-order fns)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm_expr(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v)
    )


def cosine_expr(a: Column, b: Column) -> Column:
    # try_divide: zero-norm vectors have no defined cosine -> NULL
    # (ANSI mode would raise on /0; NULL matches _cosine_pudf's mask
    # and desc-sorts last, so top-k never surfaces them)
    return F.try_divide(dot_expr(a, b), norm_expr(a) * norm_expr(b))


def _as_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def normalize_expr(col: Column) -> Column:
    """L2-normalize an array<numeric> column (JVM higher-order fns).
    Zero-norm vectors come back NULL-elementwise (0/0), matching the
    cosine operators' treat-as-undefined posture."""
    n = norm_expr(col)
    return F.transform(col, lambda x: F.try_divide(x.cast("double"), n))


# ---------------------------------------------------------------------------
# Vectorized (Arrow + numpy) kernels — the hot-path implementations.
# Spark's higher-order-function lambdas evaluate interpreted per array
# element; for wide embeddings a batched numpy matmul is 10-100x
# faster. Arrow ships the array columns zero-copy-ish into pandas.
# ---------------------------------------------------------------------------
def _cosine_pudf(a: Column, b: Column) -> Column:
    """Batched cosine kernel (created lazily — pandas_udf needs an
    active session to parse its return type)."""

    @pandas_udf("double")
    def cos(x: pd.Series, y: pd.Series) -> pd.Series:
        A = np.stack(x.to_numpy()).astype(np.float64)
        B = np.stack(y.to_numpy()).astype(np.float64)
        num = np.einsum("ij,ij->i", A, B)
        den = np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1)
        # zero-norm -> NULL, matching the JVM divide-by-zero semantics;
        # emitting NaN instead would SORT FIRST under desc (Spark treats
        # NaN as greater than every double) and poison top-k/thresholds
        with np.errstate(divide="ignore", invalid="ignore"):
            vals = num / den
        return pd.Series(vals, dtype="Float64").mask(den <= 0, pd.NA)

    return cos(a, b)


def _planes(dim: int, n_planes: int = N_HYPERPLANES) -> np.ndarray:
    return np.array(
        [[math.sin(p * 1000 + j) for j in range(dim)] for p in range(n_planes)]
    )


def make_lsh_bucket_pudf(dim: int, n_planes: int = N_HYPERPLANES):
    """Vectorized bucket assignment: V @ P.T signs -> packed bits."""
    planes_t = _planes(dim, n_planes).T  # (dim, n_planes)
    powers = (1 << np.arange(n_planes)).astype(np.int64)

    @pandas_udf("int")
    def bucket(v: pd.Series) -> pd.Series:
        V = np.stack(v.to_numpy()).astype(np.float64)
        bits = (V @ planes_t) > 0
        return pd.Series((bits @ powers).astype(np.int32))

    return bucket


def knn_bruteforce(
    df: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query row.

    Scale shape: the (small, parameter-sized) query set becomes a numpy
    matrix shipped in the ``mapInPandas`` closure; the corpus is
    scanned ONCE, never shuffled — each Arrow batch is one matmul
    against all queries, and only the per-batch top-k survivors (k
    rows x n_queries per batch) leave the executors. A final window
    reduces partial top-ks to the global top-k. NULL / zero-norm
    vectors have no defined cosine and are excluded.

    Output: (query_id, neighbor_id, cosine rounded 4, rank).
    """
    w = Window.partitionBy("query_id").orderBy(F.desc("__cos"), F.asc("neighbor_id"))

    from pyspark.sql import types as T

    id_type = df.schema[id_col].dataType
    schema = T.StructType(
        [
            T.StructField("query_id", id_type),
            T.StructField("neighbor_id", id_type),
            T.StructField("__cos", T.DoubleType()),
        ]
    )
    valid = df.filter(F.col(vec_col).isNotNull()).select(F.col(id_col), F.col(vec_col))
    q_rows = (
        queries.filter(F.col(vec_col).isNotNull())
        .select(F.col(id_col), F.col(vec_col))
        .collect()
    )
    if not q_rows:
        empty = valid.sparkSession.createDataFrame([], schema)
        return empty.select(
            "query_id",
            "neighbor_id",
            F.col("__cos").alias("cosine"),
            F.lit(1).alias("rank"),
        )
    q_ids = [r[0] for r in q_rows]
    Q = np.stack([np.asarray(r[1], dtype=np.float64) for r in q_rows])
    Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)

    def score_batches(it):
        for pdf in it:
            V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            norms = np.linalg.norm(V, axis=1)
            ok = norms > 0
            if not ok.all():
                V, norms, pdf = V[ok], norms[ok], pdf.iloc[ok]
            if len(pdf) == 0:
                continue
            Vn = V / norms[:, None]
            S = Vn @ Qn.T  # (batch, n_queries)
            nids = pdf[id_col].to_numpy()
            top = min(k + 1, len(nids))  # +1: a query may see itself
            qcol, ncol, ccol = [], [], []
            for j, qid in enumerate(q_ids):
                col = S[:, j]
                # deterministic per-batch top-k under (cos desc,
                # id asc): the union of per-batch top-ks under a
                # total order contains the global top-k, so the
                # final window reduction is exact — argpartition
                # alone would drop boundary ties arbitrarily
                order = np.lexsort((nids, -col))[:top]
                qcol.extend([qid] * len(order))
                ncol.append(nids[order])
                ccol.append(col[order])
            yield pd.DataFrame(
                {
                    "query_id": qcol,
                    "neighbor_id": np.concatenate(ncol),
                    "__cos": np.concatenate(ccol),
                }
            )

    scored = valid.mapInPandas(score_batches, schema)
    scored = scored.filter(F.col("query_id") != F.col("neighbor_id"))

    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("__cos", 4).alias("cosine"), "rank")
    )


def lsh_bucket_expr(vec_col: Column, dim: int, n_planes: int = N_HYPERPLANES) -> Column:
    """Random-hyperplane LSH bucket id (0..2^n_planes-1) with
    deterministic sin-derived planes: plane p, component j =
    sin(p * 1000 + j)."""
    v = _as_double(vec_col)
    bucket = F.lit(0)
    for p in range(n_planes):
        plane = F.array(*[F.sin(F.lit(float(p * 1000 + j))) for j in range(dim)])
        proj = dot_expr(v, plane)
        bucket = bucket + F.when(proj > 0, F.lit(1 << p)).otherwise(F.lit(0))
    return bucket.cast("int")


def lsh_buckets(df: DataFrame, id_col: str, vec_col: str, dim: int) -> DataFrame:
    """(id, bucket) assignment — the partitioning key for in-bucket ANN."""
    bucket = make_lsh_bucket_pudf(dim)(_as_double(F.col(vec_col)))
    return df.filter(F.col(vec_col).isNotNull()).select(F.col(id_col), bucket.alias("bucket"))


def _triangle_tasks(
    df: DataFrame, id_col: str, vec_col: str, dim: int, max_bucket_size: int
) -> DataFrame:
    """The bounded task frame shared by the in-bucket GEMM kernels
    (``cosine_dup_pairs``, ``knn_lsh``): triangle split for oversized
    buckets — nsplit = ceil(size/cap) sub-groups per bucket; each row
    (sub-group g) is replicated to the nsplit task cells of the
    upper-triangle grid that involve g — (i, g) for i < g and (g, j)
    for j >= g — so every unordered pair meets in exactly one
    (bucket, ti, tj) task and task memory is bounded at ~2·cap rows.
    Bucket sizes are a bucket-count-sized aggregate; AQE broadcasts
    the join. The base frame is persisted (tracked): the sizes
    aggregate AND the task fan-out both read it — without the persist
    the pandas bucket-assign UDF runs twice over every vector
    (measured +0.7s at sf1 for a 1.2s query); the frame is the narrow
    (id, v, bucket) projection, the same thing the pair shuffle
    carries anyway."""
    from .caching import track

    return _triangle_tasks_from_base(
        track(lsh_base_frame(df, id_col, vec_col, dim)), max_bucket_size
    )


def _triangle_tasks_from_base(base: DataFrame, max_bucket_size: int) -> DataFrame:
    """``_triangle_tasks`` over a caller-supplied ``(id, v, bucket)``
    frame — the grouping key need not be an LSH bucket (semantic-dedup
    passes k-means-style cluster assignments). ``base`` must already
    be persisted (tracked): the sizes aggregate AND the task fan-out
    both read it."""
    sizes = base.groupBy("bucket").agg(F.count(F.lit(1)).alias("__bn"))
    cap = max(int(max_bucket_size), 2)
    return (
        base.join(F.broadcast(sizes), on="bucket")
        .withColumn("__ns", F.ceil(F.col("__bn") / F.lit(cap)).cast("int"))
        .withColumn("g", F.pmod(F.xxhash64("id"), F.col("__ns")).cast("int"))
        .select(
            "bucket",
            "id",
            "v",
            "g",
            F.explode(
                F.expr(
                    "transform(sequence(0, __ns - 1), t -> "
                    "if(t < g, struct(t AS ti, g AS tj), "
                    "struct(g AS ti, t AS tj)))"
                )
            ).alias("__cell"),
        )
        .select("bucket", "id", "v", "g", "__cell.ti", "__cell.tj")
    )


def knn_lsh(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    k: int = 3,
    vectorized: bool = True,
    max_bucket_size: int = 100_000,
) -> DataFrame:
    """Approximate top-k neighbors within each LSH bucket: one shuffle
    on the bucket id, pairwise cosine only inside buckets. Neighbors
    with undefined cosine (zero-norm vectors) are excluded, and
    zero-norm queries return no rows.

    Output: (query_id, neighbor_id, cosine rounded 4, rank).

    The vectorized path reuses the ``cosine_dup_pairs`` triangle task
    grid and computes each cell's scores with one blocked GEMM, but
    emits only each query's IN-CELL top-k — so the exchange after the
    kernel carries ≤ k·cells candidate rows per query instead of the
    self-join's bucket² rows (each dragging BOTH vectors). A final
    query-keyed window merges cell partials into the global top-k.
    In-kernel ties are broken by ascending neighbor id (rows sorted by
    id + stable argsort), the same total order as the merge window, so
    the per-cell truncation never drops a pair the global rank needed.
    For the id tie-break to see a tie, bit-identical neighbor vectors
    must receive bit-identical scores — which a raw BLAS GEMM does not
    guarantee: the tiled microkernel accumulates edge columns in a
    different FMA order, so an exact-duplicate pair can score one ulp
    apart depending on COLUMN POSITION (observed: a duplicate pair
    straddling a top-k boundary picked the duplicate with the higher
    id, diverging from the join form). The kernel therefore
    canonicalizes duplicate neighbor COLUMNS: a cheap exact pre-check
    (sorted per-row float checksums — bit-equal rows always produce
    bit-equal sums, so no duplicate can slip past) gates a slow path
    that overwrites each duplicate column's scores with its first
    occurrence's computed bits. Duplicate-free cells (the norm) run
    the original pure-BLAS path at zero extra cost — the bit-exact
    alternatives measured badly at sf0.1: a sequential per-dimension
    fold ~7x slower, an ``np.unique(axis=0)`` + column-gather
    canonicalization ~2.7x. Mathematical ties between NON-identical
    vectors can still wobble an ulp vs the SQL fold; that is
    measure-zero for real embeddings and truncation stays
    self-consistent either way (the merge window orders by the same
    emitted values).
    Oversized buckets split exactly as in ``cosine_dup_pairs``
    (``max_bucket_size``); the non-vectorized form keeps the join +
    window plan."""
    if not vectorized:
        bucket = lsh_bucket_expr(F.col(vec_col), dim)
        base = df.filter(F.col(vec_col).isNotNull()).select(
            F.col(id_col).alias("id"),
            _as_double(F.col(vec_col)).alias("v"),
            bucket.alias("bucket"),
        )
        a = base.select(F.col("id").alias("query_id"), F.col("v").alias("qv"), "bucket")
        b = base.select(F.col("id").alias("neighbor_id"), F.col("v").alias("nv"), "bucket")
        cos = cosine_expr(F.col("qv"), F.col("nv"))
        scored = (
            a.join(b, on="bucket")
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .select("query_id", "neighbor_id", cos.alias("__cos"))
            .filter(F.col("__cos").isNotNull())
        )
        w = Window.partitionBy("query_id").orderBy(F.desc("__cos"), F.asc("neighbor_id"))
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", F.round("__cos", 4).alias("cosine"), "rank")
        )

    tasks = _triangle_tasks(df, id_col, vec_col, dim, max_bucket_size)
    id_type = df.schema[id_col].dataType.simpleString()

    def cell_topk(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"query_id": [], "neighbor_id": [], "__cos": []})
        if len(pdf) < 2:
            return empty
        pdf = pdf.sort_values("id")  # stable argsort ties -> ascending id
        ti, tj = int(pdf["ti"].iat[0]), int(pdf["tj"].iat[0])
        within = ti == tj
        if within:
            A = B = pdf
        else:
            A = pdf[pdf["g"] == ti]
            B = pdf[pdf["g"] == tj]
            if len(A) == 0 or len(B) == 0:
                return empty
        VA = np.stack(A["v"].to_numpy()).astype(np.float64)
        VB = VA if within else np.stack(B["v"].to_numpy()).astype(np.float64)
        ids_a = A["id"].to_numpy()
        ids_b = ids_a if within else B["id"].to_numpy()

        na = np.linalg.norm(VA, axis=1)
        nb = na if within else np.linalg.norm(VB, axis=1)

        def dup_rep(V):
            """first-occurrence representative per row, or None if
            provably duplicate-free. Bit-equal rows sum to bit-equal
            checksums (row-wise reduce order is fixed), so a cell
            whose sorted checksums have no adjacent equals cannot
            contain duplicates; on checksum collision, confirm with
            the exact (sorted) row comparison."""
            s = V.sum(axis=1)
            ss = np.sort(s)
            if not (ss[1:] == ss[:-1]).any():
                return None
            _, binv = np.unique(V, axis=0, return_inverse=True)
            first = np.full(binv.max() + 1, len(binv), dtype=np.int64)
            np.minimum.at(first, binv, np.arange(len(binv)))
            rep = first[binv]
            return rep if (rep != np.arange(len(binv))).any() else None

        q_out, n_out, c_out = [], [], []

        def emit(Vq, nq, idq, Vn, nn_, idn, exclude_diag: bool):
            blk = 1024
            kk = min(k, len(idn))
            rep = dup_rep(Vn)
            for s in range(0, len(Vq), blk):
                G = Vq[s : s + blk] @ Vn.T
                if rep is not None:
                    # bit-canonicalize duplicate columns (see docstring)
                    dups = rep != np.arange(len(rep))
                    G[:, dups] = G[:, rep[dups]]
                D = np.outer(nq[s : s + blk], nn_)
                with np.errstate(divide="ignore", invalid="ignore"):
                    C = np.where(D > 0, G / D, -np.inf)
                if exclude_diag:
                    rr = np.arange(s, min(s + blk, len(Vq)))
                    C[rr - s, rr] = -np.inf
                order = np.argsort(-C, axis=1, kind="stable")[:, :kk]
                rows = np.repeat(np.arange(C.shape[0]), order.shape[1])
                cols = order.ravel()
                score = C[rows, cols]
                keep = np.isfinite(score)
                if keep.any():
                    q_out.append(idq[rows[keep] + s])
                    n_out.append(idn[cols[keep]])
                    c_out.append(score[keep])

        emit(VA, na, ids_a, VB, nb, ids_b, exclude_diag=within)
        if not within:
            emit(VB, nb, ids_b, VA, na, ids_a, exclude_diag=False)
        if not q_out:
            return empty
        return pd.DataFrame(
            {
                "query_id": np.concatenate(q_out),
                "neighbor_id": np.concatenate(n_out),
                "__cos": np.concatenate(c_out),
            }
        )

    candidates = tasks.groupBy("bucket", "ti", "tj").applyInPandas(
        cell_topk, schema=f"query_id {id_type}, neighbor_id {id_type}, __cos double"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("__cos"), F.asc("neighbor_id"))
    return (
        candidates.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("__cos", 4).alias("cosine"), "rank")
    )


def cosine_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    min_cosine: float = 0.9,
    max_bucket_size: int = 100_000,
) -> DataFrame:
    """Embedding near-duplicate pairs above a cosine threshold,
    LSH-blocked (pairs only meet inside a bucket).

    Output: (id_a < id_b, cosine rounded 4).

    The vectorized path groups by bucket and computes each bucket's
    pairwise cosines with ONE blocked GEMM inside ``applyInPandas``:
    the only shuffle is the narrow (id, v, bucket) base frame — the
    self-join formulation instead materialized every candidate pair
    row carrying BOTH vectors (at sf1: ~19.5M join rows x two 64-dim
    arrays ≈ 20 GB through the exchange for a 264k-pair answer).
    The kernel pre-filters with a 1e-4 slack and the exact
    ``round(cos, 4) >= min_cosine`` threshold stays JVM-side. Results
    are verified identical to the join formulation on the test data
    (equivalence tests at three thresholds) — but the GEMM computes
    the cosine in a different floating-point order than the JVM
    per-pair expression, so a pair sitting EXACTLY on a round(_, 4)
    half-ulp boundary could in principle flip inclusion across BLAS
    builds; the 1e-4 slack makes the prefilter itself safe either way.

    Degenerate buckets (heavy boilerplate corpora hashing to one LSH
    bucket) would otherwise hand ONE task an O(bucket²) GEMM and the
    whole bucket's vector matrix: any bucket larger than
    ``max_bucket_size`` is therefore triangle-split — rows are hashed
    into ``g = ceil(n/cap)`` sub-groups and replicated to the
    upper-triangle task grid (gi <= gj), so every pair still meets in
    EXACTLY one task (same-group pairs in the (g, g) task, cross-group
    pairs in the (gi, gj) task) and each task holds at most two
    sub-groups of <= cap rows. Exact — no pairs are lost — at the cost
    of replicating oversized buckets' rows g-fold; normal buckets pay
    the insurance premium only: one tracked persist of the narrow
    (id, v, bucket) frame plus a bucket-count aggregate and its
    broadcast (measured ~0.45s on a 0.8s sf1 query — linear work with
    small constants that amortizes as the corpus grows, vs the
    unbounded single-task GEMM it prevents). Raising
    ``N_HYPERPLANES`` (more, smaller buckets) remains the cheaper
    lever when the corpus allows re-bucketing."""
    from .caching import track

    base = track(lsh_base_frame(df, id_col, vec_col, dim))
    return cosine_pairs_in_groups(
        base,
        df.schema[id_col].dataType.simpleString(),
        min_cosine,
        max_bucket_size,
    )


def cosine_pairs_in_groups(
    base: DataFrame,
    id_type: str,
    min_cosine: float,
    max_bucket_size: int = 100_000,
) -> DataFrame:
    """All unordered pairs with ``round(cosine, 4) >= min_cosine``
    whose rows share a ``bucket`` value in a caller-supplied
    ``(id, v, bucket)`` frame — the GEMM pair kernel of
    ``cosine_dup_pairs`` factored over any grouping (LSH buckets,
    k-means-style cluster assignments for semantic dedup, ...).
    ``base`` must already be persisted (tracked by the caller): the
    triangle task grid reads it twice. Oversized groups are
    triangle-split exactly as documented on ``cosine_dup_pairs``."""
    tasks = _triangle_tasks_from_base(base, max_bucket_size)
    slack = min_cosine - 1e-4

    def bucket_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"id_a": [], "id_b": [], "__cos": []})
        if len(pdf) < 2:
            return empty
        ti, tj = int(pdf["ti"].iat[0]), int(pdf["tj"].iat[0])
        within = ti == tj
        if within:
            A = B = pdf
        else:
            A = pdf[pdf["g"] == ti]
            B = pdf[pdf["g"] == tj]
            if len(A) == 0 or len(B) == 0:
                return empty
        VA = np.stack(A["v"].to_numpy()).astype(np.float64)
        VB = VA if within else np.stack(B["v"].to_numpy()).astype(np.float64)
        ids_a = A["id"].to_numpy()
        ids_b = ids_a if within else B["id"].to_numpy()
        na = np.linalg.norm(VA, axis=1)
        nb = na if within else np.linalg.norm(VB, axis=1)
        a_out, b_out, c_out = [], [], []
        blk = 1024
        for s in range(0, len(VA), blk):
            G = VA[s : s + blk] @ VB.T
            D = np.outer(na[s : s + blk], nb)
            with np.errstate(divide="ignore", invalid="ignore"):
                C = G / D
            mask = (D > 0) & (C >= slack)
            ii, jj = np.nonzero(mask)
            if within:
                keep = jj > (ii + s)  # each unordered pair once
                ii, jj = ii[keep], jj[keep]
            if len(ii):
                ia, ib = ids_a[ii + s], ids_b[jj]
                lo, hi = np.minimum(ia, ib), np.maximum(ia, ib)
                a_out.append(lo)
                b_out.append(hi)
                c_out.append(C[ii, jj])
        if not a_out:
            return empty
        return pd.DataFrame(
            {
                "id_a": np.concatenate(a_out),
                "id_b": np.concatenate(b_out),
                "__cos": np.concatenate(c_out),
            }
        )

    survivors = tasks.groupBy("bucket", "ti", "tj").applyInPandas(
        bucket_pairs, schema=f"id_a {id_type}, id_b {id_type}, __cos double"
    )
    return (
        survivors.select("id_a", "id_b", F.round("__cos", 4).alias("cosine"))
        .filter(F.col("cosine") >= min_cosine)
    )


def lsh_base_frame(df: DataFrame, id_col: str, vec_col: str, dim: int) -> DataFrame:
    """The ``(id, v, bucket)`` frame shared by the pair operators and
    the persistent index: double-cast vector + random-hyperplane LSH
    bucket (vectorized assignment)."""
    return df.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("id"),
        _as_double(F.col(vec_col)).alias("v"),
        make_lsh_bucket_pudf(dim)(_as_double(F.col(vec_col))).alias("bucket"),
    )


def build_cosine_lsh_index(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    path: str,
    mode: str = "overwrite",
) -> None:
    """Materialize the LSH-bucketed vector frame as a parquet dedup
    index, partitioned by bucket — the embedding twin of
    ``build_minhash_index``. A new batch's dedup join filters on the
    batch's bucket values, so partition pruning bounds the index scan
    to the batch's bucket NEIGHBORHOODS, not the corpus;
    ``mode="append"`` is the per-batch update (append-after-dedup ==
    rebuild, property-tested)."""
    lsh_base_frame(df, id_col, vec_col, dim).write.mode(mode).partitionBy(
        "bucket"
    ).parquet(path)


def cosine_incremental_pairs(
    indexed: DataFrame,
    new_df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    min_cosine: float = 0.9,
    max_bucket_size: int = 100_000,
) -> DataFrame:
    """Embedding near-dup pairs for a NEW batch against an indexed
    corpus: new-vs-indexed and new-vs-new, never indexed-vs-indexed —
    the embedding twin of ``minhash_incremental_pairs``. ``indexed``
    is the stored ``(id, bucket, v)`` frame (``build_cosine_lsh_index``
    output via ``spark.read.parquet``, or ``lsh_base_frame``); ids
    must be disjoint from the batch's. Output schema/semantics match
    ``cosine_dup_pairs`` and equal its full-rebuild output restricted
    to new-involving pairs.

    Plan: the index is first bucket-pruned to the batch's buckets (a
    broadcast semi-join; on the partitioned parquet index this is
    partition pruning — IO ∝ the batch's bucket neighborhoods). Pair
    work then runs on a BIPARTITE task grid: per bucket, the candidate
    side (index∪batch, sub-grouped by ``ceil(n/cap)``) crosses the
    batch side (likewise sub-grouped), each (ga, gb) cell one
    applyInPandas GEMM task of <= 2·cap rows — an old-new pair meets
    in exactly one cell; a new-new pair meets in two (x as candidate /
    y as batch, and mirrored) and the ``id_a < id_b`` keep rule
    retains exactly one. Degenerate buckets stay bounded, identical to
    the ``cosine_dup_pairs`` triangle guarantee."""
    from .caching import track

    new_base = track(lsh_base_frame(new_df, id_col, vec_col, dim))
    new_buckets = new_base.select("bucket").distinct()
    cand = (
        indexed.select("id", "v", "bucket")
        .join(F.broadcast(new_buckets), on="bucket", how="left_semi")
        .withColumn("__new", F.lit(False))
    )
    allc = track(cand.unionByName(new_base.withColumn("__new", F.lit(True))))
    id_type = new_df.schema[id_col].dataType.simpleString()
    slack = min_cosine - 1e-4
    cap = max(int(max_bucket_size), 2)

    sizes = allc.groupBy("bucket").agg(
        F.ceil(F.count(F.lit(1)) / cap).cast("int").alias("__na"),
        F.ceil(F.count_if("__new") / cap).cast("int").alias("__nb"),
    )
    withn = allc.join(F.broadcast(sizes), on="bucket")
    a_rows = withn.select(
        "bucket", "id", "v", "__new",
        F.lit("A").alias("__side"),
        F.pmod(F.xxhash64("id"), F.col("__na")).cast("int").alias("ti"),
        F.explode(F.expr("sequence(0, __nb - 1)")).alias("tj"),
    )
    b_rows = withn.filter("__new").select(
        "bucket", "id", "v", "__new",
        F.lit("B").alias("__side"),
        F.explode(F.expr("sequence(0, __na - 1)")).alias("ti"),
        F.pmod(F.xxhash64("id"), F.col("__nb")).cast("int").alias("tj"),
    )
    tasks = a_rows.unionByName(b_rows.select(*a_rows.columns))

    def cell_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"id_a": [], "id_b": [], "__cos": []})
        A = pdf[pdf["__side"] == "A"]
        B = pdf[pdf["__side"] == "B"]
        if len(A) == 0 or len(B) == 0:
            return empty
        VA = np.stack(A["v"].to_numpy()).astype(np.float64)
        VB = np.stack(B["v"].to_numpy()).astype(np.float64)
        ids_a, ids_b = A["id"].to_numpy(), B["id"].to_numpy()
        new_a = A["__new"].to_numpy().astype(bool)
        na_, nb_ = np.linalg.norm(VA, axis=1), np.linalg.norm(VB, axis=1)
        a_out, b_out, c_out = [], [], []
        blk = 1024
        for s in range(0, len(VA), blk):
            G = VA[s : s + blk] @ VB.T
            D = np.outer(na_[s : s + blk], nb_)
            with np.errstate(divide="ignore", invalid="ignore"):
                C = G / D
            mask = (D > 0) & (C >= slack)
            ii, jj = np.nonzero(mask)
            if len(ii) == 0:
                continue
            ia, ib = ids_a[ii + s], ids_b[jj]
            # old candidate: keep any order (the old id exists only on
            # the A side, so the pair meets once); new candidate: this
            # is a new-new pair that also meets mirrored — keep the
            # id_a < id_b direction only
            keep = np.where(new_a[ii + s], ia < ib, ia != ib)
            if not keep.any():
                continue
            ia, ib, cc = ia[keep], ib[keep], C[ii[keep], jj[keep]]
            lo, hi = np.minimum(ia, ib), np.maximum(ia, ib)
            a_out.append(lo)
            b_out.append(hi)
            c_out.append(cc)
        if not a_out:
            return empty
        return pd.DataFrame(
            {
                "id_a": np.concatenate(a_out),
                "id_b": np.concatenate(b_out),
                "__cos": np.concatenate(c_out),
            }
        )

    survivors = tasks.groupBy("bucket", "ti", "tj").applyInPandas(
        cell_pairs, schema=f"id_a {id_type}, id_b {id_type}, __cos double"
    )
    return (
        survivors.select("id_a", "id_b", F.round("__cos", 4).alias("cosine"))
        .filter(F.col("cosine") >= min_cosine)
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the scale path past LSH. A KMeans coarse
# quantizer partitions the corpus into n_clusters cells; a query probes
# only its n_probe nearest cells, so the scored fraction is
# ~n_probe/n_clusters of the corpus. With the index materialized as
# cluster-partitioned parquet, non-probed cells are skipped at SCAN
# time (partition pruning), which is the 100 TB win: IO scales with
# n_probe, not corpus size.
# ---------------------------------------------------------------------------
def collect_vector_sample(
    df: DataFrame, vec_col: str, max_rows: int, what: str
) -> np.ndarray:
    """Bounded, layout-independent driver-side training sample for
    quantizer fits. Shared by the IVF coarse quantizer and the PQ
    sub-quantizers.

    The sample is the ``max_rows`` HASH-SMALLEST vectors (xxhash64 of
    the vector content; a second, salted xxhash64 breaks 64-bit
    collisions between distinct vectors — a 2^-128 event; equal
    vectors are interchangeable for a quantizer fit), so it is a pure
    function of the data — not of partition/file-listing order — and
    hash order is pseudo-random, so a corpus whose physical layout
    correlates with content (time-/source-sorted parquet at 100 TB)
    cannot bias the centroid fit toward its leading partitions. A bare
    ``limit(max_rows)`` would take exactly those leading partitions.
    (The tiebreak used to be a string cast of the vector — a per-row
    stringification of the whole array inside every heap comparison;
    the salted hash is a few integer ops.)

    Scale: ``orderBy(hash).limit(k)`` compiles to
    TakeOrderedAndProject — each partition keeps a k-row heap and the
    driver merges k-sized heads — so the cost stays parameter-sized at
    ANY corpus scale; nothing shuffles."""
    v = _as_double(F.col(vec_col))
    rows = (
        df.filter(F.col(vec_col).isNotNull())
        .select(
            v.alias("__v"),
            F.xxhash64(v).alias("__h"),
            F.xxhash64(v, F.lit(1)).alias("__h2"),
        )
        .orderBy("__h", "__h2")
        .limit(max_rows)
        .select("__v")
        .collect()
    )
    if not rows:
        raise ValueError(f"cannot fit {what}: corpus has no non-null embedding vectors")
    return np.stack([np.asarray(r[0], dtype=np.float64) for r in rows])


def fit_ivf_centroids(
    df: DataFrame,
    vec_col: str,
    n_clusters: int = 16,
    seed: int = 42,
    max_iter: int = 10,
    max_train_rows: int = 4096,
) -> np.ndarray:
    """Coarse quantizer: kmeans++-seeded Lloyd iterations in numpy over
    a bounded sample. This is the standard IVF recipe: train the
    quantizer tiny on the driver, assign distributed — a distributed
    KMeans here would cost max_iter full-corpus passes to learn 16
    centroids. Returns the (n_clusters, dim) centroid matrix."""
    X = collect_vector_sample(df, vec_col, max_train_rows, "IVF quantizer")
    return kmeans_numpy(X, n_clusters, seed, max_iter)


def kmeans_numpy(X: np.ndarray, n_clusters: int, seed: int = 42, max_iter: int = 10) -> np.ndarray:
    """Seeded kmeans++ + Lloyd on an in-memory sample (shared by the
    IVF coarse quantizer and the PQ sub-quantizers in operators/pq.py).
    Deterministic for a given (X, seed)."""
    k = min(n_clusters, len(X))
    rng = np.random.default_rng(seed)
    # kmeans++ init, incremental: keep the running min distance to the
    # chosen set and score only the ONE new center per step — O(k*n)
    # instead of the textbook-literal O(k^2*n) full-matrix recompute
    # (at PQ's k=256 on a 4096-row sample the full recompute was 13s
    # of driver time; this form is the same distribution, ~100x less
    # arithmetic)
    idx = [int(rng.integers(len(X)))]
    x2 = (X * X).sum(axis=1)
    c = X[idx[0]]
    d2 = np.maximum(x2 - 2.0 * (X @ c) + float(c @ c), 0.0)
    for _ in range(1, k):
        total = d2.sum()
        p = d2 / total if total > 0 else None
        j = int(rng.choice(len(X), p=p))
        idx.append(j)
        c = X[j]
        d2 = np.minimum(d2, np.maximum(x2 - 2.0 * (X @ c) + float(c @ c), 0.0))
    C = X[idx].copy()
    for _ in range(max_iter):
        d = x2[:, None] - 2.0 * (X @ C.T) + (C * C).sum(axis=1)[None, :]
        assign = np.argmin(d, axis=1)
        # vectorized mean update: one bincount per dimension instead of
        # a k-long Python loop of boolean-mask scans (at PQ's k=256 the
        # masked form was ~3.4s of the 8-subspace fit; this is ~0.1s)
        counts = np.bincount(assign, minlength=k).astype(np.float64)
        sums = np.stack(
            [np.bincount(assign, weights=X[:, t], minlength=k) for t in range(X.shape[1])],
            axis=1,
        )
        nz = counts > 0  # empty cell keeps its old centroid
        C[nz] = sums[nz] / counts[nz, None]
    return C


def make_cluster_assign_pudf(centers: np.ndarray):
    """Vectorized nearest-centroid assignment (L2): one matmul per
    Arrow batch against the broadcast centroid matrix."""
    C = np.asarray(centers, dtype=np.float64)
    c2 = (C * C).sum(axis=1)

    @pandas_udf("int")
    def assign(v: pd.Series) -> pd.Series:
        V = np.stack(v.to_numpy()).astype(np.float64)
        d = c2[None, :] - 2.0 * (V @ C.T)  # ||v-c||^2 up to +||v||^2
        return pd.Series(np.argmin(d, axis=1).astype(np.int32))

    return assign


def _probe_pairs_df(
    spark, q_rows, centers: np.ndarray, n_probe: int, id_type
):
    """(query_id, qv, cluster) rows: each query x its n_probe nearest
    cells, computed in numpy on the driver (queries are param-sized)."""
    from pyspark.sql import types as T

    C = np.asarray(centers, dtype=np.float64)
    c2 = (C * C).sum(axis=1)
    Q = np.stack([np.asarray(r[1], dtype=np.float64) for r in q_rows])
    d = c2[None, :] - 2.0 * (Q @ C.T)
    probes = np.argsort(d, axis=1)[:, : min(n_probe, len(C))]
    rows = [
        (r[0], [float(x) for x in Q[i]], int(c))
        for i, r in enumerate(q_rows)
        for c in probes[i]
    ]
    schema = T.StructType(
        [
            T.StructField("query_id", id_type),
            T.StructField("qv", T.ArrayType(T.DoubleType())),
            T.StructField("cluster", T.IntegerType()),
        ]
    )
    return spark.createDataFrame(rows, schema)


def _ivf_topk(corpus: DataFrame, probe_df: DataFrame, k: int) -> DataFrame:
    """Score probed (query, cell) pairs and reduce to per-query top-k."""
    scored = (
        corpus.join(F.broadcast(probe_df), on="cluster")
        .filter(F.col("query_id") != F.col("id"))
        .select(
            "query_id",
            F.col("id").alias("neighbor_id"),
            _cosine_pudf(F.col("qv"), F.col("v")).alias("__cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("__cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("__cos", 4).alias("cosine"), "rank")
    )


def knn_ivf(
    df: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    n_clusters: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    centers: np.ndarray | None = None,
) -> DataFrame:
    """IVF approximate top-k cosine neighbors.

    One ``mapInPandas`` pass over the corpus: each Arrow batch is
    cluster-assigned by a single matmul, then only rows whose cell
    some query probes are cosine-scored against exactly those queries
    (the IVF win: scoring cost ~ n_probe/n_clusters of the corpus).
    Only per-batch top-k survivors leave the executors; a final window
    reduces them — no shuffle of the corpus, no join. With
    ``n_probe == n_clusters`` this degrades gracefully to exact
    brute-force (every pair scored), which is the correctness test.
    For IO-side pruning as well, see ``build_ivf_index``.

    Output: (query_id, neighbor_id, cosine rounded 4, rank).
    """
    from pyspark.sql import types as T

    id_type = df.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("query_id", id_type),
            T.StructField("neighbor_id", id_type),
            T.StructField("__cos", T.DoubleType()),
        ]
    )
    valid = df.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("v")
    )
    if centers is None:
        centers = fit_ivf_centroids(df, vec_col, n_clusters, seed)
    q_rows = (
        queries.filter(F.col(vec_col).isNotNull())
        .select(F.col(id_col), _as_double(F.col(vec_col)))
        .collect()
    )
    if not q_rows:
        schema = T.StructType(
            [
                T.StructField("query_id", id_type),
                T.StructField("neighbor_id", id_type),
                T.StructField("cosine", T.DoubleType()),
                T.StructField("rank", T.IntegerType()),
            ]
        )
        return df.sparkSession.createDataFrame([], schema)

    C = np.asarray(centers, dtype=np.float64)
    c2 = (C * C).sum(axis=1)
    q_ids = [r[0] for r in q_rows]
    Q = np.stack([np.asarray(r[1], dtype=np.float64) for r in q_rows])
    Qn = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-300)
    d = c2[None, :] - 2.0 * (Q @ C.T)
    probes = np.argsort(d, axis=1)[:, : min(n_probe, len(C))]
    # cell -> indices of the queries probing it (param-sized closure)
    by_cell: dict[int, list[int]] = {}
    for qi, cells in enumerate(probes):
        for c in cells:
            by_cell.setdefault(int(c), []).append(qi)

    def score_batches(it):
        for pdf in it:
            V = np.stack(pdf["v"].to_numpy()).astype(np.float64)
            norms = np.linalg.norm(V, axis=1)
            ok = norms > 0
            if not ok.all():
                V, norms, pdf = V[ok], norms[ok], pdf.iloc[ok]
            if len(pdf) == 0:
                continue
            cluster = np.argmin(c2[None, :] - 2.0 * (V @ C.T), axis=1)
            nids = pdf["id"].to_numpy()
            Vn = V / norms[:, None]
            qcol, ncol, ccol = [], [], []
            for cell in np.unique(cluster):
                qidx = by_cell.get(int(cell))
                if not qidx:
                    continue
                mask = cluster == cell
                sub_ids = nids[mask]
                S = Vn[mask] @ Qn[qidx].T  # (cell rows, probing queries)
                top = min(k + 1, len(sub_ids))  # +1: a query may see itself
                for j, qi in enumerate(qidx):
                    col = S[:, j]
                    # deterministic per-batch top-k under (cos desc, id
                    # asc) — the union of per-batch/cell top-ks under a
                    # total order contains the global top-k
                    order = np.lexsort((sub_ids, -col))[:top]
                    qcol.extend([q_ids[qi]] * len(order))
                    ncol.append(sub_ids[order])
                    ccol.append(col[order])
            if not qcol:
                continue
            yield pd.DataFrame(
                {
                    "query_id": qcol,
                    "neighbor_id": np.concatenate(ncol),
                    "__cos": np.concatenate(ccol),
                }
            )

    scored = valid.mapInPandas(score_batches, out_schema).filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("__cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("__cos", 4).alias("cosine"), "rank")
    )


def build_ivf_index(
    df: DataFrame,
    path: str,
    id_col: str,
    vec_col: str,
    n_clusters: int = 16,
    seed: int = 42,
) -> np.ndarray:
    """Materialize the IVF index as CLUSTER-PARTITIONED parquet.

    At query time, non-probed cells are eliminated by partition
    pruning before any IO — the index read cost is
    O(n_probe / n_clusters * corpus), the property that makes IVF the
    100 TB similarity-search plan. Returns the centroid matrix (store
    it next to the index in a real deployment)."""
    centers = fit_ivf_centroids(df, vec_col, n_clusters, seed)
    corpus = (
        df.filter(F.col(vec_col).isNotNull())
        .select(F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("v"))
        .select("id", "v", make_cluster_assign_pudf(centers)(F.col("v")).alias("cluster"))
    )
    # epoch=0 is the base build; incremental refreshes land in their own
    # epoch partitions (see append_to_ivf_index) so replays are
    # idempotent; readers filter on cluster and ignore the epoch level
    corpus.withColumn("epoch", F.lit(0)).write.mode("overwrite").partitionBy(
        "epoch", "cluster"
    ).parquet(path)
    return centers


def append_to_ivf_index(
    df: DataFrame,
    path: str,
    id_col: str,
    vec_col: str,
    centers: np.ndarray,
    epoch_id: int = 1,
) -> None:
    """Incrementally extend a materialized IVF index: assign ONLY the
    new vectors to the existing centroids and write them into their
    cluster partitions under ``epoch=epoch_id`` — no rebuild, no
    rescan of the indexed corpus, the refresh an hourly embedding
    ingest needs at 100 TB. Queries against the appended index are
    identical to a full rebuild with the same centroid matrix (pinned
    in tests).

    Replay idempotence: the write is a DYNAMIC partition overwrite of
    this epoch's partitions only — a foreachBatch checkpoint replay of
    epoch N rewrites the identical rows instead of appending
    duplicates (same discipline as streaming/corpus.py). Callers must
    give each batch a distinct ``epoch_id`` (foreachBatch's epoch id;
    the base build owns epoch 0) — reusing an id overwrites that
    epoch. Quantizer drift is the caller's trade-off: re-fit centroids
    (full rebuild) when the data distribution departs from what the
    quantizer was trained on. Id dedup is the upstream ingest's job
    (see streaming/corpus.py)."""
    new_rows = (
        df.filter(F.col(vec_col).isNotNull())
        .select(F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("v"))
        .select("id", "v", make_cluster_assign_pudf(centers)(F.col("v")).alias("cluster"))
    )
    (
        new_rows.withColumn("epoch", F.lit(int(epoch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("epoch", "cluster")
        .parquet(path)
    )


def knn_ivf_indexed(
    spark,
    path: str,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    centers: np.ndarray,
    k: int = 5,
    n_probe: int = 4,
) -> DataFrame:
    """Top-k over a materialized IVF index: the cluster ``isin`` filter
    on the partition column prunes non-probed cells at scan time
    (verify with ``.explain`` -> PartitionFilters)."""
    q_rows = (
        queries.filter(F.col(vec_col).isNotNull())
        .select(F.col(id_col), _as_double(F.col(vec_col)))
        .collect()
    )
    probe_df = _probe_pairs_df(spark, q_rows, centers, n_probe, queries.schema[id_col].dataType)
    probed_cells = [r["cluster"] for r in probe_df.select("cluster").distinct().collect()]
    corpus = spark.read.parquet(path).filter(F.col("cluster").isin(probed_cells))
    return _ivf_topk(corpus, probe_df, k)
