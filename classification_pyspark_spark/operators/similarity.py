"""Embedding similarity search (north-star extension; SURVEY.md §7
Phase 5c).

Two numpy kernels serve every searcher and pair operator here; the
Spark plans around them only route rows to them and merge results.

- **One top-k scan** (``_topk_scan``): a single ``mapInPandas`` pass
  over the corpus. Each Arrow batch's rows fall into cells; each cell
  yields ONE block of scores against the queries that probe it, and
  each query keeps its top rows under the total order (score desc,
  id asc) — so the union of per-batch survivors holds the global
  top-k and a query-keyed window ranks it exactly. The corpus is
  never shuffled or joined; queries are parameter-sized closure state.
  ``knn_bruteforce`` is the one-cell case (every query scores every
  row); ``knn_ivf`` cells each batch's rows by nearest centroid;
  ``knn_ivf_indexed`` reads the stored ``cluster`` of a
  partition-pruned index; ``pq.pq_topk`` scores by its ADC table
  gather. The query side's probe (nearest ``n_probe`` cells) is
  ``_probe_cells``.
- **One cell kernel** (``_cell_cosines``): the cosine block of two
  row sets by blocked GEMM, 1024 rows per block — the
  relation-partitioned kernel pattern of Tensor Relational Algebra
  (VLDB 2021, PAPERS.md). The LSH top-k (``knn_lsh``: per-row top-k
  both ways), the in-group pairs (``cosine_pairs_in_groups``: upper
  triangle at or above the threshold) and the incremental pairs
  (``cosine_incremental_pairs``: the new/old keep rule) differ only
  in what they select from its blocks.

Degenerate vectors follow one rule everywhere: a NULL or zero-norm
vector has no defined cosine, so it is never a neighbor and, as a
query, returns no rows; an empty query set returns an empty frame
with the output schema ``(query_id, neighbor_id, cosine, rank)``.

LSH buckets are random-hyperplane signs; hyperplane i's component j
is the deterministic pseudo-random ``sin(i * 1000 + j)``, so engine
and oracle derive identical planes without an RNG. The JVM
expressions (``cosine_expr``, ``lsh_bucket_expr``) stay as the
references the kernels are tested against.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

N_HYPERPLANES = 8
SEED = 42  # quantizer fits (IVF centroids, PQ codebooks)
KMEANS_ITERS = 10
TRAIN_ROWS = 4096  # quantizer training sample
BLOCK = 1024  # GEMM block rows of the cell kernel


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


def _matrix(vectors: pd.Series) -> np.ndarray:
    """(rows, dim) float64 matrix of an Arrow array column."""
    return np.stack(vectors.to_numpy()).astype(np.float64)


def _frame(cols: list[str], parts: list[tuple]) -> pd.DataFrame:
    """One frame of the per-block column tuples ``parts``."""
    if not parts:
        return pd.DataFrame({c: [] for c in cols})
    return pd.DataFrame({c: np.concatenate([p[i] for p in parts]) for i, c in enumerate(cols)})


def _cosine_pudf(a: Column, b: Column) -> Column:
    """Batched per-pair cosine kernel (created lazily — pandas_udf
    needs an active session to parse its return type)."""

    @pandas_udf("double")
    def cos(x: pd.Series, y: pd.Series) -> pd.Series:
        A, B = _matrix(x), _matrix(y)
        num = np.einsum("ij,ij->i", A, B)
        den = np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1)
        # zero-norm -> NULL, matching the JVM divide-by-zero semantics;
        # emitting NaN instead would SORT FIRST under desc (Spark treats
        # NaN as greater than every double) and poison top-k/thresholds
        with np.errstate(divide="ignore", invalid="ignore"):
            vals = num / den
        return pd.Series(vals, dtype="Float64").mask(den <= 0, pd.NA)

    return cos(a, b)


# ---------------------------------------------------------------------------
# The top-k scan.
# ---------------------------------------------------------------------------
def _query_rows(queries: DataFrame, id_col: str, vec_col: str) -> tuple[list, np.ndarray]:
    """Ids and float64 matrix of the non-NULL query vectors, collected
    to the driver (query sets are parameter-sized)."""
    rows = queries.filter(F.col(vec_col).isNotNull()).select(id_col, vec_col).collect()
    return [r[0] for r in rows], np.array([r[1] for r in rows], dtype=np.float64)


def _unit_queries(queries: DataFrame, id_col: str, vec_col: str):
    """``(ids, Q, Q / |Q|)`` of the queries with a defined cosine:
    zero-norm queries are dropped, so they return no rows."""
    ids, Q = _query_rows(queries, id_col, vec_col)
    if not ids:
        return ids, Q, Q
    norms = np.linalg.norm(Q, axis=1)
    ok = norms > 0
    return [i for i, o in zip(ids, ok) if o], Q[ok], Q[ok] / norms[ok, None]


def _topk_scan(
    rows: DataFrame, q_ids: list, probes, prep, k: int, exclude_self: bool = True
) -> DataFrame:
    """The one top-k scan: ``(query_id, neighbor_id, __s, rank)`` of
    each query's ``k`` best ``rows`` under (``__s`` desc, neighbor id
    asc).

    ``rows`` carries an ``id`` column; ``prep(pdf)`` maps one Arrow
    batch to ``(ids, cells, score)`` where ``score(sel, qidx)`` is the
    (selected rows x listed queries) score block. ``probes[q]`` lists
    the cells query ``q`` scores (``None``: every query probes cell
    0). Per batch and cell each query keeps its top ``k`` (``k + 1``
    with ``exclude_self``: a query may see itself) by ``lexsort`` — a
    deterministic cut under the same total order as the final window,
    so the window's top ``k`` over the union is exact; argpartition
    alone would drop boundary ties arbitrarily."""
    by_cell: dict[int, list[int]] = {}
    for qi, cells in enumerate([[0]] * len(q_ids) if probes is None else probes):
        for c in cells:
            by_cell.setdefault(int(c), []).append(qi)
    top = k + 1 if exclude_self else k

    def scan(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids, cells, score = prep(pdf)
            parts = []
            for cell in np.unique(cells):
                qidx = by_cell.get(int(cell))
                if not qidx:
                    continue
                sel = cells == cell
                S, sub = score(sel, qidx), ids[sel]
                for j, qi in enumerate(qidx):
                    order = np.lexsort((sub, -S[:, j]))[:top]
                    parts.append(([q_ids[qi]] * len(order), sub[order], S[order, j]))
            if parts:
                yield _frame(["query_id", "neighbor_id", "__s"], parts)

    t = rows.schema["id"].dataType.simpleString()
    scored = rows.mapInPandas(scan, f"query_id {t}, neighbor_id {t}, __s double")
    if exclude_self:
        scored = scored.filter(F.col("query_id") != F.col("neighbor_id"))
    w = Window.partitionBy("query_id").orderBy(F.desc("__s"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _cosine_topk(rows: DataFrame, q_ids: list, Qn: np.ndarray, probes, k: int, cell_of=None):
    """Cosine top-k of unit queries ``Qn`` over ``rows`` = ``(id, v[,
    cluster])`` through the scan: zero-norm rows are dropped per batch
    (never neighbors), and ``cell_of(pdf, V)`` cells the rest (default:
    one cell)."""
    if not q_ids:
        t = rows.schema["id"].dataType.simpleString()
        return rows.sparkSession.createDataFrame(
            [], f"query_id {t}, neighbor_id {t}, cosine double, rank int"
        )

    def prep(pdf):
        V = _matrix(pdf["v"])
        norms = np.linalg.norm(V, axis=1)
        ok = norms > 0
        if not ok.all():
            V, norms, pdf = V[ok], norms[ok], pdf[ok]
        Vn = V / norms[:, None]
        cells = np.zeros(len(V), np.int64) if cell_of is None else cell_of(pdf, V)
        return pdf["id"].to_numpy(), cells, lambda sel, qidx: Vn[sel] @ Qn[qidx].T

    ranked = _topk_scan(rows, q_ids, probes, prep, k)
    return ranked.select("query_id", "neighbor_id", F.round("__s", 4).alias("cosine"), "rank")


def _vector_rows(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    return df.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v")
    )


def knn_bruteforce(
    df: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query row: the scan with
    one cell, so each Arrow batch is one matmul against all queries and
    only k+1 rows per query and batch leave the executors.

    Output: (query_id, neighbor_id, cosine rounded 4, rank).
    """
    q_ids, _, Qn = _unit_queries(queries, id_col, vec_col)
    return _cosine_topk(_vector_rows(df, id_col, vec_col), q_ids, Qn, None, k)


# ---------------------------------------------------------------------------
# LSH buckets.
# ---------------------------------------------------------------------------
def _planes(dim: int) -> np.ndarray:
    return np.array(
        [[math.sin(p * 1000 + j) for j in range(dim)] for p in range(N_HYPERPLANES)]
    )


def make_lsh_bucket_pudf(dim: int):
    """Vectorized bucket assignment: V @ P.T signs -> packed bits."""
    planes_t = _planes(dim).T  # (dim, N_HYPERPLANES)
    powers = (1 << np.arange(N_HYPERPLANES)).astype(np.int64)

    @pandas_udf("int")
    def bucket(v: pd.Series) -> pd.Series:
        bits = (_matrix(v) @ planes_t) > 0
        return pd.Series((bits @ powers).astype(np.int32))

    return bucket


def lsh_bucket_expr(vec_col: Column, dim: int) -> Column:
    """Random-hyperplane LSH bucket id (0..2^N_HYPERPLANES-1) with
    deterministic sin-derived planes: plane p, component j =
    sin(p * 1000 + j)."""
    v = _as_double(vec_col)
    bucket = F.lit(0)
    for p in range(N_HYPERPLANES):
        plane = F.array(*[F.sin(F.lit(float(p * 1000 + j))) for j in range(dim)])
        proj = dot_expr(v, plane)
        bucket = bucket + F.when(proj > 0, F.lit(1 << p)).otherwise(F.lit(0))
    return bucket.cast("int")


def lsh_base_frame(df: DataFrame, id_col: str, vec_col: str, dim: int) -> DataFrame:
    """The ``(id, v, bucket)`` frame shared by the pair operators and
    the persistent index: double-cast vector + random-hyperplane LSH
    bucket (vectorized assignment)."""
    return df.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("id"),
        _as_double(F.col(vec_col)).alias("v"),
        make_lsh_bucket_pudf(dim)(_as_double(F.col(vec_col))).alias("bucket"),
    )


def lsh_buckets(df: DataFrame, id_col: str, vec_col: str, dim: int) -> DataFrame:
    """(id, bucket) assignment — the partitioning key for in-bucket ANN."""
    bucket = make_lsh_bucket_pudf(dim)(_as_double(F.col(vec_col)))
    return df.filter(F.col(vec_col).isNotNull()).select(F.col(id_col), bucket.alias("bucket"))


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


# ---------------------------------------------------------------------------
# The cell kernel and its task grids.
# ---------------------------------------------------------------------------
def _cell_cosines(VA: np.ndarray, VB: np.ndarray, rep: np.ndarray | None = None):
    """The one cell kernel: yields ``(s, C)`` with ``C[i, j]`` the
    cosine of rows ``s + i`` of ``VA`` and ``j`` of ``VB``, by one GEMM
    per ``BLOCK`` rows of ``VA``; ``-inf`` where either norm is 0.
    ``rep`` (``_dup_rep`` of ``VB``) gives each duplicate column its
    first occurrence's computed bits (see ``knn_lsh``)."""
    na = np.linalg.norm(VA, axis=1)
    nb = na if VB is VA else np.linalg.norm(VB, axis=1)
    dups = None if rep is None else rep != np.arange(len(rep))
    for s in range(0, len(VA), BLOCK):
        G = VA[s : s + BLOCK] @ VB.T
        if dups is not None:
            G[:, dups] = G[:, rep[dups]]
        D = np.outer(na[s : s + BLOCK], nb)
        with np.errstate(divide="ignore", invalid="ignore"):
            C = np.where(D > 0, G / D, -np.inf)
        yield s, C


def _dup_rep(V: np.ndarray) -> np.ndarray | None:
    """First-occurrence representative per row, or None if provably
    duplicate-free. Bit-equal rows sum to bit-equal checksums (row-wise
    reduce order is fixed), so a cell whose sorted checksums have no
    adjacent equals cannot contain duplicates; on checksum collision,
    confirm with the exact (sorted) row comparison."""
    ss = np.sort(V.sum(axis=1))
    if not (ss[1:] == ss[:-1]).any():
        return None
    _, binv = np.unique(V, axis=0, return_inverse=True)
    first = np.full(binv.max() + 1, len(binv), dtype=np.int64)
    np.minimum.at(first, binv, np.arange(len(binv)))
    rep = first[binv]
    return rep if (rep != np.arange(len(binv))).any() else None


def _triangle_tasks(base: DataFrame, max_bucket_size: int) -> DataFrame:
    """The bounded task frame of the in-group GEMM kernels over a
    persisted (tracked) ``(id, v, bucket)`` frame — the key need not be
    an LSH bucket (semantic dedup passes cluster assignments).
    Oversized buckets are triangle-split: nsplit = ceil(size/cap)
    sub-groups ``g`` per bucket; each row is replicated to the nsplit
    cells of the upper-triangle grid that involve its sub-group — (i,
    g) for i < g and (g, j) for j >= g — so every unordered pair meets
    in exactly one (bucket, ti, tj) task and task memory is bounded at
    ~2·cap rows. Bucket sizes are a bucket-count-sized aggregate; AQE
    broadcasts the join. The sizes aggregate AND the task fan-out both
    read ``base``: without its persist the pandas bucket-assign UDF
    runs twice over every vector (measured +0.7s at sf1 for a 1.2s
    query)."""
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


def _triangle_cell(pdf: pd.DataFrame):
    """``(ids_a, VA, ids_b, VB)`` of one triangle task: sub-group ``ti``
    against sub-group ``tj``, or a diagonal task's rows against
    themselves (``VB is VA``). None when no pair can meet."""
    if len(pdf) < 2:
        return None
    ti, tj = int(pdf["ti"].iat[0]), int(pdf["tj"].iat[0])
    A = pdf if ti == tj else pdf[pdf["g"] == ti]
    B = A if ti == tj else pdf[pdf["g"] == tj]
    if not len(A) or not len(B):
        return None
    VA = _matrix(A["v"])
    return A["id"].to_numpy(), VA, B["id"].to_numpy(), VA if B is A else _matrix(B["v"])


def _pairs_above(tasks: DataFrame, id_type: str, min_cosine: float, cell) -> DataFrame:
    """``(id_a < id_b, cosine rounded 4)`` of the pairs with
    ``round(cos, 4) >= min_cosine`` in every (bucket, ti, tj) task.
    ``cell(pdf)`` gives the task's ``(ids_a, VA, ids_b, VB, keep)`` or
    None; ``keep(i, j, ia, ib)`` masks which candidate pairs (row i of
    A, row j of B) to emit. The kernel pre-filters with a 1e-4 slack
    and the exact rounded threshold stays JVM-side, so a pair on a
    round(_, 4) half-ulp boundary cannot be lost to the GEMM's
    floating-point order."""
    slack = min_cosine - 1e-4

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        parts, c = [], cell(pdf)
        if c is not None:
            ids_a, VA, ids_b, VB, keep = c
            for s, C in _cell_cosines(VA, VB):
                ii, jj = np.nonzero(C >= slack)
                ia, ib = ids_a[ii + s], ids_b[jj]
                m = keep(ii + s, jj, ia, ib)
                parts.append((np.minimum(ia[m], ib[m]), np.maximum(ia[m], ib[m]), C[ii[m], jj[m]]))
        return _frame(["id_a", "id_b", "__cos"], parts)

    survivors = tasks.groupBy("bucket", "ti", "tj").applyInPandas(
        kernel, schema=f"id_a {id_type}, id_b {id_type}, __cos double"
    )
    return survivors.select("id_a", "id_b", F.round("__cos", 4).alias("cosine")).filter(
        F.col("cosine") >= min_cosine
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

    The vectorized path runs the cell kernel on the triangle task grid
    (oversized buckets split as in ``cosine_dup_pairs``) but emits
    only each query's IN-CELL top-k, both directions — so the exchange
    after the kernel carries ≤ k·cells candidate rows per query
    instead of the self-join's bucket² rows (each dragging BOTH
    vectors). A final query-keyed window merges cell partials into the
    global top-k. In-kernel ties are broken by ascending neighbor id
    (rows sorted by id + stable argsort), the same total order as the
    merge window, so the per-cell truncation never drops a pair the
    global rank needed.
    For the id tie-break to see a tie, bit-identical neighbor vectors
    must receive bit-identical scores — which a raw BLAS GEMM does not
    guarantee: the tiled microkernel accumulates edge columns in a
    different FMA order, so an exact-duplicate pair can score one ulp
    apart depending on COLUMN POSITION (observed: a duplicate pair
    straddling a top-k boundary picked the duplicate with the higher
    id, diverging from the join form). The kernel therefore
    canonicalizes duplicate neighbor COLUMNS (``_dup_rep``): a cheap
    exact pre-check (sorted per-row float checksums) gates a slow path
    that overwrites each duplicate column's scores with its first
    occurrence's computed bits. Duplicate-free cells (the norm) run
    the pure-BLAS path at zero extra cost — the bit-exact alternatives
    measured badly at sf0.1: a sequential per-dimension fold ~7x
    slower, an ``np.unique(axis=0)`` + column-gather canonicalization
    ~2.7x. Mathematical ties between NON-identical vectors can still
    wobble an ulp vs the SQL fold; that is measure-zero for real
    embeddings and truncation stays self-consistent either way (the
    merge window orders by the same emitted values).
    ``vectorized=False`` is the join + window reference form."""
    w = Window.partitionBy("query_id").orderBy(F.desc("__cos"), F.asc("neighbor_id"))
    if not vectorized:
        bucket = lsh_bucket_expr(F.col(vec_col), dim)
        base = df.filter(F.col(vec_col).isNotNull()).select(
            F.col(id_col).alias("id"),
            _as_double(F.col(vec_col)).alias("v"),
            bucket.alias("bucket"),
        )
        a = base.select(F.col("id").alias("query_id"), F.col("v").alias("qv"), "bucket")
        b = base.select(F.col("id").alias("neighbor_id"), F.col("v").alias("nv"), "bucket")
        candidates = (
            a.join(b, on="bucket")
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .select("query_id", "neighbor_id", cosine_expr(F.col("qv"), F.col("nv")).alias("__cos"))
            .filter(F.col("__cos").isNotNull())
        )
    else:
        from .caching import track

        tasks = _triangle_tasks(track(lsh_base_frame(df, id_col, vec_col, dim)), max_bucket_size)
        id_type = df.schema[id_col].dataType.simpleString()

        def cell_topk(pdf: pd.DataFrame) -> pd.DataFrame:
            parts, cell = [], _triangle_cell(pdf.sort_values("id"))
            if cell is not None:
                ids_a, VA, ids_b, VB = cell
                within = VB is VA
                sides = [(VA, ids_a, VB, ids_b)] + ([] if within else [(VB, ids_b, VA, ids_a)])
                for Vq, idq, Vn, idn in sides:
                    kk = min(k, len(idn))
                    for s, C in _cell_cosines(Vq, Vn, _dup_rep(Vn)):
                        if within:  # a row is not its own neighbor
                            rr = np.arange(s, s + len(C))
                            C[rr - s, rr] = -np.inf
                        order = np.argsort(-C, axis=1, kind="stable")[:, :kk]
                        rows, cols = np.repeat(np.arange(len(C)), order.shape[1]), order.ravel()
                        score = C[rows, cols]
                        keep = np.isfinite(score)
                        parts.append((idq[rows[keep] + s], idn[cols[keep]], score[keep]))
            return _frame(["query_id", "neighbor_id", "__cos"], parts)

        candidates = tasks.groupBy("bucket", "ti", "tj").applyInPandas(
            cell_topk, schema=f"query_id {id_type}, neighbor_id {id_type}, __cos double"
        )
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

    Each bucket's pairwise cosines come from the cell kernel inside
    ``applyInPandas``: the only shuffle is the narrow (id, v, bucket)
    base frame — the self-join formulation instead materialized every
    candidate pair row carrying BOTH vectors (at sf1: ~19.5M join rows
    x two 64-dim arrays ≈ 20 GB through the exchange for a 264k-pair
    answer). Results equal the join formulation on the test data
    (equivalence tests at three thresholds).

    Degenerate buckets (heavy boilerplate corpora hashing to one LSH
    bucket) would otherwise hand ONE task an O(bucket²) GEMM and the
    whole bucket's vector matrix: any bucket larger than
    ``max_bucket_size`` is therefore triangle-split
    (``_triangle_tasks``) — exact, at the cost of replicating
    oversized buckets' rows g-fold; normal buckets pay one tracked
    persist of the narrow (id, v, bucket) frame plus a bucket-count
    aggregate and its broadcast (measured ~0.45s on a 0.8s sf1 query).
    Raising ``N_HYPERPLANES`` (more, smaller buckets) remains the
    cheaper lever when the corpus allows re-bucketing."""
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
    ``(id, v, bucket)`` frame — ``cosine_dup_pairs`` over any grouping
    (LSH buckets, k-means-style cluster assignments for semantic
    dedup, ...): the upper triangle of each diagonal task, every pair
    of an off-diagonal one. ``base`` must already be persisted
    (tracked by the caller): the triangle task grid reads it twice."""

    def cell(pdf: pd.DataFrame):
        c = _triangle_cell(pdf)
        if c is None:
            return None
        within = c[3] is c[1]
        return (*c, lambda i, j, ia, ib: j > i if within else np.ones(len(i), bool))

    return _pairs_above(_triangle_tasks(base, max_bucket_size), id_type, min_cosine, cell)


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

    def cell(pdf: pd.DataFrame):
        A = pdf[pdf["__side"] == "A"]
        B = pdf[pdf["__side"] == "B"]
        if not len(A) or not len(B):
            return None
        new_a = A["__new"].to_numpy().astype(bool)
        # old candidate: keep any order (the old id exists only on the
        # A side, so the pair meets once); new candidate: a new-new
        # pair that also meets mirrored — keep id_a < id_b only
        keep = lambda i, j, ia, ib: np.where(new_a[i], ia < ib, ia != ib)  # noqa: E731
        return A["id"].to_numpy(), _matrix(A["v"]), B["id"].to_numpy(), _matrix(B["v"]), keep

    id_type = new_df.schema[id_col].dataType.simpleString()
    return _pairs_above(tasks, id_type, min_cosine, cell)


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
    max_train_rows: int = TRAIN_ROWS,
) -> np.ndarray:
    """Coarse quantizer: kmeans++-seeded Lloyd iterations in numpy over
    a bounded sample. This is the standard IVF recipe: train the
    quantizer tiny on the driver, assign distributed — a distributed
    KMeans here would cost KMEANS_ITERS full-corpus passes to learn 16
    centroids. Returns the (n_clusters, dim) centroid matrix."""
    X = collect_vector_sample(df, vec_col, max_train_rows, "IVF quantizer")
    return kmeans_numpy(X, n_clusters, SEED)


def kmeans_numpy(X: np.ndarray, n_clusters: int, seed: int = SEED) -> np.ndarray:
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
    for _ in range(KMEANS_ITERS):
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


def _l2_to(V: np.ndarray, C: np.ndarray) -> np.ndarray:
    """``||v - c||^2 - ||v||^2`` of every row against every centroid."""
    return (C * C).sum(axis=1)[None, :] - 2.0 * (V @ C.T)


def _probe_cells(Q: np.ndarray, centers: np.ndarray, n_probe: int) -> np.ndarray:
    """Each query's ``n_probe`` nearest cells (L2, as rows are assigned)."""
    C = np.asarray(centers, dtype=np.float64)
    return np.argsort(_l2_to(Q, C), axis=1)[:, : min(n_probe, len(C))] if len(Q) else []


def make_cluster_assign_pudf(centers: np.ndarray):
    """Vectorized nearest-centroid assignment (L2): one matmul per
    Arrow batch against the broadcast centroid matrix."""
    C = np.asarray(centers, dtype=np.float64)

    @pandas_udf("int")
    def assign(v: pd.Series) -> pd.Series:
        return pd.Series(np.argmin(_l2_to(_matrix(v), C), axis=1).astype(np.int32))

    return assign


def knn_ivf(
    df: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    n_clusters: int = 16,
    n_probe: int = 4,
    centers: np.ndarray | None = None,
) -> DataFrame:
    """IVF approximate top-k cosine neighbors: the scan with each
    batch's rows celled by nearest centroid (one matmul), so only rows
    in a cell some query probes are scored, against exactly those
    queries (scoring cost ~ n_probe/n_clusters of the corpus). With
    ``n_probe == n_clusters`` it is exact brute force (every pair
    scored), which is the correctness test. For IO-side pruning as
    well, see ``build_ivf_index``.

    Output: (query_id, neighbor_id, cosine rounded 4, rank).
    """
    if centers is None:
        centers = fit_ivf_centroids(df, vec_col, n_clusters)
    C = np.asarray(centers, dtype=np.float64)
    q_ids, Q, Qn = _unit_queries(queries, id_col, vec_col)
    return _cosine_topk(
        _vector_rows(df, id_col, vec_col), q_ids, Qn, _probe_cells(Q, C, n_probe), k,
        lambda pdf, V: np.argmin(_l2_to(V, C), axis=1),
    )


def _ivf_rows(df: DataFrame, id_col: str, vec_col: str, centers: np.ndarray, epoch: int):
    """``(id, v, cluster, epoch)`` index rows of the non-NULL vectors."""
    return (
        df.filter(F.col(vec_col).isNotNull())
        .select(F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("v"))
        .select("id", "v", make_cluster_assign_pudf(centers)(F.col("v")).alias("cluster"))
        .withColumn("epoch", F.lit(int(epoch)))
    )


def build_ivf_index(
    df: DataFrame,
    path: str,
    id_col: str,
    vec_col: str,
    n_clusters: int = 16,
) -> np.ndarray:
    """Materialize the IVF index as CLUSTER-PARTITIONED parquet.

    At query time, non-probed cells are eliminated by partition
    pruning before any IO — the index read cost is
    O(n_probe / n_clusters * corpus), the property that makes IVF the
    100 TB similarity-search plan. Returns the centroid matrix (store
    it next to the index in a real deployment)."""
    centers = fit_ivf_centroids(df, vec_col, n_clusters)
    # epoch=0 is the base build; incremental refreshes land in their own
    # epoch partitions (see append_to_ivf_index) so replays are
    # idempotent; readers filter on cluster and ignore the epoch level
    _ivf_rows(df, id_col, vec_col, centers, 0).write.mode("overwrite").partitionBy(
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
    (
        _ivf_rows(df, id_col, vec_col, centers, epoch_id)
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
    (verify with ``.explain`` -> PartitionFilters), and the scan cells
    rows by their stored ``cluster``. Equals ``knn_ivf`` with the same
    centroids."""
    q_ids, Q, Qn = _unit_queries(queries, id_col, vec_col)
    probes = _probe_cells(Q, centers, n_probe)
    cells = sorted({int(c) for p in probes for c in p})
    rows = spark.read.parquet(path).filter(F.col("cluster").isin(cells))
    return _cosine_topk(
        rows.select("id", "v", "cluster"), q_ids, Qn, probes, k,
        lambda pdf, V: pdf["cluster"].to_numpy(),
    )
