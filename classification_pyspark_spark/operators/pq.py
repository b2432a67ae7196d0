"""Product quantization (PQ) for embedding compression + approximate
scoring (Jégou et al., "Product Quantization for Nearest Neighbor
Search", TPAMI 2011) — the remaining member of the ANN toolkit next to
brute force, LSH buckets, IVF partitions (``similarity.py``) and
per-vector int8 scaling.

A D-dim vector splits into ``m`` subvectors; each subspace gets its own
k-code codebook (kmeans on a bounded driver sample — parameter-sized at
any corpus scale, same recipe as the IVF coarse quantizer). Encoding
maps every vector to ``m`` small integers: m*log2(k) information bits
instead of 32*D — 64x at (m=8, k=16) and 32x at (m=8, k=256) for
64-dim float32 (the materialized ``array<int>`` column is ~8x on disk;
pack codes into a binary column for the full ratio).

Scoring is ADC (asymmetric distance computation): per query, a
(m x k) table of subspace dot products is built once on the driver;
every stored code row folds to a score by ``m`` table lookups — an
Arrow-batched numpy gather, no decompression of the corpus. The gather
is the score of ``similarity``'s one top-k scan (a single cell probed
by every query), so only shortlist-sized survivors per batch leave the
executors and a query-keyed window ranks them. ADC approximates the
INNER PRODUCT: it equals cosine only for unit-norm inputs — L2-normalize
the corpus and queries upstream (``similarity.normalize_expr``) when
cosine ranking is the contract. Unlike the cosine searchers, PQ does
not exclude the query itself: a query vector that is also in the
corpus ranks itself first, as in any ANN search; exclude it downstream
if unwanted. An empty query set is an error.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from .similarity import (
    SEED,
    TRAIN_ROWS,
    _as_double,
    _matrix,
    _query_rows,
    _topk_scan,
    collect_vector_sample,
    cosine_expr,
    kmeans_numpy,
)


def fit_pq_codebooks(
    df: DataFrame,
    vec_col: str,
    m: int = 8,
    k: int = 16,
) -> np.ndarray:
    """Per-subspace codebooks, shape (m, k, D/m). Deterministic for a
    given sample. D must divide evenly by ``m``."""
    X = collect_vector_sample(df, vec_col, TRAIN_ROWS, "PQ codebooks")
    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"embedding dim {dim} is not divisible by m={m} subspaces")
    sub = dim // m
    books = np.zeros((m, k, sub))
    for j in range(m):
        # distinct seed per subspace so identical subspace data still
        # gets independent kmeans++ draws
        cb = kmeans_numpy(X[:, j * sub : (j + 1) * sub], k, SEED + j)
        books[j, : len(cb)] = cb
        if len(cb) < k:  # fewer samples than codes: repeat last centroid
            books[j, len(cb) :] = cb[-1]
    return books


def pq_encode(df: DataFrame, id_col: str, vec_col: str, books: np.ndarray) -> DataFrame:
    """(id, codes array<int>) — each vector's per-subspace nearest
    codeword. One Arrow-batched pass, codebooks in the closure."""
    m, k, sub = books.shape
    flat = books.reshape(m * k, sub)
    c2 = (flat * flat).sum(axis=1).reshape(m, k)

    @pandas_udf("array<int>")
    def enc(v: pd.Series) -> pd.Series:
        V = _matrix(v)  # (n, D)
        n = len(V)
        S = V.reshape(n, m, sub)
        # d2[n, j, k] = |s|^2 - 2 s·c + |c|^2 ; argmin over k
        cross = np.einsum("njs,jks->njk", S, books)
        d2 = -2.0 * cross + c2[None, :, :]
        codes = np.argmin(d2, axis=2).astype(np.int32)
        return pd.Series(list(codes))

    return df.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col), enc(_as_double(F.col(vec_col))).alias("codes")
    )


def pq_topk(
    codes_df: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    books: np.ndarray,
    k: int = 5,
    rerank: int | None = None,
    vectors_df: DataFrame | None = None,
) -> DataFrame:
    """ADC top-k over the compressed codes.

    ``rerank=R`` (with ``vectors_df`` = the full-precision vectors)
    takes the top-R ADC shortlist per query and re-scores just those R
    rows with exact cosine — the standard PQ deployment: the corpus is
    scanned as codes only, and full vectors are fetched for R*|Q| rows
    (a broadcast-join-sized probe). ADC alone on unstructured
    embeddings recalls ~0.3-0.7 depending on (m, k); shortlist+rerank
    restores ~1.0 while the scan stays compressed.

    Output: (query_id, neighbor_id, score rounded 4, rank) under the
    deterministic (score desc, neighbor_id asc) order. ADC scores are
    approximate inner products (see module docstring); rerank scores
    are exact cosine.
    """
    m, kk, sub = books.shape
    q_ids, Q = _query_rows(queries, id_col, vec_col)
    if not q_ids:
        raise ValueError("cannot score PQ top-k: query set has no non-null vectors")
    # per-query subspace dot tables: tables[q, j, code] = q_j · c_{j,code}
    tables = np.einsum("qjs,jks->qjk", Q.reshape(len(Q), m, sub), books)
    jj = np.arange(m)

    def prep(pdf):
        C = np.stack(pdf["codes"].to_numpy()).astype(np.int64)  # (n, m)
        gather = lambda sel, qidx: np.stack(  # noqa: E731
            [tables[qi][jj, C[sel]].sum(axis=1) for qi in qidx], axis=1
        )
        return pdf["id"].to_numpy(), np.zeros(len(C), np.int64), gather

    shortlist_k = max(k, rerank) if rerank else k
    rows = codes_df.select(F.col(id_col).alias("id"), "codes")
    adc = _topk_scan(rows, q_ids, None, prep, shortlist_k, exclude_self=False)
    if not rerank:
        return adc.select("query_id", "neighbor_id", F.round("__s", 4).alias("score"), "rank")
    if vectors_df is None:
        raise ValueError("rerank requires vectors_df (the full-precision vectors)")
    # exact cosine on the R*|Q|-row shortlist only
    vecs = vectors_df.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("__nv")
    )
    qvecs = vectors_df.sparkSession.createDataFrame(
        [(qid, [float(x) for x in Q[i]]) for i, qid in enumerate(q_ids)],
        f"query_id {codes_df.schema[id_col].dataType.simpleString()}, __qv array<double>",
    )
    exact = (
        adc.select("query_id", "neighbor_id")
        .join(vecs, "neighbor_id")
        .join(F.broadcast(qvecs), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            cosine_expr(F.col("__qv"), F.col("__nv")).alias("__score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("__score"), F.asc("neighbor_id"))
    return (
        exact.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("__score", 4).alias("score"), "rank")
    )
