"""Dense vector kernels: one numpy nearest-centroid pass and one
product-quantisation (PQ) encode/ADC pass.

The SQL vector folds (``_dot``/``_norm`` in ``queries/similarity.py``)
are ``aggregate`` over ``zip_with``/``transform``, which Spark runs
interpreted (``CodegenFallback``), once per element. The IVF lanes
assign every vector to its nearest of K centroids; done as a
``crossJoin(broadcast(centroids))`` plus a window or ``max(struct)``,
that is n·K interpreted 64-element folds and a shuffle. Here the K
centroids are a small driver-side float64 array and one
``mapInArrow`` pass scores each Arrow batch against all of them in
numpy: partition-local scoring, with any global top-k left to
``orderBy().limit()`` (REPOSE, ICDE 2021; top-k similarity search,
EDBT 2020). The PQ pass (:func:`pq_adc`) does the same for a product
quantiser: its M×C codebook is a driver-side ``(M, C, SUBDIM)`` array,
and each batch is encoded (per subspace, the nearest codeword by
squared L2) and scored by asymmetric distance (ADC: the query's
subvector-to-codeword distances, looked up by the codes and summed in
``m`` order) without the n·M·C cross join a SQL shape needs (Jégou,
Douze and Schmid, TPAMI 2011).

Float discipline: every dot product and norm is a sequential
left-to-right fold over float64 products that starts at ``0.0``
(:func:`fold_dot`), and so is every squared distance
(:func:`fold_sqdist`) and every ADC sum, never ``np.dot`` or a pairwise
``sum``. That is the fold Spark's ``aggregate(..., 0D, (a, b) -> a +
b)`` and DuckDB's ``list_reduce`` run, so cosines, PQ codes and ADC
distances carry the same bits in all three engines. Rankings follow
Spark's ``ORDER BY cos DESC, cid``: NaN is the largest value, NULL
sorts last and ties go to the smaller cid.

A division by a zero norm gives NULL, as in DuckDB and in the SQL
fold's ``try_divide`` (``queries/similarity.py`` ``_cos``). A null
vector, a vector with a null element or one whose length is not the
centroids' dimension has a NULL norm and scores NULL against every
centroid, so its cell is the smallest cid, as the SQL shapes rank it.
Such a row takes the smallest codeword in every PQ subspace. Codeword
ties go to the smaller codeword id.
"""

from __future__ import annotations

from collections.abc import Iterator, Mapping

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql.types import ArrayType, DoubleType, LongType, StructField, StructType


def _fold(x: np.ndarray, y: np.ndarray, term) -> np.ndarray:
    acc = np.zeros(np.broadcast_shapes(x.shape[:-1], y.shape[:-1]))
    for j in range(x.shape[-1]):
        acc += term(x[..., j], y[..., j])
    return acc


def fold_dot(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """``x[..., j] * y[..., j]`` summed over the last axis as one
    sequential fold from ``0.0``; the leading axes broadcast, so
    ``fold_dot(x[:, None], c[None])`` is the (n, K) dot-product
    matrix."""
    return _fold(x, y, np.multiply)


def fold_sqdist(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Squared L2 distance ``(x[..., j] - y[..., j])²`` folded like
    :func:`fold_dot`."""

    def sq(a, b):
        d = a - b
        return d * d

    return _fold(x, y, sq)


def _cosines(
    x: np.ndarray, nm: np.ndarray, ok: np.ndarray, c: np.ndarray, cn: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """(n, K) cosines ``dot / (nm * cn)`` and their NULL mask."""
    den = nm[:, None] * cn[None, :]
    null = (den == 0) | ~ok[:, None]
    with np.errstate(divide="ignore", invalid="ignore"):
        return fold_dot(x[:, None], c[None]) / den, null


def _ranked(cos: np.ndarray, null: np.ndarray) -> np.ndarray:
    """Column order of each row as Spark sorts ``cos DESC NULLS LAST,
    cid``: NaN first, NULL last, ties in column (= cid) order."""
    nan = np.isnan(cos)
    tier = np.where(null, 2, np.where(nan, 0, 1))
    key = np.where(tier == 1, -cos, 0.0)
    return np.lexsort((key, tier), axis=-1)


def _norms(x: np.ndarray) -> np.ndarray:
    return np.sqrt(fold_dot(x, x))


def _by_cid(cids, cents) -> tuple[np.ndarray, np.ndarray]:
    """Centroids in ascending cid order, so ties go to the smaller cid."""
    order = np.argsort(cids, kind="stable")
    return np.asarray(cids, dtype=np.int64)[order], np.asarray(cents, dtype=np.float64)[order]


def collect_vectors(df: DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """(ids, float64 matrix) of a small (id, vector) frame, ordered by
    id: one Spark job. Raises on a null or ragged vector — centroids
    and query vectors must be whole."""
    rows = sorted(df.collect(), key=lambda r: r[0])
    if any(r[1] is None or None in r[1] for r in rows) or len({len(r[1]) for r in rows}) > 1:
        raise ValueError(f"null or ragged vector among ids {[r[0] for r in rows]}")
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    dim = len(rows[0][1]) if rows else 0
    return ids, np.array([r[1] for r in rows], dtype=np.float64).reshape(len(rows), dim)


def top_cells(x: np.ndarray, cids: np.ndarray, cents: np.ndarray, nprobe: int) -> np.ndarray:
    """The ``nprobe`` nearest centroid ids of each row of *x*, nearest
    first: the driver-side probe set of an IVF lane."""
    cids, cents = _by_cid(cids, cents)
    ok = np.ones(len(x), dtype=bool)
    cos, null = _cosines(x, _norms(x), ok, cents, _norms(cents))
    return cids[_ranked(cos, null)[:, :nprobe]]


def _rows(col: pa.Array, dim: int) -> tuple[np.ndarray, np.ndarray]:
    """An Arrow list column as an (n, dim) float64 matrix plus the mask
    of rows that are whole (non-null, ``dim`` long, no null element);
    other rows are zero-filled."""
    whole = pc.fill_null(pc.equal(pc.list_value_length(col), dim), False)
    ok = np.array(whole.to_numpy(zero_copy_only=False), dtype=bool)
    x = np.zeros((len(col), dim))
    at = np.flatnonzero(ok)
    if len(at):
        vals = pc.list_flatten(col.filter(whole))
        x[at] = vals.to_numpy(zero_copy_only=False).reshape(-1, dim)
        if vals.null_count:
            bad = at[pc.is_null(vals).to_numpy(zero_copy_only=False).reshape(-1, dim).any(axis=1)]
            x[bad] = 0.0
            ok[bad] = False
    return x, ok


def nearest_centroid(
    df: DataFrame,
    cids: np.ndarray,
    cents: np.ndarray,
    *,
    keep_vec: bool = False,
    query: np.ndarray | None = None,
) -> DataFrame:
    """*df* plus ``cid`` (nearest centroid), ``ccos`` (its cosine) and
    ``nm`` (the row's norm), and ``qcos``, the cosine to *query*, when
    one is given: one narrow ``mapInArrow`` pass, no shuffle.

    *cids*/*cents* are the K centroid ids and their (K, D) vectors, in
    any order; the vectors scored are *df*'s ``array<float|double>``
    column ``embedding``, dropped from the output unless *keep_vec*."""
    if not len(cids):
        raise ValueError("nearest_centroid needs at least one centroid")
    cids, cents = _by_cid(cids, cents)
    cn, dim = _norms(cents), cents.shape[1]
    if query is not None:
        query = np.asarray(query, dtype=np.float64)[None]
        qn = _norms(query)
    keep = [f for f in df.schema.fields if keep_vec or f.name != "embedding"]
    extra = ["cid", "ccos", "nm"] + (["qcos"] if query is not None else [])
    schema = StructType(
        keep
        + [StructField("cid", LongType())]
        + [StructField(name, DoubleType()) for name in extra[1:]]
    )
    names = [f.name for f in keep] + extra

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            x, ok = _rows(b.column("embedding"), dim)
            nm = _norms(x)
            cos, null = _cosines(x, nm, ok, cents, cn)
            best = _ranked(cos, null)[:, 0]
            at = np.arange(len(x))
            cols = [b.column(f.name) for f in keep] + [
                pa.array(cids[best]),
                pa.array(cos[at, best], mask=null[at, best]),
                pa.array(nm, mask=~ok),
            ]
            if query is not None:
                qcos, qnull = _cosines(x, nm, ok, query, qn)
                cols.append(pa.array(qcos[:, 0], mask=qnull[:, 0]))
            yield pa.RecordBatch.from_arrays(cols, names=names)

    return df.mapInArrow(kernel, schema)


def _pq_encode(x: np.ndarray, ok: np.ndarray, codebook: np.ndarray) -> np.ndarray:
    """(n, M) index of each row's nearest codeword per subspace, by
    squared L2 over the (M, C, SUBDIM) *codebook*: the first minimum,
    so ties go to the smaller index, and NaN ranks last. A row that
    is not whole (*ok* false) takes index 0 in every subspace."""
    n_m, _, sub = codebook.shape
    d2 = fold_sqdist(x.reshape(len(x), n_m, 1, sub), codebook[None])
    codes = np.where(np.isnan(d2), np.inf, d2).argmin(axis=2)
    codes[~ok] = 0
    return codes


def _pq_adc(codes: np.ndarray, qtab: np.ndarray) -> np.ndarray:
    """(Q, n) ADC distances: the (Q, M, C) table entries the (n, M)
    *codes* pick, summed in ``m`` order from ``0.0``."""
    looked = qtab[:, np.arange(codes.shape[1]), codes]
    adc = np.zeros(looked.shape[:2])
    for m in range(codes.shape[1]):
        adc += looked[..., m]
    return adc


def pq_adc(
    df: DataFrame,
    cids: np.ndarray,
    codebook: np.ndarray,
    queries: Mapping[int, np.ndarray],
) -> DataFrame:
    """*df* plus ``qid``, ``codes`` (per subspace ``m``, the id of the
    nearest codeword) and ``adc_dist`` (the ADC distance to query
    ``qid``): one row per (input row, query), one narrow ``mapInArrow``
    pass, no shuffle.

    *codebook* is the ``(M, C, SUBDIM)`` float64 codeword array and
    *cids* its C codeword ids, in any order; *queries* maps each
    query id to its ``M * SUBDIM`` vector. The vectors encoded are
    *df*'s ``array<float|double>`` column ``embedding``, dropped from
    the output."""
    codebook = np.asarray(codebook, dtype=np.float64)
    if codebook.ndim != 3 or not codebook.shape[1] or codebook.shape[1] != len(cids):
        raise ValueError(f"pq_adc needs C > 0 ids for an (M, C, SUBDIM) codebook, got {codebook.shape}")
    order = np.argsort(cids, kind="stable")
    cids, codebook = np.asarray(cids, dtype=np.int64)[order], codebook[:, order]
    n_m, _, sub = codebook.shape
    qids = np.array(sorted(queries), dtype=np.int64)
    qmat = np.array([queries[q] for q in qids], dtype=np.float64).reshape(len(qids), n_m, 1, sub)
    # the query's ADC table: (Q, M, C) squared subvector-to-codeword distances
    qtab = fold_sqdist(qmat, codebook[None])
    keep = [f for f in df.schema.fields if f.name != "embedding"]
    schema = StructType(
        keep
        + [
            StructField("qid", LongType()),
            StructField("codes", ArrayType(LongType())),
            StructField("adc_dist", DoubleType()),
        ]
    )
    names = [f.name for f in schema.fields]

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            x, ok = _rows(b.column("embedding"), n_m * sub)
            codes = _pq_encode(x, ok, codebook)
            adc = _pq_adc(codes, qtab)
            rows = np.tile(np.arange(len(x)), len(qids))
            flat = pa.array(np.tile(cids[codes], (len(qids), 1)).ravel())
            cols = [b.column(f.name).take(rows) for f in keep] + [
                pa.array(np.repeat(qids, len(x))),
                pa.ListArray.from_arrays(pa.array(np.arange(0, len(flat) + 1, n_m, dtype=np.int32)), flat),
                pa.array(adc.ravel()),
            ]
            yield pa.RecordBatch.from_arrays(cols, names=names)

    return df.mapInArrow(kernel, schema)
