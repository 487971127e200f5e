"""Vector math over ArrayType(Float) embedding columns, in three forms.

- **Column expressions** (`dot_expr`, `cosine_expr`, ...): JVM-side
  codegen primitives. They compute in DOUBLE with a sequential left
  fold, so the result is bit-identical to a sequential C double loop
  (what the DuckDB oracle computes) — rounding in query outputs then
  makes the comparison fully robust. Used for per-pair cosines and
  re-ranks.
- **numpy kernels** (`nearest`, `imi_nearest`, `pq_codes`, `adc`,
  `lsh_bucket`, `unit`): every nearest-cell, PQ-code, asymmetric
  distance and LSH-bucket computation of the vector operators, batch
  and streaming alike. Centroids, codebooks and planes are numpy
  arrays held by the caller, never plan literals, so a vector key's
  plan stays a few nodes at any bank size. Rankings over many cells
  use BLAS; values that reach an output or a threshold compare (bank
  norms, sign tests, ADC and the PQ error) use `_fold`, the oracles'
  sequential order.
- **`map_vectors`**: the one Spark adapter — a `mapInArrow` that hands
  each Arrow batch's vector column to a kernel as a float64 matrix.

The `sql_*` generators at the end are the DuckDB oracle side.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _dbl(x: Column) -> Column:
    return x.cast("double")


def dot_expr(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ in double (sequential fold, init 0.0)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: _dbl(x) * _dbl(y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def sq_norm_expr(a: Column) -> Column:
    return F.aggregate(a, F.lit(0.0), lambda acc, x: acc + _dbl(x) * _dbl(x))


def norm_expr(a: Column) -> Column:
    return F.sqrt(sq_norm_expr(a))


def cosine_expr(a: Column, b: Column) -> Column:
    """cos(a, b); NaN-safe only insofar as inputs are non-zero vectors."""
    return dot_expr(a, b) / (norm_expr(a) * norm_expr(b))


# --- numpy kernels ----------------------------------------------------------

#: banks larger than this take nearest()'s chunked argpartition branch
NEAREST_SORT_MAX_CELLS = 2048


def _fold(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Row-wise Σ aᵢ·bᵢ as a sequential left fold from 0.0 — the order
    of dot_expr, of Python's sum() over the bank literals and of
    DuckDB's list_dot_product, so the double is bit-identical to theirs
    (BLAS reassociates). One vectorized step per dimension."""
    acc = np.zeros(len(a))
    for j in range(a.shape[1]):
        acc += a[:, j] * b[:, j]
    return acc


def unit(x: np.ndarray) -> np.ndarray:
    """Rows of `x` scaled to unit length in float64. A zero or NaN norm
    raises: the row's cosine is undefined, and NaN scores would rank
    differently here (comparisons false) and in DuckDB (NaN greatest)."""
    x = np.asarray(x, dtype=np.float64)
    nrm = np.linalg.norm(x, axis=1, keepdims=True)
    if not np.all(nrm > 0.0):  # catches 0 and NaN norms
        raise ValueError("zero/NaN-norm embedding: cosine undefined")
    return x / nrm


def _twins(bank):
    """(rows, first copies) of the bank rows that repeat an earlier
    row, or None. BLAS can score two identical columns a few ulps
    apart, depending on where they fall in its tiles; copying the first
    copy's score over its twins makes the tie exact, so it resolves to
    the lower index."""
    _, first, inv = np.unique(
        bank, axis=0, return_index=True, return_inverse=True
    )
    src = first[inv.reshape(-1)]
    dup = np.flatnonzero(src != np.arange(len(bank)))
    return (dup, src[dup]) if len(dup) else None


def _scores(x, bank, metric: str, out=None, twins=None) -> np.ndarray:
    """(n, m) cell scores, lower is nearer: ‖c‖² − 2·x·c for "l2" (the
    row's own ‖x‖² is constant and dropped), −x·c for "dot"."""
    s = np.matmul(x, bank.T, out=out)
    if metric == "dot":
        np.negative(s, out=s)
    elif metric == "l2":
        s *= -2.0
        s += _fold(bank, bank)[None, :]
    else:
        raise ValueError(f"unknown metric {metric!r}")
    if twins is not None:
        s[:, twins[0]] = s[:, twins[1]]
    return s


def nearest(x, bank, probe: int = 1, metric: str = "l2") -> np.ndarray:
    """(n, probe) int64 indices of each row's `probe` nearest bank rows
    in (score, index) order — a stable argsort, so an exact score tie
    goes to the lower index, as in the oracles'
    list_sort(struct(s, c)).

    Banks past NEAREST_SORT_MAX_CELLS (beyond any oracle fixture) take
    two departures, both measured at 16.5k cells: (1) an O(m)
    argpartition instead of the O(m log m) full sort — ties at the
    probe boundary then resolve by partition order, not index; (2) row
    CHUNKS with a reused out= buffer: materializing the full batch×m
    score matrix (270 MB at 2048×16.5k) plus argpartition's same-size
    index array, fresh per batch across 32 workers, produced a kernel
    page-fault storm (91% sys time, zero task progress in 8 min).
    256-row chunks bound live temporaries at ~34 MB."""
    x = np.asarray(x, dtype=np.float64)
    bank = np.asarray(bank, dtype=np.float64)
    m = bank.shape[0]
    twins = _twins(bank)
    if m <= NEAREST_SORT_MAX_CELLS:
        s = _scores(x, bank, metric, twins=twins)
        return np.argsort(s, axis=1, kind="stable")[:, :probe]
    ch = 256
    order = np.empty((len(x), probe), dtype=np.int64)
    s_buf = np.empty((ch, m))
    for st in range(0, len(x), ch):
        en = min(st + ch, len(x))
        sb = _scores(x[st:en], bank, metric, s_buf[: en - st], twins)
        part = np.argpartition(sb, probe, axis=1)[:, :probe]
        sv = np.take_along_axis(sb, part, axis=1)
        order[st:en] = np.take_along_axis(
            part, np.argsort(sv, axis=1, kind="stable"), axis=1
        )
    return order


def imi_nearest(x, bank1, bank2, probe: int, metric: str = "dot") -> np.ndarray:
    """(n, probe) int64 product cells i·m₂ + j of the inverted
    multi-index: `bank1` scores the leading dims of each row, `bank2`
    the rest, and a cell's score is the sum of its two halves'. Only
    the top-probe × top-probe pairs are ranked — exact, because were
    there `probe` first-half indices strictly better than i, pairing
    each with the same j would give `probe` strictly better cells (and
    symmetrically for j). Ties resolve by cell id, as in nearest()."""
    x = np.asarray(x, dtype=np.float64)
    b1 = np.asarray(bank1, dtype=np.float64)
    b2 = np.asarray(bank2, dtype=np.float64)
    d1 = b1.shape[1]
    s1 = _scores(x[:, :d1], b1, metric, twins=_twins(b1))
    s2 = _scores(x[:, d1:], b2, metric, twins=_twins(b2))
    o1 = np.argsort(s1, axis=1, kind="stable")[:, :probe]
    o2 = np.argsort(s2, axis=1, kind="stable")[:, :probe]
    rows = len(x)
    rix = np.arange(rows)[:, None, None]
    sc = (s1[rix, o1[:, :, None]] + s2[rix, o2[:, None, :]]).reshape(rows, -1)
    cells = (
        o1[:, :, None].astype(np.int64) * len(b2) + o2[:, None, :]
    ).reshape(rows, -1)
    # (score, cell) order: pre-sort the pairs by cell id, then a stable
    # argsort by score ranks equal scores by cell id
    bycell = np.argsort(cells, axis=1, kind="stable")
    sc = np.take_along_axis(sc, bycell, axis=1)
    cells = np.take_along_axis(cells, bycell, axis=1)
    return np.take_along_axis(
        cells, np.argsort(sc, axis=1, kind="stable")[:, :probe], axis=1
    )


def _subspaces(x, books):
    sd = x.shape[1] // len(books)
    return [x[:, m * sd : (m + 1) * sd] for m in range(len(books))]


def pq_codes(x, books) -> np.ndarray:
    """(n, M) int64 product-quantization codes: row i's subvector m
    gets the index of its nearest (l2) codeword of `books[m]`. The
    squared reconstruction error of a row is `adc` against its own
    codes."""
    x = np.asarray(x, dtype=np.float64)
    return np.stack(
        [
            nearest(sub, book, 1, "l2")[:, 0]
            for sub, book in zip(_subspaces(x, books), books)
        ],
        axis=1,
    )


def adc(x, books, codes) -> np.ndarray:
    """Asymmetric distance of each query row to the PQ-coded candidate
    on the same row: Σ_m (‖c‖² − 2·x_m·c + ‖x_m‖²) with c =
    books[m][codes[:, m]] — the per-subspace lookup-table entry the
    candidate's code selects plus the query's constant term, folded in
    the oracle's order."""
    x = np.asarray(x, dtype=np.float64)
    acc = None
    for m, (sub, book) in enumerate(zip(_subspaces(x, books), books)):
        c = np.asarray(book, dtype=np.float64)[codes[:, m]]
        term = (_fold(c, c) - 2.0 * _fold(sub, c)) + _fold(sub, sub)
        acc = term if acc is None else acc + term
    return acc


def lsh_bucket(x, planes) -> np.ndarray:
    """Random-hyperplane LSH bucket: bit j set iff x·planes[j] ≥ 0."""
    x = np.asarray(x, dtype=np.float64)
    bucket = np.zeros(len(x), dtype=np.int64)
    for j, p in enumerate(np.asarray(planes, dtype=np.float64)):
        bit = _fold(x, np.broadcast_to(p, x.shape)) >= 0
        bucket += bit.astype(np.int64) << j
    return bucket


# --- the Spark adapter ------------------------------------------------------


def map_vectors(
    df: DataFrame,
    col: str,
    kernel,
    fields: str,
    args: tuple[str, ...] = (),
    keep: list[str] | None = None,
) -> DataFrame:
    """Apply a numpy kernel to the `col` vectors of every Arrow batch
    (`mapInArrow`): `kernel(x, *cols)` gets the batch's vectors as an
    (n, d) float64 matrix, plus the `args` columns as numpy arrays, and
    returns one array per field of the DDL `fields`. 1-D arrays give
    one value per row; (n, p) arrays give p rows per input row, the
    passed-through columns repeated. The output is the `keep` columns
    (default: all of df's) followed by `fields`."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type
    from pyspark.sql.types import StructType

    keep = list(df.columns) if keep is None else list(keep)
    out_fields = StructType.fromDDL(fields).fields
    schema = StructType([df.schema[c] for c in keep] + list(out_fields))
    names = [f.name for f in out_fields]
    types = [to_arrow_type(f.dataType) for f in out_fields]

    def run(batches):
        for rb in batches:
            n = rb.num_rows
            if not n:
                continue
            x = (
                rb.column(col)
                .flatten()
                .to_numpy(zero_copy_only=False)
                .astype(np.float64, copy=False)
                .reshape(n, -1)
            )
            outs = kernel(x, *[rb.column(a).to_numpy() for a in args])
            if not isinstance(outs, tuple):
                outs = (outs,)
            p = outs[0].shape[1] if outs[0].ndim == 2 else 1
            kept = [rb.column(c) for c in keep]
            if p > 1:
                idx = pa.array(np.repeat(np.arange(n), p))
                kept = [a.take(idx) for a in kept]
            yield pa.RecordBatch.from_arrays(
                kept
                + [pa.array(np.ravel(o), type=t) for o, t in zip(outs, types)],
                names=keep + names,
            )

    return df.select(*dict.fromkeys(keep + [col] + list(args))).mapInArrow(
        run, schema
    )


# --- SQL fragment generators (DuckDB oracle side) --------------------------

def sql_dot(a_expr: str, b_expr: str) -> str:
    """DuckDB: double-precision dot product (same fold order as dot_expr)."""
    return (
        f"list_dot_product(CAST({a_expr} AS DOUBLE[]), CAST({b_expr} AS DOUBLE[]))"
    )


def sql_norm(a_expr: str) -> str:
    return f"sqrt({sql_dot(a_expr, a_expr)})"


def sql_lit_vector(values: list[float]) -> str:
    body = ", ".join(repr(float(v)) for v in values)
    return f"CAST([{body}] AS DOUBLE[])"
