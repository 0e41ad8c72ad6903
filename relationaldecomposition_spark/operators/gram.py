"""Vectorized within-group cosine pair scoring — the gram-matrix kernel.

The near-dup pipelines (SemDeDup cells, SRP-LSH buckets) all end in the
same shape: FOR EACH small group of vectors, emit every pair with cosine
>= tau. The expression path (`ivf._cell_pairs`,
`similarity.srp_near_dup_pairs`) does this as a self-equi-join on the
group key plus a per-pair `aggregate(zip_with(...))` cosine — correct,
oracle-expressible, but the per-pair expression is CodegenFallback
(microseconds per pair) and the join MATERIALIZES every candidate pair as
a Spark row before the tau filter. At sf10 that is ~50 M candidate rows
for ~1.7 M survivors: candidate generation and per-pair scoring dominate
the whole dedup pipeline (measured 360 s+; round-5 verdict).

This kernel replaces both costs with one BLAS matmul per group:
`applyInPandas` over the group key; inside the group the vectors become
one (m x dim) float64 matrix, the full cosine gram C = Xn @ Xn.T is one
matmul, and only the upper-triangle entries >= tau leave the kernel.
Candidate pairs are never materialized as rows; per-pair cost drops from
~10 us (expression) to ~1 ns (BLAS fused multiply-add).

Scale contract (100 TB):
- ONE shuffle, on the group key — the same shuffle the equi-join needed;
  the vectors ride it (dim * 8 bytes/row) instead of being joined back.
- Group size is bounded by the callers' guards (SemDeDup `max_cell`
  split, LSH `max_bucket` truncation), so the O(m^2) gram is bounded per
  task. An internal row-block cap additionally bounds kernel memory to
  ~block * m * 8 bytes even if a caller disables its guard.
- Determinism: rows are sorted by id inside the group, so the matrix
  layout — and the BLAS result — is independent of partitioning.

Float caveat: BLAS sums products in SIMD/blocked order, not the
expression path's strict left-to-right, so cosines can differ from the
expression/DuckDB value in the last ~ulp. Pairs whose cosine sits within
~1e-12 of tau may therefore differ between kernels; everywhere else the
pair sets are identical (pinned by tests/test_gram.py). The expression
kernel stays the default on the oracle-gated faces for bit-stable
correctness rows; this kernel is the production scale path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import (BooleanType, DoubleType, StructField,
                               StructType)

_BLOCK_ELEMS = 1 << 25  # ~256 MiB of float64 per gram block, worst case

# kernel="auto" dispatch: below this input volume (rows × copies × dim,
# i.e. float64 elements crossing into the pair stage) the expression
# kernel wins — the gram kernel pays a fixed Arrow/applyInPandas tax
# (~0.5-1 s of per-group scheduling + serialization) that small inputs
# never amortize, while the expression join's per-pair CodegenFallback
# cost only dominates once candidate counts grow with corpus size.
# Calibrated on the embeddings table (dim 64): sf0.1 (2 k vectors,
# ~0.5 M elements) runs ~1.2x faster on expr; by sf1 (20 k vectors,
# ~5 M elements) gram wins >2x and the gap widens monotonically.
AUTO_EXPR_MAX_VOLUME = 2_000_000


def resolve_pair_kernel(df, vec_col: str, kernel: str,
                        copies: int = 1) -> str:
    """Resolve kernel="auto" to "expr" or "gram" by estimated volume.

    `copies` = how many times each row enters the pair stage (e.g. the
    number of OR-construction hash tables). Costs one EAGER slim aggregate
    job (count + first vector length) on `df` at plan-construction time;
    callers that already know the input size should pick the kernel
    themselves. The dim estimate reads an arbitrary row, so mixed-dim
    inputs get a nondeterministic kernel choice (both kernels return
    identical values either way — only the speed differs). Streaming
    DataFrames cannot run the aggregate (no first() on an unbounded
    plan): they resolve straight to "gram", the kernel whose cost does
    not grow with candidate volume.

    The eager job stays because the driver-side size estimate
    (plans.plan_size_bytes) cannot see array length: 8,192 64-dim float
    vectors in a LocalRelation estimate 196,608 B — 24 B/row whatever
    the dim — and a createDataFrame built from a Python list estimates
    Long.MaxValue. Either would pick the wrong kernel at the 2,000,000
    element cut (8,192 × 64 × 4 copies = 2,097,152 is "gram")."""
    if kernel != "auto":
        return kernel
    if df.isStreaming:
        return "gram"
    from pyspark.sql import functions as F

    n, dim = df.agg(F.count(F.lit(1)),
                    F.first(F.size(vec_col), ignorenulls=True)).first()
    volume = n * copies * (dim or 1)
    return "expr" if volume <= AUTO_EXPR_MAX_VOLUME else "gram"


def gram_group_pairs(base: DataFrame, keys: list[str], id_col: str,
                     vec_col: str, tau: float) -> DataFrame:
    """Within-group cosine pairs via one gram matmul per group.

    `base` must carry the group key columns, an id column, and a
    float/double array vector column. Returns (*keys, id_a, id_b, cosine)
    with id_a < id_b and cosine >= tau; id/key dtypes mirror the input
    schema. Zero-norm vectors divide to NaN/inf exactly like the
    expression path (NaN never passes tau; +inf does for both kernels).
    Dirty data matches the expression path's null tolerance instead of
    crashing the task: null vectors are dropped (their pairs' cosine is
    null there), null ELEMENTS become NaN (null sum there — dropped both
    ways), and pairs of different-length vectors are skipped (zip_with
    yields null past the shorter vector) by scoring each vector length as
    its own gram.
    """
    import numpy as np
    import pandas as pd

    id_type = base.schema[id_col].dataType
    out = StructType(
        [StructField(k, base.schema[k].dataType) for k in keys]
        + [StructField("id_a", id_type), StructField("id_b", id_type),
           StructField("cosine", DoubleType())])
    key_cols = list(keys)

    def score(pdf: "pd.DataFrame") -> "pd.DataFrame":
        keys_row = pdf.iloc[0]
        pdf = pdf[pdf[vec_col].notna()]
        if len(pdf) < 2:
            return pd.DataFrame({f.name: pd.Series(dtype=object)
                                 for f in out.fields})
        pdf = pdf.sort_values(id_col, kind="mergesort")
        lens = pdf[vec_col].map(len).to_numpy()
        frames = []
        for length in np.unique(lens):
            sub = pdf[lens == length]
            m = len(sub)
            if m < 2:
                continue
            ids = sub[id_col].to_numpy()
            x = np.array([np.asarray(v, dtype=np.float64)
                          for v in sub[vec_col]])
            with np.errstate(divide="ignore", invalid="ignore"):
                xn = x / np.sqrt((x * x).sum(axis=1, keepdims=True))
            block = max(1, min(m, _BLOCK_ELEMS // m))
            for i0 in range(0, m - 1, block):
                i1 = min(i0 + block, m)
                c = xn[i0:i1] @ xn.T                   # (i1-i0, m)
                bi, bj = np.nonzero(c >= tau)
                gi = bi + i0
                keep = bj > gi                         # id_a < id_b only
                bi, bj, gi = bi[keep], bj[keep], gi[keep]
                if len(gi):
                    frames.append(pd.DataFrame({
                        "id_a": ids[gi], "id_b": ids[bj],
                        "cosine": c[bi, bj]}))
        if not frames:
            return pd.DataFrame({f.name: pd.Series(dtype=object)
                                 for f in out.fields})
        res = pd.concat(frames, ignore_index=True)
        for k in key_cols:
            res[k] = keys_row[k]
        return res[[f.name for f in out.fields]]

    return base.groupBy(*key_cols).applyInPandas(score, out)


def gram_group_pairs_cross(base: DataFrame, keys: list[str], id_col: str,
                           vec_col: str, flag_col: str,
                           tau: float) -> DataFrame:
    """Within-group cosine pairs where AT LEAST ONE side is flagged new —
    the probe-only kernel for incremental dedup against a persisted index.

    `base` carries the group keys, id, vector, and a boolean `flag_col`
    (true = new-batch row, false = indexed row). Per group the kernel
    computes ONLY the new×index cross block (one rectangular matmul) and
    the new×new upper triangle — never index×index, so re-ingesting a
    batch against an N-row index costs O(|new| · |index ∩ cell|) per
    cell, not O(|index ∩ cell|²): the index corpus is probed, never
    re-compared against itself. Same ordering/dtype/zero-norm/dirty-data
    contract as gram_group_pairs (null vectors dropped, per-length
    scoring); id_a < id_b over the global id order.

    Each pair row also carries ``new_a``/``new_b`` — the endpoints' flag
    values, free inside the kernel (r14): the caller previously joined
    the pair list back onto `base` TWICE to recover them, re-evaluating
    the whole probe subtree (index scan included) per join — the
    shared-subtree law at its most expensive.
    """
    import numpy as np
    import pandas as pd

    id_type = base.schema[id_col].dataType
    out = StructType(
        [StructField(k, base.schema[k].dataType) for k in keys]
        + [StructField("id_a", id_type), StructField("id_b", id_type),
           StructField("cosine", DoubleType()),
           StructField("new_a", BooleanType()),
           StructField("new_b", BooleanType())])
    key_cols = list(keys)

    def score(pdf: "pd.DataFrame") -> "pd.DataFrame":
        keys_row = pdf.iloc[0]
        pdf = pdf[pdf[vec_col].notna()]
        if len(pdf) < 2 or not pdf[flag_col].any():
            return pd.DataFrame({f.name: pd.Series(dtype=object)
                                 for f in out.fields})
        pdf = pdf.sort_values(id_col, kind="mergesort")
        lens = pdf[vec_col].map(len).to_numpy()
        frames = []
        for length in np.unique(lens):
            sub = pdf[lens == length]
            if len(sub) < 2:
                continue
            ids = sub[id_col].to_numpy()
            new_mask = sub[flag_col].to_numpy(dtype=bool)
            if not new_mask.any():
                continue
            x = np.array([np.asarray(v, dtype=np.float64)
                          for v in sub[vec_col]])
            with np.errstate(divide="ignore", invalid="ignore"):
                xn = x / np.sqrt((x * x).sum(axis=1, keepdims=True))
            n_idx = np.nonzero(new_mask)[0]
            block = max(1, min(len(n_idx), _BLOCK_ELEMS // len(sub)))
            for b0 in range(0, len(n_idx), block):
                rows = n_idx[b0:b0 + block]
                c = xn[rows] @ xn.T                    # (block, m)
                bi, bj = np.nonzero(c >= tau)
                gi = rows[bi]
                # keep each unordered pair once: always as (min id,
                # max id); new×new pairs appear in both orientations —
                # keep gi < bj; new×index pairs appear once — keep either
                # orientation
                other_new = new_mask[bj]
                keep = np.where(other_new, bj > gi, bj != gi)
                gi, bj, bi = gi[keep], bj[keep], bi[keep]
                if len(gi):
                    lo = np.minimum(gi, bj)
                    hi = np.maximum(gi, bj)
                    frames.append(pd.DataFrame({
                        "id_a": ids[lo], "id_b": ids[hi],
                        "cosine": c[bi, bj],
                        "new_a": new_mask[lo], "new_b": new_mask[hi]}))
        if not frames:
            return pd.DataFrame({f.name: pd.Series(dtype=object)
                                 for f in out.fields})
        res = pd.concat(frames, ignore_index=True)
        for k in key_cols:
            res[k] = keys_row[k]
        return res[[f.name for f in out.fields]]

    return base.groupBy(*key_cols).applyInPandas(score, out)
