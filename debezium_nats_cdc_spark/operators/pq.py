"""Product quantization (PQ) — the memory leg of large-scale ANN
(SURVEY §2.K2's similarity family; IVF-PQ is the standard pairing of
this module with `operators/ann_index.py`).

At 100 TB the binding constraint on similarity search is BYTES PER
VECTOR, not FLOPs: a 64-dim float32 embedding is 256 B, and an
exhaustive or per-cell scan pays that for every candidate.  PQ splits
each vector into ``m`` subvectors and replaces each with the id of its
nearest sub-centroid from a per-subspace codebook of ``k`` entries —
``m`` small ints per vector (m=8, k=16 → 8 codes ≈ 8 B, a 32x cut vs
float32, 64x vs the fp64 the store writes today).  Search then runs
ASYMMETRIC DISTANCE COMPUTATION (ADC): per query, precompute an m×k
lookup table of exact subspace distances, and score every candidate as
a SUM OF m TABLE LOOKUPS over its codes — no float vector is ever
touched on the scan side.  (Jégou, Douze, Schmid, "Product
Quantization for Nearest Neighbor Search", TPAMI 2011 — public
literature, the basis of FAISS's IVF-PQ.)

Engine fit (each piece follows an existing discipline):
  * ``pq_train`` is SAMPLE-based and driver-side, like ``pca_fit``
    collects only the covariance triangle and ``recommend_nprobe``
    self-probes a stride sample: codebook k-means over every
    ``sample_stride``-th vector (deterministic — sample ordered by
    vec_id, seeds = the first k distinct subvectors, argmin ties to
    the lowest code, fixed Lloyd rounds).  The collected sample is
    HARD-CAPPED: by default the stride is auto-derived from a cheap
    count so the sample stays ≤ ``max_sample`` rows (≈100k), and the
    collect itself is a top-N under a ``2×max_sample`` gate that
    fails loudly instead of pulling the corpus to the driver (the
    ``components.py`` edge-gate pattern); training PQ codebooks on a
    bounded sample is the standard construction at any corpus size.
  * ``pq_encode`` / ``pq_search_adc`` are Arrow-batched kernels
    (``plane_sign_word_arrow``'s pattern): one vectorized pass per
    batch, corrupt rows (NULL / ragged / NaN / inf) yield SQL NULL
    instead of failing the stage — the engine-wide dirty-input
    contract via the shared ``_stack_valid`` guard.
  * Scale shape: encode is map-only (scan → codes, no shuffle); ADC
    search shuffles only the per-query top-k (k rows per query, the
    ``sim_cosine_topk`` shape).  Composed with the IVF layout, codes
    live beside their cell partitions and a probe ADC-scans nprobe
    cells — the IVF-PQ plan.
  * Cosine parity: callers L2-normalize vectors first (the corpus
    embeddings are scored by cosine everywhere else in this engine);
    on normalized vectors squared-L2 ADC ranks identically to cosine
    (d² = 2 − 2·cos), so recall is measured against the exact cosine
    top-k (tests/test_pq.py pins the floor).

Reference parity: the reference specifies embedding-similarity reads
over CDC-maintained vector state (docs/system-design.md, the
derived-store/materialized-view sections); PQ is the compression tier
a 100 TB deployment of that read path requires.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.vectors import _stack_valid
from ..io import local_frame

_MAX_ADC_QUERIES = 64  # ADC LUTs are built driver-side per query
_MAX_TRAIN_SAMPLE = 100_000  # pq_train's driver-side sample cap (rows)
_KMEANS_BLOCK = 4096  # rows per distance block — peaks at
#   block × k × dsub float64 (4096×256×8×8B ≈ 64 MB at k=256) instead
#   of the full n × k × dsub tensor (100k rows × k=256 × dsub=8 ≈
#   1.6 GB, ~2× that with the subtraction temporary)


@dataclass
class PqModel:
    """Trained product quantizer (plain data, picklable).

    ``codebooks[j][c]`` is sub-centroid ``c`` of subspace ``j`` —
    m × k × dsub floats (m=8, k=16, dsub=8 → 4 KB; always broadcast).
    """
    dim: int
    m: int
    k: int
    codebooks: list[list[list[float]]]

    @property
    def dsub(self) -> int:
        return self.dim // self.m


def _argmin_codes(X, C, block: int = _KMEANS_BLOCK):
    """Row-blocked nearest-sub-centroid assignment (argmin ties to the
    lowest code, identical to the unblocked computation row-for-row —
    rows are independent).  Bounds peak memory to block × k × dsub
    instead of n × k × dsub."""
    import numpy as np

    out = np.empty(X.shape[0], dtype=np.int64)
    for s in range(0, X.shape[0], block):
        B = X[s:s + block]
        d2 = ((B[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        out[s:s + block] = d2.argmin(axis=1)
    return out


def _stride_rows(vectors: DataFrame, id_col: str, emb_col: str,
                 sample_stride: int, limit: int) -> list:
    # orderBy + limit plans as a top-N (TakeOrdered), so BOTH the
    # executors and the driver hold at most ``limit`` rows.
    return (
        vectors.select(F.col(id_col).alias("_id"),
                       F.col(emb_col).alias("_emb"))
        .filter(F.col("_id").isNotNull() & F.col("_emb").isNotNull())
        .filter(F.pmod(F.col("_id"), F.lit(sample_stride)) == 0)
        .orderBy("_id")
        .limit(limit)
        .collect()
    )


def _clean_sample(vectors: DataFrame, id_col: str, emb_col: str,
                  sample_stride: int, cap: int = _MAX_TRAIN_SAMPLE):
    import numpy as np

    # The gate fails loudly instead of training on a silently-clipped
    # sample (ids pathologically aligned with the stride can make the
    # pmod filter keep far more than n/stride rows).
    rows = _stride_rows(vectors, id_col, emb_col, sample_stride,
                        limit=2 * cap + 1)
    if len(rows) > 2 * cap:
        raise ValueError(
            f"pq_train: stride-{sample_stride} sample exceeds "
            f"2×max_sample ({2 * cap} rows) — the id distribution "
            "defeats the stride; pass a larger sample_stride")
    if len(rows) > cap:
        # A skew-aligned id distribution (≤2× overage) slipped past the
        # stride.  len(rows) ≤ 2×cap < the collect's limit, so `rows`
        # provably already holds EVERY stride-matching row — halve it
        # DRIVER-SIDE by id-order position instead of re-striding with
        # a second Spark pass: pmod with a doubled stride depends on
        # the id distribution (ids ≡ s mod 2s match NOTHING doubled —
        # a spurious empty sample; one stray multiple would train a
        # silently degenerate 1-row codebook), while positional
        # halving is distribution-free, deterministic (rows are
        # id-ordered), and lands ceil(len/2) ≤ cap every time
        # (code-review r15).
        rows = rows[::2]
    dim = None
    sample = []
    for r in rows:
        v = r["_emb"]
        if v is None:
            continue
        a = np.asarray(v, dtype=np.float64)
        if a.ndim != 1 or a.size == 0 or np.isnan(a).any() \
                or np.isinf(a).any():
            continue
        if dim is None:
            dim = a.size
        if a.size == dim:
            sample.append(a)
    if not sample:
        raise ValueError("pq_train: no valid vectors in the sample")
    return np.vstack(sample), dim


def pq_train(vectors: DataFrame, m: int = 8, k: int = 16,
             rounds: int = 5, sample_stride: int | None = None,
             id_col: str = "vec_id", emb_col: str = "embedding",
             max_sample: int = _MAX_TRAIN_SAMPLE) -> PqModel:
    """Fit per-subspace codebooks on a deterministic stride sample.

    The driver-side sample is BOUNDED: with ``sample_stride=None``
    (the default) the stride is derived from a cheap count —
    ``ceil(n / max_sample)`` — and every SUCCESS path trains on
    ≤ ``max_sample`` rows no matter the corpus size: an id
    distribution mildly aligned with the stride (≤2× overage, which
    the top-N collect provably holds in full) is halved driver-side
    by id-order position, and anything past that hard-fails under
    ``_clean_sample``'s ``2×max_sample`` gate (never a whole-corpus
    collect either way).  An explicit stride runs under the same
    gates.

    Deterministic by construction: the derived stride depends only on
    the row count, the sample is ordered by id, seeds are the first
    ``k`` DISTINCT subvectors in that order, Lloyd argmin ties break
    to the lowest code, and rounds are fixed — two trains on the same
    input are byte-identical (pytest-pinned).  Empty clusters keep
    their previous centroid (the FAISS convention at this scale of k).
    """
    import math

    import numpy as np

    if max_sample < 1:
        raise ValueError("pq_train: max_sample must be >= 1")
    if sample_stride is None:
        n = (
            vectors.select(F.col(id_col).alias("_id"))
            .filter(F.col("_id").isNotNull())
            .count()
        )
        sample_stride = max(1, math.ceil(n / max_sample))
    S, dim = _clean_sample(vectors, id_col, emb_col, sample_stride,
                           cap=max_sample)
    if dim % m != 0:
        raise ValueError(f"pq_train: dim {dim} not divisible by m={m}")
    dsub = dim // m
    books = []
    for j in range(m):
        X = S[:, j * dsub:(j + 1) * dsub]
        seeds, seen = [], set()
        for row in X:
            key = row.tobytes()
            if key not in seen:
                seen.add(key)
                seeds.append(row)
            if len(seeds) == k:
                break
        C = np.vstack(seeds)
        kj = C.shape[0]  # may be < k on a tiny/degenerate sample
        for _ in range(rounds):
            assign = _argmin_codes(X, C)  # ties -> lowest code
            for c in range(kj):
                hit = X[assign == c]
                if len(hit):
                    C[c] = hit.mean(axis=0)
        books.append([[float(x) for x in row] for row in C])
    return PqModel(dim=dim, m=m, k=k, codebooks=books)


def _books_array(model: PqModel):
    import numpy as np

    # m × k × dsub, padded codebooks never occur (kj <= k handled by
    # storing exactly what was trained)
    return [np.asarray(b, dtype=np.float64) for b in model.codebooks]


def pq_encode(vectors: DataFrame, model: PqModel,
              id_col: str = "vec_id",
              emb_col: str = "embedding") -> DataFrame:
    """(id, codes array<int>) — map-only, Arrow-batched; corrupt rows
    get NULL codes (dirty-input contract)."""
    from pyspark.sql.functions import pandas_udf

    books = [[list(map(float, row)) for row in b] for b in model.codebooks]
    dim, m, dsub = model.dim, model.m, model.dsub

    @pandas_udf("array<int>")
    def _codes(col):
        import numpy as np
        import pandas as pd

        A, valid = _stack_valid(col.to_numpy(), dim)
        out = [None] * len(valid)
        if A.shape[0]:
            codes = np.empty((A.shape[0], m), dtype=np.int32)
            for j in range(m):
                X = A[:, j * dsub:(j + 1) * dsub]
                C = np.asarray(books[j], dtype=np.float64)
                codes[:, j] = _argmin_codes(X, C)
            it = iter(codes.tolist())
            for i, ok in enumerate(valid):
                if ok:
                    out[i] = next(it)
        return pd.Series(out)

    return vectors.select(
        F.col(id_col).alias("vec_id"),
        _codes(F.col(emb_col)).alias("codes"),
    )


def pq_reconstruct(codes: DataFrame, model: PqModel) -> DataFrame:
    """(vec_id, embedding) decoded from codes — the quantizer's
    approximation, for error audits (tests measure reconstruction MSE
    shrinks as k grows)."""
    from pyspark.sql.functions import pandas_udf

    books = [[list(map(float, row)) for row in b] for b in model.codebooks]
    m = model.m

    @pandas_udf("array<double>")
    def _decode(col):
        import numpy as np
        import pandas as pd

        out = []
        for v in col:
            if v is None or len(v) != m:
                out.append(None)
                continue
            parts = [books[j][int(v[j])] for j in range(m)]
            out.append([float(x) for p in parts for x in p])
        return pd.Series(out)

    return codes.select("vec_id", _decode(F.col("codes")).alias("embedding"))


def pq_search_adc(spark: SparkSession, queries: DataFrame,
                  codes: DataFrame, model: PqModel, k: int = 10,
                  id_col: str = "vec_id",
                  emb_col: str = "embedding",
                  probes: DataFrame | None = None) -> DataFrame:
    """Asymmetric-distance top-k: per query an exact m×k subspace LUT,
    per candidate a SUM of m lookups over its codes — the scan never
    touches a float vector.

    Returns (query_id, neighbor_id, adc_dist, rnk), rnk by ascending
    squared-L2 ADC distance with id tiebreak (on normalized vectors
    this is exactly descending-cosine order).  Queries are collected
    driver-side to build LUTs — bounded by ``_MAX_ADC_QUERIES``, the
    only driver collect of an IVF-PQ read; batch-mode querying
    composes by chunking.

    ``probes`` (optional): a small (query_id, cell_id) frame — the
    per-query probe sets of an IVF read.  When given, ``codes`` must
    carry ``cell_id`` and each query's candidates are restricted to
    ITS OWN probed cells (broadcast semi-filter on (query_id,
    cell_id)), preserving per-query probe semantics when one scan
    serves a query batch whose probe sets differ — without it a
    query could rank neighbors from cells it never probed.  The
    filter sits between the LUT-sum and the rank: the sum is a
    vectorized m-add per (query, candidate) over a scan that must
    read the probe UNION anyway (one pass serves the batch), so
    pruning it per-cell would buy microseconds at the cost of
    per-cell grouped kernels — what matters at scale is that only
    probed (query, candidate) pairs enter the top-k rank SHUFFLE,
    and the filter guarantees exactly that.  Corrupt code rows
    (wrong arity or any code outside [0, k)) yield no candidates
    instead of failing the stage (dirty-input contract).
    """
    import numpy as np
    from pyspark.sql import Window as W
    from pyspark.sql.functions import pandas_udf

    m, dsub, dim = model.m, model.dsub, model.dim
    q_rows = (
        queries.select(F.col(id_col).alias("_qid"),
                       F.col(emb_col).alias("_qemb"))
        .filter(F.col("_qid").isNotNull() & F.col("_qemb").isNotNull())
        .limit(_MAX_ADC_QUERIES + 1)
        .collect()
    )
    if len(q_rows) > _MAX_ADC_QUERIES:
        raise ValueError(
            f"pq_search_adc: more than {_MAX_ADC_QUERIES} queries — "
            "chunk the query set (LUTs are built driver-side per query)")
    books = _books_array(model)
    luts, qids = [], []
    for r in q_rows:
        a = np.asarray(r["_qemb"], dtype=np.float64)
        if a.ndim != 1 or a.size != dim or np.isnan(a).any() \
                or np.isinf(a).any():
            continue
        lut = np.empty((m, model.k), dtype=np.float64)
        for j in range(m):
            qsub = a[j * dsub:(j + 1) * dsub]
            C = books[j]
            lut[j, :C.shape[0]] = ((C - qsub) ** 2).sum(axis=1)
            if C.shape[0] < model.k:
                lut[j, C.shape[0]:] = np.inf
        luts.append(lut.tolist())
        qids.append(r["_qid"])
    if not qids:
        return local_frame(
            spark, [], "query_id bigint, neighbor_id bigint, "
                "adc_dist double, rnk int")
    luts_l = luts  # closure copies (plain lists — picklable)
    kk = model.k

    @pandas_udf("array<double>")
    def _adc(col):
        import numpy as np
        import pandas as pd

        L = np.asarray(luts_l, dtype=np.float64)  # Q × m × k
        out = []
        for v in col:
            if v is None or len(v) != m:
                out.append(None)
                continue
            c = np.asarray(v, dtype=np.int64)
            # out-of-range codes (corrupt store) -> NULL, matching the
            # _stack_valid contract: a code >= k would IndexError and
            # a negative one silently wraps to the wrong centroid
            if c.size and (c.min() < 0 or c.max() >= kk):
                out.append(None)
                continue
            out.append([float(x) for x in L[:, np.arange(m), c].sum(axis=1)])
        return pd.Series(out)

    carry = ["cell_id"] if probes is not None else []
    scored = (
        codes.filter(F.col("codes").isNotNull())
        .select("vec_id", *carry, _adc(F.col("codes")).alias("_d"))
        .filter(F.col("_d").isNotNull())
        .select("vec_id", *carry,
                F.posexplode("_d").alias("_qpos", "adc_dist"))
    )
    # uniformly bigint literals: mixed int/long elements fail to
    # resolve, and the type must match the empty-result schema
    qid_map = F.element_at(
        F.array(*[F.lit(q).cast("bigint") for q in qids]),
        F.col("_qpos") + 1)
    scored = scored.select(
        qid_map.alias("query_id"),
        F.col("vec_id").alias("neighbor_id"),
        *carry,
        F.round(F.col("adc_dist"), 9).alias("adc_dist"),
    )
    if probes is not None:
        own_cells = (
            probes.select(F.col("query_id").cast("bigint").alias("query_id"),
                          F.col("cell_id").cast("int").alias("cell_id"))
            .dropDuplicates(["query_id", "cell_id"])
        )
        scored = (
            scored.withColumn("cell_id", F.col("cell_id").cast("int"))
            .join(F.broadcast(own_cells), ["query_id", "cell_id"])
            .drop("cell_id")
        )
    w = W.partitionBy("query_id").orderBy(F.asc("adc_dist"),
                                          F.asc("neighbor_id"))
    return (
        scored
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .withColumn("rnk", F.col("rnk").cast("int"))
    )
