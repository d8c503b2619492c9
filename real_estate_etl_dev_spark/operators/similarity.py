"""Similarity search over embedding columns — ANN component of the
LLM-data pipeline (VERDICT r01 item 5).

Two tiers:

* ``cosine_topk``    — exact brute-force top-k for a bounded query
  set: broadcast the queries, one pass over the corpus, per-query
  window rank.  Correctness baseline and the right plan when
  |queries| is small (the corpus is never self-joined).
* ``lsh_topk``       — sign-random-projection LSH: deterministic
  hyperplanes derived from xxhash64, bucket join, exact re-rank
  within buckets.  The scale path: candidate generation is an
  equality join on bucket signatures.

Embedding math stays JVM-side via zip_with/aggregate — no Python in
the distance kernel.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..benchmeta import local_frame
from ..sources.readers import fan_out


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(v: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(v, lambda x: x * x), F.lit(0.0), lambda acc, e: acc + e
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


# Driver-batch bound for every kernel that collects the query/probe
# side into the task closure (VERDICT r14 item 7): the contract of
# these paths is a BOUNDED query batch (they were broadcast before the
# r14/r15 vectorization, which carries the same implicit bound), but a
# runaway caller should fail loudly here, not OOM the driver.  100k
# rows × 64 dims × 8 B ≈ 51 MB — comfortably a broadcast-sized batch.
MAX_QUERY_BATCH_ROWS = 100_000


def _collect_query_batch(queries: DataFrame, id_col: str, vec_col: str, where: str):
    """The (id, vector) query batch as pandas, bounded BEFORE it reaches
    the driver: the collect itself stops one row past the bound (no
    separate count job), and that row trips it."""
    q_pdf = queries.select(id_col, vec_col).limit(MAX_QUERY_BATCH_ROWS + 1).toPandas()
    if len(q_pdf) > MAX_QUERY_BATCH_ROWS:
        raise AssertionError(
            f"{where}: query/probe batch of {len(q_pdf)} rows exceeds the "
            f"documented driver-batch bound ({MAX_QUERY_BATCH_ROWS}); "
            "at this size the batch no longer fits the broadcast "
            "contract — shard the queries or use the index path"
        )
    return q_pdf


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors per query vector.

    Plan: the bounded query batch (the side the previous
    implementation already broadcast) rides the task closure; ONE
    ``mapInPandas`` pass over the corpus scores each partition's rows
    against all queries in vectorized NumPy and emits only each
    partition's per-query top-k candidates (with a tie-safety margin,
    below) → per-query window rank over the surviving sliver (one
    shuffle of ≤ ~k·|queries|·n_partitions rows instead of
    |queries|·|corpus|).  Excludes self-matches.

    Replaced the JVM ``zip_with``/``aggregate`` pair kernel (guide
    §4.2): higher-order functions evaluate interpreted per element, so
    the |q|·|c| kernel dominated (measured 175 µs/pair/core; 5.2s for
    400×1600×64d at sf0.1 → 0.6s).  Bit-exactness is preserved, not
    approximated: the NumPy kernel accumulates dimension-by-dimension
    (``acc += c_i·q_i`` over a float64 accumulator, float32 products
    iff BOTH inputs are float32 — the same widening the JVM fold
    applied), which performs the identical IEEE op sequence as the old
    left-fold, ``sqrt``/division are single correctly-rounded ops on
    both sides, NaN keeps Spark's NaN-sorts-greatest semantics via a
    +inf sentinel, and rounding stays in the JVM ``F.round`` so the
    certified 6-dp values are unchanged.

    Per-partition truncation is SOUND for the rounded ordering: the
    final rank orders by (round(cos, 6) DESC, neighbor ASC), so a row
    can only displace the partition's raw k-th best if its raw cosine
    is within one rounding quantum (1e-6) of it; keeping everything
    above ``kth - 2e-6`` (double the quantum, for fp slop) therefore
    retains every row that can appear in the global top-k
    (pinned by tests/test_llmdata.py::test_cosine_topk_matches_pair_join)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as Tp

    q_pdf = _collect_query_batch(queries, id_col, vec_col, "cosine_topk")
    id_type_q = queries.schema[id_col].dataType
    id_type_c = corpus.schema[id_col].dataType
    out_schema = Tp.StructType(
        [
            Tp.StructField("query_id", id_type_q),
            Tp.StructField("neighbor_id", id_type_c),
            Tp.StructField("cos_sim", Tp.DoubleType()),
        ]
    )
    spark = corpus.sparkSession
    if len(q_pdf) == 0:
        scored = local_frame(spark, [], out_schema)
    else:
        qids = q_pdf[id_col].to_numpy()
        qm = np.stack([np.asarray(v) for v in q_pdf[vec_col]])
        both_f32 = qm.dtype == np.float32

        def _fold_norm(m: np.ndarray) -> np.ndarray:
            # acc64 += x·x with products in the input dtype — the JVM
            # fold's exact op sequence (f32 mul widened into a f64 add
            # for float arrays, pure f64 otherwise)
            acc = np.zeros(m.shape[0], dtype=np.float64)
            for i in range(m.shape[1]):
                acc += m[:, i] * m[:, i]
            return np.sqrt(acc)

        qnorm = _fold_norm(qm)

        def _score(pdfs):
            for pdf in pdfs:
                if len(pdf) == 0:
                    continue
                cids = pdf[id_col].to_numpy()
                cm = np.stack([np.asarray(v) for v in pdf[vec_col]])
                f32 = both_f32 and cm.dtype == np.float32
                cmm = cm if f32 else cm.astype(np.float64, copy=False)
                qmm = qm if f32 else qm.astype(np.float64, copy=False)
                acc = np.zeros((len(pdf), len(qids)), dtype=np.float64)
                for i in range(cmm.shape[1]):
                    acc += cmm[:, i : i + 1] * qmm[None, :, i]
                s = acc / (_fold_norm(cm)[:, None] * qnorm[None, :])
                # NaN ranks greatest under Spark's DESC sort — model it
                # as +inf for selection; self-pairs drop to -inf.
                s_adj = np.where(np.isnan(s), np.inf, s)
                s_adj[cids[:, None] == qids[None, :]] = -np.inf
                if s_adj.shape[0] > k:
                    thr = np.sort(s_adj, axis=0)[-k, :]
                else:
                    thr = np.full(len(qids), -np.inf)
                keep = (s_adj >= thr[None, :] - 2e-6) & (s_adj > -np.inf)
                ii, jj = np.nonzero(keep)
                yield pd.DataFrame(
                    {
                        "query_id": qids[jj],
                        "neighbor_id": cids[ii],
                        "cos_sim": s[ii, jj],
                    }
                )

        scored = corpus.select(F.col(id_col), F.col(vec_col)).mapInPandas(
            _score, out_schema
        )
    scored = scored.select(
        "query_id", "neighbor_id", F.round("cos_sim", 6).alias("cos_sim")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def cosine_prefix_scores(
    corpus: DataFrame,
    queries: DataFrame,
    dims: tuple,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """RAW prefix-truncated cosines of every (query, corpus) pair at
    each prefix width in ``dims`` — one vectorized NumPy pass over the
    corpus (guide §4.2), the multi-width sibling of
    :func:`cosine_topk`'s kernel.  Returns one row per non-self pair
    with columns ``cos_d{d}`` (raw double; callers apply the certified
    JVM ``F.round``).

    Bit-exactness: the JVM expression this replaces evaluates
    ``cosine(slice(q, 1, d), slice(c, 1, d))`` per width — a
    sequential left fold over the first ``d`` elements.  The kernel
    accumulates dot and both square-norms dimension BY dimension in
    float64 and snapshots all three accumulators at each width in
    ``dims``, so the prefix value IS the first ``d`` iterations of the
    identical IEEE op sequence; ``sqrt`` and the final division are
    single correctly-rounded ops on both sides, and a zero-norm
    prefix yields the same NaN.  Pinned by
    ``tests/test_llmdata.py::test_cosine_prefix_scores_matches_jvm``.

    Scale: the bounded query batch rides the task closure; the corpus
    is scanned once, and the pair frame that leaves Python carries
    only ids + |dims| doubles — the vectors never enter a shuffle."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as Tp

    dims = tuple(dims)
    id_type_q = queries.schema[id_col].dataType
    id_type_c = corpus.schema[id_col].dataType
    out_schema = Tp.StructType(
        [
            Tp.StructField("query_id", id_type_q),
            Tp.StructField("neighbor_id", id_type_c),
            *[Tp.StructField(f"cos_d{d}", Tp.DoubleType()) for d in dims],
        ]
    )
    q_pdf = _collect_query_batch(queries, id_col, vec_col, "cosine_prefix_scores")
    spark = corpus.sparkSession
    if len(q_pdf) == 0:
        return local_frame(spark, [], out_schema)
    # ADVICE r14: a dim beyond the vector width would otherwise raise
    # KeyError(out[d]) deep inside the executor — and a too-SHORT max
    # dim would silently hand callers a prefix score as the "full"
    # cosine if the fixture's vector-width contract ever drifts.
    vec_len = len(q_pdf[vec_col].iloc[0])
    if max(dims) != vec_len:
        raise AssertionError(
            f"cosine_prefix_scores: max(dims)={max(dims)} must equal "
            f"the vector width {vec_len} — the widest score IS the "
            "full cosine by contract"
        )
    qids = q_pdf[id_col].to_numpy()
    qm = np.stack([np.asarray(v) for v in q_pdf[vec_col]]).astype(
        np.float64, copy=False
    )
    dimset = set(dims)

    def _score(pdfs):
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            cids = pdf[id_col].to_numpy()
            cm = np.stack([np.asarray(v) for v in pdf[vec_col]]).astype(
                np.float64, copy=False
            )
            n_c, n_q = len(cids), len(qids)
            dot = np.zeros((n_c, n_q), dtype=np.float64)
            cn = np.zeros(n_c, dtype=np.float64)
            qn = np.zeros(n_q, dtype=np.float64)
            out = {}
            for i in range(cm.shape[1]):
                dot += cm[:, i : i + 1] * qm[None, :, i]
                cn += cm[:, i] * cm[:, i]
                qn += qm[:, i] * qm[:, i]
                if (i + 1) in dimset:
                    with np.errstate(divide="ignore", invalid="ignore"):
                        out[i + 1] = dot / (
                            np.sqrt(cn)[:, None] * np.sqrt(qn)[None, :]
                        )
            keep = cids[:, None] != qids[None, :]
            ii, jj = np.nonzero(keep)
            yield pd.DataFrame(
                {
                    "query_id": qids[jj],
                    "neighbor_id": cids[ii],
                    **{f"cos_d{d}": out[d][ii, jj] for d in dims},
                }
            )

    return corpus.select(F.col(id_col), F.col(vec_col)).mapInPandas(
        _score, out_schema
    )


def blocked_cosine_pairs_np(
    frame: DataFrame,
    block_col: str,
    id_col: str,
    vec_col: str,
    min_raw_cos: float,
) -> DataFrame:
    """All within-block ``id_a < id_b`` cosine pairs whose RAW cosine
    clears ``min_raw_cos``, scored in one vectorized NumPy pass per
    block — the blocked-pair twin of :func:`cosine_topk`'s kernel
    (guide §4.2: the JVM ``zip_with``/``aggregate`` pair expression
    evaluates interpreted per element, so a Σ block² stage pays
    ~µs/pair/dim; the NumPy kernel is the same flops vectorized).

    Bit-exactness: the kernel replays the JVM expression pipeline op
    for op — norm = sqrt of the dimension-order left-fold of x·x,
    normalization is the per-element double division x/n, and the
    pair dot accumulates dimension-by-dimension into a float64
    accumulator, the exact IEEE sequence of ``dot(__na, __nb)`` on
    pre-normalized vectors.  Rounding is NOT done here: callers apply
    the certified JVM ``F.round(..., 6)`` and threshold on the
    rounded value, so ``min_raw_cos`` must sit at least one rounding
    quantum below the certified threshold (pass ``t - 2e-6``) — every
    pair that can round up to the threshold survives the raw cut.
    NaN cosines (zero vectors) are KEPT, matching Spark's
    NaN-is-greatest comparison semantics downstream.

    Returns (``id_a``, ``id_b``, ``cos_raw``) with the input id type.
    Block sizes bound the per-task quadratic work — this is the
    blocked EXACT baseline's own scale posture (at corpus scale the
    block key must come from LSH/IVF bucketing; see
    embedding_near_dup_pairs' docstring)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as Tp

    id_type = frame.schema[id_col].dataType
    out_schema = Tp.StructType(
        [
            Tp.StructField("id_a", id_type),
            Tp.StructField("id_b", id_type),
            Tp.StructField("cos_raw", Tp.DoubleType()),
        ]
    )

    def _block(pdf: "pd.DataFrame") -> "pd.DataFrame":
        ids = pdf[id_col].to_numpy()
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        m = np.stack([np.asarray(v) for v in pdf[vec_col].iloc[order]]).astype(
            np.float64, copy=False
        )
        n_rows, dim = m.shape
        if n_rows < 2:
            return pd.DataFrame({"id_a": ids[:0], "id_b": ids[:0], "cos_raw": []})
        acc = np.zeros(n_rows, dtype=np.float64)
        for i in range(dim):
            acc += m[:, i] * m[:, i]
        with np.errstate(divide="ignore", invalid="ignore"):
            nm = m / np.sqrt(acc)[:, None]
        g = np.zeros((n_rows, n_rows), dtype=np.float64)
        for i in range(dim):
            g += nm[:, i : i + 1] * nm[None, :, i]
        ia, ib = np.triu_indices(n_rows, k=1)
        s = g[ia, ib]
        keep = (s >= min_raw_cos) | np.isnan(s)
        return pd.DataFrame(
            {"id_a": ids[ia[keep]], "id_b": ids[ib[keep]], "cos_raw": s[keep]}
        )

    return (
        frame.select(block_col, id_col, vec_col)
        .groupBy(block_col)
        .applyInPandas(_block, out_schema)
    )


def rp_signature(vec: Column, n_planes: int = 8, seed: int = 7) -> Column:
    """Deterministic sign-random-projection signature (n_planes bits).

    Plane components are pseudo-random in [-1, 1), derived from
    xxhash64(plane, element-index, seed) — identical on every row and
    every executor without shipping a plane matrix."""
    def comp(p: int, i: Column) -> Column:
        h = F.xxhash64(F.concat_ws(":", F.lit(seed), F.lit(p), i.cast("string")))
        return (F.pmod(h, F.lit(2000)).cast("double") - 1000.0) / 1000.0

    def plane(p: int):
        # a ONE-ARG closure: a two-parameter lambda (``lambda i, p=p``)
        # is treated by F.transform as its (element, index) form, so
        # the index column SHADOWS the default-bound plane id — every
        # plane then computes the same projection and the signature
        # degenerates to 2 buckets (found live by the r08 operating-
        # curve audit: |corpus|/2 candidates per query instead of the
        # promised |corpus|/2^p; pinned by
        # tests/test_llmdata.py::test_rp_signature_planes_are_distinct)
        return lambda i: comp(p, i)

    bits = [
        F.when(
            F.aggregate(
                F.zip_with(
                    vec,
                    F.transform(
                        F.sequence(F.lit(0), F.size(vec) - 1),
                        plane(p),
                    ),
                    lambda x, c: x * c,
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            >= 0,
            F.lit(1 << p),
        ).otherwise(F.lit(0))
        for p in range(n_planes)
    ]
    sig = bits[0]
    for b in bits[1:]:
        sig = sig + b
    return sig.cast("int")


def ivf_index(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 8,
    seed: int = 42,
    max_iter: int = 8,
) -> tuple[DataFrame, DataFrame]:
    """The IVF index build: KMeans-partition the corpus once, return
    (assigned, centers_df) — ``assigned`` is (neighbor_id, __cvec,
    __cell), ``centers_df`` is the n_centroids-row (__cell, __center)
    lookup.  Split out of :func:`ivf_topk` so a STREAMING consumer can
    build (and persist) the index once and search it per trigger —
    the cost amortization the index exists for.

    Loose fit: ANN cells need rough Voronoi regions, not converged
    centroids — recall is governed by n_probe, not fit quality — so
    skip k-means|| init (several full corpus passes) and the default
    20 iterations."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = corpus.select(
        F.col(id_col), F.col(vec_col), array_to_vector(F.col(vec_col)).alias("__v")
    )
    km = KMeans(
        k=n_centroids,
        seed=seed,
        maxIter=max_iter,
        initMode="random",
        featuresCol="__v",
        predictionCol="__cell",
    )
    model = km.fit(feat)
    assigned = model.transform(feat).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cvec"),
        F.col("__cell"),
    )
    centers = [
        (int(i), [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
    ]
    centers_df = local_frame(
        corpus.sparkSession, centers, "__cell int, __center array<double>"
    )
    return assigned, centers_df


def ivf_search(
    assigned: DataFrame,
    centers_df: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 2,
) -> DataFrame:
    """Search a prebuilt IVF index (:func:`ivf_index`): rank the
    (tiny, broadcast) centroid set per query, keep the ``n_probe``
    nearest cells, exact cosine re-rank inside the probed cells.
    Per-query work is ``n_probe/n_centroids`` of the corpus."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qvec")
    )
    qc = q.join(F.broadcast(centers_df))
    wq = Window.partitionBy("query_id").orderBy(
        F.desc(cosine(F.col("__qvec"), F.col("__center"))), F.asc("__cell")
    )
    probes = (
        qc.withColumn("__cr", F.row_number().over(wq))
        .filter(F.col("__cr") <= n_probe)
        .select("query_id", "__qvec", "__cell")
    )
    scored = ivf_scored_from_cells(assigned, probes)
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 8,
    n_probe: int = 2,
    seed: int = 42,
    max_iter: int = 8,
) -> DataFrame:
    """IVF-style ANN: KMeans-partition the corpus once, then search
    each query only in its ``n_probe`` nearest cells, with exact
    cosine re-rank inside the probed cells.

    Scale: the index pass is one KMeans fit (sampled at very large
    corpora) + one map-only assignment; per-query work is
    ``n_probe/n_centroids`` of the corpus.  Cell assignments persist
    with the corpus, so queries amortize the index.  Recall tunes
    with n_probe.  (Pure composition of :func:`ivf_index` +
    :func:`ivf_search` — the split is output-identical, pinned by
    tests/test_layout_ivf.py's brute-force equalities.)"""
    assigned, centers_df = ivf_index(
        corpus,
        id_col=id_col,
        vec_col=vec_col,
        n_centroids=n_centroids,
        seed=seed,
        max_iter=max_iter,
    )
    return ivf_search(
        assigned,
        centers_df,
        queries,
        k=k,
        id_col=id_col,
        vec_col=vec_col,
        n_probe=n_probe,
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    seed: int = 7,
) -> DataFrame:
    """Approximate top-k: candidates share the query's LSH bucket,
    exact cosine re-rank within the bucket.

    Scale: corpus is signed once (map-only) and joined by bucket
    equality — per-query work is bucket occupancy (~|corpus| / 2^p),
    not |corpus|.  Recall tunes with n_planes; increase tables by
    unioning signatures at different seeds."""
    scored = lsh_scored(
        corpus,
        queries,
        id_col,
        vec_col,
        lambda v: rp_signature(v, n_planes, seed),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def lsh_scored(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    signature,
) -> DataFrame:
    """The LSH candidate join + exact cosine scoring, pre-rank —
    shared by :func:`lsh_topk` (production xxhash64 hyperplanes) and
    the certifiable operating-curve audit (LCG hyperplanes a SQL
    oracle can recompute).  ``signature`` maps a vector Column to a
    bucket Column; candidates are bucket-equality rows with the self
    match removed.  Returns (query_id, neighbor_id, cos_sim)."""
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cvec"),
        signature(F.col(vec_col)).alias("__bucket"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qvec"),
        signature(F.col(vec_col)).alias("__bucket"),
    )
    return _bucket_scored(c, q)


def _bucket_scored(c: DataFrame, q: DataFrame) -> DataFrame:
    """Bucket-equality candidate join + exact cosine, pre-rank: the
    one join every LSH path (production signature or audit twin, live
    or pre-signed frames) goes through.  ``c`` carries (neighbor_id,
    __cvec, __bucket), ``q`` (query_id, __qvec, __bucket).

    r15 (guide §1.2 step 2): each row's norm is bound ONCE before the
    join — the pair expression previously recomputed BOTH vectors'
    norms per candidate pair (3× the interpreted HOF flops; the same
    norm-binding cosine_topk's old join form got in r08).  Values are
    bit-identical: l2_norm per row is the same fold, and the divisor
    ``__qn * __cn`` multiplies in the same (query, corpus) order as
    ``cosine``'s ``l2_norm(a) * l2_norm(b)``.

    A fully vectorized mapInPandas kernel (the cosine_topk treatment)
    was implemented and REVERTED here in r15: on the keyed paths the
    bucket/cell pruning keeps candidate volume small — that pruning IS
    the optimization — so the per-pair JVM cost it removes is minor
    while the per-task Python round-trips it adds are not (measured:
    embedding_ann_recall_cost warm 6.1 → 14.0s, embedding_ann_ivf
    3.7 → 4.4s).  Vectorization pays exactly where every pair is
    scored (cosine_topk, blocked_cosine_pairs_np), not behind a
    selective candidate join."""
    cn = c.withColumn("__cn", l2_norm(F.col("__cvec")))
    qn = q.withColumn("__qn", l2_norm(F.col("__qvec")))
    return (
        cn.join(F.broadcast(qn), "__bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot(F.col("__qvec"), F.col("__cvec"))
                / (F.col("__qn") * F.col("__cn")),
                6,
            ).alias("cos_sim"),
        )
    )


def lcg_rp_signature(vec: Column, n_planes: int = 10, dim: int | None = None) -> Column:
    """Sign-random-projection signature with a CROSS-ENGINE-EXACT
    construction — the certifiable twin of :func:`rp_signature` for
    the ANN operating-curve audit (VERDICT r07 item 4):

    * plane components are TWO glibc-constant LCG steps over the
      integer ``p * 4099 + i`` (plane, element index), taking the
      second iterate's HIGH bits, mapped to [-1024, 1023] / 1024 —
      pure 64-bit integer arithmetic both engines compute
      identically (xxhash64 has no DuckDB twin).  The stride must be
      ODD and the extraction high-bit: a 4096 stride vanishes mod
      the low-bit window (4096 ≡ 0 mod 2048 under the 2^31 modulus),
      collapsing every plane to the same component sequence — found
      live: all sweep widths produced identical buckets.  Measured
      on the committed fixture: per-plane sign balance 0.48–0.53,
      bucket count 16→216 as width sweeps 4→10;
    * each projection term ``v_i · c_pi`` is rounded to 6 dp and cast
      to DECIMAL(24,6) BEFORE summing — decimal addition is
      associative, so the projection's sign is identical no matter
      the accumulation order (the doc_lm_cross_entropy recipe; a raw
      double sum could flip sign under reordering exactly at the
      bucket boundary);
    * bit p is ``projection >= 0``; the signature packs bits 0..n-1,
      so ``sig & (2^p - 1)`` is the p-plane signature — ONE
      computation serves every sweep point.

    Any deterministic sign function of the vector is a valid SRP
    family; quantizing the projection changes WHICH family, not its
    locality-sensitivity.  Identical vectors get identical decimal
    projections, hence identical signatures at every width — the
    planted-copy recall theorem the audit certifies.

    When ``dim`` (the fixed vector length) is known, the plane
    components — which depend only on (plane, index), never on the
    data — are constant-folded into literal arrays computed with the
    same pure integer arithmetic in Python (exact: ints, floor-div,
    and /1024.0 are all integer/exponent-shift ops, so the doubles
    are identical), instead of re-running the two LCG steps per
    ELEMENT PER ROW inside the fold (guide §1.2 step 2; measured
    1.9s → 1.26s on the 2016×10×64 signing pass at sf0.1).  The
    per-term round/cast and the decimal fold are unchanged, so
    signatures are bit-identical (pinned by
    tests/test_llmdata.py::test_lcg_signature_folded_equals_dynamic)."""
    if dim is not None:

        def comp_py(p: int, i: int) -> float:
            a = 1103515245
            n1 = (a * (p * 4099 + i) + 12345) % 2**31
            n2 = (a * n1 + 12345) % 2**31
            return float(n2 // 65536 % 2048 - 1024) / 1024.0

        sig_f = F.lit(0)
        for p in range(n_planes):
            plane_lit = F.array(*[F.lit(comp_py(p, i)) for i in range(dim)])
            terms = F.zip_with(
                vec,
                plane_lit,
                lambda x, c: F.round(x * c, 6).cast("decimal(24,6)"),
            )
            proj = F.aggregate(
                terms,
                F.lit(0).cast("decimal(24,6)"),
                lambda acc, v: (acc + v).cast("decimal(24,6)"),
            )
            sig_f = sig_f + F.when(proj >= 0, F.lit(1 << p)).otherwise(
                F.lit(0)
            )
        return sig_f.cast("long")

    def comp(p: int, i: Column) -> Column:
        # long arithmetic throughout: 1103515245 · (2^31-1) tops out
        # near 2^61 — an INT product would overflow under ANSI
        a = F.lit(1103515245).cast("long")
        n1 = (a * (F.lit(p * 4099) + i).cast("long") + F.lit(12345)) % F.lit(
            2**31
        )
        n2 = (a * n1 + F.lit(12345)) % F.lit(2**31)
        # exact floor-div: n2 < 2^31 is double-exact and /2^16 is a
        # pure exponent shift, so floor() sees no rounding noise
        hi = F.floor(n2 / F.lit(65536)).cast("long")
        return (hi % F.lit(2048) - F.lit(1024)).cast("double") / F.lit(1024.0)

    def plane(p: int):
        # one-arg closure, NOT ``lambda i, p=p`` — see rp_signature's
        # plane() note: a 2-param lambda becomes the (element, index)
        # form and the index shadows the plane id
        return lambda i: comp(p, i)

    def projection(p: int) -> Column:
        terms = F.zip_with(
            vec,
            F.transform(F.sequence(F.lit(0), F.size(vec) - 1), plane(p)),
            lambda x, c: F.round(x * c, 6).cast("decimal(24,6)"),
        )
        return F.aggregate(
            terms,
            F.lit(0).cast("decimal(24,6)"),
            lambda acc, v: (acc + v).cast("decimal(24,6)"),
        )

    sig = F.lit(0)
    for p in range(n_planes):
        sig = sig + F.when(projection(p) >= 0, F.lit(1 << p)).otherwise(F.lit(0))
    return sig.cast("long")


def decimal_sq_dist(a: Column, b: Column) -> Column:
    """Squared euclidean distance with per-term 6-dp DECIMAL rounding
    — the order-independent metric of the audit's deterministic IVF
    twin.  Same quantization argument as :func:`lcg_rp_signature`:
    both engines sum identical decimals, so argmin cell assignments
    can never drift across engines or partitionings."""
    return F.aggregate(
        F.zip_with(
            a, b, lambda x, y: F.round((x - y) * (x - y), 6).cast("decimal(24,6)")
        ),
        F.lit(0).cast("decimal(24,6)"),
        lambda acc, v: (acc + v).cast("decimal(24,6)"),
    )


def ivf_scored_from_cells(assigned: DataFrame, probes: DataFrame) -> DataFrame:
    """The IVF probe join + exact cosine scoring, pre-rank — shared
    candidate machinery of :func:`ivf_topk` (KMeans cells) and the
    operating-curve audit (data-vector centroids + decimal metric).
    ``assigned`` carries (neighbor_id, __cvec, __cell); ``probes``
    carries (query_id, __qvec, __cell).  Returns
    (query_id, neighbor_id, cos_sim).

    r15 (guide §1.2 step 2): per-row norms bound before the join —
    same change and same bit-exactness argument as
    :func:`_bucket_scored` (which also documents why the vectorized
    kernel was measured and rejected on these keyed paths)."""
    an = assigned.withColumn("__cn", l2_norm(F.col("__cvec")))
    pn = probes.withColumn("__qn", l2_norm(F.col("__qvec")))
    return (
        an.join(F.broadcast(pn), "__cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot(F.col("__qvec"), F.col("__cvec"))
                / (F.col("__qn") * F.col("__cn")),
                6,
            ).alias("cos_sim"),
        )
    )


def ann_operating_curve(
    corpus: DataFrame,
    queries: DataFrame,
    planted: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    lsh_widths: tuple = (4, 6, 8, 10),
    ivf_probes: tuple = (1, 2, 4),
    k: int = 5,
    dim: int | None = None,
) -> DataFrame:
    """Recall-vs-cost OPERATING CURVE for the ANN tier (VERDICT r07
    item 4) — the bucket-audit analog for similarity search: one row
    per operating point (LSH signature width / IVF probe count) with
    the recall the point buys and the candidate volume it costs.

    * ``planted``   — (query_id, planted_id) ground truth: an exact
      copy of each query planted in the corpus.  ``planted_found``
      counts queries whose copy surfaced as a candidate — the
      theorem-backed recall floor (identical vector ⇒ identical
      signature / same argmin cell at every sweep point).
    * ``candidates_scanned`` — candidate rows the point's bucket/
      probe join produced (post self-filter): the cost axis.
    * ``hits_at5`` / ``recall_at5`` — overlap of the point's top-k
      with the EXACT brute-force top-k (:func:`cosine_topk`): the
      effectiveness axis.

    Candidate generation runs through the SAME machinery as the
    production tiers (:func:`lsh_scored`, :func:`ivf_scored_from_cells`)
    but with the CROSS-ENGINE-EXACT hash family
    (:func:`lcg_rp_signature`, :func:`decimal_sq_dist`, data-vector
    ``centroids``) so a DuckDB oracle recomputes the ENTIRE curve —
    signatures, assignments, probes, ranks, every count — cell for
    cell; xxhash64 planes and KMeans cells have no SQL twin, and a
    hash family swap changes WHICH LSH/IVF instance is audited, not
    the operators under audit.

    Scale: the corpus is signed/assigned ONCE (map-only decimal
    passes, pinned by localCheckpoint); every sweep point derives its
    buckets by masking the widest signature's low bits or filtering
    the probe rank, so the whole curve is one tall
    (tier, param, query, candidate) frame folded by ONE grouped
    aggregation — a handful of linear passes, no per-point scalar
    combines, no quadratic stage."""
    from functools import reduce

    nq = queries.agg(F.count(F.lit(1)).cast("long").alias("n_queries"))
    # exact5 and the IVF assignment each have few cheap consumers —
    # recomputing inside the one candidates job beats paying another
    # fixed-cost local job per frame
    exact5 = cosine_topk(corpus, queries, k, id_col, vec_col).select(
        "query_id", "neighbor_id"
    )

    cent = F.broadcast(centroids.select("__cell", "__center"))
    # pin the corpus assignment: each IVF probe point re-enters
    # `assigned` through ivf_scored_from_cells, and without a
    # checkpoint every point re-runs the decimal argmin pass over the
    # whole corpus — len(ivf_probes) full passes of the curve's most
    # expensive map stage instead of one
    assigned = _argmin_cell(
        corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cvec")
        ),
        cent,
        "neighbor_id",
        "__cvec",
    ).localCheckpoint(eager=True)
    # fan_out (r14): AQE coalesces the argmin group exchange to one
    # partition at fixture byte-sizes and the checkpoint freezes it,
    # so all three IVF probe joins emitted candidates from one core;
    # conditional spread, no-op at real scale.
    assigned = fan_out(assigned)
    q_cells = (
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qvec")
        )
        .crossJoin(cent)
        .withColumn("__d", decimal_sq_dist(F.col("__qvec"), F.col("__center")))
        .withColumn(
            "__cr",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy("__d", "__cell")
            ),
        )
        .select("query_id", "__qvec", "__cell", "__cr")
    )

    # sign corpus ∪ queries ONCE at the widest signature, in ONE job,
    # and pin; each sweep point derives its bucket by masking the low
    # bits — 4 widths (and both join sides) cost a single signing
    # pass, not eight (the decimal projection fold is the curve's
    # dominant map cost, and every extra local job is ~0.5s of fixed
    # scheduling + codegen)
    wide = max(lsh_widths)
    sig_all = (
        corpus.select(
            F.col(id_col).alias("__id"),
            F.col(vec_col).alias("__vec"),
            F.lit(False).alias("__is_q"),
        )
        .unionByName(
            queries.select(
                F.col(id_col).alias("__id"),
                F.col(vec_col).alias("__vec"),
                F.lit(True).alias("__is_q"),
            )
        )
        .select(
            "__id",
            "__vec",
            "__is_q",
            lcg_rp_signature(F.col("__vec"), wide, dim=dim).alias("__sig"),
        )
        .localCheckpoint(eager=True)
    )
    sig_c = sig_all.filter(~F.col("__is_q")).select(
        F.col("__id").alias("neighbor_id"),
        F.col("__vec").alias("__cvec"),
        "__sig",
    )
    sig_q = sig_all.filter("__is_q").select(
        F.col("__id").alias("query_id"),
        F.col("__vec").alias("__qvec"),
        "__sig",
    )

    def tagged(scored: DataFrame, tier: str, param: int) -> DataFrame:
        return scored.select(
            F.lit(tier).alias("tier"),
            F.lit(param).cast("long").alias("param"),
            "query_id",
            "neighbor_id",
            "cos_sim",
        )

    slices = []
    for width in lsh_widths:
        mask = F.lit((1 << width) - 1)
        scored = _bucket_scored(
            sig_c.withColumn("__bucket", F.col("__sig").bitwiseAND(mask)),
            sig_q.withColumn("__bucket", F.col("__sig").bitwiseAND(mask)),
        )
        slices.append(tagged(scored, "lsh", width))
    for n_probe in ivf_probes:
        probes = q_cells.filter(F.col("__cr") <= n_probe).drop("__cr")
        slices.append(
            tagged(ivf_scored_from_cells(assigned, probes), "ivf", n_probe)
        )

    # ONE tall candidates frame; two consumers (stats + top-k) — pin
    cand = reduce(lambda a, b: a.unionByName(b), slices).localCheckpoint(eager=True)
    stats = cand.join(F.broadcast(planted), "query_id", "left").groupBy(
        "tier", "param"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("candidates_scanned"),
        F.countDistinct(
            F.when(F.col("neighbor_id") == F.col("planted_id"), F.col("query_id"))
        ).cast("long").alias("planted_found"),
    )
    w = Window.partitionBy("tier", "param", "query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    ann5 = (
        cand.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= k)
        .select("tier", "param", "query_id", "neighbor_id")
    )
    hits = (
        ann5.join(exact5, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("tier", "param")
        .agg(F.count(F.lit(1)).cast("long").alias("hits_at5"))
    )
    guard = F.col("n_queries") > 0
    return (
        stats.join(hits, ["tier", "param"], "left")
        .withColumn("hits_at5", F.coalesce(F.col("hits_at5"), F.lit(0)).cast("long"))
        .crossJoin(F.broadcast(nq))
        .select(
            "tier",
            "param",
            "n_queries",
            "planted_found",
            F.when(
                guard, F.round(F.col("planted_found") / F.col("n_queries"), 4)
            ).alias("planted_recall"),
            "candidates_scanned",
            "hits_at5",
            F.when(
                guard,
                F.round(F.col("hits_at5") / (F.lit(float(k)) * F.col("n_queries")), 4),
            ).alias("recall_at5"),
        )
        .orderBy("tier", "param")
    )


def _argmin_cell(
    rows: DataFrame, cent: DataFrame, id_name: str, vec_name: str
) -> DataFrame:
    """Assign each vector to its nearest centroid under
    :func:`decimal_sq_dist` (ties by cell id) — the deterministic-IVF
    twin's assignment, metrically IDENTICAL to its probe ranking so
    a planted copy's cell is always its query's first probe.

    The argmin is ``min(struct(__d, __cell))`` grouped on the vector:
    lexicographic struct order is exactly the (__d ASC, __cell ASC)
    rank-1 row the previous window computed, but partial aggregation
    collapses the |centroids| scored rows per vector MAP-SIDE — the
    exchange carries one partial row per vector instead of all scored
    candidates, and the per-group sort disappears (guide §2.2)."""
    return (
        rows.crossJoin(cent)
        .withColumn("__d", decimal_sq_dist(F.col(vec_name), F.col("__center")))
        .groupBy(id_name, vec_name)
        .agg(F.min(F.struct("__d", "__cell")).alias("__m"))
        .select(id_name, vec_name, F.col("__m.__cell").alias("__cell"))
    )


def lloyd_kmeans(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 4,
    iterations: int = 3,
) -> DataFrame:
    """Lloyd k-means over an embedding column with EXACT-DECIMAL
    arithmetic, so every assignment and centroid is a pure function of
    the data — bit-identical across engines and partitionings, hence
    oracle-certifiable (no other distributed k-means is).

    Determinism recipe:
      * components cast float → double → DECIMAL(12,8) (deterministic
        per-value rounding, the embedding_centroids trick);
      * squared-L2 distances are exact decimal sums (decimal + and ×
        are associative — no float summation-order dependence);
      * argmin ties break on cluster id via an exact struct-min;
      * recomputed centroids divide the exact component sum by the
        member count in DOUBLE, then round back to DECIMAL(12,8) —
        one deterministic rounding per iteration, the same on both
        engines.

    Seeding: the k smallest ids are the initial centroids (data-
    deterministic, no RNG).  ``iterations`` is the TOTAL number of
    assign-then-recompute Lloyd rounds executed (match it 1:1 with the
    oracle's unrolled round count).  A cluster that loses every member
    in some round DROPS from the output (fewer than k cluster ids) —
    the standard Lloyd degeneracy; callers needing exactly k seeds
    should re-seed, as MLlib does.  Iterations are UNROLLED into the
    plan —
    each is: broadcast join of k×dim centroid cells on ``pos``, a
    (vector, cluster) distance agg, an exact argmin, and a
    (cluster, pos) centroid agg.  Per iteration that is two keyed
    shuffles of |vectors|·dim·k cells — the canonical distributed
    Lloyd step (MLlib's KMeans does the same dance in Scala with
    float math; this form trades its speed for certifiability, and
    ``pyspark.ml.clustering.KMeans`` is the drop-in at real scale).

    Returns one row per (cluster, pos): the final centroid component
    ``c`` (rounded to 6), plus that cluster's final ``n_members``.
    """
    dec = "decimal(12,8)"
    x = vectors.select(
        F.col(id_col).alias("vid"),
        F.posexplode(
            F.transform(vec_col, lambda v: v.cast("double").cast(dec))
        ).alias("pos", "val"),
    )
    seed_ids = (
        vectors.select(F.col(id_col).alias("vid"))
        .orderBy("vid")
        .limit(k)
        .withColumn("cluster", F.row_number().over(Window.orderBy("vid")) - 1)
    )
    # x feeds every iteration — materialize the tokenized cells once so
    # the unrolled plan re-reads a 64×|vectors| cache, not the parquet +
    # explode subtree, in each of the 2(iterations+1) joins below.
    x = x.localCheckpoint(eager=False)
    cents = (
        x.join(F.broadcast(seed_ids), "vid")
        .select("cluster", "pos", F.col("val").alias("cval"))
    )
    for _ in range(iterations):
        d = (
            x.join(F.broadcast(cents), "pos")
            .groupBy("vid", "cluster")
            .agg(
                F.sum(
                    (F.col("val") - F.col("cval")) * (F.col("val") - F.col("cval"))
                ).alias("dist")
            )
        )
        assign = d.groupBy("vid").agg(
            F.min(F.struct("dist", "cluster")).getField("cluster").alias("cluster")
        )
        # k×dim rows: checkpoint truncates the iterative lineage, so
        # iteration i+1's plan starts from a materialized centroid
        # table instead of re-deriving iterations 1..i (the same
        # posture as connected_components' per-round labels).  The
        # member count rides along so the final sizes need no second
        # evaluation of the assignment.
        cents = (
            x.join(assign, "vid")
            .groupBy("cluster", "pos")
            .agg(
                (F.sum("val").cast("double") / F.count(F.lit(1)))
                .cast(dec)
                .alias("cval"),
                F.count(F.lit(1)).alias("n_members"),
            )
            .localCheckpoint(eager=False)
        )
    return cents.select(
        F.col("cluster").cast("long").alias("cluster"),
        F.col("pos").cast("long").alias("pos"),
        F.round(F.col("cval").cast("double"), 6).alias("c"),
        F.col("n_members").cast("long").alias("n_members"),
    ).orderBy("cluster", "pos")


def lloyd_assignments(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 4,
    iterations: int = 3,
) -> DataFrame:
    """The final (vid, cluster) ASSIGNMENT of :func:`lloyd_kmeans`'s
    exact-decimal Lloyd loop — the data-derived blocking key
    SemDeDup-style semantic dedup needs (cluster the corpus first,
    prune near-dups WITHIN clusters; gold labels don't exist at
    pretraining scale).  Identical determinism recipe and unrolled
    plan as :func:`lloyd_kmeans` (the two match round for round —
    ``cents`` there is aggregated FROM this assignment); kept as a
    separate function rather than a return-mode flag because
    lloyd_kmeans feeds a certified catalog row and r11 is a no-touch
    round for certified operators (COVERAGE.md round-11 record; fold
    the two bodies together in a rotation round).

    Returns (vid, cluster) after ``iterations`` assign-then-recompute
    rounds — one row per input vector, cluster ids from the k
    smallest-id seeds (a cluster can go empty mid-loop and drop out,
    the documented Lloyd degeneracy).  ``iterations`` must be ≥ 1
    (the assignment is DEFINED by a distance round; match the
    oracle's unrolled a{rounds} CTE count 1:1)."""
    if iterations < 1:
        raise ValueError("lloyd_assignments needs iterations >= 1")
    dec = "decimal(12,8)"
    x = vectors.select(
        F.col(id_col).alias("vid"),
        F.posexplode(
            F.transform(vec_col, lambda v: v.cast("double").cast(dec))
        ).alias("pos", "val"),
    )
    seed_ids = (
        vectors.select(F.col(id_col).alias("vid"))
        .orderBy("vid")
        .limit(k)
        .withColumn("cluster", F.row_number().over(Window.orderBy("vid")) - 1)
    )
    x = x.localCheckpoint(eager=False)
    cents = (
        x.join(F.broadcast(seed_ids), "vid")
        .select("cluster", "pos", F.col("val").alias("cval"))
    )
    assign = None
    for _ in range(iterations):
        d = (
            x.join(F.broadcast(cents), "pos")
            .groupBy("vid", "cluster")
            .agg(
                F.sum(
                    (F.col("val") - F.col("cval")) * (F.col("val") - F.col("cval"))
                ).alias("dist")
            )
        )
        assign = d.groupBy("vid").agg(
            F.min(F.struct("dist", "cluster")).getField("cluster").alias("cluster")
        )
        cents = (
            x.join(assign, "vid")
            .groupBy("cluster", "pos")
            .agg(
                (F.sum("val").cast("double") / F.count(F.lit(1)))
                .cast(dec)
                .alias("cval")
            )
            .localCheckpoint(eager=False)
        )
    return assign.select("vid", F.col("cluster").cast("long").alias("cluster"))
