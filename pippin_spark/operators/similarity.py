"""Similarity search over embedding columns (north-star extension).

- brute-force cosine top-k: exact baseline; broadcast the (small) query
  set against the corpus, per-query window top-k. Scale: corpus-side is
  embarrassingly parallel, no corpus shuffle at all — the only shuffle
  is the final per-query top-k (k·Q rows).
- IVF (inverted-file) top-k: the scale path — assign every vector to
  its nearest of C centroids once, then search only the ``nprobe``
  closest cells per query. Candidate set shrinks by ~C/nprobe.

Per-PAIR vector math (re-rank cosines, query scoring) is native
(zip_with/aggregate — JVM-side, no UDF). Corpus×all-cells scoring
(cell assignment, multi-probe selection, blocked candidate
generation) runs as Arrow-batched numpy matmul passes — interpreted
Catalyst HOFs cost ~µs per element-op, so anything evaluating C·dim
work per row belongs in one vectorized mapInPandas/applyInPandas
pass (measured 3×+ end-to-end on knn_join_ivf at 10× bench scale).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F

from pippin_spark.operators.dedup import cosine_similarity
from pippin_spark.operators.util import (
    ensure_parallelism,
    local_table,
    sidecar_parquet_rows,
    sidecar_parquet_write,
)


def _as_double(c: Column) -> Column:
    return c.cast("array<double>")


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k neighbors for each query vector.

    Returns (query_id, neighbor_id, cosine, rank), rank 1..k,
    deterministic tie-break on neighbor id. ``queries`` must be small
    (it is broadcast); the corpus is streamed once per partition."""
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("cv")
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine_similarity(F.col("qv"), F.col("cv")), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def hard_negative_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    label_col: str,
    k: int = 5,
    overfetch: int = 8,
    max_queries: int = 65536,
    mode: str = "cross",
) -> DataFrame:
    """Exact top-k most-similar CROSS-label neighbors per anchor — the
    hard-negative mining primitive behind contrastive / retrieval
    training (high-cosine different-class candidates are the
    informative negatives; random negatives are trivially easy and
    teach nothing).

    ``queries`` (the anchors) must be bounded by contract — hash-sample
    them; ``max_queries`` (default 64k ≈ 32 MB of 64-dim doubles as a
    closure ndarray) fails loud past the regime. The corpus streams
    ONCE through an Arrow stage: each batch scores against the anchor
    matrix in one numpy matmul (never the interpreted HOF evaluator —
    the first cut cost C·dim interpreted lambda evals per corpus row,
    the exact _assign_cells trap), masks same-label pairs, and emits
    only each anchor's per-batch top ``k + overfetch`` candidate ids,
    selected by the SAME (cosine rounded 6 DESC, id ASC) order the
    re-rank uses — so per-batch pruning is exact under that total
    order and ``overfetch`` only absorbs float64 matmul-vs-fold
    divergence (the knn_join_blocked contract). The JVM re-rank then
    recomputes the sequential-fold cosine on the linear candidate set:
    final scores/ranks are bit-identical to the all-pairs formulation.
    A same-id pair is impossible across labels, so no self-pair guard
    is needed. Scale path for corpus-sized anchor sets: route through
    IVF cells (knn_join_ivf) and filter labels inside the cell join.

    ``mode="same"`` inverts the mask: top-k most-similar SAME-label
    neighbors (self-pairs excluded) — the positive-pair half of
    contrastive pair construction (see contrastive_pairs_e2e). Same
    streaming shape, same exactness contract.

    ``mode="both"`` emits BOTH mask variants from ONE corpus pass
    (guide §1.2: a pos + neg pair construction otherwise streams the
    corpus, and re-rank-joins it, twice — the anchor matmul, the
    dominant per-batch cost, runs once and is masked two ways). The
    result carries a ``role`` column ('pos' = same-label, 'neg' =
    cross-label) and ``rank`` runs per (query_id, role); each role's
    rows are IDENTICAL to the corresponding single-mode call with the
    same ``k`` (per-batch pruning keeps each role's own top
    k+overfetch under the same total order, and the exact re-rank +
    per-role rank window finish identically) — pinned by
    test_hard_negative_both_matches_single_modes."""
    import numpy as np

    if mode not in ("cross", "same", "both"):
        raise ValueError(
            f"mode must be 'cross', 'same' or 'both', got {mode!r}"
        )

    q_rows = (
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(label_col).alias("__qlab__"),
            _as_double(F.col(vec_col)).alias("qv"),
        )
        .limit(max_queries + 1)
        .collect()
    )
    if len(q_rows) > max_queries:
        raise ValueError(
            f"hard_negative_topk: anchor set exceeds max_queries="
            f"{max_queries}; hash-sample the anchors or route through "
            f"IVF cells (knn_join_ivf) for corpus-sized query sets"
        )
    if not q_rows:
        # degenerate anchor set (empty corpus or over-aggressive
        # filter): empty result with the contract schema, matching the
        # exact_kth_2pass empty-input convention — np.stack([]) would
        # otherwise raise an opaque "need at least one array" error.
        # id types derive from the inputs (queries for query_id, corpus
        # for neighbor_id) so empty and non-empty results agree for
        # int-typed id columns too.
        from pyspark.sql.types import (
            DoubleType,
            IntegerType,
            StructField,
            StructType,
        )

        from pyspark.sql.types import StringType

        fields = [
            StructField("query_id", queries.schema[id_col].dataType),
            StructField("neighbor_id", corpus.schema[id_col].dataType),
            StructField("cosine", DoubleType()),
        ]
        if mode == "both":
            fields.append(StructField("role", StringType(), nullable=False))
        fields.append(StructField("rank", IntegerType(), nullable=False))
        return corpus.sparkSession.createDataFrame(
            [], StructType(fields)
        )
    order = sorted(range(len(q_rows)), key=lambda i: q_rows[i]["query_id"])
    q_ids = np.array([q_rows[i]["query_id"] for i in order], dtype=np.int64)
    q_labs = np.array([q_rows[i]["__qlab__"] for i in order])
    Q = np.stack([np.asarray(q_rows[i]["qv"], dtype=np.float64) for i in order])
    qn = np.linalg.norm(Q, axis=1)
    qn[qn == 0.0] = 1.0
    Qn = Q / qn[:, None]
    nk = int(k + overfetch)

    def gen(batches):
        import pandas as _pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf["__nid__"].to_numpy()
            labs = pdf["__nlab__"].to_numpy()
            V = np.stack(pdf["__cv__"].to_numpy()).astype(np.float64)
            norms = np.linalg.norm(V, axis=1)
            norms[norms == 0.0] = 1.0
            Vn = V / norms[:, None]
            # batch rows in ascending-id order so every stable sort
            # below resolves score ties to the LOWEST neighbor id —
            # the re-rank's tie-break
            bo = np.argsort(ids, kind="stable")
            ids, labs, Vn = ids[bo], labs[bo], Vn[bo]
            base = np.round(Qn @ Vn.T, 6)  # anchors × batch, matmul ONCE
            if mode == "both":
                roles = ("pos", "neg")
            else:
                roles = ("pos",) if mode == "same" else ("neg",)
            out_q: list = []
            out_n: list = []
            out_r: list = []
            for role in roles:
                sims = base.copy() if mode == "both" else base
                if role == "pos":
                    sims[q_labs[:, None] != labs[None, :]] = -np.inf  # cross label
                    sims[q_ids[:, None] == ids[None, :]] = -np.inf  # self pair
                else:
                    sims[q_labs[:, None] == labs[None, :]] = -np.inf  # same label
                top = min(nk, sims.shape[1])
                part = np.argpartition(-sims, top - 1, axis=1)
                for r in range(sims.shape[0]):
                    row = sims[r]
                    cut = row[part[r, top - 1]]
                    if not np.isfinite(cut):
                        cand = np.nonzero(np.isfinite(row))[0]
                    else:
                        cand = np.nonzero(row >= cut)[0]  # ids asc (row order)
                    if len(cand) == 0:
                        continue
                    take = cand[np.argsort(-row[cand], kind="stable")][:top]
                    out_q.append(np.full(len(take), q_ids[r]))
                    out_n.append(ids[take])
                    if mode == "both":
                        out_r.append(np.full(len(take), role, dtype=object))
            if out_q:
                batch_out = {
                    "query_id": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_n),
                }
                if mode == "both":
                    batch_out["role"] = np.concatenate(out_r)
                yield _pd.DataFrame(batch_out)

    c = corpus.select(
        F.col(id_col).alias("__nid__"),
        F.col(label_col).alias("__nlab__"),
        _as_double(F.col(vec_col)).alias("__cv__"),
    )
    cand_schema = "query_id long, neighbor_id long"
    if mode == "both":
        cand_schema += ", role string"
    cands = c.mapInPandas(gen, cand_schema)
    qv = local_table(
        corpus.sparkSession,
        [(int(i), [float(x) for x in v]) for i, v in zip(q_ids, Q)],
        "query_id long, qv array<double>",
    )
    nb = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("cv")
    )
    role_cols = ["role"] if mode == "both" else []
    scored = (
        cands.join(F.broadcast(qv), "query_id")
        .join(nb, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine_similarity(F.col("qv"), F.col("cv")), 6).alias("cosine"),
            *role_cols,
        )
    )
    w = Window.partitionBy("query_id", *role_cols).orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    ranked = scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )
    # the Arrow stage emits long ids; cast back to the input id types
    # so empty- and non-empty-anchor results share one schema
    return ranked.select(
        F.col("query_id").cast(queries.schema[id_col].dataType),
        F.col("neighbor_id").cast(corpus.schema[id_col].dataType),
        "cosine",
        *role_cols,
        "rank",
    )


def hard_negative_ivf(
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    label_col: str,
    k: int = 5,
    num_cells: int = 16,
    train_iters: int = 0,
    nprobe: int = 1,
    overfetch: int = 8,
) -> DataFrame:
    """Corpus-scale hard-negative mining — the documented escape hatch
    for hard_negative_topk's bounded-anchor contract ("route through
    IVF cells and filter labels inside the cell join"): EVERY corpus
    vector is an anchor, candidates come from its ``nprobe`` nearest
    IVF cells, and same-label pairs are masked inside the cell-local
    matmul (knn_join_ivf's ``anti_col``), so only cross-label
    candidate ids ever cross a shuffle.

    Approximation contract mirrors knn_join_ivf: per-anchor recall vs
    the exact cross-label top-k depends on cell granularity, and
    ``nprobe`` monotonically improves it (candidate universe only
    grows). Scale: no driver-sized anchor matrix anywhere — anchors
    ARE the corpus; the label rides the cell shuffle as one
    pass-through column, shuffle volume stays n·nprobe vector rows +
    n·(k+overfetch) id pairs, linear at any corpus size.

    Returns (query_id, neighbor_id, cosine, rank), the
    hard_negative_topk schema."""
    out = knn_join_ivf(
        corpus,
        vec_col,
        id_col,
        k=k,
        num_cells=num_cells,
        train_iters=train_iters,
        overfetch=overfetch,
        nprobe=nprobe,
        anti_col=label_col,
    )
    return out.select(
        F.col("id").alias("query_id"), "neighbor_id", "cosine", "rank"
    )


def hard_negative_ivf_prebuilt(
    spark,
    path: str,
    label_col: str,
    k: int = 5,
    nprobe: int = 1,
    overfetch: int = 8,
) -> DataFrame:
    """Corpus-scale hard-negative mining against a PERSISTED IVF index
    (ann_index_write with ``extra_cols=(label_col,)`` so the label is
    already co-located with each indexed vector): no Lloyd retrain, no
    assignment pass — the probe starts from the cell-sorted parquet
    tables, which is what a training loop re-mining negatives every
    few epochs actually runs. Values are EXACTLY hard_negative_ivf's
    for the same build parameters (float64 round-trips parquet
    bit-exactly; the cell matmul sorts by id so partition layout is
    irrelevant) — pytest-pinned, like ann_topk_ivf_prebuilt.

    Scale: the index read is a columnar scan of (id, cv, cell, label);
    shuffle volume is the same n·nprobe vector rows + n·(k+overfetch)
    id pairs as the fresh path, minus the entire training/assignment
    cost."""
    centroids, assigned = ann_index_read(spark, path)
    out = knn_join_ivf(
        assigned,
        "cv",
        "id",
        k=k,
        overfetch=overfetch,
        nprobe=nprobe,
        anti_col=label_col,
        index=(centroids, assigned),
    )
    return out.select(
        F.col("id").alias("query_id"), "neighbor_id", "cosine", "rank"
    )


def _assign_cells(
    vectors: DataFrame,
    centroids: DataFrame,
    metric: str = "cosine",
    keep_score: bool = False,
    extra_cols: tuple = (),
) -> DataFrame:
    """Nearest-centroid assignment: broadcast the C centroids, one corpus
    pass, argmax score with deterministic cell-id tie-break. ``metric``
    is "cosine" (IVF default) or "l2" (scored as −L2², same argmax
    code path — what a PQ sub-quantizer needs so the training
    assignment rule matches the encoder's argmin-L2).
    ``vectors`` must have (id, cv); returns (id, cv, cell)."""
    # ONE Arrow pass, no shuffle at all: the C·dim centroid matrix is
    # driver-sized by contract (every caller trains ≤ thousands of
    # cells), so it ships as a closure ndarray and each batch scores
    # all C cells in one numpy matmul. The former Catalyst route
    # (broadcast cross join + interpreted zip_with/aggregate HOFs +
    # min_by) evaluated C·dim interpreted lambdas per vector — ~50M
    # evals for 20k vectors × 40 cells × 64 dims, the dominant cost of
    # every IVF/kcenter/kmeans consumer at bench scale — and still
    # paid a full-corpus exchange for the argmax. Semantics preserved
    # exactly: argmax score, ties to the LOWEST cell id (np.argmax
    # first-max over ascending-cell columns == min_by
    # struct(−csim, cell)); cosine zero-norm-guards to 0.0 like
    # dedup.cosine_similarity; −L2² is finite. Scores are float64 in
    # both routes — only summation order differs (ulp-level), and no
    # consumer branches on raw-score ties between non-identical cells.
    import numpy as np
    import pandas as _pd

    cent_rows = sorted(centroids.collect(), key=lambda r: int(r["cell"]))
    cell_ids = np.array([int(r["cell"]) for r in cent_rows], dtype=np.int64)
    C = np.stack(
        [np.asarray(r["centroid"], dtype=np.float64) for r in cent_rows]
    )
    if metric != "l2":
        cn = np.linalg.norm(C, axis=1)
        cn[cn == 0.0] = 1.0
    c_sq = (C * C).sum(axis=1)

    id_t = vectors.schema["id"].dataType.simpleString()
    cv_t = vectors.schema["cv"].dataType.simpleString()
    out_fields = f"id {id_t}, cv {cv_t}, cell int" + (
        ", csim double" if keep_score else ""
    )
    # opaque pass-through columns (e.g. a label for cross-label kNN):
    # copied batch-wise, zero-shuffle — the alternative (joining them
    # back onto the assignment by id) costs a full-corpus exchange
    for c in extra_cols:
        out_fields += f", {c} {vectors.schema[c].dataType.simpleString()}"

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf["cv"]]
            )
            if metric == "l2":
                # −||v−c||² expanded: 2·v·c − ||v||² − ||c||² keeps one
                # matmul; identical argmax, and the score VALUE is
                # recomputed exactly below for keep_score
                S = 2.0 * (V @ C.T) - (V * V).sum(axis=1)[:, None] - c_sq[None, :]
            else:
                # zero-norm guard contract shared with
                # operators/util.unit_rows (zero rows score 0.0 against
                # everything); kept in DIVISION form here — switching
                # to normalize-then-dot would shift raw scores by ulps
                # and this operator's outputs back pinned oracles
                vn = np.linalg.norm(V, axis=1)
                zero = vn == 0.0
                vn[zero] = 1.0
                S = (V @ C.T) / vn[:, None] / cn[None, :]
                if zero.any():
                    S[zero, :] = 0.0
            idx = np.argmax(S, axis=1)
            out = _pd.DataFrame(
                {
                    "id": pdf["id"].to_numpy(),
                    "cv": pdf["cv"],
                    "cell": cell_ids[idx],
                }
            )
            if keep_score:
                if metric == "l2":
                    # exact −Σ(v−c)² (the expanded form above is
                    # argmax-equivalent but not bit-identical)
                    D = V - C[idx]
                    out["csim"] = -(D * D).sum(axis=1)
                else:
                    out["csim"] = S[np.arange(len(V)), idx]
            for c in extra_cols:  # keep declared field order: extras last
                out[c] = pdf[c].to_numpy()
            yield out

    return ensure_parallelism(vectors).mapInPandas(gen, out_fields)


# kmeans_centroids' local-training guard: when the corpus fits the
# driver comfortably (every local/bench run; 100 TB corpora exceed it
# and take the distributed per-round passes), the whole Lloyd loop
# runs in numpy off ONE bounded collect — seed + per-round jobs
# (~0.2-0.3 s scheduling floor each, over data this small) collapse
# to a single action. Data-sized, not core-count-sized.
_KMEANS_LOCAL_MAX = 65_536


def _round_half_up(x: float, scale: int) -> float:
    """Spark's round(double, scale) replica: BigDecimal.valueOf(d)
    parses Double.toString's shortest decimal repr — Python
    repr(float) is the same shortest-repr value — then
    setScale(scale, HALF_UP). Decimal HALF_UP == BigDecimal HALF_UP
    (away from zero on .5)."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(
        Decimal(repr(float(x))).quantize(
            Decimal(f"1E-{scale}"), rounding=ROUND_HALF_UP
        )
    )


def _round9(x: float) -> float:
    return _round_half_up(x, 9)


def _kmeans_local(spark, rows, num_cells: int, iters: int, metric: str):
    """Driver-numpy replica of the distributed Lloyd loop below —
    identical seed rule (num_cells lowest-id vectors), byte-identical
    argmax scoring (same matmul forms), identical empty-cell rule, and
    the same round-9(Σv / n) mean (Σ order differs at the 1e-13 level
    — exactly the class of variation round-9 exists to absorb; the
    distributed path's own Σ order was never fixed either, it changes
    with partition layout). Pinned against the forced-distributed path
    by test_kmeans_local_matches_distributed."""
    import numpy as np

    rows = sorted(rows, key=lambda r: r["id"])
    X = np.stack([np.asarray(r["cv"], dtype=np.float64) for r in rows])
    cents = {i + 1: list(X[i]) for i in range(min(num_cells, len(rows)))}
    for _ in range(max(0, iters)):
        cent_items = sorted(cents.items())
        cell_ids = [c for c, _ in cent_items]
        C = np.stack([np.asarray(v, dtype=np.float64) for _, v in cent_items])
        c_sq = (C * C).sum(axis=1)
        if metric == "l2":
            S = (
                2.0 * (X @ C.T)
                - (X * X).sum(axis=1)[:, None]
                - c_sq[None, :]
            )
        else:
            cn = np.linalg.norm(C, axis=1)
            cn[cn == 0.0] = 1.0
            vn = np.linalg.norm(X, axis=1)
            zero = vn == 0.0
            vn[zero] = 1.0
            S = (X @ C.T) / vn[:, None] / cn[None, :]
            if zero.any():
                S[zero, :] = 0.0
        idx = np.argmax(S, axis=1)
        for j, cell in enumerate(cell_ids):
            mask = idx == j
            n = int(mask.sum())
            if n:
                s = X[mask].sum(axis=0)
                cents[cell] = [_round9(v / n) for v in s]
    return local_table(
        spark,
        [(c, v) for c, v in sorted(cents.items())],
        "cell int, centroid array<double>",
    )


def kmeans_centroids(
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    num_cells: int,
    iters: int = 5,
    metric: str = "cosine",
) -> DataFrame:
    """Lloyd's k-means over an embedding column, DataFrame-native.

    Seed = the ``num_cells`` lowest-id vectors (deterministic). Each
    iteration: broadcast the current centroids, assign every vector to
    its argmax-``metric`` cell (cosine, or −L2² for PQ sub-
    quantizers), recompute per-cell elementwise means via
    posexplode + groupBy(cell, pos) — a map-side-combining partial agg
    keyed by (cell, dim), so no task ever holds more than C·dim
    accumulators. Only the C·dim centroid matrix is collected to the
    driver between rounds (same driver-resident-model shape as Spark
    MLlib's KMeans), which also truncates the iterative lineage.

    Means are rounded to 9 decimals each round so float partial-sum
    ordering cannot leak nondeterminism into assignments. Empty cells
    keep their previous centroid. Returns a (cell, centroid) DataFrame
    ready for ``ivf_build``/``_assign_cells``.

    Each iteration is ONE Arrow pass emitting per-batch per-cell
    PARTIAL SUMS (cell, n, Σv) — #batches·C rows instead of the whole
    corpus — followed by a tiny (C·dim)-row aggregate. The former
    shape (per-row assignment back through Arrow, then a corpus·dim
    posexplode partial aggregate) shipped every vector across the
    Python boundary twice per round and hashed corpus·dim rows; the
    scoring rule is byte-identical to _assign_cells and the mean is
    the same round-9 ``Σval / n`` (partial-sum order differs at the
    1e-13 level, exactly the class of variation round-9 exists to
    absorb — Spark's own partial-aggregate order was never fixed
    either). The projected vector table is persisted across the
    seed + ``iters`` scans and released before returning."""
    import numpy as np
    import pandas as _pd

    spark = corpus.sparkSession
    proj = corpus.select(
        F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("cv")
    )
    # bounded-collect probe: all rows when the corpus is small (the
    # local-training shape — see _kmeans_local), an early-stopped
    # partial take when it is not
    probe = proj.limit(_KMEANS_LOCAL_MAX + 1).collect()
    if len(probe) <= _KMEANS_LOCAL_MAX:
        return _kmeans_local(spark, probe, num_cells, iters, metric)
    del probe
    vecs = ensure_parallelism(proj).persist()
    try:
        seed_rows = (
            vecs.orderBy(F.col("id").asc()).limit(num_cells)
            .select("cv").collect()
        )
        cents = {i + 1: list(r["cv"]) for i, r in enumerate(seed_rows)}
        for _ in range(max(0, iters)):
            cent_items = sorted(cents.items())
            cell_ids = np.array([c for c, _ in cent_items], dtype=np.int64)
            C = np.stack(
                [np.asarray(v, dtype=np.float64) for _, v in cent_items]
            )
            if metric != "l2":
                cn = np.linalg.norm(C, axis=1)
                cn[cn == 0.0] = 1.0
            c_sq = (C * C).sum(axis=1)

            def gen(batches):
                for pdf in batches:
                    if len(pdf) == 0:
                        continue
                    V = np.stack(
                        [np.asarray(v, dtype=np.float64) for v in pdf["cv"]]
                    )
                    if metric == "l2":
                        S = (
                            2.0 * (V @ C.T)
                            - (V * V).sum(axis=1)[:, None]
                            - c_sq[None, :]
                        )
                    else:
                        vn = np.linalg.norm(V, axis=1)
                        zero = vn == 0.0
                        vn[zero] = 1.0
                        S = (V @ C.T) / vn[:, None] / cn[None, :]
                        if zero.any():
                            S[zero, :] = 0.0
                    idx = np.argmax(S, axis=1)
                    out_cell, out_n, out_s = [], [], []
                    for j in range(len(cell_ids)):
                        mask = idx == j
                        n = int(mask.sum())
                        if n:
                            out_cell.append(int(cell_ids[j]))
                            out_n.append(n)
                            out_s.append(
                                [float(x) for x in V[mask].sum(axis=0)]
                            )
                    yield _pd.DataFrame(
                        {"cell": out_cell, "n": out_n, "s": out_s}
                    )

            parts = vecs.mapInPandas(
                gen, "cell int, n long, s array<double>"
            )
            new = (
                parts.select(
                    "cell", "n", F.posexplode("s").alias("pos", "ps")
                )
                .groupBy("cell", "pos")
                .agg(F.round(F.sum("ps") / F.sum("n"), 9).alias("m"))
                .groupBy("cell")
                .agg(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("pos", "m"))),
                        lambda s: s["m"],
                    ).alias("centroid")
                )
                .collect()
            )
            cents.update({r["cell"]: list(r["centroid"]) for r in new})
    finally:
        vecs.unpersist()
    return local_table(
        spark,
        [(c, v) for c, v in sorted(cents.items())],
        "cell int, centroid array<double>",
    )


# Row cap of the deterministic driver training sample (_collect_sample):
# the train_cap default of every sample-trained model, and the cap the
# fused PQ sample of _ann_index_write_body replays.
_TRAIN_CAP = 65_536


def _collect_sample(
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    train_mod: int,
    train_cap: int,
    normalize: bool = False,
    return_ids: bool = False,
):
    """The shared deterministic driver-sample pull behind every
    sample-trained model (sample k-means, PQ codebooks, k-center):
    hash-sample ``xxhash64(id) % train_mod == 0``, ascending-id order,
    ``train_cap``-capped, collected as a float64 numpy matrix. Being a
    pure function of the ids, the sample — and every model trained on
    it — is identical on any cluster/partition layout.
    ``return_ids=True`` returns (ids, X) with the ascending id list
    (any orderable id type; callers that scope invariants to the
    sample need its id range)."""
    import numpy as np

    train = corpus
    if train_mod > 1:
        train = corpus.filter(
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(train_mod)) == 0
        )
    v = normalize_vectors(F.col(vec_col)) if normalize else _as_double(F.col(vec_col))
    rows = (
        train.select(F.col(id_col).alias("id"), v.alias("cv"))
        .orderBy(F.col("id").asc())
        .limit(train_cap)
        .collect()
    )
    if not rows:
        raise ValueError("_collect_sample: empty training sample")
    X = np.stack([np.asarray(r["cv"], dtype=np.float64) for r in rows])
    if return_ids:
        # plain list, NOT an int64 ndarray: ids only need to be
        # orderable (string/UUID id columns are legal everywhere else
        # in this module), and the caller's sample-scope bound
        # ``id <= ids[-1]`` works for any orderable type
        return [r["id"] for r in rows], X
    return X


def _numpy_lloyd(X, k: int, iters: int):
    """Plain L2 Lloyd on an in-memory sample: seed = first k rows (the
    caller passes rows in ascending-id order), argmin with first-min
    (= lowest-cell) tie-break, empty cells keep their codeword.
    Deterministic for a fixed sample. Distances use the matmul form
    ||x||² − 2·X·Cᵀ + ||c||² so the per-iteration temp is the n×k
    result matrix, never an n×k×d broadcast (n·k·d·8 bytes is
    multi-GB at train_cap=65536 with corpus-scale cell counts)."""
    import numpy as np

    C = X[: min(k, len(X))].copy()
    xsq = (X * X).sum(axis=1)[:, None]
    for _ in range(max(0, iters)):
        d2 = xsq - 2.0 * (X @ C.T) + (C * C).sum(axis=1)[None, :]
        assign = np.argmin(d2, axis=1)
        for c in range(len(C)):
            pts = X[assign == c]
            if len(pts):
                C[c] = pts.mean(axis=0)
    return C


def sample_kmeans_centroids(
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    num_cells: int,
    iters: int = 5,
    train_mod: int = 1,
    train_cap: int = _TRAIN_CAP,
    normalize: bool = False,
) -> DataFrame:
    """Centroids via the faiss/ScaNN training pattern: a deterministic
    hash-sample collected to the driver (see _collect_sample), L2
    Lloyd in numpy. The centroid table is a C·dim-double artifact —
    training it through a distributed job chain costs ~iters jobs of
    scheduling overhead for the same-sized model.

    Objective caveat: this trains the L2 objective (on unit-normalized
    vectors when ``normalize=True`` — then L2² = 2 − 2·cos, i.e.
    spherical k-means, the right pairing for a cosine assignment
    pass). :func:`kmeans_centroids` trains a cosine objective with
    round-9 means on the full distributed corpus — a DIFFERENT model,
    not a faster route to the same one; pick by objective and by
    whether the training set may leave the cluster, and expect
    different (comparable-quality) cells across the two."""
    C = _collect_sample(corpus, vec_col, id_col, train_mod, train_cap, normalize)
    C = _numpy_lloyd(C, num_cells, iters)
    return local_table(
        corpus.sparkSession,
        [(i + 1, [float(x) for x in C[i]]) for i in range(len(C))],
        "cell int, centroid array<double>",
    )


def ivf_build(
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    num_cells: int,
    train_iters: int = 0,
    train_mode: str = "distributed",
    extra_cols: tuple = (),
) -> tuple[DataFrame, DataFrame]:
    """Build an IVF index: deterministic centroid seed (the num_cells
    lowest-id vectors — cheap, reproducible), optionally refined by
    ``train_iters`` rounds of Lloyd k-means — ``train_mode``
    "distributed" (kmeans_centroids: cosine objective, the training
    set never leaves the cluster) or "sample" (sample_kmeans_centroids
    with normalize=True: spherical/L2-on-unit-vectors objective over a
    bounded driver hash-sample — cheap, but a DIFFERENT model than the
    distributed path, see its docstring) — then assign every vector to
    its nearest centroid by cosine.

    Returns (centroids, assigned) where assigned = corpus + cell id.
    Scale: assignment is one broadcast of C centroids + a single
    corpus pass; the index adds one small int column to shuffle by."""
    if train_iters > 0 and train_mode == "sample":
        centroids = sample_kmeans_centroids(
            corpus, vec_col, id_col, num_cells, train_iters, normalize=True
        )
    elif train_iters > 0:
        centroids = kmeans_centroids(corpus, vec_col, id_col, num_cells, train_iters)
    else:
        centroids = (
            corpus.orderBy(F.col(id_col).asc())
            .limit(num_cells)
            .select(
                F.row_number().over(Window.orderBy(F.col(id_col).asc())).alias("cell"),
                _as_double(F.col(vec_col)).alias("centroid"),
            )
        )
    assigned = _assign_cells(
        corpus.select(
            F.col(id_col).alias("id"),
            _as_double(F.col(vec_col)).alias("cv"),
            *[F.col(c) for c in extra_cols],
        ),
        centroids,
        extra_cols=extra_cols,
    )
    return centroids, assigned


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 5,
    num_cells: int = 16,
    nprobe: int = 4,
    train_iters: int = 0,
) -> DataFrame:
    """Approximate cosine top-k via IVF: probe only the ``nprobe``
    nearest cells per query. Same output shape as brute_force_topk.
    ``train_iters`` > 0 refines the centroid seed with Lloyd k-means
    before assignment (better-balanced cells → better recall at the
    same nprobe)."""
    centroids, assigned = ivf_build(corpus, vec_col, id_col, num_cells, train_iters)
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
    )
    return _ivf_probe(centroids, assigned, q, k, nprobe)


def _ivf_probe(
    centroids: DataFrame,
    assigned: DataFrame,
    q: DataFrame,
    k: int,
    nprobe: int,
    prune_cells: bool = False,
) -> DataFrame:
    """The probe half of ``ivf_topk`` — shared by the fresh-build path
    and the prebuilt-index path (``ann_index_read``): per query, the
    ``nprobe`` highest-cosine cells, then per-cell scoring and an
    exact top-k over the candidate union. ``q`` must be
    (query_id, qv); ``assigned`` (id, cv, cell); ``centroids``
    (cell, centroid).

    ``prune_cells=True`` (the prebuilt path, where ``assigned`` is a
    cell-sorted parquet table) collects the probed cell ids — bounded
    by #queries·nprobe, and queries are bounded by the brute_force
    contract — and filters ``assigned`` with an IN-literal, so the
    scan reads only the probed cells' row groups (plan-gated
    PushedFilters on ``cell``) instead of the whole index."""
    probes = (
        q.join(F.broadcast(centroids), how="cross")
        .select(
            "query_id",
            "qv",
            "cell",
            cosine_similarity(F.col("qv"), F.col("centroid")).alias("csim"),
        )
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(F.col("csim").desc(), F.col("cell").asc())
            ),
        )
        .filter(F.col("rn") <= nprobe)
        .select("query_id", "qv", "cell")
    )
    if prune_cells:
        cells = sorted({int(r["cell"]) for r in probes.select("cell").collect()})
        assigned = assigned.filter(F.col("cell").isin(cells))
    scored = (
        assigned.join(F.broadcast(probes), on="cell")
        .filter(F.col("id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("id").alias("neighbor_id"),
            F.round(cosine_similarity(F.col("qv"), F.col("cv")), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


# driver-writer for the index sidecars (centroids, codebooks, the
# pq_stats ledger — #cells / m·k / #appends+1 rows): see
# util.sidecar_parquet_write. The maintenance writers' own markers
# (retrain_inflight, parked dirs) cover the cross-table crash windows
# exactly as before.
_sidecar_write = sidecar_parquet_write


def _ledger_table(rows):
    """pq_stats ledger rows -> Arrow table with the exact schema the
    Spark-written ledger had (phase string, n long, sum_qerr double)."""
    import pyarrow as pa

    return pa.table(
        {
            "phase": pa.array([r[0] for r in rows], pa.string()),
            "n": pa.array([int(r[1]) for r in rows], pa.int64()),
            "sum_qerr": pa.array(
                [None if r[2] is None else float(r[2]) for r in rows],
                pa.float64(),
            ),
        }
    )


def ann_index_write(
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    path: str,
    num_cells: int = 16,
    train_iters: int = 0,
    train_mode: str = "distributed",
    extra_cols: tuple = (),
    layout: str = "flat",
    train_on: DataFrame = None,
    pq: tuple = None,
    pq_residual: bool = False,
    pq_train_on: DataFrame = None,
) -> None:
    """Build-once half of the build-once/query-many IVF contract
    (VERDICT r7 #6: every IVF consumer retrained Lloyd at
    construction): materialize the index as two parquet tables —
    ``{path}/centroids`` (cell, centroid) and ``{path}/assigned``
    (id, cv, cell), the latter repartitioned AND sorted by cell so a
    probe's IN-literal on ``cell`` prunes row groups at the scan.

    ``extra_cols`` persist alongside the vectors (e.g. the label a
    cross-label hard-negative probe masks on — see
    hard_negative_ivf_prebuilt); ``train_mode`` mirrors ivf_build's
    so a persisted index can match any fresh-build consumer exactly.

    Scale: the write is the same one-pass broadcast-centroid
    assignment ivf_build always does, plus one cell-keyed exchange to
    co-locate cells in files; float64 round-trips parquet bit-exactly,
    so a prebuilt probe equals the fresh-build probe EXACTLY
    (pytest-pinned).

    ``layout='flat'`` (default) writes one cell-sorted dataset — the
    probe prunes ROW GROUPS via min/max stats on ``cell``.
    ``layout='cells'`` writes ``partitionBy('cell')`` — the probe's
    IN-literal prunes whole DIRECTORIES at planning time, and it is
    the MAINTAINABLE layout: ann_index_append lands new files under
    only their target cell dirs and ann_index_compact rewrites one
    hot cell without touching cold cells' files (impossible in one
    flat dataset without rewriting everything).

    ``train_on`` optionally trains the centroids on a DIFFERENT frame
    than the one being indexed (e.g. the pre-append base corpus), so
    a maintained index and a from-scratch rebuild that assigns the
    augmented corpus against base-trained centroids agree exactly —
    the equality ann_index_maintain_e2e pins.

    ``pq=(m, codebook_k, train_iters)`` additionally trains PQ
    codebooks on the indexed corpus, persists them as
    ``{path}/codebooks``, and stores each vector's ``codes`` column in
    the assigned table — the full FAISS-style on-disk IVF-PQ index:
    a probe (ivfpq_topk_prebuilt) scans (id, codes, cell) ONLY —
    never the raw vectors, which are read back just for the
    survivors' exact re-rank. ``pq_train_on`` trains the CODEBOOKS on
    a different frame (the train_on analog for the PQ half), so a
    from-scratch rebuild of an appended index can reuse base-trained
    codebooks and pin probe equality exactly.

    A PQ build also persists ``{path}/pq_stats`` — one (phase='base',
    n, sum_qerr) row aggregating the per-row ADC quantization error
    the encode emits (the assigned table keeps ``qerr``; probes prune
    it at the scan). ann_index_append extends the ledger per batch;
    ann_index_pq_drift reads it as the codebook-staleness rebuild
    gate (VERDICT r9 #4)."""
    # reconcile-then-supersede (round-11 self-review): clearing parked
    # dirs only AFTER the overwrite left a crash window — a kill
    # between the parquet commit and the rmtree loop below would leave
    # e.g. a crashed compact's assigned_old/cell=N next to the FRESH
    # index, and the next writer's _recover_parked would rename those
    # pre-rebuild rows (stale codes included) into it. Recovering
    # FIRST merges any parked state into the old table this build is
    # about to supersede, so no parked dir can outlive the rebuild.
    _recover_parked(path)
    # The build re-reads `corpus` once per pass: centroid seed, every
    # distributed-Lloyd iteration, the final assignment, the PQ
    # codebook training sample, and (train_on arms aside) the encode.
    # When the corpus is anything but a bare parquet scan — the
    # maintenance rigs synthesize it with a per-row mapInPandas pass —
    # each re-read replays that upstream compute. Persist it for the
    # duration of the build (the write is an action, so the cache is
    # fully consumed — and released — before this function returns;
    # guide-§5 caching rule: reused AND expensive to recompute).
    # Interleaved A/B at sf0.1 (clustered rig, 8 cells, 3 Lloyd
    # iters, pq=(8,16,2)): 7.53 s -> 4.82 s per build.
    corpus = corpus.persist()
    try:
        _ann_index_write_body(
            corpus, vec_col, id_col, path, num_cells, train_iters,
            train_mode, extra_cols, layout, train_on, pq, pq_residual,
            pq_train_on,
        )
    finally:
        corpus.unpersist()


def _ann_index_write_body(
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    path: str,
    num_cells: int,
    train_iters: int,
    train_mode: str,
    extra_cols: tuple,
    layout: str,
    train_on: DataFrame,
    pq: tuple,
    pq_residual: bool,
    pq_train_on: DataFrame,
) -> None:
    # FUSED TRAINING COLLECT (guide §1.2 remove passes): when the
    # centroid-training frame and the PQ-codebook-training frame are
    # the SAME DataFrame (the common build: both default to `corpus`,
    # and the rebuild arms pass train_on=pq_train_on=base), the
    # kmeans local-path probe (all rows ≤ _KMEANS_LOCAL_MAX, raw cv)
    # and pq_codebooks' _collect_sample (all rows ≤ train_cap, unit-
    # normalized) pull the SAME rows to the driver twice. One collect
    # of (id, cv, nrm) feeds both: _kmeans_local gets the raw rows
    # (same set the unordered probe limit returns when everything
    # fits), and the PQ sample is rebuilt driver-side as cv/nrm —
    # nrm is the JVM-folded norm normalize_vectors computes, and the
    # per-element IEEE division is the identical op, so the sample
    # matrix is bit-identical (pytest-pinned). Any disqualifier
    # (different frames, sample train_mode, residual books, corpus
    # too big) falls back to the two original paths unchanged.
    pq_sample = None
    fused = None
    if (
        pq is not None
        and not pq_residual
        and train_iters > 0
        and train_mode == "distributed"
        and (train_on if train_on is not None else corpus)
        is (pq_train_on if pq_train_on is not None else corpus)
    ):
        fused = _fused_train_rows(
            train_on if train_on is not None else corpus, vec_col, id_col
        )
    if fused is not None:
        spark = corpus.sparkSession
        centroids = _kmeans_local(spark, fused, num_cells, train_iters, "cosine")
        pq_sample = _fused_pq_sample(fused, cap=_TRAIN_CAP)
        assigned = _assign_cells(
            corpus.select(
                F.col(id_col).alias("id"),
                _as_double(F.col(vec_col)).alias("cv"),
                *[F.col(c) for c in extra_cols],
            ),
            centroids,
            extra_cols=extra_cols,
        )
    elif train_on is not None:
        centroids, _ = ivf_build(
            train_on, vec_col, id_col, num_cells, train_iters,
            train_mode=train_mode,
        )
        assigned = _assign_cells(
            corpus.select(
                F.col(id_col).alias("id"),
                _as_double(F.col(vec_col)).alias("cv"),
                *[F.col(c) for c in extra_cols],
            ),
            centroids,
            extra_cols=extra_cols,
        )
    else:
        centroids, assigned = ivf_build(
            corpus, vec_col, id_col, num_cells, train_iters,
            train_mode=train_mode, extra_cols=extra_cols,
        )
    # the centroid table is a driver-sized artifact (num_cells rows;
    # _assign_cells collects it for broadcast anyway) — land it via
    # the driver writer instead of a Spark job (see _sidecar_write);
    # toArrow preserves the exact Spark schema, so the read-back
    # types are unchanged
    _sidecar_write(f"{path}/centroids", centroids.toArrow())
    if pq is not None:
        pq_m, pq_k, pq_iters = pq
        pq_corpus = pq_train_on if pq_train_on is not None else corpus
        if pq_residual:
            cell_ids_np, Cn = _normalized_centroid_matrix(
                centroids.collect()
            )
            books = pq_codebooks_residual(
                pq_corpus, vec_col, id_col, cell_ids_np, Cn, m=pq_m,
                codebook_k=pq_k, train_iters=pq_iters,
            )
            _write_codebooks(corpus.sparkSession, books, path, residual=True)
            assigned = pq_encode_codes(
                assigned, books, resid=(cell_ids_np, Cn), with_error=True
            )
        else:
            books = pq_codebooks(
                pq_corpus, vec_col, id_col, m=pq_m, codebook_k=pq_k,
                train_iters=pq_iters, _sample=pq_sample,
            )
            _write_codebooks(corpus.sparkSession, books, path)
            assigned = pq_encode_codes(assigned, books, with_error=True)
    ledger_obs = None
    if pq is not None:
        # the base ledger row (count, Σqerr) rides the assigned WRITE
        # itself via observe() instead of a post-write re-scan of the
        # table — one O(index) pass removed per build; the observed
        # rows are by construction exactly the rows the write landed
        ledger_obs = Observation()
        assigned = assigned.observe(
            ledger_obs,
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("qerr").alias("sum_qerr"),
        )
    writer = assigned.repartition("cell").sortWithinPartitions("cell").write
    if layout == "cells":
        # static overwrite of a partitioned dataset wipes the whole
        # assigned dir (any stale appended partitions included) —
        # explicit so a session-level dynamic default can't leak
        # half-overwritten indexes
        (
            writer.mode("overwrite")
            .option("partitionOverwriteMode", "static")
            .partitionBy("cell")
            .parquet(f"{path}/assigned")
        )
    elif layout == "flat":
        writer.mode("overwrite").parquet(f"{path}/assigned")
    else:
        raise ValueError(f"layout must be 'flat' or 'cells', got {layout!r}")
    import shutil as _sh

    if pq is None:
        # rebuilding a former PQ index as plain IVF must not leave the
        # stale PQ sidecars behind: appends would encode against dead
        # codebooks and mix schemas with the codes-free assigned table.
        # Removal happens AFTER the assigned overwrite succeeds
        # (ADVICE r10): deleting first meant a failed overwrite left
        # the old PQ table (rows carrying codes) with no codebooks, so
        # the next append would see has_pq=False and append code-less
        # rows — the exact mixed-schema state this deletion prevents.
        for side in ("codebooks", "pq_stats"):
            _sh.rmtree(f"{path}/{side}", ignore_errors=True)
    # a full rebuild supersedes every parked maintenance dir. The
    # _recover_parked call at the TOP of this function already merged
    # and cleared them before the overwrite (crash-safe ordering);
    # this second sweep is belt-and-suspenders against dirs parked by
    # an unrelated writer violating the single-writer contract
    # mid-build.
    for parked in ("assigned_old", "assigned_retrain_old"):
        _sh.rmtree(f"{path}/{parked}", ignore_errors=True)
    # a full rebuild writes books, codes and ledger from one
    # generation, so any crashed-retrain mismatch marker is resolved
    import contextlib as _ctx
    import os as _os

    with _ctx.suppress(FileNotFoundError):
        _os.remove(f"{path}/retrain_inflight")
    if pq is not None:
        # base quantization-error ledger row from the observe() metrics
        # the assigned write just accumulated (zero extra scans);
        # overwrite resets any prior build's ledger
        row = ledger_obs.get
        _sidecar_write(
            f"{path}/pq_stats",
            _ledger_table([("base", row["n"], row["sum_qerr"])]),
        )


def _fused_train_rows(frame, vec_col, id_col):
    """One bounded collect serving BOTH trainings of a PQ build (see
    the call site in _ann_index_write_body): (id, raw cv, JVM-folded
    L2 norm) for every row when the frame fits the kmeans local
    guard, else None (callers fall back to the original two paths —
    the only cost of a miss is this one early-stopped bounded take)."""
    v = _as_double(F.col(vec_col))
    nrm = F.sqrt(
        F.aggregate(F.transform(v, lambda x: x * x), F.lit(0.0), lambda s, x: s + x)
    )
    rows = (
        frame.select(F.col(id_col).alias("id"), v.alias("cv"), nrm.alias("nrm"))
        .limit(_KMEANS_LOCAL_MAX + 1)
        .collect()
    )
    if not rows or len(rows) > _KMEANS_LOCAL_MAX:
        return None
    return rows


def _fused_pq_sample(rows, cap: int):
    """_collect_sample(train_mod=1, normalize=True) replayed on the
    driver from _fused_train_rows' output: ascending-id order, capped,
    each vector divided by its JVM-computed norm (identical IEEE
    division; zero-norm rows pass through raw, normalize_vectors'
    guard, whose ``nrm > 0`` holds for a NaN norm under Spark's NaN
    ordering)."""
    import numpy as np

    rows = sorted(rows, key=lambda r: r["id"])[:cap]
    out = np.empty((len(rows), len(rows[0]["cv"])), dtype=np.float64)
    for i, r in enumerate(rows):
        v = np.asarray(r["cv"], dtype=np.float64)
        n = r["nrm"]
        out[i] = v / n if n is not None and (n > 0.0 or n != n) else v
    return out


def _sidecar_df(spark, dir_path: str) -> DataFrame:
    """util.sidecar_parquet_df — the read half of the sidecar-write
    rule (guide §1.2): driver-sized artifacts load as LocalRelations,
    zero Spark jobs."""
    from pippin_spark.operators.util import sidecar_parquet_df

    return sidecar_parquet_df(spark, dir_path)


def ann_index_read(spark, path: str) -> tuple[DataFrame, DataFrame]:
    """Load a persisted IVF index (see ann_index_write): returns
    (centroids, assigned) ready for ``_ivf_probe`` /
    ``ivf_topk_prebuilt``. The centroid table is a driver-written
    sidecar, so it loads as a LocalRelation (zero jobs); the assigned
    table stays a parquet scan (directory/row-group pruning is the
    index's whole point)."""
    return (
        _sidecar_df(spark, f"{path}/centroids"),
        spark.read.parquet(f"{path}/assigned"),
    )


def ivf_topk_prebuilt(
    spark,
    path: str,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 5,
    nprobe: int = 4,
) -> DataFrame:
    """Query-many half of the prebuilt-IVF contract: probe a persisted
    index without touching the corpus or retraining — centroid scoring
    is a #queries×C broadcast cross join, and the candidate scan reads
    only the probed cells' row groups (prune_cells). Output shape and
    values are EXACTLY ivf_topk's for the same build parameters."""
    centroids, assigned = ann_index_read(spark, path)
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
    )
    return _ivf_probe(centroids, assigned, q, k, nprobe, prune_cells=True)


def _normalized_centroid_matrix(centroids_rows):
    """(sorted cell_ids, unit-normalized centroid matrix) from
    collected centroid rows — the shared scaffold of every IVF-PQ
    residual computation (assign, encode, query tables)."""
    import numpy as np

    rows = sorted(centroids_rows, key=lambda r: int(r["cell"]))
    cell_ids = np.array([int(r["cell"]) for r in rows], dtype=np.int64)
    C = np.stack([np.asarray(r["centroid"], dtype=np.float64) for r in rows])
    cn = np.linalg.norm(C, axis=1)
    cn[cn == 0.0] = 1.0
    return cell_ids, C / cn[:, None]


def pq_codebooks_residual(
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    cell_ids,
    Cn,
    m: int = 8,
    codebook_k: int = 16,
    train_iters: int = 2,
    train_mod: int = 1,
    train_cap: int = _TRAIN_CAP,
):
    """PQ codebooks over IVF RESIDUALS (the FAISS IVFx,PQy default,
    by_residual=True): each sampled unit vector is assigned to its
    nearest normalized centroid (the _assign_cells cosine rule, ties
    to the lowest cell id) and the codebooks train on v_n − c_n —
    residuals have far smaller variance than raw vectors, so the same
    m·codebook_k budget quantizes them with less error. Same bounded
    driver sample as pq_codebooks."""
    import numpy as np

    V = _collect_sample(
        corpus, vec_col, id_col, train_mod, train_cap, normalize=True
    )
    dim = V.shape[1]
    if dim % m != 0:
        raise ValueError(f"dim ({dim}) must divide into m ({m}) subspaces")
    d = dim // m
    idx = np.argmax(V @ Cn.T, axis=1)  # first-max = lowest cell id
    R = V - Cn[idx]
    sub = R.reshape(len(R), m, d)
    k = min(codebook_k, len(R))
    books = np.zeros((m, k, d))
    for s in range(m):
        books[s] = _numpy_lloyd(sub[:, s, :], k, train_iters)
    return books


def pq_encode_codes(
    vectors: DataFrame, books, resid=None, with_error: bool = False
) -> DataFrame:
    """Add a ``codes array<int>`` column: per subspace, the argmin-L2
    codeword of the UNIT-NORMALIZED subvector (numpy first-min ties —
    the exact encode rule of pq_topk's scan, factored out so an index
    can persist the codes once instead of re-encoding per query). One
    Arrow pass, zero shuffle; the codebook ndarray ships in the
    closure (m·k·d doubles).

    ``resid=(cell_ids, Cn)`` switches to RESIDUAL encoding: the row's
    normalized cell centroid (the ``cell`` column must be present) is
    subtracted before quantization — the by_residual=True path.

    ``with_error=True`` additionally emits ``qerr double``: the row's
    squared-L2 PQ reconstruction error (sum over subspaces of the
    chosen codeword's distance — the per-row ADC quantization error),
    a free byproduct of the argmin the encode already computes. This
    is the signal the PQ-codebook drift gate (ann_index_pq_drift)
    aggregates: codebooks trained on yesterday's distribution quantize
    shifted vectors with visibly larger qerr even when the cell MEANS
    (the centroid gate's axis) barely move (VERDICT r9 #4)."""
    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in vectors.schema.fields
    ) + ", codes array<int>"
    if with_error:
        schema += ", qerr double"
    mm, _kk, d = books.shape

    def enc(batches):
        import numpy as _np

        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = _np.stack(pdf["cv"].to_numpy()).astype(_np.float64)
            vn = _np.linalg.norm(V, axis=1)
            vn[vn == 0.0] = 1.0
            Vn = V / vn[:, None]
            if resid is not None:
                cell_ids, Cn = resid
                cpos = _np.searchsorted(cell_ids, pdf["cell"].to_numpy())
                Vn = Vn - Cn[cpos]
            Vn = Vn.reshape(len(V), mm, d)
            codes = _np.empty((len(V), mm), dtype=_np.int64)
            qerr = _np.zeros(len(V), dtype=_np.float64)
            for s in range(mm):
                dist = ((Vn[:, s, None, :] - books[None, s]) ** 2).sum(axis=2)
                codes[:, s] = _np.argmin(dist, axis=1)
                if with_error:
                    qerr += dist[_np.arange(len(V)), codes[:, s]]
            pdf = pdf.copy()
            pdf["codes"] = [
                [int(x) for x in row] for row in codes
            ]
            if with_error:
                pdf["qerr"] = qerr
            yield pdf

    return vectors.mapInPandas(enc, schema)


def _write_codebooks(spark, books, path: str, residual: bool = False) -> None:
    # driver-sized (m·k rows) — written by the driver, no Spark job;
    # explicit Arrow types match the former Spark write exactly
    # (s int, c int, vec array<double>, residual boolean)
    import pyarrow as pa

    idx = [(s, c) for s in range(books.shape[0]) for c in range(books.shape[1])]
    table = pa.table(
        {
            "s": pa.array([s for s, _ in idx], pa.int32()),
            "c": pa.array([c for _, c in idx], pa.int32()),
            "vec": pa.array(
                [[float(x) for x in books[s, c]] for s, c in idx],
                pa.list_(pa.float64()),
            ),
            "residual": pa.array([bool(residual)] * len(idx), pa.bool_()),
        }
    )
    _sidecar_write(f"{path}/codebooks", table)


def _check_retrain_complete(path: str) -> None:
    """Refuse to consume codebook-paired state while a crashed retrain
    may have left codebooks and stored codes from DIFFERENT
    generations (round-11 self-review): ann_index_retrain_codebooks
    drops a ``retrain_inflight`` marker before committing the new
    books and removes it only after the re-encoded table and ledger
    land. Between those points the mismatch is unavoidable (two
    directories cannot swap atomically) but it must never be consumed
    SILENTLY — a probe decoding old codes with new books returns
    wrong neighbors with no error. Recovery is re-running retrain
    (deterministic, converges; see its crash contract)."""
    import os

    if os.path.exists(f"{path}/retrain_inflight"):
        raise RuntimeError(
            f"{path}: retrain_inflight marker present — a codebook "
            "retrain crashed between committing the new codebooks and "
            "the re-encoded table/ledger, so codebooks and codes may "
            "be from different generations. Re-run "
            "ann_index_retrain_codebooks(spark, path) to converge, or "
            "rebuild with ann_index_write."
        )


def _read_codebooks(spark, path: str, allow_inflight: bool = False):
    """Returns (books ndarray, residual flag). Pre-residual indexes
    (no ``residual`` column) read as residual=False.

    ``allow_inflight=True`` is for ann_index_retrain_codebooks itself,
    which only reads the geometry (m, k) — identical across
    generations — and retrains the contents from scratch."""
    import numpy as np

    if not allow_inflight:
        _check_retrain_complete(path)
    # driver-sized sidecar (m·k rows): pyarrow read, zero Spark jobs
    rows = sorted(
        sidecar_parquet_rows(f"{path}/codebooks"),
        key=lambda r: (r["s"], r["c"]),
    )
    m = max(r["s"] for r in rows) + 1
    kk = max(r["c"] for r in rows) + 1
    d = len(rows[0]["vec"])
    books = np.empty((m, kk, d), dtype=np.float64)
    for r in rows:
        books[r["s"], r["c"]] = np.asarray(r["vec"], dtype=np.float64)
    residual = bool("residual" in rows[0] and rows[0]["residual"])
    return books, residual


def _recover_parked(path: str) -> None:
    """Single-writer crash recovery shared by EVERY maintenance entry
    point (ADVICE r10): reconcile directories parked by a compact or
    retrain that died between its two renames BEFORE any new writer
    touches the index. Running this at the top of append — not just
    compact — closes the data-loss interleaving where a crashed
    compact leaves cell=N parked in ``assigned_old/``, an append then
    recreates ``assigned/cell=N`` holding only the new batch's files,
    and the next compact's recovery (seeing dst exists) would discard
    the only copy of the original rows.

    Cases: a parked retrain table with ``assigned`` missing restores
    wholesale; a parked compact cell with its dst missing renames
    back; a parked dir whose dst EXISTS at this point can only be the
    post-swap copy of the same rows (because every writer reconciles
    first, no writer can have recreated dst in between), so it drops."""
    import glob
    import os
    import shutil

    retrain_old = f"{path}/assigned_retrain_old"
    if os.path.isdir(retrain_old) and not os.path.isdir(f"{path}/assigned"):
        os.rename(retrain_old, f"{path}/assigned")
    shutil.rmtree(retrain_old, ignore_errors=True)
    old_root = f"{path}/assigned_old"
    for odir in sorted(glob.glob(f"{old_root}/cell=*")):
        dst = f"{path}/assigned/{os.path.basename(odir)}"
        if not os.path.exists(dst):
            os.rename(odir, dst)
    shutil.rmtree(old_root, ignore_errors=True)


def ann_index_append(
    spark,
    path: str,
    new_vectors: DataFrame,
    vec_col: str,
    id_col: str,
    extra_cols: tuple = (),
) -> None:
    """Incremental-ingest half of index maintenance (VERDICT r8 #3):
    route ``new_vectors`` to the EXISTING centroids and append them as
    new files under only their target cell partitions. Requires a
    ``layout='cells'`` index (ann_index_write).

    Scale/isolation guarantees, both pytest-gated
    (tests/test_llm_ops.py ann_index_maintain):
    - the append job reads ONLY the (driver-sized) centroid table —
      never the assigned data, so ingest cost is O(new), not O(index);
    - mode('append') + partitionBy('cell') creates new files in the
      touched cells' directories and never rewrites or deletes an
      existing file — cold cells are untouched bytes.

    This is exactly what streaming_ivf_cell_route's assignment half
    computes; driving THIS function from foreachBatch turns that
    routing demo into a live index (ann_index_maintain_e2e does).

    Crash contract: single-writer, like compact/retrain. The
    reconcile-parked pass below runs FIRST so an append can never
    recreate a cell directory whose original rows are still parked by
    a crashed compact (ADVICE r10 — that interleaving made the next
    compact's recovery discard the only copy). On a PQ index the
    batch lands in TWO writes (assigned files, then the pq_stats
    ledger row); a crash between them leaves rows in the table that
    the ledger hasn't counted — detectable (table count ≠ ledger Σn)
    and repairable by ann_index_repair_ledger, which re-derives the
    appended side from the table itself."""
    import glob

    _recover_parked(path)
    if not glob.glob(f"{path}/assigned/cell=*"):
        raise ValueError(
            f"{path}/assigned is not a layout='cells' index — appending "
            "partitioned files into a flat dataset would silently mix "
            "layouts; rebuild with ann_index_write(..., layout='cells')"
        )
    # the centroid sidecar loads as a LocalRelation — _assign_cells'
    # collect and the residual matrix below cost zero Spark jobs
    centroids = _sidecar_df(spark, f"{path}/centroids")
    assigned_new = _assign_cells(
        new_vectors.select(
            F.col(id_col).alias("id"),
            _as_double(F.col(vec_col)).alias("cv"),
            *[F.col(c) for c in extra_cols],
        ),
        centroids,
        extra_cols=extra_cols,
    )
    import os

    has_pq = os.path.exists(f"{path}/codebooks")
    if has_pq:
        # a PQ index stores per-vector codes — appended rows must carry
        # them too (mixed schemas would break the codes-only probe),
        # encoded against the STORED codebooks so prebuilt probes stay
        # exactly consistent across the append (residual indexes
        # subtract the stored normalized centroids, same as at build)
        books, residual = _read_codebooks(spark, path)
        resid = None
        if residual:
            resid = _normalized_centroid_matrix(centroids.collect())
        assigned_new = pq_encode_codes(
            assigned_new, books, resid=resid, with_error=True
        )
        # the ledger row (count, Σqerr) rides the data write itself via
        # observe(): the assign join and Arrow encode run ONCE, in the
        # one write action, and the observed metrics are by
        # construction computed from the very rows the write landed —
        # no persist, no second job (formerly persist + a separate
        # aggregate action per batch)
        ledger_obs = Observation()
        assigned_new = assigned_new.observe(
            ledger_obs,
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("qerr").alias("sum_qerr"),
        )
    (
        assigned_new.repartition("cell")
        .sortWithinPartitions("cell")
        .write.mode("append")
        .partitionBy("cell")
        .parquet(f"{path}/assigned")
    )
    if has_pq:
        # extend the quantization-error ledger with this batch — the
        # PQ-codebook drift signal (ann_index_pq_drift); O(new), never
        # O(index)
        row = ledger_obs.get
        _sidecar_write(
            f"{path}/pq_stats",
            _ledger_table([("appended", row["n"], row["sum_qerr"])]),
            mode="append",
        )


def ann_index_compact(spark, path: str, max_files: int = 1) -> list:
    """Size-targeted compaction of a ``layout='cells'`` index: every
    cell directory holding more than ``max_files`` parquet files (the
    HOT cells — repeated appends fragment exactly the cells receiving
    traffic) is rewritten to one file per cell; cells at or under the
    target are never read, never written. Returns compacted cell ids.

    Scale shape: ONE distributed job rewrites all hot cells at once
    (filter on the partition column prunes cold directories at
    planning time; ``repartition('cell')`` lands each cell in exactly
    one task so the partitioned write emits exactly one file per
    cell), then a bounded driver loop (#hot-cells renames — the
    centroid-table budget) swaps the fresh directories in. A per-cell
    Spark-job loop would schedule #cells jobs — overhead-bound at
    thousands of cells; this is one job regardless of cell count.
    The swap is two renames per cell, so a reader-visible directory
    exists at all times.

    Crash/concurrency contract (ADVICE r9): SINGLE WRITER — one
    compactor (or appender) at a time. Displaced cell dirs park under
    ``{path}/assigned_old/`` (NOT as ``.old`` siblings inside
    ``assigned/``, which would parse as bogus partition values for a
    concurrent reader). A crash between the two renames can leave a
    cell dir missing from ``assigned/`` with its data intact in
    ``assigned_old/``; the recovery pass at the top of this function
    renames any such orphan back before compacting, so re-running
    compact after a crash is the recovery procedure — and the SAME
    pass runs at the top of append/retrain (_recover_parked), so no
    other writer can recreate a displaced cell's directory while the
    original rows sit parked (ADVICE r10)."""
    import glob
    import os
    import shutil

    _recover_parked(path)
    # compacting a books/codes generation mismatch would persist the
    # stale codes into fresh files; force the retrain re-run first
    _check_retrain_complete(path)
    old_root = f"{path}/assigned_old"

    hot = []
    for cdir in sorted(glob.glob(f"{path}/assigned/cell=*")):
        if len(glob.glob(f"{cdir}/*.parquet")) > max_files:
            hot.append(int(os.path.basename(cdir).split("=", 1)[1]))
    if not hot:
        return []
    tmp_root = f"{path}/assigned_compacting"
    shutil.rmtree(tmp_root, ignore_errors=True)
    (
        spark.read.parquet(f"{path}/assigned")
        .filter(F.col("cell").isin(hot))
        .repartition("cell")
        .sortWithinPartitions("cell", "id")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(tmp_root)
    )
    os.makedirs(old_root, exist_ok=True)
    for c in hot:
        cdir = f"{path}/assigned/cell={c}"
        os.rename(cdir, f"{old_root}/cell={c}")
        os.rename(f"{tmp_root}/cell={c}", cdir)
    shutil.rmtree(old_root)
    shutil.rmtree(tmp_root)
    return hot


def ann_index_drift(spark, path: str) -> DataFrame:
    """Rebuild-trigger gate for a maintained index: per-cell cosine
    distance between the STORED centroid and the current mean of the
    cell's assigned vectors (appends shift the mean; Lloyd would have
    moved the centroid with it). A maintenance loop rebuilds when
    ``max(drift)`` crosses its threshold — the compose-and-verify step
    over centroid_drift_snapshots' idea, run against the index itself.

    Returns (cell, n_vectors, drift). Scale: one map-side-combined
    aggregation of the assigned table (per-cell vector sums — #cells
    rows cross the exchange) joined to the #cells centroid table;
    the corpus never moves."""
    centroids, assigned = ann_index_read(spark, path)
    # per-cell mean without a UDF and without collecting vectors:
    # explode to (cell, i, x), average per (cell, i), regroup to an
    # index-sorted array. One shuffle of corpus·dim scalars with full
    # map-side partial aggregation — no single partition anywhere.
    exploded = assigned.select(
        "cell", F.posexplode(F.col("cv")).alias("i", "x")
    )
    means = (
        exploded.groupBy("cell", "i")
        .agg(F.avg("x").alias("m"), F.count(F.lit(1)).alias("n"))
        .groupBy("cell")
        .agg(
            F.array_agg(F.struct("i", "m")).alias("__im__"),
            F.first("n").alias("n_vectors"),
        )
        .select(
            "cell",
            "n_vectors",
            F.transform(
                F.array_sort("__im__"), lambda s: s.getField("m")
            ).alias("mean_vec"),
        )
    )
    joined = means.join(F.broadcast(centroids), "cell")
    return joined.select(
        "cell",
        "n_vectors",
        F.round(
            1.0 - cosine_similarity(F.col("mean_vec"), F.col("centroid")), 6
        ).alias("drift"),
    )


def ann_index_pq_drift(spark, path: str) -> DataFrame:
    """PQ-codebook staleness gate — the axis ann_index_drift does NOT
    cover (VERDICT r9 #4): appends residual-encode against the STORED
    codebooks, so under distribution shift the quantization error of
    new vectors grows with no signal, and IVF-PQ recall decays
    silently even while the cell MEANS still pass the centroid gate
    (shift that is symmetric around a centroid leaves its mean fixed
    but lands every shifted vector far from any trained codeword).

    Reads the ``{path}/pq_stats`` ledger (one 'base' row from the
    build + one row per append batch — all driver-sized) and returns
    ONE row: (n_base, base_mqerr, n_appended, appended_mqerr,
    err_ratio) where mqerr is the mean per-row squared ADC
    reconstruction error and err_ratio = appended_mqerr / base_mqerr.

    The gate is RELATIVE, calibrated like the centroid one (VERIFY r9:
    absolute error depends on dim/m/k and the corpus scale, so no
    absolute threshold transfers across indexes): a maintenance loop
    retrains codebooks when err_ratio crosses its threshold —
    in-distribution appends measure ~1.0, the shifted-flood pytest
    fixture >2. Scale: the ledger has #appends+1 rows; nothing else
    is read.

    The ledger is a driver-written KB-scale sidecar, so the gate
    computes ON THE DRIVER (pyarrow read + the exact Spark arithmetic:
    NULL-skipping sums, NULL propagation through the means, HALF_UP
    round-6 via _round_half_up, ANSI divide-by-zero raising) and
    returns a LocalRelation — a maintenance loop polls this gate, and
    a poll should cost zero Spark jobs. _LEDGER_DRIVER=False keeps the
    Spark aggregation; test_pq_drift_driver_matches_spark pins both
    paths row-equal on real build/append/repair ledgers."""
    _check_retrain_complete(path)
    if not _LEDGER_DRIVER:
        return _pq_drift_spark(spark, path)
    rows = [
        r
        for r in sidecar_parquet_rows(f"{path}/pq_stats")
        if r["n"] is not None and r["n"] > 0
    ]

    def _tot(phase):
        # Spark SUM semantics: NULL-skipping fold, NULL when no rows;
        # float addition in part-file order (ulp-level order effects
        # sit 9 decimal digits below the round-6 the gate emits)
        n = s = None
        for r in rows:
            if r["phase"] != phase:
                continue
            n = r["n"] if n is None else n + r["n"]
            if r["sum_qerr"] is not None:
                s = r["sum_qerr"] if s is None else s + r["sum_qerr"]
        return n, s

    n_base, base_sum = _tot("base")
    n_app, app_sum = _tot("appended")
    base_m = None if n_base is None or base_sum is None else base_sum / n_base
    app_m = None if n_app is None or app_sum is None else app_sum / n_app
    if n_app is None or n_app == 0:
        ratio = 1.0
    elif app_m is None or base_m is None:
        ratio = None
    elif base_m == 0.0:
        # ANSI-mode parity: Spark's Divide raises on a zero divisor
        raise ArithmeticError(
            "[DIVIDE_BY_ZERO] pq_stats base_mqerr is exactly 0 — "
            "repair the ledger (ann_index_repair_ledger) or rebuild"
        )
    else:
        ratio = _round_half_up(app_m / base_m, 6)
    return local_table(
        spark,
        [(
            int(n_base) if n_base is not None else 0,
            None if base_m is None else _round_half_up(base_m, 6),
            int(n_app) if n_app is not None else 0,
            None if app_m is None else _round_half_up(app_m, 6),
            ratio,
        )],
        "n_base long, base_mqerr double, n_appended long, "
        "appended_mqerr double, err_ratio double",
    )


# ann_index_pq_drift's Spark-aggregation arm: True computes the gate
# on the driver from the sidecar ledger (zero jobs); False keeps the
# Spark plan — the A/B + equality-pin baseline.
_LEDGER_DRIVER = True


def _pq_drift_spark(spark, path: str) -> DataFrame:
    stats = spark.read.parquet(f"{path}/pq_stats")
    agg = (
        stats.filter(F.col("n") > 0)
        .groupBy()
        .agg(
            F.sum(F.when(F.col("phase") == "base", F.col("n")))
            .cast("long")
            .alias("n_base"),
            F.sum(
                F.when(F.col("phase") == "base", F.col("sum_qerr"))
            ).alias("base_sum"),
            F.sum(F.when(F.col("phase") == "appended", F.col("n")))
            .cast("long")
            .alias("n_appended"),
            F.sum(
                F.when(F.col("phase") == "appended", F.col("sum_qerr"))
            ).alias("appended_sum"),
        )
    )
    base_m = F.col("base_sum") / F.col("n_base")
    app_m = F.col("appended_sum") / F.col("n_appended")
    # an index with no appends yet has NO drift by definition:
    # err_ratio pins to 1.0 (not NULL) so the gate comparison a
    # maintenance loop runs unconditionally never trips on None.
    # ONLY that case pins (ADVICE r10): if appended rows exist but the
    # base side is absent or zero (a ledger created by appending to an
    # index whose base row was lost, or a degenerate zero-error base),
    # the ratio stays NULL — a broken ledger must read as "gate
    # unanswerable", never as "no drift", or the gate would silently
    # never fire in exactly the stale-codebook scenarios it exists to
    # catch. NULL here means: repair the ledger
    # (ann_index_repair_ledger) or rebuild.
    no_appends = F.col("n_appended").isNull() | (F.col("n_appended") == 0)
    ratio = F.when(no_appends, F.lit(1.0)).otherwise(
        F.round(app_m / base_m, 6)
    )
    return agg.select(
        F.coalesce(F.col("n_base"), F.lit(0).cast("long")).alias("n_base"),
        F.round(base_m, 6).alias("base_mqerr"),
        F.coalesce(F.col("n_appended"), F.lit(0).cast("long")).alias(
            "n_appended"
        ),
        F.round(app_m, 6).alias("appended_mqerr"),
        ratio.alias("err_ratio"),
    )


def ann_index_repair_ledger(spark, path: str) -> None:
    """Recovery action for the append crash window (ADVICE r10): an
    append's batch lands in TWO writes — assigned files, then the
    pq_stats ledger row — so a crash between them leaves rows in the
    table the ledger never counted (and a replayed batch can
    double-count). This rewrites the ledger's APPENDED side from the
    table itself: appended_n = table_n − base_n and appended_sum =
    table_sum − base_sum, merged into one row, with the base row kept
    verbatim — so err_ratio after a repair equals what an uncrashed
    history would have measured, because Σqerr over the appended rows
    is the same numbers whichever batch boundaries they arrived in.

    Cost: one scan of the index's single ``qerr`` double column
    (column-pruned at the parquet reader) plus the driver-sized
    ledger. If the base row itself is missing there is nothing to
    anchor the relative gate to — raises, since the only honest reset
    is a rebuild or retrain (both write a fresh in-sample base)."""
    _check_retrain_complete(path)
    stats = spark.read.parquet(f"{path}/pq_stats")
    base = (
        stats.filter(F.col("phase") == "base")
        .agg(
            F.sum("n").cast("long").alias("n"),
            F.sum("sum_qerr").alias("sum_qerr"),
        )
        .collect()[0]
    )
    if base["n"] is None:
        raise ValueError(
            f"{path}/pq_stats has no base row — the relative drift "
            "gate has no anchor; rebuild (ann_index_write) or retrain "
            "(ann_index_retrain_codebooks) to establish one"
        )
    total = (
        spark.read.parquet(f"{path}/assigned")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("qerr").alias("sum_qerr"),
        )
        .collect()[0]
    )
    _sidecar_write(
        f"{path}/pq_stats",
        _ledger_table(
            [
                ("base", base["n"], float(base["sum_qerr"])),
                (
                    "appended",
                    total["n"] - base["n"],
                    float(total["sum_qerr"] - base["sum_qerr"]),
                ),
            ]
        ),
    )


def ann_index_retrain_codebooks(
    spark, path: str, train_iters: int = 2
) -> None:
    """The action ann_index_pq_drift's gate triggers: retrain the PQ
    codebooks on the index's CURRENT contents (base + all appends, so
    the shifted distribution is now in-sample) and re-encode every
    stored vector against them. Centroids and cell assignment are
    untouched — this is the CODEBOOK half of maintenance; a centroid
    rebuild (the ann_index_drift gate's action) is a full
    ann_index_write.

    Geometry knobs (m, codebook_k via k_eff, residual) are inherited
    from the stored codebooks, so a probe needs no signature change
    across the retrain.

    Scale shape: codebook training is the usual driver-sized sample;
    the re-encode is ONE distributed job over the assigned table
    (unavoidably O(index) — every stored code is stale by definition
    when the codebooks move), written partition-preserving
    (layout='cells' keeps directory pruning) with the static-overwrite
    rule so stale files can't survive. pq_stats resets to a fresh
    'base' row over the re-encoded table: the err_ratio baseline is
    the NEW codebooks' in-sample error, and the next drift measures
    against that.

    Crash contract (single-writer, like append/compact): codebooks
    and codes cannot swap atomically across two directories, so a
    crash mid-retrain can leave a books/codes GENERATION MISMATCH
    window — and the recovery procedure is RE-RUNNING RETRAIN, which
    converges because training is deterministic (hash-predicate
    sample + seeded Lloyd over the same vectors reproduces the same
    books; the cv column never changes). The window is FENCED by the
    ``retrain_inflight`` marker (written before the codebook commit,
    removed after the ledger lands): while it exists, every
    codebook-paired consumer — probes via _read_codebooks, pq_drift,
    repair_ledger, compact — raises instead of silently decoding old
    codes with new books (round-11 self-review); only the retrain
    re-run or a full rebuild clears it. The assigned swap uses
    the compact pattern (displaced table parks at
    ``{path}/assigned_retrain_old``; the recovery pass below restores
    it if a crash left ``assigned`` missing), so no crash point loses
    the table."""
    import os
    import shutil

    # crash recovery: reconcile ALL parked state (a prior retrain's
    # displaced table AND any compact-displaced cell — retraining an
    # index with a cell still parked would bake the loss into the new
    # codes and ledger; ADVICE r10) before reading the table
    _recover_parked(path)
    old_root = f"{path}/assigned_retrain_old"

    centroids, assigned = ann_index_read(spark, path)
    # allow_inflight: a recovery re-run reads only the geometry (m, k)
    # from the possibly-new books — identical across generations
    old_books, residual = _read_codebooks(spark, path, allow_inflight=True)
    m, kk = int(old_books.shape[0]), int(old_books.shape[1])
    # keep every stored column (extra_cols like a hard-negative label
    # ride along); only the stale codes/qerr are regenerated
    corpus = assigned.drop("codes", "qerr")
    if residual:
        cell_ids_np, Cn = _normalized_centroid_matrix(centroids.collect())
        books = pq_codebooks_residual(
            corpus, "cv", "id", cell_ids_np, Cn, m=m, codebook_k=kk,
            train_iters=train_iters,
        )
        resid = (cell_ids_np, Cn)
    else:
        books = pq_codebooks(
            corpus, "cv", "id", m=m, codebook_k=kk, train_iters=train_iters
        )
        resid = None
    # MISMATCH-WINDOW MARKER (round-11 self-review): from the codebook
    # commit below until the re-encoded table + ledger land, books and
    # stored codes are from different generations. The marker makes
    # every consumer (_read_codebooks, pq_drift, repair_ledger,
    # compact) refuse the index instead of silently decoding old codes
    # with new books; only a retrain re-run (which converges — see the
    # crash contract) or a full rebuild clears it.
    with open(f"{path}/retrain_inflight", "w") as fh:
        fh.write("retrain in flight; re-run ann_index_retrain_codebooks\n")
    _write_codebooks(spark, books, path, residual=residual)
    encoded = pq_encode_codes(corpus, books, resid=resid, with_error=True)
    # fresh ledger base row (count, Σqerr) collected by observe()
    # during the re-encode write below — removes the former second
    # O(index) scan of the swapped-in table
    ledger_obs = Observation()
    encoded = encoded.observe(
        ledger_obs,
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("qerr").alias("sum_qerr"),
    )
    is_cells = os.path.isdir(f"{path}/assigned") and any(
        e.startswith("cell=") for e in os.listdir(f"{path}/assigned")
    )
    # write via a temp dataset then swap: overwriting the input of the
    # very plan being executed would race the scan
    tmp = f"{path}/assigned_retrain"
    writer = encoded.repartition("cell").sortWithinPartitions("cell").write
    if is_cells:
        (
            writer.mode("overwrite")
            .option("partitionOverwriteMode", "static")
            .partitionBy("cell")
            .parquet(tmp)
        )
    else:
        writer.mode("overwrite").parquet(tmp)
    # compact-style swap: the old table parks (never rmtree'd while it
    # is the only copy), so a crash at any point leaves either the old
    # or the new table restorable — see the crash contract above
    os.rename(f"{path}/assigned", old_root)
    os.rename(tmp, f"{path}/assigned")
    shutil.rmtree(old_root)
    row = ledger_obs.get
    _sidecar_write(
        f"{path}/pq_stats",
        _ledger_table([("base", row["n"], row["sum_qerr"])]),
    )
    # generations consistent again: books, codes, and ledger all from
    # this retrain
    os.remove(f"{path}/retrain_inflight")


def random_hyperplanes(dim: int, num_tables: int, num_planes: int, seed: int = 7):
    """Deterministic Gaussian hyperplanes for sign-LSH, shape
    (num_tables, num_planes, dim). numpy's RandomState stream is
    stable across platforms, so signatures — and therefore recall —
    are reproducible everywhere."""
    import numpy as np

    rng = np.random.RandomState(seed)
    return rng.standard_normal((num_tables, num_planes, dim))


def _hyperplane_sig_udf(planes):
    """Arrow-batched signature UDF: one numpy matmul per batch gives
    every (table, plane) dot product at once; bits pack to one int64
    signature per table. The planes array (T·P·dim doubles, a few KB)
    ships inside the serialized closure — no shuffle, no driver state."""
    import numpy as np

    n_tables, n_planes, dim = planes.shape
    flat = planes.reshape(n_tables * n_planes, dim)
    weights = (np.int64(1) << np.arange(n_planes, dtype=np.int64))

    @F.pandas_udf("array<long>")
    def sig(vs: pd.Series) -> pd.Series:
        mat = np.array([np.asarray(v, dtype=np.float64) for v in vs])
        if len(mat) == 0:
            return pd.Series([], dtype=object)
        bits = (mat @ flat.T) > 0  # (batch, T·P)
        bits = bits.reshape(len(mat), n_tables, n_planes)
        sigs = (bits * weights).sum(axis=2)  # (batch, T)
        return pd.Series(list(sigs))

    return sig


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 5,
    num_tables: int = 8,
    num_planes: int = 12,
    dim: int | None = None,
    seed: int = 7,
) -> DataFrame:
    """Approximate cosine top-k via random-hyperplane (sign) LSH.

    Candidates = corpus vectors sharing a full signature with the query
    in ANY of ``num_tables`` tables; survivors are exactly re-ranked by
    cosine. Same output shape as brute_force_topk.

    Scale: corpus signatures are one Arrow map stage (no shuffle);
    the bucket join broadcasts the (small) query signatures, so the
    corpus is never exchanged; only candidate pairs — a tiny fraction
    controlled by num_planes — reach the dedup groupBy and top-k
    window. Collision probability per table is (1 - θ/π)^P, so recall
    tunes with num_tables (up) / num_planes (selectivity)."""
    if dim is None:
        dim = len(corpus.select(vec_col).first()[0])
    planes = random_hyperplanes(dim, num_tables, num_planes, seed)
    sig = _hyperplane_sig_udf(planes)

    c = (
        corpus.select(
            F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("cv")
        )
        .withColumn("__sigs__", sig("cv"))
        .select("neighbor_id", "cv", F.posexplode("__sigs__").alias("tbl", "sig"))
    )
    q = (
        queries.select(
            F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
        )
        .withColumn("__sigs__", sig("qv"))
        .select("query_id", "qv", F.posexplode("__sigs__").alias("tbl", "sig"))
    )
    cand = (
        c.join(F.broadcast(q), on=["tbl", "sig"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        # a pair can collide in several tables — dedupe before scoring;
        # vectors are functionally dependent on the ids, any value works
        .groupBy("query_id", "neighbor_id")
        .agg(F.first("qv").alias("qv"), F.first("cv").alias("cv"))
    )
    scored = cand.select(
        "query_id",
        "neighbor_id",
        F.round(cosine_similarity(F.col("qv"), F.col("cv")), 6).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def kcenter_select(
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 16,
    train_mod: int = 1,
    train_cap: int = _TRAIN_CAP,
) -> tuple[DataFrame, DataFrame]:
    """Greedy k-center coreset selection (Gonzalez 1985, the 2-approx
    farthest-point heuristic) — the "pick k maximally diverse
    examples" op behind eval-set curation, active-learning seeding,
    and coverage-weighted data selection.

    Greedy k-center is inherently sequential (each center depends on
    all previous), so the selection runs on the deterministic
    ascending-id hash-sample via numpy (the sample_kmeans_centroids
    pattern: the artifact is k vectors — driver-sized by definition);
    the CORPUS-side work is one broadcast-centers pass assigning every
    vector to its nearest center (the L2 path of _assign_cells) over
    unit-normalized vectors, so coverage statistics reflect angular
    diversity. First center = lowest-id sample row; ties on the
    farthest-point argmax break to the lowest sample index — fully
    deterministic, partition-invariant.

    Returns (centers, assigned, sample_max_id): centers =
    (cell, centroid) with cell ids 1..k in selection order; assigned =
    (id, cv, cell, d2) where d2 is the squared L2 distance to the
    assigned center (on unit vectors d2 = 2 − 2·cos), rounded to 6 dp;
    sample_max_id is the largest id IN THE TRAINING SAMPLE — the
    Gonzalez invariant (covering radius ≤ min pairwise center
    distance, hence ≤ 2·OPT) is guaranteed only over the sample, so
    an invariant check must scope its max-d2 to sample members
    (``id <= sample_max_id``, plus the hash predicate when
    train_mod > 1); corpus vectors OUTSIDE the sample can
    legitimately sit farther out at corpus sizes past train_cap."""
    import numpy as np

    ids, X = _collect_sample(
        corpus, vec_col, id_col, train_mod, train_cap,
        normalize=True, return_ids=True,
    )
    kk = min(k, len(X))
    chosen = [0]
    mind2 = ((X - X[0]) ** 2).sum(axis=1)
    for _ in range(kk - 1):
        nxt = int(np.argmax(mind2))  # first-max = lowest index on ties
        chosen.append(nxt)
        mind2 = np.minimum(mind2, ((X - X[nxt]) ** 2).sum(axis=1))
    spark = corpus.sparkSession
    centers = local_table(
        spark,
        [(i + 1, [float(x) for x in X[c]]) for i, c in enumerate(chosen)],
        "cell int, centroid array<double>",
    )
    # ensure_parallelism BEFORE the select: the normalize + k-way L2
    # scoring are interpreted Catalyst HOFs, and a compact parquet
    # corpus arrives as ONE scan split — without the spread the whole
    # assignment pass runs on a single core (measured 14 s → <1 s at
    # sf0.1 on local[32]); repartitioning raw (id, vec) rows keeps the
    # heavy expressions on the wide side of the exchange
    vecs = ensure_parallelism(corpus).select(
        F.col(id_col).alias("id"), normalize_vectors(F.col(vec_col)).alias("cv")
    )
    assigned = _assign_cells(vecs, centers, metric="l2", keep_score=True).select(
        "id", "cv", "cell", F.round(-F.col("csim"), 6).alias("d2")
    )
    return centers, assigned, ids[-1]


def normalize_vectors(vec_col: Column) -> Column:
    """L2-normalize a float-array column (native transform/aggregate —
    JVM-side, no UDF; the fold order is the array order, so results are
    bit-reproducible across engines that fold sequentially). Zero
    vectors pass through unchanged (norm guard)."""
    v = _as_double(vec_col)
    norm = F.sqrt(
        F.aggregate(F.transform(v, lambda x: x * x), F.lit(0.0), lambda s, x: s + x)
    )
    # bind the norm ONCE as a lambda variable: referencing the norm
    # expression directly inside the per-element lambda lets projection
    # collapse inline the whole Σx² aggregate into EVERY element —
    # an O(dim²) interpreted blowup per row (the SNIPPETS projection-
    # collapse trap). Same arithmetic, bit-identical outputs.
    return F.transform(
        F.array(norm),
        lambda nrm: F.when(nrm > 0, F.transform(v, lambda x: x / nrm)).otherwise(v),
    )[0]


def centroid_drift(
    left: DataFrame,
    right: DataFrame,
    vec_col: str,
    label_col: str,
    decimals: int = 6,
) -> DataFrame:
    """Per-label centroid drift between two embedding snapshots — the
    monitoring primitive behind embedding-space regression checks
    (re-embedded corpus, new encoder checkpoint, filtered subset):
    how far did each class's mean vector move?

    Returns (label, n_left, n_right, drift_sq) where drift_sq is the
    squared L2 distance between the two label_centroids means
    (element-rounded like label_centroids, then the sum rounded
    again) — NULL when the label exists in only one snapshot, with
    the surviving side's count still reported.

    Scale: both centroid sets are #labels×dim artifacts from
    label_centroids' map-side-combined posexplode aggregate, so the
    drift join moves centroid rows only; the element-wise distance is
    a zip_with/aggregate JVM fold in array (= dimension) order —
    deterministic, no UDF."""
    cl = label_centroids(left, vec_col, label_col, decimals).select(
        "label", F.col("centroid").alias("__cl__")
    )
    cr = label_centroids(right, vec_col, label_col, decimals).select(
        "label", F.col("centroid").alias("__cr__")
    )
    nl = left.groupBy(F.col(label_col).alias("label")).agg(
        F.count(F.lit(1)).alias("n_left")
    )
    nr = right.groupBy(F.col(label_col).alias("label")).agg(
        F.count(F.lit(1)).alias("n_right")
    )
    d2 = F.round(
        F.aggregate(
            F.zip_with("__cl__", "__cr__", lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda s, x: s + x,
        ),
        decimals,
    )
    return (
        cl.join(cr, "label", "full_outer")
        .join(nl, "label", "left")
        .join(nr, "label", "left")
        .select(
            "label",
            F.coalesce("n_left", F.lit(0)).alias("n_left"),
            F.coalesce("n_right", F.lit(0)).alias("n_right"),
            d2.alias("drift_sq"),
        )
    )


def quantize_int8(vec_col: Column) -> Column:
    """Symmetric int8 quantization: scale = 127 / max(|x|), element →
    round(x·scale) as int. Shrinks an embedding column 4× (float32) to
    8× (float64) for ANN candidate generation; re-rank survivors with
    the full-precision vectors. Zero vectors quantize to zeros."""
    v = _as_double(vec_col)
    amax = F.aggregate(
        F.transform(v, lambda x: F.abs(x)), F.lit(0.0), lambda s, x: F.greatest(s, x)
    )
    # bind amax once (see normalize_vectors: inlining the aggregate
    # into the per-element lambda is an O(dim²) interpreted blowup)
    return F.transform(
        F.array(amax),
        lambda mx: F.when(
            mx > 0,
            F.transform(v, lambda x: F.round(x * (F.lit(127.0) / mx)).cast("int")),
        ).otherwise(F.transform(v, lambda x: F.lit(0))),
    )[0]


def label_centroids(
    df: DataFrame, vec_col: str, label_col: str, decimals: int = 6
) -> DataFrame:
    """Per-label mean vector (class centroids — the training-pipeline
    primitive behind clustering init, prototype classifiers, and
    per-class drift monitoring).

    Scale: posexplode to (label, pos, val) triples feeds a map-side
    partial aggregate that collapses each task to #labels×dim rows
    before the shuffle — corpus volume never crosses the wire, only
    #labels×dim partials per task. Reassembly sorts the dim positions
    inside each label row (array_sort on (pos, mean) structs orders by
    pos). Rounding absorbs cross-engine float-fold differences, like
    normalize_vectors' oracle."""
    e = df.select(
        F.col(label_col).alias("label"),
        F.posexplode(_as_double(F.col(vec_col))).alias("pos", "v"),
    )
    a = e.groupBy("label", "pos").agg(F.avg("v").alias("m"))
    return (
        a.groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select(
            "label",
            F.transform("pm", lambda x: F.round(x["m"], decimals)).alias("centroid"),
        )
    )


def knn_join_blocked(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    block_col: str,
    k: int = 5,
    overfetch: int = 8,
    anti_col: str = None,
    rerank_df: DataFrame = None,
) -> DataFrame:
    """Corpus-to-corpus k-nearest-neighbors within a blocking key (a
    label, an IVF cell, an LSH bucket): for every vector, the top-k
    most-cosine-similar OTHER vectors of the same block — the semantic
    neighbor-graph builder behind semantic dedup and
    nearest-neighbor-based data selection.

    Two stages, neither quadratic outside a task:
    1. Candidate generation (one Arrow stage): per block, a numpy
       matmul (BLAS) scores all pairs in-task, chunked to bound memory
       at chunk×block floats, and emits only each id's top
       ``k + overfetch`` neighbor IDS — the O(n²) term never touches a
       join, a shuffle, or the interpreted HOF evaluator. Shuffle
       volume is n·(k+overfetch) id pairs, not n·block_size scored
       rows.
    2. Exact re-rank (JVM): candidates join their vectors back and the
       sequential-fold cosine + row_number window run on the linear
       candidate set — final scores and ranks are bit-identical to the
       all-pairs formulation. Candidate selection is tie-aware: rows
       are chosen by (cosine rounded to 6 DESC, neighbor_id ASC) — the
       SAME ordering the re-rank uses — so a block of exact duplicates
       (hundreds of cosine-1.0 ties, the semantic-dedup case) still
       yields the true deterministic top-k; ``overfetch`` only has to
       absorb float64 matmul-vs-fold divergence, which round-6 already
       collapses.

    Scale: the block key is the only data-volume shuffle key; per-task
    memory is block_size·dim + chunk·block_size doubles — for blocks
    past ~100k vectors feed an IVF cell id as ``block_col`` (the
    documented corpus-scale path).

    ``anti_col``: when set, pairs with EQUAL values in that column are
    excluded — the cross-label kNN behind corpus-scale hard-negative
    mining (a row's own anti value equals itself, so self-pairs stay
    excluded too). With masking, a row can have fewer than
    k+overfetch eligible candidates; the non-finite-cut guard below
    (the hard_negative_topk convention) then takes every finite one.

    ``rerank_df``: optional cheaper source of the SAME
    (id_col, vec_col) rows for the re-rank's two vector-fetch joins.
    When ``df`` is itself an expensive derived subtree (e.g. the IVF
    assignment pass — a full-corpus Arrow stage), the naive plan
    evaluates that subtree three times (candidates + both joins);
    passing the pre-derivation frame here lets the joins read the raw
    vectors directly (the block/cell column is irrelevant to them), so
    the expensive stage runs exactly once. Values are identical by
    contract: the caller guarantees id→vector is the same mapping."""
    nk = int(k + overfetch)

    def gen(pdf):
        import numpy as np
        import pandas as _pd

        ids = pdf[id_col].to_numpy()
        V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        norms = np.linalg.norm(V, axis=1)
        norms[norms == 0.0] = 1.0
        Vn = V / norms[:, None]
        n = len(ids)
        out_i: list = []
        out_j: list = []
        chunk = max(1, min(n, (16 << 20) // max(n, 1)))  # ≤128MB sims
        top = min(nk, n - 1)
        # candidate order must match the JVM re-rank's tie-break:
        # (round(cos, 6) DESC, id ASC). Sorting ids ascending up front
        # makes every argpartition/argsort tie resolve to lower ids
        # via stable ordering below.
        id_order = np.argsort(ids, kind="stable")
        ids_s = ids[id_order]
        Vn = Vn[id_order]
        anti = pdf["__anti__"].to_numpy()[id_order] if anti_col else None
        for s in range(0, n, chunk):
            e = min(n, s + chunk)
            if top <= 0:
                continue
            sims = np.round(Vn[s:e] @ Vn.T, 6)
            for r in range(e - s):
                sims[r, s + r] = -np.inf  # not self
                if anti is not None:
                    sims[r, anti == anti[s + r]] = -np.inf
            # exact top-`top` by (score desc, id asc): partition first
            # (O(n)), then a stable sort of only the partitioned prefix
            # widened to include every boundary tie
            part = np.argpartition(-sims, top - 1, axis=1)
            for r in range(e - s):
                row = sims[r]
                cut = row[part[r, top - 1]]
                if not np.isfinite(cut):
                    # fewer than `top` eligible candidates (anti mask):
                    # take every finite one, same ordering
                    cand = np.nonzero(np.isfinite(row))[0]
                    if len(cand) == 0:
                        continue
                else:
                    cand = np.nonzero(row >= cut)[0]  # ids asc (row order)
                take = cand[np.argsort(-row[cand], kind="stable")][:top]
                out_i.append(np.full(len(take), ids_s[s + r]))
                out_j.append(ids_s[take])
        if not out_i:
            return _pd.DataFrame({"id": [], "neighbor_id": []}).astype("int64")
        return _pd.DataFrame(
            {"id": np.concatenate(out_i), "neighbor_id": np.concatenate(out_j)}
        )

    in_cols = [
        F.col(block_col).alias("__b__"),
        F.col(id_col),
        F.col(vec_col),
    ]
    if anti_col:
        in_cols.append(F.col(anti_col).alias("__anti__"))
    cands = (
        df.select(*in_cols)
        .groupBy("__b__")
        .applyInPandas(gen, "id long, neighbor_id long")
    )
    vecs = rerank_df if rerank_df is not None else df
    a = vecs.select(F.col(id_col).alias("id"), F.col(vec_col).alias("__va__"))
    b = vecs.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__vb__")
    )
    scored = (
        cands.join(a, "id")
        .join(b, "neighbor_id")
        .select(
            "id",
            "neighbor_id",
            F.round(
                cosine_similarity(
                    F.col("__va__").cast("array<double>"),
                    F.col("__vb__").cast("array<double>"),
                ),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def knn_join_ivf(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 5,
    num_cells: int = 16,
    train_iters: int = 0,
    overfetch: int = 8,
    nprobe: int = 1,
    anti_col: str = None,
    index: tuple = None,
) -> DataFrame:
    """Corpus-to-corpus kNN fed by IVF cells — the composition
    ``knn_join_blocked`` documents as its corpus-scale path ("for
    blocks past ~100k vectors feed an IVF cell id as block_col"):
    build the IVF index (optionally Lloyd-trained), then search each
    vector's ``nprobe`` nearest cells.

    Approximation contract: ``nprobe=1`` (default) searches a vector's
    own cell only — recall depends on cell granularity exactly like
    ivf_topk's. ``nprobe>1`` is the standard multi-probe knob (the
    first thing every IVF user reaches for on cell-boundary recall
    loss): each vector's candidates come from the union of its
    ``nprobe`` closest cells, so per-query recall is monotonically
    ≥ the nprobe=1 result — the candidate universe only grows, every
    probed cell keeps its own (k+overfetch) prefix under the re-rank
    ordering, and the final top-k is exact over the union. Scored by
    the same recall-vs-brute-force oracle on the declared query.

    Multi-probe shape: probe cells are computed MAP-SIDE — the C
    centroids arrive as ONE broadcast row holding a sorted
    (cell, centroid) array (collect_list over the centroid table;
    broadcast, not plan literals, so C can grow with the corpus
    without bloating the plan or codegen), each vector scores and
    sorts its per-cell cosines in an array expression (O(C·d) dot
    products dominate the O(C log C) sort, the same per-vector cost
    any exhaustive cell assignment pays) and explodes its nprobe cell
    ids — probe assignment itself is shuffle-free, and the cell
    shuffle then carries nprobe copies of each vector row (the
    multi-probe cost, linear in nprobe, never quadratic in anything).
    Candidates pair each cell's PROBING vectors against
    the cell's HOME members; a (query, neighbor) pair can only arise
    in the neighbor's single home cell, so cross-cell duplicates are
    impossible and no dedup shuffle is needed.

    Scale: assignment is one broadcast-centroid corpus pass; the only
    data-volume shuffle is on the cell id (nprobe rows per vector),
    per-task memory is cell_size·dim doubles, and the O(cell²)
    scoring stays inside the chunked numpy matmul — nothing quadratic
    crosses a shuffle at any corpus size. Training uses the sample
    path (the centroid table is a tiny artifact; see
    sample_kmeans_centroids).

    ``anti_col``: when set, (query, neighbor) pairs with EQUAL values
    in that column are excluded — cross-label-only neighbors, the
    corpus-scale hard-negative regime (see hard_negative_ivf). The
    label rides the cell shuffle as one extra pass-through column
    (zero extra exchanges).

    ``index``: a prebuilt (centroids, assigned) pair (ann_index_read)
    skips the in-line build entirely — the query-many half of the
    build-once contract at corpus-join scale; ``assigned`` must carry
    ``anti_col`` if one is set (persist it via ann_index_write's
    ``extra_cols``). ``df``/``num_cells``/``train_iters`` are ignored
    when ``index`` is given."""
    extra = (anti_col,) if anti_col else ()
    if index is not None:
        centroids, assigned = index
        # prebuilt path: assigned is a parquet scan — the re-rank
        # joins read (id, cv) from it directly (column-pruned)
        rerank = assigned.select("id", "cv")
    else:
        centroids, assigned = ivf_build(
            df, vec_col, id_col, num_cells, train_iters, train_mode="sample",
            extra_cols=extra,
        )
        # fresh path: `assigned` is the corpus + a broadcast-centroid
        # Arrow assignment pass. The re-rank's two vector-fetch joins
        # need only id→vector, which the assignment passes through
        # verbatim — source them from the RAW corpus projection so the
        # full-corpus assignment stage runs once (the candidate
        # subtree), not three times (guide: don't recompute opaque
        # stages the optimizer can't dedupe)
        rerank = df.select(
            F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("cv")
        )
    if nprobe <= 1:
        return knn_join_blocked(
            assigned, "cv", "id", "cell", k=k, overfetch=overfetch,
            anti_col=anti_col, rerank_df=rerank,
        )
    import numpy as np
    import pandas as _pd

    # Probe cells in ONE Arrow pass (the _assign_cells pattern): the
    # C·dim centroid matrix is a driver-sized artifact, shipped as a
    # closure ndarray; each batch scores all C cells in one matmul and
    # takes its nprobe best with a STABLE argsort on −cosine — stable
    # ties resolve to the lowest column index = lowest cell id,
    # exactly the (csim DESC, cell ASC) struct-sort tie-break the
    # interpreted route used, so probe slot 1 IS the home cell. Probe
    # assignment stays shuffle-free; the cell shuffle then carries
    # nprobe copies of each vector row.
    cent_rows = sorted(centroids.collect(), key=lambda r: int(r["cell"]))
    cell_ids = np.array([int(r["cell"]) for r in cent_rows], dtype=np.int64)
    CM = np.stack(
        [np.asarray(r["centroid"], dtype=np.float64) for r in cent_rows]
    )
    cmn = np.linalg.norm(CM, axis=1)
    cmn[cmn == 0.0] = 1.0
    p_eff = min(nprobe, len(cell_ids))
    id_t = assigned.schema["id"].dataType.simpleString()
    cv_t = assigned.schema["cv"].dataType.simpleString()
    probe_fields = f"id {id_t}, cv {cv_t}, cell int"
    if anti_col:
        probe_fields += (
            f", {anti_col} {assigned.schema[anti_col].dataType.simpleString()}"
        )
    probe_fields += ", __q__ boolean"

    def probe_gen(batches):
        # ONE pass emits BOTH sides of the cell join: each vector's
        # p_eff probe copies (__q__=True) AND its single home-member
        # row (__q__=False, the stored `cell` value — no recompute).
        # The former probes-UNION-assigned shape evaluated the whole
        # `assigned` subtree (full-corpus assignment pass on the fresh
        # path, index scan on the prebuilt path) twice; shuffle volume
        # is unchanged at (nprobe+1) rows per vector.
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf["cv"]]
            )
            vn = np.linalg.norm(V, axis=1)
            zero = vn == 0.0
            vn[zero] = 1.0
            S = (V @ CM.T) / vn[:, None] / cmn[None, :]
            if zero.any():
                S[zero, :] = 0.0
            top = np.argsort(-S, axis=1, kind="stable")[:, :p_eff]
            rep = np.repeat(np.arange(len(pdf)), p_eff)
            out = _pd.DataFrame(
                {
                    "id": pdf["id"].to_numpy()[rep],
                    "cv": pdf["cv"].iloc[rep].to_numpy(),
                    "cell": cell_ids[top.ravel()],
                }
            )
            if anti_col:
                out[anti_col] = pdf[anti_col].to_numpy()[rep]
            out["__q__"] = True
            member = _pd.DataFrame(
                {
                    "id": pdf["id"].to_numpy(),
                    "cv": pdf["cv"].to_numpy(),
                    "cell": pdf["cell"].to_numpy(),
                }
            )
            if anti_col:
                member[anti_col] = pdf[anti_col].to_numpy()
            member["__q__"] = False
            yield _pd.concat([out, member], ignore_index=True)

    side_cols = ["id", "cv"] + ([anti_col] if anti_col else [])
    both = assigned.mapInPandas(probe_gen, probe_fields).select(
        F.col("cell").alias("__b__"), *side_cols, "__q__"
    )
    nk = int(k + overfetch)

    def gen(pdf):
        qmask = pdf["__q__"].to_numpy()
        ids = pdf["id"].to_numpy()
        V = np.stack(pdf["cv"].to_numpy()).astype(np.float64)
        norms = np.linalg.norm(V, axis=1)
        norms[norms == 0.0] = 1.0
        Vn = V / norms[:, None]
        qi = np.nonzero(qmask)[0]
        ci = np.nonzero(~qmask)[0]
        if len(qi) == 0 or len(ci) == 0:
            return _pd.DataFrame({"id": [], "neighbor_id": []}).astype(
                "int64"
            )
        # corpus side sorted by id ASC so every stable tie below
        # resolves to the lower id — matching the re-rank's
        # (round(cos,6) DESC, id ASC) ordering, like knn_join_blocked
        order = np.argsort(ids[ci], kind="stable")
        c_ids = ids[ci][order]
        Vc = Vn[ci][order]
        q_ids = ids[qi]
        Vq = Vn[qi]
        if anti_col:
            a_all = pdf[anti_col].to_numpy()
            c_anti = a_all[ci][order]
            q_anti = a_all[qi]
        out_i: list = []
        out_j: list = []
        chunk = max(1, min(len(q_ids), (16 << 20) // max(len(c_ids), 1)))
        for s in range(0, len(q_ids), chunk):
            e = min(len(q_ids), s + chunk)
            sims = np.round(Vq[s:e] @ Vc.T, 6)
            for r in range(e - s):
                row = sims[r]
                row[c_ids == q_ids[s + r]] = -np.inf  # not self
                if anti_col:
                    row[c_anti == q_anti[s + r]] = -np.inf  # same label
                t = min(nk, int((row > -np.inf).sum()))
                if t <= 0:
                    continue
                part = np.argpartition(-row, t - 1)
                cut = row[part[t - 1]]
                cand = np.nonzero(row >= cut)[0]  # ids asc (row order)
                take = cand[np.argsort(-row[cand], kind="stable")][:t]
                out_i.append(np.full(len(take), q_ids[s + r]))
                out_j.append(c_ids[take])
        if not out_i:
            return _pd.DataFrame({"id": [], "neighbor_id": []}).astype(
                "int64"
            )
        return _pd.DataFrame(
            {"id": np.concatenate(out_i), "neighbor_id": np.concatenate(out_j)}
        )

    cands = both.groupBy("__b__").applyInPandas(
        gen, "id long, neighbor_id long"
    )
    # vector-fetch joins read from `rerank` (raw corpus projection /
    # pruned index scan), not `assigned` — see the fresh-path comment
    # above: this keeps the full-corpus assignment stage out of two of
    # the three consumers of `assigned`
    a = rerank.select(F.col("id"), F.col("cv").alias("__va__"))
    b = rerank.select(
        F.col("id").alias("neighbor_id"), F.col("cv").alias("__vb__")
    )
    scored = (
        cands.join(a, "id")
        .join(b, "neighbor_id")
        .select(
            "id",
            "neighbor_id",
            F.round(
                cosine_similarity(F.col("__va__"), F.col("__vb__")), 6
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def pq_codebooks(
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    m: int = 4,
    codebook_k: int = 16,
    train_iters: int = 2,
    train_mod: int = 1,
    train_cap: int = _TRAIN_CAP,
    _sample=None,
):
    """Train product-quantization codebooks (Jégou, Douze, Schmid,
    TPAMI 2011): slice each vector into ``m`` equal subvectors and run
    L2 Lloyd k-means independently per subspace.

    Codebook training is a DRIVER-SIZED problem by design — the
    artifact is m·k·d doubles, and past a bounded sample more training
    data buys nothing — so this follows the faiss/ScaNN pattern: pull
    a deterministic sample to the driver and run Lloyd in numpy. (A
    distributed per-subspace Lloyd chain costs ~m·iters Spark jobs of
    pure scheduling overhead to compute the same tiny model; measured
    33 s → <1 s at sf0.1 for the defaults.) The sample is the hash
    predicate ``xxhash64(id) % train_mod == 0``, sorted by id, capped
    at ``train_cap`` rows — bounded driver memory at any corpus size,
    reproducible on any cluster layout, so the codebook (and every
    downstream code/estimate) is partition-invariant.

    Training runs on the UNIT-NORMALIZED vectors' subvectors — the
    same representation pq_topk encodes and searches (ADC over
    normalized vectors, where L2² = 2 − 2·cos). Training on raw
    subvectors would learn codewords off the unit sphere for any
    corpus with varying norms and silently inflate quantization error.

    Returns a numpy (m, k_eff, d) array where k_eff =
    min(codebook_k, sample size) — the codebook axis is sized to the
    TRAINED codewords only. (Zero-padding to codebook_k would leave
    untrained all-zero codewords in the encode argmin, and for
    subvectors with small norms an origin codeword can beat every real
    one, silently degrading quantization on tiny corpora.)"""
    import numpy as np

    # _sample: a pre-collected normalized sample matrix (the fused
    # training collect of _ann_index_write_body — bit-identical to
    # what _collect_sample returns for the same frame); internal.
    V = (
        _sample
        if _sample is not None
        else _collect_sample(
            corpus, vec_col, id_col, train_mod, train_cap, normalize=True
        )
    )
    dim = V.shape[1]
    if dim % m != 0:
        raise ValueError(f"dim ({dim}) must divide into m ({m}) subspaces")
    d = dim // m
    sub = V.reshape(len(V), m, d)
    k = min(codebook_k, len(V))
    books = np.zeros((m, k, d))
    for s in range(m):
        books[s] = _numpy_lloyd(sub[:, s, :], k, train_iters)
    return books


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 5,
    m: int = 4,
    codebook_k: int = 16,
    train_iters: int = 2,
    train_mod: int = 1,
    overfetch: int = 8,
    query_chunk: int = 1024,
    max_queries: int = 262144,
) -> DataFrame:
    """Approximate cosine top-k via product quantization with
    asymmetric distance computation (ADC) — the memory-scale ANN path:
    each corpus vector compresses from dim·8 bytes to ``m`` small
    codes (64-dim float64 → 4 bytes at the defaults, 128×), so the
    scannable index for a 100 TB embedding corpus fits a few nodes.

    Train: per-subspace Lloyd codebooks (pq_codebooks). Encode: ONE
    Arrow pass — per subspace, argmin-L2 codeword (numpy first-min =
    lowest codeword id on ties, deterministic). Search: each query
    precomputes its m×k subspace distance table; the corpus scan sums
    m table lookups per (vector, query) — no vector arithmetic in the
    hot loop — and emits only each batch's top (k+overfetch) per query
    (a superset of the global top by the contained-prefix argument, so
    batching cannot change the result). Exact cosine re-ranks the
    surviving candidates JVM-side with the standard (round-6 DESC,
    id ASC) tie-break: output shape matches brute_force_topk.

    Query-set regime: ADC search ships per-query distance tables to
    the executors, so the query side is streamed to the driver in
    ``query_chunk``-sized slices (toLocalIterator — driver peak is one
    chunk, and each chunk's closure carries only its own tables) and
    the per-chunk results are unioned: queries are independent, so
    chunking is exact, at the cost of one corpus scan per chunk.
    ``max_queries`` (default 256k ≈ 128 MB of 64-dim doubles) is the
    documented guard against pointing the PROBE-workload operator at a
    corpus-sized query set — past it, raise and use knn_join_ivf /
    knn_join_blocked, whose corpus-to-corpus shape never stages
    queries through the driver.

    Scale: codebooks/tables are closure-shipped constants (m·k·d
    doubles per chunk); the corpus shuffles NOTHING — the only moved
    rows are ~batches·|chunk|·(k+overfetch) candidate ids; recall
    tunes with m (down) / codebook_k / overfetch (up), scored by the
    same recall-oracle pattern as IVF/LSH."""
    import numpy as np

    books = pq_codebooks(
        corpus, vec_col, id_col, m, codebook_k, train_iters, train_mod
    )
    nk = int(k + overfetch)
    c = corpus.select(
        F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("cv")
    )
    spark = corpus.sparkSession
    chunk_results: list[DataFrame] = []
    buf_ids: list[int] = []
    buf_vecs: list = []

    def flush() -> None:
        q_ids = np.array(buf_ids, dtype=np.int64)
        Q = np.stack(buf_vecs)
        chunk_results.append(
            _pq_topk_chunk(c, spark, q_ids, Q, books, k, nk)
        )
        buf_ids.clear()
        buf_vecs.clear()

    n_seen = 0
    for r in queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
    ).toLocalIterator(prefetchPartitions=True):
        n_seen += 1
        if n_seen > max_queries:
            raise ValueError(
                f"pq_topk: query set exceeds max_queries={max_queries}; "
                "this is the ANN-probe operator — for corpus-sized query "
                "sets use knn_join_ivf / knn_join_blocked"
            )
        buf_ids.append(r["query_id"])
        buf_vecs.append(np.asarray(r["qv"], dtype=np.float64))
        if len(buf_ids) >= query_chunk:
            flush()
    if buf_ids:
        flush()
    if not chunk_results:
        raise ValueError("pq_topk: empty query set")
    out = chunk_results[0]
    for part in chunk_results[1:]:
        out = out.unionByName(part)
    return out


def _pq_topk_chunk(c, spark, q_ids, Q, books, k: int, nk: int) -> DataFrame:
    """One pq_topk query chunk: ADC scan + batch pruning + exact
    re-rank for the (q_ids, Q) slice. A single-chunk call is plan-
    identical to the pre-chunking pq_topk (hash-stability contract)."""
    import numpy as np

    d = books.shape[2]
    norms = np.linalg.norm(Q, axis=1)
    norms[norms == 0.0] = 1.0
    Qn = Q / norms[:, None]
    # per-query subspace distance tables against UNIT-normalized
    # codebooks' raw entries: ADC approximates ||q_n - c_n||²; on unit
    # vectors L2² = 2 - 2·cos, so ascending ADC ≈ descending cosine

    def scan(batches):
        import numpy as _np
        import pandas as _pd

        sub_q = Qn.reshape(len(Qn), books.shape[0], d)  # (Q, m, d)
        # tables[qi, s, c] = ||q_sub - codeword||² (constant ||q||²
        # terms included — rank-equivalent either way)
        tables = ((sub_q[:, :, None, :] - books[None, :, :, :]) ** 2).sum(
            axis=3
        )  # (Q, m, k)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = _np.stack(pdf["cv"].to_numpy()).astype(_np.float64)
            vn = _np.linalg.norm(V, axis=1)
            vn[vn == 0.0] = 1.0
            Vn = (V / vn[:, None]).reshape(len(V), books.shape[0], d)
            # encode: argmin codeword per subspace (first-min ties)
            codes = _np.empty((len(V), books.shape[0]), dtype=_np.int64)
            for s in range(books.shape[0]):
                dist = ((Vn[:, s, None, :] - books[None, s]) ** 2).sum(axis=2)
                codes[:, s] = _np.argmin(dist, axis=1)
            ids = pdf["id"].to_numpy()
            out_q, out_n, out_a = [], [], []
            srange = _np.arange(books.shape[0])
            for qi in range(len(q_ids)):
                adc = tables[qi][srange, codes].sum(axis=1)  # (B,)
                adc = _np.round(adc, 9)
                mask = ids != q_ids[qi]
                cand_ids, cand_adc = ids[mask], adc[mask]
                top = min(nk, len(cand_ids))
                if top == 0:
                    continue
                # exact batch top-`top` by (adc asc, id asc)
                order = _np.lexsort((cand_ids, cand_adc))[:top]
                out_q.append(_np.full(top, q_ids[qi]))
                out_n.append(cand_ids[order])
                out_a.append(cand_adc[order])
            if out_q:
                yield _pd.DataFrame(
                    {
                        "query_id": _np.concatenate(out_q),
                        "neighbor_id": _np.concatenate(out_n),
                        "adc": _np.concatenate(out_a),
                    }
                )

    cands = ensure_parallelism(c).mapInPandas(
        scan, "query_id long, neighbor_id long, adc double"
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("adc").asc(), F.col("neighbor_id").asc()
    )
    survivors = (
        cands.withColumn("__rn__", F.row_number().over(wq))
        .filter(F.col("__rn__") <= nk)
        .select("query_id", "neighbor_id")
    )
    qdf = local_table(
        spark,
        [(int(i), [float(x) for x in v]) for i, v in zip(q_ids, Q)],
        "query_id long, qv array<double>",
    )
    scored = (
        survivors.join(c.withColumnRenamed("id", "neighbor_id"), "neighbor_id")
        .join(F.broadcast(qdf), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine_similarity(F.col("qv"), F.col("cv")), 6).alias(
                "cosine"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 5,
    num_cells: int = 16,
    nprobe: int = 4,
    m: int = 8,
    codebook_k: int = 16,
    train_iters: int = 2,
    overfetch: int = 8,
    query_chunk: int = 1024,
    max_queries: int = 262144,
    by_residual: bool = False,
) -> DataFrame:
    """IVF-PQ approximate cosine top-k — the composed 100 TB
    vector-search shape (FAISS ``IVFx,PQy``; ``by_residual=True`` is
    the FAISS default — codebooks train on and codes quantize
    v_n − c_cell, whose variance is far below the raw vectors', so
    the same m/codebook_k budget loses less; query distance tables
    then become per-(query, probed cell), so the residual path caps
    its chunk at 128 queries to bound the closure at
    128·nprobe·m·k doubles):
    the coarse IVF quantizer gates WHICH vectors each query's scan may
    count (only the ``nprobe`` nearest cells), and PQ/ADC makes each
    counted row cost ``m`` table lookups instead of a dim-wide dot
    product. IVF bounds candidate VOLUME, PQ bounds candidate COST —
    at corpus scale the two multiply: a cells-layout index prunes the
    probed cells' directories at the scan, and the ADC codes shrink
    what a scanned row costs by ~dim·8/m bytes of arithmetic.

    Composition of the verified parts: ivf_build's centroids (same
    deterministic seed + Lloyd as ivf_topk), pq_codebooks' per-subspace
    codebooks, the pq_topk chunked-ADC scan (queries stream through the
    driver in ``query_chunk`` slices — the ANN-probe contract, guarded
    by ``max_queries``), and the standard exact-cosine JVM re-rank with
    (round-6 DESC, id ASC) ties — output shape matches brute_force_topk.

    Per chunk, each query's probed-cell set is computed driver-side
    against the driver-sized centroid matrix and ships as a boolean
    mask in the scan closure; the cell-membership test is a numpy
    gather, the union of probed cells also filters the assigned frame
    so Catalyst can prune (IN-literal on the cell column).

    Recall tunes on two independent axes: nprobe (cell coverage, the
    IVF axis) and m/codebook_k/overfetch (code fidelity, the PQ axis)
    — scored by the same recall-oracle pattern as IVF/LSH/PQ."""
    import numpy as np

    centroids, assigned = ivf_build(
        corpus, vec_col, id_col, num_cells, train_iters
    )
    cell_ids, Cn = _normalized_centroid_matrix(centroids.collect())
    if by_residual:
        books = pq_codebooks_residual(
            corpus, vec_col, id_col, cell_ids, Cn, m, codebook_k,
            train_iters,
        )
        query_chunk = min(query_chunk, 128)
    else:
        books = pq_codebooks(
            corpus, vec_col, id_col, m, codebook_k, train_iters
        )
    spark = corpus.sparkSession
    a = assigned  # (id, cv, cell)
    # survivors' exact re-rank fetches (id, cv) from the RAW corpus
    # projection: `a` embeds the full-corpus assignment Arrow stage,
    # which the fetch join does not need (same id→vector mapping)
    rerank = corpus.select(
        F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("cv")
    )

    chunk_results: list[DataFrame] = []
    buf_ids: list[int] = []
    buf_vecs: list = []

    def flush() -> None:
        q_ids = np.array(buf_ids, dtype=np.int64)
        Q = np.stack(buf_vecs)
        qn = np.linalg.norm(Q, axis=1)
        qn[qn == 0.0] = 1.0
        sims = (Q / qn[:, None]) @ Cn.T  # (Q, C)
        # top-nprobe cells per query, ties to the LOWEST cell id (the
        # _ivf_probe ordering: cosine desc, cell asc)
        order = np.lexsort((cell_ids[None, :].repeat(len(Q), 0), -sims))
        probe_cols = order[:, :nprobe]  # centroid-row indices
        probed = np.zeros((len(Q), len(cell_ids)), dtype=bool)
        for qi in range(len(Q)):
            probed[qi, probe_cols[qi]] = True
        union_cells = sorted(int(cell_ids[j]) for j in set(probe_cols.ravel()))
        sub = a.filter(F.col("cell").isin(union_cells))
        chunk_results.append(
            _ivfpq_chunk(
                sub, spark, q_ids, Q, books, cell_ids, probed, k,
                int(k + overfetch),
                resid_cn=Cn if by_residual else None,
                probe_cols=probe_cols if by_residual else None,
                rerank=rerank,
            )
        )
        buf_ids.clear()
        buf_vecs.clear()

    n_seen = 0
    for r in queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
    ).toLocalIterator(prefetchPartitions=True):
        n_seen += 1
        if n_seen > max_queries:
            raise ValueError(
                f"ivfpq_topk: query set exceeds max_queries={max_queries}; "
                "this is the ANN-probe operator — for corpus-sized query "
                "sets use knn_join_ivf / knn_join_blocked"
            )
        buf_ids.append(int(r["query_id"]))
        buf_vecs.append(np.asarray(r["qv"], dtype=np.float64))
        if len(buf_ids) >= query_chunk:
            flush()
    if buf_ids:
        flush()
    if not chunk_results:
        return spark.createDataFrame(
            [], "query_id long, neighbor_id long, cosine double, rank int"
        )
    out = chunk_results[0]
    for extra in chunk_results[1:]:
        out = out.unionByName(extra)
    return out


def ivfpq_topk_prebuilt(
    spark,
    path: str,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 5,
    nprobe: int = 4,
    overfetch: int = 8,
    query_chunk: int = 1024,
    max_queries: int = 262144,
) -> DataFrame:
    """Probe a PERSISTED IVF-PQ index (ann_index_write with
    ``pq=(m, k, iters)``): the query-many half of the full FAISS-style
    on-disk shape. The candidate scan reads ONLY (id, codes, cell) —
    column pruning keeps the raw vectors out of the scan entirely
    (plan-gated via ReadSchema), the probed-cell IN-literal prunes row
    groups (flat layout) or whole directories (cells layout), and the
    ADC uses the codes AS STORED — no per-query re-encode, no Lloyd,
    no codebook retrain. Raw vectors are read back only for the
    ~|Q|·(k+overfetch) survivors' exact cosine re-rank.

    At 100 TB this is the operating point the composition exists for:
    the hot scan touches m bytes per row of a directory-pruned subset,
    the full-width vectors are touched survivor-count times. Output
    values are EXACTLY ivfpq_topk's for the same build parameters
    (codes round-trip parquet losslessly; pytest-pinned)."""
    import numpy as np

    books, residual = _read_codebooks(spark, path)
    assigned = spark.read.parquet(f"{path}/assigned")
    # centroid sidecar: driver pyarrow read, zero Spark jobs
    cell_ids, Cn = _normalized_centroid_matrix(
        sidecar_parquet_rows(f"{path}/centroids")
    )
    if residual:
        query_chunk = min(query_chunk, 128)

    chunk_results: list[DataFrame] = []
    buf_ids: list[int] = []
    buf_vecs: list = []

    def flush() -> None:
        q_ids = np.array(buf_ids, dtype=np.int64)
        Q = np.stack(buf_vecs)
        qn = np.linalg.norm(Q, axis=1)
        qn[qn == 0.0] = 1.0
        sims = (Q / qn[:, None]) @ Cn.T
        order = np.lexsort((cell_ids[None, :].repeat(len(Q), 0), -sims))
        probe_cols = order[:, :nprobe]
        probed = np.zeros((len(Q), len(cell_ids)), dtype=bool)
        for qi in range(len(Q)):
            probed[qi, probe_cols[qi]] = True
        union_cells = sorted(int(cell_ids[j]) for j in set(probe_cols.ravel()))
        sub = assigned.filter(F.col("cell").isin(union_cells))
        chunk_results.append(
            _ivfpq_prebuilt_chunk(
                sub, spark, q_ids, Q, books, cell_ids, probed, k,
                int(k + overfetch),
                resid_cn=Cn if residual else None,
                probe_cols=probe_cols if residual else None,
            )
        )
        buf_ids.clear()
        buf_vecs.clear()

    n_seen = 0
    for r in queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
    ).toLocalIterator(prefetchPartitions=True):
        n_seen += 1
        if n_seen > max_queries:
            raise ValueError(
                f"ivfpq_topk_prebuilt: query set exceeds "
                f"max_queries={max_queries}; use knn_join_ivf for "
                "corpus-sized query sets"
            )
        buf_ids.append(int(r["query_id"]))
        buf_vecs.append(np.asarray(r["qv"], dtype=np.float64))
        if len(buf_ids) >= query_chunk:
            flush()
    if buf_ids:
        flush()
    if not chunk_results:
        return spark.createDataFrame(
            [], "query_id long, neighbor_id long, cosine double, rank int"
        )
    out = chunk_results[0]
    for extra in chunk_results[1:]:
        out = out.unionByName(extra)
    return out


def _ivfpq_prebuilt_chunk(
    sub, spark, q_ids, Q, books, cell_ids, probed, k: int, nk: int,
    resid_cn=None, probe_cols=None,
) -> DataFrame:
    """One prebuilt-IVF-PQ chunk: cell-masked ADC over STORED codes
    (the scan never touches cv — its input projection is
    (id, codes, cell) only) + exact re-rank reading cv for survivors.
    ``resid_cn`` switches the query tables to the residual space (the
    stored codes were residual-encoded at write)."""
    import numpy as np

    norms = np.linalg.norm(Q, axis=1)
    norms[norms == 0.0] = 1.0
    Qn = Q / norms[:, None]
    d = books.shape[2]
    if resid_cn is not None:
        slot, tables_r = _residual_query_tables(
            Qn, books, resid_cn, probe_cols, cell_ids
        )

    def scan(batches):
        import numpy as _np
        import pandas as _pd

        if resid_cn is None:
            sub_q = Qn.reshape(len(Qn), books.shape[0], d)
            tables = ((sub_q[:, :, None, :] - books[None, :, :, :]) ** 2).sum(
                axis=3
            )
        srange = _np.arange(books.shape[0])
        for pdf in batches:
            if len(pdf) == 0:
                continue
            codes = _np.stack(pdf["codes"].to_numpy()).astype(_np.int64)
            ids = pdf["id"].to_numpy()
            cpos = _np.searchsorted(cell_ids, pdf["cell"].to_numpy())
            out_q, out_n, out_a = [], [], []
            for qi in range(len(q_ids)):
                if resid_cn is None:
                    adc = tables[qi][srange, codes].sum(axis=1)
                    mask = (ids != q_ids[qi]) & probed[qi, cpos]
                    cand_adc = _np.round(adc, 9)[mask]
                else:
                    slots = slot[qi, cpos]
                    mask = (ids != q_ids[qi]) & (slots >= 0)
                    sl, cd = slots[mask], codes[mask]
                    if len(sl) == 0:
                        continue
                    cand_adc = _np.round(
                        tables_r[qi][
                            sl[:, None], srange[None, :], cd
                        ].sum(axis=1),
                        9,
                    )
                cand_ids = ids[mask]
                top = min(nk, len(cand_ids))
                if top == 0:
                    continue
                order = _np.lexsort((cand_ids, cand_adc))[:top]
                out_q.append(_np.full(top, q_ids[qi]))
                out_n.append(cand_ids[order])
                out_a.append(cand_adc[order])
            if out_q:
                yield _pd.DataFrame(
                    {
                        "query_id": _np.concatenate(out_q),
                        "neighbor_id": _np.concatenate(out_n),
                        "adc": _np.concatenate(out_a),
                    }
                )

    cands = ensure_parallelism(sub.select("id", "codes", "cell")).mapInPandas(
        scan, "query_id long, neighbor_id long, adc double"
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("adc").asc(), F.col("neighbor_id").asc()
    )
    survivors = (
        cands.withColumn("__rn__", F.row_number().over(wq))
        .filter(F.col("__rn__") <= nk)
        .select("query_id", "neighbor_id")
    )
    qdf = local_table(
        spark,
        [(int(i), [float(x) for x in v]) for i, v in zip(q_ids, Q)],
        "query_id long, qv array<double>",
    )
    scored = (
        survivors.join(
            sub.select(F.col("id").alias("neighbor_id"), "cv"), "neighbor_id"
        )
        .join(F.broadcast(qdf), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine_similarity(F.col("qv"), F.col("cv")), 6).alias(
                "cosine"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def _residual_query_tables(Qn, books, Cn, probe_cols, cell_ids):
    """Residual ADC scaffolding: per (query, probed-cell-slot)
    distance tables plus the (Q, C) slot map (−1 = not probed).
    tables_r[qi, j, s, c] = ||(q_n − c_probed_j)_s − codeword||²."""
    import numpy as np

    m, kk, d = books.shape
    nq, npb = probe_cols.shape
    slot = -np.ones((nq, len(cell_ids)), dtype=np.int16)
    tables_r = np.zeros((nq, npb, m, kk))
    for qi in range(nq):
        for j, cellpos in enumerate(probe_cols[qi]):
            slot[qi, cellpos] = j
            qres = (Qn[qi] - Cn[cellpos]).reshape(m, d)
            tables_r[qi, j] = ((qres[:, None, :] - books) ** 2).sum(axis=2)
    return slot, tables_r


def _ivfpq_chunk(
    sub, spark, q_ids, Q, books, cell_ids, probed, k: int, nk: int,
    resid_cn=None, probe_cols=None, rerank=None,
) -> DataFrame:
    """One ivfpq_topk query chunk: cell-masked ADC scan over the
    probed-cell subset + batch pruning + exact cosine re-rank.
    ``resid_cn`` (normalized centroid matrix) switches both the encode
    and the query tables to the residual space. ``rerank`` optionally
    supplies the survivors' (id, cv) rows from a cheaper frame than
    ``sub`` — on the fresh path ``sub`` embeds the full-corpus
    assignment Arrow stage, which the survivor join does not need
    (same id→vector mapping by construction)."""
    import numpy as np

    d = books.shape[2]
    norms = np.linalg.norm(Q, axis=1)
    norms[norms == 0.0] = 1.0
    Qn = Q / norms[:, None]
    if resid_cn is not None:
        slot, tables_r = _residual_query_tables(
            Qn, books, resid_cn, probe_cols, cell_ids
        )

    def scan(batches):
        import numpy as _np
        import pandas as _pd

        if resid_cn is None:
            sub_q = Qn.reshape(len(Qn), books.shape[0], d)
            tables = ((sub_q[:, :, None, :] - books[None, :, :, :]) ** 2).sum(
                axis=3
            )  # (Q, m, k)
        srange = _np.arange(books.shape[0])
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = _np.stack(pdf["cv"].to_numpy()).astype(_np.float64)
            vn = _np.linalg.norm(V, axis=1)
            vn[vn == 0.0] = 1.0
            Vn = V / vn[:, None]
            # map each row's cell to its centroid-row index for the
            # probed-mask gather (cell_ids is sorted)
            cpos = _np.searchsorted(cell_ids, pdf["cell"].to_numpy())
            if resid_cn is not None:
                Vn = Vn - resid_cn[cpos]
            Vn = Vn.reshape(len(V), books.shape[0], d)
            codes = _np.empty((len(V), books.shape[0]), dtype=_np.int64)
            for s in range(books.shape[0]):
                dist = ((Vn[:, s, None, :] - books[None, s]) ** 2).sum(axis=2)
                codes[:, s] = _np.argmin(dist, axis=1)
            ids = pdf["id"].to_numpy()
            out_q, out_n, out_a = [], [], []
            for qi in range(len(q_ids)):
                if resid_cn is None:
                    adc = tables[qi][srange, codes].sum(axis=1)
                    mask = (ids != q_ids[qi]) & probed[qi, cpos]
                    cand_adc = _np.round(adc, 9)[mask]
                else:
                    slots = slot[qi, cpos]
                    mask = (ids != q_ids[qi]) & (slots >= 0)
                    sl, cd = slots[mask], codes[mask]
                    if len(sl) == 0:
                        continue
                    cand_adc = _np.round(
                        tables_r[qi][
                            sl[:, None], srange[None, :], cd
                        ].sum(axis=1),
                        9,
                    )
                cand_ids = ids[mask]
                top = min(nk, len(cand_ids))
                if top == 0:
                    continue
                order = _np.lexsort((cand_ids, cand_adc))[:top]
                out_q.append(_np.full(top, q_ids[qi]))
                out_n.append(cand_ids[order])
                out_a.append(cand_adc[order])
            if out_q:
                yield _pd.DataFrame(
                    {
                        "query_id": _np.concatenate(out_q),
                        "neighbor_id": _np.concatenate(out_n),
                        "adc": _np.concatenate(out_a),
                    }
                )

    cands = ensure_parallelism(sub.select("id", "cv", "cell")).mapInPandas(
        scan, "query_id long, neighbor_id long, adc double"
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("adc").asc(), F.col("neighbor_id").asc()
    )
    survivors = (
        cands.withColumn("__rn__", F.row_number().over(wq))
        .filter(F.col("__rn__") <= nk)
        .select("query_id", "neighbor_id")
    )
    qdf = local_table(
        spark,
        [(int(i), [float(x) for x in v]) for i, v in zip(q_ids, Q)],
        "query_id long, qv array<double>",
    )
    vec_src = rerank if rerank is not None else sub
    scored = (
        survivors.join(
            vec_src.select(F.col("id").alias("neighbor_id"), "cv"),
            "neighbor_id",
        )
        .join(F.broadcast(qdf), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine_similarity(F.col("qv"), F.col("cv")), 6).alias(
                "cosine"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def random_projection(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    in_dim: int = 64,
    out_dim: int = 16,
) -> DataFrame:
    """Signed (±1) random projection — the classic cheap
    dimensionality reduction (Achlioptas 2003: ±1 entries preserve
    pairwise distances like Gaussian projections) used before ANN
    indexing / clustering when the full embedding width is overkill.

    The sign matrix is a PURE FUNCTION of (j, i) via md5 parity, so
    any engine can recompute it — no state to ship, no RNG to seed.
    Arithmetic is oracle-exact: each product is ±x (sign flip, no
    rounding), scaled to integer nanounits and summed as BIGINT (order
    insensitive), divided back once — identical in any engine.

    Scale: one narrow map stage, zero UDF; the sign matrix rides in
    the plan as out_dim literal arrays (in_dim floats each), never
    broadcast or joined. The out_dim interpreted zip_with/aggregate
    folds are the per-row cost (~0.5 ms/row at 64→16), so a compact
    single-split input is first spread across the cluster
    (ensure_parallelism — a round-robin exchange locally, a no-op at
    scale where the scan has enough splits); past that guard the
    stage is shuffle-free. Output is long form (id, j, val) — pivot
    to arrays downstream if needed.
    """
    import hashlib

    def sign(j: int, i: int) -> float:
        return 1.0 if int(hashlib.md5(f"{j}:{i}".encode()).hexdigest()[0], 16) % 2 == 0 else -1.0

    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    entries = []
    for j in range(out_dim):
        signs = F.array(*[F.lit(sign(j, i)) for i in range(in_dim)])
        prods = F.zip_with(
            v, signs, lambda x, s: F.round(x * s * F.lit(1e9), 0).cast("long")
        )
        tot = F.aggregate(prods, F.lit(0).cast("long"), lambda a, b: a + b)
        entries.append(
            F.struct(
                F.lit(j).cast("bigint").alias("j"),
                (tot.cast("double") / F.lit(1e9)).alias("val"),
            )
        )
    return ensure_parallelism(df).select(
        F.col(id_col), F.inline(F.array(*entries))
    )
