"""Similarity search over an embedding column (``array<float>``).

Every search operator is one pipeline — candidates, exact score,
per-query top-k — built from the same stages:

  * ``_query_side``: the query batch as (query_id, qv, ...), always the
    broadcast side of the candidate join (queries are the small side);
  * ``_probe_cells``: a vector's ``nprobe`` nearest coarse cells, one
    row each (the IVF candidate filter);
  * ``_cos_scored``: exact cosine, rounded to 6 dp;
  * ``_top_k``: the per-query cut with a total order (score DESC,
    neighbor ASC), so results are deterministic.

The operators differ only in how candidates are generated:
  * exact: ann_bruteforce (every pair), ann_range_search (threshold
    instead of k), hard_negatives (label-inequality join);
  * IVF: ann_ivf (a precomputed ``label`` cell), ann_ivf_kmeans and
    ann_incremental (fitted k-means cells, ``nprobe`` probes);
  * quantized: ann_sq8 (int8 dot product), ann_pq (PQ-ADC shortlist,
    then exact re-rank) and ann_ivfpq (the same behind IVF probes).

The k-means and PQ fits draw one deterministic sample and run Lloyd
on the driver in numpy (``_lloyd``); assignment, encoding and search
stay cluster-side.  Vector math is built-in higher-order functions
(functions.vectors) — JVM-side, no Python in the scoring loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import (
    agg_array_expr,
    cosine_similarity,
    l2_norm,
    lit_double_array,
    lit_double_cube,
    lit_double_matrix,
    lit_long_array,
)
from .dedup import bucket_pairs
from .relational import top_k_per


def _xm_sql(vec_col: str, dim: int) -> str:
    """SQL template (``{i}`` = 1-based index) for the integer-micro
    component — the exact tree ``F.round(F.element_at(slice(cast(vc
    as array<double>), 1, dim), i) * 1e6).cast("long")`` builds, for
    :func:`~..functions.vectors.agg_array_expr` packing.  The column
    name is escaped for both the backtick quoting and the template's
    ``str.format``."""
    quoted = vec_col.replace("`", "``").replace("{", "{{").replace("}", "}}")
    return (
        f"CAST(round(element_at(slice(cast(`{quoted}` as array<double>),"
        f" 1, {dim}), {{i}}) * 1e6) AS BIGINT)"
    )


def _prep(emb: DataFrame, id_col: str, vec_col: str, extra: list[str] | None = None) -> DataFrame:
    cols = [F.col(id_col), F.col(vec_col).cast("array<double>").alias("v")]
    cols += [F.col(c) for c in (extra or [])]
    return emb.select(*cols)


def _query_side(queries: DataFrame, id_col: str, vec_col: str, *cols, extra=None) -> DataFrame:
    """The query batch as ``(query_id, qv, *cols)``; ``cols`` may use
    ``v`` and the ``extra`` columns."""
    return _prep(queries, id_col, vec_col, extra).select(
        F.col(id_col).alias("query_id"), F.col("v").alias("qv"), *cols
    )


def _cos_scored(pairs: DataFrame, id_col: str, *cols) -> DataFrame:
    """Candidate (query, corpus) pairs as ``(query_id, neighbor_id,
    *cols, cos_sim)``, the cosine of ``qv`` and ``v`` rounded to 6 dp."""
    return pairs.select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        *cols,
        F.round(cosine_similarity(F.col("qv"), F.col("v")), 6).alias("cos_sim"),
    )


def _top_k(scored: DataFrame, k: int, score: str = "cos_sim", drop_score: bool = False) -> DataFrame:
    """The ``k`` best rows per query under the total order (``score``
    DESC, neighbor_id ASC); ``drop_score`` also drops the score."""
    drop = ("rk", score) if drop_score else ("rk",)
    return top_k_per(scored, ["query_id"], k, F.desc(score), F.asc("neighbor_id")).drop(*drop)


def ann_bruteforce(emb: DataFrame, queries: DataFrame, k: int = 5) -> DataFrame:
    """Exact cosine top-k of ``queries`` against ``emb`` (self excluded).

    Returns (query_id, neighbor_id, cos_sim) with a total tiebreak
    (sim DESC, neighbor ASC) so results are deterministic.
    """
    q = _query_side(queries, "vec_id", "embedding")
    pairs = _prep(emb, "vec_id", "embedding").join(
        F.broadcast(q), F.col("vec_id") != F.col("query_id")
    )
    return _top_k(_cos_scored(pairs, "vec_id"), k)


def ann_range_search(
    emb: DataFrame,
    queries: DataFrame,
    threshold: float = 0.2,
) -> DataFrame:
    """Exact cosine RANGE search: every corpus vector within
    ``cos_sim >= threshold`` of each query (self excluded) — the
    radius-query sibling of :func:`ann_bruteforce`'s top-k (vector
    stores expose both: k-NN answers "the best k", range answers
    "everything this similar", the shape dedup thresholds and
    recall-first retrieval want).

    Same 100 TB shape as ann_bruteforce: the k-row query side
    broadcasts against the corpus scan (one pass, no corpus shuffle);
    the threshold filter evaluates in the same projection as the
    score, so output size tracks the neighborhood density, never the
    corpus.  Zero-norm vectors score NULL cosine and never pass the
    threshold.  Returns (query_id, neighbor_id, cos_sim).
    """
    q = _query_side(queries, "vec_id", "embedding")
    pairs = _prep(emb, "vec_id", "embedding").join(
        F.broadcast(q), F.col("vec_id") != F.col("query_id")
    )
    return _cos_scored(pairs, "vec_id").filter(F.col("cos_sim") >= threshold)


def kmeans_fit(emb: DataFrame, k: int = 10, max_iter: int = 8) -> list[list[float]]:
    """Deterministic Lloyd's k-means over an embedding column — the
    coarse quantizer for IVF.  Returns k centroids (python lists; the
    model is k×d scalars — driver-sized by definition, like any ML
    model parameters).

    Distributed shape: the fit trains on a DETERMINISTIC sample of
    ``k × 256`` vectors (lowest id-hashes — ONE
    TakeOrderedAndProject pass over the corpus: per-partition heaps,
    k-row driver merge), the standard quantizer-training posture
    (FAISS trains on ~256 points per centroid).  The sample is
    collected once and Lloyd runs on the DRIVER in numpy: iteration
    cost is bounded by the model, not the corpus, and — measured —
    the previous cluster-side loop spent its time in Catalyst
    re-analyzing literal-centroid expression trees every iteration
    (~5 s per iteration at m=8×16 codes), not in data.  At 100 TB the
    corpus is scanned exactly once here (sample draw); the caller's
    corpus-wide assignment/encode stays cluster-side.

    Determinism: init is the k lowest id-hash vectors (no RNG; a
    prefix of the training sample), assignment ties break to the
    lowest cell (argmin), and updates are numpy double reductions in
    fixed sample order, so repeated fits are bit-identical.
    """
    if k <= 0:
        raise ValueError("kmeans_fit needs k > 0")
    X = _train_sample(emb, "vec_id", "embedding", k * 256)
    if X is None:
        # empty corpus: a 1-centroid dim-1 placeholder model — callers
        # only use it to shape score/assign expressions, which never
        # evaluate over the zero input rows, so every downstream
        # result is schema-stable empty (tests/test_empty_surface.py)
        return [[0.0]]
    return _lloyd(X, k, max_iter)


def _train_sample(emb: DataFrame, id_col: str, vec_col: str, n: int):
    """The fits' training sample: the ``n`` lowest id-hash vectors
    (one TakeOrderedAndProject corpus pass) as a float64 matrix, or
    None on an empty corpus."""
    import numpy as np

    v = _prep(emb, id_col, vec_col).select(F.col(id_col).alias("_id"), "v")
    rows = v.orderBy(F.xxhash64("_id"), "_id").limit(n).collect()
    if not rows:
        return None
    return np.array([list(r["v"]) for r in rows], dtype=np.float64)


def _lloyd(X, k: int, max_iter: int) -> list[list[float]]:
    """Lloyd's k-means on the rows of ``X``, seeded with its first
    ``k`` rows: argmin assignment (ties to the lowest cell), empty
    cells keep their centroid, stops early at a fixed point."""
    import numpy as np

    C = X[: min(k, len(X))].copy()
    for _ in range(max_iter):
        d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        cell = d2.argmin(axis=1)
        newC = C.copy()
        for c in range(len(C)):
            members = X[cell == c]
            if len(members):
                newC[c] = members.mean(axis=0)
        if np.array_equal(newC, C):
            break
        C = newC
    return [[float(x) for x in c] for c in C]


def _sqdist_to(vec, c):
    return F.aggregate(
        F.zip_with(vec, c, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, d: acc + d,
    )


def _centroid_matrix(centroids: list[list[float]]):
    """The k×d codebook as ONE literal array<array<double>> column —
    built once per query (a single py4j/expr call, see
    :func:`..functions.vectors.lit_double_matrix`) and shared by every
    assign/probe expression."""
    return lit_double_matrix(centroids)


def _cell_dists(vec, centroids):
    """array<struct<d,cell>> of squared distances, one per centroid.

    ``centroids`` may be the python list or a prebuilt
    :func:`_centroid_matrix` column.  One ``transform`` over the
    literal matrix, NOT k unrolled per-centroid branches (round-11
    optimization pass): the unrolled form built a k×(d+~10)-node
    expression tree through thousands of py4j calls and made Catalyst
    analysis/codegen the dominant cost of the ANN queries — measured
    3.0–3.3 s of driver-side construction vs ~1.0 s of execution for
    ann_incremental at sf0.1, with only 0.85 s inside stages.  The
    per-element arithmetic (zip_with square-diff, ordered aggregate
    sum, struct(d, cell) array_sort ties) is UNCHANGED, so distances,
    tie-breaks and assignments are bit-identical."""
    mat = (
        _centroid_matrix(centroids)
        if isinstance(centroids, (list, tuple))
        else centroids
    )
    return F.transform(
        mat,
        lambda c, i: F.struct(
            _sqdist_to(vec, c).alias("d"), i.cast("int").alias("cell")
        ),
    )


def _nearest_cell(vec, centroids):
    # array_sort on struct orders by (d, cell): deterministic ties.
    return F.element_at(F.array_sort(_cell_dists(vec, centroids)), 1)["cell"]


def _probe_cells(vec, centroids, nprobe: int):
    """One ``cell`` row for each of ``vec``'s ``nprobe`` nearest cells
    (same (d, cell) order as :func:`_nearest_cell`)."""
    return F.explode(
        F.transform(
            F.slice(F.array_sort(_cell_dists(vec, centroids)), 1, nprobe),
            lambda s: s["cell"],
        )
    ).alias("cell")


def assign_cells(emb: DataFrame, centroids) -> DataFrame:
    """Attach the nearest-centroid cell id: (id, v, cell).

    ``centroids``: python k×d list or a prebuilt
    :func:`_centroid_matrix` column (callers with several assign/probe
    expressions share one literal codebook column)."""
    return _prep(emb, "vec_id", "embedding").withColumn(
        "cell", _nearest_cell(F.col("v"), centroids)
    )


def _ivf_search(
    corpus: DataFrame, queries: DataFrame, cells, k: int, id_col: str, vec_col: str,
    cell_col: str = "cell", extra: list[str] | None = None,
) -> DataFrame:
    """Top-k over a cell-assigned ``corpus``: each query carries its
    probed cell(s) ``cells`` (a column over ``v``/``extra``), the
    candidates are the equi-join on ``cell_col`` (query side
    broadcast), then exact cosine and the top-k cut."""
    q = _query_side(queries, id_col, vec_col, cells, extra=extra)
    pairs = corpus.join(F.broadcast(q), cell_col).filter(F.col(id_col) != F.col("query_id"))
    return _top_k(_cos_scored(pairs, id_col), k)


def ann_ivf_kmeans(
    emb: DataFrame,
    queries: DataFrame,
    n_cells: int = 10,
    nprobe: int = 2,
) -> DataFrame:
    """IVF with a REAL fitted coarse quantizer: k-means cells replace
    the precomputed ``label`` column of :func:`ann_ivf`, so raw
    embeddings work directly.

    Search probes the query's ``nprobe`` nearest cells (recall knob),
    then exact-re-ranks inside them: candidates come from an equi-join
    on cell id — |corpus|·nprobe/n_cells pairs instead of brute force's
    |corpus|, and the query side is broadcast.  At 100 TB the corpus
    assignment is precomputed once (write cell as a partition column)
    and only the probe join runs per query batch.
    """
    centroids = kmeans_fit(emb, k=n_cells, max_iter=8)
    mat = _centroid_matrix(centroids)  # one shared literal codebook column
    corpus = assign_cells(emb, mat)
    probe = _probe_cells(F.col("v"), mat, nprobe)
    return _ivf_search(corpus, queries, probe, 5, "vec_id", "embedding")


def ann_incremental(
    emb: DataFrame,
    new_batch: DataFrame,
    queries: DataFrame,
    n_cells: int = 10,
    nprobe: int = 2,
) -> DataFrame:
    """Incremental IVF index maintenance — the serving-side sibling of
    dedup_incremental: a NEW batch of embeddings joins the index by
    assignment against the PERSISTED coarse quantizer (fitted on the
    base corpus only — :func:`kmeans_fit` never sees the batch), and
    search probes the MERGED index.  A 100 TB corpus grows; refitting
    the quantizer per ingest would rescan everything and silently move
    every cell boundary — the production posture is assign-only ingest
    (broadcast k×d codebook, one map over the batch) with periodic
    offline refits, exactly FAISS's add-after-train contract.

    Base-vector cell assignments are therefore IDENTICAL to the
    pre-ingest index (pinned in tests/test_ann_incremental.py), and
    per-cell occupancy drift of the batch is the refit trigger —
    :func:`index_drift_report` under the hash gate.

    Search shape is :func:`ann_ivf_kmeans`'s probe join unchanged:
    nprobe nearest cells per query, broadcast query side, equi-join on
    cell, exact cosine re-rank.  Rows-only in the driver gate
    (iterative fit); recall ≥ 0.9 vs brute force over the merged
    corpus is the pytest bar, like its fitted siblings.
    """
    centroids = kmeans_fit(
        emb, k=n_cells, max_iter=8
    )
    mat = _centroid_matrix(centroids)  # one shared literal codebook column
    base = assign_cells(emb, mat)
    fresh = assign_cells(new_batch, mat)
    corpus = base.unionByName(fresh)
    probe = _probe_cells(F.col("v"), mat, nprobe)
    return _ivf_search(corpus, queries, probe, 5, "vec_id", "embedding")


def index_drift_report(
    corpus: DataFrame,
    new_batch: DataFrame,
    cell_col: str = "cell",
) -> DataFrame:
    """Per-cell occupancy drift of a newly ingested batch against the
    serving corpus — the REFIT TRIGGER for :func:`ann_incremental`'s
    assign-only ingest: when new arrivals concentrate in cells out of
    proportion to the corpus (data distribution moved), the coarse
    quantizer is stale and probe recall decays; this report is the
    number an index-maintenance job alerts on.

    Exactness & shape: two partial-agged groupBys to the CELL domain,
    one full-outer equi-join of those domain-sized tables (a cell may
    exist on one side only), totals attached by an unpartitioned
    unbounded window over the cell-domain frame (the bucket-rollup
    class — never row-level), shares and drift as single divisions of
    exact BIGINTs, rounded 6 dp.  Returns ``(cell, n_corpus, n_new,
    share_corpus, share_new, drift)`` ordered by cell.
    """
    c = corpus.groupBy(F.col(cell_col).alias("cell")).agg(
        F.count(F.lit(1)).cast("long").alias("n_corpus")
    )
    b = new_batch.groupBy(F.col(cell_col).alias("cell")).agg(
        F.count(F.lit(1)).cast("long").alias("n_new")
    )
    j = c.join(b, "cell", "full_outer").select(
        "cell",
        F.coalesce("n_corpus", F.lit(0)).cast("long").alias("n_corpus"),
        F.coalesce("n_new", F.lit(0)).cast("long").alias("n_new"),
    )
    wt = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    tot = j.select(
        "cell",
        "n_corpus",
        "n_new",
        F.sum("n_corpus").over(wt).alias("tc"),
        F.sum("n_new").over(wt).alias("tn"),
    )
    share_c = F.try_divide(
        F.col("n_corpus").cast("double"),
        F.nullif(F.col("tc").cast("double"), F.lit(0.0)),
    )
    share_n = F.try_divide(
        F.col("n_new").cast("double"),
        F.nullif(F.col("tn").cast("double"), F.lit(0.0)),
    )
    return tot.select(
        "cell",
        "n_corpus",
        "n_new",
        F.round(share_c, 6).alias("share_corpus"),
        F.round(share_n, 6).alias("share_new"),
        F.round(share_n - share_c, 6).alias("drift"),
    ).orderBy("cell")


def ann_ivf(emb: DataFrame, queries: DataFrame) -> DataFrame:
    """IVF-pruned cosine top-k: candidates restricted to the query's
    coarse cell (equi-join on ``label``), then exact re-rank.
    ~|cells|× cheaper than brute force; recall bounded by cell quality.
    """
    corpus = _prep(emb, "vec_id", "embedding", ["label"])
    return _ivf_search(
        corpus, queries, F.col("label"), 5, "vec_id", "embedding", "label", extra=["label"]
    )


def embedding_norms(emb: DataFrame) -> DataFrame:
    """Per-vector hygiene stats — the sanity pass a pipeline runs
    before ANN indexing / cosine dedup: dimensionality, L2 norm,
    largest-magnitude component, positive-component count.  All
    array-native inside the row (zero shuffle, codegen'd); floats are
    cast to double BEFORE arithmetic so the SQL oracle reproduces the
    sums bit-for-bit at 6 dp."""
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    sumsq = F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x)
    return emb.select(
        F.col("vec_id"),
        F.size("embedding").cast("long").alias("dim"),
        F.round(F.sqrt(sumsq), 6).alias("l2_norm"),
        F.round(F.array_max(F.transform(v, F.abs)), 6).alias("max_abs"),
        F.size(F.filter(v, lambda x: x > 0)).cast("long").alias("n_pos"),
    )


def srp_planes() -> list[list[float]]:
    """Deterministic signed-random-projection hyperplanes: component
    (b, d) derives from md5(seed:b:d) mapped to [-1, 1).  Model
    constants (16 x 64 floats) — computed once on the driver and
    inlined as literals on BOTH engines, like the k-means centroids."""
    import hashlib

    return [
        [
            (int(hashlib.md5(f"srp:{b}:{d}".encode()).hexdigest()[:8], 16) / 2**32)
            * 2.0
            - 1.0
            for d in range(64)
        ]
        for b in range(16)
    ]


def srp_fingerprint(emb: DataFrame) -> DataFrame:
    """16-bit SRP fingerprint per vector: bit b = sign of the
    dot product with deterministic hyperplane b.  P(bits agree) =
    1 − θ/π for angle θ, so hamming distance estimates the angle —
    the cosine analogue of SimHash.  Pure per-row expression (zero
    shuffle), SINGLE traversal: the plane matrix is transposed into a
    per-dimension literal table, so one ``aggregate`` pass over the
    vector accumulates all 16 dots at once (``acc[b] += x·P[b][d]``
    via ``zip_with``) instead of 16 separate array walks.  Float
    additions stay in dimension order 0..d-1 per dot — bit-identical
    to per-plane summation, so the SQL oracle's ``list_dot_product``
    reproduces it exactly."""
    planes = srp_planes()
    # transposed literal table: entry d = [P[0][d] .. P[15][d]]
    # (one expr call — the unrolled F.lit form cost ~3.9 s of py4j
    # per construction at 64×16, round-11 optimization pass)
    plane_cols = lit_double_matrix(
        [[planes[b][d] for b in range(16)] for d in range(64)]
    )
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    zipped = F.zip_with(v, plane_cols, lambda x, pc: F.struct(x.alias("x"), pc.alias("pc")))
    dots = F.aggregate(
        zipped,
        F.array_repeat(F.lit(0.0), 16),
        lambda acc, s: F.zip_with(acc, s["pc"], lambda a, p: a + s["x"] * p),
    )
    powers = lit_long_array([1 << b for b in range(16)])
    packed = F.aggregate(
        F.zip_with(dots, powers, lambda d, p: F.when(d > 0, p).otherwise(F.lit(0).cast("long"))),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return emb.select(F.col("vec_id"), F.col("embedding"), packed.alias("srp"))


def dedup_embedding_srp(emb: DataFrame, max_bucket: int = 256) -> DataFrame:
    """Embedding near-dup pairs via SRP-LSH banding — the cosine-space
    scale path that needs NO pre-existing blocking column (contrast
    ``dedup_embedding``'s grid cells / ``ann_ivf``'s fitted cells):
    band the SRP fingerprint into two byte buckets, candidate pairs
    via equi-join on (band, value), verify with exact cosine.

    Scale shape mirrors dedup_minhash_candidates: ONE fingerprint pass
    (a band self-JOIN would recompute the SRP pipeline for both
    sides), one groupBy shuffle carrying ONLY (band, byte-bucket, id)
    rows — never the vectors — in-bucket pair expansion with array
    functions, buckets above ``max_bucket`` (degenerate all-equal
    regions) degrading to STAR expansion (connectivity preserved,
    O(|bucket|) output) instead of being dropped, and the full vectors
    attaching exactly once, after the id-pair ``distinct()``, for the
    exact-cosine verify."""
    sig = srp_fingerprint(emb)
    half = 8
    mask = (1 << half) - 1
    bands = sig.select(
        F.col("vec_id"),
        F.posexplode(
            F.array(
                F.col("srp").bitwiseAND(F.lit(mask)),
                F.shiftright("srp", half).bitwiseAND(F.lit(mask)),
            )
        ).alias("band", "bv"),
    )
    buckets = (
        bands.groupBy("band", "bv")
        .agg(F.sort_array(F.collect_set("vec_id")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    cand = bucket_pairs(buckets, "ids", "vec_a", "vec_b", max_bucket).distinct()
    va = emb.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("va"))
    vb = emb.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("vb"))
    cos = cosine_similarity(
        F.transform("va", lambda x: x.cast("double")),
        F.transform("vb", lambda x: x.cast("double")),
    )
    return (
        cand.join(va, "vec_a")
        .join(vb, "vec_b")
        .select("vec_a", "vec_b", F.round(cos, 6).alias("cos_sim"))
        .filter(F.col("cos_sim") >= 0.3)
    )


def embedding_quantize(emb: DataFrame, dim: int | None = None) -> DataFrame:
    """Symmetric per-dimension int8 quantization of an embedding
    column — the 4× memory/IO compression an ANN index applies before
    serving (scalar quantization, the SQ8 baseline of the FAISS/IVF
    playbook; the PQ upgrade keeps this exact two-pass shape).

    Pass 1 aggregates per-dimension max|x| ("scales", d doubles total,
    partial-agged before the exchange); pass 2 broadcasts that single
    row and maps each vector to ``round(x/scale*127)`` plus its mean
    absolute dequantization error.  Nothing wider than d doubles ever
    reaches the driver or the shuffle — at 100 TB the second pass is a
    pure map stage.

    Returns ``vec_id, qvec (array<int>), mae (double)``; all arithmetic
    is double-precision in dimension order on both engines so the FP
    folds are bit-reproducible against the oracle.
    """
    if dim is None:
        # one-scalar schema probe (array length isn't in the schema);
        # same driver-side model-state exception as the k-means fit
        dim = emb.select(F.size("embedding").alias("n")).limit(1).collect()[0]["n"]
    # slice to dim so an explicit dim SHORTER than the stored vectors
    # truncates cleanly instead of null-poisoning qvec/mae (element_at
    # past the scales array returns NULL — round-5 advice)
    v = F.slice(F.col("embedding").cast("array<double>"), 1, dim)
    # per-dim scales: d independent max aggregates in ONE pass, packed
    # with one expr parse (round 12 — agg_array_expr)
    scales = emb.agg(
        agg_array_expr(
            "max(abs(element_at(slice(cast(`embedding` as array<double>),"
            f" 1, {dim}), {{i}})))",
            dim,
        ).alias("scales")
    )
    joined = emb.select(F.col("vec_id"), v.alias("v")).crossJoin(F.broadcast(scales))
    s_at = lambda i: F.element_at("scales", i + F.lit(1))
    qexpr = F.transform(
        "v",
        lambda x, i: F.when(s_at(i) == 0.0, F.lit(0))
        .otherwise(F.round(x / s_at(i) * 127).cast("int")),
    )
    with_q = joined.select("vec_id", "v", "scales", qexpr.alias("qvec"))
    errs = F.transform(
        "v",
        lambda x, i: F.abs(
            x
            - F.element_at("qvec", i + F.lit(1)).cast("double")
            * F.when(s_at(i) == 0.0, F.lit(0.0)).otherwise(s_at(i))
            / F.lit(127.0)
        ),
    )
    mae = F.aggregate(errs, F.lit(0.0), lambda acc, e: acc + e) / F.lit(float(dim))
    return with_q.select("vec_id", "qvec", F.round(mae, 6).alias("mae"))


def ann_sq8(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    dim: int | None = None,
) -> DataFrame:
    """Quantized-corpus ANN: brute-force top-k over int8-quantized
    vectors (SQ8 — the serving configuration of `embedding_quantize`).
    Scoring is an INTEGER dot product in the quantized space: exact,
    overflow-free (d·127² ≪ 2³¹), and ~4× less memory/IO than the
    float path — the standard recall-for-cost trade of an SQ8 index.

    Same distributed shape as `ann_bruteforce`: quantize once (map
    stage after the d-value scale aggregate), broadcast the quantized
    query side, per-query top-k with a total tiebreak (score DESC,
    neighbor ASC).  The integer scores make the result engine-exact —
    no FP summation-order caveats anywhere.

    ``queries`` must be a subset of ``emb`` (selected by ``vec_id``):
    both sides are quantized with the CORPUS scales — quantizing the
    query batch with its own max|x| would score in a different space.
    """
    corpus = embedding_quantize(emb, dim=dim).select(
        "vec_id", "qvec"
    )
    qside = corpus.join(
        queries.select("vec_id"), "vec_id", "left_semi"
    ).select(F.col("vec_id").alias("query_id"), F.col("qvec").alias("q_qvec"))
    score = F.aggregate(
        F.zip_with("qvec", "q_qvec", lambda a, b: a * b),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    scored = corpus.join(F.broadcast(qside), F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        score.cast("long").alias("score"),
    )
    return _top_k(scored, k, "score")


def pq_fit(emb: DataFrame, m: int = 4, max_iter: int = 8) -> list[list[list[float]]]:
    """Product-quantization codebooks: split d dims into ``m`` disjoint
    subspaces and fit 16 centroids in EACH — m independent
    (16 × d/m) codebooks, m·16·d/m scalars total:
    driver-sized model state, the standard 100-TB ANN serving format
    (a code is m bytes where the vector was 4·d).

    Like :func:`kmeans_fit`, the m sub-fits train on ONE deterministic
    sample of ``16 × 256`` lowest-id-hash vectors
    (one TakeOrderedAndProject corpus pass, collected once) and run
    Lloyd on the driver in numpy — the previous cluster-side joint
    loop was Catalyst-bound (re-analyzing m×16 literal-centroid
    expression trees per iteration, ~5 s/iteration at m=8), not
    data-bound.  The corpus-wide pq_encode stays cluster-side.
    Determinism: id-hash sample order, argmin low-index ties, numpy
    double reductions in fixed sample order — repeated fits are
    bit-identical.
    """
    probe = emb.select(F.size("embedding").alias("n")).limit(1).collect()
    if not probe or probe[0]["n"] is None:
        # empty corpus: m one-code dim-1 placeholder books — encode
        # expressions shaped from them never evaluate over zero rows
        # (same contract as kmeans_fit's placeholder)
        return [[[0.0]] for _ in range(m)]
    dim = probe[0]["n"]
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    ds = dim // m
    X = _train_sample(emb, "vec_id", "embedding", 16 * 256)
    if X is None:
        return [[[0.0] * ds] for _ in range(m)]
    return [_lloyd(X[:, j * ds : (j + 1) * ds], 16, max_iter) for j in range(m)]


def pq_encode(emb: DataFrame, codebooks: list[list[list[float]]]) -> DataFrame:
    """Encode each vector as ``m`` sub-codes + its reconstruction
    norm²: (id, codes array<int>, rnorm2).

    ``rnorm2`` is EXACT given the codes — subspaces are disjoint, so
    ||x̂||² = Σ_j ||c_{j,code_j}||² with no cross terms — and is the
    denominator the ADC cosine needs, computed once at encode time by
    a literal table lookup (pure map stage, no shuffle).
    """
    ds = len(codebooks[0][0])
    v = F.col("embedding").cast("array<double>")
    # one transform over the literal m×n_codes×ds cube, not m unrolled
    # _nearest_cell branches (round-11 optimization pass: the unrolled
    # form built the codebook literals through per-element py4j calls
    # and made Catalyst analysis the dominant query cost; element
    # arithmetic/ordering is unchanged, so codes are bit-identical)
    cube = lit_double_cube(codebooks)
    codes = F.transform(
        cube,
        lambda book, j: _nearest_cell(F.slice(v, j * ds + 1, ds), book),
    )
    norms_lit = lit_double_matrix(
        [[float(sum(x * x for x in c)) for c in book] for book in codebooks]
    )
    coded = emb.select(F.col("vec_id"), codes.alias("codes"))
    rnorm2 = F.aggregate(
        F.zip_with("codes", norms_lit, lambda c, tbl: F.element_at(tbl, c + F.lit(1))),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return coded.select(F.col("vec_id"), "codes", rnorm2.alias("rnorm2"))


def _pq_search(
    emb: DataFrame, enc: DataFrame, queries: DataFrame, books, k: int, rerank: int,
    id_col: str, vec_col: str, centroids=None, nprobe: int = 0,
) -> DataFrame:
    """PQ-ADC shortlist of ``k·rerank`` per query over the codes
    ``enc``, then exact cosine re-rank of the shortlist to ``k``.
    Candidates are every other corpus row or, given ``centroids``
    (``enc`` then carries ``cell``), the rows in the query's ``nprobe``
    nearest cells."""
    ds = len(books[0][0])
    q = _query_side(queries, id_col, vec_col)
    # one nested transform over the literal sub-codebook cube, not
    # m×n_codes unrolled aggregates (round-11 optimization pass; same
    # zip_with/ordered-aggregate arithmetic per entry, bit-identical)
    lut = F.transform(
        lit_double_cube(books),
        lambda book, j: F.transform(
            book,
            lambda c: F.aggregate(
                F.zip_with(
                    F.slice("qv", j * ds + 1, ds),
                    c,
                    lambda a, b: a * b,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        ),
    )
    qcols = [lut.alias("lut"), l2_norm(F.col("qv")).alias("qnorm")]
    if centroids is not None:
        qcols.append(_probe_cells(F.col("qv"), centroids, nprobe))
    qside = q.select("query_id", "qv", *qcols)
    adc_dot = F.aggregate(
        F.zip_with("codes", "lut", lambda c, tbl: F.element_at(tbl, c + F.lit(1))),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    adc_cos = F.when(
        (F.col("qnorm") > 0) & (F.col("rnorm2") > 0),
        adc_dot / (F.col("qnorm") * F.sqrt("rnorm2")),
    ).otherwise(F.lit(-2.0))
    if centroids is None:
        pairs = enc.join(F.broadcast(qside), F.col(id_col) != F.col("query_id"))
    else:
        pairs = enc.join(F.broadcast(qside), "cell").filter(F.col(id_col) != F.col("query_id"))
    # qv stays OUT of the scored rows: the shortlist window shuffles
    # |candidates| rows, and carrying the 64-double query vector
    # through that exchange multiplies its width ~20×; re-attach qv
    # to the k·rerank survivors with a second broadcast of the tiny
    # query side instead.
    shortlisted = pairs.select(
        "query_id", F.col(id_col).alias("neighbor_id"), adc_cos.alias("adc_cos")
    )
    shortlist = _top_k(shortlisted, k * rerank, "adc_cos", drop_score=True).join(
        F.broadcast(q), "query_id"
    )
    corpus = _prep(emb, id_col, vec_col).select(
        F.col(id_col).alias("neighbor_id"), F.col("v").alias("nv")
    )
    exact = shortlist.join(corpus, "neighbor_id").select(
        "query_id",
        "neighbor_id",
        F.round(cosine_similarity(F.col("qv"), F.col("nv")), 6).alias("cos_sim"),
    )
    return _top_k(exact, k)


def ann_pq(emb: DataFrame, queries: DataFrame) -> DataFrame:
    """Product-quantization ANN with ADC scoring and exact re-rank —
    the natural upgrade of :func:`ann_sq8` and the standard serving
    shape for 100-TB vector corpora (FAISS IVF-PQ's PQ half).

    Two stages:
      * ADC shortlist: each query precomputes an m×16 lookup
        table of subspace dot products against the codebooks (a pure
        expression on the broadcast query side), then every corpus
        CODE row scores with m table lookups — the scan reads m bytes
        per vector instead of 4·d, the 64×-compression advantage that
        makes exhaustive candidate generation affordable; top
        ``k·16`` survive per query (window, total tiebreak).
        Approximate cosine = ADC dot / (‖q‖·‖x̂‖) with the exact
        reconstruction norm from :func:`pq_encode`.
      * exact re-rank: the shortlist (|Q|·k·16 rows) equi-joins
        the true vectors by id and re-scores with exact cosine — the
        recall knob is the re-rank factor 16, the cost knob is that only the
        shortlist ever touches full-precision floats.

    Output schema/tiebreak matches ann_bruteforce: (query_id,
    neighbor_id, cos_sim DESC, neighbor ASC).  No SQL oracle
    (iterative fit); tests hold the recall>=0.9-vs-bruteforce bar.

    Default knobs are tuned for the synthetic ISOTROPIC unit vectors
    (like the IVF tests note, label/geometry carry no cluster
    structure, so recall ~ shortlist fraction and the re-rank factor must be
    generous); real clustered corpora reach the same recall with far
    smaller shortlists.
    """
    books = pq_fit(emb, m=8, max_iter=4)
    enc = pq_encode(emb, books)
    return _pq_search(
        emb, enc, queries, books, k=5, rerank=16, id_col="vec_id", vec_col="embedding"
    )


def ann_ivfpq(emb: DataFrame, queries: DataFrame) -> DataFrame:
    """IVF + PQ composed — the full serving ladder: a coarse k-means
    quantizer PRUNES (equi-join on the query's 6 nearest
    cells), PQ-ADC SCORES only the surviving m-byte codes, and the
    exact re-rank touches only the shortlist's full-precision vectors.
    At 100 TB this is the standard vector-serving layout: cell id as a
    partition column (written once), codes as the only hot columns,
    raw vectors cold until re-rank.

    Non-residual codebooks by design: codes quantize the raw vector
    with ONE shared codebook set (encode is cell-independent, the
    corpus encodes before/without cell assignment, and cells can be
    refit without re-encoding).  Residual PQ (FAISS's default) is a
    quality knob on the same plan shape, not a different plan.

    Both models are the existing deterministic fits; candidates per
    query ≈ |corpus|·6/8, ADC cost is m lookups per
    candidate, re-rank cost k·24 exact cosines.  Output matches
    ann_bruteforce.  Recall compounds BOTH prune and quantization
    losses, so the isotropic-data defaults are generous (see ann_pq).
    """
    centroids = kmeans_fit(emb, k=8, max_iter=4)
    books = pq_fit(emb, m=8, max_iter=4)
    enc = pq_encode(emb, books).join(
        assign_cells(emb, centroids).select("vec_id", "cell"), "vec_id"
    )
    return _pq_search(
        emb, enc, queries, books, k=5, rerank=24, id_col="vec_id", vec_col="embedding",
        centroids=centroids, nprobe=6,
    )


def hard_negatives(emb: DataFrame, queries: DataFrame, k: int = 5) -> DataFrame:
    """Contrastive hard-negative mining: for each query vector, the
    top-``k`` most-similar corpus vectors with a DIFFERENT label — the
    pairs that sit closest to the decision boundary, which is exactly
    what contrastive/embedding training wants as negatives (random
    negatives are trivially separable and teach nothing).

    Same scale shape as ann_bruteforce: the query side broadcasts
    (queries are the small side by construction), the corpus side
    streams through one scored map stage, and per-query top-k is a
    bounded window.  The label inequality joins into the broadcast
    condition so excluded same-label rows never reach the scorer.

    Returns (query_id, neighbor_id, neighbor_label, cos_sim),
    tiebroken (sim DESC, neighbor ASC) for determinism.
    """
    corpus = _prep(emb, "vec_id", "embedding", extra=["label"])
    q = _query_side(
        queries, "vec_id", "embedding", F.col("label").alias("qlabel"), extra=["label"]
    )
    pairs = corpus.join(F.broadcast(q), F.col("label") != F.col("qlabel"))
    return _top_k(_cos_scored(pairs, "vec_id", F.col("label").alias("neighbor_label")), k)


def ann_recall_report(emb: DataFrame, queries: DataFrame) -> DataFrame:
    """Recall audit of the IVF index against exact brute force — the
    measurement every ANN deployment runs before trusting its index
    (an index whose recall silently degrades poisons every downstream
    dedup/retrieval decision).  Computes both top-k sets and reports,
    per query: hits (|IVF ∩ exact|) and recall@k.

    Scale note: the EXACT side is the expensive half — in production
    this runs on a sampled query set, which is exactly how the
    callers use it (queries is a small filtered relation).  Both
    sides share the corpus scan; the overlap join is per-query
    k-bounded.
    """
    bf = ann_bruteforce(emb, queries, k=5).select(
        "query_id", F.col("neighbor_id").alias("bf_id")
    )
    ivf = ann_ivf(
        emb, queries).select("query_id", F.col("neighbor_id").alias("ivf_id"))
    hits = (
        bf.join(ivf, (bf["query_id"] == ivf["query_id"]) & (F.col("bf_id") == F.col("ivf_id")))
        .groupBy(bf["query_id"].alias("query_id"))
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    totals = bf.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_exact"))
    return (
        totals.join(hits, "query_id", "left")
        .select(
            "query_id",
            F.col("n_exact").cast("long").alias("n_exact"),
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            F.round(F.coalesce("n_hits", F.lit(0)) / F.col("n_exact"), 6).alias("recall"),
        )
    )


def _infer_dim(emb: DataFrame, vec_col: str) -> int:
    """Probe one non-null vector for the dimensionality.  An empty
    table (or all-NULL column) implies no downstream rows at all, so
    it returns a dim-1 placeholder: every consumer only uses dim to
    SHAPE expressions/literals, and with zero input rows those
    expressions never evaluate — the consumer's output is then a
    schema-stable EMPTY result instead of a crash (the empty-split
    edge the reference's own abandoned test died on,
    test/map_red_test.go; swept by tests/test_empty_surface.py).
    Shared by every operator that packs per-dimension aggregates."""
    probe = (
        emb.filter(F.col(vec_col).isNotNull())
        .select(F.size(vec_col).alias("n"))
        .limit(1)
        .collect()
    )
    if not probe or probe[0]["n"] is None:
        return 1
    return probe[0]["n"]


def embedding_dim_stats(
    emb: DataFrame,
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Per-dimension distribution statistics of an embedding column —
    the feature-health audit run before indexing or quantizing a
    100 TB vector table (a dead dimension, a scale outlier, or a
    shifted mean each break IVF/SQ8 assumptions, and each is visible
    here).

    Determinism discipline: means and variances over floats are
    FP-accumulation-order-dependent, so every value is first cast to
    integer MICRO-units (round(x*1e6)) and summed as bigints — partial
    aggregation in any order produces the identical total, which is
    what lets the output hash-match a SQL oracle.  Bounds check:
    |x|<=~1 -> micro <= ~1e6, squared 1e12, * 1e8 rows = 1e20... so
    sumsq uses micro*micro/1e3 (nano^2 -> femto) kept well inside
    int64 for corpus sizes up to ~1e9 rows at |x|<=3.

    One pass, d independent integer aggregates packed in arrays (the
    same shape as :func:`embedding_quantize`'s scales pass — nothing
    wider than 4·d bigints crosses the exchange), then one posexplode
    of a single row to d output rows.

    Returns ``dim (1-based), n, mean, var, vmin, vmax`` (6 dp).
    """
    if dim is None:
        dim = _infer_dim(emb, vec_col)
    # per-dim aggregate arrays built with ONE expr parse each instead
    # of ~4·dim py4j Column calls (round 12 — functions.vectors.
    # agg_array_expr; identical Round/Cast/Sum trees, identical values)
    xm = _xm_sql(vec_col, dim)
    agg = emb.agg(
        F.count(F.lit(1)).alias("n"),
        agg_array_expr(f"sum({xm})", dim).alias("s"),
        # micro^2 / 1000: keeps per-row magnitude <= ~1e9 for |x|<=~30
        agg_array_expr(f"sum(FLOOR({xm} * {xm} / 1000))", dim).alias("q"),
        agg_array_expr(f"min({xm})", dim).alias("lo"),
        agg_array_expr(f"max({xm})", dim).alias("hi"),
    )
    exploded = agg.select(
        "n", F.posexplode(F.arrays_zip("s", "q", "lo", "hi")).alias("i", "z")
    )
    mean = F.col("z.s") / F.col("n") / 1e6
    # var = E[x^2] - E[x]^2, with E[x^2] rebuilt from the /1000 fixed
    # point: q * 1000 / n / 1e12
    var = F.col("z.q") * 1000 / F.col("n") / 1e12 - mean * mean
    return exploded.select(
        (F.col("i") + 1).cast("long").alias("dim"),
        F.col("n").cast("long").alias("n"),
        F.round(mean, 6).alias("mean"),
        F.round(var, 6).alias("var"),
        F.round(F.col("z.lo") / 1e6, 6).alias("vmin"),
        F.round(F.col("z.hi") / 1e6, 6).alias("vmax"),
    )


def embedding_outliers(emb: DataFrame, k: int = 5) -> DataFrame:
    """Embedding-space outlier detection: per label, the ``k`` vectors
    farthest (L2) from their class centroid — mislabeled or off-
    distribution examples, the embedding-side analog of quality_gate.

    DETERMINISTIC centroids: per-dimension component sums accumulate
    as integer micro-units (round(x·1e6) as BIGINT — double sums are
    partial-order-sensitive under Spark's aggregation, integer sums
    are exact), means derive from the exact integers, and the per-row
    distance is a fixed-order in-row fold — so output hashes match a
    SQL oracle bit-for-bit (the text_entropy/pagerank discipline).

    Scale shape: centroids are ONE posexplode → groupBy(label, dim)
    pass, partial-agged map-side, |labels|·d rows out; they reassemble
    to arrays and BROADCAST-join back onto the corpus (no fact-side
    shuffle); the final top-k is a window over each label partition.

    Returns ``label, vec_id, dist, rk`` (dist 6-dp rounded).
    """
    v = _prep(emb, "vec_id", "embedding", extra=["label"])
    comps = (
        v.select("label", F.posexplode("v").alias("pos", "val"))
        .groupBy("label", "pos")
        .agg(
            F.sum(F.round(F.col("val") * 1e6).cast("long")).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    cent = (
        comps.select(
            "label", "pos", (F.col("s") / 1e6 / F.col("n")).alias("c")
        )
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("pc"))
        .select("label", F.transform("pc", lambda x: x["c"]).alias("cv"))
    )
    dist = F.sqrt(
        F.aggregate(
            F.zip_with("v", "cv", lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    scored = v.join(F.broadcast(cent), "label").select(
        "label", F.col("vec_id"), F.round(dist, 6).alias("dist")
    )
    return top_k_per(scored, ["label"], k, F.desc("dist"), F.asc("vec_id"))


def dedup_semantic(
    emb: DataFrame,
    threshold: float = 0.95,
    n_cells: int = 16,
) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al.): fit a k-means
    quantizer, block the corpus by its 2 nearest cells, and
    emit blocked pairs with cosine ≥ ``threshold`` — the curation step
    that removes semantically-redundant documents a text-level
    near-dup pass cannot see.  Callers chain
    graph.connected_components + a keep-rule over the pairs, exactly
    like the text dedup pipeline.

    Scale shape: the fit is the bounded-sample driver fit
    (:func:`kmeans_fit`); assignment is one corpus pass; the pair
    space is an equi-join per cell (corpus²·n_probe²/n_cells
    expected, the SemDeDup economics) instead of n², and pair dedup
    happens on (id,id) BEFORE vectors re-attach, so the multi-probe
    fan-out ships integers only.  Like every clustering-blocked
    dedup, pairs whose probe sets never intersect are MISSED by
    design — recall/cost knobs are n_cells and the 2 probed cells (the paper
    dedups within k=50k clusters at web scale; multi-probe recovers
    boundary-straddling pairs); the pytest pins recall vs the exact
    all-pairs truth set on the test corpus.

    Deterministic given the fit (no RNG anywhere), but iterative —
    rows-only in the oracle gate, recall-bounded in pytest like the
    other fitted-quantizer ops.
    """
    centroids = kmeans_fit(
        emb, k=n_cells, max_iter=4
    )
    base = _prep(emb, "vec_id", "embedding")
    probes = base.select(F.col("vec_id"), _probe_cells(F.col("v"), centroids, 2))
    a, b = probes.alias("a"), probes.alias("b")
    pairs = (
        a.join(b, "cell")
        .filter(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
        )
        .distinct()
    )
    vecs = base.select("vec_id", "v")
    return (
        pairs.join(
            vecs.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("va")), "vec_a"
        )
        .join(
            vecs.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("vb")), "vec_b"
        )
        .select(
            "vec_a",
            "vec_b",
            F.round(cosine_similarity(F.col("va"), F.col("vb")), 6).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def dedup_semantic_pipeline(
    emb: DataFrame,
    threshold: float = 0.95,
    n_cells: int = 16,
) -> DataFrame:
    """End-to-end SemDeDup: :func:`dedup_semantic` candidate pairs →
    connected components → min-id representative election — the
    embedding-space mirror of the text `dedup_pipeline` (same output
    contract: every corpus row labelled, ``keep`` = is-representative,
    singletons their own cluster).

    Scale shape inherits both composed stages: the pair space is
    cell-blocked (never n²) and shipped as ids only, and
    connected_components eagerly checkpoints the edge list before its
    first round, so the fit→assign→pair prefix executes exactly ONCE
    regardless of propagation rounds.  Rows-only in the gate (fitted
    quantizer); the component semantics are pytest-pinned against a
    driver-side union-find over the same pairs.
    """
    from .graph import connected_components

    pairs = dedup_semantic(emb, threshold, n_cells)
    labels = connected_components(
        pairs, src="vec_a", dst="vec_b", max_iter=20
    ).select(F.col("doc_id").alias("vec_id"), "cluster_id")
    clus = (
        emb.select(F.col("vec_id"))
        .join(labels, "vec_id", "left")
        .select(
            F.col("vec_id"),
            F.coalesce("cluster_id", F.col("vec_id")).alias("cluster_id"),
        )
    )
    sizes = clus.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_cluster")
    )
    return clus.join(sizes, "cluster_id").select(
        F.col("vec_id"),
        F.col("cluster_id"),
        F.col("n_cluster"),
        (F.col("vec_id") == F.col("cluster_id")).cast("int").alias("keep"),
    )


def rp_project_audit(emb: DataFrame) -> DataFrame:
    """Johnson-Lindenstrauss random-projection audit — the
    dimensionality-reduction step an embedding pipeline takes before
    sharding an index, VALIDATED the way JL promises: project d→16
    with a deterministic ±1/√k sign matrix and report, per adjacent
    id pair, original vs projected L2 distance and the distortion
    ``|d_proj/d_orig − 1|``.  Aggregate the distortion column to
    decide whether k is high enough before committing the projection
    corpus-wide.

    Determinism: the sign matrix is content-addressed — sign(j,i) =
    parity of the first hex digit of md5("j:i") — so both engines
    rebuild the identical matrix with no RNG and no shipped state;
    each projected coordinate is one fixed-order fold over the
    vector (Spark ``aggregate`` and DuckDB ``list_sum ∘
    list_transform`` both fold left-to-right, so the doubles agree
    bit-for-bit before the final 6-dp round).

    Scale shape: the projection is a per-row expression (k in-row
    folds, zero shuffle); the audit pairs adjacent ids with ONE
    equi-join on id+1 — a linear, deterministic pair sample, not a
    pair space.  At 100 TB the same projection expression writes the
    reduced corpus; the audit runs on any slice.
    """
    import hashlib

    base = _prep(emb, "vec_id", "embedding")
    # empty corpus: dim-1 placeholder — the sign-matrix literals shaped
    # from it never evaluate over zero rows (schema-stable empty)
    head = base.select("v").first()
    d = len(head["v"]) if head is not None and head["v"] is not None else 1
    inv_sqrt_k = 1.0 / (16 ** 0.5)
    # content-addressed ±1 signs, identical to the oracle's md5 rule
    signs = [
        [
            1.0 if int(hashlib.md5(f"{j}:{i}".encode()).hexdigest()[0], 16) % 2 == 0
            else -1.0
            for i in range(d)
        ]
        for j in range(16)
    ]
    signs_mat = lit_double_matrix(signs)
    proj = F.array(
        *[
            F.aggregate(
                F.zip_with(
                    F.col("v"),
                    F.element_at(signs_mat, j + 1),
                    lambda x, sgn: x * sgn,
                ),
                F.lit(0.0),
                lambda acc, t: acc + t,
            )
            * inv_sqrt_k
            for j in range(16)
        ]
    )
    pv = base.select(F.col("vec_id"), F.col("v"), proj.alias("y"))
    a = pv.select(
        F.col("vec_id").alias("vec_a"), F.col("v").alias("va"), F.col("y").alias("ya")
    )
    b = pv.select(
        (F.col("vec_id") - 1).alias("vec_a"),
        F.col("vec_id").alias("vec_b"),
        F.col("v").alias("vb"),
        F.col("y").alias("yb"),
    )
    dist = lambda u, w: F.sqrt(  # noqa: E731 — local expression builder
        F.aggregate(
            F.zip_with(u, w, lambda x, z: (x - z) * (x - z)),
            F.lit(0.0),
            lambda acc, t: acc + t,
        )
    )
    d_orig = dist(F.col("va"), F.col("vb"))
    d_proj = dist(F.col("ya"), F.col("yb"))
    return a.join(b, "vec_a").select(
        "vec_a",
        "vec_b",
        F.round(d_orig, 6).alias("d_orig"),
        F.round(d_proj, 6).alias("d_proj"),
        F.when(d_orig > 0, F.round(F.abs(d_proj / d_orig - 1), 6)).alias(
            "distortion"
        ),
    )


def mmr_diversify(
    emb: DataFrame,
    query_id: int = 0,
    shortlist: int = 32,
    k: int = 8,
) -> DataFrame:
    """Maximal-marginal-relevance re-ranking (Carbonell/Goldstein):
    from the cosine top-``shortlist`` of ``query_id``, greedily pick
    ``k`` items maximizing lam·rel(c) − (1−lam)·max_sim(c, selected) —
    the standard diversification pass between retrieval and a RAG
    context window (near-duplicate passages waste the token budget).

    Distributed shape: relevance shortlisting is the cluster-side
    :func:`ann_bruteforce` heap top-k; the greedy loop — inherently
    sequential, k·shortlist dot products on a model-sized set — runs
    on the driver over the collected shortlist (bounded by
    ``shortlist``, never by the corpus, the same k-row-collect posture
    as the k-means/PQ codebook fits).

    Determinism: shortlist membership/order comes from the rounded-6
    cosine with id tiebreak; greedy ties break to the lower id; numpy
    double dot products in fixed shortlist order.  Rows-only in the
    oracle gate (greedy selection has no closed SQL form); pinned in
    pytest against an independent pure-python reference.

    Returns (rank, vec_id, relevance, marginal) — selection order,
    relevance = cosine to the query, marginal = the MMR objective at
    pick time (rank 1's marginal is lam·rel by convention).
    """
    import numpy as np

    short = ann_bruteforce(
        emb, emb.filter(F.col("vec_id") == query_id), k=shortlist,
    ).select(F.col("neighbor_id").alias("_id"), "cos_sim").filter(
        # zero-norm vectors score NULL cosine (undefined): they cannot
        # be ranked, so they never enter the greedy shortlist
        F.col("cos_sim").isNotNull()
    )
    vecs = _prep(emb, "vec_id", "embedding").withColumnRenamed("vec_id", "_id")
    rows = (
        short.join(vecs, "_id")
        .orderBy(F.desc("cos_sim"), F.asc("_id"))
        .collect()
    )  # ≤ shortlist rows — bounded by the parameter, not the data
    spark = emb.sparkSession
    if not rows:
        # unknown query id / empty input: an empty, schema-bearing
        # result — not a numpy AxisError on a 0-d array
        return spark.createDataFrame(
            [], "rank INT, vec_id BIGINT, relevance DOUBLE, marginal DOUBLE"
        )
    ids = [r["_id"] for r in rows]
    rel = [float(r["cos_sim"]) for r in rows]
    X = np.array([list(r["v"]) for r in rows], dtype=np.float64)
    norms = np.sqrt((X * X).sum(axis=1))
    norms[norms == 0.0] = 1.0
    Xn = X / norms[:, None]
    sims = Xn @ Xn.T  # shortlist×shortlist, model-sized
    selected: list[int] = []
    out = []
    remaining = list(range(len(ids)))
    for rank in range(1, min(k, len(ids)) + 1):
        best_i, best_obj = None, None
        for i in remaining:
            penalty = max((sims[i][j] for j in selected), default=0.0)
            obj = 0.7 * rel[i] - (1.0 - 0.7) * penalty
            # strict > keeps the earliest (lowest-id, shortlist order)
            # candidate on ties
            if best_obj is None or obj > best_obj:
                best_i, best_obj = i, obj
        selected.append(best_i)
        remaining.remove(best_i)
        out.append((rank, ids[best_i], round(rel[best_i], 6), round(float(best_obj), 6)))
    return spark.createDataFrame(
        out, "rank INT, vec_id BIGINT, relevance DOUBLE, marginal DOUBLE"
    )


def embedding_centroids(emb: DataFrame, dim: int | None = None) -> DataFrame:
    """Per-label centroid profile of an embedding table — the cluster
    summary consumed by SemDeDup-style pruning, IVF coarse-quantizer
    seeding, and domain-drift dashboards (compare this month's source
    centroids against last month's).

    Same determinism discipline as :func:`embedding_dim_stats`:
    components become integer micro-units before summation, so the
    per-label sums are exact bigints (partial-agg order-insensitive)
    and the output hash-matches a SQL oracle.  Shape at scale: one
    partial-agged groupBy carrying d bigints per label — nothing the
    size of the data crosses the exchange — then one posexplode of the
    |labels| aggregate rows into |labels|·d output rows.

    Returns (label, dim (1-based), n, centroid) ordered by (label, dim).
    """
    if dim is None:
        dim = _infer_dim(emb, "embedding")
    # n must count the rows the sums actually saw: a NULL/short vector
    # contributes nothing to Σxᵢ, and counting it would silently treat
    # it as the zero vector (biased centroid, oracle divergence)
    agg = (
        emb.filter(F.col("embedding").isNotNull() & (F.size("embedding") >= dim))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            agg_array_expr(f"sum({_xm_sql('embedding', dim)})", dim).alias("s"),
        )
    )
    return agg.select(
        F.col("label"),
        "n",
        F.posexplode("s").alias("i", "sm"),
    ).select(
        F.col("label"),
        (F.col("i") + 1).cast("long").alias("dim"),
        F.col("n").cast("long").alias("n"),
        F.round(F.col("sm") / F.col("n") / 1e6, 6).alias("centroid"),
    ).orderBy("label", "dim")


def embedding_covariance(emb: DataFrame, dim: int | None = None) -> DataFrame:
    """Exact d×d covariance matrix of an embedding column, computed
    the way a 100 TB vector table demands: per-Arrow-batch integer
    Gram products (numpy ``X.T @ X`` — BLAS inside each partition, d²
    bigints out) summed by one tiny (i,j)-keyed aggregation, plus the
    d-vector of component sums from a second single-row aggregate.
    Nothing proportional to the row count ever crosses an exchange —
    the shuffle volume is d² rows regardless of corpus size.

    DETERMINISM: components are rounded to integer MILLI-units on the
    JVM side (Spark ``round`` = half-away-from-zero, matching the
    DuckDB oracle) BEFORE entering Python, so the numpy matmul is an
    exact int64 computation and partial sums commute.  Overflow head-
    room: |x|≤~30 → |xm|≤3e4, product ≤ 9e8, safe to ~1e10 rows in
    int64 for the Gram terms; the sᵢ·sⱼ marginal cross product is
    computed in DOUBLE over the exact sums (a long×long there would
    wrap at only ~3e6 rows for unit-mean components).  Precision:
    milli-quantization bounds the covariance error
    at ~1e-3·E|x| — the determinism/precision trade is documented, and
    callers needing tighter values can rescale.

    cov(i,j) = (Σxᵢxⱼ − ΣxᵢΣxⱼ/n)/n on the quantized values, exact
    integer arithmetic until the final division.

    Returns (i, j, cov) for the upper triangle i ≤ j (1-based),
    ordered by (i, j).
    """
    import pandas as pd

    if dim is None:
        dim = _infer_dim(emb, "embedding")
    v = F.slice(F.col("embedding").cast("array<double>"), 1, dim)
    # NULL/short vectors cannot contribute a full row to the Gram —
    # drop them up front (list(None) would crash the Arrow worker,
    # ragged arrays would break the int64 matmul)
    milli = emb.filter(
        F.col("embedding").isNotNull() & (F.size("embedding") >= dim)
    ).select(F.transform(v, lambda x: F.round(x * 1e3).cast("long")).alias("xm"))

    def gram(batches):
        import numpy as np

        acc = np.zeros((dim, dim), dtype=np.int64)
        saw = False
        for pdf in batches:
            if not len(pdf):
                continue
            saw = True
            X = np.array([list(r) for r in pdf["xm"]], dtype=np.int64)
            acc += X.T @ X
        # a row-less partition emits nothing: its zeros are additive
        # identity anyway, and on a fully EMPTY corpus this makes the
        # result 0 rows (schema-stable) instead of d² junk NULLs
        if not saw:
            return
        iu, ju = np.triu_indices(dim)
        yield pd.DataFrame(
            {"i": iu + 1, "j": ju + 1, "s": acc[iu, ju]}
        )

    pair_sums = (
        milli.mapInPandas(gram, "i INT, j INT, s LONG")
        .groupBy("i", "j")
        .agg(F.sum("s").alias("sxy"))
    )
    marg = milli.agg(
        F.count(F.lit(1)).alias("n"),
        agg_array_expr("sum(element_at(xm, {i}))", dim).alias("s"),
    )
    # 1-row marginal attaches via broadcast.  The sᵢ·sⱼ cross product
    # is computed in DOUBLE over the exact integer sums: a LONG×LONG
    # product of two component sums wraps int64 at ~3e6 rows for
    # unit-mean components (sᵢ ~ n·mean·1e3), and Spark wraps
    # SILENTLY under non-ANSI mode while the HUGEINT oracle stays
    # exact.  Double products of exact ints are deterministic IEEE
    # ops — identical on both engines (the corr_matrix pattern).
    out = pair_sums.join(F.broadcast(marg))
    cov = (
        F.col("sxy")
        - F.element_at("s", F.col("i")).cast("double")
        * F.element_at("s", F.col("j")).cast("double")
        / F.col("n")
    ) / F.col("n") / 1e6
    return out.select(
        F.col("i").cast("long").alias("i"),
        F.col("j").cast("long").alias("j"),
        F.round(cov, 6).alias("cov"),
    ).orderBy("i", "j")


def pca_project(emb: DataFrame, k: int = 4) -> DataFrame:
    """Project embeddings onto their top-``k`` principal components —
    the dimensionality-reduction pass in front of cheap clustering,
    visualization, and drift monitors over a 100 TB vector corpus.

    Distributed shape: the d×d covariance comes from
    :func:`embedding_covariance` (batch-local integer Gram, d²-row
    shuffle); the eigendecomposition runs on the DRIVER over that d×d
    matrix (model-sized — the same bounded-collect posture as the
    k-means/PQ codebook fits); the projection is then a broadcast
    matrix applied per row with a JVM-side fixed-order fold (aggregate
    over zip_with) — no Python in the per-row path.

    DETERMINISM: the covariance is exact (integer arithmetic), numpy
    ``eigh`` on identical doubles is deterministic, and each
    eigenvector's sign is canonicalized (largest-|component| made
    positive, index tiebreak).  Rows-only in the oracle gate (an
    eigendecomposition has no SQL form); variance-explained and
    reconstruction pinned in pytest against a pure-numpy reference.

    Returns (vec_id, pc (1-based), score) — ``k`` rows per vector.
    """
    import numpy as np

    dim = _infer_dim(emb, "embedding")
    cov_rows = embedding_covariance(emb, dim=dim).collect()
    C = np.zeros((dim, dim), dtype=np.float64)
    for r in cov_rows:  # d² driver rows — model-sized, not data-sized
        if r["cov"] is None:
            continue
        C[r["i"] - 1, r["j"] - 1] = r["cov"]
        C[r["j"] - 1, r["i"] - 1] = r["cov"]
    vals, vecs = np.linalg.eigh(C)
    order = np.argsort(-vals, kind="stable")[:k]
    comps = []
    for idx in order:
        u = vecs[:, idx]
        pivot = int(np.argmax(np.abs(np.round(u, 9))))  # first max |u_i|
        if u[pivot] < 0:
            u = -u
        comps.append([round(float(x), 9) for x in u])

    # centroid (for mean-centering) from the same exact integer sums
    m = emb.agg(
        F.count(F.lit(1)).alias("n"),
        agg_array_expr(f"sum({_xm_sql('embedding', dim)})", dim).alias("s"),
    ).collect()[0]
    # empty corpus: zero mean — the projection expressions shaped from
    # it never evaluate over zero rows (schema-stable empty output)
    if m["n"] == 0:
        mean = [0.0] * dim
    else:
        mean = [m["s"][i] / m["n"] / 1e6 for i in range(dim)]

    v = F.slice(F.col("embedding").cast("array<double>"), 1, dim)
    centered = F.zip_with(
        v, lit_double_array(mean), lambda x, mu: x - mu
    )
    rows = []
    for p, u in enumerate(comps, start=1):
        score = F.aggregate(
            F.zip_with(centered, lit_double_array(u), lambda x, c: x * c),
            F.lit(0.0),
            lambda acc, t: acc + t,
        )
        rows.append(
            F.struct(F.lit(p).cast("long").alias("pc"), F.round(score, 6).alias("score"))
        )
    return (
        emb.select(F.col("vec_id"), F.explode(F.array(*rows)).alias("z"))
        .select("vec_id", F.col("z.pc").alias("pc"), F.col("z.score").alias("score"))
        .orderBy("vec_id", "pc")
    )


def centroid_cosine_matrix(emb: DataFrame, dim: int | None = None) -> DataFrame:
    """Label×label cosine similarity of class centroids — the
    embedding-space confusion map (which classes' regions overlap),
    read before trusting :func:`hard_negatives`' labels or SemDeDup's
    cell blocking; high off-diagonal cosine predicts cross-label
    near-duplicates and classifier confusion.

    Exactness without n: cos(Σa/n_a, Σb/n_b) = cos(Σa, Σb) — the
    per-label counts cancel, so the cosine works directly on the
    exact integer-micro component SUMS (the
    :func:`embedding_centroids` aggregates).  Dot products and squared
    norms accumulate in DECIMAL(38,0) (micro-sum products overflow
    BIGINT at corpus scale; matches the oracle's HUGEINT) via an
    in-row zip_with fold, then ONE double division per pair.

    Scale shape: one partial-agged groupBy to |labels| rows each
    carrying d exact bigints; the pair expansion is the in-row a<b
    wedge fan-out from a single packed-array aggregate (provably
    1-row BNLJ build sides, never a self-join); |labels|²/2 output
    rows.  Returns ``(label_a, label_b, n_a, n_b, cosine)``.
    """
    if dim is None:
        dim = _infer_dim(emb, "embedding")
    per = (
        emb.filter(F.col("embedding").isNotNull() & (F.size("embedding") >= dim))
        .groupBy(F.col("label").alias("lbl"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            agg_array_expr(f"sum({_xm_sql('embedding', dim)})", dim).alias("s"),
        )
    )
    packed = per.groupBy().agg(
        F.array_sort(F.collect_list(F.struct("lbl", "n", "s"))).alias("arr")
    )
    lefts = packed.select(F.posexplode("arr").alias("i", "p"), F.col("arr"))
    pairs = lefts.select(
        F.col("p.lbl").alias("label_a"),
        F.col("p.n").alias("n_a"),
        F.col("p.s").alias("sa"),
        F.explode(F.slice("arr", F.col("i") + 2, F.size("arr"))).alias("q"),
    )

    def _dot(a, b):
        prods = F.zip_with(
            a,
            b,
            lambda x, y: x.cast("decimal(19,0)") * y.cast("decimal(19,0)"),
        )
        return F.aggregate(
            prods, F.lit(0).cast("decimal(38,0)"), lambda acc, p: acc + p
        )

    scored = pairs.select(
        "label_a",
        F.col("q.lbl").alias("label_b"),
        "n_a",
        F.col("q.n").alias("n_b"),
        _dot(F.col("sa"), F.col("q.s")).alias("dot"),
        _dot(F.col("sa"), F.col("sa")).alias("na2"),
        _dot(F.col("q.s"), F.col("q.s")).alias("nb2"),
    )
    cos = F.try_divide(
        F.col("dot").cast("double"),
        F.nullif(
            F.sqrt(F.col("na2").cast("double") * F.col("nb2").cast("double")),
            F.lit(0.0),
        ),
    )
    return scored.select(
        "label_a", "label_b", "n_a", "n_b", F.round(cos, 6).alias("cosine")
    )


def contamination_embedding(emb: DataFrame, threshold: float = 0.3) -> DataFrame:
    """Embedding-level test-set decontamination — the semantic sibling
    of the n-gram :func:`~..operators.dedup.contamination` screens:
    which TRAINING vectors sit within cosine ``threshold`` of any
    held-out eval vector (``id % 10 == 0``)?  n-gram overlap
    misses paraphrases; embedding cosine is the screen that catches a
    benchmark answer reworded into the training set (the SemDeDup /
    data-contamination literature's standard second pass).

    Output: one row per contaminated TRAIN vector — its nearest eval
    hit count ``n_eval_hits`` and ``max_cos`` — so the caller can drop
    or down-weight.  Cosines round to 6 dp before the threshold so
    both engines agree at the boundary.

    Scale shape: the same ``label`` equi-join discipline as
    :func:`~..operators.dedup.dedup_embedding_cosine` — the
    train×eval comparison runs per coarse-quantizer cell, never n².
    At 100 TB the blocking column is the fitted IVF cell
    (:func:`ann_ivf_kmeans`'s assignment path); the eval side is
    typically small enough to broadcast, and the partial-agged
    groupBy(train id) is the only row-scale shuffle.
    """
    e = emb.select(
        F.col("vec_id").alias("vid"),
        F.col("label").alias("blk"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    test = e.filter(F.col("vid") % 10 == 0)
    train = e.filter(F.col("vid") % 10 != 0)
    cos = F.round(cosine_similarity(F.col("t.v"), F.col("q.v")), 6)
    hits = (
        train.alias("t")
        .join(test.alias("q"), "blk")
        .select(F.col("t.vid").alias("vec_id"), cos.alias("c"))
        .filter(F.col("c") >= threshold)
    )
    return hits.groupBy("vec_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_eval_hits"),
        F.max("c").alias("max_cos"),
    )
