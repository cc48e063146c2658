"""Iterative graph operators: connected components over a pair list —
the endgame of near-dup detection (candidate pairs → duplicate
CLUSTERS, one representative per cluster) — plus PageRank, BFS, k-core
and the other graph statistics of the near-dup graph.

The reference has no iterative operators (single-shot batch, SURVEY
§1.4); this is the canonical Spark-idiomatic iteration: a driver loop
of DataFrame joins with a checkpoint cutting the lineage each round so
the plan doesn't grow unboundedly (the classic iterative-algorithm
failure mode).  How a round's state is persisted is decided in one
place, :mod:`._materialize`.  ``connected_components`` and
``pagerank`` run ONE loop either way: in memory by default, or
journaled to ``journal_dir`` so a fresh driver resumes a killed run
from its last committed round (:class:`._materialize.Rounds`).

Two connected-components algorithms:
  * ``connected_components`` — min-label propagation, O(diameter)
    rounds.  Near-dup graphs are overwhelmingly tiny cliques and
    chains (diameter ≤ ~3), so 5–10 rounds close ~all real corpora.
  * ``connected_components_two_phase`` — alternating large-star /
    small-star (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14): O(log²  n) rounds independent of diameter — the
    scale path for billion-edge general graphs with long chains.

Both converge with ONE materializing job per round: the convergence
signal is computed inside the same pass that produces the round's
output (a ``chg`` flag / edge-set digest aggregated from the
checkpointed blocks, never a second join against the previous state).

Every operator reads its edge list through the same few stages, each
written once below as one SQL parse (the MapReduce edge-list rounds
of connected components, triangles and degree statistics):
``_sym_edges`` (each non-loop edge once per direction, in one pass),
``_undirected`` (the canonical ``u < v`` edge), ``_attach_both`` (a
per-node value joined onto both endpoints), ``_wedge_pairs`` +
``_flag_linked`` (the common-neighbour pairs of the link predictors)
and ``_triangle_counts`` (one tagged-union aggregate).  Three stages
stay apart on purpose: ``boruvka_msf``'s weighted canonical edge keeps
the cheapest parallel edge, so it aggregates instead of deduplicating;
``_star``'s symmetric view has no loop filter or distinct, and a
distinct there would add an Exchange per round; ``_truncate_lineage``
keeps its name because ``perfbench/tracing.py`` hooks it.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import _quoted
from ._materialize import Rounds, materialize_once, release_checkpoint

# the per-round barrier under the name perfbench/tracing.py wraps
_truncate_lineage = materialize_once


def _sym_edges(pairs: DataFrame, src: str, dst: str) -> DataFrame:
    """``(s, d)``: each non-loop edge once per direction; self-loops and
    NULL endpoints are dropped."""
    s, d = _quoted(src), _quoted(dst)
    # both orientations from one pass over ``pairs`` (a union of two
    # projections would plan the whole upstream twice); the filter goes
    # before the ``inline``, which it cannot pass to reach the scan
    return (
        pairs.filter(f"{s} != {d}")
        .selectExpr(f"inline(array(struct({s} AS s, {d} AS d), struct({d} AS s, {s} AS d)))")
        .distinct()
    )


def _undirected(pairs: DataFrame, src: str, dst: str) -> DataFrame:
    """``(u, v)``: each non-loop undirected edge once, ``u < v``; an
    edge with a NULL endpoint is dropped (``least``/``greatest`` skip
    NULLs, so it becomes a loop)."""
    s, d = _quoted(src), _quoted(dst)
    return (
        pairs.selectExpr(f"least({s}, {d}) AS u", f"greatest({s}, {d}) AS v")
        .filter("u != v")
        .distinct()
    )


def _attach_both(
    x: DataFrame, table: DataFrame, key: str, value: str, prefix: str, ends=("u", "v")
) -> DataFrame:
    """``x`` with ``table``'s ``value`` of each endpoint column ``e`` in
    ``ends`` joined on as ``<prefix><e>`` (one equi-join per end)."""
    for e in ends:
        x = x.join(table.selectExpr(f"{key} AS {e}", f"{value} AS {prefix}{e}"), e)
    return x


def _wedge_pairs(sym: DataFrame, min_common: int, *scores, weights=None) -> DataFrame:
    """``(a, b, n_common, *scores)`` for each node pair ``a < b`` with at
    least ``min_common`` common neighbours in ``sym`` (``_sym_edges``):
    the wedge rays ``(n = centre, a)``, joined to ``weights`` on ``n``
    when given, self-joined on the centre, counted per pair."""
    rays = sym.selectExpr("d AS n", "s AS a")
    if weights is not None:
        rays = rays.join(weights, "n")
    wedges = rays.alias("l").join(rays.selectExpr("n", "a AS b").alias("r"), "n").filter("a < b")
    return (
        wedges.groupBy("a", "b")
        .agg(F.expr("CAST(count(1) AS BIGINT) AS n_common"), *scores)
        .filter(f"n_common >= {int(min_common)}")
    )


def _flag_linked(pairs: DataFrame, sym: DataFrame, *cols: str) -> DataFrame:
    """``(node_a, node_b, *cols, already_linked)``: ``already_linked`` is
    1 where the pair ``(a, b)`` is itself an edge of ``sym``, else 0."""
    linked = _undirected(sym, "s", "d").selectExpr("u AS a", "v AS b", "1 AS already_linked")
    return pairs.join(linked, ["a", "b"], "left").selectExpr(
        "a AS node_a", "b AS node_b", *cols, "coalesce(already_linked, 0) AS already_linked"
    )


def connected_components(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 20,
    allow_partial: bool = False,
    journal_dir: str | None = None,
) -> DataFrame:
    """(src, dst) undirected edge list → (id, cluster_id) where
    cluster_id is the minimum node id reachable from ``id``.

    Only nodes that appear in at least one edge are returned
    (singletons have no duplicates to cluster); self-loops and edges
    with a NULL endpoint are dropped first, as in
    :func:`connected_components_two_phase`, so both return the same rows.

    Raises ``RuntimeError`` if ``max_iter`` rounds pass without
    convergence (a silently-truncated propagation would return WRONG
    cluster labels for any component whose diameter exceeds the
    budget); pass ``allow_partial=True`` to get the partial labels
    instead, or use ``connected_components_two_phase`` for
    high-diameter graphs.

    ``journal_dir`` makes the loop survive a DRIVER crash: the edges
    and every round's labels are journaled there (``edges/``,
    ``labels_rNNNN/``), and a call in a fresh session resumes from the
    last committed round with identical labels.  The per-row ``chg``
    flag is journaled WITH the labels, so a call over a converged
    journal replays it without adding rounds; ``max_iter`` bounds
    TOTAL rounds across all attempts.  Point it at shared storage
    (s3a://, hdfs://) on a real cluster.
    """
    rounds = Rounds(pairs.sparkSession, "labels", journal_dir)
    edges = rounds.once("edges", _sym_edges(pairs, src, dst))
    init = edges.select(F.col("s").alias("id")).distinct().select(
        "id", F.col("id").alias("label"), F.lit(True).alias("chg")
    )
    rnd, labels = rounds.resume(max_iter, init)
    # round 0 flags every node as changed: no job needed to count it
    changed = labels.filter("chg").count() if rnd else -1
    while changed != 0 and rnd < max_iter:
        rnd += 1
        cur = labels.drop("chg")
        nbr_min = (
            edges.join(
                cur.select(F.col("id").alias("d"), F.col("label").alias("nbr_label")), "d"
            )
            .groupBy("s")
            .agg(F.min("nbr_label").alias("min_nbr"))
        )
        # the chg flag rides along in the SAME join pass that produces
        # the new labels; the cut materializes both at once and the
        # count below reads its blocks (no second join job).
        labels = rounds.cut(
            rnd,
            cur.join(nbr_min, cur.id == nbr_min.s, "left").select(
                cur.id,
                F.least(cur.label, F.coalesce(F.col("min_nbr"), cur.label)).alias("label"),
                (F.coalesce(F.col("min_nbr"), cur.label) < cur.label).alias("chg"),
            ),
        )
        changed = labels.filter("chg").count()
    if changed != 0 and not allow_partial:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            f"({changed} labels still changing); the graph's diameter exceeds "
            "the budget — raise max_iter, use connected_components_two_phase, "
            "or pass allow_partial=True."
        )
    # the final labels cut is self-contained — the edge blocks can be
    # released before handing the result back.
    release_checkpoint(edges)
    return labels.select(F.col("id").alias("doc_id"), F.col("label").alias("cluster_id"))


def connected_components_two_phase(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
) -> DataFrame:
    """Alternating large-star/small-star connected components
    (Kiveris et al. SoCC'14) — O(log² n) rounds regardless of graph
    diameter, the scale path for long-chain / billion-edge graphs.

    Each round:
      large-star: every node points its LARGER neighbors at the
        minimum of its closed neighborhood;
      small-star: every node points its smaller-or-equal neighbors at
        that minimum.
    The edge set monotonically contracts toward star graphs
    (node → component-min); convergence is detected when the edge-set
    digest (count + xor of row hashes, computed from the same
    checkpointed blocks) is stable across a round.

    Output schema matches ``connected_components``: (doc_id, cluster_id).
    """
    cuts = Rounds(pairs.sparkSession, "edges")
    edges = cuts.cut(0, _undirected(pairs, src, dst))
    all_nodes = materialize_once(
        edges.select(F.col("u").alias("id"))
        .unionByName(edges.select(F.col("v").alias("id")))
        .distinct()
    )

    def _digest(e: DataFrame) -> tuple:
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            # xor-fold of row hashes: order-insensitive, can't overflow
            F.coalesce(F.bit_xor(F.xxhash64("u", "v")), F.lit(0)).alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    def _star(e: DataFrame, large: bool) -> DataFrame:
        # symmetric neighbor view: (x, nbr)
        sym = e.select(F.col("u").alias("x"), F.col("v").alias("nbr")).unionByName(
            e.select(F.col("v").alias("x"), F.col("u").alias("nbr"))
        )
        mins = sym.groupBy("x").agg(F.min("nbr").alias("mn"))
        m = F.least(F.col("mn"), F.col("x")).alias("m")
        joined = sym.join(mins, "x").select("x", "nbr", m)
        if large:
            out = joined.filter(F.col("nbr") > F.col("x")).select(
                F.col("nbr").alias("a"), F.col("m").alias("b")
            )
        else:
            out = joined.filter(F.col("nbr") <= F.col("x")).select(
                F.col("nbr").alias("a"), F.col("m").alias("b")
            ).unionByName(joined.select(F.col("x").alias("a"), F.col("m").alias("b")))
        return _undirected(out, "a", "b")

    prev = _digest(edges)
    for i in range(1, 51):
        edges = cuts.cut(i, _star(_star(edges, large=True), large=False))
        cur = _digest(edges)
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(
            "connected_components_two_phase did not converge in 50 rounds"
        )

    # converged: edges form stars (component-min, member).  Singleton
    # roots appear only on the u side; members map to their root, roots
    # and isolated-after-contraction nodes map to themselves.
    membership = edges.select(F.col("v").alias("id"), F.col("u").alias("cluster_id"))
    roots = all_nodes.join(membership, "id", "left_anti").select(
        "id", F.col("id").alias("cluster_id")
    )
    return (
        membership.unionByName(roots)
        .select(F.col("id").alias("doc_id"), F.col("cluster_id"))
    )


def triangle_count(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
) -> DataFrame:
    """Global triangle count over an undirected edge list — the
    cluster-density diagnostic for near-dup graphs (triangle-rich
    components are tight duplicate cliques; triangle-free ones are
    chains of borderline matches).

    Degree-oriented enumeration (the scalable formulation): orient
    every edge from its (degree, id)-smaller endpoint to the larger,
    enumerate wedges by joining oriented edges on their source, and
    close each wedge with a semi-join against the canonical edge set.
    Orientation bounds every node's out-degree by O(sqrt(m)), so the
    wedge join's per-key fan-out — the quadratic hazard a hub node
    creates in the naive id-ordered version — is capped regardless of
    skew.  Two equi-joins + one semi-join, no cross products.

    Returns one row: (n_nodes, n_edges, n_triangles).
    """
    return _triangle_counts(pairs, src, dst)


def _triangle_counts(pairs: DataFrame, src: str, dst: str, wedges: bool = False) -> DataFrame:
    """One row ``(n_nodes, n_edges, n_triangles[, wedges])`` WITHOUT
    joining 1-row frames (a join would plan a nested loop): each count
    source is tagged, unioned and conditional-aggregated once.
    ``wedges`` is the exact BIGINT Σᵥ deg(v)(deg(v)−1)/2."""
    e, deg, closed = _edges_degrees_triangles(pairs, src, dst)
    wedge = [("wedge", deg, "(deg * (deg - 1)) div 2")] if wedges else []
    branches = [("node", deg, "1"), *wedge, ("edge", e, "1"), ("tri", closed, "1")]
    tagged = reduce(
        DataFrame.unionByName,
        (df.selectExpr(f"'{k}' AS kind", f"CAST({v} AS BIGINT) AS val") for k, df, v in branches),
    )
    counts = [
        f"count(CASE WHEN kind = '{k}' THEN 1 END) AS n_{name}"
        for k, name in (("node", "nodes"), ("edge", "edges"), ("tri", "triangles"))
    ]
    wedge_sum = "CAST(coalesce(sum(CASE WHEN kind = 'wedge' THEN val END), 0) AS BIGINT) AS wedges"
    return tagged.selectExpr(*counts, *([wedge_sum] if wedges else []))


def _edges_degrees_triangles(pairs: DataFrame, src: str, dst: str):
    """Shared degree-oriented triangle machinery: canonical distinct
    edge set, per-node degrees, and the closed-wedge (triangle) rows —
    each triangle appears exactly once.  See :func:`triangle_count`
    for the orientation argument (out-degree capped at O(sqrt(m)))."""
    # the edge set feeds the degree build, the orientation join, the
    # wedge-closing semi-join and the summary union — and the PAIRS
    # input is usually itself an LSH/minhash pipeline; materialize both
    # bounded frames once so none of those branches re-derives them
    # (a plan-scan audit counted 28 corpus scans here before this)
    e = materialize_once(_undirected(pairs, src, dst))
    deg = (
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    deg = materialize_once(deg)
    ed = _attach_both(e, deg, "node", "deg", "d")
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = ed.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("b"),
    )
    o2 = oriented.select(F.col("a").alias("a2"), F.col("b").alias("c"))
    # b < c, so (b, c) is already the canonical (u, v) of the closing edge
    wedges = oriented.join(o2, (F.col("a") == F.col("a2")) & (F.col("b") < F.col("c"))).select(
        F.col("b").alias("u"), F.col("c").alias("v")
    )
    closed = wedges.join(e, ["u", "v"], "left_semi")
    return e, deg, closed


def clustering_coefficient(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
) -> DataFrame:
    """Global (transitivity) clustering coefficient over an undirected
    edge list: 3·triangles / wedges, with wedges = Σᵥ deg(v)(deg(v)−1)/2
    — the one-number answer to "do my near-dup neighborhoods close into
    cliques or stay chains?", calibrating how aggressively
    connected-component closure (dedup_clusters) will merge borderline
    matches.

    Exactness & shape: reuses :func:`triangle_count`'s degree-oriented
    enumeration (per-key wedge fan-out capped at O(√m) regardless of
    hub skew); the wedge mass is an exact BIGINT sum over the degree
    table; all four counts flow through ONE tagged union aggregate
    (never a 1-row×1-row nested-loop join), and the coefficient is a
    single final division (NULL on a wedge-free graph).

    Returns one row ``(n_nodes, n_edges, n_triangles, wedges,
    global_cc)``.
    """
    return _triangle_counts(pairs, src, dst, wedges=True).selectExpr(
        "*",
        "round(try_divide(CAST(n_triangles AS DOUBLE) * 3.0D,"
        " nullif(CAST(wedges AS DOUBLE), 0.0D)), 6) AS global_cc",
    )


def bfs_hops(
    pairs: DataFrame,
    seeds: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
) -> DataFrame:
    """Multi-source bounded-depth BFS over an undirected edge list:
    the minimum hop count (≤ 3) from any seed node — "how
    close is this doc to a known-bad seed" over the near-dup graph,
    the contamination-radius / blocklist-expansion query of a corpus
    pipeline.  All-integer semantics: exactly reproducible, no FP.

    Textbook frontier BFS, the distributed way: each round expands the
    CURRENT frontier by one equi-join against the (symmetrized) edge
    list, then anti-joins out already-visited nodes so a node's first
    visit — necessarily at its minimum distance — is its only visit.
    Rounds = 3 (a small constant), so lineage stays bounded
    without checkpointing; per-round cost is one shuffle of the
    frontier×degree expansion, never the whole graph.

    ``seeds`` is a 1-column DataFrame of node ids.  Seeds absent from
    the graph still appear at hops 0.  Returns (node, hops).
    """
    # materialize the (possibly expensive) edge derivation ONCE —
    # every round re-references `edges`, and without truncation each
    # round's lazy plan would re-run the upstream pair pipeline.
    edges = materialize_once(_sym_edges(pairs, src, dst))
    seed_col = seeds.columns[0]
    seen = seeds.select(F.col(seed_col).alias("node")).distinct().withColumn(
        "hops", F.lit(0)
    )
    frontier = seen.select("node")
    for h in range(1, 4):
        nbrs = (
            frontier.join(edges, frontier["node"] == edges["s"])
            .select(F.col("d").alias("node"))
            .distinct()
        )
        # truncate the (small) frontier each round: `seen` and `new`
        # are referenced by BOTH the next round's anti-join and the
        # final union — without materialization every reference
        # re-executes all prior rounds (2^rounds plan blowup).
        new = materialize_once(
            nbrs.join(seen.select("node"), "node", "left_anti").withColumn(
                "hops", F.lit(h)
            )
        )
        seen = seen.unionByName(new)
        frontier = new.select("node")
    return seen.withColumn("hops", F.col("hops").cast("long"))


def pagerank(
    pairs: DataFrame,
    iters: int = 5,
    src: str = "doc_a",
    dst: str = "doc_b",
    journal_dir: str | None = None,
) -> DataFrame:
    """Deterministic PageRank over an undirected edge list — the
    centrality score that ranks a near-dup cluster's "canonical"
    member (the doc most connected to everything else) better than
    min-id election when clusters are large.

    BIT-REPRODUCIBLE fixed-point arithmetic: ranks live in integer
    micro-units (1e6 = mass 1/N... scaled), every per-iteration step
    is integer floor-division and integer sums — no FP accumulation
    order can change the result, so the output hash-matches a SQL
    oracle and repeated runs exactly.  Teleport 15%, damping 85%,
    ``iters`` fixed iterations (power iteration unrolled — the oracle
    unrolls the same CTE chain).

    Scale shape per iteration: one equi-join (ranks ⋈ edges on the
    source, AQE-skew-safe) and one partial-agged groupBy(dst) — the
    standard Pregel-on-DataFrames message pass; degrees compute once.
    The symmetrized graph has no dangling nodes by construction
    (every node has degree >= 1).

    ``journal_dir`` journals the symmetrized edges (``edges/``) and
    every round (``ranks_rNNNN/``, carrying ``node, deg, teleport,
    rank_micro`` — all the next round needs) so a fresh session
    resumes a killed run from its last committed round.  The integer
    arithmetic makes a resumed run BIT-identical to an uninterrupted
    one; ``iters`` counts TOTAL rounds, and a call over a finished
    journal is a pure replay.

    Returns ``node, rank_micro (bigint), pr (double, 6dp)``.
    """
    rounds = Rounds(pairs.sparkSession, "ranks", journal_dir)
    sym = rounds.once("edges", _sym_edges(pairs, src, dst))
    deg = sym.groupBy("s").agg(F.count(F.lit(1)).alias("deg"))
    n_nodes = deg.agg(F.count(F.lit(1)).alias("n"))
    # init + teleport are integer functions of N, broadcast as a
    # 1-row scalar (computed IN the plan, not on the driver, so the
    # oracle's scalar subquery sees the identical value)
    init = deg.crossJoin(F.broadcast(n_nodes)).select(
        F.col("s").alias("node"),
        "deg",
        F.floor(150000 / F.col("n")).cast("long").alias("teleport"),
        F.floor(1000000 / F.col("n")).cast("long").alias("rank_micro"),
    )
    # the edge list is cut ONCE (without it every round re-derives the
    # whole candidate-pair pipeline: measured 14 s at sf0.1 for 5
    # rounds); in memory, ranks lineage is cut only every
    # CHECKPOINT_EVERY rounds — plan depth stays bounded for long
    # runs, while short runs skip the per-round eager-job overhead
    # (5 rounds: 4.4 s with per-round checkpoints, 3.7 s without).
    # A journal commits every round.
    CHECKPOINT_EVERY = 5
    rnd, ranks = rounds.resume(iters, init)
    for i in range(rnd + 1, iters + 1):
        contrib = sym.join(
            ranks.withColumnRenamed("node", "s"), "s"
        ).select(F.col("d"), F.floor(F.col("rank_micro") / F.col("deg")).alias("c"))
        summed = contrib.groupBy("d").agg(F.sum("c").alias("in_mass"))
        ranks = (
            ranks.join(summed, ranks["node"] == summed["d"], "left")
            .select(
                "node",
                "deg",
                "teleport",
                (
                    F.col("teleport")
                    + F.floor(F.coalesce(F.col("in_mass"), F.lit(0)) * 85 / 100)
                ).cast("long").alias("rank_micro"),
            )
        )
        if journal_dir is not None or (i % CHECKPOINT_EVERY == 0 and i < iters):
            ranks = rounds.cut(i, ranks)
    return ranks.select(
        "node",
        "rank_micro",
        F.round(F.col("rank_micro") / 1e6, 6).alias("pr"),
    )


def label_propagation(
    pairs: DataFrame,
    rounds: int = 3,
    src: str = "doc_a",
    dst: str = "doc_b",
) -> DataFrame:
    """Fixed-round synchronous label propagation (community detection)
    over an undirected pair list — the cheap community structure of
    the near-dup graph, one granularity finer than connected
    components (a giant star-expanded component splits into its dense
    template clusters).

    DETERMINISTIC by construction, which vanilla LPA is not: labels
    init to the node id; each round every node adopts the most
    frequent label among its NEIGHBORS (self excluded), ties broken by
    the SMALLEST label; fixed ``rounds`` synchronous updates (the
    pagerank/k-core discipline — both engines unroll the identical
    computation, so a SQL oracle can pin every value).

    Per round: ONE groupBy(node, neighbor-label) count with map-side
    combine, then ONE groupBy(node) argmax via max(struct(count,
    -label)) — shuffles carry (id, label, count) triples only; labels
    are lineage-truncated per round (bounded plan depth).

    Returns ``node, label`` for every node with at least one edge.
    """
    edges = materialize_once(_sym_edges(pairs, src, dst))
    labels = edges.select(F.col("s").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    cuts = Rounds(pairs.sparkSession, "labels")
    for i in range(1, rounds + 1):
        votes = (
            edges.join(labels, edges["d"] == labels["node"])
            .select(F.col("s"), F.col("label"))
            .groupBy("s", "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        labels = cuts.cut(
            i,
            votes.groupBy("s")
            .agg(
                (
                    F.max(F.struct(F.col("c"), (-F.col("label")).alias("neg")))["neg"] * -1
                ).alias("label")
            )
            .select(F.col("s").alias("node"), "label"),
        )
    if rounds > 0:
        release_checkpoint(edges)  # the last round's labels are cut: edges are dead
    return labels.select("node", F.col("label").cast("long").alias("label"))


def kcore_peel(
    pairs: DataFrame,
    rounds: int = 6,
    src: str = "doc_a",
    dst: str = "doc_b",
) -> DataFrame:
    """Fixed-round k-core peeling over an undirected pair list — the
    community-density structure of the near-dup graph: nodes that
    survive repeated removal of degree-< k neighbors sit in densely
    boilerplated regions (template farms, mirror clusters), exactly
    the docs a curation pass down-weights first.

    FIXED ``rounds`` of peeling rather than peel-to-convergence: both
    engines run the identical unrollable computation, so the result is
    deterministic AND SQL-oracle-checkable (the pagerank discipline;
    real near-dup graphs converge in a handful of rounds, and a
    converged round is a no-op so extra rounds are harmless).

    Per round: ONE partial-agged degree groupBy + two semi-joins to
    keep edges whose BOTH endpoints have degree >= k; the edge frame
    is lineage-truncated per round (bounded plan depth, the same
    per-round cut as the other iterative loops).  Shuffles carry
    (node) / (node, node) ids only.

    Returns ``node, core_deg`` for nodes still present after
    ``rounds`` peels, with their degree in the surviving subgraph.
    """
    cuts = Rounds(pairs.sparkSession, "edges")
    edges = cuts.cut(0, _sym_edges(pairs, src, dst))
    for i in range(1, rounds + 1):
        deg = edges.groupBy("s").agg(F.count(F.lit(1)).alias("c"))
        keep = deg.filter(F.col("c") >= 2).select("s")
        edges = cuts.cut(
            i,
            edges.join(keep, "s", "left_semi").join(
                keep.withColumnRenamed("s", "d"), "d", "left_semi"
            ),
        )
    return (
        edges.groupBy("s")
        .agg(F.count(F.lit(1)).alias("core_deg"))
        .select(F.col("s").alias("node"), F.col("core_deg").cast("long").alias("core_deg"))
    )


def common_neighbors(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
) -> DataFrame:
    """Common-neighbors / Adamic-Adar link prediction over the
    near-dup graph: for every node pair sharing >= 1
    neighbors, the shared-neighbor count and the Adamic-Adar score
    Σ 1/ln(deg(n)) — the classic "these two docs are probably dups
    even though no band matched them" second-pass signal (a shared
    low-degree neighbor is strong evidence; a shared hub is weak).

    Determinism: each center contributes CAST(round(1e6/ln(deg)) AS
    BIGINT) micro-units, summed exactly — the lm_score discipline; a
    shared neighbor always has deg >= 2 (edges to both endpoints), so
    ln never sees 1.  ``already_linked`` flags pairs that are edges
    themselves (link prediction scores the others).

    Scale shape: the wedge enumeration is triangle_count's one
    self-equi-join on the center node — fan-out is Σ deg(n)², bounded
    in dedup graphs because LSH bucket caps bound degrees; the final
    groupBy(a,b) is partial-agged.  No all-pairs space.
    """
    # consumed by degrees, both wedge-ray branches and the edge set —
    # materialize once (the pairs input is an LSH pipeline upstream)
    sym = materialize_once(_sym_edges(pairs, src, dst))
    # per-center micro contribution, attached once to the (n -> a) rays
    aa = sym.groupBy("d").agg(F.count(F.lit(1)).alias("deg")).selectExpr(
        "d AS n",
        "CASE WHEN deg >= 2 THEN CAST(round(1000000.0D / ln(CAST(deg AS DOUBLE))) AS BIGINT)"
        " ELSE 0 END AS aa_micro",
    )
    scored = _wedge_pairs(
        sym, 1, F.expr("round(sum(aa_micro) / 1000000.0D, 6) AS adamic_adar"), weights=aa
    )
    return _flag_linked(scored, sym, "n_common", "adamic_adar")


def degree_histogram(edges: DataFrame) -> DataFrame:
    """Degree distribution of a graph: ``(degree, n_nodes)`` — the
    first diagnostic run on any web/citation/dup graph (power-law tail
    => hub-aware strategies like the LSH bucket caps; a spike at k =>
    a template/mirror family).

    Counts distinct neighbors per node over the symmetrized edge list;
    self-loops are dropped.  Two partial-agged shuffles (node ->
    degree, degree -> count), each carrying a pair of integers —
    nothing here grows with edge payload width, so the 100 TB shape is
    the classic two-round MapReduce degree count.
    """
    deg = (
        _sym_edges(edges, "src", "dst")
        .groupBy("s")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )
    return (
        deg.groupBy("degree")
        .agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    )


def assortativity(edges: DataFrame) -> DataFrame:
    """Degree assortativity coefficient (Newman 2002): the Pearson
    correlation of (deg(u), deg(v)) over the symmetrized edge-end
    pairs.  r > 0: hubs link to hubs (social nets); r < 0: hubs link
    to leaves (the shape of template-spam dup clusters and of the
    web).

    Exact-integer discipline: degrees are integers and every Pearson
    term (Σx, Σy, Σxy, Σx², Σy², n) is an exact BIGINT sum over the
    edge list, so the only float op is the final closed form —
    bit-stable across partitionings, like corr_matrix.  Both degree
    attachments are broadcast-or-shuffle equi-joins on the node id;
    the result is one row.
    """
    # Round-12 shape (guide §2.3, shuffle/materialize fewer bytes):
    # the symmetrized edge-end set is EXACTLY the undirected-unique
    # edge list seen from both ends, and every Pearson term over it is
    # a SYMMETRIC sum — n = 2|e|, Σx = Σy = Σ(dₐ+d_b), Σxy = 2Σdₐd_b,
    # Σx² = Σy² = Σ(dₐ²+d_b²) — so the frame that must materialize
    # once (it feeds the degree build and the degree-attach join) is
    # the |e|-row normalized edge list, HALF the round-11 symmetrized
    # set, and its lineage scans ``edges`` once instead of twice (the
    # two orientation projections of the old unionByName).  Degrees
    # come from one explode of both ends; all sums are exact BIGINTs,
    # bit-identical to the symmetrized form in any order.
    e = materialize_once(_undirected(edges, "src", "dst"))
    deg = (
        e.select(F.explode(F.array("u", "v")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
    )
    s = _attach_both(e, deg, "node", "deg", "d").selectExpr(
        "CAST(count(1) * 2 AS BIGINT) AS n",
        "CAST(sum(du + dv) AS BIGINT) AS sx",
        "CAST(sum(du + dv) AS BIGINT) AS sy",
        "CAST(sum(du * dv) * 2 AS BIGINT) AS sxy",
        "CAST(sum(du * du + dv * dv) AS BIGINT) AS sxx",
        "CAST(sum(du * du + dv * dv) AS BIGINT) AS syy",
    )
    # try_divide: a degree-regular graph has zero degree variance —
    # the coefficient is undefined (NULL), not an ANSI error
    return s.selectExpr(
        "n AS n_edge_ends",
        "round(try_divide(sxy * n - sx * sy, sqrt(CAST(sxx * n - sx * sx AS DOUBLE)"
        " * CAST(syy * n - sy * sy AS DOUBLE))), 6) AS assortativity",
    )


def boruvka_msf(edges: DataFrame, max_iter: int = 25) -> DataFrame:
    """Borůvka minimum spanning forest — THE parallel MST algorithm
    (each round every component grabs its cheapest outgoing edge, so
    components at least halve per round: ≤ log₂(n) rounds, each a
    constant number of equi-join + partial-agg shuffles over the edge
    list; Kruskal/Prim's sequential orderings don't distribute).
    The classic use here: the dup-cluster backbone (the cheapest
    similarity edges that keep each cluster connected — a spanning
    forest is the minimal evidence set for a dedup audit).

    DETERMINISTIC under duplicate weights: each component elects its
    min edge by the TOTAL order ``(w, min(a,b), max(a,b))`` — a
    consistent global tiebreak is equivalent to perturbing weights, so
    the forest is unique and bit-reproducible.  Weights must be exact
    (integers — cents, not floats).  Per round: one label attach
    (equi-join), one per-component min (partial-agged packed-struct),
    one component-graph contraction (connected_components on the
    ≤|components|-row election graph), all per-round checkpointed via
    the same lineage discipline as :func:`connected_components`.

    Returns the forest's edge rows ``(src, dst, w)`` (endpoint-
    normalized src < dst).

    ``max_iter`` (default 25) exceeds the ceil(log₂ n) halving bound
    for any graph below ~33M nodes; if the budget is somehow exhausted
    while cross-component edges remain, raises ``RuntimeError`` rather
    than returning a silently partial forest (ADVICE r8).
    """
    e = materialize_once(
        edges.select(
            F.least(F.col("src"), F.col("dst")).alias("a"),
            F.greatest(F.col("src"), F.col("dst")).alias("b"),
            F.col("w").cast("long").alias("w"),
        )
        .filter(F.col("a") != F.col("b"))
        .groupBy("a", "b")
        .agg(F.min("w").alias("w"))  # parallel edges: keep the cheapest
    )
    comp = e.select(F.col("a").alias("id")).unionByName(
        e.select(F.col("b").alias("id"))
    ).distinct().withColumn("c", F.col("id"))

    chosen = None
    prev_comp_ckpt = None
    converged = False
    for _ in range(max_iter):
        lab = _attach_both(e, comp, "id", "c", "c", ("a", "b")).filter("ca != cb")
        # each cross edge offers itself to BOTH endpoint components
        offers = lab.select(F.col("ca").alias("comp"), "w", "a", "b").unionByName(
            lab.select(F.col("cb").alias("comp"), "w", "a", "b")
        )
        elected = materialize_once(
            offers.groupBy("comp")
            .agg(F.min(F.struct("w", "a", "b")).alias("m"))
            .select(F.col("m.a").alias("a"), F.col("m.b").alias("b"), F.col("m.w").alias("w"))
            .distinct()
        )
        if elected.isEmpty():
            release_checkpoint(elected)
            converged = True
            break
        if chosen is None:
            chosen = elected
        else:
            new_chosen = materialize_once(chosen.unionByName(elected).distinct())
            # the union is materialized: the superseded accumulator's
            # blocks are dead — release now, not at GC time (a
            # many-round run would otherwise pile up one dead
            # checkpoint per round on executor storage).  `elected`
            # stays live: the contraction below still reads it.
            release_checkpoint(chosen)
            chosen = new_chosen
        # contract: merge components along the elected edges.  The
        # election graph has ≤ |components| edges — model-sized
        # relative to the corpus edge list — but its DIAMETER can be
        # Θ(|components|) (monotone weights elect a chain), so the
        # contraction uses the two-phase star CC: O(log²) rounds
        # regardless of chain length.
        comp_edges = _attach_both(elected, comp, "id", "c", "c", ("a", "b")).select("ca", "cb")
        merged = connected_components_two_phase(comp_edges, src="ca", dst="cb")
        new_comp = materialize_once(
            comp.join(
                merged.select(F.col("doc_id").alias("c"), F.col("cluster_id")),
                "c",
                "left",
            ).select("id", F.coalesce("cluster_id", F.col("c")).alias("c"))
        )
        if prev_comp_ckpt is not None:
            release_checkpoint(prev_comp_ckpt)
        prev_comp_ckpt = new_comp
        comp = new_comp
        # both consumers of this round's election (the chosen union and
        # the contraction) are materialized; its blocks are now dead —
        # unless it IS the accumulator (first round).
        if elected is not chosen:
            release_checkpoint(elected)
    if not converged:
        # max_iter exhausted without an empty election round: a
        # silently partial forest is corruption, not a result — verify
        # no cross-component edges remain, else fail loudly.
        remaining = _attach_both(e, comp, "id", "c", "c", ("a", "b")).filter("ca != cb")
        if not remaining.isEmpty():
            raise RuntimeError(
                f"boruvka_msf did not converge in max_iter={max_iter} rounds "
                "and cross-component edges remain; raise max_iter "
                "(halving bounds rounds by ceil(log2(n_nodes)))"
            )
    # build the (possibly empty) result BEFORE releasing any blocks it
    # could reference: the empty return is a fresh local DataFrame, not
    # a filter over the about-to-be-released `e` checkpoint.
    if chosen is None:
        out_schema = e.select(
            F.col("a").alias("src"), F.col("b").alias("dst"), "w"
        ).schema
        result = e.sparkSession.createDataFrame([], out_schema)
    else:
        result = chosen.select(F.col("a").alias("src"), F.col("b").alias("dst"), "w")
    release_checkpoint(e)
    if prev_comp_ckpt is not None:
        release_checkpoint(prev_comp_ckpt)
    return result


def neighborhood_jaccard(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
) -> DataFrame:
    """Neighborhood-Jaccard link prediction over the near-dup graph:
    for every node pair sharing >= 1 neighbor,
    ``|N(a)∩N(b)| / |N(a)∪N(b)|`` — the normalized companion to
    :func:`common_neighbors` (raw shared-neighbor counts favor hubs;
    Jaccard asks what FRACTION of their combined neighborhoods
    overlaps, the score that transfers across degree scales).

    Exactness: the intersection count comes from the wedge
    enumeration, the union from the inclusion-exclusion identity
    ``deg_a + deg_b − common`` on exact BIGINT degrees — one division
    to double at the end, no float set arithmetic.

    Scale shape: :func:`triangle_count`'s one self-equi-join on the
    center node (fan-out Σ deg(n)², bounded by LSH bucket caps), a
    partial-agged groupBy(a,b), then ONE shuffle join of the pair
    table against the node-domain degree table (hit twice via the
    a-key and b-key join, both key-partitioned).  No all-pairs space.
    """
    # consumed by degrees, both wedge-ray branches and the edge set —
    # materialize once (the pairs input is an LSH pipeline upstream)
    sym = materialize_once(_sym_edges(pairs, src, dst))
    deg = sym.groupBy("s").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    scored = _attach_both(_wedge_pairs(sym, 1), deg, "s", "deg", "deg_", ("a", "b"))
    return _flag_linked(
        scored,
        sym,
        "n_common",
        "deg_a",
        "deg_b",
        "round(CAST(n_common AS DOUBLE) / CAST(deg_a + deg_b - n_common AS DOUBLE), 6) AS jaccard",
    )


def modularity(edges: DataFrame, communities: DataFrame) -> DataFrame:
    """Newman-Girvan modularity of a given node partition on the
    undirected simple graph — per community
    ``Q_c = L_c/m − (D_c/(2m))²`` and its exact integer carriers: the
    quality score for ANY community assignment (an attribute
    partition, label-prop output, a dedup clustering), answering
    "does this partition bind more edge mass than degree chance".

    Exact-integer discipline: m, the intra-community edge count
    ``L_c`` and the community degree mass ``D_c`` are BIGINTs off the
    canonicalized (u<v, distinct) edge list, so
    ``Q_c = (4m·L_c − D_c²) / (4m²)`` is a ratio of exact integers —
    one float division per community row, bit-stable across
    partitionings (the assortativity discipline).

    Scale shape: two equi-joins attach the community map to the edge
    ends (broadcastable when the node universe is a dimension table),
    then the tagged edge list is consumed EXACTLY ONCE — each edge
    explodes into its two end rows carrying an intra flag, and every
    readout (per-node degrees, community node counts, intra edge mass
    ``2·L_c``, and ``2m = Σ D_c``) folds out of that single pass, so
    the expensive edge join is never re-evaluated per consumer branch
    (the js_divergence scan-once discipline).  No all-pairs term
    anywhere; the m² normalizer is arithmetic on a 1-row broadcast.
    Returns per community ``(community, n_nodes, l_intra, d_total,
    q_c)`` ordered by community, where sum(q_c) is the partition's
    modularity.
    """
    cmap = communities.select(
        F.col("node").alias("nid"), F.col("comm").alias("c")
    ).distinct()
    tagged = _attach_both(_undirected(edges, "src", "dst"), cmap, "nid", "c", "c")
    ii = (F.col("cu") == F.col("cv")).cast("long")
    ends = tagged.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("u").alias("nid"),
                    F.col("cu").alias("community"),
                    ii.alias("ii"),
                ),
                F.struct(
                    F.col("v").alias("nid"),
                    F.col("cv").alias("community"),
                    ii.alias("ii"),
                ),
            )
        ).alias("e")
    ).select("e.nid", "e.community", "e.ii")
    deg = ends.groupBy("nid", "community").agg(
        F.count(F.lit(1)).cast("long").alias("deg"),
        F.sum("ii").cast("long").alias("di"),
    )
    dmass = deg.groupBy("community").agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.sum("deg").cast("long").alias("d_total"),
        # every intra edge contributes one flagged end to EACH side,
        # so the community's flagged-end mass is exactly 2·L_c
        F.sum("di").cast("long").alias("l2"),
    )
    # materialize the community-domain table ONCE: the 1-row 2m total
    # and the output rows both read the checkpointed k-row frame, so
    # the edge join never re-evaluates for the scalar-attach branch
    # (AQE does NOT reuse the shared aggregate stage across branches —
    # measured, not assumed; the k-row footprint makes this the
    # bounded-codebook checkpoint shape, not a raw-data cache)
    dmass = materialize_once(dmass)
    # Σ D_c over all communities counts every edge end once = 2m;
    # `div` keeps both halvings exact BIGINT arithmetic
    tot = dmass.agg(F.sum("d_total").cast("long").alias("dd"))
    md = F.expr("dd div 2").cast("double")
    li = F.expr("l2 div 2").cast("long")
    q = (
        li.cast("double") / md
        - (F.col("d_total").cast("double") / (F.lit(2.0) * md))
        * (F.col("d_total").cast("double") / (F.lit(2.0) * md))
    )
    return (
        dmass.join(F.broadcast(tot))
        .select(
            "community",
            "n_nodes",
            li.alias("l_intra"),
            "d_total",
            F.round(q, 6).alias("q_c"),
        )
        .orderBy("community")
    )
