"""Multi-objective data-selection operators — the curation step that
picks training documents trading off conflicting quality axes.  A
training-data-pipeline extension beyond the reference surface (the
reference's only selector is Q4's global sort+limit,
core/map_reduce.go:588-605): when "best" is two-dimensional (long AND
lexically diverse, high-quality AND rare-domain), a single ORDER BY
cannot express it — the Pareto front (skyline) can.

Scale shape: the classic skyline is O(n²) dominance testing; this
module never does that.  For the 2-D maximize/maximize case the
skyline has a closed distributed form:

  1. collapse docs to distinct x values with the per-x best y
     (one hash aggregate — docs sharing a metric point collapse
     before any sort);
  2. a point survives iff its y strictly exceeds every y at larger x,
     i.e. a running max over x DESC — one window over the distinct-x
     set (thousands of rows, not billions, after step 1).

Total cost at 100 TB: one scan + one aggregate exchange on x + a
window over |distinct x| rows.  No self-join, no cross product.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def pareto_front(points: DataFrame) -> DataFrame:
    """2-D maximize/maximize skyline over integer metric columns.

    A point p is ON the front iff no other point q dominates it
    (q.x >= p.x and q.y >= p.y with at least one strict).  Duplicate
    metric points do NOT dominate each other — all docs at a surviving
    (x, y) are counted in ``n_docs`` with the smallest id as
    ``rep_id``.

    Returns (x, y, n_docs, rep_id) ordered by x — by construction y
    is strictly decreasing along the front, so the order is total.

    Correctness of the window form: among equal x only the max-y row
    can survive (any other is strictly dominated in y); a per-x max-y
    point survives iff y > max(y over all strictly larger x) — which
    is exactly the running max over x DESC excluding the current row.
    The oracle states the same set as a NOT EXISTS dominance test, an
    independent formulation, so the gate cross-checks the rewrite.
    """
    per_x = (
        points.groupBy(F.col("x"), F.col("y"))
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("rep_id"))
        .groupBy("x")
        .agg(
            F.max_by(
                F.struct("y", "n_docs", "rep_id"), F.col("y")
            ).alias("best")
        )
        .select("x", "best.y", "best.n_docs", "best.rep_id")
    )
    w = Window.orderBy(F.desc("x")).rowsBetween(Window.unboundedPreceding, -1)
    return (
        per_x.withColumn("max_y_right", F.max("y").over(w))
        .filter(F.col("max_y_right").isNull() | (F.col("y") > F.col("max_y_right")))
        .select("x", "y", "n_docs", "rep_id")
        .orderBy("x")
    )


__all__ = ["pareto_front"]
