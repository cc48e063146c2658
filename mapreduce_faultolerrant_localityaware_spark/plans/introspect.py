"""Physical-plan introspection — the scale guardrails.

These assertions encode the properties that matter at 100 TB and are
invisible in small-data correctness tests: filters reaching the
parquet scan, dimension joins going broadcast, hot paths staying
inside whole-stage codegen (no Python UDF).  Tests call these so a
regression in plan shape fails CI, not the cluster bill.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


#: physical node names whose per-plan counts the ledger pins
#: (tests/ledger_sf0.001.json, ``exchanges``).  Exchange = a real
#: shuffle, BroadcastExchange = a broadcast build, ReusedExchange = a
#: shared shuffle/broadcast output — a refactor that breaks reuse (same
#: Exchange count, one fewer ReusedExchange) re-executes a whole
#: subtree and must show up in the ledger diff.
EXCHANGE_NODES = ("Exchange", "BroadcastExchange", "ReusedExchange")


def exchange_counts(plan: str) -> dict[str, int]:
    """Count shuffle/broadcast/reuse nodes in a FORMATTED physical plan.
    Formatted explain lists each physical node exactly once in the
    numbered details section (``(5) Exchange``), so counting those
    lines counts nodes, not tree-rendering duplicates."""
    return {
        node: len(re.findall(rf"^\(\d+\) {node}\b", plan, re.M))
        for node in EXCHANGE_NODES
    }


# ---------------------------------------------------------------------------
# BroadcastNestedLoopJoin build-side boundedness prover
# ---------------------------------------------------------------------------
# Every BNLJ this engine intentionally emits broadcasts a side whose row
# count is BOUNDED INDEPENDENT OF DATA SCALE: a global aggregate (≤1 row),
# a literal-pinned id filter (the ≤k-row ANN query side), or driver-created
# k-row data (salt Range, parallelized band table).  `is_row_bounded` walks
# the physical tree and PROVES that shape, so a refactor can't silently turn
# a "1-row scalar attach" into a real cross product — the whitelist in
# tests/test_plan_hygiene.py is enforced structurally, not by comment.

#: row-preserving / row-reducing wrappers: bounded iff all children bounded.
#: Generate multiplies by the exploded-array length — bounded input stays
#: bounded (the arrays it explodes here come from 1-row aggregates).
_TRANSPARENT = (
    "Filter", "Project", "Sort", "Exchange", "BroadcastExchange",
    "AQEShuffleRead", "Generate", "Window", "Expand", "Union",
    "InputAdapter", "ColumnarToRow", "Coalesce",
)
#: joins: output ≤ |left| × |right|, so bounded × bounded stays bounded
_JOINS = (
    "BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
)
#: a Filter pinning an id-like column to ≤ this many rows counts as bounded
#: (the ANN query-side contract: `vec_id < 8`, `vec_id = 0`, id IN (...))
MAX_PINNED_IDS = 4096
_ID_PIN = re.compile(
    r"\b\w*id#\d+L?\)?\s*(?:<|<=)\s*(\d+)\b|\b\w*id#\d+L?\)?\s*=\s*\d+\b"
)
#: a driver-built Range (salt replication) is bounded up to this count
MAX_RANGE_ROWS = 100_000


def _plan_children(node):
    """Children of a JVM SparkPlan node, descending through AQE wrappers."""
    name = node.nodeName()
    if name == "AdaptiveSparkPlan":
        return [node.initialPlan()]
    if name.startswith("InMemoryTableScan"):
        try:
            return [node.relation().cachedPlan()]
        except Exception:  # noqa: BLE001 — shape varies across versions
            pass
    seq = node.children()
    return [seq.apply(i) for i in range(seq.length())]


def walk_plan(node):
    yield node
    for child in _plan_children(node):
        yield from walk_plan(child)


def is_row_bounded(node) -> bool:
    """True iff this physical subtree provably yields O(k) rows regardless
    of input data scale (the property a BNLJ broadcast side must have)."""
    name = node.nodeName()
    kids = _plan_children(node)
    if "Aggregate" in name:
        try:
            if node.groupingExpressions().length() == 0:
                return True  # global aggregate: ≤1 row, whatever the input
        except Exception:  # noqa: BLE001
            pass
        # grouped aggregate: ≤ |child| distinct groups
        return all(is_row_bounded(c) for c in kids)
    if name.startswith(_JOINS):
        return bool(kids) and all(is_row_bounded(c) for c in kids)
    if name == "Filter":
        cond = ""
        try:
            cond = node.condition().toString()
        except Exception:  # noqa: BLE001
            pass
        m = _ID_PIN.search(cond)
        if m and (m.group(1) is None or int(m.group(1)) <= MAX_PINNED_IDS):
            return True  # literal-pinned id set: the k-row query side
        return all(is_row_bounded(c) for c in kids)
    if name.startswith(_TRANSPARENT):
        return bool(kids) and all(is_row_bounded(c) for c in kids)
    if name == "Range":
        try:
            n = node.numElements()
            n = int(n.toString()) if hasattr(n, "toString") else int(n)
            return n <= MAX_RANGE_ROWS
        except Exception:  # noqa: BLE001
            return False
    if name.startswith("Scan ExistingRDD") or name.startswith("LocalTableScan"):
        # driver-parallelized k-row data (band tables, codebooks) — created
        # by collect-k-rows paths that are themselves bounded by design
        return True
    if name.startswith("ReusedExchange"):
        return all(is_row_bounded(c) for c in kids) if kids else False
    return False  # parquet scans and anything unrecognized: unbounded


def bnlj_build_sides(df: DataFrame):
    """Yield (bnlj_node, build_side_child) for every BroadcastNestedLoopJoin
    in the physical plan (AQE initial plan)."""
    plan = df._jdf.queryExecution().executedPlan()
    for node in walk_plan(plan):
        if "BroadcastNestedLoopJoin" in node.nodeName():
            idx = 0 if node.buildSide().toString() == "BuildLeft" else 1
            yield node, _plan_children(node)[idx]


def unpartitioned_windows(df: DataFrame):
    """Yield (window_node, input_child) for every WindowExec-family node
    with an EMPTY partition spec — the `WindowExec: No Partition Defined`
    shape that moves every input row to one task."""
    plan = df._jdf.queryExecution().executedPlan()
    for node in walk_plan(plan):
        name = node.nodeName()
        if name == "Window" or name.startswith(("Window ", "WindowGroupLimit", "WindowInPandas")):
            try:
                if node.partitionSpec().length() != 0:
                    continue
            except Exception:  # noqa: BLE001 — node variant without a spec
                continue
            kids = _plan_children(node)
            yield node, (kids[0] if kids else node)


#: grouping-key expressions whose IMAGE is bounded independent of row
#: count: the range-bucket id (≤ the exchange's explicit partition
#: count), calendar truncations (≤ days/months/... in the data's time
#: span — the accepted time-series posture), literal-modulus buckets,
#: and 1–2-char prefixes (≤ 256 values).  Everything else — in
#: particular a RAW scan column, however low-cardinality the tester's
#: data happens to be — must be whitelisted per-query with a proof
#: comment (tests/test_plan_hygiene.py DOMAIN_OK): round 10's prover
#: accepted ANY Aggregate, which let a `groupBy(score)` over continuous
#: parquet doubles prove "domain-collapsed" while being row-sized.
#: every alternative is ANCHORED: the bounded function must BE the
#: expression's outermost call, not merely appear inside it — a
#: composite key like `concat(user_id#1, (x#2 % 7))` is row-scale
#: even though a bounded fragment occurs within it (the round-11
#: review's false-accept class; an unanchored `.search` would have
#: recreated the round-10 any-Aggregate hole one level down).
#: Accepted outermost shapes: spark_partition_id; calendar
#: truncations; coarse date_format (yyyy / yyyy-MM only); a top-level
#: literal modulus; a 1–2-char prefix (image ≤ charset² — note
#: `substring(x, 1, 24)` does NOT qualify); a literal-modulus pmod
#: (bucketed_cum_counts' cell id).  Casts are peeled before matching;
#: a cast TO DATE is itself accepted (calendar image), as is any
#: DATE-typed direct grouping key via dataType().
_BOUNDED_KEY = re.compile(
    r"^SPARK_PARTITION_ID\(\)$"
    r"|^(?:to_date|date_trunc|trunc|window|year|month|quarter|weekofyear"
    r"|dayofweek|dayofmonth|day|hour|minute|unix_date|datediff)\(.*\)$"
    r"|^date_format\([^,]+, yyyy(-MM)?[,)].*$"
    # the repo's canonical month index: (year(d)·12 + month(d)) —
    # an arithmetic combination of two calendar-bounded terms
    r"|^\(\(year\(.*\) \* \d+\) \+ month\(.*\)\)$"
    r"|^\(.* % \d+\)$"
    r"|^substring\(.*, 1, [12]\)$"
    r"|^pmod\(.*, \d+\)$",
    re.S,
)
_CAST_WRAP = re.compile(r"^cast\((.*) as (\w+)(\(\d+(,\d+)?\))?\)$", re.S)
#: min/max (aggregate results render with a trailing `#id`) preserve a
#: bounded image — min over per-group values of a calendar truncation
#: is still a calendar value (user_growth's first-seen day)
_MINMAX_WRAP = re.compile(r"^(?:min|max)\((.*)\)(?:#\d+L?)?$", re.S)

_ATTR_REF = re.compile(r"^(\w+)#(\d+)L?$")


def _named_expr_strings(node):
    """Render this node's defining NamedExpressions (Project list,
    Aggregate result expressions) — where `x AS y#id` aliases live."""
    out = []
    for getter in ("projectList", "resultExpressions"):
        try:
            seq = getattr(node, getter)()
            out.extend(seq.apply(i).toString() for i in range(seq.size()))
        except Exception:  # noqa: BLE001 — node without that member
            pass
    return out


def _grouping_keys_bounded(agg_node, depth: int = 0) -> bool:
    """True iff every grouping expression of this physical Aggregate has
    a provably bounded image: a global aggregate (no keys), a key that
    matches `_BOUNDED_KEY` directly, or an attribute whose DEFINING
    alias expression in the subtree matches it (traced through up to
    three alias hops, e.g. `to_date(ts#3) AS d#5` → `d#5 AS day#9`)."""
    try:
        keys = agg_node.groupingExpressions()
    except Exception:  # noqa: BLE001
        return False
    if keys.size() == 0:
        return True  # global aggregate: ≤1 row

    def expr_bounded(expr: str, hops: int) -> bool:
        expr = expr.strip()
        while True:  # peel image-preserving wrappers: casts, min/max
            m = _CAST_WRAP.match(expr)
            if m:
                if m.group(2) == "date":
                    return True  # cast TO DATE: calendar-bounded image
                expr = m.group(1).strip()
                continue
            m = _MINMAX_WRAP.match(expr)
            if m:
                expr = m.group(1).strip()
                continue
            break
        if _BOUNDED_KEY.match(expr):
            return True
        m = _ATTR_REF.match(expr)
        if not (m and hops < 3):
            return False
        # word-boundary on the expr id: `AS d#5` must not bind to the
        # unrelated alias `... AS d#52L` (round-11 review)
        marker = re.compile(
            rf"AS {re.escape(m.group(1))}#{m.group(2)}(?![0-9])"
        )
        for node in walk_plan(agg_node):
            for s in _named_expr_strings(node):
                hit = marker.search(s)
                if hit:
                    return expr_bounded(s[: hit.start()], hops + 1)
        return False

    def key_bounded(i: int) -> bool:
        e = keys.apply(i)
        try:
            # a DATE-typed grouping key is calendar-bounded whatever
            # produced it (raw date scan column, cast, truncation) —
            # note: TIMESTAMP keys are NOT (micros ≈ row cardinality)
            if e.dataType().typeName() == "date":
                return True
        except Exception:  # noqa: BLE001
            pass
        return expr_bounded(e.toString(), 0)

    return all(key_bounded(i) for i in range(keys.size()))


def is_domain_collapsed(node, allow_any_aggregate: bool = False) -> bool:
    """True iff every leaf-to-root path of this physical subtree passes
    through a row-collapsing node — an Aggregate with a PROVABLY
    BOUNDED grouping domain (global aggregate, spark_partition_id
    range-bucket id, calendar truncation, literal modulus — see
    `_BOUNDED_KEY`), a TakeOrdered/Limit (rows → k), or a provably
    row-bounded shape.

    This is the property an UNPARTITIONED window's input must have: a
    single-partition sort over a bounded domain / k-row list is the
    engine's accepted pattern (day/month series, range-bucket offset
    tables); the same sort over a raw row-level table is the 100 TB
    scale-killer the round-9 roc_auc/lift_table family shipped and
    round 10 removed.  Round 11 tightened the Aggregate rule: a
    grouped aggregate no longer proves "collapsed" merely by being an
    aggregate — `groupBy(score)` over near-unique continuous values IS
    row-sized (the round-10 residual).  Queries whose grouping domain
    is bounded by DATA SEMANTICS the plan cannot show (ISO language
    codes, a source-name domain) pass ``allow_any_aggregate=True`` via
    a per-query whitelist with a proof comment
    (tests/test_plan_hygiene.py DOMAIN_OK)."""
    name = node.nodeName()
    if "Aggregate" in name:
        return allow_any_aggregate or _grouping_keys_bounded(node)
    if "TakeOrderedAndProject" in name or "Limit" in name:
        return True
    if name == "Range":
        return is_row_bounded(node)
    if name.startswith("Scan ExistingRDD") or name.startswith("LocalTableScan"):
        return True  # driver-created k-row data / checkpoint of a bounded fit
    kids = _plan_children(node)
    if not kids:
        return False  # parquet scan or other unbounded leaf
    return all(is_domain_collapsed(c, allow_any_aggregate) for c in kids)


def subtree_sketch(node, depth: int = 0, max_lines: int = 40) -> str:
    """Human-readable node sketch for assertion messages."""
    lines = ["  " * depth + node.nodeName()]
    for child in _plan_children(node):
        lines.append(subtree_sketch(child, depth + 1, max_lines))
    return "\n".join(lines)[: max_lines * 80]


def assert_pushed_filters(df: DataFrame, *needles: str) -> None:
    """Assert the formatted plan shows parquet PushedFilters mentioning
    each needle (column name or literal)."""
    plan = formatted_plan(df)
    assert "PushedFilters" in plan, f"no PushedFilters in plan:\n{plan}"
    for needle in needles:
        assert needle in plan, f"{needle!r} not pushed down:\n{plan}"


def assert_broadcast_join(df: DataFrame) -> None:
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, (
        f"expected a broadcast join:\n{plan}"
    )


def assert_no_python_udf(df: DataFrame) -> None:
    """Hot-path queries must stay JVM-side (no BatchEvalPython /
    ArrowEvalPython nodes)."""
    plan = formatted_plan(df)
    for marker in ("BatchEvalPython", "ArrowEvalPython", "PythonUDF"):
        assert marker not in plan, f"Python UDF in hot path:\n{plan}"


def scan_counts_from_plan(plan: str) -> dict[str, int]:
    """Per-table parquet-scan counts from a FORMATTED physical plan —
    the ledger's ``scans`` field (round 11b).

    AQE does not reuse a shared aggregate stage across sibling plan
    branches, so every duplicated subtree re-scans its base table; a
    query's scan count is therefore the honest "how many times does
    100 TB get read" number.  Counts the numbered ``(n) Scan parquet``
    node details and attributes each to its Location table; RDD scans
    (``Scan ExistingRDD`` — a lazily checkpointed frame, computed
    once) deliberately do not count.
    """
    tabs: dict[str, int] = {}
    chunks = re.split(r"^(?=\(\d+\) )", plan, flags=re.M)
    for ch in chunks:
        if re.match(r"^\(\d+\) Scan parquet", ch):
            m = re.search(r"(\w+)\.parquet", ch)
            if m:
                tabs[m.group(1)] = tabs.get(m.group(1), 0) + 1
    return tabs
