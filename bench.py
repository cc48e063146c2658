"""Benchmark harness: runs the headline queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]``.

Output protocol (round 8): the driver records only the LAST ~2000
characters of stdout and JSON-parses the final line, so the final
line is a COMPACT summary (metric, value, unit, n_queries,
warm_slower_than_cold, calibration_sec, sf — a few hundred bytes).
The FULL payload with the per-query warm/cold maps (~3 KB at 49+
headliners, which is what overflowed the round-7 tail window and
left ``BENCH_r07.json`` with ``"parsed": null``) is printed on an
EARLIER stdout line and, when ``$SPARK_GRAFT_BENCH_OUT`` is set,
also written to that file for committing as ``BENCH_local_r*.json``.

Each query runs once cold, then ``WARM_PASSES`` (≥3) more times; the
cold run pays one-time JVM/codegen compilation (Janino class
generation dominates on small data — ~7 s for the widest expression
trees vs <1 s of actual data work) and the reported steady-state is
the MINIMUM of the warm passes — the run least polluted by external
machine load (round 3 shipped a bench whose warm runs were slower
than cold purely from background load; min-of-n makes that shape
impossible to record silently).  ``value``/``queries`` report
steady-state, ``queries_cold`` the first-run wall, and any query
whose steady-state still exceeds its cold run is listed in
``warm_slower_than_cold`` with a stderr warning — the fingerprint of
a loaded machine, i.e. an untrustworthy measurement.
Materialization is a ``noop`` sink write — every output column is
fully evaluated (a ``count()`` would let Catalyst prune
projection-only work), and the driver never pulls rows, matching the
100 TB posture.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entry_mod
from mapreduce_faultolerrant_localityaware_spark.session import get_spark

HEADLINE = [
    "wordcount",
    "group_agg",
    "join_large",
    "window_rank",
    "sort_limit",
    "text_quality",
    "dedup_minhash",
    "dedup_simhash",
    "ann_bruteforce",
    "events_tumbling",
    "sessionize",
    "join_part",
    "tpch_q3",
    "asof_join",
    "tpch_q1",
    "tpch_q5",
    "tpch_q18",
    "tfidf_top_terms",
    "dedup_clusters",
    "multimodal_decode",
    "dedup_embedding_srp",
    "resample_ffill",
    "dedup_chunks",
    "embedding_quantize",
    "simjoin_prefix",
    "dedup_sorted_neighborhood",
    "simjoin_cosine",
    "dedup_pipeline",
    "dedup_substring",
    "text_entropy",
    "split_assign",
    "graph_pagerank",
    "tokens_to_ids",
    "lm_score",
    "dedup_incremental_fuzzy",
    "ngram_coverage",
    "shard_assign",
    "quality_gate",
    "split_leakage",
    "embedding_outliers",
    # round-7 continuation headliners: retrieval, data selection,
    # soft dedup, fuzzy decontamination, and the filter batteries
    "bm25_search",
    "dsir_weights",
    "softdedup_weights",
    "contamination_fuzzy",
    "gopher_rules",
    "quality_logit",
    # round-7 late additions: the integer-Gram covariance (mapInPandas
    # BLAS shape), the analytic-tail KL drift monitor, and the
    # single-pass correlation matrix
    "embedding_covariance",
    "unigram_kl",
    "corr_matrix",
    # round-8 additions: correlated LATERAL top-k (decorrelated LIMIT),
    # exact rolling median (bounded collect_list frame), and the
    # integer-exact assortativity coefficient
    "lateral_topk",
    "rolling_median",
    "graph_assortativity",
    # round-8 second batch: integer-exact Hampel filter and the
    # bounded-frame sliding distinct count
    "hampel_outliers",
    "window_distinct",
    # round-8 third batch: lookback-bounded interval-join attribution
    "attribution_multi_touch",
    # round-10 additions: the rank-statistics family rewritten off
    # unpartitioned row-level windows (distinct-value collapse /
    # exact_ntile) — benched so the fix shows in the record, plus the
    # assign-only incremental ANN ingest
    "roc_auc",
    "lift_table",
    "rfm_segments",
    "ann_incremental",
    # round-10 second wave: the k-group rank statistic on the
    # aggregated value domain, the vocab×pair JSD fan-out, and the
    # mergeable-sketch rollup
    "kruskal_wallis",
    "js_divergence",
    "hll_rollup",
    # round-11 additions: the near-unique continuous-score rank fixture
    # (the shape the bucketed_cum_counts rewrite exists for) and the
    # mergeable quantile rollup
    "roc_auc_continuous",
    "quantile_rollup",
    # round-11b additions: the experimentation/eval battery's heaviest
    # members (survival χ², sequential monitor, featurizer audit,
    # modularity over the transaction graph) — benched so the
    # scan-once materialization discipline shows in the record
    "logrank_test",
    "ab_sequential",
    "feature_hash",
    "graph_modularity",
]


def materialize(df) -> None:
    """Force full evaluation of every output column without pulling
    rows to the driver: write to the no-op sink."""
    df.write.format("noop").mode("overwrite").save()


def calibrate(spark) -> float:
    """Min-of-3 wall of a fixed synthetic workload (data-independent:
    an aggregation over spark.range).  Its steady-state wall on an idle
    32-thread host is stable run-to-run, so round-over-round query
    deltas can be normalized for external machine load — divide a
    query time by (calibration_sec of that run / calibration_sec of
    the reference run) before comparing rounds."""
    cal = (
        spark.range(0, 200_000_000, 1, 32)
        .selectExpr("sum(id * 2654435761 % 1000003) AS s")
    )
    runs = []
    for _ in range(3):
        t0 = time.perf_counter()
        materialize(cal)
        runs.append(time.perf_counter() - t0)
    return round(min(runs), 3)


#: a record whose calibration exceeds this multiple of the previous
#: committed record's calibration is NOISY — the host is too loaded
#: for the numbers to be comparable round-over-round
CAL_GATE_RATIO = 1.5


def previous_committed_calibration(repo_dir: str | None = None) -> float | None:
    """Calibration of the most recent committed ``BENCH_local_r*.json``
    — the mechanical reference the round-10 adjudication prose used by
    hand (three same-code runs spanned calibration 0.414→1.273; each
    round then re-litigated host noise in text).  Returns None when no
    prior record exists (first round, or a fresh checkout)."""
    import glob
    import re as _re

    repo_dir = repo_dir or os.path.dirname(os.path.abspath(__file__))
    best: tuple[int, float] | None = None
    for path in glob.glob(os.path.join(repo_dir, "BENCH_local_r*.json")):
        m = _re.search(r"_r(\d+)\.json$", os.path.basename(path))
        if not m:
            continue
        try:
            with open(path) as fh:
                cal = float(json.load(fh)["calibration_sec"])
        except Exception:  # noqa: BLE001 — unreadable/legacy record
            continue
        rnd = int(m.group(1))
        if best is None or rnd > best[0]:
            best = (rnd, cal)
    return best[1] if best else None


def calibration_noisy(calibration: float, prev: float | None) -> bool:
    """The mechanical commit gate (round 11): True iff this run's
    calibration says the host is >CAL_GATE_RATIO× slower than the
    previous committed record's host — numbers from such a run are
    dominated by external load, not code, and must not be committed."""
    return prev is not None and calibration > CAL_GATE_RATIO * prev


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("bench")
    qs = entry_mod.queries()
    # warm the JVM + parquet footers once with the cheapest query
    materialize(qs["sort_limit"](spark, sf_dir))

    warm_passes = max(3, int(os.environ.get("SPARK_GRAFT_BENCH_WARM", "3")))

    # mechanical commit gate (round 11, VERDICT r10 "what's wrong" #3):
    # a run whose calibration exceeds CAL_GATE_RATIO× the previous
    # committed record's is host noise, not code — retry for a quiet
    # window instead of committing it, and if none arrives, mark the
    # record noisy (written to *.noisy, never the committed path) so
    # round-over-round comparisons stay mechanical instead of prose.
    prev_cal = previous_committed_calibration()
    max_attempts = int(os.environ.get("SPARK_GRAFT_BENCH_CAL_ATTEMPTS", "4"))
    retry_sleep = float(os.environ.get("SPARK_GRAFT_BENCH_CAL_SLEEP", "20"))
    calibration = calibrate(spark)
    attempt = 1
    while calibration_noisy(calibration, prev_cal) and attempt < max_attempts:
        print(
            f"WARNING: calibration {calibration} > {CAL_GATE_RATIO}x previous "
            f"committed {prev_cal} — host loaded; retrying in {retry_sleep}s "
            f"({attempt}/{max_attempts})",
            file=sys.stderr,
        )
        time.sleep(retry_sleep)
        calibration = calibrate(spark)
        attempt += 1
    noisy = calibration_noisy(calibration, prev_cal)
    if noisy:
        print(
            f"WARNING: calibration still {calibration} after {max_attempts} "
            f"attempts (previous committed {prev_cal}) — record marked noisy; "
            "re-run on a quiet machine before committing",
            file=sys.stderr,
        )
    times: dict[str, float] = {}
    cold: dict[str, float] = {}
    for name in HEADLINE:
        t0 = time.perf_counter()
        materialize(qs[name](spark, sf_dir))
        cold[name] = round(time.perf_counter() - t0, 3)
        warms = []
        for _ in range(warm_passes):
            t0 = time.perf_counter()
            materialize(qs[name](spark, sf_dir))
            warms.append(time.perf_counter() - t0)
        times[name] = round(min(warms), 3)

    # self-healing pass (round 9): warm-slower-than-cold is almost
    # always a transient load spike during that query's warm passes,
    # not a property of the query (r8's committed artifact carried a
    # hand-adjudicated lm_score flag).  Re-run each suspect once —
    # fresh cold + warm set — and keep the BETTER measurement; only a
    # twice-confirmed suspect stays flagged.
    suspect = sorted(n for n in times if times[n] > cold[n])
    for name in suspect:
        t0 = time.perf_counter()
        materialize(qs[name](spark, sf_dir))
        c2 = round(time.perf_counter() - t0, 3)
        warms = []
        for _ in range(warm_passes):
            t0 = time.perf_counter()
            materialize(qs[name](spark, sf_dir))
            warms.append(time.perf_counter() - t0)
        w2 = round(min(warms), 3)
        if w2 < times[name]:
            times[name] = w2
        if c2 < cold[name]:
            cold[name] = c2
    suspect = sorted(n for n in times if times[n] > cold[n])
    if suspect:
        print(
            f"WARNING: steady-state slower than cold for {suspect} — "
            "confirmed on a re-run; external machine load, re-run on a "
            "quiet machine",
            file=sys.stderr,
        )

    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    full = {
        "metric": "headline_queries_total_wall",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "queries": times,
        "queries_cold": cold,
        "warm_passes": warm_passes,
        "warm_slower_than_cold": suspect,
        "calibration_sec": calibration,
        "calibration_noisy": noisy,
        "sf": float(sf) if sf else None,
    }
    # full per-query maps: earlier stdout line + optional committed file
    print(json.dumps(full))
    out_path = os.environ.get("SPARK_GRAFT_BENCH_OUT")
    if out_path:
        if noisy:
            # the gate: a noisy record never lands on the committed
            # path — it goes to a .noisy sidecar for forensics only
            out_path = out_path + ".noisy"
        with open(out_path, "w") as fh:
            json.dump(full, fh, indent=1)
            fh.write("\n")
    # compact FINAL line — must fit the driver's ~2000-char stdout
    # tail window with room to spare (this is the line it parses).
    # Round 12 (VERDICT r11 item 4, additions-only): the driver's
    # per-query round-over-round comparison was empty because this
    # line carried only totals; the steady-state map itself fits the
    # window at the current headliner count (~1.7 KB), so include it
    # behind a HARD size guard — if a future headliner set pushes the
    # line past the budget, fall back to the totals-only shape plus a
    # pointer to the full payload file rather than risk a truncated
    # (unparseable) final line.
    compact = {k: full[k] for k in (
        "metric", "value", "unit", "warm_passes",
        "warm_slower_than_cold", "calibration_sec", "calibration_noisy", "sf",
    )}
    compact["n_queries"] = len(times)
    with_queries = dict(compact)
    with_queries["queries"] = times
    line = json.dumps(with_queries, separators=(",", ":"))
    if len(line) <= 1900:
        compact = with_queries
    elif out_path:
        compact["per_query_file"] = out_path
    print(json.dumps(compact, separators=(",", ":")))


if __name__ == "__main__":
    main()
