"""One measuring process: start a session, run one workload, write
the raw results as JSON.

    python3 perfbench/worker.py --workload W --data DIR --expected DIR
        --out OUT.json --work WORK_DIR --seconds S --seed N --trace 0|1
    python3 perfbench/worker.py --setup-only --out OUT.json --work WORK_DIR [--trace 0|1]

``run.py`` launches it; WORK_DIR holds the sink output and event log.

The process records the wall-clock time at which ``get_spark`` returned
(``ready``), so its launcher can time setup from process start.  Then:
one cold pass, in which each query's output is checked against the
files in the ``--expected`` directory right after the query ran (the
checks are not timed), then warm passes until ``--seconds`` have
passed and at least ``WARM_PASSES`` have run.  An execution that raised
counts as failed, and so does every execution of a query whose output
failed the check.  With ``--trace 1`` the layer wrappers are
installed, even warm passes run traced and odd ones untraced, and the
per-layer counters of the traced passes are reported along with the
difference between the two.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)


def session_conf(work: str, trace: bool) -> dict[str, str]:
    """The traced run's JSON event log; nothing for an untraced run."""
    if not trace:
        return {}
    log_dir = os.path.join(work, f"eventlog-{os.getpid()}")
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": f"file://{log_dir}",
        "spark.eventLog.compress": "false",
    }


def stop(spark) -> None:
    """Stop the session and wait until its JVM has exited."""
    jvm = spark.sparkContext._gateway.proc
    spark.stop()
    jvm.stdin.close()  # the gateway JVM exits when its stdin closes
    jvm.wait(timeout=60)


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def check_wordcount(sink_dir: str, counts_path: str) -> str | None:
    """The sink's ``word->count`` lines, in part-file order, must hold
    exactly the generator's counts, sorted by count desc, word asc."""
    rows = []
    for f in sorted(os.listdir(sink_dir)):
        if f.startswith("part-"):
            with open(os.path.join(sink_dir, f)) as fh:
                for line in fh:
                    w, c = line.rstrip("\n").rsplit("->", 1)
                    rows.append((w, int(c)))
    with open(counts_path) as fh:
        expected = json.load(fh)
    if dict(rows) != expected or len(rows) != len(expected):
        return f"word counts differ from the generator's ({len(rows)} vs {len(expected)} words)"
    if rows != sorted(rows, key=lambda r: (-r[1], r[0])):
        return "word counts are not sorted by count desc, word asc"
    return None


def layer_metrics(tr, passes: list[int], cores: int, events: dict, extra: dict) -> dict[str, list]:
    """Per-layer counters of each traced pass (one value per pass)."""
    from tracing import self_times

    spans = self_times(tr.spans)
    per_pass: list[Counter] = []
    for i in passes:
        m = Counter()
        prefix = f"{i}/"
        mine = [s for s in spans if s["trace"].startswith(prefix)]
        by_id = {s["id"]: s for s in mine}

        def phase(s):
            while s is not None and s["name"] not in ("construct", "execute"):
                s = by_id.get(s["parent"])
            return s["name"] if s else None

        for s in mine:
            dur = s["end"] - s["start"]
            if s["name"] == "construct":
                m["construct.s"] += s["self"]
            elif s["name"] == "execute":
                m["execute.s"] += dur
            elif s["name"] == "scan":
                m["scans.calls"] += 1
                m["scans.s"] += dur
            elif s["name"] == "ensure_parallelism":
                m["parallel.calls"] += 1
                m["parallel.s"] += dur
            elif s["name"] in ("barrier", "action") and phase(s) == "construct":
                key = "barriers" if s["name"] == "barrier" else "actions"
                m[f"construct.{key}"] += 1
                m[f"construct.{s['name']}_s"] += dur
            elif s["name"] == "sink" and s.get("kind") == "write_tokens":
                m["sinks.write_s"] += dur
        for (trace_id, ph), cnt in tr.py4j.items():
            if trace_id.startswith(prefix) and ph == "construct":
                m["construct.py4j_calls"] += sum(v for k, v in cnt.items() if k != "m")
        skew = [1.0]
        for key, rec in tr.jobs.items():
            if not key.startswith(prefix):
                continue
            ph = key.rsplit(":", 1)[1]
            for k, v in rec.items():
                if ph == "construct" and k in ("jobs", "stages", "tasks"):
                    m[f"construct.{k}"] += v
                elif ph == "execute":
                    m[f"execute.{k}"] += v
            if ph == "execute":
                ev = events.get(key, {})
                for k in ("input_bytes", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
                          "executor_run_s", "executor_cpu_s", "gc_s"):
                    m[f"execute.{k}"] += ev.get(k, 0)
                skew.append(ev.get("stage_skew", 1.0))
        m["execute.stage_skew"] = max(skew)
        m["execute.busy_frac"] = m["execute.executor_run_s"] / max(m["execute.s"] * cores, 1e-9)
        m["parallel.repartitions"] = sum(v for k, v in tr.repartitions.items() if k.startswith(prefix))
        m.update(extra.get(i, {}))
        per_pass.append(m)
    return {k: [m.get(k, 0) for m in per_pass] for k in set().union(*per_pass)}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--data")
    ap.add_argument("--expected")
    ap.add_argument("--out", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--setup-only", action="store_true")
    args = ap.parse_args()

    from mapreduce_faultolerrant_localityaware_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=session_conf(args.work, bool(args.trace)))
    ready = time.time()
    res = {"ready": ready, "get_spark_s": time.perf_counter() - t0}
    if args.setup_only:
        stop(spark)
        with open(args.out, "w") as fh:
            json.dump(res, fh)
        return

    from mapreduce_faultolerrant_localityaware_spark.sources import scans
    from tracing import Tracer, parse_event_log
    from workloads import WARM_PASSES, Runner, pass_orders

    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from check_oracle import canon

    from oracle import digest

    cores = spark.sparkContext.defaultParallelism
    tr = Tracer(spark) if args.trace else None
    if tr:
        tr.install()
    runner = Runner(spark, args.data, os.path.join(args.work, "wordcount-out"),
                    span=tr.span if tr else None)
    orders = pass_orders(args.workload, args.seed, 1000)
    errors: list[str] = []
    executions: list[tuple[str, bool]] = []  # (query, ok)
    extra: dict[int, Counter] = {}

    with open(os.path.join(args.expected, "oracle.json")) as fh:
        oracle = json.load(fh)
    wrong: set[str] = set()

    def check(q: str, df) -> str | None:
        if q == "wordcount":
            return check_wordcount(runner.sink, os.path.join(args.expected, "counts.json"))
        if digest(canon, df.columns, df.collect()) != oracle[q]:
            return "output differs from the DuckDB oracle"
        return None

    def run_query(i: int, q: str, traced: bool):
        if not traced:
            df = runner.construct(q)
            runner.execute(q, df)
            return df
        tr.trace_id = f"{i}/{q}"
        with tr.span("query", query=q):
            tr.set_group(f"{q}:construct", f"{i}/{q}:construct")
            with tr.span("construct"):
                df = runner.construct(q)
            tr.set_group(f"{q}:execute", f"{i}/{q}:execute")
            with tr.span("execute"):
                runner.execute(q, df)
        tr.clear_group()
        tr.read_group(f"{q}:construct", f"{i}/{q}:construct")
        tr.read_group(f"{q}:execute", f"{i}/{q}:execute")
        if q == "wordcount":
            files = [os.path.join(runner.sink, f) for f in os.listdir(runner.sink) if f.startswith("part-")]
            extra.setdefault(i, Counter()).update({
                "sinks.files_written": len(files),
                "sinks.bytes_written": sum(os.path.getsize(f) for f in files),
            })
        return df

    def run_pass(i: int, traced: bool, checked: bool = False) -> float:
        """Run pass ``i``; return the time spent in its queries.  With
        ``checked``, each output is checked right after its query, untimed."""
        misses = len(scans._SCHEMA_CACHE)
        dt = 0.0
        for q in orders[i]:
            if tr:
                tr.on = traced
            t = time.perf_counter()
            try:
                df = run_query(i, q, traced)
            except Exception as e:  # noqa: BLE001 — counted, reported, run continues
                dt += time.perf_counter() - t
                executions.append((q, False))
                errors.append(f"pass {i} {q}: {type(e).__name__}: {str(e)[:300]}")
                continue
            dt += time.perf_counter() - t
            executions.append((q, True))
            if tr:
                tr.on = False
            if checked:
                try:
                    err = check(q, df)
                except Exception as e:  # noqa: BLE001
                    err = f"{type(e).__name__}: {str(e)[:300]}"
                if err:
                    wrong.add(q)
                    errors.append(f"check {q}: {err}")
        if tr:
            tr.on = False
            extra.setdefault(i, Counter())["scans.schema_misses"] = len(scans._SCHEMA_CACHE) - misses
        return dt

    cold = run_pass(0, bool(tr), checked=True)

    warm: list[float] = []
    t_end = time.perf_counter() + args.seconds
    i = 1
    # a traced run has at least two traced passes and ends on an
    # untraced one, so every traced pass has an untraced pass on each side
    min_passes = max(WARM_PASSES, 5) if tr else WARM_PASSES
    while time.perf_counter() < t_end or len(warm) < min_passes or (tr and i % 2 == 1):
        warm.append(run_pass(i, bool(tr) and i % 2 == 0))
        i += 1

    res.update({
        "cores": cores,
        "cold_s": cold,
        "warm_s": warm,
        "attempted": len(executions),
        "failed": sum(1 for q, ok in executions if not ok or q in wrong),
        "errors": errors,
        "peak_rss_mb": {"python": peak_rss_mb(os.getpid()),
                        "jvm": peak_rss_mb(spark.sparkContext._gateway.proc.pid)},
    })
    stop(spark)
    if tr:
        traced_passes = list(range(2, i, 2))
        events = parse_event_log(os.path.join(args.work, f"eventlog-{os.getpid()}"))
        res["layers"] = layer_metrics(tr, traced_passes, cores, events, extra)
        res["cold_layers"] = layer_metrics(tr, [0], cores, events, extra)
        # warm passes still speed up from one to the next, so each traced
        # pass is compared with the mean of the untraced passes around it
        res["traced_warm_s"] = [warm[j - 1] for j in traced_passes]
        res["untraced_warm_s"] = [warm[j - 1] for j in range(1, i, 2)]
        res["overhead_frac"] = statistics.median(
            2 * warm[j - 1] / (warm[j - 2] + warm[j]) - 1 for j in traced_passes)
        res["py4j_by_type"] = {f"{k[0]}:{k[1]}": dict(v) for k, v in tr.py4j.items()}
        with open(os.path.join(args.work, "spans.json"), "w") as fh:
            json.dump(tr.spans, fh)
    with open(args.out, "w") as fh:
        json.dump(res, fh)


if __name__ == "__main__":
    main()
