"""The repository benchmark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root.  Generates the workload's inputs from
the seed (the Zipf corpus; ``construct_heavy`` reads the fixed tables
under ``perfbench/data``, and its seed permutes only the query order),
computes the expected outputs under DuckDB (both cached under
``.perfbench/cache``, never timed), then runs the workload in a fresh
process (``worker.py``) and starts one more process that only sets up
a session, for the median set-up time.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``.  The line before it is the
full report (every pass, input sizes, host facts, errors); it is also
written to ``.perfbench/results/``.  See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
SETUP_RUNS = 2  # the worker's own set-up plus one set-up-only process
KEEP_CACHED = 8
#: per-process limits (s) that keep a whole run under 180 s
WORKER_TIMEOUT, SETUP_TIMEOUT = 110, 45
DRIVER_MEM = "1536m"

sys.path.insert(0, HERE)

from workloads import DATA, WARM_PASSES, WORKLOADS  # noqa: E402

def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def prepare_data(data_name: str, seed: int, queries: list[str]) -> tuple[str, str]:
    """The inputs and, beside them, their expected outputs; both are
    made once (per seed for generated inputs) and cached.  Returns
    (data dir, expected-outputs dir)."""
    import datagen

    spec = DATA[data_name]
    cache = os.path.join(STATE, "cache")
    if spec["kind"] == "corpus":
        out = data = os.path.join(cache, f"{data_name}-seed{seed}")
    else:
        out, data = os.path.join(cache, data_name), os.path.join(HERE, "data", spec["dir"])
    done = os.path.join(out, "oracle.json")
    if not os.path.exists(done):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        if spec["kind"] == "corpus":
            facts = datagen.corpus(out, seed, spec["n_docs"], spec["vocab"])
        else:
            import pyarrow.parquet as pq

            facts = {"tables": {f[:-len(".parquet")]: pq.ParquetFile(os.path.join(data, f)).metadata.num_rows
                                for f in sorted(os.listdir(data))}}
        with open(os.path.join(out, "facts.json"), "w") as fh:
            json.dump(facts, fh)
        sys.path.insert(0, ROOT)
        sys.path.insert(0, os.path.join(ROOT, "tools"))
        from oracle import oracle_digests

        tmp = os.path.join(STATE, "duckdb-tmp")
        digests = oracle_digests(data, [q for q in queries if q != "wordcount"], tmp)
        shutil.rmtree(tmp, ignore_errors=True)
        with open(done + ".tmp", "w") as fh:
            json.dump(digests, fh)
        os.replace(done + ".tmp", done)
    os.utime(out)
    entries = sorted((os.path.join(cache, d) for d in os.listdir(cache)), key=os.path.getmtime)
    for old in entries[:-KEEP_CACHED]:
        shutil.rmtree(old, ignore_errors=True)
    return data, out


def input_bytes(data: str) -> int:
    """On-disk size of the input files: parquet tables and ``txt/``."""
    total = 0
    for d, _, files in os.walk(data):
        for f in files:
            if f.endswith((".parquet", ".txt")):
                total += os.path.getsize(os.path.join(d, f))
    return total


def child_env(work: str) -> dict[str, str]:
    """Session settings, and every file the JVMs and Spark write under ``work``."""
    env = dict(os.environ)
    env["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    env.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    env["SPARK_DRIVER_MEM"] = DRIVER_MEM
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    env["TMPDIR"] = os.path.join(work, "tmp")
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    return env


def spawn(work: str, tag: str, extra: list[str], trace: int, timeout: float) -> dict:
    """Run worker.py; return its result with ``setup_s`` from launch."""
    out = os.path.join(work, f"{tag}.json")
    log = os.path.join(work, f"{tag}.log")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--out", out, "--work", work,
           "--trace", str(trace), *extra]
    t0 = time.time()
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=child_env(work), stdout=fh, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0 or not os.path.exists(out):
        with open(log) as fh:
            tail = fh.read()[-3000:]
        fail(f"{tag} process failed ({code}):\n{tail}")
    with open(out) as fh:
        res = json.load(fh)
    res["setup_s"] = res["ready"] - t0
    return res


def host_facts(cores: int) -> dict:
    import pyspark

    java = subprocess.run(["java", "-XX:-UsePerfData", "-version"], capture_output=True, text=True).stderr.splitlines()
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0)))),
        "spark_cores": cores,
        "driver_memory": DRIVER_MEM,
        "pyspark": pyspark.__version__,
        "java": java[0] if java else "unknown",
        "python": platform.python_version(),
        "machine": platform.machine(),
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    for need in ("BENCHMARK.json", "__spark_entry__.py", "mapreduce_faultolerrant_localityaware_spark",
                 "tools/check_oracle.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found under {ROOT}: run from a checkout of the repository")
    wl = WORKLOADS[args.workload]
    t0 = time.time()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = json.load(fh)
    data, expected = prepare_data(wl["data"], args.seed, wl["queries"])
    prep_s = time.time() - t0

    work = os.path.join(STATE, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub))
    try:
        res = spawn(work, "worker", ["--workload", args.workload, "--data", data, "--expected", expected,
                                     "--seconds", str(args.seconds), "--seed", str(args.seed)],
                    args.trace, WORKER_TIMEOUT)
        setups = [res] + [spawn(work, f"setup{k}", ["--setup-only"], args.trace, SETUP_TIMEOUT)
                          for k in range(1, SETUP_RUNS)]
    finally:
        spans = os.path.join(work, "spans.json")
        spans_kept = None
        if os.path.exists(spans):
            spans_kept = os.path.join(STATE, "results", f"{args.workload}-seed{args.seed}-spans.json")
            os.makedirs(os.path.dirname(spans_kept), exist_ok=True)
            shutil.move(spans, spans_kept)
        shutil.rmtree(work, ignore_errors=True)

    with open(os.path.join(expected, "facts.json")) as fh:
        facts = json.load(fh)
    warm = statistics.median(res["warm_s"][:WARM_PASSES])
    input_mb = input_bytes(data) / 1e6
    e2e = {
        "setup_s": statistics.median(s["setup_s"] for s in setups),
        "cold_pass_s": res["cold_s"],
        "warm_pass_s": warm,
        "input_mb_per_s": input_mb / warm,
        "peak_rss_mb": sum(res["peak_rss_mb"].values()),
        "ops_ok_frac": 1 - res["failed"] / res["attempted"],
    }
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "loop": "closed, 1 client, 1 query at a time", "queries": wl["queries"],
        "input": dict(facts, input_mb_per_pass=input_mb), "host": host_facts(res["cores"]),
        "end_to_end": e2e, "ops_failed_frac": res["failed"] / res["attempted"],
        "setup_runs_s": [s["setup_s"] for s in setups], "cold_pass_s": res["cold_s"],
        "warm_passes_s": res["warm_s"],
        "peak_rss_mb": res["peak_rss_mb"], "errors": res["errors"],
        "input_prep_s": prep_s, "run_wall_s": time.time() - t0,
    }
    if args.trace:
        layers = {k: statistics.median(v) for k, v in res["layers"].items()}
        layers.update({f"cold.{k}": res["cold_layers"][k][0] for k in
                       ("scans.calls", "scans.s", "scans.schema_misses", "construct.s", "execute.s")})
        layers["session.get_spark_s"] = statistics.median(s["get_spark_s"] for s in setups)
        layers["trace.traced_pass_s"] = statistics.median(res["traced_warm_s"])
        layers["trace.untraced_pass_s"] = statistics.median(res["untraced_warm_s"])
        layers["trace.overhead_frac"] = res["overhead_frac"]
        metrics = {m["name"]: {"value": layers.get(m["name"], 0), "unit": m["unit"]} for m in declared["per_layer"]}
        report.update(per_layer=layers, per_layer_passes=res["layers"], py4j_by_type=res["py4j_by_type"],
                      spans_file=spans_kept)
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]} for m in declared["end_to_end"]}
    results = os.path.join(STATE, "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as fh:
        json.dump(report, fh, indent=1)
    print(json.dumps(report, separators=(",", ":")))
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}, separators=(",", ":")))


if __name__ == "__main__":
    main()
