"""Benchmark command for the transkribusdu_spark package (see README.md).

    python3 perfbench/run.py --workload extract --seed 1 --seconds 6 --trace 0

Runs one workload on a ``local[4]`` session in this process, checks its
outputs and prints one JSON result line last: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The line before
it is the run record (input properties, CPU probes, per-iteration times,
check results). Exits 1 when a check fails and 2 when the package is not
beside this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
MB = 2**20


def timed(fn, *args, **kw):
    """(fn's result, its wall seconds)"""
    t0 = time.perf_counter()
    return fn(*args, **kw), time.perf_counter() - t0


def declared(values: dict, kind: str) -> dict:
    """The ``kind`` metrics BENCHMARK.json declares, with their units."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {d["name"]: {"value": values[d["name"]], "unit": d["unit"]} for d in spec[kind]}


def start_session(work: Path):
    """local[4] session whose scratch files stay under ``work``."""
    import tempfile

    from transkribusdu_spark.session import build_session

    tmp = work / "tmp"
    tmp.mkdir()
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None
    # 8 shuffle partitions = 2x the 4 cores, the engine's own sizing rule
    # (session.py); its 32 default is sized for local[32]. The heap is
    # committed and touched at start, so the JVM's resident size does not
    # swing with when G1 happens to grow the heap.
    spark = build_session(app_name="perfbench", master="local[4]", shuffle_partitions=8, extra_conf={
        "spark.driver.memory": "2g", "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(work / "spark-local"),
        "spark.driver.extraJavaOptions": f"-Xms2g -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp}"})
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM and its Python workers to exit."""
    import sysmon
    from pyspark import SparkContext

    proc = SparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    proc.wait(timeout=60)
    sysmon.wait_for_children(timeout=60)


def timed_loop(wl, seconds: float) -> list[dict]:
    """Whole iterations until ``seconds`` have passed (at least one)."""
    import sysmon

    its = []
    t_start = time.perf_counter()
    cpu_start = sysmon.cpu_times()
    with sysmon.PeakMemory() as mem:
        while True:
            if its:
                wl.clean(len(its) - 1)
            t0, cpu0 = time.perf_counter(), sysmon.tree_cpu_seconds(os.getpid())
            res = wl.run(len(its))
            res["wall_s"] = time.perf_counter() - t0
            res["cpu_s"] = sysmon.tree_cpu_seconds(os.getpid()) - cpu0
            its.append(res)
            if time.perf_counter() - t_start >= seconds:
                break
    its[-1]["peak_mem"] = mem.peak
    its[-1]["steal_frac"] = sysmon.steal_frac(cpu_start, sysmon.cpu_times())
    return its


def layer_metrics(spans: list[dict], res: dict) -> dict:
    """Per-layer metrics from the traced iteration's spans."""
    import tracing as tr

    by = {}
    for s in spans:
        by.setdefault(s["name"], []).append(s)

    def nodes(layer):
        return [n for s in by.get(layer, []) for n in s["nodes"]]

    def total(layer, metric, node_filter=None):
        return tr.metric_total(nodes(layer), metric, node_filter)

    def rows(layer, key):
        return sum(s[key] or 0 for s in by.get(layer, []))

    m = {}
    for layer in ("parse", "extract", "lineage", "urls", "dedup", "dedupgraph", "edges",
                  "features", "ecn", "segment"):
        m[f"{layer}.self_s"] = sum(s["self_s"] for s in by.get(layer, []))
        m[f"{layer}.python_s"] = total(layer, tr.PY_TIME)
        m[f"{layer}.shuffle_mb"] = total(layer, "shuffle bytes written") / MB
        m[f"{layer}.spill_mb"] = total(layer, "spill size") / MB
    m["parse.errors"] = res["attempted"] - res["completed"]
    m["extract.py_mb"] = (total("extract", tr.PY_SENT) + total("extract", tr.PY_RECV)) / MB
    m["extract.rows_out"] = rows("extract", "rows_out")
    m["lineage.write_mb"] = total("lineage", "written output") / MB
    m["lineage.reread_rows"] = total("lineage", "number of output rows",
                                     lambda n: n["name"].startswith("Scan parquet"))
    m["urls.rows_dropped"] = rows("urls", "rows_in") - rows("urls", "rows_out")
    m["dedup.candidate_pairs"] = total("dedup", "number of output rows",
                                       lambda n: "Join" in n["name"] and "[bucket#" in n["desc"])
    m["dedup.verified_pairs"] = rows("dedup", "rows_out")
    m["dedup.pair_yield"] = (m["dedup.verified_pairs"] / m["dedup.candidate_pairs"]
                             if m["dedup.candidate_pairs"] else 0.0)
    m["dedup.task_skew"] = tr.task_skew(nodes("dedup")) if "dedup" in by else 0.0
    jobs = [j for s in by.get("dedupgraph", []) for j in s["jobs"]]
    m["dedupgraph.rounds"] = max(sum(j.startswith(("localCheckpoint", "checkpoint"))
                                     for j in jobs) - 1, 0)
    m["dedupgraph.jobs"] = len(jobs)
    m["edges.edges_out"] = rows("edges", "rows_out")
    return m


def run_traced(spark, wl, record: dict) -> dict:
    """One iteration of the untraced shape (observed from outside), then
    one staged, traced iteration. Returns the per-layer metrics."""
    import tracing as tr

    sc = spark.sparkContext
    plans = tr.PlanStore(spark)
    observer = tr.Observer(spark)
    mark = plans.mark()
    sc.setJobGroup("observe", "untraced iteration")
    t0 = time.perf_counter()
    res = wl.run("observe", observer)
    untraced = time.perf_counter() - t0
    sc.setLocalProperty("spark.jobGroup.id", None)
    errors = wl.check("observe", res)
    observed = plans.nodes_since(mark)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup("observe"))
    wl.clean("observe")

    tracer = tr.Tracer(spark, "traced")
    t0 = time.perf_counter()
    traced_res = wl.run("traced", tracer)
    traced = time.perf_counter() - t0
    wl.clean("traced")

    m = layer_metrics(tracer.spans, traced_res)
    m["parse.parses_per_doc"] = tr.parses_per_doc(observed, res["attempted"])
    m["spark.jobs"] = n_jobs
    m["spark.persist_mb"] = observer.persist_peak / MB
    m["trace.overhead_frac"] = traced / untraced - 1
    record.update(untraced_wall_s=untraced, traced_wall_s=traced, errors=errors,
                  attempted=res["attempted"], failed=0 if not errors else res["attempted"])
    out = HERE / "traces" / f"{wl.name}-seed{record['seed']}.json"
    out.parent.mkdir(exist_ok=True)
    spans = [{k: v for k, v in s.items() if k != "nodes"} | {"operators": [
        {"exec": n["exec"], "name": n["name"], "desc": n["desc"][:300],
         "metrics": {k: v[0] for k, v in n["metrics"].items()}} for n in s["nodes"]]}
        for s in tracer.spans]
    out.write_text(json.dumps({"record": record, "layers": m, "spans": spans}, default=str))
    record["trace_file"] = str(out.relative_to(ROOT))
    return m


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=["extract", "corpus", "layout"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)

    if not (ROOT / "transkribusdu_spark" / "__init__.py").is_file():
        print(f"perfbench: no transkribusdu_spark package in {ROOT}", file=sys.stderr)
        return 2
    # The Spark Python workers are children of the JVM this process starts,
    # so PYTHONPATH set here ships the package to them from any cwd.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [x for x in os.environ.get("PYTHONPATH", "").split(os.pathsep) if x])
    sys.path[:0] = [str(ROOT), str(HERE)]
    import gen
    import sysmon
    import workloads

    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "probes_start": sysmon.probes()}
    work = HERE / ".work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    spark = None
    try:
        t_setup = time.perf_counter()
        # Generation is pure Python and the session start mostly waits on
        # the JVM process, so the two overlap.
        with ThreadPoolExecutor(1) as pool:
            pending = pool.submit(timed, gen.generate, args.workload, args.seed)
            spark, start_s = timed(start_session, work)
            data, gen_s = pending.result()
        wl, write_s = timed(workloads.WORKLOADS[args.workload], spark, data, work)
        record["input"] = wl.properties()
        warmup_s = timed(wl.warm_up, traced=bool(args.trace))[1]
        setup_s = time.perf_counter() - t_setup
        record.update(session_start_s=start_s, gen_s=gen_s, write_s=write_s, warmup_s=warmup_s)
        errors = []

        if args.trace:
            m = run_traced(spark, wl, record)
            m["session.start_s"], m["synth.gen_s"] = start_s, gen_s + write_s
            errors += record["errors"]
            attempted, failed = record["attempted"], record["failed"]
            metrics = declared(m, "per_layer")
        else:
            its = timed_loop(wl, args.seconds)
            errors += wl.check(len(its) - 1, its[-1])
            attempted = sum(r["attempted"] for r in its)
            done = sum(r["completed"] for r in its)
            failed = sum(abs(r["completed"] - wl.expected_completed) for r in its)
            if errors:
                failed += its[-1]["attempted"]
            record["iterations"] = [{"wall_s": r["wall_s"], "cpu_s": r["cpu_s"],
                                     "attempted": r["attempted"], "completed": r["completed"]}
                                    for r in its]
            record["cpu_steal_frac"] = its[-1]["steal_frac"]
            m = {"docs_per_s": statistics.median(r["attempted"] / r["wall_s"] for r in its),
                 "docs_per_cpu_s": statistics.median(r["attempted"] / r["cpu_s"] for r in its),
                 "setup_s": setup_s,
                 "peak_rss_mb": its[-1]["peak_mem"] / MB,
                 "failed_frac": (attempted - done) / attempted}
            metrics = declared(m, "end_to_end")
            wl.clean(len(its) - 1)
    finally:
        try:
            if spark is not None:
                stop_session(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
    record["probes_end"] = sysmon.probes()
    record["errors"] = errors
    print(json.dumps(record, default=str))
    print(json.dumps({"correct": not errors, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
