"""Benchmark command for velesdb_spark.

    python3 perfbench/run.py --workload retrieval|ingest --seed N \\
        --seconds S --trace 0|1

Run from the repository root. Inputs are generated from the seed into
``.perfbench_work/`` (before the program starts), the workload's fixed op
sequence runs from one closed-loop client on ``local[<cpus>]``, every result
is checked, and the last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer metrics of a traced run.
The line before it is an annotation (seed, loadavg at start and end, per-kind
medians, fail ratio). Exits non-zero when any op fails or is wrong, and when
the program is not there.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
sys.path.insert(0, HERE)

from metrics import (fail_ratio, median, percentile,  # noqa: E402
                     round_total, unstolen)

KINDS = ["get", "knn", "text", "hybrid", "velesql", "match", "upsert",
         "delete", "compact"]
FRAME_KINDS = ["knn", "text", "hybrid", "velesql", "match"]
LAYERS = ["client", "database", "velesql", "plans", "functions.staging",
          "functions.bm25", "storage", "operators"]


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["retrieval", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def configure_env() -> int:
    """Keep every file Spark and the JVM write inside the checkout."""
    cpus = len(os.sched_getaffinity(0))
    for sub in ("spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    tmp = os.path.join(WORK, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        "--conf", shlex.quote("spark.sql.warehouse.dir="
                              + os.path.join(WORK, "warehouse")),
        "--driver-java-options", shlex.quote(java_opts),
        "pyspark-shell"])
    return cpus


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def end_to_end(client, setups, cached) -> tuple[dict, dict]:
    """The host steals CPU from this guest, by up to the CPU time the run
    itself spends, and raw latencies swing with it. Wall times are therefore
    reported with the stolen share taken out (``metrics.unstolen``); the raw
    latencies go to the annotation."""
    recs = client.records
    by_kind: dict[str, list] = {}
    for r in recs:
        by_kind.setdefault(r["kind"], []).append(r["latency_s"])

    def ms(r):
        return 1e3 * unstolen(r["latency_s"], r["cpu_s"], r["steal_s"])

    def mean_ms(kind=None):
        xs = [ms(r) for r in recs if kind in (None, r["kind"])]
        return sum(xs) / len(xs)

    return {
        "setup_s": (median([unstolen(*s) for s in setups]), "s"),
        "ms_per_op": (mean_ms(), "ms"),
        "knn_ms": (mean_ms("knn"), "ms"),
        "text_ms": (mean_ms("text"), "ms"),
        "cached_mb": (cached / 2 ** 20, "MB"),
    }, by_kind


def per_layer(client, tracer, setup_info, end) -> dict:
    recs = client.records
    out: dict = {}

    def kind_recs(k):
        return [r for r in recs if r["kind"] == k]

    for k in KINDS:
        rs = kind_recs(k)
        out[f"database.{k}.build_ms"] = (
            median([r["build_s"] for r in rs]) * 1e3, "ms")
        out[f"database.{k}.py4j_calls"] = (
            median([r["py4j_build"] for r in rs]), "count")
        for key in ("jobs_build", "jobs_exec", "tasks"):
            out[f"session.{k}.{key}"] = (median([r[key] for r in rs]), "count")
    for k in FRAME_KINDS:
        rs = kind_recs(k)
        out[f"operators.{k}.exec_ms"] = (
            median([r["exec_s"] for r in rs]) * 1e3, "ms")
        out[f"operators.{k}.rows_examined_per_result"] = (
            median([r["rows_examined"] / max(r["result_rows"], 1)
                  for r in rs]), "ratio")
        out[f"operators.{k}.shuffle_bytes"] = (
            median([r["shuffle_bytes"] for r in rs]), "bytes")
        out[f"operators.{k}.spill_bytes"] = (
            median([r["spill_bytes"] for r in rs]), "bytes")
        out[f"operators.{k}.peak_memory_bytes"] = (
            median([r["peak_memory_bytes"] for r in rs]), "bytes")

    spans = [s for s in tracer.spans if s["op"] is not None]

    def span_ms(name):
        return [(s["end"] - s["start"]) * 1e3 for s in spans
                if s["name"] == name]

    out["velesql.parse_ms"] = (median(span_ms("velesql.parse")), "ms")
    out["velesql.translate_ms"] = (median(span_ms("velesql.translate")), "ms")
    out["plans.match_plan_ms"] = (median(span_ms("plans.plan")), "ms")
    out["plans.match_plan_calls"] = (len(span_ms("plans.plan")), "count")
    out["functions.staging.frames_staged"] = (
        len(span_ms("functions.staging.stage")), "count")
    out["functions.staging.persisted_rdds"] = (end["persisted_rdds"], "count")
    out["functions.bm25.index_build_s"] = (setup_info["index_build_s"], "s")
    out["functions.bm25.incremental_update_ms"] = (
        median(span_ms("functions.bm25.Bm25Index.incremental_update")), "ms")
    out["storage.append_ms"] = (
        median(span_ms("storage.LogStore.append_upsert")
             + span_ms("storage.LogStore.append_delete")), "ms")
    for m in ("read", "compact", "vacuum"):
        out[f"storage.{m}_ms"] = (median(span_ms(f"storage.LogStore.{m}")),
                                  "ms")
    out["storage.live_segments"] = (end.get("live_segments", 0), "count")
    out["storage.write_amp"] = (end.get("write_amp", 0.0), "ratio")
    out["storage.space_amp"] = (end.get("space_amp", 0.0), "ratio")
    out["database.upsert.rows_per_s"] = (end.get("upsert_rows_per_s", 0.0),
                                         "rows/s")
    # CPU time over latency: a change that keeps the CPU cost of an op but
    # runs it on fewer cores, or makes it wait, lowers this figure
    out["client.busy_cores"] = (
        median([r["cpu_s"] / r["latency_s"] for r in recs]), "cores")
    out["client.cpu_ms_per_op"] = (
        1e3 * sum(r["cpu_s"] for r in recs) / len(recs), "ms")
    selft = end["self_ms"]
    for layer in LAYERS:
        out[f"{layer}.self_ms"] = (selft.get(layer, 0.0), "ms")
    out["tracing.py4j_calls"] = (tracer.py4j, "count")
    out["tracing.py4j_gc_releases"] = (tracer.py4j_gc, "count")
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "velesdb_spark", "__init__.py")):
        print(f"perfbench: no velesdb_spark package under {ROOT}; run from "
              "a checkout of the repository", file=sys.stderr)
        return 2
    t_start = time.perf_counter()
    cpus = configure_env()
    import gen
    import workloads as wl

    load_start = os.getloadavg()[0]
    steal_start = wl.steal_s()

    data_dir = gen.ensure_inputs(WORK, args.workload, args.seed)
    sys.path.insert(0, ROOT)
    from velesdb_spark.session import get_spark

    workload = wl.WORKLOADS[args.workload](data_dir, WORK)
    phase_s = {"inputs": time.perf_counter() - t_start}
    setups_cpu, setups_wall, setups_steal, setup_steps = [], [], [], []
    spark, setup_info = None, {}
    try:
        for rep in range(1 if args.trace else wl.SETUP_REPS):
            if spark is not None:
                wl.clear_caches(spark)
            pids = wl.spark_pids() if spark is not None else [os.getpid()]
            c0 = wl.cpu_s(pids)
            s0 = wl.steal_s()
            t0 = time.perf_counter()
            spark = get_spark("perfbench", cpus=cpus)
            spark.sparkContext.setLogLevel("ERROR")
            spark_s = time.perf_counter() - t0
            setup_info = workload.setup(spark, warm_up=rep == 0)
            setup_steps.append({"get_spark_s": spark_s, **setup_info})
            setups_wall.append(time.perf_counter() - t0)
            setups_steal.append(wl.steal_s() - s0)
            # the JVM is launched by the first get_spark, so all of its CPU
            # time up to now belongs to that set-up
            setups_cpu.append(wl.cpu_s(wl.spark_pids()) - c0)
        phase_s["setup"] = sum(setups_wall)

        tracer = None
        if args.trace:
            from tracing import Tracer

            tracer = Tracer(spark)
            tracer.install()
        client = wl.Client(spark, tracer)
        t0 = time.perf_counter()
        results = workload.run(client)
        phase_s["ops"] = time.perf_counter() - t0
        end = {"cached_bytes": wl.cached_bytes(spark),
               "persisted_rdds": wl.persisted_rdds(spark)}
        if tracer is not None:
            tracer.uninstall()
        t0 = time.perf_counter()
        workload.check(client, results)
        end.update(workload.end_state(spark))
        phase_s["check"] = time.perf_counter() - t0
    finally:
        workload.cleanup()
        if spark is not None:
            t0 = time.perf_counter()
            stop_spark(spark)
            phase_s["stop"] = time.perf_counter() - t0

    attempted = len(workload.ops)
    failed = client.raised + len(client.wrong)
    for w in client.wrong[:20]:
        print(f"wrong result: {w}", file=sys.stderr)
    e2e, by_kind = end_to_end(
        client, zip(setups_wall, setups_cpu, setups_steal),
        end["cached_bytes"])
    lat_ms = [r["latency_s"] * 1e3 for r in client.records]
    ms_per_op = e2e["ms_per_op"][0]
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}"
    ref_path = os.path.join(WORK, "results", f"{tag}.json")
    annotation = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "cpus": cpus, "loadavg_1m_start": load_start,
        "loadavg_1m_end": os.getloadavg()[0],
        "cpu_steal_s": wl.steal_s() - steal_start,
        "ops": attempted, "raised": client.raised,
        "wrong": len(client.wrong),
        "fail_ratio": fail_ratio(attempted, client.raised, len(client.wrong)),
        "per_kind_p50_ms": {k: median(v) * 1e3 for k, v in by_kind.items()},
        "per_kind_samples": {k: len(v) for k, v in by_kind.items()},
        "ops_per_s": len(lat_ms) / sum(lat_ms) * 1e3,
        "round_total_ms": 1e3 * round_total(by_kind),
        "ops_kind_latency_ms_cpu_ms_steal_ms": [
            [r["kind"], r["latency_s"] * 1e3, r["cpu_s"] * 1e3,
             r["steal_s"] * 1e3] for r in client.records],
        "setups_cpu_s": setups_cpu,
        "setups_wall_s": setups_wall,
        "setups_steal_s": setups_steal,
        "setup_steps_s": setup_steps,
        "phase_s": phase_s,
    }
    if percentile(lat_ms, 50) is not None:
        annotation["latency_p50_ms"] = percentile(lat_ms, 50)
    if args.trace:
        trace_dir = os.path.join(WORK, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        end["self_ms"] = tracer.dump(os.path.join(trace_dir, f"{tag}.json"),
                                     {"records": client.records,
                                      "annotation": annotation})
        metrics = per_layer(client, tracer, setup_info, end)
        untraced = None
        if os.path.exists(ref_path):
            with open(ref_path) as f:
                untraced = json.load(f)["ms_per_op"]
        metrics["tracing.ms_per_op"] = (ms_per_op, "ms")
        metrics["tracing.overhead_ms"] = (
            ms_per_op - untraced if untraced is not None else 0.0, "ms")
        annotation["untraced_ms_per_op"] = untraced
    else:
        metrics = e2e
        with open(ref_path, "w") as f:
            json.dump({"ms_per_op": ms_per_op}, f)
    print(json.dumps({"annotation": annotation}))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": float(v), "unit": u}
                    for k, (v, u) in metrics.items()}}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
