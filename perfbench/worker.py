"""One benchmark run in a fresh process: set up, warm up, time, check.

Started by ``run.py`` with a pinned, private environment; do not run it
directly. Prints one context line and then the result line.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

import host  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

# metric names and units, as BENCHMARK.json declares them
with open(os.path.join(os.path.dirname(__file__), os.pardir, "BENCHMARK.json"), encoding="utf-8") as _f:
    SPEC = json.load(_f)
# corpus size per workload: big enough that every SPARQL kind, search page
# and listing has real work, small next to the driver memory
N_DOCS = {"metadata_read": 2000, "doc_index": 200}


def _du_mb(path: str) -> float:
    return workloads._du(path) / 2**20


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--trace-out", default="")
    args = ap.parse_args()

    ticks0 = host.cpu_ticks()
    load0 = host.loadavg()
    data_dir = os.environ["SPARK_GRAFT_SF_DIR"]
    cache_dir = os.environ["ARUNA_SPARK_CACHE"]
    wl = workloads.WORKLOADS[args.workload](args.seed, N_DOCS[args.workload])

    g0 = time.time()
    wl.make_inputs(data_dir)
    gen_s = time.time() - g0

    tracer = tracing.Tracer() if args.trace else tracing.NullTracer()
    wl.tracer = tracer
    if args.trace:
        tracer.install()

    from aruna_spark.session import get_spark

    spark = get_spark("perfbench", shuffle_partitions=int(os.environ["SPARK_GRAFT_CPUS"]))
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.time() - T_START - gen_s
    wl.setup(spark)
    setup_s = time.time() - T_START - gen_s

    # untimed warm-up with its own parameters (see README: the JVM curve)
    for op in wl.round("warm", 0):
        op.run()

    warm_end = time.time()

    # the timed phase: whole rounds until --seconds have passed
    ops: list[workloads.Op] = []
    lat: list[float] = []
    windows: dict[int, tuple[float, float]] = {}
    cpu0 = host.tree_cpu_s(os.getpid())
    t0 = time.time()
    k = 0
    while True:
        for op in wl.round("timed", k):
            oid = len(ops)
            tracer.op_id = oid
            a = time.time()
            try:
                with tracer.span("op"):
                    op.result = op.run()
            except Exception as e:  # noqa: BLE001 - a failing op is counted, not fatal
                op.error = f"{type(e).__name__}: {e}"
            b = time.time()
            tracer.op_id = None
            windows[oid] = (a, b)
            ops.append(op)
            if op.error is None:
                lat.append(b - a)
        k += 1
        if time.time() - t0 >= args.seconds:
            break
    wall = time.time() - t0
    cpu = host.tree_cpu_s(os.getpid()) - cpu0

    # checks, after timing
    failed: set[int] = set()
    bad_checks = 0
    for i, op in enumerate(ops):
        if op.error is not None:
            failed.add(i)
            print(f"op {op.kind} failed: {op.error}", file=sys.stderr)
            continue
        try:
            ok = op.check(op.result)
        except Exception as e:  # noqa: BLE001
            ok = False
            print(f"check {op.kind} raised {type(e).__name__}: {e}", file=sys.stderr)
        if not ok:
            failed.add(i)
            bad_checks += 1
            print(f"check {op.kind} failed", file=sys.stderr)
    final = getattr(wl, "final_check", None)
    if final is not None and ops and not final():
        # the index as a whole is wrong: charge it to the last op
        bad_checks += 1
        failed.add(len(ops) - 1)
        print("final index check failed", file=sys.stderr)

    checks_end = time.time()
    store_mb = _du_mb(cache_dir)
    n_ok = len(lat)
    result = {
        "setup_s": setup_s,
        "ops_per_s": n_ok / wall,
        "op_p50_s": statistics.median(lat) if lat else 0.0,
        "cpu_s_per_op": cpu / n_ok if n_ok else 0.0,
        "store_mb": store_mb,
    }
    context = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "timed_ops": len(ops),
        "latency_samples": n_ok,
        "rounds": k,
        "timed_wall_s": round(wall, 3),
        "session_s": round(session_s, 3),
        "warm_up_s": round(warm_end - T_START - setup_s - gen_s, 3),
        "checks_s": round(checks_end - t0 - wall, 3),
        "generate_s": round(gen_s, 3),
        "loadavg_start": load0,
        "loadavg_end": host.loadavg(),
        "steal_share": round(host.steal_share(ticks0, host.cpu_ticks()), 4),
    }
    if args.trace:
        time.sleep(0.5)  # let the listener bus post the last jobs
        spark_ops = tracer.spark_by_op(spark, windows)
        names = [m["name"] for m in SPEC["per_layer"]]
        op_meta = [{"id": i, "route": op.route, "operator": op.operator} for i, op in enumerate(ops) if op.error is None]
        metrics = tracing.per_layer(tracer, op_meta, spark_ops, names)
        builds = tracing.store_builds(tracer)
        for kind in ("triples", "bm25"):
            if f"store.{kind}_build_s" in metrics:
                metrics[f"store.{kind}_build_s"] = builds.get(kind, 0.0)
                metrics[f"store.{kind}_mb"] = _du_mb(os.path.join(cache_dir, kind))
        if "incremental.manifest_files" in metrics and hasattr(wl, "table"):
            metrics["incremental.manifest_files"] = float(len(wl.table.files()))
        if args.trace_out:
            tracer.dump(args.trace_out, {"context": context, "windows": windows})
    else:
        metrics = result
    key = "per_layer" if args.trace else "end_to_end"
    out_metrics = {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in SPEC[key]}
    s0 = time.time()
    spark.stop()
    context["stop_s"] = round(time.time() - s0, 3)
    print(json.dumps({"context": context}))
    print(
        json.dumps(
            {"correct": bad_checks == 0, "attempted": len(ops), "failed": len(failed), "metrics": out_metrics}
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
