"""Benchmark entry point.

    python3 perfbench/run.py --workload metadata_read --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --smoke

Each run starts ``worker.py`` in a fresh process with a pinned, private
environment: its own ``ARUNA_SPARK_CACHE`` store, ``SPARK_LOCAL_DIRS``,
temp dir and input directory under ``.perfbench/`` in the checkout, a
fixed core count, driver memory and ``PYTHONHASHSEED``. When the worker
ends, every process it started is stopped and waited for, and the
private directories are deleted. The last line of stdout is the result
JSON. ``--smoke`` runs one round of every workload, untraced and traced,
with all checks, and reports whether each passed (about five minutes).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import host

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CPUS = min(4, os.cpu_count() or 1)
DRIVER_MEM = "2g"
TIMEOUT_S = 170
with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as _f:
    SPEC = json.load(_f)
WORKLOADS = tuple(w["name"] for w in SPEC["workloads"])


def _stop_group(pgid: int) -> None:
    """Stop every process of the worker's session and wait for them."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.time() + 5
        while time.time() < deadline:
            if not host.group_alive(pgid):
                return
            time.sleep(0.1)


def run_once(workload: str, seed: int, seconds: float, trace: int, extra: list[str]) -> tuple[int, list[str]]:
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}-{workload}-{seed}")
    shutil.rmtree(work, ignore_errors=True)
    dirs = {k: os.path.join(work, k) for k in ("data", "store", "local", "tmp")}
    for d in dirs.values():
        os.makedirs(d)
    env = dict(os.environ)
    for k in ("SPARK_MASTER", "PYSPARK_SUBMIT_ARGS", "SPARK_CONF_DIR", "OMP_NUM_THREADS"):
        env.pop(k, None)
    env.update(
        ARUNA_SPARK_CACHE=dirs["store"],
        SPARK_LOCAL_DIRS=dirs["local"],
        SPARK_GRAFT_SF_DIR=dirs["data"],
        SPARK_GRAFT_CPUS=str(CPUS),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        PYTHONHASHSEED="0",
        TMPDIR=dirs["tmp"],
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={dirs['tmp']}",
        PYTHONPATH=ROOT,
        PYTHONDONTWRITEBYTECODE="1",
    )
    cmd = [
        sys.executable,
        os.path.join(HERE, "worker.py"),
        "--workload", workload,
        "--seed", str(seed),
        "--seconds", str(seconds),
        "--trace", str(trace),
        *extra,
    ]
    t_start = time.time()
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=TIMEOUT_S)
        code = proc.returncode
    except subprocess.TimeoutExpired:
        print(f"run exceeded {TIMEOUT_S}s", file=sys.stderr)
        out, code = "", 124
    finally:
        _stop_group(proc.pid)
        if proc.poll() is None:
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    lines = out.splitlines()
    if lines and lines[-1].startswith('{"correct"') and len(lines) > 1 and lines[-2].startswith('{"context"'):
        ctx = json.loads(lines[-2])
        ctx["context"]["process_wall_s"] = round(time.time() - t_start, 3)
        lines[-2] = json.dumps(ctx)
    return code, lines


def smoke() -> int:
    ok = True
    for wl in WORKLOADS:
        for trace in (0, 1):
            t = time.time()
            code, lines = run_once(wl, 1, 0, trace, [])
            res = json.loads(lines[-1]) if code == 0 and lines else {}
            good = bool(res) and res["correct"] and res["failed"] == 0
            ok &= good
            print(f"{'OK  ' if good else 'FAIL'} {wl} trace={trace} {time.time() - t:.0f}s {lines[-1] if lines else ''}")
    return 0 if ok else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=SPEC["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--trace-out", default="", help="write the traced run's spans to this JSON file")
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "aruna_spark")):
        print(f"no aruna_spark package under {ROOT}: nothing to benchmark", file=sys.stderr)
        return 2
    if args.smoke:
        return smoke()
    if args.workload is None:
        ap.error("--workload is required")
    extra = ["--trace-out", os.path.abspath(args.trace_out)] if args.trace_out else []
    code, lines = run_once(args.workload, args.seed, args.seconds, args.trace, extra)
    if code != 0 or not lines or not lines[-1].startswith('{"correct"'):
        print(f"run failed with exit code {code}", file=sys.stderr)
        return code or 1
    print("\n".join(lines))
    return 0


if __name__ == "__main__":
    sys.exit(main())
