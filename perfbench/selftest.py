"""Self-checks of the benchmark itself.

    python3 perfbench/selftest.py

1. Calibration of ``python_worker_s``: a ``mapInPandas`` whose batches
   each busy-wait a known time must read, from the event log, within
   CALIBRATION_TOLERANCE of the known total. A second case chains two
   such nodes in one stage and reports how the summed metric compares
   with the known busy time, which tells whether fused Python nodes
   are double counted.
2. Smoke: every workload at ``--size tiny``, untraced and traced; each
   run must exit 0 (run.py exits 3 when a metric of BENCHMARK.json is
   missing from its record) with every output correct.

Run it from the root of a checkout. Exits non-zero on any failure.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
CALIBRATION_TOLERANCE = 0.25
# One batch per partition and one partition per core, so each Python
# worker busy-waits BUSY_S without competing for a core.
PARTITIONS, BUSY_S = len(os.sched_getaffinity(0)), 1.0


def _busy(iterator):
    import time

    for batch in iterator:
        t = time.perf_counter()
        while time.perf_counter() - t < BUSY_S:
            pass
        yield batch


def calibrate() -> dict:
    sys.path[:0] = [HERE, ROOT]
    import eventlog
    from run import setup_env, stop_session

    work = f"{HERE}/_work/selftest-{os.getpid()}"
    try:
        conf = setup_env(work, trace=True)
        from matrix_multiplication_map_reduce_gcp_spark.session import get_spark

        spark = get_spark(app_name="perfbench-selftest", extra_conf=conf)
        sc = spark.sparkContext
        windows = []
        try:
            base = spark.range(0, PARTITIONS, 1, PARTITIONS)
            cases = {
                "warmup": base.mapInPandas(_busy, "id long"),
                "single": base.mapInPandas(_busy, "id long"),
                "chained": base.mapInPandas(_busy, "id long").mapInPandas(_busy, "id long"),
            }
            for tag, df in cases.items():
                sc.setJobDescription(tag)
                t0 = time.time()
                df.write.format("noop").mode("overwrite").save()
                windows.append({"tag": tag, "t0": t0, "t1": time.time()})
        finally:
            stop_session(spark)
        got = eventlog.attribute(eventlog.read(f"{work}/events"), windows)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    known = PARTITIONS * BUSY_S
    single = got["single"]["python_worker_s"] / known
    chained = got["chained"]["python_worker_s"] / (2 * known)
    return {
        "known_busy_s_per_node": known,
        "single_node_ratio": single,
        "single_node_ok": abs(single - 1) <= CALIBRATION_TOLERANCE,
        "chained_nodes_ratio": chained,
        "chained_task_run_s": got["chained"]["task_run_s"],
        "chained_python_worker_s": got["chained"]["python_worker_s"],
    }


def smoke() -> list[str]:
    with open(f"{ROOT}/BENCHMARK.json") as f:
        spec = json.load(f)
    problems = []
    for wl in (w["name"] for w in spec["workloads"]):
        for trace in (0, 1):
            before = len(problems)
            p = subprocess.run(
                [sys.executable, f"{HERE}/run.py", "--workload", wl, "--seed", "7",
                 "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
                capture_output=True, text=True, cwd=ROOT, timeout=600)
            lines = p.stdout.strip().splitlines()
            if p.returncode or not lines:
                problems.append(f"{wl} trace={trace}: exit {p.returncode}: {p.stderr[-800:]}")
                continue
            out = json.loads(lines[-1])
            if not out["correct"] or out["failed"]:
                problems.append(f"{wl} trace={trace}: outputs not correct ({out['failed']} failed)")
            print(f"smoke {wl} trace={trace}: ok={len(problems) == before}", flush=True)
    return problems


def main() -> int:
    cal = calibrate()
    print(json.dumps({"calibration": cal}), flush=True)
    problems = [] if cal["single_node_ok"] else ["python_worker_s calibration out of tolerance"]
    problems += smoke()
    for p in problems:
        print("FAIL:", p, file=sys.stderr)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
