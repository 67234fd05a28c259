"""Repository benchmark: one closed-loop client on ``local[nproc]``.

    python3 perfbench/run.py --workload matmul_ladder --seed 1 --seconds 8 --trace 0

Run it from the root of a checkout. One driver process starts the
package's tuned session, draws the workload's inputs from ``--seed``,
runs every job once untimed (the warm-up, whose outputs are checked
exactly against NumPy or the DuckDB oracle), then times whole rounds of
the workload's fixed job list. Each job is a call into a public
function of the package (its plan step) and a noop-sink action (its
exec step).

``--trace 0`` prints the end-to-end metrics of BENCHMARK.json.
``--trace 1`` runs the same jobs with Spark's event log on and prints
the per-layer metrics, attributed from the event log to the package
layer each job calls. Both write a full record (metadata, per-job
timings, spans) to ``perfbench/results/``; a traced run also reports its
overhead against the untraced record of the same workload.

All inputs, event logs, the warehouse and Spark's local dirs live in a
scratch directory under ``perfbench/_work`` that is removed at exit.
The last line of stdout is the JSON result.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass

import eventlog

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
PACKAGE = "matrix_multiplication_map_reduce_gcp_spark"

# Every end-to-end metric the record carries. BENCHMARK.json gates the
# ones that stay steady between runs; job_p50_s and job_tail_s are order
# statistics of a short, fixed job list and swing with host steal, and
# error_rate is 0 at every workload, so they are reported only.
E2E_UNITS = {"setup_s": "s", "wall_s": "s", "job_p50_s": "s", "job_tail_s": "s",
             "cpu_s": "s", "peak_rss_mb": "MB", "error_rate": "ratio"}

# Measured warm round time (s) of each workload on a 4-vCPU VM (medians
# of ten-seed sets). The number of timed rounds is round(--seconds /
# this), fixed per workload and seconds, so every run times the same
# job list: at --seconds 8, three rounds of matmul_large, one of the rest.
ROUND_S = {"matmul_ladder": 8.0, "matmul_large": 3.0, "query_mix": 7.5, "codec_ladder": 7.0}


def process_start_epoch() -> float:
    """Wall-clock start of this process, from /proc."""
    with open("/proc/self/stat") as f:
        raw = f.read()
    start_ticks = int(raw[raw.rindex(")") + 2:].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(ln.split()[1]) for ln in f if ln.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def driver_mem() -> str:
    """A sixth of RAM, from 1 to 4 GB: the session's 48g default does
    not fit a small box."""
    with open("/proc/meminfo") as f:
        kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal"))
    return f"{max(1, min(4, kb // 2**20 // 6))}g"


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it; with ten samples or fewer, the maximum."""
    v = sorted(values)
    rank = len(v) - 10
    if rank < 1:
        return v[-1], 100.0
    return v[rank - 1], 100.0 * rank / len(v)


class Spans:
    """Benchmark-side spans, kept in memory and written at the end."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.items: list[dict] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None) -> int:
        self.items.append({"id": len(self.items), "name": name, "start": start,
                           "end": end, "parent": parent, "run_id": self.run_id})
        return len(self.items) - 1

    def with_self_time(self) -> list[dict]:
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.items:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        return [{**s, "self_s": (s["end"] - s["start"])
                 - eventlog.covered(kids.get(s["id"], []), s["start"], s["end"])}
                for s in self.items]


@dataclass
class Ctx:
    spark: object
    queries: dict
    seed: int
    size: dict
    input_dir: str
    tmp_dir: str


def setup_env(work: str, trace: bool) -> dict[str, str]:
    """Pin cores and memory, and point every scratch path into ``work``.
    Returns the Spark confs to add to the session."""
    for d in ("tmp", "local", "jtmp", "events", "inputs"):
        os.makedirs(f"{work}/{d}", exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = driver_mem()
    os.environ["TMPDIR"] = f"{work}/tmp"
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/local"
    # Keep both JVMs (spark-submit's launcher and the driver) from
    # writing their perf-data files to the system temp dir.
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    conf = {
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/jtmp -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update(eventlog.EVENT_LOG_CONF)
        conf["spark.eventLog.dir"] = f"file://{work}/events"
    return conf


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it
    forked) to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def code_id() -> str:
    """Hash of the package's and the benchmark's Python sources, so that
    records of the same code match with or without git."""
    h = hashlib.sha256()
    for path in sorted(glob.glob(f"{ROOT}/{PACKAGE}/**/*.py", recursive=True)
                       + glob.glob(f"{HERE}/*.py")):
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def versions(spark) -> dict:
    import pyarrow

    commit = ""
    if os.path.isdir(f"{ROOT}/.git"):
        try:
            commit = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True,
                                    text=True, timeout=10, cwd=ROOT).stdout.strip()
        except OSError:  # no git binary
            pass
    return {
        "spark": spark.version,
        "jdk": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        "pyarrow": pyarrow.__version__,
        "commit": commit or "unknown (checkout is not a git repository)",
        "code_id": code_id(),
    }


def warm_up(sc, workload, args, spans: Spans, parent: int) -> tuple[dict[str, str], float]:
    """Run every job once, untimed, and check its collected output.
    Returns the mismatches by job and the seconds spent comparing."""
    mismatches: dict[str, str] = {}
    compare_s = 0.0
    for job in workload.round_order(args.seed, 0):
        sc.setJobDescription(f"{args.workload}/{job.layer}/{job.name}/warmup")
        t0 = time.time()
        try:
            got = job.collect(job.plan())
            c0 = time.perf_counter()
            reason = job.compare(got)
            compare_s += time.perf_counter() - c0
        except Exception:  # a failing job is a result, not a crash
            traceback.print_exc(file=sys.stderr)
            reason = "raised: " + traceback.format_exc().strip().splitlines()[-1]
        spans.add(f"warmup/{job.name}", t0, time.time(), parent)
        if reason:
            mismatches[job.name] = reason
    return mismatches, compare_s


def time_rounds(sc, workload, args, n_rounds: int, spans: Spans, parent: int):
    """The timed region: ``n_rounds`` rounds of the job list, each job a
    plan call and a noop-sink action. Returns the job records and the
    wall time of each round."""
    records, round_walls = [], []
    for rnd in range(1, n_rounds + 1):
        r0 = time.perf_counter()
        rspan = spans.add(f"round/{rnd}", time.time(), 0.0, parent)
        for job in workload.round_order(args.seed, rnd):
            tag = f"{args.workload}/{job.layer}/{job.name}/{rnd}"
            sc.setJobDescription(tag)
            w0, p0 = time.time(), time.perf_counter()
            ok, p1 = True, None
            try:
                df = job.plan()
                p1 = time.perf_counter()
                noop(df)
            except Exception:
                traceback.print_exc(file=sys.stderr)
                ok = False
            p2, w1 = time.perf_counter(), time.time()
            p1 = p2 if p1 is None else p1
            jspan = spans.add(f"job/{job.name}/{rnd}", w0, w1, rspan)
            spans.add("plan", w0, w0 + (p1 - p0), jspan)
            spans.add("exec", w0 + (p1 - p0), w1, jspan)
            records.append({
                "tag": tag, "job": job.name, "layer": job.layer, "round": rnd,
                "t0": w0, "t1": w1, "plan_s": p1 - p0, "exec_s": p2 - p1,
                "latency_s": p2 - p0, "input_bytes": job.input_bytes, "ok": ok,
            })
        round_walls.append(time.perf_counter() - r0)
        spans.items[rspan]["end"] = time.time()
    sc.setJobDescription(None)
    return records, round_walls


def run(args, work: str, t_proc: float) -> dict:
    from proctree import TreeSampler
    from workloads import SIZES, WORKLOADS

    conf = setup_env(work, args.trace)
    spans = Spans(f"{args.workload}-{args.seed}-{os.getpid()}")
    root = spans.add("run", t_proc, t_proc)
    t = time.time()
    from matrix_multiplication_map_reduce_gcp_spark import registry
    from matrix_multiplication_map_reduce_gcp_spark.session import get_spark

    t_spark0 = time.time()
    spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)
    t_spark1 = time.time()
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    workload = None
    try:
        queries = registry.load_all()
        t_reg = time.time()
        spans.add("import", t, t_spark0, root)
        spans.add("session.get_spark", t_spark0, t_spark1, root)
        spans.add("registry.load_all", t_spark1, t_reg, root)
        ctx = Ctx(spark, queries, args.seed, SIZES[args.size], f"{work}/inputs", f"{work}/tmp")
        workload = WORKLOADS[args.workload](ctx)
        t_inputs = time.time()
        spans.add("inputs", t_reg, t_inputs, root)

        warm = spans.add("warmup", t_inputs, t_inputs, root)
        mismatches, compare_s = warm_up(sc, workload, args, spans, warm)
        # The checks are done: free the DuckDB oracle so its memory does
        # not count toward the timed region's peak RSS.
        workload.close_oracle()
        spans.items[warm]["end"] = time.time()

        n_rounds = max(1, round(args.seconds / ROUND_S[args.workload]))
        sampler = TreeSampler()
        t_timed0 = time.time()
        sampler.start()
        timed = spans.add("timed", t_timed0, t_timed0, root)
        records, round_walls = time_rounds(sc, workload, args, n_rounds, spans, timed)
        usage = sampler.stop()
        spans.items[timed]["end"] = time.time()
        meta = {
            "seed": args.seed,
            "nproc": len(os.sched_getaffinity(0)),
            "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "SPARK_GRAFT_DRIVER_MEM": os.environ["SPARK_GRAFT_DRIVER_MEM"],
            **versions(spark),
        }
    finally:
        stop_session(spark)
        if workload is not None:
            workload.close_oracle()
            workload.remove_stream_staging()

    for r in records:
        r["ok"] = r["ok"] and r["job"] not in mismatches
    latencies = [r["latency_s"] for r in records]
    tail_v, tail_p = tail(latencies)
    e2e = {
        # The output comparison runs inside the warm-up but is not set-up.
        "setup_s": t_timed0 - t_proc - compare_s,
        "wall_s": statistics.median(round_walls),
        "job_p50_s": statistics.median(latencies),
        "job_tail_s": tail_v,
        "cpu_s": usage["cpu_s"] / n_rounds,
        "peak_rss_mb": usage["peak_rss_mb"],
        "error_rate": sum(not r["ok"] for r in records) / len(records),
    }
    record = {
        "workload": args.workload, "trace": args.trace, "size": args.size, **meta,
        "inputs": workload.notes,
        "closed_loop": "one client; one driver process runs its jobs one after "
                       f"another on local[{meta['nproc']}]",
        "rounds": n_rounds, "round_walls_s": round_walls,
        "job_tail_percentile": tail_p, "jobs_timed": len(records),
        "check_mismatches": mismatches, "host_steal_frac": usage["steal_frac"],
        "end_to_end": e2e, "jobs": records,
    }
    if args.trace:
        record["per_layer"] = per_layer(f"{work}/events", records, n_rounds, spans,
                                        t_spark1 - t_spark0, t_reg - t_spark1,
                                        usage["steal_frac"])
        record["tracing_overhead"] = tracing_overhead(args, e2e["wall_s"], meta["code_id"])
    spans.items[root]["end"] = time.time()
    record["spans"] = spans.with_self_time()
    return record


def per_layer(event_dir, records, n_rounds, spans, spark_s, registry_s, steal):
    """Layer totals per round, from the event log; also attaches each
    job's Spark counters to its record and its Spark jobs to the spans."""
    from workloads import LAYERS

    attributed = eventlog.attribute(eventlog.read(event_dir), records)
    jspans = {s["name"]: s["id"] for s in spans.items if s["name"].startswith("job/")}
    out = {"session.get_spark_s": spark_s, "registry.load_all_s": registry_s}
    sums = {L: dict.fromkeys(("plan_s", "exec_s", "driver_s", *eventlog.COUNTERS), 0.0)
            for L in LAYERS}
    input_bytes = 0
    for r in records:
        a = attributed[r["tag"]]
        r["spark"] = {k: a[k] for k in ("driver_s", *eventlog.COUNTERS)}
        s = sums[r["layer"]]
        s["plan_s"] += r["plan_s"]
        s["exec_s"] += r["exec_s"]
        s["driver_s"] += a["driver_s"]
        for k in eventlog.COUNTERS:
            s[k] += a[k]
        if r["layer"] == "matrix":
            input_bytes += r["input_bytes"]
        parent = jspans[f"job/{r['job']}/{r['round']}"]
        for job_id, s0, s1 in a["spark_jobs"]:
            spans.add(f"spark_job/{job_id}", s0, s1, parent)
    for L, s in sums.items():
        for k, v in s.items():
            out[f"{L}.{k}"] = v / n_rounds
    out["matrix.shuffle_per_input_byte"] = (
        sums["matrix"]["shuffle_write_bytes"] / input_bytes if input_bytes else 0.0)
    out["host.steal_frac"] = steal
    return out


def tracing_overhead(args, traced_wall: float, code: str) -> dict:
    """Traced wall_s minus the untraced wall_s of the newest untraced
    record of this workload and size run on the same code (same seed
    preferred)."""
    same_code = []
    for path in glob.glob(f"{HERE}/results/{args.workload}-seed*-trace0*.json"):
        with open(path) as f:
            rec = json.load(f)
        if rec.get("code_id") == code and rec["size"] == args.size:
            same_code.append((rec["seed"] == args.seed, os.path.getmtime(path), rec))
    if not same_code:
        return {"note": "no untraced record of this workload on the same code"}
    base = max(same_code, key=lambda c: c[:2])[2]
    untraced = base["end_to_end"]["wall_s"]
    return {"traced_wall_s": traced_wall, "untraced_wall_s": untraced,
            "overhead_s": traced_wall - untraced, "untraced_seed": base["seed"],
            "untraced_commit": base["commit"], "code_id": code}


def spec_metrics(section: str) -> list[dict]:
    with open(f"{ROOT}/BENCHMARK.json") as f:
        return json.load(f)[section]


def main() -> int:
    t_proc = process_start_epoch()
    sys.path.insert(0, HERE)
    from workloads import SIZES, WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full")
    args = ap.parse_args()
    if not os.path.isdir(f"{ROOT}/{PACKAGE}"):
        print(f"run from the root of a checkout: no {PACKAGE}/ in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.append(f"{ROOT}/scripts")  # oracle_sweep's value hash

    work = f"{HERE}/_work/{args.workload}-{os.getpid()}"
    try:
        record = run(args, work, t_proc)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    os.makedirs(f"{HERE}/results", exist_ok=True)
    suffix = "" if args.size == "full" else f"-{args.size}"
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}{suffix}.json"
    with open(f"{HERE}/results/{name}", "w") as f:
        json.dump(record, f, indent=1)

    wanted = spec_metrics("per_layer" if args.trace else "end_to_end")
    values = record["per_layer"] if args.trace else record["end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        print(f"metrics missing from the record: {missing}", file=sys.stderr)
        return 3
    print(json.dumps({k: record[k] for k in (
        "workload", "seed", "nproc", "SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM",
        "spark", "jdk", "pyarrow", "commit", "rounds", "jobs_timed",
        "job_tail_percentile", "check_mismatches", "host_steal_frac")}
        | {"end_to_end": {k: {"value": v, "unit": E2E_UNITS[k]}
                          for k, v in record["end_to_end"].items()},
           "tracing_overhead": record.get("tracing_overhead")}))
    failed = sum(not r["ok"] for r in record["jobs"])
    print(json.dumps({
        "correct": not record["check_mismatches"] and failed == 0,
        "attempted": len(record["jobs"]),
        "failed": failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
