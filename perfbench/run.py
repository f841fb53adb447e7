"""The repository benchmark: one workload per run, one local[4] session.

    python3 perfbench/run.py --workload near_dup_groups --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --workload all --seconds 12     # every workload, both modes
    python3 perfbench/run.py --workload all --smoke          # toy sizes, one request each

A run generates the workload's inputs from ``--seed`` (numpy + pyarrow,
outside the program), starts one ``local[4]`` session, sends a
single-client closed loop of requests through the program's public entry
points (a few untimed warm-up requests that belong to the set-up, then
timed ones for ``--seconds`` seconds) and checks every request's output
against expectations computed outside Spark. The last stdout line is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics (tracing off). ``--trace 1``
reports the per-layer metrics: requests alternate between traced and
untraced, the gap between the two medians is ``trace.overhead_share``,
and spans plus per-stage rows are written to ``.perfbench_out/``.

All scratch state lives under ``.perfbench_work/`` in the working
directory's checkout and is removed at exit.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORES = 4
JVM_HEAP = "2g"
# untimed requests that end the set-up: request 0 runs on a cold JVM, and
# requests 1 and 2 still share the CPUs with the JIT compiler, which makes
# them 20-50% slower and far less steady than later ones
WARMUP = 3

END_TO_END_UNITS = {"setup_s": "s", "request_p50_s": "s", "peak_rss_mb": "MiB"}


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("bytes"):
        return "bytes"
    if name.endswith(("_share", "_amplification")):
        return "ratio"
    return "count"


def start_session(work: str, trace: bool):
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    b = (
        SparkSession.builder.master(f"local[{CORES}]")
        .appName("perfbench")
        .config("spark.driver.memory", JVM_HEAP)
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        # a fixed heap (initial = maximum) keeps the JVM's resident peak steady
        .config("spark.driver.extraJavaOptions", f"-Xms{JVM_HEAP} -Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    )
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", "file://" + os.path.join(work, "eventlog"))
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def peak_rss_mb(spark) -> float:
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    return _vm_hwm_mb(os.getpid()) + _vm_hwm_mb(jvm_pid)


def run(args, work: str) -> dict:
    from perfbench.trace import Tracer, read_event_log, request_metrics
    from perfbench.workloads import WORKLOADS

    wl = WORKLOADS[args.workload](work, args.seed, args.smoke)
    g0 = time.perf_counter()
    wl.generate()
    gen_s = time.perf_counter() - g0
    spark = wl.spark = start_session(work, args.trace)
    tracer = Tracer(spark) if args.trace else None
    attempted = failed = 0
    warmup = 1 if args.smoke else WARMUP
    walls: dict[bool, list[float]] = {False: [], True: []}

    def one(i: int, traced: bool) -> None:
        nonlocal attempted, failed
        attempted += 1
        wl.before(i)
        t = time.perf_counter()
        try:
            if traced:
                with tracer.request(i, wl.root_span):
                    out = wl.request(i)
            else:
                out = wl.request(i)
            dt = time.perf_counter() - t
            err = wl.check(i, out)
        except Exception as e:  # a request that raised is a failed request
            dt, err = time.perf_counter() - t, f"raised {e!r}"
        if traced:
            tracer.notes.setdefault(i, {}).update(wl.notes())
        if err:
            failed += 1
            print(f"FAILED {wl.name} request {i} (seed {args.seed}): {err}", file=sys.stderr)
        if i >= warmup:
            walls[traced].append(dt)

    try:
        if tracer:
            tracer.install()
        for i in range(warmup):
            one(i, False)
        setup_s = time.perf_counter() - T0 - gen_s
        t_end = time.perf_counter() + args.seconds
        i = warmup
        while True:
            one(i, bool(tracer) and (i - warmup) % 2 == 0)
            i += 1
            done = time.perf_counter() >= t_end or args.smoke
            if done and (not tracer or (walls[True] and (walls[False] or args.smoke))):
                break
        err = wl.finish()
        if err:
            failed += 1
            print(f"FAILED {wl.name} end-of-run check (seed {args.seed}): {err}", file=sys.stderr)
        rss = peak_rss_mb(spark)
    finally:
        if tracer:
            tracer.uninstall()
        jvm = spark.sparkContext._gateway.proc
        spark.stop()
        wl.close()
        # the JVM exits when its stdin closes; wait so no process outlives the run
        jvm.stdin.close()
        jvm.wait(timeout=60)

    if not tracer:
        samples = walls[False]
        metrics = {
            "setup_s": setup_s,
            "request_p50_s": statistics.median(samples),
            "peak_rss_mb": rss,
        }
        units = END_TO_END_UNITS
    else:
        samples = walls[True]
        jobs, stages = read_event_log(os.path.join(work, "eventlog"))
        per_request, stage_rows = [], []
        for r in sorted({s.request for s in tracer.spans}):
            spans = [s for s in tracer.spans if s.request == r]
            m, rows = request_metrics(spans, jobs, stages, CORES, wl.table_rows, tracer.notes.get(r, {}))
            per_request.append(m)
            stage_rows += rows
        metrics = {k: statistics.median(m[k] for m in per_request) for k in per_request[0] if k != "request_s"}
        untraced = walls[False] or samples
        metrics["trace.overhead_share"] = statistics.median(samples) / statistics.median(untraced) - 1
        units = {k: _unit(k) for k in metrics}
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, f"trace-{wl.name}-seed{args.seed}.json"), "w") as fh:
            json.dump(
                {
                    "workload": wl.name,
                    "seed": args.seed,
                    "untraced_request_s": walls[False],
                    "requests": per_request,
                    "spans": [dict(vars(s), layer=s.layer) for s in tracer.spans],
                    "jobs": [dict(v, job=j) for j, v in sorted(jobs.items()) if v["span"] is not None],
                    "stages": stage_rows,
                },
                fh,
                indent=1,
            )
    print(f"# {wl.name} request walls (s): {' '.join(f'{w:.3f}' for w in samples)}")
    for k, v in metrics.items():
        print(f"# {wl.name} {k} = {v:.6g} {units[k]} (n={len(samples)})")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


def run_all(args) -> int:
    """Every workload in its own process, both modes; prints one table. With
    --smoke, asserts every metric named in BENCHMARK.json is emitted."""
    from perfbench.workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    ok = True
    results = {}
    for name in WORKLOADS:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed", str(args.seed),
                   "--seconds", str(args.seconds), "--trace", str(trace)] + (["--smoke"] if args.smoke else [])
            proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                print(f"{name} trace={trace}: exit {proc.returncode}")
                ok = False
                continue
            print("\n".join(lines[:-1]))
            res = json.loads(lines[-1])
            results[f"{name}/trace{trace}"] = res
            missing = {m["name"] for m in spec[key]} - set(res["metrics"])
            if missing or not res["correct"]:
                print(f"{name} trace={trace}: correct={res['correct']} missing={sorted(missing)}")
                ok = False
    print(json.dumps(results))
    return 0 if ok else 1


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true", help="toy sizes, one timed request")
    args = p.parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import schema_enforcer_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        p.error(f"unknown workload {args.workload!r}; known: {', '.join(WORKLOADS)}, all")
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # every scratch file of Python, the JVM and Spark stays inside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
