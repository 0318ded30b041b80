"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload index_lifecycle --seed 1 --seconds 3 --trace 0

With `--trace 0` the result holds every end-to-end metric of
BENCHMARK.json; with `--trace 1` the session also writes a Spark event log,
every call gets a span and a job group of its own, and the result holds
every per-layer metric. The line before the result describes the inputs
(corpus hash, documents, MB, distinct words, postings) and sample counts.

The run works in `.perfbench_work/` at the repository root and deletes
what it wrote there, except the spans and the input description, which
it keeps under `.perfbench_work/runs/`.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "map_reduce_indexing_spark"
WORK = os.path.join(ROOT, ".perfbench_work")
# Below the RAM of a small box; the package's own default is 24g.
DRIVER_MEMORY = "3g"


def cpu_times() -> list[int]:
    """The machine's cumulative CPU times (user ... steal), from /proc/stat."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def descendants(pid: int) -> list[int]:
    """Every live process below `pid`, from /proc."""
    parent = {}
    for p in os.listdir("/proc"):
        if p.isdigit():
            try:
                with open(f"/proc/{p}/stat") as fh:
                    parent[int(p)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    out, frontier = [], [pid]
    while frontier:
        kids = [c for c, pp in parent.items() if pp in frontier]
        out.extend(kids)
        frontier = kids
    return out


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for the JVM
    and its Python workers to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is None or proc is None:
        return
    kids = descendants(proc.pid)
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except Exception:  # noqa: BLE001 — any failure to exit ends in a kill
        proc.kill()
        proc.wait()
    deadline = time.time() + 20
    while kids and time.time() < deadline:
        kids = [k for k in kids if os.path.exists(f"/proc/{k}")]
        time.sleep(0.1)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)) or not os.path.isfile(spec_path):
        print(f"perfbench: no {PACKAGE}/ package or BENCHMARK.json under {ROOT}", file=sys.stderr)
        return 2
    with open(spec_path) as fh:
        spec = json.load(fh)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    cpu_start = cpu_times()
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(WORK, f"{name}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "eventlog"))
    # Python workers import the package too; Spark writes spark-warehouse/
    # into the working directory.
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # One core stays free for this client, the JVM's compiler and GC
    # threads and the OS: with every core running tasks, a straggler on a
    # core the host steals time from holds up each stage, and warm build
    # times swung by a third between runs.
    os.environ["SPARK_GRAFT_CPUS"] = str(max(1, len(os.sched_getaffinity(0)) - 1))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_INDEX_DIR"] = os.path.join(work, "artifacts")
    os.environ.pop("MRI_STORE_IO", None)  # the default posix commit backend
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    os.chdir(work)
    sys.path.insert(1, ROOT)

    from map_reduce_indexing_spark.session import get_spark
    from tracing import event_log_conf
    from workloads import WORKLOADS, Run

    spark = run = None
    try:
        conf = event_log_conf(os.path.join(work, "eventlog")) if args.trace else {}
        spark = get_spark(app_name=f"perfbench-{args.workload}", driver_memory=DRIVER_MEMORY, extra_conf=conf)
        run = Run(
            spark, args.seed, args.seconds, bool(args.trace), work, T_START,
            time.perf_counter(), log_dir=os.path.join(work, "eventlog"),
        )
        WORKLOADS[args.workload](run)
    except Exception:  # noqa: BLE001 — a failed run prints no result
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            stop_spark(spark)
        os.chdir(ROOT)
        keep = os.path.join(WORK, "runs")
        os.makedirs(keep, exist_ok=True)
        if run is not None and run.tracer.spans:
            run.tracer.write(os.path.join(keep, f"{name}.spans.jsonl"))
        shutil.rmtree(work, ignore_errors=True)

    # CPU time the host took from this machine during the run: runs with a
    # few percent of steal read markedly slower.
    spent = [b - a for a, b in zip(cpu_start, cpu_times())]
    info = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "cpu_steal_pct": round(100 * spent[7] / max(1, sum(spent)), 2), **run.info,
    }
    with open(os.path.join(keep, f"{name}.json"), "w") as fh:
        json.dump(info, fh)
    metrics = {}
    for m in wanted:
        if m["name"] in run.metrics:
            value = run.metrics[m["name"]]
        elif args.trace:
            value = 0.0  # a per-layer metric of another workload
        else:
            print(f"perfbench: {args.workload} did not measure {m['name']}", file=sys.stderr)
            return 1
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
    print(json.dumps(info))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
