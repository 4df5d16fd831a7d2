"""One-command benchmark of the KG engine.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run starts a `local[nproc]` Spark
session, generates the workload's inputs from the seed, runs the
workload's warm-up pass, then runs passes in a closed loop for
`--seconds` (and at least MIN_PASSES of them), checking every output.
Every engine timing is a `clock.Stopwatch` reading: wall time less the
share of CPU time the hypervisor withheld (see clock.py). All scratch
state lives in `.bench_tmp/` under the checkout and is removed at exit.

`--trace 0` prints the end-to-end metrics; `--trace 1` turns on Spark's
uncompressed event log, wraps each call into a layer in a span tagged
with a job group, and prints the per-layer metrics folded from the log.
The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
Lines before it give the workload's named results, the environment
and the sizes, for people.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from pathlib import Path

import clock

ROOT = Path(__file__).resolve().parent.parent
SHUFFLE_PARTITIONS = 8
INPUT_REPS = 3
# Pass times still fall for several passes after the warm-up (JIT), so a
# window that holds 2 passes on a slow run and 3 on a fast one reports
# different points of that curve; a floor on the count keeps them alike.
# The first warm passes are the ones that vary least between runs.
MIN_PASSES = 2


def _session(scratch: Path, trace: bool):
    from mel_tnnt_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": str(scratch / "warehouse"),
        "spark.local.dir": str(scratch / "local"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        (scratch / "eventlog").mkdir()
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{scratch / 'eventlog'}",
                # the default zstd codec is not installed
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark(
        "mel-tnnt-perfbench",
        master=f"local[{os.cpu_count()}]",
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def peak_rss_mb() -> float:
    """Sum of VmHWM over the processes this run started: the JVM and the
    Python workers it forked."""
    total_kb = 0
    for pid in clock.descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def environment(spark) -> dict:
    import pyarrow
    import pyspark

    java = [
        line
        for line in subprocess.run(["java", "-version"], capture_output=True, text=True).stderr.splitlines()
        if not line.startswith("Picked up")
    ]
    mem_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    conf = spark.sparkContext.getConf()
    return {
        "nproc": os.cpu_count(),
        "mem_gb": round(mem_kb / 2**20, 1),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "java": java[0] if java else "",
        "master": spark.sparkContext.master,
        "shuffle_partitions": SHUFFLE_PARTITIONS,
        "driver_memory": conf.get("spark.driver.memory"),
        "jvm_flags": conf.get("spark.driver.extraJavaOptions"),
    }


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and its Python workers, and wait
    until every process this run started has exited."""
    import signal

    from pyspark import SparkContext

    pids = clock.descendants(os.getpid())
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and not _is_zombie(pid):
            if time.monotonic() > deadline:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    break
            time.sleep(0.05)


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return False


def _reading(r: clock.Reading) -> dict:
    return {"s": r.seconds, "wall": r.wall, "cpu": r.cpu, "steal": r.steal}


def run_checked(wl, tracer, counts: dict, check_all: bool) -> clock.Reading | None:
    """One pass (one operation); None, counted as failed, when it raises
    or its output is wrong."""
    import workloads

    counts["attempted"] += 1
    try:
        return wl.run_pass(tracer, check_all=check_all)
    except workloads.GateFailure as e:
        print(f"gate failed: {e}", file=sys.stderr)
    except Exception:
        traceback.print_exc()
    counts["failed"] += 1
    return None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "mel_tnnt_spark").is_dir() or not (ROOT / "__spark_entry__.py").is_file():
        print(f"no engine source under {ROOT}: run from a checkout of the repository", file=sys.stderr)
        return 2
    # Pin the session: knobs from the caller's environment would change
    # what is measured. Executors import the engine from the checkout.
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, str(ROOT))
    tmp_root = ROOT / ".bench_tmp"
    tmp_root.mkdir(exist_ok=True)
    scratch = Path(tempfile.mkdtemp(prefix="run-", dir=tmp_root))
    local = scratch / "local"
    local.mkdir()
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={local}"
    tempfile.tempdir = None

    import workloads
    from spans import Tracer, event_log_file, fold_events, read_events

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    spark = None
    cls = workloads.WORKLOADS[args.workload]
    steal_run = clock.steal_s()
    try:
        # The expected outputs are the benchmark's checking cost: computed
        # before the session starts, so setup_s counts only engine work.
        t0 = time.perf_counter()
        pre = cls.precompute(args.seed, bool(args.trace))
        precompute_s = time.perf_counter() - t0
        sw = clock.Stopwatch()
        spark = _session(scratch, bool(args.trace))
        session = sw.stop()
        wl = cls(spark, str(scratch / "work"), args.seed)
        tracer = Tracer(spark.sparkContext if args.trace else None)
        counts = {"attempted": 0, "failed": 0}

        builds = []
        for _ in range(INPUT_REPS):
            sw = clock.Stopwatch()
            wl.build_inputs()
            builds.append(sw.stop())
        t0 = time.perf_counter()
        wl.prepare_gates(pre)
        gates_s = time.perf_counter() - t0
        # Warm-up: one pass, which checks every output in full and pays
        # JIT, codegen and Python worker start-up (about 2.5 times a warm
        # pass). Only its own seconds count, not its checks. More warm-up
        # does not steady the figures (README, Warm-up).
        warmup = run_checked(wl, Tracer(), counts, check_all=True)
        setup_s = session.seconds + statistics.median(r.seconds for r in builds)
        setup_s += warmup.seconds if warmup is not None else 0.0

        env = environment(spark)
        print("# env " + json.dumps(env, sort_keys=True))
        print("# sizes " + json.dumps(wl.sizes(), sort_keys=True))
        print(
            "# setup "
            + json.dumps(
                {"session": _reading(session), "inputs": [_reading(r) for r in builds],
                 "warmup": _reading(warmup) if warmup is not None else None,
                 "precompute_wall_s": precompute_s, "gate_prep_wall_s": gates_s,
                 "steal_s": clock.steal_s() - steal_run}
            )
        )

        if args.trace:
            counts["attempted"] += 1
            extra, walls = wl.trace_layers(tracer)
            stop_spark(spark)
            spark = None
            stats = fold_events(read_events(event_log_file(str(scratch / "eventlog"))))
            measured = wl.fold(tracer, stats, extra, walls)
            import metrics as mdefs

            out = {
                name: {"value": float(measured.get(name, 0.0)), "unit": unit}
                for name, unit, _b in mdefs.PER_LAYER
            }
        else:
            passes = []
            deadline = time.perf_counter() + args.seconds
            for n in itertools.count(1):
                reading = run_checked(wl, Tracer(), counts, check_all=False)
                if reading is not None:
                    passes.append(reading)
                if time.perf_counter() >= deadline and n >= MIN_PASSES:
                    break
            if not passes:
                print("every timed pass failed", file=sys.stderr)
                return 1
            rss = peak_rss_mb()
            wall_s = statistics.median(r.seconds for r in passes)
            for name, (value, unit) in wl.named_results(wall_s).items():
                print(f"# {name} {value} {unit}")
            print(f"# failed_share {counts['failed'] / counts['attempted']} ratio")
            print(f"# peak_rss_mb {rss} MB")
            print(f"# raw_wall_s {statistics.median(r.wall for r in passes)} s")
            print("# passes " + json.dumps([_reading(r) for r in passes]))
            print("# gate " + json.dumps(wl.report, sort_keys=True))
            out = {
                "setup_s": {"value": setup_s, "unit": "s"},
                "wall_s": {"value": wall_s, "unit": "s"},
            }
        result = {
            "correct": counts["failed"] == 0,
            "attempted": counts["attempted"],
            "failed": counts["failed"],
            "metrics": out,
        }
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(scratch, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
