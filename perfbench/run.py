"""Benchmark entry point.

    python3 perfbench/run.py --workload etl_batch --seed 1 --seconds 10 --trace 0

Generates the workload's inputs from the seed under ``.perfbench_work/``
in the checkout, sets up three times (session start, warm-up, workload
state; the median is ``setup_s``), runs one client in a closed loop for
``--seconds``, checks every output with the oracle, and prints an info
line (machine stamp, the per-workload metric names) and then the result
line, always the last line of stdout. ``--trace 1`` runs the traced
variant instead and reports the per-layer metrics; its spans are kept in
``.perfbench_work/traces/``.

Exit status: 0 when every output checked correct; 1 when an operation
failed or an output was wrong; 2 when the engine package next to this
directory cannot be imported (nothing is printed on stdout then).
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shlex
import shutil
import subprocess
import sys
import time
import traceback
from time import perf_counter

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 3

from metrics import (  # noqa: E402 - HERE is on sys.path as the script dir
    PER_LAYER,
    WORKLOADS,
    median,
    mix_median,
    result_line,
)


def _configure(work: str) -> dict:
    """Runner settings sized for this machine; must run before pyspark
    starts a JVM. Everything the run writes stays under ``work``."""
    nproc = len(os.sched_getaffinity(0))
    mem_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    # far below physical memory: the machine is shared and the inputs are
    # small; a fixed heap also keeps peak RSS comparable between runs
    driver_mem = f"{min(1024, mem_mb // 4)}m"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # the heap starts at its cap, so early operations do not pay for heap
    # growth and peak RSS does not depend on when the collector grew it
    java_opts = f"-Xms{driver_mem} -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.update(
        {
            "TZ": "UTC",
            "SPARK_GRAFT_CPUS": str(nproc),
            "SPARK_GRAFT_DRIVER_MEM": driver_mem,
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "TMPDIR": tmp,
            "PYSPARK_SUBMIT_ARGS": " ".join(
                [
                    "--conf spark.ui.enabled=false",
                    "--conf spark.ui.showConsoleProgress=false",
                    "--conf",
                    shlex.quote(
                        "spark.sql.warehouse.dir=" + os.path.join(work, "warehouse")
                    ),
                    "--driver-java-options",
                    shlex.quote(java_opts),
                    "pyspark-shell",
                ]
            ),
        }
    )
    time.tzset()
    return {
        "nproc": nproc,
        "loadavg": list(os.getloadavg()),
        "driver_mem": driver_mem,
        "python": sys.version.split()[0],
    }


def _cpu_ticks() -> list[int]:
    """The machine's CPU time counters (user ... steal) from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def _cpu_shares(before: list[int], after: list[int]) -> dict:
    """Busy and steal shares of the machine between two _cpu_ticks()."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d) or 1
    return {"busy": (total - d[3] - d[4] - d[7]) / total, "steal": d[7] / total}


def _cpu_given(before: list[int], after: list[int]) -> float:
    """Share of the CPU time the machine wanted between two _cpu_ticks()
    that the hypervisor gave it: busy / (busy + steal); 1.0 where
    nothing is stolen.

    End-to-end timings are multiplied by it, per operation (with its
    reads) and per set-up. On a shared virtual machine the host takes CPU
    in episodes that last minutes: on a 4-vCPU guest, two stream_upsert
    runs that lost 31-36% of the CPU they wanted ran their upserts 1.6x
    slower than eight runs that lost 1-8%; scaled by this share they
    read 1.11-1.16x the others' median. It leaves part of the slowdown:
    steal delays the driver's critical path by more than its share, and
    contention that is not steal (shared caches, memory) does not show.
    With nothing stolen the factor is 1 and the timings are as measured."""
    shares = _cpu_shares(before, after)
    wanted = shares["busy"] + shares["steal"]
    return shares["busy"] / wanted if wanted > 0 else 1.0


def _peak_rss_mb(jvm_pid: int | None) -> float:
    """Driver JVM high-water mark plus this process's."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    if jvm_pid is not None:
        with open(f"/proc/{jvm_pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024


def _jvm_process(eng) -> subprocess.Popen | None:
    return getattr(eng.spark.sparkContext._gateway, "proc", None)


def _shutdown(eng) -> None:
    """Stop the session, then the JVM it ran in, and wait for it."""
    from pyspark import SparkContext

    gateway = eng.spark.sparkContext._gateway
    proc = _jvm_process(eng)
    eng.spark.stop()
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at end of stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _run(args, work: str, run_id: str, stamp: dict) -> int:
    from openaq_data_pipeline_engineering_spark.engine import Engine

    from spans import StageTotals, Tracer
    from workloads import WORKLOADS as IMPLS

    phases = {}
    t_phase = perf_counter()
    wl = IMPLS[args.workload](args.seed, work)
    wl.generate()
    phases["generate_s"] = perf_counter() - t_phase
    tr = Tracer(run_id) if args.trace else None
    layer: dict | None = {} if args.trace else None
    setups, sessions = [], []
    eng = None
    try:
        for k in range(SETUPS):
            if eng is not None:
                eng.spark.stop()
            ticks = _cpu_ticks()
            t0 = perf_counter()
            eng = Engine()
            t1 = perf_counter()
            eng.spark.sparkContext.setLogLevel("ERROR")
            wl.setup(eng, k, layer)
            setups.append((perf_counter() - t0) * _cpu_given(ticks, _cpu_ticks()))
            sessions.append(t1 - t0)
        stamp.update(
            spark=eng.spark.version,
            java=eng.spark._jvm.System.getProperty("java.version"),
            master=eng.spark.sparkContext.master,
        )
        ops: list[float] = []
        reads: list[float] = []
        given: list[float] = []  # _cpu_given over each operation and its reads
        failed = 0
        if tr is not None:
            stages = StageTotals(eng.spark)
            overhead, attempted = wl.trace(tr, args.seconds, layer)
            layer.update(stages.totals())
        else:
            for i in range(wl.PRE_OPS):
                wl.op(i)
            loop_ticks = _cpu_ticks()
            t_end = perf_counter() + args.seconds
            while not ops or perf_counter() < t_end:
                ticks = _cpu_ticks()
                try:
                    op_ms, read_ms = wl.op(wl.PRE_OPS + len(ops))
                except Exception:  # noqa: BLE001 - counted, reported, run fails
                    traceback.print_exc()
                    failed = 1
                    break
                given.append(_cpu_given(ticks, _cpu_ticks()))
                ops.append(op_ms)
                reads.extend(read_ms)
            attempted = len(ops) + failed
            stamp["loop_cpu"] = _cpu_shares(loop_ticks, _cpu_ticks())
        t_phase = perf_counter()
        failed += wl.check()
        phases["check_s"] = perf_counter() - t_phase
        ratio = wl.stored_bytes_ratio()
        proc = _jvm_process(eng)
        rss = _peak_rss_mb(proc.pid if proc is not None else None)
    finally:
        t_phase = perf_counter()
        if eng is not None:
            _shutdown(eng)
        phases["shutdown_s"] = perf_counter() - t_phase

    info = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "stamp": stamp,
        "setups_s": setups,
        "sessions_s": sessions,
        "phases": phases,
        "error_rate": failed / attempted if attempted else 1.0,
        "failures": wl.failures[:5],
    }
    if tr is not None:
        values = {k: 0.0 for k in PER_LAYER}
        values["engine.session_s"] = median(sessions)
        for k, v in layer.items():
            name = k[1:] if k.startswith("_") else k
            if name not in PER_LAYER:
                raise KeyError(f"unregistered per-layer metric {name}")
            values[name] = median(v) if k.startswith("_") else v
        values["trace.overhead_frac"] = overhead
        trace_path = os.path.join(ROOT, ".perfbench_work", "traces", f"{run_id}.jsonl")
        tr.write(trace_path)
        info["spans"] = os.path.relpath(trace_path, ROOT)
    else:
        if not ops:
            return 1
        values = {
            "setup_s": median(setups),
            "op_p50_ms": median([ms * g for ms, g in zip(ops, given)]),
            "read_p50_ms": mix_median(
                [ms * given[i // wl.READ_CLASSES] for i, ms in enumerate(reads)],
                wl.READ_CLASSES,
            ),
            "stored_bytes_ratio": ratio,
            "peak_rss_mb": rss,
        }
        info.update(
            ops=len(ops),
            reads=len(reads),
            # as measured, before scaling by cpu_given
            ops_ms=[round(x, 1) for x in ops],
            reads_ms=[round(x, 1) for x in reads],
            cpu_given=[round(x, 3) for x in given],
            wall_op_p50_ms=median(ops),
            wall_read_p50_ms=mix_median(reads, wl.READ_CLASSES),
        )
    print(json.dumps({"info": info}))
    print(result_line(failed == 0, attempted, failed, values, bool(args.trace)))
    sys.stdout.flush()
    return 0 if failed == 0 else 1


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    sys.path.insert(1, ROOT)
    try:
        import openaq_data_pipeline_engineering_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine package is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(ROOT, ".perfbench_work", run_id)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return _run(args, work, run_id, _configure(work))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
