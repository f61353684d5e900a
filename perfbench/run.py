#!/usr/bin/env python3
"""Pipeline benchmark: one command, one workload per invocation.

    python3 perfbench/run.py --workload drip_merge --seed 1 --seconds 5 --trace 0

Run from the repository root. The workload's inputs are generated from
``--seed`` under ``.perfbench_run/`` in that root, the program runs on
``local[<nproc>]`` in one long-lived session, the timed closed loop
lasts ``--seconds``, and the result is checked against a DuckDB replay
(query_mix: against the ``oracle_sql()`` twins).
The full result (schema ``RESULT_SCHEMA_VERSION``) is written to
``.perfbench_results/``; the last stdout line is the summary object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics of BENCHMARK.json with ``--trace 0``, its per-layer metrics
with ``--trace 1``. See perfbench/NOTES.md for metric definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
RESULT_SCHEMA_VERSION = 1
# The driver JVM's heap: local mode runs executors inside it. Well under
# the 15 GB of the 4-vCPU host the benchmark was tuned on, and the same
# on every run.
DRIVER_MEM = "2g"
# A run lasts under a minute, less than the C2 compiler needs to settle:
# with tiered compilation the measured batches still ride the warm-up
# curve, and two runs of one seed differed by 30%. C1 alone reaches a
# steady state within the warm-up. G1 sizes the heap by pause timing, and
# peak RSS came out bimodal; the parallel collector with fixed generation
# ratios grows the old generation only as promoted data fill it, so peak
# RSS follows the data the program keeps. Both flags misrank some changes
# against the deployment's JVM (NOTES.md, "JIT and heap").
JVM_TIMING_FLAGS = "-XX:TieredStopAtLevel=1 -XX:+UseParallelGC -XX:-UseAdaptiveSizePolicy -Xms1g"


def _gc_heap_mb(log: Path) -> dict[str, float]:
    """Peak heap after a collection (live data plus floating garbage)
    and peak committed heap, in MB, from the JVM's unified GC log."""
    import re

    after, committed = [0.0], [0.0]
    for m in re.finditer(r"(\d+)M->(\d+)M\((\d+)M\)", log.read_text() if log.exists() else ""):
        after.append(float(m.group(2)))
        committed.append(float(m.group(3)))
    return {"after_gc_peak": max(after), "committed_peak": max(committed)}


def _vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _tree_cpu_s(root: int) -> float:
    """CPU seconds (user plus system, reaped children included) of a
    process and all its live descendants: here the driver Python, its
    JVM and the JVM's Python workers. Time the hypervisor steals is not
    in it."""
    kids: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process exited meanwhile
            continue
        kids.setdefault(int(fields[1]), []).append(int(d))
        ticks[int(d)] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        total += ticks.get(pid, 0)
        stack.extend(kids.get(pid, []))
    return total / os.sysconf("SC_CLK_TCK")


_CPU_FIELDS = ["user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal"]


def _cpu_times() -> list[int]:
    """Host-wide CPU jiffies from /proc/stat, in _CPU_FIELDS order."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:len(_CPU_FIELDS) + 1]]


def _cpu_shares(before: list[int], after: list[int]) -> dict[str, float]:
    """Percent of host CPU time per state between two readings; a high
    ``steal`` marks a run slowed by other tenants of the hypervisor."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d) or 1
    return {k: 100.0 * v / total for k, v in zip(_CPU_FIELDS, d)}


def _environment(work: Path) -> None:
    """Confine Spark's and Python's scratch space to ``work`` and size
    the session. Must run before pyspark launches the JVM."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_PYTHON"] = sys.executable
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
    }
    args = " ".join(f"--conf {k}={v}" for k, v in confs.items())
    java = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} -Xlog:gc:file={work / 'gc.log'} {JVM_TIMING_FLAGS}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = f'{args} --driver-java-options "{java}" pyspark-shell'
    import tempfile

    tempfile.tempdir = None


def _declared() -> tuple[dict, dict]:
    """(end-to-end, per-layer) metric declarations: name → (unit, better)."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    e2e = {m["name"]: (m["unit"], m["better"]) for m in spec["end_to_end"]}
    layer = {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]}
    return e2e, layer


def _unit(name: str) -> tuple[str, str]:
    """Unit and direction of a per-layer metric not declared in
    BENCHMARK.json, from its name."""
    if name.endswith("rows_per_s"):
        return "rows/s", "higher"
    if name.endswith("_s"):
        return "s", "lower"
    if "bytes" in name:
        return "bytes", "lower"
    if name.endswith("ratio"):
        return "ratio", "higher"
    return "count", "lower"


def end_to_end(w, setup_times: list[float]) -> dict[str, float]:
    import workloads as W

    # A traced run keeps its end-to-end numbers to the untraced batches.
    b = [x for x in w.batches if not x.get("traced")] or w.batches
    lat = [x["latency_s"] for x in b]
    out = {"setup_s": statistics.median(setup_times)}
    if w.name == "query_mix":  # one batch is one ordered pass
        out["query_mix_s"] = statistics.median(lat)
        out["query_geomean_s"] = statistics.geometric_mean(
            [s for x in b for s in x["queries"].values()])
    else:
        out["ingest_rows_per_s"] = sum(x["input_rows"] for x in b) / sum(x["latency_s"] for x in b)
        out["view_read_p50_s"] = statistics.median(x["view_s"] for x in b)
        out["write_amp"] = W.write_amp(b)
    q = W.tail_percentile(len(lat))
    out["batch_latency_p50_s"] = statistics.median(lat)
    out["batch_latency_tail_s"] = W.percentile(lat, q)
    w.tail = {"percentile": q, "n": len(lat), "beyond": int(len(lat) * (1 - q))}
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["drip_merge", "backfill_ingest", "query_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "tiny"], default="full")
    a = ap.parse_args(argv)

    if not (ROOT / "awi_datapipelinepublic_spark" / "__init__.py").is_file():
        print(f"perfbench: the library is not in {ROOT}; run from a repository checkout",
              file=sys.stderr)
        return 2
    work = ROOT / ".perfbench_run" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    _environment(work)
    sys.path[:0] = [str(HERE), str(ROOT), str(ROOT / "tests")]
    try:
        return _run(a, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(a, work: Path) -> int:
    import duckdb
    import pyspark

    from awi_datapipelinepublic_spark import get_spark
    from tracer import Tracer
    import workloads as W

    e2e_decl, layer_decl = _declared()
    phase_s: dict[str, float] = {}
    t = time.perf_counter()

    def phase(name: str) -> None:
        nonlocal t
        now = time.perf_counter()
        phase_s[name] = now - t
        t = now

    spark = get_spark(f"perfbench-{a.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    phase("session_start")
    jvm = spark.sparkContext._gateway.proc
    rss = {"python": 0.0, "jvm": 0.0}
    heap = {}
    cpu_measure = {}
    try:
        tracer = Tracer(spark) if a.trace else None
        w = W.WORKLOADS[a.workload](spark, work, a.seed, a.size, tracer)
        setup_times = []
        for rep in range(w.setup_reps):
            t_rep = time.perf_counter()
            w.setup(rep)
            setup_times.append(time.perf_counter() - t_rep)
            if rep + 1 < w.setup_reps:
                shutil.rmtree(work / f"setup{rep}", ignore_errors=True)
        phase("setup")
        w.warm()
        phase("warm")
        if tracer is not None and a.workload != "query_mix":
            W.install_pipeline_spans(tracer)  # query_mix opens its query spans itself
        cpu0 = _cpu_times()
        tree_cpu0 = _tree_cpu_s(os.getpid())
        w.measure(a.seconds)
        # A traced run needs a traced and an untraced op for the overhead.
        while tracer is not None and len(w.batches) < 2 and not w.failures:
            w.measure(0)
        phase("measure")
        measure_cpu_s = _tree_cpu_s(os.getpid()) - tree_cpu0
        cpu_measure = _cpu_shares(cpu0, _cpu_times())
        rss = {"python": _vm_hwm_mb(os.getpid()), "jvm": _vm_hwm_mb(jvm.pid)}
        heap = _gc_heap_mb(work / "gc.log")
        if tracer is not None:
            tracer.unwrap_all()
            tracer.collect()
            phase("collect")
        try:
            w.check()
        except Exception as e:  # noqa: BLE001 — a check that cannot run is a failed check
            w.check_results.append(f"check raised {type(e).__name__}: {str(e)[:300]}")
        phase("check")
        e2e = end_to_end(w, setup_times) if w.batches else {}
        e2e["peak_rss_mb"] = rss["python"] + rss["jvm"]
        if w.batches:
            e2e["batch_cpu_s"] = measure_cpu_s / len(w.batches)
        layers = {}
        if tracer is not None and w.batches:
            layers = (W.query_layers if a.workload == "query_mix" else W.pipeline_layers)(
                tracer.spans, w.batches)
            traced = [b["latency_s"] for b in w.batches if b["traced"]]
            untraced = [b["latency_s"] for b in w.batches if not b["traced"]]
            layers["trace.overhead_s"] = statistics.median(traced) - statistics.median(untraced)
            layers["trace.bookkeeping_s"] = tracer.bookkeeping_s / len(traced)
            # A layer the workload never calls reads 0 (NOTES.md, "Per-layer metrics").
            for n in layer_decl:
                if n not in layers and not W.calls_layer(a.workload, n):
                    layers[n] = 0.0
    finally:
        spark.stop()
        _stop_jvm(spark, jvm)
    phase("stop")

    failed_checks = [m for m in w.check_results if m]
    attempted = len(w.batches) + len(w.failures) + len(w.check_results)
    failed = len(w.failures) + len(failed_checks)
    values = layers if a.trace else e2e
    declared = layer_decl if a.trace else e2e_decl
    missing = [n for n in declared if n not in values]
    correct = not failed and not missing and bool(w.batches)

    def entry(name, value, unit, better, kind):
        return {"name": name, "value": value, "unit": unit, "better": better,
                "workload": a.workload, "kind": kind}

    result = {
        "schema_version": RESULT_SCHEMA_VERSION,
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "size": a.size,
        "host": {
            "nproc": len(os.sched_getaffinity(0)), "master": f"local[{os.environ['SPARK_GRAFT_CPUS']}]",
            "driver_mem": DRIVER_MEM, "python": platform.python_version(),
            "spark": pyspark.__version__, "duckdb": duckdb.__version__,
            "platform": platform.platform(),
            "cpu_during_measure": cpu_measure,
        },
        "correct": correct, "attempted": attempted, "failed": failed,
        "failed_ratio": failed / attempted if attempted else 1.0,
        "failures": w.failures + failed_checks + [f"metric not produced: {n}" for n in missing],
        "phase_s": phase_s,
        "peak_rss_mb": rss,
        "jvm_heap_mb": heap,
        "setup_s_reps": setup_times,
        "tail": getattr(w, "tail", None),
        "end_to_end": [entry(n, v, *e2e_decl.get(n, _unit(n)), "end_to_end") for n, v in e2e.items()],
        "per_layer": [entry(n, v, *layer_decl.get(n, _unit(n)), "per_layer") for n, v in layers.items()],
        "batches": w.batches,
        "spans": tracer.spans if tracer is not None else [],
    }
    out_dir = ROOT / ".perfbench_results"
    out_dir.mkdir(exist_ok=True)
    path = out_dir / f"{a.workload}-seed{a.seed}-trace{a.trace}.json"
    path.write_text(json.dumps(result, indent=1, default=str))

    print(f"perfbench {a.workload} seed={a.seed} trace={a.trace}: {len(w.batches)} ops, "
          f"correct={correct}, result in {path.relative_to(ROOT)}", file=sys.stderr)
    for m in result["end_to_end"] + result["per_layer"]:
        print(f"  {m['kind']:10s} {m['name']:48s} {m['value']:>16.6g} {m['unit']}", file=sys.stderr)
    for f in result["failures"]:
        print(f"  FAILED: {f}", file=sys.stderr)

    summary = {
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {n: {"value": values[n], "unit": u} for n, (u, _b) in declared.items() if n in values},
    }
    print(json.dumps(summary))
    return 0


def _stop_jvm(spark, proc) -> None:
    """Close the py4j gateway and wait for the JVM child to exit (it
    exits when its stdin closes)."""
    try:
        spark.sparkContext._gateway.shutdown()
    except Exception:  # noqa: BLE001 — the gateway may already be gone
        pass
    if proc.stdin:
        proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:  # noqa: BLE001 — TimeoutExpired: force it
        proc.kill()
        proc.wait(timeout=30)


if __name__ == "__main__":
    sys.exit(main())
