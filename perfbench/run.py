"""Frontier benchmark: run one named workload from a seed.

    python3 perfbench/run.py --workload drain --seed 1 --seconds 20 --trace 0

Run from the repository root. Set-up (Spark session, seeded inputs, the
reference-loop oracle, a warm-up crawl) is timed as ``setup_s``; then
timed operations repeat until ``--seconds`` have passed (at least one),
each checked against the oracle. ``--trace 0`` prints the end-to-end
metrics named in BENCHMARK.json; ``--trace 1`` runs one untraced and then
traced operations plus the layer probes, and prints the per-layer
metrics. The last stdout line is the result object; the line before it
is the full record (host context, per-operation detail, span summary),
also written with the spans under perfbench/out/.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import multiprocessing
import os
import platform
import signal
import statistics
import subprocess
import sys
import time
from concurrent.futures import ProcessPoolExecutor

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _prepare_env() -> None:
    """Keep every file Spark, the JVM and the workers write inside the
    checkout, and make the engine importable in the Python workers."""
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark")
    # -XX:-UsePerfData: no hsperfdata file under the system /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)


def _state(pid: int) -> tuple[str, int] | None:
    """(state letter, parent pid) of ``pid``, or None once it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return fields[0], int(fields[1])


def _alive(pid: int) -> bool:
    st = _state(pid)
    return st is not None and st[0] != "Z"


def _children(pid: int) -> list[int]:
    return [
        int(e) for e in os.listdir("/proc")
        if e.isdigit() and (_state(int(e)) or ("", 0))[1] == pid
    ]


def _descendants(pid: int) -> list[int]:
    todo, out = [pid], []
    while todo:
        kids = _children(todo.pop())
        out.extend(kids)
        todo.extend(kids)
    return out


def _vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def _jvm_pid() -> int | None:
    for pid in _children(os.getpid()):
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() == "java":
                    return pid
        except OSError:
            continue
    return None


def _stop_spark(spark, deadline_s: float = 30.0) -> None:
    """Stop Spark and wait until the JVM and every process under it (the
    Python daemon and workers) have ended: ``spark.stop()`` leaves the
    JVM running until this process exits."""
    jvm = _jvm_pid()
    procs = _descendants(jvm) if jvm is not None else []
    spark.stop()
    if jvm is None:
        return
    os.kill(jvm, signal.SIGTERM)
    os.waitpid(jvm, 0)
    end = time.monotonic() + deadline_s
    while any(map(_alive, procs)) and time.monotonic() < end:
        time.sleep(0.1)
    for p in filter(_alive, procs):
        with contextlib.suppress(ProcessLookupError):
            os.kill(p, signal.SIGKILL)


def _cpu_jiffies() -> list[int]:
    """The host's cumulative CPU times (user, nice, system, idle, iowait,
    irq, softirq, steal, ...), from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _host_context() -> dict:
    import pyspark

    try:
        sha = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10,
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        sha = None
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg": list(os.getloadavg()),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "git_sha": sha,
    }


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _p50(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isdir(os.path.join(ROOT, "wcm_spark")):
        print(f"no engine sources under {ROOT}: run from a repository checkout", file=sys.stderr)
        return 2
    spec = _spec()
    _prepare_env()

    import workloads
    from spans import Tracer
    from wcm_spark.session import get_spark

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; have {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    context = {"before": _host_context()}
    cpu_before = _cpu_jiffies()
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}"
    tracer = Tracer(run_id, enabled=bool(args.trace))
    untraced = Tracer(run_id, enabled=False)

    wl = workloads.WORKLOADS[args.workload](args.seed, os.path.join(OUT, "tmp"))
    spark = None
    # forked before the JVM starts; leaving the block waits for the worker
    with ProcessPoolExecutor(1, mp_context=multiprocessing.get_context("fork")) as pool:
        try:
            wl.start(pool)
            t0 = time.perf_counter()
            spark = get_spark(f"perfbench-{args.workload}", cpus=len(os.sched_getaffinity(0)))
            spark.sparkContext.setLogLevel("ERROR")
            session_s = time.perf_counter() - t0
            wl.setup(spark)
            setup_s = time.perf_counter() - T_START
            if args.trace:
                wl.prepare_trace()
            phases = {"setup": setup_s, "prepare_trace": time.perf_counter() - T_START - setup_s}
            t0 = time.perf_counter()

            ops, errors = [], []
            attempted = 0
            deadline = time.perf_counter() + args.seconds
            while True:
                attempted += 1
                # a traced run times its first operation untraced, for trace.overhead
                op_tracer = tracer if args.trace and attempted > 1 else untraced
                try:
                    ops.append((op_tracer.enabled, wl.op(op_tracer)))
                except Exception as e:  # an operation that raises counts as failed
                    errors.append(f"{type(e).__name__}: {e}")
                done = time.perf_counter() >= deadline
                if done and (not args.trace or attempted >= 2):
                    break
            phases["ops"] = time.perf_counter() - t0
            driver_rss_mb = _vm_hwm_mb(os.getpid())
            jvm_rss_mb = _vm_hwm_mb(_jvm_pid()) if _jvm_pid() else 0.0
            t0 = time.perf_counter()
            probe = wl.probe(tracer) if args.trace else {}
            phases["probe"] = time.perf_counter() - t0
        finally:
            t0 = time.perf_counter()
            if spark is not None:
                _stop_spark(spark)
    phases["stop"] = time.perf_counter() - t0
    phases["total"] = time.perf_counter() - T_START
    spent = [b - a for a, b in zip(cpu_before, _cpu_jiffies())]
    # CPU time the hypervisor gave to other guests during the run
    context["after"] = {"loadavg": list(os.getloadavg()), "cpu_steal_share": spent[7] / max(sum(spent), 1)}

    failed = len(errors) + sum(not all(r.checks.values()) for _, r in ops)
    plain = [r for traced, r in ops if not traced]
    traced_ops = [r for traced, r in ops if traced]
    urls_per_s = _p50([r.fetched / r.seconds for r in plain])

    if args.trace:
        layer = {"session.start_s": session_s, **wl.setup_layers, **probe}
        for key in traced_ops[-1].layers if traced_ops else ():
            layer[key] = _p50([r.layers[key] for r in traced_ops if key in r.layers])
        commits = tracer.durations("store.commit")
        reads = tracer.durations("store.read")
        layer.update({
            "store.commits": len(commits) / max(len(traced_ops), 1),
            "store.commit_s": sum(commits) / max(len(traced_ops), 1),
            "store.commit_s_p50": _p50(commits),
            "store.read_s": sum(reads) / max(len(traced_ops), 1),
            "trace.overhead": _p50([r.fetched / r.seconds for r in traced_ops]) / urls_per_s
            if traced_ops and urls_per_s else 0.0,
        })
        wanted = spec["per_layer"]
    else:
        layer = {}
        wanted = spec["end_to_end"]
    values = {
        "setup_s": setup_s,
        "urls_per_s": urls_per_s,
        "wave_s_p50": _p50([s for r in plain for s in r.wave_secs]),
        "driver_rss_mb": driver_rss_mb,
        "jvm.peak_rss_mb": jvm_rss_mb,
        **layer,
    }
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]} for m in wanted}

    span_cost = tracer.span_cost_s() if args.trace else 0.0
    self_s = tracer.self_times()
    op_span = f"op.{args.workload}"
    record = {
        "run_id": run_id,
        "input_fingerprint": wl.fingerprint(),
        "host": context,
        "ops": [
            {"traced": t, "seconds": r.seconds, "fetched": r.fetched, "waves": r.wave_secs,
             "checks": r.checks, "layers": r.layers, "traffic": r.traffic}
            for t, r in ops
        ],
        "errors": errors,
        "setup_parts": {"session.start_s": session_s, **wl.setup_layers},
        "phases_s": phases,
        "all_values": values,
        "span_self_s": self_s,
        # the timed operations' seconds against the spans that cover them:
        # what the op spans hold outside any layer span is unattributed
        "span_accounting": {
            "op_s": sum(r.seconds for r in traced_ops),
            "op_span_s": sum(tracer.durations(op_span)),
            "unattributed_s": self_s.get(op_span, 0.0),
        },
        "span_count": len(tracer.spans),
        "trace_self_cost_s": span_cost * len(tracer.spans),
    }
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, f"{run_id}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    if args.trace:
        tracer.write(os.path.join(OUT, f"{run_id}.spans.jsonl"))
    print(json.dumps(record, default=str))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
