"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Each run builds its inputs from ``--seed``
under ``perfbench/.work/`` (git-ignored, removed at the end) and runs the
workload in a child process (``worker.py``) whose environment is set here:
``local[nproc]``, a pinned driver heap, a fresh engine cache root, Spark
local dirs and temp dirs inside the work directory, and ``PYTHONPATH``
pointing at the repository so Python UDF workers import the engine.

A run times one pass of the workload. On the sizes in ``workloads.json``
a pass lasts longer than ``run_seconds`` in ``BENCHMARK.json``, so
``--seconds`` is met by that pass and not otherwise used.

``--trace 0`` prints the end-to-end metrics of ``BENCHMARK.json``.
``--trace 1`` runs the workload twice, without and with tracing (Spark
event log on, one job group per call and collect, spans written to
``perfbench/.work/last-trace/``), and prints the per-layer metrics,
including the tracing overhead (traced minus untraced) and, on
``lint_tiles``, ``scaling_eff`` against a ``local[1]`` session.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``.
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

HERE = os.path.dirname(os.path.abspath(__file__))
#: whole-invocation budget, below the 180 s a run may take
BUDGET_S = 170.0
OVERHEAD_METRICS = ("setup_s", "pass_cpu_s", "docs_per_cpu_s")


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def child_env(root: str, work: str, cpus: int, trace: bool, spec: dict) -> dict:
    tmp = os.path.join(work, "tmp")
    for d in (tmp, os.path.join(work, "local"), os.path.join(work, "events")):
        os.makedirs(d, exist_ok=True)
    submit = "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    if trace:
        submit = (
            "--conf spark.eventLog.enabled=true --conf spark.eventLog.compress=false "
            "--conf spark.eventLog.rolling.enabled=false "
            f"--conf spark.eventLog.dir=file://{os.path.join(work, 'events')} " + submit
        )
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_DRIVER_MEM=spec["env"]["SPARK_DRIVER_MEM"],
        SPARK_GRAFT_CACHE=os.path.join(work, "cache"),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        PYTHONPATH=os.pathsep.join(p for p in (root, env.get("PYTHONPATH")) if p),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_SUBMIT_ARGS=submit,
        TMPDIR=tmp,
        # a fixed set of JIT compiler threads, so none exits between two
        # CPU samples (worker.py leaves their CPU out of pass_cpu_s)
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads "
        f"-Djava.io.tmpdir={tmp}",
    )
    return env


def reap(pgid: int, timeout_s: float = 30.0) -> None:
    """Kill what is left of a child's process group and wait until every
    member has exited."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        alive = False
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[2]) == pgid and fields[0] != "Z":
                alive = True
                break
        if not alive:
            return
        time.sleep(0.1)


def run_child(args, root, work, spec, deadline, trace=False) -> dict:
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    log = os.path.join(work, "worker.log")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--seed", str(args.seed), "--trace", str(int(trace)),
           "--work", work, "--out", out, "--run-id", os.path.basename(work)]
    env = child_env(root, work, cpu_count(), trace, spec)
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, cwd=root, env=env, stdout=fh, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            pass
        finally:
            reap(proc.pid)
            proc.wait()
    with open(log) as fh:
        text = fh.read()
    if proc.returncode != 0 or not os.path.exists(out):
        sys.stderr.write(text[-4000:])
        raise RuntimeError(f"worker for {args.workload} exited with {proc.returncode}")
    sys.stderr.writelines(line for line in text.splitlines(True) if line.startswith("["))
    with open(out) as fh:
        return json.load(fh)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a SIGTERM unwinds through run_child's cleanup instead of orphaning the worker
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "__spark_entry__.py"))
            and os.path.isdir(os.path.join(root, "serbian_osm_lint_spark"))):
        print("perfbench: engine sources not found; run from the repository root",
              file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    with open(os.path.join(HERE, "workloads.json")) as fh:
        spec = json.load(fh)
    if args.workload not in spec["workloads"]:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    deadline = time.monotonic() + BUDGET_S
    base = os.path.join(HERE, ".work")
    work = os.path.join(base, f"{args.workload}-s{args.seed}-p{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        plain = run_child(args, root, os.path.join(work, "plain"), spec, deadline)
        results = [plain]
        if not args.trace:
            values = plain["e2e"]
            declared = bench["end_to_end"]
        else:
            traced = run_child(args, root, os.path.join(work, "traced"), spec, deadline, trace=True)
            results.append(traced)
            values = dict(traced["layers"])
            for m in OVERHEAD_METRICS:
                values[f"trace.overhead.{m}"] = traced["e2e"][m] - plain["e2e"][m]
            keep = os.path.join(base, "last-trace")
            shutil.rmtree(keep, ignore_errors=True)
            os.makedirs(keep)
            shutil.copy(os.path.join(work, "traced", "spans.jsonl"), keep)
            with open(os.path.join(keep, "result.json"), "w") as fh:
                json.dump(traced, fh, indent=1)
            declared = bench["per_layer"]
    except RuntimeError as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for r in results:
        for e in r["errors"]:
            print(f"perfbench: {e}", file=sys.stderr)
    attempted = sum(r["attempted"] for r in results)
    failed = sum(r["failed"] for r in results)
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in declared}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
