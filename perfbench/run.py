"""The repository benchmark: one command per (workload, seed) run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Starts ``worker.py`` in its own session
with Spark on ``local[nproc]`` over the tables under ``perfbench/data``,
and prints as its last stdout line one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). Every run also writes a result file with its provenance
under ``.perfbench/results/<revision>/<workload>/`` that no later run
overwrites.

``--trace 1`` starts Spark with its event log on and times the workload
twice, each for half of ``--seconds`` and at least one pass: untraced,
then traced. The per-layer numbers come from the traced half;
``trace.overhead_s`` is its ``pass_s`` minus the untraced half's.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import spec  # noqa: E402
import tracing as tr  # noqa: E402

STATE = ".perfbench"
DRIVER_MEM = "2g"
# Beyond --seconds: start, set-ups, warm-up, the timed region's overrun
# (spec.OVERRUN_S plus one pass), check and stop.
WORKER_MARGIN_S = 150.0


def _fail(msg: str, code: int = 1) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest(root: str) -> str:
    """Content hash of the program and the benchmark (the checkout need
    not be a git repository)."""
    h = hashlib.sha1()
    for top in ("mlb_win_predictor_spark", "tests", "perfbench"):
        for d, dirs, files in sorted(os.walk(os.path.join(root, top))):
            dirs.sort()
            for f in sorted(files):
                if f.endswith((".py", ".json")):
                    p = os.path.join(d, f)
                    h.update(os.path.relpath(p, root).encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()[:12]


def git_revision(root: str) -> str | None:
    try:
        with open(os.path.join(root, ".git", "HEAD")) as fh:
            head = fh.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        path = os.path.join(root, ".git", ref)
        if os.path.exists(path):
            with open(path) as fh:
                return fh.read().strip()
        with open(os.path.join(root, ".git", "packed-refs")) as fh:
            for line in fh:
                if line.rstrip().endswith(" " + ref):
                    return line.split()[0]
    except OSError:
        pass
    return None


def _group_pids(pgid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            f = tr._stat_fields(int(d))
            if f is not None and int(f[2]) == pgid:
                out.append(int(d))
    return out


def _reap(pgid: int) -> None:
    """Stop every process left in the worker's session and wait for it."""
    for sig, grace in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        if not _group_pids(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        end = time.monotonic() + grace
        while _group_pids(pgid) and time.monotonic() < end:
            time.sleep(0.1)


def run_worker(args, root: str, sf: float, run_dir: str, data_root: str, deadline: float) -> dict:
    tmp, local, events = (os.path.join(run_dir, d) for d in ("tmp", "local", "eventlog"))
    for d in (tmp, local, events):
        os.makedirs(d, exist_ok=True)
    submit = ["--conf", "spark.ui.showConsoleProgress=false",
              # fixed compiler threads, so their CPU can be told apart (tracing.jit_cpu_s)
              "--driver-java-options", "-XX:-UseDynamicNumberOfCompilerThreads"]
    env = dict(os.environ)
    if args.trace:
        submit += ["--conf", "spark.eventLog.enabled=true",
                   "--conf", f"spark.eventLog.dir=file://{events}",
                   "--conf", "spark.eventLog.compress=false",
                   "--conf", "spark.eventLog.rolling.enabled=false"]
        env["PERFBENCH_EVENT_LOG"] = events
    env.update(
        # every JVM, spark-submit's launcher too: temp files in the run
        # directory, and no hsperfdata file (HotSpot puts it under /tmp)
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        PYSPARK_SUBMIT_ARGS=" ".join(shlex.quote(x) for x in submit + ["pyspark-shell"]),
    )
    out = os.path.join(run_dir, "worker.json")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--sf", str(sf), "--seconds", str(args.seconds), "--trace", str(args.trace),
           # a traced run's halves give per-pass layer numbers: one pass will do
           "--min-passes", str(1 if args.trace else spec.MIN_PASSES),
           "--data-root", data_root, "--oracle-dir", os.path.join(root, STATE, "oracle", f"sf{sf:g}"),
           "--run-dir", run_dir, "--out", out]
    log_path = os.path.join(run_dir, "worker.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, env=env, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            _reap(proc.pid)
            proc.wait()
    if rc != 0 or not os.path.exists(out):
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
        _fail("worker timed out" if rc is None else f"worker exited with {rc}")
    with open(out) as fh:
        return json.load(fh)


def _write_result(root: str, key: str, workload: str, stem: str, record: dict, spans: str | None) -> str:
    d = os.path.join(root, STATE, "results", key, workload)
    os.makedirs(d, exist_ok=True)
    for n in range(1, 1000):
        path = os.path.join(d, f"{stem}{'' if n == 1 else f'-{n}'}.json")
        try:
            fd = os.open(path, os.O_WRONLY | os.O_CREAT | os.O_EXCL)
        except FileExistsError:
            continue
        with os.fdopen(fd, "w") as fh:
            json.dump(record, fh, indent=1)
        if spans and os.path.exists(spans):
            shutil.move(spans, path[:-5] + ".spans.jsonl")
        return path
    _fail("too many results under one key")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(spec.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a SIGTERM still reaps the worker (the finally blocks below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    for need in ("mlb_win_predictor_spark/queries/__init__.py", "tests/oracle.py"):
        if not os.path.isfile(os.path.join(root, need)):
            _fail(f"run from the repository root: {need} not found", 2)

    data_root = os.path.join(HERE, "data")
    # PERFBENCH_SF shrinks the timed inputs (the self-test runs at 0.001)
    sf = float(os.environ.get("PERFBENCH_SF") or spec.SF)
    if not os.path.isdir(os.path.join(data_root, f"sf{sf:g}")):
        _fail(f"no input tables for sf{sf:g} under {os.path.relpath(data_root, root)}", 2)

    deadline = time.monotonic() + WORKER_MARGIN_S + args.seconds
    run_dir = os.path.join(root, STATE, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    load0, steal0 = tr.loadavg(), tr.steal_ticks()
    try:
        run = run_worker(args, root, sf, run_dir, data_root, deadline)
        if args.trace:
            metrics = {k: {"value": run["layers"][k], "unit": v["unit"]} for k, v in spec.PER_LAYER.items()}
        else:
            metrics = {k: {"value": run["e2e"][k], "unit": u} for k, (u, _) in spec.END_TO_END.items()}
        result = {"correct": run["failed"] == 0, "attempted": run["attempted"],
                  "failed": run["failed"], "metrics": metrics}
        git = git_revision(root)
        src = source_digest(root)
        record = {
            # the sources hash too: a run on uncommitted changes is keyed apart
            "revision": f"{git[:12]}-{src}" if git else f"src-{src}",
            "git_revision": git,
            "source_digest": src,
            "workload": args.workload,
            "entries": spec.WORKLOADS[args.workload]["entries"],
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "nproc": os.cpu_count(),
            "cpus": len(os.sched_getaffinity(0)),
            "sf": sf,
            "loadavg_before": load0,
            "loadavg_after": tr.loadavg(),
            "steal_ticks_before": steal0,
            "steal_ticks_after": tr.steal_ticks(),
            "result": result,
            "run": run,
        }
        spans = os.path.join(run_dir, "spans.jsonl") if args.trace else None
        path = _write_result(root, record["revision"], args.workload,
                             f"seed{args.seed}-trace{args.trace}", record, spans)
        for line in run["failures"]:
            print(f"perfbench: FAILED {line}", file=sys.stderr)
        print(f"perfbench: result file {os.path.relpath(path, root)}", file=sys.stderr)
        print(json.dumps(result))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
