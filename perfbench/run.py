"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload bulk_replay --seed 1 --seconds 20 --trace 0

Run from the repository root. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). The line before it records provenance. A traced run
also writes its spans to ``.perfbench/traces/``. Scratch data and
Spark's local dir live under ``.perfbench/`` and are removed when the
run ends.
"""

from __future__ import annotations

import argparse
import ctypes
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENGINE = os.path.join(ROOT, "mex_extractors_spark")
# explicit driver heap: the engine's default (8g) is sized for larger hosts
DRIVER_MEMORY = "3g"


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=42)
    # every workload measures a fixed amount of work; the budget is
    # accepted and recorded in the provenance, not used to size a run
    p.add_argument("--seconds", type=float, default=20.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cores", type=int, default=None,
                   help="local[N] parallelism (default: the CPUs this process may use)")
    p.add_argument("--scale", choices=("full", "toy"), default="full")
    return p.parse_args(argv)


def source_digest() -> str:
    """sha256 over the engine's source files, for provenance where the
    checkout is not a git repository."""
    h = hashlib.sha256()
    for f in sorted(glob.glob(os.path.join(ENGINE, "**", "*.py"), recursive=True)):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def git_commit() -> str:
    try:
        return subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        ).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def start_session(scratch: str, cores: int):
    """A session from the engine's own factory with placement-only
    conf: where scratch, shuffle and temp files go, the driver heap,
    and no console progress bar."""
    from mex_extractors_spark.session import DEFAULT_SHUFFLE_PARTITIONS, get_spark

    jtmp = os.path.join(scratch, "java-tmp")
    os.makedirs(jtmp)
    return get_spark(
        app_name="perfbench",
        cores=cores,
        shuffle_partitions=DEFAULT_SHUFFLE_PARTITIONS,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": os.path.join(scratch, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={jtmp}",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Adopt orphaned descendants (the launcher shells the Spark driver
    JVM leaves behind), so that :func:`reap_descendants` can wait for
    them. Linux only; elsewhere only direct children are waited for."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def child_pids() -> list[int]:
    me = os.getpid()
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the fields after the parenthesised command: state, ppid, ...
        if int(stat.rsplit(")", 1)[1].split()[1]) == me:
            pids.append(int(entry))
    return pids


def reap_descendants(grace_s: float = 30.0) -> None:
    """Wait until no process this run started is left: children that
    are still running after ``grace_s`` get SIGTERM, then SIGKILL."""
    if not os.path.isdir("/proc"):
        return
    deadline = time.monotonic() + grace_s
    sent = None
    while pids := child_pids():
        while True:
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                pid = 0
            if pid == 0:
                break
        now = time.monotonic()
        if now > deadline and sent != signal.SIGKILL:
            sent = signal.SIGTERM if sent is None else signal.SIGKILL
            deadline = now + 10.0
            for pid in pids:
                try:
                    os.kill(pid, sent)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def main(argv: list[str] | None = None) -> int:
    t_start = time.perf_counter()
    args = parse_args(argv)
    if not os.path.isdir(ENGINE):
        print(f"perfbench: engine package not found at {ENGINE}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import oracle, workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    cores = args.cores or len(os.sched_getaffinity(0))
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    scratch = os.path.join(ROOT, ".perfbench", "tmp", run_id)
    os.makedirs(scratch)
    os.environ["TMPDIR"] = scratch  # Python-side temp files of the session
    become_subreaper()
    spark = None
    try:
        spark = start_session(scratch, cores)
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t_start
        outcome = workloads.run_workload(
            spark, args.workload, args.seed, bool(args.trace), scratch,
            scale=args.scale, run_id=run_id, session_s=session_s,
        )
        info = outcome.info
        provenance = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "scale": args.scale,
            "nproc": cores,
            "git_commit": git_commit(),
            "engine_sha256": source_digest(),
            "spark_version": spark.version,
            "java_version": spark._jvm.java.lang.System.getProperty("java.version"),
            "python_version": sys.version.split()[0],
            "spark_conf": dict(sorted(spark.sparkContext.getConf().getAll())),
            "session_start_s": session_s,
            "setup_generate_s": info["setup_generate_s"],
            "prepare_s": info["prepare_s"],
            "table_digest": info.get("digest"),
            "commit_modes": info.get("commit_modes"),
            "walls": info.get("walls"),
            "end_to_end": {k: v[0] for k, v in outcome.e2e.items()},
        }
        if args.trace:
            trace_path = os.path.join(ROOT, ".perfbench", "traces", f"{run_id}.json")
            os.makedirs(os.path.dirname(trace_path), exist_ok=True)
            with open(trace_path, "w") as fh:
                json.dump({"provenance": provenance, "self_s": info.get("self_s"),
                           "window_s": info.get("window_s"),
                           "layers": {k: v[0] for k, v in outcome.layers.items()},
                           "spans": info.get("spans", [])}, fh)
            provenance["trace_file"] = os.path.relpath(trace_path, ROOT)
    finally:
        try:
            oracle.close_all()
            if spark is not None:
                stop_session(spark)
        finally:
            reap_descendants()
            shutil.rmtree(scratch, ignore_errors=True)
    chosen = outcome.layers if args.trace else outcome.e2e
    print(json.dumps({"provenance": provenance}), flush=True)
    print(json.dumps({
        "correct": outcome.failed == 0,
        "attempted": outcome.attempted,
        "failed": outcome.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in sorted(chosen.items())},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
