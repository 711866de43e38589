"""Benchmark entry point: one run of one workload in a fresh process.

    python3 perfbench/run.py --workload sql_interactive --seed 1 \
        --seconds 30 --trace 0

Run from the repository root (or any checkout of it). The run is a fresh
``perfbench.harness`` process on ``local[nproc]`` over the tables under
``perfbench/data/<scale>``; every result is checked against DuckDB. The
last stdout line is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (``--trace 0``) or the per-layer metrics of
a traced run (``--trace 1``). The line before it holds run details
(core count, passes, tail percentile and sample count, failures).

Everything the run writes (temp dirs, Spark local dirs, event log)
lives under ``.perfbench_run/`` in the checkout and is removed at the
end, after the bytes left there are measured; a traced run keeps its
spans in ``.perfbench_run/spans/<workload>-<seed>.jsonl``. The harness process and
everything it started (JVM, Python workers, the DuckDB helper) are in
one process group that is ended and reaped before this script returns.
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
ROOT = os.path.dirname(HERE)
TIMEOUT_S = 170


def _tree_bytes(path: str) -> tuple[int, int]:
    """(total bytes, number of entries) under ``path``."""
    size = entries = 0
    for dirpath, dirnames, filenames in os.walk(path):
        entries += len(dirnames) + len(filenames)
        for f in filenames:
            try:
                size += os.lstat(os.path.join(dirpath, f)).st_size
            except FileNotFoundError:
                pass
    return size, entries


def _group_members(pgid: int) -> list[int]:
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            pids.append(int(entry))
    return pids


def _end_group(pgid: int) -> None:
    """Wait for the group to exit on its own (the JVM runs its shutdown
    hooks after the harness exits), then terminate what is left and wait
    until no process of the group remains."""
    for sig, wait_s in ((None, 30.0), (signal.SIGTERM, 10.0), (signal.SIGKILL, 30.0)):
        if sig is not None:
            try:
                os.killpg(pgid, sig)
            except ProcessLookupError:
                return
        deadline = time.monotonic() + wait_s
        while _group_members(pgid):
            if time.monotonic() > deadline:
                break
            time.sleep(0.05)
        else:
            return


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", default="sf0.1", help="data/<scale> to run on")
    ap.add_argument("--limit", type=int, default=None, help="smoke: cap the per-pass sample")
    args = ap.parse_args()

    data = os.path.join(HERE, "data", args.scale)
    program = os.path.join(ROOT, "mini_sql_engine_spark", "__init__.py")
    for need in (program, os.path.join(data, "lineitem.parquet")):
        if not os.path.exists(need):
            print(f"perfbench: missing {os.path.relpath(need, ROOT)}", file=sys.stderr)
            return 2

    rundir = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp, local = os.path.join(rundir, "tmp"), os.path.join(rundir, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    cpus = len(os.sched_getaffinity(0))
    env = dict(os.environ)
    env.update(
        {
            # Python workers import the engine whatever the caller's cwd
            "PYTHONPATH": os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
            "SPARK_GRAFT_CPUS": str(cpus),
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": local,
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        }
    )
    out = os.path.join(rundir, "record.json")
    cmd = [
        sys.executable, "-m", "perfbench.harness",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--data", data, "--rundir", rundir, "--out", out,
        "--launched", repr(time.time()),
    ]  # fmt: skip
    if args.limit is not None:
        cmd += ["--limit", str(args.limit)]
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=sys.stderr, start_new_session=True)
    try:
        rc = proc.wait(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        rc = -1
        print(f"perfbench: run exceeded {TIMEOUT_S} s", file=sys.stderr)
        os.killpg(proc.pid, signal.SIGKILL)
    finally:
        _end_group(proc.pid)
        proc.wait()
    try:
        left_bytes, left_entries = 0, 0
        for d in (tmp, local):
            b, e = _tree_bytes(d)
            left_bytes += b
            left_entries += e
        if rc != 0 or not os.path.exists(out):
            print(f"perfbench: harness exited with {rc}", file=sys.stderr)
            return 1
        with open(out) as fh:
            record = json.load(fh)
        if args.trace:
            spans = os.path.join(os.path.dirname(rundir), "spans")
            os.makedirs(spans, exist_ok=True)
            os.replace(
                os.path.join(rundir, "spans.jsonl"),
                os.path.join(spans, f"{args.workload}-{args.seed}.jsonl"),
            )
    finally:
        shutil.rmtree(rundir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(rundir))
        except OSError:
            pass

    if args.trace:
        metrics = record["per_layer"]
        metrics["tmp.dirs_left"] = left_entries
        metrics["tmp.left_mb"] = left_bytes / 2**20
        metrics["run.failed_frac"] = record["failed"] / record["attempted"]
        units = _layer_units()
        metrics = {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}
    else:
        metrics = record["end_to_end"]
    info = record["info"]
    details = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "scale": args.scale,
        "cpus": cpus,
        "passes": record["passes"],
        "measured_s": record["measured_s"],
        # end-to-end figures that are 0 on a healthy run or too noisy to
        # bound, printed here beside the bounded ones
        "also": {
            "failed_frac": {"value": record["failed"] / record["attempted"], "unit": "ratio"},
            "peak_rss_mb": {"value": info["jvm_hwm_mb"] + info["python_maxrss_mb"], "unit": "MB"},
            "tmp_left_mb": {"value": left_bytes / 2**20, "unit": "MB"},
        },
        "failures": record["failures"],
        **info,
    }
    print(json.dumps(details))
    print(
        json.dumps(
            {
                "correct": record["failed"] == 0,
                "attempted": record["attempted"],
                "failed": record["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0


def _layer_units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer"]}


if __name__ == "__main__":
    sys.exit(main())
