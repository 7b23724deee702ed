"""Benchmark command.

    python3 perfbench/run.py --workload serve|pipeline --seed N --seconds S --trace 0|1

Run from the root of a checkout. Each invocation runs one workload in a
fresh worker process (its own session, so the JVM and the python workers
it starts are its own), forwards the worker's output, and then stops every
process the worker left behind and waits for them to end. The last line of
standard output is the result object; ``--trace 0`` reports the end-to-end
metrics of BENCHMARK.json and ``--trace 1`` the per-layer ones. See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("serve", "pipeline")
TIMEOUT_S = 170  # the run must end within 180 s


def _session_members(sid: int) -> list[int]:
    """Live processes of the worker's session. The session, unlike the
    process group, also holds the python daemon Spark starts (it moves
    itself to a group of its own)."""
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            if os.getsid(int(name)) == sid:
                out.append(int(name))
        except OSError:
            continue
    return out


def _stop_session(sid: int) -> None:
    """SIGTERM, then SIGKILL, every process of the worker's session, and
    wait until none is left."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        deadline = time.monotonic() + 10.0
        members = _session_members(sid)
        for pid in members:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        while members and time.monotonic() < deadline:
            time.sleep(0.05)
            members = _session_members(sid)
        if not members:
            return


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    package = os.path.join(ROOT, "webscale_vector_search_spark", "__init__.py")
    if not os.path.isfile(package) or not os.path.isfile(os.path.join(ROOT, "BENCHMARK.json")):
        print(f"no engine package under {ROOT}: run from a checkout of the repository",
              file=sys.stderr)
        return 2

    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": ROOT + os.pathsep + env.get("PYTHONPATH", ""),
        "TMPDIR": work,
        "SPARK_LOCAL_DIRS": work,
        "PYTHONHASHSEED": "0",
        # one BLAS thread in the driver too (the package already sets this
        # for its python workers): idle BLAS threads spinning on every core
        # made serve latency depend on thread scheduling
        "OMP_NUM_THREADS": "1",
        "OPENBLAS_NUM_THREADS": "1",
        "MKL_NUM_THREADS": "1",
    })
    cmd = [sys.executable, "-m", "perfbench.worker",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", work]
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=TIMEOUT_S)
        code = proc.returncode
    except subprocess.TimeoutExpired:
        print(f"workload {args.workload} exceeded {TIMEOUT_S} s", file=sys.stderr)
        out, code = b"", 1
    finally:
        proc.kill()
        proc.wait()
        _stop_session(proc.pid)
        shutil.rmtree(work, ignore_errors=True)
    text = out.decode()
    lines = text.rstrip("\n").split("\n")
    if code != 0 or not lines[-1].startswith("{"):
        sys.stderr.write(text)
        print(f"workload {args.workload} failed (exit {code})", file=sys.stderr)
        return code or 1
    sys.stdout.write(text)
    return 0


if __name__ == "__main__":
    sys.exit(main())
