"""graft benchmark: one workload, one run, one JSON result line.

    python3 perfbench/run.py --workload crawl_pipeline --seed 42 --seconds 10 --trace 0

Run from the root of a graft checkout. Builds graft and the harness when
their sources changed (``perfbench/build.py``), runs one benchmark JVM at
``local[4]`` in a fresh work dir under ``.bench_build/``, checks the
outputs, prints every metric by name with its unit, and ends with one JSON
object. With ``--trace 0`` it reports the end-to-end metrics, with
``--trace 1`` the per-layer ones. Exits 1 when an output check failed or
the run could not be made.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import harness  # noqa: E402

WORKLOADS = ("crawl_pipeline", "doc_dedup", "pagerank_static", "pagerank_converge")
RUN_TIMEOUT_S = 170
# the result of a run whose JVM died before writing its record: one
# attempt, failed
DIED = {"correct": False, "attempted": 1, "failed": 1, "metrics": {}}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    root = os.getcwd()
    # a terminated run still stops its JVM and removes its work dir: the
    # finally blocks below run on the way out
    signal.signal(signal.SIGTERM, lambda signum, _: sys.exit(128 + signum))

    try:
        out_dir = build.build(root)
    except build.BuildError as e:
        sys.exit(f"perfbench: build failed: {e}")

    work = os.path.join(root, build.OUT, "runs", f"{os.getpid()}-{time.time_ns()}")
    os.makedirs(work)
    try:
        raw = run_jvm(root, work, args)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if raw is None:
        print(json.dumps(DIED))
        return 1

    digest = harness.digest_of(raw)
    result, problems = checked_report(raw, bool(args.trace),
                                      os.path.join(out_dir, "digests.json"),
                                      f"{args.workload}/{args.seed}")
    print(f"perfbench workload={args.workload} seed={args.seed} trace={args.trace} "
          f"attempted={result['attempted']} failed={result['failed']} digest={digest}")
    for p in problems:
        print(f"  check failed: {p}")
    for name, m in result["metrics"].items():
        print(f"  {name:<26} {m['value']:.6g} {m['unit']}")
    print(json.dumps(result))
    return 0 if result["correct"] else 1


def checked_report(raw, trace, ledger_path, key):
    """``harness.report`` of ``raw``, whose digest must also match the one
    an earlier correct run of this build recorded for ``key`` (a workload
    and seed) in the ledger. The first correct run records it."""
    earlier = recorded_digest(ledger_path, key)
    result, problems = harness.report(raw, trace, earlier)
    if result["correct"] and earlier is None:
        record_digest(ledger_path, key, harness.digest_of(raw))
    return result, problems


def recorded_digest(ledger_path, key):
    """The digest an earlier correct run of this build recorded for ``key``
    (a workload and seed), or None."""
    if not os.path.exists(ledger_path):
        return None
    with open(ledger_path) as f:
        return json.load(f).get(key)


def record_digest(ledger_path, key, digest):
    ledger = {}
    if os.path.exists(ledger_path):
        with open(ledger_path) as f:
            ledger = json.load(f)
    ledger[key] = digest
    tmp = ledger_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(ledger, f)
    os.replace(tmp, ledger_path)


def run_jvm(root, work, args):
    """One benchmark JVM; returns its raw record, or None when it died
    without writing one. The JVM is always waited for, and killed first if
    it outlives the time limit or this process is stopped."""
    cmd = build.main_command(root, work, [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace)])
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as f:
        proc = subprocess.Popen(cmd, cwd=root, stdout=f, stderr=subprocess.STDOUT)
        try:
            proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            pass
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    out = os.path.join(work, "raw.json")
    if not os.path.exists(out):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        sys.stderr.write(f"perfbench: the benchmark JVM exited with code {proc.returncode} "
                         "and wrote no result\n")
        return None
    with open(out) as f:
        return json.load(f)


if __name__ == "__main__":
    sys.exit(main())
