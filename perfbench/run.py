"""Benchmark entry point.

    python3 perfbench/run.py --workload {olap,lifecycle,vector} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. Each run gets its own scratch directory
under ``.perfbench_runs/`` with ``TMPDIR`` and ``SPARK_LOCAL_DIRS``
pointing into it and the repository root on ``PYTHONPATH`` (Python
workers start from another cwd), and runs ``harness.py`` in a fresh
process group. Host contention (``bench._competing_cpu`` and
``bench._calibrate``) is recorded before and after the run, and the CPU
time the hypervisor stole during it, and reported on stderr; a polluted
run is flagged, never rescaled. At exit every
process of the group is stopped and waited for, and the scratch
directory is deleted. The last stdout line is the harness's JSON result.
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
PKG = "flink_connector_lance_spark"
# leaves room for the host probes and the reap inside the 180 s a run may take
RUN_TIMEOUT_S = 150
# a run that lost more than this share of its CPU time to the hypervisor is
# flagged: on a 4-core box a quiet host stole under 4% of a run, a busy one
# 6-10%, and the busy runs read up to 40% slower
STEAL_POLLUTED = 0.05


def host_probe(bench) -> dict:
    c1, cn, eff = bench._calibrate()
    return {"competing_cores": round(bench._competing_cpu(), 2),
            "calib_1c": c1, "calib_nc": cn, "calib_eff_cores": eff}


def polluted(probe: dict, ncpu: int) -> bool:
    """bench.py's own thresholds: >2 competing cores, or fewer than
    0.375*N effective cores delivered to the calibration probe."""
    return probe["competing_cores"] > 2.0 or probe["calib_eff_cores"] < max(1.0, 0.375 * ncpu)


def steal_seconds() -> float:
    """CPU seconds the hypervisor has withheld from this machine's CPUs
    while they had work (the steal column of /proc/stat), summed over CPUs.
    The calibration probes before and after a run do not see it, and it is
    the largest source of run-to-run spread on a shared host."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def group_pids(pgid: int) -> list[int]:
    out = []
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            out.append(int(p))
    return out


def reap_group(pgid: int, grace_s: float = 10.0) -> None:
    """Stop every process left in the run's process group and wait until
    none remains."""
    deadline = time.monotonic() + grace_s
    sig = signal.SIGTERM
    while True:
        pids = group_pids(pgid)
        if not pids:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        time.sleep(0.2)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")) or \
            not os.path.isfile(os.path.join(ROOT, "bench.py")):
        print(f"perfbench: no {PKG} package or bench.py under {ROOT}", file=sys.stderr)
        return 2
    ncpu = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(ncpu)
    sys.path.insert(0, ROOT)
    import bench

    run_dir = os.path.join(ROOT, ".perfbench_runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    tmp, local = os.path.join(run_dir, "tmp"), os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    pypath = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # the JVMs' temp files go to the run dir as well (spark-submit's own
    # launcher JVM and the Spark JVM), and their perf counters stay in
    # memory instead of the shared hsperfdata directory
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem"
    env = dict(os.environ, TMPDIR=tmp, SPARK_LOCAL_DIRS=local, PYTHONPATH=pypath,
               SPARK_GRAFT_CPUS=str(ncpu), SPARK_GRAFT_DRIVER_MEM="2g",
               SPARK_SUBMIT_OPTS=jvm_opts, SPARK_LAUNCHER_OPTS=jvm_opts)
    cmd = [sys.executable, os.path.join(HERE, "harness.py"), "--workload", a.workload,
           "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--run-dir", run_dir]
    # a SIGTERM from the caller still reaps the group and deletes run_dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    proc = None
    try:
        before = host_probe(bench)
        steal0, t0 = steal_seconds(), time.monotonic()
        proc = subprocess.Popen(cmd, env=env, cwd=ROOT, stdout=subprocess.PIPE,
                                start_new_session=True, text=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            print(f"perfbench: run exceeded {RUN_TIMEOUT_S}s", file=sys.stderr)
            return 3
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGTERM)
            reap_group(proc.pid)
            proc.wait()
        # share of the run's CPU capacity (N CPUs x wall time) stolen
        steal = (steal_seconds() - steal0) / (ncpu * (time.monotonic() - t0))
        after = host_probe(bench)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass
    flag = polluted(before, ncpu) or polluted(after, ncpu) or steal > STEAL_POLLUTED
    print("perfbench: host " + json.dumps({"before": before, "after": after,
                                           "steal_share": round(steal, 4),
                                           "polluted": flag}), file=sys.stderr)
    lines = [ln for ln in out.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines:
        print(f"perfbench: harness exited {proc.returncode}", file=sys.stderr)
        return 1
    result = json.loads(lines[-1])
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
