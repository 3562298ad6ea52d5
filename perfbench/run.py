"""spark-docext benchmark: closed-loop workloads, cold-first.

    python3 perfbench/run.py --workload {pipeline,queries}
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. The benchmark process is the only client:
it builds the seeded inputs (cached per seed), then starts one fresh
sample process pinned to the machine's cores that sets up Spark on
`local[<cores>]` and runs the workload's pass cold, one job at a time.
Passes repeat in fresh processes until `--seconds` of measuring time have
passed; every metric is the median over the passes.

The last stdout line is one JSON object. With `--trace 0` it carries the
end-to-end metrics; with `--trace 1` the Spark event log is on and it
carries the per-layer metrics (see BENCHMARK.json, and `selfcheck.py` for
the tracing overhead and the corrupted-golden check).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("pipeline", "queries")
SAMPLE_TIMEOUT_S = 150
DRIVER_MEM = "3g"


def _session_pids(sid: int) -> list[int]:
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields 3 and 6 of stat: state and session id; a zombie is
        # already gone and waits only for its parent to reap it
        if fields[0] != "Z" and int(fields[3]) == sid:
            pids.append(int(name))
    return pids


def _peak_rss_mb(pid: int) -> float:
    """VmHWM: the kernel's record of a process's peak resident set."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1e3
    except OSError:
        pass
    return 0.0


class PeakRss(threading.Thread):
    """Sum over the processes of a session (the sample, the driver JVM
    and its Python workers) of each one's peak resident set, polled so
    that processes which exit early still count. Peaks of workers that
    did not live at the same time add up too: the figure is an upper
    bound of the tree's peak, steady from run to run."""

    def __init__(self, sid: int, interval: float = 0.2):
        super().__init__(daemon=True)
        self.sid, self.interval = sid, interval
        self.peaks: dict[int, float] = {}
        self._halt = threading.Event()

    def _poll(self) -> None:
        for pid in _session_pids(self.sid):
            self.peaks[pid] = max(self.peaks.get(pid, 0.0), _peak_rss_mb(pid))

    def run(self):
        while not self._halt.wait(self.interval):
            self._poll()

    def stop(self) -> float:
        self._halt.set()
        self.join()
        self._poll()
        return sum(self.peaks.values())


def _reap_session(sid: int) -> None:
    """Stop whatever the sample left running in its session and wait
    until it is gone."""
    deadline = time.time() + 20
    while _session_pids(sid):
        try:
            os.killpg(sid, signal.SIGKILL)
        except ProcessLookupError:
            return
        if time.time() > deadline:
            raise RuntimeError(f"processes of session {sid} did not exit")
        time.sleep(0.1)


def run_sample(workload: str, inputs: str, seed: int, trace: int,
               corrupt: bool = False) -> dict:
    """One fresh, pinned sample process; returns its measurements,
    among them the peak RSS of its process tree (the benchmark process,
    which builds the inputs, is not part of it)."""
    cpus = sorted(os.sched_getaffinity(0))
    work = os.path.join(HERE, "_work", f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(work, d))
    out = os.path.join(work, "result.json")
    env = dict(
        os.environ,
        # executors import the package by name
        PYTHONPATH=os.pathsep.join([ROOT, HERE]),
        PYSPARK_PYTHON=sys.executable,
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        TMPDIR=os.path.join(work, "tmp"),
        SPARK_DRIVER_MEM=DRIVER_MEM,
        # JVM temporary files stay in the sample's directory
        _JAVA_OPTIONS="-XX:-UsePerfData -Djava.io.tmpdir="
        + os.path.join(work, "tmp"),
        SPARK_GRAFT_CPUS=str(len(cpus)),
    )
    # local[N] does not bound Python-worker CPU: pin the whole tree
    pin = (["taskset", "-c", ",".join(map(str, cpus))]
           if shutil.which("taskset") else [])
    cmd = pin + [
        sys.executable, os.path.join(HERE, "sample.py"),
        "--workload", workload, "--inputs", inputs, "--seed", str(seed),
        "--work", work,
        "--cores", str(len(cpus)), "--trace", str(trace), "--out", out,
    ] + (["--corrupt-golden"] if corrupt else [])
    try:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=sys.stderr,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=SAMPLE_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            _reap_session(proc.pid)
            proc.wait()
        if code != 0:
            raise RuntimeError(f"{workload} sample failed (exit {code})")
        with open(out) as f:
            res = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return res


def end_to_end(samples: list[dict]) -> dict:
    med = statistics.median
    return {
        "setup_s": med(s["setup_s"] for s in samples),
        "wall_s": med(s["wall_s"] for s in samples),
        "op_p50_s": med(med(s["op_walls"]) for s in samples),
        "peak_rss_mb": med(s["peak_rss_mb"] for s in samples),
    }


def per_layer(samples: list[dict]) -> dict:
    med = statistics.median
    m = {
        name: med(s["layers"][name] for s in samples)
        for name in samples[0]["layers"]
    }
    m["kernel.us_per_doc_1t"] = med(s["kernel_us_per_doc"] for s in samples)
    # the traced run's own setup and headline wall: minus the plain run's
    # setup_s and wall_s, they are the tracing overhead
    m["trace.setup_s"] = med(s["setup_s"] for s in samples)
    m["trace.wall_s"] = med(s["wall_s"] for s in samples)
    return m


def _units() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"]
            for m in spec["end_to_end"] + spec["per_layer"]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops and reaps its sample (finally blocks)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")):
        print(f"perfbench: no spark-docext checkout at {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)  # the generators import the package
    import gen

    inputs = gen.ensure_inputs(os.path.join(HERE, "_cache"),
                               args.workload, args.seed)
    samples = []
    t_end = time.monotonic() + args.seconds
    while not samples or time.monotonic() < t_end:
        samples.append(run_sample(args.workload, inputs, args.seed,
                                  args.trace))

    attempted = sum(s["attempted"] for s in samples)
    failed = sum(s["failed"] for s in samples)
    metrics = per_layer(samples) if args.trace else end_to_end(samples)
    units = _units()
    for s in samples:
        print(f"\nperfbench: {args.workload} sample: setup {s['setup_s']:.1f}"
              f" s, timed pass {s['wall_s']:.1f} s, checks "
              f"{s['check_s']:.1f} s, kernel probe "
              f"{s['kernel_us_per_doc']:.0f} us/doc", file=sys.stderr)
    print(f"perfbench: {args.workload} samples={len(samples)} "
          f"attempted={attempted} failed={failed} "
          f"fail_ratio={failed / attempted:.4f}", file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
