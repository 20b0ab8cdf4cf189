"""Benchmark entry point: one isolated, seeded run of one workload.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 10 --trace 0

Runs against the repository's smallest test fixture, copied to
``perfbench/data/sf0.001``: it starts ``worker.py`` in a fresh process
with its own temp root (``TMPDIR``) and ``SPARK_LOCAL_DIRS`` under
``perfbench/.work``, samples
the summed RSS of that process tree from ``/proc``, then measures the
``dwh_*`` temp dirs the run left behind and removes the run's
directory. It prints each metric with its unit, then, as its last line,
one JSON object ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. Metric names, units and workloads are listed in
``BENCHMARK.json`` at the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from workloads import WORKLOADS  # noqa: E402

# lineitem 6,000 rows, orders 1,500, documents 500, embeddings 500
SF_DIR = os.path.join(HERE, "data", "sf0.001")
DEADLINE_S = 170.0  # a run must end within 180 s
RSS_PERIOD_S = 0.1
_MB = 1024.0 * 1024.0


def _stat(pid: str) -> list[str] | None:
    """Fields of ``/proc/<pid>/stat`` after the command name."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None  # exited while listing


def _session(sid: int) -> list[int]:
    """Live pids in session ``sid``: the worker, its JVM and the Python
    workers, which move to process groups of their own."""
    out = []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = _stat(entry)
            if fields and int(fields[3]) == sid and fields[0] != "Z":
                out.append(int(entry))
    return out


def _rss_bytes(pids: list[int]) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        except OSError:
            continue
    return total


class _RssSampler(threading.Thread):
    """Peak summed RSS of every process in a session."""

    def __init__(self, sid: int) -> None:
        super().__init__(daemon=True)
        self._sid = sid
        self._done = threading.Event()
        self.peak = 0

    def run(self) -> None:
        while not self._done.wait(RSS_PERIOD_S):
            self.peak = max(self.peak, _rss_bytes(_session(self._sid)))

    def stop(self) -> None:
        self._done.set()
        self.join()


def _stop_session(sid: int) -> None:
    """Kill whatever is left of the run's session and wait for it to go."""
    for _ in range(100):
        pids = _session(sid)
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.05)
    raise RuntimeError(f"processes of session {sid} survived SIGKILL")


def _residue(tmp_root: str) -> tuple[int, int]:
    """(count, bytes) of the ``dwh_*`` entries left in the temp root."""
    count = size = 0
    for entry in os.scandir(tmp_root):
        if not entry.name.startswith("dwh_"):
            continue
        count += 1
        if entry.is_dir(follow_symlinks=False):
            for base, _, files in os.walk(entry.path):
                for f in files:
                    size += os.lstat(os.path.join(base, f)).st_size
        else:
            size += entry.stat(follow_symlinks=False).st_size
    return count, size


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    """Run the workload once in a fresh worker process; returns its result."""
    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{workload}-", dir=os.path.join(HERE, ".work"))
    try:
        tmp_root = os.path.join(work, "tmp")
        os.makedirs(tmp_root)
        os.makedirs(os.path.join(work, "spark-local"))
        out_dir = os.path.join(HERE, "out")
        os.makedirs(out_dir, exist_ok=True)
        cfg = {
            "workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
            "sf_dir": SF_DIR, "result": os.path.join(work, "result.json"),
            "spans": os.path.join(out_dir, f"spans-{workload}-seed{seed}.json"),
        }
        env = dict(os.environ)
        env.update(
            TMPDIR=tmp_root,
            # the JVM's own temp files (artifact dirs, native libraries)
            SPARK_SUBMIT_OPTS=" ".join(
                p for p in (env.get("SPARK_SUBMIT_OPTS"), f"-Djava.io.tmpdir={tmp_root}") if p),
            SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
            SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
            # Python workers import dwh_spark from the repository root
            PYTHONPATH=os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        )
        cfg["t_launch"] = time.time()
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), json.dumps(cfg)],
            cwd=work, env=env, stdout=sys.stderr, start_new_session=True)
        sampler = _RssSampler(proc.pid)  # the worker leads its own session
        sampler.start()
        try:
            code = proc.wait(timeout=DEADLINE_S - (time.time() - cfg["t_launch"]))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            sampler.stop()
            _stop_session(proc.pid)
        if code != 0:
            raise RuntimeError(
                "worker timed out" if code is None else f"worker exited with {code}")
        with open(cfg["result"]) as fh:
            result = json.load(fh)
        dirs, residue = _residue(tmp_root)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    result["per_layer"]["peak_rss_mb"] = sampler.peak / _MB
    result["per_layer"]["tmp_residue_mb"] = residue / _MB
    result["per_layer"]["lifecycle.tmp_dirs_end"] = dirs
    return result


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    measured = {**result["end_to_end"], **result["per_layer"]}
    metrics = {}
    for m in wanted:
        value = measured.get(m["name"], 0.0)  # a layer the workload never entered
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
        shown = "n/a" if value is None else f"{value:.6f}"  # no query succeeded
        print(f"{args.workload:12s} {m['name']:34s} {shown:>14s} {m['unit']}")
    print(f"{args.workload:12s} samples {result['samples']} in {result['passes']} "
          f"untraced passes; query_tail_s is p{result['tail_pct']:.0f}")
    for name, err in sorted(result["errors"].items()):
        print(f"{args.workload:12s} FAILED {name}: {err}")
    print(json.dumps({
        "correct": not result["errors"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
