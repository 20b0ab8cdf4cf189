"""One benchmark run inside a fresh process: set up, time, check, trace.

Started by ``run.py`` with the run's temp root, Spark local dirs and
``PYTHONPATH`` already set; it takes one JSON argument (see ``run.py``)
and writes its result as JSON to ``cfg["result"]``. The engine receives
only ``(spark, sf_dir)``.

Order of work:

1. ``get_spark``, a scan of every fixture table, one untimed execution
   of each workload query whose collected rows are kept for the output
   check, and the workload's untimed settle passes through the timed
   (noop) path.
   ``setup_s`` ends here, at the first timed query.
2. Timed passes over the workload, each in its own seeded order, until
   the run has lasted ``seconds`` and made ``min_passes`` passes.
   With tracing on, passes alternate untraced and traced, and only the
   traced ones feed the per-layer metrics.
3. The output check: every query's rows against its DuckDB oracle.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import sys
import time
import traceback
from collections import defaultdict

import numpy as np

import dwh_spark.plans.all  # noqa: F401  (populates the registry)
from dwh_spark.plans.registry import ORACLES, QUERIES
from dwh_spark.session import get_spark
from dwh_spark.sources.catalog import load_tables

from tests.oracle_harness import compare, duckdb_connection

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from workloads import WORKLOADS  # noqa: E402


class _Collected:
    """The rows a query returned, shaped for ``oracle_harness.compare``."""

    def __init__(self, columns: list[str], rows: list[tuple]) -> None:
        self.columns = columns
        self._rows = rows

    def collect(self) -> list[tuple]:
        return self._rows


def _run_query(spark, name: str, sf_dir: str) -> tuple[float, float]:
    """Build and sink one query; returns (build seconds, sink seconds)."""
    t0 = time.perf_counter()
    df = QUERIES[name](spark, sf_dir)
    t1 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return t1 - t0, time.perf_counter() - t1


def _error(exc: BaseException) -> str:
    return f"{type(exc).__name__}: {str(exc).splitlines()[0] if str(exc) else ''}"[:300]


def _timed_passes(spark, cfg, wl, rng, tracer) -> tuple[list[dict], dict[str, str]]:
    """Run passes until the time and pass minimums are both met."""
    passes: list[dict] = []
    errors: dict[str, str] = {}
    min_passes = max(wl.min_passes, 4 if tracer is not None else 0)
    start = time.perf_counter()
    while time.perf_counter() - start < cfg["seconds"] or len(passes) < min_passes:
        order = list(wl.queries)
        rng.shuffle(order)
        # untraced, traced, traced, untraced, ...: drift within the run
        # weighs on both sides of the overhead estimate alike
        traced = tracer is not None and len(passes) % 4 in (1, 2)
        if traced:
            tracer.install()
        p = {"traced": traced, "latencies": [], "queries": []}
        p0 = time.perf_counter()
        for name in order:
            qid = f"p{len(passes)}.{name}"
            if traced:
                tracer.begin(qid, name)
            wall0 = time.time()
            try:
                build_s, sink_s = _run_query(spark, name, cfg["sf_dir"])
            except Exception as exc:  # noqa: BLE001  (one failure must not end the run)
                errors.setdefault(name, _error(exc))
                build_s = sink_s = None
            wall1 = time.time()
            if build_s is not None:
                p["latencies"].append((name, wall1 - wall0))
            if traced:
                p["queries"].append(tracer.end(wall0, wall1, build_s or 0.0, sink_s or 0.0))
        p["wall_s"] = time.perf_counter() - p0
        print(f"# pass {len(passes)}{' traced' if traced else ''}: {p['wall_s']:.2f}s "
              + " ".join(f"{n}={s:.2f}" for n, s in p["latencies"]), file=sys.stderr)
        if traced:
            tracer.uninstall()
        passes.append(p)
    return passes, errors


def _per_layer(traced: list[dict]) -> dict[str, float]:
    """Per-pass totals of every traced counter, median over traced passes."""
    totals = []
    for p in traced:
        t: dict[str, float] = defaultdict(float)
        for q in p["queries"]:
            for key, value in q["counters"].items():
                t[key] += value
            t["_wall"] += q["wall_s"]
        totals.append(t)
    keys = {k for t in totals for k in t}
    out = {k: statistics.median(t.get(k, 0.0) for t in totals) for k in keys}
    out["plans.gap_share"] = statistics.median(
        t["plans.driver_gap_s"] / t["_wall"] if t["_wall"] else 0.0 for t in totals)
    out["streaming.useful_batch_ratio"] = statistics.median(
        1.0 - t["streaming.empty_microbatches"] / t["streaming.microbatches"]
        if t["streaming.microbatches"] else 0.0 for t in totals)
    out["lifecycle.persisted_rdds_max"] = max(
        q["counters"]["lifecycle.persisted_rdds"] for p in traced for q in p["queries"])
    for key in ("_wall", "lifecycle.persisted_rdds"):
        out.pop(key, None)
    return out


def main() -> None:
    cfg = json.loads(sys.argv[1])
    wl = WORKLOADS[cfg["workload"]]
    rng = random.Random(cfg["seed"])
    sf_dir = cfg["sf_dir"]
    trace = bool(cfg["trace"])

    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{wl.name}")
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    for df in load_tables(spark, sf_dir).values():
        df.count()
    print(f"# session {t1 - t0:.2f}s, catalog {time.perf_counter() - t1:.2f}s",
          file=sys.stderr)
    collected: dict[str, _Collected] = {}
    errors: dict[str, str] = {}
    warm_order = list(wl.queries)
    rng.shuffle(warm_order)
    for name in warm_order:
        w0 = time.perf_counter()
        try:
            df = QUERIES[name](spark, sf_dir)
            collected[name] = _Collected(list(df.columns), [tuple(r) for r in df.collect()])
        except Exception as exc:  # noqa: BLE001
            errors[name] = _error(exc)
        print(f"# warm-up {name}: {time.perf_counter() - w0:.2f}s", file=sys.stderr)
    # untimed passes through the timed path, where the first noop
    # execution after the cold one is still far from steady
    for _ in range(wl.settle_passes):
        settle0 = time.perf_counter()
        for name in warm_order:
            try:
                _run_query(spark, name, sf_dir)
            except Exception as exc:  # noqa: BLE001
                errors.setdefault(name, _error(exc))
        print(f"# settle pass: {time.perf_counter() - settle0:.2f}s", file=sys.stderr)
    t2 = time.perf_counter()
    setup_s = time.time() - cfg["t_launch"]

    tracer = None
    if trace:
        from tracing import Tracer
        tracer = Tracer(spark)
    passes, run_errors = _timed_passes(spark, cfg, wl, rng, tracer)
    for name, err in run_errors.items():
        errors.setdefault(name, err)
    persisted_end = tracer.persisted_rdds() if tracer else None

    con = duckdb_connection(sf_dir)
    for name, rows in collected.items():
        if name not in ORACLES:
            errors[name] = "no oracle registered: output unchecked"
            continue
        try:
            compare(rows, con, ORACLES[name], name)
        except Exception as exc:  # noqa: BLE001  (mismatch or oracle failure)
            errors[name] = _error(exc)
    con.close()
    spark.stop()

    timed = [p for p in passes if not p["traced"]]
    lat = [s for p in timed for _, s in p["latencies"]]
    result = {
        "errors": errors,
        "samples": len(lat),
        "passes": len(timed),
        "tail_pct": wl.tail_pct,
        "end_to_end": {
            "setup_s": setup_s,
            "wall_s": statistics.median(p["wall_s"] for p in timed),
            "query_p50_s": float(np.percentile(lat, 50)) if lat else None,
            "query_tail_s": float(np.percentile(lat, wl.tail_pct)) if lat else None,
        },
        "per_layer": {
            "session.start_s": t1 - t0,
            "session.warm_s": t2 - t1,
        },
    }
    kernel_checks = 0
    if tracer is not None:
        import kernels
        traced = [p for p in passes if p["traced"]]
        layers = result["per_layer"]
        layers.update(_per_layer(traced))
        layers["lifecycle.persisted_rdds_end"] = persisted_end
        layers["trace.overhead_s"] = (
            statistics.median(p["wall_s"] for p in traced) - result["end_to_end"]["wall_s"])
        kernel_ms, wrong = kernels.measure(cfg["seed"])
        layers.update(kernel_ms)
        kernel_checks = len(kernel_ms)
        for kernel in wrong:
            errors[f"kernel:{kernel}"] = "decoded output differs from the encoder input"
        with open(cfg["spans"], "w") as fh:
            json.dump({"spans": tracer.spans,
                       "queries": [q for p in traced for q in p["queries"]]}, fh)
    # every timed execution of a query that raised or whose output is
    # wrong is a failure; so is each wrong kernel decode
    result["attempted"] = len(wl.queries) * len(timed) + kernel_checks
    result["failed"] = sum(len(timed) for n in wl.queries if n in errors) + sum(
        1 for k in errors if k.startswith("kernel:"))
    result["per_layer"]["error_rate"] = result["failed"] / result["attempted"]
    with open(cfg["result"], "w") as fh:
        json.dump(result, fh)


if __name__ == "__main__":
    try:
        main()
    except Exception:
        traceback.print_exc()
        sys.exit(1)
