"""The one fixture lifecycle (dwh_spark/fixtures.py): scratch dirs leave
no residue, memo hits only semantically identical frames, rotation
slots stay cached across repeated calls, and no module outside it
owns a temp dir or a fixture cache."""

from __future__ import annotations

import ast
import os
import pathlib
import subprocess
import sys
import textwrap
import threading

from pyspark import StorageLevel

from dwh_spark import fixtures

ROOT = pathlib.Path(__file__).resolve().parent.parent


def test_scratch_dirs_removed_at_exit(tmp_path):
    script = textwrap.dedent(
        """
        import os
        from dwh_spark.fixtures import scratch_dir
        dirs = [scratch_dir(p) for p in ("a_", "b_", "a_")]
        assert len(set(dirs)) == 3 and all(os.path.isdir(d) for d in dirs)
        open(os.path.join(dirs[0], "f"), "w").write("x")
        print(os.path.dirname(dirs[0]))
        """
    )
    env = dict(os.environ, TMPDIR=str(tmp_path), PYTHONPATH=str(ROOT))
    out = subprocess.run(
        [sys.executable, "-c", script], env=env, capture_output=True, text=True,
        timeout=120,
    )
    assert out.returncode == 0, out.stderr
    root = out.stdout.strip()
    assert os.path.dirname(root) == str(tmp_path)
    assert os.path.basename(root).startswith("dwh_")
    assert not [e for e in os.listdir(tmp_path) if e.startswith("dwh_")]


def test_memo_matches_like_frames_by_semantics(spark):
    builds = []

    def build():
        builds.append(1)
        return len(builds)

    a = spark.range(10).selectExpr("id * 2 AS v")
    same = spark.range(10).selectExpr("id * 2 AS v")
    other = spark.range(10).selectExpr("id * 3 AS v")
    key = ("test_memo_like",)
    assert fixtures.memo(spark, key, build, like=a) == 1
    assert fixtures.memo(spark, key, build, like=same) == 1
    assert fixtures.memo(spark, key, build, like=other) == 2
    assert fixtures.memo(spark, key, build, like=a) == 1
    assert len(builds) == 2


class _Frame:
    """Stands in for a DataFrame: records persist/unpersist calls."""

    def __init__(self, log):
        self.log = log

    def persist(self):
        self.log.append(("persist", self))
        return self

    def unpersist(self):
        self.log.append(("unpersist", self))


def test_hold_releases_before_persisting_under_concurrency():
    n_threads, n_rounds = 16, 50
    logs = {t: [] for t in range(n_threads)}
    last = {}

    def worker(t):
        slot = f"test_hold_stress_{t}"
        for _ in range(n_rounds):
            last[t] = fixtures.hold(slot, _Frame(logs[t]), _Frame(logs[t]))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(t,)) for t in range(n_threads)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(th.is_alive() for th in threads)
    for t, log in logs.items():
        # each round: release the previous pair, then persist the new one
        expected, prev = [], ()
        frames = [f for op, f in log if op == "persist"]
        assert len(frames) == 2 * n_rounds
        for i in range(n_rounds):
            new = frames[2 * i: 2 * i + 2]
            expected += [("unpersist", f) for f in prev] + [("persist", f) for f in new]
            prev = new
        assert log == expected, t
        assert fixtures._SLOTS[f"test_hold_stress_{t}"] == tuple(prev) == last[t]


def test_slot_frames_stay_cached_across_repeat_calls(spark, sf_dir):
    """A plan that repeats within a session must stay cached on every
    call, not only the first: persisting the new frame before releasing
    the old one dropped the shared CacheManager entry."""
    from dwh_spark.operators.similarity import train_semantic_cells
    from dwh_spark.plans.events import events_stalest_topk
    from dwh_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    for call in range(3):
        events_stalest_topk(spark, sf_dir).collect()
        (last_seen,) = fixtures._SLOTS["events_stalest"]
        assert last_seen.storageLevel != StorageLevel.NONE, call
        centroids, _ = train_semantic_cells(emb, rows_per_cell=64, n_iter=1)
        centroids.collect()
        (trained,) = fixtures._SLOTS["trained"]
        assert trained.storageLevel != StorageLevel.NONE, call


def test_one_owner_for_temp_dirs_and_fixture_caches():
    offenders = []
    for path in sorted((ROOT / "dwh_spark").rglob("*.py")):
        rel = path.relative_to(ROOT).as_posix()
        tree = ast.parse(path.read_text(), rel)
        if rel != "dwh_spark/fixtures.py":
            for node in ast.walk(tree):
                if isinstance(node, ast.Call):
                    fn = node.func
                    name = getattr(fn, "attr", getattr(fn, "id", ""))
                    if name == "mkdtemp":
                        offenders.append(f"{rel}:{node.lineno} calls mkdtemp")
        for stmt in tree.body:
            targets = (
                stmt.targets if isinstance(stmt, ast.Assign)
                else [stmt.target] if isinstance(stmt, ast.AnnAssign) else []
            )
            for t in targets:
                if (
                    isinstance(t, ast.Name)
                    and t.id.startswith("_")
                    and t.id.endswith("_CACHE")
                    and t.id != "_EXPR_CACHE"
                ):
                    offenders.append(f"{rel}:{stmt.lineno} defines {t.id}")
    assert not offenders, "\n".join(offenders)
