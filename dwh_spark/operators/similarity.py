"""Similarity search over embedding columns (array<float>).

Three tiers, mirroring how a 100 TB vector corpus is actually served:

1. ``cosine_topk`` — brute-force exact top-k: broadcast the (small)
   query set against every vector. O(N·Q) — the correctness baseline
   and the right plan when Q is small; one scan, no shuffle of the
   corpus side, window top-k per query.
2. ``lsh_topk`` — random-hyperplane LSH: 8 fixed ±1 hyperplanes
   (md5-derived constants, embedded identically in the DuckDB oracle)
   bucket vectors by sign pattern; queries search only their bucket.
   The scale path: bucket join is an equi-join on an 8-bit key.
3. ``ivf_topk`` — IVF: seed centroids refinable with the distributed
   Lloyd step (``kmeans_iterate``), vectors assigned to the nearest
   centroid, queries probe their cell only. The oracle-gated queries
   use the deterministic seed centroids so DuckDB can replicate them;
   the train step is pinned by its own convergence test.

All arithmetic is sequential double folds (``aggregate``/Spark,
``list_reduce``/DuckDB) which are bit-identical across engines —
verified against DuckDB 1.0; the float32 built-ins
(list_cosine_similarity) are NOT used for exactly that reason.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dwh_spark.fixtures import hold

N_PLANES = 8
DIM = 64


def hyperplane_signs(n_planes: int = N_PLANES, dim: int = DIM) -> list[list[int]]:
    """Deterministic ±1 hyperplanes: sign(p,d) from md5 parity. The
    same constants are embedded in the SQL oracle."""
    return [
        [
            1 if int(hashlib.md5(f"{p}:{d}".encode()).hexdigest()[:2], 16) % 2 == 0 else -1
            for d in range(dim)
        ]
        for p in range(n_planes)
    ]


def _dot_expr(a: str, b: str) -> str:
    """Sequential double-fold dot product (deterministic order)."""
    return (
        f"aggregate(zip_with(transform({a}, x -> cast(x as double)), "
        f"transform({b}, x -> cast(x as double)), (x, y) -> x * y), "
        f"cast(0.0 as double), (acc, x) -> acc + x)"
    )


def _norm2_expr(a: str) -> str:
    return (
        f"aggregate(transform({a}, x -> cast(x as double)), "
        f"cast(0.0 as double), (acc, x) -> acc + x * x)"
    )


def with_norm(df: DataFrame, vec: str = "embedding") -> DataFrame:
    return df.withColumn("norm2", F.expr(_norm2_expr(vec)))


def cosine_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec: str = "embedding",
    key: str = "vec_id",
) -> DataFrame:
    """Exact brute-force cosine top-k of ``vectors`` per row of
    ``queries`` (self-matches excluded). Query side is broadcast."""
    v = with_norm(vectors, vec).select(
        F.col(key).alias("vec_id"), F.col(vec).alias("v_emb"), F.col("norm2").alias("v_norm2")
    )
    q = with_norm(queries, vec).select(
        F.col(key).alias("query_id"), F.col(vec).alias("q_emb"), F.col("norm2").alias("q_norm2")
    )
    scored = (
        v.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .withColumn("dot", F.expr(_dot_expr("v_emb", "q_emb")))
        .withColumn(
            "cosine", F.round(F.col("dot") / (F.sqrt("v_norm2") * F.sqrt("q_norm2")), 6)
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "vec_id", "cosine", "rnk")
    )


def _signed_dot_expr(vec: str, signs: list[int]) -> str:
    """dot(v, h) for a ±1 hyperplane — sequential double fold against a
    literal sign array."""
    arr = "array(" + ", ".join(str(s) for s in signs) + ")"
    return (
        f"aggregate(zip_with(transform({vec}, x -> cast(x as double)), "
        f"transform({arr}, s -> cast(s as double)), (x, s) -> x * s), "
        f"cast(0.0 as double), (acc, x) -> acc + x)"
    )


def lsh_bucket(df: DataFrame, vec: str = "embedding") -> DataFrame:
    """8-bit sign-pattern bucket id per vector."""
    planes = hyperplane_signs()
    bucket = sum(
        (
            F.when(F.expr(_signed_dot_expr(vec, signs)) > 0, 1 << p).otherwise(0)
            for p, signs in enumerate(planes)
        ),
        F.lit(0),
    )
    return df.withColumn("bucket", bucket)


def lsh_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec: str = "embedding",
    key: str = "vec_id",
) -> DataFrame:
    """Approximate top-k: candidates limited to the query's LSH bucket."""
    v = lsh_bucket(with_norm(vectors, vec), vec).select(
        F.col(key).alias("vec_id"), F.col(vec).alias("v_emb"),
        F.col("norm2").alias("v_norm2"), "bucket",
    )
    q = lsh_bucket(with_norm(queries, vec), vec).select(
        F.col(key).alias("query_id"), F.col(vec).alias("q_emb"),
        F.col("norm2").alias("q_norm2"), "bucket",
    )
    scored = (
        v.join(F.broadcast(q), "bucket")
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("dot", F.expr(_dot_expr("v_emb", "q_emb")))
        .withColumn(
            "cosine", F.round(F.col("dot") / (F.sqrt("v_norm2") * F.sqrt("q_norm2")), 6)
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "vec_id", "bucket", "cosine", "rnk")
    )


def cosine_near_duplicates(
    vectors: DataFrame,
    threshold: float,
    vec: str = "embedding",
    key: str = "vec_id",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, LSH-bucketed (the dedup
    framing of similarity search): only pairs whose sign patterns
    collide are scored, so the join is an equi-join on the 8-bit
    bucket — never all-pairs. Recall is bounded by bucket collision
    probability (1 − θ/π per plane); raise ``N_PLANES`` bands or probe
    neighboring buckets for higher recall at scale.

    Returns (id_a, id_b, cosine) with id_a < id_b, cosine ≥ threshold.
    """
    v = lsh_bucket(with_norm(vectors, vec), vec)
    a = v.select(
        F.col(key).alias("id_a"), F.col(vec).alias("ea"), F.col("norm2").alias("na"), "bucket"
    )
    b = v.select(
        F.col(key).alias("id_b"), F.col(vec).alias("eb"), F.col("norm2").alias("nb"), "bucket"
    )
    return (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cosine",
            F.round(F.expr(_dot_expr("ea", "eb")) / (F.sqrt("na") * F.sqrt("nb")), 6),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def assign_cells(
    vectors: DataFrame, centroids: DataFrame, vec: str = "embedding", key: str = "vec_id"
) -> DataFrame:
    """IVF cell assignment: nearest centroid by cosine (ties → lower
    centroid id). Centroids are broadcast."""
    c = with_norm(centroids, vec).select(
        F.col(key).alias("centroid_id"), F.col(vec).alias("c_emb"), F.col("norm2").alias("c_norm2")
    )
    v = with_norm(vectors, vec)
    scored = (
        v.crossJoin(F.broadcast(c))
        .withColumn("dot", F.expr(_dot_expr(vec, "c_emb")))
        .withColumn("cos_c", F.round(F.col("dot") / (F.sqrt("norm2") * F.sqrt("c_norm2")), 6))
    )
    w = Window.partitionBy(key).orderBy(F.desc("cos_c"), F.asc("centroid_id"))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(key, vec, "norm2", F.col("centroid_id").alias("cell"))
    )


def semantic_prune(
    vectors: DataFrame,
    centroids: DataFrame,
    threshold: float,
    vec: str = "embedding",
    key: str = "vec_id",
) -> DataFrame:
    """SemDeDup-shape semantic dedup (Abbas et al. 2023,
    arXiv:2303.09540): cluster embeddings into cells, score cosine
    only WITHIN each cell, prune every vector that has a
    smaller-keyed cell-mate with cosine >= threshold.

    The keep rule is the deterministic "exists smaller similar
    neighbor" form: pruning decisions need no iteration and compile
    to one within-cell self-equi-join + semi-join — SQL-expressible,
    so the whole decision is oracle-checkable. (SemDeDup proper keeps
    one representative per epsilon-ball via a greedy pass; the
    exists-rule is its order-fixed variant — marginally more
    aggressive on similarity chains a~b~c, identical on the tight
    clusters the method targets.)

    100 TB design: cell assignment is a broadcast cross-score (one
    corpus scan), pairing is an equi-join ON CELL — quadratic only
    within a cell (~(n/n_cells)^2 per cell), never all-pairs. Scale
    n_cells with the corpus to hold cell population ~constant; skewed
    cells are ordinary join skew (AQE splits them, or the MG sketch +
    targeted salting in operators/skew.py if one cell dominates).

    Returns the cell assignment plus a ``pruned`` flag:
    (key, cell, pruned) — callers anti-join or filter.
    """
    cells = assign_cells(vectors, centroids, vec=vec, key=key)
    a = cells.select(
        F.col(key).alias("id_a"), F.col(vec).alias("ea"), F.col("norm2").alias("na"), "cell"
    )
    b = cells.select(
        F.col(key).alias("id_b"), F.col(vec).alias("eb"), F.col("norm2").alias("nb"), "cell"
    )
    pruned_ids = (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cosine",
            F.round(F.expr(_dot_expr("ea", "eb")) / (F.sqrt("na") * F.sqrt("nb")), 6),
        )
        .filter(F.col("cosine") >= threshold)
        .select(F.col("id_b").alias(key))
        .distinct()
    )
    flagged = cells.join(
        pruned_ids.withColumn("__pruned", F.lit(True)), key, "left"
    )
    return flagged.select(
        key, "cell", F.coalesce("__pruned", F.lit(False)).alias("pruned")
    )


def assign_cells_vectorized(
    vectors: DataFrame, centroids: DataFrame, vec: str = "embedding", key: str = "vec_id"
) -> DataFrame:
    """:func:`assign_cells` on the FAST path: the centroid matrix
    collects once (n_cells × d — small by construction) and every
    Arrow batch scores against it with one BLAS matmul instead of
    n_cells fold expressions per row. Same nearest-centroid rule and
    tie-break (max cosine, then lowest centroid id — centroids sorted
    by id so argmax's first-occurrence IS the lowest id). The fold
    variant is O(n · n_cells · d) in Catalyst expression evaluations —
    fine at 8 fixture cells, dominant at the 1024-cell scale the
    vectorized prune targets (measured: 200k×1024 assignment fell from
    ~140 s of the 147 s total to ~11 s end-to-end)."""
    import numpy as np
    from pyspark.sql.types import (
        ArrayType, DoubleType, FloatType, LongType,
        StructField as SF, StructType as ST,
    )

    crows = with_norm(centroids, vec).select(key, vec, "norm2").collect()
    order = sorted(range(len(crows)), key=lambda i: crows[i][key])
    c_ids = np.array([crows[i][key] for i in order], dtype=np.int64)
    c_mat = np.array([crows[i][vec] for i in order], dtype=np.float64)
    c_norm = np.sqrt(np.array([crows[i]["norm2"] for i in order], dtype=np.float64))

    out_schema = ST([
        SF(key, LongType()),
        SF(vec, ArrayType(FloatType())),
        SF("norm2", DoubleType()),
        SF("cell", LongType()),
    ])

    def assign(batches):
        import pandas as pd

        for pdf in batches:
            mat = np.vstack(pdf[vec].to_numpy()).astype(np.float64)
            norm2 = (mat * mat).sum(axis=1)
            cos = np.round(
                (mat @ c_mat.T) / (np.sqrt(norm2)[:, None] * c_norm[None, :]), 6
            )
            yield pd.DataFrame({
                key: pdf[key].values,
                vec: pdf[vec].values,
                "norm2": norm2,
                "cell": c_ids[np.argmax(cos, axis=1)],
            })

    return vectors.select(key, vec).mapInPandas(assign, out_schema)


def semantic_prune_vectorized(
    vectors: DataFrame,
    centroids: DataFrame,
    threshold: float,
    vec: str = "embedding",
    key: str = "vec_id",
    vectorized_assign: bool = True,
) -> DataFrame:
    """:func:`semantic_prune` on the FAST path: same cells, same
    exists-smaller-similar rule, but each cell's pairwise cosines come
    from one BLAS gram matrix (m×d @ d×m) inside ``applyInPandas``
    instead of per-pair fold expressions — the :func:`cosine_topk` /
    :func:`cosine_topk_vectorized` split applied to dedup. By default
    the cell ASSIGNMENT is vectorized too
    (:func:`assign_cells_vectorized` — one broadcast centroid matmul
    per Arrow batch): the fold assignment is O(n·n_cells·d) Catalyst
    expression evaluations and dominates end-to-end at real cell
    counts (measured 200k×1024: ~140 s of a 147 s total; vectorized
    ~11 s end-to-end). Pass ``vectorized_assign=False`` to keep the
    fold assignment when exact cell parity with the SQL oracle
    matters more than speed.

    The fold variant stays the oracle-exact reference (sequential
    summation DuckDB replicates bit-for-bit); this one is for corpus
    scale, where per-pair higher-order-function folds lose to BLAS by
    an order of magnitude at transformer dims. Parity caveat (same as
    cosine_topk_vectorized): summation order differs, so a pair — or,
    with ``vectorized_assign``, a vector's nearest-centroid choice —
    whose unrounded cosine sits within float-association distance
    (~1e-12) of the 6-decimal rounding boundary can flip — tests pin
    agreement away from that measure-zero band.

    Memory: one cell's gram needs m·B doubles per column block
    (B=1024 below) — size ``n_cells`` to keep cell populations in the
    low thousands, the same guidance as the fold variant, which is
    quadratic in m per cell regardless of path.
    """
    assign = assign_cells_vectorized if vectorized_assign else assign_cells
    cells = assign(vectors, centroids, vec=vec, key=key)
    return cells.select(key, vec, "cell").groupBy("cell").applyInPandas(
        _cell_gram_pruner(vec, key, threshold),
        f"{key} long, cell long, pruned boolean",
    )


def _cell_gram_pruner(vec: str, key: str, threshold: float):
    """Per-cell BLAS exists-rule pruner shared by
    :func:`semantic_prune_vectorized` and the hot/cold split variant:
    one applyInPandas group = one cell; m×B gram blocks; column i is
    pruned iff ANY strictly smaller row scores >= threshold (pruned
    rows still count — the exists-rule, identical to the fold variant
    and the SQL oracle)."""
    import numpy as np

    def prune_cell(pdf):
        import pandas as pd

        pdf = pdf.sort_values(key).reset_index(drop=True)
        m = len(pdf)
        mat = np.vstack(pdf[vec].to_numpy()).astype(np.float64)
        norms = np.sqrt((mat * mat).sum(axis=1))
        pruned = np.zeros(m, dtype=bool)
        block = 1024
        for c0 in range(0, m, block):
            c1 = min(c0 + block, m)
            cos = np.round(
                (mat @ mat[c0:c1].T) / (norms[:, None] * norms[None, c0:c1]), 6
            )
            sim = cos >= threshold
            rows = np.arange(m)[:, None]
            cols = np.arange(c0, c1)[None, :]
            pruned[c0:c1] |= (sim & (rows < cols)).any(axis=0)
        return pd.DataFrame(
            {key: pdf[key].values, "cell": pdf["cell"].values, "pruned": pruned}
        )

    return prune_cell


def semantic_prune_vectorized_skew_split(
    vectors: DataFrame,
    centroids: DataFrame,
    threshold: float,
    vec: str = "embedding",
    key: str = "vec_id",
    hot_fraction: float = 0.2,
    n_blocks: int = 8,
    vectorized_assign: bool = True,
) -> DataFrame:
    """The full 100 TB semantic-dedup path: BLAS pair scoring
    (:func:`semantic_prune_vectorized`) COMPOSED WITH the mega-cell
    block split (:func:`semantic_prune_skew_split`).

    The plain vectorized prune has the same straggler the fold prune
    has — ``applyInPandas`` hands each cell to ONE worker — plus a
    memory wall: a cell of m rows needs an m×block gram, so a 500k-row
    mega-cell both straggles and OOMs its worker. Here MG-discovered
    hot cells (certified superset) are routed through per-BUCKET gram
    matrices instead: rows are tagged with a deterministic block id,
    side A replicates across b-blocks, side B across a-blocks, and
    each (cell, block_a, block_b) bucket computes one
    (m/n_blocks)×(m/n_blocks) cross-gram — bounded task time AND
    bounded worker memory, n_blocks² even buckets in parallel. Cold
    cells take the plain per-cell gram.

    Same arithmetic as the BLAS path (np.round 6), so results match
    :func:`semantic_prune_vectorized` exactly, and match the fold
    variants away from the ~1e-12 rounding band (tests pin both).
    Size ``n_blocks`` so (hot_m/n_blocks)·d and the bucket gram fit
    worker memory — at 500k rows and 8 blocks each bucket holds two
    62.5k-row slabs.
    """
    import numpy as np

    assign = assign_cells_vectorized if vectorized_assign else assign_cells
    (cells,) = hold("skew_cells", assign(vectors, centroids, vec=vec, key=key))
    hot = discover_hot_cells(cells, hot_fraction=hot_fraction, key=key)
    is_hot = F.col("cell").isin(hot) if hot else F.lit(False)

    cold_flagged = (
        cells.filter(~is_hot)
        .select(key, vec, "cell")
        .groupBy("cell")
        .applyInPandas(
            _cell_gram_pruner(vec, key, threshold),
            f"{key} long, cell long, pruned boolean",
        )
    )

    hot_rows = cells.filter(is_hot).select(key, vec, "cell")
    blk = F.pmod(F.xxhash64(F.col(key)), F.lit(n_blocks)).cast("int")
    every = F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1)))
    side_a = hot_rows.select(
        key, vec, "cell", F.lit(0).alias("__side"), blk.alias("__ba"), every.alias("__bb")
    )
    side_b = hot_rows.select(
        key, vec, "cell", F.lit(1).alias("__side"), every.alias("__ba"), blk.alias("__bb")
    )

    def prune_bucket(pdf):
        import pandas as pd

        a = pdf[pdf["__side"] == 0]
        b = pdf[pdf["__side"] == 1]
        if len(a) == 0 or len(b) == 0:
            return pd.DataFrame({key: np.array([], dtype=np.int64)})
        mat_a = np.vstack(a[vec].to_numpy()).astype(np.float64)
        mat_b = np.vstack(b[vec].to_numpy()).astype(np.float64)
        na = np.sqrt((mat_a * mat_a).sum(axis=1))
        nb = np.sqrt((mat_b * mat_b).sum(axis=1))
        cos = np.round((mat_a @ mat_b.T) / (na[:, None] * nb[None, :]), 6)
        ids_a = a[key].to_numpy()[:, None]
        ids_b = b[key].to_numpy()[None, :]
        hit = ((cos >= threshold) & (ids_a < ids_b)).any(axis=0)
        return pd.DataFrame({key: b[key].to_numpy()[hit]})

    hot_pruned = (
        side_a.unionByName(side_b)
        .groupBy("cell", "__ba", "__bb")
        .applyInPandas(prune_bucket, f"{key} long")
        .distinct()
    )
    hot_flagged = (
        hot_rows.join(hot_pruned.withColumn("__pruned", F.lit(True)), key, "left")
        .select(key, "cell", F.coalesce("__pruned", F.lit(False)).alias("pruned"))
    )
    return cold_flagged.unionByName(hot_flagged)


def discover_hot_cells(
    cells: DataFrame,
    hot_fraction: float = 0.05,
    key: str = "vec_id",
    k: int = 64,
    n_parts: int = 32,
) -> list[int]:
    """Misra-Gries discovery over the ``cell`` column of an
    :func:`assign_cells` output: returns a GUARANTEED SUPERSET of
    every cell holding >= ``hot_fraction`` of all rows (``est +
    err_bound >= hot_fraction * n`` selects it — the same certified
    bound as the events hot-key path, ``operators/sketch.py:mg_merge``).
    One pass, O(k) sketch state, no exact per-cell count job."""
    from dwh_spark.operators.sketch import mg_merge, mg_partition_summaries

    partials = mg_partition_summaries(
        cells, "cell", part_col=key, k=k, n_parts=n_parts
    )
    counters, err, n = mg_merge(partials)
    rows = counters.filter(
        F.col("est") + F.lit(err) >= F.lit(float(hot_fraction) * n)
    ).collect()
    return sorted(int(r["key"]) for r in rows)


# The fold and BLAS skew-split prunes share the one "skew_cells" slot
# (fixtures.hold) deliberately: invoking one while a PREVIOUS call's
# lazy result is still unconsumed unpersists that result's cells —
# safe (assign_cells is deterministic, Spark recomputes) but slower;
# consume one skew-split result before starting the next.


def semantic_prune_skew_split(
    vectors: DataFrame,
    centroids: DataFrame,
    threshold: float,
    vec: str = "embedding",
    key: str = "vec_id",
    hot_fraction: float = 0.2,
    n_blocks: int = 8,
) -> DataFrame:
    """:func:`semantic_prune` with the mega-cell answer COMPOSED IN
    (VERDICT r7 ask #6): MG-discovered hot cells get their within-cell
    self-join block-decomposed so one skewed cell cannot straggle the
    prune.

    The plain prune hash-partitions pairs by ``cell`` — a cell with m
    rows puts all m² candidate pairs in one task. Here cells holding
    >= ``hot_fraction`` of the corpus (a certified superset, via
    :func:`discover_hot_cells`) are split by a deterministic row block
    id ``pmod(xxhash64(key), n_blocks)``: side A replicates each row
    across every b-block, side B across every a-block, and the join
    key becomes ``(cell, block_a, block_b)`` — each (x, y) pair lands
    in exactly one of n_blocks² evenly-sized buckets of ~(m/n_blocks)²
    pairs. Cold cells join exactly as in :func:`semantic_prune`;
    replication cost is confined to hot rows (2·n_blocks× on those
    rows only), the targeted trade of
    ``operators/skew.py:targeted_salted_join`` applied to a self-join.

    Output is IDENTICAL to :func:`semantic_prune` — same cells, same
    fold arithmetic, same exists-smaller-similar rule; block routing
    only changes WHERE a pair is evaluated. The planted-skew test pins
    multiset equality.
    """
    (cells,) = hold("skew_cells", assign_cells(vectors, centroids, vec=vec, key=key))
    hot = discover_hot_cells(cells, hot_fraction=hot_fraction, key=key)
    is_hot = F.col("cell").isin(hot) if hot else F.lit(False)
    a = cells.select(
        F.col(key).alias("id_a"), F.col(vec).alias("ea"), F.col("norm2").alias("na"), "cell"
    )
    b = cells.select(
        F.col(key).alias("id_b"), F.col(vec).alias("eb"), F.col("norm2").alias("nb"), "cell"
    )
    cold_pairs = a.filter(~is_hot).join(b.filter(~is_hot), "cell")
    blk = lambda c: F.pmod(F.xxhash64(F.col(c)), F.lit(n_blocks))  # noqa: E731
    every = F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1)))
    a_hot = (
        a.filter(is_hot)
        .withColumn("__ba", blk("id_a").cast("int"))
        .withColumn("__bb", every)
    )
    b_hot = (
        b.filter(is_hot)
        .withColumn("__bb", blk("id_b").cast("int"))
        .withColumn("__ba", every)
    )
    hot_pairs = a_hot.join(b_hot, ["cell", "__ba", "__bb"]).drop("__ba", "__bb")
    pruned_ids = (
        cold_pairs.unionByName(hot_pairs)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cosine",
            F.round(F.expr(_dot_expr("ea", "eb")) / (F.sqrt("na") * F.sqrt("nb")), 6),
        )
        .filter(F.col("cosine") >= threshold)
        .select(F.col("id_b").alias(key))
        .distinct()
    )
    flagged = cells.join(
        pruned_ids.withColumn("__pruned", F.lit(True)), key, "left"
    )
    return flagged.select(
        key, "cell", F.coalesce("__pruned", F.lit(False)).alias("pruned")
    )


def ivf_probe_topk(
    vectors: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    vec: str = "embedding",
    key: str = "vec_id",
) -> DataFrame:
    """IVF search with multi-probe: each query ranks the centroids and
    scores exact cosine ONLY against vectors assigned to its ``nprobe``
    nearest cells. nprobe=1 is the classic fast-and-lossy probe; small
    nprobe>1 recovers most boundary misses for a bounded cost increase
    — candidate count ≈ nprobe × N / n_cells.

    Plan shape: the (queries × centroids) ranking is tiny and stays on
    the driver side of a broadcast; the corpus is scanned once for cell
    assignment and then equi-joined on ``cell`` against the broadcast
    probe list — no all-pairs stage anywhere.
    """
    c = with_norm(centroids, vec).select(
        F.col(key).alias("centroid_id"),
        F.col(vec).alias("c_emb"),
        F.col("norm2").alias("c_norm2"),
    )
    q = with_norm(queries, vec).select(
        F.col(key).alias("query_id"),
        F.col(vec).alias("q_emb"),
        F.col("norm2").alias("q_norm2"),
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("cos_c"), F.asc("centroid_id"))
    qcells = (
        q.crossJoin(F.broadcast(c))
        .withColumn("dot", F.expr(_dot_expr("q_emb", "c_emb")))
        .withColumn(
            "cos_c", F.round(F.col("dot") / (F.sqrt("q_norm2") * F.sqrt("c_norm2")), 6)
        )
        .withColumn("__rn", F.row_number().over(wq))
        .filter(F.col("__rn") <= nprobe)
        .select("query_id", "q_emb", "q_norm2", F.col("centroid_id").alias("cell"))
    )
    cells = assign_cells(vectors, centroids, vec=vec, key=key)
    scored = (
        cells.join(F.broadcast(qcells), "cell")
        .filter(F.col(key) != F.col("query_id"))
        .withColumn("dot", F.expr(_dot_expr(vec, "q_emb")))
        .withColumn(
            "cosine", F.round(F.col("dot") / (F.sqrt("norm2") * F.sqrt("q_norm2")), 6)
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc(key))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", F.col(key).alias("vec_id"), "cosine", "rnk")
    )


def cosine_topk_vectorized(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec: str = "embedding",
    key: str = "vec_id",
) -> DataFrame:
    """Exact brute-force cosine top-k on the FAST path: the query set
    collects to a numpy matrix and every Arrow batch of vectors scores
    against it with one BLAS matmul (B×64 @ 64×Q) inside mapInPandas.

    Same results as :func:`cosine_topk` (pinned by tests); that
    variant keeps the sequential-fold arithmetic the DuckDB oracle can
    replicate bit-for-bit. Each batch pre-reduces to its local top-k so
    the Arrow return path carries k rows per query per batch, never
    B×Q.

    Measured crossover (scripts/scale_smoke.py): at 64 dims the JVM
    fold wins (Arrow row-object transfer dominates); at transformer
    dims (≥256) the matmul wins — 6.0 s vs 9.2 s at 200k×256 — and the
    gap widens with dimension since BLAS cost grows sub-linearly while
    the fold is strictly linear per element.
    """
    import numpy as np
    from pyspark.sql.types import (
        DoubleType, LongType, StructField as SF, StructType as ST,
    )

    qrows = with_norm(queries, vec).select(key, vec, "norm2").collect()
    q_ids = np.array([r[key] for r in qrows], dtype=np.int64)
    q_mat = np.array([r[vec] for r in qrows], dtype=np.float64)
    q_norm = np.sqrt(np.array([r["norm2"] for r in qrows], dtype=np.float64))

    out_schema = ST([
        SF("query_id", LongType()), SF("vec_id", LongType()), SF("cosine", DoubleType()),
    ])

    def score(batches):
        import pandas as pd

        for pdf in batches:
            ids = pdf[key].to_numpy(dtype=np.int64)
            mat = np.vstack(pdf[vec].to_numpy()).astype(np.float64)
            dots = mat @ q_mat.T                             # B x Q
            norms = np.sqrt((mat * mat).sum(axis=1))
            cos = dots / (norms[:, None] * q_norm[None, :])
            cos[ids[:, None] == q_ids[None, :]] = -np.inf    # drop self-matches
            # pre-reduce: only the batch-local top-k per query leaves
            # Python — the Arrow return path carries k rows per query
            # per batch, not B x Q
            kk = min(k, cos.shape[0])
            top = np.argpartition(-cos, kk - 1, axis=0)[:kk]  # kk x Q
            q_ix = np.broadcast_to(np.arange(cos.shape[1]), top.shape)
            keep = np.isfinite(cos[top, q_ix]).ravel()
            yield pd.DataFrame({
                "query_id": q_ids[q_ix.ravel()[keep]],
                "vec_id": ids[top.ravel()[keep]],
                "cosine": np.round(cos[top, q_ix].ravel()[keep], 6),
            })

    scored = vectors.select(key, vec).mapInPandas(score, out_schema)
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "vec_id", "cosine", "rnk")
    )


def kmeans_iterate(
    vectors: DataFrame,
    centroids: DataFrame,
    n_iter: int = 2,
    vec: str = "embedding",
    key: str = "vec_id",
    exact_mean: bool = False,
) -> DataFrame:
    """Lloyd's k-means refinement of IVF centroids, distributed: each
    iteration assigns vectors to their nearest centroid (broadcast
    cross-score + rank-1 window, same plan as ``assign_cells``) and
    recomputes centroids as per-cell elementwise means (posexplode over
    dimensions → one groupBy(cell, dim) shuffle → re-assembled arrays).

    Returns the refined centroids (centroid_id, embedding). Iterations
    are bounded and each runs two shuffles; empty cells keep their
    previous centroid (no NaN poisoning). This is the "train" step the
    IVF tier stubs with seed centroids — run it on a sample, not the
    full 100 TB corpus, exactly like production ANN index builds.

    ``exact_mean=True`` computes each per-dim mean as an exact
    DECIMAL(27,12) sum divided in double: decimal addition is
    associative, so the mean is independent of partition order AND
    reproducible bit-for-bit by a DuckDB oracle (``avg`` over doubles
    is neither — cross-partition summation order drifts the last ulp).
    The decimal cast truncates components below 1e-12, far under
    float32 resolution; cost is one wider shuffle column.
    """
    current = centroids.select(
        F.col(key).alias("centroid_id"), F.col(vec).alias("c_emb")
    )
    mean_expr = (
        (
            F.sum(F.col("component").cast("double").cast("decimal(27,12)"))
            .cast("double")
            / F.count(F.lit(1))
        )
        if exact_mean
        else F.avg("component")
    )
    for _ in range(n_iter):
        assigned = assign_cells(
            vectors,
            current.select(
                F.col("centroid_id").alias(key), F.col("c_emb").alias(vec)
            ),
            vec=vec,
            key=key,
        )
        by_dim = assigned.select(
            "cell", F.posexplode(vec).alias("dim", "component")
        )
        means = (
            by_dim.groupBy("cell", "dim")
            .agg(mean_expr.alias("m"))
            .groupBy("cell")
            .agg(F.array_sort(F.collect_list(F.struct("dim", "m"))).alias("dm"))
            .select(
                F.col("cell").alias("centroid_id"),
                F.transform(F.col("dm"), lambda s: s["m"].cast("float")).alias("new_emb"),
            )
        )
        prev = current
        current = (
            current.join(means, "centroid_id", "left")
            .select(
                "centroid_id",
                F.coalesce(F.col("new_emb"), F.col("c_emb")).alias("c_emb"),
            )
            .persist()
        )
        current.count()
        # the new frame is materialized, so the previous iteration's
        # cache (if any — the seed frame isn't persisted) is dead:
        # unpersist it instead of leaking one cached frame per step
        if prev.is_cached:
            prev.unpersist()
    return current.select("centroid_id", F.col("c_emb").alias("embedding"))


def cell_inertia(
    cells: DataFrame,
    centroids: DataFrame,
    vec: str = "embedding",
    key: str = "vec_id",
) -> DataFrame:
    """Assignment-fit summary of an IVF index: the mean cosine of
    every indexed vector to ITS assigned cell's centroid — one
    broadcast join + one exact-decimal aggregate (6-dp cosines summed
    as DECIMAL(18,6): order-independent, bit-reproducible by a DuckDB
    oracle). This is the RETRAIN TRIGGER's measurement: evaluated on
    the stale centroids it quantifies how much forgets/appends have
    drifted the assignment; evaluated on freshly retrained centroids
    it quantifies what a retrain buys — compare the two at compaction
    candidacy and retrain when the gap clears a bound
    (plans/embeddings.py:emb_retrain_drift_trigger pins the
    arithmetic). Returns one row: (n_vectors, mean_cos)."""
    c = with_norm(centroids, vec).select(
        F.col(key).alias("cell"),
        F.col(vec).alias("c_emb"),
        F.col("norm2").alias("c_norm2"),
    )
    scored = cells.join(F.broadcast(c), "cell").withColumn(
        "cos_c",
        # try_divide matches the maintenance window's shared pass: a
        # zero-norm (degenerate) row scores null instead of an ANSI
        # divide-by-zero (behavior-identical in non-ANSI mode)
        F.round(
            F.try_divide(
                F.expr(_dot_expr(vec, "c_emb")),
                F.sqrt("norm2") * F.sqrt("c_norm2"),
            ),
            6,
        ),
    )
    return scored.agg(
        F.count("*").alias("n_vectors"),
        (
            F.sum(F.col("cos_c").cast("decimal(18,6)")).cast("double")
            / F.count("*")
        ).alias("mean_cos"),
    )


def cell_probe(
    index_cells: DataFrame,
    probe_cells: DataFrame,
    threshold: float,
    vec: str = "embedding",
    key: str = "vec_id",
) -> DataFrame:
    """Within-cell cosine probe of a stored IVF index: every
    (probe, index) pair sharing a cell with cosine >= ``threshold``.
    Both inputs are :func:`assign_cells` frames; the probe side (a
    batch — small by construction) is broadcast, so the index is
    scanned once, never shuffled, and with cell-partitioned storage
    only the probed cells' partitions are read. Shared by
    :func:`semantic_incremental_near_dups` and the streaming ingest
    fold (``streaming/emb_ingest.py``).

    Returns (new_id, corpus_id, cosine) — self-pairs are NOT removed
    (a probe frame probing itself yields both directions and the
    diagonal; callers filter, e.g. ``corpus_id < new_id`` for
    earlier-mates semantics).
    """
    n = probe_cells.select(
        F.col(key).alias("new_id"),
        F.col(vec).alias("e_n"),
        F.col("norm2").alias("n_n"),
        "cell",
    )
    c = index_cells.select(
        F.col(key).alias("corpus_id"),
        F.col(vec).alias("e_c"),
        F.col("norm2").alias("n_c"),
        "cell",
    )
    return (
        c.join(F.broadcast(n), "cell")
        .withColumn(
            "cosine",
            F.round(
                F.expr(_dot_expr("e_n", "e_c")) / (F.sqrt("n_n") * F.sqrt("n_c")), 6
            ),
        )
        .filter(F.col("cosine") >= threshold)
        .select("new_id", "corpus_id", "cosine")
    )


def semantic_incremental_near_dups(
    corpus_cells: DataFrame,
    new_vecs: DataFrame,
    centroids: DataFrame,
    threshold: float,
    vec: str = "embedding",
    key: str = "vec_id",
    prune_cells: bool = False,
) -> DataFrame:
    """Ingest-time SEMANTIC near-dup screen — the embedding-space
    sibling of ``operators/dedup.py:minhash_incremental_near_dups``:
    which NEW vectors have an existing-corpus neighbor at cosine >=
    ``threshold``.

    ``corpus_cells`` is the STORED IVF index — the
    (key, vec, norm2, cell) frame :func:`assign_cells` produced when
    the corpus was built (at 100 TB: a table PARTITIONED BY cell that
    each ingest appends to, exactly like the band index in the
    MinHash variant). The new batch assigns itself against the same
    broadcast centroids — O(batch × n_cells), corpus-independent —
    and is then BROADCAST into a within-cell equi-join against the
    index, so per-ingest cost is O(batch + rows in probed cells):
    the corpus is never re-assigned, never self-joined, never
    shuffled, and with cell-partitioned storage the probe join reads
    only the probed cells' partitions. Recall profile is plain IVF
    nprobe=1 (a neighbor straddling a cell boundary is missed), the
    same trade :func:`semantic_prune` documents.

    Returns (new_id, corpus_id, cosine) for pairs >= ``threshold``.

    ``prune_cells=True`` collects the batch's distinct cell ids (≤
    min(batch, n_cells) values — bounded, the MG-hot-key IN-list
    pattern) and filters the index frame on ``cell IN (...)`` BEFORE
    the join: when the stored index is a parquet table partitioned or
    sorted by cell, the literal predicate reaches the scan
    (PushedFilters/partition pruning), so a daily ingest READS only
    the probed cells' data instead of the whole index. Costs one
    small eager job on the batch side; the result is identical.
    """
    new_cells = assign_cells(new_vecs, centroids, vec=vec, key=key)
    if prune_cells:
        # the persist serves the probed-cell collect AND the returned
        # lazy probe; the slot bounds the session to one batch-cell
        # frame instead of one per ingest call
        (new_cells,) = hold("probe_cells", new_cells)
        probed = [r["cell"] for r in new_cells.select("cell").distinct().collect()]
        corpus_cells = corpus_cells.filter(F.col("cell").isin(probed))
    return cell_probe(corpus_cells, new_cells, threshold, vec=vec, key=key)


# Auto-n_cells clamp (the adaptive pattern from operators/ranks.py):
# floor keeps tiny corpora from degenerating to one cell; ceiling
# bounds the broadcast centroid matrix (65536 × 64 dims × 4 B ≈ 16 MB;
# at transformer dims pass a lower max_cells or raise rows_per_cell).
_MIN_CELLS = 4
_MAX_CELLS = 65536


def train_semantic_cells(
    vectors: DataFrame,
    rows_per_cell: int = 4096,
    n_iter: int = 1,
    vec: str = "embedding",
    key: str = "vec_id",
    min_cells: int = _MIN_CELLS,
    max_cells: int = _MAX_CELLS,
    train_fraction: float | None = None,
) -> tuple[DataFrame, int]:
    """Production front door for :func:`semantic_prune`'s index
    inputs: derive ``n_cells`` from the corpus instead of pinning it,
    and TRAIN the centroids instead of hand-picking ids.

    - ``n_cells = clamp(ceil(n / rows_per_cell), min_cells,
      max_cells)`` — the docstring rule "scale n_cells with the corpus
      to hold cell population ~constant" as code, same clamp shape as
      the adaptive nbins in ``operators/ranks.py``.
    - Seeds are the ``n_cells`` vectors with the smallest
      ``md5(cast(key as string))`` — deterministic, data-independent
      of insertion order, and replicable in ANSI SQL, so an oracle can
      re-derive the exact index. The sort is a TakeOrderedAndProject
      (per-partition top-n_cells heap), never a full global sort.
    - ``n_iter`` Lloyd steps via :func:`kmeans_iterate` with
      ``exact_mean=True`` (order-independent decimal means), keeping
      the TRAINED index oracle-reproducible end-to-end.
    - ``train_fraction`` optionally trains on a deterministic
      hash-sample of the corpus (``xxhash64(key) mod 1e6 <
      frac*1e6``) — the 100 TB path, where Lloyd steps over the full
      corpus are wasteful; seeds still come from the sample. Not
      SQL-replicable (Spark's xxhash64), so oracle-gated callers leave
      it None.

    Returns ``(centroids, n_cells)`` with centroids shaped
    ``(key, vec)`` — directly consumable by :func:`semantic_prune` /
    :func:`semantic_prune_vectorized` / :func:`assign_cells`.

    Cost: one count job + one seed top-k job + two shuffles per Lloyd
    step (assignment window + per-dim mean), all on the training
    frame. Run it once per corpus build and reuse the centroids.
    """
    # n_cells derives from the CORPUS row count — the contract is
    # corpus cell population, so sampling must not shrink it. When
    # sampling, clamp to the sample size too (can't seed more cells
    # than training rows), and if the hash-sample comes back smaller
    # than min_cells (tiny corpus × small fraction) fall back to
    # training on the FULL corpus: seeding fewer than min_cells
    # centroids — possibly zero — would make semantic_prune flag
    # nothing and a keep-style consumer silently drop every row.
    n = vectors.count()
    n_cells = min(max_cells, max(min_cells, -(-n // rows_per_cell)))
    train = vectors
    if train_fraction is not None:
        train = vectors.filter(
            F.pmod(F.xxhash64(F.col(key)), F.lit(1_000_000))
            < F.lit(int(train_fraction * 1_000_000))
        )
        tn = train.count()
        if tn < min_cells:
            train, tn = vectors, n
        n_cells = max(min_cells, min(n_cells, tn))
    # the returned count is the number of centroids actually seeded
    # (a corpus smaller than min_cells seeds every row), so callers
    # can trust it matches the centroid frame's row count
    n_cells = min(n_cells, n)
    seeds = (
        train.select(F.col(key), F.col(vec))
        .orderBy(F.md5(F.col(key).cast("string")), F.col(key))
        .limit(n_cells)
    )
    # kmeans_iterate persists the trained frame itself, so the slot is
    # released BEFORE it runs (fixtures.py rule 1); the slot then owns
    # that frame, bounding repeated builds to one cached frame
    hold("trained")
    (trained,) = hold(
        "trained",
        kmeans_iterate(train, seeds, n_iter=n_iter, vec=vec, key=key, exact_mean=True),
    )
    return (
        trained.select(
            F.col("centroid_id").alias(key), F.col("embedding").alias(vec)
        ),
        n_cells,
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the memory-compression tier of a real
# IVF-PQ serving stack: vectors are stored as PQ_SUBS small codes
# (here 4 × one-of-8 = 4 bytes per 64-dim float vector, a 64×
# compression) and queries scan codes with an ADC lookup table instead
# of touching raw floats. Inner-product metric so every score is the
# same sequential double fold the rest of this module uses.
# ---------------------------------------------------------------------------
PQ_SUBS = 4
PQ_SUBDIM = DIM // PQ_SUBS


def pq_subvectors(df: DataFrame, vec: str = "embedding", out: str = "v_sub") -> DataFrame:
    """Explode each vector into (sub, 16-dim slice) rows — PQ_SUBS rows
    per input row, pure codegen."""
    subs = F.array(
        *[F.slice(F.col(vec), s * PQ_SUBDIM + 1, PQ_SUBDIM) for s in range(PQ_SUBS)]
    )
    return df.select("*", F.posexplode(subs).alias("sub", out)).drop(vec)


def pq_codebook(seeds: DataFrame, vec: str = "embedding", key: str = "vec_id") -> DataFrame:
    """Per-subspace codebook from seed vectors: (code, sub, c_sub).
    Seeds play the role k-means cluster centers do in a trained PQ —
    deterministic here so the DuckDB oracle can replicate them; swap in
    ``kmeans_iterate`` per subspace for a trained codebook."""
    return pq_subvectors(
        seeds.select(F.col(key).alias("code"), F.col(vec)), vec=vec, out="c_sub"
    )


def pq_encode(vectors: DataFrame, codebook: DataFrame, vec: str = "embedding",
              key: str = "vec_id") -> DataFrame:
    """Assign each (vector, subspace) its best code by rounded inner
    product (ties → lowest code). One broadcast join + one map-side-
    combinable max-of-struct aggregation — no window sort, so encoding
    is a single shuffle on the vector key at any corpus size."""
    v = pq_subvectors(vectors.select(key, vec), vec=vec, out="v_sub")
    scored = v.join(F.broadcast(codebook), "sub").withColumn(
        "score", F.round(F.expr(_dot_expr("v_sub", "c_sub")), 6)
    )
    best = (
        scored.groupBy(key, "sub")
        .agg(F.max(F.struct(F.col("score"), (-F.col("code")).alias("nc"))).alias("b"))
        .select(key, "sub", (-F.col("b.nc")).alias("code"))
    )
    return best


def pq_adc_topk(vectors: DataFrame, queries: DataFrame, codebook: DataFrame,
                k: int = 5, vec: str = "embedding", key: str = "vec_id",
                codes: DataFrame | None = None) -> DataFrame:
    """Asymmetric-distance top-k: queries never touch stored vectors,
    only their codes. The ADC lookup table (query × sub × code part
    scores, Q·PQ_SUBS·|codes| rows) broadcasts to the code scan; the
    per-(query, vec) score is an exact DECIMAL sum of the PQ_SUBS
    rounded parts, so partition order cannot drift it. The final
    per-query top-k is the same bounded window the exact tier uses
    (queries are few by contract). Pass ``codes`` (a STORED
    (key, sub, code) table) to scan a maintained code index instead
    of re-encoding ``vectors`` — the production shape, where encode
    ran once at build/compaction (``vectors`` is then unused)."""
    if codes is None:
        codes = pq_encode(vectors, codebook, vec=vec, key=key)
    lut = (
        pq_subvectors(
            queries.select(F.col(key).alias("query_id"), F.col(vec)), vec=vec, out="q_sub"
        )
        .join(F.broadcast(codebook), "sub")
        .select(
            "query_id", "sub", "code",
            F.round(F.expr(_dot_expr("q_sub", "c_sub")), 6).alias("part"),
        )
    )
    adc = (
        codes.join(F.broadcast(lut), ["sub", "code"])
        .filter(F.col(key) != F.col("query_id"))
        .groupBy("query_id", key)
        .agg(
            F.round(
                F.sum(F.col("part").cast("decimal(12,6)")).cast("double"), 6
            ).alias("adc_score")
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("adc_score"), F.col(key))
    return (
        adc.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", key, "adc_score", "rnk")
    )
