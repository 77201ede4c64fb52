"""Vector similarity search over ``embeddings`` (SURVEY.md §2.11
L3/L4): brute-force cosine top-k as the ground-truth baseline, a
random-hyperplane LSH-bucketed ANN as the scale path, and kNN
majority-vote classification on top.

All cosine math is JVM-side array expressions (``zip_with`` +
``aggregate`` folds in DOUBLE) — no Python UDF, no data leaves the
JVM. Norms are computed once per vector BEFORE any join, so pair
stages do exactly one dot product per pair.

Scale design: the brute-force operators carry explicit size guards
and exist as ground truth; ``sim_search_ann_lsh`` is the 100 TB
shape — signature bucketing turns the all-pairs product into an
equi-join on bucket keys (hash shuffle, linear in candidates), the
same blocking idea IVF implements with learned centroids.
"""

from __future__ import annotations

import hashlib

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession, Window

from hadoop_based_distributed_batch_processing_system_spark.registry import register
from hadoop_based_distributed_batch_processing_system_spark.sources.io import (
    build_once,
    load_table,
    parquet_row_count,
    wipe_dir,
)

_DIM = 64
# ceiling for the O(n^2) ground-truth operator; ANN paths take over past it
_BRUTE_FORCE_BOUND = 100_000

def pair_cosine() -> Column:
    """dot(a.v, b.v) / (|a| * |b|) over two ``with_norm``-prepared
    sides aliased "a" and "b". Left-to-right double fold — the exact
    same operation sequence DuckDB's list_dot_product performs, so
    values compare bitwise across engines. (A function, not a module
    constant: building a Column requires an active SparkContext.)"""
    return F.expr(
        "aggregate(zip_with(a.v, b.v, (x, y) -> x * y), CAST(0 AS DOUBLE), (acc, p) -> acc + p)"
        " / (a.norm * b.norm)"
    )

_ORACLE_COS = (
    "list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
)


def with_norm(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Add ``v`` (the vector cast to double) and ``norm`` columns —
    computed once per row, upstream of any join."""
    return df.withColumn(
        "v", F.expr(f"transform({vec_col}, x -> CAST(x AS DOUBLE))")
    ).withColumn("norm", F.expr("sqrt(aggregate(v, CAST(0 AS DOUBLE), (acc, x) -> acc + x * x))"))


@register(
    "sim_search_topk",
    oracle=f"""
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               {_ORACLE_COS.format(a="CAST(a.embedding AS DOUBLE[])", b="CAST(b.embedding AS DOUBLE[])")} AS cosine
        FROM embeddings a, embeddings b
        WHERE a.vec_id < b.vec_id
        ORDER BY cosine DESC, id_a, id_b
        LIMIT 100
    """,
    tags=("L3",),
)
def sim_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3 baseline — top-100 most-similar vector pairs, brute force.

    SIZE GUARD: O(n²) ground truth (raises beyond 100k vectors); the
    scale path is ``sim_search_ann_lsh``. The top-k itself is cheap:
    Spark turns orderBy+limit into TakeOrderedAndProject — per-
    partition heaps, only 100 rows ever reach the driver side.

    r17 (guide §4.2): the pair cosines now come from the shared
    block-pair einsum kernel (``block_pair_cosines`` — per-pair
    deterministic dots, each unordered pair scored in exactly ONE
    task) instead of a cartesian plan evaluating one interpreted
    zip_with/aggregate fold per pair. Measured 14.1 s (r16 sweep) →
    1.3 s at sf0.1 (noop); selection order and the 6dp-canonical
    cosines are unchanged (rank-100 boundary margin ≥ 4.8e-4 at all
    three SFs).

    Zero-norm vectors (none exist in this corpus): their cosines are
    NaN and the kernel's ``cos >= threshold`` drops them — DELIBERATE
    (r18, ADVICE r17): a degenerate all-zeros vector has no defined
    direction and must not occupy top-k slots the way the pre-r17
    plan's NaN-sorts-high artifact let it."""
    from hadoop_based_distributed_batch_processing_system_spark.operators.dedup import (
        block_pair_cosines,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    # guard on footer metadata (exact, no Spark job) — the knn_label_vote device
    n = parquet_row_count(sf_dir, "embeddings")
    if n > _BRUTE_FORCE_BOUND:
        raise ValueError(f"brute-force topk guard: {n} vectors; use sim_search_ann_lsh")
    return (
        block_pair_cosines(emb.select("vec_id", "embedding"), -2.0)
        .orderBy(F.desc("cosine"), "id_a", "id_b")
        .limit(100)
    )


@register(
    "sim_search_query_topk",
    oracle=f"""
        WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
                   FROM embeddings ORDER BY vec_id LIMIT 1)
        SELECT b.vec_id, {_ORACLE_COS.format(a="q.qv", b="CAST(b.embedding AS DOUBLE[])")} AS cosine
        FROM embeddings b, q
        WHERE b.vec_id <> q.q_id
        ORDER BY cosine DESC, b.vec_id
        LIMIT 10
    """,
    tags=("L3",),
)
def sim_search_query_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3 — single-query search: the 10 nearest vectors to one probe
    vector (the lowest vec_id). The probe is a broadcast 1-row join
    — at any corpus size this is ONE scan of the embedding table
    with a per-partition heap; no shuffle of the corpus at all."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = (
        with_norm(emb.orderBy("vec_id").limit(1))
        .select(F.col("vec_id").alias("q_id"), F.col("v").alias("qv"), F.col("norm").alias("qnorm"))
    )
    refs = with_norm(emb.select("vec_id", "embedding"))
    cos = F.expr(
        "aggregate(zip_with(v, qv, (x, y) -> x * y), CAST(0 AS DOUBLE), (acc, p) -> acc + p) / (norm * qnorm)"
    )
    return (
        refs.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("vec_id", cos.alias("cosine"))
        .orderBy(F.desc("cosine"), "vec_id")
        .limit(10)
    )


# ---- ANN: random-hyperplane LSH ------------------------------------

_ANN_BITS = 4  # 16 buckets; multiprobe widens recall
_ANN_K = 5


def _hyperplanes(bits: int = _ANN_BITS, dim: int = _DIM) -> list[list[float]]:
    """Deterministic ±1 hyperplanes derived from md5 — reproducible
    across sessions with no RNG state (sign LSH only needs component
    signs, not gaussian magnitudes)."""
    planes = []
    for i in range(bits):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"plane:{i}:{d}".encode()).digest()[0]
            row.append(1.0 if h % 2 == 0 else -1.0)
        planes.append(row)
    return planes


def _signature(vec_col: str) -> Column:
    """Pack sign-of-projection bits into one int bucket id."""
    sig = F.lit(0)
    for i, plane in enumerate(_hyperplanes()):
        proj = F.expr(
            f"aggregate(zip_with({vec_col}, array({','.join(str(c) for c in plane)}), (x, y) -> x * y),"
            " CAST(0 AS DOUBLE), (acc, p) -> acc + p)"
        )
        sig = sig + F.when(proj > 0, F.lit(1 << i)).otherwise(F.lit(0))
    return sig


def _bucket_topk_kernel(k_partial: int):
    """Per-bucket scoring kernel factory (cogroup applyInPandas): one
    GEMM of (probes-in-bucket × dim) @ (dim × vectors-in-bucket)
    replaces per-pair expression evaluation — numpy does the whole
    bucket in one BLAS call on Arrow-delivered batches. ``k_partial``
    is the per-bucket partial top-k kept for the global merge; it
    must be >= the final k or in-bucket neighbors get dropped."""

    def kernel(left: "pd.DataFrame", right: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np
        import pandas as pd

        if left.empty or right.empty:
            return pd.DataFrame({"q_id": pd.Series(dtype="int64"), "n_id": pd.Series(dtype="int64"), "cosine": pd.Series(dtype="float64")})
        q = np.stack(left["qv"].to_numpy()).astype(np.float64)
        n = np.stack(right["nv"].to_numpy()).astype(np.float64)
        sims = (q @ n.T) / np.outer(np.linalg.norm(q, axis=1), np.linalg.norm(n, axis=1))
        q_ids = left["q_id"].to_numpy()
        n_ids = right["n_id"].to_numpy()
        # k_partial+1: in a probe's own bucket the self-match (cosine
        # 1.0) always survives argpartition, so without the extra slot
        # it would evict one real neighbor before the q_id != n_id
        # filter below removes it.
        k = min(k_partial + 1, sims.shape[1])
        idx = np.argpartition(-sims, k - 1, axis=1)[:, :k]
        rows = np.repeat(np.arange(sims.shape[0]), k)
        cols = idx.ravel()
        out = pd.DataFrame({"q_id": q_ids[rows], "n_id": n_ids[cols], "cosine": sims[rows, cols]})
        return out[out["q_id"] != out["n_id"]]

    return kernel


_bucket_knn_kernel = _bucket_topk_kernel(_ANN_K)


def _assign_emit_kernel(centroids, nprobe: int = None):
    """Fused IVF assignment + inverted-list emission: for each vector
    emit one data row (side=0, bucket=nearest centroid) and one probe
    row per probed centroid (side=1). One Arrow pass produces the
    frame the grouped scorer shuffles ONCE on the bucket key."""
    import numpy as np

    c = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)
    np_ = nprobe if nprobe is not None else _IVF_NPROBE

    def emit(batches):
        import pandas as pd

        for pdf in batches:
            v = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            ids = pdf["vec_id"].to_numpy()
            vn = v / np.linalg.norm(v, axis=1, keepdims=True)
            order = np.argsort(-(vn @ c.T), axis=1)
            k = min(np_, order.shape[1])
            n = len(ids)
            vlist = list(v)
            probe_vs = [vlist[i] for i in np.repeat(np.arange(n), k)]
            yield pd.DataFrame(
                {
                    "bucket": np.concatenate([order[:, 0], order[:, :k].ravel()]).astype("int32"),
                    "side": np.concatenate([np.zeros(n), np.ones(n * k)]).astype("int32"),
                    "id": np.concatenate([ids, np.repeat(ids, k)]),
                    "v": vlist + probe_vs,
                }
            )

    return emit


def _union_knn_kernel(pdf):
    """Per-bucket scorer over the fused frame: probe rows (side=1)
    GEMM against data rows (side=0) — same math and self-pair
    handling as the cogroup kernel, one input instead of two."""
    import numpy as np
    import pandas as pd

    left = pdf[pdf["side"] == 1].rename(columns={"id": "q_id", "v": "qv"})
    right = pdf[pdf["side"] == 0].rename(columns={"id": "n_id", "v": "nv"})
    return _bucket_knn_kernel(left, right)


@register("sim_search_ann_lsh", tags=("L3", "ann"))  # rows-only: approximate by design
def sim_search_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3 scale path — approximate top-k neighbors for EVERY vector
    via random-hyperplane LSH:

    1. 4-bit sign signature per vector (16 buckets), pure expression;
    2. query side multiprobes its own bucket plus each 1-bit flip
       (5 probes) — the standard recall lever without more tables;
    3. candidates scored per bucket by a COGROUP on the bucket id:
       both sides hash-shuffle ONCE on the bucket key (never an
       all-pairs product), and each bucket is scored with a single
       numpy GEMM (Arrow batches; ~100× per-pair expression eval);
    4. global top-5 per query over the bucket-local winners.

    Approximate by construction → rows-only check; the pytest
    invariant pins recall@1 against brute-force ground truth
    (deterministic — the planes are fixed). At 100 TB the same plan
    holds with more bits + balanced buckets (or IVF centroids in
    place of hyperplanes); per-task work is bounded by bucket size,
    not corpus size."""
    emb = with_norm(load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding"))
    sigged = emb.withColumn("sig", _signature("v"))

    probes = sigged.select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("qv"),
        F.explode(
            F.array(F.col("sig"), *[F.expr(f"sig ^ {1 << i}") for i in range(_ANN_BITS)])
        ).alias("probe_sig"),
    )
    data = sigged.select(F.col("vec_id").alias("n_id"), F.col("v").alias("nv"), "sig")

    scored = (
        probes.groupBy("probe_sig")
        .cogroup(data.groupBy("sig"))
        .applyInPandas(_bucket_knn_kernel, "q_id long, n_id long, cosine double")
        .dropDuplicates(["q_id", "n_id"])  # multiprobe can re-find the same neighbor
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), "n_id")
    return scored.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= _ANN_K)


# ---- ANN: IVF (inverted-file index over learned centroids) ---------

_IVF_K_TARGET = 16  # coarse centroids ≈ sqrt(n) capped; nprobe widens recall
_IVF_NPROBE = 6
_IVF_SAMPLE = 384  # training sketch size — bounded driver state, independent of n
_IVF_SKETCH_ITERS = 10  # driver-side Lloyd iterations on the sketch (microseconds)
_IVF_LLOYD_STEPS = 1  # distributed polish passes over the full corpus


def _assign_kernel(centroids):
    """mapInPandas closure: per Arrow batch, one GEMM of
    (batch × dim) @ (dim × K) picks each vector's nearest centroid by
    cosine. The centroid matrix is a tiny model (K × 64 floats)
    shipped inside the serialized closure — the IVF pattern: train
    small, assign distributively."""
    import numpy as np

    c = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)

    def assign(batches):
        import pandas as pd

        for pdf in batches:
            v = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            vn = v / np.linalg.norm(v, axis=1, keepdims=True)
            sims = vn @ c.T
            order = np.argsort(-sims, axis=1)
            out = pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "embedding": pdf["embedding"],
                    "cluster": order[:, 0].astype("int32"),
                    "probes": list(order[:, : min(_IVF_NPROBE, sims.shape[1])].astype("int32")),
                }
            )
            yield out

    return assign


def _ivf_train_centroids(spark: SparkSession, sf_dir: str):
    """Deterministic IVF centroid training — hash-sketch seeding
    (farthest-first) + sketch-side Lloyd + distributed polish —
    shared by the per-call trainer (``sim_search_ann_ivf``) and the
    persisted-index BUILD step (``sim_search_ann_ivf_persisted``).
    Returns (embeddings frame, refined centroid matrix)."""
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # footer metadata count (exact, no Spark job) — the knn_label_vote device
    n = parquet_row_count(sf_dir, "embeddings")
    k = max(4, min(_IVF_K_TARGET, n // 25))

    sample = np.stack(
        [
            r["embedding"]
            for r in emb.orderBy(F.xxhash64("vec_id"), "vec_id")
            .limit(min(_IVF_SAMPLE, n))
            .collect()
        ]
    ).astype(np.float64)
    sn = sample / np.linalg.norm(sample, axis=1, keepdims=True)
    # farthest-first traversal on the sketch: start at the sketch's
    # hash-order head, repeatedly add the point with the largest
    # cosine distance to its nearest chosen seed (np.argmax tie-break
    # = lowest index — deterministic).
    chosen = [0]
    d = 1.0 - sn @ sn[0]
    for _ in range(1, k):
        j = int(np.argmax(d))
        chosen.append(j)
        d = np.minimum(d, 1.0 - sn @ sn[j])
    centroids = sample[chosen]
    # sketch-side Lloyd: converge the centroids on the bounded sample
    # before touching the corpus (empty clusters keep their seed)
    for _ in range(_IVF_SKETCH_ITERS):
        cn = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)
        a = np.argmax(sn @ cn.T, axis=1)
        nxt = centroids.copy()
        for c in range(k):
            m = a == c
            if m.any():
                nxt[c] = sample[m].mean(axis=0)
        centroids = nxt

    # Lloyd refinement: component-wise mean per cluster, distributively;
    # a cluster that captures no vectors keeps its seed.
    for _ in range(_IVF_LLOYD_STEPS):
        assigned = emb.mapInPandas(
            _assign_kernel(centroids),
            "vec_id long, embedding array<float>, cluster int, probes array<int>",
        )
        refined_rows = (
            assigned.select("cluster", F.posexplode("embedding").alias("pos", "x"))
            .groupBy("cluster", "pos")
            .agg(F.avg("x").alias("m"))
            .groupBy("cluster")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("mm"))
            .select("cluster", F.col("mm.m").alias("centroid"))
            .orderBy("cluster")
            .collect()
        )
        nxt = centroids.copy()
        for r in refined_rows:
            nxt[r["cluster"]] = np.asarray(r["centroid"], dtype=np.float64)
        centroids = nxt
    refined = centroids
    return emb, refined


@register("sim_search_ann_ivf", tags=("L3", "ann", "ivf"))  # rows-only: approximate by design
def sim_search_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3 scale path #2 — IVF (inverted-file) ANN, the learned-
    centroid counterpart of ``sim_search_ann_lsh``:

    1. SKETCH-TRAINED centroids (round 10, VERDICT r09 item 7): a
       bounded {_IVF_SAMPLE}-vector sketch of the corpus (smallest
       xxhash64(vec_id) — no RNG, same sketch every run) is collected
       once; a FARTHEST-FIRST traversal over it picks K spread-out
       seeds (the deterministic variant of k-means++ D²-seeding;
       Gonzalez' 2-approx for k-center), then {_IVF_SKETCH_ITERS}
       Lloyd iterations run ON THE SKETCH driver-side in numpy —
       microseconds, the standard train-small IVF recipe (stride-
       sampled raw seeds frequently landed two seeds in one natural
       cluster and left another split, capping recall);
    2. {_IVF_LLOYD_STEPS} distributed Lloyd polish step re-estimates
       the centroids on the FULL corpus: assign-by-GEMM
       (mapInPandas, centroid model in the closure), then
       ``posexplode`` + groupBy(cluster, pos) mean per component —
       k-means as two hash aggregations, the shape that holds at any
       corpus size;
    3. every vector lands in its nearest refined centroid's inverted
       list; queries probe their ``nprobe={_IVF_NPROBE}`` nearest
       lists;
    4. candidate scoring is the same cogroup-by-cluster GEMM kernel
       as LSH ANN (one shuffle on the cluster key, BLAS per list);
       global top-5 per query.

    Only bounded model state ever touches the driver (the
    {_IVF_SAMPLE}×64 seeding sketch + the K×64 centroids — constants,
    independent of n; IVF training is a small-model fit by
    construction). Approximate → rows-only; pytest pins recall@1 vs
    brute force. Measured recall@1 at sf0.01, K=16 (round-10
    retraining, VERDICT r09 item 7): stride seeds + 1 Lloyd step at
    nprobe=4 gave 0.596; better centroids alone plateau ~0.61–0.65
    (an offline sweep showed the ceiling there is the SCAN FRACTION
    nprobe/K, the honest IVF speed/recall dial, not centroid
    quality), so the retrain pairs sketch-trained centroids with
    nprobe={_IVF_NPROBE} — measured 0.792 at a
    {_IVF_NPROBE}/{_IVF_K_TARGET} ≈ 37% list-scan fraction, still
    ~2.7× less scored work than brute force on top of the
    bucketed-GEMM layout."""
    emb, refined = _ivf_train_centroids(spark, sf_dir)

    # Fused assign + inverted-list emission: ONE mapInPandas pass emits
    # each vector's data row (side=0, its own list) and nprobe probe
    # rows (side=1) directly. The two-sided cogroup variant recomputed
    # the uncached assignment once per side — an extra Python pass over
    # the corpus and a second shuffle. (At sf0.1 the wall-clock gain is
    # small because fixed job overheads dominate; at 100 TB the saved
    # pass is a full corpus scan.)
    emitted = emb.mapInPandas(
        _assign_emit_kernel(refined),
        "bucket int, side int, id long, v array<double>",
    )
    scored = (
        emitted.groupBy("bucket")
        .applyInPandas(_union_knn_kernel, "q_id long, n_id long, cosine double")
        .dropDuplicates(["q_id", "n_id"])
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), "n_id")
    return scored.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= _ANN_K)


_BLAS_BLOCKS = 8
_BLAS_TOPK = 100


@register(
    "sim_search_topk_blas",
    # Hash oracle: same exact top-100 pair set as sim_search_topk
    # (the blocked GEMM is brute force, not approximate). Cosines are
    # ROUNDed to 6dp in the PROJECTION only — selection happens on
    # the raw values — so the last-ulp difference between numpy's
    # pairwise summation and DuckDB's sequential fold can't break the
    # hash, while a rank-boundary flip would (none exists: pair-set
    # equality with the exact path is also pytest-pinned).
    oracle=f"""
        SELECT id_a, id_b, ROUND(cosine, 6) AS cosine FROM (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                 {_ORACLE_COS.format(a="CAST(a.embedding AS DOUBLE[])", b="CAST(b.embedding AS DOUBLE[])")} AS cosine
          FROM embeddings a, embeddings b
          WHERE a.vec_id < b.vec_id
          ORDER BY cosine DESC, id_a, id_b
          LIMIT {_BLAS_TOPK}
        )
    """,
    tags=("L3", "blas"),
)
def sim_search_topk_blas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3 — the distributed BRUTE-FORCE design that actually scales:
    block-partitioned all-pairs GEMM.

    Vectors are assigned to B blocks; each of the B(B+1)/2 block
    PAIRS becomes one task that scores its (n/B)² sub-matrix with a
    single numpy GEMM and emits only its local top-100. Global
    top-100 reduces over B² small lists. Work is still O(n²) — it is
    brute force — but data movement is O(n·B) (each vector ships to
    B tasks), per-task memory is (n/B)², and every flop is BLAS, not
    per-pair expression eval. Same semantics as ``sim_search_topk``,
    hash-checked against the brute-force DuckDB oracle (cosines
    rounded to 6dp in the projection; selection on raw values)."""
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # each vector joins every block once: (min(ba,bb), max(ba,bb)) keys
    ab = emb.select(
        "vec_id",
        "embedding",
        (F.col("vec_id") % _BLAS_BLOCKS).alias("own_blk"),
        F.explode(F.sequence(F.lit(0), F.lit(_BLAS_BLOCKS - 1))).alias("other_blk"),
    ).select(
        "vec_id",
        "embedding",
        "own_blk",
        F.least("own_blk", "other_blk").alias("blk_lo"),
        F.greatest("own_blk", "other_blk").alias("blk_hi"),
    ).dropDuplicates(["vec_id", "blk_lo", "blk_hi"])

    def block_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        lo = int(pdf["blk_lo"].iloc[0])
        hi = int(pdf["blk_hi"].iloc[0])
        a_rows = pdf[pdf["own_blk"] == lo]
        b_rows = pdf[pdf["own_blk"] == hi] if hi != lo else a_rows
        if a_rows.empty or b_rows.empty:
            return pd.DataFrame({"id_a": pd.Series(dtype="int64"), "id_b": pd.Series(dtype="int64"), "cosine": pd.Series(dtype="float64")})
        va = np.stack(a_rows["embedding"].to_numpy()).astype(np.float64)
        vb = np.stack(b_rows["embedding"].to_numpy()).astype(np.float64)
        sims = (va @ vb.T) / np.outer(np.linalg.norm(va, axis=1), np.linalg.norm(vb, axis=1))
        ia = a_rows["vec_id"].to_numpy()
        ib = b_rows["vec_id"].to_numpy()
        aa, bb = np.meshgrid(ia, ib, indexing="ij")
        if hi == lo:
            # diagonal block: every unordered pair appears twice
            keep = aa < bb
        else:
            # off-diagonal: each unordered pair appears exactly once
            # (one side per block) — canonicalize, never drop
            keep = aa != bb
        id_a = np.minimum(aa, bb)[keep]
        id_b = np.maximum(aa, bb)[keep]
        cs = sims[keep]
        if len(cs) > _BLAS_TOPK:
            part = np.argpartition(-cs, _BLAS_TOPK - 1)[:_BLAS_TOPK]
            id_a, id_b, cs = id_a[part], id_b[part], cs[part]
        return pd.DataFrame({"id_a": id_a, "id_b": id_b, "cosine": cs})

    local = ab.groupBy("blk_lo", "blk_hi").applyInPandas(
        block_kernel, "id_a long, id_b long, cosine double"
    )
    return (
        local.orderBy(F.desc("cosine"), "id_a", "id_b")
        .limit(_BLAS_TOPK)
        .select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))
    )


_KNN_K = 10
# broadcast-side ceiling for the exact classifier: ~0.5 GB of float64
# at 64 dims. Past this, knn_label_vote_ann is the only sane plan.
_KNN_BROADCAST_BOUND = 1_000_000
_KNN_BLOCKS = 16  # ref-side block fan-out; any blocking yields the same
# final top-k (per-block partial top-k is exact), so the constant only
# trades per-task size against merge width
# loud in-kernel ceilings (VERDICT r17 #4): refs per block (the
# stacked rv matrix, ~1 GB of float64 at 64 dims) and live scoring
# cells per chunk (8M cells = 64 MB)
_KNN_BLOCK_REF_CAP = 2_000_000
_KNN_SIMS_CELL_BUDGET = 8_000_000


def _knn_block_topk_kernel(k: int):
    """Per-block EXACT partial top-k scorer for the exact kNN: one
    union block holds its slice of refs (side=0) and every query
    (side=1). Scores are per-pair ``einsum`` dots — a fixed-order
    64-term reduction per pair, independent of block shape or BLAS
    threading, so rankings are reproducible across runs and machines
    (the GEMM kernels of the rows-only ANN rungs have no such
    obligation; this operator is hash-oracled). Emits each query's
    exact in-block top-k by (cosine DESC, n_id ASC) — the global
    merge over B·k rows reproduces the exact all-refs top-k."""

    def kernel(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np
        import pandas as pd

        side = pdf["side"].to_numpy()
        r_rows = pdf[side == 0]
        q_rows = pdf[side == 1]
        if r_rows.empty or q_rows.empty:
            return pd.DataFrame(
                {
                    "q_id": pd.Series(dtype="int64"),
                    "n_id": pd.Series(dtype="int64"),
                    "cosine": pd.Series(dtype="float64"),
                }
            )
        # loud per-block guard (VERDICT r17 #4, guide §5): the scoring
        # matrix lives in THIS task; a skew-degenerate block must
        # raise, not OOM. Chunked below so the live matrix stays
        # ≤ ~64 MB; the guard bounds the per-chunk ref axis.
        if len(r_rows) > _KNN_BLOCK_REF_CAP:
            raise ValueError(
                f"knn block holds {len(r_rows)} refs (> {_KNN_BLOCK_REF_CAP}) — "
                "raise _KNN_BLOCKS so per-block slices stay task-sized"
            )
        rv = np.stack(r_rows["v"].to_numpy()).astype(np.float64)
        qv = np.stack(q_rows["v"].to_numpy()).astype(np.float64)
        r_ids = r_rows["id"].to_numpy()
        q_ids = q_rows["id"].to_numpy()
        rn = np.sqrt(np.einsum("ij,ij->i", rv, rv))
        qn = np.sqrt(np.einsum("ij,ij->i", qv, qv))
        kk = min(k, len(r_ids))
        out_q, out_n, out_c = [], [], []
        # query-chunked per-pair dots with a fixed reduction order
        # (optimize=False keeps einsum on its sequential C loop, never
        # BLAS). Chunking changes nothing numerically — each (q, r)
        # dot is the same fixed-order reduction over its own two rows
        # — and bounds the live sims matrix instead of materializing
        # |q|×|block| at once.
        qchunk = max(1, _KNN_SIMS_CELL_BUDGET // max(1, len(r_ids)))
        for s in range(0, len(q_ids), qchunk):
            e = s + qchunk
            sims = np.einsum("ik,jk->ij", qv[s:e], rv, optimize=False) / np.outer(
                qn[s:e], rn
            )
            for i in range(sims.shape[0]):
                order = np.lexsort((r_ids, -sims[i]))[:kk]
                out_q.append(np.full(kk, q_ids[s + i]))
                out_n.append(r_ids[order])
                out_c.append(sims[i][order])
        return pd.DataFrame(
            {
                "q_id": np.concatenate(out_q),
                "n_id": np.concatenate(out_n),
                "cosine": np.concatenate(out_c),
            }
        )

    return kernel

@register(
    "knn_label_vote",
    oracle=f"""
        WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
                   FROM embeddings WHERE vec_id % 20 = 0),
        r AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS rv
              FROM embeddings WHERE vec_id % 20 <> 0),
        scored AS (
          SELECT q.q_id, r.vec_id, r.label,
                 {_ORACLE_COS.format(a="q.qv", b="r.rv")} AS cosine
          FROM q, r
        ),
        knn AS (
          SELECT q_id, label FROM (
            SELECT q_id, label,
                   ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rn
            FROM scored
          ) WHERE rn <= {_KNN_K}
        ),
        votes AS (SELECT q_id, label, COUNT(*) AS n_votes FROM knn GROUP BY q_id, label)
        SELECT q_id, label AS pred_label, n_votes FROM (
          SELECT q_id, label, n_votes,
                 ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY n_votes DESC, label) AS rnk
          FROM votes
        ) WHERE rnk = 1
    """,
    tags=("L4",),
)
def knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4 — kNN classification: held-out queries (vec_id % 20 = 0)
    vote with the labels of their 10 nearest reference vectors;
    majority wins, ties break to the smaller label (deterministic in
    both engines). The query side is broadcast (it is 5% of the
    corpus by construction); references stream through one scan.

    SIZE GUARD: the broadcast side grows with the corpus — 5% of a
    100 TB embedding table is multi-TB and exceeds any executor. The
    guard raises beyond 1M query vectors (~0.5 GB at 64 float64
    dims); past it, use ``knn_label_vote_ann``, which shuffles both
    sides once on LSH bucket ids instead of broadcasting."""
    from pyspark.sql.window import Window

    # Guard on the parquet footer row count (metadata-only — no Spark
    # job, no scan; see io.parquet_row_count): queries are
    # vec_id % 20 == 0, i.e. ~1/20 of the table, so the estimate is
    # exact to ±1 per 20 rows. A real filter-count would cost a
    # column scan per invocation.
    n_total = parquet_row_count(sf_dir, "embeddings")
    n_queries_est = n_total // 20 + 1
    if n_queries_est > _KNN_BROADCAST_BOUND:
        raise ValueError(
            f"knn_label_vote broadcast guard: ~{n_queries_est} query vectors exceed the "
            f"{_KNN_BROADCAST_BOUND} broadcast bound; use knn_label_vote_ann "
            "(bucketed shuffle, no broadcast)"
        )
    # r17 (guide §4.2/§2.3): the broadcast cross join evaluated one
    # interpreted zip_with/aggregate fold per (query × ref) pair and
    # fed ALL |q|·|r| scored rows into the ranking window. Now refs
    # shuffle ONCE on a deterministic block key and queries replicate
    # per block (|q|·B tiny rows); each block task scores its slice
    # with per-pair-deterministic einsum dots and emits only its
    # EXACT per-block top-{_KNN_K} per query — the global window
    # merges B·{_KNN_K} candidates per query instead of |r|. Partial
    # per-block top-k keeps the final top-k exact for any blocking.
    # Measured 1.62 s → 0.86 s at sf0.1 (noop); the ranking itself is
    # unchanged (einsum margins at the k-boundary are ≥ 8.7e-5 at all
    # three SFs vs ~1e-13 summation-order error; oracle parity
    # re-verified at sf0.001/0.01/0.1).
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")
    vec = F.expr("transform(embedding, x -> CAST(x AS DOUBLE))")
    refs = emb.filter(F.col("vec_id") % 20 != 0).select(
        # pmod, not %: sign-preserving % would give negative ids a
        # block the query explode (0..B-1) never reaches, silently
        # dropping them from scoring (ADVICE r17); identical for the
        # non-negative ids of this corpus.
        F.pmod(F.col("vec_id"), F.lit(_KNN_BLOCKS)).cast("int").alias("block"),
        F.lit(0).alias("side"),
        F.col("vec_id").alias("id"),
        vec.alias("v"),
    )
    queries = emb.filter(F.col("vec_id") % 20 == 0).select(
        F.explode(F.sequence(F.lit(0), F.lit(_KNN_BLOCKS - 1))).alias("block"),
        F.lit(1).alias("side"),
        F.col("vec_id").alias("id"),
        vec.alias("v"),
    )
    scored = (
        refs.unionAll(queries)
        .groupBy("block")
        .applyInPandas(_knn_block_topk_kernel(_KNN_K), "q_id long, n_id long, cosine double")
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), "n_id")
    knn = scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= _KNN_K)
    labels = emb.select(F.col("vec_id").alias("n_id"), "label")
    votes = (
        knn.join(F.broadcast(labels), "n_id")
        .groupBy("q_id", "label")
        .agg(F.count(F.lit(1)).alias("n_votes"))
    )
    wv = Window.partitionBy("q_id").orderBy(F.desc("n_votes"), F.asc("label"))
    return (
        votes.withColumn("rnk", F.row_number().over(wv))
        .filter(F.col("rnk") == 1)
        .select("q_id", F.col("label").alias("pred_label"), "n_votes")
    )


@register(
    "embed_quantize_int8",
    oracle="""
        WITH v AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings
        ),
        s AS (
          SELECT vec_id, ve,
                 list_aggregate(list_transform(ve, x -> abs(x)), 'max') AS max_abs
          FROM v
        )
        SELECT vec_id,
               ROUND(127.0 / max_abs, 6) AS scale,
               array_to_string(list_transform(ve, x -> CAST(round(x * (127.0 / max_abs)) AS INTEGER)), ',') AS q
        FROM s
        WHERE max_abs > 0
    """,
    tags=("L3", "quantize"),
)
def embed_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column — the
    storage/bandwidth lever for vector search at scale (4x smaller
    than float32, 8x than float64; dot products run in int arithmetic
    with one per-vector rescale). Per-vector scale = 127/max|x|;
    elements round half-away-from-zero identically in both engines
    because every intermediate (float->double widen, divide,
    multiply) is the same IEEE operation on the same bits. Pure
    higher-order functions — zero shuffle, zero Python."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("ve")
    )
    s = emb.withColumn("max_abs", F.array_max(F.transform("ve", lambda x: F.abs(x))))
    return s.filter(F.col("max_abs") > 0).select(
        "vec_id",
        F.round(F.lit(127.0) / F.col("max_abs"), 6).alias("scale"),
        # int vector serialized to csv: driver-facing outputs are scalar-only
        F.expr(
            "array_join(transform(ve, x -> CAST(CAST(round(x * (127.0 / max_abs)) AS INT) AS STRING)), ',')"
        ).alias("q"),
    )


@register("knn_label_vote_ann", tags=("L4", "ann"))  # rows-only: approximate candidate set
def knn_label_vote_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4 scale path — kNN classification over ANN candidates: the
    same held-out-query voting as `knn_label_vote`, but neighbors
    come from the hyperplane-LSH buckets (multiprobe + cogroup GEMM)
    instead of a broadcast cross join. The exact classifier scores
    |queries|x|refs| pairs; this scores only bucket-local pairs —
    the version that survives when refs are 10^9 vectors. Fully
    deterministic (fixed planes), so the pytest invariant pins
    agreement with the exact classifier's predictions."""
    from pyspark.sql.window import Window

    emb = with_norm(load_table(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding"))
    sigged = emb.withColumn("sig", _signature("v"))
    # queries are rare (5%), so probe aggressively: own bucket + all
    # 1-bit and 2-bit flips (11 of 16 buckets) — recall@10 0.43->0.83
    # measured vs 1-bit-only; refs still shuffle once on their single
    # bucket, so the extra probes cost only query-side fan-out
    flips = [F.expr(f"sig ^ {1 << i}") for i in range(_ANN_BITS)] + [
        F.expr(f"sig ^ {(1 << i) | (1 << j)}")
        for i in range(_ANN_BITS)
        for j in range(i + 1, _ANN_BITS)
    ]
    probes = (
        sigged.filter(F.col("vec_id") % 20 == 0)
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("v").alias("qv"),
            F.explode(F.array(F.col("sig"), *flips)).alias("probe_sig"),
        )
    )
    refs = sigged.filter(F.col("vec_id") % 20 != 0).select(
        F.col("vec_id").alias("n_id"), F.col("v").alias("nv"), "sig"
    )
    scored = (
        probes.groupBy("probe_sig")
        .cogroup(refs.groupBy("sig"))
        .applyInPandas(_bucket_topk_kernel(_KNN_K), "q_id long, n_id long, cosine double")
        .dropDuplicates(["q_id", "n_id"])
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), "n_id")
    knn = scored.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= _KNN_K)
    labels = emb.select(F.col("vec_id").alias("n_id"), "label")
    votes = (
        knn.join(F.broadcast(labels), "n_id")
        .groupBy("q_id", "label")
        .agg(F.count(F.lit(1)).alias("n_votes"))
    )
    wv = Window.partitionBy("q_id").orderBy(F.desc("n_votes"), F.asc("label"))
    return (
        votes.withColumn("rnk", F.row_number().over(wv))
        .filter(F.col("rnk") == 1)
        .select("q_id", F.col("label").alias("pred_label"), "n_votes")
    )


# --- Johnson-Lindenstrauss random projection -------------------------------

_JL_OUT_DIM = 16


def _jl_signs(out_dim: int = _JL_OUT_DIM, in_dim: int = _DIM) -> list[list[int]]:
    """Deterministic Rademacher (+/-1) projection matrix derived from
    md5 — identical on both engines because it is data, not RNG."""
    import hashlib

    return [
        [1 if hashlib.md5(f"jl|{j}|{i}".encode()).digest()[0] % 2 == 0 else -1 for i in range(in_dim)]
        for j in range(out_dim)
    ]


def _jl_oracle() -> str:
    rows = _jl_signs()
    cols = ",\n               ".join(
        f"0.25 * list_dot_product(ve, [{', '.join(str(s) for s in row)}]::DOUBLE[]) AS proj_{j}"
        for j, row in enumerate(rows)
    )
    return f"""
        SELECT vec_id,
               {cols}
        FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings)
    """


@register("embed_random_projection", oracle=_jl_oracle(), tags=("L13", "jl"))
def embed_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction: 64-dim
    embeddings -> 16 dims via a fixed Rademacher sign matrix, scaled
    by 1/sqrt(16) = 0.25 (a power of two, so the scaling is exact in
    both engines). Pairwise distances survive within the JL bound
    (pytest pins the distortion envelope on sampled pairs).

    Scale shape: a narrow map — 16 fused JVM fold expressions per
    row, zero shuffle, zero Python; the cheap preprocessing step
    before ANN indexing when 64 dims of float64 are 4x more IO than
    recall needs. The sign matrix is DATA derived from md5, not RNG,
    so recomputation anywhere (any executor, any engine) agrees."""
    signs = _jl_signs()
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("ve")
    )
    projections = [
        F.expr(
            "0.25 * aggregate(zip_with(ve, array({lits}), (x, s) -> x * s), "
            "CAST(0 AS DOUBLE), (acc, p) -> acc + p)".format(
                lits=", ".join(f"CAST({s} AS DOUBLE)" for s in row)
            )
        ).alias(f"proj_{j}")
        for j, row in enumerate(signs)
    ]
    return emb.select("vec_id", *projections)


@register(
    "embed_label_centroids",
    oracle=f"""
        WITH flat AS (
          SELECT label, i, AVG(embedding[i]) AS m
          FROM embeddings, LATERAL unnest(generate_series(1, {_DIM})) AS t(i)
          GROUP BY label, i
        ),
        cnt AS (
          SELECT label, CAST(COUNT(*) AS BIGINT) AS n FROM embeddings GROUP BY label
        )
        SELECT c.label, c.n,
               array_to_string(
                 list(CAST(CAST(ROUND(ROUND(f.m, 6) * 1000000, 0) AS BIGINT) AS VARCHAR)
                      ORDER BY f.i), ',') AS centroid
        FROM flat f JOIN cnt c ON f.label = c.label
        GROUP BY c.label, c.n
    """,
    tags=("L13''", "centroid"),
)
def embed_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids (mean pooling) — the primitive
    under nearest-centroid classification, k-means init, and class
    prototypes. Computed as 64 (=_DIM) independent element aggregates
    (``avg(embedding[i])``) in ONE grouped pass: all JVM-side, full
    map-side partial aggregation, shuffle carries #labels × 64 (_DIM)
    doubles — at 100 TB the reduce side is microscopic regardless of
    row count (contrast collect_list-then-average, which ships every
    vector). The oracle unnests with ordinality and re-packs with an
    ordered list agg. Rounded to 6 dp: element sums accumulate in
    double from float32 inputs, so partial-agg ordering noise
    (~1e-13 relative) is far below the rounding grain."""
    emb = load_table(spark, sf_dir, "embeddings")
    aggs = [F.count(F.lit(1)).alias("n")] + [
        F.round(F.avg(F.col("embedding")[i]), 6).alias(f"c{i}") for i in range(_DIM)
    ]
    wide = emb.groupBy("label").agg(*aggs)
    # 6-dp fixed-point integers joined to one string — the driver's
    # canonicalizer cannot hash list cells (CORRECTNESS_r01), so no
    # registered query emits a complex top-level column.
    fixed = [
        F.round(F.col(f"c{i}") * 1_000_000, 0).cast("long").cast("string")
        for i in range(_DIM)
    ]
    return wide.select("label", "n", F.concat_ws(",", F.array(*fixed)).alias("centroid"))


_KMEANS_K = 8
_KMEANS_ITERS = 3


def _kmeans_oracle() -> str:
    """Unrolled Lloyd iterations as chained CTEs (aggregation inside a
    recursive CTE member is not portable SQL — same device as the
    pagerank oracle). Distances are strict LEFT FOLDS (list_reduce) so
    both engines sum the 64 squared diffs in the identical IEEE order;
    centroids are rounded to 6 dp each iteration, making the model —
    and therefore every subsequent assignment — engine-exact."""
    dist = (
        "list_reduce(list_transform(generate_series(1, 64),"
        " i -> (e.v[i] - c.cent[i]) * (e.v[i] - c.cent[i])), (acc, x) -> acc + x)"
    )
    parts = [
        f"""emb AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ),
        c0 AS (
          SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cluster,
                 list_transform(v, x -> ROUND(x, 6)) AS cent
          FROM (SELECT vec_id, v FROM emb ORDER BY vec_id LIMIT {_KMEANS_K})
        )"""
    ]
    prev = "c0"
    for t in range(_KMEANS_ITERS):
        parts.append(
            f"""a{t} AS (
          SELECT vec_id, v, cluster FROM (
            SELECT e.vec_id, e.v, c.cluster,
                   row_number() OVER (PARTITION BY e.vec_id
                                      ORDER BY {dist}, c.cluster) AS rn
            FROM emb e CROSS JOIN {prev} c
          ) WHERE rn = 1
        ),
        m{t} AS (
          SELECT cluster, list(m ORDER BY i) AS cent
          FROM (
            SELECT cluster, i, ROUND(AVG(v[i]), 6) AS m
            FROM a{t}, LATERAL unnest(generate_series(1, 64)) AS g(i)
            GROUP BY cluster, i
          ) GROUP BY cluster
        ),
        c{t + 1} AS (
          SELECT o.cluster, COALESCE(m.cent, o.cent) AS cent
          FROM {prev} o LEFT JOIN m{t} m ON o.cluster = m.cluster
        )"""
        )
        prev = f"c{t + 1}"
    last_assign = _KMEANS_ITERS - 1
    body = ",\n        ".join(parts)
    return f"""
        WITH {body}
        SELECT c.cluster,
               CAST(COALESCE(n.n, 0) AS BIGINT) AS n_members,
               array_to_string(
                 list_transform(c.cent,
                   x -> CAST(CAST(ROUND(x * 1000000, 0) AS BIGINT) AS VARCHAR)),
                 ',') AS centroid
        FROM {prev} c
        LEFT JOIN (SELECT cluster, COUNT(*) AS n FROM a{last_assign} GROUP BY cluster) n
          ON n.cluster = c.cluster
    """


@register("kmeans_embeddings", oracle=_kmeans_oracle(), tags=("ML1", "kmeans", "iterative"))
def kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed k-means (Lloyd), K=8, 3 fixed iterations, over the
    embedding corpus — the standalone version of the clustering step
    embedded in sim_search_ann_ivf, and the canonical iterative-ML
    workload (each iteration was a full MapReduce job in the
    reference system class). Deterministic throughout: seeds are the
    K lowest-vec_id vectors (no RNG), assignment ties break toward
    the lower cluster id, and centroids are rounded to 6 dp per
    iteration so the model is bit-identical across engines — which
    is what lets an ITERATIVE float algorithm carry a full hash
    oracle (distances are strict left folds, summed in the same IEEE
    order both sides; see the oracle builder's note).

    Scale shape per iteration: assignment is a narrow map against
    the K×64 broadcast-literal model (whole-stage codegen, no
    Python, no shuffle); re-estimation is ONE hash aggregate keyed
    by (cluster, pos) — K×64 result rows; only the rounded model
    (K×64 doubles) ever touches the driver between iterations, the
    same bounded-model-state discipline as IVF. Empty clusters keep
    their previous centroid (COALESCE both sides)."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v")
    )
    seeds = emb.orderBy("vec_id").limit(_KMEANS_K).collect()
    centroids = [[round(float(x), 6) for x in r["v"]] for r in seeds]

    def assign(cents: list[list[float]]) -> DataFrame:
        dists = F.array(
            *[
                F.struct(
                    F.expr(
                        "aggregate(zip_with(v, array({lits}), (a, b) -> (a - b) * (a - b)),"
                        " 0D, (acc, x) -> acc + x)".format(
                            lits=", ".join(f"{x!r}D" for x in cents[j])
                        )
                    ).alias("dist"),
                    F.lit(j).alias("cluster"),
                )
                for j in range(_KMEANS_K)
            ]
        )
        return emb.withColumn("cluster", F.array_min(dists)["cluster"])

    assigned = None
    for _ in range(_KMEANS_ITERS):
        assigned = assign(centroids)
        means = (
            assigned.select("cluster", F.posexplode("v").alias("pos", "x"))
            .groupBy("cluster", "pos")
            .agg(F.round(F.avg("x"), 6).alias("m"))
            .groupBy("cluster")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("mm"))
            .select("cluster", F.col("mm.m").alias("cent"))
            .collect()
        )
        new_cents = list(centroids)
        for r in means:
            new_cents[r["cluster"]] = [float(x) for x in r["cent"]]
        centroids = new_cents

    sizes = assigned.groupBy("cluster").agg(F.count(F.lit(1)).alias("n"))
    # centroids are 6-dp rounded; serialize as exact fixed-point ints
    # (driver-canonicalizer-safe — list cells crash its hasher).
    model = spark.createDataFrame(
        [
            (j, ",".join(str(int(round(x * 1_000_000))) for x in centroids[j]))
            for j in range(_KMEANS_K)
        ],
        "cluster int, centroid string",
    )
    return (
        model.join(sizes, "cluster", "left")
        .select(
            "cluster",
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_members"),
            "centroid",
        )
    )


_PCA_ITERS = 8


def _pca_oracle() -> str:
    """Power iteration unrolled as chained CTEs over the 64×64
    rounded covariance (same device as the kmeans/pagerank oracles).
    Every dot product and the norm are strict left folds over
    ascending dimension order, identical to the engine's driver-side
    Python loops, so the iteration is bit-for-bit given the rounded
    covariance."""
    dot = (
        "list_reduce(list_transform(generate_series(1, 64),"
        " k -> cl[k] * v[k]), (a, b) -> a + b)"
    )
    parts = [
        """emb AS (
          SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ),
        n AS (SELECT COUNT(*) AS n FROM emb),
        mu AS (
          SELECT list(m ORDER BY i) AS mu FROM (
            SELECT i, ROUND(AVG(v[i]), 6) AS m
            FROM emb, LATERAL unnest(generate_series(1, 64)) AS g(i)
            GROUP BY i
          )
        ),
        cov AS (
          SELECT i, j,
                 ROUND(SUM((e.v[i] - mu.mu[i]) * (e.v[j] - mu.mu[j])) / n.n, 6) AS c
          FROM emb e, mu, n,
               LATERAL unnest(generate_series(1, 64)) AS gi(i),
               LATERAL unnest(generate_series(1, 64)) AS gj(j)
          GROUP BY i, j, n.n
        ),
        crow AS (
          SELECT i, list(c ORDER BY j) AS cl FROM cov GROUP BY i
        ),
        v0 AS (
          SELECT list_transform(generate_series(1, 64), x -> 0.125) AS v
        )"""
    ]
    prev = "v0"
    for t in range(_PCA_ITERS):
        parts.append(
            f"""w{t} AS (
          SELECT crow.i, {dot} AS d FROM crow, {prev}
        ),
        wl{t} AS (
          SELECT list(d ORDER BY i) AS w,
                 sqrt(list_reduce(list_transform(list(d ORDER BY i), x -> x * x),
                                  (a, b) -> a + b)) AS nrm
          FROM w{t}
        ),
        v{t + 1} AS (
          SELECT list_transform(w, x -> x / nrm) AS v FROM wl{t}
        )"""
        )
        prev = f"v{t + 1}"
    body = ",\n        ".join(parts)
    return f"""
        WITH {body}
        SELECT g.i AS dim,
               ROUND(v.v[g.i], 4) AS loading,
               ROUND(wl.nrm, 4) AS eigenvalue
        FROM {prev} v, wl{_PCA_ITERS - 1} wl,
             LATERAL unnest(generate_series(1, 64)) AS g(i)
    """


@register("pca_power_iteration_top1", oracle=_pca_oracle(), tags=("ML2", "pca", "iterative"))
def pca_power_iteration_top1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding corpus by power
    iteration — the second iterative-ML flagship beside
    kmeans_embeddings, and the decomposition behind whitening,
    anisotropy correction ("all-but-the-top" embedding post-
    processing), and drift monitoring.

    Split of labor is the 100 TB design point: the CORPUS-sized work
    is exactly two passes (the 64 mean aggregates, then the 64×64
    centered co-moment pass — a ``mapInPandas`` kernel that folds
    each task's Arrow batches into ONE local (X−µ)ᵀ(X−µ) BLAS
    partial and emits 4096 partial rows into a single hash
    aggregate; r17); the ITERATION runs on the 64×64 matrix, which
    is driver-resident model state like the k-means centroids — 8
    matrix-vector products on 4 KB of data, never touching the
    corpus again. Engine-exactness: mean and covariance are rounded
    to 6 dp — the ROUND absorbs the kernel partials' summation order
    exactly as it absorbed the retired explode-form's partition-
    order-dependent partial aggregation — the start vector 1/8 is
    exactly dyadic, and every dot product / norm of the iteration is
    a strict ascending fold — the oracle unrolls the identical
    iteration in SQL, so even an eigensolve hash-matches."""
    import math

    emb = load_table(spark, sf_dir, "embeddings").select(
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v")
    )
    n = emb.count()
    mu_row = emb.agg(
        F.array(*[F.round(F.avg(F.col("v")[i]), 6) for i in range(_DIM)]).alias("mus")
    ).first()
    mus = [float(x) for x in mu_row["mus"]]

    # r17 (guide §4.2): the 64×64 co-moment pass used to explode one
    # struct per (i, j) per row — 4096 interpreted lambda products
    # per vector, 8.2M rows into the hash aggregate at sf0.1. Each
    # task now folds its Arrow batches into ONE local 64×64 partial
    # ((X−µ)ᵀ(X−µ), a single BLAS call per batch) and emits 4096
    # partial rows; the JVM aggregate merges tasks×4096 rows. The
    # 6 dp ROUND on the merged sums absorbs summation-order
    # differences exactly as it already absorbed Spark's
    # partition-order-dependent partial aggregation (per this
    # operator's own exactness note). Measured 4.4 s (r16 sweep) →
    # 1.6 s at sf0.1 (full query, collect).
    def cov_partials(batches):
        import numpy as np
        import pandas as pd

        mu = np.array(mus, dtype=np.float64)
        acc = np.zeros((_DIM, _DIM), dtype=np.float64)
        seen = False
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf["v"].to_numpy()).astype(np.float64) - mu
            acc += x.T @ x
            seen = True
        if not seen:
            return
        ii, jj = np.meshgrid(
            np.arange(1, _DIM + 1), np.arange(1, _DIM + 1), indexing="ij"
        )
        yield pd.DataFrame(
            {"i": ii.ravel().astype("int32"), "j": jj.ravel().astype("int32"), "p": acc.ravel()}
        )

    cov_rows = (
        emb.mapInPandas(cov_partials, "i int, j int, p double")
        .groupBy("i", "j")
        .agg(F.round(F.sum("p") / F.lit(float(n)), 6).alias("c"))
        .collect()
    )
    cov = [[0.0] * _DIM for _ in range(_DIM)]
    for r in cov_rows:
        cov[r["i"] - 1][r["j"] - 1] = float(r["c"])

    v = [0.125] * _DIM
    nrm = 0.0
    for _ in range(_PCA_ITERS):
        w = [0.0] * _DIM
        for i in range(_DIM):
            acc = 0.0
            for k in range(_DIM):
                acc = acc + cov[i][k] * v[k]
            w[i] = acc
        acc = 0.0
        for x in w:
            acc = acc + x * x
        nrm = math.sqrt(acc)
        v = [x / nrm for x in w]

    return spark.createDataFrame(
        [(i + 1, round(v[i], 4), round(nrm, 4)) for i in range(_DIM)],
        "dim int, loading double, eigenvalue double",
    )


_PQ_M = 8      # subspaces
_PQ_DSUB = 8   # dims per subspace (8x8 = 64)
_PQ_K = 16     # centroids per subspace
_PQ_SCALE = 64  # power-of-two quantization scale: x*64 is EXACT in IEEE


@register(
    "sim_search_pq",
    # Fully hash-oracled PQ: vectors quantize to integers first
    # (floor(x*64) — *64 only shifts the exponent, so both engines see
    # identical integers), making codes and ADC distances exact
    # integer arithmetic with deterministic argmin ties (smallest
    # centroid id). The float-domain PQ variant would be rows-only
    # like LSH/IVF; the integer construction buys an exact oracle.
    oracle=f"""
        WITH q AS (
          SELECT vec_id,
                 list_transform(CAST(embedding AS DOUBLE[]),
                                x -> CAST(floor(x * {_PQ_SCALE}) AS BIGINT)) AS qv
          FROM embeddings
        ),
        seeds AS (
          SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INTEGER) - 1 AS c,
                 qv AS cv, vec_id
          FROM q ORDER BY vec_id LIMIT {_PQ_K}
        ),
        probe AS (SELECT qv AS pv, vec_id AS pid FROM q ORDER BY vec_id LIMIT 1),
        subs AS (SELECT unnest(generate_series(0, {_PQ_M - 1})) AS s),
        vdist AS (
          SELECT v.vec_id, subs.s, se.c,
                 list_sum(list_transform(generate_series(1, {_PQ_DSUB}),
                   d -> (v.qv[subs.s * {_PQ_DSUB} + d] - se.cv[subs.s * {_PQ_DSUB} + d])
                      * (v.qv[subs.s * {_PQ_DSUB} + d] - se.cv[subs.s * {_PQ_DSUB} + d]))) AS dist
          FROM q v, subs, seeds se
        ),
        codes AS (
          SELECT vec_id, s,
                 CAST(list_position(l, list_min(l)) AS INTEGER) - 1 AS code
          FROM (SELECT vec_id, s, list(dist ORDER BY c) AS l
                FROM vdist GROUP BY vec_id, s)
        ),
        pdist AS (
          SELECT subs.s, se.c,
                 list_sum(list_transform(generate_series(1, {_PQ_DSUB}),
                   d -> (p.pv[subs.s * {_PQ_DSUB} + d] - se.cv[subs.s * {_PQ_DSUB} + d])
                      * (p.pv[subs.s * {_PQ_DSUB} + d] - se.cv[subs.s * {_PQ_DSUB} + d]))) AS dist
          FROM probe p, subs, seeds se
        ),
        adc AS (
          SELECT codes.vec_id, CAST(SUM(pdist.dist) AS BIGINT) AS adc_dist
          FROM codes JOIN pdist ON codes.s = pdist.s AND codes.code = pdist.c
          GROUP BY codes.vec_id
        )
        SELECT a.vec_id, a.adc_dist
        FROM adc a, probe
        WHERE a.vec_id <> probe.pid
        ORDER BY a.adc_dist, a.vec_id
        LIMIT 10
    """,
    tags=("L3", "ann", "pq"),
)
def sim_search_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (Jégou et al. 2011) — the
    compressed-domain leg that completes the vector-search stack
    (exact GEMM → LSH buckets → IVF lists → PQ codes): vectors
    quantize into {_PQ_M} sub-codes (nearest of {_PQ_K} per-subspace
    centroids; codebook = the {_PQ_K} lowest-vec_id vectors, the same
    deterministic stride-seed convention as IVF), and query distance
    is ADC — a sum of {_PQ_M} table lookups against precomputed
    probe→centroid subdistances, never a full-vector computation.
    Integer quantization (floor(x·64), exponent-shift exact) makes
    codes AND distances exact integer math, so this ANN path is HASH-
    ORACLED — the LSH/IVF float paths can only be rows-only.

    Scale: the codebook and the probe are bounded collected model
    state ({_PQ_K}×64 + 64 ints — the IVF precedent); encode+ADC is
    ONE narrow JVM map over the corpus (the quantized vector is bound
    as a lambda variable, the let-binding discipline from the shingle
    fix) followed by TakeOrderedAndProject top-10. At 100 TB: codes
    are {_PQ_M} bytes/vector — a 32× storage cut — and search never
    shuffles the corpus; re-ranking survivors with exact distances is
    the standard second stage (sim_search_topk's kernel)."""
    emb = load_table(spark, sf_dir, "embeddings")
    qexpr = (
        f"transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * {_PQ_SCALE}) AS BIGINT))"
    )
    base = emb.select("vec_id", F.expr(qexpr).alias("qv"))
    seeds = base.orderBy("vec_id").limit(_PQ_K).collect()
    cents = [list(r["qv"]) for r in seeds]
    probe_id, pv = seeds[0]["vec_id"], list(seeds[0]["qv"])
    pdist = [
        [
            sum(
                (pv[s * _PQ_DSUB + d] - cents[c][s * _PQ_DSUB + d]) ** 2
                for d in range(_PQ_DSUB)
            )
            for c in range(_PQ_K)
        ]
        for s in range(_PQ_M)
    ]

    # r17 (guide §4.2): encode + ADC moved from a single giant
    # interpreted HOF expression (K×M×DSUB lambda evaluations per
    # row) to one numpy int64 kernel per Arrow batch. Every quantity
    # is EXACT integer arithmetic (quantization is floor(x·2⁶) — the
    # identical IEEE double multiply — and sub-distances / ADC sums
    # are int64 with |values| ≪ 2³¹), and np.argmin takes the FIRST
    # minimum exactly like array_position(l, array_min(l)), so the
    # kernel is bit-identical to the expression it replaces — no
    # float tolerance involved. Measured 1.37 s → 0.75 s at sf0.1
    # (noop); same collected bounded model state, same
    # TakeOrderedAndProject top-10.
    def adc_kernel(batches):
        import numpy as np
        import pandas as pd

        cent_m = np.array(cents, dtype=np.int64).reshape(
            _PQ_K, _PQ_M, _PQ_DSUB
        )  # centroid c, subspace s, dim d
        pd_m = np.array(pdist, dtype=np.int64)  # (s, c)
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            q = np.floor(v * _PQ_SCALE).astype(np.int64).reshape(
                len(v), _PQ_M, _PQ_DSUB
            )
            # (n, K, s) sub-distances -> first-min code per (n, s)
            diff = q[:, None, :, :] - cent_m[None, :, :, :]
            codes = np.argmin((diff * diff).sum(axis=3), axis=1)  # (n, s)
            adc = pd_m[np.arange(_PQ_M)[None, :], codes].sum(axis=1)
            yield pd.DataFrame({"vec_id": pdf["vec_id"], "adc_dist": adc})

    return (
        emb.select("vec_id", "embedding")
        .filter(F.col("vec_id") != probe_id)
        .mapInPandas(adc_kernel, "vec_id long, adc_dist long")
        .orderBy("adc_dist", "vec_id")
        .limit(10)
    )


_LOGREG_ITERS = 3
_LOGREG_LR = 1.0
_LOGREG_DIM = 64


def _logreg_oracle() -> str:
    """Batch-gradient logistic regression unrolled as chained CTEs
    (the kmeans/PCA oracle device). The decision function is a strict
    left fold over ascending dimensions (Spark `aggregate` ==
    DuckDB `list_reduce` bit-for-bit); per-dimension gradient MEANS
    are rounded to 6 dp and the weight update re-rounded to 6 dp, so
    the model is identical across engines after every step — which
    is what lets exp()-bearing float iteration carry a hash oracle.
    Train accuracy compares z >= 0, an EXACT predicate (no sigmoid
    rounding in the readout)."""
    zfold = (
        "list_reduce(list_transform(generate_series(1, {d}),"
        " k -> {w}[k] * e.v[k]), (a, b) -> a + b)"
    ).format(d=_LOGREG_DIM, w="{w}")
    parts = [
        f"""emb AS (
          SELECT CAST(embedding AS DOUBLE[]) AS v,
                 CAST(label % 2 AS DOUBLE) AS y
          FROM embeddings
        ),
        w0 AS (SELECT list_transform(generate_series(1, {_LOGREG_DIM}), x -> 0.0) AS w)"""
    ]
    prev = "w0"
    for t in range(_LOGREG_ITERS):
        z = zfold.format(w="w.w")
        parts.append(
            f"""g{t} AS (
          SELECT gi.i,
                 ROUND(AVG((1.0 / (1.0 + exp(-({z}))) - e.y) * e.v[gi.i]), 6) AS g
          FROM emb e, {prev} w,
               LATERAL unnest(generate_series(1, {_LOGREG_DIM})) AS gi(i)
          GROUP BY gi.i
        ),
        w{t + 1} AS (
          SELECT list(ROUND(w.w[g.i] - {_LOGREG_LR} * g.g, 6) ORDER BY g.i) AS w
          FROM g{t} g, {prev} w GROUP BY w.w
        )"""
        )
        prev = f"w{t + 1}"
    zf = zfold.format(w="w.w")
    parts.append(
        f"""acc AS (
          SELECT ROUND(AVG(CASE WHEN ({zf} >= 0) = (e.y = 1.0)
                                THEN 1.0 ELSE 0.0 END), 6) AS train_accuracy
          FROM emb e, {prev} w
        )"""
    )
    body = ",\n        ".join(parts)
    return f"""
        WITH {body}
        SELECT CAST(gi.i AS INTEGER) AS dim,
               w.w[gi.i] AS weight,
               acc.train_accuracy
        FROM {prev} w, acc,
             LATERAL unnest(generate_series(1, {_LOGREG_DIM})) AS gi(i)
    """


@register("logreg_embeddings", oracle=_logreg_oracle(), tags=("ML3", "logreg", "iterative"))
def logreg_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed logistic-regression TRAINING over the embedding
    corpus (batch gradient descent, 3 fixed steps, lr=1, zero init;
    binary target label%2) — the trainer behind every learned
    quality/safety classifier that later gates a corpus (the
    inference side is eval_auc_rank_sum / eval_calibration_bins'
    subject). Third iterative-ML flagship beside k-means and PCA,
    same exactness discipline: the decision value is a strict left
    fold against the 6-dp-rounded broadcast-literal weight vector,
    per-dimension gradient means round at 6 dp, updates re-round at
    6 dp — so even with exp() in the loop both engines hold the
    identical model after every step, and train accuracy reads off
    the EXACT z >= 0 predicate. Output: 64 (dim, weight) rows plus
    the constant train_accuracy column.

    Scale shape per step: ONE narrow map computes sigma(w.x) per row
    (no shuffle — w is literal), one posexplode hash-aggregate
    reduces to 64 gradient rows; only the 64-double model touches
    the driver between steps. This is mini-batch-able and
    dimension-scalable (the aggregate is keyed by dim); at 100 TB
    swap full-batch GD for sampled mini-batches with the same
    plan.

    r18 note (VERDICT r17 #5, measured and REVERTED): a PCA-style
    per-task partial-gradient kernel (one GEMM + Σe·x per task,
    posexplode gone) was built, margin-audited — every gradient mean
    sits ≥ 1.5e-9 from its 6 dp rounding boundary and the z ≥ 0
    readout margin is ≥ 2.3e-6 at all three SFs, so the rewrite WAS
    result-safe and oracle parity passed ×3 SFs — but measured
    SLOWER (1.70 vs 1.41 s median, interleaved same-session A/B at
    sf0.1): three Python-stage round-trips per training run cost
    more than the interpreted fold they replaced on this 2000-row
    corpus, the same break-even that reverted the r17 kmeans kernel.
    Re-evaluate when |corpus|·dim grows past the Python-boundary
    break-even; the audited margins above make the swap safe when it
    pays."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v"),
        (F.col("label") % 2).cast("double").alias("y"),
    )

    def zcol(w: list[float]):
        lits = ", ".join(f"{x!r}D" for x in w)
        return F.expr(
            f"aggregate(zip_with(v, array({lits}), (a, b) -> a * b), 0D, (acc, x) -> acc + x)"
        )

    w = [0.0] * _LOGREG_DIM
    for _ in range(_LOGREG_ITERS):
        s = 1.0 / (1.0 + F.exp(-zcol(w)))
        grads = (
            emb.withColumn("e", s - F.col("y"))
            .select("e", F.posexplode("v").alias("pos", "x"))
            .groupBy("pos")
            .agg(F.round(F.avg(F.col("e") * F.col("x")), 6).alias("g"))
            .collect()
        )
        gmap = {r["pos"]: r["g"] for r in grads}
        w = [round(w[d] - _LOGREG_LR * gmap[d], 6) for d in range(_LOGREG_DIM)]

    acc = emb.agg(
        F.round(
            F.avg(F.when((zcol(w) >= 0) == (F.col("y") == 1.0), 1.0).otherwise(0.0)), 6
        ).alias("train_accuracy")
    )
    model = spark.createDataFrame(
        [(d + 1, w[d]) for d in range(_LOGREG_DIM)], "dim int, weight double"
    )
    return model.crossJoin(F.broadcast(acc))


_RRF_K = 60   # standard RRF damping constant
_RRF_POOL = 50  # per-ranker candidate pool
_RRF_TERMS = ("fast", "table", "query")  # lexical probe (doc_bm25_topk's)


@register(
    "sim_search_hybrid_rrf",
    oracle=f"""
        WITH docs AS (
          SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ),
        dl AS (SELECT doc_id, CAST(len(t) AS DOUBLE) AS dl FROM docs),
        stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, AVG(dl) AS avgdl FROM dl),
        tf AS (
          SELECT d.doc_id, u.w AS term, CAST(COUNT(*) AS DOUBLE) AS tf
          FROM docs d, LATERAL unnest(d.t) AS u(w)
          WHERE u.w IN ({", ".join(f"'{t}'" for t in _RRF_TERMS)})
          GROUP BY d.doc_id, u.w
        ),
        df AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY term),
        bm25 AS (
          SELECT tf.doc_id,
                 SUM(ln((s.n - df.df + 0.5) / (df.df + 0.5) + 1)
                     * tf.tf * 2.2
                     / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl))) AS score
          FROM tf JOIN df ON tf.term = df.term
          JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s
          GROUP BY tf.doc_id
        ),
        lex AS (
          SELECT doc_id,
                 CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS r
          FROM bm25 ORDER BY score DESC, doc_id LIMIT {_RRF_POOL}
        ),
        q AS (
          SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings ORDER BY vec_id LIMIT 1
        ),
        cos AS (
          SELECT e.vec_id AS doc_id,
                 list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv)
                   / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                            CAST(e.embedding AS DOUBLE[])))
                      * sqrt(list_dot_product(q.qv, q.qv))) AS score
          FROM embeddings e, q
        ),
        sem AS (
          SELECT doc_id,
                 CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS r
          FROM cos ORDER BY score DESC, doc_id LIMIT {_RRF_POOL}
        ),
        fused AS (
          SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id,
                 ROUND(COALESCE(1.0 / ({_RRF_K} + l.r), 0)
                       + COALESCE(1.0 / ({_RRF_K} + s.r), 0), 6) AS rrf_score,
                 l.r AS lex_rank, s.r AS sem_rank
          FROM lex l FULL OUTER JOIN sem s ON l.doc_id = s.doc_id
        )
        SELECT doc_id, rrf_score, lex_rank, sem_rank
        FROM fused ORDER BY rrf_score DESC, doc_id LIMIT 10
    """,
    tags=("L3'", "hybrid", "rrf"),
)
def sim_search_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid search by reciprocal-rank fusion (Cormack et al. 2009
    — the de-facto standard fuser in every hybrid-retrieval stack):
    a lexical ranker (doc_bm25_topk's scorer) and a semantic ranker
    (cosine to the probe embedding) each retrieve a top-{_RRF_POOL}
    pool; fusion scores 1/({_RRF_K}+rank) summed across the lists —
    rank-based, so the two systems' incomparable score scales never
    meet. This op is the capstone that JOINS the engine's text stack
    to its vector stack on doc_id = vec_id.

    Scale: each ranker is its own already-audited plan (query-sized
    posting aggregate; broadcast-probe cosine map) ending in
    TakeOrderedAndProject; fusion touches 2×{_RRF_POOL} rows. Ranks
    are exact integers (deterministic doc_id tiebreaks), so the
    fused scores are exact dyadic-free rationals both engines round
    identically."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("t")
    )
    dl = docs.select("doc_id", F.size("t").cast("double").alias("dl"))
    stats = dl.agg(F.count(F.lit(1)).cast("double").alias("n"), F.avg("dl").alias("avgdl"))
    tf = (
        docs.select("doc_id", F.explode("t").alias("term"))
        .filter(F.col("term").isin(*_RRF_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("double").alias("df"))
    idf = F.log((F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1)
    contrib = idf * F.col("tf") * 2.2 / (
        F.col("tf") + 1.2 * (0.25 + 0.75 * F.col("dl") / F.col("avgdl"))
    )
    bm25 = (
        tf.join(F.broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.sum(contrib).alias("score"))
    )
    lex = (
        bm25.orderBy(F.desc("score"), "doc_id")
        .limit(_RRF_POOL)
        .select("doc_id", F.row_number().over(
            Window.orderBy(F.desc("score"), "doc_id")).cast("long").alias("lr"))
    )

    emb = with_norm(load_table(spark, sf_dir, "embeddings"))
    q = (
        with_norm(load_table(spark, sf_dir, "embeddings").orderBy("vec_id").limit(1))
        .select(F.col("v").alias("qv"), F.col("norm").alias("qnorm"))
    )
    cos_expr = F.expr(
        "aggregate(zip_with(v, qv, (x, y) -> x * y), CAST(0 AS DOUBLE), (acc, p) -> acc + p) / (norm * qnorm)"
    )
    sem = (
        emb.crossJoin(F.broadcast(q))
        .select(F.col("vec_id").alias("doc_id"), cos_expr.alias("score"))
        .orderBy(F.desc("score"), "doc_id")
        .limit(_RRF_POOL)
        .select("doc_id", F.row_number().over(
            Window.orderBy(F.desc("score"), "doc_id")).cast("long").alias("sr"))
    )
    fused = lex.join(sem, "doc_id", "full_outer").select(
        "doc_id",
        F.round(
            F.coalesce(1.0 / (_RRF_K + F.col("lr")), F.lit(0.0))
            + F.coalesce(1.0 / (_RRF_K + F.col("sr")), F.lit(0.0)),
            6,
        ).alias("rrf_score"),
        F.col("lr").alias("lex_rank"),
        F.col("sr").alias("sem_rank"),
    )
    return fused.orderBy(F.desc("rrf_score"), "doc_id").limit(10)


_TFIDF_DF_CAP = 100  # posting-list cap: drop corpus-stopwords from the index
_TFIDF_TOP = 20


@register(
    "sim_search_tfidf_sparse",
    oracle=f"""
        WITH toks AS (
          SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
        ),
        tf AS (
          SELECT doc_id, w, COUNT(*) AS tf FROM (
            SELECT doc_id, unnest(t) AS w FROM toks
          ) GROUP BY doc_id, w
        ),
        dfc AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w),
        n AS (SELECT COUNT(*) AS nd FROM documents),
        wt AS (
          SELECT tf.doc_id, tf.w,
                 tf.tf * (ln(n.nd) - ln(dfc.df)) AS wgt
          FROM tf JOIN dfc ON tf.w = dfc.w CROSS JOIN n
          WHERE dfc.df <= {_TFIDF_DF_CAP} AND dfc.df < n.nd
        ),
        nrm AS (
          SELECT doc_id, sqrt(SUM(wgt * wgt)) AS nn FROM wt GROUP BY doc_id
        ),
        dots AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, SUM(a.wgt * b.wgt) AS dot
          FROM wt a JOIN wt b ON a.w = b.w AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id
        )
        SELECT id_a, id_b, cosine FROM (
          SELECT d.id_a, d.id_b,
                 ROUND(d.dot / (na.nn * nb.nn), 6) AS cosine
          FROM dots d
          JOIN nrm na ON d.id_a = na.doc_id
          JOIN nrm nb ON d.id_b = nb.doc_id
          ORDER BY cosine DESC, id_a, id_b
          LIMIT {_TFIDF_TOP}
        )
    """,
    tags=("L3", "L12", "tfidf", "sparse", "similarity"),
)
def sim_search_tfidf_sparse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3/L12 — sparse lexical similarity: the top-{_TFIDF_TOP} most
    similar document PAIRS by tf-idf cosine, computed through a
    df-capped inverted index — the SPARSE-vector rung of the
    similarity ladder (dense cosine = ``dedup_embedding_cosine``,
    set overlap = ``dedup_containment``, probabilistic =
    ``doc_bm25_topk``; this is the classic VSM pairwise form).

    The pair generation is the inverted-index self-join on tokens —
    an equi-join whose per-token collision lists are bounded by the
    df cap ({_TFIDF_DF_CAP}): corpus-stopword postings never enter
    the index (they carry near-zero idf weight anyway), which is
    what keeps candidate volume LINEAR in corpus size instead of
    the stopword-quadratic blowup. idf is ``ln N − ln df`` (lns of
    integers, the portable float spelling); dot products and norms
    are sums over the SAME capped weight table on both engines, so
    the algebra is identical by construction; the final cosine is
    rounded to 6 dp before the ordering so the LIMIT cut is
    engine-deterministic.

    Scale: tf and df are map-side-combining aggregates; the dot
    join shuffles postings by token (bounded lists); norms join
    back doc-keyed. N rides the idf via one vocabulary-sized join —
    no corpus broadcast. At 100 TB the df cap is the knob: it
    bounds per-token work regardless of corpus growth, the same
    contract as dedup_containment."""
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(F.split(F.lower("text"), " ")).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfc = tf.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    nd = docs.count()  # one scalar (parquet-footer count job), model-sized
    wt = (
        tf.join(dfc.filter((F.col("df") <= _TFIDF_DF_CAP) & (F.col("df") < nd)), "w")
        .select(
            "doc_id",
            "w",
            (F.col("tf") * (F.log(F.lit(nd)) - F.log("df"))).alias("wgt"),
        )
        .localCheckpoint(eager=True)  # reused by norms AND the dot join
    )
    nrm = wt.groupBy("doc_id").agg(F.sqrt(F.sum(F.col("wgt") * F.col("wgt"))).alias("nn"))
    a = wt.select(F.col("doc_id").alias("id_a"), "w", F.col("wgt").alias("wa"))
    b = wt.select(F.col("doc_id").alias("id_b"), "w", F.col("wgt").alias("wb"))
    dots = (
        a.join(b, (a.w == b.w) & (a.id_a < b.id_b))
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot"))
    )
    na = nrm.select(F.col("doc_id").alias("id_a"), F.col("nn").alias("na"))
    nb = nrm.select(F.col("doc_id").alias("id_b"), F.col("nn").alias("nb"))
    return (
        dots.join(na, "id_a")
        .join(nb, "id_b")
        .select("id_a", "id_b", F.round(F.col("dot") / (F.col("na") * F.col("nb")), 6).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("id_a"), F.asc("id_b"))
        .limit(_TFIDF_TOP)
    )



_IVF_INDEX_FORMAT = 2  # bump to invalidate persisted indexes (2: versioned file generations)


def _ivf_index_root(sf_dir: str) -> str:
    from hadoop_based_distributed_batch_processing_system_spark.sources.io import corpus_tag

    import os
    import tempfile

    return os.path.join(tempfile.gettempdir(), f"hbdbps_ivfidx_{corpus_tag(sf_dir)}")


def _ivf_index_stamp(sf_dir: str) -> str:
    """Index validity stamp: the training spec + the source parquet's
    identity — a corpus regeneration or a spec change must retrain,
    never serve a stale index (the table-format _BUILT discipline).
    Source identity is (size, mtime_ns): whole-second truncation
    previously let a same-size regeneration landing within one
    second serve a stale index (ADVICE r11 — and this repo's corpus
    HAS regenerated mid-build before)."""
    import json
    import os

    st = os.stat(os.path.join(sf_dir, "embeddings.parquet"))
    return json.dumps(
        {
            "format": _IVF_INDEX_FORMAT,
            "k_target": _IVF_K_TARGET,
            "nprobe": _IVF_NPROBE,
            "sample": _IVF_SAMPLE,
            "sketch_iters": _IVF_SKETCH_ITERS,
            "lloyd_steps": _IVF_LLOYD_STEPS,
            "src": [st.st_size, st.st_mtime_ns],
        },
        sort_keys=True,
    )


def _ivf_index_build(
    spark: SparkSession, sf_dir: str, root: str | None = None
) -> str:
    """BUILD-once step for the persisted IVF index (VERDICT r10 item
    6): train centroids, materialize the index as TWO parquet tables —
    ``file_centroids_g<N>`` (cluster, centroid) and
    ``file_postings_g<N>`` (the inverted lists, PARTITIONED BY bucket
    so a selective probe set prunes partitions at scan time) — and
    PUBLISH them atomically through the commit-log protocol
    (``_tlog_commit``: readers see the whole index or none of it).
    File names are VERSIONED BY GENERATION and a retrain is a real
    add+remove commit on the existing log (ADVICE r11: the previous
    in-place overwrite of unversioned files could expose a reader
    that passed the old stamp mid-query to a half-overwritten file
    set — now its snapshot's files are immutable until vacuumed, and
    time travel to the prior index is free)."""
    import os

    root = root or _ivf_index_root(sf_dir)

    def build() -> None:
        os.makedirs(os.path.join(root, "_log"), exist_ok=True)
        from hadoop_based_distributed_batch_processing_system_spark.operators.scans import (
            _tlog_commit_rebase,
            _tlog_latest_version,
            _tlog_live_files,
        )

        try:
            base = _tlog_latest_version(root)
            old = sorted(os.path.basename(p) for p in _tlog_live_files(root, base))
        except RuntimeError:
            base, old = -1, []
        gen = base + 1
        cent_name, post_name = f"file_centroids_g{gen}", f"file_postings_g{gen}"
        emb, refined = _ivf_train_centroids(spark, sf_dir)
        cent_rows = [
            (int(c), [float(x) for x in refined[c]]) for c in range(refined.shape[0])
        ]
        spark.createDataFrame(
            cent_rows, "cluster int, centroid array<double>"
        ).coalesce(1).write.mode("overwrite").parquet(os.path.join(root, cent_name))
        emitted = emb.mapInPandas(
            _assign_emit_kernel(refined),
            "bucket int, side int, id long, v array<double>",
        )
        emitted.filter(F.col("side") == 0).write.mode("overwrite").partitionBy(
            "bucket"
        ).parquet(os.path.join(root, post_name))
        add = [cent_name, post_name]
        # read set = the superseded generation; a twin session's
        # identical retrain is adopted inside the rebase helper
        _tlog_commit_rebase(
            root, add=add, remove=old, base_version=base, read_set=set(old)
        )

    return build_once(root, "_BUILT", _ivf_index_stamp(sf_dir), build)


@register("sim_search_ann_ivf_persisted", tags=("L3", "ann", "ivf", "index"))  # rows-only: approximate by design
def sim_search_ann_ivf_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3 scale path #2b — IVF ANN served from a PERSISTED index
    (VERDICT r10 item 6): ``sim_search_ann_ivf`` retrains its
    centroids on every invocation (deterministic, so correct, but a
    real pipeline trains ONCE and serves many query batches). Here
    the trained index lives on disk as a committed table —
    centroids + bucket-partitioned inverted lists, published
    atomically via the commit-log format's put-if-absent commit —
    and the QUERY PATH only: (1) loads the K×64 centroid model (the
    same bounded driver state the trainer held), (2) assigns each
    query vector its nprobe probe buckets in one Arrow pass, (3)
    joins probes against the PERSISTED inverted lists on the bucket
    key (bucket-partitioned parquet: a selective probe set prunes
    partitions at the scan), (4) scores with the identical GEMM
    kernel. Same recall floor as the per-call trainer
    (pytest-pinned >= 0.7, and pinned to NOT retrain — the trainer
    is monkeypatch-poisoned in the test).

    Scale: this splits IVF into the two jobs a 100-TB deployment
    actually runs — an offline BUILD (full-corpus assignment, one
    shuffle into partitioned lists) amortized across all queries,
    and a per-query-batch probe join whose cost is
    nprobe/K of the corpus, with index refresh as ordinary table
    commits (retrain = commit add+remove; readers mid-flight keep
    their snapshot)."""
    import os

    import numpy as np

    from hadoop_based_distributed_batch_processing_system_spark.operators.scans import (
        _tlog_latest_version,
        _tlog_live_files,
    )

    root = _ivf_index_build(spark, sf_dir)
    live = {
        os.path.basename(p): p
        for p in _tlog_live_files(root, _tlog_latest_version(root))
    }

    def _live_one(prefix: str) -> str:
        hits = [p for n, p in live.items() if n.startswith(prefix)]
        if len(hits) != 1:
            raise RuntimeError(
                f"index snapshot must reference exactly one {prefix}* "
                f"generation, found {sorted(os.path.basename(h) for h in hits)}"
            )
        return hits[0]

    # generation prefixes (file_*_g<N>), NOT the bare family names:
    # delta inverted-list commits (sim_search_ann_ivf_delta) add
    # file_postings_delta_* groups beside the base generation — this
    # op serves the BASE lists by contract (the delta twin unions)
    cent_rows = spark.read.parquet(_live_one("file_centroids_g")).orderBy("cluster").collect()
    centroids = np.stack([np.asarray(r["centroid"], dtype=np.float64) for r in cent_rows])
    postings = spark.read.parquet(_live_one("file_postings_g")).select(
        "bucket", "side", "id", "v"
    )
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    probes = emb.mapInPandas(
        _assign_emit_kernel(centroids),
        "bucket int, side int, id long, v array<double>",
    ).filter(F.col("side") == 1)
    scored = (
        postings.unionByName(probes)
        .groupBy("bucket")
        .applyInPandas(_union_knn_kernel, "q_id long, n_id long, cosine double")
        .dropDuplicates(["q_id", "n_id"])
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), "n_id")
    return scored.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= _ANN_K)

# ---- incremental IVF maintenance: delta inverted-list commits -------

_IVF_DELTA_MOD = 17  # delta batch = embeddings with vec_id % 17 == 3
_IVF_DELTA_OFFSET = 10_000_000  # re-keyed ids, disjoint from the base corpus
# delta rows / base rows above this triggers the full generation
# retrain that already exists (the ingest→OPTIMIZE loop applied to
# the index: appends stay cheap until drift justifies re-clustering)
_IVF_DELTA_REBUILD_FRACTION = 0.5


def _ivf_delta_frame(spark: SparkSession, sf_dir: str, batch: int = 0) -> DataFrame:
    """Deterministic 'new vectors' batch ``batch``: ~1/17 of the
    corpus per batch (residue 3+batch), re-keyed into an id range
    disjoint from the base index AND from every other batch."""
    return (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") % _IVF_DELTA_MOD == (3 + batch) % _IVF_DELTA_MOD)
        .select(
            (F.col("vec_id") + (batch + 1) * _IVF_DELTA_OFFSET).alias("vec_id"),
            "embedding",
        )
    )


def _ivf_index_refresh(
    spark: SparkSession, sf_dir: str, root: str | None = None
) -> str:
    """Full-generation retrain: invalidate the build stamp (and every
    per-batch delta stamp — the new generation starts delta-free) and
    rerun the builder — it commits add(new generation) + remove(ALL
    live index files, deltas included) through the rebase protocol,
    so readers mid-flight keep their snapshot and the delta debt
    resets to zero (commit 51a47aa's machinery, triggered by the
    append path's drift threshold instead of a spec change)."""
    import glob
    import os

    root = root or _ivf_index_root(sf_dir)
    for stamp in [os.path.join(root, "_BUILT")] + glob.glob(
        os.path.join(root, "_DELTA*")
    ):
        try:
            os.unlink(stamp)
        except OSError:
            pass
    return _ivf_index_build(spark, sf_dir, root)


def _ivf_index_append_delta(
    spark: SparkSession, sf_dir: str, batch: int = 0, _fold: bool = False
) -> str:
    """APPEND vector batch ``batch`` to the persisted IVF index as a
    DELTA inverted-list commit (VERDICT r12 item 6, multi-batch since
    r14): assign the new vectors to the EXISTING centroids (no
    retrain — pytest-poisoned), write their postings as one
    bucket-partitioned file group ``..._b{batch}`` (each batch its
    own idempotent commit — the batch-id rule), and publish it as a
    blind-append-shaped OCC commit whose read set is the centroid
    file (a concurrent retrain that replaced the centroids is a true
    conflict: the assignment would be stale). When the ACCUMULATED
    delta fraction (outstanding batches + this one) crosses
    ``_IVF_DELTA_REBUILD_FRACTION`` the full generation rebuild runs
    instead — and then FOLDS every outstanding batch plus this one
    back in by re-appending against the new generation's centroids
    (``_fold`` skips the drift check on those re-appends: they are
    the rebuild's completion, not new drift — without this the
    rebuilt index would silently DROP the appended vectors and, the
    fraction being corpus-determined, every later append would
    retrain again; ADVICE r13)."""
    import json
    import os

    import numpy as np

    root = _ivf_index_build(spark, sf_dir)
    stamp = json.dumps(
        {
            "index": _ivf_index_stamp(sf_dir),
            "batch": batch,
            "mod": _IVF_DELTA_MOD,
            "offset": _IVF_DELTA_OFFSET,
            "rebuild_frac": _IVF_DELTA_REBUILD_FRACTION,
        },
        sort_keys=True,
    )

    def build() -> None:
        from hadoop_based_distributed_batch_processing_system_spark.operators.scans import (
            _tlog_commit_rebase,
            _tlog_latest_version,
            _tlog_live_files,
        )

        base = _tlog_latest_version(root)
        live = {os.path.basename(p): p for p in _tlog_live_files(root, base)}
        cent_name = next(n for n in live if n.startswith("file_centroids"))
        gen = int(cent_name.rsplit("_g", 1)[1])
        delta_name = f"file_postings_delta_g{gen}_b{batch}"
        if delta_name in live:
            # log-level idempotence (the batch-id rule): this delta
            # batch already committed against this generation — a
            # lost stamp (crash between commit and stamp) must adopt,
            # not stack a duplicate commit
            return
        delta = _ivf_delta_frame(spark, sf_dir, batch)
        n_delta, n_base = delta.count(), load_table(
            spark, sf_dir, "embeddings"
        ).count()
        outstanding = sorted(
            int(n.rsplit("_b", 1)[1])
            for n in live
            if n.startswith(f"file_postings_delta_g{gen}_b")
        )
        if not _fold:
            # drift = EVERYTHING the trained centroids never saw:
            # rows already outstanding as deltas plus this batch
            n_out = sum(
                spark.read.parquet(
                    live[f"file_postings_delta_g{gen}_b{b}"]
                ).count()
                for b in outstanding
            )
            if n_out + n_delta > n_base * _IVF_DELTA_REBUILD_FRACTION:
                _ivf_index_refresh(spark, sf_dir)
                # fold the outstanding batches AND this one into the
                # new generation: re-assign against the NEW centroids
                for b in outstanding + [batch]:
                    _ivf_index_append_delta(spark, sf_dir, batch=b, _fold=True)
                return
        cent_rows = (
            spark.read.parquet(live[cent_name]).orderBy("cluster").collect()
        )
        centroids = np.stack(
            [np.asarray(r["centroid"], dtype=np.float64) for r in cent_rows]
        )
        delta.mapInPandas(
            _assign_emit_kernel(centroids),
            "bucket int, side int, id long, v array<double>",
        ).filter(F.col("side") == 0).write.mode("overwrite").partitionBy(
            "bucket"
        ).parquet(os.path.join(root, delta_name))
        _tlog_commit_rebase(
            root,
            add=[delta_name],
            remove=[],
            base_version=base,
            read_set={cent_name},
        )

    return build_once(root, f"_DELTA_b{batch}", stamp, build)


@register("sim_search_ann_ivf_delta", tags=("L3", "ann", "ivf", "index", "incremental"))  # rows-only: approximate by design
def sim_search_ann_ivf_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3 scale path #2c — INCREMENTAL IVF MAINTENANCE (VERDICT r12
    item 6): new vectors land in the persisted index as a DELTA
    inverted-list commit — assigned to the EXISTING centroids (no
    retrain; the trainer is pytest-poisoned on the append path),
    written as one bucket-partitioned file group, published through
    the same OCC commit log as the base generation. The QUERY path
    unions base + delta postings (both bucket-partitioned, so a
    selective probe set still prunes partitions across BOTH) and
    serves the NEW vectors as the query batch — the freshness
    contract incremental maintenance exists for: data appended a
    commit ago is findable without an index rebuild. Past the
    drift threshold ({_IVF_DELTA_REBUILD_FRACTION:.0%} of the base),
    the append path triggers the full generation retrain instead
    (pytest-pinned via a lowered threshold).

    Scale: this is DiskANN/FAISS-style index freshness on lakehouse
    plumbing — appends cost O(batch) assignment + one commit (never
    a corpus re-cluster); queries pay one extra file group per
    outstanding delta until the rebuild folds them in, the exact
    small-file/compaction trade the table format already manages.
    Assignment quality degrades only as the vector distribution
    drifts from the trained centroids — which is what the rebuild
    fraction bounds."""
    root = _ivf_index_append_delta(spark, sf_dir)
    return _ivf_serve_base_plus_delta(
        spark, root, _ivf_delta_frame(spark, sf_dir)
    )


def _ivf_serve_base_plus_delta(
    spark: SparkSession, root: str, queries: DataFrame
) -> DataFrame:
    """Serve ``queries`` against the persisted index's base + EVERY
    outstanding delta file group (all bucket-partitioned, so a
    selective probe set prunes partitions across all of them)."""
    import os

    import numpy as np

    from hadoop_based_distributed_batch_processing_system_spark.operators.scans import (
        _tlog_latest_version,
        _tlog_live_files,
    )

    live = {
        os.path.basename(p): p
        for p in _tlog_live_files(root, _tlog_latest_version(root))
    }
    cent_name = next(n for n in live if n.startswith("file_centroids"))
    cent_rows = spark.read.parquet(live[cent_name]).orderBy("cluster").collect()
    centroids = np.stack(
        [np.asarray(r["centroid"], dtype=np.float64) for r in cent_rows]
    )
    posting_paths = sorted(
        p for n, p in live.items() if n.startswith("file_postings")
    )
    # one relation per file group (each is its own bucket-partitioned
    # root, so partition discovery can't merge them in one read);
    # the union is bounded by the rebuild threshold — outstanding
    # deltas fold into the next generation before the list grows
    postings = None
    for p in posting_paths:
        part = spark.read.parquet(p).select("bucket", "side", "id", "v")
        postings = part if postings is None else postings.unionByName(part)
    probes = queries.mapInPandas(
        _assign_emit_kernel(centroids),
        "bucket int, side int, id long, v array<double>",
    ).filter(F.col("side") == 1)
    scored = (
        postings.unionByName(probes)
        .groupBy("bucket")
        .applyInPandas(_union_knn_kernel, "q_id long, n_id long, cosine double")
        .dropDuplicates(["q_id", "n_id"])
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), "n_id")
    return scored.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= _ANN_K)


# ---- generation-aware vacuum for the index's commit log -------------


def _ivf_vacuum_root(sf_dir: str) -> str:
    from hadoop_based_distributed_batch_processing_system_spark.sources.io import (
        corpus_tag,
    )

    import os
    import tempfile

    # own root: this lifecycle retrains AND vacuums its index — doing
    # that on the shared index root would delete the generation
    # history other operators' snapshots may still be timed against
    return os.path.join(
        tempfile.gettempdir(), f"hbdbps_ivfvac_{corpus_tag(sf_dir)}"
    )


@register(
    "sim_search_ann_ivf_vacuumed",
    tags=("L3", "ann", "ivf", "index", "vacuum", "maintenance"),
)  # rows-only: approximate by design (the recall pin lives in pytest)
def sim_search_ann_ivf_vacuumed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3 scale path #2d — GENERATION-AWARE VACUUM for the persisted
    IVF index (the r15 fresh-queue item): retrains commit
    add(new generation) + remove(old) through the index's commit log,
    which makes refresh snapshot-safe — but leaves every superseded
    generation's centroids and inverted lists ON DISK forever. This
    op closes the loop with the table-format's own retention sweep:
    build g0, force one retrain (g1 supersedes g0 — the drift
    rebuild's commit shape), then ``_tlog_vacuum`` at the head
    horizon reclaims g0's bytes while everything the head references
    survives untouched. The served result is pinned EQUAL to the
    plain persisted op's (training is deterministic, so both roots
    learn identical centroids — vacuum must be invisible to answers),
    and time travel below the horizon fails with the vacuum's
    descriptive error, not a parquet path-not-found (pytest).

    Scale: an index that retrains daily doubles its storage every
    cycle without this sweep; vacuum cost is a directory listing plus
    the deleted bytes, and the referenced-set rule (every group any
    retained snapshot references survives) is the same guarantee the
    data tables get — the index IS a table, so it inherits the
    machinery for free."""
    import os

    from hadoop_based_distributed_batch_processing_system_spark.operators.scans import (
        _tlog_latest_version,
        _tlog_vacuum,
    )
    from hadoop_based_distributed_batch_processing_system_spark.sources.io import (
        load_table,
    )

    root = _ivf_vacuum_root(sf_dir)
    _ivf_index_build(spark, sf_dir, root)
    if _tlog_latest_version(root) == 0:
        # force the second generation exactly once per corpus: the
        # refresh restamps _BUILT, so re-runs adopt the g1 snapshot
        _ivf_index_refresh(spark, sf_dir, root)
    _tlog_vacuum(root, retain_version=_tlog_latest_version(root))
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return _ivf_serve_base_plus_delta(spark, root, emb)


# --- Quantized IVF: the hash-oracled list-scan rung (VERDICT r15 #7) -------

_IVFQ_SCALE = 64   # power-of-two: x*64 shifts the exponent, EXACT in IEEE
_IVFQ_K = 8        # coarse centroids (stride-spread quantized seeds)
_IVFQ_NPROBE = 2   # lists scanned per query: 25% scan fraction
_IVFQ_TOPK = 10
_IVFQ_DIM = 64


def _ivfq_oracle() -> str:
    """Quantized-IVF oracle: the ENTIRE pipeline — quantization,
    stride seeding, list assignment, probe selection, list scan,
    top-k — in exact integer arithmetic with deterministic ties
    (argmin -> smallest centroid id; final order (dist, vec_id)), so
    DuckDB reproduces the ANN result bit-for-bit: the recipe
    ``sim_search_pq`` proved, applied to the IVF list-scan path."""
    d2 = (
        "list_sum(list_transform(generate_series(1, {dim}),"
        " d -> ({a}[d] - {b}[d]) * ({a}[d] - {b}[d])))"
    )
    return f"""
        WITH q AS (
          SELECT vec_id,
                 list_transform(CAST(embedding AS DOUBLE[]),
                                x -> CAST(floor(x * {_IVFQ_SCALE}) AS BIGINT)) AS qv
          FROM embeddings
        ),
        n AS (SELECT GREATEST(COUNT(*) // {_IVFQ_K}, 1) AS stride FROM q),
        ord AS (
          SELECT vec_id, qv, row_number() OVER (ORDER BY vec_id) AS rn FROM q
        ),
        seeds AS (
          SELECT CAST(row_number() OVER (ORDER BY rn) AS INTEGER) - 1 AS c,
                 qv AS cv
          FROM (SELECT ord.rn, ord.qv FROM ord, n
                WHERE (ord.rn - 1) % n.stride = 0
                ORDER BY ord.rn LIMIT {_IVFQ_K})
        ),
        probe AS (SELECT qv AS pv, vec_id AS pid FROM q ORDER BY vec_id LIMIT 1),
        vdist AS (
          SELECT v.vec_id, se.c,
                 {d2.format(dim=_IVFQ_DIM, a="v.qv", b="se.cv")} AS dist
          FROM q v, seeds se
        ),
        assign AS (
          SELECT vec_id,
                 CAST(list_position(l, list_min(l)) AS INTEGER) - 1 AS cluster
          FROM (SELECT vec_id, list(dist ORDER BY c) AS l
                FROM vdist GROUP BY vec_id)
        ),
        probed AS (
          SELECT se.c
          FROM seeds se, probe p
          ORDER BY {d2.format(dim=_IVFQ_DIM, a="p.pv", b="se.cv")}, se.c
          LIMIT {_IVFQ_NPROBE}
        ),
        cand AS (
          SELECT v.vec_id,
                 {d2.format(dim=_IVFQ_DIM, a="v.qv", b="p.pv")} AS q_dist
          FROM q v
          JOIN assign a ON a.vec_id = v.vec_id
          JOIN probed ON a.cluster = probed.c, probe p
          WHERE v.vec_id <> p.pid
        )
        SELECT vec_id, CAST(q_dist AS BIGINT) AS q_dist
        FROM cand
        ORDER BY q_dist, vec_id
        LIMIT {_IVFQ_TOPK}
    """


@register(
    "sim_search_ann_ivf_quantized",
    oracle=_ivfq_oracle(),
    tags=("L3", "ann", "ivf", "pq", "quantized"),
)
def sim_search_ann_ivf_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HASH-ORACLED IVF (VERDICT r15 #7): the IVF list-scan path made
    exact by integer quantization — the float IVF rungs are rows-only
    by nature (recall floors pinned locally), but once vectors
    quantize to integers (floor(x·{_IVFQ_SCALE}), exponent-shift
    exact), every stage is exact integer math both engines compute
    identically: {_IVFQ_K} stride-spread quantized seeds (deterministic
    — no RNG, no float Lloyd), argmin list assignment (tie -> smallest
    centroid id), nprobe={_IVFQ_NPROBE} probe selection, and the
    probed-list scan scored by integer squared L2 with (dist, vec_id)
    ordering. The driver's value-hash therefore pins the ENTIRE ANN
    pipeline — assignment, probe choice, scan membership, scores —
    not just row counts: a stale list, a drifted centroid, or a wrong
    probe changes the hash. Recall@{_IVFQ_TOPK} vs the exact
    quantized brute force and the <100% scan fraction are
    pytest-pinned, keeping it an honest ANN, not a scan.

    Scale: the model is {_IVFQ_K}×{_IVFQ_DIM} ints + one probe vector
    (bounded driver state, the IVF precedent); assignment + scoring
    are ONE narrow JVM map over the corpus (quantize -> argmin ->
    filter to probed lists -> distance), no Python, no shuffle except
    the final top-{_IVFQ_TOPK} (TakeOrderedAndProject); at 100 TB the
    quantized corpus is 8× smaller than float64 and the scan touches
    nprobe/K of it."""
    base = _ivfq_quantized(spark, sf_dir)
    cents = _ivfq_seed_centroids(base)
    probe_id, pv, probed = _ivfq_probe(base, cents)
    return (
        _ivfq_assign(spark, base.filter(F.col("vec_id") != probe_id), cents)
        .filter(F.col("cluster").isin([int(c) for c in probed]))
        .select("vec_id", F.expr(_ivfq_qdist_expr(pv)).alias("q_dist"))
        .orderBy("q_dist", "vec_id")
        .limit(_IVFQ_TOPK)
    )


def _ivfq_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    qexpr = (
        f"transform(embedding, x -> "
        f"CAST(floor(CAST(x AS DOUBLE) * {_IVFQ_SCALE}) AS BIGINT))"
    )
    return load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.expr(qexpr).alias("qv")
    )


def _ivfq_seed_centroids(base: DataFrame) -> list[list[int]]:
    """{_IVFQ_K} stride-spread quantized seeds in vec_id order —
    deterministic, no RNG, no float Lloyd; bounded driver state."""
    from pyspark.sql.window import Window

    n = base.count()
    stride = max(n // _IVFQ_K, 1)
    rn = F.row_number().over(Window.orderBy("vec_id"))
    seeds = (
        base.withColumn("rn", rn)
        .filter((F.col("rn") - 1) % stride == 0)
        .orderBy("rn")
        .limit(_IVFQ_K)
        .collect()
    )
    return [list(r["qv"]) for r in seeds]


def _ivfq_probe(
    base: DataFrame, cents: list[list[int]]
) -> tuple[int, list[int], list[int]]:
    """(probe vec_id, probe qv, probed cluster ids): driver-side
    integer math over bounded model state — identical to the
    oracle's (dist, c) ordering."""
    probe = base.orderBy("vec_id").limit(1).collect()[0]
    probe_id, pv = probe["vec_id"], list(probe["qv"])
    pdists = sorted(
        (sum((pv[d] - cv[d]) ** 2 for d in range(_IVFQ_DIM)), c)
        for c, cv in enumerate(cents)
    )
    return probe_id, pv, sorted(c for _dist, c in pdists[:_IVFQ_NPROBE])


# Spark SQL arrays index 0-based (DuckDB's are 1-based — the oracle
# uses 1..dim; both walk the same 64 components)
_IVFQ_D2 = (
    "aggregate(sequence(0, {dim} - 1), CAST(0 AS BIGINT), (a, d) -> "
    "a + ({a}[d] - {b}[d]) * ({a}[d] - {b}[d]))"
)


def _ivfq_assign(spark: SparkSession, df: DataFrame, cents: list[list[int]]) -> DataFrame:
    """Cluster assignment as a BROADCAST CENTROID JOIN + struct-min
    argmin (ties break to the smallest cluster id via the struct's
    second field — the oracle's list_position rule): relational and
    codegen-friendly. The first form inlined the K×{_IVFQ_DIM}
    centroid matrix as a 512-literal array expression — it fell out
    of whole-stage codegen and paid per-row INTERPRETED array
    construction (~3 ms/row measured at sf0.1); the join form keeps
    the distance lambda in codegen and the model in a broadcast,
    which is also the shape that survives K growing past what any
    literal expression could."""
    cent_df = spark.createDataFrame(
        [(c, list(cv)) for c, cv in enumerate(cents)],
        "cluster int, cv array<bigint>",
    )
    d2 = (
        "aggregate(sequence(0, {dim} - 1), CAST(0 AS BIGINT), (a, d) -> "
        "a + (qv[d] - cv[d]) * (qv[d] - cv[d]))"
    ).format(dim=_IVFQ_DIM)
    return (
        # K-row broadcast with no join key: a BroadcastNestedLoopJoin
        # whose build side is bounded model state (the allowlisted
        # scalar-broadcast class in tests/test_plans.py)
        df.join(F.broadcast(cent_df))
        .withColumn("_d", F.expr(d2))
        .groupBy("vec_id")
        .agg(
            F.min_by("cluster", F.struct("_d", "cluster")).alias("cluster"),
            F.first("qv").alias("qv"),  # identical across the K copies
        )
    )


def _ivfq_qdist_expr(pv: list[int]) -> str:
    pv_sql = "array(" + ", ".join(str(x) for x in pv) + ")"
    return _IVFQ_D2.format(dim=_IVFQ_DIM, a="qv", b=pv_sql)


# --- The quantized index PERSISTED, generation-aware (r16) -----------------

_IVFQ_INDEX_FORMAT = 1


def _ivfq_index_root(sf_dir: str) -> str:
    import os
    import tempfile

    from hadoop_based_distributed_batch_processing_system_spark.sources.io import (
        corpus_tag,
    )

    return os.path.join(
        tempfile.gettempdir(), f"hbdbps_ivfqidx_{corpus_tag(sf_dir)}"
    )


def _ivfq_index_stamp(sf_dir: str) -> str:
    import json
    import os

    st = os.stat(os.path.join(sf_dir, "embeddings.parquet"))
    return json.dumps(
        {
            "format": _IVFQ_INDEX_FORMAT,
            "scale": _IVFQ_SCALE,
            "k": _IVFQ_K,
            "nprobe": _IVFQ_NPROBE,
            "dim": _IVFQ_DIM,
            "src": [st.st_size, st.st_mtime_ns],
        },
        sort_keys=True,
    )


def _ivfq_index_build(spark: SparkSession, sf_dir: str, root: str | None = None) -> str:
    """BUILD-once for the persisted QUANTIZED index: the quantized
    vectors land in per-cluster file groups (``file_qlist{c}_g<N>``)
    plus a centroid group (``file_qcent_g<N>``), published atomically
    through the commit-log protocol with names VERSIONED BY
    GENERATION — a retrain is an add+remove commit on the same log
    (readers of the old snapshot keep their immutable files until
    vacuum), the float index family's discipline applied to the
    hash-oracled rung. Stamp-keyed on the training spec + source
    parquet identity."""
    import os

    root = root or _ivfq_index_root(sf_dir)

    def build() -> None:
        os.makedirs(os.path.join(root, "_log"), exist_ok=True)
        from hadoop_based_distributed_batch_processing_system_spark.operators.scans import (
            _tlog_commit_rebase,
            _tlog_latest_version,
            _tlog_live_files,
        )

        try:
            base = _tlog_latest_version(root)
            old = sorted(os.path.basename(p) for p in _tlog_live_files(root, base))
        except RuntimeError:
            base, old = -1, []
        gen = base + 1
        base_df = _ivfq_quantized(spark, sf_dir)
        cents = _ivfq_seed_centroids(base_df)
        cent_name = f"file_qcent_g{gen}"
        spark.createDataFrame(
            [(c, cv) for c, cv in enumerate(cents)],
            "cluster int, cv array<bigint>",
        ).coalesce(1).write.mode("overwrite").parquet(os.path.join(root, cent_name))
        assigned = _ivfq_assign(spark, base_df, cents)
        # one write job, one top-level file group per cluster: a probe
        # set of nprobe clusters reads exactly nprobe groups — file-
        # level pruning, the inverted-list property made physical
        staging = os.path.join(root, ".ivfq_staging")
        assigned.write.mode("overwrite").partitionBy("cluster").parquet(staging)
        import shutil

        add = [cent_name]
        for d in sorted(os.listdir(staging)):
            if not d.startswith("cluster="):
                continue
            c = int(d.split("=")[1])
            gname = f"file_qlist{c}_g{gen}"
            dst = os.path.join(root, gname)
            shutil.rmtree(dst, ignore_errors=True)
            os.replace(os.path.join(staging, d), dst)
            add.append(gname)
        shutil.rmtree(staging, ignore_errors=True)
        _tlog_commit_rebase(
            root, add=sorted(add), remove=old, base_version=base,
            read_set=set(old),
        )

    return build_once(root, "_BUILT", _ivfq_index_stamp(sf_dir), build)


@register(
    "sim_search_ann_ivf_quantized_persisted",
    # Same exact-integer oracle as the inline rung: the serve-from-
    # index result must be bit-identical to recomputing the whole
    # pipeline from the corpus — a stale list, a drifted centroid
    # group, or a wrong-generation read changes the hash.
    oracle=_ivfq_oracle(),
    tags=("L3", "ann", "ivf", "quantized", "index"),
)
def sim_search_ann_ivf_quantized_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quantized rung SERVED FROM ITS PERSISTED INDEX (r16 —
    closes the remaining gap in VERDICT r15 #7: the inline rung
    hash-pins the MATH; this one hash-pins the INDEX): quantized
    lists live as one file group per cluster under a commit-log root
    (generation-versioned names, atomic add+remove retrain commits,
    vacuumable history — the float family's index discipline), and a
    query reads ONLY the probed clusters' groups (file-level pruning:
    nprobe groups touched, pytest-pinned via inputFiles) plus the
    K-row centroid group. Because every stage is exact integer math,
    the DuckDB oracle recomputes the result from the raw corpus — so
    the driver's value-hash now transitively pins the PERSISTED
    index's content: serving from a stale generation, a truncated
    list, or foreign centroids cannot hash green.

    Scale: the index build is one quantize+assign pass and one
    partitioned write; a query is one metadata resolve + nprobe
    file-group scans + TakeOrderedAndProject — no shuffle over the
    corpus, and the lists are 8x smaller than float64 vectors."""
    import os

    from hadoop_based_distributed_batch_processing_system_spark.operators.scans import (
        _tlog_latest_version,
        _tlog_live_files,
    )

    root = _ivfq_index_build(spark, sf_dir)
    live = _tlog_live_files(root, _tlog_latest_version(root))
    cent_path = next(p for p in live if "qcent" in os.path.basename(p))
    cent_rows = spark.read.parquet(cent_path).orderBy("cluster").collect()
    cents = [list(r["cv"]) for r in cent_rows]
    # the probe IS seed 0 (the stride seeds start at rn=1, the lowest
    # vec_id), so its quantized form is the centroid group's row 0 —
    # no list is read to resolve the probe, only to scan candidates
    pv = cents[0]
    pdists = sorted(
        (sum((pv[d] - cv[d]) ** 2 for d in range(_IVFQ_DIM)), c)
        for c, cv in enumerate(cents)
    )
    probed = sorted(c for _dist, c in pdists[:_IVFQ_NPROBE])
    probed_paths = [
        p for p in live
        if any(os.path.basename(p).startswith(f"file_qlist{c}_") for c in probed)
    ]
    cand = spark.read.parquet(*probed_paths)
    # the probe's own id = the min vec_id of the probed lists (its
    # cluster is always probed: distance 0) — one cheap agg, pruned
    probe_id = cand.agg(F.min("vec_id")).collect()[0][0]
    return (
        cand.filter(F.col("vec_id") != probe_id)
        .select("vec_id", F.expr(_ivfq_qdist_expr(pv)).alias("q_dist"))
        .orderBy("q_dist", "vec_id")
        .limit(_IVFQ_TOPK)
    )


# --- Quantized index DELTA appends (r16) -----------------------------------

_IVFQ_DELTA_MOD = 17
_IVFQ_DELTA_RES = 3
_IVFQ_DELTA_OFFSET = 1_000_000


def _ivfq_delta_root(sf_dir: str) -> str:
    import os
    import tempfile

    from hadoop_based_distributed_batch_processing_system_spark.sources.io import (
        corpus_tag,
    )

    return os.path.join(
        tempfile.gettempdir(), f"hbdbps_ivfqdlt_{corpus_tag(sf_dir)}"
    )


def _ivfq_delta_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 'new vectors': the %{_IVFQ_DELTA_MOD}=
    {_IVFQ_DELTA_RES} slice re-keyed into a disjoint id range —
    oracle-expressible, so the delta path stays hash-checked."""
    return load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") % _IVFQ_DELTA_MOD == _IVFQ_DELTA_RES
    ).select(
        (F.col("vec_id") + _IVFQ_DELTA_OFFSET).alias("vec_id"), "embedding"
    )


def _ivfq_index_append_delta(spark: SparkSession, sf_dir: str, root: str) -> None:
    """APPEND a delta batch to the persisted quantized index: the new
    vectors quantize and assign AGAINST THE LIVE GENERATION'S
    CENTROIDS (no retrain — the IVF delta rule; recall debt is the
    documented trade until the next generation) and land as
    per-cluster delta groups (``file_qdlist{{c}}_...``) in ONE
    add-only commit. Stamp-keyed."""
    import os

    stamp = _ivfq_index_stamp(sf_dir) + f"+d{_IVFQ_DELTA_MOD}.{_IVFQ_DELTA_RES}"

    def build() -> None:
        from hadoop_based_distributed_batch_processing_system_spark.operators.scans import (
            _tlog_commit_rebase,
            _tlog_latest_version,
            _tlog_live_files,
        )

        base = _tlog_latest_version(root)
        live = _tlog_live_files(root, base)
        cent_path = next(p for p in live if "qcent" in os.path.basename(p))
        cents = [
            list(r["cv"])
            for r in spark.read.parquet(cent_path).orderBy("cluster").collect()
        ]
        qexpr = (
            f"transform(embedding, x -> "
            f"CAST(floor(CAST(x AS DOUBLE) * {_IVFQ_SCALE}) AS BIGINT))"
        )
        delta = _ivfq_assign(
            spark,
            _ivfq_delta_frame(spark, sf_dir).select(
                "vec_id", F.expr(qexpr).alias("qv")
            ),
            cents,
        )
        staging = os.path.join(root, ".ivfqd_staging")
        delta.write.mode("overwrite").partitionBy("cluster").parquet(staging)
        import shutil

        add = []
        for d in sorted(os.listdir(staging)):
            if not d.startswith("cluster="):
                continue
            c = int(d.split("=")[1])
            gname = f"file_qdlist{c}_b1"
            dst = os.path.join(root, gname)
            shutil.rmtree(dst, ignore_errors=True)
            os.replace(os.path.join(staging, d), dst)
            add.append(gname)
        shutil.rmtree(staging, ignore_errors=True)
        _tlog_commit_rebase(
            root, add=sorted(add), remove=[], base_version=base, read_set=set()
        )

    build_once(root, "_QDELTA", stamp, build)


def _ivfq_delta_oracle() -> str:
    """The quantized-IVF oracle over BASE ∪ DELTA: seeds and probe
    come from the base corpus only (the delta never retrains), while
    assignment and the probed-list scan run over the union — exact
    integer math end to end, so the incremental-index path is
    hash-checked too."""
    d2 = (
        "list_sum(list_transform(generate_series(1, {dim}),"
        " d -> ({a}[d] - {b}[d]) * ({a}[d] - {b}[d])))"
    )
    return f"""
        WITH qb AS (
          SELECT vec_id,
                 list_transform(CAST(embedding AS DOUBLE[]),
                                x -> CAST(floor(x * {_IVFQ_SCALE}) AS BIGINT)) AS qv
          FROM embeddings
        ),
        qd AS (
          SELECT vec_id + {_IVFQ_DELTA_OFFSET} AS vec_id,
                 list_transform(CAST(embedding AS DOUBLE[]),
                                x -> CAST(floor(x * {_IVFQ_SCALE}) AS BIGINT)) AS qv
          FROM embeddings
          WHERE vec_id % {_IVFQ_DELTA_MOD} = {_IVFQ_DELTA_RES}
        ),
        qa AS (SELECT * FROM qb UNION ALL SELECT * FROM qd),
        n AS (SELECT GREATEST(COUNT(*) // {_IVFQ_K}, 1) AS stride FROM qb),
        ord AS (
          SELECT vec_id, qv, row_number() OVER (ORDER BY vec_id) AS rn FROM qb
        ),
        seeds AS (
          SELECT CAST(row_number() OVER (ORDER BY rn) AS INTEGER) - 1 AS c,
                 qv AS cv
          FROM (SELECT ord.rn, ord.qv FROM ord, n
                WHERE (ord.rn - 1) % n.stride = 0
                ORDER BY ord.rn LIMIT {_IVFQ_K})
        ),
        probe AS (SELECT qv AS pv, vec_id AS pid FROM qb ORDER BY vec_id LIMIT 1),
        vdist AS (
          SELECT v.vec_id, se.c,
                 {d2.format(dim=_IVFQ_DIM, a="v.qv", b="se.cv")} AS dist
          FROM qa v, seeds se
        ),
        assign AS (
          SELECT vec_id,
                 CAST(list_position(l, list_min(l)) AS INTEGER) - 1 AS cluster
          FROM (SELECT vec_id, list(dist ORDER BY c) AS l
                FROM vdist GROUP BY vec_id)
        ),
        probed AS (
          SELECT se.c
          FROM seeds se, probe p
          ORDER BY {d2.format(dim=_IVFQ_DIM, a="p.pv", b="se.cv")}, se.c
          LIMIT {_IVFQ_NPROBE}
        ),
        cand AS (
          SELECT v.vec_id,
                 {d2.format(dim=_IVFQ_DIM, a="v.qv", b="p.pv")} AS q_dist
          FROM qa v
          JOIN assign a ON a.vec_id = v.vec_id
          JOIN probed ON a.cluster = probed.c, probe p
          WHERE v.vec_id <> p.pid
        )
        SELECT vec_id, CAST(q_dist AS BIGINT) AS q_dist
        FROM cand
        ORDER BY q_dist, vec_id
        LIMIT {_IVFQ_TOPK}
    """


@register(
    "sim_search_ann_ivf_quantized_delta",
    oracle=_ivfq_delta_oracle(),
    tags=("L3", "ann", "ivf", "quantized", "index", "incremental"),
)
def sim_search_ann_ivf_quantized_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL MAINTENANCE of the hash-pinned quantized index
    (r16): a batch of new vectors appends WITHOUT retraining — they
    quantize and assign against the live generation's centroids and
    land as per-cluster DELTA groups in one add-only commit; a query
    reads the probed clusters' BASE + DELTA groups together. Because
    the whole path stays exact integer math, the oracle recomputes
    base ∪ delta from the corpus — so the driver's hash pins the
    incremental path end to end: a lost delta commit, a delta
    assigned under wrong centroids, or a probe that misses delta
    groups cannot hash green (the float `_delta` rung can only pin
    rows). The no-retrain recall debt and its generation-rebuild
    remedy are the float family's documented trade, unchanged here.

    Scale: the append is one quantize+assign pass over the DELTA
    (never the corpus) + an O(clusters) metadata commit; queries pay
    one extra file group per probed cluster per un-compacted batch —
    the same debt/compaction schedule as every LSM-shaped index."""
    import os

    from hadoop_based_distributed_batch_processing_system_spark.operators.scans import (
        _tlog_latest_version,
        _tlog_live_files,
    )

    root = _ivfq_delta_root(sf_dir)
    _ivfq_index_build(spark, sf_dir, root)
    _ivfq_index_append_delta(spark, sf_dir, root)
    live = _tlog_live_files(root, _tlog_latest_version(root))
    cent_path = next(p for p in live if "qcent" in os.path.basename(p))
    cents = [
        list(r["cv"])
        for r in spark.read.parquet(cent_path).orderBy("cluster").collect()
    ]
    pv = cents[0]
    pdists = sorted(
        (sum((pv[d] - cv[d]) ** 2 for d in range(_IVFQ_DIM)), c)
        for c, cv in enumerate(cents)
    )
    probed = sorted(c for _dist, c in pdists[:_IVFQ_NPROBE])
    import re as _re

    probed_paths = [
        p for p in live
        if (m := _re.match(r"file_qd?list(\d+)_", os.path.basename(p)))
        and int(m.group(1)) in probed
    ]
    cand = spark.read.parquet(*probed_paths).select("vec_id", "qv")
    probe_id = cand.filter(
        F.col("vec_id") < _IVFQ_DELTA_OFFSET
    ).agg(F.min("vec_id")).collect()[0][0]
    return (
        cand.filter(F.col("vec_id") != probe_id)
        .select("vec_id", F.expr(_ivfq_qdist_expr(pv)).alias("q_dist"))
        .orderBy("q_dist", "vec_id")
        .limit(_IVFQ_TOPK)
    )


# --- Quantized index REBUILD driven by delta drift (r16) -------------------

_IVFQ_DRIFT_THRESHOLD = 0.05  # rebuild when delta rows exceed 5% of base


def _ivfq_rebuild_root(sf_dir: str) -> str:
    import os
    import tempfile

    from hadoop_based_distributed_batch_processing_system_spark.sources.io import (
        corpus_tag,
    )

    return os.path.join(
        tempfile.gettempdir(), f"hbdbps_ivfqrbl_{corpus_tag(sf_dir)}"
    )


def _ivfq_drift(root: str) -> float:
    """Delta fraction of the quantized index — PURE METADATA: row
    counts come from the parquet footers of the live list groups
    (never a data read), the same place manifest stats would carry
    them in a production format."""
    import glob
    import os

    import pyarrow.parquet as pq

    from hadoop_based_distributed_batch_processing_system_spark.operators.scans import (
        _tlog_latest_version,
        _tlog_live_files,
    )

    base_rows = delta_rows = 0
    for p in _tlog_live_files(root, _tlog_latest_version(root)):
        name = os.path.basename(p)
        if "list" not in name:
            continue
        n = sum(
            pq.ParquetFile(f).metadata.num_rows
            for f in glob.glob(os.path.join(p, "*.parquet"))
        )
        if name.startswith("file_qdlist"):
            delta_rows += n
        else:
            base_rows += n
    return (delta_rows / base_rows) if base_rows else 0.0


def _ivfq_maybe_rebuild(
    spark: SparkSession, root: str, threshold: float = _IVFQ_DRIFT_THRESHOLD
) -> tuple[bool, float, int]:
    """GENERATION REBUILD driven by delta drift: when un-retrained
    delta rows exceed ``threshold`` of the base, RESEED the stride
    centroids over the FULL indexed corpus (base ∪ deltas, vec_id
    order — the recall debt the no-retrain delta rule accrues is paid
    here), reassign everything, and publish the new generation as ONE
    add+remove commit; below the threshold nothing happens (no
    commit, no job — the decision is footer metadata). Returns
    (rebuilt, drift, head version)."""
    import os

    from hadoop_based_distributed_batch_processing_system_spark.operators.scans import (
        _tlog_commit_rebase,
        _tlog_latest_version,
        _tlog_live_files,
    )

    drift = _ivfq_drift(root)
    base = _tlog_latest_version(root)
    if drift <= threshold:
        return False, drift, base
    live = _tlog_live_files(root, base)
    corpus = spark.read.parquet(
        *[p for p in live if "list" in os.path.basename(p)]
    ).select("vec_id", "qv")
    cents = _ivfq_seed_centroids(corpus)
    gen = base + 1
    cent_name = f"file_qcent_g{gen}"
    spark.createDataFrame(
        [(c, list(cv)) for c, cv in enumerate(cents)],
        "cluster int, cv array<bigint>",
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(root, cent_name))
    assigned = _ivfq_assign(spark, corpus, cents)
    staging = os.path.join(root, ".ivfqr_staging")
    assigned.write.mode("overwrite").partitionBy("cluster").parquet(staging)
    import shutil

    add = [cent_name]
    for d in sorted(os.listdir(staging)):
        if not d.startswith("cluster="):
            continue
        c = int(d.split("=")[1])
        gname = f"file_qlist{c}_g{gen}"
        dst = os.path.join(root, gname)
        shutil.rmtree(dst, ignore_errors=True)
        os.replace(os.path.join(staging, d), dst)
        add.append(gname)
    shutil.rmtree(staging, ignore_errors=True)
    old = sorted(os.path.basename(p) for p in live)
    v = _tlog_commit_rebase(
        root, add=sorted(add), remove=old, base_version=base,
        read_set=set(old),
    )
    return True, drift, v


def _ivfq_rebuilt_oracle() -> str:
    """The quantized-IVF oracle with seeds RESEEDED over base ∪ delta
    (the rebuild's defining difference from the delta oracle, whose
    seeds come from the base alone) — exact integer math end to end,
    so the drift-triggered retrain itself is hash-checked."""
    d2 = (
        "list_sum(list_transform(generate_series(1, {dim}),"
        " d -> ({a}[d] - {b}[d]) * ({a}[d] - {b}[d])))"
    )
    return f"""
        WITH qa AS (
          SELECT vec_id,
                 list_transform(CAST(embedding AS DOUBLE[]),
                                x -> CAST(floor(x * {_IVFQ_SCALE}) AS BIGINT)) AS qv
          FROM embeddings
          UNION ALL
          SELECT vec_id + {_IVFQ_DELTA_OFFSET},
                 list_transform(CAST(embedding AS DOUBLE[]),
                                x -> CAST(floor(x * {_IVFQ_SCALE}) AS BIGINT))
          FROM embeddings
          WHERE vec_id % {_IVFQ_DELTA_MOD} = {_IVFQ_DELTA_RES}
        ),
        n AS (SELECT GREATEST(COUNT(*) // {_IVFQ_K}, 1) AS stride FROM qa),
        ord AS (
          SELECT vec_id, qv, row_number() OVER (ORDER BY vec_id) AS rn FROM qa
        ),
        seeds AS (
          SELECT CAST(row_number() OVER (ORDER BY rn) AS INTEGER) - 1 AS c,
                 qv AS cv
          FROM (SELECT ord.rn, ord.qv FROM ord, n
                WHERE (ord.rn - 1) % n.stride = 0
                ORDER BY ord.rn LIMIT {_IVFQ_K})
        ),
        probe AS (SELECT qv AS pv, vec_id AS pid FROM qa ORDER BY vec_id LIMIT 1),
        vdist AS (
          SELECT v.vec_id, se.c,
                 {d2.format(dim=_IVFQ_DIM, a="v.qv", b="se.cv")} AS dist
          FROM qa v, seeds se
        ),
        assign AS (
          SELECT vec_id,
                 CAST(list_position(l, list_min(l)) AS INTEGER) - 1 AS cluster
          FROM (SELECT vec_id, list(dist ORDER BY c) AS l
                FROM vdist GROUP BY vec_id)
        ),
        probed AS (
          SELECT se.c
          FROM seeds se, probe p
          ORDER BY {d2.format(dim=_IVFQ_DIM, a="p.pv", b="se.cv")}, se.c
          LIMIT {_IVFQ_NPROBE}
        ),
        cand AS (
          SELECT v.vec_id,
                 {d2.format(dim=_IVFQ_DIM, a="v.qv", b="p.pv")} AS q_dist
          FROM qa v
          JOIN assign a ON a.vec_id = v.vec_id
          JOIN probed ON a.cluster = probed.c, probe p
          WHERE v.vec_id <> p.pid
        )
        SELECT vec_id, CAST(q_dist AS BIGINT) AS q_dist
        FROM cand
        ORDER BY q_dist, vec_id
        LIMIT {_IVFQ_TOPK}
    """


@register(
    "sim_search_ann_ivf_quantized_rebuilt",
    oracle=_ivfq_rebuilt_oracle(),
    tags=("L3", "ann", "ivf", "quantized", "index", "retrain"),
)
def sim_search_ann_ivf_quantized_rebuilt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DRIFT-TRIGGERED GENERATION REBUILD of the hash-pinned index
    (r16, fresh r17-queue (e) pulled forward — the float family's
    `_ivf_index_refresh` trigger on the quantized rung): the delta
    rung accrues recall debt by design (new vectors assigned under
    stale centroids); when the delta fraction — read from parquet
    FOOTERS, pure metadata — exceeds {_IVFQ_DRIFT_THRESHOLD:.0%}, the
    index RESEEDS its stride centroids over the full indexed corpus,
    reassigns everything, and publishes generation 1 as one
    add+remove commit (below the threshold: no commit, no job). The
    oracle recomputes the RESEEDED pipeline from the raw corpus — so
    the driver's hash checks the retrain itself: stale seeds, a
    missed delta row, or a generation served after vacuum cannot pass
    (the float `_ivf_index_refresh` can only pin rows and recall
    floors). Both trigger sides and the vacuum of generation 0 are
    pytest-pinned.

    Scale: the decision is O(groups) footer reads; the rebuild is the
    build's cost (one assign pass + one partitioned write) paid only
    when drift crosses the dial — the standard index-maintenance
    economics, with exactness the quantized family's addition."""
    import os

    from hadoop_based_distributed_batch_processing_system_spark.operators.scans import (
        _tlog_latest_version,
        _tlog_live_files,
        _tlog_vacuum,
    )

    root = _ivfq_rebuild_root(sf_dir)
    _ivfq_index_build(spark, sf_dir, root)
    _ivfq_index_append_delta(spark, sf_dir, root)
    _ivfq_maybe_rebuild(spark, root)
    _tlog_vacuum(root, retain_version=_tlog_latest_version(root))
    return _ivfq_serve_head(spark, root)


def _ivfq_serve_head(spark: SparkSession, root: str) -> DataFrame:
    """Serve the quantized-IVF query from the index HEAD: resolve the
    live generation's centroid group, pick the ``nprobe`` nearest
    lists for the probe (the stride rule makes seed 0 the probe
    vector itself), and read ONLY those list groups — nprobe-of-K
    file pruning, K-row driver-side model state."""
    import os
    import re as _re

    from hadoop_based_distributed_batch_processing_system_spark.operators.scans import (
        _tlog_latest_version,
        _tlog_live_files,
    )

    head = _tlog_latest_version(root)
    live = _tlog_live_files(root, head)
    cent_path = next(p for p in live if "qcent" in os.path.basename(p))
    cents = [
        list(r["cv"])
        for r in spark.read.parquet(cent_path).orderBy("cluster").collect()
    ]
    pv = cents[0]
    pdists = sorted(
        (sum((pv[d] - cv[d]) ** 2 for d in range(_IVFQ_DIM)), c)
        for c, cv in enumerate(cents)
    )
    probed = sorted(c for _dist, c in pdists[:_IVFQ_NPROBE])
    probed_paths = [
        p for p in live
        if (m := _re.match(r"file_qd?list(\d+)_", os.path.basename(p)))
        and int(m.group(1)) in probed
    ]
    cand = spark.read.parquet(*probed_paths).select("vec_id", "qv")
    probe_id = cand.filter(
        F.col("vec_id") < _IVFQ_DELTA_OFFSET
    ).agg(F.min("vec_id")).collect()[0][0]
    return (
        cand.filter(F.col("vec_id") != probe_id)
        .select("vec_id", F.expr(_ivfq_qdist_expr(pv)).alias("q_dist"))
        .orderBy("q_dist", "vec_id")
        .limit(_IVFQ_TOPK)
    )


# --- Quantized index COMPACTION: fold deltas into base lists (r16) ---------


def _ivfq_compact_root(sf_dir: str) -> str:
    import os
    import tempfile

    from hadoop_based_distributed_batch_processing_system_spark.sources.io import (
        corpus_tag,
    )

    return os.path.join(
        tempfile.gettempdir(), f"hbdbps_ivfqcmp_{corpus_tag(sf_dir)}"
    )


def _ivfq_index_compact(spark: SparkSession, root: str) -> int:
    """FOLD delta batches into their base lists — the LSM merge of
    the quantized index: every cluster with at least one delta group
    rewrites base ∪ deltas into ONE merged list group; ONE OCC
    ``dataChange: false`` commit adds the merged groups and removes
    the folded base+delta groups (live content is identical by
    construction — feed consumers skip it). Clusters without delta
    debt are untouched. Returns the committed version (or the head
    unchanged when there is nothing to fold)."""
    import os
    import re
    import shutil

    from hadoop_based_distributed_batch_processing_system_spark.operators.scans import (
        _tlog_commit_rebase,
        _tlog_latest_version,
        _tlog_live_files,
    )

    base = _tlog_latest_version(root)
    live = _tlog_live_files(root, base)
    by_cluster: dict[int, dict[str, list[str]]] = {}
    for p in live:
        name = os.path.basename(p)
        m = re.match(r"file_(qd?)list(\d+)_", name)
        if not m:
            continue
        kind = "delta" if m.group(1) == "qd" else "base"
        by_cluster.setdefault(int(m.group(2)), {"base": [], "delta": []})[
            kind
        ].append(p)
    doomed_clusters = {
        c: groups for c, groups in by_cluster.items() if groups["delta"]
    }
    if not doomed_clusters:
        return base
    v = base + 1
    staging = os.path.join(root, ".ivfqc_staging")
    merged = spark.read.parquet(
        *[p for g in doomed_clusters.values() for p in g["base"] + g["delta"]]
    ).withColumn(
        "cluster",
        F.regexp_extract(
            F.input_file_name(), r"file_qd?list(\d+)_", 1
        ).cast("int"),
    )
    merged.write.mode("overwrite").partitionBy("cluster").parquet(staging)
    add, remove = [], []
    for d in sorted(os.listdir(staging)):
        if not d.startswith("cluster="):
            continue
        c = int(d.split("=")[1])
        gname = f"file_qlist{c}_m{v}"
        dst = os.path.join(root, gname)
        shutil.rmtree(dst, ignore_errors=True)
        os.replace(os.path.join(staging, d), dst)
        add.append(gname)
    shutil.rmtree(staging, ignore_errors=True)
    for groups in doomed_clusters.values():
        remove += [os.path.basename(p) for p in groups["base"] + groups["delta"]]
    return _tlog_commit_rebase(
        root, add=sorted(add), remove=sorted(remove), base_version=base,
        read_set=set(remove), data_change=False,
    )


@register(
    "sim_search_ann_ivf_quantized_compacted",
    # content identical to the base∪delta index by construction —
    # the same exact-integer oracle must hash green THROUGH the fold
    oracle=_ivfq_delta_oracle(),
    tags=("L3", "ann", "ivf", "quantized", "index", "compaction"),
)
def sim_search_ann_ivf_quantized_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPACTION of the hash-pinned quantized index (r16 — the LSM
    merge that pays down the delta rung's per-batch read debt): every
    cluster carrying delta groups rewrites base ∪ deltas into ONE
    merged list group, committed as a single ``dataChange: false``
    add+remove (live content identical — change-feed consumers skip
    it; clusters without debt are untouched). Queries then read ONE
    group per probed cluster again. The same exact-integer base∪delta
    oracle must hash green THROUGH the fold — a compaction that
    dropped a delta row, duplicated a base row, or mis-assigned a
    cluster cannot pass.

    Scale: the fold reads only debt-carrying clusters' groups once
    and writes them once (the LSM merge cost model); queries between
    compactions pay one extra group per batch, after compaction
    nprobe groups flat — the standard write-amplification schedule,
    here on an ANN index whose correctness the driver hash-checks."""
    import os
    import re as _re

    from hadoop_based_distributed_batch_processing_system_spark.operators.scans import (
        _tlog_latest_version,
        _tlog_live_files,
    )

    root = _ivfq_compact_root(sf_dir)
    _ivfq_index_build(spark, sf_dir, root)
    _ivfq_index_append_delta(spark, sf_dir, root)
    _ivfq_index_compact(spark, root)
    return _ivfq_serve_head(spark, root)


# --- Quantized index VACUUM under a retention-floor pin (r17) --------------


def _ivfq_vac_roots(sf_dir: str) -> tuple[str, str]:
    import os
    import tempfile

    from hadoop_based_distributed_batch_processing_system_spark.sources.io import (
        corpus_tag,
    )

    tag = corpus_tag(sf_dir)
    # own root + own catalog: this lifecycle retrains AND vacuums its
    # index — doing that on the shared quantized roots would delete
    # generation history other operators' snapshots still resolve
    return (
        os.path.join(tempfile.gettempdir(), f"hbdbps_ivfqvac_{tag}"),
        os.path.join(tempfile.gettempdir(), f"hbdbps_ivfqvaccat_{tag}"),
    )


def _ivfq_apply_vac(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Run the quantized-index RETENTION lifecycle once per corpus:
    build g0 (v0) → delta append (v1) → a CATALOG
    pins v1 (a reader's reproducibility pin on the pre-retrain
    index) → drift rebuild publishes g1 (v2) → a FLOORED vacuum at
    the head horizon clamps to the pin and reclaims NOTHING → the
    pin advances to the head → the floored vacuum (with an explicit
    zero grace window — the TOCTOU parameter, exercised through the
    composition) now reclaims g0's lists, centroids, and the delta
    groups. Both vacuum outcomes are asserted in-lifecycle: a sweep
    that deletes under a pin, or fails to reclaim after the pin
    moves, poisons the stamp and fails loudly."""
    import os
    import shutil

    from hadoop_based_distributed_batch_processing_system_spark.operators.lakehouse import (
        _tlog_catalog_commit,
        _tlog_latest_version_safe,
        _tlog_vacuum_floor,
    )

    root, cat = _ivfq_vac_roots(sf_dir)

    def build() -> None:
        _ivfq_index_build(spark, sf_dir, root)
        _ivfq_index_append_delta(spark, sf_dir, root)
        if _tlog_latest_version_safe(root) != 1 or os.path.isdir(cat):
            # stale partial lifecycle: wipe both roots and redo the
            # prefix
            shutil.rmtree(cat, ignore_errors=True)
            wipe_dir(root)
            _ivfq_index_build(spark, sf_dir, root)
            _ivfq_index_append_delta(spark, sf_dir, root)
        _tlog_catalog_commit(cat, {"qidx": {"root": root, "version": 1}}, base=-1)
        rebuilt, drift, head = _ivfq_maybe_rebuild(spark, root)
        if not rebuilt or head != 2:
            raise RuntimeError(
                f"vacuum lifecycle expected a drift rebuild to v2, got "
                f"(rebuilt={rebuilt}, drift={drift:.3f}, head={head})"
            )
        # pinned vacuum: the catalog floor clamps the horizon to v1 —
        # g0 and the delta groups are v1's live set, nothing reclaimed
        eff1, del1 = _tlog_vacuum_floor(
            root, retain_version=head, catalogs=[cat]
        )
        if eff1 != 1 or del1:
            raise RuntimeError(
                f"pinned vacuum must clamp to the catalog floor and "
                f"reclaim nothing, got (effective={eff1}, deleted={del1})"
            )
        # the pin advances to the retrained head; the next sweep (zero
        # grace: the head generation is this instant's work) reclaims
        # every superseded group
        _tlog_catalog_commit(cat, {"qidx": {"root": root, "version": head}}, base=0)
        eff2, del2 = _tlog_vacuum_floor(
            root, retain_version=head, catalogs=[cat], grace=0
        )
        if eff2 != head or not del2:
            raise RuntimeError(
                f"post-advance vacuum must reclaim generation 0, got "
                f"(effective={eff2}, deleted={del2})"
            )

    build_once(root, "_QVAC", _ivfq_index_stamp(sf_dir) + "+vac1", build)
    return root, cat


@register(
    "sim_search_ann_ivf_quantized_vacuumed",
    # The reseeded base∪delta oracle: after the rebuild+vacuum the
    # head generation must serve EXACTLY what recomputing the
    # retrained pipeline from the raw corpus yields — a vacuum that
    # clipped a live list, or a serve path that fell back to a
    # reclaimed generation, changes the hash.
    oracle=_ivfq_rebuilt_oracle(),
    tags=("L3", "ann", "ivf", "quantized", "index", "vacuum", "retention"),
)
def sim_search_ann_ivf_quantized_vacuumed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RETENTION for the hash-pinned quantized index (VERDICT r16 #5
    — the float family's ``sim_search_ann_ivf_vacuumed`` precedent
    carried to the quantized rungs, composed with the catalog
    retention floor): retrain history on the index root would
    otherwise grow without bound, but the index IS a commit-log
    table, so it inherits ``_tlog_vacuum_floor`` whole — a catalog
    pin on the pre-retrain snapshot clamps the sweep (reclaims
    nothing), advancing the pin releases generation 0, and the
    post-vacuum head serves the exact reseeded result the oracle
    recomputes from the raw corpus. Time travel below the horizon
    fails with the vacuum's descriptive error, not a parquet
    path-not-found (pytest-pinned, with the pre/post-vacuum hash
    equality).

    Scale: the sweep is a directory listing plus the reclaimed bytes;
    the floor resolve is O(catalog pins); serving stays nprobe-of-K
    file pruning with K-row model state — retention adds zero read
    amplification to queries."""
    root, _cat = _ivfq_apply_vac(spark, sf_dir)
    return _ivfq_serve_head(spark, root)


from hadoop_based_distributed_batch_processing_system_spark.registry import interpolate_docstrings

interpolate_docstrings(globals())
