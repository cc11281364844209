"""Similarity search over embedding columns (SURVEY.md §7 F).

``embeddings.embedding`` is ``array<float>`` — the first-class multimodal
column type. Two paths:

- **Brute-force cosine top-k** (the correctness baseline): cross join the
  query set against the corpus, dot products via ``aggregate``/``zip_with``
  (JVM-side, codegen — no Python). Cost O(|Q|·N): right answer whenever the
  query set is small or as the in-bucket scorer below.
- **LSH-bucketed ANN** (the scale path): multi-table random-hyperplane
  signatures (seeded, deterministic) → candidates share a bucket in any
  table → exact cosine only inside buckets. At 100 TB the corpus shuffles
  once on (table, bucket); queries broadcast.

Element values are cast to double BEFORE accumulation — float accumulation
would diverge between engines and lose precision at high dims.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


# Guard floor for the dense-projection repartition: below this the
# family's interpreted/vectorized per-row work is cheaper than the
# exchange the guard would add (measured: the guard cost ~1s on the
# 0.8 MB sf0.1 embeddings while saving nothing; it saved 5x on the
# 6 MB 10x soak corpus). Shared repo-wide since r13 (extract_features
# adopted the same break-even) — the value lives next to
# ensure_parallelism itself.
from network_iq_spark.operators import GUARD_MIN_BYTES as DENSE_GUARD_MIN_BYTES


def as_double_vec(col: str) -> Column:
    return F.expr(f"transform({col}, x -> cast(x as double))")


def _dot(a: str, b: str) -> Column:
    """Sequential-order double dot product (bit-stable across engines)."""
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
        f"cast(0.0 as double), (acc, x) -> acc + x)"
    )


def with_norm(df: DataFrame) -> DataFrame:
    return df.withColumn("norm", F.sqrt(_dot("v", "v")))


def cosine_topk_bruteforce(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k: queries × corpus → cos → row_number ≤ k.

    Both sides must carry (vec_id, v[array<double>], norm). Output:
    (q_vec_id, n_vec_id, rank, cos).
    """
    q = queries.select(
        F.col("vec_id").alias("q_vec_id"),
        F.col("v").alias("qv"),
        F.col("norm").alias("qn"),
    )
    c = corpus.select(
        F.col("vec_id").alias("n_vec_id"),
        F.col("v").alias("cv"),
        F.col("norm").alias("cn"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("n_vec_id") != F.col("q_vec_id"))
        .select(
            "q_vec_id",
            "n_vec_id",
            (_dot("qv", "cv") / (F.col("qn") * F.col("cn"))).alias("cos"),
        )
    )
    w = Window.partitionBy("q_vec_id").orderBy(F.col("cos").desc(), F.col("n_vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_vec_id", "n_vec_id", F.col("rank").cast("int").alias("rank"), "cos")
    )


def _hyperplane(dim: int, seed: int, plane: int) -> list[float]:
    """Deterministic pseudo-random unit-free hyperplane: values in [-1, 1)
    from a splitmix-style integer hash — no RNG state, reproducible on any
    engine/cluster."""
    vals = []
    for i in range(dim):
        x = (seed * 0x9E3779B97F4A7C15 + plane * 0xBF58476D1CE4E5B9 + i * 0x94D049BB133111EB) % (
            2**64
        )
        x ^= x >> 31
        x = (x * 0xD6E8FEB86659FD93) % (2**64)
        x ^= x >> 27
        vals.append((x % (2**32)) / (2**31) - 1.0)
    return vals


def lsh_signatures(df: DataFrame, dim: int) -> DataFrame:
    """Multi-table random-hyperplane signatures: for each of 16
    independent tables, bucket = Σ_{p<4} (v·h_{t,p} > 0)·2^p. Output long form
    (id, table, bucket) — one row per table; the ANN join key is
    (table, bucket).

    Recall follows 1-(1-s^k)^L for per-plane agreement s — one table of many
    planes collapses on near-orthogonal data (measured 1-7% recall on random
    64-dim vectors); unioning L smaller tables is the standard fix (tests
    record the measured figure).

    Implementation: ONE vectorized numpy matmul per Arrow batch
    (``mapInPandas``) — sign(V·Hᵀ) packed to bucket ints for all L·k planes
    at once. The pure-expression alternative (L·k per-row lambda dot
    products) measured ~5× slower: higher-order array lambdas sit outside
    whole-stage codegen.
    """
    import numpy as np
    import pandas as pd
    from collections.abc import Iterator
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    planes = np.array(
        [
            _hyperplane(dim, 42 + t * 7919, p)
            for t in range(16)
            for p in range(4)
        ],
        dtype=np.float64,
    )  # (L·k, dim)
    weights = np.tile(2 ** np.arange(4, dtype=np.int64), 16)
    table_of = np.repeat(np.arange(16, dtype=np.int64), 4)

    out_schema = StructType(
        [
            df.schema["vec_id"],
            StructField("table", IntegerType()),
            StructField("bucket", LongType()),
        ]
    )

    def signatures(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.stack(pdf["v"].to_numpy())  # (n, dim)
            bits = (v @ planes.T) > 0  # (n, L·k)
            contrib = bits * weights  # weighted bits per plane
            buckets = np.zeros((len(pdf), 16), dtype=np.int64)
            for t in range(16):
                buckets[:, t] = contrib[:, table_of == t].sum(axis=1)
            ids = np.repeat(pdf["vec_id"].to_numpy(), 16)
            yield pd.DataFrame(
                {
                    "vec_id": ids,
                    "table": np.tile(np.arange(16, dtype=np.int32), len(pdf)),
                    "bucket": buckets.reshape(-1),
                }
            )

    from network_iq_spark.operators import ensure_parallelism

    return ensure_parallelism(
        df.select("vec_id", "v"), min_bytes=DENSE_GUARD_MIN_BYTES
    ).mapInPandas(signatures, schema=out_schema)


def cosine_topk_lsh(
    df: DataFrame,
    query_ids: DataFrame,
    dim: int,
    k: int = 10,
    multiprobe: bool = False,
) -> DataFrame:
    """ANN top-k: exact cosine restricted to candidates sharing a bucket in
    ANY of the L hash tables (distinct pairs before scoring — a pair is
    scored once however many tables it collides in).

    Scale shape: corpus shuffles once on (table, bucket); queries broadcast;
    per-bucket brute force only. The exact ``cosine_topk_bruteforce`` is the
    recall oracle.

    ``multiprobe`` additionally probes, per table, every bucket at Hamming
    distance 1 from the query's bucket (flip each of the 4 plane bits) — a
    near-boundary vector usually lands one sign-flip away, so this trades
    k+1× more QUERY-side lookups (the tiny broadcast side; the corpus index
    is untouched) for recall the same number of tables can't reach. The
    standard knob when re-indexing with more tables is too expensive.
    """
    sig = lsh_signatures(df, dim)
    q = sig.join(query_ids, "vec_id", "left_semi").select(
        F.col("vec_id").alias("q_vec_id"), "table", "bucket"
    )
    if multiprobe:
        variants = F.array(
            F.col("bucket"),
            *[F.expr(f"bucket ^ {1 << p}") for p in range(4)],
        )
        q = q.select(
            "q_vec_id", "table", F.explode(variants).alias("bucket")
        )
    cand = (
        sig.select(F.col("vec_id").alias("n_vec_id"), "table", "bucket")
        .join(F.broadcast(q), ["table", "bucket"])
        .filter(F.col("n_vec_id") != F.col("q_vec_id"))
        .select("q_vec_id", "n_vec_id")
        .distinct()
    )
    vecs = with_norm(df.select("vec_id", "v"))
    qv = vecs.select(
        F.col("vec_id").alias("q_vec_id"),
        F.col("v").alias("qv"),
        F.col("norm").alias("qn"),
    )
    cv = vecs.select(
        F.col("vec_id").alias("n_vec_id"),
        F.col("v").alias("cv"),
        F.col("norm").alias("cn"),
    )
    scored = (
        cand.join(F.broadcast(qv), "q_vec_id")
        .join(cv, "n_vec_id")
        .select(
            "q_vec_id",
            "n_vec_id",
            (_dot("qv", "cv") / (F.col("qn") * F.col("cn"))).alias("cos"),
        )
    )
    w = Window.partitionBy("q_vec_id").orderBy(F.col("cos").desc(), F.col("n_vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_vec_id", "n_vec_id", F.col("rank").cast("int").alias("rank"), "cos")
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-duplicate pairs (dedup family, SURVEY.md §7 F)
# ---------------------------------------------------------------------------


def int_hyperplane(dim: int, seed: int, plane: int) -> list[int]:
    """INTEGER hyperplane weights in [-8, 8) from the same
    splitmix-style hash as :func:`_hyperplane`.

    Integer weights exist for cross-engine determinism: the signature bit is
    the sign of an integer dot product over integerized embeddings — exact
    under ANY summation order, so a numpy matmul, a JVM aggregate, and a SQL
    ``SUM`` all agree bit-for-bit (float dots would flip near-zero signs
    between engines)."""
    vals = []
    for i in range(dim):
        x = (
            seed * 0x9E3779B97F4A7C15
            + plane * 0xBF58476D1CE4E5B9
            + i * 0x94D049BB133111EB
        ) % (2**64)
        x ^= x >> 31
        x = (x * 0xD6E8FEB86659FD93) % (2**64)
        x ^= x >> 27
        vals.append(int(x % 16) - 8)
    return vals


def int_lsh_signatures(
    df: DataFrame,
    dim: int,
    n_planes: int = 8,
    n_tables: int = 4,
) -> DataFrame:
    """Multi-table hyperplane signatures over INTEGERIZED embeddings.

    Each float component is quantized ``floor(x·2²⁰ + 0.5)`` (exact
    double op in every engine), then bucket bit p of table t is
    ``(q · w_{t,p}) > 0`` with integer weights — all-integer arithmetic,
    so the buckets are reproducible anywhere (the registered oracle
    replicates them in SQL). One int64 matmul per Arrow batch.
    """
    import numpy as np
    import pandas as pd
    from collections.abc import Iterator
    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    planes = np.array(
        [
            int_hyperplane(dim, 42 + t * 7919, p)
            for t in range(n_tables)
            for p in range(n_planes)
        ],
        dtype=np.int64,
    )  # (L·k, dim)
    weights = np.tile(2 ** np.arange(n_planes, dtype=np.int64), n_tables)
    table_of = np.repeat(np.arange(n_tables, dtype=np.int64), n_planes)

    out_schema = StructType(
        [
            df.schema["vec_id"],
            StructField("table", IntegerType()),
            StructField("bucket", LongType()),
        ]
    )

    def signatures(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            q = np.floor(v * float(1 << 20) + 0.5).astype(np.int64)  # (n, dim)
            bits = (q @ planes.T) > 0  # exact integer dots
            contrib = bits * weights
            buckets = np.zeros((len(pdf), n_tables), dtype=np.int64)
            for t in range(n_tables):
                buckets[:, t] = contrib[:, table_of == t].sum(axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(pdf["vec_id"].to_numpy(), n_tables),
                    "table": np.tile(np.arange(n_tables, dtype=np.int32), len(pdf)),
                    "bucket": buckets.reshape(-1),
                }
            )

    from network_iq_spark.operators import ensure_parallelism

    return ensure_parallelism(
        df.select("vec_id", "embedding"), min_bytes=DENSE_GUARD_MIN_BYTES
    ).mapInPandas(signatures, schema=out_schema)


def near_dup_pairs(
    corpus: DataFrame,
    dim: int,
    threshold: float,
    n_planes: int = 8,
    n_tables: int = 4,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, candidate-restricted.

    The dedup-family sibling of MinHash/SimHash for the embedding modality
    (reference has no equivalent; LLM-data tier). Candidates = unordered
    pairs sharing a bucket in ANY of the L integerized-hyperplane tables;
    verify = exact element-order double cosine ≥ threshold. Scale shape:
    signatures are map-only, candidates shuffle once on (table, bucket),
    the verify join touches candidates only — never the N² cross product.
    Output: (id_a, id_b, cos), id_a < id_b.
    """
    sig = int_lsh_signatures(corpus, dim, n_planes, n_tables)
    a = sig.select(F.col("vec_id").alias("id_a"), "table", "bucket")
    b = sig.select(F.col("vec_id").alias("id_b"), "table", "bucket")
    cand = (
        a.join(b, ["table", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    vecs = with_norm(corpus.select("vec_id", as_double_vec("embedding").alias("v")))
    va = vecs.select(
        F.col("vec_id").alias("id_a"), F.col("v").alias("av"), F.col("norm").alias("an")
    )
    vb = vecs.select(
        F.col("vec_id").alias("id_b"), F.col("v").alias("bv"), F.col("norm").alias("bn")
    )
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            (_dot("av", "bv") / (F.col("an") * F.col("bn"))).alias("cos"),
        )
        .filter(F.col("cos") >= F.lit(threshold))
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the centroid-bucketed scale path
# ---------------------------------------------------------------------------


def seed_centroids(
    vecs: DataFrame, n_cells: int, id_col: str = "vec_id"
) -> DataFrame:
    """Deterministic coarse quantizer: the ``n_cells`` corpus vectors with
    the smallest md5-derived id hash become the cell centroids (k-means with
    zero Lloyd iterations — a seeded init that any engine reproduces
    bit-for-bit; float centroid *updates* would be summation-order-dependent
    and break cross-engine parity, so they are deliberately out of scope).

    Input must carry (id_col, v[array<double>], norm). Output:
    (c_id, cv, cn) — a tiny dimension meant to be broadcast.
    """
    h = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 12), 16, 10
    ).cast("bigint")
    return (
        vecs.withColumn("__h__", h)
        .orderBy("__h__", id_col)
        .limit(n_cells)
        .select(
            F.col(id_col).alias("c_id"),
            F.col("v").alias("cv"),
            F.col("norm").alias("cn"),
        )
    )


def ivf_assign_np(vecs: DataFrame, centroids: DataFrame) -> DataFrame:
    """Nearest-centroid assignment as ONE numpy matmul per Arrow batch —
    the throughput path for large cell counts. The expression-tree
    :func:`ivf_assign` costs N·k *interpreted* array folds, which is the
    dominant term once n_cells scales ∝ N (measured: 18.8 s of a 24 s
    semantic-dedup run at 20k vecs × 160 cells); the matmul does the same
    N·k·dim flops vectorized, reducing assignment to scan cost.

    Semantics match :func:`ivf_assign` (max cosine, ties to the smallest
    centroid id — centroid columns are ordered by c_id so numpy's
    first-max argmax lands on the smallest id) up to last-ulp cosine
    differences from matmul summation order, which is why the
    oracle-pinned registered queries keep the interpreted path. No engine
    path calls it any more: ``semantic_dedup(n_cells=None)`` assigns with
    :func:`ivf_assign_dist`. It stays as the flat matmul reference that
    the two-level assigners' tests compare against. Still MAP-ONLY:
    centroids ride the closure (tiny), output is (id, cell).
    """
    import numpy as np
    import pandas as pd

    from network_iq_spark.operators import ensure_parallelism

    cent_rows = sorted(
        (r["c_id"], r["cv"]) for r in centroids.select("c_id", "cv").collect()
    )
    c_ids = np.array([c for c, _ in cent_rows], dtype=np.int64)
    C = np.array([v for _, v in cent_rows], dtype=np.float64)
    Cn = np.sqrt((C * C).sum(axis=1))
    Cn[Cn == 0.0] = 1.0
    Cu = C / Cn[:, None]

    def assign(pdfs):
        for pdf in pdfs:
            V = np.array(list(pdf["v"]), dtype=np.float64)
            vn = np.sqrt((V * V).sum(axis=1))
            vn[vn == 0.0] = 1.0
            cos = (V / vn[:, None]) @ Cu.T
            best = c_ids[np.argmax(cos, axis=1)]
            yield pd.DataFrame({"vec_id": pdf["vec_id"].values, "cell": best})

    return ensure_parallelism(
        vecs.select("vec_id", "v"), min_bytes=DENSE_GUARD_MIN_BYTES
    ).mapInPandas(assign, schema="vec_id bigint, cell bigint")


def ivf_assign_hier(
    vecs: DataFrame, centroids: DataFrame, n_groups: int | None = None
) -> DataFrame:
    """Two-level (IMI-style) coarse assignment: the k centroids are grouped
    under ~√k super-representatives (picked by the same deterministic
    id-hash rule as :func:`seed_centroids`, each centroid joining its
    nearest rep); a vector scores the g reps, then only the ~k/g centroids
    of the winning group — N·(g + k/g) ≈ N·2√k score ops instead of N·k.

    This is the documented next lever past :func:`ivf_assign_np`: with the
    cells-∝-N discipline, even vectorized flat assignment is N²/target
    flops and starts to bite around 10⁸ vectors; the hierarchy defers that
    by another ~√k factor at the cost of an approximation (a vector whose
    true nearest centroid lives in a losing group gets its best centroid
    of the winning group — the standard IVF/IMI recall trade, bounded by
    group coherence). On well-separated data it agrees with flat
    assignment exactly (property-tested). MAP-ONLY: both levels ride the
    closure; one Arrow pass per batch.
    """
    import math as _math

    import numpy as np
    import pandas as pd

    from network_iq_spark.operators import ensure_parallelism

    cent_rows = sorted(
        (r["c_id"], r["cv"]) for r in centroids.select("c_id", "cv").collect()
    )
    k = len(cent_rows)
    g = n_groups or max(1, _math.isqrt(k))
    c_ids = np.array([c for c, _ in cent_rows], dtype=np.int64)
    C = np.array([v for _, v in cent_rows], dtype=np.float64)
    Cn = np.sqrt((C * C).sum(axis=1))
    Cn[Cn == 0.0] = 1.0
    Cu = C / Cn[:, None]

    # super-reps: first g centroids in md5(id)-hash order (the seed rule)
    import hashlib

    def _h(cid: int) -> int:
        return int(hashlib.md5(str(cid).encode()).hexdigest()[:12], 16)

    rep_order = sorted(range(k), key=lambda i: (_h(int(c_ids[i])), int(c_ids[i])))
    rep_idx = np.array(sorted(rep_order[:g]), dtype=np.int64)
    R = Cu[rep_idx]  # (g, dim), unit rows

    # each centroid joins its nearest rep (ties → lowest rep position)
    grp_of = np.argmax(Cu @ R.T, axis=1)  # (k,)
    members = [np.where(grp_of == j)[0] for j in range(g)]

    def assign(pdfs):
        for pdf in pdfs:
            V = np.array(list(pdf["v"]), dtype=np.float64)
            vn = np.sqrt((V * V).sum(axis=1))
            vn[vn == 0.0] = 1.0
            Vu = V / vn[:, None]
            best_grp = np.argmax(Vu @ R.T, axis=1)  # (n,)
            out = np.empty(len(pdf), dtype=np.int64)
            for j in np.unique(best_grp):
                rows = np.where(best_grp == j)[0]
                mem = members[j]
                if len(mem) == 0:  # empty group: fall back to its rep
                    out[rows] = c_ids[rep_idx[j]]
                    continue
                sub = Vu[rows] @ Cu[mem].T  # (|rows|, |mem|)
                out[rows] = c_ids[mem[np.argmax(sub, axis=1)]]
            yield pd.DataFrame({"vec_id": pdf["vec_id"].values, "cell": out})

    return ensure_parallelism(
        vecs.select("vec_id", "v"), min_bytes=DENSE_GUARD_MIN_BYTES
    ).mapInPandas(assign, schema="vec_id bigint, cell bigint")


def ivf_assign_dist(
    vecs: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    n_groups: int | None = None,
    n_centroids: int | None = None,
) -> DataFrame:
    """Two-level coarse assignment with the centroid table kept
    DISTRIBUTED — the 100 TB shape of :func:`ivf_assign_hier`.

    The closure-based assigners (:func:`ivf_assign_np` /
    :func:`ivf_assign_hier`) ``collect()`` all k centroids to the driver
    and ship them in every task closure; with the cells-∝-N discipline that
    is ~0.5 GB through the driver at 10⁹ vectors — the engine's last
    driver-side data dependence. Here only the **g ≈ √k super-reps**
    (g·dim doubles — ~1000 rows at k=10⁶) ride the closure:

    1. reps = the g smallest-(md5-hash, id) centroids (the seed rule),
       collected — g rows, not k;
    2. every centroid resolves its group via a map-only Arrow pass against
       the rep matrix (a rep is pinned to its OWN group, so no group is
       ever empty — the one semantic delta vs ``ivf_assign_hier``, a no-op
       unless two reps share a direction);
    3. every vector resolves its winning group the same way (map-only);
    4. vectors equi-join their group's centroid shard — ONE shuffle on
       ``grp`` for each side (N rows + k rows), cogrouped
       ``applyInPandas``, one exact matmul per group.

    Scoring is raw-dot-then-divide (``(V@Cᵀ)/outer(|v|,|c|)``): on
    integer-valued inputs every matmul partial sum is exact in float64, so
    the assignment is bit-deterministic and SQL-replayable — which is what
    lets the registered quantized query pin this operator to a DuckDB
    oracle. Ties break to the smallest centroid id within the winning
    group, smallest rep id at the group level (matching
    ``ivf_assign_hier``'s position order, which is c_id order).

    Memory shape: one task holds one group's vectors (~N/g rows); size g
    (``n_groups``) accordingly when groups would outgrow a task.
    """
    import math as _math

    import numpy as np
    import pandas as pd

    from network_iq_spark.operators import ensure_parallelism

    k = n_centroids if n_centroids is not None else centroids.count()
    g = n_groups or max(1, _math.isqrt(max(1, k)))

    h = F.conv(
        F.substring(F.md5(F.col("c_id").cast("string")), 1, 12), 16, 10
    ).cast("bigint")
    rep_rows = sorted(
        (int(r["c_id"]), list(r["cv"]))
        for r in centroids.withColumn("__h__", h)
        .orderBy("__h__", "c_id")
        .limit(g)
        .select("c_id", "cv")
        .collect()
    )
    if not rep_rows:
        raise ValueError("ivf_assign_dist: empty input")
    rep_ids = np.array([c for c, _ in rep_rows], dtype=np.int64)
    R = np.array([v for _, v in rep_rows], dtype=np.float64)
    Rn = np.sqrt((R * R).sum(axis=1))
    Rn[Rn == 0.0] = 1.0
    rep_id_set = set(int(c) for c in rep_ids)

    def _best_rep(M: np.ndarray) -> np.ndarray:
        """Winning rep c_id per row (cos = raw dot / norm product)."""
        mn = np.sqrt((M * M).sum(axis=1))
        mn[mn == 0.0] = 1.0
        cos = (M @ R.T) / (mn[:, None] * Rn[None, :])
        return rep_ids[np.argmax(cos, axis=1)]

    def cent_grp(pdfs):
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            C = np.array(list(pdf["cv"]), dtype=np.float64)
            grp = _best_rep(C)
            own = np.fromiter(
                (int(c) in rep_id_set for c in pdf["c_id"]), dtype=bool, count=len(pdf)
            )
            grp[own] = pdf["c_id"].values[own]
            yield pd.DataFrame({"c_id": pdf["c_id"], "grp": grp, "cv": pdf["cv"]})

    cent_g = centroids.select("c_id", "cv").mapInPandas(
        cent_grp, schema="c_id bigint, grp bigint, cv array<double>"
    )

    def vec_grp(pdfs):
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            V = np.array(list(pdf["v"]), dtype=np.float64)
            yield pd.DataFrame(
                {id_col: pdf[id_col], "grp": _best_rep(V), "v": pdf["v"]}
            )

    vec_g = ensure_parallelism(
        vecs.select(id_col, "v"), min_bytes=DENSE_GUARD_MIN_BYTES
    ).mapInPandas(vec_grp, schema=f"{id_col} bigint, grp bigint, v array<double>")

    def score(key, left, right):
        if len(left) == 0:
            return pd.DataFrame({id_col: pd.Series([], dtype="int64"),
                                 "cell": pd.Series([], dtype="int64")})
        if len(right) == 0:  # unreachable (rep pinned to own group); guard
            return pd.DataFrame(
                {id_col: left[id_col].values,
                 "cell": np.full(len(left), key[0], dtype=np.int64)}
            )
        order = np.argsort(right["c_id"].values.astype(np.int64), kind="stable")
        cid = right["c_id"].values.astype(np.int64)[order]
        C = np.array(list(right["cv"].values[order]), dtype=np.float64)
        cn = np.sqrt((C * C).sum(axis=1))
        cn[cn == 0.0] = 1.0
        V = np.array(list(left["v"]), dtype=np.float64)
        vn = np.sqrt((V * V).sum(axis=1))
        vn[vn == 0.0] = 1.0
        cos = (V @ C.T) / (vn[:, None] * cn[None, :])
        best = cid[np.argmax(cos, axis=1)]
        return pd.DataFrame({id_col: left[id_col].values, "cell": best})

    return (
        vec_g.groupby("grp")
        .cogroup(cent_g.groupby("grp"))
        .applyInPandas(score, schema=f"{id_col} bigint, cell bigint")
    )


def ivf_assign(
    vecs: DataFrame, centroids: DataFrame, id_col: str = "vec_id"
) -> DataFrame:
    """Nearest-centroid (max cosine) cell assignment — the inverted file.

    Shape at scale: broadcast nested-loop against the tiny centroid dim is
    pure map work; the argmax collapses map-side (partial ``min(struct)``)
    so the one shuffle moves N pre-reduced rows, not N·n_cells. Ties break
    to the smallest centroid id via the (−cos, c_id) struct order.
    """
    scored = vecs.crossJoin(F.broadcast(centroids)).select(
        id_col,
        F.struct(
            (-(_dot("v", "cv") / (F.col("norm") * F.col("cn")))).alias("neg_cos"),
            F.col("c_id").alias("c_id"),
        ).alias("sc"),
    )
    return (
        scored.groupBy(id_col)
        .agg(F.min("sc").alias("best"))
        .select(id_col, F.col("best.c_id").alias("cell"))
    )


def cosine_topk_ivf(
    df: DataFrame,
    query_ids: DataFrame,
    n_cells: int = 16,
    nprobe: int = 4,
    k: int = 10,
    assigner=None,
) -> DataFrame:
    """IVF ANN top-k: probe the ``nprobe`` nearest cells per query, exact
    cosine against members of those cells only. ``assigner`` swaps the
    cell-assignment strategy (default: the SQL-replayable
    :func:`ivf_assign`; pass a :func:`ivf_assign_dist` partial for the
    distributed two-level inverted file).

    Scale shape: centroids broadcast everywhere; the corpus shuffles ONCE on
    cell id (the inverted file — at 100 TB this is the partitioning you'd
    persist); queries and their probe lists broadcast; per-cell brute force
    touches ~nprobe/n_cells of the corpus. ``nprobe == n_cells`` degrades to
    exactly `cosine_topk_bruteforce` (the recall dial's endpoint — tests
    assert the equivalence).
    """
    from network_iq_spark.operators import ensure_parallelism

    vecs = with_norm(
        ensure_parallelism(df.select("vec_id", "v"), min_bytes=DENSE_GUARD_MIN_BYTES)
    )
    qv = vecs.join(query_ids, "vec_id", "left_semi")
    return ivf_search(
        vecs, qv, n_cells, nprobe, k, assigner=assigner, exclude_self=True
    )


def ivf_search(
    vecs: DataFrame,
    qv: DataFrame,
    n_cells: int,
    nprobe: int,
    k: int,
    id_col: str = "vec_id",
    assigner=None,
    exclude_self: bool = False,
    prebuilt: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """IVF top-k core over pre-shaped frames — ``vecs`` is the indexed
    corpus (id, v, norm), ``qv`` the query vectors in the same shape
    (members of the corpus or an EXTERNAL batch — the continual-ingest
    case searches new vectors against an at-rest index). Centroid pick,
    cell assignment (pluggable ``assigner``), probe list, in-cell exact
    cosine, per-query top-k. ``exclude_self`` drops identity matches when
    queries are corpus members.

    ``prebuilt``: optional ``(centroids, inverted_file)`` pair — the
    at-rest index a deployment persists as parquet (centroids with
    (c_id, cv, cn); inverted file with (id_col, cell)). When given, the
    build stage is skipped entirely and the search cost is
    O(batch × probed fraction), independent of corpus size — the seam
    scripts/scale_soak.py measures for the incremental O(batch) claim."""
    if prebuilt is not None:
        cent, inv = prebuilt
    else:
        cent = seed_centroids(vecs, n_cells, id_col)
        inv = (assigner or ivf_assign)(vecs, cent, id_col)

    probe_scored = qv.crossJoin(F.broadcast(cent)).select(
        F.col(id_col).alias("q_vec_id"),
        "c_id",
        (_dot("v", "cv") / (F.col("norm") * F.col("cn"))).alias("ccos"),
    )
    wprobe = Window.partitionBy("q_vec_id").orderBy(
        F.col("ccos").desc(), F.col("c_id").asc()
    )
    probes = (
        probe_scored.withColumn("pr", F.row_number().over(wprobe))
        .filter(F.col("pr") <= nprobe)
        .select("q_vec_id", F.col("c_id").alias("cell"))
    )

    cand = (
        inv.select(F.col(id_col).alias("n_vec_id"), "cell")
        .join(F.broadcast(probes), "cell")
    )
    if exclude_self:
        cand = cand.filter(F.col("n_vec_id") != F.col("q_vec_id"))
    cand = cand.select("q_vec_id", "n_vec_id")
    qside = qv.select(
        F.col(id_col).alias("q_vec_id"), F.col("v").alias("qv"), F.col("norm").alias("qn")
    )
    nside = vecs.select(
        F.col(id_col).alias("n_vec_id"), F.col("v").alias("cv"), F.col("norm").alias("cn")
    )
    scored = (
        cand.join(F.broadcast(qside), "q_vec_id")
        .join(nside, "n_vec_id")
        .select(
            "q_vec_id",
            "n_vec_id",
            (_dot("qv", "cv") / (F.col("qn") * F.col("cn"))).alias("cos"),
        )
    )
    w = Window.partitionBy("q_vec_id").orderBy(F.col("cos").desc(), F.col("n_vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_vec_id", "n_vec_id", F.col("rank").cast("int").alias("rank"), "cos")
    )


SEMANTIC_CELL_TARGET = 125  # expected vectors per cell when auto-scaling


def auto_n_cells(n_rows: int) -> int:
    """The n_cells ∝ N discipline as code: cells sized so the expected
    occupancy stays ``SEMANTIC_CELL_TARGET`` (at least 8 cells) as the
    corpus grows, which holds the within-cell quadratic term at
    O(N · target) instead of O(N²/k).
    Measured (docs/SCALE.md soak): fixed cells go super-linear by 10×
    corpus growth; auto cells restore a near-linear runtime curve."""
    return max(8, n_rows // SEMANTIC_CELL_TARGET)


def semantic_dedup(
    corpus: DataFrame,
    n_cells: int | None,
    threshold: float,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023, public):
    cluster embeddings with the deterministic coarse quantizer, then inside
    each cluster mark every vector that has a *smaller-id* neighbor with
    cosine ≥ threshold as a duplicate — keeping exactly one representative
    (the min id) per near-duplicate clique that falls in one cell.

    Scale shape: centroids broadcast (tiny dim), cell assignment collapses
    map-side (see :func:`ivf_assign`), and the candidate pair join is
    *within cells only* — one shuffle on ``cell``, O(Σ|cell|²) comparisons
    instead of N². Cell count is the knob: n_cells ∝ N keeps expected cell
    size (and the quadratic term) constant as the corpus grows — pass
    ``n_cells=None`` to apply that discipline automatically (one cheap
    column-pruned count sizes the cells via :func:`auto_n_cells`; explicit
    ``n_cells`` keeps the plan action-free for oracle-pinned configs).
    Output: (vec_id, cell, is_dup) for every corpus vector.
    """
    from network_iq_spark.operators import ensure_parallelism

    # the assignment + in-cell scoring stages are CPU-dense interpreted
    # array folds — a single-row-group scan must not serialize them
    vecs = with_norm(
        ensure_parallelism(
            corpus.select("vec_id", as_double_vec("embedding").alias("v")),
            min_bytes=DENSE_GUARD_MIN_BYTES,
        )
    )
    if n_cells is None:
        import functools

        n_rows = corpus.select("vec_id").count()
        n_cells = auto_n_cells(n_rows)
        # scale path: distributed two-level assignment — only √k reps in
        # the closure, centroids resolved via a cogrouped equi-join (the
        # closure-collecting matmul path grows ∝ N under the cells-∝-N
        # discipline and was the engine's last driver-side bottleneck)
        assigner = functools.partial(
            ivf_assign_dist, n_centroids=min(n_cells, n_rows)
        )
    else:
        assigner = ivf_assign  # oracle-pinned path: SQL-replayable folds
    cents = seed_centroids(vecs, n_cells)
    assign = assigner(vecs, cents, "vec_id")
    cellv = assign.join(vecs, "vec_id")
    a = cellv.select(
        F.col("vec_id").alias("id_a"), "cell",
        F.col("v").alias("av"), F.col("norm").alias("an"),
    )
    b = cellv.select(
        F.col("vec_id").alias("id_b"), "cell",
        F.col("v").alias("bv"), F.col("norm").alias("bn"),
    )
    dup_ids = (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            _dot("av", "bv") / (F.col("an") * F.col("bn")) >= F.lit(threshold)
        )
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
        .withColumn("is_dup", F.lit(True))
    )
    return (
        assign.join(dup_ids, "vec_id", "left")
        .select("vec_id", "cell", F.coalesce("is_dup", F.lit(False)).alias("is_dup"))
    )


def quantize_int8(df: DataFrame) -> DataFrame:
    """Per-vector symmetric int8 quantization (max-abs scaling) — the
    standard memory lever for billion-vector similarity search: 4× smaller
    than float32 at ~1% cosine error, and integer dot products.

    q_i = floor(v_i·127/maxabs + 0.5) ∈ [-127, 127] (round-half-up — the
    floor(+0.5) form is the same exact-recovery trick the dsum family
    uses and is reproducible in any engine; banker's rounding is not).
    Every arithmetic step stays exactly representable in doubles, so the
    quantized vectors are bit-identical cross-engine. Zero vectors emit
    all-zero codes. Output: (id, q array<bigint> — int8-ranged, maxabs).
    """
    v = as_double_vec("embedding")
    out = df.select(F.col("vec_id"), v.alias("__v__"))
    maxabs = F.expr("array_max(transform(__v__, x -> abs(x)))")
    return out.withColumn("maxabs", maxabs).select(
        "vec_id",
        "maxabs",
        F.expr(
            "CASE WHEN maxabs = 0.0 THEN transform(__v__, x -> cast(0 as bigint)) "
            "ELSE transform(__v__, x -> cast(floor(x * 127.0 / maxabs + 0.5) as bigint)) END"
        ).alias("q"),
    )


def quantized_cosine_topk(
    df: DataFrame,
    query_ids: DataFrame,
    k: int = 10,
    exclude_match_col: str | None = None,
) -> DataFrame:
    """Exact top-k by cosine over int8-quantized vectors, with the true
    float cosine reported alongside (the quantization-error audit).

    ``exclude_match_col`` names a column (e.g. a class label): candidates
    sharing the query row's value are skipped and both values are
    returned — which turns the operator into HARD-NEGATIVE MINING for
    contrastive training (the nearest vectors that are NOT the query's
    class are exactly the negatives that sharpen an embedding model).

    The integer dot (≤ dim·127² per pair) is exact in doubles, so ranks
    are engine-deterministic — which is what makes a *quantized* ANN
    variant oracle-checkable at all. Scale shape mirrors cosine_topk:
    query side broadcast, corpus side map-scored, per-query top-k via
    window rank on the (small) query partition count. The 100 TB path
    runs this inside IVF cells (quantized candidate scoring, float
    re-rank of the top candidates).
    """
    from network_iq_spark.operators import ensure_parallelism

    # q, v, and norm all derive from the same scan row — one projection, no
    # self-join (joining quantize_int8's output back to the float vectors
    # would shuffle the corpus on vec_id for data already co-located)
    keep = ["vec_id"] + ([exclude_match_col] if exclude_match_col else [])
    base = with_norm(
        ensure_parallelism(
            df.select(*keep, as_double_vec("embedding").alias("v")),
            min_bytes=DENSE_GUARD_MIN_BYTES,
        )
    )
    maxabs = F.expr("array_max(transform(v, x -> abs(x)))")
    full = base.withColumn("__ma__", maxabs).withColumn(
        "q",
        F.expr(
            "CASE WHEN __ma__ = 0.0 THEN transform(v, x -> cast(0 as bigint)) "
            "ELSE transform(v, x -> cast(floor(x * 127.0 / __ma__ + 0.5) as bigint)) END"
        ),
    )
    qextra = (
        [F.col(exclude_match_col).alias("q_label")] if exclude_match_col else []
    )
    cextra = (
        [F.col(exclude_match_col).alias("n_label")] if exclude_match_col else []
    )
    qside = full.join(query_ids, "vec_id", "left_semi").select(
        F.col("vec_id").alias("q_vec_id"),
        F.col("q").alias("qa"),
        F.col("v").alias("va"),
        F.col("norm").alias("na"),
        *qextra,
    )
    cside = full.select(
        F.col("vec_id").alias("n_vec_id"),
        F.col("q").alias("qb"),
        F.col("v").alias("vb"),
        F.col("norm").alias("nb"),
        *cextra,
    )
    qdot = F.expr(
        "aggregate(zip_with(qa, qb, (x, y) -> x * y), cast(0 as bigint), (a, x) -> a + x)"
    )
    qna = F.expr(
        "sqrt(aggregate(transform(qa, x -> x * x), cast(0 as bigint), (a, x) -> a + x))"
    )
    qnb = F.expr(
        "sqrt(aggregate(transform(qb, x -> x * x), cast(0 as bigint), (a, x) -> a + x))"
    )
    pairs = cside.crossJoin(F.broadcast(qside)).filter(
        F.col("q_vec_id") != F.col("n_vec_id")
    )
    out_cols = ["q_vec_id", "n_vec_id"]
    if exclude_match_col:
        pairs = pairs.filter(F.col("q_label") != F.col("n_label"))
        out_cols += ["q_label", "n_label"]
    scored = pairs.select(
        *out_cols,
        (qdot.cast("double") / (qna * qnb)).alias("qcos"),
        (_dot("va", "vb") / (F.col("na") * F.col("nb"))).alias("cos"),
    )
    w = Window.partitionBy("q_vec_id").orderBy(
        F.col("qcos").desc(), F.col("n_vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select(*out_cols, "rank", "qcos", "cos")
    )


def cosine_topk_int_lsh(
    df: DataFrame,
    query_ids: DataFrame,
    k: int = 10,
    n_planes: int = 6,
    n_tables: int = 4,
    multiprobe: bool = False,
) -> DataFrame:
    """ANN top-k over 64-dim ``embedding`` vectors from INTEGERIZED
    hyperplane buckets — the oracle-checkable
    sibling of :func:`cosine_topk_lsh` (whose float numpy signatures cannot
    be replayed in SQL; these integer ones can, same trick as
    ``embedding_near_dup``).

    Candidates = corpus vectors sharing a (table, bucket) with the query in
    ANY of the L tables; exact element-order cosine ranks them. Recall is
    the (planes, tables) S-curve exactly as in the float variant.
    ``multiprobe`` additionally probes every bucket one sign-flip away per
    table (query side only — same distance-1 scheme as the float path,
    but here the XOR expansion replays exactly in SQL, so the multi-probe
    variant stays fully hash-checked). Scale shape: signatures are one
    int64 matmul per Arrow batch, candidates shuffle once on
    (table, bucket), scoring touches candidates only.
    """
    sig = int_lsh_signatures(df, 64, n_planes, n_tables)
    qsig = sig.join(query_ids, "vec_id", "left_semi").select(
        F.col("vec_id").alias("q_vec_id"), "table", "bucket"
    )
    if multiprobe:
        variants = F.array(
            F.col("bucket"),
            *[F.expr(f"bucket ^ {1 << p}") for p in range(n_planes)],
        )
        qsig = qsig.select(
            "q_vec_id", "table", F.explode(variants).alias("bucket")
        )
    csig = sig.select(F.col("vec_id").alias("n_vec_id"), "table", "bucket")
    cand = (
        qsig.join(csig, ["table", "bucket"])
        .filter(F.col("q_vec_id") != F.col("n_vec_id"))
        .select("q_vec_id", "n_vec_id")
        .distinct()
    )
    from network_iq_spark.operators import ensure_parallelism

    vecs = with_norm(
        ensure_parallelism(
            df.select("vec_id", as_double_vec("embedding").alias("v")),
            min_bytes=DENSE_GUARD_MIN_BYTES,
        )
    )
    va = vecs.select(
        F.col("vec_id").alias("q_vec_id"), F.col("v").alias("qv"), F.col("norm").alias("qn")
    )
    vb = vecs.select(
        F.col("vec_id").alias("n_vec_id"), F.col("v").alias("nv"), F.col("norm").alias("nn")
    )
    scored = (
        cand.join(va, "q_vec_id")
        .join(vb, "n_vec_id")
        .select(
            "q_vec_id",
            "n_vec_id",
            (_dot("qv", "nv") / (F.col("qn") * F.col("nn"))).alias("cos"),
        )
    )
    w = Window.partitionBy("q_vec_id").orderBy(
        F.col("cos").desc(), F.col("n_vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("q_vec_id", "n_vec_id", "rank", "cos")
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the compressed-vector tier of IVF-PQ
# ---------------------------------------------------------------------------


def pq_codebook(vecs: DataFrame, m: int, k: int, dim: int) -> DataFrame:
    """Seeded PQ codebook: the ``k`` corpus vectors with the smallest
    md5-id hash (the `seed_centroids` idiom — reproducible in any engine,
    no float k-means) donate their subvectors as codewords. Output:
    (s, j, cv) — subspace s ∈ [0, m), codeword index j ∈ [0, k),
    cv = dim/m ints. A tiny dim (m·k rows) meant to be broadcast.
    """
    sub = dim // m
    h = F.conv(
        F.substring(F.md5(F.col("vec_id").cast("string")), 1, 12), 16, 10
    ).cast("bigint")
    seeds = (
        vecs.withColumn("__h__", h)
        .orderBy("__h__", "vec_id")
        .limit(k)
        .select("vec_id", "v", "__h__")
        .withColumn(
            "j",
            F.row_number().over(
                Window.orderBy(F.col("__h__").asc(), F.col("vec_id").asc())
            )
            - 1,
        )
    )
    s_ids = F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("s")
    return seeds.select("j", s_ids, "v").select(
        "s",
        "j",
        F.slice("v", F.col("s") * sub + 1, sub).alias("cv"),
    )


def _sq_l2(a: str, b: str):
    """Exact squared L2 over integer-valued double arrays."""
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), "
        f"cast(0.0 as double), (acc, d) -> acc + d)"
    )


def assign_np_l2(vecs: DataFrame, centroids: DataFrame) -> DataFrame:
    """Nearest-centroid (squared-L2) assignment as one numpy matmul per
    Arrow batch — the vectorized twin of the ``_sq_l2`` argmin used by
    the PQ/IVF-PQ tier. Unlike the cosine `ivf_assign_np`, this IS the
    registered path: over INTEGER-VALUED vectors every product and sum
    stays below 2^53, so d2 = ‖v‖² − 2·v·c + ‖c‖² is exact in float64
    regardless of summation order and the matmul is bit-identical to the
    interpreted expression fold (ties: centroid rows sorted by c_id,
    argmin's first-minimum = smallest id — same as the ROW_NUMBER
    tie-break). Centroids ride the closure (bounded: n_cells rows).
    """
    import numpy as np
    import pandas as pd

    from network_iq_spark.operators import ensure_parallelism

    rows = sorted(
        (int(r["c_id"]), list(r["cv"]))
        for r in centroids.select("c_id", "cv").collect()
    )
    if not rows:
        raise ValueError("assign_np_l2: empty input")
    c_ids = np.array([c for c, _ in rows], dtype=np.int64)
    C = np.array([v for _, v in rows], dtype=np.float64)
    c2 = (C * C).sum(axis=1)

    def assign(pdfs):
        for pdf in pdfs:
            if not len(pdf):
                continue
            V = np.array(list(pdf["v"]), dtype=np.float64)
            d2 = (V * V).sum(axis=1)[:, None] - 2.0 * (V @ C.T) + c2[None, :]
            best = c_ids[np.argmin(d2, axis=1)]
            yield pd.DataFrame({"vec_id": pdf["vec_id"].values, "cell": best})

    return ensure_parallelism(
        vecs.select("vec_id", "v"), min_bytes=DENSE_GUARD_MIN_BYTES
    ).mapInPandas(assign, schema="vec_id bigint, cell bigint")


def pq_encode(vecs: DataFrame, codebook: DataFrame, m: int, dim: int) -> DataFrame:
    """PQ encoding: per (vector, subspace), the codeword index minimizing
    exact squared L2 (tie → smallest j). Output: (vec_id, s, code) —
    m·log2(k) bits per vector in a real deployment (the 64× memory win
    that lets a 100 TB corpus's index fit its cluster's RAM).

    Vectorized: ONE numpy matmul per (Arrow batch, subspace) against the
    closure-borne codebook (bounded: m·k rows). Over integer-valued
    vectors the d2 arithmetic is exact in float64, so this is
    bit-identical to the interpreted `_sq_l2` argmin fold it replaced —
    which cost N·m·k interpreted array lambdas and was the dominant term
    of the soak curve (`ann_pq_rerank_topk` 14.3 s → vectorized at the
    10× corpus; see docs/SCALE.md). MAP-ONLY, no shuffle at all.
    """
    import numpy as np
    import pandas as pd

    from network_iq_spark.operators import ensure_parallelism

    sub = dim // m
    rows = sorted(
        (int(r["s"]), int(r["j"]), list(r["cv"]))
        for r in codebook.select("s", "j", "cv").collect()
    )
    if not rows:
        raise ValueError("pq_encode: empty input")
    k = max(j for _, j, _ in rows) + 1
    C = np.zeros((m, k, sub), dtype=np.float64)
    for s, j, cv in rows:
        C[s, j] = cv
    C2 = (C * C).sum(axis=2)  # (m, k)

    def encode(pdfs):
        for pdf in pdfs:
            if not len(pdf):
                continue
            V = np.array(list(pdf["v"]), dtype=np.float64).reshape(-1, m, sub)
            n = V.shape[0]
            codes = np.zeros((n, m), dtype=np.int32)
            for s in range(m):
                Vs = V[:, s, :]
                d2 = (
                    (Vs * Vs).sum(axis=1)[:, None]
                    - 2.0 * (Vs @ C[s].T)
                    + C2[s][None, :]
                )
                codes[:, s] = np.argmin(d2, axis=1)  # first-min = smallest j
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(pdf["vec_id"].values, m),
                    "s": np.tile(np.arange(m, dtype=np.int32), n),
                    "code": codes.reshape(-1),
                }
            )

    return ensure_parallelism(
        vecs.select("vec_id", "v"), min_bytes=DENSE_GUARD_MIN_BYTES
    ).mapInPandas(encode, schema="vec_id bigint, s int, code int")


def pq_adc_topk(
    vecs: DataFrame,
    query_ids: DataFrame,
    m: int = 8,
    k_codes: int = 16,
    dim: int = 64,
    k: int = 10,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: queries keep their
    full vectors, corpus vectors are m codes; distance ≈ Σ_s ||q_s −
    codeword[s][code_s]||², computed by joining the corpus CODES against
    the per-query lookup table (Q·m·k partial distances — broadcast).

    This is the scoring shape of IVF-PQ at 100 TB: the big side touches
    only (id, s, code) rows — never the raw vectors — and the per-query
    tables ride the closure. Exact integer arithmetic end to end, so the
    approximation itself is hash-replayable in SQL (`ann_pq_adc_topk`).
    """
    sub = dim // m
    cb = pq_codebook(vecs, m, k_codes, dim).localCheckpoint(eager=False)
    codes = pq_encode(vecs, cb, m, dim)

    qv = vecs.join(query_ids, "vec_id", "left_semi")
    s_ids = F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("s")
    qsubs = qv.select(F.col("vec_id").alias("q_vec_id"), s_ids, "v").select(
        "q_vec_id", "s", F.slice("v", F.col("s") * sub + 1, sub).alias("qsv")
    )
    lut = qsubs.join(F.broadcast(cb), "s").select(
        "q_vec_id",
        F.col("s").alias("lut_s"),
        F.col("j").alias("lut_j"),
        _sq_l2("qsv", "cv").alias("pd"),
    )
    scored = (
        codes.select(F.col("vec_id").alias("n_vec_id"), "s", "code")
        .join(
            F.broadcast(lut),
            (F.col("s") == F.col("lut_s")) & (F.col("code") == F.col("lut_j")),
        )
        .groupBy("q_vec_id", "n_vec_id")
        .agg(F.sum("pd").alias("adist"))
        .filter(F.col("n_vec_id") != F.col("q_vec_id"))
    )
    w = Window.partitionBy("q_vec_id").orderBy(
        F.col("adist").asc(), F.col("n_vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "q_vec_id",
            "n_vec_id",
            F.col("rank").cast("int").alias("rank"),
            F.col("adist").cast("bigint").alias("adist"),
        )
    )


def pq_rerank_topk(
    vecs: DataFrame,
    query_ids: DataFrame,
    m: int = 8,
    k_codes: int = 16,
    dim: int = 64,
    k: int = 10,
    rerank: int = 50,
) -> DataFrame:
    """Two-stage PQ search — the PRODUCTION shape: ADC over compressed
    codes preselects ``rerank`` candidates per query (cheap, touches only
    codes), then the exact squared-L2 re-scores just those candidates
    from their raw vectors (expensive per row, but only Q·rerank rows).
    Compressed-domain recall losses mostly vanish because the true
    neighbors only need to land in the top-``rerank``, not the top-k.
    Output: (q_vec_id, n_vec_id, rank, d2) by exact distance."""
    cand = pq_adc_topk(
        vecs, query_ids, m=m, k_codes=k_codes, dim=dim, k=rerank
    ).select("q_vec_id", "n_vec_id")
    qside = vecs.join(query_ids, "vec_id", "left_semi").select(
        F.col("vec_id").alias("q_vec_id"), F.col("v").alias("qv")
    )
    nside = vecs.select(F.col("vec_id").alias("n_vec_id"), F.col("v").alias("cv"))
    rescored = (
        cand.join(F.broadcast(qside), "q_vec_id")
        .join(nside, "n_vec_id")
        .select("q_vec_id", "n_vec_id", _sq_l2("qv", "cv").alias("d2"))
    )
    w = Window.partitionBy("q_vec_id").orderBy(
        F.col("d2").asc(), F.col("n_vec_id").asc()
    )
    return (
        rescored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "q_vec_id",
            "n_vec_id",
            F.col("rank").cast("int").alias("rank"),
            F.col("d2").cast("bigint").alias("d2"),
        )
    )


def ivf_lloyd_round(vecs: DataFrame, cent: DataFrame) -> DataFrame:
    """One INTEGER-EXACT Lloyd refinement of a coarse quantizer: assign
    every vector to its nearest (squared-L2) centroid, then replace each
    centroid with the floor of its members' per-dimension mean. Seeded
    centroids are arbitrary corpus points — one refinement step moves
    them to cluster centers and bought +0.15 recall@10 at identical
    nprobe (0.65 → 0.80 measured, converged after one round).

    floor(mean) keeps centroids integer-valued, so the refined quantizer
    is still SQL-replayable (float k-means would be summation-order
    dependent). Distributed shape: assignment is the broadcast argmin,
    the update is a posexplode to (cell, dim) grain — one shuffle of
    N·dim skinny rows, no per-cell array materialization (a
    collect_list-based mean would hold a whole cell in one task at
    100 TB).
    """
    inv = assign_np_l2(vecs, cent)
    mem = vecs.select("vec_id", "v").join(inv, "vec_id").select(
        "cell", F.posexplode("v").alias("di", "val")
    )
    cstat = mem.groupBy("cell", "di").agg(
        F.floor(F.sum("val") / F.count("*")).cast("double").alias("cval")
    )
    return cstat.groupBy("cell").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(di, cval))), s -> s.cval)"
        ).alias("cv")
    ).select(F.col("cell").alias("c_id"), "cv")


def ivfpq_topk(
    vecs: DataFrame,
    query_ids: DataFrame,
    n_cells: int = 16,
    nprobe: int = 4,
    m: int = 8,
    k_codes: int = 16,
    dim: int = 64,
    k: int = 10,
    rerank: int = 50,
    lloyd_rounds: int = 0,
) -> DataFrame:
    """IVF-PQ — the layout a 100 TB vector corpus actually deploys: a
    coarse inverted file prunes the corpus to ``nprobe`` cells per query,
    PQ codes score ONLY those members in the compressed domain (ADC —
    the big side never touches raw vectors), and exact squared-L2
    re-ranks the ``rerank`` survivors. Three independently-tested stages
    (`ivf_assign`, `pq_encode`, ADC) composed; integer-exact end to end,
    so the whole structure hash-replays in SQL (`ann_ivfpq_topk`).

    Scale: the inverted file + code table are the persisted artifacts
    (ids + cells + m codes — bytes per vector); a probe touches
    ~nprobe/n_cells of the codes, and raw vectors are read only for
    Q·rerank rows at the end.

    The coarse quantizer uses squared L2 — the SAME metric as the PQ/ADC
    and rerank stages. A cosine coarse stage over unnormalized vectors
    prunes the wrong cells for an L2 search (measured: recall@10 0.47 vs
    0.87 at identical nprobe when the metrics were mixed vs aligned).
    """
    sub = dim // m
    vv = vecs.select("vec_id", "v")
    cent = seed_centroids(with_norm(vv), n_cells).drop("cn")
    for _ in range(lloyd_rounds):
        cent = ivf_lloyd_round(vv, cent).localCheckpoint(eager=False)
    inv = assign_np_l2(vv, cent)
    cb = pq_codebook(vecs, m, k_codes, dim).localCheckpoint(eager=False)
    codes = pq_encode(vecs, cb, m, dim)

    qv = vv.join(query_ids, "vec_id", "left_semi")
    probe_scored = qv.crossJoin(F.broadcast(cent)).select(
        F.col("vec_id").alias("q_vec_id"),
        "c_id",
        _sq_l2("v", "cv").alias("cd2"),
    )
    wprobe = Window.partitionBy("q_vec_id").orderBy(
        F.col("cd2").asc(), F.col("c_id").asc()
    )
    probes = (
        probe_scored.withColumn("pr", F.row_number().over(wprobe))
        .filter(F.col("pr") <= nprobe)
        .select("q_vec_id", F.col("c_id").alias("cell"))
    )
    cand = (
        inv.select(F.col("vec_id").alias("n_vec_id"), "cell")
        .join(F.broadcast(probes), "cell")
        .filter(F.col("n_vec_id") != F.col("q_vec_id"))
        .select("q_vec_id", "n_vec_id")
    )

    s_ids = F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("s")
    qsubs = qv.select(F.col("vec_id").alias("q_vec_id"), s_ids, "v").select(
        "q_vec_id", "s", F.slice("v", F.col("s") * sub + 1, sub).alias("qsv")
    )
    lut = qsubs.join(F.broadcast(cb), "s").select(
        F.col("q_vec_id").alias("lut_q"),
        F.col("s").alias("lut_s"),
        F.col("j").alias("lut_j"),
        _sq_l2("qsv", "cv").alias("pd"),
    )
    adc = (
        cand.join(
            codes.select(F.col("vec_id").alias("n_vec_id"), "s", "code"), "n_vec_id"
        )
        .join(
            F.broadcast(lut),
            (F.col("q_vec_id") == F.col("lut_q"))
            & (F.col("s") == F.col("lut_s"))
            & (F.col("code") == F.col("lut_j")),
        )
        .groupBy("q_vec_id", "n_vec_id")
        .agg(F.sum("pd").alias("adist"))
    )
    wa = Window.partitionBy("q_vec_id").orderBy(
        F.col("adist").asc(), F.col("n_vec_id").asc()
    )
    shortlist = (
        adc.withColumn("rk", F.row_number().over(wa))
        .filter(F.col("rk") <= rerank)
        .select("q_vec_id", "n_vec_id")
    )
    qside = vecs.join(query_ids, "vec_id", "left_semi").select(
        F.col("vec_id").alias("q_vec_id"), F.col("v").alias("qv")
    )
    nside = vecs.select(F.col("vec_id").alias("n_vec_id"), F.col("v").alias("cv"))
    rescored = (
        shortlist.join(F.broadcast(qside), "q_vec_id")
        .join(nside, "n_vec_id")
        .select("q_vec_id", "n_vec_id", _sq_l2("qv", "cv").alias("d2"))
    )
    w = Window.partitionBy("q_vec_id").orderBy(
        F.col("d2").asc(), F.col("n_vec_id").asc()
    )
    return (
        rescored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "q_vec_id",
            "n_vec_id",
            F.col("rank").cast("int").alias("rank"),
            F.col("d2").cast("bigint").alias("d2"),
        )
    )


PCA_SCALE = 4  # integer-unit quantization for the exact Gram pass


def pca_fit(vecs: DataFrame, dim: int, out_dim: int = 8):
    """Distributed PCA fit with an EXACT aggregation pass: quantize each
    element to integer units (floor(x·10^s + 0.5) with s = ``PCA_SCALE``,
    the dsum trick), then
    accumulate per-Arrow-batch partial (count, sum-vector, Gram matrix) in
    int64 — sums of products of bounded ints are exact, so the covariance
    is ORDER- AND PARTITIONING-INDEPENDENT (float Gram passes drift under
    repartitioning; this one cannot — property-tested). Partials are one
    row per batch (64 + 64² ints — the treeAggregate shape); the driver
    folds them and eigendecomposes the d×d covariance (bounded model
    artifact, same budget class as the PQ codebook: d², never N).

    Returns (components [out_dim×dim float64 rows], mean_units [dim int64],
    explained_variance [out_dim]).

    int64 headroom: |x|·10^s ≤ B units ⇒ Gram entries ≤ N·B². With B≈10⁴
    (unit-norm embeddings at s=4) that's exact past N=10¹⁰ rows; raise
    ``PCA_SCALE`` only with that budget in mind.
    """
    import numpy as np

    from network_iq_spark.operators import ensure_parallelism

    rows = (
        ensure_parallelism(vecs.select("v"), min_bytes=DENSE_GUARD_MIN_BYTES)
        .mapInPandas(
            _pca_partials_fn("v", dim, PCA_SCALE),
            schema="n bigint, s array<bigint>, g array<bigint>",
        )
        .collect()
    )
    n = sum(r.n for r in rows)
    if n == 0:
        raise ValueError("pca_fit: empty input")
    s = np.zeros(dim, dtype=np.int64)
    g = np.zeros((dim, dim), dtype=np.int64)
    for r in rows:
        s += np.asarray(r.s, dtype=np.int64)
        g += np.asarray(r.g, dtype=np.int64).reshape(dim, dim)
    mult = float(10**PCA_SCALE)
    mean_u = s.astype(np.float64) / n
    # covariance of the quantized data, in original units
    cov = (g.astype(np.float64) / n - np.outer(mean_u, mean_u)) / (mult * mult)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1][:out_dim]
    components = evecs[:, order].T.copy()  # (out_dim, dim)
    # sign convention: largest-|coef| element positive (eigh sign is
    # arbitrary; pin it so refits are comparable)
    for i in range(components.shape[0]):
        j = int(np.argmax(np.abs(components[i])))
        if components[i, j] < 0:
            components[i] = -components[i]
    return components, s, int(n), evals[order]


def _pca_partials_fn(vec_col: str, dim: int, scale: int):
    import numpy as np
    import pandas as pd

    mult = float(10**scale)

    def partials(it):
        for pdf in it:
            m = np.stack(pdf[vec_col].to_numpy())[:, :dim].astype(np.float64)
            u = np.floor(m * mult + 0.5).astype(np.int64)
            yield pd.DataFrame(
                {
                    "n": [len(u)],
                    "s": [u.sum(axis=0)],
                    "g": [(u.T @ u).reshape(-1)],
                }
            )

    return partials


def pca_project(vecs: DataFrame, dim: int, out_dim: int = 8) -> DataFrame:
    """Fit + project: y = (u − ū)/10^s · Wᵀ per row (one numpy matmul per
    Arrow batch — the ivf_assign_np/pq_encode vectorization lesson), W
    riding the closure as a bounded model artifact (out_dim×dim floats).
    The dimensionality-reduction stage a dense-retrieval pipeline runs
    before IVF/PQ indexing (768→64 and the index cost drops 12× while the
    recall target is re-measured, not assumed)."""
    import numpy as np
    import pandas as pd

    from network_iq_spark.operators import ensure_parallelism

    components, s_units, n, _ = pca_fit(vecs, dim, out_dim)
    mean_vec = (s_units.astype(np.float64) / n) / float(10**PCA_SCALE)
    w_t = components.T.copy()  # (dim, out_dim)
    mult = float(10**PCA_SCALE)

    def project(it):
        for pdf in it:
            m = np.stack(pdf["v"].to_numpy())[:, :dim].astype(np.float64)
            u = np.floor(m * mult + 0.5) / mult  # quantized, same as fit
            y = (u - mean_vec) @ w_t
            yield pd.DataFrame({"vec_id": pdf["vec_id"].to_numpy(), "proj": list(y)})

    return ensure_parallelism(
        vecs.select("vec_id", "v"), min_bytes=DENSE_GUARD_MIN_BYTES
    ).mapInPandas(project, schema="vec_id bigint, proj array<double>")


# ---------------------------------------------------------------------------
# IVF index maintenance: integer-exact Lloyd re-centering (r9)
# ---------------------------------------------------------------------------


def ivf_int_recenter(qvecs: DataFrame, n_cells: int) -> DataFrame:
    """One Lloyd re-centering step over an INTEGER-quantized corpus — the
    index-maintenance pass ``seed_centroids`` deliberately skips in float
    (its docstring: float centroid updates are summation-order-dependent
    and break cross-engine parity). Integer quantization removes the
    obstruction: assignment is integer squared-L2 (exact), the new
    centroid is the per-dimension floor-mean ``sum div count`` (exact,
    non-negative inputs), so the whole maintenance step is
    SQL-replayable and safe to hash.

    Inputs: (id, q array<bigint>, values ≥ 0). Seeds are the ``n_cells``
    smallest ids' vectors (cell_id = rank by id). Each seed is its own
    member at distance 0, so a cell can only start empty if two seed
    VECTORS are identical: the distance tie then breaks to the lower
    cell_id, both seeds land there, and the higher seed's cell emits no
    row (the output has fewer than ``n_cells`` rows). That is the
    intended tie semantics — a duplicate seed is a degenerate quantizer
    cell, and surfacing it as an absent row (vs a fabricated
    n_members=0) keeps the SQL twin trivially identical. Output one row per
    cell: ``n_members`` under the old centroids, ``moved_l2_units``
    (squared L2 between old and new centroid — the drift magnitude an
    operator alerts on), and ``n_reassigned`` (members whose argmin
    changes under the new centroids — the churn the next assignment pass
    would perform).

    Scale shape: centroids are a broadcast dimension (n_cells rows) on
    BOTH assignment passes; the per-dim sums are one combinable
    (cell, dim) groupBy over a bounded posexplode (fanout = dim); no
    corpus self-join anywhere. Ties break on cell_id — integer keys,
    never float ulps.
    """
    from network_iq_spark.operators import ensure_parallelism

    # min_bytes guard (r14 audit, B/A = 0.82 on ivf_int_recenter_stats):
    # brings the one unguarded similarity site in line with the family's
    # DENSE_GUARD_MIN_BYTES discipline
    vecs = ensure_parallelism(
        qvecs.select("vec_id", "q"),
        min_bytes=DENSE_GUARD_MIN_BYTES,
    )
    w = Window.orderBy("vec_id")
    seeds = (
        vecs.orderBy("vec_id")
        .limit(n_cells)
        .withColumn("cell_id", F.row_number().over(w) - 1)
        .select("cell_id", F.col("q").alias("c"))
    )
    dist = "aggregate(zip_with(q, c, (a, b) -> (a - b) * (a - b)), cast(0 as bigint), (s, x) -> s + x)"

    def assign(frame: DataFrame, cents: DataFrame, out: str) -> DataFrame:
        return (
            frame.crossJoin(F.broadcast(cents))
            .withColumn("__d__", F.expr(dist))
            .groupBy("vec_id")
            .agg(F.min(F.struct("__d__", "cell_id")).alias("__m__"))
            .select("vec_id", F.col("__m__.cell_id").alias(out))
        )

    vecs = vecs.localCheckpoint(eager=False)  # feeds both passes + the sums
    old = assign(vecs, seeds, "old_cell").localCheckpoint(eager=False)
    dims = (
        vecs.join(old, "vec_id")
        .select("old_cell", F.posexplode("q").alias("dim", "val"))
        .groupBy("old_cell", "dim")
        .agg(F.sum("val").alias("s"), F.count("*").alias("n"))
    )
    newc = (
        dims.withColumn("nv", F.expr("s div n"))
        .groupBy("old_cell")
        .agg(
            F.max("n").alias("n_members"),
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "nv"))),
                lambda st: st["nv"],
            ).alias("c"),
        )
        .select(F.col("old_cell").alias("cell_id"), "n_members", "c")
        .localCheckpoint(eager=False)  # feeds movement + the 2nd assign
    )
    moved = (
        newc.join(seeds.select("cell_id", F.col("c").alias("c0")), "cell_id")
        .withColumn(
            "moved_l2_units",
            F.expr(
                "aggregate(zip_with(c, c0, (a, b) -> (a - b) * (a - b)), "
                "cast(0 as bigint), (s, x) -> s + x)"
            ),
        )
        .select("cell_id", "n_members", "moved_l2_units")
    )
    new_assign = assign(vecs, newc.select("cell_id", "c"), "new_cell")
    churn = (
        old.join(new_assign, "vec_id")
        .groupBy("old_cell")
        .agg(
            F.sum(
                F.when(F.col("new_cell") != F.col("old_cell"), 1).otherwise(0)
            ).alias("n_reassigned")
        )
        .select(F.col("old_cell").alias("cell_id"), "n_reassigned")
    )
    return moved.join(churn, "cell_id").select(
        "cell_id",
        F.col("n_members").cast("bigint").alias("n_members"),
        F.col("moved_l2_units").cast("bigint").alias("moved_l2_units"),
        F.col("n_reassigned").cast("bigint").alias("n_reassigned"),
    )
