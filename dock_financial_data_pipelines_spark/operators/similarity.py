"""Similarity search over embedding columns (SURVEY.md §2-B L5).

- ``l5_cosine_topk``: brute-force exact top-k — query set broadcast
  against the corpus, dot products via JVM-side higher-order functions
  (zip_with + aggregate — no Python in the loop), window top-k.
  This is the correctness baseline.
- ``l5_ann_lsh_topk``: the scale path — sign-random-projection LSH:
  each vector hashed to a bucket by the signs of H pseudo-random
  hyperplane projections; queries probe only their own bucket. At 100 TB
  the corpus is bucketed once (one shuffle, persisted/bucketed table) and
  each query touches 1/2^H of the data. Approximate → rows-only check.

Hyperplanes are generated deterministically from a hash of
(plane, dimension) so driver and executors agree without shipping state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F

from dock_financial_data_pipelines_spark.catalog import load, local_frame, memo_index, sf_tag
from dock_financial_data_pipelines_spark.hashing import h60_py, h60_sql
from dock_financial_data_pipelines_spark.registry import query

_DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> x * y),"
    " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
)


def _dot(a: str, b: str):
    return F.expr(_DOT.format(a=a, b=b))


# ---------------------------------------------------------------------------
# L5 — exact brute-force cosine top-k
# ---------------------------------------------------------------------------
@query(
    "l5_cosine_topk",
    oracle="""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               list_inner_product(q.e, c.e)
                 / (sqrt(list_inner_product(q.e, q.e))
                    * sqrt(list_inner_product(c.e, c.e))) AS cos_raw
        FROM v q JOIN v c ON q.vec_id <> c.vec_id
        WHERE q.vec_id < 10
    ),
    ranked AS (
        SELECT query_id, neighbor_id, cos_raw,
               row_number() OVER (
                   PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id
               ) AS pos
        FROM scored
    )
    SELECT query_id, neighbor_id, round(cos_raw, 6) AS cosine, pos
    FROM ranked WHERE pos <= 5
    """,
)
def l5_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    # Norms factored out per VECTOR (sqrt(x·x) is the same double
    # wherever computed; a/(nq*nc) groups identically to the oracle's
    # a/(sqrt(qq)*sqrt(cc))): one interpreted higher-order dot per
    # pair instead of three.
    queries = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("qe"),
        F.sqrt(_dot("e", "e")).alias("nq"),
    )
    cand = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("e").alias("ce"),
        F.sqrt(_dot("e", "e")).alias("nc"),
    )
    cos = _dot("qe", "ce") / (F.col("nq") * F.col("nc"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_raw").desc(), F.col("neighbor_id")
    )
    return (
        F.broadcast(queries)
        .join(cand, F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos_raw", cos)
        .withColumn("pos", F.row_number().over(w))
        .where(F.col("pos") <= 5)
        .select("query_id", "neighbor_id", F.round("cos_raw", 6).alias("cosine"), "pos")
    )


# ---------------------------------------------------------------------------
# L5b — LSH-bucketed approximate top-k (sign random projection).
# ---------------------------------------------------------------------------
_N_PLANES = 3  # per table: 8 buckets
_N_TABLES = 4  # independent hash tables (union of probes)
_EMB_DIM = 64


def _hyperplane(table: int, h: int, dim: int = _EMB_DIM) -> list[float]:
    """Deterministic pseudo-random hyperplane from md5(table, h, d) —
    computed once driver-side and embedded as an array literal, so
    per-row work is a single zip_with dot product."""
    import hashlib

    return [
        int(hashlib.md5(f"{table}#{h}#{d}".encode()).hexdigest()[:8], 16)
        / 0x80000000
        - 1.0
        for d in range(dim)
    ]


_LSH_Q = 1 << 20  # quantization scale for the bucket decision


def _hyperplane_q(table: int, h: int, dim: int = _EMB_DIM) -> list[int]:
    """Hyperplane quantized to integers at 2^20 — the form the bucket
    decision actually uses. Quantizing BOTH the plane and the vector
    makes the sign an exact BIGINT comparison, identical on every
    engine: raw double projections differ between Spark's sequential
    fold and DuckDB's list_inner_product in the last ulp (measured ~5e-16),
    which is invisible to recall but would make a sign that lands
    within an ulp of zero engine-dependent — integer projections
    remove the class of bug instead of hoping the fixture avoids it."""
    import math

    return [
        int(math.floor(w * _LSH_Q + 0.5)) for w in _hyperplane(table, h, dim)
    ]


def _bucket_expr(vec_col: str, table: int) -> F.Column:
    """LSH bucket id for one hash table: sign bits of H projections.

    Projections are exact BIGINT dot products of the 2^20-quantized
    vector against the 2^20-quantized hyperplane (|x|≤1, dim 64 →
    |proj| < 2^46, no overflow under ANSI). Recall math
    (sign-random-projection): per-plane collision p = 1 - θ/π; one
    table catches p^H of true neighbors, L tables 1-(1-p^H)^L.
    Near-orthogonal vectors (θ≈70°, the fixture's regime) give ~0.6
    with H=3, L=4; clustered real embeddings do far better."""
    # One F.expr per table: composing this from ~2400 Column objects
    # (64 lits × 3 planes + lambdas) costs ~1 s of py4j round trips per
    # query build; a single SQL string parses JVM-side in microseconds
    # with an identical expression tree.
    bits = []
    for h in range(_N_PLANES):
        plane = ", ".join(str(w) for w in _hyperplane_q(table, h))
        proj = (
            f"aggregate(zip_with({vec_col}, array({plane}),"
            f" (x, w) -> CAST(floor(x * {float(_LSH_Q)} + 0.5) AS BIGINT) * w),"
            " CAST(0 AS BIGINT), (acc, v) -> acc + v)"
        )
        bits.append(f"(CASE WHEN {proj} >= 0 THEN {1 << h} ELSE 0 END)")
    return F.expr(f"CAST({' + '.join(bits)} AS INT)")


def _probe_buckets(bucket_col: F.Column) -> F.Column:
    """Multi-probe expansion: the query's own bucket plus every bucket at
    Hamming distance 1 (flip each of the H sign bits). Sign-LSH's most
    likely miss is exactly one plane disagreeing, so probing these H+1
    buckets lifts per-table recall from p^H to p^H + H·p^(H-1)(1-p) —
    with H=3, L=4 that is ≥0.93 even for near-orthogonal (θ≈80°)
    vectors, while each (table, query) still touches only (H+1)/2^H of
    the corpus."""
    return F.array(
        bucket_col,
        *[bucket_col.bitwiseXOR(F.lit(1 << h)) for h in range(_N_PLANES)],
    )


def _lsh_oracle_sql() -> str:
    """DuckDB algorithm twin of the full LSH pipeline. The quantized
    integer projections make bucket ids a pure function of the input
    (see _hyperplane_q), so candidates — and therefore the exact
    re-ranked output — are deterministic and hash-checkable. Recall vs
    the exact top-k stays pytest-gated (tests/test_rows_only.py,
    tests/test_adversarial.py); this oracle proves the ENGINE computes
    its declared algorithm exactly."""
    hp_rows = ", ".join(
        "(%d, %d, [%s])" % (t, h, ", ".join(str(w) for w in _hyperplane_q(t, h)))
        for t in range(_N_TABLES)
        for h in range(_N_PLANES)
    )
    probe_list = "[bucket, " + ", ".join(
        f"xor(bucket, {1 << h})" for h in range(_N_PLANES)
    ) + "]"
    return f"""
    WITH veq AS (
        SELECT vec_id,
               CAST(floor(unnest(CAST(embedding AS DOUBLE[])) * {float(_LSH_Q)}
                          + 0.5) AS BIGINT) AS xq,
               unnest(range({_EMB_DIM})) AS i
        FROM embeddings
    ),
    hp AS (
        SELECT t, h, unnest(ws) AS wq, unnest(range({_EMB_DIM})) AS i
        FROM (VALUES {hp_rows}) v(t, h, ws)
    ),
    proj AS (
        SELECT veq.vec_id, hp.t, hp.h, sum(veq.xq * hp.wq) AS p
        FROM veq JOIN hp ON veq.i = hp.i
        GROUP BY 1, 2, 3
    ),
    buckets AS (
        SELECT vec_id, t,
               CAST(sum(CASE WHEN p >= 0 THEN (1 << h) ELSE 0 END) AS INT)
                   AS bucket
        FROM proj GROUP BY 1, 2
    ),
    probes AS (
        SELECT vec_id AS query_id, t,
               unnest({probe_list}) AS bucket
        FROM buckets WHERE vec_id < 10
    ),
    cand AS (
        SELECT DISTINCT p.query_id, b.vec_id AS neighbor_id
        FROM probes p JOIN buckets b ON p.t = b.t AND p.bucket = b.bucket
        WHERE b.vec_id <> p.query_id
    ),
    v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    scored AS (
        SELECT c.query_id, c.neighbor_id,
               list_inner_product(q.e, n.e)
                 / (sqrt(list_inner_product(q.e, q.e))
                    * sqrt(list_inner_product(n.e, n.e))) AS cos_raw
        FROM cand c
        JOIN v q ON q.vec_id = c.query_id
        JOIN v n ON n.vec_id = c.neighbor_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id, cos_raw,
               row_number() OVER (
                   PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id
               ) AS pos
        FROM scored
    )
    SELECT query_id, neighbor_id, round(cos_raw, 6) AS cosine, pos
    FROM ranked WHERE pos <= 5
    """


@query("l5_ann_lsh_topk", oracle=_lsh_oracle_sql())
def l5_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Bucket every vector in each of the L tables (the bucket columns
    # ride along the same scan). Queries explode to (table, probe_bucket)
    # rows — multi-probe, Hamming≤1 — and candidates melt to
    # (table, bucket) rows, so the candidate step is a pure EQUI-join on
    # (table, bucket): shuffle-partitionable, bucket-prunable, no theta
    # join anywhere. Survivor pairs are deduped and re-ranked exactly.
    # Materialize the bucketed index ONCE per session (memo_index keyed
    # on source mtimes): the probe set, the corpus index and the exact
    # re-rank all read it, and without materialization the L×H
    # projection expressions are inlined into three separate scans.
    # This is also the production shape — at 100 TB the signed-
    # projection index is persisted (a table bucketed by (tbl, bucket)),
    # built in one pass, and queries only probe it.
    def _build() -> DataFrame:
        emb = load(spark, sf_dir, "embeddings").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("e")
        )
        for t in range(_N_TABLES):
            emb = emb.withColumn(f"b{t}", _bucket_expr("e", t))
        return emb.localCheckpoint(eager=True)

    emb = memo_index(spark, f"l5_lsh:{sf_tag(sf_dir)}", _build)
    bucket_cols = [f"b{t}" for t in range(_N_TABLES)]

    # Corpus index: one (neighbor_id, table, bucket) row per table.
    stack_expr = "stack({n}, {args}) AS (tbl, bucket)".format(
        n=_N_TABLES,
        args=", ".join(f"{t}, b{t}" for t in range(_N_TABLES)),
    )
    index = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.expr(stack_expr)
    )

    # Query probes: (query_id, table, probe bucket) for own + H flipped
    # buckets — one stack over the checkpointed index (no union-of-L
    # re-scans), then one explode of the per-table probe arrays.
    probe_stack = "stack({n}, {args}) AS (tbl, pbs)".format(
        n=_N_TABLES,
        args=", ".join(f"{t}, _p{t}" for t in range(_N_TABLES)),
    )
    probes = (
        emb.where(F.col("vec_id") < 10)
        .select(
            F.col("vec_id").alias("query_id"),
            *[
                _probe_buckets(F.col(f"b{t}")).alias(f"_p{t}")
                for t in range(_N_TABLES)
            ],
        )
        .select("query_id", F.expr(probe_stack))
        .select("query_id", "tbl", F.explode("pbs").alias("bucket"))
    )

    cand_ids = (
        F.broadcast(probes)
        .join(index, ["tbl", "bucket"])
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )

    # Exact re-rank of the candidate set only. Norms factored out per
    # VECTOR (sqrt(x·x) is the same double wherever computed; a/(nq*nc)
    # groups identically to a/(sqrt(qq)*sqrt(cc))), so each candidate
    # row pays ONE interpreted higher-order dot instead of three.
    queries = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("qe"),
        F.sqrt(_dot("e", "e")).alias("nq"),
    )
    cand_vecs = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("e").alias("ce"),
        F.sqrt(_dot("e", "e")).alias("nc"),
    )
    cos = _dot("qe", "ce") / (F.col("nq") * F.col("nc"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_raw").desc(), F.col("neighbor_id")
    )
    return (
        cand_ids.join(F.broadcast(queries), "query_id")
        .join(cand_vecs, "neighbor_id")
        .withColumn("cos_raw", cos)
        .withColumn("pos", F.row_number().over(w))
        .where(F.col("pos") <= 5)
        .select("query_id", "neighbor_id", F.round("cos_raw", 6).alias("cosine"), "pos")
    )


# ---------------------------------------------------------------------------
# L5c — IVF (inverted-file) ANN: the clustered alternative to LSH.
# Coarse centroids are trained with a few Lloyd (k-means) iterations:
# deterministic md5-order seeding, then per-iteration one distributed
# assignment pass (broadcast K integer centroids) + per-cell exact
# integer mean. Every training/assignment decision is integer
# arithmetic (see _ivf_quantize), so the DuckDB oracle replays the
# whole pipeline — training included — bit-for-bit.
# Corpus is partitioned by nearest centroid in ONE pass, queries probe
# the nProbe nearest cells and re-rank exactly. At 100 TB the cell id
# is the partition key of the persisted index: a probe touches nProbe/K
# of the corpus, centroid assignment is a broadcast join, and training
# traffic to the driver is K*dim doubles per iteration — independent of
# corpus size.
# ---------------------------------------------------------------------------
_IVF_K = 8        # coarse cells (at scale: ~sqrt(corpus); fixture keeps 8)
_IVF_NPROBE = 4   # cells probed per query — recall/cost dial. The ratio
                  # nProbe/K (not nProbe itself) is the probed fraction;
                  # production raises K with corpus size so 4/K shrinks.
_IVF_ITERS = 3    # Lloyd refinement passes over the corpus.
_IVF_ASSIGN = 2   # cells each corpus vector is indexed under (multiple
                  # assignment): 2× index size buys the recall lost to
                  # boundary vectors — measured 0.70 → 0.92 top-5 recall
                  # on the near-orthogonal fixture at nProbe=4, K=8.


_IVF_QSCALE = 4096  # embedding quantization for the coarse quantizer


def _ivf_quantize(vec_col: str) -> F.Column:
    """floor((x + 1) * 4096 + 0.5) per component: non-negative BIGINTs
    (unit vectors have |x| ≤ 1), so centroid means use plain truncating
    integer division (== floor on non-negatives, identical in Spark DIV
    and DuckDB //) and squared L2 distances are exact BIGINT sums
    ((Δ ≤ 2^14)² × 64 dims < 2^33 — ANSI-safe). On unit-norm vectors
    L2 ordering equals cosine ordering, so the quantizer keeps the
    spherical semantics while every assignment decision becomes an
    exact integer comparison — the same determinism move as the LSH
    bucket quantization above."""
    return F.expr(
        f"transform({vec_col}, x -> CAST(floor((x + 1.0D) * "
        f"{float(_IVF_QSCALE)} + 0.5) AS BIGINT))"
    )


_IVF_DIST = (
    "aggregate(zip_with({a}, {b}, (x, c) -> (x - c) * (x - c)),"
    " CAST(0 AS BIGINT), (acc, v) -> acc + v)"
)


def _ivf_assign(emb: DataFrame, centroids: DataFrame, vec_col: str, n: int):
    """(id, vec) × centroids → n nearest cell ids per row.

    Distances are exact BIGINT squared-L2 between the quantized vector
    and the integer centroid — every rank decision is deterministic on
    any engine/partitioning (ties break by cell id)."""
    scored = (
        emb.withColumn("_vq", _ivf_quantize(vec_col))
        .join(F.broadcast(centroids), how="cross")
        .withColumn("_d", F.expr(_IVF_DIST.format(a="_vq", b="cq")))
    )
    w = Window.partitionBy(emb.columns[0]).orderBy(F.col("_d"), F.col("cell"))
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= n)
        .drop("cq", "_vq", "_d", "_rk")
    )


def _ivf_train_centroids(
    spark: SparkSession, emb: DataFrame, k: int = _IVF_K, iters: int = _IVF_ITERS
) -> DataFrame:
    """Deterministic integer k-means coarse quantizer.

    Seeding: the ``k`` corpus vectors with the smallest
    ``(md5(vec_id), vec_id)`` — a total order, engine-portable (md5 is
    bit-identical everywhere), deterministic and independent of corpus
    size/partitioning, pseudo-uniform over the corpus. Each Lloyd pass
    is one distributed nearest-centroid assignment (the K integer
    centroids are broadcast) followed by a per-cell element-wise
    integer mean (posexplode → groupBy(cell, dim) → Σ DIV n — exact
    floor division on non-negative quantized components). Only the
    K×dim centroid matrix ever returns to the driver. A cell that
    loses all members keeps its previous centroid. Every step is
    integer-exact, so the DuckDB oracle replays training bit-for-bit
    (the l5_ivf_topk / l_semantic_dedup oracles unroll these
    iterations as CTEs).
    """
    seed_rows = (
        emb.select("vec_id", _ivf_quantize("e").alias("q"))
        .orderBy(F.md5(F.col("vec_id").cast("string")), F.col("vec_id"))
        .limit(k)
        .collect()
    )
    cents = [(i, [int(x) for x in r["q"]]) for i, r in enumerate(seed_rows)]
    emb_q = emb.select(
        F.col("vec_id").alias("_id"), _ivf_quantize("e").alias("_vq")
    )
    for _ in range(iters):
        cdf = spark.createDataFrame(cents, "cell INT, cq ARRAY<BIGINT>")
        scored = emb_q.join(F.broadcast(cdf), how="cross").withColumn(
            "_d", F.expr(_IVF_DIST.format(a="_vq", b="cq"))
        )
        w = Window.partitionBy("_id").orderBy(F.col("_d"), F.col("cell"))
        assigned = (
            scored.withColumn("_rk", F.row_number().over(w))
            .where(F.col("_rk") == 1)
            .select("_id", "cell", "_vq")
        )
        mean_rows = (
            assigned.select("cell", F.posexplode("_vq").alias("pos", "val"))
            .groupBy("cell", "pos")
            .agg(F.expr("CAST(sum(val) DIV count(val) AS BIGINT)").alias("m"))
            .collect()
        )
        new: dict[int, dict[int, int]] = {}
        for r in mean_rows:
            new.setdefault(r["cell"], {})[r["pos"]] = int(r["m"])
        cents = [
            (
                i,
                [new[i][d] for d in range(len(v))] if i in new else v,
            )
            for i, v in cents
        ]
    return spark.createDataFrame(cents, "cell INT, cq ARRAY<BIGINT>")


def _ivf_centroids(spark: SparkSession, sf_dir: str):
    """(emb, centroids): the embeddings as (vec_id, e) and the coarse
    quantizer trained on them. Trained once per session and fixture,
    under one memo key every IVF consumer shares: the persisted-coarse-
    quantizer contract — at 100 TB the centroid table is built by one
    job and every consumer reads it; locally the memo is that same
    build-once semantics."""
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    centroids = memo_index(
        spark,
        f"ivf_centroids:{sf_tag(sf_dir)}",
        lambda: _ivf_train_centroids(spark, emb).localCheckpoint(eager=True),
    )
    return emb, centroids


def _ivf_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, cell, e): every embedding in its nearest IVF cell."""
    emb, centroids = _ivf_centroids(spark, sf_dir)
    return _ivf_assign(
        emb.select(F.col("vec_id").alias("_id"), F.col("e").alias("ce")),
        centroids,
        "ce",
        1,
    ).select(F.col("_id").alias("vec_id"), "cell", F.col("ce").alias("e"))


def _ivf_sql_prefix() -> str:
    """Shared DuckDB CTE chain replaying the integer k-means exactly:
    quantized components → md5-ordered seeds → ``_IVF_ITERS`` unrolled
    (assign → integer-mean update) rounds. Ends by defining
    ``cfinal(cell, i, cq)`` and ``dfinal(vec_id, cell, d)`` — the
    trained centroids and every vector's distance to them — for the
    caller's probe/assignment tail."""
    k, iters = _IVF_K, _IVF_ITERS
    parts = [
        f"""
    veq AS (
        SELECT vec_id,
               CAST(floor((unnest(CAST(embedding AS DOUBLE[])) + 1.0)
                          * {float(_IVF_QSCALE)} + 0.5) AS BIGINT) AS xq,
               unnest(range({_EMB_DIM})) AS i
        FROM embeddings
    ),
    seeds AS (
        SELECT vec_id, CAST(rn - 1 AS INT) AS cell FROM (
            SELECT vec_id, row_number() OVER (
                ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
            FROM embeddings
        ) WHERE rn <= {k}
    ),
    c0 AS (
        SELECT s.cell, v.i, v.xq AS cq
        FROM seeds s JOIN veq v USING (vec_id)
    )"""
    ]
    for it in range(1, iters + 1):
        parts.append(
            f""",
    d{it} AS (
        SELECT v.vec_id, c.cell,
               sum((v.xq - c.cq) * (v.xq - c.cq)) AS d
        FROM veq v JOIN c{it - 1} c ON v.i = c.i
        GROUP BY 1, 2
    ),
    a{it} AS (
        SELECT vec_id, cell FROM (
            SELECT vec_id, cell,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY d, cell) AS rk
            FROM d{it}
        ) WHERE rk = 1
    ),
    m{it} AS (
        SELECT a.cell, v.i, CAST(sum(v.xq) // count(*) AS BIGINT) AS cq
        FROM a{it} a JOIN veq v USING (vec_id)
        GROUP BY 1, 2
    ),
    c{it} AS (
        SELECT * FROM m{it}
        UNION ALL
        SELECT p.cell, p.i, p.cq FROM c{it - 1} p
        WHERE p.cell NOT IN (SELECT DISTINCT cell FROM m{it})
    )"""
        )
    parts.append(
        f""",
    cfinal AS (SELECT * FROM c{iters}),
    dfinal AS (
        SELECT v.vec_id, c.cell,
               sum((v.xq - c.cq) * (v.xq - c.cq)) AS d
        FROM veq v JOIN cfinal c ON v.i = c.i
        GROUP BY 1, 2
    )"""
    )
    return "".join(parts)


# Materialized once at import for cross-module reuse (dedup.py's
# l_semantic_dedup oracle shares the identical trained cells).
_SEM_ORACLE_PREFIX = None  # assigned below, after _ivf_sql_prefix exists


_SEM_ORACLE_PREFIX = _ivf_sql_prefix()


def _ivf_oracle_sql() -> str:
    return f"""
    WITH {_ivf_sql_prefix()},
    corpus AS (
        SELECT vec_id AS neighbor_id, cell FROM (
            SELECT vec_id, cell,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY d, cell) AS rk
            FROM dfinal
        ) WHERE rk <= {_IVF_ASSIGN}
    ),
    qprobes AS (
        SELECT vec_id AS query_id, cell FROM (
            SELECT vec_id, cell,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY d, cell) AS rk
            FROM dfinal WHERE vec_id < 10
        ) WHERE rk <= {_IVF_NPROBE}
    ),
    cand AS (
        SELECT DISTINCT q.query_id, c.neighbor_id
        FROM qprobes q JOIN corpus c ON q.cell = c.cell
        WHERE c.neighbor_id <> q.query_id
    ),
    v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    scored AS (
        SELECT cd.query_id, cd.neighbor_id,
               list_inner_product(q.e, n.e)
                 / (sqrt(list_inner_product(q.e, q.e))
                    * sqrt(list_inner_product(n.e, n.e))) AS cos_raw
        FROM cand cd
        JOIN v q ON q.vec_id = cd.query_id
        JOIN v n ON n.vec_id = cd.neighbor_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id, cos_raw,
               row_number() OVER (
                   PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id
               ) AS pos
        FROM scored
    )
    SELECT query_id, neighbor_id, round(cos_raw, 6) AS cosine, pos
    FROM ranked WHERE pos <= 5
    """


@query("l5_ivf_topk", oracle=_ivf_oracle_sql())
def l5_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb, centroids = _ivf_centroids(spark, sf_dir)
    corpus = _ivf_assign(
        emb.select(F.col("vec_id").alias("neighbor_id"), F.col("e").alias("ce")),
        centroids, "ce", _IVF_ASSIGN,
    )
    queries = _ivf_assign(
        emb.where(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("query_id"), F.col("e").alias("qe")
        ),
        centroids, "qe", _IVF_NPROBE,
    )
    # Norms factored out per VECTOR (sqrt(x·x) is the same double
    # wherever it is computed, and a/(nq*nc) groups identically to the
    # oracle's a/(sqrt(qq)*sqrt(cc)) — the l_semantic_dedup idiom), so
    # each candidate row pays ONE interpreted higher-order dot instead
    # of three.
    cos = _dot("qe", "ce") / (F.col("nq") * F.col("nc"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_raw").desc(), F.col("neighbor_id")
    )
    # Candidate generation + dedup on KEYS ONLY (guide §2.3): the cell
    # join and the DISTINCT used to carry both 64-dim double vectors
    # (~1 KB/row) to deduplicate what (query_id, neighbor_id) already
    # identifies. Vectors re-attach after the distinct — the 10-query
    # side by broadcast, the corpus side by the id equi-join every IVF
    # re-rank does (vector fetch by neighbor id).
    return (
        queries.select("query_id", "cell")
        .join(corpus.select("neighbor_id", "cell"), "cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
        .join(
            F.broadcast(
                emb.where(F.col("vec_id") < 10).select(
                    F.col("vec_id").alias("query_id"),
                    F.col("e").alias("qe"),
                    F.sqrt(_dot("e", "e")).alias("nq"),
                )
            ),
            "query_id",
        )
        .join(
            emb.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("e").alias("ce"),
                F.sqrt(_dot("e", "e")).alias("nc"),
            ),
            "neighbor_id",
        )
        .withColumn("cos_raw", cos)
        .withColumn("pos", F.row_number().over(w))
        .where(F.col("pos") <= 5)
        .select("query_id", "neighbor_id", F.round("cos_raw", 6).alias("cosine"), "pos")
    )


# ---------------------------------------------------------------------------
# L9 — int8 embedding quantization: the 4× memory/bandwidth reduction
# every large vector corpus applies before ANN. Quantize q = floor(x*127
# + 0.5) (identical integer arithmetic in both engines, so the oracle is
# exact, not tolerance-only), then verify the quantized cosine tracks
# the float cosine within 2% across the probe × corpus pair set.
# ---------------------------------------------------------------------------
@query(
    "l9_embedding_quantization",
    oracle="""
    WITH v AS (
        SELECT vec_id,
               CAST(embedding AS DOUBLE[]) AS e,
               list_transform(CAST(embedding AS DOUBLE[]),
                              x -> CAST(floor(x * 127 + 0.5) AS INT)) AS q
        FROM embeddings
    ),
    pairs AS (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               list_inner_product(a.e, b.e)
                 / (sqrt(list_inner_product(a.e, a.e))
                    * sqrt(list_inner_product(b.e, b.e))) AS cos_f,
               CAST(list_inner_product(a.q, b.q) AS DOUBLE)
                 / (sqrt(CAST(list_inner_product(a.q, a.q) AS DOUBLE))
                    * sqrt(CAST(list_inner_product(b.q, b.q) AS DOUBLE))) AS cos_q
        FROM v a JOIN v b ON a.vec_id < b.vec_id
        WHERE a.vec_id < 10
    )
    SELECT count(*) AS n_pairs,
           CASE WHEN count(*) = 0 THEN TRUE  -- vacuous on no pairs
                ELSE max(abs(cos_f - cos_q)) <= 0.02 END AS max_err_le_2pct
    FROM pairs
    """,
)
def l9_embedding_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("e"),
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x: F.floor(x * 127 + 0.5).cast("int"),
        ).alias("q"),
    )
    a = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("ea"),
        F.col("q").alias("qa"),
    )
    b = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("e").alias("eb"),
        F.col("q").alias("qb"),
    )
    idot = (
        "aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * y),"
        " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )

    def _idot(x, y):
        return F.expr(idot.format(a=x, b=y))

    cos_f = _dot("ea", "eb") / (F.sqrt(_dot("ea", "ea")) * F.sqrt(_dot("eb", "eb")))
    cos_q = _idot("qa", "qb") / (
        F.sqrt(_idot("qa", "qa")) * F.sqrt(_idot("qb", "qb"))
    )
    pairs = (
        F.broadcast(a)
        .join(b, F.col("query_id") < F.col("neighbor_id"))
        .select(cos_f.alias("cos_f"), cos_q.alias("cos_q"))
    )
    # The bound is emitted as an unconditional boolean (not a filter):
    # if quantization error ever exceeded 2% this row would read FALSE
    # against the oracle's arithmetic and fail the hash compare, instead
    # of both sides degenerating to zero rows.
    return (
        pairs.agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.max(F.abs(F.col("cos_f") - F.col("cos_q"))).alias("_max_err"),
        )
        .select(
            "n_pairs",
            F.when(F.col("n_pairs") == 0, F.lit(True))  # vacuous on no pairs
            .otherwise(F.col("_max_err") <= 0.02)
            .alias("max_err_le_2pct"),
        )
    )


# ---------------------------------------------------------------------------
# L5e — hard-negative mining (contrastive-training data prep): for each
# probe vector, the top-3 most-similar vectors with a DIFFERENT label —
# the "hard negatives" a contrastive loss needs, too similar for random
# sampling to find. The exact probe-bounded form carries the SQL
# oracle; at 100 TB candidate generation rides the existing ANN index
# (probe the LSH buckets, then filter label != q.label in the re-rank)
# — the same candidate-then-verify shape as every L5 operator.
# ---------------------------------------------------------------------------
@query(
    "l_hard_negative_mining",
    oracle="""
    WITH v AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
        FROM embeddings
    ),
    scored AS (
        SELECT q.vec_id AS query_id, q.label AS query_label,
               c.vec_id AS neighbor_id, c.label AS neg_label,
               list_inner_product(q.e, c.e)
                 / (sqrt(list_inner_product(q.e, q.e))
                    * sqrt(list_inner_product(c.e, c.e))) AS cos_raw
        FROM v q JOIN v c
          ON q.vec_id <> c.vec_id AND q.label <> c.label
        WHERE q.vec_id < 10
    ),
    ranked AS (
        SELECT *, row_number() OVER (
                   PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id
               ) AS pos
        FROM scored
    )
    SELECT query_id, query_label, neighbor_id, neg_label,
           round(cos_raw, 6) AS cosine, pos
    FROM ranked WHERE pos <= 3
    """,
)
def l_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("e")
    )
    # Norms factored per vector (bit-identical; see l5_cosine_topk).
    probes = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("query_label"),
        F.col("e").alias("qe"),
        F.sqrt(_dot("e", "e")).alias("nq"),
    )
    cands = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("neg_label"),
        F.col("e").alias("ce"),
        F.sqrt(_dot("e", "e")).alias("nc"),
    )
    cos = _dot("qe", "ce") / (F.col("nq") * F.col("nc"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_raw").desc(), F.col("neighbor_id")
    )
    return (
        F.broadcast(probes)
        .join(
            cands,
            (F.col("query_id") != F.col("neighbor_id"))
            & (F.col("query_label") != F.col("neg_label")),
        )
        .withColumn("cos_raw", cos)
        .withColumn("pos", F.row_number().over(w))
        .where(F.col("pos") <= 3)
        .select(
            "query_id",
            "query_label",
            "neighbor_id",
            "neg_label",
            F.round("cos_raw", 6).alias("cosine"),
            "pos",
        )
    )


# ---------------------------------------------------------------------------
# L5e — mutual k-NN graph over a bounded probe set: exact top-5
# neighbors both directions within vec_id < 200, keeping the edges that
# appear in BOTH adjacency lists — the construction behind graph-based
# dedup/cluster curation (mutual edges are far more precise than raw
# top-k). Probe-bounded by design (like l_neardup_recall_audit): the
# 100 TB path replaces the bounded exact pass with LSH/IVF candidates
# (l5_ann_lsh_topk / l5_ivf_topk machinery) feeding the same
# mutual-edge join; the probe keeps the audit's cost independent of
# corpus growth. One broadcast of the 200-row probe side, JVM-side
# zip_with dot products, window top-k, then an edge self-join.
# ---------------------------------------------------------------------------
@query(
    "l_knn_mutual_graph",
    oracle="""
    WITH v AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
        FROM embeddings WHERE vec_id < 200
    ),
    scored AS (
        SELECT q.vec_id AS src, c.vec_id AS dst,
               list_inner_product(q.e, c.e)
                 / (sqrt(list_inner_product(q.e, q.e))
                    * sqrt(list_inner_product(c.e, c.e))) AS cos_raw
        FROM v q JOIN v c ON q.vec_id <> c.vec_id
    ),
    ranked AS (
        SELECT src, dst, cos_raw,
               row_number() OVER (
                   PARTITION BY src ORDER BY cos_raw DESC, dst
               ) AS pos
        FROM scored
    ),
    knn AS (SELECT src, dst, cos_raw FROM ranked WHERE pos <= 5)
    SELECT a.src AS vec_a, a.dst AS vec_b,
           round(a.cos_raw, 6) AS cosine
    FROM knn a JOIN knn b ON a.src = b.dst AND a.dst = b.src
    WHERE a.src < a.dst
    """,
)
def l_knn_mutual_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = (
        load(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") < 200)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
    )
    q = emb.select(F.col("vec_id").alias("src"), F.col("e").alias("qe"))
    c = emb.select(F.col("vec_id").alias("dst"), F.col("e").alias("ce"))
    cos = _dot("qe", "ce") / (
        F.sqrt(_dot("qe", "qe")) * F.sqrt(_dot("ce", "ce"))
    )
    scored = (
        F.broadcast(q)
        .join(c, F.col("src") != F.col("dst"))
        .select("src", "dst", cos.alias("cos_raw"))
    )
    knn = (
        scored.withColumn(
            "pos",
            F.row_number().over(
                Window.partitionBy("src").orderBy(
                    F.col("cos_raw").desc(), "dst"
                )
            ),
        )
        .where(F.col("pos") <= 5)
        .select("src", "dst", "cos_raw")
    )
    a = knn.alias("a")
    b = knn.alias("b")
    return (
        a.join(
            b,
            (F.col("a.src") == F.col("b.dst"))
            & (F.col("a.dst") == F.col("b.src")),
        )
        .where(F.col("a.src") < F.col("a.dst"))
        .select(
            F.col("a.src").alias("vec_a"),
            F.col("a.dst").alias("vec_b"),
            F.round(F.col("a.cos_raw"), 6).alias("cosine"),
        )
    )


# ---------------------------------------------------------------------------
# L5f — embedding-column quality audit: per label, vector count,
# dimensionality spread (a dim mismatch means a corrupt upstream
# writer), L2-norm min/max/mean, and zero-vector count — the checks a
# training pipeline runs before any similarity work trusts the column.
# Linear map-side pass (zip_with-free: one aggregate() per row), one
# small aggregate; norms decimal-cast before the cross-row mean.
# ---------------------------------------------------------------------------
@query(
    "l_embedding_norm_audit",
    oracle="""
    WITH per_vec AS (
        SELECT label, len(embedding) AS dim,
               sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
                                       CAST(embedding AS DOUBLE[]))) AS nrm
        FROM embeddings
    )
    SELECT label, count(*) AS n_vecs,
           min(dim) AS dim_min, max(dim) AS dim_max,
           CAST(sum(CASE WHEN nrm = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_zero,
           floor(min(nrm) * 1e6 + 0.5) / 1e6 AS norm_min,
           floor(max(nrm) * 1e6 + 0.5) / 1e6 AS norm_max,
           floor(sum(CAST(nrm AS DECIMAL(27,9)))::DOUBLE / count(*)
                 * 1e6 + 0.5) / 1e6 AS norm_mean
    FROM per_vec GROUP BY label ORDER BY label
    """,
)
def l_embedding_norm_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings").select(
        "label",
        F.size("embedding").alias("dim"),
        F.sqrt(
            F.expr(
                _DOT.format(
                    a="CAST(embedding AS ARRAY<DOUBLE>)",
                    b="CAST(embedding AS ARRAY<DOUBLE>)",
                )
            )
        ).alias("nrm"),
    )
    r6 = lambda e: F.floor(e * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return (
        emb.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.min("dim").alias("dim_min"),
            F.max("dim").alias("dim_max"),
            F.sum(F.when(F.col("nrm") == 0, 1).otherwise(0)).alias("n_zero"),
            r6(F.min("nrm")).alias("norm_min"),
            r6(F.max("nrm")).alias("norm_max"),
            r6(
                F.sum(F.col("nrm").cast("decimal(27,9)")).cast("double")
                / F.count(F.lit(1))
            ).alias("norm_mean"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# l_pca_power_iteration — the top principal direction of the embedding
# corpus by distributed power iteration (the dominant-eigenvector pass
# behind embedding whitening / anisotropy removal, e.g. the
# all-but-the-top post-processing common before ANN indexing).
#
# Integer-exact scheme (the IVF/k-means determinism move applied to
# linear algebra): components quantize to BIGINT at 2^12
# (floor(x·4096 + 0.5) — floor is identical cross-engine on negatives);
# the iterate v keeps an invariant |v| ≤ 4096. One iteration is two
# distributed matvecs: s_i = Σ_j x_ij·v_j (row scores, |s| ≤ 2^30),
# rescaled by magnitude-only floor division sign(s)·(|s| div 4096) —
# division happens on the NON-NEGATIVE |s| because Spark's DIV
# truncates while DuckDB's // floors, and they only agree on
# non-negatives — then w_j = Σ_i x_ij·s'_i, renormalized to
# v'_j = sign(w)·(|w|·4096 div max|w|). The first iterations feed the
# 64-element iterate back through the driver (only a dim-sized vector
# ever leaves the cluster — the IVF centroid contract); the LAST
# iteration stays fully in DataFrame land, so the reported loadings are
# computed distributed. The DuckDB oracle unrolls all iterations as
# CTEs and reproduces the loadings bit-for-bit. v0 is a deterministic
# md5-parity ±4096 vector. Convergence to the true eigenvector is a
# property of the spectrum, not the engine — 5 iterations on 64 dims is
# the calibration-audit shape, not a claim of full convergence.
# ---------------------------------------------------------------------------
_PCA_ITERS = 5  # total matvec rounds (4 driver-fed + 1 distributed)


def _pca_v0() -> list:
    return [
        4096 if h60_py(f"pca#{d}".encode()) % 2 == 0 else -4096
        for d in range(_EMB_DIM)
    ]


def _pca_oracle_sql() -> str:
    head = f"""
    WITH x AS (
        SELECT vec_id,
               CAST(floor(unnest(CAST(embedding AS DOUBLE[])) * 4096.0 + 0.5)
                    AS BIGINT) AS xq,
               unnest(range({_EMB_DIM})) AS i
        FROM embeddings
    ),
    v0 AS (
        SELECT CAST(t.i AS INT) AS i,
               CASE WHEN {h60_sql("'pca#' || CAST(t.i AS VARCHAR)", "duckdb")}
                        % 2 = 0
                    THEN 4096 ELSE -4096 END AS v
        FROM range({_EMB_DIM}) t(i)
    )"""
    body = ""
    prev = "v0"
    for it in range(1, _PCA_ITERS + 1):
        body += f""",
    s{it} AS (
        SELECT x.vec_id, sum(x.xq * {prev}.v) AS s
        FROM x JOIN {prev} ON x.i = {prev}.i GROUP BY 1
    ),
    sr{it} AS (
        SELECT vec_id,
               (CASE WHEN s < 0 THEN -1 ELSE 1 END) * (abs(s) // 4096) AS sr
        FROM s{it}
    ),
    w{it} AS (
        SELECT x.i, sum(x.xq * sr{it}.sr) AS w
        FROM x JOIN sr{it} ON x.vec_id = sr{it}.vec_id GROUP BY 1
    ),
    m{it} AS (SELECT max(abs(w)) AS m FROM w{it}),
    v{it} AS (
        SELECT i, (CASE WHEN w < 0 THEN -1 ELSE 1 END)
                      * ((abs(w) * 4096) // m.m) AS v
        FROM w{it}, m{it} m
    )"""
        prev = f"v{it}"
    tail = f"""
    SELECT CAST(i AS INT) AS dim,
           CAST(v AS BIGINT) AS loading_fp,
           floor(CAST(v AS DOUBLE) / 4096 * 1e6 + 0.5) / 1e6 AS loading
    FROM v{_PCA_ITERS} ORDER BY dim
    """
    return head + body + tail


@query("l_pca_power_iteration", oracle=_pca_oracle_sql())
def l_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    xq = emb.select(
        "vec_id",
        F.expr(
            "transform(e, x -> CAST(floor(x * 4096.0D + 0.5D) AS BIGINT))"
        ).alias("xq"),
    )

    def matvec_frame(v: list) -> DataFrame:
        """One power-iteration round against the literal iterate v:
        returns the 64-row (pos, w) frame, fully distributed."""
        vcol = F.array(*[F.lit(int(x)) for x in v])
        s = (
            xq.withColumn("_v", vcol)
            .withColumn(
                "s",
                F.expr(
                    "aggregate(zip_with(xq, _v, (x, y) -> x * y),"
                    " CAST(0 AS BIGINT), (acc, t) -> acc + t)"
                ),
            )
            .withColumn(
                "sr",
                F.when(F.col("s") < 0, -1).otherwise(1)
                * F.expr("abs(s) DIV 4096L"),
            )
        )
        return (
            s.select("sr", F.posexplode("xq").alias("pos", "val"))
            .groupBy("pos")
            .agg(F.sum(F.col("val") * F.col("sr")).alias("w"))
        )

    v = _pca_v0()
    for _ in range(_PCA_ITERS - 1):
        rows = matvec_frame(v).collect()  # dim-sized vector only
        wvec = {int(r["pos"]): int(r["w"]) for r in rows}
        if not wvec:
            break  # empty corpus: every matvec is empty, output is too
        m = max(abs(x) for x in wvec.values())
        v = [
            (-1 if wvec[d] < 0 else 1) * ((abs(wvec[d]) * 4096) // m)
            for d in range(_EMB_DIM)
        ]

    final_w = matvec_frame(v)
    mrow = final_w.agg(F.max(F.abs(F.col("w"))).alias("m"))
    out = final_w.crossJoin(F.broadcast(mrow)).select(
        F.col("pos").cast("int").alias("dim"),
        (
            (F.when(F.col("w") < 0, -1).otherwise(1))
            * F.expr("(abs(w) * 4096L) DIV m")
        )
        .cast("long")
        .alias("loading_fp"),
    )
    return out.select(
        "dim",
        "loading_fp",
        (
            F.floor(F.col("loading_fp").cast("double") / 4096 * 1e6 + F.lit(0.5))
            / 1e6
        ).alias("loading"),
    ).orderBy("dim")


# ---------------------------------------------------------------------------
# l_index_shard_plan — ANN serving-capacity planner: place the trained
# IVF cells onto S index shards and report per-shard load and the
# imbalance factor (shard load ÷ ideal). Placement is round-robin by
# descending cell size (rank-1 mod S) — the deterministic one-pass
# approximation of greedy bin-packing, within 1/ideal of optimal when
# cell sizes are sub-shard-sized, and a pure function of the counts so
# the oracle replays it exactly (greedy packing needs a running
# argmin — not expressible without recursion, and the round-robin
# plan's imbalance is itself reported, so the approximation is
# auditable). The distributed work is the cell-size aggregate off the
# shared persisted IVF index; the plan is catalog-sized.
# ---------------------------------------------------------------------------
_SHARD_S = 4


def _shard_plan_oracle() -> str:
    return f"""
    WITH {_SEM_ORACLE_PREFIX},
    cells AS (
        SELECT vec_id, cell FROM (
            SELECT vec_id, cell,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY d, cell) AS rk
            FROM dfinal
        ) WHERE rk = 1
    ),
    sizes AS (SELECT cell, count(*) AS n FROM cells GROUP BY 1),
    placed AS (
        SELECT cell, n,
               CAST((row_number() OVER (ORDER BY n DESC, cell) - 1)
                    % {_SHARD_S} AS INT) AS shard
        FROM sizes
    ),
    loads AS (
        SELECT shard, count(*) AS n_cells, sum(n) AS n_vectors
        FROM placed GROUP BY 1
    ),
    tot AS (SELECT sum(n_vectors) AS t FROM loads)
    SELECT l.shard, CAST(l.n_cells AS BIGINT) AS n_cells,
           CAST(l.n_vectors AS BIGINT) AS n_vectors,
           floor(CAST(l.n_vectors AS DOUBLE) / t.t * 1e6 + 0.5) / 1e6
               AS load_share,
           floor(CAST(l.n_vectors AS DOUBLE) * {_SHARD_S} / t.t * 1e6 + 0.5)
               / 1e6 AS imbalance
    FROM loads l, tot t ORDER BY shard
    """


@query("l_index_shard_plan", oracle=_shard_plan_oracle())
def l_index_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    sizes = _ivf_cells(spark, sf_dir).groupBy("cell").agg(F.count(F.lit(1)).alias("n"))
    placed = sizes.select(
        "cell",
        "n",
        (
            (
                F.row_number().over(Window.orderBy(F.col("n").desc(), "cell"))
                - 1
            )
            % _SHARD_S
        )
        .cast("int")
        .alias("shard"),
    )
    loads = placed.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_cells"), F.sum("n").alias("n_vectors")
    )
    tot = loads.agg(F.sum("n_vectors").alias("t"))
    return (
        loads.crossJoin(F.broadcast(tot))
        .select(
            "shard",
            F.col("n_cells").cast("long").alias("n_cells"),
            F.col("n_vectors").cast("long").alias("n_vectors"),
            (
                F.floor(
                    F.col("n_vectors").cast("double") / F.col("t") * 1e6
                    + F.lit(0.5)
                )
                / 1e6
            ).alias("load_share"),
            (
                F.floor(
                    F.col("n_vectors").cast("double")
                    * _SHARD_S
                    / F.col("t")
                    * 1e6
                    + F.lit(0.5)
                )
                / 1e6
            ).alias("imbalance"),
        )
        .orderBy("shard")
    )


# ---------------------------------------------------------------------------
# l_matryoshka_recall — Matryoshka-truncation evaluation: how much
# top-5 retrieval quality survives when the 64-dim embeddings are
# truncated to their 16-dim prefix (the MRL serving trick — store the
# prefix, rerank with the tail only when needed). For 20 md5-chosen
# probes, rank the corpus by full-dim cosine and by prefix-dim cosine
# (both exact, ties broken by vec_id — total orders), and report
# per-probe overlap@5 plus the corpus mean. Probe-bounded exact form
# (the l5_cosine_topk shape ×2 rankings); at index scale the truncated
# ranking IS the ANN index's coarse stage, so this measures exactly
# what the 100 TB serving path would lose.
# ---------------------------------------------------------------------------
_MAT_PROBES = 20
_MAT_DIM = 16


@query(
    "l_matryoshka_recall",
    oracle=f"""
    WITH probes AS (
        SELECT vec_id AS probe_id, CAST(embedding AS DOUBLE[]) AS pe
        FROM embeddings
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {_MAT_PROBES}
    ),
    corpus AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ),
    scored AS (
        SELECT p.probe_id, c.vec_id,
               list_inner_product(p.pe, c.e)
               / (sqrt(list_inner_product(p.pe, p.pe))
                  * sqrt(list_inner_product(c.e, c.e))) AS cos_full,
               list_inner_product(p.pe[1:{_MAT_DIM}], c.e[1:{_MAT_DIM}])
               / (sqrt(list_inner_product(p.pe[1:{_MAT_DIM}],
                                          p.pe[1:{_MAT_DIM}]))
                  * sqrt(list_inner_product(c.e[1:{_MAT_DIM}],
                                            c.e[1:{_MAT_DIM}]))) AS cos_trunc
        FROM probes p, corpus c
        WHERE p.probe_id <> c.vec_id
    ),
    rk AS (
        SELECT probe_id, vec_id,
               row_number() OVER (PARTITION BY probe_id
                                  ORDER BY cos_full DESC, vec_id) AS rf,
               row_number() OVER (PARTITION BY probe_id
                                  ORDER BY cos_trunc DESC, vec_id) AS rt
        FROM scored
    ),
    overlap AS (
        SELECT probe_id,
               count(CASE WHEN rf <= 5 AND rt <= 5 THEN 1 END) AS both5
        FROM rk GROUP BY probe_id
    )
    SELECT probe_id,
           CAST(both5 AS BIGINT) AS overlap_at_5,
           floor(CAST(both5 AS DOUBLE) / 5 * 1e6 + 0.5) / 1e6 AS recall_at_5,
           floor(CAST(sum(both5) OVER () AS DOUBLE)
                 / ({_MAT_PROBES} * 5) * 1e6 + 0.5) / 1e6 AS mean_recall
    FROM overlap ORDER BY probe_id
    """,
)
def l_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    probes = (
        emb.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(_MAT_PROBES)
        .select(F.col("vec_id").alias("probe_id"), F.col("e").alias("pe"))
    )
    scored = (
        emb.crossJoin(F.broadcast(probes))
        .where(F.col("probe_id") != F.col("vec_id"))
        .select(
            "probe_id",
            "vec_id",
            (
                _dot("pe", "e")
                / (F.sqrt(_dot("pe", "pe")) * F.sqrt(_dot("e", "e")))
            ).alias("cos_full"),
            F.expr(
                f"aggregate(zip_with(slice(pe, 1, {_MAT_DIM}),"
                f" slice(e, 1, {_MAT_DIM}), (x, y) -> x * y),"
                " CAST(0.0D AS DOUBLE), (acc, v) -> acc + v)"
                f" / (sqrt(aggregate(zip_with(slice(pe, 1, {_MAT_DIM}),"
                f" slice(pe, 1, {_MAT_DIM}), (x, y) -> x * y),"
                " CAST(0.0D AS DOUBLE), (acc, v) -> acc + v))"
                f" * sqrt(aggregate(zip_with(slice(e, 1, {_MAT_DIM}),"
                f" slice(e, 1, {_MAT_DIM}), (x, y) -> x * y),"
                " CAST(0.0D AS DOUBLE), (acc, v) -> acc + v)))"
            ).alias("cos_trunc"),
        )
    )
    rk = scored.select(
        "probe_id",
        "vec_id",
        F.row_number()
        .over(
            Window.partitionBy("probe_id").orderBy(
                F.desc("cos_full"), "vec_id"
            )
        )
        .alias("rf"),
        F.row_number()
        .over(
            Window.partitionBy("probe_id").orderBy(
                F.desc("cos_trunc"), "vec_id"
            )
        )
        .alias("rt"),
    )
    overlap = rk.groupBy("probe_id").agg(
        F.count(
            F.when((F.col("rf") <= 5) & (F.col("rt") <= 5), 1)
        ).alias("both5")
    )
    full = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return overlap.select(
        "probe_id",
        F.col("both5").cast("long").alias("overlap_at_5"),
        (F.floor(F.col("both5").cast("double") / 5 * 1e6 + F.lit(0.5)) / 1e6).alias(
            "recall_at_5"
        ),
        (
            F.floor(
                F.sum("both5").over(full).cast("double")
                / (_MAT_PROBES * 5)
                * 1e6
                + F.lit(0.5)
            )
            / 1e6
        ).alias("mean_recall"),
    ).orderBy("probe_id")


# ---------------------------------------------------------------------------
# ANN recall audits AS QUERIES — the two pytest recall gates
# (tests/test_rows_only.py::test_ivf_recall_vs_exact and
# ::test_ann_lsh_recall_vs_exact) made auditable data, the
# l_neardup_recall_audit pattern: ground truth is the exact
# brute-force top-5 (l5_cosine_topk, probe-bounded by contract), the
# prediction is the approximate index's top-5, and the output is the
# truth/predicted/found/missed accounting plus recall and the gate
# boolean — emitted UNCONDITIONALLY, so a recall regression flips a
# value the hash compare sees instead of silently passing rows-only.
# Both sides nest the already-registered oracles as subqueries; cost
# is probe × corpus, never corpus².
# ---------------------------------------------------------------------------
_IVF_RECALL_GATE = 0.8
_ANN_RECALL_GATE = 0.9


def _recall_audit_oracle(pred_name: str, gate: float) -> str:
    from dock_financial_data_pipelines_spark.registry import ORACLES

    return f"""
    WITH truth AS (
        SELECT query_id, neighbor_id FROM ({ORACLES["l5_cosine_topk"]})
    ),
    pred AS (
        SELECT query_id, neighbor_id FROM ({ORACLES[pred_name]})
    )
    SELECT (SELECT count(*) FROM truth) AS n_truth,
           (SELECT count(*) FROM pred) AS n_predicted,
           (SELECT count(*) FROM truth t
            WHERE EXISTS (SELECT 1 FROM pred p
                          WHERE p.query_id = t.query_id
                            AND p.neighbor_id = t.neighbor_id)) AS n_found,
           (SELECT count(*) FROM truth t
            WHERE NOT EXISTS (SELECT 1 FROM pred p
                              WHERE p.query_id = t.query_id
                                AND p.neighbor_id = t.neighbor_id))
               AS n_missed,
           floor((SELECT count(*) FROM truth t
                  WHERE EXISTS (SELECT 1 FROM pred p
                                WHERE p.query_id = t.query_id
                                  AND p.neighbor_id = t.neighbor_id)) * 1e6
                 / greatest((SELECT count(*) FROM truth), 1) + 0.5) / 1e6
               AS recall,
           (SELECT count(*) FROM truth t
            WHERE EXISTS (SELECT 1 FROM pred p
                          WHERE p.query_id = t.query_id
                            AND p.neighbor_id = t.neighbor_id)) * 1e6
               >= CAST({gate} * 1e6 AS BIGINT)
                  * greatest((SELECT count(*) FROM truth), 1)
               AS recall_ge_gate
    """


def _recall_audit(
    spark: SparkSession, sf_dir: str, pred_fn, gate: float
) -> DataFrame:
    truth = l5_cosine_topk(spark, sf_dir).select("query_id", "neighbor_id")
    pred = pred_fn(spark, sf_dir).select("query_id", "neighbor_id")
    n_truth = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    n_pred = pred.agg(F.count(F.lit(1)).alias("n_predicted"))
    found = truth.join(pred, ["query_id", "neighbor_id"], "left_semi").agg(
        F.count(F.lit(1)).alias("n_found")
    )
    missed = truth.join(pred, ["query_id", "neighbor_id"], "left_anti").agg(
        F.count(F.lit(1)).alias("n_missed")
    )
    return (
        n_truth.crossJoin(F.broadcast(n_pred))
        .crossJoin(F.broadcast(found))
        .crossJoin(F.broadcast(missed))
        .select(
            "n_truth",
            "n_predicted",
            "n_found",
            "n_missed",
            (
                F.floor(
                    F.col("n_found") * 1e6
                    / F.greatest(F.col("n_truth"), F.lit(1))
                    + F.lit(0.5)
                )
                / 1e6
            ).alias("recall"),
            (
                F.col("n_found") * 1000000
                >= F.lit(int(gate * 1e6))
                * F.greatest(F.col("n_truth"), F.lit(1))
            ).alias("recall_ge_gate"),
        )
    )


@query(
    "l_ivf_recall_audit",
    oracle=_recall_audit_oracle("l5_ivf_topk", _IVF_RECALL_GATE),
)
def l_ivf_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _recall_audit(spark, sf_dir, l5_ivf_topk, _IVF_RECALL_GATE)


@query(
    "l_ann_lsh_recall_audit",
    oracle=_recall_audit_oracle("l5_ann_lsh_topk", _ANN_RECALL_GATE),
)
def l_ann_lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _recall_audit(spark, sf_dir, l5_ann_lsh_topk, _ANN_RECALL_GATE)


# ---------------------------------------------------------------------------
# l_embedding_norm_outliers — embedding QA: per-label L2-norm profile
# with MAD-based outlier flags (a43's robust z-score recipe applied to
# the vector column) — the intake gate that catches broken encoders /
# zero vectors / scale drift before any ANN index is built. All
# statistics run on norms QUANTIZED to integers at 1e-6 (floor(
# norm·1e6 + 0.5)), so medians and MADs are exact order statistics
# with (value, vec_id) tiebreaks and the outlier predicate
# |nq − med|·10000 > 44478·mad is pure BIGINT — engine-exact, no libm
# in any comparison. One pass for norms, two rank windows per label
# (label-partitioned, shuffle on the label key), bounded output.
# ---------------------------------------------------------------------------
@query(
    "l_embedding_norm_outliers",
    oracle="""
    WITH nq AS (
        SELECT label, vec_id,
               CAST(floor(sqrt(list_inner_product(
                   CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))
                   * 1e6 + 0.5) AS BIGINT) AS q
        FROM embeddings
    ),
    med AS (
        SELECT label, q AS m FROM (
            SELECT label, q, vec_id,
                   row_number() OVER (PARTITION BY label
                                      ORDER BY q, vec_id) AS rn,
                   count(*) OVER (PARTITION BY label) AS n
            FROM nq
        ) WHERE rn = (n + 1) // 2
    ),
    dev AS (
        SELECT n.label, n.vec_id, n.q, m.m, abs(n.q - m.m) AS ad
        FROM nq n JOIN med m ON m.label = n.label
    ),
    mad AS (
        SELECT label, ad AS mad FROM (
            SELECT label, ad, vec_id,
                   row_number() OVER (PARTITION BY label
                                      ORDER BY ad, vec_id) AS rn,
                   count(*) OVER (PARTITION BY label) AS n
            FROM dev
        ) WHERE rn = (n + 1) // 2
    )
    SELECT d.label,
           count(*) AS n_vectors,
           floor(CAST(max(d.m) AS DOUBLE) / 1e6 * 1e6 + 0.5) / 1e6
               AS median_norm,
           floor(CAST(max(md.mad) AS DOUBLE) / 1e6 * 1e6 + 0.5) / 1e6
               AS mad_norm,
           CAST(sum(CASE WHEN d.ad * 10000 > 44478 * md.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM dev d JOIN mad md ON md.label = d.label
    GROUP BY d.label ORDER BY d.label
    """,
)
def l_embedding_norm_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings").select(
        "label",
        "vec_id",
        F.col("embedding").cast("array<double>").alias("e"),
    )
    nq = emb.select(
        "label",
        "vec_id",
        F.floor(F.sqrt(_dot("e", "e")) * 1e6 + F.lit(0.5))
        .cast("long")
        .alias("q"),
    )
    wl = Window.partitionBy("label")

    def order_stat(df, val_col, out_col):
        ranked = df.select(
            "label",
            F.col(val_col),
            F.row_number()
            .over(wl.orderBy(F.col(val_col), "vec_id"))
            .alias("rn"),
            F.count(F.lit(1)).over(wl).alias("n"),
        )
        return ranked.where(F.col("rn") == F.expr("(n + 1) div 2")).select(
            "label", F.col(val_col).alias(out_col)
        )

    med = order_stat(nq, "q", "m")
    dev = nq.join(med, "label").select(
        "label", "vec_id", "q", "m", F.abs(F.col("q") - F.col("m")).alias("ad")
    )
    mad = order_stat(dev, "ad", "mad")
    return (
        dev.join(mad, "label")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            (
                F.floor(F.max("m").cast("double") / 1e6 * 1e6 + F.lit(0.5))
                / 1e6
            ).alias("median_norm"),
            (
                F.floor(F.max("mad").cast("double") / 1e6 * 1e6 + F.lit(0.5))
                / 1e6
            ).alias("mad_norm"),
            F.sum(
                F.when(
                    F.col("ad") * 10000 > 44478 * F.col("mad"), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_outliers"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# l_embedding_centroid_drift — per-label centroid vs the global corpus
# centroid: n, centroid L2 norm, and cosine(label centroid, global
# centroid). The embedding-space drift monitor (a source/label whose
# centroid swings away from the corpus signals an encoder change or a
# content shift) and the sanity gate before centroid-seeded ANN. Per-
# dimension means come from DECIMAL component sums (exact, order-free);
# the final cosine crosses rows only through decimal-cast product sums
# over the 64 dims. One posexplode + two hash aggregates; the only
# "collected" object is the 64-row global centroid, broadcast-joined.
# ---------------------------------------------------------------------------
@query(
    "l_embedding_centroid_drift",
    oracle=f"""
    WITH comp AS (
        SELECT label,
               unnest(CAST(embedding AS DOUBLE[])) AS x,
               unnest(range({_EMB_DIM})) AS i
        FROM embeddings
    ),
    lab AS (
        SELECT label, i,
               CAST(sum(CAST(x AS DECIMAL(27,9))) AS DOUBLE) / count(*) AS c,
               count(*) AS n
        FROM comp GROUP BY 1, 2
    ),
    gcent AS (
        SELECT i, CAST(sum(CAST(x AS DECIMAL(27,9))) AS DOUBLE) / count(*)
                   AS g
        FROM comp GROUP BY 1
    ),
    dots AS (
        SELECT l.label, max(l.n) AS n,
               CAST(sum(CAST(l.c * g.g AS DECIMAL(27,18))) AS DOUBLE) AS cg,
               CAST(sum(CAST(l.c * l.c AS DECIMAL(27,18))) AS DOUBLE) AS cc,
               CAST(sum(CAST(g.g * g.g AS DECIMAL(27,18))) AS DOUBLE) AS gg
        FROM lab l JOIN gcent g ON l.i = g.i
        GROUP BY 1
    )
    SELECT label,
           CAST(n AS BIGINT) AS n_vectors,
           floor(sqrt(cc) * 1e6 + 0.5) / 1e6 AS centroid_norm,
           floor(cg / (sqrt(cc) * sqrt(gg)) * 1e6 + 0.5) / 1e6
               AS cos_to_global
    FROM dots ORDER BY label
    """,
)
def l_embedding_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    comp = load(spark, sf_dir, "embeddings").select(
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "i", "x"
        ),
    )
    lab = comp.groupBy("label", "i").agg(
        (
            F.sum(F.col("x").cast("decimal(27,9)")).cast("double")
            / F.count(F.lit(1))
        ).alias("c"),
        F.count(F.lit(1)).alias("n"),
    )
    glob = comp.groupBy("i").agg(
        (
            F.sum(F.col("x").cast("decimal(27,9)")).cast("double")
            / F.count(F.lit(1))
        ).alias("g")
    )
    dots = (
        lab.join(F.broadcast(glob), "i")
        .groupBy("label")
        .agg(
            F.max("n").alias("n"),
            F.sum((F.col("c") * F.col("g")).cast("decimal(27,18)"))
            .cast("double")
            .alias("cg"),
            F.sum((F.col("c") * F.col("c")).cast("decimal(27,18)"))
            .cast("double")
            .alias("cc"),
            F.sum((F.col("g") * F.col("g")).cast("decimal(27,18)"))
            .cast("double")
            .alias("gg"),
        )
    )
    return dots.select(
        "label",
        F.col("n").cast("long").alias("n_vectors"),
        (F.floor(F.sqrt(F.col("cc")) * 1e6 + F.lit(0.5)) / 1e6).alias(
            "centroid_norm"
        ),
        (
            F.floor(
                F.col("cg")
                / (F.sqrt(F.col("cc")) * F.sqrt(F.col("gg")))
                * 1e6
                + F.lit(0.5)
            )
            / 1e6
        ).alias("cos_to_global"),
    ).orderBy("label")


# ---------------------------------------------------------------------------
# l_ann_nprobe_curve — the IVF tuning curve: recall@5 against the exact
# cosine top-5 for nProbe ∈ {1, 2, 4}, over the same trained coarse
# quantizer l5_ivf_topk serves from (shared memo_index — the persisted-
# index contract). This is the table an operator reads to pick the
# recall/cost point before a 100 TB ANN sweep; the whole curve reuses
# ONE probe-assignment pass (rank ≤ 4 kept, then filtered per nProbe),
# one bucketed candidate join per config via the nps fanout, and the
# probe-bounded exact ground truth (10 queries × corpus, never
# all-pairs). The oracle replays quantizer training bit-for-bit
# (integer k-means) like every IVF sibling.
# ---------------------------------------------------------------------------
def _nprobe_curve_oracle() -> str:
    return f"""
    WITH {_ivf_sql_prefix()},
    corpus AS (
        SELECT vec_id AS neighbor_id, cell FROM (
            SELECT vec_id, cell,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY d, cell) AS rk
            FROM dfinal
        ) WHERE rk <= {_IVF_ASSIGN}
    ),
    qp AS (
        SELECT vec_id AS query_id, cell, rk FROM (
            SELECT vec_id, cell,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY d, cell) AS rk
            FROM dfinal WHERE vec_id < 10
        ) WHERE rk <= 4
    ),
    nps AS (SELECT unnest([1, 2, 4]) AS np),
    probes AS (
        SELECT n.np, q.query_id, q.cell
        FROM qp q JOIN nps n ON q.rk <= n.np
    ),
    cand AS (
        SELECT DISTINCT p.np, p.query_id, c.neighbor_id
        FROM probes p JOIN corpus c ON p.cell = c.cell
        WHERE c.neighbor_id <> p.query_id
    ),
    v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    predp AS (
        SELECT np, query_id, neighbor_id FROM (
            SELECT cd.np, cd.query_id, cd.neighbor_id,
                   row_number() OVER (
                       PARTITION BY cd.np, cd.query_id
                       ORDER BY list_inner_product(q.e, n.e)
                                / (sqrt(list_inner_product(q.e, q.e))
                                   * sqrt(list_inner_product(n.e, n.e)))
                                DESC, cd.neighbor_id) AS pos
            FROM cand cd
            JOIN v q ON q.vec_id = cd.query_id
            JOIN v n ON n.vec_id = cd.neighbor_id
        ) WHERE pos <= 5
    ),
    truth AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY list_inner_product(q.e, n.e)
                                / (sqrt(list_inner_product(q.e, q.e))
                                   * sqrt(list_inner_product(n.e, n.e)))
                                DESC, n.vec_id) AS pos
            FROM v q JOIN v n ON n.vec_id <> q.vec_id
            WHERE q.vec_id < 10
        ) WHERE pos <= 5
    ),
    tt AS (
        SELECT count(*) AS n_truth,
               count(DISTINCT query_id) AS nq
        FROM truth
    ),
    hits AS (
        SELECT n.np, count(t.query_id) AS c
        FROM nps n
        LEFT JOIN predp p ON p.np = n.np
        LEFT JOIN truth t ON t.query_id = p.query_id
                         AND t.neighbor_id = p.neighbor_id
        GROUP BY 1
    )
    SELECT CAST(h.np AS INTEGER) AS nprobe,
           CAST(tt.nq AS BIGINT) AS n_queries,
           CAST(tt.n_truth AS BIGINT) AS n_truth,
           CAST(h.c AS BIGINT) AS n_hits,
           CASE WHEN tt.n_truth = 0 THEN NULL
                ELSE floor(CAST(h.c AS DOUBLE) / tt.n_truth * 1e6 + 0.5)
                     / 1e6 END AS recall_at_5
    FROM hits h CROSS JOIN tt
    ORDER BY nprobe
    """


@query("l_ann_nprobe_curve", oracle=_nprobe_curve_oracle())
def l_ann_nprobe_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb, centroids = _ivf_centroids(spark, sf_dir)
    q = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe")
    )
    qaj = (
        q.join(F.broadcast(centroids), how="cross")
        .withColumn("_vq", _ivf_quantize("qe"))
        .withColumn("_d", F.expr(_IVF_DIST.format(a="_vq", b="cq")))
    )
    wq = Window.partitionBy("query_id").orderBy(F.col("_d"), F.col("cell"))
    qp = (
        qaj.withColumn("prk", F.row_number().over(wq))
        .where(F.col("prk") <= 4)
        .select("query_id", "cell", "prk", "qe")
    )
    nps = local_frame(spark, [(1,), (2,), (4,)], "np INT")
    probes = qp.join(F.broadcast(nps), qp.prk <= nps.np).select(
        "np", "query_id", "cell"
    )
    corpus = _ivf_assign(
        emb.select(
            F.col("vec_id").alias("neighbor_id"), F.col("e").alias("ce")
        ),
        centroids,
        "ce",
        _IVF_ASSIGN,
    )
    # Norms factored out per VECTOR (sqrt(x·x) is the same double
    # wherever it is computed, and a/(nq*nc) groups identically to the
    # oracle's a/(sqrt(qq)*sqrt(cc)) — the l_semantic_dedup idiom), so
    # each candidate/truth row pays ONE interpreted higher-order dot
    # instead of three.
    cos = _dot("qe", "ce") / (F.col("nq") * F.col("nc"))
    wp = Window.partitionBy("np", "query_id").orderBy(
        F.col("cos_raw").desc(), F.col("neighbor_id")
    )
    qn = q.withColumn("nq", F.sqrt(_dot("qe", "qe")))
    nb = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("e").alias("ce"),
        F.sqrt(_dot("e", "e")).alias("nc"),
    )
    # The recall audit needs GROUND TRUTH, so the full query×corpus
    # cosine table exists in this query no matter what. r15: compute it
    # ONCE (it replaces the r14 truth checkpoint — same single action,
    # 3 int/double columns per pair) and let BOTH the truth ranking and
    # the candidate re-rank read it, instead of re-evaluating an
    # interpreted dot for every (np, candidate) row (guide §2.4: don't
    # compute things twice; the reused value is literally the same
    # double, so every ranking decision is unchanged). Candidate
    # generation and dedup stay on KEYS ONLY (r14, guide §2.3) — the
    # pair table attaches by the (query_id, neighbor_id) equi-join.
    # This reuse is audit-specific: a production IVF re-rank computes
    # candidate dots only; here the brute-force table is the query's
    # own contract.
    wt = Window.partitionBy("query_id").orderBy(
        F.col("cos_raw").desc(), F.col("neighbor_id")
    )
    pairs = (
        F.broadcast(qn)
        .join(nb, F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", cos.alias("cos_raw"))
        .localCheckpoint(eager=True)
    )
    predp = (
        probes.join(corpus.select("neighbor_id", "cell"), "cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("np", "query_id", "neighbor_id")
        .distinct()
        .join(pairs, ["query_id", "neighbor_id"])
        .withColumn("pos", F.row_number().over(wp))
        .where(F.col("pos") <= 5)
        .select("np", "query_id", "neighbor_id")
    )
    truth = (
        pairs.withColumn("pos", F.row_number().over(wt))
        .where(F.col("pos") <= 5)
        .select("query_id", "neighbor_id")
    )
    tt = truth.agg(
        F.count(F.lit(1)).alias("n_truth"),
        F.countDistinct("query_id").alias("nq"),
    )
    # outer-join back onto nps so an nProbe level with ZERO hits still
    # emits its c=0 row (the SQL LEFT JOIN counts 0 there; a semi-join
    # grouped directly would drop the level entirely).
    hit_rows = predp.join(truth, ["query_id", "neighbor_id"], "left_semi")
    hits = (
        F.broadcast(nps)
        .join(hit_rows.groupBy("np").agg(F.count(F.lit(1)).alias("_c")),
              "np", "left")
        .select("np", F.coalesce(F.col("_c"), F.lit(0)).alias("c"))
    )
    return (
        hits.crossJoin(F.broadcast(tt))
        .select(
            F.col("np").alias("nprobe"),
            F.col("nq").cast("long").alias("n_queries"),
            F.col("n_truth").cast("long").alias("n_truth"),
            F.col("c").cast("long").alias("n_hits"),
            # Recall of an empty truth set is undefined, not a crash.
            F.when(F.col("n_truth") == 0, F.lit(None).cast("double"))
            .otherwise(
                F.floor(
                    F.col("c").cast("double") / F.col("n_truth") * 1e6
                    + F.lit(0.5)
                )
                / 1e6
            )
            .alias("recall_at_5"),
        )
        .orderBy("nprobe")
    )


# ---------------------------------------------------------------------------
# l_pq_codebook — product quantization, the memory side of large-scale
# ANN that IVF (the routing side) doesn't cover: the 64-dim space is
# split into 4 subspaces of 16 dims, each trained with its own K=4
# integer-exact Lloyd codebook (md5-ordered seeding, the IVF idiom per
# subspace), and every vector is assigned its nearest code per
# subspace. The report shows per-(subspace, code) occupancy and total
# squared quantization error — the distortion/compression table read
# before choosing PQ bits at 100 TB. Training state is 4×4×16 integers;
# assignment is a broadcast join; every quantity is integer-exact so
# the oracle replays training bit-for-bit.
# ---------------------------------------------------------------------------
_PQ_SUB = 4       # subspaces
_PQ_SUBDIM = _EMB_DIM // _PQ_SUB
_PQ_K = 4         # codes per subspace
_PQ_ITERS = 2     # Lloyd passes


def _pq_sql() -> str:
    parts = [
        f"""
    veq AS (
        SELECT vec_id,
               CAST(floor((unnest(CAST(embedding AS DOUBLE[])) + 1.0)
                          * {float(_IVF_QSCALE)} + 0.5) AS BIGINT) AS xq,
               unnest(range({_EMB_DIM})) AS i
        FROM embeddings
    ),
    comp AS (
        SELECT vec_id, xq, i // {_PQ_SUBDIM} AS sub,
               i % {_PQ_SUBDIM} AS j
        FROM veq
    ),
    seeds AS (
        SELECT vec_id, CAST(rn - 1 AS INT) AS cell FROM (
            SELECT vec_id, row_number() OVER (
                ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
            FROM embeddings
        ) WHERE rn <= {_PQ_K}
    ),
    c0 AS (
        SELECT c.sub, s.cell, c.j, c.xq AS cq
        FROM seeds s JOIN comp c USING (vec_id)
    )"""
    ]
    for it in range(1, _PQ_ITERS + 1):
        parts.append(
            f""",
    d{it} AS (
        SELECT v.vec_id, v.sub, c.cell,
               sum((v.xq - c.cq) * (v.xq - c.cq)) AS d
        FROM comp v JOIN c{it - 1} c ON v.sub = c.sub AND v.j = c.j
        GROUP BY 1, 2, 3
    ),
    a{it} AS (
        SELECT vec_id, sub, cell FROM (
            SELECT vec_id, sub, cell,
                   row_number() OVER (PARTITION BY vec_id, sub
                                      ORDER BY d, cell) AS rk
            FROM d{it}
        ) WHERE rk = 1
    ),
    m{it} AS (
        SELECT a.sub, a.cell, v.j,
               CAST(sum(v.xq) // count(*) AS BIGINT) AS cq
        FROM a{it} a JOIN comp v ON v.vec_id = a.vec_id AND v.sub = a.sub
        GROUP BY 1, 2, 3
    ),
    c{it} AS (
        SELECT * FROM m{it}
        UNION ALL
        SELECT p.sub, p.cell, p.j, p.cq FROM c{it - 1} p
        WHERE NOT EXISTS (SELECT 1 FROM m{it} m
                          WHERE m.sub = p.sub AND m.cell = p.cell)
    )"""
        )
    parts.append(
        f""",
    dfin AS (
        SELECT v.vec_id, v.sub, c.cell,
               sum((v.xq - c.cq) * (v.xq - c.cq)) AS d
        FROM comp v JOIN c{_PQ_ITERS} c ON v.sub = c.sub AND v.j = c.j
        GROUP BY 1, 2, 3
    ),
    afin AS (
        SELECT vec_id, sub, cell, d FROM (
            SELECT vec_id, sub, cell, d,
                   row_number() OVER (PARTITION BY vec_id, sub
                                      ORDER BY d, cell) AS rk
            FROM dfin
        ) WHERE rk = 1
    )
    SELECT CAST(sub AS INTEGER) AS subspace,
           CAST(cell AS INTEGER) AS code,
           CAST(count(*) AS BIGINT) AS n_assigned,
           CAST(sum(d) AS BIGINT) AS total_sq_err
    FROM afin GROUP BY 1, 2 ORDER BY 1, 2"""
    )
    return "WITH" + "".join(parts)


@query("l_pq_codebook", oracle=_pq_sql())
def l_pq_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    comp = emb.select(
        "vec_id",
        F.posexplode(
            F.transform(
                F.col("e"),
                lambda x: F.floor((x + 1.0) * float(_IVF_QSCALE) + 0.5).cast(
                    "long"
                ),
            )
        ).alias("i", "xq"),
    ).select(
        "vec_id",
        "xq",
        (F.col("i") / _PQ_SUBDIM).cast("int").alias("sub"),
        (F.col("i") % _PQ_SUBDIM).alias("j"),
    )

    def build():
        seed_rows = (
            emb.select("vec_id")
            .orderBy(F.md5(F.col("vec_id").cast("string")), F.col("vec_id"))
            .limit(_PQ_K)
            .collect()  # bounded: K rows
        )
        seeds = local_frame(spark, 
            [(int(r["vec_id"]), c) for c, r in enumerate(seed_rows)],
            "vec_id LONG, cell INT",
        )
        cents = (
            comp.join(F.broadcast(seeds), "vec_id")
            .select("sub", "cell", "j", F.col("xq").alias("cq"))
            .localCheckpoint(eager=True)
        )
        for _ in range(_PQ_ITERS):
            d = (
                comp.join(F.broadcast(cents), ["sub", "j"])
                .groupBy("vec_id", "sub", "cell")
                .agg(
                    F.sum(
                        (F.col("xq") - F.col("cq"))
                        * (F.col("xq") - F.col("cq"))
                    ).alias("d")
                )
            )
            # argmin as an AGGREGATE, not a row_number window (r15):
            # min over struct(d, cell) is the same (d, cell)-lexicographic
            # tie-break as ORDER BY d, cell / rk=1, but hash-aggregates
            # with map-side partials instead of Exchange+Sort+Window —
            # the K candidate rows per (vec_id, sub) collapse before the
            # shuffle (guide §2.3 "aggregate before you shuffle").
            a = (
                d.groupBy("vec_id", "sub")
                .agg(F.min(F.struct("d", "cell")).alias("m"))
                .select("vec_id", "sub", F.col("m.cell").alias("cell"))
            )
            m = (
                a.join(comp, ["vec_id", "sub"])
                .groupBy("sub", "cell", "j")
                .agg(
                    F.expr("CAST(sum(xq) DIV count(xq) AS BIGINT)").alias(
                        "cq"
                    )
                )
            )
            carry = cents.join(
                m.select("sub", "cell").distinct(), ["sub", "cell"], "left_anti"
            )
            cents = m.unionByName(carry).localCheckpoint(eager=True)
        return cents

    cents = memo_index(spark, f"pq_codebook:{sf_tag(sf_dir)}", build)
    dfin = (
        comp.join(F.broadcast(cents), ["sub", "j"])
        .groupBy("vec_id", "sub", "cell")
        .agg(
            F.sum(
                (F.col("xq") - F.col("cq")) * (F.col("xq") - F.col("cq"))
            ).alias("d")
        )
    )
    # Same argmin-as-aggregate shape as the Lloyd iterations above.
    afin = (
        dfin.groupBy("vec_id", "sub")
        .agg(F.min(F.struct("d", "cell")).alias("m"))
        .select(
            "vec_id",
            "sub",
            F.col("m.cell").alias("cell"),
            F.col("m.d").alias("d"),
        )
    )
    return (
        afin.groupBy(
            F.col("sub").cast("int").alias("subspace"),
            F.col("cell").cast("int").alias("code"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_assigned"),
            F.sum("d").cast("long").alias("total_sq_err"),
        )
        .orderBy("subspace", "code")
    )
