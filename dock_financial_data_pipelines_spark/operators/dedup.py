"""Deduplication operators (SURVEY.md §2-B U3/U4, L3/L4 + the driver's
dedup mandate: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup).

Scale design:
- Exact dedup = hash-groupBy: one shuffle on the content hash; at 100 TB
  shuffle only (hash, doc_id), never the text.
- MinHash+LSH: shingle → k minhashes (one explode + k min-aggregates in a
  single hash-aggregate pass) → band signatures → bucket-join. Candidate
  pairs are verified with exact Jaccard. Cost is O(corpus) + O(pairs per
  bucket), never O(n²).
- SimHash: 64-bit signature via bit-majority of token hashes — one
  explode + 64 conditional sums; near-dups = signatures at small Hamming
  distance, bucketed by 16-bit chunks (pigeonhole: ≤3 differing bits →
  at least one identical chunk).
- Hashing: the MinHash and SimHash signature hashes are the top 60 bits
  of md5 (bit-identical across engines, fits a signed BIGINT in both),
  so the full signature → band → candidate → exact-verify pipelines are
  SQL-oracled end to end: the candidate sets are deterministic given the
  hash family, and the final filter (exact Jaccard / exact Hamming) is
  engine-portable integer/rational arithmetic. "Probabilistic" for
  MinHash-LSH refers to RECALL versus the all-pairs ground truth (which
  l4_ngram_jaccard_pairs oracles separately, and the pytest recall gate
  measures); the output itself is a pure function of the input.
"""

from __future__ import annotations

from fractions import Fraction
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dock_financial_data_pipelines_spark.catalog import (
    load,
    local_frame,
    memo_index,
    sf_tag,
)
from dock_financial_data_pipelines_spark.hashing import h60_sql
from dock_financial_data_pipelines_spark.registry import ORACLES, query
from dock_financial_data_pipelines_spark.session import release_local_checkpoint
from dock_financial_data_pipelines_spark.shingles import (
    tokens,
    tokens_sql,
    word_shingles,
)


def _pairs2(c):
    """Exact C(n,2) in pure int64: shiftright(c*(c-1), 1).

    The product of two consecutive non-negative integers is even, so a
    right shift IS the exact halving — no double division (which the
    oracles' integer `//` would drift from once c*(c-1) exceeds 2^53,
    i.e. a degenerate bucket beyond ~9.5e7 rows at 100 TB scale).
    Exact for all c up to ~3e9 (int64 product bound)."""
    c = F.col(c) if isinstance(c, str) else c
    c = c.cast("long")
    return F.shiftright(c * (c - F.lit(1)), 1)

# ---------------------------------------------------------------------------
# L3 — exact dedup by content hash (md5 matches DuckDB's md5)
# ---------------------------------------------------------------------------


@query(
    "l3_exact_dedup_summary",
    oracle="""
    SELECT count(*) AS n_docs,
           count(DISTINCT md5(text)) AS n_unique,
           count(*) - count(DISTINCT md5(text)) AS n_dups
    FROM documents
    """,
)
def l3_exact_dedup_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "documents").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(F.md5("text")).alias("n_unique"),
        (F.count(F.lit(1)) - F.countDistinct(F.md5("text"))).alias("n_dups"),
    )


@query(
    "l3_exact_dedup_keep_first",
    oracle="""
    SELECT md5(text) AS content_hash,
           min(doc_id) AS kept_doc_id,
           count(*) AS n_copies
    FROM documents
    GROUP BY 1
    """,
)
def l3_exact_dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "documents")
        .groupBy(F.md5("text").alias("content_hash"))
        .agg(
            F.min("doc_id").alias("kept_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


# ---------------------------------------------------------------------------
# Prefix dedup (boilerplate detection): dedup key = first 8 tokens.
# Groups real near-boilerplate docs even when full texts are unique.
# ---------------------------------------------------------------------------
@query(
    "l3_prefix_dedup",
    oracle=f"""
    SELECT array_to_string({tokens_sql('duckdb')}[1:8], ' ') AS prefix,
           count(*) AS n_docs,
           min(doc_id) AS kept_doc_id
    FROM documents
    GROUP BY 1
    HAVING count(*) > 1
    """,
)
def l3_prefix_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "documents")
        .groupBy(
            F.array_join(F.slice(tokens(), 1, 8), " ").alias("prefix")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("kept_doc_id"),
        )
        .where(F.col("n_docs") > 1)
    )


# ---------------------------------------------------------------------------
# L4a — n-gram Jaccard similarity, exact (SQL-oracled ground truth for the
# LSH variant below). Probe set (doc_id < 50) × corpus keeps the pair
# count linear; at 100 TB exact all-pairs is replaced by LSH.
# ---------------------------------------------------------------------------
@query(
    "l4_ngram_jaccard_pairs",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, list_distinct({tokens_sql('duckdb')}) AS tokset
        FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           round(CAST(len(list_intersect(a.tokset, b.tokset)) AS DOUBLE)
               / len(list_distinct(a.tokset || b.tokset)), 6) AS jaccard
    FROM toks a JOIN toks b ON a.doc_id < b.doc_id
    WHERE a.doc_id < 50
      AND CAST(len(list_intersect(a.tokset, b.tokset)) AS DOUBLE)
          / len(list_distinct(a.tokset || b.tokset)) >= 0.8
    """,
)
def l4_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.array_distinct(tokens()).alias("tokset")
    )
    probe = docs.where(F.col("doc_id") < 50).select(
        F.col("doc_id").alias("doc_a"), F.col("tokset").alias("tokset_a")
    )
    cand = docs.select(
        F.col("doc_id").alias("doc_b"), F.col("tokset").alias("tokset_b")
    )
    jacc = F.size(F.array_intersect("tokset_a", "tokset_b")).cast("double") / F.size(
        F.array_union("tokset_a", "tokset_b")
    )
    return (
        F.broadcast(probe)
        .join(cand, F.col("doc_a") < F.col("doc_b"))
        .withColumn("jaccard_raw", jacc)
        .where(F.col("jaccard_raw") >= 0.8)
        .select("doc_a", "doc_b", F.round("jaccard_raw", 6).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# L4b — MinHash + LSH near-dup candidates (the 100 TB path).
# k=12 hashes in 4 bands of 3; candidates verified with exact Jaccard.
# Probabilistic recall → rows-only check.
# ---------------------------------------------------------------------------
_MINHASH_K = 12
_BANDS = 4
_ROWS_PER_BAND = _MINHASH_K // _BANDS


def minhash_signatures(docs: DataFrame, shingle_width: int = 3) -> DataFrame:
    """doc_id → [k minhash values] over token shingles, one shuffle.

    Each of the k hash families is the top 60 bits of
    md5(shingle || '#' || family): md5 is bit-identical across engines
    and 60 bits fit a signed BIGINT in both Spark and DuckDB, so the
    signature table is exactly SQL-oracleable (the same idiom as the
    SimHash signatures below). Still one JVM-codegen hash per
    (shingle, family) and one shuffle on doc_id; no 64-bit multiply
    tricks, which ANSI mode — Spark 4's default — would reject on
    overflow."""
    shingled = word_shingles(docs, shingle_width, "doc_id")
    mins = [
        F.min(
            F.expr(h60_sql(f"concat(shingle, '#', '{i}')", "spark"))
        ).alias(f"mh{i}")
        for i in range(_MINHASH_K)
    ]
    return shingled.groupBy("doc_id").agg(*mins)


def lsh_candidate_pairs(sigs: DataFrame) -> DataFrame:
    """Band the signatures and self-join buckets → candidate pairs.

    The caller must hand in a *materialized* sigs frame (cached or
    written out): this plan references it on both sides of the join, and
    at scale the signatures table is persisted once and reused, never
    recomputed per band."""
    stack_args = []
    for b in range(_BANDS):
        cols = [f"mh{b * _ROWS_PER_BAND + r}" for r in range(_ROWS_PER_BAND)]
        sig = " , ".join(f"CAST({c} AS STRING)" for c in cols)
        stack_args.append(f"{b}, concat_ws('_', {sig})")
    # One projection explodes every signature row into its 4 band keys —
    # a single pass over sigs instead of a 4-way union re-scan.
    banded = sigs.selectExpr(
        "doc_id",
        f"stack({_BANDS}, {', '.join(stack_args)}) AS (band, sig)",
    )
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.sig") == F.col("r.sig"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b")
        )
        .distinct()
    )


# DuckDB twin of shingles.word_shingles(docs, 3, "doc_id"): window i in
# range(greatest(len-3,0)+1) is ws[i+1 : i+3] (1-based, truncated at the
# list end), so every (doc_id, shingle) row matches the engine's.
_MH_SHINGLES_SQL = f"""
    toks AS (
        SELECT doc_id, {tokens_sql('duckdb')} AS ws FROM documents
    ),
    idx AS (
        SELECT doc_id, ws,
               unnest(range(greatest(len(ws) - 3, 0) + 1)) AS i
        FROM toks
    ),
    shingles AS (
        SELECT doc_id, array_to_string(ws[i + 1 : i + 3], ' ') AS shingle
        FROM idx
    )
"""

_MH_SIG_COLS = ",\n           ".join(
    "min(" + h60_sql(f"shingle || '#{i}'", "duckdb") + f") AS mh{i}"
    for i in range(_MINHASH_K)
)


def _mh_bands_sql(src: str) -> str:
    """DuckDB twin of minhash_signatures + _banded_sigs over the
    (doc_id, shingle) relation ``src``: per-family minima (mh) and the
    band signatures built from them (bands)."""
    return f"""
    mh AS (
        SELECT doc_id, f,
               min({h60_sql("shingle || '#' || CAST(f AS VARCHAR)", "duckdb")})
                   AS v
        FROM {src} CROSS JOIN (SELECT unnest(range({_MINHASH_K})) AS f)
        GROUP BY 1, 2
    ),
    bands AS (
        SELECT doc_id, CAST(f // {_ROWS_PER_BAND} AS INT) AS band,
               string_agg(CAST(v AS VARCHAR), '_' ORDER BY f) AS sig
        FROM mh GROUP BY 1, 2
    )"""


_MH_BANDS_SQL = _mh_bands_sql("shingles")


@query(
    "l4_minhash_signatures",
    # Direct hash check of the signature table itself: k independent
    # md5-top-60-bit families, min-aggregated per doc.
    oracle=f"""
    WITH {_MH_SHINGLES_SQL}
    SELECT doc_id,
           {_MH_SIG_COLS}
    FROM shingles GROUP BY doc_id
    """,
)
def l4_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_signatures(load(spark, sf_dir, "documents"))


@query(
    "l4_minhash_lsh_neardup",
    # Full algorithm-twin oracle (round-5 upgrade from rows-only): the
    # candidate set is a pure function of the md5-based hash family
    # (signatures → 4 bands of 3 → bucket equi-join), and the final
    # filter is exact Jaccard — so the whole pipeline is deterministic
    # and hash-checkable. "Probabilistic" refers only to recall vs the
    # all-pairs ground truth, which the pytest recall gate
    # (tests/test_dedup_recall.py) measures separately against
    # l4_ngram_jaccard_pairs' exact form.
    oracle=f"""
    WITH {_MH_SHINGLES_SQL},
    {_MH_BANDS_SQL},
    cand AS (
        SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
        FROM bands l JOIN bands r
          ON l.band = r.band AND l.sig = r.sig AND l.doc_id < r.doc_id
    ),
    tsets AS (
        SELECT doc_id, list_distinct({tokens_sql('duckdb')}) AS tokset
        FROM documents
    )
    SELECT c.doc_a, c.doc_b,
           round(CAST(len(list_intersect(a.tokset, b.tokset)) AS DOUBLE)
               / len(list_distinct(a.tokset || b.tokset)), 6) AS jaccard
    FROM cand c
    JOIN tsets a ON c.doc_a = a.doc_id
    JOIN tsets b ON c.doc_b = b.doc_id
    WHERE CAST(len(list_intersect(a.tokset, b.tokset)) AS DOUBLE)
          / len(list_distinct(a.tokset || b.tokset)) >= 0.5
    """,
)
def l4_minhash_lsh_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    # Materialize signatures once per session (memo_index): the LSH
    # self-join reads them from both sides (at 100 TB this is a
    # persisted signatures table, computed in one shuffle over the
    # corpus, not recomputed per band). A per-call .cache() would pin a
    # fresh copy of the same signatures every invocation.
    sigs = memo_index(
        spark,
        f"l4_minhash_sigs:{sf_tag(sf_dir)}",
        lambda: minhash_signatures(docs).localCheckpoint(eager=True),
    )
    pairs = lsh_candidate_pairs(sigs)
    toksets = docs.select("doc_id", F.array_distinct(tokens()).alias("tokset"))
    jacc = F.size(F.array_intersect("tokset_a", "tokset_b")).cast("double") / F.size(
        F.array_union("tokset_a", "tokset_b")
    )
    return (
        pairs.join(
            toksets.select(
                F.col("doc_id").alias("doc_a"), F.col("tokset").alias("tokset_a")
            ),
            "doc_a",
        )
        .join(
            toksets.select(
                F.col("doc_id").alias("doc_b"), F.col("tokset").alias("tokset_b")
            ),
            "doc_b",
        )
        .withColumn("jaccard_raw", jacc)
        .where(F.col("jaccard_raw") >= 0.5)
        .select("doc_a", "doc_b", F.round("jaccard_raw", 6).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# L4c — SimHash signatures: 60 conditional sums over exploded token
# hashes → bit-majority signature per doc. The token hash is the top 60
# bits of md5 (15 hex chars): md5 is bit-identical across engines, 60
# bits fit a signed BIGINT in both, and DuckDB parses '0x…' hex — so
# the entire signature construction is exactly SQL-oracled (round-4
# verdict ask #7), where the previous xxhash64 form was Spark-only and
# could carry only a rows-only check. The map-side cost profile is
# unchanged: one JVM-codegen hash per token, 60 conditional partial
# sums, one shuffle on doc_id.
# ---------------------------------------------------------------------------
_SIMHASH_BITS = 60


def simhash_signatures(docs: DataFrame) -> DataFrame:
    tok = docs.select("doc_id", F.explode(tokens()).alias("token")).withColumn(
        "h", F.expr(h60_sql("token", "spark"))
    )
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(
                -1
            )
        ).alias(f"b{b}")
        for b in range(_SIMHASH_BITS)
    ]
    agg = tok.groupBy("doc_id").agg(*bit_sums)
    sig = reduce(
        lambda acc, b: acc.bitwiseOR(
            F.when(F.col(f"b{b}") > 0, F.lit(1).cast("long") * (1 << b)).otherwise(0)
        ),
        range(1, _SIMHASH_BITS),  # 60-bit signature: always non-negative
        F.when(F.col("b0") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long")),
    )
    return agg.select("doc_id", sig.alias("simhash"))


# DuckDB twin of simhash_signatures' per-token hash and bit votes.
_SIMHASH_BITS_SQL = f"""
    tok AS (
        SELECT doc_id, {h60_sql("token", "duckdb")} AS h
        FROM (SELECT doc_id, unnest({tokens_sql('duckdb')}) AS token
              FROM documents)
    ),
    bits AS (
        SELECT doc_id, b,
               sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
        FROM tok CROSS JOIN (SELECT unnest(range({_SIMHASH_BITS})) AS b)
        GROUP BY 1, 2
    )"""


@query(
    "l4_simhash_signatures",
    oracle=f"""
    WITH {_SIMHASH_BITS_SQL}
    SELECT doc_id,
           CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)
                AS BIGINT) AS simhash
    FROM bits GROUP BY 1
    """,
)
def l4_simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_signatures(load(spark, sf_dir, "documents"))


@query(
    "l4_simhash_neardup",
    # The oracle is the BRUTE-FORCE form: every pair of signatures at
    # Hamming distance ≤ 3. Pigeonhole makes the engine's 4-chunk
    # bucketing exactly equivalent at this radius (≤3 differing bits
    # cannot touch all 4 chunks), so a green hash here proves both the
    # md5-simhash construction and that the bucketing loses no pair.
    oracle=f"""
    WITH {_SIMHASH_BITS_SQL},
    sigs AS (
        SELECT doc_id,
               CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b)
                             ELSE 0 END) AS BIGINT) AS simhash
        FROM bits GROUP BY 1
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
)
def l4_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs at Hamming distance ≤ 3 via 15-bit chunk bucketing
    over the 60-bit signature (4 chunks; pigeonhole guarantees 100%
    recall at this radius)."""
    # Materialize signatures once per session: the band self-join
    # references them on both sides (×4 chunks), and recomputing the
    # 60-bit aggregate per reference is the dominant cost. At 100 TB
    # this is the persisted signatures table, same as the MinHash path.
    sigs = memo_index(
        spark,
        f"l4_simhash_sigs:{sf_tag(sf_dir)}",
        lambda: simhash_signatures(
            load(spark, sf_dir, "documents")
        ).localCheckpoint(eager=True),
    )
    chunk_bits = _SIMHASH_BITS // 4
    chunks = []
    for c in range(4):
        chunks.append(
            sigs.select(
                "doc_id",
                "simhash",
                F.lit(c).alias("chunk"),
                F.shiftright(F.col("simhash"), c * chunk_bits)
                .bitwiseAND(F.lit((1 << chunk_bits) - 1))
                .alias("chunk_val"),
            )
        )
    banded = reduce(lambda a, b: a.unionByName(b), chunks)
    pairs = (
        banded.alias("l")
        .join(
            banded.alias("r"),
            (F.col("l.chunk") == F.col("r.chunk"))
            & (F.col("l.chunk_val") == F.col("r.chunk_val"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("doc_a"),
            F.col("r.doc_id").alias("doc_b"),
            F.col("l.simhash").alias("sig_a"),
            F.col("r.simhash").alias("sig_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        pairs.withColumn("hamming", hamming)
        .where(F.col("hamming") <= 3)
        .select("doc_a", "doc_b", "hamming")
    )


# ---------------------------------------------------------------------------
# Dedup clusters — connected components over the near-duplicate graph:
# every group of mutually-similar documents collapses to one canonical
# doc (min doc_id). Implemented as iterative min-label propagation, the
# Pregel-style formulation; at 100 TB the same loop runs with
# checkpointed intermediate labels and the large-star/small-star
# optimization — the per-iteration plan (join + min-aggregate) is
# unchanged. The oracle computes the same components with a recursive
# CTE, making this iterative algorithm exactly hash-checked.
# ---------------------------------------------------------------------------
_CC_THRESHOLD = 0.9
_CC_NODE_LIMIT = 300  # bound the exact all-pairs edge build (probe slice)


def connected_components(
    nodes: DataFrame, edges: DataFrame, max_iter: int = 1000
) -> DataFrame:
    """(node) × (src,dst) → (node, component=min reachable node id).

    Iterates until a fixpoint (no label changes). ``max_iter`` is a
    runaway bound only — hitting it without convergence raises rather
    than silently returning partial (wrong) components.
    """
    # Materialize the symmetric edge list once — every iteration joins
    # against it, and without this the (possibly expensive) upstream
    # edge construction re-executes per iteration.
    sym = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=True)
    labels = nodes.select("node", F.col("node").alias("component"))
    converged = False
    for _ in range(max_iter):
        neighbor_min = (
            labels.join(sym, labels.node == sym.src)
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min("component").alias("n_comp"))
        )
        new_labels = (
            labels.join(neighbor_min, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce("n_comp", F.col("component"))
                ).alias("component"),
            )
        )
        new_labels = new_labels.localCheckpoint(eager=True)  # cut lineage per iter
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .where(F.col("n.component") != F.col("o.component"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge within {max_iter} iterations"
        )
    return labels


@query(
    "l4_dedup_cluster_components",
    oracle=f"""
    WITH RECURSIVE toks AS (
        SELECT doc_id, list_distinct({tokens_sql('duckdb')}) AS t
        FROM documents WHERE doc_id < {_CC_NODE_LIMIT}
    ),
    edges AS (
        SELECT a.doc_id AS src, b.doc_id AS dst
        FROM toks a JOIN toks b ON a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
              / len(list_distinct(a.t || b.t)) >= {_CC_THRESHOLD}
    ),
    sym AS (SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges),
    walk(node, lbl) AS (
        SELECT doc_id, doc_id FROM toks
        UNION
        SELECT e.dst, w.lbl FROM walk w JOIN sym e ON e.src = w.node
    ),
    comp AS (SELECT node, min(lbl) AS component FROM walk GROUP BY node)
    SELECT component,
           count(*) AS cluster_size,
           min(node) AS canonical_doc
    FROM comp GROUP BY 1
    """,
)
def l4_dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (
        load(spark, sf_dir, "documents")
        .where(F.col("doc_id") < _CC_NODE_LIMIT)
        .select("doc_id", F.array_distinct(tokens()).alias("tokset"))
    )
    a = docs.select(F.col("doc_id").alias("src"), F.col("tokset").alias("ta"))
    b = docs.select(F.col("doc_id").alias("dst"), F.col("tokset").alias("tb"))
    jacc = F.size(F.array_intersect("ta", "tb")).cast("double") / F.size(
        F.array_union("ta", "tb")
    )
    edges = (
        F.broadcast(a)
        .join(b, F.col("src") < F.col("dst"))
        .where(jacc >= _CC_THRESHOLD)
        .select("src", "dst")
    )
    nodes = docs.select(F.col("doc_id").alias("node"))
    comps = connected_components(nodes, edges)
    return comps.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size"),
        F.min("node").alias("canonical_doc"),
    )


# ---------------------------------------------------------------------------
# L4d — embedding-cosine near-dup: probe slice × corpus with an exact
# cosine (same arithmetic on both sides → SQL oracle). The full-corpus
# version at scale goes through the LSH/IVF path in similarity.py.
# Threshold 0.4: the fixture vectors are near-orthogonal (p99 of the
# pair-cosine distribution is ~0.29, max ~0.5), so the conventional 0.9
# returned zero rows at every SF and the oracle compare was vacuous;
# 0.4 selects the genuinely most-similar tail (tens of pairs per SF).
# ---------------------------------------------------------------------------
@query(
    "l4_embedding_neardup",
    oracle="""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round(list_inner_product(a.e, b.e)
                 / (sqrt(list_inner_product(a.e, a.e))
                    * sqrt(list_inner_product(b.e, b.e))), 6) AS cosine
    FROM v a JOIN v b ON a.vec_id < b.vec_id
    WHERE a.vec_id < 100
      AND list_inner_product(a.e, b.e)
          / (sqrt(list_inner_product(a.e, a.e))
             * sqrt(list_inner_product(b.e, b.e))) >= 0.4
    """,
)
def l4_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    probe = emb.where(F.col("vec_id") < 100).select(
        F.col("vec_id").alias("vec_a"), F.col("e").alias("ea")
    )
    cand = emb.select(F.col("vec_id").alias("vec_b"), F.col("e").alias("eb"))
    dot = F.expr(
        "aggregate(zip_with(ea, eb, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    norm_a = F.sqrt(
        F.expr(
            "aggregate(zip_with(ea, ea, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        )
    )
    norm_b = F.sqrt(
        F.expr(
            "aggregate(zip_with(eb, eb, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        )
    )
    return (
        F.broadcast(probe)
        .join(cand, F.col("vec_a") < F.col("vec_b"))
        .withColumn("cos_raw", dot / (norm_a * norm_b))
        .where(F.col("cos_raw") >= 0.4)
        .select("vec_a", "vec_b", F.round("cos_raw", 6).alias("cosine"))
    )


# ---------------------------------------------------------------------------
# L4f — canonical selection: within each near-dup cluster keep the
# highest-quality member (longest text; ties → lowest doc_id) — the
# decision rule an LLM-data pipeline applies after clustering, rather
# than blindly keeping the lowest id. Reuses the CC component labels;
# the oracle recomputes them with the recursive CTE and applies the
# same argmax.
# ---------------------------------------------------------------------------
@query(
    "l4_dedup_keep_best",
    oracle=f"""
    WITH RECURSIVE toks AS (
        SELECT doc_id, list_distinct({tokens_sql('duckdb')}) AS t, length(text) AS len
        FROM documents WHERE doc_id < {_CC_NODE_LIMIT}
    ),
    edges AS (
        SELECT a.doc_id AS src, b.doc_id AS dst
        FROM toks a JOIN toks b ON a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
              / len(list_distinct(a.t || b.t)) >= {_CC_THRESHOLD}
    ),
    sym AS (SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges),
    walk(node, lbl) AS (
        SELECT doc_id, doc_id FROM toks
        UNION
        SELECT e.dst, w.lbl FROM walk w JOIN sym e ON e.src = w.node
    ),
    comp AS (SELECT node, min(lbl) AS component FROM walk GROUP BY node),
    ranked AS (
        SELECT c.component, c.node AS doc_id, t.len,
               row_number() OVER (
                   PARTITION BY c.component ORDER BY t.len DESC, c.node
               ) AS rk
        FROM comp c JOIN toks t ON t.doc_id = c.node
    )
    SELECT component, doc_id AS kept_doc, len AS kept_len,
           CAST((SELECT count(*) FROM comp c2 WHERE c2.component = ranked.component)
                AS BIGINT) AS cluster_size
    FROM ranked WHERE rk = 1
    """,
)
def l4_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = (
        load(spark, sf_dir, "documents")
        .where(F.col("doc_id") < _CC_NODE_LIMIT)
        .select(
            "doc_id",
            F.array_distinct(tokens()).alias("tokset"),
            F.length("text").alias("len"),
        )
    )
    a = docs.select(F.col("doc_id").alias("src"), F.col("tokset").alias("ta"))
    b = docs.select(F.col("doc_id").alias("dst"), F.col("tokset").alias("tb"))
    jacc = F.size(F.array_intersect("ta", "tb")).cast("double") / F.size(
        F.array_union("ta", "tb")
    )
    edges = (
        F.broadcast(a)
        .join(b, F.col("src") < F.col("dst"))
        .where(jacc >= _CC_THRESHOLD)
        .select("src", "dst")
    )
    comps = connected_components(
        docs.select(F.col("doc_id").alias("node")), edges
    )
    sized = comps.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    w = Window.partitionBy("component").orderBy(
        F.col("len").desc(), F.col("doc_id")
    )
    return (
        comps.join(docs.select(F.col("doc_id"), "len"),
                   comps.node == F.col("doc_id"))
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .join(sized, "component")
        .select(
            "component",
            F.col("doc_id").alias("kept_doc"),
            F.col("len").cast("bigint").alias("kept_len"),
            "cluster_size",
        )
    )


# ---------------------------------------------------------------------------
# L4g — semantic dedup over embedding clusters (the SemDeDup recipe,
# restated Spark-first; see Abbas et al. 2023, arXiv:2303.09540 —
# public method): coarse k-means cells partition the corpus, pairwise
# cosine runs ONLY within a cell, and of every duplicate pair the
# smaller vec_id survives (greedy min-id keep rule). Since round 5 the
# coarse k-means is integer-exact (similarity._ivf_quantize), so the
# cell assignment — training included — replays bit-for-bit in DuckDB
# and the query carries a FULL SQL oracle; the within-cell rule stays
# additionally pytest-proven against a brute-force recomputation, and
# "probabilistic" refers only to clustering quality, not determinism.
#
# Scale: the all-pairs step is confined to cells. K grows with the
# corpus (~sqrt(N)) so cell population stays bounded; the cell id is a
# shuffle key, the candidate join is an equi-join on cell, and the
# centroid training traffic is K×dim doubles per Lloyd pass. This is
# the published scaling story of semantic dedup at web scale.
# ---------------------------------------------------------------------------
_SEM_TAU = 0.4  # cosine threshold (non-degenerate on the fixture)


def _semantic_dedup_oracle() -> str:
    from dock_financial_data_pipelines_spark.operators.similarity import (
        _SEM_ORACLE_PREFIX,
    )

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
    v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    dropped AS (
        SELECT DISTINCT a.cell, b.vec_id AS drop_id
        FROM cells a JOIN cells b
          ON a.cell = b.cell AND a.vec_id < b.vec_id
        JOIN v va ON va.vec_id = a.vec_id
        JOIN v vb ON vb.vec_id = b.vec_id
        WHERE list_inner_product(va.e, vb.e)
              / (sqrt(list_inner_product(va.e, va.e))
                 * sqrt(list_inner_product(vb.e, vb.e))) >= {_SEM_TAU}
    )
    SELECT c.cell, count(*) AS n_vectors,
           CAST(sum(CASE WHEN d.drop_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dropped,
           CAST(sum(CASE WHEN d.drop_id IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept
    FROM cells c
    LEFT JOIN dropped d ON d.cell = c.cell AND d.drop_id = c.vec_id
    GROUP BY 1 ORDER BY 1
    """


def _cell_pairs(spark: SparkSession, normed: DataFrame) -> DataFrame:
    """Every within-cell pair of ``normed`` (cell, vec_id, e, nrm) once,
    as (cell, id_a, ea, na, id_b, eb, nb) with id_a < id_b.

    COMPUTE-skew fix (r15, guide §2.5): the pair join's only key is
    `cell`, and K is oracle-pinned at 8 — so the quadratic within-cell
    pair evaluation ran on at most 8 tasks no matter the cluster
    (measured at sf1: 8 cores = 32 cores, ~32 s either way; the
    partitions are tiny in BYTES, so AQE's skew split never fires —
    the skew is in compute). Block-split the pair space: the b side
    gets a deterministic bucket gb = pmod(xxhash64(id), G), the a
    side replicates G ways over a target-bucket column, and the join
    keys (cell, tb=gb) spread the same pair set over K·G tasks.
    Every (a, b) pair still meets exactly once (tb enumerates all
    buckets, gb is single-valued), so the result is bit-identical;
    the a-side ×G replication is the standard salting price and G is
    scale-adaptive (2 waves per core over K cells), never a local
    constant."""
    import math

    from dock_financial_data_pipelines_spark.operators.similarity import (
        _IVF_K,
    )

    g_blocks = max(
        1, math.ceil(2 * spark.sparkContext.defaultParallelism / _IVF_K)
    )
    n_parts = _IVF_K * g_blocks
    # The explicit repartition COUNT matters as much as the block keys:
    # the pair shuffle is tiny in bytes (vectors × K cells), so AQE
    # coalesces it to ~1 post-shuffle partition and one task computes
    # every pair regardless of key count — a user-specified partition
    # count opts this exchange out of coalescing while staying
    # scale-adaptive (derived from defaultParallelism).
    a = (
        normed.select(
            "cell",
            F.col("vec_id").alias("id_a"),
            F.col("e").alias("ea"),
            F.col("nrm").alias("na"),
        )
        .withColumn(
            "tb", F.explode(F.sequence(F.lit(0), F.lit(g_blocks - 1)))
        )
        .repartition(n_parts, "cell", "tb")
    )
    b = (
        normed.select(
            "cell",
            F.col("vec_id").alias("id_b"),
            F.col("e").alias("eb"),
            F.col("nrm").alias("nb"),
        )
        .withColumn(
            "gb", F.pmod(F.xxhash64("id_b"), F.lit(g_blocks)).cast("int")
        )
        .repartition(n_parts, "cell", "gb")
    )
    return (
        a.join(b, (a["cell"] == b["cell"]) & (F.col("tb") == F.col("gb")))
        .where(F.col("id_a") < F.col("id_b"))
        .select(a["cell"], "id_a", "ea", "na", "id_b", "eb", "nb")
    )


@query("l_semantic_dedup", oracle=_semantic_dedup_oracle())
def l_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dock_financial_data_pipelines_spark.operators.similarity import (
        _dot,
        _ivf_cells,
    )

    cells = _ivf_cells(spark, sf_dir)

    # Norms factored out per ROW (sqrt(x·x) is the same double wherever
    # it is computed, so the per-pair cosine is bit-identical to the
    # oracle's form — this just avoids 2 of the 3 dot products per pair).
    normed = cells.withColumn("nrm", F.sqrt(_dot("e", "e")))
    cos = _dot("ea", "eb") / (F.col("na") * F.col("nb"))
    dropped = (
        _cell_pairs(spark, normed)
        .withColumn("cos", cos)
        .where(F.col("cos") >= _SEM_TAU)
        .select("cell", F.col("id_b").alias("vec_id"))  # larger id drops
        .distinct()
    )
    return (
        cells.join(dropped.withColumn("_drop", F.lit(1)), ["cell", "vec_id"], "left")
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vectors"),
            F.sum(F.when(F.col("_drop") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_dropped"),
            F.sum(F.when(F.col("_drop").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_kept"),
        )
        .orderBy("cell")
    )


# ---------------------------------------------------------------------------
# Dedup survivorship report — one row per dedup method (exact md5,
# 8-token prefix, MinHash-LSH verified Jaccard ≥ 0.5, SimHash
# Hamming ≤ 3) with a unified accounting: n_pairs (duplicate pairs
# detected), n_docs_flagged (distinct docs in any pair), and
# n_docs_removed under the greedy keep-min rule (a doc is removed iff
# it is the larger id of some pair — for hash-group methods this
# equals Σ(group−1), the keep-first count). The side-by-side ablation
# a data team runs before choosing its dedup stack. Composes the
# already-oracled pipelines — the engine reuses the registered query
# functions, the oracle embeds their SQL twins as CTEs — so this
# report is itself fully hash-checked.
# ---------------------------------------------------------------------------
def _group_stats(docs: DataFrame, key, method: str) -> DataFrame:
    g = (
        docs.groupBy(key.alias("k"))
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > 1)
    )
    return g.agg(
        F.coalesce(F.sum(F.expr("n * (n - 1) DIV 2")), F.lit(0))
        .cast("long")
        .alias("n_pairs"),
        F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("n_docs_flagged"),
        F.coalesce(F.sum(F.col("n") - 1), F.lit(0))
        .cast("long")
        .alias("n_docs_removed"),
    ).select(F.lit(method).alias("method"), "*")


def _pair_stats(pairs: DataFrame, method: str) -> DataFrame:
    s1 = pairs.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.countDistinct("doc_b").cast("long").alias("n_docs_removed"),
    )
    s2 = (
        pairs.select(F.col("doc_a").alias("d"))
        .unionByName(pairs.select(F.col("doc_b").alias("d")))
        .distinct()
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs_flagged"))
    )
    return s1.crossJoin(F.broadcast(s2)).select(
        F.lit(method).alias("method"),
        "n_pairs",
        "n_docs_flagged",
        "n_docs_removed",
    )


@query(
    "l_dedup_survivorship_report",
    oracle=f"""
    WITH mh AS ({ORACLES["l4_minhash_lsh_neardup"]}),
    sh AS ({ORACLES["l4_simhash_neardup"]}),
    eg AS (SELECT count(*) AS n FROM documents GROUP BY md5(text)
           HAVING count(*) > 1),
    pg AS (SELECT count(*) AS n FROM documents
           GROUP BY array_to_string({tokens_sql('duckdb')}[1:8], ' ')
           HAVING count(*) > 1)
    SELECT 'exact_md5' AS method,
           CAST(coalesce(sum(n * (n - 1) // 2), 0) AS BIGINT) AS n_pairs,
           CAST(coalesce(sum(n), 0) AS BIGINT) AS n_docs_flagged,
           CAST(coalesce(sum(n - 1), 0) AS BIGINT) AS n_docs_removed
    FROM eg
    UNION ALL
    SELECT 'minhash_lsh',
           (SELECT count(*) FROM mh),
           (SELECT count(*) FROM (SELECT doc_a AS d FROM mh
                                  UNION SELECT doc_b FROM mh)),
           (SELECT count(DISTINCT doc_b) FROM mh)
    UNION ALL
    SELECT 'prefix8',
           CAST(coalesce(sum(n * (n - 1) // 2), 0) AS BIGINT),
           CAST(coalesce(sum(n), 0) AS BIGINT),
           CAST(coalesce(sum(n - 1), 0) AS BIGINT)
    FROM pg
    UNION ALL
    SELECT 'simhash_h3',
           (SELECT count(*) FROM sh),
           (SELECT count(*) FROM (SELECT doc_a AS d FROM sh
                                  UNION SELECT doc_b FROM sh)),
           (SELECT count(DISTINCT doc_b) FROM sh)
    ORDER BY 1
    """,
)
def l_dedup_survivorship_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    exact = _group_stats(docs, F.md5("text"), "exact_md5")
    prefix = _group_stats(
        docs, F.array_join(F.slice(tokens(), 1, 8), " "), "prefix8"
    )
    mh = _pair_stats(
        l4_minhash_lsh_neardup(spark, sf_dir).select("doc_a", "doc_b"),
        "minhash_lsh",
    )
    sh = _pair_stats(
        l4_simhash_neardup(spark, sf_dir).select("doc_a", "doc_b"),
        "simhash_h3",
    )
    return (
        exact.unionByName(mh).unionByName(prefix).unionByName(sh).orderBy("method")
    )


# ---------------------------------------------------------------------------
# Incremental corpus dedup — THE production dedup shape: an incoming
# batch (simulated as doc_id % 7 == 0, deterministic) is deduped
# AGAINST the existing corpus, never corpus-against-itself. Verdict per
# incoming doc: exact_dup (md5 matches a corpus doc), near_dup (shares
# a MinHash band bucket with a corpus doc AND exact Jaccard ≥ 0.5), or
# novel; match_doc_id = min matching corpus doc. At 100 TB the corpus
# side of both probes is the persisted hash/signature index (built
# once, equi-joined per batch) — the batch never rescans corpus text;
# only matched candidates fetch token sets for the Jaccard verify.
# Fully SQL-oracled: both probes are md5-deterministic.
# ---------------------------------------------------------------------------
_INC_MOD = 7


@query(
    "l_incremental_dedup",
    oracle=f"""
    WITH {_MH_SHINGLES_SQL},
    {_MH_BANDS_SQL},
    inc AS (SELECT * FROM documents WHERE doc_id % {_INC_MOD} = 0),
    corp AS (SELECT * FROM documents WHERE doc_id % {_INC_MOD} <> 0),
    exact AS (
        SELECT i.doc_id, min(c.doc_id) AS m
        FROM inc i JOIN corp c ON md5(i.text) = md5(c.text)
        GROUP BY 1
    ),
    cand AS (
        SELECT DISTINCT bi.doc_id AS doc_id, bc.doc_id AS cand_id
        FROM bands bi JOIN bands bc
          ON bi.band = bc.band AND bi.sig = bc.sig
         AND bi.doc_id % {_INC_MOD} = 0 AND bc.doc_id % {_INC_MOD} <> 0
    ),
    tsets AS (
        SELECT doc_id, list_distinct({tokens_sql('duckdb')}) AS tokset
        FROM documents
    ),
    near AS (
        SELECT cd.doc_id, min(cd.cand_id) AS m
        FROM cand cd
        JOIN tsets a ON a.doc_id = cd.doc_id
        JOIN tsets b ON b.doc_id = cd.cand_id
        WHERE CAST(len(list_intersect(a.tokset, b.tokset)) AS DOUBLE)
              / len(list_distinct(a.tokset || b.tokset)) >= 0.5
        GROUP BY 1
    )
    SELECT i.doc_id,
           CASE WHEN e.doc_id IS NOT NULL THEN 'exact_dup'
                WHEN n.doc_id IS NOT NULL THEN 'near_dup'
                ELSE 'novel' END AS verdict,
           CASE WHEN e.doc_id IS NOT NULL THEN e.m ELSE n.m END
               AS match_doc_id
    FROM inc i
    LEFT JOIN exact e ON e.doc_id = i.doc_id
    LEFT JOIN near n ON n.doc_id = i.doc_id
    """,
)
def l_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    is_inc = F.col("doc_id") % _INC_MOD == 0
    inc = docs.where(is_inc)
    corp = docs.where(~is_inc)
    exact = (
        inc.select("doc_id", F.md5("text").alias("h"))
        .join(
            corp.select(F.md5("text").alias("h"), F.col("doc_id").alias("c")),
            "h",
        )
        .groupBy("doc_id")
        .agg(F.min("c").alias("m_exact"))
    )
    # One signature build over the full table (the persisted-index
    # contract, shared with l4_minhash_lsh_neardup via memo_index).
    sigs = memo_index(
        spark,
        f"l4_minhash_sigs:{sf_tag(sf_dir)}",
        lambda: minhash_signatures(docs).localCheckpoint(eager=True),
    )
    banded = sigs.selectExpr(
        "doc_id",
        "stack(%d, %s) AS (band, sig)"
        % (
            _BANDS,
            ", ".join(
                "%d, concat_ws('_', %s)"
                % (
                    b,
                    ", ".join(
                        f"CAST(mh{b * _ROWS_PER_BAND + r} AS STRING)"
                        for r in range(_ROWS_PER_BAND)
                    ),
                )
                for b in range(_BANDS)
            ),
        ),
    )
    cand = (
        banded.where(F.col("doc_id") % _INC_MOD == 0)
        .alias("l")
        .join(
            banded.where(F.col("doc_id") % _INC_MOD != 0).alias("r"),
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.sig") == F.col("r.sig")),
        )
        .select(
            F.col("l.doc_id").alias("doc_id"),
            F.col("r.doc_id").alias("cand_id"),
        )
        .distinct()
    )
    tsets = docs.select("doc_id", F.array_distinct(tokens()).alias("tokset"))
    jacc = F.size(F.array_intersect("ta", "tb")).cast("double") / F.size(
        F.array_union("ta", "tb")
    )
    near = (
        cand.join(
            tsets.select(F.col("doc_id").alias("did"), F.col("tokset").alias("ta")),
            F.col("doc_id") == F.col("did"),
        )
        .join(
            tsets.select(
                F.col("doc_id").alias("cid"), F.col("tokset").alias("tb")
            ),
            F.col("cand_id") == F.col("cid"),
        )
        .where(jacc >= 0.5)
        .groupBy("doc_id")
        .agg(F.min("cand_id").alias("m_near"))
    )
    return (
        inc.select("doc_id")
        .join(exact, "doc_id", "left")
        .join(near, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("m_exact").isNotNull(), "exact_dup")
            .when(F.col("m_near").isNotNull(), "near_dup")
            .otherwise("novel")
            .alias("verdict"),
            F.when(F.col("m_exact").isNotNull(), F.col("m_exact"))
            .otherwise(F.col("m_near"))
            .alias("match_doc_id"),
        )
    )


# ---------------------------------------------------------------------------
# Dedup threshold sensitivity sweep — pair and doc counts at Jaccard
# thresholds 0.5/0.6/0.7/0.8 from ONE MinHash candidate generation:
# the ablation a data team runs to pick its near-dup cut-off before
# committing a 100 TB pass. Candidates and their exact Jaccards are
# computed once (the l4_minhash_lsh_neardup pipeline, ≥ 0.5 floor);
# the sweep is a 4-row threshold join over that bounded pair set —
# zero extra corpus work. Thresholding uses the ROUNDED jaccard on
# both engines so the comparison is on identical values.
# ---------------------------------------------------------------------------
_SWEEP_THRESHOLDS = (0.5, 0.6, 0.7, 0.8)


@query(
    "l_dedup_threshold_sweep",
    oracle=f"""
    WITH mh AS ({ORACLES["l4_minhash_lsh_neardup"]}),
    thr AS (SELECT unnest([{", ".join(str(t) for t in _SWEEP_THRESHOLDS)}])
            AS t),
    p AS (
        SELECT thr.t, count(*) AS n_pairs
        FROM thr JOIN mh ON mh.jaccard >= thr.t GROUP BY 1
    ),
    d AS (
        SELECT thr.t, count(DISTINCT u.doc) AS n_docs_flagged
        FROM thr JOIN (
            SELECT doc_a AS doc, jaccard FROM mh
            UNION ALL SELECT doc_b, jaccard FROM mh
        ) u ON u.jaccard >= thr.t
        GROUP BY 1
    )
    SELECT thr.t AS threshold,
           CAST(coalesce(p.n_pairs, 0) AS BIGINT) AS n_pairs,
           CAST(coalesce(d.n_docs_flagged, 0) AS BIGINT) AS n_docs_flagged
    FROM thr
    LEFT JOIN p ON p.t = thr.t
    LEFT JOIN d ON d.t = thr.t
    ORDER BY 1
    """,
)
def l_dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = l4_minhash_lsh_neardup(spark, sf_dir)
    thr = local_frame(spark, 
        [(t,) for t in _SWEEP_THRESHOLDS], "t double"
    )
    p = (
        F.broadcast(thr)
        .join(pairs, pairs.jaccard >= F.col("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )
    docs = pairs.select(F.col("doc_a").alias("doc"), "jaccard").unionByName(
        pairs.select(F.col("doc_b").alias("doc"), "jaccard")
    )
    d = (
        F.broadcast(thr)
        .join(docs, docs.jaccard >= F.col("t"))
        .groupBy("t")
        .agg(F.countDistinct("doc").alias("n_docs_flagged"))
    )
    return (
        thr.join(p, "t", "left")
        .join(d, "t", "left")
        .select(
            F.col("t").alias("threshold"),
            F.coalesce("n_pairs", F.lit(0)).cast("long").alias("n_pairs"),
            F.coalesce("n_docs_flagged", F.lit(0))
            .cast("long")
            .alias("n_docs_flagged"),
        )
        .orderBy("threshold")
    )


# ---------------------------------------------------------------------------
# Near-dup recall audit AS A QUERY — the pytest recall gate
# (tests/test_dedup_recall.py) made auditable data. Ground truth is
# exact all-pairs SHINGLE-set Jaccard ≥ 0.8 — the similarity space the
# 4×3 banding actually targets (banding threshold ≈ 0.63, so J ≥ 0.8
# pairs collide with probability ≥ 0.94 per pair) — and the prediction
# is the full MinHash-LSH pipeline output. Output: truth/predicted/
# found/missed counts and recall, PROBE-BOUNDED (doc_a < 200, the
# l5/l4 probe contract): the truth side is probe × corpus, never
# corpus² — an unbounded first cut cost 16 minutes in the sf0.1
# oracle. Recall over a fixed probe slice is an unbiased estimate of
# corpus recall; at 100 TB the probe set is a drawn sample.
# ---------------------------------------------------------------------------
_AUDIT_TRUTH_J = 0.8


@query(
    "l_neardup_recall_audit",
    oracle=f"""
    WITH {_MH_SHINGLES_SQL},
    ssets AS (
        SELECT doc_id, list_distinct(list(shingle)) AS ss
        FROM shingles GROUP BY doc_id
    ),
    truth AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM ssets a JOIN ssets b ON a.doc_id < b.doc_id
        WHERE a.doc_id < 200
          AND CAST(len(list_intersect(a.ss, b.ss)) AS DOUBLE)
              / len(list_distinct(a.ss || b.ss)) >= {_AUDIT_TRUTH_J}
    ),
    pred AS (
        SELECT doc_a, doc_b FROM ({ORACLES["l4_minhash_lsh_neardup"]})
    )
    SELECT (SELECT count(*) FROM truth) AS n_truth,
           (SELECT count(*) FROM pred WHERE doc_a < 200) AS n_predicted,
           (SELECT count(*) FROM truth t
            WHERE EXISTS (SELECT 1 FROM pred p
                          WHERE p.doc_a = t.doc_a
                            AND p.doc_b = t.doc_b)) AS n_found,
           (SELECT count(*) FROM truth t
            WHERE NOT EXISTS (SELECT 1 FROM pred p
                              WHERE p.doc_a = t.doc_a
                                AND p.doc_b = t.doc_b)) AS n_missed,
           floor((SELECT count(*) FROM truth t
                  WHERE EXISTS (SELECT 1 FROM pred p
                                WHERE p.doc_a = t.doc_a
                                  AND p.doc_b = t.doc_b)) * 1e6
                 / greatest((SELECT count(*) FROM truth), 1) + 0.5) / 1e6
               AS recall
    """,
)
def l_neardup_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    ssets = (
        docs.select("doc_id", tokens().alias("ws"))
        .select(
            "doc_id",
            F.array_distinct(
                F.expr(
                    "transform(sequence(0, greatest(size(ws) - 3, 0)),"
                    " i -> concat_ws(' ', slice(ws, i + 1, 3)))"
                )
            ).alias("ss"),
        )
    )
    jacc = F.size(F.array_intersect("sa", "sb")).cast("double") / F.size(
        F.array_union("sa", "sb")
    )
    truth = (
        F.broadcast(
            ssets.where(F.col("doc_id") < 200).select(
                F.col("doc_id").alias("doc_a"), F.col("ss").alias("sa")
            )
        )
        .join(
            ssets.select(F.col("doc_id").alias("doc_b"), F.col("ss").alias("sb")),
            F.col("doc_a") < F.col("doc_b"),
        )
        .where(jacc >= _AUDIT_TRUTH_J)
        .select("doc_a", "doc_b")
    )
    pred = (
        l4_minhash_lsh_neardup(spark, sf_dir)
        .where(F.col("doc_a") < 200)
        .select("doc_a", "doc_b")
    )
    n_truth = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    n_pred = pred.agg(F.count(F.lit(1)).alias("n_predicted"))
    found = truth.join(pred, ["doc_a", "doc_b"], "left_semi").agg(
        F.count(F.lit(1)).alias("n_found")
    )
    missed = truth.join(pred, ["doc_a", "doc_b"], "left_anti").agg(
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
        )
    )


# ---------------------------------------------------------------------------
# L4g — LSH band-bucket occupancy audit: the skew report for the banded
# candidate join. Bucket size b contributes b·(b−1)/2 candidate pairs,
# so one hot bucket is quadratic work on a single task — exactly what
# AQE skew-split has to absorb (tests/test_lsh_skew.py proves it does).
# Reports, per band: bucket-size histogram plus the pair contribution,
# the number a capacity planner reads before running the join at
# 100 TB. Reuses the persisted signature table; one stack + two tiny
# aggregates, no joins.
# ---------------------------------------------------------------------------
@query(
    "l4_band_occupancy_audit",
    oracle=f"""
    WITH {_MH_SHINGLES_SQL},
    {_MH_BANDS_SQL},
    buckets AS (
        SELECT band, sig, count(*) AS bucket_size
        FROM bands GROUP BY band, sig
    )
    SELECT band, bucket_size, count(*) AS n_buckets,
           CAST(sum(bucket_size * (bucket_size - 1) // 2) AS BIGINT)
               AS candidate_pairs
    FROM buckets GROUP BY band, bucket_size
    """,
)
def l4_band_occupancy_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    sigs = memo_index(
        spark,
        f"l4_minhash_sigs:{sf_tag(sf_dir)}",
        lambda: minhash_signatures(docs).localCheckpoint(eager=True),
    )
    stack_args = []
    for b in range(_BANDS):
        cols = [f"mh{b * _ROWS_PER_BAND + r}" for r in range(_ROWS_PER_BAND)]
        sig = " , ".join(f"CAST({c} AS STRING)" for c in cols)
        stack_args.append(f"{b}, concat_ws('_', {sig})")
    banded = sigs.selectExpr(
        "doc_id",
        f"stack({_BANDS}, {', '.join(stack_args)}) AS (band, sig)",
    )
    buckets = banded.groupBy("band", "sig").agg(
        F.count(F.lit(1)).alias("bucket_size")
    )
    return buckets.groupBy("band", "bucket_size").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum(_pairs2("bucket_size")).cast("long").alias("candidate_pairs"),
    )


# ---------------------------------------------------------------------------
# L4h — MinHash estimator calibration: for every LSH candidate pair,
# the signature-agreement estimate of Jaccard (matches/k) against the
# exact token-set Jaccard, bucketed into an absolute-error histogram.
# The report that justifies (k, bands, rows) parameter choices before
# scaling the near-dup pass to the full corpus. Candidates come from
# the same banded join as l4_minhash_lsh_neardup (never all-pairs);
# both estimate and truth are exact-rational arithmetic, so the oracle
# is hash-exact.
# ---------------------------------------------------------------------------
@query(
    "l4_minhash_estimate_error",
    oracle=f"""
    WITH {_MH_SHINGLES_SQL},
    {_MH_BANDS_SQL},
    cand AS (
        SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
        FROM bands l JOIN bands r
          ON l.band = r.band AND l.sig = r.sig AND l.doc_id < r.doc_id
    ),
    agree AS (
        SELECT c.doc_a, c.doc_b,
               CAST(sum(CASE WHEN a.v = b.v THEN 1 ELSE 0 END) AS DOUBLE)
                   / {_MINHASH_K} AS est
        FROM cand c
        JOIN mh a ON a.doc_id = c.doc_a
        JOIN mh b ON b.doc_id = c.doc_b AND b.f = a.f
        GROUP BY c.doc_a, c.doc_b
    ),
    tsets AS (
        SELECT doc_id, list_distinct({tokens_sql('duckdb')}) AS tokset
        FROM documents
    ),
    err AS (
        SELECT CAST(floor(abs(g.est -
                   CAST(len(list_intersect(a.tokset, b.tokset)) AS DOUBLE)
                   / len(list_distinct(a.tokset || b.tokset))) * 10)
                   AS INTEGER) AS err_decile
        FROM agree g
        JOIN tsets a ON g.doc_a = a.doc_id
        JOIN tsets b ON g.doc_b = b.doc_id
    )
    SELECT least(err_decile, 9) AS err_decile, count(*) AS n_pairs
    FROM err GROUP BY 1 ORDER BY 1
    """,
)
def l4_minhash_estimate_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    sigs = memo_index(
        spark,
        f"l4_minhash_sigs:{sf_tag(sf_dir)}",
        lambda: minhash_signatures(docs).localCheckpoint(eager=True),
    )
    cand = lsh_candidate_pairs(sigs)
    # signature agreement via one array-wise comparison per pair (the
    # long mh table stays in SQL only — engine-side it's k columns)
    sig_a = sigs.select(
        F.col("doc_id").alias("doc_a"),
        F.array(*[F.col(f"mh{i}") for i in range(_MINHASH_K)]).alias("va"),
    )
    sig_b = sigs.select(
        F.col("doc_id").alias("doc_b"),
        F.array(*[F.col(f"mh{i}") for i in range(_MINHASH_K)]).alias("vb"),
    )
    est = (
        F.expr(
            "aggregate(zip_with(va, vb, (x, y) ->"
            " CASE WHEN x = y THEN 1 ELSE 0 END),"
            " 0, (acc, v) -> acc + v)"
        ).cast("double")
        / _MINHASH_K
    )
    agree = (
        cand.join(sig_a, "doc_a").join(sig_b, "doc_b").select(
            "doc_a", "doc_b", est.alias("est")
        )
    )
    tsets = docs.select(
        "doc_id", F.array_distinct(tokens()).alias("tokset")
    )
    ta = tsets.select(
        F.col("doc_id").alias("doc_a"), F.col("tokset").alias("tokset_a")
    )
    tb = tsets.select(
        F.col("doc_id").alias("doc_b"), F.col("tokset").alias("tokset_b")
    )
    exact = F.size(F.array_intersect("tokset_a", "tokset_b")).cast(
        "double"
    ) / F.size(F.array_union("tokset_a", "tokset_b"))
    err = (
        agree.join(ta, "doc_a")
        .join(tb, "doc_b")
        .select(
            F.floor(F.abs(F.col("est") - exact) * 10)
            .cast("int")
            .alias("err_decile")
        )
    )
    return (
        err.select(F.least(F.col("err_decile"), F.lit(9)).alias("err_decile"))
        .groupBy("err_decile")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("err_decile")
    )


# ---------------------------------------------------------------------------
# l_containment_pairs — near-SUPERSET detection: exact shingle-set
# containment max(|A∩B|/|A|, |A∩B|/|B|) = |A∩B|/min(|A|,|B|) for every
# doc pair sharing a shingle. Jaccard misses a short doc pasted into a
# long one (union dominates); containment is the right statistic for
# quote/boilerplate/wrapper dedup. Candidates come from the corpus-wide
# equi-join on 3-token shingle hashes with a docfreq≤64 stopword-shingle
# cap — the cap bounds per-shingle fanout at 64²/2 pairs, the standard
# inverted-index guard, applied identically to numerator and denominator
# (containment is over the capped shingle universe, documented). All
# counts are exact integers; only the final ratio divides. Cites the
# reference's file-dedup obligation (REPORT:178-186 idempotent
# overwrite) restated as a content-level operator.
# ---------------------------------------------------------------------------
_CONT_CAP = 64
_CONT_MIN = 0.6


def _shingle_index(docs: DataFrame) -> DataFrame:
    """Distinct (doc_id, h) over each doc's 3-token word shingles.

    h is xxhash64, not the md5-60bit idiom (r15): h is INTERNAL — the
    consumers' outputs carry only ids and set cardinalities, which are
    hash-invariant modulo a ~n²/2^65 collision (the l_repetition_stats
    argument; the oracles keep md5 and the hash compare would catch a
    divergent collision). The md5 string path cost ~2x the whole index
    build."""
    return (
        word_shingles(docs, 3, "doc_id")
        .select("doc_id", F.expr("xxhash64(shingle)").alias("h"))
        .distinct()
    )


def _capped_index(docs: DataFrame) -> DataFrame:
    """The shingle index without shingles held by more than _CONT_CAP
    docs: the inverted-index fanout guard of the containment joins.

    (r14 probe note: the index's DISTINCT exchange subtree is identical
    under both consumers — the df count and the join's left side — so
    Spark's ReusedExchange evaluates the shingle explode + hash once; a
    checkpoint of the index before the join measured as a wash.)"""
    sh = _shingle_index(docs)
    freq = sh.groupBy("h").agg(F.count(F.lit(1)).alias("df")).where(
        F.col("df") <= _CONT_CAP
    )
    return sh.join(freq.select("h"), "h")


@query(
    "l_containment_pairs",
    oracle=f"""
    WITH {_MH_SHINGLES_SQL},
    sh AS (
        SELECT DISTINCT doc_id,
               {h60_sql("shingle", "duckdb")} AS h
        FROM shingles
    ),
    freq AS (
        SELECT h FROM sh GROUP BY h HAVING count(*) <= {_CONT_CAP}
    ),
    capped AS (SELECT sh.doc_id, sh.h FROM sh JOIN freq USING (h)),
    sizes AS (SELECT doc_id, count(*) AS sz FROM capped GROUP BY 1),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
        FROM capped a JOIN capped b
          ON a.h = b.h AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT i.doc_a, i.doc_b, i.n_common,
           sa.sz AS size_a, sb.sz AS size_b,
           floor(CAST(i.n_common AS DOUBLE) / least(sa.sz, sb.sz) * 1e6 + 0.5)
               / 1e6 AS containment
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE CAST(i.n_common AS DOUBLE) / least(sa.sz, sb.sz) >= {_CONT_MIN}
    ORDER BY doc_a, doc_b
    """,
)
def l_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    # capped materialized once — three consumers (sizes + both join
    # sides) would otherwise re-run the shingle hashing three times.
    capped = _capped_index(docs).localCheckpoint(eager=True)
    sizes = capped.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a = capped.alias("a")
    b = capped.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(
        F.col("doc_id").alias("doc_a"), F.col("sz").alias("size_a")
    )
    sb = sizes.select(
        F.col("doc_id").alias("doc_b"), F.col("sz").alias("size_b")
    )
    cont = F.col("n_common").cast("double") / F.least(
        F.col("size_a"), F.col("size_b")
    )
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .where(cont >= _CONT_MIN)
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            "size_a",
            "size_b",
            (F.floor(cont * 1e6 + F.lit(0.5)) / 1e6).alias("containment"),
        )
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# l_substring_span_pairs — shared-substring detection (the
# exact-substring dedup of Lee et al.'s "Deduplicating Training Data
# Makes Language Models Better", restated relationally): stride-1
# 8-token shingles with their positions, candidate pairs from the
# shingle-hash equi-join (docfreq≤16 cap — an 8-gram repeating across
# >16 docs is boilerplate, handled by the containment/minhash family),
# then maximal shared spans via gaps-and-islands on the match DIAGONAL
# (ia − ib): consecutive positions on one diagonal are one span of
# run+7 tokens. Reports pairs sharing a span ≥ 16 tokens — the "same
# paragraph pasted twice" detector that set-based Jaccard can't see.
# Everything is exact integers; no Python, no floats anywhere.
# ---------------------------------------------------------------------------
_SPAN_CAP = 16
_SPAN_MIN_TOKENS = 16


@query(
    "l_substring_span_pairs",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {tokens_sql('duckdb')} AS ws FROM documents
    ),
    idx AS (
        SELECT doc_id, ws,
               unnest(range(greatest(len(ws) - 8, 0) + 1)) AS i
        FROM toks
    ),
    pos_sh AS (
        SELECT doc_id, i,
               {h60_sql("array_to_string(ws[i + 1 : i + 8], ' ')", "duckdb")}
                   AS h
        FROM idx
    ),
    freq AS (
        SELECT h FROM (SELECT DISTINCT doc_id, h FROM pos_sh)
        GROUP BY h HAVING count(*) <= {_SPAN_CAP}
    ),
    capped AS (SELECT p.* FROM pos_sh p JOIN freq USING (h)),
    matches AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.i AS ia, a.i - b.i AS diag
        FROM capped a JOIN capped b
          ON a.h = b.h AND a.doc_id < b.doc_id
    ),
    isl AS (
        SELECT doc_a, doc_b, diag,
               ia - row_number() OVER (PARTITION BY doc_a, doc_b, diag
                                       ORDER BY ia) AS grp
        FROM matches
    ),
    runs AS (
        SELECT doc_a, doc_b, count(*) AS run
        FROM isl GROUP BY doc_a, doc_b, diag, grp
    )
    SELECT doc_a, doc_b,
           CAST(max(run) + 7 AS BIGINT) AS max_span_tokens,
           CAST(count(*) AS BIGINT) AS n_spans,
           CAST(sum(run) AS BIGINT) AS n_matched_shingles
    FROM runs GROUP BY doc_a, doc_b
    HAVING max(run) + 7 >= {_SPAN_MIN_TOKENS}
    ORDER BY doc_a, doc_b
    """,
)
def l_substring_span_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    pos_sh = word_shingles(docs, 8, "doc_id", pos="i").select(
        "doc_id",
        "i",
        # xxhash64, not md5-60bit: h is internal (see _shingle_index).
        F.expr("xxhash64(shingle)").alias("h"),
    )
    # Materialize the positional-shingle index ONCE: freq and both pair-
    # join sides consume pos_sh, and without this the shingle explode +
    # md5 hashing runs once per consumer — the r14 probe measured the
    # doubled hash pass as the dominant cost of this operator's eager
    # build. At 100 TB this is the persisted positional-shingle index
    # table, built in one corpus pass. capped itself stays LAZY: its
    # freq-join subtree is identical under both self-join aliases, so
    # Spark's ReusedExchange evaluates it once — a second checkpoint
    # measured strictly slower (materialization cost, no reuse gain).
    pos_sh = pos_sh.localCheckpoint(eager=True)
    freq = (
        pos_sh.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("df"))
        .where(F.col("df") <= _SPAN_CAP)
        .select("h")
    )
    capped = pos_sh.join(freq, "h")
    a = capped.alias("a")
    b = capped.alias("b")
    matches = a.join(
        b,
        (F.col("a.h") == F.col("b.h"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.col("a.i").alias("ia"),
        (F.col("a.i") - F.col("b.i")).alias("diag"),
    )
    isl = matches.select(
        "doc_a",
        "doc_b",
        (
            F.col("ia")
            - F.row_number().over(
                Window.partitionBy("doc_a", "doc_b", "diag").orderBy("ia")
            )
        ).alias("grp"),
        "diag",
    )
    runs = isl.groupBy("doc_a", "doc_b", "diag", "grp").agg(
        F.count(F.lit(1)).alias("run")
    )
    return (
        runs.groupBy("doc_a", "doc_b")
        .agg(
            (F.max("run") + 7).cast("long").alias("max_span_tokens"),
            F.count(F.lit(1)).cast("long").alias("n_spans"),
            F.sum("run").cast("long").alias("n_matched_shingles"),
        )
        .where(F.col("max_span_tokens") >= _SPAN_MIN_TOKENS)
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# l_url_canonical_dedup — URL-canonicalization dedup, the cheapest and
# highest-yield pass in any crawl pipeline (the same page fetched under
# scheme/www/query-string variants): lowercase, strip scheme and
# leading www., drop query/fragment, drop the trailing slash, then
# group. URLs are seeded deterministically into the fixture text (the
# l_url_domain_stats device) WITH tracking params and case noise so
# canonicalization has real work to do. All regexes are anchored or
# suffix-greedy, so Spark's replace-all and DuckDB's replace-first
# semantics coincide. One extract + one hash aggregate — map-side,
# payload never shuffles (only the canonical key, id and count do).
# ---------------------------------------------------------------------------
@query(
    "l_url_canonical_dedup",
    oracle=f"""
    WITH seeded AS (
        SELECT doc_id,
               'HTTPS://www.Site' || CAST(doc_id % 7 AS VARCHAR)
                   || '.example.org/item' || CAST(doc_id % 50 AS VARCHAR)
                   || CASE WHEN doc_id % 2 = 0
                           THEN '/?utm_source=' || CAST(doc_id AS VARCHAR)
                           ELSE '#frag' || CAST(doc_id AS VARCHAR) END
                   AS url
        FROM documents WHERE doc_id % 3 = 0
    ),
    canon AS (
        SELECT doc_id,
               regexp_replace(
                   regexp_replace(
                       regexp_replace(
                           regexp_replace(lower(url), '^https?://', ''),
                           '^www\\.', ''),
                       '[?#].*$', ''),
                   '/$', '') AS canonical_url
        FROM seeded
    )
    SELECT canonical_url,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS kept_doc
    FROM canon GROUP BY 1 HAVING count(*) > 1
    ORDER BY canonical_url
    """,
)
def l_url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    seeded = (
        load(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 3 == 0)
        .select(
            "doc_id",
            F.concat(
                F.lit("HTTPS://www.Site"),
                (F.col("doc_id") % 7).cast("string"),
                F.lit(".example.org/item"),
                (F.col("doc_id") % 50).cast("string"),
                F.when(
                    F.col("doc_id") % 2 == 0,
                    F.concat(
                        F.lit("/?utm_source="), F.col("doc_id").cast("string")
                    ),
                ).otherwise(
                    F.concat(F.lit("#frag"), F.col("doc_id").cast("string"))
                ),
            ).alias("url"),
        )
    )
    canon = seeded.select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(
                    F.regexp_replace(F.lower(F.col("url")), "^https?://", ""),
                    "^www\\.",
                    "",
                ),
                "[?#].*$",
                "",
            ),
            "/$",
            "",
        ).alias("canonical_url"),
    )
    return (
        canon.groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("doc_id").cast("long").alias("kept_doc"),
        )
        .where(F.col("n_docs") > 1)
        .orderBy("canonical_url")
    )


# ---------------------------------------------------------------------------
# l_dedup_funnel_e2e — the END-TO-END corpus cleaning pass as one
# declarative plan, with the funnel accounting a data-curation review
# actually signs off on: stage 1 exact-md5 dedup (keep min id), stage 2
# 8-token-prefix dedup on the survivors, stage 3 MinHash-LSH verified
# near-dup (Jaccard ≥ 0.5, greedy keep-min — reuses the memoized
# signature index; per-doc signatures are corpus-independent, so
# filtering the full-corpus pair set to survivor×survivor is exactly
# the survivors-only run), stage 4 minimum-length quality gate. Each
# row reports docs_in / docs_removed / docs_out, the numbers that
# decide whether a 100 TB pass is worth its shuffle budget. The oracle
# nests the registered LSH oracle as a CTE, so the whole funnel is
# hash-checked end to end.
# ---------------------------------------------------------------------------
_FUNNEL_MIN_TOKENS = 20


@query(
    "l_dedup_funnel_e2e",
    oracle=f"""
    WITH s1 AS (
        SELECT doc_id, text,
               min(doc_id) OVER (PARTITION BY md5(text)) AS k
        FROM documents
    ),
    d1 AS (SELECT doc_id, text FROM s1 WHERE doc_id = k),
    s2 AS (
        SELECT doc_id, text,
               min(doc_id) OVER (PARTITION BY array_to_string(
                   {tokens_sql('duckdb')}[1:8], ' ')) AS k
        FROM d1
    ),
    d2 AS (SELECT doc_id, text FROM s2 WHERE doc_id = k),
    mh AS ({{LSH}}),
    rm3 AS (
        SELECT DISTINCT doc_b AS doc_id FROM mh
        WHERE doc_a IN (SELECT doc_id FROM d2)
          AND doc_b IN (SELECT doc_id FROM d2)
    ),
    d3 AS (SELECT doc_id, text FROM d2
           WHERE doc_id NOT IN (SELECT doc_id FROM rm3)),
    d4 AS (SELECT doc_id FROM d3
           WHERE len({tokens_sql('duckdb')}) >= {_FUNNEL_MIN_TOKENS}),
    n0 AS (SELECT count(*) AS n FROM documents),
    n1 AS (SELECT count(*) AS n FROM d1),
    n2 AS (SELECT count(*) AS n FROM d2),
    n3 AS (SELECT count(*) AS n FROM d3),
    n4 AS (SELECT count(*) AS n FROM d4)
    SELECT * FROM (
        SELECT 1 AS stage, 'exact_md5' AS rule,
               (SELECT CAST(n AS BIGINT) FROM n0) AS docs_in,
               (SELECT CAST(n0.n - n1.n AS BIGINT) FROM n0, n1)
                   AS docs_removed,
               (SELECT CAST(n AS BIGINT) FROM n1) AS docs_out
        UNION ALL
        SELECT 2, 'prefix8',
               (SELECT CAST(n AS BIGINT) FROM n1),
               (SELECT CAST(n1.n - n2.n AS BIGINT) FROM n1, n2),
               (SELECT CAST(n AS BIGINT) FROM n2)
        UNION ALL
        SELECT 3, 'minhash_lsh_j05',
               (SELECT CAST(n AS BIGINT) FROM n2),
               (SELECT CAST(n2.n - n3.n AS BIGINT) FROM n2, n3),
               (SELECT CAST(n AS BIGINT) FROM n3)
        UNION ALL
        SELECT 4, 'min_tokens_{_FUNNEL_MIN_TOKENS}',
               (SELECT CAST(n AS BIGINT) FROM n3),
               (SELECT CAST(n3.n - n4.n AS BIGINT) FROM n3, n4),
               (SELECT CAST(n AS BIGINT) FROM n4)
    ) ORDER BY stage
    """.replace("{LSH}", ORACLES["l4_minhash_lsh_neardup"]),
)
def l_dedup_funnel_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    # r14 restructure: the funnel used to materialize five COUNT
    # branches (docs, d1, d2, d3, d4), each re-evaluating a strictly
    # longer prefix of the window/join chain — the whole chain ran ~3x
    # per report. Same set logic as boolean SURVIVAL FLAGS in one pass:
    # s1 (exact-md5 keep-min), s2 (prefix8 keep-min among s1 — the
    # min(when(s1, ...)) window over all docs is identical to the old
    # min window over d1 rows), rm3 (LSH-verified pair drops among s2),
    # then ONE aggregate emits every funnel count. The flag table is
    # checkpointed because rm3 and the final aggregate both read it.
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    flags = (
        docs.select(
            "doc_id",
            F.size(tokens()).alias("ntok"),
            F.md5("text").alias("_dg"),
            F.array_join(F.slice(tokens(), 1, 8), " ").alias("_p8"),
        )
        .withColumn(
            "s1",
            F.col("doc_id")
            == F.min("doc_id").over(Window.partitionBy("_dg")),
        )
        .withColumn(
            "s2",
            F.col("s1")
            & (
                F.col("doc_id")
                == F.min(F.when(F.col("s1"), F.col("doc_id"))).over(
                    Window.partitionBy("_p8")
                )
            ),
        )
        .select("doc_id", "ntok", "s1", "s2")
        .localCheckpoint(eager=True)
    )
    ids2 = flags.where("s2").select("doc_id")
    mh = l4_minhash_lsh_neardup(spark, sf_dir).select("doc_a", "doc_b")
    rm3 = (
        mh.join(ids2.withColumnRenamed("doc_id", "doc_a"), "doc_a", "leftsemi")
        .join(ids2.withColumnRenamed("doc_id", "doc_b"), "doc_b", "leftsemi")
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    s3 = F.col("s2") & F.col("_rm").isNull()
    agg = (
        flags.join(rm3.withColumn("_rm", F.lit(1)), "doc_id", "left")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n0"),
            # coalesce: SUM over an empty corpus is NULL, but the
            # funnel's counts are 0 there (the old COUNT branches were).
            F.coalesce(F.sum(F.col("s1").cast("long")), F.lit(0))
            .cast("long")
            .alias("n1"),
            F.coalesce(F.sum(F.col("s2").cast("long")), F.lit(0))
            .cast("long")
            .alias("n2"),
            F.coalesce(F.sum(s3.cast("long")), F.lit(0))
            .cast("long")
            .alias("n3"),
            F.coalesce(
                F.sum(
                    (s3 & (F.col("ntok") >= _FUNNEL_MIN_TOKENS)).cast("long")
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("n4"),
        )
        .first()
    )
    release_local_checkpoint(flags)
    stages = [
        (1, "exact_md5", "n0", "n1"),
        (2, "prefix8", "n1", "n2"),
        (3, "minhash_lsh_j05", "n2", "n3"),
        (4, f"min_tokens_{_FUNNEL_MIN_TOKENS}", "n3", "n4"),
    ]
    from dock_financial_data_pipelines_spark.catalog import local_frame

    return local_frame(
        spark,
        [
            (st, rule, int(agg[a]), int(agg[a]) - int(agg[b]), int(agg[b]))
            for st, rule, a, b in stages
        ],
        "stage int, rule string, docs_in long, docs_removed long, "
        "docs_out long",
    ).orderBy("stage")


# ---------------------------------------------------------------------------
# Semantic-dedup within-cell exactness audit AS A QUERY — the pytest
# gate (tests/test_dedup_recall.py::test_semantic_dedup_within_cell_
# exact) made auditable data. The operator's per-cell accounting
# (distinct-pair join + left join) is re-derived through an
# INDEPENDENT formulation — a per-vector EXISTS (greatest cosine to
# any smaller-id cell-mate ≥ τ) folded by a straight aggregate — and
# both sides are emitted with an UNCONDITIONAL `agree` boolean: if the
# two formulations ever diverge (keep-rule bug, distinct-collapse
# bug), the boolean flips and the hash compare fails loudly. Costs the
# same within-cell pair space as the operator itself.
# ---------------------------------------------------------------------------
def _semdedup_cell_audit_oracle() -> str:
    from dock_financial_data_pipelines_spark.operators.similarity import (
        _SEM_ORACLE_PREFIX,
    )

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
    v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    op_dropped AS (
        SELECT DISTINCT a.cell, b.vec_id AS drop_id
        FROM cells a JOIN cells b
          ON a.cell = b.cell AND a.vec_id < b.vec_id
        JOIN v va ON va.vec_id = a.vec_id
        JOIN v vb ON vb.vec_id = b.vec_id
        WHERE list_inner_product(va.e, vb.e)
              / (sqrt(list_inner_product(va.e, va.e))
                 * sqrt(list_inner_product(vb.e, vb.e))) >= {_SEM_TAU}
    ),
    op AS (
        SELECT c.cell, count(*) AS n_vectors,
               CAST(sum(CASE WHEN d.drop_id IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_dropped
        FROM cells c
        LEFT JOIN op_dropped d ON d.cell = c.cell AND d.drop_id = c.vec_id
        GROUP BY 1
    ),
    recount AS (
        SELECT c.cell,
               CAST(sum(CASE WHEN EXISTS (
                   SELECT 1 FROM cells a
                   JOIN v va ON va.vec_id = a.vec_id
                   JOIN v vb ON vb.vec_id = c.vec_id
                   WHERE a.cell = c.cell AND a.vec_id < c.vec_id
                     AND list_inner_product(va.e, vb.e)
                         / (sqrt(list_inner_product(va.e, va.e))
                            * sqrt(list_inner_product(vb.e, vb.e)))
                         >= {_SEM_TAU}
               ) THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped_recount
        FROM cells c GROUP BY 1
    )
    SELECT o.cell, o.n_vectors, o.n_dropped, r.n_dropped_recount,
           o.n_dropped = r.n_dropped_recount AS agree
    FROM op o JOIN recount r ON o.cell = r.cell
    ORDER BY o.cell
    """


@query("l_semdedup_cell_audit", oracle=_semdedup_cell_audit_oracle())
def l_semdedup_cell_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dock_financial_data_pipelines_spark.operators.similarity import (
        _dot,
        _ivf_cells,
    )

    cells = _ivf_cells(spark, sf_dir)

    # Operator-side accounting (the l_semantic_dedup formulation).
    op = l_semantic_dedup(spark, sf_dir).select(
        "cell", "n_vectors", "n_dropped"
    )

    # Independent recount: per-vector greatest-cosine-to-smaller-id
    # flag via aggregate — no DISTINCT, no left join.
    # Norms factored out per ROW (the l_semantic_dedup idiom: sqrt(x·x)
    # is the same double wherever computed, so every τ decision is
    # bit-identical) — one interpreted higher-order dot per pair, not 3.
    normed = cells.withColumn("nrm", F.sqrt(_dot("e", "e")))
    # Same block-split pair join as l_semantic_dedup (_cell_pairs).
    cos = _dot("ea", "eb") / (F.col("na") * F.col("nb"))
    flagged = (
        _cell_pairs(spark, normed)
        .withColumn("is_dup", (cos >= F.lit(_SEM_TAU)).cast("int"))
        .groupBy("cell", F.col("id_b"))
        .agg(F.max("is_dup").alias("dup"))
    )
    recount = (
        cells.join(
            flagged.select(
                "cell", F.col("id_b").alias("vec_id"), "dup"
            ),
            ["cell", "vec_id"],
            "left",
        )
        .groupBy("cell")
        .agg(
            F.sum(F.coalesce(F.col("dup"), F.lit(0)))
            .cast("long")
            .alias("n_dropped_recount")
        )
    )
    return (
        op.join(recount, "cell")
        .select(
            "cell",
            "n_vectors",
            "n_dropped",
            "n_dropped_recount",
            (F.col("n_dropped") == F.col("n_dropped_recount")).alias("agree"),
        )
        .orderBy("cell")
    )


# ---------------------------------------------------------------------------
# l_minhash_estimate_error_audit — estimator-quality audit for the
# MinHash family: for every LSH-verified near-dup pair, the Jaccard
# ESTIMATE read off the signatures (matching families / K — the
# quantity the banding theory reasons about) next to the exact
# 3-shingle-set Jaccard it estimates, the absolute error, and the
# pair-set mean error as a summary column. K=12 gives a loose ±1/12
# grid, so no pass/fail gate — the audit's value is that the driver
# hash-checks the estimator arithmetic itself round over round.
# Signature join is per-pair on doc_id (the pair set is the LSH
# output, already bounded); everything exact rationals floored 1e-6.
# ---------------------------------------------------------------------------
def _mh_est_error_oracle() -> str:
    mh_cols_a = " + ".join(
        f"CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END"
        for i in range(_MINHASH_K)
    )
    return f"""
    WITH pairs AS (
        SELECT doc_a, doc_b FROM ({ORACLES["l4_minhash_lsh_neardup"]})
    ),
    sigs AS ({ORACLES["l4_minhash_signatures"]}),
    {_MH_SHINGLES_SQL.strip()},
    ssets AS (
        SELECT doc_id, list_distinct(list(shingle)) AS ss
        FROM shingles GROUP BY doc_id
    ),
    est AS (
        SELECT p.doc_a, p.doc_b,
               ({mh_cols_a}) AS n_agree,
               CAST(len(list_intersect(xa.ss, xb.ss)) AS DOUBLE)
                   / len(list_distinct(xa.ss || xb.ss)) AS j_exact
        FROM pairs p
        JOIN sigs sa ON sa.doc_id = p.doc_a
        JOIN sigs sb ON sb.doc_id = p.doc_b
        JOIN ssets xa ON xa.doc_id = p.doc_a
        JOIN ssets xb ON xb.doc_id = p.doc_b
    ),
    rows_out AS (
        SELECT doc_a, doc_b, n_agree,
               floor(CAST(n_agree AS DOUBLE) / {_MINHASH_K} * 1e6 + 0.5)
                   / 1e6 AS j_est,
               floor(j_exact * 1e6 + 0.5) / 1e6 AS j_exact,
               floor(abs(CAST(n_agree AS DOUBLE) / {_MINHASH_K} - j_exact)
                     * 1e6 + 0.5) / 1e6 AS abs_err
        FROM est
    )
    SELECT doc_a, doc_b, n_agree, j_est, j_exact, abs_err,
           floor(CAST(sum(abs_err) OVER () AS DOUBLE) * 1e6
                 / greatest(count(*) OVER (), 1) + 0.5) / 1e6
               AS mean_abs_err
    FROM rows_out ORDER BY doc_a, doc_b
    """


@query("l_minhash_estimate_error_audit", oracle=_mh_est_error_oracle())
def l_minhash_estimate_error_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    sigs = memo_index(
        spark,
        f"l4_minhash_sigs:{sf_tag(sf_dir)}",
        lambda: minhash_signatures(docs).localCheckpoint(eager=True),
    )
    pairs = l4_minhash_lsh_neardup(spark, sf_dir).select("doc_a", "doc_b")
    ssets = docs.select(
        "doc_id", tokens().alias("ws")
    ).select(
        "doc_id",
        F.array_distinct(
            F.expr(
                "transform(sequence(0, greatest(size(ws) - 3, 0)),"
                " i -> concat_ws(' ', slice(ws, i + 1, 3)))"
            )
        ).alias("ss"),
    )
    sa = sigs.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh{i}").alias(f"a{i}") for i in range(_MINHASH_K)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh{i}").alias(f"b{i}") for i in range(_MINHASH_K)],
    )
    xa = ssets.select(F.col("doc_id").alias("doc_a"), F.col("ss").alias("ssa"))
    xb = ssets.select(F.col("doc_id").alias("doc_b"), F.col("ss").alias("ssb"))
    n_agree = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        for i in range(_MINHASH_K)
    )
    j_exact_raw = F.size(F.array_intersect("ssa", "ssb")).cast(
        "double"
    ) / F.size(F.array_union("ssa", "ssb"))
    est = (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .join(xa, "doc_a")
        .join(xb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            n_agree.alias("n_agree"),
            j_exact_raw.alias("j_exact_raw"),
        )
    )
    f6 = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6
    rows_out = est.select(
        "doc_a",
        "doc_b",
        "n_agree",
        f6(F.col("n_agree").cast("double") / _MINHASH_K).alias("j_est"),
        f6(F.col("j_exact_raw")).alias("j_exact"),
        f6(
            F.abs(
                F.col("n_agree").cast("double") / _MINHASH_K
                - F.col("j_exact_raw")
            )
        ).alias("abs_err"),
    )
    full = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return rows_out.select(
        "doc_a",
        "doc_b",
        "n_agree",
        "j_est",
        "j_exact",
        "abs_err",
        (
            F.floor(
                F.sum("abs_err").over(full).cast("double") * 1e6
                / F.greatest(F.count(F.lit(1)).over(full), F.lit(1))
                + F.lit(0.5)
            )
            / 1e6
        ).alias("mean_abs_err"),
    ).orderBy("doc_a", "doc_b")


# ---------------------------------------------------------------------------
# l_dedup_method_venn — method-agreement VENN over the three dedup
# families: which documents are flagged by exact-hash groups, by
# verified MinHash-LSH pairs, and by SimHash Hamming≤3 pairs — counted
# per region of the 3-set Venn (plus the unflagged remainder as the
# all-false region). The calibration report that tells a pipeline
# owner what each extra method actually ADDS before they pay for it
# at 100 TB. Both sides nest the registered pair oracles; flags fold
# with max() per doc, one aggregate over the doc dimension.
# ---------------------------------------------------------------------------
def _dedup_venn_oracle() -> str:
    return f"""
    WITH lsh_pairs AS MATERIALIZED (
        SELECT doc_a, doc_b FROM ({ORACLES["l4_minhash_lsh_neardup"]})
    ),
    sim_pairs AS MATERIALIZED (
        SELECT doc_a, doc_b FROM ({ORACLES["l4_simhash_neardup"]})
    ),
    exact_docs AS (
        SELECT doc_id, 1 AS f FROM (
            SELECT doc_id,
                   count(*) OVER (PARTITION BY md5(text)) AS gsz
            FROM documents
        ) WHERE gsz > 1
    ),
    lsh_docs AS (
        SELECT DISTINCT doc_id, 1 AS f FROM (
            SELECT doc_a AS doc_id FROM lsh_pairs
            UNION ALL SELECT doc_b FROM lsh_pairs
        )
    ),
    sim_docs AS (
        SELECT DISTINCT doc_id, 1 AS f FROM (
            SELECT doc_a AS doc_id FROM sim_pairs
            UNION ALL SELECT doc_b FROM sim_pairs
        )
    ),
    flags AS (
        SELECT d.doc_id,
               coalesce(e.f, 0) AS in_exact,
               coalesce(l.f, 0) AS in_lsh,
               coalesce(s.f, 0) AS in_simhash
        FROM documents d
        LEFT JOIN exact_docs e ON e.doc_id = d.doc_id
        LEFT JOIN lsh_docs l ON l.doc_id = d.doc_id
        LEFT JOIN sim_docs s ON s.doc_id = d.doc_id
    )
    SELECT CAST(in_exact AS BOOLEAN) AS in_exact,
           CAST(in_lsh AS BOOLEAN) AS in_lsh,
           CAST(in_simhash AS BOOLEAN) AS in_simhash,
           count(*) AS n_docs
    FROM flags GROUP BY 1, 2, 3
    ORDER BY 1, 2, 3
    """


@query("l_dedup_method_venn", oracle=_dedup_venn_oracle())
def l_dedup_method_venn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    exact_docs = (
        docs.select(
            "doc_id",
            F.count(F.lit(1))
            .over(Window.partitionBy(F.md5("text")))
            .alias("gsz"),
        )
        .where(F.col("gsz") > 1)
        .select("doc_id", F.lit(1).alias("fe"))
    )
    lsh = l4_minhash_lsh_neardup(spark, sf_dir).select("doc_a", "doc_b")
    sim = l4_simhash_neardup(spark, sf_dir).select("doc_a", "doc_b")

    def flagged(pairs, col):
        return (
            pairs.select(F.col("doc_a").alias("doc_id"))
            .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
            .distinct()
            .select("doc_id", F.lit(1).alias(col))
        )

    # No broadcast hints: flagged sets scale with the duplicate volume
    # (corpus-sized in the worst case) — doc_id equi-joins let AQE pick
    # broadcast only when a side is actually small.
    flags = (
        docs.select("doc_id")
        .join(exact_docs, "doc_id", "left")
        .join(flagged(lsh, "fl"), "doc_id", "left")
        .join(flagged(sim, "fs"), "doc_id", "left")
    )
    return (
        flags.groupBy(
            (F.coalesce("fe", F.lit(0)) == 1).alias("in_exact"),
            (F.coalesce("fl", F.lit(0)) == 1).alias("in_lsh"),
            (F.coalesce("fs", F.lit(0)) == 1).alias("in_simhash"),
        )
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("in_exact", "in_lsh", "in_simhash")
    )


# ---------------------------------------------------------------------------
# l_minhash_param_planner — the S-curve table behind the engine's LSH
# configuration: for every (bands, rows) factorization of the k=12
# signature, P(candidate | jaccard=j) = 1-(1-j^r)^b over a j grid,
# plus each family's threshold (1/b)^(1/r) and its catch probability
# at the 0.8 design point. This is how b/r are CHOSEN before a 100 TB
# dedup run — the planner makes the trade-off (recall at the target
# similarity vs candidate-pair volume from low-j mass) inspectable as
# data. Pure generated-grid scalar math; identical closed form on both
# engines.
# ---------------------------------------------------------------------------
@query(
    "l_minhash_param_planner",
    oracle="""
    WITH cfg AS (
        SELECT unnest([2, 3, 4, 6, 12]) AS b, unnest([6, 4, 3, 2, 1]) AS r
    ),
    grid AS (SELECT unnest(range(1, 20)) AS g),
    curve AS (
        SELECT c.b, c.r, g.g * 0.05 AS j,
               1 - power(1 - power(g.g * 0.05, c.r), c.b) AS p_cand,
               power(1.0 / c.b, 1.0 / c.r) AS thr,
               1 - power(1 - power(0.8, c.r), c.b) AS p_at_080
        FROM cfg c CROSS JOIN grid g
    )
    SELECT CAST(b AS INTEGER) AS bands, CAST(r AS INTEGER) AS rows_per_band,
           floor(j * 1e2 + 0.5) / 1e2 AS jaccard,
           floor(p_cand * 1e6 + 0.5) / 1e6 AS p_candidate,
           floor(thr * 1e6 + 0.5) / 1e6 AS family_threshold,
           floor(p_at_080 * 1e6 + 0.5) / 1e6 AS p_catch_at_080
    FROM curve ORDER BY bands, jaccard
    """,
)
def l_minhash_param_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    cfg = local_frame(spark, 
        [(2, 6), (3, 4), (4, 3), (6, 2), (12, 1)], "b INT, r INT"
    )
    grid = spark.range(1, 20).select(F.col("id").cast("int").alias("g"))
    j = F.col("g") * 0.05
    p_cand = 1 - F.pow(1 - F.pow(j, F.col("r")), F.col("b"))
    thr = F.pow(1.0 / F.col("b"), 1.0 / F.col("r"))
    p080 = 1 - F.pow(1 - F.pow(F.lit(0.8), F.col("r")), F.col("b"))
    f6 = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return (
        cfg.crossJoin(grid)
        .select(
            F.col("b").alias("bands"),
            F.col("r").alias("rows_per_band"),
            (F.floor(j * 1e2 + F.lit(0.5)) / 1e2).alias("jaccard"),
            f6(p_cand).alias("p_candidate"),
            f6(thr).alias("family_threshold"),
            f6(p080).alias("p_catch_at_080"),
        )
        .orderBy("bands", "jaccard")
    )


# ---------------------------------------------------------------------------
# l_wrapper_pair_audit — pairs where CONTAINMENT and JACCARD disagree:
# containment ≥ 0.8 (one doc's capped shingle set nearly inside the
# other's) but jaccard < 0.5 (union dominated by the longer doc). These
# are exactly the wrapper/boilerplate/quote pairs a jaccard-thresholded
# dedup pass silently keeps — the audit that justifies running the
# containment operator alongside MinHash. Same df≤64-capped candidate
# equi-join as l_containment_pairs (never all-pairs; AQE-splittable hot
# keys, see tests/test_banded_join_skew.py).
#
# Size band. With n common shingles, m = min and M = max of the two
# capped-set sizes, containment ≥ c is n ≥ c·m and jaccard < j is
# n < j·(m + M)/(1 + j). Together they force
#     M > (c·(1 + j)/j − 1)·m = 7/5·m   (c = 4/5, j = 1/2),
# i.e. 5·M > 7·m. The pair join tests that band on the sizes the index
# rows carry, so a pair that cannot pass the final filter never reaches
# the pair aggregate; the exact double-valued filter still decides.
# Executed pair-join rows (plans/r16): sf0.1 1,265,779 → 632,399,
# sf0.001 14,941 → 6,627. The sizes reach the index rows through a join
# on doc_id after the checkpoint (AQE broadcasts the doc-count-sized
# frame here). A count window inside the checkpoint does the same job
# but shuffles the whole capped index by doc_id and sorts it: r15
# reverted it when nothing used the sizes in the join (bench median
# 3.36 → 4.20 s), and with the band it still wrote ~1.2 MB more
# shuffle per sf0.1 call than this join at the same task CPU.
# ---------------------------------------------------------------------------
_WRAP_CONT_MIN = Fraction(4, 5)
_WRAP_JAC_MAX = Fraction(1, 2)
_WRAP_BAND = _WRAP_CONT_MIN * (1 + _WRAP_JAC_MAX) / _WRAP_JAC_MAX - 1


@query(
    "l_wrapper_pair_audit",
    oracle=f"""
    WITH {_MH_SHINGLES_SQL},
    sh AS (
        SELECT DISTINCT doc_id,
               {h60_sql("shingle", "duckdb")} AS h
        FROM shingles
    ),
    freq AS (
        SELECT h FROM sh GROUP BY h HAVING count(*) <= {_CONT_CAP}
    ),
    capped AS (SELECT sh.doc_id, sh.h FROM sh JOIN freq USING (h)),
    sizes AS (SELECT doc_id, count(*) AS sz FROM capped GROUP BY 1),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
        FROM capped a JOIN capped b
          ON a.h = b.h AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    scored AS (
        SELECT i.doc_a, i.doc_b, i.n_common,
               sa.sz AS size_a, sb.sz AS size_b,
               CAST(i.n_common AS DOUBLE) / least(sa.sz, sb.sz) AS cont,
               CAST(i.n_common AS DOUBLE) / (sa.sz + sb.sz - i.n_common)
                   AS jac
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.doc_a
        JOIN sizes sb ON sb.doc_id = i.doc_b
    )
    SELECT doc_a, doc_b, n_common, size_a, size_b,
           floor(jac * 1e6 + 0.5) / 1e6 AS jaccard,
           floor(cont * 1e6 + 0.5) / 1e6 AS containment
    FROM scored
    WHERE cont >= {float(_WRAP_CONT_MIN)} AND jac < {float(_WRAP_JAC_MAX)}
    ORDER BY doc_a, doc_b
    """,
)
def l_wrapper_pair_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    capped = _capped_index(docs).localCheckpoint(eager=True)
    sizes = capped.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    # Each index row carries its doc's capped-set size into the pair
    # join, which tests the size band; the pair aggregate then needs no
    # sizes joins after it.
    sized = capped.join(sizes, "doc_id")
    a = sized.alias("a")
    b = sized.alias("b")
    size_a, size_b = F.col("a.sz"), F.col("b.sz")
    big, small = F.greatest(size_a, size_b), F.least(size_a, size_b)
    in_band = _WRAP_BAND.denominator * big > _WRAP_BAND.numerator * small
    scored = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & in_band,
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            size_a.alias("size_a"),
            size_b.alias("size_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    cont = F.col("n_common").cast("double") / F.least(
        F.col("size_a"), F.col("size_b")
    )
    jac = F.col("n_common").cast("double") / (
        F.col("size_a") + F.col("size_b") - F.col("n_common")
    )
    f6 = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return (
        scored.where(
            (cont >= float(_WRAP_CONT_MIN)) & (jac < float(_WRAP_JAC_MAX))
        )
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            "size_a",
            "size_b",
            f6(jac).alias("jaccard"),
            f6(cont).alias("containment"),
        )
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# l_cross_shard_dup_rate — how a sharded dedup composes: assign each
# document to one of 16 shards by id-hash (the md5-60bit idiom mod 16,
# bit-identical across engines), group exact duplicates by content
# digest, and measure what fraction of duplicate GROUPS (and rows)
# span more than one shard. This is the quantity that decides whether
# per-shard local dedup is sufficient at 100 TB or a global (cross-
# shard) pass is required: every group counted in `groups_cross_shard`
# is a duplicate a shard-local pass would MISS. One digest-keyed
# aggregate carrying count + distinct-shard count — shuffles
# (digest, shard), never text.
# ---------------------------------------------------------------------------
def _doc_shard_hash():
    return F.expr(h60_sql("CAST(doc_id AS STRING)", "spark"))


@query(
    "l_cross_shard_dup_rate",
    oracle=f"""
    WITH sharded AS (
        SELECT md5(text) AS dg,
               {h60_sql("CAST(doc_id AS VARCHAR)", "duckdb")} % 16 AS shard
        FROM documents
    ),
    grp AS (
        SELECT dg, count(*) AS sz, count(DISTINCT shard) AS nsh
        FROM sharded GROUP BY dg
    ),
    dups AS (SELECT * FROM grp WHERE sz > 1)
    SELECT CAST(count(*) AS BIGINT) AS dup_groups,
           CAST(count(CASE WHEN nsh > 1 THEN 1 END) AS BIGINT)
               AS groups_cross_shard,
           CAST(coalesce(sum(sz - 1), 0) AS BIGINT) AS removable_rows,
           CAST(coalesce(sum(CASE WHEN nsh > 1 THEN sz - 1 ELSE 0 END), 0)
                AS BIGINT) AS rows_needing_global_pass,
           CASE WHEN count(*) > 0
                THEN floor(CAST(count(CASE WHEN nsh > 1 THEN 1 END)
                                AS DOUBLE) / count(*) * 1e6 + 0.5) / 1e6
                ELSE 0.0 END AS cross_shard_group_rate
    FROM dups
    """,
)
def l_cross_shard_dup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    sharded = docs.select(
        F.md5("text").alias("dg"),
        F.pmod(_doc_shard_hash(), F.lit(16)).alias("shard"),
    )
    grp = sharded.groupBy("dg").agg(
        F.count(F.lit(1)).alias("sz"),
        F.countDistinct("shard").alias("nsh"),
    )
    dups = grp.where(F.col("sz") > 1)
    cross = F.count(F.when(F.col("nsh") > 1, F.lit(1)))
    total = F.count(F.lit(1))
    return dups.agg(
        total.cast("long").alias("dup_groups"),
        cross.cast("long").alias("groups_cross_shard"),
        F.coalesce(F.sum(F.col("sz") - 1), F.lit(0))
        .cast("long")
        .alias("removable_rows"),
        F.coalesce(
            F.sum(F.when(F.col("nsh") > 1, F.col("sz") - 1).otherwise(0)),
            F.lit(0),
        )
        .cast("long")
        .alias("rows_needing_global_pass"),
        F.when(
            total > 0,
            F.floor(cross.cast("double") / total * 1e6 + F.lit(0.5)) / 1e6,
        )
        .otherwise(0.0)
        .alias("cross_shard_group_rate"),
    )


# ---------------------------------------------------------------------------
# l_fingerprint_collision_audit — choosing a fingerprint width for
# 100 TB dedup: truncate the content digest to 24/32/40 bits over the
# DISTINCT texts and count fingerprint collisions (distinct texts
# whose truncated digests coincide → rows a fingerprint-keyed dedup
# would WRONGLY merge), next to the birthday-bound expectation
# m(m−1)/2^(b+1). The audit that justifies the 60-bit idiom used by
# the MinHash family: at small corpora every width looks safe; the
# expectation column is the number that extrapolates. One distinct
# pass, then three width-keyed aggregates via a 3-row literal.
# ---------------------------------------------------------------------------
@query(
    "l_fingerprint_collision_audit",
    oracle="""
    WITH dist AS (SELECT DISTINCT md5(text) AS dg FROM documents),
    widths(bits, hexchars) AS (VALUES (24, 6), (32, 8), (40, 10)),
    fp AS (
        SELECT w.bits,
               substring(d.dg, 1, w.hexchars) AS f
        FROM dist d CROSS JOIN widths w
    ),
    agg AS (
        SELECT bits,
               CAST(count(*) AS BIGINT) AS n_texts,
               CAST(count(DISTINCT f) AS BIGINT) AS n_fingerprints
        FROM fp GROUP BY bits
    )
    SELECT bits, n_texts, n_fingerprints,
           n_texts - n_fingerprints AS collisions,
           floor(CAST(n_texts AS DOUBLE) * (n_texts - 1)
                 / power(2.0, bits + 1) * 1e6 + 0.5) / 1e6
               AS expected_collisions
    FROM agg ORDER BY bits
    """,
)
def l_fingerprint_collision_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    dist = docs.select(F.md5("text").alias("dg")).distinct()
    widths = local_frame(spark, 
        [(24, 6), (32, 8), (40, 10)], "bits int, hexchars int"
    )
    fp = dist.crossJoin(F.broadcast(widths)).select(
        "bits", F.expr("substring(dg, 1, hexchars)").alias("f")
    )
    agg = fp.groupBy("bits").agg(
        F.count(F.lit(1)).cast("long").alias("n_texts"),
        F.countDistinct("f").cast("long").alias("n_fingerprints"),
    )
    n = F.col("n_texts").cast("double")
    return agg.select(
        "bits",
        "n_texts",
        "n_fingerprints",
        (F.col("n_texts") - F.col("n_fingerprints")).alias("collisions"),
        (
            F.floor(
                n * (n - 1) / F.pow(F.lit(2.0), F.col("bits") + 1) * 1e6
                + F.lit(0.5)
            )
            / 1e6
        ).alias("expected_collisions"),
    ).orderBy("bits")


# ---------------------------------------------------------------------------
# Round-10 sharded-dedup PLANNING family (VERDICT r9 item 7): the
# decision inputs for running dedup over a 100 TB corpus that must be
# processed in shards. l_cross_shard_dup_rate (round 9) measured ONE
# shard count; these operators complete the planning surface: choose
# the shard count (advisor), prove the two-pass schedule lossless
# (rehearsal), quantify what a shard-local LSH pass misses
# (cross-shard near-dup rate), locate the skew that needs AQE/salting
# (hot-bucket advisor), and rank the candidate-generation stages by
# join cardinality (cost model). Everything is digest/bucket-keyed
# aggregation — no text shuffles, no all-pairs joins anywhere.
# ---------------------------------------------------------------------------
@query(
    "l_shard_count_advisor",
    oracle=f"""
    WITH base AS (
        SELECT md5(text) AS dg,
               {h60_sql("CAST(doc_id AS VARCHAR)", "duckdb")} AS h
        FROM documents
    ),
    sharded AS MATERIALIZED (
        SELECT t.n, base.dg, base.h % t.n AS shard
        FROM base CROSS JOIN (SELECT unnest([4, 8, 16, 32]) AS n) t
    ),
    per_shard AS (
        SELECT n, shard, count(*) AS rows_ FROM sharded GROUP BY 1, 2
    ),
    shard_stats AS (
        SELECT n,
               CAST(count(*) AS BIGINT) AS shards_nonempty,
               CAST(max(rows_) AS BIGINT) AS max_shard_rows,
               CAST(min(rows_) AS BIGINT) AS min_shard_rows,
               CAST(sum(rows_) AS BIGINT) AS total_rows
        FROM per_shard GROUP BY 1
    ),
    grp AS (
        SELECT n, dg, count(*) AS sz, count(DISTINCT shard) AS nsh
        FROM sharded GROUP BY 1, 2
    ),
    dup_stats AS (
        SELECT n,
               CAST(count(CASE WHEN sz > 1 THEN 1 END) AS BIGINT)
                   AS dup_groups,
               CAST(count(CASE WHEN sz > 1 AND nsh > 1 THEN 1 END)
                    AS BIGINT) AS groups_cross_shard,
               CAST(coalesce(sum(CASE WHEN sz > 1 AND nsh > 1
                                      THEN sz - 1 ELSE 0 END), 0)
                    AS BIGINT) AS rows_needing_global_pass
        FROM grp GROUP BY 1
    )
    SELECT CAST(s.n AS BIGINT) AS n_shards, s.shards_nonempty,
           s.max_shard_rows, s.min_shard_rows,
           floor(CAST(s.max_shard_rows * s.n AS DOUBLE) / s.total_rows
                 * 1e6 + 0.5) / 1e6 AS skew_ratio,
           d.dup_groups, d.groups_cross_shard, d.rows_needing_global_pass,
           CASE WHEN d.dup_groups > 0
                THEN floor(CAST(d.groups_cross_shard AS DOUBLE)
                           / d.dup_groups * 1e6 + 0.5) / 1e6
                ELSE 0.0 END AS cross_shard_group_rate
    FROM shard_stats s JOIN dup_stats d USING (n)
    ORDER BY n_shards
    """,
)
def l_shard_count_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per candidate shard count (4/8/16/32): row skew across
    shards (max/avg ratio) against the cross-shard duplicate-group
    rate — the fundamental trade of sharded dedup (more shards = finer
    units of work and smaller local state, but more duplicate groups
    split across shards, each one a miss for a shard-local pass). The
    4x row expansion is a literal explode over the digest projection
    (never the text); everything downstream is (n, key)-grouped
    aggregation."""
    docs = load(spark, sf_dir, "documents")
    base = docs.select(
        F.md5("text").alias("dg"), _doc_shard_hash().alias("h")
    )
    sharded = base.select(
        F.explode(F.array(*[F.lit(x) for x in (4, 8, 16, 32)])).alias("n"),
        "dg",
        "h",
    ).select("n", "dg", F.pmod(F.col("h"), F.col("n")).alias("shard"))
    per_shard = sharded.groupBy("n", "shard").agg(
        F.count(F.lit(1)).alias("rows_")
    )
    shard_stats = per_shard.groupBy("n").agg(
        F.count(F.lit(1)).cast("long").alias("shards_nonempty"),
        F.max("rows_").cast("long").alias("max_shard_rows"),
        F.min("rows_").cast("long").alias("min_shard_rows"),
        F.sum("rows_").cast("long").alias("total_rows"),
    )
    grp = sharded.groupBy("n", "dg").agg(
        F.count(F.lit(1)).alias("sz"), F.countDistinct("shard").alias("nsh")
    )
    dup = F.col("sz") > 1
    cross = dup & (F.col("nsh") > 1)
    dup_stats = grp.groupBy("n").agg(
        F.count(F.when(dup, F.lit(1))).cast("long").alias("dup_groups"),
        F.count(F.when(cross, F.lit(1)))
        .cast("long")
        .alias("groups_cross_shard"),
        F.coalesce(F.sum(F.when(cross, F.col("sz") - 1).otherwise(0)), F.lit(0))
        .cast("long")
        .alias("rows_needing_global_pass"),
    )
    f6 = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return (
        shard_stats.join(dup_stats, "n")
        .select(
            F.col("n").cast("long").alias("n_shards"),
            "shards_nonempty",
            "max_shard_rows",
            "min_shard_rows",
            f6(
                (F.col("max_shard_rows") * F.col("n")).cast("double")
                / F.col("total_rows")
            ).alias("skew_ratio"),
            "dup_groups",
            "groups_cross_shard",
            "rows_needing_global_pass",
            F.when(
                F.col("dup_groups") > 0,
                f6(
                    F.col("groups_cross_shard").cast("double")
                    / F.col("dup_groups")
                ),
            )
            .otherwise(0.0)
            .alias("cross_shard_group_rate"),
        )
        .orderBy("n_shards")
    )


@query(
    "l_sharded_dedup_rehearsal",
    oracle=f"""
    WITH sharded AS MATERIALIZED (
        SELECT md5(text) AS dg,
               {h60_sql("CAST(doc_id AS VARCHAR)", "duckdb")} % 16 AS shard
        FROM documents
    ),
    local_g AS MATERIALIZED (
        SELECT shard, dg, count(*) AS cnt FROM sharded GROUP BY 1, 2
    ),
    local_stats AS (
        SELECT CAST(coalesce(sum(cnt - 1), 0) AS BIGINT) AS local_removed,
               CAST(count(*) AS BIGINT) AS survivors
        FROM local_g
    ),
    global_g AS (
        SELECT dg, count(*) AS nsh FROM local_g GROUP BY 1
    ),
    global_stats AS (
        SELECT CAST(coalesce(sum(nsh - 1), 0) AS BIGINT) AS global_removed,
               CAST(count(*) AS BIGINT) AS two_pass_final
        FROM global_g
    ),
    direct AS (
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(count(DISTINCT dg) AS BIGINT) AS single_pass_final
        FROM sharded
    )
    SELECT d.n_docs, l.local_removed, l.survivors, g.global_removed,
           g.two_pass_final, d.single_pass_final,
           (g.two_pass_final = d.single_pass_final
            AND l.local_removed + g.global_removed
                = d.n_docs - d.single_pass_final) AS two_pass_lossless
    FROM direct d CROSS JOIN local_stats l CROSS JOIN global_stats g
    """,
)
def l_sharded_dedup_rehearsal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end accounting of the two-pass sharded dedup schedule at
    16 shards: pass 1 removes duplicates WITHIN each shard (the
    embarrassingly-parallel pass — each shard's state fits one worker
    pool), pass 2 runs over the per-shard survivors only (a corpus
    whose size the advisor's cross-shard numbers bound). The output
    proves losslessness: local_removed + global_removed must equal the
    single-pass global removal count, and the two-pass final count
    must equal count(DISTINCT digest). At 100 TB pass 2's input is
    |survivors| ~ |distinct| + cross-shard duplicates — typically
    orders of magnitude smaller than the corpus; this operator is the
    rehearsal that licenses the schedule. Empty input: one row of
    zeros with two_pass_lossless = TRUE (vacuous-TRUE contract)."""
    docs = load(spark, sf_dir, "documents")
    sharded = docs.select(
        F.md5("text").alias("dg"),
        F.pmod(_doc_shard_hash(), F.lit(16)).alias("shard"),
    )
    local_g = sharded.groupBy("shard", "dg").agg(
        F.count(F.lit(1)).alias("cnt")
    ).localCheckpoint(eager=True)
    local_stats = local_g.agg(
        F.coalesce(F.sum(F.col("cnt") - 1), F.lit(0))
        .cast("long")
        .alias("local_removed"),
        F.count(F.lit(1)).cast("long").alias("survivors"),
    )
    global_stats = (
        local_g.groupBy("dg")
        .agg(F.count(F.lit(1)).alias("nsh"))
        .agg(
            F.coalesce(F.sum(F.col("nsh") - 1), F.lit(0))
            .cast("long")
            .alias("global_removed"),
            F.count(F.lit(1)).cast("long").alias("two_pass_final"),
        )
    )
    direct = sharded.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("dg").cast("long").alias("single_pass_final"),
    )
    joined = direct.crossJoin(F.broadcast(local_stats)).crossJoin(
        F.broadcast(global_stats)
    )
    return joined.select(
        "n_docs",
        "local_removed",
        "survivors",
        "global_removed",
        "two_pass_final",
        "single_pass_final",
        (
            (F.col("two_pass_final") == F.col("single_pass_final"))
            & (
                F.col("local_removed") + F.col("global_removed")
                == F.col("n_docs") - F.col("single_pass_final")
            )
        ).alias("two_pass_lossless"),
    )


def _banded_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, band, sig) LSH band table off the memoized signature
    index — the same stack projection l4_band_occupancy_audit uses."""
    docs = load(spark, sf_dir, "documents")
    sigs = memo_index(
        spark,
        f"l4_minhash_sigs:{sf_tag(sf_dir)}",
        lambda: minhash_signatures(docs).localCheckpoint(eager=True),
    )
    stack_args = []
    for b in range(_BANDS):
        cols = [f"mh{b * _ROWS_PER_BAND + r}" for r in range(_ROWS_PER_BAND)]
        sig = " , ".join(f"CAST({c} AS STRING)" for c in cols)
        stack_args.append(f"{b}, concat_ws('_', {sig})")
    return sigs.selectExpr(
        "doc_id",
        f"stack({_BANDS}, {', '.join(stack_args)}) AS (band, sig)",
    )


@query(
    "l_cross_shard_neardup_rate",
    oracle=f"""
    WITH {_MH_SHINGLES_SQL},
    {_MH_BANDS_SQL},
    bshard AS MATERIALIZED (
        SELECT band, sig,
               {h60_sql("CAST(doc_id AS VARCHAR)", "duckdb")} % 16 AS shard
        FROM bands
    ),
    bsz AS (
        SELECT band, sig, count(*) AS size_ FROM bshard GROUP BY 1, 2
    ),
    bssz AS (
        SELECT band, sig, shard, count(*) AS s FROM bshard GROUP BY 1, 2, 3
    ),
    tot AS (
        SELECT CAST(coalesce(sum(size_ * (size_ - 1) // 2), 0) AS BIGINT)
                   AS total_pairs
        FROM bsz
    ),
    win AS (
        SELECT CAST(coalesce(sum(s * (s - 1) // 2), 0) AS BIGINT)
                   AS within_pairs
        FROM bssz
    )
    SELECT t.total_pairs, w.within_pairs,
           t.total_pairs - w.within_pairs AS cross_shard_pairs,
           CASE WHEN t.total_pairs > 0
                THEN floor(CAST(t.total_pairs - w.within_pairs AS DOUBLE)
                           / t.total_pairs * 1e6 + 0.5) / 1e6
                ELSE 0.0 END AS cross_shard_pair_rate
    FROM tot t CROSS JOIN win w
    """,
)
def l_cross_shard_neardup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What fraction of LSH candidate PAIRS span two doc-id shards —
    the near-dup analogue of l_cross_shard_dup_rate, and the number
    that decides whether a sharded LSH pass may run bucket joins
    shard-locally (rate ~ 0: yes) or must shuffle signatures globally
    by (band, sig) (rate high: every cross-shard pair is a miss).
    Candidate pairs come from the SAME band buckets as the production
    near-dup join, so the rate measures the actual join, not a proxy.
    Both legs are bucket-keyed aggregates off one banded projection;
    the final join is a 1-row broadcast cross. Empty corpus: one row
    of zeros with rate 0.0 (the l_cross_shard_dup_rate contract)."""
    banded = _banded_sigs(spark, sf_dir).select(
        "band", "sig", F.pmod(_doc_shard_hash(), F.lit(16)).alias("shard")
    ).localCheckpoint(eager=True)
    bsz = banded.groupBy("band", "sig").agg(F.count(F.lit(1)).alias("size_"))
    bssz = banded.groupBy("band", "sig", "shard").agg(
        F.count(F.lit(1)).alias("s")
    )
    tot = bsz.agg(
        F.coalesce(
            F.sum(_pairs2("size_")),
            F.lit(0),
        )
        .cast("long")
        .alias("total_pairs")
    )
    win = bssz.agg(
        F.coalesce(
            F.sum(_pairs2("s")),
            F.lit(0),
        )
        .cast("long")
        .alias("within_pairs")
    )
    t, w = F.col("total_pairs"), F.col("within_pairs")
    return tot.crossJoin(F.broadcast(win)).select(
        "total_pairs",
        "within_pairs",
        (t - w).alias("cross_shard_pairs"),
        F.when(
            t > 0,
            F.floor((t - w).cast("double") / t * 1e6 + F.lit(0.5)) / 1e6,
        )
        .otherwise(0.0)
        .alias("cross_shard_pair_rate"),
    )


@query(
    "l_hot_bucket_skew_advisor",
    oracle=f"""
    WITH {_MH_SHINGLES_SQL},
    {_MH_BANDS_SQL},
    buckets AS (
        SELECT band, sig, count(*) AS size_ FROM bands GROUP BY 1, 2
    ),
    pairs AS MATERIALIZED (
        SELECT size_, size_ * (size_ - 1) // 2 AS p
        FROM buckets WHERE size_ >= 2
    ),
    tot AS (
        SELECT CAST(coalesce(sum(p), 0) AS BIGINT) AS total_pairs FROM pairs
    ),
    tiered AS (
        SELECT CASE WHEN size_ >= 64 THEN 'd_ge64'
                    WHEN size_ >= 16 THEN 'c_16_63'
                    WHEN size_ >= 4 THEN 'b_4_15'
                    ELSE 'a_2_3' END AS tier,
               size_, p
        FROM pairs
    )
    SELECT tier,
           CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(max(size_) AS BIGINT) AS max_bucket_size,
           CAST(sum(p) AS BIGINT) AS candidate_pairs,
           floor(CAST(sum(p) AS DOUBLE) / max(total_pairs) * 1e6 + 0.5)
               / 1e6 AS pair_share
    FROM tiered CROSS JOIN tot
    GROUP BY tier ORDER BY tier
    """,
)
def l_hot_bucket_skew_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Where the LSH join's work concentrates: band buckets tiered by
    occupancy (2-3, 4-15, 16-63, >=64), each tier's candidate-pair
    count and share of the total. A heavy top tier is the signal to
    arm AQE skew-join / salt the bucket key / re-plan (b, r) before
    the production pass — pairs grow quadratically in bucket size, so
    the >=64 tier dominating means a few buckets carry the join. The
    whole advisor is two aggregates over the banded projection plus a
    1-row broadcast for the share denominator. Empty corpus / no
    bucket with >= 2 docs: no tiers, no rows (grouped contract)."""
    banded = _banded_sigs(spark, sf_dir)
    buckets = banded.groupBy("band", "sig").agg(
        F.count(F.lit(1)).alias("size_")
    )
    pairs = (
        buckets.where(F.col("size_") >= 2)
        .select(
            "size_",
            _pairs2("size_").alias("p"),
        )
        .localCheckpoint(eager=True)
    )
    tot = pairs.agg(
        F.coalesce(F.sum("p"), F.lit(0)).cast("long").alias("total_pairs")
    )
    tiered = pairs.select(
        F.when(F.col("size_") >= 64, "d_ge64")
        .when(F.col("size_") >= 16, "c_16_63")
        .when(F.col("size_") >= 4, "b_4_15")
        .otherwise("a_2_3")
        .alias("tier"),
        "size_",
        "p",
    )
    return (
        tiered.crossJoin(F.broadcast(tot))
        .groupBy("tier")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_buckets"),
            F.max("size_").cast("long").alias("max_bucket_size"),
            F.sum("p").cast("long").alias("candidate_pairs"),
            (
                F.floor(
                    F.sum("p").cast("double")
                    / F.max("total_pairs")
                    * 1e6
                    + F.lit(0.5)
                )
                / 1e6
            ).alias("pair_share"),
        )
        .orderBy("tier")
    )


@query(
    "l_dedup_stage_cost_model",
    oracle=f"""
    WITH {_MH_SHINGLES_SQL},
    sh2 AS MATERIALIZED (SELECT * FROM shingles),
    nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
    ap AS (
        SELECT n_docs, n_docs * (n_docs - 1) // 2 AS all_pairs FROM nd
    ),
    exact_g AS (
        SELECT md5(text) AS dg, count(*) AS c FROM documents GROUP BY 1
    ),
    exact_s AS (
        SELECT CAST(coalesce(sum(c * (c - 1) // 2), 0) AS BIGINT) AS pairs,
               CAST(count(*) AS BIGINT) AS units
        FROM exact_g
    ),
    {_mh_bands_sql("sh2")},
    lsh_g AS (
        SELECT band, sig, count(*) AS c FROM bands GROUP BY 1, 2
    ),
    lsh_s AS (
        SELECT CAST(coalesce(sum(c * (c - 1) // 2), 0) AS BIGINT) AS pairs,
               CAST(count(*) AS BIGINT) AS units
        FROM lsh_g
    ),
    post AS (
        SELECT DISTINCT doc_id,
               {h60_sql("shingle", "duckdb")} AS h
        FROM sh2
    ),
    cont_g AS (
        SELECT h, count(*) AS c FROM post
        GROUP BY 1 HAVING count(*) <= {_CONT_CAP}
    ),
    cont_s AS (
        SELECT CAST(coalesce(sum(c * (c - 1) // 2), 0) AS BIGINT) AS pairs,
               CAST(count(*) AS BIGINT) AS units
        FROM cont_g
    ),
    stages AS (
        SELECT 'a_exact_digest' AS stage, pairs, units FROM exact_s
        UNION ALL SELECT 'b_minhash_lsh', pairs, units FROM lsh_s
        UNION ALL SELECT 'c_containment_capped', pairs, units FROM cont_s
    )
    SELECT s.stage, s.units AS candidate_units,
           s.pairs AS candidate_pairs, a.all_pairs,
           floor(CAST(s.pairs AS DOUBLE) / a.all_pairs * 1e6 + 0.5) / 1e6
               AS pair_fraction
    FROM stages s CROSS JOIN ap a
    WHERE a.all_pairs > 0
    ORDER BY s.stage
    """,
)
def l_dedup_stage_cost_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality cost model for the three candidate-generation
    stages of the dedup funnel, each expressed as the number of
    same-key row pairs its equi-join materializes (the actual shuffle
    output a 100 TB planner budgets): exact digest groups (sum of
    C(group, 2)), MinHash-LSH band buckets (sum of C(bucket, 2) over
    all bands — candidate duplication across bands counted, as the
    join really pays it), and the df-capped containment posting join
    (sum of C(df, 2) over kept shingle hashes). pair_fraction divides
    by C(n_docs, 2) — the all-pairs cost no stage may approach.
    Everything is group-keyed counting off two scans (documents,
    shingles); no stage materializes a pair. Fewer than 2 docs: no
    rows (denominator undefined, corpus-ratio contract)."""
    docs = load(spark, sf_dir, "documents")
    ap = docs.agg(F.count(F.lit(1)).alias("n_docs")).select(
        _pairs2("n_docs").alias("all_pairs")
    )
    pair_sum = lambda c: F.coalesce(  # noqa: E731
        F.sum(_pairs2(c)), F.lit(0)
    ).cast("long")
    exact_s = (
        docs.groupBy(F.md5("text").alias("dg"))
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(
            pair_sum("c").alias("pairs"),
            F.count(F.lit(1)).cast("long").alias("units"),
        )
    )
    lsh_s = (
        _banded_sigs(spark, sf_dir)
        .groupBy("band", "sig")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(
            pair_sum("c").alias("pairs"),
            F.count(F.lit(1)).cast("long").alias("units"),
        )
    )
    post = _shingle_index(docs)
    cont_s = (
        post.groupBy("h")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") <= _CONT_CAP)
        .agg(
            pair_sum("c").alias("pairs"),
            F.count(F.lit(1)).cast("long").alias("units"),
        )
    )
    stages = (
        exact_s.select(F.lit("a_exact_digest").alias("stage"), "pairs", "units")
        .unionAll(
            lsh_s.select(
                F.lit("b_minhash_lsh").alias("stage"), "pairs", "units"
            )
        )
        .unionAll(
            cont_s.select(
                F.lit("c_containment_capped").alias("stage"), "pairs", "units"
            )
        )
    )
    return (
        stages.crossJoin(F.broadcast(ap))
        .where(F.col("all_pairs") > 0)
        .select(
            "stage",
            F.col("units").alias("candidate_units"),
            F.col("pairs").alias("candidate_pairs"),
            "all_pairs",
            (
                F.floor(
                    F.col("pairs").cast("double")
                    / F.col("all_pairs")
                    * 1e6
                    + F.lit(0.5)
                )
                / 1e6
            ).alias("pair_fraction"),
        )
        .orderBy("stage")
    )
