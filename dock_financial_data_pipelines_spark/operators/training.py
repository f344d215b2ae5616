"""Training-data preparation operators (round-4 additions to the
driver's LLM-data mandate): sequence packing, quality-rule filters
(Gopher-style), RAG chunking, chunk-level exact dedup, unigram
language-model scoring, token-budget mixture sampling — plus two
finance-domain audits (Benford first-digit, ledger reconciliation)
matching the reference's balance-report/statement domain
(REPORT: script-dag-dock-report, STMTS: script-dag-dock-statements —
the reference moves statement files; these operators are the analytics
a consumer of those files runs).

Scale notes (100 TB): every operator here is one or two corpus scans
with equi-key shuffles only — no all-pairs joins, no driver-side loops,
no Python UDFs. Frequency shuffles key on xxhash64 of content, never
raw text (counts are hash-invariant; the raw-string DuckDB oracles
would surface any collision at fixture scale). Sequence packing and
mixture sampling are the two operators that would otherwise tempt a
single global ordering; both are sharded (pack: per doc_id%N shard
windows; mixture: per-language rates joined back broadcast-style) so no
stage ever needs a global sort.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dock_financial_data_pipelines_spark.catalog import load, maybe_broadcast
from dock_financial_data_pipelines_spark.hashing import h60_col, h60_sql
from dock_financial_data_pipelines_spark.registry import query
from dock_financial_data_pipelines_spark.shingles import tokens, tokens_sql

_PACK_CAPACITY = 512  # tokens per packed training sequence
_PACK_SHARDS = 8  # independent packing streams (doc_id % N)


# ---------------------------------------------------------------------------
# l_pack_sequences — standard LLM pretraining packing: concatenate the
# corpus in deterministic (shard, doc_id) order and cut fixed
# _PACK_CAPACITY-token sequences; documents may span a cut. Per-shard
# prefix sums assign each doc its [first_seq, last_seq] span; exploding
# the span and summing integer overlaps yields exact per-sequence
# occupancy with no text ever shuffled. At 100 TB each shard's window
# is independent — shards scale out; within a shard the running sum is
# the only order-dependent step (Spark executes it as a single-pass
# window per shard partition).
# ---------------------------------------------------------------------------
@query(
    "l_pack_sequences",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, doc_id % {_PACK_SHARDS} AS shard,
               len({tokens_sql('duckdb')}) AS n_tok
        FROM documents
    ),
    c AS (
        SELECT shard, doc_id, n_tok,
               CAST(sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS BIGINT) AS cum
        FROM d
    ),
    spans AS (
        SELECT shard, cum, cum - n_tok AS prev,
               unnest(range((cum - n_tok) // {_PACK_CAPACITY},
                            (cum - 1) // {_PACK_CAPACITY} + 1)) AS seq_id
        FROM c
    )
    SELECT shard, seq_id,
           count(*) AS n_docs,
           CAST(sum(least(cum, (seq_id + 1) * {_PACK_CAPACITY})
                    - greatest(prev, seq_id * {_PACK_CAPACITY}))
                AS BIGINT) AS n_tokens
    FROM spans GROUP BY 1, 2
    """,
)
def l_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    C, S = _PACK_CAPACITY, _PACK_SHARDS
    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        (F.col("doc_id") % S).alias("shard"),
        F.size(tokens()).alias("n_tok"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = d.withColumn("cum", F.sum("n_tok").over(w))
    spans = c.select(
        "shard",
        "cum",
        (F.col("cum") - F.col("n_tok")).alias("prev"),
        F.explode(
            F.expr(f"sequence((cum - n_tok) div {C}, (cum - 1) div {C})")
        ).alias("seq_id"),
    )
    return spans.groupBy("shard", "seq_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            F.least(F.col("cum"), (F.col("seq_id") + 1) * C)
            - F.greatest(F.col("prev"), F.col("seq_id") * C)
        )
        .cast("long")
        .alias("n_tokens"),
    )


# ---------------------------------------------------------------------------
# l_gopher_quality — Gopher-style per-document quality rules (word
# count, mean word length, stopword floor), reported as a per-source
# rule-failure breakdown. All counters are integers; everything runs in
# one codegen stage over one scan (higher-order array functions, no
# explode, no shuffle before the 20-group aggregate).
# ---------------------------------------------------------------------------
_STOPWORDS = "'the', 'a', 'of', 'to', 'and', 'in', 'is'"


@query(
    "l_gopher_quality",
    oracle=f"""
    WITH stats AS (
        SELECT source,
               len({tokens_sql('duckdb')}) AS n_words,
               CAST(list_sum(list_transform({tokens_sql('duckdb')},
                                            x -> length(x))) AS DOUBLE)
                   / len({tokens_sql('duckdb')}) AS mean_len,
               len(list_filter({tokens_sql('duckdb')},
                               x -> x IN ({_STOPWORDS}))) AS stop_cnt
        FROM documents
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN n_words < 40 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_fail_min_words,
           CAST(sum(CASE WHEN mean_len < 3 OR mean_len > 10 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_fail_mean_word_len,
           CAST(sum(CASE WHEN stop_cnt < 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_fail_stopwords,
           CAST(sum(CASE WHEN n_words >= 40 AND mean_len >= 3
                          AND mean_len <= 10 AND stop_cnt >= 2
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_keep
    FROM stats GROUP BY 1
    """,
)
def l_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ws projected once — Spark does not CSE split() across references.
    stats = (
        load(spark, sf_dir, "documents")
        .select("source", tokens().alias("ws"))
        .select(
            "source",
            F.size("ws").alias("n_words"),
            (
                F.expr(
                    "aggregate(transform(ws, x -> length(x)),"
                    " 0L, (acc, x) -> acc + x)"
                ).cast("double")
                / F.size("ws")
            ).alias("mean_len"),
            F.size(
                F.expr(f"filter(ws, x -> x IN ({_STOPWORDS}))")
            ).alias("stop_cnt"),
        )
    )
    fail_words = F.col("n_words") < 40
    fail_len = (F.col("mean_len") < 3) | (F.col("mean_len") > 10)
    fail_stop = F.col("stop_cnt") < 2
    as_cnt = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("long")  # noqa: E731
    return stats.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        as_cnt(fail_words).alias("n_fail_min_words"),
        as_cnt(fail_len).alias("n_fail_mean_word_len"),
        as_cnt(fail_stop).alias("n_fail_stopwords"),
        as_cnt(~fail_words & ~fail_len & ~fail_stop).alias("n_keep"),
    )


# ---------------------------------------------------------------------------
# l_chunk_overlap — RAG-style sliding-window chunking: 24-word windows
# with stride 16 (8-word overlap). Pure per-row explode of window
# starts; chunk text is rebuilt only to measure it (the chunk table a
# real pipeline would sink carries the same columns plus the slice).
# Map-only at any scale: no shuffle at all until a sink.
# ---------------------------------------------------------------------------
_CHUNK_W, _CHUNK_STRIDE = 24, 16


@query(
    "l_chunk_overlap",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, {tokens_sql('duckdb')} AS toks,
               len({tokens_sql('duckdb')}) AS n
        FROM documents
    ),
    starts AS (
        SELECT doc_id, toks, n,
               unnest(range(1, n + 1, {_CHUNK_STRIDE})) AS start_word
        FROM t
    )
    SELECT doc_id,
           CAST((start_word - 1) / {_CHUNK_STRIDE} + 1 AS BIGINT) AS chunk_idx,
           CAST(start_word AS BIGINT) AS start_word,
           CAST(least({_CHUNK_W}, n - start_word + 1) AS BIGINT)
               AS n_words_chunk,
           CAST(length(array_to_string(
               list_slice(toks, start_word, start_word + {_CHUNK_W} - 1), ' '))
               AS BIGINT) AS n_chars_chunk
    FROM starts
    """,
)
def l_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    W, S = _CHUNK_W, _CHUNK_STRIDE
    t = (
        load(spark, sf_dir, "documents")
        .select("doc_id", tokens().alias("toks"))
        .select("doc_id", "toks", F.size("toks").alias("n"))
    )
    starts = t.select(
        "doc_id",
        "toks",
        "n",
        F.explode(F.expr(f"sequence(1, n, {S})")).alias("start_word"),
    )
    return starts.select(
        "doc_id",
        F.expr(f"(start_word - 1) div {S} + 1").cast("long").alias("chunk_idx"),
        F.col("start_word").cast("long"),
        F.least(F.lit(W), F.col("n") - F.col("start_word") + 1)
        .cast("long")
        .alias("n_words_chunk"),
        F.length(
            F.array_join(F.slice(F.col("toks"), F.col("start_word"), W), " ")
        )
        .cast("long")
        .alias("n_chars_chunk"),
    )


# ---------------------------------------------------------------------------
# l_chunk_exact_dedup — chunk-level exact dedup (the cheap approximation
# of substring dedup used to de-boilerplate corpora): cut non-overlapping
# 8-word chunks, count identical chunks corpus-wide, report per-doc
# duplicated-chunk fractions. The corpus-wide frequency shuffle keys on
# xxhash64(chunk), never chunk text (the oracle groups raw strings —
# counts are hash-invariant); the join back to docs is the same hashed
# key. Duplicate chunks exist in the fixtures because the dedup tables
# plant exact/near-duplicate documents (see l3/l4).
# ---------------------------------------------------------------------------
_DCHUNK = 8


@query(
    "l_chunk_exact_dedup",
    oracle=f"""
    WITH chunks AS (
        SELECT doc_id,
               array_to_string(list_slice({tokens_sql('duckdb')},
                                          start_word,
                                          start_word + {_DCHUNK} - 1),
                               ' ') AS chunk
        FROM (SELECT doc_id, text,
                     unnest(range(1, len({tokens_sql('duckdb')}) + 1,
                                  {_DCHUNK})) AS start_word
              FROM documents)
    ),
    freq AS (SELECT chunk, count(*) AS n FROM chunks GROUP BY 1)
    SELECT c.doc_id,
           count(*) AS n_chunks,
           CAST(sum(CASE WHEN f.n > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_chunks,
           floor(CAST(sum(CASE WHEN f.n > 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*) * 1e6 + 0.5) / 1e6 AS dup_frac,
           (CAST(sum(CASE WHEN f.n > 1 THEN 1 ELSE 0 END) AS DOUBLE)
            / count(*) <= 0.5) AS keep
    FROM chunks c JOIN freq f USING (chunk)
    GROUP BY 1
    """,
)
def l_chunk_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    D = _DCHUNK
    chunks = (
        load(spark, sf_dir, "documents")
        .select("doc_id", tokens().alias("toks"))
        .select(
            "doc_id",
            "toks",
            F.explode(F.expr(f"sequence(1, size(toks), {D})")).alias(
                "start_word"
            ),
        )
        .select(
            "doc_id",
            F.xxhash64(
                F.array_join(F.slice("toks", F.col("start_word"), D), " ")
            ).alias("chunk_h"),
        )
    )
    freq = chunks.groupBy("chunk_h").agg(F.count(F.lit(1)).alias("n"))
    joined = chunks.join(freq, "chunk_h")
    dup = F.sum(F.when(F.col("n") > 1, 1).otherwise(0)).cast("long")
    per_doc = joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"), dup.alias("n_dup_chunks")
    )
    frac = F.col("n_dup_chunks").cast("double") / F.col("n_chunks")
    return per_doc.select(
        "doc_id",
        "n_chunks",
        "n_dup_chunks",
        (F.floor(frac * 1e6 + 0.5) / 1e6).alias("dup_frac"),
        (frac <= 0.5).alias("keep"),
    )


# ---------------------------------------------------------------------------
# l_unigram_logprob — unigram language-model scoring (the classic
# perplexity proxy for corpus quality): corpus word distribution, then
# each document's mean negative log2-probability. Two scans (one builds
# the vocabulary, one scores), both shuffling on hashed words only. The
# per-word -log2 p is quantized to DECIMAL(27,6) BEFORE summation so
# cross-row accumulation is exact and order-independent on both engines.
# The corpus total enters via a 1-row broadcast cross join (scalar
# combine — same pattern as the contamination audit).
# ---------------------------------------------------------------------------
@query(
    "l_unigram_logprob",
    oracle=f"""
    WITH words AS (
        SELECT doc_id, unnest({tokens_sql('duckdb')}) AS w FROM documents
    ),
    vocab AS (SELECT w, count(*) AS cnt FROM words GROUP BY 1),
    tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM vocab),
    scored AS (
        SELECT words.doc_id,
               -log2(CAST(v.cnt AS DOUBLE) / t.total) AS lp
        FROM words JOIN vocab v ON words.w = v.w CROSS JOIN tot t
    )
    SELECT doc_id,
           count(*) AS n_words,
           floor(CAST(sum(CAST(lp AS DECIMAL(27,6))) AS DOUBLE) / count(*)
                 * 1e4 + 0.5) / 1e4 AS avg_neg_log2p
    FROM scored GROUP BY 1
    """,
)
def l_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    words = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.explode(
            F.expr(f"transform({tokens_sql('spark')}, x -> xxhash64(x))")
        ).alias("w"),
    )
    vocab = words.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    total = vocab.agg(F.sum("cnt").cast("double").alias("total"))
    scored = words.join(maybe_broadcast(vocab), "w").crossJoin(
        maybe_broadcast(total)
    )
    lp = -F.log2(F.col("cnt").cast("double") / F.col("total"))
    return (
        scored.select("doc_id", lp.cast("decimal(27,6)").alias("lp"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            (
                F.floor(
                    F.sum("lp").cast("double") / F.count(F.lit(1)) * 1e4 + 0.5
                )
                / 1e4
            ).alias("avg_neg_log2p"),
        )
    )


# ---------------------------------------------------------------------------
# l_token_budget_mixture — domain-mixture sampling: give every language
# the same token budget and derive a per-language deterministic sampling
# rate; documents are kept by a hash-threshold rule so the sample is
# reproducible, order-free, and needs no global sort or count beyond the
# per-language totals (a tiny aggregate joined back broadcast-style).
# The keep rule uses integer arithmetic ((doc_id * 2654435761) % 10000)
# rather than xxhash64 because the oracle must compute the identical
# value in SQL.
# ---------------------------------------------------------------------------
_MIX_BUDGET = 1000  # tokens per language


@query(
    "l_token_budget_mixture",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, lang, len({tokens_sql('duckdb')}) AS n_tok,
               CAST((doc_id * 2654435761) % 10000 AS DOUBLE) / 10000.0 AS u
        FROM documents
    ),
    totals AS (
        SELECT lang, CAST(sum(n_tok) AS DOUBLE) AS lang_tokens FROM d GROUP BY 1
    ),
    rated AS (
        SELECT d.*, t.lang_tokens,
               least(1.0, {_MIX_BUDGET} / t.lang_tokens) AS rate
        FROM d JOIN totals t USING (lang)
    )
    SELECT lang,
           CAST(lang_tokens AS BIGINT) AS lang_tokens,
           floor(any_value(rate) * 1e6 + 0.5) / 1e6 AS rate,
           CAST(sum(CASE WHEN u < rate THEN 1 ELSE 0 END) AS BIGINT)
               AS n_docs_kept,
           CAST(sum(CASE WHEN u < rate THEN n_tok ELSE 0 END) AS BIGINT)
               AS tokens_kept
    FROM rated GROUP BY 1, 2
    """,
)
def l_token_budget_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.size(tokens()).alias("n_tok"),
        (((F.col("doc_id") * 2654435761) % 10000).cast("double") / 10000.0)
        .alias("u"),
    )
    totals = d.groupBy("lang").agg(
        F.sum("n_tok").cast("double").alias("lang_tokens")
    )
    rated = d.join(maybe_broadcast(totals), "lang").withColumn(
        "rate", F.least(F.lit(1.0), F.lit(float(_MIX_BUDGET)) / F.col("lang_tokens"))
    )
    kept = F.col("u") < F.col("rate")
    return rated.groupBy("lang", F.col("lang_tokens").cast("long").alias("lang_tokens")).agg(
        (F.floor(F.first("rate") * 1e6 + 0.5) / 1e6).alias("rate"),
        F.sum(F.when(kept, 1).otherwise(0)).cast("long").alias("n_docs_kept"),
        F.sum(F.when(kept, F.col("n_tok")).otherwise(0))
        .cast("long")
        .alias("tokens_kept"),
    )


# ---------------------------------------------------------------------------
# q_benford_first_digit — Benford's-law audit over order totals (the
# finance-domain anomaly screen a balance-report consumer runs): first
# significant digit distribution vs log10(1 + 1/d). One scan, one
# 9-group aggregate; the total enters via an unpartitioned window over
# the 9-row aggregate (not the base table).
# ---------------------------------------------------------------------------
@query(
    "q_benford_first_digit",
    oracle="""
    WITH digits AS (
        SELECT substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
                      1, 1) AS digit,
               count(*) AS n
        FROM orders WHERE o_totalprice >= 1 GROUP BY 1
    )
    SELECT digit, n,
           floor(CAST(n AS DOUBLE) / CAST(sum(n) OVER () AS DOUBLE)
                 * 1e6 + 0.5) / 1e6 AS frac,
           floor(log10(1.0 + 1.0 / CAST(digit AS BIGINT)) * 1e6 + 0.5) / 1e6
               AS benford_frac,
           floor(abs(CAST(n AS DOUBLE) / CAST(sum(n) OVER () AS DOUBLE)
                     - log10(1.0 + 1.0 / CAST(digit AS BIGINT)))
                 * 1e6 + 0.5) / 1e6 AS abs_dev
    FROM digits
    """,
)
def q_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    digits = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_totalprice") >= 1)
        .select(
            F.substring(
                F.floor("o_totalprice").cast("long").cast("string"), 1, 1
            ).alias("digit")
        )
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy()
    frac = F.col("n").cast("double") / F.sum("n").over(w).cast("double")
    benford = F.log10(1.0 + 1.0 / F.col("digit").cast("long"))
    return digits.select(
        "digit",
        "n",
        (F.floor(frac * 1e6 + 0.5) / 1e6).alias("frac"),
        (F.floor(benford * 1e6 + 0.5) / 1e6).alias("benford_frac"),
        (F.floor(F.abs(frac - benford) * 1e6 + 0.5) / 1e6).alias("abs_dev"),
    )


# ---------------------------------------------------------------------------
# q_ledger_reconciliation — the statement-vs-ledger audit from the
# reference's domain: recompute each order's total from its line items
# (per-line money-rounded to integer cents, then exactly summed) and
# reconcile against the order header, bucketing by RELATIVE drift (the
# synthetic fixtures do not derive o_totalprice from lineitems, so an
# exact-match bucket would be structurally empty — the audit instead
# grades drift severity, every bucket live at every SF). Integer cents
# end-to-end; the only double is the per-row relative-drift ratio
# (deterministic division). One shuffle (per-order line aggregate) +
# one equi-join on the order key.
# ---------------------------------------------------------------------------
@query(
    "q_ledger_reconciliation",
    oracle="""
    WITH derived AS (
        SELECT l_orderkey,
               sum(CAST(floor(l_extendedprice * (1 - l_discount)
                              * (1 + l_tax) * 100 + 0.5) AS BIGINT))
                   AS derived_cents
        FROM lineitem GROUP BY 1
    ),
    recon AS (
        SELECT year(o.o_orderdate) AS yr,
               CASE
                 WHEN d.l_orderkey IS NULL THEN 'no_lines'
                 WHEN abs(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT)
                          - d.derived_cents)
                      / CAST(d.derived_cents AS DOUBLE) <= 0.25
                     THEN 'within_25pct'
                 WHEN abs(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT)
                          - d.derived_cents)
                      / CAST(d.derived_cents AS DOUBLE) <= 1.0
                     THEN 'within_100pct'
                 ELSE 'over_100pct'
               END AS status,
               CASE WHEN d.l_orderkey IS NULL THEN 0
                    ELSE abs(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT)
                             - d.derived_cents) END AS drift_cents
        FROM orders o LEFT JOIN derived d ON o.o_orderkey = d.l_orderkey
    )
    SELECT yr, status, count(*) AS n_orders,
           CAST(sum(drift_cents) AS BIGINT) AS total_drift_cents
    FROM recon GROUP BY 1, 2
    """,
)
def q_ledger_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    line_cents = F.floor(
        F.col("l_extendedprice")
        * (1 - F.col("l_discount"))
        * (1 + F.col("l_tax"))
        * 100
        + 0.5
    ).cast("long")
    derived = (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.sum(line_cents).alias("derived_cents"))
    )
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.year("o_orderdate").alias("yr"),
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").alias("order_cents"),
    )
    rel = (
        F.abs(F.col("order_cents") - F.col("derived_cents"))
        / F.col("derived_cents").cast("double")
    )
    recon = orders.join(
        derived, orders.o_orderkey == derived.l_orderkey, "left"
    ).select(
        "yr",
        F.when(F.col("l_orderkey").isNull(), "no_lines")
        .when(rel <= 0.25, "within_25pct")
        .when(rel <= 1.0, "within_100pct")
        .otherwise("over_100pct")
        .alias("status"),
        F.when(F.col("l_orderkey").isNull(), F.lit(0).cast("long"))
        .otherwise(F.abs(F.col("order_cents") - F.col("derived_cents")))
        .alias("drift_cents"),
    )
    return recon.groupBy("yr", "status").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("drift_cents").cast("long").alias("total_drift_cents"),
    )


# ---------------------------------------------------------------------------
# Packing materializers — the library surface behind l_pack_sequences:
# not registered as queries (the stats query above carries the oracle);
# these produce the actual training sequences a pipeline would sink.
# ---------------------------------------------------------------------------
def pack_assignments(
    docs: DataFrame, capacity: int = _PACK_CAPACITY, shards: int = _PACK_SHARDS
) -> DataFrame:
    """Token-exact packing plan: one row per (document × sequence it
    touches) with the half-open token spans on both sides —
    ``doc_tok_start/end`` inside the document, ``seq_tok_start/end``
    inside the packed sequence. Deterministic in (doc_id) order within
    each ``doc_id % shards`` stream; same sharded prefix-sum machinery
    as l_pack_sequences, so the plan is one window + one bounded
    explode, no global sort. Columns: shard, seq_id, doc_id,
    doc_tok_start, doc_tok_end, seq_tok_start, seq_tok_end."""
    from pyspark.sql import Window as W

    d = docs.select(
        "doc_id",
        (F.col("doc_id") % shards).alias("shard"),
        F.size(tokens()).alias("n_tok"),
    )
    w = (
        W.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    c = d.withColumn("cum", F.sum("n_tok").over(w)).withColumn(
        "prev", F.col("cum") - F.col("n_tok")
    )
    spans = c.select(
        "shard",
        "doc_id",
        "prev",
        "cum",
        F.explode(
            F.expr(f"sequence(prev div {capacity}, (cum - 1) div {capacity})")
        ).alias("seq_id"),
    )
    lo = F.greatest(F.col("prev"), F.col("seq_id") * capacity)
    hi = F.least(F.col("cum"), (F.col("seq_id") + 1) * capacity)
    return spans.select(
        "shard",
        "seq_id",
        "doc_id",
        (lo - F.col("prev")).cast("long").alias("doc_tok_start"),
        (hi - F.col("prev")).cast("long").alias("doc_tok_end"),
        (lo - F.col("seq_id") * capacity).cast("long").alias("seq_tok_start"),
        (hi - F.col("seq_id") * capacity).cast("long").alias("seq_tok_end"),
    )


def packed_sequence_texts(
    docs: DataFrame, capacity: int = _PACK_CAPACITY, shards: int = _PACK_SHARDS
) -> DataFrame:
    """Materialize the packed sequences themselves: join the assignment
    plan back to the tokenized docs, slice each document's contribution,
    and reassemble per (shard, seq_id) with an order-safe
    sort_array(collect_list(struct(offset, slice))) — no window over
    text, no global sort; the only wide ops are the doc_id equi-join
    and the (shard, seq_id) aggregation. Returns shard, seq_id,
    n_tokens, text (space-joined token sequence)."""
    plan = pack_assignments(docs, capacity, shards)
    toks = docs.select("doc_id", tokens().alias("ws"))
    sliced = plan.join(toks, "doc_id").select(
        "shard",
        "seq_id",
        "seq_tok_start",
        F.expr(
            "slice(ws, CAST(doc_tok_start + 1 AS INT),"
            " CAST(doc_tok_end - doc_tok_start AS INT))"
        ).alias("piece"),
    )
    return (
        sliced.groupBy("shard", "seq_id")
        .agg(
            F.array_join(
                F.flatten(
                    F.expr(
                        "transform(sort_array(collect_list("
                        "struct(seq_tok_start, piece))), x -> x.piece)"
                    )
                ),
                " ",
            ).alias("text")
        )
        .select(
            "shard",
            "seq_id",
            F.size(tokens()).cast("long").alias("n_tokens"),
            "text",
        )
    )


# ---------------------------------------------------------------------------
# l_trigram_novelty — corpus novelty curve: for every distinct trigram,
# its first-seen document is min(doc_id); a document's novel trigrams
# are those it introduces. Reported per language as integer trigram /
# first-seen totals plus their ratio (one final per-group division —
# the sums are exact BIGINTs, so the ratio is cross-engine exact).
# Data-curation use: dated dumps with low novelty against the
# accumulated corpus are mostly duplicates and can be down-weighted.
# Scale (100 TB): distinct (doc, trigram) pairs shuffle on
# xxhash64(trigram) — never trigram text (counts and min(doc_id) are
# hash-invariant modulo a ~n²/2^65 collision, which the raw-string
# oracle would surface); one global min per key, one join back, one
# per-lang aggregate. No all-pairs anything.
# ---------------------------------------------------------------------------
@query(
    "l_trigram_novelty",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, lang, {tokens_sql('duckdb')} AS ws FROM documents
    ),
    tri AS (
        SELECT DISTINCT doc_id, lang,
               ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2] AS tg
        FROM w, UNNEST(generate_series(1, len(ws) - 2)) AS t(i)
        WHERE len(ws) >= 3
    ),
    firsts AS (SELECT tg, min(doc_id) AS first_doc FROM tri GROUP BY 1)
    SELECT t.lang,
           CAST(count(*) AS BIGINT) AS doc_trigrams,
           CAST(sum(CASE WHEN f.first_doc = t.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS first_seen,
           floor(CAST(sum(CASE WHEN f.first_doc = t.doc_id THEN 1 ELSE 0 END)
                      AS DOUBLE)
                 / CAST(count(*) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS novelty
    FROM tri t JOIN firsts f USING (tg)
    GROUP BY 1
    """,
)
def l_trigram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = (
        load(spark, sf_dir, "documents")
        .select("doc_id", "lang", tokens().alias("ws"))
        .where(F.size("ws") >= 3)  # Spark sequence(1, 0) would DESCEND
    )
    tri = w.select(
        "doc_id",
        "lang",
        F.explode(F.sequence(F.lit(1), F.size("ws") - 2)).alias("i"),
        "ws",
    ).select(
        "doc_id",
        "lang",
        F.xxhash64(
            F.concat_ws(
                " ",
                F.expr("ws[i - 1]"),
                F.expr("ws[i]"),
                F.expr("ws[i + 1]"),
            )
        ).alias("h"),
    ).distinct()
    firsts = tri.groupBy("h").agg(F.min("doc_id").alias("first_doc"))
    novel = F.sum(
        F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    ).cast("long")
    return (
        tri.join(firsts, "h")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("doc_trigrams"),
            novel.alias("first_seen"),
            (
                F.floor(
                    novel.cast("double")
                    / F.count(F.lit(1)).cast("double")
                    * 1e6
                    + 0.5
                )
                / 1e6
            ).alias("novelty"),
        )
    )


# ---------------------------------------------------------------------------
# l_dataset_card — the one-row corpus summary a dataset release ships
# (HuggingFace dataset-card numbers): document/language counts, token
# totals, exact-duplicate rate, English share, mean document length.
# ONE scan of documents computes every number (all aggregates ride a
# single hash-aggregate pass); ratios divide exact integer sums, so the
# row is cross-engine exact. At 100 TB this is the cheapest possible
# shape — no joins, no windows, map-side partials all the way.
# ---------------------------------------------------------------------------
@query(
    "l_dataset_card",
    oracle=f"""
    SELECT count(*) AS n_docs,
           count(DISTINCT lang) AS n_langs,
           count(DISTINCT source) AS n_sources,
           CAST(sum(len({tokens_sql('duckdb')})) AS BIGINT) AS total_tokens,
           count(*) - count(DISTINCT md5(text)) AS exact_dup_docs,
           CAST(sum(CASE WHEN lang = 'en'
                         THEN len({tokens_sql('duckdb')}) ELSE 0 END)
                AS BIGINT) AS en_tokens,
           floor(CAST(sum(len({tokens_sql('duckdb')})) AS DOUBLE)
                 / count(*) * 1e6 + 0.5) / 1e6 AS mean_doc_tokens
    FROM documents
    """,
)
def l_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").withColumn(
        "n_tok", F.size(tokens())
    )
    tok_sum = F.sum("n_tok").cast("long")
    return d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        tok_sum.alias("total_tokens"),
        (F.count(F.lit(1)) - F.countDistinct(F.md5("text"))).alias(
            "exact_dup_docs"
        ),
        F.sum(F.when(F.col("lang") == "en", F.col("n_tok")).otherwise(0))
        .cast("long")
        .alias("en_tokens"),
        (
            F.floor(
                tok_sum.cast("double") / F.count(F.lit(1)).cast("double") * 1e6
                + F.lit(0.5)
            )
            / 1e6
        ).alias("mean_doc_tokens"),
    )


# ---------------------------------------------------------------------------
# Per-source document cap — the "domain cap" downsampling every crawl
# pipeline applies so no single domain dominates the mixture. Docs
# within a source are ranked by a deterministic content-independent
# shuffle key (md5 of the doc id — stable across runs and engines, no
# seed), and ranks above the cap are dropped. Output is the per-source
# accounting; the kept set itself is the rank ≤ cap slice of the same
# window. One window per source (shuffle key = source, input
# (source, doc_id, n_chars) — never text).
# ---------------------------------------------------------------------------
_DOMAIN_CAP = 60


@query(
    "l_domain_cap_sample",
    oracle=f"""
    WITH ranked AS (
        SELECT source, n_chars,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS rk
        FROM documents
    )
    SELECT source, count(*) AS n_docs,
           CAST(sum(CASE WHEN rk <= {_DOMAIN_CAP} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN rk <= {_DOMAIN_CAP} THEN 0 ELSE 1 END)
                AS BIGINT) AS n_dropped,
           CAST(sum(CASE WHEN rk <= {_DOMAIN_CAP} THEN n_chars ELSE 0 END)
                AS BIGINT) AS kept_chars
    FROM ranked GROUP BY 1 ORDER BY 1
    """,
)
def l_domain_cap_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    ranked = (
        load(spark, sf_dir, "documents")
        .select("source", "doc_id", "n_chars")
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("source").orderBy(
                    F.md5(F.col("doc_id").cast("string")), "doc_id"
                )
            ),
        )
    )
    kept = F.col("rk") <= _DOMAIN_CAP
    return (
        ranked.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(kept, 1).otherwise(0)).alias("n_kept"),
            F.sum(F.when(kept, 0).otherwise(1)).alias("n_dropped"),
            F.sum(F.when(kept, F.col("n_chars")).otherwise(0)).alias(
                "kept_chars"
            ),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q_benford_chi2 — the formal companion to q_benford_first_digit: the
# chi-squared goodness-of-fit statistic of the first-digit distribution
# against Benford, plus the 5% verdict (χ² critical value, df=8). The
# expected share is rounded to 1e-9 BEFORE the χ² arithmetic (log10 on
# both engines' libm may differ in the last ulp) and each digit's term
# is rounded to DECIMAL(27,9) before the exact 9-row summation — the
# zipf/theil round-then-sum policy end to end.
# ---------------------------------------------------------------------------
_CHI2_CRIT_5PCT_DF8 = 15.50731  # upper 5% point of chi-squared, df = 8


@query(
    "q_benford_chi2",
    oracle=f"""
    WITH digits AS (
        SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
                                AS VARCHAR), 1, 1) AS BIGINT) AS d,
               count(*) AS n
        FROM orders WHERE o_totalprice >= 1 GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(n) AS DOUBLE) AS t FROM digits),
    terms AS (
        SELECT CAST((n - t * e) * (n - t * e) / (t * e) AS DECIMAL(27,9))
               AS term
        FROM (
            SELECT n, t,
                   floor(log10(1.0 + 1.0 / d) * 1e9 + 0.5) / 1e9 AS e
            FROM digits CROSS JOIN tot
        )
    )
    SELECT CAST(t AS BIGINT) AS n_orders,
           floor(CAST(sum(term) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS chi2,
           8 AS df,
           CAST(sum(term) AS DOUBLE) > {_CHI2_CRIT_5PCT_DF8}
               AS reject_benford_5pct
    FROM terms CROSS JOIN tot
    GROUP BY t
    """,
)
def q_benford_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    digits = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_totalprice") >= 1)
        .select(
            F.substring(
                F.floor("o_totalprice").cast("long").cast("string"), 1, 1
            )
            .cast("long")
            .alias("d")
        )
        .groupBy("d")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = digits.agg(F.sum("n").cast("double").alias("t"))
    e = F.floor(F.log10(1.0 + 1.0 / F.col("d")) * 1e9 + F.lit(0.5)) / 1e9
    terms = (
        digits.crossJoin(F.broadcast(tot))
        .withColumn("e", e)
        .select(
            "t",
            (
                (F.col("n") - F.col("t") * F.col("e"))
                * (F.col("n") - F.col("t") * F.col("e"))
                / (F.col("t") * F.col("e"))
            )
            .cast("decimal(27,9)")
            .alias("term"),
        )
    )
    chi2 = F.sum("term").cast("double")
    return terms.groupBy("t").agg(
        F.col("t").cast("long").alias("n_orders"),
        (F.floor(chi2 * 1e6 + F.lit(0.5)) / 1e6).alias("chi2"),
        F.lit(8).alias("df"),
        (chi2 > _CHI2_CRIT_5PCT_DF8).alias("reject_benford_5pct"),
    ).drop("t")


# ---------------------------------------------------------------------------
# SFT pair formatting — the last mile of a fine-tuning data pipeline:
# split each document at the token midpoint into (prompt, completion),
# render the chat-template string, and emit the pair with its token
# budget. Map-only string assembly (no shuffle at all at any scale);
# the template render is hash-checked via md5 so the oracle proves
# byte-exact formatting without hauling the full text through the
# compare.
# ---------------------------------------------------------------------------
_SFT_MIN_TOKENS = 8
_SFT_TMPL_USER = "<|user|>\n"
_SFT_TMPL_ASSISTANT = "\n<|assistant|>\n"


@query(
    "l_sft_format_pairs",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {tokens_sql('duckdb')} AS ws FROM documents
        WHERE len({tokens_sql('duckdb')}) >= {_SFT_MIN_TOKENS}
    ),
    halves AS (
        SELECT doc_id,
               len(ws) // 2 AS n_prompt,
               len(ws) - len(ws) // 2 AS n_completion,
               array_to_string(ws[1 : len(ws) // 2], ' ') AS prompt,
               array_to_string(ws[len(ws) // 2 + 1 : len(ws)], ' ')
                   AS completion
        FROM toks
    )
    SELECT doc_id,
           CAST(n_prompt AS BIGINT) AS n_prompt,
           CAST(n_completion AS BIGINT) AS n_completion,
           md5('{_SFT_TMPL_USER}' || prompt ||
               '{_SFT_TMPL_ASSISTANT}' || completion) AS formatted_md5,
           CAST(length('{_SFT_TMPL_USER}' || prompt ||
                       '{_SFT_TMPL_ASSISTANT}' || completion) AS BIGINT)
               AS n_chars
    FROM halves
    """,
)
def l_sft_format_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (
        load(spark, sf_dir, "documents")
        .select("doc_id", tokens().alias("ws"))
        .where(F.size("ws") >= _SFT_MIN_TOKENS)
    )
    half = (F.size("ws") / 2).cast("int")
    halves = docs.select(
        "doc_id",
        half.alias("n_prompt"),
        (F.size("ws") - half).alias("n_completion"),
        F.array_join(F.slice(F.col("ws"), 1, half), " ").alias("prompt"),
        F.array_join(
            F.expr("slice(ws, CAST(size(ws) / 2 AS INT) + 1, "
                   "size(ws) - CAST(size(ws) / 2 AS INT))"),
            " ",
        ).alias("completion"),
    )
    formatted = F.concat(
        F.lit(_SFT_TMPL_USER),
        F.col("prompt"),
        F.lit(_SFT_TMPL_ASSISTANT),
        F.col("completion"),
    )
    return halves.select(
        "doc_id",
        F.col("n_prompt").cast("long").alias("n_prompt"),
        F.col("n_completion").cast("long").alias("n_completion"),
        F.md5(formatted).alias("formatted_md5"),
        F.length(formatted).cast("long").alias("n_chars"),
    )


# ---------------------------------------------------------------------------
# Bigram-LM cross-entropy — the step up from l_unigram_logprob: the
# corpus scored under its own add-one-smoothed bigram model,
# H = −(1/N) Σ_types c(w1,w2)·ln[(c(w1,w2)+1)/(c(w1·)+V)]. The
# fluency/quality signal used to rank corpora before training. Every
# count is an exact BIGINT; each bigram type's weighted log term is
# rounded to DECIMAL(27,9) BEFORE the summation (zipf policy), so the
# aggregate is order-free and engine-portable. Two equi-key
# aggregations over one bigram explode; V and N ride scalar
# broadcasts.
# ---------------------------------------------------------------------------
@query(
    "l_bigram_cross_entropy",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {tokens_sql('duckdb')} AS ws
                  FROM documents),
    big AS (
        SELECT ws[i + 1] AS w1, ws[i + 2] AS w2
        FROM (SELECT ws, unnest(range(greatest(len(ws) - 2, 0) + 1)) AS i
              FROM toks)
        WHERE i + 2 <= len(ws)
    ),
    c12 AS (SELECT w1, w2, count(*) AS n12 FROM big GROUP BY 1, 2),
    c1 AS (SELECT w1, CAST(sum(n12) AS BIGINT) AS n1 FROM c12 GROUP BY 1),
    vocab AS (
        SELECT count(DISTINCT w) AS v
        FROM (SELECT unnest({tokens_sql('duckdb')}) AS w FROM documents)
    ),
    terms AS (
        SELECT CAST(c12.n12 * (ln(CAST(c12.n12 + 1 AS DOUBLE))
                               - ln(CAST(c1.n1 + vocab.v AS DOUBLE)))
                    AS DECIMAL(27,9)) AS t,
               c12.n12
        FROM c12 JOIN c1 ON c12.w1 = c1.w1 CROSS JOIN vocab
    )
    SELECT CAST(sum(n12) AS BIGINT) AS n_bigrams,
           (SELECT CAST(v AS BIGINT) FROM vocab) AS vocab_size,
           floor(-CAST(sum(t) AS DOUBLE) / sum(n12) * 1e6 + 0.5) / 1e6
               AS cross_entropy_nats
    FROM terms
    HAVING count(*) >= 1  -- no bigrams, no model: emit nothing
    """,
)
def l_bigram_cross_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", tokens().alias("ws")
    )
    big = (
        docs.select(
            F.explode(
                F.expr(
                    # try_element_at: the struct is built BEFORE the
                    # validity filter runs, so a 1-word doc would throw
                    # under ANSI with plain element_at (adversarial-
                    # fixture catch).
                    "filter(transform(sequence(0, greatest(size(ws) - 2, 0)),"
                    " i -> struct(try_element_at(ws, i + 1) AS w1,"
                    "             try_element_at(ws, i + 2) AS w2,"
                    "             i + 2 <= size(ws) AS valid)),"
                    " p -> p.valid)"
                )
            ).alias("p")
        )
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )
    c12 = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n12"))
    c1 = c12.groupBy("w1").agg(F.sum("n12").cast("long").alias("n1"))
    vocab = (
        load(spark, sf_dir, "documents")
        .select(F.explode(tokens()).alias("w"))
        .agg(F.countDistinct("w").alias("v"))
    )
    terms = (
        c12.join(c1, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "n12",
            (
                F.col("n12")
                * (
                    F.log((F.col("n12") + 1).cast("double"))
                    - F.log((F.col("n1") + F.col("v")).cast("double"))
                )
            )
            .cast("decimal(27,9)")
            .alias("t"),
            "v",
        )
    )
    return terms.groupBy("v").agg(
        F.sum("n12").cast("long").alias("n_bigrams"),
        F.col("v").cast("long").alias("vocab_size"),
        (
            F.floor(
                -F.sum("t").cast("double") / F.sum("n12") * 1e6 + F.lit(0.5)
            )
            / 1e6
        ).alias("cross_entropy_nats"),
    ).drop("v")


# ---------------------------------------------------------------------------
# l_perplexity_buckets — CCNet-style corpus split: score every document
# under the corpus unigram LM (the l_unigram_logprob machinery) and cut
# each language into head/middle/tail terciles by per-word
# -log2 p — the head/middle/tail partition CCNet uses to grade crawl
# quality before sampling. Per-doc scores are floored to the 1e-4 grid
# first (exact DECIMAL thereafter), the tercile cut is ntile(3) with a
# doc_id tiebreak (total order → identical buckets cross-engine), and
# bucket means accumulate at DECIMAL(27,4). Plan: vocabulary aggregate +
# broadcast-joined scoring scan (the LM is vocabulary-sized, never
# corpus-sized), then a per-language window over the doc-level rollup.
# ---------------------------------------------------------------------------
@query(
    "l_perplexity_buckets",
    oracle=f"""
    WITH words AS (
        SELECT doc_id, lang, unnest({tokens_sql('duckdb')}) AS w
        FROM documents
    ),
    vocab AS (SELECT w, count(*) AS cnt FROM words GROUP BY 1),
    tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM vocab),
    scored AS (
        SELECT words.doc_id, words.lang,
               -log2(CAST(v.cnt AS DOUBLE) / t.total) AS lp
        FROM words JOIN vocab v ON words.w = v.w CROSS JOIN tot t
    ),
    per_doc AS (
        SELECT doc_id, lang,
               floor(CAST(sum(CAST(lp AS DECIMAL(27,6))) AS DOUBLE)
                     / count(*) * 1e4 + 0.5) / 1e4 AS score
        FROM scored GROUP BY 1, 2
    ),
    cut AS (
        SELECT lang, score,
               ntile(3) OVER (PARTITION BY lang ORDER BY score, doc_id)
                   AS tercile
        FROM per_doc
    )
    SELECT lang,
           CASE tercile WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                ELSE 'tail' END AS bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           floor(CAST(sum(CAST(score AS DECIMAL(27,4))) AS DOUBLE)
                 / count(*) * 1e6 + 0.5) / 1e6 AS mean_score,
           min(score) AS min_score,
           max(score) AS max_score
    FROM cut GROUP BY lang, tercile ORDER BY lang, bucket
    """,
)
def l_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    words = load(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.explode(
            F.expr(f"transform({tokens_sql('spark')}, x -> xxhash64(x))")
        ).alias("w"),
    )
    vocab = words.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    total = vocab.agg(F.sum("cnt").cast("double").alias("total"))
    scored = words.join(maybe_broadcast(vocab), "w").crossJoin(
        maybe_broadcast(total)
    )
    lp = -F.log2(F.col("cnt").cast("double") / F.col("total"))
    per_doc = (
        scored.select(
            "doc_id", "lang", lp.cast("decimal(27,6)").alias("lp")
        )
        .groupBy("doc_id", "lang")
        .agg(
            (
                F.floor(
                    F.sum("lp").cast("double") / F.count(F.lit(1)) * 1e4
                    + F.lit(0.5)
                )
                / 1e4
            ).alias("score")
        )
    )
    cut = per_doc.select(
        "lang",
        "score",
        F.ntile(3)
        .over(Window.partitionBy("lang").orderBy("score", "doc_id"))
        .alias("tercile"),
    )
    bucket = (
        F.when(F.col("tercile") == 1, "head")
        .when(F.col("tercile") == 2, "middle")
        .otherwise("tail")
    )
    return (
        cut.groupBy("lang", "tercile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            (
                F.floor(
                    F.sum(F.col("score").cast("decimal(27,4)")).cast("double")
                    / F.count(F.lit(1))
                    * 1e6
                    + F.lit(0.5)
                )
                / 1e6
            ).alias("mean_score"),
            F.min("score").alias("min_score"),
            F.max("score").alias("max_score"),
        )
        .select(
            "lang",
            bucket.alias("bucket"),
            "n_docs",
            "mean_score",
            "min_score",
            "max_score",
        )
        .orderBy("lang", "bucket")
    )


# ---------------------------------------------------------------------------
# l_kneser_ney_bigram — corpus cross-entropy under an absolute-discount
# Kneser–Ney bigram LM, side by side with the add-one baseline
# (l_bigram_cross_entropy): the smoothing that actually ships in LM
# data work, built entirely from exact integer count tables — bigram
# counts, context totals, follower fan-out N1+(w1,·), continuation
# fan-in N1+(·,w2) and the bigram-type total — all one shuffle family
# on hashed words. P_KN(w2|w1) = (c−D)/c(w1) + D·N1+(w1,·)/c(w1) ·
# N1+(·,w2)/T with D=0.75 (exact in binary); every per-type ln term is
# rounded to DECIMAL(27,9) before the order-free weighted sum
# (cross-libm policy). Scoring the corpus under its own model keeps
# every bigram in-vocabulary, so the discounted term is positive and
# the comparison isolates the smoothing difference.
# ---------------------------------------------------------------------------
@query(
    "l_kneser_ney_bigram",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {tokens_sql('duckdb')} AS ws
                  FROM documents),
    big AS (
        SELECT ws[i + 1] AS w1, ws[i + 2] AS w2
        FROM (SELECT ws, unnest(range(greatest(len(ws) - 2, 0) + 1)) AS i
              FROM toks)
        WHERE i + 2 <= len(ws)
    ),
    c12 AS (SELECT w1, w2, count(*) AS n12 FROM big GROUP BY 1, 2),
    c1 AS (SELECT w1, CAST(sum(n12) AS BIGINT) AS n1,
                  count(*) AS fo1
           FROM c12 GROUP BY 1),
    cont AS (SELECT w2, count(*) AS fi2 FROM c12 GROUP BY 1),
    tt AS (SELECT count(*) AS t FROM c12),
    vocab AS (
        SELECT count(DISTINCT w) AS v
        FROM (SELECT unnest({tokens_sql('duckdb')}) AS w FROM documents)
    ),
    terms AS (
        SELECT c12.n12,
               CAST(c12.n12 * ln(
                   (CAST(c12.n12 AS DOUBLE) - 0.75) / c1.n1
                   + 0.75 * c1.fo1 / c1.n1
                     * (CAST(cont.fi2 AS DOUBLE) / tt.t))
                   AS DECIMAL(27,9)) AS tkn,
               CAST(c12.n12 * (ln(CAST(c12.n12 + 1 AS DOUBLE))
                               - ln(CAST(c1.n1 + vocab.v AS DOUBLE)))
                    AS DECIMAL(27,9)) AS tao
        FROM c12
        JOIN c1 ON c12.w1 = c1.w1
        JOIN cont ON c12.w2 = cont.w2
        CROSS JOIN tt CROSS JOIN vocab
    )
    SELECT CAST(sum(n12) AS BIGINT) AS n_bigram_tokens,
           (SELECT CAST(t AS BIGINT) FROM tt) AS n_bigram_types,
           floor(-CAST(sum(tkn) AS DOUBLE) / sum(n12) * 1e6 + 0.5) / 1e6
               AS kn_cross_entropy_nats,
           floor(-CAST(sum(tao) AS DOUBLE) / sum(n12) * 1e6 + 0.5) / 1e6
               AS addone_cross_entropy_nats
    FROM terms
    HAVING count(*) >= 1  -- no bigrams, no model: emit nothing
    """,
)
def l_kneser_ney_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", tokens().alias("ws")
    )
    big = docs.select(
        F.explode(
            F.expr(
                "filter(transform(sequence(0, greatest(size(ws) - 2, 0)),"
                " i -> struct(try_element_at(ws, i + 1) AS w1,"
                "             try_element_at(ws, i + 2) AS w2,"
                "             i + 2 <= size(ws) AS valid)),"
                " p -> p.valid)"
            )
        ).alias("p")
    ).select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    c12 = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n12"))
    c1 = c12.groupBy("w1").agg(
        F.sum("n12").cast("long").alias("n1"),
        F.count(F.lit(1)).alias("fo1"),
    )
    cont = c12.groupBy("w2").agg(F.count(F.lit(1)).alias("fi2"))
    tt = c12.agg(F.count(F.lit(1)).alias("t"))
    vocab = (
        load(spark, sf_dir, "documents")
        .select(F.explode(tokens()).alias("w"))
        .agg(F.countDistinct("w").alias("v"))
    )
    p_kn = (F.col("n12").cast("double") - 0.75) / F.col("n1") + F.lit(
        0.75
    ) * F.col("fo1") / F.col("n1") * (
        F.col("fi2").cast("double") / F.col("t")
    )
    p_ao = F.log((F.col("n12") + 1).cast("double")) - F.log(
        (F.col("n1") + F.col("v")).cast("double")
    )
    terms = (
        c12.join(c1, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(tt))
        .crossJoin(F.broadcast(vocab))
        .select(
            "n12",
            (F.col("n12") * F.log(p_kn)).cast("decimal(27,9)").alias("tkn"),
            (F.col("n12") * p_ao).cast("decimal(27,9)").alias("tao"),
        )
    )
    return (
        terms.crossJoin(F.broadcast(tt))
        .agg(
            F.sum("n12").cast("long").alias("n_bigram_tokens"),
            F.max("t").cast("long").alias("n_bigram_types"),
            (
                F.floor(
                    -F.sum("tkn").cast("double") / F.sum("n12") * 1e6
                    + F.lit(0.5)
                )
                / 1e6
            ).alias("kn_cross_entropy_nats"),
            (
                F.floor(
                    -F.sum("tao").cast("double") / F.sum("n12") * 1e6
                    + F.lit(0.5)
                )
                / 1e6
            ).alias("addone_cross_entropy_nats"),
        )
        # No bigrams, no model: drop the NULL row the global aggregate
        # emits on an empty corpus (mirrors the oracle's HAVING).
        .where(F.col("n_bigram_tokens").isNotNull())
    )


# ---------------------------------------------------------------------------
# l_mixture_alpha_sampling — temperature-scaled multilingual mixture
# (the α-sampling of multilingual LM training, α = 0.7): languages are
# re-weighted p_l^α / Σ p^α so low-resource languages are up-sampled
# relative to their natural share, then documents are kept by the
# deterministic integer-hash threshold rule (the l_token_budget_mixture
# device) at the rate that realizes the target mixture under a fixed
# total token budget. pow() is not correctly rounded in libm, so the
# α-scaled weights — computed once per LANGUAGE, a handful of rows —
# are floored to the 1e-9 grid before any cross-engine comparison or
# downstream arithmetic (the l_zipf_fit policy, applied where the
# cardinality makes a boundary flip vanishingly unlikely).
# ---------------------------------------------------------------------------
_ALPHA_NUM = 0.7
_ALPHA_BUDGET = 20000  # total token budget across languages


@query(
    "l_mixture_alpha_sampling",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, lang, len({tokens_sql('duckdb')}) AS n_tok,
               CAST((doc_id * 2654435761) % 10000 AS DOUBLE) / 10000.0 AS u
        FROM documents
    ),
    lt AS (
        SELECT lang, CAST(sum(n_tok) AS DOUBLE) AS toks FROM d GROUP BY 1
    ),
    tot AS (SELECT sum(toks) AS t FROM lt),
    wts AS (
        SELECT lang, toks,
               floor(pow(toks / tot.t, {_ALPHA_NUM}) * 1e9 + 0.5) / 1e9 AS w
        FROM lt, tot
    ),
    wsum AS (SELECT sum(w) AS sw FROM wts),
    rated AS (
        SELECT w.lang, w.toks,
               floor(w.w / ws.sw * 1e9 + 0.5) / 1e9 AS alpha_share,
               least(1.0, floor(w.w / ws.sw * 1e9 + 0.5) / 1e9
                          * {_ALPHA_BUDGET} / w.toks) AS rate
        FROM wts w, wsum ws
    )
    SELECT r.lang,
           CAST(r.toks AS BIGINT) AS natural_tokens,
           floor(r.toks / t.t * 1e6 + 0.5) / 1e6 AS natural_share,
           floor(r.alpha_share * 1e6 + 0.5) / 1e6 AS alpha_share,
           floor(r.rate * 1e6 + 0.5) / 1e6 AS sample_rate,
           CAST((SELECT count(*) FROM d
                 WHERE d.lang = r.lang AND d.u < r.rate) AS BIGINT)
               AS docs_kept,
           CAST((SELECT coalesce(sum(n_tok), 0) FROM d
                 WHERE d.lang = r.lang AND d.u < r.rate) AS BIGINT)
               AS tokens_kept
    FROM rated r, tot t ORDER BY r.lang
    """,
)
def l_mixture_alpha_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.size(tokens()).alias("n_tok"),
        (
            ((F.col("doc_id") * F.lit(2654435761)) % 10000).cast("double")
            / 10000.0
        ).alias("u"),
    )
    lt = d.groupBy("lang").agg(F.sum("n_tok").cast("double").alias("toks"))
    tot = lt.agg(F.sum("toks").alias("t"))
    r9 = lambda c: F.floor(c * 1e9 + F.lit(0.5)) / 1e9
    wts = lt.crossJoin(F.broadcast(tot)).select(
        "lang",
        "toks",
        "t",
        r9(F.pow(F.col("toks") / F.col("t"), F.lit(_ALPHA_NUM))).alias("w"),
    )
    wsum = wts.agg(F.sum("w").alias("sw"))
    rated = wts.crossJoin(F.broadcast(wsum)).select(
        "lang",
        "toks",
        "t",
        r9(F.col("w") / F.col("sw")).alias("alpha_share"),
        F.least(
            F.lit(1.0),
            r9(F.col("w") / F.col("sw")) * _ALPHA_BUDGET / F.col("toks"),
        ).alias("rate"),
    )
    kept = (
        d.join(F.broadcast(rated.select("lang", "rate")), "lang")
        .where(F.col("u") < F.col("rate"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("docs_kept"),
            F.sum("n_tok").cast("long").alias("tokens_kept"),
        )
    )
    f6 = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6
    return (
        rated.join(kept, "lang", "left")
        .select(
            "lang",
            F.col("toks").cast("long").alias("natural_tokens"),
            f6(F.col("toks") / F.col("t")).alias("natural_share"),
            f6(F.col("alpha_share")).alias("alpha_share"),
            f6(F.col("rate")).alias("sample_rate"),
            F.coalesce(F.col("docs_kept"), F.lit(0)).alias("docs_kept"),
            F.coalesce(F.col("tokens_kept"), F.lit(0)).alias("tokens_kept"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# l_dp_noised_counts — differentially-private count release for the
# per-source corpus histogram: Laplace(1/ε) noise via inverse-CDF
# sampling of a DETERMINISTIC md5-derived uniform (the engine's
# no-RNG rule: u = md5(source)/2^60, noise = −(1/ε)·sign(u−½)·
# ln(1−2|u−½|)), ε = 1. The privacy-release shape every data-sharing
# pipeline needs; determinism makes it oracle-exact (a production
# release would draw u from a sealed seed instead — only the seed
# changes). True counts ride along as audit columns (this is a test
# fixture, not a release). The ln product is absorbed into
# DECIMAL(27,9) before comparison (the PSI idiom) so libm ulp can
# never flip the hash. One aggregate; noise is per-GROUP, map-free.
# ---------------------------------------------------------------------------
_DP_EPS = 1.0


@query(
    "l_dp_noised_counts",
    oracle=f"""
    WITH g AS (
        SELECT source, count(*) AS n FROM documents GROUP BY 1
    ),
    u AS (
        SELECT source, n,
               CAST({h60_sql("source", "duckdb")} AS DOUBLE)
                   / 1152921504606846976.0 AS uv
        FROM g
    )
    SELECT source, CAST(n AS BIGINT) AS true_count,
           CAST(CAST(
               CASE WHEN uv >= 0.5
                    THEN -(1.0 / {_DP_EPS}) * ln(1 - 2 * (uv - 0.5))
                    ELSE  (1.0 / {_DP_EPS}) * ln(1 - 2 * (0.5 - uv)) END
               AS DECIMAL(27,9)) AS DOUBLE) AS noise,
           CAST(CAST(n + CASE WHEN uv >= 0.5
                    THEN -(1.0 / {_DP_EPS}) * ln(1 - 2 * (uv - 0.5))
                    ELSE  (1.0 / {_DP_EPS}) * ln(1 - 2 * (0.5 - uv)) END
               AS DECIMAL(27,9)) AS DOUBLE) AS released_count
    FROM u ORDER BY source
    """,
)
def l_dp_noised_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = (
        load(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    uv = (
        F.expr(h60_sql("source", "spark")).cast("double")
        / F.lit(1152921504606846976.0)
    )
    noise_raw = F.when(
        uv >= 0.5, -(1.0 / _DP_EPS) * F.log(1 - 2 * (uv - F.lit(0.5)))
    ).otherwise((1.0 / _DP_EPS) * F.log(1 - 2 * (F.lit(0.5) - uv)))
    return g.select(
        "source",
        F.col("n").cast("long").alias("true_count"),
        noise_raw.cast("decimal(27,9)").cast("double").alias("noise"),
        (F.col("n") + noise_raw)
        .cast("decimal(27,9)")
        .cast("double")
        .alias("released_count"),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# l_span_mask_ratio — MLM masking plan: mask each token position where
# md5(doc_id ':' pos) mod 100 < 15 (the BERT-style 15% rate, drawn
# from the engine's deterministic hash family instead of an RNG so
# the plan is reproducible and oracle-exact). Report per doc-length
# bucket: docs, tokens, masked tokens and the realized mask ratio —
# the drift check that catches a masking bug before a training run
# does. Map-side posexplode + one aggregate; nothing but (bucket,
# counts) shuffles.
# ---------------------------------------------------------------------------
@query(
    "l_span_mask_ratio",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, len({tokens_sql('duckdb')}) AS n_tok,
               unnest(range(len({tokens_sql('duckdb')}))) AS pos
        FROM documents
    ),
    flagged AS (
        SELECT doc_id, n_tok,
               CASE WHEN {h60_sql(
                        "CAST(doc_id AS VARCHAR) || ':' || CAST(pos AS VARCHAR)",
                        "duckdb")} % 100 < 15
                    THEN 1 ELSE 0 END AS m
        FROM toks
    ),
    per_doc AS (
        SELECT doc_id, max(n_tok) AS n_tok,
               CAST(sum(m) AS BIGINT) AS masked
        FROM flagged GROUP BY 1
    ),
    bucketed AS (
        SELECT CASE WHEN n_tok < 64 THEN 'a_short'
                    WHEN n_tok < 128 THEN 'b_medium'
                    ELSE 'c_long' END AS length_bucket,
               n_tok, masked
        FROM per_doc
    )
    SELECT length_bucket, count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens,
           CAST(sum(masked) AS BIGINT) AS n_masked,
           floor(CAST(sum(masked) AS DOUBLE) * 1e6 / sum(n_tok) + 0.5) / 1e6
               AS mask_ratio
    FROM bucketed GROUP BY 1 ORDER BY 1
    """,
)
def l_span_mask_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = (
        load(spark, sf_dir, "documents")
        .select("doc_id", tokens().alias("ws"))
        .select(
            "doc_id",
            F.size("ws").alias("n_tok"),
            F.posexplode(F.col("ws")).alias("pos", "tok"),
        )
    )
    m = (
        F.expr(
            h60_sql(
                "concat(CAST(doc_id AS STRING), ':', CAST(pos AS STRING))",
                "spark",
            )
        )
        % 100
        < 15
    ).cast("int")
    per_doc = (
        toks.select("doc_id", "n_tok", m.alias("m"))
        .groupBy("doc_id")
        .agg(
            F.max("n_tok").alias("n_tok"),
            F.sum("m").cast("long").alias("masked"),
        )
    )
    bucket = (
        F.when(F.col("n_tok") < 64, "a_short")
        .when(F.col("n_tok") < 128, "b_medium")
        .otherwise("c_long")
    )
    return (
        per_doc.select(bucket.alias("length_bucket"), "n_tok", "masked")
        .groupBy("length_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
            F.sum("masked").cast("long").alias("n_masked"),
            (
                F.floor(
                    F.sum("masked").cast("double") * 1e6 / F.sum("n_tok")
                    + F.lit(0.5)
                )
                / 1e6
            ).alias("mask_ratio"),
        )
        .orderBy("length_bucket")
    )


# ---------------------------------------------------------------------------
# l_shard_assignment_balance — content-hash shard planning: every doc
# is assigned shard = md5(text)₆₀ mod 16 (the md5-60bit idiom, engine-
# portable), and the report shows per-shard doc/token/char loads plus
# each shard's deviation from the ideal 1/16 share in parts-per-10k.
# This is the pre-flight audit for any hash-partitioned corpus write:
# CONTENT hashing (not doc_id) keeps duplicates co-sharded so
# shard-local dedup still catches them, and the deviation columns
# certify the hash spreads load evenly BEFORE 100 TB gets written into
# a skewed layout. Integer arithmetic end-to-end.
# ---------------------------------------------------------------------------
_N_SHARDS = 16


@query(
    "l_shard_assignment_balance",
    oracle=f"""
    WITH assigned AS (
        SELECT CAST({h60_sql("text", "duckdb")} % {_N_SHARDS} AS INTEGER)
                   AS shard,
               len({tokens_sql('duckdb')}) AS tk,
               length(text) AS ch
        FROM documents
    ),
    per AS (
        SELECT shard, count(*) AS n_docs,
               sum(tk) AS n_tokens, sum(ch) AS n_chars
        FROM assigned GROUP BY 1
    ),
    tot AS (SELECT sum(n_docs) AS td, sum(n_tokens) AS tt FROM per)
    SELECT p.shard,
           CAST(p.n_docs AS BIGINT) AS n_docs,
           CAST(p.n_tokens AS BIGINT) AS n_tokens,
           CAST(p.n_chars AS BIGINT) AS n_chars,
           CAST(floor((CAST(p.n_docs AS DOUBLE) / t.td - 1.0 / {_N_SHARDS})
                      * 1e4 + 0.5) AS BIGINT) AS doc_share_dev_bp,
           CAST(floor((CAST(p.n_tokens AS DOUBLE) / t.tt - 1.0 / {_N_SHARDS})
                      * 1e4 + 0.5) AS BIGINT) AS token_share_dev_bp
    FROM per p CROSS JOIN tot t
    ORDER BY p.shard
    """,
)
def l_shard_assignment_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    assigned = load(spark, sf_dir, "documents").select(
        F.expr(f"{h60_sql('text', 'spark')} % {_N_SHARDS}")
        .cast("int")
        .alias("shard"),
        F.size(tokens()).alias("tk"),
        F.length("text").alias("ch"),
    )
    per = assigned.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("tk").alias("n_tokens"),
        F.sum("ch").alias("n_chars"),
    )
    tot = per.agg(
        F.sum("n_docs").alias("td"), F.sum("n_tokens").alias("tt")
    )
    dev = lambda n, t: F.floor(  # noqa: E731
        (F.col(n).cast("double") / F.col(t) - 1.0 / _N_SHARDS) * 1e4
        + F.lit(0.5)
    ).cast("long")
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "shard",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("n_chars").cast("long").alias("n_chars"),
            dev("n_docs", "td").alias("doc_share_dev_bp"),
            dev("n_tokens", "tt").alias("token_share_dev_bp"),
        )
        .orderBy("shard")
    )


# ---------------------------------------------------------------------------
# l_feature_hashing — the hashing trick (Weinberger et al. 2009): map an
# unbounded token vocabulary into a fixed D=64-dimensional signed count
# vector without a driver-side dictionary. Bucket = md5-60bit(token)
# mod D (the registry's cross-engine md5 idiom), sign from an
# independent md5 nibble, so collisions cancel in expectation exactly as
# the estimator prescribes. Output is the corpus-level feature vector:
# per bucket the signed weight (exact BIGINT), occurrence count, and
# distinct-term count. One explode + one 64-group hash aggregate with
# map-side partial combine — no vocabulary shuffle, no driver state;
# this is the piece that lets a 100 TB corpus featurize in one pass.
# ---------------------------------------------------------------------------
_FHASH_D = 64


@query(
    "l_feature_hashing",
    oracle=f"""
    WITH tokw AS (
        SELECT unnest({tokens_sql('duckdb')}) AS w FROM documents
    ),
    hashed AS (
        SELECT w,
               {h60_sql("w", "duckdb")} % {_FHASH_D} AS bucket,
               CASE WHEN ascii(substring(md5(w), 16, 1)) % 2 = 0
                    THEN 1 ELSE -1 END AS sgn
        FROM tokw
    )
    SELECT bucket,
           CAST(sum(sgn) AS BIGINT) AS signed_weight,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(count(DISTINCT w) AS BIGINT) AS n_distinct_terms
    FROM hashed GROUP BY 1
    """,
)
def l_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    D = _FHASH_D
    tokw = (
        load(spark, sf_dir, "documents")
        .select(F.explode(tokens()).alias("w"))
    )
    hashed = tokw.select(
        "w",
        (
            h60_col("w") % D
        ).alias("bucket"),
        F.when(
            F.ascii(F.substring(F.md5("w"), 16, 1)) % 2 == 0, 1
        )
        .otherwise(-1)
        .alias("sgn"),
    )
    return hashed.groupBy("bucket").agg(
        F.sum("sgn").cast("long").alias("signed_weight"),
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.countDistinct("w").cast("long").alias("n_distinct_terms"),
    )


# ---------------------------------------------------------------------------
# l_model_quality_scorer — the model-INFERENCE pipeline stage: a trained
# (here: fixed, integer-quantized) logistic quality classifier applied
# to every document with broadcast weights, the fasttext-style
# keep/drop scorer every LLM data pipeline runs between heuristic
# filtering and training. Shape, not heuristics, is the point:
#
# - Feature extraction stays JVM-side (whole-stage codegen: split /
#   length / regexp_replace), so the Python boundary carries k small
#   integers per doc, never text.
# - The model runs as ONE Arrow-vectorized pandas UDF (ArrowEvalPython
#   in the plan): weights ride the UDF closure — on a cluster that IS a
#   broadcast (serialized once per executor, not per row/batch); the
#   dot product is exact int64 numpy (weights are micro-quantized
#   integers, the form a serving-optimized model ships in).
# - No shuffle anywhere: pure per-partition map at any scale.
# - Cross-engine exactness: the link is the RATIONAL "fast sigmoid"
#   0.5 + x/(2*(1+|x|)) — same monotone S-shape, but only IEEE basic
#   ops (abs/add/mul/div), which are bit-identical between numpy and
#   DuckDB; libm exp() would not be guaranteed to the last ulp. The
#   oracle replays feature extraction AND model in pure SQL, so the
#   whole inference path is hash-checked, not tolerance-checked.
# ---------------------------------------------------------------------------
_MODEL_W = {  # micro-units: a quantized serving checkpoint
    "n_tokens": 1800,
    "n_chars": -35,
    "n_digits": -420,
    "n_punct": -260,
    "n_stop": 900,
}
_MODEL_B = -120000  # intercept, micro-units
# The stopwords of both quality scores: the model's n_stop feature and
# the heuristic composite's stopword ratio.
_MODEL_STOPS = ("the", "a", "of", "and", "to", "in")


# ---------------------------------------------------------------------------
# The quality scores, one form per dialect. quality_features (Spark)
# and quality_features_sql (DuckDB) give the same per-document features
# and the model's logit; model_score_frame's UDF gives the logit again
# as an int64 dot product. heuristic_quality(_sql) is the composite
# 0.4·distinct/n + 0.3·(1 − stop/n) + 0.3·min(n/100, 1) over those
# features, in IEEE basic ops in the same order on both engines, so a
# threshold on it compares identical bits.
# ---------------------------------------------------------------------------
def quality_features(docs: DataFrame, *keep: str) -> DataFrame:
    """The ``keep`` columns of ``docs`` plus the quality features of its
    ``text`` (INT): n_tokens, n_distinct, n_stop, n_chars, n_digits,
    n_punct, and the model's logit as BIGINT ``logit_micro``. Columns a
    caller does not read are pruned from its plan."""
    stops = ", ".join(f"'{s}'" for s in _MODEL_STOPS)
    # The token array is projected once: Spark does not share split()
    # across references. The text is carried as _text so that ``keep``
    # may name ``text``.
    split = docs.select(
        *keep,
        F.length("text").alias("n_chars"),
        tokens().alias("_ws"),
        F.col("text").alias("_text"),
    )
    feats = split.select(
        *keep,
        F.size("_ws").alias("n_tokens"),
        F.size(F.array_distinct("_ws")).alias("n_distinct"),
        F.expr(f"size(filter(_ws, x -> x IN ({stops})))").alias("n_stop"),
        "n_chars",
        (
            F.col("n_chars") - F.length(F.regexp_replace("_text", "[0-9]", ""))
        ).alias("n_digits"),
        (
            F.col("n_chars")
            - F.length(F.regexp_replace("_text", "[.,!?;:]", ""))
        ).alias("n_punct"),
    )
    logit = sum(
        (F.col(f).cast("long") * w for f, w in _MODEL_W.items()),
        F.lit(_MODEL_B).cast("long"),
    )
    return feats.withColumn("logit_micro", logit)


def quality_features_sql(*keep: str) -> str:
    """DuckDB form of quality_features over ``documents``, as a
    parenthesized subquery."""
    stops = ", ".join(f"'{s}'" for s in _MODEL_STOPS)
    logit = " + ".join(f"{w} * {f}" for f, w in _MODEL_W.items())
    cols = "".join(f"{c}, " for c in keep)
    return f"""(
        SELECT *, CAST({logit} + {_MODEL_B} AS BIGINT) AS logit_micro
        FROM (
            SELECT {cols}len(ws) AS n_tokens,
                   len(list_distinct(ws)) AS n_distinct,
                   len(list_filter(ws, x -> x IN ({stops}))) AS n_stop,
                   length(text) AS n_chars,
                   length(text)
                       - length(regexp_replace(text, '[0-9]', '', 'g'))
                       AS n_digits,
                   length(text)
                       - length(regexp_replace(text, '[.,!?;:]', '', 'g'))
                       AS n_punct
            FROM (SELECT *, {tokens_sql('duckdb')} AS ws FROM documents)
        )
    )"""


def heuristic_quality() -> Column:
    """The heuristic composite over quality_features' columns."""
    n = F.col("n_tokens")
    return (
        F.lit(0.4) * (F.col("n_distinct").cast("double") / n)
        + F.lit(0.3) * (F.lit(1.0) - F.col("n_stop").cast("double") / n)
        + F.lit(0.3) * F.least(n.cast("double") / 100.0, F.lit(1.0))
    )


def heuristic_quality_sql() -> str:
    """DuckDB form of heuristic_quality."""
    return """(0.4 * (CAST(n_distinct AS DOUBLE) / n_tokens)
               + 0.3 * (1.0 - CAST(n_stop AS DOUBLE) / n_tokens)
               + 0.3 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0))"""


_MODEL_ORACLE = f"""
    SELECT doc_id, logit_micro,
           0.5 + (CAST(logit_micro AS DOUBLE) / 1000000.0)
               / (2.0 * (1.0 + abs(CAST(logit_micro AS DOUBLE)
                                   / 1000000.0))) AS score,
           CASE WHEN logit_micro >= 0 THEN 1 ELSE 0 END AS pred_keep
    FROM {quality_features_sql('doc_id')}
    """


def model_score_frame(docs: DataFrame, carry: tuple = ()) -> DataFrame:
    """Score any frame with a ``doc_id``/``text`` pair: JVM-side feature
    extraction + the Arrow pandas-UDF model. Shared by the batch query
    and the streaming micro-batch scorer (x20) so both run the EXACT
    same inference path. ``carry`` names extra columns to pass
    through."""
    from pyspark.sql.functions import pandas_udf

    # 'doc_id' is always emitted internally, so a caller carrying it
    # would project the same attribute twice.
    carry = tuple(c for c in carry if c != "doc_id")
    feats = quality_features(docs, *carry, "doc_id")

    # Weight vector pinned OUTSIDE the UDF in feature order; the closure
    # serializes once per executor (broadcast semantics on a cluster).
    import numpy as np

    w = np.array(list(_MODEL_W.values()), dtype=np.int64)
    b = np.int64(_MODEL_B)

    @pandas_udf("logit_micro long, score double")
    def infer(nt: pd.Series, nc: pd.Series, nd: pd.Series,
              np_: pd.Series, ns: pd.Series) -> pd.DataFrame:
        feats = (nt, nc, nd, np_, ns)
        # A NULL text has NULL features (NaN here): its logit and score
        # are NULL, as in SQL, not the int64 cast of a NaN.
        null = np.logical_or.reduce([s.isna().to_numpy() for s in feats])
        X = np.stack(
            [s.fillna(0).to_numpy(dtype=np.int64) for s in feats], axis=1
        )
        logit = X @ w + b  # exact int64
        x = logit.astype(np.float64) / 1000000.0
        score = 0.5 + x / (2.0 * (1.0 + np.abs(x)))
        return pd.DataFrame({
            "logit_micro": pd.arrays.IntegerArray(logit, null),
            "score": np.where(null, np.nan, score),
        })

    out = feats.select(*carry, "doc_id", infer(*_MODEL_W).alias("m"))
    return out.select(
        *carry,
        "doc_id",
        F.col("m.logit_micro").alias("logit_micro"),
        F.col("m.score").alias("score"),
        F.when(F.col("m.logit_micro") >= 0, 1).otherwise(0).alias("pred_keep"),
    )


@query("l_model_quality_scorer", oracle=_MODEL_ORACLE)
def l_model_quality_scorer(spark: SparkSession, sf_dir: str) -> DataFrame:
    return model_score_frame(load(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# l_scorer_agreement_audit — the QA gate you run BEFORE swapping the
# corpus filter from the heuristic rule to the trained model: one scan
# computes both verdicts per doc (the model's quantized logit and the
# heuristic quality composite) and reports the 2x2 agreement matrix
# with doc and token mass per cell. The interesting cells are the
# disagreements — model-keeps-heuristic-drops is the new data the model
# admits; heuristic-keeps-model-drops is what switching would discard.
# Single hash-aggregate over a map-side projection; no join, no UDF.
# ---------------------------------------------------------------------------
_HEUR_KEEP_THRESHOLD = 0.5


@query(
    "l_scorer_agreement_audit",
    oracle=f"""
    WITH verdicts AS (
        SELECT n_tokens,
               CASE WHEN logit_micro >= 0 THEN 1 ELSE 0 END AS model_keep,
               CASE WHEN {heuristic_quality_sql()} >= {_HEUR_KEEP_THRESHOLD}
                    THEN 1 ELSE 0 END AS heuristic_keep
        FROM {quality_features_sql()}
    )
    SELECT model_keep, heuristic_keep,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(coalesce(sum(n_tokens), 0) AS BIGINT) AS n_tokens
    FROM verdicts GROUP BY 1, 2
    """,
)
def l_scorer_agreement_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    verdicts = quality_features(load(spark, sf_dir, "documents")).select(
        "n_tokens",
        F.when(F.col("logit_micro") >= 0, 1).otherwise(0).alias("model_keep"),
        F.when(heuristic_quality() >= _HEUR_KEEP_THRESHOLD, 1)
        .otherwise(0)
        .alias("heuristic_keep"),
    )
    return verdicts.groupBy("model_keep", "heuristic_keep").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.coalesce(F.sum("n_tokens"), F.lit(0))
        .cast("long")
        .alias("n_tokens"),
    )


# ---------------------------------------------------------------------------
# l_scorer_drift_monitor — model-score DISTRIBUTION drift between the
# anchor corpus and the incoming batch (doc_id parity stands in for
# "scores at release time" vs "scores today"): the QA monitor a
# production filter runs continuously so a shifted input distribution
# (new crawl, new source mix) is caught before it silently changes the
# keep rate. Both halves run the EXACT inference path
# (model_score_frame — the same Arrow pandas-UDF model x20/x21 serve),
# scores bucket into 10 fixed decile-width bins (floor(score*10) —
# the rational fast-sigmoid is bit-exact IEEE arithmetic on both
# engines, so bucketing never straddles an ulp), and per-bin
# Laplace-smoothed PSI terms are cast to DECIMAL(27,9) before the
# cross-bin sum (the l_vocab_drift_psi idiom) so libm ulp noise can
# never flip the hash. Output: one row per bin with both counts, both
# smoothed shares, the PSI term, the PSI total, and the verdict
# classification. Two hash aggregates over one scored scan; the bin
# spine is 10 rows — driver-safe at any corpus size.
# ---------------------------------------------------------------------------
def _drift_oracle() -> str:
    return f"""
    WITH feats AS (
        SELECT doc_id % 2 AS half, logit_micro
        FROM {quality_features_sql('doc_id')}
    ),
    scored AS (
        SELECT half,
               0.5 + (CAST(logit_micro AS DOUBLE) / 1000000.0)
                   / (2.0 * (1.0 + abs(CAST(logit_micro AS DOUBLE)
                                       / 1000000.0))) AS score
        FROM feats
    ),
    bucketed AS (
        SELECT CAST(floor(score * 10) AS BIGINT) AS bucket, half
        FROM scored
    ),
    spine AS (SELECT unnest(range(10)) AS bucket),
    counts AS (
        SELECT s.bucket,
               CAST(coalesce(sum(CASE WHEN half = 0 THEN 1 END), 0)
                   AS BIGINT) AS n_ref,
               CAST(coalesce(sum(CASE WHEN half = 1 THEN 1 END), 0)
                   AS BIGINT) AS n_cur
        FROM spine s LEFT JOIN bucketed b ON s.bucket = b.bucket
        GROUP BY 1
    ),
    tots AS (SELECT sum(n_ref) AS t_ref, sum(n_cur) AS t_cur FROM counts),
    terms AS (
        SELECT c.bucket, c.n_ref, c.n_cur,
               (c.n_ref + 1.0) / (t.t_ref + 10) AS sr,
               (c.n_cur + 1.0) / (t.t_cur + 10) AS sc
        FROM counts c, tots t
    ),
    psi AS (
        SELECT bucket, n_ref, n_cur,
               floor(sr * 1e6 + 0.5) / 1e6 AS share_ref,
               floor(sc * 1e6 + 0.5) / 1e6 AS share_cur,
               CAST(CAST((sr - sc) * ln(sr / sc) AS DECIMAL(27,9))
                   AS DOUBLE) AS psi_term,
               CAST(sum(CAST((sr - sc) * ln(sr / sc) AS DECIMAL(27,9)))
                    OVER () AS DOUBLE) AS psi_total
        FROM terms
    )
    SELECT bucket, n_ref, n_cur, share_ref, share_cur, psi_term,
           psi_total,
           CASE WHEN psi_total < 0.1 THEN 'stable'
                WHEN psi_total < 0.25 THEN 'moderate'
                ELSE 'drift' END AS verdict
    FROM psi ORDER BY bucket
    """


@query("l_scorer_drift_monitor", oracle=_drift_oracle())
def l_scorer_drift_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = model_score_frame(load(spark, sf_dir, "documents")).select(
        (F.col("doc_id") % 2).alias("half"),
        F.floor(F.col("score") * 10).cast("long").alias("bucket"),
    )
    counts = (
        spark.range(10)
        .select(F.col("id").cast("long").alias("bucket"))
        .join(scored, "bucket", "left")
        .groupBy("bucket")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("half") == 0, 1)), F.lit(0)
            ).cast("long").alias("n_ref"),
            F.coalesce(
                F.sum(F.when(F.col("half") == 1, 1)), F.lit(0)
            ).cast("long").alias("n_cur"),
        )
    )
    tots = counts.agg(
        F.sum("n_ref").alias("t_ref"), F.sum("n_cur").alias("t_cur")
    )
    terms = counts.crossJoin(F.broadcast(tots)).select(
        "bucket",
        "n_ref",
        "n_cur",
        ((F.col("n_ref") + 1.0) / (F.col("t_ref") + 10)).alias("sr"),
        ((F.col("n_cur") + 1.0) / (F.col("t_cur") + 10)).alias("sc"),
    )
    psi_dec = ((F.col("sr") - F.col("sc")) * F.log(F.col("sr") / F.col("sc"))).cast(
        "decimal(27,9)"
    )
    psi = terms.select(
        "bucket",
        "n_ref",
        "n_cur",
        (F.floor(F.col("sr") * 1e6 + 0.5) / 1e6).alias("share_ref"),
        (F.floor(F.col("sc") * 1e6 + 0.5) / 1e6).alias("share_cur"),
        psi_dec.cast("double").alias("psi_term"),
        F.sum(psi_dec)
        .over(Window.partitionBy())
        .cast("double")
        .alias("psi_total"),
    )
    return psi.select(
        "bucket",
        "n_ref",
        "n_cur",
        "share_ref",
        "share_cur",
        "psi_term",
        "psi_total",
        F.when(F.col("psi_total") < 0.1, "stable")
        .when(F.col("psi_total") < 0.25, "moderate")
        .otherwise("drift")
        .alias("verdict"),
    ).orderBy("bucket")


# ---------------------------------------------------------------------------
# l_mixture_epoch_schedule — multi-epoch mixture WATERFILLING: given
# per-source available tokens A_s and a per-epoch token budget B
# (half the corpus here), find the unique level L with
# sum_s min(A_s, L) <= B maximal — small sources contribute everything
# they have each epoch, large sources are capped at L. This is the
# standard "uniform cap" mixture rule (don't let one giant crawl drown
# the mix) and the integer closed form is EXACT: sort sources
# ascending, and for rank r the candidate level (B - prefix_{r-1})
# div (n - r + 1) is valid iff it sits in [A_{r-1}, A_r); if no rank
# validates the budget covers everything and L = max(A). All
# arithmetic is non-negative int64 (div == DuckDB // on
# non-negatives). Output per source: available tokens, the per-epoch
# allocation, the cap flag, ppm coverage, and the epoch count to see
# every token of that source once (ceil(A/alloc)). One groupBy scan +
# an n-source sort; n is source-count-sized, never corpus-sized.
# ---------------------------------------------------------------------------
_MIX_ORACLE = f"""
    WITH avail AS (
        SELECT source, CAST(sum(len({tokens_sql('duckdb')})) AS BIGINT)
                   AS avail_tokens
        FROM documents GROUP BY 1
    ),
    ranked AS (
        SELECT source, avail_tokens,
               row_number() OVER (ORDER BY avail_tokens, source) AS r,
               sum(avail_tokens) OVER (ORDER BY avail_tokens, source
                                       ROWS UNBOUNDED PRECEDING)
                   AS prefix,
               count(*) OVER () AS n,
               sum(avail_tokens) OVER () AS total
        FROM avail
    ),
    budget AS (SELECT total // 2 AS b FROM (SELECT DISTINCT total
                                            FROM ranked)),
    cands AS (
        SELECT r,
               (b - (prefix - avail_tokens)) // (n - r + 1) AS lvl,
               coalesce(lag(avail_tokens) OVER (ORDER BY r), 0) AS prev_a,
               avail_tokens AS a
        FROM ranked, budget
    ),
    lvl AS (
        SELECT lvl FROM cands
        WHERE lvl >= prev_a AND lvl < a
        ORDER BY r LIMIT 1
    ),
    final_lvl AS (
        SELECT coalesce((SELECT lvl FROM lvl),
                        (SELECT max(avail_tokens) FROM avail)) AS lvl
    )
    SELECT source, avail_tokens,
           CAST(least(avail_tokens, lvl) AS BIGINT) AS per_epoch_alloc,
           avail_tokens > lvl AS is_capped,
           CAST(CASE WHEN avail_tokens = 0 THEN 0
                ELSE least(avail_tokens, lvl) * 1000000 // avail_tokens
                END AS BIGINT) AS coverage_ppm,
           CAST(CASE WHEN least(avail_tokens, lvl) = 0 THEN 0
                ELSE (avail_tokens + least(avail_tokens, lvl) - 1)
                     // least(avail_tokens, lvl)
                END AS BIGINT) AS epochs_to_cover
    FROM avail, final_lvl
    ORDER BY source
    """


@query("l_mixture_epoch_schedule", oracle=_MIX_ORACLE)
def l_mixture_epoch_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    avail = (
        load(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.sum(F.size(tokens()))
            .cast("long")
            .alias("avail_tokens")
        )
    )
    w_rank = Window.orderBy("avail_tokens", "source")
    ranked = avail.select(
        "source",
        "avail_tokens",
        F.row_number().over(w_rank).alias("r"),
        F.sum("avail_tokens")
        .over(w_rank.rowsBetween(Window.unboundedPreceding, 0))
        .alias("prefix"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
        F.sum("avail_tokens").over(Window.partitionBy()).alias("total"),
    )
    cands = ranked.select(
        "r",
        F.expr("(total div 2 - (prefix - avail_tokens)) div (n - r + 1)")
        .alias("lvl"),
        F.coalesce(
            F.lag("avail_tokens").over(Window.orderBy("r")), F.lit(0)
        ).alias("prev_a"),
        F.col("avail_tokens").alias("a"),
    )
    valid = (
        cands.where((F.col("lvl") >= F.col("prev_a")) & (F.col("lvl") < F.col("a")))
        .orderBy("r")
        .limit(1)
        .select("lvl")
    )
    fallback = avail.agg(F.max("avail_tokens").alias("lvl"))
    # Exactly one of the two is used: `valid` wins when it has a row
    # (budget < total); otherwise the fallback covers everything.
    final_lvl = (
        valid.select(F.lit(0).alias("pri"), "lvl")
        .unionAll(fallback.select(F.lit(1).alias("pri"), "lvl"))
        .orderBy("pri")
        .limit(1)
        .select("lvl")
    )
    alloc = F.least(F.col("avail_tokens"), F.col("lvl"))
    return (
        avail.crossJoin(F.broadcast(final_lvl))
        .select(
            "source",
            "avail_tokens",
            alloc.cast("long").alias("per_epoch_alloc"),
            (F.col("avail_tokens") > F.col("lvl")).alias("is_capped"),
            F.when(F.col("avail_tokens") == 0, F.lit(0))
            .otherwise(F.expr(
                "least(avail_tokens, lvl) * 1000000 div avail_tokens"
            ))
            .cast("long")
            .alias("coverage_ppm"),
            F.when(alloc == 0, F.lit(0))
            .otherwise(
                F.expr(
                    "(avail_tokens + least(avail_tokens, lvl) - 1) "
                    "div least(avail_tokens, lvl)"
                )
            )
            .cast("long")
            .alias("epochs_to_cover"),
        )
        .orderBy("source")
    )
