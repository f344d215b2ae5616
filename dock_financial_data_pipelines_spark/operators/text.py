"""Text-analysis operators for LLM training-data pipelines
(SURVEY.md §2-B L1, L2, L6 + language-ID, quality scoring, token
counting, document fingerprinting from the driver mandate).

All hot paths are JVM-side (split / explode / higher-order functions —
whole-stage codegen), never Python row-at-a-time UDFs: at 100 TB the
documents table is scanned once and every derived stat is computed
inside the same codegen stage as the scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dock_financial_data_pipelines_spark.catalog import load, local_frame
from dock_financial_data_pipelines_spark.operators.training import (
    heuristic_quality,
    heuristic_quality_sql,
    quality_features,
    quality_features_sql,
)
from dock_financial_data_pipelines_spark.registry import query
from dock_financial_data_pipelines_spark.session import (
    release_local_checkpoint,
)
from dock_financial_data_pipelines_spark.shingles import (
    tokens,
    tokens_sql,
    word_shingles,
)


# ---------------------------------------------------------------------------
# L1 — tokenize + word/char statistics per language
# ---------------------------------------------------------------------------
@query(
    "l1_token_stats",
    oracle=f"""
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(len({tokens_sql('duckdb')})) AS BIGINT) AS total_tokens,
           round(avg(len({tokens_sql('duckdb')})), 4) AS avg_tokens,
           CAST(sum(length(text)) AS BIGINT) AS total_chars,
           max(len({tokens_sql('duckdb')})) AS max_tokens
    FROM documents GROUP BY 1
    """,
)
def l1_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").withColumn("n_tokens", F.size(tokens()))
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.round(F.avg("n_tokens"), 4).alias("avg_tokens"),
        F.sum(F.length("text")).alias("total_chars"),
        F.max("n_tokens").alias("max_tokens"),
    )


# ---------------------------------------------------------------------------
# L2 — term-frequency table (explode → count). The shuffle carries
# (term, partial_count) thanks to map-side combine, so vocabulary size —
# not corpus size — bounds the exchange.
# ---------------------------------------------------------------------------
@query(
    "l2_term_frequency",
    oracle=f"""
    SELECT term, count(*) AS tf, count(DISTINCT doc_id) AS df
    FROM (SELECT doc_id, unnest({tokens_sql('duckdb')}) AS term FROM documents)
    GROUP BY 1
    HAVING count(*) >= 10
    """,
)
def l2_term_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "documents")
        .select("doc_id", F.explode(tokens()).alias("term"))
        .groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("tf"),
            F.countDistinct("doc_id").alias("df"),
        )
        .where(F.col("tf") >= 10)
    )


# ---------------------------------------------------------------------------
# L2b — TF-IDF: top-3 terms per document (probe slice). tf and df come
# from one explode + two aggregates; idf is the smoothed ln form. The
# doc-side tf table joins the term-side df table on term (df is tiny —
# vocabulary-sized — so it broadcasts).
# ---------------------------------------------------------------------------
@query(
    "l2_tfidf_top_terms",
    oracle=f"""
    WITH tf AS (
        SELECT doc_id, term, count(*) AS tf
        FROM (SELECT doc_id, unnest({tokens_sql('duckdb')}) AS term FROM documents)
        GROUP BY 1, 2
    ),
    df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.term,
               tf.tf * (ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0) AS tfidf_raw
        FROM tf JOIN df USING (term) CROSS JOIN n
        WHERE tf.doc_id < 50
    ),
    ranked AS (
        SELECT doc_id, term, tfidf_raw,
               row_number() OVER (
                   PARTITION BY doc_id ORDER BY tfidf_raw DESC, term
               ) AS pos
        FROM scored
    )
    SELECT doc_id, term, round(tfidf_raw, 6) AS tfidf, pos
    FROM ranked WHERE pos <= 3
    """,
)
def l2_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    n_docs = docs.count()  # scalar cardinality; one cheap job
    tf = (
        docs.select("doc_id", F.explode(tokens()).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    idf = F.log((F.lit(n_docs) + 1.0) / (F.col("df") + 1.0)) + 1.0
    scored = (
        tf.where(F.col("doc_id") < 50)
        .join(F.broadcast(df), "term")
        .withColumn("tfidf_raw", F.col("tf") * idf)
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf_raw").desc(), F.col("term"))
    return (
        scored.withColumn("pos", F.row_number().over(w))
        .where(F.col("pos") <= 3)
        .select("doc_id", "term", F.round("tfidf_raw", 6).alias("tfidf"), "pos")
    )


# ---------------------------------------------------------------------------
# L6 — corpus breakdown by language × source
# ---------------------------------------------------------------------------
@query(
    "l6_corpus_breakdown",
    oracle="""
    SELECT lang, source, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           round(avg(n_chars), 4) AS avg_chars
    FROM documents GROUP BY 1, 2
    """,
)
def l6_corpus_breakdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "documents")
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        )
    )


# ---------------------------------------------------------------------------
# Language-ID (n-gram/marker heuristic). The fixture text is synthetic, so
# the marker sets are illustrative; the *operator shape* — score each doc
# against K per-language marker sets with a JVM-side higher-order filter,
# argmax with a fixed tie order — is the real deliverable and is fully
# SQL-expressible for the oracle.
# ---------------------------------------------------------------------------
_MARKERS = {
    "lang_a": ("the", "a", "fast", "slow"),
    "lang_b": ("data", "table", "row", "query"),
    "lang_c": ("spark", "stream", "batch", "window"),
}


def _marker_score(markers: tuple[str, ...], col: str = "ws"):
    # Counts over a PRE-SPLIT token column — Spark does not CSE split()
    # across references, so callers project it once.
    in_list = ", ".join(f"'{m}'" for m in markers)
    return F.expr(f"size(filter({col}, x -> x IN ({in_list})))")


@query(
    "l_lang_id_heuristic",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, lang,
            len(list_filter({tokens_sql('duckdb')}, x -> x IN ('the','a','fast','slow')))        AS s_a,
            len(list_filter({tokens_sql('duckdb')}, x -> x IN ('data','table','row','query')))   AS s_b,
            len(list_filter({tokens_sql('duckdb')}, x -> x IN ('spark','stream','batch','window'))) AS s_c
        FROM documents
    )
    SELECT CASE WHEN s_a >= s_b AND s_a >= s_c THEN 'lang_a'
                WHEN s_b >= s_c THEN 'lang_b'
                ELSE 'lang_c' END AS predicted,
           count(*) AS n_docs,
           CAST(sum(s_a) AS BIGINT) AS sum_a, CAST(sum(s_b) AS BIGINT) AS sum_b, CAST(sum(s_c) AS BIGINT) AS sum_c
    FROM scored GROUP BY 1
    """,
)
def l_lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", tokens().alias("ws")
    )
    scored = docs.select(
        "doc_id",
        _marker_score(_MARKERS["lang_a"]).alias("s_a"),
        _marker_score(_MARKERS["lang_b"]).alias("s_b"),
        _marker_score(_MARKERS["lang_c"]).alias("s_c"),
    )
    predicted = (
        F.when(
            (F.col("s_a") >= F.col("s_b")) & (F.col("s_a") >= F.col("s_c")), "lang_a"
        )
        .when(F.col("s_b") >= F.col("s_c"), "lang_b")
        .otherwise("lang_c")
    )
    return scored.groupBy(predicted.alias("predicted")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("s_a").alias("sum_a"),
        F.sum("s_b").alias("sum_b"),
        F.sum("s_c").alias("sum_c"),
    )


# ---------------------------------------------------------------------------
# Quality scoring: length / distinct-token ratio / stopword ratio / mean
# token length → one weighted score per document (the heuristic
# composite of training.heuristic_quality).
# ---------------------------------------------------------------------------
@query(
    "l_quality_score",
    oracle=f"""
    SELECT doc_id, lang, n_tokens,
           round(CAST(n_distinct AS DOUBLE) / n_tokens, 6) AS distinct_ratio,
           round(CAST(n_stop AS DOUBLE) / n_tokens, 6) AS stopword_ratio,
           round(CAST(n_chars AS DOUBLE) / n_tokens, 6) AS avg_token_len,
           round({heuristic_quality_sql()}, 6) AS quality
    FROM {quality_features_sql('doc_id', 'lang')}
    """,
)
def l_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    feats = quality_features(load(spark, sf_dir, "documents"), "doc_id", "lang")
    n = F.col("n_tokens")
    return feats.select(
        "doc_id",
        "lang",
        "n_tokens",
        F.round(F.col("n_distinct").cast("double") / n, 6).alias("distinct_ratio"),
        F.round(F.col("n_stop").cast("double") / n, 6).alias("stopword_ratio"),
        F.round(F.col("n_chars").cast("double") / n, 6).alias("avg_token_len"),
        F.round(heuristic_quality(), 6).alias("quality"),
    )


# ---------------------------------------------------------------------------
# Token counting: whitespace tokens plus a BPE-ish subword estimate
# (ceil(len/4) subwords per word — the classic "~4 chars per token" rule),
# computed with a higher-order aggregate, no UDF.
# ---------------------------------------------------------------------------
@query(
    "l_token_count",
    oracle=f"""
    SELECT doc_id,
           len({tokens_sql('duckdb')}) AS n_words,
           CAST(list_sum(list_transform({tokens_sql('duckdb')},
                    x -> CAST(ceil(length(x) / 4.0) AS BIGINT))) AS BIGINT) AS n_subwords_est
    FROM documents
    WHERE doc_id < 200
    """,
)
def l_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 200)
        .select(
            "doc_id",
            F.size(tokens()).alias("n_words"),
            F.expr(
                f"aggregate({tokens_sql('spark')}, 0L,"
                " (acc, x) -> acc + CAST(ceil(length(x) / 4.0) AS BIGINT))"
            ).alias("n_subwords_est"),
        )
    )


# ---------------------------------------------------------------------------
# Text normalization: lowercase, collapse whitespace, strip punctuation —
# the standard cleanup pass before tokenization, all JVM-side regex.
# ---------------------------------------------------------------------------
@query(
    "l_text_normalize",
    oracle="""
    SELECT doc_id,
           trim(regexp_replace(lower(text), '[ ]+', ' ', 'g')) AS norm_text,
           length(regexp_replace(text, '[aeiou]', '', 'g')) AS len_no_vowels,
           length(text) - length(replace(text, ' ', '')) AS n_spaces
    FROM documents WHERE doc_id < 100
    """,
)
def l_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 100)
        .select(
            "doc_id",
            F.trim(F.regexp_replace(F.lower("text"), "[ ]+", " ")).alias("norm_text"),
            F.length(F.regexp_replace("text", "[aeiou]", "")).alias("len_no_vowels"),
            (
                F.length("text") - F.length(F.regexp_replace("text", " ", ""))
            ).alias("n_spaces"),
        )
    )


# ---------------------------------------------------------------------------
# Content-hash train/test split: assignment derives from md5(content), so
# it is seed-free, engine-portable, and stable under re-partitioning and
# incremental reprocessing — random() splits are none of those at 100 TB.
# ---------------------------------------------------------------------------
@query(
    "l_train_test_split",
    oracle="""
    WITH assigned AS (
        SELECT doc_id, lang,
               CASE WHEN ascii(substr(md5(text), 1, 1)) % 10 < 8
                    THEN 'train' ELSE 'test' END AS split
        FROM documents
    )
    SELECT split, lang, count(*) AS n_docs, min(doc_id) AS first_doc
    FROM assigned GROUP BY 1, 2
    """,
)
def l_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    split = F.when(
        F.ascii(F.substring(F.md5("text"), 1, 1)) % 10 < 8, "train"
    ).otherwise("test")
    return (
        load(spark, sf_dir, "documents")
        .withColumn("split", split)
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
        )
    )


# ---------------------------------------------------------------------------
# Document fingerprinting: polynomial rolling hash over the token stream
# (per-token feature = 37*len + ascii(first char)), mod 2^31-1. Pure
# arithmetic so Spark and DuckDB agree bit-for-bit; at scale this is a
# single codegen'd projection.
# ---------------------------------------------------------------------------
@query(
    "l_fingerprint",
    oracle=f"""
    SELECT doc_id,
           list_reduce(
               list_prepend(CAST(17 AS BIGINT),
                   list_transform({tokens_sql('duckdb')},
                       x -> CAST(37 * length(x) + ascii(substr(x,1,1)) AS BIGINT))),
               (acc, v) -> (acc * 1000003 + v) % 2147483647
           ) AS fingerprint
    FROM documents
    """,
)
def l_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(
            f"aggregate({tokens_sql('spark')}, CAST(17 AS BIGINT),"
            " (acc, x) -> (acc * 1000003"
            "   + CAST(37 * length(x) + ascii(substring(x,1,1)) AS BIGINT))"
            "   % 2147483647)"
        ).alias("fingerprint"),
    )


# ---------------------------------------------------------------------------
# L8 — bigram extraction + corpus top-k: tokens exploded with position,
# bigram built via lag over (doc, position) — stays entirely in the
# explode/window/agg JVM path, and the same formulation runs in the
# oracle. At 100 TB the per-doc window is narrow (position within one
# doc), so the shuffle key (doc_id) is perfectly parallel.
# ---------------------------------------------------------------------------
@query(
    "l8_bigram_topk",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, u.tok, u.pos
        FROM documents,
             LATERAL (SELECT unnest({tokens_sql('duckdb', 'lower(text)')}) AS tok,
                             generate_subscripts({tokens_sql('duckdb', 'lower(text)')}, 1) AS pos) u
    ),
    bigrams AS (
        SELECT doc_id,
               lag(tok) OVER (PARTITION BY doc_id ORDER BY pos) || ' ' || tok AS bigram
        FROM toks
    )
    SELECT bigram, count(*) AS n
    FROM bigrams WHERE bigram IS NOT NULL
    GROUP BY 1 ORDER BY n DESC, bigram LIMIT 20
    """,
)
def l8_bigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.posexplode(tokens(F.lower("text"))).alias("pos", "tok"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    bigrams = toks.select(
        F.concat_ws(" ", F.lag("tok").over(w), F.col("tok")).alias("bigram"),
        F.lag("tok").over(w).alias("_prev"),
    ).where(F.col("_prev").isNotNull())
    return (
        bigrams.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "bigram")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# L — regexp_extract_all: pull every long word (5+ letters) out of free
# text and explode into rows (the pattern-mining primitive; one regex
# pass per doc).
# ---------------------------------------------------------------------------
@query(
    "l_regexp_extract_all",
    oracle="""
    SELECT num, count(*) AS n
    FROM (
        SELECT unnest(regexp_extract_all(text, '[a-z]{5,}')) AS num
        FROM documents WHERE doc_id < 100
    )
    GROUP BY 1 ORDER BY n DESC, num LIMIT 15
    """,
)
def l_regexp_extract_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 100)
        .select(F.explode(F.regexp_extract_all("text", F.lit("[a-z]{5,}"), 0)).alias("num"))
        .groupBy("num")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "num")
        .limit(15)
    )


# ---------------------------------------------------------------------------
# L — GPT-2-style pre-tokenization: the BPE pretokenizer regex
# (contraction suffixes | space-prefixed letter runs | digit runs |
# punctuation runs) applied corpus-wide in one JVM regex pass — the
# realistic "how many tokens is this corpus" estimator, vs the chars/4
# heuristic in l_token_count. The identical pattern runs in the oracle
# (Java and RE2 agree on this subset — no lookarounds).
# ---------------------------------------------------------------------------
_BPE_PRETOKEN_PATTERN = (
    r"'(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^\sa-zA-Z0-9]+"
)


@query(
    "l_bpe_pretokenize",
    oracle=f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text,
                    '{_BPE_PRETOKEN_PATTERN.replace(chr(39), chr(39) * 2)}'))
                AS INTEGER) AS n_pretokens,
           len({tokens_sql('duckdb')}) AS n_words
    FROM documents WHERE doc_id < 200
    """,
)
def l_bpe_pretokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 200)
        .select(
            "doc_id",
            F.size(
                F.regexp_extract_all("text", F.lit(_BPE_PRETOKEN_PATTERN), 0)
            ).alias("n_pretokens"),
            F.size(tokens()).alias("n_words"),
        )
    )


# ---------------------------------------------------------------------------
# L — train/test contamination check: test documents sharing any 8-gram
# with a train document leak evaluation data. Shingles explode once per
# side, the overlap is an EQUI-join on the shingle (distinct pairs
# bounded by shared-shingle count, never |train|×|test|), and the
# summary counts contaminated test docs — the audit every LLM data
# pipeline must run before publishing a split.
# ---------------------------------------------------------------------------
@query(
    "l_contamination_check",
    oracle=f"""
    WITH assigned AS (
        SELECT doc_id, text,
               CASE WHEN ascii(substr(md5(text), 1, 1)) % 10 < 8
                    THEN 'train' ELSE 'test' END AS split
        FROM documents
    ),
    shingled AS (
        SELECT doc_id, split,
               unnest(list_transform(
                   range(1, greatest(len({tokens_sql('duckdb')}) - 7, 1) + 1),
                   i -> array_to_string({tokens_sql('duckdb')}[i:i+7], ' ')
               )) AS sh
        FROM assigned
    ),
    contaminated AS (
        SELECT DISTINCT t.doc_id
        FROM shingled t JOIN shingled tr
          ON t.sh = tr.sh AND t.split = 'test' AND tr.split = 'train'
    )
    SELECT (SELECT count(*) FROM assigned WHERE split = 'test') AS n_test_docs,
           (SELECT count(*) FROM contaminated) AS n_contaminated,
           (SELECT count(*) FROM assigned WHERE split = 'train') AS n_train_docs
    """,
)
def l_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = 8
    docs = load(spark, sf_dir, "documents").withColumn(
        "split",
        F.when(F.ascii(F.substring(F.md5("text"), 1, 1)) % 10 < 8, "train").otherwise(
            "test"
        ),
    )
    # The overlap join keys on xxhash64(shingle), not the raw 8-gram
    # string: at 100 TB the shingle strings are ~8× the corpus in
    # shuffle bytes, while the hash shuffles a fixed 8 B/row. A 64-bit
    # collision inflating the audit count is ~n²/2^65 — negligible for
    # a contamination audit — and the oracle keeps the exact-string
    # form, so a collision at fixture scale would fail the hash compare.
    shingled = (
        word_shingles(docs, w, "doc_id", "split", out="sh_raw")
        .select("doc_id", "split", F.xxhash64("sh_raw").alias("sh"))
        .localCheckpoint(eager=True)  # both join sides read this
    )
    test_side = shingled.where(F.col("split") == "test").select("doc_id", "sh")
    train_side = shingled.where(F.col("split") == "train").select(
        F.col("sh").alias("sh_tr")
    ).distinct()
    contaminated = (
        test_side.join(train_side, test_side.sh == train_side.sh_tr)
        .select("doc_id")
        .distinct()
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )
    # count(when) not sum(when): sum over an empty corpus is NULL, the
    # oracle's count(*) is 0.
    counts = docs.agg(
        F.count(F.when(F.col("split") == "test", 1))
        .cast("bigint")
        .alias("n_test_docs"),
        F.count(F.when(F.col("split") == "train", 1))
        .cast("bigint")
        .alias("n_train_docs"),
    )
    return counts.crossJoin(contaminated).select(
        "n_test_docs", "n_contaminated", "n_train_docs"
    )


# ---------------------------------------------------------------------------
# L-repetition — Gopher-style repetition quality filters. The strongest
# cheap signal for machine-generated / boilerplate text is word- and
# bigram-level repetition; per document: distinct-word ratio, the
# fraction of tokens taken by the single most frequent word, and the
# fraction of bigrams taken by the most frequent bigram, plus the
# keep/drop verdict. One scan, two explode+agg branches re-joined on
# doc_id — everything JVM-side, no Python in the loop.
# ---------------------------------------------------------------------------
@query(
    "l_repetition_stats",
    oracle=f"""
    WITH words AS (
        SELECT doc_id, unnest({tokens_sql('duckdb')}) AS w
        FROM documents
    ),
    word_stats AS (
        SELECT doc_id,
               CAST(sum(cnt) AS BIGINT) AS n_words,
               count(*) AS n_distinct,
               max(cnt) AS top_word_cnt
        FROM (SELECT doc_id, w, count(*) AS cnt FROM words GROUP BY 1, 2)
        GROUP BY 1
    ),
    bigrams AS (
        SELECT doc_id,
               unnest(list_transform(
                   range(1, greatest(len({tokens_sql('duckdb')}) - 1, 0) + 1),
                   i -> {tokens_sql('duckdb')}[i] || ' ' || {tokens_sql('duckdb')}[i + 1]
               )) AS bg
        FROM documents
    ),
    bigram_stats AS (
        SELECT doc_id, sum(cnt) AS n_bigrams, max(cnt) AS top_bigram_cnt
        FROM (SELECT doc_id, bg, count(*) AS cnt FROM bigrams GROUP BY 1, 2)
        GROUP BY 1
    )
    SELECT w.doc_id,
           w.n_words,
           round(CAST(w.n_distinct AS DOUBLE) / w.n_words, 6) AS distinct_ratio,
           round(CAST(w.top_word_cnt AS DOUBLE) / w.n_words, 6) AS top_word_frac,
           round(CAST(b.top_bigram_cnt AS DOUBLE) / b.n_bigrams, 6) AS top_bigram_frac,
           (CAST(w.n_distinct AS DOUBLE) / w.n_words >= 0.3
            AND CAST(w.top_word_cnt AS DOUBLE) / w.n_words <= 0.2
            AND CAST(b.top_bigram_cnt AS DOUBLE) / b.n_bigrams <= 0.1) AS keep
    FROM word_stats w JOIN bigram_stats b USING (doc_id)
    """,
)
def l_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ZERO-SHUFFLE form (r15): every statistic here is per-document, so
    # nothing needs to leave its scan task (guide §2.4 — the cheapest
    # shuffle is none). Per doc: sort the token-hash array and take run
    # lengths in ONE aggregate() pass — max run = top term count,
    # number of runs = distinct count; n_words/n_bigrams are array
    # sizes. Replaces the r14 explode + groupBy(doc_id, term) +
    # groupBy(doc_id) shape (two exchanges of term-grain rows);
    # measured 1.4 s → 0.83 s at sf0.1 with bit-identical output, and
    # at 100 TB the operator becomes embarrassingly parallel map work.
    # Hashes, not raw strings, keep the per-doc sort cheap (the
    # contamination-audit trick): counts/maxima are hash-invariant
    # modulo a ~n²/2^65 collision, which the hash compare would catch
    # at fixture scale.
    # A 1-word doc must yield ZERO bigrams, and the two-branch oracle's
    # inner join drops bigram-less docs — the size >= 2 filter is that
    # same condition applied before any work happens.
    # Tokenize ONCE into a projected column: Spark does not
    # common-subexpression-eliminate the split across lambda bodies,
    # so inlining it re-splits the text per reference.
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", tokens().alias("ws")
    )

    def run_stats(arr: str) -> str:
        # (max run length, number of runs) over the sorted hash array:
        # state = (prev value, current run, max run, distinct runs).
        return (
            f"aggregate(array_sort({arr}),"
            " named_struct('prev', CAST(NULL AS BIGINT), 'run', 0,"
            "              'mx', 0, 'nd', 0),"
            " (a, x) -> named_struct("
            "   'prev', x,"
            "   'run', CASE WHEN a.prev <=> x THEN a.run + 1 ELSE 1 END,"
            "   'mx', CASE WHEN a.prev <=> x"
            "              THEN greatest(a.mx, a.run + 1)"
            "              ELSE greatest(a.mx, 1) END,"
            "   'nd', CASE WHEN a.prev <=> x THEN a.nd ELSE a.nd + 1 END),"
            " a -> named_struct('mx', a.mx, 'nd', a.nd))"
        )

    stats = docs.where(F.expr("size(ws) >= 2")).select(
        "doc_id",
        F.expr("CAST(size(ws) AS BIGINT)").alias("n_words"),
        F.expr(run_stats("transform(ws, x -> xxhash64(x))")).alias("w"),
        F.expr(
            run_stats(
                "transform(sequence(1, size(ws) - 1),"
                " i -> xxhash64(concat(ws[i-1], ' ', ws[i])))"
            )
        ).alias("b"),
        F.expr("CAST(size(ws) - 1 AS BIGINT)").alias("n_bigrams"),
    )
    distinct_ratio = F.col("w.nd").cast("double") / F.col("n_words")
    top_word_frac = F.col("w.mx").cast("double") / F.col("n_words")
    top_bigram_frac = F.col("b.mx").cast("double") / F.col("n_bigrams")
    return stats.select(
        "doc_id",
        "n_words",
        F.round(distinct_ratio, 6).alias("distinct_ratio"),
        F.round(top_word_frac, 6).alias("top_word_frac"),
        F.round(top_bigram_frac, 6).alias("top_bigram_frac"),
        (
            (distinct_ratio >= 0.3)
            & (top_word_frac <= 0.2)
            & (top_bigram_frac <= 0.1)
        ).alias("keep"),
    )


# ---------------------------------------------------------------------------
# L-pii — PII scrub: redact emails and phone-shaped tokens before a
# corpus ships. The fixture text carries no PII, so the query plants
# deterministic synthetic PII on every 5th document first (same rule in
# the oracle) — the scrub itself (regexp_count + regexp_replace, one
# pass, JVM-side) is what is being verified. At 100 TB this is a
# map-only stage: no shuffle until the 1-row audit aggregate.
# ---------------------------------------------------------------------------
_PII_EMAIL = "[a-z0-9]+@[a-z]+\\.[a-z]+"
_PII_PHONE = "555-[0-9]{4}"


@query(
    "l_pii_scrub",
    oracle=f"""
    WITH seeded AS (
        SELECT doc_id,
               CASE WHEN doc_id % 5 = 0
                    THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                         || '@example.com or 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                    ELSE text END AS text
        FROM documents
    ),
    scrubbed AS (
        SELECT doc_id,
               len(regexp_extract_all(text, '{_PII_EMAIL}')) AS n_emails,
               len(regexp_extract_all(text, '{_PII_PHONE}')) AS n_phones,
               regexp_replace(regexp_replace(text, '{_PII_EMAIL}', '<EMAIL>', 'g'),
                              '{_PII_PHONE}', '<PHONE>', 'g') AS clean
        FROM seeded
    )
    SELECT count(*) AS n_docs,
           CAST(sum(CASE WHEN n_emails + n_phones > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pii_docs,
           CAST(sum(n_emails) AS BIGINT) AS n_emails,
           CAST(sum(n_phones) AS BIGINT) AS n_phones,
           CAST(sum(length(clean)) AS BIGINT) AS clean_chars,
           CAST(sum(CASE WHEN clean LIKE '%@%' THEN 1 ELSE 0 END) AS BIGINT) AS residual_at_signs
    FROM scrubbed
    """,
)
def l_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com or 555-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    scrubbed = docs.select(
        "doc_id",
        F.regexp_count("text", F.lit(_PII_EMAIL)).alias("n_emails"),
        F.regexp_count("text", F.lit(_PII_PHONE)).alias("n_phones"),
        F.regexp_replace(
            F.regexp_replace("text", _PII_EMAIL, "<EMAIL>"),
            _PII_PHONE,
            "<PHONE>",
        ).alias("clean"),
    )
    return scrubbed.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(((F.col("n_emails") + F.col("n_phones")) > 0).cast("long")).alias(
            "n_pii_docs"
        ),
        F.sum("n_emails").cast("bigint").alias("n_emails"),
        F.sum("n_phones").cast("bigint").alias("n_phones"),
        F.sum(F.length("clean")).alias("clean_chars"),
        F.sum(F.col("clean").like("%@%").cast("long")).alias("residual_at_signs"),
    )


# ---------------------------------------------------------------------------
# L-url — URL/domain statistics: the domain-frequency table that drives
# blocklist/allowlist filtering in web-corpus pipelines. Synthetic URLs
# are planted deterministically (every 3rd doc links to one of 7
# domains), then extracted with regexp_extract_all + explode and
# aggregated per domain — extraction is map-side; the only shuffle is
# the per-domain count.
# ---------------------------------------------------------------------------
_URL_RE = "https://[a-z0-9.]+/[a-z0-9]*"
_DOMAIN_RE = "https://([a-z0-9.]+)/"


@query(
    "l_url_domain_stats",
    oracle=f"""
    WITH seeded AS (
        SELECT doc_id,
               CASE WHEN doc_id % 3 = 0
                    THEN text || ' see https://site' || CAST(doc_id % 7 AS VARCHAR)
                         || '.example.org/page' || CAST(doc_id AS VARCHAR)
                    ELSE text END AS text
        FROM documents
    ),
    urls AS (
        SELECT doc_id, unnest(regexp_extract_all(text, '{_URL_RE}')) AS url
        FROM seeded
    )
    SELECT regexp_extract(url, '{_DOMAIN_RE}', 1) AS domain,
           count(*) AS n_urls,
           count(DISTINCT doc_id) AS n_docs
    FROM urls
    GROUP BY 1
    """,
)
def l_url_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.col("text"),
                F.lit(" see https://site"),
                (F.col("doc_id") % 7).cast("string"),
                F.lit(".example.org/page"),
                F.col("doc_id").cast("string"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    urls = docs.select(
        "doc_id",
        F.explode(F.expr(f"regexp_extract_all(text, '{_URL_RE}', 0)")).alias("url"),
    )
    return (
        urls.select("doc_id", F.regexp_extract("url", _DOMAIN_RE, 1).alias("domain"))
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_urls"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
    )


# ---------------------------------------------------------------------------
# L — Zipf-law fit over the corpus term distribution: OLS slope of
# ln(freq) ~ ln(rank) across the top-100 terms. Natural text sits near
# slope −1; synthetic/template corpora (like this fixture) flatten —
# a distribution-shift screen for training data.
#
# Determinism notes: the top-100 pick and ranks are total-ordered
# (count DESC, term ASC). ln() is NOT guaranteed bit-identical across
# math libraries (JVM vs libm, ≤1 ulp apart), so each log is rounded
# per-row to DECIMAL(27,9) BEFORE summation — a 1-ulp (~2e-16)
# discrepancy cannot move a 1e-9 rounding except within 2e-7 of a
# boundary, and the moment sums are then exact decimals. The final
# slope arithmetic is the a23 identical-expression policy. The
# frequency count shuffles raw terms only because the top-k path is
# bounded; the corpus-wide frequency ops (repetition/contamination)
# keep their xxhash64 keys.
# ---------------------------------------------------------------------------
@query(
    "l_zipf_fit",
    oracle=f"""
    WITH tf AS (
        SELECT w AS term, count(*) AS cnt
        FROM (SELECT unnest({tokens_sql('duckdb')}) AS w FROM documents)
        GROUP BY 1
    ),
    top AS (
        SELECT term, cnt,
               row_number() OVER (ORDER BY cnt DESC, term) AS rank
        FROM tf ORDER BY cnt DESC, term LIMIT 100
    ),
    pts AS (
        SELECT CAST(ln(CAST(rank AS DOUBLE)) AS DECIMAL(27,9)) AS x,
               CAST(ln(CAST(cnt AS DOUBLE)) AS DECIMAL(27,9)) AS y
        FROM top
    ),
    m AS (
        SELECT CAST(count(*) AS DOUBLE) AS n,
               CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
               CAST(sum(CAST(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)
                             AS DECIMAL(27,9))) AS DOUBLE) AS sxy,
               CAST(sum(CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                             AS DECIMAL(27,9))) AS DOUBLE) AS sxx
        FROM pts
    )
    SELECT CAST(n AS BIGINT) AS n_terms,
           floor((n * sxy - sx * sy) / (n * sxx - sx * sx) * 1e6 + 0.5) / 1e6
               AS zipf_slope
    FROM m
    """,
)
def l_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    tf = (
        load(spark, sf_dir, "documents")
        .select(F.explode(tokens()).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    top = (
        tf.orderBy(F.desc("cnt"), "term")
        .limit(100)
        .withColumn(
            "rank",
            F.row_number().over(Window.orderBy(F.desc("cnt"), "term")),
        )
    )
    pts = top.select(
        F.log(F.col("rank").cast("double")).cast("decimal(27,9)").alias("x"),
        F.log(F.col("cnt").cast("double")).cast("decimal(27,9)").alias("y"),
    )
    m = pts.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(
            (F.col("x").cast("double") * F.col("y").cast("double")).cast(
                "decimal(27,9)"
            )
        )
        .cast("double")
        .alias("sxy"),
        F.sum(
            (F.col("x").cast("double") * F.col("x").cast("double")).cast(
                "decimal(27,9)"
            )
        )
        .cast("double")
        .alias("sxx"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx = F.col("sxy"), F.col("sxx")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return m.select(
        n.cast("long").alias("n_terms"),
        (F.floor(slope * 1e6 + F.lit(0.5)) / 1e6).alias("zipf_slope"),
    )


# ---------------------------------------------------------------------------
# Tokenizer vocab coverage: build the top-1000 corpus vocabulary
# (frequency, ties broken lexicographically — deterministic), then the
# out-of-vocabulary token rate per language. The screen run before
# committing to a tokenizer vocab size: which languages pay the OOV
# cost. Vocab is top-k bounded → broadcast; the corpus side is one
# explode + one aggregation, so the whole query is a map-side join
# between a token stream and a 1000-row dict at any corpus size.
# ---------------------------------------------------------------------------
_VOCAB_K = 1000


@query(
    "l_vocab_oov_rate",
    oracle=f"""
    WITH tok AS (
        SELECT lang, unnest({tokens_sql('duckdb')}) AS term
        FROM documents
    ),
    tf AS (SELECT term, count(*) AS cnt FROM tok GROUP BY 1),
    vocab AS (
        SELECT term FROM tf ORDER BY cnt DESC, term LIMIT {_VOCAB_K}
    )
    SELECT t.lang, count(*) AS n_tokens,
           CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_oov,
           floor(CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*) * 1e6 + 0.5) / 1e6 AS oov_rate
    FROM tok t LEFT JOIN vocab v ON t.term = v.term
    GROUP BY 1 ORDER BY 1
    """,
)
def l_vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    tok = load(spark, sf_dir, "documents").select(
        "lang", F.explode(tokens()).alias("term")
    )
    vocab = (
        tok.groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), "term")
        .limit(_VOCAB_K)
        .select("term", F.lit(1).alias("in_vocab"))
    )
    return (
        tok.join(F.broadcast(vocab), "term", "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0)).alias(
                "n_oov"
            ),
        )
        .select(
            "lang",
            "n_tokens",
            "n_oov",
            (
                F.floor(
                    F.col("n_oov").cast("double") / F.col("n_tokens") * 1e6
                    + F.lit(0.5)
                )
                / 1e6
            ).alias("oov_rate"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# ROUGE-1 F1 between probe documents and the corpus — the n-gram
# overlap metric used both for summarization eval and as a
# train/test-similarity audit (a softer screen than the exact 8-gram
# contamination check). Multiset unigram overlap Σ min(cnt_a, cnt_b)
# via a token equi-join (probe side tiny → broadcast), F1 =
# 2·overlap/(len_a+len_b) — all integer inputs, so every ratio is
# bit-identical across engines. Probe-bounded exact form; at corpus ×
# corpus scale the pair generation swaps to the MinHash-LSH candidates
# (operators/dedup.py) with this as the verify step.
# ---------------------------------------------------------------------------
_ROUGE_PROBE = 20
_ROUGE_MIN_F1 = 0.75


@query(
    "l_rouge1_f1",
    oracle=f"""
    WITH tokc AS (
        SELECT doc_id, term, count(*) AS cnt
        FROM (SELECT doc_id, unnest({tokens_sql('duckdb')}) AS term
              FROM documents)
        GROUP BY 1, 2
    ),
    lens AS (SELECT doc_id, sum(cnt) AS len FROM tokc GROUP BY 1),
    ov AS (
        SELECT p.doc_id AS probe_id, c.doc_id AS cand_id,
               CAST(sum(least(p.cnt, c.cnt)) AS BIGINT) AS overlap
        FROM tokc p JOIN tokc c
          ON p.term = c.term AND p.doc_id < {_ROUGE_PROBE}
         AND c.doc_id <> p.doc_id
        GROUP BY 1, 2
    )
    SELECT o.probe_id, o.cand_id, o.overlap,
           floor(CAST(o.overlap AS DOUBLE) / lc.len * 1e6 + 0.5) / 1e6
               AS precision_1,
           floor(CAST(o.overlap AS DOUBLE) / lp.len * 1e6 + 0.5) / 1e6
               AS recall_1,
           floor(2.0 * o.overlap / (lp.len + lc.len) * 1e6 + 0.5) / 1e6
               AS f1
    FROM ov o
    JOIN lens lp ON lp.doc_id = o.probe_id
    JOIN lens lc ON lc.doc_id = o.cand_id
    WHERE 2.0 * o.overlap / (lp.len + lc.len) >= {_ROUGE_MIN_F1}
    """,
)
def l_rouge1_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    tokc = (
        load(spark, sf_dir, "documents")
        .select("doc_id", F.explode(tokens()).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    lens = tokc.groupBy("doc_id").agg(F.sum("cnt").alias("len"))
    probe = tokc.where(F.col("doc_id") < _ROUGE_PROBE)
    ov = (
        F.broadcast(
            probe.select(
                F.col("doc_id").alias("probe_id"),
                "term",
                F.col("cnt").alias("cnt_p"),
            )
        )
        .join(
            tokc.select(
                F.col("doc_id").alias("cand_id"),
                "term",
                F.col("cnt").alias("cnt_c"),
            ),
            "term",
        )
        .where(F.col("cand_id") != F.col("probe_id"))
        .groupBy("probe_id", "cand_id")
        .agg(F.sum(F.least("cnt_p", "cnt_c")).alias("overlap"))
    )
    r6 = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    ovd = F.col("overlap").cast("double")
    f1 = F.lit(2.0) * F.col("overlap") / (F.col("len_p") + F.col("len_c"))
    return (
        ov.join(
            lens.select(
                F.col("doc_id").alias("probe_id"), F.col("len").alias("len_p")
            ),
            "probe_id",
        )
        .join(
            lens.select(
                F.col("doc_id").alias("cand_id"), F.col("len").alias("len_c")
            ),
            "cand_id",
        )
        .where(f1 >= _ROUGE_MIN_F1)
        .select(
            "probe_id",
            "cand_id",
            "overlap",
            r6(ovd / F.col("len_c")).alias("precision_1"),
            r6(ovd / F.col("len_p")).alias("recall_1"),
            r6(f1).alias("f1"),
        )
    )


# ---------------------------------------------------------------------------
# Length-percentile corpus filter: drop documents outside the
# [p05, p95] token-length band per language — the standard "too short /
# machine-generated too long" pretraining filter. The band is expressed
# as percent_rank (an exact rational (rank−1)/(n−1), identical in both
# engines — no interpolated-percentile float boundary to disagree on);
# ties share a rank, so equal-length docs land on the same side of the
# cut. One per-language window over doc lengths (shuffle key = lang;
# at 100 TB the window input is (lang, n_tok, doc_id) — never text).
# ---------------------------------------------------------------------------
@query(
    "l_length_percentile_filter",
    oracle=f"""
    WITH lens AS (
        SELECT lang, len({tokens_sql('duckdb')}) AS n_tok FROM documents
    ),
    ranked AS (
        SELECT lang, n_tok,
               percent_rank() OVER (PARTITION BY lang ORDER BY n_tok) AS pr
        FROM lens
    )
    SELECT lang, count(*) AS n_docs,
           CAST(sum(CASE WHEN pr >= 0.05 AND pr <= 0.95 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN pr >= 0.05 AND pr <= 0.95 THEN 0 ELSE 1 END)
                AS BIGINT) AS n_dropped,
           floor(CAST(sum(CASE WHEN pr >= 0.05 AND pr <= 0.95
                               THEN n_tok ELSE 0 END) AS DOUBLE)
                 / sum(n_tok) * 1e6 + 0.5) / 1e6 AS kept_token_share
    FROM ranked GROUP BY 1 ORDER BY 1
    """,
)
def l_length_percentile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    lens = load(spark, sf_dir, "documents").select(
        "lang", F.size(tokens()).alias("n_tok")
    )
    ranked = lens.withColumn(
        "pr",
        F.percent_rank().over(Window.partitionBy("lang").orderBy("n_tok")),
    )
    kept = (F.col("pr") >= 0.05) & (F.col("pr") <= 0.95)
    return (
        ranked.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(kept, 1).otherwise(0)).alias("n_kept"),
            F.sum(F.when(kept, 0).otherwise(1)).alias("n_dropped"),
            F.sum(F.when(kept, F.col("n_tok")).otherwise(0)).alias("_kept_tok"),
            F.sum("n_tok").alias("_tot_tok"),
        )
        .select(
            "lang",
            "n_docs",
            "n_kept",
            "n_dropped",
            (
                F.floor(
                    F.col("_kept_tok").cast("double") / F.col("_tot_tok") * 1e6
                    + F.lit(0.5)
                )
                / 1e6
            ).alias("kept_token_share"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Shannon token entropy per language — the information-density screen
# (low-entropy corpora are template/boilerplate-heavy; compared across
# languages it normalizes quality thresholds). H = −Σ p·ln p over the
# per-language unigram distribution. Per-row −p·ln p rounds to
# DECIMAL(27,9) BEFORE summation (the zipf/theil cross-libm policy),
# so the aggregate is exact; p divides exact BIGINT counts. Two
# equi-key aggregations ((lang, term) then lang) + a broadcast join of
# the 5-row language totals — one token-stream pass at any scale.
# ---------------------------------------------------------------------------
@query(
    "l_token_entropy",
    oracle=f"""
    WITH tf AS (
        SELECT lang, term, count(*) AS cnt
        FROM (SELECT lang, unnest({tokens_sql('duckdb')}) AS term
              FROM documents)
        GROUP BY 1, 2
    ),
    tot AS (SELECT lang, CAST(sum(cnt) AS BIGINT) AS n_tokens,
                   count(*) AS n_types
            FROM tf GROUP BY 1),
    terms AS (
        SELECT tf.lang,
               CAST(-(CAST(tf.cnt AS DOUBLE) / t.n_tokens)
                    * ln(CAST(tf.cnt AS DOUBLE) / t.n_tokens)
                    AS DECIMAL(27,9)) AS h
        FROM tf JOIN tot t ON tf.lang = t.lang
    )
    SELECT t.lang, t.n_tokens, t.n_types,
           floor(CAST(sum(s.h) AS DOUBLE) * 1e6 + 0.5) / 1e6
               AS entropy_nats
    FROM terms s JOIN tot t ON s.lang = t.lang
    GROUP BY 1, 2, 3 ORDER BY 1
    """,
)
def l_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    tf = (
        load(spark, sf_dir, "documents")
        .select("lang", F.explode(tokens()).alias("term"))
        .groupBy("lang", "term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    tot = tf.groupBy("lang").agg(
        F.sum("cnt").alias("n_tokens"), F.count(F.lit(1)).alias("n_types")
    )
    p = F.col("cnt").cast("double") / F.col("n_tokens")
    terms = tf.join(F.broadcast(tot), "lang").select(
        "lang",
        "n_tokens",
        "n_types",
        (-(p) * F.log(p)).cast("decimal(27,9)").alias("h"),
    )
    return (
        terms.groupBy("lang", "n_tokens", "n_types")
        .agg(F.sum("h").cast("double").alias("sh"))
        .select(
            "lang",
            "n_tokens",
            "n_types",
            (F.floor(F.col("sh") * 1e6 + F.lit(0.5)) / 1e6).alias(
                "entropy_nats"
            ),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Lang-ID evaluation: confusion matrix of the marker-n-gram classifier
# against the labeled lang column, with per-actual-language share —
# the accuracy audit run before trusting any classifier-driven corpus
# split. Same deterministic marker scores as l_lang_id_heuristic, one
# extra groupBy on (actual, predicted); the per-actual share divides
# exact counts via a window sum.
# ---------------------------------------------------------------------------
@query(
    "l_langid_confusion",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, lang,
            len(list_filter({tokens_sql('duckdb')},
                x -> x IN ('the','a','fast','slow')))           AS s_a,
            len(list_filter({tokens_sql('duckdb')},
                x -> x IN ('data','table','row','query')))      AS s_b,
            len(list_filter({tokens_sql('duckdb')},
                x -> x IN ('spark','stream','batch','window'))) AS s_c
        FROM documents
    ),
    labeled AS (
        SELECT lang AS actual,
               CASE WHEN s_a >= s_b AND s_a >= s_c THEN 'lang_a'
                    WHEN s_b >= s_c THEN 'lang_b'
                    ELSE 'lang_c' END AS predicted
        FROM scored
    ),
    cm AS (
        SELECT actual, predicted, count(*) AS n_docs
        FROM labeled GROUP BY 1, 2
    )
    SELECT actual, predicted, n_docs,
           floor(CAST(n_docs AS DOUBLE)
                 / sum(n_docs) OVER (PARTITION BY actual) * 1e6 + 0.5) / 1e6
               AS share_of_actual
    FROM cm ORDER BY 1, 2
    """,
)
def l_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select(
        "lang", tokens().alias("ws")
    )
    scored = docs.select(
        F.col("lang").alias("actual"),
        _marker_score(_MARKERS["lang_a"]).alias("s_a"),
        _marker_score(_MARKERS["lang_b"]).alias("s_b"),
        _marker_score(_MARKERS["lang_c"]).alias("s_c"),
    )
    predicted = (
        F.when(
            (F.col("s_a") >= F.col("s_b")) & (F.col("s_a") >= F.col("s_c")),
            "lang_a",
        )
        .when(F.col("s_b") >= F.col("s_c"), "lang_b")
        .otherwise("lang_c")
    )
    cm = scored.groupBy("actual", predicted.alias("predicted")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    share = F.col("n_docs").cast("double") / F.sum("n_docs").over(
        Window.partitionBy("actual")
    )
    return (
        cm.withColumn(
            "share_of_actual", F.floor(share * 1e6 + F.lit(0.5)) / 1e6
        )
        .orderBy("actual", "predicted")
    )


# ---------------------------------------------------------------------------
# Tokenizer fertility per language — pretokens-per-word under the
# GPT-2-style pretokenizer regex (shared with l_bpe_pretokenize): the
# "how many tokens does this language cost" number that drives
# per-language token budgets. Exact integer counts per doc; the ratio
# divides per-language BIGINT sums — identical doubles both engines.
# ---------------------------------------------------------------------------
@query(
    "l_tokenizer_fertility",
    oracle=f"""
    WITH counts AS (
        SELECT lang,
               CAST(len(regexp_extract_all(text,
                    '{{pat}}')) AS BIGINT) AS n_pre,
               CAST(len({tokens_sql('duckdb')}) AS BIGINT) AS n_words
        FROM documents
    )
    SELECT lang,
           CAST(sum(n_words) AS BIGINT) AS n_words,
           CAST(sum(n_pre) AS BIGINT) AS n_pretokens,
           floor(CAST(sum(n_pre) AS DOUBLE) / sum(n_words) * 1e6 + 0.5) / 1e6
               AS fertility
    FROM counts GROUP BY 1 ORDER BY 1
    """.format(pat=_BPE_PRETOKEN_PATTERN.replace(chr(39), chr(39) * 2)),
)
def l_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    counts = load(spark, sf_dir, "documents").select(
        "lang",
        F.size(
            F.regexp_extract_all("text", F.lit(_BPE_PRETOKEN_PATTERN), 0)
        )
        .cast("long")
        .alias("n_pre"),
        F.size(tokens()).cast("long").alias("n_words"),
    )
    return (
        counts.groupBy("lang")
        .agg(
            F.sum("n_words").cast("long").alias("n_words"),
            F.sum("n_pre").cast("long").alias("n_pretokens"),
        )
        .select(
            "lang",
            "n_words",
            "n_pretokens",
            (
                F.floor(
                    F.col("n_pretokens").cast("double")
                    / F.col("n_words")
                    * 1e6
                    + F.lit(0.5)
                )
                / 1e6
            ).alias("fertility"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Heaps'-law vocabulary growth — new TRIGRAM types per corpus decile
# (docs consumed in doc_id order) and the cumulative curve: the
# empirical companion to l_zipf_fit that answers "how much NEW
# vocabulary does the next data batch buy". Trigram types, not
# unigrams — the fixture's unigram vocabulary saturates inside the
# first decile (a 1-row degenerate curve), while the trigram space
# keeps growing corpus-long, which is also why production novelty
# metrics run on n-grams. Each type contributes at its FIRST-seen doc
# (one min per type — the l_trigram_novelty shape), deciles bucket by
# doc_id, and the cumulative sum runs over the 10-row decile
# aggregate. Integer counts end to end.
# ---------------------------------------------------------------------------
@query(
    "l_heaps_vocab_growth",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {tokens_sql('duckdb')} AS ws
                  FROM documents),
    grams AS (
        SELECT doc_id,
               array_to_string(ws[i + 1 : i + 3], ' ') AS term
        FROM (SELECT doc_id, ws,
                     unnest(range(greatest(len(ws) - 3, 0) + 1)) AS i
              FROM toks)
    ),
    firsts AS (
        SELECT term, min(doc_id) AS first_doc FROM grams GROUP BY 1
    ),
    n_docs AS (SELECT max(doc_id) + 1 AS n FROM documents),
    per_decile AS (
        SELECT CAST(first_doc * 10 // n AS INT) AS decile,
               count(*) AS new_types
        FROM firsts CROSS JOIN n_docs
        GROUP BY 1
    )
    SELECT decile, CAST(new_types AS BIGINT) AS new_types,
           CAST(sum(new_types) OVER (ORDER BY decile
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cumulative_vocab
    FROM per_decile ORDER BY 1
    """,
)
def l_heaps_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    grams = word_shingles(
        load(spark, sf_dir, "documents"), 3, "doc_id", out="term"
    )
    firsts = grams.groupBy("term").agg(F.min("doc_id").alias("first_doc"))
    n_docs = load(spark, sf_dir, "documents").agg(
        (F.max("doc_id") + 1).alias("n")
    )
    per_decile = (
        firsts.crossJoin(F.broadcast(n_docs))
        .groupBy(
            F.expr("CAST(first_doc * 10 DIV n AS INT)").alias("decile")
        )
        .agg(F.count(F.lit(1)).alias("new_types"))
    )
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return per_decile.select(
        "decile",
        F.col("new_types").cast("long").alias("new_types"),
        F.sum("new_types").over(w).cast("long").alias("cumulative_vocab"),
    ).orderBy("decile")


# ---------------------------------------------------------------------------
# L — PMI collocations: pointwise mutual information of adjacent token
# bigrams, lift = N·c(x,y) / (c(x)·c(y)) computed from exact integer
# counts (deterministic double division; the lift >= 50 filter never
# sits on an accumulation-order boundary), PMI = ln(lift) for display.
# The phrase-mining primitive behind tokenizer merges and stop-phrase
# lists. Plan: one explode for unigrams + one for bigrams, two
# hash-aggregates, then two broadcast joins of the (small) unigram
# vocabulary into the bigram table.
# ---------------------------------------------------------------------------
@query(
    "l_pmi_bigrams",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {tokens_sql('duckdb')} AS ws FROM documents
    ),
    uni AS (
        SELECT unnest(ws) AS tok, FROM toks
    ),
    ucnt AS (SELECT tok, count(*) AS c1 FROM uni GROUP BY tok),
    n_tot AS (SELECT CAST(sum(c1) AS BIGINT) AS n FROM ucnt),
    big AS (
        SELECT ws[i + 1] AS tok_a, ws[i + 2] AS tok_b
        FROM (SELECT ws, unnest(range(len(ws) - 1)) AS i FROM toks)
    ),
    bcnt AS (
        SELECT tok_a, tok_b, count(*) AS c12
        FROM big GROUP BY tok_a, tok_b
    )
    SELECT b.tok_a, b.tok_b, b.c12 AS n_pair,
           floor(ln(CAST(t.n AS DOUBLE) * b.c12 / (ua.c1 * ub.c1))
                 * 1e6 + 0.5) / 1e6 AS pmi
    FROM bcnt b
    JOIN ucnt ua ON b.tok_a = ua.tok
    JOIN ucnt ub ON b.tok_b = ub.tok
    CROSS JOIN n_tot t
    WHERE b.c12 >= 5
      AND CAST(t.n AS DOUBLE) * b.c12 / (ua.c1 * ub.c1) >= 50.0
    """,
)
def l_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = load(spark, sf_dir, "documents").select(
        "doc_id", tokens().alias("ws")
    )
    uni = toks.select(F.explode("ws").alias("tok"))
    ucnt = uni.groupBy("tok").agg(F.count(F.lit(1)).alias("c1"))
    n_tot = ucnt.agg(F.sum("c1").cast("long").alias("n"))
    # CASE guard: Spark's sequence(0, -1) DESCENDS (unlike DuckDB's
    # empty range()), so single-token docs must produce no bigrams.
    big = toks.select(
        F.explode(
            F.expr(
                "CASE WHEN size(ws) >= 2 THEN"
                " transform(sequence(0, size(ws) - 2),"
                " i -> struct(ws[i] AS tok_a, ws[i + 1] AS tok_b))"
                " ELSE array() END"
            )
        ).alias("bg")
    ).select("bg.tok_a", "bg.tok_b")
    bcnt = big.groupBy("tok_a", "tok_b").agg(F.count(F.lit(1)).alias("c12"))
    ua = ucnt.select(F.col("tok").alias("tok_a"), F.col("c1").alias("ca"))
    ub = ucnt.select(F.col("tok").alias("tok_b"), F.col("c1").alias("cb"))
    lift = (
        F.col("n").cast("double")
        * F.col("c12")
        / (F.col("ca") * F.col("cb"))
    )
    return (
        bcnt.join(F.broadcast(ua), "tok_a")
        .join(F.broadcast(ub), "tok_b")
        .crossJoin(F.broadcast(n_tot))
        .where((F.col("c12") >= 5) & (lift >= 50.0))
        .select(
            "tok_a",
            "tok_b",
            F.col("c12").alias("n_pair"),
            (F.floor(F.log(lift) * 1e6 + F.lit(0.5)) / 1e6).alias("pmi"),
        )
    )


# ---------------------------------------------------------------------------
# L — readability profile per source: sentences via regexp split on
# [.!?]+ runs (empty trailing fragments filtered identically in both
# engines), words per sentence, characters per word, and a Flesch-style
# linear score. Pure map-side counting + decimal-cast ratio sums.
# ---------------------------------------------------------------------------
@query(
    "l_readability_profile",
    oracle=f"""
    WITH per_doc AS (
        SELECT source,
               CAST(len(list_filter(string_split_regex(text, '[.!?]+'),
                                    s -> trim(s) <> '')) AS DOUBLE)
                   AS n_sent,
               CAST(len({tokens_sql('duckdb')}) AS DOUBLE) AS n_words,
               CAST(len(replace(text, ' ', '')) AS DOUBLE) AS n_chars
        FROM documents
    ),
    feats AS (
        SELECT source, n_sent, n_words, n_chars,
               n_words / n_sent AS wps, n_chars / n_words AS cpw
        FROM per_doc WHERE n_sent > 0 AND n_words > 0
    )
    SELECT source, count(*) AS n_docs,
           floor(sum(CAST(wps AS DECIMAL(27,9)))::DOUBLE / count(*)
                 * 1e6 + 0.5) / 1e6 AS avg_words_per_sentence,
           floor(sum(CAST(cpw AS DECIMAL(27,9)))::DOUBLE / count(*)
                 * 1e6 + 0.5) / 1e6 AS avg_chars_per_word,
           floor(sum(CAST(206.835 - 1.015 * wps - 84.6 * (cpw / 3.0)
                          AS DECIMAL(27,9)))::DOUBLE / count(*)
                 * 1e6 + 0.5) / 1e6 AS flesch_proxy
    FROM feats GROUP BY source ORDER BY source
    """,
)
def l_readability_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_doc = load(spark, sf_dir, "documents").select(
        "source",
        F.size(
            F.filter(
                F.split("text", "[.!?]+"), lambda s: F.trim(s) != ""
            )
        )
        .cast("double")
        .alias("n_sent"),
        F.size(tokens()).cast("double").alias("n_words"),
        F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
        .cast("double")
        .alias("n_chars"),
    )
    feats = per_doc.where(
        (F.col("n_sent") > 0) & (F.col("n_words") > 0)
    ).select(
        "source",
        (F.col("n_words") / F.col("n_sent")).alias("wps"),
        (F.col("n_chars") / F.col("n_words")).alias("cpw"),
    )
    r6 = lambda e: F.floor(e * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    dmean = lambda c: (  # noqa: E731
        F.sum(c.cast("decimal(27,9)")).cast("double") / F.count(F.lit(1))
    )
    flesch = (
        F.lit(206.835)
        - 1.015 * F.col("wps")
        - 84.6 * (F.col("cpw") / 3.0)
    )
    return (
        feats.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            r6(dmean(F.col("wps"))).alias("avg_words_per_sentence"),
            r6(dmean(F.col("cpw"))).alias("avg_chars_per_word"),
            r6(dmean(flesch)).alias("flesch_proxy"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# L — character-trigram profile per language: the per-language top-10
# char 3-grams by frequency — the feature table a fastText-style
# language identifier trains on (l_lang_id_heuristic consumes a
# hand-rolled variant of exactly this). Explode is map-side; ranking is
# exact-integer (count desc, trigram asc — no float in the order key).
# ---------------------------------------------------------------------------
@query(
    "l_char_ngram_profile",
    oracle="""
    WITH grams AS (
        SELECT lang, substring(text, i + 1, 3) AS gram
        FROM (SELECT lang, text,
                     unnest(range(greatest(length(text) - 2, 0))) AS i
              FROM documents)
    ),
    cnt AS (
        SELECT lang, gram, count(*) AS n
        FROM grams GROUP BY lang, gram
    ),
    ranked AS (
        SELECT lang, gram, n,
               row_number() OVER (
                   PARTITION BY lang ORDER BY n DESC, gram
               ) AS pos
        FROM cnt
    )
    SELECT lang, pos, gram, n FROM ranked WHERE pos <= 10
    """,
)
def l_char_ngram_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    # CASE guard mirrors DuckDB's empty range() on sub-3-char texts
    # (Spark's sequence would descend instead of emitting nothing).
    grams = load(spark, sf_dir, "documents").select(
        "lang",
        F.explode(
            F.expr(
                "CASE WHEN length(text) >= 3 THEN"
                " transform(sequence(0, length(text) - 3),"
                " i -> substring(text, i + 1, 3))"
                " ELSE array() END"
            )
        ).alias("gram"),
    )
    cnt = grams.groupBy("lang", "gram").agg(F.count(F.lit(1)).alias("n"))
    ranked = cnt.withColumn(
        "pos",
        F.row_number().over(
            Window.partitionBy("lang").orderBy(F.col("n").desc(), "gram")
        ),
    )
    return ranked.where(F.col("pos") <= 10).select("lang", "pos", "gram", "n")


# ---------------------------------------------------------------------------
# L — sparse TF-IDF cosine similarity via the inverted-index join: the
# text-side twin of the dense embedding path (l5_*). Doc-term weights
# tf·ln(N/df) are rounded to DECIMAL(27,9) per term (ln is libm — the
# a34/zipf policy); pair scores come from joining the probe's postings
# to the corpus postings ON THE TERM — candidate pairs are generated
# only where terms co-occur, which is exactly how the join scales (no
# all-pairs, and common-term fanout is bounded by an idf floor).
# Probe-bounded to doc_a < 30 to keep the audit corpus-independent.
# ---------------------------------------------------------------------------
@query(
    "l_tfidf_cosine_pairs",
    oracle=f"""
    WITH words AS (
        SELECT doc_id, unnest({tokens_sql('duckdb')}) AS w FROM documents
    ),
    tf AS (
        SELECT doc_id, w, count(*) AS tf FROM words GROUP BY doc_id, w
    ),
    df AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
    n_docs AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
    wt AS (
        SELECT t.doc_id, t.w,
               CAST(t.tf * ln(d.n / f.df) AS DECIMAL(27,9)) AS wgt
        FROM tf t JOIN df f ON t.w = f.w CROSS JOIN n_docs d
        WHERE ln(d.n / f.df) >= 1.0
    ),
    nrm AS (
        SELECT doc_id,
               sqrt(CAST(sum(CAST(CAST(wgt AS DOUBLE) * CAST(wgt AS DOUBLE)
                                  AS DECIMAL(38,9))) AS DOUBLE)) AS nrm
        FROM wt GROUP BY doc_id
    ),
    pair_dot AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(sum(CAST(CAST(a.wgt AS DOUBLE) * CAST(b.wgt AS DOUBLE)
                             AS DECIMAL(38,9))) AS DOUBLE) AS dot
        FROM wt a JOIN wt b ON a.w = b.w AND a.doc_id < b.doc_id
        WHERE a.doc_id < 30
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT p.doc_a, p.doc_b,
           floor(p.dot / (na.nrm * nb.nrm) * 1e6 + 0.5) / 1e6 AS cosine
    FROM pair_dot p
    JOIN nrm na ON p.doc_a = na.doc_id
    JOIN nrm nb ON p.doc_b = nb.doc_id
    WHERE p.dot / (na.nrm * nb.nrm) >= 0.3
    """,
)
def l_tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    words = docs.select("doc_id", F.explode(tokens()).alias("w"))
    tf = words.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).cast("double").alias("n"))
    idf = F.log(F.col("n") / F.col("df"))
    wt = (
        tf.join(F.broadcast(df), "w")
        .crossJoin(F.broadcast(n_docs))
        .where(idf >= 1.0)
        .select(
            "doc_id",
            "w",
            (F.col("tf") * idf).cast("decimal(27,9)").alias("wgt"),
        )
    )
    wd = F.col("wgt").cast("double")
    nrm = wt.groupBy("doc_id").agg(
        F.sqrt(F.sum((wd * wd).cast("decimal(38,9)")).cast("double")).alias(
            "nrm"
        )
    )
    a = wt.select(
        F.col("doc_id").alias("doc_a"), F.col("w").alias("w"),
        F.col("wgt").alias("wa"),
    ).where(F.col("doc_a") < 30)
    b = wt.select(
        F.col("doc_id").alias("doc_b"), F.col("w").alias("w"),
        F.col("wgt").alias("wb"),
    )
    pair_dot = (
        F.broadcast(a)
        .join(b, (a.w == b.w) & (F.col("doc_a") < F.col("doc_b")))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.sum(
                (F.col("wa").cast("double") * F.col("wb").cast("double")).cast(
                    "decimal(38,9)"
                )
            )
            .cast("double")
            .alias("dot")
        )
    )
    na = nrm.select(F.col("doc_id").alias("doc_a"), F.col("nrm").alias("na"))
    nb = nrm.select(F.col("doc_id").alias("doc_b"), F.col("nrm").alias("nb"))
    cosine = F.col("dot") / (F.col("na") * F.col("nb"))
    return (
        pair_dot.join(F.broadcast(na), "doc_a")
        .join(nb, "doc_b")
        .where(cosine >= 0.3)
        .select(
            "doc_a",
            "doc_b",
            (F.floor(cosine * 1e6 + F.lit(0.5)) / 1e6).alias("cosine"),
        )
    )


# ---------------------------------------------------------------------------
# L — vocabulary coverage curve: the smallest frequency-ranked
# vocabulary that covers {50,80,90,95,99}% of all token occurrences —
# the sizing table for tokenizer/embedding-table budgets. Entirely
# exact-integer arithmetic (cum_cnt·100 ≥ pct·total), so the oracle is
# bit-exact. The cumulative window runs over the vocabulary rollup
# (small), never the token stream.
# ---------------------------------------------------------------------------
@query(
    "l_vocab_coverage_curve",
    oracle=f"""
    WITH vocab AS (
        SELECT w, count(*) AS cnt
        FROM (SELECT unnest({tokens_sql('duckdb')}) AS w FROM documents)
        GROUP BY w
    ),
    ranked AS (
        SELECT cnt,
               row_number() OVER (ORDER BY cnt DESC, w) AS vrank,
               sum(cnt) OVER (ORDER BY cnt DESC, w
                              ROWS UNBOUNDED PRECEDING) AS cum_cnt,
               sum(cnt) OVER () AS total
        FROM vocab
    ),
    pcts AS (SELECT unnest([50, 80, 90, 95, 99]) AS pct)
    SELECT p.pct,
           CAST(min(r.vrank) AS BIGINT) AS vocab_size,
           CAST(min(r.cum_cnt) AS BIGINT) AS tokens_covered
    FROM pcts p JOIN ranked r ON r.cum_cnt * 100 >= p.pct * r.total
    GROUP BY p.pct ORDER BY p.pct
    """,
)
def l_vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    vocab = (
        load(spark, sf_dir, "documents")
        .select(F.explode(tokens()).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w_rank = Window.orderBy(F.col("cnt").desc(), "w")
    ranked = vocab.select(
        "cnt",
        F.row_number().over(w_rank).alias("vrank"),
        F.sum("cnt")
        .over(w_rank.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cum_cnt"),
        F.sum("cnt")
        .over(
            Window.orderBy(F.lit(1)).rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .alias("total"),
    )
    pcts = F.broadcast(
        load(spark, sf_dir, "documents")
        .sparkSession.range(1)
        .select(F.explode(F.array(*[F.lit(p) for p in (50, 80, 90, 95, 99)])).alias("pct"))
    )
    return (
        pcts.join(ranked, F.col("cum_cnt") * 100 >= F.col("pct") * F.col("total"))
        .groupBy("pct")
        .agg(
            F.min("vrank").cast("long").alias("vocab_size"),
            F.min("cum_cnt").cast("long").alias("tokens_covered"),
        )
        .orderBy("pct")
    )


# ---------------------------------------------------------------------------
# L — duplication rate by source: docs vs distinct texts (md5-grouped)
# per source, the dataset-card statistic that decides which sources
# need the expensive near-dup pass at all. One hash-aggregate per
# source over content digests; exact counts only.
# ---------------------------------------------------------------------------
@query(
    "l_duplication_by_source",
    oracle="""
    WITH hashed AS (
        SELECT source, md5(text) AS h FROM documents
    ),
    per_hash AS (
        SELECT source, h, count(*) AS n FROM hashed GROUP BY source, h
    )
    SELECT source,
           CAST(sum(n) AS BIGINT) AS n_docs,
           count(*) AS n_unique,
           CAST(sum(n) - count(*) AS BIGINT) AS n_dup_docs,
           floor((1.0 - count(*) / CAST(sum(n) AS DOUBLE)) * 1e6 + 0.5)
               / 1e6 AS dup_rate
    FROM per_hash GROUP BY source ORDER BY source
    """,
)
def l_duplication_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    hashed = load(spark, sf_dir, "documents").select(
        "source", F.md5("text").alias("h")
    )
    per_hash = hashed.groupBy("source", "h").agg(F.count(F.lit(1)).alias("n"))
    return (
        per_hash.groupBy("source")
        .agg(
            F.sum("n").cast("long").alias("n_docs"),
            F.count(F.lit(1)).alias("n_unique"),
            (F.sum("n") - F.count(F.lit(1))).cast("long").alias("n_dup_docs"),
            (
                F.floor(
                    (1.0 - F.count(F.lit(1)) / F.sum("n").cast("double"))
                    * 1e6
                    + F.lit(0.5)
                )
                / 1e6
            ).alias("dup_rate"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# l_bpe_merge_step — ONE training step of byte-pair encoding, the
# distributed core of tokenizer training: count adjacent symbol pairs
# over the WORD-FREQUENCY table (BPE trains on vocab×count, never the
# raw corpus — the aggregate that makes 100 TB tokenizer training
# feasible), select the most frequent pair (deterministic tiebreak),
# and APPLY the merge with correct left-greedy semantics. Overlapping
# occurrences only arise when the pair is a self-pair (aa in aaaa);
# left-greedy then takes every other occurrence, which is exactly
# island parity: consecutive matched positions form gaps-and-islands
# runs and odd in-island ranks survive. Output is the one-row training
# step record: the merge, its corpus frequency, affected word
# types/instances and the corpus token-count change.
# ---------------------------------------------------------------------------
@query(
    "l_bpe_merge_step",
    oracle=f"""
    WITH words AS (
        SELECT unnest({tokens_sql('duckdb')}) AS w FROM documents
    ),
    vocab AS (
        SELECT w, count(*) AS cnt FROM words WHERE len(w) > 0 GROUP BY 1
    ),
    syms AS (
        SELECT w, cnt, string_split(w, '') AS cs FROM vocab
    ),
    pairs AS (
        SELECT w, cnt, i + 1 AS pos, cs[i + 1] AS a, cs[i + 2] AS b
        FROM (SELECT w, cnt, cs,
                     unnest(range(greatest(len(cs) - 1, 0))) AS i
              FROM syms)
    ),
    paircnt AS (
        SELECT a, b, sum(cnt) AS pc FROM pairs GROUP BY 1, 2
    ),
    sel AS (
        SELECT a, b, pc FROM paircnt
        ORDER BY pc DESC, a, b LIMIT 1
    ),
    matched AS (
        SELECT p.w, p.cnt, p.pos
        FROM pairs p JOIN sel s ON p.a = s.a AND p.b = s.b
    ),
    isl AS (
        SELECT w, cnt, pos,
               pos - row_number() OVER (PARTITION BY w ORDER BY pos) AS grp
        FROM matched
    ),
    kept AS (
        SELECT w, cnt,
               row_number() OVER (PARTITION BY w, grp ORDER BY pos) AS idx
        FROM isl
    ),
    merges AS (
        SELECT w, cnt, count(*) AS n_merges
        FROM kept WHERE idx % 2 = 1 GROUP BY w, cnt
    ),
    toks AS (
        SELECT CAST(sum(cnt * len(string_split(w, ''))) AS BIGINT) AS before
        FROM vocab
    )
    SELECT s.a AS merge_left, s.b AS merge_right,
           CAST(s.pc AS BIGINT) AS pair_count,
           (SELECT CAST(count(*) AS BIGINT) FROM merges) AS n_word_types,
           (SELECT CAST(coalesce(sum(cnt), 0) AS BIGINT) FROM merges)
               AS n_word_instances,
           t.before AS tokens_before,
           t.before - (SELECT CAST(coalesce(sum(cnt * n_merges), 0) AS BIGINT)
                       FROM merges) AS tokens_after
    FROM sel s, toks t
    """,
)
def l_bpe_merge_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    vocab = (
        load(spark, sf_dir, "documents")
        .select(F.explode(tokens()).alias("w"))
        .where(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    pairs = vocab.where(F.length("w") >= 2).select(
        "w",
        "cnt",
        F.posexplode(
            F.expr(
                "transform(sequence(0, size(split(w,'')) - 2),"
                " i -> struct(split(w,'')[i] AS a, split(w,'')[i+1] AS b))"
            )
        ).alias("i", "p"),
    ).select(
        "w",
        "cnt",
        (F.col("i") + 1).alias("pos"),
        F.col("p.a").alias("a"),
        F.col("p.b").alias("b"),
    )
    paircnt = pairs.groupBy("a", "b").agg(F.sum("cnt").alias("pc"))
    sel = paircnt.orderBy(F.col("pc").desc(), "a", "b").limit(1)
    matched = pairs.join(
        F.broadcast(sel.select("a", "b", "pc")), ["a", "b"]
    ).select("w", "cnt", "pos")
    isl = matched.select(
        "w",
        "cnt",
        "pos",
        (
            F.col("pos")
            - F.row_number().over(Window.partitionBy("w").orderBy("pos"))
        ).alias("grp"),
    )
    kept = isl.select(
        "w",
        "cnt",
        F.row_number()
        .over(Window.partitionBy("w", "grp").orderBy("pos"))
        .alias("idx"),
    )
    merges = (
        kept.where(F.col("idx") % 2 == 1)
        .groupBy("w", "cnt")
        .agg(F.count(F.lit(1)).alias("n_merges"))
    )
    mstats = merges.agg(
        F.count(F.lit(1)).cast("long").alias("n_word_types"),
        F.coalesce(F.sum("cnt"), F.lit(0)).cast("long").alias("n_word_instances"),
        F.coalesce(F.sum(F.col("cnt") * F.col("n_merges")), F.lit(0))
        .cast("long")
        .alias("saved"),
    )
    toks = vocab.agg(
        F.sum(F.col("cnt") * F.size(F.split("w", ""))).cast("long").alias("before")
    )
    return (
        sel.crossJoin(F.broadcast(mstats))
        .crossJoin(F.broadcast(toks))
        .select(
            F.col("a").alias("merge_left"),
            F.col("b").alias("merge_right"),
            F.col("pc").cast("long").alias("pair_count"),
            "n_word_types",
            "n_word_instances",
            F.col("before").alias("tokens_before"),
            (F.col("before") - F.col("saved")).alias("tokens_after"),
        )
    )


# ---------------------------------------------------------------------------
# l_vocab_drift_psi — VOCABULARY drift between two corpus halves
# (doc_id parity stands in for "last crawl" vs "this crawl"): token
# unigram distribution over the top-20 reference tokens + OTHER,
# Laplace-smoothed PSI per bin (q_distribution_psi's idiom — the
# (p−q)·ln(p/q) term is cast to DECIMAL(27,9) before the cross-bin sum
# so libm ulp differences can never flip the hash). Training-data
# pipelines run exactly this check before mixing a new crawl into the
# pool. Map-side token explode + two hash aggregates; the bin table is
# 21 rows — driver-safe at any corpus size.
# ---------------------------------------------------------------------------
_PSI_TOP = 20


@query(
    "l_vocab_drift_psi",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id % 2 AS half, unnest({tokens_sql('duckdb')}) AS tok
        FROM documents
    ),
    counts AS (
        SELECT tok,
               sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS n_ref,
               sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS n_cur
        FROM toks GROUP BY 1
    ),
    topk AS (
        SELECT tok, n_ref, n_cur,
               row_number() OVER (ORDER BY n_ref DESC, tok) AS rk
        FROM counts
    ),
    binned AS (
        SELECT CASE WHEN rk <= {_PSI_TOP} THEN tok ELSE '<OTHER>' END AS bin,
               CAST(sum(n_ref) AS BIGINT) AS n_ref,
               CAST(sum(n_cur) AS BIGINT) AS n_cur
        FROM topk GROUP BY 1
    ),
    tots AS (
        SELECT sum(n_ref) AS t_ref, sum(n_cur) AS t_cur FROM binned
    ),
    terms AS (
        SELECT b.bin, b.n_ref, b.n_cur,
               (b.n_ref + 1.0) / (t.t_ref + {_PSI_TOP + 1}) AS sr,
               (b.n_cur + 1.0) / (t.t_cur + {_PSI_TOP + 1}) AS sc
        FROM binned b, tots t
    )
    SELECT bin, n_ref, n_cur,
           floor(sr * 1e6 + 0.5) / 1e6 AS share_ref,
           floor(sc * 1e6 + 0.5) / 1e6 AS share_cur,
           CAST(CAST((sr - sc) * ln(sr / sc) AS DECIMAL(27,9)) AS DOUBLE)
               AS psi_term,
           CAST(sum(CAST((sr - sc) * ln(sr / sc) AS DECIMAL(27,9)))
                OVER () AS DOUBLE) AS psi_total
    FROM terms ORDER BY bin
    """,
)
def l_vocab_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = load(spark, sf_dir, "documents").select(
        (F.col("doc_id") % 2).alias("half"),
        F.explode(tokens()).alias("tok"),
    )
    counts = toks.groupBy("tok").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).alias("n_ref"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).alias("n_cur"),
    )
    topk = counts.withColumn(
        "rk",
        F.row_number().over(Window.orderBy(F.col("n_ref").desc(), "tok")),
    )
    binned = (
        topk.select(
            F.when(F.col("rk") <= _PSI_TOP, F.col("tok"))
            .otherwise("<OTHER>")
            .alias("bin"),
            "n_ref",
            "n_cur",
        )
        .groupBy("bin")
        .agg(
            F.sum("n_ref").cast("long").alias("n_ref"),
            F.sum("n_cur").cast("long").alias("n_cur"),
        )
    )
    full = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    sr = (F.col("n_ref") + 1.0) / (
        F.sum("n_ref").over(full) + F.lit(_PSI_TOP + 1)
    )
    sc = (F.col("n_cur") + 1.0) / (
        F.sum("n_cur").over(full) + F.lit(_PSI_TOP + 1)
    )
    terms = binned.select(
        "bin",
        "n_ref",
        "n_cur",
        sr.alias("sr"),
        sc.alias("sc"),
        ((sr - sc) * F.log(sr / sc)).cast("decimal(27,9)").alias("term"),
    )
    return terms.select(
        "bin",
        "n_ref",
        "n_cur",
        (F.floor(F.col("sr") * 1e6 + F.lit(0.5)) / 1e6).alias("share_ref"),
        (F.floor(F.col("sc") * 1e6 + F.lit(0.5)) / 1e6).alias("share_cur"),
        F.col("term").cast("double").alias("psi_term"),
        F.sum("term").over(full).cast("double").alias("psi_total"),
    ).orderBy("bin")


# ---------------------------------------------------------------------------
# l_source_overlap_matrix — cross-source content overlap: for every
# source pair, the number of distinct shared 3-gram shingles and the
# containment ratio vs the smaller source's shingle vocabulary. The
# corpus-forensics view of the containment/near-dup family: which
# crawl feeds are republishing each other's content. One distinct
# aggregate to (source, shingle), one equi-join on the shingle, one
# pair aggregate; the matrix is #sources² — report-sized. Ratios are
# exact rationals floored at 1e-6.
# ---------------------------------------------------------------------------
@query(
    "l_source_overlap_matrix",
    oracle=f"""
    WITH toks AS (
        SELECT source, {tokens_sql('duckdb')} AS ws FROM documents
    ),
    idx AS (
        SELECT source, ws,
               unnest(range(greatest(len(ws) - 3, 0) + 1)) AS i
        FROM toks
    ),
    sh AS (
        SELECT DISTINCT source, array_to_string(ws[i + 1 : i + 3], ' ') AS s
        FROM idx
    ),
    vocab AS (SELECT source, count(*) AS v FROM sh GROUP BY 1),
    shared AS (
        SELECT a.source AS source_a, b.source AS source_b,
               count(*) AS n_shared
        FROM sh a JOIN sh b ON a.s = b.s AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT s.source_a, s.source_b, s.n_shared,
           va.v AS vocab_a, vb.v AS vocab_b,
           floor(CAST(s.n_shared AS DOUBLE) * 1e6
                 / least(va.v, vb.v) + 0.5) / 1e6 AS containment
    FROM shared s
    JOIN vocab va ON va.source = s.source_a
    JOIN vocab vb ON vb.source = s.source_b
    ORDER BY s.source_a, s.source_b
    """,
)
def l_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = word_shingles(
        load(spark, sf_dir, "documents"), 3, "source", out="s"
    ).distinct()
    vocab = sh.groupBy("source").agg(F.count(F.lit(1)).alias("v"))
    a = sh.select(F.col("source").alias("source_a"), "s")
    b = sh.select(F.col("source").alias("source_b"), "s")
    shared = (
        a.join(b, "s")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    va = vocab.select(
        F.col("source").alias("source_a"), F.col("v").alias("vocab_a")
    )
    vb = vocab.select(
        F.col("source").alias("source_b"), F.col("v").alias("vocab_b")
    )
    return (
        shared.join(F.broadcast(va), "source_a")
        .join(F.broadcast(vb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared",
            "vocab_a",
            "vocab_b",
            (
                F.floor(
                    F.col("n_shared").cast("double") * 1e6
                    / F.least("vocab_a", "vocab_b")
                    + F.lit(0.5)
                )
                / 1e6
            ).alias("containment"),
        )
        .orderBy("source_a", "source_b")
    )


# ---------------------------------------------------------------------------
# l_shingle_df_spectrum — document-frequency SPECTRUM of the 3-gram
# shingle space: how many distinct shingles live in each df band
# (1, 2-4, 5-16, 17-64, >64 docs) and what share of shingle
# OCCURRENCES each band carries. This is the calibration report for
# this engine's own fanout caps (_SPAN_CAP / _CONT_CAP / the LSH
# boilerplate threshold): the ">cap" row is exactly the join volume a
# cap discards, so the knob can be set from data instead of folklore.
# Two hash aggregates (shingle → df, df → band), exact integers,
# shares floored 1e-6.
# ---------------------------------------------------------------------------
@query(
    "l_shingle_df_spectrum",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {tokens_sql('duckdb')} AS ws FROM documents
    ),
    sh AS (
        SELECT DISTINCT doc_id,
               array_to_string(ws[i + 1 : i + 3], ' ') AS s
        FROM (SELECT doc_id, ws,
                     unnest(range(greatest(len(ws) - 3, 0) + 1)) AS i
              FROM toks)
    ),
    df AS (SELECT s, count(*) AS d FROM sh GROUP BY 1),
    banded AS (
        SELECT CASE WHEN d = 1 THEN 'a_unique'
                    WHEN d <= 4 THEN 'b_2_4'
                    WHEN d <= 16 THEN 'c_5_16'
                    WHEN d <= 64 THEN 'd_17_64'
                    ELSE 'e_over_64' END AS band,
               d
        FROM df
    ),
    agg AS (
        SELECT band, count(*) AS n_shingles,
               CAST(sum(d) AS BIGINT) AS n_occurrences
        FROM banded GROUP BY 1
    )
    SELECT band, n_shingles, n_occurrences,
           floor(CAST(n_occurrences AS DOUBLE) * 1e6
                 / (SELECT sum(n_occurrences) FROM agg) + 0.5) / 1e6
               AS occurrence_share
    FROM agg ORDER BY band
    """,
)
def l_shingle_df_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = word_shingles(
        load(spark, sf_dir, "documents"), 3, "doc_id", out="s"
    ).distinct()
    df = sh.groupBy("s").agg(F.count(F.lit(1)).alias("d"))
    band = (
        F.when(F.col("d") == 1, "a_unique")
        .when(F.col("d") <= 4, "b_2_4")
        .when(F.col("d") <= 16, "c_5_16")
        .when(F.col("d") <= 64, "d_17_64")
        .otherwise("e_over_64")
    )
    agg = (
        df.select(band.alias("band"), "d")
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum("d").cast("long").alias("n_occurrences"),
        )
    )
    full = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return agg.select(
        "band",
        "n_shingles",
        "n_occurrences",
        (
            F.floor(
                F.col("n_occurrences").cast("double") * 1e6
                / F.sum("n_occurrences").over(full)
                + F.lit(0.5)
            )
            / 1e6
        ).alias("occurrence_share"),
    ).orderBy("band")


# ---------------------------------------------------------------------------
# l_tokens_per_char_by_source — the tokens-per-character compression
# profile per (source, lang): the first-order signal behind tokenizer
# budget planning and mixture weighting (a source whose tokens/char
# ratio drifts is changing register or language). Integer sums only —
# exact oracle; one scan, one hash aggregate at any scale.
# ---------------------------------------------------------------------------
@query(
    "l_tokens_per_char_by_source",
    oracle=f"""
    SELECT source, lang,
           count(*) AS n_docs,
           CAST(sum(len({tokens_sql('duckdb')})) AS BIGINT) AS total_tokens,
           CAST(sum(length(text)) AS BIGINT) AS total_chars,
           floor(CAST(sum(len({tokens_sql('duckdb')})) AS DOUBLE)
                 / sum(length(text)) * 100 * 1e4 + 0.5) / 1e4
               AS tokens_per_100_chars,
           floor(CAST(sum(length(text)) AS DOUBLE)
                 / sum(len({tokens_sql('duckdb')})) * 1e4 + 0.5) / 1e4
               AS chars_per_token
    FROM documents GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def l_tokens_per_char_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").select(
        "source",
        "lang",
        F.size(tokens()).alias("tk"),
        F.length("text").alias("ch"),
    )
    tt = F.sum("tk").cast("double")
    tc = F.sum("ch").cast("double")
    return (
        d.groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("tk").cast("long").alias("total_tokens"),
            F.sum("ch").cast("long").alias("total_chars"),
            (F.floor(tt / tc * 100 * 1e4 + F.lit(0.5)) / 1e4).alias(
                "tokens_per_100_chars"
            ),
            (F.floor(tc / tt * 1e4 + F.lit(0.5)) / 1e4).alias(
                "chars_per_token"
            ),
        )
        .orderBy("source", "lang")
    )


# ---------------------------------------------------------------------------
# l_unicode_anomaly_audit — character-hygiene screen per source: counts
# of characters outside printable ASCII, replacement characters (U+FFFD,
# the tell of a mojibake ingest), control characters, untrimmed edges
# and multi-space runs. On a clean corpus every column reads zero —
# which is exactly what the audit certifies; on a real crawl these
# columns decide which ingest shard needs re-decoding. Pure
# regexp/length arithmetic, identical on both engines.
# ---------------------------------------------------------------------------
@query(
    "l_unicode_anomaly_audit",
    oracle="""
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(length(text)
                    - length(regexp_replace(text, '[^ -~]', '', 'g')))
                AS BIGINT) AS non_printable_ascii_chars,
           CAST(sum(CASE WHEN length(text)
                              - length(regexp_replace(text, '[^ -~]', '',
                                                      'g')) > 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_non_ascii,
           CAST(sum(len(string_split(text, chr(65533))) - 1) AS BIGINT)
               AS replacement_chars,
           CAST(sum(CASE WHEN trim(text) <> text THEN 1 ELSE 0 END)
                AS BIGINT) AS n_untrimmed,
           CAST(sum(CASE WHEN regexp_matches(text, '  ') THEN 1 ELSE 0 END)
                AS BIGINT) AS n_multispace
    FROM documents GROUP BY 1 ORDER BY 1
    """,
)
def l_unicode_anomaly_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    nonp = F.length("text") - F.length(
        F.regexp_replace("text", "[^ -~]", "")
    )
    return (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(nonp).cast("long").alias("non_printable_ascii_chars"),
            F.sum(F.when(nonp > 0, 1).otherwise(0))
            .cast("long")
            .alias("n_docs_non_ascii"),
            F.sum(
                F.size(F.split(F.col("text"), "�", -1)) - 1
            )
            .cast("long")
            .alias("replacement_chars"),
            F.sum(
                F.when(F.trim(F.col("text")) != F.col("text"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_untrimmed"),
            F.sum(
                F.when(F.col("text").contains("  "), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_multispace"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# l_repeated_ngram_coverage — the Gopher/MassiveText repetition family
# l_repetition_stats does not cover: the fraction of CHARACTERS covered
# by duplicated word 2-grams and 3-grams per document (occurrence count
# × gram length over text length, capped at 1 since overlapping grams
# can double-count), aggregated per source with the Rae et al. fail
# thresholds (dup-2gram > 0.2, dup-3gram > 0.18). Grams keep their
# strings (lengths are needed), tokenized once into a projected array
# (the non-CSE'd split lesson); per-doc fractions cross rows only
# through DECIMAL-cast sums.
# ---------------------------------------------------------------------------
@query(
    "l_repeated_ngram_coverage",
    oracle=f"""
    WITH ws AS (
        SELECT doc_id, source, length(text) AS n_chars,
               {tokens_sql('duckdb')} AS w
        FROM documents
    ),
    grams AS (
        SELECT doc_id, source, n_chars, 2 AS n,
               unnest(list_transform(
                   range(1, greatest(len(w) - 1, 0) + 1),
                   i -> w[i] || ' ' || w[i + 1])) AS g
        FROM ws
        UNION ALL
        SELECT doc_id, source, n_chars, 3 AS n,
               unnest(list_transform(
                   range(1, greatest(len(w) - 2, 0) + 1),
                   i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])) AS g
        FROM ws
    ),
    cnts AS (
        SELECT doc_id, source, n_chars, n, g, count(*) AS c
        FROM grams GROUP BY 1, 2, 3, 4, 5
    ),
    per_doc AS (
        SELECT doc_id, source, n,
               least(CAST(sum(CASE WHEN c >= 2 THEN c * length(g)
                                   ELSE 0 END) AS DOUBLE)
                     / max(n_chars), 1.0) AS frac
        FROM cnts GROUP BY 1, 2, 3
    ),
    agg AS (
        SELECT source, n, count(*) AS n_docs,
               CAST(sum(CAST(frac AS DECIMAL(27,9))) AS DOUBLE) AS sfrac,
               sum(CASE WHEN (n = 2 AND frac > 0.2)
                         OR (n = 3 AND frac > 0.18) THEN 1 ELSE 0 END)
                   AS n_fail
        FROM per_doc GROUP BY 1, 2
    )
    SELECT source,
           max(CASE WHEN n = 2 THEN n_docs END) AS n_docs,
           floor(max(CASE WHEN n = 2 THEN sfrac / n_docs END) * 1e6 + 0.5)
               / 1e6 AS mean_dup2gram_char_frac,
           floor(max(CASE WHEN n = 3 THEN sfrac / n_docs END) * 1e6 + 0.5)
               / 1e6 AS mean_dup3gram_char_frac,
           CAST(max(CASE WHEN n = 2 THEN n_fail END) AS BIGINT)
               AS n_fail_dup2gram,
           CAST(max(CASE WHEN n = 3 THEN n_fail END) AS BIGINT)
               AS n_fail_dup3gram
    FROM agg GROUP BY 1 ORDER BY 1
    """,
)
def l_repeated_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    ws = load(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.length("text").alias("n_chars"),
        tokens().alias("w"),
    )
    grams = ws.select(
        "doc_id",
        "source",
        "n_chars",
        F.explode(
            F.expr(
                "concat("
                " CASE WHEN size(w) < 2 THEN array()"
                "      ELSE transform(sequence(1, size(w) - 1),"
                "        i -> named_struct('n', 2,"
                "          'g', concat(w[i-1], ' ', w[i]))) END,"
                " CASE WHEN size(w) < 3 THEN array()"
                "      ELSE transform(sequence(1, size(w) - 2),"
                "        i -> named_struct('n', 3,"
                "          'g', concat(w[i-1], ' ', w[i], ' ', w[i+1])))"
                " END)"
            )
        ).alias("t"),
    ).select("doc_id", "source", "n_chars", F.col("t.n").alias("n"),
             F.col("t.g").alias("g"))
    cnts = grams.groupBy("doc_id", "source", "n_chars", "n", "g").agg(
        F.count(F.lit(1)).alias("c")
    )
    per_doc = cnts.groupBy("doc_id", "source", "n").agg(
        F.least(
            F.sum(
                F.when(F.col("c") >= 2, F.col("c") * F.length("g")).otherwise(
                    0
                )
            ).cast("double")
            / F.max("n_chars"),
            F.lit(1.0),
        ).alias("frac")
    )
    agg = per_doc.groupBy("source", "n").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("frac").cast("decimal(27,9)")).cast("double").alias(
            "sfrac"
        ),
        F.sum(
            F.when(
                ((F.col("n") == 2) & (F.col("frac") > 0.2))
                | ((F.col("n") == 3) & (F.col("frac") > 0.18)),
                1,
            ).otherwise(0)
        ).alias("n_fail"),
    )

    def pick(n, expr):
        return F.max(F.when(F.col("n") == n, expr))

    f6 = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return (
        agg.groupBy("source")
        .agg(
            pick(2, F.col("n_docs")).alias("n_docs"),
            f6(pick(2, F.col("sfrac") / F.col("n_docs"))).alias(
                "mean_dup2gram_char_frac"
            ),
            f6(pick(3, F.col("sfrac") / F.col("n_docs"))).alias(
                "mean_dup3gram_char_frac"
            ),
            pick(2, F.col("n_fail")).cast("long").alias("n_fail_dup2gram"),
            pick(3, F.col("n_fail")).cast("long").alias("n_fail_dup3gram"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# l_jsd_source_divergence — pairwise Jensen-Shannon divergence between
# the unigram token distributions of every source pair: the standard
# "which crawl sources are interchangeable / which are distinct"
# diagnostic a training-data mixer runs before collapsing sources into
# a sampling weight. Distributions are over the global top-_JSD_TOP
# tokens + <OTHER> (a bounded bin vocabulary, so the per-source vector
# is ≤ _JSD_TOP+1 long no matter the corpus), Laplace-smoothed so every
# bin share is strictly positive. Each 0.5·(p·ln(2p/(p+q)) +
# q·ln(2q/(p+q))) term is cast to DECIMAL(27,9) before the cross-bin
# sum (the PSI idiom — libm ulp noise cannot flip the hash). Plan:
# map-side token explode + two hash aggregates; the pair join fans a
# (sources × bins) grid — 20 sources × 31 bins here — through a bin
# equi-join, never a doc-level join; JSD is symmetric so only s1 < s2
# pairs are emitted.
# ---------------------------------------------------------------------------
_JSD_TOP = 30


@query(
    "l_jsd_source_divergence",
    oracle=f"""
    WITH toks AS (
        SELECT source, unnest({tokens_sql('duckdb')}) AS tok
        FROM documents
    ),
    counts AS (
        SELECT source, tok, count(*) AS c FROM toks GROUP BY 1, 2
    ),
    gtop AS (
        SELECT tok,
               row_number() OVER (ORDER BY sum(c) DESC, tok) AS rk
        FROM counts GROUP BY tok
        QUALIFY rk <= {_JSD_TOP}
    ),
    binned AS (
        SELECT c.source,
               CASE WHEN g.tok IS NOT NULL THEN c.tok
                    ELSE '<OTHER>' END AS bin,
               CAST(sum(c.c) AS BIGINT) AS n
        FROM counts c LEFT JOIN gtop g ON c.tok = g.tok
        GROUP BY 1, 2
    ),
    grid AS (
        SELECT s.source, b.bin
        FROM (SELECT DISTINCT source FROM binned) s
        CROSS JOIN (SELECT DISTINCT bin FROM binned) b
    ),
    filled AS (
        SELECT g.source, g.bin, coalesce(b.n, 0) AS n,
               sum(coalesce(b.n, 0)) OVER (PARTITION BY g.source) AS tot,
               count(*) OVER (PARTITION BY g.source) AS nb
        FROM grid g
        LEFT JOIN binned b ON g.source = b.source AND g.bin = b.bin
    ),
    shares AS (
        SELECT source, bin, (n + 1.0) / (tot + nb) AS p FROM filled
    ),
    terms AS (
        SELECT a.source AS src_a, b.source AS src_b,
               CAST(0.5 * (a.p * ln(2 * a.p / (a.p + b.p))
                           + b.p * ln(2 * b.p / (a.p + b.p)))
                    AS DECIMAL(27,9)) AS term
        FROM shares a JOIN shares b
          ON a.bin = b.bin AND a.source < b.source
    )
    SELECT src_a, src_b,
           CAST(count(*) AS BIGINT) AS n_bins,
           CAST(CAST(sum(term) AS DECIMAL(27,9)) AS DOUBLE) AS jsd
    FROM terms GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def l_jsd_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = load(spark, sf_dir, "documents").select(
        "source", F.explode(tokens()).alias("tok")
    )
    counts = toks.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("c"))
    gtop = (
        counts.groupBy("tok")
        .agg(F.sum("c").alias("gc"))
        .withColumn(
            "rk",
            F.row_number().over(Window.orderBy(F.col("gc").desc(), "tok")),
        )
        .where(F.col("rk") <= _JSD_TOP)
        .select("tok")
    )
    binned = (
        counts.join(F.broadcast(gtop.withColumn("hit", F.lit(1))), "tok", "left")
        .select(
            "source",
            F.when(F.col("hit").isNotNull(), F.col("tok"))
            .otherwise("<OTHER>")
            .alias("bin"),
            "c",
        )
        .groupBy("source", "bin")
        .agg(F.sum("c").cast("long").alias("n"))
    )
    grid = (
        binned.select("source").distinct()
        .crossJoin(F.broadcast(binned.select("bin").distinct()))
    )
    filled = grid.join(binned, ["source", "bin"], "left").select(
        "source",
        "bin",
        F.coalesce(F.col("n"), F.lit(0)).alias("n"),
    )
    wsrc = Window.partitionBy("source")
    shares = filled.select(
        "source",
        "bin",
        (
            (F.col("n") + 1.0)
            / (F.sum("n").over(wsrc) + F.count(F.lit(1)).over(wsrc))
        ).alias("p"),
    )
    a = shares.alias("a")
    b = shares.alias("b")
    p, q = F.col("a.p"), F.col("b.p")
    terms = a.join(
        b,
        (F.col("a.bin") == F.col("b.bin"))
        & (F.col("a.source") < F.col("b.source")),
    ).select(
        F.col("a.source").alias("src_a"),
        F.col("b.source").alias("src_b"),
        (
            0.5
            * (
                p * F.log(2 * p / (p + q))
                + q * F.log(2 * q / (p + q))
            )
        )
        .cast("decimal(27,9)")
        .alias("term"),
    )
    return (
        terms.groupBy("src_a", "src_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bins"),
            F.sum("term").cast("decimal(27,9)").cast("double").alias("jsd"),
        )
        .orderBy("src_a", "src_b")
    )


# ---------------------------------------------------------------------------
# l_bm25_score — Okapi BM25 relevance scoring of every document against
# a fixed query-term set (k1=1.2, b=0.75), the standard lexical ranking
# function for retrieval/RAG candidate generation (one step past the
# TF-IDF ranking in l2_tfidf_top_terms: BM25 adds tf saturation and
# doc-length normalization). Plan: one scan tokenizes (tokens projected
# once — the non-CSE'd split rule), a 4-row literal term table explodes
# against it for per-(doc,term) tf via a filter lambda, per-term df and
# the corpus scalars (N, avgdl) come back as broadcast joins, and the
# per-term partial scores are quantized to DECIMAL(27,6) before the
# per-doc sum (order-independent; the log and the divisions are
# per-row IEEE arithmetic stated identically in both engines).
# At 100 TB: everything keys on doc_id except two tiny broadcasts;
# df/N/avgdl are map-side-combined aggregates.
# ---------------------------------------------------------------------------
_BM25_TERMS = ("join", "window", "stream", "merge")
_BM25_K1 = 1.2
_BM25_B = 0.75


@query(
    "l_bm25_score",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, {tokens_sql('duckdb')} AS ws,
               len({tokens_sql('duckdb')}) AS dl
        FROM documents
    ),
    dt AS (
        SELECT doc_id, dl, term,
               len(list_filter(ws, x -> x = term)) AS tf
        FROM tok CROSS JOIN (
            SELECT unnest(['join', 'window', 'stream', 'merge']) AS term
        )
    ),
    stats AS (
        SELECT term,
               CAST(count(CASE WHEN tf > 0 THEN 1 END) AS DOUBLE) AS df
        FROM dt GROUP BY 1
    ),
    scal AS (
        SELECT CAST(count(*) AS DOUBLE) AS n_docs,
               floor(CAST(sum(dl) AS DOUBLE) / count(*) * 1e6 + 0.5) / 1e6
                   AS avgdl
        FROM tok
    ),
    idf AS (
        SELECT term,
               floor(ln((n_docs - df + 0.5) / (df + 0.5) + 1)
                     * 1e6 + 0.5) / 1e6 AS idf
        FROM stats CROSS JOIN scal
    ),
    parts AS (
        SELECT d.doc_id, d.dl,
               CAST(floor(i.idf * (d.tf * ({_BM25_K1} + 1))
                          / (d.tf + {_BM25_K1} * (1 - {_BM25_B}
                             + {_BM25_B} * d.dl / s.avgdl))
                          * 1e6 + 0.5) / 1e6
                    AS DECIMAL(27,6)) AS part_score
        FROM dt d JOIN idf i USING (term) CROSS JOIN scal s
        WHERE d.tf > 0
    )
    SELECT doc_id,
           CAST(max(dl) AS BIGINT) AS dl,
           CAST(count(*) AS BIGINT) AS n_hit_terms,
           CAST(sum(part_score) AS DOUBLE) AS bm25
    FROM parts GROUP BY 1
    """,
)
def l_bm25_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    k1, b = _BM25_K1, _BM25_B
    tok = (
        load(spark, sf_dir, "documents")
        .select("doc_id", tokens().alias("ws"))
        .select("doc_id", "ws", F.size("ws").alias("dl"))
    )
    terms = F.array(*[F.lit(t) for t in _BM25_TERMS])
    dt = tok.select(
        "doc_id",
        "dl",
        F.explode(terms).alias("term"),
        "ws",
    ).select(
        "doc_id",
        "dl",
        "term",
        F.expr("size(filter(ws, x -> x = term))").alias("tf"),
    )
    stats = dt.groupBy("term").agg(
        F.count(F.when(F.col("tf") > 0, 1)).cast("double").alias("df")
    )
    scal = tok.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        (
            F.floor(
                F.sum("dl").cast("double") / F.count(F.lit(1)) * 1e6
                + F.lit(0.5)
            )
            / 1e6
        ).alias("avgdl"),
    )
    idf = stats.crossJoin(F.broadcast(scal)).select(
        "term",
        (
            F.floor(
                F.log(
                    (F.col("n_docs") - F.col("df") + 0.5)
                    / (F.col("df") + 0.5)
                    + 1
                )
                * 1e6
                + F.lit(0.5)
            )
            / 1e6
        ).alias("idf"),
    )
    parts = (
        dt.where(F.col("tf") > 0)
        .join(F.broadcast(idf), "term")
        .crossJoin(F.broadcast(scal))
        .select(
            "doc_id",
            "dl",
            (
                F.floor(
                    F.col("idf")
                    * (F.col("tf") * (k1 + 1))
                    / (
                        F.col("tf")
                        + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
                    )
                    * 1e6
                    + F.lit(0.5)
                )
                / 1e6
            )
            .cast("decimal(27,6)")
            .alias("part_score"),
        )
    )
    return parts.groupBy("doc_id").agg(
        F.max("dl").cast("long").alias("dl"),
        F.count(F.lit(1)).cast("long").alias("n_hit_terms"),
        F.sum("part_score").cast("double").alias("bm25"),
    )


# ---------------------------------------------------------------------------
# l_stopword_profile — stopword-ratio screen per (source, lang): the
# classic C4/Gopher quality signal ("too few stopwords → not natural
# prose; too many → boilerplate"). A fixed 10-word function-word list
# enters both engines as a literal; per-doc ratios are exact rationals
# (stop_tokens / tokens) and the band counts use count(CASE) (zero on
# empty). One explode-free pass: the per-doc stop count is a filtered
# size() over the projected token array — the whole profile stays in
# one codegen stage with the scan.
# ---------------------------------------------------------------------------
_PROFILE_STOPWORDS = (
    "the", "a", "and", "of", "to", "in", "is", "it", "on", "for",
)


@query(
    "l_stopword_profile",
    oracle=f"""
    WITH toks AS (
        SELECT source, lang,
               len({tokens_sql('duckdb')}) AS n_tok,
               len(list_filter({tokens_sql('duckdb')},
                   t -> t IN ({", ".join(f"'{w}'" for w in _PROFILE_STOPWORDS)})))
                   AS n_stop
        FROM documents
    )
    SELECT source, lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS total_tokens,
           CAST(sum(n_stop) AS BIGINT) AS stop_tokens,
           floor(CAST(sum(n_stop) AS DOUBLE) / sum(n_tok) * 1e6 + 0.5)
               / 1e6 AS stop_share,
           CAST(count(CASE WHEN n_tok > 0
                           AND CAST(n_stop AS DOUBLE) / n_tok < 0.05
                           THEN 1 END) AS BIGINT) AS docs_low_stop,
           CAST(count(CASE WHEN n_tok > 0
                           AND CAST(n_stop AS DOUBLE) / n_tok > 0.5
                           THEN 1 END) AS BIGINT) AS docs_high_stop
    FROM toks
    GROUP BY 1, 2 HAVING sum(n_tok) > 0
    ORDER BY 1, 2
    """,
)
def l_stopword_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    sw = ", ".join(f"'{w}'" for w in _PROFILE_STOPWORDS)
    toks = docs.select(
        "source",
        "lang",
        F.size(tokens()).alias("n_tok"),
        F.expr(
            f"size(filter({tokens_sql('spark')}, t -> t IN ({sw})))"
        ).alias("n_stop"),
    )
    ratio = F.col("n_stop").cast("double") / F.col("n_tok")
    return (
        toks.groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("total_tokens"),
            F.sum("n_stop").cast("long").alias("stop_tokens"),
            (
                F.floor(
                    F.sum("n_stop").cast("double") / F.sum("n_tok") * 1e6
                    + F.lit(0.5)
                )
                / 1e6
            ).alias("stop_share"),
            F.count(F.when((F.col("n_tok") > 0) & (ratio < 0.05), F.lit(1)))
            .cast("long")
            .alias("docs_low_stop"),
            F.count(F.when((F.col("n_tok") > 0) & (ratio > 0.5), F.lit(1)))
            .cast("long")
            .alias("docs_high_stop"),
        )
        .where(F.sum("n_tok") > 0)
        .orderBy("source", "lang")
    )


# ---------------------------------------------------------------------------
# l_char_class_profile — character-class composition per source
# (letter / digit / space / punctuation / other codepoint shares): the
# first-pass corpus screen that separates prose from tables, code and
# mojibake before any tokenizer runs. Class counts are codepoint
# counts via regexp_replace-stripping (identical regex semantics both
# engines; class complements, so the five counts sum to the total).
# Everything reduces in one aggregate over the scan.
# ---------------------------------------------------------------------------
@query(
    "l_char_class_profile",
    oracle=r"""
    WITH c AS (
        SELECT source,
               length(text) AS total,
               length(text) - length(regexp_replace(text, '[a-zA-Z]', '',
                                                    'g')) AS letters,
               length(text) - length(regexp_replace(text, '[0-9]', '',
                                                    'g')) AS digits,
               length(text) - length(regexp_replace(text, ' ', '', 'g'))
                   AS spaces,
               length(text) - length(regexp_replace(text,
                   '[.,;:!?''"()\[\]{}-]', '', 'g')) AS puncts
        FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(total) AS BIGINT) AS total_chars,
           floor(CAST(sum(letters) AS DOUBLE) / sum(total) * 1e6 + 0.5)
               / 1e6 AS letter_share,
           floor(CAST(sum(digits) AS DOUBLE) / sum(total) * 1e6 + 0.5)
               / 1e6 AS digit_share,
           floor(CAST(sum(spaces) AS DOUBLE) / sum(total) * 1e6 + 0.5)
               / 1e6 AS space_share,
           floor(CAST(sum(puncts) AS DOUBLE) / sum(total) * 1e6 + 0.5)
               / 1e6 AS punct_share,
           floor(CAST(sum(total - letters - digits - spaces - puncts)
                      AS DOUBLE) / sum(total) * 1e6 + 0.5) / 1e6
               AS other_share
    FROM c GROUP BY 1 HAVING sum(total) > 0 ORDER BY 1
    """,
)
def l_char_class_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    strip = lambda pat: F.length("text") - F.length(  # noqa: E731
        F.regexp_replace("text", pat, "")
    )
    c = docs.select(
        "source",
        F.length("text").alias("total"),
        strip("[a-zA-Z]").alias("letters"),
        strip("[0-9]").alias("digits"),
        strip(" ").alias("spaces"),
        strip(r"""[.,;:!?'"()\[\]{}-]""").alias("puncts"),
    )
    share = lambda col: (  # noqa: E731
        F.floor(
            F.sum(col).cast("double") / F.sum("total") * 1e6 + F.lit(0.5)
        )
        / 1e6
    )
    return (
        c.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("total").cast("long").alias("total_chars"),
            share(F.col("letters")).alias("letter_share"),
            share(F.col("digits")).alias("digit_share"),
            share(F.col("spaces")).alias("space_share"),
            share(F.col("puncts")).alias("punct_share"),
            share(
                F.col("total")
                - F.col("letters")
                - F.col("digits")
                - F.col("spaces")
                - F.col("puncts")
            ).alias("other_share"),
        )
        .where(F.sum("total") > 0)
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# l_numeric_density_filter — numeric-content screen per source: per-doc
# digit-codepoint ratio and numeric-token share (tokens that are pure
# number/punctuation forms), banded into low/mid/high numeric density.
# Tables, price lists and serialized data light up the high band; the
# counts are what a filter stage would drop. Same single-pass shape as
# the stopword profile (filtered size() over the projected tokens).
# ---------------------------------------------------------------------------
@query(
    "l_numeric_density_filter",
    oracle=rf"""
    WITH d AS (
        SELECT source,
               length(text) AS nc,
               length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
                   AS nd,
               len({tokens_sql('duckdb')}) AS n_tok,
               len(list_filter({tokens_sql('duckdb')},
                   t -> regexp_full_match(t, '[0-9.,%$+\-]+')))
                   AS n_numtok
        FROM documents
    ),
    banded AS (
        SELECT source, nc, nd, n_tok, n_numtok,
               CASE WHEN nc = 0 OR CAST(nd AS DOUBLE) / nc < 0.05
                    THEN 'low'
                    WHEN CAST(nd AS DOUBLE) / nc < 0.2 THEN 'mid'
                    ELSE 'high' END AS band
        FROM d
    )
    SELECT source, band,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(nd) AS BIGINT) AS digit_chars,
           CAST(sum(n_numtok) AS BIGINT) AS numeric_tokens,
           floor(CAST(sum(n_numtok) AS DOUBLE) / sum(n_tok) * 1e6 + 0.5)
               / 1e6 AS numeric_token_share
    FROM banded GROUP BY 1, 2 HAVING sum(n_tok) > 0 ORDER BY 1, 2
    """,
)
def l_numeric_density_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    d = docs.select(
        "source",
        F.length("text").alias("nc"),
        (
            F.length("text")
            - F.length(F.regexp_replace("text", "[0-9]", ""))
        ).alias("nd"),
        F.size(tokens()).alias("n_tok"),
        F.expr(
            rf"size(filter({tokens_sql('spark')},"
            r" t -> t RLIKE '^[0-9.,%$+\\-]+$'))"
        ).alias("n_numtok"),
    )
    ratio = F.col("nd").cast("double") / F.col("nc")
    banded = d.select(
        "*",
        F.when((F.col("nc") == 0) | (ratio < 0.05), "low")
        .when(ratio < 0.2, "mid")
        .otherwise("high")
        .alias("band"),
    )
    return (
        banded.groupBy("source", "band")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("nd").cast("long").alias("digit_chars"),
            F.sum("n_numtok").cast("long").alias("numeric_tokens"),
            (
                F.floor(
                    F.sum("n_numtok").cast("double")
                    / F.sum("n_tok")
                    * 1e6
                    + F.lit(0.5)
                )
                / 1e6
            ).alias("numeric_token_share"),
        )
        .where(F.sum("n_tok") > 0)
        .orderBy("source", "band")
    )


# ---------------------------------------------------------------------------
# l_word_length_profile — word-length morphology per source: mean
# token length, share of 1–2-char tokens, share of >15-char tokens
# (the Gopher "mean word length in [3, 10]" rule plus its two tail
# flags, as data). Token lengths come from a single explode with
# map-side combine on (source, len) — vocabulary-bounded shuffle.
# ---------------------------------------------------------------------------
@query(
    "l_word_length_profile",
    oracle=f"""
    WITH toks AS (
        SELECT source, length(unnest({tokens_sql('duckdb')})) AS wl
        FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_tokens,
           floor(CAST(sum(wl) AS DOUBLE) / count(*) * 1e6 + 0.5) / 1e6
               AS mean_word_len,
           floor(CAST(count(CASE WHEN wl <= 2 THEN 1 END) AS DOUBLE)
                 / count(*) * 1e6 + 0.5) / 1e6 AS short_share,
           floor(CAST(count(CASE WHEN wl > 15 THEN 1 END) AS DOUBLE)
                 / count(*) * 1e6 + 0.5) / 1e6 AS long_share,
           CASE WHEN CAST(sum(wl) AS DOUBLE) / count(*) >= 3
                 AND CAST(sum(wl) AS DOUBLE) / count(*) <= 10
                THEN 1 ELSE 0 END AS passes_gopher_rule
    FROM toks GROUP BY 1 ORDER BY 1
    """,
)
def l_word_length_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(tokens()).alias("tok")
    ).select("source", F.length("tok").alias("wl"))
    mean_wl = F.sum("wl").cast("double") / F.count(F.lit(1))
    r6 = lambda c_: F.floor(c_ * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return (
        toks.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            r6(mean_wl).alias("mean_word_len"),
            r6(
                F.count(F.when(F.col("wl") <= 2, F.lit(1))).cast("double")
                / F.count(F.lit(1))
            ).alias("short_share"),
            r6(
                F.count(F.when(F.col("wl") > 15, F.lit(1))).cast("double")
                / F.count(F.lit(1))
            ).alias("long_share"),
            F.when((mean_wl >= 3) & (mean_wl <= 10), 1)
            .otherwise(0)
            .alias("passes_gopher_rule"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# l_hapax_ratio — vocabulary-richness profile per source: vocabulary
# size, hapax legomena (terms seen exactly once) and their share of
# the vocabulary, plus the token/type ratio. The companion number to
# the Heaps/Zipf fits: a collapsing hapax share is the classic symptom
# of template/boilerplate corpora. Two vocabulary-bounded aggregates
# (term counts, then the summary) — the corpus is scanned once.
# ---------------------------------------------------------------------------
@query(
    "l_hapax_ratio",
    oracle=f"""
    WITH tf AS (
        SELECT source, term, count(*) AS c
        FROM (SELECT source, unnest({tokens_sql('duckdb')}) AS term
              FROM documents)
        GROUP BY 1, 2
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS vocab_size,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           CAST(count(CASE WHEN c = 1 THEN 1 END) AS BIGINT) AS hapax_count,
           floor(CAST(count(CASE WHEN c = 1 THEN 1 END) AS DOUBLE)
                 / count(*) * 1e6 + 0.5) / 1e6 AS hapax_share,
           floor(CAST(sum(c) AS DOUBLE) / count(*) * 1e6 + 0.5) / 1e6
               AS tokens_per_type
    FROM tf GROUP BY 1 ORDER BY 1
    """,
)
def l_hapax_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    tf = (
        docs.select(
            "source", F.explode(tokens()).alias("term")
        )
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    r6 = lambda c_: F.floor(c_ * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return (
        tf.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("vocab_size"),
            F.sum("c").cast("long").alias("n_tokens"),
            F.count(F.when(F.col("c") == 1, F.lit(1)))
            .cast("long")
            .alias("hapax_count"),
            r6(
                F.count(F.when(F.col("c") == 1, F.lit(1))).cast("double")
                / F.count(F.lit(1))
            ).alias("hapax_share"),
            r6(F.sum("c").cast("double") / F.count(F.lit(1))).alias(
                "tokens_per_type"
            ),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# l_common_ngram_blocklist — cross-document boilerplate screen: build
# the top-20 corpus 5-grams by document frequency (ties broken
# lexicographically — a total order), then report per source how many
# documents contain at least one blocklisted 5-gram and the average
# number of distinct blocklisted grams per affected doc. The C4-style
# "common template phrase" detector, the cross-doc complement of
# l_repeated_ngram_coverage's within-doc repetition. Scale shape:
# grams explode once with per-doc DISTINCT, DF counts combine
# map-side (vocabulary-bounded shuffle), the 20-row blocklist joins
# back as a broadcast — never a gram×gram or doc×doc product.
# ``ws`` is projected before the transform (Spark does not CSE
# split() across lambda references).
# ---------------------------------------------------------------------------
@query(
    "l_common_ngram_blocklist",
    oracle=f"""
    WITH ws AS (
        SELECT doc_id, source, {tokens_sql('duckdb')} AS w
        FROM documents
    ),
    grams AS (
        SELECT DISTINCT doc_id, source,
               array_to_string(w[i:i+4], ' ') AS g
        FROM (SELECT doc_id, source, w,
                     unnest(range(1, len(w) - 3)) AS i
              FROM ws WHERE len(w) >= 5)
    ),
    df AS (
        SELECT g, count(*) AS df FROM grams GROUP BY 1
    ),
    top AS (
        SELECT g, df,
               row_number() OVER (ORDER BY df DESC, g) AS rk
        FROM df
    ),
    blocklist AS (SELECT g, df FROM top WHERE rk <= 20),
    hits AS (
        SELECT gr.source, gr.doc_id, count(*) AS n_hits
        FROM grams gr JOIN blocklist b ON gr.g = b.g
        GROUP BY 1, 2
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS docs_with_blocklisted,
           CAST(sum(n_hits) AS BIGINT) AS total_hits,
           floor(CAST(sum(n_hits) AS DOUBLE) / count(*) * 1e6 + 0.5) / 1e6
               AS mean_hits_per_doc
    FROM hits GROUP BY 1 ORDER BY 1
    """,
)
def l_common_ngram_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    ws = docs.select("doc_id", "source", tokens().alias("w"))
    grams = (
        ws.where(F.size("w") >= 5)
        .select(
            "doc_id",
            "source",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(w) - 5),"
                    " i -> array_join(slice(w, i + 1, 5), ' '))"
                )
            ).alias("g"),
        )
        .distinct()
    )
    df = grams.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    top = df.select(
        "g",
        "df",
        F.row_number().over(Window.orderBy(F.col("df").desc(), "g")).alias(
            "rk"
        ),
    )
    blocklist = top.where(F.col("rk") <= 20).select("g", "df")
    hits = (
        grams.join(F.broadcast(blocklist), "g")
        .groupBy("source", "doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        hits.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("docs_with_blocklisted"),
            F.sum("n_hits").cast("long").alias("total_hits"),
            (
                F.floor(
                    F.sum("n_hits").cast("double")
                    / F.count(F.lit(1))
                    * 1e6
                    + F.lit(0.5)
                )
                / 1e6
            ).alias("mean_hits_per_doc"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# l_bpe_train_multistep — BPE TRAINING to a fixed merge budget (K=8),
# extending l_bpe_merge_step from one step to the iterative algorithm a
# real tokenizer trainer runs. State between rounds is the exploded
# SYMBOL table (w, cnt, pos, sym) — vocab grain × word length, never
# the corpus — rewritten each round: count adjacent pairs weighted by
# word frequency, pick the argmax (deterministic pc DESC, a, b
# tiebreak), merge every left-greedy occurrence (island parity: runs of
# consecutive matched positions only arise for self-pairs, and odd
# in-island ranks are the merge heads), drop the consumed right symbol,
# re-rank positions. Each round's table is localCheckpointed: K
# compounding window/join lineages would otherwise stack into one
# mega-plan, and the checkpoint bound is vocab-grain (millions of rows
# at 100 TB, not billions).
#
# Output: one row per executed merge step — step, the merged pair, its
# corpus pair count, corpus tokens after the merge (the vocab/merges
# table a tokenizer ships). A round with no remaining pair (every word
# a single symbol) emits nothing and later rounds stay empty — the
# K-budget is an upper bound, not a promise.
#
# Oracle: the a51/l_pca idiom — the SAME round body unrolled K times as
# materialized CTE chains (AS MATERIALIZED: DuckDB re-inlines CTEs per
# reference, which goes exponential across K rounds without it).
# ---------------------------------------------------------------------------
_BPE_K = 8


def _bpe_round_oracle(k: int, min_pair: int = 0) -> str:
    """One unrolled training round: symt{k} -> sel{k} (the chosen merge)
    and symt{k+1} (the rewritten symbol table). ``min_pair`` >= 2 adds
    the convergence HAVING gate: a round whose best pair is rarer than
    the floor selects nothing, so the table passes through unchanged —
    the unrolled equivalent of the trainer's early-stop break."""
    having = (
        f"HAVING CAST(sum(cnt) AS BIGINT) >= {min_pair}"
        if min_pair >= 2
        else ""
    )
    return f"""
    led{k} AS MATERIALIZED (
        SELECT w, cnt, pos, sym,
               lead(sym) OVER (PARTITION BY w ORDER BY pos) AS nxt
        FROM symt{k}
    ),
    sel{k} AS MATERIALIZED (
        SELECT sym AS a, nxt AS b, CAST(sum(cnt) AS BIGINT) AS pc
        FROM led{k} WHERE nxt IS NOT NULL
        GROUP BY 1, 2 {having} ORDER BY pc DESC, a, b LIMIT 1
    ),
    heads{k} AS MATERIALIZED (
        SELECT w, pos FROM (
            SELECT w, pos,
                   row_number() OVER (PARTITION BY w, grp ORDER BY pos)
                       AS idx
            FROM (
                SELECT t.w, t.pos,
                       t.pos - row_number() OVER (PARTITION BY t.w
                                                  ORDER BY t.pos) AS grp
                FROM led{k} t JOIN sel{k} s
                  ON t.sym = s.a AND t.nxt = s.b
            )
        ) WHERE idx % 2 = 1
    ),
    symt{k + 1} AS MATERIALIZED (
        SELECT w, cnt,
               row_number() OVER (PARTITION BY w ORDER BY pos) AS pos,
               sym
        FROM (
            SELECT t.w, t.cnt, t.pos,
                   CASE WHEN h1.pos IS NOT NULL THEN t.sym || t.nxt
                        ELSE t.sym END AS sym
            FROM led{k} t
            LEFT JOIN heads{k} h1
              ON t.w = h1.w AND t.pos = h1.pos
            LEFT JOIN heads{k} h2
              ON t.w = h2.w AND t.pos = h2.pos + 1
            WHERE h2.pos IS NULL
        )
    )"""


def _bpe_chain(k_budget: int, min_pair: int = 0) -> str:
    """The K-round training chain (WITH body through symt{K+1}), shared
    by the trainer's merges-table oracle, the encoder's stats oracle and
    the convergence variant."""
    return (
        f"""
    WITH symt1 AS MATERIALIZED (
        SELECT w, cnt, i + 1 AS pos, cs[i + 1] AS sym
        FROM (
            SELECT w, cnt, cs, unnest(range(len(cs))) AS i
            FROM (
                SELECT w, count(*) AS cnt, string_split(w, '') AS cs
                FROM (SELECT unnest({tokens_sql('duckdb')}) AS w
                      FROM documents)
                WHERE len(w) > 0 GROUP BY 1
            )
        )
    ),"""
        + ",".join(
            _bpe_round_oracle(k, min_pair) for k in range(1, k_budget + 1)
        )
    )


def _bpe_merges_select(k_budget: int) -> str:
    return "\n    UNION ALL ".join(
        f"""SELECT {k} AS step, a AS merge_left, b AS merge_right,
               pc AS pair_count,
               (SELECT CAST(coalesce(sum(cnt), 0) AS BIGINT)
                FROM symt{k + 1}) AS tokens_after
        FROM sel{k}"""
        for k in range(1, k_budget + 1)
    )


_BPE_CHAIN = _bpe_chain(_BPE_K)

_BPE_ORACLE = _BPE_CHAIN + "\n    " + _bpe_merges_select(_BPE_K)


# Trained-table memo: (applicationId, sf_dir, k_budget, min_pair) ->
# (steps, final symt). The final symt is a localCheckpoint bound to the
# session, so keying by applicationId is what makes reuse safe; the
# encoder reuses the trainer's rounds instead of retraining all K.
# Only the FINAL table stays persisted (vocab-grain, one per fixture) —
# superseded round checkpoints are unpersisted inside the loop.
_BPE_MEMO: dict = {}


def _bpe_train_rounds(
    spark: SparkSession,
    sf_dir: str,
    k_budget: int = _BPE_K,
    min_pair: int = 0,
):
    """Run the K-round trainer; return (per-step 1-row DataFrames with
    merge/pair_count/tokens_after, final symbol table). Both the
    trainer's merges-table output and the encoder's stats reuse this.

    ``min_pair`` >= 2 enables convergence early-stop: a round whose best
    pair occurs fewer than ``min_pair`` times merges nothing and ends
    training (the table is then a fixed point, so all later rounds
    would be empty too — the break is exactly the unrolled semantics).
    """
    from pyspark.sql import Window

    from dock_financial_data_pipelines_spark.connect_compat import (
        session_key,
    )

    memo_key = (session_key(spark), sf_dir, k_budget, min_pair)
    if memo_key in _BPE_MEMO:
        return _BPE_MEMO[memo_key]

    vocab = (
        load(spark, sf_dir, "documents")
        .select(F.explode(tokens()).alias("w"))
        .where(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    symt = (
        vocab.select(
            "w", "cnt", F.posexplode(F.split("w", "")).alias("i", "sym")
        )
        .select("w", "cnt", (F.col("i") + 1).alias("pos"), "sym")
        .localCheckpoint(eager=True)
    )
    w_word = Window.partitionBy("w").orderBy("pos")
    steps = []
    for k in range(1, k_budget + 1):
        led = symt.withColumn("nxt", F.lead("sym").over(w_word))
        # The round's argmax is ONE row (model-sized): collect it to the
        # driver and apply the merge with scalar literals + windows, NOT
        # a join back against `heads`. The join formulation referenced
        # the previous round's checkpoint 3x per round, and because
        # localCheckpoint PRESERVES origin statistics, Catalyst's
        # size-only stats visitor (sizeInBytes = product over join
        # children) grew a 3^k-bit BigInt across rounds — planning cost
        # exploded exponentially in K (hours at K=16). The window
        # formulation references the previous round exactly once, so
        # stats grow linearly and each round is a single shuffle-by-w
        # stage chain.
        best = (
            led.where(F.col("nxt").isNotNull())
            .groupBy(F.col("sym").alias("a"), F.col("nxt").alias("b"))
            .agg(F.sum("cnt").cast("long").alias("pc"))
            .orderBy(F.col("pc").desc(), "a", "b")
            .limit(1)
            .first()
        )
        if best is None or (min_pair >= 2 and best["pc"] < min_pair):
            # Nothing left to merge (or below the convergence floor):
            # the table is a fixed point, so every later round would be
            # empty too — stop. Matches the unrolled oracle, whose
            # sel{k}.. are all empty from here on.
            break
        a, b = best["a"], best["b"]
        # BPE pairing inside a run of consecutive (a,b) matches is
        # leftmost-greedy: heads are the 1st, 3rd, 5th... match of each
        # run ("aaaa" merges positions 1 and 3). Runs are islands of
        # consecutive matched positions; within (w, m, island) the run
        # start is min(pos), and a position is absorbed iff the PREVIOUS
        # position is a head.
        m = (
            F.col("nxt").isNotNull()
            & (F.col("sym") == F.lit(a))
            & (F.col("nxt") == F.lit(b))
        )
        led2 = (
            led.withColumn("m", m)
            .withColumn(
                "rn_m",
                F.sum(F.col("m").cast("int")).over(
                    w_word.rowsBetween(Window.unboundedPreceding, 0)
                ),
            )
            .withColumn("island", F.col("pos") - F.col("rn_m"))
            .withColumn(
                "run_start",
                F.min(F.when(F.col("m"), F.col("pos"))).over(
                    Window.partitionBy("w", "m", "island")
                ),
            )
            .withColumn(
                "head",
                F.col("m") & ((F.col("pos") - F.col("run_start")) % 2 == 0),
            )
            .withColumn(
                "absorbed",
                F.coalesce(F.lag("head").over(w_word), F.lit(False)),
            )
        )
        rewritten = led2.where(~F.col("absorbed")).select(
            "w",
            "cnt",
            "pos",
            F.when(F.col("head"), F.concat("sym", "nxt"))
            .otherwise(F.col("sym"))
            .alias("sym"),
        )
        prev = symt
        symt = (
            rewritten.select(
                "w",
                "cnt",
                F.row_number().over(w_word).alias("pos"),
                "sym",
            )
            .localCheckpoint(eager=True)
        )
        # Round k's table is now materialized; round k-1's checkpoint
        # has no remaining consumer (tokens_after below is collected as
        # a scalar before the next round supersedes THIS table), so
        # release its blocks — without this, K rounds x repeated bench
        # passes accumulate checkpointed RDDs in executor storage.
        release_local_checkpoint(prev)
        # 1-row scalar (model-sized): folding it in as a literal keeps
        # the step frames free of any reference to superseded round
        # tables, which is what makes the unpersist above safe.
        tokens_after = int(
            symt.agg(
                F.coalesce(F.sum("cnt"), F.lit(0)).cast("long").alias("t")
            ).first()["t"]
        )
        steps.append(
            local_frame(spark, 
                [(k, str(a), str(b), int(best["pc"]), tokens_after)],
                _BPE_STEP_SCHEMA,
            )
        )
    _BPE_MEMO[memo_key] = (steps, symt)
    return steps, symt


_BPE_STEP_SCHEMA = (
    "step int, merge_left string, merge_right string, "
    "pair_count long, tokens_after long"
)


def _union_steps(spark: SparkSession, steps: list) -> DataFrame:
    from functools import reduce

    if not steps:
        # Empty corpus: the trainer breaks in round 1 (nothing to
        # merge), matching the oracle's all-empty sel{k} CTEs.
        return spark.createDataFrame([], _BPE_STEP_SCHEMA)
    return reduce(lambda x, y: x.unionAll(y), steps)


@query("l_bpe_train_multistep", oracle=_BPE_ORACLE)
def l_bpe_train_multistep(spark: SparkSession, sf_dir: str) -> DataFrame:
    steps, _ = _bpe_train_rounds(spark, sf_dir)
    return _union_steps(spark, steps)


# ---------------------------------------------------------------------------
# l_bpe_encode_stats — tokenizer INFERENCE: encode the corpus with the
# K learned merges and report per-language tokenization statistics
# (instances, distinct words, chars, BPE tokens, fertility = tokens per
# word, chars per token). The trained symbol table IS the encoding —
# training rewrote every vocab word with each merge as it was learned,
# which is exactly how a learned BPE tokenizer segments those words —
# so encoding is a vocab-grain count of surviving symbols per word
# joined back to the per-language word-frequency table. Text never
# re-tokenizes per document; at 100 TB the join is (lang, word)-grain
# against a vocab-sized symbol-count dictionary.
# ---------------------------------------------------------------------------
@query(
    "l_bpe_encode_stats",
    oracle=_BPE_CHAIN
    + f""",
    syms AS MATERIALIZED (
        SELECT w, CAST(count(*) AS BIGINT) AS ntok
        FROM symt{_BPE_K + 1} GROUP BY 1
    ),
    wl AS (
        SELECT lang, w, count(*) AS cnt
        FROM (SELECT lang, unnest({tokens_sql('duckdb')}) AS w
              FROM documents)
        WHERE len(w) > 0 GROUP BY 1, 2
    )
    SELECT lang,
           CAST(sum(cnt) AS BIGINT) AS n_word_instances,
           CAST(count(*) AS BIGINT) AS n_distinct_words,
           CAST(sum(cnt * length(w)) AS BIGINT) AS n_chars,
           CAST(sum(cnt * s.ntok) AS BIGINT) AS n_bpe_tokens,
           CAST(sum(cnt * s.ntok) AS DOUBLE) / sum(cnt) AS fertility,
           CAST(sum(cnt * length(w)) AS DOUBLE) / sum(cnt * s.ntok)
               AS chars_per_token
    FROM wl JOIN syms s USING (w) GROUP BY 1
    """,
)
def l_bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, symt = _bpe_train_rounds(spark, sf_dir)
    syms = symt.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("ntok"))
    wl = (
        load(spark, sf_dir, "documents")
        .select("lang", F.explode(tokens()).alias("w"))
        .where(F.length("w") > 0)
        .groupBy("lang", "w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        wl.join(syms, "w")
        .groupBy("lang")
        .agg(
            F.sum("cnt").cast("long").alias("n_word_instances"),
            F.count(F.lit(1)).cast("long").alias("n_distinct_words"),
            F.sum(F.col("cnt") * F.length("w"))
            .cast("long")
            .alias("n_chars"),
            F.sum(F.col("cnt") * F.col("ntok"))
            .cast("long")
            .alias("n_bpe_tokens"),
            (
                F.sum(F.col("cnt") * F.col("ntok")).cast("double")
                / F.sum("cnt")
            ).alias("fertility"),
            (
                F.sum(F.col("cnt") * F.length("w")).cast("double")
                / F.sum(F.col("cnt") * F.col("ntok"))
            ).alias("chars_per_token"),
        )
    )


# ---------------------------------------------------------------------------
# l_bpe_train_converged — BPE training TO CONVERGENCE under a K=16
# budget: each round still merges the single most frequent adjacent
# symbol pair, but training stops as soon as the best remaining pair
# occurs fewer than 2 times (a pair merged once saves zero tokens, so
# the vocabulary has converged for this corpus). The budget is an upper
# bound, not a promise — on small/degenerate corpora the emitted merge
# table is shorter than K. Convergence is detected from the 1-row
# per-round argmax (model-sized driver read, never data-sized), and the
# stop is exactly equivalent to running all K unrolled rounds with the
# HAVING floor: a round that merges nothing leaves the table a fixed
# point, so every later round is empty too.
# ---------------------------------------------------------------------------
_BPE_CONV_K = 16

_BPE_CONV_ORACLE = (
    _bpe_chain(_BPE_CONV_K, min_pair=2)
    + "\n    "
    + _bpe_merges_select(_BPE_CONV_K)
)


@query("l_bpe_train_converged", oracle=_BPE_CONV_ORACLE)
def l_bpe_train_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    steps, _ = _bpe_train_rounds(
        spark, sf_dir, k_budget=_BPE_CONV_K, min_pair=2
    )
    return _union_steps(spark, steps)
