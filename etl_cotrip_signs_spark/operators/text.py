"""Text-analysis operators over the `documents` table [EXT].

Token stats, word counts, quality scoring, language-ID heuristics, TF-IDF,
and document fingerprinting — all builtin string/array expressions (no
Python in any hot path). Oracle patterns stay within the Java-regex ∩ RE2
common subset; counting uses the length-difference idiom
(len(text) - len(replace(text, w, ''))) which is dialect-free.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W, functions as F

from ..functions.shingles import shingles_from_tokens, tokens
from ..functions.bpe_sql import bpe_apply_oracle
from ..functions.phonetic_sql import SOUNDEX_MACROS
from ..functions.xxh64_sql import XXH64_MACROS
from ..io import load_table
from ..registry import query
from ..session import broadcast_if_fits


def _occurrences(text: Column, needle: str) -> Column:
    """Count non-overlapping occurrences of a literal substring."""
    return (
        (F.length(text) - F.length(F.replace(text, F.lit(needle), F.lit(""))))
        / len(needle)
    ).cast("long")


@query(
    "text_token_stats",
    oracle="""
    SELECT doc_id,
           len(string_split_regex(trim(text), '\\s+'))                 AS n_tokens,
           len(list_distinct(string_split_regex(trim(text), '\\s+')))  AS n_uniq_tokens,
           round(CAST(list_sum(list_transform(string_split_regex(trim(text), '\\s+'),
                                              t -> len(t))) AS DOUBLE)
                 / len(string_split_regex(trim(text), '\\s+')), 4)     AS avg_token_len
    FROM documents
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: total, distinct, mean token length per document."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens(F.col("text")).alias("w")
    )
    w = F.col("w")
    total_len = F.aggregate(
        F.transform(w, lambda t: F.length(t).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return d.select(
        "doc_id",
        F.size(w).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(w)).cast("long").alias("n_uniq_tokens"),
        F.round(total_len.cast("double") / F.size(w), 4).alias("avg_token_len"),
    )


@query(
    "text_wordcount_topk",
    oracle="""
    SELECT word, count(*) AS n
    FROM (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS word FROM documents)
    GROUP BY word
    ORDER BY n DESC, word
    LIMIT 20
    """,
)
def text_wordcount_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-20 word count (explode → agg → TakeOrdered)."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(tokens(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "word")
        .limit(20)
    )


@query(
    "text_quality_score",
    oracle="""
    SELECT doc_id, lang,
           length(text)                                                  AS len_chars,
           len(string_split_regex(trim(text), '\\s+'))                   AS n_tokens,
           round(CAST(length(text) - length(replace(text, ' ', '')) AS DOUBLE)
                 / length(text), 5)                                      AS space_ratio,
           CAST((length(text) - length(replace(text, 'the', ''))) / 3 AS BIGINT) AS stopword_hits,
           CASE WHEN length(text) >= 100
                 AND len(string_split_regex(trim(text), '\\s+')) >= 20
                THEN 1 ELSE 0 END                                        AS passes_quality
    FROM documents
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length/space-ratio/stopword heuristics + pass flag."""
    d = load_table(spark, sf_dir, "documents")
    text = F.col("text")
    n_tokens = F.size(tokens(text)).cast("long")
    space_ratio = (
        (F.length(text) - F.length(F.replace(text, F.lit(" "), F.lit("")))).cast("double")
        / F.length(text)
    )
    return d.select(
        "doc_id",
        "lang",
        F.length(text).cast("long").alias("len_chars"),
        n_tokens.alias("n_tokens"),
        F.round(space_ratio, 5).alias("space_ratio"),
        _occurrences(text, "the").alias("stopword_hits"),
        F.when((F.length(text) >= 100) & (n_tokens >= 20), 1)
        .otherwise(0)
        .alias("passes_quality"),
    )


@query(
    "text_lang_id",
    oracle="""
    WITH scored AS (
        SELECT doc_id, lang,
               CAST((length(text) - length(replace(text, ' the ', ''))) / 5 AS BIGINT) AS s_en,
               CAST((length(text) - length(replace(text, ' data ', ''))) / 6 AS BIGINT) AS s_data,
               CAST((length(text) - length(replace(text, ' row ', ''))) / 5 AS BIGINT)  AS s_row
        FROM documents
    )
    SELECT doc_id, lang, s_en, s_data, s_row,
           CASE WHEN s_en >= s_data AND s_en >= s_row THEN 'en'
                WHEN s_data >= s_row THEN 'datish'
                ELSE 'rowish' END AS predicted
    FROM scored
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: marker-token scores + deterministic argmax.

    (The fixture corpus is synthetic word-soup, so the 'languages' are
    marker-frequency classes — the operator shape, scores → argmax with a
    fixed tie order, is the real deliverable.)
    """
    d = load_table(spark, sf_dir, "documents")
    text = F.col("text")
    s_en = _occurrences(text, " the ")
    s_data = _occurrences(text, " data ")
    s_row = _occurrences(text, " row ")
    scored = d.select(
        "doc_id", "lang",
        s_en.alias("s_en"), s_data.alias("s_data"), s_row.alias("s_row"),
    )
    return scored.withColumn(
        "predicted",
        F.when(
            (F.col("s_en") >= F.col("s_data")) & (F.col("s_en") >= F.col("s_row")),
            "en",
        )
        .when(F.col("s_data") >= F.col("s_row"), "datish")
        .otherwise("rowish"),
    )


@query(
    "text_fingerprint_md5",
    oracle="""
    SELECT md5(lower(trim(text)))  AS fingerprint,
           min(doc_id)             AS first_doc,
           count(*)                AS n_docs
    FROM documents
    GROUP BY 1
    """,
)
def text_fingerprint_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonicalized content fingerprint (normalize → digest → group)."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy(
        F.md5(F.lower(F.trim(F.col("text"))).cast("binary")).alias("fingerprint")
    ).agg(F.min("doc_id").alias("first_doc"), F.count(F.lit(1)).alias("n_docs"))


@query(
    "text_edit_distance_pairs",
    oracle="""
    WITH names(n) AS (SELECT DISTINCT p_brand FROM part)
    SELECT a.n AS name_a, b.n AS name_b, levenshtein(a.n, b.n) AS edit_dist
    FROM names a JOIN names b ON a.n < b.n
    WHERE levenshtein(a.n, b.n) <= 2
    """,
)
def text_edit_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-match pairs over a distinct (small) name domain.

    Levenshtein is O(len²) per pair — only ever run it on a deduplicated,
    bounded domain (here: distinct brand strings), never the raw fact
    table. Both engines implement the classic DP, so exact values match.
    """
    p = load_table(spark, sf_dir, "part").select(
        F.col("p_brand").alias("n")
    ).distinct()
    a = p.select(F.col("n").alias("name_a"))
    b = p.select(F.col("n").alias("name_b"))
    return (
        a.join(b, F.col("name_a") < F.col("name_b"))
        .withColumn("edit_dist", F.levenshtein("name_a", "name_b").cast("long"))
        .filter(F.col("edit_dist") <= 2)
    )


@query(
    "text_fingerprint_rolling",
    # r5 graduation from rows-only: XXH64 re-implemented as DuckDB macros
    # (functions/xxh64_sql.py, validated byte-for-byte vs the reference and
    # vs Spark) makes the hash cross-engine checkable. 755669946628913235 is
    # the chained seed XXH64(utf8('fp'), 42) — Spark's xxhash64(lit('fp'), g)
    # hashes the literal first and threads the result as g's seed.
    oracle=XXH64_MACROS + """
    WITH t AS (
        SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
        FROM documents
    ),
    g AS (
        SELECT doc_id,
               list_transform(range(0, greatest(len(w) - 4, 0)::INT), i ->
                   w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' ||
                   w[i+4] || ' ' || w[i+5]) AS grams
        FROM t
    ),
    -- hash per ROW (the xxh64 macros are subquery-shaped, which DuckDB
    -- forbids inside lambdas), then fold back per document
    h AS (
        SELECT doc_id, xxh64_signed(encode(u.s), 755669946628913235::UBIGINT) AS hv
        FROM g, UNNEST(grams) AS u(s)
    ),
    agg AS (
        SELECT doc_id, min(hv) AS min_hash, max(hv) AS max_hash
        FROM h GROUP BY doc_id
    )
    SELECT g.doc_id, agg.min_hash, agg.max_hash, len(g.grams)::BIGINT AS n_windows
    FROM g LEFT JOIN agg USING (doc_id)
    """,
)
def text_fingerprint_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle-window fingerprint: min/max xxhash64 over 5-gram windows.

    The winnowing-style document signature — robust to small edits, all
    builtin (shingle transform + array_min/max of hashes).
    """
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens(F.col("text")).alias("w")
    )
    grams = shingles_from_tokens(F.col("w"), k=5)
    hashes = F.transform(grams, lambda g: F.xxhash64(F.lit("fp"), g))
    return d.select(
        "doc_id",
        F.array_min(hashes).alias("min_hash"),
        F.array_max(hashes).alias("max_hash"),
        F.size(hashes).cast("long").alias("n_windows"),
    )


@query(
    "text_bpe_token_count",
    oracle="""
    SELECT doc_id,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_bpe_tokens,
           len(regexp_extract_all(text, '[0-9]+'))                           AS n_number_runs,
           len(regexp_extract_all(text, '[^A-Za-z0-9\\s]'))                  AS n_symbols
    FROM documents
    """,
)
def text_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish pre-tokenization count: letter runs | digit runs | single
    symbols (the GPT-2 pre-tokenizer shape, restricted to the Java∩RE2
    regex subset). Whitespace tokenization is text_token_stats."""
    d = load_table(spark, sf_dir, "documents")
    pat = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(pat), F.lit(0))).cast("long").alias(
            "n_bpe_tokens"
        ),
        F.size(F.regexp_extract_all("text", F.lit(r"[0-9]+"), F.lit(0))).cast("long").alias(
            "n_number_runs"
        ),
        F.size(
            F.regexp_extract_all("text", F.lit(r"[^A-Za-z0-9\s]"), F.lit(0))
        ).cast("long").alias("n_symbols"),
    )


@query(
    "text_tfidf_top_term",
    oracle="""
    WITH tf AS (
        SELECT doc_id, word, count(*) AS tf
        FROM (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS word
              FROM documents)
        GROUP BY doc_id, word
    ),
    df AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.word,
               round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
        FROM tf JOIN df USING (word) CROSS JOIN n
    )
    SELECT doc_id, word AS top_term, tfidf
    FROM (
        SELECT doc_id, word, tfidf,
               row_number() OVER (
                   PARTITION BY doc_id ORDER BY tfidf DESC, word
               ) AS rn
        FROM scored
    ) WHERE rn = 1
    """,
)
def text_tfidf_top_term(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF scoring built from first principles (tf agg ⋈ df agg), top term
    per document. df is broadcast back onto tf — the vocabulary is always
    dwarfed by the corpus."""
    d = load_table(spark, sf_dir, "documents")
    n_docs = d.count()  # scalar; cheap metadata-level count
    tf = (
        d.select("doc_id", F.explode(tokens(F.col("text"))).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    scored = tf.join(F.broadcast(df), "word").withColumn(
        "tfidf",
        F.round(F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6),
    )
    w = W.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "word")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("word").alias("top_term"), "tfidf")
    )


@query(
    "text_bigrams_topk",
    oracle="""
    SELECT bigram, count(*) AS n
    FROM (
        SELECT unnest(list_transform(
                   range(1, greatest(len(string_split_regex(trim(text), '\\s+')), 1)),
                   i -> string_split_regex(trim(text), '\\s+')[i] || ' ' ||
                        string_split_regex(trim(text), '\\s+')[i+1]
               )) AS bigram
        FROM documents
    )
    GROUP BY bigram
    ORDER BY n DESC, bigram
    LIMIT 20
    """,
)
def text_bigrams_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 word bigrams (n-gram construction + count)."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens(F.col("text")).alias("w")
    )
    bigrams = shingles_from_tokens(F.col("w"), k=2)
    return (
        d.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "bigram")
        .limit(20)
    )


@query(
    "text_repetition_score",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
        FROM documents
    ),
    sh AS (
        SELECT doc_id,
               list_transform(
                   range(1, greatest(len(w) - 1, 1)),
                   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]
               ) AS shingles
        FROM toks
    ),
    cnt AS (
        SELECT doc_id, s, count(*) AS c
        FROM (SELECT doc_id, unnest(shingles) AS s FROM sh)
        GROUP BY doc_id, s
    ),
    agg AS (
        SELECT doc_id, sum(c) AS n_shingles, count(*) AS n_distinct,
               max(c) AS top_repeat
        FROM cnt GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(a.n_shingles, 0) AS BIGINT) AS n_shingles,
           CAST(coalesce(a.n_distinct, 0) AS BIGINT) AS n_distinct,
           CAST(coalesce(a.top_repeat, 0) AS BIGINT) AS top_repeat,
           round(CAST(coalesce(a.top_repeat, 0) AS DOUBLE)
                 / greatest(coalesce(a.n_shingles, 0), 1), 4) AS rep_ratio
    FROM documents d LEFT JOIN agg a USING (doc_id)
    """,
)
def text_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition: the most-repeated 3-gram's share of all
    3-grams — the boilerplate/loop-generation filter every pretraining
    corpus runs. One explode + two hash-aggs, all on (doc_id[, shingle])
    keys, so the shuffles scale with token volume, never pairs. Documents
    too short to shingle score 0."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    sh = d.select(
        "doc_id", tokens(F.col("text")).alias("__w")
    ).select("doc_id", shingles_from_tokens(F.col("__w"), k=3).alias("shingles"))
    cnt = (
        sh.select("doc_id", F.explode("shingles").alias("s"))
        .groupBy("doc_id", "s")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    agg = cnt.groupBy("doc_id").agg(
        F.sum("c").alias("n_shingles"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.max("c").alias("top_repeat"),
    )
    return d.join(agg, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_shingles", F.lit(0)).alias("n_shingles"),
        F.coalesce("n_distinct", F.lit(0)).alias("n_distinct"),
        F.coalesce("top_repeat", F.lit(0)).alias("top_repeat"),
        F.round(
            F.coalesce("top_repeat", F.lit(0)).cast("double")
            / F.greatest(F.coalesce("n_shingles", F.lit(0)), F.lit(1)),
            4,
        ).alias("rep_ratio"),
    )


@query(
    "text_pii_scrub",
    # PII is injected deterministically (email + phone built from doc_id)
    # so the scrubber provably fires on every row; the oracle replays the
    # same injection + redaction. Patterns kept engine-portable (no \\d,
    # no lookaround — DuckDB RE2 vs Java regex).
    oracle="""
    WITH dirty AS (
        SELECT doc_id,
               text || ' contact user' || CAST(doc_id AS VARCHAR)
                    || '@example.com or +1-303-555-'
                    || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS text
        FROM documents
    )
    SELECT doc_id,
           length(text) AS n_chars_dirty,
           length(regexp_replace(
               regexp_replace(text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\\+?[0-9]{1,2}-[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g'))
               AS n_chars_clean,
           CAST(length(text)
                - length(regexp_replace(text,
                      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '', 'g'))
                AS BIGINT) AS email_chars,
           contains(regexp_replace(
               regexp_replace(text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\\+?[0-9]{1,2}-[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g'), '@')
               AS still_has_at
    FROM dirty
    """,
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction: email + phone regexp_replace over the corpus — the
    compliance pass every training pipeline runs before tokenization.
    Pure JVM regex (codegen'd), no UDF; the injected-PII fixture makes
    the redaction observable (clean shorter than dirty, no '@' left)."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +1-303-555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ).alias("text"),
    )
    email_re = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    phone_re = "\\+?[0-9]{1,2}-[0-9]{3}-[0-9]{3}-[0-9]{4}"
    clean = F.regexp_replace(
        F.regexp_replace(F.col("text"), email_re, "<EMAIL>"), phone_re, "<PHONE>"
    )
    return d.select(
        "doc_id",
        F.length("text").alias("n_chars_dirty"),
        F.length(clean).alias("n_chars_clean"),
        (
            F.length("text")
            - F.length(F.regexp_replace(F.col("text"), email_re, ""))
        ).cast("long").alias("email_chars"),
        clean.contains("@").alias("still_has_at"),
    )


@query(
    "bpe_merge_candidates",
    oracle="""
    WITH words AS (
        SELECT unnest(string_split_regex(trim(text), '\\s+')) AS w
        FROM documents
    ),
    pairs AS (
        SELECT substr(w, i, 2) AS pair
        FROM words, unnest(range(1, len(w))) AS t(i)
        WHERE len(w) >= 2
    )
    SELECT pair, count(*) AS n
    FROM pairs GROUP BY pair
    ORDER BY n DESC, pair LIMIT 20
    """,
)
def bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary induction, step one of BPE training: count
    adjacent-character pairs inside words across the corpus and rank the
    top merge candidates. The full BPE loop repeats this count after each
    merge; one iteration is the distributed primitive (count pairs →
    argmax), and this query is that primitive, oracle-checked.

    Shape: split → explode words → explode character-pair substrings
    (two generators, both map-side) → one count shuffle whose key space is
    bounded by |alphabet|² — at 100 TB the combine makes the shuffle tiny
    regardless of corpus size."""
    d = load_table(spark, sf_dir, "documents")
    words = d.select(F.explode(tokens(F.col("text"))).alias("w")).filter(
        F.length("w") >= 2
    )
    idx = F.sequence(F.lit(1), F.length("w") - 1)
    pairs = words.select(
        F.explode(
            F.transform(idx, lambda i: F.col("w").substr(i, F.lit(2)))
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "pair")
        .limit(20)
    )


@query(
    "text_rare_bigram_score",
    oracle="""
    WITH toks AS (
        SELECT doc_id, lang, string_split_regex(trim(text), '\\s+') AS w
        FROM documents
    ),
    bigrams AS (
        SELECT doc_id, lang, w[i] || ' ' || w[i+1] AS bg
        FROM toks, unnest(range(1, greatest(len(w), 1))) AS t(i)
        WHERE len(w) >= 2
    ),
    df AS (
        SELECT bg, count(*) AS corpus_freq FROM bigrams GROUP BY bg
    )
    SELECT b.doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(sum(CASE WHEN d.corpus_freq < 3 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_rare,
           round(CAST(sum(CASE WHEN d.corpus_freq < 3 THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 4) AS rare_frac
    FROM bigrams b JOIN df d ON b.bg = d.bg
    GROUP BY b.doc_id
    """,
)
def text_rare_bigram_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-model-flavored quality scoring without float logs: the
    fraction of a document's word bigrams that are corpus-rare
    (frequency < 3). High rare_frac flags the same population a bigram-LM
    perplexity filter flags — garbled or off-distribution text — but the
    statistic is an exact rational (count ratio), so it is reproducible
    across engines, partitionings, and FP variations, where sum-of-logs
    perplexity is not.

    Shape: one bigram explode, one corpus-frequency aggregate (map-side
    combined, key space bounded by distinct bigrams), one re-join keyed on
    the bigram, one per-doc aggregate — at 100 TB the frequency table is
    the classic shared side and AQE picks broadcast vs shuffle by its
    actual size."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens(F.col("text")).alias("w")
    )
    bigrams = d.select(
        "doc_id", F.explode(shingles_from_tokens(F.col("w"), k=2)).alias("bg")
    )
    freq = bigrams.groupBy("bg").agg(F.count(F.lit(1)).alias("corpus_freq"))
    joined = bigrams.join(freq, "bg")
    is_rare = (F.col("corpus_freq") < 3).cast("int")
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum(is_rare).cast("long").alias("n_rare"),
        F.round(F.sum(is_rare) / F.count(F.lit(1)), 4).alias("rare_frac"),
    )


@query(
    "text_vocab_stats",
    oracle="""
    WITH tok AS (
        SELECT lang, unnest(string_split_regex(trim(text), '\\s+')) AS tok
        FROM documents
    ),
    counts AS (
        SELECT lang, tok, count(*) AS n FROM tok GROUP BY lang, tok
    )
    SELECT lang,
           CAST(count(*) AS BIGINT)                        AS vocab_size,
           CAST(sum(n) AS BIGINT)                          AS n_tokens,
           CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
           round(CAST(count(*) AS DOUBLE) / sum(n), 4)     AS type_token_ratio
    FROM counts GROUP BY lang
    """,
)
def text_vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary diagnostics per language: vocab size, token
    count, hapax legomena (frequency-1 types — the Zipf tail whose share
    predicts tokenizer OOV pressure), and type-token ratio. One explode +
    one two-level aggregate; the (lang, token) key space is
    vocabulary-bounded, so the shuffle stays small at any corpus size."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("lang", F.explode(tokens(F.col("text"))).alias("tok"))
    counts = tok.groupBy("lang", "tok").agg(F.count(F.lit(1)).alias("n"))
    return counts.groupBy("lang").agg(
        F.count(F.lit(1)).alias("vocab_size"),
        F.sum("n").cast("long").alias("n_tokens"),
        F.sum((F.col("n") == 1).cast("int")).cast("long").alias("n_hapax"),
        F.round(F.count(F.lit(1)) / F.sum("n"), 4).alias("type_token_ratio"),
    )


def bpe_apply_word(word: str, ranks: dict[str, int]) -> list[str]:
    """Classic BPE inference on one word: start from characters, repeatedly
    merge the adjacent pair with the best (lowest) learned rank until no
    learned pair remains. Pure function so pytest can pin it against a
    hand-computed reference (tests/test_llm_ops.py)."""
    toks = list(word)
    while len(toks) > 1:
        best_i, best_rank = -1, None
        for i in range(len(toks) - 1):
            r = ranks.get(toks[i] + toks[i + 1])
            if r is not None and (best_rank is None or r < best_rank):
                best_i, best_rank = i, r
        if best_rank is None:
            break
        merged = toks[best_i] + toks[best_i + 1]
        # merge every occurrence of the chosen pair in one pass
        out, i = [], 0
        while i < len(toks):
            if i < len(toks) - 1 and toks[i] + toks[i + 1] == merged:
                out.append(merged)
                i += 2
            else:
                out.append(toks[i])
                i += 1
        toks = out
    return toks


@query(
    "text_bpe_apply",
    # GRADUATED r5 from rows-only: the round-2 adjudication ("the iterative
    # merge loop is not SQL-expressible") was wrong — the rank table holds
    # only 2-char pairs, so merged tokens are inert and the best-rank-first
    # loop collapses to 32 unrolled fold stages in rank order (full argument
    # + the DuckDB list_reduce STRUCT-accumulator bug this dodges:
    # functions/bpe_sql.py; 6k-case randomized equivalence pin:
    # tests/test_bpe_sql.py). Spark results unchanged.
    oracle=bpe_apply_oracle(),
)
def text_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer inference, the second half of BPE (bpe_merge_candidates
    is the training half): learn the top-32 adjacent-pair merges from the
    corpus (one pair-count aggregation, collected — merge tables are
    vocabulary-sized driver state, same legitimacy class as k-means
    centroids), then tokenize every document with the learned table in a
    mapInPandas stage.

    Scale shape: the merge table is O(vocab) and ships to executors inside
    the UDF closure (broadcast-sized); tokenization is embarrassingly
    parallel over documents in Arrow batches with a per-batch word memo —
    zipfian word distributions make the memo hit rate ~95%+, so the python
    loop runs once per DISTINCT word per batch, not per token. At 100 TB
    this is the exact architecture of production tokenizer jobs (fixed
    merges file + stateless map).
    """
    import pandas as pd  # noqa: F401 (type context for mapInPandas)

    d = load_table(spark, sf_dir, "documents")
    top_pairs = (
        d.select(F.explode(tokens(F.col("text"))).alias("w"))
        .filter(F.length("w") >= 2)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.length("w") - 1),
                    lambda i: F.col("w").substr(i, F.lit(2)),
                )
            ).alias("pair")
        )
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "pair")
        .limit(32)
        .collect()
    )
    ranks = {r["pair"]: i for i, r in enumerate(top_pairs)}

    def tokenize_batches(batches):
        for pdf in batches:
            memo: dict[str, int] = {}

            def n_toks(text: str) -> int:
                total = 0
                for w in text.split():
                    got = memo.get(w)
                    if got is None:
                        got = len(bpe_apply_word(w, ranks))
                        memo[w] = got
                    total += got
                return total

            yield pdf.assign(
                n_bpe_tokens=pdf["text"].map(n_toks),
                n_words=pdf["text"].map(lambda t: len(t.split())),
            )[["doc_id", "n_bpe_tokens", "n_words"]]

    return d.select("doc_id", "text").mapInPandas(
        tokenize_batches, "doc_id long, n_bpe_tokens long, n_words long"
    )


@query(
    "fuzzy_join_del1",
    oracle="""
    WITH names(n) AS (SELECT DISTINCT c_name FROM customer)
    SELECT a.n AS name_a, b.n AS name_b
    FROM names a JOIN names b ON a.n < b.n
    WHERE levenshtein(a.n, b.n) <= 1
    """,
)
def fuzzy_join_del1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance-1 similarity JOIN at scale: the FastSS
    deletion-neighborhood algorithm. Two strings are within edit distance
    1 iff they share a key in {s} ∪ del1(s) (equal → s itself; one
    deletion → the shorter string is a del1 variant of the longer; one
    substitution → both have the same del1 variant at that position), so
    an EQUI JOIN on generated variant keys finds every candidate — the
    exact-levenshtein verify then removes false positives (distance-2
    strings can share a variant, e.g. 'ab'/'ba').

    Scale contrast with text_edit_distance_pairs (the quadratic baseline
    on a 25-brand domain): this never forms the n² candidate space —
    candidates = pairs sharing a variant key, O(n · len) keys total, an
    ordinary shuffled equi join. That's the difference between joining
    1.5k names and joining 100M user handles. Verify cost is bounded by
    true-ish candidates, not by n².

    The pair set is the shared input of the name-graph family (k-core,
    both link predictors, connected components, entity resolution), so
    it participates in the sweep's opt-in stage cache
    (session.staged_intermediate; OFF by default).
    """
    from ..session import staged_intermediate

    def build() -> DataFrame:
        names = (
            load_table(spark, sf_dir, "customer")
            .select(F.col("c_name").alias("n"))
            .distinct()
        )
        # {s} ∪ del1(s): position-i deletion via substring splice
        variants = names.select(
            "n",
            F.explode(
                F.array_union(
                    F.array(F.col("n")),
                    F.transform(
                        F.sequence(F.lit(1), F.length("n")),
                        lambda i: F.concat(
                            F.col("n").substr(F.lit(1), i - 1),
                            F.col("n").substr(i + 1, F.length("n")),
                        ),
                    ),
                )
            ).alias("key"),
        )
        a = variants.select(F.col("n").alias("name_a"), "key")
        b = variants.select(F.col("n").alias("name_b"), "key")
        return (
            a.join(b, ["key"])
            .filter(F.col("name_a") < F.col("name_b"))
            .select("name_a", "name_b")
            .distinct()
            .filter(F.levenshtein("name_a", "name_b") <= 1)
        )

    return staged_intermediate(spark, build, "fuzzy_del1_pairs_v1", sf_dir)


@query(
    "entity_resolution_names",
    oracle="""
    WITH RECURSIVE names AS (
        SELECT DISTINCT c_name AS n, c_nationkey AS blk FROM customer
    ),
    pairs AS (
        SELECT a.n AS name_a, b.n AS name_b
        FROM names a JOIN names b ON a.blk = b.blk AND a.n < b.n
        WHERE levenshtein(a.n, b.n) <= 1
    ),
    edges AS (
        SELECT name_a AS s, name_b AS d FROM pairs
        UNION ALL
        SELECT name_b AS s, name_a AS d FROM pairs
    ),
    reach(node, label) AS (
        SELECT n, n FROM names
        UNION
        SELECT e.d, r.label FROM reach r JOIN edges e ON r.node = e.s
    ),
    comp AS (
        SELECT node AS name, min(label) AS component FROM reach GROUP BY node
    ),
    entities AS (
        SELECT component,
               count(*) AS n_members,
               max(name) AS survivor_name
        FROM comp
        GROUP BY component
    )
    SELECT CAST(n_members AS BIGINT) AS cluster_size,
           count(*) AS n_entities,
           min(survivor_name) AS sample_survivor
    FROM entities
    GROUP BY n_members
    """,
)
def entity_resolution_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution capstone: block → fuzzy match → cluster →
    survivorship — the four-stage composition every MDM/identity
    pipeline runs, each stage an already-proven operator:

    (1) BLOCKING on nationkey: candidate pairs must share a block —
    the standard ER move that keeps the match graph sparse (without
    it, this fixture's digit-serial names chain transitively into ONE
    giant entity — measured: unblocked del-1 closure yields a single
    1500-member component, the classic over-merge failure this stage
    exists to prevent);
    (2) fuzzy match within blocks via the FastSS deletion-neighborhood
    key (fuzzy_join_del1's algorithm with the block id appended to the
    equi-join key — still never n²);
    (3) transitive closure into entities via connected components
    (graph.connected_components: min-label rounds with pointer
    jumping, string labels);
    (4) survivorship (max name = "latest wins") + a cluster-size
    profile readout.

    The oracle recomputes all four stages independently (quadratic
    blocked levenshtein + recursive-CTE closure), so the hash match
    validates the composition end-to-end. At 100 TB the match stage is
    the only data-sized cost; closure and survivorship run on
    match-graph-sized tables.
    """
    from ..operators.graph import connected_components

    names = (
        load_table(spark, sf_dir, "customer")
        .select(F.col("c_name").alias("n"), F.col("c_nationkey").alias("blk"))
        .distinct()
    )
    variants = names.select(
        "n",
        "blk",
        F.explode(
            F.array_union(
                F.array(F.col("n")),
                F.transform(
                    F.sequence(F.lit(1), F.length("n")),
                    lambda i: F.concat(
                        F.col("n").substr(F.lit(1), i - 1),
                        F.col("n").substr(i + 1, F.length("n")),
                    ),
                ),
            )
        ).alias("key"),
    )
    a = variants.select(F.col("n").alias("name_a"), "key", "blk")
    b = variants.select(F.col("n").alias("name_b"), "key", "blk")
    pairs = (
        a.join(b, ["key", "blk"])
        .filter(F.col("name_a") < F.col("name_b"))
        .select("name_a", "name_b")
        .distinct()
        .filter(F.levenshtein("name_a", "name_b") <= 1)
        .localCheckpoint(eager=True)
    )
    # Node list is distinct NAMES — `names` is distinct on (n, blk), so a
    # name present in two blocks would otherwise enter CC twice and
    # double-count in n_members (review finding; unique-by-construction
    # TPC-H names masked it).
    labels = connected_components(
        names.select(F.col("n").alias("name")).distinct(),
        pairs,
        node_col="name",
        src_col="name_a",
        dst_col="name_b",
        num_partitions=4,
    )
    entities = labels.groupBy("component").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.max("node").alias("survivor_name"),
    )
    return entities.groupBy(
        F.col("n_members").alias("cluster_size")
    ).agg(
        F.count(F.lit(1)).alias("n_entities"),
        F.min("survivor_name").alias("sample_survivor"),
    )


@query(
    "text_vocab_growth",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
        FROM documents
    ),
    first_seen AS (
        SELECT tok, min(doc_id) AS first_doc FROM toks GROUP BY tok
    ),
    doc_buckets AS (
        SELECT (doc_id // 100) AS bucket,
               count(DISTINCT doc_id) AS n_docs,
               count(*) AS n_tokens
        FROM toks GROUP BY 1
    ),
    vocab_buckets AS (
        SELECT (first_doc // 100) AS bucket, count(*) AS new_types
        FROM first_seen GROUP BY 1
    )
    SELECT d.bucket,
           CAST(sum(d.n_docs) OVER w AS BIGINT) AS cum_docs,
           CAST(sum(d.n_tokens) OVER w AS BIGINT) AS cum_tokens,
           CAST(sum(coalesce(v.new_types, 0)) OVER w AS BIGINT) AS vocab_size
    FROM doc_buckets d LEFT JOIN vocab_buckets v USING (bucket)
    WINDOW w AS (ORDER BY d.bucket
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def text_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary growth curve (Heaps' law instrumentation): cumulative
    distinct token TYPES vs cumulative docs/tokens over the doc_id-ordered
    corpus — the readout that sizes tokenizer vocabularies and detects
    corpus-composition shifts (a kink in the curve = a new domain).

    The running-distinct trick at corpus scale: a type is NEW in the
    bucket of its minimum doc_id (combinable min per token — never a
    sort), so cumulative vocabulary is the prefix sum of per-bucket
    new-type counts. Three combinable aggregates + one window over the
    ~n_docs/100 bucket table. Token totals ride the same buckets.
    """
    toks = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    )
    first_seen = toks.groupBy("tok").agg(F.min("doc_id").alias("first_doc"))
    doc_buckets = toks.groupBy(
        F.expr("doc_id div 100").alias("bucket")
    ).agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("n_tokens"),
    )
    vocab_buckets = first_seen.groupBy(
        F.expr("first_doc div 100").alias("bucket")
    ).agg(F.count(F.lit(1)).alias("new_types"))
    joined = doc_buckets.join(vocab_buckets, "bucket", "left").select(
        "bucket",
        "n_docs",
        "n_tokens",
        F.coalesce("new_types", F.lit(0)).alias("new_types"),
    )
    w = W.orderBy("bucket").rowsBetween(W.unboundedPreceding, W.currentRow)
    return joined.select(
        "bucket",
        F.sum("n_docs").over(w).alias("cum_docs"),
        F.sum("n_tokens").over(w).alias("cum_tokens"),
        F.sum("new_types").over(w).alias("vocab_size"),
    )


@query(
    "entity_blocking_soundex",
    # Phonetic blocking for entity resolution/fuzzy matching: tokens that
    # sound alike share a block, so the candidate space becomes block-local
    # (the same why as LSH bands, with a linguistic key). Spark's soundex()
    # builtin is replayed exactly by the DuckDB macro
    # (functions/phonetic_sql.py); the per-token counts aggregate FIRST so
    # soundex runs once per DISTINCT token, not per occurrence.
    oracle=SOUNDEX_MACROS + """
    WITH toks AS (
        SELECT u.t AS tok
        FROM documents, UNNEST(string_split_regex(trim(text), '\\s+')) AS u(t)
    ),
    tok_counts AS (SELECT tok, count(*) AS n FROM toks GROUP BY tok),
    blocked AS (
        SELECT soundex_sql(tok) AS block, tok, n FROM tok_counts
    )
    SELECT block, count(*) AS n_tokens, CAST(sum(n) AS BIGINT) AS n_occurrences,
           min(tok) AS example_token
    FROM blocked GROUP BY block
    """,
)
def entity_blocking_soundex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phonetic block profile of the corpus vocabulary: soundex code →
    (distinct tokens, total occurrences, lexicographic example). The
    block-size distribution is the blocking-key pre-flight for phonetic
    entity resolution — oversized blocks mean the key is too coarse.

    Scale shape: token explode + one combinable (token) aggregate, then
    soundex over the DISTINCT vocabulary only (Heaps' law: vocabulary
    grows ~sqrt of corpus) and a vocabulary-sized regroup."""
    d = load_table(spark, sf_dir, "documents").select(
        F.explode(tokens(F.col("text"))).alias("tok")
    )
    tok_counts = d.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    blocked = tok_counts.withColumn("block", F.soundex("tok"))
    return blocked.groupBy("block").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("n").alias("n_occurrences"),
        F.min("tok").alias("example_token"),
    )


@query(
    "entity_match_phonetic_block",
    # The classic two-stage record-linkage pipeline (block -> compare):
    # phonetic blocking generates candidates, edit-distance verifies them.
    # Both stages are cross-engine exact — Spark's soundex() replayed by the
    # DuckDB macro (functions/phonetic_sql.py, semantics pinned in
    # tests/test_phonetic_sql.py), and levenshtein() is the classic DP in
    # both engines (ASCII domain; hash-equality is itself the parity pin,
    # as it already is for fuzzy_join_del1's verify stage).
    oracle=SOUNDEX_MACROS + """
    WITH names AS (SELECT DISTINCT p_name AS name FROM part),
    b AS (SELECT name, soundex_sql(name) AS blk FROM names),
    cand AS (
        SELECT a.blk, a.name AS name_a, c.name AS name_b,
               levenshtein(a.name, c.name) AS dist,
               greatest(length(a.name), length(c.name)) AS glen
        FROM b a JOIN b c ON a.blk = c.blk AND a.name < c.name
    )
    SELECT blk, name_a, name_b, CAST(dist AS INT) AS dist,
           CAST(1000000 * (glen - dist) // glen AS BIGINT) AS sim_ppm,
           dist <= 3 AS is_match
    FROM cand
    """,
)
def entity_match_phonetic_block(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked similarity join, the standard record-linkage architecture:
    soundex blocking generates candidate pairs, levenshtein scores them,
    a threshold classifies. Complements entity_blocking_soundex (which
    profiles the blocking key) and fuzzy_join_del1 (FastSS candidate
    generation) — this is the end-to-end block->compare->classify pipeline
    over the part-name domain, every candidate emitted with its score so
    the verify stage's filtering is itself hash-checked.

    Scale shape: blocking runs over the DISTINCT name vocabulary (Heaps'
    law bounded), the self-join keys on the block code so the pair space
    is sum-of-block-sizes-squared — the whole point of blocking — and the
    vocabulary side is broadcast. Edit distance runs only on
    block-local candidates, never n^2."""
    names = (
        load_table(spark, sf_dir, "part")
        .select(F.col("p_name").alias("name"))
        .distinct()
    )
    b = names.withColumn("blk", F.soundex("name"))
    a = b.select(F.col("blk"), F.col("name").alias("name_a"))
    c = b.select(F.col("blk").alias("blk_b"), F.col("name").alias("name_b"))
    cand = (
        a.join(
            F.broadcast(c),
            (F.col("blk") == F.col("blk_b")) & (F.col("name_a") < F.col("name_b")),
        )
        .select(
            "blk",
            "name_a",
            "name_b",
            F.levenshtein("name_a", "name_b").cast("int").alias("dist"),
            F.greatest(F.length("name_a"), F.length("name_b")).alias("glen"),
        )
    )
    return cand.select(
        "blk",
        "name_a",
        "name_b",
        "dist",
        F.expr("CAST(1000000 * (glen - dist) div glen AS BIGINT)").alias("sim_ppm"),
        (F.col("dist") <= 3).alias("is_match"),
    )


@query(
    "text_rake_keywords",
    oracle="""
    WITH tok AS (
        SELECT doc_id, t.i AS i, d.l[t.i] AS w
        FROM (SELECT doc_id, split(text, ' ') AS l FROM documents) d,
             UNNEST(range(1, len(d.l) + 1)) AS t(i)
    ),
    runs AS (
        SELECT doc_id, i, w,
               sum(CASE WHEN w IN ('the', 'a') THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY i
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS run
        FROM tok
    ),
    pw AS (
        SELECT doc_id, run, i, w FROM runs WHERE w NOT IN ('the', 'a')
    ),
    plen AS (
        SELECT doc_id, run, CAST(count(*) AS BIGINT) AS len
        FROM pw GROUP BY doc_id, run
    ),
    pw2 AS (
        SELECT pw.doc_id, pw.run, pw.i, pw.w, plen.len
        FROM pw JOIN plen USING (doc_id, run)
    ),
    deg AS (
        SELECT w, CAST(sum(len) AS BIGINT) AS deg FROM pw2 GROUP BY w
    ),
    scored AS (
        SELECT pw2.doc_id, pw2.run,
               string_agg(pw2.w, ' ' ORDER BY pw2.i) AS phrase,
               CAST(count(*) AS BIGINT) AS n_words,
               CAST(sum(deg.deg) AS BIGINT) AS score
        FROM pw2 JOIN deg ON pw2.w = deg.w
        GROUP BY pw2.doc_id, pw2.run
    )
    SELECT phrase, n_words, score
    FROM scored
    ORDER BY score DESC, phrase, doc_id, run
    LIMIT 20
    """,
)
def text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010), degree-scoring
    variant: candidate phrases are maximal stopword-delimited token
    runs; each word's degree is the total length of the phrases it
    appears in; a phrase scores the sum of its members' degrees — ALL
    integers, so the top-20 ranking needs no float tie-breaking (the
    standard deg/freq ratio would sum rationals in engine-chosen order;
    the degree variant is the published fallback and keeps the pipeline
    exact).

    Run segmentation is one prefix window per document (run id = count
    of stopwords seen); phrase text is reassembled order-stably
    (sort_array(struct(pos, w)) in Spark, string_agg ORDER BY in
    DuckDB).

    Shape at 100 TB: tokens shuffle once on (doc, run) for phrase
    stats; the word-degree table is vocabulary-sized (broadcast); the
    final top-20 is TakeOrderedAndProject. Degrees double-count
    repeated words within a phrase by construction — both engines
    apply the same published rule.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tok = docs.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), " ")).alias("i", "w"),
    )
    runs = tok.withColumn(
        "run",
        F.sum(F.when(F.col("w").isin("the", "a"), 1).otherwise(0)).over(
            W.partitionBy("doc_id")
            .orderBy("i")
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        ),
    )
    pw = runs.filter(~F.col("w").isin("the", "a")).select(
        "doc_id", "run", "i", "w"
    )
    # phrase length as a window over (doc_id, run) instead of a groupBy +
    # join-back (r10): HashPartitioning(doc_id) from the run-segmentation
    # window already satisfies the (doc_id, run) clustering, so this adds
    # NO exchange and removes the aggregate + join the before-plan carried
    # (plans/r10/text_rake_keywords_before.txt) — guide §2.4 (two
    # operations keyed the same way share one exchange).
    pw2 = pw.withColumn(
        "len",
        F.count(F.lit(1))
        .over(W.partitionBy("doc_id", "run"))
        .cast("long"),
    ).localCheckpoint(eager=True)
    deg = pw2.groupBy("w").agg(F.sum("len").cast("long").alias("deg"))
    scored = (
        pw2.join(F.broadcast(deg), "w")
        .groupBy("doc_id", "run")
        .agg(
            F.expr(
                "array_join(transform(array_sort("
                "collect_list(named_struct('i', i, 'w', w))), x -> x.w), ' ')"
            ).alias("phrase"),
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("deg").cast("long").alias("score"),
        )
    )
    return (
        scored.orderBy(
            F.col("score").desc(), "phrase", "doc_id", "run"
        )
        .limit(20)
        .select("phrase", "n_words", "score")
    )


_PHRASES = ("data line", "join key query")


@query(
    "text_phrase_search",
    oracle="""
    WITH tok AS (
        SELECT doc_id, t.i AS pos, d.l[t.i] AS w
        FROM (SELECT doc_id, split(text, ' ') AS l FROM documents) d,
             UNNEST(range(1, len(d.l) + 1)) AS t(i)
    ),
    p2 AS (
        SELECT 'data line' AS phrase, a.doc_id,
               CAST(count(*) AS BIGINT) AS n_hits
        FROM tok a
        JOIN tok b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
        WHERE a.w = 'data' AND b.w = 'line'
        GROUP BY a.doc_id
    ),
    p3 AS (
        SELECT 'join key query' AS phrase, a.doc_id,
               CAST(count(*) AS BIGINT) AS n_hits
        FROM tok a
        JOIN tok b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
        JOIN tok c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2
        WHERE a.w = 'join' AND b.w = 'key' AND c.w = 'query'
        GROUP BY a.doc_id
    )
    SELECT phrase, doc_id, n_hits FROM p2
    UNION ALL
    SELECT phrase, doc_id, n_hits FROM p3
    """,
)
def text_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase retrieval over a POSITIONAL inverted index — the
    search-engine primitive the similarity family doesn't cover: find
    documents containing a literal word sequence, by adjacency-joining
    term postings on (doc, pos+1).

    The index is built ONCE (term -> (doc, pos) postings, filtered to
    the query's terms before any join — the selective-term pushdown all
    search engines rely on); a k-word phrase is k-1 adjacency
    equi-joins. Both a bigram and a trigram phrase run in one result so
    the join-chain generalization is exercised, not just the pairwise
    case.

    Shape at 100 TB: postings for the QUERY TERMS only leave the scan
    (predicate pushdown into the token explode); adjacency joins key on
    (doc, pos) — co-partitioned after one shuffle of the filtered
    postings, which are corpus-frequency-sized, not corpus-sized. The
    rarest-term-first join ordering that production engines apply is
    Catalyst's call here (both sides already tiny after the filter).
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    needed = sorted({w for p in _PHRASES for w in p.split()})
    tok = (
        docs.select(
            "doc_id",
            F.posexplode(F.split(F.col("text"), " ")).alias("pos", "w"),
        )
        .filter(F.col("w").isin(*needed))
        .localCheckpoint(eager=True)  # every phrase branch reads it
    )

    def phrase_hits(phrase: str) -> DataFrame:
        words = phrase.split()
        out = tok.filter(F.col("w") == words[0]).select(
            "doc_id", F.col("pos").alias("p0")
        )
        for k, wd in enumerate(words[1:], 1):
            nxt = tok.filter(F.col("w") == wd).select(
                "doc_id", (F.col("pos") - k).alias("p0")
            )
            out = out.join(nxt, ["doc_id", "p0"])
        return out.groupBy("doc_id").agg(
            F.lit(phrase).alias("phrase"),
            F.count(F.lit(1)).cast("long").alias("n_hits"),
        )

    parts = [phrase_hits(p) for p in _PHRASES]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select("phrase", "doc_id", "n_hits")


@query(
    "text_langid_confusion",
    oracle="""
    WITH scored AS (
        SELECT doc_id, lang,
               CAST((length(text) - length(replace(text, ' the ', ''))) / 5
                    AS BIGINT) AS s_en,
               CAST((length(text) - length(replace(text, ' data ', ''))) / 6
                    AS BIGINT) AS s_data,
               CAST((length(text) - length(replace(text, ' row ', ''))) / 5
                    AS BIGINT) AS s_row
        FROM documents
    ),
    pred AS (
        SELECT lang,
               CASE WHEN s_en >= s_data AND s_en >= s_row THEN 'en'
                    WHEN s_data >= s_row THEN 'datish'
                    ELSE 'rowish' END AS predicted
        FROM scored
    ),
    cls AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_class
            FROM pred GROUP BY lang)
    SELECT p.lang, p.predicted,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) * 1000000 // c.n_class AS BIGINT) AS class_ppm
    FROM pred p JOIN cls c ON c.lang = p.lang
    GROUP BY p.lang, p.predicted, c.n_class
    """,
)
def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier evaluation as a first-class operator: the CONFUSION
    MATRIX of text_lang_id's marker-score argmax against the corpus's
    lang labels, each cell also as an integer ppm share of its true
    class (the row-normalized matrix recall reads off of).

    Every model that gates a 100 TB corpus (language filters, quality
    classifiers, toxicity gates) needs exactly this evaluation run AT
    CORPUS SCALE, not on a dev sample — filter biases live in the tail
    domains a sample misses. Shape: the per-doc scoring scan composes
    with ONE (label, prediction) groupBy — the matrix is k² metadata
    rows regardless of corpus size, and the class-size join is a
    broadcast.
    """
    pred = text_lang_id(spark, sf_dir).select("lang", "predicted")
    cls = pred.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_class")
    )
    return (
        pred.groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .join(F.broadcast(cls), "lang")
        .selectExpr(
            "lang",
            "predicted",
            "n_docs",
            "n_docs * 1000000 DIV n_class AS class_ppm",
        )
    )


# --- wave 41 (round 8) ---

# BM25 (Robertson/Walker; the Lucene k1/b defaults) — scored for the
# corpus' own top-_BM25_NQ terms so the query set is fixture-independent
# and deterministic (total-frequency desc, term asc).
_BM25_K1 = "CAST(1.2 AS DOUBLE)"
_BM25_B = "CAST(0.75 AS DOUBLE)"
_BM25_NQ = 3
_BM25_TOPK = 10
# one shared per-(doc, term) score expression: idf * saturated tf
_BM25_TERM = (
    f"ln(CAST(1.0 AS DOUBLE)"
    f" + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE))"
    f" / (CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE)))"
    f" * (CAST(tf AS DOUBLE) * ({_BM25_K1} + CAST(1.0 AS DOUBLE)))"
    f" / (CAST(tf AS DOUBLE) + {_BM25_K1}"
    f"    * (CAST(1.0 AS DOUBLE) - {_BM25_B}"
    f"       + {_BM25_B} * CAST(dl AS DOUBLE) / avgdl))"
)


@query(
    "text_bm25_topk",
    oracle=f"""
    WITH tf AS (
        SELECT doc_id, word, count(*) AS tf
        FROM (SELECT doc_id,
                     unnest(string_split_regex(trim(text), '\\s+')) AS word
              FROM documents)
        GROUP BY doc_id, word
    ),
    dl AS (
        SELECT doc_id, CAST(len(string_split_regex(trim(text), '\\s+'))
                            AS BIGINT) AS dl
        FROM documents
    ),
    stats AS (
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
        FROM dl
    ),
    qterms AS (
        SELECT word, CAST(count(*) AS BIGINT) AS df FROM tf
        GROUP BY word
        ORDER BY sum(tf) DESC, word
        LIMIT {_BM25_NQ}
    ),
    scored AS (
        SELECT t.doc_id,
               round(sum({_BM25_TERM}), 6) AS score_bm25,
               CAST(count(*) AS INT) AS n_terms_matched
        FROM tf t
        JOIN qterms q ON q.word = t.word
        JOIN dl ON dl.doc_id = t.doc_id
        CROSS JOIN stats
        GROUP BY t.doc_id
    )
    SELECT CAST(row_number() OVER (ORDER BY score_bm25 DESC, doc_id)
                AS INT) AS rank,
           doc_id, score_bm25, n_terms_matched
    FROM scored
    ORDER BY score_bm25 DESC, doc_id
    LIMIT {_BM25_TOPK}
    """,
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (Robertson-Walker Okapi weighting, Lucene's
    k1 = 1.2 / b = 0.75) for the corpus' own top-{_BM25_NQ} terms — the
    lexical-search complement to text_tfidf_top_term (TF-IDF describes a
    document; BM25 RANKS documents for a query, with tf saturation and
    length normalization TF-IDF lacks).

    Determinism contract: the query terms are data-derived (total term
    frequency desc, term asc) so the operator is meaningful at every sf;
    every float step (one idf ln, the saturated-tf ratio, the final
    round(. , 6)) is a single textually shared expression, summed over at
    most {_BM25_NQ} terms per document — the same discipline as the
    drift/stat family.

    Scale shape: tf and df are the inverted-index aggregates every search
    engine builds (combinable, shuffle on term); scoring joins the
    posting rows of only the query terms (a term-selective scan at 100 TB
    — the posting lists of {_BM25_NQ} terms, not the corpus), and the
    top-k is a TakeOrderedAndProject, never a full sort.
    """
    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select("doc_id", F.explode(tokens(F.col("text"))).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=True)  # feeds qterms + the scoring join
    )
    dl = d.select(
        "doc_id", F.size(tokens(F.col("text"))).cast("long").alias("dl")
    )
    stats = dl.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    qterms = (
        tf.groupBy("word")
        .agg(
            F.count(F.lit(1)).cast("long").alias("df"),
            F.sum("tf").alias("total_tf"),
        )
        .orderBy(F.col("total_tf").desc(), "word")
        .limit(_BM25_NQ)
        .select("word", "df")
    )
    scored = (
        tf.join(F.broadcast(qterms), "word")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.round(F.sum(F.expr(_BM25_TERM)), 6).alias("score_bm25"),
            F.count(F.lit(1)).cast("int").alias("n_terms_matched"),
        )
    )
    # top-k FIRST (TakeOrderedAndProject — per-partition bounded heaps),
    # THEN the rank window over k rows; ranking before limiting would put
    # a single-partition sort of every scored document under the window.
    topk = scored.orderBy(F.col("score_bm25").desc(), "doc_id").limit(
        _BM25_TOPK
    )
    return topk.select(
        F.row_number()
        .over(W.orderBy(F.col("score_bm25").desc(), "doc_id"))
        .cast("int")
        .alias("rank"),
        "doc_id",
        "score_bm25",
        "n_terms_matched",
    )


_ZIPF_N = 100
# OLS slope/intercept over MICRO-QUANTIZED (ln rank, ln freq) points:
# each ln is rounded to 1e-6 and stored as an integer, so the five
# moments are exact BIGINTs and the regression is summation-order-free;
# the only engine-float steps are the per-point ln (shared expression,
# quantized) and the two final divisions.
_ZIPF_SLOPE = (
    "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    " / nullif(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0)"
)
_ZIPF_INTERCEPT = (
    "(CAST(sy AS DOUBLE) - (" + _ZIPF_SLOPE + ") * CAST(sx AS DOUBLE))"
    " / CAST(n AS DOUBLE) / 1000000.0"
)


@query(
    "text_zipf_fit",
    oracle=f"""
    WITH freq AS (
        SELECT word, CAST(count(*) AS BIGINT) AS f
        FROM (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS word
              FROM documents)
        GROUP BY word
    ),
    top AS (
        SELECT f, row_number() OVER (ORDER BY f DESC, word) AS r
        FROM freq
        ORDER BY f DESC, word
        LIMIT {_ZIPF_N}
    ),
    pts AS (
        SELECT CAST(round(ln(CAST(r AS DOUBLE)) * 1000000) AS BIGINT) AS xm,
               CAST(round(ln(CAST(f AS DOUBLE)) * 1000000) AS BIGINT) AS ym
        FROM top
    ),
    m AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(xm) AS BIGINT) AS sx,
               CAST(sum(ym) AS BIGINT) AS sy,
               CAST(sum(xm::HUGEINT * xm) AS BIGINT) AS sxx,
               CAST(sum(xm::HUGEINT * ym) AS BIGINT) AS sxy
        FROM pts
    )
    SELECT n AS n_terms,
           round({_ZIPF_SLOPE}, 6) AS zipf_slope,
           round({_ZIPF_INTERCEPT}, 6) AS ln_c_intercept
    FROM m
    """,
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit of the corpus term distribution: OLS slope of
    ln(frequency) on ln(rank) over the top-{_ZIPF_N} terms — natural text
    sits near slope −1 (Zipf 1949), and the deviation is a standing
    corpus-quality signal (template/boilerplate corpora go shallow;
    deduped natural text steepens). The companion to text_vocab_growth's
    Heaps-law curve: Heaps watches vocabulary GROWTH, Zipf watches the
    frequency SHAPE.

    Determinism: ranks come from the (freq DESC, word) total order; each
    ln is micro-quantized (x1e6, round-half-up) to an integer BEFORE the
    moments, so all five regression moments are exact BIGINTs and the
    slope/intercept are two shared double expressions — the
    events_hurst_rs discipline applied to log-log regression.

    Scale shape: one map-combinable word count (the wordcount shuffle
    every corpus pipeline already pays), a top-k TakeOrdered over the
    vocabulary, then arithmetic on {_ZIPF_N} rows of metadata.
    """
    d = load_table(spark, sf_dir, "documents")
    freq = (
        d.select(F.explode(tokens(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("f"))
    )
    top = (
        freq.orderBy(F.col("f").desc(), "word")
        .limit(_ZIPF_N)
        .select(
            "f",
            F.row_number()
            .over(W.orderBy(F.col("f").desc(), "word"))
            .alias("r"),
        )
    )
    pts = top.select(
        F.expr("CAST(round(ln(CAST(r AS DOUBLE)) * 1000000) AS BIGINT)").alias("xm"),
        F.expr("CAST(round(ln(CAST(f AS DOUBLE)) * 1000000) AS BIGINT)").alias("ym"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")
    m = pts.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("xm").cast("long").alias("sx"),
        F.sum("ym").cast("long").alias("sy"),
        F.sum(dec("xm") * F.col("xm")).cast("long").alias("sxx"),
        F.sum(dec("xm") * F.col("ym")).cast("long").alias("sxy"),
    )
    return m.selectExpr(
        "n AS n_terms",
        f"round({_ZIPF_SLOPE}, 6) AS zipf_slope",
        f"round({_ZIPF_INTERCEPT}, 6) AS ln_c_intercept",
    )


# Add-one bigram probability: one shared expression over exact integer
# counts; ln micro-quantized per test bigram so the corpus logprob sum is
# an exact BIGINT (summation-order-free), perplexity one exp at the end.
_BGLM_LOGP = (
    "CAST(round(ln("
    "(CAST(coalesce(c12, 0) + 1 AS DOUBLE))"
    " / (CAST(coalesce(c1, 0) AS DOUBLE) + CAST(v AS DOUBLE))"
    ") * 1000000) AS BIGINT)"
)


@query(
    "text_bigram_perplexity",
    oracle=XXH64_MACROS
    + f"""
    WITH docs AS (
        SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t,
               (((xxh64_long(doc_id, 42::UBIGINT) % 10) + 10) % 10) < 8
                   AS is_train
        FROM documents
    ),
    tr_big AS (
        SELECT t[i] AS w1, t[i+1] AS w2
        FROM docs, LATERAL (SELECT unnest(range(1, len(t))) AS i) r
        WHERE is_train AND len(t) >= 2
    ),
    vocab AS (
        SELECT DISTINCT w FROM (
            SELECT w1 AS w FROM tr_big UNION ALL SELECT w2 FROM tr_big
        )
    ),
    c12 AS (SELECT w1, w2, count(*) AS c12 FROM tr_big GROUP BY w1, w2),
    c1 AS (SELECT w1, count(*) AS c1 FROM tr_big GROUP BY w1),
    vv AS (SELECT CAST(count(*) + 1 AS BIGINT) AS v FROM vocab),
    te_big AS (
        SELECT CASE WHEN v1.w IS NULL THEN '<unk>' ELSE b.w1 END AS w1,
               CASE WHEN v2.w IS NULL THEN '<unk>' ELSE b.w2 END AS w2
        FROM (
            SELECT t[i] AS w1, t[i+1] AS w2
            FROM docs, LATERAL (SELECT unnest(range(1, len(t))) AS i) r
            WHERE NOT is_train AND len(t) >= 2
        ) b
        LEFT JOIN vocab v1 ON v1.w = b.w1
        LEFT JOIN vocab v2 ON v2.w = b.w2
    ),
    scored AS (
        SELECT {_BGLM_LOGP} AS lp
        FROM te_big tb
        LEFT JOIN c12 ON c12.w1 = tb.w1 AND c12.w2 = tb.w2
        LEFT JOIN c1 ON c1.w1 = tb.w1
        CROSS JOIN vv
    ),
    counts AS (
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM docs WHERE is_train)
                   AS n_train_docs,
               (SELECT CAST(count(*) AS BIGINT) FROM docs WHERE NOT is_train)
                   AS n_test_docs,
               (SELECT v FROM vv) AS vocab_v,
               CAST(count(*) AS BIGINT) AS n_test_bigrams,
               CAST(sum(lp) AS BIGINT) AS sum_logp_micro
        FROM scored
    )
    SELECT n_train_docs, n_test_docs, vocab_v, n_test_bigrams,
           sum_logp_micro,
           round(exp(-CAST(sum_logp_micro AS DOUBLE) / 1000000.0
                     / CAST(n_test_bigrams AS DOUBLE)), 4) AS perplexity
    FROM counts
    """,
)
def text_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out perplexity of an add-one-smoothed bigram language model —
    the classical corpus-quality score (Chen & Goodman 1999's baseline):
    train on the hash-deterministic 80% doc split, score the other 20%,
    OOV tokens mapped to <unk>. Low-perplexity corpora are repetitive /
    templated; the number is what data-mixing recipes threshold on when
    a real LM scorer is too expensive for a first pass.

    Exactness: the split is xxhash64(doc_id) — replayed by the DuckDB
    macros; counts are exact integers; each test bigram's
    ln((c12+1)/(c1+V)) is micro-quantized to a BIGINT before the corpus
    sum (summation-order-free — the Zipf/Hurst discipline), and the one
    exp runs on the exact integer sum.

    Scale shape: bigram counting is the wordcount shuffle on pair keys;
    scoring joins the TEST bigrams (20% of the corpus) against the count
    tables on those same keys — at 100 TB both sides shuffle once on the
    bigram key and nothing is ever collected.
    """
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        tokens(F.col("text")).alias("t"),
        (F.pmod(F.xxhash64(F.col("doc_id")), F.lit(10)) < 8).alias(
            "is_train"
        ),
    ).localCheckpoint(eager=True)  # train counts + vocab + test bigrams
    big = (
        d.filter(F.size("t") >= 2)
        .select(
            "is_train",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("t") - 2),
                    lambda i: F.struct(
                        F.element_at(F.col("t"), (i + 1).cast("int")).alias("w1"),
                        F.element_at(F.col("t"), (i + 2).cast("int")).alias("w2"),
                    ),
                )
            ).alias("bg"),
        )
        .select("is_train", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
        .localCheckpoint(eager=True)  # feeds train aggs + test side
    )
    tr = big.filter("is_train")
    vocab = (
        tr.select(F.col("w1").alias("w"))
        .unionAll(tr.select(F.col("w2").alias("w")))
        .distinct()
        .localCheckpoint(eager=True)  # two membership joins + the count
    )
    c12 = tr.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    c1 = tr.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    v_val = vocab.count() + 1
    te = (
        big.filter(~F.col("is_train"))
        .join(
            vocab.select(F.col("w").alias("w1"), F.lit(1).alias("in1")),
            "w1",
            "left",
        )
        .join(
            vocab.select(F.col("w").alias("w2"), F.lit(1).alias("in2")),
            "w2",
            "left",
        )
        .select(
            F.when(F.col("in1").isNull(), F.lit("<unk>"))
            .otherwise(F.col("w1"))
            .alias("w1"),
            F.when(F.col("in2").isNull(), F.lit("<unk>"))
            .otherwise(F.col("w2"))
            .alias("w2"),
        )
    )
    scored = (
        te.join(c12, ["w1", "w2"], "left")
        .join(c1, "w1", "left")
        .withColumn("v", F.lit(v_val).cast("long"))
        .select(F.expr(_BGLM_LOGP).alias("lp"))
    )
    n_train = d.filter("is_train").count()
    n_test = d.filter(~F.col("is_train")).count()
    return scored.agg(
        F.lit(n_train).cast("long").alias("n_train_docs"),
        F.lit(n_test).cast("long").alias("n_test_docs"),
        F.lit(v_val).cast("long").alias("vocab_v"),
        F.count(F.lit(1)).cast("long").alias("n_test_bigrams"),
        F.sum("lp").cast("long").alias("sum_logp_micro"),
    ).selectExpr(
        "n_train_docs",
        "n_test_docs",
        "vocab_v",
        "n_test_bigrams",
        "sum_logp_micro",
        "round(exp(-CAST(sum_logp_micro AS DOUBLE) / 1000000.0"
        " / CAST(n_test_bigrams AS DOUBLE)), 4) AS perplexity",
    )


# --- wave 47 (round 9) ---

_PMI_MIN_DF = 25  # frequent-vocab gate BEFORE pairing: bounds pair fan-out
_PMI_MIN_CO = 10
_PMI_TOPK = 20
# pmi = ln(N * c_xy / (c_x * c_y)) — a PER-ROW scalar over four exact
# integers (never a cross-row float sum), rounded once on both engines.
_PMI_EXPR = (
    "round(ln(CAST(n_docs AS DOUBLE) * CAST(c_xy AS DOUBLE)"
    " / (CAST(c_x AS DOUBLE) * CAST(c_y AS DOUBLE))), 6)"
)


@query(
    "text_pmi_cooccurrence",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, u.t
        FROM (SELECT doc_id,
                     list_distinct(string_split(trim(text), ' ')) AS ts
              FROM documents) d, UNNEST(d.ts) AS u(t)
        WHERE u.t <> ''
    ),
    n AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs FROM tok),
    df AS (
        SELECT t, CAST(count(*) AS BIGINT) AS c
        FROM tok GROUP BY t HAVING count(*) >= {_PMI_MIN_DF}
    ),
    keep AS (SELECT tok.doc_id, tok.t FROM tok JOIN df ON df.t = tok.t),
    co AS (
        SELECT a.t AS t1, b.t AS t2, CAST(count(*) AS BIGINT) AS c_xy
        FROM keep a JOIN keep b ON a.doc_id = b.doc_id AND a.t < b.t
        GROUP BY a.t, b.t HAVING count(*) >= {_PMI_MIN_CO}
    )
    SELECT t1, t2, c_xy, dx.c AS c_x, dy.c AS c_y, n.n_docs,
           {_PMI_EXPR} AS pmi
    FROM co JOIN df dx ON dx.t = co.t1 JOIN df dy ON dy.t = co.t2
    CROSS JOIN n
    ORDER BY {_PMI_EXPR} DESC, t1, t2
    LIMIT {_PMI_TOPK}
    """,
)
def text_pmi_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{_PMI_TOPK} document-level token-pair PMI — the phrase/collocation
    miner (Church & Hanks 1990) a corpus pipeline runs to find multiword
    expressions worth protecting from tokenization, and the association
    signal behind keyword expansion. pmi = ln(N·c_xy / (c_x·c_y)) over
    document frequencies, each value a per-row scalar over four exact
    integers (the float-sum trap never opens).

    Scale shape: the min-df vocabulary gate applies BEFORE pairing, so the
    per-doc pair fan-out is bounded by the FREQUENT vocabulary only —
    C(|V_freq ∩ doc|, 2) per doc, never C(all tokens, 2); the pair count
    aggregate is map-side combinable and top-k plans as
    TakeOrderedAndProject. At 100 TB the co-occurrence table, not the
    corpus, is the working set.
    """
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.explode(F.array_distinct(F.split(F.trim("text"), " "))).alias("t"),
    ).filter(F.col("t") != "")
    # n_docs without the explode + distinct + count pass (r10): a document
    # yields >= 1 token row iff its trimmed text is non-empty (split on ' '
    # emits '' components only between/around spaces, and array_distinct of
    # an all-'' array still passes nothing through the t != '' filter only
    # when trim(text) = ''), so counting docs directly off the base scan is
    # exactly the old distinct-doc_id count at a fraction of the cost.
    # ADVICE r10: this additionally assumes doc_id is UNIQUE in documents
    # (it is the table's key — enforced by the fixture generator and by
    # every dedup oracle joining documents on doc_id); under duplicated
    # doc_ids the old countDistinct(doc_id) and this row count would
    # diverge.
    n_docs = d.filter(F.trim("text") != "").count()
    df_t = (
        tok.groupBy("t")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .filter(F.col("c") >= _PMI_MIN_DF)
        .localCheckpoint(eager=True)  # one materialization feeds 3 joins
    )
    n_vocab = df_t.count()  # cached metadata read post-checkpoint
    keep = (
        tok.join(broadcast_if_fits(df_t.select("t"), n_vocab, row_bytes=24), "t")
        .select("doc_id", "t")
        # materialized once (r10): both sides of the per-doc pair self-join
        # consume keep; without the checkpoint each side re-ran the corpus
        # explode + vocab join (plans/r10/text_pmi_cooccurrence_before.txt).
        # The frequent-vocab restriction bounds it well below the raw token
        # table.
        .localCheckpoint(eager=True)
    )
    co = (
        keep.select("doc_id", F.col("t").alias("t1"))
        .join(
            keep.select("doc_id", F.col("t").alias("t2")),
            "doc_id",
        )
        .filter(F.col("t1") < F.col("t2"))
        .groupBy("t1", "t2")
        .agg(F.count(F.lit(1)).cast("long").alias("c_xy"))
        .filter(F.col("c_xy") >= _PMI_MIN_CO)
    )
    scored = (
        co.join(
            broadcast_if_fits(
                df_t.select(F.col("t").alias("t1"), F.col("c").alias("c_x")),
                n_vocab,
                row_bytes=32,
            ),
            "t1",
        )
        .join(
            broadcast_if_fits(
                df_t.select(F.col("t").alias("t2"), F.col("c").alias("c_y")),
                n_vocab,
                row_bytes=32,
            ),
            "t2",
        )
        .withColumn("n_docs", F.lit(n_docs).cast("long"))
        .withColumn("pmi", F.expr(_PMI_EXPR))
    )
    return (
        scored.orderBy(F.col("pmi").desc(), "t1", "t2")
        .limit(_PMI_TOPK)
        .select("t1", "t2", "c_xy", "c_x", "c_y", "n_docs", "pmi")
    )


_CHUNK_W = 8  # tokens per non-overlapping chunk ("paragraph" granularity)


@query(
    "text_chunk_boilerplate",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source, string_split(trim(text), ' ') AS ts
        FROM documents
    ),
    chunks AS (
        SELECT doc_id, source,
               md5(array_to_string(
                   list_slice(ts, i.i * {_CHUNK_W} + 1,
                              i.i * {_CHUNK_W} + {_CHUNK_W}), ' ')) AS ch
        FROM toks,
             LATERAL (SELECT unnest(range(0, len(ts) // {_CHUNK_W})) AS i) i
    ),
    per AS (
        SELECT source, ch, count(*) AS n FROM chunks GROUP BY source, ch
    )
    SELECT source,
           CAST(sum(n) AS BIGINT) AS n_chunks,
           CAST(count(*) AS BIGINT) AS n_distinct_chunks,
           CAST(sum(n) - count(*) AS BIGINT) AS n_dup_chunks,
           CAST((sum(n) - count(*)) * 1000000 // sum(n) AS BIGINT)
               AS dup_ratio_ppm,
           CAST(max(n) AS BIGINT) AS top_chunk_count
    FROM per GROUP BY source ORDER BY source
    """,
)
def text_chunk_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level boilerplate profile per source: documents are cut into
    non-overlapping {_CHUNK_W}-token chunks (the paragraph proxy on this
    fixture's unpunctuated text) and each source reports how much of its
    chunk mass is REPEATED — the signal a corpus cleaner reads before
    stripping navigation/footer boilerplate that exact whole-doc dedup
    cannot see (the sub-document granularity between dedup_exact_docs and
    dedup_substring_spans). top_chunk_count names the worst offender's
    multiplicity.

    Exactness: chunks are md5-keyed strings built by the identical
    slice-and-join expression in both engines; every output column is an
    integer (ppm by integer floor-division).

    Scale shape: one explode to ~n_tokens/{_CHUNK_W} chunk rows, one
    combinable (source, chunk) count, one per-source rollup — the exact
    dedup shape one level down. At 100 TB the chunk table is smaller than
    the token table a tokenizer already materializes.
    """
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.split(F.trim("text"), " ").alias("ts")
    )
    # ADVICE r9: sequence(0, -1) in Spark is the DESCENDING [0, -1] (index
    # -1 slices from the end), so a doc shorter than one chunk would emit
    # two spurious chunks where DuckDB's range(0, len//W) emits none.
    # Pre-filter mirrors range()'s empty behavior exactly.
    d = d.where(F.size("ts") >= _CHUNK_W)
    chunks = d.select(
        "source",
        F.explode(
            F.transform(
                F.sequence(
                    F.lit(0), F.expr(f"size(ts) DIV {_CHUNK_W} - 1")
                ),
                lambda i: F.md5(
                    F.array_join(
                        F.slice(
                            F.col("ts"),
                            (i * _CHUNK_W + 1).cast("int"),
                            _CHUNK_W,
                        ),
                        " ",
                    )
                ),
            )
        ).alias("ch"),
    )
    per = chunks.groupBy("source", "ch").agg(F.count(F.lit(1)).alias("n"))
    return (
        per.groupBy("source")
        .agg(
            F.sum("n").cast("long").alias("n_chunks"),
            F.count(F.lit(1)).cast("long").alias("n_distinct_chunks"),
            (F.sum("n") - F.count(F.lit(1))).cast("long").alias("n_dup_chunks"),
            F.expr(
                "CAST((sum(n) - count(*)) * 1000000 DIV sum(n) AS BIGINT)"
            ).alias("dup_ratio_ppm"),
            F.max("n").cast("long").alias("top_chunk_count"),
        )
        .orderBy("source")
    )


# --- wave 50 (round 9) ---


@query(
    "text_hapax_ratio",
    oracle="""
    WITH tok AS (
        SELECT d.source, u.t
        FROM (SELECT source, string_split(trim(text), ' ') AS ts
              FROM documents) d, UNNEST(d.ts) AS u(t)
        WHERE u.t <> ''
    ),
    vocab AS (
        SELECT source, t, CAST(count(*) AS BIGINT) AS c
        FROM tok GROUP BY source, t
    )
    SELECT source,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_types,
           CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
           CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dis_legomena,
           CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1000000
                // count(*) AS BIGINT) AS hapax_type_ppm,
           CAST(count(*) * 1000000 // sum(c) AS BIGINT) AS ttr_ppm
    FROM vocab GROUP BY source ORDER BY source
    """,
)
def text_hapax_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical-richness profile per source: hapax legomena (once-only
    types), dis legomena, the hapax share of the vocabulary, and the
    type-token ratio — the vocabulary-shape signals beside Heaps' growth
    (text_vocab_growth) and the Zipf slope (text_zipf_fit). A synthetic
    or template-generated corpus shows an abnormally LOW hapax share
    (few novel words), a scraped-garbage corpus an abnormally high one
    (typos/OCR noise) — which is why corpus-quality dashboards plot
    exactly these two ppm columns per source.

    Scale shape: one (source, token) combinable count, one per-source
    rollup — the wordcount shape; every output column an exact integer
    (ppm by integer division).
    """
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "source", F.explode(F.split(F.trim("text"), " ")).alias("t")
    ).filter(F.col("t") != "")
    vocab = tok.groupBy("source", "t").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    return (
        vocab.groupBy("source")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).cast("long").alias("n_types"),
            F.sum((F.col("c") == 1).cast("int")).cast("long").alias("n_hapax"),
            F.sum((F.col("c") == 2).cast("int"))
            .cast("long")
            .alias("n_dis_legomena"),
            F.expr(
                "CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1000000"
                " DIV count(*) AS BIGINT)"
            ).alias("hapax_type_ppm"),
            F.expr(
                "CAST(count(*) * 1000000 DIV sum(c) AS BIGINT)"
            ).alias("ttr_ppm"),
        )
        .orderBy("source")
    )


# --- wave 56 (round 10) ---

# Good-Turing: the count-of-counts table and the Turing discounts
# r* = (r+1)·N_{r+1}/N_r — THE unseen-mass estimator (P0 = N_1/N) for
# vocabulary coverage: how much probability mass a corpus' LM should
# reserve for words it has never seen. All integers; the discount is an
# exact scaled integer division.
_GT_MAX_R = 8


@query(
    "text_good_turing",
    oracle=f"""
    WITH toks AS (
        SELECT string_split(trim(text), ' ') AS a FROM documents
    ),
    tok AS (
        SELECT unnest(list_transform(range(1, len(a) - 1),
                      i -> a[i] || ' ' || a[i+1] || ' ' || a[i+2])) AS t
        FROM toks WHERE len(a) >= 3
    ),
    vocab AS (
        SELECT t, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1
    ),
    coc AS (
        SELECT c AS r, CAST(count(*) AS BIGINT) AS n_r FROM vocab GROUP BY 1
    ),
    tot AS (
        SELECT CAST(sum(r * n_r) AS BIGINT) AS n_tokens,
               CAST(sum(n_r) AS BIGINT) AS n_types,
               CAST(max(CASE WHEN r = 1 THEN n_r ELSE 0 END) AS BIGINT)
                   AS n1
        FROM coc
    )
    SELECT a.r, a.n_r,
           CAST(coalesce(b.n_r, 0) AS BIGINT) AS n_r_next,
           CAST((a.r + 1) * coalesce(b.n_r, 0) * 1000000
                // a.n_r AS BIGINT) AS r_star_e6,
           t.n_tokens, t.n_types,
           CAST(t.n1 * 1000000 // t.n_tokens AS BIGINT) AS p0_ppm
    FROM coc a LEFT JOIN coc b ON b.r = a.r + 1 CROSS JOIN tot t
    WHERE a.r <= {_GT_MAX_R}
    ORDER BY a.r
    """,
)
def text_good_turing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good-Turing frequency estimation (Good 1953) over the corpus'
    word-TRIGRAM vocabulary: the count-of-counts table N_r, the Turing discounts
    r* = (r+1)·N_{r+1}/N_r for r ≤ 8, and the unseen-mass
    estimate P0 = N_1/N — the coverage readout that says how much
    probability a language model trained on THIS corpus should reserve
    for out-of-vocabulary tokens (the smoothing-choice gate beside
    text_zipf_fit's tail slope and text_vocab_growth's Heaps curve).

    Exactness: every column is an exact integer (counts, and discounts /
    P0 as scaled integer divisions on longs) — no floats anywhere.

    Scale shape: the wordcount shape (combinable (token) count), then a
    count-of-counts rollup whose domain is BOUNDED by the max term
    frequency — the output join runs on metadata. One corpus scan.
    """
    d = load_table(spark, sf_dir, "documents")
    # word TRIGRAMS, not unigrams: the synthetic corpus has a ~31-type
    # unigram vocabulary (min count 26 — no rare mass at all); the
    # trigram distribution has a real Zipf tail (9.4k hapax at sf0.01).
    # size >= 3 guard mirrors range()'s empty behavior (the
    # text_chunk_boilerplate short-doc lesson: sequence(0,-1) DESCENDS).
    tok = (
        d.select(F.split(F.trim("text"), " ").alias("a"))
        .filter(F.size("a") >= 3)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(0, size(a) - 3),"
                    " i -> concat_ws(' ', a[i], a[i+1], a[i+2]))"
                )
            ).alias("t")
        )
    )
    vocab = tok.groupBy("t").agg(F.count(F.lit(1)).cast("long").alias("c"))
    coc = vocab.groupBy(F.col("c").alias("r")).agg(
        F.count(F.lit(1)).cast("long").alias("n_r")
    )
    coc = coc.localCheckpoint(eager=True)  # 3 consumers: tot, self-join x2
    tot = coc.agg(
        F.sum(F.col("r") * F.col("n_r")).cast("long").alias("n_tokens"),
        F.sum("n_r").cast("long").alias("n_types"),
        F.max(F.when(F.col("r") == 1, F.col("n_r")).otherwise(0))
        .cast("long")
        .alias("n1"),
    )
    nxt = coc.select(
        (F.col("r") - 1).alias("r"), F.col("n_r").alias("n_r_next")
    )
    return (
        coc.filter(F.col("r") <= _GT_MAX_R)
        .join(F.broadcast(nxt), "r", "left")
        .crossJoin(F.broadcast(tot))
        .selectExpr(
            "r",
            "n_r",
            "CAST(coalesce(n_r_next, 0) AS BIGINT) AS n_r_next",
            "CAST((r + 1) * coalesce(n_r_next, 0) * 1000000"
            " div n_r AS BIGINT) AS r_star_e6",
            "n_tokens",
            "n_types",
            "CAST(n1 * 1000000 div n_tokens AS BIGINT) AS p0_ppm",
        )
        .orderBy("r")
    )


# Per-source KL divergence against the corpus unigram distribution — the
# "which source is the outlier" decomposition (weighted-average of these
# KLs = the mutual information between source and token). Pointwise logs
# micro-quantized before the exact integer sum, the stat_mutual_information
# discipline applied per source.
_KL_Q = 1_000_000_000


@query(
    "text_kl_source_divergence",
    oracle=f"""
    WITH tok AS (
        SELECT source, unnest(string_split(trim(text), ' ')) AS t
        FROM documents
    ),
    st AS (
        SELECT source, t, CAST(count(*) AS BIGINT) AS c_st FROM tok
        WHERE t <> '' GROUP BY 1, 2
    ),
    m AS (
        SELECT source, t, c_st,
               sum(c_st) OVER (PARTITION BY t) AS c_t,
               sum(c_st) OVER (PARTITION BY source) AS n_s,
               sum(c_st) OVER () AS n
        FROM st
    )
    SELECT source,
           CAST(max(n_s) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_types,
           CAST(sum(c_st * CAST(floor(ln((CAST(c_st AS DOUBLE) * n)
                                         / (CAST(n_s AS DOUBLE) * c_t))
                                      * {_KL_Q}) AS BIGINT)) AS BIGINT)
               AS kl_e9_sum,
           round(CAST(sum(c_st * CAST(floor(ln((CAST(c_st AS DOUBLE) * n)
                                              / (CAST(n_s AS DOUBLE) * c_t))
                                           * {_KL_Q}) AS BIGINT)) AS DOUBLE)
                 / (CAST(max(n_s) AS DOUBLE) * {_KL_Q}), 9) AS kl_nats
    FROM m GROUP BY 1 ORDER BY 1
    """,
)
def text_kl_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source KL divergence KL(p_source ‖ p_corpus) over unigram
    distributions — the 'which source is the outlier' readout a corpus
    composition dashboard sorts by (the n_s-weighted average of these KLs
    IS the source↔token mutual information, so this is the per-source
    decomposition of stat_mutual_information's corpus-level number).

    Exactness: each pointwise log-ratio ln(c_st·N/(n_s·c_t)) is
    micro-quantized to 1e-9 BEFORE the c_st-weighted sum, so each
    source's KL numerator is an exact BIGINT both engines replay.

    Scale shape: one combinable (source, token) count, two window sums
    over the vocabulary-sized table (token marginal, source marginal),
    one per-source rollup. One corpus scan; the window input is bounded
    by |sources| × |vocab|, not corpus tokens.
    """
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "source", F.explode(F.split(F.trim("text"), " ")).alias("t")
    ).filter(F.col("t") != "")
    st = tok.groupBy("source", "t").agg(
        F.count(F.lit(1)).cast("long").alias("c_st")
    )
    m = st.select(
        "source",
        "c_st",
        F.sum("c_st").over(W.partitionBy("t")).alias("c_t"),
        F.sum("c_st").over(W.partitionBy("source")).alias("n_s"),
        F.sum("c_st").over(W.partitionBy()).alias("n"),
    )
    qln = (
        f"CAST(floor(ln((CAST(c_st AS DOUBLE) * n)"
        f" / (CAST(n_s AS DOUBLE) * c_t)) * {_KL_Q}) AS BIGINT)"
    )
    return (
        m.groupBy("source")
        .agg(
            F.max("n_s").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).cast("long").alias("n_types"),
            F.sum(F.expr(f"c_st * {qln}")).cast("long").alias("kl_e9_sum"),
            F.expr(
                f"round(CAST(sum(c_st * {qln}) AS DOUBLE)"
                f" / (CAST(max(n_s) AS DOUBLE) * {_KL_Q}), 9)"
            ).alias("kl_nats"),
        )
        .orderBy("source")
    )


# Goh-Barabási burstiness per high-df term over its DOCUMENT gap
# sequence: B = (σ_g − μ_g)/(σ_g + μ_g) ∈ (−1, 1) — bursty terms (B→1)
# cluster in few documents (topical words), regular terms (B→−1) spread
# evenly (function words/boilerplate). The gap moments are exact
# integers (doc-id differences), so only the final σ/B expression
# touches floats.
_BURST_TOP = 10


@query(
    "text_term_burstiness",
    oracle=f"""
    WITH tok AS (
        SELECT DISTINCT doc_id, unnest(string_split(trim(text), ' ')) AS t
        FROM documents
    ),
    df_rank AS (
        SELECT t, CAST(count(*) AS BIGINT) AS df,
               row_number() OVER (ORDER BY count(*) DESC, t) AS rk
        FROM tok WHERE t <> '' GROUP BY 1
    ),
    top AS (SELECT t, df FROM df_rank WHERE rk <= {_BURST_TOP}),
    gaps AS (
        SELECT k.t, top.df,
               k.doc_id - lag(k.doc_id) OVER (
                   PARTITION BY k.t ORDER BY k.doc_id) AS g
        FROM tok k JOIN top ON top.t = k.t
    ),
    m AS (
        SELECT t, max(df) AS df,
               CAST(count(g) AS BIGINT) AS n_gaps,
               CAST(sum(g) AS BIGINT) AS s1,
               CAST(sum(CAST(g AS HUGEINT) * g) AS HUGEINT) AS s2
        FROM gaps GROUP BY 1
    )
    SELECT t AS term, CAST(df AS BIGINT) AS df, n_gaps,
           round(CAST(s1 AS DOUBLE) / n_gaps, 6) AS mean_gap,
           round((sqrt(CAST(n_gaps * s2 - s1 * s1 AS DOUBLE)) / n_gaps
                  - CAST(s1 AS DOUBLE) / n_gaps)
                 / (sqrt(CAST(n_gaps * s2 - s1 * s1 AS DOUBLE)) / n_gaps
                    + CAST(s1 AS DOUBLE) / n_gaps), 6) AS burstiness
    FROM m ORDER BY term
    """,
)
def text_term_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goh-Barabási burstiness (2008) B = (σ−μ)/(σ+μ) of each top-df
    term's document-gap sequence — the topicality/boilerplate separator:
    bursty terms (B near 1) concentrate in few documents, regular terms
    (B near −1) recur evenly (function words, template boilerplate).
    Complements text_hapax_ratio (shape of the rare tail) with the shape
    of the COMMON head, and flags template contamination a df threshold
    alone cannot see.

    Exactness: gaps are integer doc-id differences; n·S2 − S1² is an
    exact DECIMAL(38,0)/HUGEINT; σ, μ and B are one shared float
    expression over those integers, rounded once.

    Scale shape: one (doc, term) distinct projection (the inverted-index
    shape), a top-k over the df table, gap windows PARTITIONED per term
    over that term's posting list (bounded by df), a 10-row output.
    """
    d = load_table(spark, sf_dir, "documents")
    tok = (
        d.select(
            "doc_id", F.explode(F.split(F.trim("text"), " ")).alias("t")
        )
        .filter(F.col("t") != "")
        .distinct()
    )
    tok = tok.localCheckpoint(eager=True)  # df ranking + gap join
    top = (
        tok.groupBy("t")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
        .withColumn(
            "rk",
            F.row_number().over(W.orderBy(F.col("df").desc(), F.col("t"))),
        )
        .filter(F.col("rk") <= _BURST_TOP)
        .select("t", "df")
    )
    gaps = tok.join(F.broadcast(top), "t").select(
        "t",
        "df",
        (
            F.col("doc_id")
            - F.lag("doc_id").over(W.partitionBy("t").orderBy("doc_id"))
        ).alias("g"),
    )
    m = gaps.groupBy("t").agg(
        F.max("df").alias("df"),
        F.count("g").cast("long").alias("n_gaps"),
        F.sum("g").cast("long").alias("s1"),
        F.sum(F.col("g").cast("decimal(38,0)") * F.col("g")).alias("s2"),
    )
    sigma = "sqrt(CAST(n_gaps * s2 - s1 * s1 AS DOUBLE)) / n_gaps"
    mu = "CAST(s1 AS DOUBLE) / n_gaps"
    return m.selectExpr(
        "t AS term",
        "CAST(df AS BIGINT) AS df",
        "n_gaps",
        f"round({mu}, 6) AS mean_gap",
        f"round(({sigma} - {mu}) / ({sigma} + {mu}), 6) AS burstiness",
    ).orderBy("term")
