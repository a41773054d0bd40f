"""Text-analysis operators (north-star C5) over the `documents` table.

Tokenization, token statistics, quality scoring, language-ID, and document
fingerprinting — the per-document feature extraction stage of an LLM
training-data pipeline. Everything row-wise stays in built-in functions
(split/transform/aggregate — WholeStageCodegen); the corpus-wide passes
(token frequencies, language profiles) are hash aggregates with map-side
combine, so the shuffle carries (token, partial count) not raw text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from apache_iceberg_demo_spark.caching import keep_result, operator_scope
from apache_iceberg_demo_spark.io import load
from apache_iceberg_demo_spark.registry import register

#: the synthetic corpus's function words (FIXTURES.md: query/engine vocabulary)
STOPWORDS = ("a", "the")


@register(
    "c5_token_frequencies",
    oracle="""
        SELECT token, count(*) AS freq, count(DISTINCT doc_id) AS doc_freq
        FROM (
            SELECT doc_id, unnest(string_split(text, ' ')) AS token
            FROM documents
        )
        GROUP BY token
    """,
)
def c5_token_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5: corpus token + document frequencies (explode → hash aggregate)."""
    d = load(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("freq"), F.countDistinct("doc_id").alias("doc_freq"))
    )


@register(
    "c5_doc_stats",
    oracle="""
        SELECT doc_id, lang,
               CAST(len(string_split(text, ' ')) AS BIGINT)                AS n_tokens,
               CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
               round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                     / len(string_split(text, ' ')), 6)                    AS distinct_ratio,
               round(list_aggregate(list_transform(string_split(text, ' '),
                     t -> CAST(len(t) AS DOUBLE)), 'sum')
                     / len(string_split(text, ' ')), 6)                    AS avg_token_len,
               round(CAST(len(list_filter(string_split(text, ' '),
                     t -> t IN ('a', 'the'))) AS DOUBLE)
                     / len(string_split(text, ' ')), 6)                    AS stopword_ratio
        FROM documents
    """,
)
def c5_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5: per-document token statistics — the raw quality-signal features."""
    d = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n = F.size(toks)
    n_distinct = F.size(F.array_distinct(toks))
    tok_len_sum = F.aggregate(
        F.transform(toks, lambda t: F.length(t).cast("double")),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    return d.select(
        "doc_id",
        "lang",
        n.cast("bigint").alias("n_tokens"),
        n_distinct.cast("bigint").alias("n_distinct"),
        F.round(n_distinct / n, 6).alias("distinct_ratio"),
        F.round(tok_len_sum / n, 6).alias("avg_token_len"),
        F.round(n_stop / n, 6).alias("stopword_ratio"),
    )


@register(
    "c5_quality_score",
    oracle="""
        WITH s AS (
            SELECT doc_id, lang, n_chars,
                   len(string_split(text, ' ')) AS n_tokens,
                   CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                       / len(string_split(text, ' ')) AS distinct_ratio,
                   CAST(len(list_filter(string_split(text, ' '),
                       t -> t IN ('a', 'the'))) AS DOUBLE)
                       / len(string_split(text, ' ')) AS stop_ratio
            FROM documents
        )
        SELECT doc_id, lang,
               round(0.4 * least(n_tokens / 100.0, 1.0)
                   + 0.4 * distinct_ratio
                   + 0.2 * least(stop_ratio * 10, 1.0), 6) AS quality,
               (n_tokens >= 20 AND distinct_ratio >= 0.3) AS keep
        FROM s
    """,
)
def c5_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5: composite quality score + keep/drop gate (the filter stage of a
    training-data pipeline — length, lexical diversity, function-word rate)."""
    d = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n = F.size(toks).cast("double")
    distinct_ratio = F.size(F.array_distinct(toks)) / n
    stop_ratio = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS))) / n
    quality = (
        0.4 * F.least(n / 100.0, F.lit(1.0))
        + 0.4 * distinct_ratio
        + 0.2 * F.least(stop_ratio * 10, F.lit(1.0))
    )
    return d.select(
        "doc_id",
        "lang",
        F.round(quality, 6).alias("quality"),
        ((n >= 20) & (distinct_ratio >= 0.3)).alias("keep"),
    )


@register(
    "c5_token_count_bpe_regex",
    oracle="""
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]'))
                    AS BIGINT) AS n_bpe_tokens,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens
        FROM documents
    """,
)
def c5_token_count_bpe_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5: token counting — whitespace vs BPE-ish regex segmentation
    (letters / digits / punctuation as separate tokens)."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"), 0))
        .cast("bigint")
        .alias("n_bpe_tokens"),
        F.size(F.split("text", " ")).cast("bigint").alias("n_ws_tokens"),
    )


@register(
    "c5_lang_source_stats",
    oracle="""
        SELECT lang, source, count(*) AS n_docs,
               round(avg(n_chars), 6) AS avg_chars,
               round(avg(len(string_split(text, ' '))), 6) AS avg_tokens,
               CAST(min(n_chars) AS BIGINT) AS min_chars,
               CAST(max(n_chars) AS BIGINT) AS max_chars
        FROM documents
        GROUP BY lang, source
    """,
)
def c5_lang_source_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5: corpus composition report by (lang, source) — the dataset-card
    aggregation every training corpus ships with."""
    d = load(spark, sf_dir, "documents")
    return d.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        F.round(F.avg(F.size(F.split("text", " "))), 6).alias("avg_tokens"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


@register(
    "c5_language_id",
    # The whole two-pass profile model IS ANSI-expressible: char bigrams via
    # list_transform(generate_series), per-lang top-30 profiles and the
    # per-doc argmax both via row_number with the same deterministic
    # tie-breaks (freq DESC, bg ASC / hits DESC, profile_lang ASC) as the
    # Spark windows. DuckDB regexp_replace needs the explicit 'g' flag.
    oracle=r"""
        WITH chars AS (
            SELECT doc_id, lang, regexp_replace(text, '\s+', '_', 'g') AS t
            FROM documents
        ),
        bg AS (
            SELECT doc_id, lang,
                   unnest(list_transform(generate_series(1, length(t) - 1),
                                         i -> substring(t, i, 2))) AS bg
            FROM chars
        ),
        counts AS (SELECT lang, bg, count(*) AS freq FROM bg GROUP BY lang, bg),
        profile AS (
            SELECT lang AS profile_lang, bg FROM (
                SELECT lang, bg,
                       row_number() OVER (PARTITION BY lang
                                          ORDER BY freq DESC, bg) AS rk
                FROM counts
            ) WHERE rk <= 30
        ),
        scored AS (
            SELECT b.doc_id, b.lang, p.profile_lang, count(*) AS hits
            FROM bg b JOIN profile p ON b.bg = p.bg
            GROUP BY b.doc_id, b.lang, p.profile_lang
        ),
        best AS (
            SELECT doc_id, lang AS true_lang, profile_lang AS predicted_lang,
                   CAST(hits AS BIGINT) AS hits,
                   row_number() OVER (PARTITION BY doc_id
                                      ORDER BY hits DESC, profile_lang) AS rk
            FROM scored
        )
        SELECT doc_id, true_lang, predicted_lang, hits FROM best WHERE rk = 1
    """,
)
def c5_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5: n-gram-profile language ID — train character-bigram profiles per
    lang from the corpus itself, then classify each doc by profile overlap.

    Two distributed passes: (1) explode char-bigrams → count per (lang,
    bigram) → top-30 per lang (window rank) → tiny profile table, broadcast;
    (2) join doc bigrams to profiles, argmax matches per doc. At 100 TB the
    profile stays KB-sized; the classify pass is one broadcast join.
    (On this synthetic corpus all langs share one vocabulary, so accuracy is
    chance — the tests assert mechanics, not accuracy.)
    """
    d = load(spark, sf_dir, "documents")
    chars = F.split(F.regexp_replace("text", r"\s+", "_"), "")
    # zip_with over shifted slices, not transform-over-sequence+element_at:
    # HOFs evaluate interpreted, so one cheap lambda per position beats two
    # indexed lookups (same trick as dedup.hashed_word_shingles)
    n1 = F.size(chars) - 1
    bigrams = F.zip_with(
        F.slice(chars, 1, n1), F.slice(chars, 2, n1), lambda a, b: F.concat(a, b)
    )
    # cached: the exploded bigrams feed BOTH the profile pass and the
    # classify pass — without the cache the explode pipeline runs twice.
    # The whole two-pass model runs under an input-sized shuffle scope and is
    # materialized inside it (see tuning.py), then the intermediate cache is
    # released — the result cache is the only thing kept.
    from apache_iceberg_demo_spark.tuning import input_sized_shuffle

    # cpu_spread: the interpreted zip_with bigram build + explode is per-row
    # CPU in the scan stage; a 1-2 split documents scan would serialize it
    # on 1-2 cores (see tuning.py)
    from apache_iceberg_demo_spark.tuning import cpu_spread

    db = cpu_spread(d).select("doc_id", "lang", F.explode(bigrams).alias("bg")).cache()
    profile = (
        db.groupBy("lang", "bg")
        .agg(F.count("*").alias("freq"))
        .withColumn(
            "rk",
            F.row_number().over(W.partitionBy("lang").orderBy(F.desc("freq"), F.asc("bg"))),
        )
        .filter(F.col("rk") <= 30)
        .select(F.col("lang").alias("profile_lang"), "bg")
    )
    scored = (
        db.join(F.broadcast(profile), "bg")
        .groupBy("doc_id", "lang", "profile_lang")
        .agg(F.count("*").alias("hits"))
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("hits"), F.asc("profile_lang"))
    result = (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "doc_id",
            F.col("lang").alias("true_lang"),
            F.col("profile_lang").alias("predicted_lang"),
            "hits",
        )
    )
    # sized from the SPREAD frame (db), not the raw 1-2 split scan (d), so
    # the groupBy/window shuffles keep the fan-out's parallelism (r09 ADVICE
    # fix class — see dedup.minhash_lsh_pairs)
    with operator_scope(
        spark,
        "c5_language_id",
        conf={"spark.sql.shuffle.partitions": input_sized_shuffle(db)},
    ) as s:
        result = s.keep(result)
        result.count()
    db.unpersist()
    return result


@register("c5_fingerprint_winnow")  # rows-only: rolling-hash winnowing
def c5_fingerprint_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5: document fingerprinting by winnowing — k-gram rolling hashes,
    minimum per sliding window, distinct mins = the fingerprint set
    (Schleimer et al., SIGMOD'03 — the standard plagiarism/copy detector).
    All array ops JVM-side; fingerprints are compact (≪ text size)."""
    k, w = 4, 5
    d = load(spark, sf_dir, "documents")
    # HOFs are interpreted (CLAUDE.md): k-gram hashes come from one word-hash
    # pass + rolling arithmetic mixes over shifted slices, and the sliding
    # window minimum is w-1 zip_with/least passes — both linear in positions
    # with cheap per-element lambdas (the transform+element_at string form
    # this replaced cost ~10× more; the gram array is still staged in its own
    # projection so the window pass reads a column, not the gram pipeline)
    m32 = F.lit(2**32)
    staged0 = d.select("doc_id", F.split("text", " ").alias("wd"))
    wh = F.transform("wd", lambda t: F.pmod(F.xxhash64(t), m32))
    staged1 = staged0.select("doc_id", wh.alias("wh")).filter(F.size("wh") >= k)
    ng = F.size("wh") - (k - 1)
    mixed = F.slice("wh", 1, ng)
    for j in range(1, k):
        mixed = F.zip_with(
            mixed,
            F.slice("wh", j + 1, ng),
            lambda m, c: F.pmod(m * F.lit(1000003) + c, m32),
        )
    staged = staged1.select("doc_id", mixed.alias("grams")).filter(
        F.size("grams") >= w
    )
    grams = F.col("grams")
    nw = F.size(grams) - (w - 1)
    windows_min = F.slice(grams, 1, nw)
    for j in range(1, w):
        windows_min = F.zip_with(
            windows_min, F.slice(grams, j + 1, nw), lambda a, b: F.least(a, b)
        )
    staged2 = staged.select("doc_id", F.array_distinct(windows_min).alias("fp"))
    return staged2.select(
        "doc_id",
        F.size("fp").cast("bigint").alias("n_fingerprints"),
        F.abs(
            F.xxhash64(F.concat_ws(",", F.transform(F.col("fp"), lambda x: x.cast("string"))))
        ).alias("fingerprint_hash"),
    )


@register(
    "c5_tfidf_top_terms",
    oracle="""
        WITH tf AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS token
            FROM documents
        ),
        tf_counts AS (
            SELECT doc_id, token, count(*) AS tf FROM tf GROUP BY doc_id, token
        ),
        df AS (
            SELECT token, count(DISTINCT doc_id) AS df FROM tf GROUP BY token
        ),
        n AS (SELECT count(*) AS n_docs FROM documents),
        scored AS (
            SELECT t.doc_id, t.token,
                   round(t.tf * ln(CAST(n.n_docs AS DOUBLE) / d.df), 6) AS tfidf
            FROM tf_counts t JOIN df d ON t.token = d.token CROSS JOIN n
        ),
        ranked AS (
            SELECT *, row_number() OVER (PARTITION BY doc_id
                       ORDER BY tfidf DESC, token) AS rk
            FROM scored
        )
        SELECT doc_id, token, tfidf FROM ranked WHERE rk <= 3
    """,
)
def c5_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5: TF-IDF top-3 terms per document, composed from hash aggregates +
    a document-frequency join + a per-doc window top-k.

    The df join carries NO broadcast hint on purpose: at test scale AQE +
    autoBroadcastJoinThreshold broadcast it anyway (plan-asserted in
    tests/test_plans.py), but on a 100 TB web corpus the token vocabulary
    (typos, URLs, code) runs to hundreds of millions of rows and a *forced*
    hint would OOM the executors instead of letting AQE fall back to a
    shuffle join. The 1-row corpus-size aggregate keeps its hint — it is
    size-bounded by construction.

    Ranking uses the *rounded* score so float last-ulp differences between
    engines can't flip the top-k cut.
    """
    d = load(spark, sf_dir, "documents")
    # corpus size joins in as a broadcast 1-row aggregate — a driver-side
    # .count() here would be a whole extra job on every invocation
    n_docs = d.agg(F.count("*").cast("double").alias("n_docs"))
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    df_ = tok.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    scored = (
        tf.join(df_, "token")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "token",
            F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6).alias("tfidf"),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("token"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "token", "tfidf")
    )


@register(
    "pipeline_llm_corpus_clean",
    oracle="""
        WITH keepers AS (
            SELECT min(doc_id) AS doc_id
            FROM documents
            GROUP BY md5(text)
        ),
        kept AS (
            SELECT d.*
            FROM documents d JOIN keepers k ON d.doc_id = k.doc_id
        ),
        quality AS (
            SELECT *,
                   len(string_split(text, ' ')) AS n_tokens,
                   CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                       / len(string_split(text, ' ')) AS distinct_ratio
            FROM kept
        )
        SELECT lang,
               count(*) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
               round(avg(distinct_ratio), 6) AS avg_diversity
        FROM quality
        WHERE n_tokens >= 20 AND distinct_ratio >= 0.3
        GROUP BY lang
    """,
)
def pipeline_llm_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Showcase: the full LLM training-corpus cleaning pipeline as ONE
    declarative plan — exact dedup (C1) → quality gate (C5) → dataset-card
    aggregation — that Catalyst executes end-to-end with no materialization
    between stages. At 100 TB the dedup shuffle carries (hash, id) pairs and
    the quality gate is a scan-level filter; the only data-sized cost is one
    pass over the corpus.
    """
    d = load(spark, sf_dir, "documents")
    keepers = d.groupBy(F.md5("text").alias("k")).agg(F.min("doc_id").alias("doc_id"))
    kept = d.join(keepers.select("doc_id"), "doc_id")
    toks = F.split("text", " ")
    quality = kept.withColumn("n_tokens", F.size(toks)).withColumn(
        "distinct_ratio", F.size(F.array_distinct(toks)) / F.size(toks)
    )
    return (
        quality.filter((F.col("n_tokens") >= 20) & (F.col("distinct_ratio") >= 0.3))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.round(F.avg("distinct_ratio"), 6).alias("avg_diversity"),
        )
    )


@register(
    "c5_sequence_packing",
    oracle="""
        WITH toks AS (
            SELECT doc_id, lang,
                   len(string_split(text, ' ')) AS n_tokens
            FROM documents
        ),
        packed AS (
            SELECT *,
                   CAST(floor(
                       (sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        - n_tokens) / 512) AS BIGINT) AS pack_id
            FROM toks
        )
        SELECT lang, pack_id,
               count(*) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS pack_tokens
        FROM packed
        GROUP BY lang, pack_id
    """,
)
def c5_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5: sequence packing — assign documents to ~512-token context-window
    packs per language via a running token count (pack = floor(prefix-sum /
    budget)). One window pass + one aggregate; deterministic doc order
    (doc_id) means stable packs across runs. At 100 TB the partition key
    (lang/shard) bounds window state; the greedy-bin-packing refinement runs
    per pack, not per corpus.
    """
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", "lang", F.size(F.split("text", " ")).alias("n_tokens"))
    w = W.partitionBy("lang").orderBy("doc_id").rowsBetween(W.unboundedPreceding, 0)
    packed = toks.withColumn(
        "pack_id",
        F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens")) / 512).cast("bigint"),
    )
    return packed.groupBy("lang", "pack_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("pack_tokens"),
    )


def _doc_ngrams(d: DataFrame, k: int = 8, extra_cols: list[str] | None = None) -> DataFrame:
    """(doc_id, [extra_cols...], grams): per-doc DISTINCT word k-gram arrays.

    The split is staged in its own projection so the n-gram transform
    references a bound column, not the split() expression (Catalyst inlines
    lambda-captured expressions per element — the O(n²) trap). Shared by the
    standalone decontamination operator and the pretrain-prep pipeline so the
    gram construction can't silently diverge between them."""
    cols = ["doc_id", *(extra_cols or [])]
    staged = d.select(*cols, F.split("text", " ").alias("w"))
    w = F.col("w")
    grams_expr = F.when(
        F.size(w) >= k,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size(w) - k),
                lambda i: F.array_join(F.slice(w, (i + 1).cast("int"), k), " "),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    return staged.select(*cols, grams_expr.alias("grams"))


def _contaminated_doc_ids(with_grams: DataFrame) -> DataFrame:
    """(doc_id): corpus docs sharing any gram with the benchmark set
    (``doc_id % 97 = 0``). Benchmark grams are DISTINCT-deduped and broadcast;
    the corpus side hits them with a LEFT SEMI join — corpus never shuffles."""
    bench = (
        with_grams.filter(F.col("doc_id") % 97 == 0)
        .select(F.explode("grams").alias("g"))
        .distinct()
    )
    return (
        with_grams.filter(F.col("doc_id") % 97 != 0)
        .select("doc_id", F.explode("grams").alias("g"))
        .join(F.broadcast(bench), on="g", how="left_semi")
        .select("doc_id")
        .distinct()
    )


@register(
    "c5_decontaminate_ngram_overlap",
    oracle="""
        WITH words AS (
            SELECT doc_id, source, string_split(text, ' ') AS w FROM documents
        ),
        grams AS (
            SELECT doc_id,
                   unnest(list_transform(
                       generate_series(1, len(w) - 7),
                       i -> array_to_string(w[i:i+7], ' '))) AS g
            FROM words WHERE len(w) >= 8
        ),
        bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0),
        corpus AS (SELECT doc_id, source FROM words WHERE doc_id % 97 <> 0),
        contaminated AS (
            SELECT DISTINCT gr.doc_id
            FROM grams gr JOIN bench b ON gr.g = b.g
            WHERE gr.doc_id % 97 <> 0
        )
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(count(c.doc_id) AS BIGINT) AS n_contaminated,
               CAST(count(*) - count(c.doc_id) AS BIGINT) AS n_clean
        FROM corpus LEFT JOIN contaminated c USING (doc_id)
        GROUP BY source
        ORDER BY source
    """,
)
def c5_decontaminate_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5: benchmark decontamination — flag corpus documents sharing any
    8-gram with a held-out set (docs with ``doc_id % 97 = 0`` stand in for
    the benchmark; a real pipeline loads eval sets here).

    The standard training-data hygiene step (n-gram-overlap decontamination
    as popularized by public LLM training reports): benchmark 8-grams are
    DISTINCT-deduped and — being tiny relative to the corpus — broadcast;
    corpus docs explode to per-doc DISTINCT grams and hit the benchmark set
    with a LEFT SEMI broadcast join, so the corpus never shuffles and the
    blowup is bounded by dedup before the join. At 100 TB the same plan holds
    with the benchmark side a broadcast bloom filter.

    Catalyst trap (see c5_fingerprint_winnow): the token array is staged in
    its own projection so the n-gram transform references a column, not the
    split() expression — inlining would re-split per gram (O(n²))."""
    d = load(spark, sf_dir, "documents")
    with_grams = _doc_ngrams(d, extra_cols=["source"])
    corpus = with_grams.filter(F.col("doc_id") % 97 != 0)
    contaminated = _contaminated_doc_ids(with_grams).withColumn("hit", F.lit(1))
    return keep_result(
        "c5_decontaminate_ngram_overlap",
        corpus.select("doc_id", "source")
        .join(contaminated, on="doc_id", how="left")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.count("hit").alias("n_contaminated"),
            (F.count("*") - F.count("hit")).alias("n_clean"),
        )
        .orderBy("source"),
    )


@register(
    "pipeline_pretrain_data_prep",
    oracle="""
        WITH dedup AS (
            SELECT doc_id, lang, text FROM (
                SELECT doc_id, lang, text,
                       row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
                FROM documents) t
            WHERE rn = 1
        ),
        words AS (
            SELECT doc_id, string_split(text, ' ') AS w FROM documents
        ),
        grams AS (
            SELECT doc_id,
                   unnest(list_transform(
                       generate_series(1, len(w) - 7),
                       i -> array_to_string(w[i:i+7], ' '))) AS g
            FROM words WHERE len(w) >= 8
        ),
        bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0),
        contaminated AS (
            SELECT DISTINCT gr.doc_id
            FROM grams gr JOIN bench b ON gr.g = b.g
            WHERE gr.doc_id % 97 <> 0
        ),
        clean AS (
            SELECT d.doc_id, d.lang,
                   len(string_split(d.text, ' ')) AS n_tokens
            FROM dedup d LEFT JOIN contaminated c ON d.doc_id = c.doc_id
            WHERE d.doc_id % 97 <> 0 AND c.doc_id IS NULL
              AND len(string_split(d.text, ' ')) BETWEEN 20 AND 1000
              AND d.lang IN ('en', 'de', 'fr', 'es')
        ),
        packed AS (
            SELECT lang, n_tokens,
                   CAST(floor((sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                         ROWS UNBOUNDED PRECEDING) - n_tokens) / 512) AS BIGINT)
                       AS pack_id
            FROM clean
        )
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(count(DISTINCT pack_id) AS BIGINT) AS n_packs,
               CAST(sum(n_tokens) AS BIGINT) AS total_tokens
        FROM packed GROUP BY lang ORDER BY lang
    """,
)
def pipeline_pretrain_data_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end pretraining data prep in ONE declarative plan, fully
    oracle-paired: exact dedup (md5 keeper) → benchmark n-gram
    decontamination → quality gates (token bounds, language allowlist) →
    512-token sequence packing → per-language corpus stats.

    Every stage is the scale-safe form of its standalone operator: the dedup
    window shuffles (16-byte key, id); benchmark grams broadcast; the packing
    window is bounded per language shard. Composing them in one plan lets
    Catalyst pipeline the filters into the dedup scan — the whole prep is
    two shuffles (md5 window, lang window) plus one broadcast join, end to
    end. This is the "could a reference user run their pipeline here"
    flagship for the LLM-data story."""
    d = load(spark, sf_dir, "documents")
    # stage 1: exact dedup, deterministic keeper
    rn = F.row_number().over(W.partitionBy(F.md5("text")).orderBy("doc_id"))
    dedup = d.withColumn("rn", rn).filter(F.col("rn") == 1).drop("rn")
    # stage 2: decontamination (grams from the RAW corpus — the benchmark set
    # must not be affected by dedup); shared helper with the standalone op
    contaminated = _contaminated_doc_ids(_doc_ngrams(d))
    # stage 3: quality + language gates
    clean = (
        dedup.filter(F.col("doc_id") % 97 != 0)
        .join(contaminated, on="doc_id", how="left_anti")
        .select(
            "doc_id", "lang", F.size(F.split("text", " ")).alias("n_tokens")
        )
        .filter(F.col("n_tokens").between(20, 1000))
        .filter(F.col("lang").isin("en", "de", "fr", "es"))
    )
    # stage 4: 512-token packing per language
    pw = W.partitionBy("lang").orderBy("doc_id").rowsBetween(W.unboundedPreceding, 0)
    packed = clean.withColumn(
        "pack_id",
        F.floor((F.sum("n_tokens").over(pw) - F.col("n_tokens")) / 512).cast("bigint"),
    )
    return keep_result(
        "pipeline_pretrain_data_prep",
        packed.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("pack_id").alias("n_packs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        )
        .orderBy("lang"),
    )


@register(
    "c5_repetition_stats",
    oracle="""
        WITH words AS (
            SELECT doc_id, w FROM (
                SELECT doc_id, unnest(string_split(text, ' ')) AS w
                FROM documents
            ) WHERE w <> ''
        ),
        wc AS (
            SELECT doc_id, w, count(*) AS c
            FROM words GROUP BY doc_id, w
        ),
        agg AS (
            SELECT doc_id,
                   CAST(sum(c) AS BIGINT)   AS n_words,
                   CAST(count(*) AS BIGINT) AS n_unique,
                   CAST(max(c) AS BIGINT)   AS top_c
            FROM wc GROUP BY doc_id
        )
        SELECT doc_id, n_words, n_unique,
               round(CAST(top_c AS DOUBLE) / n_words, 6)    AS top_word_frac,
               round(CAST(n_unique AS DOUBLE) / n_words, 6) AS unique_ratio,
               (CAST(top_c AS DOUBLE) / n_words > 0.2
                OR CAST(n_unique AS DOUBLE) / n_words < 0.3) AS repetitious
        FROM agg
    """,
)
def c5_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5: repetition-based quality signals per document (the Gopher-rule
    family: a document dominated by one token, or with a collapsed unique-
    word ratio, is boilerplate/spam and gets flagged for removal).

    Spark-first: explode → two hash aggregates (word counts, then per-doc
    rollup) — the classic wordcount shape with map-side partial aggregation,
    fully whole-stage-codegen (HOF lambdas would be interpreted per element).
    Both shuffles key on doc_id-dominated keys, so skew is bounded by the
    longest single document, not the corpus."""
    d = load(spark, sf_dir, "documents")
    words = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") != "")
    )
    wc = words.groupBy("doc_id", "w").agg(F.count("*").alias("c"))
    agg = wc.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_words"),
        F.count("*").cast("bigint").alias("n_unique"),
        F.max("c").cast("bigint").alias("top_c"),
    )
    top_frac = F.col("top_c").cast("double") / F.col("n_words")
    uniq_ratio = F.col("n_unique").cast("double") / F.col("n_words")
    return agg.select(
        "doc_id",
        "n_words",
        "n_unique",
        F.round(top_frac, 6).alias("top_word_frac"),
        F.round(uniq_ratio, 6).alias("unique_ratio"),
        ((top_frac > 0.2) | (uniq_ratio < 0.3)).alias("repetitious"),
    )


@register(
    "c5_unigram_logprob_score",
    oracle="""
        WITH toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents
        ),
        freqs AS (
            SELECT tok, count(*) AS cnt FROM toks GROUP BY tok
        ),
        tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM freqs)
        SELECT t.doc_id,
               CAST(count(*) AS BIGINT) AS n_tokens,
               round(avg(ln(CAST(f.cnt AS DOUBLE) / tot.total)), 6) AS avg_logprob
        FROM toks t
        JOIN freqs f ON t.tok = f.tok
        CROSS JOIN tot
        GROUP BY t.doc_id
    """,
)
def c5_unigram_logprob_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5: unigram-LM document scoring — mean log-probability of each doc's
    tokens under the corpus unigram distribution (the cheap stand-in for the
    perplexity-filter stage of a pretraining pipeline: improbable-token salad
    scores low, fluent text scores near the corpus mean; public recipe in
    CCNet/Gopher-style quality filtering).

    Two hash aggregates and one join, all JVM-side: token→count (the LM),
    corpus total as a broadcast 1-row agg (same pattern as TF-IDF's n_docs),
    then tokens join the LM and average per doc. The LM table is vocabulary-
    sized; Spark broadcasts it when small and shuffle-joins when not — at
    100 TB the vocabulary (even web-scale, ~1e8 types) still fits a
    shuffle-join comfortably while the token stream never collects."""
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    freqs = toks.groupBy("tok").agg(F.count("*").alias("cnt"))
    total = freqs.agg(F.sum("cnt").cast("double").alias("total"))
    logp = F.log(F.col("cnt").cast("double") / F.col("total"))
    return (
        toks.join(freqs, "tok")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.round(F.avg(logp), 6).alias("avg_logprob"),
        )
    )


@register("pipeline_corpus_release")  # rows-only: multi-stage stateful pipeline
def pipeline_corpus_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end CORPUS RELEASE — the round-5 feature set composed into the
    workflow a training-data team actually ships: exact dedup (quality
    keep-rule) → quality gate → hash split assignment → write-audit-publish
    into the versioned table → release tag. The result is a pinned,
    auditable corpus version ("train on release-1 forever") rather than a
    DataFrame that evaporates with the session.

    Self-verified at every stage: dedup output has unique fingerprints; the
    audit (run against the STAGED snapshot, pre-publish) checks row count,
    split coverage, and no empty text; publish makes exactly the audited
    state current; the release tag replays it byte-identically afterwards.

    Scale: each stage is one declarative pass (hash shuffle for dedup, scan
    filters for quality, pure-function splits); WAP publish is a metadata
    swap — the pipeline adds zero data movement beyond the dedup shuffle
    and the final write."""
    from pyspark.sql import Window as W

    from apache_iceberg_demo_spark.io import load as _load, scratch_dir
    from apache_iceberg_demo_spark.operators.sampling import hash_bucket
    from apache_iceberg_demo_spark.sources.warehouse import Warehouse, _check, _content_hash

    d = _load(spark, sf_dir, "documents")

    # 1. exact dedup, keep-best copy per content hash
    fp = F.sha2(F.concat(F.col("text"), F.lit("|"), F.col("lang")), 256)
    w = W.partitionBy(fp).orderBy(F.desc("n_chars"), F.asc("doc_id"))
    deduped = (
        d.withColumn("fp", fp)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .drop("rk")
    )
    # 2. quality gate: length band + nonempty tokens
    gated = deduped.filter(
        (F.col("n_chars") >= 60)
        & (F.col("n_chars") <= 520)
        & (F.size(F.split("text", " ")) >= 10)
    )
    # 3. deterministic split assignment
    b = hash_bucket(F.col("doc_id"))
    release = gated.withColumn(
        "split", F.when(b < 80, "train").when(b < 90, "val").otherwise("test")
    )

    # 4. WAP: stage, audit the staged snapshot, publish, tag
    wh = Warehouse(spark, scratch_dir("release_wh_", unique=True))
    t = "corpus"
    wh.create_or_replace(t, release.limit(0))  # declared schema, empty base
    snap = wh.stage_append(t, release)
    staged = wh.read(t, snapshot_id=snap["snapshot_id"])
    n_expected = release.count()
    _check(staged.count() == n_expected, "staged row count != pipeline output")
    _check(
        staged.filter(F.length("text") == 0).count() == 0, "audit: empty text"
    )
    _check(
        staged.select("split").distinct().count() == 3, "audit: missing a split"
    )
    dup = staged.groupBy("fp").count().filter(F.col("count") > 1).count()
    _check(dup == 0, "audit: duplicate fingerprints survived dedup")

    wh.publish(t, snap["snapshot_id"])
    wh.tag_snapshot(t, "release-1")
    pinned = wh.read(t, snapshot_id=wh.resolve_ref(t, "release-1"))
    _check(
        _content_hash(pinned) == _content_hash(staged),
        "release tag does not replay the audited state",
    )
    return (
        staged.groupBy("split")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
        .orderBy("split")
    )
