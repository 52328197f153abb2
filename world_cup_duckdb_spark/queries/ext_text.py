"""Text-analysis extension queries over the `documents` table.

Not reference-derived (the reference has no text ops) — these are the
training-data-pipeline operators BASELINE.json's north star calls for,
backed by operators/text.py. Oracles mirror the md5/list expressions
exactly (portable hashing — see queries/ext_dedup.py:split_bucket_sql).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from world_cup_duckdb_spark.operators.text import (
    STOPWORDS,
    counter_scores,
    fingerprint_from_shingles,
    predict_lang,
    stage_token_counts,
    tokens,
    word_shingles,
)
from world_cup_duckdb_spark.queries import register, tracked_persist
from world_cup_duckdb_spark.sources.catalog import load_tables


def _sql_list(lang: str) -> str:
    return ", ".join(f"'{w}'" for w in STOPWORDS[lang])


@register(
    "ext_token_count",
    oracle="""
    SELECT doc_id, n_chars,
           CAST(len(string_split(text, ' ')) AS INT) AS n_ws_tokens,
           CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS INT) AS n_re_tokens,
           CAST(n_chars AS DOUBLE) / len(string_split(text, ' ')) AS chars_per_token
    FROM documents
    """,
)
def ext_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + regex (BPE-ish pre-tokenizer)
    tokens + chars-per-token ratio. Pure map-side expressions; the
    whitespace split is staged to one evaluation (it feeds both the
    token count and the ratio)."""
    d = load_tables(spark, sf_dir)["documents"]
    staged = d.select(
        "doc_id", "n_chars", "text", F.size(tokens("text")).alias("__n_ws")
    )
    return staged.select(
        "doc_id",
        "n_chars",
        F.col("__n_ws").cast("int").alias("n_ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit("[a-z0-9]+"), F.lit(0)))
        .cast("int")
        .alias("n_re_tokens"),
        (F.col("n_chars") / F.col("__n_ws")).alias("chars_per_token"),
    )


@register(
    "ext_lang_id",
    oracle="""
    WITH scored AS (
      SELECT doc_id, lang,
             CAST(len(list_filter(string_split(text,' '), t -> t IN ({en}))) AS INT) AS en_score,
             CAST(len(list_filter(string_split(text,' '), t -> t IN ({es}))) AS INT) AS es_score,
             CAST(len(list_filter(string_split(text,' '), t -> t IN ({de}))) AS INT) AS de_score,
             CAST(len(list_filter(string_split(text,' '), t -> t IN ({fr}))) AS INT) AS fr_score
      FROM documents
    )
    SELECT doc_id, lang,
           CASE WHEN en_score >= es_score AND en_score >= de_score
                     AND en_score >= fr_score AND en_score > 0 THEN 'en'
                WHEN es_score >= de_score AND es_score >= fr_score
                     AND es_score > 0 THEN 'es'
                WHEN de_score >= fr_score AND de_score > 0 THEN 'de'
                WHEN fr_score > 0 THEN 'fr'
                ELSE 'und' END AS pred_lang,
           en_score, es_score, de_score, fr_score
    FROM scored
    """.format(
        en=_sql_list("en"), es=_sql_list("es"), de=_sql_list("de"), fr=_sql_list("fr")
    ),
)
def ext_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-evidence language identification (argmax with fixed tie
    order, 'und' when no evidence). A heuristic classifier: the synthetic
    corpus text is vocabulary-salad, so predictions measure the operator,
    not corpus truth.

    Scale: staged projections (operators/text.py:stage_token_counts) pin
    split(text) and each stopword filter to one evaluation per row —
    higher-order functions are outside codegen subexpression elimination,
    so the naive argmax chain re-splits the document per reference."""
    d = load_tables(spark, sf_dir)["documents"]
    counted = stage_token_counts(d, keep=("doc_id", "lang"))
    scores = counter_scores()
    return counted.select(
        "doc_id",
        "lang",
        predict_lang(scores).alias("pred_lang"),
        *[
            scores[lang].cast("int").alias(f"{lang}_score")
            for lang in ("en", "es", "de", "fr")
        ],
    )


@register(
    "ext_quality_score",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             CAST(len(string_split(text,' ')) AS INT) AS n_tokens,
             CAST(len(list_filter(string_split(text,' '), w -> w IN ({en}))) AS INT)
               AS n_stop,
             CAST(len(regexp_extract_all(text, '[.!?,;:]')) AS INT) AS n_punct,
             CAST(length(replace(text, ' ', '')) AS DOUBLE) AS n_word_chars
      FROM documents
    )
    SELECT doc_id, n_tokens, n_punct,
           n_stop / CAST(n_tokens AS DOUBLE) AS stop_ratio,
           n_word_chars / n_tokens AS avg_word_len,
           least(1.0, n_tokens / 200.0) * 0.5
             + least(1.0, (n_stop / CAST(n_tokens AS DOUBLE)) * 8.0) * 0.5
             AS quality_score
    FROM t
    """.format(en=_sql_list("en")),
)
def ext_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality scoring from length / punctuation / stopword
    ratios — the C4/Gopher-style heuristic filter shape. The score blends
    a length saturation term with a stopword-density term; both engines
    evaluate the identical double formula. Split/filter staged to one
    evaluation each (operators/text.py:stage_token_counts)."""
    d = load_tables(spark, sf_dir)["documents"]
    counted = stage_token_counts(d, keep=("doc_id",), langs=("en",), keep_text=True)
    n_tokens = F.col("n_tokens")
    stop_ratio = F.col("en_n") / n_tokens.cast("double")
    return counted.select(
        "doc_id",
        n_tokens.cast("int").alias("n_tokens"),
        F.size(F.regexp_extract_all("text", F.lit("[.!?,;:]"), F.lit(0)))
        .cast("int")
        .alias("n_punct"),
        stop_ratio.alias("stop_ratio"),
        (
            F.length(F.regexp_replace("text", " ", "")).cast("double") / n_tokens
        ).alias("avg_word_len"),
        (
            F.least(F.lit(1.0), n_tokens / F.lit(200.0)) * 0.5
            + F.least(F.lit(1.0), stop_ratio * 8.0) * 0.5
        ).alias("quality_score"),
    )


@register(
    "ext_fingerprint",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    sh AS (
      SELECT doc_id,
             CASE WHEN len(toks) >= 3
                  THEN list_transform(range(1, len(toks) - 1),
                                      i -> array_to_string(toks[i:i+2], ' '))
                  ELSE [] END AS sh
      FROM t
    )
    SELECT doc_id,
           list_min(list_transform(sh, s -> md5('0:' || s))) AS fp0,
           list_min(list_transform(sh, s -> md5('1:' || s))) AS fp1
    FROM sh
    """,
)
def ext_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: two seeded min-of-md5 rolling (3-word
    shingle) fingerprints — content-defined ids stable under reordering
    of documents, the building block for fuzzy dedup and winnowing.

    The shingle array is staged once (CollapseProject keeps the producer
    Project because the non-cheap shingle expression is referenced by
    both seeds); only the seeded md5 transforms run per fingerprint."""
    d = load_tables(spark, sf_dir)["documents"]
    toked = d.select("doc_id", tokens("text").alias("__toks"))
    staged = toked.select(
        "doc_id", word_shingles(F.col("__toks"), 3).alias("__sh")
    )
    return staged.select(
        "doc_id",
        fingerprint_from_shingles(F.col("__sh"), 0).alias("fp0"),
        fingerprint_from_shingles(F.col("__sh"), 1).alias("fp1"),
    )


@register(
    "ext_vocab_topk",
    oracle="""
    SELECT token, CAST(COUNT(*) AS BIGINT) AS n
    FROM (
      SELECT unnest(string_split(text, ' ')) AS token FROM documents
    ) t
    WHERE token <> ''
    GROUP BY token
    ORDER BY n DESC, token
    LIMIT 50
    """,
)
def ext_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: top-50 tokens by frequency — the first step of
    any tokenizer/vocab build over a training corpus.

    Scale: explode → partial map-side count → one shuffle of (token,
    partial_count) pairs (NOT of exploded tokens — Catalyst's partial
    aggregation makes shuffle volume proportional to vocabulary, not
    corpus size); TakeOrderedAndProject keeps only the top-k per
    partition. Tie-broken on token for determinism."""
    d = load_tables(spark, sf_dir)["documents"]
    return (
        d.select(F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(50)
    )


@register(
    "ext_tfidf",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token
      FROM documents
    ),
    tf AS (
      SELECT doc_id, token, COUNT(*) AS tf
      FROM toks WHERE token <> '' GROUP BY doc_id, token
    ),
    df AS (
      SELECT token, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY token
    ),
    n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents)
    SELECT tf.doc_id, tf.token,
           CAST(tf.tf AS BIGINT) AS tf,
           CAST(df.df AS BIGINT) AS df,
           -- ln quantized to DECIMAL(20,12) BEFORE the tf multiply: the
           -- engines' libm ln may differ in the last ulp, and an
           -- unquantized product can flip the 6th rounded decimal at a
           -- boundary (same discipline as ext_lm_score)
           ROUND(CAST(tf.tf * CAST(ln(CAST(n.n_docs AS DOUBLE) / df.df)
                                   AS DECIMAL(20,12)) AS DOUBLE), 6) AS tfidf
    FROM tf JOIN df ON tf.token = df.token CROSS JOIN n
    WHERE tf.tf >= 3
    """,
)
def ext_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF term weighting over the corpus (terms appearing ≥3 times
    in a document): term frequency × ln(N/document-frequency) — the
    classic relevance/quality signal a text pipeline computes before
    keyword extraction or dedup weighting.

    Scale: tf aggregates exploded tokens with map-side partials (shuffle
    ∝ distinct (doc, token), not token occurrences); df is then a
    ``count(*) over (partition by token)`` window on tf — tf rows are
    unique per (doc, token) by construction, so the per-token row count
    IS the document frequency. The window form keeps the whole query ONE
    linear pipeline: the aggregate-then-broadcast-join alternative needs
    tf materialized (two consumers), a second aggregation job, and a
    broadcast build, for the same two shuffles this plan does anyway
    (by (doc,token), then by token). Per-token partitions are bounded by
    n_docs — the same bound the groupBy form shuffles. The corpus count
    N rides along as a literal-sized broadcast."""
    from pyspark.sql import Window

    d = load_tables(spark, sf_dir)["documents"]
    toks = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    ).filter(F.col("token") != "")
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    n_docs = d.select(F.countDistinct("doc_id").alias("n_docs"))
    return (
        tf.withColumn(
            "df",
            F.count(F.lit(1)).over(Window.partitionBy("token")).cast("long"),
        )
        .crossJoin(F.broadcast(n_docs))
        .filter(F.col("tf") >= 3)
        .select(
            "doc_id",
            "token",
            "tf",
            "df",
            # ln quantized to decimal(20,12) pre-multiply: a 1-ulp libm
            # difference between engines must not reach the tf product
            # (the ext_lm_score float discipline)
            F.round(
                (
                    F.col("tf")
                    * F.log(
                        F.col("n_docs").cast("double") / F.col("df")
                    ).cast("decimal(20,12)")
                ).cast("double"),
                6,
            ).alias("tfidf"),
        )
    )


@register(
    "ext_quality_filter_pipeline",
    oracle="""
    WITH scored AS (
      SELECT doc_id, text,
             CAST(len(string_split(text,' ')) AS INT) AS n_tokens,
             CAST(len(list_filter(string_split(text,' '), w -> w IN ({en}))) AS INT)
               AS n_stop,
             CAST(len(list_filter(string_split(text,' '), t -> t IN ({en}))) AS INT) AS en_score,
             CAST(len(list_filter(string_split(text,' '), t -> t IN ({es}))) AS INT) AS es_score,
             CAST(len(list_filter(string_split(text,' '), t -> t IN ({de}))) AS INT) AS de_score,
             CAST(len(list_filter(string_split(text,' '), t -> t IN ({fr}))) AS INT) AS fr_score
      FROM documents
    ),
    decided AS (
      SELECT doc_id,
             least(1.0, n_tokens / 200.0) * 0.5
               + least(1.0, (n_stop / CAST(n_tokens AS DOUBLE)) * 8.0) * 0.5
               AS quality_score,
             CASE WHEN en_score >= es_score AND en_score >= de_score
                       AND en_score >= fr_score AND en_score > 0 THEN 'en'
                  WHEN es_score >= de_score AND es_score >= fr_score
                       AND es_score > 0 THEN 'es'
                  WHEN de_score >= fr_score AND de_score > 0 THEN 'de'
                  WHEN fr_score > 0 THEN 'fr'
                  ELSE 'und' END AS pred_lang,
             ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id)
               AS copy_nr
      FROM scored
    )
    SELECT doc_id, quality_score, pred_lang,
           copy_nr = 1 AS is_canonical,
           (quality_score >= 0.5 AND pred_lang <> 'und' AND copy_nr = 1)
             AS keep
    FROM decided
    """.format(
        en=_sql_list("en"), es=_sql_list("es"), de=_sql_list("de"), fr=_sql_list("fr")
    ),
)
def ext_quality_filter_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end training-data keep decision, composed from the
    engine's individually-verified pieces: quality threshold
    (ext_quality_score's formula) AND confident language id
    (ext_lang_id's argmax) AND exact-dedup canonical copy (first doc_id
    per md5(text)). One boolean per document — what a corpus filter
    actually emits.

    Scale: scoring and language id are pure map-side expressions; the
    only shuffle is the content-hash dedup window — uniform keys, so no
    skew; at 100 TB the same decision column drives a partitioned write
    of the kept subset. The window key is internal (never output, never
    hash-compared by the oracle, which groups by md5(text) — same groups
    because both hash text equality), so Spark uses ``xxhash64``: a JVM
    intrinsic, and an 8-byte long shuffle key instead of a 32-char hex
    string — the shuffle-width win that matters at corpus scale.

    CPU: split(text) and the five stopword filters are staged to one
    evaluation per row (operators/text.py:stage_token_counts) — the
    naive composed expression re-split every document ~20× because
    higher-order functions sit outside codegen subexpression
    elimination; staging cut the sf0.1 wall time 2.7×."""
    from pyspark.sql import Window

    d = load_tables(spark, sf_dir)["documents"]
    counted = stage_token_counts(d, keep=("doc_id",), keep_text=True)
    n_tokens = F.col("n_tokens")
    stop_ratio = F.col("en_n") / n_tokens.cast("double")
    quality = (
        F.least(F.lit(1.0), n_tokens / F.lit(200.0)) * 0.5
        + F.least(F.lit(1.0), stop_ratio * 8.0) * 0.5
    )
    pred = predict_lang(counter_scores())
    w = Window.partitionBy(F.xxhash64("text")).orderBy("doc_id")
    return (
        counted.select(
            "doc_id",
            quality.alias("quality_score"),
            pred.alias("pred_lang"),
            F.row_number().over(w).alias("copy_nr"),
        )
        .select(
            "doc_id",
            "quality_score",
            "pred_lang",
            (F.col("copy_nr") == 1).alias("is_canonical"),
            (
                (F.col("quality_score") >= 0.5)
                & (F.col("pred_lang") != "und")
                & (F.col("copy_nr") == 1)
            ).alias("keep"),
        )
    )


@register(
    "ext_repetition",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
    tc AS (
      SELECT doc_id, tok, COUNT(*) AS n
      FROM (SELECT doc_id, unnest(l) AS tok FROM t) GROUP BY doc_id, tok
    ),
    top AS (SELECT doc_id, MAX(n) AS max_n FROM tc GROUP BY doc_id),
    trc AS (
      SELECT doc_id, tri, COUNT(*) AS n
      FROM (
        SELECT doc_id,
               unnest(CASE WHEN len(l) >= 3
                           THEN list_transform(range(1, len(l) - 1),
                                               i -> array_to_string(l[i:i+2], ' '))
                           ELSE [] END) AS tri
        FROM t
      ) GROUP BY doc_id, tri
    ),
    trif AS (
      SELECT doc_id,
             SUM(CASE WHEN n >= 2 THEN n ELSE 0 END)
               / CAST(SUM(n) AS DOUBLE) AS dup_trigram_frac
      FROM trc GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(len(l) AS INT) AS n_tokens,
           len(list_distinct(l)) / CAST(len(l) AS DOUBLE) AS ttr,
           top.max_n / CAST(len(l) AS DOUBLE) AS top_token_frac,
           COALESCE(trif.dup_trigram_frac, 0.0) AS dup_trigram_frac,
           (len(list_distinct(l)) / CAST(len(l) AS DOUBLE) >= 0.2
            AND top.max_n / CAST(len(l) AS DOUBLE) <= 0.2
            AND COALESCE(trif.dup_trigram_frac, 0.0) <= 0.6) AS keep
    FROM t
    JOIN top USING (doc_id)
    LEFT JOIN trif USING (doc_id)
    """,
)
def ext_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters: type-token ratio, most-frequent-
    token mass fraction, and duplicate-trigram mass fraction, combined
    into a keep decision — the repetition family of heuristics a
    pretraining corpus filter runs alongside ext_quality_score's
    length/stopword family (Rae et al. 2021 'Scaling Language Models'
    repetition rules, re-expressed relationally).

    Scale: TWO corpus passes, not three — the type-token ratio and the
    top-token fraction both derive from the token-frequency profile
    (n_tokens = Σn, distinct = COUNT(*), max_n = MAX(n)), so the wide
    token-array projection never joins back and the corpus is scanned
    once for tokens and once for trigrams. The two frequency profiles
    shuffle (doc_id, gram) pairs with map-side partial counts, then
    reduce to one row per doc_id; content-derived keys are uniform, so
    no skew. The two doc_id-keyed sides then join on an identically-
    distributed key — AQE plans these as local joins after the first
    exchange. No Python, all codegen."""
    d = load_tables(spark, sf_dir)["documents"]
    base = d.select("doc_id", F.split("text", " ").alias("l"))
    # Explode the split EXPRESSION here, not the staged `l` attribute:
    # exploding an attribute lets InferFiltersFromGenerate add a
    # size(l) > 0 prefilter that predicate pushdown re-expands to
    # size(split(text)) > 0 at the scan — two extra split evaluations
    # per corpus row. With the expression inline the rule skips it and
    # the Generate's staging project evaluates split exactly once.
    tok_counts = (
        d.select(
            "doc_id", F.explode(F.split("text", " ")).alias("tok")
        )
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    top = tok_counts.groupBy("doc_id").agg(
        F.max("n").alias("max_n"),
        F.sum("n").alias("n_toks"),
        F.count(F.lit(1)).alias("n_distinct"),
    )
    trigrams = base.select(
        "doc_id",
        F.explode(
            F.expr(
                "CASE WHEN size(l) >= 3 THEN "
                "transform(sequence(0, size(l) - 3),"
                "          i -> concat(l[i], ' ', l[i+1], ' ', l[i+2])) "
                "ELSE array() END"
            )
        ).alias("tri"),
    )
    tri_counts = trigrams.groupBy("doc_id", "tri").agg(F.count(F.lit(1)).alias("n"))
    tri_frac = tri_counts.groupBy("doc_id").agg(
        (
            F.sum(F.when(F.col("n") >= 2, F.col("n")).otherwise(0))
            / F.sum("n").cast("double")
        ).alias("dup_trigram_frac")
    )
    n_tokens = F.col("n_toks")
    ttr = F.col("n_distinct") / n_tokens.cast("double")
    top_frac = F.col("max_n") / n_tokens.cast("double")
    dup_frac = F.coalesce("dup_trigram_frac", F.lit(0.0))
    return (
        top.join(tri_frac, "doc_id", "left")
        .select(
            "doc_id",
            n_tokens.cast("int").alias("n_tokens"),
            ttr.alias("ttr"),
            top_frac.alias("top_token_frac"),
            dup_frac.alias("dup_trigram_frac"),
            ((ttr >= 0.2) & (top_frac <= 0.2) & (dup_frac <= 0.6)).alias("keep"),
        )
    )


@register(
    "ext_bigram_topk",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(l) AS tok, generate_subscripts(l, 1) AS pos
      FROM (
        SELECT doc_id, string_split(lower(text), ' ') AS l FROM documents
      ) t
    ),
    bi AS (
      SELECT tok || ' ' || LEAD(tok) OVER (PARTITION BY doc_id ORDER BY pos)
               AS bigram
      FROM toks
    )
    SELECT bigram, CAST(COUNT(*) AS BIGINT) AS n
    FROM bi
    WHERE bigram IS NOT NULL
      AND bigram NOT LIKE ' %' AND bigram NOT LIKE '% '
    GROUP BY bigram
    ORDER BY n DESC, bigram
    LIMIT 25
    """,
)
def ext_bigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 adjacent token pairs across the corpus.

    Bigram construction is array-native — `zip_with` over the token array
    and its shifted self, entirely per-row inside whole-stage codegen.
    The oracle builds the same pairs with a LEAD window, which is what a
    naive engine would do at scale: explode to one row per token, then
    shuffle every token by doc_id to line up neighbors. The zip_with
    formulation skips that shuffle completely; the only exchange is the
    final count-by-bigram, and top-k is TakeOrderedAndProject (no global
    sort)."""
    d = load_tables(spark, sf_dir)["documents"]
    bigrams = (
        d.select(F.split(F.lower("text"), " ").alias("l"))
        .select(
            F.explode(
                F.expr(
                    "zip_with(slice(l, 1, greatest(size(l) - 1, 0)),"
                    "         slice(l, 2, greatest(size(l) - 1, 0)),"
                    "         (x, y) -> concat(x, ' ', y))"
                )
            ).alias("bigram")
        )
    )
    return (
        bigrams.filter(~F.col("bigram").startswith(" ") & ~F.col("bigram").endswith(" "))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "bigram")
        .limit(25)
    )


@register(
    "ext_lm_score",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token
      FROM documents
    ),
    tf AS (
      SELECT doc_id, token, COUNT(*) AS tf
      FROM toks WHERE token <> '' GROUP BY doc_id, token
    ),
    ct AS (SELECT token, SUM(tf) AS c FROM tf GROUP BY token),
    tot AS (SELECT CAST(SUM(c) AS DOUBLE) AS t FROM ct),
    scored AS (
      SELECT tf.doc_id,
             tf.tf,
             CAST(tf.tf AS DECIMAL(8,0))
               * CAST(ln(ct.c / tot.t) AS DECIMAL(20,12)) AS term
      FROM tf JOIN ct USING (token) CROSS JOIN tot
    )
    SELECT doc_id,
           CAST(SUM(tf) AS BIGINT) AS n_tokens,
           CAST(SUM(term) AS DOUBLE) / SUM(tf) AS avg_logprob
    FROM scored
    GROUP BY doc_id
    """,
)
def ext_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model scoring: train token probabilities on the
    corpus itself (c_token / total), then score every document by its
    per-token average log-probability — the statistical quality signal
    (low = gibberish / vocabulary-atypical) that sits between heuristic
    filters (ext_quality_score) and a real LM; the same two-pass shape
    trains on one corpus and scores another.

    Scale: pass 1 reduces exploded tokens to (doc, token) tf partials —
    persisted, because it is the train-then-score materialization every
    consumer reads (vocabulary counts, the corpus total, and the scoring
    join; unpersisted, the corpus explode re-executed 3×) — then to a
    vocabulary-sized count table; pass 2 broadcasts the vocabulary back
    over tf — the fact-sized data shuffles once.
    Determinism: each log term is quantized to DECIMAL(20,12) BEFORE
    the tf-weighted sum (widths chosen so the product stays inside
    38-digit precision — Spark silently drops scale past it), making the
    per-doc sum exact and independent of both accumulation order and
    last-ulp libm differences between engines."""
    d = load_tables(spark, sf_dir)["documents"]
    toks = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    ).filter(F.col("token") != "")
    tf = (
        toks.groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
        .transform(tracked_persist)
    )
    ct = tf.groupBy("token").agg(F.sum("tf").alias("c"))
    # Same exact integer total as summing ct; reads the cached tf instead
    # of re-running the vocabulary aggregation.
    tot = tf.agg(F.sum("tf").cast("double").alias("t"))
    scored = (
        tf.join(F.broadcast(ct), "token")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            "tf",
            (
                F.col("tf").cast("decimal(8,0)")
                * F.log(F.col("c") / F.col("t")).cast("decimal(20,12)")
            ).alias("term"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.sum("tf").cast("bigint").alias("n_tokens"),
        (F.sum("term").cast("double") / F.sum("tf")).alias("avg_logprob"),
    )


_PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PII_PHONE = "[0-9]{3}-[0-9]{3}-[0-9]{4}"
_PII_IP = "([0-9]{1,3}\\.){3}[0-9]{1,3}"


@register(
    "ext_pii_redact",
    oracle=f"""
    WITH aug AS (
      SELECT doc_id,
             text
             || CASE WHEN doc_id % 7 = 0
                     THEN ' contact user' || CAST(doc_id AS VARCHAR)
                          || '@example.com now' ELSE '' END
             || CASE WHEN doc_id % 11 = 0
                     THEN ' call 555-'
                          || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                          || '-0199' ELSE '' END
             || CASE WHEN doc_id % 13 = 0
                     THEN ' host 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                          || '.1' ELSE '' END AS text
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_PII_EMAIL}')) AS INT)
             AS n_emails,
           CAST(len(regexp_extract_all(text, '{_PII_PHONE}')) AS INT)
             AS n_phones,
           CAST(len(regexp_extract_all(text, '{_PII_IP}')) AS INT) AS n_ips,
           md5(regexp_replace(regexp_replace(regexp_replace(text,
               '{_PII_EMAIL}', '<EMAIL>', 'g'),
               '{_PII_PHONE}', '<PHONE>', 'g'),
               '{_PII_IP}', '<IP>', 'g')) AS redacted_md5
    FROM aug
    WHERE doc_id % 7 = 0 OR doc_id % 11 = 0 OR doc_id % 13 = 0
    """,
)
def ext_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction — the scrub pass every training-data
    pipeline runs before anything ships: count emails / phone numbers /
    IPv4 addresses per document, and emit the md5 of the fully redacted
    text (each class replaced by its '<CLASS>' token).

    The fixture corpus is synthetic word soup with no natural PII, so
    both engines deterministically enrich the same doc_id-keyed subset
    with synthetic PII first (id-derived email / phone / IP appended to
    the text) — the detector is then exercised against real positives
    AND the untouched negatives, and the hash-checked redacted_md5
    proves byte-identical redaction, not just equal counts. Patterns use
    the regex intersection of Java (Spark) and RE2 (DuckDB): character
    classes, bounded repetition, no lookaround.

    Scale: embarrassingly parallel scan — regexp count/replace + md5 run
    inside whole-stage codegen, no shuffle at all; at 100 TB this is a
    map-only pass whose output feeds a partitioned write."""
    d = load_tables(spark, sf_dir)["documents"]
    aug = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com now"),
                ),
            ).otherwise(""),
            F.when(
                F.col("doc_id") % 11 == 0,
                F.concat(
                    F.lit(" call 555-"),
                    F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
                    F.lit("-0199"),
                ),
            ).otherwise(""),
            F.when(
                F.col("doc_id") % 13 == 0,
                F.concat(
                    F.lit(" host 10.0."),
                    (F.col("doc_id") % 256).cast("string"),
                    F.lit(".1"),
                ),
            ).otherwise(""),
        ).alias("text"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), _PII_EMAIL, "<EMAIL>"),
            _PII_PHONE,
            "<PHONE>",
        ),
        _PII_IP,
        "<IP>",
    )
    return (
        aug.filter(
            (F.col("doc_id") % 7 == 0)
            | (F.col("doc_id") % 11 == 0)
            | (F.col("doc_id") % 13 == 0)
        )
        .select(
            "doc_id",
            F.size(F.regexp_extract_all(F.col("text"), F.lit(_PII_EMAIL), 0))
            .cast("int")
            .alias("n_emails"),
            F.size(F.regexp_extract_all(F.col("text"), F.lit(_PII_PHONE), 0))
            .cast("int")
            .alias("n_phones"),
            F.size(F.regexp_extract_all(F.col("text"), F.lit(_PII_IP), 0))
            .cast("int")
            .alias("n_ips"),
            F.md5(redacted).alias("redacted_md5"),
        )
    )


_URL_HOST = "https?://([A-Za-z0-9.-]+)"


@register(
    "ext_url_filter",
    oracle=f"""
    WITH aug AS (
      SELECT doc_id,
             text || ' see https://site'
                  || CAST(doc_id % 20 AS VARCHAR)
                  || '.example.org/page/' || CAST(doc_id AS VARCHAR) AS text
      FROM documents WHERE doc_id % 3 = 0
    ),
    hosts AS (
      SELECT doc_id, regexp_extract(text, '{_URL_HOST}', 1) AS host
      FROM aug
    ),
    blocklist AS (
      SELECT * FROM (VALUES ('site1.example.org'), ('site4.example.org'),
                            ('site7.example.org'), ('site13.example.org'),
                            ('site19.example.org')) AS t(bad_host)
    )
    SELECT h.doc_id, h.host,
           b.bad_host IS NOT NULL AS blocked,
           b.bad_host IS NULL AS keep
    FROM hosts h LEFT JOIN blocklist b ON h.host = b.bad_host
    """,
)
def ext_url_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL/domain blocklist filtering — the crawl-hygiene gate every web
    corpus passes through before training: extract each document's host
    and drop documents from blocklisted domains.

    The corpus has no natural URLs, so both engines append the same
    doc_id-derived URL first (the ext_pii_redact enrichment pattern);
    the host comes out of one regexp_extract group (identical pattern,
    Java/RE2 intersection) and the block decision is a broadcast left
    join against the literal blocklist dimension.

    Scale: the blocklist is the canonical broadcast dim (real ones are
    ~10⁵ domains ≪ corpus); the fact side is one map-side pass — extract,
    probe, flag — with no shuffle of documents at all. At 100 TB the
    same keep column drives the partitioned write of the retained
    subset."""
    d = load_tables(spark, sf_dir)["documents"]
    aug = d.filter(F.col("doc_id") % 3 == 0).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" see https://site"),
            (F.col("doc_id") % 20).cast("string"),
            F.lit(".example.org/page/"),
            F.col("doc_id").cast("string"),
        ).alias("text"),
    )
    hosts = aug.select(
        "doc_id", F.regexp_extract("text", _URL_HOST, 1).alias("host")
    )
    blocklist = spark.createDataFrame(
        [(f"site{n}.example.org",) for n in (1, 4, 7, 13, 19)],
        "bad_host string",
    )
    return hosts.join(
        F.broadcast(blocklist), hosts["host"] == blocklist["bad_host"], "left"
    ).select(
        "doc_id",
        "host",
        F.col("bad_host").isNotNull().alias("blocked"),
        F.col("bad_host").isNull().alias("keep"),
    )


@register(
    "ext_source_similarity",
    oracle="""
    WITH tc AS (
      SELECT source, token, CAST(COUNT(*) AS BIGINT) AS n
      FROM (
        SELECT source, unnest(string_split(text, ' ')) AS token
        FROM documents
      ) WHERE token <> ''
      GROUP BY 1, 2
    ),
    norms AS (
      SELECT source, CAST(SUM(n * n) AS BIGINT) AS n2 FROM tc GROUP BY 1
    ),
    pairs AS (
      SELECT a.source AS source_a, b.source AS source_b,
             CAST(SUM(a.n * b.n) AS BIGINT) AS dot,
             CAST(COUNT(*) AS BIGINT) AS n_shared_tokens
      FROM tc a JOIN tc b ON a.token = b.token AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT p.source_a, p.source_b, p.n_shared_tokens,
           p.dot / (sqrt(CAST(x.n2 AS DOUBLE)) * sqrt(CAST(y.n2 AS DOUBLE)))
             AS cosine
    FROM pairs p
    JOIN norms x ON x.source = p.source_a
    JOIN norms y ON y.source = p.source_b
    """,
)
def ext_source_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-mix analysis: pairwise unigram cosine similarity between
    sources — the domain-similarity matrix a pretraining mixing strategy
    reads before setting corpus weights (near-identical sources are
    redundant; distant ones add coverage).

    Scale: ONE corpus pass reduces to the (source, token) count relation
    (vocabulary × |sources| rows, persisted); the token self-join fans
    out at most |sources|² rows per token — bounded by the handful of
    sources regardless of corpus size — and every statistic is an exact
    integer until the final IEEE division/sqrt, so the matrix is
    bit-identical cross-engine with no rounding."""
    d = load_tables(spark, sf_dir)["documents"]
    tc = (
        d.select("source", F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .transform(tracked_persist)
    )
    norms = tc.groupBy("source").agg(
        F.sum(F.col("n") * F.col("n")).cast("long").alias("n2")
    )
    a = tc.select(
        F.col("source").alias("source_a"),
        "token",
        F.col("n").alias("na"),
    )
    b = tc.select(
        F.col("source").alias("source_b"),
        "token",
        F.col("n").alias("nb"),
    )
    pairs = (
        a.join(b, "token")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(
            F.sum(F.col("na") * F.col("nb")).cast("long").alias("dot"),
            F.count(F.lit(1)).cast("long").alias("n_shared_tokens"),
        )
    )
    nx = norms.select(
        F.col("source").alias("source_a"), F.col("n2").alias("x2")
    )
    ny = norms.select(
        F.col("source").alias("source_b"), F.col("n2").alias("y2")
    )
    return (
        pairs.join(F.broadcast(nx), "source_a")
        .join(F.broadcast(ny), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared_tokens",
            (
                F.col("dot")
                / (
                    F.sqrt(F.col("x2").cast("double"))
                    * F.sqrt(F.col("y2").cast("double"))
                )
            ).alias("cosine"),
        )
    )


# The three deterministic labeling functions shared by the weak-label
# keys (vote report + chance-corrected agreement): keep(+1)/drop(−1)/
# abstain(0) on length, token diversity, and digit density. Ratios are
# integer cross-multiplications so votes are exact in both engines.
def _weak_lfs():
    toks = F.split("text", " ")
    lf_length = (
        F.when(F.col("n_chars") >= 500, 1)
        .when(F.col("n_chars") < 100, -1)
        .otherwise(0)
    )
    lf_diversity = (
        F.when(F.size(F.array_distinct(toks)) * 10 >= F.size(toks) * 6, 1)
        .when(F.size(F.array_distinct(toks)) * 10 < F.size(toks) * 3, -1)
        .otherwise(0)
    )
    lf_digits = F.when(
        F.size(F.expr("regexp_extract_all(text, '[0-9]', 0)")) * 10
        > F.col("n_chars") * 3,
        -1,
    ).otherwise(0)
    return lf_length, lf_diversity, lf_digits


# DuckDB mirror of _weak_lfs, shared by the weak-label oracles.
_LF_SQL = """
      SELECT doc_id,
             CASE WHEN n_chars >= 500 THEN 1
                  WHEN n_chars < 100 THEN -1 ELSE 0 END AS lf_length,
             CASE WHEN len(list_distinct(string_split(text, ' '))) * 10
                       >= len(string_split(text, ' ')) * 6 THEN 1
                  WHEN len(list_distinct(string_split(text, ' '))) * 10
                       < len(string_split(text, ' ')) * 3 THEN -1
                  ELSE 0 END AS lf_diversity,
             CASE WHEN len(regexp_extract_all(text, '[0-9]')) * 10
                       > n_chars * 3 THEN -1 ELSE 0 END AS lf_digits
      FROM documents
"""


@register(
    "ext_weak_label_vote",
    oracle="""
    WITH lf AS (
      SELECT doc_id,
             CASE WHEN n_chars >= 500 THEN 1
                  WHEN n_chars < 100 THEN -1 ELSE 0 END AS lf_length,
             CASE WHEN len(list_distinct(string_split(text, ' '))) * 10
                       >= len(string_split(text, ' ')) * 6 THEN 1
                  WHEN len(list_distinct(string_split(text, ' '))) * 10
                       < len(string_split(text, ' ')) * 3 THEN -1
                  ELSE 0 END AS lf_diversity,
             CASE WHEN len(regexp_extract_all(text, '[0-9]')) * 10
                       > n_chars * 3 THEN -1 ELSE 0 END AS lf_digits
      FROM documents
    ),
    voted AS (
      SELECT doc_id, lf_length, lf_diversity, lf_digits,
             CASE WHEN lf_length + lf_diversity + lf_digits > 0 THEN 1
                  WHEN lf_length + lf_diversity + lf_digits < 0 THEN -1
                  ELSE 0 END AS majority
      FROM lf
    ),
    stacked AS (
      SELECT doc_id, 'length' AS lf, lf_length AS vote, majority FROM voted
      UNION ALL
      SELECT doc_id, 'diversity', lf_diversity, majority FROM voted
      UNION ALL
      SELECT doc_id, 'digits', lf_digits, majority FROM voted
    )
    SELECT lf,
           CAST(SUM(CASE WHEN vote = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_keep,
           CAST(SUM(CASE WHEN vote = -1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_drop,
           CAST(SUM(CASE WHEN vote = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_abstain,
           CAST(SUM(CASE WHEN vote <> 0 AND vote = majority
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_agree_majority,
           CAST(SUM(CASE WHEN vote <> 0 AND majority <> 0
                         AND vote <> majority THEN 1 ELSE 0 END) AS BIGINT)
             AS n_conflict
    FROM stacked GROUP BY lf
    """,
)
def ext_weak_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weak-supervision vote aggregation (Snorkel-style programmatic
    labeling, Ratner et al., VLDB 2018): three deterministic labeling
    functions vote keep(+1)/drop(−1)/abstain(0) on every document —
    length (n_chars thresholds), token diversity (distinct/total ratio
    as an INTEGER cross-multiplication, no float division), digit
    density (digit count vs n_chars, same trick) — and the per-LF
    diagnostic report (coverage, agreement with the simple-majority
    label, conflicts) is what a pipeline owner reads before trusting a
    label model. This is the bootstrap stage for the quality-classifier
    training data that feeds `ext_quality_filter_pipeline`.

    Scale: LF evaluation is pure map-side row expressions; the stack is
    a 3× map-side unpivot; the report is one hash aggregate to 3 rows.
    Determinism: every rule is integer comparisons (ratios as
    cross-multiplications), so votes, majorities, and counts are exact
    in both engines."""
    d = load_tables(spark, sf_dir)["documents"]
    lf_length, lf_diversity, lf_digits = _weak_lfs()
    voted = d.select(
        lf_length.alias("lf_length"),
        lf_diversity.alias("lf_diversity"),
        lf_digits.alias("lf_digits"),
    ).withColumn(
        "majority",
        F.when(
            F.col("lf_length") + F.col("lf_diversity") + F.col("lf_digits") > 0, 1
        )
        .when(
            F.col("lf_length") + F.col("lf_diversity") + F.col("lf_digits") < 0, -1
        )
        .otherwise(0),
    )
    stacked = voted.selectExpr(
        "stack(3, 'length', lf_length, 'diversity', lf_diversity,"
        " 'digits', lf_digits) AS (lf, vote)",
        "majority",
    )
    return stacked.groupBy("lf").agg(
        F.sum((F.col("vote") == 1).cast("bigint")).alias("n_keep"),
        F.sum((F.col("vote") == -1).cast("bigint")).alias("n_drop"),
        F.sum((F.col("vote") == 0).cast("bigint")).alias("n_abstain"),
        F.sum(
            ((F.col("vote") != 0) & (F.col("vote") == F.col("majority")))
            .cast("bigint")
        ).alias("n_agree_majority"),
        F.sum(
            (
                (F.col("vote") != 0)
                & (F.col("majority") != 0)
                & (F.col("vote") != F.col("majority"))
            ).cast("bigint")
        ).alias("n_conflict"),
    )


@register(
    "ext_agreement_kappa",
    oracle=f"""
    WITH lf AS ({_LF_SQL}),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(CASE WHEN lf_length = lf_diversity THEN 1 ELSE 0 END)
                  AS BIGINT) AS agree_ld,
             CAST(SUM(CASE WHEN lf_length = lf_digits THEN 1 ELSE 0 END)
                  AS BIGINT) AS agree_lg,
             CAST(SUM(CASE WHEN lf_diversity = lf_digits THEN 1 ELSE 0 END)
                  AS BIGINT) AS agree_dg,
             CAST(SUM(CASE WHEN lf_length = -1 THEN 1 ELSE 0 END) AS BIGINT) AS l_m1,
             CAST(SUM(CASE WHEN lf_length = 0 THEN 1 ELSE 0 END) AS BIGINT) AS l_z,
             CAST(SUM(CASE WHEN lf_length = 1 THEN 1 ELSE 0 END) AS BIGINT) AS l_p1,
             CAST(SUM(CASE WHEN lf_diversity = -1 THEN 1 ELSE 0 END) AS BIGINT) AS d_m1,
             CAST(SUM(CASE WHEN lf_diversity = 0 THEN 1 ELSE 0 END) AS BIGINT) AS d_z,
             CAST(SUM(CASE WHEN lf_diversity = 1 THEN 1 ELSE 0 END) AS BIGINT) AS d_p1,
             CAST(SUM(CASE WHEN lf_digits = -1 THEN 1 ELSE 0 END) AS BIGINT) AS g_m1,
             CAST(SUM(CASE WHEN lf_digits = 0 THEN 1 ELSE 0 END) AS BIGINT) AS g_z,
             CAST(SUM(CASE WHEN lf_digits = 1 THEN 1 ELSE 0 END) AS BIGINT) AS g_p1
      FROM lf
    ),
    stacked AS (
      SELECT 'length' AS lf_a, 'diversity' AS lf_b, n_docs,
             agree_ld AS n_agree,
             l_m1 * d_m1 + l_z * d_z + l_p1 * d_p1 AS pe_num
      FROM agg
      UNION ALL
      SELECT 'length', 'digits', n_docs, agree_lg,
             l_m1 * g_m1 + l_z * g_z + l_p1 * g_p1
      FROM agg
      UNION ALL
      SELECT 'diversity', 'digits', n_docs, agree_dg,
             d_m1 * g_m1 + d_z * g_z + d_p1 * g_p1
      FROM agg
    ),
    probs AS (
      SELECT lf_a, lf_b, n_docs, n_agree,
             CAST(n_agree AS DOUBLE) / CAST(n_docs AS DOUBLE) AS po,
             CAST(pe_num AS DOUBLE)
               / (CAST(n_docs AS DOUBLE) * CAST(n_docs AS DOUBLE)) AS pe
      FROM stacked
    )
    SELECT lf_a, lf_b, n_docs, n_agree, po, pe,
           (po - pe) / (CAST(1 AS DOUBLE) - pe) AS kappa
    FROM probs
    """,
)
def ext_agreement_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Cohen's kappa between the three weak-supervision labeling
    functions (same LFs as ext_weak_label_vote, votes in {-1, 0, +1}
    treated as three categories including abstain): chance-corrected
    agreement kappa = (po - pe) / (1 - pe), where po is observed
    agreement and pe the product-of-marginals chance agreement. This is
    the diagnostic that tells a labeling-pipeline owner whether two LFs
    are redundant (kappa near 1), independent signals (near 0), or
    systematically opposed (negative) — raw agreement (ext_weak_label_
    vote's n_agree_majority) can't distinguish chance from signal.

    Scale: one corpus pass folds every vote into a SINGLE 13-counter
    hash-aggregate row (map-side partials; nothing corpus-sized ever
    shuffles); the 3 pair rows are a stack over that row. Determinism:
    all counters and the pe numerators are exact integers; po and pe are
    each ONE IEEE divide, kappa one subtract/divide in fixed written
    order — bit-identical cross-engine."""
    d = load_tables(spark, sf_dir)["documents"]
    lf_length, lf_diversity, lf_digits = _weak_lfs()
    votes = d.select(
        lf_length.alias("vl"), lf_diversity.alias("vd"), lf_digits.alias("vg")
    )

    def _marg(col: str, tag: str):
        return [
            F.count_if(F.col(col) == j).cast("bigint").alias(f"{tag}_{n}")
            for j, n in ((-1, "m1"), (0, "z"), (1, "p1"))
        ]

    agg = votes.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.count_if(F.col("vl") == F.col("vd")).cast("bigint").alias("agree_ld"),
        F.count_if(F.col("vl") == F.col("vg")).cast("bigint").alias("agree_lg"),
        F.count_if(F.col("vd") == F.col("vg")).cast("bigint").alias("agree_dg"),
        *_marg("vl", "l"),
        *_marg("vd", "d"),
        *_marg("vg", "g"),
    )
    stacked = agg.selectExpr(
        "n_docs",
        "stack(3,"
        " 'length', 'diversity', agree_ld,"
        "   l_m1 * d_m1 + l_z * d_z + l_p1 * d_p1,"
        " 'length', 'digits', agree_lg,"
        "   l_m1 * g_m1 + l_z * g_z + l_p1 * g_p1,"
        " 'diversity', 'digits', agree_dg,"
        "   d_m1 * g_m1 + d_z * g_z + d_p1 * g_p1"
        ") AS (lf_a, lf_b, n_agree, pe_num)",
    )
    probs = stacked.select(
        "lf_a",
        "lf_b",
        "n_docs",
        "n_agree",
        (F.col("n_agree").cast("double") / F.col("n_docs").cast("double"))
        .alias("po"),
        (
            F.col("pe_num").cast("double")
            / (F.col("n_docs").cast("double") * F.col("n_docs").cast("double"))
        ).alias("pe"),
    )
    return probs.select(
        "lf_a",
        "lf_b",
        "n_docs",
        "n_agree",
        "po",
        "pe",
        ((F.col("po") - F.col("pe")) / (F.lit(1).cast("double") - F.col("pe")))
        .alias("kappa"),
    )


@register(
    "ext_corpus_datacard",
    oracle="""
    WITH g AS (
      SELECT source, lang,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS chars,
             CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS toks,
             CAST(SUM(len(regexp_extract_all(text, '[0-9]'))) AS BIGINT)
               AS digits,
             CAST(SUM(CASE WHEN n_chars < 100 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_short,
             CAST(SUM(CASE WHEN n_chars >= 1000 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_long
      FROM documents GROUP BY source, lang
    ),
    tots AS (
      SELECT CAST(SUM(n_docs) AS BIGINT) AS n_docs,
             CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
             CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
             CAST(SUM(chars) AS BIGINT) AS chars,
             CAST(SUM(toks) AS BIGINT) AS toks,
             CAST(SUM(digits) AS BIGINT) AS digits,
             CAST(SUM(n_short) AS BIGINT) AS n_short,
             CAST(SUM(n_long) AS BIGINT) AS n_long
      FROM g
    ),
    srcmax AS (
      SELECT CAST(MAX(n) AS BIGINT) AS max_src FROM (
        SELECT SUM(n_docs) AS n FROM g GROUP BY source)
    ),
    langmax AS (
      SELECT CAST(MAX(n) AS BIGINT) AS max_lang FROM (
        SELECT SUM(n_docs) AS n FROM g GROUP BY lang)
    ),
    dup AS (
      SELECT CAST(SUM(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_groups,
             CAST(SUM(c - 1) AS BIGINT) AS n_dup_docs
      FROM (SELECT COUNT(*) AS c FROM documents GROUP BY md5(text))
    )
    SELECT section, metric, value FROM (
      SELECT 'size' AS section, 'n_docs' AS metric,
             CAST(n_docs AS DOUBLE) AS value FROM tots
      UNION ALL SELECT 'size', 'n_sources', CAST(n_sources AS DOUBLE) FROM tots
      UNION ALL SELECT 'size', 'n_langs', CAST(n_langs AS DOUBLE) FROM tots
      UNION ALL SELECT 'size', 'total_chars', CAST(chars AS DOUBLE) FROM tots
      UNION ALL SELECT 'size', 'total_tokens', CAST(toks AS DOUBLE) FROM tots
      UNION ALL SELECT 'length', 'mean_chars_per_doc',
                 CAST(chars AS DOUBLE) / CAST(n_docs AS DOUBLE) FROM tots
      UNION ALL SELECT 'length', 'pct_short_lt100',
                 CAST(n_short AS DOUBLE) / CAST(n_docs AS DOUBLE) FROM tots
      UNION ALL SELECT 'length', 'pct_long_ge1000',
                 CAST(n_long AS DOUBLE) / CAST(n_docs AS DOUBLE) FROM tots
      UNION ALL SELECT 'quality', 'mean_tokens_per_doc',
                 CAST(toks AS DOUBLE) / CAST(n_docs AS DOUBLE) FROM tots
      UNION ALL SELECT 'quality', 'digit_char_pct',
                 CAST(digits AS DOUBLE) / CAST(chars AS DOUBLE) FROM tots
      UNION ALL SELECT 'dup', 'n_dup_groups',
                 CAST(n_dup_groups AS DOUBLE) FROM dup
      UNION ALL SELECT 'dup', 'n_dup_docs', CAST(n_dup_docs AS DOUBLE) FROM dup
      UNION ALL SELECT 'dup', 'exact_dup_rate',
                 CAST(d.n_dup_docs AS DOUBLE) / CAST(gl.n_docs AS DOUBLE)
                 FROM dup d CROSS JOIN tots gl
      UNION ALL SELECT 'mix', 'top_source_share',
                 CAST(s.max_src AS DOUBLE) / CAST(gl.n_docs AS DOUBLE)
                 FROM srcmax s CROSS JOIN tots gl
      UNION ALL SELECT 'mix', 'top_lang_share',
                 CAST(l.max_lang AS DOUBLE) / CAST(gl.n_docs AS DOUBLE)
                 FROM langmax l CROSS JOIN tots gl
    )
    """,
)
def ext_corpus_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus data card: the one-table summary a dataset release ships
    with (Gebru et al., "Datasheets for Datasets") — size, length
    distribution, quality proxies, exact-duplication, and mixture
    concentration, as tall (section, metric, value) rows.

    Scale: TWO corpus passes total. Pass 1 groups by (source, lang) —
    a bounded-cardinality hash aggregate with map-side partials carrying
    SIX integer counters; every downstream number (global counters,
    per-source and per-lang concentration maxima, distinct counts)
    derives from that ≤|sources|·|langs| relation without touching the
    corpus again. Pass 2 is the md5(text) exact-dup group count (uniform
    hash keys, the ext_dedup_exact shuffle). No corpus-grain window, no
    join on corpus rows, no Python.

    Determinism: all counters are exact int64 (< 2^53, so the double
    casts are lossless); each ratio is ONE IEEE divide of two exact
    integers."""
    d = load_tables(spark, sf_dir)["documents"]
    # Persist the bounded (source, lang) partials: THREE consumers
    # (global counters, per-source max, per-lang max) would otherwise
    # each re-derive the aggregate — and the 15-branch stack below would
    # multiply that into 15 full corpus scans (observed: 120 parquet
    # scans in the naive plan). With the cut, documents is scanned
    # exactly twice: once here, once by the dup pass.
    # Aggregates as expr strings — one py4j round trip per aggregate
    # list instead of a Column-builder call per node (the
    # minhash_signatures r12 rationale; this query is stateful around
    # the g persist, so the plan rebuild is paid every run).
    g = d.groupBy("source", "lang").agg(
        F.expr("CAST(count(1) AS BIGINT) AS n_docs"),
        F.expr("CAST(sum(n_chars) AS BIGINT) AS chars"),
        F.expr("CAST(sum(size(split(text, ' '))) AS BIGINT) AS toks"),
        F.expr(
            "CAST(sum(size(regexp_extract_all(text, '[0-9]', 0)))"
            " AS BIGINT) AS digits"
        ),
        F.expr("CAST(count_if(n_chars < 100) AS BIGINT) AS n_short"),
        F.expr("CAST(count_if(n_chars >= 1000) AS BIGINT) AS n_long"),
    ).transform(tracked_persist)
    glob = g.agg(
        F.expr("CAST(sum(n_docs) AS BIGINT) AS n_docs"),
        F.expr("CAST(count(DISTINCT source) AS BIGINT) AS n_sources"),
        F.expr("CAST(count(DISTINCT lang) AS BIGINT) AS n_langs"),
        F.expr("CAST(sum(chars) AS BIGINT) AS chars"),
        F.expr("CAST(sum(toks) AS BIGINT) AS toks"),
        F.expr("CAST(sum(digits) AS BIGINT) AS digits"),
        F.expr("CAST(sum(n_short) AS BIGINT) AS n_short"),
        F.expr("CAST(sum(n_long) AS BIGINT) AS n_long"),
    )
    srcmax = (
        g.groupBy("source")
        .agg(F.expr("sum(n_docs) AS n"))
        .agg(F.expr("CAST(max(n) AS BIGINT) AS max_src"))
    )
    langmax = (
        g.groupBy("lang")
        .agg(F.expr("sum(n_docs) AS n"))
        .agg(F.expr("CAST(max(n) AS BIGINT) AS max_lang"))
    )
    dup = (
        d.groupBy(F.expr("md5(text) AS h"))
        .agg(F.expr("count(1) AS c"))
        .agg(
            F.expr("CAST(count_if(c >= 2) AS BIGINT) AS n_dup_groups"),
            F.expr("CAST(sum(c - 1) AS BIGINT) AS n_dup_docs"),
        )
    )
    one = (
        glob.crossJoin(F.broadcast(srcmax))
        .crossJoin(F.broadcast(langmax))
        .crossJoin(F.broadcast(dup))
    )
    # ONE stack() Generate over the single assembled row — 15 union
    # branches would re-execute the whole aggregate chain per branch.
    dd = "CAST({} AS DOUBLE)"
    cells = [
        ("size", "n_docs", dd.format("n_docs")),
        ("size", "n_sources", dd.format("n_sources")),
        ("size", "n_langs", dd.format("n_langs")),
        ("size", "total_chars", dd.format("chars")),
        ("size", "total_tokens", dd.format("toks")),
        ("length", "mean_chars_per_doc",
         "CAST(chars AS DOUBLE) / CAST(n_docs AS DOUBLE)"),
        ("length", "pct_short_lt100",
         "CAST(n_short AS DOUBLE) / CAST(n_docs AS DOUBLE)"),
        ("length", "pct_long_ge1000",
         "CAST(n_long AS DOUBLE) / CAST(n_docs AS DOUBLE)"),
        ("quality", "mean_tokens_per_doc",
         "CAST(toks AS DOUBLE) / CAST(n_docs AS DOUBLE)"),
        ("quality", "digit_char_pct",
         "CAST(digits AS DOUBLE) / CAST(chars AS DOUBLE)"),
        ("dup", "n_dup_groups", dd.format("n_dup_groups")),
        ("dup", "n_dup_docs", dd.format("n_dup_docs")),
        ("dup", "exact_dup_rate",
         "CAST(n_dup_docs AS DOUBLE) / CAST(n_docs AS DOUBLE)"),
        ("mix", "top_source_share",
         "CAST(max_src AS DOUBLE) / CAST(n_docs AS DOUBLE)"),
        ("mix", "top_lang_share",
         "CAST(max_lang AS DOUBLE) / CAST(n_docs AS DOUBLE)"),
    ]
    args = ", ".join(
        f"'{sec}', '{met}', {expr}" for sec, met, expr in cells
    )
    return one.selectExpr(
        f"stack({len(cells)}, {args}) AS (section, metric, value)"
    )


from world_cup_duckdb_spark.queries import REGISTRY as _REG  # noqa: E402

_LANGID_SQL = _REG["ext_lang_id"].oracle


@register(
    "ext_langid_confusion",
    oracle=f"""
    WITH pred AS ({_LANGID_SQL}),
    cm AS (
      SELECT lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM pred GROUP BY lang, pred_lang
    ),
    tot AS (
      SELECT lang, CAST(SUM(n_docs) AS BIGINT) AS gold_total FROM cm
      GROUP BY lang
    )
    SELECT c.lang, c.pred_lang, c.n_docs, t.gold_total,
           CAST(c.n_docs AS DOUBLE) / CAST(t.gold_total AS DOUBLE) AS share,
           c.lang = c.pred_lang AS is_correct
    FROM cm c JOIN tot t ON t.lang = c.lang
    """,
)
def ext_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix: the stopword-evidence classifier
    (ext_lang_id, reused verbatim — same staged projections, same argmax
    tie order) judged against the corpus's GOLD ``lang`` labels, as
    (gold, predicted) cells with per-gold share. This is the eval table
    a pipeline owner reads before trusting the lang filter at corpus
    scale: which languages leak into which, and what fraction of each
    gold language the heuristic recovers.

    Scale: the classifier pass is the existing one-scan map-side
    pipeline; the confusion reduce is a ≤|langs|²-key hash aggregate
    with map-side partials, and the per-gold totals join runs on the
    bounded cell relation. Determinism: integer cells, one divide per
    cell; the oracle composes ext_lang_id's own SQL so classifier and
    eval can never drift apart."""
    d = load_tables(spark, sf_dir)["documents"]
    counted = stage_token_counts(d, keep=("doc_id", "lang"))
    pred = counted.select(
        "lang", predict_lang(counter_scores()).alias("pred_lang")
    )
    # Persist the bounded confusion cells: the per-gold total and the
    # final join would otherwise each re-run the classifier corpus pass.
    cm = pred.groupBy("lang", "pred_lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    ).transform(tracked_persist)
    tot = cm.groupBy("lang").agg(
        F.sum("n_docs").cast("bigint").alias("gold_total")
    )
    return cm.join(F.broadcast(tot), "lang").select(
        "lang",
        "pred_lang",
        "n_docs",
        "gold_total",
        (F.col("n_docs").cast("double") / F.col("gold_total").cast("double"))
        .alias("share"),
        (F.col("lang") == F.col("pred_lang")).alias("is_correct"),
    )


@register(
    "ext_hapax_stats",
    oracle="""
    WITH occ AS (
      SELECT doc_id, t AS token
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t
            FROM documents)
      WHERE t <> ''
    ),
    vocab AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS c,
             CAST(MAX(doc_id) AS BIGINT) AS owner
      FROM occ GROUP BY token
    ),
    hapax AS (
      SELECT owner AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_hapax
      FROM vocab WHERE c = 1 GROUP BY owner
    ),
    base AS (
      SELECT d.doc_id,
             CAST(len(list_filter(string_split(d.text, ' '), t -> t <> ''))
                  AS BIGINT) AS n_tokens,
             COALESCE(h.n_hapax, 0) AS n_hapax
      FROM documents d LEFT JOIN hapax h ON h.doc_id = d.doc_id
    )
    SELECT doc_id, n_tokens, n_hapax,
           CAST(n_hapax AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS hapax_share
    FROM base
    WHERE n_tokens > 0
    ORDER BY hapax_share DESC, doc_id
    LIMIT 20
    """,
)
def ext_hapax_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hapax-legomena profile: the 20 documents with the highest share of
    corpus-unique tokens (tokens whose TOTAL corpus frequency is 1).
    A high hapax share flags OCR noise, random identifiers, or genuinely
    novel vocabulary — the vocabulary-tail diagnostic that complements
    frequency-head views (ext_vocab_topk) when auditing corpus quality.

    Scale: one token explode feeding ONE vocabulary aggregate — and
    because a frequency-1 token occurs in exactly one document, its
    owning doc is recoverable IN THE SAME aggregate (max(doc_id) over
    one row), so attributing hapaxes needs no occurrence re-join: the
    per-doc rollup runs on the (sparse) hapax subset of the vocabulary.
    Per-doc token totals are map-side from the documents scan; the
    final top-20 is a TakeOrderedAndProject (per-partition heaps), not
    a global sort.

    Determinism: integer counts; one divide per row; (share DESC,
    doc_id) total order."""
    d = load_tables(spark, sf_dir)["documents"]
    occ = d.select(
        "doc_id",
        F.explode(F.split("text", " ")).alias("token"),
    ).filter(F.col("token") != "")
    vocab = occ.groupBy("token").agg(
        F.count(F.lit(1)).cast("bigint").alias("c"),
        F.max("doc_id").cast("bigint").alias("owner"),
    )
    hapax = (
        vocab.filter(F.col("c") == 1)
        .groupBy(F.col("owner").alias("doc_id"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_hapax"))
    )
    base = (
        d.select(
            "doc_id",
            F.size(
                F.filter(F.split("text", " "), lambda t: t != "")
            )
            .cast("bigint")
            .alias("n_tokens"),
        )
        .join(hapax, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce(F.col("n_hapax"), F.lit(0).cast("bigint")).alias(
                "n_hapax"
            ),
        )
        .filter(F.col("n_tokens") > 0)
    )
    return (
        base.withColumn(
            "hapax_share",
            F.col("n_hapax").cast("double") / F.col("n_tokens").cast("double"),
        )
        .orderBy(F.desc("hapax_share"), F.asc("doc_id"))
        .limit(20)
    )


_QUALITY_SQL = _REG["ext_quality_score"].oracle


@register(
    "ext_quality_dup_calibration",
    oracle=f"""
    WITH q AS ({_QUALITY_SQL}),
    dup AS (
      SELECT doc_id,
             CASE WHEN cnt >= 2 THEN 1 ELSE 0 END AS is_dup
      FROM (SELECT doc_id, COUNT(*) OVER (PARTITION BY md5(text)) AS cnt
            FROM documents)
    ),
    tiled AS (
      SELECT q.doc_id, d.is_dup,
             NTILE(10) OVER (ORDER BY q.quality_score, q.doc_id) AS decile
      FROM q JOIN dup d ON d.doc_id = q.doc_id
    )
    SELECT CAST(decile AS INT) AS decile,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(is_dup) AS BIGINT) AS n_dups,
           CAST(SUM(is_dup) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS dup_rate
    FROM tiled GROUP BY decile
    """,
)
def ext_quality_dup_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-signal calibration against duplicate pressure: bucket the
    corpus into quality-score deciles (ext_quality_score reused
    verbatim — oracle composed, so signal and calibration cannot drift)
    and report the exact-duplicate rate per decile. This is the
    check a curator runs before using the quality score as a filter:
    if dups concentrate in low deciles, one threshold serves both
    goals; a flat profile means quality filtering and dedup are
    independent axes and must BOTH run.

    Scale: the quality pass is the existing map-side scoring; the dup
    flag is one md5-keyed window (uniform keys); the decile assignment
    is distributed_ntile (operators/relational.py) — ONE range shuffle
    of a three-column projection plus broadcast partition offsets, the
    same decomposition ext_corpus_deciles certifies, so no window ever
    sees the corpus in a single task (VERDICT r9 item 1a). Determinism:
    NTILE over the (quality_score, doc_id) total order is identical in
    both engines and the decomposition is rank-exact; counts are
    integers with one final divide."""
    q = _REG["ext_quality_score"].fn(spark, sf_dir).select(
        "doc_id", "quality_score"
    )
    d = load_tables(spark, sf_dir)["documents"]
    from pyspark.sql import Window

    dup = d.select(
        "doc_id",
        (
            F.count(F.lit(1)).over(Window.partitionBy(F.md5("text"))) >= 2
        )
        .cast("int")
        .alias("is_dup"),
    )
    from world_cup_duckdb_spark.operators.relational import distributed_ntile

    tiled = distributed_ntile(
        q.join(dup, "doc_id"),
        10,
        ["quality_score", "doc_id"],
        out_col="decile",
    )
    return tiled.groupBy(F.col("decile").cast("int").alias("decile")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("is_dup").cast("bigint").alias("n_dups"),
        (F.sum("is_dup").cast("double") / F.count(F.lit(1)).cast("double"))
        .alias("dup_rate"),
    )
