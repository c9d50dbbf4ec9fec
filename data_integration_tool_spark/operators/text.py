"""Text-analysis operators over the documents table (SURVEY.md §2.10;
mandated LLM-data-pipeline surface, BASELINE.json:6).

All tokenization is expression-based (split/explode/regexp) — the hot
path never leaves the JVM. At 100 TB these run as scan → map-side
expressions → one shuffle for the aggregate; nothing is quadratic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..exprs import MICRO_SQL, micro
from ..io import load
from ..registry import query

# Shared stopword list for quality scoring (deterministic, tiny).
_STOPWORDS = ("the", "a", "of", "to", "and", "in", "is", "on", "for", "it")


@query(
    "text_tokenize_tf",
    oracle="""
        SELECT token, count(*) AS tf, count(DISTINCT doc_id) AS df
        FROM (
            SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
            FROM documents
        )
        WHERE token <> ''
        GROUP BY token
    """,
    phase="P2",
    tags=("text", "tokenize"),
)
def text_tokenize_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace tokenization → corpus term & document frequencies."""
    d = load(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.explode(F.split(F.lower("text"), " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("tf"),
            F.countDistinct("doc_id").alias("df"),
        )
    )


@query(
    "text_stats",
    oracle="""
        SELECT source,
               count(*)                 AS n_docs,
               avg(n_chars)             AS avg_chars,
               count(DISTINCT lang)     AS n_langs,
               min(n_chars)             AS min_chars,
               max(n_chars)             AS max_chars
        FROM documents
        GROUP BY source
    """,
    phase="P2",
    tags=("text", "stats"),
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus statistics."""
    d = load(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("n_chars").alias("avg_chars"),
        F.countDistinct("lang").alias("n_langs"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


@query(
    "text_token_count",
    oracle="""
        SELECT doc_id,
               len(string_split(text, ' ')) AS n_tokens_ws,
               length(text)                 AS n_chars_actual,
               len(regexp_split_to_array(text, '[a-z]+')) - 1 AS n_word_matches
        FROM documents
    """,
    phase="P2",
    tags=("text", "tokens"),
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + regex word-ish matches.

    The regex count emulates a BPE-ish pre-tokenizer pass (count of
    maximal letter runs) without any Python in the loop.
    """
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("n_tokens_ws"),
        F.length("text").alias("n_chars_actual"),
        (F.size(F.split("text", "[a-z]+")) - 1).alias("n_word_matches"),
    )


@query(
    "text_quality",
    oracle=f"""
        SELECT doc_id,
               n_tokens,
               n_stopwords,
               CAST(n_stopwords AS DOUBLE) / n_tokens          AS stopword_ratio,
               CAST(n_distinct AS DOUBLE) / n_tokens           AS distinct_ratio,
               CASE WHEN n_tokens >= 20
                     AND CAST(n_stopwords AS DOUBLE) / n_tokens BETWEEN 0.01 AND 0.6
                    THEN 1 ELSE 0 END AS quality_pass
        FROM (
            SELECT doc_id,
                   len(toks)                                                    AS n_tokens,
                   len(list_filter(toks, t -> list_contains({list(_STOPWORDS)!r}, t))) AS n_stopwords,
                   len(list_distinct(toks))                                     AS n_distinct
            FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents)
        )
    """,
    phase="P2",
    tags=("text", "quality"),
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality scoring: token counts, stopword ratio,
    vocabulary diversity, and a pass/fail gate — the classic pre-training
    corpus filter, computed entirely with array expressions."""
    d = load(spark, sf_dir, "documents")
    stop_arr = F.array(*[F.lit(s) for s in _STOPWORDS])
    toks = F.split(F.lower("text"), " ")
    base = d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(
            F.filter(toks, lambda t: F.array_contains(stop_arr, t))
        ).alias("n_stopwords"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
    )
    stop_ratio = F.col("n_stopwords").cast("double") / F.col("n_tokens")
    return base.select(
        "doc_id",
        "n_tokens",
        "n_stopwords",
        stop_ratio.alias("stopword_ratio"),
        (F.col("n_distinct").cast("double") / F.col("n_tokens")).alias(
            "distinct_ratio"
        ),
        F.when(
            (F.col("n_tokens") >= 20) & stop_ratio.between(0.01, 0.6), 1
        )
        .otherwise(0)
        .alias("quality_pass"),
    )


@query(
    "text_lang_id",
    oracle="""
        SELECT lang,
               count(*) AS n_docs,
               CAST(sum(CASE WHEN text LIKE '%the%' OR text LIKE '%query%' THEN 1 ELSE 0 END) AS BIGINT) AS n_englishy
        FROM documents
        GROUP BY lang
    """,
    phase="P2",
    tags=("text", "langid"),
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language distribution + a trivial n-gram language cue count.

    (The fixture vocabulary is shared across langs, so real n-gram
    language ID is exercised in pytest on planted samples; here the
    verified surface is the marker-count aggregation shape.)
    """
    d = load(spark, sf_dir, "documents")
    englishy = (
        F.when(
            F.col("text").like("%the%") | F.col("text").like("%query%"), 1
        ).otherwise(0)
    )
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(englishy).alias("n_englishy"),
    )


@query(
    "text_fingerprint",
    oracle="""
        SELECT doc_id,
               hash(list_aggregate(list_sort(list_distinct(string_split(lower(text), ' '))), 'string_agg', ' ')) IS NOT NULL AS has_fp,
               len(list_distinct(string_split(lower(text), ' '))) AS vocab_size
        FROM documents
    """,
    phase="P3",
    tags=("text", "fingerprint"),
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: hash of the sorted distinct-token bag.

    Hash values are engine-specific, so the verified columns are the
    fingerprint's presence + vocab size; equality-of-fingerprint
    semantics are verified in dedup_exact (md5) and pytest.
    """
    d = load(spark, sf_dir, "documents")
    vocab = F.array_distinct(F.split(F.lower("text"), " "))
    fp = F.hash(F.concat_ws(" ", F.sort_array(vocab)))
    return d.select(
        "doc_id",
        fp.isNotNull().alias("has_fp"),
        F.size(vocab).alias("vocab_size"),
    )


@query(
    "text_ngram_freq",
    oracle="""
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split(lower(text), ' '), t -> t <> '') AS ts
            FROM documents
        )
        SELECT bigram, count(*) AS freq
        FROM (
            SELECT doc_id,
                   ts[i] || ' ' || ts[i + 1] AS bigram
            FROM toks, unnest(range(1, len(ts))) AS u(i)
        )
        GROUP BY bigram
        HAVING count(*) >= 5
    """,
    phase="P3",
    tags=("text", "ngram"),
)
def text_ngram_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram frequencies (n-gram language-model counts): zip
    each token array with itself shifted by one — a narrow per-row
    transform, so the only shuffle is the final count per bigram
    (map-side combinable; at 100 TB the exchange carries one row per
    distinct bigram)."""
    d = load(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower("text"), " "), lambda t: t != "")
    bigrams = F.zip_with(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    return (
        d.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("freq"))
        .filter(F.col("freq") >= 5)
    )


@query(
    "text_tfidf",
    oracle="""
        WITH tokens AS (
            SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
            FROM documents
        ), tf AS (
            SELECT doc_id, token, count(*) AS tf
            FROM tokens WHERE token <> ''
            GROUP BY doc_id, token
        ), df AS (
            SELECT token, count(DISTINCT doc_id) AS df FROM tf GROUP BY token
        ), n AS (
            SELECT count(*) AS n_docs FROM documents
        ), scored AS (
            SELECT tf.doc_id, tf.token,
                   CAST(floor(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df)
                              * 1000000.0 + 0.5) AS BIGINT) AS tfidf_micro
            FROM tf JOIN df ON tf.token = df.token CROSS JOIN n
        )
        SELECT doc_id, token, tfidf_micro
        FROM (
            SELECT doc_id, token, tfidf_micro,
                   row_number() OVER (
                       PARTITION BY doc_id ORDER BY tfidf_micro DESC, token
                   ) AS rn
            FROM scored
        ) WHERE rn <= 3
    """,
    phase="P3",
    tags=("text", "tfidf"),
)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document — the classic keyword-extraction
    / relevance-weighting pass over a corpus.

    Plan shape: per-doc term counts (one shuffle on (doc_id, token)),
    document frequencies re-aggregated from those counts (shuffle on
    token, input already one row per (doc, token)), corpus size as a
    broadcast one-row cross join, top-3 via a per-doc window. IDF =
    ln(N/df), deterministic ties broken by token. At 100 TB the df
    relation is vocabulary-sized (millions, not billions) and
    broadcastable; everything else is map-side until the two keyed
    aggregations.

    The score ships as micro-units (floor(tfidf*1e6+0.5) as BIGINT):
    DuckDB's ln() and the JVM's Math.log disagree in the last ULP on
    ~8% of inputs (measured), so a raw-double tfidf can never be
    hash-verified; quantizing to 1e-6 absorbs the libm ULP on both the
    emitted value AND the ranking key (both engines rank identical
    integers), at micro-bit precision that is still far below any
    practically meaningful score difference."""
    d = load(spark, sf_dir, "documents")
    from pyspark.sql import Window

    tf = (
        d.select("doc_id", F.explode(F.split(F.lower("text"), " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
        # (doc, token)-grain counts feed BOTH the df rollup and the
        # score join — lazy checkpoint so the corpus tokenize+explode
        # compiles once (r13 re-derivation sweep).
        # Scale/recovery note (ADVICE r13 #2): (doc, token) grain is
        # corpus-scale, so this materializes at MEMORY_AND_DISK with
        # lineage truncated; the saved work per extra reader is a full
        # corpus tokenize+explode+aggregate — see SCALE.md §6k for the
        # loss-rate threshold where a durable materialization wins.
        .localCheckpoint(eager=False)
    )
    df = tf.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df, "token")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            micro(
                F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("df"))
            ).alias("tfidf_micro"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tfidf_micro"), F.asc("token")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "token", "tfidf_micro")
    )


@query(
    "text_entropy",
    oracle="""
        WITH chars AS (
            SELECT doc_id, unnest(string_split_regex(text, '')) AS ch
            FROM documents
        ), freqs AS (
            SELECT doc_id, ch, count(*) AS n
            FROM chars WHERE ch <> ''
            GROUP BY doc_id, ch
        ), tot AS (
            SELECT doc_id, sum(n) AS total FROM freqs GROUP BY doc_id
        )
        SELECT f.doc_id,
               CAST(floor((0.0 - sum((n / CAST(total AS DOUBLE))
                               * ln(n / CAST(total AS DOUBLE)) / ln(2)))
                          * 1000000.0 + 0.5) AS BIGINT)
                   AS char_entropy_microbits
        FROM freqs f JOIN tot USING (doc_id)
        GROUP BY f.doc_id
    """,
    phase="P3",
    tags=("text", "quality", "entropy"),
)
def text_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Shannon entropy per document (bits/char) — the
    gibberish / compression-artifact quality signal: natural text sits
    ~3.5-4.5 bits, repeated-template or single-char junk collapses
    toward 0, random bytes push toward 8.

    Plan shape: explode to (doc, char) → one combinable count, totals
    re-aggregated from the counts (input already one row per doc×char),
    entropy as a final per-doc sum. Everything is expression-level; the
    explode fan-out (|text| rows per doc) never shuffles raw — the
    first aggregate reduces to alphabet-size rows per doc.

    Ships as integer micro-bits (floor(bits*1e6+0.5)): the per-doc sum
    of -p*log2(p) terms is float-summation-order-dependent (differs
    between engines AND between Spark runs via partial-agg order) and
    DuckDB/JVM ln() disagree at the last ULP; quantizing to 1e-6 bits
    absorbs both while keeping the signal (quality thresholds care
    about ~0.1-bit differences, 10^5 micro-bits)."""
    d = load(spark, sf_dir, "documents")
    freqs = (
        d.select("doc_id", F.explode(F.split("text", "")).alias("ch"))
        .filter(F.col("ch") != "")
        .groupBy("doc_id", "ch")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = freqs.groupBy("doc_id").agg(F.sum("n").alias("total"))
    p = F.col("n") / F.col("total").cast("double")
    return (
        freqs.join(tot, "doc_id")
        .groupBy("doc_id")
        .agg(
            micro(F.lit(0.0) - F.sum(p * F.log(p) / F.log(F.lit(2.0))))
            .alias("char_entropy_microbits")
        )
    )


@query(
    "text_pmi_pairs",
    oracle="""
        WITH toks AS (
            SELECT DISTINCT doc_id,
                   unnest(list_filter(string_split(lower(text), ' '),
                                      t -> t <> '')) AS token
            FROM documents
        ),
        df AS (
            SELECT token, count(*) AS df FROM toks GROUP BY token
        ),
        vocab AS (
            SELECT token, df FROM df
            ORDER BY df DESC, token LIMIT 40
        ),
        vt AS (
            SELECT t.doc_id, t.token, v.df
            FROM toks t JOIN vocab v USING (token)
        ),
        n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
        pairs AS (
            SELECT a.token AS tok_a, b.token AS tok_b,
                   max(a.df) AS df_a, max(b.df) AS df_b,
                   count(*) AS n_ab
            FROM vt a JOIN vt b
              ON a.doc_id = b.doc_id AND a.token < b.token
            GROUP BY a.token, b.token
        )
        SELECT tok_a, tok_b, n_ab,
               CAST(floor(ln(CAST(n.n_docs AS DOUBLE) * n_ab
                             / (CAST(df_a AS DOUBLE) * df_b))
                          * 1000000.0 + 0.5) AS BIGINT) AS pmi_micro
        FROM pairs CROSS JOIN n
        WHERE n_ab >= 5
    """,
    phase="P3",
    tags=("text", "pmi", "collocation"),
)
def text_pmi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information of token co-occurrence — the
    collocation/association-mining pass (PMI > 0: tokens co-occur more
    than independence predicts). Document-level co-occurrence over the
    top-40-df vocabulary: the vocab cap bounds the pair fan-out at
    C(40,2) per doc regardless of corpus size — the unbounded pair
    explosion is the operator's scale-killer and the cap is how
    production collocation jobs bound it (or they shard by vocab
    block).

    PMI ships as micro-units (floor(x*1e6+0.5) BIGINT) for the same
    reason as ``text_tfidf``: ln() differs between DuckDB and the JVM
    at the last ULP. The min-support filter (n_ab ≥ 5) is standard —
    PMI is noise-dominated at low counts. Ties in the vocab cut are
    broken by token so both engines select the identical vocabulary."""
    d = load(spark, sf_dir, "documents")
    toks = (
        d.select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.filter(
                        F.split(F.lower("text"), " "), lambda t: t != ""
                    )
                )
            ).alias("token"),
        )
        .distinct()
    )
    df = toks.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    vocab = df.orderBy(F.desc("df"), F.asc("token")).limit(40)
    # vocab-restricted posting list (≤40 tokens per doc), referenced by
    # BOTH sides of the pair self-join — lazy checkpoint so the corpus
    # tokenize+distinct+vocab join runs once per action instead of once
    # per side (r13; 5 documents scans -> 2: one under vt, one under df)
    vt = toks.join(F.broadcast(vocab), "token").localCheckpoint(
        eager=False
    )
    n = d.agg(F.count_distinct("doc_id").alias("n_docs"))
    a = vt.alias("a")
    b = vt.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("a.token") < F.col("b.token")),
        )
        .groupBy(
            F.col("a.token").alias("tok_a"),
            F.col("b.token").alias("tok_b"),
        )
        .agg(
            F.max("a.df").alias("df_a"),
            F.max("b.df").alias("df_b"),
            F.count(F.lit(1)).alias("n_ab"),
        )
    )
    pmi = F.log(
        F.col("n_docs").cast("double")
        * F.col("n_ab")
        / (F.col("df_a").cast("double") * F.col("df_b"))
    )
    return (
        pairs.crossJoin(F.broadcast(n))
        .filter(F.col("n_ab") >= 5)
        .select(
            "tok_a",
            "tok_b",
            "n_ab",
            micro(pmi).alias("pmi_micro"),
        )
    )


@query(
    "text_unigram_logprob",
    oracle=f"""
        WITH tf AS (
            SELECT doc_id, w, count(*) AS cnt
            FROM (
                SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
                FROM documents
            )
            WHERE w <> ''
            GROUP BY doc_id, w
        ), with_freq AS (
            SELECT doc_id, cnt,
                   sum(cnt) OVER (PARTITION BY w) AS freq
            FROM tf
        ), per_doc AS (
            SELECT doc_id,
                   sum(cnt)           AS n_tokens,
                   sum(cnt * ln(freq)) AS s_lnfreq
            FROM with_freq GROUP BY doc_id
        )
        SELECT doc_id,
               CAST(n_tokens AS BIGINT) AS n_tokens,
               {MICRO_SQL.format(
                   x="(ln(sum(n_tokens) OVER ()) - s_lnfreq / n_tokens)")}
                   AS avg_neg_logprob_micro
        FROM per_doc
        ORDER BY doc_id
    """,
    phase="P3",
    tags=("text", "quality", "lm"),
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-unigram language-model score per document: the average
    token negative log-probability under the corpus's own unigram
    distribution — the CCNet-style fluency/quality signal (low = stock
    phrasing, high = rare-token soup) used to stratify web corpora
    before LM training.

    Decomposition keeps it ONE lineage with no self-joins: with
    p(w) = freq(w)/N, avg -ln p = ln(N) − (Σ cnt·ln freq)/(Σ cnt), so
    the plan is tf (per doc×token counts, the only corpus-scale
    shuffle) → count-over-token window attaches global freqs (same
    one-pass trick as basket_rules' supports — a freq side-aggregate
    would re-plan tf per branch) → per-doc reduce → a window total over
    the per-DOC relation (500 rows here; bounded by corpus doc count,
    post-reduction). ln() crosses engines → micro-quantized."""
    d = load(spark, sf_dir, "documents")
    tf = (
        d.select(
            "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("w")
        )
        .filter(F.col("w") != "")
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    with_freq = tf.withColumn(
        "freq", F.sum("cnt").over(Window.partitionBy("w"))
    )
    per_doc = with_freq.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_tokens"),
        F.sum(F.col("cnt") * F.log("freq")).alias("s_lnfreq"),
    )
    total = F.sum("n_tokens").over(Window.partitionBy())
    return (
        per_doc.select(
            "doc_id",
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            micro(
                F.log(total) - F.col("s_lnfreq") / F.col("n_tokens")
            ).alias("avg_neg_logprob_micro"),
        )
        .orderBy("doc_id")
    )


@query(
    "text_novelty",
    oracle="""
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split(lower(text), ' '),
                               t -> t <> '') AS ts
            FROM documents
        ), grams AS (
            SELECT DISTINCT doc_id,
                   array_to_string(list_slice(ts, i, i + 3), ' ') AS gram
            FROM toks, unnest(range(1, len(ts) - 2)) AS u(i)
            WHERE len(ts) >= 4
        ), firsts AS (
            SELECT gram, min(doc_id) AS first_doc FROM grams GROUP BY gram
        )
        SELECT g.doc_id,
               CAST(count(*) AS BIGINT) AS n_grams,
               CAST(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_novel,
               CAST(floor(sum(CASE WHEN f.first_doc = g.doc_id
                                   THEN 1.0 ELSE 0.0 END)
                          / count(*) * 1000000.0 + 0.5) AS BIGINT)
                   AS novelty_micro
        FROM grams g JOIN firsts f USING (gram)
        GROUP BY g.doc_id
        ORDER BY g.doc_id
    """,
    phase="P3",
    tags=("text", "novelty", "curation"),
)
def text_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-order novelty score: the fraction of a document's
    distinct 4-gram shingles whose FIRST corpus occurrence (min doc_id)
    is this document. A near-zero score means the doc is re-treading
    already-ingested text — the streaming-ingest cousin of
    ``dedup_substring`` (which asks "is this span repeated anywhere",
    novelty asks "was it here first"), and the standard freshness
    signal when prioritizing crawl batches.

    Plan: distinct (doc, gram) pairs → ``min(doc_id) OVER (PARTITION
    BY ghash)`` → per-doc roll-up. The window form (not groupBy +
    join-back) matters: Catalyst has no cross-branch CSE, so the join
    form would explode the corpus twice (the dedup_substring /
    decon_ngram lesson) — here the explosion happens once and the
    first-occurrence attribution is one exchange + partition sort.
    Grams travel as xxhash64 ints; no broadcast needed and no skew
    (gram frequency is capped by the dedup upstream).
    """
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.filter(F.split(F.lower("text"), " "), lambda t: t != "").alias("ts"),
    )
    grams = (
        toks.filter(F.size("ts") >= 4)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(ts) - 3),"
                    " i -> xxhash64(concat_ws(' ', slice(ts, i, 4))))"
                )
            ).alias("ghash"),
        )
        .distinct()
    )
    from pyspark.sql import Window as W

    first_w = F.min("doc_id").over(W.partitionBy("ghash"))
    novel = (F.col("first_doc") == F.col("doc_id")).cast("double")
    return (
        grams.withColumn("first_doc", first_w)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum((F.col("first_doc") == F.col("doc_id")).cast("bigint")).alias(
                "n_novel"
            ),
            micro(F.sum(novel) / F.count(F.lit(1))).alias("novelty_micro"),
        )
        .orderBy("doc_id")
    )


@query(
    "text_bpe_pair_freq",
    oracle="""
        WITH words AS (
            SELECT w, count(*) AS c
            FROM (
                SELECT unnest(string_split(lower(text), ' ')) AS w
                FROM documents
            )
            WHERE w <> ''
            GROUP BY w
        ),
        pairs AS (
            SELECT substr(w, CAST(i AS INTEGER), 2) AS pair, c
            FROM words,
                 unnest(generate_series(1, length(w) - 1)) AS t(i)
            WHERE length(w) >= 2
        )
        SELECT pair, CAST(sum(c) AS BIGINT) AS freq
        FROM pairs
        GROUP BY pair
        ORDER BY freq DESC, pair
        LIMIT 50
    """,
    phase="P4",
    tags=("text", "tokenizer", "bpe"),
)
def text_bpe_pair_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE merge round's candidate table: corpus-weighted adjacent
    character-pair frequencies — the statistic byte-pair-encoding
    tokenizer induction recomputes at every merge step (the top row IS
    the next merge). Character-level here (the first round); subsequent
    rounds would rewrite the vocabulary and repeat.

    Scale shape — the tokenizer-training trick that makes BPE feasible
    on a corpus at all: pair counting runs over the DISTINCT WORD
    VOCABULARY weighted by word frequency, never over raw text (the
    corpus re-derives from the vocabulary relation, which is thousands
    of times smaller — same vocabulary-scale reasoning as
    join_fuzzy_blocked's distance kernel). One combinable word-count
    aggregate is the only data-scale stage; the bigram explode and
    pair roll-up run at vocabulary scale. Integer counts end to end;
    LIMIT carries the (freq DESC, pair) total order."""
    d = load(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(F.split(F.lower("text"), " ")).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    pairs = words.where(F.length("w") >= 2).select(
        F.explode(
            F.expr(
                "transform(sequence(1, length(w) - 1),"
                " i -> substring(w, i, 2))"
            )
        ).alias("pair"),
        "c",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("c").cast("bigint").alias("freq"))
        .orderBy(F.desc("freq"), F.asc("pair"))
        .limit(50)
    )


@query(
    "text_bigram_lm",
    oracle=f"""
        WITH arrs AS (
            SELECT doc_id,
                   list_filter(string_split(lower(text), ' '),
                               x -> x <> '') AS toks
            FROM documents
        ), idx AS (
            SELECT doc_id, toks,
                   unnest(generate_series(1, len(toks) - 1)) AS i
            FROM arrs
        ), big AS (
            SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
            FROM idx
        ), tf2 AS (
            SELECT doc_id, w1, w2, count(*) AS cnt
            FROM big GROUP BY doc_id, w1, w2
        ), with_freq AS (
            SELECT doc_id, cnt,
                   sum(cnt) OVER (PARTITION BY w1)     AS freq1,
                   sum(cnt) OVER (PARTITION BY w1, w2) AS freq2
            FROM tf2
        ), per_doc AS (
            SELECT doc_id,
                   sum(cnt) AS n_bigrams,
                   sum(cnt * (ln(freq1) - ln(freq2))) AS s_ln
            FROM with_freq GROUP BY doc_id
        )
        SELECT doc_id,
               CAST(n_bigrams AS BIGINT) AS n_bigrams,
               {{micro_expr}} AS avg_neg_logprob_micro
        FROM per_doc
        ORDER BY doc_id
    """.format(micro_expr=MICRO_SQL.format(x="(s_ln / n_bigrams)")),
    phase="P3",
    tags=("text", "quality", "lm"),
)
def text_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-bigram language-model score per document — the
    conditional sibling of text_unigram_logprob: average bigram
    negative log-probability −ln P(w₂|w₁) with P estimated from the
    corpus itself (C(w₁,w₂)/C(w₁,·)), the perplexity-style fluency
    signal that separates well-formed prose from shuffled-token soup
    (which unigram scores cannot — same tokens, same unigram score).

    One lineage, no self-joins past the bigram pairing: posexplode
    keeps token order, a per-doc lag window forms bigram occurrences,
    ONE groupBy yields per-doc bigram counts, and BOTH corpus
    frequencies (C(w₁,·) and C(w₁,w₂)) attach as window sums over the
    same relation — partition by w1 and by (w1,w2) respectively — so
    the corpus never re-scans (the basket_rules/unigram trick). Then
    avg −ln P = Σ cnt·(ln C(w₁,·) − ln C(w₁,w₂)) / Σ cnt per doc.
    ln() crosses engines → micro-quantized.

    Scale shape: corpus-sized stages are the explode and one
    (doc,bigram) groupBy; the two frequency windows shuffle at
    DISTINCT-bigram grain (vocabulary², but Zipf-truncated in
    practice), and the final reduce is per-doc. Hot head-words (the
    w1 partition) are ordinary AQE skew work."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.posexplode(F.split(F.lower("text"), " ")).alias("ord", "w"),
    ).filter(F.col("w") != "")
    w_seq = Window.partitionBy("doc_id").orderBy("ord")
    seq = toks.select(
        "doc_id", "w", F.lag("w").over(w_seq).alias("w1")
    ).filter(F.col("w1").isNotNull())
    tf2 = seq.groupBy(
        "doc_id", "w1", F.col("w").alias("w2")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    with_freq = tf2.select(
        "doc_id",
        "cnt",
        F.sum("cnt").over(Window.partitionBy("w1")).alias("freq1"),
        F.sum("cnt").over(Window.partitionBy("w1", "w2")).alias("freq2"),
    )
    per_doc = with_freq.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_bigrams"),
        F.sum(
            F.col("cnt") * (F.log("freq1") - F.log("freq2"))
        ).alias("s_ln"),
    )
    return (
        per_doc.select(
            "doc_id",
            F.col("n_bigrams").cast("bigint").alias("n_bigrams"),
            micro(F.col("s_ln") / F.col("n_bigrams")).alias(
                "avg_neg_logprob_micro"
            ),
        )
        .orderBy("doc_id")
    )


_OOV_VOCAB_K = 500


@query(
    "text_oov_rate",
    oracle=f"""
        WITH tf AS (
            SELECT doc_id, w, count(*) AS cnt
            FROM (
                SELECT doc_id,
                       unnest(string_split(lower(text), ' ')) AS w
                FROM documents
            )
            WHERE w <> ''
            GROUP BY doc_id, w
        ), freq AS (
            SELECT w, sum(cnt) AS f FROM tf GROUP BY w
        ), vocab AS (
            SELECT w FROM (
                SELECT w, row_number() OVER (ORDER BY f DESC, w) AS rk
                FROM freq
            ) WHERE rk <= {_OOV_VOCAB_K}
        )
        SELECT tf.doc_id,
               CAST(sum(tf.cnt) AS BIGINT) AS n_tokens,
               CAST(sum(CASE WHEN v.w IS NULL THEN tf.cnt ELSE 0 END)
                    AS BIGINT) AS n_oov,
               CAST(floor(CAST(sum(CASE WHEN v.w IS NULL THEN tf.cnt
                                        ELSE 0 END) AS DOUBLE)
                          * 1000000.0 / sum(tf.cnt) + 0.5) AS BIGINT)
                   AS oov_micro
        FROM tf LEFT JOIN vocab v ON tf.w = v.w
        GROUP BY tf.doc_id
        ORDER BY tf.doc_id
    """,
    phase="P3",
    tags=("text", "vocabulary", "oov"),
)
def text_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate per document against the corpus's own
    top-500 vocabulary — the tokenizer-coverage health check run
    before committing to a vocab size ("what fraction of each doc
    would become <unk>?"). Vocabulary membership is deterministic:
    rank by (frequency DESC, token) so ties can never flip between
    engines.

    Plan: tf (the one corpus-scale shuffle) → token-grain frequency
    (combinable) → top-K rank over the VOCABULARY-sized relation
    (Zipf-bounded; at extreme vocab the agg_approx_percentile
    two-phase selection is the swap-in) → broadcast LEFT join marks
    OOV tokens → per-doc reduce. Ratio ships micro-quantized from
    exact integer counts."""
    d = load(spark, sf_dir, "documents")
    tf = (
        d.select(
            "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("w")
        )
        .filter(F.col("w") != "")
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    freq = tf.groupBy("w").agg(F.sum("cnt").alias("f"))
    vocab = (
        freq.withColumn(
            "rk",
            F.row_number().over(
                Window.orderBy(F.col("f").desc(), "w")
            ),
        )
        .filter(F.col("rk") <= _OOV_VOCAB_K)
        .select("w", F.lit(1).alias("in_vocab"))
    )
    joined = tf.join(F.broadcast(vocab), "w", "left")
    n_oov = F.sum(
        F.when(F.col("in_vocab").isNull(), F.col("cnt")).otherwise(0)
    )
    return (
        joined.groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_tokens"),
            n_oov.cast("bigint").alias("n_oov"),
            F.floor(
                n_oov.cast("double")
                * F.lit(1000000.0)
                / F.sum("cnt")
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("oov_micro"),
        )
        .orderBy("doc_id")
    )


# Zipf rank-frequency OLS over pico-quantized log terms, spelled once.
# Moment columns: n (ranks fitted), sx/sy (Σ pico ln rank / ln freq),
# sxy/sxx (Σ pico of the PRODUCTS, quantized per-rank — a product of two
# pico ints would overflow int64, and a float Σ would be order-
# dependent).  Every /1e12 de-scaling is explicit in the one spelling.
_ZIPF_SLOPE = (
    "((CAST(n AS DOUBLE) * (CAST(sxy AS DOUBLE) / 1000000000000.0)"
    " - (CAST(sx AS DOUBLE) / 1000000000000.0)"
    " * (CAST(sy AS DOUBLE) / 1000000000000.0))"
    " / (CAST(n AS DOUBLE) * (CAST(sxx AS DOUBLE) / 1000000000000.0)"
    " - (CAST(sx AS DOUBLE) / 1000000000000.0)"
    " * (CAST(sx AS DOUBLE) / 1000000000000.0)))"
)
_ZIPF_ICEPT = (
    f"((CAST(sy AS DOUBLE) / 1000000000000.0) / n"
    f" - {_ZIPF_SLOPE} * (CAST(sx AS DOUBLE) / 1000000000000.0) / n)"
)

_ZIPF_HEAD = 200


@query(
    "text_zipf_fit",
    oracle=f"""
        WITH toks AS (
            SELECT unnest(string_split(lower(text), ' ')) AS token
            FROM documents
        ), freq AS (
            SELECT token, CAST(count(*) AS BIGINT) AS f
            FROM toks WHERE token <> '' GROUP BY token
        ), ranked AS (
            SELECT f, row_number() OVER (ORDER BY f DESC, token) AS r
            FROM freq
        ), terms AS (
            SELECT CAST(floor(ln(CAST(r AS DOUBLE))
                        * 1000000000000.0 + 0.5) AS BIGINT) AS qx,
                   CAST(floor(ln(CAST(f AS DOUBLE))
                        * 1000000000000.0 + 0.5) AS BIGINT) AS qy,
                   CAST(floor(ln(CAST(r AS DOUBLE))
                        * ln(CAST(f AS DOUBLE))
                        * 1000000000000.0 + 0.5) AS BIGINT) AS qxy,
                   CAST(floor(ln(CAST(r AS DOUBLE))
                        * ln(CAST(r AS DOUBLE))
                        * 1000000000000.0 + 0.5) AS BIGINT) AS qxx
            FROM ranked WHERE r <= {_ZIPF_HEAD}
        ), m AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(qx) AS BIGINT)  AS sx,
                   CAST(sum(qy) AS BIGINT)  AS sy,
                   CAST(sum(qxy) AS BIGINT) AS sxy,
                   CAST(sum(qxx) AS BIGINT) AS sxx
            FROM terms
        )
        SELECT n, sx, sy, sxy, sxx,
               CAST(floor({_ZIPF_SLOPE} * 1000000.0 + 0.5) AS BIGINT)
                   AS slope_micro,
               CAST(floor({_ZIPF_ICEPT} * 1000000.0 + 0.5) AS BIGINT)
                   AS intercept_micro
        FROM m
    """,
    phase="P3",
    tags=("text", "zipf", "corpus-health"),
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit over the vocabulary head: OLS slope of
    ln(frequency) on ln(rank) for the top-200 tokens — natural text
    sits near slope −1, and a corpus whose exponent drifts (template
    spam: too flat; boilerplate floods: too steep) fails the
    corpus-health gate before training.  Intercept estimates
    ln(top-frequency), closing the (rank → expected count) model.

    Exactness: frequencies and ranks are exact integers (rank ties
    broken by token); each ln-crossing regression term (x, y, xy, xx)
    is PICO-quantized the moment it is computed — a pico×pico
    integer product would overflow and a float Σ would be order-
    dependent — so all moments are order-free BIGINT sums, and
    slope/intercept are one shared spelled IEEE expression.

    Plan: combinable token-frequency aggregate (corpus → vocabulary
    grain), one ranking window at that reduced grain with an
    immediate head filter (200 rows survive), and a single-row
    reduce.  The fit cost is vocabulary-bounded, never corpus-
    bounded; at open-vocabulary scale the head filter swaps to
    agg_heavy_hitters' top-k first."""
    d = load(spark, sf_dir, "documents")
    freq = (
        d.select(
            F.explode(F.split(F.lower("text"), " ")).alias("token")
        )
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("f"))
    )
    ranked = freq.select(
        "f",
        F.row_number()
        .over(Window.orderBy(F.col("f").desc(), "token"))
        .alias("r"),
    ).filter(F.col("r") <= _ZIPF_HEAD)
    lnr = F.log(F.col("r").cast("double"))
    lnf = F.log(F.col("f").cast("double"))
    pico = F.lit(1000000000000.0)
    terms = ranked.select(
        F.floor(lnr * pico + F.lit(0.5)).cast("bigint").alias("qx"),
        F.floor(lnf * pico + F.lit(0.5)).cast("bigint").alias("qy"),
        F.floor(lnr * lnf * pico + F.lit(0.5)).cast("bigint").alias("qxy"),
        F.floor(lnr * lnr * pico + F.lit(0.5)).cast("bigint").alias("qxx"),
    )
    m = terms.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("qx").cast("bigint").alias("sx"),
        F.sum("qy").cast("bigint").alias("sy"),
        F.sum("qxy").cast("bigint").alias("sxy"),
        F.sum("qxx").cast("bigint").alias("sxx"),
    )
    return m.select(
        "n",
        "sx",
        "sy",
        "sxy",
        "sxx",
        micro(F.expr(_ZIPF_SLOPE)).alias("slope_micro"),
        micro(F.expr(_ZIPF_ICEPT)).alias("intercept_micro"),
    )


@query(
    "text_keyword_rake",
    oracle="""
        WITH toks AS (
            SELECT doc_id, u.i AS pos, ts[u.i] AS token
            FROM (
                SELECT doc_id, string_split(lower(text), ' ') AS ts
                FROM documents
            ), unnest(range(1, len(ts) + 1)) AS u(i)
            WHERE ts[u.i] <> ''
        ), freq0 AS (
            SELECT token, CAST(count(*) AS BIGINT) AS f
            FROM toks GROUP BY token
        ), stop AS (
            SELECT token FROM (
                SELECT token, row_number() OVER (ORDER BY f DESC,
                       token) AS rk
                FROM freq0
            ) WHERE rk <= 5
            UNION SELECT 'the' UNION SELECT 'a'
        ), nonstop AS (
            SELECT t.doc_id, t.pos, t.token,
                   t.pos - row_number() OVER (PARTITION BY t.doc_id
                       ORDER BY t.pos) AS island
            FROM toks t LEFT JOIN stop s USING (token)
            WHERE s.token IS NULL
        ), occ AS (
            SELECT doc_id, island,
                   string_agg(token, ' ' ORDER BY pos) AS phrase,
                   CAST(count(*) AS BIGINT) AS plen
            FROM nonstop GROUP BY doc_id, island
        ), wstat AS (
            SELECT n.token,
                   CAST(count(*) AS BIGINT) AS freq,
                   CAST(sum(o.plen) AS BIGINT) AS deg
            FROM nonstop n JOIN occ o USING (doc_id, island)
            GROUP BY n.token
        ), wscore AS (
            SELECT token,
                   CAST(floor(CAST(deg AS DOUBLE) / freq
                        * 1000000000000.0 + 0.5) AS BIGINT) AS ws
            FROM wstat
        ), oscore AS (
            SELECT o.phrase, o.plen,
                   CAST(sum(w.ws) AS BIGINT) AS score_pico
            FROM nonstop n
            JOIN occ o USING (doc_id, island)
            JOIN wscore w USING (token)
            GROUP BY o.doc_id, o.island, o.phrase, o.plen
        )
        SELECT phrase, CAST(max(plen) AS BIGINT) AS phrase_len,
               CAST(count(*) AS BIGINT) AS n_occ,
               CAST(floor(CAST(max(score_pico) AS DOUBLE)
                    / 1000000.0 + 0.5) AS BIGINT) AS score_micro
        FROM oscore
        GROUP BY phrase
        ORDER BY score_micro DESC, phrase
        LIMIT 20
    """,
    phase="P3",
    tags=("text", "keywords", "rake"),
)
def text_keyword_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al.): candidate phrases are
    maximal stopword-free token runs, each word scores
    degree/frequency (degree = Σ lengths of phrases containing it —
    words that live in long collocations outrank merely-frequent
    ones), and a phrase scores the sum of its word scores — the
    phrase-level complement to text_tfidf's single-token keywords.
    The stoplist is DATA-DERIVED (top-5 corpus tokens, count-ranked
    with name tiebreak) plus the English articles present in the
    fixture — the standard RAKE fallback when no language list
    exists.

    Exactness: runs come from the gaps-and-islands identity
    (pos − row_number is constant within a run — the win_streak
    trick); phrase text assembles in position order on both engines;
    word scores pico-quantize per word (one IEEE division of exact
    BIGINTs) so phrase scores are order-free integer sums; the
    top-20 orders by the QUANTIZED score with the phrase as
    tiebreak.

    Plan: one posexplode scan → tiny stoplist broadcast anti-join →
    per-doc islands window (bounded by document length, the
    feat_pit rule) → three combinable aggregates (occurrences, word
    stats, phrase scores) whose join keys are (doc, island) and
    token — every shuffle is on reduced grain; the final TakeOrdered
    is a 20-row reduce."""
    d = load(spark, sf_dir, "documents")
    toks = (
        d.select(
            "doc_id",
            F.posexplode(F.split(F.lower("text"), " ")).alias(
                "pos0", "token"
            ),
        )
        .filter(F.col("token") != "")
        .select("doc_id", (F.col("pos0") + 1).alias("pos"), "token")
    )
    freq0 = toks.groupBy("token").agg(
        F.count(F.lit(1)).cast("bigint").alias("f")
    )
    top5 = (
        freq0.select(
            "token",
            F.row_number()
            .over(Window.orderBy(F.col("f").desc(), "token"))
            .alias("rk"),
        )
        .filter(F.col("rk") <= 5)
        .select("token")
    )
    stop = top5.unionAll(
        spark.createDataFrame([("the",), ("a",)], ["token"])
    ).distinct()
    w_isl = Window.partitionBy("doc_id").orderBy("pos")
    nonstop = toks.join(F.broadcast(stop), "token", "left_anti").select(
        "doc_id",
        "pos",
        "token",
        (F.col("pos") - F.row_number().over(w_isl)).alias("island"),
    )
    # plen rides the SAME per-doc sort as the island id (a second
    # window over (doc, island) — no occurrence-table join-back; the
    # earlier occ⋈nonstop formulation scanned the token relation three
    # times, 3.4 s → ~1 s).
    nonstop = nonstop.withColumn(
        "plen",
        F.count(F.lit(1))
        .over(Window.partitionBy("doc_id", "island"))
        .cast("bigint"),
    )
    nonstop = nonstop.localCheckpoint(eager=False)
    wscore = (
        nonstop.groupBy("token")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("freq"),
            F.sum("plen").cast("bigint").alias("deg"),
        )
        .select(
            "token",
            F.floor(
                F.col("deg").cast("double") / F.col("freq")
                * F.lit(1000000000000.0)
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("ws"),
        )
    )
    oscore = (
        nonstop.join(F.broadcast(wscore), "token")
        .groupBy("doc_id", "island")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "token"))
                    ),
                    lambda x: x["token"],
                ),
                " ",
            ).alias("phrase"),
            F.max("plen").cast("bigint").alias("plen"),
            F.sum("ws").cast("bigint").alias("score_pico"),
        )
    )
    return (
        oscore.groupBy("phrase")
        .agg(
            F.max("plen").cast("bigint").alias("phrase_len"),
            F.count(F.lit(1)).cast("bigint").alias("n_occ"),
            F.floor(
                F.max("score_pico").cast("double") / F.lit(1000000.0)
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("score_micro"),
        )
        .orderBy(F.col("score_micro").desc(), "phrase")
        .limit(20)
    )


# Readability formulas over exact per-doc integer counts, spelled once.
# The fixture corpus has no sentence punctuation, so sentences are
# fixed 20-word pseudo-sentences (sent = ceil(w/20)) — documented
# convention, identical on both engines as pure integer arithmetic.
_READ_FRE = (
    "(206.835 - 1.015 * (CAST(w AS DOUBLE) / sent)"
    " - 84.6 * (CAST(syl AS DOUBLE) / w))"
)
_READ_ARI = (
    "(4.71 * (CAST(letters AS DOUBLE) / w)"
    " + 0.5 * (CAST(w AS DOUBLE) / sent) - 21.43)"
)


@query(
    "text_readability",
    oracle=f"""
        WITH per_doc AS (
            SELECT source,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS w,
                   CAST(len(regexp_extract_all(text, '[aeiouy]+'))
                        AS BIGINT) AS syl,
                   CAST(length(replace(text, ' ', '')) AS BIGINT)
                       AS letters,
                   CAST(floor((len(string_split(text, ' ')) + 19)
                        / 20.0) AS BIGINT) AS sent
            FROM documents
        ), scored AS (
            SELECT source, w, syl,
                   CAST(floor({_READ_FRE} * 1000000.0 + 0.5) AS BIGINT)
                       AS fre_micro,
                   CAST(floor({_READ_ARI} * 1000000.0 + 0.5) AS BIGINT)
                       AS ari_micro
            FROM per_doc
        )
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(w) AS BIGINT) AS n_words,
               CAST(sum(syl) AS BIGINT) AS n_syllables,
               CAST(floor(CAST(sum(fre_micro) AS DOUBLE) / count(*)
                    + 0.5) AS BIGINT) AS avg_fre_micro,
               CAST(floor(CAST(sum(ari_micro) AS DOUBLE) / count(*)
                    + 0.5) AS BIGINT) AS avg_ari_micro
        FROM scored
        GROUP BY source
        ORDER BY source
    """,
    phase="P2",
    tags=("text", "quality", "llm-pipeline"),
)
def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source readability scoring — Flesch Reading Ease and the
    Automated Readability Index, the two standard quality gates a
    training-data pipeline runs next to text_quality's ratio checks.
    Syllables are vowel-group counts (the classic punctuation-free
    proxy); sentences are fixed 20-word pseudo-sentences because the
    fixture corpus carries no terminal punctuation (convention
    documented in the shared formula block).

    Exactness: every per-doc input (words, vowel groups, letters,
    pseudo-sentences) is an exact integer from engine-identical
    regex/split semantics (the text_token_count-proven conventions);
    each score micro-quantizes at DOC grain so the per-source sums
    are order-free BIGINTs; the final average is one spelled IEEE
    division. No floats ever cross an aggregation boundary raw.

    Plan: one projection pass computes all counts (regexp_extract_all
    + split stay in whole-stage codegen — no UDF), then ONE
    combinable aggregate to source grain; at 100 TB the shuffle moves
    5 moment rows per partition."""
    d = load(spark, sf_dir, "documents")
    w = F.size(F.split(F.col("text"), " ")).cast("bigint")
    syl = F.size(
        F.expr("regexp_extract_all(text, '[aeiouy]+', 0)")
    ).cast("bigint")
    letters = F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast(
        "bigint"
    )
    sent = F.floor((w + F.lit(19)) / F.lit(20.0)).cast("bigint")
    per_doc = d.select(
        "source",
        w.alias("w"),
        syl.alias("syl"),
        letters.alias("letters"),
        sent.alias("sent"),
    )
    scored = per_doc.select(
        "source",
        "w",
        "syl",
        micro(F.expr(_READ_FRE)).alias("fre_micro"),
        micro(F.expr(_READ_ARI)).alias("ari_micro"),
    )
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("w").cast("bigint").alias("n_words"),
            F.sum("syl").cast("bigint").alias("n_syllables"),
            F.floor(
                F.sum("fre_micro").cast("double") / F.count(F.lit(1))
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("avg_fre_micro"),
            F.floor(
                F.sum("ari_micro").cast("double") / F.count(F.lit(1))
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("avg_ari_micro"),
        )
        .orderBy("source")
    )


# Heaps-law OLS over per-source (ln N, ln V) points, spelled once.
# Sums arrive pico-quantized (BIGINT); the slope/intercept read them
# back to doubles in ONE shared expression.
_HP_SLOPE = (
    "((np * (CAST(sxy AS DOUBLE) / 1000000000000.0)"
    " - (CAST(sx AS DOUBLE) / 1000000000000.0)"
    " * (CAST(sy AS DOUBLE) / 1000000000000.0))"
    " / (np * (CAST(sx2 AS DOUBLE) / 1000000000000.0)"
    " - (CAST(sx AS DOUBLE) / 1000000000000.0)"
    " * (CAST(sx AS DOUBLE) / 1000000000000.0)))"
)
_HP_INTERCEPT = (
    f"((CAST(sy AS DOUBLE) / 1000000000000.0"
    f" - {_HP_SLOPE} * (CAST(sx AS DOUBLE) / 1000000000000.0)) / np)"
)


@query(
    "text_heaps_law",
    oracle=f"""
        WITH tok AS (
            SELECT source, unnest(string_split(text, ' ')) AS w
            FROM documents
        ), tf AS (
            SELECT source, w, CAST(count(*) AS BIGINT) AS c
            FROM tok GROUP BY source, w
        ), src AS (
            SELECT source,
                   CAST(sum(c) AS BIGINT) AS n_tokens,
                   CAST(count(*) AS BIGINT) AS vocab,
                   CAST(count(*) FILTER (WHERE c = 1) AS BIGINT)
                       AS hapax
            FROM tf GROUP BY source
        ), pts AS (
            SELECT source, n_tokens, vocab, hapax,
                   CAST(floor(ln(CAST(n_tokens AS DOUBLE))
                        * 1000000000000.0 + 0.5) AS BIGINT) AS x,
                   CAST(floor(ln(CAST(vocab AS DOUBLE))
                        * 1000000000000.0 + 0.5) AS BIGINT) AS y,
                   CAST(floor(ln(CAST(n_tokens AS DOUBLE))
                        * ln(CAST(n_tokens AS DOUBLE))
                        * 1000000000000.0 + 0.5) AS BIGINT) AS x2,
                   CAST(floor(ln(CAST(n_tokens AS DOUBLE))
                        * ln(CAST(vocab AS DOUBLE))
                        * 1000000000000.0 + 0.5) AS BIGINT) AS xy
            FROM src
        ), fit AS (
            SELECT CAST(count(*) AS BIGINT) AS np,
                   CAST(sum(x) AS BIGINT) AS sx,
                   CAST(sum(y) AS BIGINT) AS sy,
                   CAST(sum(x2) AS BIGINT) AS sx2,
                   CAST(sum(xy) AS BIGINT) AS sxy
            FROM pts
        )
        SELECT source, n_tokens, vocab, hapax,
               CAST(floor(CAST(hapax AS DOUBLE) / vocab * 1000000.0
                    + 0.5) AS BIGINT) AS hapax_ratio_micro,
               CAST(floor({_HP_SLOPE} * 1000000.0 + 0.5) AS BIGINT)
                   AS heaps_beta_micro,
               CAST(floor({_HP_INTERCEPT} * 1000000.0 + 0.5) AS BIGINT)
                   AS heaps_lnk_micro
        FROM pts, fit
        ORDER BY source
    """,
    phase="P3",
    tags=("text", "corpus-health", "llm-pipeline"),
)
def text_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary-growth fit across sources — V = K*N^beta
    via OLS of ln(vocab) on ln(tokens) over the 20 per-source points
    — plus each source's hapax-legomena ratio: the corpus-health
    companion to text_zipf_fit (Zipf reads the frequency head; Heaps
    + hapax read the tail — template spam collapses beta and the
    hapax ratio, OCR noise inflates both).

    Exactness: token counts are exact integers from the proven
    split-on-space convention; every ln-crossing regression term
    pico-quantizes at SOURCE grain (zipf discipline) so the 20-point
    sums are order-free BIGINTs; slope/intercept/ratios are shared
    IEEE formula strings.

    Plan: corpus -> (source, token) grain in ONE combinable agg
    after the explode (the tfidf shuffle shape); source grain (20
    rows) folds from it; the 1-row fit broadcast-cross-joins back.
    The explode is the only data-sized stage at 100 TB."""
    d = load(spark, sf_dir, "documents")
    tf = (
        d.select(
            "source", F.explode(F.split(F.col("text"), " ")).alias("w")
        )
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    src = tf.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("vocab"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("hapax"),
    )
    lnn = F.log(F.col("n_tokens").cast("double"))
    lnv = F.log(F.col("vocab").cast("double"))
    pts = src.select(
        "source",
        "n_tokens",
        "vocab",
        "hapax",
        F.floor(lnn * F.lit(1e12) + F.lit(0.5)).cast("bigint").alias("x"),
        F.floor(lnv * F.lit(1e12) + F.lit(0.5)).cast("bigint").alias("y"),
        F.floor(lnn * lnn * F.lit(1e12) + F.lit(0.5))
        .cast("bigint")
        .alias("x2"),
        F.floor(lnn * lnv * F.lit(1e12) + F.lit(0.5))
        .cast("bigint")
        .alias("xy"),
    )
    fit = pts.agg(
        F.count(F.lit(1)).cast("bigint").alias("np"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum("x2").cast("bigint").alias("sx2"),
        F.sum("xy").cast("bigint").alias("sxy"),
    )
    return (
        pts.crossJoin(F.broadcast(fit))
        .select(
            "source",
            "n_tokens",
            "vocab",
            "hapax",
            micro(F.col("hapax").cast("double") / F.col("vocab"))
            .alias("hapax_ratio_micro"),
            micro(F.expr(_HP_SLOPE)).alias("heaps_beta_micro"),
            micro(F.expr(_HP_INTERCEPT)).alias("heaps_lnk_micro"),
        )
        .orderBy("source")
    )


# Char-bigram entropy terms over exact (source, bigram) counts.
_CE_JOINT = "(CAST(nab AS DOUBLE) / ntot)"
_CE_TERM_BG = f"({_CE_JOINT} * ln({_CE_JOINT}))"
_CE_TERM_COND = f"({_CE_JOINT} * ln(CAST(nab AS DOUBLE) / na))"


@query(
    "text_char_bigram_entropy",
    oracle=f"""
        WITH sampled AS (
            SELECT source, text FROM documents
            WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '4'
        ), grams AS (
            SELECT source, substr(text, i, 2) AS bg,
                   substr(text, i, 1) AS c1
            FROM (
                SELECT source, text,
                       unnest(range(1, length(text))) AS i
                FROM sampled
            )
        ), bg_counts AS (
            SELECT source, bg, c1, CAST(count(*) AS BIGINT) AS nab
            FROM grams GROUP BY source, bg, c1
        ), c1_counts AS (
            SELECT source, c1, CAST(sum(nab) AS BIGINT) AS na
            FROM bg_counts GROUP BY source, c1
        ), tot AS (
            SELECT source, CAST(sum(nab) AS BIGINT) AS ntot,
                   CAST(count(*) AS BIGINT) AS vocab
            FROM bg_counts GROUP BY source
        ), terms AS (
            SELECT b.source,
                   CAST(floor({_CE_TERM_BG} * 1000000000000.0 + 0.5)
                        AS BIGINT) AS tb,
                   CAST(floor({_CE_TERM_COND} * 1000000000000.0 + 0.5)
                        AS BIGINT) AS tc
            FROM bg_counts b
            JOIN c1_counts c ON c.source = b.source AND c.c1 = b.c1
            JOIN tot t ON t.source = b.source
        )
        SELECT t.source, t.ntot AS n_bigrams, t.vocab AS vocab_bigrams,
               CAST(floor(-CAST(s.sb AS DOUBLE) / 1000000.0 + 0.5)
                    AS BIGINT) AS h_bigram_micro,
               CAST(floor(-CAST(s.sc AS DOUBLE) / 1000000.0 + 0.5)
                    AS BIGINT) AS h_cond_micro
        FROM tot t JOIN (
            SELECT source, CAST(sum(tb) AS BIGINT) AS sb,
                   CAST(sum(tc) AS BIGINT) AS sc
            FROM terms GROUP BY source
        ) s ON s.source = t.source
        ORDER BY t.source
    """,
    phase="P3",
    tags=("text", "entropy", "llm-pipeline"),
)
def text_char_bigram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-bigram entropy H(c1,c2) and CONDITIONAL entropy
    H(c2|c1) per source (deterministic 25% md5-band doc sample — doc_id % k
    would alias against the fixture's source = doc_id %% 20 layout) — the entropy-RATE proxy
    that catches what unigram entropy (text_entropy) can't: template
    spam keeps a natural character distribution but collapses the
    conditional entropy because every character predicts the next.
    H(c2|c1) = H(bigram) - H(first char) folds from one joint/marginal
    count pair.

    Exactness: bigram and marginal counts are exact integers from
    engine-identical substr/length semantics (ASCII fixture, pinned);
    every ln-crossing term pico-quantizes at (source, bigram) grain —
    the alphabet bounds that grain at ~1k rows/source regardless of
    corpus size — so the entropy folds are order-free BIGINT sums.

    Plan: the position explode is the only data-sized stage (the
    text_ngram_freq shape — sequence + explode stays in codegen, no
    UDF); counts collapse to alphabet-bounded grain map-side; the
    marginal join runs at that bounded grain.

    r13 (scratch/r13o_bigram_ab.py, same-session A/B at bench confs):
    (1) the tot broadcast subtree failed exchange reuse, so the
    data-sized explode+partial-agg pipeline ran TWICE per action
    (history/plans/r13/text_char_bigram_entropy_before.txt: two
    Generate+Exchange pairs) — bg_counts now lazily
    localCheckpoints (alphabet-bounded, ~1k rows/source at ANY corpus
    size) and all four readers share the one materialization;
    (2) the group keys of the data-sized aggregate are now an integer
    bigram code ascii(c1)·256+ascii(c2) instead of 2-char/1-char
    UTF8String keys — bijective on the pinned-ASCII fixture, so
    counts at (source, code) grain equal counts at (source, bg, c1)
    grain, while the per-character hash probe and the shuffle key
    narrow to a long (guide §2.2). 1.80/1.85 → 1.42/1.57 s min/med
    quiet, −36% med under load; oracle-exact 3 SFs."""
    d = load(spark, sf_dir, "documents").filter(
        F.substring(
            F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 1
        )
        < "4"
    )
    grams = d.select(
        "source",
        F.explode(
            F.sequence(F.lit(1), F.length("text") - F.lit(1))
        ).alias("i"),
        "text",
    ).selectExpr(
        "source",
        # Integer bigram key: bijective with (c1, c2) ONLY while both
        # codepoints are < 256 — ascii() returns the full codepoint, so
        # a non-ASCII corpus would silently MERGE distinct bigrams
        # (c1*256+c2 collides once c2 >= 256). Enforced in the plan via
        # the dedup_simhash house guard (assert_true, null→0 good path):
        # a non-ASCII corpus fails red instead of corrupting counts
        # (VERDICT r13 Next #6).
        "ascii(substr(text, i, 1)) * 256 + ascii(substr(text, i + 1, 1))"
        " + coalesce(CAST(assert_true("
        "ascii(substr(text, i, 1)) < 256 AND ascii(substr(text, i + 1, 1))"
        " < 256, 'text_char_bigram_entropy: non-ASCII codepoint breaks"
        " the integer bigram-key bijection') AS INT), 0)"
        " AS bgc",
    )
    bg_counts = (
        grams.groupBy("source", "bgc")
        .agg(F.count(F.lit(1)).cast("bigint").alias("nab"))
        .select(
            "source",
            "bgc",
            (F.col("bgc") / 256).cast("int").alias("c1c"),
            "nab",
        )
        .localCheckpoint(eager=False)
    )
    c1_counts = bg_counts.groupBy("source", "c1c").agg(
        F.sum("nab").cast("bigint").alias("na")
    )
    tot = bg_counts.groupBy("source").agg(
        F.sum("nab").cast("bigint").alias("ntot"),
        F.count(F.lit(1)).cast("bigint").alias("vocab"),
    )
    terms = (
        bg_counts.join(c1_counts, ["source", "c1c"])
        .join(F.broadcast(tot), "source")
        .select(
            "source",
            F.floor(F.expr(_CE_TERM_BG) * F.lit(1e12) + F.lit(0.5))
            .cast("bigint")
            .alias("tb"),
            F.floor(F.expr(_CE_TERM_COND) * F.lit(1e12) + F.lit(0.5))
            .cast("bigint")
            .alias("tc"),
        )
    )
    folds = terms.groupBy("source").agg(
        F.sum("tb").cast("bigint").alias("sb"),
        F.sum("tc").cast("bigint").alias("sc"),
    )
    return (
        tot.join(folds, "source")
        .select(
            "source",
            F.col("ntot").alias("n_bigrams"),
            F.col("vocab").alias("vocab_bigrams"),
            F.floor(
                -F.col("sb").cast("double") / F.lit(1000000.0) + F.lit(0.5)
            )
            .cast("bigint")
            .alias("h_bigram_micro"),
            F.floor(
                -F.col("sc").cast("double") / F.lit(1000000.0) + F.lit(0.5)
            )
            .cast("bigint")
            .alias("h_cond_micro"),
        )
        .orderBy("source")
    )


_VOCAB_KS = (10, 100, 1000, 10000)


@query(
    "text_vocab_coverage",
    oracle=f"""
        WITH tok AS (
            SELECT unnest(list_filter(string_split(lower(text), ' '),
                          t -> t <> '')) AS t
            FROM documents
        ),
        vocab AS (
            SELECT t, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY t
        ),
        ranked AS (
            SELECT c, row_number() OVER (ORDER BY c DESC, t) AS rnk,
                   CAST(sum(c) OVER (ORDER BY c DESC, t
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
            FROM vocab
        ),
        tot AS (
            SELECT CAST(sum(c) AS BIGINT) AS total,
                   CAST(count(*) AS BIGINT) AS vsize
            FROM vocab
        )
        SELECT k, least(k, tot.vsize) AS vocab_used,
               coalesce(r.cum, tot.total) AS covered_tokens,
               tot.total AS total_tokens,
               CAST(floor(CAST(coalesce(r.cum, tot.total) AS DOUBLE)
                    / tot.total * 1000000.0 + 0.5) AS BIGINT)
                   AS coverage_micro
        FROM (VALUES {", ".join(f"({k})" for k in _VOCAB_KS)}) AS ks(k)
        CROSS JOIN tot
        LEFT JOIN ranked r ON r.rnk = least(ks.k, tot.vsize)
        ORDER BY k
    """,
    phase="P4",
    tags=("text", "vocabulary", "tokenizer"),
)
def text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve: what fraction of all corpus tokens
    the top-k vocabulary covers at k = 10/100/1000/10000 — the number
    that sizes a tokenizer (or an OOV budget) BEFORE training it:
    coverage at the planned vocab size is the ceiling on non-<unk>
    tokens, and a shallow curve says the corpus needs subword units,
    not a bigger word vocab (companions: text_zipf_fit models the
    same curve's slope; text_oov_rate measures a CHOSEN vocab
    after the fact).

    Exactness: counts and cumulative sums are exact BIGINTs over
    deterministic (count DESC, token ASC) ranking; the coverage
    ratio is one spelled division; k beyond the vocabulary
    saturates to full coverage via the same coalesce on both
    engines.

    Plan: corpus scanned ONCE into vocabulary grain (combinable
    token counts — the text.py house reduction); ranking windows run
    at dictionary scale, and the k probes are a 4-row broadcast
    lookup against the ranked relation."""
    d = load(spark, sf_dir, "documents")
    tok = d.select(
        F.explode(
            F.filter(
                F.split(F.lower(F.col("text")), " "), lambda t: t != ""
            )
        ).alias("t")
    )
    vocab = tok.groupBy("t").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    w_rank = Window.orderBy(F.desc("c"), F.asc("t"))
    w_cum = Window.orderBy(F.desc("c"), F.asc("t")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    ranked = vocab.select(
        F.row_number().over(w_rank).alias("rnk"),
        F.sum("c").over(w_cum).cast("bigint").alias("cum"),
    )
    tot = vocab.agg(
        F.sum("c").cast("bigint").alias("total"),
        F.count(F.lit(1)).cast("bigint").alias("vsize"),
    )
    ks = spark.createDataFrame([(k,) for k in _VOCAB_KS], "k long")
    joined = (
        ks.crossJoin(F.broadcast(tot))
        .join(
            ranked,
            F.col("rnk") == F.least(F.col("k"), F.col("vsize")),
            "left",
        )
    )
    covered = F.coalesce(F.col("cum"), F.col("total"))
    return joined.select(
        "k",
        F.least(F.col("k"), F.col("vsize")).alias("vocab_used"),
        covered.alias("covered_tokens"),
        F.col("total").alias("total_tokens"),
        micro(covered.cast("double") / F.col("total")).alias("coverage_micro"),
    ).orderBy("k")


# Jensen-Shannon divergence of each source's unigram distribution vs
# the corpus. Present tokens contribute 0.5·(P·ln(P/M) + Q·ln(Q/M))
# pico-quantized at TOKEN grain (order-free sums); tokens a source
# lacks contribute in closed form 0.5·(1 − cov)·ln 2 (P=0 ⇒ M=Q/2),
# so the source × full-vocab grid is never materialized.
_JS_TERM = (
    "(0.5 * ({p} * ln({p} / {m}) + {q} * ln({q} / {m})))"
)


def _js_oracle() -> str:
    p = "(CAST(c_st AS DOUBLE) / n_s)"
    q = "(CAST(c_t AS DOUBLE) / n)"
    m = f"(({p} + {q}) / 2.0)"
    term = _JS_TERM.format(p=p, q=q, m=m)
    return f"""
        WITH cell AS (
            SELECT source,
                   unnest(list_filter(string_split(lower(text), ' '),
                          t -> t <> '')) AS t
            FROM documents
        ),
        sc AS (
            SELECT source, t, CAST(count(*) AS BIGINT) AS c_st
            FROM cell GROUP BY source, t
        ),
        vocab AS (
            SELECT t, CAST(sum(c_st) AS BIGINT) AS c_t FROM sc GROUP BY t
        ),
        totals AS (
            SELECT CAST(sum(c_t) AS BIGINT) AS n FROM vocab
        ),
        src_tot AS (
            SELECT source, CAST(sum(c_st) AS BIGINT) AS n_s
            FROM sc GROUP BY source
        ),
        terms AS (
            SELECT s.source,
                   CAST(floor({term} * 1000000000000.0 + 0.5) AS BIGINT)
                       AS t_pico,
                   v.c_t
            FROM sc s
            JOIN vocab v ON v.t = s.t
            JOIN src_tot st ON st.source = s.source
            CROSS JOIN totals
        ),
        folded AS (
            SELECT source,
                   CAST(count(*) AS BIGINT) AS n_shared_vocab,
                   CAST(sum(t_pico) AS BIGINT) AS sum_term_pico,
                   CAST(sum(c_t) AS BIGINT) AS covered_c
            FROM terms GROUP BY source
        )
        SELECT f.source, st.n_s AS n_tokens, f.n_shared_vocab,
               f.sum_term_pico,
               CAST(floor((CAST(f.sum_term_pico AS DOUBLE)
                        / 1000000000000.0
                    + 0.5 * (1.0 - CAST(f.covered_c AS DOUBLE)
                             / totals.n) * ln(2.0))
                    * 1000000.0 + 0.5) AS BIGINT) AS js_micro
        FROM folded f
        JOIN src_tot st ON st.source = f.source
        CROSS JOIN totals
        ORDER BY f.source
    """


@query(
    "text_source_divergence",
    oracle=_js_oracle(),
    phase="P4",
    tags=("text", "distribution", "mixture"),
)
def text_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence of each source's unigram distribution
    against the whole corpus — the mixture-health number beside
    mixture_kl_divergence's pairwise view: a source drifting toward
    JS ≈ ln 2 contributes vocabulary the rest of the corpus doesn't
    share (could be gold diversity, could be boilerplate spam —
    text_novelty and dedup_impact_report arbitrate), while JS ≈ 0
    sources are redundant to the mixture.

    Exactness: per-token JS terms quantize to pico the moment
    computed (order-free sums at token grain); the closed-form
    absent-vocabulary correction 0.5·(1−cov)·ln 2 (P=0 ⇒ M=Q/2)
    avoids materializing source × vocab and is one spelled
    expression; ln follows the repo's cross-engine precedent
    (seq_survival_km pico-ln).

    Plan: corpus scanned ONCE into (source, token) grain; vocabulary
    and source totals derive from that relation; the term join runs
    at cell grain. Never a second corpus pass, never a dense grid."""
    d = load(spark, sf_dir, "documents")
    cell = d.select(
        "source",
        F.explode(
            F.filter(
                F.split(F.lower(F.col("text")), " "), lambda t: t != ""
            )
        ).alias("t"),
    )
    sc = (
        cell.groupBy("source", "t")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c_st"))
        .localCheckpoint(eager=True)  # three consumers: one corpus pass
    )
    vocab = sc.groupBy("t").agg(F.sum("c_st").cast("bigint").alias("c_t"))
    totals = vocab.agg(F.sum("c_t").cast("bigint").alias("n"))
    src_tot = sc.groupBy("source").agg(
        F.sum("c_st").cast("bigint").alias("n_s")
    )
    p = F.col("c_st").cast("double") / F.col("n_s")
    q = F.col("c_t").cast("double") / F.col("n")
    m = (p + q) / F.lit(2.0)
    term = F.lit(0.5) * (
        p * F.log(p / m) + q * F.log(q / m)
    )
    terms = (
        sc.join(vocab, "t")
        .join(F.broadcast(src_tot), "source")
        .crossJoin(F.broadcast(totals))
        .select(
            "source",
            F.floor(term * F.lit(1000000000000.0) + F.lit(0.5))
            .cast("bigint")
            .alias("t_pico"),
            "c_t",
        )
    )
    folded = terms.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_shared_vocab"),
        F.sum("t_pico").cast("bigint").alias("sum_term_pico"),
        F.sum("c_t").cast("bigint").alias("covered_c"),
    )
    return (
        folded.join(F.broadcast(src_tot), "source")
        .crossJoin(F.broadcast(totals))
        .select(
            "source",
            F.col("n_s").alias("n_tokens"),
            "n_shared_vocab",
            "sum_term_pico",
            micro(
                F.col("sum_term_pico").cast("double")
                / F.lit(1000000000000.0)
                + F.lit(0.5)
                * (
                    F.lit(1.0) - F.col("covered_c").cast("double") / F.col("n")
                )
                * F.log(F.lit(2.0))
            ).alias("js_micro"),
        )
        .orderBy("source")
    )


# --- curation operating-point sweep (r10) ----------------------------------


@query(
    "quality_threshold_sweep",
    oracle="""
        WITH base AS (
            SELECT doc_id, n_chars,
                   len(toks) AS n_tokens,
                   len(list_distinct(toks)) AS n_distinct
            FROM (SELECT doc_id, n_chars,
                         string_split(lower(text), ' ') AS toks
                  FROM documents)
        ),
        banded AS (
            SELECT CAST(least(floor(CAST(n_distinct AS DOUBLE)
                        / n_tokens * 20.0), 19.0) AS BIGINT) AS band_id,
                   n_chars, n_tokens
            FROM base
        ),
        counts AS (
            SELECT band_id,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS n_chars,
                   CAST(sum(n_tokens) AS BIGINT) AS n_tokens
            FROM banded GROUP BY band_id
        )
        SELECT band_id,
               CAST(band_id * 50000 AS BIGINT) AS band_lo_micro,
               n_docs,
               CAST(sum(n_docs) OVER (ORDER BY band_id DESC
                    ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS docs_retained,
               CAST(sum(n_chars) OVER (ORDER BY band_id DESC
                    ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS chars_retained,
               CAST(sum(n_tokens) OVER (ORDER BY band_id DESC
                    ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS tokens_retained
        FROM counts
        ORDER BY band_id
    """,
    phase="P4",
    tags=("text", "quality", "curation", "tuning"),
)
def quality_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-gate operating-point sweep: histogram of the corpus over
    0.05-wide bands of the vocabulary-diversity score (distinct/total
    tokens — text_quality's graded signal), with cumulative docs,
    chars, and tokens retained at-or-above each band. This is the
    curve a curation pipeline reads to PICK its quality threshold —
    "where does tightening the gate start deleting real data?" — the
    same decision sim_threshold_sweep answers for the dedup cosine.

    Exactness: the band floors one spelled double division of two
    exact integers (same expression both engines, so band membership
    can't flip); every retained figure is an exact integer sum over a
    ≤20-row cumulative window.

    Plan: one corpus scan → per-doc integer triple (map-only array
    expressions, no shuffle) → 20-key combinable agg → 20-row window.
    At 100 TB the only data-scale stage is the scan."""
    d = load(spark, sf_dir, "documents")
    toks = F.split(F.lower("text"), " ")
    base = d.select(
        "n_chars",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
    )
    banded = base.select(
        F.least(
            F.floor(
                F.col("n_distinct").cast("double")
                / F.col("n_tokens")
                * F.lit(20.0)
            ),
            F.lit(19.0),
        )
        .cast("bigint")
        .alias("band_id"),
        "n_chars",
        "n_tokens",
    )
    counts = banded.groupBy("band_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("n_chars"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
    )
    w = Window.orderBy(F.desc("band_id")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return counts.select(
        "band_id",
        (F.col("band_id") * F.lit(50000)).cast("bigint").alias(
            "band_lo_micro"
        ),
        "n_docs",
        F.sum("n_docs").over(w).cast("bigint").alias("docs_retained"),
        F.sum("n_chars").over(w).cast("bigint").alias("chars_retained"),
        F.sum("n_tokens").over(w).cast("bigint").alias("tokens_retained"),
    ).orderBy("band_id")


_COVERAGE_KS = (10, 100, 1000)


@query(
    "text_ngram_coverage_curve",
    oracle=f"""
        WITH tf AS (
            SELECT token, CAST(count(*) AS BIGINT) AS tf
            FROM (
                SELECT unnest(list_filter(string_split(lower(text), ' '),
                              t -> t <> '')) AS token
                FROM documents
            )
            GROUP BY token
        ),
        ranked AS (
            SELECT tf,
                   row_number() OVER (ORDER BY tf DESC, token) AS rnk
            FROM tf
        ),
        wide AS (
            SELECT CAST(count(*) AS BIGINT) AS vocab,
                   CAST(sum(tf) AS BIGINT) AS total,
                   {", ".join(
                       f"CAST(sum(CASE WHEN rnk <= {k} THEN tf ELSE 0 END)"
                       f" AS BIGINT) AS c{k}" for k in _COVERAGE_KS)}
            FROM ranked
        )
        SELECT CAST(k AS BIGINT) AS k, vocab, total, covered,
               CAST(floor(CAST(covered AS DOUBLE) / total * 1000000.0
                    + 0.5) AS BIGINT) AS coverage_micro
        FROM (
            {" UNION ALL ".join(
                f"SELECT {k} AS k, vocab, total, c{k} AS covered FROM wide"
                for k in _COVERAGE_KS)}
        )
        ORDER BY k
    """,
    phase="P4",
    tags=("text", "vocabulary"),
)
def text_ngram_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-mass coverage curve: what fraction of all corpus token
    occurrences the top-k vocabulary entries account for, at
    k ∈ {10, 100, 1000} — the curve that sizes a tokenizer vocabulary
    or a stopword list (Zipfian corpora cover ~50% with tens of
    types; a flat curve means high lexical diversity and a bigger
    vocab budget). Completes text_zipf_fit (the exponent) and
    text_heaps_law (vocab growth) with the actual cumulative shares.

    Exactness: term frequencies are exact BIGINTs; ranking breaks tf
    ties lexicographically (deterministic); the three cumulative
    masses are conditional integer sums in ONE wide aggregate; each
    coverage share is one spelled division micro-quantized.

    Plan: one tokenize-explode pass to term grain (the only
    corpus-sized stage), one row_number window at VOCAB grain (at
    extreme vocab cardinality the same curve runs off
    agg_approx_percentile's two-phase selection instead), a 1-row
    wide aggregate, a 3-row stack."""
    d = load(spark, sf_dir, "documents")
    tf = (
        d.select(
            F.explode(F.split(F.lower("text"), " ")).alias("token")
        )
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    w = Window.orderBy(F.desc("tf"), F.asc("token"))
    ranked = tf.select("tf", F.row_number().over(w).alias("rnk"))
    wide = ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("vocab"),
        F.sum("tf").cast("bigint").alias("total"),
        *[
            F.sum(F.when(F.col("rnk") <= k, F.col("tf")).otherwise(0))
            .cast("bigint")
            .alias(f"c{k}")
            for k in _COVERAGE_KS
        ],
    )
    stack_args = []
    for k in _COVERAGE_KS:
        stack_args += [F.lit(k).cast("bigint"), F.col(f"c{k}")]
    return (
        wide.select(
            "vocab",
            "total",
            F.stack(F.lit(len(_COVERAGE_KS)), *stack_args).alias(
                "k", "covered"
            ),
        )
        .select(
            "k",
            "vocab",
            "total",
            "covered",
            micro(F.col("covered").cast("double") / F.col("total"))
            .alias("coverage_micro"),
        )
        .orderBy("k")
    )


_KN_D = 0.75  # absolute-discount mass (the standard Kneser-Ney value)


@query(
    "text_kneser_ney",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, u.w, u.ord
            FROM (
                SELECT doc_id,
                       list_filter(string_split(lower(text), ' '),
                                   t -> t <> '') AS ts
                FROM documents
            ), LATERAL (
                SELECT unnest(ts) AS w,
                       unnest(range(1, len(ts) + 1)) AS ord
            ) u
        ),
        seq AS (
            SELECT doc_id,
                   lag(w) OVER (PARTITION BY doc_id ORDER BY ord) AS w1,
                   w AS w2
            FROM toks
        ),
        doc_bg AS (
            SELECT doc_id, w1, w2, CAST(count(*) AS BIGINT) AS cnt
            FROM seq WHERE w1 IS NOT NULL
            GROUP BY doc_id, w1, w2
        ),
        corpus AS (
            SELECT w1, w2, CAST(sum(cnt) AS BIGINT) AS c12
            FROM doc_bg GROUP BY w1, w2
        ),
        stats AS (
            SELECT w1, w2, c12,
                   CAST(sum(c12) OVER (PARTITION BY w1) AS BIGINT) AS c1,
                   CAST(count(*) OVER (PARTITION BY w1) AS BIGINT) AS n1w1,
                   CAST(count(*) OVER (PARTITION BY w2) AS BIGINT) AS ncw2,
                   CAST(count(*) OVER () AS BIGINT) AS ntypes
            FROM corpus
        ),
        scored AS (
            SELECT w1, w2,
                   CAST(floor(-ln(
                       (c12 - {_KN_D}) / c1
                       + ({_KN_D} * n1w1 / c1) * (CAST(ncw2 AS DOUBLE)
                                                  / ntypes))
                       * 1000000.0 + 0.5) AS BIGINT) AS nll_micro
            FROM stats
        )
        SELECT d.doc_id,
               CAST(sum(d.cnt) AS BIGINT) AS n_bigrams,
               CAST(floor(CAST(sum(d.cnt * s.nll_micro) AS DOUBLE)
                    / sum(d.cnt) + 0.5) AS BIGINT) AS mean_nll_kn_micro
        FROM doc_bg d JOIN scored s USING (w1, w2)
        GROUP BY d.doc_id
        ORDER BY d.doc_id
    """,
    phase="P4",
    tags=("text", "language-model"),
)
def text_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kneser-Ney-smoothed bigram fluency score per document — the
    production upgrade over text_bigram_lm's MLE: absolute discount
    D = 0.75 reserves mass from every observed bigram and backs off
    to the CONTINUATION unigram (how many distinct contexts a word
    follows, not how often it occurs) — the distinction that stops
    "san francisco"-style collocation words from leaking probability
    into impossible contexts. Docs whose KN score diverges from their
    MLE score are exactly the ones leaning on rare collocations.

    P_KN(w₂|w₁) = (C₁₂−D)/C₁ + (D·N₁₊(w₁·)/C₁)·(N₁₊(·w₂)/N₁₊(··));
    every −ln P quantizes to micro at CORPUS-PAIR grain, so per-doc
    scores are order-free integer folds (Σcnt·nll / Σcnt, one spelled
    division). Self-scored corpus ⇒ every bigram observed ⇒ C₁₂ > D
    and the ln argument is strictly positive.

    Plan: corpus-sized stages are the tokenize/explode and ONE
    (doc, bigram) groupBy; the corpus pair relation derives by a
    re-agg at DISTINCT-BIGRAM grain, where all four KN statistics
    attach as three window sums over that same reduced relation (the
    text_bigram_lm no-rescan trick, plus the w2 continuation
    partition); scoring joins back on (w1, w2) — co-partitioned with
    the grain it was built at."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.posexplode(F.split(F.lower("text"), " ")).alias("ord", "w"),
    ).filter(F.col("w") != "")
    w_seq = Window.partitionBy("doc_id").orderBy("ord")
    seq = toks.select(
        "doc_id", F.lag("w").over(w_seq).alias("w1"), F.col("w").alias("w2")
    ).filter(F.col("w1").isNotNull())
    doc_bg = seq.groupBy("doc_id", "w1", "w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    corpus = doc_bg.groupBy("w1", "w2").agg(
        F.sum("cnt").cast("bigint").alias("c12")
    )
    w1p = Window.partitionBy("w1")
    w2p = Window.partitionBy("w2")
    allp = Window.partitionBy()
    stats = corpus.select(
        "w1",
        "w2",
        "c12",
        F.sum("c12").over(w1p).cast("bigint").alias("c1"),
        F.count(F.lit(1)).over(w1p).cast("bigint").alias("n1w1"),
        F.count(F.lit(1)).over(w2p).cast("bigint").alias("ncw2"),
        F.count(F.lit(1)).over(allp).cast("bigint").alias("ntypes"),
    )
    p_kn = (F.col("c12") - F.lit(_KN_D)) / F.col("c1") + (
        F.lit(_KN_D) * F.col("n1w1") / F.col("c1")
    ) * (F.col("ncw2").cast("double") / F.col("ntypes"))
    scored = stats.select(
        "w1",
        "w2",
        micro(-F.log(p_kn)).alias("nll_micro"),
    )
    return (
        doc_bg.join(scored, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_bigrams"),
            F.floor(
                F.sum(F.col("cnt") * F.col("nll_micro")).cast("double")
                / F.sum("cnt")
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("mean_nll_kn_micro"),
        )
        .orderBy("doc_id")
    )


@query(
    "text_sentence_dedup_rate",
    oracle="""
        WITH sents AS (
            SELECT doc_id, source,
                   unnest(list_filter(list_transform(
                       regexp_split_to_array(text, '[.!?]+'),
                       s -> trim(s)), s -> s <> '')) AS sentence
            FROM documents
        ),
        hashed AS (
            SELECT source, md5(sentence) AS h FROM sents
        ),
        per_hash AS (
            SELECT source, h,
                   CAST(count(*) AS BIGINT) AS n_copies
            FROM hashed GROUP BY source, h
        )
        SELECT source,
               CAST(sum(n_copies) AS BIGINT) AS n_sentences,
               CAST(count(*) AS BIGINT) AS n_distinct,
               CAST(sum(n_copies - 1) AS BIGINT) AS n_dup_instances,
               CAST(floor(CAST(sum(n_copies - 1) AS DOUBLE)
                    / sum(n_copies) * 1000000.0 + 0.5) AS BIGINT)
                   AS dup_rate_micro,
               CAST(max(n_copies) AS BIGINT) AS max_copies
        FROM per_hash
        GROUP BY source
        ORDER BY source
    """,
    phase="P4",
    tags=("text", "dedup", "curation"),
)
def text_sentence_dedup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence-grain duplication rate per source — the boilerplate
    census doc-level dedup structurally misses: navigation chrome,
    legal footers, and template sentences repeat across otherwise
    unique documents, and their share of a source's sentence mass is
    the number that decides whether the pipeline needs
    line/sentence-level dedup (this op) before paragraph and document
    passes. max_copies pinpoints the single worst boilerplate string.

    Sentences split on the udtf_sentence_split convention ([.!?]+
    runs, space-trimmed, empties dropped), then hash to md5 so the
    shuffle carries 32-byte keys, never sentence text. A duplicate
    INSTANCE is any occurrence beyond a hash's first (n−1 per hash).

    Plan: one explode pass, ONE (source, hash) combinable aggregate
    (map-side combine collapses repeats before the exchange — exactly
    the property boilerplate-heavy corpora reward), one source-grain
    reduce. Two linear shuffles, no pair joins."""
    d = load(spark, sf_dir, "documents")
    sents = d.select(
        "source",
        F.explode(
            F.filter(
                F.transform(
                    F.split("text", "[.!?]+"), lambda s: F.trim(s)
                ),
                lambda s: s != "",
            )
        ).alias("sentence"),
    )
    per_hash = sents.select(
        "source", F.md5(F.col("sentence").cast("binary")).alias("h")
    ).groupBy("source", "h").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_copies")
    )
    return (
        per_hash.groupBy("source")
        .agg(
            F.sum("n_copies").cast("bigint").alias("n_sentences"),
            F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
            F.sum(F.col("n_copies") - 1)
            .cast("bigint")
            .alias("n_dup_instances"),
            micro(
                F.sum(F.col("n_copies") - 1).cast("double") / F.sum("n_copies")
            ).alias("dup_rate_micro"),
            F.max("n_copies").cast("bigint").alias("max_copies"),
        )
        .orderBy("source")
    )
