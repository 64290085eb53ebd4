"""Text-analysis operators for corpus curation at scale.

Language-ID, quality scoring, token counting, and document
fingerprinting over the `documents` table — all built from JVM-side
expressions (split/regexp/md5/aggregate), no Python UDFs, so they run
inside whole-stage codegen and scale linearly with one groupBy-free
pass per document (fingerprinting adds one explode+groupBy).

All ratio outputs are integer permille (exact cross-engine math).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..functions.casts import ppm_floor
from ..registry import register

# Tiny per-language marker lexicons for the n-gram/stopword heuristic.
# (The synthetic corpus shares one vocabulary, so predictions skew
# 'en' — the operator contract is the deterministic scoring, which the
# oracle verifies value-for-value.)
LEXICONS = {
    "en": ["the", "a", "value", "fast", "table"],
    "de": ["der", "die", "und", "nicht", "ist"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "la", "los", "que", "de"],
    "zh": ["的", "是", "了", "在", "我"],
}

_TOKEN_RE = "[a-z0-9]+"  # BPE-ish lowercase word/number pieces


def _hit_count(lang: str) -> F.Column:
    """Number of tokens that are markers for `lang` (with multiplicity)."""
    markers = F.array(*[F.lit(w) for w in LEXICONS[lang]])
    return F.size(F.filter(F.col("toks"), lambda t: F.array_contains(markers, t)))


def with_tokens(df: DataFrame, text_col: str = "text") -> DataFrame:
    return df.withColumn("toks", F.split(F.col(text_col), " "))


def lang_id(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Stopword-ratio language ID: score(lang) = marker hits; pred =
    argmax (ties broken by lexicon order en,de,fr,es,zh)."""
    langs = list(LEXICONS)
    d = with_tokens(df, text_col)
    for lg in langs:
        d = d.withColumn(f"hits_{lg}", _hit_count(lg))
    best = None
    pred = None
    for lg in langs:
        c = F.col(f"hits_{lg}")
        if best is None:
            best, pred = c, F.lit(lg)
        else:
            pred = F.when(c > best, F.lit(lg)).otherwise(pred)
            best = F.when(c > best, c).otherwise(best)
    return d.select(
        F.col(id_col),
        # bigint, not int: the driver hash compares pandas frames and
        # Spark int32 vs DuckDB int64 diverge on dtype
        *[F.col(f"hits_{lg}").cast("bigint").alias(f"hits_{lg}") for lg in langs],
        pred.alias("pred_lang"),
        F.floor(F.col("hits_en") * 1000 / F.greatest(F.size("toks"), F.lit(1)))
        .cast("bigint")
        .alias("en_stopword_permille"),
    )


def quality_score(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Heuristic quality features: length, token count, mean token
    length (milli), alpha-char ratio (permille), distinct-token ratio
    (permille) → integer quality score."""
    d = with_tokens(df, text_col)
    n_toks = F.size("toks")
    n_chars = F.length(F.col(text_col))
    alpha_chars = F.length(F.regexp_replace(F.col(text_col), "[^a-z]", ""))
    distinct_toks = F.size(F.array_distinct("toks"))
    mean_tok_len_milli = F.floor(
        (n_chars - (n_toks - 1)) * 1000 / F.greatest(n_toks, F.lit(1))
    ).cast("bigint")
    alpha_permille = F.floor(alpha_chars * 1000 / F.greatest(n_chars, F.lit(1))).cast("bigint")
    distinct_permille = F.floor(distinct_toks * 1000 / F.greatest(n_toks, F.lit(1))).cast("bigint")
    return d.select(
        F.col(id_col),
        n_chars.cast("bigint").alias("n_chars"),
        n_toks.cast("bigint").alias("n_tokens"),
        distinct_toks.cast("bigint").alias("n_distinct_tokens"),
        mean_tok_len_milli.alias("mean_token_len_milli"),
        alpha_permille.alias("alpha_permille"),
        distinct_permille.alias("distinct_permille"),
        F.when((n_toks >= 20) & (distinct_permille >= 300), F.lit("good"))
        .when(n_toks >= 10, F.lit("fair"))
        .otherwise(F.lit("poor"))
        .alias("quality_bucket"),
    )


def token_stats(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Token counting: whitespace tokens + regex (BPE-ish) pieces."""
    return df.select(
        F.col(id_col),
        F.size(F.split(F.col(text_col), " ")).cast("bigint").alias("ws_tokens"),
        F.size(F.expr(f"regexp_extract_all({text_col}, '{_TOKEN_RE}', 0)"))
        .cast("bigint")
        .alias("re_tokens"),
        F.length(F.col(text_col)).cast("bigint").alias("n_chars"),
    )


def fingerprints(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Document fingerprints: full-content md5 + min-shingle-hash
    (one-permutation winnowing-style selection over word 3-grams).

    Fully map-side: the shingle set lives in an array column and the
    min-hash is ``array_min`` — zero shuffles at any corpus size
    (vs the naive explode → groupBy → join-back formulation).
    """
    from .dedup import shingle_array, spread, words

    d = spread(df, id_col).select(
        F.col(id_col),
        F.md5(F.col(text_col)).alias("content_md5"),
        words(text_col).alias("ws"),
    ).withColumn("sharr", shingle_array("ws", 3))
    n_sh = F.size("sharr")
    return d.select(
        id_col,
        "content_md5",
        F.array_min(F.transform(F.col("sharr"), F.md5)).alias("min_shingle_md5"),
        # docs with no shingles: NULL (parity with the left-join form)
        F.when(n_sh > 0, n_sh.cast("bigint")).alias("n_shingles"),
    )


# ---------------------------------------------------------------------------
# Registered queries + oracles
# ---------------------------------------------------------------------------


def _lang_oracle() -> str:
    hit_cols = []
    for lg, ws in LEXICONS.items():
        lst = ", ".join(f"'{w}'" for w in ws)
        hit_cols.append(
            f"len(list_filter(toks, t -> list_contains([{lst}], t))) AS hits_{lg}"
        )
    langs = list(LEXICONS)
    # argmax with first-wins tie-break in lexicon order, mirroring the
    # Spark when()-chain (later lang wins only on strictly greater).
    pred = f"'{langs[0]}'"
    best = f"hits_{langs[0]}"
    for lg in langs[1:]:
        pred = f"CASE WHEN hits_{lg} > {best} THEN '{lg}' ELSE {pred} END"
        best = f"greatest(hits_{lg}, {best})"
    return f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
h AS (SELECT doc_id, toks, {', '.join(hit_cols)} FROM t)
SELECT doc_id, {', '.join(f'hits_{lg}' for lg in langs)},
       {pred} AS pred_lang,
       CAST(FLOOR(hits_en * 1000 / greatest(len(toks), 1)) AS BIGINT) AS en_stopword_permille
FROM h ORDER BY doc_id
"""


@register("q26_lang_id", oracle=_lang_oracle(), doc="Stopword-lexicon language ID heuristic.")
def q26_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return lang_id(d).orderBy("doc_id")


@register(
    "q27_quality_score",
    oracle="""
WITH t AS (
  SELECT doc_id, text, string_split(text, ' ') AS toks,
         length(text) AS n_chars,
         len(string_split(text, ' ')) AS n_tokens,
         len(list_distinct(string_split(text, ' '))) AS n_distinct_tokens,
         length(regexp_replace(text, '[^a-z]', '', 'g')) AS alpha_chars
  FROM documents
)
SELECT doc_id, n_chars, n_tokens, n_distinct_tokens,
       CAST(FLOOR((n_chars - (n_tokens - 1)) * 1000 / greatest(n_tokens, 1)) AS BIGINT) AS mean_token_len_milli,
       CAST(FLOOR(alpha_chars * 1000 / greatest(n_chars, 1)) AS BIGINT) AS alpha_permille,
       CAST(FLOOR(n_distinct_tokens * 1000 / greatest(n_tokens, 1)) AS BIGINT) AS distinct_permille,
       CASE WHEN n_tokens >= 20
                 AND CAST(FLOOR(n_distinct_tokens * 1000 / greatest(n_tokens, 1)) AS BIGINT) >= 300
            THEN 'good'
            WHEN n_tokens >= 10 THEN 'fair' ELSE 'poor' END AS quality_bucket
FROM t ORDER BY doc_id
""",
    doc="Document quality-score features (length/diversity/alpha ratios, integer-exact).",
)
def q27_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return quality_score(d).orderBy("doc_id")


@register(
    "q28_token_stats",
    oracle=f"""
SELECT doc_id,
       len(string_split(text, ' ')) AS ws_tokens,
       len(regexp_extract_all(text, '{_TOKEN_RE}')) AS re_tokens,
       length(text) AS n_chars
FROM documents ORDER BY doc_id
""",
    doc="Token counting: whitespace + regex tokenizers.",
)
def q28_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return token_stats(d).orderBy("doc_id")


@register(
    "q29_fingerprints",
    oracle="""
WITH words AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(generate_series(1, greatest(len(ws)-2, 0)),
                i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shingle
  FROM words
),
sel AS (
  SELECT doc_id, MIN(md5(shingle)) AS min_shingle_md5, COUNT(*) AS n_shingles
  FROM sh GROUP BY doc_id
)
SELECT d.doc_id, md5(d.text) AS content_md5, sel.min_shingle_md5, sel.n_shingles
FROM documents d LEFT JOIN sel ON d.doc_id = sel.doc_id
ORDER BY d.doc_id
""",
    doc="Content md5 + min-shingle-hash document fingerprints.",
)
def q29_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return fingerprints(d).orderBy("doc_id")


def tfidf_top_terms(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 3
) -> DataFrame:
    """Top-k characteristic terms per doc by TF-IDF.

    tf = term count in doc; idf = ln(N / df_t) in exact double math
    (both engines fold ln over the same integers, so the oracle
    matches). Two shuffles at any scale: term counts per (doc, term)
    and the document-frequency aggregate; the DF table is tiny
    (vocabulary-sized) and broadcasts back onto the term counts.
    Score ties break on the term string for determinism.
    """
    from pyspark.sql import Window

    toks = df.select(F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("term"))
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    # corpus size as a 1-row broadcast crossJoin, not a driver-side
    # .count() — keeps the whole build declarative/lazy
    n = df.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n))
        .select(
            F.col(id_col),
            "term",
            "tf",
            "df",
            (F.col("tf") * F.log(F.col("n_docs") / F.col("df"))).alias("tfidf"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), "term")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            id_col,
            F.col("rank").cast("bigint").alias("rank"),
            "term",
            "tf",
            "df",
            F.round("tfidf", 6).alias("tfidf_r"),
        )
    )


@register(
    "q48_tfidf_top_terms",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term
), dfreq AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
), n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
         tf.tf * ln(CAST(n.n_docs AS DOUBLE) / dfreq.df) AS tfidf
  FROM tf JOIN dfreq USING (term) CROSS JOIN n
), ranked AS (
  SELECT doc_id, term, tf, df,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rank,
         round(tfidf, 6) AS tfidf_r
  FROM scored
)
SELECT doc_id, rank, term, tf, df, tfidf_r FROM ranked WHERE rank <= 3
ORDER BY doc_id, rank
""",
    doc="Top-3 characteristic terms per doc by TF-IDF (corpus DF aggregate "
    "broadcast back onto per-doc term counts).",
)
def q48_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return tfidf_top_terms(d).orderBy("doc_id", "rank")


def repetition_score(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Gopher-style repetition signals per document: duplicate-token
    and duplicate-3-gram fractions (a doc that keeps repeating itself
    is low-quality training data even when every other filter passes).

    Entirely map-side — token and shingle dedup happen inside the row
    via ``array_distinct``, so this is one corpus scan with zero
    shuffles at any scale. Fractions are integer ppm (exact
    cross-engine math).
    """
    base = with_tokens(df, text_col).select(
        F.col(id_col),
        F.size("toks").alias("n_tokens"),
        F.size(F.array_distinct("toks")).alias("distinct_tokens"),
        F.expr(
            "greatest(size(toks) - 2, 0)"
        ).alias("n_3grams"),
        # let-bound (dedup.let_array rationale): without it the aliased
        # split re-evaluates per transform element — O(words²)/doc.
        F.expr(
            "element_at(transform(array(toks), _w -> if(size(_w) < 3, 0, "
            "size(array_distinct(transform(sequence(1, size(_w)-2),"
            " i -> concat_ws(' ', _w[i-1], _w[i], _w[i+1])))))), 1)"
        ).alias("distinct_3grams"),
    )
    def dup_ppm(total: str, distinct: str) -> F.Column:
        return (
            F.when(F.col(total) == 0, F.lit(0))
            .otherwise(
                F.floor(
                    F.lit(1000000) * (F.col(total) - F.col(distinct)) / F.col(total)
                )
            )
            .cast("bigint")
        )
    return base.select(
        id_col,
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("distinct_tokens").cast("bigint").alias("distinct_tokens"),
        dup_ppm("n_tokens", "distinct_tokens").alias("dup_token_ppm"),
        F.col("n_3grams").cast("bigint").alias("n_3grams"),
        F.col("distinct_3grams").cast("bigint").alias("distinct_3grams"),
        dup_ppm("n_3grams", "distinct_3grams").alias("dup_3gram_ppm"),
    )


@register(
    "q58_repetition_score",
    oracle="""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
), g AS (
  SELECT doc_id,
         len(ws) AS n_tokens,
         len(list_distinct(ws)) AS distinct_tokens,
         greatest(len(ws) - 2, 0) AS n_3grams,
         len(list_distinct(list_transform(generate_series(1, greatest(len(ws)-2, 0)),
             i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS distinct_3grams
  FROM t
)
SELECT doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(distinct_tokens AS BIGINT) AS distinct_tokens,
       CASE WHEN n_tokens = 0 THEN 0
            ELSE CAST(1000000 * (n_tokens - distinct_tokens) AS BIGINT) // n_tokens
       END AS dup_token_ppm,
       CAST(n_3grams AS BIGINT) AS n_3grams,
       CAST(distinct_3grams AS BIGINT) AS distinct_3grams,
       CASE WHEN n_3grams = 0 THEN 0
            ELSE CAST(1000000 * (n_3grams - distinct_3grams) AS BIGINT) // n_3grams
       END AS dup_3gram_ppm
FROM g ORDER BY doc_id
""",
    doc="Repetition quality signals (duplicate-token / duplicate-3-gram "
    "ppm per doc) — the Gopher-style self-repetition filter, map-side.",
)
def q58_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return repetition_score(d).orderBy("doc_id")


CHUNK_TOKENS = 128
CHUNK_OVERLAP = 32


def token_chunks(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = CHUNK_TOKENS,
    overlap: int = CHUNK_OVERLAP,
) -> DataFrame:
    """Overlapping fixed-size token chunking (context-window prep):
    chunk k covers tokens [k·stride, k·stride + chunk_tokens) with
    stride = chunk_tokens − overlap; the last chunk clips to the doc.

    n_chunks = max(1, ⌈(n − overlap) / stride⌉) in pure integer math
    so both engines agree exactly. The chunk explode is the only row
    multiplier (linear in output size); no shuffle — chunks inherit
    the document's partition, which is what a downstream tokenizer
    job wants.
    """
    stride = chunk_tokens - overlap
    n = F.size(F.split(F.col(text_col), " "))
    n_chunks = F.greatest(
        F.lit(1),
        F.expr(f"CAST((size(split({text_col}, ' ')) - {overlap} + {stride} - 1) AS BIGINT) div {stride}"),
    )
    return (
        df.select(F.col(id_col), n.alias("n_tokens"), n_chunks.alias("_nc"))
        .select(
            id_col,
            "n_tokens",
            F.explode(F.sequence(F.lit(0), F.col("_nc") - 1)).alias("chunk_idx"),
        )
        .select(
            id_col,
            F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
            (F.col("chunk_idx") * stride).cast("bigint").alias("start_tok"),
            F.least(
                F.col("chunk_idx") * stride + chunk_tokens, F.col("n_tokens")
            ).cast("bigint").alias("end_tok"),
        )
        .withColumn("chunk_len", (F.col("end_tok") - F.col("start_tok")).cast("bigint"))
    )


@register(
    "q60_token_chunking",
    oracle=f"""
WITH t AS (
  SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents
), c AS (
  SELECT doc_id, n_tokens,
         unnest(generate_series(0, greatest(1,
             (n_tokens - {CHUNK_OVERLAP} + {CHUNK_TOKENS - CHUNK_OVERLAP} - 1)
             // {CHUNK_TOKENS - CHUNK_OVERLAP}) - 1)) AS chunk_idx
  FROM t
)
SELECT doc_id,
       CAST(chunk_idx AS BIGINT) AS chunk_idx,
       CAST(chunk_idx * {CHUNK_TOKENS - CHUNK_OVERLAP} AS BIGINT) AS start_tok,
       CAST(least(chunk_idx * {CHUNK_TOKENS - CHUNK_OVERLAP} + {CHUNK_TOKENS}, n_tokens) AS BIGINT) AS end_tok,
       CAST(least(chunk_idx * {CHUNK_TOKENS - CHUNK_OVERLAP} + {CHUNK_TOKENS}, n_tokens)
            - chunk_idx * {CHUNK_TOKENS - CHUNK_OVERLAP} AS BIGINT) AS chunk_len
FROM c ORDER BY doc_id, chunk_idx
""",
    doc=f"Overlapping token chunking ({CHUNK_TOKENS}-token windows, "
    f"{CHUNK_OVERLAP} overlap) — context-window prep; map-side explode, "
    "chunks stay in the document's partition.",
)
def q60_token_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return token_chunks(d).orderBy("doc_id", "chunk_idx")


def rarity_score(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Unigram-rarity scoring: per token its corpus document-frequency
    count, per doc the mean of integer rarity credits
    ``1e6 div tok_count`` — a model-free proxy for "informative vs
    boilerplate" (common tokens contribute ~0, rare tokens up to 1e6),
    the cheap cousin of perplexity filtering.

    Two shuffles at any scale: token-count aggregation (map-side
    partial combine makes it vocabulary-sized) and the per-doc
    re-aggregation. The vocabulary relation is corpus-distinct-tokens
    — broadcast it when it fits, let sort-merge handle it otherwise
    (Spark AQE picks per stats; no hint needed). All-integer credits
    keep the score engine-exact."""
    toks = df.select(F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("tok"))
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("tok_ct"))
    return (
        toks.join(freq, "tok")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.expr("1000000 div tok_ct")).alias("rarity_sum"),
        )
        .select(
            F.col(id_col),
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            F.col("rarity_sum").cast("bigint").alias("rarity_sum"),
            F.expr("CAST(rarity_sum div n_tokens AS BIGINT)").alias("rarity_mean"),
        )
    )


@register(
    "q71_rarity_score",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
), freq AS (
  SELECT tok, COUNT(*) AS tok_ct FROM toks GROUP BY tok
), agg AS (
  SELECT t.doc_id, COUNT(*) AS n_tokens,
         CAST(SUM(1000000 // tok_ct) AS BIGINT) AS rarity_sum
  FROM toks t JOIN freq f ON t.tok = f.tok
  GROUP BY t.doc_id
)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, rarity_sum,
       rarity_sum // n_tokens AS rarity_mean
FROM agg ORDER BY doc_id
""",
    doc="Unigram-rarity document scoring (integer credits 1e6/df per "
    "token, mean per doc) — the model-free boilerplate/informativeness "
    "signal; vocabulary-sized join, all-integer math.",
)
def q71_rarity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return rarity_score(d).orderBy("doc_id")


def top_ngrams(
    df: DataFrame, n: int = 2, top_k: int = 20,
    id_col: str = "doc_id", text_col: str = "text",
) -> DataFrame:
    """Corpus-wide top-k n-gram counts (the raw material of n-gram LM
    stats, boilerplate detection, and contamination screens).

    One explode + one groupBy: per-task partial counts collapse the
    exploded stream map-side, so the shuffle carries vocabulary-sized
    partials, not one row per token occurrence. The top-k is a tiny
    sort over distinct n-grams. Deterministic tie-break (count desc,
    gram asc)."""
    offs = ", ".join(f"_w[i-1+{k}]" for k in range(n))
    # let-bound (dedup.let_array rationale) and <n guarded: keeps one
    # split per row and empty output for short docs on both engines.
    grams = F.expr(
        f"flatten(transform(array(split({text_col}, ' ')), _w -> "
        f"if(size(_w) < {n}, array(), "
        f"transform(sequence(1, size(_w)-{n - 1}), i -> concat_ws(' ', {offs})))))"
    )
    return (
        df.select(F.explode(grams).alias("gram"))
        .groupBy("gram")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), "gram")
        .limit(top_k)
    )


@register(
    "q80_top_bigrams",
    oracle="""
WITH ws AS (SELECT string_split(text, ' ') AS ws FROM documents),
grams AS (
  SELECT unnest(list_transform(generate_series(1, greatest(len(ws) - 1, 0)),
         i -> ws[i] || ' ' || ws[i + 1])) AS gram
  FROM ws
)
SELECT gram, CAST(COUNT(*) AS BIGINT) AS n_occurrences
FROM grams GROUP BY gram
ORDER BY n_occurrences DESC, gram LIMIT 20
""",
    doc="Corpus top-20 bigram counts — vocabulary-sized shuffle via "
    "map-side partial counts over the exploded n-gram stream; "
    "deterministic (count, gram) tie-break.",
)
def q80_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    return top_ngrams(load(spark, sf_dir, "documents"), n=2, top_k=20)


def dictionary_encode(
    df: DataFrame, col: str, id_col: str = "doc_id"
) -> DataFrame:
    """Dictionary-encode a low-cardinality string column to dense
    integer codes (feature hashing's exact sibling; the prep step for
    categorical columns feeding training).

    The vocabulary is DISTINCT values + dense_rank — a global window,
    but over the post-distinct relation, whose size is the column's
    cardinality (sources/labels/languages: thousands at most), not the
    corpus; it then broadcasts back onto the corpus, so the corpus is
    never shuffled at all."""
    from pyspark.sql import Window

    vocab = (
        df.select(F.col(col)).distinct()
        .withColumn("code", F.dense_rank().over(Window.orderBy(F.col(col))).cast("bigint"))
    )
    return df.select(id_col, col).join(F.broadcast(vocab), col)


@register(
    "q81_dictionary_encode",
    oracle="""
WITH vocab AS (
  SELECT source, CAST(DENSE_RANK() OVER (ORDER BY source) AS BIGINT) AS code
  FROM (SELECT DISTINCT source FROM documents)
)
SELECT d.doc_id, d.source, v.code
FROM documents d JOIN vocab v ON d.source = v.source
ORDER BY d.doc_id
""",
    doc="Dictionary-encode the source column to dense integer codes: "
    "vocabulary = distinct + dense_rank (window over the tiny "
    "post-distinct relation, not the corpus), broadcast back — the "
    "corpus itself is never shuffled.",
)
def q81_dictionary_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return dictionary_encode(d, "source").select("doc_id", "source", "code").orderBy("doc_id")


def corpus_language_report(df: DataFrame) -> DataFrame:
    """Per-language corpus composition report — the first table any
    dataset card publishes (doc/token/char shares per language) and
    the input to the q59 mixture-allocation step.

    One pass: token counts are a map-side `size(split(...))`, then a
    single language-keyed aggregate whose shuffle carries one partial
    row per (task, lang). Chars-per-token (tokenizer-fertility proxy)
    is exact integer milli via BIGINT division, so the report is
    hash-stable across engines."""
    per_doc = df.select(
        "lang",
        "source",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tokens"),
        F.col("n_chars").cast("bigint").alias("n_chars"),
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum("n_chars").alias("total_chars"),
            F.countDistinct("source").cast("bigint").alias("n_sources"),
            F.expr("sum(n_chars) * 1000 DIV sum(n_tokens)").alias("chars_per_token_milli"),
            F.expr("sum(n_tokens) DIV count(1)").alias("avg_tokens_per_doc"),
        )
        .orderBy("lang")
    )


@register(
    "q84_language_report",
    oracle="""
WITH per_doc AS (
  SELECT lang, source,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         CAST(n_chars AS BIGINT) AS n_chars
  FROM documents
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
       CAST(SUM(n_chars) * 1000 // SUM(n_tokens) AS BIGINT) AS chars_per_token_milli,
       CAST(SUM(n_tokens) // COUNT(*) AS BIGINT) AS avg_tokens_per_doc
FROM per_doc GROUP BY lang ORDER BY lang
""",
    doc="Per-language corpus composition (docs/tokens/chars/source "
    "counts + integer-milli chars-per-token fertility proxy) — the "
    "dataset-card table and the input to q59's mixture allocation; "
    "one pass, language-keyed partial aggregate.",
)
def q84_language_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    return corpus_language_report(load(spark, sf_dir, "documents"))


def bpe_pair_counts(
    docs: DataFrame, text_col: str = "text", top_k: int = 10
) -> DataFrame:
    """The counting step of a BPE-tokenizer training iteration: count
    every adjacent character pair inside every word and keep the
    ``top_k`` merge candidates ((count DESC, pair) — deterministic).

    This is the map-reduce kernel BPE repeats per merge: at 100 TB
    each executor emits per-partition partial pair counts (map-side
    combine), the shuffle carries only the pair vocabulary (bounded by
    charset², thousands of keys — not corpus rows), and top-k is
    TakeOrdered over ≤|vocab| counts. The driver-side merge decision
    (pick winner, update the segmentation) is the inherently
    sequential part of BPE; each iteration's heavy lifting is exactly
    this query.
    """
    words = docs.select(
        F.explode(F.split(F.col(text_col), " ")).alias("w")
    ).filter(F.length("w") >= 2)
    pairs = words.select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .orderBy(F.desc("n"), "pair")
        .limit(top_k)
    )


@register(
    "q93_bpe_pair_scan",
    oracle="""
WITH w AS (
  SELECT unnest(string_split(text, ' ')) AS w FROM documents
), p AS (
  SELECT unnest(list_transform(generate_series(1, len(w) - 1),
                               i -> substr(w, i, 2))) AS pair
  FROM w WHERE len(w) >= 2
)
SELECT pair, CAST(COUNT(*) AS BIGINT) AS n
FROM p GROUP BY pair ORDER BY n DESC, pair LIMIT 10
""",
    doc="BPE merge-candidate scan: adjacent in-word character-pair "
    "counts, top-10 by frequency — the per-iteration map-reduce kernel "
    "of tokenizer training; shuffle carries the pair vocabulary, never "
    "corpus rows.",
)
def q93_bpe_pair_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bpe_pair_counts(load(spark, sf_dir, "documents"))


def lm_bigram_score(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    train: DataFrame | None = None,
) -> DataFrame:
    """CCNet-style language-model quality score, integer-exact: the
    average conditional bigram probability of each document under a
    bigram model counted from ``train`` (default: the corpus itself —
    self-scoring, the shape used to rank documents by "how typical is
    this text"). Wikipedia-trained KenLM perplexity filtering is the
    production instance (CCNet, RefinedWeb); the kernel is identical —
    only the count source changes.

    Per bigram: P_milli = (c2(w1,w2) * 1000) // c1(w1), where c1 is
    the count of w1 AS A BIGRAM PREFIX (so Σ_w2 c2 = c1 exactly and
    the conditionals sum to 1000 per prefix). Per doc: the integer
    mean of its bigrams' P_milli (higher = more typical text; exact
    integer arithmetic end to end, so both engines agree bit-for-bit —
    no log/float perplexity, which is NOT cross-engine stable).
    Bigrams unseen in ``train`` score 0 (the smoothing floor).

    Scale shape: bigram expansion is one map-side zip_with/explode
    (corpus-token-count rows, no shuffle); the count tables shuffle
    only the bigram VOCABULARY (Zipf-bounded, not corpus-sized); the
    scoring joins key on vocabulary terms; the per-doc reduce is one
    shuffle on the id. Docs with <2 tokens emit n_bigrams=0 and a NULL
    score (no bigram evidence).
    """
    train = docs if train is None else train

    def bigrams(df: DataFrame, with_id: bool) -> DataFrame:
        from .dedup import let_array

        cols = [F.col(id_col)] if with_id else []
        # let_array pins the tokenization to ONE evaluation per row —
        # inlined, CollapseProject would re-split the text at every one
        # of the four array references (measured 12 split( sites in the
        # optimized plan before this; 3 after)
        pair = F.expr(
            let_array(
                f"split({text_col}, ' ')",
                "a",
                "zip_with(slice(a, 1, size(a) - 1), slice(a, 2, size(a) - 1),"
                " (x, y) -> struct(x AS w1, y AS w2))",
            )
        )
        return df.select(*cols, F.explode(pair).alias("p")).select(
            *cols, F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")
        )

    c2 = (
        bigrams(train, with_id=False)
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c2"))
    )
    # c1 (the prefix count) is the w2-marginal of c2 — deriving it from
    # the vocabulary-sized c2 frame instead of a second corpus
    # scan+explode halves the expensive side of the plan, and keeps
    # sum_w2 c2 = c1 true BY CONSTRUCTION.
    c1 = c2.groupBy("w1").agg(F.sum("c2").cast("bigint").alias("c1"))
    scored = (
        bigrams(docs, with_id=True)
        .join(c2, ["w1", "w2"], "left")
        .join(c1, ["w1"], "left")
        .select(
            F.col(id_col),
            F.coalesce(F.expr("(c2 * 1000) div c1"), F.lit(0)).alias("p_milli"),
        )
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.expr("CAST(sum(p_milli) div count(1) AS BIGINT)").alias("lm_score_milli"),
        )
    )
    return (
        docs.select(id_col)
        .join(scored, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_bigrams", F.lit(0).cast("bigint")).alias("n_bigrams"),
            F.col("lm_score_milli").cast("bigint").alias("lm_score_milli"),
        )
    )


@register(
    "q120_lm_bigram_score",
    oracle="""
WITH base AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
bg AS (
  SELECT doc_id, unnest(a[1:len(a)-1]) AS w1, unnest(a[2:len(a)]) AS w2 FROM base
),
c2 AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c2 FROM bg GROUP BY 1, 2),
c1 AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS c1 FROM bg GROUP BY 1),
scored AS (
  SELECT b.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         CAST(SUM((c2.c2 * 1000) // c1.c1) // COUNT(*) AS BIGINT) AS lm_score_milli
  FROM bg b JOIN c2 ON b.w1 = c2.w1 AND b.w2 = c2.w2
            JOIN c1 ON b.w1 = c1.w1
  GROUP BY b.doc_id
)
SELECT d.doc_id,
       COALESCE(s.n_bigrams, 0) AS n_bigrams,
       s.lm_score_milli
FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
ORDER BY d.doc_id
""",
    doc="Language-model quality score (CCNet/RefinedWeb LM-filter "
    "shape): per-doc mean conditional bigram probability in exact "
    "integer milli-units under the corpus's own bigram counts — the "
    "perplexity-ranking kernel without cross-engine-unstable floats; "
    "shuffles bounded by bigram vocabulary, never corpus rows.",
)
def q120_lm_bigram_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lm_bigram_score(load(spark, sf_dir, "documents")).orderBy("doc_id")


def _bpe_vocab(docs: DataFrame, text_col: str) -> DataFrame:
    """Fold the corpus to its (word, spaced-symbol-repr, freq)
    vocabulary frame — the ONE corpus-sized scan of BPE training."""
    return (
        docs.select(F.explode(F.split(F.col(text_col), " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
        .select(
            "w",
            F.concat(
                F.lit(" "),
                F.trim(F.regexp_replace(F.col("w"), "(.)", "$1 ")),
                F.lit(" "),
            ).alias("r"),
            "freq",
        )
    )


def _state_pair_counts(wdf: DataFrame) -> DataFrame:
    """Frequency-weighted adjacent-symbol-pair counts over a vocabulary
    state frame — the per-iteration map-reduce kernel; shuffle bounded
    by the pair vocabulary."""
    from .dedup import let_array

    pairs = wdf.select(
        F.explode(
            F.expr(
                let_array(
                    "split(trim(r), ' ')",
                    "a",
                    "zip_with(slice(a, 1, size(a) - 1),"
                    " slice(a, 2, size(a) - 1),"
                    " (x, y) -> struct(x AS l, y AS rr))",
                )
            )
        ).alias("p"),
        "freq",
    ).select(F.col("p.l").alias("left_sym"), F.col("p.rr").alias("right_sym"), "freq")
    return pairs.groupBy("left_sym", "right_sym").agg(
        F.sum("freq").cast("bigint").alias("pair_count")
    )


def quality_classifier_score(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold_milli: int = 0,
    weight_mod: int = 2001,
    weights: list[int] | None = None,
) -> DataFrame:
    """Hashed-n-gram linear quality classifier — the fastText-style
    filter shape every production corpus pipeline runs (CCNet's
    learned quality gate; the LLaMA-data 'looks like a reference
    page' classifier): features = word unigrams + bigrams, hashed
    into a weight table, score = mean feature weight, keep = score
    over threshold.

    This registers the INFERENCE plan shape with a deterministic
    placeholder weight function — ``w(f) = md5_bucket(f) %
    weight_mod - weight_mod//2``, i.e. a fixed random linear probe.
    A trained model drops in via ``weights``: the table becomes a
    constant-folded array literal (a broadcast variable on a
    cluster) indexed by the same hash — identical plan shape, pinned
    by ``test_trained_weight_array_path_same_plan_shape``.
    Emits per doc: feature count, ``logit_milli`` =
    floor(1000·Σw/n) (floored on BOTH engines — floor(x)>=0 ⇔ x>=0,
    so ``keep`` is engine-exact), NULL logit for featureless docs.

    Scale shape — the ideal one: a single map-side pass, no joins,
    no UDFs; tokenize → hash → weight → fold runs entirely inside
    one projection per document, so at 100 TB this is pure scan
    throughput (the let-bindings pin tokenization and the weight
    array to one evaluation each against CollapseProject
    re-inlining, the q47 lesson). ``spread()`` guards the
    local-file case only — on a cluster the scan's own parallelism
    makes it a no-op, leaving zero shuffles (measured: the 2-file
    local read serialized the kernel on 2 cores, 11 s → 1.7 s at
    sf1.0)."""
    from .dedup import let_array, spread

    docs = spread(docs, id_col)
    half = weight_mod // 2
    toks = f"filter(split({text_col}, ' '), t -> t <> '')"
    feats = let_array(
        toks,
        "a",
        "concat(a, zip_with(slice(a, 1, greatest(size(a) - 1, 0)),"
        " slice(a, 2, greatest(size(a) - 1, 0)),"
        " (x, y) -> concat(x, ' ', y)))",
    )
    bucket = "CAST(conv(substring(md5(f), 1, 8), 16, 10) AS BIGINT)"
    if weights is None:
        # deterministic placeholder probe (see docstring)
        w_of_f = f"{bucket} % {weight_mod} - {half}"
    else:
        # TRAINED model path: the weight table is a constant-folded
        # array literal (on a cluster: a broadcast variable) indexed by
        # the same hash — identical plan shape, zero extra shuffles.
        lits = ", ".join(f"{int(w)}L" for w in weights)
        w_of_f = f"element_at(array({lits}), CAST({bucket} % {len(weights)} AS INT) + 1)"
    weights_sql = f"transform({feats}, f -> {w_of_f})"
    stats = F.expr(
        let_array(
            weights_sql,
            "w",
            "array(named_struct('n', size(w),"
            " 's', aggregate(w, 0L, (acc, x) -> acc + x)))",
        )
    )[0]
    return (
        docs.select(F.col(id_col), stats.alias("_qc"))
        .select(
            id_col,
            F.col("_qc.n").cast("bigint").alias("n_features"),
            F.when(
                F.col("_qc.n") > 0,
                F.floor(F.col("_qc.s") * 1000 / F.col("_qc.n")).cast("bigint"),
            ).alias("logit_milli"),
        )
        .withColumn("keep", F.col("logit_milli") >= threshold_milli)
        .orderBy(id_col)
    )


@register(
    "q140_quality_classifier",
    oracle="""
WITH t AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS a
  FROM documents
), f AS (
  SELECT doc_id,
         list_concat(a, list_transform(generate_series(1, greatest(len(a) - 1, 0)),
                                       i -> a[i] || ' ' || a[i + 1])) AS fs
  FROM t
), w AS (
  SELECT doc_id,
         list_transform(fs, f -> CAST(('0x' || substr(md5(f), 1, 8)) AS BIGINT)
                                 % 2001 - 1000) AS ws
  FROM f
)
SELECT doc_id,
       CAST(len(ws) AS BIGINT) AS n_features,
       CAST(CASE WHEN len(ws) = 0 THEN NULL
                 ELSE FLOOR(list_sum(ws) * 1000.0 / len(ws)) END AS BIGINT)
         AS logit_milli,
       CASE WHEN len(ws) = 0 THEN NULL
            ELSE FLOOR(list_sum(ws) * 1000.0 / len(ws)) >= 0 END AS keep
FROM w ORDER BY doc_id
""",
    doc="Hashed-n-gram linear quality classifier (fastText-filter "
    "inference shape): word uni+bigrams hashed to a deterministic "
    "weight function, per-doc mean weight in floored milli-units and a "
    "keep flag — one map-side projection, zero shuffles/joins/UDFs; a "
    "trained model swaps the weight arithmetic for a broadcast array "
    "lookup with an identical plan.",
)
def q140_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_classifier_score(load(spark, sf_dir, "documents"))


def bpe_train_merges_batched(
    docs: DataFrame,
    text_col: str = "text",
    n_rounds: int = 2,
    batch_m: int = 4,
    cand_k: int | None = None,
    round_stats: list | None = None,
) -> DataFrame:
    """Byte-pair-encoding merge TRAINING (Sennrich et al. 2016), batched:
    learn up to ``batch_m`` NON-CONFLICTING merge rules per Spark
    round, so tokenizer depth costs ``rounds ≈ vocab_target /
    batch_m`` job rounds instead of one round per rule — a production
    tokenizer's 30k+ merges fall to ~vocab/M rounds. Measured:
    depth-64 training in 8 rounds at M=8 (SCALE_r07.md). q93 is the
    single-iteration candidate scan.

    The corpus is touched ONCE: the first aggregation folds it to a
    (word-repr, freq) vocabulary frame (Zipf-bounded, not
    corpus-sized) which is localCheckpoint'd, so every round runs on
    vocabulary-sized frames. Per round, over that checkpointed state:

    1. frequency-weighted adjacent-pair-count shuffle, bounded by the
       pair vocabulary;
    2. rank the top ``cand_k`` candidates (count DESC, pair — total
       order, deterministic);
    3. accept a candidate iff it shares NO symbol with any
       higher-RANKED candidate — comparing against candidates (not
       just accepted ones) keeps the rule set-expressible on both
       engines, is strictly more conservative, and still always
       accepts rank 1. "Shares a symbol" includes the higher pair's
       CONCATENATION, so an accepted batch is pairwise
       non-interacting: applying its merges in any order gives the
       same result, and every accepted pair's round-start count is
       still exact after the others apply;
    4. keep the first ``batch_m`` accepted, fold them into ONE
       vocabulary rewrite: the merge list rides in as a 1-row
       broadcast array and ``aggregate(ms, doubled, (acc, m) ->
       replace(...))`` applies every rule in a single codegen pass.
       Symbols are space-delimited; doubling every delimiter makes
       pair occurrences non-overlapping (each match consumes one
       space of each flanking pair), so one ``replace`` per rule is
       exact greedy left-to-right BPE: ``a a a`` merges to ``aa a``.

    Everything is declarative — no driver collect anywhere; the
    per-round state sync is the localCheckpoint of a ≤``batch_m``-row
    frame plus the vocabulary frame (the q50/q79 bounded-state
    pattern). Relative to sequential BPE the batch is the standard
    approximation: rules 2..M of a round are chosen from round-start
    counts rather than after rule 1 applies (their counts stay exact
    by construction; only the GREEDY ORDER can differ). ``batch_m=1``
    is sequential BPE: one rule per round, the most frequent pair
    (ties: lexicographic).

    ADAPTIVE cand_k (round-8, verdict item 4): with ``cand_k=None``
    the candidate pool starts at ``3*batch_m`` and, whenever symbol
    conflicts leave the realized batch below ``0.8*batch_m``, DOUBLES
    and re-selects (bounded at ``64*batch_m``; growth stops early if
    the pair vocabulary itself is smaller than the pool — at that
    point the shortfall is the corpus's conflict structure, not the
    pool, and no cand_k can fill the batch). Growth is prefix-stable
    — ranking is a total order and blocking looks only at
    higher-ranked candidates, so a larger pool never changes which of
    the existing candidates are accepted, it only appends more —
    which keeps the accepted-batch semantics identical to a single
    pass at the final pool size. The grown pool is STICKY: it carries
    forward as the next round's starting size (measured in
    SCALE_r08 — re-laddering from 3*batch_m every round tripled the
    selection passes of conflict-dense rounds for zero extra rules),
    so a depth-64 run grows once and pays one extra selection pass
    total, not one per round. Passing an explicit ``cand_k`` disables
    adaptivity (q138 pins cand_k=12 so its SQL oracle stays exact).
    Pass a list as ``round_stats`` to receive one
    ``(round, final_cand_k, realized_m)`` tuple per round (the
    SCALE-measurement log).

    Returns (iteration, round, sel, left_sym, right_sym, pair_count):
    global rule index, the round it was learned in, its in-round
    acceptance rank, and its (exact) round-start count.
    """
    from pyspark.sql import Window

    _, rounds = _bpe_rounds(
        docs, text_col, n_rounds, batch_m, cand_k, round_stats, apply_last=False
    )
    out = rounds[0]
    for m in rounds[1:]:
        out = out.unionByName(m)
    return (
        out.withColumn(
            "iteration", F.row_number().over(Window.orderBy("round", "sel")).cast("int")
        )
        .select("iteration", "round", "sel", "left_sym", "right_sym", "pair_count")
        .orderBy("iteration")
    )


def _bpe_rounds(
    docs: DataFrame,
    text_col: str,
    n_rounds: int,
    batch_m: int,
    cand_k: int | None,
    round_stats: list | None,
    apply_last: bool,
) -> tuple[DataFrame, list[DataFrame]]:
    """The round loop of :func:`bpe_train_merges_batched` (see there
    for the algorithm and its parameters). Returns the final
    vocabulary state ``(w, r, freq)`` — with the last round's rewrite
    applied only when ``apply_last`` (the encode path; training needs
    just the rules) — plus one checkpointed
    ``(round, sel, left_sym, right_sym, pair_count)`` frame per round."""
    from pyspark.sql import Window

    adaptive = cand_k is None
    realized_floor = 0.8 * batch_m
    state = _bpe_vocab(docs, text_col).localCheckpoint()
    order = [F.desc("pair_count"), F.asc("left_sym"), F.asc("right_sym")]
    rounds: list[DataFrame] = []
    # sticky across rounds: a pool that had to grow stays grown
    round_k = cand_k if cand_k is not None else 3 * batch_m
    for rnd in range(1, n_rounds + 1):
        while True:
            cand = (
                _state_pair_counts(state)
                .orderBy(*order)
                .limit(round_k)
                .withColumn("rnk", F.row_number().over(Window.orderBy(*order)))
            )
            a, b = cand.alias("a"), cand.alias("b")
            hi = [
                F.col("b.left_sym"),
                F.col("b.right_sym"),
                F.concat(F.col("b.left_sym"), F.col("b.right_sym")),
            ]
            conflict = F.lit(False)
            for side in ("left_sym", "right_sym"):
                for h in hi:
                    conflict = conflict | (F.col(f"a.{side}") == h)
            blocked = (
                a.join(b, (F.col("b.rnk") < F.col("a.rnk")) & conflict)
                .select(F.col("a.rnk").alias("rnk"))
                .distinct()
            )
            accepted = (
                cand.join(blocked, "rnk", "left_anti")
                .withColumn(
                    "sel", F.row_number().over(Window.orderBy("rnk")).cast("int")
                )
                .filter(F.col("sel") <= batch_m)
                .select(
                    F.lit(rnd).cast("int").alias("round"),
                    "sel",
                    "left_sym",
                    "right_sym",
                    "pair_count",
                )
                .localCheckpoint()
            )
            if not adaptive:
                break
            # bounded-state counts: accepted is a checkpointed
            # <= batch_m-row frame, cand a <= round_k-row frame
            realized = accepted.count()
            if realized >= realized_floor or round_k >= 64 * batch_m:
                break
            if cand.count() < round_k:
                break  # pair vocabulary exhausted — growth can't help
            # clamp to the documented 64*M bound: plain doubling from
            # 3*M lands on 96*M, 1.5x the advertised O(cand_k^2)
            # blocking-join worst case
            round_k = min(round_k * 2, 64 * batch_m)
        if round_stats is not None:
            round_stats.append((rnd, round_k, int(accepted.count())))
        rounds.append(accepted)
        if rnd < n_rounds or apply_last:
            marr = accepted.agg(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            "sel",
                            F.col("left_sym").alias("l"),
                            F.col("right_sym").alias("r"),
                        )
                    )
                ).alias("ms")
            )
            state = (
                state.crossJoin(F.broadcast(marr))
                .select(
                    "w",
                    F.expr(
                        "replace(aggregate(ms, replace(r, ' ', '  '),"
                        " (acc, m) -> replace(acc,"
                        " ' '||m.l||'  '||m.r||' ', ' '||m.l||m.r||' ')),"
                        " '  ', ' ')"
                    ).alias("r"),
                    "freq",
                )
                .localCheckpoint()
            )
    return state, rounds


def bpe_encode_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_merges: int = 3,
) -> DataFrame:
    """BPE ENCODE: apply the first ``n_merges`` rules of sequential BPE
    training (:func:`bpe_train_merges_batched` at ``batch_m=1``)
    back to the corpus and report per-document tokenization statistics
    — word count, symbol count before any merge (characters) and after
    all ``n_merges`` rules, and the ppm reduction. The train→apply
    loop every tokenizer build runs; the per-doc token count is what a
    packing/budgeting stage (q44) consumes.

    Scale shape: training is vocabulary-bounded (q138's round loop at
    one rule per round; ``cand_k=1`` is fixed, so no adaptive
    pool-size jobs run); the encode is ONE corpus-sized explode joined
    to the final vocabulary frame on the word key (vocabulary side is
    the small one — broadcastable at real vocab sizes) and one per-doc
    reduce. No per-row Python: the merged symbol count is
    ``size(split(...))`` over the rewritten vocabulary entry, computed
    once per DISTINCT word, not per token.
    """
    state, _ = _bpe_rounds(
        docs, text_col, n_merges, batch_m=1, cand_k=1, round_stats=None, apply_last=True
    )
    vocab = state.select(
        "w",
        F.size(F.split(F.trim(F.col("r")), " ")).cast("bigint").alias("n_sym"),
        F.length("w").cast("bigint").alias("n_chars"),
    )
    tokens = docs.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("w")
    ).filter(F.col("w") != "")
    return (
        tokens.join(F.broadcast(vocab), "w")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum("n_chars").cast("bigint").alias("n_sym_before"),
            F.sum("n_sym").cast("bigint").alias("n_sym_after"),
        )
        .withColumn(
            "saved_ppm",
            ppm_floor(
                F.col("n_sym_before") - F.col("n_sym_after"), F.col("n_sym_before")
            ),
        )
        .orderBy(id_col)
    )


_BPE_MERGE_DUCK = (
    "replace(replace(replace(r, ' ', '  '),"
    " ' ' || {t}.left_sym || '  ' || {t}.right_sym || ' ',"
    " ' ' || {t}.left_sym || {t}.right_sym || ' '), '  ', ' ')"
)


def _bpe_oracle_ctes(n_merges: int) -> str:
    """The DuckDB CTE chain mirroring sequential BPE training
    (:func:`_bpe_rounds` at ``batch_m=1``): w0 (vocabulary)
    then p{i}/t{i} (pair counts / learned pair) and w{i} (rewritten
    vocabulary) per iteration, ``w`` key kept throughout; the last
    round's rewrite is applied, so w{n_merges} is the encoded
    vocabulary."""
    pair_cte = """
p{i} AS (
  SELECT s[i] AS left_sym, s[i+1] AS right_sym,
         CAST(SUM(freq) AS BIGINT) AS pair_count
  FROM (SELECT string_split(trim(r), ' ') AS s, freq FROM w{prev}) t,
       UNNEST(generate_series(1, len(s) - 1)) AS g(i)
  GROUP BY 1, 2
),
t{i} AS (SELECT * FROM p{i} ORDER BY pair_count DESC, left_sym, right_sym LIMIT 1)"""
    parts = [
        """WITH w0 AS (
  SELECT w, ' ' || trim(regexp_replace(w, '(.)', '\\1 ', 'g')) || ' ' AS r,
         CAST(COUNT(*) AS BIGINT) AS freq
  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
  WHERE w <> '' GROUP BY w
)"""
    ]
    for i in range(1, n_merges + 1):
        parts.append(pair_cte.format(i=i, prev=i - 1))
        merged = _BPE_MERGE_DUCK.format(t=f"t{i}")
        parts.append(f"\nw{i} AS (SELECT w, {merged} AS r, freq FROM w{i - 1}, t{i})")
    return ",".join(parts)


def _bpe_encode_oracle(n_merges: int = 3) -> str:
    return (
        _bpe_oracle_ctes(n_merges)
        + f""",
tok AS (
  SELECT doc_id, w
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents) t
  WHERE w <> ''
)
SELECT tok.doc_id AS doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(length(tok.w)) AS BIGINT) AS n_sym_before,
       CAST(SUM(len(string_split(trim(v.r), ' '))) AS BIGINT) AS n_sym_after,
       CAST(FLOOR(CAST(SUM(length(tok.w)) - SUM(len(string_split(trim(v.r), ' ')))
            AS DECIMAL(20,6)) * 1000000 / SUM(length(tok.w))) AS BIGINT) AS saved_ppm
FROM tok JOIN w{n_merges} v ON tok.w = v.w
GROUP BY tok.doc_id
ORDER BY doc_id
"""
    )


def _bpe_batched_oracle(n_rounds: int, batch_m: int, cand_k: int) -> str:
    """DuckDB mirror of :func:`bpe_train_merges_batched`: per round —
    pair counts, ranked top-``cand_k`` candidates, the
    conflicts-with-higher-RANKED blocking join, the first ``batch_m``
    survivors, then the batched rewrite unrolled as ``batch_m``
    CASE-guarded replace steps over a pivoted 1-row accepted frame
    (DuckDB 1.0 has no seeded list_reduce)."""
    parts = [
        """WITH w0 AS (
  SELECT w, ' ' || trim(regexp_replace(w, '(.)', '\\1 ', 'g')) || ' ' AS r,
         CAST(COUNT(*) AS BIGINT) AS freq
  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
  WHERE w <> '' GROUP BY w
)"""
    ]
    for i in range(1, n_rounds + 1):
        parts.append(
            f"""
p{i} AS (
  SELECT s[i] AS left_sym, s[i+1] AS right_sym,
         CAST(SUM(freq) AS BIGINT) AS pair_count
  FROM (SELECT string_split(trim(r), ' ') AS s, freq FROM w{i - 1}) t,
       UNNEST(generate_series(1, len(s) - 1)) AS g(i)
  GROUP BY 1, 2
),
c{i} AS (
  SELECT left_sym, right_sym, pair_count,
         ROW_NUMBER() OVER (ORDER BY pair_count DESC, left_sym, right_sym) AS rnk
  FROM p{i} ORDER BY pair_count DESC, left_sym, right_sym LIMIT {cand_k}
),
bl{i} AS (
  SELECT DISTINCT a.rnk FROM c{i} a JOIN c{i} b ON b.rnk < a.rnk AND
    (a.left_sym IN (b.left_sym, b.right_sym, b.left_sym || b.right_sym)
     OR a.right_sym IN (b.left_sym, b.right_sym, b.left_sym || b.right_sym))
),
a{i} AS (
  SELECT * FROM (
    SELECT left_sym, right_sym, pair_count,
           CAST(ROW_NUMBER() OVER (ORDER BY rnk) AS INT) AS sel
    FROM c{i} WHERE rnk NOT IN (SELECT rnk FROM bl{i})
  ) WHERE sel <= {batch_m}
)"""
        )
        if i < n_rounds:
            piv = ", ".join(
                f"MAX(CASE WHEN sel = {j} THEN left_sym END) AS l{j}, "
                f"MAX(CASE WHEN sel = {j} THEN right_sym END) AS r{j}"
                for j in range(1, batch_m + 1)
            )
            step = "replace(r, ' ', '  ')"
            for j in range(1, batch_m + 1):
                step = (
                    f"CASE WHEN l{j} IS NULL THEN {step} ELSE "
                    f"replace({step}, ' ' || l{j} || '  ' || r{j} || ' ',"
                    f" ' ' || l{j} || r{j} || ' ') END"
                )
            parts.append(
                f"""
s{i} AS (SELECT {piv} FROM a{i})"""
            )
            parts.append(
                f"""
w{i} AS (SELECT w, replace({step}, '  ', ' ') AS r, freq FROM w{i - 1}, s{i})"""
            )
    selects = "\nUNION ALL ".join(
        f"SELECT CAST({i} AS INT) AS round, sel, left_sym, right_sym, pair_count FROM a{i}"
        for i in range(1, n_rounds + 1)
    )
    return (
        ",".join(parts)
        + f"""
SELECT CAST(ROW_NUMBER() OVER (ORDER BY round, sel) AS INT) AS iteration,
       round, sel, left_sym, right_sym, pair_count
FROM ({selects})
ORDER BY iteration
"""
    )


@register(
    "q138_bpe_train_batched",
    oracle=_bpe_batched_oracle(n_rounds=2, batch_m=4, cand_k=12),
    doc="Batched BPE merge training (2 rounds x up to 4 rules): per "
    "round, rank top-12 pair candidates, accept those sharing no "
    "symbol (incl. the merged concatenation) with any higher-ranked "
    "candidate, and fold the whole batch into ONE vocabulary rewrite "
    "via a broadcast merge array + aggregate() — tokenizer depth costs "
    "rounds/M Spark jobs instead of one round per rule. "
    "Accepted pairs are pairwise non-interacting so their round-start "
    "counts stay exact. Oracle: the same rounds unrolled as DuckDB "
    "CTEs with the blocking join and CASE-unrolled batch rewrite.",
)
def q138_bpe_train_batched(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bpe_train_merges_batched(
        load(spark, sf_dir, "documents"), n_rounds=2, batch_m=4, cand_k=12
    )


@register(
    "q132_bpe_encode_stats",
    oracle=_bpe_encode_oracle(3),
    doc="BPE encode: apply the first 3 sequentially learned merge rules "
    "(q138's trainer at one rule per round) back to the corpus — "
    "per-document word count, symbol counts before/after the 3 merges, "
    "and the ppm reduction. Training is vocabulary-bounded; the encode "
    "is one corpus explode joined to the rewritten vocabulary on the "
    "word key (merged symbol counts computed once per distinct word) "
    "and one per-doc reduce. Oracle: the three training iterations "
    "unrolled as DuckDB CTEs with the final rewrite applied, joined "
    "back to the token stream.",
)
def q132_bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bpe_encode_stats(load(spark, sf_dir, "documents"))


def repetition_signals(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Intra-document repetition signals (round-12) — the Gopher /
    MassiveText repetition-filter family (Rae et al. 2021, Appendix A:
    "fraction of characters in the most frequent n-gram" and "fraction
    of characters in duplicated n-grams"), integer-exact so the DuckDB
    oracle replays them value-for-value:

    - ``top2_*``: the most frequent word 2-gram (ties break on the
      gram string), its count, and floor-permille of characters it
      covers (count × gram length / doc chars);
    - ``dup3_permille``: floor-permille of characters covered by ALL
      duplicated word 3-grams (Σ count × gram length over grams with
      count > 1 — the standard sum-of-occurrences approximation, may
      exceed 1000 on highly repetitive text by design);
    - ``adj_rep_permille``: floor-permille of adjacent token pairs
      that are equal — the "batch batch batch" stutter signal;
    - ``keep``: the composite Gopher-style gate.

    Scale shape (round-13): MAP-ONLY. N-grams are built INSIDE the
    row with zip_with over array slices (no sequence(1,0) reversal
    hazard), and the per-doc counting happens in-row too: sort each
    gram array, then ONE ``aggregate`` fold per order walks the runs
    (a run closes when the gram changes) accumulating the argmax
    2-gram and the duplicated-3-gram character mass. Round 12 shipped
    this with a (doc_id, gram) exchange per n-gram order; that
    shuffle of raw gram strings buys nothing — every gram of a doc is
    already in the doc's row — and the fold beats it at every scale
    measured (sf1.0: 7.4 s vs 9.4 s; sf0.1: 0.9 s vs 1.6 s, noop
    sink). Zero exchanges: partitioning, pushdown, and pruning pass
    straight through, and the operator scales exactly like the scan.
    Per-row cost is O(grams · log grams); gram arrays are the same
    ones the round-12 version already materialized pre-explode, so
    peak row memory is unchanged. No pairwise work, no driver
    collection, no UDF.
    """
    two = "greatest(size(ws) - 1, 0)"
    three = "greatest(size(ws) - 2, 0)"
    base = df.select(
        F.col(id_col),
        F.length(text_col).alias("n_chars"),
        F.split(F.col(text_col), " ").alias("ws"),
    ).select(
        id_col,
        "n_chars",
        F.size("ws").cast("bigint").alias("n_tokens"),
        F.expr(
            f"zip_with(slice(ws, 1, {two}), slice(ws, 2, {two}), "
            "(a, b) -> concat(a, ' ', b))"
        ).alias("g2"),
        F.expr(
            f"zip_with(zip_with(slice(ws, 1, {three}), slice(ws, 2, {three}), "
            "(a, b) -> concat(a, ' ', b)), slice(ws, 3, "
            f"{three}), (p, c) -> concat(p, ' ', c))"
        ).alias("g3"),
        F.expr(
            f"size(filter(zip_with(slice(ws, 1, {two}), slice(ws, 2, {two}), "
            "(a, b) -> a = b), x -> x))"
        )
        .cast("bigint")
        .alias("adj_pairs"),
    )
    # ONE fold over each sorted gram array (runs are contiguous after
    # sort): accumulator tracks (best-so-far, current-run); a run
    # closes when the gram changes. The argmax keeps the FIRST max —
    # runs arrive in ascending gram order, so that IS the round-12
    # window's (n DESC, gram ASC) tie-break. Measured against the
    # explicit run-start-index RLE (transform+filter+zip_with+
    # element_at): the fold is ~25% faster at sf1.0 — HOF lambdas are
    # interpreted, so fewer per-element lambda evaluations wins.
    top_fold = (
        "aggregate(array_sort(g2), "
        "struct(cast(0 as bigint) AS bc, cast(null as string) AS bg, "
        "cast(0 as bigint) AS cc, cast(null as string) AS cg), "
        "(a, x) -> CASE WHEN a.cg IS NULL THEN "
        "struct(a.bc AS bc, a.bg AS bg, cast(1 as bigint) AS cc, x AS cg) "
        "WHEN x = a.cg THEN "
        "struct(a.bc AS bc, a.bg AS bg, a.cc + 1 AS cc, a.cg AS cg) "
        "WHEN a.cc > a.bc THEN "
        "struct(a.cc AS bc, a.cg AS bg, cast(1 as bigint) AS cc, x AS cg) "
        "ELSE struct(a.bc AS bc, a.bg AS bg, cast(1 as bigint) AS cc, x AS cg) "
        "END, "
        "a -> CASE WHEN a.cg IS NOT NULL AND a.cc > a.bc "
        "THEN struct(a.cc AS cnt, a.cg AS gram) "
        "WHEN a.cg IS NULL THEN "
        "cast(null as struct<cnt: bigint, gram: string>) "
        "ELSE struct(a.bc AS cnt, a.bg AS gram) END)"
    )
    dup_fold = (
        "aggregate(array_sort(g3), "
        "struct(cast(0 as bigint) AS dup, cast(0 as bigint) AS cc, "
        "cast(null as string) AS cg), "
        "(a, x) -> CASE WHEN a.cg IS NULL THEN "
        "struct(a.dup AS dup, cast(1 as bigint) AS cc, x AS cg) "
        "WHEN x = a.cg THEN struct(a.dup AS dup, a.cc + 1 AS cc, a.cg AS cg) "
        "ELSE struct(a.dup + IF(a.cc > 1, a.cc * length(a.cg), "
        "cast(0 as bigint)) AS dup, cast(1 as bigint) AS cc, x AS cg) END, "
        "a -> a.dup + IF(a.cc > 1, a.cc * length(a.cg), cast(0 as bigint)))"
    )
    enriched = (
        base.withColumn("best2", F.expr(top_fold))
        .withColumn("dup3_chars", F.expr(dup_fold))
        .withColumn("top2_count", F.col("best2.cnt"))
        .withColumn("top2_gram", F.col("best2.gram"))
    )
    out = (
        enriched.select(
            id_col,
            "n_tokens",
            F.coalesce("top2_count", F.lit(0)).cast("bigint").alias("top2_count"),
            F.coalesce("top2_gram", F.lit("")).alias("top2_gram"),
            F.floor(
                F.coalesce(F.col("top2_count") * F.length("top2_gram"), F.lit(0))
                * 1000
                / F.greatest(F.col("n_chars"), F.lit(1))
            ).alias("top2_permille"),
            F.floor(
                F.coalesce(F.col("dup3_chars"), F.lit(0))
                * 1000
                / F.greatest(F.col("n_chars"), F.lit(1))
            ).alias("dup3_permille"),
            F.floor(
                F.col("adj_pairs") * 1000 / F.greatest(F.col("n_tokens") - 1, F.lit(1))
            ).alias("adj_rep_permille"),
        )
        .withColumn(
            # the top2 leg binds only on an actually-REPEATED gram
            # (count ≥ 2): on a short doc even a unique 2-gram covers
            # a large char fraction, and a unique gram isn't repetition
            "keep",
            (F.col("dup3_permille") < 600)
            & ((F.col("top2_count") < 2) | (F.col("top2_permille") < 80))
            & (F.col("adj_rep_permille") < 100),
        )
    )
    return out


_REP_ORACLE = """
WITH words AS (
  SELECT doc_id, length(text) AS n_chars, string_split(text, ' ') AS ws
  FROM documents
),
g2 AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, greatest(len(ws)-1, 0)),
                i -> ws[i] || ' ' || ws[i+1])) AS gram
  FROM words
),
c2 AS (SELECT doc_id, gram, COUNT(*) AS n FROM g2 GROUP BY doc_id, gram),
top2 AS (
  SELECT doc_id, n AS top2_count, gram AS top2_gram
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY n DESC, gram) AS rn
        FROM c2)
  WHERE rn = 1
),
g3 AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, greatest(len(ws)-2, 0)),
                i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS gram
  FROM words
),
c3 AS (SELECT doc_id, gram, COUNT(*) AS n FROM g3 GROUP BY doc_id, gram),
dup3 AS (
  SELECT doc_id, SUM(n * length(gram)) AS dup3_chars
  FROM c3 WHERE n > 1 GROUP BY doc_id
),
adj AS (
  SELECT doc_id,
         len(list_filter(generate_series(1, greatest(len(ws)-1, 0)),
             i -> ws[i] = ws[i+1])) AS adj_pairs,
         greatest(len(ws) - 1, 1) AS denom,
         len(ws) AS n_tokens
  FROM words
)
SELECT w.doc_id,
       CAST(a.n_tokens AS BIGINT) AS n_tokens,
       CAST(COALESCE(t.top2_count, 0) AS BIGINT) AS top2_count,
       COALESCE(t.top2_gram, '') AS top2_gram,
       CAST(FLOOR(COALESCE(t.top2_count * length(t.top2_gram), 0) * 1000
                  / greatest(w.n_chars, 1)) AS BIGINT) AS top2_permille,
       CAST(FLOOR(COALESCE(d.dup3_chars, 0) * 1000
                  / greatest(w.n_chars, 1)) AS BIGINT) AS dup3_permille,
       CAST(FLOOR(a.adj_pairs * 1000 / a.denom) AS BIGINT) AS adj_rep_permille,
       (CAST(FLOOR(COALESCE(d.dup3_chars, 0) * 1000
                   / greatest(w.n_chars, 1)) AS BIGINT) < 600
        AND (COALESCE(t.top2_count, 0) < 2
             OR CAST(FLOOR(COALESCE(t.top2_count * length(t.top2_gram), 0) * 1000
                           / greatest(w.n_chars, 1)) AS BIGINT) < 80)
        AND CAST(FLOOR(a.adj_pairs * 1000 / a.denom) AS BIGINT) < 100) AS keep
FROM words w
JOIN adj a ON w.doc_id = a.doc_id
LEFT JOIN top2 t ON w.doc_id = t.doc_id
LEFT JOIN dup3 d ON w.doc_id = d.doc_id
ORDER BY w.doc_id
"""


@register(
    "q162_repetition_filter",
    oracle=_REP_ORACLE,
    doc="Intra-document repetition quality gate (round-12) — the "
    "Gopher/MassiveText repetition-filter family as integer-exact "
    "per-doc signals: most-frequent-2-gram character coverage, "
    "duplicated-3-gram character coverage (sum-of-occurrences), "
    "adjacent-token stutter rate, and the composite keep flag. "
    "N-grams are built inside the row (zip_with over array slices, "
    "no explode before counting) and counted by an in-row run-length "
    "fold over the sorted gram arrays (round-13 rebuild) — MAP-ONLY, "
    "zero exchanges, linear at any corpus size, no UDFs.",
)
def q162_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    # no trailing orderBy: the driver hash is order-insensitive, a
    # global sort of per-doc signals has no consumer at scale, and the
    # range exchange's bound-sampling pass re-evaluates the (CPU-dense)
    # fold subtree — measured as ~2× the query's whole wall
    return repetition_signals(load(spark, sf_dir, "documents"))


def canonicalize_text(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Unicode text canonicalization (round-12) — the standard
    normalization pass in front of tokenizer training / dedup in a
    training-data pipeline: strip C0/DEL control characters, Unicode
    NFC composition, whitespace collapse + trim.

    Stage placement is deliberate: the control strip and whitespace
    collapse are JVM regexes (whole-stage codegen), and ONLY the NFC
    step — which Spark has no built-in for — runs in Python, as an
    Arrow-batched ``mapInPandas`` over ``unicodedata.normalize``
    (never a row-at-a-time UDF). NFC cannot create control characters
    or spaces from non-spaces, so stripping before and collapsing
    after is order-safe. Returns (id, n_chars_raw, n_chars_canon,
    changed, canon_md5) — the canonical text itself stays inside the
    plan (callers chain on it; the driver digest doesn't ship it).

    Scale shape: one scan, no shuffle at all until the caller's sink
    or sort; the Arrow stage is a map — partitioning, pushdown, and
    column pruning pass straight through.
    """
    import pandas as pd  # noqa: F401 — typing aid for the closure

    stripped = df.select(
        F.col(id_col),
        F.length(text_col).cast("bigint").alias("n_chars_raw"),
        F.regexp_replace(
            F.col(text_col), "[\\x00-\\x1f\\x7f]", " "
        ).alias("txt"),
    )

    def nfc(batches):
        import unicodedata

        for pdf in batches:
            pdf["txt"] = [
                unicodedata.normalize("NFC", t) if t is not None else None
                for t in pdf["txt"]
            ]
            yield pdf

    composed = stripped.mapInPandas(nfc, stripped.schema)
    canon = F.trim(F.regexp_replace(F.col("txt"), " {2,}", " "))
    return composed.select(
        id_col,
        "n_chars_raw",
        F.length(canon).cast("bigint").alias("n_chars_canon"),
        (canon != F.col("txt")).alias("collapsed"),
        F.md5(canon.cast("binary")).alias("canon_md5"),
    )


#: deterministic unicode decorations injected per doc_id class — the
#: testdata corpus is pure ASCII, so the fixture manufactures the
#: cases NFC/strip/collapse exist for: a combining acute that must
#: COMPOSE (class 0), a BEL control that must strip then collapse
#: (class 1), double-space + trailing space (class 2), untouched
#: ASCII (class 3). Same CASE on both engines.
_CANON_DECORATE_SPARK = {
    # DECOMPOSED on purpose: 'e' + U+0301 combining acute - the NFC
    # stage must COMPOSE it (a precomposed \u00e9 would make NFC a
    # no-op and silently stop testing it)
    0: lambda c: F.concat(c, F.lit(" cafe"), F.lit("e\u0301")),
    1: lambda c: F.concat(c, F.lit("\x07bell")),
    2: lambda c: F.concat(c, F.lit("  double end ")),
}

_CANON_DECORATE_SQL = """CASE doc_id % 4
  WHEN 0 THEN text || ' cafe' || chr(101) || chr(769)
  WHEN 1 THEN text || chr(7) || 'bell'
  WHEN 2 THEN text || '  double end '
  ELSE text END"""

_CANON_ORACLE = f"""
WITH decorated AS (
  SELECT doc_id, {_CANON_DECORATE_SQL} AS raw FROM documents
),
canon AS (
  SELECT doc_id, length(raw) AS n_chars_raw,
         nfc_normalize(regexp_replace(raw, '[\\x00-\\x1f\\x7f]', ' ', 'g')) AS txt
  FROM decorated
),
fin AS (
  SELECT doc_id, n_chars_raw, txt,
         trim(regexp_replace(txt, ' {{2,}}', ' ', 'g')) AS c
  FROM canon
)
SELECT doc_id, n_chars_raw,
       length(c) AS n_chars_canon,
       (c != txt) AS collapsed,
       md5(c) AS canon_md5
FROM fin ORDER BY doc_id
"""


@register(
    "q163_unicode_canonicalize",
    oracle=_CANON_ORACLE,
    doc="Unicode canonicalization pass (round-12): control strip + NFC "
    "composition + whitespace collapse over a deterministically "
    "unicode-decorated corpus (combining acute that must compose, BEL "
    "that must strip, doubled/trailing spaces that must collapse). "
    "The ONLY Python is the NFC step Spark lacks, as an Arrow-batched "
    "mapInPandas map — control strip and collapse are JVM regex "
    "codegen. Oracle: DuckDB nfc_normalize replaying the same chain; "
    "the canon md5 pins every composed byte.",
)
def q163_unicode_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    cls = F.col("doc_id") % 4
    raw = F.col("text")
    for k, fn in _CANON_DECORATE_SPARK.items():
        raw = F.when(cls == k, fn(F.col("text"))).otherwise(raw)
    return canonicalize_text(
        d.select("doc_id", raw.alias("text"))
    ).orderBy("doc_id")
