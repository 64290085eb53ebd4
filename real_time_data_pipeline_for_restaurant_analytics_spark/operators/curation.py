"""Corpus-curation operators a training-data pipeline runs before
anything touches a tokenizer: benchmark-contamination screening and
multi-stage quality filtering with per-stage accounting.

Both are pure DataFrame plans (no Python in the hot path):

- contamination: the benchmark set's distinct n-gram shingles are a
  SMALL relation (benchmarks are thousands of docs, not billions) —
  broadcast them and the corpus-side check is a map-side hash-join +
  one aggregation keyed by doc. No shuffle of corpus text, ever.
- filter funnel: every stage predicate is evaluated in ONE pass as
  nested conditional sums (a cumulative AND chain), then the single
  aggregate row is unpivoted to stage rows with `stack`. The naive
  form — one count() job per stage — scans the corpus S times; this
  scans it once.

Reference anchor: the reference's closest analog is its DQ gate
(duplicate-audit HAVING count>1, `order_proc.sql:171-183`); the
funnel generalizes that one-predicate gate to an ordered pipeline
with drop accounting per stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from ..catalog import load
from ..registry import register

SHINGLE_N = 5  # contamination n-gram width: long enough that chance
# collisions are rare, short enough to survive small edits


def _shingle_expr(ws_col: str, n: int) -> str:
    # let-bound: the words array evaluates once per row even after
    # CollapseProject inlines the split into this expression (see
    # dedup.let_array — the non-bound form re-splits per element).
    from .dedup import _shingle_body, let_array

    return let_array(ws_col, "_w", _shingle_body("_w", n))


def contamination_check(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    n: int = SHINGLE_N,
) -> DataFrame:
    """Per corpus doc: how many of its distinct word n-grams also
    appear anywhere in the benchmark set. Returns only docs with ≥1
    shared shingle (the sparse hit list).

    The benchmark shingle set is deduplicated then broadcast — the
    corpus side is explode → broadcast-hash-join → per-doc count, so
    corpus rows never shuffle and the join is map-side at any corpus
    size. ``contam_permille`` = ⌊1000·shared/total⌋ per doc.
    """
    def shingled(df: DataFrame) -> DataFrame:
        return df.select(F.col(id_col), F.split(F.col(text_col), " ").alias("ws")).select(
            F.col(id_col), F.explode(F.expr(_shingle_expr("ws", n))).alias("shingle")
        )

    bench_sh = shingled(benchmark).select("shingle").distinct()
    corpus_sh = shingled(corpus)
    sizes = corpus_sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_shingles"))
    shared = (
        corpus_sh.join(broadcast(bench_sh), "shingle")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        shared.join(sizes, id_col)
        .select(
            id_col,
            "n_shared",
            "n_shingles",
            F.floor(F.lit(1000) * F.col("n_shared") / F.col("n_shingles"))
            .cast("bigint")
            .alias("contam_permille"),
        )
    )


_BENCH_MAX_ID = 50  # self-contained benchmark set: doc_id < 50

_CONTAM_ORACLE = f"""
WITH words AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(generate_series(1, greatest(len(ws)-{SHINGLE_N - 1}, 0)),
                i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4])) AS shingle
  FROM words
),
bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < {_BENCH_MAX_ID}),
corpus AS (SELECT doc_id, shingle FROM sh WHERE doc_id >= {_BENCH_MAX_ID}),
sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM corpus GROUP BY doc_id),
shared AS (
  SELECT c.doc_id, COUNT(*) AS n_shared
  FROM corpus c JOIN bench b ON c.shingle = b.shingle
  GROUP BY c.doc_id
)
SELECT s.doc_id, s.n_shared, z.n_shingles,
       CAST(1000 * s.n_shared AS BIGINT) // z.n_shingles AS contam_permille
FROM shared s JOIN sizes z ON s.doc_id = z.doc_id
ORDER BY s.doc_id
"""


@register(
    "q53_benchmark_contamination",
    oracle=_CONTAM_ORACLE,
    doc="Benchmark-contamination screen: corpus docs sharing 5-gram "
    "shingles with the benchmark set (docs 0-49), via broadcast of the "
    "deduped benchmark shingles — corpus text never shuffles.",
)
def q53_benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") < _BENCH_MAX_ID)
    corpus = d.filter(F.col("doc_id") >= _BENCH_MAX_ID)
    return contamination_check(corpus, bench, "doc_id", "text").orderBy("doc_id")


def quality_funnel(
    df: DataFrame, stages: list[tuple[str, F.Column]]
) -> DataFrame:
    """Ordered filter funnel with per-stage accounting in ONE pass.

    ``stages`` = [(name, predicate), ...] applied cumulatively (a doc
    must pass every earlier stage to be counted at a later one). The
    plan is a single aggregation producing one row of conditional
    sums, unpivoted with `stack` — corpus scanned once regardless of
    stage count, vs. S full scans for the naive per-stage count().
    """
    cum = F.lit(True)
    cols = [F.count(F.lit(1)).alias("c0")]
    for i, (_, pred) in enumerate(stages, start=1):
        cum = cum & pred
        cols.append(F.sum(cum.cast("long")).alias(f"c{i}"))
    one = df.agg(*cols)
    stack_args = ", ".join(
        f"'{i}_{name}', c{i - 1}, c{i}"
        for i, (name, _) in enumerate(stages, start=1)
    )
    return one.select(
        F.expr(
            f"stack({len(stages)}, {stack_args}) AS (stage, docs_in, docs_out)"
        )
    ).select(
        "stage",
        "docs_in",
        "docs_out",
        (F.col("docs_in") - F.col("docs_out")).alias("dropped"),
    )


_FUNNEL_ORACLE = """
WITH f AS (
  SELECT n_chars >= 150 AS f1,
         n_chars >= 150 AND len(string_split(text, ' ')) >= 40 AS f2,
         n_chars >= 150 AND len(string_split(text, ' ')) >= 40
           AND lang IN ('en', 'es', 'fr') AS f3
  FROM documents
), agg AS (
  SELECT COUNT(*) AS c0,
         CAST(SUM(CASE WHEN f1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         CAST(SUM(CASE WHEN f2 THEN 1 ELSE 0 END) AS BIGINT) AS c2,
         CAST(SUM(CASE WHEN f3 THEN 1 ELSE 0 END) AS BIGINT) AS c3
  FROM f
)
SELECT '1_min_chars' AS stage, c0 AS docs_in, c1 AS docs_out, c0 - c1 AS dropped FROM agg
UNION ALL
SELECT '2_min_tokens', c1, c2, c1 - c2 FROM agg
UNION ALL
SELECT '3_lang', c2, c3, c2 - c3 FROM agg
ORDER BY stage
"""


@register(
    "q56_quality_filter_funnel",
    oracle=_FUNNEL_ORACLE,
    doc="Quality-filter funnel (min chars → min tokens → language "
    "allowlist) with per-stage in/out/drop counts computed in a single "
    "corpus scan (cumulative conditional sums + stack unpivot).",
)
def q56_quality_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    stages = [
        ("min_chars", F.col("n_chars") >= 150),
        ("min_tokens", F.size(F.split("text", " ")) >= 40),
        ("lang", F.col("lang").isin("en", "es", "fr")),
    ]
    return quality_funnel(d, stages).orderBy("stage")


_MANIFEST_ORACLE = f"""
WITH words AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(generate_series(1, greatest(len(ws)-{SHINGLE_N - 1}, 0)),
                i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4])) AS shingle
  FROM words
),
bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < {_BENCH_MAX_ID}),
contaminated AS (
  SELECT DISTINCT c.doc_id
  FROM sh c JOIN bench b ON c.shingle = b.shingle
  WHERE c.doc_id >= {_BENCH_MAX_ID}
),
canon AS (
  SELECT md5(text) AS h, MIN(doc_id) AS canonical_id
  FROM documents GROUP BY md5(text)
),
flags AS (
  SELECT d.doc_id, d.source,
         d.n_chars >= 150 AND len(string_split(d.text, ' ')) >= 40
           AND d.lang IN ('en', 'es', 'fr') AS quality_pass,
         ct.doc_id IS NOT NULL AS contaminated,
         d.doc_id <> c.canonical_id AS duplicate
  FROM documents d
  JOIN canon c ON md5(d.text) = c.h
  LEFT JOIN contaminated ct ON d.doc_id = ct.doc_id
  WHERE d.doc_id >= {_BENCH_MAX_ID}
)
SELECT doc_id, source, quality_pass, contaminated, duplicate,
       quality_pass AND NOT contaminated AND NOT duplicate AS kept
FROM flags ORDER BY doc_id
"""


@register(
    "q61_clean_corpus_manifest",
    oracle=_MANIFEST_ORACLE,
    doc="End-to-end curation manifest: per corpus doc the quality-"
    "funnel verdict, benchmark-contamination flag, exact-dup flag, and "
    "the final keep decision — the whole curation flow as ONE "
    "declarative plan (near-dup removal composes the same way via the "
    "q49 LSH->Jaccard chain).",
)
def q61_clean_corpus_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composition of the curation surface into one keep/drop manifest.

    Plan shape at scale: the quality flags are map-side expressions;
    contamination is the broadcast shingle join of q53; the exact-dup
    canonical comes from one shuffle on md5(text) (q19's kernel);
    everything meets back on doc_id equi-joins. One wide scan of the
    corpus feeds all three arms (Spark reuses the scan; no arm
    re-reads the parquet)."""
    d = load(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") >= _BENCH_MAX_ID)
    bench = d.filter(F.col("doc_id") < _BENCH_MAX_ID)
    contaminated = (
        contamination_check(corpus, bench, "doc_id", "text")
        .select("doc_id")
        .withColumn("_c", F.lit(True))
    )
    canon = (
        d.select("doc_id", F.md5("text").alias("_h"))
        .groupBy("_h")
        .agg(F.min("doc_id").alias("_canonical_id"))
    )
    flags = (
        corpus.select(
            "doc_id",
            "source",
            F.md5("text").alias("_h"),
            (
                (F.col("n_chars") >= 150)
                & (F.size(F.split("text", " ")) >= 40)
                & F.col("lang").isin("en", "es", "fr")
            ).alias("quality_pass"),
        )
        .join(canon, "_h")
        .join(contaminated, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            "quality_pass",
            F.coalesce(F.col("_c"), F.lit(False)).alias("contaminated"),
            (F.col("doc_id") != F.col("_canonical_id")).alias("duplicate"),
        )
    )
    return flags.select(
        "doc_id",
        "source",
        "quality_pass",
        "contaminated",
        "duplicate",
        (F.col("quality_pass") & ~F.col("contaminated") & ~F.col("duplicate")).alias("kept"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Pattern scrubbing (PII-redaction kernel)
# ---------------------------------------------------------------------------

# Default PII patterns for production corpora. The regexes restrict
# themselves to syntax Java regex (Spark) and RE2 (DuckDB, and most
# scrubbing services) interpret identically: no backrefs, no lookaround.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    ("phone", r"\+?[0-9]{2,3}[- ][0-9]{3,5}[- ][0-9]{4,6}", "[PHONE]"),
    ("id_number", r"\b[0-9]{6,12}\b", "[ID]"),
]


def scrub_patterns(
    df: DataFrame,
    id_col: str,
    text_col: str,
    patterns: list[tuple[str, str, str]] = PII_PATTERNS,
) -> DataFrame:
    """PII/pattern scrubbing: per doc, count hits of each named pattern
    (against the ORIGINAL text, so counts are order-independent) and
    emit the text with all patterns replaced, applied in list order.

    Entirely map-side JVM regex — one corpus scan, zero shuffles at
    any scale; this is the redaction pass a training pipeline runs
    right before tokenization. Returns the scrubbed text plus its md5
    (the compact equality witness) and per-pattern hit counts.
    """
    scrubbed = F.col(text_col)
    for _, rx, repl in patterns:
        scrubbed = F.regexp_replace(scrubbed, rx, repl)
    return df.select(
        F.col(id_col),
        *[
            F.regexp_count(F.col(text_col), F.lit(rx)).cast("bigint").alias(f"n_{name}")
            for name, rx, _ in patterns
        ],
        F.length(text_col).cast("bigint").alias("orig_len"),
        F.length(scrubbed).cast("bigint").alias("scrubbed_len"),
        F.md5(scrubbed).alias("scrubbed_md5"),
    )


# The synthetic corpus carries no emails/phones (PII_PATTERNS is
# exercised on crafted rows in tests/test_curation.py), so the
# registered query scrubs a dictionary pattern class that does occur —
# the same kernel, real replacements, oracle-checkable end to end.
_SCRUB_QUERY_PATTERNS: list[tuple[str, str, str]] = [
    ("entity", r"\bcustomer\b", "[ENTITY]"),
    ("term", r"\b(spark|vector)\b", "[TERM]"),
]

_SCRUB_ORACLE = """
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '\\bcustomer\\b')) AS BIGINT) AS n_entity,
       CAST(len(regexp_extract_all(text, '\\b(spark|vector)\\b')) AS BIGINT) AS n_term,
       CAST(len(text) AS BIGINT) AS orig_len,
       CAST(len(scrubbed) AS BIGINT) AS scrubbed_len,
       md5(scrubbed) AS scrubbed_md5
FROM (
  SELECT doc_id, text,
         regexp_replace(regexp_replace(text, '\\bcustomer\\b', '[ENTITY]', 'g'),
                        '\\b(spark|vector)\\b', '[TERM]', 'g') AS scrubbed
  FROM documents
)
ORDER BY doc_id
"""


@register(
    "q64_pattern_scrub",
    oracle=_SCRUB_ORACLE,
    doc="PII-redaction kernel over the corpus: per-pattern hit counts "
    "(on original text) + sequential regexp_replace scrub, verified via "
    "the scrubbed text's md5 — map-side regex, one scan, zero shuffles.",
)
def q64_pattern_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return scrub_patterns(d, "doc_id", "text", _SCRUB_QUERY_PATTERNS).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Per-group decile floor filter
# ---------------------------------------------------------------------------


def decile_floor_filter(
    df: DataFrame,
    group_col: str,
    score_col: str,
    id_col: str,
    drop_deciles: int = 1,
) -> DataFrame:
    """Drop the bottom ``drop_deciles`` tenths of every group, ranked
    by (score, id) — the per-source "cut the worst X%" selection step
    of corpus curation, with a deterministic integer rank (the id
    tie-break makes it engine-reproducible; NTILE over ties is not).

    One shuffle on ``group_col`` serves both window functions (rank
    and group size share the partitioning). At 100 TB the group count
    (sources/domains) is large, so partitions stay balanced; a single
    giant group degrades to its own sort, which AQE splits.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(score_col, id_col)
    wg = Window.partitionBy(group_col)
    ranked = df.select(
        F.col(id_col),
        F.col(group_col),
        F.col(score_col),
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wg).alias("grp_n"),
    )
    return ranked.filter(
        F.col("rn") > F.floor(F.col("grp_n") * drop_deciles / 10)
    ).select(id_col, group_col, score_col)


_DECILE_ORACLE = """
WITH ranked AS (
  SELECT doc_id, source, n_chars,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY source) AS grp_n
  FROM documents
)
SELECT doc_id, source, n_chars
FROM ranked WHERE rn > grp_n // 10
ORDER BY doc_id
"""


@register(
    "q66_decile_floor_filter",
    oracle=_DECILE_ORACLE,
    doc="Per-source bottom-decile cut: drop the shortest 10% of docs "
    "within each source (deterministic (score,id) rank; one shuffle "
    "shared by both windows).",
)
def q66_decile_floor_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return decile_floor_filter(d, "source", "n_chars", "doc_id").orderBy("doc_id")


# ---------------------------------------------------------------------------
# Cross-split contamination (train/test leakage)
# ---------------------------------------------------------------------------


def _frac_sql(col: str) -> str:
    """DuckDB twin of sampling.hash_fraction for an arbitrary column."""
    return (
        f"CAST(('0x' || substr(md5(CAST({col} AS VARCHAR)), 1, 8)) AS BIGINT)"
        " / 4294967296.0"
    )


def _split_case_sql(col: str) -> str:
    f = _frac_sql(col)
    return (
        f"CASE WHEN {f} < 0.9 THEN 'train' WHEN {f} < 0.95 THEN 'val'"
        " ELSE 'test' END"
    )


def cross_split_leakage(
    docs: DataFrame, splits: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Train/test leakage audit: near-duplicate pairs (the q49
    LSH→exact-Jaccard pipeline) whose two docs landed in DIFFERENT
    splits — the leakage that silently inflates eval numbers. The
    near-dup pair list is tiny relative to the corpus, so the two
    split lookups are joins against a broadcast-sized relation.

    ``splits`` must carry (id_col, split) — normally
    ``sampling.split_assign``'s output, so the audit uses exactly the
    split function the training run used."""
    from .dedup import verified_near_dups

    pairs = verified_near_dups(docs, id_col, text_col)
    s1 = splits.select(F.col(id_col).alias("id1"), F.col("split").alias("split1"))
    s2 = splits.select(F.col(id_col).alias("id2"), F.col("split").alias("split2"))
    return (
        pairs.join(s1, "id1")
        .join(s2, "id2")
        .filter(F.col("split1") != F.col("split2"))
        .select("id1", "id2", "jaccard_permille", "split1", "split2")
    )


def _leakage_oracle() -> str:
    from .dedup import _verified_oracle

    return f"""
WITH pairs AS ({_verified_oracle()}),
s AS (SELECT doc_id, {_split_case_sql("doc_id")} AS split FROM documents)
SELECT p.id1, p.id2, p.jaccard_permille,
       s1.split AS split1, s2.split AS split2
FROM pairs p
JOIN s s1 ON p.id1 = s1.doc_id
JOIN s s2 ON p.id2 = s2.doc_id
WHERE s1.split <> s2.split
ORDER BY p.id1, p.id2
"""


@register(
    "q74_cross_split_leakage",
    oracle=_leakage_oracle(),
    doc="Train/test leakage audit: verified near-dup pairs (q49 "
    "pipeline) that straddle different splits of the q42 hash split — "
    "the governance check run before any eval number is trusted.",
)
def q74_cross_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sampling import split_assign

    d = load(spark, sf_dir, "documents")
    splits = split_assign(
        d.select("doc_id"), "doc_id", {"train": 0.9, "val": 0.05, "test": 0.05}
    )
    return cross_split_leakage(d, splits).orderBy("id1", "id2")


DEFAULT_SPLIT_WEIGHTS = {"train": 0.9, "val": 0.05, "test": 0.05}


def leakage_free_split(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    weights: dict[str, float] | None = None,
) -> DataFrame:
    """Cluster-atomic train/val/test split — the CONSTRUCTIVE fix for
    the leakage q74 audits: a per-document hash split puts two
    near-duplicates in different splits with probability ~2·p·(1−p),
    silently inflating eval numbers; here the split is a pure function
    of the document's NEAR-DUP COMPONENT (q36's exact-dup ∪ LSH-edge
    connected components), so an entire duplicate cluster lands in one
    split by construction. Singletons (no dup edges) hash on their own
    id — for them this degrades to exactly the q42 split.

    Determinism survives reruns, repartitioning, and engine changes
    for the same reason q42's does (md5 draw on the component id), PLUS
    cluster growth is monotone-safe: adding a new member to a cluster
    never moves the cluster (component = min id is stable unless the
    new doc has a smaller id than every existing member).

    Scale shape: component labels come from the iterative min-label
    flood (edge-sized frames, O(diameter) rounds); the corpus then
    LEFT-joins the membership relation — membership is bounded by docs
    that have at least one dup edge, typically a small fraction of the
    corpus, and the join is one shuffle on the id. Emits one row per
    doc: (id, component, split).
    """
    from .dedup import cluster_components
    from .sampling import split_assign

    comps = cluster_components(docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")))
    base = docs.select(F.col(id_col))
    with_comp = (
        base.join(comps, base[id_col] == comps.id, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("component"), F.col(id_col)).alias("component"),
        )
    )
    return split_assign(with_comp, "component", weights or DEFAULT_SPLIT_WEIGHTS)


def _leakage_free_split_oracle() -> str:
    from .dedup import _clusters_cte

    return (
        _clusters_cte()
        + f""",
allc AS (
  SELECT d.doc_id, CAST(COALESCE(c.component, d.doc_id) AS BIGINT) AS component
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
)
SELECT doc_id, component, {_split_case_sql("component")} AS split
FROM allc ORDER BY doc_id
"""
    )


@register(
    "q119_leakage_free_split",
    oracle=_leakage_free_split_oracle(),
    doc="Cluster-atomic train/val/test split: hash draw on the "
    "near-dup COMPONENT id (q36 components; singletons on their own "
    "id), so whole duplicate clusters land in one split and the q74 "
    "leakage audit returns zero rows by construction (test-pinned).",
)
def q119_leakage_free_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return leakage_free_split(d).orderBy("doc_id")


def source_cap_sample(
    docs: DataFrame,
    cap: int,
    source_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-source document cap (the web-pipeline "domain cap"): keep at
    most ``cap`` docs per source, chosen by a deterministic pseudo-random
    rank (md5 of the id, ties by id) so reruns and engines agree and no
    source's internal ordering biases the kept set.

    One shuffle, partitioned by source. A pathological mega-source makes
    that partition hot; the production mitigation is the same two-stage
    trick as q32's salted agg — pre-rank within (source, salt) and keep
    cap candidates per salt before the final per-source rank — worth it
    only when a single source exceeds a task's row budget."""
    return (
        _cap_ranked(docs, source_col, id_col)
        .filter(F.col("_rk") <= cap)
        .drop("_rk")
    )


def _cap_ranked(docs: DataFrame, source_col: str, id_col: str) -> DataFrame:
    """The domain cap's SINGLE rank source: every doc with ``_rk``, its
    row number within its source in md5('cap:'+id) order (ties by id).
    :func:`source_cap_sample` filters this frame; the q78 audit
    aggregates it (it needs dropped-doc accounting, so it cannot
    consume the filtered output)."""
    from pyspark.sql import Window

    rnd = F.md5(F.concat(F.lit("cap:"), F.col(id_col).cast("string")))
    w = Window.partitionBy(source_col).orderBy(rnd, id_col)
    return docs.withColumn("_rk", F.row_number().over(w))


@register(
    "q78_source_cap_sample",
    oracle="""
WITH ranked AS (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY md5('cap:' || CAST(doc_id AS VARCHAR)), doc_id) AS rk
  FROM documents
)
SELECT source, CAST(SUM(CASE WHEN rk <= 40 THEN 1 ELSE 0 END) AS BIGINT) AS kept,
       CAST(SUM(CASE WHEN rk <= 40 THEN 0 ELSE 1 END) AS BIGINT) AS dropped_over_cap
FROM ranked
GROUP BY source ORDER BY source
""",
    doc="Per-source document cap (domain-cap curation): deterministic "
    "md5-rank keeps ≤N docs per source so no single crawl domain "
    "dominates the training mixture; per-source kept/dropped "
    "accounting.",
)
def q78_source_cap_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").select("doc_id", "source")
    ranked = _cap_ranked(d, "source", "doc_id")
    return (
        ranked.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("kept_plus_dropped"),
            F.sum(F.when(F.col("_rk") <= 40, 0).otherwise(1)).cast("bigint").alias(
                "dropped_over_cap"
            ),
        )
        .select(
            "source",
            (F.col("kept_plus_dropped") - F.col("dropped_over_cap")).alias("kept"),
            "dropped_over_cap",
        )
        .orderBy("source")
    )


def normalized_dedup_lift(
    docs: DataFrame, group_col: str = "source", id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """How many MORE exact duplicates does text normalization surface?

    Crawl dups rarely differ by content — they differ by case,
    punctuation, and whitespace. This measures the dedup lift of the
    canonical normalization (lowercase → strip non-alphanumerics →
    collapse/trim spaces) per source: dup_raw = docs minus distinct
    raw md5s, dup_norm = same over normalized md5s, lift = the extra
    dups normalization caught. One scan; both DISTINCT counts ride the
    same source-keyed partial aggregate, and normalization is a chain
    of JVM regex expressions inside codegen (no shuffle of text — the
    aggregate carries md5s only, by counting distincts of fixed-width
    hashes).

    The normalization is deliberately ASCII-conservative (lower +
    [^a-z0-9 ] strip) so every engine reproduces it byte-for-byte;
    locale-aware Unicode folding is a per-deployment swap-in.
    """
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9 ]", ""),
            "  +",
            " ",
        )
    )
    per = docs.select(
        F.col(group_col).alias("grp"),
        F.md5(F.col(text_col)).alias("h_raw"),
        F.md5(norm).alias("h_norm"),
    )
    return (
        per.groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.count_distinct("h_raw").cast("bigint").alias("n_distinct_raw"),
            F.count_distinct("h_norm").cast("bigint").alias("n_distinct_norm"),
        )
        .select(
            F.col("grp").alias("source"),
            "n_docs",
            (F.col("n_docs") - F.col("n_distinct_raw")).cast("bigint").alias("dup_raw"),
            (F.col("n_docs") - F.col("n_distinct_norm")).cast("bigint").alias("dup_norm"),
            (F.col("n_distinct_raw") - F.col("n_distinct_norm"))
            .cast("bigint")
            .alias("lift"),
        )
        .orderBy("source")
    )


@register(
    "q98_normalized_dedup_lift",
    oracle="""
WITH per AS (
  SELECT source,
         md5(text) AS h_raw,
         md5(trim(regexp_replace(
             regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
             '  +', ' ', 'g'))) AS h_norm
  FROM documents
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(*) - COUNT(DISTINCT h_raw) AS BIGINT) AS dup_raw,
       CAST(COUNT(*) - COUNT(DISTINCT h_norm) AS BIGINT) AS dup_norm,
       CAST(COUNT(DISTINCT h_raw) - COUNT(DISTINCT h_norm) AS BIGINT) AS lift
FROM per GROUP BY source ORDER BY source
""",
    doc="Dedup lift of text normalization (lower/strip-punct/collapse-"
    "space) per source: extra exact dups surfaced vs raw md5 — one "
    "scan, codegen regex chain, shuffle carries md5s not text.",
)
def q98_normalized_dedup_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    return normalized_dedup_lift(load(spark, sf_dir, "documents"))


def quantile_normalize_by_group(
    df: DataFrame,
    group_col: str,
    score_col: str,
    id_col: str,
) -> DataFrame:
    """Within-group quantile normalization of a quality score: each
    row's score becomes its integer-permille rank position inside its
    group — permille = 1000·(rank-1) DIV (n-1), rank ordered by
    (score, id) for determinism; a single-row group maps to 500.

    Why: per-source quality scores are not comparable across sources
    (different length/style distributions), so a single global
    threshold over- or under-prunes whole sources. Normalizing to
    within-source quantiles first makes one global cut behave like a
    per-source percentile cut — the standard curation recipe before
    mixing heterogeneous corpora.

    Scale shape: ONE shuffle on the group key; both the rank and the
    group count come out of the same window partition, so a group's
    rows stream through one sorted partition (skew follows the largest
    source — salt or split upstream if one source dominates).
    Integer-exact on both engines (no float percentile).
    """
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(score_col, id_col)
    n = Window.partitionBy(group_col)
    return df.select(
        F.col(id_col),
        F.col(group_col),
        F.col(score_col),
        F.row_number().over(w).alias("_rk"),
        F.count(F.lit(1)).over(n).alias("_n"),
    ).select(
        F.col(id_col),
        F.col(group_col),
        F.col(score_col),
        F.when(F.col("_n") == 1, F.lit(500).cast("bigint"))
        .otherwise(F.expr("(CAST(_rk - 1 AS BIGINT) * 1000) div (_n - 1)"))
        .alias("permille"),
    )


@register(
    "q101_quality_quantile_normalize",
    oracle="""
WITH r AS (
  SELECT doc_id, source, n_chars,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rk,
         COUNT(*) OVER (PARTITION BY source) AS n
  FROM documents
)
SELECT doc_id, source, n_chars,
       CASE WHEN n = 1 THEN CAST(500 AS BIGINT)
            ELSE CAST((rk - 1) * 1000 AS BIGINT) // (n - 1) END AS permille
FROM r ORDER BY doc_id
""",
    doc="Within-source quantile normalization of a quality score "
    "(integer permille of the (score,id) rank): makes one global "
    "threshold act as a per-source percentile cut before mixing "
    "heterogeneous corpora — one shuffle on the source key.",
)
def q101_quality_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    return quantile_normalize_by_group(d, "source", "n_chars", "doc_id").orderBy("doc_id")


def canonical_url(url_col: str) -> Column:
    """Canonical form of a URL column — the standard web-corpus dedup
    key (Common Crawl-scale curation: the same page arrives under
    case-varied hosts, default ports, shuffled/tracking query params,
    fragments):

    - strip ``#fragment``
    - lowercase scheme and host (path stays case-sensitive, per RFC)
    - drop default ports (http:80, https:443); keep explicit others
    - drop ``utm_*`` tracking params, sort the rest (param order is
      semantically irrelevant), rebuild the query string
    - normalize a single trailing slash ('' and '/' both → '/')

    Pure engine string algebra (split_part/filter/sort_array — every
    step whole-stage-codegen, no UDF), written against the function
    subset whose semantics DuckDB shares exactly, so q113's oracle
    replays it verbatim."""
    u = f"split_part({url_col}, '#', 1)"
    scheme = f"lower(split_part({u}, '://', 1))"
    rest = f"split_part({u}, '://', 2)"
    hostport = f"split_part({rest}, '/', 1)"
    pathquery = f"substring({rest}, length({hostport}) + 1)"
    host = f"lower(split_part({hostport}, ':', 1))"
    port = f"split_part({hostport}, ':', 2)"
    keep_port = (
        f"CASE WHEN {port} = '' THEN '' "
        f"WHEN {scheme} = 'http' AND {port} = '80' THEN '' "
        f"WHEN {scheme} = 'https' AND {port} = '443' THEN '' "
        f"ELSE ':' || {port} END"
    )
    path = f"split_part({pathquery}, '?', 1)"
    path_n = (
        f"CASE WHEN {path} IN ('', '/') THEN '/' "
        f"WHEN substring({path}, length({path}), 1) = '/' "
        f"THEN substring({path}, 1, length({path}) - 1) "
        f"ELSE {path} END"
    )
    query = f"split_part({pathquery}, '?', 2)"
    query_n = (
        f"array_join(sort_array(filter(split({query}, '&'), "
        f"p -> NOT startswith(p, 'utm_') AND p <> '')), '&')"
    )
    return F.expr(
        f"{scheme} || '://' || {host} || {keep_port} || {path_n} || "
        f"CASE WHEN {query_n} = '' THEN '' ELSE '?' || {query_n} END"
    )


def _duck_canonical_url(url_col: str) -> str:
    """DuckDB replay of canonical_url — same algebra, dialect-local
    names (str_split/list_filter/list_sort/array_to_string)."""
    u = f"split_part({url_col}, '#', 1)"
    scheme = f"lower(split_part({u}, '://', 1))"
    rest = f"split_part({u}, '://', 2)"
    hostport = f"split_part({rest}, '/', 1)"
    pathquery = f"substring({rest}, length({hostport}) + 1)"
    host = f"lower(split_part({hostport}, ':', 1))"
    port = f"split_part({hostport}, ':', 2)"
    keep_port = (
        f"CASE WHEN {port} = '' THEN '' "
        f"WHEN {scheme} = 'http' AND {port} = '80' THEN '' "
        f"WHEN {scheme} = 'https' AND {port} = '443' THEN '' "
        f"ELSE ':' || {port} END"
    )
    path = f"split_part({pathquery}, '?', 1)"
    path_n = (
        f"CASE WHEN {path} IN ('', '/') THEN '/' "
        f"WHEN substring({path}, length({path}), 1) = '/' "
        f"THEN substring({path}, 1, length({path}) - 1) "
        f"ELSE {path} END"
    )
    query = f"split_part({pathquery}, '?', 2)"
    # coalesce: DuckDB's array_to_string([]) is NULL where Spark's
    # array_join([]) is '' — the one dialect divergence in this algebra
    query_n = (
        f"coalesce(array_to_string(list_sort(list_filter(str_split({query}, '&'), "
        f"p -> NOT starts_with(p, 'utm_') AND p <> '')), '&'), '')"
    )
    return (
        f"{scheme} || '://' || {host} || {keep_port} || {path_n} || "
        f"CASE WHEN {query_n} = '' THEN '' ELSE '?' || {query_n} END"
    )


# messy-variant templates shared by q113 and its oracle: five surface
# forms per page-group, two canonical targets (plain vs with-query)
_URL_VARIANTS_SQL = """
CASE doc_id % 5
  WHEN 0 THEN 'http://example.com/r/' || CAST(doc_id {idiv} 5 AS {str}) || '/'
  WHEN 1 THEN 'HTTP://Example.COM/r/' || CAST(doc_id {idiv} 5 AS {str})
  WHEN 2 THEN 'http://example.com:80/r/' || CAST(doc_id {idiv} 5 AS {str})
  WHEN 3 THEN 'http://example.com/r/' || CAST(doc_id {idiv} 5 AS {str})
              || '?b=2&utm_source=x&a=1'
  ELSE 'http://example.com:80/r/' || CAST(doc_id {idiv} 5 AS {str})
              || '?a=1&b=2#frag'
END
"""


@register(
    "q113_url_canonical_dedup",
    oracle=f"""
WITH urls AS (
  SELECT doc_id, {_URL_VARIANTS_SQL.format(str="VARCHAR", idiv="//")} AS url FROM documents
), canon AS (
  SELECT doc_id, {_duck_canonical_url("url")} AS canonical_url FROM urls
)
SELECT canonical_url,
       CAST(COUNT(*) AS BIGINT) AS n_variants,
       CAST(MIN(doc_id) AS BIGINT) AS keep_doc_id
FROM canon GROUP BY 1 ORDER BY canonical_url
""",
    doc="URL canonicalization + dedup (web-corpus curation): case/"
    "default-port/fragment/tracking-param/param-order/trailing-slash "
    "variants collapse to one canonical key; keep-lowest-id per page. "
    "Pure codegen string algebra, one md5-free groupBy shuffle keyed "
    "by the canonical URL; the oracle replays the identical algebra.",
)
def q113_url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    urls = d.select(
        "doc_id", F.expr(_URL_VARIANTS_SQL.format(str="STRING", idiv="div")).alias("url")
    )
    return (
        urls.select("doc_id", canonical_url("url").alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_variants"),
            F.min("doc_id").cast("bigint").alias("keep_doc_id"),
        )
        .orderBy("canonical_url")
    )


def dataset_card(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """The dataset-card statistics a released training corpus ships:
    per (split, lang) — document and token counts, exact-duplicate
    coverage, and the mean LM quality score. Composes the round's
    curation primitives end to end: cluster-atomic splits
    (:func:`leakage_free_split`), the bigram LM score
    (text.lm_bigram_score), and md5 exact-dup detection — one
    deliverable frame a data consumer reads before training.

    All integer arithmetic (counts, ppm, milli-units), so the card is
    engine-replayable. Scale shape: every input is an existing
    bounded-shuffle operator; the final reduce groups by
    (split, lang) — a handful of rows."""
    from .dedup import exact_dedup
    from .text import lm_bigram_score

    splits = leakage_free_split(docs, id_col, text_col).select(id_col, "split")
    lm = lm_bigram_score(docs, id_col, text_col).select(id_col, "lm_score_milli")
    dup = (
        docs.select(F.col(id_col), F.md5(F.col(text_col)).alias("content_md5"))
        .join(
            exact_dedup(docs, id_col, text_col).select("content_md5", "n_copies"),
            "content_md5",
        )
        .select(
            F.col(id_col),
            F.when(F.col("n_copies") > 1, F.lit(1)).otherwise(F.lit(0)).alias("is_dup"),
        )
    )
    tok = docs.select(
        F.col(id_col),
        F.col("lang"),
        F.expr(f"CAST(size(split({text_col}, ' ')) AS BIGINT)").alias("n_tokens"),
    )
    joined = tok.join(splits, id_col).join(lm, id_col).join(dup, id_col)
    return (
        joined.groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            F.sum("is_dup").cast("bigint").alias("dup_docs"),
            F.expr("CAST((sum(is_dup) * 1000000) div count(1) AS BIGINT)").alias(
                "dup_ppm"
            ),
            F.expr(
                "CAST(CASE WHEN count(lm_score_milli) > 0"
                " THEN sum(lm_score_milli) div count(lm_score_milli)"
                " ELSE NULL END AS BIGINT)"
            ).alias("mean_lm_milli"),
        )
        .orderBy("split", "lang")
    )


def _dataset_card_oracle() -> str:
    from .dedup import _clusters_cte

    return (
        _clusters_cte()
        + f""",
allc AS (
  SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
),
sp AS (SELECT doc_id, {_split_case_sql("component")} AS split FROM allc),
lmbase AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
bg AS (
  SELECT doc_id, unnest(a[1:len(a)-1]) AS w1, unnest(a[2:len(a)]) AS w2 FROM lmbase
),
bc2 AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c2 FROM bg GROUP BY 1, 2),
bc1 AS (SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1 FROM bc2 GROUP BY 1),
lmdoc AS (
  SELECT b.doc_id,
         CAST(SUM((bc2.c2 * 1000) // bc1.c1) // COUNT(*) AS BIGINT) AS lm_score_milli
  FROM bg b JOIN bc2 ON b.w1 = bc2.w1 AND b.w2 = bc2.w2
            JOIN bc1 ON b.w1 = bc1.w1
  GROUP BY b.doc_id
),
dupd AS (
  SELECT doc_id,
         CASE WHEN COUNT(*) OVER (PARTITION BY md5(text)) > 1 THEN 1 ELSE 0 END AS is_dup
  FROM documents
),
tok AS (
  SELECT doc_id, lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
),
card AS (
  SELECT sp.split, t.lang,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(t.n_tokens) AS BIGINT) AS n_tokens,
         CAST(SUM(dd.is_dup) AS BIGINT) AS dup_docs,
         CAST((SUM(dd.is_dup) * 1000000) // COUNT(*) AS BIGINT) AS dup_ppm,
         CAST(CASE WHEN COUNT(lm.lm_score_milli) > 0
                   THEN SUM(lm.lm_score_milli) // COUNT(lm.lm_score_milli)
                   ELSE NULL END AS BIGINT) AS mean_lm_milli
  FROM tok t
  JOIN sp ON sp.doc_id = t.doc_id
  LEFT JOIN lmdoc lm ON lm.doc_id = t.doc_id
  JOIN dupd dd ON dd.doc_id = t.doc_id
  GROUP BY sp.split, t.lang
)
SELECT * FROM card ORDER BY split, lang
"""
    )


@register(
    "q125_dataset_card",
    oracle=_dataset_card_oracle(),
    doc="Dataset-card statistics per (split, lang): doc/token counts, "
    "exact-dup coverage ppm, mean bigram-LM quality — the release "
    "artifact of a curation run, composing the leakage-free split, the "
    "LM score, and md5 dedup in one integer-exact frame.",
)
def q125_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dataset_card(load(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# q171 — DSIR: Data Selection with Importance Resampling (Xie et al.,
# NeurIPS 2023 — public algorithm). Select raw-pool documents whose
# hashed-bigram distribution looks like a TARGET domain: fit two
# bag-of-hashed-ngram multinomials (target and raw, Laplace-smoothed),
# score every raw doc with its log importance weight
# log p_tgt(x) − log p_raw(x) = Σ_b c_b(x)·llr_b, then resample via
# Gumbel-top-k (deterministic hash-seeded Gumbel noise, the paper's
# sampling-without-replacement scheme made engine-reproducible).
#
# Scale shape: ONE corpus scan explodes bigrams to (doc, bucket)
# counts (shuffle keyed by doc×bucket); the two multinomials are
# B-row aggregates (B = 4096) that broadcast back; the per-doc weight
# is one doc-keyed sum. Selection is PER SOURCE via a partitioned
# window (the q66 decile pattern) — no global single-partition sort
# at any corpus size. Floats appear only as ln over identical
# integers on both engines, rounded to 6 decimals (the q48 TF-IDF
# parity convention).
# ---------------------------------------------------------------------------

_DSIR_B = 4096  # hashed-ngram feature buckets (paper: 10k; 4096 keeps
# the bucket relation broadcast-trivial and is plenty at test scale)
_DSIR_KEEP_PCT = 20  # keep top 20% per raw source


def dsir_importance_resample(
    docs: DataFrame,
    target_filter: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "source",
    n_buckets: int = _DSIR_B,
    keep_pct: int = _DSIR_KEEP_PCT,
) -> DataFrame:
    """DSIR selection: rows of the raw pool (NOT matching
    ``target_filter``) whose Gumbel-perturbed log importance weight
    ranks in the top ``keep_pct`` percent of their ``group_col``.

    Returns (id, group, n_grams, weight_r, sample_key_r, rn) with the
    floats rounded to 6 decimals, ordered by id.
    """
    from pyspark.sql import Window

    from .dedup import _H_SQL

    base = docs.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col),
        F.col(group_col),
        F.expr(target_filter).alias("_is_tgt"),
        F.split(F.col(text_col), " ").alias("_a"),
    )
    grams = base.select(
        id_col,
        group_col,
        "_is_tgt",
        F.explode(
            F.expr(
                "if(size(_a) < 2, array(), transform(sequence(1, size(_a) - 1), "
                "i -> concat(element_at(_a, i), ' ', element_at(_a, i + 1))))"
            )
        ).alias("_g"),
    ).select(
        id_col,
        group_col,
        "_is_tgt",
        F.expr(f"pmod({_H_SQL.format(s='_g')}, {n_buckets})").alias("b"),
    )
    # (doc, bucket) counts — the only corpus-sized shuffle. The frame
    # feeds BOTH multinomial fits and the per-doc scoring join;
    # localCheckpoint materializes it once so the corpus text is
    # scanned and bigram-hashed exactly once, not once per consumer
    # (the q166 shingle-table pattern) — and it is count-compressed,
    # orders smaller than the text it came from.
    dbc = grams.groupBy(id_col, group_col, "_is_tgt", "b").agg(
        F.count(F.lit(1)).alias("c")
    ).localCheckpoint()
    # the two multinomials: B-row aggregates, broadcast back; the
    # checkpoint makes tot's reuse of marg free (4096 rows)
    marg = dbc.groupBy("b").agg(
        F.sum(F.when(F.col("_is_tgt"), F.col("c")).otherwise(0)).alias("ct"),
        F.sum(F.when(~F.col("_is_tgt"), F.col("c")).otherwise(0)).alias("cr"),
    ).localCheckpoint()
    tot = marg.agg(
        F.sum("ct").alias("tt"), F.sum("cr").alias("tr")
    )
    # ACCEPTED RESIDUAL RISK (q48 float-parity convention): w is a
    # floating-point SUM of per-bucket double terms, and Spark's and
    # DuckDB's aggregation ORDER differ — each ln term is
    # engine-identical (same integer inputs), but the sum can drift in
    # the last ulp, and round(·, 6) below only probabilistically
    # absorbs that (a value landing exactly on a 6-decimal rounding
    # boundary, or a rank flip at the keep_pct cut between two
    # near-equal keys, would break hash parity). Fixed-point
    # accumulation would remove the risk but change every emitted
    # weight_r/sample_key_r value, so it stays documented rather than
    # fixed while driver hashes pin the current doubles.
    scored = (
        dbc.filter(~F.col("_is_tgt"))
        .join(broadcast(marg), "b")
        .crossJoin(broadcast(tot))
        .groupBy(id_col, group_col)
        .agg(
            F.sum("c").alias("n_grams"),
            F.sum(
                F.col("c")
                * (
                    F.log(F.col("ct") + 1)
                    - F.log(F.col("tt") + F.lit(n_buckets))
                    - F.log(F.col("cr") + 1)
                    + F.log(F.col("tr") + F.lit(n_buckets))
                )
            ).alias("w"),
        )
    )
    # hash-seeded Gumbel noise: u in (0,1) from the doc id's md5 fold,
    # identical integers on both engines -> identical doubles
    u = (
        F.expr(f"pmod({_H_SQL.format(s=f'CAST({id_col} AS STRING)')}, 1000000)")
        + 1
    ) / 1000001.0
    keyed = scored.withColumn("skey", F.col("w") - F.log(-F.log(u)))
    w_rank = Window.partitionBy(group_col).orderBy(
        F.round("skey", 6).desc(), F.col(id_col)
    )
    wg = Window.partitionBy(group_col)
    return (
        keyed.select(
            id_col,
            group_col,
            "n_grams",
            F.round("w", 6).alias("weight_r"),
            F.round("skey", 6).alias("sample_key_r"),
            F.row_number().over(w_rank).alias("rn"),
            F.count(F.lit(1)).over(wg).alias("_gn"),
        )
        .filter(F.col("rn") <= F.greatest(F.lit(1), (F.col("_gn") * keep_pct) / 100))
        .select(
            id_col,
            group_col,
            "n_grams",
            "weight_r",
            "sample_key_r",
            F.col("rn").cast("bigint").alias("rn"),
        )
    )


_DSIR_ORACLE = f"""
WITH base AS (
  SELECT doc_id, source, (source = 'src0') AS is_tgt, string_split(text, ' ') AS a
  FROM documents WHERE text IS NOT NULL
),
bg AS (
  SELECT doc_id, source, is_tgt,
         CAST(('0x' || substr(md5(w1 || ' ' || w2), 1, 8)) AS BIGINT) % {_DSIR_B} AS b
  FROM (SELECT doc_id, source, is_tgt,
               unnest(a[1:len(a)-1]) AS w1, unnest(a[2:len(a)]) AS w2
        FROM base WHERE len(a) >= 2)
),
dbc AS (
  SELECT doc_id, source, is_tgt, b, CAST(COUNT(*) AS BIGINT) AS c
  FROM bg GROUP BY ALL
),
marg AS (
  SELECT b,
         SUM(CASE WHEN is_tgt THEN c ELSE 0 END) AS ct,
         SUM(CASE WHEN NOT is_tgt THEN c ELSE 0 END) AS cr
  FROM dbc GROUP BY b
),
tot AS (SELECT SUM(ct) AS tt, SUM(cr) AS tr FROM marg),
scored AS (
  SELECT dbc.doc_id, dbc.source,
         CAST(SUM(c) AS BIGINT) AS n_grams,
         SUM(c * (ln(CAST(ct + 1 AS DOUBLE)) - ln(CAST(tt + {_DSIR_B} AS DOUBLE))
                - ln(CAST(cr + 1 AS DOUBLE)) + ln(CAST(tr + {_DSIR_B} AS DOUBLE)))) AS w
  FROM dbc JOIN marg USING (b) CROSS JOIN tot
  WHERE NOT is_tgt
  GROUP BY dbc.doc_id, dbc.source
),
keyed AS (
  SELECT *,
         w - ln(-ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                     % 1000000 + 1) / 1000001.0)) AS skey
  FROM scored
),
ranked AS (
  SELECT doc_id, source, n_grams,
         round(w, 6) AS weight_r, round(skey, 6) AS sample_key_r,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY round(skey, 6) DESC, doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY source) AS gn
  FROM keyed
)
SELECT doc_id, source, n_grams, weight_r, sample_key_r, CAST(rn AS BIGINT) AS rn
FROM ranked
WHERE rn <= greatest(1, (gn * {_DSIR_KEEP_PCT}) // 100)
ORDER BY doc_id
"""


@register(
    "q171_dsir_importance_resample",
    oracle=_DSIR_ORACLE,
    doc="DSIR data selection (Xie et al., NeurIPS 2023): fit "
    "Laplace-smoothed hashed-bigram multinomials over a target domain "
    "(source='src0' stands in for e.g. Wikipedia) and the raw pool, "
    "score every raw doc with its log importance weight "
    "log p_tgt − log p_raw, perturb with hash-seeded Gumbel noise "
    "(the paper's without-replacement resampling, made deterministic), "
    "and keep the top 20% per raw source via a partitioned window — "
    "no global sort. One doc×bucket shuffle + two broadcast B-row "
    "multinomials + one doc-keyed sum; ln only over identical "
    "integers on both engines (q48 parity convention).",
)
def q171_dsir_importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return dsir_importance_resample(d, "source = 'src0'").orderBy("doc_id")
