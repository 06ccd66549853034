"""End-to-end corpus curation (SURVEY.md §2.K — driver mandate).

The flagship training-data-pipeline composition: quality gate → exact
dedup → greedy near-dup removal, as ONE declarative Spark plan.  This is
the shape a 100 TB pretraining-corpus build actually runs (C4/RefinedWeb
style): every stage is a DataFrame transform, so Catalyst fuses the
gates into the scan and the only shuffles are the two the algorithm
requires (content digest, shingle postings).

Scale notes per stage:
- quality gate: pure projection+filter, fused into the Parquet scan
  (predicate on n_chars pushed down; token exprs evaluated post-scan).
- exact dedup: one shuffle on md5(text) — 16-byte digest, not the body.
- near-dup removal: inverted-index pair generation (group-then-expand,
  see dedup.py) — pairs exist only where docs share a shingle; greedy
  keep-lowest-id is deterministic under any partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from ..catalog import register
from ..functions.hashing import md5_60
from ..io import load_table, local_frame
from .dedup import BUCKET_CAP as _JACCARD_DF_CAP
from .dedup import doc_shingles, jaccard_pair_counts
from .sampling import TRAIN_HEX_CUTOFF, is_train_expr
from .text import _EN_STOPWORDS

_STOP_SQL = "[" + ",".join(f"'{w}'" for w in _EN_STOPWORDS) + "]"

_MIN_CHARS = 100
_MIN_TOKENS = 20
_MIN_STOPWORD_COVERAGE = 0.10
_NEARDUP_JACCARD = 0.5


@register(
    "corpus_curation",
    oracle=f"""
    WITH gated AS (
      SELECT doc_id, lang, source, n_chars, text
      FROM documents
      WHERE n_chars >= {_MIN_CHARS}
        AND len(string_split(text, ' ')) >= {_MIN_TOKENS}
        AND CAST(len(list_intersect(string_split(lower(text), ' '),
                 {_STOP_SQL})) AS DOUBLE) / {len(_EN_STOPWORDS)}
            >= {_MIN_STOPWORD_COVERAGE}
    ),
    exact AS (
      SELECT doc_id, lang, source, n_chars, text FROM gated
      QUALIFY ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1
    ),
    tok AS (
      SELECT doc_id, string_split(lower(text), ' ') AS toks FROM exact
    ),
    gsets AS (
      SELECT doc_id,
             list_distinct([toks[i] || '_' || toks[i+1] || '_' || toks[i+2]
                            for i in range(1, greatest(len(toks) - 2, 0) + 1)]) AS gs
      FROM tok WHERE len(toks) >= 3
    ),
    postings AS (
      SELECT doc_id, unnest(gs) AS g, len(gs) AS sz FROM gsets
    ),
    sized AS (
      SELECT doc_id, g, sz,
             COUNT(*) OVER (PARTITION BY g) AS df,
             MIN(doc_id) OVER (PARTITION BY g) AS gmin
      FROM postings
    ),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(COUNT(*) AS DOUBLE)
               / (ANY_VALUE(a.sz) + ANY_VALUE(b.sz) - COUNT(*)) AS jaccard
      FROM sized a JOIN sized b ON a.g = b.g AND a.doc_id < b.doc_id
      WHERE a.df <= {_JACCARD_DF_CAP} OR a.doc_id = a.gmin
      GROUP BY a.doc_id, b.doc_id
    ),
    losers AS (
      SELECT DISTINCT doc_b FROM pairs WHERE jaccard >= {_NEARDUP_JACCARD}
    )
    SELECT doc_id, lang, source, n_chars
    FROM exact
    WHERE doc_id NOT IN (SELECT doc_b FROM losers)
    """,
    survey_ids=["K1", "K3"],
    doc="End-to-end corpus curation: C4-style quality gate (length + "
        "stopword coverage) → exact dedup (keep lowest doc_id per content "
        "digest) → greedy near-dup removal (drop any doc whose word-3-gram "
        "Jaccard vs an earlier surviving doc is >= 0.5). One declarative "
        "plan; shuffles: digest groupBy + shingle postings groupBy + the "
        "final anti-join (strategy left to AQE: the loser set is unbounded "
        "at corpus scale, so no broadcast hint). Shingles with df > 1000 "
        "expand anchor pairs only (mirrored in the oracle) — the "
        "stop-shingle skew guard, same recall bound as dedup_ngram_jaccard.",
)
def corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")

    toks = F.split(F.lower("text"), " ")
    coverage = F.size(
        F.array_intersect(toks, F.array(*[F.lit(w) for w in _EN_STOPWORDS]))
    ).cast("double") / len(_EN_STOPWORDS)
    gated = d.filter(
        (F.col("n_chars") >= _MIN_CHARS)
        & (F.size(F.split("text", " ")) >= _MIN_TOKENS)
        & (coverage >= _MIN_STOPWORD_COVERAGE)
    )

    w = W.partitionBy(F.md5("text")).orderBy("doc_id")
    exact = (
        gated.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )

    # near-dup pairs over the exact survivors: the shared Vernica-style
    # inverted-index pipeline (dedup.jaccard_pair_counts — identical
    # skew cap and pair semantics as dedup_ngram_jaccard, mirrored in
    # this oracle's windowed df filter)
    pairs = jaccard_pair_counts(
        doc_shingles(exact).filter(F.col("n_toks") >= 3), op="curation"
    )
    losers = pairs.filter(
        F.col("inter").cast("double") / F.col("uni") >= _NEARDUP_JACCARD
    ).select(F.col("doc_b").alias("doc_id")).distinct()

    # no broadcast hint: at 100 TB the near-dup loser set is a large
    # fraction of the corpus — AQE broadcasts when it's actually small,
    # shuffles otherwise (forcing broadcast here OOMs the driver at scale)
    return exact.join(losers, "doc_id", "left_anti").select(
        "doc_id", "lang", "source", "n_chars"
    )


# ------------------------------------------------- decontamination -----

_DECON_N = 8          # 8-gram overlap, the usual eval-contamination unit
_DECON_THRESHOLD = 0.10


def _decon_oracle() -> str:
    i_hi = f"len(toks) - {_DECON_N - 1}"
    return f"""
    WITH tok AS (
      SELECT doc_id, string_split(lower(coalesce(text, '')), ' ') AS toks
      FROM documents
    ),
    grams AS (
      SELECT doc_id,
             CASE WHEN len(toks) >= {_DECON_N} THEN
               list_distinct([array_to_string(toks[i:i+{_DECON_N - 1}], '_')
                              for i in range(1, {i_hi} + 1)])
             ELSE [] END AS gs,
             substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '{TRAIN_HEX_CUTOFF}'
               AS is_train
      FROM tok
    ),
    train_grams AS (
      SELECT DISTINCT CAST(concat('0x', substr(md5(g), 1, 15)) AS BIGINT) AS g
      FROM (SELECT unnest(gs) AS g FROM grams WHERE is_train)
    ),
    val_postings AS (
      SELECT doc_id, CAST(concat('0x', substr(md5(g), 1, 15)) AS BIGINT) AS g
      FROM (SELECT doc_id, unnest(gs) AS g FROM grams WHERE NOT is_train)
    ),
    stats AS (
      SELECT v.doc_id,
             COUNT(DISTINCT v.g) AS n_grams,
             COUNT(DISTINCT CASE WHEN t.g IS NOT NULL THEN v.g END) AS n_shared
      FROM val_postings v LEFT JOIN train_grams t ON v.g = t.g
      GROUP BY v.doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(s.n_grams, 0) AS BIGINT) AS n_grams,
           CAST(COALESCE(s.n_shared, 0) AS BIGINT) AS n_shared,
           CAST(CAST(ROUND(COALESCE(CAST(s.n_shared AS DOUBLE)
                                    / NULLIF(s.n_grams, 0), 0.0), 6)
                AS DECIMAL(10,6)) AS DOUBLE) AS contamination,
           COALESCE(CAST(s.n_shared AS DOUBLE) / NULLIF(s.n_grams, 0), 0.0)
             >= {_DECON_THRESHOLD} AS contaminated
    FROM (SELECT doc_id FROM grams WHERE NOT is_train) d
    LEFT JOIN stats s ON d.doc_id = s.doc_id
    """


@register(
    "corpus_decontaminate",
    oracle=_decon_oracle(),
    survey_ids=["K1", "K3"],
    doc=f"Train/val decontamination: for every VAL doc (same md5-prefix "
        "split as corpus_train_split), the fraction of its distinct "
        f"word-{_DECON_N}-grams that also occur anywhere in TRAIN — the "
        "leakage check an eval set needs before the train corpus ships. "
        "Scale shape: the train side collapses to a DISTINCT 8-byte "
        "gram-hash set BEFORE the join, so the join is 1:1 on a unique "
        "key (no posting-list blowup, no df cap needed — unlike the "
        "pairwise Jaccard ops, doc identity on the train side is not "
        "required). One shuffle per side + one equi-join.",
)
def corpus_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    # tokenize into a PROJECTED attribute: slice() inside the transform
    # lambda over an inline split() re-evaluates the split per gram (no
    # CSE across lambda boundaries — same O(tokens²) trap as
    # text_repetition_filter; measured ~4.8 s -> ~1.9 s warm at sf0.1)
    d = d.withColumn(
        "_toks", F.split(F.lower(F.coalesce(F.col("text"), F.lit(""))), " ")
    )
    toks = F.col("_toks")
    n = F.size(toks)
    grams = F.when(
        n >= _DECON_N,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), n - (_DECON_N - 1)),
                lambda i: F.array_join(F.slice(toks, i, _DECON_N), "_"),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    base = d.select("doc_id", grams.alias("gs"),
                    is_train_expr().alias("is_train"))

    g60 = md5_60("g")
    train_grams = (
        base.filter("is_train")
        # explode_outer, NOT explode: InferFiltersFromGenerate would
        # otherwise push size(gs)>0 below the projection, duplicating
        # the whole gram-building transform into a Filter (doc_shingles
        # documents the same trap); NULL rows are dropped right after,
        # on the exploded ATTRIBUTE, which nothing re-substitutes
        .select(F.explode_outer("gs").alias("g"))
        .filter(F.col("g").isNotNull())
        .select(g60.alias("g"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    val_postings = (
        base.filter(~F.col("is_train"))
        # explode_outer keeps zero-gram val docs in the report
        .select("doc_id", F.explode_outer("gs").alias("g"))
        .select("doc_id", g60.alias("g"))
    )
    stats = (
        val_postings.join(train_grams, "g", "left")
        .groupBy("doc_id")
        .agg(
            F.count_distinct("g").alias("n_grams"),
            F.count_distinct(F.when(F.col("hit").isNotNull(), F.col("g")))
            .alias("n_shared"),
        )
    )
    ratio = F.coalesce(
        F.col("n_shared").cast("double") / F.nullif(F.col("n_grams"), F.lit(0)),
        F.lit(0.0),
    )
    return stats.select(
        "doc_id",
        F.col("n_grams").cast("bigint").alias("n_grams"),
        F.col("n_shared").cast("bigint").alias("n_shared"),
        F.round(ratio, 6).cast("decimal(10,6)").cast("double")
        .alias("contamination"),
        (ratio >= _DECON_THRESHOLD).alias("contaminated"),
    )


_PHONE_RE = r"[0-9]{2}-[0-9]{3}-[0-9]{3}-[0-9]{4}"


_PHONE_SQL = (
    "lpad(CAST((c_custkey * 7) % 100 AS VARCHAR), 2, '0') || '-' || "
    "lpad(CAST((c_custkey * 13) % 1000 AS VARCHAR), 3, '0') || '-' || "
    "lpad(CAST((c_custkey * 17) % 1000 AS VARCHAR), 3, '0') || '-' || "
    "lpad(CAST((c_custkey * 19) % 10000 AS VARCHAR), 4, '0')"
)


def _phone_expr():
    key = F.col("c_custkey")
    return F.concat_ws(
        "-",
        F.lpad(((key * 7) % 100).cast("string"), 2, "0"),
        F.lpad(((key * 13) % 1000).cast("string"), 3, "0"),
        F.lpad(((key * 17) % 1000).cast("string"), 3, "0"),
        F.lpad(((key * 19) % 10000).cast("string"), 4, "0"),
    )


@register(
    "pii_scrub_customers",
    oracle=f"""
    WITH joined AS (
      SELECT c_custkey,
             c_name || ' call ' || {_PHONE_SQL} || ' ' || c_mktsegment AS blob
      FROM customer
    )
    SELECT c_custkey,
           CAST(len(regexp_extract_all(blob, '{_PHONE_RE}')) AS INT)
             AS n_phones,
           md5(regexp_replace(blob, '{_PHONE_RE}', '<PHONE>', 'g'))
             AS scrubbed_md5
    FROM joined
    """,
    survey_ids=["B7", "K3"],
    doc="Corpus-scale PII scrubbing (the training-data analog of the "
        "CDC path's field masking, B7): phone-shaped spans redacted from "
        "free text with a single codegen'd regexp_replace, redaction "
        "counts reported per record, and the scrubbed text fingerprinted "
        "(md5 — keeps the oracle compare content-exact without hashing "
        "large text through the driver). The slimmed testdata ships no "
        "PII-bearing column, so the phone is manufactured "
        "deterministically from c_custkey (same derive-from-data "
        "convention as the multimodal ops) — the redaction path itself "
        "(find/count/replace/fingerprint) is the real engine surface. "
        "Map-only scan at 100 TB: no shuffle, no Python, patterns from "
        "the regex subset Java and RE2 interpret identically.",
)
def pii_scrub_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    # F.concat, NOT concat_ws: the oracle's || propagates NULL (NULL
    # c_name → NULL blob → NULL n_phones/scrubbed_md5) while concat_ws
    # silently SKIPS NULL inputs — the two would diverge on any NULL
    # name/segment row (latent in the clean fixture, fatal under the
    # dirty-input gate's corrupted tables)
    blob = F.concat(F.col("c_name"), F.lit(" call "), _phone_expr(),
                    F.lit(" "), F.col("c_mktsegment"))
    return c.select(
        "c_custkey",
        F.size(F.regexp_extract_all(blob, F.lit(_PHONE_RE), F.lit(0)))
        .cast("int").alias("n_phones"),
        F.md5(F.regexp_replace(blob, _PHONE_RE, "<PHONE>"))
        .alias("scrubbed_md5"),
    )


# Target pretraining language mixture for the reweighting plan: the
# DoReMi/LLaMA-style "sample source s at rate r_s to hit target shares
# without upsampling anything" computation.  Literal here; on a real
# build it arrives as a tiny config table.
_TARGET_MIX = [("en", 0.5), ("fr", 0.3), ("de", 0.2)]

_MIX_VALUES_SQL = ", ".join(f"('{lang}', {w})" for lang, w in _TARGET_MIX)


@register(
    "corpus_mixture_plan",
    oracle=f"""
    WITH t(lang, target_share) AS (VALUES {_MIX_VALUES_SQL}),
    c AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM documents WHERE lang IS NOT NULL GROUP BY lang
    ),
    j AS (
      SELECT t.lang, t.target_share, COALESCE(c.n_docs, 0) AS n_docs
      FROM t LEFT JOIN c ON t.lang = c.lang
    ),
    k AS (
      SELECT MIN(n_docs / target_share) AS cap FROM j WHERE n_docs > 0
    )
    SELECT lang, n_docs, target_share,
           CASE WHEN n_docs = 0 THEN 0.0
                ELSE CAST(CAST(ROUND(
                    LEAST(1.0, target_share * cap / n_docs), 6)
                  AS DECIMAL(10,6)) AS DOUBLE) END AS rate,
           CASE WHEN n_docs = 0 THEN CAST(0 AS BIGINT)
                ELSE CAST(FLOOR(target_share * cap) AS BIGINT) END
             AS expected_rows
    FROM j CROSS JOIN k
    """,
    survey_ids=["K3", "D4"],
    doc="Mixture-reweighting plan: per-language sampling rates that hit "
        "a target training mixture with maximum data retention and NO "
        "upsampling — cap = min_l(count_l / share_l) is the largest "
        "corpus achievable at exact proportions; the binding language "
        "samples at rate 1.0, everything else downsamples.  One bounded "
        "groupBy + a broadcast scalar: the plan costs a count regardless "
        "of corpus size, and its `rate` column feeds the deterministic "
        "hash-coin samplers (sampling.py) unchanged.  FLOOR, not CAST, "
        "for expected_rows: Spark's double->bigint cast truncates while "
        "DuckDB's rounds — the one cross-engine trap in this query.",
)
def corpus_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    t = local_frame(spark, _TARGET_MIX, "lang string, target_share double")
    c = (d.filter(F.col("lang").isNotNull())
         .groupBy("lang").agg(F.count("*").cast("bigint").alias("n_docs")))
    j = (t.join(c, "lang", "left")
         .select("lang", "target_share",
                 F.coalesce("n_docs", F.lit(0).cast("bigint"))
                 .alias("n_docs")))
    cap = (j.filter(F.col("n_docs") > 0)
           .agg(F.min(F.col("n_docs") / F.col("target_share")).alias("cap")))
    rate = F.when(F.col("n_docs") == 0, F.lit(0.0)).otherwise(
        F.round(F.least(F.lit(1.0),
                        F.col("target_share") * F.col("cap") / F.col("n_docs")),
                6).cast("decimal(10,6)").cast("double"))
    expected = F.when(F.col("n_docs") == 0, F.lit(0).cast("bigint")).otherwise(
        F.floor(F.col("target_share") * F.col("cap")).cast("bigint"))
    return (
        j.crossJoin(F.broadcast(cap))
        .select("lang", "n_docs", "target_share",
                rate.alias("rate"), expected.alias("expected_rows"))
    )


@register(
    "pii_erasure_cascade",
    oracle="""
    WITH flagged AS (
      SELECT c_custkey FROM customer WHERE c_acctbal < 0
    ),
    fo AS (
      SELECT o_orderkey FROM orders
      WHERE o_custkey IN (SELECT c_custkey FROM flagged)
    ),
    fl AS (
      SELECT l_orderkey FROM lineitem
      WHERE l_orderkey IN (SELECT o_orderkey FROM fo)
    )
    SELECT CAST(1 AS INT) AS depth, 'customer' AS table_name,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM flagged) AS n_rows
    UNION ALL
    SELECT CAST(2 AS INT), 'orders',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM fo)
    UNION ALL
    SELECT CAST(3 AS INT), 'lineitem',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM fl)
    """,
    survey_ids=["B7", "C3", "F7"],
    doc="Right-to-erasure cascade audit: given a deterministic erasure-"
        "request set (customers with negative account balance standing "
        "in for a GDPR deletion queue), count the rows each downstream "
        "table would lose when the deletion cascades customer -> orders "
        "-> lineitem. The compliance twin of the CDC path's PII masking "
        "(B7) and retention drop (F7): masking hides fields in flight, "
        "retention ages out whole partitions, erasure must follow FK "
        "edges subject-by-subject — the audit BEFORE the delete is the "
        "step a 100 TB store runs first, because the cascade's blast "
        "radius decides whether to delete in place or rewrite "
        "partitions. Scale shape: each hop is a LEFT SEMI join keyed on "
        "the FK (custkey then orderkey) — key sets shuffle, bodies "
        "never; the three counts are 1-row aggregates unioned (funnel "
        "pattern). NULL keys drop out identically in both engines "
        "(semi join vs IN-subquery: a NULL probe key matches nothing).",
)
def pii_erasure_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    flagged = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") < 0)
        .select("c_custkey")
    )
    fo = (
        load_table(spark, sf_dir, "orders")
        .join(flagged, F.col("o_custkey") == F.col("c_custkey"), "left_semi")
        .select("o_orderkey")
    )
    fl = (
        load_table(spark, sf_dir, "lineitem")
        .join(fo, F.col("l_orderkey") == F.col("o_orderkey"), "left_semi")
        .select("l_orderkey")
    )
    def one(depth: int, name: str, df: DataFrame) -> DataFrame:
        return df.agg(F.count("*").cast("bigint").alias("n_rows")).select(
            F.lit(depth).cast("int").alias("depth"),
            F.lit(name).alias("table_name"),
            "n_rows",
        )
    return (
        one(1, "customer", flagged)
        .unionByName(one(2, "orders", fo))
        .unionByName(one(3, "lineitem", fl))
    )
