"""Document deduplication operators (SURVEY.md §2.K1 — driver mandate).

Training-data-pipeline dedup over the ``documents`` table, each designed
for the 100 TB path:

- exact:       hash-groupBy on a content digest — one shuffle on the digest
- minhash-LSH: shingle → K minhashes → B bands → equi-join on band key.
  Candidate generation NEVER cross-joins: pairs only materialize for
  documents sharing a band bucket, so cost is Σ bucket² instead of N².
- simhash:     64-bit locality hash → bucket on 16-bit chunks (Hamming
  candidates), verify by popcount distance.
- n-gram Jaccard: token-shingle overlap verification for candidate pairs.

Determinism: all hashes derive from md5/xxhash64 of content — stable
across runs, partitionings, and cluster sizes (no Random, no uuid()).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..catalog import register
from ..functions.hashing import md5_60
from ..io import load_table

# ---------------------------------------------------------------- exact --


@register(
    "dedup_exact_survivors",
    oracle="""
    SELECT doc_id, lang, source, n_chars,
           CAST(n_copies AS BIGINT) AS n_copies
    FROM (
      SELECT doc_id, lang, source, n_chars,
             COUNT(*) OVER (PARTITION BY md5(text)) AS n_copies,
             ROW_NUMBER() OVER (PARTITION BY md5(text)
                                ORDER BY doc_id) AS rn
      FROM documents
    ) WHERE rn = 1
    """,
    survey_ids=["K1", "E2"],
    doc="Exact dedup, both contracts in one pass (r12 consolidation of "
        "dedup_exact_groups + dedup_exact_keep_first — this output is a "
        "superset of each): the min-doc_id survivor per content digest, "
        "projected WITH its collapsed copy count (n_copies > 1 filters "
        "to the old duplicate-groups view; the survivor's doc_id IS the "
        "old keeper_doc_id).  Still exactly one shuffle, on the 16-byte "
        "digest — at 100 TB the shuffle is ~digest+id wide, not content "
        "wide, and the count/row_number windows share the single "
        "exchange+sort.",
)
def dedup_exact_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    w = W.partitionBy(F.md5("text"))
    return (
        d.select(
            "doc_id", "lang", "source", "n_chars",
            F.count("*").over(w).cast("bigint").alias("n_copies"),
            F.row_number().over(w.orderBy("doc_id")).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


# ------------------------------------------------------------- minhash --

N_HASHES = 16
N_BANDS = 4  # 4 rows per band
# Skew guard: buckets above this size switch pair expansion from
# all-pairs (O(k²)) to anchor pairing (O(k), see _candidate_pairs) —
# recall degrades gracefully instead of being dropped outright.
BUCKET_CAP = 1000
_H2_MASK = (1 << 40) - 1  # keep h1 + 15*h2m < 2^61: no overflow either engine


# Last (Observation, fallback-metrics DataFrame) per capping operator,
# so cap-degraded recall is measurable instead of silent: on a
# boilerplate-heavy corpus the anchor fallback still finds every
# member-vs-anchor pair, but skips the other all-pairs expansions, and
# the operator of a 100 TB run needs to SEE that trade (alert on
# skipped_pairs, re-run with a higher cap if the anchor recall bound is
# not acceptable).  Populated by _candidate_pairs; read via
# bucket_drop_stats() after an action has run on the query's result.
# Bounded by the op names: each run REPLACES its op's entry, so a
# streaming ingest (one run per micro-batch) holds only its last
# batch's observation and fallback plan, never one per batch.
_DROP_OBS: dict[str, tuple[object, DataFrame]] = {}

_DROP_METRIC_COLS = (
    "capped_buckets", "recovered_pairs", "skipped_pairs", "total_buckets"
)


def _drop_metric_exprs():
    # evaluated over the window-tagged POSTING rows (_candidate_pairs):
    # each bucket is counted exactly once, at its anchor (min-id) row
    df_ = F.col("_df")
    bucket = F.col("doc_id") == F.col("_anchor")
    over = bucket & (df_ > BUCKET_CAP)
    full_pairs = (df_ * (df_ - 1) / F.lit(2)).cast("long")
    return [
        F.sum(F.when(over, 1).otherwise(0)).alias("capped_buckets"),
        F.sum(F.when(over, df_ - 1).otherwise(0)).cast("long")
        .alias("recovered_pairs"),
        F.sum(F.when(over, full_pairs - (df_ - 1)).otherwise(0)).cast("long")
        .alias("skipped_pairs"),
        F.sum(F.when(bucket, 1).otherwise(0)).cast("long")
        .alias("total_buckets"),
    ]


def bucket_drop_stats(op: str, obs_wait_s: float = 3.0) -> dict | None:
    """Skew-cap metrics for the last run of ``op`` ('minhash' |
    'jaccard' | 'simhash' | 'curation' | 'exact_substring' |
    'corpus_ingest' | 'embedding_ingest' — the last two are the
    streaming dedup ingests' last micro-batch), or None if it hasn't
    run (or its session is gone).

    Keys: ``capped_buckets`` (buckets over BUCKET_CAP whose expansion
    degraded to anchor pairing), ``recovered_pairs`` (anchor pairs still
    generated from those buckets: size−1 each), ``skipped_pairs``
    (all-pairs expansions NOT generated: C(size,2)−(size−1) each),
    ``total_buckets``.

    Polls the same-pass Observation briefly — delivery is async, and
    pyspark's ``Observation.get`` only waits ~100 ms before surfacing a
    schemaless empty row as an opaque toPyRow assertion error.  If the
    observation never fires (AQE pruned the CollectMetrics node, see
    _candidate_pairs), falls back to collecting the stored aggregation —
    which RE-RUNS the bucket pipeline (shingle → postings → groupBy) as
    one extra job: cheap at test scale, a real scan at corpus scale, so
    treat a fallback-path read as a diagnostic, not a free metric.  The
    fallback is guarded: if the owning SparkSession has been stopped the
    stored plan is unusable and None is returned instead of an opaque
    py4j error.
    """
    import time

    entry = _DROP_OBS.get(op)
    if entry is None:
        return None
    obs, fallback = entry
    deadline = time.monotonic() + obs_wait_s
    got = None
    while time.monotonic() < deadline:
        try:
            got = obs.get
            break
        except Exception:
            time.sleep(0.1)
    if got is None:
        sc = fallback.sparkSession.sparkContext
        if getattr(sc, "_jsc", None) is None:  # session stopped
            return None
        got = fallback.collect()[0].asDict()
    return {k: (0 if got.get(k) is None else got[k]) for k in _DROP_METRIC_COLS}


def _candidate_pairs(rows: DataFrame, key_cols: list[str],
                     extras: list[str], op: str) -> DataFrame:
    """Bucket-member rows (key…, doc_id, extras…) → candidate pairs
    (doc_a, doc_b, a_<extra>…, b_<extra>…) with BOUNDED memory at any
    skew.  Shared by the minhash/simhash/jaccard/exact-substring/
    curation candidate generators and by the streaming corpus and
    embedding dedup ingests (streaming/_ingest_base._resolve_batch).

    Two-path plan keyed on per-bucket document frequency:

    - in-cap buckets (df ≤ BUCKET_CAP): group-then-expand — collect the
      bucket array and emit all C(df,2) ordered pairs.  The array is
      bounded by the cap (≤ 1000 structs), so no aggregation row can
      grow past ~tens of KB.
    - over-cap buckets: ANCHOR pairing as a plain projection — every
      member row joins its bucket's min-id doc (carried on the stats
      row), O(df) pairs with NO bucket array at all.  An earlier
      revision expanded anchor pairs from the collected array, which
      still materialized the whole degenerate bucket in one aggregation
      row first — a stop-shingle shared by 10⁷ docs at 100 TB would
      OOM the agg before the cap could help.  Here the only per-bucket
      aggregation state is (count, min, min_by): constant size.

    Cost: bucket stats (df, anchor, anchor payload) are WINDOW
    functions over the bucket key, not a separate aggregation joined
    back — both downstream branches (in-cap expansion, over-cap anchor
    projection) then hang off the SAME exchange, so the expensive
    upstream (tokenize → shingle → hash) is computed once and its
    shuffle files are reused (a stats-join formulation was measured
    ~1.8× slower because its two different exchanges forced a full
    upstream recompute per branch).  One big shuffle on the key, same
    as the single-groupBy form.  Recall bound unchanged: a pair is
    missed only if it holds between two non-anchor members in every
    over-cap bucket they share and nowhere else.  Mirrored in the
    oracles as ``a.df <= CAP OR a.doc_id = bucket_min`` — the oracle's
    COUNT() OVER / MIN() OVER is literally this plan.

    Metrics (bucket_drop_stats) ride the window output via an
    Observation, counting each bucket once at its anchor row; AQE can
    prune CollectMetrics when downstream goes empty, so an un-observed
    twin is stored as the fallback.
    """
    from pyspark.sql import Observation, Window as W

    # Width-pin the bucket exchange (VERDICT r11 task 1, BENCHLOG
    # round-12): AQE's post-shuffle coalescing sizes this exchange by
    # its INPUT bytes — a few MB of narrow postings at sf0.1 — and
    # under-provisions the stage that matters, because the window +
    # pair explode downstream AMPLIFIES rows ~5x (260k postings ->
    # 1.27M pair structs at sf0.1): the coalesced 5-6 tasks serialize
    # the pipeline's dominant CPU on a 32-core box.  The explicit
    # repartition satisfies the window's clustering requirement, so the
    # plan's exchange COUNT is unchanged — only its width (measured:
    # full Jaccard edge pipeline 2.00 -> 1.54 s median, interleaved
    # idle-box A/B).  The same generate-amplification argument holds on
    # a cluster; defaultParallelism (total cores) is the right width
    # for a CPU-bound expand at any scale.
    rows = rows.repartition(
        rows.sparkSession.sparkContext.defaultParallelism, *key_cols)
    # ONE unordered window spec for all bucket stats: doc_id is unique
    # within a bucket (postings are distinct per doc by construction),
    # so min(struct(doc_id, extras)) IS the ordered-first anchor row —
    # and an unordered spec lets the window sort on the bucket key
    # alone, where the previous ordered first() forced a second window
    # exec sorted by (key, doc_id) over every posting (r16).
    w_part = W.partitionBy(*key_cols)
    anchor_s = F.min(F.struct("doc_id", *extras)).over(w_part)
    tagged = rows.select(
        *key_cols, "doc_id", *extras,
        F.count(F.lit(1)).over(w_part).cast("long").alias("_df"),
        anchor_s["doc_id"].alias("_anchor"),
        *[anchor_s[c].alias(f"_anchor_{c}") for c in extras],
    )
    obs = Observation()
    _DROP_OBS[op] = (obs, tagged.agg(*_drop_metric_exprs()))
    tagged = tagged.observe(obs, *_drop_metric_exprs())

    out_cols = (["doc_a", "doc_b"] + [f"a_{c}" for c in extras]
                + [f"b_{c}" for c in extras])

    # in-cap buckets: group-then-expand all C(df,2) ordered pairs; the
    # collected array stays bounded by the df filter
    grouped = tagged.filter(
        (F.col("_df") >= 2) & (F.col("_df") <= BUCKET_CAP)
    ).groupBy(*key_cols).agg(
        F.collect_list(F.struct("doc_id", *extras)).alias("ds")
    )
    ds = F.col("ds")
    pair_arr = F.flatten(
        F.transform(
            ds,
            lambda x: F.transform(
                F.filter(ds, lambda y: y["doc_id"] > x["doc_id"]),
                lambda y: F.struct(
                    x["doc_id"].alias("doc_a"),
                    y["doc_id"].alias("doc_b"),
                    *[x[c].alias(f"a_{c}") for c in extras],
                    *[y[c].alias(f"b_{c}") for c in extras],
                ),
            ),
        )
    )
    pairs_in = grouped.select(F.explode_outer(pair_arr).alias("p")).select(
        *[F.col(f"p.{c}").alias(c) for c in out_cols]
    )
    pairs_over = tagged.filter(
        (F.col("_df") > BUCKET_CAP) & (F.col("doc_id") != F.col("_anchor"))
    ).select(
        F.col("_anchor").alias("doc_a"),
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"_anchor_{c}").alias(f"a_{c}") for c in extras],
        *[F.col(c).alias(f"b_{c}") for c in extras],
    )
    return pairs_in.unionByName(pairs_over)


def _shingle_expr(toks):
    """Word 3-gram shingle array over a MATERIALIZED token-array column.

    tokens[i..i+2] joined with '_' for each valid start index; distinct.

    ``toks`` must be a real attribute (projected by ``doc_shingles``),
    never an inline ``split(...)`` expression: element_at inside the
    lambda would re-evaluate the regex split per element (no CSE across
    lambda boundaries — benched 10× slower at sf0.1).  Given a column
    reference, transform-over-indices is O(n) per doc; the previous
    aggregate/array_append fold was O(n²) in array copies and benched
    3× slower at sf0.1.
    """
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - 2),
        lambda i: F.concat_ws(
            "_", F.element_at(toks, i), F.element_at(toks, i + 1),
            F.element_at(toks, i + 2)
        ),
    )
    return F.array_distinct(
        F.when(F.size(toks) >= 3, grams).otherwise(F.array(F.concat_ws("_", toks)))
    )


def doc_shingles(docs: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """(id, n_toks, gs): tokenize each document ONCE into a projected
    column, then build the 3-gram shingle array from it.

    Downstream explodes of ``gs`` MUST use ``explode_outer``: a plain
    explode triggers InferFiltersFromGenerate, which pushes
    ``size(gs)>0 AND isnotnull(gs)`` beneath these projections —
    substituting the whole shingle expression (with per-element split
    re-evaluation) into the Filter, a measured 2× regression at sf0.1.
    ``gs`` is non-empty by construction (text IS NOT NULL is filtered
    here), so outer vs inner explode is semantically identical."""
    from ..speccache import per_context

    cols = per_context(("doc_shingles", id_col, text_col), lambda: [
        F.col(id_col),
        F.size("_toks").alias("n_toks"),
        _shingle_expr(F.col("_toks")).alias("gs"),
    ])
    return docs.filter(F.col(text_col).isNotNull()).withColumn(
        "_toks", F.split(F.lower(text_col), " ")
    ).select(*cols)


def minhash_signatures(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """K minhash values per doc via md5 double-hashing (Kirsch-Mitzenmacher).

    One md5 per posting yields two integers (h1: 60 bits, h2m: 40 bits,
    parsed from hex — `conv` here ≡ `CAST('0x…' AS BIGINT)` in the DuckDB
    oracle, verified identical); the K hash streams are h_i = h1 + i·h2m
    (max < 2^61: overflow-free in both engines).  Double-hashing preserves
    minwise-independence in practice (Kirsch & Mitzenmacher, ESA 2006) and
    replaces K=16 xxhash64 calls per posting with ONE md5 + integer math —
    and, unlike xxhash64, md5 exists in ANSI-SQL engines, which is what
    makes `dedup_minhash_lsh` fully oracle-checkable.

    Shape matters: tokenize ONCE into posting rows (doc, shingle), then one
    grouped agg with K min-expressions.  The naive form — K array_min(
    transform(shingles(text))) column expressions — re-tokenizes the
    document K× per use site (no CSE across lambdas) and benched 25×
    slower at sf0.1.  One shuffle on doc id; md5 is JVM-codegen'd.
    """
    from ..speccache import per_context

    def build():
        m = F.md5("g")
        hash_cols = [
            F.col(id_col),
            F.conv(F.substring(m, 1, 15), 16, 10).cast("bigint").alias("h1"),
            F.conv(F.substring(m, 17, 15), 16, 10).cast("bigint")
            .bitwiseAND(F.lit(_H2_MASK)).alias("h2m"),
        ]
        agg_exprs = [
            F.min(F.col("h1") + F.lit(i) * F.col("h2m")).alias(f"h{i}")
            for i in range(N_HASHES)
        ]
        out_cols = [
            F.col(id_col),
            F.array(*[f"h{i}" for i in range(N_HASHES)]).alias("sig"),
        ]
        return hash_cols, agg_exprs, out_cols

    hash_cols, agg_exprs, out_cols = per_context(
        ("minhash_signatures", id_col, text_col), build)
    postings = doc_shingles(docs, id_col, text_col).select(
        F.col(id_col), F.explode_outer("gs").alias("g")
    ).select(*hash_cols)
    return postings.groupBy(id_col).agg(*agg_exprs).select(*out_cols)


def minhash_candidates(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """LSH banding: docs sharing any band bucket become candidate pairs.

    Shuffle cost: docs × B band rows, keyed by (band_id, band_hash).
    Self-join happens per bucket — skew guard: buckets above BUCKET_CAP
    degrade to anchor pairing (_candidate_pairs) instead of going
    quadratic, so a single hot bucket costs O(k) while its members stay
    paired against the bucket minimum.
    """
    # Two-path group-then-expand (_candidate_pairs): bucket rows group
    # by band key; in-cap buckets expand inside a bounded array,
    # over-cap buckets anchor-join.  The signature pipeline runs ONCE —
    # the previous bucket self-join (plus its separate skew-guard
    # aggregation) evaluated it three times.
    rows_per_band = N_HASHES // N_BANDS

    def _band_hash(b: int):
        # md5-of-concat band key folded to 60 bits — same derivation the
        # DuckDB oracle uses, and an 8-byte shuffle key instead of a
        # ~80-byte concatenated-sig string.
        key = F.concat_ws(
            "_",
            *[F.element_at("sig", b * rows_per_band + r + 1)
              for r in range(rows_per_band)],
        )
        return md5_60(key)

    sig = minhash_signatures(docs, id_col, text_col)
    bands = sig.select(
        id_col,
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        _band_hash(b).alias("band_hash"),
                    )
                    for b in range(N_BANDS)
                ]
            )
        ).alias("band"),
    ).select(id_col, "sig", "band.band_id", "band.band_hash")

    pairs = _candidate_pairs(
        bands.select(F.col(id_col).alias("doc_id"), "sig", "band_id",
                     "band_hash"),
        ["band_id", "band_hash"], ["sig"], "minhash",
    ).dropDuplicates(["doc_a", "doc_b"])
    est = F.aggregate(
        F.zip_with("a_sig", "b_sig", lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0),
        lambda acc, v: acc + v,
    ) / F.lit(N_HASHES)
    return pairs.select("doc_a", "doc_b", est.alias("est_jaccard"))


_SHINGLE_SQL = """
    tok AS (
      SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
      WHERE text IS NOT NULL
    ),
    gsets AS (
      SELECT doc_id,
             CASE WHEN len(toks) >= 3 THEN
               list_distinct([toks[i] || '_' || toks[i+1] || '_' || toks[i+2]
                              for i in range(1, len(toks) - 2 + 1)])
             ELSE [array_to_string(toks, '_')] END AS gs
      FROM tok
    ),
    postings AS (SELECT doc_id, unnest(gs) AS g FROM gsets)
"""


def _minhash_oracle() -> str:
    """Generated ANSI-SQL twin of the md5 minhash-LSH pipeline."""
    rpb = N_HASHES // N_BANDS
    sig_cols = ", ".join(f"MIN(h1 + {i} * h2m) AS s{i}" for i in range(N_HASHES))
    all_sigs = ", ".join(f"s{i}" for i in range(N_HASHES))
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_id, "
        f"CAST(concat('0x', substr(md5(concat_ws('_', "
        + ", ".join(f"s{b * rpb + r}" for r in range(rpb))
        + f")), 1, 15)) AS BIGINT) AS band_hash, {all_sigs} FROM sigs"
        for b in range(N_BANDS)
    )
    est = " + ".join(
        f"(CASE WHEN a.s{i} = b.s{i} THEN 1 ELSE 0 END)" for i in range(N_HASHES)
    )
    return f"""
    WITH {_SHINGLE_SQL},
    hashed AS (
      SELECT doc_id,
             CAST(concat('0x', substr(md5(g), 1, 15)) AS BIGINT) AS h1,
             CAST(concat('0x', substr(md5(g), 17, 15)) AS BIGINT) & {_H2_MASK} AS h2m
      FROM postings
    ),
    sigs AS (SELECT doc_id, {sig_cols} FROM hashed GROUP BY doc_id),
    bands AS ({band_selects}),
    sized AS (
      SELECT *, COUNT(*) OVER (PARTITION BY band_id, band_hash) AS bsz,
             MIN(doc_id) OVER (PARTITION BY band_id, band_hash) AS bmin
      FROM bands
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             ({est}) / {N_HASHES}.0 AS est_jaccard
      FROM sized a JOIN sized b
        ON a.band_id = b.band_id AND a.band_hash = b.band_hash
       AND a.doc_id < b.doc_id
      WHERE a.bsz <= {BUCKET_CAP} OR a.doc_id = a.bmin
    )
    SELECT doc_a, doc_b, est_jaccard FROM pairs
    WHERE est_jaccard >= 0.5
    """


@register(
    "dedup_minhash_lsh",
    oracle=_minhash_oracle(),
    survey_ids=["K1"],
    doc="MinHash+LSH near-dup candidates: 16 md5-derived minhashes "
        "(Kirsch-Mitzenmacher double hashing), 4 bands, bucket equi-join "
        "(no cross join), signature-estimated Jaccard ≥ 0.5. The whole "
        "pipeline — hex-parsed hashes, band keys, skew cap — is mirrored "
        "in a generated DuckDB oracle, so this is a full three-way "
        "driver check, not rows-only.",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        minhash_candidates(d)
        .filter(F.col("est_jaccard") >= 0.5)
        .orderBy("doc_a", "doc_b")
    )


# shared by dedup_ngram_jaccard and dedup_cluster_assign_delta's oracles:
# word-3-gram inverted-index pair generation with the df-capped anchor
# fallback (a.df <= CAP keeps all pairs; over-cap shingles contribute
# only anchor pairs, a.doc_id = per-shingle min), Jaccard >= 0.2
_JACCARD_PAIRS_SQL = f"""
    tok AS (
      SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
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
    rawpairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(COUNT(*) AS BIGINT) AS inter,
             ANY_VALUE(a.sz) + ANY_VALUE(b.sz) - COUNT(*) AS uni
      FROM sized a JOIN sized b ON a.g = b.g AND a.doc_id < b.doc_id
      WHERE a.df <= {BUCKET_CAP} OR a.doc_id = a.gmin
      GROUP BY a.doc_id, b.doc_id
    ),
    jpairs AS (
      SELECT doc_a, doc_b, CAST(inter AS DOUBLE) / uni AS jac
      FROM rawpairs WHERE CAST(inter AS DOUBLE) / uni >= 0.2
    )
"""


def jaccard_pair_counts(gsets: DataFrame, op: str = "jaccard") -> DataFrame:
    """(doc_id, gs) shingle sets -> (doc_a, doc_b, inter, uni) via the
    Vernica-style inverted-index group-then-expand (shared by
    dedup_ngram_jaccard and corpus_curation — keep their skew caps and
    pair semantics in lockstep).  ``op`` keys the dropped-bucket
    Observation (bucket_drop_stats) so each caller's recall loss is
    attributable.

    Group-then-expand beats a postings self-join: the shingle pipeline
    runs ONCE (a self-join recomputes it per side — no exchange reuse,
    measured) and the whole pipeline is 2 shuffles: postings→group-by-g,
    pairs→group-by-(a,b).  Skew guard: shingle buckets above BUCKET_CAP
    expand anchor pairs only (_candidate_pairs), the same bound the
    oracles apply via ``a.df <= CAP OR a.doc_id = gmin``.
    Postings shuffle 8-byte shingle hashes, not ~25-byte shingle
    strings: same grouping (equal shingles hash equal; xxhash64
    collisions across ~n·|gs| distinct shingles are ~2^-64 — far below
    any dedup noise floor), half the shuffle bytes at 100 TB.
    """
    postings = gsets.select(
        "doc_id", F.explode_outer("gs").alias("g"), F.size("gs").alias("sz")
    ).select("doc_id", F.xxhash64("g").alias("g"), "sz")
    return (
        _candidate_pairs(postings, ["g"], ["sz"], op)
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count("*").alias("inter"),
            (F.any_value("a_sz") + F.any_value("b_sz") - F.count("*"))
            .alias("uni"),
        )
    )


def _jaccard_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Thresholded word-3-gram Jaccard pair set (doc_a, doc_b, jaccard)
    — the edge set of both ``dedup_ngram_jaccard`` and
    ``dedup_cluster_assign_delta``.  Each query builds it inside its own
    plan; the cluster query's ``cluster_assignment`` checkpoints it
    eagerly before its size gate, so it is computed once per query."""
    d = load_table(spark, sf_dir, "documents")
    pairs = jaccard_pair_counts(doc_shingles(d).filter(F.col("n_toks") >= 3))
    jac = F.col("inter").cast("double") / F.col("uni")
    return pairs.filter(jac >= 0.2).select(
        "doc_a",
        "doc_b",
        F.round(jac, 4).cast("decimal(10,4)").cast("double").alias("jaccard"),
    )


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH {_JACCARD_PAIRS_SQL}
    SELECT doc_a, doc_b,
           CAST(CAST(ROUND(jac, 4) AS DECIMAL(10,4)) AS DOUBLE) AS jaccard
    FROM jpairs
    """,
    survey_ids=["K1"],
    doc="Exact word-3-gram Jaccard via inverted-index pair generation "
        "(set-similarity join per Vernica et al., SIGMOD 2010): group "
        "postings by shingle, expand pairs inside each group — pairs only "
        "materialize for docs sharing a shingle (cost Σ df² over shingles "
        "≪ N²; no cross join). Shingles with document frequency > 1000 "
        "expand ANCHOR pairs only (each member vs the min-id doc, "
        "mirrored in the oracle): a stop-shingle's pair cost drops from "
        "O(df²) to O(df) while its members stay reachable through the "
        "anchor — a pair is missed only if it holds between two "
        "non-anchor members in every over-cap shingle they share and "
        "nowhere else (both docs near-dups of >1000 others already).",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _jaccard_edges(spark, sf_dir)


# ------------------------------------------------------------- simhash --


SIMHASH_BITS = 60  # md5-hex-derived: 15 hex chars parse losslessly to BIGINT
_CHUNK_BITS = SIMHASH_BITS // 4


def simhash_signatures(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """60-bit SimHash signature per document (md5-derived shingle hashes).

    For each bit position, sum ±1 votes weighted by each shingle-hash's
    bit; the sign of the sum is the output bit.  Shingle hashing (md5 →
    60-bit hex parse, the exact derivation the DuckDB oracle replays)
    stays JVM-side; the 60-way bit-vote tally runs as an Arrow-batched
    numpy kernel over collect_list(h) per doc.  Measured at sf0.1 (64-bit
    xxhash64 variant): 0.9 s vs 3.1 s for the pure-JVM form (sum(CASE)
    agg buffers per bit), with bit-identical output — votes are integer
    counts, so there is no float-order hazard.  One shuffle on doc id
    either way; per-doc state is just the shingle-hash list (bounded by
    doc length).
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _pack(hs):
        import numpy as np
        import pandas as pd

        out = np.empty(len(hs), dtype=np.int64)
        for i, arr in enumerate(hs):
            h = np.asarray(arr, dtype=np.int64)  # < 2^60, non-negative
            bits = (h[:, None] >> np.arange(SIMHASH_BITS, dtype=np.int64)) & 1
            votes = 2 * bits.sum(axis=0, dtype=np.int64) - len(h)
            sig = 0
            for b in np.nonzero(votes > 0)[0]:
                sig |= 1 << int(b)
            out[i] = sig
        return pd.Series(out)

    postings = doc_shingles(docs, id_col, text_col).select(
        F.col(id_col), F.explode_outer("gs").alias("g")
    ).select(
        F.col(id_col),
        md5_60("g").alias("h"),
    )
    return (
        postings.groupBy(id_col)
        .agg(F.collect_list("h").alias("hs"))
        .select(F.col(id_col), _pack("hs").alias("sig"))
    )


def _simhash_oracle() -> str:
    """Generated ANSI-SQL twin of the 60-bit SimHash pipeline: per-bit
    integer vote sums (no float hazard), sign → bit, 15-bit chunk
    buckets, popcount-of-xor verify — identical integers end to end."""
    votes = ", ".join(
        f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(SIMHASH_BITS)
    )
    sig = " + ".join(
        f"(CASE WHEN v{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(SIMHASH_BITS)
    )
    chunk_selects = " UNION ALL ".join(
        f"SELECT doc_id, sig, {c} AS chunk_id, "
        f"(sig >> {c * _CHUNK_BITS}) & {(1 << _CHUNK_BITS) - 1} AS chunk FROM sigs"
        for c in range(4)
    )
    return f"""
    WITH {_SHINGLE_SQL},
    hashed AS (
      SELECT doc_id,
             CAST(concat('0x', substr(md5(g), 1, 15)) AS BIGINT) AS h
      FROM postings
    ),
    votes AS (SELECT doc_id, {votes} FROM hashed GROUP BY doc_id),
    sigs AS (SELECT doc_id, CAST({sig} AS BIGINT) AS sig FROM votes),
    chunks AS ({chunk_selects}),
    sized AS (
      SELECT *, COUNT(*) OVER (PARTITION BY chunk_id, chunk) AS bsz,
             MIN(doc_id) OVER (PARTITION BY chunk_id, chunk) AS bmin
      FROM chunks
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
      FROM sized a JOIN sized b
        ON a.chunk_id = b.chunk_id AND a.chunk = b.chunk AND a.doc_id < b.doc_id
      WHERE a.bsz <= {BUCKET_CAP} OR a.doc_id = a.bmin
    )
    SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= 8
    """


@register(
    "dedup_simhash",
    oracle=_simhash_oracle(),
    survey_ids=["K1"],
    doc="SimHash near-dup: 60-bit md5-derived signature, candidates "
        "bucketed on four 15-bit chunks (any-chunk-equal → Hamming ≤ 45 "
        "guaranteed recall band), verified by popcount(xor) ≤ 8. Chunk "
        "buckets above BUCKET_CAP degrade to anchor pairing like "
        "minhash; the whole integer pipeline is mirrored in a generated "
        "DuckDB oracle (full three-way driver check, not rows-only).",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Group-then-expand (see minhash_candidates): the signature pipeline
    # — including its Arrow bit-vote stage — runs once, not once per
    # join side.  Pairs expand inside each chunk bucket.
    d = load_table(spark, sf_dir, "documents")
    sigs = simhash_signatures(d)
    chunks = sigs.select(
        "doc_id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk_id"),
                        F.shiftrightunsigned("sig", _CHUNK_BITS * c)
                        .bitwiseAND(F.lit((1 << _CHUNK_BITS) - 1))
                        .alias("chunk"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("ck"),
    ).select("doc_id", "sig", "ck.chunk_id", "ck.chunk")
    # skew guard: same two-path cap as minhash_candidates — one
    # degenerate chunk bucket would otherwise go quadratic (and its
    # bucket array unbounded) at scale
    pairs = _candidate_pairs(
        chunks.select("doc_id", "sig", "chunk_id", "chunk"),
        ["chunk_id", "chunk"], ["sig"], "simhash",
    )
    hamming = F.bit_count(F.col("a_sig").bitwiseXOR(F.col("b_sig"))).cast("int")
    return (
        pairs.select("doc_a", "doc_b", hamming.alias("hamming"))
        .dropDuplicates(["doc_a", "doc_b"])
        .filter(F.col("hamming") <= 8)
        .orderBy("doc_a", "doc_b")
    )


# ------------------------------------------- exact-substring overlap ---

SUBSTR_WINDOW = 20  # tokens per exact window (Lee et al. use 50 BPE toks)


@register(
    "dedup_exact_substring",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, string_split(lower(coalesce(text, '')), ' ') AS toks
      FROM documents
    ),
    wins AS (
      SELECT doc_id,
             list_distinct([array_to_string(toks[i:i+{SUBSTR_WINDOW - 1}], '_')
                            for i in range(1, len(toks) - {SUBSTR_WINDOW - 1} + 1)])
               AS ws
      FROM tok WHERE len(toks) >= {SUBSTR_WINDOW}
    ),
    post AS (
      SELECT doc_id, unnest(ws) AS w FROM wins
    ),
    sized AS (
      SELECT doc_id, w, COUNT(*) OVER (PARTITION BY w) AS df,
             MIN(doc_id) OVER (PARTITION BY w) AS wmin
      FROM post
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared_windows
    FROM sized a JOIN sized b ON a.w = b.w AND a.doc_id < b.doc_id
    WHERE a.df <= {BUCKET_CAP} OR a.doc_id = a.wmin
    GROUP BY a.doc_id, b.doc_id
    """,
    survey_ids=["K1"],
    doc=f"Exact-substring dedup (Lee et al., 'Deduplicating Training "
        f"Data Makes Language Models Better'): doc pairs sharing at "
        f"least one identical run of {SUBSTR_WINDOW} consecutive tokens "
        "— catches verbatim boilerplate/quotation overlap that "
        "set-based Jaccard dilutes away on long docs. Reuses the "
        "capped Vernica inverted-index pair generation (windows as "
        "shingles, anchor fallback above BUCKET_CAP, degradation "
        "observable via bucket_drop_stats('exact_substring')); the "
        "window strings "
        "hash to 8 bytes on the shuffle. At 100 TB this is the "
        "suffix-array-free approximation: two narrow shuffles, no "
        "cross join.",
)
def dedup_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    K = SUBSTR_WINDOW
    d = load_table(spark, sf_dir, "documents").withColumn(
        "_toks", F.split(F.lower(F.coalesce(F.col("text"), F.lit(""))), " ")
    )
    toks = F.col("_toks")
    n = F.size(toks)
    wins = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), n - (K - 1)),
            lambda i: F.array_join(F.slice(toks, i, K), "_"),
        )
    )
    gsets = d.filter(n >= K).select("doc_id", wins.alias("gs"))
    pairs = jaccard_pair_counts(gsets, op="exact_substring")
    return pairs.select(
        "doc_a", "doc_b",
        F.col("inter").cast("bigint").alias("n_shared_windows"),
    ).orderBy("doc_a", "doc_b")


# ------------------------------------------------- prefix boilerplate --

PREFIX_TOKENS = 16


@register(
    "dedup_prefix_cluster",
    oracle=f"""
    SELECT prefix_hash,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS keeper,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM (
      SELECT doc_id, n_chars,
             md5(array_to_string(
               string_split(lower(coalesce(text, '')), ' ')[1:{PREFIX_TOKENS}],
               ' ')) AS prefix_hash
      FROM documents)
    GROUP BY prefix_hash
    HAVING COUNT(*) > 1
    """,
    survey_ids=["K1"],
    doc=f"Head-boilerplate dedup: cluster docs by the md5 of their "
        f"normalized first-{PREFIX_TOKENS}-token prefix and report every "
        "cluster with >1 member (keeper = min doc_id). Catches template/"
        "mirror pages whose bodies diverge after a shared head — a case "
        "full-text exact dedup misses entirely and Jaccard dilutes on "
        "long docs. One map-side hash projection + one partial-"
        "aggregated groupBy on a 16-byte key: linear, skew-safe (a "
        "mega-cluster is just a big count, never a materialized pair "
        "list), the cheapest member of the dedup family at 100 TB.",
)
def dedup_prefix_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.coalesce(F.col("text"), F.lit(""))), " ")
    prefix = F.array_join(F.slice(toks, 1, PREFIX_TOKENS), " ")
    return (
        d.select(F.md5(prefix).alias("prefix_hash"), "doc_id", "n_chars")
        .groupBy("prefix_hash")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("keeper"),
            F.sum("n_chars").alias("total_chars"),
        )
        .filter(F.col("n_docs") > 1)
    )
