"""Text-analysis suite for training-data pipelines.

Extension operators beyond the reference (north-star scope): token
counting, quality scoring, language-ID heuristics, document
fingerprinting, token frequency. The reference's closest surface is
its WORD_STEM / NGRAMS / string functions
(/root/reference/src/planner/logical_expr.rs:329-364, 506-535); here
each op is a whole-document transform built from native Spark
higher-order/array/regex functions — JVM-side, no Python UDFs — so
the hot path stays in whole-stage codegen.

Scale notes: all per-document computations are map-only (no shuffle);
the only shuffles are the final small aggregations. At 100 TB these
run at parquet-scan speed with full column pruning (only `text` +
keys are read).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.rank import ranked_by_range
from ..materialize import broadcast_if_small, persist_if_large
from .tpch import tables

# Fixed per-language marker-token lists for the heuristic classifier.
# (Deterministic scoring function — the point is the operator shape;
# the synthetic corpus shares one vocabulary across langs.)
LANG_MARKERS = {
    "en": ["the", "a", "fast", "value"],
    "es": ["el", "la", "data", "sort"],
    "fr": ["le", "la", "query", "merge"],
    "de": ["der", "die", "hash", "batch"],
    "zh": ["zh", "spark", "join", "window"],
}


def _tokens():
    return F.split(F.col("text"), " ")


# --------------------------------------------------------------------------
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counts + quality-score components per document."""
    (documents,) = tables(spark, sf_dir, "documents")
    toks = _tokens()
    return (
        documents.filter(F.col("doc_id") < 100)
        .select(
            "doc_id",
            F.size(toks).cast("bigint").alias("n_tokens"),
            F.size(F.array_distinct(toks)).cast("bigint").alias("n_distinct"),
            F.length("text").cast("bigint").alias("n_chars_m"),
            F.round(
                F.length(F.regexp_replace(F.col("text"), " ", "")) / F.size(toks), 6
            ).alias("avg_tok_len"),
            F.array_max(F.transform(toks, lambda t: F.length(t)))
            .cast("bigint")
            .alias("max_tok_len"),
            F.round(
                F.size(F.array_distinct(toks)).cast("double") / F.size(toks), 6
            ).alias("ttr"),
            F.regexp_count(F.col("text"), F.lit("[aeiou]")).cast("bigint").alias("n_vowels"),
        )
        .orderBy("doc_id")
    )


TEXT_STATS_SQL = """
SELECT doc_id,
  CAST(length(toks) AS BIGINT) AS n_tokens,
  CAST(length(list_distinct(toks)) AS BIGINT) AS n_distinct,
  CAST(length(text) AS BIGINT) AS n_chars_m,
  round(CAST(length(replace(text, ' ', '')) AS DOUBLE) / length(toks), 6) AS avg_tok_len,
  CAST(list_max(list_transform(toks, t -> length(t))) AS BIGINT) AS max_tok_len,
  round(CAST(length(list_distinct(toks)) AS DOUBLE) / length(toks), 6) AS ttr,
  CAST(length(regexp_extract_all(text, '[aeiou]')) AS BIGINT) AS n_vowels
FROM (SELECT doc_id, text, string_split(text, ' ') AS toks
      FROM documents WHERE doc_id < 100)
ORDER BY doc_id
"""


# --------------------------------------------------------------------------
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level quality scoring: per-source aggregate quality gates
    (mean token count, stopword ratio, short-doc rate) — the shape of a
    pretraining quality filter."""
    (documents,) = tables(spark, sf_dir, "documents")
    toks = _tokens()
    stop_hits = F.size(F.filter(toks, lambda t: t.isin("the", "a", "of", "and")))
    per_doc = documents.select(
        "source",
        F.size(toks).alias("n_tok"),
        (stop_hits / F.size(toks)).alias("stop_ratio"),
        (F.size(toks) < 12).cast("int").alias("is_short"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_tok"), 6).alias("mean_tokens"),
            F.round(F.avg("stop_ratio"), 6).alias("mean_stop_ratio"),
            F.sum("is_short").cast("bigint").alias("n_short"),
        )
        .orderBy("source")
    )


TEXT_QUALITY_SQL = """
SELECT source,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  round(avg(n_tok), 6) AS mean_tokens,
  round(avg(stop_ratio), 6) AS mean_stop_ratio,
  CAST(SUM(is_short) AS BIGINT) AS n_short
FROM (
  SELECT source, length(toks) AS n_tok,
    CAST(length(list_filter(toks, t -> t IN ('the','a','of','and'))) AS DOUBLE)
      / length(toks) AS stop_ratio,
    CAST(length(toks) < 12 AS INT) AS is_short
  FROM (SELECT source, string_split(text, ' ') AS toks FROM documents)
)
GROUP BY source
ORDER BY source
"""


# --------------------------------------------------------------------------
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-token language ID: score each language by marker hits,
    pick argmax (ties broken by language code), report the confusion
    counts vs the labeled lang column."""
    (documents,) = tables(spark, sf_dir, "documents")
    toks = _tokens()
    def marker_hits(ws):
        # closure factory: a default-arg lambda would change the arity
        # and make Spark pass the element index into the captured slot
        return lambda t: t.isin(*ws)

    scores = [
        F.size(F.filter(toks, marker_hits(tuple(ws)))).alias(f"s_{lang}")
        for lang, ws in LANG_MARKERS.items()
    ]
    scored = documents.select("doc_id", "lang", *scores)
    # argmax over (score, lang) pairs — greatest-by-struct, deterministic
    pairs = F.array(
        *[
            F.struct(F.col(f"s_{lang}").alias("score"), F.lit(lang).alias("lang"))
            for lang in LANG_MARKERS
        ]
    )
    # max over (score asc, lang desc) — array_max picks highest score,
    # ties → lexicographically LAST lang; mirror exactly in SQL
    predicted = scored.select(
        "doc_id", "lang", F.array_max(pairs).getField("lang").alias("predicted")
    )
    return (
        predicted.groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang", "predicted")
    )


def _langid_oracle() -> str:
    score_exprs = ", ".join(
        "length(list_filter(toks, t -> t IN ({0}))) AS s_{1}".format(
            ",".join(f"'{w}'" for w in ws), lang
        )
        for lang, ws in LANG_MARKERS.items()
    )
    structs = ", ".join(
        f"{{'score': s_{lang}, 'lang': '{lang}'}}" for lang in LANG_MARKERS
    )
    return f"""
SELECT lang, predicted, CAST(COUNT(*) AS BIGINT) AS n
FROM (
  SELECT doc_id, lang, list_max([{structs}]).lang AS predicted
  FROM (
    SELECT doc_id, lang, {score_exprs}
    FROM (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents)
  )
)
GROUP BY lang, predicted
ORDER BY lang, predicted
"""


# --------------------------------------------------------------------------
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: md5 content hash of normalized text +
    64-bit numeric fingerprint (first 16 hex digits), with duplicate
    grouping — the exact-dedup primitive."""
    (documents,) = tables(spark, sf_dir, "documents")
    norm = F.lower(F.regexp_replace(F.col("text"), "\\s+", " "))
    fp = F.md5(norm.cast("binary"))
    return (
        documents.select(
            "doc_id",
            fp.alias("fingerprint"),
            F.conv(F.substring(fp, 1, 15), 16, 10).cast("bigint").alias("fp_num"),
        )
        .orderBy("doc_id")
        .limit(200)
    )


TEXT_FINGERPRINT_SQL = """
SELECT doc_id, fingerprint,
  CAST(('0x' || substr(fingerprint, 1, 15)) AS BIGINT) AS fp_num
FROM (
  SELECT doc_id, md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fingerprint
  FROM documents
)
ORDER BY doc_id
LIMIT 200
"""


# --------------------------------------------------------------------------
def text_token_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global token frequency top-20 (explode → count → top-k)."""
    (documents,) = tables(spark, sf_dir, "documents")
    return (
        documents.select(F.explode(_tokens()).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "token")
        .limit(20)
    )


TEXT_TOKEN_FREQ_SQL = """
SELECT token, CAST(COUNT(*) AS BIGINT) AS n
FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
GROUP BY token
ORDER BY n DESC, token
LIMIT 20
"""


# --------------------------------------------------------------------------
def text_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word bigram extraction + distinct-ngram counts per doc
    (reference NGRAMS, logical_expr.rs:533)."""
    (documents,) = tables(spark, sf_dir, "documents")
    toks = _tokens()
    bigrams = F.transform(
        F.slice(toks, 1, F.size(toks) - 1),
        lambda t, i: F.concat_ws(" ", t, F.element_at(toks, i + 2)),
    )
    return (
        documents.filter(F.col("doc_id") < 100)
        .select(
            "doc_id",
            F.size(bigrams).cast("bigint").alias("n_bigrams"),
            F.size(F.array_distinct(bigrams)).cast("bigint").alias("n_distinct_bigrams"),
            F.element_at(F.sort_array(F.array_distinct(bigrams)), 1).alias("first_bigram"),
        )
        .orderBy("doc_id")
    )


TEXT_NGRAMS_SQL = """
SELECT doc_id,
  CAST(length(bigrams) AS BIGINT) AS n_bigrams,
  CAST(length(list_distinct(bigrams)) AS BIGINT) AS n_distinct_bigrams,
  list_sort(list_distinct(bigrams))[1] AS first_bigram
FROM (
  SELECT doc_id,
    list_transform(generate_series(1, length(toks) - 1),
                   i -> toks[i] || ' ' || toks[i + 1]) AS bigrams
  FROM (SELECT doc_id, string_split(text, ' ') AS toks
        FROM documents WHERE doc_id < 100)
)
ORDER BY doc_id
"""


# --------------------------------------------------------------------------
BPE_RE = "[a-z]+|[0-9]+|[^a-z0-9 ]"


def text_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex tokenization (letters / digits / punctuation as
    separate tokens) — the pre-tokenizer shape used before BPE merges."""
    (documents,) = tables(spark, sf_dir, "documents")
    toks = F.regexp_extract_all(F.col("text"), F.lit(BPE_RE), 0)
    return (
        documents.filter(F.col("doc_id") < 100)
        .select(
            "doc_id",
            F.size(toks).cast("bigint").alias("n_bpe_tokens"),
            F.size(F.array_distinct(toks)).cast("bigint").alias("n_distinct"),
            F.element_at(F.sort_array(F.array_distinct(toks)), 1).alias("first_tok"),
        )
        .orderBy("doc_id")
    )


TEXT_BPE_TOKENS_SQL = f"""
SELECT doc_id,
  CAST(length(toks) AS BIGINT) AS n_bpe_tokens,
  CAST(length(list_distinct(toks)) AS BIGINT) AS n_distinct,
  list_sort(list_distinct(toks))[1] AS first_tok
FROM (SELECT doc_id, regexp_extract_all(text, '{BPE_RE}') AS toks
      FROM documents WHERE doc_id < 100)
ORDER BY doc_id
"""


# --------------------------------------------------------------------------
HASH_MOD = 2147483647  # 2^31 - 1
HASH_BASE = 31


def text_rolling_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polynomial rolling hash (Horner fold) over token hashes — the
    order-sensitive document fingerprint (vs md5's whole-string hash):
    h = fold(h * B + md5int(tok) mod M)."""
    (documents,) = tables(spark, sf_dir, "documents")
    toks = _tokens()
    tok_h = lambda t: (  # noqa: E731
        F.conv(F.substring(F.md5(t.cast("binary")), 1, 8), 16, 10).cast("bigint")
        % HASH_MOD
    )
    rolled = F.aggregate(
        toks,
        F.lit(0).cast("bigint"),
        lambda acc, t: (acc * HASH_BASE + tok_h(t)) % HASH_MOD,
    )
    return (
        documents.filter(F.col("doc_id") < 200)
        .select("doc_id", rolled.alias("rhash"))
        .orderBy("doc_id")
    )


TEXT_ROLLING_HASH_SQL = f"""
SELECT doc_id,
  list_reduce(
    [CAST(0 AS BIGINT)] ||
      list_transform(string_split(text, ' '),
                     t -> CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT) % {HASH_MOD}),
    (a, b) -> (a * {HASH_BASE} + b) % {HASH_MOD}) AS rhash
FROM documents WHERE doc_id < 200
ORDER BY doc_id
"""


# --------------------------------------------------------------------------
TFIDF_TOP_K = 3
TFIDF_DOC_LIMIT = 40  # docs reported; df/idf statistics use the FULL corpus


def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF scoring: top-k highest-weight terms per document.

    Corpus-level document frequency + per-doc term frequency → the
    classic relevance/keyword-extraction weight tf·ln(N/df).

    Scale notes (100 TB): tf is one shuffle on (doc_id, term); df is a
    map-side-combinable reaggregation of tf on term; N is a 1-row
    aggregate crossJoin-broadcast (never collected to the driver). The
    report filter prunes AFTER the corpus statistics so idf reflects
    the whole corpus — the filter cuts the final window, not the scan.

    r9-opt: `tf` is referenced twice (dfreq and the scored numerator)
    and Catalyst re-runs the corpus token explode + count per
    reference; above the persist_if_large gate it is lazily persisted
    once ((doc,term)-distinct-sized — far below the raw token stream),
    below it the parallel duplicate is cheaper than the barrier.
    """
    (documents,) = tables(spark, sf_dir, "documents")
    toks = documents.select("doc_id", F.explode(_tokens()).alias("term"))
    tf = persist_if_large(
        toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf")),
        sf_dir,
        "documents",
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = documents.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.filter(F.col("doc_id") < TFIDF_DOC_LIMIT)
        .join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            F.col("tf").cast("bigint").alias("tf"),
            F.round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= TFIDF_TOP_K)
        .orderBy("doc_id", "rk")
    )


TEXT_TFIDF_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
), tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2
), dfreq AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY 1
), n AS (
  SELECT COUNT(*) AS n_docs FROM documents
), scored AS (
  SELECT tf.doc_id, tf.term, tf.tf,
         round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / dfreq.df), 6) AS tfidf
  FROM tf JOIN dfreq USING (term) CROSS JOIN n
  WHERE tf.doc_id < {TFIDF_DOC_LIMIT}
)
SELECT doc_id, term, tf, tfidf, rk FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term)
                 AS BIGINT) AS rk
  FROM scored
) WHERE rk <= {TFIDF_TOP_K}
ORDER BY doc_id, rk
"""


# --------------------------------------------------------------------------
CHUNK_TOKENS = 32  # tokens per chunk
CHUNK_STRIDE = 24  # start-to-start distance (8-token overlap)
CHUNK_DOC_LIMIT = 60


def text_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split documents into overlapping fixed-size token windows — the
    standard context-window chunking step for training/RAG pipelines.

    Scale notes (100 TB): pure map-side explode (no shuffle, no UDF) —
    sequence() enumerates chunk starts, slice() cuts the window, all in
    whole-stage codegen; output scales with corpus × overlap factor.
    """
    (documents,) = tables(spark, sf_dir, "documents")
    toks = _tokens()
    d = documents.filter(F.col("doc_id") < CHUNK_DOC_LIMIT).select(
        "doc_id", toks.alias("toks")
    )
    starts = F.sequence(F.lit(0), F.size("toks") - 1, F.lit(CHUNK_STRIDE))
    return (
        d.select("doc_id", "toks", F.explode(starts).alias("start"))
        .select(
            "doc_id",
            (F.col("start") / CHUNK_STRIDE).cast("bigint").alias("chunk_id"),
            F.slice(F.col("toks"), F.col("start") + 1, CHUNK_TOKENS).alias("chunk"),
        )
        .select(
            "doc_id",
            "chunk_id",
            F.size("chunk").cast("bigint").alias("n_tokens"),
            F.array_join(F.col("chunk"), " ").alias("chunk_text"),
        )
        .orderBy("doc_id", "chunk_id")
    )


TEXT_CHUNK_SQL = f"""
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS toks
  FROM documents WHERE doc_id < {CHUNK_DOC_LIMIT}
), s AS (
  SELECT doc_id, toks, unnest(generate_series(0, length(toks) - 1, {CHUNK_STRIDE})) AS start
  FROM d
)
SELECT doc_id,
       CAST(start / {CHUNK_STRIDE} AS BIGINT) AS chunk_id,
       CAST(length(toks[start + 1 : start + {CHUNK_TOKENS}]) AS BIGINT) AS n_tokens,
       array_to_string(toks[start + 1 : start + {CHUNK_TOKENS}], ' ') AS chunk_text
FROM s ORDER BY doc_id, chunk_id
"""


# --------------------------------------------------------------------------
REDACT_TERMS = ("customer", "order", "query")
REDACT_RE = r"\b(customer|order|query)\b"  # same RE2/Java subset both engines


def text_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sensitive-term redaction: regex-mask a term list, count masked
    hits per doc — the plumbing shape of a PII scrubbing pass (swap the
    term alternation for email/phone/SSN patterns in production).

    Scale notes (100 TB): map-only regexp_replace in codegen; no
    shuffle, no UDF. The hit count comes from the token array, not a
    second regex scan."""
    (documents,) = tables(spark, sf_dir, "documents")
    toks = _tokens()
    n_masked = F.size(F.filter(toks, lambda t: t.isin(*REDACT_TERMS)))
    return (
        documents.filter(F.col("doc_id") < 80)
        .select(
            "doc_id",
            n_masked.cast("bigint").alias("n_masked"),
            F.substring(
                F.regexp_replace(F.col("text"), REDACT_RE, "<masked>"), 1, 120
            ).alias("masked_prefix"),
        )
        .orderBy("doc_id")
    )


TEXT_REDACT_SQL = f"""
SELECT doc_id,
  CAST(length(list_filter(string_split(text, ' '),
       t -> t IN ('customer', 'order', 'query'))) AS BIGINT) AS n_masked,
  substr(regexp_replace(text, '{REDACT_RE}', '<masked>', 'g'), 1, 120)
    AS masked_prefix
FROM documents WHERE doc_id < 80 ORDER BY doc_id
"""


# --------------------------------------------------------------------------
FUNNEL_MIN_TOKENS = 30
FUNNEL_MAX_STOP_RATIO = 0.08


def text_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation funnel: per-source retention through the standard
    pretraining filter chain — length gate → stopword-ratio quality
    gate → language gate. One scan, conditional aggregation.

    Scale notes (100 TB): per-doc stage flags are map-side; the only
    shuffle is the per-source rollup (20 groups). This is the report a
    data-curation run emits to justify what it dropped."""
    (documents,) = tables(spark, sf_dir, "documents")
    toks = _tokens()
    stop_hits = F.size(F.filter(toks, lambda t: t.isin("the", "a", "of", "and")))
    per_doc = documents.select(
        "source",
        "lang",
        F.size(toks).alias("n_tok"),
        (stop_hits / F.size(toks)).alias("stop_ratio"),
    ).select(
        "source",
        (F.col("n_tok") >= FUNNEL_MIN_TOKENS).cast("int").alias("p1"),
        (
            (F.col("n_tok") >= FUNNEL_MIN_TOKENS)
            & (F.col("stop_ratio") <= FUNNEL_MAX_STOP_RATIO)
        ).cast("int").alias("p2"),
        (
            (F.col("n_tok") >= FUNNEL_MIN_TOKENS)
            & (F.col("stop_ratio") <= FUNNEL_MAX_STOP_RATIO)
            & (F.col("lang") == "en")
        ).cast("int").alias("p3"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("p1").cast("bigint").alias("n_len_ok"),
            F.sum("p2").cast("bigint").alias("n_quality_ok"),
            F.sum("p3").cast("bigint").alias("n_final"),
            F.round(F.sum("p3") / F.count(F.lit(1)), 6).alias("retention"),
        )
        .orderBy("source")
    )


TEXT_CURATION_FUNNEL_SQL = f"""
WITH d AS (
  SELECT source, lang, string_split(text, ' ') AS toks FROM documents
), s AS (
  SELECT source, lang, length(toks) AS n_tok,
         CAST(length(list_filter(toks, t -> t IN ('the','a','of','and')))
              AS DOUBLE) / length(toks) AS stop_ratio
  FROM d
), flags AS (
  SELECT source,
    CASE WHEN n_tok >= {FUNNEL_MIN_TOKENS} THEN 1 ELSE 0 END AS p1,
    CASE WHEN n_tok >= {FUNNEL_MIN_TOKENS}
          AND stop_ratio <= {FUNNEL_MAX_STOP_RATIO} THEN 1 ELSE 0 END AS p2,
    CASE WHEN n_tok >= {FUNNEL_MIN_TOKENS}
          AND stop_ratio <= {FUNNEL_MAX_STOP_RATIO}
          AND lang = 'en' THEN 1 ELSE 0 END AS p3
  FROM s
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(p1) AS BIGINT) AS n_len_ok,
       CAST(SUM(p2) AS BIGINT) AS n_quality_ok,
       CAST(SUM(p3) AS BIGINT) AS n_final,
       round(CAST(SUM(p3) AS DOUBLE) / COUNT(*), 6) AS retention
FROM flags GROUP BY source ORDER BY source
"""


# --------------------------------------------------------------------------
PACK_CAP = 1024  # token budget per packed sequence


def text_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous greedy sequence packing: stream documents in doc_id
    order into fixed token budgets — the pretraining batch-prep step
    that turns ragged docs into ~fixed-length training sequences. A doc
    starts a new pack when the running total would cross the cap
    (approximation: packs can exceed the cap by one doc's tail,
    documented standard practice for contiguous packing).

    Scale notes (100 TB): the running sum is one window over a
    deterministic order; in production you'd partition by shard key
    (here: source) so packing parallelizes per shard — exactly what
    this does. One shuffle on source, no UDF."""
    (documents,) = tables(spark, sf_dir, "documents")
    toks = _tokens()
    d = documents.select("source", "doc_id", F.size(toks).alias("n_tok"))
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = d.select(
        "source",
        "doc_id",
        "n_tok",
        F.floor(F.coalesce(F.sum("n_tok").over(w), F.lit(0)) / PACK_CAP)
        .cast("bigint")
        .alias("pack_id"),
    )
    return (
        packed.groupBy("source", "pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("total_tokens"),
            F.round(F.sum("n_tok") / F.lit(float(PACK_CAP)), 6).alias("fill_ratio"),
        )
        .orderBy("source", "pack_id")
    )


TEXT_PACK_SQL = f"""
WITH d AS (
  SELECT source, doc_id, length(string_split(text, ' ')) AS n_tok FROM documents
), packed AS (
  SELECT source, doc_id, n_tok,
    CAST(floor(COALESCE(SUM(n_tok) OVER (
        PARTITION BY source ORDER BY doc_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / {PACK_CAP})
      AS BIGINT) AS pack_id
  FROM d
)
SELECT source, pack_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
       round(SUM(n_tok) / {PACK_CAP}.0, 6) AS fill_ratio
FROM packed GROUP BY source, pack_id ORDER BY source, pack_id
"""


BUDGET_TOKENS = 800  # per-source sampling budget


def text_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-source token-budget sampling: stream each
    source's documents in a pseudo-random but engine-portable order
    (md5 of the doc id) and keep documents while the running token
    total stays within the budget — the mixture-construction step that
    downsamples over-represented sources to a target token share.
    A document is kept iff the cumulative token count INCLUDING it is
    ≤ BUDGET_TOKENS (docs past the crossing point are skipped whole,
    never truncated).

    Scale notes (100 TB): ONE shuffle on source; the running sum is a
    source-partitioned window in md5 order (deterministic, no RNG
    state to coordinate); the report aggregate is |sources|-sized.
    md5 — not xxhash64 — because both engines spell it identically:
    the order IS the sampling semantics, so the oracle must replay it
    bit-for-bit."""
    (documents,) = tables(spark, sf_dir, "documents")
    toks = _tokens()
    d = documents.select(
        "source",
        F.size(toks).alias("n_tok"),
        F.md5(F.col("doc_id").cast("string")).alias("h"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = d.select("source", "n_tok", F.sum("n_tok").over(w).alias("cum"))
    # totals and kept-side stats come from ONE conditional aggregation
    # over the windowed frame (it still carries every row) — no second
    # scan, no rejoin; the source exchange feeding the window is reused
    in_budget = F.col("cum") <= BUDGET_TOKENS
    return (
        cum.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs_total"),
            F.sum("n_tok").cast("bigint").alias("tokens_total"),
            F.count_if(in_budget).cast("bigint").alias("n_docs_kept"),
            F.coalesce(F.sum(F.when(in_budget, F.col("n_tok"))), F.lit(0))
            .cast("bigint")
            .alias("tokens_kept"),
        )
        .select(
            "source",
            "n_docs_total",
            "tokens_total",
            "n_docs_kept",
            "tokens_kept",
            F.round(
                F.col("tokens_kept") / F.lit(float(BUDGET_TOKENS)), 6
            ).alias("budget_fill"),
        )
        .orderBy("source")
    )


TEXT_BUDGET_SAMPLE_SQL = f"""
WITH d AS (
  SELECT source, length(string_split(text, ' ')) AS n_tok,
         md5(CAST(doc_id AS VARCHAR)) AS h
  FROM documents
), c AS (
  SELECT source, n_tok,
         SUM(n_tok) OVER (PARTITION BY source ORDER BY h
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM d
), tot AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs_total,
         CAST(SUM(n_tok) AS BIGINT) AS tokens_total
  FROM d GROUP BY source
), k AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs_kept,
         CAST(SUM(n_tok) AS BIGINT) AS tokens_kept
  FROM c WHERE cum <= {BUDGET_TOKENS} GROUP BY source
)
SELECT t.source, n_docs_total, tokens_total,
       COALESCE(n_docs_kept, 0) AS n_docs_kept,
       COALESCE(tokens_kept, 0) AS tokens_kept,
       round(COALESCE(tokens_kept, 0) / {BUDGET_TOKENS}.0, 6) AS budget_fill
FROM tot t LEFT JOIN k USING (source) ORDER BY source
"""


def text_bigram_ll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality scoring: per-doc average bigram
    log-likelihood under a corpus-trained bigram LM (the KenLM-style
    perplexity filter of curation pipelines, with the LM expressed as
    two aggregations). P(w2|w1) = c(w1,w2)/c(w1·); docs whose bigrams
    are corpus-typical score near 0, garbled/unusual docs go strongly
    negative.

    Determinism across engines: each bigram's log-prob is quantized to
    integer micro-units (floor(ln(p)*1e6) as BIGINT) BEFORE summing, so
    the per-doc score is independent of float addition order (Spark's
    partial aggregation order is nondeterministic; a raw double sum
    could differ from the oracle in the last ulp).

    Scale: bigram extraction is map-only; the LM is two shuffled
    counts; scoring joins doc bigrams to the model on (w1,w2) — a
    plain equality join Spark broadcasts when the model is small and
    shuffles when vocabulary is open."""
    (documents,) = tables(spark, sf_dir, "documents")
    d = documents.select("doc_id", F.split(F.col("text"), " ").alias("t")).filter(
        F.size("t") >= 2
    )
    bi = d.select(
        "doc_id",
        F.explode(
            F.expr("transform(sequence(0, size(t)-2), i -> struct(t[i] AS w1, t[i+1] AS w2))")
        ).alias("b"),
    ).select("doc_id", "b.w1", "b.w2")
    bg = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_bg"))
    un = bi.groupBy("w1").agg(F.count(F.lit(1)).alias("c_w1"))
    model = bg.join(un, "w1").select(
        "w1",
        "w2",
        F.floor(F.log(F.col("c_bg").cast("double") / F.col("c_w1")) * 1e6)
        .cast("bigint")
        .alias("q"),
    )
    return (
        bi.join(model, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.sum("q").cast("double") / F.count(F.lit(1)) / 1e6, 4).alias(
                "avg_logprob"
            ),
        )
        .orderBy("doc_id")
    )


TEXT_BIGRAM_LL_SQL = """
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
  WHERE length(string_split(text, ' ')) >= 2
), bi AS (
  SELECT doc_id,
    unnest(list_transform(generate_series(1, length(t)-1),
                          i -> {'w1': t[i], 'w2': t[i+1]}),
           recursive := true)
  FROM t
), bg AS (
  SELECT w1, w2, COUNT(*) AS c_bg FROM bi GROUP BY w1, w2
), un AS (
  SELECT w1, COUNT(*) AS c_w1 FROM bi GROUP BY w1
), scored AS (
  SELECT b.doc_id,
    CAST(FLOOR(ln(CAST(g.c_bg AS DOUBLE) / u.c_w1) * 1000000) AS BIGINT) AS q
  FROM bi b JOIN bg g USING (w1, w2) JOIN un u USING (w1)
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       round(CAST(SUM(q) AS DOUBLE) / COUNT(*) / 1000000, 4) AS avg_logprob
FROM scored GROUP BY doc_id ORDER BY doc_id
"""


# --------------------------------------------------------------------------
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters: per document, the fraction of
    2-gram occurrences belonging to the single most frequent 2-gram
    (top2_frac) and the fraction of duplicated 3-grams (dup3_frac) —
    the standard repetition gates a pretraining corpus gets (Rae et al.
    2021 §A1.1, the "repetition removal" rules).

    Fully map-side, zero shuffles beyond the final sort: the top-2-gram
    count is the longest run in the doc's SORTED 2-gram array (an
    aggregate fold over the array — equal grams are adjacent after the
    sort), and the duplicate-3-gram count is n − distinct(n). No
    explode, no per-gram groupBy: at 100 TB the corpus-sized gram table
    never hits an exchange."""
    (documents,) = tables(spark, sf_dir, "documents")
    toks = _tokens()
    n = F.size(toks)

    def grams(k: int):
        return F.when(
            n >= k,
            F.transform(
                F.sequence(F.lit(1), n - (k - 1)),
                lambda i: F.concat_ws(
                    " ", *[F.element_at(toks, i + j) for j in range(k)]
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))

    g2s = F.array_sort(grams(2))
    # longest equal-run in the sorted gram array == max per-gram count
    top2_cnt = F.aggregate(
        g2s,
        F.struct(
            F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    g3 = grams(3)
    # Spread the 300-doc slice across cores BEFORE the gram folds (r9
    # optimization round, guide §2.5): the slice is compute-dense
    # (sorted-gram aggregate folds ~ O(len²) per doc) but byte-light,
    # so on a scan layout that yields few splits (the single-row-group
    # driver corpus) the whole fold ran ONE task wide — measured 3.0 s
    # vs 0.9 s with the spread at sf0.1. Scale-safe by construction:
    # the filter bounds the exchange at 300 rows REGARDLESS of corpus
    # size, so at 100 TB this shuffles KBs after a pruned scan (a
    # corpus-wide respread of the unfiltered scan was measured and
    # REVERTED — see HISTORY.md, "Corpus-wide respread at registration").
    spread = documents.filter(F.col("doc_id") < 300).repartition(
        spark.sparkContext.defaultParallelism
    )
    d = spread.select(
        "doc_id",
        F.round(
            F.when(F.size(grams(2)) > 0, top2_cnt / F.size(grams(2))).otherwise(0.0),
            6,
        ).alias("top2_frac"),
        F.round(
            F.when(
                F.size(g3) > 0,
                (F.size(g3) - F.size(F.array_distinct(g3))) / F.size(g3),
            ).otherwise(0.0),
            6,
        ).alias("dup3_frac"),
    )
    return d.select(
        "doc_id",
        "top2_frac",
        "dup3_frac",
        ((F.col("top2_frac") <= 0.2) & (F.col("dup3_frac") <= 0.3)).alias("keep"),
    ).orderBy("doc_id")


TEXT_REPETITION_SQL = """
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS toks
  FROM documents WHERE doc_id < 300
), g AS (
  SELECT doc_id,
    CASE WHEN length(toks) >= 2
      THEN list_transform(generate_series(1, length(toks) - 1),
                          i -> toks[i] || ' ' || toks[i+1])
      ELSE [] END AS g2,
    CASE WHEN length(toks) >= 3
      THEN list_transform(generate_series(1, length(toks) - 2),
                          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
      ELSE [] END AS g3
  FROM d
), top2 AS (
  SELECT doc_id, MAX(c) AS top2_cnt FROM (
    SELECT doc_id, gram, COUNT(*) AS c
    FROM (SELECT doc_id, unnest(g2) AS gram FROM g)
    GROUP BY doc_id, gram
  ) GROUP BY doc_id
), fr AS (
  SELECT g.doc_id,
    round(COALESCE(t.top2_cnt / NULLIF(CAST(length(g.g2) AS DOUBLE), 0), 0), 6)
      AS top2_frac,
    round(COALESCE((length(g.g3) - length(list_distinct(g.g3)))
          / NULLIF(CAST(length(g.g3) AS DOUBLE), 0), 0), 6) AS dup3_frac
  FROM g LEFT JOIN top2 t ON t.doc_id = g.doc_id
)
SELECT doc_id, top2_frac, dup3_frac,
       (top2_frac <= 0.2 AND dup3_frac <= 0.3) AS keep
FROM fr ORDER BY doc_id
"""


# fastText-style hashed linear classifier: 256 bucket weights in
# [-1, 1], derived once from md5("w"+bucket) (deterministic, committed
# as literals — the "trained model shipped as constants" shape; a real
# deployment broadcasts its weight vector the same way).
CLASSIFIER_WEIGHTS = [0.623, -0.58, 0.219, 0.877, 0.908, -0.847, -0.865, 0.869, 0.475, -0.994, -0.477, 0.662, -0.873, 0.115, 0.425, -0.618, 0.387, -0.156, 0.611, -0.457, 0.642, 0.3, -0.621, 0.894, 0.388, 0.509, 0.136, 0.282, 0.704, 0.306, -0.782, 0.744, -0.293, 0.469, 0.058, -0.852, 0.166, 0.039, 0.779, -0.723, 0.506, -0.385, -0.026, -0.191, 0.889, 0.954, 0.466, -0.477, 0.698, -0.331, -0.598, -0.72, 0.877, 0.705, 0.039, -0.16, -0.175, -0.811, -0.628, 0.598, 0.539, 0.346, -0.921, 0.493, 0.499, 0.142, -0.939, 0.321, -0.141, -0.728, 0.691, -0.366, -0.463, 0.275, -0.47, 0.024, -0.155, 0.388, 0.246, -0.592, -0.937, 0.224, -0.373, 0.463, 0.386, -0.025, 0.643, -0.89, 0.395, -0.727, 0.8, -0.073, 0.572, -0.495, 0.361, 0.67, -0.342, 0.111, -0.731, 0.795, -0.349, 0.91, -0.69, -0.55, 0.167, 0.74, 0.407, -0.39, 0.467, 0.191, -0.413, 0.958, -0.749, 0.829, 0.036, -0.585, -0.035, 0.265, -0.901, 0.099, 0.422, 0.678, -0.15, -0.29, -0.687, 0.639, 0.084, -0.166, 0.993, -0.292, -0.901, -0.913, -0.143, 0.974, 0.82, 0.384, 0.377, -0.559, 0.125, -0.922, 0.192, -0.32, 0.251, 0.189, 0.933, -0.703, -0.494, 0.451, -0.055, 0.949, -0.38, 0.828, 0.224, -0.941, 0.457, -0.896, -0.753, -0.078, 0.743, 0.27, 0.45, -0.29, -0.224, -0.272, 0.604, -0.655, -0.043, 0.589, 0.411, 0.682, -0.959, -0.339, 0.072, 0.49, -0.168, 0.193, 0.836, -0.381, -0.12, 0.199, 0.244, 0.22, 0.542, -0.577, -0.254, -0.05, 0.198, -0.455, -0.382, -0.204, 0.179, -0.65, -0.97, -0.966, -0.097, -0.749, 0.206, 0.268, -0.237, -0.569, -0.631, 0.679, -0.58, 0.166, 1.0, -0.37, 0.559, 0.313, 0.097, -0.866, -0.694, 0.225, 0.231, 0.069, -0.544, 0.834, 0.957, 0.642, -0.403, 0.668, 0.959, -0.103, 0.894, -0.735, 0.492, -0.05, 0.156, 0.921, 0.639, 0.68, -0.818, -0.136, 0.725, -0.317, -0.419, -0.72, 0.492, 0.306, -0.207, -0.149, 0.016, 0.354, -0.1, 0.03, -0.238, 0.472, 0.656, -0.309, 0.508, -0.855, 0.797, 0.658, -0.347, 0.389, 0.592, -0.431]


def text_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed-bag-of-words linear classifier over documents — the
    fastText-style quality-filter step of a pretraining pipeline:
    token → md5 hash → one of 256 feature buckets → fixed weight;
    doc score = sigmoid(mean bucket weight); pass = score >= 0.5.

    Scale shape: explode + codegen md5 + literal-array lookup + one
    partial+final agg on doc_id — all JVM, no Python, no HOF lambda
    (the r5 lesson: interpreted HOFs cost ~µs/element; explode keeps
    whole-stage codegen). The 256-weight model rides the plan as a
    foldable literal — at 100 TB a broadcast variable, never a join."""
    (documents,) = tables(spark, sf_dir, "documents")
    W = F.array(*[F.lit(w) for w in CLASSIFIER_WEIGHTS])
    tok = documents.select(
        "doc_id", F.explode(_tokens()).alias("t")
    )
    # 2 hex chars = exactly 256 buckets — no modulo, minimal conv
    bucket = F.conv(F.substring(F.md5(F.col("t")), 1, 2), 16, 10).cast("bigint")
    scored = (
        tok.select("doc_id", F.element_at(W, (bucket + 1).cast("int")).alias("w"))
        .groupBy("doc_id")
        .agg((F.sum("w") / F.count(F.lit(1))).alias("raw"))
    )
    score = F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("raw")))
    return (
        scored.select(
            "doc_id",
            F.round(score, 6).alias("score"),
            (score >= 0.5).alias("pass"),
        )
        .orderBy("doc_id")
    )


TEXT_CLASSIFIER_SCORE_SQL = """
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
), feat AS (
  SELECT doc_id,
    ([0.623, -0.58, 0.219, 0.877, 0.908, -0.847, -0.865, 0.869, 0.475, -0.994, -0.477, 0.662, -0.873, 0.115, 0.425, -0.618, 0.387, -0.156, 0.611, -0.457, 0.642, 0.3, -0.621, 0.894, 0.388, 0.509, 0.136, 0.282, 0.704, 0.306, -0.782, 0.744, -0.293, 0.469, 0.058, -0.852, 0.166, 0.039, 0.779, -0.723, 0.506, -0.385, -0.026, -0.191, 0.889, 0.954, 0.466, -0.477, 0.698, -0.331, -0.598, -0.72, 0.877, 0.705, 0.039, -0.16, -0.175, -0.811, -0.628, 0.598, 0.539, 0.346, -0.921, 0.493, 0.499, 0.142, -0.939, 0.321, -0.141, -0.728, 0.691, -0.366, -0.463, 0.275, -0.47, 0.024, -0.155, 0.388, 0.246, -0.592, -0.937, 0.224, -0.373, 0.463, 0.386, -0.025, 0.643, -0.89, 0.395, -0.727, 0.8, -0.073, 0.572, -0.495, 0.361, 0.67, -0.342, 0.111, -0.731, 0.795, -0.349, 0.91, -0.69, -0.55, 0.167, 0.74, 0.407, -0.39, 0.467, 0.191, -0.413, 0.958, -0.749, 0.829, 0.036, -0.585, -0.035, 0.265, -0.901, 0.099, 0.422, 0.678, -0.15, -0.29, -0.687, 0.639, 0.084, -0.166, 0.993, -0.292, -0.901, -0.913, -0.143, 0.974, 0.82, 0.384, 0.377, -0.559, 0.125, -0.922, 0.192, -0.32, 0.251, 0.189, 0.933, -0.703, -0.494, 0.451, -0.055, 0.949, -0.38, 0.828, 0.224, -0.941, 0.457, -0.896, -0.753, -0.078, 0.743, 0.27, 0.45, -0.29, -0.224, -0.272, 0.604, -0.655, -0.043, 0.589, 0.411, 0.682, -0.959, -0.339, 0.072, 0.49, -0.168, 0.193, 0.836, -0.381, -0.12, 0.199, 0.244, 0.22, 0.542, -0.577, -0.254, -0.05, 0.198, -0.455, -0.382, -0.204, 0.179, -0.65, -0.97, -0.966, -0.097, -0.749, 0.206, 0.268, -0.237, -0.569, -0.631, 0.679, -0.58, 0.166, 1.0, -0.37, 0.559, 0.313, 0.097, -0.866, -0.694, 0.225, 0.231, 0.069, -0.544, 0.834, 0.957, 0.642, -0.403, 0.668, 0.959, -0.103, 0.894, -0.735, 0.492, -0.05, 0.156, 0.921, 0.639, 0.68, -0.818, -0.136, 0.725, -0.317, -0.419, -0.72, 0.492, 0.306, -0.207, -0.149, 0.016, 0.354, -0.1, 0.03, -0.238, 0.472, 0.656, -0.309, 0.508, -0.855, 0.797, 0.658, -0.347, 0.389, 0.592, -0.431])[
      CAST(CAST(('0x' || substr(md5(t), 1, 2)) AS BIGINT) AS INTEGER) + 1
    ] AS w
  FROM tok
), s AS (
  SELECT doc_id, SUM(w) / COUNT(*) AS raw FROM feat GROUP BY doc_id
)
SELECT doc_id, round(1.0 / (1.0 + exp(-raw)), 6) AS score,
       1.0 / (1.0 + exp(-raw)) >= 0.5 AS pass
FROM s ORDER BY doc_id
"""


CMS_D = 4  # hash rows
CMS_W = 512  # counters per row (4096 % 512 == 0 -> uniform buckets)


def text_count_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch, deterministically seeded: token counts
    compressed into a D x W counter grid (salted-md5 row hashes);
    point queries answer min over rows — never under the true count
    (the CMS guarantee, asserted as a column). Sketches usually get
    rows-only checks (f_approx); seeding every hash makes THIS one
    bit-reproducible, so the oracle verifies the full estimate path
    exactly. Scale shape: the grid build is one partial+final count
    on (row, col) — at most D*W groups cross the exchange regardless
    of corpus size; probes join against the tiny grid."""
    (documents,) = tables(spark, sf_dir, "documents")
    tok = documents.select(F.explode(_tokens()).alias("t"))
    rows = []
    for i in range(CMS_D):
        col = (
            F.conv(
                F.substring(F.md5(F.concat(F.lit(f"{i}:"), F.col("t"))), 1, 3), 16, 10
            ).cast("bigint")
            % CMS_W
        )
        rows.append(tok.select(F.lit(i).alias("r"), col.alias("c")))
    grid = rows[0]
    for r in rows[1:]:
        grid = grid.unionByName(r)
    counters = grid.groupBy("r", "c").agg(F.count(F.lit(1)).alias("n"))

    probes = (
        tok.groupBy("t")
        .agg(F.count(F.lit(1)).alias("true_n"))
        .orderBy(F.col("true_n").desc(), "t")
        .limit(8)
    )
    probe_cols = probes
    for i in range(CMS_D):
        probe_cols = probe_cols.withColumn(
            f"c{i}",
            F.conv(
                F.substring(F.md5(F.concat(F.lit(f"{i}:"), F.col("t"))), 1, 3), 16, 10
            ).cast("bigint")
            % CMS_W,
        )
    est = None
    joined = probe_cols
    for i in range(CMS_D):
        ci = counters.filter(F.col("r") == i).select(
            F.col("c").alias(f"c{i}"), F.col("n").alias(f"n{i}")
        )
        joined = joined.join(F.broadcast(ci), f"c{i}")
        est = F.col(f"n{i}") if est is None else F.least(est, F.col(f"n{i}"))
    return (
        joined.select(
            "t", "true_n", est.alias("est_n"), (est >= F.col("true_n")).alias("never_under")
        )
        .orderBy(F.col("true_n").desc(), "t")
    )


TEXT_COUNT_MIN_SQL = f"""
WITH tok AS (
  SELECT unnest(string_split(text, ' ')) AS t FROM documents
), grid AS (
  SELECT g.i AS r,
    CAST(('0x' || substr(md5(g.i || ':' || t), 1, 3)) AS BIGINT) % {CMS_W} AS c,
    CAST(COUNT(*) AS BIGINT) AS n
  FROM tok CROSS JOIN (SELECT unnest(range({CMS_D})) AS i) g
  GROUP BY 1, 2
), probes AS (
  SELECT t, CAST(COUNT(*) AS BIGINT) AS true_n
  FROM tok GROUP BY t ORDER BY true_n DESC, t LIMIT 8
), est AS (
  SELECT p.t, p.true_n, MIN(g.n) AS est_n
  FROM probes p
  JOIN grid g
    ON g.c = CAST(('0x' || substr(md5(g.r || ':' || p.t), 1, 3)) AS BIGINT) % {CMS_W}
  GROUP BY p.t, p.true_n
)
SELECT t, true_n, est_n, est_n >= true_n AS never_under
FROM est ORDER BY true_n DESC, t
"""


BLOOM_K = 3  # hash functions
BLOOM_M = 4096  # bits (4096 = one 3-hex-char hash, no modulo bias)


def text_bloom_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership, deterministically seeded: the distinct
    vocabulary of source src1 sets K salted-md5 bit positions each;
    probe tokens are present iff ALL their positions are set. Reports
    per-probe verdict plus the filter's fill ratio — and pins the
    no-false-NEGATIVE guarantee as a column (every probe that truly
    occurs in src1 must test positive; positives for absent tokens
    are the allowed false-positive budget). The same structure
    Spark's runtime bloom join filters use, here bit-reproducible and
    oracle-verified. Scale: the bit set is at most M distinct
    positions after a partial+final distinct — grid-sized exchange."""
    (documents,) = tables(spark, sf_dir, "documents")
    src_tok = (
        documents.filter(F.col("source") == "src1")
        .select(F.explode(_tokens()).alias("t"))
        .distinct()
    )

    def positions(tcol):
        return [
            (
                F.conv(
                    F.substring(F.md5(F.concat(F.lit(f"b{i}:"), tcol)), 1, 3), 16, 10
                ).cast("bigint")
            )
            for i in range(BLOOM_K)
        ]

    bits = src_tok.select(
        F.explode(F.array(*positions(F.col("t")))).alias("pos")
    ).distinct()
    n_bits = bits.count()  # tiny: <= M

    all_tok = documents.select(F.explode(_tokens()).alias("t"))
    probes = (
        all_tok.groupBy("t")
        .agg(F.count(F.lit(1)).alias("n_all"))
        .orderBy(F.col("n_all").desc(), "t")
        .limit(10)
        .join(
            # src1's distinct tokens are VOCABULARY-sized (same
            # unbounded class as text_kl_divergence's tok_tot) — the
            # hint is size-gated (r10); above the gate the planner's
            # sort-merge fallback takes over for the 10-row left side
            broadcast_if_small(
                src_tok.withColumn("in_src1", F.lit(True)),
                sf_dir,
                "documents",
            ),
            "t",
            "left",
        )
        .withColumn("in_src1", F.coalesce(F.col("in_src1"), F.lit(False)))
    )
    j = probes
    verdict = None
    for i, p in enumerate(positions(F.col("t"))):
        bi = bits.select(F.col("pos").alias(f"p{i}"))
        j = j.withColumn(f"p{i}", p).join(
            F.broadcast(bi.withColumn(f"hit{i}", F.lit(True))), f"p{i}", "left"
        )
        hit = F.coalesce(F.col(f"hit{i}"), F.lit(False))
        verdict = hit if verdict is None else (verdict & hit)
    return (
        j.select(
            "t",
            "in_src1",
            verdict.alias("test_positive"),
            # the Bloom guarantee: membership implies a positive test
            (~F.col("in_src1") | verdict).alias("no_false_negative"),
            F.lit(n_bits).cast("bigint").alias("bits_set"),
            F.round(F.lit(n_bits) / F.lit(float(BLOOM_M)), 6).alias("fill_ratio"),
        )
        .orderBy("t")
    )


TEXT_BLOOM_FILTER_SQL = f"""
WITH src_tok AS (
  SELECT DISTINCT unnest(string_split(text, ' ')) AS t
  FROM documents WHERE source = 'src1'
), bits AS (
  SELECT DISTINCT
    CAST(('0x' || substr(md5('b' || g.i || ':' || t), 1, 3)) AS BIGINT) AS pos
  FROM src_tok CROSS JOIN (SELECT unnest(range({BLOOM_K})) AS i) g
), nb AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS bits_set FROM bits
), probes AS (
  SELECT t, CAST(COUNT(*) AS BIGINT) AS n_all
  FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
  GROUP BY t ORDER BY n_all DESC, t LIMIT 10
), tested AS (
  SELECT p.t,
    EXISTS (SELECT 1 FROM src_tok s WHERE s.t = p.t) AS in_src1,
    (SELECT COUNT(*) FROM (SELECT unnest(range({BLOOM_K})) AS i) g
     WHERE CAST(('0x' || substr(md5('b' || g.i || ':' || p.t), 1, 3)) AS BIGINT)
           IN (SELECT pos FROM bits)) = {BLOOM_K} AS test_positive
  FROM probes p
)
SELECT t, in_src1, test_positive,
       (NOT in_src1) OR test_positive AS no_false_negative,
       nb.bits_set, round(nb.bits_set / {BLOOM_M}.0, 6) AS fill_ratio
FROM tested CROSS JOIN nb
ORDER BY t
"""


def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit of the corpus vocabulary: regress log(frequency)
    on log(rank) with the built-in REGR_* aggregates — slope near -1
    is the natural-language signature; strong deviation flags
    synthetic/templated text (exactly this corpus: the readout is a
    diagnostic, not a constant). One vocabulary aggregate (partial+
    final on token), then a DISTRIBUTED exact rank over vocab-sized
    rows (`operators.rank.ranked_by_range` — a global `row_number`
    window would squeeze the 10^8-10^9-token vocabulary of a 100 TB
    corpus through one task, the r5 verdict's scale-killer), one
    regression aggregate."""
    (documents,) = tables(spark, sf_dir, "documents")
    vocab = (
        documents.select(F.explode(_tokens()).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    ranked, _ = ranked_by_range(vocab, [F.col("n").desc(), F.col("t")], out="rank")
    lx = F.log(F.col("rank").cast("double"))
    ly = F.log(F.col("n").cast("double"))
    return ranked.agg(
        F.count(F.lit(1)).alias("vocab_size"),
        F.round(F.regr_slope(ly, lx), 6).alias("zipf_slope"),
        F.round(F.regr_intercept(ly, lx), 6).alias("zipf_intercept"),
        F.round(F.regr_r2(ly, lx), 6).alias("r2"),
    )


TEXT_ZIPF_FIT_SQL = """
WITH vocab AS (
  SELECT t, CAST(COUNT(*) AS BIGINT) AS n
  FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
  GROUP BY t
), ranked AS (
  SELECT n, row_number() OVER (ORDER BY n DESC, t) AS rank FROM vocab
)
SELECT CAST(COUNT(*) AS BIGINT) AS vocab_size,
  round(regr_slope(ln(CAST(n AS DOUBLE)), ln(CAST(rank AS DOUBLE))), 6)
    AS zipf_slope,
  round(regr_intercept(ln(CAST(n AS DOUBLE)), ln(CAST(rank AS DOUBLE))), 6)
    AS zipf_intercept,
  round(regr_r2(ln(CAST(n AS DOUBLE)), ln(CAST(rank AS DOUBLE))), 6) AS r2
FROM ranked
"""


# --------------------------------------------------------------------------
def text_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-distribution drift: D_KL(source ‖ corpus) — the
    curation diagnostic for 'which source writes differently than the
    mix' (domain skew, contamination, template spam all show up here).
    KL is computed over the shared vocabulary; terms where the source
    lacks a corpus token contribute 0 (p·ln(p/q) with p = 0).

    Scale shape: ONE shuffle to (source, token) counts; corpus totals
    are a second aggregation of that same table (no corpus re-scan);
    the join keying token is vocabulary-sized. Σ p·ln(p/q) is one
    partial+final aggregate per source.

    r9-opt: `st` is referenced four times (src_tot, tok_tot,
    corpus_tot, the joined numerator) and Catalyst re-runs the corpus
    token explode + count per reference — exactly the corpus re-scan
    the paragraph above promises not to do. Above the
    persist_if_large gate it is lazily persisted once (it is
    sources×vocabulary-sized, far below the corpus token stream; 4
    documents scans → 1); below it the parallel re-runs are cheaper
    than the materialization barrier. The totals joins keep their
    broadcast builds via hints (the shapes the planner already chose
    from estimates, which a persisted frame's RDD-backed stats would
    hide): src_tot (per-source — bounded) and corpus_tot (1 row) are
    hinted unconditionally; tok_tot is VOCABULARY-sized (unbounded
    token strings at corpus scale) so its hint is size-gated
    (broadcast_if_small).
    """
    (documents,) = tables(spark, sf_dir, "documents")
    st = persist_if_large(
        documents.select("source", F.explode(_tokens()).alias("t"))
        .filter(F.col("t") != "")
        .groupBy("source", "t")
        .agg(F.count(F.lit(1)).alias("n_st")),
        sf_dir,
        "documents",
    )
    src_tot = st.groupBy("source").agg(F.sum("n_st").alias("n_s"))
    tok_tot = st.groupBy("t").agg(F.sum("n_st").alias("n_t"))
    corpus_tot = st.agg(F.sum("n_st").alias("n_all"))
    joined = (
        st.join(F.broadcast(src_tot), "source")
        .join(broadcast_if_small(tok_tot, sf_dir, "documents"), "t")
        .crossJoin(F.broadcast(corpus_tot))
    )
    p = F.col("n_st") / F.col("n_s")
    q = F.col("n_t") / F.col("n_all")
    return (
        joined.groupBy("source")
        .agg(
            F.max("n_s").cast("bigint").alias("n_tokens"),
            F.count(F.lit(1)).alias("vocab"),
            F.round(F.sum(p * F.log(p / q)), 6).alias("kl_vs_corpus"),
        )
        .orderBy("source")
    )


TEXT_KL_DIVERGENCE_SQL = """
WITH st AS (
  SELECT source, t, COUNT(*) AS n_st FROM (
    SELECT source, unnest(string_split(text, ' ')) AS t FROM documents
  ) WHERE t <> '' GROUP BY source, t
),
src_tot AS (SELECT source, SUM(n_st) AS n_s FROM st GROUP BY source),
tok_tot AS (SELECT t, SUM(n_st) AS n_t FROM st GROUP BY t),
corpus AS (SELECT SUM(n_st) AS n_all FROM st)
SELECT st.source, CAST(MAX(s.n_s) AS BIGINT) AS n_tokens,
  CAST(COUNT(*) AS BIGINT) AS vocab,
  round(SUM((st.n_st / CAST(s.n_s AS DOUBLE))
            * ln((st.n_st / CAST(s.n_s AS DOUBLE))
                 / (tt.n_t / CAST(c.n_all AS DOUBLE)))), 6) AS kl_vs_corpus
FROM st JOIN src_tot s ON s.source = st.source
JOIN tok_tot tt ON tt.t = st.t
CROSS JOIN corpus c
GROUP BY st.source
ORDER BY st.source
"""


# --------------------------------------------------------------------------
# Non-overlapping span width for cross-document substring dedup.
DUP_SPAN_TOKENS = 8


def text_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-substring detection (the exact-substring
    dedup signal of Lee et al. 2022, "Deduplicating Training Data Makes
    Language Models Better"): tile every document into non-overlapping
    8-token spans, count each span text's total corpus occurrences, and
    report per document how much of it is made of spans that appear
    more than once anywhere (including elsewhere in the same doc —
    boilerplate repeats both within and across pages).

    Distinct from `text_repetition` (within-doc n-gram stats) and the
    `dedup_*` family (whole-document identity): this finds documents
    that are mosaics of corpus-common passages.

    Scale shape: span tiling is a map-side explode (sequence + slice +
    concat_ws, all codegen); the corpus occurrence count is a COUNT
    window PARTITIONED by span — ONE shuffle of the span stream,
    where the groupBy-count + re-join formulation would shuffle it
    twice (measured 43.9 → 5.1 s median at 500k docs). Skew note: a
    single mega-boilerplate span (10^8 repeats) would pile one window
    partition; on such corpora flip back to groupBy-count + join,
    whose map-side partial aggregation and AQE skew-join absorb it —
    both formulations are exact. At 100 TB replacing span text with a
    64-bit xxhash key would shrink the shuffle bytes further without
    changing the plan shape.
    """
    (documents,) = tables(spark, sf_dir, "documents")
    w = DUP_SPAN_TOKENS
    d = documents.select("doc_id", _tokens().alias("t")).filter(F.size("t") >= w)
    starts = F.sequence(
        F.lit(0), (F.floor(F.size("t") / w) - 1).cast("int") * w, F.lit(w)
    )
    spans = d.select(
        "doc_id", F.explode(starts).alias("s"), F.col("t")
    ).select(
        "doc_id",
        F.concat_ws(" ", F.slice(F.col("t"), F.col("s") + 1, w)).alias("span"),
    )
    counted = spans.select(
        "doc_id",
        F.count(F.lit(1)).over(Window.partitionBy("span")).alias("n_occ"),
    )
    return (
        counted
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum((F.col("n_occ") >= 2).cast("int")).alias("n_dup_spans"),
            F.round(
                F.sum((F.col("n_occ") >= 2).cast("int"))
                / F.count(F.lit(1)).cast("double"),
                4,
            ).alias("dup_frac"),
        )
        .orderBy("doc_id")
    )


TEXT_DUP_SPANS_SQL = f"""
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
  WHERE length(string_split(text, ' ')) >= {DUP_SPAN_TOKENS}
), spans AS (
  SELECT doc_id,
    unnest(list_transform(
      generate_series(0, length(t) // {DUP_SPAN_TOKENS} - 1),
      i -> array_to_string(t[i*{DUP_SPAN_TOKENS}+1 : (i+1)*{DUP_SPAN_TOKENS}], ' ')
    )) AS span
  FROM d
), counts AS (
  SELECT span, COUNT(*) AS n_occ FROM spans GROUP BY span
)
SELECT s.doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
  CAST(SUM(CASE WHEN c.n_occ >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
  round(SUM(CASE WHEN c.n_occ >= 2 THEN 1 ELSE 0 END)
        / CAST(COUNT(*) AS DOUBLE), 4) AS dup_frac
FROM spans s JOIN counts c ON c.span = s.span
GROUP BY s.doc_id
ORDER BY s.doc_id
"""


# corpus-occurrence threshold above which a span is boilerplate
# (2 = any cross-copy repetition; the synthetic corpus has no organic
# mega-boilerplate, so the Lee-et-al 'appears more than once' rule is
# also the threshold that exercises the op at every sf)
DUP_SPAN_KILL = 2


def text_dedup_spans_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup, REMOVAL step (Lee et al. 2022 actually
    rewrite the corpus, not just score it): drop every 8-token span
    whose corpus occurrence count reaches the boilerplate threshold,
    and re-emit the cleaned document from its kept spans (+ the tail
    remainder shorter than one span). Returns per-doc kept/dropped
    span counts and the cleaned text for docs that lost something.

    Scale shape: tiling + the span-count window are the text_dup_spans
    plan (one shuffle keyed by span); reassembly groups spans back by
    doc — a second shuffle keyed by doc_id whose per-group state is
    ONE document (collect_list is doc-sized, never corpus-sized), then
    array_sort + concat in codegen.
    """
    (documents,) = tables(spark, sf_dir, "documents")
    w = DUP_SPAN_TOKENS
    d = documents.select("doc_id", _tokens().alias("t")).filter(F.size("t") >= w)
    starts = F.sequence(
        F.lit(0), (F.floor(F.size("t") / w) - 1).cast("int") * w, F.lit(w)
    )
    spans = d.select(
        "doc_id",
        F.explode(starts).alias("s"),
        F.col("t"),
    ).select(
        "doc_id",
        "s",
        F.concat_ws(" ", F.slice(F.col("t"), F.col("s") + 1, w)).alias("span"),
        # the tail remainder (< w tokens) rides the LAST span so the
        # cleaned text keeps it whenever that span survives
        F.when(
            F.col("s") == (F.floor(F.size("t") / w) - 1).cast("int") * w,
            F.concat_ws(
                " ",
                F.slice(
                    F.col("t"),
                    (F.floor(F.size("t") / w) * w + 1).cast("int"),
                    w,
                ),
            ),
        ).otherwise(F.lit("")).alias("tail"),
    )
    counted = spans.select(
        "doc_id",
        "s",
        "span",
        "tail",
        F.count(F.lit(1)).over(Window.partitionBy("span")).alias("n_occ"),
    )
    rebuilt = (
        counted.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum((F.col("n_occ") >= DUP_SPAN_KILL).cast("int")).alias(
                "n_dropped"
            ),
            F.array_sort(
                F.collect_list(
                    F.when(
                        F.col("n_occ") < DUP_SPAN_KILL,
                        F.struct(
                            "s",
                            F.when(F.col("tail") != "",
                                   F.concat_ws(" ", "span", "tail"))
                            .otherwise(F.col("span"))
                            .alias("piece"),
                        ),
                    )
                )
            ).alias("kept"),
        )
        .filter(F.col("n_dropped") > 0)
    )
    return rebuilt.select(
        "doc_id",
        "n_spans",
        "n_dropped",
        F.concat_ws(
            " ", F.expr("transform(kept, x -> x.piece)")
        ).alias("clean_text"),
    ).orderBy("doc_id")


TEXT_DEDUP_SPANS_CLEAN_SQL = f"""
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
  WHERE length(string_split(text, ' ')) >= {DUP_SPAN_TOKENS}
), spans AS (
  SELECT doc_id, i * {DUP_SPAN_TOKENS} AS s,
    array_to_string(t[i*{DUP_SPAN_TOKENS}+1 : (i+1)*{DUP_SPAN_TOKENS}], ' ')
      AS span,
    CASE WHEN i = length(t) // {DUP_SPAN_TOKENS} - 1
         THEN array_to_string(
           t[(length(t) // {DUP_SPAN_TOKENS}) * {DUP_SPAN_TOKENS} + 1 :
             length(t)], ' ')
         ELSE '' END AS tail
  FROM d, unnest(generate_series(0, length(t) // {DUP_SPAN_TOKENS} - 1)) u(i)
), counted AS (
  SELECT *, COUNT(*) OVER (PARTITION BY span) AS n_occ FROM spans
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
  CAST(SUM(CASE WHEN n_occ >= {DUP_SPAN_KILL} THEN 1 ELSE 0 END) AS BIGINT)
    AS n_dropped,
  COALESCE(string_agg(
    CASE WHEN n_occ < {DUP_SPAN_KILL} THEN
      CASE WHEN tail <> '' THEN span || ' ' || tail ELSE span END
    END, ' ' ORDER BY s), '') AS clean_text
FROM counted
GROUP BY doc_id
HAVING SUM(CASE WHEN n_occ >= {DUP_SPAN_KILL} THEN 1 ELSE 0 END) > 0
ORDER BY doc_id
"""


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "text_dedup_spans_clean": text_dedup_spans_clean,
    "text_dup_spans": text_dup_spans,
    "text_kl_divergence": text_kl_divergence,
    "text_classifier_score": text_classifier_score,
    "text_count_min": text_count_min,
    "text_bloom_filter": text_bloom_filter,
    "text_zipf_fit": text_zipf_fit,
    "text_stats": text_stats,
    "text_repetition": text_repetition,
    "text_quality": text_quality,
    "text_langid": text_langid,
    "text_fingerprint": text_fingerprint,
    "text_token_freq": text_token_freq,
    "text_ngrams": text_ngrams,
    "text_bpe_tokens": text_bpe_tokens,
    "text_rolling_hash": text_rolling_hash,
    "text_tfidf": text_tfidf,
    "text_chunk": text_chunk,
    "text_redact": text_redact,
    "text_curation_funnel": text_curation_funnel,
    "text_pack": text_pack,
    "text_budget_sample": text_budget_sample,
    "text_bigram_ll": text_bigram_ll,
}

ORACLE: dict[str, str] = {
    "text_dedup_spans_clean": TEXT_DEDUP_SPANS_CLEAN_SQL,
    "text_dup_spans": TEXT_DUP_SPANS_SQL,
    "text_kl_divergence": TEXT_KL_DIVERGENCE_SQL,
    "text_classifier_score": TEXT_CLASSIFIER_SCORE_SQL,
    "text_count_min": TEXT_COUNT_MIN_SQL,
    "text_bloom_filter": TEXT_BLOOM_FILTER_SQL,
    "text_zipf_fit": TEXT_ZIPF_FIT_SQL,
    "text_stats": TEXT_STATS_SQL,
    "text_repetition": TEXT_REPETITION_SQL,
    "text_quality": TEXT_QUALITY_SQL,
    "text_langid": _langid_oracle(),
    "text_fingerprint": TEXT_FINGERPRINT_SQL,
    "text_token_freq": TEXT_TOKEN_FREQ_SQL,
    "text_ngrams": TEXT_NGRAMS_SQL,
    "text_bpe_tokens": TEXT_BPE_TOKENS_SQL,
    "text_rolling_hash": TEXT_ROLLING_HASH_SQL,
    "text_tfidf": TEXT_TFIDF_SQL,
    "text_chunk": TEXT_CHUNK_SQL,
    "text_redact": TEXT_REDACT_SQL,
    "text_curation_funnel": TEXT_CURATION_FUNNEL_SQL,
    "text_pack": TEXT_PACK_SQL,
    "text_budget_sample": TEXT_BUDGET_SAMPLE_SQL,
    "text_bigram_ll": TEXT_BIGRAM_LL_SQL,
}
