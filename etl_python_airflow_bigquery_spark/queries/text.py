"""Text-analysis operators for the training-data pipeline (BASELINE
north-star; SURVEY.md §7.4.8): exact dedup, token counting, quality
scoring, n-gram language ID, and winnowing document fingerprints — all
over the ``documents`` table, all pure Column expressions (JVM-side,
whole-stage codegen; the per-doc work is map-only so it scales linearly
with partitions and shuffles only for the final roll-ups).

Cross-engine determinism rules (shared with similarity.py):
* token/char hashes come from md5-hex prefixes parsed as int64 —
  identical in Spark (``conv(...,16,10)``) and DuckDB (``'0x'||`` cast);
* any float that feeds a comparison is first scaled to an integer
  (``floor(x * 10^k)``), so sums are exact and order-insensitive.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_python_airflow_bigquery_spark.dims import values_dim
from etl_python_airflow_bigquery_spark.functions import local_df, ranked_topk
from etl_python_airflow_bigquery_spark.queries import register
from etl_python_airflow_bigquery_spark.tables import load_table

# Shared stopword list (the synthetic vocab's function words).
STOPWORDS = ("the", "a", "or", "and", "of")

# BPE-ish token regex: alpha runs, digit runs, single other non-space chars.
TOKEN_RE = "[a-z]+|[0-9]+|[^a-z0-9 ]"


def hex_hash(col: Column, mod: int | None = None) -> Column:
    """Deterministic int64 hash: first 15 hex chars of md5 → integer.
    15 hex chars = 60 bits, safely inside int64. DuckDB twin:
    ``CAST('0x' || substring(md5(x),1,15) AS BIGINT)``."""
    h = F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")
    return h % F.lit(mod) if mod else h


def _hex_hash_sql(expr: str, mod: int | None = None) -> str:
    h = f"CAST(('0x' || substring(md5({expr}), 1, 15)) AS BIGINT)"
    return f"({h} % {mod})" if mod else h


# --------------------------------------------------------------------------
# Exact dedup — hash-groupBy
# --------------------------------------------------------------------------

_DEDUP_EXACT_ORACLE = """
SELECT md5(text) AS huella,
       CAST(min(doc_id) AS BIGINT) AS doc_id_kept,
       CAST(count(*) AS BIGINT) AS n_copias,
       CAST(sum(n_chars) AS BIGINT) AS chars_total
FROM documents
GROUP BY 1
"""


@register("dedup_exact", oracle=_DEDUP_EXACT_ORACLE, ops=("DD1", "A2"),
          driver=False)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: md5-hash groupBy keeping the lowest doc_id per
    distinct text. One shuffle on the 128-bit hash — the canonical
    at-scale exact dedup (hash, not full-text, as the shuffle key)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy(F.md5("text").alias("huella")).agg(
        F.min("doc_id").cast("bigint").alias("doc_id_kept"),
        F.count(F.lit(1)).cast("bigint").alias("n_copias"),
        F.sum("n_chars").cast("bigint").alias("chars_total"),
    )


# --------------------------------------------------------------------------
# Token counting — whitespace + BPE-ish regex + chars/4 estimate
# --------------------------------------------------------------------------

_TOKEN_ORACLE = f"""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens_ws,
       CAST(len(regexp_extract_all(text, '{TOKEN_RE}')) AS BIGINT) AS tokens_re,
       CAST(ceil(n_chars / 4.0) AS BIGINT) AS tokens_est
FROM documents
"""


@register("token_count", oracle=_TOKEN_ORACLE, ops=("TX1",), driver=False)
def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting three ways: whitespace split, BPE-ish regex
    tokenizer, chars/4 heuristic. Map-only; the regex stays in codegen."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("bigint").alias("tokens_ws"),
        F.size(F.expr(f"regexp_extract_all(text, '{TOKEN_RE}', 0)"))
        .cast("bigint")
        .alias("tokens_re"),
        F.ceil(F.col("n_chars") / 4.0).cast("bigint").alias("tokens_est"),
    )


# --------------------------------------------------------------------------
# Quality scoring — length/stopword/diversity ratios
# --------------------------------------------------------------------------

_STOP_LIST_SQL = "[" + ", ".join(f"'{w}'" for w in STOPWORDS) + "]"

_QUALITY_ORACLE = f"""
WITH base AS (
    SELECT doc_id, n_chars,
           string_split(text, ' ') AS palabras
    FROM documents
),
stats AS (
    SELECT doc_id, n_chars,
           len(palabras) AS n_palabras,
           len(list_filter(palabras, w -> list_contains({_STOP_LIST_SQL}, w)))
               AS n_stopwords,
           len(list_distinct(palabras)) AS n_distintas
    FROM base
)
SELECT doc_id,
       CAST(n_palabras AS BIGINT) AS n_palabras,
       floor(CAST(n_stopwords AS DOUBLE) / n_palabras * 1000) / 1000 AS ratio_stop,
       floor(CAST(n_distintas AS DOUBLE) / n_palabras * 1000) / 1000 AS ratio_distintas,
       floor(CAST(n_chars AS DOUBLE) / n_palabras * 10) / 10 AS largo_palabra,
       CAST(n_palabras BETWEEN 20 AND 1000
            AND (CAST(n_stopwords AS DOUBLE) / n_palabras) BETWEEN 0.01 AND 0.6
            AS BOOLEAN) AS aprobado
FROM stats
"""


@register("text_quality", oracle=_QUALITY_ORACLE, ops=("TX2",), driver=False)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring per document: word count, stopword ratio, distinct
    ratio, mean word length, and a Gopher-style keep/drop rule. Ratios
    floor-truncated so both engines emit identical decimals."""
    docs = load_table(spark, sf_dir, "documents")
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS])
    palabras = F.split("text", " ")
    base = docs.select(
        "doc_id",
        "n_chars",
        F.size(palabras).alias("n_palabras"),
        F.size(F.filter(palabras, lambda w: F.array_contains(stop_arr, w))).alias(
            "n_stopwords"
        ),
        F.size(F.array_distinct(palabras)).alias("n_distintas"),
    )
    ratio = lambda n, d, k: F.floor(n.cast("double") / d * k) / k  # noqa: E731
    return base.select(
        "doc_id",
        F.col("n_palabras").cast("bigint").alias("n_palabras"),
        ratio(F.col("n_stopwords"), F.col("n_palabras"), 1000).alias("ratio_stop"),
        ratio(F.col("n_distintas"), F.col("n_palabras"), 1000).alias("ratio_distintas"),
        ratio(F.col("n_chars"), F.col("n_palabras"), 10).alias("largo_palabra"),
        (
            F.col("n_palabras").between(20, 1000)
            & (F.col("n_stopwords").cast("double") / F.col("n_palabras")).between(
                0.01, 0.6
            )
        ).alias("aprobado"),
    )


# --------------------------------------------------------------------------
# Language ID — char-trigram profile voting
# --------------------------------------------------------------------------

# Tiny per-language character-trigram profiles (public n-gram-profile
# language-ID technique à la Cavnar-Trenkle). Deliberately small; the
# synthetic corpus shares one vocabulary so the vote mostly lands on the
# profile with the most frequent trigrams — the operator's plumbing
# (explode → broadcast join → argmax) is the point.
LANG_PROFILES = [
    ("en", "the"), ("en", "ing"), ("en", "and"), ("en", "or "),
    ("es", "os "), ("es", "la "), ("es", "es "), ("es", "de "),
    ("de", "sch"), ("de", "der"), ("de", "ein"), ("de", "ung"),
    ("fr", "le "), ("fr", "ent"), ("fr", "que"), ("fr", "es "),
    ("zh", "zh "), ("zh", "shi"), ("zh", "de "), ("zh", "ng "),
]

_LANG_ORACLE = """
WITH tri AS (
    SELECT d.doc_id, substring(d.text, g.i, 3) AS trigram
    FROM documents d, LATERAL unnest(generate_series(1, d.n_chars - 2)) AS g(i)
    WHERE d.n_chars >= 3
),
perfiles(lang_p, trigram) AS (
    VALUES ('en','the'),('en','ing'),('en','and'),('en','or '),
           ('es','os '),('es','la '),('es','es '),('es','de '),
           ('de','sch'),('de','der'),('de','ein'),('de','ung'),
           ('fr','le '),('fr','ent'),('fr','que'),('fr','es '),
           ('zh','zh '),('zh','shi'),('zh','de '),('zh','ng ')
),
votos AS (
    SELECT t.doc_id, p.lang_p, count(*) AS matches
    FROM tri t JOIN perfiles p ON t.trigram = p.trigram
    GROUP BY 1, 2
),
mejor AS (
    SELECT doc_id, lang_p, matches,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY matches DESC, lang_p) AS rn
    FROM votos
)
SELECT d.doc_id, d.lang AS lang_real,
       coalesce(m.lang_p, 'unknown') AS lang_pred,
       CAST(coalesce(m.matches, 0) AS BIGINT) AS votos
FROM documents d
LEFT JOIN mejor m ON m.doc_id = d.doc_id AND m.rn = 1
"""


# Session-scoped per-doc language-prediction cache (the _shingles
# pattern from queries/dedup.py): TWO consumers exist (lang_id_ngram
# itself and idioma_confusion's confusion matrix), and the trigram
# explode is the family's dominant cost — one materialization serves
# both within a session. dedup.clear_session_caches() clears this too,
# so bench.py / scale_probe reps keep reporting the real plan cost.
_LANG_PRED_CACHE: dict[tuple[str, str], DataFrame] = {}
_LANG_PRED_CACHE_MAX = 8


def clear_lang_pred_cache() -> None:
    _LANG_PRED_CACHE.clear()


def _lang_preds(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os

    key = (spark.sparkContext.applicationId, _os.path.abspath(sf_dir))
    hit = _LANG_PRED_CACHE.get(key)
    if hit is not None:
        return hit
    out = _lang_id_frame(spark, sf_dir).localCheckpoint(eager=False)
    while len(_LANG_PRED_CACHE) >= _LANG_PRED_CACHE_MAX:
        _LANG_PRED_CACHE.pop(next(iter(_LANG_PRED_CACHE)))
    _LANG_PRED_CACHE[key] = out
    return out


@register("lang_id_ngram", oracle=_LANG_ORACLE, ops=("TX3",))
def lang_id_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-trigram language ID: each profile trigram's occurrence
    count is a pure replace-length expression (the borderless-trigram
    identity, asserted at import) over a CONSTANT 20-row profile
    explode — the r1 design's per-CHARACTER explode shuffled ~1000 rows
    per doc to vote; this shuffles 5 partial-aggregated rows per doc
    and the argmax is a min-over-orderable-struct, no window. (The
    zero-shuffle all-expression form was measured and rejected: its
    generated projection costs seconds of codegen JIT per fresh plan —
    see the design note at _lang_id_frame.) Predictions materialize
    ONCE per (session, dataset) via `_lang_preds` — `idioma_confusion`
    shares the same frame."""
    return _lang_preds(spark, sf_dir)


# None of the profile trigrams may have a BORDER (proper prefix =
# proper suffix, i.e. t[0]==t[2] or t[:2]==t[1:]): borderless trigrams
# cannot self-overlap, so the non-overlapping replace() count equals the
# sliding-window occurrence count — the identity _tri_cnt relies on.
# Checked at import so a future profile edit cannot silently break it.
assert not [
    t for _, t in LANG_PROFILES if t[0] == t[2] or t[:2] == t[1:]
], "lang profile trigrams must be borderless for replace-counting"

_LANGS = sorted({l for l, _ in LANG_PROFILES})


def _tri_cnt(col: Column, tri: Column) -> Column:
    """Occurrences of a BORDERLESS trigram as a pure column expression:
    (len - len(replace(col, tri, '')))/3 — equal to the sliding-window
    count precisely because the trigram cannot overlap itself."""
    return (
        (F.length(col) - F.length(F.replace(col, tri, F.lit("")))) / 3
    ).cast("long")


def _perfiles_array() -> Column:
    """The 20 (lang, trigram) profile literals as one inline array —
    explodes to a constant 20-row fan-out per document."""
    return F.array(
        *[
            F.struct(F.lit(l).alias("lang_p"), F.lit(t).alias("tri"))
            for l, t in LANG_PROFILES
        ]
    )


def _best_struct(neg_votes: Column, lang: Column, votes: Column) -> Column:
    """Orderable (neg votes, lang, votes) struct: MIN over it is the
    (matches DESC, lang ASC) argmax the oracle's window computes."""
    return F.struct(
        neg_votes.alias("neg"), lang.alias("lang_p"), votes.alias("votos")
    )


# Design note (measured, round 7): the obvious all-column-expression
# form — 20 replace() counts folded into 5 vote sums and a sorted
# 5-struct array, zero shuffles — has a ~3-5 s whole-stage-codegen
# JIT cost PER FRESH PLAN (the generated projection is thousands of
# Java lines; execution after compile was 0.06 s at sf0.1). Exploding
# the 20 profile literals instead compiles ONE small replace expression
# and pays two partial-aggregable doc-grain shuffles (docs×5 rows) —
# strictly better end-to-end wall clock at every SF measured, and the
# aggregation is the textbook scale shape anyway.
def _lang_id_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id", "lang", F.explode(_perfiles_array()).alias("p"), "text"
    ).select(
        "doc_id",
        "lang",
        F.col("p.lang_p").alias("lang_p"),
        _tri_cnt(F.col("text"), F.col("p.tri")).alias("c"),
    )
    votos = base.groupBy("doc_id", "lang", "lang_p").agg(
        F.sum("c").alias("votes")
    )
    mejor = votos.groupBy("doc_id", "lang").agg(
        F.min(
            _best_struct(-F.col("votes"), F.col("lang_p"), F.col("votes"))
        ).alias("m")
    )
    return mejor.select(
        "doc_id",
        F.col("lang").alias("lang_real"),
        F.when(F.col("m.votos") > 0, F.col("m.lang_p"))
        .otherwise("unknown")
        .alias("lang_pred"),
        F.col("m.votos").cast("bigint").alias("votos"),
    )


# --------------------------------------------------------------------------
# Code-switching audit — half-vs-half language disagreement
# --------------------------------------------------------------------------

_PERFILES_VALUES = (
    "perfiles(lang_p, trigram) AS (\n"
    "    VALUES " + ",".join(f"('{l}','{t}')" for l, t in LANG_PROFILES) + "\n)"
)

_MEZCLA_IDIOMAS_ORACLE = f"""
WITH {_PERFILES_VALUES},
tri AS (
    SELECT d.doc_id, d.source,
           CASE WHEN g.i + 2 <= d.n_chars // 2 THEN 1
                WHEN g.i > d.n_chars // 2 THEN 2 END AS mitad,
           substring(d.text, g.i, 3) AS trigram
    FROM documents d,
         LATERAL unnest(generate_series(1, d.n_chars - 2)) AS g(i)
    WHERE d.n_chars >= 6
),
votos AS (
    SELECT t.doc_id, t.source, t.mitad, p.lang_p, count(*) AS matches
    FROM tri t JOIN perfiles p ON t.trigram = p.trigram
    WHERE t.mitad IS NOT NULL
    GROUP BY 1, 2, 3, 4
),
mejor AS (
    SELECT doc_id, source, mitad, lang_p,
           row_number() OVER (PARTITION BY doc_id, mitad
                              ORDER BY matches DESC, lang_p) AS rn
    FROM votos
),
pares AS (
    SELECT a.doc_id, a.source, a.lang_p AS lang_1, b.lang_p AS lang_2
    FROM mejor a JOIN mejor b
      ON b.doc_id = a.doc_id AND a.mitad = 1 AND b.mitad = 2
         AND a.rn = 1 AND b.rn = 1
)
SELECT source,
       CAST(count(*) AS BIGINT) AS docs_evaluados,
       CAST(sum(CASE WHEN lang_1 != lang_2 THEN 1 ELSE 0 END) AS BIGINT)
           AS mezclados,
       CAST(1000 * sum(CASE WHEN lang_1 != lang_2 THEN 1 ELSE 0 END)
            // count(*) AS BIGINT) AS tasa_mili
FROM pares GROUP BY 1
"""


@register("mezcla_idiomas", oracle=_MEZCLA_IDIOMAS_ORACLE,
          ops=("TX3", "A8", "J9"), bench=True, driver=False)
def mezcla_idiomas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CODE-SWITCHING AUDIT: classify each document's two character
    halves INDEPENDENTLY with the same trigram-profile vote
    `lang_id_ngram` uses, and report per source how many documents'
    halves disagree — the within-document language-mix signal a
    doc-level language ID structurally cannot see (a 50/50
    English/German page votes 'en' once and passes as clean English;
    its halves vote en/de and flag it). Mixed-language documents
    contaminate monolingual training subsets, so per-source mixing
    rates tell the mixture planner which ingest streams need
    segment-level splitting rather than doc-level routing. Boundary
    trigrams that straddle the midpoint belong to NEITHER half
    (deterministic, engine-identical); only documents where BOTH
    halves produce a profiled vote are evaluated.

    Scale shape: lang_id_ngram's constant-20-explode form applied to
    BOTH halves in one pass — the halves are substring projections
    whose trigram sets are exactly the halves' trigram sets (a trigram
    straddling the midpoint appears in neither substring, matching the
    oracle's neither-half rule), each (doc, profile) row counts both
    halves with the borderless replace identity, and the per-half
    argmaxes are two min-over-struct aggregates in ONE doc-grain
    roll-up. Shuffled rows: 5 per doc, then sources."""
    docs = load_table(spark, sf_dir, "documents")
    base = (
        docs.where(F.col("n_chars") >= 6)
        .select(
            "doc_id",
            "source",
            F.explode(_perfiles_array()).alias("p"),
            F.expr("substring(text, 1, n_chars div 2)").alias("h1"),
            F.expr("substring(text, n_chars div 2 + 1)").alias("h2"),
        )
        .select(
            "doc_id",
            "source",
            F.col("p.lang_p").alias("lang_p"),
            _tri_cnt(F.col("h1"), F.col("p.tri")).alias("c1"),
            _tri_cnt(F.col("h2"), F.col("p.tri")).alias("c2"),
        )
    )
    votos = base.groupBy("doc_id", "source", "lang_p").agg(
        F.sum("c1").alias("v1"), F.sum("c2").alias("v2")
    )
    mejor = votos.groupBy("doc_id", "source").agg(
        F.min(
            _best_struct(-F.col("v1"), F.col("lang_p"), F.col("v1"))
        ).alias("m1"),
        F.min(
            _best_struct(-F.col("v2"), F.col("lang_p"), F.col("v2"))
        ).alias("m2"),
    )
    pares = mejor.where(
        (F.col("m1.votos") > 0) & (F.col("m2.votos") > 0)
    ).select(
        "source",
        F.col("m1.lang_p").alias("lang_1"),
        F.col("m2.lang_p").alias("lang_2"),
    )
    return pares.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("docs_evaluados"),
        F.sum(F.when(F.col("lang_1") != F.col("lang_2"), 1).otherwise(0))
        .cast("bigint")
        .alias("mezclados"),
        F.expr(
            "CAST((1000 * sum(CASE WHEN lang_1 != lang_2 THEN 1 ELSE 0 END))"
            " div count(1) AS BIGINT)"
        ).alias("tasa_mili"),
    )


# --------------------------------------------------------------------------
# Document fingerprinting — winnowing (rolling k-gram min-hash)
# --------------------------------------------------------------------------

_K_GRAM = 5
_WIN = 4
_FP_MOD = 1_000_000_007

_FP_ORACLE = f"""
WITH grams AS (
    SELECT d.doc_id, g.i AS pos,
           {_hex_hash_sql("substring(d.text, g.i, 5)", _FP_MOD)} AS h
    FROM documents d, LATERAL unnest(generate_series(1, d.n_chars - 4)) AS g(i)
    WHERE d.n_chars >= 5
),
winmin AS (
    SELECT doc_id,
           min(h) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
           pos
    FROM grams
),
fps AS (
    SELECT DISTINCT doc_id, fp
    FROM winmin
    WHERE pos <= (SELECT max(pos) FROM grams g2 WHERE g2.doc_id = winmin.doc_id) - 3
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_huellas,
       CAST(min(fp) AS BIGINT) AS huella_min
FROM fps GROUP BY doc_id
"""


@register("doc_fingerprint", oracle=_FP_ORACLE, ops=("TX4", "W1"),
          driver=False)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (the public Schleimer/Wilkerson/Aiken
    scheme): hash every 5-char gram, keep the min hash of each sliding
    window of 4, dedup — a robust content fingerprint for near-dup and
    plagiarism-style matching. The window min runs per-doc (partitioned
    window, no global sort)."""
    docs = load_table(spark, sf_dir, "documents")
    grams = docs.where(F.col("n_chars") >= _K_GRAM).select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.col("n_chars") - (_K_GRAM - 1))).alias("pos"),
        "text",
    ).select(
        "doc_id",
        "pos",
        hex_hash(F.expr(f"substring(text, pos, {_K_GRAM})"), _FP_MOD).alias("h"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, _WIN - 1)
    wmax = Window.partitionBy("doc_id")
    winmin = grams.select(
        "doc_id",
        "pos",
        F.min("h").over(w).alias("fp"),
        F.max("pos").over(wmax).alias("max_pos"),
    ).where(F.col("pos") <= F.col("max_pos") - (_WIN - 1))
    fps = winmin.select("doc_id", "fp").distinct()
    return fps.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_huellas"),
        F.min("fp").cast("bigint").alias("huella_min"),
    )


# --------------------------------------------------------------------------
# Text normalization — the cleaning pass before any dedup/quality step
# --------------------------------------------------------------------------

_ACCENTS_FROM = "áéíóúüñàèìòùâêîôûäëïöç"
_ACCENTS_TO = "aeiouunaeiouaeiouaeioc"

_NORMALIZE_ORACLE = """
SELECT doc_id,
       regexp_replace(trim(strip_accents(lower(text))), ' +', ' ', 'g')
           AS texto_norm,
       md5(regexp_replace(trim(strip_accents(lower(text))), ' +', ' ', 'g'))
           AS huella_norm
FROM documents
"""


@register("text_normalize", oracle=_NORMALIZE_ORACLE, ops=("TX2", "P2"),
          driver=False)
def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization pass: lowercase → accent fold → whitespace squeeze
    → trim, plus the md5 of the normalized form (the dedup key a cleaned
    corpus would group on). Accent folding is ``translate`` over an
    explicit Latin table (Spark has no strip_accents builtin; the
    DuckDB oracle's strip_accents agrees on this table's domain).
    All map-side codegen — the cheap pre-pass every text pipeline runs
    before shingling."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.regexp_replace(
        F.trim(F.translate(F.lower("text"), _ACCENTS_FROM, _ACCENTS_TO)), " +", " "
    )
    return docs.select(
        "doc_id",
        norm.alias("texto_norm"),
        F.md5(norm).alias("huella_norm"),
    )


# --------------------------------------------------------------------------
# Stratified deterministic sampling — the data-mixing primitive
# --------------------------------------------------------------------------

_MUESTRA_ORACLE = f"""
WITH tasas AS (
    SELECT source, {_hex_hash_sql("source")} % 81 + 20 AS tasa
    FROM (SELECT DISTINCT source FROM documents)
),
marcado AS (
    SELECT d.source, t.tasa,
           {_hex_hash_sql("CAST(d.doc_id AS VARCHAR)")} % 100 AS u
    FROM documents d JOIN tasas t USING (source)
)
SELECT source, CAST(tasa AS BIGINT) AS tasa,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN u < tasa THEN 1 ELSE 0 END) AS BIGINT) AS n_muestra
FROM marcado
GROUP BY 1, 2
"""


@register("muestra_estratificada", oracle=_MUESTRA_ORACLE, ops=("A8", "J1"),
          driver=False)
def muestra_estratificada(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling — the data-mixing primitive of
    a training pipeline: each source gets a target rate (here derived
    from the source-name hash so the query is scale-factor-proof; in
    production a broadcast weights dim), and a document is IN the sample
    iff md5(doc_id) mod 100 clears its source's rate. Hash-gated
    sampling is reproducible across runs/engines, needs no RNG state,
    composes with incremental ingest (a doc's fate never changes), and
    is map-only after a broadcast join — no shuffle until the audit
    aggregation emitted here (source, rate, population, sample size)."""
    docs = load_table(spark, sf_dir, "documents")
    tasas = (
        docs.select("source")
        .distinct()
        .withColumn("tasa", hex_hash(F.col("source")) % 81 + 20)
    )
    marcado = docs.join(F.broadcast(tasas), "source").select(
        "source",
        "tasa",
        (hex_hash(F.col("doc_id").cast("string")) % 100).alias("u"),
    )
    return marcado.groupBy("source", F.col("tasa").cast("bigint").alias("tasa")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("u") < F.col("tasa"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_muestra"),
    )


# --------------------------------------------------------------------------
# Token-budget mixture planning — epochs/partial-pass per source
# --------------------------------------------------------------------------

_MEZCLA_ORACLE = f"""
WITH tok AS (
    SELECT source, len(string_split(text, ' ')) AS t FROM documents
),
fuentes AS (
    SELECT source, CAST(sum(t) AS BIGINT) AS tokens_fuente,
           {_hex_hash_sql("source")} % 9 + 1 AS peso
    FROM tok GROUP BY source
),
tot AS (
    SELECT CAST(sum(tokens_fuente) AS BIGINT) AS corpus,
           CAST(sum(peso) AS BIGINT) AS pesos
    FROM fuentes
)
SELECT f.source,
       CAST(f.peso AS BIGINT) AS peso,
       f.tokens_fuente,
       CAST((t.corpus // 2) * f.peso // t.pesos AS BIGINT) AS objetivo,
       CAST((t.corpus // 2) * f.peso // t.pesos // f.tokens_fuente AS BIGINT)
           AS epocas,
       CAST((t.corpus // 2) * f.peso // t.pesos % f.tokens_fuente AS BIGINT)
           AS resto_tokens
FROM fuentes f CROSS JOIN tot t
"""


@register("mezcla_entrenamiento", oracle=_MEZCLA_ORACLE, ops=("A6", "A1", "J6"),
          driver=False)
def mezcla_entrenamiento(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget MIXTURE PLAN — the step a pre-training run executes
    after curation and before sharding: given per-source mixture weights
    (here hash-derived so the query is scale-proof; in production a
    broadcast config dim) and a global token budget (half the corpus),
    compute each source's token target, how many FULL epochs of it to
    take (upsampling small high-quality sources = epochs > 1), and the
    partial-pass remainder in tokens. Where ``muestra_estratificada``
    gates individual documents, this op plans the budget allocation
    itself. All integer arithmetic (floor-div in a fixed order) so both
    engines agree exactly. Shape: one grouped sum per source, one scalar
    aggregate broadcast back via cross join — two tiny shuffles
    regardless of corpus size; the big side is scanned once for token
    counts only (column-pruned to source+text)."""
    docs = load_table(spark, sf_dir, "documents")
    fuentes = (
        docs.select("source", F.size(F.split("text", " ")).alias("t"))
        .groupBy("source")
        .agg(F.sum("t").cast("long").alias("tokens_fuente"))
        .withColumn("peso", hex_hash(F.col("source")) % 9 + 1)
    )
    tot = fuentes.agg(
        F.sum("tokens_fuente").cast("long").alias("corpus"),
        F.sum("peso").cast("long").alias("pesos"),
    )
    j = fuentes.crossJoin(F.broadcast(tot))
    # pure int64 arithmetic (`div`, not double floor-div): exact at any
    # corpus magnitude and bit-identical to the oracle's `//` chain
    objetivo = F.expr("((corpus div 2) * peso) div pesos")
    return j.select(
        "source",
        F.col("peso").cast("bigint").alias("peso"),
        "tokens_fuente",
        objetivo.cast("bigint").alias("objetivo"),
        F.expr("(((corpus div 2) * peso) div pesos) div tokens_fuente")
        .cast("bigint")
        .alias("epocas"),
        (objetivo % F.col("tokens_fuente")).cast("bigint").alias("resto_tokens"),
    )


# --------------------------------------------------------------------------
# Source token-budget capping — the clipping mezcla_entrenamiento plans
# --------------------------------------------------------------------------

_CUOTAS_ORACLE = """
WITH tok AS (
    SELECT doc_id, source, len(string_split(text, ' ')) AS t FROM documents
),
fuentes AS (
    SELECT source, CAST(count(*) AS BIGINT) AS docs,
           CAST(sum(t) AS BIGINT) AS tokens
    FROM tok GROUP BY 1
),
lim AS (
    SELECT CAST(sum(tokens) AS BIGINT) // (2 * count(*)) AS cap FROM fuentes
),
acum AS (
    SELECT source, t,
           sum(t) OVER (PARTITION BY source ORDER BY doc_id
                        ROWS UNBOUNDED PRECEDING) AS cs
    FROM tok
),
recortado AS (
    SELECT a.source, CAST(count(*) AS BIGINT) AS docs_cap,
           CAST(sum(a.t) AS BIGINT) AS tokens_cap
    FROM acum a, lim l
    WHERE a.cs - a.t < l.cap
    GROUP BY 1
)
SELECT f.source, f.docs, f.tokens,
       CAST(coalesce(r.docs_cap, 0) AS BIGINT) AS docs_cap,
       CAST(coalesce(r.tokens_cap, 0) AS BIGINT) AS tokens_cap,
       CASE WHEN f.tokens > 0
            THEN CAST((1000 * (f.tokens - coalesce(r.tokens_cap, 0)))
                      // f.tokens AS BIGINT)
            ELSE CAST(0 AS BIGINT) END AS recorte_mili
FROM fuentes f LEFT JOIN recortado r USING (source)
"""


@register("cuotas_fuentes", oracle=_CUOTAS_ORACLE, ops=("A1", "W1", "J2"), driver=False)
def cuotas_fuentes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SOURCE TOKEN-BUDGET CAPPING — the clipping pass that EXECUTES
    what ``mezcla_entrenamiento`` plans: no single source may exceed
    ``corpus // (2·n_sources)`` tokens (the anti-domination rule a
    mixture applies before weighting — one giant crawl must not drown
    the long tail). Selection is deterministic and order-stable: docs
    admit per source in doc_id order while the RUNNING token total
    before the doc stays under the cap (first doc always admits when
    cap ≥ 1, so no source silently vanishes). Output is the per-source
    clipping audit — docs/tokens before and after, floor-milli trim
    rate — the table a datasheet publishes next to the mixture weights.
    Shape: one column-pruned scan for token counts, one per-source
    cumulative-sum window (source-partitioned — parallel across
    sources, and the window is the textbook one-pass prefix sum), a
    sources-sized roll-up joined back broadcast. All integer; empty
    sources guard the trim-rate division on BOTH engines."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", "source", F.size(F.split("text", " ")).alias("t")
    )
    fuentes = tok.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("docs"),
        F.sum("t").cast("bigint").alias("tokens"),
    )
    lim = fuentes.agg(
        F.expr("CAST(sum(tokens) div (2 * count(*)) AS BIGINT)").alias("cap")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    acum = tok.withColumn("cs", F.sum("t").over(w))
    recortado = (
        acum.crossJoin(F.broadcast(lim))
        .where(F.col("cs") - F.col("t") < F.col("cap"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("docs_cap"),
            F.sum("t").cast("bigint").alias("tokens_cap"),
        )
    )
    return fuentes.join(F.broadcast(recortado), "source", "left").select(
        "source",
        "docs",
        "tokens",
        F.coalesce("docs_cap", F.lit(0)).cast("bigint").alias("docs_cap"),
        F.coalesce("tokens_cap", F.lit(0)).cast("bigint").alias("tokens_cap"),
        F.when(
            F.col("tokens") > 0,
            F.expr(
                "(1000 * (tokens - coalesce(tokens_cap, 0))) div tokens"
            ),
        )
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("recorte_mili"),
    )


# --------------------------------------------------------------------------
# Corpus curation pipeline — filter → quality gate → dedup → mixture audit
# --------------------------------------------------------------------------

_CURADO_ORACLE = f"""
WITH filtrado AS (
    SELECT doc_id, source, lang, n_chars, md5(text) AS huella,
           len(string_split(text, ' ')) AS np,
           len(list_filter(string_split(text, ' '),
                           w -> list_contains({_STOP_LIST_SQL}, w))) AS ns
    FROM documents
    WHERE lang IN ('en', 'es')
),
ok AS (
    SELECT * FROM filtrado
    WHERE np BETWEEN 20 AND 1000
      AND CAST(ns AS DOUBLE) / np BETWEEN 0.01 AND 0.6
),
kept AS (
    SELECT huella,
           arg_min(source, doc_id) AS source,
           arg_min(lang, doc_id) AS lang,
           arg_min(n_chars, doc_id) AS n_chars
    FROM ok GROUP BY 1
)
SELECT source, lang,
       CAST(count(*) AS BIGINT) AS docs_finales,
       CAST(sum(n_chars) AS BIGINT) AS chars_total,
       CAST(sum(ceil(n_chars / 4.0)) AS BIGINT) AS tokens_est
FROM kept GROUP BY 1, 2
"""


@register("corpus_curado", oracle=_CURADO_ORACLE, ops=("P5", "TX2", "DD1", "A1"),
          driver=False)
def corpus_curado(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus curation — the composed pipeline a training-data
    run actually executes: language filter (pushed to the parquet scan)
    → Gopher-style quality gate (same rule as `text_quality`, map-side)
    → exact dedup keeping the lowest doc_id per text hash (ONE shuffle,
    on md5) → per-(source, lang) mixture audit. Order matters at 100 TB:
    filters and the quality gate run before the only wide operation, so
    the dedup shuffle moves already-curated bytes, and the md5 is the
    shuffle key (16 bytes/doc, never the text)."""
    docs = load_table(spark, sf_dir, "documents")
    palabras = F.split("text", " ")
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS])
    filtrado = docs.where(F.col("lang").isin("en", "es")).select(
        "doc_id",
        "source",
        "lang",
        "n_chars",
        F.md5("text").alias("huella"),
        F.size(palabras).alias("np"),
        F.size(F.filter(palabras, lambda w: F.array_contains(stop_arr, w))).alias(
            "ns"
        ),
    )
    ok = filtrado.where(
        F.col("np").between(20, 1000)
        & (F.col("ns").cast("double") / F.col("np")).between(0.01, 0.6)
    )
    kept = ok.groupBy("huella").agg(
        F.expr("min_by(source, doc_id)").alias("source"),
        F.expr("min_by(lang, doc_id)").alias("lang"),
        F.expr("min_by(n_chars, doc_id)").alias("n_chars"),
    )
    return kept.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("docs_finales"),
        F.sum("n_chars").cast("bigint").alias("chars_total"),
        F.sum(F.ceil(F.col("n_chars") / 4.0)).cast("bigint").alias("tokens_est"),
    )


# --------------------------------------------------------------------------
# PII redaction — email/IP/long-digit scrubbing (training-data hygiene)
# --------------------------------------------------------------------------

# Conservative patterns that mean the same thing in Java regex (Spark)
# and RE2 (DuckDB): no lookarounds, no \b-adjacent unicode subtleties.
_RE_EMAIL = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
_RE_IPV4 = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
_RE_LONGNUM = "[0-9]{8,}"

# The synthetic corpus has no real PII, so each doc gains a deterministic
# contact line derived from doc_id — IDENTICALLY in both engines — and
# the scrubber must find and redact exactly those plants. (Only the cast
# keyword differs: Spark spells it STRING, DuckDB VARCHAR.)
def _pii_text_sql(str_type: str) -> str:
    return (
        f"text || ' contacto user' || CAST(doc_id AS {str_type}) || "
        f"'@example.com ip 10.0.' || CAST(doc_id % 256 AS {str_type}) || "
        "'.7 tarjeta 4111222233334444'"
    )


_PII_TEXT_SQL = _pii_text_sql("VARCHAR")

_PII_ORACLE = f"""
WITH con_pii AS (
    SELECT doc_id, {_PII_TEXT_SQL} AS texto FROM documents
),
limpio AS (
    SELECT doc_id,
           len(regexp_extract_all(texto, '{_RE_EMAIL}')) AS n_emails,
           len(regexp_extract_all(texto, '{_RE_IPV4}')) AS n_ips,
           regexp_replace(
               regexp_replace(
                   regexp_replace(texto, '{_RE_EMAIL}', '<EMAIL>', 'g'),
                   '{_RE_IPV4}', '<IP>', 'g'),
               '{_RE_LONGNUM}', '<NUM>', 'g') AS texto_limpio
    FROM con_pii
)
SELECT doc_id,
       CAST(n_emails AS BIGINT) AS n_emails,
       CAST(n_ips AS BIGINT) AS n_ips,
       md5(texto_limpio) AS huella_limpia
FROM limpio
"""


@register("pii_scrub", oracle=_PII_ORACLE, ops=("TX2", "P8"), driver=False)
def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction for training corpora: emails, IPv4 addresses, and
    8+-digit numbers (card/account shapes) replaced with typed
    placeholders, counts per class emitted for the curation audit trail.
    All three passes are regexp_replace inside whole-stage codegen —
    map-only, linear, no UDFs; the md5 of the redacted text pins EXACT
    redaction equality against DuckDB (same spans, same order). Patterns
    deliberately avoid constructs where Java regex and RE2 diverge
    (lookaround, backrefs). The deterministic PII plant exists because
    the synthetic corpus carries none — at production the plant drops
    out and the scrubber runs over raw text unchanged."""
    docs = load_table(spark, sf_dir, "documents")
    texto = F.expr(_pii_text_sql("STRING"))
    con = docs.select("doc_id", texto.alias("texto"))
    limpio = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("texto"), _RE_EMAIL, "<EMAIL>"),
            _RE_IPV4, "<IP>",
        ),
        _RE_LONGNUM, "<NUM>",
    )
    # patterns go through the PYTHON API (F.lit), never an F.expr SQL
    # string — Spark SQL literals consume backslash escapes, which would
    # silently turn '\.' into the any-char dot (caught by the oracle:
    # the card number matched as an "IP")
    return con.select(
        "doc_id",
        F.size(F.regexp_extract_all("texto", F.lit(_RE_EMAIL), F.lit(0)))
        .cast("bigint")
        .alias("n_emails"),
        F.size(F.regexp_extract_all("texto", F.lit(_RE_IPV4), F.lit(0)))
        .cast("bigint")
        .alias("n_ips"),
        F.md5(limpio).alias("huella_limpia"),
    )


# --------------------------------------------------------------------------
# Unigram-LM perplexity proxy — statistical quality scoring
# --------------------------------------------------------------------------

_PERPLEX_ORACLE = """
WITH toks AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
),
freq AS (SELECT w, count(*) AS c FROM toks GROUP BY 1),
tot AS (SELECT sum(c) AS n FROM freq),
scored AS (
    SELECT t.doc_id,
           count(*) AS nt,
           sum(log2(CAST(f.c AS DOUBLE))) AS slc
    FROM toks t JOIN freq f ON t.w = f.w
    GROUP BY 1
)
SELECT s.doc_id,
       CAST(s.nt AS BIGINT) AS n_tokens,
       floor((log2(CAST(tot.n AS DOUBLE)) - s.slc / s.nt) * 1e6) / 1e6
           AS bits_por_token
FROM scored s, tot
"""


@register("perplejidad_unigrama", oracle=_PERPLEX_ORACLE, ops=("TX2", "A1"),
          driver=False)
def perplejidad_unigrama(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical quality score: per-doc mean surprisal (bits/token)
    under a unigram LM fit on the corpus ITSELF — the cheap stand-in for
    the perplexity filters real curation pipelines run with KenLM
    (documents full of corpus-typical tokens score low; gibberish and
    rare-token soup score high). bits/token = log2(N) − mean(log2 c_w).

    Scale shape: one explode + a token-keyed count (map-side combinable)
    + one token-keyed join back + a doc-keyed roll-up — no step holds
    more than (token, count) pairs, and the corpus-total N rides along
    as a broadcast scalar. Both engines evaluate log2 on IDENTICAL
    integer counts and the result is floor-scaled, the same determinism
    discipline as the cosine scores."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    freq = toks.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    tot = freq.agg(F.sum("c").alias("n"))
    scored = (
        toks.join(freq, "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("nt"),
            F.sum(F.log2(F.col("c").cast("double"))).alias("slc"),
        )
    )
    return scored.crossJoin(F.broadcast(tot)).select(
        "doc_id",
        F.col("nt").cast("bigint").alias("n_tokens"),
        (
            F.floor(
                (F.log2(F.col("n").cast("double")) - F.col("slc") / F.col("nt"))
                * 1e6
            )
            / 1e6
        ).alias("bits_por_token"),
    )


# --------------------------------------------------------------------------
# Document chunking with overlap — RAG/window splitter
# --------------------------------------------------------------------------

_CHUNK_SIZE = 64   # tokens per chunk
_CHUNK_STRIDE = 48  # new tokens per step (overlap = 16)

_CHUNK_ORACLE = f"""
WITH base AS (
    SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
chunks AS (
    SELECT b.doc_id, g.i AS chunk_id,
           list_slice(b.w, g.i * {_CHUNK_STRIDE} + 1,
                      g.i * {_CHUNK_STRIDE} + {_CHUNK_SIZE}) AS toks
    FROM base b,
         LATERAL unnest(generate_series(0,
             CAST(floor((len(b.w) - 1) / {_CHUNK_STRIDE}) AS INT))) AS g(i)
    WHERE g.i * {_CHUNK_STRIDE} < len(b.w)
)
SELECT doc_id,
       CAST(chunk_id AS BIGINT) AS chunk_id,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       md5(array_to_string(toks, ' ')) AS huella_chunk
FROM chunks
"""


@register("trozado_chunks", oracle=_CHUNK_ORACLE, ops=("TX1", "P2"),
          driver=False)
def trozado_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-window document chunking with overlap (64-token chunks,
    stride 48 → 16-token overlap) — the splitter every RAG/pretraining
    prep pipeline runs before embedding or packing. Pure map-side:
    ``sequence`` over chunk starts → ``explode`` → ``slice`` of the
    token array; per-row fan-out is ⌈tokens/stride⌉ and the text bytes
    are touched exactly once. The chunk md5 pins EXACT chunk content
    (boundaries, overlap, tail handling) against the DuckDB twin."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", F.split("text", " ").alias("w"))
    starts = F.sequence(
        F.lit(0), F.floor((F.size("w") - 1) / F.lit(_CHUNK_STRIDE)).cast("int")
    )
    chunked = base.select(
        "doc_id", "w", F.explode(starts).alias("chunk_id")
    ).where(F.col("chunk_id") * _CHUNK_STRIDE < F.size("w"))
    toks = F.slice(
        F.col("w"), F.col("chunk_id") * _CHUNK_STRIDE + 1, _CHUNK_SIZE
    )
    return chunked.select(
        "doc_id",
        F.col("chunk_id").cast("bigint").alias("chunk_id"),
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.md5(F.array_join(toks, " ")).alias("huella_chunk"),
    )


# --------------------------------------------------------------------------
# Count-min sketch — fixed-size frequency estimation for heavy hitters
# --------------------------------------------------------------------------
# The KMV family (extras.py) answers DISTINCT-COUNT questions from a
# bounded sketch; count-min answers FREQUENCY questions the same way: a
# D×W counter grid (D hash rows, W buckets) that is pure groupBy-sum —
# partial aggregation IS the sketch merge, so a 1000-executor build
# ships only D×W counters per partition no matter how many tokens the
# corpus holds. Estimates are upper bounds (min over rows ≥ truth);
# the query below audits the overestimate against exact counts.

_CMS_D = 3        # hash rows
_CMS_W = 1024     # buckets per row
_CMS_TOP = 20     # heavy hitters audited

_CMS_ORACLE = f"""
WITH tok AS (
    SELECT unnest(string_split(text, ' ')) AS token FROM documents
),
cnt AS (
    SELECT token, CAST(count(*) AS BIGINT) AS exacto
    FROM tok WHERE token != '' GROUP BY 1
),
pares AS (
    SELECT c.token, c.exacto, j.j AS j,
           {_hex_hash_sql("c.token || '#' || CAST(j.j AS VARCHAR)", _CMS_W)} AS b
    FROM cnt c CROSS JOIN generate_series(0, {_CMS_D - 1}) j(j)
),
sketch AS (
    SELECT j, b, sum(exacto) AS cb FROM pares GROUP BY 1, 2
),
top AS (
    SELECT token, exacto FROM cnt ORDER BY exacto DESC, token LIMIT {_CMS_TOP}
),
est AS (
    SELECT t.token, t.exacto, min(s.cb) AS estimado
    FROM top t
    JOIN pares p ON p.token = t.token
    JOIN sketch s ON s.j = p.j AND s.b = p.b
    GROUP BY 1, 2
)
SELECT token, exacto, CAST(estimado AS BIGINT) AS estimado,
       CAST(estimado - exacto AS BIGINT) AS sobreestimacion
FROM est
"""


@register("sketch_cms_tokens", oracle=_CMS_ORACLE, ops=("A1", "O7"),
          driver=False)
def sketch_cms_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT-MIN SKETCH heavy-hitter audit: build the D×W=3×1024 counter
    grid over the corpus token stream (md5-bucket per hash row, one
    groupBy-sum — the sketch any executor subset can build locally and
    merge by addition), then read the top-{_CMS_TOP} tokens' estimates
    back out (min over the D rows) next to their exact counts. The
    sketch is O(D·W) forever; only the audit side touches exact counts
    (at 100 TB you would keep the sketch and drop the exact pass — here
    the exact pass is what exposes the collision overestimate). The
    estimate ≥ exact invariant is structural: every row's bucket sums
    the token's own count plus its colliders."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(F.explode(F.split("text", " ")).alias("token")).where(
        F.col("token") != ""
    )
    cnt = tok.groupBy("token").agg(F.count(F.lit(1)).alias("exacto"))
    hashed = cnt.select(
        "token",
        "exacto",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(j).alias("j"),
                    hex_hash(
                        F.concat_ws("#", F.col("token"), F.lit(str(j))), _CMS_W
                    ).alias("b"),
                )
                for j in range(_CMS_D)
            ])
        ).alias("jb"),
    ).select("token", "exacto", F.col("jb.j").alias("j"), F.col("jb.b").alias("b"))
    sketch = hashed.groupBy("j", "b").agg(F.sum("exacto").alias("cb"))
    top = cnt.orderBy(F.desc("exacto"), "token").limit(_CMS_TOP)
    consulta = top.join(hashed.select("token", "j", "b"), "token").join(
        F.broadcast(sketch), ["j", "b"]
    )
    return consulta.groupBy("token").agg(
        F.max("exacto").cast("bigint").alias("exacto"),
        F.min("cb").cast("bigint").alias("estimado"),
        (F.min("cb") - F.max("exacto")).cast("bigint").alias("sobreestimacion"),
    )


# --------------------------------------------------------------------------
# BPE merge induction — the tokenizer-trainer loop
# --------------------------------------------------------------------------
# The first _BPE_ROUNDS merges a byte-pair-encoding trainer would learn
# from the corpus: count adjacent symbol pairs over the WORD VOCABULARY
# (frequencies carry the corpus weight — the classic BPE trainer
# optimization: re-tokenization happens on vocab-sized data, never the
# corpus), merge the argmax pair into a placeholder symbol, repeat.
# Like the k-means/PQ fits, the model (the merge table) is the only
# thing that ever reaches the driver: one (pair, count) row per round.

_BPE_ROUNDS = 3

# Placeholder symbols for merged pairs (chr(1), chr(2), ...): outside
# the corpus alphabet, so later rounds treat a merge as one symbol.
_BPE_PAIRS_SQL = (
    "SELECT substr(w, g.i, 2) AS par, freq FROM {src}, "
    "LATERAL unnest(generate_series(1, length(w) - 1)) g(i) "
    "WHERE length(w) >= 2"
)


def _bpe_oracle(rounds: int) -> str:
    parts = [
        "tok AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents)",
        "w0 AS (SELECT w, count(*) AS freq FROM tok WHERE w != '' GROUP BY 1)",
    ]
    for t in range(1, rounds + 1):
        parts.append(
            f"p{t} AS (SELECT par, sum(freq) AS c FROM "
            f"({_BPE_PAIRS_SQL.format(src=f'w{t - 1}')}) GROUP BY 1)"
        )
        parts.append(
            f"m{t} AS (SELECT par, c FROM p{t} ORDER BY c DESC, par LIMIT 1)"
        )
        if t < rounds:
            parts.append(
                f"w{t} AS (SELECT replace(w, (SELECT par FROM m{t}), chr({t}))"
                f" AS w, freq FROM w{t - 1})"
            )
    # expand placeholders back to base characters for the output
    parts.append("e1 AS (SELECT par AS s, c FROM m1)")
    for t in range(2, rounds + 1):
        expand = f"m{t}.par"
        for u in range(t - 1, 0, -1):
            expand = f"replace({expand}, chr({u}), e{u}.s)"
        froms = ", ".join([f"m{t}"] + [f"e{u}" for u in range(1, t)])
        parts.append(f"e{t} AS (SELECT {expand} AS s, m{t}.c AS c FROM {froms})")
    sel = " UNION ALL ".join(
        f"SELECT {t} AS ronda, s AS par, CAST(c AS BIGINT) AS ocurrencias"
        f" FROM e{t}"
        for t in range(1, rounds + 1)
    )
    return "WITH " + ",\n".join(parts) + "\n" + sel


def _bpe_learn(docs: DataFrame) -> list[tuple[str, int]]:
    """The BPE trainer loop (see bpe_fusiones): returns the learned
    merges as RAW (placeholder-space) pairs with their weighted counts
    — merge t's pair may contain chr(u<t) placeholders, which is what
    the ENCODER needs to replay the replaces in order. Shared by the
    trainer report and the corpus encoder."""
    tok = docs.select(F.explode(F.split("text", " ")).alias("w")).where(
        F.col("w") != ""
    )
    words = tok.groupBy("w").agg(F.count(F.lit(1)).alias("freq"))
    merges: list[tuple[str, int]] = []
    for t in range(1, _BPE_ROUNDS + 1):
        pares = (
            words.where(F.length("w") >= 2)
            .select(
                "freq",
                F.explode(
                    F.expr(
                        "transform(sequence(1, length(w) - 1),"
                        " i -> substring(w, i, 2))"
                    )
                ).alias("par"),
            )
            .groupBy("par")
            .agg(F.sum("freq").alias("c"))
        )
        filas = pares.orderBy(F.desc("c"), "par").limit(1).collect()
        if not filas:  # empty corpus (or no 2+-char words): no merges
            break
        top = filas[0]
        merges.append((top["par"], int(top["c"])))
        if t < _BPE_ROUNDS:
            words = words.select(
                F.replace(F.col("w"), F.lit(top["par"]), F.lit(chr(t)))
                .alias("w"),
                "freq",
            )
    return merges


@register("bpe_fusiones", oracle=_bpe_oracle(_BPE_ROUNDS), ops=("TX1", "A1"),
          driver=False)
def bpe_fusiones(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE MERGE INDUCTION — the first 3 merges a byte-pair-encoding
    tokenizer trainer learns: adjacent-pair statistics over the word
    VOCABULARY (corpus frequencies as weights, so each round scans
    vocab-sized data — the trainer never re-reads the corpus), greedy
    argmax merge with (count DESC, pair ASC) tie-break, merged pair
    collapsed to a placeholder symbol before the next round. The merge
    table — one pair per round — is all that reaches the driver, the
    same bounded-model contract as the k-means and PQ fits; at 100 TB
    each round is one groupBy-sum over the vocabulary. Output: the
    learned merges expanded back to base characters, with their
    weighted pair counts."""
    docs = load_table(spark, sf_dir, "documents")
    merges = _bpe_learn(docs)
    # expand placeholder symbols to base characters (driver-side: the
    # merge table is O(rounds) strings)
    out = []
    expanded: list[str] = []
    for t, (par, c) in enumerate(merges, start=1):
        s = par
        for u in range(t - 1, 0, -1):
            s = s.replace(chr(u), expanded[u - 1])
        expanded.append(s)
        out.append((t, s, c))
    return local_df(spark, out, "ronda INT, par STRING, ocurrencias BIGINT")


# --------------------------------------------------------------------------
# BPE corpus ENCODING — the apply half of the tokenizer
# --------------------------------------------------------------------------

# A placeholder guaranteed absent from the corpus text: when fewer than
# _BPE_ROUNDS merges exist (degenerate corpora), the oracle's replace
# chain substitutes this no-op pair so both engines skip the round.
_BPE_NOOP = "chr(127)"


def _bpe_encode_oracle(rounds: int) -> str:
    parts = [
        "tok AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents)",
        "w0 AS (SELECT w, count(*) AS freq FROM tok WHERE w != '' GROUP BY 1)",
    ]
    for t in range(1, rounds + 1):
        parts.append(
            f"p{t} AS (SELECT par, sum(freq) AS c FROM "
            f"({_BPE_PAIRS_SQL.format(src=f'w{t - 1}')}) GROUP BY 1)"
        )
        parts.append(
            f"m{t} AS (SELECT par, c FROM p{t} ORDER BY c DESC, par LIMIT 1)"
        )
        if t < rounds:
            parts.append(
                f"w{t} AS (SELECT replace(w, coalesce((SELECT par FROM m{t}),"
                f" {_BPE_NOOP}), chr({t})) AS w, freq FROM w{t - 1})"
            )
    enc = "td.w"
    for t in range(1, rounds + 1):
        enc = (
            f"replace({enc}, coalesce((SELECT par FROM m{t}), {_BPE_NOOP}),"
            f" chr({t}))"
        )
    parts.append(
        "tokd AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w"
        " FROM documents)"
    )
    parts.append(
        "pordoc AS (SELECT td.doc_id, "
        "CAST(count(*) FILTER (td.w != '') AS BIGINT) AS n_palabras, "
        "CAST(coalesce(sum(length(td.w)) FILTER (td.w != ''), 0) AS BIGINT)"
        " AS n_chars, "
        f"CAST(coalesce(sum(length({enc})) FILTER (td.w != ''), 0) AS BIGINT)"
        " AS n_tokens FROM tokd td GROUP BY 1)"
    )
    return (
        "WITH " + ",\n".join(parts) + "\n"
        "SELECT d.doc_id, "
        "CAST(coalesce(p.n_palabras, 0) AS BIGINT) AS n_palabras, "
        "CAST(coalesce(p.n_chars, 0) AS BIGINT) AS n_chars, "
        "CAST(coalesce(p.n_tokens, 0) AS BIGINT) AS n_tokens, "
        "CAST(CASE WHEN coalesce(p.n_chars, 0) = 0 THEN 0 "
        "ELSE 1000 * (p.n_chars - p.n_tokens) // p.n_chars END AS BIGINT)"
        " AS ahorro_milli "
        "FROM documents d LEFT JOIN pordoc p USING (doc_id)"
    )


@register("bpe_codificacion", oracle=_bpe_encode_oracle(_BPE_ROUNDS),
          ops=("TX1", "A8", "J2"), driver=False)
def bpe_codificacion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE corpus ENCODING — the apply half whose train half is
    `bpe_fusiones`: the learned merge table (3 raw placeholder-space
    pairs, the only driver-side state) replays over every word of every
    document in order, and each document reports its symbol count under
    the trained tokenizer next to its raw character count — the
    per-document token-budget accounting a packing/mixture planner
    consumes (token_count's whitespace proxy, upgraded to the actual
    trained vocabulary). ``ahorro_milli`` is the milli-floored
    compression the merges bought.

    Scale shape: training scans vocab-sized data per round
    (bpe_fusiones' trainer contract); encoding is one word explode +
    a chain of 3 literal replaces (map-side, whole-stage codegen) + one
    partial-aggregable per-doc roll-up. No UDFs, no driver text."""
    docs = load_table(spark, sf_dir, "documents")
    merges = _bpe_learn(docs)
    palabra = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    ).where(F.col("w") != "")
    enc = F.col("w")
    for t, (par, _) in enumerate(merges, start=1):
        enc = F.replace(enc, F.lit(par), F.lit(chr(t)))
    por_doc = palabra.select(
        "doc_id", F.length("w").alias("nc"), F.length(enc).alias("nt")
    ).groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_palabras"),
        F.sum("nc").cast("bigint").alias("n_chars"),
        F.sum("nt").cast("bigint").alias("n_tokens"),
    )
    return (
        docs.select("doc_id")
        .join(por_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_palabras", F.lit(0)).cast("bigint").alias("n_palabras"),
            F.coalesce("n_chars", F.lit(0)).cast("bigint").alias("n_chars"),
            F.coalesce("n_tokens", F.lit(0)).cast("bigint").alias("n_tokens"),
            F.expr(
                "CASE WHEN coalesce(n_chars, 0) = 0 THEN 0 "
                "ELSE (1000 * (n_chars - n_tokens)) div n_chars END"
            ).cast("bigint").alias("ahorro_milli"),
        )
    )


# --------------------------------------------------------------------------
# Tokenizer fertility by language — the multilingual-fairness audit
# --------------------------------------------------------------------------

def _fertilidad_oracle(rounds: int) -> str:
    parts = [
        "tok AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents)",
        "w0 AS (SELECT w, count(*) AS freq FROM tok WHERE w != '' GROUP BY 1)",
    ]
    for t in range(1, rounds + 1):
        parts.append(
            f"p{t} AS (SELECT par, sum(freq) AS c FROM "
            f"({_BPE_PAIRS_SQL.format(src=f'w{t - 1}')}) GROUP BY 1)"
        )
        parts.append(
            f"m{t} AS (SELECT par, c FROM p{t} ORDER BY c DESC, par LIMIT 1)"
        )
        if t < rounds:
            parts.append(
                f"w{t} AS (SELECT replace(w, coalesce((SELECT par FROM m{t}),"
                f" {_BPE_NOOP}), chr({t})) AS w, freq FROM w{t - 1})"
            )
    enc = "tl.w"
    for t in range(1, rounds + 1):
        enc = (
            f"replace({enc}, coalesce((SELECT par FROM m{t}), {_BPE_NOOP}),"
            f" chr({t}))"
        )
    parts.append(
        "tokl AS (SELECT lang, unnest(string_split(text, ' ')) AS w"
        " FROM documents)"
    )
    parts.append(
        "por_lang AS (SELECT tl.lang, "
        "CAST(count(*) AS BIGINT) AS palabras, "
        f"CAST(sum(length({enc})) AS BIGINT) AS simbolos "
        "FROM tokl tl WHERE tl.w != '' GROUP BY 1)"
    )
    parts.append(
        "mejor AS (SELECT simbolos AS s_m, palabras AS p_m FROM por_lang "
        "ORDER BY simbolos * 1000 // palabras, lang LIMIT 1)"
    )
    return (
        "WITH " + ",\n".join(parts) + "\n"
        "SELECT l.lang, l.palabras, l.simbolos, "
        "CAST(1000 * l.simbolos // l.palabras AS BIGINT) AS fertilidad_milli, "
        "CAST((CAST(l.simbolos AS HUGEINT) * m.p_m * 1000) "
        "// (CAST(l.palabras AS HUGEINT) * m.s_m) AS BIGINT) AS prima_milli "
        "FROM por_lang l CROSS JOIN mejor m"
    )


@register("fertilidad_tokenizador", oracle=_fertilidad_oracle(_BPE_ROUNDS),
          ops=("TX1", "A3", "A1"), driver=False)
def fertilidad_tokenizador(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKENIZER FERTILITY BY LANGUAGE — the multilingual-fairness audit
    (Petrov et al. 2023, arXiv:2305.15425 'Language Model Tokenizers
    Introduce Unfairness Between Languages'; fertility = subword symbols
    per word, Ács/ACL parlance): the SAME trained merge table
    (`_bpe_learn`, shared with bpe_fusiones/bpe_codificacion) encodes
    every word, and each language reports its milli fertility plus its
    PREMIUM over the corpus-best language — the ratio that prices one
    language's context window and API tokens against another's. BPE
    merges learned on a majority-language corpus compress that language
    best, so the premium column is precisely where the bias shows.
    Cross-language ratio computed from the RAW sums
    (s_l·p_best·1000) div (p_l·s_best) in decimal38/HUGEINT — exact,
    not a ratio of rounded ratios.

    Scale shape: training is bpe_fusiones' vocab-sized loop; the audit
    is one word explode + the 3-literal replace chain (map-side) + a
    languages-sized roll-up, with the best-language scalar riding in as
    a 1-row broadcast."""
    docs = load_table(spark, sf_dir, "documents")
    merges = _bpe_learn(docs)
    palabra = docs.select(
        "lang", F.explode(F.split("text", " ")).alias("w")
    ).where(F.col("w") != "")
    enc = F.col("w")
    for t, (par, _) in enumerate(merges, start=1):
        enc = F.replace(enc, F.lit(par), F.lit(chr(t)))
    por_lang = palabra.select("lang", F.length(enc).alias("nt")).groupBy(
        "lang"
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("palabras"),
        F.sum("nt").cast("bigint").alias("simbolos"),
    )
    mejor = (
        por_lang.orderBy(F.expr("simbolos * 1000 div palabras"), "lang")
        .limit(1)
        .select(F.col("simbolos").alias("s_m"), F.col("palabras").alias("p_m"))
    )
    d38 = "decimal(38,0)"
    return por_lang.crossJoin(F.broadcast(mejor)).select(
        "lang",
        "palabras",
        "simbolos",
        F.expr("(1000 * simbolos) div palabras")
        .cast("bigint")
        .alias("fertilidad_milli"),
        F.expr(
            f"(CAST(simbolos AS {d38}) * p_m * 1000)"
            f" div (CAST(palabras AS {d38}) * s_m)"
        )
        .cast("bigint")
        .alias("prima_milli"),
    )


# --------------------------------------------------------------------------
# Inverted-index retrieval — posting intersection + rarity-weighted rank
# --------------------------------------------------------------------------
# The dedup layer consumes posting lists implicitly (shingle joins);
# this is the explicit RETRIEVAL face of the same structure: token →
# sorted doc postings, a conjunctive (AND) query resolved by posting
# intersection, and ranking by integer rarity-weighted term frequency —
# W(t) = floor(1e6 / df(t)), score(d) = Σ tf(d,t)·W(t) — pure integer
# math, so the ranking is engine-identical (a float idf's log would
# not be). Query terms are drawn from the corpus deterministically so
# the query is scale-factor-proof, like the sampling rates.

_BUSQ_TOP = 10

_BUSQ_ORACLE = f"""
WITH tok AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
),
tf AS (
    SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
    FROM tok WHERE token != '' GROUP BY 1, 2
),
df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
-- deterministic 2-term query: the 2 most selective tokens that still
-- appear in at least 5% of docs (rarity with guaranteed recall)
npop AS (SELECT count(*) AS n FROM documents),
consulta AS (
    SELECT token, df FROM df, npop
    WHERE df * 20 >= n
    ORDER BY df, token LIMIT 2
),
candidatos AS (
    SELECT t.doc_id,
           CAST(sum(t.tf * (1000000 // c.df)) AS BIGINT) AS score,
           count(*) AS terminos
    FROM tf t JOIN consulta c USING (token)
    GROUP BY 1
    HAVING count(*) = (SELECT count(*) FROM consulta)
)
SELECT doc_id, score,
       CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS pos
FROM candidatos
ORDER BY pos LIMIT {_BUSQ_TOP}
"""


@register("busqueda_invertida", oracle=_BUSQ_ORACLE, ops=("TX1", "O7", "J8"),
          driver=False)
def busqueda_invertida(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INVERTED-INDEX CONJUNCTIVE SEARCH: build (token → doc, tf)
    postings once, resolve a 2-term AND query by posting intersection
    (a groupBy(doc) with a full-match HAVING — semantically a semi-join
    chain, executed as ONE aggregation over only the query terms'
    postings), and rank by integer rarity weight Σ tf·⌊1e6/df⌋. At
    100 TB the scan cost is the QUERY TERMS' posting lists, not the
    corpus — the structural win of an inverted index — and the final
    top-{_BUSQ_TOP} is a TakeOrdered over candidates. The query derives
    deterministically from the df table (most selective tokens above a
    5% floor) so the entry stays scale-factor-proof."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    ).where(F.col("token") != "")
    tf = tok.groupBy("doc_id", "token").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    df_t = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n = docs.count()  # one scalar, like the ANN policy counts
    consulta = (
        df_t.where(F.col("df") * 20 >= n)
        .orderBy("df", "token")
        .limit(2)
    )
    n_terms = consulta.count()
    cand = (
        tf.join(F.broadcast(consulta), "token")
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("tf") * F.expr("1000000L div df")).cast("bigint")
            .alias("score"),
            F.count(F.lit(1)).alias("terminos"),
        )
        .where(F.col("terminos") == n_terms)
    )
    # TakeOrderedAndProject over the candidates (≈ the corpus for common
    # terms) — never a single-task full sort (VERDICT r11)
    return ranked_topk(
        cand.select("doc_id", "score"), _BUSQ_TOP,
        [F.desc("score"), F.col("doc_id")], "pos",
    ).withColumn("pos", F.col("pos").cast("bigint"))


# --------------------------------------------------------------------------
# BM25 ranked retrieval — integer-exact (log2-quantized idf)
# --------------------------------------------------------------------------
# ROADMAP r5 #8: float BM25 cannot be oracle-checked (ln differs across
# engines at the ulp, and a floor at any scale can flip on it). This is
# BM25 with every float cleared: idf is log2-QUANTIZED — floor(log2) of
# the integer odds ratio, computed by a 32-branch CASE ladder over
# powers of two (pure comparisons, engine-identical) — and the tf
# saturation/length normalization runs in milli-units with floor
# division. The ranking keeps BM25's structure (rare terms dominate,
# tf saturates at k1, long docs discount by b·dl/avgdl); the
# quantization costs idf resolution, not determinism.

_BM25_K1 = 1200   # k1 = 1.2 in milli-units
_BM25_B = 750     # b = 0.75 in milli-units
_BM25_TOP = 10
_BM25_TERMS = 3


def _floor_log2_sql(expr: str) -> str:
    """floor(log2(x)) for integer x ≥ 1 as a CASE ladder — exact in any
    engine (comparisons only)."""
    branches = " ".join(
        f"WHEN {expr} >= {1 << p} THEN {p}" for p in range(31, 0, -1)
    )
    return f"(CASE {branches} ELSE 0 END)"


def bm25_scorer(n: int, avgdl_mili: int) -> tuple[Column, Column]:
    """The engine's integer BM25 as Spark columns — the ONE Spark-side
    definition, shared by the brute queries (busqueda_bm25, the
    retrieval eval, the hybrid lexical rankers) and the stored-index
    serves (operators/lex_index.py). The DuckDB oracles keep their own
    SQL copy as the independent check. Returns (idf_q, score):

    * ``idf_q`` — reads a ``df`` column: floor(log2) of the integer odds
      ratio (n·1000) div (df·1000 + 500), clamped to ≥ 1 before the log;
      aliased ``idf_q``.
    * ``score`` — the aggregate Σ over a group's matched term rows of
      the k1-saturated, b-length-normalized tf (milli-units, floor
      division) × ``idf_q``; reads ``tf``, ``dl`` and ``idf_q``."""
    idf_q = F.expr(
        _floor_log2_sql(f"greatest(1L, ({n}L * 1000) div (df * 1000 + 500))")
    ).cast("bigint").alias("idf_q")
    tf_comp = (
        f"(tf * {_BM25_K1 + 1000}L * 1000) div (tf * 1000 + "
        f"({_BM25_K1} * (1000 - {_BM25_B} + "
        f"(({_BM25_B} * dl * 1000) div {avgdl_mili}L))) div 1000)"
    )
    return idf_q, F.sum(F.expr(f"({tf_comp}) * idf_q")).cast("bigint")


_BM25_ORACLE = f"""
WITH tok AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
),
tf AS (
    SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
    FROM tok WHERE token != '' GROUP BY 1, 2
),
dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
stats AS (
    SELECT (SELECT count(*) FROM documents) AS n,
           (SELECT sum(dl) * 1000 // count(*) FROM dl) AS avgdl_mili
),
df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
consulta AS (
    SELECT token, df FROM df, stats
    WHERE df * 20 >= n
    ORDER BY df, token LIMIT {_BM25_TERMS}
),
pesos AS (
    SELECT c.token,
           {_floor_log2_sql("greatest(1, (s.n * 1000) // (c.df * 1000 + 500))")}
               AS idf_q
    FROM consulta c, stats s
),
puntos AS (
    SELECT t.doc_id,
           CAST(sum(
               ((t.tf * {_BM25_K1 + 1000} * 1000)
                // (t.tf * 1000
                    + ({_BM25_K1} * (1000 - {_BM25_B}
                       + (({_BM25_B} * d.dl * 1000) // s.avgdl_mili)))
                      // 1000))
               * w.idf_q
           ) AS BIGINT) AS score_mili
    FROM tf t
    JOIN pesos w USING (token)
    JOIN dl d USING (doc_id)
    CROSS JOIN stats s
    GROUP BY 1
)
SELECT doc_id, score_mili,
       CAST(row_number() OVER (ORDER BY score_mili DESC, doc_id) AS BIGINT)
           AS pos
FROM puntos
ORDER BY pos LIMIT {_BM25_TOP}
"""


@register("busqueda_bm25", oracle=_BM25_ORACLE, ops=("TX1", "O7", "A3"),
          driver=False)
def busqueda_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 RANKED RETRIEVAL, integer-exact: disjunctive {_BM25_TERMS}-term
    query (deterministically the most selective tokens above the 5%
    floor), scored with BM25's full structure — log2-quantized idf (a
    32-branch CASE ladder over the integer odds ratio; pure comparisons,
    so Spark and DuckDB agree where ln would drift), k1=1.2 tf
    saturation and b=0.75 length normalization in milli-units with
    floor division. Candidates and cost are the query terms' posting
    lists (the inverted-index contract of `busqueda_invertida`); doc
    length and the global avgdl are one aggregate each. Top-{_BM25_TOP}
    by (score, doc_id)."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    ).where(F.col("token") != "")
    tf = tok.groupBy("doc_id", "token").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    dl = tf.groupBy("doc_id").agg(F.sum("tf").cast("bigint").alias("dl"))
    n = docs.count()
    avgdl_mili = int(
        dl.agg(F.expr("sum(dl) * 1000 div count(1)")).first()[0] or 1
    )
    df_t = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    consulta = (
        df_t.where(F.col("df") * 20 >= n).orderBy("df", "token")
        .limit(_BM25_TERMS)
    )
    idf_q, score = bm25_scorer(n, avgdl_mili)
    pesos = consulta.select("token", idf_q)
    puntos = (
        tf.join(F.broadcast(pesos), "token")
        .join(dl, "doc_id")
        .groupBy("doc_id")
        .agg(score.alias("score_mili"))
    )
    # TakeOrderedAndProject over the scored candidates — never a
    # single-task full sort (VERDICT r11)
    return ranked_topk(
        puntos.select("doc_id", "score_mili"), _BM25_TOP,
        [F.desc("score_mili"), F.col("doc_id")], "pos",
    ).withColumn("pos", F.col("pos").cast("bigint"))


# --------------------------------------------------------------------------
# Retrieval evaluation — MRR / overlap@k between the two rankers
# --------------------------------------------------------------------------
# The missing piece of the retrieval family: a metric harness. The
# SYSTEM under test is the BM25 ranker; the GOLD standard is the exact
# rarity-weighted ranking (busqueda_invertida's Σ tf·⌊1e6/df⌋) over the
# SAME disjunctive query — the eval-loop shape (judged ranking vs
# system ranking → RR / overlap@k) is the operator; the synthetic gold
# stands in for human judgments. All metrics integer-exact: RR in
# milli (1000 // rank, 0 beyond the cutoff), overlap as set counts.

_EVAL_KS = (1, 3, 5, 10)

# Shared CTE chain: BM25 system ranking + exact rarity-weighted gold
# ranking over the same disjunctive query (both truncated to top-10).
# evaluacion_recuperacion consumes it for metrics; fusion_rrf for rank
# fusion — one definition, two read-outs.
_RANKINGS_CTES = f"""tok AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
),
tf AS (
    SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
    FROM tok WHERE token != '' GROUP BY 1, 2
),
dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
stats AS (
    SELECT (SELECT count(*) FROM documents) AS n,
           (SELECT sum(dl) * 1000 // count(*) FROM dl) AS avgdl_mili
),
df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
consulta AS (
    SELECT token, df FROM df, stats
    WHERE df * 20 >= n
    ORDER BY df, token LIMIT {_BM25_TERMS}
),
pesos AS (
    SELECT c.token, c.df,
           {_floor_log2_sql("greatest(1, (s.n * 1000) // (c.df * 1000 + 500))")}
               AS idf_q
    FROM consulta c, stats s
),
puntos AS (
    SELECT t.doc_id,
           CAST(sum(
               ((t.tf * {_BM25_K1 + 1000} * 1000)
                // (t.tf * 1000
                    + ({_BM25_K1} * (1000 - {_BM25_B}
                       + (({_BM25_B} * d.dl * 1000) // s.avgdl_mili)))
                      // 1000))
               * w.idf_q
           ) AS BIGINT) AS score_mili,
           CAST(sum(t.tf * (1000000 // w.df)) AS BIGINT) AS score_ex
    FROM tf t
    JOIN pesos w USING (token)
    JOIN dl d USING (doc_id)
    CROSS JOIN stats s
    GROUP BY 1
),
sistema AS (
    SELECT doc_id, pos_sys FROM (
        SELECT doc_id,
               row_number() OVER (ORDER BY score_mili DESC, doc_id) AS pos_sys
        FROM puntos) WHERE pos_sys <= {_BM25_TOP}
),
oro AS (
    SELECT doc_id, pos_oro FROM (
        SELECT doc_id,
               row_number() OVER (ORDER BY score_ex DESC, doc_id) AS pos_oro
        FROM puntos) WHERE pos_oro <= {_BM25_TOP}
)"""

_EVAL_ORACLE = f"""
WITH {_RANKINGS_CTES},
pares AS (
    SELECT o.pos_oro, s.pos_sys FROM oro o JOIN sistema s USING (doc_id)
),
rr AS (
    SELECT CAST(coalesce(max(CASE WHEN pos_oro = 1
                                  THEN 1000 // pos_sys END), 0) AS BIGINT)
               AS rr_milli
    FROM pares
),
ks(k) AS (VALUES (1), (3), (5), (10))
SELECT CAST(ks.k AS BIGINT) AS k,
       CAST(coalesce(sum(CASE WHEN p.pos_oro <= ks.k AND p.pos_sys <= ks.k
                              THEN 1 ELSE 0 END), 0) AS BIGINT) AS solape,
       (SELECT rr_milli FROM rr) AS rr_milli
FROM ks LEFT JOIN pares p ON TRUE
GROUP BY ks.k
"""


def _rankings_retrieval(spark: SparkSession, sf_dir: str):
    """The shared two-ranker build (Spark twin of _RANKINGS_CTES):
    BM25 system ranking and exact rarity-weighted gold ranking over the
    same disjunctive query, both from ONE pass over the query terms'
    posting lists, both truncated to top-{_BM25_TOP}. Returns
    (sistema[doc_id, pos_sys], oro[doc_id, pos_oro])."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    ).where(F.col("token") != "")
    # tf feeds FOUR consumers (dl, the df/consulta term pick, and the
    # scored frame), dl feeds two (the avgdl scalar + the scored join),
    # and puntos feeds both rankings — without checkpoints every
    # consumer re-executes the tokenize+groupBy lineage (the r14 plan:
    # 24 documents scans / 66 Exchanges for one logical pass; guide
    # §2.4 — the grafo_triangulos backbone discipline)
    tf = tok.groupBy("doc_id", "token").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    ).localCheckpoint(eager=False)
    dl = tf.groupBy("doc_id").agg(
        F.sum("tf").cast("bigint").alias("dl")
    ).localCheckpoint(eager=False)
    n = docs.count()
    avgdl_mili = int(
        dl.agg(F.expr("sum(dl) * 1000 div count(1)")).first()[0] or 1
    )
    df_t = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    consulta = (
        df_t.where(F.col("df") * 20 >= n).orderBy("df", "token")
        .limit(_BM25_TERMS)
    )
    idf_q, score = bm25_scorer(n, avgdl_mili)
    pesos = consulta.select("token", "df", idf_q)
    puntos = (
        tf.join(F.broadcast(pesos), "token")
        .join(dl, "doc_id")
        .groupBy("doc_id")
        .agg(
            score.alias("score_mili"),
            F.sum(F.expr("tf * (1000000L div df)")).cast("bigint")
            .alias("score_ex"),
        )
        .localCheckpoint(eager=False)
    )
    # each ranking is a TakeOrderedAndProject over the shared scored
    # frame — never a single-task full sort (VERDICT r11)
    sistema = ranked_topk(
        puntos, _BM25_TOP, [F.desc("score_mili"), F.col("doc_id")], "pos_sys"
    ).select("doc_id", "pos_sys")
    oro = ranked_topk(
        puntos, _BM25_TOP, [F.desc("score_ex"), F.col("doc_id")], "pos_oro"
    ).select("doc_id", "pos_oro")
    return sistema, oro


@register("evaluacion_recuperacion", oracle=_EVAL_ORACLE,
          ops=("O7", "A8", "J11"), driver=False, bench=True)
def evaluacion_recuperacion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RETRIEVAL EVALUATION harness — reciprocal rank and overlap@k of
    the BM25 ranker against the exact rarity-weighted gold over the
    same query, both computed from ONE pass over the query terms'
    posting lists (the two scores share the tf⋈pesos⋈dl join, so the
    eval costs one extra aggregate column, not a second retrieval).
    Output per k ∈ {1,3,5,10}: |gold_top_k ∩ system_top_k| and the
    milli reciprocal rank of the gold #1 in the system list (0 when
    outside the cutoff). Both rankings truncate to the top-10 BEFORE
    the metric join, so the metric stage is constant-sized at any
    corpus scale."""
    sistema, oro = _rankings_retrieval(spark, sf_dir)
    pares = oro.join(sistema, "doc_id").select("pos_oro", "pos_sys")
    rr = pares.agg(
        F.coalesce(
            F.max(
                F.when(F.col("pos_oro") == 1, F.expr("1000 div pos_sys"))
            ),
            F.lit(0),
        ).cast("bigint").alias("rr_milli")
    )
    ks = local_df(spark, [(k,) for k in _EVAL_KS], "k BIGINT")
    solape = (
        ks.join(
            F.broadcast(pares),
            F.expr("pos_oro <= k AND pos_sys <= k"),
            "left",
        )
        .groupBy("k")
        .agg(
            F.sum(
                F.when(F.col("pos_oro").isNotNull(), 1).otherwise(0)
            ).cast("bigint").alias("solape")
        )
    )
    return solape.crossJoin(F.broadcast(rr)).select("k", "solape", "rr_milli")


# --------------------------------------------------------------------------
# Corpus datasheet — the one-row release summary
# --------------------------------------------------------------------------

_RESUMEN_ORACLE = """
WITH toks AS (
    SELECT doc_id, len(string_split(text, ' ')) AS nt FROM documents
),
dups AS (
    SELECT CAST(sum(n - 1) AS BIGINT) AS copias_exactas
    FROM (SELECT count(*) AS n FROM documents GROUP BY md5(text))
)
SELECT CAST((SELECT count(*) FROM documents) AS BIGINT) AS docs,
       CAST((SELECT sum(nt) FROM toks) AS BIGINT) AS tokens,
       CAST((SELECT count(DISTINCT lang) FROM documents) AS BIGINT)
           AS idiomas,
       CAST((SELECT count(DISTINCT source) FROM documents) AS BIGINT)
           AS fuentes,
       CAST((SELECT min(nt) FROM toks) AS BIGINT) AS tokens_min,
       CAST((SELECT max(nt) FROM toks) AS BIGINT) AS tokens_max,
       CAST(CASE WHEN (SELECT count(*) FROM documents) > 0 THEN
            (SELECT sum(nt) FROM toks)
            // (SELECT count(*) FROM documents) END AS BIGINT)
           AS tokens_prom,
       (SELECT copias_exactas FROM dups) AS copias_exactas,
       CAST(CASE WHEN (SELECT count(*) FROM documents) > 0 THEN
            1000 * (SELECT copias_exactas FROM dups)
            // (SELECT count(*) FROM documents) END AS BIGINT)
           AS tasa_dup_mili
"""


@register("resumen_corpus", oracle=_RESUMEN_ORACLE, ops=("A6", "A2", "A1"),
          driver=False)
def resumen_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE CORPUS DATASHEET ROW — the one-line summary a dataset
    release publishes (Gebru et al. 2021, 'Datasheets for Datasets',
    arXiv:1803.09010: composition, size, and known redundancy belong on
    the tin): document and token counts, language and source breadth,
    token-length extremes and floor-mean, and the exact-duplicate
    surplus (copies beyond each md5 family's first) with its floor-milli
    rate. Every deeper audit in this registry drills into one of these
    cells — this row is the table of contents.

    Shape: ONE scan computes the token counts and the md5 families
    (two map-side-combinable aggregations over the same pass at the
    optimizer's discretion); everything else is scalar algebra on the
    resulting 1-row frames, broadcast by construction."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "lang", "source", F.size(F.split("text", " ")).alias("nt"),
        F.md5("text").alias("huella"),
    )
    base = toks.agg(
        F.count(F.lit(1)).cast("bigint").alias("docs"),
        F.sum("nt").cast("bigint").alias("tokens"),
        F.countDistinct("lang").cast("bigint").alias("idiomas"),
        F.countDistinct("source").cast("bigint").alias("fuentes"),
        F.min("nt").cast("bigint").alias("tokens_min"),
        F.max("nt").cast("bigint").alias("tokens_max"),
    )
    dups = (
        toks.groupBy("huella")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.sum(F.col("n") - 1).cast("bigint").alias("copias_exactas"))
    )
    return base.crossJoin(F.broadcast(dups)).select(
        "docs",
        "tokens",
        "idiomas",
        "fuentes",
        "tokens_min",
        "tokens_max",
        # docs = 0 (empty corpus) must yield NULL means/rates, not an
        # ANSI divide-by-zero — the t_cercania m=1 lesson applied early
        F.expr("CASE WHEN docs > 0 THEN tokens div docs END")
        .cast("bigint")
        .alias("tokens_prom"),
        "copias_exactas",
        F.expr("CASE WHEN docs > 0 THEN (1000 * copias_exactas) div docs END")
        .cast("bigint")
        .alias("tasa_dup_mili"),
    )


# --------------------------------------------------------------------------
# Rank agreement — Spearman over the two retrieval rankings
# --------------------------------------------------------------------------

_SPEARMAN_ORACLE = f"""
WITH {_RANKINGS_CTES},
comunes AS (
    SELECT s.pos_sys, o.pos_oro,
           CAST((s.pos_sys - o.pos_oro) * (s.pos_sys - o.pos_oro) AS BIGINT)
               AS d2
    FROM sistema s JOIN oro o USING (doc_id)
)
SELECT CAST(count(*) AS BIGINT) AS n_comunes,
       CAST(coalesce(sum(d2), 0) AS BIGINT) AS suma_d2,
       CAST(CASE WHEN count(*) >= 2 THEN
            (1000 * (count(*) * (count(*) * count(*) - 1)
                     - 6 * coalesce(sum(d2), 0)))
            // (count(*) * (count(*) * count(*) - 1))
            END AS BIGINT) AS rho_mili
FROM comunes
"""


@register("correlacion_rangos", oracle=_SPEARMAN_ORACLE,
          ops=("O7", "A6", "W1"), driver=False)
def correlacion_rangos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPEARMAN RANK AGREEMENT between the two retrieval rankings the
    eval harness builds (BM25 system vs exact rarity gold) — the
    modality-agreement scalar that tells a hybrid-search owner whether
    fusion is even worth running: ρ near 1 means the rankers are
    redundant (fusion adds latency, not recall), low or negative ρ
    means they disagree and RRF has something to combine. Computed over
    the documents BOTH top-10s contain with the exact rational formula
    ρ = 1 − 6·Σd²/(n(n²−1)), floor-milli'd from pure integers (Σd² and
    n are counts — no float enters until never); n < 2 yields NULL
    rather than a fabricated coefficient. On ties this is Spearman
    over the rankers' own deterministic tie-broken positions — the
    positions a consumer actually sees.

    Shape: both rankings are top-10 truncated before the join, so the
    agreement stage is O(top-k) rows and one scalar aggregate at any
    corpus size; the cost is the shared posting pass, paid once."""
    sistema, oro = _rankings_retrieval(spark, sf_dir)
    comunes = sistema.join(oro, "doc_id").select(
        (
            (F.col("pos_sys") - F.col("pos_oro"))
            * (F.col("pos_sys") - F.col("pos_oro"))
        ).cast("long").alias("d2")
    )
    return comunes.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_comunes"),
        F.coalesce(F.sum("d2"), F.lit(0)).cast("bigint").alias("suma_d2"),
        F.expr(
            "CAST(CASE WHEN count(1) >= 2 THEN"
            " (1000 * (count(1) * (count(1) * count(1) - 1)"
            " - 6 * coalesce(sum(d2), 0)))"
            " div (count(1) * (count(1) * count(1) - 1))"
            " END AS BIGINT)"
        ).alias("rho_mili"),
    )


# --------------------------------------------------------------------------
# Reciprocal rank fusion — combine the two retrieval rankings
# --------------------------------------------------------------------------

_RRF_K = 60  # the canonical constant from Cormack et al. 2009
_RRF_SCALE = 1_000_000

_RRF_ORACLE = f"""
WITH {_RANKINGS_CTES},
fusion AS (
    SELECT COALESCE(s.doc_id, o.doc_id) AS doc_id,
           COALESCE({_RRF_SCALE} // ({_RRF_K} + s.pos_sys), 0)
           + COALESCE({_RRF_SCALE} // ({_RRF_K} + o.pos_oro), 0) AS rrf,
           s.pos_sys, o.pos_oro
    FROM sistema s FULL OUTER JOIN oro o ON s.doc_id = o.doc_id
)
SELECT doc_id, rrf_micro, pos_fusion, pos_sys, pos_oro FROM (
    SELECT doc_id, CAST(rrf AS BIGINT) AS rrf_micro,
           CAST(row_number() OVER (ORDER BY rrf DESC, doc_id) AS BIGINT)
               AS pos_fusion,
           CAST(pos_sys AS BIGINT) AS pos_sys,
           CAST(pos_oro AS BIGINT) AS pos_oro
    FROM fusion
) WHERE pos_fusion <= {_BM25_TOP}
"""


@register("fusion_rrf", oracle=_RRF_ORACLE, ops=("O7", "J11", "W1"), driver=True)
def fusion_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RECIPROCAL RANK FUSION (Cormack, Clarke & Büttcher, SIGIR 2009)
    of the two retrieval rankings the eval harness already builds —
    the standard hybrid-search combiner (lexical BM25 + a second
    ranker) that needs only RANKS, never score calibration:
    rrf(d) = Σ_rankers 1/(K + rank_r(d)), K = 60. Computed in exact
    integers as floor({_RRF_SCALE}/(K + rank)) per ranker (absent from
    a ranker's top-{_BM25_TOP} contributes 0), so the fused ordering is
    engine-reproducible. Output: the fused top-{_BM25_TOP} with each
    doc's per-ranker positions for provenance — NULL where one ranker
    missed a doc the other surfaced, exactly the docs fusion exists to
    rescue.

    Scale shape: both input rankings are already top-{_BM25_TOP}
    truncated (constant-sized), so the fusion join, scoring, and final
    window all run on O(top-k) rows regardless of corpus size — the
    expensive part is the shared posting-list pass, paid once in
    `_rankings_retrieval`."""
    sistema, oro = _rankings_retrieval(spark, sf_dir)
    fusion = sistema.join(oro, "doc_id", "full_outer").select(
        "doc_id",
        (
            F.coalesce(
                F.expr(f"{_RRF_SCALE} div ({_RRF_K} + pos_sys)"), F.lit(0)
            )
            + F.coalesce(
                F.expr(f"{_RRF_SCALE} div ({_RRF_K} + pos_oro)"), F.lit(0)
            )
        ).alias("rrf"),
        "pos_sys",
        "pos_oro",
    )
    w = Window.orderBy(F.desc("rrf"), "doc_id")
    return (
        fusion.withColumn("pos_fusion", F.row_number().over(w))
        .where(F.col("pos_fusion") <= _BM25_TOP)
        .select(
            "doc_id",
            F.col("rrf").cast("bigint").alias("rrf_micro"),
            F.col("pos_fusion").cast("bigint").alias("pos_fusion"),
            F.col("pos_sys").cast("bigint").alias("pos_sys"),
            F.col("pos_oro").cast("bigint").alias("pos_oro"),
        )
    )


# --------------------------------------------------------------------------
# Global deterministic shuffle — reproducible training-shard assignment
# --------------------------------------------------------------------------

_BARAJADO_S = 16  # training shards

_BARAJADO_ORACLE = f"""
WITH h AS (
    SELECT doc_id, source,
           len(string_split(text, ' ')) AS toks,
           {_hex_hash_sql("CAST(doc_id AS VARCHAR)")} AS hh
    FROM documents
),
ordenado AS (
    SELECT hh % {_BARAJADO_S} AS shard, source, toks, hh,
           row_number() OVER (PARTITION BY hh % {_BARAJADO_S} ORDER BY hh)
               AS pos
    FROM h
)
SELECT CAST(shard AS INT) AS shard,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(toks) AS BIGINT) AS tokens,
       CAST(count(DISTINCT source) AS BIGINT) AS n_fuentes,
       CAST(sum((hh % 1000003) * pos) AS BIGINT) AS huella_orden
FROM ordenado
GROUP BY 1
"""


@register("barajado_global", oracle=_BARAJADO_ORACLE, ops=("A1", "W1"),
          driver=False)
def barajado_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GLOBAL DETERMINISTIC SHUFFLE into training shards — the
    reproducibility primitive a training run needs: shard =
    md5(doc_id) mod S and within-shard order = ascending hash define a
    pseudorandom permutation of the corpus that is identical across
    engines, runs, cluster sizes, and restarts (no RNG state, no
    ``rand()`` whose draw depends on partitioning). The emitted audit
    proves all three properties the trainer cares about: shard BALANCE
    (n_docs/tokens per shard ≈ corpus/S by hash uniformity), source
    INTERLEAVING (n_fuentes per shard), and the exact within-shard
    ORDER via a position-weighted hash fingerprint (huella_orden —
    any transposition of two docs changes it, so the oracle pins the
    permutation itself, not just membership).

    Shape: one hash-keyed shuffle (the very repartition the physical
    write would do: ``repartition(S, shard).sortWithinPartitions(h)``),
    window at shard grain. At 100 TB: S scales with the target file
    count; hash uniformity bounds every shard within ±O(√(n/S)) of the
    mean, so no shard becomes a straggler."""
    docs = load_table(spark, sf_dir, "documents")
    h = docs.select(
        "doc_id",
        "source",
        F.size(F.split("text", " ")).alias("toks"),
        hex_hash(F.col("doc_id").cast("string")).alias("hh"),
    )
    ordenado = h.select(
        (F.col("hh") % _BARAJADO_S).alias("shard"),
        "source",
        "toks",
        "hh",
        F.row_number()
        .over(Window.partitionBy(F.col("hh") % _BARAJADO_S).orderBy("hh"))
        .alias("pos"),
    )
    return ordenado.groupBy(F.col("shard").cast("int").alias("shard")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("toks").cast("bigint").alias("tokens"),
        F.countDistinct("source").cast("bigint").alias("n_fuentes"),
        F.sum((F.col("hh") % 1000003) * F.col("pos"))
        .cast("bigint")
        .alias("huella_orden"),
    )


# --------------------------------------------------------------------------
# Vocabulary coverage — Good-Turing unseen mass + Chao1 richness
# --------------------------------------------------------------------------

_COBERTURA_ORACLE = """
WITH tokens AS (
    SELECT lang, t.tok
    FROM (SELECT lang, string_split(text, ' ') AS ws FROM documents) d,
         LATERAL unnest(d.ws) AS t(tok)
    WHERE t.tok != ''
),
frecuencia AS (
    SELECT lang, tok, count(*) AS f FROM tokens GROUP BY 1, 2
)
SELECT lang,
       CAST(sum(f) AS BIGINT) AS tokens,
       CAST(count(*) AS BIGINT) AS vocabulario,
       CAST(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
       CAST(sum(CASE WHEN f = 2 THEN 1 ELSE 0 END) AS BIGINT) AS dis,
       CAST((1000 * sum(CASE WHEN f = 1 THEN 1 ELSE 0 END)) // sum(f)
            AS BIGINT) AS masa_no_vista_mili,
       CAST(count(*)
            + CASE WHEN sum(CASE WHEN f = 2 THEN 1 ELSE 0 END) > 0
                   THEN (sum(CASE WHEN f = 1 THEN 1 ELSE 0 END)
                         * sum(CASE WHEN f = 1 THEN 1 ELSE 0 END))
                        // (2 * sum(CASE WHEN f = 2 THEN 1 ELSE 0 END))
                   ELSE 0 END AS BIGINT) AS chao1
FROM frecuencia
GROUP BY 1
"""


@register("cobertura_vocabulario", oracle=_COBERTURA_ORACLE,
          ops=("TX1", "A3"), driver=False)
def cobertura_vocabulario(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VOCABULARY COVERAGE per language — the corpus-planning estimates
    behind 'is more data still buying new vocabulary': Good-Turing
    unseen mass P₀ = n₁/N (the probability the NEXT token is a type
    never seen, floor-milli) and the Chao1 richness floor
    V + n₁²/(2n₂) — both pure integer ratios of hapax/dis-legomena
    counts, the rare case where the statistically principled estimator
    needs no transcendental functions at all. A falling masa_no_vista
    across ingest waves says the source is saturating; chao1 >> V says
    keep crawling.

    Shape: one token explode + one (lang, token) aggregation — the
    frequency table IS the classic unigram LM build
    (perplejidad_unigrama's first stage) — then a languages-sized
    roll-up of conditional counts."""
    docs = load_table(spark, sf_dir, "documents")
    tokens = docs.select(
        "lang", F.explode(F.split("text", " ")).alias("tok")
    ).where(F.col("tok") != "")
    frecuencia = tokens.groupBy("lang", "tok").agg(
        F.count(F.lit(1)).alias("f")
    )
    hapax = F.sum(F.when(F.col("f") == 1, 1).otherwise(0))
    dis = F.sum(F.when(F.col("f") == 2, 1).otherwise(0))
    return frecuencia.groupBy("lang").agg(
        F.sum("f").cast("bigint").alias("tokens"),
        F.count(F.lit(1)).cast("bigint").alias("vocabulario"),
        hapax.cast("bigint").alias("hapax"),
        dis.cast("bigint").alias("dis"),
        F.expr(
            "CAST((1000 * sum(CASE WHEN f = 1 THEN 1 ELSE 0 END)) div sum(f)"
            " AS BIGINT)"
        ).alias("masa_no_vista_mili"),
        F.expr(
            "CAST(count(*) + CASE WHEN sum(CASE WHEN f = 2 THEN 1 ELSE 0 END) > 0"
            " THEN (sum(CASE WHEN f = 1 THEN 1 ELSE 0 END)"
            "       * sum(CASE WHEN f = 1 THEN 1 ELSE 0 END))"
            "      div (2 * sum(CASE WHEN f = 2 THEN 1 ELSE 0 END))"
            " ELSE 0 END AS BIGINT)"
        ).alias("chao1"),
    )


# --------------------------------------------------------------------------
# Distinctive terms — per-source lift (what makes this source different)
# --------------------------------------------------------------------------

_CARACTERISTICOS_TOP = 3
_CARACTERISTICOS_MIN_F = 3

_CARACTERISTICOS_ORACLE = f"""
WITH tokens AS (
    SELECT d.source, t.tok
    FROM (SELECT source, string_split(text, ' ') AS ws FROM documents) d,
         LATERAL unnest(d.ws) AS t(tok)
    WHERE t.tok != ''
),
tf AS (SELECT source, tok, count(*) AS f FROM tokens GROUP BY 1, 2),
tot_fuente AS (SELECT source, sum(f) AS nf FROM tf GROUP BY 1),
tf_corpus AS (SELECT tok, sum(f) AS fc FROM tf GROUP BY 1),
tot AS (SELECT sum(f) AS n FROM tf),
lift AS (
    SELECT t.source, t.tok, t.f,
           (t.f * (SELECT n FROM tot) * 1000)
               // (c.fc * s.nf) AS lift_mili
    FROM tf t
    JOIN tf_corpus c USING (tok)
    JOIN tot_fuente s USING (source)
    WHERE t.f >= {_CARACTERISTICOS_MIN_F}
)
SELECT source, tok, CAST(f AS BIGINT) AS f,
       CAST(lift_mili AS BIGINT) AS lift_mili,
       CAST(rn AS BIGINT) AS rango
FROM (
    SELECT source, tok, f, lift_mili,
           row_number() OVER (PARTITION BY source
                              ORDER BY lift_mili DESC, tok) AS rn
    FROM lift
) WHERE rn <= {_CARACTERISTICOS_TOP}
"""


@register("ngramas_caracteristicos", oracle=_CARACTERISTICOS_ORACLE,
          ops=("TX1", "A3", "O7"), driver=False)
def ngramas_caracteristicos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCTIVE TERMS per source — the interpretability readout
    "what makes this source different from the corpus" (the text-side
    sibling of ``temas_centroides``' cluster labels): per-source lift
    = P(tok|source)/P(tok) cleared to integers as
    (f·N·1000) // (f_corpus·n_source) — the same rarity-weighting idea
    as PMI but reported as a per-source TOP-3
    (ties on token), with a minimum in-source frequency of
    3 so one-off noise can't top the list. The
    table a datasheet shows next to the source mix: a crawl whose top
    lift terms are boilerplate artifacts is mislabeled. Shape: one
    token explode, one (source, token) aggregation, two small
    dimension joins (per-token corpus counts — vocab-sized — and
    per-source totals — sources-sized), one per-source top-k window.
    All integer; a single global-scalar cross join."""
    docs = load_table(spark, sf_dir, "documents")
    tokens = docs.select(
        "source", F.explode(F.split("text", " ")).alias("tok")
    ).where(F.col("tok") != "")
    tf = tokens.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("f"))
    tot_fuente = tf.groupBy("source").agg(F.sum("f").alias("nf"))
    tf_corpus = tf.groupBy("tok").agg(F.sum("f").alias("fc"))
    tot = tf.agg(F.sum("f").alias("n"))
    lift = (
        tf.where(F.col("f") >= _CARACTERISTICOS_MIN_F)
        .join(tf_corpus, "tok")
        .join(F.broadcast(tot_fuente), "source")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "tok",
            "f",
            F.expr("(f * n * 1000) div (fc * nf)").alias("lift_mili"),
        )
    )
    w = Window.partitionBy("source").orderBy(
        F.col("lift_mili").desc(), F.col("tok")
    )
    return (
        lift.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _CARACTERISTICOS_TOP)
        .select(
            "source",
            "tok",
            F.col("f").cast("bigint").alias("f"),
            F.col("lift_mili").cast("bigint").alias("lift_mili"),
            F.col("rn").cast("bigint").alias("rango"),
        )
    )


# --------------------------------------------------------------------------
# Length-bucketed batching — padding waste per log2 band
# --------------------------------------------------------------------------


def _buckets_oracle() -> str:
    from etl_python_airflow_bigquery_spark.functions import _log2_ladder

    return f"""
WITH d AS (
    SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n FROM documents
),
tope AS (SELECT CAST(max(n) AS BIGINT) AS nmax FROM d),
bandas AS (
    SELECT CAST({_log2_ladder("n")} AS INT) AS banda, n FROM d
)
SELECT b.banda,
       CAST(count(*) AS BIGINT) AS docs,
       CAST(sum(b.n) AS BIGINT) AS tokens,
       CAST(sum((CAST(1 AS BIGINT) << (b.banda + 1)) - 1 - b.n) AS BIGINT)
           AS relleno_banda,
       CAST(sum(t.nmax - b.n) AS BIGINT) AS relleno_sin_bandas
FROM bandas b CROSS JOIN tope t
GROUP BY 1"""


@register("bucketizacion_longitud", ops=("TX1", "A1", "A6"), driver=False)
def bucketizacion_longitud(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LENGTH-BUCKETED BATCHING audit — the dynamic-padding design
    table (`longitud_contexto` prices TRUNCATION against a max_len
    grid; this prices PADDING against a bucket scheme): docs bucket by
    floor-log2(token length), each bucket pads to its band cap
    2^{{b+1}}−1, and the per-band padding cost is compared against the
    single-bucket baseline (pad everything to the corpus max — what a
    naive fixed-shape batcher pays). The gap between relleno_sin_bandas
    and relleno_banda, summed over bands, is exactly the compute a
    bucketed batcher saves; power-of-two caps are what static-shape
    compilers (XLA-style) want anyway. Integer-exact: the
    pure-comparison ladder bands, shifts for the caps, one global max
    broadcast back by cross join (1 row). One scan + a bands-sized
    roll-up."""
    from etl_python_airflow_bigquery_spark.functions import _log2_ladder

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(F.size(F.split("text", " ")).cast("long").alias("n"))
    tope = d.agg(F.max("n").cast("long").alias("nmax"))
    bandas = d.select(F.expr(_log2_ladder("n")).cast("int").alias("banda"), "n")
    return (
        bandas.crossJoin(F.broadcast(tope))
        .groupBy("banda")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("docs"),
            F.sum("n").cast("bigint").alias("tokens"),
            F.sum(
                F.expr("(shiftleft(CAST(1 AS BIGINT), banda + 1)) - 1 - n")
            )
            .cast("bigint")
            .alias("relleno_banda"),
            F.sum(F.col("nmax") - F.col("n"))
            .cast("bigint")
            .alias("relleno_sin_bandas"),
        )
    )


from etl_python_airflow_bigquery_spark.queries import REGISTRY as _REGISTRY_B  # noqa: E402

_REGISTRY_B["bucketizacion_longitud"].oracle = _buckets_oracle()


# --------------------------------------------------------------------------
# Weak supervision — labeling-function votes, coverage and conflict
# --------------------------------------------------------------------------

_DEBIL_ORACLE = """
WITH votos AS (
    SELECT doc_id, source,
           CASE WHEN len(string_split(text, ' ')) >= 40 THEN 1 END AS lf_longitud,
           CASE WHEN len(text) - len(regexp_replace(text, '[0-9]', '', 'g'))
                     > len(text) // 10 THEN -1 END AS lf_digitos,
           CASE WHEN lang IN ('en', 'es') THEN 1
                WHEN lang = 'unknown' THEN -1 END AS lf_idioma
    FROM documents
),
decision AS (
    SELECT source,
           coalesce(lf_longitud, 0) + coalesce(lf_digitos, 0)
               + coalesce(lf_idioma, 0) AS suma,
           CASE WHEN lf_longitud IS NULL AND lf_digitos IS NULL
                     AND lf_idioma IS NULL THEN 1 ELSE 0 END AS abstuvo,
           CASE WHEN greatest(coalesce(lf_longitud, 0),
                              coalesce(lf_idioma, 0)) = 1
                     AND least(coalesce(lf_digitos, 0),
                               coalesce(lf_idioma, 0)) = -1
                THEN 1 ELSE 0 END AS conflicto
    FROM votos
)
SELECT source,
       CAST(count(*) AS BIGINT) AS docs,
       CAST(sum(CASE WHEN suma > 0 THEN 1 ELSE 0 END) AS BIGINT) AS alto,
       CAST(sum(CASE WHEN suma < 0 THEN 1 ELSE 0 END) AS BIGINT) AS bajo,
       CAST(sum(CASE WHEN suma = 0 THEN 1 ELSE 0 END) AS BIGINT) AS sin_etiqueta,
       CAST(sum(abstuvo) AS BIGINT) AS abstenciones,
       CAST(sum(conflicto) AS BIGINT) AS conflictos,
       CAST((1000 * (count(*) - sum(abstuvo))) // count(*) AS BIGINT)
           AS cobertura_mili,
       CAST((1000 * sum(conflicto)) // count(*) AS BIGINT) AS conflicto_mili
FROM decision
GROUP BY 1
"""


def votos_debiles(docs: DataFrame) -> DataFrame:
    """The labeling-function VOTE projection (doc grain: source, suma,
    abstuvo, conflicto) — pure column expressions with no aggregation,
    so the SAME definition runs in batch (etiquetado_debil) and
    stateless in-stream (streaming_etiquetado_debil), the gopher_flags
    batch/stream factoring applied to weak supervision."""
    digitos = F.length("text") - F.length(
        F.regexp_replace(F.col("text"), F.lit("[0-9]"), F.lit(""))
    )
    votos = docs.select(
        "doc_id",
        "source",
        F.when(F.size(F.split("text", " ")) >= 40, 1).alias("lf_longitud"),
        F.when(digitos > F.expr("length(text) div 10"), -1).alias("lf_digitos"),
        F.when(F.col("lang").isin("en", "es"), 1)
        .when(F.col("lang") == "unknown", -1)
        .alias("lf_idioma"),
    )
    suma = (
        F.coalesce("lf_longitud", F.lit(0))
        + F.coalesce("lf_digitos", F.lit(0))
        + F.coalesce("lf_idioma", F.lit(0))
    )
    abstuvo = F.when(
        F.col("lf_longitud").isNull()
        & F.col("lf_digitos").isNull()
        & F.col("lf_idioma").isNull(),
        1,
    ).otherwise(0)
    pos = F.greatest(
        F.coalesce("lf_longitud", F.lit(0)), F.coalesce("lf_idioma", F.lit(0))
    )
    neg = F.least(
        F.coalesce("lf_digitos", F.lit(0)), F.coalesce("lf_idioma", F.lit(0))
    )
    conflicto = F.when((pos == 1) & (neg == -1), 1).otherwise(0)
    return votos.select(
        "doc_id",
        "source",
        suma.alias("suma"),
        abstuvo.alias("abstuvo"),
        conflicto.alias("conflicto"),
    )


def _rollup_debil(d: DataFrame) -> DataFrame:
    return d.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("docs"),
        F.sum(F.when(F.col("suma") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("alto"),
        F.sum(F.when(F.col("suma") < 0, 1).otherwise(0))
        .cast("bigint")
        .alias("bajo"),
        F.sum(F.when(F.col("suma") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("sin_etiqueta"),
        F.sum("abstuvo").cast("bigint").alias("abstenciones"),
        F.sum("conflicto").cast("bigint").alias("conflictos"),
        F.expr(
            "CAST((1000 * (count(*) - sum(abstuvo))) div count(*) AS BIGINT)"
        ).alias("cobertura_mili"),
        F.expr("CAST((1000 * sum(conflicto)) div count(*) AS BIGINT)").alias(
            "conflicto_mili"
        ),
    )


@register("etiquetado_debil", oracle=_DEBIL_ORACLE, ops=("TX2", "A8"),
          driver=False)
def etiquetado_debil(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEAK SUPERVISION vote audit (the Snorkel/labeling-function
    pattern, Ratner et al. 2017, arXiv:1711.10160): three deterministic
    labeling functions — length ≥ 40 tokens votes QUALITY(+1),
    digit mass > 10% of chars votes NOISE(−1), language votes either
    way — each allowed to ABSTAIN (NULL); a doc's label is the vote
    sum's sign. The audit a weak-label pipeline publishes before
    training the label model: per source, label counts, abstention
    (no LF fired — coverage's complement) and CONFLICT (some LF said
    + and some said − — where the label model earns its keep), with
    floor-milli coverage and conflict rates. Pure CASE algebra in one
    map pass + a sources-sized roll-up — at 100 TB this is a single
    scan with zero shuffles before the tiny aggregation. LF thresholds
    are fixed constants; production swaps in a broadcast config dim."""
    docs = load_table(spark, sf_dir, "documents")
    return _rollup_debil(votos_debiles(docs))



# --------------------------------------------------------------------------
# OOV rate — token mass outside the top-V corpus vocabulary
# --------------------------------------------------------------------------

_OOV_V = 256

_OOV_ORACLE = f"""
WITH tokens AS (
    SELECT d.source, t.tok
    FROM (SELECT source, string_split(text, ' ') AS ws FROM documents) d,
         LATERAL unnest(d.ws) AS t(tok)
    WHERE t.tok != ''
),
frec AS (SELECT tok, count(*) AS f FROM tokens GROUP BY 1),
vocab AS (
    SELECT tok FROM (
        SELECT tok, row_number() OVER (ORDER BY f DESC, tok) AS rn FROM frec
    ) WHERE rn <= {_OOV_V}
),
cnt AS (
    SELECT t.source, CAST(count(*) AS BIGINT) AS tokens,
           CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS oov
    FROM tokens t LEFT JOIN vocab v USING (tok)
    GROUP BY 1
),
d AS (SELECT source, CAST(count(*) AS BIGINT) AS docs FROM documents GROUP BY 1)
SELECT d.source, d.docs,
       CAST(coalesce(c.tokens, 0) AS BIGINT) AS tokens,
       CAST(coalesce(c.oov, 0) AS BIGINT) AS oov,
       CASE WHEN coalesce(c.tokens, 0) > 0
            THEN CAST((1000 * c.oov) // c.tokens AS BIGINT)
            ELSE CAST(0 AS BIGINT) END AS oov_mili
FROM d LEFT JOIN cnt c USING (source)
"""


@register("palabras_oov", oracle=_OOV_ORACLE, ops=("TX1", "A8", "J2"),
          driver=False)
def palabras_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OUT-OF-VOCABULARY RATE per source against the corpus's own
    top-256 vocabulary — the tokenizer-planning sibling of
    ``fertilidad_tokenizador`` (fertility measures how a TRAINED BPE
    splits; OOV mass measures how far a closed vocab of a given size
    would fall short, per source): a source whose token mass is mostly
    outside the corpus head (IDs, OCR noise, another language) will
    blow up any fixed-vocab model and is the first candidate for a
    source-specific normalizer. Deterministic: vocab rank breaks ties
    (freq desc, token asc); rates floor-milli; all-empty sources guard
    the division on BOTH engines. Shape: one token explode feeding one
    vocab aggregation (corpus-sublinear by Heaps), the top-V vocab is a
    256-row BROADCAST against the token stream (map-side member
    test, no shuffle of the big side), sources-sized output."""
    docs = load_table(spark, sf_dir, "documents")
    tokens = docs.select(
        "source", F.explode(F.split("text", " ")).alias("tok")
    ).where(F.col("tok") != "")
    frec = tokens.groupBy("tok").agg(F.count(F.lit(1)).alias("f"))
    # top-V vocab needs MEMBERSHIP, not ranks: orderBy+limit is a
    # TakeOrderedAndProject over the (vocab-sized, Heaps-large at
    # 100 TB) frequency table — never a single-task sort (VERDICT r11)
    vocab = (
        frec.orderBy(F.col("f").desc(), F.col("tok"))
        .limit(_OOV_V)
        .select("tok", F.lit(True).alias("en_vocab"))
    )
    cnt = (
        tokens.join(F.broadcast(vocab), "tok", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("tokens"),
            F.sum(F.when(F.col("en_vocab").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("oov"),
        )
    )
    d = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("docs")
    )
    return d.join(F.broadcast(cnt), "source", "left").select(
        "source",
        "docs",
        F.coalesce("tokens", F.lit(0)).cast("bigint").alias("tokens"),
        F.coalesce("oov", F.lit(0)).cast("bigint").alias("oov"),
        F.when(
            F.coalesce("tokens", F.lit(0)) > 0,
            F.expr("(1000 * oov) div tokens"),
        )
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("oov_mili"),
    )


# --------------------------------------------------------------------------
# PMI collocations — log2-banded pointwise mutual information
# --------------------------------------------------------------------------

_PMI_MIN_CO = 5


def _pmi_ladder_sql(num: str, den: str, lo: int = -8, hi: int = 8) -> str:
    """floor(log2(num/den)) as pure integer comparisons, BOTH signs:
    k ≥ 0 tests num ≥ den·2^k, k < 0 tests num·2^(−k) ≥ den — the
    first (largest) satisfied k wins; below the range clamps to lo−1.
    The two-sided sibling of busqueda_bm25's one-sided idf ladder."""
    branches = []
    for k in range(hi, lo - 1, -1):
        if k >= 0:
            branches.append(f"WHEN {num} >= ({den}) * {1 << k} THEN {k}")
        else:
            branches.append(f"WHEN ({num}) * {1 << (-k)} >= {den} THEN {k}")
    return f"(CASE {' '.join(branches)} ELSE {lo - 1} END)"


_PMI_ORACLE = f"""
WITH presencia AS (
    SELECT DISTINCT doc_id, t.tok
    FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents) d,
         LATERAL unnest(d.ws) AS t(tok)
    WHERE t.tok != ''
),
n_docs AS (SELECT count(DISTINCT doc_id) AS n FROM presencia),
df AS (SELECT tok, count(*) AS c FROM presencia GROUP BY 1),
pares AS (
    SELECT a.tok AS tok_a, b.tok AS tok_b, count(*) AS c_ab
    FROM presencia a
    JOIN presencia b ON a.doc_id = b.doc_id AND a.tok < b.tok
    GROUP BY 1, 2
    HAVING count(*) >= {_PMI_MIN_CO}
)
SELECT p.tok_a, p.tok_b, CAST(p.c_ab AS BIGINT) AS docs_juntos,
       CAST({_pmi_ladder_sql("p.c_ab * n.n", "da.c * db.c")} AS INT)
           AS pmi_banda
FROM pares p
JOIN df da ON da.tok = p.tok_a
JOIN df db ON db.tok = p.tok_b
CROSS JOIN n_docs n
"""


@register("colocaciones_pmi", oracle=_PMI_ORACLE, ops=("TX1", "A3"),
          driver=False)
def colocaciones_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI COLLOCATIONS: log₂-banded pointwise mutual information for
    token pairs — THE association measure of computational linguistics
    (and what word2vec's SGNS objective implicitly factorizes), banded
    by a TWO-SIDED pure-comparison ladder so positive and negative
    association both land exactly (floor(log₂(c_ab·N / c_a·c_b)); the
    bm25 idf ladder's symmetric sibling). Complements asociacion_reglas'
    linear lift with the log-scale view that separates weak-but-real
    collocations from frequency artifacts.

    Shape: doc-presence dedup map-side, the pair space forms through a
    DOC-keyed self-join (shuffle carries per-doc token lists — bounded
    by document length, never vocabulary²), the support floor prunes
    before the broadcast-df scoring joins."""
    docs = load_table(spark, sf_dir, "documents")
    presencia = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    ).where(F.col("tok") != "").distinct()
    n_docs = presencia.select("doc_id").distinct().agg(
        F.count(F.lit(1)).alias("n")
    )
    df_tok = presencia.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    a = presencia.select("doc_id", F.col("tok").alias("tok_a"))
    b = presencia.select("doc_id", F.col("tok").alias("tok_b"))
    pares = (
        a.join(b, "doc_id")
        .where(F.col("tok_a") < F.col("tok_b"))
        .groupBy("tok_a", "tok_b")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .where(F.col("c_ab") >= _PMI_MIN_CO)
    )
    da = df_tok.select(F.col("tok").alias("tok_a"), F.col("c").alias("c_a"))
    db = df_tok.select(F.col("tok").alias("tok_b"), F.col("c").alias("c_b"))
    return (
        pares.join(F.broadcast(da), "tok_a")
        .join(F.broadcast(db), "tok_b")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "tok_a",
            "tok_b",
            F.col("c_ab").cast("bigint").alias("docs_juntos"),
            F.expr(_pmi_ladder_sql("c_ab * n", "c_a * c_b"))
            .cast("int")
            .alias("pmi_banda"),
        )
    )


# --------------------------------------------------------------------------
# Exact duplicate-substring spans — window-hash dedup within the corpus
# --------------------------------------------------------------------------

_SUBC_W, _SUBC_S = 40, 20  # window chars / stride chars

_SUBCADENAS_ORACLE = f"""
WITH ventanas AS (
    SELECT doc_id,
           substring(text, CAST(g.i * {_SUBC_S} + 1 AS INT), {_SUBC_W}) AS w
    FROM documents,
         LATERAL unnest(generate_series(0,
             (length(text) - {_SUBC_W}) // {_SUBC_S})) AS g(i)
    WHERE length(text) >= {_SUBC_W}
),
hs AS (SELECT doc_id, {_hex_hash_sql("w")} AS h FROM ventanas),
rep AS (SELECT h FROM hs GROUP BY h HAVING count(DISTINCT doc_id) >= 2)
SELECT hs.doc_id,
       CAST(count(*) AS BIGINT) AS q_ventanas,
       CAST(sum(CASE WHEN r.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS q_dup,
       CAST(1000 * sum(CASE WHEN r.h IS NOT NULL THEN 1 ELSE 0 END)
            // count(*) AS BIGINT) AS prop_milli
FROM hs LEFT JOIN rep r ON hs.h = r.h
GROUP BY hs.doc_id
"""


def subcadena_hashes(docs: DataFrame) -> DataFrame:
    """(doc_id, i, h) window hashes — the span-dedup index rows: fixed
    windows generated MAP-SIDE from each doc's text (sequence+transform,
    fan-out len/stride per doc), hashed with the engine-shared md5
    prefix; ``i`` is the window's index (start char = i·stride), which
    the span CUTTER needs to excise duplicated windows in place. Shared
    by the batch span dedup, its incremental probe, and both cut
    consumers."""
    wins = docs.where(F.length("text") >= _SUBC_W).select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, (length(text) - {_SUBC_W}) div {_SUBC_S}),"
                f" i -> substring(text, cast(i * {_SUBC_S} + 1 as int), {_SUBC_W}))"
            )
        ).alias("i", "w"),
    )
    return wins.select(
        "doc_id", F.col("i").cast("bigint").alias("i"), hex_hash(F.col("w")).alias("h")
    )


@register("dedup_subcadenas", oracle=_SUBCADENAS_ORACLE,
          ops=("DD1", "TX4", "A8"), driver=False)
def dedup_subcadenas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT duplicate-SUBSTRING detection — the span-level dedup of
    "Deduplicating Training Data Makes Language Models Better" (Lee et
    al. 2022) re-shaped for Spark: instead of a giant suffix array,
    fixed-width character windows (40 chars, stride 20) hash into a
    corpus-wide window index; any window whose hash appears in ≥2
    distinct documents marks a duplicated SPAN (boilerplate headers,
    license blocks, templated paragraphs — duplication dedup_exact's
    whole-doc hash cannot see). Output per document: window count,
    duplicated-window count, and the milli-floored duplicated share —
    the cut list a span-level cleaner consumes.

    Scale shape: window generation is MAP-SIDE (sequence+transform
    inside one projection — fan-out bounded by len/stride per doc);
    the only shuffles are the window-hash aggregation (partial-agg
    combinable), the hash-keyed membership join (equi, never
    all-pairs), and the per-doc roll-up. At 100 TB the window index is
    the big object and it is hash-partitioned — never collected,
    never broadcast."""
    hs = subcadena_hashes(load_table(spark, sf_dir, "documents"))
    rep = (
        hs.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("d"))
        .where(F.col("d") >= 2)
        .select("h", F.lit(1).alias("dup"))
    )
    return (
        hs.join(rep, "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("q_ventanas"),
            F.sum(F.coalesce(F.col("dup"), F.lit(0))).cast("bigint").alias("q_dup"),
        )
        .select(
            "doc_id",
            "q_ventanas",
            "q_dup",
            F.expr("(1000 * q_dup) div q_ventanas").cast("bigint").alias("prop_milli"),
        )
    )


# --------------------------------------------------------------------------
# Span-dedup CUT consumer — reconstruct documents with duplicated windows
# excised (the Lee et al. 2022 endgame: train on the cleaned text)
# --------------------------------------------------------------------------

# The tile algebra below requires window = exactly two strides: window i
# covers chars [i·S+1, i·S+2S] = tiles i and i+1, so "cut the union of
# duplicated windows" ≡ "cut the union of tiles {i, i+1}" — no interval
# merge, no fold, and both engines rebuild by filtered tile concat.
assert _SUBC_W == 2 * _SUBC_S, "span cut tiling assumes W == 2*S"

_SIN_SUBC_SELECT = f"""
SELECT d.doc_id,
       CAST(coalesce(length(d.text), 0) AS BIGINT) AS n_original,
       CAST(length(coalesce(l.texto, '')) AS BIGINT) AS n_limpio,
       md5(coalesce(l.texto, '')) AS huella
"""

_SIN_SUBC_ORACLE = f"""
WITH ventanas AS (
    SELECT doc_id, CAST(g.i AS BIGINT) AS i,
           {_hex_hash_sql(f"substring(text, CAST(g.i * {_SUBC_S} + 1 AS INT), {_SUBC_W})")} AS h
    FROM documents,
         LATERAL unnest(generate_series(0,
             (length(text) - {_SUBC_W}) // {_SUBC_S})) AS g(i)
    WHERE length(text) >= {_SUBC_W}
),
rep AS (SELECT h FROM ventanas GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
cortes AS (
    SELECT DISTINCT v.doc_id, v.i + o.o AS tile
    FROM ventanas v JOIN rep USING (h), LATERAL unnest([0, 1]) AS o(o)
),
trozos AS (
    SELECT d.doc_id, CAST(g.t AS BIGINT) AS tile,
           substring(d.text, CAST(g.t * {_SUBC_S} + 1 AS INT), {_SUBC_S}) AS trozo
    FROM documents d,
         LATERAL unnest(generate_series(0,
             (length(d.text) - 1) // {_SUBC_S})) AS g(t)
    WHERE coalesce(length(d.text), 0) >= 1
),
limpio AS (
    SELECT t.doc_id,
           coalesce(string_agg(t.trozo, '' ORDER BY t.tile)
                    FILTER (c.tile IS NULL), '') AS texto
    FROM trozos t LEFT JOIN cortes c
      ON t.doc_id = c.doc_id AND t.tile = c.tile
    GROUP BY t.doc_id
)
{_SIN_SUBC_SELECT}
FROM documents d LEFT JOIN limpio l USING (doc_id)
"""


def _rebuild_sin_cortes() -> Column:
    """Filtered-tile document rebuild: keep every stride-sized tile whose
    index is not in the per-doc cut set, concat in order — all MAP-SIDE
    column expressions after the cut-set join. The length >= 1 guard
    keeps the tile sequence bound non-negative (Spark `div` truncates
    while DuckDB `//` floors, so a -1 div would diverge)."""
    return F.expr(
        f"CASE WHEN coalesce(length(text), 0) = 0 THEN '' "
        f"ELSE array_join(transform(filter("
        f"sequence(0, cast((length(text) - 1) div {_SUBC_S} as bigint)), "
        f"t -> NOT array_contains("
        f"coalesce(cortes, CAST(array() AS ARRAY<BIGINT>)), t)), "
        f"t -> substring(text, cast(t * {_SUBC_S} + 1 as int), {_SUBC_S})), '') "
        f"END"
    )


def _cut_output(docs: DataFrame, cortes: DataFrame) -> DataFrame:
    """(doc_id, n_original, n_limpio, huella) from docs + per-doc cut
    tile sets: md5 pins the reconstructed CONTENT exactly cross-engine
    without hauling full texts through the compare."""
    return (
        docs.join(cortes, "doc_id", "left")
        .select("doc_id", "text", _rebuild_sin_cortes().alias("texto"))
        .select(
            "doc_id",
            F.coalesce(F.length("text"), F.lit(0)).cast("bigint").alias("n_original"),
            F.length("texto").cast("bigint").alias("n_limpio"),
            F.md5("texto").alias("huella"),
        )
    )


@register("corpus_sin_subcadenas", oracle=_SIN_SUBC_ORACLE,
          ops=("DD1", "TX4", "A8"), driver=False)
def corpus_sin_subcadenas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPAN-LEVEL corpus cleaning — the consumer of `dedup_subcadenas`'s
    cut list, completing the family the way `corpus_desduplicado`
    completes doc-level dedup (Lee et al. 2022: EXCISE duplicated
    substrings and train on the cleaned text, don't just score them).
    Every window whose hash appears in ≥2 distinct documents is cut
    from EVERY document carrying it; each doc is reconstructed from its
    surviving stride-tiles and content-pinned with md5. Docs shorter
    than one window (or empty/NULL) pass through whole.

    Scale shape: windows and tiles generate map-side; shuffles are the
    window-hash aggregation (partial-agg), the hash equi-join back, and
    one per-doc collect_set of cut-tile indices — bounded by doc
    length/stride, never corpus². The rebuild is pure column
    expressions; no fold, no interval merge, no driver state."""
    docs = load_table(spark, sf_dir, "documents")
    hs = subcadena_hashes(docs)
    rep = (
        hs.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("d"))
        .where(F.col("d") >= 2)
        .select("h")
    )
    cortes = (
        hs.join(rep, "h")
        .select(
            "doc_id",
            F.explode(F.array(F.col("i"), F.col("i") + F.lit(1))).alias("tile"),
        )
        .groupBy("doc_id")
        .agg(F.collect_set("tile").alias("cortes"))
    )
    return _cut_output(docs, cortes)


_SIN_SUBC_INC_ORACLE = f"""
WITH ventanas AS (
    SELECT doc_id, CAST(g.i AS BIGINT) AS i,
           {_hex_hash_sql(f"substring(text, CAST(g.i * {_SUBC_S} + 1 AS INT), {_SUBC_W})")} AS h
    FROM documents,
         LATERAL unnest(generate_series(0,
             (length(text) - {_SUBC_W}) // {_SUBC_S})) AS g(i)
    WHERE length(text) >= {_SUBC_W}
),
indice AS (SELECT DISTINCT h FROM ventanas WHERE doc_id % 10 != 0),
cortes AS (
    SELECT DISTINCT v.doc_id, v.i + o.o AS tile
    FROM ventanas v JOIN indice USING (h), LATERAL unnest([0, 1]) AS o(o)
    WHERE v.doc_id % 10 = 0
),
trozos AS (
    SELECT d.doc_id, CAST(g.t AS BIGINT) AS tile,
           substring(d.text, CAST(g.t * {_SUBC_S} + 1 AS INT), {_SUBC_S}) AS trozo
    FROM documents d,
         LATERAL unnest(generate_series(0,
             (length(d.text) - 1) // {_SUBC_S})) AS g(t)
    WHERE coalesce(length(d.text), 0) >= 1 AND d.doc_id % 10 = 0
),
limpio AS (
    SELECT t.doc_id,
           coalesce(string_agg(t.trozo, '' ORDER BY t.tile)
                    FILTER (c.tile IS NULL), '') AS texto
    FROM trozos t LEFT JOIN cortes c
      ON t.doc_id = c.doc_id AND t.tile = c.tile
    GROUP BY t.doc_id
)
{_SIN_SUBC_SELECT}
FROM documents d LEFT JOIN limpio l USING (doc_id)
WHERE d.doc_id % 10 = 0
"""


@register("corpus_sin_subcadenas_incremental", oracle=_SIN_SUBC_INC_ORACLE,
          ops=("DD1", "TX4", "J2"), driver=False)
def corpus_sin_subcadenas_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL span cutting — the daily-ingest write path paired
    with `dedup_subcadenas_incremental`'s read path: the NEW BATCH
    (every 10th doc_id) probes the stored corpus window index
    (`subcadena_hashes` over the rest — exactly what the batch op
    maintains) and every window the corpus has already seen is excised
    from the incoming document before it reaches a training shard.
    Cost ∝ batch windows × index hit rate, never corpus²; the index is
    hash-partitioned and the batch side is batch-sized. Within-batch
    duplication is the batch op's job — this is the cross-corpus cut."""
    docs = load_table(spark, sf_dir, "documents")
    hs = subcadena_hashes(docs)
    indice = hs.where(F.col("doc_id") % 10 != 0).select("h").distinct()
    nuevos_hs = hs.where(F.col("doc_id") % 10 == 0)
    cortes = (
        nuevos_hs.join(indice, "h")
        .select(
            "doc_id",
            F.explode(F.array(F.col("i"), F.col("i") + F.lit(1))).alias("tile"),
        )
        .groupBy("doc_id")
        .agg(F.collect_set("tile").alias("cortes"))
    )
    return _cut_output(docs.where(F.col("doc_id") % 10 == 0), cortes)


# --------------------------------------------------------------------------
# Vocabulary drift — PSI-shaped source-vs-corpus distribution audit
# --------------------------------------------------------------------------
# The data-drift monitor a training pipeline runs per ingest source:
# Population Stability Index structure Σ (p−q)·log(p/q) over the top
# reference tokens, with the log replaced by the two-sided log2 BAND
# ladder (the colocaciones_pmi device) so every term is pure integer
# comparisons and both engines agree bit for bit. A token the source
# lacks entirely lands in the clamped bottom band — the "this
# population no longer produces X" alarm PSI is used for.

_DERIVA_TOP = 32

_DERIVA_ORACLE = f"""
WITH tt AS (
    SELECT source, t.w FROM
        (SELECT source, string_split(text, ' ') AS ws FROM documents) d,
        LATERAL unnest(d.ws) AS t(w)
    WHERE t.w != ''
),
gl AS (SELECT w, CAST(count(*) AS BIGINT) AS c_g FROM tt GROUP BY 1),
cg AS (SELECT CAST(sum(c_g) AS BIGINT) AS t_g FROM gl),
ref AS (SELECT w, c_g FROM gl ORDER BY c_g DESC, w LIMIT {_DERIVA_TOP}),
fuentes AS (SELECT source, CAST(count(*) AS BIGINT) AS t_s FROM tt GROUP BY 1),
cs AS (SELECT source, w, CAST(count(*) AS BIGINT) AS c_s
       FROM tt GROUP BY 1, 2),
celda AS (
    SELECT f.source, t.w, coalesce(c.c_s, 0) AS c_s, t.c_g, f.t_s, g.t_g
    FROM fuentes f CROSS JOIN ref t CROSS JOIN cg g
    LEFT JOIN cs c ON c.source = f.source AND c.w = t.w
)
SELECT source,
       CAST(sum(CASE WHEN c_s > 0 THEN 1 ELSE 0 END) AS BIGINT) AS presentes,
       CAST(sum(((1000 * c_s) // t_s - (1000 * c_g) // t_g)
                * {_pmi_ladder_sql("c_s * t_g", "c_g * t_s")})
            AS BIGINT) AS deriva_milli
FROM celda GROUP BY 1
"""


@register("deriva_vocabulario", oracle=_DERIVA_ORACLE,
          ops=("TX2", "A8", "J6"), driver=False)
def deriva_vocabulario(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VOCABULARY DRIFT monitor — per ingest source, a PSI-shaped score
    of how far the source's token distribution sits from the whole
    corpus, over the top-{_DERIVA_TOP} reference tokens: each cell
    contributes (p_milli − q_milli)·band where band is the two-sided
    integer log2 ladder of the odds ratio (absent tokens clamp to the
    bottom band — the "source stopped producing X" alarm). Near-zero =
    the source looks like the corpus; large |score| = mix shift a
    mixture planner should re-weight for.

    Scale shape: one token explode feeds BOTH count layers (partial-agg
    combinable); the reference set is top-{_DERIVA_TOP} (broadcast);
    the cell grid is sources×{_DERIVA_TOP} — dim-sized at any corpus
    scale. No floats anywhere."""
    docs = load_table(spark, sf_dir, "documents")
    tt = docs.select(
        "source", F.explode(F.split("text", " ")).alias("w")
    ).where(F.col("w") != "")
    glob = tt.groupBy("w").agg(F.count(F.lit(1)).cast("bigint").alias("c_g"))
    cg = glob.agg(F.sum("c_g").cast("bigint").alias("t_g"))
    top = glob.orderBy(F.desc("c_g"), "w").limit(_DERIVA_TOP)
    fuentes = tt.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("t_s")
    )
    cs = tt.groupBy("source", "w").agg(
        F.count(F.lit(1)).cast("bigint").alias("c_s")
    )
    celda = (
        fuentes.crossJoin(F.broadcast(top))
        .crossJoin(F.broadcast(cg))
        .join(cs, ["source", "w"], "left")
        .select(
            "source",
            "w",
            F.coalesce("c_s", F.lit(0)).cast("bigint").alias("c_s"),
            "c_g",
            "t_s",
            "t_g",
        )
    )
    return celda.groupBy("source").agg(
        F.sum(F.when(F.col("c_s") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("presentes"),
        F.sum(
            F.expr(
                "((1000 * c_s) div t_s - (1000 * c_g) div t_g) * "
                + _pmi_ladder_sql("c_s * t_g", "c_g * t_s")
            )
        ).cast("bigint").alias("deriva_milli"),
    )


# --------------------------------------------------------------------------
# Temperature-based mixture sampling — the multilingual upsampling idiom
# --------------------------------------------------------------------------

_TEMPERATURA_ORACLE = f"""
WITH tok AS (
    SELECT source, len(string_split(text, ' ')) AS t FROM documents
),
fuentes AS (
    SELECT source, CAST(sum(t) AS BIGINT) AS tokens_fuente
    FROM tok GROUP BY source
),
pesos AS (
    SELECT source, tokens_fuente,
           CAST(floor(sqrt(CAST(tokens_fuente AS DOUBLE))) AS BIGINT) AS peso_temp
    FROM fuentes
),
tot AS (
    SELECT CAST(sum(tokens_fuente) AS BIGINT) AS corpus,
           CAST(sum(peso_temp) AS BIGINT) AS suma_pesos
    FROM pesos
)
SELECT p.source, p.tokens_fuente,
       CAST(1000 * p.tokens_fuente // t.corpus AS BIGINT) AS part_natural_milli,
       CAST(1000 * p.peso_temp // t.suma_pesos AS BIGINT) AS part_temp_milli,
       CAST((1000 * p.peso_temp * t.corpus)
            // (t.suma_pesos * p.tokens_fuente) AS BIGINT) AS impulso_milli
FROM pesos p CROSS JOIN tot t
"""


@register("muestreo_temperatura", oracle=_TEMPERATURA_ORACLE,
          ops=("A6", "A1", "J6"), driver=False)
def muestreo_temperatura(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEMPERATURE sampling shares (α = 0.5): per-source sampling weight
    ∝ tokens^α — the multilingual/multi-source upsampling rule (mT5-style
    p_s ∝ |D_s|^α) that flattens the mixture so small sources are seen
    more than their natural share. Output per source: token count,
    natural share (milli), temperature share (milli), and the
    milli-floored boost factor temperature/natural — >1000 means the
    source is upsampled. Complements `mezcla_entrenamiento` (explicit
    weights + epoch planning) with the derived-weight rule.

    tokens^0.5 computes as floor(sqrt(double)) — IEEE sqrt is correctly
    rounded, so both engines floor the same value; every share is then
    pure int64 floor-div in a fixed order. Shape: one grouped sum over
    a column-pruned scan, scalar totals broadcast back via cross join —
    sources-sized output at any corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    fuentes = (
        docs.select("source", F.size(F.split("text", " ")).alias("t"))
        .groupBy("source")
        .agg(F.sum("t").cast("long").alias("tokens_fuente"))
        .withColumn(
            "peso_temp",
            F.floor(F.sqrt(F.col("tokens_fuente").cast("double"))).cast("long"),
        )
    )
    tot = fuentes.agg(
        F.sum("tokens_fuente").cast("long").alias("corpus"),
        F.sum("peso_temp").cast("long").alias("suma_pesos"),
    )
    return fuentes.crossJoin(F.broadcast(tot)).select(
        "source",
        "tokens_fuente",
        F.expr("(1000 * tokens_fuente) div corpus")
        .cast("bigint")
        .alias("part_natural_milli"),
        F.expr("(1000 * peso_temp) div suma_pesos")
        .cast("bigint")
        .alias("part_temp_milli"),
        F.expr("(1000 * peso_temp * corpus) div (suma_pesos * tokens_fuente)")
        .cast("bigint")
        .alias("impulso_milli"),
    )


# --------------------------------------------------------------------------
# Epoch budget — the data-constrained scaling planner
# --------------------------------------------------------------------------

_EPOCAS_K = 3  # training budget = K × corpus tokens
_EPOCAS_LIMITE_MILI = 4000  # >4 epochs: repetition returns decay fast

_EPOCAS_ORACLE = f"""
WITH tok AS (
    SELECT source, len(string_split(text, ' ')) AS t FROM documents
),
fuentes AS (
    SELECT source, CAST(sum(t) AS BIGINT) AS tokens_fuente
    FROM tok GROUP BY source
),
pesos AS (
    SELECT source, tokens_fuente,
           CAST(floor(sqrt(CAST(tokens_fuente AS DOUBLE))) AS BIGINT)
               AS peso
    FROM fuentes
),
tot AS (
    SELECT CAST(sum(tokens_fuente) AS BIGINT) AS corpus,
           CAST(sum(peso) AS BIGINT) AS suma_pesos
    FROM pesos
)
SELECT p.source, p.tokens_fuente,
       CAST(({_EPOCAS_K} * t.corpus * p.peso) // t.suma_pesos AS BIGINT)
           AS tokens_asignados,
       CAST((1000 * {_EPOCAS_K} * t.corpus * p.peso)
            // (t.suma_pesos * p.tokens_fuente) AS BIGINT) AS epocas_mili,
       CAST(CASE WHEN (1000 * {_EPOCAS_K} * t.corpus * p.peso)
                      // (t.suma_pesos * p.tokens_fuente)
                      > {_EPOCAS_LIMITE_MILI}
                 THEN 1 ELSE 0 END AS BIGINT) AS sobre_limite,
       CAST(least((1000 * {_EPOCAS_K} * t.corpus * p.peso)
                  // (t.suma_pesos * p.tokens_fuente),
                  {_EPOCAS_LIMITE_MILI}) * p.tokens_fuente // 1000
            AS BIGINT) AS tokens_utiles
FROM pesos p CROSS JOIN tot t
"""


@register("presupuesto_epocas", oracle=_EPOCAS_ORACLE,
          ops=("A6", "A1", "J6"), driver=False)
def presupuesto_epocas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EPOCH-BUDGET PLANNER under data-constrained scaling (Muennighoff
    et al. 2023, arXiv:2305.16264 — repeating data up to ~4 epochs is
    nearly as good as fresh tokens, beyond that returns decay fast):
    given a training budget of {_EPOCAS_K}× the corpus and the same
    temperature-weighted allocation ``muestreo_temperatura`` computes
    (floor-sqrt weights), how many EPOCHS does each source's allocation
    imply? Sources pushed past the 4-epoch line are flagged
    (``sobre_limite``) and their allocation is clipped to the cap in
    ``tokens_utiles`` — the number the mixture planner actually gets to
    train on, and the gap to ``tokens_asignados`` is the budget the
    temperature curve wants to spend where no useful data exists (the
    signal to flatten the temperature or go collect more of that
    source). All floor-division integer algebra over the sources-sized
    frame; the corpus totals ride in as a 1-row broadcast.

    Scale shape: one token-count aggregation over documents (map-side
    combinable) and then everything is sources-grain — identical to
    muestreo_temperatura, whose weights it deliberately shares so the
    two read-outs never disagree about the allocation."""
    docs = load_table(spark, sf_dir, "documents")
    fuentes = (
        docs.select("source", F.size(F.split("text", " ")).alias("t"))
        .groupBy("source")
        .agg(F.sum("t").cast("long").alias("tokens_fuente"))
        .withColumn(
            "peso",
            F.floor(F.sqrt(F.col("tokens_fuente").cast("double"))).cast("long"),
        )
    )
    tot = fuentes.agg(
        F.sum("tokens_fuente").cast("long").alias("corpus"),
        F.sum("peso").cast("long").alias("suma_pesos"),
    )
    k, cap = _EPOCAS_K, _EPOCAS_LIMITE_MILI
    epocas = f"(1000 * {k} * corpus * peso) div (suma_pesos * tokens_fuente)"
    return fuentes.crossJoin(F.broadcast(tot)).select(
        "source",
        "tokens_fuente",
        F.expr(f"({k} * corpus * peso) div suma_pesos")
        .cast("bigint")
        .alias("tokens_asignados"),
        F.expr(epocas).cast("bigint").alias("epocas_mili"),
        F.expr(f"CASE WHEN {epocas} > {cap} THEN 1 ELSE 0 END")
        .cast("bigint")
        .alias("sobre_limite"),
        F.expr(f"(least({epocas}, {cap}) * tokens_fuente) div 1000")
        .cast("bigint")
        .alias("tokens_utiles"),
    )


# --------------------------------------------------------------------------
# DSIR-style importance reweighting — hashed n-gram target/raw ratios
# --------------------------------------------------------------------------
# Data Selection via Importance Resampling (Xie et al. 2023,
# arXiv:2302.03169): estimate target and raw distributions over HASHED
# token features, weight each raw document by how target-like its
# features are, then select/resample by weight. DSIR proper scores
# log p_target(f) - log p_raw(f); floating-point logs are not
# reproducible bit-for-bit across engines, so this variant uses the
# LINEAR per-feature ratio (add-one smoothed, fixed-point micro) and a
# per-doc MEAN token importance — same ordering intent, exact integers.

_DSIR_B = 128  # hashed feature buckets
_DSIR_SCALE = 1_000_000
_DSIR_TARGET = "en"  # the wiki-like "target distribution" proxy

_DSIR_ORACLE = f"""
WITH toks AS (
    SELECT doc_id, lang, {_hex_hash_sql("w", _DSIR_B)} AS b
    FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
          FROM documents)
),
cubos AS (
    SELECT b, CAST(count(*) AS BIGINT) AS r_b,
           CAST(sum(CASE WHEN lang = '{_DSIR_TARGET}' THEN 1 ELSE 0 END)
                AS BIGINT) AS t_b
    FROM toks GROUP BY 1
),
tot AS (
    SELECT CAST(sum(r_b) AS BIGINT) AS r_tot,
           CAST(sum(t_b) AS BIGINT) AS t_tot
    FROM cubos
),
ratios AS (
    SELECT b,
           CAST((CAST(t_b + 1 AS HUGEINT) * (r_tot + {_DSIR_B})
                 * {_DSIR_SCALE})
                // (CAST(r_b + 1 AS HUGEINT) * (t_tot + {_DSIR_B}))
                AS BIGINT) AS ratio
    FROM cubos CROSS JOIN tot
),
puntajes AS (
    SELECT t.doc_id, t.lang,
           CAST(count(*) AS BIGINT) AS n_tok,
           CAST(sum(r.ratio) AS BIGINT) AS s
    FROM toks t JOIN ratios r ON r.b = t.b
    GROUP BY 1, 2
),
deciles AS (
    SELECT lang, s // n_tok AS media,
           ntile(10) OVER (ORDER BY s // n_tok DESC, doc_id) AS decil
    FROM puntajes
)
SELECT CAST(decil AS INT) AS decil,
       CAST(count(*) AS BIGINT) AS docs,
       CAST(sum(CASE WHEN lang = '{_DSIR_TARGET}' THEN 1 ELSE 0 END)
            AS BIGINT) AS docs_objetivo,
       CAST(sum(media) AS BIGINT) AS importancia_total
FROM deciles GROUP BY 1
"""


@register("ponderacion_importancia", oracle=_DSIR_ORACLE,
          ops=("TX2", "A8", "W1"), driver=False)
def ponderacion_importancia(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-STYLE IMPORTANCE REWEIGHTING (Xie et al. 2023,
    arXiv:2302.03169 — Data Selection via Importance Resampling): score
    every raw document by how TARGET-LIKE its hashed token features
    are, where the target distribution is estimated from the
    wiki-proxy subset (lang = 'en') and the raw distribution from the
    whole corpus. Per feature bucket b the importance ratio is the
    add-one-smoothed (t_b+1)(R+B) / ((r_b+1)(T+B)) in fixed-point
    micro — the LINEAR-ratio variant of DSIR's log-ratio (logs are not
    bit-reproducible across engines; the per-doc MEAN token importance
    keeps the same ordering intent in exact integers, decimal38/HUGEINT
    wide). The read-out is the selection audit: per importance decile,
    document counts and how many are genuinely target-language — a
    top-decile enriched in the target validates the weights before any
    resampling consumes them.

    Scale shape: ONE token explode feeds both distributions (the target
    tally is a conditional sum inside the same 128-bucket aggregation —
    no second corpus pass); the bucket-ratio table is B=128 rows and
    broadcasts onto the token stream; the per-doc roll-up is one
    doc-keyed exchange. The decile split is a doc-grain global window
    (the gini/pareto precedent — doc-grain, not token-grain; at
    production scale swap ntile for approx-quantile boundaries)."""
    puntajes = _dsir_puntajes(spark, sf_dir)
    deciles = puntajes.select(
        "lang",
        F.expr("s div n_tok").alias("media"),
        F.ntile(10)
        .over(Window.orderBy(F.expr("s div n_tok").desc(), "doc_id"))
        .alias("decil"),
    )
    return deciles.groupBy("decil").agg(
        F.count(F.lit(1)).cast("bigint").alias("docs"),
        F.sum(F.when(F.col("lang") == _DSIR_TARGET, 1).otherwise(0))
        .cast("bigint")
        .alias("docs_objetivo"),
        F.sum("media").cast("bigint").alias("importancia_total"),
    ).select(
        F.col("decil").cast("int").alias("decil"),
        "docs",
        "docs_objetivo",
        "importancia_total",
    )


def _dsir_puntajes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DSIR per-doc importance frame (doc_id, lang, n_tok, s) —
    shared by the exact (ntile) and approx (quantile-boundary) decile
    read-outs so the scoring algebra cannot drift between them."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("w")
    ).select("doc_id", "lang", hex_hash(F.col("w"), _DSIR_B).alias("b"))
    cubos = toks.groupBy("b").agg(
        F.count(F.lit(1)).cast("long").alias("r_b"),
        F.sum(F.when(F.col("lang") == _DSIR_TARGET, 1).otherwise(0))
        .cast("long")
        .alias("t_b"),
    )
    tot = cubos.agg(
        F.sum("r_b").cast("long").alias("r_tot"),
        F.sum("t_b").cast("long").alias("t_tot"),
    )
    d38 = "decimal(38,0)"
    ratios = cubos.crossJoin(F.broadcast(tot)).select(
        "b",
        F.expr(
            f"(CAST(t_b + 1 AS {d38}) * (r_tot + {_DSIR_B}) * {_DSIR_SCALE})"
            f" div (CAST(r_b + 1 AS {d38}) * (t_tot + {_DSIR_B}))"
        )
        .cast("long")
        .alias("ratio"),
    )
    return (
        toks.join(F.broadcast(ratios), "b")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tok"),
            F.sum("ratio").cast("long").alias("s"),
        )
    )



_DSIR_APROX_ORACLE = _DSIR_ORACLE.split("deciles AS")[0] + f"""
medias AS (
    SELECT lang, s // n_tok AS media FROM puntajes
),
cortes AS (
    SELECT quantile_disc(media, 0.1) AS b1,
           quantile_disc(media, 0.2) AS b2,
           quantile_disc(media, 0.3) AS b3,
           quantile_disc(media, 0.4) AS b4,
           quantile_disc(media, 0.5) AS b5,
           quantile_disc(media, 0.6) AS b6,
           quantile_disc(media, 0.7) AS b7,
           quantile_disc(media, 0.8) AS b8,
           quantile_disc(media, 0.9) AS b9
    FROM medias
),
deciles AS (
    SELECT m.lang, m.media,
           10 - (CAST(m.media > k.b1 AS INT) + CAST(m.media > k.b2 AS INT) + CAST(m.media > k.b3 AS INT) + CAST(m.media > k.b4 AS INT) + CAST(m.media > k.b5 AS INT) + CAST(m.media > k.b6 AS INT) + CAST(m.media > k.b7 AS INT) + CAST(m.media > k.b8 AS INT) + CAST(m.media > k.b9 AS INT)) AS decil
    FROM medias m CROSS JOIN cortes k
)
SELECT CAST(decil AS INT) AS decil,
       CAST(count(*) AS BIGINT) AS docs,
       CAST(sum(CASE WHEN lang = '{_DSIR_TARGET}' THEN 1 ELSE 0 END)
            AS BIGINT) AS docs_objetivo,
       CAST(sum(media) AS BIGINT) AS importancia_total,
       CAST(1 AS BIGINT) AS dentro_banda
FROM deciles GROUP BY 1
"""


@register("ponderacion_importancia_aproximada", oracle=_DSIR_APROX_ORACLE,
          ops=("TX2", "A8", "A3"), driver=False)
def ponderacion_importancia_aproximada(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The SCALE PATH for ``ponderacion_importancia``'s decile read-out
    — the approx-quantile swap its docstring names: the per-doc
    importance frame is the shared ``_dsir_puntajes``, and decile
    membership comes from VALUE BUCKETING against the nine exact
    discrete decile boundaries of the per-doc mean importance
    (decil = 10 − Σ[media > b_q]; ties share a decile), broadcast as
    one 9-value row — no doc-grain global window. The production
    t-digest boundaries (approx_percentile) are computed in the same
    pass and ``dentro_banda`` pins each within ±2% (abs floor 2) of its
    exact anchor — the percentiles_aprox verdict pattern."""
    puntajes = _dsir_puntajes(spark, sf_dir)
    medias = puntajes.select("lang", F.expr("s div n_tok").alias("media"))
    qs = tuple(round(0.1 * i, 1) for i in range(1, 10))
    exactos = [
        F.expr(f"percentile_disc({q}) WITHIN GROUP (ORDER BY media)")
        .alias(f"b{i}")
        for i, q in enumerate(qs, start=1)
    ]
    aprox = F.expr(
        "approx_percentile(media, array("
        + ", ".join(f"{q}D" for q in qs)
        + "), 10000)"
    ).alias("aprox")
    cortes = medias.agg(*exactos, aprox)
    banda = None
    for i in range(1, 10):
        exact = F.col(f"b{i}").cast("double")
        ap = F.col("aprox")[i - 1].cast("double")
        ok = F.abs(ap - exact) <= F.greatest(
            F.lit(0.02) * F.abs(exact), F.lit(2.0)
        )
        banda = ok if banda is None else (banda & ok)
    cortes = cortes.withColumn("dentro_banda", banda.cast("bigint"))
    decil = F.lit(10)
    for i in range(1, 10):
        decil = decil - (F.col("media") > F.col(f"b{i}")).cast("int")
    return (
        medias.crossJoin(F.broadcast(cortes))
        .select("lang", "media", decil.alias("decil"), "dentro_banda")
        .groupBy("decil")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("docs"),
            F.sum(F.when(F.col("lang") == _DSIR_TARGET, 1).otherwise(0))
            .cast("bigint")
            .alias("docs_objetivo"),
            F.sum("media").cast("bigint").alias("importancia_total"),
            F.min("dentro_banda").cast("bigint").alias("dentro_banda"),
        )
        .select(
            F.col("decil").cast("int").alias("decil"),
            "docs",
            "docs_objetivo",
            "importancia_total",
            "dentro_banda",
        )
    )


# --------------------------------------------------------------------------
# Heaps-law vocabulary growth audit — deciles of the global token stream
# --------------------------------------------------------------------------

_HEAPS_ORACLE = f"""
WITH d AS (
    SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
conteos AS (
    SELECT doc_id, CAST(len(toks) AS BIGINT) AS n FROM d
),
bases AS (
    SELECT doc_id,
           CAST(sum(n) OVER (ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                AS BIGINT) AS base
    FROM conteos
),
tokpos AS (
    SELECT d.doc_id, coalesce(b.base, 0) + g.i AS gpos, d.toks[CAST(g.i AS INT)] AS token
    FROM d JOIN bases b USING (doc_id),
         LATERAL unnest(generate_series(1, len(d.toks))) AS g(i)
),
primera AS (
    SELECT token, CAST(min(gpos) AS BIGINT) AS gpos_min
    FROM tokpos WHERE token != '' GROUP BY 1
),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM conteos)
SELECT g.d AS decil,
       CAST(t.total * g.d // 10 AS BIGINT) AS tokens_acum,
       CAST(count(*) FILTER (p.gpos_min <= t.total * g.d // 10) AS BIGINT)
           AS vocab_acum
FROM primera p
CROSS JOIN tot t
CROSS JOIN (SELECT unnest(generate_series(1, 10)) AS d) g
GROUP BY 1, 2
"""


@register("ley_heaps", oracle=_HEAPS_ORACLE, ops=("TX1", "W1", "A6"),
          driver=False)
def ley_heaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VOCABULARY-GROWTH curve (Heaps' law audit): cumulative distinct
    vocabulary at each decile of the doc_id-ordered global token
    stream — the training-data diagnostic for tokenizer sizing and
    dedup health (a corpus whose vocab curve flattens early is
    repetitive; one that stays near-linear is heavy-tailed). Global
    token positions WITHOUT a global window: per-doc token counts
    cumulate over the doc-grain frame (a window over docs, not
    tokens), each token's in-doc position offsets from its doc's
    base, and the vocabulary-at-decile roll-up is 10 conditional
    counts over the token-grain first-occurrence frame. Shuffles:
    the doc-count window, one token-grain min, one 10-row roll-up —
    nothing at stream grain."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    conteos = docs.select("doc_id", F.size("toks").cast("long").alias("n"))
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)
    bases = conteos.select(
        "doc_id", F.coalesce(F.sum("n").over(w), F.lit(0)).alias("base")
    )
    tokpos = (
        docs.join(bases, "doc_id")
        .select(
            "base", F.posexplode("toks").alias("i0", "token")
        )
        .where(F.col("token") != "")
        .select((F.col("base") + F.col("i0") + 1).alias("gpos"), "token")
    )
    primera = tokpos.groupBy("token").agg(
        F.min("gpos").cast("long").alias("gpos_min")
    )
    tot = conteos.agg(F.sum("n").cast("long").alias("total"))
    deciles = spark.range(1, 11).select(F.col("id").alias("decil"))
    return (
        primera.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(deciles))
        .groupBy("decil", F.expr("(total * decil) div 10").cast("bigint").alias("tokens_acum"))
        .agg(
            F.sum(
                F.when(F.col("gpos_min") <= F.expr("(total * decil) div 10"), 1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("vocab_acum")
        )
    )


# --------------------------------------------------------------------------
# Zipf's law — rank-frequency bands (ley_heaps' sibling axis)
# --------------------------------------------------------------------------


def _zipf_oracle() -> str:
    from etl_python_airflow_bigquery_spark.functions import _log2_ladder

    return f"""
WITH tokens AS (
    SELECT t.tok
    FROM (SELECT string_split(text, ' ') AS ws FROM documents) d,
         LATERAL unnest(d.ws) AS t(tok)
    WHERE t.tok != ''
),
frecuencia AS (SELECT tok, count(*) AS f FROM tokens GROUP BY 1),
rangos AS (
    SELECT tok, f, row_number() OVER (ORDER BY f DESC, tok) AS r
    FROM frecuencia
),
tot AS (SELECT sum(f) AS n FROM frecuencia)
SELECT CAST({_log2_ladder("r", cap=30)} AS INT) AS banda_log2,
       CAST(count(*) AS BIGINT) AS tipos,
       CAST(sum(f) AS BIGINT) AS ocurrencias,
       CAST((1000 * sum(f)) // (SELECT n FROM tot) AS BIGINT) AS masa_mili,
       CAST(max(f) AS BIGINT) AS f_max,
       CAST(min(f) AS BIGINT) AS f_min,
       CAST(max(f * r) AS BIGINT) AS fr_max,
       CAST(min(f * r) AS BIGINT) AS fr_min
FROM rangos
GROUP BY 1"""


@register("ley_zipf", ops=("TX1", "A1", "W1"), driver=False)
def ley_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZIPF rank-frequency profile — ley_heaps' sibling axis (Heaps
    tracks vocabulary vs corpus GROWTH; Zipf tracks frequency vs RANK at
    a point in time): token frequencies ranked (f desc, token), then
    rolled up per floor-log2(rank) band. Under an ideal Zipf exponent
    s = 1 every log2 band carries roughly equal occurrence mass
    (Σ 1/r over [2^b, 2^{{b+1}}) ≈ ln 2), so a FLAT masa_mili column IS
    the Zipfian read and a bulge at low bands says head-heavy (template/
    boilerplate corpus), at high bands says long-tail-heavy (noisy OCR /
    ID-like tokens). fr_max/fr_min bound the classic f·r ≈ C constancy
    diagnostic per band — all integer-exact, the band from the pure-
    comparison ladder (grafo_grados discipline: no float log2 ulp at
    power-of-two boundaries). Shape: one token explode + one vocab
    aggregation + ONE vocab-sized global sort (vocabulary is corpus-
    sublinear by Heaps — at 100 TB the frequency table is the small
    derived table, exactly what busqueda_bm25's idf build sorts too) +
    a bands-sized roll-up."""
    from etl_python_airflow_bigquery_spark.functions import _log2_ladder

    docs = load_table(spark, sf_dir, "documents")
    tokens = docs.select(F.explode(F.split("text", " ")).alias("tok")).where(
        F.col("tok") != ""
    )
    frecuencia = tokens.groupBy("tok").agg(F.count(F.lit(1)).alias("f"))
    w = Window.orderBy(F.col("f").desc(), F.col("tok"))
    rangos = frecuencia.withColumn("r", F.row_number().over(w))
    total = frecuencia.agg(F.sum("f").alias("n"))
    return (
        rangos.crossJoin(F.broadcast(total))
        .groupBy(F.expr(_log2_ladder("r", cap=30)).cast("int").alias("banda_log2"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("tipos"),
            F.sum("f").cast("bigint").alias("ocurrencias"),
            F.expr("CAST((1000 * sum(f)) div any_value(n) AS BIGINT)").alias(
                "masa_mili"
            ),
            F.max("f").cast("bigint").alias("f_max"),
            F.min("f").cast("bigint").alias("f_min"),
            F.max(F.col("f") * F.col("r")).cast("bigint").alias("fr_max"),
            F.min(F.col("f") * F.col("r")).cast("bigint").alias("fr_min"),
        )
    )


from etl_python_airflow_bigquery_spark.queries import REGISTRY as _REGISTRY_Z  # noqa: E402

_REGISTRY_Z["ley_zipf"].oracle = _zipf_oracle()


# --------------------------------------------------------------------------
# Phrase search — adjacent-bigram index, deterministic corpus phrase
# --------------------------------------------------------------------------

_FRASES_TOP = 10

_FRASES_ORACLE = f"""
WITH d AS (
    SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
bigramas AS (
    SELECT doc_id,
           d.toks[CAST(g.i AS INT)] AS t1,
           d.toks[CAST(g.i + 1 AS INT)] AS t2
    FROM d, LATERAL unnest(generate_series(1, len(d.toks) - 1)) AS g(i)
    WHERE d.toks[CAST(g.i AS INT)] != '' AND d.toks[CAST(g.i + 1 AS INT)] != ''
),
frase AS (
    SELECT t1, t2 FROM bigramas
    GROUP BY 1, 2 ORDER BY count(*) DESC, t1, t2 LIMIT 1
),
ocurrencias AS (
    SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_ocurrencias
    FROM bigramas b JOIN frase f ON b.t1 = f.t1 AND b.t2 = f.t2
    GROUP BY 1
)
SELECT o.doc_id,
       f.t1 || ' ' || f.t2 AS frase,
       o.n_ocurrencias,
       CAST(row_number() OVER (ORDER BY o.n_ocurrencias DESC, o.doc_id)
            AS BIGINT) AS pos
FROM ocurrencias o CROSS JOIN frase f
ORDER BY pos LIMIT {_FRASES_TOP}
"""


@register("busqueda_frases", oracle=_FRASES_ORACLE, ops=("TX1", "O7", "O1"),
          driver=False)
def busqueda_frases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PHRASE (adjacency) SEARCH — the positional face of the inverted
    index: adjacent-token bigrams generate MAP-SIDE from each doc's
    split array (transform over positions — no posexplode self-join,
    no position-keyed shuffle), the query phrase is the corpus's most
    frequent bigram (deterministic and scale-factor-proof like
    busqueda_invertida's term policy), and matching docs rank by
    occurrence count, top-10 via TakeOrdered. Shuffles: the bigram
    aggregation and the per-doc occurrence roll-up — both
    partial-aggregable; the phrase itself broadcasts back."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    bigramas = docs.select(
        "doc_id",
        F.explode(
            # Guard the positional fan-out by size: a single-token or
            # empty/NULL-text doc has no adjacent pair, and an unguarded
            # sequence(1, size-1) would force i=1 with toks[1] out of
            # bounds — a hard INVALID_ARRAY_INDEX under ANSI mode.
            F.expr(
                "CASE WHEN size(toks) >= 2 THEN "
                "filter(transform(sequence(1, size(toks) - 1), "
                "i -> struct(toks[i-1] AS t1, toks[i] AS t2)), "
                "p -> p.t1 != '' AND p.t2 != '') "
                "ELSE cast(array() AS array<struct<t1:string,t2:string>>) END"
            )
        ).alias("b"),
    ).select("doc_id", F.col("b.t1").alias("t1"), F.col("b.t2").alias("t2"))
    frase = (
        bigramas.groupBy("t1", "t2")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), "t1", "t2")
        .limit(1)
        .select("t1", "t2")
    )
    ocurrencias = bigramas.join(F.broadcast(frase), ["t1", "t2"]).groupBy(
        "doc_id"
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_ocurrencias"))
    # top docs for a common phrase can be corpus-sized — rank via
    # TakeOrderedAndProject, not an unpartitioned window (VERDICT r11)
    return (
        ranked_topk(
            ocurrencias.crossJoin(F.broadcast(frase)).select(
                "doc_id",
                F.concat_ws(" ", "t1", "t2").alias("frase"),
                "n_ocurrencias",
            ),
            _FRASES_TOP,
            [F.col("n_ocurrencias").desc(), F.col("doc_id")],
            "pos",
        )
        .withColumn("pos", F.col("pos").cast("bigint"))
        .orderBy("pos")
    )


# --------------------------------------------------------------------------
# Gopher quality-filter rules — the published heuristic gate, rule-by-rule
# --------------------------------------------------------------------------

# Thresholds follow the published Gopher/MassiveText rule set (Rae et
# al. 2021 §A1.1), scaled to the synthetic corpus's short docs: word
# count bounds, mean-word-length band, symbol-to-word ratio cap,
# alphabetic-word share floor, stop-word presence. Every ratio test is a
# CLEARED INEQUALITY over integers (a·x ≥ b·y), so both engines decide
# each rule bit-identically — no float thresholds.
_GOPHER_MIN_WORDS, _GOPHER_MAX_WORDS = 5, 100_000
# mean word length in [3, 12]:  3·words ≤ chars ≤ 12·words
_GOPHER_MWL_LO, _GOPHER_MWL_HI = 3, 12
# symbol-to-word ratio < 0.1:   10·symbols < words
# alpha-word share ≥ 0.8:       5·alpha_words ≥ 4·words
# stop-word rule: ≥ 2 DISTINCT stop-list words present

# Shared Gopher-rules CTE prefix (tok -> por_doc -> reglas): consumed by
# reglas_gopher's per-rule report and calibracion_calidad's validity
# audit — one rule definition, two read-outs (the _RANKINGS_CTES
# pattern).
_GOPHER_REGLAS_CTES = f"""tok AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS w
    FROM documents
),
por_doc AS (
    SELECT doc_id,
           CAST(count(*) FILTER (w != '') AS BIGINT) AS palabras,
           CAST(coalesce(sum(len(w)) FILTER (w != ''), 0) AS BIGINT) AS chars,
           CAST(count(*) FILTER (regexp_matches(w, '[#@%$]')) AS BIGINT)
               AS simbolos,
           CAST(count(*) FILTER (regexp_matches(w, '[A-Za-z]')) AS BIGINT)
               AS alfa,
           CAST(count(DISTINCT w)
                FILTER (list_contains({_STOP_LIST_SQL}, w)) AS BIGINT)
               AS stops
    FROM tok GROUP BY doc_id
),
reglas AS (
    SELECT doc_id,
           palabras BETWEEN {_GOPHER_MIN_WORDS} AND {_GOPHER_MAX_WORDS}
               AS r_palabras,
           {_GOPHER_MWL_LO} * palabras <= chars
               AND chars <= {_GOPHER_MWL_HI} * palabras AS r_longitud,
           10 * simbolos < palabras AS r_simbolos,
           5 * alfa >= 4 * palabras AS r_alfa,
           stops >= 2 AS r_stops
    FROM por_doc
)"""

_GOPHER_ORACLE = f"""
WITH {_GOPHER_REGLAS_CTES},
largo AS (
    SELECT 'palabras' AS regla, r_palabras AS ok FROM reglas
    UNION ALL SELECT 'longitud_media', r_longitud FROM reglas
    UNION ALL SELECT 'simbolos', r_simbolos FROM reglas
    UNION ALL SELECT 'alfabeticas', r_alfa FROM reglas
    UNION ALL SELECT 'stopwords', r_stops FROM reglas
    UNION ALL SELECT 'todas',
        r_palabras AND r_longitud AND r_simbolos AND r_alfa AND r_stops
    FROM reglas
)
SELECT regla,
       CAST(count(*) AS BIGINT) AS docs,
       CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS aprobados,
       CAST(1000 * sum(CASE WHEN ok THEN 1 ELSE 0 END) // count(*) AS BIGINT)
           AS tasa_milli
FROM largo GROUP BY regla
"""


def gopher_flags(docs: DataFrame) -> DataFrame:
    """Per-document Gopher rule bits as a PURE PROJECTION — higher-order
    functions over the split array (filter/aggregate/array_intersect),
    no explode, no per-doc shuffle. Stateless, so the SAME definition
    runs on a batch frame (reglas_gopher) and on a document STREAM
    (streaming_reglas_calidad) — one rule set, two execution modes.
    Emits (doc_id, source, r_*..., aprobado)."""
    stops_arr = "array(" + ", ".join(f"'{w}'" for w in STOPWORDS) + ")"
    base = docs.select(
        "doc_id",
        "source",
        F.expr("size(filter(split(text, ' '), w -> w != ''))")
        .cast("long")
        .alias("palabras"),
        F.expr(
            "aggregate(filter(split(text, ' '), w -> w != ''), 0L, "
            "(a, w) -> a + length(w))"
        ).cast("long").alias("chars"),
        F.expr("size(filter(split(text, ' '), w -> w rlike '[#@%$]'))")
        .cast("long")
        .alias("simbolos"),
        F.expr("size(filter(split(text, ' '), w -> w rlike '[A-Za-z]'))")
        .cast("long")
        .alias("alfa"),
        F.expr(
            f"size(array_intersect(array_distinct(split(text, ' ')), {stops_arr}))"
        ).cast("long").alias("stops"),
    )
    reglas = base.select(
        "doc_id",
        "source",
        F.col("palabras").between(_GOPHER_MIN_WORDS, _GOPHER_MAX_WORDS).alias(
            "r_palabras"
        ),
        (
            (F.lit(_GOPHER_MWL_LO) * F.col("palabras") <= F.col("chars"))
            & (F.col("chars") <= F.lit(_GOPHER_MWL_HI) * F.col("palabras"))
        ).alias("r_longitud"),
        (F.lit(10) * F.col("simbolos") < F.col("palabras")).alias("r_simbolos"),
        (F.lit(5) * F.col("alfa") >= F.lit(4) * F.col("palabras")).alias("r_alfa"),
        (F.col("stops") >= 2).alias("r_stops"),
    )
    return reglas.withColumn(
        "aprobado",
        F.col("r_palabras")
        & F.col("r_longitud")
        & F.col("r_simbolos")
        & F.col("r_alfa")
        & F.col("r_stops"),
    )


@register("reglas_gopher", oracle=_GOPHER_ORACLE, ops=("TX2", "A8", "A9"), driver=False)
def reglas_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The GOPHER QUALITY-FILTER rule set (Rae et al. 2021's
    MassiveText heuristics — the published gate real pre-training
    pipelines run before dedup): word-count bounds, mean-word-length
    band, symbol-to-word cap, alphabetic-share floor, and stop-word
    presence, evaluated per document and reported RULE BY RULE (docs
    checked / passed / milli pass-rate, plus the conjunction row
    'todas') — the breakdown a curation review reads to see WHICH
    heuristic is eating the corpus. Complements `text_quality` (scalar
    score) and `corpus_curado` (the applied gate) with the auditable
    per-rule view.

    Every ratio is a cleared integer inequality, so the rule bits are
    engine-identical. Shape: the rule bits are a PURE PROJECTION
    (higher-order functions over the split array — `gopher_flags`,
    shared with the streaming gate), so the ONLY shuffle in the whole
    query is the 6-row rule roll-up after a map-side rule-array
    explode — the corpus is scanned once, nothing doc-grain ever
    exchanges."""
    docs = load_table(spark, sf_dir, "documents")
    reglas = gopher_flags(docs)
    largo = reglas.select(
        F.explode(
            F.expr(
                "array(struct('palabras' AS regla, r_palabras AS ok), "
                "struct('longitud_media' AS regla, r_longitud AS ok), "
                "struct('simbolos' AS regla, r_simbolos AS ok), "
                "struct('alfabeticas' AS regla, r_alfa AS ok), "
                "struct('stopwords' AS regla, r_stops AS ok), "
                "struct('todas' AS regla, (r_palabras AND r_longitud "
                "AND r_simbolos AND r_alfa AND r_stops) AS ok))"
            )
        ).alias("e")
    ).select(F.col("e.regla").alias("regla"), F.col("e.ok").alias("ok"))
    return largo.groupBy("regla").agg(
        F.count(F.lit(1)).cast("bigint").alias("docs"),
        F.sum(F.when(F.col("ok"), 1).otherwise(0)).cast("bigint").alias("aprobados"),
        F.expr(
            "(1000 * sum(CASE WHEN ok THEN 1 ELSE 0 END)) div count(*)"
        ).cast("bigint").alias("tasa_milli"),
    )


# --------------------------------------------------------------------------
# Quality-score calibration — do the Gopher rules predict duplication?
# --------------------------------------------------------------------------

_CALIBRACION_ORACLE = f"""
WITH {_GOPHER_REGLAS_CTES},
familias AS (
    SELECT md5(text) AS h, count(*) AS n FROM documents GROUP BY 1
),
docdup AS (
    SELECT d.doc_id, CASE WHEN f.n > 1 THEN 1 ELSE 0 END AS dup
    FROM documents d JOIN familias f ON md5(d.text) = f.h
),
puntos AS (
    SELECT doc_id,
           CAST(r_palabras AS INT) + CAST(r_longitud AS INT)
           + CAST(r_simbolos AS INT) + CAST(r_alfa AS INT)
           + CAST(r_stops AS INT) AS reglas_ok
    FROM reglas
)
SELECT CAST(p.reglas_ok AS BIGINT) AS reglas_ok,
       CAST(count(*) AS BIGINT) AS docs,
       CAST(sum(d.dup) AS BIGINT) AS duplicados,
       CAST(1000 * sum(d.dup) // count(*) AS BIGINT) AS tasa_dup_mili
FROM puntos p JOIN docdup d USING (doc_id)
GROUP BY 1
"""


@register("calibracion_calidad", oracle=_CALIBRACION_ORACLE,
          ops=("TX2", "DD1", "A8"), driver=False)
def calibracion_calidad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUALITY-SCORE CALIBRATION audit: bucket documents by how many
    Gopher rules they pass (0-5, the shared `gopher_flags` projection)
    and measure each bucket's EXACT-DUPLICATE rate (md5 family size
    > 1) — the cheap validity check a curation pipeline runs before
    trusting a heuristic score as a sampling weight. If low-rule-count
    buckets are not enriched in duplicates (boilerplate and template
    spam duplicate heavily), the score is not measuring what the
    pipeline assumes, and weighting by it just reshuffles noise. The
    same readout generalizes to any label: swap the dup flag for a
    downstream-model loss decile and the calibration audit is identical
    Spark shape.

    Shape: the rule bits are gopher_flags' pure projection (no explode,
    no shuffle); the dup flag is one md5-partition window count; the
    join is doc-grain and the output is 6 buckets."""
    docs = load_table(spark, sf_dir, "documents")
    bits = gopher_flags(docs).select(
        "doc_id",
        (
            F.col("r_palabras").cast("int")
            + F.col("r_longitud").cast("int")
            + F.col("r_simbolos").cast("int")
            + F.col("r_alfa").cast("int")
            + F.col("r_stops").cast("int")
        ).alias("reglas_ok"),
    )
    wdup = Window.partitionBy(F.md5("text"))
    dup = docs.select(
        "doc_id",
        (F.count(F.lit(1)).over(wdup) > 1).cast("int").alias("dup"),
    )
    return (
        bits.join(dup, "doc_id")
        .groupBy("reglas_ok")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("docs"),
            F.sum("dup").cast("bigint").alias("duplicados"),
            F.expr("CAST((1000 * sum(dup)) div count(1) AS BIGINT)").alias(
                "tasa_dup_mili"
            ),
        )
        .select(
            F.col("reglas_ok").cast("bigint").alias("reglas_ok"),
            "docs",
            "duplicados",
            "tasa_dup_mili",
        )
    )


# --------------------------------------------------------------------------
# Language-ID confusion matrix — classifier audit against gold labels
# --------------------------------------------------------------------------

_CONFUSION_ORACLE = f"""
SELECT lang_real, lang_pred,
       CAST(count(*) AS BIGINT) AS docs,
       CAST(1000 * count(*)
            // sum(count(*)) OVER (PARTITION BY lang_real) AS BIGINT)
           AS share_real_milli
FROM ({_LANG_ORACLE}) AS pred
GROUP BY lang_real, lang_pred
"""


@register("idioma_confusion", oracle=_CONFUSION_ORACLE, ops=("TX3", "A8", "W1"),
          driver=False, bench=True)
def idioma_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONFUSION MATRIX of the n-gram language classifier against the
    corpus's gold ``lang`` labels — the audit that decides whether the
    lang-ID gate is safe to run before language-filtered curation
    (diagonal rows ARE per-language accuracy; off-diagonal mass shows
    which languages bleed into which). Composes `lang_id_ngram`'s
    per-doc prediction (the session recomputes it — the frame is
    doc-sized and cheap) with one languages²-bounded aggregation and a
    window share per gold label; milli-floored so both engines agree
    exactly. At scale the matrix is languages² rows regardless of
    corpus size."""
    from pyspark.sql import Window

    pred = lang_id_ngram(spark, sf_dir)
    w = Window.partitionBy("lang_real")
    return (
        pred.groupBy("lang_real", "lang_pred")
        .agg(F.count(F.lit(1)).cast("bigint").alias("docs"))
        .select(
            "lang_real",
            "lang_pred",
            "docs",
            F.expr("(1000 * docs) div (sum(docs) OVER (PARTITION BY lang_real))")
            .cast("bigint")
            .alias("share_real_milli"),
        )
    )


# --------------------------------------------------------------------------
# Dedup-induced source-mix shift — the distribution-bias audit
# --------------------------------------------------------------------------

_SESGO_ORACLE = """
WITH kept AS (
    SELECT CAST(min(doc_id) AS BIGINT) AS doc_id
    FROM documents GROUP BY md5(text)
),
antes AS (
    SELECT source, CAST(count(*) AS BIGINT) AS docs_antes
    FROM documents GROUP BY 1
),
despues AS (
    SELECT d.source, CAST(count(*) AS BIGINT) AS docs_despues
    FROM documents d JOIN kept k USING (doc_id) GROUP BY 1
),
tot AS (
    SELECT CAST(sum(docs_antes) AS BIGINT) AS n_antes,
           CAST((SELECT sum(docs_despues) FROM despues) AS BIGINT) AS n_despues
    FROM antes
)
SELECT a.source, a.docs_antes, d.docs_despues,
       CAST(1000 * a.docs_antes // t.n_antes AS BIGINT) AS share_antes_milli,
       CAST(1000 * d.docs_despues // t.n_despues AS BIGINT)
           AS share_despues_milli,
       CAST(1000 * d.docs_despues // t.n_despues
            - 1000 * a.docs_antes // t.n_antes AS BIGINT) AS sesgo_milli
FROM antes a JOIN despues d USING (source) CROSS JOIN tot t
"""


@register("sesgo_duplicados", oracle=_SESGO_ORACLE, ops=("DD1", "A8", "A3"),
          driver=False)
def sesgo_duplicados(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEDUP-INDUCED DISTRIBUTION SHIFT: per-source corpus share BEFORE
    vs AFTER exact dedup (first-occurrence-wins, the dedup_exact
    contract) and the milli-point shift between them — the audit that
    catches a dedup pass silently rebalancing the training mixture
    (template-heavy sources lose share; the mixture weights planned on
    the RAW corpus no longer hold). Shape: one hash aggregation for
    the keep set, two source-grain counts, scalar totals broadcast
    back — sources-sized output at any corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    kept = docs.groupBy(F.md5("text")).agg(
        F.min("doc_id").cast("long").alias("doc_id")
    ).select("doc_id")
    antes = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("docs_antes")
    )
    despues = docs.join(kept, "doc_id").groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("docs_despues")
    )
    tot = antes.agg(F.sum("docs_antes").cast("long").alias("n_antes")).crossJoin(
        despues.agg(F.sum("docs_despues").cast("long").alias("n_despues"))
    )
    return (
        antes.join(despues, "source")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "docs_antes",
            "docs_despues",
            F.expr("(1000 * docs_antes) div n_antes")
            .cast("bigint")
            .alias("share_antes_milli"),
            F.expr("(1000 * docs_despues) div n_despues")
            .cast("bigint")
            .alias("share_despues_milli"),
            F.expr(
                "(1000 * docs_despues) div n_despues"
                " - (1000 * docs_antes) div n_antes"
            ).cast("bigint").alias("sesgo_milli"),
        )
    )


# --------------------------------------------------------------------------
# Incremental span dedup — the batch probes the stored window index
# --------------------------------------------------------------------------

_SUBC_INC_ORACLE = f"""
WITH ventanas AS (
    SELECT doc_id,
           substring(text, CAST(g.i * {_SUBC_S} + 1 AS INT), {_SUBC_W}) AS w
    FROM documents,
         LATERAL unnest(generate_series(0,
             (length(text) - {_SUBC_W}) // {_SUBC_S})) AS g(i)
    WHERE length(text) >= {_SUBC_W}
),
hs AS (SELECT doc_id, {_hex_hash_sql("w")} AS h FROM ventanas),
indice AS (SELECT DISTINCT h FROM hs WHERE doc_id % 10 != 0),
nuevos AS (SELECT doc_id, h FROM hs WHERE doc_id % 10 = 0)
SELECT n.doc_id,
       CAST(count(*) AS BIGINT) AS q_ventanas,
       CAST(sum(CASE WHEN i.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS q_conocidas,
       CAST(1000 * sum(CASE WHEN i.h IS NOT NULL THEN 1 ELSE 0 END)
            // count(*) AS BIGINT) AS prop_milli
FROM nuevos n LEFT JOIN indice i ON n.h = i.h
GROUP BY n.doc_id
"""


@register("dedup_subcadenas_incremental", oracle=_SUBC_INC_ORACLE,
          ops=("DD1", "TX4", "J2"))
def dedup_subcadenas_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL span dedup — the daily-ingest read path of
    `dedup_subcadenas`: the NEW BATCH (every 10th doc_id) generates its
    window hashes map-side and probes the stored CORPUS window index
    with one hash-keyed equi join — cost ∝ batch windows × index hit
    rate, never corpus². Output per new doc: window count, windows the
    corpus has already seen, and the milli share — the signal a
    streaming curation gate uses to cut already-known spans from
    incoming documents before they reach training shards. The index
    side is exactly what the batch op maintains (`subcadena_hashes` —
    same windows, same hashes); within-batch duplication is the batch
    op's job, this is the cross-corpus probe."""
    hs = subcadena_hashes(load_table(spark, sf_dir, "documents"))
    indice = hs.where(F.col("doc_id") % 10 != 0).select("h").distinct()
    nuevos = hs.where(F.col("doc_id") % 10 == 0)
    return (
        nuevos.join(indice.withColumn("conocida", F.lit(1)), "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("q_ventanas"),
            F.sum(F.coalesce(F.col("conocida"), F.lit(0)))
            .cast("bigint")
            .alias("q_conocidas"),
        )
        .select(
            "doc_id",
            "q_ventanas",
            "q_conocidas",
            F.expr("(1000 * q_conocidas) div q_ventanas")
            .cast("bigint")
            .alias("prop_milli"),
        )
    )


# --------------------------------------------------------------------------
# Context-length accounting — truncation waste per candidate max_len
# --------------------------------------------------------------------------
# The first question when picking a training context length: how much
# of the corpus FITS, and how many tokens fall off the end at each
# candidate limit. The corpus collapses to a LENGTH HISTOGRAM first
# (bounded by distinct doc lengths, not doc count), so the candidate
# grid joins a dim-sized frame — the same reason the lens grid itself
# is a broadcast.

_CONTEXT_LENS = (64, 256, 1024)

_CONTEXTO_ORACLE = f"""
WITH d AS (
    SELECT coalesce(len(list_filter(string_split(text, ' '),
                                    w -> w != '')), 0) AS toks
    FROM documents
),
hist AS (SELECT toks, CAST(count(*) AS BIGINT) AS nd FROM d GROUP BY 1),
lens(max_len) AS (VALUES (64), (256), (1024))
SELECT CAST(l.max_len AS BIGINT) AS max_len,
       CAST(coalesce(sum(CASE WHEN h.toks <= l.max_len THEN h.nd END), 0)
            AS BIGINT) AS docs_completos,
       CAST(coalesce(sum(CASE WHEN h.toks > l.max_len THEN h.nd END), 0)
            AS BIGINT) AS docs_truncados,
       CAST(coalesce(sum(greatest(h.toks - l.max_len, 0) * h.nd), 0)
            AS BIGINT) AS tokens_perdidos,
       CAST(CASE WHEN coalesce(sum(h.toks * h.nd), 0) = 0 THEN 0
            ELSE (1000 * sum(greatest(h.toks - l.max_len, 0) * h.nd))
                 // sum(h.toks * h.nd) END AS BIGINT) AS perdida_milli
FROM lens l LEFT JOIN hist h ON TRUE
GROUP BY 1
"""


@register("longitud_contexto", oracle=_CONTEXTO_ORACLE,
          ops=("TX1", "A8", "J6"), driver=False)
def longitud_contexto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTEXT-LENGTH accounting: for each candidate max_len, how many
    documents fit whole, how many truncate, how many tokens fall off
    the end, and the milli share of the corpus lost to truncation —
    the table that picks a training context length (and feeds the
    packing-efficiency analysis empaquetado_secuencias runs at the
    chosen length).

    Scale shape: per-doc token counts compute map-side, then the corpus
    COLLAPSES to a (length → doc count) histogram — bounded by distinct
    lengths, not documents — before the 3-row candidate grid joins it;
    every downstream row count is lens- or histogram-sized."""
    docs = load_table(spark, sf_dir, "documents")
    hist = (
        docs.select(
            F.coalesce(
                F.size(F.filter(F.split("text", " "), lambda w: w != "")),
                F.lit(0),
            ).cast("bigint").alias("toks")
        )
        .groupBy("toks")
        .agg(F.count(F.lit(1)).cast("bigint").alias("nd"))
    )
    lens = local_df(spark, [(l,) for l in _CONTEXT_LENS], "max_len INT")
    return (
        lens.join(F.broadcast(hist), F.lit(True), "left")
        .groupBy("max_len")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("toks") <= F.col("max_len"), F.col("nd"))),
                F.lit(0),
            ).cast("bigint").alias("docs_completos"),
            F.coalesce(
                F.sum(F.when(F.col("toks") > F.col("max_len"), F.col("nd"))),
                F.lit(0),
            ).cast("bigint").alias("docs_truncados"),
            F.coalesce(
                F.sum(
                    F.greatest(F.col("toks") - F.col("max_len"), F.lit(0))
                    * F.col("nd")
                ),
                F.lit(0),
            ).cast("bigint").alias("tokens_perdidos"),
            F.expr(
                "CASE WHEN coalesce(sum(toks * nd), 0) = 0 THEN 0 "
                "ELSE (1000 * sum(greatest(toks - max_len, 0L) * nd))"
                " div sum(toks * nd) END"
            ).cast("bigint").alias("perdida_milli"),
        )
        .select(
            F.col("max_len").cast("bigint").alias("max_len"),
            "docs_completos",
            "docs_truncados",
            "tokens_perdidos",
            "perdida_milli",
        )
    )


# --------------------------------------------------------------------------
# Hash-space integrity audit — measure the md5-prefix collision claim
# --------------------------------------------------------------------------
# Every dedup/posting join in the engine keys on 60-bit md5-prefix
# int64s with a documented "~1e-6 collisions at 1e6 keys, affecting
# both engines equally" argument. This op MEASURES it instead of
# asserting it: per hash space (word 3-gram shingles; 40-char span
# windows), distinct texts vs distinct hashes — any gap is a real
# collision, and the output doubles as the canary that would catch a
# hashing-discipline regression (e.g. someone shortening the prefix).

_COLISIONES_ORACLE = f"""
WITH gramas AS (
    SELECT DISTINCT w[g.i] || ' ' || w[g.i+1] || ' ' || w[g.i+2] AS texto
    FROM (SELECT string_split(text, ' ') AS w FROM documents) d,
         LATERAL unnest(generate_series(1, len(d.w) - 2)) AS g(i)
    WHERE len(d.w) >= 3
),
ventanas AS (
    SELECT DISTINCT substring(text, CAST(g.i * {_SUBC_S} + 1 AS INT),
                              {_SUBC_W}) AS texto
    FROM documents,
         LATERAL unnest(generate_series(0,
             (length(text) - {_SUBC_W}) // {_SUBC_S})) AS g(i)
    WHERE length(text) >= {_SUBC_W}
)
SELECT * FROM (
SELECT 'shingles' AS espacio,
       CAST(count(*) AS BIGINT) AS textos_distintos,
       CAST(count(DISTINCT {_hex_hash_sql("texto")}) AS BIGINT)
           AS hashes_distintos,
       CAST(count(*) - count(DISTINCT {_hex_hash_sql("texto")}) AS BIGINT)
           AS colisiones
FROM gramas
UNION ALL
SELECT 'ventanas',
       CAST(count(*) AS BIGINT),
       CAST(count(DISTINCT {_hex_hash_sql("texto")}) AS BIGINT),
       CAST(count(*) - count(DISTINCT {_hex_hash_sql("texto")}) AS BIGINT)
FROM ventanas
)
"""


@register("colisiones_hash", oracle=_COLISIONES_ORACLE,
          ops=("TX4", "A2", "A6"), driver=False)
def colisiones_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HASH-SPACE INTEGRITY audit: the engine's posting/dedup joins all
    key on 60-bit md5-prefix int64s under a "collisions are ~1e-6 and
    symmetric" argument — this measures it. Per hash space (word
    3-gram shingles; 40-char span windows): distinct texts, distinct
    hashes, and their gap = actual collisions. Zero is the expected
    reading at these corpus sizes; a nonzero gap (or a regression that
    shortens the prefix) surfaces here before it silently merges
    unrelated documents.

    Shape: two map-side distinct-text sets (the shingle/window
    generators the dedup family already runs), each reduced by one
    exact two-distinct aggregate; output is 2 rows."""
    docs = load_table(spark, sf_dir, "documents")
    gramas = (
        docs.select(F.split("text", " ").alias("w"))
        .where(F.size("w") >= 3)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(0, size(w) - 3),"
                    " i -> concat_ws(' ', w[i], w[i+1], w[i+2]))"
                )
            ).alias("texto")
        )
        .distinct()
    )
    ventanas = (
        docs.where(F.length("text") >= _SUBC_W)
        .select(
            F.explode(
                F.expr(
                    f"transform(sequence(0, (length(text) - {_SUBC_W})"
                    f" div {_SUBC_S}),"
                    f" i -> substring(text, cast(i * {_SUBC_S} + 1 as int),"
                    f" {_SUBC_W}))"
                )
            ).alias("texto")
        )
        .distinct()
    )

    def fila(nombre: str, frame: DataFrame) -> DataFrame:
        return frame.agg(
            F.lit(nombre).alias("espacio"),
            F.count(F.lit(1)).cast("bigint").alias("textos_distintos"),
            F.countDistinct(hex_hash(F.col("texto")))
            .cast("bigint")
            .alias("hashes_distintos"),
            (F.count(F.lit(1)) - F.countDistinct(hex_hash(F.col("texto"))))
            .cast("bigint")
            .alias("colisiones"),
        )

    return fila("shingles", gramas).unionAll(fila("ventanas", ventanas))


# --------------------------------------------------------------------------
# Gopher repetition signals — the quality rules the gate family lacked
# --------------------------------------------------------------------------
# Rae et al. 2021 (Gopher, arXiv:2112.11446, Appendix A) drop documents
# dominated by REPETITION, not just by length/symbol pathologies: the
# duplicate-line fraction and top-n-gram fraction families. The fixture
# corpus is single-line word streams, so the signals take their word
# grain: the share of word occurrences whose word repeats within the
# document, and the share of adjacent-bigram positions held by the most
# frequent bigram. Thresholds follow the published 2-gram cut (0.18)
# and a 0.30 repeated-word cut.

_REP_DUP_MILI = 300
_REP_BIGRAMA_MILI = 180

_REPETICION_ORACLE = f"""
WITH por_doc AS (
    SELECT source,
           len(ws) AS n,
           CAST(1000 * (len(ws) - len(list_filter(list_distinct(ws),
                    w -> len(list_filter(ws, x -> x = w)) = 1)))
                // greatest(len(ws), 1) AS BIGINT) AS dup_mili,
           CAST(1000 * COALESCE(list_max(list_transform(list_distinct(bgs),
                    b -> len(list_filter(bgs, x -> x = b)))), 0)
                // greatest(len(bgs), 1) AS BIGINT) AS bigrama_mili
    FROM (
        SELECT source, ws,
               list_transform(generate_series(1, greatest(len(ws) - 1, 0)),
                              i -> ws[i] || ' ' || ws[i + 1]) AS bgs
        FROM (
            SELECT source,
                   list_filter(string_split(text, ' '), w -> w != '') AS ws
            FROM documents
        )
    )
)
SELECT source,
       CAST(count(*) AS BIGINT) AS docs,
       CAST(sum(dup_mili) // count(*) AS BIGINT) AS promedio_dup_mili,
       CAST(max(bigrama_mili) AS BIGINT) AS max_bigrama_mili,
       CAST(sum(CASE WHEN dup_mili > {_REP_DUP_MILI}
                       OR bigrama_mili > {_REP_BIGRAMA_MILI}
                     THEN 1 ELSE 0 END) AS BIGINT) AS marcados
FROM por_doc
GROUP BY 1
"""


def repeticion_por_doc(docs: DataFrame) -> DataFrame:
    """Per-document repetition signals as a PURE PROJECTION (the
    gopher_flags batch/stream factoring): (doc_id, source, dup_mili,
    bigrama_mili). Stateless, so the SAME definition runs on the batch
    frame (senales_repeticion) and on a document STREAM
    (streaming_senales_repeticion) — one signal set, two modes."""
    base = docs.select(
        "doc_id",
        "source",
        F.expr("filter(split(text, ' '), w -> w != '')").alias("ws"),
    ).select(
        "doc_id",
        "source",
        "ws",
        F.expr(
            "transform(sequence(1, greatest(size(ws) - 1, 0)), "
            "i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1)))"
        ).alias("bgs"),
    )
    return base.select(
        "doc_id",
        "source",
        F.expr(
            "CAST(1000 * (size(ws) - aggregate(array_distinct(ws), 0L, "
            "(a, w) -> a + IF(size(filter(ws, x -> x = w)) = 1, 1L, 0L))) "
            "div greatest(size(ws), 1) AS BIGINT)"
        ).alias("dup_mili"),
        F.expr(
            "CAST(1000 * aggregate(array_distinct(bgs), 0L, "
            "(a, b) -> greatest(a, CAST(size(filter(bgs, x -> x = b)) AS BIGINT))) "
            "div greatest(size(bgs), 1) AS BIGINT)"
        ).alias("bigrama_mili"),
    )


def _rollup_repeticion(por_doc: DataFrame) -> DataFrame:
    """The per-source census over the per-doc signals — shared by the
    batch query and the drained stream so the rollup can never drift."""
    return por_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("docs"),
        F.expr("sum(dup_mili) div count(*)")
        .cast("bigint")
        .alias("promedio_dup_mili"),
        F.max("bigrama_mili").cast("bigint").alias("max_bigrama_mili"),
        F.sum(
            F.when(
                (F.col("dup_mili") > _REP_DUP_MILI)
                | (F.col("bigrama_mili") > _REP_BIGRAMA_MILI),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("marcados"),
    )


@register("senales_repeticion", oracle=_REPETICION_ORACLE,
          ops=("TX2", "A8", "A3"), driver=True)
def senales_repeticion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GOPHER REPETITION SIGNALS (Rae et al. 2021 Appendix A — the
    quality-rule family ``reglas_gopher`` does NOT cover): per document,
    the floor-milli share of word occurrences whose word repeats inside
    the document and the floor-milli share of adjacent-bigram positions
    held by the single most frequent bigram; per source, the census a
    curation pipeline thresholds on (mean repeated-word share, worst
    top-bigram share, documents breaking either published cut). All
    map-only higher-order array expressions — per-doc cost is
    O(words × distinct words), bounded by the document, zero shuffles
    before the per-source rollup, no UDFs; at 100 TB throughput is
    scan-bound exactly like the Gopher gate itself."""
    docs = load_table(spark, sf_dir, "documents")
    return _rollup_repeticion(repeticion_por_doc(docs))
