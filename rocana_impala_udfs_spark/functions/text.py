"""Text-analysis functions for LLM training-data pipelines.

Part of the north-star extension surface (BASELINE.json): language ID,
quality scoring, token counting, and document fingerprinting over
``documents(text)``. Built on the same registration surface as
``appx_median_bounded`` (SURVEY §2.2 "UDF/UDAF surface").

Design rule: everything that CAN be a built-in column expression IS one
(JVM-side, codegen, pushdown-friendly); Python only where genuinely needed
(language ID's n-gram profiles, SimHash bit twiddling) and then always as
Arrow-vectorized pandas UDFs, never row-at-a-time.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from rocana_impala_udfs_spark.sources.io import ensure_parallelism

# ---------------------------------------------------------------------------
# Pure column expressions (JVM path — preferred)
# ---------------------------------------------------------------------------


def normalize_text(col: Column | str) -> Column:
    """Lowercase + collapse runs of whitespace to single spaces + trim."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def token_count(col: Column | str) -> Column:
    """Whitespace token count (0 for empty/blank strings)."""
    t = normalize_text(col)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(F.size(F.split(t, " ")))


def bpe_ish_token_count(col: Column | str) -> Column:
    """BPE-flavored token estimate: alpha runs + single digits + punctuation,
    counted with a regex (JVM ``regexp_count``)."""
    return F.regexp_count(F.col(col) if isinstance(col, str) else col, F.lit(r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"))


def punct_ratio(col: Column | str) -> Column:
    """Fraction of characters that are ASCII punctuation."""
    c = F.col(col) if isinstance(col, str) else col
    n = F.length(c)
    punct = n - F.length(F.regexp_replace(c, r"[!-/:-@\[-`{-~]", ""))
    return F.when(n == 0, F.lit(0.0)).otherwise(punct.cast("double") / n.cast("double"))


_STOPWORDS_EN = [
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it", "for", "on", "with", "as", "at", "by",
]


def stopword_ratio(col: Column | str, stopwords: list[str] | None = None) -> Column:
    """Fraction of whitespace tokens that are (English) stopwords."""
    words = F.split(normalize_text(col), " ")
    sw = F.array(*[F.lit(w) for w in (stopwords or _STOPWORDS_EN)])
    hits = F.size(F.filter(words, lambda w: F.array_contains(sw, w)))
    total = F.size(words)
    return F.when(total == 0, F.lit(0.0)).otherwise(hits.cast("double") / total.cast("double"))


def quality_score(col: Column | str) -> Column:
    """Heuristic [0,1] document quality: rewards moderate length and
    stopword presence, penalizes punctuation soup. Deterministic composition
    of JVM expressions (oracle-replicable in ANSI SQL)."""
    c = F.col(col) if isinstance(col, str) else col
    len_score = F.least(F.length(c).cast("double") / F.lit(500.0), F.lit(1.0))
    sw_score = F.least(stopword_ratio(c) * 4.0, F.lit(1.0))
    punct_pen = F.greatest(F.lit(0.0), F.lit(1.0) - punct_ratio(c) * 4.0)
    return F.round((len_score + sw_score + punct_pen) / 3.0, 6)


def doc_fingerprint(col: Column | str) -> Column:
    """Deterministic content fingerprint: md5 of normalized text.
    Identical normalization + md5 exist in DuckDB, so exact-dup detection is
    oracle-checkable end to end."""
    return F.md5(normalize_text(col))


def char_ngrams(col: Column | str, n: int = 3) -> Column:
    """Array of character n-grams of the normalized text (JVM-side via
    sequence+substring — no Python)."""
    t = normalize_text(col)
    count = F.length(t) - (n - 1)
    return F.when(count <= 0, F.array().cast("array<string>")).otherwise(
        F.transform(F.sequence(F.lit(1), count), lambda i: t.substr(i, F.lit(n)))
    )


def word_shingles(col: Column | str, k: int = 3) -> Column:
    """Array of k-word shingles (space-joined) of normalized text."""
    words = F.split(normalize_text(col), " ")
    count = F.greatest(F.size(words) - (k - 1), F.lit(0))
    idx = F.sequence(F.lit(0), count - 1)
    return F.when(count <= 0, F.array().cast("array<string>")).otherwise(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(words, i + 1, k)))
    )


def _run_lengths(s: Column) -> Column:
    """Run lengths of a SORTED token array, via primitive-int HOFs only
    (filter/zip_with over index sequences — no per-element struct
    allocation, which makes the interpreted lambda path ~10x faster than an
    ``aggregate`` fold with a struct accumulator). ``size(result)`` is the
    distinct count; ``array_max`` the top frequency; runs equal to 1 are
    the singleton tokens."""
    n = F.size(s)
    seq = F.when(n == 0, F.array().cast("array<int>")).otherwise(
        F.sequence(F.lit(0), n - 1)
    )
    # 0-based positions where a new run starts (element differs from its
    # predecessor); element_at is 1-based.
    starts = F.filter(seq, lambda i: (i == 0) | (F.element_at(s, i + 1) != F.element_at(s, i)))
    shifted = F.concat(
        F.slice(starts, 2, F.greatest(F.size(starts) - 1, F.lit(0))), F.array(n)
    )
    return F.zip_with(starts, shifted, lambda a, b: b - a)


def repetition_profile(df, text_col: str = "text", id_col: str = "doc_id"):
    """Per-document repetition signals (Gopher-rules style quality gates):
    ``top_word_frac`` (most frequent word / total words), ``dup_word_frac``
    (fraction of word occurrences beyond the first of each distinct word),
    ``dup_bigram_frac`` (fraction of bigram occurrences in bigrams seen
    more than once in the doc).

    Shuffle-free by construction: every signal is a per-row expression over
    the sorted word / bigram arrays (``_run_lengths``), so the operator is
    embarrassingly parallel map-side work at any scale — vs the obvious
    explode + groupBy(doc, token) alternative, which shuffles every token
    occurrence. (The one repartition below only widens small test inputs;
    a 100 TB scan already has wide parallelism and skips it.)
    Returns ``(id_col, top_word_frac, dup_word_frac, dup_bigram_frac)``.
    """
    df = ensure_parallelism(df)
    words = F.split(normalize_text(text_col), " ")
    base = df.select(
        F.col(id_col),
        F.array_sort(words).alias("ws"),
        F.array_sort(word_shingles(text_col, 2)).alias("bs"),
    )
    wruns = _run_lengths(F.col("ws"))
    bruns = _run_lengths(F.col("bs"))
    nw = F.size("ws").cast("double")
    nb = F.greatest(F.size("bs"), F.lit(1)).cast("double")
    return base.select(
        id_col,
        F.round(F.coalesce(F.array_max(wruns), F.lit(0)) / nw, 6).alias("top_word_frac"),
        F.round(F.lit(1.0) - F.size(wruns) / nw, 6).alias("dup_word_frac"),
        F.round(
            (F.size("bs") - F.size(F.filter(bruns, lambda r: r == F.lit(1)))) / nb, 6
        ).alias("dup_bigram_frac"),
    )


# ---------------------------------------------------------------------------
# Pandas UDFs (Python path — only where expressions can't express it)
# ---------------------------------------------------------------------------

# Tiny per-language stopword/character profiles for the n-gram heuristic.
_LANG_PROFILES: dict[str, set[str]] = {
    "en": {"the", "and", "of", "to", "in", "is", "it", "for", "that", "with"},
    "de": {"der", "die", "das", "und", "ist", "nicht", "ein", "mit", "für", "auf"},
    "es": {"el", "la", "los", "las", "que", "de", "y", "es", "en", "un", "una", "por"},
    "fr": {"le", "la", "les", "et", "est", "un", "une", "des", "du", "pour", "que"},
    "it": {"il", "la", "che", "di", "e", "un", "una", "per", "con", "sono"},
    "pt": {"o", "a", "os", "as", "que", "de", "e", "um", "uma", "para", "não"},
}


def _detect_lang(text: str) -> str:
    if not text:
        return "und"
    # CJK detection by codepoint ratio.
    cjk = sum(1 for ch in text[:400] if "一" <= ch <= "鿿")
    if cjk > max(4, 0.05 * min(len(text), 400)):
        return "zh"
    words = text.lower().split()
    if not words:
        return "und"
    best, best_hits = "und", 0
    for lang, prof in _LANG_PROFILES.items():
        hits = sum(1 for w in words if w in prof)
        if hits > best_hits:
            best, best_hits = lang, hits
    return best


def make_lang_id_udf():
    """N-gram/stopword-heuristic language ID (und = undetermined)."""

    @pandas_udf("string")
    def lang_id(texts: pd.Series) -> pd.Series:
        return texts.fillna("").map(_detect_lang)

    return lang_id


# ---------------------------------------------------------------------------
# SimHash + positional fingerprints — 100% JVM expressions (no Python UDF)
# ---------------------------------------------------------------------------
#
# Both fingerprints share one 60-bit per-token hash that Spark and DuckDB
# compute identically: the first 15 hex chars of md5, parsed as an integer
# (Spark ``conv(.., 16, 10)`` == DuckDB ``CAST('0x..' AS BIGINT)``), so the
# whole family is oracle-checkable value-for-value. Charikar SimHash
# (public algorithm) per the reference's near-dup charter; the positional
# fingerprint replaces the old per-character Python rolling hash with an
# order-sensitive JVM formulation: bit_xor of hash("<pos>:<token>").

SIMHASH_BITS = 60

_TOKENS_EXPR = r"filter(split(lower(coalesce({col}, '')), '\\s+'), t -> t <> '')"


def token_hash_sql(tok_sql: str) -> str:
    """SQL fragment: 60-bit md5-derived hash of an expression (JVM, and
    mirrored 1:1 in the DuckDB oracles)."""
    return f"cast(conv(substring(md5({tok_sql}), 1, 15), 16, 10) as bigint)"


def simhash_fingerprints(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    positional: bool = False,
):
    """Per-document fingerprints, entirely in JVM expressions.

    Returns ``(id_col, simhash)`` (+ ``posfp`` when ``positional``): tokens
    are posexploded once, hashed with :func:`token_hash_sql`, and reduced in
    one map-side-combining groupBy — 60 ``sum`` aggregates (one per bit,
    +1/-1 votes) assemble the SimHash; ``bit_xor`` over position-salted
    hashes yields the order-sensitive fingerprint. Empty documents get
    fingerprint 0 via the left join (explode drops them). One shuffle total,
    keyed on the document id — scale-safe at any corpus size.
    """
    # widen a narrow (single-file) scan before the explode+hash: the
    # fixture tables are one row group, so without this the whole
    # fingerprint map side runs in ONE task (r16, guide §2.5 — no-op on a
    # wide production scan)
    df = ensure_parallelism(df)
    toks = df.select(
        F.col(id_col),
        F.posexplode(F.expr(_TOKENS_EXPR.format(col=text_col))).alias("pos", "tok"),
    ).withColumn("h", F.expr(token_hash_sql("tok")))
    aggs = [
        F.sum(F.expr(f"((h >> {i}) & 1) * 2 - 1")).alias(f"b{i}") for i in range(SIMHASH_BITS)
    ]
    if positional:
        # 1-based positions to match DuckDB's 1-based list_transform index.
        toks = toks.withColumn(
            "ph", F.expr(token_hash_sql("concat(cast(pos + 1 as string), ':', tok)"))
        )
        aggs.append(F.expr("bit_xor(ph)").alias("_posfp"))
    agg = toks.groupBy(id_col).agg(*aggs)
    assemble = sum(
        [F.when(F.col(f"b{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0)) for i in range(SIMHASH_BITS)],
        F.lit(0).cast("long"),
    )
    cols = [F.col(id_col), assemble.alias("simhash")]
    if positional:
        cols.append(F.col("_posfp").alias("posfp"))
    fps = agg.select(*cols)
    out = df.select(id_col).join(fps, id_col, "left")
    fills = [F.coalesce("simhash", F.lit(0)).alias("simhash")]
    if positional:
        fills.append(F.coalesce("posfp", F.lit(0)).alias("posfp"))
    return out.select(id_col, *fills)


def simhash_oracle_sql(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    positional: bool = False,
) -> str:
    """DuckDB mirror of :func:`simhash_fingerprints` — same tokenization,
    same 60-bit md5 token hash, same bit votes; used to build oracles."""
    toklist = f"list_filter(string_split_regex(lower(coalesce({text_col}, '')), '\\s+'), t -> t <> '')"
    pos_sel = (
        f", unnest(list_transform({toklist}, (x, i) -> concat(CAST(i AS VARCHAR), ':', x))) AS ptok"
        if positional
        else ""
    )
    bit_terms = ", ".join(f"sum(((h >> {i}) & 1) * 2 - 1) AS b{i}" for i in range(SIMHASH_BITS))
    pos_term = ", bit_xor(CAST(concat('0x', substring(md5(ptok), 1, 15)) AS BIGINT)) AS posfp" if positional else ""
    assemble = " + ".join(f"(CASE WHEN b{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(SIMHASH_BITS))
    pos_out = ", coalesce(s.posfp, 0) AS posfp" if positional else ""
    return f"""
WITH _toks AS (
  SELECT {id_col}, unnest({toklist}) AS tok{pos_sel} FROM {table}
), _hashed AS (
  SELECT {id_col}, CAST(concat('0x', substring(md5(tok), 1, 15)) AS BIGINT) AS h
         {', ptok' if positional else ''}
  FROM _toks
), _sums AS (
  SELECT {id_col}, {bit_terms}{pos_term} FROM _hashed GROUP BY {id_col}
), _fps AS (
  SELECT {id_col}, {assemble} AS simhash{', posfp' if positional else ''} FROM _sums
)
SELECT d.{id_col}, coalesce(s.simhash, 0) AS simhash{pos_out}
FROM {table} d LEFT JOIN _fps s USING ({id_col})
"""


def register(spark: SparkSession) -> None:
    """Register the SQL-callable text functions. SimHash / positional
    fingerprints are table-level transforms (they aggregate over tokens),
    not scalar UDFs — see :func:`simhash_fingerprints`."""
    spark.udf.register("lang_id", make_lang_id_udf())


def md5_bucket(col: Column | str, mod: int) -> Column:
    """Deterministic content-addressed bucket: first 48 bits of md5(col
    as string) mod ``mod``. THE experiment/sampling gate used across the
    A/B and split keys — one definition so a typo can't silently put one
    key's buckets out of sync with the rest (and with their oracles).
    DuckDB mirror: ``CAST(concat('0x', substring(md5(CAST(x AS VARCHAR)),
    1, 12)) AS BIGINT) % mod``."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.conv(F.substring(F.md5(c.cast("string")), 1, 12), 16, 10).cast("bigint")
        % mod
    )
