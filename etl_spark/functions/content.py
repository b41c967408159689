"""Vectorized content transforms — the engine's scalar-function surface.

Replaces the reference's scalar layer (SURVEY §2.7) with functions appropriate
to a source-code change stream. Two tiers, fastest first:

1. JVM built-ins (whole-stage codegen, zero Python) — used on the hot path.
2. Arrow-batched pandas UDFs — only where no built-in exists. Never
   row-at-a-time Python (the reference's own discipline: "avoid row-by-row
   processing", .github/copilot-instructions.md:200-208).
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

# --- sha256: the per-row correctness invariant -------------------------------

def content_sha256(col) -> Column:
    """Hex sha256 of a string column — JVM-side (`sha2`), codegen'd.

    This is the hot-path variant: stays inside whole-stage codegen, no
    Python/Arrow hop at all.
    """
    return F.sha2(F.col(col) if isinstance(col, str) else col, 256)


def sha256_hex(s: str | None) -> str | None:
    """Hex sha256 of one string's UTF-8 bytes (None for None): the value
    `sha2(col, 256)` gives, for paths that hash on the driver."""
    return None if s is None else hashlib.sha256(s.encode("utf-8")).hexdigest()


@F.pandas_udf(T.StringType())
def content_sha256_pandas(content: pd.Series) -> pd.Series:
    """Arrow-batched pandas sha256 (hashlib) — differential check vs `sha2`.

    Kept to prove the vectorized-pandas/Arrow-UDF path mandated by the input
    hint; the Spark ingest tier uses the strictly-faster JVM `sha2`. Tests
    assert bit-equality between the two.
    """
    return content.map(sha256_hex)


# --- lang normalization -------------------------------------------------------

_LANG_CANON = {
    "python": "python", "py": "python",
    "rust": "rust", "rs": "rust",
    "go": "go", "golang": "go",
    "c++": "cpp", "cpp": "cpp", "cxx": "cpp",
    "javascript": "javascript", "js": "javascript",
    "typescript": "typescript", "ts": "typescript",
    "java": "java",
    "c": "c",
    "markdown": "markdown", "md": "markdown",
    "text": "text", "txt": "text",
}


def normalize_lang(col) -> Column:
    """Canonical lowercase language label; unknown/empty -> 'unknown'.

    JVM-side map lookup (create_map + element_at): vectorized, codegen'd —
    no Python. Generalizes the reference's enum normalization (F3,
    transponder_type; create_duckdb_points.py:147).
    """
    c = F.col(col) if isinstance(col, str) else col
    pairs: list[Column] = []
    for k, v in _LANG_CANON.items():
        pairs.append(F.lit(k))
        pairs.append(F.lit(v))
    m = F.create_map(*pairs)
    key = F.lower(F.trim(c))
    return F.coalesce(F.element_at(m, key), F.lit("unknown"))


# --- text analysis (training-data pipeline ops) -------------------------------

def token_count(col) -> Column:
    """Whitespace token count — JVM-side (split + size). 0 for empty/null."""
    c = F.col(col) if isinstance(col, str) else col
    trimmed = F.trim(F.coalesce(c, F.lit("")))
    return F.when(trimmed == "", F.lit(0)).otherwise(
        F.size(F.split(trimmed, r"\s+"))
    )


# BPE-style PRE-tokenization pattern (the split GPT-2-family tokenizers
# apply before merges): letter runs, digit runs, single non-space symbols.
# Counting these approximates subword token counts far better than
# whitespace words on code/punctuated text, and the same regex runs in SQL.
BPE_SPLIT_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def token_count_bpe(col) -> Column:
    """BPE-ish token count: matches of :data:`BPE_SPLIT_RE` — JVM regexp_count,
    no UDF. 0 for empty/null."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(F.coalesce(c, F.lit("")), F.lit(BPE_SPLIT_RE)).cast("long")


_STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"]


def quality_score(col) -> Column:
    """Heuristic doc-quality score in [0,1]: length, alpha ratio, stopword hit.

    All JVM built-ins (length / regexp_count / split), no UDF.
    """
    c = F.col(col) if isinstance(col, str) else col
    s = F.coalesce(c, F.lit(""))
    n = F.length(s)
    alpha = F.regexp_count(s, F.lit(r"[A-Za-z]"))
    alpha_ratio = F.when(n > 0, alpha / n).otherwise(F.lit(0.0))
    stop_re = r"(?i)\b(" + "|".join(_STOPWORDS) + r")\b"
    stop_hits = F.regexp_count(s, F.lit(stop_re))
    len_score = F.least(n / F.lit(1000.0), F.lit(1.0))
    stop_score = F.least(stop_hits / F.lit(20.0), F.lit(1.0))
    return F.round((len_score + alpha_ratio + stop_score) / 3.0, 6)


def lang_id_heuristic(col) -> Column:
    """Cheap natural-language id: 'en' if common-English-stopword density is
    high, 'code' if symbol density is high, else 'other'. Pure JVM regex."""
    c = F.col(col) if isinstance(col, str) else col
    s = F.coalesce(c, F.lit(""))
    n = F.greatest(F.length(s), F.lit(1))
    stop_re = r"(?i)\b(" + "|".join(_STOPWORDS) + r")\b"
    stop_density = F.regexp_count(s, F.lit(stop_re)) / (token_count(c) + F.lit(1))
    sym_density = F.regexp_count(s, F.lit(r"[{}();=<>/\\\[\]]")) / n
    return (
        F.when(sym_density > 0.05, F.lit("code"))
        .when(stop_density > 0.12, F.lit("en"))
        .otherwise(F.lit("other"))
    )


def doc_fingerprint(col) -> Column:
    """Normalization-stable document fingerprint: md5 of lowercased,
    whitespace-collapsed, punctuation-stripped text. JVM-side."""
    c = F.col(col) if isinstance(col, str) else col
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.coalesce(c, F.lit(""))), r"[^a-z0-9\s]", ""),
            r"\s+",
            " ",
        )
    )
    return F.md5(norm)


# Canonical corpus-split parameters. The DuckDB oracles in __spark_entry__
# derive their CASE thresholds from these same constants, so changing the
# seed or weights here keeps Spark and oracle in lockstep.
SPLIT_SEED = 13
SPLIT_TRAIN = 0.9
SPLIT_VAL = 0.05


def md5_bucket(col, seed, mod: int) -> Column:
    """Stable bucket id in [0, mod): 60-bit md5 prefix of ``"<id>|<seed>"``
    reduced mod ``mod``. The repo's ONE seeded-hash construction — the
    corpus split and pack buckets both call this, and every DuckDB oracle
    mirrors it as ``('0x'||substr(md5(id||'|'||seed),1,15))::UBIGINT % mod``;
    keep the bit width / separator changes here and nowhere else."""
    c = F.col(col) if isinstance(col, str) else col
    h = F.conv(
        F.substring(F.md5(F.concat_ws("|", c.cast("string"), F.lit(str(seed)))), 1, 15),
        16,
        10,
    ).cast("long")
    return h % F.lit(mod)


def split_assign(
    col,
    train: float = SPLIT_TRAIN,
    val: float = SPLIT_VAL,
    seed: int = SPLIT_SEED,
) -> Column:
    """Deterministic train/val/test assignment from a stable id column.

    A 100-TB corpus can't be split by `rand()` (non-reproducible across
    retries/backfills) or by sorting (a global shuffle). This hashes the id
    with a seed — 60-bit md5 prefix reduced mod 10^4, the same bit-exact
    construction as the MinHash keys (== DuckDB
    ``('0x'||substr(md5(id||'|'||seed),1,15))::UBIGINT % 10000``) — and maps
    the bucket to a split label by cumulative weight. Pure JVM expression
    (codegen, zero Python, embarrassingly parallel): the same row lands in
    the same split on every run, any cluster size, any partitioning.
    """
    assert 0 < train < 1 and 0 <= val < 1 and train + val <= 1
    h = md5_bucket(col, seed, 10_000)
    t_hi = int(round(train * 10_000))
    v_hi = t_hi + int(round(val * 10_000))
    return (
        F.when(h < t_hi, F.lit("train"))
        .when(h < v_hi, F.lit("val"))
        .otherwise(F.lit("test"))
    )


def _ws_tokens(col) -> Column:
    """Raw whitespace tokens of trimmed text; empty array for empty/null.
    (Repetition signals keep case/punct — unlike the dedup family's
    normalized shingles — so 'foo!' repeated is caught verbatim.)"""
    c = F.col(col) if isinstance(col, str) else col
    trimmed = F.trim(F.coalesce(c, F.lit("")))
    return F.when(trimmed == "", F.array().cast("array<string>")).otherwise(
        F.split(trimmed, r"\s+")
    )


def dup_token_frac(col) -> Column:
    """Fraction of tokens that repeat an earlier token (Gopher-style
    within-doc repetition signal): 1 - distinct/total. 0 for empty docs.
    Pure JVM array expressions — fused into the scan stage, zero shuffle."""
    tk = _ws_tokens(col)
    n = F.size(tk)
    return F.when(n > 0, F.round(1 - F.size(F.array_distinct(tk)) / n, 6)).otherwise(
        F.lit(0.0)
    )


def dup_ngram_frac(col, n: int = 2) -> Column:
    """Fraction of word n-grams that are repeats: 1 - distinct/total.
    0 for docs with < n tokens. The Gopher duplicate-n-gram filter's
    numerator, as a pure JVM expression."""
    tk = _ws_tokens(col)

    def from_toks(t):
        cnt = F.size(t) - (n - 1)
        grams = F.transform(
            F.sequence(F.lit(1), cnt),
            lambda i: F.concat_ws(" ", F.slice(t, i, n)),
        )
        return F.when(
            cnt > 0, F.round(1 - F.size(F.array_distinct(grams)) / cnt, 6)
        ).otherwise(F.lit(0.0))

    # let-bind the token array (same trick as shingles()) so tokenization
    # runs once, not once per n-gram
    return F.get(F.transform(F.array(tk), from_toks), 0)


def max_token_run(col) -> Column:
    """Longest consecutive run of one repeated token (boilerplate /
    degenerate-generation signal). A single F.aggregate fold with a
    (prev, run, best) struct accumulator — linear, JVM-side, no UDF,
    no shuffle. 0 for empty docs."""
    tk = _ws_tokens(col)
    init = F.struct(
        F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
    )

    def merge(acc, x):
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"), run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    return F.aggregate(tk, init, merge, lambda acc: acc["best"])


# --- PII detection / redaction -------------------------------------------------
# Patterns are deliberately RE2-and-Java compatible (no backrefs/lookaround)
# so the DuckDB oracle runs the IDENTICAL regex text.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_LONGNUM_RE = r"\b\d{9,}\b"  # phone/account/card-ish digit runs


def pii_counts(col) -> tuple[Column, Column, Column]:
    """(n_emails, n_ipv4, n_longnums) — JVM regexp_count, zero Python."""
    c = F.col(col) if isinstance(col, str) else col
    s = F.coalesce(c, F.lit(""))
    return (
        F.regexp_count(s, F.lit(PII_EMAIL_RE)).cast("long"),
        F.regexp_count(s, F.lit(PII_IPV4_RE)).cast("long"),
        F.regexp_count(s, F.lit(PII_LONGNUM_RE)).cast("long"),
    )


def redact_pii(col) -> Column:
    """Replace emails/IPv4s/long digit runs with typed placeholders.

    Order matters: emails first (their local/domain parts contain dots and
    digits that the later patterns would otherwise shred), then IPv4, then
    bare long digit runs. Pure JVM regexp_replace chain — codegen'd,
    embarrassingly parallel, no UDF; at 100 TB this fuses into the scan
    stage like every other content transform.
    """
    c = F.col(col) if isinstance(col, str) else col
    s = F.coalesce(c, F.lit(""))
    s = F.regexp_replace(s, PII_EMAIL_RE, "<EMAIL>")
    s = F.regexp_replace(s, PII_IPV4_RE, "<IP>")
    s = F.regexp_replace(s, PII_LONGNUM_RE, "<NUM>")
    return s
