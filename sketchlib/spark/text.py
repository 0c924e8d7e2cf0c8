"""Text-analysis operators for training-data pipelines.

All hot-path ops are built-in pyspark.sql.functions expressions (JVM,
whole-stage codegen) so Catalyst can push/prune around them; only the
rolling-hash fingerprint needs the numpy kernels. Each operator has a
deterministic, SQL-expressible definition so the DuckDB oracle can
verify it exactly (__spark_entry__.py).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import LongType

# small deterministic stopword lists for the n-gram language heuristic
LANG_MARKERS = {
    "en": ("the", "and", "of", "to", "in"),
    "de": ("der", "die", "und", "das", "ist"),
    "fr": ("le", "la", "et", "les", "des"),
    "es": ("el", "los", "que", "por", "con"),
}


def token_count(col, unicode: bool = False) -> Column:
    """Whitespace token count = number of non-whitespace runs (\\S+);
    empty/all-space/NULL text -> 0. NULL must be coalesced away BEFORE
    F.size: size(NULL array) is -1 under Spark's default sizeOfNull,
    which would leak a nonsense -1 into every downstream
    filter/aggregate (the DuckDB oracle already computes 0 for NULL).
    (F.trim strips ASCII spaces only, so split-based counting miscounts
    texts ending in \\n/\\t — regexp_extract_all avoids that.)

    ``unicode=False`` (default): Java's ASCII ``\\s`` — byte-for-byte
    the semantics of the DuckDB oracle's RE2 ``\\S``, which is what
    makes the count cross-engine verifiable. ``unicode=True``: ``(?U)``
    (UNICODE_CHARACTER_CLASS), i.e. true Python ``str.split()``
    semantics where U+00A0 &nbsp; etc. separate tokens — what a
    production web corpus wants (a scraped &nbsp; otherwise glues two
    tokens into one, undercounting and mis-filtering; warc_ingest_job
    uses this mode for its n_tokens column and --min-tokens floor). It
    splits at the Unicode White_Space set, which is the whitespace of
    the flagship's CMS tokens (``webbuild._tokens``, Arrow's
    ``utf8_split_whitespace``) except U+001C-001F, which only Arrow
    splits at."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.coalesce(c, F.lit(""))
    pat = r"(?U)(\S+)" if unicode else r"(\S+)"
    return F.size(F.regexp_extract_all(c, F.lit(pat), 1))


def word_token_count(col) -> Column:
    """BPE-ish subword proxy: count of r'\\w+|[^\\w\\s]' matches.
    NULL text -> 0 (same sizeOfNull=-1 hazard as token_count)."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.coalesce(c, F.lit(""))
    return F.size(F.regexp_extract_all(c, F.lit(r"(\w+|[^\w\s])"), 0))


def lang_id(col) -> Column:
    """Deterministic stopword-vote language heuristic (en/de/fr/es/und).

    Votes = non-overlapping occurrences of each language's marker
    words as whole tokens, counted via split-on-" w " (adjacent
    repeats like "the the the" count 2, not 3 — the shared delimiter
    space is consumed; deliberate, because the identical string_split
    expression runs in any SQL engine, keeping the oracle exact).
    Zero votes → 'und'; positive-vote ties resolve by fixed priority
    en > de > fr > es (mirrored in the oracle's CASE order).
    """
    c = F.col(col) if isinstance(col, str) else col
    padded = F.concat(F.lit(" "), F.lower(c), F.lit(" "))

    def votes(lang: str) -> Column:
        v = F.lit(0)
        for w in LANG_MARKERS[lang]:
            # occurrences of " w " = (len - len(replace))/ (len(w)+2)... use count via split
            v = v + F.size(F.split(padded, f" {w} ")) - 1
        return v

    vs = {lang: votes(lang) for lang in LANG_MARKERS}
    best = F.greatest(*vs.values())
    out = F.lit("und")
    # deterministic priority order on ties: en > de > fr > es
    for lang in ("es", "fr", "de", "en"):
        out = F.when((best > 0) & (vs[lang] == best), F.lit(lang)).otherwise(out)
    return out


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds integer/ratio quality features: chars, tokens, mean token
    length, punctuation count, stopword count (non-overlapping
    split-on-" w " counting — see lang_id for the adjacent-repeat
    caveat and why it's deliberate). NULL text scores as empty text
    (all-zero features), matching the SQL oracle's coalesce."""
    c = F.coalesce(F.col(text_col), F.lit(""))
    toks = token_count(c)
    stop = F.lit(0)
    padded = F.concat(F.lit(" "), F.lower(c), F.lit(" "))
    for w in ("the", "and", "of", "to", "in", "a", "is"):
        stop = stop + F.size(F.split(padded, f" {w} ")) - 1
    return (
        df.withColumn("n_chars_q", F.length(c))
        .withColumn("n_tokens", toks)
        .withColumn("n_punct", F.length(c) - F.length(F.regexp_replace(c, r"[^\w\s]", "")))
        .withColumn("n_stopwords", stop)
        .withColumn(
            "mean_token_len",
            F.when(toks > 0, (F.length(F.regexp_replace(c, r"\s+", "")) / toks)).otherwise(
                F.lit(0.0)
            ),
        )
    )


def doc_fingerprint_udf(window: int = 8):
    """Rolling polynomial fingerprint (winnowing-style document
    signature): min of rolling hashes over byte windows. Vectorized via
    the xx kernel over window slices; non-SQL (rows-only oracle)."""
    import numpy as np

    from ..hashing import kernels

    @F.pandas_udf(LongType())
    def fingerprint(texts: pd.Series) -> pd.Series:
        out = np.zeros(len(texts), np.int64)
        windows: list[bytes] = []
        bounds = [0]
        for t in texts:
            b = (t or "").encode()
            if len(b) <= window:
                windows.append(b)
            else:
                step = max((len(b) - window) // 64, 1)  # ≤64 windows/doc
                windows.extend(b[i : i + window] for i in range(0, len(b) - window + 1, step))
            bounds.append(len(windows))
        h = kernels.hash64_batch(windows, "xx")
        if len(h):
            # every doc contributes ≥1 window (empty text → b"") so one
            # segmented reduce replaces the per-doc Python min loop
            mins = np.minimum.reduceat(h, np.asarray(bounds[:-1], np.intp))
            out[:] = (mins - np.uint64(1 << 63)).astype(np.int64)
        return pd.Series(out)

    return fingerprint


def hash_split(
    key_col: str, train: float = 0.8, val: float = 0.1, hex_digits: int = 4
) -> Column:
    """Deterministic hash-based train/val/test assignment — the split a
    training pipeline needs: stable under repartitioning/reordering,
    row-count-gap proof, and reproducible across ENGINES (md5 of the
    stringified key; fixed-width lowercase hex compares identically
    lexicographically and numerically, so the same expression runs in
    Spark and any SQL engine with md5). Pure JVM expression — no UDF.

    Fractions are truncated to 1/16^hex_digits granularity. A boundary
    that reaches 1.0 (train=1.0, or train+val=1.0 — the common
    no-test-split case) must NOT be hex-formatted: format() does not
    truncate, so int(1.0*scale) renders 5 chars ('10000') and the
    lexicographic compare against 4-char hashes silently misroutes
    ~94% of the bucket (e.g. 'dddd' < '10000' is False). Such a
    boundary is clamped to a sentinel above every hex string instead.
    """
    if not (0.0 <= train and 0.0 <= val and train + val <= 1.0 + 1e-9):
        raise ValueError(
            f"invalid split fractions train={train} val={val}: need "
            "train >= 0, val >= 0, train + val <= 1"
        )
    scale = 16**hex_digits

    def bound(x: float) -> str:
        v = int(x * scale)
        if v >= scale:
            # 'g' sorts after every lowercase-hex string of any length,
            # so `hx < 'g'` is True for all hashes: the bucket absorbs
            # everything left, exactly what a 1.0 boundary means.
            return "g"
        return format(v, f"0{hex_digits}x")

    t_hex = bound(train)
    v_hex = bound(train + val)
    hx = F.substring(F.md5(F.col(key_col).cast("string")), 1, hex_digits)
    return (
        F.when(hx < t_hex, "train").when(hx < v_hex, "val").otherwise("test")
    )


def ngram_repetition_cols(text_col: str = "text", n: int = 3) -> tuple[Column, Column]:
    """(total_ngrams, distinct_ngrams) over word n-grams — the
    repetition-ratio quality signal (1 - distinct/total) that catches
    boilerplate/looping text. Pure JVM higher-order functions.

    A text with fewer than n words has ZERO n-grams (an unconditional
    sequence(0, greatest(size-n, 0)) would emit one bogus short
    "gram", systematically mis-scoring short-doc corpora); NULL text
    counts as empty. Words split on single spaces (engine-portable,
    oracle-exact); runs of whitespace therefore yield empty words
    inside grams — normalize whitespace upstream if inputs aren't
    single-spaced."""
    c = F.coalesce(F.col(text_col), F.lit(""))
    words = F.split(c, " ")
    idx = F.when(
        F.size(words) >= n, F.sequence(F.lit(0), F.size(words) - n)
    ).otherwise(F.array().cast("array<int>"))
    grams = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(words, i + 1, n)))
    return F.size(grams), F.size(F.array_distinct(grams))


# Patterns restricted to the Java-regex ∩ RE2 common subset (no
# backrefs/lookaround) so Spark and any RE2-based engine agree exactly.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\d{3}-\d{3}-\d{4}"


def pii_counts(text_col: str = "text") -> tuple[Column, Column]:
    """(n_emails, n_phones) per doc — the PII-detection signal a
    training pipeline filters/audits on. Pure JVM regexp."""
    c = F.coalesce(F.col(text_col), F.lit(""))
    return (
        F.size(F.regexp_extract_all(c, F.lit(PII_EMAIL_RE), 0)),
        F.size(F.regexp_extract_all(c, F.lit(PII_PHONE_RE), 0)),
    )


def scrub_pii(text_col: str = "text") -> Column:
    """Redact emails/phones with typed placeholders (the standard
    pretraining scrub): deterministic, idempotent, JVM-side."""
    c = F.coalesce(F.col(text_col), F.lit(""))
    return F.regexp_replace(
        F.regexp_replace(c, PII_EMAIL_RE, "<EMAIL>"), PII_PHONE_RE, "<PHONE>"
    )


def top_k_tokens(df: DataFrame, text_col: str = "text", k: int = 20) -> DataFrame:
    """Exact global top-k tokens (count desc, token asc tiebreak).

    explode → two-phase hash agg (map-side partial combine is automatic)
    → orderBy+limit (tree-reduced top-k, no full sort materialization).
    """
    return (
        df.select(F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("token"))
        .where(F.col("token") != "")
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("token"))
        .limit(k)
    )
