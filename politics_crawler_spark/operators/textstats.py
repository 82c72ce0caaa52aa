"""Text-analysis operators for training-data pipelines (task directive):
language-ID, quality scoring, token counting, document fingerprinting.

All pure JVM-side expressions (whole-stage codegen, no Python) with exact
ANSI-SQL equivalents so the DuckDB oracle can verify them value-for-value.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType, StringType

# deterministic mini stopword lists (shared with the oracle SQL)
EN_STOP = ["the", "and", "of", "to", "a", "in", "is", "it"]
ES_STOP = ["el", "la", "de", "que", "y", "en"]


# The one token definition of the training-data tier: runs of Java-regex
# word characters, i.e. ASCII [A-Za-z0-9_] — the same tokens as the DuckDB
# oracles' regexp_extract_all(text, TOKEN_RE). Every operator tokenizes
# via tokens().
TOKEN_RE = r"\w+"


def tokens(text: Column) -> Column:
    """Token array of `text` (NULL for a NULL text)."""
    return F.regexp_extract_all(text, F.lit(TOKEN_RE), 0)


def token_count(text: Column) -> Column:
    """Mirrors DuckDB ``len(regexp_extract_all(text, TOKEN_RE))``."""
    return F.size(tokens(text)).cast("long")


def ngrams(toks: Column, n: int, hashed: bool = True) -> Column:
    """Every window of `n` adjacent tokens of the token-array column
    `toks`, in position order; an empty array below `n` tokens.

    hashed=True keys each gram by multi-arg xxhash64 over its n token
    slots (8-byte longs, no gram string is ever allocated; distinct grams
    collide with probability ~2^-64 per pair); hashed=False gives the
    space-joined gram strings.

    Apply it DIRECTLY over a projected token column — Project(_t) and then
    ngrams(col("_t")) in the consuming Filter/Generate/Project — never
    through an extra projected alias of its result: CollapseProject merges
    such a layer, inlining the tokenizing regexp into every per-position
    F.get, so the regexp re-runs per gram slot instead of once per row
    (q41's gram build measured 300+ s aliased vs 3.5 s direct; q39 at
    sf0.1, 8.7 s vs 0.9 s)."""
    def gram(i):
        window = [F.get(toks, i + j) for j in range(n)]
        return F.xxhash64(*window) if hashed else F.concat_ws(" ", *window)

    # a gram is never NULL, so neither branch's element type is nullable
    empty = ArrayType(LongType() if hashed else StringType(), False)
    return F.when(
        F.size(toks) >= n,
        F.transform(F.sequence(F.lit(0), F.size(toks) - n), gram),
    ).otherwise(F.array().cast(empty))


def n_chars(text: Column) -> Column:
    return F.length(text).cast("long")


def punct_ratio(text: Column) -> Column:
    """Fraction of characters that are .,!?;: — quality-score component."""
    removed = F.regexp_replace(text, r"[.,!?;:]", "")
    return F.when(F.length(text) > 0,
                  (F.length(text) - F.length(removed)) / F.length(text)
                  ).otherwise(F.lit(0.0))


def stop_hits(text: Column, words: list[str]) -> Column:
    pat = r"\b(" + "|".join(words) + r")\b"
    return F.size(F.regexp_extract_all(F.lower(text), F.lit(pat), 0))


def stopword_ratio(text: Column) -> Column:
    """English stopword hits per token (0 for a doc without tokens)."""
    toks = token_count(text)
    return F.when(toks > 0, stop_hits(text, EN_STOP) / toks).otherwise(F.lit(0.0))


def lang_id(text: Column) -> Column:
    """N-gram/stopword heuristic language tag: 'en' vs 'es' vs 'unknown'.

    (The reference has no language detection — `lang` is an input column per
    input_hint; this operator exists for the training-data pipeline tier.)
    """
    en = stop_hits(text, EN_STOP)
    es = stop_hits(text, ES_STOP)
    return (
        F.when((en == 0) & (es == 0), F.lit("unknown"))
        .when(en >= es, F.lit("en"))
        .otherwise(F.lit("es"))
    )


def fingerprint(text: Column) -> Column:
    """Deterministic document fingerprint: md5 of whitespace-normalized,
    lowercased text (md5 exists verbatim in DuckDB → oracle-able)."""
    norm = F.lower(F.trim(F.regexp_replace(text, r"\s+", " ")))
    return F.md5(norm)
