"""Text-analysis column expressions for LLM training-data pipelines.

Everything here is built from Spark's higher-order array functions
(`transform` / `filter` / `aggregate`) and string functions, so the
expressions run inside whole-stage codegen — no Python in the hot path.
Each has an exact SQL twin used by the DuckDB oracles (queries/dataops.py).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Tiny per-language stopword lists for the n-gram/stopword language
#: heuristic. Deliberately small + deterministic (the heuristic is the
#: declared operator; real lists are a config concern).
STOPWORDS = {
    "en": ["the", "a", "and", "of", "to"],
    "es": ["el", "la", "de", "y", "que"],
    "de": ["der", "die", "das", "und", "ist"],
    "fr": ["le", "les", "et", "des", "un"],
}


def tokens(col) -> Column:
    """Lower-cased word tokens: split on non-word runs, drop empties."""
    col = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.lower(col), r"\W+"), lambda x: x != "")


def distinct_tokens(col) -> Column:
    return F.array_distinct(tokens(col))


def shingles(tok_col: Column, n: int = 3) -> Column:
    """Distinct n-token shingles (space-joined). Empty when < n tokens.

    ``tok_col`` MUST be a materialized column (``.select(tokens(...)
    .alias("toks"))`` first), not the raw ``tokens(...)`` expression:
    Catalyst performs no common-subexpression elimination inside lambda
    bodies, so an inlined tokenizer would re-split the whole document at
    every shingle position — O(n²) per document.
    """
    idx = F.sequence(F.lit(1), F.size(tok_col) - (n - 1))
    make = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(tok_col, (i + k).cast("int")) for k in range(n)]
        ),
    )
    return F.when(F.size(tok_col) >= n, F.array_distinct(make)).otherwise(
        F.array().cast("array<string>")
    )


def minhash(shingle_col: Column, seed: int) -> Column:
    """One MinHash component: min over md5('<seed>|' + shingle).

    Hex md5 strings are fixed-width, so the string MIN is the numeric min
    of the 128-bit hash — deterministic and identical in any engine with
    md5 + binary collation (the DuckDB oracle uses the same construction).
    """
    return F.array_min(
        F.transform(shingle_col, lambda s: F.md5(F.concat(F.lit(f"{seed}|"), s)))
    )


def shingle_hashes(shingle_col: Column, salt: str) -> Column:
    """md5('<salt>|' + shingle) per shingle — staged once, then sliced
    into multiple MinHash components by :func:`minhash_slice` (one md5
    pass yields four 32-bit hash families instead of paying md5 per
    component)."""
    return F.transform(
        shingle_col, lambda s: F.md5(F.concat(F.lit(f"{salt}|"), s))
    )


def minhash_slice(hash_col: Column, slice_idx: int) -> Column:
    """MinHash component = min over the ``slice_idx``-th 8-hex-char
    (32-bit) slice of the staged hashes. Fixed-width hex ⇒ string min ==
    numeric min; identical in any engine with md5 + substr."""
    return F.array_min(
        F.transform(hash_col, lambda h: F.substring(h, slice_idx * 8 + 1, 8))
    )


def token_hashes(tok_col: Column) -> Column:
    """md5 hex per token — staged ONCE so the 32 simhash bit expressions
    reference the array instead of re-hashing per bit (32× less md5)."""
    return F.transform(tok_col, lambda t: F.md5(t))


def simhash_masks(hash_col: Column, n_bits: int = 32) -> Column:
    """Per-token high-bit masks for SimHash (``array<long>``): each
    hash's first ``n_bits`` hex digits collapse into a long bitmask —
    digit >= '8' is exactly the nibble's high bit, so ``translate`` to a
    '0'/'1' string + ``conv(.., 2, 10)`` builds it in two JVM string ops.

    PRECONDITION: every element of ``hash_col`` must be at least
    ``n_bits`` LOWERCASE hex chars (``n_bits`` <= 32). The only engine
    producer is :func:`token_hashes` (md5 hex — always 32 lowercase
    chars). A shorter string misaligns the mask (its MSB lands at bit
    ``len-1``) and uppercase digits pass ``translate`` untouched, making
    ``conv`` return NULL and poisoning the fold — arbitrary hash
    producers must lower+rpad first.

    STAGE THIS IN ITS OWN PROJECTION (``.select(...,
    simhash_masks(...).alias("mk"))``) before folding bits over it:
    Catalyst performs no common-subexpression elimination across
    expressions, so the ``n_bits`` per-bit folds of
    :func:`simhash_bits_from_masks` would otherwise each re-run the
    translate+conv transform — measured 3.6x slower end-to-end at sf0.1
    (round 11; the round-10 inline form was exactly that regression).
    """
    return F.transform(
        hash_col,
        lambda h: F.conv(
            F.translate(
                F.substring(h, 1, n_bits),
                "0123456789abcdef",
                "0000000011111111",
            ),
            2,
            10,
        ).cast("long"),
    )


def simhash_bits_from_masks(
    mask_col: Column, n_tokens: Column, n_bits: int = 32
) -> Column:
    """SimHash signature from STAGED per-token masks (see
    :func:`simhash_masks`) plus the token count: per bit-dimension d the
    ±1 sum over n tokens with c high bits is 2c - n, so bit = 1 iff
    2c >= n (n = 0 gives '1': the empty sum 0 is >= 0).
    Each fold is one long shift-and-mask per element — the cheapest
    per-element op the HOF interpreter can run."""

    # NB: fold lambdas must take exactly the declared parameter count —
    # PySpark passes the element index to any extra parameter, which
    # would shadow a `d=d` default-argument closure.
    def fold_fn(d: int):
        return lambda acc, x: acc + F.shiftrightunsigned(
            x, n_bits - 1 - d
        ).bitwiseAND(F.lit(1))

    bits = []
    for d in range(n_bits):
        c = F.aggregate(mask_col, F.lit(0).cast("long"), fold_fn(d))
        bits.append(F.when(c * 2 >= n_tokens, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def normalized_text(col) -> Column:
    """Canonical text: lower, strip non-printable-ASCII, collapse blanks."""
    col = F.col(col) if isinstance(col, str) else col
    ascii_only = F.regexp_replace(F.lower(col), r"[^\x20-\x7e]", "")
    return F.trim(F.regexp_replace(ascii_only, r"\s+", " "))


def fingerprint_md5(col) -> Column:
    """Document fingerprint: md5 of the normalized text."""
    return F.md5(normalized_text(col))


def rolling_hash_expr(col_name: str, mod: int = 1_000_000_007, base: int = 31) -> Column:
    """Rolling hash as an expression over an existing string column name."""
    return F.expr(
        f"aggregate(transform(sequence(1, length({col_name})), "
        f"i -> ascii(substr({col_name}, i, 1))), 0L, "
        f"(acc, c) -> (acc * {base} + c) % {mod})"
    )


def stopword_count(tok_col: Column, words: list[str]) -> Column:
    return F.size(F.array_intersect(tok_col, F.array(*[F.lit(w) for w in words])))


def langid_struct(tok_col: Column) -> list[Column]:
    """Per-language stopword-overlap scores + argmax prediction.

    Tie-break: alphabetical language code (deterministic); 'und' when all
    scores are zero.
    """
    distinct = F.array_distinct(tok_col)
    scores = {
        lang: stopword_count(distinct, words).alias(f"score_{lang}")
        for lang, words in sorted(STOPWORDS.items())
    }
    best = None
    pred = F.lit("und")
    # Iterate langs reverse-alphabetically so the final `when` chain picks
    # the alphabetically-first language on ties (strict > against later).
    for lang in sorted(STOPWORDS, reverse=True):
        s = stopword_count(distinct, STOPWORDS[lang])
        cond = (s > 0) if best is None else (s > 0) & (s >= best)
        pred = F.when(cond, F.lit(lang)).otherwise(pred)
        best = s if best is None else F.greatest(s, best)
    return [*scores.values(), pred.alias("pred_lang")]


#: PII scrub patterns, applied in order. Pattern syntax is restricted to
#: the Java-regex ∩ RE2 common subset (no backrefs, no lookaround) so the
#: engine and the DuckDB oracle match identical spans. Email runs first
#: (its local part may contain digits the later numeric patterns would
#: otherwise split); the 3-2-4 id shape and the +1 phone shape are
#: disjoint, so their order is immaterial.
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"[0-9]{3}-[0-9]{2}-[0-9]{4}", "<ID>"),
    (r"\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}", "<PHONE>"),
)


def redact_pii(col: Column) -> Column:
    """Chained global regexp_replace over :data:`PII_PATTERNS`.

    JVM-side (whole-stage codegen), no Python in the hot path; at 100 TB
    this is a pure map stage that inherits the scan's partitioning.
    """
    col = F.col(col) if isinstance(col, str) else col
    for pat, repl in PII_PATTERNS:
        col = F.regexp_replace(col, pat, repl)
    return col
