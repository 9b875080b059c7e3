"""Stable cross-engine hashing primitives.

Sketch operators (MinHash, SimHash, winnowing) need hash functions that
(a) run JVM-side in whole-stage codegen and (b) produce *identical*
values in the DuckDB oracle. ``xxhash64``/``hash`` are engine-specific;
MD5 is bit-identical everywhere, so every sketch hash here is a fixed-
width hex prefix of ``md5(seed || ':' || value)``.

Fixed-width lowercase hex compares lexicographically exactly like the
number it encodes, so ``MIN(hex)`` *is* numeric min-hash — no
hex→int conversion needed on either engine. Where an integer is
required (SimHash bit tests), the first 8 hex chars are parsed as a
32-bit int — cheap, still codegen'd.

Tokenizer parity caveat: ``lower()`` diverges between the JVM and
DuckDB on one-to-many Unicode case folds (İ U+0130 → 'i'+combining
dot vs plain 'i'). Parity is exact on ASCII and case-stable Unicode
(CJK, emoji, single-codepoint-folding accents) — property-tested in
tests/test_properties.py, which also pins the İ divergence.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tokenization: lowercase, split on non-alphanumeric runs (the
# "whitespace + BPE-ish regex" token model; \W+ also covers punctuation).
TOKEN_SPLIT_RE = "[^a-z0-9]+"


def tokens(text: Column) -> Column:
    """text → array<string> of lowercase alphanumeric tokens."""
    toks = F.split(F.lower(text), TOKEN_SPLIT_RE)
    # Splitting can yield leading/trailing empty strings — drop them.
    return F.filter(toks, lambda t: t != "")


def tokens_oracle(text_expr: str) -> str:
    """DuckDB SQL mirroring ``tokens`` (same regex, same cleanup)."""
    return (
        f"list_filter(str_split_regex(lower({text_expr}), '[^a-z0-9]+'), t -> t <> '')"
    )


def hash_hex(value: Column, seed: int | str = 0, width: int = 8) -> Column:
    """Stable hash: first ``width`` hex chars of md5(seed ':' value)."""
    return F.substring(F.md5(F.concat(F.lit(f"{seed}:"), value)), 1, width)


def hash_hex_oracle(value_expr: str, seed: int | str = 0, width: int = 8) -> str:
    return f"substr(md5('{seed}:' || {value_expr}), 1, {width})"


def wide_hash_window(i: int, width: int = 8) -> tuple[int, int]:
    """Map hash index i → (digest seed group, 1-based hex offset).

    One md5 digest is 32 hex chars = ``32 // width`` disjoint fixed-width
    windows, each uniformly distributed — so k hash functions need only
    ``ceil(k * width / 32)`` md5 evaluations instead of k.
    """
    per_digest = 32 // width
    group, slot = divmod(i, per_digest)
    return group, 1 + slot * width


def hash_hex_wide(value: Column, i: int, width: int = 8) -> Column:
    """i-th member of a family of hashes, 4-per-md5 (see
    ``wide_hash_window``). Same cross-engine guarantees as ``hash_hex``."""
    group, start = wide_hash_window(i, width)
    digest = F.md5(F.concat(F.lit(f"{group}:"), value))
    return F.substring(digest, start, width)


def hash_hex_wide_oracle(value_expr: str, i: int, width: int = 8) -> str:
    group, start = wide_hash_window(i, width)
    return f"substr(md5('{group}:' || {value_expr}), {start}, {width})"


def hash_int32(value: Column, seed: int | str = 0) -> Column:
    """Stable 32-bit unsigned int from the hex hash (for bit tests)."""
    return F.conv(hash_hex(value, seed, 8), 16, 10).cast("bigint")


def hash_int60(value: Column, seed: int | str = 0) -> Column:
    """Stable 60-bit unsigned int: 15 hex chars of the md5 — the widest
    hex window whose value stays inside SIGNED BIGINT range on both
    engines (16 chars can exceed 2^63-1 and overflow the cast). The
    wide-cardinality hash for sketches whose accuracy must survive
    billions of distinct keys: a 32-bit hash starts losing distinct
    values to collisions around 10^8 (VERDICT r9), a 60-bit one at
    ~10^17."""
    return F.conv(hash_hex(value, seed, 15), 16, 10).cast("bigint")


def hash_int60_oracle(value_expr: str, seed: int | str = 0) -> str:
    return (
        f"CAST(('0x' || {hash_hex_oracle(value_expr, seed, 15)}) AS BIGINT)"
    )


def shingle_array(toks: Column, k: int = 3) -> Column:
    """array of word k-shingles: tokens joined by single spaces.

    Implemented with transform over positions so it stays JVM-side:
    shingle[i] = tokens[i] .. tokens[i+k-1], for i in [0, n-k].
    """
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(-1)))
    return F.when(n < k, F.array()).otherwise(
        F.transform(
            idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k))
        )
    )


def shingle_array_oracle(tokens_expr: str, k: int = 3) -> str:
    """DuckDB SQL mirroring ``shingle_array``."""
    return (
        f"CASE WHEN len({tokens_expr}) < {k} THEN [] ELSE "
        f"list_transform(range(1, len({tokens_expr}) - {k} + 2), "
        f"i -> array_to_string(list_slice({tokens_expr}, i, i + {k} - 1), ' ')) END"
    )


def char_ngrams(text_col: str, n: int) -> "Column":
    """Every character n-gram of a string column as an array —
    ``transform`` over ``sequence``, pure codegen, with the
    short-string guard (< n chars → empty array). One definition for
    every char-gram consumer (bigram LM, substring-span dedup) so the
    guard and the off-by-one-prone sequence bound live in one place.
    """
    return F.when(
        F.length(text_col) >= n,
        F.expr(
            f"transform(sequence(1, length({text_col}) - {n} + 1), "
            f"i -> substring({text_col}, i, {n}))"
        ),
    ).otherwise(F.array().cast("array<string>"))
