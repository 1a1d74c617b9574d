"""Cross-engine deterministic hashing/shingling expression builders.

Dedup and fingerprint operators hash with ``md5`` (hex string) rather than
Spark's native ``xxhash64`` so every operator has a bit-identical DuckDB
oracle.  The exception is LSH band keys (``dedup.minhash_lsh_pairs``): a
key only tests slice equality, so 8-byte xxhash64 keys pick the same
pairs as the oracles' md5 keys.

Everything here returns Catalyst Columns (higher-order functions on
arrays) — no Python executes per row.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def words(text: Column | str) -> Column:
    """Single-space tokenization (the fixtures are single-spaced word salad;
    for general text use ``F.split(text, r'\\s+')``)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.split(c, " ")


def word_shingles(text: Column | str, n: int = 3) -> Column:
    """Distinct word n-grams as an array<string>.

    Pure Catalyst: split → sequence over start offsets → slice+join.
    Documents shorter than ``n`` words yield an empty array (guarded —
    Spark's ``sequence(1, 0)`` would count *down*, not produce empty).
    """
    w = words(text)
    starts = F.sequence(F.lit(1), F.size(w) - (n - 1))
    grams = F.transform(starts, lambda i: F.array_join(F.slice(w, i, n), " "))
    return F.when(F.size(w) >= n, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def char_shingles(text: Column | str, k: int = 16) -> Column:
    """Distinct character k-grams (fingerprinting granularity)."""
    c = F.col(text) if isinstance(text, str) else text
    starts = F.sequence(F.lit(1), F.length(c) - (k - 1))
    grams = F.transform(starts, lambda i: F.substring(c, i, k))
    return F.when(F.length(c) >= k, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def seeded_md5(seed: Column, value: Column) -> Column:
    """md5 of ``seed || '|' || value`` — the family of hash functions used
    for MinHash components (one per seed)."""
    return F.md5(F.concat(seed.cast("string"), F.lit("|"), value))


def minhash_signature(shingles: Column, num_hashes: int = 32) -> Column:
    """MinHash signature: array of ``num_hashes`` hex strings, component i =
    min over shingles of md5(i|shingle).  Lexicographic min over fixed-width
    lowercase hex == numeric min over the 128-bit hash values.

    DuckDB oracle twin:
    ``[list_aggregate([md5(i||'|'||s) for s in sh], 'min') for i in range(0, K)]``
    """
    seeds = F.sequence(F.lit(0), F.lit(num_hashes - 1))
    return F.transform(
        seeds,
        lambda i: F.array_min(F.transform(shingles, lambda s: seeded_md5(i, s))),
    )


# ---------------------------------------------------------------------------
# SimHash: 60-bit signatures from md5 nibbles (cross-engine reproducible).
# bit i of word w = ((strpos(hexdigits, md5(w)[1 + i//4]) - 1) >> (3 - i%4)) & 1
# ---------------------------------------------------------------------------

_HEX = "0123456789abcdef"
SIMHASH_BITS = 60  # 15 hex nibbles; fits a signed 64-bit lane everywhere


def _nibble_value(hex_col: Column, nibble_idx: int) -> Column:
    return F.instr(F.lit(_HEX), F.substring(hex_col, nibble_idx + 1, 1)) - 1


def word_bit(word: Column, bit: int) -> Column:
    """Bit ``bit`` (0-based, MSB-first per nibble) of md5(word)."""
    h = F.md5(word)
    return F.shiftright(_nibble_value(h, bit // 4), 3 - bit % 4).bitwiseAND(F.lit(1))


def simhash_bits(tokens: Column, bits: int = SIMHASH_BITS) -> Column:
    """SimHash as an array<int> of 0/1, length ``bits``.

    Classic weighted-bit-vote: for each position, sum (+1/-1) votes over all
    tokens, emit 1 when the vote is positive.  Expressed as one aggregate
    per bit — wide but fully codegen'd, no shuffle, no UDF.
    """
    def vote(b: int):
        # closure factory: PySpark derives lambda variables from the
        # callable's arity, so the bit index must NOT be a parameter
        return lambda acc, w: acc + (word_bit(w, b) * 2 - F.lit(1))

    votes = [F.aggregate(tokens, F.lit(0), vote(b)) for b in range(bits)]
    return F.array(*[(v > 0).cast("int") for v in votes])


def hamming_distance(a: Column, b: Column) -> Column:
    """Hamming distance between two equal-length 0/1 int arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: F.abs(x - y)), F.lit(0), lambda acc, x: acc + x
    )
