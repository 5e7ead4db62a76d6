"""Portable hashing primitives for the dedup/sketching operators.

Everything is built on ``md5`` — the ONE hash function Spark and DuckDB share
bit-for-bit (lowercase hex string) — so every sketch (minhash signatures,
simhash bit votes, fingerprints) computes identically in the engine and in the
DuckDB oracle. Ordering tricks:

- min/max over fixed-length hex strings == min/max over the 128-bit values
  (lexicographic on equal length), so MinHash needs no hex→int conversion;
- per-bit extraction uses ``instr('0123456789abcdef', ...)`` + floor/mod —
  both dialects, no bitwise ops (DuckDB and Spark disagree on operator
  spellings for xor/shift).
"""

from __future__ import annotations

SIMHASH_BITS = 64  # Manku/Jain/Sarma (WWW'07) standard width; stored as two 32-bit halves
_HEX = "0123456789abcdef"


def seeded_md5(seed_expr: str, value_expr: str) -> str:
    """md5 of seed:value — the family of MinHash hash functions h_i."""
    return f"md5(concat({seed_expr}, ':', {value_expr}))"


def hex_digit(hash_col: str, pos: int) -> str:
    """Integer value 0..15 of 1-based hex char ``pos`` of a hex-string column."""
    return f"(instr('{_HEX}', substr({hash_col}, {pos}, 1)) - 1)"


def bit_of_hash(hash_col: str, bit: int) -> str:
    """Bit ``bit`` (0-based, from the hash's leading hex chars) as 0/1."""
    digit = hex_digit(hash_col, bit // 4 + 1)
    shift = 1 << (bit % 4)
    return f"(cast(floor({digit} / {shift}) as int) % 2)"


def simhash_vote_exprs(hash_col: str, bits: int = SIMHASH_BITS) -> list[str]:
    """Per-bit vote terms: +1 when the token hash has the bit set, else -1.
    Summed per document, the sign of each vote is the simhash bit."""
    return [f"(2 * {bit_of_hash(hash_col, j)} - 1)" for j in range(bits)]


def simhash_int_expr(vote_cols: list[str]) -> str:
    """Integer simhash (bit j = 2^j when vote_j >= 0) — bigint, so hamming is
    one bit_count(xor) instead of per-bit string compares."""
    terms = [
        f"(CASE WHEN {c} >= 0 THEN cast({1 << j} as bigint) ELSE cast(0 as bigint) END)"
        for j, c in enumerate(vote_cols)
    ]
    return "(" + " + ".join(terms) + ")"


def band_key_expr(simint: str, band: int, band_bits: int = 8) -> str:
    """Bits [band*band_bits, (band+1)*band_bits) of an integer sketch, as a
    bigint key. floor of double division is exact below 2^53."""
    div = 1 << (band * band_bits)
    return f"(cast(floor({simint} / {div}.0) as bigint) % {1 << band_bits})"


def hamming_int_spark(a: str, b: str) -> str:
    return f"cast(bit_count({a} ^ {b}) as int)"


def hamming_int_duck(a: str, b: str) -> str:
    # DuckDB spells bitwise xor as xor(); its ^ operator is POWER
    return f"cast(bit_count(xor({a}, {b})) as int)"
