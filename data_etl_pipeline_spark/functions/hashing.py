"""Portable deterministic hashing shared by the Spark engine and the DuckDB
oracle.

Both engines must produce bit-identical hash values so that MinHash/SimHash/
fingerprint queries hash-match the oracle. We derive a 60-bit integer from
md5 (available and identical in both engines):

  Spark : cast(conv(substr(md5(x), 1, 15), 16, 10) as bigint)
  DuckDB: ('0x' || substr(md5(x), 1, 15))::BIGINT

15 hex chars = 60 bits, always positive in a signed 64-bit integer.

The reference dedups with SHA-256 body hashes
(scraper_app/src/scraper_app/utils/dedup_util.py:51-64); we keep sha2 for
exact dedup and use the md5-derived integer where arithmetic is needed
(MinHash permutations, SimHash bit votes).
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# Mersenne prime 2^31 - 1: modulus for the universal-hash family. Products
# a * h32 stay below 2^62, so the arithmetic never overflows int64.
MERSENNE_31 = 2_147_483_647

# Fixed odd multipliers / offsets for the MinHash permutation family
# h_i(x) = (A[i] * x + B[i]) mod MERSENNE_31. Deterministic (seeded once,
# hard-coded) so Spark and the oracle agree and reruns are stable.
MINHASH_A = [
    1_203_077_491, 553_105_253, 1_921_498_043, 347_889_241,
    1_511_338_693, 789_022_183, 1_067_534_819, 432_191_617,
    1_783_245_229, 912_556_937, 1_345_670_111, 678_433_259,
    1_990_234_573, 234_889_507, 1_456_992_877, 867_120_391,
]
MINHASH_B = [
    887_331_253, 1_654_009_439, 201_556_771, 1_338_227_893,
    455_990_251, 1_876_554_613, 723_448_829, 1_092_337_541,
    334_556_209, 1_567_889_027, 611_224_457, 1_923_007_169,
    150_339_887, 1_444_876_321, 999_210_737, 562_778_093,
]
NUM_MINHASH = len(MINHASH_A)


def md5_int60(col: str) -> Column:
    """Spark column: 60-bit positive integer derived from md5(col)."""
    return F.expr(f"cast(conv(substr(md5({col}), 1, 15), 16, 10) as bigint)")


def h32(col: str) -> str:
    """Spark SQL fragment: hash folded into [0, 2^31) for permutation math."""
    return f"(cast(conv(substr(md5({col}), 1, 15), 16, 10) as bigint) % {MERSENNE_31})"
