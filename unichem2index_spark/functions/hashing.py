"""Deterministic cross-engine hashing constants + helpers for MinHash /
SimHash / fingerprinting.

Everything here must be expressible identically in Spark SQL expressions,
DuckDB SQL, and pure Python — so hashes operate on small integer token ids
(dense rank over the sorted corpus vocabulary), not on engine-specific
string hashes. All arithmetic stays far below 2^63 (no overflow divergence).
"""

from __future__ import annotations

MOD = 2_147_483_647  # 2^31 - 1 (prime)

# MinHash: h_i(x) = (A[i] * (x+1) + B[i]) % MOD  — 16 independent hashes.
NUM_HASHES = 16
BAND_SIZE = 4  # → 4 bands of 4 rows (LSH banding)
MINHASH_A = [
    1103515245, 1299709, 15485863, 32452843, 49979687, 67867967, 86028121,
    104395301, 122949823, 141650939, 160481183, 179424673, 198491317,
    217645177, 236887691, 256203161,
]
MINHASH_B = [
    12345, 67891, 24681, 13579, 98765, 55555, 31415, 27182, 16180, 14142,
    17320, 22360, 26457, 30000, 41421, 73205,
]

# SimHash: bit_j(x) = 1 if ((x+1) * P[j]) % MOD >= MOD // 2 else 0 — 16 bits.
SIMHASH_P = [
    2654435761, 2246822519, 3266489917, 668265263, 374761393, 3141592653,
    2718281829, 1618033989, 1414213563, 1732050809, 2236067977, 2645751311,
    1234567891, 987654321, 1111111111, 777767777,
]

FP_MULT = 1_315_423_911  # doc fingerprint final mix


def minhash_sig(token_ids: set[int]) -> list[int]:
    """Pure-Python oracle MinHash signature."""
    if not token_ids:
        return [MOD] * NUM_HASHES
    return [
        min((a * (x + 1) + b) % MOD for x in token_ids)
        for a, b in zip(MINHASH_A, MINHASH_B)
    ]


def fingerprint(token_ids_in_order: list[int]) -> int:
    """Pure-Python oracle position-weighted document fingerprint."""
    s = sum((pos + 1) * (tid + 1) for pos, tid in enumerate(token_ids_in_order))
    return (s * FP_MULT) % MOD

# target LSH-bucket population for the connected-components
# pair derivation (operators/dedup.py::connected_components)
CC_BUCKET_TARGET = 16
