"""Text-analysis column expressions (tokenize, hash, shingle,
fingerprint) — the building blocks for the training-data-pipeline
operators (dedup, language-ID, quality scoring).

Everything is a built-in-function composition (regexp_extract_all /
transform / aggregate / md5 / conv) — JVM-side, no Python UDFs — and
every expression has a byte-identical DuckDB twin (documented inline)
so dedup/text queries are oracle-checkable.

Cross-engine invariants (validated in tests):
* tokens: ``regexp_extract_all(text, '[a-z0-9]+')`` matches DuckDB's.
* hash64: first 8 md5 hex chars as bigint —
  Spark ``conv(substr(md5(x),1,8),16,10)`` ==
  DuckDB ``('0x' || substr(md5(x),1,8))::BIGINT`` (value < 2^32, no
  sign issues).
* folds: Spark ``aggregate`` and DuckDB ``list_reduce`` both run
  left-to-right (list_reduce has no init arg — prepend the seed).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

TOKEN_RE = "[a-z0-9]+"
FINGERPRINT_MOD = 1_000_000_007


def tokens(text: Column) -> Column:
    """Lowercase word tokens. DuckDB twin:
    ``regexp_extract_all(text, '[a-z0-9]+')``."""
    return F.regexp_extract_all(text, F.lit(TOKEN_RE), 0)


def bpe_ish_tokens(text: Column) -> Column:
    """BPE-ish sub-tokenization: letter runs, digit runs, and single
    punctuation marks each count as a token. DuckDB twin:
    ``regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')``."""
    return F.regexp_extract_all(text, F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), 0)


def hash64(c: Column) -> Column:
    """Deterministic 32-bit-range hash as bigint from md5 hex.

    Shared across engines (unlike Spark's ``hash``/``xxhash64``,
    whose seeds/algorithms DuckDB doesn't implement)."""
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("bigint")


def word_shingles(toks: Column, k: int = 3) -> Column:
    """k-word shingles of a token array (empty if < k tokens).
    DuckDB twin:
    ``list_transform(generate_series(1, len(toks)-k+1),
      i -> array_to_string(toks[i:i+k-1], ' '))`` behind the same
    length guard (Spark's ``sequence(1, n)`` is DESCENDING for n<1 —
    never call it unguarded).

    Built as k offset slices zipped with concat — shingle i is
    ``toks[i] ' ' toks[i+1] ... ' ' toks[i+k-1]`` — NOT
    ``transform(sequence(1, n-k+1), i -> slice(toks, i, k))``: the
    per-position slice materializes a k-array per shingle and
    measured ~5x slower on the sf0.1 corpus; the zip form copies each
    token once per offset."""
    import functools

    n = F.size(toks)
    m = n - (k - 1)  # number of shingles
    slices = [F.slice(toks, i + 1, m) for i in range(k)]
    zipped = functools.reduce(
        lambda acc, s: F.zip_with(acc, s, lambda a, b: F.concat(a, F.lit(" "), b)),
        slices,
    )
    return F.when(n >= k, zipped).otherwise(F.array().cast("array<string>"))


def fingerprint(toks: Column) -> Column:
    """Rolling polynomial hash of the token stream:
    ``acc = (acc*31 + hash64(tok)) % 1e9+7`` folded left-to-right.
    Order-sensitive by design (a reordered document fingerprints
    differently). DuckDB twin: ``list_reduce`` over pre-hashed tokens
    with a prepended 0 seed."""
    hashed = F.transform(toks, hash64)
    return F.aggregate(
        hashed,
        F.lit(0).cast("bigint"),
        lambda acc, h: (acc * 31 + h) % FINGERPRINT_MOD,
    )


#: affine MinHash family h_i(x) = (a_i*x + b_i) mod P over 32-bit
#: base hashes: P prime > 2^32; a_i < 2^29 keeps a_i*x < 2^61 — no
#: int64 overflow on either engine (ANSI Spark would throw on wrap).
MINHASH_PRIME = 4294967311


def _mh_coeff(tag: str, i: int, mod: int) -> int:
    import hashlib as _hl

    return int(_hl.md5(f"{tag},{i}".encode()).hexdigest()[:12], 16) % mod


MINHASH_A = [1 + _mh_coeff("a", i, 2**29 - 1) for i in range(16)]
MINHASH_B = [_mh_coeff("b", i, MINHASH_PRIME) for i in range(16)]


def shingle_hashes(shingles: Column) -> Column:
    """One 32-bit base hash per shingle — the SINGLE md5 pass the
    affine family permutes. Keep this in its OWN select before
    :func:`minhash_from_hashes`: referenced k times by the signature,
    CollapseProject will not inline a non-cheap expression used more
    than once, so the md5 pass stays evaluated once per row (lambda
    expressions get no codegen subexpression elimination — inlining
    would multiply the md5 work k-fold, measured ~8 s → ~1 s on the
    sf0.1 corpus)."""
    return F.transform(shingles, hash64)


def minhash_from_hashes(hs: Column, k: int = 16) -> Column:
    """k-element signature from pre-hashed shingles: slot i is
    ``min over h of (a_i*h + b_i) mod P`` — k cheap integer affine
    maps instead of k salted md5 passes (Broder 1997's permutation
    family). Empty set → nulls."""
    return F.array(
        *[
            F.array_min(
                F.transform(
                    hs,
                    lambda h: (h * F.lit(MINHASH_A[i]) + F.lit(MINHASH_B[i]))
                    % F.lit(MINHASH_PRIME),
                )
            )
            for i in range(k)
        ]
    )


def minhash_signature(shingles: Column, k: int = 16) -> Column:
    """k-element minhash signature over a shingle array (convenience
    composition — for the hot path keep the two steps in separate
    selects, see :func:`shingle_hashes`).

    A document pair agreeing on j of k signature slots estimates
    Jaccard ≈ j/k (MinHash, Broder 1997)."""
    return minhash_from_hashes(shingle_hashes(shingles), k)


def token_hashes(toks: Column) -> Column:
    """One 32-bit base hash per token. Keep in its OWN select before
    :func:`simhash32_from_hashes` — the 32 bit-terms reference the
    hashed array 33 times, and lambda expressions get no codegen
    subexpression elimination, so inlining would run the md5 pass
    33-fold per document (same trap as MinHash, same fix)."""
    return F.transform(toks, hash64)


def simhash32_from_hashes(hashed: Column) -> Column:
    """32-bit SimHash (Charikar 2002) over pre-hashed tokens: per bit
    j, count hashes with bit j set; the output bit is 1 when
    set-count exceeds half the tokens (strict majority — ties → 0).
    Per-row array ops, no shuffle; the 32 bit-terms are unrolled
    statically (shift amounts must be literals)."""
    n = F.size(hashed)
    def _bit_test(j: int):
        # single-param lambda required: PySpark maps a 2-param lambda
        # to (element, index) — a default arg would become the index.
        return lambda h: F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1

    out = F.lit(0).cast("bigint")
    for j in range(32):
        set_count = F.size(F.filter(hashed, _bit_test(j)))
        out = out + F.when(
            set_count * 2 > n, F.lit(1 << j).cast("bigint")
        ).otherwise(F.lit(0).cast("bigint"))
    return out


def simhash32(toks: Column) -> Column:
    """SimHash over a token array (convenience composition — for the
    hot path keep :func:`token_hashes` in its own select)."""
    return simhash32_from_hashes(token_hashes(toks))
