"""Portable hash / token / shingle column expressions.

Everything here is a pure Catalyst expression (JVM-side, whole-stage
codegen) — no Python on the executor path. The hash family is
**md5-prefix-32**: the first 8 hex chars of md5 interpreted as an
unsigned 32-bit integer. Chosen because it is computable bit-identically
in Spark (`conv(substring(md5(x),1,8),16,10)`) and in the DuckDB oracle
(`CAST('0x' || substr(md5(x),1,8) AS BIGINT)`), which makes every
hash-based operator (MinHash, SimHash, LSH, fingerprints) *exactly*
verifiable cross-engine. Production deployments can swap in
``F.xxhash64`` (same shapes, 64-bit, ~3× faster) via ``hash_fn``;
the md5 family is the verification mode.

Reference parity: the reference uses md5 for cache keys
(core/cache.py:16-19) and float[384] vectors (core/vector_store.py:9-11);
hashing *as an algorithmic primitive* (dedup/LSH) is an extension the
100 TB engine needs (SURVEY.md §2 extension scope).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

def md5_long(col: Column) -> Column:
    """First 32 bits of md5(col) as a non-negative BIGINT.

    DuckDB twin: ``CAST('0x' || substr(md5(x),1,8) AS BIGINT)``.
    """
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10).cast("long")


def md5_long60(col: Column) -> Column:
    """First 60 bits of md5(col) as a non-negative BIGINT (15 hex
    chars — the widest prefix that stays inside signed 64-bit on both
    engines). DuckDB twin: ``CAST('0x'||substr(md5(x),1,15) AS BIGINT)``.
    """
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 15), 16, 10).cast("long")


def let(col: Column, build) -> Column:
    """Let-bind an expression: evaluate ``col`` ONCE per row and pass
    the bound lambda variable to ``build``.

    Why this exists: Catalyst's CollapseProject merges adjacent
    Projects by textual substitution, so a column computed in one
    ``select`` and referenced inside a higher-order-function lambda in
    the next is re-inlined as the FULL expression and re-evaluated
    once per lambda invocation (HOFs are interpreted, outside codegen
    subexpression elimination). Measured on ``winnow_fingerprints``:
    O(windows) re-evaluations of the whole tokenize→md5 chain per row,
    73 s → 1.4 s at sf0.01 after binding. Wrapping the value in a
    one-element array and consuming it through ``transform``'s lambda
    variable makes the binding part of the expression tree itself —
    no cache/persist barrier needed, survives any Project collapse.
    """
    return F.element_at(F.transform(F.array(col), build), 1)


def tokens(col: Column) -> Column:
    """Whitespace tokens, empties dropped (array<string>).

    DuckDB twin: ``list_filter(string_split_regex(x,'\\s+'), t -> t <> '')``.
    """
    return F.filter(F.split(col, r"\s+"), lambda t: t != "")


def word_shingles(tok: Column, n: int = 3) -> Column:
    """Distinct n-word shingles of a token array.

    DuckDB twin (n=3, 1-indexed as here):
    ``list_distinct([t[i]||' '||t[i+1]||' '||t[i+2]
                     for i in range(1, len(t)-1)])``.

    The token expression is let-bound via a one-element-array lambda:
    ``tok`` is often a non-trivial expression (split+filter), and
    referencing it inside the per-shingle lambda would re-evaluate it
    once per shingle element (a measured 20× slowdown).
    """

    def build(t: Column) -> Column:
        idx = F.sequence(F.lit(1), F.size(t) - (n - 1))
        sh = F.array_distinct(F.transform(idx, lambda i: F.array_join(F.slice(t, i, n), " ")))
        # guard: sequence(1, k) is DESCENDING [1,0] for k<1, not empty
        return F.when(F.size(t) >= n, sh).otherwise(F.array().cast("array<string>"))

    return F.element_at(F.transform(F.array(tok), build), 1)


def window_hashes(tok: Column, n: int) -> Column:
    """Positional n-token window hashes (array<long>): element j
    (0-based) = md5_long of the window starting at token j+1 (1-based),
    i.e. windows 1..len-n+1, NOT distinct — position matters for
    exact-substring span work, unlike shingle sets.

    DuckDB twin (1-indexed starts, inclusive list slice):
    ``[md5long(array_to_string(t[i:i+n-1],' ')) for i in range(1, len(t)-n+2)]``.

    Same let-binding discipline as word_shingles: ``tok`` is evaluated
    once per row, not once per window element.
    """

    def build(t: Column) -> Column:
        idx = F.sequence(F.lit(1), F.size(t) - (n - 1))
        wh = F.transform(idx, lambda i: md5_long(F.array_join(F.slice(t, i, n), " ")))
        # guard: sequence(1, k) is DESCENDING [1,0] for k<1, not empty
        return F.when(F.size(t) >= n, wh).otherwise(F.array().cast("array<bigint>"))

    return F.element_at(F.transform(F.array(tok), build), 1)


MINHASH_P = 1_000_000_007


def minhash_consts(i: int) -> tuple[int, int]:
    """(a_i, b_i) for hash-family member i, md5-derived so the DuckDB
    oracle regenerates them (or receives them as inlined literals)."""
    import hashlib

    a = int(hashlib.md5(f"mh-a-{i}".encode()).hexdigest()[:8], 16) % (MINHASH_P - 1) + 1
    b = int(hashlib.md5(f"mh-b-{i}".encode()).hexdigest()[:8], 16) % MINHASH_P
    return a, b


def shingle_hashes(shingles: Column) -> Column:
    """One md5 per shingle (array<long>). Project this ONCE, then feed
    ``minhash_from_hashes`` — the md5 is the expensive part and must
    not be re-evaluated per hash-family member. Empty sets hash ['']
    so the signature stays defined (equal only to other empties)."""
    safe = F.when(F.size(shingles) > 0, shingles).otherwise(F.array(F.lit("")))
    return F.transform(safe, md5_long)


def minhash_from_hashes(hashes: Column, num_hashes: int) -> Column:
    """MinHash signature via the universal-hashing construction
    (Broder): member i = min over shingles of (a_i·h + b_i) mod p,
    from ONE base hash per shingle.

    Single-pass formulation (same trick as ``simhash_from_hashes``):
    ONE aggregate whose accumulator is the running-minimum vector,
    zip_with'd against a literal (a_i, b_i) struct array — one
    traversal of the shingle-hash array instead of ``num_hashes``
    independent array_min passes, and a much smaller codegen tree.
    The accumulator initializes to p (every affine value is < p, so
    the init never survives; shingle_hashes guarantees a non-empty
    input)."""
    consts = F.array(
        *[
            F.struct(F.lit(a).alias("a"), F.lit(b).alias("b"))
            for a, b in (minhash_consts(i) for i in range(num_hashes))
        ]
    )
    init = F.array(*[F.lit(MINHASH_P).cast("long") for _ in range(num_hashes)])
    return F.aggregate(
        hashes,
        init,
        lambda acc, h: F.zip_with(
            acc,
            consts,
            lambda m, c: F.least(m, (c["a"] * (h % MINHASH_P) + c["b"]) % MINHASH_P),
        ),
    )


def minhash_signature(shingles: Column, num_hashes: int) -> Column:
    """Convenience one-shot form (prefer the two-step projection in
    pipelines: select shingle_hashes(...) first)."""
    return minhash_from_hashes(shingle_hashes(shingles), num_hashes)


def band_hash(sig: Column, band: int, rows_per_band: int) -> Column:
    """LSH band key: hash of the band's slice of the signature."""
    piece = F.slice(sig, band * rows_per_band + 1, rows_per_band)
    return md5_long(F.concat_ws(",", F.transform(piece, lambda x: x.cast("string"))))


def simhash_from_hashes(hashes: Column, bits: int = 32) -> Column:
    """SimHash from a precomputed token-hash array (project the md5
    array once; the per-bit vote aggregates are cheap affine passes).
    Bit b is 1 iff Σ_tokens (±1 on bit b of the hash) > 0.

    ``bits`` sizes the signature (32 from md5_long hashes, 60 from
    md5_long60) — wider signatures give exponentially more LSH band
    buckets, which is what keeps Hamming-banded dedup from drowning
    in random collisions as the corpus grows.

    Single-pass formulation: ONE aggregate whose accumulator is the
    length-``bits`` vote vector (zip_with against a literal 2^b mask
    array), instead of ``bits`` independent aggregates — one traversal
    of the hash array per doc and a codegen tree ~bits× smaller (the
    60-aggregate form blew past the JIT inlining budget and ran
    interpreted on first use). Bit membership tests use bitwiseAND
    against the mask, never float division — exact for 60-bit hashes.
    """
    pow2 = F.array(*[F.lit(1 << b).cast("long") for b in range(bits)])
    zeros = F.array(*[F.lit(0).cast("long") for _ in range(bits)])
    votes = F.aggregate(
        hashes,
        zeros,
        lambda acc, h: F.zip_with(
            acc,
            pow2,
            lambda a, p: a + F.when(h.bitwiseAND(p) != 0, 1).otherwise(-1),
        ),
    )
    return F.aggregate(
        F.zip_with(votes, pow2, lambda v, p: F.when(v > 0, p).otherwise(F.lit(0).cast("long"))),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def simhash32(tok: Column) -> Column:
    """One-shot SimHash of a token array, as BIGINT in [0, 2^32)
    (prefer projecting ``transform(tok, md5_long)`` first and calling
    ``simhash_from_hashes`` so md5 isn't re-derived per bit)."""
    return simhash_from_hashes(F.transform(tok, md5_long))


def hamming32(a: Column, b: Column) -> Column:
    """Hamming distance between two 32-bit signatures stored as BIGINT."""
    return F.bit_count(a.bitwiseXOR(b))


def rolling_fingerprint(tok: Column, mod: int = 1_000_000_007) -> Column:
    """Polynomial rolling hash over the token hash sequence:
    ``acc = (acc*31 + md5_long(t)) % mod`` left-to-right.

    DuckDB twin: ``list_reduce`` with the same lambda over the same
    token hashes (seeded with the first element — so we fold the hash
    of each token, starting from 0, via aggregate on both sides).
    """
    hashes = F.transform(tok, md5_long)
    return F.aggregate(
        hashes,
        F.lit(0).cast("long"),
        lambda acc, h: (acc * 31 + h) % F.lit(mod).cast("long"),
    )


def cosine(a: Column, b: Column, scale: int = 6) -> Column:
    """Cosine similarity of two float arrays, accumulated in DOUBLE in
    index order (bit-compatible with the DuckDB twin that sums
    ``list_transform(range(...))`` in the same order), rounded.

    Undefined (NULL) unless both norms are positive AND finite:

    * zero norm — under Spark 4's default ANSI mode an unguarded
      double ``0.0/0.0`` raises DIVIDE_BY_ZERO and aborts the JOB; one
      all-zero embedding (real model providers emit them for empty
      inputs) must not kill a 100 TB query;
    * non-finite norm (a NaN/±inf component) — both engines sort NaN
      GREATER than everything, so an unguarded corrupt vector would
      rank FIRST in every top-k and pass every ``>= threshold``
      filter. Finite norms imply every component is finite, which
      bounds the dot product finite too, so guarding the norms alone
      is complete.

    ``norm < inf`` rejects NaN and +inf in one predicate on BOTH
    engines (NaN compares greater, so ``NaN < inf`` is false in Spark
    and DuckDB alike). NULL fails every ``>= threshold`` filter and
    sorts last under ``(sim DESC, id)``, so zero/corrupt vectors drop
    out of pair results and rank last in top-k on both engines (SQL
    twin: plans/_sql.py:cosine, same CASE guard; DuckDB default DESC
    is also NULLS LAST). The norms are let-bound so the guard adds no
    second evaluation of the aggregate HOFs on the hot brute-force
    paths.
    """
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    dot = F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)
    na = F.aggregate(
        F.transform(a, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    nb = F.aggregate(
        F.transform(b, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    inf = F.lit(float("inf"))
    return let(
        na,
        lambda bna: let(
            nb,
            lambda bnb: F.when(
                (bna > 0) & (bna < inf) & (bnb > 0) & (bnb < inf),
                F.round(dot / (F.sqrt(bna) * F.sqrt(bnb)), scale),
            ),
        ),
    )


def md5_grid(prefix: str, rows: int, dim: int) -> list[list[float]]:
    """Deterministic float grid from the md5 family: component j of
    row r = (md5_long('{prefix}-{r}-{j}') % 2001 - 1000)/1000 — the
    ONE construction behind SRP hyperplanes and IVF centroids, so both
    engines regenerate identical constants from the prefix alone
    (SQL twin: plans/_sql.md5_grid_cte)."""
    import hashlib

    grid = []
    for r in range(rows):
        row = []
        for j in range(dim):
            h = int(hashlib.md5(f"{prefix}-{r}-{j}".encode()).hexdigest()[:8], 16)
            row.append((h % 2001 - 1000) / 1000.0)
        grid.append(row)
    return grid


def srp_planes(dim: int, n_bits: int) -> list[list[float]]:
    """Deterministic signed-random-projection hyperplanes
    (md5_grid family, prefix 'srp'); driver-side constants broadcast
    as literals into the plan."""
    return md5_grid("srp", n_bits, dim)


def srp_signature(vec: Column, planes: list[list[float]]) -> Column:
    """LSH bit-signature of a float vector under fixed hyperplanes:
    bit p = (dot(vec, plane_p) > 0). Returned as BIGINT bucket key.
    Pure expressions; plane components are literals folded by Catalyst.
    """
    bits = []
    for p, plane in enumerate(planes):
        dot = F.aggregate(
            F.zip_with(
                vec,
                F.array(*[F.lit(c) for c in plane]),
                lambda x, c: x.cast("double") * c,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bits.append(F.when(dot > 0, F.lit(1 << p).cast("long")).otherwise(F.lit(0).cast("long")))
    out = bits[0]
    for c in bits[1:]:
        out = out + c
    return out


def ivf_centroids(dim: int, n_cells: int) -> list[list[float]]:
    """Deterministic IVF coarse centroids (md5_grid family, prefix
    'ivf' — the fixed-quantizer twin of ``srp_planes``). The DuckDB
    oracle regenerates them, so cell assignment — and therefore the
    whole probe pipeline — is exactly cross-engine-checkable."""
    return md5_grid("ivf", n_cells, dim)
