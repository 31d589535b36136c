"""Deduplication operators — exact, fingerprint, MinHash-LSH, SimHash,
n-gram Jaccard — designed for 100 TB corpora.

These extend the reference's `.distinct()` (DistinctState, engine/types.rs:
289-295) to the LLM-data-pipeline scale ops called for by BASELINE.json's
north star. Scale design:

- exact / fingerprint dedup: hash-shuffle on the (narrow) key only; the
  winning row id is resolved with min/count aggregation, so no wide-row
  shuffle and no window-function sort. `fingerprint=True` groups on
  md5(key) so wide keys (full document text) never enter an exchange.
- shingling + hashing happen INSIDE one Arrow-batched pandas UDF as a
  vectorized numpy rolling hash, computed over the WHOLE batch at once:
  all docs concatenate into one byte buffer, the polynomial hash is k
  shifted multiply-adds over it, and windows crossing doc boundaries are
  masked (`_shingle_hashes_concat` — 4× the per-doc-loop kernel, which
  paid a Python iteration + a (len × k) window matrix per doc; uint64
  wraparound — deterministic). A JVM-side transform/substring shingler is
  O(len²) per doc and was measured 50× slower; per-row Python regex is
  avoided via pandas C-level .str ops.
- MinHash signatures: One-Permutation Hashing (Li/Owen/Zhang, NIPS 2012)
  with rotation densification (Shrivastava/Li, ICML 2014) — the whole
  `num_perm`-slot signature comes from ONE sort over the batch's shingle
  hashes instead of a num_perm× multiply-add blowup (uint64 products have
  no SIMD path; the k-permutation kernel measured ~4 s per 5k docs
  single-core, OPH ~0.1 s). LSH banding explodes to `bands` rows per doc
  (bounded, default 32); per-bucket candidate lists are capped
  (MAX_BUCKET) via a salted two-level aggregation so no aggregation
  buffer ever materializes a degenerate mega-bucket.
- SimHash: 64-bit sign-of-bit-votes signature from the same shingle hashes;
  near-dup = Hamming ≤ k over 4×16-bit banded exact-match candidates
  (pigeonhole: Hamming ≤ 3 ⇒ at least one identical band).
- default shingle_k = 7: on small-vocabulary corpora (bag-of-words docs)
  5-char shingles give a background pairwise Jaccard of ~0.17 (p99 0.26),
  which sits on the 32×4 banding S-curve and generated ~450K junk
  candidates per 5K docs; 7-char shingles drop background J to ~0.065
  (60× fewer candidates) while true near-dups measured J7 ≥ 0.84 — the
  reported pair set is unchanged, the candidate explosion is gone.
- verification joins carry only (id, signature/shingle-hash array), never
  the text.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from varpulis_spark.engine import fanout_partitions, spread

MERSENNE_PRIME = (1 << 61) - 1
MAX_BUCKET = 64  # cap candidates per LSH bucket (skew guard)
BUCKET_SALTS = 256  # fan-out of the level-1 capped aggregation (skew guard)
# dedup_clusters: pair graphs at or below this edge count solve driver-side
# (union-find); larger graphs run the distributed propagation loop
CLUSTERS_LOCAL_MAX_EDGES = 1_000_000
# minhash verify: broadcast the (id, signature) table into the candidate
# join when its exact size (n_docs × num_perm × 8 B) fits; larger corpora
# fall back to AQE's shuffle-side strategy
VERIFY_BROADCAST_MAX_BYTES = 256 << 20
# minshingle verify: blocks with more than _MATRIX_MIN_K distinct arrays
# use the inverted-index path (O(Σ c_j²) C-ops for ALL pairs at once)
# instead of the per-pair searchsorted loop (~20 µs/pair of call overhead —
# 72 s for the measured 3,359-member sf10 block). Up to _MATRIX_DENSE_MAX_K
# the accumulator is a dense k² int32 bincount (268 MB at 8192); above it
# the same pair codes accumulate SPARSELY (per-chunk np.unique, then one
# sort+reduceat merge — memory ∝ distinct co-occurring pairs, valid at any
# k), so the loop fallback the r12 cap implied cannot return at 100× scale
# (VERDICT r12 task 3: C(8000,2) ≈ 32M python-loop pairs ≈ minutes in one
# task).
#
# Dense cap 4096 → 8192 (r14): the sf10 corpus' residual mega-block has
# k = 7,254 distinct arrays with near-UNIVERSAL shingles (4 values appear
# in every array; Σ c_j² = 830M pair codes), and the sparse arm paid
# ~100 s of chunked sort/unique over those codes in ONE task — the wall
# of the whole query (task p50 2.2 s, max 129 s, measured). The dense
# bincount handles the same codes in seconds with no sort; 268 MB of
# transient numpy per in-flight mega block is well inside the worker
# budget on any sane executor (and mega blocks are rare by construction —
# the m2 split subdivides everything except same-minima clusters).
_MATRIX_MIN_K = 64
_MATRIX_DENSE_MAX_K = 8192
# minshingle mega-block tiling (guide §2.3): blocks with more than
# _TILE_MEMBERS pairable members split into up to _TILE_MAX_G member
# chunks; each chunk PAIR verifies on its own task (exact partition of
# the pair space — see _minshingle_verified_pairs). _TILE_MAX_G bounds
# the replication factor of a degenerate block's exchange bytes.
_TILE_MEMBERS = 1024
_TILE_MAX_G = 8
_FNV = np.uint64(1099511628211)

_PERSISTED: list[DataFrame] = []


def _register_cache(df: DataFrame) -> DataFrame:
    """Track persisted intermediates so long-lived sessions can release them
    (persist() must outlive the caller's action, so the operator itself
    cannot unpersist)."""
    _PERSISTED.append(df)
    return df


def release_caches() -> None:
    """Unpersist signature tables cached by the near-dup pipelines. Call
    after consuming results when running many queries in one session."""
    while _PERSISTED:
        _PERSISTED.pop().unpersist()


# ---------------------------------------------------------------------------
# exact / fingerprint dedup
# ---------------------------------------------------------------------------


def fingerprint_col(df: DataFrame, on: list[str]) -> "F.Column":
    """Injective 128-bit fingerprint over the key columns.

    Each column is hashed INDIVIDUALLY before combining (md5 per field,
    then md5 over the '\\x1f'-joined digests), so the encoding is injective:
    separator bytes or NUL sentinels inside a value cannot collide with
    field boundaries (['a\\x1f','b'] vs ['a','\\x1fb'] fingerprint
    differently, as do NULL vs a literal '\\x00'). NULL hashes to a 1-char
    marker that no 32-hex digest can equal; all-NULL keys therefore group
    together, matching null-safe-equality dedup semantics."""
    dtypes = dict(df.dtypes)
    parts = [
        F.coalesce(
            F.md5(F.col(c) if dtypes.get(c) == "binary" else F.col(c).cast("string")),
            F.lit("-"),
        )
        for c in on
    ]
    return F.md5(F.concat_ws("\x1f", *parts)) if len(parts) > 1 else parts[0]


def exact_dedup(
    df: DataFrame, on: list[str] | str, id_col: str, fingerprint: bool | None = None
) -> DataFrame:
    """Keep the lowest-id row per duplicate group; adds `dup_count`.

    ONE scan and ONE exchange: min/count window over the key (an agg +
    join-back would scan the source twice and shuffle twice — at 100 TB the
    second full scan dominates). The window's local sort is on the grouping
    key only (32-char fingerprints), spillable and partition-local.

    With ``fingerprint=True`` the grouping key is an injective md5 over the
    key columns (`fingerprint_col`), so a wide key (the full document text)
    never enters an exchange — the shuffle carries a 32-char key and
    Catalyst prunes the text column when the caller doesn't select it.
    128-bit fingerprints are collision-safe at any realistic corpus size
    (p ≈ n²/2¹²⁹). Default (None): auto-fingerprint whenever any key
    column is a string/binary — unbounded-width keys should never ride an
    exchange raw. `fingerprint=False` forces raw keys (window partitionBy
    groups NULLs together, same as null-safe equality)."""
    on = [on] if isinstance(on, str) else list(on)
    dtypes = dict(df.dtypes)
    if fingerprint is None:
        fingerprint = any(dtypes.get(c) in ("string", "binary") for c in on)
    from pyspark.sql.window import Window

    if fingerprint:
        keyed = df.withColumn("__fp", fingerprint_col(df, on))
        part_cols, drop_cols = ["__fp"], ["__fp", "__keep_id"]
    else:
        keyed = df
        part_cols, drop_cols = on, ["__keep_id"]
    w = Window.partitionBy(*part_cols)
    return (
        keyed.withColumn("__keep_id", F.min(F.col(id_col)).over(w))
        .withColumn("dup_count", F.count(F.lit(1)).over(w))
        .filter(F.col(id_col) == F.col("__keep_id"))
        .drop(*drop_cols)
    )


def exact_dedup_streaming(
    df: DataFrame,
    on: list[str] | str,
    ts_col: str = "ts",
    watermark: str = "10 minutes",
    fingerprint: bool | None = None,
) -> DataFrame:
    """Streaming exact dedup: keep the FIRST-arriving row per key, with
    state bounded by the watermark (Spark's dropDuplicatesWithinWatermark
    — two rows whose event times are within the watermark delay dedupe;
    rows further apart than the delay may both pass, the standard bounded-
    state contract). Wide string/binary keys auto-fingerprint to md5 so
    the state store holds 32-char keys, never document text — the same
    never-ship-raw-text rule as the batch path."""
    on = [on] if isinstance(on, str) else list(on)
    dtypes = dict(df.dtypes)
    if fingerprint is None:
        fingerprint = any(dtypes.get(c) in ("string", "binary") for c in on)
    if fingerprint:
        keyed = df.withColumn("__fp", fingerprint_col(df, on))
        key_cols = ["__fp"]
    else:
        keyed = df
        key_cols = on
    out = keyed.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(key_cols)
    return out.drop("__fp") if fingerprint else out


# ---------------------------------------------------------------------------
# vectorized shingle hashing (shared by MinHash / SimHash / Jaccard)
# ---------------------------------------------------------------------------


def _normalize(texts: pd.Series) -> pd.Series:
    """lowercase + whitespace-collapse, C-level pandas string ops."""
    return texts.fillna("").str.lower().str.replace(r"\s+", " ", regex=True)


def _shingle_hash_row(text: str, k: int, powers: np.ndarray) -> np.ndarray:
    """Distinct uint64 rolling hashes of the char k-shingles of one text."""
    b = np.frombuffer(text.encode("utf-8"), dtype=np.uint8)
    if len(b) == 0:
        return np.zeros(0, dtype=np.uint64)
    if len(b) < k:
        w = np.zeros((1, k), dtype=np.uint64)
        w[0, : len(b)] = b
    else:
        w = np.lib.stride_tricks.sliding_window_view(b, k).astype(np.uint64)
    with np.errstate(over="ignore"):
        h = (w * powers).sum(axis=1, dtype=np.uint64)
    return np.unique(h)


def _powers(k: int) -> np.ndarray:
    with np.errstate(over="ignore"):
        p = np.empty(k, dtype=np.uint64)
        p[0] = np.uint64(1)
        for i in range(1, k):
            p[i] = p[i - 1] * _FNV
    return p


def _shingle_hashes_concat(
    texts: pd.Series, k: int, powers: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """All docs' rolling k-shingle hashes in ONE vectorized pass.

    The per-document kernel (`_shingle_hash_row`) pays a Python-loop
    iteration plus a (len × k) uint64 window-matrix materialization per
    doc; at sf1 that loop IS the near-dup wall time (same per-group
    overhead class as the r7 forecast fix). Here every doc in the Arrow
    batch is concatenated into one byte buffer and the polynomial hash is
    computed with k shifted multiply-adds over the whole buffer; windows
    crossing a document boundary are masked out by comparing the doc index
    at the window's first and last byte.

    Returns ``(doc_idx, hashes, counts)``: NON-distinct window hashes
    (uint64, wraparound arithmetic bit-identical to the row kernel), the
    doc index of each hash, and per-doc window counts (0 only for empty
    docs). Distinctness, where a caller needs it, is one global
    lexsort-dedupe instead of a per-doc `np.unique` sort.
    """
    encoded = [t.encode("utf-8") for t in texts]
    n = len(encoded)
    lens = np.fromiter((len(e) for e in encoded), dtype=np.int64, count=n)
    total = int(lens.sum())
    counts = np.where(lens >= k, lens - (k - 1), np.minimum(lens, 1))
    if total == 0:
        return (
            np.zeros(0, dtype=np.int64),
            np.zeros(0, dtype=np.uint64),
            counts,
        )
    buf = np.frombuffer(b"".join(encoded), dtype=np.uint8).astype(np.uint64)
    starts = np.zeros(n, dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    doc_of = np.repeat(np.arange(n, dtype=np.int64), lens)
    out_h: list[np.ndarray] = []
    out_d: list[np.ndarray] = []
    if total >= k:
        n_win = total - k + 1
        h_all = np.zeros(n_win, dtype=np.uint64)
        with np.errstate(over="ignore"):
            for i in range(k):
                h_all += buf[i : i + n_win] * powers[i]
        valid = doc_of[:n_win] == doc_of[k - 1 :]
        out_h.append(h_all[valid])
        out_d.append(doc_of[:n_win][valid])
    # docs shorter than k hash their zero-padded prefix window (matches the
    # row kernel's single padded window); rare, so a tiny Python loop.
    short = np.nonzero((lens > 0) & (lens < k))[0]
    if short.size:
        h_short = np.empty(short.size, dtype=np.uint64)
        with np.errstate(over="ignore"):
            for j, d in enumerate(short):
                b = buf[starts[d] : starts[d] + lens[d]]
                h_short[j] = (b * powers[: lens[d]]).sum(dtype=np.uint64)
        out_h.append(h_short)
        out_d.append(short.astype(np.int64))
    doc_idx = np.concatenate(out_d) if len(out_d) > 1 else out_d[0]
    hashes = np.concatenate(out_h) if len(out_h) > 1 else out_h[0]
    if short.size:
        # restore global doc order (short docs were appended) — timsort on
        # the nearly-sorted index is ~O(n); the all-long-docs common case
        # skips this entirely. Downstream relies on non-decreasing doc_idx
        # for segment-local processing.
        order = np.argsort(doc_idx, kind="stable")
        doc_idx = doc_idx[order]
        hashes = hashes[order]
    return doc_idx, hashes, counts


def _distinct_per_doc(
    doc_idx: np.ndarray, hashes: np.ndarray, n: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Per-doc DISTINCT hashes, ascending within each doc (bit-identical to
    per-doc ``np.unique``). Returns ``(doc_idx, hashes, per-doc distinct
    counts)``.

    Fast path (always taken for `_shingle_hashes_concat` output, which is
    doc-ordered): in-place np.sort per doc SEGMENT — ~300-element
    cache-resident sorts, measured 6.5× faster than one global
    lexsort-argsort over the batch's millions of shingles (the argsort's
    random-permutation gather is the cost, not the comparisons)."""
    if hashes.size == 0:
        return doc_idx, hashes, np.zeros(n, dtype=np.int64)
    if np.all(doc_idx[1:] >= doc_idx[:-1]):
        hd = hashes.copy()
        dd = doc_idx
        seg = np.flatnonzero(np.diff(dd)) + 1
        starts = np.concatenate(([0], seg))
        ends = np.concatenate((seg, [hd.size]))
        for a, b in zip(starts.tolist(), ends.tolist()):
            hd[a:b].sort()
    else:
        order = np.lexsort((hashes, doc_idx))
        hd = hashes[order]
        dd = doc_idx[order]
    keep = np.empty(hd.size, dtype=bool)
    keep[0] = True
    keep[1:] = (hd[1:] != hd[:-1]) | (dd[1:] != dd[:-1])
    hu = hd[keep]
    du = dd[keep]
    return du, hu, np.bincount(du, minlength=n)


def shingle_hashes_udf(k: int = 7):
    """pandas UDF: text → array<long> distinct shingle hashes.

    .. note:: the default ``k`` changed 5 → 7 in r4 across the whole dedup
       API (see the module docstring for the candidate-explosion rationale);
       callers relying on the old default must pass ``k=5`` explicitly."""
    powers = _powers(k)

    @pandas_udf("array<long>")
    def _sh(texts: pd.Series) -> pd.Series:
        if len(texts) == 0:
            return pd.Series([], dtype=object)
        doc_idx, raw, _ = _shingle_hashes_concat(_normalize(texts), k, powers)
        _, hu, lens = _distinct_per_doc(doc_idx, raw, len(texts))
        splits = np.split(hu.astype(np.int64), np.cumsum(lens)[:-1])
        return pd.Series([s.tolist() for s in splits])

    return _sh


_VAL_BITS = 40  # truncated min-hash value width; (doc, bin) key gets the rest
_EMPTY_SLOT = np.int64(MERSENNE_PRIME)  # sentinel > any 40-bit value


def _oph_signatures(
    texts: pd.Series, num_perm: int, shingle_k: int, seed: int
) -> np.ndarray:
    """Core OPH kernel (numpy-only, testable without a SparkSession).
    Returns an (n_docs × num_perm) int64 signature matrix."""
    bin_bits = num_perm.bit_length() - 1
    powers = _powers(shingle_k)
    val_mask = np.uint64((1 << _VAL_BITS) - 1)
    # murmur-style finalizer so bin assignment isn't correlated with the
    # rolling-hash structure; seed varies the odd multipliers.
    m1 = np.uint64((0xFF51AFD7ED558CCD ^ (2 * seed + 1)) | 1)
    m2 = np.uint64((0xC4CEB9FE1A85EC53 ^ (2 * seed + 1)) | 1)

    # batched shingling, NON-distinct: the per-(doc, bin) minimum is
    # unchanged by duplicate shingles, so the global dedupe sort is skipped
    # entirely on this path.
    doc_idx64, h, lens = _shingle_hashes_concat(_normalize(texts), shingle_k, powers)
    n = len(texts)
    if n == 0 or h.size == 0:
        return np.full((n, num_perm), _EMPTY_SLOT, dtype=np.int64)
    # key packing headroom: (batch_docs × num_perm) must fit above the
    # value bits — 2^24 keys at the default widths, far beyond Arrow's
    # 10k-row batches.
    assert n * num_perm < (1 << (64 - _VAL_BITS))
    doc_idx = doc_idx64.astype(np.uint64)
    with np.errstate(over="ignore"):
        h = h ^ (h >> np.uint64(33))
        h = h * m1
        h = h ^ (h >> np.uint64(29))
        h = h * m2
        h = h ^ (h >> np.uint64(32))
    bins = h >> np.uint64(64 - bin_bits)
    key = doc_idx * np.uint64(num_perm) + bins
    comp = (key << np.uint64(_VAL_BITS)) | (h & val_mask)
    comp.sort()
    keys_sorted = comp >> np.uint64(_VAL_BITS)
    first = np.empty(comp.size, dtype=bool)
    first[0] = True
    np.not_equal(keys_sorted[1:], keys_sorted[:-1], out=first[1:])
    sig = np.full(n * num_perm, _EMPTY_SLOT, dtype=np.int64)
    sig[keys_sorted[first].astype(np.int64)] = (comp[first] & val_mask).astype(np.int64)
    sig = sig.reshape(n, num_perm)
    # rotation densification from the ORIGINAL bins (no cascading)
    orig = sig.copy()
    active = sig == _EMPTY_SLOT
    active[lens == 0] = False  # truly empty docs keep the sentinel sig
    t = 1
    while active.any() and t < num_perm:
        cand = np.roll(orig, -t, axis=1)
        fill = active & (cand != _EMPTY_SLOT)
        sig[fill] = cand[fill]
        active &= ~fill
        t += 1
    return sig


def minhash_signature_udf(num_perm: int = 128, shingle_k: int = 7, seed: int = 42):
    """pandas UDF: text → array<long> MinHash signature via One-Permutation
    Hashing.

    The classic k-permutation kernel is O(shingles × num_perm) uint64
    multiply-adds per batch; 64-bit products have no SIMD path, so it
    measured ~4 s per 5k docs on one core. OPH (Li, Owen, Zhang — "One
    Permutation Hashing", NIPS 2012) computes the whole signature in ONE
    pass: the (mixed) hash space is split into `num_perm` bins by the top
    bits; slot j is the minimum 40-bit truncated hash among the doc's
    shingles landing in bin j. Empty bins — common for short docs — are
    filled by rotation densification (Shrivastava & Li, ICML 2014):
    borrow the nearest ORIGINAL non-empty bin to the right, cyclically.
    Identical shingle sets still yield identical signatures and
    E[slot agreement] ≈ Jaccard, so LSH banding and the est_jaccard
    verification are unchanged in shape; a recall test pins quality vs
    exact Jaccard.

    Vectorization: all docs in an Arrow batch share ONE np.sort — the
    (doc, bin) key and the truncated value are packed into a single
    uint64; after sorting, the first element of each key group is the min.

    .. note:: default ``shingle_k`` changed 5 → 7 in r4 (module docstring);
       pass ``shingle_k=5`` to reproduce pre-r4 signatures.
    """
    if num_perm & (num_perm - 1):
        raise ValueError("num_perm must be a power of two")

    @pandas_udf("array<long>")
    def _sig(texts: pd.Series) -> pd.Series:
        sig = _oph_signatures(texts, num_perm, shingle_k, seed)
        return pd.Series([row.tolist() for row in sig])

    return _sig


def _simhash_batch(texts: pd.Series, shingle_k: int) -> np.ndarray:
    """Vectorized SimHash over a batch: ONE unpackbits + reduceat instead
    of a per-document python loop (the loop was the 2nd-slowest stage of
    the near-dup suite). Bit j of the signature is the sign of the summed
    j-th hash bits over the doc's distinct shingles; the bit→position
    mapping is a fixed permutation of the scalar form (Hamming distances
    are permutation-invariant, which is all SimHash uses)."""
    powers = _powers(shingle_k)
    n = len(texts)
    out = np.zeros(n, dtype=np.int64)
    doc_idx, raw, _ = _shingle_hashes_concat(_normalize(texts), shingle_k, powers)
    # SimHash votes weight each DISTINCT shingle once (bit-identical to the
    # old per-doc np.unique loop).
    du, cat, lens = _distinct_per_doc(doc_idx, raw, n)
    nonzero = lens > 0
    if not nonzero.any():
        return out
    # Bit voting in cache-sized chunks. A single (total_shingles, 64)
    # uint16 matrix + one reduceat measured ~10× the rest of the kernel at
    # realistic batch sizes — it streams hundreds of MB through memory.
    # Chunked, the bit matrix stays uint8 straight out of unpackbits (no
    # astype pass at all): per-doc segments are split at 255 rows so the
    # uint8 reduceat cannot overflow, and the tiny per-(sub)segment sums
    # are promoted to int64 and accumulated into the per-doc totals.
    sums = np.zeros((n, 64), dtype=np.int64)
    bytes_view = cat.view(np.uint8).reshape(-1, 8)
    chunk = 1 << 13
    for a in range(0, cat.size, chunk):
        b = min(a + chunk, cat.size)
        bits = np.unpackbits(bytes_view[a:b], axis=1)  # uint8 (m, 64)
        d = du[a:b]
        cuts = np.flatnonzero(np.diff(d)) + 1
        seg_starts = np.concatenate(([0], cuts)).astype(np.int64)
        seg_ends = np.concatenate((cuts, [b - a])).astype(np.int64)
        seg_docs = d[seg_starts]
        n_sub = (seg_ends - seg_starts + 254) // 255
        sub_docs = np.repeat(seg_docs, n_sub)
        base = np.repeat(seg_starts, n_sub)
        within = np.concatenate([np.arange(m) for m in n_sub.tolist()]) * 255
        sub_sums = np.add.reduceat(bits, base + within, axis=0).astype(np.int64)
        # a doc spanning a chunk boundary appears in both chunks' partials;
        # indexed += is safe because sub_docs are unique WITHIN a chunk
        # except for the ≤255-row splits, which np.add.at accumulates.
        np.add.at(sums, sub_docs, sub_sums)
    votes = (2 * sums[nonzero]) > lens[nonzero, None]  # majority bit per position
    packed = np.packbits(votes.astype(np.uint8), axis=1)  # (docs, 8 bytes)
    out[nonzero] = packed.reshape(-1).view(np.uint64).astype(np.int64)
    return out


def simhash_udf(shingle_k: int = 7):
    """pandas UDF: text → 64-bit SimHash (long)."""

    @pandas_udf("long")
    def _sim(texts: pd.Series) -> pd.Series:
        return pd.Series(_simhash_batch(texts, shingle_k))

    return _sim


# ---------------------------------------------------------------------------
# MinHash + LSH near-duplicate pairs
# ---------------------------------------------------------------------------


def minhash_near_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 128,
    bands: int = 32,
    shingle_k: int = 7,
    threshold: float = 0.5,
    n_rows: int | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs via MinHash + LSH banding.

    ``n_rows``: accepted for caller compatibility, no longer consulted —
    the r14 shape carries signatures through the banding, so there is no
    signature-broadcast decision left to size (the r13/r14.0 join-back
    shape used it to avoid a count job at query build).

    Returns (id_a, id_b, est_jaccard) with id_a < id_b and estimated Jaccard
    (signature agreement rate) ≥ threshold.

    Choose `bands` for the target similarity: the banding S-curve midpoint is
    (1/bands)^(bands/num_perm) — 32×4 ≈ 0.42 (default, near-dup mining),
    16×8 ≈ 0.71 (strict dup detection). More bands → higher recall at low
    similarity, more candidate pairs to verify.

    .. note:: default ``shingle_k`` changed 5 → 7 in r4 (module docstring):
       the reported pair set on real corpora is unchanged, but signatures
       and est_jaccard values differ; pass ``shingle_k=5`` for the old
       behavior."""
    rows_per_band = num_perm // bands
    sig = minhash_signature_udf(num_perm, shingle_k)
    # No persist and no join-back (r14, the simhash r13 shape applied to
    # minhash): the signature RIDES THE BANDING as a column. The r13 shape
    # persisted (id, sig) and joined it back onto the capped bucket
    # membership — but the banding stage and the sig-table join build
    # (broadcast at bench scale, shuffle-hash beyond it) start CONCURRENTLY
    # under AQE, each found the cache unpopulated, and each ran the full
    # signature UDF pass (measured r14: two ~0.7 s 32-task jobs per action
    # at sf0.1 — at 100 TB that is the corpus text scanned and signed
    # TWICE). With one consumer the UDF runs once (ExtractPythonUDFs emits
    # a single ArrowEvalPython; plan-verified), the cache (num_perm·8 B per
    # doc — ~1 TB/10⁹ docs of executor storage) is gone, and so are the
    # broadcast/join and the post-join regroup aggregation round.
    # The trade, stated honestly: the pre-cap level-1 exchange now carries
    # the 128-long signature per (doc, band) membership instead of the bare
    # id. The r13 shape shipped the same per-membership signature bytes
    # through its post-join regroup exchange anyway, so the net is one
    # extra capped fat exchange (level 2) in return for one fewer full
    # corpus pass — the §8 trade (move heavy bytes once, never recompute
    # them) with the verify's own payload.
    #
    # The band-bucket expression is assembled as ONE SQL string: composing
    # it from Column objects issued ~5,300 py4j round-trips (~1.4 s of
    # driver wall per query build, measured r13 — guide §1.2); a single
    # F.expr is one round-trip and parses to the identical plan. xxhash64
    # hashes the band's longs directly (no string casts).
    band_exprs = ", ".join(
        "xxhash64({j}, {items})".format(
            j=j,
            items=", ".join(
                f"sig[{j * rows_per_band + r}]" for r in range(rows_per_band)
            ),
        )
        for j in range(bands)
    )
    banded = (
        spread(df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__t")))
        .select("id", sig(F.col("__t")).alias("sig"))
        .select("id", "sig", F.explode(F.expr(f"array({band_exprs})")).alias("bucket"))
    )

    # bucket-local verification (r8): the banding S-curve lets through
    # orders of magnitude more false-positive candidates than survivors
    # near the threshold (2.7M candidates → 347 pairs at sf1; 86M at
    # sf10 on the high-baseline-similarity corpus) — the old
    # pairs→join-sigs-back shape shipped 2 KB of signatures per raw
    # candidate through a shuffle join and blew the sf10 timeout. The
    # agreement check runs inline during the per-bucket pair explode;
    # failing candidates never materialize (see _bucket_verified_pairs).
    return _bucket_verified_pairs(banded, num_perm, threshold)


def _bucketed_near_dup_streaming(
    banded: DataFrame,
    payload_np,
    verify,
    out_schema: str,
    metric_col: str,
    max_bucket: int,
    payload_col: str = "sig",
    state_shards: int | None = None,
    shard_member_cap: int | None = None,
) -> DataFrame:
    """Shared stateful driver for streaming near-dup mining: `banded` is a
    streaming (id long, <payload>, bucket long) frame where a doc appears
    once per LSH band; state per bucket is the capped LOWEST-id membership
    of (id, payload-array) rows — the same membership the batch
    `_bucket_pairs` cap keeps — so candidate generation and verification
    (`verify(pays_matrix, new_payload) -> (hit_mask, metric_values)`)
    happen in one `applyInPandasWithState` pass.

    Cap semantics: ids are processed in ascending order within each
    micro-batch; a doc beyond a full bucket's max id is skipped entirely
    (batch parity — the batch cap drops it from the bucket's membership),
    and an insertion that overflows the cap evicts the current max id.
    Under globally id-ordered arrival the emitted pair SET therefore
    equals the batch op's exactly; out-of-order arrival keeps the same
    capped membership but cannot retract pairs an evicted doc already
    emitted.

    `state_shards`: with per-BUCKET state keys, every micro-batch pays one
    Python state round-trip per touched bucket — ~bands × docs mostly
    distinct groups per batch, a per-doc overhead that does NOT amortize
    with batch size and becomes the throughput knee (~3.5K docs/s measured
    at 4 bands). Setting `state_shards=N` re-keys state on
    `hash(bucket) % N`: each shard's state is the dict of its buckets'
    memberships, so a batch pays at most N round-trips regardless of rate,
    and each call vectorizes over many rows. Per-bucket semantics (id
    order, cap, eviction, emitted pair set) are IDENTICAL — buckets are
    independent, so where they live is a physical choice (parity-tested).
    The trade: a touched shard rewrites its whole membership dict, so
    per-batch state churn is ~(total history)/N instead of touched-only —
    bound the history with `shard_member_cap` (LRU on buckets, the same
    policy the reference's DistinctState LRU≈TTL cap applies,
    runtime/src/engine/mod.rs distinct) for long-lived streams, or leave
    None for exact dedup-against-all-history."""
    import pickle

    from pyspark.sql.streaming.state import GroupStateTimeout

    if state_shards:
        banded = banded.withColumn(
            "skey", F.pmod(F.xxhash64(F.lit(7), F.col("bucket")), F.lit(state_shards))
        )

        # Shard state is COLUMNAR — (keys, counts, ids, pays-matrix) — not a
        # dict of per-bucket arrays: pickling thousands of tiny numpy
        # arrays costs ~45 ms/shard round-trip at 5k buckets (measured),
        # ~1.5 s/batch across 32 shards by end of a 40K-doc run; four big
        # arrays round-trip the same membership in ~9 ms (memcpy-speed).
        def _enc(hist: dict) -> bytes:
            if not hist:
                return pickle.dumps(None)
            keys = np.fromiter(hist.keys(), dtype=np.int64, count=len(hist))
            counts = np.fromiter(
                (v[0].size for v in hist.values()), dtype=np.int64, count=len(hist)
            )
            ids = np.concatenate([v[0] for v in hist.values()])
            pays = np.vstack([v[1] for v in hist.values()])
            return pickle.dumps((keys, counts, ids, pays))

        def _dec(buf: bytes) -> dict:
            t = pickle.loads(buf)
            if t is None:
                return {}
            keys, counts, ids, pays = t
            bounds = np.concatenate(([0], np.cumsum(counts)))
            return {
                int(k): (ids[bounds[i] : bounds[i + 1]], pays[bounds[i] : bounds[i + 1]])
                for i, k in enumerate(keys)
            }

        def run_sharded(key, pdfs, state):
            hist: dict = {}
            touched = 0
            if state.exists:
                (buf,) = state.get
                hist = _dec(buf)
            chunks = [p for p in pdfs if len(p)]
            out_a: list[int] = []
            out_b: list[int] = []
            out_m: list = []
            if chunks:
                batch = pd.concat(chunks).sort_values(["bucket", "id"])
                b_np = batch["bucket"].to_numpy()
                id_np = batch["id"].to_numpy()
                pay_np = batch[payload_col].to_numpy()
                # iterate bucket runs (sorted, so each bucket is one slice)
                starts = np.flatnonzero(np.concatenate(([True], b_np[1:] != b_np[:-1])))
                ends = np.concatenate((starts[1:], [b_np.size]))
                for s, e in zip(starts, ends):
                    bkt = int(b_np[s])
                    ids, pays = hist.pop(bkt, (np.zeros(0, dtype=np.int64), None))
                    for rid, raw in zip(id_np[s:e], pay_np[s:e]):
                        rid = int(rid)
                        if ids.size and (ids == rid).any():
                            continue
                        if ids.size >= max_bucket and rid > int(ids.max()):
                            continue
                        p = payload_np(raw)
                        if pays is None:
                            pays = np.zeros((0,) + p.shape, dtype=p.dtype)
                        if ids.size:
                            hit, metric = verify(pays, p)
                            for a, m in zip(
                                ids[hit].tolist(), np.asarray(metric)[hit].tolist()
                            ):
                                out_a.append(min(a, rid))
                                out_b.append(max(a, rid))
                                out_m.append(m)
                        ids = np.append(ids, np.int64(rid))
                        pays = np.vstack([pays, p[None, :]])
                        if ids.size > max_bucket:
                            j = int(np.argmax(ids))
                            keep = np.ones(ids.size, dtype=bool)
                            keep[j] = False
                            ids = ids[keep]
                            pays = pays[keep]
                    hist[bkt] = (ids, pays)  # pop+reinsert = LRU touch
                    touched += 1
            if shard_member_cap:
                total = sum(v[0].size for v in hist.values())
                for bkt in list(hist):  # insertion order = LRU order
                    if total <= shard_member_cap:
                        break
                    total -= hist.pop(bkt)[0].size
            state.update((_enc(hist),))
            yield pd.DataFrame({"id_a": out_a, "id_b": out_b, metric_col: out_m})

        return banded.groupBy("skey").applyInPandasWithState(
            run_sharded,
            out_schema,
            "buf binary",
            "append",
            GroupStateTimeout.NoTimeout,
        )

    def run(key, pdfs, state):
        ids = np.zeros(0, dtype=np.int64)
        pays: np.ndarray | None = None
        if state.exists:
            (buf,) = state.get
            ids, pays = pickle.loads(buf)
        chunks = [p for p in pdfs if len(p)]
        out_a: list[int] = []
        out_b: list[int] = []
        out_m: list = []
        if chunks:
            batch = pd.concat(chunks).sort_values("id")
            for rid, raw in zip(
                batch["id"].to_numpy(), batch[payload_col].to_numpy()
            ):
                rid = int(rid)
                if ids.size and (ids == rid).any():
                    continue  # same doc re-fanned / replayed
                if ids.size >= max_bucket and rid > int(ids.max()):
                    continue  # beyond the capped membership (batch cap)
                p = payload_np(raw)
                if pays is None:
                    pays = np.zeros((0,) + p.shape, dtype=p.dtype)
                if ids.size:
                    hit, metric = verify(pays, p)
                    for a, m in zip(ids[hit].tolist(), np.asarray(metric)[hit].tolist()):
                        out_a.append(min(a, rid))
                        out_b.append(max(a, rid))
                        out_m.append(m)
                ids = np.append(ids, np.int64(rid))
                pays = np.vstack([pays, p[None, :]])
                if ids.size > max_bucket:
                    j = int(np.argmax(ids))
                    keep = np.ones(ids.size, dtype=bool)
                    keep[j] = False
                    ids = ids[keep]
                    pays = pays[keep]
        state.update((pickle.dumps((ids, pays)),))
        yield pd.DataFrame({"id_a": out_a, "id_b": out_b, metric_col: out_m})

    return banded.groupBy("bucket").applyInPandasWithState(
        run,
        out_schema,
        "buf binary",
        "append",
        GroupStateTimeout.NoTimeout,
    )


def minhash_near_dup_streaming(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 128,
    bands: int = 32,
    shingle_k: int = 7,
    threshold: float = 0.5,
    max_bucket: int = MAX_BUCKET,
    state_shards: int | None = None,
    shard_member_cap: int | None = None,
) -> DataFrame:
    """Streaming MinHash near-dup mining: as documents arrive, emit
    (id_a, id_b, est_jaccard) pairs against EVERYTHING seen so far — the
    dedup-against-history shape a continuously-ingesting training-data
    pipeline needs (the streaming twin of `minhash_near_dup_pairs`; the
    reference's engine runs every operator continuously, engine/mod.rs).

    Design: signatures are computed by the same OPH pandas UDF, then each
    doc fans out to its `bands` LSH bucket keys WITH its signature, and an
    `applyInPandasWithState` keyed by bucket keeps the capped (id, sig)
    membership in state — so candidate generation AND signature
    verification happen inside one stateful pass, no second join against a
    signature store (which streaming cannot express). Per-bucket state is
    the same lowest-`max_bucket`-ids membership the batch cap keeps.

    Contracts / divergences (all shared with the batch op where possible):
    - A pair is emitted once per COLLIDING BAND (batch runs a final
      dropDuplicates; chaining a second stateful dedup behind
      applyInPandasWithState is not supported by Spark, so the consumer
      applies `.dropDuplicates(["id_a","id_b"])` on the drained result —
      duplicate emissions carry identical est_jaccard).
    - Exact batch parity when ids arrive in non-decreasing order (the
      append-log case): state converges to the batch cap's lowest-id
      membership and the emitted pair SET equals the batch pair set
      (parity-tested). Out-of-order ids keep the same capped membership by
      evicting the largest id, but pairs already emitted by an evicted doc
      are not retracted.
    - State per (band, bucket): ≤ max_bucket × num_perm longs. Buckets
      accumulate for the stream's lifetime — dedup-against-all-history is
      inherently unbounded; bound ingestion upstream (e.g. windowed
      replay) if the corpus is.
    - Shuffle carries (id, sig) × bands per doc (~bands × num_perm × 8 B);
      unlike batch there is no persisted side to join back to, so the
      amplification is the price of single-pass verification. Text never
      enters an exchange.
    """
    rows_per_band = num_perm // bands
    sig = minhash_signature_udf(num_perm, shingle_k)
    # spread before the OPH UDF — see simhash_near_dup_streaming: file-source
    # micro-batches arrive as 1 split per spool file, serializing signatures
    base = spread(df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__t"))).select(
        "id", sig(F.col("__t")).alias("sig")
    )
    banded = base.select(
        "id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.xxhash64(
                        F.lit(j),
                        *[
                            F.col("sig").getItem(j * rows_per_band + r)
                            for r in range(rows_per_band)
                        ],
                    )
                    for j in range(bands)
                ]
            )
        ).alias("bucket"),
    )

    def verify(pays: np.ndarray, p: np.ndarray):
        est = (pays == p).sum(axis=1) / float(num_perm)
        return est >= threshold, est

    return _bucketed_near_dup_streaming(
        banded,
        payload_np=lambda v: np.asarray(v, dtype=np.int64),
        verify=verify,
        out_schema="id_a long, id_b long, est_jaccard double",
        metric_col="est_jaccard",
        max_bucket=max_bucket,
        state_shards=state_shards,
        shard_member_cap=shard_member_cap,
    )


def _bucket_pairs(banded: DataFrame, dedup_pairs: bool = True) -> DataFrame:
    """(id, bucket) → distinct candidate (id_a, id_b) pairs per bucket,
    keeping the MAX_BUCKET lowest ids per bucket (skew guard — a
    degenerate bucket, e.g. empty-text boilerplate, stays bounded but
    still contributes candidates).

    Skew safety: the cap is applied BEFORE any aggregation buffer can
    materialize a mega-bucket. Level 1 groups by (bucket, salt) with
    salt = hash(id) mod BUCKET_SALTS and keeps each group's MAX_BUCKET
    lowest ids, so a bucket with B members costs at most B/256 ids per
    buffer (map-side partials hold only one input partition's share).
    Level 2 merges ≤ 256 capped lists (≤ 16K ids) per bucket and re-caps.
    Output is identical to an unsalted global cap: each id's salt group
    retains its own lowest MAX_BUCKET ids, a superset of the bucket-global
    lowest MAX_BUCKET.

    Parallelism is pinned explicitly (repartition before each aggregation
    level; the quadratic pair explosion runs pipelined on level-2's pinned
    partitions): AQE's size-based coalescing sees a few MB and would run
    the explode on 1-2 tasks."""
    p = fanout_partitions(banded)
    salted = banded.withColumn(
        "__salt", F.pmod(F.xxhash64("id"), F.lit(BUCKET_SALTS))
    )
    lvl1 = (
        salted.repartition(p, "bucket", "__salt")
        .groupBy("bucket", "__salt")
        .agg(F.slice(F.sort_array(F.collect_list("id")), 1, MAX_BUCKET).alias("ids"))
    )
    lists = (
        lvl1.repartition(p, "bucket")
        .groupBy("bucket")
        .agg(
            F.slice(
                F.sort_array(F.flatten(F.collect_list("ids"))), 1, MAX_BUCKET
            ).alias("ids")
        )
        .filter(F.size("ids") >= 2)
    )
    pair_expr = (
        "flatten(transform(ids, (x, i) -> "
        "transform(slice(ids, i + 2, size(ids)), y -> struct(x AS id_a, y AS id_b))))"
    )
    out = (
        lists.select(F.explode(F.expr(pair_expr)).alias("p"))
        .select("p.id_a", "p.id_b")
    )
    if dedup_pairs:
        out = out.dropDuplicates(["id_a", "id_b"])
    return out


def _bucket_verified_pairs(
    banded: DataFrame,
    num_perm: int,
    threshold: float,
) -> DataFrame:
    """(id, sig, bucket) memberships → verified (id_a, id_b, est_jaccard)
    with the signature-agreement check computed INSIDE the per-bucket pair
    explode (the minhash scale path, r8).

    Why not pairs → join sigs back (the pre-r8 shape): on a high-baseline-
    similarity corpus the banding S-curve admits ~10^8 raw candidates at
    ~10^6 docs, and the verify join then ships TWO full signatures
    (2 × num_perm × 8 B ≈ 2 KB) per candidate THROUGH A SHUFFLE — ~170 GB
    at sf10, where it blew the per-query bench timeout.

    r14: the signature arrives ON the membership row (it rides the
    banding — see minhash_near_dup_pairs), so each fat row (id, sig,
    bucket) crosses exactly ONE exchange: hash-repartition on bucket +
    in-partition sort on (bucket, id), and the streaming kernel applies
    the cap and the agreement check over sorted bucket runs. The r14.0
    shape ran the two-level salted collect_list(struct(id, sig)) cap
    instead, which shipped every signature through TWO exchanges
    (747 MB + 1093 MB at sf1 for a 6 MB input — measured, stage metrics)
    and paid two ObjectHashAggregate rounds sorting fat struct arrays
    (its level-2 stage was also the round's JIT-warmup bomb: 43 s cold vs
    1.3 s warm at sf1). Halving the fat bytes is guide §2.2; the sort is
    Tungsten radix-spill (skew-safe memory), and the cap means a
    degenerate mega-bucket costs one linear spilled sort, never a
    quadratic explode.

    Cap equivalence: rows arrive id-ascending within each bucket run, so
    "first MAX_BUCKET rows per bucket" is exactly the lowest-id cap the
    salted collect_list/sort_array/slice chain computed (structs sorted
    by their unique leading id) — the capped membership, hence the
    verified pair set, is bit-identical (pinned by the sf0.001/sf0.01
    oracle and test_dedup parity). The pairwise agreement is the same
    numpy kernel: candidates that fail the threshold die in the kernel
    and never materialize, let alone shuffle."""
    p = fanout_partitions(banded)
    stream = (
        banded.select("bucket", "id", "sig")
        .repartition(p, "bucket")
        .sortWithinPartitions("bucket", "id")
    )

    # per-bucket pairwise agreement as ONE numpy broadcast per size class
    # ((B, m, P) stack → (B, m, m) agreement counts). A zip_with-per-pair
    # SQL verify measured ~11e9 JVM array ops at sf10 (200 s); the same
    # work is seconds as C-level int64 comparisons.
    import numpy as np
    import pandas as pd

    cap = MAX_BUCKET

    def verify(batches):
        # Input: partition-local stream sorted by (bucket, id); a bucket
        # is one contiguous run, possibly spanning Arrow batches. Per
        # batch, complete runs are capped and verified vectorized (group
        # sizes via boundary diff; size classes stacked — a per-bucket
        # numpy call costs ~20 µs of dispatch, which dominated at millions
        # of buckets). The trailing (possibly incomplete) run carries over
        # as (kept ≤ cap rows, total seen) so a mega-bucket's tail streams
        # through in O(1) memory. Chunked so the (B, m, m, P) bool
        # intermediate stays ~64 MB.
        budget = 64 << 20
        out_a: list = []
        out_b: list = []
        out_e: list = []

        def emit_groups(ids_k, sigs_k, starts, sizes):
            # groups (all sizes ≥ 2, ≤ cap) over compacted row arrays
            for m in np.unique(sizes):
                m = int(m)
                gsel = np.flatnonzero(sizes == m)
                ia, ib = np.triu_indices(m, k=1)
                chunk = max(1, budget // max(1, m * m * num_perm))
                for c0 in range(0, gsel.size, chunk):
                    gs = gsel[c0 : c0 + chunk]
                    idx = starts[gs][:, None] + np.arange(m)[None, :]
                    ids_m = ids_k[idx]  # (B, m)
                    sig_m = sigs_k[idx.ravel()].reshape(len(gs), m, num_perm)
                    agree = (sig_m[:, :, None, :] == sig_m[:, None, :, :]).sum(
                        axis=3, dtype=np.int32
                    )
                    est = agree[:, ia, ib] / float(num_perm)  # (B, n_pairs)
                    bk, pk = np.nonzero(est >= threshold)
                    out_a.append(ids_m[bk, ia[pk]])
                    out_b.append(ids_m[bk, ib[pk]])
                    out_e.append(est[bk, pk])

        def flush():
            if not out_a:
                return None
            df = pd.DataFrame(
                {
                    "id_a": np.concatenate(out_a),
                    "id_b": np.concatenate(out_b),
                    "est_jaccard": np.concatenate(out_e),
                }
            )
            out_a.clear(), out_b.clear(), out_e.clear()
            return df

        c_ids = np.empty(0, dtype=np.int64)  # carry: kept rows ≤ cap
        c_sigs = np.empty((0, num_perm), dtype=np.int64)
        c_bucket = None
        c_seen = 0  # rows of the carry bucket seen so far (cap bookkeeping)

        for pdf in batches:
            if len(pdf) == 0:
                continue
            b = pdf["bucket"].to_numpy()
            ids = pdf["id"].to_numpy()
            sigs = np.stack(pdf["sig"].to_numpy()).astype(np.int64, copy=False)
            change = np.flatnonzero(b[1:] != b[:-1]) + 1
            starts = np.concatenate(([0], change))
            ends = np.concatenate((change, [len(b)]))
            first = 0
            if c_bucket is not None:
                if b[0] == c_bucket:
                    n0 = int(ends[0])
                    take = max(0, min(cap - c_seen, n0))
                    if take:
                        c_ids = np.concatenate((c_ids, ids[:take]))
                        c_sigs = np.concatenate((c_sigs, sigs[:take]))
                    c_seen += n0
                    first = 1
                    if len(starts) == 1:
                        continue  # whole batch is the carry bucket
                # carry bucket is complete (either it just ended at the
                # batch boundary, or it was extended and more groups
                # follow): verify it
                if len(c_ids) >= 2:
                    emit_groups(
                        c_ids,
                        c_sigs,
                        np.array([0]),
                        np.array([len(c_ids)]),
                    )
                c_bucket = None
                c_seen = 0
                c_ids = np.empty(0, dtype=np.int64)
                c_sigs = np.empty((0, num_perm), dtype=np.int64)
            # the trailing run becomes the new carry
            ls, le = int(starts[-1]), int(ends[-1])
            c_bucket = b[ls]
            c_seen = le - ls
            keep = min(cap, c_seen)
            c_ids = ids[ls : ls + keep].copy()
            c_sigs = sigs[ls : ls + keep].copy()
            # complete middle runs [first, -1): cap + verify, vectorized
            gs, ge = starts[first:-1], ends[first:-1]
            if gs.size:
                gsize = ge - gs
                capped = np.minimum(gsize, cap)
                sel = capped >= 2
                gs, capped = gs[sel], capped[sel]
                if gs.size:
                    # compact kept rows — first `capped` rows of each run,
                    # built without a per-run Python loop
                    kstarts = np.concatenate(([0], np.cumsum(capped)[:-1]))
                    within = np.arange(int(capped.sum())) - np.repeat(
                        kstarts, capped
                    )
                    idx = np.repeat(gs, capped) + within
                    emit_groups(ids[idx], sigs[idx], kstarts, capped)
            df = flush()
            if df is not None:
                yield df
        if len(c_ids) >= 2:
            emit_groups(
                c_ids, c_sigs, np.array([0]), np.array([len(c_ids)])
            )
        df = flush()
        if df is not None:
            yield df

    return stream.mapInPandas(
        verify, "id_a long, id_b long, est_jaccard double"
    ).dropDuplicates(["id_a", "id_b"])


def _char_shingles(text: Column, k: int) -> Column:
    """Distinct k-char substrings of lower(text), pure JVM (transform over a
    position sequence). Texts shorter than k yield the single (short) prefix,
    so every doc has ≥1 shingle and a defined blocking key."""
    low = F.lower(text)
    n = F.greatest(F.length(low) - F.lit(k - 1), F.lit(1))
    return F.array_distinct(
        F.transform(F.sequence(F.lit(1), n), lambda i: F.substring(low, i, k))
    )


def _minshingle_blocks(
    keyed: DataFrame, bands: int, max_block: int
) -> DataFrame:
    """Block MEMBERSHIPS (band, m0, m1, m2, id, n) of the banded
    one-permutation blocking over a `keyed(id, sh, n)` frame — shared by
    the bucket-local verify (production) and the candidate-density probe.
    max_block triggers the secondary-minimum SPLIT of large blocks; no
    membership is ever dropped (see the r12 note below)."""
    from pyspark.sql.window import Window

    slots = 2 * bands
    # per-band SECONDARY minimum (m2raw) from an independent hash digit —
    # min over {h : (h div slots) % bands == j}, i.e. the SECOND base-
    # `slots` digit of the 60-bit md5 prefix (the primary slotting reads
    # the first). Expressed as a pure-modulo range test (h % (slots·bands)
    # ∈ [j·slots, (j+1)·slots)) so the arithmetic is exact int64 in both
    # engines (a double division would lose bits above 2^53). m2raw is
    # used ONLY to subdivide over-cap blocks; see the split below.
    #
    # The whole band-key array is assembled as ONE SQL string: composing
    # it per-band from Column objects + Python lambdas issued ~2,000 py4j
    # round-trips (~0.9 s of driver wall per query build, measured r13 —
    # guide §1.2 driver overhead); a single F.expr is one round-trip and
    # parses to the identical plan.
    sb = slots * bands

    def _filter_min(cond: str) -> str:
        return f"coalesce(array_min(filter(sh, h -> {cond})), -1L)"

    band_structs = ", ".join(
        "named_struct('band', {j}, 'm0', {m0}, 'm1', {m1}, 'm2raw', {m2})".format(
            j=j,
            m0=_filter_min(f"h % {slots} = {2 * j}"),
            m1=_filter_min(f"h % {slots} = {2 * j + 1}"),
            m2=_filter_min(
                f"(h % {sb}) >= {j * slots} and (h % {sb}) < {(j + 1) * slots}"
            ),
        )
        for j in range(bands)
    )
    band_keys = F.expr(f"array({band_structs})")
    blocks = (
        keyed.select("id", "n", F.explode(band_keys).alias("bk"))
        .select("id", "n", "bk.band", "bk.m0", "bk.m1", "bk.m2raw")
        .filter(~((F.col("m0") == -1) & (F.col("m1") == -1)))
    )
    # OVER-CAP SPLIT (r11, VERDICT r10 task 2): a block larger than
    # max_block is subdivided by the band's secondary minimum m2 —
    # under-cap blocks keep a constant -2 (grouping unchanged, which is
    # 99%+ of blocks). For a true pair (J ≥ t) in an over-cap block,
    # P(same sub-block) ≈ J per band (one more minhash agreement) — at
    # the measured pathological s = 3,163 that is 0.6 vs the old hard
    # cap's (cap/s)² = 4·10⁻⁴.
    #
    # NO RESIDUAL TRUNCATION (r12, VERDICT r11 task 5): sub-blocks still
    # over max_block after the split are verified EXHAUSTIVELY. The r11
    # row_number cap on sub-blocks lost the last planted pair at sf10
    # (recall 0.999), and no recursion depth can fix it: exact duplicates
    # share EVERY minimum, so identical docs land in the same sub-block
    # at every conceivable split level — a residual over-cap sub-block is
    # dominated by exact-dup clusters, where a cap MUST drop true pairs.
    # Cost stays honest: the verify kernel groups identical arrays, so an
    # s-sized exact-dup cluster costs one intersection per DISTINCT array
    # pair plus the C(s,2) output rows any exact pair semantics must emit;
    # mixed over-cap sub-blocks are rare by construction (three
    # independent minima agreements, P ≈ J³ per band for non-dups).
    # max_block is therefore the SPLIT TRIGGER, not a truncation bound —
    # mirrored exactly in the oracle SQL.
    w_cnt = Window.partitionBy("band", "m0", "m1")
    return blocks.withColumn(
        "m2",
        F.when(
            F.count(F.lit(1)).over(w_cnt) > max_block, F.col("m2raw")
        ).otherwise(F.lit(-2).cast("long")),
    ).drop("m2raw")


def _minshingle_candidates(
    keyed: DataFrame, bands: int, max_block: int, scaled_t: int, p: int
) -> DataFrame:
    """Candidate (id_a, id_b) pairs from the banded blocking — the
    diagnostic/probe half of the family, exposed so scale probes can count
    candidates-per-doc without paying any verify (candidate density is THE
    decade-scaling question for this family; PERF_NOTES r11). Applies the
    over-cap secondary split, the result-preserving size prefilter, and
    cross-band dedup."""
    capped = _minshingle_blocks(keyed, bands, max_block)
    # pair WITHIN each block instead of self-joining the block table with
    # itself: split groups are near-dup-cluster-sized in practice, so
    # collect_list stays small, and the groupBy lands on the window's own
    # partitioning — no extra exchange. (The earlier self-join shape cost
    # two more shuffles of the block table plus a second run of the
    # slot-minima + window chain.)
    grouped = capped.groupBy("band", "m0", "m1", "m2").agg(
        F.collect_list(F.struct("id", "n")).alias("its")
    )
    return (
        grouped.select(F.explode("its").alias("a"), "its")
        .select(
            F.col("a.id").alias("id_a"),
            F.col("a.n").alias("na"),
            F.explode(
                F.filter(F.col("its"), lambda b: b["id"] > F.col("a.id"))
            ).alias("b"),
        )
        # size-compatibility prefilter — RESULT-PRESERVING, not a heuristic:
        # |A∩B| ≤ min(|A|,|B|) and |A∪B| ≥ max(|A|,|B|), so J ≥ t requires
        # min·10⁶ ≥ t·10⁶·max. Prunes cross-length junk pairs BEFORE the
        # pair-dedup shuffle and the CPU-heavy array-intersect verify
        # (mega-block candidates are mostly same-language random docs whose
        # lengths differ; measured at sf10: 33.9M band-duplicated
        # candidates → 16.6M size-compatible → 2.07M distinct verifies).
        .filter(
            (F.least("na", F.col("b.n")) * F.lit(1_000_000))
            >= (F.lit(scaled_t) * F.greatest("na", F.col("b.n")))
        )
        .select("id_a", F.col("b.id").alias("id_b"))
        # a pair can co-block in several bands; verify each pair once
        .dropDuplicates(["id_a", "id_b"])
        # AQE sees a few MB of (id, id) pairs and would coalesce the verify
        # join onto 1-2 tasks; the intersect/union over ~300-element shingle
        # arrays per pair is CPU-heavy, so pin the parallelism (same hash
        # distribution the id_a join needs — no extra exchange downstream).
        .repartition(p, "id_a")
    )


def _allpairs_intersections(
    arrs: list, dense_max_k: int | None = None
) -> tuple:
    """Inverted-index all-pairs set-intersection sizes over k sorted-unique
    int64 arrays → (xs, ys, inters) for every pair x < y with
    |arrs[x] ∩ arrs[y]| ≥ 1, entirely in C-level numpy.

    Sort (value, owner) once; every run of an equal value emits its
    owner-pair codes min·k+max; codes accumulate in O(Σ c_j²) ops where
    c_j = #owners of value j. Accumulator choice by k (r13, VERDICT r12
    task 3 — the r12 dense-only version capped at k ≤ 4096 and fell back
    to the O(k²) python loop above it, the exact straggler class the
    kernel exists to kill, returning precisely at 100× scale where blocks
    are biggest):
    - k ≤ dense_max_k (default _MATRIX_DENSE_MAX_K = 8192): dense k²
      int32 bincount, ≤ 268 MB — the fastest arm (no sort; near-universal
      values that make Σ c_j² quadratic cost only scattered increments);
    - larger k: SPARSE — each ~8M-code chunk collapses with
      np.unique(return_counts), chunks merge with one argsort +
      np.add.reduceat. Memory ∝ distinct co-occurring pairs (the true
      output size) + the bounded chunk, valid at any k. Codes stay exact
      in int64 up to k ≈ 3e9.
    Zero-intersection pairs are never emitted by construction — callers
    enforcing a Jaccard threshold must have threshold > 0 (guarded in
    ngram_minshingle_pairs; ADVICE r12)."""
    k = len(arrs)
    if dense_max_k is None:
        dense_max_k = _MATRIX_DENSE_MAX_K
    dense = k <= dense_max_k
    acc = np.zeros(k * k, dtype=np.int32) if dense else None
    sp_codes: list = []  # sparse arm: per-chunk (codes, counts)
    sp_counts: list = []

    def _flush(buf):
        codes = np.concatenate(buf)
        if dense:
            acc[...] += np.bincount(
                codes, minlength=k * k
            ).astype(np.int32)
        else:
            c, cnt = np.unique(codes, return_counts=True)
            sp_codes.append(c)
            sp_counts.append(cnt.astype(np.int64))

    lens = np.fromiter((len(a) for a in arrs), dtype=np.int64, count=k)
    allv = np.concatenate(arrs) if k else np.empty(0, dtype=np.int64)
    owner = np.repeat(np.arange(k, dtype=np.int64), lens)
    order = np.argsort(allv, kind="stable")
    sv, so = allv[order], owner[order]
    L = len(sv)
    starts = np.flatnonzero(
        np.concatenate(([True], sv[1:] != sv[:-1]))
    ) if L else np.empty(0, dtype=np.int64)
    runlens = np.diff(np.append(starts, L))
    buf: list = []
    buffered = 0
    # dense flushes are one k²-array bincount each — flush rarely (the
    # code buffer is cheap next to re-scanning a 268 MB accumulator);
    # sparse flushes np.unique (sort) per chunk, whose cost grows
    # superlinearly with chunk size — keep those small.
    flush_at = 64_000_000 if dense else 8_000_000
    for c in np.unique(runlens):
        if c < 2:
            continue
        idx = starts[runlens == c]
        M = so[idx[:, None] + np.arange(c)]
        iu, iv = np.triu_indices(int(c), 1)
        a = M[:, iu].ravel()
        b = M[:, iv].ravel()
        buf.append(np.minimum(a, b) * k + np.maximum(a, b))
        buffered += len(a)
        if buffered >= flush_at:
            _flush(buf)
            buf, buffered = [], 0
    if buf:
        _flush(buf)
    if dense:
        nz = np.flatnonzero(acc)
        return nz // k, nz % k, acc[nz].astype(np.int64)
    if sp_codes:
        allc = np.concatenate(sp_codes)
        allcnt = np.concatenate(sp_counts)
        so2 = np.argsort(allc, kind="stable")
        allc, allcnt = allc[so2], allcnt[so2]
        st2 = np.flatnonzero(
            np.concatenate(([True], allc[1:] != allc[:-1]))
        )
        inters = np.add.reduceat(allcnt, st2)
        ucodes = allc[st2]
        return ucodes // k, ucodes % k, inters
    empty = np.empty(0, dtype=np.int64)
    return empty, empty, empty


def _minshingle_verified_pairs(
    keyed: DataFrame, bands: int, max_block: int, scaled_t: int, p: int,
    matrix_min_k: int = _MATRIX_MIN_K,
    dense_max_k: int | None = None,
) -> DataFrame:
    """BLOCK-LOCAL exact-Jaccard verify (r11, the minshingle scale knee):
    shingle arrays join onto the block MEMBERSHIPS once (max_block is a
    SPLIT trigger — over-cap blocks subdivide by the band's secondary
    minimum and residual over-cap sub-blocks verify exhaustively, nothing
    truncated; r12, VERDICT r11 task 5 — 1 array shipped per membership
    ≈ bands per doc), the per-block (id, n, sh) lists are regrouped, and
    the pairwise intersect/union runs as zero-copy numpy int64 kernels
    inside mapInArrow (identical-array grouping + the inverted-index
    all-pairs accumulator for large blocks) — candidates never ship
    arrays.

    Why not pairs → join arrays back (the pre-r11 shape): candidate density
    is ~19 pairs/doc at sf10 (measured on the vocabulary-scaling corpus),
    so the verify join shipped TWO ~300-long int64 arrays per candidate
    (~2.4 KB each) through two sort-merge joins — ~46 GB of sorted array
    payload at sf10, spilling ~20 GB to disk; the join, not the blocking
    (12.6 s) or the intersections (seconds of C-level numpy), was the
    394-of-407 s sf10 wall. Block-local shipping is memberships × array
    (~9.6 GB in ONE exchange, no fat sort), the same shape as minhash's
    `_bucket_verified_pairs` (r8). A pair co-blocking in several bands is
    verified once per band and deduped after — cheaper than deduping first
    and paying the array join. Results are bit-identical: exact integer
    |A∩B|·10⁶ ≥ t·10⁶·|A∪B| on the same distinct 60-bit md5-prefix longs
    (the DuckDB oracle keeps its join shape and hash-matches)."""
    import numpy as np
    import pandas as pd

    from pyspark.sql.window import Window

    capped = _minshingle_blocks(keyed, bands, max_block)
    # arrays are shipped ONLY to memberships that can produce a pair
    # (r12, VERDICT r11 task 2 — cut the linear array exchange): a member
    # survives iff SOME co-member is size-compatible (J ≥ t needs
    # min(|A|,|B|)·10⁶ ≥ t·10⁶·max — result-preserving, the same exact
    # arithmetic the kernel applies per pair). Within a block sorted by n
    # the nearest-|n| neighbor is the most compatible one, so one lag/lead
    # check is exact; singleton blocks fall out for free (both neighbors
    # null). This moves the kernel's per-pair prefilter BEFORE the fat
    # exchange: measured at sf10 it drops 11.4% of pairable memberships
    # (8.5% of array bytes) — modest, because a member usually has SOME
    # compatible neighbor even when most of its pairs are incompatible;
    # the per-pair kernel check still prunes those. It also subsumes the
    # old ≥2-members window (singletons have no neighbors), so it costs
    # no extra exchange.
    wn = Window.partitionBy("band", "m0", "m1", "m2").orderBy("n", "id")
    t6 = F.lit(1_000_000)
    st = F.lit(scaled_t)
    members = (
        capped.withColumn("__np", F.lag("n").over(wn))
        .withColumn("__nn", F.lead("n").over(wn))
        .filter(
            (
                F.col("__np").isNotNull()
                & (F.col("__np") * t6 >= st * F.col("n"))
            )
            | (
                F.col("__nn").isNotNull()
                & (F.col("n") * t6 >= st * F.col("__nn"))
            )
        )
        .drop("__np", "__nn")
    )
    # MEGA-BLOCK TILING (r14, guide §2.3 — split hot keys): a residual
    # over-cap block is ONE task's work in the bucket-local design, and
    # the sf10 corpus produces a k = 7,254 block (same primary AND
    # secondary minima — the m0-winning shingle's hash also sits in the
    # m2 digit window, so the split adds nothing) whose exact
    # verification is a measured 48 s single-task straggler while 31
    # cores idle. Blocks above _TILE_MEMBERS split into G member chunks
    # (hash(id) mod G); each member replicates into the G tile-pairs its
    # chunk participates in, and each (ta, tb) tile verifies exactly the
    # pairs with chunks {ta, tb} — a disjoint exact partition of the
    # block's pair space, so the emitted pair set is IDENTICAL (tile
    # (c, c) verifies within-chunk pairs, tile (a, b), a < b, verifies
    # only cross-side pairs). Costs: ~2× the kernel's per-block C-ops
    # (each value's owner set is scanned once per tile it spans) and G×
    # the mega block's exchange bytes — paid ONLY by blocks that would
    # otherwise serialize the stage; sub-threshold blocks take the G = 1
    # path, which is byte-identical to the untiled shape. The count
    # window rides the prefilter's existing (block key) partitioning —
    # no new exchange.
    wcnt = Window.partitionBy("band", "m0", "m1", "m2")
    g = F.when(
        F.col("__bc") <= _TILE_MEMBERS, F.lit(1)
    ).otherwise(
        F.least(
            F.lit(_TILE_MAX_G),
            F.ceil(F.col("__bc") / _TILE_MEMBERS).cast("int"),
        )
    )
    members = (
        members.withColumn("__bc", F.count(F.lit(1)).over(wcnt))
        .withColumn("__g", g)
        .withColumn("__c", F.pmod(F.xxhash64("id"), F.col("__g")).cast("int"))
        .select(
            "band", "m0", "m1", "m2", "id", "n", "__c",
            F.explode(
                F.expr(
                    "transform(sequence(0, __g - 1), t -> struct("
                    "least(t, __c) AS ta, greatest(t, __c) AS tb))"
                )
            ).alias("__t"),
        )
        .select(
            "band", "m0", "m1", "m2", "id", "n",
            F.col("__t.ta").alias("ta"), F.col("__t.tb").alias("tb"),
            # side 1 = the member belongs to the tile's UPPER chunk; in a
            # cross tile (ta < tb) the kernel emits only side-0 × side-1
            # id pairs. Diagonal tiles (ta == tb) are all side 0.
            F.when(F.col("__t.ta") == F.col("__t.tb"), F.lit(0))
            .otherwise((F.col("__c") == F.col("__t.tb")).cast("int"))
            .alias("side"),
        )
    )
    # membership←array join strategy by EXACT size (one cheap agg over the
    # cached frame): broadcast keyed when it provably fits; above the cap,
    # hash-build on the NARROW membership side (bounded: a few dozen bytes
    # per pairable membership) and stream the arrays — never sort them.
    # Catalyst's own estimate for a cached frame can undershoot and
    # auto-broadcast a 1.2 GB array table (collects to the driver and dies
    # on maxResultSize at sf10; observed r11), so the strategy is pinned
    # both ways. (r10's shuffle_hash concern was hash-building the ARRAY
    # side; the build side here is the narrow one.)
    # the exchange partition count scales with the EXACT shipped volume
    # (membership-weighted array longs over the cached members frame, one
    # cheap agg): at p = default parallelism the sf10 verify exchange put
    # ~170 MB in each collect_list task and the aggregation fell back to
    # sort+spill (9 GB of spill = the stage's wall, measured r12). Sizing
    # to ~64 MB per partition keeps the hash aggregation in memory at any
    # scale factor — the exact knob spark.sql.files.maxPartitionBytes
    # applies to scans, applied to this operator-internal exchange.
    #
    # ONE probe (r14, guide §1.2 — was two): sum(n) over the CACHED keyed
    # frame gives total_longs exactly and, as the first action, pulls the
    # shingle pass into the keyed cache sequentially — without a probe the
    # main action's two keyed consumers (the window chain and the join's
    # array side) materialize concurrently and each runs the shingle pass
    # (the r13 unionAll-probe lesson). The r13 shape additionally PERSISTED
    # the window-prefiltered members and probed sum(n) over it to size the
    # verify exchange; the persist existed only for that probe (members has
    # exactly one downstream consumer), so both are gone: the exchange is
    # sized from the bound shipped_longs ≤ bands · total_longs (each doc
    # has ≤ `bands` pairable memberships, each shipping its n longs —
    # measured ≈ 0.89 of the bound at sf10, so partitions land within ~15%
    # of the exact sizing), and the window chain now runs inside the main
    # action instead of once-in-probe + cache round-trip.
    total_longs = keyed.agg(F.sum("n")).collect()[0][0] or 0
    shipped_bound = bands * total_longs
    p_verify = max(p, min(4096, int(shipped_bound * 8 // (64 << 20)) + 1))
    if total_longs * 8 <= VERIFY_BROADCAST_MAX_BYTES:
        items_src = members.join(F.broadcast(keyed.drop("n")), "id")
    else:
        items_src = members.hint("shuffle_hash").join(keyed.drop("n"), "id")
    # r14.1: no collect_list regroup — the verify exchange feeds the kernel
    # as a SORTED MEMBER STREAM (repartition on the block key + in-partition
    # sort on (block key, id)), the same restructure measured on minhash's
    # `_bucket_verified_pairs`: the groupBy round materialized every block
    # as one fat struct array (collect_list + sort_array over ~2.4 KB
    # payloads — the r12 sf10 run saw that aggregation fall back to
    # sort+spill, 9 GB of disk), where a Tungsten in-partition sort streams
    # the same rows spill-safely and the kernel re-derives block boundaries
    # from the key columns. Member order within a block is id-ascending —
    # exactly the order sort_array(struct(id, ...)) produced (ids are
    # unique per block) — and singleton blocks were already dropped by the
    # window prefilter, so the kernel sees the identical block stream and
    # emits the identical pair set.
    items = (
        items_src
        .repartition(p_verify, "band", "m0", "m1", "m2", "ta", "tb")
        .sortWithinPartitions("band", "m0", "m1", "m2", "ta", "tb", "id")
        .select("band", "m0", "m1", "m2", "ta", "tb", "side", "id", "n", "sh")
    )

    def _list_view(col):
        """(values ndarray, offsets ndarray) zero-copy view of an Arrow
        ListArray, offset-window normalized."""
        off = col.offsets.to_numpy()
        return col.flatten(), off - off[0]

    def verify(batches):
        # mapInArrow, not mapInPandas (r12, the sf10 knee after the r11
        # exchange redesign): pandas conversion of the list<list<long>>
        # column materializes one PYTHON INT per shingle hash —
        # ~600M objects at sf10, ~120 s of pure conversion before any
        # verification ran (measured; the numpy kernel itself is seconds).
        # Arrow RecordBatches expose the same data as two offset buffers
        # over one contiguous int64 values buffer — every member array is
        # a zero-copy numpy slice.
        #
        # Input: partition-local member stream sorted by (block key, id);
        # a block is one contiguous run, possibly spanning Arrow batches —
        # the trailing (possibly incomplete) run carries over between
        # batches (an over-cap residual block buffers whole, the same
        # footprint the old one-row-per-block aggregate materialized).
        import pyarrow as pa

        chunks_a: list = []
        chunks_b: list = []
        chunks_i: list = []
        chunks_u: list = []

        def emit(a_arr, b_arr, i_arr, u_arr):
            chunks_a.append(a_arr)
            chunks_b.append(b_arr)
            chunks_i.append(i_arr)
            chunks_u.append(u_arr)

        def flush():
            if not chunks_a:
                return None
            rb = pa.record_batch(
                {
                    "id_a": np.concatenate(chunks_a),
                    "id_b": np.concatenate(chunks_b),
                    "inter_size": np.concatenate(chunks_i),
                    "union_size": np.concatenate(chunks_u),
                }
            )
            chunks_a.clear()
            chunks_b.clear()
            chunks_i.clear()
            chunks_u.clear()
            return rb

        def do_block(ids, ns, vals, mem_off, sides=None):
            # one block's members: ids/ns (m,), member x's array is
            # vals[mem_off[x]:mem_off[x+1]] (mem_off has m+1 entries).
            # sides: None for a within-block verify (untiled / diagonal
            # tile); else 0/1 per member — a CROSS tile of a split mega
            # block, where only cross-side id pairs are emitted (the
            # same-side pairs belong to the diagonal tiles).
            m = len(ids)
            if m < 2:
                return
            cross = sides is not None
            # group members by IDENTICAL array content first: residual
            # over-cap blocks are dominated by exact-dup clusters
            # (identical docs share every minimum, so no split level
            # separates them — see _minshingle_blocks r12 note), and
            # the intersect work must be one per DISTINCT-array pair,
            # not per member pair, for the exhaustive path to stay
            # linear-in-output. `sh` is deterministic per text
            # (first-occurrence distinct order), so identical docs
            # byte-match; near-identical ones just take the slow path.
            uniq: dict = {}
            groups: list[list[int]] = []
            gsides: list[list[int]] = []
            arrs: list = []
            uns: list[int] = []
            for x in range(m):
                a = vals[mem_off[x]:mem_off[x + 1]]
                u = uniq.setdefault(a.tobytes(), len(arrs))
                if u == len(arrs):
                    # presort once per distinct array; intersections
                    # assume sorted+unique
                    arrs.append(np.sort(a))
                    uns.append(int(ns[x]))
                    groups.append([])
                    gsides.append([])
                groups[u].append(int(ids[x]))
                if cross:
                    gsides[u].append(int(sides[x]))
            k = len(arrs)

            def emit_prod(ga, gb, inter, union):
                if len(ga) == 0 or len(gb) == 0:
                    return
                A = np.repeat(ga, len(gb))
                B = np.tile(gb, len(ga))
                emit(
                    np.minimum(A, B), np.maximum(A, B),
                    np.full(A.shape, inter, dtype=np.int64),
                    np.full(A.shape, union, dtype=np.int64),
                )

            # within-group pairs: identical arrays ⇒ inter = union = n,
            # J = 1 — passes iff n·10⁶ ≥ t·10⁶·n, i.e. t ≤ 1
            if scaled_t <= 1_000_000:
                for u in range(k):
                    g = groups[u]
                    if len(g) > 1:
                        garr = np.asarray(g, dtype=np.int64)
                        if cross:
                            sarr = np.asarray(gsides[u])
                            emit_prod(garr[sarr == 0], garr[sarr == 1],
                                      uns[u], uns[u])
                        else:
                            iu, iv = np.triu_indices(len(g), 1)
                            ga, gb = garr[iu], garr[iv]
                            n_full = np.full(
                                ga.shape, uns[u], dtype=np.int64
                            )
                            emit(np.minimum(ga, gb), np.maximum(ga, gb),
                                 n_full, n_full)

            def emit_cross(x, y, inter):
                union = uns[x] + uns[y] - inter
                if inter * 1_000_000 >= scaled_t * union:
                    gx = np.asarray(groups[x], dtype=np.int64)
                    gy = np.asarray(groups[y], dtype=np.int64)
                    if cross:
                        sx = np.asarray(gsides[x])
                        sy = np.asarray(gsides[y])
                        emit_prod(gx[sx == 0], gy[sy == 1], inter, union)
                        emit_prod(gx[sx == 1], gy[sy == 0], inter, union)
                    else:
                        emit_prod(gx, gy, inter, union)

            if k >= matrix_min_k:
                # LARGE mixed block (the residual over-cap case): two
                # exact arms, chosen per block by MEASURED unit costs
                # (r14) — the winner is corpus-dependent and both losing
                # modes were real stragglers:
                # - the inverted-index accumulator is O(Σ c_j²); on the
                #   r13-era corpus it ran the C(3359,2) block in ~2 s
                #   where the loop took 72 s — but the current sf10
                #   corpus has a k = 7,254 block with near-UNIVERSAL
                #   shingles (Σ c_j² = 830M) where the accumulator is a
                #   37 s straggler;
                # - the size-compatibility loop is O(compatible pairs ×
                #   ~20 µs searchsorted); cheap exactly when cross-length
                #   junk dominates the block (that same 7,254 block),
                #   ruinous when most pairs are size-compatible.
                # Both counts are computable exactly up front for ~an
                # argsort each: compatible pairs via one vectorized
                # searchsorted over sorted sizes, Σ c_j² via one
                # np.unique over the concatenated arrays. Unit costs
                # (this box, numpy 1.26): searchsorted pair ≈ 20 µs,
                # accumulator ≈ 80 ns/code. Either arm emits the
                # identical pair set (oracle + arms-parity pinned).
                ns_arr = np.asarray(uns, dtype=np.int64)
                order = np.argsort(ns_arr, kind="stable")
                ns_s = ns_arr[order]
                bound = ns_s * 1_000_000 // scaled_t
                hi = np.searchsorted(ns_s, bound, side="right")
                counts = np.maximum(hi - np.arange(k) - 1, 0)
                comp = int(counts.sum())
                allv = np.concatenate(arrs)
                _, cnts = np.unique(allv, return_counts=True)
                sc2 = int((cnts.astype(np.int64) ** 2).sum())
                if comp * 20e-6 < sc2 * 80e-9:
                    # sparse-compatibility arm: enumerate ONLY the
                    # size-compatible pairs (vectorized — no O(k²)
                    # Python skip loop) and verify each exactly
                    kst = np.concatenate(([0], np.cumsum(counts)[:-1]))
                    xs_p = np.repeat(np.arange(k), counts)
                    within = np.arange(comp) - np.repeat(kst, counts)
                    ys_p = xs_p + 1 + within
                    for xp, yp in zip(order[xs_p], order[ys_p]):
                        ax, ay = arrs[xp], arrs[yp]
                        inter = int(
                            np.searchsorted(ax, ay, side="right").sum()
                            - np.searchsorted(ax, ay, side="left").sum()
                        )
                        emit_cross(int(xp), int(yp), inter)
                    return
                xs, ys, inters = _allpairs_intersections(arrs, dense_max_k)
                nx_, ny_ = ns_arr[xs], ns_arr[ys]
                un_ = nx_ + ny_ - inters
                ok = inters * 1_000_000 >= scaled_t * un_
                for x, y, it in zip(xs[ok], ys[ok], inters[ok]):
                    emit_cross(int(x), int(y), int(it))
                return

            # cross-group: one exact intersection per distinct pair,
            # result applied to the whole id cross-product
            for x in range(k - 1):
                nx, ax = uns[x], arrs[x]
                for y in range(x + 1, k):
                    ny = uns[y]
                    # size-compatibility prefilter (result-preserving):
                    # J ≥ t needs min·10⁶ ≥ t·10⁶·max
                    lo, hi = (nx, ny) if nx <= ny else (ny, nx)
                    if lo * 1_000_000 < scaled_t * hi:
                        continue
                    inter = int(
                        np.searchsorted(ax, arrs[y], side="right").sum()
                        - np.searchsorted(ax, arrs[y], side="left").sum()
                    )
                    emit_cross(x, y, inter)

        # carry: (key, ids, ns, vals, mem_off, sides) of the trailing run;
        # key includes (ta, tb) so a tile is its own run, and key[4] !=
        # key[5] marks a cross tile (side-aware emission)
        carry = None

        def run_block(ids, ns, vals, mem_off, sides, key):
            do_block(
                ids, ns, vals, mem_off,
                sides=sides if key[4] != key[5] else None,
            )

        for batch in batches:
            nrows = batch.num_rows
            if nrows == 0:
                continue
            band = batch.column(0).to_numpy(zero_copy_only=False)
            m0 = batch.column(1).to_numpy(zero_copy_only=False)
            m1 = batch.column(2).to_numpy(zero_copy_only=False)
            m2 = batch.column(3).to_numpy(zero_copy_only=False)
            ta = batch.column(4).to_numpy(zero_copy_only=False)
            tb = batch.column(5).to_numpy(zero_copy_only=False)
            side_v = batch.column(6).to_numpy(zero_copy_only=False)
            ids_v = batch.column(7).to_numpy(zero_copy_only=False)
            ns_v = batch.column(8).to_numpy(zero_copy_only=False)
            vals_a, mem_off = _list_view(batch.column(9))
            vals = vals_a.to_numpy(zero_copy_only=False)
            change = np.flatnonzero(
                (band[1:] != band[:-1])
                | (m0[1:] != m0[:-1])
                | (m1[1:] != m1[:-1])
                | (m2[1:] != m2[:-1])
                | (ta[1:] != ta[:-1])
                | (tb[1:] != tb[:-1])
            ) + 1
            starts = np.concatenate(([0], change))
            ends = np.concatenate((change, [nrows]))
            first = 0
            if carry is not None:
                if carry[0] == (band[0], m0[0], m1[0], m2[0], ta[0], tb[0]):
                    e0 = int(ends[0])
                    c_vals = np.concatenate(
                        (carry[3], vals[mem_off[0]:mem_off[e0]])
                    )
                    c_off = np.concatenate(
                        (carry[4],
                         mem_off[1:e0 + 1] - mem_off[0] + carry[4][-1])
                    )
                    carry = (
                        carry[0],
                        np.concatenate((carry[1], ids_v[:e0])),
                        np.concatenate((carry[2], ns_v[:e0])),
                        c_vals,
                        c_off,
                        np.concatenate((carry[5], side_v[:e0])),
                    )
                    first = 1
                    if len(starts) == 1:
                        continue  # whole batch is the carry block
                run_block(carry[1], carry[2], carry[3], carry[4],
                          carry[5], carry[0])
                carry = None
            # the trailing run becomes the new carry
            ls, le = int(starts[-1]), int(ends[-1])
            carry = (
                (band[ls], m0[ls], m1[ls], m2[ls], ta[ls], tb[ls]),
                ids_v[ls:le].copy(),
                ns_v[ls:le].copy(),
                vals[mem_off[ls]:mem_off[le]].copy(),
                (mem_off[ls:le + 1] - mem_off[ls]).copy(),
                side_v[ls:le].copy(),
            )
            # complete middle runs
            for gi in range(first, len(starts) - 1):
                s, e = int(starts[gi]), int(ends[gi])
                run_block(
                    ids_v[s:e], ns_v[s:e], vals, mem_off[s:e + 1],
                    side_v[s:e],
                    (band[s], m0[s], m1[s], m2[s], ta[s], tb[s]),
                )
            rb = flush()
            if rb is not None:
                yield rb
        if carry is not None:
            run_block(carry[1], carry[2], carry[3], carry[4],
                      carry[5], carry[0])
            rb = flush()
            if rb is not None:
                yield rb

    return items.mapInArrow(
        verify,
        "id_a long, id_b long, inter_size long, union_size long",
    ).dropDuplicates(["id_a", "id_b"])


def ngram_minshingle_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    threshold: float = 0.6,
    max_block: int = 64,
    bands: int = 8,
) -> DataFrame:
    """Deterministic near-dup pairs: banded one-permutation min-shingle
    blocking + exact n-gram Jaccard, 100% JVM-side and
    ANSI-SQL-expressible (the oracle-checkable member of the near-dup
    family; `minhash_near_dup_pairs` is the tunable production path).

    Blocking = banded one-permutation MinHash with md5 as the permutation:
    each doc's distinct hashed k-shingles are slotted by `h % (2·bands)`;
    band j's key is the PAIR of minima of slots (2j, 2j+1); two docs are
    candidates iff they agree on any band's full key. md5 is computed
    identically by Spark and every SQL engine, so the oracle blocks
    bit-for-bit the same. Per-band collision probability ≈ J² (two
    independent slot minima must both agree), so recall is
    1 − (1 − J²)^bands: ≥ 97% at the J = 0.6 threshold with the default
    8 bands, → 1 as J → 1, and exact duplicates (identical shingle sets
    ⇒ every slot minimum identical) ALWAYS collide. Empty slots take a −1
    sentinel; all-sentinel band keys are dropped (they would block
    unrelated shingle-poor docs together for free).

    Why a 2-minima key and not the r4-r9 single global minimum: a
    single-min block key is the doc's globally-minimal hashed shingle, and
    shingle document-frequency is heavily skewed — once the corpus is
    large enough that some COMMON shingle draws a tiny hash, every doc
    containing it lands in one block. Measured on the derived sf10 corpus
    (500k docs): 98.5% of docs sat in blocks larger than the 64-doc cap
    (top block 29k docs), and exact-duplicate recall collapsed to 2% —
    the cap was silently discarding true pairs, exactly the failure the
    100 TB story cannot have. A 2-slot-minima key needs two independent
    agreements, so random common-shingle collisions fall from P(1 shared
    popular shingle is both docs' min) to ≈ J² per band; measured blocks
    shrink to ≈ near-dup-cluster size and exact-dup recall returns to
    1.0 at the same corpus scale.

    Scale shape:
    - shingle arrays are computed ONCE per doc and persisted narrow
      (id, sh); candidates join back by id — no per-pair recomputation
      (the r4 plan rebuilt both arrays inside the join projection:
      ~1.3e8 substring extractions for those 222K pairs);
    - `spread()` fans the UDF-free but CPU-heavy shingling out by the one
      size rule (`engine.fanout_partitions`);
    - per-band blocks larger than `max_block` are SUBDIVIDED by the band's
      secondary minimum (one more minhash agreement), and residual
      over-cap sub-blocks verify exhaustively — nothing is truncated
      (recall 1.0 on exact dups by construction; r12, VERDICT r11 task 5).
      Identical-array grouping in the kernel keeps the exhaustive path
      linear in its output. The split rule is part of the operator
      CONTRACT (mirrored in the oracle SQL);
    - a pair co-blocking in several bands is deduped BEFORE the verify
      join, so exact Jaccard runs once per candidate pair.

    Threshold compares in exact integer arithmetic (inter·10⁶ ≥ t·10⁶·union)
    so the boundary matches any SQL oracle bit-for-bit.
    """
    from pyspark.sql.window import Window

    docs = spread(df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__t")))
    # shingles are carried as 60-bit md5-prefix LONGS, not strings: one
    # md5 pass serves both the blocking minimum and the verify arrays, and
    # array_intersect/union over longs runs ~2× faster than over 8-char
    # strings. conv(substr(md5, 1, 15), 16, 10) is computed identically by
    # any SQL engine, and hash collisions (p ≈ n²/2⁶¹ per doc) affect both
    # engines identically, so the oracle comparison stays exact.
    # distinct BEFORE hashing: md5 runs once per DISTINCT shingle, and the
    # distinct-then-transform shape codegens ~1.8x faster at sf1 even on
    # dup-free corpora (measured 5.1 s → 2.8 s for the shingle pass).
    # array_distinct keeps first-occurrence order in both shapes, and every
    # consumer (array_min blocking, intersect/union verify) is
    # order-insensitive, so results are bit-identical either way.
    # the outer array_distinct guards the one case distinct-before-hash
    # misses: two distinct shingles colliding in the 60-bit truncated md5
    # would leave a duplicate long and inflate |A|+|B|−|A∩B| union sizing;
    # hashes are already distinct in the common case so it is near-free.
    hashed = F.array_distinct(
        F.transform(
            F.array_distinct(_char_shingles(F.col("__t"), k)),
            lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long"),
        )
    )
    keyed = _register_cache(
        docs.select("id", hashed.alias("sh"), F.size(hashed).alias("n"))
        .persist()  # blocking + both verify sides read it; shingle once
    )
    if not 0 < threshold <= 1:
        # threshold 0 is undefined for this operator: the inverted-index
        # verify arms count only pairs sharing ≥ 1 shingle, while the
        # per-pair loop would emit zero-intersection pairs at t = 0 — the
        # two code paths (and any SQL oracle) diverge exactly there, and
        # "every doc pairs with every doc" is never the intent (ADVICE
        # r12). Negative or > 1 Jaccard thresholds are meaningless.
        raise ValueError(
            f"threshold must be in (0, 1], got {threshold!r}"
        )
    scaled_t = int(round(threshold * 1_000_000))
    # r11: BLOCK-LOCAL verify replaced the candidates→join-arrays-back shape
    # (the sf10 decade knee — see _minshingle_verified_pairs for the
    # measured story); _minshingle_candidates remains the probe surface.
    return _minshingle_verified_pairs(
        keyed, bands=bands, max_block=max_block, scaled_t=scaled_t,
        p=fanout_partitions(df),
    )


def dedup_clusters(pairs: DataFrame, max_iter: int = 20) -> DataFrame:
    """Connected components over a near-dup pair graph → (id, canon_id)
    with canon_id = the component's minimum id. The semantic-dedup step a
    training-data pipeline runs AFTER pair mining: transitive closure
    groups chained near-dups (A~B, B~C ⇒ {A,B,C}) so exactly one canonical
    document per cluster survives.

    Algorithm: min-label propagation (GraphX/Pregel connected components
    shape) — every node starts labeled with its own id; each round
    replaces a node's label with min(own, neighbors' labels); fixpoint in
    O(component diameter) rounds. Near-dup components are shallow
    (pair-complete blocks), so the loop converges in a handful of rounds;
    `max_iter` caps pathological chains.

    Scale notes: ADAPTIVE execution. Small pair graphs
    (≤ CLUSTERS_LOCAL_MAX_EDGES edges — a few MB) solve with a driver-side
    union-find: one collect of the (narrow) edge list beats rounds of
    cluster scheduling, exactly the trade AQE makes for broadcast joins.
    Larger graphs run the distributed loop: per round one join + one
    groupBy on the edge list, convergence checked with a count,
    `localCheckpoint` truncating the iterative lineage (the classic
    iterative-DataFrame trap: without it, round k's plan replays rounds
    1..k-1). Either way the edge list is the PAIR graph, orders of
    magnitude smaller than the corpus at 100 TB."""
    # persist the PAIRS, not a doubled edge list: the r13 shape exploded
    # both orientations and dropDuplicates'd them BEFORE the adaptive
    # branch, paying a shuffle of 2x rows plus a count job that the local
    # branch never needed (guide §2.4 — remove shuffles outright). The
    # orientation doubling is now done lazily per branch: the local
    # union-find is orientation-agnostic, and the distributed loop derives
    # edges from the cached pairs with a cheap map-side explode. The
    # dropDuplicates was redundant work either way — mined pairs are
    # distinct (id_a < id_b) by construction, and min-label propagation /
    # union-find are correct under duplicate edges.
    pairs = pairs.persist()
    # adaptive strategy (the AQE-broadcast analog for iterative graphs):
    # below the threshold the whole edge list fits the driver trivially —
    # a local union-find replaces 3-6 rounds of distributed propagation
    # (each round = join + agg + checkpoint + convergence count, almost
    # pure scheduling overhead on a small graph; measured 2.4 s → 0.3 s at
    # sf0.1 on a 234-node graph). Above it, the propagation loop runs
    # fully distributed — the edge list never needs to fit anywhere.
    # env override for scale probes/tuning: force the distributed branch
    # (0) or raise the local ceiling, without code changes. The threshold
    # is an EDGE count (both orientations) for compatibility; pairs are
    # half that, so the local ceiling in pair terms is local_max // 2.
    local_max = int(
        os.environ.get("VARPULIS_CLUSTERS_LOCAL_MAX_EDGES", CLUSTERS_LOCAL_MAX_EDGES)
    )
    # count() decides the branch; a CACHED collect delivers the rows only
    # when they fit. The r14.0 single take(cap+1) looked cheaper (one
    # action) but CollectLimit runs by partition-count ESCALATION — with
    # the mined pair count far below the cap (every sane graph) it scans
    # 1, then 4×, then all partitions, re-running the expensive verify
    # final stage per round (measured at sf1: the take's job chain cost
    # 9.3 s where one full pass costs 3.3 s). count() materializes the
    # persist in ONE full pass, the branch collect then reads pure cache,
    # and the distributed branch reuses the same count for its edge
    # sizing — still no driver-memory growth beyond the local-branch cap.
    n_pairs = pairs.count()
    if n_pairs <= local_max // 2:
        rows = pairs.select("id_a", "id_b").collect()
        pairs.unpersist()
        parent: dict = {}

        def find(x):
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != r:
                parent[x], x = r, parent[x]
            return r

        nodes = set()
        for a, b in rows:
            nodes.add(a)
            nodes.add(b)
            ra, rb = find(a), find(b)
            if ra != rb:
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        ids = sorted(nodes)
        # Arrow createDataFrame: the rows ship to the JVM as record batches
        # (one partition per batch), so no Python worker re-runs to
        # materialize them downstream, as a Python-RDD source would
        import pyarrow as pa
        from pyspark.sql.types import StructField, StructType

        id_t = pairs.schema["id_a"].dataType
        table = pa.table({"id": ids, "canon_id": [find(x) for x in ids]})
        return pairs.sparkSession.createDataFrame(
            table, StructType([StructField("id", id_t), StructField("canon_id", id_t)])
        )
    # distributed branch: edges (both orientations) derive from the cached
    # pairs with a map-side explode — no dedup shuffle (mined pairs are
    # distinct; propagation is correct under dups). p sizes from the exact
    # pair count already taken for the branch decision.
    n_edges = 2 * n_pairs
    p = max(2, min(fanout_partitions(pairs), n_edges // 50_000 + 1))
    persisted_pairs = pairs  # keep the persisted handle for the unpersist
    # localCheckpoint the doubled edge list ONCE, already hash-partitioned
    # on the join key (dst): the checkpointed RDD keeps its output
    # partitioning, so every iteration's edges⋈labels join reshuffles only
    # the (small) label table — the r13 shape re-ran the explode + a full
    # edge shuffle from the persisted pairs on EVERY iteration's action
    # (guide §2.4: two operations keyed the same way share one exchange).
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
                    F.struct(F.col("id_b").alias("src"), F.col("id_a").alias("dst")),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .repartition(p, "dst")
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("src").alias("id")).distinct()
        .withColumn("lbl", F.col("id"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        neigh = (
            edges.join(
                labels.select(F.col("id").alias("dst"), F.col("lbl").alias("nlbl")),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("nlbl").alias("minn"))
        )
        # min-label propagation only ever LOWERS a label, so "changed" is
        # exactly "minn < lbl" — computed in the SAME pass and counted off
        # the checkpointed partitions. The r13 shape re-joined new_labels
        # against labels for the convergence check: one extra shuffle join
        # + full-table comparison per iteration (guide §2.4 — remove
        # shuffles outright).
        new_labels = (
            labels.join(neigh.withColumnRenamed("src", "id"), "id", "left")
            .select(
                "id",
                F.least(F.col("lbl"), F.coalesce(F.col("minn"), F.col("lbl"))).alias("lbl"),
                (F.col("minn") < F.col("lbl")).alias("__chg"),
            )
            .localCheckpoint()
        )
        changed = new_labels.filter(F.col("__chg")).count()
        labels = new_labels.select("id", "lbl")
        if changed == 0:
            break
    else:
        # min-label propagation converges in O(component diameter) rounds;
        # exhausting max_iter with changes pending means some component's
        # labels are NOT canonical yet — surface it instead of returning
        # silently-wrong canon_ids
        import warnings

        warnings.warn(
            f"dedup_clusters: label propagation did not converge within "
            f"max_iter={max_iter} rounds ({changed} labels still changing); "
            "canon_id values may split one component — raise max_iter for "
            "graphs with diameter > max_iter",
            stacklevel=2,
        )
    persisted_pairs.unpersist()
    return labels.select("id", F.col("lbl").alias("canon_id"))


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 7,
    threshold: float = 0.5,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard over candidate pairs (default: MinHash LSH
    candidates) — array_intersect/array_union cardinality, JVM-side."""
    if candidates is None:
        candidates = minhash_near_dup_pairs(
            df, id_col, text_col, shingle_k=shingle_k, threshold=threshold * 0.5
        ).select("id_a", "id_b")
    sh_udf = shingle_hashes_udf(shingle_k)
    sh = spread(df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__t"))).select(
        "id", sh_udf(F.col("__t")).alias("sh")
    )
    j = (
        candidates.join(sh.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
            / F.size(F.array_union("sh_a", "sh_b")),
        )
    )
    return j.filter(F.col("jaccard") >= threshold).select("id_a", "id_b", "jaccard")


# ---------------------------------------------------------------------------
# SimHash near-duplicate pairs
# ---------------------------------------------------------------------------


def with_simhash(df: DataFrame, text_col: str = "text", shingle_k: int = 7) -> DataFrame:
    return df.withColumn("simhash", simhash_udf(shingle_k)(F.col(text_col)))


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    shingle_k: int = 7,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ max_hamming.

    Candidate generation: 4×16-bit bands — two signatures within Hamming 3
    share at least one exact band (pigeonhole), so the join is equi-key.

    .. note:: default ``shingle_k`` changed 5 → 7 in r4 (module docstring);
       pass ``shingle_k=5`` to reproduce pre-r4 signatures."""
    # no persist (r14): since the r13 join-removal this frame has exactly
    # ONE consumer (the banding below), and ExtractPythonUDFs materializes
    # the UDF once per row regardless of how many band expressions
    # reference the column (single ArrowEvalPython node, plan-verified) —
    # the persist only added a cache-materialization round.
    sh = with_simhash(spread(df.select(id_col, text_col)), text_col, shingle_k).select(
        F.col(id_col).alias("id"), "simhash"
    )
    # the 64-bit signature RIDES THE BANDING (r13, guide §2.4/§8): the old
    # shape generated bare (id_a, id_b) pairs and joined the signature
    # table back TWICE to compute Hamming — two extra joins (broadcast
    # builds at bench scale, shuffles beyond the threshold) for an 8-byte
    # payload that fits in the bucket lists. Carrying struct(id, simhash)
    # through the same two-level salted cap doubles only the tiny bucket
    # exchanges and lets the Hamming check run INLINE during the per-bucket
    # pair explode — failing candidates die map-side (the
    # _bucket_verified_pairs principle, minus the Python kernel: bit_count
    # of a long xor is pure codegen). Output identical: structs sort by id
    # (unique), so the capped id set matches _bucket_pairs exactly.
    banded = sh.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.xxhash64(
                        F.lit(j),
                        F.shiftright(F.col("simhash"), j * 16).bitwiseAND(F.lit(0xFFFF)),
                    )
                    for j in range(4)
                ]
            )
        ).alias("bucket"),
    )
    p = fanout_partitions(banded)
    salted = banded.withColumn(
        "__salt", F.pmod(F.xxhash64("id"), F.lit(BUCKET_SALTS))
    )
    lvl1 = (
        salted.repartition(p, "bucket", "__salt")
        .groupBy("bucket", "__salt")
        .agg(
            F.slice(
                F.sort_array(F.collect_list(F.struct("id", "simhash"))),
                1,
                MAX_BUCKET,
            ).alias("items")
        )
    )
    lists = (
        lvl1.repartition(p, "bucket")
        .groupBy("bucket")
        .agg(
            F.slice(
                F.sort_array(F.flatten(F.collect_list("items"))), 1, MAX_BUCKET
            ).alias("items")
        )
        .filter(F.size("items") >= 2)
    )
    pair_expr = (
        "flatten(transform(items, (x, i) -> "
        "transform(slice(items, i + 2, size(items)), y -> "
        "struct(x.id AS id_a, y.id AS id_b, "
        "CAST(bit_count(x.simhash ^ y.simhash) AS INT) AS hamming))))"
    )
    return (
        lists.select(F.explode(F.expr(pair_expr)).alias("p"))
        .select("p.id_a", "p.id_b", "p.hamming")
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


def simhash_near_dup_streaming(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    shingle_k: int = 7,
    max_bucket: int = MAX_BUCKET,
    state_shards: int | None = None,
    shard_member_cap: int | None = None,
) -> DataFrame:
    """Streaming SimHash near-dup mining — the dedup-against-history twin
    of `simhash_near_dup_pairs`, on the shared bucketed-state driver (see
    `minhash_near_dup_streaming` for the full contract). The 4×16-bit
    pigeonhole banding is DETERMINISTIC (Hamming ≤ 3 ⇒ ≥ 1 identical
    band), so under id-ordered arrival the emitted pair set exactly
    equals the batch op's. State per bucket is one 64-bit signature per
    member — far lighter than the MinHash twin."""
    # spread BEFORE the signature UDF: a micro-batch of a file source
    # arrives as one input split per spool file (1-4 per trigger), which
    # serializes the shingling — measured as the twin's actual ceiling
    # (~3.9K docs/s stateless) before the stateful stage even runs.
    sh = with_simhash(
        spread(df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))),
        "text",
        shingle_k,
    ).select(F.col("doc_id").alias("id"), F.col("simhash").alias("sig"))
    banded = sh.select(
        "id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.xxhash64(
                        F.lit(j),
                        F.shiftright(F.col("sig"), j * 16).bitwiseAND(F.lit(0xFFFF)),
                    )
                    for j in range(4)
                ]
            )
        ).alias("bucket"),
    )

    def verify(pays: np.ndarray, p: np.ndarray):
        x = (pays[:, 0] ^ p[0]).astype(np.uint64)
        ham = np.unpackbits(x.view(np.uint8).reshape(-1, 8), axis=1).sum(axis=1)
        return ham <= max_hamming, ham.astype(np.int64)

    return _bucketed_near_dup_streaming(
        banded,
        payload_np=lambda v: np.asarray([v], dtype=np.int64),
        verify=verify,
        out_schema="id_a long, id_b long, hamming long",
        metric_col="hamming",
        max_bucket=max_bucket,
        state_shards=state_shards,
        shard_member_cap=shard_member_cap,
    )
