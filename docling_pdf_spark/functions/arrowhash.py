"""Arrow-batch execution of the portable-hash gram kernels.

The engine-portable 60-bit hash (functions/hashing.py: low 15 hex chars
of md5 as BIGINT) is the oracle contract for winnowing, portable
MinHash/SimHash, and DSIR bucketing — DuckDB computes the identical
value, so those operators are exactly SQL-checkable. The JVM evaluation
of that contract is expensive in exactly the places it is needed most:
per-gram hashing lives inside `F.transform(...)` higher-order lambdas,
which Spark evaluates INTERPRETED (no whole-stage codegen), and each
evaluation walks md5 → hex string → substring → conv(16,10) → cast,
allocating at every step. Measured ~3–5 µs per gram single-threaded
(winnow_fingerprints at sf1.0: ~40 s for ~14.5M grams on a 2-split
scan).

This module computes the IDENTICAL values through `mapInArrow`
(guide §4.2: let Spark do distribution and I/O, hand whole batches to
native code): hashlib's C md5 plus numpy for window-min / distinct /
vote loops runs the same gram kernel at ~0.5 µs per gram, and the
operators keep their zero-Exchange, embarrassingly-parallel shape (one
narrow Python stage over the pruned (id, text) projection — the
repo-sanctioned Arrow surface, no row-at-a-time UDFs).

Every public `*_arrow` kernel is one per-document function handed to
`per_doc_arrow(docs, id_col, text_col, fields, fn, many=False)`, the
module's only `mapInArrow` call. The harness owns the batch plumbing;
the kernels own only the per-document compute:

  * input: `spread_unsplittable(docs.select(id_col, text_col))`;
  * output schema: the id field as scanned, then `fields` (StructFields);
  * NULL text emits no row and never reaches `fn`;
  * `fn(text)` returns None for no row; with many=False one row as a
    tuple of field values (in `fields` order); with many=True a 1-D
    int64 array, one row per element, for a single int64 field;
  * output rows keep batch order, ids are `take`n from the input batch.

A kernel that must keep a row for NULL text (repetition_stats_arrow)
projects `coalesce(text, '')` before the stage, so the harness has one
NULL rule.

Exactness: `_md5_low60(b)` == conv(substring(md5(x),18,15),16,10)
by construction — md5 hex chars 18..32 (1-indexed) are the low nibble
of digest byte 8 plus bytes 9..15, i.e. int.from_bytes(digest[8:16],
"big") & (2^60-1). Token/gram semantics replicate the JVM expressions
they replace exactly (single-space split keeps empty tokens; the
Java-regex "\\s+" tokenizer is ASCII-whitespace [ \\t\\n\\x0b\\f\\r],
NOT Python's Unicode \\s; substr counts code points — Python slicing
matches because both count code points). Every kernel is pinned
against its DuckDB twin by the existing oracle tests.
"""

from __future__ import annotations

import re
from hashlib import md5 as _md5

import numpy as np

from docling_pdf_spark.functions.scanspread import spread_unsplittable

_MASK60 = (1 << 60) - 1

# per-document int64 transients (SimHash tokens x n_bits votes, MinHash
# num_hashes x grams) are built this many hashes at a time: unchunked
# they take ~0.5 GB for a single 1M-gram document, times one per
# concurrent Arrow worker
_CHUNK = 65536

# Java's default (non-UNICODE_CHARACTER_CLASS) \s — Python's re \s would
# additionally match U+00A0 etc. and diverge from F.split(col, "\\s+")
_JAVA_WS = re.compile("[ \t\n\x0b\f\r]+")


def md5_low60(data: bytes) -> int:
    """Exact Python twin of functions.hashing.portable_hash60 (and the
    DuckDB PORTABLE_HASH60_SQL expression) over raw bytes."""
    return int.from_bytes(_md5(data).digest()[8:16], "big") & _MASK60


def _tokens(t: str) -> list[str]:
    """Non-empty tokens of the JVM `F.split(text, "\\s+")` tokenizer
    (Java whitespace; leading/trailing whitespace yields no token)."""
    return [w for w in _JAVA_WS.split(t) if w != ""]


def _long_fields(*names):
    from pyspark.sql import types as T

    return [T.StructField(n, T.LongType(), False) for n in names]


def per_doc_arrow(docs, id_col, text_col, fields, fn, many=False):
    """(id, *fields) from one narrow mapInArrow stage applying fn to
    each non-NULL text — the contract is in the module docstring."""
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_type

    sel = spread_unsplittable(docs.select(id_col, text_col))
    names = [id_col] + [f.name for f in fields]
    types = [to_arrow_type(f.dataType) for f in fields]

    def gen(batches):
        import pyarrow as pa

        for b in batches:
            keep, rows = [], []
            for j, t in enumerate(b.column(1).to_pylist()):
                r = None if t is None else fn(t)
                if r is not None:
                    keep.append(j)
                    rows.append(r)
            idx = np.asarray(keep, dtype=np.int64)
            if many:
                idx = np.repeat(idx, [len(r) for r in rows])
                cols = [np.concatenate(rows) if rows else np.empty(0, np.int64)]
            else:
                cols = list(zip(*rows)) or [[] for _ in fields]
            yield pa.RecordBatch.from_arrays(
                [b.column(0).take(pa.array(idx))]
                + [pa.array(c, type=ty) for c, ty in zip(cols, types)],
                names=names,
            )

    return sel.mapInArrow(gen, T.StructType([sel.schema.fields[0], *fields]))


def _window_min_unique(hs, w: int):
    """Distinct minima over each length-w window of consecutive gram
    hashes; None (no row, as in the JVM plan) when there are fewer
    than w hashes."""
    m = len(hs)
    if m < w:
        return None
    return np.unique(np.minimum.reduce([hs[i : m - w + 1 + i] for i in range(w)]))


def _md5_grams(t: str, k: int):
    """md5_low60 of every character k-gram of t, as int64."""
    m = max(len(t) - k + 1, 0)
    hs = np.empty(m, dtype=np.int64)
    from_bytes = int.from_bytes
    h = _md5
    tb = t.encode("utf-8")
    if len(tb) == len(t):  # ASCII: byte slices == code-point slices
        for i in range(m):
            hs[i] = from_bytes(h(tb[i : i + k]).digest()[8:16], "big") & _MASK60
    else:
        for i in range(m):
            hs[i] = (
                from_bytes(h(t[i : i + k].encode("utf-8")).digest()[8:16], "big")
                & _MASK60
            )
    return hs


def winnow_fingerprints_arrow(docs, k, w, id_col, text_col):
    """(id, fingerprint) — bit-identical to the JVM expression form of
    operators.winnow.winnow_fingerprints(hash_mode='portable')."""
    return per_doc_arrow(
        docs,
        id_col,
        text_col,
        _long_fields("fingerprint"),
        lambda t: _window_min_unique(_md5_grams(t, k), w),
        many=True,
    )


def _doc_grams(t: str, n: int) -> list[str]:
    """Word-n-grams WITH multiplicity — twin of operators.dedup
    ._gram_arrays (split on single space keeps empty tokens; join with
    single space == concat_ws)."""
    toks = t.split(" ")
    g = len(toks) - n + 1
    if g <= 0:
        return []
    join = " ".join
    return [join(toks[i : i + n]) for i in range(g)]


def bucketed_grams_arrow(docs, n, n_buckets, id_col, text_col):
    """(id, bucket) one row per gram occurrence — twin of operators.dsir
    ._bucketed_grams(hash_mode='portable')."""
    low60 = md5_low60

    def buckets(t):
        grams = _doc_grams(t, n)
        return np.fromiter(
            (low60(g.encode("utf-8")) % n_buckets for g in grams),
            dtype=np.int64,
            count=len(grams),
        )

    return per_doc_arrow(
        docs, id_col, text_col, _long_fields("bucket"), buckets, many=True
    )


def _minhash(base, a, b, m31):
    """min((a_i*base + b_i) % m31) per hash i — the (num_hashes x
    grams) matrix is built _CHUNK grams at a time with a running
    minimum. a*base < 2^31 * 2^31 = 2^62: no int64 overflow."""
    sig = np.full(len(a), m31, dtype=np.int64)
    for s in range(0, len(base), _CHUNK):
        x = a * base[s : s + _CHUNK]
        x += b
        x %= m31
        np.minimum(sig, x.min(axis=1), out=sig)
    return sig


def minhash_signatures_portable_arrow(docs, params, n, id_col, text_col):
    """(id, mh_0..mh_{K-1}) — twin of the portable MinHash signature
    aggregation in operators.dedup.minhash_lsh_dedup_portable: base =
    md5_low60(gram) % M31 over DISTINCT word-n-grams, mh_i =
    min((a_i*base+b_i) % M31). Docs with no grams emit no row (the
    groupBy over zero exploded rows produced none)."""
    from docling_pdf_spark.operators.dedup import MERSENNE31

    a_arr = np.array([a for a, _ in params], dtype=np.int64).reshape(-1, 1)
    b_arr = np.array([b for _, b in params], dtype=np.int64).reshape(-1, 1)
    low60 = md5_low60
    m31 = MERSENNE31

    def signature(t):
        grams = set(_doc_grams(t, n))
        if not grams:
            return None
        base = np.fromiter(
            (low60(g.encode("utf-8")) % m31 for g in grams),
            dtype=np.int64,
            count=len(grams),
        )
        return tuple(_minhash(base, a_arr, b_arr, m31).tolist())

    fields = _long_fields(*(f"mh_{i}" for i in range(len(params))))
    return per_doc_arrow(docs, id_col, text_col, fields, signature)


def _bit_votes(hs, bit_idx):
    """Per-bit one-counts of a uint64 hash array, accumulated in
    _CHUNK-hash chunks: the obvious `(hs[:, None] >> bits) & 1` expands
    to a tokens x n_bits int64 matrix. Chunking caps the transient at
    ~32 MB while keeping the vectorized inner loop."""
    ones = np.zeros(len(bit_idx), dtype=np.int64)
    for s in range(0, len(hs), _CHUNK):
        chunk = hs[s : s + _CHUNK]
        ones += ((chunk[:, None] >> bit_idx) & np.uint64(1)).sum(
            axis=0, dtype=np.int64
        )
    return ones


def _simhash(hs, n_bits: int) -> int:
    """SimHash of a uint64 token-hash array as a signed long: each of
    the low n_bits votes ±1 (multiplicity kept), bit set iff the vote
    sum > 0."""
    bit_idx = np.arange(n_bits, dtype=np.uint64)
    votes = 2 * _bit_votes(hs, bit_idx) - len(hs)
    fp = ((votes > 0).astype(np.uint64) << bit_idx).sum(dtype=np.uint64)
    return int(fp.view(np.int64))


def simhash_fingerprints_portable_arrow(docs, n_bits, id_col, text_col):
    """(id, simhash) — twin of operators.dedup
    .simhash_fingerprints_portable: per-token md5_low60, each of the low
    n_bits votes ±1 (multiplicity kept), bit set iff vote sum > 0. Docs
    whose tokenization yields only empty strings emit no row."""
    low60 = md5_low60

    def simhash(t):
        toks = _tokens(t)
        if not toks:
            return None
        hs = np.fromiter(
            (low60(w.encode("utf-8")) for w in toks),
            dtype=np.uint64,
            count=len(toks),
        )
        return (_simhash(hs, n_bits),)

    return per_doc_arrow(docs, id_col, text_col, _long_fields("simhash"), simhash)


# ---------------- repetition signals (operators/quality.py) ----------

_UNIT_SPLIT = {
    "dup_line_frac": re.compile(r"\n"),
    "dup_para_frac": re.compile(r"\n{2,}"),
}


def _dup_frac_py(units):
    """Python twin of quality._dup_fraction's per-doc aggregate: share
    of non-blank units (Spark trim == strip of 0x20 only) whose value
    occurs 2+ times; None when no unit qualifies (the JVM groupBy
    emitted no row → LEFT JOIN null → coalesce downstream)."""
    counts: dict[str, int] = {}
    for u in units:
        if u.strip(" ") != "":
            counts[u] = counts.get(u, 0) + 1
    if not counts:
        return None
    total = 0
    dup = 0
    for c in counts.values():
        total += c
        if c >= 2:
            dup += c
    return dup / total


def _top_gram_frac_py(toks, n):
    """Python twin of the top-n-gram fraction: max gram count / total
    gram slots over space-joined word n-grams; None when < n tokens."""
    g = len(toks) - n + 1
    if g <= 0:
        return None
    counts: dict[str, int] = {}
    join = " ".join
    for i in range(g):
        k = join(toks[i : i + n])
        counts[k] = counts.get(k, 0) + 1
    return max(counts.values()) / g


def repetition_stats_arrow(docs, id_col, text_col, signals, gram_n):
    """(id, <signal raw double...>) — one narrow Arrow stage computing
    every requested Gopher repetition signal per document. The JVM form
    ran one explode → groupBy(id, unit) → groupBy(id) shuffle pair PER
    SIGNAL plus a 5-way join — but every signal is a within-document
    statistic, so no row ever needed to leave its partition (guide
    §2.4). Values are the raw unrounded doubles (integer counts and one
    IEEE division — bit-identical to the JVM aggregate); rounding and
    the 0.0 coalesce stay in the caller's JVM projection. Every doc
    keeps a row: NULL text is read as '', whose signals are all NULL."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    want_toks = any(s in gram_n for s in signals)

    def stats(t):
        toks = _tokens(t) if want_toks else None
        return tuple(
            _dup_frac_py(_UNIT_SPLIT[s].split(t))
            if s in _UNIT_SPLIT
            else _top_gram_frac_py(toks, gram_n[s])
            for s in signals
        )

    text = F.coalesce(F.col(text_col), F.lit("")).alias(text_col)
    fields = [T.StructField(s, T.DoubleType(), True) for s in signals]
    return per_doc_arrow(docs.select(id_col, text), id_col, text_col, fields, stats)


# ---------------- XXH64 (Spark F.xxhash64 twin, seed 42) -------------
#
# Public XXH64 spec (Collet; same algorithm Spark's XxHash64 expression
# implements over the UTF-8 bytes with seed 42). Used by the winnow
# fast-mode kernel: the fixed k-byte gram case vectorizes fully in
# numpy uint64 (wrapping arithmetic == mod-2^64 by construction).

_XP1 = 0x9E3779B185EBCA87
_XP2 = 0xC2B2AE3D27D4EB4F
_XP3 = 0x165667B19E3779F9
_XP4 = 0x85EBCA77C2B2AE63
_XP5 = 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def xxh64_bytes(data: bytes, seed: int = 42) -> int:
    """Scalar XXH64 (signed-long bit pattern, matching F.xxhash64)."""
    n = len(data)
    i = 0
    if n >= 32:
        vs = [
            (seed + _XP1 + _XP2) & _M64,
            (seed + _XP2) & _M64,
            seed,
            (seed - _XP1) & _M64,
        ]
        while i + 32 <= n:
            for k in range(4):
                lane = int.from_bytes(data[i + 8 * k : i + 8 * k + 8], "little")
                vs[k] = (_rotl((vs[k] + lane * _XP2) & _M64, 31) * _XP1) & _M64
            i += 32
        acc = sum(_rotl(v, r) for v, r in zip(vs, (1, 7, 12, 18))) & _M64
        for v in vs:
            acc ^= (_rotl((v * _XP2) & _M64, 31) * _XP1) & _M64
            acc = ((acc * _XP1) + _XP4) & _M64
    else:
        acc = (seed + _XP5) & _M64
    acc = (acc + n) & _M64
    while i + 8 <= n:
        lane = int.from_bytes(data[i : i + 8], "little")
        acc ^= (_rotl((lane * _XP2) & _M64, 31) * _XP1) & _M64
        acc = ((_rotl(acc, 27) * _XP1) + _XP4) & _M64
        i += 8
    if i + 4 <= n:
        lane = int.from_bytes(data[i : i + 4], "little")
        acc ^= (lane * _XP1) & _M64
        acc = ((_rotl(acc, 23) * _XP2) + _XP3) & _M64
        i += 4
    while i < n:
        acc ^= (data[i] * _XP5) & _M64
        acc = (_rotl(acc, 11) * _XP1) & _M64
        i += 1
    acc ^= acc >> 33
    acc = (acc * _XP2) & _M64
    acc ^= acc >> 29
    acc = (acc * _XP3) & _M64
    acc ^= acc >> 32
    return acc - (1 << 64) if acc >= (1 << 63) else acc


def _xxh64_lanes8(lanes, seed: int = 42):
    """Vectorized XXH64 of many 8-byte messages given as a uint64 LE
    lane array — the small-input path (len=8 < 32) of the spec."""
    with np.errstate(over="ignore"):
        p1 = np.uint64(_XP1)
        p2 = np.uint64(_XP2)
        acc = np.full_like(lanes, np.uint64((seed + _XP5 + 8) & _M64))
        k1 = lanes * p2
        k1 = ((k1 << np.uint64(31)) | (k1 >> np.uint64(33))) * p1
        acc ^= k1
        acc = ((acc << np.uint64(27)) | (acc >> np.uint64(37))) * p1 + np.uint64(
            _XP4
        )
        acc ^= acc >> np.uint64(33)
        acc *= p2
        acc ^= acc >> np.uint64(29)
        acc *= np.uint64(_XP3)
        acc ^= acc >> np.uint64(32)
    return acc.view(np.int64)


def _xxh_grams(t: str, k: int):
    """xxhash64 (seed 42 — F.xxhash64's default) of every character
    k-gram of t, as int64. ASCII docs with k == 8 vectorize (k-byte
    grams -> uint64 lanes); others go through the length-classed
    vectorized path."""
    m = max(len(t) - k + 1, 0)
    tb = t.encode("utf-8")
    if len(tb) == len(t) and k == 8:
        a = np.frombuffer(tb, dtype=np.uint8).astype(np.uint64)
        lanes = np.zeros(m, dtype=np.uint64)
        with np.errstate(over="ignore"):
            for i in range(8):
                lanes |= a[i : i + m] << np.uint64(8 * i)
        return _xxh64_lanes8(lanes)
    # non-ASCII (or non-default k): grams are variable-length in
    # bytes, so hash them through the length-classed vectorized
    # path instead of a per-gram scalar loop (review-found cliff:
    # one 'é' in a 10k-char doc sent every gram through interpreted
    # Python at µs each)
    return xxh64_strings([t[i : i + k] for i in range(m)]).view(np.int64)


def winnow_fingerprints_fast_arrow(docs, k, w, id_col, text_col):
    """(id, fingerprint) — bit-identical to the JVM expression form of
    operators.winnow.winnow_fingerprints(hash_mode='fast')."""
    return per_doc_arrow(
        docs,
        id_col,
        text_col,
        _long_fields("fingerprint"),
        lambda t: _window_min_unique(_xxh_grams(t, k), w),
        many=True,
    )


def _xxh64_fixed_len(mat, seed: int = 42):
    """Vectorized XXH64 over m same-length byte messages (rows of a
    (m, L) uint8 matrix) — straight-line spec evaluation per length
    class; wrapping uint64 arithmetic == the spec's mod-2^64."""
    m, L = mat.shape
    u64 = np.uint64
    p1, p2, p3 = u64(_XP1), u64(_XP2), u64(_XP3)
    p4, p5 = u64(_XP4), u64(_XP5)

    def le64(cols):
        lane = np.zeros(m, dtype=np.uint64)
        for k in range(8):
            lane |= cols[:, k].astype(np.uint64) << u64(8 * k)
        return lane

    def rotl(x, r):
        return (x << u64(r)) | (x >> u64(64 - r))

    with np.errstate(over="ignore"):
        i = 0
        if L >= 32:
            v = [
                np.full(m, u64((seed + _XP1 + _XP2) & _M64)),
                np.full(m, u64((seed + _XP2) & _M64)),
                np.full(m, u64(seed)),
                np.full(m, u64((seed - _XP1) & _M64)),
            ]
            while i + 32 <= L:
                for k in range(4):
                    v[k] = rotl(v[k] + le64(mat[:, i + 8 * k : i + 8 * k + 8]) * p2, 31) * p1
                i += 32
            acc = rotl(v[0], 1) + rotl(v[1], 7) + rotl(v[2], 12) + rotl(v[3], 18)
            for k in range(4):
                acc = (acc ^ (rotl(v[k] * p2, 31) * p1)) * p1 + p4
        else:
            acc = np.full(m, u64((seed + _XP5) & _M64))
        acc = acc + u64(L)
        while i + 8 <= L:
            acc = rotl(acc ^ (rotl(le64(mat[:, i : i + 8]) * p2, 31) * p1), 27) * p1 + p4
            i += 8
        if i + 4 <= L:
            lane = np.zeros(m, dtype=np.uint64)
            for k in range(4):
                lane |= mat[:, i + k].astype(np.uint64) << u64(8 * k)
            acc = rotl(acc ^ (lane * p1), 23) * p2 + p3
            i += 4
        while i < L:
            acc = rotl(acc ^ (mat[:, i].astype(np.uint64) * p5), 11) * p1
            i += 1
        acc ^= acc >> u64(33)
        acc *= p2
        acc ^= acc >> u64(29)
        acc *= p3
        acc ^= acc >> u64(32)
    return acc


def xxh64_strings(strs: list[str], seed: int = 42):
    """uint64 XXH64 of each string's UTF-8 bytes, vectorized by length
    class (identical values to F.xxhash64 over one string column)."""
    out = np.empty(len(strs), dtype=np.uint64)
    by_len: dict[int, tuple[list[int], list[bytes]]] = {}
    for j, s in enumerate(strs):
        b = s.encode("utf-8")
        cls = by_len.setdefault(len(b), ([], []))
        cls[0].append(j)
        cls[1].append(b)
    for L, (idx, bs) in by_len.items():
        if L == 0:
            out[idx] = np.uint64(xxh64_bytes(b"", seed) & _M64)
            continue
        mat = np.frombuffer(b"".join(bs), dtype=np.uint8).reshape(len(bs), L)
        out[idx] = _xxh64_fixed_len(mat, seed)
    return out


def simhash_fingerprints_fast_arrow(docs, id_col, text_col):
    """(id, simhash) — twin of the JVM simhash_fingerprints (fast
    xxhash64 mode): per-token 64-bit hash, each bit votes ±1
    (multiplicity kept), bit set iff vote sum > 0. One narrow Arrow
    stage instead of explode(tokens) → groupBy(id) with 64 sum()
    aggregates (64 aggregate-buffer updates per token row)."""

    def simhash(t):
        toks = _tokens(t)
        return (_simhash(xxh64_strings(toks), 64),) if toks else None

    return per_doc_arrow(docs, id_col, text_col, _long_fields("simhash"), simhash)


def _xxh64_int_lane(seeds, i: int):
    """Vectorized XXH64 of a single 4-byte int lane with per-row seeds
    — Spark's multi-column xxhash64 chains exactly this: each later
    column is hashed with the running hash as the seed, and an
    IntegerType lane takes the 4-byte path (validated bit-exact against
    F.xxhash64(col, lit(i)))."""
    u64 = np.uint64
    with np.errstate(over="ignore"):
        acc = seeds + u64((_XP5 + 4) & _M64)
        acc = acc ^ u64(((i & 0xFFFFFFFF) * _XP1) & _M64)
        acc = ((acc << u64(23)) | (acc >> u64(41))) * u64(_XP2) + u64(_XP3)
        acc ^= acc >> u64(33)
        acc *= u64(_XP2)
        acc ^= acc >> u64(29)
        acc *= u64(_XP3)
        acc ^= acc >> u64(32)
    return acc


def text_embedding_arrow(docs, dim, id_col, text_col):
    """(id, embedding array<double>) — twin of the JVM map-rebuild
    text_embedding: bucket = pmod(xxhash64(w), dim), sign from the
    chained xxhash64(w, lit(1)) parity, ±1 votes accumulated per
    bucket, L2-normalized, zero-norm docs excluded. One narrow Arrow
    stage instead of explode → groupBy(id, bucket) → per-doc map
    rebuild (the rebuild evaluated an interpreted element_at lambda
    dim times per doc). Values are bit-identical: votes are exact
    integers in double, the squared norm is an exact integer sum, and
    the element-wise division is the same IEEE operation."""
    from pyspark.sql import types as T

    def embedding(t):
        toks = _tokens(t)
        if not toks:
            return None
        hs = xxh64_strings(toks)
        buckets = hs.view(np.int64) % dim  # pmod: numpy % is nonneg
        signs = ((_xxh64_int_lane(hs, 1).view(np.int64) % 2) * 2 - 1).astype(
            np.float64
        )
        v = np.bincount(buckets, weights=signs, minlength=dim)
        norm = float(np.sqrt((v * v).sum()))
        return None if norm == 0.0 else (v / norm,)

    field = T.StructField("embedding", T.ArrayType(T.DoubleType(), False), False)
    return per_doc_arrow(docs, id_col, text_col, [field], embedding)
