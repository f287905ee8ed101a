"""Delta + variable-byte posting-list codec (numpy-vectorized).

Reference semantics: the compressed index stores, per term, the varint bytes
of ``[df, Δdoc₁, tf₁, Δdoc₂, tf₂, …]`` — encode at
/root/reference/indexing/index_compressor/compression.py:48-65 (vbcode lib),
decode at /root/reference/search/retrieval/retrieval_helpers/index_decoder.py:8-37.

Ours is block-oriented for scale: posting lists are chunked into bounded
blocks; each block payload is ``varint([n, doc₀, Δdoc₁.., tf₁..tfₙ])`` with
docs and tfs stored as separate runs (better delta locality than the
reference's interleaving) plus per-block max-tf / max-score metadata for
Block-Max WAND pruning (BASELINE.json north_star, C5 in SURVEY §2.4).

Varint wire format = the classic 7-bit variable-byte code used by the
reference's ``vbcode``: big-endian 7-bit groups, continuation bit set on the
LAST byte of each integer (Manning et al., IIR §5.3 — public).
"""

from __future__ import annotations

import numpy as np

_MAX_BYTES = 10  # enough for uint64


def vb_encode(values: np.ndarray) -> bytes:
    """Vectorized variable-byte encode of a non-negative int array."""
    values = np.asarray(values, dtype=np.uint64)
    n = len(values)
    if n == 0:
        return b""
    # byte length of each value: ceil(bitlen/7), min 1 — computed per
    # candidate width (10 passes max) to stay exact for full 64-bit ints
    lengths = np.ones(n, dtype=np.int64)
    thresh = np.uint64(1 << 7)
    for width in range(2, _MAX_BYTES + 1):
        lengths[values >= thresh] = width
        if width < _MAX_BYTES:
            thresh = np.uint64(1) << np.uint64(7 * width)
    total = int(lengths.sum())
    out = np.zeros(total, dtype=np.uint8)
    ends = np.cumsum(lengths) - 1  # index of LAST byte of each value
    rem = values.copy()
    # fill from last byte backwards; k-th pass writes byte (end - k)
    for k in range(int(lengths.max())):
        mask = lengths > k
        pos = ends[mask] - k
        out[pos] = (rem[mask] & np.uint64(0x7F)).astype(np.uint8)
        rem[mask] >>= np.uint64(7)
    out[ends] |= 0x80  # continuation bit on last byte (reference convention)
    return out.tobytes()


def vb_decode(buf: bytes) -> np.ndarray:
    """Vectorized variable-byte decode → int64 array."""
    if not buf:
        return np.empty(0, dtype=np.int64)
    raw = np.frombuffer(buf, dtype=np.uint8)
    is_end = (raw & 0x80) != 0
    ends = np.flatnonzero(is_end)
    starts = np.empty_like(ends)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    payload = (raw & 0x7F).astype(np.uint64)
    out = np.zeros(len(ends), dtype=np.uint64)
    lengths = ends - starts + 1
    maxlen = int(lengths.max())
    # accumulate big-endian 7-bit groups, vectorized per byte offset
    for k in range(maxlen):
        mask = lengths > k
        out[mask] = (out[mask] << np.uint64(7)) | payload[starts[mask] + k]
    return out.astype(np.int64)


def encode_block(doc_ids: np.ndarray, tfs: np.ndarray,
                 dls: np.ndarray | None = None) -> bytes:
    """One posting block → payload bytes.

    Layout: varint([n, doc₀, Δdoc₁..Δdocₙ₋₁, tf₁..tfₙ[, dl₁..dlₙ]]).
    doc_ids must be sorted ascending and unique within the block. ``dls``
    (per-posting doc length) makes blocks self-contained for scoring —
    the query path then needs NO doc_stats join and the serving kernel can
    score a block from its bytes alone (cost ≈1-2 bytes/posting).
    """
    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    tfs = np.asarray(tfs, dtype=np.int64)
    n = len(doc_ids)
    parts = [np.array([n, doc_ids[0] if n else 0], dtype=np.int64),
             np.diff(doc_ids), tfs]
    if dls is not None:
        parts.append(np.asarray(dls, dtype=np.int64))
    return vb_encode(np.concatenate(parts))


def decode_block(payload: bytes) -> tuple[np.ndarray, np.ndarray]:
    """payload bytes → (doc_ids ascending, tfs). Inverse of encode_block
    without dls (ignores a trailing dl run if present)."""
    d, t, _ = decode_block_full(payload)
    return d, t


def decode_block_full(payload: bytes):
    """→ (doc_ids, tfs, dls|None) depending on whether the dl run exists.

    Dispatches on the payload's first byte: 0x00 marks a tagged format
    (the quantized-impact block, see encode_block_impact), which has no
    tf/dl and is refused, as is any other tag; anything else is the
    varint stream, whose first byte is never 0x00."""
    if payload[:2] == _IMPACT_TAG:
        raise ValueError(
            "quantized-impact payload: tf/dl are not recoverable from an "
            "impact store — decode with decode_block_impact (serving "
            "kernels) or re-quantize from the SOURCE index (merge/vacuum)")
    if payload[:1] == b"\x00":
        raise ValueError(f"unknown tagged payload format {payload[:2]!r}")
    stream = vb_decode(payload)
    n = int(stream[0])
    if n == 0:
        e = np.empty(0, dtype=np.int64)
        return e, e, None
    docs = np.empty(n, dtype=np.int64)
    docs[0] = stream[1]
    if n > 1:
        docs[1:] = stream[2 : 1 + n]
        np.cumsum(docs, out=docs)
    tfs = np.asarray(stream[1 + n : 1 + 2 * n], dtype=np.int64)
    dls = None
    if len(stream) >= 1 + 3 * n:
        dls = np.asarray(stream[1 + 2 * n : 1 + 3 * n], dtype=np.int64)
    return docs, tfs, dls


# ---------------------------------------------------------------------------
# Quantized-impact posting block (Anh & Moffat 2005, "Simplified
# similarity scoring using term ranks" / the impact-sorted-index line of
# work; Lucene's quantized norms are the production analogue — all
# public). The block stores, per posting, an integer impact
# q ∈ [0, 2^bits−1] that quantizes the BM25 tf/dl part
# w(tf,dl) = tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)); serving scores
# idf·(k1+1)·q/maxq with NO doc-length lookup and ~1 byte/posting
# instead of the tf+dl varint pair. The quantization is defined in
# EXACT int64 arithmetic (see operators.scoring.quantize_impacts) so an
# ANSI-SQL oracle reproduces stored impacts bit-for-bit.
#
# Payload tagging: a varint payload's first byte is the most significant
# 7-bit group of the block's n and is therefore NEVER 0x00 (n=0 encodes
# as 0x80). Tagged formats start with 0x00 + a format letter, so
# ``decode_block_full`` tells them apart without any table metadata.
# ---------------------------------------------------------------------------

_IMPACT_TAG = b"\x00I"


def encode_block_impact(doc_ids: np.ndarray, impacts: np.ndarray) -> bytes:
    """Posting block of (doc_id, quantized impact) → payload bytes.

    Layout: ``0x00 'I' varint([n, doc₀, Δdoc₁.., q₁..qₙ])``. doc_ids
    must be sorted ascending and unique within the block; impacts are
    non-negative ints ≤ 2^16−1 (8-bit is the standard deployment, the
    varint run costs 1 byte/posting there)."""
    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    impacts = np.asarray(impacts, dtype=np.int64)
    n = len(doc_ids)
    parts = [np.array([n, doc_ids[0] if n else 0], dtype=np.int64),
             np.diff(doc_ids), impacts]
    return _IMPACT_TAG + vb_encode(np.concatenate(parts))


def decode_block_impact(payload: bytes) -> tuple[np.ndarray, np.ndarray]:
    """Inverse of encode_block_impact → (doc_ids ascending, impacts)."""
    if payload[:2] != _IMPACT_TAG:
        raise ValueError(
            "not a quantized-impact payload — tf/dl stores decode with "
            "decode_block_full")
    stream = vb_decode(payload[2:])
    n = int(stream[0])
    if n == 0:
        e = np.empty(0, dtype=np.int64)
        return e, e
    docs = np.empty(n, dtype=np.int64)
    docs[0] = stream[1]
    if n > 1:
        docs[1:] = stream[2:1 + n]
        np.cumsum(docs, out=docs)
    impacts = np.asarray(stream[1 + n:1 + 2 * n], dtype=np.int64)
    return docs, impacts


def is_impact_payload(payload: bytes) -> bool:
    """True iff the payload is a quantized-impact block."""
    return payload[:2] == _IMPACT_TAG

