"""Token-chunk encoding: regime-cascaded per-column compression.

A chunk is one Arrow batch of rows (doc_id, tokens, n_tok, source). The
tokens column is flattened to (flat:int32[], lengths:int32[]) and encoded as:

  1. vectorized per-doc stats (np.{maximum,minimum,add}.reduceat — no
     per-row Python) classify each doc into a regime group:
       RUNNY   mean run length ≥ 4           → RLE wins
       SMALL   value span ≤ 255 after per-doc frame subtraction → bit-pack
       GENERAL everything else               → dict / plain (+zstd)
  2. docs of each group are concatenated into one value stream; the codec
     auto-selector (codecs.select) picks per stream; SMALL additionally
     subtracts the per-doc min first (per-doc frame-of-reference), with the
     refs stream itself codec-encoded.
  3. lengths and group-ids are codec-encoded int32 streams.

This is the chunk-level analog of the reference's per-feed hand-tuned
optimizations (categorical + downcast, /root/reference/src/parquet_reader.py:464-494)
generalized into a stats-driven cascade. Decode reverses exactly:
bit-identical int32 token arrays (property-tested).

Blob layout (TOK id 32):
  u8 id | u32 n_docs | u8 n_groups |
  child(lengths_blob) | child(groups_blob) | child(refs_blob) |
  n_groups × child(values_blob)
where child(b) = u32 len || b.
"""

from __future__ import annotations

import struct

import numpy as np

from ..codecs import ints as CI
from ..codecs.ints import decode_ints, encode_ints_auto, unwrap_zstd, wrap_zstd

TOK = 32
_U32 = struct.Struct("<I")

GROUP_GENERAL, GROUP_RUNNY, GROUP_SMALL = 0, 1, 2
N_GROUPS = 3

# classification thresholds (deterministic → stable resume)
_RUNNY_MEAN_RUN = 4.0
_SMALL_SPAN = 255


def _child(b: bytes) -> bytes:
    return _U32.pack(len(b)) + b


def _per_doc_stats(flat: np.ndarray, lengths: np.ndarray):
    """Vectorized per-doc (min, max, n_runs); empty docs get neutral values."""
    n_docs = len(lengths)
    starts = np.zeros(n_docs, dtype=np.int64)
    np.cumsum(lengths[:-1], out=starts[1:])
    nonempty = lengths > 0
    mins = np.zeros(n_docs, dtype=np.int64)
    maxs = np.zeros(n_docs, dtype=np.int64)
    runs = np.ones(n_docs, dtype=np.int64)
    if len(flat) and nonempty.any():
        # reduceat needs strictly valid starts; restrict to nonempty docs
        s = starts[nonempty]
        mins[nonempty] = np.minimum.reduceat(flat, s)
        maxs[nonempty] = np.maximum.reduceat(flat, s)
        # within-doc run boundaries: value changes not crossing a doc edge
        runs = np.zeros(n_docs, dtype=np.int64)
        if len(flat) > 1:
            change = (flat[1:] != flat[:-1]).astype(np.int64)
            csum = np.concatenate(([0], np.cumsum(change)))
            ends = (starts + lengths)[nonempty]
            runs[nonempty] = csum[ends - 1] - csum[s] + 1
        else:
            runs[nonempty] = 1
    else:
        runs = np.zeros(n_docs, dtype=np.int64)
    return starts, mins, maxs, runs


def _classify(lengths, mins, maxs, runs) -> np.ndarray:
    n = lengths.astype(np.float64)
    with np.errstate(divide="ignore", invalid="ignore"):
        mean_run = np.where(runs > 0, n / np.maximum(runs, 1), 0.0)
    span = maxs - mins
    groups = np.full(len(lengths), GROUP_GENERAL, dtype=np.int32)
    groups[span <= _SMALL_SPAN] = GROUP_SMALL
    groups[mean_run >= _RUNNY_MEAN_RUN] = GROUP_RUNNY  # runny beats small
    groups[lengths == 0] = GROUP_GENERAL
    return groups


def encode_token_chunk(
    flat: np.ndarray, lengths: np.ndarray, zstd: bool = True, zstd_level: int = 3
) -> tuple[bytes, dict]:
    """Encode one chunk → (blob, meta). meta records per-stream codec choices
    for the lineage manifest."""
    flat = np.ascontiguousarray(flat, dtype=np.int32)
    lengths = np.ascontiguousarray(lengths, dtype=np.int32)
    n_docs = len(lengths)
    starts, mins, maxs, runs = _per_doc_stats(flat, lengths)
    groups = _classify(lengths, mins, maxs, runs)

    post = (lambda b: wrap_zstd(b, zstd_level)) if zstd else (lambda b: b)
    meta: dict = {"n_docs": n_docs, "n_tokens": int(len(flat)), "streams": {}}

    len_blob, len_codec = encode_ints_auto(lengths)
    len_blob = post(len_blob)
    grp_blob, grp_codec = encode_ints_auto(groups)
    grp_blob = post(grp_blob)
    meta["streams"]["lengths"] = CI.CODEC_NAMES[len_codec]
    meta["streams"]["groups"] = CI.CODEC_NAMES[grp_codec]

    present = np.unique(groups[lengths > 0]) if n_docs else groups[:0]
    has_small = GROUP_SMALL in present
    single_group = len(present) == 1

    # per-doc frame subtraction for SMALL docs (uint32 wraparound — exact)
    refs = np.where(groups == GROUP_SMALL, mins, 0).astype(np.int32)
    if len(flat) and has_small:
        doc_of_value = np.repeat(
            np.arange(n_docs, dtype=np.int32), lengths.astype(np.int64)
        )
        frame = refs[doc_of_value]
        shifted = (flat.view(np.uint32) - frame.view(np.uint32)).view(np.int32)
    else:
        doc_of_value = None
        shifted = flat
    refs_blob, refs_codec = encode_ints_auto(refs[groups == GROUP_SMALL])
    refs_blob = post(refs_blob)
    meta["streams"]["refs"] = CI.CODEC_NAMES[refs_codec]

    value_blobs = []
    if single_group:
        # homogeneous chunk: skip the per-value group gather entirely
        g_only = int(present[0])
        for g in range(N_GROUPS):
            vals = shifted if g == g_only else shifted[:0]
            blob, codec = encode_ints_auto(vals)
            value_blobs.append(post(blob))
            meta["streams"][f"values_g{g}"] = CI.CODEC_NAMES[codec]
            meta[f"n_values_g{g}"] = int(len(vals))
    else:
        if doc_of_value is None and len(flat):
            doc_of_value = np.repeat(
                np.arange(n_docs, dtype=np.int32), lengths.astype(np.int64)
            )
        value_group = (
            groups[doc_of_value] if len(flat) else np.zeros(0, np.int32)
        )
        for g in range(N_GROUPS):
            vals = shifted[value_group == g] if len(flat) else shifted[:0]
            blob, codec = encode_ints_auto(vals)
            value_blobs.append(post(blob))
            meta["streams"][f"values_g{g}"] = CI.CODEC_NAMES[codec]
            meta[f"n_values_g{g}"] = int(len(vals))

    out = (
        bytes([TOK])
        + _U32.pack(n_docs)
        + bytes([N_GROUPS])
        + _child(len_blob)
        + _child(grp_blob)
        + _child(refs_blob)
        + b"".join(_child(b) for b in value_blobs)
    )
    meta["bytes_out"] = len(out)
    return out, meta


def _check_tok(blob: bytes) -> None:
    if not blob or blob[0] != TOK:
        raise ValueError("not a token chunk")


def decode_chunk_lengths(blob: bytes) -> np.ndarray:
    """Parse ONLY the per-doc lengths stream of a token chunk — n_tok
    without touching the (much larger) value streams. This is what makes
    a lengths-only projection (read_decoded(columns=[... 'n_tok'])) skip
    ~95% of the decode work."""
    _check_tok(blob)
    mv = memoryview(blob)
    (ln,) = _U32.unpack_from(mv, 6)
    return decode_ints(unwrap_zstd(bytes(mv[10 : 10 + ln]))).astype(np.int32)


def decode_token_chunk(blob: bytes) -> tuple[np.ndarray, np.ndarray]:
    """Inverse of encode_token_chunk → (flat int32 values, int32 lengths)."""
    _check_tok(blob)
    mv = memoryview(blob)
    (n_docs,) = _U32.unpack_from(mv, 1)
    n_groups = mv[5]
    pos = 6

    def child() -> bytes:
        nonlocal pos
        (ln,) = _U32.unpack_from(mv, pos)
        b = bytes(mv[pos + 4 : pos + 4 + ln])
        pos += 4 + ln
        return b

    lengths = decode_ints(unwrap_zstd(child()))
    groups = decode_ints(unwrap_zstd(child()))
    refs_small = decode_ints(unwrap_zstd(child()))
    value_streams = [decode_ints(unwrap_zstd(child())) for _ in range(n_groups)]

    total = int(lengths.astype(np.int64).sum())
    nonempty = [g for g in range(n_groups) if len(value_streams[g])]

    if len(nonempty) <= 1:
        flat = (
            value_streams[nonempty[0]].copy() if nonempty else np.zeros(0, np.int32)
        )
    else:
        doc_of_value = np.repeat(
            np.arange(n_docs, dtype=np.int32), lengths.astype(np.int64)
        )
        value_group = groups[doc_of_value]
        flat = np.zeros(total, dtype=np.int32)
        for g in nonempty:
            flat[value_group == g] = value_streams[g]

    if len(refs_small) and np.any(refs_small):
        refs = np.zeros(n_docs, dtype=np.int32)
        refs[groups == GROUP_SMALL] = refs_small
        doc_of_value = np.repeat(
            np.arange(n_docs, dtype=np.int32), lengths.astype(np.int64)
        )
        frame = refs[doc_of_value]
        flat = (flat.view(np.uint32) + frame.view(np.uint32)).view(np.int32)
    return flat, lengths.astype(np.int32)
