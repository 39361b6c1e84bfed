"""Spark encode/decode pipeline with per-file lineage manifest and resume.

Shape mirrors the reference's chunked streaming + incremental-write design
(/root/reference/src/streaming_processor.py:94-263,
 /root/reference/src/aggregator_ocp_aws.py:307-350) re-expressed Spark-first:

  * the "chunk" is an Arrow batch inside ``mapInArrow`` (vectorized, no
    per-row Python — BASELINE.json input_hint);
  * encoded blobs are written TASK-LOCALLY with pyarrow into a staging dir
    — they never cross the Arrow boundary back to the JVM (multi-MB binary
    cells are poison for the JVM parquet writer's dictionary/page machinery,
    and round-tripping them doubles memory traffic). Tasks yield only tiny
    per-file metadata rows. This is the standard object-store sink shape:
    task-local data write + driver-side commit protocol;
  * the resume unit is the INPUT FILE: the driver commits each completed
    file by an atomic directory rename plus an atomically-renamed manifest
    JSON (input snapshot, per-stream codecs, checksum, bytes in/out) — the
    Spark-native form of the reference's per-chunk incremental DB writes
    with exact resume. At cluster scale the same protocol is an Iceberg
    snapshot commit; local FS rename stands in for it here.

Correctness: ``decode_verify`` decodes every partition and asserts
bit-identical token-array equality against the source via a full outer join
on doc_id (the reference's expected-results oracle discipline,
/root/reference/src/expected_results.py:309-431).
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import struct
import time
import uuid
import zlib
from collections.abc import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..codecs.ints import unwrap_zstd, wrap_zstd
from ..codecs.strings import (
    STR_CODEC_NAMES,
    decode_strings_arrow,
    encode_strings_arrow,
)
from .chunk import decode_chunk_lengths, decode_token_chunk, encode_token_chunk
from .tokfilter import (
    build_token_filter,
    merge_token_filters,
    token_filter_bounds,
    token_filter_contains,
    token_filter_contains_any,
)

META_SCHEMA = T.StructType(
    [
        T.StructField("file_stem", T.StringType(), False),
        T.StructField("part_path", T.StringType(), False),
        T.StructField("n_chunks", T.LongType(), False),
        T.StructField("n_docs", T.LongType(), False),
        T.StructField("n_tokens", T.LongType(), False),
        T.StructField("bytes_in", T.LongType(), False),
        T.StructField("bytes_out", T.LongType(), False),
        T.StructField("checksum", T.LongType(), False),
        T.StructField("codecs_json", T.StringType(), False),
        T.StructField("doc_id_min", T.StringType(), True),
        T.StructField("doc_id_max", T.StringType(), True),
        T.StructField("n_tok_min", T.LongType(), True),
        T.StructField("n_tok_max", T.LongType(), True),
        # token VALUE bounds + membership filter (OR of the part's chunk
        # filters) — the driver merges parts per stem and commits the file
        # filter to the _tokfilters sidecar (see encode/tokfilter.py)
        T.StructField("tok_min", T.LongType(), True),
        T.StructField("tok_max", T.LongType(), True),
        T.StructField("tok_filter", T.BinaryType(), True),
    ]
)

_META_ARROW_SCHEMA = pa.schema(
    [
        pa.field("file_stem", pa.string()),
        pa.field("part_path", pa.string()),
        pa.field("n_chunks", pa.int64()),
        pa.field("n_docs", pa.int64()),
        pa.field("n_tokens", pa.int64()),
        pa.field("bytes_in", pa.int64()),
        pa.field("bytes_out", pa.int64()),
        pa.field("checksum", pa.int64()),
        pa.field("codecs_json", pa.string()),
        pa.field("doc_id_min", pa.string()),
        pa.field("doc_id_max", pa.string()),
        pa.field("n_tok_min", pa.int64()),
        pa.field("n_tok_max", pa.int64()),
        pa.field("tok_min", pa.int64()),
        pa.field("tok_max", pa.int64()),
        pa.field("tok_filter", pa.large_binary()),
    ]
)

# parquet column statistics only where a reader predicates: the zone
# columns (row-group pruning needs their min/max) and the small numeric
# metadata. Stats on the BLOB columns are pure footer weight — truncated
# min/max byte strings nobody compares — and at one chunk row per
# row-group they cost more than the zones themselves on small buckets.
_STATS_COLS = [
    "chunk_crc",
    "n_docs",
    "n_tokens",
    "bytes_in",
    "bytes_out",
    "doc_id_min",
    "doc_id_max",
    "n_tok_min",
    "n_tok_max",
    "tok_min",
    "tok_max",
]

_ENC_ARROW_SCHEMA = pa.schema(
    [
        pa.field("chunk_crc", pa.int64()),
        pa.field("n_docs", pa.int64()),
        pa.field("n_tokens", pa.int64()),
        pa.field("bytes_in", pa.int64()),
        pa.field("bytes_out", pa.int64()),
        # chunk-level zone maps: selective decode skips whole chunks by
        # doc_id range or sequence-length range without touching the blobs
        # (parquet row-group stats on these columns prune at the scan
        # already). n_tok bounds serve the training-pipeline's
        # length-bucketed reads (curriculum/packing by length).
        pa.field("doc_id_min", pa.string()),
        pa.field("doc_id_max", pa.string()),
        pa.field("n_tok_min", pa.int32()),
        pa.field("n_tok_max", pa.int32()),
        # distinct sources in the chunk (≲ the source cardinality, ~20):
        # source-filtered reads on the PER-FILE layout prune chunks via
        # arrays_overlap instead of decoding every source blob
        pa.field("src_set", pa.list_(pa.string())),
        # token VALUE zone (row-group stats prune content reads JVM-side)
        # + the chunk's membership filter (tested pre-decode; tokfilter.py)
        pa.field("tok_min", pa.int64()),
        pa.field("tok_max", pa.int64()),
        pa.field("tok_filter", pa.large_binary()),
        pa.field("doc_id_blob", pa.large_binary()),
        pa.field("source_blob", pa.large_binary()),
        pa.field("tokens_blob", pa.large_binary()),
        # extra metadata columns beyond the core schema, as one
        # self-describing container (see _pack_extras)
        pa.field("extras_blob", pa.large_binary()),
        pa.field("meta_json", pa.string()),
    ]
)

# ---------------- extra metadata columns (beyond the core 4-column schema)
#
# A real sequence table carries metadata next to the tokens (language id,
# quality score, crawl timestamp, …). Any column besides the required
# (doc_id, tokens, n_tok, source) is encoded per its type and rides the
# chunk row as one self-describing binary container:
#   u16 n || per column: u8 len(name) | name | u8 kind | u32 len | payload
# kinds: 1 string (string-codec blob), 2 int32 (int-codec blob),
# 3 int64 (child(lo int32 blob) + child(hi int32 blob) — the int codecs are
# 32-bit, so 64-bit values split into two independently-coded planes),
# 4 float64 (zstd-wrapped raw LE bytes). Extras must be non-null, mirroring
# the input_hint's non-null schema.

_X_STRING, _X_INT32, _X_INT64, _X_FLOAT64 = 1, 2, 3, 4
_EXTRA_SPARK_TYPES = {
    "string": _X_STRING,
    "integer": _X_INT32,
    "long": _X_INT64,
    "double": _X_FLOAT64,
}
_U16 = struct.Struct("<H")


def _encode_extra_array(arr: "pa.Array", zstd: bool, zstd_level: int) -> tuple[int, bytes, str]:
    """One extra column chunk → (kind, payload, codec_name)."""
    from ..codecs.ints import encode_ints_auto
    from ..codecs.ints import CODEC_NAMES as _ICN

    if arr.null_count:
        raise ValueError("extra columns must be non-null (matches the core schema)")
    post = (lambda b: wrap_zstd(b, zstd_level)) if zstd else (lambda b: b)
    t = arr.type
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        blob, codec = encode_strings_arrow(arr, zstd_post=zstd)
        return _X_STRING, post(blob), STR_CODEC_NAMES[codec]
    # int32 path only for values that FIT int32: signed ≤32 bits or unsigned
    # ≤16 bits. uint32 would silently wrap in an int32 astype → 64-bit path.
    fits_i32 = pa.types.is_integer(t) and (
        t.bit_width <= 16 or (t.bit_width == 32 and pa.types.is_signed_integer(t))
    )
    if fits_i32:
        v = arr.to_numpy(zero_copy_only=False).astype(np.int32, copy=False)
        blob, codec = encode_ints_auto(v)
        return _X_INT32, post(blob), _ICN[codec]
    if pa.types.is_integer(t):  # 64-bit (and uint32): two 32-bit planes
        if t.bit_width == 64 and not pa.types.is_signed_integer(t):
            raise ValueError("uint64 extras unsupported (values may exceed int64)")
        v = arr.to_numpy(zero_copy_only=False).astype(np.int64, copy=False)
        lo = (v & 0xFFFFFFFF).astype(np.uint32).view(np.int32)
        hi = (v >> 32).astype(np.int32)
        lo_blob, lo_c = encode_ints_auto(lo)
        hi_blob, hi_c = encode_ints_auto(hi)
        payload = _child(post(lo_blob)) + _child(post(hi_blob))
        return _X_INT64, payload, f"{_ICN[lo_c]}+{_ICN[hi_c]}"
    if pa.types.is_float64(t) or pa.types.is_float32(t):
        # self-describing container (flag byte 0 raw / 1 zstd / 2 ALP /
        # 3 ALPrd): raw float bytes are arbitrary, so an unwrapped
        # incompressible stream starting with the ZSTD codec id would
        # misparse if fed through unwrap_zstd. Both ALP modes
        # (codecs/floats.py) compete on exact encoded size like every
        # other codec in the stack — decimal columns win big through the
        # int planes, high-precision columns through the front-bit
        # dictionary, and anything else falls back.
        from ..codecs.floats import encode_floats_alp, encode_floats_alprd

        v = arr.cast(pa.float64()).to_numpy(zero_copy_only=False)
        raw = v.tobytes()
        z = wrap_zstd(raw, zstd_level if zstd else 1)
        cands = [(len(raw) + 1, b"\x00" + raw, "f64_raw")]
        if not (z is raw or z == raw):  # incompressible: wrap returns input
            cands.append((len(z) + 1, b"\x01" + z, "f64_zstd"))
        alp = encode_floats_alp(v, zstd, zstd_level)
        if alp is not None:
            cands.append((len(alp[0]) + 1, b"\x02" + alp[0], alp[1]))
        alprd = encode_floats_alprd(v, zstd, zstd_level)
        if alprd is not None:
            cands.append((len(alprd[0]) + 1, b"\x03" + alprd[0], alprd[1]))
        _, payload, name = min(cands, key=lambda c: c[0])
        return _X_FLOAT64, payload, name
    raise ValueError(f"unsupported extra column type: {t}")


def _child(b: bytes) -> bytes:
    return struct.pack("<I", len(b)) + b


def _pack_extras(
    part: "pa.RecordBatch", names: list[str], zstd: bool, zstd_level: int, meta: dict
) -> tuple[bytes, int]:
    """(container blob, raw input byte count) for the extra columns."""
    out = [_U16.pack(len(names))]
    raw_bytes = 0
    for name in names:
        idx = part.schema.get_field_index(name)
        if idx < 0:  # column(-1) would silently return the LAST column
            raise ValueError(
                f"extra column {name!r} missing from an input batch — "
                "heterogeneous input schemas are not supported"
            )
        arr = part.column(idx)
        if pa.types.is_string(arr.type) or pa.types.is_large_string(arr.type):
            raw_bytes += _utf8_size(arr)
        else:
            raw_bytes += (arr.type.bit_width // 8) * len(arr)
        kind, payload, codec = _encode_extra_array(arr, zstd, zstd_level)
        meta["streams"][f"extra:{name}"] = codec
        nb = name.encode("utf-8")
        out.append(
            bytes([len(nb)]) + nb + bytes([kind]) + struct.pack("<I", len(payload)) + payload
        )
    return b"".join(out), raw_bytes


def _unpack_extras(blob: bytes) -> list[tuple[str, int, bytes]]:
    mv = memoryview(blob)
    (n,) = _U16.unpack_from(mv, 0)
    pos = 2
    out = []
    for _ in range(n):
        ln = mv[pos]
        name = bytes(mv[pos + 1 : pos + 1 + ln]).decode("utf-8")
        kind = mv[pos + 1 + ln]
        (plen,) = struct.unpack_from("<I", mv, pos + 2 + ln)
        payload = bytes(mv[pos + 6 + ln : pos + 6 + ln + plen])
        pos += 6 + ln + plen
        out.append((name, kind, payload))
    return out


def _decode_extra(kind: int, payload: bytes, n: int):
    if kind == _X_STRING:
        return decode_strings_arrow(unwrap_zstd(payload))
    if kind == _X_INT32:
        from ..codecs.ints import decode_ints

        return pa.array(decode_ints(unwrap_zstd(payload)), type=pa.int32())
    if kind == _X_INT64:
        from ..codecs.ints import decode_ints

        mv = memoryview(payload)
        (llen,) = struct.unpack_from("<I", mv, 0)
        lo = decode_ints(unwrap_zstd(bytes(mv[4 : 4 + llen])))
        (hlen,) = struct.unpack_from("<I", mv, 4 + llen)
        hi = decode_ints(unwrap_zstd(bytes(mv[8 + llen : 8 + llen + hlen])))
        v = (hi.astype(np.int64) << 32) | (lo.view(np.uint32).astype(np.int64))
        return pa.array(v, type=pa.int64())
    if kind == _X_FLOAT64:
        if payload[0] == 2:
            from ..codecs.floats import decode_floats_alp

            return pa.array(decode_floats_alp(payload[1:]), type=pa.float64())
        if payload[0] == 3:
            from ..codecs.floats import decode_floats_alprd

            return pa.array(decode_floats_alprd(payload[1:]), type=pa.float64())
        raw = payload[1:] if payload[0] == 0 else unwrap_zstd(payload[1:])
        return pa.array(np.frombuffer(raw, dtype=np.float64), type=pa.float64())
    raise ValueError(f"unknown extra kind {kind}")

DECODED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("tokens", T.ArrayType(T.IntegerType()), False),
        T.StructField("n_tok", T.IntegerType(), False),
        T.StructField("source", T.StringType(), False),
    ]
)

_SPARK_T_OF = {
    "string": T.StringType(),
    "integer": T.IntegerType(),
    "long": T.LongType(),
    "double": T.DoubleType(),
}


def _decoded_schema(
    extras: list[tuple[str, str]] | None = None,
    columns: list[str] | None = None,
) -> T.StructType:
    fields = list(DECODED_SCHEMA.fields) + [
        T.StructField(n, _SPARK_T_OF[t], False) for n, t in (extras or [])
    ]
    if columns is not None:
        fields = [f for f in fields if f.name in set(columns)]
    return T.StructType(fields)


def _stem(path: str) -> str:
    return os.path.splitext(os.path.basename(path))[0]


def _utf8_payload(arr: "pa.Array") -> bytes:
    """Concatenated utf-8 bytes of a StringArray, straight from its buffers."""
    arr = arr.cast(pa.string())
    buf = arr.buffers()
    n = len(arr)
    if n == 0 or buf[2] is None:
        return b""
    offsets = np.frombuffer(buf[1], dtype=np.int32, count=n + 1, offset=arr.offset * 4)
    return bytes(memoryview(buf[2])[int(offsets[0]) : int(offsets[-1])])


def _utf8_size(arr: "pa.Array") -> int:
    arr = arr.cast(pa.string())
    buf = arr.buffers()
    n = len(arr)
    if n == 0 or buf[2] is None:
        return 0
    offsets = np.frombuffer(buf[1], dtype=np.int32, count=n + 1, offset=arr.offset * 4)
    return int(offsets[-1] - offsets[0])


def _encode_chunk_row(
    part: pa.RecordBatch, zstd: bool, zstd_level: int = 3, extras: list[str] | None = None
) -> tuple[dict, dict]:
    """Encode one Arrow batch → (metadata row dict, codec meta).

    The tokens ListArray flattens ZERO-COPY (values buffer + value_lengths);
    no per-row numpy arrays are ever materialized — this is the difference
    between an Arrow-native kernel and a pandas row loop at 100 TB."""
    tok_col = part.column(part.schema.get_field_index("tokens"))
    if tok_col.null_count:
        raise ValueError(
            "tokens column contains NULLs — the sequence-table schema is "
            "non-null (BASELINE.json input_hint); reject or repair upstream"
        )
    flat = tok_col.flatten().to_numpy(zero_copy_only=False).astype(np.int32, copy=False)
    lengths = tok_col.value_lengths().to_numpy(zero_copy_only=False).astype(
        np.int32, copy=False
    )
    n_tok = part.column(part.schema.get_field_index("n_tok")).to_numpy(
        zero_copy_only=False
    )
    # invariant from input_hint: n_tok == len(tokens); enforced at encode time
    if not np.array_equal(n_tok.astype(np.int32), lengths):
        raise ValueError("n_tok invariant violated: n_tok != len(tokens) in some row")
    tokens_blob, meta = encode_token_chunk(flat, lengths, zstd=zstd, zstd_level=zstd_level)
    # Arrow-native string encode: no per-row Python strings (object churn
    # collapses throughput at high task concurrency — see codecs.strings)
    did_arr = part.column(part.schema.get_field_index("doc_id"))
    src_arr = part.column(part.schema.get_field_index("source"))
    did_blob, did_codec = encode_strings_arrow(did_arr, zstd_post=zstd)
    src_blob, src_codec = encode_strings_arrow(src_arr, zstd_post=zstd)
    if zstd:
        did_blob, src_blob = wrap_zstd(did_blob, zstd_level), wrap_zstd(src_blob, zstd_level)
    meta["streams"]["doc_id"] = STR_CODEC_NAMES[did_codec]
    meta["streams"]["source"] = STR_CODEC_NAMES[src_codec]
    extras_blob, extra_bytes = _pack_extras(part, extras or [], zstd, zstd_level, meta)
    did_bytes = _utf8_size(did_arr)
    src_bytes = _utf8_size(src_arr)
    bytes_in = int(4 * len(flat) + 4 * len(lengths) + did_bytes + src_bytes + extra_bytes)
    bytes_out = len(tokens_blob) + len(did_blob) + len(src_blob) + len(extras_blob)
    crc = zlib.crc32(flat.tobytes()) ^ zlib.crc32(_utf8_payload(did_arr))
    if extras:
        crc ^= zlib.crc32(extras_blob)
    import pyarrow.compute as pc

    mm = pc.min_max(did_arr).as_py() if len(did_arr) else {"min": "", "max": ""}
    # token-membership filter + value zone (tokfilter.py): prunes
    # token-content reads at the row-group (zones) and decode (bitmap)
    # levels; deterministic, so resume reproduces it byte-identically.
    # SIZE GUARD: a tiny chunk (small salted buckets, last slivers) would
    # pay a disproportionate bitmap — keep the filter only while it costs
    # ≲6% of the encoded token stream (zones are 16 bytes, always kept);
    # a dropped filter is a NULL the read path treats conservatively.
    tok_filter = build_token_filter(flat)
    t_lo, t_hi = token_filter_bounds(tok_filter)
    if len(tok_filter) > max(512, len(tokens_blob) // 16):
        tok_filter = None
    row = {
        "chunk_crc": crc,
        "doc_id_min": mm["min"],
        "doc_id_max": mm["max"],
        "n_tok_min": int(lengths.min()) if len(lengths) else 0,
        "n_tok_max": int(lengths.max()) if len(lengths) else 0,
        "tok_min": t_lo,
        "tok_max": t_hi,
        "tok_filter": tok_filter,
        "src_set": sorted(pc.unique(src_arr.cast(pa.string())).to_pylist()),
        "n_docs": len(lengths),
        "n_tokens": len(flat),
        "bytes_in": bytes_in,
        "bytes_out": bytes_out,
        "doc_id_blob": did_blob,
        "source_blob": src_blob,
        "tokens_blob": tokens_blob,
        "extras_blob": extras_blob,
        "meta_json": json.dumps(meta["streams"], sort_keys=True),
    }
    return row, meta


def _split_by_file(batch: pa.RecordBatch, key: str = "_file") -> Iterator[tuple[str, pa.RecordBatch]]:
    """Split a batch at commit-key boundaries (batches straddle keys only at
    split edges; the common case is a single slice, zero-copy)."""
    files = batch.column(batch.schema.get_field_index(key))
    if len(files) == 0:
        return
    first, last = files[0].as_py(), files[len(files) - 1].as_py()
    if first == last:
        yield first, batch
        return
    arr = np.asarray(files.to_pylist(), dtype=object)
    change = np.flatnonzero(arr[1:] != arr[:-1])
    starts = np.concatenate(([0], change + 1, [len(arr)]))
    for i in range(len(starts) - 1):
        s, e = int(starts[i]), int(starts[i + 1])
        yield str(arr[s]), batch.slice(s, e - s)


def _make_encode_fn(
    staging_dir: str,
    zstd: bool,
    zstd_level: int = 3,
    key: str = "_file",
    extras: list[str] | None = None,
):
    stem_of = _stem if key == "_file" else (lambda s: s)

    def encode_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        per_file: dict[str, list[dict]] = {}
        for batch in batches:
            if batch.num_rows == 0:
                continue
            for fname, part in _split_by_file(batch, key):
                row, _ = _encode_chunk_row(part, zstd, zstd_level, extras=extras)
                per_file.setdefault(stem_of(str(fname)), []).append(row)
        out_rows = []
        for stem, rows in per_file.items():
            tbl = pa.Table.from_pylist(rows, schema=_ENC_ARROW_SCHEMA)
            part_dir = os.path.join(staging_dir, f"file_stem={stem}")
            os.makedirs(part_dir, exist_ok=True)
            # blobs are already codec/zstd-compressed → plain pages, no dict
            part_path = os.path.join(part_dir, f"part-{uuid.uuid4().hex}.parquet")
            pq.write_table(
                tbl, part_path, compression="none", use_dictionary=False,
                write_statistics=_STATS_COLS,
            )
            codecs: dict[str, int] = {}
            for r in rows:
                for stream, codec in json.loads(r["meta_json"]).items():
                    codecs[f"{stream}:{codec}"] = codecs.get(f"{stream}:{codec}", 0) + 1
            checksum = 0
            for r in rows:
                checksum ^= r["chunk_crc"]
            out_rows.append(
                {
                    "file_stem": stem,
                    "part_path": part_path,
                    "n_chunks": len(rows),
                    "n_docs": sum(r["n_docs"] for r in rows),
                    "n_tokens": sum(r["n_tokens"] for r in rows),
                    "bytes_in": sum(r["bytes_in"] for r in rows),
                    "bytes_out": sum(r["bytes_out"] for r in rows),
                    "checksum": checksum,
                    "codecs_json": json.dumps(codecs, sort_keys=True),
                    "doc_id_min": min((r["doc_id_min"] for r in rows), default=None),
                    "doc_id_max": max((r["doc_id_max"] for r in rows), default=None),
                    "n_tok_min": min((r["n_tok_min"] for r in rows), default=None),
                    "n_tok_max": max((r["n_tok_max"] for r in rows), default=None),
                    # non-empty token zones only (hi < lo marks an empty
                    # chunk, which must not poison the part bounds)
                    "tok_min": min(
                        (r["tok_min"] for r in rows if r["tok_max"] >= r["tok_min"]),
                        default=None,
                    ),
                    "tok_max": max(
                        (r["tok_max"] for r in rows if r["tok_max"] >= r["tok_min"]),
                        default=None,
                    ),
                    # a part-level filter is only sound if EVERY chunk
                    # contributed one — a missing chunk in the OR would be
                    # a false negative (silently dropped rows downstream)
                    "tok_filter": (
                        merge_token_filters([r["tok_filter"] for r in rows])
                        if all(r["tok_filter"] is not None for r in rows)
                        else None
                    ),
                }
            )
        if out_rows:
            yield pa.RecordBatch.from_pylist(out_rows, schema=_META_ARROW_SCHEMA)

    return encode_batches


_ARROW_OF = {
    "string": pa.string(), "integer": pa.int32(),
    "long": pa.int64(), "double": pa.float64(),
}


def _decode_cols(extras: list[tuple[str, str]] | None = None) -> list[tuple[str, "pa.DataType"]]:
    return [
        ("doc_id", pa.string()),
        ("tokens", pa.list_(pa.int32())),
        ("n_tok", pa.int32()),
        ("source", pa.string()),
    ] + [(n, _ARROW_OF[t]) for n, t in (extras or [])]


_SEG_PAYLOAD_CAP = 1 << 30  # utf8-cast segment payload bound (tests shrink it)


def _emit_record_batches(
    out: dict, schema: "pa.Schema"
) -> Iterator[pa.RecordBatch]:
    """Yield RecordBatches matching ``schema`` (utf8 string fields).

    decode_strings_arrow falls back to a large_utf8 array when a chunk's
    concatenated payload overflows int32 offsets (≥2 GiB). Such an array
    can't go into a utf8-schema batch directly, so the row set is split at
    boundaries chosen by walking the large arrays' OFFSET buffers — each
    segment's payload is guaranteed ≤1 GiB, so the utf8 cast can't overflow
    even under heavily skewed row sizes (equal-count segments could still
    exceed int32 offsets when a few rows carry most of the bytes — r3
    ADVICE). The common (<2 GiB) path emits one batch with zero extra
    work."""
    arrays = [out[name] for name in schema.names]
    large = [i for i, a in enumerate(arrays) if pa.types.is_large_string(a.type)]
    if not large:
        yield pa.RecordBatch.from_arrays(arrays, schema=schema)
        return
    n = len(arrays[0])
    cap = _SEG_PAYLOAD_CAP  # ≤1 GiB payload per segment per column
    # per-row payload = sum over large columns; boundary = last row where
    # cumulative payload since the segment start stays under cap
    per_row = np.zeros(n, dtype=np.int64)
    for i in large:
        a = arrays[i]
        offs = np.frombuffer(
            a.buffers()[1], dtype=np.int64, count=n + 1, offset=a.offset * 8
        )
        per_row += offs[1:] - offs[:-1]
    cum = np.cumsum(per_row)  # ONE pass; per-segment cut via searchsorted
    s = 0
    while s < n:
        base = cum[s - 1] if s else 0
        ln = int(np.searchsorted(cum, base + cap, side="right")) - s
        ln = max(1, ln)  # a single >cap row still ships alone (cast may
        # legitimately fail only if ONE row exceeds 2 GiB — impossible for
        # utf8 input, which this data was on encode)
        cols = []
        for i, a in enumerate(arrays):
            sl = a.slice(s, ln)
            if i in large:
                sl = sl.cast(pa.string())
            cols.append(sl)
        yield pa.RecordBatch.from_arrays(cols, schema=schema)
        s += ln


def _token_id_list(contains_token) -> list[int]:
    """Normalize the ``contains_token`` argument (single id or an ANY-match
    id set) to a sorted de-duplicated int list."""
    if isinstance(contains_token, (list, tuple, set, frozenset)):
        ids = sorted({int(t) for t in contains_token})
        if not ids:
            raise ValueError("contains_token list must be non-empty")
    else:
        ids = [int(contains_token)]
    # tokens are int32 by schema: an out-of-range id silently wrapped on
    # older numpy (np.asarray(..., int32)) and raised OverflowError deep in
    # the kernel on numpy>=2 — fail fast with a clear message instead
    # (r6 ADVICE)
    bad = [t for t in ids if not (-(1 << 31) <= t < (1 << 31))]
    if bad:
        raise ValueError(
            f"contains_token ids outside int32 range (tokens are int32; "
            f"such ids can never occur): {bad[:5]}"
        )
    return ids


def _make_decode_fn(
    extras: list[tuple[str, str]] | None = None,
    columns: list[str] | None = None,
    contains_token: int | list[int] | None = None,
):
    """Decode kernel; ``extras`` = [(name, spark_type_name)] appended after
    the core columns (must match what the encode job recorded in layout).
    ``columns`` projects the decode itself: blobs of unselected columns are
    never parsed (n_tok without tokens reads only the lengths stream —
    decode_chunk_lengths). ``contains_token`` (id or ANY-match id list)
    skips chunks whose membership bitmap proves every id absent BEFORE any
    blob is parsed (tokfilter.py)."""
    extras = extras or []
    all_cols = _decode_cols(extras)
    sel = [c for c, _ in all_cols] if columns is None else list(columns)
    schema = pa.schema([pa.field(n, t) for n, t in all_cols if n in sel])
    want = set(sel)
    want_extras = [(n, t) for n, t in extras if n in want]
    tok_ids = None if contains_token is None else _token_id_list(contains_token)
    tok_ids_arr = None if tok_ids is None else np.asarray(tok_ids, dtype=np.int32)

    def decode_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            d = batch.to_pylist()  # a few chunk rows per batch — not hot
            for row in d:
                if tok_ids is not None:
                    filt = row.get("tok_filter")
                    # NULL filter (pre-upgrade chunk) → decode conservatively
                    if filt is not None and not token_filter_contains_any(
                        bytes(filt), tok_ids
                    ):
                        continue
                out: dict[str, pa.Array] = {}
                if "tokens" in want:
                    flat, lengths = decode_token_chunk(bytes(row["tokens_blob"]))
                    offsets = np.zeros(len(lengths) + 1, dtype=np.int32)
                    np.cumsum(lengths, out=offsets[1:])
                    if tok_ids is not None:
                        # per-doc membership via one cumsum (empty-doc-safe,
                        # unlike reduceat at repeated offsets): if NO doc in
                        # the chunk holds any wanted id, skip the string
                        # decodes and emit nothing — for a rare-token read
                        # most bitmap-surviving chunks end here
                        hit = (
                            flat == tok_ids_arr[0]
                            if len(tok_ids) == 1
                            else np.isin(flat, tok_ids_arr)
                        )
                        cs = np.zeros(len(flat) + 1, dtype=np.int64)
                        np.cumsum(hit, out=cs[1:])
                        doc_hit = cs[offsets[1:]] > cs[offsets[:-1]]
                        if not doc_hit.any():
                            continue
                    out["tokens"] = pa.ListArray.from_arrays(  # zero-copy
                        pa.array(offsets, type=pa.int32()),
                        pa.array(flat, type=pa.int32()),
                    )
                    out["n_tok"] = pa.array(lengths, type=pa.int32())
                elif "n_tok" in want:
                    lengths = decode_chunk_lengths(bytes(row["tokens_blob"]))
                    out["n_tok"] = pa.array(lengths, type=pa.int32())
                if "doc_id" in want:
                    out["doc_id"] = decode_strings_arrow(bytes(row["doc_id_blob"]))
                if "source" in want:
                    out["source"] = decode_strings_arrow(bytes(row["source_blob"]))
                if want_extras:
                    by_name = {
                        name: (kind, payload)
                        for name, kind, payload in _unpack_extras(
                            bytes(row["extras_blob"])
                        )
                    }
                    for name, _t in want_extras:
                        kind, payload = by_name[name]
                        out[name] = _decode_extra(kind, payload, 0)
                yield from _emit_record_batches(out, schema)

    return decode_batches


def _decode_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    yield from _make_decode_fn()(batches)


# ----------------------------------------------------------------- manifest


def _manifest_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "_manifest")


def _manifest_paths(out_dir: str) -> tuple[list[str], list[str]]:
    """(segments ascending, loose per-file JSONs) — the ONE listing whose
    rules (segment glob order, underscore exclusion for job-level
    summaries) every manifest reader shares; read_manifest, the
    compactors, and manifest_df must agree on it byte for byte."""
    mdir = _manifest_dir(out_dir)
    segs = sorted(glob.glob(os.path.join(mdir, "_compacted-*.jsonl")))
    loose = [
        p
        for p in glob.glob(os.path.join(mdir, "*.json"))
        if not os.path.basename(p).startswith("_")
    ]
    return segs, loose


def read_manifest(out_dir: str) -> dict[str, dict]:
    """Committed records: compacted JSONL segments first (ascending), then
    loose per-file JSONs (newer, override by stem)."""
    records = {}
    segs, loose = _manifest_paths(out_dir)
    for p in segs:
        with open(p) as f:
            for line in f:
                rec = json.loads(line)
                records[rec["file_stem"]] = rec
    for p in loose:
        with open(p) as f:
            rec = json.load(f)
        records[rec["file_stem"]] = rec
    return records


# driver-vs-join manifest pruning switch: below this many bytes of
# manifest segments the keep-list loop + In-filter is cheapest (one small
# file read, no extra Spark jobs); above it the list itself is the scale
# problem (a multi-GB In-expression and a driver loop over 40M records at
# the 10^12-sequence target) and pruning moves into the cluster as a
# filter-manifest semi-join
MANIFEST_JOIN_BYTES = 64 * 1024 * 1024

# segment byte-range split size for the distributed manifest parse
# (module-level so tests can shrink it to force many splits on small files)
MANIFEST_SPLIT_BYTES = 32 * 1024 * 1024

# only the fields pruning needs — an explicit schema so spark.read.json
# never has to infer across records with absent/null bounds
_MANIFEST_PRUNE_SCHEMA = (
    "file_stem string, doc_id_min string, doc_id_max string, "
    "n_tok_min bigint, n_tok_max bigint, "
    "tok_min bigint, tok_max bigint, tok_filter boolean"
)


_MANIFEST_PRUNE_FIELDS = [
    "file_stem",
    "doc_id_min",
    "doc_id_max",
    "n_tok_min",
    "n_tok_max",
    "tok_min",
    "tok_max",
    "tok_filter",
]


def manifest_df(spark: SparkSession, out_dir: str) -> DataFrame:
    """The manifest as a DataFrame — the cluster-scale form of
    ``read_manifest``. At the 10^12-sequence target (~40M committed
    records) the manifest is itself a dataset: only the PATH list is
    driver-side (segments + loose files — the same listing read_manifest
    does); the record BYTES are parsed by executors, one task per file
    (``spark.read.json`` can't be used here — Spark's file index silently
    ignores ``_``-prefixed paths, which is exactly why the segments carry
    that prefix: the DATA scan must never pick them up). The
    loose-overrides-segment / later-segment-overrides-earlier precedence
    of ``read_manifest`` is reproduced with a per-stem max-precedence
    window (loose = "1", segments = "0:" + their zero-padded basename, so
    lexical order IS precedence order). The window is one shuffle over
    metadata-sized rows — the same cost class as Iceberg's distributed
    manifest-list planning."""
    import pandas as pd

    segs, loose = _manifest_paths(out_dir)
    # segments are split by BYTE RANGE (~32 MB, aligned to line boundaries
    # by the reader) so even the post-compaction shape — ONE segment
    # holding every record — parses in parallel with bounded task memory,
    # the text-input-split discipline. Loose JSONs are whole-file splits.
    split_bytes = MANIFEST_SPLIT_BYTES
    splits: list[tuple[str, int, int, str]] = []
    for p in segs:
        size = os.path.getsize(p)
        prio = "0:" + os.path.basename(p)
        for start in range(0, max(size, 1), split_bytes):
            splits.append((p, start, min(start + split_bytes, size), prio))
    splits += [(p, 0, -1, "1") for p in loose]
    if not splits:
        return spark.createDataFrame([], _MANIFEST_PRUNE_SCHEMA)
    fields = list(_MANIFEST_PRUNE_FIELDS)

    def parse(batches) -> Iterator[pd.DataFrame]:
        def emit(recs: list[dict], prio: str, ords: list[int]) -> pd.DataFrame:
            return pd.DataFrame(
                {
                    **{k: [r.get(k) for r in recs] for k in fields},
                    "_prio": prio,
                    "_ord": ords,
                }
            )

        for b in batches:
            for path, start, end, prio in zip(
                b["path"], b["start"], b["end"], b["_prio"]
            ):
                if end < 0:  # loose per-file JSON: one record
                    with open(path) as fh:
                        yield emit([json.load(fh)], prio, [0])
                    continue
                # JSONL byte-range split: seek, drop the partial line the
                # PREVIOUS split will finish, stream until past `end`
                # (records are streamed in bounded chunks, never the
                # whole segment at once). _ord = the record's line-start
                # byte offset: a duplicate stem WITHIN one segment (equal
                # _prio) must resolve later-line-wins exactly like
                # read_manifest — an untied row_number was
                # nondeterministic there (r6 ADVICE)
                with open(path, "rb") as fh:
                    fh.seek(start)
                    if start:
                        fh.readline()
                    recs: list[dict] = []
                    ords: list[int] = []
                    while True:
                        pos = fh.tell()
                        if pos > end:
                            break
                        line = fh.readline()
                        if not line:
                            break
                        if line.strip():
                            recs.append(json.loads(line))
                            ords.append(pos)
                        if len(recs) >= 65_536:
                            yield emit(recs, prio, ords)
                            recs, ords = [], []
                    if recs:
                        yield emit(recs, prio, ords)

    # one task per split up to ~4x core count — a backlog of loose JSONs
    # (many tiny files) batches into a bounded task count
    n_tasks = min(len(splits), spark.sparkContext.defaultParallelism * 4)
    man = (
        spark.createDataFrame(
            splits, "path string, start bigint, end bigint, _prio string"
        )
        .repartition(n_tasks)
        .mapInPandas(
            parse, schema=_MANIFEST_PRUNE_SCHEMA + ", _prio string, _ord bigint"
        )
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("file_stem").orderBy(
        F.col("_prio").desc(), F.col("_ord").desc()
    )
    return (
        man.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_prio", "_ord")
    )


def _keep_stems_df(
    spark: SparkSession,
    out_dir: str,
    want_lo: str | None,
    want_hi: str | None,
    n_tok_range: tuple[int, int] | None,
    tok_ids: list[int] | None,
) -> DataFrame:
    """Distributed file pruning: the manifest DataFrame filtered by the
    same conservative-keep zone predicates as the driver loops, plus an
    executor-side sidecar probe for token-content reads (each surviving
    stem's ``_tokfilters/<stem>.bin`` is opened where the task runs — on
    a cluster that is the shared object store, and the probe is one small
    read per FILE, the manifest-plane unit of IO). Returns the stems that
    survive every requested prune; ``read_decoded`` left-semi-joins the
    chunk frame against it instead of materializing a driver keep-list."""
    man = manifest_df(spark, out_dir)
    if want_lo is not None:
        man = man.filter(
            F.col("doc_id_min").isNull()
            | F.col("doc_id_max").isNull()
            | ((F.col("doc_id_max") >= want_lo) & (F.col("doc_id_min") <= want_hi))
        )
    if n_tok_range:
        man = man.filter(
            F.col("n_tok_min").isNull()
            | F.col("n_tok_max").isNull()
            | (
                (F.col("n_tok_max") >= n_tok_range[0])
                & (F.col("n_tok_min") <= n_tok_range[1])
            )
        )
    if tok_ids:
        zone = None
        for t in tok_ids:
            c = (F.col("tok_min") <= t) & (F.col("tok_max") >= t)
            zone = c if zone is None else (zone | c)
        man = man.filter(F.col("tok_min").isNull() | F.col("tok_max").isNull() | zone)
        probe_ids = list(tok_ids)

        def probe(batches):
            def bound(v):  # null-tolerant: None or NaN → no bound
                return None if v is None or v != v else int(v)

            for pdf in batches:
                keep = []
                for stem, has_filter, t_lo, t_hi in zip(
                    pdf["file_stem"], pdf["tok_filter"], pdf["tok_min"], pdf["tok_max"]
                ):
                    # probe the sidecar ONLY when the record's flag is a
                    # definite True — exactly the driver path's
                    # `if rec.get("tok_filter")` rule. A null flag can
                    # reach pandas as None, NaN (truthy float!) or pd.NA
                    # (raises on bool()); all mean "pre-filter encode:
                    # conservative keep" (r6 ADVICE)
                    try:
                        probe_it = bool(has_filter) and has_filter == has_filter
                    except (TypeError, ValueError):  # pd.NA
                        probe_it = False
                    if not probe_it:
                        keep.append(True)
                        continue
                    # probe only the ids inside THIS file's zone — the same
                    # candidate subset the driver path uses, so a hashed-
                    # mode false positive on an out-of-zone id can't keep a
                    # file the driver path (and token_read_stats) prunes
                    lo, hi = bound(t_lo), bound(t_hi)
                    cand = (
                        probe_ids
                        if lo is None or hi is None
                        else [t for t in probe_ids if lo <= t <= hi]
                    )
                    sidecar = read_token_sidecar(out_dir, stem)
                    keep.append(
                        sidecar is None
                        or token_filter_contains_any(sidecar, cand)
                    )
                yield pdf.loc[keep, ["file_stem"]]

        return man.select("file_stem", "tok_filter", "tok_min", "tok_max").mapInPandas(
            probe, schema="file_stem string"
        )
    return man.select("file_stem")


def compact_manifest(out_dir: str) -> dict:
    """Fold loose per-file manifest JSONs into one JSONL segment.

    The per-file JSON stays the atomic COMMIT unit (its rename is the
    transaction); compaction is a maintenance pass so that resume's listing
    cost is O(segments + files since last compaction), not O(every file
    ever encoded) — at the 10^12-sequence target (~40M input files) an
    uncompacted listing would dominate job startup. Iceberg analog: the
    manifest-list absorbing per-snapshot data-file manifests.

    Crash-safe: the merged segment is renamed into place before absorbed
    loose JSONs / older segments are unlinked; a crash in between only
    leaves redundant records whose merge (loose overrides segment, later
    segment overrides earlier) is idempotent.
    """
    mdir = _manifest_dir(out_dir)
    os.makedirs(mdir, exist_ok=True)
    old_segments, loose = _manifest_paths(out_dir)
    records = read_manifest(out_dir)
    if not loose and len(old_segments) <= 1:
        return {"records": len(records), "absorbed": 0, "segments": len(old_segments)}
    next_idx = (
        int(os.path.basename(old_segments[-1]).split("-")[1].split(".")[0]) + 1
        if old_segments
        else 0
    )
    seg = os.path.join(mdir, f"_compacted-{next_idx:06d}.jsonl")
    tmp = seg + ".tmp"
    with open(tmp, "w") as f:
        for stem in sorted(records):
            f.write(json.dumps(records[stem], sort_keys=True) + "\n")
    os.rename(tmp, seg)
    for p in loose + old_segments:
        os.unlink(p)
    return {"records": len(records), "absorbed": len(loose), "segments": 1}


def compact_encoded(out_dir: str, max_parts: int = 1) -> dict:
    """Merge multi-part encoded stems into one part each — the small-file
    maintenance pass. Spark splits a large input file across tasks, so one
    stem can hold several small parquet parts; at the 10^12-sequence target
    that's the classic small-file problem on the READ side (footer/open
    cost per part). Chunk rows are opaque, already-encoded blobs, so
    compaction is a driver-side pyarrow concat — NO re-encode, checksums
    unchanged.

    Crash safety (dir-swap protocol): the merged dir is staged under a
    hidden name (Spark's file index ignores dot/underscore paths), then
    ``stem → .old`` and ``.staged → stem`` renames swap it in. A crash
    between the two renames leaves ``.compact-old-<stem>`` without a live
    stem dir; the ROLLBACK SWEEP at the start of every compact_encoded run
    restores it (same recovery-on-next-maintenance model as the manifest
    compactor). The per-stem manifest record is re-written (loose JSON
    overrides any compacted segment) with the new part count.
    """
    data_dir = os.path.join(out_dir, "data")
    # rollback sweep: restore any stem whose swap was interrupted
    rolled_back = 0
    for old in glob.glob(os.path.join(data_dir, ".compact-old-*")):
        stem = os.path.basename(old)[len(".compact-old-") :]
        live = os.path.join(data_dir, f"file_stem={stem}")
        if not os.path.exists(live):
            os.rename(old, live)
            rolled_back += 1
        else:
            shutil.rmtree(old)
    for stale in glob.glob(os.path.join(data_dir, ".compact-staged-*")):
        shutil.rmtree(stale)

    records = read_manifest(out_dir)
    mdir = _manifest_dir(out_dir)
    compacted = 0
    for stem_dir in sorted(glob.glob(os.path.join(data_dir, "file_stem=*"))):
        stem = os.path.basename(stem_dir).split("=", 1)[1]
        parts = sorted(glob.glob(os.path.join(stem_dir, "*.parquet")))
        if len(parts) <= max_parts:
            continue
        tbl = pa.concat_tables([pq.read_table(p) for p in parts])
        staged = os.path.join(data_dir, f".compact-staged-{stem}")
        os.makedirs(staged, exist_ok=True)
        pq.write_table(
            tbl,
            os.path.join(staged, f"part-{uuid.uuid4().hex}.parquet"),
            compression="none",
            use_dictionary=False,
            write_statistics=[c for c in _STATS_COLS if c in tbl.schema.names],
        )
        old = os.path.join(data_dir, f".compact-old-{stem}")
        os.rename(stem_dir, old)
        os.rename(staged, stem_dir)
        shutil.rmtree(old)
        if stem in records:
            rec = dict(records[stem])
            rec["n_parts"] = 1
            rec["compacted_at"] = time.time()
            tmp = os.path.join(mdir, f".{stem}.json.tmp")
            with open(tmp, "w") as f:
                json.dump(rec, f, sort_keys=True)
            os.rename(tmp, os.path.join(mdir, f"{stem}.json"))
        compacted += 1
    return {"stems_compacted": compacted, "rolled_back": rolled_back}


def _snapshot(path: str) -> dict:
    """Input-file snapshot for exact resume: size AND mtime, so an in-place
    rewrite to the same byte count still invalidates the commit."""
    st = os.stat(path)
    return {"size": st.st_size, "mtime_ns": st.st_mtime_ns, "path": path}


def _snapshot_matches(rec: dict, path: str) -> bool:
    snap = rec.get("snapshot", {})
    st = os.stat(path)
    return snap.get("size") == st.st_size and snap.get("mtime_ns") == st.st_mtime_ns


_LAYOUT_FILE = "_layout.json"


def write_layout(out_dir: str, layout: str, extras: list[list[str]] | None = None) -> None:
    """Record the physical layout (per-file | by-source) and the extra
    metadata columns [(name, spark_type)] in the manifest dir; read_decoded
    uses the layout to decide whether file_stem carries the source prefix
    and the extras list to assemble the decoded schema (atomic rename, same
    protocol as every other manifest write)."""
    mdir = _manifest_dir(out_dir)
    os.makedirs(mdir, exist_ok=True)
    tmp = os.path.join(mdir, _LAYOUT_FILE + ".tmp")
    with open(tmp, "w") as f:
        json.dump({"layout": layout, "extras": extras or []}, f)
    os.rename(tmp, os.path.join(mdir, _LAYOUT_FILE))


def _read_layout_record(out_dir: str) -> dict:
    p = os.path.join(_manifest_dir(out_dir), _LAYOUT_FILE)
    if not os.path.exists(p):
        return {}
    with open(p) as f:
        return json.load(f)


def read_layout(out_dir: str) -> str | None:
    return _read_layout_record(out_dir).get("layout")


def read_extras(out_dir: str) -> list[tuple[str, str]]:
    return [tuple(e) for e in _read_layout_record(out_dir).get("extras", [])]


def _tokfilter_path(out_dir: str, stem: str) -> str:
    return os.path.join(out_dir, "_tokfilters", f"{stem}.bin")


def write_token_sidecar(out_dir: str, stem: str, blob: bytes) -> None:
    """File-level token-membership filter, kept OUT of the manifest JSON
    (listing cost) in a puffin-style sidecar. Written BEFORE the manifest
    rename: a committed record implies its sidecar is in place, and a
    crash in between re-encodes the file (idempotent, like the data dir)."""
    d = os.path.join(out_dir, "_tokfilters")
    os.makedirs(d, exist_ok=True)
    tmp = os.path.join(d, f".{stem}.bin.tmp")
    with open(tmp, "wb") as f:
        f.write(blob)
    os.rename(tmp, _tokfilter_path(out_dir, stem))


def read_token_sidecar(out_dir: str, stem: str) -> bytes | None:
    p = _tokfilter_path(out_dir, stem)
    if not os.path.exists(p):
        return None
    with open(p, "rb") as f:
        return f.read()


def _commit_file(out_dir: str, staging_dir: str, stem: str, record: dict) -> None:
    """Atomic per-file commit: rename encoded-chunk dir into place, then
    rename the manifest record into place. A crash between the two renames
    leaves data without manifest → file re-encoded next run (idempotent)."""
    src = os.path.join(staging_dir, f"file_stem={stem}")
    dst = os.path.join(out_dir, "data", f"file_stem={stem}")
    os.makedirs(os.path.dirname(dst), exist_ok=True)
    if os.path.exists(dst):
        shutil.rmtree(dst)
    os.rename(src, dst)
    mdir = _manifest_dir(out_dir)
    os.makedirs(mdir, exist_ok=True)
    tmp = os.path.join(mdir, f".{stem}.json.tmp")
    with open(tmp, "w") as f:
        json.dump(record, f, sort_keys=True)
    os.rename(tmp, os.path.join(mdir, f"{stem}.json"))


# ---------------------------------------------------------------- encode job


def encode_dataset(
    spark: SparkSession,
    input_path: str | list[str],
    out_dir: str,
    zstd: bool = True,
    zstd_level: int = 3,
    target_tasks: int | None = None,
) -> dict:
    """Encode all input parquet files, skipping files already committed with
    a matching input snapshot. Returns job metrics.

    ``target_tasks`` overrides the default ≥2-wave split sizing — pass a
    multiple of the core count to eliminate the partial last wave (a 19-task
    job on 8 cores idles 5 cores for the final third; benchmarks that
    measure scaling ratios care, production throughput mostly doesn't)."""
    t0 = time.time()
    files = (
        sorted(input_path)
        if isinstance(input_path, list)
        else sorted(glob.glob(os.path.join(input_path, "*.parquet")))
    )
    if not files:
        raise ValueError(f"no parquet files under {input_path}")
    # commits are keyed by basename stem: same-named files from different
    # directories would collapse into one commit and silently drop data
    stems = [_stem(f) for f in files]
    if len(set(stems)) != len(stems):
        dupes = sorted({s for s in stems if stems.count(s) > 1})
        raise ValueError(f"duplicate input file stems (commit key collision): {dupes}")
    done = read_manifest(out_dir)
    todo = [
        f for f in files if _stem(f) not in done or not _snapshot_matches(done[_stem(f)], f)
    ]
    metrics = {
        "files_total": len(files),
        "files_skipped": len(files) - len(todo),
        "files_encoded": len(todo),
    }
    staging_dir = os.path.join(out_dir, "_staging")
    if todo:
        if os.path.exists(staging_dir):
            shutil.rmtree(staging_dir)
        os.makedirs(staging_dir, exist_ok=True)
        # extra metadata columns beyond the core schema: encoded per type,
        # recorded in the layout so decode reassembles them
        core = {"doc_id", "tokens", "n_tok", "source"}
        probe = spark.read.parquet(todo[0])
        extras = sorted(
            (f.name, f.dataType.typeName())
            for f in probe.schema.fields
            if f.name not in core
        )
        for name, t in extras:
            if t not in _EXTRA_SPARK_TYPES:
                raise ValueError(
                    f"unsupported extra column {name!r} of type {t!r} "
                    f"(supported: {sorted(_EXTRA_SPARK_TYPES)})"
                )
        # size input splits to the cluster: Spark's default 128 MB bin-packing
        # would coalesce many small files into a handful of tasks and leave
        # most cores idle. Target ≥2 waves of parallelism.
        total_bytes = sum(os.stat(f).st_size for f in todo)
        par = spark.sparkContext.defaultParallelism
        n_tasks = target_tasks if target_tasks else 2 * par
        split = max(total_bytes // n_tasks + 1, 1 << 20)
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(split))
        spark.conf.set("spark.sql.files.openCostInBytes", "0")
        # layout/extras are input-derived, not completion-derived: record
        # them BEFORE the commits so a crash after the last commit but
        # before the layout write can't leave extras permanently undecodable
        write_layout(out_dir, "per-file", extras=[list(e) for e in extras])
        df = spark.read.parquet(*todo).withColumn("_file", F.input_file_name())
        meta_rows = df.mapInArrow(
            _make_encode_fn(
                staging_dir, zstd, zstd_level, extras=[n for n, _ in extras]
            ),
            schema=META_SCHEMA,
        ).collect()
        # commit per file (a file may yield several part rows if Spark split it)
        by_stem: dict[str, list] = {}
        for r in meta_rows:
            by_stem.setdefault(r["file_stem"], []).append(r)
        path_of = {_stem(f): f for f in todo}
        # empty input files yield no chunk rows — commit a zero record so
        # resume doesn't rescan them forever
        for stem in path_of:
            if stem not in by_stem:
                os.makedirs(
                    os.path.join(staging_dir, f"file_stem={stem}"), exist_ok=True
                )
                by_stem[stem] = []
        for stem, rows in by_stem.items():
            codecs: dict[str, int] = {}
            for r in rows:
                for k, v in json.loads(r["codecs_json"]).items():
                    codecs[k] = codecs.get(k, 0) + v
            checksum = 0
            for r in rows:
                checksum ^= r["checksum"]
            rec = {
                "file_stem": stem,
                "n_parts": len(rows),
                "n_chunks": sum(r["n_chunks"] for r in rows),
                "n_docs": sum(r["n_docs"] for r in rows),
                "n_tokens": sum(r["n_tokens"] for r in rows),
                "bytes_in": sum(r["bytes_in"] for r in rows),
                "bytes_out": sum(r["bytes_out"] for r in rows),
                "checksum": checksum,
                "codecs": codecs,
                "doc_id_min": min(
                    (r["doc_id_min"] for r in rows if r["doc_id_min"]), default=None
                ),
                "doc_id_max": max(
                    (r["doc_id_max"] for r in rows if r["doc_id_max"]), default=None
                ),
                # file-level LENGTH bounds: length-bucketed reads prune whole
                # files from the manifest before any footer is opened, the
                # same way doc_id range/point reads do
                "n_tok_min": min(
                    (r["n_tok_min"] for r in rows if r["n_tok_min"] is not None),
                    default=None,
                ),
                "n_tok_max": max(
                    (r["n_tok_max"] for r in rows if r["n_tok_max"] is not None),
                    default=None,
                ),
                # token VALUE bounds — file-level zone for content reads;
                # the membership bitmap itself goes to the sidecar below
                "tok_min": min(
                    (r["tok_min"] for r in rows if r["tok_min"] is not None),
                    default=None,
                ),
                "tok_max": max(
                    (r["tok_max"] for r in rows if r["tok_max"] is not None),
                    default=None,
                ),
                "snapshot": _snapshot(path_of[stem]),
                "committed_at": time.time(),
            }
            # sidecar only when EVERY part carried a filter (see the
            # part-merge note: a partial OR would yield false negatives)
            if rows and all(r["tok_filter"] is not None for r in rows):
                write_token_sidecar(
                    out_dir,
                    stem,
                    merge_token_filters([bytes(r["tok_filter"]) for r in rows]),
                )
                rec["tok_filter"] = True
            _commit_file(out_dir, staging_dir, stem, rec)
        shutil.rmtree(staging_dir, ignore_errors=True)

    manifest = read_manifest(out_dir)
    metrics["n_docs"] = sum(r["n_docs"] for r in manifest.values())
    metrics["n_tokens"] = sum(r["n_tokens"] for r in manifest.values())
    metrics["bytes_in"] = sum(r["bytes_in"] for r in manifest.values())
    metrics["bytes_out"] = sum(r["bytes_out"] for r in manifest.values())
    metrics["input_parquet_bytes"] = sum(os.stat(f).st_size for f in files)
    data_dir = os.path.join(out_dir, "data")
    metrics["encoded_parquet_bytes"] = sum(
        os.stat(p).st_size
        for p in glob.glob(os.path.join(data_dir, "**", "*.parquet"), recursive=True)
    )
    metrics["ratio_vs_parquet_zstd"] = (
        metrics["encoded_parquet_bytes"] / metrics["input_parquet_bytes"]
    )
    metrics["wall_s"] = time.time() - t0
    metrics["tokens_per_s"] = (
        metrics["n_tokens"] / metrics["wall_s"] if metrics["wall_s"] else 0.0
    )
    return metrics


def read_decoded(
    spark: SparkSession,
    out_dir: str,
    sources: list[str] | None = None,
    doc_id_range: tuple[str, str] | None = None,
    doc_ids: list[str] | None = None,
    n_tok_range: tuple[int, int] | None = None,
    contains_token: int | list[int] | None = None,
    columns: list[str] | None = None,
    manifest_prune: str = "auto",
) -> DataFrame:
    """Read the encoded table back as (doc_id, tokens, n_tok, source).

    Selective decode — the point of a columnar format at 100 TB:
      * ``sources``: chunk-level source zones (``src_set`` — the distinct
        sources per chunk) prune chunks on ANY layout; with by-source
        layout (encode_dataset_by_source) the
        `file_stem` partition column starts with the source name, so the
        filter prunes whole partition directories before any IO. The prune
        is applied ONLY when the manifest's layout record says the stems
        carry the source prefix — on the default per-file layout (stems like
        'tokens-000000000000') it would silently drop every row, so there
        the post-decode source filter alone applies;
      * ``doc_id_range``: chunk zone maps (doc_id_min/max) skip chunks at
        the parquet scan (row-group stats) — blobs of skipped chunks are
        never read, let alone decoded. An exact row filter is applied
        after decode.
      * ``n_tok_range``: sequence-LENGTH zone maps (n_tok_min/max per
        chunk) — the training-pipeline read pattern (length-bucketed
        sampling, curriculum by length) prunes chunks the same way; the
        exact per-row filter then needs only the lengths stream, not the
        token values. Encodes that predate the length zone map simply
        skip the chunk prune (exact filter still applies).
      * ``contains_token``: docs whose token array CONTAINS the id — the
        contamination-audit / special-token read. Also accepts a LIST of
        ids with ANY-match semantics (docs containing at least one — the
        banned-id-set audit shape); pruning is per-id OR'd, so absent
        members of the set cost nothing. Prunes three times
        before any token blob is parsed: manifest file zones + the
        ``_tokfilters`` sidecar bitmaps (driver-side, no footer opened),
        chunk ``tok_min``/``tok_max`` zones (parquet row-group stats,
        JVM-side), and the per-chunk membership bitmap (tested in the
        decode kernel before the blob is decoded). The exact per-doc
        filter is a JVM ``array_contains`` after decode. Encodes that
        predate the filter columns are conservatively kept at every
        level. See encode/tokfilter.py for filter semantics (exact
        bitmap for vocab-sized spans, no-false-negative bloom beyond).

    CONTRACT BOUND for ``doc_ids``: the list is a plain Python argument,
    so it lives in driver memory and is folded into zone-map OR-predicates
    — the contract is point lookups of a HUMAN-SIZED id set (thousands,
    not millions). A distributed id set (e.g. the output of another
    query) must NOT be collected into this argument; at scale, either
    derive range/length bounds for it and use ``doc_id_range`` /
    ``n_tok_range``, or semi-join the decoded frame against the id frame
    (the manifest's per-file bounds still prune files for any range the
    optimizer can see).

    ``manifest_prune`` picks where file-level pruning runs: ``"driver"``
    is the keep-list loop (one manifest read, an In-filter on file_stem —
    cheapest while the manifest is driver-memory-sized); ``"join"`` runs
    the same conservative zone predicates over ``manifest_df`` in the
    cluster plus an executor-side sidecar probe, and left-semi-joins the
    chunk frame on the surviving stems — the only shape that holds at the
    ~40M-record manifest of the 10^12-sequence target, where the driver
    list (and the In-expression built from it) is itself the bottleneck.
    ``"auto"`` switches on total segment bytes (MANIFEST_JOIN_BYTES).
    Both paths produce identical rows (asserted in
    tests/test_manifest_join.py).
    """
    enc = spark.read.parquet(os.path.join(out_dir, "data"))
    # manifest-level file pruning: each lineage record carries the file's
    # doc_id bounds, so a range/point read drops whole file_stem partitions
    # BEFORE any parquet footer is opened — at the 10^12-sequence target
    # (~40M files) this is driver-side metadata work vs a footer read per
    # file (the Iceberg data-file-stats analogy of this manifest). Records
    # without bounds (older encodes) are conservatively kept.
    want_lo = want_hi = None
    if doc_id_range:
        want_lo, want_hi = doc_id_range
    if doc_ids:
        ids_sorted = sorted(set(doc_ids))
        lo2, hi2 = ids_sorted[0], ids_sorted[-1]
        want_lo = lo2 if want_lo is None else max(want_lo, lo2)
        want_hi = hi2 if want_hi is None else min(want_hi, hi2)
    if manifest_prune not in ("auto", "driver", "join"):
        raise ValueError(f"unknown manifest_prune: {manifest_prune!r}")
    tids = None if contains_token is None else _token_id_list(contains_token)
    if want_lo is not None or n_tok_range or tids is not None:
        # manifest-level file pruning (doc_id bounds, LENGTH bounds, token
        # zones + sidecar bitmaps): a pruned file never opens a parquet
        # footer. Pre-upgrade records missing any bound are conservatively
        # kept by that predicate. Strategy per the docstring: driver
        # keep-list while the manifest is small, filter-manifest semi-join
        # once the manifest is itself a dataset.
        strategy = manifest_prune
        if strategy == "auto":
            # total manifest bytes — segments AND the loose backlog (a
            # never-compacted dir of millions of per-file JSONs is just as
            # driver-hostile as one huge segment)
            segs_a, loose_a = _manifest_paths(out_dir)
            # short-circuit the stat() sweep once the threshold is crossed:
            # with a never-compacted backlog of millions of loose JSONs the
            # size scan itself was a driver-scaling bottleneck of exactly
            # the kind the join path exists to avoid (r6 ADVICE)
            man_bytes = 0
            for p in (*segs_a, *loose_a):
                man_bytes += os.path.getsize(p)
                if man_bytes > MANIFEST_JOIN_BYTES:
                    break
            strategy = "join" if man_bytes > MANIFEST_JOIN_BYTES else "driver"
        if strategy == "join":
            enc = enc.join(
                _keep_stems_df(spark, out_dir, want_lo, want_hi, n_tok_range, tids),
                "file_stem",
                "left_semi",
            )
        else:
            keep = []
            for stem, rec in read_manifest(out_dir).items():
                if (
                    want_lo is not None
                    and rec.get("doc_id_min") is not None
                    and rec.get("doc_id_max") is not None
                    and not (
                        rec["doc_id_max"] >= want_lo and rec["doc_id_min"] <= want_hi
                    )
                ):
                    continue
                if (
                    n_tok_range
                    and rec.get("n_tok_min") is not None
                    and rec.get("n_tok_max") is not None
                    and not (
                        rec["n_tok_max"] >= n_tok_range[0]
                        and rec["n_tok_min"] <= n_tok_range[1]
                    )
                ):
                    continue
                if tids is not None:
                    t_lo, t_hi = rec.get("tok_min"), rec.get("tok_max")
                    cand = (
                        tids
                        if t_lo is None or t_hi is None
                        else [t for t in tids if t_lo <= t <= t_hi]
                    )
                    if not cand:
                        continue
                    if rec.get("tok_filter"):
                        sidecar = read_token_sidecar(out_dir, stem)
                        if sidecar is not None and not token_filter_contains_any(
                            sidecar, cand
                        ):
                            continue
                keep.append(stem)
            enc = enc.filter(F.col("file_stem").isin(keep))
    if sources and read_layout(out_dir) == "by-source":
        cond = None
        for s in sources:
            c = F.col("file_stem").startswith(s)
            cond = c if cond is None else (cond | c)
        enc = enc.filter(cond)
    if sources and "src_set" in enc.columns:
        # chunk-level source zone (works on ANY layout, incl. per-file):
        # a chunk survives only if it contains one of the wanted sources —
        # pruned chunks never decode their blobs. NULL-TOLERANT: on a mixed
        # out_dir (old files encoded before src_set existed + new files
        # appended via resume) the old chunks read the column as NULL, and
        # arrays_overlap(NULL, …) is NULL → a bare filter would silently
        # drop every pre-upgrade chunk (r3 ADVICE). NULL zones are
        # conservatively kept; the post-decode filter stays exact.
        enc = enc.filter(
            F.col("src_set").isNull()
            | F.arrays_overlap(
                F.col("src_set"), F.array(*[F.lit(s) for s in sources])
            )
        )
    if doc_id_range:
        lo, hi = doc_id_range
        enc = enc.filter(
            F.col("doc_id_max").isNull()
            | ((F.col("doc_id_max") >= lo) & (F.col("doc_id_min") <= hi))
        )
    if n_tok_range and "n_tok_max" in enc.columns:
        # same null-tolerance: length zones NULL on pre-upgrade chunks
        enc = enc.filter(
            F.col("n_tok_max").isNull()
            | (
                (F.col("n_tok_max") >= n_tok_range[0])
                & (F.col("n_tok_min") <= n_tok_range[1])
            )
        )
    if contains_token is not None and "tok_max" in enc.columns:
        # chunk-level token VALUE zone: row-group stats evaluate this at
        # the scan, so out-of-range chunks never read their blob bytes.
        # For an id SET, per-id between-predicates OR'd (ANY semantics)
        zone = None
        for t in tids:
            c = (F.col("tok_min") <= t) & (F.col("tok_max") >= t)
            zone = c if zone is None else (zone | c)
        enc = enc.filter(F.col("tok_max").isNull() | zone)
    if doc_ids:
        # point lookups: a chunk survives only if SOME requested id falls in
        # its zone map — an OR of per-id between-predicates that parquet
        # row-group stats evaluate before reading blob bytes. Above a size
        # cap the expression collapses to the ids' overall range (still
        # pruning, coarser).
        ids = sorted(set(doc_ids))
        if len(ids) <= 256:
            cond = None
            for i in ids:
                c = (F.lit(i) >= F.col("doc_id_min")) & (F.lit(i) <= F.col("doc_id_max"))
                cond = c if cond is None else (cond | c)
        else:
            cond = (F.col("doc_id_max") >= ids[0]) & (F.col("doc_id_min") <= ids[-1])
        enc = enc.filter(F.col("doc_id_min").isNull() | cond)
    extras = read_extras(out_dir)
    all_names = [f.name for f in _decoded_schema(extras).fields]
    if columns is None:
        sel = all_names
    else:
        unknown = set(columns) - set(all_names)
        if unknown:
            raise ValueError(f"unknown columns: {sorted(unknown)}")
        sel = [c for c in all_names if c in set(columns)]
    # filters applied post-decode need their columns decoded; drop them after
    need = set(sel)
    if sources:
        need.add("source")
    if doc_id_range or doc_ids:
        need.add("doc_id")
    if n_tok_range:
        need.add("n_tok")
    if contains_token is not None:
        need.add("tokens")  # the exact per-doc filter reads the values
    dec_cols = [c for c in all_names if c in need]
    # prune the PARQUET SCAN to only the blobs the projection decodes —
    # unselected blob columns are never read off disk, let alone parsed
    blob_need = []
    if {"tokens", "n_tok"} & need:
        blob_need.append("tokens_blob")
    if "doc_id" in need:
        blob_need.append("doc_id_blob")
    if "source" in need:
        blob_need.append("source_blob")
    if any(n in need for n, _t in extras):
        blob_need.append("extras_blob")
    if contains_token is not None and "tok_filter" in enc.columns:
        # ship the (KB-sized) chunk bitmap so the decode kernel can skip
        # whole chunks before parsing their (MB-sized) token blobs
        blob_need.append("tok_filter")
    enc = enc.select(*blob_need)
    dec = enc.mapInArrow(
        _make_decode_fn(extras, columns=dec_cols, contains_token=contains_token),
        schema=_decoded_schema(extras, columns=dec_cols),
    )
    if sources:
        dec = dec.filter(F.col("source").isin(sources))
    if doc_id_range:
        dec = dec.filter(
            (F.col("doc_id") >= doc_id_range[0]) & (F.col("doc_id") <= doc_id_range[1])
        )
    if doc_ids:
        dec = dec.filter(F.col("doc_id").isin(list(set(doc_ids))))
    if n_tok_range:
        dec = dec.filter(
            (F.col("n_tok") >= n_tok_range[0]) & (F.col("n_tok") <= n_tok_range[1])
        )
    if contains_token is not None:
        if len(tids) == 1:
            dec = dec.filter(F.array_contains(F.col("tokens"), F.lit(tids[0])))
        else:
            dec = dec.filter(
                F.arrays_overlap(F.col("tokens"), F.array(*[F.lit(t) for t in tids]))
            )
    if sel != dec_cols:
        dec = dec.select(*sel)
    return dec


def token_read_stats(out_dir: str, token: int | list[int]) -> dict:
    """Driver-side pruning report for a ``contains_token`` read — mirrors
    read_decoded's manifest logic so tests and benchmarks can assert HOW
    MUCH a content read skips, not just that its rows are right. Accepts a
    single id or an ANY-match id list (a file counts as zone-pruned only
    when EVERY id fails its zone, mirroring the read's per-id OR)."""
    tids = _token_id_list(token)
    stats = {
        "files_total": 0,
        "files_zone_pruned": 0,
        "files_filter_pruned": 0,
        "files_kept": 0,
    }
    for stem, rec in read_manifest(out_dir).items():
        stats["files_total"] += 1
        t_lo, t_hi = rec.get("tok_min"), rec.get("tok_max")
        cand = (
            tids
            if t_lo is None or t_hi is None
            else [t for t in tids if t_lo <= t <= t_hi]
        )
        if not cand:
            stats["files_zone_pruned"] += 1
            continue
        if rec.get("tok_filter"):
            sidecar = read_token_sidecar(out_dir, stem)
            if sidecar is not None and not token_filter_contains_any(
                sidecar, cand
            ):
                stats["files_filter_pruned"] += 1
                continue
        stats["files_kept"] += 1
    return stats


def decode_verify(
    spark: SparkSession,
    input_path: str | list[str],
    out_dir: str,
    fraction: float = 1.0,
) -> dict:
    """Decode every partition, full-outer-join on doc_id against the source,
    assert bit-identical tokens + n_tok + source. Returns counts.

    ``fraction`` < 1 verifies a deterministic FILE-level sample (stems with
    crc32(stem) below the fraction cut): at the 100 TB target a full decode
    per run is its own 100 TB read, so routine verification samples files —
    the encoded side prunes to the sampled ``file_stem`` partitions before
    any IO — while small-scale gates keep fraction=1. Per-file layout only
    (by-source stems don't map back to input files); at least one file is
    always verified."""
    files = (
        sorted(input_path)
        if isinstance(input_path, list)
        else sorted(glob.glob(os.path.join(input_path, "*.parquet")))
    )
    if fraction < 1.0:
        if read_layout(out_dir) == "by-source":
            raise ValueError("sampled verify requires the per-file layout")
        cut = int(fraction * 1000)
        sampled = [f for f in files if zlib.crc32(_stem(f).encode()) % 1000 < cut]
        files = sampled or files[:1]
        stems = [_stem(f) for f in files]
        src = spark.read.parquet(*files)
        extras = read_extras(out_dir)
        dec = (
            spark.read.parquet(os.path.join(out_dir, "data"))
            .filter(F.col("file_stem").isin(stems))
            .mapInArrow(_make_decode_fn(extras), schema=_decoded_schema(extras))
        )
    else:
        src = spark.read.parquet(*files)
        dec = read_decoded(spark, out_dir)
    joined = src.alias("s").join(dec.alias("d"), "doc_id", "full_outer")
    same = (
        (F.col("s.tokens") == F.col("d.tokens"))
        & (F.col("s.n_tok") == F.col("d.n_tok"))
        & (F.col("s.source") == F.col("d.source"))
    )
    for name, t in read_extras(out_dir):
        a, b = F.col(f"s.{name}"), F.col(f"d.{name}")
        eq = a == b
        if t == "double":  # NaN round-trips bit-identically but NaN != NaN
            eq = eq | (F.isnan(a) & F.isnan(b))
        same = same & eq
    status = joined.select(
        F.when(F.col("s.n_tok").isNull() | F.col("d.n_tok").isNull(), "missing")
        .when(same, "ok")
        .otherwise("mismatch")
        .alias("status")
    )
    counts = {
        r["status"]: r["cnt"]
        for r in status.groupBy("status").agg(F.count("*").alias("cnt")).collect()
    }
    counts.setdefault("ok", 0)
    counts.setdefault("mismatch", 0)
    counts.setdefault("missing", 0)
    counts["bit_identical"] = counts["mismatch"] == 0 and counts["missing"] == 0
    return counts
