"""Single-thread replay of the encode/decode kernels over a workload's
2048-row batches (the Arrow batch size the Spark session hands to
``mapInArrow``). Every kernel output is checked before its time counts:
tokens must round-trip through the chunk codec and strings through the
string codecs, so a replay number never comes from a broken kernel.
"""

from __future__ import annotations

import glob
import os
import time

import numpy as np
import pyarrow.parquet as pq

from poc_parquet_aggregator_spark.codecs.ints import unwrap_zstd, wrap_zstd
from poc_parquet_aggregator_spark.codecs.strings import (
    FSST,
    STR_DICT,
    decode_strings_arrow,
    encode_strings_arrow,
)
from poc_parquet_aggregator_spark.encode.chunk import (
    decode_token_chunk,
    encode_token_chunk,
)
from poc_parquet_aggregator_spark.encode.tokfilter import build_token_filter

BATCH_ROWS = 2048


class ReplayMismatch(Exception):
    """A kernel's decode did not reproduce its input."""


def _timed(acc: dict, key: str, fn, *args, **kwargs):
    t0 = time.perf_counter()
    out = fn(*args, **kwargs)
    acc[key] += time.perf_counter() - t0
    return out


def replay_kernels(input_dir: str, zstd_level: int) -> dict:
    """Encode and decode every 2048-row batch of the token table under
    ``input_dir`` the way one encode task does; returns per-kernel seconds,
    byte counts and the FSST / token-filter ratios."""
    acc = {
        "chunk.encode_s": 0.0,
        "chunk.decode_s": 0.0,
        "strings.encode_s": 0.0,
        "strings.decode_s": 0.0,
        "zstd.wrap_s": 0.0,
        "tokfilter.build_s": 0.0,
        "codecs.tokens_bytes": 0,
        "codecs.doc_id_bytes": 0,
        "codecs.source_bytes": 0,
    }
    n_chunks = fsst_tried = fsst_won = filters_kept = 0
    for path in sorted(glob.glob(os.path.join(input_dir, "*.parquet"))):
        for batch in pq.ParquetFile(path).iter_batches(batch_size=BATCH_ROWS):
            n_chunks += 1
            tok = batch.column(batch.schema.get_field_index("tokens"))
            flat = tok.flatten().to_numpy(zero_copy_only=False).astype(np.int32)
            lengths = tok.value_lengths().to_numpy(zero_copy_only=False).astype(np.int32)

            blob, _ = _timed(
                acc, "chunk.encode_s", encode_token_chunk,
                flat, lengths, zstd=True, zstd_level=zstd_level,
            )
            acc["codecs.tokens_bytes"] += len(blob)
            flat2, lengths2 = _timed(acc, "chunk.decode_s", decode_token_chunk, blob)
            if not (np.array_equal(flat2, flat) and np.array_equal(lengths2, lengths)):
                raise ReplayMismatch(f"token chunk round trip failed in {path}")

            for col in ("doc_id", "source"):
                arr = batch.column(batch.schema.get_field_index(col))
                sblob, codec = _timed(acc, "strings.encode_s", encode_strings_arrow, arr)
                if codec != STR_DICT:
                    fsst_tried += 1
                    fsst_won += codec == FSST
                wrapped = _timed(acc, "zstd.wrap_s", wrap_zstd, sblob, zstd_level)
                acc[f"codecs.{col}_bytes"] += len(wrapped)
                back = _timed(
                    acc, "strings.decode_s", decode_strings_arrow, unwrap_zstd(wrapped)
                )
                if back.to_pylist() != arr.to_pylist():
                    raise ReplayMismatch(f"{col} string round trip failed in {path}")

            filt = _timed(acc, "tokfilter.build_s", build_token_filter, flat)
            # the pipeline's size guard: a filter is stored only while it
            # costs at most ~1/16 of the encoded token stream
            filters_kept += len(filt) <= max(512, len(blob) // 16)
    acc["strings.fsst_win_frac"] = fsst_won / fsst_tried if fsst_tried else 0.0
    acc["tokfilter.kept_frac"] = filters_kept / n_chunks if n_chunks else 0.0
    acc["replay.n_chunks"] = n_chunks
    return acc
