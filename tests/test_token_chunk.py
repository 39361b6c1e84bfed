"""Token-chunk codec: bit-identical round trips incl. FIXTURES.md §7 token
edge cases (length-1, all-identical, int32 boundary, empty arrays)."""

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from poc_parquet_aggregator_spark.encode.chunk import (
    decode_chunk_lengths,
    decode_token_chunk,
    encode_token_chunk,
)
from poc_parquet_aggregator_spark.encode.pipeline import _encode_chunk_row
from poc_parquet_aggregator_spark.sources import generate_token_table


def _flat(table):
    flat = table.column("tokens").combine_chunks().flatten().to_numpy().astype(np.int32)
    lengths = table.column("n_tok").to_numpy().astype(np.int32)
    return flat, lengths


CASES = [
    (np.array([], np.int32), np.array([], np.int32)),
    (np.array([5], np.int32), np.array([1], np.int32)),
    (np.array([1, 1, 1, 2, 3], np.int32), np.array([3, 0, 2], np.int32)),
    (np.array([-(2**31), 2**31 - 1], np.int32), np.array([2], np.int32)),
    (np.full(5000, 42, np.int32), np.array([4096, 904], np.int32)),
    (np.zeros(10, np.int32), np.array([0, 0, 10, 0], np.int32)),
]


@pytest.mark.parametrize("flat,lengths", CASES)
@pytest.mark.parametrize("zstd", [True, False])
def test_edge_cases(flat, lengths, zstd):
    blob, meta = encode_token_chunk(flat, lengths, zstd=zstd)
    f, l = decode_token_chunk(blob)
    assert np.array_equal(f, flat)
    assert np.array_equal(l, lengths)
    assert meta["n_tokens"] == len(flat)


def test_generated_table_roundtrip_and_ratio():
    t = generate_token_table(5000, seed=42)
    flat, lengths = _flat(t)
    blob, meta = encode_token_chunk(flat, lengths)
    f, l = decode_token_chunk(blob)
    assert np.array_equal(f, flat)
    assert np.array_equal(l, lengths)
    # lightweight+zstd must at least beat raw int32
    assert len(blob) < 0.5 * 4 * len(flat)


def test_determinism():
    t = generate_token_table(2000, seed=7)
    flat, lengths = _flat(t)
    b1, _ = encode_token_chunk(flat, lengths)
    b2, _ = encode_token_chunk(flat, lengths)
    assert b1 == b2  # stable codec choice + stable bytes → exact resume


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.lists(
            st.integers(min_value=-(2**31), max_value=2**31 - 1),
            min_size=0,
            max_size=50,
        ),
        min_size=0,
        max_size=30,
    )
)
def test_property_roundtrip(docs):
    flat = np.array([x for d in docs for x in d], dtype=np.int32)
    lengths = np.array([len(d) for d in docs], dtype=np.int32)
    blob, _ = encode_token_chunk(flat, lengths)
    f, l = decode_token_chunk(blob)
    assert np.array_equal(f, flat)
    assert np.array_equal(l, lengths)



# format checks are ValueErrors, not asserts, so `python -O` keeps them
@pytest.mark.parametrize("decode", [decode_token_chunk, decode_chunk_lengths])
def test_non_token_blob_rejected(decode):
    blob, _ = encode_token_chunk(np.arange(6, dtype=np.int32), np.array([2, 4], np.int32))
    for bad in (b"\x00" + blob[1:], b""):
        with pytest.raises(ValueError, match="not a token chunk"):
            decode(bad)


def test_n_tok_mismatch_rejected():
    batch = pa.RecordBatch.from_pydict(
        {
            "doc_id": ["a", "b"],
            "source": ["s", "s"],
            "tokens": pa.array([[1, 2], [3]], pa.list_(pa.int32())),
            "n_tok": pa.array([2, 2], pa.int32()),
        }
    )
    with pytest.raises(ValueError, match="n_tok invariant"):
        _encode_chunk_row(batch, zstd=True)
