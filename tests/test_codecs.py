"""Codec unit + property tests: encode→decode bit-identical on adversarial
arrays (SURVEY.md §5 — the reference's expected-results oracle discipline,
/root/reference/src/expected_results.py:309-431, applied per codec)."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from poc_parquet_aggregator_spark.codecs import (
    CODEC_NAMES,
    decode_ints,
    decode_strings,
    encode_ints,
    encode_ints_auto,
    encode_strings_auto,
    estimate_sizes,
    int_stats,
    unwrap_zstd,
    wrap_zstd,
)
from poc_parquet_aggregator_spark.codecs import ints as CI
from poc_parquet_aggregator_spark.codecs import strings as CS

ALL_INT_CODECS = [CI.PLAIN, CI.BITPACK, CI.FOR, CI.RLE, CI.DICT, CI.DELTA]
ALL_STR_CODECS = [CS.STR_PLAIN, CS.STR_DICT, CS.FSST]

ADVERSARIAL = {
    "empty": np.array([], np.int32),
    "single": np.array([7], np.int32),
    "single_run": np.full(1000, -3, np.int32),
    "max_card": np.arange(10000, dtype=np.int32),
    "negatives": np.array([-1, -(2**31), 2**31 - 1, 0], np.int32),
    "int32_boundary": np.array([2**31 - 1, -(2**31)], np.int32),
    "alternating": np.tile([0, 1], 5000).astype(np.int32),
    "zipf": (np.random.default_rng(0).zipf(1.3, 50000) % 50257).astype(np.int32),
    # width-16 layout boundary: sorted keeps byte planes, uniform/zipf pick
    # the hi-grouped lo plane — both must roundtrip and size-estimate exactly
    "zipf_sorted": np.sort(
        (np.random.default_rng(1).zipf(1.3, 20000) % 50257).astype(np.int32)
    ),
    "wide16_uniform": np.random.default_rng(2)
    .integers(0, 65536, 20000)
    .astype(np.int32),
}


@pytest.mark.parametrize("name", list(ADVERSARIAL))
@pytest.mark.parametrize("codec", ALL_INT_CODECS)
def test_int_roundtrip_every_codec(name, codec):
    a = ADVERSARIAL[name]
    out = decode_ints(encode_ints(a, codec))
    assert out.dtype == np.int32
    assert np.array_equal(out, a)


@pytest.mark.parametrize("codec", [CI.RLE, CI.DICT, CI.DELTA])
def test_int_decode_rejects_wrong_length_header(codec):
    # a real error, not an assert: `python -O` must still catch a bad blob
    blob = bytearray(encode_ints(ADVERSARIAL["alternating"], codec))
    (n,) = CI._U32.unpack_from(blob, 1)
    CI._U32.pack_into(blob, 1, n + 1)
    with pytest.raises(ValueError, match="header says"):
        decode_ints(bytes(blob))


@pytest.mark.parametrize("name", list(ADVERSARIAL))
def test_int_auto_and_zstd(name):
    a = ADVERSARIAL[name]
    blob, codec = encode_ints_auto(a)
    assert np.array_equal(decode_ints(blob), a)
    z = wrap_zstd(blob)
    assert np.array_equal(decode_ints(z), a)
    assert unwrap_zstd(z) == blob or z == blob


def test_estimates_are_exact():
    """The selector's size estimates equal actual encoded sizes — making
    argmin selection provably optimal within the family."""
    for name, a in ADVERSARIAL.items():
        stats = int_stats(a, with_delta=True)
        est = estimate_sizes(stats)
        for codec in ALL_INT_CODECS:
            actual = len(encode_ints(a, codec))
            if codec == CI.BITPACK and len(a) and a.min() < 0:
                continue  # promoted to FOR; estimate models the promotion
            if codec == CI.RLE:
                # RLE child value codec is itself auto-selected; estimate
                # assumes FOR child → actual may only be smaller
                assert actual <= est[codec] + 16, (name, CODEC_NAMES[codec])
            elif codec == CI.DELTA:
                # DELTA estimate = header + argmin of the delta stream's
                # child estimates; when RLE wins inside, the child's own
                # conservative (upper-bound) estimate carries over
                assert actual <= est[codec] + 16, (name, CODEC_NAMES[codec])
            else:
                assert actual == est[codec], (name, CODEC_NAMES[codec])


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.integers(min_value=-(2**31), max_value=2**31 - 1), min_size=0, max_size=300
    )
)
def test_int_property_roundtrip(xs):
    a = np.array(xs, dtype=np.int32)
    for codec in ALL_INT_CODECS:
        assert np.array_equal(decode_ints(encode_ints(a, codec)), a)
    blob, _ = encode_ints_auto(a)
    assert np.array_equal(decode_ints(wrap_zstd(blob)), a)


@settings(max_examples=100, deadline=None)
@given(st.lists(st.text(max_size=40), min_size=0, max_size=100))
def test_string_property_roundtrip(xs):
    for codec in ALL_STR_CODECS:
        assert decode_strings(CS.encode_strings(xs, codec)) == xs
    blob, _ = encode_strings_auto(xs)
    assert decode_strings(blob) == xs
    assert decode_strings(wrap_zstd(blob)) == xs


def test_selector_picks_the_right_regime():
    rng = np.random.default_rng(0)
    runs = np.repeat(rng.integers(0, 100, 500), 20).astype(np.int32)
    _, codec = encode_ints_auto(runs)
    assert CODEC_NAMES[codec] == "rle"
    small = rng.integers(1000, 1032, 50000).astype(np.int32)
    _, codec = encode_ints_auto(small)
    assert CODEC_NAMES[codec] in ("for", "bitpack")


def test_fsst_compresses_shared_prefixes():
    docs = [f"doc-{i:012d}" for i in range(4000)]
    blob = CS.encode_strings(docs, CS.FSST)
    raw = sum(len(s) for s in docs)
    assert len(blob) < raw
    assert decode_strings(blob) == docs


def test_str_dict_beats_plain_on_categoricals():
    src = ["srcA"] * 9000 + ["srcB"] * 1000
    blob, codec = encode_strings_auto(src)
    assert codec == CS.STR_DICT
    assert len(blob) < 0.05 * sum(len(s) for s in src)


def test_arrow_fsst_branch_from_buffers():
    """encode_strings_arrow's FSST branch must work straight from the Arrow
    payload/offsets buffers (no to_pylist) and roundtrip bit-identically,
    including multi-chunk and offset-sliced inputs."""
    import random

    import pyarrow as pa

    random.seed(7)
    frags = ["".join(random.choice("abcdefghijklmnop") for _ in range(8)) for _ in range(40)]
    vals = ["".join(random.choice(frags) for _ in range(6)) + str(i % 7) for i in range(8000)]
    random.shuffle(vals)
    arr = pa.array(vals, type=pa.string())
    blob, codec = CS.encode_strings_arrow(arr)
    assert codec == CS.FSST
    assert decode_strings(blob) == vals
    # sliced array (nonzero offset into the buffers) must encode the slice only
    sl = arr.slice(100, 5000)
    blob2, _ = CS.encode_strings_arrow(sl)
    assert decode_strings(blob2) == vals[100:5100]
    # chunked input
    ch = pa.chunked_array([arr.slice(0, 3000), arr.slice(3000)])
    blob3, codec3 = CS.encode_strings_arrow(ch)
    assert decode_strings(blob3) == vals


@settings(max_examples=60, deadline=None)
@given(
    st.lists(st.text(max_size=30), min_size=1, max_size=64),
    st.lists(st.integers(min_value=-(2**31), max_value=2**31 - 1), min_size=1, max_size=64),
    st.lists(st.integers(min_value=-(2**63), max_value=2**63 - 1), min_size=1, max_size=64),
    st.lists(st.floats(allow_nan=True, allow_infinity=True, width=64), min_size=1, max_size=64),
)
def test_extras_container_property(ss, i32s, i64s, f64s):
    """Extra-column container: every supported type round-trips exactly
    (including NaN/inf doubles and int64 extremes) through both zstd
    settings."""
    import pyarrow as pa

    from poc_parquet_aggregator_spark.encode.pipeline import (
        _decode_extra,
        _encode_extra_array,
    )

    arrays = [
        pa.array(ss, type=pa.string()),
        pa.array(np.array(i32s, dtype=np.int32), type=pa.int32()),
        pa.array(np.array(i64s, dtype=np.int64), type=pa.int64()),
        pa.array(np.array(f64s, dtype=np.float64), type=pa.float64()),
    ]
    for arr in arrays:
        for zstd in (False, True):
            kind, payload, _codec = _encode_extra_array(arr, zstd, 3)
            out = _decode_extra(kind, payload, len(arr))
            a = arr.to_pandas().to_numpy()
            b = out.to_pandas().to_numpy()
            if arr.type == pa.float64():
                assert np.array_equal(a, b, equal_nan=True)
            else:
                assert list(out) == list(arr)


# ----------------------------------------------------------- ALP float codec


class TestAlpFloats:
    """codecs/floats.py: ALP-style lossless doubles (scaled-int planes +
    exception patching). Losslessness is bit-level by construction — the
    encoder verifies the literal decode expression — so every assertion
    here compares raw bit patterns, not values."""

    @staticmethod
    def _roundtrip(v):
        from poc_parquet_aggregator_spark.codecs.floats import (
            decode_floats_alp,
            encode_floats_alp,
        )

        enc = encode_floats_alp(v, True, 3)
        if enc is None:
            return None, None
        out = decode_floats_alp(enc[0])
        assert out.view(np.int64).tolist() == v.view(np.int64).tolist()
        return enc

    def test_decimal_column_wins_and_is_bit_exact(self):
        rng = np.random.default_rng(7)
        v = np.round(rng.uniform(0, 1, 4096), 3)  # quality-score shape
        blob, name = self._roundtrip(v)
        assert name.startswith("f64_alp(e3,f0")
        # 3-decimal values carry ~10 bits each; the bit-packed planes land
        # near that floor (~10.1 bits/val here) where zstd over the raw
        # bit patterns pays ~19.5 — ALP halves the compressed size
        assert len(blob) < len(CI.wrap_zstd(v.tobytes(), 3)) * 0.6
        assert len(blob) < len(v) * 11 / 8 + 64  # near the 10-bit floor

    def test_round_multiples_pick_negative_scale(self):
        v = (np.arange(512, dtype=np.float64) * 100.0) + 1e6
        blob, name = self._roundtrip(v)
        assert "f0" not in name.split(",")[1]  # f > 0: scale DOWN by 10^f
        assert name.startswith("f64_alp(e0,f2")

    def test_specials_ride_the_exception_list(self):
        v = np.round(np.linspace(0, 10, 256), 2)
        v[3] = np.nan
        v[17] = np.inf
        v[21] = -np.inf
        v[40] = -0.0
        v[77] = np.pi  # full-precision double: never decimal-exact
        blob, name = self._roundtrip(v)
        assert name.startswith("f64_alp")
        from poc_parquet_aggregator_spark.codecs import floats as CF

        # -0.0 MUST be an exception (scaled int 0 decodes to +0.0)
        hit, _ = CF._roundtrip_mask(v, 2, 0)
        assert not hit[40] and not hit[3] and not hit[77]

    def test_noise_declines_or_loses(self):
        rng = np.random.default_rng(11)
        v = rng.uniform(0, 1, 2048)  # full 52-bit mantissas
        from poc_parquet_aggregator_spark.codecs.floats import encode_floats_alp

        enc = encode_floats_alp(v, True, 3)
        assert enc is None  # 0 sample hits -> fast-path skip

    def test_extra_container_selects_alp_only_when_smaller(self):
        import pyarrow as pa

        from poc_parquet_aggregator_spark.encode.pipeline import (
            _X_FLOAT64,
            _decode_extra,
            _encode_extra_array,
        )

        rng = np.random.default_rng(3)
        cases = {
            "decimal": np.round(rng.uniform(-5, 5, 2000), 4),
            "noise": rng.uniform(0, 1, 2000),
            "constant": np.full(2000, 2.5),
        }
        for label, v in cases.items():
            arr = pa.array(v, type=pa.float64())
            kind, payload, codec = _encode_extra_array(arr, True, 3)
            assert kind == _X_FLOAT64
            out = _decode_extra(kind, payload, len(arr)).to_numpy(zero_copy_only=False)
            assert out.view(np.int64).tolist() == v.view(np.int64).tolist(), label
            if label == "noise":
                # decimal ALP declined (full mantissas) — the ALPrd
                # front-bit dictionary takes the column instead (~54
                # bits/val vs zstd's ~60 on uniform noise)
                assert codec.startswith("f64_alprd")
            elif label == "constant":
                # both collapse a constant to tens of bytes; zstd's frame
                # is leaner than ALP's four-child container here
                assert codec in ("f64_zstd",) or codec.startswith("f64_alp")
            else:
                assert codec.startswith("f64_alp"), label

    @settings(max_examples=100, deadline=None)
    @given(
        st.lists(
            st.floats(allow_nan=True, allow_infinity=True, width=64),
            min_size=1,
            max_size=80,
        )
    )
    def test_alp_property_bit_roundtrip(self, fs):
        v = np.array(fs, dtype=np.float64)
        self._roundtrip(v)  # asserts bit-identity whenever ALP engages


# ------------------------------------------------------ ALPrd (real doubles)


class TestAlprdFloats:
    """codecs/floats.py ALPrd mode: front-bit dictionary + bit-packed
    remainder.  Pure bit surgery — losslessness holds for every bit
    pattern (NaN payloads, ±inf, -0.0, subnormals) with no verify pass."""

    @staticmethod
    def _roundtrip(v):
        from poc_parquet_aggregator_spark.codecs.floats import (
            decode_floats_alprd,
            encode_floats_alprd,
        )

        enc = encode_floats_alprd(v, True, 3)
        assert enc is not None
        out = decode_floats_alprd(enc[0])
        assert out.view(np.int64).tolist() == v.view(np.int64).tolist()
        return enc

    def test_uniform_noise_beats_zstd(self):
        rng = np.random.default_rng(5)
        v = rng.uniform(0, 1, 8192)  # full mantissas: decimal ALP declines
        blob, name = self._roundtrip(v)
        assert name.startswith("f64_alprd")
        # ~(3 + 52) bits/val + tiny exceptions, vs zstd's ~60 on the raw
        # bit patterns — the dictionary removes the correlated front bits
        assert len(blob) < len(CI.wrap_zstd(v.tobytes(), 3))
        assert len(blob) < len(v) * 56 / 8 + 128

    def test_concentrated_range_packs_harder(self):
        rng = np.random.default_rng(9)
        v = rng.normal(300.0, 2.0, 4096)  # one binade pair: near-constant left
        blob, name = self._roundtrip(v)
        assert name.startswith("f64_alprd(w16,x0")  # full 16-bit left, 0 misses
        assert len(blob) < len(v) * 50 / 8 + 128

    def test_specials_are_plain_bit_patterns(self):
        v = np.array([np.nan, np.inf, -np.inf, -0.0, 0.0, 5e-324, np.pi])
        self._roundtrip(v)  # bit-identity asserted inside

    def test_dictionary_misses_ride_exceptions(self):
        rng = np.random.default_rng(3)
        v = rng.uniform(0, 1, 2000)
        # 20 values in wildly different binades: cannot all share the
        # 8-entry dictionary with the main mass
        v[::100] = rng.uniform(1e-300, 1e-290, 20)
        blob, name = self._roundtrip(v)
        assert name.startswith("f64_alprd")
        # the miss count is encoded in the codec name (x<k>) — nonzero here
        xs = int(name.split(",x")[1].split(",")[0])
        assert xs > 0

    @settings(max_examples=100, deadline=None)
    @given(
        st.lists(
            st.floats(allow_nan=True, allow_infinity=True, width=64),
            min_size=1,
            max_size=80,
        )
    )
    def test_alprd_property_bit_roundtrip(self, fs):
        self._roundtrip(np.array(fs, dtype=np.float64))
