"""CEEF2 packed-state codecs: lossless roundtrip across every encoding
(bit-packed 0/1 float registers, downcast integer tables, raw fallback)
plus legacy CEEF1 reads — these bytes are the ONLY payload the aggregation
harness shuffles and collects, so decode must be bit-exact."""

from __future__ import annotations

import io
import json

import numpy as np

from cardinality_estimation_evaluation_framework_spark.sketches.base import (
    pack_state,
    unpack_state,
)


def _roundtrip(arrays: dict[str, np.ndarray]) -> dict[str, np.ndarray]:
    spec = {"type": "codec-test"}
    spec2, back = unpack_state(pack_state(spec, arrays))
    assert spec2 == spec
    return back


def test_codec_roundtrip_all_shapes():
    rs = np.random.RandomState(7)
    cases = {
        # tag 1: crisp 0/1 float registers (classic/ADBF bloom)
        "bits_1d": rs.randint(0, 2, size=70000).astype(np.float64),
        "bits_all_zero": np.zeros(4096, dtype=np.float64),
        "bits_all_one": np.ones(4096, dtype=np.float64),
        # NOT bit-packable: fractional (noised) registers
        "frac": rs.rand(4096),
        # tag 2: downcastable int64 (count-min style), 1-D and 2-D
        "cm_2d": rs.randint(0, 400000, size=(4, 4096)).astype(np.int64),
        "neg_small": rs.randint(-100, 100, size=5000).astype(np.int64),
        "i16_src": (rs.randint(0, 30000, size=3000)).astype(np.int16),
        # NOT downcastable: full-range hashes (sparse HLL ids)
        "wide": rs.randint(-(2**62), 2**62, size=2048).astype(np.int64),
        # raw paths: int8 registers, float values, small and empty arrays
        "hll_i8": rs.randint(0, 50, size=16384).astype(np.int8),
        "kll_vals": rs.randn(5000),
        "tiny": np.arange(10, dtype=np.int64),
        "empty_f": np.zeros(0, dtype=np.float64),
        "empty_i": np.zeros(0, dtype=np.int64),
        "scalar_n": np.array([12345], dtype=np.int64),
    }
    back = _roundtrip(cases)
    assert set(back) == set(cases)
    for name, arr in cases.items():
        assert back[name].dtype == arr.dtype, name
        assert back[name].shape == arr.shape, name
        np.testing.assert_array_equal(back[name], arr, err_msg=name)


def test_codec_boundary_values_downcast_exactly():
    # values AT the int8/int16/int32 boundaries must survive the downcast
    for lo, hi in ((-128, 127), (-32768, 32767), (-(2**31), 2**31 - 1)):
        arr = np.full(2048, lo, dtype=np.int64)
        arr[::2] = hi
        back = _roundtrip({"x": arr})["x"]
        assert back.dtype == np.int64
        np.testing.assert_array_equal(back, arr)


def test_codec_reads_legacy_ceef1():
    spec = {"type": "legacy"}
    arr = np.random.RandomState(3).randint(0, 1000, size=(4, 64)).astype(np.int64)
    buf = io.BytesIO()
    hdr = json.dumps(spec, sort_keys=True).encode()
    buf.write(b"CEEF1")
    buf.write(len(hdr).to_bytes(4, "little"))
    buf.write(hdr)
    buf.write((1).to_bytes(4, "little"))
    nb = b"table"
    buf.write(len(nb).to_bytes(2, "little"))
    buf.write(nb)
    np.save(buf, arr, allow_pickle=False)
    spec2, state = unpack_state(buf.getvalue())
    assert spec2 == spec
    np.testing.assert_array_equal(state["table"], arr)


def test_codec_pack_is_deterministic_and_smaller():
    regs = np.random.RandomState(1).randint(0, 2, size=1 << 20).astype(np.float64)
    raw = pack_state({"t": "x"}, {"registers": regs})
    assert raw == pack_state({"t": "x"}, {"registers": regs})
    # 2^20 float64 = 8 MB naive; bit-packed must be ~64x smaller
    assert len(raw) < 200_000


def test_codec_keeps_negative_zero():
    # -0.0 == 0.0 compares true, so a 0/1 check alone would bit-pack it and
    # decode +0.0; the codec must keep the sign bit (compared as raw bits)
    regs = np.random.RandomState(3).randint(0, 2, size=4096).astype(np.float64)
    regs[[0, 17, 4095]] = -0.0
    back = _roundtrip({"registers": regs})["registers"]
    assert back.dtype == np.float64
    np.testing.assert_array_equal(back.view(np.uint64), regs.view(np.uint64))
    assert np.signbit(back[[0, 17, 4095]]).all()
