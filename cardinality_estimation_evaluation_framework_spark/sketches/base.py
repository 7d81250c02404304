"""Sketch kernel protocol + binary state transport.

The reference models a sketch as an object with ``add/add_ids`` and
``merge`` (ref: src/estimators/base.py:17-50). Here a sketch is split into

- a *kernel*: stateless config + pure numpy functions over a *state*
  (dict of numpy arrays), and
- a *state*: the aggregation buffer that flows through Spark as a single
  ``binary`` column (self-describing: config header + arrays).

This split is what makes sketches Spark-native: the state is a tiny,
fixed-size, associatively-mergeable value, so partial aggregation per
partition + tree merge gives the same answer for any partitioning — the
property the reference asserts via ``assert_compatible`` + commutative
merges (ref: any_sketch.py:36-105,396-404).
"""

from __future__ import annotations

import io
import json
from abc import ABC, abstractmethod
from typing import Any

import numpy as np

State = dict[str, np.ndarray]

_MAGIC_V1 = b"CEEF1"
_MAGIC = b"CEEF2"

# Per-array codecs (CEEF2). Partial sketch states are the ONLY payload the
# aggregation harness shuffles and collects, so their wire size directly
# bounds shuffle bytes and the driver fetch (a 64-partition suite build
# collects 64 states). Two lossless encodings cover the fat cases:
#   tag 1: float64 registers whose values are exactly {0, 1} (crisp OR
#          registers — classic/ADBF Bloom before noising) -> bit-packed,
#          64x smaller. Noised/fractional states fall through to raw.
#   tag 2: int64 tables whose values fit a narrower int (count-min partial
#          counts, legion counters) -> downcast, 2-8x smaller. The original
#          dtype travels alongside so decode restores it exactly.
# Both decode bit-exactly; merge semantics are untouched.
_TAG_RAW, _TAG_BITS, _TAG_CAST = 0, 1, 2
# only probe arrays big enough for the scan to pay for itself
_ENCODE_MIN_SIZE = 1024


def _write_array(buf: io.BytesIO, arr: np.ndarray) -> None:
    arr = np.ascontiguousarray(arr)
    if arr.size >= _ENCODE_MIN_SIZE and arr.dtype == np.float64:
        # -0.0 == 0.0, but a bit-packed -0.0 would decode as +0.0
        if ((arr == 0.0) | (arr == 1.0)).all() and not np.signbit(arr).any():
            buf.write(bytes([_TAG_BITS]))
            np.save(buf, np.asarray(arr.shape, dtype=np.int64),
                    allow_pickle=False)
            np.save(buf, np.packbits(arr.ravel() != 0.0, bitorder="little"),
                    allow_pickle=False)
            return
    if arr.size >= _ENCODE_MIN_SIZE and arr.dtype.kind == "i" and arr.dtype.itemsize > 1:
        amin, amax = int(arr.min()), int(arr.max())
        for cand in (np.int8, np.int16, np.int32):
            info = np.iinfo(cand)
            if cand().itemsize < arr.dtype.itemsize and info.min <= amin and amax <= info.max:
                buf.write(bytes([_TAG_CAST]))
                dt = arr.dtype.str.encode()
                buf.write(len(dt).to_bytes(1, "little"))
                buf.write(dt)
                np.save(buf, arr.astype(cand), allow_pickle=False)
                return
    buf.write(bytes([_TAG_RAW]))
    np.save(buf, arr, allow_pickle=False)


def _read_array(buf: io.BytesIO) -> np.ndarray:
    tag = buf.read(1)[0]
    if tag == _TAG_BITS:
        shape = tuple(np.load(buf, allow_pickle=False))
        packed = np.load(buf, allow_pickle=False)
        n = int(np.prod(shape)) if shape else 1
        bits = np.unpackbits(packed, count=n, bitorder="little")
        return bits.astype(np.float64).reshape(shape)
    if tag == _TAG_CAST:
        dlen = buf.read(1)[0]
        dtype = np.dtype(buf.read(dlen).decode())
        return np.load(buf, allow_pickle=False).astype(dtype)
    return np.load(buf, allow_pickle=False)


def pack_state(spec: dict[str, Any], state: State) -> bytes:
    """Serialize spec + named arrays to self-describing bytes.

    The spec header travels with every partial so merge kernels can enforce
    compatibility exactly where the reference does (merge time).
    """
    buf = io.BytesIO()
    header = json.dumps(spec, sort_keys=True).encode()
    buf.write(_MAGIC)
    buf.write(len(header).to_bytes(4, "little"))
    buf.write(header)
    names = sorted(state)
    buf.write(len(names).to_bytes(4, "little"))
    for name in names:
        nb = name.encode()
        buf.write(len(nb).to_bytes(2, "little"))
        buf.write(nb)
        _write_array(buf, state[name])
    return buf.getvalue()


def unpack_state(raw: bytes) -> tuple[dict[str, Any], State]:
    buf = io.BytesIO(raw)
    magic = buf.read(5)
    if magic not in (_MAGIC, _MAGIC_V1):
        raise ValueError("not a packed sketch state")
    legacy = magic == _MAGIC_V1
    hlen = int.from_bytes(buf.read(4), "little")
    spec = json.loads(buf.read(hlen).decode())
    n = int.from_bytes(buf.read(4), "little")
    state: State = {}
    for _ in range(n):
        nlen = int.from_bytes(buf.read(2), "little")
        name = buf.read(nlen).decode()
        if legacy:
            state[name] = np.load(buf, allow_pickle=False)
        else:
            state[name] = _read_array(buf)
    return spec, state


class SketchKernel(ABC):
    """Config + pure functions over a mergeable state.

    ``update`` consumes a numpy int64 array of item ids (strings are hashed
    to int64 JVM-side via xxhash64 before reaching Python; integer columns
    pass through raw). All hashing/seeding beyond that is the kernel's job,
    vectorized.
    """

    #: associative & commutative merge? Order-dependent estimators
    #: (VoC pairwise, LiquidLegions sequential) set False and are folded
    #: on the driver in canonical order (SURVEY §4 note).
    associative: bool = True

    #: numpy dtype update() expects: "int64" for id sketches (strings are
    #: xxhash64'd JVM-side), "float64" for value sketches (quantiles).
    input_dtype: str = "int64"

    @abstractmethod
    def spec(self) -> dict[str, Any]:
        """JSON-able config; equality defines merge compatibility."""

    @abstractmethod
    def empty(self) -> State:
        ...

    @abstractmethod
    def update(self, state: State, values: np.ndarray) -> State:
        """Fold a batch of int64 ids into state. May mutate and return state."""

    @abstractmethod
    def merge(self, a: State, b: State) -> State:
        ...

    def estimate(self, state: State) -> list[float]:
        """Cardinality / k+-frequency histogram estimate (driver-side)."""
        raise NotImplementedError

    # --- transport helpers -------------------------------------------------
    def pack(self, state: State) -> bytes:
        return pack_state(self.spec(), state)

    def unpack(self, raw: bytes) -> State:
        spec, state = unpack_state(raw)
        mine = self.spec()
        if spec != mine:
            raise AssertionError(f"incompatible sketch states: {spec} != {mine}")
        return state

    def merge_packed(self, raws: list[bytes]) -> bytes:
        """Merge a list of packed states (compatibility-checked)."""
        acc = None
        for raw in raws:
            st = self.unpack(bytes(raw))
            acc = st if acc is None else self.merge(acc, st)
        if acc is None:
            acc = self.empty()
        return self.pack(acc)
