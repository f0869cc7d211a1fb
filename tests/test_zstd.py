"""Unit tests for the zstd decode behind ``zstd_roundtrip``
(``frame_decompress(payload, "zstd")``, pyarrow's zstd stream reader):
roundtrips of real libzstd output across levels and data shapes
(hypothesis-driven), concatenated and skippable frames, and loud
failures on corruption."""

from __future__ import annotations

import random

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyarrow import Codec

from inverted_index_using_the_map_reduce_paradigm_spark.operators.multimodal import (
    frame_decompress,
)


def _z(data: bytes, level: int = 3) -> bytes:
    return Codec("zstd", compression_level=level).compress(data, asbytes=True)


def _unz(payload: bytes) -> bytes:
    return frame_decompress(payload, "zstd")


@pytest.mark.parametrize("level", [1, 3, 9, 19])
@pytest.mark.parametrize(
    "shape",
    ["random", "words", "rle", "structured", "tiny", "empty"],
)
def test_zstd_roundtrips_real_libzstd(level, shape):
    rng = random.Random(hash((level, shape)) & 0xFFFF)
    if shape == "random":
        data = bytes(rng.randrange(256) for _ in range(20000))
    elif shape == "words":
        vocab = [f"w{k}" for k in range(40)]
        data = " ".join(rng.choice(vocab) for _ in range(30000)).encode()
    elif shape == "rle":
        data = bytes([7]) * 150000
    elif shape == "structured":
        data = b"".join(f"{i},{i * i}\n".encode() for i in range(20000))
    elif shape == "tiny":
        data = b"x"
    else:
        data = b""
    assert _unz(_z(data, level)) == data


def test_zstd_multiblock_exercises_treeless_and_repeat_modes():
    """> 128 KiB of compressible text spans multiple compressed blocks
    in one frame — later blocks may reuse the Huffman table (treeless
    literals) and FSE tables (repeat mode)."""
    rng = random.Random(99)
    vocab = [f"token{k}" for k in range(100)]
    data = " ".join(rng.choice(vocab) for _ in range(120000)).encode()
    assert len(data) > 400_000
    for level in (1, 19):
        assert _unz(_z(data, level)) == data


@given(st.binary(min_size=0, max_size=30000))
@settings(max_examples=25, deadline=None)
def test_zstd_roundtrips_arbitrary_bytes(data):
    assert _unz(_z(data)) == data


def test_zstd_loud_failures():
    data = b"hello zstd world " * 100
    z = _z(data)
    with pytest.raises(OSError, match="Unknown frame descriptor"):
        _unz(b"\x00" + z[1:])  # bad magic
    # declared frame content size must match the decode
    bad = bytearray(z)
    # FCS field: single-segment + fcs_flag=1 -> bytes 5..6
    bad[5] ^= 0xFF
    with pytest.raises(OSError, match="corruption"):
        _unz(bytes(bad))
    with pytest.raises(OSError, match="Truncated"):
        _unz(z[: len(z) // 2])
    with pytest.raises(ValueError, match="empty zstd payload"):
        _unz(b"")


def test_zstd_multi_frame_and_skippable():
    """.zst files are legally CONCATENATIONS of frames, optionally with
    skippable frames (seek tables, padding) between them: the decode
    splices the data frames and skips the 0x184D2A5x ones, and bytes
    after the last frame that start no frame fail loud."""
    a, b, c = b"first " * 40, b"", b"third frame content " * 25
    skip = (0x184D2A53).to_bytes(4, "little") + (9).to_bytes(4, "little") + b"seektable"
    blob = _z(a) + skip + _z(b) + _z(c, level=19)
    assert _unz(blob) == a + b + c
    with pytest.raises(OSError):
        _unz(_z(a) + b"trailing junk")
