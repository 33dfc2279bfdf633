"""Masked WebSocket frames round-trip through ``encode_frame`` and
``read_frame`` at every payload-length boundary of RFC 6455 §5.2 (7-bit,
16-bit and 64-bit lengths), and the whole-buffer mask equals the
per-byte XOR of §5.3."""

import asyncio
import os

import pytest

from bq_duckdb_spark.wsproto import OP_BINARY, apply_mask, encode_frame, read_frame

MASK = b"\x1b\x2c\x3d\x4e"


def _per_byte(data: bytes, mask: bytes) -> bytes:
    return bytes(b ^ mask[i % 4] for i, b in enumerate(data))


async def _read(frame: bytes):
    reader = asyncio.StreamReader()
    reader.feed_data(frame)
    reader.feed_eof()
    return await read_frame(reader)


@pytest.mark.parametrize("n", [0, 1, 5, 125, 126, 65535, 65536, 1 << 20])
def test_masked_round_trip(n):
    payload = os.urandom(n)
    frame = encode_frame(OP_BINARY, payload, mask=MASK)
    assert frame.endswith(MASK + _per_byte(payload, MASK))
    assert asyncio.run(_read(frame)) == (True, OP_BINARY, payload)


def test_mask_keeps_leading_zero_bytes():
    data = MASK[:2] + b"\x00" * 9
    assert apply_mask(data, MASK) == _per_byte(data, MASK)
    assert apply_mask(apply_mask(data, MASK), MASK) == data
