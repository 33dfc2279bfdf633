"""Minimal RFC 6455 WebSocket server over asyncio streams — stdlib only.

The reference serves its JSON-RPC handler over a WebSocket listener
(src/main.rs:181-184, rpc/handler.rs:11-43); this container has no
``websockets`` package, so the transport is implemented directly:

- HTTP/1.1 Upgrade handshake (Sec-WebSocket-Accept per RFC 6455 §4.2.2)
- frame decode: FIN/opcode, client masking (mandatory per §5.1),
  7/16/64-bit payload lengths, text fragmentation (continuation frames)
- frame encode: unmasked server frames
- control frames: close echo, ping → pong

One message → one handler call → one text reply, mirroring the
reference's request/response handler loop.
"""

from __future__ import annotations

import asyncio
import base64
import hashlib
import struct
from collections.abc import Callable

_GUID = "258EAFA5-E914-47DA-95CA-C5AB0DC85B11"

OP_CONT, OP_TEXT, OP_BINARY, OP_CLOSE, OP_PING, OP_PONG = 0x0, 0x1, 0x2, 0x8, 0x9, 0xA

# The client declares the payload length in the frame header and
# readexactly(n) buffers it fully, so an unchecked 64-bit length lets a
# single malicious header demand arbitrary server memory. Applies to
# individual frames AND to the reassembled fragmented message.
MAX_MESSAGE_BYTES = 16 * 1024 * 1024

CLOSE_TOO_BIG = 1009  # RFC 6455 §7.4.1 Message Too Big


class MessageTooBig(Exception):
    """A frame or reassembled message exceeded MAX_MESSAGE_BYTES."""


def accept_key(client_key: str) -> str:
    """Sec-WebSocket-Accept for a client's Sec-WebSocket-Key."""
    digest = hashlib.sha1((client_key + _GUID).encode("ascii")).digest()
    return base64.b64encode(digest).decode("ascii")


def apply_mask(data: bytes, mask: bytes) -> bytes:
    """XOR ``data`` with the 4-byte ``mask`` repeated (RFC 6455 §5.3) as
    one big-integer XOR over the whole buffer, not a Python step per
    byte. Masking and unmasking are the same operation."""
    n = len(data)
    key = (mask * (n // 4 + 1))[:n]
    return (int.from_bytes(data, "big") ^ int.from_bytes(key, "big")).to_bytes(n, "big")


def encode_frame(opcode: int, payload: bytes, mask: bytes | None = None) -> bytes:
    """Build one FIN frame. ``mask`` is only used by test clients —
    servers always send unmasked (§5.1)."""
    head = bytearray([0x80 | opcode])
    n = len(payload)
    mask_bit = 0x80 if mask else 0
    if n < 126:
        head.append(mask_bit | n)
    elif n < 1 << 16:
        head.append(mask_bit | 126)
        head += struct.pack(">H", n)
    else:
        head.append(mask_bit | 127)
        head += struct.pack(">Q", n)
    if mask:
        head += mask
        payload = apply_mask(payload, mask)
    return bytes(head) + payload


async def read_frame(
    reader: asyncio.StreamReader, max_bytes: int = MAX_MESSAGE_BYTES
) -> tuple[bool, int, bytes]:
    """Read one frame → (fin, opcode, unmasked payload). Raises
    MessageTooBig before buffering a payload over ``max_bytes``."""
    b1, b2 = await reader.readexactly(2)
    fin = bool(b1 & 0x80)
    opcode = b1 & 0x0F
    masked = bool(b2 & 0x80)
    n = b2 & 0x7F
    if n == 126:
        (n,) = struct.unpack(">H", await reader.readexactly(2))
    elif n == 127:
        (n,) = struct.unpack(">Q", await reader.readexactly(8))
    if n > max_bytes:
        raise MessageTooBig(f"frame payload {n} > {max_bytes}")
    mask = await reader.readexactly(4) if masked else None
    data = await reader.readexactly(n)
    if mask:
        data = apply_mask(data, mask)
    return fin, opcode, data


async def server_handshake(
    reader: asyncio.StreamReader, writer: asyncio.StreamWriter
) -> bool:
    """Perform the HTTP Upgrade; False (after a 400) if not a WS request."""
    try:
        request = await reader.readuntil(b"\r\n\r\n")
    except (asyncio.IncompleteReadError, asyncio.LimitOverrunError):
        return False
    headers: dict[str, str] = {}
    for line in request.decode("latin1").split("\r\n")[1:]:
        if ":" in line:
            k, v = line.split(":", 1)
            headers[k.strip().lower()] = v.strip()
    key = headers.get("sec-websocket-key")
    if not key or "websocket" not in headers.get("upgrade", "").lower():
        writer.write(b"HTTP/1.1 400 Bad Request\r\n\r\n")
        await writer.drain()
        return False
    writer.write(
        (
            "HTTP/1.1 101 Switching Protocols\r\n"
            "Upgrade: websocket\r\n"
            "Connection: Upgrade\r\n"
            f"Sec-WebSocket-Accept: {accept_key(key)}\r\n\r\n"
        ).encode("ascii")
    )
    await writer.drain()
    return True


async def serve_connection(
    reader: asyncio.StreamReader,
    writer: asyncio.StreamWriter,
    on_text: Callable[[str], str | None],
) -> None:
    """One connection: handshake, then message loop until close/EOF."""
    if not await server_handshake(reader, writer):
        writer.close()
        return
    frag_opcode: int | None = None
    buf = bytearray()
    try:
        while True:
            fin, opcode, data = await read_frame(reader)
            if opcode == OP_CLOSE:
                writer.write(encode_frame(OP_CLOSE, data[:2]))
                await writer.drain()
                break
            if opcode == OP_PING:
                writer.write(encode_frame(OP_PONG, data))
                await writer.drain()
                continue
            if opcode == OP_PONG:
                continue
            if opcode in (OP_TEXT, OP_BINARY):
                frag_opcode = opcode
                buf = bytearray(data)
            elif opcode == OP_CONT:
                if len(buf) + len(data) > MAX_MESSAGE_BYTES:
                    raise MessageTooBig("reassembled message too big")
                buf.extend(data)
            if fin and frag_opcode == OP_TEXT:
                reply = on_text(bytes(buf).decode("utf-8"))
                frag_opcode = None
                if reply is not None:
                    writer.write(encode_frame(OP_TEXT, reply.encode("utf-8")))
                    await writer.drain()
    except MessageTooBig:
        try:
            writer.write(encode_frame(OP_CLOSE, struct.pack(">H", CLOSE_TOO_BIG)))
            await writer.drain()
        except (ConnectionResetError, OSError):
            pass
    except (asyncio.IncompleteReadError, ConnectionResetError):
        pass
    finally:
        writer.close()


async def start_ws_server(
    on_text: Callable[[str], str | None], host: str, port: int
) -> asyncio.AbstractServer:
    """Listen and serve WebSocket connections; returns the asyncio server
    (caller closes it). ``port=0`` picks an ephemeral port (tests)."""

    async def conn(reader, writer):
        await serve_connection(reader, writer, on_text)

    return await asyncio.start_server(conn, host, port)


# ---------------------------------------------------------------------------
# client side (used by the loopback tests; also a minimal real client)
# ---------------------------------------------------------------------------


async def client_connect(
    host: str, port: int
) -> tuple[asyncio.StreamReader, asyncio.StreamWriter]:
    """Open a connection and perform the client handshake."""
    reader, writer = await asyncio.open_connection(host, port)
    key = base64.b64encode(b"0123456789abcdef").decode("ascii")
    writer.write(
        (
            f"GET / HTTP/1.1\r\nHost: {host}:{port}\r\n"
            "Upgrade: websocket\r\nConnection: Upgrade\r\n"
            f"Sec-WebSocket-Key: {key}\r\nSec-WebSocket-Version: 13\r\n\r\n"
        ).encode("ascii")
    )
    await writer.drain()
    response = await reader.readuntil(b"\r\n\r\n")
    status = response.split(b"\r\n", 1)[0]
    if b"101" not in status:
        raise ConnectionError(f"handshake rejected: {status!r}")
    expected = accept_key(key).encode("ascii")
    if expected not in response:
        raise ConnectionError("bad Sec-WebSocket-Accept")
    return reader, writer


async def client_send_text(writer: asyncio.StreamWriter, text: str) -> None:
    """Client frames MUST be masked (§5.1)."""
    writer.write(encode_frame(OP_TEXT, text.encode("utf-8"), mask=b"\x1b\x2c\x3d\x4e"))
    await writer.drain()


async def client_recv_text(reader: asyncio.StreamReader) -> str:
    buf = bytearray()
    while True:
        fin, opcode, data = await read_frame(reader)
        if opcode == OP_PING:
            continue  # test client ignores pings
        if opcode == OP_CLOSE:
            raise ConnectionError("closed")
        if opcode in (OP_TEXT, OP_CONT):
            buf.extend(data)
        if fin and opcode in (OP_TEXT, OP_CONT):
            return bytes(buf).decode("utf-8")
