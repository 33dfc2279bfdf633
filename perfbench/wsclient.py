"""Blocking RFC 6455 client for the benchmark.

It reads responses of any size (no message cap), and masks request
frames with numpy, so a frame can be built before its request is due and
the client's own cost stays out of the timed interval.
"""

from __future__ import annotations

import base64
import json
import os
import socket
import struct

import numpy as np

OP_CONT, OP_TEXT, OP_CLOSE, OP_PING, OP_PONG = 0x0, 0x1, 0x8, 0x9, 0xA


def masked_frame(payload: bytes, opcode: int = OP_TEXT) -> bytes:
    n = len(payload)
    if n < 126:
        head = struct.pack(">BB", 0x80 | opcode, 0x80 | n)
    elif n < 1 << 16:
        head = struct.pack(">BBH", 0x80 | opcode, 0x80 | 126, n)
    else:
        head = struct.pack(">BBQ", 0x80 | opcode, 0x80 | 127, n)
    mask = os.urandom(4)
    key = np.frombuffer(mask * (n // 4 + 1), np.uint8)[:n]
    body = (np.frombuffer(payload, np.uint8) ^ key).tobytes()
    return head + mask + body


def request(rid: int, method: str, params: dict | None = None) -> bytes:
    """A masked JSON-RPC request frame; ``id`` leads the object so a
    tracer can read it without parsing the whole message."""
    msg = {"id": rid, "jsonrpc": "2.0", "method": method, "params": params or {}}
    return masked_frame(json.dumps(msg).encode())


class WsConn:
    def __init__(self, port: int, host: str = "127.0.0.1"):
        self.sock = socket.create_connection((host, port))
        self.sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        key = base64.b64encode(os.urandom(16)).decode()
        self.sock.sendall(
            (
                f"GET / HTTP/1.1\r\nHost: {host}:{port}\r\nUpgrade: websocket\r\n"
                f"Connection: Upgrade\r\nSec-WebSocket-Key: {key}\r\n"
                "Sec-WebSocket-Version: 13\r\n\r\n"
            ).encode()
        )
        resp = b""
        while b"\r\n\r\n" not in resp:
            chunk = self.sock.recv(4096)
            if not chunk:
                raise ConnectionError("handshake: connection closed")
            resp += chunk
        if b" 101 " not in resp.split(b"\r\n", 1)[0]:
            raise ConnectionError(f"handshake rejected: {resp[:80]!r}")
        self._buf = bytearray(resp.split(b"\r\n\r\n", 1)[1])
        self.bytes_in = 0
        self._next_id = 0

    def _read(self, n: int) -> bytes:
        while len(self._buf) < n:
            chunk = self.sock.recv(max(n - len(self._buf), 1 << 16))
            if not chunk:
                raise ConnectionError("connection closed")
            self._buf += chunk
        out = bytes(self._buf[:n])
        del self._buf[:n]
        return out

    def send(self, frame: bytes) -> None:
        self.sock.sendall(frame)

    def recv(self) -> bytes:
        """One whole text message (fragments reassembled)."""
        parts = []
        while True:
            b1, b2 = self._read(2)
            n = b2 & 0x7F
            if n == 126:
                (n,) = struct.unpack(">H", self._read(2))
            elif n == 127:
                (n,) = struct.unpack(">Q", self._read(8))
            data = self._read(n)
            op = b1 & 0x0F
            if op == OP_CLOSE:
                raise ConnectionError("server closed the connection")
            if op in (OP_PING, OP_PONG):
                continue
            parts.append(data)
            self.bytes_in += n + 2
            if b1 & 0x80:
                return b"".join(parts)

    def next_id(self) -> int:
        self._next_id += 1
        return self._next_id

    def call(self, method: str, params: dict | None = None) -> dict:
        """Untimed convenience call; raises on a JSON-RPC error."""
        self.send(request(self.next_id(), method, params))
        resp = json.loads(self.recv())
        if "error" in resp:
            raise RuntimeError(f"{method}: {resp['error']}")
        return resp["result"]

    def close(self) -> None:
        try:
            self.sock.sendall(masked_frame(struct.pack(">H", 1000), OP_CLOSE))
        except OSError:
            pass
        self.sock.close()
