"""Spark-compatible XXH64 as generated DuckDB SQL — what upgrades the
xxhash64 production dedup entries (MinHash banding, SimHash, n-gram
Jaccard) from rows-only to full value-checked oracles.

Spark's ``xxhash64`` is XXH64 with seed 42: LONG columns hash via the
dedicated ``hashLong`` path, STRING columns via the byte-stream path
over UTF-8, and multi-argument calls chain (each field hashed with the
previous result as seed). Both paths are plain 64-bit integer
arithmetic, reproduced here in HUGEINT-backed SQL (every multiply mod
2^64 splits through 32-bit halves — a full 64x64 product overflows
even HUGEINT).

Expression discipline: every intermediate binds through a
single-element ``list_transform`` lambda (a poor man's LET) — naive
textual substitution re-inlines each stage into the next and grows the
SQL exponentially (the avalanche alone would copy its argument ~800x).
With lets, one hash is a few KB of SQL regardless of composition
depth.

Scope (self-flagging, not silently wrong): the string path implements
lengths < 32 bytes over single-byte characters — tokens, in practice.
Spark's >= 32-byte stripe loop deviates from reference XXH64 and is
deliberately not reproduced; a longer or multi-byte token changes the
DuckDB value, so the oracle MISMATCHES loudly instead of passing
silently. The production banding hashes band minima as chained LONGS
(no long strings anywhere in the pipeline).

The Python mirror (``py_hash_long`` / ``py_hash_bytes``) exists so
tests can triangulate Spark == Python == DuckDB on random inputs.
"""

from __future__ import annotations

import itertools

M64 = (1 << 64) - 1
P1 = 0x9E3779B185EBCA87
P2 = 0xC2B2AE3D27D4EB4F
P3 = 0x165667B19E3779F9
P4 = 0x85EBCA77C2B2AE63
P5 = 0x27D4EB2F165667C5
SEED = 42
_W = 18446744073709551616  # 2^64


# ---------------------------------------------------------------------------
# Python mirror (validated against Spark in tests)
# ---------------------------------------------------------------------------


def _rotl(v: int, r: int) -> int:
    return ((v << r) | (v >> (64 - r))) & M64


def _fmix(h: int) -> int:
    h ^= h >> 33
    h = (h * P2) & M64
    h ^= h >> 29
    h = (h * P3) & M64
    h ^= h >> 32
    return h


def py_hash_long(l: int, seed: int = SEED) -> int:
    """XXH64 hashLong (unsigned in, unsigned out)."""
    h = (seed + P5 + 8) & M64
    k1 = _rotl((l * P2) & M64, 31)
    k1 = (k1 * P1) & M64
    h ^= k1
    h = (_rotl(h, 27) * P1 + P4) & M64
    return _fmix(h)


def py_hash_bytes(b: bytes, seed: int = SEED) -> int:
    """XXH64 over < 32 bytes (unsigned out); matches Spark for these
    lengths (validated in tests)."""
    assert len(b) < 32
    n = len(b)
    h = (seed + P5 + n) & M64
    i = 0
    while i <= n - 8:
        w = int.from_bytes(b[i : i + 8], "little")
        k1 = (_rotl((w * P2) & M64, 31) * P1) & M64
        h ^= k1
        h = (_rotl(h, 27) * P1 + P4) & M64
        i += 8
    if i <= n - 4:
        w = int.from_bytes(b[i : i + 4], "little")
        h ^= (w * P1) & M64
        h = (_rotl(h, 23) * P2 + P3) & M64
        i += 4
    while i < n:
        h ^= (b[i] * P5) & M64
        h = (_rotl(h, 11) * P1) & M64
        i += 1
    return _fmix(h)


def to_signed(v: int) -> int:
    return v - _W if v >= (1 << 63) else v


def to_unsigned(v: int) -> int:
    return v + _W if v < 0 else v


# ---------------------------------------------------------------------------
# SQL generation. DuckDB inlines CTEs, lateral aliases, and macros at
# bind time, so ANY chained-expression formulation explodes
# exponentially (each stage references its input 2-3x; ~20 stages is
# 3^20 nodes). The only linear structure is a chain of MATERIALIZED
# CTEs: each stage is one relation adding a column or two, referencing
# REAL columns of the previous materialized stage. One hash step
# (word merge, byte merge, avalanche) per stage keeps the intra-stage
# inline expansion bounded (~3^6 nodes on tiny leaves).
# All intermediate values are unsigned u64 carried as HUGEINT.
# ---------------------------------------------------------------------------


def _mm(a: str, b: str) -> str:
    """(a * b) mod 2^64 without overflowing HUGEINT: split a into
    32-bit halves; each partial product stays <= 2^96. ``a``/``b``
    should be column references or literals (referenced <= 3x)."""
    return (
        f"((({a} % 4294967296) * {b}"
        f" + ((({a} // 4294967296) * ({b} % 4294967296)) % 4294967296)"
        f" * 4294967296) % {_W}::HUGEINT)"
    )


def _rotl_sql(v: str, r: int) -> str:
    return f"({_mm(v, str(1 << r))} + {v} // {1 << (64 - r)}) % {_W}::HUGEINT"


def _xor_sql(a: str, b: str) -> str:
    def sgn(x: str) -> str:
        return (
            f"CAST(CASE WHEN {x} >= 9223372036854775808 "
            f"THEN {x} - {_W} ELSE {x} END AS BIGINT)"
        )

    return (
        f"((CAST(xor({sgn(a)}, {sgn(b)}) AS HUGEINT) % {_W} + {_W}) % {_W})"
    )


def _fmix_a(h: str) -> str:  # stage 1 of the avalanche
    return _mm(_xor_sql(h, f"({h} // 8589934592)"), str(P2))


def _fmix_b(h: str) -> str:  # stage 2
    return _mm(_xor_sql(h, f"({h} // 536870912)"), str(P3))


def _fmix_c(h: str) -> str:  # stage 3
    return _xor_sql(h, f"({h} // 4294967296)")


def unsigned(e: str) -> str:
    return f"((CAST({e} AS HUGEINT) % {_W} + {_W}) % {_W})"


def signed(e: str) -> str:
    return (
        f"CAST(CASE WHEN {e} >= 9223372036854775808 "
        f"THEN {e} - {_W} ELSE {e} END AS BIGINT)"
    )


class StageChain:
    """Builds a chain of MATERIALIZED CTEs: each append produces a new
    relation = previous relation's carried columns + new columns."""

    def __init__(self, base_name: str, base_sql: str, carry: list[str]):
        self.ctes: list[tuple[str, str]] = [(base_name, base_sql)]
        self.carry = list(carry)
        self.cur = base_name
        self._n = 0

    def stage(self, new_cols: dict[str, str], drop: list[str] | None = None):
        """Append one stage; ``new_cols`` expressions reference columns
        of the current relation. ``drop`` prunes carried columns no
        longer needed downstream."""
        self._n += 1
        name = f"{self.ctes[0][0]}_s{self._n}"
        keep = [c for c in self.carry if not (drop and c in drop)]
        cols = ", ".join(keep + [f"{e} AS {n}" for n, e in new_cols.items()])
        self.ctes.append((name, f"SELECT {cols} FROM {self.cur}"))
        self.carry = keep + list(new_cols)
        self.cur = name
        return name

    def render_ctes(self) -> str:
        return ",\n".join(
            f"{n} AS MATERIALIZED (\n{q}\n)" for n, q in self.ctes
        )


def add_word_step_stages(
    chain: StageChain, acc: str, w: str, out: str, drop_inputs: bool = True
) -> None:
    """One 8-byte-word merge decomposed into three stages — textual
    composition of the whole step inlines ~30-60 KB per use, while
    staged sub-results keep every expression a few hundred bytes."""
    k1, x = f"{out}__k1", f"{out}__x"
    chain.stage({k1: _mm(_rotl_sql(_mm(w, str(P2)), 31), str(P1))})
    chain.stage({x: _xor_sql(acc, k1)}, drop=[k1])
    chain.stage(
        {out: f"({_mm(_rotl_sql(x, 27), str(P1))} + {P4}) % {_W}::HUGEINT"},
        drop=[x] + ([acc, w] if drop_inputs else []),
    )


def add_hash_long_stages(
    chain: StageChain, v_col: str, seed_col: str, out: str
) -> None:
    """Stages computing Spark xxhash64 of signed-BIGINT column
    ``v_col`` with unsigned seed column ``seed_col`` into ``out``."""
    u, h0, h1, f1, f2 = (f"{out}__u", f"{out}__h0", f"{out}__h1",
                          f"{out}__f1", f"{out}__f2")
    chain.stage({u: unsigned(v_col),
                 h0: f"(({seed_col} + {P5} + 8) % {_W}::HUGEINT)"})
    add_word_step_stages(chain, h0, u, h1)
    chain.stage({f1: _fmix_a(h1)}, drop=[h1])
    chain.stage({f2: _fmix_b(f1)}, drop=[f1])
    chain.stage({out: _fmix_c(f2)}, drop=[f2])


def add_hash_string_stages(chain: StageChain, s_col: str, out: str) -> None:
    """Stages computing Spark xxhash64 of single-byte-charset string
    column ``s_col`` (< 32 bytes; longer/multibyte self-flags by
    mismatching) into unsigned column ``out``."""
    n = f"{out}__n"

    def byte(pos: str) -> str:
        # out-of-range substr -> ord() = -1; sub-stages compute every
        # word/tail candidate UNCONDITIONALLY (the selecting CASE comes
        # later), so clamp to keep the modular arithmetic non-negative —
        # clamped positions only ever feed discarded branches
        return (
            f"greatest(CAST(ord(substr({s_col}, CAST({pos} AS INT), 1)) "
            f"AS HUGEINT), 0::HUGEINT)"
        )

    chain.stage({n: f"CAST(strlen({s_col}) AS BIGINT)",
                 f"{out}__h": f"((42 + {P5} + CAST(strlen({s_col}) AS BIGINT)) % {_W}::HUGEINT)"})
    h = f"{out}__h"
    for wi in range(3):  # <= 3 full 8-byte words when n < 32
        w = f"{out}__w{wi}"
        chain.stage({w: "(" + " + ".join(
            f"{byte(str(wi * 8 + b + 1))} * {1 << (8 * b)}::HUGEINT"
            for b in range(8)) + ")"})
        stepped = f"{out}__st{wi}"
        add_word_step_stages(chain, h, w, stepped, drop_inputs=False)
        nh = f"{out}__hw{wi}"
        chain.stage(
            {nh: f"CASE WHEN {n} >= {(wi + 1) * 8} THEN {stepped} "
                 f"ELSE {h} END"},
            drop=[w, h, stepped],
        )
        h = nh
    w4 = f"{out}__w4"
    chain.stage({w4: "(" + " + ".join(
        f"{byte(f'{n} // 8 * 8 + {b + 1}')} * {1 << (8 * b)}::HUGEINT"
        for b in range(4)) + ")"})
    x4 = f"{out}__x4"
    chain.stage({f"{out}__w4p": _mm(w4, str(P1))}, drop=[w4])
    chain.stage({x4: _xor_sql(h, f"{out}__w4p")}, drop=[f"{out}__w4p"])
    four = f"{out}__4s"
    chain.stage(
        {four: f"({_mm(_rotl_sql(x4, 23), str(P2))} + {P3}) % {_W}::HUGEINT"},
        drop=[x4],
    )
    h4 = f"{out}__h4"
    chain.stage({h4: f"CASE WHEN {n} % 8 >= 4 THEN {four} ELSE {h} END"},
                drop=[four, h])
    h = h4
    for bi in range(3):  # <= 3 tail bytes after the 4-byte block
        b = f"{out}__b{bi}"
        chain.stage({b: byte(f"{n} // 4 * 4 + {bi + 1}")})
        xb = f"{out}__xb{bi}"
        chain.stage({f"{out}__bp{bi}": _mm(b, str(P5))}, drop=[b])
        chain.stage({xb: _xor_sql(h, f"{out}__bp{bi}")}, drop=[f"{out}__bp{bi}"])
        stp = f"{out}__bs{bi}"
        chain.stage({stp: _mm(_rotl_sql(xb, 11), str(P1))}, drop=[xb])
        nh = f"{out}__hb{bi}"
        chain.stage(
            {nh: f"CASE WHEN {n} >= {n} // 4 * 4 + {bi + 1} THEN {stp} "
                 f"ELSE {h} END"},
            drop=[stp, h],
        )
        h = nh
    chain.stage({f"{out}__f1": _fmix_a(h)}, drop=[h])
    chain.stage({f"{out}__f2": _fmix_b(f"{out}__f1")}, drop=[f"{out}__f1"])
    chain.stage({out: _fmix_c(f"{out}__f2")}, drop=[f"{out}__f2", n])


def add_hash_long_stages_multi(
    chain: "StageChain", triples: list[tuple[str, str, str]]
) -> None:
    """Parallel hashLong chains in SHARED stages: each (v_col,
    seed_col, out) triple advances through the same five stage CTEs —
    8 band buckets cost 5 stages of 8 columns instead of 40 stages."""
    g = lambda o, s: f"{o}__{s}"
    chain.stage(
        {
            **{g(o, "u"): unsigned(v) for v, _, o in triples},
            **{g(o, "h0"): f"(({s} + {P5} + 8) % {_W}::HUGEINT)"
               for _, s, o in triples},
        }
    )
    chain.stage(
        {g(o, "k1"): _mm(_rotl_sql(_mm(g(o, "u"), str(P2)), 31), str(P1))
         for _, _, o in triples},
        drop=[g(o, "u") for _, _, o in triples],
    )
    chain.stage(
        {g(o, "x"): _xor_sql(g(o, "h0"), g(o, "k1")) for _, _, o in triples},
        drop=[g(o, s) for _, _, o in triples for s in ("h0", "k1")],
    )
    chain.stage(
        {g(o, "h1"): f"({_mm(_rotl_sql(g(o, 'x'), 27), str(P1))} + {P4})"
                     f" % {_W}::HUGEINT" for _, _, o in triples},
        drop=[g(o, "x") for _, _, o in triples],
    )
    chain.stage(
        {g(o, "f1"): _fmix_a(g(o, "h1")) for _, _, o in triples},
        drop=[g(o, "h1") for _, _, o in triples],
    )
    chain.stage(
        {g(o, "f2"): _fmix_b(g(o, "f1")) for _, _, o in triples},
        drop=[g(o, "f1") for _, _, o in triples],
    )
    chain.stage(
        {o: _fmix_c(g(o, "f2")) for _, _, o in triples},
        drop=[g(o, "f2") for _, _, o in triples],
    )
