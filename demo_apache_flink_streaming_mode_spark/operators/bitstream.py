"""Bit-level plumbing shared by every codec in ``operators.multimodal``
and ``operators.compression``.

- **Bitstreams**: one writer/reader pair per bit order. MSB-first
  (bzip2, JPEG, FLAC, MDC1, MCV1/2/4, PAC1) and LSB-first (DEFLATE,
  GIF LZW). Readers buffer whole bytes, so a ``k``-bit read is one
  call, not ``k``; reading past the end raises ``ValueError("truncated
  <what>")`` with the codec's own stream name.
- **Canonical Huffman**: one assignment from code lengths (RFC 1951
  §3.2.2 discipline: increasing length, symbol order within a length),
  its inversion into an encode table, and one bit-serial symbol decode.
- **Rice coding**: zigzag-mapped signed ints behind a 4-bit Rice
  parameter chosen from their mean magnitude (FLAC's residual shape).
"""
from __future__ import annotations


class MsbWriter:
    """MSB-first bit writer; ``data`` seeds the output with whole bytes."""

    __slots__ = ("out", "acc", "n")

    def __init__(self, data: bytes = b"") -> None:
        self.out = bytearray(data)
        self.acc = self.n = 0

    def put(self, v: int, k: int) -> None:
        self.acc = (self.acc << k) | (v & ((1 << k) - 1))
        self.n += k
        while self.n >= 8:
            self.n -= 8
            self.out.append((self.acc >> self.n) & 0xFF)
        self.acc &= (1 << self.n) - 1

    def unary(self, q: int) -> None:
        """``q`` zero bits, then a one."""
        self.put(1, q + 1)

    def align(self, fill: int = 0) -> None:
        """Pad to a byte boundary with ``fill`` (0 or 1) bits."""
        if self.n:
            self.put(-fill, 8 - self.n)

    def flush(self, fill: int = 0) -> bytes:
        self.align(fill)
        return bytes(self.out)


class MsbReader:
    """MSB-first bit reader over ``data`` from byte ``pos``. After
    :meth:`align`, ``pos`` is the byte position of the next unread
    byte."""

    __slots__ = ("data", "pos", "what", "acc", "n")

    def __init__(self, data: bytes, pos: int = 0,
                 what: str = "bitstream") -> None:
        self.data, self.pos, self.what = data, pos, what
        self.acc = self.n = 0

    def bits(self, k: int) -> int:
        while self.n < k:
            if self.pos >= len(self.data):
                raise ValueError(f"truncated {self.what}")
            self.acc = (self.acc << 8) | self.data[self.pos]
            self.pos += 1
            self.n += 8
        self.n -= k
        v = self.acc >> self.n
        self.acc &= (1 << self.n) - 1
        return v

    def unary(self) -> int:
        """Count zero bits up to the terminating one (consumed too),
        a buffered byte at a time."""
        q = 0
        while not self.acc:             # every buffered bit is a zero
            q += self.n
            if self.pos >= len(self.data):
                raise ValueError(f"truncated {self.what}")
            self.acc, self.n = self.data[self.pos], 8
            self.pos += 1
        z = self.n - self.acc.bit_length()
        self.n -= z + 1
        self.acc &= (1 << self.n) - 1
        return q + z

    def align(self) -> None:
        self.acc = self.n = 0


class LsbWriter:
    """LSB-first bit writer; ``put`` takes values that fit ``k`` bits."""

    __slots__ = ("out", "acc", "n")

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = self.n = 0

    def put(self, v: int, k: int) -> None:
        self.acc |= v << self.n
        self.n += k
        while self.n >= 8:
            self.out.append(self.acc & 0xFF)
            self.acc >>= 8
            self.n -= 8

    def align(self) -> None:
        if self.n:
            self.put(0, 8 - self.n)

    def flush(self) -> bytes:
        self.align()
        return bytes(self.out)


class LsbReader:
    """LSB-first bit reader over ``data`` from byte ``pos``; ``pos``
    after :meth:`align` as in :class:`MsbReader`."""

    __slots__ = ("data", "pos", "what", "acc", "n")

    def __init__(self, data: bytes, pos: int = 0,
                 what: str = "bitstream") -> None:
        self.data, self.pos, self.what = data, pos, what
        self.acc = self.n = 0

    def bits(self, k: int) -> int:
        while self.n < k:
            if self.pos >= len(self.data):
                raise ValueError(f"truncated {self.what}")
            self.acc |= self.data[self.pos] << self.n
            self.pos += 1
            self.n += 8
        v = self.acc & ((1 << k) - 1)
        self.acc >>= k
        self.n -= k
        return v

    def align(self) -> None:
        self.acc = self.n = 0


# --- canonical Huffman -----------------------------------------------------


def canonical_table(lengths: list[int]) -> dict[tuple[int, int], int]:
    """Canonical Huffman decode table from per-symbol code lengths
    (0 = unused): (code_len, code) -> symbol, codes assigned in symbol
    order within each length (RFC 1951 §3.2.2; bzip2 and JPEG Annex C
    use the same discipline).

    Rejects OVER-subscribed length sets (Kraft sum > 1): without the
    check two symbols silently share a (len, code) key and the
    corruption surfaces only at a checksum far downstream. Incomplete
    sets (Kraft sum < 1) are legal: RFC 1951's fixed distance table
    assigns 30 of 32 five-bit codes, and one-code tables occur."""
    table: dict[tuple[int, int], int] = {}
    code = prev_ln = 0
    for ln, sym in sorted(zip(lengths, range(len(lengths)))):
        if not ln:
            continue                    # unused symbol
        code <<= ln - prev_ln           # one doubling per length step
        prev_ln = ln
        if code >= (1 << ln):
            raise ValueError(
                f"over-subscribed Huffman code lengths: length {ln} "
                f"overflows its {1 << ln}-code space")
        table[(ln, code)] = sym
        code += 1
    return table


def encode_table(table: dict[tuple[int, int], int]
                 ) -> dict[int, tuple[int, int]]:
    """Invert a :func:`canonical_table`: symbol -> (code, code_len),
    the argument order of ``put``."""
    return {sym: (code, ln) for (ln, code), sym in table.items()}


def read_symbol(r: MsbReader | LsbReader,
                table: dict[tuple[int, int], int], max_len: int) -> int:
    """Decode one symbol, reading the code a bit at a time MSB-of-code
    first (in either stream bit order)."""
    code = ln = 0
    while ln < max_len:
        code = (code << 1) | r.bits(1)
        ln += 1
        sym = table.get((ln, code))
        if sym is not None:
            return sym
    raise ValueError(f"invalid Huffman code in {r.what}")


# --- Rice coding -----------------------------------------------------------


def zigzag(v: int) -> int:
    """Signed -> unsigned: 0, -1, 1, -2, ... -> 0, 1, 2, 3, ..."""
    return (v << 1) if v >= 0 else ((-v) << 1) - 1


def unzigzag(z: int) -> int:
    return (z >> 1) if z % 2 == 0 else -((z + 1) >> 1)


def rice_put(w: MsbWriter, vals) -> None:
    """A 4-bit Rice parameter (bit length of the floor mean magnitude,
    capped at 14) then each value zigzagged and Rice-coded: unary
    quotient, ``rice`` low bits."""
    vals = [int(v) for v in vals]
    mean = sum(abs(v) for v in vals) // len(vals) if vals else 0
    rice = min(14, mean.bit_length())
    w.put(rice, 4)
    for v in vals:
        z = zigzag(v)
        w.unary(z >> rice)
        w.put(z, rice)


def rice_get(r: MsbReader, count: int) -> list[int]:
    """Inverse of :func:`rice_put` for ``count`` values."""
    rice = r.bits(4)
    return [unzigzag((r.unary() << rice) | r.bits(rice))
            for _ in range(count)]
