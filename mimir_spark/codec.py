"""Chunk codec: delta-of-delta timestamps + Gorilla XOR values.

This is the engine's analogue of the reference's posting-list encoding
(delta-encoded doc pointers + quasi-succinct bitstreams,
``/root/reference/mimir-core/src/main/java/gate/mimir/index/AtomicIndex.java:139-218,962-969``):
same role — order-exploiting delta compression of a sorted stream —
different codec, per the Gorilla paper (Pelkonen et al., VLDB 2015).

The encoder is FULLY VECTORIZED numpy: it encodes *many* chunks
(contiguous groups of one flat (ts, value) array) in a single pass with
no per-point Python. This is what makes the Arrow/pandas-UDF chunk
builder scale: a partition with 100k (series, bucket) groups is one
numpy call, not 100k Python loops.

## Chunk format v1 (little-endian header, MSB-first bitstreams)

    byte 0      : magic 0xC5
    byte 1      : version = 1
    bytes 2-5   : n_points      uint32 LE
    bytes 6-9   : ts_stream_nbits  uint32 LE
    bytes 10-13 : val_stream_nbits uint32 LE
    then ceil(ts_nbits/8) bytes of ts stream, ceil(val_nbits/8) of values

## Timestamp stream (int64 epoch-micros)

    point 0   : raw 64 bits (two's complement)
    point 1   : delta0 = ts[1]-ts[0], raw 64 bits
    point i>=2: dod = (ts[i]-ts[i-1]) - (ts[i-1]-ts[i-2])
        dod == 0             -> '0'
        -63   <= dod <= 64   -> '10'   + 7 bits of (dod+63)
        -255  <= dod <= 256  -> '110'  + 9 bits of (dod+255)
        -2047 <= dod <= 2048 -> '1110' + 12 bits of (dod+2047)
        else                 -> '1111' + 64 bits raw

## Value stream (float64, XORed bit patterns)

    point 0   : raw 64 bits
    point i>=1, xor = bits(v[i]) ^ bits(v[i-1]):
        xor == 0 -> '0'
        else, with window(x) = (lead_c(x) = min(clz(x),31), trail(x) = ctz(x),
                                mlen(x) = 64 - lead_c - trail):
          if i >= 2 and xor[i-1] != 0 and lead_c(xor_i) >= lead_c(xor_{i-1})
                                      and trail(xor_i)  >= trail(xor_{i-1}):
            '10' + mlen(xor_{i-1}) bits of (xor_i >> trail(xor_{i-1}))
          else:
            '11' + 5 bits lead_c + 6 bits (mlen-1) + mlen bits of (xor_i >> trail)

The window-reuse rule is a *stateless* variant of classic Gorilla: the
reusable window derives from the immediately previous xor value (which
the decoder has already reconstructed), not from a running register.
That keeps the encoder embarrassingly parallel / vectorizable while
retaining nearly all of the compression win.
"""

from __future__ import annotations

import struct

import numpy as np

MAGIC = 0xC5
VERSION = 1
LEGACY_VERSION = 0  # uncompressed: raw int64 ts + float64 vals
_HEADER = struct.Struct("<BBIII")
HEADER_LEN = _HEADER.size  # 14 bytes

_POW2 = (np.uint64(1) << np.arange(64, dtype=np.uint64)).astype(np.uint64)


# ---------------------------------------------------------------------------
# bit packing primitives
# ---------------------------------------------------------------------------

def pack_bits(values: np.ndarray, nbits: np.ndarray) -> np.ndarray:
    """Concatenate variable-width big-endian bit fields -> uint8 array.

    ``values[i]`` contributes its ``nbits[i]`` least-significant bits,
    MSB first. Zero-width entries contribute nothing. Output is padded
    with zero bits to a byte boundary.
    """
    values = np.ascontiguousarray(values, dtype=np.uint64)
    nbits = np.ascontiguousarray(nbits, dtype=np.int64)
    keep = nbits > 0
    if not keep.all():
        values, nbits = values[keep], nbits[keep]
    total = int(nbits.sum())
    if total == 0:
        return np.zeros(0, dtype=np.uint8)
    # mask to declared width so stray high bits can't corrupt neighbors
    safe_w = np.minimum(nbits, 63).astype(np.uint64)
    width_mask = np.where(nbits >= 64, np.uint64(0xFFFFFFFFFFFFFFFF),
                          (np.uint64(1) << safe_w) - np.uint64(1))
    values = values & width_mask
    ends = np.cumsum(nbits)
    starts = ends - nbits
    nbytes = (total + 7) // 8
    nwords = (total + 63) // 64
    # Word-based scatter: an entry (<= 64 bits) at arbitrary bit offset
    # spans at most 2 consecutive uint64 words. Entries sharing a word
    # occupy disjoint bits, so their contributions sum without carries;
    # np.bincount accumulates exactly when fed 32-bit halves (< 2^53).
    word = starts >> 6
    off = starts & 63  # bit offset of entry MSB within its word
    sh0 = 64 - off - nbits
    c0 = np.empty(len(values), dtype=np.uint64)
    m = sh0 >= 0
    c0[m] = values[m] << sh0[m].astype(np.uint64)
    c0[~m] = values[~m] >> (-sh0[~m]).astype(np.uint64)
    lo32 = np.uint64(0xFFFFFFFF)
    acc_hi = np.bincount(word, weights=(c0 >> np.uint64(32)).astype(np.float64),
                         minlength=nwords)
    acc_lo = np.bincount(word, weights=(c0 & lo32).astype(np.float64),
                         minlength=nwords)
    spill = ~m
    if spill.any():
        c1 = values[spill] << (64 + sh0[spill]).astype(np.uint64)
        w1 = word[spill] + 1
        acc_hi += np.bincount(w1, weights=(c1 >> np.uint64(32)).astype(np.float64),
                              minlength=nwords)
        acc_lo += np.bincount(w1, weights=(c1 & lo32).astype(np.float64),
                              minlength=nwords)
    words = ((acc_hi.astype(np.uint64) << np.uint64(32))
             | acc_lo.astype(np.uint64))
    return np.frombuffer(words.astype(">u8").tobytes()[:nbytes], dtype=np.uint8).copy()


class BitReader:
    """Sequential MSB-first reader over a byte buffer.

    Fields are extracted with byte-window integer arithmetic (a field
    of <= 64 bits spans <= 9 bytes), not per-bit loops."""

    __slots__ = ("buf", "pos", "nbits")

    def __init__(self, buf: bytes | np.ndarray, nbits: int):
        self.buf = bytes(buf) if not isinstance(buf, bytes) else buf
        self.nbits = nbits
        self.pos = 0

    def read(self, n: int) -> int:
        pos = self.pos
        end = pos + n
        if end > self.nbits:
            raise ValueError("bitstream underflow")
        b0 = pos >> 3
        b1 = (end + 7) >> 3
        window = int.from_bytes(self.buf[b0:b1], "big")
        self.pos = end
        return (window >> ((b1 << 3) - end)) & ((1 << n) - 1)

    def read_bit(self) -> int:
        pos = self.pos
        if pos >= self.nbits:
            raise ValueError("bitstream underflow")
        self.pos = pos + 1
        return (self.buf[pos >> 3] >> (7 - (pos & 7))) & 1


# ---------------------------------------------------------------------------
# vectorized bit math
# ---------------------------------------------------------------------------

def _bit_length(x: np.ndarray) -> np.ndarray:
    """Vectorized bit_length for uint64 (0 -> 0)."""
    return np.searchsorted(_POW2, x, side="right").astype(np.int64)


def _clz64(x: np.ndarray) -> np.ndarray:
    """Leading zero count for uint64; 64 for x == 0."""
    return 64 - _bit_length(x)


def _ctz64(x: np.ndarray) -> np.ndarray:
    """Trailing zero count for uint64; 64 for x == 0."""
    with np.errstate(over="ignore"):
        lsb = x & (np.uint64(0) - x)
    out = _bit_length(lsb) - 1
    out[x == 0] = 64
    return out


# ---------------------------------------------------------------------------
# vectorized multi-chunk encoder
# ---------------------------------------------------------------------------

def _ts_entries(ts: np.ndarray, is_first: np.ndarray, is_second: np.ndarray):
    """Per-point (ctrl, payload) bit fields for the timestamp stream.

    Returns element-major (values, nbits) with 2 entries per point.
    """
    n = len(ts)
    ts_u = ts.view(np.uint64)
    delta = np.zeros(n, dtype=np.int64)
    if n > 1:
        delta[1:] = ts[1:] - ts[:-1]
    dod = np.zeros(n, dtype=np.int64)
    if n > 2:
        dod[2:] = delta[2:] - delta[1:-1]

    ctrl_val = np.zeros(n, dtype=np.uint64)
    ctrl_bits = np.zeros(n, dtype=np.int64)
    pay_val = np.zeros(n, dtype=np.uint64)
    pay_bits = np.zeros(n, dtype=np.int64)

    rest = ~(is_first | is_second)
    b1 = rest & (dod == 0)
    b2 = rest & ~b1 & (dod >= -63) & (dod <= 64)
    b3 = rest & ~b1 & ~b2 & (dod >= -255) & (dod <= 256)
    b4 = rest & ~b1 & ~b2 & ~b3 & (dod >= -2047) & (dod <= 2048)
    b5 = rest & ~b1 & ~b2 & ~b3 & ~b4

    # headers: raw ts / raw delta0
    pay_val[is_first] = ts_u[is_first]
    pay_bits[is_first] = 64
    pay_val[is_second] = delta[is_second].view(np.uint64)
    pay_bits[is_second] = 64

    ctrl_val[b1], ctrl_bits[b1] = 0b0, 1
    ctrl_val[b2], ctrl_bits[b2] = 0b10, 2
    pay_val[b2] = (dod[b2] + 63).astype(np.uint64)
    pay_bits[b2] = 7
    ctrl_val[b3], ctrl_bits[b3] = 0b110, 3
    pay_val[b3] = (dod[b3] + 255).astype(np.uint64)
    pay_bits[b3] = 9
    ctrl_val[b4], ctrl_bits[b4] = 0b1110, 4
    pay_val[b4] = (dod[b4] + 2047).astype(np.uint64)
    pay_bits[b4] = 12
    ctrl_val[b5], ctrl_bits[b5] = 0b1111, 4
    pay_val[b5] = dod[b5].view(np.uint64)
    pay_bits[b5] = 64

    # fuse ctrl+payload into ONE bit field per point where the widths
    # fit in 64 bits (everything except b5's 4+64) — the produced
    # bitstream is identical, but pack_bits sees half the entries
    # (fewer cumsum/bincount elements; measured ~35% of encode wall)
    return _fuse_entries(ctrl_val, ctrl_bits, pay_val, pay_bits)


def _fuse_entries(ctrl_val, ctrl_bits, pay_val, pay_bits):
    """(ctrl, payload) pairs -> 2 element-major entries per point with
    the pair fused into entry 0 when ctrl_bits + pay_bits <= 64
    (entry 1 zero-width), falling back to the split form otherwise.
    Bit-identical output to emitting the pair separately."""
    total = ctrl_bits + pay_bits
    fuse = total <= 64
    e0_val = np.where(
        fuse,
        np.where(pay_bits >= 64, pay_val,
                 (ctrl_val << pay_bits.clip(0, 63).astype(np.uint64))
                 | pay_val),
        ctrl_val)
    e0_bits = np.where(fuse, total, ctrl_bits)
    e1_val = np.where(fuse, np.uint64(0), pay_val)
    e1_bits = np.where(fuse, 0, pay_bits)
    values = np.column_stack([e0_val, e1_val]).ravel()
    nbits = np.column_stack([e0_bits, e1_bits]).ravel()
    return values, nbits


def _val_entries(vals: np.ndarray, is_first: np.ndarray, is_second: np.ndarray):
    """Per-point (ctrl, hdr, payload) bit fields for the value stream.

    3 entries per point, element-major.
    """
    n = len(vals)
    bits = vals.view(np.uint64)
    xor = np.zeros(n, dtype=np.uint64)
    if n > 1:
        xor[1:] = bits[1:] ^ bits[:-1]
    xor[is_first] = 0  # group-first points carry raw value, no xor

    lead = np.minimum(_clz64(xor), 31)
    trail = _ctz64(xor)
    mlen = 64 - lead - trail  # valid only where xor != 0

    # previous point's xor window (invalid for group-first/second points
    # and where the previous xor was 0)
    prev_xor = np.zeros(n, dtype=np.uint64)
    prev_lead = np.zeros(n, dtype=np.int64)
    prev_trail = np.zeros(n, dtype=np.int64)
    if n > 1:
        prev_xor[1:] = xor[:-1]
        prev_lead[1:] = lead[:-1]
        prev_trail[1:] = trail[:-1]

    nonzero = xor != 0
    prev_ok = (prev_xor != 0) & ~is_first & ~is_second
    reuse = nonzero & prev_ok & (lead >= prev_lead) & (trail >= prev_trail)
    neww = nonzero & ~reuse
    zero = ~nonzero & ~is_first

    ctrl_val = np.zeros(n, dtype=np.uint64)
    ctrl_bits = np.zeros(n, dtype=np.int64)
    hdr_val = np.zeros(n, dtype=np.uint64)
    hdr_bits = np.zeros(n, dtype=np.int64)
    pay_val = np.zeros(n, dtype=np.uint64)
    pay_bits = np.zeros(n, dtype=np.int64)

    pay_val[is_first] = bits[is_first]
    pay_bits[is_first] = 64

    ctrl_val[zero], ctrl_bits[zero] = 0b0, 1

    ctrl_val[reuse], ctrl_bits[reuse] = 0b10, 2
    prev_mlen = 64 - prev_lead - prev_trail
    pay_val[reuse] = xor[reuse] >> prev_trail[reuse].astype(np.uint64)
    pay_bits[reuse] = prev_mlen[reuse]

    ctrl_val[neww], ctrl_bits[neww] = 0b11, 2
    hdr_val[neww] = ((lead[neww].astype(np.uint64) << np.uint64(6))
                     | (mlen[neww] - 1).astype(np.uint64))
    hdr_bits[neww] = 11
    pay_val[neww] = xor[neww] >> trail[neww].astype(np.uint64)
    pay_bits[neww] = mlen[neww]

    # fold ctrl+hdr into one prefix field (<= 13 bits, always fits),
    # then fuse prefix+payload where the sum fits in 64 — identical
    # bitstream, 2 pack_bits entries per point instead of 3 (most
    # fully fused: fewer cumsum/bincount elements)
    pre_val = ((ctrl_val << hdr_bits.clip(0, 63).astype(np.uint64))
               | hdr_val)
    pre_bits = ctrl_bits + hdr_bits
    return _fuse_entries(pre_val, pre_bits, pay_val, pay_bits)


def _pack_groups(values: np.ndarray, nbits: np.ndarray,
                 entry_starts: np.ndarray, entry_ends: np.ndarray):
    """Pack one entry stream into per-group byte-aligned slices.

    Returns (packed uint8 array, group byte offsets, group bit lengths).
    Each group's substream is padded to a byte boundary so groups can be
    sliced out of the single packed buffer.
    """
    ngroups = len(entry_starts)
    bit_ends = np.concatenate([[0], np.cumsum(nbits)])
    group_bits = bit_ends[entry_ends] - bit_ends[entry_starts]
    pad = (-group_bits) % 8
    # insert one zero-valued pad entry at the end of each group
    ins_pos = entry_ends
    values2 = np.insert(values, ins_pos, np.zeros(ngroups, dtype=np.uint64))
    nbits2 = np.insert(nbits, ins_pos, pad)
    packed = pack_bits(values2, nbits2)
    group_bytes = (group_bits + pad) // 8
    offsets = np.concatenate([[0], np.cumsum(group_bytes)])
    return packed, offsets, group_bits


# fixed layout of a 1-point chunk: header(n=1, 64, 64) + 8B ts + 8B val
_SINGLE_HEADER = np.frombuffer(_HEADER.pack(MAGIC, VERSION, 1, 64, 64),
                               dtype=np.uint8)
_SINGLE_LEN = HEADER_LEN + 16


def encode_many(ts: np.ndarray, vals: np.ndarray,
                group_starts: np.ndarray) -> list[bytes]:
    """Encode many chunks in one vectorized pass.

    ``ts``/``vals`` are flat arrays; ``group_starts`` are the start
    indices of contiguous groups (first element must be 0). Returns one
    chunk (bytes) per group. Empty groups yield a header-only chunk.

    Single-point groups — the dominant case at the finest tier, where
    most (series, minute) buckets hold one point — bypass the bitstream
    machinery entirely: their chunk is a fixed 30-byte record (constant
    header + big-endian ts + big-endian value bits) assembled as one
    numpy matrix, byte-identical to the general encoder's output.
    """
    ts = np.ascontiguousarray(ts, dtype=np.int64)
    vals = np.ascontiguousarray(vals, dtype=np.float64)
    n = len(ts)
    if len(vals) != n:
        raise ValueError("ts and vals must align")
    group_starts = np.ascontiguousarray(group_starts, dtype=np.int64)
    ngroups = len(group_starts)
    group_ends = np.concatenate([group_starts[1:], [n]])
    sizes = group_ends - group_starts
    singles = sizes == 1
    if singles.any():
        sidx = group_starts[singles]
        m = int(singles.sum())
        buf = np.empty((m, _SINGLE_LEN), dtype=np.uint8)
        buf[:, :HEADER_LEN] = _SINGLE_HEADER
        buf[:, HEADER_LEN:HEADER_LEN + 8] = (
            ts[sidx].astype(">i8").view(np.uint8).reshape(m, 8))
        buf[:, HEADER_LEN + 8:] = (
            vals[sidx].view(np.uint64).astype(">u8").view(np.uint8)
            .reshape(m, 8))
        raw = buf.tobytes()
        L = _SINGLE_LEN
        single_chunks = [raw[i * L:(i + 1) * L] for i in range(m)]
        if m == ngroups:
            return single_chunks
        keep_pts = np.repeat(~singles, sizes)
        sizes_multi = sizes[~singles]
        starts_multi = np.concatenate(
            [[0], np.cumsum(sizes_multi)[:-1]]).astype(np.int64)
        multi_chunks = _encode_many_general(
            ts[keep_pts], vals[keep_pts], starts_multi)
        out, si, mi = [], 0, 0
        for is_single in singles.tolist():
            if is_single:
                out.append(single_chunks[si])
                si += 1
            else:
                out.append(multi_chunks[mi])
                mi += 1
        return out
    return _encode_many_general(ts, vals, group_starts)


def _encode_many_general(ts: np.ndarray, vals: np.ndarray,
                         group_starts: np.ndarray) -> list[bytes]:
    """The general bitstream encoder (any group sizes)."""
    n = len(ts)
    ngroups = len(group_starts)
    group_ends = np.concatenate([group_starts[1:], [n]])

    is_first = np.zeros(n, dtype=bool)
    is_second = np.zeros(n, dtype=bool)
    nonempty = group_starts < group_ends
    is_first[group_starts[nonempty]] = True
    sec = group_starts[nonempty] + 1
    sec = sec[sec < group_ends[nonempty]]
    is_second[sec] = True

    tv, tn = _ts_entries(ts, is_first, is_second)
    vv, vn = _val_entries(vals, is_first, is_second)

    # both streams now emit 2 element-major entries per point
    # (_fuse_entries)
    t_packed, t_off, t_bits = _pack_groups(tv, tn, group_starts * 2, group_ends * 2)
    v_packed, v_off, v_bits = _pack_groups(vv, vn, group_starts * 2, group_ends * 2)

    # vectorized assembly: headers + both substreams scattered into ONE
    # output buffer, then sliced per group — replaces a per-group
    # Python loop of struct.pack + double bytes-concat (measured ~15%
    # of encode wall on million-group partitions)
    tlen = np.diff(t_off)
    vlen = np.diff(v_off)
    glen = HEADER_LEN + tlen + vlen
    o = np.concatenate([[0], np.cumsum(glen)])
    out_buf = np.empty(int(o[-1]), dtype=np.uint8)
    hdr = np.empty((ngroups, HEADER_LEN), dtype=np.uint8)
    hdr[:, 0] = MAGIC
    hdr[:, 1] = VERSION
    npoints = group_ends - group_starts
    hdr[:, 2:6] = npoints.astype("<u4").view(np.uint8).reshape(ngroups, 4)
    hdr[:, 6:10] = t_bits.astype("<u4").view(np.uint8).reshape(ngroups, 4)
    hdr[:, 10:14] = v_bits.astype("<u4").view(np.uint8).reshape(ngroups, 4)
    hdr_dest = (o[:-1, None] + np.arange(HEADER_LEN)).ravel()
    out_buf[hdr_dest] = hdr.ravel()
    if len(t_packed):
        within = np.arange(len(t_packed)) - np.repeat(t_off[:-1], tlen)
        out_buf[np.repeat(o[:-1] + HEADER_LEN, tlen) + within] = t_packed
    if len(v_packed):
        within = np.arange(len(v_packed)) - np.repeat(v_off[:-1], vlen)
        out_buf[np.repeat(o[:-1] + HEADER_LEN + tlen, vlen) + within] = v_packed
    raw = out_buf.tobytes()
    o_l = o.tolist()
    return [raw[o_l[g]:o_l[g + 1]] for g in range(ngroups)]


def encode_groups(ts_us, v, starts, max_points=None):
    """``encode_many`` with a size bound: groups above ``max_points``
    become concatenated self-delimiting sub-chunks (decode_all reads
    them back) so one hot (series, bucket) group never materializes an
    unbounded array in the codec."""
    if not max_points:
        return encode_many(ts_us, v, starts)
    n = len(ts_us)
    ends = np.append(starts[1:], n)
    sizes = ends - starts
    nsub = np.maximum(1, -(-sizes // max_points))
    total = int(nsub.sum())
    if total == len(starts):
        return encode_many(ts_us, v, starts)
    group_idx = np.repeat(np.arange(len(starts)), nsub)
    k = np.arange(total) - np.repeat(np.cumsum(nsub) - nsub, nsub)
    sub_starts = starts[group_idx] + k * max_points
    chunks = encode_many(ts_us, v, sub_starts)
    out, pos = [], 0
    for cnt in nsub.tolist():
        out.append(b"".join(chunks[pos:pos + cnt]))
        pos += cnt
    return out


def encode_chunk(ts: np.ndarray, vals: np.ndarray) -> bytes:
    """Encode a single (ts, values) series into one chunk."""
    return encode_many(ts, vals, np.array([0], dtype=np.int64))[0]


# ---------------------------------------------------------------------------
# decoder (sequential by nature: control bits gate field widths)
# ---------------------------------------------------------------------------

def _to_signed64(u: int) -> int:
    return u - (1 << 64) if u >= (1 << 63) else u


def decode_chunk(buf: bytes) -> tuple[np.ndarray, np.ndarray]:
    """Decode one chunk -> (ts int64 array, values float64 array).

    Reads the current format (v1) and the legacy uncompressed v0."""
    magic, version, n, ts_nbits, val_nbits = _HEADER.unpack_from(buf, 0)
    if magic != MAGIC:
        raise ValueError(f"bad chunk magic {magic:#x}")
    if version == LEGACY_VERSION:
        ts = np.frombuffer(buf, dtype="<i8", count=n, offset=HEADER_LEN)
        vals = np.frombuffer(buf, dtype="<f8", count=n,
                             offset=HEADER_LEN + 8 * n)
        return ts.astype(np.int64), vals.astype(np.float64)
    if version != VERSION:
        raise ValueError(f"unsupported chunk version {version}")
    ts_nbytes = (ts_nbits + 7) // 8
    ts_buf = buf[HEADER_LEN : HEADER_LEN + ts_nbytes]
    val_buf = buf[HEADER_LEN + ts_nbytes :]

    ts = np.empty(n, dtype=np.int64)
    vals = np.empty(n, dtype=np.float64)
    if n == 0:
        return ts, vals

    r = BitReader(ts_buf, ts_nbits)
    t0 = _to_signed64(r.read(64))
    ts[0] = t0
    if n >= 2:
        delta = _to_signed64(r.read(64))
        ts[1] = t0 + delta
        cur = ts[1]
        for i in range(2, n):
            if r.read_bit() == 0:
                dod = 0
            elif r.read_bit() == 0:
                dod = r.read(7) - 63
            elif r.read_bit() == 0:
                dod = r.read(9) - 255
            elif r.read_bit() == 0:
                dod = r.read(12) - 2047
            else:
                dod = _to_signed64(r.read(64))
            delta += dod
            cur += delta
            ts[i] = cur

    r = BitReader(val_buf, val_nbits)
    prev_bits = r.read(64)
    vals[0] = np.uint64(prev_bits).view(np.float64)
    prev_xor = 0
    for i in range(1, n):
        if r.read_bit() == 0:
            xor = 0
        else:
            if r.read_bit() == 0:  # reuse previous xor's window
                p_lead = min(64 - prev_xor.bit_length(), 31)
                p_trail = (prev_xor & -prev_xor).bit_length() - 1
                p_mlen = 64 - p_lead - p_trail
                xor = r.read(p_mlen) << p_trail
            else:
                hdr = r.read(11)
                lead = hdr >> 6
                mlen = (hdr & 0x3F) + 1
                trail = 64 - lead - mlen
                xor = r.read(mlen) << trail
            prev_bits ^= xor
        vals[i] = np.uint64(prev_bits).view(np.float64)
        prev_xor = xor
    return ts, vals


def chunk_n_points(buf: bytes) -> int:
    """Read the point count from a chunk header without decoding."""
    return _HEADER.unpack_from(buf, 0)[2]


def chunk_byte_len(buf: bytes, offset: int = 0) -> int:
    """Total byte length of the chunk starting at ``offset`` (header
    carries both bitstream lengths, so chunks are self-delimiting)."""
    _, _, _, ts_nbits, val_nbits = _HEADER.unpack_from(buf, offset)
    return HEADER_LEN + (ts_nbits + 7) // 8 + (val_nbits + 7) // 8


def decode_all(buf: bytes) -> tuple[np.ndarray, np.ndarray]:
    """Decode a buffer of one or more concatenated chunks (the
    ``max_points`` sub-chunk container: a giant (series, bucket) group
    is stored as back-to-back chunks so no single encode/decode call
    ever materializes an unbounded point array)."""
    off = 0
    ts_parts, val_parts = [], []
    n = len(buf)
    while off < n:
        step = chunk_byte_len(buf, off)
        t, v = decode_chunk(buf[off:off + step])
        ts_parts.append(t)
        val_parts.append(v)
        off += step
    if len(ts_parts) == 1:
        return ts_parts[0], val_parts[0]
    return np.concatenate(ts_parts), np.concatenate(val_parts)


def decode_many(buffers) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode many chunk buffers (each a chunk or a sub-chunk
    container) -> flat (ts, values) arrays in buffer order plus each
    buffer's point count: buffer i's ``decode_all`` is the slice of
    ``counts[i]`` points after ``counts[:i].sum()``."""
    parts = [decode_all(bytes(b)) for b in buffers]
    counts = np.array([len(t) for t, _ in parts], dtype=np.int64)
    if not parts:
        return np.empty(0, np.int64), np.empty(0, np.float64), counts
    return (np.concatenate([t for t, _ in parts]),
            np.concatenate([v for _, v in parts]), counts)


# ---------------------------------------------------------------------------
# format upgrade (util/IndexUpgrader.java analogue: rewrite old-format
# chunks in place to the current version)
# ---------------------------------------------------------------------------

def encode_chunk_v0(ts: np.ndarray, vals: np.ndarray) -> bytes:
    """Write the LEGACY uncompressed format (v0): header + raw
    little-endian int64 timestamps + float64 values. The current
    encoder never produces this; it exists as the migration source for
    upgrade tests and for ingesting stores written by pre-compression
    builds."""
    ts = np.ascontiguousarray(ts, dtype="<i8")
    vals = np.ascontiguousarray(vals, dtype="<f8")
    n = len(ts)
    header = _HEADER.pack(MAGIC, LEGACY_VERSION, n, 64 * n, 64 * n)
    return header + ts.tobytes() + vals.tobytes()


def chunk_version(buf: bytes, offset: int = 0) -> int:
    return _HEADER.unpack_from(buf, offset)[1]


def upgrade_chunk(buf: bytes, max_points: int | None = None) -> bytes:
    """Rewrite a chunk (or sub-chunk container) of ANY readable version
    to the current format. Already-current containers are returned
    unchanged (byte-stable upgrades are idempotent)."""
    off, n = 0, len(buf)
    current = True
    while off < n:
        if chunk_version(buf, off) != VERSION:
            current = False
            break
        off += chunk_byte_len(buf, off)
    if current:
        return bytes(buf)
    ts, vals = decode_all(bytes(buf))
    return encode_groups(ts, vals, np.zeros(1, dtype=np.int64), max_points)[0]
