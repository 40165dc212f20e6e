"""REAL FLAC codec — pure Python/numpy, spec subset per RFC 9639.

FLAC is the lossless compressed audio format real training corpora
carry; unlike MP3/H.264 (whose reference entropy tools aren't in this
container and whose lossy pipelines defeat exact oracles), FLAC is
fully implementable from the public spec with stdlib + numpy, and its
losslessness makes every decode law EXACT: ``decode(encode(pcm)) ==
pcm`` bit for bit, so a closed-form PCM synth gives DuckDB-recomputable
oracles (q186), the same trick the WAV/GIF/PNG queries use.

Implemented subset (both directions):

- STREAMINFO metadata block (with the PCM MD5, which the decoder
  VERIFIES — a whole-file integrity law, not just per-frame CRCs)
- fixed-blocksize frames, 8/16/24-bit samples, 1-8 channels
- subframes: CONSTANT, VERBATIM, FIXED orders 0-4, LPC orders 1-32
  (encoder fits LPC via Levinson-Durbin with quantized coefficients;
  decoder handles any order), wasted-bits
- stereo decorrelation: independent, left/side, right/side, mid/side
  (decoder all four; encoder independent or mid/side)
- Rice/Rice2 residual partitions with escape-to-raw, exact
  minimum-cost parameter search per partition (vectorized)
- frame-header CRC-8 (poly 0x07) and whole-frame CRC-16 (poly 0x8005),
  both verified on decode

Not implemented (raise ValueError, reason named): variable-blocksize
streams, non-STREAMINFO-bps frames beyond the 8/12/16/20/24/32 codes,
SEEKTABLE/CUESHEET parsing (skipped as opaque blocks, per spec).
"""

from __future__ import annotations

import hashlib
import struct

import numpy as np

# ---------------------------------------------------------------------------
# CRCs (generated from the polynomials, not memorized tables)
# ---------------------------------------------------------------------------
def _crc_table(poly: int, width: int) -> list[int]:
    top = 1 << (width - 1)
    mask = (1 << width) - 1
    table = []
    for b in range(256):
        r = b << (width - 8)
        for _ in range(8):
            r = ((r << 1) ^ poly) if r & top else (r << 1)
        table.append(r & mask)
    return table


_CRC8_TAB = _crc_table(0x07, 8)
_CRC16_TAB = _crc_table(0x8005, 16)


def crc8(data: bytes) -> int:
    r = 0
    for b in data:
        r = _CRC8_TAB[r ^ b]
    return r


def crc16(data: bytes) -> int:
    r = 0
    for b in data:
        r = ((r << 8) & 0xFFFF) ^ _CRC16_TAB[((r >> 8) ^ b) & 0xFF]
    return r


# ---------------------------------------------------------------------------
# MSB-first bit IO (no byte stuffing in FLAC)
# ---------------------------------------------------------------------------
class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, value: int, length: int) -> None:
        if length <= 0:
            return
        self.acc = (self.acc << length) | (value & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            self.n -= 8
            self.out.append((self.acc >> self.n) & 0xFF)
        self.acc &= (1 << self.n) - 1

    def put_signed(self, value: int, length: int) -> None:
        self.put(value & ((1 << length) - 1), length)

    def put_unary(self, q: int) -> None:
        while q >= 32:
            self.put(0, 32)
            q -= 32
        self.put(1, q + 1)  # q zeros then a one

    def put_bits(self, bits: np.ndarray) -> None:
        """Append a uint8 0/1 bit array in one vectorized pass (the
        Rice fast path: np.packbits instead of per-sample shifts)."""
        if self.n:
            lead = np.array(
                [(self.acc >> (self.n - 1 - i)) & 1 for i in range(self.n)],
                np.uint8,
            )
            bits = np.concatenate([lead, bits])
            self.acc = 0
            self.n = 0
        nb = (len(bits) // 8) * 8
        if nb:
            self.out += np.packbits(bits[:nb]).tobytes()
        for b in bits[nb:]:
            self.acc = (self.acc << 1) | int(b)
            self.n += 1

    def align(self) -> None:
        if self.n:
            self.put(0, 8 - self.n)

    def bytes(self) -> bytes:
        assert self.n == 0
        return bytes(self.out)


class _BitReader:
    def __init__(self, data: bytes, pos_bits: int = 0):
        self.data = data
        self.bitpos = pos_bits
        self._bits = None  # lazy unpacked view for the Rice fast path
        self._ones = None

    def read(self, length: int) -> int:
        if length == 0:
            return 0
        end = self.bitpos + length
        if end > len(self.data) * 8:
            raise ValueError("truncated FLAC bitstream")
        v = 0
        pos = self.bitpos
        while length > 0:
            byte = self.data[pos >> 3]
            avail = 8 - (pos & 7)
            take = min(avail, length)
            shift = avail - take
            v = (v << take) | ((byte >> shift) & ((1 << take) - 1))
            pos += take
            length -= take
        self.bitpos = pos
        return v

    def read_signed(self, length: int) -> int:
        v = self.read(length)
        return v - (1 << length) if v & (1 << (length - 1)) else v

    def read_unary(self) -> int:
        q = 0
        while True:
            if self.bitpos >= len(self.data) * 8:
                raise ValueError("truncated unary code")
            if self.read(1):
                return q
            q += 1

    def align(self) -> None:
        rem = self.bitpos & 7
        if rem:
            if self.read(8 - rem) != 0:
                raise ValueError("nonzero frame padding")

    def _ensure_bits(self) -> None:
        if self._bits is None:
            self._bits = np.unpackbits(
                np.frombuffer(self.data, np.uint8)
            )
            self._ones = np.flatnonzero(self._bits).tolist()

    def read_rice(self, n: int, param: int) -> np.ndarray:
        """Vectorized batch Rice decode: unary terminators located via
        the payload's precomputed one-bit index (each step skips the
        previous code's remainder window), remainders gathered in one
        numpy indexing pass. Returns the n UNSIGNED folded values."""
        import bisect

        self._ensure_bits()
        ones = self._ones
        oi = bisect.bisect_left(ones, self.bitpos)
        pos = self.bitpos
        ts = np.empty(n, np.int64)
        qs = np.empty(n, np.int64)
        for i in range(n):
            while True:
                if oi >= len(ones):
                    raise ValueError("truncated rice code")
                t = ones[oi]
                if t >= pos:
                    break
                oi += 1
            ts[i] = t
            qs[i] = t - pos
            pos = t + 1 + param
            oi += 1
        if pos > len(self._bits):
            raise ValueError("truncated rice code")
        self.bitpos = pos
        if param:
            idx = ts[:, None] + 1 + np.arange(param)
            rem = self._bits[idx].astype(np.int64) @ (
                1 << np.arange(param - 1, -1, -1)
            )
        else:
            rem = 0
        return ((qs << param) | rem).astype(np.uint64)

    def read_fixed_signed(self, n: int, width: int) -> np.ndarray:
        """Vectorized batch of fixed-width signed reads."""
        if width == 0:
            return np.zeros(n, np.int64)
        self._ensure_bits()
        end = self.bitpos + n * width
        if end > len(self._bits):
            raise ValueError("truncated FLAC bitstream")
        window = self._bits[self.bitpos : end].astype(np.int64)
        vals = window.reshape(n, width) @ (
            1 << np.arange(width - 1, -1, -1)
        )
        self.bitpos = end
        sign = 1 << (width - 1)
        return np.where(vals & sign, vals - (1 << width), vals)


# ---------------------------------------------------------------------------
# coded number (UTF-8-style frame index)
# ---------------------------------------------------------------------------
def _coded_number(n: int) -> bytes:
    if n < 0x80:
        return bytes([n])
    out = []
    lead_bits = {1: 0xC0, 2: 0xE0, 3: 0xF0, 4: 0xF8, 5: 0xFC}
    cont = 1
    while n >= (1 << (6 - cont + cont * 6)) and cont < 5:
        # capacity with `cont` continuation bytes: (6-cont) + 6*cont bits
        cont += 1
    tail = []
    for _ in range(cont):
        tail.append(0x80 | (n & 0x3F))
        n >>= 6
    out = [lead_bits[cont] | n] + tail[::-1]
    return bytes(out)


def _read_coded_number(r: _BitReader) -> int:
    b0 = r.read(8)
    if b0 < 0x80:
        return b0
    cont = 0
    for probe in range(7):
        if not (b0 & (0x80 >> probe)):
            break
        cont += 1
    if cont < 2 or cont > 7:
        raise ValueError("invalid coded number")
    cont -= 1  # number of continuation bytes
    v = b0 & (0x7F >> (cont + 1))
    for _ in range(cont):
        b = r.read(8)
        if (b & 0xC0) != 0x80:
            raise ValueError("invalid coded-number continuation")
        v = (v << 6) | (b & 0x3F)
    return v


# ---------------------------------------------------------------------------
# prediction
# ---------------------------------------------------------------------------
_FIXED_COEFFS = {
    0: [],
    1: [1],
    2: [2, -1],
    3: [3, -3, 1],
    4: [4, -6, 4, -1],
}


def _fixed_residual(x: np.ndarray, order: int) -> np.ndarray:
    r = x.astype(np.int64)
    for _ in range(order):
        r = np.diff(r)
    return r


def _predict_lpc(
    warm: np.ndarray, res: np.ndarray, coefs: list[int], shift: int
) -> np.ndarray:
    """IIR reconstruction — inherently sequential; plain-int Python
    loop (no per-step numpy dispatch) keeps it linear and exact."""
    order = len(coefs)
    out = [int(v) for v in warm]
    cf = [int(c) for c in coefs]  # cf[0] multiplies x[i-1]
    for rv in res.tolist():
        acc = 0
        base = len(out) - 1
        for j in range(order):
            acc += cf[j] * out[base - j]
        out.append(rv + (acc >> shift))
    return np.array(out, np.int64)


def _restore_fixed(warm: np.ndarray, res: np.ndarray, order: int) -> np.ndarray:
    if order == 0:
        return res.astype(np.int64)
    # integrate `order` times: the inverse of order-fold np.diff, done
    # with exact int64 cumsums (vectorized; no per-sample loop)
    out = res.astype(np.int64)
    w = warm.astype(np.int64)
    for lvl in range(order, 0, -1):
        # reconstruct the (lvl-1)-th difference level: its warmup value
        # is the (lvl-1)-th difference of the original warmup samples
        d = w.copy()
        for _ in range(lvl - 1):
            d = np.diff(d)
        seed = d[-1] if len(d) else 0
        out = np.cumsum(out) + seed
    return np.concatenate([w, out])


# ---------------------------------------------------------------------------
# Rice residual coding
# ---------------------------------------------------------------------------
def _zigzag(v: np.ndarray) -> np.ndarray:
    u = v.astype(np.int64)
    return np.where(u >= 0, u << 1, (-u << 1) - 1).astype(np.uint64)


def _rice_bits(part_u: np.ndarray, param: int) -> np.ndarray:
    """Vectorized Rice emission: one uint8 bit array for a whole
    partition (unary terminators + remainder bits placed by numpy
    indexing, param passes over the sample vector)."""
    q = (part_u >> np.uint64(param)).astype(np.int64)
    lens = q + 1 + param
    offs = np.concatenate([[0], np.cumsum(lens)])
    bits = np.zeros(int(offs[-1]), np.uint8)
    term = offs[:-1] + q
    bits[term] = 1
    if param:
        rem = (part_u & np.uint64((1 << param) - 1)).astype(np.int64)
        for j in range(param):
            bits[term + 1 + j] = (rem >> (param - 1 - j)) & 1
    return bits


def _fixed_width_bits(vals: np.ndarray, width: int) -> np.ndarray:
    """Vectorized fixed-width two's-complement emission."""
    u = np.asarray(vals, np.int64) & ((1 << width) - 1)
    bits = np.empty(len(u) * width, np.uint8)
    for j in range(width):
        bits[j::width] = (u >> (width - 1 - j)) & 1
    return bits


_MAX_PARAM = 14


def _residual_plan(res: np.ndarray, order: int, block_size: int):
    """One pass over the residual chooses partition order AND every
    partition's parameter (or raw escape). Prefix sums of u >> p make
    each candidate partitioning O(partitions * params) lookups instead
    of re-scanning samples. Returns (cost_bits, partition_order,
    [(param_or_None, raw_bits, start, end), ...]) with sample indices
    into res."""
    u = _zigzag(res)
    max_po = 0
    for po in range(1, 4):
        if block_size % (1 << po) == 0 and (block_size >> po) > order:
            max_po = po
        else:
            break
    # per-chunk (finest level) shifted sums for every param in ONE 2D
    # reduction per chunk, plus per-chunk maxima; coarser partition
    # orders aggregate these by pairwise addition/maximum
    params = np.arange(_MAX_PARAM + 1, dtype=np.uint64)[:, None]
    fine = 1 << max_po
    bounds = [0]
    for pi in range(fine):
        cnt = (block_size >> max_po) - (order if pi == 0 else 0)
        bounds.append(bounds[-1] + cnt)
    sums = np.empty((fine, _MAX_PARAM + 1), np.int64)
    maxs = np.empty(fine, np.int64)
    for pi in range(fine):
        chunk = u[bounds[pi] : bounds[pi + 1]]
        if len(chunk):
            sums[pi] = (chunk[None, :] >> params).sum(axis=1)
            maxs[pi] = int(chunk.max())
        else:
            sums[pi] = 0
            maxs[pi] = 0
    best = None
    lvl_sums, lvl_maxs = sums, maxs
    lvl_bounds = np.array(bounds, np.int64)
    po = max_po
    prange = 1 + np.arange(_MAX_PARAM + 1, dtype=np.int64)
    while True:
        cnts = lvl_bounds[1:] - lvl_bounds[:-1]
        costs = cnts[:, None] * prange[None, :] + lvl_sums
        best_params = np.argmin(costs, axis=1)
        best_pcs = costs[np.arange(len(cnts)), best_params]
        raw_bits = np.array(
            [int(m).bit_length() + 1 for m in lvl_maxs], np.int64
        )
        esc_costs = 5 + raw_bits * cnts
        use_esc = best_pcs > esc_costs
        total = 2 + 4 + 4 * len(cnts) + int(
            np.where(use_esc, esc_costs, best_pcs).sum()
        )
        if best is None or total < best[0]:
            parts = [
                (None, int(raw_bits[pi]), int(lvl_bounds[pi]),
                 int(lvl_bounds[pi + 1]))
                if use_esc[pi]
                else (int(best_params[pi]), 0, int(lvl_bounds[pi]),
                      int(lvl_bounds[pi + 1]))
                for pi in range(len(cnts))
            ]
            best = (total, po, parts)
        if po == 0:
            break
        po -= 1
        lvl_sums = lvl_sums[0::2] + lvl_sums[1::2]
        lvl_maxs = np.maximum(lvl_maxs[0::2], lvl_maxs[1::2])
        lvl_bounds = lvl_bounds[0::2]
    return best


def _write_residual(w: _BitWriter, res: np.ndarray,
                    rplan: tuple) -> None:
    _cost, partition_order, parts = rplan
    method = 0  # 4-bit rice params (rice2 only needed for bps>16 edge)
    w.put(method, 2)
    w.put(partition_order, 4)
    u = _zigzag(res)
    for (param, raw_bits, start, end) in parts:
        if param is None:  # raw escape
            w.put(0xF, 4)
            w.put(raw_bits, 5)
            w.put_bits(_fixed_width_bits(res[start:end], raw_bits))
        else:
            w.put(param, 4)
            w.put_bits(_rice_bits(u[start:end], param))


def _read_residual(r: _BitReader, n: int, order: int) -> np.ndarray:
    method = r.read(2)
    if method > 1:
        raise ValueError("reserved residual coding method")
    pbits = 4 + method
    esc = (1 << pbits) - 1
    partition_order = r.read(4)
    nparts = 1 << partition_order
    if n % nparts:
        raise ValueError("block size not divisible by partitions")
    out = np.empty(n - order, np.int64)
    pos = 0
    for pi in range(nparts):
        cnt = (n >> partition_order) - (order if pi == 0 else 0)
        if cnt < 0:
            raise ValueError("partition order exceeds warmup")
        param = r.read(pbits)
        if param == esc:
            raw = r.read(5)
            out[pos : pos + cnt] = r.read_fixed_signed(cnt, raw)
        else:
            u = r.read_rice(cnt, param).astype(np.int64)
            out[pos : pos + cnt] = np.where(
                u & 1, -((u + 1) >> 1), u >> 1
            )
        pos += cnt
    return out


# ---------------------------------------------------------------------------
# LPC fitting (encoder): Levinson-Durbin + coefficient quantization
# ---------------------------------------------------------------------------
def _fit_lpc(x: np.ndarray, order: int, precision: int = 15):
    """Returns (coefs list[int], shift) or None if degenerate."""
    xf = x.astype(np.float64)
    n = len(xf)
    if n <= order:
        return None
    ac = np.array(
        [np.dot(xf[: n - k], xf[k:]) for k in range(order + 1)]
    )
    if ac[0] == 0:
        return None
    err = ac[0]
    a = np.zeros(order)
    for i in range(order):
        acc = ac[i + 1] - sum(a[j] * ac[i - j] for j in range(i))
        k = acc / err
        a[: i + 1] = np.concatenate([a[:i] - k * a[:i][::-1], [k]])
        err *= 1 - k * k
        if err <= 0:
            return None
    cmax = np.abs(a).max()
    if cmax == 0 or not np.isfinite(cmax):
        return None
    shift = precision - 1 - max(0, int(np.floor(np.log2(cmax))) + 1)
    shift = max(1, min(15, shift))
    q = np.round(a * (1 << shift)).astype(np.int64)
    lim = 1 << (precision - 1)
    q = np.clip(q, -lim, lim - 1)
    if not q.any():
        return None
    return [int(v) for v in q], shift


# ---------------------------------------------------------------------------
# encoder
# ---------------------------------------------------------------------------
def _pcm_bytes(inter: np.ndarray, bps: int) -> bytes:
    """Interleaved samples -> the little-endian packed byte stream the
    STREAMINFO MD5 covers (low `width` bytes of each LE 4-byte lane)."""
    width = (bps + 7) // 8
    lanes = np.ascontiguousarray(inter, dtype="<i4").view(np.uint8)
    return lanes.reshape(-1, 4)[:, :width].tobytes()


def _plan_subframe(x: np.ndarray, bps: int, block_size: int,
                   use_lpc: bool):
    """Choose the cheapest subframe encoding; returns (cost_bits, plan)
    where plan is a tuple consumed by :func:`_emit_subframe`."""
    if len(x) and (x == x[0]).all():
        return 8 + bps, ("const", int(x[0]))
    best = None  # (cost, kind, ...)
    for order in range(0, 5):
        if len(x) <= order:
            break
        res = _fixed_residual(x, order)
        rplan = _residual_plan(res, order, block_size)
        cost = order * bps + rplan[0]
        if best is None or cost < best[0]:
            best = (cost, "fixed", order, res, rplan)
    if use_lpc:
        for order in (2, 4, 8):
            if len(x) <= order * 2:
                continue
            fit = _fit_lpc(x, order)
            if fit is None:
                continue
            coefs, shift = fit
            xi = x.astype(np.int64)
            c = np.array(coefs[::-1], np.int64)
            windows = np.lib.stride_tricks.sliding_window_view(
                xi, order
            )[: len(x) - order]
            res = xi[order:] - ((windows @ c) >> shift)
            rplan = _residual_plan(res, order, block_size)
            cost = order * bps + 4 + 5 + order * 15 + rplan[0]
            if cost < best[0]:
                best = (cost, "lpc", order, res, rplan, coefs, shift)
    if best[0] > len(x) * bps:  # incompressible: VERBATIM is smaller
        return 8 + len(x) * bps, ("verbatim", x)
    return 8 + best[0], best[1:] + (x,)


def _emit_subframe(w: _BitWriter, plan, bps: int,
                   block_size: int) -> None:
    kind = plan[0]
    if kind == "const":
        w.put(0, 1)
        w.put(0, 6)  # CONSTANT
        w.put(0, 1)
        w.put_signed(plan[1], bps)
    elif kind == "verbatim":
        w.put(0, 1)
        w.put(1, 6)
        w.put(0, 1)
        for v in plan[1]:
            w.put_signed(int(v), bps)
    elif kind == "fixed":
        _, order, res, rplan, x = plan
        w.put(0, 1)
        w.put(0b001000 | order, 6)
        w.put(0, 1)  # no wasted bits
        for v in x[:order]:
            w.put_signed(int(v), bps)
        _write_residual(w, res, rplan)
    else:  # lpc
        _, order, res, rplan, coefs, shift, x = plan
        w.put(0, 1)
        w.put(0b100000 | (order - 1), 6)
        w.put(0, 1)
        for v in x[:order]:
            w.put_signed(int(v), bps)
        w.put(15 - 1, 4)  # precision-1 (15 bits)
        w.put(shift, 5)
        for cf in coefs:
            w.put_signed(cf, 15)
        _write_residual(w, res, rplan)


def _write_subframe(w: _BitWriter, x: np.ndarray, bps: int,
                    block_size: int, use_lpc: bool) -> None:
    _, plan = _plan_subframe(x, bps, block_size, use_lpc)
    _emit_subframe(w, plan, bps, block_size)


def encode_flac(
    samples: np.ndarray,
    sample_rate: int,
    bps: int = 16,
    block_size: int = 4096,
    use_lpc: bool = True,
    mid_side: bool = True,
) -> bytes:
    """Encode PCM -> FLAC. ``samples``: (n,) mono or (n, ch) int array
    (values must fit ``bps`` signed bits). Lossless: parse_flac returns
    exactly these samples, and STREAMINFO carries their MD5."""
    x = np.asarray(samples, np.int64)
    if x.ndim == 1:
        x = x[:, None]
    n, ch = x.shape
    if not (1 <= ch <= 8):
        raise ValueError("1-8 channels")
    if n == 0:
        raise ValueError("empty signal")
    if bps not in (8, 16, 24):
        raise ValueError("bps must be 8/16/24 (encoder subset)")
    lim = 1 << (bps - 1)
    if x.min() < -lim or x.max() >= lim:
        raise ValueError(f"samples exceed {bps}-bit signed range")
    if not (1 <= sample_rate < (1 << 20)):
        raise ValueError("sample rate must fit STREAMINFO's 20 bits")

    md5 = hashlib.md5()
    md5.update(_pcm_bytes(x.reshape(-1), bps))

    frames = bytearray()
    fno = 0
    for start in range(0, n, block_size):
        blk = x[start : start + block_size]
        bs = len(blk)
        # stereo decorrelation: plan every candidate mode and keep the
        # cheapest (what any real FLAC encoder does per frame)
        if ch == 2 and mid_side:
            left, right = blk[:, 0], blk[:, 1]
            mid = (left + right) >> 1
            side = left - right
            pl = {
                "l": _plan_subframe(left, bps, bs, use_lpc),
                "r": _plan_subframe(right, bps, bs, use_lpc),
                "m": _plan_subframe(mid, bps, bs, use_lpc),
                "s": _plan_subframe(side, bps + 1, bs, use_lpc),
            }
            modes = {
                0b0001: (pl["l"][0] + pl["r"][0],
                         [(pl["l"], bps), (pl["r"], bps)]),
                0b1000: (pl["l"][0] + pl["s"][0],
                         [(pl["l"], bps), (pl["s"], bps + 1)]),
                0b1001: (pl["s"][0] + pl["r"][0],
                         [(pl["s"], bps + 1), (pl["r"], bps)]),
                0b1010: (pl["m"][0] + pl["s"][0],
                         [(pl["m"], bps), (pl["s"], bps + 1)]),
            }
            ch_code = min(modes, key=lambda k: modes[k][0])
            subplans = modes[ch_code][1]
        else:
            ch_code = ch - 1
            subplans = [
                (_plan_subframe(blk[:, c], bps, bs, use_lpc), bps)
                for c in range(ch)
            ]
        hdr = _BitWriter()
        hdr.put(0b11111111111110, 14)
        hdr.put(0, 1)  # reserved
        hdr.put(0, 1)  # fixed blocksize strategy
        hdr.put(0b0111, 4)  # 16-bit blocksize-1 follows
        hdr.put(0b0000, 4)  # sample rate from STREAMINFO
        hdr.put(ch_code, 4)
        hdr.put({8: 0b001, 16: 0b100, 24: 0b110}[bps], 3)
        hdr.put(0, 1)  # reserved
        hdr.align()
        head = bytes(hdr.out) + _coded_number(fno)
        head += struct.pack(">H", bs - 1)
        head += bytes([crc8(head)])
        w = _BitWriter()
        for (cost_plan, cbps) in subplans:
            _emit_subframe(w, cost_plan[1], cbps, bs)
        w.align()
        frame = head + w.bytes()
        frame += struct.pack(">H", crc16(frame))
        frames += frame
        fno += 1

    si = _BitWriter()
    si.put(block_size, 16)  # fixed-blocksize stream: min == max
    si.put(block_size, 16)
    si.put(0, 24)  # min frame size unknown
    si.put(0, 24)
    si.put(sample_rate, 20)
    si.put(ch - 1, 3)
    si.put(bps - 1, 5)
    si.put(n, 36)
    si.align()
    streaminfo = si.bytes() + md5.digest()
    header = b"fLaC" + bytes([0x80]) + struct.pack(">I", 34)[1:] + streaminfo
    return header + bytes(frames)


# ---------------------------------------------------------------------------
# decoder
# ---------------------------------------------------------------------------
def parse_flac(payload: bytes, verify_md5: bool = True):
    """Decode FLAC -> (sample_rate, channels, samples[int32 interleaved]).
    Verifies every frame-header CRC-8, every frame CRC-16, and (when
    STREAMINFO carries one) the whole-stream PCM MD5. Total over
    malformed inputs: everything raises ValueError."""
    try:
        return _parse_flac_inner(payload, verify_md5)
    except (struct.error, IndexError) as e:
        raise ValueError(f"malformed FLAC structure: {e}") from e


def _parse_flac_inner(payload: bytes, verify_md5: bool):
    if len(payload) < 42 or payload[:4] != b"fLaC":
        raise ValueError("not a FLAC payload (no fLaC magic)")
    pos = 4
    streaminfo = None
    last = False
    while not last:
        if pos + 4 > len(payload):
            raise ValueError("truncated metadata block header")
        b0 = payload[pos]
        last = bool(b0 & 0x80)
        btype = b0 & 0x7F
        blen = int.from_bytes(payload[pos + 1 : pos + 4], "big")
        body = payload[pos + 4 : pos + 4 + blen]
        if len(body) < blen:
            raise ValueError("truncated metadata block")
        if btype == 0:
            streaminfo = body
        elif btype == 127:
            raise ValueError("invalid metadata block type 127")
        pos += 4 + blen
    if streaminfo is None or len(streaminfo) != 34:
        raise ValueError("missing/malformed STREAMINFO")
    r = _BitReader(streaminfo)
    r.read(16)  # min block size
    max_bs = r.read(16)
    r.read(24)
    r.read(24)
    sample_rate = r.read(20)
    ch = r.read(3) + 1
    bps = r.read(5) + 1
    total = r.read(36)
    md5_expect = streaminfo[18:34]
    if sample_rate == 0 or max_bs == 0:
        raise ValueError("invalid STREAMINFO")

    out = []
    expect_fno = 0
    # ONE reader for the whole audio region: the lazy unpackbits view
    # and one-bit index it builds for the Rice fast path are O(file)
    # each — rebuilding them per frame made decode O(frames * size)
    # (r7 ADVICE). Per-frame positioning is just a bitpos reset.
    r = _BitReader(payload)
    while pos < len(payload):
        if pos + 2 > len(payload):
            break
        frame_start = pos
        r.bitpos = pos * 8
        sync = r.read(14)
        if sync != 0b11111111111110:
            raise ValueError("lost frame sync")
        if r.read(1):
            raise ValueError("reserved frame-header bit set")
        variable = r.read(1)
        if variable:
            raise ValueError("variable-blocksize streams unsupported")
        bs_code = r.read(4)
        sr_code = r.read(4)
        ch_code = r.read(4)
        ss_code = r.read(3)
        if r.read(1):
            raise ValueError("reserved frame-header bit set")
        fno = _read_coded_number(r)
        if fno != expect_fno:
            raise ValueError(f"frame number {fno} != expected {expect_fno}")
        expect_fno += 1
        if bs_code == 0:
            raise ValueError("reserved block size code")
        elif bs_code == 1:
            bs = 192
        elif 2 <= bs_code <= 5:
            bs = 576 << (bs_code - 2)
        elif bs_code == 6:
            bs = r.read(8) + 1
        elif bs_code == 7:
            bs = r.read(16) + 1
        else:
            bs = 256 << (bs_code - 8)
        _SR = {0: sample_rate, 1: 88200, 2: 176400, 3: 192000,
               4: 8000, 5: 16000, 6: 22050, 7: 24000, 8: 32000,
               9: 44100, 10: 48000, 11: 96000}
        if sr_code in _SR:
            fsr = _SR[sr_code]
        elif sr_code == 12:
            fsr = r.read(8) * 1000
        elif sr_code == 13:
            fsr = r.read(16)
        elif sr_code == 14:
            fsr = r.read(16) * 10
        else:
            raise ValueError("invalid sample rate code")
        if fsr != sample_rate:
            raise ValueError("frame sample rate contradicts STREAMINFO")
        _SS = {0: bps, 1: 8, 2: 12, 4: 16, 5: 20, 6: 24, 7: 32}
        if ss_code not in _SS:
            raise ValueError("reserved sample size code")
        fbps = _SS[ss_code]
        if fbps != bps:
            raise ValueError("frame bps contradicts STREAMINFO")
        hdr_end = (r.bitpos + 7) // 8
        if crc8(payload[frame_start:hdr_end]) != payload[hdr_end]:
            raise ValueError("frame header CRC-8 mismatch")
        r.bitpos = (hdr_end + 1) * 8

        if ch_code <= 7:
            nch = ch_code + 1
            mode = "indep"
        elif ch_code == 8:
            nch, mode = 2, "left_side"
        elif ch_code == 9:
            nch, mode = 2, "right_side"
        elif ch_code == 10:
            nch, mode = 2, "mid_side"
        else:
            raise ValueError("reserved channel assignment")
        if nch != ch:
            raise ValueError("frame channels contradict STREAMINFO")

        chans = []
        for ci in range(nch):
            cbps = fbps
            if (mode == "left_side" and ci == 1) or \
               (mode == "right_side" and ci == 0) or \
               (mode == "mid_side" and ci == 1):
                cbps += 1
            chans.append(_read_subframe(r, bs, cbps))
        r.align()
        crc_end = r.bitpos // 8
        if crc_end + 2 > len(payload):
            raise ValueError("truncated frame CRC")
        (crc_got,) = struct.unpack(
            ">H", payload[crc_end : crc_end + 2]
        )
        if crc16(payload[frame_start:crc_end]) != crc_got:
            raise ValueError("frame CRC-16 mismatch")
        pos = crc_end + 2

        if mode == "indep":
            blk = np.stack(chans, axis=1)
        elif mode == "left_side":
            left, side = chans
            blk = np.stack([left, left - side], axis=1)
        elif mode == "right_side":
            side, right = chans
            blk = np.stack([right + side, right], axis=1)
        else:  # mid/side
            mid, side = chans
            m2 = (mid.astype(np.int64) << 1) | (side & 1)
            blk = np.stack([(m2 + side) >> 1, (m2 - side) >> 1], axis=1)
        out.append(blk)

    if not out:
        raise ValueError("no audio frames")
    pcm = np.concatenate(out, axis=0)
    if total and len(pcm) != total:
        raise ValueError(
            f"decoded {len(pcm)} samples, STREAMINFO says {total}"
        )
    lim = 1 << (bps - 1)
    if pcm.min() < -lim or pcm.max() >= lim:
        raise ValueError("decoded samples exceed declared bit depth")
    if verify_md5 and md5_expect != b"\x00" * 16:
        raw = _pcm_bytes(pcm.reshape(-1), bps)
        if hashlib.md5(raw).digest() != md5_expect:
            raise ValueError("PCM MD5 mismatch")
    return sample_rate, ch, pcm.reshape(-1).astype(np.int32)


def _read_subframe(r: _BitReader, bs: int, bps: int) -> np.ndarray:
    if r.read(1):
        raise ValueError("subframe padding bit set")
    stype = r.read(6)
    wasted = 0
    if r.read(1):
        wasted = r.read_unary() + 1
    ebps = bps - wasted
    if ebps <= 0:
        raise ValueError("wasted bits exceed sample size")
    if stype == 0:  # CONSTANT
        v = r.read_signed(ebps)
        x = np.full(bs, v, np.int64)
    elif stype == 1:  # VERBATIM
        x = np.array([r.read_signed(ebps) for _ in range(bs)], np.int64)
    elif 8 <= stype <= 12:  # FIXED
        order = stype - 8
        if order > bs:
            raise ValueError("fixed order exceeds block size")
        warm = np.array(
            [r.read_signed(ebps) for _ in range(order)], np.int64
        )
        res = _read_residual(r, bs, order)
        x = _restore_fixed(warm, res, order)
    elif stype >= 32:  # LPC
        order = (stype & 31) + 1
        if order > bs:
            raise ValueError("LPC order exceeds block size")
        warm = np.array(
            [r.read_signed(ebps) for _ in range(order)], np.int64
        )
        prec = r.read(4)
        if prec == 15:
            raise ValueError("invalid LPC precision code")
        prec += 1
        shift = r.read_signed(5)
        if shift < 0:
            raise ValueError("negative LPC shift")
        coefs = [r.read_signed(prec) for _ in range(order)]
        res = _read_residual(r, bs, order)
        x = _predict_lpc(warm, res, coefs, shift)
    else:
        raise ValueError(f"reserved subframe type {stype}")
    return x << wasted if wasted else x


def flac_features(payload: bytes) -> dict:
    """Same signal-feature contract as media_codecs.wav_features, for
    FLAC payloads (full-scale normalization uses the stream's bps)."""
    sr, ch, x = parse_flac(payload)
    # bps from STREAMINFO again (parse returned int32 samples)
    r = _BitReader(payload[4 + 4 :])  # first block is STREAMINFO by spec
    r.read(16 + 16 + 24 + 24 + 20 + 3)
    bps = r.read(5) + 1
    scale = float(1 << (bps - 1))
    n_frames = len(x) // ch if ch else 0
    xf = x.astype(np.float64) / scale
    mono = xf.reshape(-1, ch).mean(axis=1) if n_frames else np.zeros(0)
    zc = (
        float(np.mean(np.signbit(mono[1:]) != np.signbit(mono[:-1])))
        if len(mono) > 1
        else 0.0
    )
    return {
        "sample_rate": int(sr),
        "channels": int(ch),
        "duration_ms": int(round(n_frames * 1000.0 / sr)) if sr else 0,
        "rms": float(np.sqrt(np.mean(xf**2))) if len(xf) else 0.0,
        "peak": float(np.max(np.abs(xf))) if len(xf) else 0.0,
        "zcr": zc,
    }
