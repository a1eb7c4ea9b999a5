"""HyperLogLog distinct-count sketch (pure-Python, Apache-compatible core).

Reference surface: ``datasketch_hll`` aggregate + scalars
(/root/reference/src/generated.cpp:866-1138).  Note the primary
Spark-side HLL path in this engine is Spark 4's *native* Apache
DataSketches HLL (``hll_sketch_agg`` etc., JVM-side); this module
provides the Python-format HLL used by the SQL-registered
``datasketch_hll`` UDAF.

Design (round 4 — Apache coupon scheme, wire-compatible):
- hashing is murmur3 x64-128 seed 9001 (murmur.py, Apache-identical);
  an update contributes the Apache COUPON (slotNo = h1 & 2^26-1,
  value = min(NLZ(h2), 62) + 1) — the same mapping datasketches-java
  pins via the stored coupon 0x08E6657B for int 5
  (tests/test_murmur_wire.py::test_hll_coupon_golden).  Because the
  register value comes from an independent hash lane, it is invariant
  under lg_k: mixed-K folds are a plain max-fold over slot & (m'-1).
- SPARSE mode keeps the exact set of unique h1 hashes (plus aligned
  coupon values) until it exceeds 2^lg_k / 2 entries -> estimates are
  EXACT (the reference's small-N tests, e.g.
  test/sql/datasketch_hll.test:90-109, rely on exact small-range
  behavior).
- DENSE mode: registers[slot] = max(value), harmonic-mean estimator
  with linear-counting small-range correction (Flajolet et al., 2007).
- to_wire()/from_wire() speak the Apache HLL formats (LIST/SET coupon
  modes and dense HLL_4/6/8), so blobs cross to
  DuckDB/Druid/Hive/datasketches-{java,cpp} and back — and MERGE
  correctly cross-system because the register mapping is identical.
"""

from __future__ import annotations

import struct

import numpy as np

from ..murmur import murmur3_values
from .base import FAMILY_HLL, SketchDeserializeError, frame, is_framed, unframe
from .cpc import _bit_length_u64

_MODE_SPARSE = 0
_MODE_DENSE = 1
_MODE_SPARSE_COUPONS = 2  # wire-imported sparse: keys are Apache coupons

# Apache DataSketches HLL wire format (family 7, serVer 1).  Layout
# verified against datasketches-java 6.2 dumps and cross-validated live
# in tests/test_hll_wire.py.  modeByte = (tgtHllType << 2) | curMode
# with curMode 0=LIST, 1=SET, 2=HLL and tgt 0=HLL_4, 1=HLL_6, 2=HLL_8.
_HLL_WIRE_FAMILY = 7
_HLL_FLAG_EMPTY = 4
_HLL_FLAG_COMPACT = 8
_HLL_FLAG_OUT_OF_ORDER = 16
_HLL_TGT_4 = 0
_HLL_TGT_6 = 1
_HLL_TGT_8 = 2


_ALPHA_INF = 1.0 / (2.0 * np.log(2.0))


def _ertl_sigma(x: float) -> float:
    """sigma(x) = x + sum_{k>=1} x^(2^k) * 2^(k-1)  (Ertl §5)."""
    if x >= 1.0:
        return float("inf")
    y, z = 1.0, x
    while True:
        x = x * x
        z_prev = z
        z += x * y
        y += y
        if z == z_prev:
            return z


def _ertl_tau(x: float) -> float:
    """tau(x) = (1/3)(1 - x - sum_{k>=1} (1 - x^(2^-k))^2 * 2^-k)."""
    if x <= 0.0 or x >= 1.0:
        return 0.0
    y, z = 1.0, 1.0 - x
    while True:
        x = np.sqrt(x)
        z_prev = z
        y *= 0.5
        z -= (1.0 - x) ** 2 * y
        if z == z_prev:
            return z / 3.0


class HllSketch:
    FAMILY = FAMILY_HLL
    NAME = "HLL"
    LG_K_MIN, LG_K_MAX = 4, 21  # codegen/generated.cpp.j2:80-84
    RSE_COEFF = 1.04  # classic HLL relative standard error coefficient

    __slots__ = (
        "lg_k", "mode", "sparse", "sparse_vals", "sparse_is_coupons", "registers",
    )

    def __init__(self, lg_k: int = 12):
        if not (self.LG_K_MIN <= lg_k <= self.LG_K_MAX):
            # text mirrors the reference (codegen/generated.cpp.j2:80-89)
            raise ValueError(
                f"{self.NAME} K (lg_k) value must be between "
                f"{self.LG_K_MIN} and {self.LG_K_MAX}, got: {lg_k}"
            )
        self.lg_k = int(lg_k)
        self.mode = _MODE_SPARSE
        self.sparse = np.empty(0, dtype=np.uint64)  # unique keys (see below)
        self.sparse_vals = np.empty(0, dtype=np.uint8)  # aligned coupon values
        # Sparse keys come in two spaces: full 64-bit h1 hashes for
        # natively built sketches (n-exact uniqueness), or 32-bit Apache
        # COUPONS for wire-imported ones (h1 is not recoverable from a
        # LIST/SET blob).  The spaces are NOT mixable — deduping an h1
        # set against a coupon set would double-count shared items — so
        # the moment a coupon-keyed operand enters a merge, BOTH sides
        # convert to coupons (coupon = value<<26 | h1&(2^26-1), exactly
        # Apache's own sparse semantics and accuracy).
        self.sparse_is_coupons = False
        self.registers = None  # np.uint8[m] in dense mode

    # -- building -------------------------------------------------------
    @property
    def _m(self) -> int:
        return 1 << self.lg_k

    @property
    def _sparse_limit(self) -> int:
        return max(16, self._m // 2)

    @staticmethod
    def _coupons_of(keys: np.ndarray, vals: np.ndarray) -> np.ndarray:
        return (vals.astype(np.uint64) << np.uint64(26)) | (
            keys & np.uint64((1 << 26) - 1)
        )

    def update_coupons(
        self, keys: np.ndarray, vals: np.ndarray, coupon_keyed: bool = False
    ) -> None:
        """Fold (key, coupon value) pairs.  ``keys`` are h1 hashes by
        default, or Apache coupons with ``coupon_keyed=True``; the slot
        is the key's low lg_k bits either way (a coupon's low 26 bits
        ARE slotNo), and the value is NLZ(h2)+1, independent of both
        slot and lg_k (Apache's coupon scheme)."""
        if keys.size == 0:
            return
        vals = vals.astype(np.uint8)
        if self.mode == _MODE_DENSE:
            self._dense_update(keys, vals)
            return
        # unify the key spaces before deduping (see __init__ note)
        if coupon_keyed and not self.sparse_is_coupons:
            self.sparse = self._coupons_of(self.sparse, self.sparse_vals)
            self.sparse_is_coupons = True
        elif self.sparse_is_coupons and not coupon_keyed:
            keys = self._coupons_of(keys, vals)
        hashes = np.concatenate([self.sparse, keys.astype(np.uint64)])
        values = np.concatenate([self.sparse_vals, vals])
        self.sparse, idx = np.unique(hashes, return_index=True)
        self.sparse_vals = values[idx]
        if self.sparse.size > self._sparse_limit:
            self._promote()

    def update_values(self, values) -> None:
        h1, h2 = murmur3_values(values)
        if h1.size == 0:
            return
        # Apache coupon value: min(NLZ(h2), 62) + 1  (6-bit range 1..63)
        vals = (np.minimum(64 - _bit_length_u64(h2), 62) + 1).astype(np.uint8)
        self.update_coupons(h1, vals)

    def _promote(self) -> None:
        self.registers = np.zeros(self._m, dtype=np.uint8)
        self.mode = _MODE_DENSE
        if self.sparse.size:
            self._dense_update(self.sparse, self.sparse_vals)
        self.sparse = np.empty(0, dtype=np.uint64)
        self.sparse_vals = np.empty(0, dtype=np.uint8)
        self.sparse_is_coupons = False

    def _dense_update(self, h1: np.ndarray, vals: np.ndarray) -> None:
        idx = (h1 & np.uint64(self._m - 1)).astype(np.int64)
        np.maximum.at(self.registers, idx, vals.astype(np.uint8))

    def merge(self, other: "HllSketch") -> None:
        if other.lg_k < self.lg_k:
            # mixed-K union degrades to the coarser resolution
            # (reference test/sql/datasketch_hll.test:224-234) -- even
            # when the other side is still sparse (raw hashes are
            # resolution-free, but the RESULT's configured K must be
            # the min so later promotion lands at the coarser size)
            self._fold_to(other.lg_k)
        if other.mode == _MODE_SPARSE:
            self.update_coupons(
                other.sparse, other.sparse_vals,
                coupon_keyed=other.sparse_is_coupons,
            )
            return
        if self.mode == _MODE_SPARSE:
            sp, sv = self.sparse, self.sparse_vals
            self.lg_k = min(self.lg_k, other.lg_k)
            self.registers = np.zeros(self._m, dtype=np.uint8)
            self.mode = _MODE_DENSE
            self.sparse = np.empty(0, dtype=np.uint64)
            self.sparse_vals = np.empty(0, dtype=np.uint8)
            self.sparse_is_coupons = False
            if sp.size:
                self._dense_update(sp, sv)
        if other.lg_k > self.lg_k:
            other = other._folded_copy(self.lg_k)
        np.maximum(self.registers, other.registers, out=self.registers)

    def _fold_to(self, lg_k: int) -> None:
        """Degrade resolution to a smaller lg_k (union of mixed-K sketches,
        reference test/sql/datasketch_hll.test:224-234)."""
        if self.mode == _MODE_SPARSE:
            self.lg_k = lg_k
            if self.sparse.size > self._sparse_limit:
                self._promote()
            return
        folded = self._folded_copy(lg_k)
        self.lg_k = folded.lg_k
        self.registers = folded.registers

    def _folded_copy(self, lg_k: int) -> "HllSketch":
        # EXACT register downsampling: the coupon value comes from an
        # independent hash lane, so it is invariant under lg_k — fine
        # slot j folds into coarse slot j & (m'-1) with a plain max
        # (the same reason Apache unions can always fold to the
        # coarser configured K)
        out = HllSketch.__new__(type(self))
        out.lg_k = lg_k
        out.mode = _MODE_DENSE
        out.sparse = np.empty(0, dtype=np.uint64)
        out.sparse_vals = np.empty(0, dtype=np.uint8)
        out.sparse_is_coupons = False
        m2 = 1 << lg_k
        coarse = np.zeros(m2, dtype=np.uint8)
        j = np.arange(self._m, dtype=np.int64)
        np.maximum.at(coarse, j & (m2 - 1), self.registers)
        out.registers = coarse
        return out

    # -- queries --------------------------------------------------------
    @property
    def is_empty(self) -> bool:
        return self.mode == _MODE_SPARSE and self.sparse.size == 0

    @property
    def lg_config_k(self) -> int:
        return self.lg_k

    @property
    def is_compact(self) -> bool:
        return True  # our blobs are always the compact representation

    def get_estimate(self) -> float:
        if self.mode == _MODE_SPARSE:
            return float(self.sparse.size)
        # Ertl's improved raw estimator (arXiv:1702.01284 §5): unbiased
        # across the whole range with no hard linear-counting switch.
        # Our coupon value is NLZ of an independent 64-bit lane — the
        # idealized geometric register distribution the derivation
        # assumes — with values capped at 63, so q = 62.
        m = float(self._m)
        q = 62
        counts = np.bincount(self.registers, minlength=q + 2).astype(np.float64)
        z = m * _ertl_tau(1.0 - counts[q + 1] / m) * (2.0 ** -q)
        mid = counts[1 : q + 1]
        z += float((mid * np.exp2(-np.arange(1.0, q + 1.0))).sum())
        z += m * _ertl_sigma(counts[0] / m)
        # z==0 is only reachable from a crafted/corrupt wire blob with
        # every register saturated at 63; clamp to the all-63 floor so
        # the estimate stays a large *finite* bound (Apache behaves the
        # same way) instead of propagating inf into SQL results.
        z = max(z, m * 2.0**-63)
        return float(_ALPHA_INF * m * m / z)

    def get_bound(self, num_std_devs: int, upper: bool) -> float:
        if not (1 <= num_std_devs <= 3):
            raise ValueError("number of standard deviations must be 1..3")
        est = self.get_estimate()
        if self.mode == _MODE_SPARSE:
            return est
        rse = self.RSE_COEFF / np.sqrt(self._m)
        return est * (1.0 + num_std_devs * rse) if upper else est / (1.0 + num_std_devs * rse)

    def describe(self, summary: bool = True, detail: bool = False) -> str:
        lines = [
            f"### {self.NAME} sketch summary:",
            f"   lg config k   : {self.lg_k}",
            f"   mode          : {'SPARSE' if self.mode == _MODE_SPARSE else 'DENSE'}",
            f"   empty?        : {self.is_empty}",
            f"   estimate      : {self.get_estimate():.3f}",
        ]
        if detail and self.mode == _MODE_DENSE:
            lines.append(f"   nonzero regs  : {int(np.count_nonzero(self.registers))}")
        return "\n".join(lines) + "\n"

    # -- serialization --------------------------------------------------
    def _payload(self) -> bytes:
        if self.mode == _MODE_SPARSE:
            mode = _MODE_SPARSE_COUPONS if self.sparse_is_coupons else _MODE_SPARSE
            return (
                struct.pack("<BBI", self.lg_k, mode, self.sparse.size)
                + self.sparse.tobytes()
                + self.sparse_vals.tobytes()
            )
        return struct.pack("<BBI", self.lg_k, _MODE_DENSE, 0) + self.registers.tobytes()

    def serialize(self) -> bytes:
        return frame(self.FAMILY, self._payload())

    @classmethod
    def _from_payload(cls, payload: bytes) -> "HllSketch":
        try:
            lg_k, mode, count = struct.unpack_from("<BBI", payload, 0)
            sk = cls(lg_k)
            if mode in (_MODE_SPARSE, _MODE_SPARSE_COUPONS):
                sk.sparse = np.frombuffer(
                    payload, dtype=np.uint64, count=count, offset=6
                ).copy()
                sk.sparse_vals = np.frombuffer(
                    payload, dtype=np.uint8, count=count, offset=6 + 8 * count
                ).copy()
                sk.sparse_is_coupons = mode == _MODE_SPARSE_COUPONS
            else:
                sk.mode = _MODE_DENSE
                regs = np.frombuffer(payload, dtype=np.uint8, count=1 << lg_k, offset=6)
                sk.registers = regs.copy()
            return sk
        except (struct.error, ValueError) as exc:
            raise SketchDeserializeError(f"Failed to deserialize {cls.NAME} sketch") from exc

    @classmethod
    def deserialize(cls, blob: bytes) -> "HllSketch":
        if not is_framed(blob):
            # Apache wire blob (no DSKS frame) — sniffed like the other
            # wire-capable families
            return cls.from_wire(blob)
        return cls._from_payload(unframe(blob, cls.FAMILY))

    # ---- Apache DataSketches wire format (HLL) ----

    def to_wire(self) -> bytes:
        """Serialize as an Apache DataSketches HLL sketch — readable by
        DuckDB/Druid/Hive/datasketches-{java,cpp}, and MERGEABLE with
        sketches those systems built over the same values (identical
        murmur3/9001 coupon mapping).  Sparse states emit the LIST
        (≤8 coupons) or SET coupon form; dense states emit HLL_8 with
        the composite-estimator fields (KxQ, numAtCurMin) computed
        from the registers and the out-of-order flag set so readers
        use them (we do not carry a HIP accumulator).
        """
        lg_k = self.lg_k
        if self.mode == _MODE_SPARSE:
            if self.sparse_is_coupons:
                coupons = self.sparse.astype(np.uint32)  # already unique
            else:
                coupons = np.unique(
                    self._coupons_of(self.sparse, self.sparse_vals)
                ).astype(np.uint32)
            n = int(coupons.size)
            if n == 0:
                return struct.pack(
                    "<BBBBBBBB", 2, 1, _HLL_WIRE_FAMILY, lg_k, 3,
                    _HLL_FLAG_EMPTY | _HLL_FLAG_COMPACT, 0, _HLL_TGT_8 << 2,
                )
            if n <= 8:  # LIST form
                return (
                    struct.pack(
                        "<BBBBBBBB", 2, 1, _HLL_WIRE_FAMILY, lg_k, 3,
                        _HLL_FLAG_COMPACT, n, _HLL_TGT_8 << 2,
                    )
                    + coupons.astype("<u4").tobytes()
                )
            # Apache's SET mode exists only for lgConfigK >= 8 and its
            # coupon hash set is capacity-capped at lgArr = lgK-3, so a
            # SET blob may carry at most 3/4 * 2^(lgK-3) coupons (java
            # CouponHashSet promotes to HLL past that and its heapify
            # CRASHES on an over-full or under-lgK blob).  Our sparse
            # state legally holds more (m/2, coupon-exact locally) —
            # project any state outside Apache's SET bounds to the
            # dense registers java itself would hold, without mutating
            # this sketch.  Found by the round-9 differential wire fuzz.
            if lg_k < 8 or n > ((1 << (lg_k - 3)) * 3) // 4:
                regs = np.zeros(self._m, dtype=np.uint8)
                idx = (self.sparse & np.uint64(self._m - 1)).astype(np.int64)
                np.maximum.at(regs, idx, self.sparse_vals)
                return self._wire_dense(regs)
            # SET form; lgArr sized like Apache's coupon hash set
            lg_arr = 5
            while (1 << lg_arr) * 3 // 4 < n:
                lg_arr += 1
            return (
                struct.pack(
                    "<BBBBBBBB", 3, 1, _HLL_WIRE_FAMILY, lg_k, lg_arr,
                    _HLL_FLAG_COMPACT, 0, (_HLL_TGT_8 << 2) | 1,
                )
                + struct.pack("<I", n)
                + coupons.astype("<u4").tobytes()
            )
        return self._wire_dense(self.registers)

    def _wire_dense(self, regs: np.ndarray) -> bytes:
        # dense → HLL_8 mode (40-byte preamble + m register bytes)
        lg_k = self.lg_k
        kxq = np.exp2(-regs.astype(np.float64))
        kxq0 = float(kxq[regs < 32].sum())
        kxq1 = float(kxq[regs >= 32].sum())
        num_at_cur_min = int(np.count_nonzero(regs == 0))
        head = struct.pack(
            "<BBBBBBBB", 10, 1, _HLL_WIRE_FAMILY, lg_k, 0,
            _HLL_FLAG_OUT_OF_ORDER, 0, (_HLL_TGT_8 << 2) | 2,
        )
        head += struct.pack("<ddd", 0.0, kxq0, kxq1)
        head += struct.pack("<ii", num_at_cur_min, 0)
        return head + regs.tobytes()

    @classmethod
    def sniff_wire(cls, blob) -> bool:
        """Cheap preamble check: does this look like an Apache HLL
        blob (serVer 1, family 7, sane lgK)?  Used by the SQL
        aggregates to give un-framed wire blobs the reference's typed
        sketch-blob treatment (merge) rather than hashing them as raw
        byte values."""
        return (
            isinstance(blob, (bytes, bytearray))
            and len(blob) >= 8
            and blob[1] == 1
            and blob[2] == _HLL_WIRE_FAMILY
            and cls.LG_K_MIN <= blob[3] <= cls.LG_K_MAX
        )

    @classmethod
    def from_wire(cls, blob: bytes) -> "HllSketch":
        """Parse an Apache HLL blob: LIST/SET coupon modes and dense
        HLL_4 (nibbles + curMin + aux exceptions), HLL_6 (packed),
        HLL_8.  Coupons import as sparse entries keyed by the coupon
        itself (its low bits ARE the slot), so small-n estimates stay
        exact and later promotion lands in the right registers."""
        err = SketchDeserializeError("Failed to deserialize HLL sketch")
        if not isinstance(blob, (bytes, bytearray)) or len(blob) < 8:
            raise err
        blob = bytes(blob)
        pre_ints, ser_ver, family, lg_k, lg_arr, flags, b6, mode_byte = (
            struct.unpack_from("<BBBBBBBB", blob, 0)
        )
        if ser_ver != 1 or family != _HLL_WIRE_FAMILY:
            raise err
        if not (cls.LG_K_MIN <= lg_k <= cls.LG_K_MAX):
            raise err
        sk = cls(lg_k)
        cur_mode = mode_byte & 0x3
        if flags & _HLL_FLAG_EMPTY:
            return sk
        # Only the compact layouts are supported (java toCompactByteArray
        # / cpp serialize_compact — what every engine exchanges).  The
        # updatable LIST/SET/HLL_4 layouts interleave zero gaps and
        # empty aux slots that would silently corrupt a compact-shaped
        # read, so reject them loudly.  HLL_6/HLL_8 register blocks are
        # identical in both layouts (verified: java emits the same
        # bytes) and are accepted regardless of the flag.
        compact = bool(flags & _HLL_FLAG_COMPACT)
        if cur_mode == 0:  # LIST: count in byte 6, coupons follow
            count = b6
            if pre_ints != 2 or not compact or len(blob) < 8 + 4 * count:
                raise err
            coupons = np.frombuffer(blob, dtype="<u4", count=count, offset=8)
            sk._ingest_coupons(coupons)
            return sk
        if cur_mode == 1:  # SET: count int at 8, coupons follow
            if pre_ints != 3 or not compact or len(blob) < 12:
                raise err
            (count,) = struct.unpack_from("<I", blob, 8)
            if len(blob) < 12 + 4 * count:
                raise err
            coupons = np.frombuffer(blob, dtype="<u4", count=count, offset=12)
            sk._ingest_coupons(coupons)
            return sk
        if cur_mode != 2 or pre_ints != 10 or len(blob) < 40:
            raise err
        # HLL mode: tgt type from the mode byte, registers after the
        # 40-byte preamble
        tgt = (mode_byte >> 2) & 0x3
        cur_min = b6
        m = 1 << lg_k
        body = blob[40:]
        if tgt == _HLL_TGT_8:
            if len(body) < m:
                raise err
            regs = np.frombuffer(body, dtype=np.uint8, count=m).copy()
        elif tgt == _HLL_TGT_6:
            nbytes = (m * 6 + 7) // 8
            if len(body) < nbytes:
                raise err
            bits = np.unpackbits(
                np.frombuffer(body, dtype=np.uint8, count=nbytes), bitorder="little"
            )
            bits = bits[: m * 6].reshape(m, 6)
            regs = (bits << np.arange(6, dtype=np.uint8)).sum(axis=1).astype(np.uint8)
        elif tgt == _HLL_TGT_4:
            # HLL_4's updatable layout pads the aux table with empty
            # slots — compact form only (the flags byte carries COMPACT
            # for HLL_4, unlike HLL_6/8 whose layouts don't differ)
            if not compact:
                raise err
            nbytes = m // 2
            (aux_count,) = struct.unpack_from("<i", blob, 36)
            if aux_count < 0 or len(body) < nbytes + 4 * aux_count:
                raise err
            packed = np.frombuffer(body, dtype=np.uint8, count=nbytes)
            nibbles = np.empty(m, dtype=np.uint8)
            nibbles[0::2] = packed & 0x0F
            nibbles[1::2] = packed >> 4
            # nibble v encodes register value curMin + v (including 0);
            # the AUX_TOKEN 15 marks an exception whose aux entry is a
            # plain COUPON, (value << 26) | slotNo (verified against a
            # live dump: 0x480008dd = slot 2269, value 18)
            regs = (nibbles + cur_min).astype(np.uint8)
            if aux_count:
                aux = np.frombuffer(body, dtype="<u4", count=aux_count, offset=nbytes)
                slots = (aux & np.uint32(m - 1)).astype(np.int64)
                vals = (aux >> np.uint32(26)).astype(np.uint8)
                regs[slots] = vals
        else:
            raise err
        sk.mode = _MODE_DENSE
        sk.registers = regs
        sk.sparse = np.empty(0, dtype=np.uint64)
        sk.sparse_vals = np.empty(0, dtype=np.uint8)
        return sk

    def _ingest_coupons(self, coupons: np.ndarray) -> None:
        """Import Apache coupons as coupon-keyed sparse entries:
        coupon & (m-1) == slotNo & (m-1), so promotion puts them in
        the correct register, and unique-coupon counting reproduces
        Apache's exact small-n LIST/SET estimates.  update_coupons
        converts any h1-keyed state to coupons first, so merging
        wire-imported and natively built sparse sketches never mixes
        key spaces (which would double-count shared items)."""
        vals = (coupons >> np.uint32(26)).astype(np.uint8)
        self.update_coupons(coupons.astype(np.uint64), vals, coupon_keyed=True)


# CPC moved to sketches/cpc.py: a real coupon-collector core with the
# ICON estimator (it no longer shares HLL's register estimator).
