"""EBPPS — Exact-and-Bounded Probability-Proportional-to-Size sampling.

Beyond-reference family completing the Apache sampling trio
(reservoir / VarOpt / EBPPS).  Where the A-ES weighted reservoir gives
inclusion-∝-weight WITHOUT-replacement semantics and VarOpt gives
variance-optimal subset sums, EBPPS guarantees each item appears in
the sample with probability EXACTLY min(1, k·w/W) while never holding
more than ⌈C⌉ ≤ k items — the property you want when sampling a
training mixture to exact per-source proportions (reference pitch
docs/README.md:9: mergeable sampling state; the algorithm is Apache
DataSketches' EBPPS, Cohen's exact-PPS scheme).

State (mirrors datasketches-java's EbppsItemsSketch, recovered from
the bundled jar's bytecode and differentially tested against it live):

- ``k, n, cumulative_wt, wt_max, rho`` — deterministic scalars given
  the (ordered) weight stream;
- the sample: ``c`` (the EXPECTED sample size, deterministic), a list
  of "full" items, and at most one "partial" item carried with
  fractional inclusion probability ``c % 1``.

``update``/``merge`` follow java's arithmetic exactly (including its
quirk of NOT folding the other side's wt_max into the surviving state
on merge — parity matters because rho is derived from it on later
updates).  Randomness decides only WHICH items survive; every
``c``/weight statistic is deterministic and exact-testable.

Apache wire (serVer 1, family id 19): k u32 @4, n u64 @8, cumWt f64
@16, wtMax f64 @24, rho f64 @32, C f64 @40, items (serde-encoded,
full items then the partial item) @48; flags EMPTY=4, HAS_PARTIAL=8.
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd

from .base import (
    FAMILY_EBPPS,
    SketchDeserializeError,
    frame,
    is_framed,
    unframe,
)
from .frequent_items import canonicalize_series

_WIRE_FAMILY_ID = 19
_WIRE_SERVER = 1
_WIRE_EMPTY_FLAG = 4
_WIRE_PARTIAL_FLAG = 8


class EbppsSketch:
    FAMILY = FAMILY_EBPPS
    NAME = "EBPPS Sample"
    K_MIN, K_MAX = 1, 1 << 22

    __slots__ = (
        "k", "n", "cumulative_wt", "wt_max", "rho",
        "c", "data", "partial", "_rng",
    )

    def __init__(self, k: int = 1024):
        if not (self.K_MIN <= k <= self.K_MAX):
            raise ValueError(
                f"Invalid k for {self.NAME} sketch: {k} (must be in "
                f"[{self.K_MIN}, {self.K_MAX}])"
            )
        self.k = int(k)
        self.n = 0
        self.cumulative_wt = 0.0
        self.wt_max = 0.0
        self.rho = 1.0
        self.c = 0.0
        self.data: list[str] = []
        self.partial: str | None = None
        self._rng = np.random.default_rng()

    # -- sample-state helpers (java EbppsItemsSample parity) -------------
    def _subsample(self, num: int) -> None:
        if num == len(self.data):
            return
        d = self.data
        n_d = len(d)
        for i in range(num):
            j = i + int(self._rng.integers(n_d - i))
            d[i], d[j] = d[j], d[i]
        del d[num:]

    def _move_one_to_partial(self) -> None:
        d = self.data
        idx = int(self._rng.integers(len(d)))
        last = len(d) - 1
        if idx != last:
            self.partial = d[idx]
            d[idx] = d[last]
        else:
            self.partial = d[last]
        del d[last]

    def _swap_with_partial(self) -> None:
        if self.partial is None:
            self._move_one_to_partial()
        else:
            idx = int(self._rng.integers(len(self.data)))
            self.partial, self.data[idx] = self.data[idx], self.partial

    def _downsample(self, theta: float) -> None:
        if theta >= 1.0:
            return
        new_c = theta * self.c
        new_c_int = np.floor(new_c)
        new_c_frac = new_c % 1.0
        c_frac = self.c % 1.0
        if new_c_int == 0.0:
            if self._rng.random() > (c_frac / self.c):
                self._swap_with_partial()
            self.data.clear()
        elif new_c_int == np.floor(self.c):
            if self._rng.random() > (1.0 - theta * c_frac) / (1.0 - new_c_frac):
                self._swap_with_partial()
        elif self._rng.random() < theta * c_frac:
            self._subsample(int(new_c_int))
            self._swap_with_partial()
        else:
            self._subsample(int(new_c_int) + 1)
            self._move_one_to_partial()
        if new_c == new_c_int:
            self.partial = None
        self.c = new_c

    def _merge_one(self, item: str, theta: float) -> None:
        """java: tmp.replaceContent(item, theta); sample.merge(tmp)."""
        # tmp state: full item iff theta == 1, else a partial item
        tmp_full = item if theta == 1.0 else None
        tmp_partial = None if theta == 1.0 else item
        c_frac = self.c % 1.0
        other_c_frac = theta % 1.0
        self.c += theta
        if tmp_full is not None:
            self.data.append(tmp_full)
        if c_frac == 0.0 and other_c_frac == 0.0:
            self.partial = None
        elif c_frac + other_c_frac == 1.0 or self.c == np.floor(self.c):
            if self._rng.random() <= c_frac:
                if self.partial is not None:
                    self.data.append(self.partial)
            elif tmp_partial is not None:
                self.data.append(tmp_partial)
            self.partial = None
        elif c_frac + other_c_frac < 1.0:
            if self._rng.random() > c_frac / (c_frac + other_c_frac):
                self.partial = tmp_partial
        else:
            if self._rng.random() <= (1.0 - c_frac) / (
                (1.0 - c_frac) + (1.0 - other_c_frac)
            ):
                self.data.append(tmp_partial)
            else:
                self.data.append(self.partial)
                self.partial = tmp_partial

    # -- building ---------------------------------------------------------
    def update(self, item: str, wt: float = 1.0) -> None:
        if not (wt >= 0.0) or np.isinf(wt):
            raise ValueError(
                f"Item weights must be nonnegative and finite. Found: {wt}"
            )
        if wt == 0.0:
            return
        new_cum = self.cumulative_wt + wt
        new_max = max(self.wt_max, wt)
        new_rho = min(1.0 / new_max, self.k / new_cum)
        if self.cumulative_wt > 0.0:
            self._downsample(new_rho / self.rho)
        self._merge_one(item, new_rho * wt)
        self.cumulative_wt = new_cum
        self.wt_max = new_max
        self.rho = new_rho
        self.n += 1

    def update_series(self, s: pd.Series, weights: pd.Series | None = None) -> None:
        if weights is not None:
            mask = s.notna() & weights.notna() & (weights > 0)
            s = s[mask]
            w = weights[mask].to_numpy(dtype=np.float64)
        else:
            s = s.dropna()
            w = None
        if s.empty:
            return
        items = canonicalize_series(s).tolist()
        if w is None:
            for it in items:
                self.update(it, 1.0)
        else:
            for it, wt in zip(items, w.tolist()):
                self.update(it, wt)

    def merge(self, other: "EbppsSketch") -> None:
        if other.cumulative_wt == 0.0:
            return
        if other.cumulative_wt > self.cumulative_wt:
            # java merges into the HEAVIER side, then copies back —
            # note wt_max/n survive from the heavy copy
            cpy = other._copy()
            cpy._internal_merge(self)
            for f in ("k", "n", "cumulative_wt", "wt_max", "rho",
                      "c", "data", "partial"):
                setattr(self, f, getattr(cpy, f))
        else:
            self._internal_merge(other)

    def _copy(self) -> "EbppsSketch":
        cpy = EbppsSketch(self.k)
        cpy.n = self.n
        cpy.cumulative_wt = self.cumulative_wt
        cpy.wt_max = self.wt_max
        cpy.rho = self.rho
        cpy.c = self.c
        cpy.data = list(self.data)
        cpy.partial = self.partial
        # share the generator: merge() draws on this copy when the
        # other side is heavier, and a seeded sketch must stay seeded
        cpy._rng = self._rng
        return cpy

    def _internal_merge(self, other: "EbppsSketch") -> None:
        # java parity, including the quirk: the surviving wt_max_ is
        # NOT updated to the pairwise max (only the local new_rho
        # computation uses it)
        final_cum = self.cumulative_wt + other.cumulative_wt
        new_max = max(self.wt_max, other.wt_max)
        self.k = min(self.k, other.k)
        new_n = self.n + other.n
        # java computes other.cumWt / other.getC() unguarded (0/0 = NaN
        # there, unused since an empty side has no items); python floats
        # raise on 0/0, so guard explicitly
        avg_wt = other.cumulative_wt / other.c if other.c > 0 else 0.0
        for item in list(other.data):
            new_cum = self.cumulative_wt + avg_wt
            new_rho = min(1.0 / new_max, self.k / new_cum)
            if self.cumulative_wt > 0.0:
                self._downsample(new_rho / self.rho)
            self._merge_one(item, new_rho * avg_wt)
            self.cumulative_wt = new_cum
            self.rho = new_rho
        if other.partial is not None:
            other_c_frac = other.c % 1.0
            new_cum = self.cumulative_wt + other_c_frac * avg_wt
            new_rho = min(1.0 / new_max, self.k / new_cum)
            if self.cumulative_wt > 0.0:
                self._downsample(new_rho / self.rho)
            self._merge_one(other.partial, new_rho * other_c_frac * avg_wt)
            self.rho = new_rho
        self.cumulative_wt = final_cum
        self.n = new_n

    # -- queries ------------------------------------------------------------
    @property
    def is_empty(self) -> bool:
        return self.n == 0

    @property
    def has_partial(self) -> bool:
        return self.partial is not None

    @property
    def num_retained(self) -> int:
        return len(self.data) + (1 if self.partial is not None else 0)

    def get_full_items(self) -> list[str]:
        """Items with inclusion fully realized — deterministic reads
        of the current state (the partial item is excluded)."""
        return list(self.data)

    def get_sample(self) -> list[str]:
        """ONE random realization: the full items plus the partial
        item with probability c % 1 (java getResult semantics)."""
        out = list(self.data)
        if self.partial is not None and self._rng.random() < self.c % 1.0:
            out.append(self.partial)
        return out

    def describe(self) -> str:
        lines = [
            f"### {self.NAME} sketch summary:",
            f"   k             : {self.k}",
            f"   n seen        : {self.n}",
            f"   C (expected)  : {self.c}",
            f"   cumulative wt : {self.cumulative_wt}",
            f"   retained      : {self.num_retained}",
            f"   partial item? : {self.has_partial}",
            f"   empty?        : {self.is_empty}",
        ]
        return "\n".join(lines) + "\n"

    # -- DSKS serialization ---------------------------------------------
    def serialize(self) -> bytes:
        items = self.data + ([self.partial] if self.partial is not None else [])
        enc = [s.encode("utf-8") for s in items]
        lens = np.array([len(e) for e in enc], dtype=np.int32)
        payload = (
            struct.pack(
                "<IQdddd?",
                self.k, self.n, self.cumulative_wt, self.wt_max,
                self.rho, self.c, self.partial is not None,
            )
            + struct.pack("<I", len(enc))
            + lens.tobytes()
            + b"".join(enc)
        )
        return frame(self.FAMILY, payload)

    @classmethod
    def deserialize(cls, blob: bytes) -> "EbppsSketch":
        if not is_framed(blob):
            return cls.from_wire(bytes(blob))
        payload = unframe(blob, cls.FAMILY)
        try:
            k, n, cum, wmax, rho, c, has_partial = struct.unpack_from(
                "<IQdddd?", payload, 0
            )
            off = 45
            (cnt,) = struct.unpack_from("<I", payload, off)
            off += 4
            lens = np.frombuffer(payload, dtype=np.int32, count=cnt, offset=off)
            off += 4 * cnt
            items = []
            for ln in lens:
                items.append(payload[off : off + ln].decode("utf-8"))
                off += int(ln)
            if len(items) != cnt or (has_partial and cnt < 1):
                raise ValueError("truncated items")
            sk = cls(k)
            sk.n = int(n)
            sk.cumulative_wt = float(cum)
            sk.wt_max = float(wmax)
            sk.rho = float(rho)
            sk.c = float(c)
            if has_partial:
                sk.partial = items[-1]
                sk.data = items[:-1]
            else:
                sk.data = items
            return sk
        except (struct.error, ValueError, UnicodeDecodeError) as exc:
            raise SketchDeserializeError(
                f"Failed to deserialize {cls.NAME} sketch"
            ) from exc

    # -- Apache wire interop ----------------------------------------------
    def to_wire(self, serde: str = "longs") -> bytes:
        """Serialize as an Apache ``EbppsItemsSketch`` blob (serVer 1,
        family 19; layout in the module docstring).  ``serde`` follows
        the same longs/strings contract as the other sampling wires."""
        if serde not in ("longs", "strings"):
            raise ValueError(f"unknown EBPPS serde {serde!r}")
        if self.is_empty:
            return struct.pack(
                "<BBBBI", 1, _WIRE_SERVER, _WIRE_FAMILY_ID,
                _WIRE_EMPTY_FLAG, self.k,
            )
        items = self.data + ([self.partial] if self.partial is not None else [])
        if serde == "longs":
            try:
                enc = np.array([int(s) for s in items], dtype=np.int64).tobytes()
            except (ValueError, OverflowError) as exc:
                raise ValueError(
                    "EBPPS longs wire requires every retained item to "
                    "be an int64 string; use serde='strings'"
                ) from exc
        else:
            parts = []
            for s in items:
                b = s.encode("utf-8")
                parts.append(struct.pack("<I", len(b)) + b)
            enc = b"".join(parts)
        flags = _WIRE_PARTIAL_FLAG if self.partial is not None else 0
        return (
            struct.pack("<BBBBI", 5, _WIRE_SERVER, _WIRE_FAMILY_ID,
                        flags, self.k)
            + struct.pack("<Q", self.n)
            + struct.pack("<dddd", self.cumulative_wt, self.wt_max,
                          self.rho, self.c)
            + enc
        )

    @classmethod
    def from_wire(cls, blob: bytes, serde: str | None = None) -> "EbppsSketch":
        try:
            pre_rf, ser, fam, flags, k = struct.unpack_from("<BBBBI", blob, 0)
            pre = pre_rf & 0x3F
        except struct.error as exc:
            raise SketchDeserializeError(
                f"Failed to deserialize {cls.NAME} sketch"
            ) from exc
        if fam != _WIRE_FAMILY_ID or ser != _WIRE_SERVER or pre not in (1, 5):
            raise SketchDeserializeError(
                f"Failed to deserialize {cls.NAME} sketch"
            )
        try:
            sk = cls(k)
        except ValueError as exc:
            raise SketchDeserializeError(
                f"Failed to deserialize {cls.NAME} sketch: "
                f"k={k} outside supported [{cls.K_MIN}, {cls.K_MAX}]"
            ) from exc
        if flags & _WIRE_EMPTY_FLAG:
            return sk
        try:
            n, = struct.unpack_from("<Q", blob, 8)
            cum, wmax, rho, c = struct.unpack_from("<dddd", blob, 16)
            if not (cum > 0) or not np.isfinite(cum) or not (c >= 0):
                raise ValueError("bad weights")
            has_partial = bool(flags & _WIRE_PARTIAL_FLAG)
            cnt = int(np.floor(c)) + (1 if has_partial else 0)
            rest = blob[48:]
            if serde is None:
                serde = "longs" if len(rest) == 8 * cnt else "strings"
            if serde == "longs":
                if len(rest) < 8 * cnt:
                    raise ValueError("truncated items")
                vals = np.frombuffer(rest, dtype="<i8", count=cnt)
                items = [str(int(v)) for v in vals]
            elif serde == "strings":
                items = []
                p = 0
                for _ in range(cnt):
                    (ln,) = struct.unpack_from("<I", rest, p)
                    p += 4
                    if p + ln > len(rest):
                        raise ValueError("truncated items")
                    items.append(rest[p : p + ln].decode("utf-8"))
                    p += ln
            else:
                raise ValueError(f"unknown EBPPS serde {serde!r}")
        except (struct.error, ValueError, UnicodeDecodeError) as exc:
            raise SketchDeserializeError(
                f"Failed to deserialize {cls.NAME} sketch"
            ) from exc
        sk.n = int(n)
        sk.cumulative_wt = float(cum)
        sk.wt_max = float(wmax)
        sk.rho = float(rho)
        sk.c = float(c)
        if has_partial:
            sk.partial = items[-1]
            sk.data = items[:-1]
        else:
            sk.data = items
        return sk
