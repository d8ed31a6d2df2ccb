"""Sketch type registry: dispatch (de)serialization and construction by the
type byte in the blob header, so the Spark layer can carry heterogeneous
sketch states through one BinaryType column."""

from __future__ import annotations

import struct

from . import bloom, cms, cs, dd, fd, hll, kll, mg, moments, tdigest, theta

# kind → (type byte in the blob header, state class, factory)
_KINDS = {
    "hll": (hll.TYPE_HLL, hll.HLL, hll.empty),
    "cms": (cms.TYPE_CMS, cms.CMS, cms.empty),
    "bloom": (bloom.TYPE_BLOOM, bloom.Bloom, bloom.empty),
    "kll": (kll.TYPE_KLL, kll.KLL, kll.empty),
    "tdigest": (tdigest.TYPE_TDIGEST, tdigest.TDigest, tdigest.empty),
    "theta": (theta.TYPE_THETA, theta.Theta, theta.empty),
    "mg": (mg.TYPE_MG, mg.MG, mg.empty),
    "fd": (fd.TYPE_FD, fd.FD, fd.empty),
    "cs": (cs.TYPE_CS, cs.CS, cs.empty),
    "dd": (dd.TYPE_DD, dd.DD, dd.empty),
    "moments": (moments.TYPE_MOMENTS, moments.Moments, moments.empty),
}
_BY_TYPE = {typ: cls for typ, cls, _ in _KINDS.values()}


def from_bytes(buf: bytes):
    """Blob → sketch state. Truncated or corrupt headers raise ValueError."""
    try:
        magic, _ver, typ = struct.unpack_from("<2sBB", buf, 0)
        if magic != b"SK":
            raise ValueError("bad sketch magic")
        # look up BEFORE calling so a KeyError raised inside a kernel's
        # from_bytes is never misreported as "unknown sketch type"
        cls = _BY_TYPE.get(typ)
        if cls is None:
            raise ValueError(f"unknown sketch type {typ}")
        return cls.from_bytes(buf)
    except struct.error as e:
        raise ValueError(f"truncated sketch blob ({len(buf)} bytes): {e}") \
            from None


def make(kind: str, **params):
    return _KINDS[kind][2](**params)


def merge_blobs(blobs) -> bytes:
    """Merge an iterable of serialized sketch states of one kind."""
    it = iter(blobs)
    try:
        acc = from_bytes(next(it))
    except StopIteration:
        # bare StopIteration inside a generator becomes an opaque
        # PEP-479 RuntimeError at the mapInPandas/mapInArrow call site
        raise ValueError("merge_blobs: empty blob iterable") from None
    for b in it:
        acc = acc.merge(from_bytes(b))
    return acc.to_bytes()
