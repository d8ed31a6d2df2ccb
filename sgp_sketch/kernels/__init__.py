"""Pure-numpy sketch kernels. No pyspark imports here — everything operates on
numpy arrays so the same code runs inside Arrow-batched UDFs and in plain
unit tests.

Each kernel module defines one state class and an `empty(**params)` factory.
Every state exposes the same core methods:
    update(values)           vectorized in-place batch update, returns self
                             (hash kinds also take update_hashes(h, ...))
    merge(other)             associative merge, returns a new state
    to_bytes() / Cls.from_bytes(buf)   versioned little-endian serialization
and its queries: estimate(...) for the counting kinds, quantiles(qs) for
KLL, t-digest and DDSketch.

`registry` maps a kind name ("hll", "moments", ...) and the blob header's
type byte to the class, so mixed blobs travel in one binary column.
"""

from . import (hashing, hll, cms, bloom, kll, tdigest,  # noqa: F401
               theta, mg, fd, cs, dd, moments)  # noqa: F401
