"""The one driver-side merge of serialized sketches.

Every build and range read ends the same way: a bounded list of blobs
(one per input partition, per day bucket or per checkpointed partial)
reaches the driver and is folded left to right with the kernel's
``merge`` — the reference's single associative reduce
(src/mpi/mpiV2.c:163-175). Sum merges (CMS) and max/OR merges (HLL,
Bloom, KMV) give the same state in any order; order-sensitive summaries
(Misra-Gries, KLL, t-digest) give the state of this order, with the same
published bounds as any other.
"""

from __future__ import annotations

from typing import Callable, Iterable


def fold_blobs(blobs: Iterable, from_bytes: Callable):
    """Decode each blob with ``from_bytes`` and merge them in the order
    given. Raises ``ValueError`` when there is no blob."""
    out = None
    for blob in blobs:
        sk = from_bytes(bytes(blob))
        out = sk if out is None else out.merge(sk)
    if out is None:
        raise ValueError("no blobs to merge")
    return out
