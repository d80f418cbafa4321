"""Byte-bounded memos for the per-worker caches of the Python UDFs.

The scoring and hashing UDFs memoize per key (tokens and shingles are
Zipf-distributed, so a memo removes most ``hashlib`` calls). A cap on the
entry count does not bound memory: one ``_md5_sig_udf`` entry holds
``num_hashes`` hex digests, so a million of them are gigabytes per worker.
A :class:`BoundedMemo` keeps a running estimate of its bytes and stops
taking new keys at :data:`MEMO_BUDGET_BYTES`; lookups stay plain ``dict``
lookups, and a key it refuses is recomputed, so a full memo changes no
output.
"""

from __future__ import annotations

import sys

MEMO_BUDGET_BYTES = 64 << 20

# a dict slot (hash, key and value pointers) plus its index entry, at the
# load factor a growing dict keeps on average
_SLOT_BYTES = 64


class BoundedMemo(dict):
    """A ``dict`` that takes new keys through :meth:`put` only while its
    estimated size is under :data:`MEMO_BUDGET_BYTES` (read at
    construction)."""

    def __init__(self) -> None:
        super().__init__()
        self.budget = MEMO_BUDGET_BYTES
        self.nbytes = 0

    def put(self, key: str, value: object, value_bytes: int) -> None:
        """Store ``value`` under a new ``key`` if it fits. ``value_bytes``
        is the caller's estimate of what the value holds; the key and the
        slot are added here."""
        n = sys.getsizeof(key) + value_bytes + _SLOT_BYTES
        if self.nbytes + n <= self.budget:
            self[key] = value
            self.nbytes += n
