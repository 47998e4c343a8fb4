"""Ephemeral scratch directories for gate-internal streaming replays.

The streaming/lake gates stage micro-batch landing files, stream
checkpoints, state-store deltas and sink files in a tempdir they create
and destroy INSIDE one query invocation. That state is ephemeral by
construction (the gate semantics replay a stream and read back the
result; nothing survives the call), so it belongs on the fastest
ephemeral filesystem available: `tempfile.mkdtemp()` defaults to /tmp,
which on these boxes is plain disk (ext4), and every offset-log fsync,
state commit and staging write pays disk latency — measured as a large
share of the ~0.45 s/micro-batch commit-protocol floor (guide §6 I/O
placement; OPTIMIZATION_r12 §1). A RAM-backed tmpfs (/dev/shm) removes
that without touching the commit protocol itself.

Durable production checkpoints belong on durable storage — this helper
is ONLY for scratch whose lifetime is one operator/query invocation,
which is exactly what the gates' `shutil.rmtree` blocks already assert.
"""

from __future__ import annotations

import os
import tempfile

# tmpfs is typically capped at half the RAM; below this much free space
# the scratch goes to /tmp instead, which survives what tmpfs would not
_MIN_FREE_BYTES = 2 << 30


def _pick_base() -> str | None:
    """/dev/shm when it is a writable directory with at least
    `_MIN_FREE_BYTES` free, else None (tempfile's default, /tmp)."""
    try:
        st = os.statvfs("/dev/shm")
    except OSError:
        return None
    if st.f_bavail * st.f_frsize < _MIN_FREE_BYTES or not os.access("/dev/shm", os.W_OK):
        return None
    return "/dev/shm"


_BASE = _pick_base()


def scratch_dir(prefix: str) -> str:
    """mkdtemp on tmpfs when it has room, else the tempfile default."""
    return tempfile.mkdtemp(prefix=prefix, dir=_BASE)
