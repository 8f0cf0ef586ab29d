"""Process-lifetime scratch directories.

Operators whose returned DataFrame is backed by files they wrote
(per-round checkpoints, streaming stores, materialized registry
outputs) cannot delete those files themselves: the caller reads the
lazy result later. Every such default directory comes from
:func:`scratch_dir`, which removes it when the interpreter exits, so
repeated runs do not accumulate temp-dir garbage. This is the
package's only ``tempfile.mkdtemp`` call (a tier-1 test enforces it).
"""

from __future__ import annotations

import atexit
import shutil
import tempfile


def scratch_dir(prefix: str) -> str:
    """A fresh temp directory, removed (with its contents) at
    interpreter exit."""
    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d
