"""Publish a finished output tree by rename, keeping the previous one until then.

Both sinks of the export job and the merged TSV are built in a hidden
temporary sibling of their destination (same filesystem, so the final
step is a rename) and swapped in only once they are complete.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import tempfile
from collections.abc import Iterator


@contextlib.contextmanager
def staged_publish(path: str) -> Iterator[str]:
    """Yield the path to build the new ``path`` at, inside a new hidden
    temporary directory ``<parent>/.<name>.XXXXXXXX`` that the caller may
    also use as scratch space (its ``os.path.dirname``).

    When the block exits cleanly, the previous ``path`` is moved aside into
    that directory, the new tree is moved in, and the previous one is moved
    back if that move fails. When the block raises, nothing is published.
    The temporary directory, with the previous output, is removed either
    way. ``path`` is a local filesystem path.
    """
    path = os.path.abspath(path)
    parent, name = os.path.split(path)
    os.makedirs(parent, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f".{name}.", dir=parent)
    try:
        new = os.path.join(tmp, "new")
        yield new
        previous = os.path.join(tmp, "previous")
        had_previous = os.path.lexists(path)
        if had_previous:
            os.rename(path, previous)
        try:
            os.rename(new, path)
        except OSError:
            if had_previous:
                os.rename(previous, path)
            raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
