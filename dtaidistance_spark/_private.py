"""Per-user private files: the directory the C DTW kernel (when the
package directory is read-only) and the driver JVM's class-data archive
are cached in, and the ownership check run before either is loaded.

A shared tmp path would let another user plant a file that this process
then loads as code, so the directory must be this user's and mode 0700,
and a cached file must be this user's and not writable by group or
others.
"""

from __future__ import annotations

import os
import stat
import tempfile


def private_dir() -> str:
    """``<tmp>/dtaidistance_spark-<uid>``, made 0700 on first use.

    Raises ``PermissionError`` if it exists but is not a directory
    private to this user."""
    d = os.path.join(tempfile.gettempdir(), f"dtaidistance_spark-{os.getuid()}")
    os.makedirs(d, 0o700, exist_ok=True)
    st = os.lstat(d)
    if not stat.S_ISDIR(st.st_mode) or st.st_uid != os.getuid() \
            or st.st_mode & 0o077:
        raise PermissionError(f"{d} is not a directory private to this user")
    return d


def check_owned(path: str) -> None:
    """Raise ``PermissionError`` unless ``path`` is owned by this user
    and not writable by group or others."""
    st = os.stat(path)
    if st.st_uid != os.getuid() or st.st_mode & 0o022:
        raise PermissionError(f"{path} is not owned by this user "
                              "or is writable by group/others")
