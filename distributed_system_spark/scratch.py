"""Where the engine's scratch files live, how they are keyed and how
long they last.

Each process has one root, ``/tmp/dss-<pid>-<random>``, made on first
use and removed at exit, so no run reads what another one staged.  Its
owner holds an ``flock`` on it from before it is visible until it is
gone; making a root removes every other root whose lock is free, which
reclaims the roots of killed runs (``atexit`` never fires on SIGKILL).
"""

import atexit
import fcntl
import hashlib
import os
import re
import shutil
import tempfile
import threading

_ROOT_NAME = re.compile(r"dss-\d+-\w+")
_lock = threading.Lock()
_root: str | None = None


def _remove_if_unlocked(path: str) -> None:
    try:
        fd = os.open(path, os.O_RDONLY | os.O_DIRECTORY)
    except OSError:  # gone already
        return
    try:
        fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
        shutil.rmtree(path, ignore_errors=True)
    except BlockingIOError:  # its owner is alive
        pass
    finally:
        os.close(fd)


def _release(pid: int, fd: int, path: str) -> None:
    if os.getpid() == pid:  # a forked child does not own the root
        shutil.rmtree(path, ignore_errors=True)  # still locked
        os.close(fd)


def root() -> str:
    """This process's scratch root, made on first use."""
    global _root
    with _lock:
        if _root is None:
            pid = os.getpid()
            # locked under a name the sweep skips, then renamed
            hidden = tempfile.mkdtemp(prefix=f".dss-{pid}-", dir="/tmp")
            fd = os.open(hidden, os.O_RDONLY | os.O_DIRECTORY)
            fcntl.flock(fd, fcntl.LOCK_EX)
            _root = hidden.replace("/.dss-", "/dss-")
            os.rename(hidden, _root)
            atexit.register(_release, pid, fd, _root)
            for name in os.listdir("/tmp"):
                if _ROOT_NAME.fullmatch(name):
                    _remove_if_unlocked(os.path.join("/tmp", name))
        return _root


def _files(source: str) -> list[str]:
    if not os.path.isdir(source):
        return [source]
    files = []
    for d, subdirs, names in os.walk(source):
        subdirs[:] = [s for s in subdirs if not s.startswith(".")]
        files += [os.path.join(d, f) for f in names if f[0] != "."]
    return sorted(files)


def keyed_dir(name: str, *sources: str, extra: str = "") -> str:
    """The directory under this process's root for ``name``: the same
    one again for the same ``extra`` and the same (path, mtime_ns,
    size) of every source file (a directory stands for its non-hidden
    files), so a source rewritten in place gets a new one."""
    stats = [(f, os.stat(f)) for s in sources for f in _files(s)]
    key = repr((extra, [(f, s.st_mtime_ns, s.st_size) for f, s in stats]))
    tag = hashlib.md5(key.encode()).hexdigest()[:12]
    path = os.path.join(root(), f"{name}-{tag}")
    os.makedirs(path, exist_ok=True)
    return path


def fresh_dir(name: str) -> str:
    """A new, empty directory under this process's root."""
    return tempfile.mkdtemp(prefix=f"{name}-", dir=root())
