import collections
import io
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hadoop_distexec_spark.session import get_spark  # noqa: E402

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    s = get_spark("tests")
    yield s


Wired = collections.namedtuple("Wired", "src dst fs store wiring")


@pytest.fixture(params=["fd", "pump", "src_pump", "dst_pump"])
def wired_tree(request, tmp_path):
    """A small tree (one file bigger than a pipe buffer) behind a MappedFS
    whose handles pick how ``_exec_one`` wires each child stream. ``fd``:
    every handle carries its OS descriptor, so the kernel moves the bytes.
    ``pump``: every handle hides it, so pump threads move all three
    streams. ``src_pump``: read opens hide it (stdin is pumped, stdout and
    stderr go to descriptors). ``dst_pump``: write opens hide it (stdin is
    a descriptor, stdout and stderr are pumped).

    The classes are defined here so that cloudpickle ships them to the
    executors by value. Yields ``Wired(src, dst, fs, store, wiring)``:
    ``src``/``dst`` are ``mock://`` URIs, ``store`` is the local root
    behind them (tree under ``store/tree``, output under ``store/out``)."""
    from hadoop_distexec_spark.fs import MappedFS

    store = tmp_path / "store"
    t = store / "tree"
    (t / "sub").mkdir(parents=True)
    (t / "a.txt").write_text("Hello this is my string")
    (t / "sub" / "b.txt").write_text("line one\nline two with pattern\n")
    (t / "sub" / "big.bin").write_bytes(bytes(range(256)) * 800)
    (t / "tiny.txt").write_text("x")
    hide_read = request.param in ("pump", "src_pump")
    hide_write = request.param in ("pump", "dst_pump")

    class NoFd:
        def __init__(self, f):
            self._f = f

        def fileno(self):
            raise io.UnsupportedOperation("fileno")

        def __getattr__(self, name):
            return getattr(self._f, name)

        def __enter__(self):
            return self

        def __exit__(self, *exc):
            self._f.close()

    class WiredFS(MappedFS):
        def open(self, path, mode="rb", buffering=-1):
            f = super().open(path, mode, buffering)
            return NoFd(f) if (hide_read if "r" in mode else hide_write) else f

    fs = WiredFS("mock", str(store))
    from hadoop_distexec_spark.pipe.executor import _has_fd

    with fs.open("mock://tree/a.txt", "rb") as r, fs.open("mock://probe", "wb") as w:
        assert (_has_fd(r), _has_fd(w)) == (not hide_read, not hide_write)
    (store / "probe").unlink()
    return Wired("mock://tree", "mock://out", fs, store, request.param)
