"""Seeded input trees and their expected outputs for the pipe workloads.

Every tree is a pure function of (workload, seed). The expected per-file
outcome (status, stdout md5, stderr md5) comes from a plain sequential
``subprocess`` loop over the same files with the same command, run once
per seed, untimed, and cached next to the tree. The cache entry is
written to a temporary directory and renamed into place, so an
interrupted run never leaves a half-written entry.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import subprocess
import time
from pathlib import Path

# bump when a generator changes, so stale cache entries are not reused
GEN_VERSION = 2
KEEP_ENTRIES = 4  # cached seeds per workload

SMALL_TREE_CMD = ["iconv", "-f", "utf-8", "-t", "iso8859-1"]
INCREMENTAL_CMD = ["gzip", "-1", "-n", "-c"]

# printable text with a few Latin-1 letters, so iconv really converts
_ALPHABET = "abcdefghijklmnopqrstuvwxyz     éüöà\n"
# a byte sequence that is not UTF-8: those files FAIL under iconv
_INVALID_UTF8 = b"\xff\xfe\xc3("


def _sizes(rng: random.Random, n: int) -> list[int]:
    """``n`` file sizes spread evenly over 1-16 KiB in a seeded order: the
    seed moves sizes between files, but the total stays the same."""
    sizes = [1024 + 15 * 1024 * i // max(1, n - 1) for i in range(n)]
    rng.shuffle(sizes)
    return sizes


def _text(rng: random.Random, n_bytes: int) -> bytes:
    out = bytearray()
    while len(out) < n_bytes:
        out += "".join(rng.choices(_ALPHABET, k=256)).encode("utf-8")
    del out[n_bytes:]
    # never end inside a multi-byte character
    return bytes(out).decode("utf-8", "ignore").encode("utf-8")


def small_tree(rng: random.Random, root: Path, fanout: int = 10, depth: int = 2,
               n_files: int = 1024, invalid_every: int = 64) -> None:
    """A ``depth``-level directory tree with ``fanout`` children per
    directory and ``n_files`` text files of 1-16 KiB spread over all
    directories; about one file in ``invalid_every`` holds bytes that are
    not UTF-8. A few leaf directories stay empty."""
    dirs, frontier = [root], [root]
    for _ in range(depth):
        frontier = [p / f"d{j}" for p in frontier for j in range(fanout)]
        dirs += frontier
    for d in dirs:
        d.mkdir(parents=True, exist_ok=True)
    empty = set(rng.sample(range(1, len(dirs)), k=min(3, len(dirs) - 1)))
    homes = [d for i, d in enumerate(dirs) if i not in empty]
    bad = set(rng.sample(range(n_files), k=max(1, n_files // invalid_every)))
    for i, size in enumerate(_sizes(rng, n_files)):
        body = _text(rng, size)
        if i in bad:
            cut = rng.randrange(len(body))
            body = body[:cut].decode("utf-8", "ignore").encode("utf-8") + _INVALID_UTF8 + body[cut:]
        (rng.choice(homes) / f"f{i:05d}.txt").write_bytes(body)


def incremental_trees(rng: random.Random, s0: Path, s1: Path, n_dirs: int = 8,
                      n_files: int = 512) -> dict:
    """A shallow tree ``s0`` (``n_dirs`` directories under the root) and its
    successor ``s1``: a seeded 1/8 of files rewritten, 1/32 deleted and
    1/32 added. Returns the rewritten and deleted relative paths."""
    names = [f"d{i % n_dirs:02d}/f{i:05d}.txt" for i in range(n_files)]
    sizes = dict(zip(names, _sizes(rng, n_files)))
    bodies = {n: _text(rng, sizes[n]) for n in names}
    for n, b in bodies.items():
        (s0 / n).parent.mkdir(parents=True, exist_ok=True)
        (s0 / n).write_bytes(b)
    shuffled = names[:]
    rng.shuffle(shuffled)
    n_rw, n_del = n_files // 8, n_files // 32
    rewritten = set(shuffled[:n_rw])
    deleted = set(shuffled[n_rw:n_rw + n_del])
    for n in names:
        if n in deleted:
            continue
        body = _text(rng, sizes[n]) if n in rewritten else bodies[n]
        (s1 / n).parent.mkdir(parents=True, exist_ok=True)
        (s1 / n).write_bytes(body)
    # added files take the deleted files' sizes, so both trees hold the same bytes
    for i, gone in enumerate(sorted(deleted)):
        n = f"d{rng.randrange(n_dirs):02d}/new{i:05d}.txt"
        (s1 / n).write_bytes(_text(rng, sizes[gone]))
    return {"rewritten": sorted(rewritten), "deleted": sorted(deleted)}


def tree_stats(root: Path) -> dict:
    """File and directory counts, bytes and a sha256 over (path, content) of
    every file, in path order — what a run records to prove its input."""
    h = hashlib.sha256()
    files = dirs = size = 0
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        dirs += 1
        for name in sorted(filenames):
            p = Path(dirpath) / name
            data = p.read_bytes()
            h.update(str(p.relative_to(root)).encode() + b"\0")
            h.update(hashlib.sha256(data).digest())
            files += 1
            size += len(data)
    return {"files": files, "dirs": dirs, "bytes": size, "digest": h.hexdigest()}


def serial_oracle(root: Path, argv: list[str]) -> tuple[dict, float]:
    """Run ``argv`` over every file under ``root`` one after another with
    plain subprocess calls. Returns ({rel: {status, out_md5, err_md5}},
    seconds). EXECUTED means exit code 0."""
    expected = {}
    t0 = time.perf_counter()
    for dirpath, _, filenames in os.walk(root):
        for name in filenames:
            p = Path(dirpath) / name
            with p.open("rb") as f:
                r = subprocess.run(argv, stdin=f, capture_output=True, check=False)
            expected[str(p.relative_to(root))] = {
                "status": "EXECUTED" if r.returncode == 0 else "FAIL",
                "out_md5": hashlib.md5(r.stdout).hexdigest() if r.stdout else None,
                "err_md5": hashlib.md5(r.stderr).hexdigest() if r.stderr else None,
            }
    return expected, time.perf_counter() - t0


def _cached(cache_root: Path, workload: str, seed: int, build) -> Path:
    entry = cache_root / f"{workload}-v{GEN_VERSION}-seed{seed}"
    if (entry / "expected.json").exists():
        return entry
    # keep the cache small: drop all but the newest few entries of this workload
    old = sorted(cache_root.glob(f"{workload}-*"), key=lambda p: p.stat().st_mtime)
    for stale in old[:-(KEEP_ENTRIES - 1)]:
        shutil.rmtree(stale, ignore_errors=True)
    tmp = cache_root / f".tmp-{workload}-{seed}-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    build(random.Random(f"{workload}:{seed}"), tmp)
    shutil.rmtree(entry, ignore_errors=True)
    tmp.rename(entry)
    return entry


def prepare_small_tree(cache_root: Path, seed: int) -> Path:
    def build(rng, d):
        small_tree(rng, d / "src")
        expected, serial_s = serial_oracle(d / "src", SMALL_TREE_CMD)
        (d / "expected.json").write_text(json.dumps(
            {"cmd": SMALL_TREE_CMD, "files": expected, "serial_s": serial_s}))

    return _cached(cache_root, "pipe_small_tree", seed, build)


def prepare_incremental(cache_root: Path, seed: int) -> Path:
    def build(rng, d):
        meta = incremental_trees(rng, d / "s0", d / "s1")
        expected, serial_s = serial_oracle(d / "s1", INCREMENTAL_CMD)
        (d / "expected.json").write_text(json.dumps(
            {"cmd": INCREMENTAL_CMD, "files": expected, "serial_s": serial_s, **meta}))

    return _cached(cache_root, "pipe_incremental", seed, build)
