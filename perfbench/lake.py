"""The ``lake_rw`` op stream: a seeded file tree, the CdlFS calls made on
it, and a Python model of what every call must return.

The tree has Pareto-sized files (some empty, some larger than the chunk
size, so ``load`` splits them) in two directory levels. After the initial
``CdlFS.load`` the stream runs passes of a fixed op mix, about 70% reads and
30% writes, in a seeded order. Reads pick directories with a Zipf skew
toward the most recently written ones. The model tracks the bytes of every
live file, and each op stores the expected answer next to what the call
returned, so the check after the timed window compares the two.
"""

from __future__ import annotations

import datetime
import hashlib
import os

import numpy as np

MAX_CHUNK = 16 * 1024
#: the tree of a default run: 200 Pareto-sized files capped at 64 KiB, about
#: 1.5 MB. It is held below the size at which CdlFS.take drops rows (about
#: 2 MB: the ordinal index then covers only part of the rows, measured 168
#: of 335 at 2.45 MB), because a default run must have no failing op. The
#: full run (``--deck all``) loads the FULL_TREE, where every take fails its
#: check and is counted as a failed op until take is fixed.
TREE = {"n_files": 200, "max_file": 64 * 1024}
#: 1000 files, about 8 MB, some of them larger than MAX_CHUNK many times over
FULL_TREE = {"n_files": 1000, "max_file": 1024 * 1024}
MTIME = datetime.datetime(2024, 1, 1)

#: one pass of the stream: op kind -> count. The caller adds one read per
#: declared lake query in the deck (four), which makes the pass 10 reads to
#: 5 writes. Each write is followed by an equal share of the reads.
READS = {"read_dir": 1, "read_files": 1, "sql": 1, "take": 1, "read_delta": 1, "read_iceberg": 1}
WRITES = {"write_table": 1, "upsert": 1, "delete": 1, "optimize": 1, "delta_sync": 1}


def sha(data: bytes) -> str:
    return hashlib.sha256(data).hexdigest()


def make_tree(
    root: str, rng: np.random.Generator, n_files: int, max_file: int
) -> dict[tuple[str, str], bytes]:
    """Write the seeded tree under ``root``; return ``{(parent, name): bytes}``."""
    dirs = [f"/d{i:02d}" for i in range(8)] + [f"/d{i:02d}/s{j}" for i in range(8) for j in range(2)]
    sizes = np.minimum((rng.pareto(1.2, n_files) * 1500).astype(int), max_file)
    sizes[rng.random(n_files) < 0.05] = 0
    files = {}
    for i, size in enumerate(sizes):
        parent = dirs[int(rng.integers(0, len(dirs)))]
        name = f"f{i:04d}.bin"
        data = rng.bytes(int(size))
        path = os.path.join(root, parent.strip("/"), name)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "wb") as fh:
            fh.write(data)
        files[(parent, name)] = data
    return files


def n_chunks(data: bytes) -> int:
    return max(1, -(-len(data) // MAX_CHUNK))


class Model:
    """Live files of the table, plus the Delta feed and Iceberg mirror."""

    def __init__(self, files: dict[tuple[str, str], bytes], rng: np.random.Generator):
        self.files = dict(files)
        self.rng = rng
        self.feed: dict[tuple[str, str], bytes] = {}
        self.mirror: dict[tuple[str, str], bytes] = {}
        dirs = sorted({p for p, _ in files})
        self.recent = [dirs[i] for i in rng.permutation(len(dirs))]
        self.batches = 0

    # -- choices ----------------------------------------------------------

    def pick_dir(self) -> str:
        """A directory, Zipf-skewed toward the most recently written."""
        live = {p for p, _ in self.files}
        dirs = [d for d in self.recent if d in live]
        w = 1.0 / np.arange(1, len(dirs) + 1) ** 1.2
        return dirs[int(self.rng.choice(len(dirs), p=w / w.sum()))]

    def touch(self, parent: str) -> None:
        if parent in self.recent:
            self.recent.remove(parent)
        self.recent.insert(0, parent)

    def new_files(self, parent: str, count: int) -> dict[tuple[str, str], bytes]:
        """``count`` fresh single-chunk files under ``parent``."""
        sizes = self.rng.integers(0, MAX_CHUNK + 1, count)
        return {(parent, f"n{i:03d}.bin"): self.rng.bytes(int(s)) for i, s in enumerate(sizes)}

    # -- expected answers -------------------------------------------------

    def listing(self, parent: str) -> list[tuple[str, int]]:
        return sorted((n, len(b)) for (p, n), b in self.files.items() if p == parent)

    def digests(self, parent: str | None = None, files=None) -> dict[str, str]:
        src = self.files if files is None else files
        return {
            f"{p}/{n}": sha(b) for (p, n), b in src.items() if parent is None or p == parent
        }

    def dir_totals(self) -> dict[str, tuple[int, int]]:
        out: dict[str, list[int]] = {}
        for (p, _n), b in self.files.items():
            rec = out.setdefault(p, [0, 0])
            rec[0] += n_chunks(b)
            rec[1] += len(b)
        return {p: tuple(v) for p, v in out.items()}

    def chunk_rows(self) -> list[tuple[str, str, bytes]]:
        rows = []
        for (p, n), b in sorted(self.files.items()):
            for c in range(n_chunks(b)):
                rows.append((p, n, b[c * MAX_CHUNK : (c + 1) * MAX_CHUNK]))
        return rows

    def user_bytes(self) -> int:
        return sum(len(b) for b in self.files.values())


# -- canonical forms of what the calls return -------------------------------


def listing_of(table) -> list[tuple[str, int]]:
    d = table.to_pydict()
    return sorted(zip(d["name"], d["size"]))


def digests_of(table) -> dict[str, str]:
    """Reassemble chunked rootfs rows into whole files; sha256 per path."""
    d = table.to_pydict()
    cid = d.get("chunk_id") or [0] * len(d["name"])
    parts: dict[str, list] = {}
    for p, n, c, data in zip(d["parent"], d["name"], cid, d["data"]):
        parts.setdefault(f"{p}/{n}", []).append((c, data or b""))
    return {k: sha(b"".join(x for _, x in sorted(v))) for k, v in parts.items()}


def dir_totals_of(table) -> dict[str, tuple[int, int]]:
    d = table.to_pydict()
    return {p: (int(c), int(b or 0)) for p, c, b in zip(d["parent"], d["n_chunks"], d["bytes"])}


def take_of(table) -> list[tuple[str, str, str]]:
    d = table.to_pydict()
    rows = sorted(zip(d["_rowid"], d["parent"], d["name"], d["data"]))
    return [(p, n, sha(b or b"")) for _i, p, n, b in rows]


def tree_digests(root: str) -> dict[str, str]:
    """sha256 of every file under ``root`` keyed by its "/"-rooted path."""
    out = {}
    for dirpath, _dirs, names in os.walk(root):
        for name in names:
            path = os.path.join(dirpath, name)
            rel = "/" + os.path.relpath(path, root)
            with open(path, "rb") as fh:
                out[rel] = sha(fh.read())
    return out


def dir_bytes(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _s, names in os.walk(root) for f in names
    )
