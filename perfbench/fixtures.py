"""Seeded inputs for the ingest workloads, with expectations computed from
the bytes written (``hashlib``), never through the engine's walker.

Each fixture lives in its own directory under the benchmark's work
directory, keyed by kind, seed and shape, and is reused while that key
is unchanged. Only the most recent fixture of each kind is kept on disk.
"""

from __future__ import annotations

import gzip
import hashlib
import io
import json
import os
import shutil
import tarfile
import zipfile
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import numpy as np

# ingest_bulk: 16 plain tars x 256 members x 64 KiB of incompressible bytes
BULK_SHAPE = {"archives": 16, "members": 256, "member_bytes": 64 * 1024}

# ingest_nested_dedup: 16 gzip tars, each of 20 deflate zips x 200 documents
NESTED_SHAPE = {
    "archives": 16,
    "zips": 20,
    "docs": 200,
    "min_doc": 64,
    "max_doc": 3436,  # mean ~1.75 KB, so ~7 MB of documents per archive
    "min_size": 512,  # the convert() size floor; some documents sit on it
    "shared_share": 0.30,  # slots drawn from a pool shared by all archives
    "shared_pool": 4000,
    "binary_share": 0.20,  # documents that are not valid UTF-8
    "edge_share": 0.02,  # documents sized exactly min_size or min_size - 1
}

# bump when a generator changes what it writes, so cached fixtures rebuild
GENERATOR_VERSION = 1

_LETTERS = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)


@dataclass
class Fixture:
    """Input archives and what a correct engine must make of them."""

    paths: list[str]
    entries: int  # leaf entries before any filter
    payload_bytes: int  # sum of leaf sizes before any filter
    # order-insensitive digest of every leaf's (source, path, size, sha256)
    digest: str
    options: dict = field(default_factory=dict)  # ConvertOptions fields
    # only with a filter or dedup in the options:
    kept_rows: int = 0  # rows the convert() must write
    kept_bytes: int = 0  # sum(size) over those rows
    # sha256 hex -> [size, [[source, path], ...]] for every kept hash
    holders: dict = field(default_factory=dict)


def leaf_digest(rows) -> str:
    """Order-insensitive digest of (source, path, size, sha256 hex) rows."""
    h = hashlib.sha256()
    for line in sorted(f"{s}\x1f{p}\x1f{n}\x1f{x}" for s, p, n, x in rows):
        h.update(line.encode("utf-8", "surrogateescape"))
        h.update(b"\n")
    return h.hexdigest()


def _tar_bytes(members: list[tuple[str, bytes]]) -> bytes:
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT) as tf:
        for name, data in members:
            info = tarfile.TarInfo(name)
            info.size = len(data)
            info.mtime = 0
            tf.addfile(info, io.BytesIO(data))
    return buf.getvalue()


def _build_flat(out_dir: str, seed: int, shape: dict, tag: str) -> Fixture:
    rng = np.random.default_rng([seed, 1])
    n, size = shape["members"], shape["member_bytes"]
    paths, rows = [], []
    for a in range(shape["archives"]):
        blob = bytearray(rng.bytes(n * size))
        # a zero first byte keeps a random member from opening with a
        # compression magic: the walker, like the reference, would decode
        # such a member and emit only what decodes (for random bytes, none)
        blob[::size] = bytes(n)
        members = [
            (f"m{m:04d}.bin", bytes(blob[m * size : (m + 1) * size]))
            for m in range(n)
        ]
        path = os.path.join(out_dir, f"{tag}{a:02d}.tar")
        with open(path, "wb") as fh:
            fh.write(_tar_bytes(members))
        paths.append(path)
        rows += [
            (path, name, len(data), hashlib.sha256(data).hexdigest())
            for name, data in members
        ]
    return Fixture(
        paths=paths,
        entries=len(rows),
        payload_bytes=sum(r[2] for r in rows),
        digest=leaf_digest(rows),
    )


def _documents(rng: np.random.Generator, sizes: np.ndarray, binary: np.ndarray):
    """Text documents are words from a 4,096-word vocabulary of 7-letter
    words, so they deflate about as well as prose; binary ones start with
    0xFF, a byte that never occurs in valid UTF-8."""
    total = int(sizes.sum())
    vocab = np.full((4096, 8), ord(" "), dtype=np.uint8)
    vocab[:, :7] = _LETTERS[rng.integers(0, len(_LETTERS), (4096, 7), dtype=np.uint8)]
    text = vocab[rng.integers(0, 4096, total // 8 + 1)].reshape(-1)
    raw = np.frombuffer(rng.bytes(total), dtype=np.uint8)
    starts = np.concatenate(([0], np.cumsum(sizes)[:-1]))
    docs = []
    for start, n, is_bin in zip(starts.tolist(), sizes.tolist(), binary.tolist()):
        if is_bin:
            docs.append(b"\xff" + raw[start + 1 : start + n].tobytes())
        else:
            docs.append(text[start : start + n].tobytes())
    return docs


def _doc_sizes(rng, count: int, shape: dict) -> np.ndarray:
    sizes = rng.integers(shape["min_doc"], shape["max_doc"] + 1, count)
    edge = rng.random(count) < shape["edge_share"]
    sizes[edge] = shape["min_size"] - rng.integers(0, 2, int(edge.sum()))
    return sizes


def _build_nested(out_dir: str, seed: int, shape: dict) -> Fixture:
    rng = np.random.default_rng([seed, 2])
    pool_n = shape["shared_pool"]
    pool = _documents(
        rng,
        _doc_sizes(rng, pool_n, shape),
        rng.random(pool_n) < shape["binary_share"],
    )
    per_archive = shape["zips"] * shape["docs"]
    min_size = shape["min_size"]
    paths, rows, tars = [], [], []
    for a in range(shape["archives"]):
        shared = rng.random(per_archive) < shape["shared_share"]
        picks = rng.integers(0, pool_n, per_archive)
        own = _documents(
            rng,
            _doc_sizes(rng, per_archive, shape),
            rng.random(per_archive) < shape["binary_share"],
        )
        path = os.path.join(out_dir, f"n{a:02d}.tar.gz")
        members = []
        for z in range(shape["zips"]):
            zbuf = io.BytesIO()
            with zipfile.ZipFile(zbuf, "w", zipfile.ZIP_DEFLATED, compresslevel=1) as zf:
                for d in range(shape["docs"]):
                    i = z * shape["docs"] + d
                    doc = pool[picks[i]] if shared[i] else own[i]
                    name = f"d/{d:03d}.txt"
                    zf.writestr(zipfile.ZipInfo(name, (1980, 1, 1, 0, 0, 0)), doc)
                    rows.append(
                        (path, f"z{z:02d}.zip/{name}", len(doc),
                         hashlib.sha256(doc).hexdigest(), doc[:1] != b"\xff")
                    )
            members.append((f"z{z:02d}.zip", zbuf.getvalue()))
        tars.append(_tar_bytes(members))
        paths.append(path)

    def write_gzip(path: str, tar: bytes) -> None:
        with open(path, "wb") as fh:
            fh.write(gzip.compress(tar, compresslevel=1, mtime=0))

    # zlib releases the interpreter lock, so the archives compress in parallel
    with ThreadPoolExecutor(max(1, len(os.sched_getaffinity(0)))) as pool:
        for f in [pool.submit(write_gzip, p, t) for p, t in zip(paths, tars)]:
            f.result()
    holders: dict[str, list] = {}
    for src, p, n, x, is_text in rows:
        if is_text and n >= min_size:
            holders.setdefault(x, [n, []])[1].append([src, p])
    return Fixture(
        paths=paths,
        entries=len(rows),
        payload_bytes=sum(r[2] for r in rows),
        digest=leaf_digest(r[:4] for r in rows),
        options={"include": "text", "unique": True, "min_size": min_size},
        kept_rows=len(holders),
        kept_bytes=sum(v[0] for v in holders.values()),
        holders=holders,
    )


_GENERATORS = {
    "bulk": lambda d, s: _build_flat(d, s, BULK_SHAPE, "b"),
    "nested": lambda d, s: _build_nested(d, s, NESTED_SHAPE),
}
_SHAPES = {"bulk": BULK_SHAPE, "nested": NESTED_SHAPE}


def load_or_build(work_dir: str, kind: str, seed: int) -> Fixture:
    """The fixture of ``kind`` for ``seed``, built on first use."""
    shape_key = hashlib.sha256(
        json.dumps([GENERATOR_VERSION, _SHAPES[kind]], sort_keys=True).encode()
    ).hexdigest()[:10]
    name = f"{kind}-s{seed}-{shape_key}"
    root = os.path.join(work_dir, "fixtures")
    out_dir = os.path.join(root, name)
    meta = os.path.join(out_dir, "expect.json")
    if os.path.exists(meta):
        with open(meta) as fh:
            return Fixture(**json.load(fh))
    os.makedirs(root, exist_ok=True)
    for old in os.listdir(root):
        if old.startswith(f"{kind}-"):
            shutil.rmtree(os.path.join(root, old))
    os.makedirs(out_dir)
    fx = _GENERATORS[kind](out_dir, seed)
    with open(meta + ".tmp", "w") as fh:
        json.dump(fx.__dict__, fh)
    os.replace(meta + ".tmp", meta)
    return fx
