"""Seeded input generators for the benchmark workloads.

Every generator takes the workload seed; the same seed gives the same
inputs byte for byte.  The engine only ever sees what these functions
produce: files on disk for ``warcit_ingest``, DataFrames for the crawls.

Size discipline: per file class the *sizes* come from a fixed ladder and
the seed only permutes which path gets which size, so the total input
bytes and the byte mix (compressible text vs incompressible binary) are
identical for every seed.  That keeps ``ingest_mib_per_s`` and
``warc_bytes_per_input_byte`` comparable across seeds while names,
contents, links and the directory/zip split still change with the seed.
"""

from __future__ import annotations

import base64
import hashlib
import os
import random
import shutil
import time
import zipfile
from dataclasses import dataclass, field

URL_PREFIX = "http://bench.example.com/"
_EPOCH = 1_500_000_000  # 2017-07-14, start of the generated mtimes

_WORDS = (
    "archive web record crawl page index link file site data html text "
    "capture replay collection harvest resource revisit digest header "
    "payload content type charset date target uri warc zip directory "
    "spark frame batch partition shuffle stage task join filter order"
).split()
_LATIN1_WORDS = ("café", "naïve", "façade", "größe", "señor", "déjà", "über", "élan")


def _ladder(lo: int, hi: int, n: int) -> list[int]:
    """n >= 2 sizes spaced geometrically from lo to hi bytes (inclusive)."""
    r = (hi / lo) ** (1.0 / (n - 1))
    return [round(lo * r**i) for i in range(n)]


# (class, extension, size ladder) per directory of the generated site;
# 400 KiB is the largest file, 600 B the smallest
_DIR_CLASSES = (
    ("html", ".html", _ladder(600, 64 * 1024, 6)),
    ("css", ".css", [24 * 1024]),
    ("js", ".js", [32 * 1024]),
    ("latin1", ".txt", _ladder(900, 96 * 1024, 2)),
    ("binary", ".png", _ladder(700, 400 * 1024, 3)),
)


@dataclass
class GenFile:
    relpath: str  # '/'-separated, relative to the site root
    data: bytes
    in_zip: bool

    @property
    def url(self) -> str:
        return URL_PREFIX + self.relpath

    @property
    def is_index(self) -> bool:
        return self.relpath.lower().endswith("/index.html")


@dataclass
class Site:
    root: str  # directory holding site/ and half.zip
    files: list[GenFile] = field(default_factory=list)

    @property
    def dir_path(self) -> str:
        return os.path.join(self.root, "site")

    @property
    def zip_path(self) -> str:
        return os.path.join(self.root, "half.zip")

    @property
    def inputs(self) -> list[str]:
        """The two ``warcit_run`` inputs: a directory tree and a zip."""
        return [self.dir_path, self.zip_path]

    @property
    def input_bytes(self) -> int:
        return sum(len(f.data) for f in self.files)

    def expected_records(self) -> int:
        """Resources plus one index revisit per index page."""
        return len(self.files) + sum(f.is_index for f in self.files)

    def source_key(self, f: GenFile) -> str:
        """The pipeline's record sort key (``source_uri``) for a file:
        binaryFile reports ``file:<abs path>``, zip members their name."""
        if f.in_zip:
            return "file://" + f.relpath
        return "file://file:" + os.path.join(os.path.abspath(self.dir_path), f.relpath)

    def expected_order(self) -> list[tuple[str, str]]:
        """(record type, target uri) in the defined total order."""
        out = []
        for f in sorted(self.files, key=self.source_key):
            out.append(("resource", f.url))
            if f.is_index:
                out.append(("revisit", f.url[: -len("index.html")]))
        return out


def sha1_b32(data: bytes) -> str:
    """The WARC-Payload-Digest header value for a payload."""
    return "sha1:" + base64.b32encode(hashlib.sha1(data).digest()).decode("ascii")


def _html(rng: random.Random, size: int, title: str, links: list[str]) -> bytes:
    head = f"<html><head><title>{title}</title></head><body><h1>{title}</h1>\n"
    anchors = "".join(f'<p><a href="{h}">{h}</a></p>\n' for h in links)
    tail = "</body></html>\n"
    body = []
    n = len(head) + len(anchors) + len(tail)
    while n < size:
        para = "<p>" + " ".join(rng.choice(_WORDS) for _ in range(12)) + "</p>\n"
        body.append(para)
        n += len(para)
    return (head + "".join(body) + anchors + tail).encode("ascii")[:size]


def _text(rng: random.Random, size: int, words, encoding: str) -> bytes:
    out = bytearray()
    while len(out) < size:
        line = " ".join(rng.choice(words) for _ in range(10)) + "\n"
        out += line.encode(encoding)
    return bytes(out[:size])


def _content(rng: random.Random, cls: str, size: int, relpath: str, links: list[str]) -> bytes:
    if cls == "html":
        return _html(rng, size, relpath, links)
    if cls == "css":
        return _text(rng, size, [f".c{i} {{ color: #{i:03x}; }}" for i in range(64)], "ascii")
    if cls == "js":
        return _text(rng, size, [f"var v{i} = {i};" for i in range(64)], "ascii")
    if cls == "latin1":
        return _text(rng, size, _WORDS + list(_LATIN1_WORDS), "latin-1")
    # incompressible: seeded random bytes behind a PNG signature
    return b"\x89PNG\r\n\x1a\n" + rng.randbytes(size - 8)


def make_site(root: str, seed: int, n_dirs: int) -> Site:
    """Write a seeded site under ``root``: ``site/`` (one half of the
    files) and ``half.zip`` (the disjoint other half).

    Each of ``n_dirs`` directories holds an ``index.html`` plus one file
    per ladder slot of every class; the seed picks directory and file
    names, which file goes to the zip, contents and the link graph.
    """
    rng = random.Random(seed)
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    dirs = []
    for d in range(n_dirs):
        name = f"{rng.choice(_WORDS)}{d:02d}"
        # every third directory nests under the previous one
        dirs.append(f"{dirs[-1]}/{name}" if d % 3 == 2 else name)
    slots = []
    for d in dirs:
        slots.append((d, "html", 4096, "index.html"))
        for cls, ext, sizes in _DIR_CLASSES:
            for i, _ in enumerate(sizes):
                slots.append((d, cls, None, f"{rng.choice(_WORDS)}{i}{ext}"))
    # permute each class's ladder over its slots (the seed moves sizes
    # between paths; the multiset of sizes is fixed)
    by_class: dict[str, list[int]] = {}
    for cls, _, sizes in _DIR_CLASSES:
        pool = sizes * n_dirs
        rng.shuffle(pool)
        by_class[cls] = pool
    relpaths = [f"{d}/{name}" for d, _, _, name in slots]
    site = Site(root)
    for (d, cls, fixed, name), rel in zip(slots, relpaths):
        size = fixed if fixed is not None else by_class[cls].pop()
        links = ["/" + rng.choice(relpaths) for _ in range(5)] if cls == "html" else []
        site.files.append(GenFile(rel, _content(rng, cls, size, rel, links), False))
    # disjoint halves: exactly half the files (seed-chosen) go to the zip
    for i in rng.sample(range(len(site.files)), len(site.files) // 2):
        site.files[i].in_zip = True
    # fixed, seeded modification times: WARC-Date comes from them, so the
    # output bytes are a pure function of the seed
    mtimes = [_EPOCH + rng.randrange(365 * 86400) for _ in site.files]
    with zipfile.ZipFile(site.zip_path, "w", zipfile.ZIP_STORED) as zf:
        for f, mt in zip(site.files, mtimes):
            if f.in_zip:
                info = zipfile.ZipInfo(f.relpath, time.gmtime(mt)[:6])
                zf.writestr(info, f.data)
    for f, mt in zip(site.files, mtimes):
        if not f.in_zip:
            path = os.path.join(site.dir_path, f.relpath)
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path, "wb") as fh:
                fh.write(f.data)
            os.utime(path, (mt, mt))
    return site

