"""Seeded evidence images for the benchmark.

An image is a pure function of the seed: 1 MiB stripes of zeros,
random bytes and text lines carrying URL/email/phone artefacts, with
one planted file per MiB (jpeg/png/pdf/zip/bmp plus three kinds of
SQLite: a Chrome History DB, a Firefox places DB and a non-browser DB
whose URL rows only page-level recovery finds). Every plant is at
least its type's default min_size, so the default type table carves
all of them. The texture mix and the plant mix are fixed multisets;
the seed permutes them and picks offsets and contents. `make_e01`
wraps the image in an EWF container.

Images land under a cache directory keyed by the seed; callers
generate before any timer starts. The catalog workload reads fixed
tables shipped in perfbench/data instead.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sqlite3
import struct
import zlib

import numpy as np

MIB = 1 << 20
IMAGE_FORMAT = 2  # bump when the image recipe changes (invalidates caches)

TEXTURES = ("zero", "random", "text")
# one plant per stripe, cycling this multiset (counts are fixed per size)
PLANT_KINDS = ("jpeg", "png", "pdf", "zip", "bmp", "chrome", "firefox", "legacy")
# plants whose end is exact (EOI / IEND / %%EOF / EOCD / size field /
# page count), so the carve must return them byte-for-byte
EXACT_TYPES = ("jpeg", "png", "pdf", "zip", "bmp", "sqlite")

WEBKIT_EPOCH_OFFSET_US = 11_644_473_600_000_000
BASE_UNIX_US = 1_628_553_600_000_000  # 2021-08-10
# a gap of zeros on both sides of a plant inside a text stripe keeps
# plant bytes from joining a text line's printable run
PLANT_GAP = 64
LINE_WORDS = (
    "lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod "
    "tempor incididunt ut labore et dolore magna aliqua enim minim veniam"
).split()


def _rng(seed: int, *salt: int) -> np.random.Generator:
    return np.random.default_rng([seed, *salt])


def _sha(blob: bytes) -> str:
    return hashlib.sha256(blob).hexdigest()


# -- planted files -----------------------------------------------------------


def mk_jpeg(rng: np.random.Generator) -> bytes:
    # at least the default jpeg min_size (500)
    payload = rng.integers(0x01, 0xFF, int(rng.integers(600, 1600)), dtype=np.uint8)
    return b"\xff\xd8\xff\xe0" + payload.tobytes() + b"\xff\xd9"


def mk_png(rng: np.random.Generator) -> bytes:
    def chunk(t: bytes, d: bytes) -> bytes:
        return struct.pack(">I", len(d)) + t + d + struct.pack(">I", zlib.crc32(t + d))

    idat = rng.integers(0, 256, int(rng.integers(100, 900)), dtype=np.uint8).tobytes()
    return (
        b"\x89PNG\r\n\x1a\x0a"
        + chunk(b"IHDR", b"\x00" * 13)
        + chunk(b"IDAT", idat)
        + chunk(b"IEND", b"")
    )


def mk_pdf(rng: np.random.Generator) -> bytes:
    body = b"x" * int(rng.integers(40, 400))
    return b"%PDF-1.4\n1 0 obj\n<<>>\nendobj\n" + body + b"\ntrailer\n%%EOF\n"


def mk_zip(rng: np.random.Generator) -> bytes:
    name = b"readme.txt"
    data = b"sample-data-" + b"z" * int(rng.integers(8, 200))
    crc = zlib.crc32(data)
    local = (
        b"PK\x03\x04"
        + struct.pack("<HHHHHIIIHH", 20, 0, 0, 0, 0, crc, len(data), len(data), len(name), 0)
        + name
        + data
    )
    cd = (
        b"PK\x01\x02"
        + struct.pack(
            "<HHHHHHIIIHHHHHII",
            20, 20, 0, 0, 0, 0, crc, len(data), len(data), len(name), 0, 0, 0, 0, 0, 0,
        )
        + name
    )
    eocd = b"PK\x05\x06" + struct.pack("<HHHHIIH", 0, 0, 1, 1, len(cd), len(local), 0)
    return local + cd + eocd


def mk_bmp(rng: np.random.Generator) -> bytes:
    # at least 8x8 pixels: 54 + 24 * 8 bytes, above the default min_size (200)
    w, h = int(rng.integers(8, 32)), int(rng.integers(8, 24))
    row = (3 * w + 3) & ~3
    pixels = rng.integers(0, 256, row * h, dtype=np.uint8).tobytes()
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pixels), 0, 0, 0, 0)
    fsize = 14 + 40 + len(pixels)
    return b"BM" + struct.pack("<I", fsize) + b"\x00" * 4 + struct.pack("<I", 54) + dib + pixels


def _sqlite_bytes(path: str, script, rows: dict) -> tuple[bytes, dict]:
    if os.path.exists(path):
        os.unlink(path)
    conn = sqlite3.connect(path)
    try:
        script(conn)
        conn.commit()
    finally:
        conn.close()
    with open(path, "rb") as fh:
        blob = fh.read()
    os.unlink(path)
    return blob, rows


def mk_chrome(rng: np.random.Generator, tag: int, tmp: str) -> tuple[bytes, dict]:
    """Chrome History schema as tests/test_browser.py builds it, with
    seeded rows: U urls, V visits, C cookies, D downloads."""
    n_urls, n_visits = int(rng.integers(2, 6)), int(rng.integers(3, 9))
    n_cookies, n_downloads = int(rng.integers(1, 4)), int(rng.integers(1, 3))
    webkit = BASE_UNIX_US + WEBKIT_EPOCH_OFFSET_US + int(rng.integers(0, 10**12))

    def script(conn):
        conn.executescript(
            """
            CREATE TABLE urls(id INTEGER PRIMARY KEY, url TEXT, title TEXT,
                              last_visit_time INTEGER);
            CREATE TABLE visits(id INTEGER PRIMARY KEY, url INTEGER,
                                visit_time INTEGER, transition INTEGER);
            CREATE TABLE cookies(host_key TEXT, name TEXT, value TEXT, path TEXT,
                                 expires_utc INTEGER, last_access_utc INTEGER,
                                 creation_utc INTEGER, is_secure INTEGER,
                                 is_httponly INTEGER);
            CREATE TABLE downloads(id INTEGER PRIMARY KEY, target_path TEXT,
                                   tab_url TEXT, start_time INTEGER,
                                   end_time INTEGER, total_bytes INTEGER,
                                   state INTEGER);
            CREATE TABLE downloads_url_chains(id INTEGER, chain_index INTEGER,
                                              url TEXT);
            """
        )
        for u in range(1, n_urls + 1):
            conn.execute(
                "INSERT INTO urls VALUES (?, ?, ?, ?)",
                (u, f"https://c{tag}-{u}.example.com/", f"Chrome page {tag}-{u}", webkit),
            )
        for v in range(1, n_visits + 1):
            conn.execute(
                "INSERT INTO visits VALUES (?, ?, ?, ?)",
                (v, 1 + (v - 1) % n_urls, webkit + v * 60_000_000, v % 2),
            )
        for c in range(n_cookies):
            conn.execute(
                "INSERT INTO cookies VALUES (?, ?, 'v', '/', ?, ?, ?, 1, 0)",
                (f"c{tag}.example.com", f"sid{c}", webkit, webkit, webkit),
            )
        for d in range(1, n_downloads + 1):
            conn.execute(
                "INSERT INTO downloads VALUES (?, ?, ?, ?, ?, 1024, 1)",
                (d, f"/tmp/f{tag}-{d}.bin", f"https://tab{tag}.example.com", webkit,
                 webkit + 1_000_000),
            )
            conn.execute(
                "INSERT INTO downloads_url_chains VALUES (?, 0, ?)",
                (d, f"https://dl{tag}.example.com/{d}.bin"),
            )

    rows = {"history": n_visits, "cookies": n_cookies, "downloads": n_downloads,
            "recovered": 0}
    return _sqlite_bytes(os.path.join(tmp, f"chrome{tag}.sqlite"), script, rows)


def mk_firefox(rng: np.random.Generator, tag: int, tmp: str) -> tuple[bytes, dict]:
    n_places, n_visits = int(rng.integers(2, 6)), int(rng.integers(3, 9))
    n_cookies = int(rng.integers(1, 4))
    unix = BASE_UNIX_US + int(rng.integers(0, 10**12))

    def script(conn):
        conn.executescript(
            """
            CREATE TABLE moz_places(id INTEGER PRIMARY KEY, url TEXT, title TEXT,
                                    last_visit_date INTEGER);
            CREATE TABLE moz_historyvisits(id INTEGER PRIMARY KEY,
                                           place_id INTEGER, visit_date INTEGER,
                                           visit_type INTEGER);
            CREATE TABLE moz_cookies(host TEXT, name TEXT, value TEXT, path TEXT,
                                     expiry INTEGER, lastAccessed INTEGER,
                                     creationTime INTEGER, isSecure INTEGER,
                                     isHttpOnly INTEGER);
            """
        )
        for p in range(1, n_places + 1):
            conn.execute(
                "INSERT INTO moz_places VALUES (?, ?, ?, ?)",
                (p, f"https://f{tag}-{p}.example.org/", f"Firefox page {tag}-{p}", unix),
            )
        for v in range(1, n_visits + 1):
            conn.execute(
                "INSERT INTO moz_historyvisits VALUES (?, ?, ?, ?)",
                (v, 1 + (v - 1) % n_places, unix + v * 1_000_000, 1 + v % 2),
            )
        for c in range(n_cookies):
            conn.execute(
                "INSERT INTO moz_cookies VALUES (?, ?, 'x', '/', ?, ?, ?, 0, 1)",
                (f"f{tag}.example.org", f"tok{c}", unix // 1_000_000, unix, unix),
            )

    rows = {"history": n_visits, "cookies": n_cookies, "downloads": 0, "recovered": 0}
    return _sqlite_bytes(os.path.join(tmp, f"firefox{tag}.sqlite"), script, rows)


def mk_legacy(rng: np.random.Generator, tag: int, tmp: str) -> tuple[bytes, dict]:
    """A DB with no browser schema: the intact parse finds nothing, so
    every distinct URL row comes back only through page recovery."""
    n = int(rng.integers(2, 7))
    unix = BASE_UNIX_US + int(rng.integers(0, 10**12))

    def script(conn):
        conn.execute(
            "CREATE TABLE bookmarks(id INTEGER PRIMARY KEY, url TEXT, title TEXT, added INTEGER)"
        )
        for i in range(1, n + 1):
            conn.execute(
                "INSERT INTO bookmarks VALUES (?, ?, ?, ?)",
                (i, f"https://r{tag}-{i}.example.net/", f"Saved page {tag}-{i}", unix + i),
            )

    rows = {"history": 0, "cookies": 0, "downloads": 0, "recovered": n}
    return _sqlite_bytes(os.path.join(tmp, f"legacy{tag}.sqlite"), script, rows)


_BUILDERS = {"jpeg": mk_jpeg, "png": mk_png, "pdf": mk_pdf, "zip": mk_zip, "bmp": mk_bmp}
_DB_BUILDERS = {"chrome": mk_chrome, "firefox": mk_firefox, "legacy": mk_legacy}


# -- text stripes ------------------------------------------------------------


def _artefact_line(rng: np.random.Generator) -> tuple[bytes, str, str, int]:
    """One text line with one artefact; returns (line, kind, value, offset
    of value in line). Digit groups in URLs/emails stay at most four
    long and letter-separated, so the phone regex cannot match inside
    them; phones carry 10 digits with at least 4 distinct."""
    kind = ("Url", "Email", "Phone")[int(rng.integers(0, 3))]
    a, b = int(rng.integers(0, 10000)), int(rng.integers(0, 1000))
    if kind == "Url":
        value = f"https://h{a}.example.com/page{b}"
    elif kind == "Email":
        value = f"user{a}@mail{b}.example.org"
    else:
        while True:
            digits = "".join(str(int(d)) for d in rng.integers(0, 10, 10))
            if digits[0] != "0" and len(set(digits)) >= 4:
                break
        value = f"{digits[:3]}-{digits[3:6]}-{digits[6:]}"
    head = " ".join(LINE_WORDS[int(i)] for i in rng.integers(0, len(LINE_WORDS), 6))
    tail = " ".join(LINE_WORDS[int(i)] for i in rng.integers(0, len(LINE_WORDS), 6))
    prefix = f"{head} see "
    line = f"{prefix}{value} {tail}\n"
    return line.encode(), kind, value, len(prefix)


def _fill_text(buf: bytearray, lo: int, hi: int, base: int, rng, artefacts: list) -> None:
    """Fill buf[lo:hi) with whole text lines (zeros after the last whole
    line); one line in 40 carries an artefact, recorded at its global
    offset (base + position). Plain lines come from a seeded pool of 256
    lorem lines, so a stripe costs one draw per line."""
    pool = [
        (" ".join(LINE_WORDS[int(i)] for i in rng.integers(0, len(LINE_WORDS), n)) + "\n").encode()
        for n in rng.integers(8, 20, 256)
    ]
    picks = rng.integers(0, 40 * len(pool), (hi - lo) // 40 + 1)
    pos = lo
    for pick in picks:
        if pick < len(pool):
            line, kind, value, off = _artefact_line(rng)
        else:
            line, kind = pool[pick % len(pool)], None
        if pos + len(line) > hi:
            break
        buf[pos : pos + len(line)] = line
        if kind is not None:
            artefacts.append({"kind": kind, "content": value, "global_start": base + pos + off})
        pos += len(line)


# -- image -------------------------------------------------------------------


def _fixed_multiset(kinds: tuple, n: int, rng: np.random.Generator) -> list:
    """n items cycling `kinds` (so the mix depends only on n), shuffled."""
    items = [kinds[i % len(kinds)] for i in range(n)]
    order = rng.permutation(n)
    return [items[i] for i in order]


def build_image(path: str, size_mib: int, seed: int, tmp: str) -> dict:
    """Write the seeded image to `path`; return its manifest."""
    rng = _rng(seed, 1)
    textures = _fixed_multiset(TEXTURES, size_mib, rng)
    plants = _fixed_multiset(PLANT_KINDS, size_mib, rng)
    files, artefacts = [], []
    browser = {"history_chrome": 0, "history_firefox": 0, "cookies": 0, "downloads": 0,
               "recovered": 0}
    with open(path, "wb") as fh:
        for i in range(size_mib):
            srng = _rng(seed, 2, i)
            base = i * MIB
            kind = plants[i]
            if kind in _DB_BUILDERS:
                blob, rows = _DB_BUILDERS[kind](srng, i, tmp)
                file_type = "sqlite"
                if kind == "chrome":
                    browser["history_chrome"] += rows["history"]
                elif kind == "firefox":
                    browser["history_firefox"] += rows["history"]
                browser["cookies"] += rows["cookies"]
                browser["downloads"] += rows["downloads"]
                browser["recovered"] += rows["recovered"]
            else:
                blob, file_type = _BUILDERS[kind](srng), kind
            # 4096-aligned, like the golden image; leaves room for the gap
            slots = (MIB - len(blob) - 2 * 4096) // 4096
            off = 4096 * (1 + int(srng.integers(0, slots)))
            texture = textures[i]
            if texture == "zero":
                stripe = bytearray(MIB)
            elif texture == "random":
                stripe = bytearray(srng.bytes(MIB))
            else:
                stripe = bytearray(MIB)
                _fill_text(stripe, 0, off - PLANT_GAP, base, srng, artefacts)
                _fill_text(stripe, off + len(blob) + PLANT_GAP, MIB, base, srng, artefacts)
            stripe[off : off + len(blob)] = blob
            files.append({"kind": kind, "type": file_type, "offset": base + off,
                          "size": len(blob), "sha256": _sha(blob), "stripe": texture})
            fh.write(stripe)
    return {
        "format": IMAGE_FORMAT,
        "seed": seed,
        "size_mib": size_mib,
        "size": size_mib * MIB,
        "textures": {t: textures.count(t) for t in TEXTURES},
        "files": files,
        "text_stripes": [i for i, t in enumerate(textures) if t == "text"],
        "artefacts": artefacts,
        "browser": browser,
    }


def make_e01(raw_path: str, e01_path: str) -> None:
    from swiftbeaver_spark.ewf import write_ewf

    with open(raw_path, "rb") as fh:
        raw = fh.read()
    write_ewf(e01_path, raw, sectors_per_chunk=64)


# -- cache -------------------------------------------------------------------


def _evict(cache_root: str, family: str, keep: str) -> None:
    """Keep at most two images of a family on disk (`keep` and the newest
    other one)."""
    if not os.path.isdir(cache_root):
        return
    dirs = [
        os.path.join(cache_root, d)
        for d in os.listdir(cache_root)
        if d.startswith(family + "-") and os.path.join(cache_root, d) != keep
    ]
    dirs.sort(key=os.path.getmtime, reverse=True)
    for d in dirs[1:]:
        shutil.rmtree(d, ignore_errors=True)


def cached_image(cache_root: str, seed: int, size_mib: int, e01: bool) -> dict:
    """Image (and optionally its E01) for `seed`, generated on first use.
    Returns the manifest with `raw_path` / `e01_path` added."""
    d = os.path.join(cache_root, f"image-v{IMAGE_FORMAT}-{size_mib}m-{seed}")
    man_path = os.path.join(d, "manifest.json")
    if not os.path.exists(man_path):
        os.makedirs(d, exist_ok=True)
        manifest = build_image(os.path.join(d, "image.raw"), size_mib, seed, d)
        with open(man_path + ".tmp", "w") as fh:
            json.dump(manifest, fh)
        os.replace(man_path + ".tmp", man_path)
    with open(man_path) as fh:
        manifest = json.load(fh)
    manifest["raw_path"] = os.path.join(d, "image.raw")
    if e01:
        e01_path = os.path.join(d, "image.E01")
        if not os.path.exists(e01_path):
            make_e01(manifest["raw_path"], e01_path + ".tmp.E01")
            os.replace(e01_path + ".tmp.E01", e01_path)
        manifest["e01_path"] = e01_path
    os.utime(d)
    _evict(cache_root, f"image-v{IMAGE_FORMAT}-{size_mib}m", d)
    return manifest

