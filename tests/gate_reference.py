"""Python reference for the scan-time hit gates (java/src/sbspark/
ScanGates.java): each check below mirrors one gate's verdict — the
first reads of its carver's own rejection cascade — so the parity
tests (test_mp3_gate.py, test_scan_gates.py) can pin the JVM gates hit
for hit against an independent implementation over the same bytes.
"""

from __future__ import annotations

import functools

from swiftbeaver_spark.scanner import compile_patterns, find_all, scan_gate_indexes


class _BytesReader:
    """read_at over in-memory evidence, short at EOF like the file readers."""

    def __init__(self, data: bytes):
        self.data = data

    def read_at(self, pos: int, n: int) -> bytes:
        return self.data[pos : pos + n]


def _mp3_sync_ok(reader, off: int) -> bool:
    """Python mirror of ScanGates.mp3Valid (JVM) — same reads, same
    verdicts."""
    from swiftbeaver_spark.carvers.media import _mp3_frame_size

    h = reader.read_at(off, 4)
    size = _mp3_frame_size(h)
    if size is None:
        return False
    total, frames = size, 1
    while frames < 3:
        fh = reader.read_at(off + total, 4)
        if len(fh) < 4:
            return False
        if fh[:3] == b"TAG":
            return False
        s = _mp3_frame_size(fh)
        if s is None:
            return False
        total += s
        frames += 1
    return True


def _bmp_ok(reader, off: int, min_size: int = 0) -> bool:
    """carve_bmp's accept rule IS a pure function of one header read,
    so the Python side gates through the handler itself — zero drift
    by construction (max_size only affects truncation, never
    None-vs-outcome). min_size (r14) mirrors ScanGates.bmpValid's
    hoisted finalize() rejection: the carved size can only shrink the
    declared file_size, so declared < min_size proves the pipeline
    would drop the hit anyway (carvers/base.py:219)."""
    from swiftbeaver_spark.carvers.images import carve_bmp

    out = carve_bmp(reader, off, 0)
    if out is None:
        return False
    return (out.end - off) >= min_size


def _ico_prefix_ok(reader, off: int) -> bool:
    """Python mirror of ScanGates.icoPrefixValid — the first checks of
    carve_ico's cascade (count bounds + first directory entry sanity);
    reserved/type bytes are guaranteed by the hit patterns."""
    from swiftbeaver_spark.carvers.images import _ICO_MAX_ENTRIES, _ICO_MAX_IMAGE

    h = reader.read_at(off, 6)
    if len(h) < 6:
        return False
    count = h[4] | (h[5] << 8)
    if count == 0 or count > _ICO_MAX_ENTRIES:
        return False
    d = reader.read_at(off + 6, 16)
    if len(d) < 16:
        return False
    size = int.from_bytes(d[8:12], "little")
    img_off = int.from_bytes(d[12:16], "little")
    if size == 0 or img_off < 6 + count * 16 or size > _ICO_MAX_IMAGE:
        return False
    return True


_GATE_CHECKS = {"m3": _mp3_sync_ok, "bm": _bmp_ok, "ic": _ico_prefix_ok}


def python_gated_hits(data: bytes, cfg) -> list[tuple[int, str, str]]:
    """(global_offset, file_type_id, pattern_id) rows scanner.
    scan_evidence must return for evidence `data`: every pattern
    occurrence (the chunk overlap makes the per-chunk union equal a
    whole-buffer scan) minus gated hits whose check fails."""
    patterns = compile_patterns(cfg)
    checks = {}
    for tag, idxs in scan_gate_indexes(cfg).items():
        base, _, param = tag.partition("@")
        check = _GATE_CHECKS[base]
        if param:
            check = functools.partial(check, min_size=int(param))
        for i in idxs:
            checks[i] = check
    reader = _BytesReader(data)
    rows = []
    for i, (pat, pid, ftid) in enumerate(patterns):
        for off in find_all(data, pat):
            check = checks.get(i)
            if check is None or check(reader, off):
                rows.append((off, ftid, pid))
    return rows
