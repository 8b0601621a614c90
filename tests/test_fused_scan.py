"""One-pass evidence scan differentials (fused_scan.py).

scan_all_from_evidence is the engine's only direct-evidence scan; its
signature hits, string spans and entropy regions must equal the
chunk-table path's (scanner.scan_and_normalize / strings_scan.
scan_string_spans / entropy.entropy_regions over the parent chunks) on
raw and EWF/E01 evidence, across content engineered to cross every
sub-chunk boundary class (runs, patterns and high-entropy regions
straddling granule edges), with each sub-scan switched on or off and
for entropy windows that do not divide the granule.
"""

from __future__ import annotations

import dataclasses

import numpy as np
import pytest

from swiftbeaver_spark.chunking import chunks_from_bytes
from swiftbeaver_spark.config import DEFAULT_CONFIG
from swiftbeaver_spark.entropy import entropy_regions
from swiftbeaver_spark.fused_scan import scan_all_from_evidence
from swiftbeaver_spark.jvm import ensure_kernel
from swiftbeaver_spark.scanner import scan_and_normalize
from swiftbeaver_spark.strings_scan import scan_string_spans

from tests.fixtures import mk_jpeg, mk_png, mk_sqlite


@pytest.fixture(autouse=True)
def require_kernel(spark):
    assert ensure_kernel(spark), "JVM kernel must register in the test env"


CFG = dataclasses.replace(
    DEFAULT_CONFIG,
    file_types=tuple(
        dataclasses.replace(ft, min_size=5)
        for ft in DEFAULT_CONFIG.file_types
        if ft.type_id in ("jpeg", "png", "sqlite")
    ),
    enable_string_scan=True,
    enable_entropy_detection=True,
    chunk_size=4 << 20,
    overlap=4096,
    entropy_window_size=4096,
    entropy_threshold=7.5,
    string_scan_utf16=True,
)
GRANULE = 512 << 10  # 8 sub-chunks per parent


def build_image(seed: int, size: int) -> bytes:
    """Mixed textures with planted files and boundary-straddling
    content: ASCII/UTF-8 runs and per-window byte permutations
    (entropy exactly 8.0) placed across granule and parent edges."""
    rng = np.random.default_rng(seed)
    buf = bytearray(size)
    # text stripes with artefact-bearing lines
    text = (
        b"lorem ipsum dolor sit amet https://example.com/x "
        b"mail bob@example.org call +1-555-01" + b"23 " + "héllo wörld ".encode()
    ) * 40
    for off in range(0, size, 1 << 20):
        buf[off : off + len(text)] = text[: max(0, min(len(text), size - off))]
    # high-entropy spans straddling sub-chunk boundaries
    perm = b"".join(bytes(rng.permutation(256).astype(np.uint8)) for _ in range(64))
    for off in (GRANULE - 8192, 3 * GRANULE - 100, (4 << 20) - 8192):
        if off + len(perm) < size:
            buf[off : off + len(perm)] = perm
    # planted files, including one straddling a granule edge
    for blob, off in (
        (mk_jpeg(), 70_000),
        (mk_png(), GRANULE - 10),
        (mk_sqlite(), 2 * GRANULE + 12345),
        (mk_jpeg(), (4 << 20) + 777),
    ):
        if off + len(blob) < size:
            buf[off : off + len(blob)] = blob
    return bytes(buf)


def _rows(df) -> list[tuple]:
    return sorted(map(tuple, df.collect()))


def chunk_table_rows(spark, data: bytes, cfg) -> dict[str, list[tuple]]:
    """The chunk-table twin: every scan over the parent-geometry chunk
    table built from the same bytes."""
    chunks = chunks_from_bytes(spark, data, cfg.chunk_size, cfg.overlap)
    out = {"hits": _rows(scan_and_normalize(chunks, cfg))}
    if cfg.enable_string_scan:
        out["string_spans"] = _rows(scan_string_spans(chunks, cfg))
    if cfg.enable_entropy_detection:
        out["entropy_regions"] = _rows(entropy_regions(chunks, cfg))
    return out


def fused_rows(spark, path: str, cfg, granule=GRANULE) -> dict[str, list[tuple]]:
    t = scan_all_from_evidence(spark, path, cfg, granule=granule)
    t["raw"].persist()
    try:
        return {
            name: _rows(t[name])
            for name in ("hits", "string_spans", "entropy_regions")
            if name in t
        }
    finally:
        t["raw"].unpersist()


def _cmp(spark, path, data, cfg=CFG, granule=GRANULE):
    got = fused_rows(spark, path, cfg, granule)
    want = chunk_table_rows(spark, data, cfg)
    assert got.keys() == want.keys()
    for name in want:
        assert got[name] == want[name], name
        assert got[name], name  # the content exercises every table


@pytest.mark.parametrize("seed", [1, 2])
def test_fused_equals_standalone_raw(spark, tmp_path, seed):
    data = build_image(seed, 9 << 20)  # ragged tail past 2 parents
    p = tmp_path / "ev.raw"
    p.write_bytes(data)
    _cmp(spark, str(p), data)


def test_fused_equals_standalone_e01(spark, tmp_path):
    from swiftbeaver_spark.ewf import write_ewf

    data = build_image(3, 6 << 20)
    p = str(tmp_path / "ev.E01")
    write_ewf(p, data, sectors_per_chunk=8)
    _cmp(spark, p, data)


@pytest.mark.parametrize("strings", [True, False], ids=["strings", "no_strings"])
@pytest.mark.parametrize("entropy", [True, False], ids=["entropy", "no_entropy"])
def test_sub_scan_toggles_equal_chunk_table(spark, tmp_path, strings, entropy):
    """Each sub-scan can be switched off (an empty spec line): the
    disabled tables are absent and the others are unchanged."""
    data = build_image(4, 5 << 20)
    p = tmp_path / "ev.raw"
    p.write_bytes(data)
    cfg = dataclasses.replace(
        CFG, enable_string_scan=strings, enable_entropy_detection=entropy
    )
    _cmp(spark, str(p), data, cfg)


def test_window_not_dividing_granule_equals_chunk_table(spark, tmp_path):
    """A 3000-byte entropy window divides neither the granule nor the
    chunk size: the sub-chunk length rounds up to whole windows, so
    every parent keeps its own window grid (and drops the same
    trailing partial window) with several sub-chunks per parent."""
    data = build_image(5, 9 << 20)
    p = tmp_path / "ev.raw"
    p.write_bytes(data)
    cfg = dataclasses.replace(CFG, entropy_window_size=3000)
    t = scan_all_from_evidence(spark, str(p), cfg, granule=GRANULE)
    starts = sorted(r["start"] for r in t["raw"].select("start").collect())
    parent0 = [s for s in starts if s < cfg.chunk_size]
    assert len(parent0) > 1 and all(s % 3000 == 0 for s in parent0)
    _cmp(spark, str(p), data, cfg)


def test_default_tiling_unchanged(spark):
    """The default 512 MiB / 16 MiB / 4096 geometry is already window
    aligned: 32 sub-chunks of exactly 16 MiB per parent."""
    from swiftbeaver_spark.config import PY_SCAN_GRANULE
    from swiftbeaver_spark.fused_scan import subchunk_plan

    chunk = DEFAULT_CONFIG.chunk_size
    total = 2 * chunk + 5
    rows = _rows(subchunk_plan(spark, total, chunk, PY_SCAN_GRANULE, 4096))
    want = [
        (p * chunk + j * PY_SCAN_GRANULE, PY_SCAN_GRANULE)
        for p in range(2)
        for j in range(chunk // PY_SCAN_GRANULE)
    ] + [(2 * chunk, 5)]
    assert rows == want
    assert rows == _rows(subchunk_plan(spark, total, chunk, PY_SCAN_GRANULE, 1))


def test_requires_jvm_kernel(spark, tmp_path):
    import swiftbeaver_spark.jvm as jvm_mod

    p = tmp_path / "ev.raw"
    p.write_bytes(b"\x00" * (1 << 20))
    saved = getattr(spark, jvm_mod._MARKER, None)
    try:
        setattr(spark, jvm_mod._MARKER, False)
        with pytest.raises(RuntimeError, match="JVM kernel.*chunk_join=True"):
            scan_all_from_evidence(spark, str(p), CFG, granule=GRANULE)
    finally:
        setattr(spark, jvm_mod._MARKER, saved)


def test_partition_count_scales_with_corpus_bytes(spark, tmp_path):
    """r14: the one-pass scan's partition count must grow with corpus
    bytes (ONE_PASS_PARTITION_BYTES of evidence per partition), not
    stay pinned at defaultParallelism — a fixed split makes each
    partition's persisted cache block corpus-proportional, the term
    that OOMed 20 GiB at a heap 10 GiB survived (BENCH_SCALE_r14).
    Plan-level check over a SPARSE file: no bytes are read."""
    import math
    import os

    from swiftbeaver_spark.fused_scan import ONE_PASS_PARTITION_BYTES

    size = 5 * 1024 * 1024 * 1024  # 5 GiB sparse
    path = str(tmp_path / "sparse.raw")
    with open(path, "wb") as fh:
        fh.truncate(size)

    scans = scan_all_from_evidence(spark, path, CFG)
    want = max(
        spark.sparkContext.defaultParallelism,
        math.ceil(size / ONE_PASS_PARTITION_BYTES),
    )
    assert scans["raw"].rdd.getNumPartitions() == want
    assert want == 40  # 5 GiB / 128 MiB > the local[32] floor
    os.unlink(path)
