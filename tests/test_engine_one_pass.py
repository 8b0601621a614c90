"""Engine evidence runs (Engine.run(evidence_path=...)) always use the
one-pass scan (fused_scan.py), and must produce IDENTICAL tables to the
chunk-table strategy (Engine.run(evidence_path=..., chunk_join=True))
on raw and E01 evidence: string scan on/off x entropy on/off, scan
limits, and an entropy window that divides neither the granule nor the
chunk size with several sub-chunks per parent. This file pins the
ENGINE wiring (table graph, limits, persist lifetime); the scan
differentials themselves are in tests/test_fused_scan.py.
"""

from __future__ import annotations

import dataclasses

import pytest

from swiftbeaver_spark.config import DEFAULT_CONFIG
from swiftbeaver_spark.engine import Engine
from swiftbeaver_spark.fused_scan import scan_all_from_evidence
from swiftbeaver_spark.jvm import ensure_kernel

from tests.fixtures import mk_jpeg, mk_png
from tests.test_fused_scan import CFG as FUSED_CFG
from tests.test_fused_scan import GRANULE, build_image


@pytest.fixture(autouse=True)
def require_kernel(spark):
    assert ensure_kernel(spark), "JVM kernel must register in the test env"


# engine geometry: PY_SCAN_GRANULE (16 MiB) >= chunk_size, so the
# sub-chunk tiling is one sub-chunk per parent unless a test shrinks
# the granule (small_granule)
CFG = dataclasses.replace(FUSED_CFG, chunk_size=2 << 20)

TABLES = (
    "hits",
    "string_spans",
    "string_artefacts",
    "entropy_regions",
    "carved_files",
    "chunks",
    "run_summary",
    "browser_history",
    "browser_cookies",
    "browser_downloads",
)


@pytest.fixture
def small_granule(monkeypatch):
    """Several sub-chunks per 2 MiB parent inside Engine.run."""
    import swiftbeaver_spark.fused_scan as fused_mod

    monkeypatch.setattr(fused_mod, "PY_SCAN_GRANULE", GRANULE)


def _tables(result):
    out = {}
    for name in TABLES:
        if name not in result.tables:
            continue
        df = result[name]
        if name == "chunks":  # plan rows vs chunk-table rows: geometry only
            df = df.select("chunk_id", "start", "valid_length")
        out[name] = sorted(map(tuple, df.collect()))
    return out


def _assert_same_run(spark, path, cfg=CFG):
    eng = Engine(spark, cfg)
    one = eng.run(evidence_path=path)
    assert one.persisted, "one-pass must persist the raw metadata frame"
    try:
        got = _tables(one)
    finally:
        one.unpersist()
    base = _tables(eng.run(evidence_path=path, chunk_join=True))
    assert got.keys() == base.keys()
    for name in base:
        assert got[name] == base[name], name
    assert got["hits"] and got["carved_files"]
    if cfg.enable_entropy_detection:
        assert got["entropy_regions"]
    if cfg.enable_string_scan:
        assert got["string_spans"]
    else:
        assert "string_spans" not in got


def test_one_pass_matches_default_raw(spark, tmp_path):
    p = tmp_path / "ev.raw"
    p.write_bytes(build_image(11, 7 << 20))
    _assert_same_run(spark, str(p))


def test_one_pass_matches_default_e01(spark, tmp_path):
    from swiftbeaver_spark.ewf import write_ewf

    p = str(tmp_path / "ev.E01")
    write_ewf(p, build_image(12, 5 << 20), sectors_per_chunk=8)
    _assert_same_run(spark, p)


def test_one_pass_matches_default_with_limits(spark, tmp_path, small_granule):
    p = tmp_path / "ev.raw"
    p.write_bytes(build_image(13, 7 << 20))
    cfg = dataclasses.replace(CFG, max_bytes=3 << 20, max_chunks=3)
    _assert_same_run(spark, str(p), cfg)
    cfg = dataclasses.replace(CFG, max_chunks=2)
    _assert_same_run(spark, str(p), cfg)


@pytest.mark.parametrize("strings", [True, False], ids=["strings", "no_strings"])
@pytest.mark.parametrize("entropy", [True, False], ids=["entropy", "no_entropy"])
def test_toggles_match_chunk_table_raw_and_e01(
    spark, tmp_path, small_granule, strings, entropy
):
    from swiftbeaver_spark.ewf import write_ewf

    cfg = dataclasses.replace(
        CFG, enable_string_scan=strings, enable_entropy_detection=entropy
    )
    data = build_image(16, 3 << 20)
    raw = tmp_path / "ev.raw"
    raw.write_bytes(data)
    _assert_same_run(spark, str(raw), cfg)
    e01 = str(tmp_path / "ev.E01")
    write_ewf(e01, data, sectors_per_chunk=8)
    _assert_same_run(spark, e01, cfg)


def test_window_not_dividing_granule_matches_chunk_table(
    spark, tmp_path, small_granule
):
    """entropy_window_size=3000 with several sub-chunks per parent:
    previously routed quietly to a separate multi-pass path, now the
    one-pass scan rounds its sub-chunks to whole windows."""
    p = tmp_path / "ev.raw"
    p.write_bytes(build_image(17, 5 << 20))
    _assert_same_run(spark, str(p), dataclasses.replace(CFG, entropy_window_size=3000))


def test_evidence_runs_always_one_pass(spark, tmp_path):
    """Every evidence_path run uses the one-pass scan (it persists the
    raw metadata frame) — raw and E01, string scan off (the CLI
    default) and a window that does not divide the granule included;
    only chunk_join=True and evidence_bytes take the chunk table."""
    from swiftbeaver_spark.ewf import write_ewf

    data = build_image(14, 2 << 20)
    raw = tmp_path / "ev.raw"
    raw.write_bytes(data)
    e01 = str(tmp_path / "ev.E01")
    write_ewf(e01, data, sectors_per_chunk=8)
    for cfg in (
        CFG,
        dataclasses.replace(CFG, enable_string_scan=False),
        dataclasses.replace(CFG, entropy_window_size=3000),
    ):
        for path in (str(raw), e01):
            res = Engine(spark, cfg).run(evidence_path=path)
            assert res.persisted, (cfg, path)
            res.unpersist()
    eng = Engine(spark, CFG)
    assert not eng.run(evidence_path=str(raw), chunk_join=True).persisted
    assert not eng.run(evidence_bytes=data).persisted


def test_detection_off_omits_entropy_tables(spark, tmp_path):
    """With enable_entropy_detection False the fused scan must not
    return entropy tables, and any window size is accepted since no
    entropy windows are computed."""
    p = tmp_path / "ev.raw"
    p.write_bytes(build_image(15, 3 << 20))
    cfg = dataclasses.replace(
        CFG, enable_entropy_detection=False, entropy_window_size=3000
    )
    t = scan_all_from_evidence(spark, str(p), cfg, granule=GRANULE)
    assert "entropy_windows" not in t and "entropy_regions" not in t
    t["raw"].persist()
    try:
        assert t["hits"].count() > 0
        assert t["string_spans"].count() > 0
    finally:
        t["raw"].unpersist()
    res = Engine(spark, cfg).run(evidence_path=str(p))
    assert "entropy_regions" not in res.tables
    res.unpersist()


def test_no_vec_kernel_hatch_keeps_evidence_scan(spark, tmp_path, monkeypatch):
    """SPARK_GRAFT_NO_VEC_KERNEL switches kernels to their twins; the
    evidence scan has no twin, so it keeps running in the JVM (and the
    run's tables do not change)."""
    p = tmp_path / "ev.raw"
    p.write_bytes(build_image(18, 2 << 20))
    base = Engine(spark, CFG).run(evidence_path=str(p))
    want = _tables(base)
    base.unpersist()
    monkeypatch.setenv("SPARK_GRAFT_NO_VEC_KERNEL", "1")
    res = Engine(spark, CFG).run(evidence_path=str(p))
    try:
        assert res.persisted
        assert _tables(res) == want
    finally:
        res.unpersist()


def test_missing_kernel_error_names_reason_and_chunk_join(spark, tmp_path, monkeypatch):
    """A kernel build failure on a fresh session surfaces in the error
    an evidence run raises: the javac diagnostic itself, plus the
    JDK-free chunk_join=True route — which still runs."""
    import swiftbeaver_spark.jvm as jvm_mod

    java_dir = tmp_path / "java"
    (java_dir / "src" / "sbspark").mkdir(parents=True)
    (java_dir / "src" / "sbspark" / "Broken.java").write_text(
        "package sbspark; class Broken { int x = missing_symbol_xyz; }\n"
    )
    monkeypatch.setattr(jvm_mod, "_JAVA_DIR", str(java_dir))
    monkeypatch.setattr(jvm_mod, "_SOURCES", ("Broken.java",))
    monkeypatch.setattr(jvm_mod, "_BUILD_ERROR", None)
    fresh = spark.newSession()
    assert not jvm_mod.ensure_kernel(fresh)
    assert "missing_symbol_xyz" in jvm_mod.kernel_error(fresh)
    p = tmp_path / "ev.raw"
    data = build_image(19, 1 << 20)
    p.write_bytes(data)
    eng = Engine(fresh, CFG)
    with pytest.raises(RuntimeError) as err:
        eng.run(evidence_path=str(p))
    assert "missing_symbol_xyz" in str(err.value)
    assert "chunk_join=True" in str(err.value)
    assert eng.run(evidence_path=str(p), chunk_join=True)["hits"].count() > 0


def test_zip_bucket_cache_batch_split_parity(spark, tmp_path):
    """ADVICE r11: carve_zips' per-bucket EOCD index now caches across
    Arrow batches; forcing one-row batches (maximal bucket splitting)
    must yield byte-identical carves to the default batch size."""
    import io
    import zipfile

    from swiftbeaver_spark.carve_op import carve_hits_with_evidence
    from swiftbeaver_spark.scanner import scan_evidence

    def mk_zip(tag: bytes) -> bytes:
        bio = io.BytesIO()
        with zipfile.ZipFile(bio, "w") as z:
            z.writestr("a.txt", tag * 40)
        return bio.getvalue()

    buf = bytearray(2 << 20)
    for i, off in enumerate((100, 5_000, 9_000, 300_000, 1_500_000)):
        blob = mk_zip(bytes([65 + i]))
        buf[off : off + len(blob)] = blob
    p = tmp_path / "zips.raw"
    p.write_bytes(bytes(buf))
    cfg = dataclasses.replace(
        CFG,
        file_types=tuple(
            ft for ft in DEFAULT_CONFIG.file_types if ft.type_id == "zip"
        ),
    )
    hits = scan_evidence(spark, str(p), cfg)
    base = sorted(map(tuple, carve_hits_with_evidence(hits, str(p), cfg).collect()))
    assert len(base) == 5
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    saved = spark.conf.get(key, None)
    try:
        spark.conf.set(key, "1")
        split = sorted(
            map(tuple, carve_hits_with_evidence(hits, str(p), cfg).collect())
        )
    finally:
        if saved is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, saved)
    assert split == base


def test_one_pass_jpeg_png_carve_content(spark, tmp_path):
    """The one-pass carves recover the planted files byte-for-byte
    (sha256 parity with the fixtures), not just row-count parity."""
    import hashlib

    jpeg, png = mk_jpeg(), mk_png()
    buf = bytearray(2 << 20)
    buf[1000 : 1000 + len(jpeg)] = jpeg
    buf[500_000 : 500_000 + len(png)] = png
    p = tmp_path / "ev.raw"
    p.write_bytes(bytes(buf))
    eng = Engine(spark, CFG)
    res = eng.run(evidence_path=str(p))
    try:
        rows = {
            r["file_type"]: r
            for r in res["carved_files"].collect()
        }
    finally:
        res.unpersist()
    assert rows["jpeg"]["sha256"] == hashlib.sha256(jpeg).hexdigest()
    assert rows["png"]["sha256"] == hashlib.sha256(png).hexdigest()
