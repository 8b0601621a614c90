"""One-pass evidence scan: a single positioned read per sub-chunk feeds
the signature scan, the string-span scan AND the entropy window scan
(java/src/sbspark/ScanAllEvidenceUdf.java) — the reference pipeline's
shape, where one chunk reader feeds the scan, string and entropy
workers from the same buffer (src/pipeline/mod.rs:168-254).

This is the engine's only direct-evidence scan: Engine.run(evidence_
path=...) and scanner.scan_evidence both go through it, on raw and
EWF/E01 evidence alike. The other evidence strategy, the chunk table
(`Engine.run(chunk_join=True)` or `evidence_bytes`), materializes chunk
BYTES, which costs executor memory (see the Engine docstring's heap-
economics note). This one materializes no chunk bytes: the UDF returns
the stages' METADATA rows (packed hits, span rows, entropy islands) in
one struct per sub-chunk, and callers persist that small frame instead.

Rows equal the chunk-table path's, table for table (pinned by
tests/test_fused_scan.py and tests/test_engine_one_pass.py on raw and
E01 evidence):

- hits: fresh-state Aho-Corasick over [start, start+vlen+overlap) per
  sub-chunk with ownership dedup (local_offset < valid_length) — the
  parent-geometry chunk scan's own cross-boundary rule. Reference
  parity: the same scan loop as src/scanner/cpu.rs:40-69. Scan-time
  gates (scanner.scan_gate_indexes) additionally drop loose-signature
  hits that provably carve to nothing; carved rows are unchanged.
- spans: Strs.scanEvidence, continuation-aware (backward barrier walk,
  forward UTF-8 run extension), so rows stay pinned to cfg.chunk_size
  geometry whatever the sub-chunk granule.
- ents: Ent.scanEvidence per sub-chunk. Sub-chunk lengths are whole
  entropy windows (all but each parent's last), so no window straddles
  a sub-chunk boundary and every parent drops the same trailing partial
  window as the chunk-table scan.

There is no Python twin: without the JVM kernel (built by javac, so a
JDK is required) the scan raises, naming the JDK-free chunk-table route.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from swiftbeaver_spark.config import (
    EVIDENCE_PARTITION_BYTES,
    PY_SCAN_GRANULE,
    EngineConfig,
)

# Evidence bytes per one-pass scan partition (r14): bounds the persisted
# raw frame's per-partition cache block — and the unroll/serialization
# working set of the task building it — independently of corpus size.
# 128 MiB of evidence is ~8 sub-chunk rows per task and at worst (a
# fully-text corpus, span content ~ evidence bytes) a ~150 MiB block:
# small enough that a block under construction is a footnote against
# the storage pool, large enough that a 10 GiB image still packs its
# scan into ~3 task waves at 32 threads.
ONE_PASS_PARTITION_BYTES = EVIDENCE_PARTITION_BYTES


def subchunk_plan(
    spark, total: int, chunk_size: int, granule: int, align: int
) -> DataFrame:
    """Sub-chunks tiling each parent chunk exactly (pure range
    arithmetic). The sub-chunk length is rounded UP to a multiple of
    `align`, so every sub-chunk start sits on its parent's `align` grid;
    each parent's last sub-chunk is ragged, so ownership ranges never
    straddle a parent boundary."""
    n_sub = max(1, math.ceil(chunk_size / granule))
    g2 = math.ceil(math.ceil(chunk_size / n_sub) / align) * align
    n_sub = max(1, math.ceil(chunk_size / g2))
    n_parents = max(0, math.ceil(total / chunk_size))
    ids = spark.range(0, n_parents * n_sub)
    j = F.col("id") % n_sub
    start = F.floor(F.col("id") / n_sub).cast("long") * chunk_size + j * g2
    return (
        ids.select(
            start.alias("start"),
            F.least(
                F.lit(g2), F.lit(chunk_size) - j * g2, F.lit(total) - start
            ).alias("valid_length"),
        )
        .where(F.col("valid_length") > 0)
    )


def scan_all_from_evidence(
    spark,
    path: str,
    cfg: EngineConfig,
    granule: int | None = None,
) -> dict[str, DataFrame]:
    """Build the one-pass scan frame and its derived stage tables.
    Returns {"raw", "hits"}, plus "string_spans" when
    cfg.enable_string_scan and "entropy_windows" / "entropy_regions"
    when cfg.enable_entropy_detection (a disabled sub-scan is skipped
    inside the UDF). `raw` holds one row per sub-chunk with the three
    metadata arrays — PERSIST IT (the caller owns the lifetime) before
    driving more than one derived table, or each table's action re-runs
    the scan:

        tables = scan_all_from_evidence(spark, path, cfg)
        tables["raw"].persist()
        try:
            ... drive tables["hits"] / ["string_spans"] / ...
        finally:
            tables["raw"].unpersist()

    cfg.max_bytes / cfg.max_chunks truncate the PARENT chunk plan as
    the chunk-table path does (a parent whose start clears the byte
    limit is included whole). `granule` (default PY_SCAN_GRANULE) is
    the sub-chunk length before window alignment. The hit cap
    (scanner.MAX_HITS_PER_CHUNK) applies per sub-chunk.

    Raises RuntimeError when the JVM kernel is not registered, with the
    recorded reason (jvm.kernel_error)."""
    from swiftbeaver_spark.entropy import _entropy_spec, merge_regions
    from swiftbeaver_spark.jvm import ensure_kernel, kernel_error, spec_for
    from swiftbeaver_spark.scanner import (
        MAX_HITS_PER_CHUNK,
        _decode_packed_hits,
        compile_patterns,
        normalize_hits,
        scan_gate_indexes,
    )
    from swiftbeaver_spark.source import evidence_length
    from swiftbeaver_spark.strings_scan import _strings_spec

    if not ensure_kernel(spark):
        raise RuntimeError(
            "evidence-path scans run in the JVM kernel, which is "
            f"unavailable: {kernel_error(spark) or 'no reason recorded'}. "
            "Building it needs a JDK (javac); Engine.run(evidence_path=..., "
            "chunk_join=True) needs none."
        )
    total = evidence_length(path)
    g = granule if granule is not None else PY_SCAN_GRANULE
    patterns = compile_patterns(cfg)
    spec = "\n".join(
        [
            str(cfg.overlap),
            spec_for(patterns, MAX_HITS_PER_CHUNK, scan_gate_indexes(cfg)),
            _strings_spec(cfg) if cfg.enable_string_scan else "",
            _entropy_spec(cfg, merged=True) if cfg.enable_entropy_detection else "",
        ]
    )
    # whole entropy windows per sub-chunk: the window grid of every
    # parent survives the tiling (the 512 MiB / 16 MiB / 4096 default
    # is already aligned)
    align = cfg.entropy_window_size if cfg.enable_entropy_detection else 1
    plan = subchunk_plan(spark, total, cfg.chunk_size, min(cfg.chunk_size, g), align)
    # parent-chunk limit rules, identical to the chunk-table path: the
    # parent plan keeps chunks with start < max_bytes / chunk_id <
    # max_chunks, so sub-chunks filter on their PARENT's start/id
    if cfg.max_bytes is not None:
        plan = plan.where(
            F.floor(F.col("start") / cfg.chunk_size) * cfg.chunk_size
            < int(cfg.max_bytes)
        )
    if cfg.max_chunks is not None:
        plan = plan.where(
            F.floor(F.col("start") / cfg.chunk_size) < int(cfg.max_chunks)
        )
    # Partition count scales with CORPUS SIZE, floored at the thread
    # count (r14): a fixed defaultParallelism split makes each
    # partition's evidence share — and therefore the persisted raw
    # frame's per-partition cache block and its unroll/serialization
    # working set — grow LINEARLY with the corpus (20 GiB at a fixed
    # 32 split = 640 MiB of evidence per block, which OOMed the 8 GiB
    # heap that 10 GiB's 320 MiB blocks survived; BENCH_SCALE_r14).
    # Bounding partitions at ONE_PASS_PARTITION_BYTES of evidence
    # keeps the block size flat no matter the corpus, which is what
    # makes the per-executor memory law size-independent — the same
    # rule a 1000-executor/100 TB run needs, since corpus bytes per
    # executor grow there too.
    scan_span = min(total, cfg.max_bytes) if cfg.max_bytes is not None else total
    n_parts = max(
        spark.sparkContext.defaultParallelism,
        1,
        math.ceil(scan_span / ONE_PASS_PARTITION_BYTES),
    )
    raw = plan.repartition(n_parts).select(
        "start",
        "valid_length",
        F.call_udf(
            "sb_scan_all",
            F.lit(path),
            F.col("start").cast("long"),
            F.col("valid_length").cast("long"),
            F.lit(spec),
        ).alias("r"),
    )

    # hits: sub-chunk rows satisfy the same normalize contract as the
    # chunk-planned scan (local offsets relative to `start`, ownership
    # = valid_length), so decode+normalize are shared verbatim
    hit_cols = raw.select(
        F.floor(F.col("start") / cfg.chunk_size).alias("chunk_id"),
        "start",
        "valid_length",
        F.col("r.hits").alias("hits"),
    )
    hits = normalize_hits(_decode_packed_hits(hit_cols, F.col("hits"), patterns))
    out = {"raw": raw, "hits": hits}
    if cfg.enable_string_scan:
        out["string_spans"] = raw.select(F.inline("r.spans"))
    if cfg.enable_entropy_detection:
        ents = raw.select(F.inline("r.ents"))
        out["entropy_windows"] = ents
        out["entropy_regions"] = merge_regions(ents, cfg.entropy_window_size)
    return out
