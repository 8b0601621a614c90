"""The two workloads and their traced per-layer breakdown.

A run is: generate inputs (cached by seed, untimed) -> set up five
times (the first launches the JVM, the others restart the Spark
session in it; setup_s is the median) -> repeat the workload's
operation until `seconds` have passed and at least the workload's
minimum count ran, checking every output. The first operation gives
wall_s, the later ones steady_s. A traced run then starts a session
with the event log on, repeats the operation, drives each layer's
public function on its own over persisted inputs, and sums the event
log per job group.
"""

from __future__ import annotations

import dataclasses
import glob
import json
import os
import statistics
import subprocess
import sys
import time

from perfbench import checks, inputs, tracing

MIB = 1 << 20
IMAGE_MIB = 64
# the catalog's fixed sf0.01 test tables (seed 42, lineitem 60k rows),
# shipped with the benchmark; --seed sets the query order
CATALOG_DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
MAX_OPS = 40
N_SETUPS = 5
# back-to-back steady runs per catalog query; steady_s sums their medians
STEADY_RUNS = 3

STREAM_QUERIES = (
    "q37_stream_sessionize",
    "q47_stream_window_agg",
    "q52_stream_dedup",
    "q53_stream_interval_join",
    "q148_watermark_late_drop",
    "q149_stream_outer_join",
)


def log(msg: str) -> None:
    print(f"# {time.strftime('%H:%M:%S')} {msg}", file=sys.stderr, flush=True)


class GuardError(RuntimeError):
    """A run precondition failed; the run reports nothing."""


def batch_queries() -> list[str]:
    from bench import BENCH_QUERIES

    return list(BENCH_QUERIES)


# -- per-layer metric names (the same list on every workload) ---------------

_IMAGE_LAYER = (
    "engine.run_s",
    "fused_scan.self_s", "fused_scan.cpu_s", "fused_scan.subchunks",
    "scanner.self_s", "scanner.cpu_s", "scanner.hits",
    "source.read_s", "source.ewf_read_s",
    "carve_op.self_s", "carve_op.cpu_s", "carve_op.py_run_s", "carve_op.files", "carve_op.yield",
    "strings_scan.spans", "strings_scan.artefacts_self_s", "strings_scan.artefacts",
    "strings_scan.py_sent_mib",
    "entropy.self_s", "entropy.regions",
    "parsers.browser_self_s", "parsers.history_rows", "parsers.cookie_rows",
    "parsers.download_rows", "parsers.recovered_rows",
    "sinks.self_s", "sinks.bytes_written_mib",
)
_SETUP_LAYER = ("session.launch_s", "session.start_s", "jvm.kernel_s", "jvm.kernel_active",
                "session.warmup_s")
_RSS_LAYER = "session.peak_rss_mib"
_STREAM_LAYER = ("streaming.batches", "streaming.nodata_batches", "streaming.start_s",
                 "streaming.add_batch_s", "streaming.planning_s", "streaming.wal_s")
_SPARK_LAYER = ("spark.cpu_s", "spark.gc_s", "spark.tasks", "spark.stages", "spark.jobs",
                "spark.shuffle_write_mib", "spark.spill_mib", "spark.fetch_wait_s",
                "spark.py_start_s", "spark.py_sent_mib", "spark.py_recv_mib",
                "spark.peak_exec_mem_mib")
_QUERY_FIELDS = ("build_s", "exec_s", "stages", "shuffle_mib")


def per_layer_names() -> list[str]:
    names = list(_SETUP_LAYER) + [_RSS_LAYER] + list(_IMAGE_LAYER) + list(_STREAM_LAYER) + list(_SPARK_LAYER)
    names.append("trace.overhead_pct")
    for q in batch_queries() + list(STREAM_QUERIES):
        names += [f"{q}.{f}" for f in _QUERY_FIELDS]
    return names


def unit_of(name: str) -> str:
    tail = name.rsplit(".", 1)[1]
    if tail.endswith("_s"):
        return "s"
    if tail.endswith("_mib"):
        return "MiB"
    if tail.endswith("_pct"):
        return "%"
    if tail == "yield":
        return "ratio"
    return "count"


# -- sessions ----------------------------------------------------------------


@dataclasses.dataclass
class Paths:
    work: str  # scratch space for this run, removed at the end
    cache: str  # generated images and catalog oracle results, kept across runs


def session_conf(paths: Paths, trace: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(paths.work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={paths.work}/tmp "
        f"-Dderby.system.home={paths.work}/derby",
        "spark.eventLog.enabled": "true" if trace else "false",
    }
    if trace:
        os.makedirs(os.path.join(paths.work, "events"), exist_ok=True)
        conf["spark.eventLog.dir"] = "file://" + os.path.join(paths.work, "events")
        conf["spark.eventLog.compress"] = "false"
        # one JSON-lines file per application (Spark 4 rolls by default)
        conf["spark.eventLog.rolling.enabled"] = "false"
    return conf


def warm_up(spark) -> None:
    """Same shape for every workload: each JVM kernel family executed
    enough times to leave the interpreter (bench.py's warm-up). Python
    workers are not primed: the catalog queries use none, and the first
    image run is reported as the first run (wall_s)."""
    spark.sql(
        "SELECT count(*) FROM (SELECT"
        "  sb_minhash(concat('warm ', CAST(id AS STRING)), '9;3;1') h,"
        "  sb_simhash(concat('warm ', CAST(id AS STRING))) s,"
        "  sb_scan_bytes(CAST(concat('xabcx', CAST(id AS STRING)) AS BINARY), '10;616263') b"
        " FROM range(20000))"
    ).collect()


def setup_once(paths: Paths, trace: bool) -> tuple[object, dict]:
    from swiftbeaver_spark.jvm import ensure_kernel, vec_kernel_active
    from swiftbeaver_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", extra_conf=session_conf(paths, trace))
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    ensure_kernel(spark)
    t2 = time.perf_counter()
    if not vec_kernel_active(spark):
        raise GuardError("JVM kernel inactive: the run would measure the Python fallback")
    warm_up(spark)
    t3 = time.perf_counter()
    return spark, {"start": t1 - t0, "kernel": t2 - t1, "warmup": t3 - t2, "total": t3 - t0}


def setup(paths: Paths) -> tuple[object, dict]:
    """N_SETUPS set-ups; returns the last session and the set-up metrics."""
    times = []
    spark = None
    for i in range(N_SETUPS):
        if spark is not None:
            spark.stop()
        spark, t = setup_once(paths, trace=False)
        times.append(t)
        log(f"setup {i}: " + ", ".join(f"{k} {v:.2f}s" for k, v in t.items()))
    med = lambda k: statistics.median(t[k] for t in times)  # noqa: E731
    return spark, {
        "setup_s": med("total"),
        "session.launch_s": times[0]["start"],
        "session.start_s": med("start"),
        "jvm.kernel_s": med("kernel"),
        "jvm.kernel_active": 1,
        "session.warmup_s": med("warmup"),
    }


def stop_jvm(spark=None) -> None:
    """Stop the session (or whichever context is active), then the gateway
    JVM, and wait for it to exit."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    elif SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def timed_loop(seconds: float, op, min_ops: int) -> list:
    results, t0 = [], time.perf_counter()
    while len(results) < MAX_OPS and (
        len(results) < min_ops or time.perf_counter() - t0 < seconds
    ):
        results.append(op(len(results)))
        log(f"operation {len(results)} done at {time.perf_counter() - t0:.2f}s")
    return results


# -- image_full --------------------------------------------------------------


def image_cfg(triage: bool = False):
    """image_full: the default type table (every type, default sizes)
    with the string, entropy and SQLite page-recovery stages switched
    on (they are off by default). Triage: the default config narrowed
    to the planted exact-end media/document types."""
    from swiftbeaver_spark.config import DEFAULT_CONFIG

    if triage:
        return DEFAULT_CONFIG.with_types([t for t in inputs.EXACT_TYPES if t != "sqlite"])
    return dataclasses.replace(
        DEFAULT_CONFIG,
        enable_string_scan=True,
        enable_entropy_detection=True,
        enable_sqlite_page_recovery=True,
    )


def image_op(spark, manifest: dict, out_dir: str) -> dict:
    """Engine.run with stage caching, then write_tables(parquet); the
    output is read back and checked against the manifest."""
    from swiftbeaver_spark.engine import Engine, write_tables

    cfg = image_cfg()
    t0 = time.perf_counter()
    run = Engine(spark, cfg).run(evidence_path=manifest["raw_path"], cache_intermediates=True)
    t1 = time.perf_counter()
    write_tables(run, out_dir, "parquet")
    t2 = time.perf_counter()
    run.unpersist()
    problems = checks.check_image_run(manifest, out_dir)
    return {"wall": t2 - t0, "build": t1 - t0, "problems": problems}


def run_image(paths: Paths, seed: int, seconds: float, trace: bool) -> dict:
    t0 = time.perf_counter()
    manifest = inputs.cached_image(paths.cache, seed, IMAGE_MIB, e01=trace)
    log(f"inputs ready in {time.perf_counter() - t0:.2f}s")
    with tracing.RssSampler() as rss:
        spark, setup_m = setup(paths)
        out = os.path.join(paths.work, "out")
        ops = timed_loop(seconds, lambda i: image_op(spark, manifest, out), min_ops=2)
    result = _image_result(ops, setup_m, rss.peak_mib, manifest["size"])
    if trace:
        spark.stop()
        spark, _ = setup_once(paths, trace=True)
        result["per_layer"] = image_layers(spark, paths, manifest, result)
        result["per_layer"].update({k: setup_m[k] for k in _SETUP_LAYER})
        result["per_layer"][_RSS_LAYER] = result["peak_rss_mib"]
        result["attempted"] += result["per_layer"].pop("_attempted")
        result["failed"] += result["per_layer"].pop("_failed")
    stop_jvm(spark)
    if trace:
        result["per_layer"] = _finish_layers(paths, result["per_layer"])
    return result


def _image_result(ops: list, setup_m: dict, peak_mib: float, size: int) -> dict:
    for o in ops:
        for p in o["problems"]:
            log(f"CHECK FAILED: {p}")
    return {
        "attempted": len(ops),
        "failed": sum(1 for o in ops if o["problems"]),
        "e2e": {
            "setup_s": setup_m["setup_s"],
            "wall_s": ops[0]["wall"],
            "steady_s": statistics.median(o["wall"] for o in ops[1:]),
            # run_summary.bytes_scanned, which the check holds to the image size
            "mib_per_s": size / MIB / ops[0]["wall"],
        },
        "peak_rss_mib": peak_mib,
        "engine_build": [o["build"] for o in ops],
    }


def _read_through(path: str, block: int = 4 * MIB) -> float:
    """Single-thread sequential read of the whole media."""
    from swiftbeaver_spark.source import open_evidence

    t0 = time.perf_counter()
    reader = open_evidence(path)
    try:
        total, off = reader.length(), 0
        while off < total:
            off += len(reader.read_at(off, min(block, total - off)))
    finally:
        reader.close()
    return time.perf_counter() - t0


def image_layers(spark, paths: Paths, manifest: dict, untraced: dict) -> dict:
    from pyspark.storagelevel import StorageLevel
    from pyspark.sql import functions as F

    from swiftbeaver_spark.carve_op import carve_hits_with_evidence
    from swiftbeaver_spark.engine import Engine, write_tables
    from swiftbeaver_spark.fused_scan import scan_all_from_evidence
    from swiftbeaver_spark.parsers.browser import extract_browser_tables
    from swiftbeaver_spark.parsers.sqlite_pages import recover_history_from_pages
    from swiftbeaver_spark.scanner import scan_evidence
    from swiftbeaver_spark.strings_scan import scan_string_artefacts

    raw, e01 = manifest["raw_path"], manifest["e01_path"]
    cfg, triage = image_cfg(), image_cfg(triage=True)
    groups = tracing.JobGroups(spark)
    m: dict[str, float] = {}
    checked: dict[str, list[str]] = {}  # operation -> problems found
    mem = StorageLevel.MEMORY_AND_DISK

    # the end-to-end operation once more under tracing (the JVM is warm,
    # so it compares with the untraced steady_s): the tracing overhead
    with groups.layer("e2e"):
        traced = image_op(spark, manifest, os.path.join(paths.work, "out"))
    checked["e2e"] = traced["problems"]
    m["trace.overhead_pct"] = 100.0 * (traced["wall"] / untraced["e2e"]["steady_s"] - 1.0)
    m["engine.run_s"] = statistics.median(untraced["engine_build"])

    m["source.read_s"] = _read_through(raw)
    m["source.ewf_read_s"] = _read_through(e01)

    # one-pass fused scan (raw); its outputs feed strings/entropy below
    with groups.layer("fused_scan"):
        scans = scan_all_from_evidence(spark, raw, cfg)
        fused_raw = scans["raw"].persist(mem)
        m["fused_scan.subchunks"] = fused_raw.count()
    with groups.layer("strings_input"):
        spans = scans["string_spans"].persist(mem)
        m["strings_scan.spans"] = spans.count()
    with groups.layer("strings_scan"):
        m["strings_scan.artefacts"] = scan_string_artefacts(spans, cfg).count()
    with groups.layer("entropy"):
        m["entropy.regions"] = scans["entropy_regions"].count()
    with groups.layer("parsers_input"):
        carved_sqlite = (
            carve_hits_with_evidence(scans["hits"], raw, cfg)
            .where(F.col("file_type") == "sqlite")
            .persist(mem)
        )
        carved_sqlite.count()
    with groups.layer("parsers"):
        browser = extract_browser_tables(carved_sqlite, raw)
        history = browser["browser_history"].groupBy("browser").count().collect()
        cookies = browser["browser_cookies"].count()
        downloads = browser["browser_downloads"].count()
        # recovery only counts for DBs whose intact parse found nothing
        parsed = browser["browser_history"].select("source_file").distinct()
        recovered = (
            recover_history_from_pages(carved_sqlite, raw)
            .join(parsed, "source_file", "left_anti")
            .count()
        )
    by = {r["browser"]: r["count"] for r in history}
    m["parsers.history_rows"] = sum(by.values())
    m["parsers.cookie_rows"], m["parsers.download_rows"] = cookies, downloads
    m["parsers.recovered_rows"] = recovered
    want = manifest["browser"]
    if (by.get("chrome", 0), by.get("firefox", 0), cookies, downloads, recovered) != (
        want["history_chrome"], want["history_firefox"], want["cookies"],
        want["downloads"], want["recovered"],
    ):
        checked["parsers"] = [f"got {by}, {cookies}, {downloads}, {recovered}; planted {want}"]
    for df in (carved_sqlite, spans, fused_raw):
        df.unpersist(blocking=True)

    # carve-only triage of the E01 container: multi-pass signature scan,
    # then the positioned-read carve over the persisted hits
    with groups.layer("scanner"):
        hits = scan_evidence(spark, e01, triage).persist(mem)
        m["scanner.hits"] = hits.count()
    with groups.layer("carve_op"):
        carved = carve_hits_with_evidence(hits, e01, triage).select(
            "global_start", "size", "sha256"
        ).toPandas()
    hits.unpersist(blocking=True)
    m["carve_op.files"] = len(carved)
    m["carve_op.yield"] = len(carved) / max(m["scanner.hits"], 1)
    checked["carve_op"] = checks.check_carved(
        manifest, carved, types=set(inputs.EXACT_TYPES) - {"sqlite"}
    )

    # sinks over materialised stage caches
    run = Engine(spark, cfg).run(evidence_path=raw, cache_intermediates=True)
    with groups.layer("sinks_input"):
        for df in run.persisted:
            df.count()
    sink_dir = os.path.join(paths.work, "sink")
    with groups.layer("sinks"):
        write_tables(run, sink_dir, "parquet")
    run.unpersist()
    checked["sinks"] = checks.check_image_run(manifest, sink_dir)
    m["sinks.bytes_written_mib"] = _du(sink_dir) / MIB

    walls = groups.walls
    m["fused_scan.self_s"] = walls["fused_scan"]
    m["strings_scan.artefacts_self_s"] = walls["strings_scan"]
    m["entropy.self_s"] = walls["entropy"]
    m["parsers.browser_self_s"] = walls["parsers"]
    m["scanner.self_s"] = walls["scanner"]
    m["carve_op.self_s"] = walls["carve_op"]
    m["sinks.self_s"] = walls["sinks"]
    for op, problems in checked.items():
        for p in problems:
            log(f"CHECK FAILED (traced {op}): {p}")
    m["_attempted"] = 4  # the traced run, parsers, the E01 carve, sinks
    m["_failed"] = sum(1 for problems in checked.values() if problems)
    return m


def _du(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def _finish_layers(paths: Paths, m: dict) -> dict:
    """Fill the metrics that need the closed event log, then report every
    per-layer name (0 where the workload does not exercise the layer)."""
    groups = tracing.summarize_event_log(os.path.join(paths.work, "events"))
    get = lambda name: groups.get(name) or tracing.empty_group()  # noqa: E731
    if "_query_groups" in m:
        # spark.* per pass over the batch queries
        batch = [g for q, gs in m["_query_groups"].items() if q not in STREAM_QUERIES for g in gs]
        spark_total = tracing.total_of(groups, set(batch))
        for q, gs in m.pop("_query_groups").items():
            g = tracing.total_of(groups, gs)
            m[f"{q}.stages"] = len(g["stage_ids"])
            m[f"{q}.shuffle_mib"] = g["shuffle_write_b"] / MIB
    else:
        spark_total = get("e2e")
        m["fused_scan.cpu_s"] = get("fused_scan")["cpu_ns"] / 1e9
        m["scanner.cpu_s"] = get("scanner")["cpu_ns"] / 1e9
        m["carve_op.cpu_s"] = get("carve_op")["cpu_ns"] / 1e9
        m["carve_op.py_run_s"] = get("carve_op")["py_run_ms"] / 1e3
        m["strings_scan.py_sent_mib"] = get("strings_scan")["py_sent_b"] / MIB
    m.update(tracing.spark_metrics(spark_total))
    return {name: m.get(name, 0) for name in per_layer_names()}


# -- catalog_batch -----------------------------------------------------------


def drive(df) -> tuple[int, int]:
    """Force full execution: row count plus a hash over every column
    (bench.py's drive), so no column or subtree can be pruned."""
    from pyspark.sql import functions as F

    n, h = df.select(F.count(F.lit(1)), F.bit_xor(F.xxhash64(*df.columns))).collect()[0]
    return int(n), h


def _write_json(path: str, obj) -> None:
    with open(path + ".tmp", "w") as fh:
        json.dump(obj, fh)
    os.replace(path + ".tmp", path)


def table_bytes(data: str) -> int:
    return sum(os.path.getsize(p) for p in glob.glob(os.path.join(data, "*.parquet")))


def catalog_inputs(paths: Paths, seed: int) -> dict:
    """Oracle pins for the fixed tables (computed once per oracle SQL
    text, cached), the oracle-checked results on record, and the seed's
    query order."""
    import hashlib

    import numpy as np

    import __spark_entry__ as entrymod

    names = batch_queries() + list(STREAM_QUERIES)
    sql = entrymod.oracle_sql()
    key = hashlib.sha256(json.dumps([sql[n] for n in names]).encode()).hexdigest()[:16]
    d = os.path.join(paths.cache, f"catalog-sf0.01-{key}")
    os.makedirs(d, exist_ok=True)
    pin_path = os.path.join(d, "oracle_pins.json")
    if not os.path.exists(pin_path):
        _write_json(pin_path, checks.oracle_pins(CATALOG_DATA, names))
    with open(pin_path) as fh:
        pins = {k: tuple(v) for k, v in json.load(fh).items()}
    # (rows, xxhash) drive results already matched against the oracle; a
    # pass collects and compares a query again only when its drive
    # result differs from every recorded one
    verified_path = os.path.join(d, "verified_results.json")
    verified = {}
    if os.path.exists(verified_path):
        with open(verified_path) as fh:
            verified = json.load(fh)
    order = list(np.random.default_rng([seed, 4]).permutation(batch_queries()))
    return {"pins": pins, "order": order, "verified": verified, "verified_path": verified_path}


def catalog_pass(spark, spec: dict, groups=None) -> dict:
    """Each query in the seed's order: a first run, then STEADY_RUNS
    steady runs (bench.py's drive has one; the median of three keeps a
    host hiccup out of steady_s); with `groups`, build and execution of
    the first run are tagged separately. An execution passes when its
    (rows, xxhash) result is on record as oracle-checked. A result not
    yet on record, with the oracle's row count, is collected once more
    after the timed runs and compared with the oracle in the
    contract's form."""
    import contextlib

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    tag = groups.layer if groups else (lambda name: contextlib.nullcontext())
    first, steady, runs = {}, {}, {}
    for name in spec["order"]:
        t0 = time.perf_counter()
        with tag(f"{name}.build"):
            df = qs[name](spark, CATALOG_DATA)
        with tag(f"{name}.exec"):
            got = drive(df)
        first[name] = time.perf_counter() - t0
        results, walls = [got], []
        for _ in range(STEADY_RUNS):
            t0 = time.perf_counter()
            with tag("steady"):
                results.append(drive(qs[name](spark, CATALOG_DATA)))
            walls.append(time.perf_counter() - t0)
        steady[name] = statistics.median(walls)
        runs[name] = results
    # after the timed runs, so the collection cannot disturb them
    problems, failed = [], 0
    for name, results in runs.items():
        pin = spec["pins"][name]
        known = spec["verified"].setdefault(name, [])
        for got in dict.fromkeys(results):
            if got[0] == pin[0] and list(got) not in known:
                bad = checks.check_query(name, qs[name](spark, CATALOG_DATA).toPandas(), pin)
                problems += bad
                if not bad:
                    known.append(list(got))
        for i, got in enumerate(results):
            if list(got) not in known:
                failed += 1
                problems.append(f"{name} run {i}: {got}, oracle has {pin[0]} rows")
    return {"first": first, "steady": steady, "attempted": (1 + STEADY_RUNS) * len(runs),
            "failed": failed, "problems": problems}


def run_catalog(paths: Paths, seed: int, seconds: float, trace: bool) -> dict:
    t0 = time.perf_counter()
    spec = catalog_inputs(paths, seed)
    log(f"inputs ready in {time.perf_counter() - t0:.2f}s")
    with tracing.RssSampler() as rss:
        spark, setup_m = setup(paths)
        passes = timed_loop(seconds, lambda i: catalog_pass(spark, spec), min_ops=1)
    for p in passes:
        for problem in p["problems"]:
            log(f"CHECK FAILED: {problem}")
    steady = [sum(p["steady"].values()) for p in passes]
    wall = sum(passes[0]["first"].values())
    result = {
        "attempted": sum(p["attempted"] for p in passes),
        "failed": sum(p["failed"] for p in passes),
        "e2e": {
            "setup_s": setup_m["setup_s"],
            "wall_s": wall,
            "steady_s": statistics.median(steady),
            "mib_per_s": table_bytes(CATALOG_DATA) / MIB / wall,
        },
        "peak_rss_mib": rss.peak_mib,
    }
    if trace:
        spark.stop()
        spark, _ = setup_once(paths, trace=True)
        layers, traced = catalog_layers(spark, spec, result)
        for problem in traced["problems"]:
            log(f"CHECK FAILED (traced): {problem}")
        layers.update({k: setup_m[k] for k in _SETUP_LAYER})
        layers[_RSS_LAYER] = result["peak_rss_mib"]
        result["per_layer"] = layers
        result["attempted"] += traced["attempted"]
        result["failed"] += traced["failed"]
    stop_jvm(spark)
    if trace:
        result["per_layer"] = _finish_layers(paths, result["per_layer"])
    if result["failed"] == 0:
        _write_json(spec["verified_path"], spec["verified"])
    return result


def catalog_layers(spark, spec: dict, untraced: dict) -> tuple[dict, dict]:
    """A traced pass over the batch queries, then each stream query
    once; returns the metrics and the executions' check record."""
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    groups = tracing.JobGroups(spark)
    listener = tracing.make_stream_listener()
    spark.streams.addListener(listener)
    m: dict = {}
    traced = catalog_pass(spark, spec, groups)
    m["trace.overhead_pct"] = 100.0 * (
        sum(traced["steady"].values()) / untraced["e2e"]["steady_s"] - 1.0
    )
    stream_runs: dict[str, set] = {}
    for name in STREAM_QUERIES:
        seen = set(listener.started)
        with groups.layer(f"{name}.build"):
            df = qs[name](spark, CATALOG_DATA)
        with groups.layer(f"{name}.exec"):
            rows = drive(df)[0]
        traced["attempted"] += 1
        if rows != spec["pins"][name][0]:
            traced["failed"] += 1
            traced["problems"].append(f"{name}: {rows} rows, oracle {spec['pins'][name][0]}")
        time.sleep(0.2)  # let the listener bus deliver the start event
        stream_runs[name] = set(listener.started) - seen
    spark.streams.removeListener(listener)
    m.update(tracing.stream_metrics(listener))
    for name in list(spec["order"]) + list(STREAM_QUERIES):
        m[f"{name}.build_s"] = groups.walls[f"{name}.build"]
        m[f"{name}.exec_s"] = groups.walls[f"{name}.exec"]
    m["_query_groups"] = {
        name: {f"{name}.build", f"{name}.exec"} | stream_runs.get(name, set())
        for name in list(spec["order"]) + list(STREAM_QUERIES)
    }
    return m, traced
