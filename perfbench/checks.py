"""Output checks. Each returns a list of problems (empty = pass); the
benchmark counts an operation as failed when its list is non-empty.

Image runs are read back from the parquet that `write_tables` wrote
(pyarrow, no Spark job), so the check sees exactly what a user of the
sinks would see. Catalog queries are checked against DuckDB running the
catalog's own oracle SQL over the same fixed tables.
"""

from __future__ import annotations

import glob
import hashlib
import os

import pandas as pd

MIB = 1 << 20


def read_table(out_dir: str, name: str) -> pd.DataFrame:
    import pyarrow.parquet as pq

    files = sorted(glob.glob(os.path.join(out_dir, name, "*.parquet")))
    if not files:
        return pd.DataFrame()
    return pd.concat([pq.read_table(f).to_pandas() for f in files], ignore_index=True)


def check_carved(manifest: dict, carved: pd.DataFrame, types=None) -> list[str]:
    """Every planted file of an enabled type comes back at its offset with
    its exact size and sha256."""
    got = set()
    if len(carved):
        got = set(zip(carved["global_start"], carved["size"], carved["sha256"]))
    missing = [
        f for f in manifest["files"]
        if (types is None or f["type"] in types)
        and (f["offset"], f["size"], f["sha256"]) not in got
    ]
    return [f"carve missing {len(missing)} planted files, e.g. {missing[:2]}"] if missing else []


def check_artefacts(manifest: dict, arts: pd.DataFrame) -> list[str]:
    """Inside text stripes, outside planted files, the extracted artefacts
    are exactly the planted ones (kind, content, offset). Random bytes
    and plant bytes may legitimately yield more, so those are not
    compared."""
    stripes = set(manifest["text_stripes"])
    planted = {(a["kind"], a["content"], a["global_start"]) for a in manifest["artefacts"]}
    got = set()
    if len(arts):
        start = arts["global_start"]
        keep = (start // MIB).isin(stripes)
        for f in manifest["files"]:
            keep &= ~start.between(f["offset"], f["offset"] + f["size"] - 1)
        in_text = arts[keep]
        got = set(zip(in_text["artefact_kind"], in_text["content"], in_text["global_start"]))
    problems = []
    if planted - got:
        problems.append(f"{len(planted - got)} planted artefacts missing, e.g. {sorted(planted - got)[:2]}")
    if got - planted:
        problems.append(f"{len(got - planted)} unexpected artefacts in text stripes, e.g. {sorted(got - planted)[:2]}")
    return problems


def browser_counts(history: pd.DataFrame, cookies: pd.DataFrame, downloads: pd.DataFrame) -> dict:
    by = history["browser"].value_counts().to_dict() if len(history) else {}
    return {
        "history_chrome": int(by.get("chrome", 0)),
        "history_firefox": int(by.get("firefox", 0)),
        "recovered": int(by.get("sqlite_page", 0)),
        "cookies": len(cookies),
        "downloads": len(downloads),
    }


def check_browser(manifest: dict, counts: dict) -> list[str]:
    want = manifest["browser"]
    bad = {k: (counts.get(k), v) for k, v in want.items() if counts.get(k) != v}
    return [f"browser rows (got, planted) differ: {bad}"] if bad else []


def check_image_run(manifest: dict, out_dir: str) -> list[str]:
    """All checks over one `write_tables` output directory."""
    problems = check_carved(manifest, read_table(out_dir, "carved_files"))
    problems += check_artefacts(manifest, read_table(out_dir, "string_artefacts"))
    counts = browser_counts(
        read_table(out_dir, "browser_history"),
        read_table(out_dir, "browser_cookies"),
        read_table(out_dir, "browser_downloads"),
    )
    problems += check_browser(manifest, counts)
    summary = read_table(out_dir, "run_summary")
    if len(summary) != 1 or int(summary["bytes_scanned"].iloc[0]) != manifest["size"]:
        problems.append(f"run_summary bytes_scanned != {manifest['size']}: {summary.to_dict('records')}")
    return problems


# -- catalog -----------------------------------------------------------------


def canon(df: pd.DataFrame) -> str:
    """The catalog contract's comparison form (as tools/drive_contract.py
    replicates it): columns sorted by name, rows sorted over all
    columns, cells stringified, sha256 of the lines."""
    df = df[sorted(df.columns)]
    df = df.sort_values(list(df.columns)).reset_index(drop=True)
    body = "\n".join("|".join(str(v) for v in row) for row in df.itertuples(index=False))
    return hashlib.sha256(body.encode()).hexdigest()


def oracle_pins(tables_dir: str, names: list[str]) -> dict[str, tuple[int, str]]:
    """(rows, canon hash) of each query's DuckDB oracle over `tables_dir`."""
    import duckdb

    import __spark_entry__ as entrymod

    sql = entrymod.oracle_sql()
    con = duckdb.connect()
    try:
        for path in sorted(glob.glob(os.path.join(tables_dir, "*.parquet"))):
            table = os.path.basename(path)[: -len(".parquet")]
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
        pins = {}
        for name in names:
            odf = con.execute(sql[name]).df()
            pins[name] = (len(odf), canon(odf))
        return pins
    finally:
        con.close()


def check_query(name: str, got: pd.DataFrame, pin: tuple[int, str]) -> list[str]:
    rows, digest = pin
    if len(got) != rows:
        return [f"{name}: {len(got)} rows, oracle {rows}"]
    if canon(got) != digest:
        return [f"{name}: rows match the oracle's count but not its contents"]
    return []
