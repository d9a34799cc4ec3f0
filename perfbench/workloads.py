"""The two workloads: what each runs, and how its outputs are checked.

A workload is a fixed list of ops run one at a time (one client, closed
loop).  An op fails when it raises or its output check fails; checks run
outside every timed section.
"""

from __future__ import annotations

import contextlib
import datetime
import decimal
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

from gen import TABLES

CORPUS = [
    "q20_dedup_minhash", "q36_simhash_pairs", "q159_cluster_keeper",
    "q178_semantic_dedup", "q199_dedup_report", "q200_lm_surprisal", "q233_ivf_pq",
]
QUERY_WORKLOADS = {"corpus_curation": CORPUS}
WORKLOADS = ["migrate", *QUERY_WORKLOADS]

# Output row counts on the generated inputs.  Keys are permuted per seed
# but text, vectors and row counts are not, so every seed must stay within
# ROW_TOLERANCE of these; a drift means the generator changed the workload.
EXPECTED_ROWS = {
    "q20_dedup_minhash": 56, "q36_simhash_pairs": 346, "q159_cluster_keeper": 1000,
    "q178_semantic_dedup": 1000, "q199_dedup_report": 73, "q200_lm_surprisal": 20,
    "q233_ivf_pq": 10,
}
ROW_TOLERANCE = 0.05

_FROM = re.compile(r"\b(?:from|join)\s+(" + "|".join(TABLES) + r")\b", re.I)


def input_tables(oracle_sql: str) -> set[str]:
    """The tables a query consumes, read off its oracle SQL."""
    return {m.lower() for m in _FROM.findall(oracle_sql)}


# -- output comparison (mirrors the oracle test's row-multiset compare) -------

def _norm_cell(v):
    if isinstance(v, decimal.Decimal):
        return ("dec", str(v))
    if isinstance(v, float):
        return ("f", repr(v))
    if isinstance(v, datetime.datetime):
        return ("ts", v.replace(tzinfo=None).isoformat())
    if isinstance(v, bool):
        return ("b", v)
    return v


def fingerprint(columns: list[str], rows) -> dict:
    """Column set, row count and a digest of the order-insensitive row
    multiset, with columns sorted by name and values normalized the way
    the oracle test normalizes them."""
    cols = [c.lower() for c in columns]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    ms = sorted((tuple(_norm_cell(r[i]) for i in order) for r in rows), key=repr)
    return {
        "columns": sorted(cols),
        "rows": len(ms),
        "digest": hashlib.sha256(repr(ms).encode()).hexdigest(),
    }


def arrow_fingerprint(table) -> dict:
    cols = [c.to_pylist() for c in table.columns]
    return fingerprint(table.column_names, zip(*cols) if cols else [])


def _load_cache(data_dir: str) -> dict:
    cache = os.path.join(data_dir, "oracle.json")
    if not os.path.exists(cache):
        return {}
    with open(cache) as fh:
        return json.load(fh)


def oracle_fingerprints(data_dir: str, names: list[str]) -> dict:
    """DuckDB oracle results on the generated inputs, cached per seed.
    Missing ones are computed in a child process, so neither sparksync nor
    DuckDB is loaded into the benchmark process before its set-up is timed."""
    known = _load_cache(data_dir)
    if any(q not in known for q in names):
        subprocess.run([sys.executable, os.path.abspath(__file__), data_dir, *names],
                       check=True)
        known = _load_cache(data_dir)
    return {q: known[q] for q in names}


def _compute_oracles(data_dir: str, names: list[str]) -> None:
    from sparksync.queries import ORACLES

    known = _load_cache(data_dir)
    missing = [q for q in names if q not in known]
    if missing:
        import duckdb

        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(f"create view {t} as select * from "
                            f"'{os.path.join(data_dir, t)}.parquet'")
            for q in missing:
                res = con.execute(ORACLES[q])
                known[q] = fingerprint([d[0] for d in res.description], res.fetchall())
                known[q]["tables"] = sorted(input_tables(ORACLES[q]))
        finally:
            con.close()
        cache = os.path.join(data_dir, "oracle.json")
        with open(cache + ".tmp", "w") as fh:
            json.dump(known, fh)
        os.replace(cache + ".tmp", cache)


def row_drift(oracles: dict) -> list[str]:
    out = []
    for q, fp in oracles.items():
        want = EXPECTED_ROWS[q]
        if abs(fp["rows"] - want) > ROW_TOLERANCE * want:
            out.append(f"{q}: {fp['rows']} output rows, expected ~{want}")
    return out


# -- running ------------------------------------------------------------------

@contextlib.contextmanager
def nospan(name, **attrs):
    yield {}


def run_queries(spark, data_dir: str, names: list[str], tracer=None) -> dict:
    """Build and collect each query once, in order.  Returns per-query
    Arrow output or the exception it raised."""
    from sparksync.queries import QUERIES

    span = tracer.span if tracer else nospan
    out, op_s, leaked = {}, {}, []
    for q in names:
        t0 = time.perf_counter()
        try:
            with span("queries.build", query=q):
                df = QUERIES[q](spark, data_dir)
            with span("exec.action", query=q):
                out[q] = df.toArrow()
        except Exception as e:  # noqa: BLE001 — a failed op is counted, not fatal
            out[q] = e
        op_s[q] = time.perf_counter() - t0
        if tracer:
            leaked.append(tracer.stored_bytes())
    return {"outputs": out, "op_s": op_s, "leaked_bytes": leaked}


def check_queries(result: dict, oracles: dict) -> dict[str, str | None]:
    """Per query: None when the output matches its oracle, else why not."""
    verdict = {}
    for q, out in result["outputs"].items():
        if isinstance(out, Exception):
            verdict[q] = f"raised {type(out).__name__}: {str(out)[:200]}"
            continue
        got, want = arrow_fingerprint(out), oracles[q]
        if got["columns"] != want["columns"]:
            verdict[q] = f"columns {got['columns']} != oracle {want['columns']}"
        elif got["rows"] != want["rows"]:
            verdict[q] = f"{got['rows']} rows != oracle {want['rows']}"
        elif got["digest"] != want["digest"]:
            verdict[q] = "values differ from the oracle"
        else:
            verdict[q] = None
    return verdict


def run_migrate(spark, data_dir: str, work_dir: str, max_parallel: int) -> dict:
    """SyncJob over every table, one public phase call at a time:
    plan, DDL into a script, data to parquet, objects into the same
    script, checksum compare."""
    from sparksync.sink import SqlScriptSink
    from sparksync.sync import SyncJob

    job = SyncJob(spark, data_dir, os.path.join(work_dir, "sink"), max_parallel=max_parallel)
    tables = job.plan()
    with SqlScriptSink(os.path.join(work_dir, "ddl.sql")) as script:
        ddl = job.ddl_phase(tables, script)
        data = job.data_phase(tables)
        objects = job.objects_phase(tables, script)
    compare = job.compare_phase(tables, checksum=True)
    return {"tables": tables, "ddl": ddl, "data": data, "objects": objects,
            "compare": compare}


def prepare_migrate(work_dir: str) -> None:
    shutil.rmtree(work_dir, ignore_errors=True)
    os.makedirs(work_dir)


def check_migrate(result: dict, source_rows: dict) -> dict[str, str | None]:
    """Per table: None when it loaded, its checksums agree and the
    destination holds exactly the generated row count."""
    by_table = {c.table: c for c in result["compare"]}
    data_errors = {e.split(":", 1)[0]: e for e in result["data"].errors}
    verdict = {}
    for t in TABLES:
        c = by_table.get(t)
        if t in data_errors:
            verdict[t] = f"load failed: {data_errors[t]}"
        elif c is None:
            verdict[t] = "not planned"
        elif not c.is_ok:
            verdict[t] = f"compare failed: {c}"
        elif c.dst_count != source_rows[t]:
            verdict[t] = f"{c.dst_count} rows at the sink, generated {source_rows[t]}"
        else:
            verdict[t] = None
    return verdict


def dir_size(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files


if __name__ == "__main__":
    # child of oracle_fingerprints: argv = data_dir, query names; the
    # working directory is the repository root
    sys.path.insert(0, os.getcwd())
    _compute_oracles(sys.argv[1], sys.argv[2:])
