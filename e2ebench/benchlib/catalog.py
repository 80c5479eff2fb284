"""Workload `catalog_heavy`: declared catalog queries (`SparkEntry.queries`)
at sf0.1 in one JVM, after `Catalog.sharedFrames` is persisted, one client
running queries back to back.

The first pass in a fresh session writes every result, and each is checked
against `SparkEntry.oracleSql` run in DuckDB, under the strict rules of
`tools/driver_check.py`. Steady passes then run in the same session. The
seed permutes the query order; the fixtures are fixed.
"""
import hashlib
import importlib.util
import json
import random
import re
import shutil
from statistics import median

import duckdb
import pandas as pd

from . import proc, stats

FIXTURES = proc.BENCH / "fixtures"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# The catalog queries that run each CLI command's pipeline over the
# catalog's synthetic transactions: the same graft.tax calls, reading the
# persisted shared lineages instead of a CSV. (The report's detail export,
# op_txn_details, is left out: checking its one row per transaction would
# dominate the run; tax_cli checks the exported detail rows.)
COMMAND_QUERIES = {
    "compliance": ["op_nexus_check", "op_alerts"],
    "refund": ["op_refund_summary", "op_refund_claims"],
    "report": ["op_tax_report", "op_text_report", "op_refund_report"],
}
# Execution-bound queries of graft.ops (graph), ANN evaluation,
# graft.streaming and graft.text; their exec time is a per-layer metric.
HEAVY = ["op_triangles", "op_ndcg_ivf", "op_stream_neardup", "op_substr_scrub"]
COMMANDS = [q for qs in COMMAND_QUERIES.values() for q in qs]

# sf0.1: shuffle, the cache and the operators' own execution dominate
SF = "sf0.1"
SETUP_REPS = 2


def run(spec, seed, seconds, trace):
    work = proc.WORK / "catalog_heavy"
    shutil.rmtree(work, ignore_errors=True)
    (work / "check").mkdir(parents=True)
    names = HEAVY + COMMANDS
    random.Random(seed).shuffle(names)
    sf_dir = FIXTURES / SF
    res = work / "result.json"
    code, wall, rss = proc.java(spec, "graftbench.Harness", [
        "catalog", "--dir", str(sf_dir), "--queries", ",".join(names),
        "--cpus", proc.cpus(), "--trace", str(trace), "--setup-reps", str(SETUP_REPS),
        "--seconds", str(seconds), "--check-dir", str(work / "check"), "--result", str(res)],
        work / "harness.log", 175)
    if code != 0 or not res.is_file():
        tail = (work / "harness.log").read_text(errors="replace")[-2000:]
        raise SystemExit(f"harness exited {code}:\n{tail}")
    r = json.loads(res.read_text())
    failures = list(r["failures"]) + check(work / "check", sf_dir, names)
    first, _warmup, *steady = r["passes"]
    attempted = len(names) * len(r["passes"])

    lat = {}
    for p in steady:
        for op in p["ops"]:
            lat.setdefault(op["q"], []).append(op["s"])
    ops = [v for vs in lat.values() for v in vs]
    per_cmd = {c: median([sum(op["s"] for op in p["ops"] if op["q"] in qs)
                                for p in steady])
               for c, qs in COMMAND_QUERIES.items()}
    txn_rows = r["setups"][-1]["txn_rows"]
    metrics = {
        "setup_s": median([s["setup_s"] for s in r["setups"]]),
        "first_pass_s": first["wall_s"],
        "steady_pass_s": median([p["wall_s"] for p in steady]),
        **{f"{c}_s": v for c, v in per_cmd.items()},
        "txns_per_s": txn_rows * 3 / sum(per_cmd.values()),
        "op_p50_s": median(ops),
    }
    record = {
        "input": {"fixtures": str(sf_dir.relative_to(proc.ROOT)), "queries": names,
                  "fixture_bytes": sum(f.stat().st_size for f in sf_dir.iterdir()),
                  "txn_rows": txn_rows},
        "setups": r["setups"], "cache_mb": r["cache_mb"],
        "jvm_wall_s": wall, "peak_rss_mb": rss,
        "passes": [{"kind": p["kind"], "traced": p["traced"], "wall_s": p["wall_s"]}
                   for p in r["passes"]],
        "per_query_median_s": {q: median(v) for q, v in lat.items()},
        "samples": {"setup_s": len(r["setups"]), "steady_pass_s": len(steady),
                    "op_p50_s": len(ops), "op_tail_s": stats.tail_summary(ops)},
    }
    layers = per_layer(r, steady, rss) if trace else None
    return metrics, layers, attempted, failures, record


def per_layer(r, steady, rss):
    """Per-layer metrics of a traced run: sums over the traced steady passes
    (their median), codegen over every traced pass, exec time per heavy
    query from the first traced steady pass."""
    traced = [p for p in steady if p["traced"]]
    plain = [p for p in steady if not p["traced"]]

    def med(f):
        return median([f(p) for p in traced])

    def total(key):
        return med(lambda p: sum(op[key] for op in p["ops"]))

    exec_s = {op["q"]: op["exec_s"] for op in traced[0]["ops"]}
    all_traced = [p for p in r["passes"] if p["traced"]]
    return {
        "catalog.build_s": total("build_s"),
        "catalyst.analysis_s": total("analysis_s"),
        "catalyst.optimization_s": total("optimization_s"),
        "catalyst.planning_s": total("planning_s"),
        "codegen.compile_s": sum(p["counters"]["codegen_compile_s"] for p in all_traced),
        "codegen.compiles": sum(p["counters"]["codegen_compiles"] for p in all_traced),
        "exec.s": total("exec_s"),
        **{f"exec.{k}": med(lambda p, k=k: p["counters"][k])
           for k in ("jobs", "tasks", "shuffle_mb", "spill_mb")},
        **{f"exec.{q}.s": exec_s.get(q, 0.0) for q in HEAVY},
        "jvm.peak_rss_mb": rss,
        "cache.persist_s": median([s["persist_s"] for s in r["setups"]]),
        "cache.mb": r["cache_mb"],
        "cache.disk_mb": r["cache_disk_mb"],
        "cache.scans": total("cache_scans"),
        "trace.overhead_s": (med(lambda p: p["wall_s"])
                             - median([p["wall_s"] for p in plain])) if plain else 0.0,
    }


# ---- output gate -----------------------------------------------------------

def _strict_rules():
    """The strict comparison rules of `tools/driver_check.py`."""
    spec = importlib.util.spec_from_file_location(
        "driver_check", proc.ROOT / "tools" / "driver_check.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _oracle_sql(sql):
    # OracleSql reads the tax dimension fixtures from an absolute repo path;
    # point it at this checkout's copy
    taxdata = proc.ROOT / "src" / "test" / "resources" / "taxdata"
    return re.sub(r"'[^']*/src/test/resources/taxdata", f"'{taxdata}", sql)


def digest(rules, df):
    """Sorted column names, row count and a hash of the rows as the strict
    rules normalize them."""
    cols, rows = rules.frame_key(df)
    h = hashlib.sha256()
    for r in rows:
        h.update("\x1f".join(r).encode() + b"\x1e")
    return {"cols": cols, "n": len(rows), "rows_sha": h.hexdigest()}


def expected(rules, sf_dir, name, sql):
    """DuckDB's digest of one query, cached per fixture and SQL text."""
    key = hashlib.sha256(f"{sf_dir.name}\0{name}\0{sql}".encode()).hexdigest()[:24]
    cache = proc.WORK / "oracle" / f"{key}.json"
    if cache.is_file():
        return json.loads(cache.read_text())
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    du = con.sql(sql).df()
    doc = {**digest(rules, du), "warns": rules.dtype_report(du, "duck")}
    cache.parent.mkdir(parents=True, exist_ok=True)
    cache.write_text(json.dumps(doc))
    return doc


def check(check_dir, sf_dir, names):
    rules = _strict_rules()
    oracle_file = check_dir / "oracle_sql.json"
    oracle = json.loads(oracle_file.read_text()) if oracle_file.is_file() else {}
    bad = []

    def fail(name, error, message):
        # the checked results are the first pass's
        bad.append({"op": name, "pass": 0, "stage": "check", "error": error,
                    "message": message})

    for name in names:
        if not (check_dir / name).is_dir():
            continue  # the query itself failed and is already recorded
        if name not in oracle:
            fail(name, "NoOracle", "no SparkEntry.oracleSql entry")
            continue
        try:
            sp = pd.read_parquet(check_dir / name)
            want = expected(rules, sf_dir, name, _oracle_sql(oracle[name]))
        except Exception as e:  # noqa: BLE001 - every cause is reported
            fail(name, type(e).__name__, str(e)[:2000])
            continue
        got = digest(rules, sp)
        warns = rules.dtype_report(sp, "spark") + want["warns"]
        if [c.lower() for c in got["cols"]] != [c.lower() for c in want["cols"]]:
            fail(name, "SchemaMismatch", f"spark={got['cols']} oracle={want['cols']}")
        elif got["rows_sha"] != want["rows_sha"]:
            fail(name, "WrongOutput", f"{got['n']} rows differ from the oracle's {want['n']}")
        elif warns:
            fail(name, "UnsafeDtype", "; ".join(warns))
    return bad
