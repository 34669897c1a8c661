"""Correctness checks and per-layer figures for one run.

Every expected result comes from a computation made apart from graft:
  wod_posts      wodref.py (plain Python, itself checked against the
                 reference golden), and the keyed sink's own contract.
  corpus_build   DuckDB running SparkEntry.oracleSql on the same tables,
                 compared with tools/compare_oracle.py's full-precision
                 canonical form.
  stream_ingest  first-writer and last-writer rows per key computed from
                 the generated pages, and DuckDB oracles for the lanes.

The wod_posts and stream_ingest expectations are cached beside the inputs;
`python3 perfbench/checks.py <workload> <seed>` recomputes them from
scratch and compares them with the cache.
"""
import collections
import glob
import hashlib
import importlib.util
import json
import os
import statistics
import sys
import tempfile

import duckdb
import pyarrow.parquet as pq

import inputs
import wodref

ROOT = os.getcwd()
MIB = 1024.0 * 1024.0
PAGE_COLUMNS = ["post_id", "version", "title", "body", "page"]


def _canon():
    spec = importlib.util.spec_from_file_location(
        "compare_oracle", os.path.join(ROOT, "tools", "compare_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.canon


def inputs_dir(workload, seed):
    """Where a seed's inputs are cached; keyed also by the code that makes
    them and their expected results."""
    h = hashlib.sha256()
    for name in ("inputs.py", "checks.py", "wodref.py"):
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), name), "rb") as f:
            h.update(f.read())
    return os.path.join(ROOT, ".bench_build", "perfbench", "inputs",
                        f"{workload}-{seed}-{h.hexdigest()[:12]}")


def _expected(workload, seed, data):
    if workload == "wod_posts":
        return {"cleaned": sorted(wodref.cleaned_posts(inputs.posts(seed)))}
    if workload == "stream_ingest":
        first, last = {}, {}
        for page in inputs.pages(seed):
            for r in page:
                row = [r[c] for c in PAGE_COLUMNS]
                first.setdefault(r["post_id"], row)
                # pages arrive in order, so at an equal version the later page wins
                if r["post_id"] not in last or r["version"] >= last[r["post_id"]][1]:
                    last[r["post_id"]] = row
        return {"idempotent": sorted(first.values()), "merge": sorted(last.values())}
    return {}


def write_expected(workload, seed, data):
    with open(os.path.join(data, "expected.json"), "w") as f:
        json.dump(_expected(workload, seed, data), f)


def _load_expected(data):
    with open(os.path.join(data, "expected.json")) as f:
        return json.load(f)


def _parquet_rows(path, columns):
    t = pq.read_table(path)
    return sorted([list(r) for r in zip(*(t.column(c).to_pylist() for c in columns))])


def _oracle_checks(con, res):
    canon = _canon()
    bad = []
    for lane, sql in sorted(res["oracle_sql"].items()):
        srel = con.sql(f"SELECT * FROM read_parquet('{res['lanes_dir']}/{lane}/*.parquet')")
        sc, sr = canon(srel.fetchall(), srel.columns)
        orel = con.sql(sql)
        oc, orows = canon(orel.fetchall(), orel.columns)
        if (sc, sr) != (oc, orows):
            bad.append(f"{lane}: spark {len(sr)} rows {sc} != oracle {len(orows)} rows {oc}")
    return len(res["oracle_sql"]), bad


def _duckdb(data):
    con = duckdb.connect()
    con.execute("SET threads = 2")
    for t in ("documents", "embeddings", "events"):
        p = os.path.join(data, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def run(workload, data, res):
    """Returns (number of checks, descriptions of the failed ones)."""
    exp = _load_expected(data)
    bad, n = [], 0
    if workload == "wod_posts":
        with open(os.path.join(ROOT, "src", "test", "resources", "golden_december.json")) as f:
            golden = json.load(f)
        n += 1
        bad += [f"wodref: {m}" for m in wodref.golden_mismatches(golden)]
        want = collections.Counter(tuple(r) for r in exp["cleaned"])
        got = collections.Counter()
        for part in glob.glob(os.path.join(res["jsonl"], "part-*")):
            with open(part) as f:
                for line in f:
                    r = json.loads(line)
                    got[tuple(r.get(c) for c in wodref.CLEANED_COLUMNS)] += 1
        n += 1
        if got != want:
            bad.append(f"JsonLines cleaned records: {sum((got - want).values())} unexpected, "
                       f"{sum((want - got).values())} missing of {sum(want.values())}")
        keyed = pq.read_table(res["keyed"])
        keys = keyed.column("record_key").to_pylist()
        n += 1
        if len(keys) != len(set(keys)) or len(keys) != sum(want.values()):
            bad.append(f"keyed sink: {len(keys)} rows, {len(set(keys))} keys, "
                       f"{sum(want.values())} records expected")
        rows = collections.Counter(tuple(r) for r in zip(
            *(keyed.column(c).to_pylist() for c in wodref.CLEANED_COLUMNS)))
        n += 1
        if rows != want:
            bad.append("keyed sink rows differ from the reference records")
        total = sum(want.values())
        n += 1
        for i, ret in enumerate(res["write_keyed_returns"]):
            if ret != [total, 0, 0, total]:
                bad.append(f"pass {i}: writeKeyed (written, skipped) first, replay = {ret}, "
                           f"expected [{total}, 0, 0, {total}]")
                break
    elif workload == "corpus_build":
        k, b = _oracle_checks(_duckdb(data), res)
        n, bad = n + k, bad + b
    elif workload == "stream_ingest":
        for name in ("idempotent", "merge"):
            n += 1
            got = _parquet_rows(res[name], PAGE_COLUMNS)
            if got != exp[name]:
                bad.append(f"runIdempotent/runMerge target '{name}': {len(got)} rows, "
                           f"{len(exp[name])} expected, contents differ")
        k, b = _oracle_checks(_duckdb(data), res)
        n, bad = n + k, bad + b
    return n, bad


def _pass_layers(p, returns, offered):
    L = p["layers"]

    def g(k):
        return L.get(k, 0.0)

    idem, merge = "streaming.run_idempotent", "streaming.run_merge"
    keyed = ["sources.write_keyed", "sources.write_keyed_replay"]
    m = {k: v for k, v in L.items() if k.startswith("spark.")}
    m.update({k: v for k, v in L.items() if k.startswith("operators.")
              and (k.endswith("_s") or k.endswith(".jobs"))})
    m.update({k: g(k) for k in ("streaming.batches", "streaming.batch_ms_p50",
                                "streaming.add_batch_ms", "streaming.query_planning_ms",
                                "streaming.wal_commit_ms", "streaming.commit_offsets_ms",
                                "streaming.state_commit_ms", "streaming.state_rows")})
    written_stream = g(f"{idem}.rows_written")
    m.update({
        "jvm.outside_tasks_cpu_s": p["cpu_s"] - g("spark.executor_cpu_s"),
        "etl.pipeline_run_s": g("etl.pipeline_run_s"),
        "etl.step.landed_s": g("etl.step.landed_s"),
        "etl.step.cleaned_s": g("etl.step.cleaned_s"),
        "etl.cleaned_rows": g("etl.step.cleaned.rows"),
        "sources.write_keyed_s": sum(g(f"{o}_s") for o in keyed) + g(f"{idem}.add_batch_ms") / 1e3,
        "sources.write_keyed_replay_s": g("sources.write_keyed_replay_s"),
        "sources.write_keyed_calls": sum(g(f"{o}.calls") for o in keyed) + g(f"{idem}.batches"),
        "sources.write_keyed_jobs": sum(g(f"{o}.jobs") for o in keyed) + g(f"{idem}.jobs"),
        "sources.rows_written": sum(g(f"{o}.rows_written") for o in keyed) + written_stream,
        "sources.rows_skipped": (returns[1] + returns[3] if returns else 0.0)
        + (offered - written_stream if g(f"{idem}.calls") else 0.0),
        "sources.merge_keyed_s": g(f"{merge}.add_batch_ms") / 1e3,
        "sources.jsonl_write_s": g("sources.jsonl_write_s"),
        "sources.bytes_written_mb": sum(g(f"{o}.bytes_written") for o in
                                        keyed + ["sources.jsonl_write", idem, merge]) / MIB,
        "trace.pass_s": p["wall_s"],
    })
    return m


def layer_metrics(data, res):
    """Per-layer figures: the median over warm passes, plus the one-off
    session start and first-pass JIT time."""
    returns = res.get("write_keyed_returns", [])
    # rows offered to the streaming idempotent sink: every page row (the
    # progress reports' input counts include each re-read of a batch)
    offered = 0
    for page in glob.glob(os.path.join(data, "pages", "*.json")):
        with open(page) as f:
            offered += sum(1 for _ in f)
    passes = [_pass_layers(p, returns[i + 1] if i + 1 < len(returns) else None, offered)
              for i, p in enumerate(res["warm"])]
    out = {k: statistics.median(p.get(k, 0.0) for p in passes) for k in set().union(*passes)}
    out["jvm.session_start_s"] = res["session_start_s"]
    out["jvm.jit_compile_s"] = res["first_pass_jit_s"]
    return out


def main():
    workload, seed = sys.argv[1], int(sys.argv[2])
    cached = inputs_dir(workload, seed)
    with tempfile.TemporaryDirectory() as d:
        inputs.make(workload, seed, d)
        fresh = json.loads(json.dumps(_expected(workload, seed, d)))
    same = fresh == _load_expected(cached)
    print(f"{workload} seed {seed}: cached expected results "
          f"{'match' if same else 'DIFFER FROM'} a fresh computation")
    sys.exit(0 if same else 1)


if __name__ == "__main__":
    main()
