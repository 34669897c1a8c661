#!/usr/bin/env python3
"""Times oracle SQL in DuckDB over a testdata dir — the baseline side
of the scale bench (the reference publishes no wall-times, so the
same-machine DuckDB run of the SAME query set is the bar; VERDICT r3
set it the same way).

Usage: bench_duckdb.py <sfDir> <oracle_sql.json> <q1,q2,...> [--threads N]
Prints one JSON object {"sf":…, "queries":{name:{"sec":…,"rows":…}}}.
Min-of-two fetchall() timings, the analogue of graft.Bench's min-of-N
collect() passes; tools/assemble_scale_bench.py pairs this output with
Bench's artifact (its "queries" seconds and "rows" counts).
"""
import sys, json, time, os
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main():
    sf_dir, oracle_path, qlist = sys.argv[1], sys.argv[2], sys.argv[3].split(",")
    threads = 32
    if "--threads" in sys.argv:
        threads = int(sys.argv[sys.argv.index("--threads") + 1])
    def fresh_con():
        # a FRESH connection per query: the recursive-CTE queries
        # (dedup_clusters/canonical) leave the shared connection's
        # allocator unable to serve later queries (r12: every query
        # after them failed "Out of Memory" with >100 GB actually free)
        con = duckdb.connect()
        con.execute(f"SET threads={threads}")
        con.execute("SET memory_limit='80GB'")
        for t in TABLES:
            p = f"{sf_dir}/{t}.parquet"
            src = f"{p}/*.parquet" if os.path.isdir(p) else p
            sel = "*"
            if t == "events":
                # ScaleGen round-trips ts through Spark's nanos-as-long
                # read, so scaled dirs carry BIGINT nanos where the
                # driver's data has TIMESTAMP_NS. µs-precision values:
                # rebuilding a TIMESTAMP from ns//1000 is lossless.
                (ts_type,) = con.execute(
                    f"SELECT typeof(ts) FROM read_parquet('{src}') LIMIT 1").fetchone()
                if ts_type == "BIGINT":
                    sel = "* REPLACE (make_timestamp(ts // 1000) AS ts)"
            con.execute(f"CREATE VIEW {t} AS SELECT {sel} FROM read_parquet('{src}')")
        return con
    # --isolate: run every query in its OWN python subprocess. The
    # fresh-connection protocol does not fully contain DuckDB's
    # allocator state: r18 observed a recursive-CTE query (dedup_
    # canonical at sf10 under the 80GB limit) leaving the PROCESS
    # allocator unable to serve the next query's 2KB blocks even on a
    # new connection — every subsequent query "OOM"ed with >100GB
    # actually free, while the same queries all passed in isolated
    # processes. Process isolation is the only reliable boundary.
    if "--isolate" in sys.argv and len(qlist) > 1:
        import subprocess
        merged = {}
        for q in qlist:
            argv = [sys.executable, sys.argv[0], sf_dir, oracle_path, q,
                    "--threads", str(threads)]
            r = subprocess.run(argv, capture_output=True, text=True)
            sys.stderr.write(r.stderr)
            try:
                merged.update(json.loads(r.stdout)["queries"])
            except Exception:
                merged[q] = {"sec": -1.0, "rows": -1,
                             "err": f"subprocess failed: {r.stdout[:100]}"}
        print(json.dumps({"sf": sf_dir, "threads": threads, "queries": merged}))
        return
    oracle = json.load(open(oracle_path))
    out = {}
    for q in qlist:
        sql = oracle[q]
        rows = 0
        best = None
        con = None
        try:
            con = fresh_con()
            for _ in range(2):
                t0 = time.monotonic()
                rows = len(con.execute(sql).fetchall())
                dt = time.monotonic() - t0
                best = dt if best is None else min(best, dt)
        except Exception as e:
            # record the failure and keep benching the rest (an OOM on
            # one text query used to kill the whole artifact)
            print(f"DUCK {q:<24s} FAILED: {e}", file=sys.stderr)
            out[q] = {"sec": -1.0, "rows": -1, "err": str(e)[:200]}
            continue
        finally:
            # close on BOTH paths: a leaked 80GB-limit connection after
            # an OOM would reintroduce the cross-query allocator
            # interference the fresh-connection protocol removes
            if con is not None:
                try:
                    con.close()
                except Exception:
                    pass
        out[q] = {"sec": round(best, 4), "rows": rows}
        print(f"DUCK {q:<24s} {best:8.2f} s  rows={rows}", file=sys.stderr)
    print(json.dumps({"sf": sf_dir, "threads": threads, "queries": out}))


if __name__ == "__main__":
    main()
