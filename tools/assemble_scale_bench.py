#!/usr/bin/env python3
"""Assembles BENCH_SF1.json / BENCH_SF3.json from the graft.Bench and
bench_duckdb.py outputs of a scale run.

Usage:
  assemble_scale_bench.py <out.json> <sf_label> <round> \
      <spark_bench.json> <duck1.json> [<duck2.json> ...]

<spark_bench.json> is Bench's artifact (SPARK_GRAFT_BENCH_OUT), from a
full run or a named-lane run (``runMain graft.Bench <lane>...``): its
``queries`` map holds each lane's min-of-N seconds (-1 when it failed)
and its ``rows`` map the collected row count.

Twin queries (``*_bucketed`` / ``*_partitioned``) go to ``layout_twins``;
every other spark query is compared against the DuckDB time for the same
key (later duck files win on key collisions). The 17-query round-4
subset is reported separately when fully present, for cross-round trend
continuity. Per-query ratios whose DuckDB side is under 0.5 s carry a
``floor`` flag: at that absolute scale the ratio measures per-stage
constant overheads (scheduling, codegen'd-stage launch, exchange setup),
not data throughput — see SURVEY §8e."""
import json
import sys

SUBSET17 = [
    "dedup_clusters", "dedup_exact", "dedup_minhash_lsh",
    "dedup_ngram_jaccard", "dedup_simhash", "dedup_simhash_pairs",
    "q17_correlated", "q1_agg", "q21_multi_exists", "q3_join_agg",
    "q5_multi_join", "q_range_join", "text_fingerprint",
    "text_line_dedup", "text_logprob", "text_sentences", "text_tokens",
]

FLOOR_SEC = 0.5

# Measured-for-continuity ops whose plan the engine no longer recommends
# (a declared successor exists in the same family); they are reported in
# a `legacy` lane and EXCLUDED from the headline totals so the artifact
# tracks recommended plans. dedup_simhash_pairs (32-bit, n^2/1024 bucket
# degeneration) is superseded by dedup_simhash64_pairs (Manku 4x16-bit
# blocking, SURVEY §8e).
LEGACY = {"dedup_simhash_pairs"}


def main():
    out_path, sf_label, rnd, spark_path = sys.argv[1:5]
    duck_paths = sys.argv[5:]
    spark = json.load(open(spark_path))
    duck = {}
    for p in duck_paths:
        duck.update(json.load(open(p))["queries"])

    twins, queries = {}, {}
    for name, sec in spark["queries"].items():
        rows = spark["rows"][name]
        if sec < 0:
            print(f"WARN: spark failed for {name}, omitted", file=sys.stderr)
            continue
        # _plain: the layout-free continuity twin of a query whose
        # PRIMARY plan reads a clustered layout (SparkEntry.layoutTwins)
        if (name.endswith("_bucketed") or name.endswith("_partitioned")
                or name.endswith("_plain")):
            twins[name] = sec
        elif name in duck:
            d = duck[name]
            if d.get("err") or d["sec"] < 0:
                # a failed DuckDB side (OOM sentinel from bench_duckdb)
                # must not abort assembly or poison totals with sec=-1
                print(f"WARN: duckdb failed for {name} "
                      f"({d.get('err', 'sec<0')}), omitted", file=sys.stderr)
                continue
            assert rows == d["rows"], \
                f"{name}: spark rows {rows} != duckdb rows {d['rows']}"
            q = {
                "spark_sec": sec, "rows": rows,
                "duckdb_sec": d["sec"],
                "ratio": round(sec / d["sec"], 3),
            }
            if d["sec"] < FLOOR_SEC:
                q["floor"] = True
            queries[name] = q
        else:
            print(f"WARN: no duckdb time for {name}, omitted", file=sys.stderr)

    def totals(names):
        s = sum(queries[n]["spark_sec"] for n in names)
        d = sum(queries[n]["duckdb_sec"] for n in names)
        return round(s, 2), round(d, 2), round(s / d, 3)

    headline_names = [n for n in queries if n not in LEGACY]
    legacy = {n: queries[n] for n in queries if n in LEGACY}
    s_all, d_all, r_all = totals(headline_names)
    doc = {
        "sf": sf_label,
        "round": int(rnd),
        "cpus": spark.get("cpus", "32"),
        "protocol": (
            "min-of-three after sf0.001 warm-up (graft.Bench, r12: timed "
            "action is collect() - the full-result materialization the "
            "DuckDB side always paid; count()-timed rounds <=11 excluded "
            "value-expression evaluation, see SURVEY \u00a78g) / min-of-two "
            "(DuckDB 32 threads fetchall, tools/bench_duckdb.py), same machine, same "
            "parquet (ScaleGen layout: 32-file big tables, 32 MB row groups "
            "- both engines scan 32-wide). Per-query 'floor': duckdb_sec < "
            f"{FLOOR_SEC}s, ratio dominated by per-stage constants, not "
            "throughput (SURVEY §8e)."
        ),
        "headline": {
            "spark_total_sec": s_all,
            "duckdb_total_sec": d_all,
            "ratio": r_all,
            "n_compared": len(headline_names),
        },
        "layout_twins": twins,
        "legacy": {
            "note": ("measured for continuity, excluded from headline - "
                     "superseded plans (see LEGACY in this tool)"),
            "queries": dict(sorted(legacy.items())),
        },
        "queries": dict(sorted(
            (n, q) for n, q in queries.items() if n not in LEGACY)),
    }
    if all(n in queries for n in SUBSET17):
        # subset membership is frozen for cross-round continuity, so it
        # still includes legacy-lane ops
        s17, d17, r17 = totals(SUBSET17)
        doc["round4_subset"] = {
            "note": "the 17-query subset tracked since round 4",
            "spark_total_sec": s17, "duckdb_total_sec": d17, "ratio": r17,
        }
    json.dump(doc, open(out_path, "w"), indent=1)
    print(f"{out_path}: {len(queries)} compared, headline {r_all}"
          + (f", subset17 {r17}" if "round4_subset" in doc else ""))


if __name__ == "__main__":
    main()
