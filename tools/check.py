#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: for each query dir in
OUT_DIR, run the oracle SQL in DuckDB over the sf parquet tables, sort
columns by name, canonicalize, and compare row counts / schema / values
against the Spark-dumped parquet. Each result records its oracle's
DuckDB seconds (`oracle_s`), and the ten slowest oracles print to stderr.
Usage: check.py <sfdir> <outdir> [name...]
"""
import sys, json, math, glob, os, time
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

def canon(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # round-trip through repr to kill -0.0 vs 0.0 and tiny noise
        return repr(v if v != 0 else 0.0)
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    return str(v)

def main():
    sfdir, outdir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sfdir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracle = json.load(open(f"{outdir}/oracle_sql.json"))
    results = {}
    for name in sorted(os.listdir(outdir)):
        d = os.path.join(outdir, name)
        if not os.path.isdir(d) or (only and name not in only):
            continue
        spark_df = con.execute(
            f"SELECT * FROM '{d}/*.parquet'").fetchdf()
        if name not in oracle:
            results[name] = {"rows": len(spark_df), "oracle": False}
            continue
        t0 = time.perf_counter()
        try:
            ora_df = con.execute(oracle[name]).fetchdf()
        except Exception as e:
            results[name] = {"err": f"oracle failed: {e}",
                             "oracle_s": round(time.perf_counter() - t0, 3)}
            continue
        r = {"oracle_s": round(time.perf_counter() - t0, 3)}
        s_cols, o_cols = sorted(spark_df.columns), sorted(ora_df.columns)
        r["schema_match"] = s_cols == o_cols
        if not r["schema_match"]:
            r["spark_cols"], r["oracle_cols"] = s_cols, o_cols
        else:
            # dtype fidelity: flag width/kind differences the value compare
            # cannot see (int32 vs int64, object vs datetime, ...)
            dt_diff = {c: (str(spark_df[c].dtype), str(ora_df[c].dtype))
                       for c in s_cols
                       if str(spark_df[c].dtype) != str(ora_df[c].dtype)}
            if dt_diff:
                r["dtype_diff"] = dt_diff
        r["rows_match"] = len(spark_df) == len(ora_df)
        if not r["rows_match"]:
            r["spark_rows"], r["oracle_rows"] = len(spark_df), len(ora_df)
        if r["schema_match"] and r["rows_match"]:
            s_rows = sorted(tuple(canon(v) for v in row)
                            for row in spark_df[s_cols].itertuples(index=False))
            o_rows = sorted(tuple(canon(v) for v in row)
                            for row in ora_df[s_cols].itertuples(index=False))
            r["hash_match"] = s_rows == o_rows
            if not r["hash_match"]:
                diffs = [(a, b) for a, b in zip(s_rows, o_rows) if a != b]
                r["first_diff"] = repr(diffs[0])[:400] if diffs else "row sets differ in count of dup rows"
                r["n_diff"] = len(diffs)
        results[name] = r
    ok = sum(1 for r in results.values()
             if r.get("hash_match") or (r.get("oracle") is False and r.get("rows", 0) > 0))
    print(json.dumps(results, indent=1, default=str))
    timed = sorted(((r["oracle_s"], n) for n, r in results.items() if "oracle_s" in r),
                   reverse=True)
    if timed:
        print("slowest oracles: " + ", ".join(f"{n} {s:.1f}s" for s, n in timed[:10]),
              file=sys.stderr)
    print(f"\n== {ok}/{len(results)} green", file=sys.stderr)

if __name__ == "__main__":
    main()
