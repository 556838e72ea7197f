#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate over a graft.Verify run
(outDir/<name>/*.parquet + outDir/oracle_sql.json).

Oracle mode: execute each oracle SQL in DuckDB over the sf tables and
compare rows/schema/values with the engine output. An oracle key with no
output dir (a query that threw inside Verify) is reported MISSING and
counts as a failure.

  python3 tools/localverify.py <sfDir> <outDir> [queryFilter...]

Against mode: compare every output dir of two Verify runs as canonicalized
row multisets (covers the queries that ship no oracle too), plus whether
the two oracle_sql.json files are byte-identical.

  python3 tools/localverify.py --against <baseOutDir> <outDir> [queryFilter...]

Exit status is 1 when anything fails.
"""
import sys, json, glob, os
import pandas as pd


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize away engine-specific dtypes: everything through repr strings
    def cell(v):
        if isinstance(v, float):
            # repr() keeps the trailing ".0" so an int64-vs-float64 dtype
            # drift FAILS here exactly like the driver's hash (round-3
            # lesson: format(v, ".10g") hid 11 such rows)
            return repr(v)
        if isinstance(v, (list, tuple)):
            return str(list(v))
        s = str(v)
        if s.endswith(" 00:00:00"):  # date vs midnight-timestamp rendering
            s = s[:-9]
        return s
    return df.apply(lambda c: c.map(cell))


def output_names(out_dir):
    return sorted(d for d in os.listdir(out_dir)
                  if os.path.isdir(os.path.join(out_dir, d)))


def read_output(out_dir, name):
    # sorted: part-00000, part-00001, ... must concatenate in the
    # engine's global sort order for row-order-sensitive compares
    files = sorted(glob.glob(os.path.join(out_dir, name, "*.parquet")))
    return pd.concat([pd.read_parquet(f) for f in files]) if files \
        else pd.DataFrame()


def selected(name, filters):
    return not filters or any(f in name for f in filters)


def oracle_mode(sf_dir, out_dir, filters):
    import duckdb
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem events "
              "documents embeddings").split():
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    names = output_names(out_dir)
    n_pass = n_fail = n_noorc = n_missing = 0
    for name in sorted(set(oracles) - set(names)):
        if selected(name, filters):
            print(f"  {name}: MISSING (oracle key with no output)")
            n_missing += 1
    for name in names:
        if not selected(name, filters):
            continue
        spark_df = read_output(out_dir, name)
        if name not in oracles:
            print(f"  {name}: NO_ORACLE (spark_rows={len(spark_df)})")
            n_noorc += 1
            continue
        try:
            ora_df = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            print(f"  {name}: ORACLE_SQL_ERROR {e}")
            n_fail += 1
            continue
        a, b = canon(spark_df), canon(ora_df)
        rows_ok = len(a) == len(b)
        schema_ok = list(a.columns) == list(b.columns)
        vals_ok = rows_ok and schema_ok and a.reset_index(drop=True).equals(
            b.reset_index(drop=True))
        if rows_ok and schema_ok and vals_ok:
            print(f"  {name}: PASS ({len(a)} rows)")
            n_pass += 1
        else:
            n_fail += 1
            print(f"  {name}: FAIL rows {len(a)} vs {len(b)}, "
                  f"schema_ok={schema_ok} spark_cols={list(a.columns)} "
                  f"ora_cols={list(b.columns)}")
            if rows_ok and schema_ok:
                neq = (a.reset_index(drop=True) != b.reset_index(drop=True))
                bad = neq.any(axis=1)
                print("   first diffs (spark vs oracle):")
                print(a.reset_index(drop=True)[bad].head(3))
                print(b.reset_index(drop=True)[bad].head(3))
    print(f"pass={n_pass} fail={n_fail} missing={n_missing} no_oracle={n_noorc}")
    return n_fail + n_missing == 0


def row_multiset(df):
    c = canon(df)
    return list(c.columns), sorted(map(tuple, c.itertuples(index=False)))


def against_mode(base_dir, out_dir, filters):
    base = {n for n in output_names(base_dir) if selected(n, filters)}
    new = {n for n in output_names(out_dir) if selected(n, filters)}
    n_same = n_diff = 0
    for name in sorted(base - new):
        print(f"  {name}: MISSING (in base only)")
    for name in sorted(new - base):
        print(f"  {name}: EXTRA (in new only)")
    for name in sorted(base & new):
        ca, ra = row_multiset(read_output(base_dir, name))
        cb, rb = row_multiset(read_output(out_dir, name))
        if ca == cb and ra == rb:
            n_same += 1
        else:
            n_diff += 1
            print(f"  {name}: DIFF cols {ca} vs {cb}, rows {len(ra)} vs {len(rb)}")
            only_a = [r for r in ra if r not in rb][:3]
            only_b = [r for r in rb if r not in ra][:3]
            print(f"   base only: {only_a}\n   new only:  {only_b}")
    with open(os.path.join(base_dir, "oracle_sql.json"), "rb") as f:
        oa = f.read()
    with open(os.path.join(out_dir, "oracle_sql.json"), "rb") as f:
        ob = f.read()
    oracle_same = oa == ob
    n_missing, n_extra = len(base - new), len(new - base)
    print(f"identical={n_same} differ={n_diff} missing={n_missing} "
          f"extra={n_extra} oracle_sql_identical={oracle_same}")
    return n_diff + n_missing + n_extra == 0 and oracle_same


def main():
    args = sys.argv[1:]
    if args[:1] == ["--against"]:
        ok = against_mode(args[1], args[2], args[3:])
    else:
        ok = oracle_mode(args[0], args[1], args[2:])
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
