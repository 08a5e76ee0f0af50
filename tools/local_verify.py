#!/usr/bin/env python3
"""Dev-only harness mirroring the driver's DuckDB-oracle compare.

Usage: after `sbt "runMain graft.Verify <sfDir> <outDir>"`, run
    python3 tools/local_verify.py <sfDir> <outDir> [--json <artifact.json>]
                                  [--against <parent oracle_sql.json>]

For each <outDir>/<name>/ parquet dir, runs <outDir>/oracle_sql.json[name]
in DuckDB (tables = views over <sfDir>/*.parquet), sorts columns by name,
sorts rows, and compares values cell-by-cell. NOT shipped library code.

With a SPARK_GRAFT_VERIFY_ONLY subset dump, names without a dump dir are
reported as `skip` (not FAIL) — only dumped entries are gated.

--json writes a per-entry artifact in the driver's CORRECTNESS_rN.json
shape ({name: {rows_match, schema_match, hash_match, spark_rows,
oracle_rows, err}}) — used by tools/second_scale.sh to make the
second-scale (sf0.1) oracle pass a first-class, machine-checkable
artifact instead of a hand-pasted text log (VERDICT r16 #5);
tools/gen_inventory.py fails when the committed artifact's entry set
drifts from the registry.

--against <parent oracle_sql.json> first lists every entry whose oracle
SQL text differs from that earlier Verify dump (added, removed or
changed), so "byte-identical except the listed entries" is checked by
the command rather than by reading the diff.
"""
import json, math, os, re, sys
import duckdb

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    return v

def frame(rel):
    df = rel.df()
    df = df[sorted(df.columns)]
    rows = [tuple(norm(v) for v in r) for r in df.itertuples(index=False)]
    # dtype FAMILIES, not widths: Spark legitimately emits int32 where the
    # oracle's rank()/row_number() is BIGINT — the driver's compare (like
    # the cell compare here) treats integer widths as equal, so the
    # schema_match field must not false-alarm on width alone
    fams = [re.sub(r"(int|float)\d*", r"\1", t)
            for t in df.dtypes.astype(str)]
    return sorted(rows, key=repr), fams

def oracle_diff(oracle, against):
    """Names whose oracle SQL text differs from the `against` dump."""
    before = json.load(open(against))
    changed = sorted(n for n in oracle.keys() | before.keys()
                     if oracle.get(n) != before.get(n))
    for n in changed:
        how = "added" if n not in before else "removed" if n not in oracle else "changed"
        print(f"sql  {n}: {how}")
    print(f"== {len(changed)} oracle strings differ from {against}")
    return changed

def main(sf_dir, out_dir, json_out=None, against=None):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    if against:
        oracle_diff(oracle, against)
    # Under a SPARK_GRAFT_VERIFY_ONLY subset dump, only the requested names
    # are gated; in a full run a missing dump dir means the Verify dump
    # crashed or silently dropped the entry — that is a FAIL, not a skip.
    only_env = os.environ.get("SPARK_GRAFT_VERIFY_ONLY")
    only = set(n.strip() for n in only_env.split(",") if n.strip()) if only_env else None
    ok = fail = skipped = 0
    report = {}
    for name, sql in sorted(oracle.items()):
        if not os.path.isdir(f"{out_dir}/{name}"):
            if only is not None and name not in only:
                skipped += 1
            else:
                print(f"FAIL {name}: no dump dir under {out_dir}")
                report[name] = {"rows_match": False, "schema_match": False,
                                "hash_match": False, "spark_rows": 0,
                                "oracle_rows": 0, "err": "no dump dir"}
                fail += 1
            continue
        try:
            got, gt = frame(con.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'"))
            want, wt = frame(con.sql(sql))
        except Exception as e:
            print(f"FAIL {name}: {e}")
            report[name] = {"rows_match": False, "schema_match": False,
                            "hash_match": False, "spark_rows": 0,
                            "oracle_rows": 0, "err": str(e)[:400]}
            fail += 1
            continue
        report[name] = {"rows_match": len(got) == len(want),
                        "schema_match": gt == wt,
                        "hash_match": got == want,
                        "spark_rows": len(got), "oracle_rows": len(want),
                        "err": None}
        if got == want:
            print(f"ok   {name}: {len(got)} rows")
            ok += 1
        else:
            fail += 1
            print(f"FAIL {name}: spark {len(got)} rows {gt} vs oracle {len(want)} rows {wt}")
            for i, (g, w) in enumerate(zip(got, want)):
                if g != w:
                    print(f"  first diff row {i}:\n   spark : {g}\n   oracle: {w}")
                    break
            else:
                n = min(len(got), len(want))
                print(f"  row-count diff; first extra: {(got[n:n+1] or want[n:n+1])}")
    tail = f", {skipped} skipped (no dump)" if skipped else ""
    print(f"== {ok} ok, {fail} fail{tail}")
    if json_out:
        with open(json_out, "w") as f:
            json.dump(report, f, indent=1, sort_keys=True)
        print(f"== wrote {json_out} ({len(report)} entries)")
    return 1 if fail else 0

USAGE = ("usage: local_verify.py <sfDir> <outDir> [--json <artifact.json>]"
         " [--against <parent oracle_sql.json>]")

def take_opt(args, flag):
    if flag not in args:
        return None
    i = args.index(flag)
    if i + 1 >= len(args):
        sys.exit(USAGE)
    val = args[i + 1]
    del args[i:i + 2]
    return val

if __name__ == "__main__":
    args = sys.argv[1:]
    jout = take_opt(args, "--json")
    against = take_opt(args, "--against")
    if len(args) != 2:
        sys.exit(USAGE)
    sys.exit(main(args[0], args[1], jout, against))
