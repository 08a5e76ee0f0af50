#!/usr/bin/env python3
"""Single-source-of-truth inventory generator + lint (VERDICT r14 #3).

The operator registry lives in ONE place — `SparkEntry.queries` — and the
human-facing coverage docs (README's two coverage tables, SURVEY §2.11's
family pointers) must never drift from it. This script:

 1. parses the registry (entry name -> implementing `Object.method`) and
    the oracle map from SparkEntry.scala;
 2. LINTS the hand-written README coverage tables: every backticked
    `entry` they cite must exist in the registry (stale rows fail), and
    every registry entry must be cited by at least one table row
    (uncovered entries fail);
 3. REGENERATES the machine-derived "Registry index" section of README.md
    between the BEGIN/END GENERATED markers — entry -> implementing
    function -> oracle presence — so the complete, always-current map is
    one `python3 tools/gen_inventory.py` away and CANNOT be stale (it is
    derived, not maintained).

Exit 0 = docs in sync (and index rewritten if needed); exit 1 = drift,
with every offending name printed. Run it after adding/removing a
registry entry; the OutputSchemaSpec-style correctness gates stay in
sbt — this is documentation lint only.
"""
import re
import sys

ENTRY = "src/main/scala/graft/SparkEntry.scala"
README = "README.md"
BEGIN = "<!-- BEGIN GENERATED registry index (tools/gen_inventory.py) -->"
END = "<!-- END GENERATED registry index -->"

REG_RE = re.compile(r'"([a-z0-9_]+)" -> \(\(s, d\) => ([A-Za-z]+\.[A-Za-z0-9]+)\(s, d\)\)')
ORACLE_RE = re.compile(r'"([a-z0-9_]+)" -> ([A-Za-z]+\.[A-Za-z0-9]+Sql|[A-Za-z]+\.[a-zA-Z0-9]+)\s*[,)]')


def parse_entry(path):
    src = open(path).read()
    # split at the oracleSql map so query registrations and oracle
    # registrations parse independently
    cut = src.index("def oracleSql")
    queries = dict(REG_RE.findall(src[:cut]))
    oracles = dict(ORACLE_RE.findall(src[cut:]))
    return queries, oracles


def cited_entries(readme_src):
    """Entry names cited in the two hand-written coverage tables (any
    backticked lowercase_snake token in a table row)."""
    cited = set()
    in_generated = False
    for line in readme_src.splitlines():
        if line.strip() == BEGIN:
            in_generated = True
        if line.strip() == END:
            in_generated = False
            continue
        if in_generated or not line.startswith("|"):
            continue
        cited.update(re.findall(r"`([a-z][a-z0-9_]+)`", line))
    return cited


def second_scale_problems(queries):
    """Lint the latest committed second-scale artifact
    (CORRECTNESS_sf0.1_r<N>.json, see tools/second_scale.sh) against the
    registry: its entry set must match exactly and every entry must be
    green — a registry that grew or shrank since the last sf0.1 pass is
    exactly the silent rot VERDICT r16 #5 flagged. The legacy .txt
    artifact (pre-r17) is ignored once a JSON artifact exists."""
    import glob, json
    arts = sorted(glob.glob("CORRECTNESS_sf0.1_r*.json"),
                  key=lambda p: int(re.search(r"r0*(\d+)", p).group(1)))
    if not arts:
        return ["no CORRECTNESS_sf0.1_r*.json second-scale artifact — "
                "run tools/second_scale.sh"]
    latest = arts[-1]
    try:
        art = json.load(open(latest))
    except Exception as e:
        return [f"{latest} unreadable: {e}"]
    problems = []
    missing = sorted(set(queries) - set(art))
    stale = sorted(set(art) - set(queries))
    if missing:
        problems.append(
            f"{latest} lacks {len(missing)} registry entries "
            f"({', '.join(missing[:5])}{'…' if len(missing) > 5 else ''}) — "
            "re-run tools/second_scale.sh")
    if stale:
        problems.append(
            f"{latest} carries {len(stale)} entries no longer in the registry "
            f"({', '.join(stale[:5])}{'…' if len(stale) > 5 else ''}) — "
            "re-run tools/second_scale.sh")
    bad = sorted(n for n, v in art.items()
                 if not (v.get("rows_match") and v.get("schema_match")
                         and v.get("hash_match")))
    if bad:
        problems.append(
            f"{latest} records {len(bad)} non-green entries "
            f"({', '.join(bad[:5])}{'…' if len(bad) > 5 else ''})")
    return problems


def main():
    queries, oracles = parse_entry(ENTRY)
    readme_src = open(README).read()
    problems = []
    problems.extend(second_scale_problems(queries))

    # registry internal consistency: every query has an oracle
    for n in sorted(set(queries) - set(oracles)):
        problems.append(f"registry entry `{n}` has no oracleSql registration")
    for n in sorted(set(oracles) - set(queries)):
        problems.append(f"oracleSql entry `{n}` has no queries registration")

    # README lint — compare only names that LOOK like registry entries
    # (contain an underscore or are registry members) to skip incidental
    # backticked code like `sbt` or column names
    cited = cited_entries(readme_src)
    cited_entryish = {c for c in cited if c in queries or "_" in c}
    known_non_entries = {
        # backticked non-entry identifiers legitimately cited in rows
        "misra_gries", "session_window", "nfc_normalize", "cosine_similarity",
        "local_verify", "gen_scale", "gen_inventory", "bench_trend",
        "oracle_sql", "bench_out", "bench_quiet", "n_chars", "doc_id",
        "user_id", "event_type", "vec_id",
    }
    for n in sorted(cited_entryish - set(queries) - known_non_entries):
        problems.append(f"README cites `{n}` which is not in SparkEntry.queries (stale row?)")
    for n in sorted(set(queries) - cited):
        problems.append(f"registry entry `{n}` is cited by no README coverage row")

    # regenerate the machine-derived index
    rows = [f"| `{n}` | `{queries[n]}` | {'yes' if n in oracles else 'NO'} |"
            for n in sorted(queries)]
    gen = "\n".join([
        BEGIN,
        "",
        f"### Registry index ({len(queries)} entries, generated — do not edit)",
        "",
        "Derived from `SparkEntry.queries` by `tools/gen_inventory.py`; the",
        "script also lints the hand-written tables above against the registry",
        "(stale or uncovered entries fail). Regenerate after registry changes.",
        "",
        "| Entry | Implementation | Oracle |",
        "|---|---|---|",
        *rows,
        "",
        END,
    ])
    if BEGIN in readme_src:
        new_src = re.sub(re.escape(BEGIN) + r".*?" + re.escape(END),
                         gen, readme_src, flags=re.S)
    else:
        new_src = readme_src.rstrip() + "\n\n" + gen + "\n"

    if new_src != readme_src:
        open(README, "w").write(new_src)
        print(f"README registry index regenerated ({len(queries)} entries)")
    else:
        print(f"README registry index up to date ({len(queries)} entries)")

    if problems:
        print(f"\n== {len(problems)} inventory problems:")
        for p in problems:
            print("  " + p)
        return 1
    print("== inventory in sync")
    return 0


if __name__ == "__main__":
    sys.exit(main())
