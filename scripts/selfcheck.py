#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run graft.Verify output
against DuckDB executing oracle_sql.json on the same parquet tables.

Usage: python3 scripts/selfcheck.py <sfDir> <verifyOutDir> [query ...]
       python3 scripts/selfcheck.py --gate [bench_out.json]
       python3 scripts/selfcheck.py --snapshot-check [repoDir]
       python3 scripts/selfcheck.py --selftest

--snapshot-check guards the END-OF-ROUND SNAPSHOT COMMIT (r19 VERDICT
finding #3: a snapshot commit carried a non-trivial refactor): the
working tree's uncommitted changes must touch ONLY *.json / *.md
artifacts. Run it immediately before `git commit` of the round-close
snapshot; a .scala (or any other source) file in the diff fails loudly
— land code in its own reviewed commit first.

--gate is the ROUND-CLOSE PERFORMANCE ASSERTION: it reads the bench
output's gate_ratio_canary_normalized (this run's BASELINE_QUERIES
total vs the recorded r01 vintage, host-normalized by the JVM canary
pair) and exits nonzero when the 2.0x ceiling is breached or the field
is missing — a regression fails loudly instead of being a JSON field
someone must remember to read.

--gate also CODIFIES THE HOST-PHASE RULE (r19 drift verdict, README
"drift verdict" note): the post-sweep JVM-spin canary's steady band on
this box is 0.76-0.85 s. A vintage whose post_jvm canary reads below
0.70 s is a host FAST PHASE (r17's 0.596 s flattered its raw gate by
~20%); above 0.90 s is load inflation (r18's post-probe snapshots).
The verdict is WRITTEN BACK into the bench JSON as "host_phase"
("steady" | "fast" | "loaded" | "unmeasured"), so the artifact itself
answers the next cross-vintage drift scare — raw-ratio comparisons are
only meaningful between two "steady" vintages. A non-steady phase
annotates and warns; it does not fail the gate (the normalized ratio
already divides the host factor out for the CEILING check).

The compare (<sfDir> <verifyOutDir>) exits nonzero when any query fails,
when it compared zero queries (an empty oracle_sql.json, or a name
filter matching nothing), and when a query named on the command line is
not in oracle_sql.json — a gate that checked nothing must not pass. A
full compare (no names) also exits nonzero when it checked fewer queries
than the count graft.Verify wrote to oracle_count.json, or when that
file is missing: a gate that checked too few must not pass either.
"""
import sys, json, glob, os

GATE_CEILING = 2.0
HOST_STEADY_BAND = (0.70, 0.90)  # post-sweep jvm-spin canary, seconds

def host_phase(bench: dict) -> str:
    post = (bench.get("canary_s") or {}).get("post_jvm")
    if not isinstance(post, (int, float)):
        return "unmeasured"
    lo, hi = HOST_STEADY_BAND
    return "fast" if post < lo else ("loaded" if post > hi else "steady")

def gate(path: str) -> int:
    try:
        bench = json.load(open(path))
    except Exception as e:
        print(f"GATE FAIL: cannot read {path}: {type(e).__name__}: {e}")
        return 1
    phase = host_phase(bench)
    if bench.get("host_phase") != phase:
        bench["host_phase"] = phase
        try:  # annotate the artifact itself — it must answer drift scares
            with open(path, "w") as f:
                json.dump(bench, f)
                f.write("\n")
        except Exception as e:
            print(f"GATE WARN: could not annotate {path} with host_phase: {e}")
    if phase != "steady":
        post = (bench.get("canary_s") or {}).get("post_jvm")
        print(f"GATE WARN: host_phase={phase} (post_jvm canary={post}; "
              f"steady band {HOST_STEADY_BAND[0]}-{HOST_STEADY_BAND[1]} s) — "
              "gate_ratio_raw is NOT comparable across vintages for this run")
    ratio = bench.get("gate_ratio_canary_normalized")
    if not isinstance(ratio, (int, float)):
        print(f"GATE FAIL: {path} has no numeric gate_ratio_canary_normalized "
              "(run graft.Bench with BASELINE_QUERIES.txt present)")
        return 1
    n = bench.get("gate_n", 0)
    if not n:
        print(f"GATE FAIL: {path} measured zero baseline queries (gate_n=0)")
        return 1
    if ratio > GATE_CEILING:
        print(f"GATE FAIL: gate_ratio_canary_normalized={ratio:.3f} > "
              f"{GATE_CEILING} over {n} baseline queries "
              f"(raw={bench.get('gate_ratio_raw')}, "
              f"canary_factor={bench.get('gate_canary_factor')}, "
              f"host_phase={phase})")
        return 1
    print(f"GATE PASS: gate_ratio_canary_normalized={ratio:.3f} <= "
          f"{GATE_CEILING} over {n} baseline queries (host_phase={phase})")
    return 0

def snapshot_check(repo: str = ".") -> int:
    import subprocess
    try:
        out = subprocess.run(["git", "-C", repo, "status", "--porcelain"],
                             capture_output=True, text=True, check=True).stdout
    except Exception as e:
        print(f"SNAPSHOT FAIL: git status failed in {repo}: {e}")
        return 1
    files = []
    for line in out.splitlines():
        if len(line) < 4:
            continue
        path = line[3:]
        if " -> " in path:  # rename: the new path is what the commit carries
            path = path.split(" -> ", 1)[1]
        files.append(path.strip().strip('"'))
    bad = [f for f in files if not f.endswith((".json", ".md"))]
    if bad:
        print("SNAPSHOT FAIL: the round-close snapshot must be artifact-only "
              "(*.json / *.md); land these in their own commit first: "
              + ", ".join(sorted(bad)))
        return 1
    print(f"SNAPSHOT PASS: {len(files)} artifact file(s) pending, no source")
    return 0

def selftest() -> int:
    """Synthetic-fixture checks for the gate (no Spark, no DuckDB)."""
    import tempfile
    fails = []
    def run(tag, doc, want_exit, want_phase):
        with tempfile.NamedTemporaryFile("w", suffix=".json", delete=False) as f:
            json.dump(doc, f)
            p = f.name
        got = gate(p)
        back = json.load(open(p))
        os.unlink(p)
        if got != want_exit:
            fails.append(f"{tag}: exit {got} != {want_exit}")
        if back.get("host_phase") != want_phase:
            fails.append(f"{tag}: host_phase {back.get('host_phase')!r} != {want_phase!r}")
    base = {"gate_ratio_canary_normalized": 0.5, "gate_ratio_raw": 0.45,
            "gate_canary_factor": 0.9, "gate_n": 33}
    run("steady", dict(base, canary_s={"post_jvm": 0.80}), 0, "steady")
    # the r17 shape: a fast-phase canary must be named in the artifact
    run("fast", dict(base, canary_s={"post_jvm": 0.596}), 0, "fast")
    # the r18 post-probe shape
    run("loaded", dict(base, canary_s={"post_jvm": 1.05}), 0, "loaded")
    run("unmeasured", dict(base), 0, "unmeasured")
    # the phase never rescues a ceiling breach
    run("breach", dict(base, gate_ratio_canary_normalized=2.5,
                       canary_s={"post_jvm": 0.80}), 1, "steady")
    # snapshot-check fixtures: a scratch repo with (a) artifact-only
    # changes passes, (b) a source file in the diff fails
    import subprocess, tempfile, shutil
    repo = tempfile.mkdtemp(prefix="snapcheck-")
    try:
        def g(*a):
            subprocess.run(["git", "-C", repo] + list(a), check=True,
                           capture_output=True,
                           env=dict(os.environ,
                                    GIT_AUTHOR_NAME="t", GIT_AUTHOR_EMAIL="t@t",
                                    GIT_COMMITTER_NAME="t", GIT_COMMITTER_EMAIL="t@t"))
        g("init", "-q")
        open(os.path.join(repo, "a.md"), "w").write("x\n")
        g("add", "."); g("commit", "-qm", "seed")
        open(os.path.join(repo, "BENCH.json"), "w").write("{}\n")
        open(os.path.join(repo, "a.md"), "w").write("y\n")
        if snapshot_check(repo) != 0:
            fails.append("snapshot: artifact-only diff must pass")
        open(os.path.join(repo, "X.scala"), "w").write("object X\n")
        if snapshot_check(repo) != 1:
            fails.append("snapshot: a source file in the diff must fail")
    finally:
        shutil.rmtree(repo, ignore_errors=True)
    # compare fixtures: an empty oracle map, a named query missing from
    # the map, and a full compare short of (or without) Verify's dumped
    # count fail; one real DuckDB-vs-parquet match passes
    import duckdb
    tmp = tempfile.mkdtemp(prefix="cmpcheck-")
    try:
        sf, out = os.path.join(tmp, "sf"), os.path.join(tmp, "out")
        os.makedirs(sf); os.makedirs(os.path.join(out, "q1"))
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"COPY (SELECT 1 AS x) TO '{sf}/{t}.parquet' (FORMAT parquet)")
        con.execute(f"COPY (SELECT 1 AS x) TO '{out}/q1/part-0.parquet' (FORMAT parquet)")
        def oracle(m, dumped):
            json.dump(m, open(os.path.join(out, "oracle_sql.json"), "w"))
            count = os.path.join(out, "oracle_count.json")
            if dumped is not None:
                json.dump({"dumped": dumped}, open(count, "w"))
            elif os.path.exists(count):
                os.unlink(count)
        q1 = {"q1": "SELECT 1 AS x"}
        for tag, m, dumped, only, want in [
                ("empty map", {}, 0, [], 1),
                ("one match", q1, 1, [], 0),
                ("named, not in map", q1, 1, ["q1", "nope"], 1),
                ("filter matches nothing", q1, 1, ["nope"], 1),
                # the map lost an entry Verify dumped
                ("fewer than dumped", q1, 2, [], 1),
                ("no dumped count", q1, None, [], 1),
                # a named subset is held to its names, not the full count
                ("named subset of a full dump", q1, 2, ["q1"], 0)]:
            oracle(m, dumped)
            got = compare(sf, out, only)
            if got != want:
                fails.append(f"compare {tag}: exit {got} != {want}")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if fails:
        print("SELFTEST FAIL: " + "; ".join(fails))
        return 1
    print("SELFTEST PASS: 5 gate + 2 snapshot + 7 compare fixtures")
    return 0

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

def norm(df):
    import pandas as pd
    df = df.reindex(sorted(df.columns), axis=1)
    # canonical value form: everything to string (exact), floats via repr
    def cell(v):
        if v is None or v is pd.NaT:
            return "NULL"
        if isinstance(v, float):
            return repr(v)
        return str(v)
    out = df.apply(lambda c: c.map(cell))
    out = out.sort_values(by=list(out.columns), kind="mergesort").reset_index(drop=True)
    return out

def compare(sf_dir: str, out_dir: str, only=()) -> int:
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    missing = sorted(set(only) - set(oracle))
    for name in missing:
        print(f"FAIL {name}: not in oracle_sql.json")
    todo = sorted((n, q) for n, q in oracle.items() if not only or n in only)
    if not todo:
        print(f"== 0 pass, {len(missing)} fail: compared zero queries")
        return 1
    short = 0  # a full compare must check every query Verify dumped
    if not only:
        try:
            dumped = json.load(open(os.path.join(out_dir, "oracle_count.json")))["dumped"]
        except Exception as e:
            print(f"FAIL oracle_count.json: {type(e).__name__}: {e} "
                  "(rerun graft.Verify: it writes the dumped-query count)")
            short = 1
        else:
            if len(todo) < dumped:
                print(f"FAIL checking {len(todo)} queries, fewer than the "
                      f"{dumped} graft.Verify dumped")
                short = 1
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    n_pass, n_fail = 0, len(missing) + short
    for name, sql in todo:
        pq = os.path.join(out_dir, name)
        files = glob.glob(os.path.join(pq, "*.parquet"))
        if not files:
            print(f"FAIL {name}: no spark output");  n_fail += 1; continue
        try:
            got = pd.concat([pd.read_parquet(f) for f in sorted(files)], ignore_index=True)
            exp = con.execute(sql).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: {type(e).__name__}: {e}"); n_fail += 1; continue
        g, e = norm(got), norm(exp)
        if list(g.columns) != list(e.columns):
            print(f"FAIL {name}: columns spark={list(g.columns)} duck={list(e.columns)}")
            n_fail += 1; continue
        if len(g) != len(e):
            print(f"FAIL {name}: rows spark={len(g)} duck={len(e)}"); n_fail += 1; continue
        if g.equals(e):
            print(f"PASS {name} ({len(g)} rows)"); n_pass += 1
        else:
            neq = (g != e).any(axis=1)
            idx = list(g.index[neq])[:3]
            print(f"FAIL {name}: {int(neq.sum())}/{len(g)} rows differ; first diffs:")
            for i in idx:
                for c in g.columns:
                    if g.at[i, c] != e.at[i, c]:
                        print(f"    row {i} col {c}: spark={g.at[i,c]!r} duck={e.at[i,c]!r}")
            n_fail += 1
    print(f"== {n_pass} pass, {n_fail} fail")
    return 1 if n_fail else 0

if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "--gate":
        sys.exit(gate(sys.argv[2] if len(sys.argv) > 2 else "bench_out.json"))
    if len(sys.argv) > 1 and sys.argv[1] == "--snapshot-check":
        sys.exit(snapshot_check(sys.argv[2] if len(sys.argv) > 2 else "."))
    if len(sys.argv) > 1 and sys.argv[1] == "--selftest":
        sys.exit(selftest())
    sys.exit(compare(sys.argv[1], sys.argv[2], sys.argv[3:]))
