#!/usr/bin/env python3
"""Self-check: compare Verify output parquet against DuckDB oracle SQL.

Mimics the driver's correctness gate: for each query in oracle_sql.json,
run the SQL in DuckDB over the sf parquet tables, sort columns by name,
sort rows, and compare against the Spark-written parquet.

Usage: selfcheck.py <sfDir> <verifyOutDir> [nameRegex]

The optional nameRegex mirrors graft.Verify's third argument: only the
gates whose names it matches (re.search, like Scala's findFirstIn) are
compared, so a filtered Verify run is not reported as "no spark output"
for every gate it skipped.
"""
import sys, os, json, glob

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

def canon(con, rel_sql):
    df = con.execute(rel_sql).fetchdf()
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:  # dtype-normalize: int widths / float widths
        if str(df[c].dtype).startswith(("int", "uint", "Int")):
            df[c] = df[c].astype("Int64")
        elif str(df[c].dtype) == "float32":
            df[c] = df[c].astype("float64")
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df

def main(sf_dir, out_dir, name_re=None):
    import duckdb  # oracle-compare only; the scan modes run without it
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    import re
    wanted = (lambda n: re.search(name_re, n) is not None) if name_re else (lambda n: True)
    oracle = {n: sql for n, sql in oracle.items() if wanted(n)}
    n_pass = n_fail = 0
    for name in sorted(oracle):
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output"); n_fail += 1; continue
        try:
            got = canon(con, f"SELECT * FROM read_parquet({files!r})")
            want = canon(con, f"SELECT * FROM ({oracle[name]})")
        except Exception as e:
            print(f"FAIL {name}: {e}"); n_fail += 1; continue
        # driver-hash hazard: the driver reads spark parquet and the
        # oracle through different decimal value paths, so ANY decimal
        # gate column hash-mismatches even when values are equal (r11:
        # q207/q214/q232 — the only three decimal-output gates were the
        # only three hash fails). pandas fetchdf would mask it (decimal
        # → float64), so check the parquet schema directly.
        import pyarrow.parquet as pq
        decs = [f"{n}:{t}" for n, t in zip(pq.read_schema(files[0]).names,
                                           pq.read_schema(files[0]).types)
                if "decimal" in str(t)]
        if decs:
            print(f"FAIL {name}: DECIMAL gate column(s) {decs} — cast to "
                  f"double/bigint in gate AND oracle"); n_fail += 1; continue
        if list(got.columns) != list(want.columns):
            print(f"FAIL {name}: cols {list(got.columns)} vs {list(want.columns)}"); n_fail += 1; continue
        if len(got) != len(want):
            print(f"FAIL {name}: rows {len(got)} vs {len(want)}"); n_fail += 1; continue
        eq = got.equals(want)
        if not eq:
            # locate first differing cell for diagnostics
            diffcols = [c for c in got.columns if not got[c].equals(want[c])]
            print(f"FAIL {name}: value mismatch in {diffcols}")
            for c in diffcols[:2]:
                neq = got[c] != want[c]
                idx = neq[neq].index[:3]
                for i in idx:
                    print(f"   {c}[{i}]: spark={got[c][i]!r} oracle={want[c][i]!r}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(got)} rows)"); n_pass += 1
    queries_no_oracle = set(os.path.basename(d) for d in glob.glob(f"{out_dir}/*")
                            if os.path.isdir(d) and wanted(os.path.basename(d))) - set(oracle)
    for name in sorted(queries_no_oracle):
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        n = con.execute(f"SELECT count(*) FROM read_parquet({files!r})").fetchone()[0] if files else 0
        print(f"ROWS-ONLY {name}: {n} rows {'OK' if n > 0 else 'EMPTY!'}")
    print(f"\n{n_pass} pass, {n_fail} fail")
    return 1 if n_fail else 0

# The gate harness: the gate registry, the gate files under gates/
# and the two runners. Their defs are not operators, and their calls
# are what wires an operator into a gate.
HARNESS = ("SparkEntry.scala", "Verify.scala", "Bench.scala", "gates/*.scala")

def harness_files(repo="."):
    return {os.path.normpath(p) for pat in HARNESS
            for p in glob.glob(f"{repo}/src/main/scala/graft/{pat}")}

DEF_IGNORE = {"main", "apply", "unapply", "toString", "equals", "hashCode"}

def collect_module_defs(repo="."):
    """(module, name) -> file:line of every member-level public
    operator def (2-space indent: deeper indents are local helpers,
    `override` implements a Spark interface, private/protected are
    internal by construction). `module` is the enclosing top-level
    object or class, qualified by the file's package clauses
    (`graft.core.Parquet`), so two objects' `read` stay apart."""
    import re
    harness = harness_files(repo)
    defs = {}
    for path in sorted(glob.glob(f"{repo}/src/main/scala/graft/**/*.scala",
                                 recursive=True)):
        if os.path.normpath(path) in harness \
                or "/tmp/" in path.replace("\\", "/"):
            continue
        pkg, owner = [], None
        for i, line in enumerate(open(path), 1):
            m = re.match(r"package\s+([\w.]+)", line)
            if m:
                pkg.append(m.group(1))
                continue
            m = re.match(r"(?:[\w\[\]]+\s+)*(?:object|class|trait)\s+(\w+)",
                         line)
            if m:
                owner = ".".join(pkg + [m.group(1)])
                continue
            m = re.match(r"  def\s+([a-zA-Z]\w*)", line)
            if m and m.group(1) not in DEF_IGNORE:
                defs.setdefault((owner, m.group(1)), f"{path}:{i}")
    return defs

def collect_defs(repo="."):
    """name -> file:line of every public operator def by bare name
    (first declaration wins for shared names) — what the operator scan
    matches call sites against."""
    defs = {}
    for (_, name), where in collect_module_defs(repo).items():
        defs.setdefault(name, where)
    return defs

def api_index_check(repo="."):
    """README's 'API index' section must name every public operator
    exactly once in its own module's row (backticked), and name
    nothing that no longer exists — the front-door index cannot go
    stale without failing the round. Keyed by object-qualified name,
    so the same name in two objects is two entries, one per row."""
    import re
    defs = collect_module_defs(repo)
    readme = open(f"{repo}/README.md").read()
    m = re.search(r"## API index.*?(?=\n## )", readme, re.S)
    if not m:
        print("API INDEX: no '## API index' section in README.md")
        return 1
    # one row per module: | `graft.pkg.Object` | `op` `op` … |
    toks = {}
    for mod, ops in re.findall(r"^\|\s*`([\w.]+)`\s*\|(.*)\|\s*$",
                               m.group(0), re.M):
        for t in re.findall(r"`([A-Za-z]\w*)`", ops):
            toks[(mod, t)] = toks.get((mod, t), 0) + 1
    bad = 0
    for (mod, n), w in sorted(defs.items()):
        c = toks.get((mod, n), 0)
        if c != 1:
            print(f"API INDEX {'MISSING' if c == 0 else 'DUPLICATED'} "
                  f"{mod}.{n} ({w}): appears {c}x in README index")
            bad += 1
    for mod, t in sorted(toks):
        if (mod, t) not in defs:
            print(f"API INDEX STALE {mod}.{t}: in README index but no "
                  f"such public operator")
            bad += 1
    if not bad:
        print(f"api index: {len(defs)} operators, README index exact")
    return 1 if bad else 0

def strip_scala_noise(src):
    """Blank out line comments, (nested) block comments, and string
    literals from Scala source, preserving everything else — so the
    operator scan's call-shaped regexes can never be satisfied by
    PROSE (a scaladoc cross-link like 'exactly what Spatial.gridClusters
    feeds in' is dot-qualified and call-shaped, but it is a comment,
    not a reference; round-15 advice). Stripped regions become spaces
    so file positions stay stable. String interpolator holes are not
    re-entered (conservative: the whole literal is blanked — a test
    whose ONLY reference to an operator lives inside a string was
    never a compile-checked reference anyway)."""
    out = list(src)
    i, n = 0, len(src)
    NORMAL, LINE, BLOCK, STR, TRIPLE, CHAR = range(6)
    state, depth = NORMAL, 0
    while i < n:
        c = src[i]
        nxt = src[i + 1] if i + 1 < n else ""
        if state == NORMAL:
            if c == "/" and nxt == "/":
                state = LINE
                out[i] = out[i + 1] = " "
                i += 2
                continue
            if c == "/" and nxt == "*":
                state, depth = BLOCK, 1
                out[i] = out[i + 1] = " "
                i += 2
                continue
            if src.startswith('"""', i):
                state = TRIPLE
                out[i] = out[i + 1] = out[i + 2] = " "
                i += 3
                continue
            if c == '"':
                state = STR
                out[i] = " "
                i += 1
                continue
            # char literal — only when it LOOKS like one ('x' or '\n');
            # a lone quote is a symbol/generic tick, leave it
            if c == "'" and (src[i + 1:i + 3].endswith("'")
                             or src[i + 1:i + 4].endswith("'")
                             and nxt == "\\"):
                j = src.find("'", i + 1 + (2 if nxt == "\\" else 1))
                if j != -1 and j - i <= 3:
                    for k in range(i, j + 1):
                        out[k] = " "
                    i = j + 1
                    continue
            i += 1
        elif state == LINE:
            if c == "\n":
                state = NORMAL
            else:
                out[i] = " "
            i += 1
        elif state == BLOCK:
            if c == "/" and nxt == "*":
                depth += 1
                out[i] = out[i + 1] = " "
                i += 2
            elif c == "*" and nxt == "/":
                depth -= 1
                out[i] = out[i + 1] = " "
                i += 2
                if depth == 0:
                    state = NORMAL
            else:
                if c != "\n":
                    out[i] = " "
                i += 1
        elif state == STR:
            if c == "\\" and nxt:
                out[i] = out[i + 1] = " "
                i += 2
            elif c == '"':
                out[i] = " "
                state = NORMAL
                i += 1
            elif c == "\n":  # unterminated — bail to normal
                state = NORMAL
                i += 1
            else:
                out[i] = " "
                i += 1
        elif state == TRIPLE:
            if src.startswith('"""', i):
                # consume any extra trailing quotes ("""...."""" case)
                j = i
                while j < n and src[j] == '"':
                    out[j] = " "
                    j += 1
                i = j
                state = NORMAL
            else:
                if c != "\n":
                    out[i] = " "
                i += 1
    return "".join(out)

def operator_scan(repo="."):
    """Fail on any PUBLIC operator in src/main that is neither wired
    into a gate (the harness files) nor referenced by any test source.

    This is the structural fix for the closing-wave slip (rounds 9, 12,
    13 all shipped an operator with no gate/spec in the final commit):
    a public `def` that nothing gates and nothing tests is unverified
    by this repo's own bar and fails the round here.
    """
    import re
    defs = collect_defs(repo)
    refs = ""
    for path in glob.glob(f"{repo}/src/test/scala/**/*.scala",
                          recursive=True):
        refs += open(path).read()
    for p in sorted(harness_files(repo)):
        refs += open(p).read()
    # Strip comments and string literals BEFORE matching (round-15
    # advice): the dotted-reference alternative would otherwise accept
    # a scaladoc cross-link ('…what Spatial.gridClusters feeds in') as
    # a reference. Note the gates' oracle SQL is strings — but every
    # gated operator is ALSO called from a gate's build, which survives.
    refs = strip_scala_noise(refs)
    # CALL-SHAPED references only (round-14 advice): `name(`,
    # `name[T](` or `Object.name(` — a bare \b-word match false-passes
    # any operator whose name collides with an English word already in
    # some test string ("score", "split", "value"...). Method-value
    # (eta) references `Object.name` without parens also count, but
    # only QUALIFIED by a dot, so prose never matches. An `import`
    # line naming the def exactly (incl. rename `{name => alias}`)
    # also counts — that's a deliberate code reference, not prose
    # (FuzzySpec imports damerauLevenshtein under a local alias).
    imports = "\n".join(l for l in refs.splitlines()
                        if re.match(r"\s*import\b", l))
    missing = {n: w for n, w in sorted(defs.items())
               if not re.search(
                   rf"\b{re.escape(n)}\s*[([]|\.\s*{re.escape(n)}\b",
                   refs)
               and not re.search(rf"\b{re.escape(n)}\b", imports)}
    for n, w in missing.items():
        print(f"UNGATED OPERATOR {n} ({w}): no gate wiring and "
              f"no test reference — gate it or cut it")
    if not missing:
        print(f"operator scan: {len(defs)} public defs, all referenced "
              f"by gates or tests")
    return 1 if missing else 0

def scan_selftest():
    """Prove the scan catches an ungated operator even when its name
    is an English word that appears in test PROSE (the round-14 advice
    hole: \\b-word matching false-passed such names). Plants a tiny
    repo: `score` (ungated; 'score' appears in a test string and a
    scaladoc but never as a call) must FAIL; `scoreDocs` (called from
    the test) must PASS."""
    import tempfile, contextlib, io
    # NOT under /tmp — the scan deliberately skips /tmp paths (scratch
    # source dirs); plant under the repo's (gitignored) target/
    scratch = os.path.join(_repo_root(), "target")
    os.makedirs(scratch, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=scratch) as tmp:
        m = os.path.join(tmp, "src/main/scala/graft/ops")
        t = os.path.join(tmp, "src/test/scala/graft")
        os.makedirs(m); os.makedirs(t)
        with open(os.path.join(m, "Planted.scala"), "w") as f:
            f.write("object Planted {\n"
                    "  def score(df: DataFrame): DataFrame = df\n"
                    "  def scoreDocs(df: DataFrame): DataFrame = df\n"
                    "  def gridFeeder(df: DataFrame): DataFrame = df\n"
                    "}\n")
        with open(os.path.join(t, "PlantedSpec.scala"), "w") as f:
            f.write("class PlantedSpec {\n"
                    "  // the quality score column should be non-null\n"
                    "  // exactly what Planted.gridFeeder feeds in\n"
                    "  /** cross-link prose: Planted.gridFeeder(df) */\n"
                    "  val s = \"score\"\n"
                    "  val t2 = \"calls Planted.gridFeeder(x) in SQL\"\n"
                    "  val out = Planted.scoreDocs(df)\n"
                    "}\n")
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            rc = operator_scan(tmp)
        out = buf.getvalue()
        flagged = "".join(l for l in out.splitlines() if "UNGATED" in l)
        ok = (rc == 1 and "UNGATED OPERATOR score " in out
              # dotted call-shaped mentions in comments and strings
              # must NOT count as references (round-15 advice)
              and "UNGATED OPERATOR gridFeeder " in out
              and "scoreDocs" not in flagged)
        print(out, end="")
        print("scan selftest: " +
              ("PASS (planted word-named ungated def flagged, "
               "comment-only dotted mention flagged, called def "
               "accepted)" if ok else "FAIL"))
        return 0 if ok else 1

def _repo_root():
    return os.path.dirname(os.path.dirname(os.path.abspath(__file__))) or "."

if __name__ == "__main__":
    if sys.argv[1] == "--operators":
        # resolve the repo root from this file, not cwd (round-14
        # advice: '.' silently scanned nothing when launched elsewhere)
        sys.exit(operator_scan(_repo_root()))
    if sys.argv[1] == "--scan-selftest":
        sys.exit(scan_selftest())
    if sys.argv[1] == "--api-index":
        sys.exit(api_index_check(_repo_root()))
    rc = operator_scan(_repo_root()) | api_index_check(_repo_root())
    sys.exit(main(sys.argv[1], sys.argv[2],
                  sys.argv[3] if len(sys.argv) > 3 else None) or rc)
