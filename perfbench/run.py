#!/usr/bin/env python3
"""CDC feed benchmark: Kafka-shaped frames -> K1 sink -> feed page.

Run from the repository root:

    python3 perfbench/run.py --workload ingest|serve --seed N \
        --seconds S --trace 0|1

Builds the program from `src/main/scala` together with the benchmark in
`perfbench/src` (sbt, first run only), then runs one workload in a fresh
JVM. The last line of standard output is one JSON object with `correct`,
`attempted`, `failed` and `metrics`: the end-to-end metrics of
BENCHMARK.json with `--trace 0`, its per-layer metrics with `--trace 1`.
A traced `serve` run also runs a sample of registry queries, whose results
are checked here against their DuckDB oracle SQL. Exits 1 when a
correctness check fails and 2 when the run cannot start. Traced runs keep
their spans in `perfbench/traces/`.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src", "main", "scala")

# Spark on JDK 17 outside spark-submit needs these (the list build.sbt uses).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
JVM_SECONDS = 170
BUILD_SECONDS = 840


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def digest():
    h = hashlib.sha256()
    for base in (PROGRAM_SRC, BENCH_SRC):
        for d, _, files in sorted(os.walk(base)):
            for f in sorted(files):
                if f.endswith(".scala"):
                    p = os.path.join(d, f)
                    h.update(p[len(ROOT):].encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    with open(os.path.join(HERE, "build.sbt"), "rb") as fh:
        h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile once per source state; returns the runtime classpath."""
    stamp, cp_file = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath")
    want = digest()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as fh:
            if fh.read() == want:
                with open(cp_file) as c:
                    return c.read()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        repos = os.path.expanduser("~/.sbt/repositories")
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g"
                           + (f" -Dsbt.repository.config={repos}" if os.path.exists(repos) else ""))
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT, timeout=BUILD_SECONDS)
    with open(log) as fh:
        lines = fh.read().splitlines()
    cps = [l for l in lines if os.pathsep in l and "scala-2.13" in l and not l.startswith("[")]
    if r.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        die("build failed")
    with open(cp_file, "w") as fh:
        fh.write(cps[-1].strip())
    with open(stamp, "w") as fh:
        fh.write(want)
    return cps[-1].strip()


def canon(v):
    """A result value in a form both engines agree on, sortable by kind."""
    if v is None:
        return (0, "")
    if isinstance(v, int):
        return (1, v)
    if isinstance(v, float):
        return (2, round(v, 6))
    return (3, str(v))


def rows(con, sql):
    """Column names and the order-insensitive multiset of rows of `sql`."""
    cur = con.execute(sql)
    names = [d[0] for d in cur.description]
    order = sorted(range(len(names)), key=names.__getitem__)
    return sorted(names), sorted(tuple(canon(r[i]) for i in order) for r in cur.fetchall())


def check_analytics(work):
    """Compares each registry-query result of a traced serve run with its
    DuckDB oracle over the same generated tables: column names, row count
    and rows, order aside. Returns (queries checked, queries failed)."""
    base = os.path.join(work, "analytics")
    out = os.path.join(base, "out")
    if not os.path.isdir(out):
        return 0, 0
    import duckdb
    con = duckdb.connect()
    tables = os.path.join(base, "tables")
    for t in sorted(os.listdir(tables)):
        if t.endswith(".parquet"):
            con.execute(f"CREATE VIEW {t[:-len('.parquet')]} AS "
                        f"SELECT * FROM read_parquet('{os.path.join(tables, t)}/*.parquet')")
    names = sorted(f[:-len(".sql")] for f in os.listdir(out) if f.endswith(".sql"))
    failed = 0
    for name in names:
        try:
            with open(os.path.join(out, name + ".sql")) as fh:
                want = rows(con, fh.read())
            got = rows(con, f"SELECT * FROM read_parquet('{os.path.join(out, name)}/*.parquet')")
        except Exception as e:  # an oracle or read error fails the query
            want, got = ("error", str(e)), None
        if got != want:
            failed += 1
            print(f"[perfbench] {name}: result differs from the DuckDB oracle "
                  f"({len(got[1]) if got else 'no'} rows vs {len(want[1])})", file=sys.stderr)
        else:
            print(f"[perfbench] {name}: {len(got[1])} rows match the DuckDB oracle", file=sys.stderr)
    return len(names), failed


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(PROGRAM_SRC, "graft")):
        die(f"program sources not found under {PROGRAM_SRC}")
    with open(spec_path) as fh:
        spec = json.load(fh)
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        die(f"unknown workload {a.workload}")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        die("java and sbt must be on PATH")

    cp = build()
    work = os.path.join(HERE, "work", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m",
           "-Dspark.sql.codegen.cache.maxEntries=8192",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work]
    log = os.path.join(work, "jvm.log")
    try:
        with open(log, "w") as err:
            r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err,
                               text=True, timeout=JVM_SECONDS)
    except subprocess.TimeoutExpired:
        r = None
    with open(log) as fh:
        jvm_lines = fh.read().splitlines()
    tail = jvm_lines[-30:]
    lines = r.stdout.strip().splitlines() if r is not None else []
    if r is None or not lines or not lines[-1].startswith("{"):
        sys.stderr.write("\n".join(tail) + "\n")
        shutil.rmtree(work, ignore_errors=True)
        die("run timed out" if r is None else f"run failed (exit {r.returncode})")
    result = json.loads(lines[-1])
    checked, bad = check_analytics(work)
    result["attempted"] += checked
    result["failed"] += bad
    result["correct"] = result["correct"] and bad == 0
    for l in jvm_lines:
        if l.startswith("[perfbench"):
            print(l, file=sys.stderr)

    # The metrics printed must be exactly the ones BENCHMARK.json declares.
    want = {m["name"]: m["unit"] for m in spec["per_layer" if a.trace else "end_to_end"]}
    got = {n: m["unit"] for n, m in result["metrics"].items()}
    if got != want:
        shutil.rmtree(work, ignore_errors=True)
        die(f"metrics differ from BENCHMARK.json: missing {sorted(set(want) - set(got))}, "
            f"extra {sorted(set(got) - set(want))}")
    if a.trace:
        os.makedirs(os.path.join(HERE, "traces"), exist_ok=True)
        shutil.copy(os.path.join(work, "trace.jsonl"),
                    os.path.join(HERE, "traces", f"{a.workload}-{a.seed}.jsonl"))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
