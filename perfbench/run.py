#!/usr/bin/env python3
"""Extraction benchmark: one workload, one seed, one result line.

Run from the root of a checkout:

    python3 perfbench/run.py --workload scanned_pages --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --selftest

The program is compiled from the checkout's own sources (perfbench/build.sbt,
output under .bench_build/) the first time and whenever a source changes.
One JVM with local[nproc] Spark then sets the workload up, times its passes
and checks every output; `curate` results are checked here against DuckDB's
evaluation of each query's SparkEntry.oracleSql restatement. The last line
of stdout is the JSON result; with --trace 1 the metrics are the per-layer
ones and the spans are written to .bench_build/traces/.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

T0 = time.monotonic()
DEADLINE_S = 170  # a run must end within 180 s
BUILD_DEADLINE_S = 880  # the first run of a checkout also builds
HEAP = "3g"
WORKLOADS = ["scanned_pages", "curate"]
BENCH = Path(__file__).resolve().parent
ROOT = Path.cwd()
BUILD = ROOT / ".bench_build"


def applies(workload, name):
    """Whether a workload measures a metric; the others report it as 0."""
    if name.startswith("query."):
        return workload == "curate"
    if name.startswith(("pipeline.", "image.", "ocr.", "text.")):
        return workload == "scanned_pages"
    return True


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def nproc():
    return len(os.sched_getaffinity(0))


def sources():
    files = [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for d in (ROOT / "src" / "main" / "scala", BENCH / "src"):
        files += sorted(d.rglob("*.scala"))
    return files


def build():
    """Compiles with sbt when a source changed; returns the runtime classpath."""
    if not (ROOT / "src" / "main" / "scala").is_dir():
        fail("no program sources under src/main/scala: run from the root of a checkout")
    h = hashlib.sha256()
    for f in sources():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp = h.hexdigest()
    cp_file = BUILD / "target" / "classpath.txt"
    stamp_file = BUILD / "stamp"
    if stamp_file.exists() and stamp_file.read_text() == stamp and cp_file.exists():
        cp = cp_file.read_text().strip()
        if all(Path(p).exists() for p in cp.split(os.pathsep)):
            return cp
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SPARK_HOME" not in env and shutil.which("spark-submit"):
        env["SPARK_HOME"] = str(Path(shutil.which("spark-submit")).resolve().parent.parent)
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    BUILD.mkdir(exist_ok=True)
    with open(BUILD / "build.log", "w") as log:
        r = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                      cwd=BENCH, env=env, stdout=log, stderr=subprocess.STDOUT,
                      deadline=BUILD_DEADLINE_S)
    if r != 0 or not cp_file.exists():
        sys.stderr.write((BUILD / "build.log").read_text()[-4000:])
        fail(f"build failed (exit {r}); log in {BUILD / 'build.log'}")
    stamp_file.write_text(stamp)
    return cp_file.read_text().strip()


def run_child(cmd, deadline, **kw):
    """Runs cmd in its own process group; kills the group on overrun."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=max(1, deadline - (time.monotonic() - T0)))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{cmd[0]} overran the time limit")
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


JVM_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def run_jvm(cp, workload, seed, seconds, trace, work, deadline):
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-XX:ActiveProcessorCount={nproc()}",
           f"-Djava.io.tmpdir={work / 'tmp'}", "-Dfile.encoding=UTF-8", "-Dstdout.encoding=UTF-8",
           "-Dspark.ui.enabled=false"]
    for o in JVM_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", "1" if trace else "0",
            "--work", str(work), "--cores", str(nproc())]
    out_path = work / "jvm.out"
    with open(out_path, "w") as out, open(work / "jvm.err", "w") as err:
        r = run_child(cmd, deadline, cwd=ROOT, stdout=out, stderr=err)
    text = out_path.read_text()
    if r != 0:
        sys.stderr.write((work / "jvm.err").read_text()[-6000:])
        fail(f"benchmark JVM exited with {r}")
    lines = [l for l in text.splitlines() if not l.startswith("PERFBENCH ")]
    result = [l for l in text.splitlines() if l.startswith("PERFBENCH ")]
    if not result:
        fail("benchmark JVM printed no result")
    return lines, json.loads(result[-1][len("PERFBENCH "):])


# ---- curate oracle checks ------------------------------------------------

def canon(rows, cols):
    """Order-independent row canon, as tools/check_oracles.py builds it."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = f"{v:.9g}"
            vals.append(str(v))
        out.append("\x01".join(vals))
    out.sort()
    return out


# CTE heads of the oracle SQL. DuckDB inlines a CTE at every reference, and
# the chained ingest-gate oracles reference each gate from every later one;
# evaluating each CTE once (AS MATERIALIZED) keeps the same result at a
# fraction of the time and memory.
CTE_HEAD = re.compile(r"\b(\w+) AS \((?=\s*(SELECT|WITH|VALUES)\b)")


class Oracle:
    def __init__(self, data_dir, oracle_sql):
        import duckdb
        self.con = duckdb.connect()
        self.con.execute(f"SET threads = {nproc()}")
        self.con.execute("SET memory_limit = '2GB'")
        self.con.execute(f"SET temp_directory = '{data_dir}/duckdb-tmp'")
        for t in ("documents", "events"):
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet/*.parquet')")
        self.sql = oracle_sql
        self.want = {}

    def expected(self, name):
        if name not in self.want:
            rows = self.con.execute(CTE_HEAD.sub(r"\1 AS MATERIALIZED (", self.sql[name])).fetchall()
            cols = [c[0] for c in self.con.description]
            self.want[name] = (sorted(cols), canon(rows, cols))
        return self.want[name]

    def matches(self, name, relation):
        """relation: SQL producing the Spark result; True iff it equals the oracle."""
        rows = self.con.execute(f"SELECT * FROM {relation}").fetchall()
        cols = [c[0] for c in self.con.description]
        want_cols, want = self.expected(name)
        return sorted(cols) == want_cols and canon(rows, cols) == want


def check_curate(res, work):
    oracle = Oracle(res["data_dir"], json.loads((work / "oracle_sql.json").read_text()))
    ok = 0
    for c in res["checks"]:
        if oracle.matches(c["query"], f"read_parquet('{c['dir']}/*.parquet')"):
            ok += 1
        else:
            print(f"oracle mismatch: {c['query']} pass {c['pass']}", file=sys.stderr)
    # a query that threw has no output to check and counts as wrong
    return ok / res["attempted"]


# ---- main ----------------------------------------------------------------

def selftest(cp):
    work = BUILD / f"work-selftest-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    try:
        lines, res = run_jvm(cp, "selftest", 7, 1, False, work, DEADLINE_S)
        print("\n".join(lines))
        passed = res["failed"] == 0
        oracle = Oracle(res["data_dir"], json.loads((work / "oracle_sql.json").read_text()))
        for c in res["checks"]:
            rel = f"read_parquet('{c['dir']}/*.parquet')"
            good = oracle.matches(c["query"], rel)
            n = oracle.con.execute(f"SELECT count(*) FROM {rel}").fetchone()[0]
            # planted wrong results: one row dropped, one row duplicated
            dropped = oracle.matches(c["query"], f"(SELECT * FROM {rel} LIMIT {max(n - 1, 0)})")
            doubled = oracle.matches(c["query"], f"(SELECT * FROM {rel} UNION ALL (SELECT * FROM {rel} LIMIT 1))")
            planted_ok = not dropped and (n == 0 or not doubled)
            print(f"selftest oracle {c['query']}: rows={n} real={'MATCH' if good else 'MISMATCH'} "
                  f"planted={'REJECTED' if planted_ok else 'ACCEPTED'}")
            passed = passed and good and planted_ok and n > 0
        print("selftest", "PASS" if passed else "FAIL")
        return 0 if passed else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    cp = build()
    global T0
    T0 = time.monotonic()  # the build has its own allowance
    if a.selftest:
        sys.exit(selftest(cp))

    work = BUILD / f"work-{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    try:
        lines, res = run_jvm(cp, a.workload, a.seed, a.seconds, a.trace == 1, work, DEADLINE_S - 15)
        metrics = dict(res["metrics"])
        if a.workload == "curate":
            metrics["correct_rate"] = check_curate(res, work)
        if a.trace:
            trace_dir = BUILD / "traces"
            trace_dir.mkdir(parents=True, exist_ok=True)
            shutil.copy(work / "trace.jsonl", trace_dir / f"{a.workload}-seed{a.seed}.jsonl")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print("\n".join(lines))
    metrics["pass_samples"] = metrics.pop("passes")
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    out = {}
    for m in wanted:
        name = m["name"]
        if name in metrics:
            out[name] = {"value": metrics[name], "unit": m["unit"]}
        elif applies(a.workload, name):
            fail(f"metric {name} was not measured")
        else:
            out[name] = {"value": 0.0, "unit": m["unit"]}
    correct = metrics["correct_rate"] == 1.0 and res["failed"] == 0
    print(json.dumps({"correct": correct, "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": out}))


if __name__ == "__main__":
    main()
