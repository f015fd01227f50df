#!/usr/bin/env python3
"""Run one benchmark workload and print its result line.

Usage (from the repository root):

    python3 perfbench/run.py --workload batch|upsert --seed N \
        --seconds S --trace 0|1 [--size full|tiny] [--corrupt 0|1]

The first run in a checkout builds the program and the benchmark from
source with sbt (perfbench/build.sbt loads the repository's own build);
later runs reuse the build while no source file changed. The program
runs in its own JVM on the stored runtime classpath. Everything the run
writes stays under .bench_build/ in the checkout.

The last stdout line is one JSON object with the keys correct,
attempted, failed and metrics. A failed output check prints that line
with "correct": false and exits 1; a run that cannot produce a result
(no sources to build, a build error, a crash) prints no result and exits
2. The full run artifact, with input sizes, latency tails and per-run
facts, is written to .bench_build/perfbench/results/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = ROOT / ".bench_build" / "perfbench"
WORKLOADS = ("batch", "upsert")

# Spark 4 on JDK 17 outside spark-submit needs these module openings.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; on timeout kill the whole group
    and wait for it. Returns (exit code or None on timeout, stdout)."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=max(10, timeout))
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        return None, None


def source_files():
    """Every file the build reads, in a stable order."""
    files = [ROOT / "build.sbt", HERE / "build.sbt",
             HERE / "project" / "build.properties"]
    files += sorted(p for p in (ROOT / "project").glob("*")
                    if p.suffix in (".sbt", ".properties", ".scala"))
    for base in (ROOT / "src" / "main", HERE / "src" / "main"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    return files


def source_stamp():
    h = hashlib.sha256()
    for p in source_files():
        if p.exists():
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", " ".join([
        "-Dsbt.override.build.repos=true",
        f"-Dsbt.repository.config={Path.home() / '.sbt' / 'repositories'}",
        "-Dsbt.offline=true", "-Xmx4g"]))
    return env


def build(deadline):
    """Compile with sbt when the sources changed; return the classpath,
    or None when the build failed."""
    stamp = source_stamp()
    stamp_file = OUT / "build.stamp"
    cp_file = OUT / "classpath.txt"
    if (stamp_file.exists() and cp_file.exists()
            and stamp_file.read_text() == stamp):
        return cp_file.read_text().strip()
    log("building the program and the benchmark with sbt")
    OUT.mkdir(parents=True, exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-J-XX:-UsePerfData",
           f"-Dsbt.global.base={OUT / 'sbt-global'}",
           "export Runtime/fullClasspath"]
    code, out = run_group(cmd, deadline - time.time(), cwd=HERE,
                          env=sbt_env(), text=True, stdout=subprocess.PIPE,
                          stderr=subprocess.STDOUT)
    lines = [l for l in (out or "").splitlines() if l.strip()]
    if code != 0 or not lines or "[error]" in out:
        sys.stderr.write((out or "the build exceeded its time limit\n")[-4000:])
        return None
    cp = lines[-1].strip()
    cp_file.write_text(cp)
    stamp_file.write_text(stamp)
    return cp


def run_jvm(cp, args, work, artifact, deadline):
    java = shutil.which("java") or "java"
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = [java]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # JIT thresholds at 0.3 of the default: hot code reaches its final
    # tier within the warm-up instead of during the first timed blocks
    cmd += ["-XX:CompileThresholdScaling=0.3", "-Xmx3g", "-XX:+UseParallelGC",
            "-Xmn768m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", str(work), "--out", str(artifact),
            "--map", str(ROOT / "fixtures" / "map.csv"),
            "--size", args.size, "--corrupt", str(args.corrupt)]
    if args.gen_only:
        cmd[cmd.index("--work") + 1] = str(Path(args.gen_only).resolve())
        cmd += ["--gen-only", "1"]
    code, _ = run_group(cmd, deadline - time.time(), cwd=ROOT,
                        stdout=sys.stderr)
    if code is None:
        log("the run exceeded its time limit; stopped it")
    return code


def canon(rows):
    """Rows as sorted text, floats by repr: exact, order-free."""
    return sorted("|".join(repr(c) for c in r) for r in rows)


def digest(rows):
    return hashlib.sha256("\n".join(canon(rows)).encode()).hexdigest()


def oracle_digest(docs, sql):
    """DuckDB result digest of the q_e2e_curation oracle on the corpus,
    cached by corpus content and SQL text."""
    import duckdb
    h = hashlib.sha256(sql.encode())
    with open(docs, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    cache = OUT / "oracle" / f"{h.hexdigest()}.json"
    if cache.exists():
        return json.loads(cache.read_text())
    t0 = time.time()
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute(f"SET temp_directory = '{OUT / 'duckdb-tmp'}'")
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM read_json("
        f"'{docs}', format='newline_delimited', "
        "columns={doc_id: 'BIGINT', text: 'VARCHAR'})")
    rows = con.execute(sql).fetchall()
    con.close()
    out = {"digest": digest(rows), "rows": len(rows),
           "seconds": time.time() - t0}
    cache.parent.mkdir(parents=True, exist_ok=True)
    cache.write_text(json.dumps(out))
    return out


def spark_digest(shards_dir):
    import duckdb
    con = duckdb.connect()
    rows = con.execute(
        "SELECT doc_id, cluster_id, bucket, shard, ws_tokens, quality "
        f"FROM read_parquet('{shards_dir}/*.parquet')").fetchall()
    con.close()
    return {"digest": digest(rows), "rows": len(rows)}


def check_curate(facts):
    """Compare the last iteration's output with the DuckDB oracle."""
    sql = Path(facts["oracle_sql_path"]).read_text()
    want = oracle_digest(facts["docs_path"], sql)
    got = spark_digest(facts["shards_dir"])
    facts["oracle"] = {"oracle_rows": want["rows"], "spark_rows": got["rows"],
                       "oracle_seconds": want["seconds"],
                       "match": want["digest"] == got["digest"]}
    return want["digest"] == got["digest"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    ap.add_argument("--corrupt", type=int, choices=(0, 1), default=0)
    ap.add_argument("--gen-only", default=None,
                    help="only write the seeded inputs into this directory")
    args = ap.parse_args()
    start = time.time()

    missing = [p for p in (ROOT / "build.sbt", ROOT / "src" / "main" / "scala",
                           ROOT / "fixtures" / "map.csv") if not p.exists()]
    if missing:
        log("no program to benchmark here: missing "
            + ", ".join(str(p.relative_to(ROOT)) for p in missing))
        return 2

    cp = build(start + 880)
    if cp is None:
        log("the build failed")
        return 2
    # a run that had to build gets the first-run time limit
    deadline = start + (890 if time.time() - start > 30 else 175)

    tag = f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"
    work = OUT / "work" / tag
    artifact = OUT / "results" / f"{args.workload}-seed{args.seed}" \
        f"-trace{args.trace}.json"
    artifact.parent.mkdir(parents=True, exist_ok=True)
    if artifact.exists():
        artifact.unlink()
    try:
        code = run_jvm(cp, args, work, artifact, deadline - 5)
        return report(args, code, artifact)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def report(args, code, artifact):
    """Print the result line from the run artifact; return the exit code."""
    if args.gen_only:
        return 0 if code == 0 else 2
    if code not in (0, 3) or not artifact.exists():
        log(f"the run produced no result (exit {code})")
        return 2
    facts = json.loads(artifact.read_text())
    correct = code == 0 and facts.get("correct") is True
    if correct and args.workload == "batch":
        correct = check_curate(facts)
        if not correct:
            log("CHECK FAILED: curate output differs from the DuckDB oracle")
    facts["correct"] = correct
    artifact.write_text(json.dumps(facts, indent=1))
    if code == 3:
        log(f"CHECK FAILED: {facts.get('error')}")
    result = {"correct": correct,
              "attempted": max(1, int(facts.get("attempted", 0))),
              "failed": int(facts.get("failed", 0)),
              "metrics": facts.get("metrics", {})}
    print(json.dumps(result), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
