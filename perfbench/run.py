#!/usr/bin/env python3
"""External benchmark of the graft engine.

Usage (from the repository root):
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (BENCHMARK.json says why each exists; perfbench/src/main/scala/
perfbench/Workloads.scala lists their rows):
    warehouse_sql    short SQL rows of the warehouse packs
    corpus_pipeline  per-document text kernels and the image near-dup join
    lifecycle        the land/refresh/gates/rebuild/compact/vacuum walk,
                     whose refresh stage runs seven graph fixpoints

Load shape: one process, one client, closed loop (the next row starts when
the previous one has completed), local[nproc] with nproc shuffle partitions
and graft.Bench's session settings. Inputs are tables generated from a
fixed seed by perfbench/gen_data.py; --seed permutes the row order of a
query workload and, in the lifecycle walk, picks which doc_id residue class
lands in which batch and which rows the gates probe.

What one run does:
  1. Builds the harness (perfbench/build.sbt, compiled against the engine
     sources through a project reference) when its sources changed, and
     generates the input tables when they are missing. Both land under
     perfbench/.work/.
  2. Starts one JVM (perfbench.Main). It sets up three times: the first
     from JVM start, each later one on a fresh session. A query workload's
     set-up runs one warm-up row and then every row once; the first set-up
     is the checking pass, which dumps each row's result. The lifecycle
     workload's set-up reads its inputs. A query workload then times
     max(5, seconds / its nominal pass length) passes. The lifecycle
     workload times one walk from the cold JVM, as a scheduled batch runs
     it, and checks each batch's bronze row counts between stages.
     With --trace 1 the JVM also runs two passes (or one more warm walk and
     a traced walk) under a SparkListener and a QueryExecutionListener,
     times each SessionMemo artifact build of the workload's packs on a
     fresh session, and writes the spans to
     perfbench/.work/<workload>/spans-<workload>.json.
  3. Compares each dumped row with the result of the DuckDB oracle SQL the
     engine registers for it (columns, row count, content hash of the
     sorted rows), counting a mismatch as a failed operation.
  4. Prints a report line (validity record, per-row medians, excluded rows,
     failures) and, last, one JSON object: correct, attempted, failed,
     metrics.

End-to-end metrics (--trace 0), each the median over the run's passes:
  total_s        wall time of one pass (lifecycle: one walk)
  row_geomean_s  geometric mean over rows (lifecycle: stages) of their
                 median wall time
  cpu_s          JVM process CPU-seconds of one pass (walk)
  setup_s        median of the two set-ups on a fresh session; the first
                 set-up, from JVM start, is reported as cold_setup_s in
                 the validity record
  retained_mb    JVM heap in use after full GCs, plus persisted blocks on
                 disk, after the timed passes
  write_amp      lifecycle: bytes written into the warehouse per byte landed
                 in bronze; query workloads: bytes Spark wrote to local disk
                 per pass (shuffle files and spill) per byte of input tables
  files_after    lifecycle: warehouse files after compaction and vacuum;
                 query workloads: files the JVM holds open after the passes
Per-layer metrics (--trace 1) are listed in BENCHMARK.json; a name that
belongs to another workload (its rows, stages or artifacts) reads 0.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# gen_data.py and the oracle gate's tools/check_oracle.py are imported;
# no bytecode is written next to them
sys.dont_write_bytecode = True
sys.path[:0] = [HERE, os.path.join(ROOT, "tools")]
import gen_data  # noqa: E402
WORK = os.path.join(HERE, ".work")
JVM_LIMIT_S = 160
JVM_HEAP = "3g"
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_stamp():
    """Digest of every file the harness build compiles from."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        files += [p for p in glob.glob(os.path.join(base, "**", "*"), recursive=True)
                  if os.path.isfile(p) and "/target/" not in p]
    for p in sorted(files):
        st = os.stat(p)
        h.update(f"{p}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def classpath():
    """Compiles the harness if its sources changed; returns its classpath."""
    cp_file, stamp_file = os.path.join(WORK, "classpath.txt"), os.path.join(WORK, "stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(WORK, exist_ok=True)
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, stdout=out, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=850)
    lines = open(log).read().splitlines()
    if r.returncode != 0 or not lines:
        fail(f"harness build failed, see {log}:\n" + "\n".join(lines[-20:]))
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def data_dir():
    """Generates the input tables once per version of gen_data.py."""
    src = open(os.path.join(HERE, "gen_data.py"), "rb").read()
    d = os.path.join(WORK, "data-" + hashlib.sha256(src).hexdigest()[:12])
    if not os.path.exists(os.path.join(d, "DONE")):
        shutil.rmtree(d, ignore_errors=True)
        gen_data.write(d)
        open(os.path.join(d, "DONE"), "w").close()
    return d


def frame_summary(df):
    """Columns, row count and order-independent content hash of a
    normalised frame; two normalised frames with equal summaries hold the
    same rows."""
    import pandas as pd
    h = int(pd.util.hash_pandas_object(df, index=False).astype("uint64").sum()) \
        if len(df) else 0
    return {"columns": list(df.columns), "dtypes": [str(t) for t in df.dtypes],
            "rows": len(df), "hash": h}


def oracle_check(data, check_dir, rows):
    """Compares each dumped row with the result of its oracle SQL in DuckDB
    by column set, row count and content hash of the normalised rows. The
    oracle's summary is cached under perfbench/.work/oracle/, keyed by the
    SQL text and the input tables. Frames are normalised as the repo's
    oracle gate (tools/check_oracle.py) normalises them. Returns the per-row
    summaries and the mismatches."""
    import duckdb
    from check_oracle import TABLES, norm
    oracle = json.load(open(os.path.join(check_dir, "oracle_sql.json")))
    cache_dir = os.path.join(WORK, "oracle")
    os.makedirs(cache_dir, exist_ok=True)
    con = None
    results, mismatches = {}, []
    for name in rows:
        files = glob.glob(os.path.join(check_dir, name, "*.parquet"))
        sql = oracle.get(name)
        try:
            if not files:
                raise ValueError("no output was written")
            if sql is None:
                raise ValueError("no oracle SQL is registered")
            key = hashlib.sha256(f"{data}\0{sql}".encode()).hexdigest()
            cached = os.path.join(cache_dir, key + ".json")
            if os.path.exists(cached):
                want = json.load(open(cached))
            else:
                if con is None:
                    con = duckdb.connect()
                    for t in TABLES:
                        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                    f"read_parquet('{os.path.join(data, t + '.parquet')}')")
                want = frame_summary(norm(con.execute(sql).fetchdf()))
                with open(cached, "w") as f:
                    json.dump(want, f)
            got = frame_summary(norm(duckdb.sql(
                f"SELECT * FROM read_parquet({files!r})").fetchdf()))
            for field in ("columns", "rows", "dtypes", "hash"):
                if got[field] != want[field]:
                    raise ValueError(f"{field} {got[field]} != oracle {want[field]}")
            results[name] = {"rows": got["rows"], "hash": got["hash"]}
        except Exception as e:  # a mismatch is one failed operation
            mismatches.append([name, f"oracle check: {type(e).__name__}: {e}"])
    return results, mismatches


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    t_start = time.time()

    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft",
                                       "SparkEntry.scala")):
        fail("the engine sources (src/main/scala/graft) are not next to perfbench/")
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload}")
    declared = spec["per_layer"] if a.trace else spec["end_to_end"]

    cp = classpath()
    data = data_dir()
    t_jvm = time.time()
    work = os.path.join(WORK, a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java"] + [x for p in JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={work}/tmp", "-cp", cp,
              "perfbench.Main", a.workload, str(a.seed), str(a.seconds), str(a.trace),
              data, work])
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=JVM_LIMIT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"the harness JVM ran past {JVM_LIMIT_S} s, see {log}")
    report_file = os.path.join(work, "report.json")
    if rc != 0 or not os.path.exists(report_file):
        tail = open(log).read().splitlines()[-30:]
        fail(f"the harness JVM exited with {rc}, see {log}:\n" + "\n".join(tail))
    report = json.load(open(report_file))
    t_check = time.time()

    checks, mismatches = ({}, [])
    if report.get("checked"):
        # a row whose checking-pass run already failed has no dump to compare
        ran = [r for r in report["checked"] if r not in {f[0] for f in report["failures"]}]
        checks, mismatches = oracle_check(data, report["check_dir"], ran)
    failures = report["failures"] + mismatches

    got = dict(report["metrics"])
    # a per-layer metric of another workload (its rows, artifacts or
    # lifecycle stages) reads 0 here; any other missing name is an error
    others = set(report["other_workloads_metrics"])
    missing = [m["name"] for m in declared
               if m["name"] not in got and m["name"] not in others]
    if missing:
        fail(f"the harness reported no value for {missing}")
    metrics = {m["name"]: {"value": got.get(m["name"], 0.0), "unit": m["unit"]}
               for m in declared}

    report["oracle"] = checks
    report["run_phases_s"] = {"build_and_data": t_jvm - t_start, "jvm": t_check - t_jvm,
                              "oracle_check": time.time() - t_check}
    report["failures"] = failures
    report["metrics_not_declared"] = sorted(set(got) - set(metrics))
    with open(os.path.join(work, "report.json"), "w") as f:
        json.dump(report, f, indent=1)
    print(json.dumps({k: report[k] for k in report
                      if k not in ("metrics", "check_dir", "other_workloads_metrics")}))
    print(json.dumps({"correct": not failures, "attempted": report["attempted"],
                      "failed": len(failures), "metrics": metrics}))


if __name__ == "__main__":
    main()
