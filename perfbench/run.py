#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload suite|vector \
        --seed N --seconds S --trace 0|1 [--trace-out FILE]

Run from the root of a checkout. Builds the program and the harness from
source on first use (sbt, in ``perfbench/``), generates the inputs from
the seed in a fresh per-run directory under the checkout, runs one
workload in one JVM, checks its outputs, removes the run directory and
prints one JSON line: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics of BENCHMARK.json with ``--trace 0``,
its per-layer metrics with ``--trace 1``). With ``--trace-out`` a traced
run also writes its spans and per-layer metrics to FILE.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
sys.path.insert(0, str(HERE))

# Corpus size of the vector workload: Vector.scala builds the first 500
# docs and streams the rest in batches of 100, more than a run reaches.
CORPUS_DOCS = {"vector": 500 + 100 * 12}
DEADLINE_S = 170
HEAP = "3g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


def sources():
    files = sorted((REPO / "src" / "main").rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala"))
    return files + [HERE / "build.sbt", HERE / "project" / "build.properties"]


def build():
    """Compiles the program and harness unless a build of these exact
    sources exists; returns the runtime classpath."""
    h = hashlib.sha256()
    for f in sources():
        h.update(str(f.relative_to(REPO)).encode())
        h.update(f.read_bytes())
    stamp = h.hexdigest()
    cp_file, stamp_file = HERE / "target" / "classpath.txt", HERE / "target" / "perfbench.stamp"
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.exists():
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building (sbt compile)")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr, timeout=840)
    if r.returncode != 0 or not cp_file.exists():
        raise SystemExit(f"build failed (exit {r.returncode})")
    stamp_file.write_text(stamp)
    return cp_file.read_text().strip()


def oracle_compare(data_dir, out_dir, oracle_file):
    """The untimed pass's outputs against DuckDB running each query's
    oracle SQL over the same tables: columns sorted by name, dtypes equal,
    rows equal in order (floats rounded to 9 places). Returns the names
    that mismatch."""
    import duckdb
    con = duckdb.connect()
    for p in Path(data_dir).glob("*.parquet"):
        con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM '{p}'")
    oracle = json.loads(Path(oracle_file).read_text())

    def norm(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return "NULL"
        return round(v, 9) if isinstance(v, float) else v

    bad = []
    for name, sql in sorted(oracle.items()):
        qdir = Path(out_dir) / name
        try:
            got = con.execute(f"SELECT * FROM '{qdir}/*.parquet'").fetchdf()
            exp = con.execute(sql).fetchdf()
        except Exception as e:  # a missing output or failing oracle is a mismatch
            log(f"oracle {name}: {e}")
            bad.append(name)
            continue
        got, exp = got[sorted(got.columns)], exp[sorted(exp.columns)]
        same = (list(got.columns) == list(exp.columns)
                and [str(t) for t in got.dtypes] == [str(t) for t in exp.dtypes]
                and [tuple(map(norm, r)) for r in got.itertuples(index=False)]
                == [tuple(map(norm, r)) for r in exp.itertuples(index=False)])
        if not same:
            log(f"oracle {name}: output differs from DuckDB")
            bad.append(name)
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(["suite", *CORPUS_DOCS]))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--trace-out")
    a = ap.parse_args()
    if not (REPO / "src" / "main" / "scala" / "graft").is_dir():
        raise SystemExit("no program sources next to perfbench/: run from a full checkout")
    spec = json.loads((REPO / "BENCHMARK.json").read_text())
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    units = {m["name"]: m["unit"] for m in wanted}

    cp = build()
    t_start = time.monotonic()
    run_dir = REPO / ".perfbench_run" / f"{a.workload}-{a.seed}-{os.getpid()}"
    proc = None

    def stop(*_):
        if proc and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        raise SystemExit("interrupted")

    signal.signal(signal.SIGTERM, stop)
    try:
        data = run_dir / "data"
        data.mkdir(parents=True)
        import gen
        if a.workload == "suite":
            gen.tables(str(data), a.seed)
        else:
            gen.corpus(str(data), a.seed, CORPUS_DOCS[a.workload])
        result_file = run_dir / "result.json"
        cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}",
                f"-Dlog4j.configurationFile={HERE / 'log4j2.properties'}",
                f"-Djava.io.tmpdir={run_dir / 'tmp'}"]
               + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
               + ["-cp", cp, "perfbench.Main", a.workload, str(a.seed), str(a.seconds),
                  str(a.trace), str(run_dir), str(data), str(result_file)])
        (run_dir / "tmp").mkdir()
        log(f"inputs generated, {time.monotonic() - t_start:.1f} s")
        # Spark prefers SPARK_LOCAL_DIRS to spark.local.dir: keep its
        # scratch inside the run directory too
        env = dict(os.environ, SPARK_LOCAL_DIRS=str(run_dir / "spark-local"))
        proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, env=env)
        try:
            rc = proc.wait(timeout=max(10, DEADLINE_S - (time.monotonic() - t_start)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit("workload did not finish in time")
        if rc != 0 or not result_file.exists():
            raise SystemExit(f"workload exited with {rc}")
        res = json.loads(result_file.read_text())
        log(f"workload JVM exited, {time.monotonic() - t_start:.1f} s")

        problems = list(res["problems"])
        attempted, failed = dict(res["attempted"]), dict(res["failed"])
        if a.workload == "suite":
            mism = oracle_compare(data, res["oracle_out"], run_dir / "oracle_sql.json")
            # a mismatching query stays in the workload and counts as
            # failed in every round that ran it
            for name in mism:
                kind = res["query_kind"][name]
                failed[kind] = failed.get(kind, 0) + res["rounds"]
        for kind in attempted:
            log(f"ops {kind:22s} attempted {attempted[kind]:5d} failed {failed.get(kind, 0):3d}")
        log(f"rounds {res['rounds']}  result digest {res['digest']}")
        for p in problems:
            log("CHECK FAILED:", p)

        values = dict(res["layer"] if a.trace else res["e2e"])
        unknown = set(values) - set(units)
        if unknown:
            raise SystemExit(f"metrics not in BENCHMARK.json: {sorted(unknown)}")
        metrics = {}
        for name, unit in units.items():
            v = values.get(name, 0.0) if a.trace else values.get(name)
            if v is None or not math.isfinite(v) or (not a.trace and v <= 0):
                problems.append(f"metric {name} = {v}")
                v = 0.0 if v is None or not math.isfinite(v) else v
            metrics[name] = {"value": v, "unit": unit}
        if a.trace and a.trace_out:
            Path(a.trace_out).write_text(json.dumps(
                {"workload": a.workload, "seed": a.seed, "metrics": metrics, "spans": res["spans"]}))
        print(json.dumps({"correct": not problems,
                          "attempted": sum(attempted.values()),
                          "failed": sum(failed.values()),
                          "metrics": metrics}))
    finally:
        if proc and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            run_dir.parent.rmdir()
        except OSError:
            pass


if __name__ == "__main__":
    main()
