#!/usr/bin/env python3
"""The repository's benchmark: one command, two workloads.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
benchmark's JVM side from source into ``.bench_build`` (sbt, offline). Each run
generates its inputs from the seed under ``.bench_work``, runs the JVM side
(``perfbench.Main``) in one process on ``GraftSession.local(nproc)``, checks
every output, deletes its inputs and outputs, and prints a detail line and
then, as the last line, the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1``
the per-layer ones (see README.md for which layer metric should move which
end-to-end metric, on which workload).
"""
import argparse
import hashlib
import json
import math
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
CLASSES = BUILD / "target" / "scala-2.13" / "classes"
JVM_TIMEOUT_S = 150

# input size per workload
WORKLOADS = {
    "tse_etl": {"n_cand": 1500},
    "iterative_ops": {"n_vecs": 1000, "requests": 2},
}
# per-pass values the workload records on every pass, traced or not
PASS_VALUES = {"store.ivfpq.bytes", "store.ivfpq.recall_at_10"}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def declared():
    """BENCHMARK.json's metrics as (end_to_end, per_layer) lists of (name,
    unit)."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return tuple([(m["name"], m["unit"]) for m in spec[k]]
                 for k in ("end_to_end", "per_layer"))


def spark_jars():
    """The Spark jars the program builds against, where its build.sbt says."""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                  (ROOT / "build.sbt").read_text())
    if not m:
        fail("build.sbt names no unmanagedBase directory for the Spark jars")
    return m.group(1)


def heap():
    """The -Xmx the program's build.sbt gives its run JVM."""
    m = re.search(r'-Xmx\$\{sys\.env\.getOrElse\("(\w+)",\s*"(\w+)"\)\}',
                  (ROOT / "build.sbt").read_text())
    if not m:
        fail("build.sbt sets no -Xmx for its run JVM")
    return os.environ.get(m.group(1), m.group(2))


def build(digest):
    """Compile the program and the benchmark's JVM side, unless the classes
    were built from sources with this digest."""
    stamp = BUILD / "built"
    if stamp.exists() and stamp.read_text().strip() == digest and CLASSES.is_dir():
        return
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g", f"-Dperfbench.sparkJars={spark_jars()}"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    BUILD.mkdir(exist_ok=True)
    log = BUILD / "build.log"
    with open(log, "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "compile"], cwd=HERE, env=env, stdout=out,
                           stderr=subprocess.STDOUT, timeout=840)
    if r.returncode != 0:
        sys.stderr.write(log.read_text()[-4000:])
        fail("build failed")
    stamp.write_text(digest + "\n")


def source_digest():
    """Content hash of every source the build compiles, the program's and
    the benchmark's: the checkout is not a git repository, so this stands
    in for the commit."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", HERE / "build.sbt",
             HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(d.rglob("*"))
    for p in files:
        if p.is_file():
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()[:16]


def commit():
    """HEAD when the checkout is itself a git work tree, else None."""
    try:
        r = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"],
                           cwd=ROOT, capture_output=True, text=True, timeout=10)
    except OSError:
        return None
    out = r.stdout.split()
    if r.returncode != 0 or len(out) != 2 or Path(out[0]).resolve() != ROOT:
        return None
    return out[1]


def make_inputs(name, seed, inputs):
    """Generate the workload's inputs; returns (rows, bytes) read per pass."""
    import gen
    spec = WORKLOADS[name]
    expected = {}
    if name == "tse_etl":
        batches, exp, stats = gen.tse_batches(inputs / "tse", seed,
                                              spec["n_cand"])
        expected = {
            "batches": [{"year": y, "cand_zip": c, "votes_zip": v,
                         "misses": exp["misses"][y],
                         "changed_rows": exp["changed_rows"][y]}
                        for y, c, v in batches],
            "tables": {k: exp[k] for k in
                       ("parties", "politicians", "elections", "candidacies")},
        }
        # a timed pass loads the last year; the earlier ones are set-up
        last = batches[-1][0]
        rows, nbytes = stats["rows"][last], stats["bytes"][last]
    else:
        stats = gen.catalog_tables(inputs / "tables", seed, spec["n_vecs"])
        expected = {"requests": gen.ivfpq_requests(seed, spec["n_vecs"],
                                                   spec["requests"])}
        rows = sum(r for r, _ in stats.values())
        nbytes = sum(b for _, b in stats.values())
    (inputs / "expected.json").write_text(json.dumps(expected))
    return rows, nbytes


def run_jvm(work, name, seconds, trace, cores):
    opens = []
    for p in ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
              "java.net", "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar"]:
        opens += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    for d in ("tmp", "spark-local"):
        (work / d).mkdir(parents=True, exist_ok=True)
    cmd = ["java", *opens, f"-Xmx{heap()}", "-XX:-UsePerfData",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dspark.local.dir={work / 'spark-local'}",
           f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
           "-cp", f"{CLASSES}:{spark_jars()}/*", "perfbench.Main",
           str(work), name, str(seconds), str(trace), str(cores)]
    log = work / "jvm.log"
    with open(log, "w") as err:
        try:
            r = subprocess.run(cmd, cwd=work, stdout=err, stderr=err,
                               timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            sys.stderr.write(log.read_text()[-4000:])
            fail(f"JVM side did not finish within {JVM_TIMEOUT_S} s")
    if r.returncode != 0 or not (work / "result.json").exists():
        sys.stderr.write(log.read_text()[-4000:])
        fail(f"JVM side exited with code {r.returncode}")
    return json.loads((work / "result.json").read_text())


def _norm(v):
    if v is None:
        return None
    if type(v).__name__ == "Decimal":
        return float(v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    return v


def _rows(tbl):
    cols = sorted(tbl.column_names)
    data = [tbl.column(c).to_pylist() for c in cols]
    rows = [tuple(_norm(col[i]) for col in data) for i in range(tbl.num_rows)]
    return cols, sorted(rows, key=repr)


def oracle_check(work, res):
    """Order-insensitive compare of the check pass's query results against
    the catalog's DuckDB oracle SQL; queries without one must return rows.
    Returns (failures, per-query digests)."""
    import duckdb
    import pyarrow.parquet as pq
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for p in sorted((work / "inputs" / "tables").glob("*.parquet")):
        con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM read_parquet('{p}')")
    failures, digests = [], {}
    for q, sql in sorted(res["oracle"].items()):
        out = work / "pass" / "results" / q
        if not out.exists():
            continue  # the query itself failed; already counted
        cols, rows = _rows(pq.read_table(out))
        digests[q] = hashlib.sha256(repr((cols, rows)).encode()).hexdigest()[:16]
        if sql is None:
            if not rows:
                failures.append(f"{q}: no rows")
            continue
        try:
            dcols, drows = _rows(con.execute(sql).fetch_arrow_table())
        except Exception as e:  # the oracle itself must run
            failures.append(f"{q}: oracle error {e}")
            continue
        if (dcols, drows) != (cols, rows):
            failures.append(f"{q}: differs from the oracle "
                            f"({len(rows)} rows, oracle {len(drows)})")
    return failures, digests


def penalised(res):
    """(setup, pass times) where a failure can only raise the figures: a
    failed pass counts as the whole timed window (never shorter than
    --seconds), a failed warm pass adds that window to the set-up."""
    window = max([res["timed_s"]] + [p["s"] for p in res["passes"]])
    times = [window if p["failed"] else p["s"] for p in res["passes"]]
    setup = res["setup_s"] + (window if res["setup_failed"] else 0.0)
    return setup, times


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir() or \
            not (ROOT / "build.sbt").is_file():
        fail(f"no program sources under {ROOT}; run from a checkout's root")
    sys.path.insert(0, str(HERE))
    sys.dont_write_bytecode = True  # leave nothing behind in the checkout
    # a terminated run still stops its JVM and deletes its inputs
    signal.signal(signal.SIGTERM, lambda *_: fail("terminated"))
    digest = source_digest()
    t_build = time.monotonic()
    build(digest)
    build_s = time.monotonic() - t_build
    cores = len(os.sched_getaffinity(0))
    work = ROOT / ".bench_work" / f"run-{os.getpid()}"
    try:
        t0 = time.monotonic()
        rows, nbytes = make_inputs(a.workload, a.seed, work / "inputs")
        gen_s = time.monotonic() - t0
        res = run_jvm(work, a.workload, a.seconds, a.trace, cores)
        oracle_fail, digests = oracle_check(work, res)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            (ROOT / ".bench_work").rmdir()
        except OSError:
            pass

    passes = res["passes"]
    setup_s, times = penalised(res)
    attempted = res["attempted"]
    failed = min(attempted, res["failed"] + len(oracle_fail))
    pass_s = statistics.median(times)
    end_to_end, layers = declared()
    wanted = layers if a.trace else end_to_end
    if a.trace == 0:
        values = {
            "setup_s": setup_s,
            "pass_s": pass_s,
            "rows_per_s": rows / pass_s,
            "heap_retained_mb": res["heap_retained_mb"],
        }
    else:
        values = per_layer(res, passes, nbytes, failed, attempted, layers)
    missing = [k for k, _ in wanted if k not in values]
    if missing:
        fail(f"BENCHMARK.json names metrics the run does not measure: {missing}")
    detail = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace,
        "env": dict(res["env"], commit=commit(), source_sha=digest),
        "input": {"rows": rows, "bytes": nbytes, **WORKLOADS[a.workload]},
        "gen_s": gen_s, "build_s": build_s,
        "setup_measured_s": res["setup_s"],
        "setup_parts_s": {k: res[k] for k in ("boot_s", "workload_setup_s", "warm_s")},
        "pass_samples_s": [p["s"] for p in passes],
        "ops": res["ops"], "ops_failed_share": failed / attempted,
        "failures": res["notes"] + oracle_fail,
        "oracle_digests": digests,
        "serve_ms": serve_ms(passes),
        "pass_values": {k: statistics.median(p["values"].get(k, 0.0) for p in passes)
                        for k in sorted({k for p in passes for k in p["values"]})},
        "spans": span_detail(passes),
    }
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in wanted},
    }))


def _median_over(passes, key):
    vals = [p["layers"][key] for p in passes if key in p["layers"]]
    return statistics.median(vals) if vals else 0.0


def span_detail(passes):
    """Per span name: self time, own jobs and Catalyst time (medians over
    the traced passes)."""
    traced = [p for p in passes if p["traced"]]
    out = {}
    for kind in ("self", "jobs", "catalyst_ms"):
        for k in sorted({k for p in traced for k in p["layers"]
                         if k.startswith(kind + ".")}):
            out.setdefault(k[len(kind) + 1:], {})[
                "self_s" if kind == "self" else kind] = _median_over(traced, k)
    return out


def per_layer(res, passes, nbytes, failed, attempted, layers):
    traced = [p for p in passes if p["traced"]]
    out = {}
    for k, _ in layers:
        if k in PASS_VALUES:
            out[k] = statistics.median(p["values"].get(k, 0.0) for p in passes)
        elif any(k in p["layers"] for p in traced):
            out[k] = _median_over(traced, k)
    serve = serve_ms(passes)
    builds = [sum(s for n, s in p["latencies"] if n.endswith((".build", ".append")))
              for p in passes]
    # each traced pass against the untraced pass right after it: passes
    # still speed up as the JIT warms, so this errs towards more overhead
    overhead = [(a["s"] - b["s"]) / b["s"] for a, b in zip(passes, passes[1:])
                if a["traced"] and not b["traced"]]
    out["run.write_amp"] = statistics.median(
        p["values"].get("output_bytes", 0.0) for p in passes) / nbytes
    out["run.ops_failed_share"] = failed / attempted
    out["run.build_s"] = statistics.median(builds)
    out["run.serve_p50_ms"] = _pct(serve, 0.5)
    out["run.serve_p90_ms"] = _pct(serve, 0.9)
    out["trace.overhead_share"] = statistics.median(overhead)
    return out


def serve_ms(passes):
    return sorted(s * 1e3 for p in passes for n, s in p["latencies"]
                  if n.endswith(".serve"))


def _pct(xs, q):
    if not xs:
        return 0.0
    return xs[min(len(xs) - 1, max(0, math.ceil(q * len(xs)) - 1))]


if __name__ == "__main__":
    main()
