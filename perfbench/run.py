#!/usr/bin/env python3
"""Layered benchmark of the graft engine: one command, four workloads.

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
        [--scale full|smoke]

Run from the root of a checkout. The first run builds the engine and the
benchmark harness from source (sbt, in perfbench/) and generates the input
fixtures under perfbench/work/; later runs reuse both while the sources
and fixtures are unchanged. Then it

  1. derives the run's choices from --seed (plan.py),
  2. starts one JVM that warms up, measures whole rounds of ops for
     --seconds, and reports raw observations (Main.scala),
  3. with --trace 0, starts SETUP_PROBES more JVMs that only time JVM
     start -> ready session,
  4. checks every output against DuckDB or a pin (check.py),
  5. prints human-readable lines, then one JSON line: with --trace 0 the
     end-to-end metrics, with --trace 1 the per-layer ones.

The workloads, metrics and first readings are described in README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
# the engine and the harness, packaged by the build
JAR = os.path.join(HERE, "target", "scala-2.13", "perfbench.jar")
# class-data-sharing archive of the classes a session start loads, dumped
# by the build: every JVM of a run maps it instead of loading and
# verifying those classes again
ARCHIVE = os.path.join(WORK, "session.jsa")
WORKLOADS = ["etl_flip", "lake_sql", "corpus_prep", "lake_commit"]
JVM_HEAP = "3g"
# setup_s is the median of the run's own JVM and these probes
SETUP_PROBES = 1
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src", "main", "**", "*"), recursive=True)
                   + glob.glob(os.path.join(HERE, "src", "**", "*"), recursive=True)
                   + [os.path.join(HERE, "build.sbt"),
                      os.path.join(HERE, "project", "build.properties")])
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def spark_home():
    """The Spark installation whose jars the engine builds and runs on:
    $SPARK_HOME, else the first spark-submit on the PATH that sits in one."""
    candidates = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    return next((h for h in candidates
                 if h and glob.glob(os.path.join(h, "jars", "spark-core_*.jar"))), None)


def tmp_env():
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return tmp


def build():
    """Package engine + harness with sbt and dump the class-data-sharing
    archive, unless the sources are unchanged."""
    stamp = os.path.join(WORK, "build.stamp")
    digest = sources_digest()
    if os.path.exists(stamp) and os.path.isfile(JAR) and os.path.isfile(ARCHIVE):
        with open(stamp) as f:
            if f.read() == digest:
                return
    tmp = tmp_env()
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(
            ["sbt", "-batch", f"-Djava.io.tmpdir={tmp}", "clean", "package"],
            cwd=HERE, env=dict(os.environ, SPARK_HOME=spark_home()),
            stdout=out, stderr=subprocess.STDOUT, timeout=800).returncode
    if rc != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"build failed (exit {rc}), log in {log}")
    for f in (stamp, ARCHIVE):
        if os.path.exists(f):
            os.remove(f)
    # the archive holds what one session start loads; the JVM writes it at exit
    jvm(["--setup", os.path.join(WORK, "archive_setup.json")], log, timeout=120,
        flags=[f"-XX:ArchiveClassesAtExit={ARCHIVE}"])
    if not os.path.isfile(ARCHIVE):
        fail(f"no class-data-sharing archive was written, log in {log}")
    with open(stamp, "w") as f:
        f.write(digest)


def jvm(args, log, timeout, flags=None):
    tmp = tmp_env()
    if flags is None:
        flags = [f"-XX:SharedArchiveFile={ARCHIVE}"]
    # a fixed heap size keeps the collector from resizing the heap mid-run
    cmd = ["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData", *flags,
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # the class path must read the same when the archive is dumped and mapped
    cmd += ["-cp", f"{JAR}:{os.path.join(spark_home(), 'jars')}/*", "perfbench.Main"] + args
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))))
    with open(log, "a") as out:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=out, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"JVM run failed ({rc}), log in {log}")


def load_pins():
    with open(os.path.join(HERE, "pins.json")) as f:
        return json.load(f)


def median(xs):
    return statistics.median(xs) if xs else 0.0


# ---------------------------------------------------------------- metrics

def span_tree(res):
    spans = {s["id"]: s for s in res["spans"]}
    kids = {}
    for s in res["spans"]:
        kids.setdefault(s["parent"], []).append(s["id"])
    return spans, kids


def inclusive(res, spans, kids, sid):
    """Runtime counters of a span and all spans below it."""
    acc = {}
    stack = [sid]
    while stack:
        s = stack.pop()
        for k, v in res["groups"].get(f"span-{s}", {}).items():
            acc[k] = acc.get(k, 0) + v
        stack += kids.get(s, [])
    return acc


def layer_metrics(res, wl, ctx):
    """Per-layer metrics of a traced run (see README.md for the map)."""
    spans, kids = span_tree(res)
    ops = res["ops"]
    n_ops = max(1, len(ops))
    tot = res["total"]

    def dur(s):
        return s["end"] - s["start"]

    def per_op(name):
        by_op = {}
        for s in spans.values():
            if s["name"] == name:
                by_op[s["op"]] = by_op.get(s["op"], 0.0) + dur(s)
        return list(by_op.values())

    def counters(prefix):
        """Sum of inclusive counters over top-most spans named prefix*."""
        acc, n = {}, 0
        for s in spans.values():
            parent = spans.get(s["parent"])
            if s["name"].startswith(prefix) and not (
                    parent and parent["name"].startswith(prefix)):
                n += 1
                for k, v in inclusive(res, spans, kids, s["id"]).items():
                    acc[k] = acc.get(k, 0) + v
        return acc, n

    def mean(prefix, key):
        acc, n = counters(prefix)
        return acc.get(key, 0) / n if n else 0.0

    traced = [o["end"] - o["start"] for o in ops if o["traced"]]
    plain = [o["end"] - o["start"] for o in ops if not o["traced"]]
    q_acc, _ = counters("query.")
    merges = [o["facts"] for o in ops if o["kind"] == "merge" and o["ok"]]
    reads = [o["facts"] for o in ops if o["kind"] == "read_range" and "files_read" in o["facts"]]
    plan_s = [a + b for a, b in zip(per_op("query.run"), per_op("query.plan"))] \
        if wl == "lake_sql" else per_op("query.run")
    m = {
        "io.read_s": median(per_op("io.read")),
        "io.write_s": median(per_op("io.write")),
        "io.input_bytes": tot["input_bytes"] / n_ops,
        "io.output_bytes": tot["output_bytes"] / n_ops,
        "io.output_files": ctx.get("output_files", 0.0),
        "io.stored_bytes_per_input_byte": ctx.get("stored_per_input", 0.0),
        "quality.profile_s": median(per_op("quality.profile")),
        "quality.profile_jobs": mean("quality.profile", "jobs"),
        "quality.dedup_shuffle_bytes": mean("io.write", "shuffle_write_bytes"),
        "query.plan_s": median(plan_s),
        "query.exec_s": median(per_op("query.exec")),
        "query.jobs_per_op": q_acc.get("jobs", 0) / max(1, len(per_op("query.run"))),
        "query.rows_read_per_row_out": ctx.get("rows_read_per_row_out", 0.0),
        "operators.prepare_s": median(per_op("operators.prepare")),
        "operators.shuffle_bytes": mean("operators.", "shuffle_write_bytes"),
        "operators.spill_bytes": mean("operators.", "spill_bytes"),
        "operators.docs_out_per_doc_in": ctx.get("docs_out_per_doc_in", 0.0),
        "lake.merge_s": median(per_op("lake.merge")),
        "lake.append_s": median(per_op("lake.append")),
        "lake.read_s": median(per_op("lake.read")),
        "lake.jobs_per_commit": _commit_mean(counters, "jobs"),
        "lake.bytes_written_per_commit": _commit_mean(counters, "output_bytes"),
        "lake.files_rewritten_per_file_live":
            sum(f["files_new"] for f in merges) / max(1, sum(f["files_live"] for f in merges)),
        "lake.files_read_per_file_live":
            sum(f["files_read"] for f in reads) / max(1, sum(f["files_live"] for f in reads)),
        "spark.jobs": tot["jobs"] / n_ops,
        "spark.stages": tot["stages"] / n_ops,
        "spark.tasks": tot["tasks"] / n_ops,
        "spark.task_cpu_s": tot["cpu_ns"] / 1e9 / n_ops,
        "spark.task_run_s": tot["run_ms"] / 1e3 / n_ops,
        "spark.gc_s": tot["gc_ms"] / 1e3 / n_ops,
        "spark.scheduler_delay_s": tot["sched_delay_ms"] / 1e3 / n_ops,
        "spark.core_busy_ratio": tot["run_ms"] / 1e3 / (res["window_s"] * res["cores"]),
        "spark.shuffle_write_bytes": tot["shuffle_write_bytes"] / n_ops,
        "spark.failed_tasks": tot["failed_tasks"],
        "spark.stage_retries": tot["stage_retries"],
        "trace.overhead_s": median(traced) - median(plain) if traced and plain else 0.0,
    }
    return m


def _commit_mean(counters, key):
    tot, n = 0, 0
    for name in ("lake.overwrite", "lake.merge", "lake.append"):
        acc, k = counters(name)
        tot += acc.get(key, 0)
        n += k
    return tot / n if n else 0.0


def input_rows(op, wl, plan, fx, qtables):
    """Rows the op takes in: the input file, the tables a query names, the
    corpus, a commit's batch, or the rows a lake read returns."""
    if wl == "etl_flip":
        return fx["etl_lineitem"][0]
    if wl == "lake_sql":
        return sum(fx[t][0] for t in qtables[op["facts"]["query"]])
    if wl == "corpus_prep":
        return fx["documents"][0]
    rows = plan["lake"]["rows"]
    kind = op["kind"]
    if kind == "merge":
        return rows["merge"][op["facts"]["batch"]]
    return rows[kind] if kind in rows else op["facts"]["rows"]


def op_kind(op):
    """Ops of one kind do the same work: a format direction, one query,
    one commit type or read type."""
    return op["facts"].get("query", op["kind"]) if op["kind"] == "query" else op["kind"]


def dir_stats(path):
    files = [f for f in glob.glob(os.path.join(path, "part-*")) if os.path.isfile(f)]
    return len(files), sum(os.path.getsize(f) for f in files)


# ------------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--scale", choices=["full", "smoke"], default="full")
    a = ap.parse_args()
    if a.workload not in WORKLOADS:
        fail(f"unknown workload {a.workload!r}; expected one of {WORKLOADS}")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"{ROOT} is not a checkout of the engine (no build.sbt or src/main/scala/graft)")
    if spark_home() is None:
        fail("no Spark installation: set SPARK_HOME or put spark-submit on the PATH")

    sys.path.insert(0, HERE)
    import check
    import fixtures
    import plan as planner

    phases = {"start": time.time()}
    build()
    phases["build"] = time.time()
    pins = load_pins().get(a.scale, {})
    paths, fx = fixtures.ensure(os.path.join(WORK, "data", a.scale), a.scale,
                                pins.get("fixtures"))

    phases["fixtures"] = time.time()
    run_dir = os.path.join(WORK, "run", a.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    # a setup probe exits without stopping Spark, which leaves its temp dirs
    shutil.rmtree(os.path.join(WORK, "tmp"), ignore_errors=True)
    os.makedirs(run_dir)
    plan = planner.make(a.workload, a.seed, paths, run_dir)
    plan.update({"seconds": a.seconds, "trace": bool(a.trace),
                 "out": os.path.join(run_dir, "out")})
    plan_path = os.path.join(run_dir, "plan.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f, indent=1)

    log = os.path.join(run_dir, "jvm.log")
    result_path = os.path.join(run_dir, "result.json")
    phases["plan"] = time.time()
    jvm(["--plan", plan_path, result_path], log, timeout=150)
    phases["jvm"] = time.time()
    with open(result_path) as f:
        res = json.load(f)
    setups = [res["setup_s"]]
    # setup_s is an end-to-end metric: a traced run does not report it
    for i in range(0 if a.trace else SETUP_PROBES):
        probe = os.path.join(run_dir, f"setup_{i}.json")
        jvm(["--setup", probe], log, timeout=60)
        with open(probe) as f:
            setups.append(json.load(f)["setup_s"])

    phases["probes"] = time.time()

    # ---- output checks
    ctx, notes = {}, []
    ops = res["ops"]
    qtables = {q["name"]: q["tables"] for q in planner.load_queries()}
    if a.workload == "etl_flip":
        bad, notes = check.etl_flip(res, plan)
        tot = res["total"]
        ctx["rows_read_per_row_out"] = tot["input_records"] / max(1, tot["output_records"])
        stats = [dir_stats(o["facts"]["out"]) for o in ops if o["ok"]]
        ctx["output_files"] = median([n for n, _ in stats])
        in_size = {"csv": dir_stats(paths["etl_csv"])[1],
                   "parquet": dir_stats(paths["etl_lineitem"])[1]}
        ctx["stored_per_input"] = sum(b for _, b in stats) / max(1, sum(
            in_size[o["facts"]["in_format"]] for o in ops if o["ok"]))
    elif a.workload == "lake_sql":
        bad, notes, rows_out = check.lake_sql(res, plan)
        read = sum(v.get("input_records", 0) for k, v in res["groups"].items())
        q_spans = [s for s in res["spans"] if s["name"] == "query.exec"]
        traced_out = sum(rows_out[o["facts"]["query"]] for o in ops if o["traced"])
        ctx["rows_read_per_row_out"] = read / traced_out if q_spans and traced_out else 0.0
    elif a.workload == "corpus_prep":
        bad, notes = check.corpus_prep(res, pins.get("corpus"))
        ctx["docs_out_per_doc_in"] = res["warm"]["kept"] / fx["documents"][0]
    else:
        bad, notes = check.lake_commit(res, plan)
        commits = [o for o in ops if o["kind"] in ("overwrite", "merge", "append") and o["ok"]]
        ctx["output_files"] = median([o["facts"]["files_new"] for o in commits])
        if res.get("live_files"):
            table = os.path.dirname(os.path.dirname(
                res["live_files"][0].replace("file:", "", 1)))
            written = sum(dir_stats(d)[1] for d in glob.glob(os.path.join(table, "v*")))
            inputs = os.path.getsize(paths["orders"]) + sum(
                os.path.getsize(p) for p in plan["lake"]["merges"] + [plan["lake"]["append"]])
            ctx["stored_per_input"] = written / inputs

    phases["checks"] = time.time()

    # ---- end-to-end metrics
    lat = [o["end"] - o["start"] for o in ops]
    by_kind = {}
    for o in ops:
        k = by_kind.setdefault(op_kind(o), {"lat": [], "rows": []})
        k["lat"].append(o["end"] - o["start"])
        k["rows"].append(input_rows(o, a.workload, plan, fx, qtables) if o["ok"] else 0)
    # each op kind's median latency and median input rows, weighted by how
    # often the kind occurs: medians keep one slow op from moving a run,
    # the weights keep the op mix of the workload
    busy = sum(len(v["lat"]) * median(v["lat"]) for v in by_kind.values())
    rows = sum(len(v["lat"]) * median(v["rows"]) for v in by_kind.values())
    n = len(ops)
    failed = len(bad)
    p90 = statistics.quantiles(lat, n=10)[-1] if n >= 100 else None
    e2e = {
        "setup_s": (median(setups), "s"),
        "op_p50_s": (busy / len(lat) if lat else 0.0, "s"),
        "input_rows_per_s": (rows / busy if busy else 0.0, "1/s"),
        "cpu_s_per_op": (res["total"]["cpu_ns"] / 1e9 / max(1, n), "s"),
        "retained_heap_mb": (res["heap_mb"], "MB"),
    }
    print(f"[{a.workload}] seed={a.seed} scale={a.scale} trace={a.trace} "
          f"warm-up rounds={res['warm_rounds']} rounds={res['rounds']} ops={n} window={res['window_s']:.2f}s "
          f"cores={res['cores']}")
    for k, (v, u) in e2e.items():
        print(f"  {k:<28} {v:>14.6g} {u}")
    print(f"  {'fail_ratio':<28} {failed / max(1, n):>14.6g} ratio ({failed}/{n})")
    print(f"  {'op_p90_s':<28} " + (f"{p90:>14.6g} s" if p90 is not None else
          f"{'n/a':>14} (needs >= 100 ops for 10 beyond p90; have {n})"))
    for line in notes:
        print(f"  ! {line}")
    names = list(phases)
    print("  phases: " + ", ".join(f"{y} {phases[y] - phases[x]:.1f}s"
                                   for x, y in zip(names, names[1:]))
          + f" (in jvm: setup {res['setup_s']:.1f}s, warm-up {res['warm_s']:.1f}s, "
          f"window {res['window_s']:.1f}s)")
    correct = failed == 0 and n > 0
    print(f"  output verdict: {'OK' if correct else 'WRONG'}")

    if a.trace:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            units = {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}
        lm = layer_metrics(res, a.workload, ctx)
        with open(os.path.join(run_dir, "spans.json"), "w") as f:
            json.dump({"spans": res["spans"], "groups": res["groups"]}, f)
        for k, v in lm.items():
            print(f"  {k:<36} {v:>14.6g} {units.get(k, '')}")
        metrics = {k: {"value": v, "unit": units[k]} for k, v in lm.items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    print(json.dumps({"correct": correct, "attempted": max(1, n), "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
