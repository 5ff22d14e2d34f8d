#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload batch_mix --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run compiles the engine and the
harness with sbt (offline); later runs reuse the classes while the sources are
unchanged. Each run generates its inputs from the seed (gen.py), runs the
workload in one JVM on local[N] (N = usable cores), checks every output, and
prints an environment line and then the result line. `--trace 1` runs the
traced variant and reports per-layer metrics instead of end-to-end ones; its
spans are kept under .bench_work/traces/. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import harness as H  # noqa: E402

ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
SF = {"batch_mix": 0.01, "index_serve": 0.1}
JVM_TIMEOUT_S = 165
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
         "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
         "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
VERBS = ["build", "add", "remove", "compact"]
PACKS = ["relational", "events", "dedup", "curation", "text", "graph"]
SPARK_KEYS = ["jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s", "input_mb",
              "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "output_mb", "output_files",
              "task_skew"]
E2E = {"setup_s": "s", "unit_s": "s"}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src/main/**/*"), recursive=True)
                   + glob.glob(os.path.join(HERE, "src/main/**/*"), recursive=True)
                   + [os.path.join(HERE, "build.sbt")])
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def spark_jars():
    """The Spark jar directory: $SPARK_HOME/jars, else the one the engine's
    own build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    return m.group(1) if m else fail("no Spark jars: set SPARK_HOME")


def build(digest):
    """Compile with sbt unless the classes were built from these sources."""
    stamp = os.path.join(HERE, "target", "sources.sha256")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return
    if shutil.which("sbt") is None:
        fail("sbt not found; it builds the engine and the harness")
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_JARS=spark_jars())
    opts = ["-Dsbt.offline=true", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], cwd=HERE,
                       env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        fail("sbt compile failed")
    with open(stamp, "w") as f:
        f.write(digest)


def run_jvm(args, manifest_path, out, cores):
    java = shutil.which("java") or fail("java not found")
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # -XX:-UsePerfData: no hsperfdata files outside the checkout
    cmd = [java, "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{CLASSES}:{spark_jars()}/*", "graftbench.Main", args.workload, manifest_path,
            out, str(args.seconds), str(args.trace), str(cores)]
    with open(os.path.join(out, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=out)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"harness JVM exceeded {JVM_TIMEOUT_S} s; log: {out}/jvm.log")
    log = open(os.path.join(out, "jvm.log")).read()
    if code != 0:
        sys.stderr.write(log[-4000:])
        fail(f"harness JVM exited with {code}")
    for line in log.splitlines():
        if line.startswith("[perfbench]"):
            print(line, file=sys.stderr)
    with open(os.path.join(out, "result.json")) as f:
        return json.load(f)


def oracle_errors(chk, tables):
    import duckdb
    con = duckdb.connect()
    for p in glob.glob(os.path.join(tables, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    errors = []
    for q in chk["queries"]:
        got = con.sql(f"SELECT * FROM read_parquet('{chk['dir']}/{q}/*.parquet')").df()
        if not H.frames_equal(got, con.sql(chk["sql"][q]).df()):
            errors.append(f"{q}: result differs from the DuckDB oracle")
    return errors


def index_corpus(manifest):
    """state -> (ids, vectors) the IVF index must hold after add / remove."""
    import numpy as np
    import pyarrow.parquet as pq
    parts = [pq.read_table(os.path.join(manifest["tables"], f), columns=["vec_id", "embedding"])
             for f in ("embeddings.parquet", "add_vectors.parquet")]
    ids = np.concatenate([t.column(0).to_numpy() for t in parts])
    vecs = np.array([v for t in parts for v in t.column(1).to_pylist()], dtype=np.float64)
    keep = ~np.isin(ids, manifest["remove_vec_ids"])
    return {"added": (ids, vecs), "removed": (ids[keep], vecs[keep])}


def check_all(res, manifest, corpus=None):
    """Every output check of the run -> list of errors (one per wrong output).
    `corpus` is the index corpus by state; by default read from the inputs."""
    errors = []
    for chk in res["checks"]:
        kind = chk["kind"]
        if kind == "oracle":
            errors += oracle_errors(chk, manifest["tables"])
        elif kind == "dup_groups":
            errors += [e for e in [H.check_dup_groups(chk)] if e]
        elif kind == "serve":
            errors += H.check_serve(chk)
            corpus = index_corpus(manifest) if corpus is None else corpus
            r = H.ann_recall(chk, manifest["requests"], corpus)
            if r is not None and r < H.RECALL_FLOOR:
                errors.append(f"ann recall@10 {r:.3f} < floor {H.RECALL_FLOOR}")
        elif kind == "ids":
            corpus = index_corpus(manifest) if corpus is None else corpus
            errors += [e for e in [H.check_ids(chk, corpus)] if e]
        else:
            errors.append(f"unknown check {kind}")
    return errors


def end_to_end(res, t_launch):
    return {"setup_s": res["first_op_ms"] / 1000.0 - t_launch, "unit_s": H.median(res["units"])}


def per_layer(res, workload, digest, t_launch, failed, attempted):
    """Per-layer numbers from the traced units' spans (see README.md)."""
    spans = res["spans"]
    by_id = {s["id"]: s for s in spans}
    units = [s for s in spans if s["name"] == "unit"]
    n_units = max(1, len(units))

    def unit_of(s):
        while s["parent"]:
            s = by_id.get(s["parent"])
            if s is None:
                return None
            if s["name"] == "unit":
                return s
        return None

    in_unit = [s for s in spans if s["name"] == "unit" or unit_of(s)]
    dur = lambda s: (s["end_ms"] - s["start_ms"]) / 1000.0

    def per_unit(pred):
        return sum(dur(s) for s in in_unit if pred(s["name"])) / n_units

    def per_call(name):
        xs = [dur(s) for s in spans if s["name"] == name]
        return H.median(xs) if xs else 0.0

    m = {}
    for k in SPARK_KEYS:
        vals = [s["spark"][k] for s in in_unit]
        m[f"spark.{k}"] = max(vals, default=0.0) if k == "task_skew" else sum(vals) / n_units
    jobs = [(j["start_ms"], j["end_ms"]) for j in res["jobs"]]
    top = [s for s in in_unit if s["parent"] and by_id.get(s["parent"], {}).get("name") == "unit"]
    m["spark.driver_gap_s"] = sum(
        dur(s) - H.covered(jobs, s["start_ms"], s["end_ms"]) / 1000.0 for s in top) / n_units
    selfs = H.self_times(in_unit)
    m["unit.self_s"] = sum(selfs[u["id"]] for u in units) / 1000.0 / n_units
    m["setup.session_s"] = res["session_s"]
    m["setup.total_s"] = res["first_op_ms"] / 1000.0 - t_launch
    m["failed_frac"] = failed / max(1, attempted)
    ref = _history(workload, digest)
    m["trace.overhead_frac"] = (H.median(res["units"]) / H.median(ref) - 1.0) if ref else 0.0

    m["queries.plan_s"] = per_unit(lambda n: n == "queries.plan")
    m["queries.exec_s"] = per_unit(lambda n: n == "queries.exec")
    for p in PACKS:
        m[f"queries.{p}.exec_s"] = per_unit(lambda n, p=p: n.startswith(f"queries.query/{p}/"))
    m["index.hash_s"] = per_unit(lambda n: n == "index.hash")
    m["index.dupgroups_s"] = per_unit(lambda n: n == "index.dupgroups")

    samples = res["samples"]

    def med(xs):
        return H.median(xs) if xs else 0.0

    for v in VERBS + ["query"]:
        m[f"operators.ivf.{v}_s"] = per_call(f"operators.ivf.{v}")
    for v in VERBS:
        calls = [s for s in spans if s["name"] == f"operators.ivf.{v}"]
        m[f"operators.ivf.{v}_jobs"] = (sum(_subtree_jobs(s, spans) for s in calls) / len(calls)
                                        if calls else 0.0)
    for f in ("lex", "hybrid"):
        m[f"operators.{f}.query_s"] = per_call(f"operators.{f}.query")
    m["operators.lex.build_s"] = per_call("operators.lex.build")
    idx = samples.get("index_bytes")
    m["operators.ivf.index_mb"] = med(idx) / 1e6
    m["lifecycle.bytes_per_input_byte"] = med(idx) / samples["input_bytes"][0] if idx else 0.0

    c4 = {k: samples.get(f"c4_ms.{k}", []) for k in ["lexical", "ann", "hybrid", "phrase"]}
    for k, xs in c4.items():
        m[f"serve.{k}.c4_p50_ms"] = med(xs)
    all_c4 = [x for xs in c4.values() for x in xs]
    m["serve.c4_p50_ms"] = med(all_c4)
    m["serve.c1_p50_ms"] = med(samples.get("c1_ms"))
    m["serve.c4_rps"] = med(samples.get("c4_rps"))
    m["serve.http_ms"] = med(samples.get("http_ms"))
    phases = [s for s in in_unit if s["name"] in ("serve.c1", "serve.c4")]
    n_req = len(samples.get("c1_ms", [])) + len(all_c4)
    if phases and n_req:
        m["serve.jobs_per_req"] = sum(s["spark"]["jobs"] for s in phases) / n_req
        m["serve.tasks_per_req"] = sum(s["spark"]["tasks"] for s in phases) / n_req
        m["serve.input_kb_per_req"] = sum(s["spark"]["input_mb"] for s in phases) * 1000 / n_req
    else:
        m["serve.jobs_per_req"] = m["serve.tasks_per_req"] = m["serve.input_kb_per_req"] = 0.0
    return m


def _history(workload, digest, record=None):
    """unit_s of this checkout's untraced runs of `workload` built from the
    same sources: the reference for trace.overhead_frac. With `record`,
    appends one run's value instead."""
    path = os.path.join(WORK, f"untraced-{workload}.jsonl")
    if record is not None:
        with open(path, "a") as f:
            f.write(json.dumps({"sources": digest, "unit_s": record}) + "\n")
        return None
    if not os.path.exists(path):
        return []
    with open(path) as f:
        rows = [json.loads(line) for line in f if line.strip()]
    return [r["unit_s"] for r in rows if r.get("sources") == digest]


def _subtree_jobs(span, spans):
    ids, total, grew = {span["id"]}, span["spark"]["jobs"], True
    while grew:
        grew = False
        for s in spans:
            if s["parent"] in ids and s["id"] not in ids:
                ids.add(s["id"])
                total += s["spark"]["jobs"]
                grew = True
    return total


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SF))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no engine sources under {ROOT}/src/main/scala/graft; run from a graft checkout")
    load = os.getloadavg()
    cores = len(os.sched_getaffinity(0))
    digest = sources_digest()
    build(digest)

    run_dir = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        t_gen = time.time()
        manifest = gen.generate(os.path.join(run_dir, "in"), args.workload, args.seed,
                                SF[args.workload])
        manifest_path = os.path.join(run_dir, "in", "inputs.json")
        out = os.path.join(run_dir, "out")
        os.makedirs(out)
        t_launch = time.time()
        res = run_jvm(args, manifest_path, out, cores)
        t_check = time.time()
        errors = check_all(res, manifest)
        for e in errors[:20]:
            print(f"perfbench: check failed: {e}", file=sys.stderr)
        attempted = int(res["attempted"])
        failed = min(attempted, int(res["failed"]) + len(errors))
        env = dict(res["env"], seed=args.seed, workload=args.workload, cores=cores,
                   nproc=os.cpu_count(), loadavg_start=list(load), sf=SF[args.workload],
                   source_sha256=digest, git_commit=_git_commit(), data_dir=manifest["tables"],
                   units=len(res["units"]), ops=len(res["ops"]), op_p50_ms=H.median(res["ops"]),
                   op_tail=_tail(res["ops"]),
                   wall_s={"gen": t_launch - t_gen, "jvm": t_check - t_launch,
                           "check": time.time() - t_check})
        if load[0] > 0.5 * cores:
            print(f"perfbench: WARNING busy machine: load {load[0]:.2f} on {cores} cores",
                  file=sys.stderr)
        if args.trace:
            metrics = per_layer(res, args.workload, digest, t_launch, failed, attempted)
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            with open(os.path.join(WORK, "traces", f"{args.workload}-{args.seed}.json"), "w") as f:
                selfs = H.self_times(res["spans"])
                json.dump({"env": env, "spans": [dict(s, self_ms=selfs[s["id"]]) for s in res["spans"]],
                           "jobs": res["jobs"]}, f)
            units = {k: _unit(k) for k in metrics}
        else:
            metrics = end_to_end(res, t_launch)
            units = E2E
            if not errors:
                _history(args.workload, digest, record=metrics["unit_s"])
        print(json.dumps({"env": env}))
        print(json.dumps({
            "correct": not errors and failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()}}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _tail(ops):
    """The op latency tail, when the run has enough samples for one."""
    p = H.tail_percentile(len(ops))
    return {"percentile": p, "ms": H.percentile(ops, p)} if p else None


def _unit(name):
    for suffix, unit in (("_ms", "ms"), ("_s", "s"), ("_mb", "MB"), ("_kb_per_req", "KB"),
                         ("_frac", "ratio"), ("_rps", "1/s"), ("_per_input_byte", "ratio"),
                         ("_skew", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


def _git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=5).stdout.strip() or "none"
    except OSError:
        return "none"


if __name__ == "__main__":
    main()
