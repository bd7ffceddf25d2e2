#!/usr/bin/env python3
"""perfbench: the repository benchmark for the graft data-lake engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --workload all --seed <n> --seconds <s>
    python3 perfbench/run.py --selftest

Workloads (see spec.json for the full description of each):

* ``etl_hourly``   -- hourly ETL DAG cycles over four seeded source formats;
* ``serve_mixed``  -- HttpFront with 3 closed-loop readers and 1 writer;
* ``lake_queries`` -- 6 judged queries through ``SparkEntry.queries``.

The first run in a checkout builds the engine and the harness with sbt
(`build.sbt` here compiles ``../src/main`` together with ``src/main``);
later runs reuse the build while the sources are unchanged. The serve and
query workloads read the committed sf0.01 lake in ``lake/``; every other
input is generated from ``--seed`` under ``.work/``. Runs are timed,
checked against DuckDB and the generator's counts (a failed check exits
1), and the last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).
``--workload all`` runs every workload untraced and traced and prints the
workload-named metrics, the per-layer tables and the tracing overhead.
``--selftest`` shows that every output check, and the trace reconciliation,
fails on a corrupted output.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("etl_hourly", "serve_mixed", "lake_queries")
HEAP = "3g"
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---- build -----------------------------------------------------------------

def _sources_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project",
                                                           "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile engine + harness; return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: engine sources (src/main/scala/graft) "
                         "are missing from this checkout")
    stamp = os.path.join(WORK, "build.json")
    digest = _sources_digest()
    if os.path.exists(stamp):
        with open(stamp) as f:
            cached = json.load(f)
        if cached.get("digest") == digest:
            return cached["classpath"]
    os.makedirs(WORK, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    if not env.get("SPARK_HOME"):
        # the first spark-submit on PATH that sits in a full installation
        for d in env.get("PATH", "").split(os.pathsep):
            home = os.path.dirname(os.path.realpath(d))
            if os.path.exists(os.path.join(d, "spark-submit")) and \
                    glob.glob(os.path.join(home, "jars", "spark-core_*.jar")):
                env["SPARK_HOME"] = home
                break
    sbt = shutil.which("sbt")
    if sbt is None:
        raise SystemExit("perfbench: sbt is not on PATH")
    log("building engine + harness with sbt")
    t0 = time.time()
    proc = subprocess.run(
        [sbt, "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_LIMIT_S)
    lines = [ln for ln in proc.stdout.splitlines()
             if "scala-2.13" in ln and ":" in ln and not ln.startswith("[")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    cp = lines[-1].strip()
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": cp,
                   "build_s": time.time() - t0}, f)
    log(f"built in {time.time() - t0:.1f}s")
    return cp


# ---- one run ---------------------------------------------------------------

def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def java_cmd(classpath, spec_path, work):
    opens = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=512m",
           "-XX:-UsePerfData", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false"]
    for p in opens:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", classpath, "perfbench.Main", spec_path]


def prepare_inputs(workload, seed, seconds, inputs, etl_cycles=None):
    """Generate everything the workload receives; returns manifests. The
    lake is the committed copy in ``lake/``, read in place."""
    os.makedirs(inputs)
    m = {}
    if workload == "etl_hourly":
        m["etl"] = gen.etl(os.path.join(inputs, "etl"), seed,
                           etl_cycles or gen.etl_cycles(seconds))
    else:
        m["lake"] = {"dir": gen.LAKE_DIR}
    if workload == "serve_mixed":
        m["serve"] = gen.serve(os.path.join(inputs, "serve"), seed,
                               readers=max(1, min(3, cores() - 1)))
    if workload == "lake_queries":
        m["order"] = gen.lake_order(seed)
        m["families"] = gen.LAKE_QUERIES
    return m


def launch(classpath, spec, work):
    spec_path = os.path.join(work, "spec.json")
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    env = dict(os.environ, SPARK_GRAFT_SCRATCH=os.path.join(work, "scratch"),
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    logf = open(os.path.join(work, "jvm.log"), "w")
    t_launch = time.time()
    proc = subprocess.Popen(java_cmd(classpath, spec_path, work), cwd=work,
                            env=env, stdout=logf, stderr=subprocess.STDOUT,
                            start_new_session=True)
    try:
        code = proc.wait(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        code = "timeout"
    finally:
        logf.close()
    if code != 0 or not os.path.exists(spec["out"]):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"perfbench: harness JVM failed ({code})")
    with open(spec["out"]) as f:
        res = json.load(f)
    res["jvm_launch_s"] = res["main_enter_ms"] / 1000.0 - t_launch
    return res


def run_once(workload, seed, seconds, trace, classpath, etl_cycles=None):
    work = os.path.join(WORK, f"{workload}-t{int(trace)}")
    if os.path.exists(work):
        shutil.rmtree(work)
    for d in ("tmp", "scratch"):
        os.makedirs(os.path.join(work, d))
    t0 = time.perf_counter()
    manifests = prepare_inputs(workload, seed, seconds,
                               os.path.join(work, "inputs"), etl_cycles)
    gen_s = time.perf_counter() - t0
    spec = dict(manifests, workload=workload, seed=seed, seconds=seconds,
                trace=bool(trace), cpus=cores(), work=work,
                out=os.path.join(work, "result.json"))
    t0 = time.perf_counter()
    res = launch(classpath, spec, work)
    res["jvm_s"] = time.perf_counter() - t0
    res["gen_s"] = gen_s
    # one cold set-up per run: input generation, JVM launch, the JVM's
    # first session build and the warm-up
    res["setup_s"] = (gen_s + res["jvm_launch_s"] +
                      res["setup"]["session_s"] + res["setup"]["warmup_s"])
    t0 = time.perf_counter()
    res["failures"] = check(workload, res["result"], manifests, work)
    res["check_s"] = time.perf_counter() - t0
    res["manifests"] = manifests
    res["work"] = work
    return res


def check(workload, r, m, work):
    if workload == "etl_hourly":
        return checks.etl(r, m["etl"])
    if workload == "serve_mixed":
        with open(m["serve"]["path"]) as f:
            return checks.serve(r, m["lake"]["dir"], json.load(f))
    return checks.lake(r, m["lake"]["dir"], work)


# ---- metrics ---------------------------------------------------------------

def q(xs, p):
    """Linear-interpolation quantile."""
    s = sorted(xs)
    if not s:
        return float("nan")
    pos = p * (len(s) - 1)
    lo = int(math.floor(pos))
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def geomean(xs):
    return math.exp(sum(math.log(max(x, 1e-9)) for x in xs) / len(xs))


def du(path):
    total = files = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            total += os.path.getsize(os.path.join(d, f))
            files += f.endswith(".parquet") or f.endswith(".json")
    return total, files


STEAL_LIMIT = 0.05


def quiet(samples):
    """The samples measured while the hypervisor stole at most
    STEAL_LIMIT of the machine's CPU time, or, when fewer than half are
    that quiet, the quieter half. Latency metrics use these, so that
    another tenant's load does not read as the program's cost; every
    sample still counts in attempted, failed, rate and cpu_ms."""
    keep = [x for x in samples if x["steal"] <= STEAL_LIMIT]
    if 2 * len(keep) < len(samples):
        keep = sorted(samples, key=lambda x: x["steal"])[
            :(len(samples) + 1) // 2]
    return keep


def op_stats(workload, res):
    """Raw per-op samples -> latencies, rate, write latency, counts."""
    r = res["result"]
    if workload == "etl_hourly":
        cyc = r["cycles"]
        lat = [c["wall_ms"] for c in quiet(cyc)]
        rows = sum(sum(c["processed"].values()) for c in cyc)
        by_index = {c["index"]: c for c in res["manifests"]["etl"]["cycles"]}
        src_bytes = sum(v["bytes"] for c in cyc
                        for v in by_index[c["index"]]["counts"].values())
        lake_bytes, lake_files = du(r["lake"])
        return dict(lat=lat, p50=q(lat, 0.5), geo=geomean(lat),
                    quiet=len(lat) / len(cyc),
                    rate=rows / (sum(c["wall_ms"] for c in cyc) / 1000.0),
                    write=q([m for c in cyc for m in c["etl_job_ms"]], 0.5),
                    attempted=r["attempted"], failed=len(r["failures"]),
                    ops=len(cyc), rows=rows, src_bytes=src_bytes,
                    lake_bytes=lake_bytes, lake_files=lake_files,
                    amp=lake_bytes / src_bytes)
    if workload == "serve_mixed":
        ok = [x for x in r["reads"] if x["status"] == 200]
        ups = [x["ms"] for x in r["writes"]
               if x["cls"] == "upload" and x["status"] == 200]
        bad = sum(x["status"] != 200 for x in r["reads"] + r["writes"])
        lat = [x["ms"] for x in quiet(ok)]
        return dict(lat=lat, p50=q(lat, 0.5), geo=geomean(lat),
                    quiet=len(lat) / max(1, len(ok)),
                    rate=len(ok) / (r["timed_wall_ms"] / 1000.0),
                    write=q(ups, 0.5),
                    attempted=len(r["reads"]) + len(r["writes"]), failed=bad,
                    ops=len(r["reads"]) + len(r["writes"]))
    per = {}
    for s in r["samples"]:
        per.setdefault(s["query"], []).append(s)
    kept = {k: quiet(v) for k, v in per.items()}
    med = {k: statistics.median(x["ms"] for x in v) for k, v in kept.items()}
    writes = [med[k] for k in gen.LAKE_QUERIES["index"] if k in med]
    lat = [x["ms"] for v in kept.values() for x in v]
    return dict(lat=lat, per_query=med, p50=sum(med.values()),
                geo=geomean(list(med.values())),
                quiet=len(lat) / max(1, len(r["samples"])),
                rate=len(r["samples"]) / (r["timed_wall_ms"] / 1000.0),
                write=q(writes, 0.5), attempted=r["attempted"],
                failed=len(r["failures"]), ops=len(r["samples"]),
                passes=r["passes"])


def end_to_end(res, st):
    """The bounded metrics (BENCHMARK.json end_to_end), same names on
    every workload; spec.json defines each per workload."""
    return {
        "setup_s": (res["setup_s"], "s"),
        "p50_ms": (st["p50"], "ms"),
        "geomean_ms": (st["geo"], "ms"),
        "cpu_ms": (res["cpu_ms"] / max(1, st["ops"]), "ms"),
    }


def named(workload, res, st):
    """The workload-named metrics of the benchmark's design, plus the
    unbounded ones (printed and recorded, not gated)."""
    lat = st["lat"]
    out = {"setup_s": (res["setup_s"], "s"),
           "peak_rss_mb": (res["peak_rss_mb"], "MB"),
           "heap_live_mb": (res["heap_live_mb"], "MB"),
           "failed_frac": (st["failed"] / max(1, st["attempted"]), "ratio"),
           "p75_ms": (q(lat, 0.75), "ms"),
           "mean_ms": (statistics.fmean(lat), "ms"),
           "rate_per_s": (st["rate"], "1/s"),
           "write_ms": (st["write"], "ms"),
           "cpu_steal_share": (res["cpu_steal_share"], "ratio"),
           "quiet_share": (st["quiet"], "ratio")}
    if workload == "etl_hourly":
        out.update({"etl.cycle_s.p50": (q(lat, 0.5) / 1000.0, "s"),
                    "etl.rows_per_s": (st["rate"], "rows/s"),
                    "etl.bytes_written_per_source_byte": (st["amp"], "ratio")})
    elif workload == "serve_mixed":
        out.update({"serve.read_ms.p50": (q(lat, 0.5), "ms"),
                    "serve.read_ms.p90": (q(lat, 0.9), "ms"),
                    "serve.read_rps": (st["rate"], "1/s"),
                    "serve.write_ms.p50": (st["write"], "ms")})
    else:
        out.update({"lake.total_s": (sum(st["per_query"].values()) / 1000.0,
                                     "s"),
                    "lake.geomean_s": (st["geo"] / 1000.0, "s")})
    return out


def per_layer_generic(res, st):
    """Per-op Spark and JVM layer costs, the same names on every workload."""
    w = res["result"]["window"]
    ops = max(1, st["ops"])
    out = {"jvm.gc_ms": (res["gc_ms"] / ops, "ms")}
    for k, unit in (("jobs", "count"), ("stages", "count"), ("tasks", "count"),
                    ("task_ms", "ms"), ("plan_ms", "ms"), ("idle_ms", "ms"),
                    ("shuffle_bytes", "bytes"), ("scan_rows", "rows")):
        out[f"spark.{k}"] = (w[k] / ops, unit)
    out["spark.core_util"] = (w["task_ms"] / (w["wall_ms"] *
                                              res["env"]["cores_used"]), "ratio")
    return out


def layer_table(workload, res, st):
    """The module-named per-layer metrics, with self times, from spans."""
    r = res["result"]
    spans = r["spans"]
    by_layer = {}
    for s in spans:
        by_layer.setdefault(s["layer"], []).append(s)
    table = {}

    def put(name, value, unit):
        table[name] = (value, unit)

    if workload == "etl_hourly":
        n = max(1, len(r["cycles"]))
        rows = max(1, st["rows"])
        for layer, name in (("sources", "sources"), ("transform", "transform"),
                            ("validate", "validate"), ("sinks", "sinks")):
            ss = by_layer.get(layer, [])
            put(f"{name}.call_ms", sum(s["wall_ms"] for s in ss) / n, "ms")
            put(f"{name}.self_ms", sum(s["self_ms"] for s in ss) / n, "ms")
            put(f"{name}.jobs", sum(s["jobs"] for s in ss) / n, "count")
            put(f"{name}.task_ms", sum(s["task_ms"] for s in ss) / n, "ms")
            put(f"{name}.plan_ms", sum(s["plan_ms"] for s in ss) / n, "ms")
            put(f"{name}.idle_ms", sum(s["idle_ms"] for s in ss) / n, "ms")
        put("validate.scan_rows_per_row",
            sum(s["scan_rows"] for s in by_layer.get("validate", [])) / rows,
            "rows/row")
        put("sinks.bytes_written", st["lake_bytes"] / n, "bytes")
        put("sinks.files_written", st["lake_files"] / n, "count")
        for layer, name in (("etl.merge", "etl.merge_ms"),
                            ("etl.report", "etl.report_ms")):
            put(name, sum(s["wall_ms"] for s in by_layer.get(layer, [])) / n,
                "ms")
    elif workload == "serve_mixed":
        for cls in ("point", "range", "collection", "timerange", "sql",
                    "upload", "etl_run"):
            http = by_layer.get(f"service.{cls}.http", [])
            direct = by_layer.get(f"service.{cls}.direct", [])
            n = max(1, len(direct))
            put(f"service.{cls}.http_ms",
                statistics.fmean([s["wall_ms"] for s in http]) if http
                else float("nan"), "ms")
            put(f"service.{cls}.direct_ms",
                statistics.fmean([s["wall_ms"] for s in direct]) if direct
                else float("nan"), "ms")
            put(f"service.{cls}.jobs", sum(s["jobs"] for s in direct) / n,
                "count")
            put(f"service.{cls}.plan_ms", sum(s["plan_ms"] for s in direct) / n,
                "ms")
            put(f"service.{cls}.scan_rows_per_row",
                sum(s["scan_rows"] for s in direct) /
                max(1, sum(max(0, s["rows"]) for s in direct)), "rows/row")
        for pool, v in r.get("pools", {}).items():
            put(f"service.pool.{pool}.jobs", v["jobs"], "count")
    else:
        passes = max(1, r["passes"])
        for fam in gen.LAKE_QUERIES:
            ss = by_layer.get(f"queries.{fam}", [])
            wall = sum(s["wall_ms"] for s in ss) / passes
            task = sum(s["task_ms"] for s in ss) / passes
            put(f"queries.{fam}.wall_ms", wall, "ms")
            put(f"queries.{fam}.jobs", sum(s["jobs"] for s in ss) / passes,
                "count")
            put(f"queries.{fam}.task_ms", task, "ms")
            put(f"queries.{fam}.plan_ms", sum(s["plan_ms"] for s in ss) / passes,
                "ms")
            put(f"queries.{fam}.idle_ms", sum(s["idle_ms"] for s in ss) / passes,
                "ms")
            put(f"queries.{fam}.shuffle_bytes",
                sum(s["shuffle_bytes"] for s in ss) / passes, "bytes")
            put(f"queries.{fam}.core_util",
                task / (wall * res["env"]["cores_used"]) if wall else 0.0,
                "ratio")
    put("jvm.gc_ms", res["gc_ms"], "ms")
    return table, reconcile(r)


RECONCILE_TOL = (5.0, 0.01)     # ms, share of the thread's window


def reconcile(r):
    """Top-level spans against each client thread's own timed window.

    The loop times its window (first op to end of last) apart from the
    span machinery. Each thread's top-level spans must lie inside it,
    must not overlap, and must cover all of it but at most
    max(5 ms, 1%): that much harness bookkeeping runs between ops, and a
    larger gap is work no span records."""
    tol_ms, tol_frac = RECONCILE_TOL
    top = [s for s in r["spans"] if s["parent"] == 0]
    threads = []
    for w in r["threads"]:
        mine = sorted((s for s in top if s["thread"] == w["thread"]),
                      key=lambda s: s["start_ms"])
        window = w["end_ms"] - w["start_ms"]
        covered = sum(s["wall_ms"] for s in mine)
        outside = sum(s["start_ms"] < w["start_ms"] or
                      s["end_ms"] > w["end_ms"] for s in mine)
        overlap = sum(b["start_ms"] < a["end_ms"]
                      for a, b in zip(mine, mine[1:]))
        gap = window - covered
        threads.append({"thread": w["thread"], "window_ms": window,
                        "spans": len(mine), "covered_ms": covered,
                        "gap_ms": gap, "outside": outside,
                        "overlapping": overlap,
                        "ok": bool(mine) and not outside and not overlap
                        and gap <= max(tol_ms, tol_frac * window)})
    return {"tolerance": f"per client thread: top-level spans inside its "
                         f"timed window, disjoint, uncovered <= "
                         f"max({tol_ms:g} ms, {tol_frac:.0%})",
            "threads": threads,
            "ok": bool(threads) and all(t["ok"] for t in threads)}


# ---- commands --------------------------------------------------------------

def fmt(metrics):
    return {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}


def bench(args):
    cp = build()
    res = run_once(args.workload, args.seed, args.seconds, args.trace, cp)
    st = op_stats(args.workload, res)
    fails = res["failures"]
    for f in fails:
        log(f"CHECK FAILED: {f}")
    if args.trace:
        table, rec = layer_table(args.workload, res, st)
        if not rec["ok"]:
            fails.append(f"trace: top-level spans do not reconcile with "
                         f"the client threads' windows: {rec['threads']}")
            log(f"CHECK FAILED: {fails[-1]}")
        artifact = {"env": res["env"], "spans": res["result"]["spans"],
                    "layers": fmt(table), "reconcile": rec,
                    "samples": st["ops"]}
        path = os.path.join(res["work"], "trace.json")
        with open(path, "w") as f:
            json.dump(artifact, f, indent=1)
        log(f"timings: jvm {res['jvm_s']:.1f}s check {res['check_s']:.1f}s")
        log(f"trace artifact: {path}; reconcile {rec}")
        for k, (v, u) in sorted(table.items()):
            print(f"layer {k} = {v:.6g} {u}")
        metrics = per_layer_generic(res, st)
    else:
        metrics = end_to_end(res, st)
        nm = named(args.workload, res, st)
        record = {"workload": args.workload,
                  "env": dict(res["env"], cpu_steal_share=res["cpu_steal_share"]),
                  "samples": {"ops": st["ops"], "setup": 1},
                  "setup": {"gen_s": res["gen_s"],
                            "jvm_launch_s": res["jvm_launch_s"],
                            "session_s": res["setup"]["session_s"],
                            "warmup_s": res["setup"]["warmup_s"]},
                  "named": fmt(nm), "metrics": fmt(metrics)}
        log(f"timings: jvm {res['jvm_s']:.1f}s check {res['check_s']:.1f}s "
            f"setup {res['setup_s']:.1f}s")
        with open(os.path.join(res["work"], "record.json"), "w") as f:
            json.dump(record, f, indent=1)
        print(json.dumps({"workload": args.workload, "env": {
            k: res["env"][k] for k in ("nproc", "cores_used", "java_version",
                                       "spark_version", "heap_max_mb", "seed")},
            "samples": st["ops"], "cpu_steal_share": res["cpu_steal_share"],
            "named": fmt(nm)}))
    correct = not fails and st["failed"] == 0
    print(json.dumps({"correct": correct, "attempted": st["attempted"],
                      "failed": st["failed"], "metrics": fmt(metrics)}))
    return 0 if correct else 1


def run_all(args):
    """Every workload, untraced then traced: the 12 named metrics, the
    per-layer tables and the tracing overhead (traced minus untraced)."""
    cp = build()
    ok = True
    for w in WORKLOADS:
        plain = run_once(w, args.seed, args.seconds, 0, cp)
        traced = run_once(w, args.seed, args.seconds, 1, cp)
        sp, stt = op_stats(w, plain), op_stats(w, traced)
        for f in plain["failures"] + traced["failures"]:
            log(f"CHECK FAILED ({w}): {f}")
        table, rec = layer_table(w, traced, stt)
        ok &= not (plain["failures"] or traced["failures"] or sp["failed"]
                   or stt["failed"]) and rec["ok"]
        for k, (v, u) in named(w, plain, sp).items():
            print(f"{w} {k} = {v:.6g} {u}  (samples: {sp['ops']})")
        for k, (v, u) in sorted(table.items()):
            print(f"{w} layer {k} = {v:.6g} {u}")
        e_p, e_t = end_to_end(plain, sp), end_to_end(traced, stt)
        print(f"{w} trace.overhead_p50_ms = "
              f"{e_t['p50_ms'][0] - e_p['p50_ms'][0]:.6g} ms "
              f"(traced {e_t['p50_ms'][0]:.6g} - untraced {e_p['p50_ms'][0]:.6g})")
        print(f"{w} trace.reconcile = {json.dumps(rec)}")
    return 0 if ok else 1


def selftest(args):
    """Run each workload briefly, then corrupt one output per check and
    show the check fails; exit 0 only if every check caught its fault."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    cp = build()
    results = []

    def expect_fail(name, fails):
        caught = bool(fails)
        results.append((name, caught))
        log(f"selftest {name}: {'caught' if caught else 'MISSED'}"
            f"{' - ' + fails[0][:160] if fails else ''}")

    def rewrite(path, fn):
        t = pq.read_table(path)
        pq.write_table(fn(t), path)

    def first_nonempty(pattern_dir):
        for d, _, fs in sorted(os.walk(pattern_dir)):
            for f in sorted(fs):
                p = os.path.join(d, f)
                if f.endswith(".parquet") and pq.read_metadata(p).num_rows:
                    return p
        raise SystemExit(f"selftest: no parquet rows under {pattern_dir}")

    for w in WORKLOADS:
        if w == "etl_hourly":
            # traced, one generated hour and 30 s: the loop wraps to that
            # hour again, and the spans are there to reconcile
            res = run_once(w, args.seed, 30, 1, cp, etl_cycles=1)
            if len(res["result"]["cycles"]) < 2:
                raise SystemExit("selftest: the etl run did not wrap")
        else:
            # 10 s, so the serve writer reaches its first ETL trigger
            res = run_once(w, args.seed, 10, 0, cp)
        if res["failures"]:
            raise SystemExit(f"selftest: clean {w} run failed: {res['failures']}")
        r, m, work = res["result"], res["manifests"], res["work"]
        if w == "etl_hourly":
            if not reconcile(r)["ok"]:
                raise SystemExit(f"selftest: clean trace does not reconcile: "
                                 f"{reconcile(r)}")
            r2 = json.loads(json.dumps(r))
            top = [s for s in r2["spans"] if s["parent"] == 0]
            r2["spans"].remove(top[-1])
            expect_fail("trace.reconcile",
                        [] if reconcile(r2)["ok"] else ["span dropped"])
            p = first_nonempty(os.path.join(r["lake"], "profiles", "archive"))
            rewrite(p, lambda t: t.slice(1))
            expect_fail("etl.route_counts", checks.etl(r, m["etl"]))
            p = first_nonempty(os.path.join(r["lake"], "rollup_daily"))
            rewrite(p, lambda t: t.set_column(
                t.schema.get_field_index("rows"), "rows",
                pc.add(t["rows"], pa.scalar(1, t.schema.field("rows").type))))
            res2 = json.loads(json.dumps(r))
            expect_fail("etl.rollup", [f for f in checks.etl(res2, m["etl"])
                                       if "rollup" in f])
            c = res2["cycles"][0]["validation"]["events"]["Schema Validator"]
            c["errors"] = [e.replace(" records", "1 records") for e in c["errors"]]
            expect_fail("etl.validation_counts",
                        [f for f in checks.etl(res2, m["etl"])
                         if "schema violations" in f])
            qr = sorted(glob.glob(os.path.join(r["lake"], "quality_report",
                                               "*.json")))[0]
            with open(qr) as f:
                lines = [json.loads(x) for x in f if x.strip()]
            lines[0]["records_extracted"] += 1
            with open(qr, "w") as f:
                f.writelines(json.dumps(x) + "\n" for x in lines)
            expect_fail("etl.quality_report",
                        [f for f in checks.etl(r, m["etl"])
                         if "quality reports" in f])
        elif w == "serve_mixed":
            with open(m["serve"]["path"]) as f:
                sm = json.load(f)
            r2 = json.loads(json.dumps(r))
            s = next(x for x in r2["samples"] if x["status"] == 200 and
                     json.loads(x["body"])["data"])
            body = json.loads(s["body"])
            row = body["data"][0]
            k = next(k for k, v in row.items() if isinstance(v, (int, float)))
            row[k] = row[k] + 1
            s["body"] = json.dumps(body)
            expect_fail("serve.read_responses",
                        checks.serve(r2, m["lake"]["dir"], sm))
            p = first_nonempty(r["uploads"])
            rewrite(p, lambda t: t.slice(1))
            expect_fail("serve.upload_readback",
                        [f for f in checks.serve(r, m["lake"]["dir"], sm)
                         if "uploads" in f])
            p = first_nonempty(r["etl_out"])
            rewrite(p, lambda t: t.slice(1))
            expect_fail("serve.etl_run_rows",
                        [f for f in checks.serve(r, m["lake"]["dir"], sm)
                         if "etl/run" in f])
        else:
            q0 = sorted(r["warm_digests"])[0]
            r2 = json.loads(json.dumps(r))
            r2["samples"][0]["hash"] += 1
            expect_fail("lake.timed_digest",
                        checks.lake(r2, m["lake"]["dir"], work))
            p = first_nonempty(os.path.join(r["out_dir"], q0))
            rewrite(p, lambda t: t.slice(0, t.num_rows - 1))
            expect_fail("lake.oracle", checks.lake(r, m["lake"]["dir"], work))
    missed = [n for n, c in results if not c]
    log(f"selftest: {len(results) - len(missed)}/{len(results)} checks caught "
        f"their corruption")
    return 1 if missed else 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    if args.selftest:
        return selftest(args)
    if args.workload is None:
        ap.error("--workload is required")
    if args.workload == "all":
        return run_all(args)
    return bench(args)


if __name__ == "__main__":
    sys.exit(main())
