#!/usr/bin/env python3
"""graft benchmark: one workload, one run.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a graft checkout. The first run builds the harness
(perfbench/build.sbt, which compiles the checkout's graft sources) with
sbt; later runs reuse the build while the sources are unchanged. The run
generates its inputs from --seed, starts one JVM (graft.perfbench.Main),
checks the outputs, and prints as its last stdout line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1). The line before it carries provenance and host-noise fields
and the workload's own report. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WORKLOADS = ("pipeline_e2e", "pair_kernels")
BUILD_DIR = os.path.join(ROOT, ".bench_build", "perfbench")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
# pair_kernels tables: rows scale with sf like TPC-H; documents and
# embeddings are sized separately, since the Θ(n²) kernels grow with them.
KERNEL_TABLES = dict(sf=0.001, n_docs=200, n_vecs=200)
# Spark task slots: one fewer than the cores (at most 4), so the driver
# thread, the JIT and the GC keep a core.
POOL = max(1, min(4, os.cpu_count() or 1) - 1)
# Untimed warm passes between the cold pass and the window. A pipeline
# pass is still 15-30 % slower on the first warm pass than on the later
# ones (the JIT is compiling); a kernels pass is within a few per cent.
WARMUP_PASSES = {"pipeline_e2e": 1, "pair_kernels": 0}
TINY = {"corpus": dict(docs=400, files=4, vocab=800, asins=100),
        "tables": dict(sf=0.001, n_docs=120, n_vecs=120)}
JVM_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]

E2E_UNITS = {"setup_s": "s", "op_p50_s": "s", "live_heap_mb": "MB"}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


# --- build --------------------------------------------------------------------

def source_hash():
    h = hashlib.sha256()
    files = []
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        for d, subdirs, fs in os.walk(base):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
            files += [os.path.join(d, f) for f in fs]
    files += [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Classpath of the compiled harness; runs sbt when sources changed."""
    os.makedirs(BUILD_DIR, exist_ok=True)
    stamp = os.path.join(BUILD_DIR, "classpath.json")
    digest = source_hash()
    if os.path.exists(stamp):
        with open(stamp) as f:
            cached = json.load(f)
        if cached.get("sources") == digest:
            return cached["classpath"], digest
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    log("building the harness with sbt")
    t0 = time.time()
    with open(os.path.join(BUILD_DIR, "build.log"), "w") as out:
        rc = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                       "export Runtime/fullClasspath"], HERE, env, out, BUILD_TIMEOUT_S)
    with open(os.path.join(BUILD_DIR, "build.log")) as f:
        lines = [l.strip() for l in f if l.strip()]
    if rc != 0 or not lines:
        fail(f"sbt build failed (rc={rc}); see {BUILD_DIR}/build.log")
    classpath = lines[-1]
    log(f"built in {time.time() - t0:.0f} s")
    with open(stamp, "w") as f:
        json.dump({"sources": digest, "classpath": classpath}, f)
    return classpath, digest


def run_proc(cmd, cwd, env, out, timeout):
    """Run cmd in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


# --- metrics ------------------------------------------------------------------

def median(xs):
    return statistics.median(xs) if xs else 0.0


def account(res, verdicts):
    """(attempted, failed, failures): an op fails if it raised, if its output
    is wrong (verdict for its name), or if its checksum does not repeat the
    checked one."""
    ref = {}
    for o in res["ops"]:
        if o["ok"] and o["name"] not in ref and o["checksum"]:
            ref[o["name"]] = o["checksum"]
    if res["workload"] == "pipeline_e2e":
        good = [o for o in res["ops"] if o["ok"]]
        if good:
            ref["pipeline"] = good[-1]["checksum"]
    failures = []
    for o in res["ops"]:
        why = None
        if not o["ok"]:
            why = o["err"]
        elif verdicts.get(o["name"]):
            why = verdicts[o["name"]]
        elif o["checksum"] and o["checksum"] != ref.get(o["name"]):
            why = "checksum differs from the checked output"
        if why:
            failures.append((o["name"], o["pass"], why))
    return len(res["ops"]), len(failures), failures


def timed_ops(res, first, last):
    """Warm ops of passes [first, last) that stand for one workload op."""
    return [o for o in res["ops"] if o["warm"] and o["kind"] == "pass" and first <= o["pass"] < last]


def end_to_end(res):
    first, n = res["window_first_pass"], res["window_passes"]
    warm = [o["wall_s"] for o in timed_ops(res, first, first + n)]
    heaps = [res["cold_heap_mb"]] + res["pass_heap_mb"] + \
        [p["heap_mb"] for p in res.get("pipeline_passes", [])]
    return {"setup_s": res["setup_s"], "op_p50_s": median(warm), "live_heap_mb": max(heaps)}


def report(res, e2e, attempted, failed, corpus_docs):
    """The workload's own figures, under their own names."""
    r = {"setup_s": e2e["setup_s"], "live_heap_mb": e2e["live_heap_mb"],
         "cold_s": res["cold_s"], "failed_ops_frac": failed / attempted}
    if res["workload"] == "pipeline_e2e":
        r.update(pipeline_docs_per_s=corpus_docs / e2e["op_p50_s"],
                 pipeline_cold_s=res["cold_s"], corpus_docs=corpus_docs)
    else:
        r["kernels_s"] = e2e["op_p50_s"]
    return r


SUBSTRATES = ["shingles3", "dedup_pairs3", "dedup_clusters3", "knn_graph", "cell_kernel"]
MODULES = ["dedup1", "dedup2", "simtext", "embed"]  # the graft.queries modules of the consumers


def per_layer(res, failed_frac):
    """Per-layer metrics of the traced half of the window, per pass."""
    m = dict(res["layers"])
    first, n = res["traced_first_pass"], res["traced_passes"]
    engine = res["engine_by_span"]
    # pipeline
    pp = [p for p in res.get("pipeline_passes", []) if first <= p["pass"] < first + n]
    for s in ("stage1", "stage2", "stage3"):
        m[f"pipeline.{s}_s"] = median([p[f"{s}_s"] for p in pp])
        m[f"pipeline.{s}_jobs"] = sum(engine.get(str(sp["id"]), {}).get("jobs", 0.0)
                                      for sp in res["spans"] if sp["name"] == s) / max(1, n)
    m["pipeline.sink_s"] = median([sum(v for k, v in p.items() if k.startswith("sink_")) for p in pp])
    iters = [p["iterations"] for p in pp]
    m["kmeans.iterations"] = iters[-1] if iters else 0
    m["kmeans.iter_s"] = m["pipeline.stage3_s"] / iters[-1] if iters else 0.0
    m["kmeans.jobs_per_iter"] = m["pipeline.stage3_jobs"] / iters[-1] if iters else 0.0
    # queries: the kernels' consumers
    qops = [o for o in res["ops"] if o["warm"] and o["kind"] == "consumer"
            and first <= o["pass"] < first + n]
    for mod in MODULES:
        m[f"queries.{mod}_p50_s"] = median([o["wall_s"] for o in qops if o["module"] == mod])
    # substrates
    sops = [o for o in res["ops"] if o["warm"] and o["kind"] == "substrate" and first <= o["pass"] < first + n]
    for s in SUBSTRATES:
        m[f"substrates.{s}_s"] = median([o["wall_s"] for o in sops if o["name"] == f"substrate:{s}"])
    per_pass = {}
    for o in qops:
        per_pass[o["pass"]] = per_pass.get(o["pass"], 0.0) + o["wall_s"]
    m["substrates.consumers_s"] = median(list(per_pass.values()))
    mb = [b for p, b in res["memo_builds"] if first <= p < first + n]
    m["memo.builds"] = statistics.mean(mb) if mb else 0.0
    cg = res["traced_codegen"]
    m["codegen.compiles"] = cg["compiles"] / max(1, n)
    m["codegen.bytecode_bytes"] = cg["bytecode_bytes"] / max(1, n)
    m["codegen.cold_compiles"] = res["cold_codegen"]["compiles"]
    m["cold.pass_s"] = res["cold_s"]
    # self time per layer, per pass
    for layer in ("bench", "pipeline", "sinks", "queries", "substrates", "memo"):
        m[f"self.{layer}_s"] = sum(s["self_s"] for s in res["spans"] if s["layer"] == layer) / max(1, n)
    traced = [o["wall_s"] for o in timed_ops(res, first, first + n)]
    untraced = [o["wall_s"] for o in timed_ops(res, res["window_first_pass"], first)]
    m["trace.overhead_ratio"] = median(traced) / median(untraced) if untraced and traced else 0.0
    m["failed_ops_frac"] = failed_frac
    return m


def span_summary(spans, engine):
    """Spans by name, the most self time first, with the Spark work each
    caused directly (jobs, stages, tasks, task run time)."""
    agg = {}
    for s in spans:
        a = agg.setdefault(s["name"], {"layer": s["layer"], "count": 0, "dur_s": 0.0, "self_s": 0.0,
                                       "jobs": 0.0, "stages": 0.0, "tasks": 0.0, "task_run_s": 0.0})
        a["count"] += 1
        a["dur_s"] += s["dur_s"]
        a["self_s"] += s["self_s"]
        for k, v in engine.get(str(s["id"]), {}).items():
            a[k] += v
    top = sorted(agg.items(), key=lambda kv: -kv[1]["self_s"])[:25]
    return {k: {kk: (round(vv, 6) if isinstance(vv, float) else vv) for kk, vv in v.items()}
            for k, v in top}


# --- main ---------------------------------------------------------------------

def host_probe():
    """Seconds a fixed pure-Python loop takes: how fast this host runs one
    thread right now. Shared hosts swing by 1.5-2x over minutes; a run
    whose probe reads slow was measured on a slow host."""
    t0 = time.perf_counter()
    x = 0
    for i in range(1_000_000):
        x += i * i
    return time.perf_counter() - t0


def git_sha():
    """HEAD of the checkout, or "unknown" when it is not a git work tree of its own."""
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "--show-toplevel", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        lines = out.stdout.split()
        if out.returncode == 0 and len(lines) == 2 and os.path.samefile(lines[0], ROOT):
            return lines[1]
    except (OSError, subprocess.SubprocessError):
        pass
    return "unknown"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="tiny inputs (smoke test)")
    ap.add_argument("--inject", choices=("wrong", "fail"),
                    help="smoke test: corrupt one expected result, or make one op raise")
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"{ROOT} is not a graft checkout (no build.sbt / src/main/scala/graft)")
    import gen
    import checks

    t_start = time.time()
    load_before = os.getloadavg()
    probe_before = host_probe()
    classpath, digest = build()
    work = os.path.join(BUILD_DIR, "runs", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    os.makedirs(os.path.join(work, "tmp"))
    if a.workload == "pipeline_e2e":
        params = gen.review_corpus(os.path.join(inputs, "corpus"), a.seed,
                                   **(TINY["corpus"] if a.tiny else {}))
        corpus_docs = params["docs"]
    else:
        gen.tables(os.path.join(inputs, "tables"), a.seed,
                   **(TINY["tables"] if a.tiny else KERNEL_TABLES))
        corpus_docs = 0
    cmd = ["java", *[x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "-Xmx3g", f"-Djava.io.tmpdir={work}/tmp", "-cp", classpath, "graft.perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--inputs", inputs, "--work", work,
           "--warmup-passes", str(0 if a.tiny else WARMUP_PASSES[a.workload]), "--pool", str(POOL),
           "--inject", "fail" if a.inject == "fail" else ""]
    budget = RUN_TIMEOUT_S - (time.time() - t_start)
    t_jvm = time.time()
    with open(os.path.join(work, "jvm.log"), "w") as out:
        rc = run_proc(cmd, ROOT, dict(os.environ), out, budget)
    t_check = time.time()
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            tail = f.read()[-3000:]
        fail(f"harness JVM exited with {rc}:\n{tail}")
    with open(os.path.join(work, "result.json")) as f:
        res = json.load(f)
    if a.workload == "pipeline_e2e":
        verdicts = {"pipeline": checks.pipeline_check(
            os.path.join(inputs, "corpus"), os.path.join(work, "pipeline"), res, a.inject == "wrong")}
    else:
        corrupt = sorted(res["oracle"])[0] if a.inject == "wrong" else None
        verdicts = checks.oracle_check(os.path.join(inputs, "tables"), os.path.join(work, "out"),
                                       res["oracle"], corrupt)
    attempted, failed, failures = account(res, verdicts)
    phases = {"prepare_s": t_jvm - t_start, "jvm_s": t_check - t_jvm, "check_s": time.time() - t_check}
    for name, p, why in failures[:20]:
        log(f"FAILED {name} pass {p}: {why}")
    e2e = end_to_end(res)
    first = res["window_first_pass"]
    window = timed_ops(res, first, first + res["window_passes"])
    info = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "git_sha": git_sha(), "source_sha256": digest, "nproc": os.cpu_count(),
        "pool": res["pool"], "shuffle_partitions": res["shuffle_partitions"],
        "spark": res["spark_version"], "loadavg_before": load_before,
        "loadavg_after": os.getloadavg(), "host_probe_s": [probe_before, host_probe()],
        "warmup_passes": res["warmup_passes"], "window_s": res["window_s"],
        "window_passes": res["window_passes"],
        "window_pass_s": [o["wall_s"] for o in window],
        "window_pass_cpu_s": [o["cpu_s"] for o in window],
        "run_phases_s": phases,
        "window_cpu_frac": res["window_process_cpu_s"] / (res["window_s"] * os.cpu_count()),
        "report": report(res, e2e, attempted, failed, corpus_docs),
    }
    if a.workload == "pipeline_e2e":
        info["kmeans_iterations"] = [p["iterations"] for p in res["pipeline_passes"]]
    info["checksums"] = sorted({f'{o["name"]}={o["checksum"]}' for o in res["ops"] if o["checksum"]})
    if a.trace:
        metrics = per_layer(res, failed / attempted)
        info["exec.cpu_frac"] = metrics["exec.cpu_frac"]
        info["spans_by_self_time"] = span_summary(res["spans"], res["engine_by_span"])
        with open(os.path.join(BUILD_DIR, f"trace-{a.workload}.json"), "w") as f:
            json.dump(res["spans"], f)
        out = {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()}
    else:
        out = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    print(json.dumps({"info": info}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": out}))


def unit_of(name):
    if name in ("exec.peak_exec_mem_mb",):
        return "MB"
    if name.endswith("_s"):
        return "s"
    if name.endswith(("_frac", "_skew", "_ratio", "tasks_per_stage")):
        return "ratio"
    if "bytes" in name:
        return "bytes"
    return "count"


if __name__ == "__main__":
    main()
