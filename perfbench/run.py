#!/usr/bin/env python3
"""graft's benchmark: one command that builds graft from the enclosing
checkout, generates seeded inputs, drives a workload through graft's public
entry point (`graft.Cli.run`), checks every output and prints the metrics.

    python3 perfbench/run.py --workload marc_index --seed 1 --seconds 20 --trace 0

Workloads (each a closed loop with one client, in one JVM with a
`local[nproc]` Spark session):

  marc_index    `Cli.run process -i marc -w solr` over seeded binary MARC
                batches, posting to a Solr stub on 127.0.0.1 that answers
                after a fixed delay and records every doc.
  curate_daily  a day-0 `Cli.run curate` over a seeded corpus with planted
                exact and near duplicates and a held-out decontamination
                set, then daily `curate -s curate.against=<standing>`
                increments over HTML crawl deltas.

End-to-end metrics (`--trace 0`), the same names on every workload:

  throughput_per_s  input items completed per second of loop wall time:
                    MARC records the stub acknowledged as correct docs
                    (marc_index), or input docs of the day-0 batch and
                    delta calls that succeeded (curate_daily; the loop runs
                    whole cycles, so every run has the same call mix).
  op_median_s       median wall time of one operation: one `process` call
                    (marc_index) or one daily increment (curate_daily).
  setup_s           JVM start to the first timed operation: session start
                    and the cold first execution of the workload. Input
                    generation is excluded.
  live_heap_mib     heap in use after a full GC at the end of the loop.

`attempted`/`failed` count MARC records (marc_index) or `curate`
invocations (curate_daily); an operation that errors or breaks an output
invariant fails. `--trace 1` reports the per-layer metrics instead (see
BENCHMARK.json); they come from spans and Spark listeners in this
directory's harness, never from changes to graft.
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

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(HERE, "target")
CLASSPATH = os.path.join(BUILD_DIR, "classpath.txt")
WORK = os.path.join(HERE, "work")
DEADLINE_S = 170
STUB_DELAY_MS = 5
# share of the traced loop's wall time the span tree may fail to account for
RECONCILE_BOUND = 0.05

# the JVM flags graft's own build passes to forked runs (Spark on JDK 17)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


# ---------------------------------------------------------------- host --

def host_settings():
    """Cores from the CPU affinity mask (what `nproc` prints) and the heap
    from MemTotal, as graft's tier-1 test command derives them."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        kib = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    heap_g = min(8, max(2, kib // 2097152))
    return cores, heap_g


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


# --------------------------------------------------------------- build --

def _source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
             os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles graft through its own build and the harness on top of it
    (perfbench/build.sbt), unless the stamp says the classes are current."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("[perfbench] no graft sources next to the benchmark: nothing to measure")
    stamp = _source_stamp()
    stamp_file = os.path.join(BUILD_DIR, "perfbench.stamp")
    if os.path.exists(CLASSPATH) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    log("building graft and the harness with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    sbt_opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        sbt_opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(sbt_opts)
    # `Compile / products` compiles and also copies graft's resources (the
    # data source registrations among them) next to the classes
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "Compile / products",
                        "writeClasspath"], cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-5000:])
        sys.exit("[perfbench] build failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)


# ---------------------------------------------------------------- run --

def run_jvm(args, cores, heap_g, work, deadline):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # -UsePerfData: no hsperfdata file in the system temp directory
    cmd = ["java", "-Xms%dg" % heap_g, "-Xmx%dg" % heap_g, "-XX:ReservedCodeCacheSize=512m",
           "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp,
           "-Dspark.local.dir=" + os.path.join(work, "spark-local"),
           "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    with open(CLASSPATH) as f:
        classpath = f.read().strip()
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--work", work, "--seconds", str(args.seconds),
            "--cores", str(cores), "--trace", str(args.trace),
            "--stub-delay-ms", str(STUB_DELAY_MS), "--out", os.path.join(work, "result.json")]
    with open(os.path.join(work, "jvm.log"), "w") as out:
        p = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            code = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            code = None
    if code != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        sys.exit("[perfbench] harness %s" % ("timed out" if code is None else "exited %d" % code))
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


# -------------------------------------------------------------- checks --

def check_marc(result, work, expect):
    """Per operation: the stub received exactly the batch's docs and one
    commit; every id is `bib_` + the planted 001 and every title_display is
    the planted 245$a. Returns (records attempted, records failed)."""
    got, commits = {}, {}
    with open(os.path.join(work, "stub.tsv"), encoding="utf-8") as f:
        for line in f:
            core, key, value = line.rstrip("\n").split("\t", 2)
            if key == "#commits":
                commits[core] = int(value)
            else:
                got.setdefault(core, []).append((key, value))
    attempted = failed = 0
    for op in result["ops"]:
        want = expect[op["i"] % len(expect)]
        attempted += len(want)
        core = "op%d" % op["i"]
        docs = got.get(core, [])
        if op["error"] or commits.get(core) != 1 or len(docs) != len(want):
            failed += len(want)
            continue
        received = dict(docs)
        failed += sum(1 for cn, title in want if received.get("bib_" + cn) != title)
    return attempted, failed, attempted - failed


def _read(path, cols=("doc_id", "text")):
    import pyarrow.dataset as ds
    if not os.path.isdir(path):
        return None
    t = ds.dataset(path, format="parquet", partitioning="hive").to_table(columns=list(cols))
    return list(zip(*(t.column(c).to_pylist() for c in cols)))


def check_curate(result, work, groups):
    """Per cycle: day-0 output ids are input ids, no two output docs share a
    text, each planted exact-duplicate group keeps at most one member; each
    increment keeps only delta ids, appends no text the standing corpus
    already holds, and grows the standing corpus by exactly the delta
    written. Returns (invocations attempted, invocations failed, input docs
    of the invocations that passed)."""
    corpus = os.path.join(work, "corpus")
    day0_ids = {r[0] for r in _read(os.path.join(corpus, "day0"), ("doc_id",))}
    cycles = {}
    for op in result["ops"]:
        out = op["args"][op["args"].index("-o") + 1]
        cycles.setdefault(os.path.dirname(out), []).append((op, out))
    failed = items = 0
    for cdir, ops in cycles.items():
        standing = _read(os.path.join(cdir, "standing")) or []
        seen = set()
        ok_prev = True
        for op, out in ops:
            ok = ok_prev and not op["error"]
            if ok and op["kind"] == "curate_day0":
                rows = [r for r in standing if r[0] < gen.DELTA_ID_BASE]
                texts = [r[1] for r in rows]
                kept = {r[0] for r in rows}
                ok = (bool(rows) and kept <= day0_ids and len(set(texts)) == len(texts)
                      and all(len(kept.intersection(g)) <= 1 for g in groups))
                seen = set(texts)
                items += len(day0_ids) if ok else 0
            elif ok:
                k = int(os.path.basename(out).split("_")[1])
                lo, hi = (k + 1) * gen.DELTA_ID_BASE, (k + 2) * gen.DELTA_ID_BASE
                delta = _read(out) or []
                delta_in = {r[0] for r in _read(os.path.join(corpus, os.path.basename(out)), ("doc_id",))}
                appended = [r for r in standing if lo <= r[0] < hi]
                texts = [r[1] for r in delta]
                ok = ({r[0] for r in delta} <= delta_in and len(set(texts)) == len(texts)
                      and not seen.intersection(texts)
                      and sorted(appended) == sorted(delta))
                seen.update(texts)
                items += len(delta_in) if ok else 0
            if not ok:
                failed += 1
            ok_prev = ok
    return len(result["ops"]), failed, items


# ------------------------------------------------------------- metrics --

def median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(result, items, main_kind):
    """`items` is the number of input items the loop completed correctly;
    `main_kind` the operation kind whose median latency is reported."""
    ops = result["ops"]
    wall = (ops[-1]["t1_ns"] - ops[0]["t0_ns"]) / 1e9
    main = [(o["t1_ns"] - o["t0_ns"]) / 1e9 for o in ops if o["kind"] == main_kind and not o["error"]]
    values = {"throughput_per_s": items / wall, "op_median_s": median(main),
              "setup_s": result["setup_s"], "live_heap_mib": result["live_heap_bytes"] / 2**20}
    samples = {"throughput_per_s": len(ops), "op_median_s": len(main), "setup_s": 1,
               "live_heap_mib": 1}
    return values, samples


def per_layer(result, expected):
    """The traced run's layer metrics, with tracing overhead from the two
    halves of the loop: per operation kind, the median traced time over the
    median untraced time, less 1, averaged over kinds. It rests on a few
    samples of each kind (returned beside it), so a value at or below 0
    means no overhead the loop's own spread can show. Every expected metric
    must be present."""
    m = dict(result["layers"]["metrics"])
    ratios, samples = [], {}
    for kind in sorted({o["kind"] for o in result["ops"]}):
        plain = [o["t1_ns"] - o["t0_ns"] for o in result["ops"] if o["kind"] == kind and not o["traced"]]
        traced = [o["t1_ns"] - o["t0_ns"] for o in result["ops"] if o["kind"] == kind and o["traced"]]
        samples[kind] = {"traced": len(traced), "untraced": len(plain)}
        if plain and traced:
            ratios.append(median(traced) / median(plain))
    if ratios:
        m["trace.overhead_ratio"] = statistics.mean(ratios) - 1.0
    missing = [name for name in expected if name not in m]
    return m, missing, samples


# ---------------------------------------------------------------- main --

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["marc_index", "curate_daily"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    build()
    deadline = time.time() + DEADLINE_S
    cores, heap_g = host_settings()
    work = os.path.join(WORK, "%s-%d-%d" % (args.workload, args.seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t0 = time.time()
        params = {}
        if args.workload == "marc_index" or args.trace:
            params["marc"], expect = gen.marc_batches(os.path.join(work, "marc"), args.seed)
        if args.workload == "curate_daily" or args.trace:
            params["corpus"], groups = gen.corpus(os.path.join(work, "corpus"), args.seed)
        gen_s = time.time() - t0

        result = run_jvm(args, cores, heap_g, work, deadline)
        if args.workload == "marc_index":
            attempted, failed, items = check_marc(result, work, expect)
        else:
            attempted, failed, items = check_curate(result, work, groups)
        info = {"workload": args.workload, "seed": args.seed, "generate_s": gen_s,
                "generator": params, "host": {"cores": cores, "heap": "%dg" % heap_g,
                                               "jdk": result["env"]["jdk"],
                                               "spark": result["env"]["spark"],
                                               "commit": git_commit()}}
        correct = failed == 0 and attempted > 0
        if args.trace:
            expected = [m["name"] for m in spec["per_layer"]]
            values, missing, overhead_samples = per_layer(result, expected)
            recon = result["layers"]["reconciliation"]
            # the ratio only catches overlapping operations; the span tree
            # itself is checked by the escape and attribution counts
            reconciled = (abs(recon["reconciled_ratio"] - 1.0) <= RECONCILE_BOUND
                          and recon["escaped_s"] <= RECONCILE_BOUND * recon["wall_s"]
                          and recon["escaped_spans"] == 0
                          and recon["unattributed_jobs"] == 0
                          and recon["unattributed_stages"] == 0)
            info.update(reconciliation=recon, missing=missing,
                        overhead_samples=overhead_samples)
            # the span tree of the last traced run, for reading after it ends
            shutil.copy(os.path.join(work, "spans.jsonl"),
                        os.path.join(WORK, "trace-%s.jsonl" % args.workload))
            correct = correct and not missing and reconciled
            units = {m["name"]: m["unit"] for m in spec["per_layer"]}
            metrics = {k: {"value": values.get(k, 0.0), "unit": u} for k, u in units.items()}
        else:
            main_kind = "process" if args.workload == "marc_index" else "curate_increment"
            values, samples = end_to_end(result, items, main_kind)
            info["samples"] = samples
            metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                       for m in spec["end_to_end"]}
        print(json.dumps({"info": info}))
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
