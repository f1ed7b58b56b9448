#!/usr/bin/env python3
"""graft benchmark: one seeded workload, measured, checked, reported.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds graft and the harness
from source (sbt, into .bench_build/), inputs are generated from the seed
into .bench_data/, and every run works in .bench_work/. The last stdout line
is one JSON object: correct, attempted, failed and metrics (the end-to-end
metrics with --trace 0, the per-layer metrics with --trace 1). Details of
the run (per-op times, host stamps, checks, spans) are kept in
.bench_work/results/. See perfbench/README.md for the workloads and metrics.
"""
import argparse
import glob
import gzip
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
DATA = os.path.join(ROOT, ".bench_data")
WORK = os.path.join(ROOT, ".bench_work")
CORES = 4
JVM_TIMEOUT_S = 170  # a run must end within 180 s; a hung JVM is killed
REGEX = "^(S[0-9]+)_"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

# Genomic library shared by the two warm classify workloads: 10 genera x
# 10 species, 5 % divergence from the genus ancestor, 1 % read errors,
# Zipf abundance, 10 % reads from no genome.
LIBRARY = dict(genera=10, species=10, genome_len=6000, divergence=0.05,
               read_len=150, error_rate=0.01, zipf=1.0, foreign_share=0.1,
               paired=False, insert=300)

# Set-up reps of the classify workloads: the first is JVM-cold and the next
# ones still show JIT settling, so these are run and recorded but left out
# of the median.
SETUP_WARM = 2

WORKLOADS = {
    "classify_mem": dict(
        kind="warm",
        data=dict(LIBRARY, samples=4, reads_per_sample=15000),
        build=["-k", "35", "-m", "31", "-s", "7", "-p", "8"],
        classify=[],
        mem=True,
        setup_warm=SETUP_WARM,
        pipeline_probe=True),
    "classify_wide64": dict(
        kind="warm",
        data=dict(LIBRARY, samples=4, reads_per_sample=5000),
        build=["-k", "66", "-m", "64", "-o", "frequency", "-p", "8"],
        classify=["--in-memory", "false"],
        mem=False,
        setup_warm=SETUP_WARM,
        curate_probe=True),
    "cold_pipeline": dict(
        kind="cold",
        data=dict(LIBRARY, samples=2, reads_per_sample=3000,
                  paired=True),
        build=["-k", "35", "-m", "31", "-s", "7", "-p", "8"],
        threshold=100),
    "curate_text": dict(
        kind="curate",
        data=dict(docs=2500, doc_words=100, vocab=20000, exact_copies=100,
                  near_high=100, near_low=100, low_quality=100)),
}

END_TO_END = {"setup_s": "s", "input_mb_per_s": "MB/s"}


def log(*a):
    print(*a, file=sys.stderr, flush=True)


# ------------------------------------------------------------------ build

def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build():
    """Compile graft's main sources with the harness (once per source state);
    returns the runtime classpath."""
    main = os.path.join(ROOT, "src", "main", "scala", "graft", "Main.scala")
    if not os.path.exists(main):
        raise SystemExit("graft sources not found under %s: run from the root of "
                         "a graft checkout" % ROOT)
    h = hashlib.sha1()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    if "SPARK_HOME" not in env:
        # the first Spark distribution on PATH: a bin/ with spark-submit
        # beside a jars/ directory
        homes = [os.path.dirname(os.path.abspath(d)) for d in env.get("PATH", "").split(os.pathsep)
                 if os.path.exists(os.path.join(d, "spark-submit"))]
        homes = [h for h in homes if os.path.isdir(os.path.join(h, "jars"))]
        if not homes:
            raise SystemExit("set SPARK_HOME: no Spark distribution found on PATH")
        env["SPARK_HOME"] = homes[0]
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=%s/.sbt/repositories -Dsbt.offline=true "
                   "-Xmx2g" % os.path.expanduser("~"))
    # keep the build's scratch files in the checkout
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    env["SBT_OPTS"] += " -XX:-UsePerfData -Djava.io.tmpdir=" + os.path.join(BUILD, "tmp")
    log("building graft + harness (sbt) ...")
    with open(os.path.join(BUILD, "build.log"), "w") as lf:
        r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=lf,
                           stdin=subprocess.DEVNULL, text=True)
        lf.write(r.stdout)
    lines = [l for l in r.stdout.splitlines() if l and not l.startswith("[")]
    if r.returncode != 0 or not lines:
        raise SystemExit("build failed, see %s/build.log" % BUILD)
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


def java_cmd(cp, work, main, extra=()):
    return (["java", "-Xmx3g", "-XX:-UsePerfData"] +
            [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] +
            ["-Dspark.master=local[%d]" % CORES,
             "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC",
             "-Dspark.local.dir=" + os.path.join(work, "spark-local"),
             "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
             "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
             "-Dderby.system.home=" + os.path.join(work, "derby")] +
            list(extra) + ["-cp", cp, main])


def run_jvm(cmd, work, logname):
    """Run one JVM to completion; returns (wall seconds, stdout text)."""
    with open(os.path.join(work, logname + ".err"), "w") as err:
        t0 = time.perf_counter()
        r = subprocess.run(cmd, cwd=work, stdout=subprocess.PIPE, stderr=err,
                           stdin=subprocess.DEVNULL, text=True, timeout=JVM_TIMEOUT_S)
        wall = time.perf_counter() - t0
    with open(os.path.join(work, logname + ".out"), "w") as f:
        f.write(r.stdout)
    if r.returncode != 0:
        raise RuntimeError("%s exited %d (see %s/%s.err)" % (cmd[-1], r.returncode,
                                                             work, logname))
    return wall, r.stdout


# ------------------------------------------------------------------ checks

def load_truth(d):
    truth = {}
    with open(os.path.join(d, "truth.tsv")) as f:
        for line in f:
            rid, t = line.rstrip("\n").split("\t")
            truth[rid] = int(t)
    return truth


def genus_clade(t, p):
    """Taxa a read from species t may legitimately be assigned to: the
    root, its genus, and any species of that genus."""
    g = gen.genus_of(t, p)
    first = gen.SPECIES_BASE + (g - gen.GENUS_BASE) * p["species"]
    return {1, g} | set(range(first, first + p["species"]))


def read_output(out):
    rows = []
    for f in sorted(glob.glob(os.path.join(out, "sample=*", "part-*"))):
        opener = gzip.open if f.endswith(".gz") else open
        with opener(f, "rt") as fh:
            for line in fh:
                c, title, taxon, _length, hits = line.rstrip("\n").split("\t", 4)
                rows.append((c, title.rsplit("/", 1)[0] if title.endswith(("/1", "/2"))
                             else title, int(taxon), hits))
    return rows


def check_reads(rows, truth, p, info):
    """Every read output once; no-genome reads unclassified; no read
    outside its source genus clade. Returns failure messages."""
    bad = []
    seen = {}
    species_hits = outside = foreign_cls = 0
    for c, title, taxon, _ in rows:
        seen[title] = seen.get(title, 0) + 1
        src = truth.get(title)
        if src is None:
            bad.append("unknown read %s" % title)
            continue
        if src == 0:
            if c != "U" or taxon != 0:
                foreign_cls += 1
        elif taxon != 0:
            if taxon not in genus_clade(src, p):
                outside += 1
            elif taxon == src:
                species_hits += 1
    dup = sum(1 for v in seen.values() if v > 1)
    missing = len(truth) - len(seen)
    if dup or missing:
        bad.append("reads output %d missing, %d more than once" % (missing, dup))
    if foreign_cls:
        bad.append("%d no-genome reads classified" % foreign_cls)
    if outside:
        bad.append("%d reads assigned outside their genus" % outside)
    info["species_exact"] = species_hits
    info["classified"] = sum(1 for r in rows if r[2] != 0)
    return bad


def kreport_total(lines):
    """Reads a kreport covers: the unclassified line plus the root clade."""
    total = 0
    for line in lines:
        fs = line.rstrip("\n").split("\t")
        if len(fs) >= 6 and fs[4] in ("0", "1"):
            total += int(fs[1])
    return total


def check_reports(rep_dir, truth):
    bad = []
    per_sample = {}
    for rid in truth:
        s = rid.split("_", 1)[0]
        per_sample[s] = per_sample.get(s, 0) + 1
    for s, n in sorted(per_sample.items()):
        path = os.path.join(rep_dir, s + ".kreport.txt")
        if not os.path.exists(path):
            bad.append("missing kreport for %s" % s)
            continue
        with open(path) as f:
            total = kreport_total(f)
        if total != n:
            bad.append("kreport %s totals %d, expected %d" % (s, total, n))
    return bad


def check_classify(out, p, truth):
    info = {}
    bad = check_reads(read_output(out), truth, p, info)
    bad += check_reports(out + "_reports", truth)
    return bad, info


def check_classify2(out, p, truth, threshold):
    info = {}
    bad = check_reads(read_output(out), truth, p, info)
    with open(out + "_taxonSet.txt") as f:
        selected = {int(x) for x in f.read().split()}
    counts = {}
    for t in truth.values():
        if t:
            counts[t] = counts.get(t, 0) + 1
    must = {t for t, n in counts.items() if n >= 2 * threshold}
    missed = must - selected
    spurious = {t for t in selected if t >= gen.SPECIES_BASE and counts.get(t, 0) == 0}
    if missed:
        bad.append("classify2 missed %d species with >= %d reads" % (len(missed), 2 * threshold))
    if spurious:
        bad.append("classify2 selected %d species with no reads" % len(spurious))
    info["selected"] = len(selected)
    return bad, info


def check_curate(out, truth):
    summary = {}
    with open(os.path.join(out, "summary.tsv")) as f:
        for line in f.readlines()[1:]:
            k, v = line.rstrip("\n").split("\t")
            summary[k] = int(v)
    bad = []
    want_q = truth["input"] - truth["low_quality"]
    want_x = want_q - truth["exact_copies"]
    if summary.get("input") != truth["input"]:
        bad.append("curate input %s != %d" % (summary.get("input"), truth["input"]))
    if summary.get("quality_gate") != want_q:
        bad.append("quality gate kept %s, expected %d" % (summary.get("quality_gate"), want_q))
    if summary.get("exact_dedup") != want_x:
        bad.append("exact dedup kept %s, expected %d" % (summary.get("exact_dedup"), want_x))
    # every near copy above the threshold is dropped (a few LSH misses
    # allowed); none below it is
    lo = want_x - truth["near_high"]
    hi = lo + max(1, truth["near_high"] // 50)
    if not lo <= summary.get("near_dup", -1) <= hi:
        bad.append("near dup kept %s, expected [%d, %d]" % (summary.get("near_dup"), lo, hi))
    if not os.path.isdir(os.path.join(out, "corpus")):
        bad.append("no curated corpus")
    return bad, summary


# ------------------------------------------------------------------ workloads

def harness(cp, work, seconds, trace, prime, warmup, setup, op, probes=(),
            min_ops=3, setup_reps=3, fresh_session=False, clean=()):
    """Run one plan in one JVM (see Harness.scala); returns its results."""
    plan, result = os.path.join(work, "plan.tsv"), os.path.join(work, "result.tsv")
    with open(plan, "w") as f:
        f.write("seconds\t%s\nmin_ops\t%d\nsetup_reps\t%d\nfresh_session\t%d\n"
                % (seconds, min_ops, setup_reps, int(fresh_session)))
        for path in clean:
            f.write("clean\t%s\n" % path)
        for kind, cmds in (("prime", prime), ("warmup", warmup), ("setup", setup),
                           ("op", op), ("probe", probes if trace else ())):
            for c in cmds:
                f.write("\t".join([kind] + list(c)) + "\n")
    extra = ["-Dspark.extraListeners=perfbench.TraceListener"] if trace else []
    run_jvm(java_cmd(cp, work, "perfbench.Harness", extra) +
            ["plan", plan, result, str(trace)], work, "harness")
    res = {"setup": [], "op": [], "metric": {}, "host": {}}
    with open(result) as f:
        for line in f:
            fs = line.rstrip("\n").split("\t")
            if fs[0] == "setup":
                res["setup"].append(float(fs[2]))
            elif fs[0] == "op":
                res["op"].append((int(fs[1]), float(fs[2]), fs[3] == "1"))
            elif fs[0] in ("metric", "host"):
                res[fs[0]][fs[1]] = float(fs[2])
    return res


def check_ops(res, check):
    """Run `check(i)` -> (failures, info) on every timed op; returns the
    failed-op count and the infos."""
    failed, infos = 0, []
    for i, _t, _traced in res["op"]:
        bad, info = check(i)
        infos.append(info)
        if bad:
            failed += 1
            log("op %d failed: %s" % (i, "; ".join(bad)))
    return failed, infos


def stdout_of(work, tag):
    with open(os.path.join(work, tag + ".out")) as f:
        return f.read()


def warm(w, cp, work, seed, seconds, trace):
    """One JVM, one warm session: build in set-up, classify per op."""
    p = w["data"]
    d = gen.genomic(DATA, seed, p)
    truth = load_truth(d)
    idx = os.path.join(work, "idx")
    build = ["build"] + w["build"] + ["--library", d + "/library.fna", "--labels",
                                      d + "/labels.tsv", "--taxonomy", d + "/tax",
                                      "--output", idx]
    classify = ["classify", "--index", idx, "--reads", d + "/reads.fastq",
                "--sample-regex", REGEX] + w["classify"]
    probe = ["genomic", "idx=" + idx, "lib=" + d + "/library.fna",
             "labels=" + d + "/labels.tsv", "reads=" + d + "/reads.fastq",
             "out=" + os.path.join(work, "probe"), "regex=" + REGEX,
             "opout=" + os.path.join(work, "warm0"), "mem=" + str(w["mem"]).lower()]
    probes = [probe]
    if trace and w.get("pipeline_probe"):
        # the paired-read, classify2 and bracken layers, timed on this
        # index with the paired reads of the same seed (same library)
        cp_w = WORKLOADS["cold_pipeline"]
        probes.append(cold_probe(idx, d, gen.genomic(DATA, seed, cp_w["data"]),
                                 cp_w["threshold"]))
    if trace and w.get("curate_probe"):
        # the training-data layers, timed on a small seeded corpus, so the
        # traced runs of the workloads in BENCHMARK.json cover them too
        docs = os.path.join(gen.corpus(DATA, seed, WORKLOADS["curate_text"]["data"]),
                            "docs.parquet")
        probes.append(["curate", "docs=" + docs])
    res = harness(cp, work, seconds, trace, prime=[],
                  warmup=[["warmup", *classify, "--output", os.path.join(work, "warm%d" % k)]
                          for k in range(2)],
                  setup=[["build"] + build],
                  op=[["classify", *classify, "--output", os.path.join(work, "op{i}")]],
                  probes=probes, setup_reps=SETUP_WARM + 3, clean=[idx])
    def check(i):
        out = os.path.join(work, "op%d" % i)
        bad, info = check_classify(out, p, truth)
        # classify_mem: the program, not the benchmark, picks the in-memory
        # table; classify_wide64: the forced join never builds it
        stdout = stdout_of(work, "op%d_classify" % i)
        auto = "auto in-memory classification" in stdout
        table = "in-memory table built" in stdout
        if w["mem"] and not (auto and table):
            bad.append("classify did not auto-pick the in-memory table")
        if not w["mem"] and (auto or table):
            bad.append("classify built the in-memory table under --in-memory false")
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(out + "_reports", ignore_errors=True)
        return bad, info
    checked = check_ops(res, check)
    if trace and w.get("pipeline_probe"):
        # the cold CLI floor: inputCheck in a JVM of its own
        res["metric"].update(fresh_jvm(cp, work, [("floor", floor_cmd(d))]))
        if not floor_ok(stdout_of(work, "cli_floor"), p):
            raise RuntimeError("fresh-JVM inputCheck did not report every taxon valid")
    return (res, *checked, len(truth) * p["read_len"])


def curate(w, cp, work, seed, seconds, trace):
    """One JVM, one warm session: curate per op. Set-up is a fresh session
    running the cheap stages (quality gate, exact dedup) of the same corpus."""
    d = gen.corpus(DATA, seed, w["data"])
    with open(os.path.join(d, "truth.json")) as f:
        truth = json.load(f)
    docs = os.path.join(d, "docs.parquet")
    setup = ["setup", "curate", "--docs", docs, "--span-n", "0",
             "--output", os.path.join(work, "setup")]
    op = ["curate", "--docs", docs, "--near-dup-threshold", "0.7"]
    res = harness(cp, work, seconds, trace, prime=[],
                  warmup=[["warmup", *op, "--output", os.path.join(work, "warm")]],
                  setup=[setup],
                  op=[["curate", *op, "--output", os.path.join(work, "op{i}")]],
                  probes=[["curate", "docs=" + docs]])
    def check(i):
        out = os.path.join(work, "op%d" % i)
        result = check_curate(out, truth)
        shutil.rmtree(out, ignore_errors=True)
        return result
    return (res, *check_ops(res, check), truth["bytes"])


def floor_cmd(d):
    """inputCheck on the workload's taxonomy and labels: the CLI floor."""
    return ["inputCheck", "--taxonomy", d + "/tax", "--labels", d + "/labels.tsv"]


def floor_ok(stdout, p):
    return "%d valid taxa" % (p["genera"] * p["species"]) in stdout


def cold_probe(idx, lib_dir, reads_dir, threshold):
    return ["cold", "idx=" + idx, "lib=" + lib_dir + "/library.fna",
            "labels=" + lib_dir + "/labels.tsv", "r1=" + reads_dir + "/reads_1.fastq",
            "r2=" + reads_dir + "/reads_2.fastq", "threshold=" + str(threshold)]


def pipeline_steps(w, d, o):
    """The five commands after the floor, as (tag, args)."""
    lib, labels, tax = d + "/library.fna", d + "/labels.tsv", d + "/tax"
    r1, r2 = d + "/reads_1.fastq", d + "/reads_2.fastq"
    idx = o + "/idx"
    return [
        ("build", ["build"] + w["build"] + ["--library", lib, "--labels", labels,
                                            "--taxonomy", tax, "--output", idx]),
        ("classify", ["classify", "--index", idx, "--reads", r1, "--reads2", r2,
                      "--sample-regex", REGEX, "--output", o + "/classify"]),
        ("classify2", ["classify2", "--index", idx, "--library", lib, "--labels", labels,
                       "--reads", r1, "--reads2", r2, "--threshold", str(w["threshold"]),
                       "--output", o + "/classify2"]),
        ("bracken", ["bracken", "--index", idx, "--library", lib, "--labels", labels,
                     "--read-len", str(w["data"]["read_len"]), "--output", o + "/bracken"]),
        ("report", ["report", "--index", idx, "--classified", o + "/classify"]),
    ]


def check_pipeline(o, out_of, w, p, truth):
    bad, info = check_classify(o + "/classify", p, truth)
    bad2, info2 = check_classify2(o + "/classify2", p, truth, w["threshold"])
    bad += bad2
    info["classify2_selected"] = info2["selected"]
    if not glob.glob(o + "/bracken/part-*"):
        bad.append("no bracken weights")
    total = kreport_total(out_of("report").splitlines())
    if total != len(truth):
        bad.append("report totals %d, expected %d" % (total, len(truth)))
    return bad, info


def cold(w, cp, work, seed, seconds, trace):
    """Every command starts its own Spark session, as separate CLI calls do.
    Set-up: inputCheck (the session floor). Op: build -> classify (paired)
    -> classify2 -> bracken -> report. Traced runs also run the floor and
    the five commands once each in a fresh JVM."""
    p = w["data"]
    d = gen.genomic(DATA, seed, p)
    truth = load_truth(d)
    floor = floor_cmd(d)
    o = os.path.join(work, "op{i}")
    probe = cold_probe(os.path.join(work, "op0", "idx"), d, d, w["threshold"])
    res = harness(cp, work, seconds, trace,
                  prime=[["floor"] + floor], warmup=[],
                  setup=[["floor"] + floor],
                  op=[[tag] + args for tag, args in pipeline_steps(w, d, o)],
                  probes=[probe], min_ops=1, fresh_session=True)
    floor_good = floor_ok(stdout_of(work, "floor"), p)

    def check(i):
        oi = os.path.join(work, "op%d" % i)
        bad, info = check_pipeline(oi, lambda tag: stdout_of(work, "op%d_%s" % (i, tag)),
                                   w, p, truth)
        if not floor_good:
            bad.append("inputCheck did not report every taxon valid")
        shutil.rmtree(oi, ignore_errors=True)
        return bad, info
    checked = check_ops(res, check)
    if trace:
        # the floor and the five commands, each in a fresh JVM
        o = os.path.join(work, "cli")
        steps = [("floor", floor)] + pipeline_steps(w, d, o)
        m = fresh_jvm(cp, work, steps)
        m["cli.pipeline_s"] = sum(m["cli.%s_s" % tag] for tag, _ in steps)
        bad, _ = check_pipeline(o, lambda tag: stdout_of(work, "cli_" + tag), w, p, truth)
        if not floor_ok(stdout_of(work, "cli_floor"), p):
            bad.append("inputCheck did not report every taxon valid")
        if bad:
            raise RuntimeError("fresh-JVM pipeline failed: " + "; ".join(bad))
        res["metric"].update(m)
    return (res, *checked, len(truth) * p["read_len"] * 2)


def fresh_jvm(cp, work, steps):
    """Each (tag, args) command in a fresh JVM through the Cli wrapper, in
    order; returns each command's wall time (cli.<tag>_s) and the medians of
    the JVM, session and driver items (see Cli.scala)."""
    extra = ["-Dspark.extraListeners=perfbench.TraceListener"]
    m, items = {}, {k: [] for k in ("cli.jvm_s", "cli.session_cold_s",
                                    "cli.first_action_s", "cli.driver_gap_cold_s")}
    for tag, args in steps:
        tf = os.path.join(work, "cli_%s.spans.json" % tag)
        ex = extra + ["-Dperfbench.launch_ms=%d" % int(time.time() * 1000),
                      "-Dperfbench.trace=" + tf]
        m["cli.%s_s" % tag], _ = run_jvm(java_cmd(cp, work, "perfbench.Cli", ex) + args,
                                          work, "cli_" + tag)
        with open(tf) as f:
            extra_items = json.load(f)["extra"]
        for k in items:
            items[k].append(extra_items[k])
    for k, v in items.items():
        m[k] = statistics.median(v)
    return m


# ------------------------------------------------------------------ main

def per_layer_units():
    """name -> unit of every per-layer metric, in BENCHMARK.json order."""
    with open(os.path.join(HERE, os.pardir, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def host_stamp():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    cp = build()
    w = WORKLOADS[a.workload]
    work = os.path.join(WORK, a.workload)
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "spark-local", "warehouse", "derby"):
        os.makedirs(os.path.join(work, sub))
    host = {"nproc": os.cpu_count(), "loadavg_start": host_stamp()}
    fn = {"warm": warm, "cold": cold, "curate": curate}[w["kind"]]
    res, failed, infos, size = fn(w, cp, work, a.seed, a.seconds, a.trace)
    times = [t for _, t, traced in res["op"] if not traced]
    host["loadavg_end"] = host_stamp()
    host.update(res["host"])
    op_s = statistics.median(times)
    metrics = {
        "setup_s": statistics.median(res["setup"][w.get("setup_warm", 0):]),
        "input_mb_per_s": size / 1e6 / op_s,
    }
    attempted = len(res["op"])
    if a.trace:
        layer = dict(res["metric"])
        layer["trace.op_s"] = statistics.median(t for _, t, tr in res["op"] if tr)
        shown = {k: {"value": layer.get(k, 0.0), "unit": u}
                 for k, u in per_layer_units().items()}
    else:
        shown = {k: {"value": v, "unit": END_TO_END[k]} for k, v in metrics.items()}
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    record = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "host": host,
              "setup": res["setup"], "ops": res["op"], "op_s": op_s,
              "input_bytes": size, "checks": infos,
              "metrics": metrics, "layers": res["metric"]}
    with open(os.path.join(WORK, "results", "%s-seed%d-trace%d.json"
                           % (a.workload, a.seed, a.trace)), "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    for spans in glob.glob(os.path.join(work, "*.spans.json")):
        shutil.copy(spans, os.path.join(WORK, "results", "%s-seed%d-%s"
                                        % (a.workload, a.seed, os.path.basename(spans))))
    log(json.dumps({"host": host}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": shown}))


if __name__ == "__main__":
    main()
