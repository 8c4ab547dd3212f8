#!/usr/bin/env python3
"""graft benchmark: one command for every workload.

    python3 perfbench/run.py --workload kg_pipeline --seed 1 --seconds 20 --trace 0

Builds the harness (perfbench/build.sbt, which compiles the checkout's own
sources) when its inputs changed, runs one workload in a fresh JVM, checks
the outputs against perfbench/expected.json, and prints one JSON object as
the last line of stdout: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are BENCHMARK.json's end_to_end list, with
--trace 1 its per_layer list. A `REPORT {...}` line before it carries the
workload's own named metrics, the host shape and the window evidence.
Exits 1 when a check misses, 2 when the benchmark cannot run.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
JAR = os.path.join(HERE, "target", "graft-perfbench.jar")
CDS = os.path.join(BUILD, "classes.jsa")
JVM_TIMEOUT_S = 165

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    """The benchmark cannot run: say why on stderr, print no result."""
    sys.stderr.write("perfbench: %s\n" % msg)
    sys.exit(2)


# ------------------------------------------------------------------ stats

def median(xs):
    return statistics.median(xs) if xs else 0.0


LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def tail_percentile(xs, beyond=10):
    """The highest percentile of LADDER with at least `beyond` samples above
    it, as (percentile, value) by nearest rank; None when even p50 lacks
    them."""
    s = sorted(xs)
    best = None
    for p in LADDER:
        rank = max(1, -(-len(s) * round(p * 10) // 1000))  # ceil(n * p / 100)
        if len(s) - rank >= beyond:
            best = (p, s[rank - 1])
    return best


def parse_cpu_line(line):
    """(total jiffies, steal jiffies) of a /proc/stat `cpu` line. Guest time
    is already inside user/nice, so it is not added again."""
    f = line.split()
    if not f or f[0] != "cpu":
        raise ValueError("not an aggregate cpu line: %r" % line)
    v = [int(x) for x in f[1:9]] + [0] * max(0, 9 - len(f))
    return sum(v[:8]), v[7]


def steal_frac(line0, line1):
    t0, s0 = parse_cpu_line(line0)
    t1, s1 = parse_cpu_line(line1)
    return (s1 - s0) / (t1 - t0) if t1 > t0 else 0.0


def self_times(spans, passes):
    """Self time per span name (summed over spans of that name): duration
    minus its direct children, minus `passes[name]` times the full duration
    of the span it replays (`replays`, same run) — the upstream work the
    stage recomputed inside its own interval."""
    dur = {s["id"]: s["t1"] - s["t0"] for s in spans}
    full = {(s["run"], s["name"]): dur[s["id"]] for s in spans}
    out = {}
    for s in spans:
        t = dur[s["id"]] - sum(dur[c["id"]] for c in spans if c["parent"] == s["id"])
        if s.get("replays"):
            t -= passes.get(s["name"], 1.0) * full.get((s["run"], s["replays"]), 0.0)
        out[s["name"]] = out.get(s["name"], 0.0) + t
    return out


def validate_spec(spec):
    """Problems with BENCHMARK.json's metric and workload names (empty when
    it is well formed)."""
    errs, seen = [], set()
    for sect in ("workloads", "end_to_end", "per_layer"):
        for m in spec.get(sect, []):
            n = m.get("name", "")
            if not NAME_RE.match(n):
                errs.append("%s: bad name %r" % (sect, n))
            if n in seen:
                errs.append("%s: duplicate name %r" % (sect, n))
            seen.add(n)
            if sect != "workloads" and not UNIT_RE.match(m.get("unit", "")):
                errs.append("%s: bad unit for %r" % (sect, n))
            if sect != "workloads" and m.get("better") not in ("lower", "higher"):
                errs.append("%s: bad direction for %r" % (sect, n))
    if "setup_s" not in {m["name"] for m in spec.get("end_to_end", [])}:
        errs.append("end_to_end: setup_s missing")
    return errs


def metric_block(declared, values):
    """The `metrics` object: every declared metric, in order, with its unit.
    A value the run did not produce reads 0 (the layer did no work)."""
    unknown = set(values) - {m["name"] for m in declared}
    if unknown:
        raise ValueError("undeclared metrics: %s" % sorted(unknown))
    return {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in declared}


# ------------------------------------------------------------------ build

def spark_home():
    """The Spark installation: SPARK_HOME, else the one spark-submit is in."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        die("no Spark installation: set SPARK_HOME")
    return home


def build_stamp():
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(HERE, "project")):
        for d, dirs, files in os.walk(base):
            dirs[:] = sorted(x for x in dirs if x != "target")  # skip build output
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(p[len(ROOT):].encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    with open(os.path.join(HERE, "build.sbt"), "rb") as fh:
        h.update(fh.read())
    return h.hexdigest()


def build():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        die("no program sources under %s/src/main/scala" % ROOT)
    stamp_file = os.path.join(BUILD, "build.stamp")
    stamp = build_stamp()
    if os.path.exists(JAR) and os.path.exists(CDS) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                return
    sbt = shutil.which("sbt")
    if sbt is None:
        die("sbt not found on PATH")
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = subprocess.call([sbt, "--batch", "-Dsbt.log.noformat=true", "Compile/packageBin"],
                             cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        die("harness build failed (see %s)" % log)
    if os.path.exists(CDS):
        os.remove(CDS)
    train()
    with open(stamp_file, "w") as fh:
        fh.write(stamp)


# ------------------------------------------------------------------ host

def host_shape():
    """Spark cores from nproc and driver heap from MemTotal (half of it,
    2g..8g), the way the repository's tier-1 run sizes them; the
    SPARK_GRAFT_CPUS / SPARK_DRIVER_MEM environment variables override."""
    cores = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    mem = os.environ.get("SPARK_DRIVER_MEM")
    if not mem:
        g = 2
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    g = min(8, max(2, int(line.split()[1]) // 2097152))
        mem = "%dg" % g
    return cores, mem


def run_jvm(workload, seed, seconds, trace, work, log, timeout, cds_flag):
    """Runs graftbench.Main in its own process group; dies on failure."""
    cores, mem = host_shape()
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(os.path.join(tmp, "spark-local"), exist_ok=True)
    cmd = ["java", "-Xmx" + mem, cds_flag]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Dspark.sql.warehouse.dir=" + os.path.join(tmp, "warehouse"),
            "-Djava.io.tmpdir=" + tmp]
    cmd += os.environ.get("GRAFT_JVM_OPTS", "").split()
    spark_jars = os.path.join(spark_home(), "jars")
    jars = sorted(os.path.join(spark_jars, f) for f in os.listdir(spark_jars) if f.endswith(".jar"))
    cmd += ["-cp", os.pathsep.join([JAR] + jars), "graftbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--cores", str(cores), "--work", work,
            "--root", ROOT,
            "--out", os.path.join(work, "raw.json")]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"))
    os.makedirs(os.path.dirname(log), exist_ok=True)
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if rc != 0:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-6000:])
        die("benchmark JVM failed (%s); log: %s" % (rc, log))


def fresh_dir(path):
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def train():
    """After a build: one small pass over every workload's code, whose
    loaded classes the JVM archives (class-data sharing). Every later run
    maps them from the archive, so no run pays for loading them alone."""
    work = fresh_dir(os.path.join(BUILD, "work", "train"))
    try:
        run_jvm("train", 0, 0, 0, work, os.path.join(BUILD, "logs", "train.log"), 600,
                "-XX:ArchiveClassesAtExit=" + CDS)
    finally:
        shutil.rmtree(work, ignore_errors=True)


# ------------------------------------------------------------------ report

def check_rows(rows, expected, pin):
    """Failed operations: those the JVM counted, plus rows whose check
    values differ from the pinned ones. With `pin`, records them instead."""
    failed = 0
    for r in rows:
        failed += int(r["failed"])
        key = r["check_key"]
        if not key or int(r["failed"]):
            continue
        if pin:
            expected[key] = r["check"]
        elif expected.get(key) != r["check"]:
            sys.stderr.write("CHECK MISS %s: got %s want %s\n"
                             % (key, r["check"], expected.get(key)))
            failed += 1
    return failed


def rows_of(raw, *kinds):
    return [r for r in raw["rows"] if r["kind"] in kinds]


def walls(rows):
    """Each row's timed work: its wall time unless the row reports less
    (turtle passes time the documents, not the checks between them)."""
    return [r["t1"] - r["t0"] if r.get("work_s") is None else r["work_s"] for r in rows]


def ratio(a, b):
    return a / b if b else 0.0


def overhead(ref, traced):
    return ratio(median(traced), median(ref)) - 1.0 if ref and traced else 0.0


def layer_metrics(workload, raw):
    """Per-layer readings of a traced run."""
    L = dict(raw["layer"])
    S = raw["samples"]
    m = {}
    if workload == "kg_pipeline":
        passes = {k[len("replay_passes."):]: v for k, v in L.items()
                  if k.startswith("replay_passes.")}
        st = self_times([s for s in raw["spans"] if s["name"].startswith("kg.")], passes)
        for name, v in st.items():
            m[name + "_s"] = v
        m["kg.stage_sum_s"] = sum(st.values())
        ref = walls(rows_of(raw, "ref"))
        m["kg.overlap_s"] = m["kg.stage_sum_s"] - median(S.get("pipeline_s", []))
        for k in ("parse_passes", "cpu_s", "gc_s", "shuffle_write_mb", "fetch_wait_s",
                  "spill_mb", "stages", "tasks", "staged_files", "staged_read_cpu_s"):
            m["kg." + k] = L.get("kg." + k, 0.0)
        p1 = rows_of(raw, "p1")[-1]
        tps = ratio(float(p1["check"]["triples"]), median(S["pipeline_s"]))
        tps1 = ratio(float(p1["check"]["triples"]), median(S["pipeline_p1_s"]))
        m["kg.triples_per_s_p1"] = tps1
        m["kg.process_cpu_s_p1"] = p1["cpu_s"]
        m["kg.scaling_eff"] = ratio(tps, int(raw["info"]["cores"]) * tps1)
        c = p1["check"]
        m["kg.triples"] = float(c["triples"])
        m["kg.error_rows"] = float(c["errors"])
        m["kg.linked_mentions"] = float(c["linked_mentions"])
        m["kg.components"] = float(c["components"])
        m["trace.overhead_frac"] = overhead(ref, walls([r for r in rows_of(raw, "traced")
                                                        if r["name"] == "pipeline"]))
        # the curation queries, timed once each under the listener
        m.update({k: v for k, v in L.items() if k.startswith(("ops.", "sql."))})
    elif workload == "turtle_docs":
        for k in ("turtle.parse_s", "turtle.produce_s", "turtle.render_s"):
            m[k] = median(S.get(k, []))
        m["turtle.alloc_bytes_per_byte"] = L.get("turtle.alloc_bytes_per_byte", 0.0)
        m["turtle.gc_s"] = L.get("turtle.gc_s", 0.0)
        m["turtle.docs"] = float(raw["info"]["docs_per_pass"])
        m["turtle.bytes"] = float(raw["info"]["bytes_per_pass"])
        ref = rows_of(raw, "ref")
        m["turtle.triples"] = float(ref[0]["check"]["triples"]) if ref else 0.0
        m["turtle.doc_p50_us"] = median(S.get("doc_us", []))
        tail = tail_percentile(S.get("doc_us", []))
        m["turtle.doc_tail_us"] = tail[1] if tail else 0.0
        m["trace.overhead_frac"] = overhead(walls(ref), walls(rows_of(raw, "traced")))
    return m


def named_report(workload, raw):
    """The workload's own end-to-end figures, by name with their units."""
    S = raw["samples"]
    rounds = rows_of(raw, "round")
    rep = {}
    if rounds:
        # mean, not median: process CPU time ticks in 10 ms steps
        rep["round_cpu_s"] = (statistics.fmean([r["cpu_s"] for r in rounds]), "s")
    if workload == "kg_pipeline" and rounds:
        triples = float(rounds[-1]["check"]["triples"])
        tps = ratio(triples, median(S["pipeline_s"]))
        rep["triples_per_s"] = (tps, "1/s")
        if S.get("pipeline_p1_s"):
            tps1 = ratio(triples, median(S["pipeline_p1_s"]))
            rep["triples_per_s_p1"] = (tps1, "1/s")
            rep["scaling_eff"] = (ratio(tps, int(raw["info"]["cores"]) * tps1), "ratio")
        rep["staged_read_s"] = (median(S["staged_read_s"]), "s")
    elif workload == "turtle_docs" and rounds:
        mb = float(raw["info"]["bytes_per_pass"]) / 1e6
        rep["turtle_mb_per_s"] = (mb / median(walls(rounds)), "MB/s")
        docs = S.get("doc_us", [])
        rep["doc_p50_us"] = (median(docs), "us")
        tail = tail_percentile(docs)
        if tail:
            rep["doc_p%g_us" % tail[0]] = (tail[1], "us")
        rep["doc_samples"] = (len(docs), "count")
    return {k: {"value": v, "unit": u} for k, (v, u) in rep.items()}


def window(rows):
    """Steal fraction and 1-minute load average of each timed row."""
    return [{"kind": r["kind"], "name": r["name"], "wall_s": r["t1"] - r["t0"],
             "cpu_s": r["cpu_s"], "steal": steal_frac(r["stat0"], r["stat1"]),
             "load1": r["load1"]} for r in rows if r["stat0"] and r["stat1"]]


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pin", action="store_true",
                    help="record this run's check values in expected.json")
    args = ap.parse_args(argv)

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    with open(spec_path) as fh:
        spec = json.load(fh)
    errs = validate_spec(spec)
    if errs:
        die("BENCHMARK.json: " + "; ".join(errs))
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        die("unknown workload %r" % args.workload)

    os.makedirs(BUILD, exist_ok=True)
    build()
    cores, mem = host_shape()
    name = "%s-%d-%d" % (args.workload, args.seed, args.trace)
    runs = os.path.join(BUILD, "runs")
    os.makedirs(runs, exist_ok=True)
    work = fresh_dir(os.path.join(BUILD, "work", "%s-%d" % (name, os.getpid())))
    try:
        run_jvm(args.workload, args.seed, args.seconds, args.trace, work,
                os.path.join(BUILD, "logs", name + ".log"), JVM_TIMEOUT_S,
                "-XX:SharedArchiveFile=" + CDS)
        shutil.copy(os.path.join(work, "raw.json"), os.path.join(runs, name + ".json"))
        with open(os.path.join(work, "raw.json")) as fh:
            raw = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    exp_path = os.path.join(HERE, "expected.json")
    expected = {}
    if os.path.exists(exp_path):
        with open(exp_path) as fh:
            expected = json.load(fh)
    failed = check_rows(raw["rows"], expected, args.pin)
    if args.pin:
        with open(exp_path, "w") as fh:
            json.dump(expected, fh, indent=1, sort_keys=True)
            fh.write("\n")
    attempted = sum(int(r["ops"]) for r in raw["rows"])

    rows = window(raw["rows"])
    steals = [r["steal"] for r in rows]
    loads = [r["load1"] for r in rows]
    if args.trace:
        values = layer_metrics(args.workload, raw)
        values["host.steal_frac"] = median(steals)
        values["host.load1"] = median(loads)
        values["setup.warmup_s"] = sum(r["t1"] - r["t0"] for r in rows_of(raw, "warmup"))
        declared = spec["per_layer"]
    else:
        rounds = rows_of(raw, "round")
        values = {
            "setup_s": raw["setup_s"],
            "round_s": median(walls(rounds)),
        }
        declared = spec["end_to_end"]
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cores": cores, "driver_heap": mem, "info": raw["info"],
        "named": named_report(args.workload, raw),
        "failed_ops_frac": ratio(failed, attempted), "peak_rss_mb": raw["peak_rss_mb"],
        "setup_s": raw["setup_s"], "rounds": len(rows_of(raw, "round")),
        "steal_frac_median": median(steals), "steal_frac_max": max(steals or [0.0]),
        "load1_median": median(loads),
        "rows": rows if len(rows) <= 40 else rows[:40],
    }
    with open(os.path.join(runs, name + ".rows.json"), "w") as fh:
        json.dump(rows, fh)
    print("REPORT " + json.dumps(report))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metric_block(declared, values)}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
