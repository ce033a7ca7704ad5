"""Vul-db build benchmark: one command per (workload, seed).

    python3 perfbench/run.py --workload build-full --seed 1 --seconds 15 --trace 0

Run from the repository root. It builds the engine and the driver from
source (perfbench/build.py), makes scan-fleet's artifacts once per build
with a JVM that also writes the class-data archive every later JVM maps
(never in a measured run), generates the workload's inputs from the
seed (perfbench/gen.py, cached per workload and seed under .bench_build
and keyed on what they depend on, never timed), runs one JVM on
local[nproc] and prints, as its last stdout line, {"correct",
"attempted", "failed", "metrics"}. The line before it carries the run's
fail_frac, input sizes, set-up and iteration times and the contention
sentinel (load average before each timed iteration, a fixed-cost
calibration job before the first and after the last iteration).

--trace 1 prints the per-layer metrics instead and writes the span
tree with self times to .bench_build/runs/<workload>-<seed>/spans.json.

Other modes:
    --selfcheck      the generator invariant (x1 = golden file byte for
                     byte; x2 replicas un-map to the golden rows)
    --growth         traced build-full at 1/4, 1/2 and 1x of its replica
                     counts; writes perfbench/growth.md
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("build-full", "scan-fleet")
DROPPED = {
    "build-nvd": "dropped: a second build workload does not fit the run budget "
                 "(a build run pays 30-50 s cold + 15-25 s warm of per-job overhead)",
    "prep-heavy": "dropped: it reads the sf0.1 tables, which are not part of the "
                  "repository, and its three queries do not fit the run budget",
}
GOLDEN = os.path.join("src", "test", "resources", "golden", "pipeline_golden.txt")
SCAN_HOSTS, SCAN_PER_HOST = 200, 1500
DEADLINE_S = 170

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def jvm(args, log, timeout, dump_archive=False):
    """One JVM of the benchmark. It maps the class-data archive when there
    is one, which takes most class loading out of set-up; dump_archive
    writes the archive at exit instead."""
    tmp = os.path.abspath(os.path.join(build.BUILD, "tmp"))
    os.makedirs(tmp, exist_ok=True)
    archive = os.path.abspath(build.ARCHIVE)
    dump = None
    if os.path.exists(archive):
        share = ["-XX:SharedArchiveFile=" + archive]
    elif dump_archive:
        dump = "%s.%d.tmp" % (archive, os.getpid())
        share = ["-XX:ArchiveClassesAtExit=" + dump]
    else:
        share = []
    cmd = ["java"] + share + ["-Xmx4g", "-XX:+UseG1GC", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + tmp,
           "-Dspark.local.dir=" + tmp,
           "-Dspark.sql.warehouse.dir=" + os.path.join(tmp, "warehouse"),
           "-Dderby.system.home=" + tmp,
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", build.classpath(), "perfbench.PipelineBench"] + args
    with open(log, "a") as fh:
        proc = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(1, timeout))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = -9
    if dump and os.path.exists(dump):
        if rc == 0:
            os.replace(dump, archive)
        else:
            os.remove(dump)
    return rc


def digest(*parts):
    h = hashlib.sha256()
    for p in parts:
        h.update(hashlib.sha256(p if isinstance(p, bytes) else p.encode()).digest())
    return h.hexdigest()[:16]


def feeds_key():
    """What the generated feeds depend on: gen.py and the fixtures."""
    files = [os.path.join(os.path.dirname(os.path.abspath(__file__)), "gen.py")]
    for root, _, fs in sorted(os.walk(gen.FIXTURES)):
        files += [os.path.join(root, f) for f in sorted(fs)]
    parts = []
    for f in files:
        with open(f, "rb") as fh:
            parts += [os.path.relpath(f), fh.read()]
    return digest(*parts)


def scan_key():
    """What scan-fleet's inputs depend on: the seed-0 feeds, the compiled
    engine and driver that build the artifacts and count the expected
    matches, and the inventory shape."""
    with open(build.STAMP) as fh:
        stamp = fh.read()
    return digest(feeds_key(), stamp, "%d/%d" % (SCAN_HOSTS, SCAN_PER_HOST))


def keyed_inputs(prefix, key):
    """.bench_build/inputs/<prefix>-<key>; inputs cached under another key
    of the same prefix are stale and removed."""
    base = os.path.join(build.BUILD, "inputs")
    os.makedirs(base, exist_ok=True)
    for d in os.listdir(base):
        if d.startswith(prefix + "-") and d != "%s-%s" % (prefix, key):
            shutil.rmtree(os.path.join(base, d), ignore_errors=True)
    return os.path.join(base, "%s-%s" % (prefix, key))


def feeds_for(seed, scale=1.0):
    """build-full's generated feeds for (seed, scale), cached."""
    out = os.path.join(keyed_inputs("feeds", feeds_key()),
                       "build-full-%d%s" % (seed, "" if scale == 1.0 else "-x%g" % scale))
    if not os.path.exists(os.path.join(out, "ready")):
        gen.generate(out, seed, gen.scaled(gen.BUILD_FULL, scale))
        open(os.path.join(out, "ready"), "w").close()
    return out


def scan_artifacts():
    """The artifacts of the build-full run at seed 0 that scan-fleet reads,
    cached under scan_key(), which changes with every compile. The JVM that
    builds them also writes the class-data archive if there is none: it
    loads the classes of a whole build. Called before every run, so no
    measured run ever writes the archive."""
    base = keyed_inputs("scan", scan_key())
    os.makedirs(base, exist_ok=True)
    shared = os.path.join(base, "artifacts")
    if not os.path.isdir(shared):
        shutil.rmtree(shared + ".tmp", ignore_errors=True)
        log = os.path.join(base, "artifacts.log")
        rc = jvm(["--mode", "gen-artifacts", "--feeds", feeds_for(0), "--out", shared + ".tmp"],
                 log, 600, dump_archive=True)
        if rc != 0:
            raise SystemExit("perfbench: scan-fleet artifact build failed, see %s" % log)
        shutil.rmtree(shared, ignore_errors=True)
        os.rename(shared + ".tmp", shared)
    return shared


def scan_inputs_for(seed):
    """scan-fleet's inputs: the artifacts of the build-full run at seed 0,
    and a fleet inventory drawn from `seed` with its known affected count.
    Both are cached under scan_key(), so a change to the engine, the
    driver or the generator builds them again."""
    shared = scan_artifacts()
    out = os.path.join(os.path.dirname(shared), "scan-fleet-%d" % seed)
    if os.path.exists(os.path.join(out, "ready")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    shutil.copytree(shared, os.path.join(out, "artifacts"))
    rc = jvm(["--mode", "gen-inventory", "--inputs", out, "--seed", str(seed),
              "--hosts", str(SCAN_HOSTS), "--per-host", str(SCAN_PER_HOST)],
             os.path.join(out, "gen.log"), 600)
    if rc != 0:
        raise SystemExit("perfbench: scan-fleet inventory generation failed, see %s/gen.log" % out)
    open(os.path.join(out, "ready"), "w").close()
    return out


def run(workload, seed, seconds, trace, scale=1.0):
    """One measured JVM run; the build is done, inputs are generated here."""
    scan_artifacts()
    started = time.time()
    in_dir = scan_inputs_for(seed) if workload == "scan-fleet" else feeds_for(seed, scale)
    work = os.path.join(build.BUILD, "runs", "%s-%d%s" % (workload, seed, "" if scale == 1.0 else "-x%g" % scale))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    log = os.path.join(work, "jvm.log")
    rc = jvm(["--mode", "run", "--workload", workload, "--inputs", in_dir, "--work", work,
              "--seconds", str(seconds), "--trace", str(trace), "--golden", GOLDEN],
             log, DEADLINE_S - (time.time() - started))
    result = os.path.join(work, "result.json")
    if rc != 0 or not os.path.exists(result):
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        raise SystemExit("perfbench: run failed (exit %d), log in %s" % (rc, log))
    with open(os.path.join(work, "info.json")) as fh:
        info = json.load(fh)
    with open(result) as fh:
        res = json.load(fh)
    return info, res, work


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS + tuple(DROPPED))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selfcheck", action="store_true")
    ap.add_argument("--growth", action="store_true")
    a = ap.parse_args()
    # local[nproc]; the driver refuses a value above nproc before any timing
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    if a.workload in DROPPED:
        raise SystemExit("perfbench: workload %s %s" % (a.workload, DROPPED[a.workload]))
    build.build()
    if a.selfcheck:
        return selfcheck(a.seed)
    if a.growth:
        return growth(a.seed, a.seconds)
    if not a.workload:
        ap.error("--workload is required")
    info, res, _ = run(a.workload, a.seed, a.seconds, a.trace)
    print(json.dumps(info, sort_keys=True))
    print(json.dumps(res))
    return 0


def selfcheck(seed):
    base = os.path.join(build.BUILD, "selfcheck")
    shutil.rmtree(base, ignore_errors=True)
    x1, x2 = os.path.join(base, "x1"), os.path.join(base, "x2")
    gen.generate(x1, seed, {f: 1 for f in gen.BUILD_FULL})
    gen.generate(x2, seed, {f: 2 for f in gen.BUILD_FULL})
    log = os.path.join(base, "jvm.log")
    rc = jvm(["--mode", "selfcheck", "--inputs", x1, "--inputs2", x2, "--work", base,
              "--golden", GOLDEN], log, 900)
    with open(log) as fh:
        for line in fh:
            if line.startswith("[selfcheck]"):
                print(line.rstrip())
    return 0 if rc == 0 else 1


FAMILIES = ("nvd", "oval", "secdb", "tracker", "osv", "app")
# (layer, seconds, rows out, busy_frac of the enclosing top-level span)
GROWTH_ROWS = [
    ("sources", None, None, "sources.busy_frac"),
    ("namespacing", "namespacing.s", "namespacing.rows_out", "namespacing.busy_frac"),
    ("appfilters", "appfilters.s", "appfilters.rows_out", None),
    ("enrich.distro", "enrich.distro.s", None, "enrich.busy_frac"),
    ("enrich.app", "enrich.app.s", None, "enrich.busy_frac"),
    ("backfill", "backfill.s", None, None),
    ("upsert (residual)", "upsert.s", "upsert.rows_out", "upsert.busy_frac"),
    ("sink.write", "sink.write.s", None, "sink.write.busy_frac"),
]


def growth(seed, seconds):
    """Traced build-full at three scales; the table goes to perfbench/growth.md."""
    table = {}
    for scale in (0.25, 0.5, 1.0):
        _, res, _ = run("build-full", seed, seconds, 1, scale)
        m = {k: v["value"] for k, v in res["metrics"].items()}
        m["sources.s"] = sum(m["sources.%s.s" % f] for f in FAMILIES)
        m["sources.rows"] = sum(m["sources.%s.rows" % f] for f in FAMILIES)
        table[scale] = m
    out = ["# build-full layer growth (traced, seed %d)" % seed, "",
           "Seconds, rows out and busy_frac (executor run time over span wall x",
           "cores) per layer, at 1/4, 1/2 and 1x of build-full's replica counts.",
           "Every layer below is a span without children; `sources` sums its",
           "per-family spans and rows. busy_frac is that of the enclosing top-level",
           "span. Regenerate with `python3 perfbench/run.py --growth`.", "",
           "| layer | " + " | ".join("x%g s | x%g rows | x%g busy" % (s, s, s) for s in table) + " |",
           "|---|" + "---:|" * (3 * len(table))]
    for name, secs, rows, busy in GROWTH_ROWS:
        cells = []
        for m in table.values():
            cells += ["%.3f" % m[secs or "sources.s"],
                      "%.0f" % m[rows or "sources.rows"] if rows or name == "sources" else "-",
                      "%.2f" % m[busy] if busy else "-"]
        out.append("| %s | %s |" % (name, " | ".join(cells)))
    out += ["", "| scale | sink.plain_mb | sink.bucket_max_share | trace_overhead_s |", "|---|---:|---:|---:|"]
    for scale, m in table.items():
        out.append("| x%g | %.2f | %.3f | %.3f |" % (scale, m["sink.plain_mb"], m["sink.bucket_max_share"],
                                                   m["trace_overhead_s"]))
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "growth.md"), "w") as fh:
        fh.write("\n".join(out) + "\n")
    print("\n".join(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
