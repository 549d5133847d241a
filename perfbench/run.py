"""Workload benchmark of the engine's RAG data path and interactive surface.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Builds the engine from source (perfbench/build.py), runs one workload in
a fresh JVM (perfbench/src/perfbench/Main.scala) and prints, as its last
line, {"correct", "attempted", "failed", "metrics"}: the end-to-end
metrics of BENCHMARK.json with --trace 0, its per-layer metrics with
--trace 1. Lines before it give the workload's figures under their
descriptive names, the tail percentiles and the run's witness (seed,
sizes, cores, heap, CPU-steal share). A wrong answer prints
"correct": false and exits 1. perfbench/METRICS.md documents every
workload and metric.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import stats  # noqa: E402

ROOT = build.ROOT
JVM_TIMEOUT_S = 165
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def run_jvm(jar, args, work, share):
    """Runs Main with `args` and the class-data flag `share`; returns its
    JSON, or None if it failed."""
    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx" + HEAP, "-Xss8m", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp,
           "-Dlog4j2.configurationFile=" + os.path.join(ROOT, "perfbench", "log4j2.properties"),
           share]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([jar, os.path.join(build.spark_jars(), "*")]),
            "perfbench.Main"] + args + ["--work", work, "--out", out]
    proc = subprocess.Popen(cmd, stdout=sys.stderr, start_new_session=True)
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print("benchmark JVM killed after %ss" % JVM_TIMEOUT_S, file=sys.stderr)
        return None
    if code != 0 or not os.path.exists(out):
        print("benchmark JVM exited with %d" % code, file=sys.stderr)
        return None
    with open(out) as fh:
        return json.load(fh)


def step_samples(rounds, i):
    return [x for r in rounds for x in r["steps"][i]]


def foreground(rounds):
    """Each round's seconds without its periodic background work."""
    return [r["wall"] - r["background"] for r in rounds]


def end_to_end(raw):
    rounds = raw["rounds"]
    return {
        "setup_s": stats.median_or_none(raw["setup_s"]),
        "throughput_per_s": sum(r["items"] for r in rounds) / sum(r["wall"] for r in rounds),
        "round_p50_s": stats.median_or_none(foreground(rounds)),
        "stored_bytes_per_input_byte": raw["stored_bytes"] / raw["input_bytes"],
    }


# Descriptive names of each workload's round and steps.
NAMES = {
    "serve_mix": ("round", ("dense_batch", "lexical_batch", "hybrid_batch")),
    "lifecycle_mix": ("round", ("append", "tombstone", "hybrid_batch")),
    "rag_session": ("turn", ("retrieve", "memoize", "mapreduce")),
}


def described(raw, e2e):
    """The workload's figures under descriptive names, with tails."""
    rounds = raw["rounds"]
    round_name, step_names = NAMES[raw["workload"]]
    out = {"setup_s": e2e["setup_s"], "setup_reps_s": raw["setup_s"],
           "stored_bytes_per_input_byte": e2e["stored_bytes_per_input_byte"],
           "%s_p50_s" % round_name: e2e["round_p50_s"],
           "%s_tail_s" % round_name: stats.tail(foreground(rounds)),
           "background_s": sum(r["background"] for r in rounds)}
    for i, name in enumerate(step_names):
        xs = step_samples(rounds, i)
        out["%s_p50_s" % name] = stats.median_or_none(xs)
        out["%s_tail_s" % name] = stats.tail(xs)
    per = {"serve_mix": "queries_per_s",
           "lifecycle_mix": "appended_docs_per_s", "rag_session": "turns_per_s"}
    out[per[raw["workload"]]] = e2e["throughput_per_s"]
    if raw["workload"] == "serve_mix":
        out["build_docs_per_s"] = raw["witness"]["sizes"]["docs"] / e2e["setup_s"]
    out["failed_frac"] = len(raw["failures"]) / raw["attempted"]
    out.update(raw["report"])
    return out


def per_layer(raw, names):
    spans, jobs = raw["trace"]["spans"], raw["trace"]["jobs"]
    totals, unattributed = stats.span_totals(spans, jobs)
    traced = [r for r in raw["rounds"] if r["traced"]]
    plain = [r for r in raw["rounds"] if not r["traced"]]

    def step_sum(rs):
        return sum(stats.median_or_none(step_samples(rs, i)) for i in range(3))

    # a run cut short by a failure may lack untraced rounds
    overhead = step_sum(traced) / step_sum(plain) - 1.0 if traced and plain else 0.0
    out = {"unattributed_jobs": unattributed, "trace_overhead_frac": overhead}
    for name in names:
        if name in out:
            continue
        span, field = name.rsplit(".", 1)
        t = totals.get(span)
        if field == "hit_ratio":
            out[name] = raw["report"].get("cache_hit_ratio", 0.0)
        elif t is None:
            out[name] = 0
        elif field == "rows_read_per_result":
            res = t["extras"].get("results", 0.0)
            out[name] = t["records_read"] / res if res else 0
        elif field == "live_segments":
            out[name] = t["extras"].get("live_segments", 0.0) / t["calls"]
        else:
            out[name] = t[field]
    return out


def witness(raw):
    w = dict(raw["witness"])
    j = w.pop("cpu_jiffies")
    if len(j) == 2 and j[1][1] > j[0][1]:
        w["steal_frac"] = (j[1][0] - j[0][0]) / (j[1][1] - j[0][1])
    w["rounds"] = len(raw["rounds"])
    w["loop_s"] = raw["loop_s"]
    return w


def archive(jar, work):
    """The JVM's class-data archive of the classes a self-test run loads,
    made once per build. Each run then starts Spark in about 3 s instead
    of 6 s on a 4-core VM; the JVM ignores an archive that does not match
    its class path."""
    jsa = jar[:-len(".jar")] + ".jsa"
    if not os.path.exists(jsa):
        part = "%s.tmp%d" % (jsa, os.getpid())
        dump = os.path.join(work, "archive")
        os.makedirs(dump)
        try:
            if run_jvm(jar, ["--selftest"], dump, "-XX:ArchiveClassesAtExit=" + part) is None:
                raise build.BuildError("class-data archive run failed")
            os.rename(part, jsa)
        finally:
            shutil.rmtree(dump, ignore_errors=True)
            if os.path.exists(part):
                os.remove(part)
    return "-XX:SharedArchiveFile=" + jsa


def selftest(jar, work, share):
    """Arithmetic unit tests, then attribution of the Par'd calls."""
    import unittest
    import test_stats
    suite = unittest.defaultTestLoader.loadTestsFromModule(test_stats)
    if not unittest.TextTestRunner(stream=sys.stderr, verbosity=1).run(suite).wasSuccessful():
        return False
    raw = run_jvm(jar, ["--selftest"], work, share)
    if raw is None:
        return False
    spans, jobs = raw["trace"]["spans"], raw["trace"]["jobs"]
    owner = stats.attribute(spans, jobs)
    ok = True
    if None in owner:
        print("FAIL: %d unattributed jobs" % owner.count(None))
        ok = False
    for call in ("hybrid.writeIndex", "segments.processBatchHybrid"):
        mine = [j for j, o in zip(jobs, owner) if o is not None and spans[o][0] == call]
        sites = {side for side in ("Bm25.scala", "Ivf.scala")
                 if any(side in j[stats.JOB_CALLSITE] for j in mine)}
        stale = [j for j in mine if j[stats.JOB_DESC] == raw["stale"]]
        print("%s: %d jobs, sides %s, %d carry the stale description"
              % (call, len(mine), sorted(sites), len(stale)))
        if len(sites) != 2 or not stale:
            print("FAIL: %s must hold jobs of both Par'd sides, some under a stale description"
                  % call)
            ok = False
    print("selftest", "PASS" if ok else "FAIL")
    return ok


def main():
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            bench = json.load(fh)
        if not a.selftest and a.workload not in [w["name"] for w in bench["workloads"]]:
            sys.exit("unknown workload %r" % a.workload)
        jar = build.build()
    except (OSError, ValueError, build.BuildError) as e:
        sys.exit("perfbench: %s" % e)
    work = os.path.join(build.OUT, "run-%d" % os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        try:
            share = archive(jar, work)
        except (OSError, build.BuildError) as e:
            sys.exit("perfbench: %s" % e)
        if a.selftest:
            sys.exit(0 if selftest(jar, work, share) else 1)
        t0 = time.time()
        raw = run_jvm(jar, ["--workload", a.workload, "--seed", str(a.seed),
                            "--seconds", str(a.seconds), "--trace", str(a.trace)], work, share)
        if raw is None or not raw["rounds"]:
            for f in (raw or {}).get("failures", []):
                print("wrong answer: %s" % f, file=sys.stderr)
            sys.exit("perfbench: the %s run produced no result" % a.workload)
        e2e = end_to_end(raw)
        declared = bench["per_layer" if a.trace else "end_to_end"]
        values = per_layer(raw, [m["name"] for m in declared]) if a.trace else e2e
        for f in raw["failures"]:
            print("wrong answer: %s" % f)
        print("witness: " + json.dumps(witness(raw), sort_keys=True))
        print("figures: " + json.dumps(described(raw, e2e), sort_keys=True))
        print("rounds: " + json.dumps([[r["wall"], r["steps"], r["background"]]
                                       for r in raw["rounds"]]))
        print("wall: %.1fs" % (time.time() - t0))
        result = {
            "correct": not raw["failures"],
            "attempted": raw["attempted"],
            "failed": len(raw["failures"]),
            "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                        for m in declared},
        }
        print(json.dumps(result))
        sys.exit(0 if result["correct"] else 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
