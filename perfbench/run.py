#!/usr/bin/env python3
"""graft benchmark.

Builds graft and the benchmark's own JVM harness from source, prepares the
inputs, runs one workload as a single closed-loop client and prints one
JSON line with its metrics. See perfbench/README.md.

    python3 perfbench/run.py --workload sql_small --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --record-expected    # re-record perfbench/expected.json

Everything it builds or writes goes under .bench_build/ in the checkout.
Each run also leaves a run record in .bench_build/records/ for
perfbench/compare.py.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
SF = HERE / "data" / "sf0.01"
EXPECTED = HERE / "expected.json"
WORKLOADS = ("sql_small", "curate_scaled", "sort_ingest")
# curate_scaled reads sf0.01 replicated this many times by tools/scale10x.py
REPLICAS = 2
RUN_TIMEOUT_S = 170
# A run is flagged as disturbed by the host when the hypervisor took at least
# this share of the CPU time (steal), or the 1-minute load at its end exceeded
# this many times nproc (the benchmark alone keeps about nproc threads busy).
NOISY_STEAL_FRAC = 0.05
NOISY_LOAD_PER_CPU = 2.0

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def source_digest():
    h = hashlib.sha256()
    roots = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             ROOT / "src" / "main", HERE / "build.sbt",
             HERE / "project" / "build.properties", HERE / "src"]
    for r in roots:
        files = sorted(p for p in r.rglob("*") if p.is_file()) if r.is_dir() else [r]
        for f in files:
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()[:16]


def build():
    """Compiles graft and the harness; returns the runtime classpath."""
    digest = source_digest()
    stamp = BUILD / "classpath.json"
    if stamp.exists():
        saved = json.loads(stamp.read_text())
        if saved.get("digest") == digest:
            return saved["classpath"], digest
    log("building graft and the benchmark harness (sbt)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    tmp = BUILD / "sbt-tmp"
    tmp.mkdir(exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.server.autostart=false", "-Dsbt.log.noformat=true",
           f"-Djava.io.tmpdir={tmp}", "export perfbench/Runtime/fullClasspath"]
    with open(BUILD / "build.log", "w") as out:
        r = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                           stderr=out, text=True, timeout=700)
    (BUILD / "build.stdout").write_text(r.stdout)
    lines = [l for l in r.stdout.splitlines() if l.strip() and not l.startswith("[")]
    if r.returncode != 0 or not lines or ".jar" not in lines[-1]:
        fail(f"build failed (exit {r.returncode}); see .bench_build/build.log")
    cp = lines[-1].strip()
    stamp.write_text(json.dumps({"digest": digest, "classpath": cp}))
    return cp, digest


def scaled_corpus():
    """sf0.01 with REPLICAS content-diverse replicas (tools/scale10x.py), made
    once per checkout."""
    dst = BUILD / "corpus" / f"sf0.01x{REPLICAS}"
    if not (dst / "DONE").exists():
        r = subprocess.run([sys.executable, str(ROOT / "tools" / "scale10x.py"), str(SF),
                            str(dst), str(REPLICAS)], stdout=subprocess.DEVNULL,
                           stderr=subprocess.PIPE, text=True, timeout=300)
        if r.returncode != 0:
            fail(f"tools/scale10x.py failed (exit {r.returncode}): {r.stderr[-400:]}")
        (dst / "DONE").write_text("ok\n")
    return dst


# ---------------------------------------------------------------- run

def java(cp, work, args, log_path, timeout):
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # a fixed heap and young generation keep GC sizing, and with it RSS and
    # pass times, from drifting between runs
    cmd += ["-Xms3g", "-Xmx3g", "-Xmn1g", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work / 'tmp'}", "-cp", cp, "graft.perfbench.Main"] + args
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    # Spark prefers these over spark.local.dir; the run's scratch stays in work
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS")}
    with open(log_path, "w") as out:
        p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=out, stderr=subprocess.STDOUT)
        try:
            p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"JVM did not finish within {timeout:.0f} s; see {log_path}")
    if p.returncode != 0:
        fail(f"JVM exited with {p.returncode}; see {log_path}")


def run_jvm(cp, workload, seed, seconds, trace, scaled, work, extra=(), timeout=150):
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    out = work / "result.json"
    args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--cpus", str(nproc()), "--data", str(SF),
            "--scaled-data", str(scaled), "--work", str(work), "--out", str(out)]
    java(cp, work, args + list(extra), work / "jvm.log", timeout)
    # the JVM writes NaN and infinities as bare tokens; they mean "no value"
    return json.loads(out.read_text(), parse_constant=lambda _: None)


def nproc():
    return len(os.sched_getaffinity(0))


def host_state():
    with open("/proc/loadavg") as f:
        load = f.read().split()[:3]
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    return {"loadavg": [float(x) for x in load], "cpu_total": sum(cpu),
            "cpu_steal": cpu[7] if len(cpu) > 7 else 0}


def host_noise(start, end):
    """Why the host disturbed the run, or None."""
    total = end["cpu_total"] - start["cpu_total"]
    steal = (end["cpu_steal"] - start["cpu_steal"]) / total if total else 0.0
    why = []
    if steal >= NOISY_STEAL_FRAC:
        why.append(f"steal {steal:.1%}")
    if end["loadavg"][0] > NOISY_LOAD_PER_CPU * nproc():
        why.append(f"load {end['loadavg'][0]:.1f} on {nproc()} cpus")
    return steal, ", ".join(why) or None


def source_commit():
    head = ROOT / ".git" / "HEAD"
    if not head.exists():
        return None
    ref = head.read_text().strip()
    if ref.startswith("ref: "):
        p = ROOT / ".git" / ref[5:]
        return p.read_text().strip() if p.exists() else None
    return ref


# ---------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else None


def check_ops(res, expected):
    """Marks each operation failed when it threw, timed out or its output was
    wrong, and charges failures the deadline. A query's output must match
    the recorded one, and an empty output is wrong: every recorded output
    has rows. Sorts and streams were checked in the JVM. Returns the number
    of wrong outputs."""
    wrong = 0
    for o in res["ops"]:
        if o["kind"] == "query":
            want = expected.get(o["name"])
            o["wrong"] = o["ok"] and (o["rows"] == 0 or [o["rows"], o["fp"]] != want)
            if o["wrong"]:
                o["error"] = f"output rows={o['rows']} fp={o['fp']} != expected {want}"
        wrong += o["wrong"]
        o["failed"] = not o["ok"] or o["wrong"]
        o["charged_s"] = res["deadline_s"] if o["failed"] else o["seconds"]
        # a stream leg is as many operations as it has micro-batches
        o["units"] = o.get("batches", 1)
    return wrong


def pass_totals(ops, prefix="warm"):
    totals = {}
    for o in ops:
        if o["pass"].startswith(prefix):
            totals[o["pass"]] = totals.get(o["pass"], 0.0) + o["charged_s"]
    return list(totals.values())


def metrics_from(res):
    """End-to-end metrics, plus what the run record adds to them."""
    ops = res["ops"]
    warm_s = [o["charged_s"] for o in ops if o["pass"].startswith("warm")]
    m = {
        "setup_s": res["setup_s"],
        "cold_pass_s": sum(pass_totals(ops, "cold")),
        "warm_pass_s": median(pass_totals(ops)),
        "query_p50_s": median(warm_s),
        "peak_rss_mb": res["peak_rss_mb"],
    }
    attempted = sum(o["units"] for o in ops)
    failed = sum(o["units"] for o in ops if o["failed"])
    info = {"failed_frac": failed / attempted, "query_samples": len(warm_s),
            "failed_ops": sorted({o["name"] for o in ops if o["failed"]}),
            "errors": {o["name"]: o["error"] for o in ops if o["failed"]},
            "per_op_s": per_op(ops, "warm"),
            **ingest_rates([o for o in ops if o["pass"].startswith("warm")])}
    return m, info, attempted, failed


def per_op(ops, prefix):
    """Median charged seconds of each operation over the passes named."""
    by = {}
    for o in ops:
        if o["pass"].startswith(prefix):
            by.setdefault(o["name"], []).append(o["charged_s"])
    return {k: median(v) for k, v in by.items()}


def ingest_rates(ops):
    """Sort and stream rates over the sort and stream operations given; a
    failed sort or stream leg is a zero-rate sample."""
    out = {}
    for kind in ("uniform", "skew"):
        sorts = [o for o in ops if o["name"] == f"sort.{kind}"]
        if sorts:
            out[f"sort_{kind}_gb_min"] = median([
                0.0 if o["failed"] else (o["bytes"] / 1e9) / (o["seconds"] / 60.0)
                for o in sorts])
            out[f"split_balance_{kind}"] = median([
                o["split_balance"] for o in sorts if o["split_balance"]])
    for name in ("dedup", "fp"):
        legs = [o for o in ops if o["name"] == f"stream.{name}"]
        if not legs:
            continue
        # the first micro-batch of a leg plans and compiles the stream; the
        # rate is over the batches after it
        out[f"stream_{name}_rows_s"] = median([
            0.0 if o["failed"] or len(o["batch_ms"]) < 2 else
            o["batch_rows"] * (len(o["batch_ms"]) - 1) / (sum(o["batch_ms"][1:]) / 1e3)
            for o in legs])
        if name == "dedup":
            ok = [o for o in legs if not o["failed"]]
            out["stream_batch_p50_ms"] = median([ms for o in ok for ms in o["batch_ms"][1:]])
            prog = [p for o in ok for p in o["progress"][1:]]
            # the progress reports whole milliseconds: a mean keeps the
            # figure from reading the same on every run
            for k in ("add_batch_ms", "wal_commit_ms"):
                xs = [p[k] for p in prog if p[k] is not None]
                out[k] = statistics.fmean(xs) if xs else None
            for k in ("state_rows", "state_mb"):
                out[k] = median([float(o["progress"][-1][k]) for o in ok if o["progress"]])
    return out


COUNTERS = ("jobs", "stages", "tasks", "task_s", "shuffle_write_mb", "shuffle_read_mb",
            "spill_mb")
# per-layer name of each rate ingest_rates() gives on the ladder's passes
INGEST_LAYER = {
    "sort_uniform_gb_min": "sources.sort_gb_min",
    "sort_skew_gb_min": "sources.sort_skew_gb_min",
    "split_balance_uniform": "sources.split_balance",
    "split_balance_skew": "sources.split_balance_skew",
    "stream_dedup_rows_s": "streaming.dedup_rows_s",
    "stream_batch_p50_ms": "streaming.batch_p50_ms",
    "add_batch_ms": "streaming.add_batch_ms",
    "wal_commit_ms": "streaming.wal_commit_ms",
    "state_rows": "streaming.state_rows",
    "state_mb": "streaming.state_mb",
}
# the ladder's ingest passes after its unmeasured first one
LADDER_PASSES = ("ladder1", "ladder2")


def layer_metrics(res):
    """Per-layer metrics of a traced run."""
    ops = res["ops"]
    lm = dict(res["layer"])
    per_pass = {}
    for o in ops:
        if o["pass"].startswith("warm"):
            agg = per_pass.setdefault(o["pass"], dict.fromkeys(COUNTERS, 0.0))
            for k in COUNTERS:
                agg[k] += o.get(k, 0.0)
    for k in COUNTERS:
        lm[f"queries.{k}"] = median([p[k] for p in per_pass.values()])
    lm["trace.overhead_s"] = median(pass_totals(ops)) - sum(pass_totals(ops, "untraced"))
    rates = ingest_rates([o for o in ops if o["pass"] in LADDER_PASSES])
    lm.update({INGEST_LAYER[k]: v for k, v in rates.items() if k in INGEST_LAYER})
    return {k: v for k, v in lm.items() if v is not None}


# ---------------------------------------------------------------- modes

def record_expected(cp, scaled):
    """Runs every workload's queries once, each failing query again in a
    session of its own, and records (rows, fingerprint) per query."""
    out = {}
    for w in WORKLOADS:
        res = run_jvm(cp, w, 1, 1, 0, scaled, BUILD / "record" / w, ["--only", "*"])
        got = {}
        for o in res["ops"]:
            if not o["ok"]:
                log(f"{w}/{o['name']} failed in the shared session "
                    f"({o['error']}); recording it from a session of its own")
                alone = run_jvm(cp, w, 1, 1, 0, scaled, BUILD / "record" / o["name"],
                                ["--only", o["name"]])["ops"][0]
                if not alone["ok"]:
                    fail(f"{o['name']} fails in its own session too: {alone['error']}")
                o = alone
            if o["rows"] == 0:
                fail(f"{o['name']} gives an empty output; it would check nothing")
            got[o["name"]] = [o["rows"], o["fp"]]
        out[w] = got
    EXPECTED.write_text(json.dumps(out, indent=1, sort_keys=True) + "\n")
    log(f"wrote {EXPECTED}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-expected", action="store_true")
    a = ap.parse_args()
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"{ROOT} holds no graft sources to build")
    if not a.record_expected and a.workload is None:
        fail("--workload is required")
    BUILD.mkdir(exist_ok=True)
    cp, digest = build()
    scaled = scaled_corpus()
    if a.record_expected:
        record_expected(cp, scaled)
        return

    t0 = time.monotonic()
    start = host_state()
    work = BUILD / "runs" / a.workload
    res = run_jvm(cp, a.workload, a.seed, a.seconds, a.trace, scaled, work,
                  timeout=RUN_TIMEOUT_S - 30)
    end = host_state()

    wrong = check_ops(res, json.loads(EXPECTED.read_text())[a.workload])
    m, info, attempted, failed = metrics_from(res)
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    lm = layer_metrics(res) if a.trace else None
    got = lm if a.trace else m
    want = spec["per_layer" if a.trace else "end_to_end"]
    missing = [x["name"] for x in want if got.get(x["name"]) is None]
    if missing:
        fail(f"no value for {', '.join(missing)}; see {work / 'jvm.log'}")
    metrics = {x["name"]: {"value": got[x["name"]], "unit": x["unit"]} for x in want}

    steal, noisy = host_noise(start, end)
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "nproc": nproc(), "commit": source_commit(),
        "source_digest": digest, "jvm_args": res["jvm_args"],
        "loadavg_start": start["loadavg"], "loadavg_end": end["loadavg"],
        "steal_frac": steal, "host_noisy": noisy,
        "wall_s": time.monotonic() - t0,
        "metrics": m, **info,
    }
    if a.trace:
        record["layer_metrics"] = lm
        record["layer_self_s"] = res.get("layer_self_s", {})
        spans = BUILD / "records" / "spans" / f"{a.workload}-s{a.seed}.jsonl"
        spans.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(res["spans"], spans)
        record["spans"] = str(spans.relative_to(ROOT))
    rec_dir = BUILD / "records"
    rec_dir.mkdir(exist_ok=True)
    (rec_dir / f"{a.workload}-s{a.seed}-t{a.trace}-{int(time.time() * 1000)}.json").write_text(
        json.dumps(record, indent=1))
    if noisy:
        log(f"{a.workload}: the host disturbed this run ({noisy})")
    for q in info["failed_ops"]:
        log(f"{a.workload}: {q} failed: {info['errors'][q]}")
    print(json.dumps({"correct": wrong == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
