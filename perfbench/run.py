#!/usr/bin/env python3
"""graft benchmark: three seeded workloads through graft's public entry
points, one JVM per run, outputs checked against DuckDB references.

    python3 perfbench/run.py --workload <ts_train|corpus_curate|head_sweep>
                             --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a graft checkout. The first run builds graft and the
harness from source with sbt (perfbench/harness/build.sbt); everything the
benchmark writes goes under `.bench_build/` in the checkout. The last line
of stdout is one JSON object: correct, attempted, failed, metrics. With
`--trace 0` the metrics are the end-to-end ones, with `--trace 1` the
per-layer ones (see perfbench/README.md).
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("ts_train", "corpus_curate", "head_sweep")
MODULES = ("QueriesTpch", "QueriesSources", "QueriesPreprocess",
           "QueriesOrdered", "QueriesCompose", "QueriesAssembly", "QueriesLlm",
           "QueriesCorpus", "QueriesCrawl", "QueriesCuration", "QueriesServe",
           "QueriesPipeline", "QueriesMining", "QueriesUnigram",
           "QueriesStreaming")
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]

def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------ build

def _tree_digest(paths):
    h = hashlib.sha256()
    for base in paths:
        for dirpath, dirnames, files in sorted(os.walk(base)):
            dirnames[:] = sorted(d for d in dirnames
                                 if d not in ("target", "project"))
            for f in sorted(files):
                p = os.path.join(dirpath, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build():
    """Compile graft's sources plus the harness once per source state;
    returns the runtime classpath."""
    src = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(os.path.join(src, "graft")):
        die("no graft sources under src/main/scala: run from a graft checkout")
    harness = os.path.join(HERE, "harness")
    digest = _tree_digest([src, os.path.join(harness, "src")] +
                          [os.path.join(harness, "build.sbt")])
    stamp = os.path.join(BUILD, f"classpath-{digest}.txt")
    if os.path.isfile(stamp):
        return open(stamp).read().strip(), digest
    os.makedirs(BUILD, exist_ok=True)
    log("building graft + harness (sbt)")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=harness, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, env=_clean_env())
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        die("build failed")
    cp = p.stdout.strip().splitlines()[-1].strip()
    if "classes" not in cp:
        die("could not read the harness classpath from sbt")
    with open(stamp, "w") as fh:
        fh.write(cp)
    log(f"built in {time.time() - t0:.1f} s")
    return cp, digest


def _clean_env():
    """The caller's environment minus graft's A/B overrides: every driver
    gate and posture decides from the input, as it does for users."""
    return {k: v for k, v in os.environ.items()
            if not k.startswith("SPARK_GRAFT_")}


def oracle_sql(cp, digest, heads_file):
    """The DuckDB twins' SQL from the harness (`--mode oracle-sql`), cached
    per source state and head list."""
    with open(heads_file, "rb") as fh:
        heads_sha = hashlib.sha256(fh.read()).hexdigest()[:12]
    path = os.path.join(BUILD, f"oracle-{digest}-{heads_sha}.json")
    if not os.path.isfile(path):
        tmp = os.path.join(BUILD, "tmp")
        os.makedirs(tmp, exist_ok=True)
        run_jvm(java_cmd(cp, tmp, ["--mode", "oracle-sql", "--out",
                                   path + ".tmp", "--heads", heads_file]),
                os.path.join(BUILD, "oracle.log"), timeout=120)
        os.replace(path + ".tmp", path)
    with open(path) as fh:
        return json.load(fh)


def native(call, *args):
    """`call(*args)` from perfbench/native.py in a child process. A child
    that dies of a signal gave no answer, so it is asked once more; a
    child that fails with an error, or dies twice, ends the run."""
    cmd = [sys.executable, os.path.join(HERE, "native.py"), call]
    for attempt in (1, 2):
        p = subprocess.run(cmd, input=json.dumps(args), cwd=ROOT, text=True,
                           stdout=subprocess.PIPE, stderr=subprocess.PIPE)
        if p.returncode == 0:
            return json.loads(p.stdout.strip().splitlines()[-1])
        sys.stderr.write(p.stderr[-3000:])
        if p.returncode > 0 or attempt == 2:
            die(f"{call} exited with {p.returncode}")
        log(f"{call} died of signal {-p.returncode}: running it again")


def java_cmd(cp, tmp, main_args):
    opens = [x for p in JDK_OPENS
             for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    # a fixed 2 GB heap (the largest input needs ~1.5 GB), not pre-touched:
    # peak RSS counts only the heap pages the program touches. With -Xmx
    # alone, G1's time-driven heap growth spreads peak RSS 14-17 % across
    # processes; a fixed heap keeps that within a few percent
    return (["java", "-Xms2g", "-Xmx2g", "-XX:-UsePerfData",
             f"-XX:ErrorFile={tmp}/hs_err_pid%p.log",
             f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"] + opens +
            ["-cp", cp, "graftbench.Harness"] + main_args)


def run_jvm(cmd, log_path, timeout):
    with open(log_path, "w") as fh:
        p = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT,
                             env=_clean_env(), cwd=ROOT)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            rc = -9
        finally:
            # a timeout, or SIGTERM / SIGINT to this process
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0:
        with open(log_path) as fh:
            tail = fh.read()[-3000:]
        sys.stderr.write(tail)
        die(f"harness exited with {rc}")


# ------------------------------------------------------------------ main

def main():
    # SIGTERM unwinds like SIGINT, so no child outlives this process
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(HERE, "workloads.json")) as fh:
        spec = json.load(fh)
    wl = spec["workloads"][args.workload]
    cores = min(4, os.cpu_count() or 1)
    cp, digest = build()

    oracle = oracle_sql(cp, digest, os.path.join(HERE, "heads.txt"))

    work = os.path.join(BUILD, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))

    # ---- inputs and references (the benchmark's work: before the JVM
    # starts, untimed)
    prep = native("prepare", args.workload, BUILD, args.seed, wl, oracle)
    data, ref = prep["data"], prep["ref"]
    extra = []
    if args.workload == "ts_train":
        project = os.path.join(HERE, "projects", "ts_train.yaml")
        extra = ["--warm-project", project, "--warm-data", prep["warm_data"]]
    elif args.workload == "corpus_curate":
        arts = os.path.join(work, "artifacts")
        project = _instantiate("corpus_curate.yaml", work, arts)
        # the documented filter → tokenize journey runs once per traced
        # run, outside the timed region; its outcome is in fail_ratio
        if args.trace:
            extra = ["--tokenize-project",
                     _instantiate("corpus_tokenize.yaml", work, arts)]
    else:
        heads = sorted(oracle["heads"])
        # the seed rotates which heads are checked: any run of
        # len(heads) / check_heads consecutive seeds checks every head
        k = wl["check_heads"]
        start = (args.seed * k) % len(heads)
        checked = [heads[(start + i) % len(heads)] for i in range(k)]
        ref = {h: ref[h] for h in checked}
        random.Random(args.seed).shuffle(heads)
        project = _write_lines(os.path.join(work, "heads.txt"), heads)
        extra = ["--heads", project, "--check-heads",
                 _write_lines(os.path.join(work, "check_heads.txt"), checked)]
        # the same journey over the test tables' documents, which carry
        # n_chars too: head_sweep is in the benchmark's set, corpus_curate
        # is not
        if args.trace:
            extra += ["--tokenize-project",
                      _instantiate("corpus_tokenize.yaml", work,
                                   os.path.join(work, "artifacts"))]

    # a traced run needs an untraced and a traced repetition at least
    e2e = run_once(cp, args, wl, cores, data, work, project, extra,
                   trace=args.trace,
                   min_reps=max(wl["min_reps"], 2 if args.trace else 1))
    res = e2e["result"]
    attempted = len(res["reps"])
    ok, detail = native("compare", args.workload,
                        os.path.join(work, "output"), ref)
    failed = 0 if ok else attempted
    if not ok:
        log(f"output check FAILED: {detail}")
    else:
        log(f"output check passed: {detail}")

    if args.trace == 0:
        metrics = end_to_end(args.workload, res, e2e["launch"])
    else:
        single = None
        if args.workload == "ts_train":
            swork = os.path.join(work, "single_core")
            os.makedirs(os.path.join(swork, "tmp"))
            single = run_once(cp, args, wl, 1, data, swork, project, [],
                              trace=2, seconds=0, warmup=1, min_reps=1)
        modmap = {h: v["module"] for h, v in oracle["heads"].items()}
        metrics = per_layer(args.workload, res, cores, data, single, modmap,
                            ok_ops=attempted - failed, attempted=attempted)
    print(json.dumps({"correct": ok, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


def _write_lines(path, lines):
    with open(path, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    return path


def _instantiate(name, work, arts):
    with open(os.path.join(HERE, "projects", name)) as fh:
        text = fh.read().replace("@ARTIFACTS@", arts)
    out = os.path.join(work, name)
    with open(out, "w") as fh:
        fh.write(text)
    return out


def run_once(cp, args, wl, cores, data, work, project, extra, trace,
             seconds=None, warmup=None, min_reps=None):
    cmd = java_cmd(cp, os.path.join(work, "tmp"), [
        "--mode", "run", "--workload", args.workload, "--data", data,
        "--work", work, "--project", project, "--cores", str(cores),
        "--seconds", str(args.seconds if seconds is None else seconds),
        "--warmup", str(wl["warmup"] if warmup is None else warmup),
        "--min-reps", str(wl["min_reps"] if min_reps is None else min_reps),
        "--trace", str(trace)] + extra)
    launch = time.time()
    run_jvm(cmd, os.path.join(work, "harness.log"), timeout=150)
    with open(os.path.join(work, "result.json")) as fh:
        return {"result": json.load(fh), "launch": launch}


# ---------------------------------------------------------------- metrics

def _m(value, unit):
    return {"value": value, "unit": unit}


def _pct(values, q):
    """Inclusive percentile (q in 0..100) by linear interpolation."""
    v = sorted(values)
    if len(v) == 1:
        return v[0]
    pos = (len(v) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def end_to_end(workload, res, launch):
    reps = [r for r in res["reps"] if not r["traced"]]
    if workload == "head_sweep":
        per_head = {}
        for r in reps:
            for h, s, _ in r["heads"]:
                per_head.setdefault(h, []).append(s)
        lat = [statistics.median(v) for v in per_head.values()]
    else:
        lat = [r["wall_s"] for r in reps]
    setup = reps[0]["start_ms"] / 1e3 - launch
    return {
        "job_s": _m(statistics.median(r["wall_s"] for r in reps), "s"),
        "cpu_s": _m(statistics.median(r["cpu_s"] for r in reps), "s"),
        "head_p50_s": _m(_pct(lat, 50), "s"),
        "head_p80_s": _m(_pct(lat, 80), "s"),
        "setup_s": _m(setup, "s"),
        "peak_rss_mb": _m(int(res["vm_hwm_kb"]) / 1024.0, "MB"),
    }


LAYER_COUNTS = ("jobs", "stages", "tasks", "input_bytes", "input_rows",
                "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
                "task_s")


def _children(spans):
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    return children


def _dur(s):
    return s["end_s"] - s["start_s"]


def _sum_layer(spans, name):
    out = {k: 0.0 for k in LAYER_COUNTS}
    out["s"] = 0.0
    for s in spans:
        if s["name"] == name:
            out["s"] += _dur(s)
            for k in LAYER_COUNTS:
                out[k] += float(s[k])
    return out


def _descendants(children, sid):
    out = []
    stack = [sid]
    while stack:
        for c in children.get(stack.pop(), []):
            out.append(c)
            stack.append(c["id"])
    return out


def _input_bytes(data):
    total = 0
    for dirpath, _, files in os.walk(data):
        total += sum(os.path.getsize(os.path.join(dirpath, f))
                     for f in files if f.endswith(".parquet"))
    return total


def per_layer(workload, res, cores, data, single, modmap, ok_ops, attempted):
    spans = res["spans"]
    by_id = {s["id"]: s for s in spans}
    children = _children(spans)
    traced = [r for r in res["reps"] if r["traced"]]
    plain = [r for r in res["reps"] if not r["traced"]]
    rows = []
    for r in traced:
        if workload == "head_sweep":
            # a pass = one top-level span per head from this repetition on
            pass_spans = []
            tops = [s for s in spans if s["parent"] == -1]
            first = r["root_span"]
            n_heads = len(r["heads"])
            tops = [s for s in tops if s["id"] >= first][:n_heads]
            for t in tops:
                pass_spans.append(t)
                pass_spans.extend(_descendants(children, t["id"]))
            job_s = sum(_dur(t) for t in tops)
            layer_self = sum(_dur(s) for s in pass_spans
                             if s["name"] in ("plan", "posture", "exec"))
            mods = {m: 0.0 for m in MODULES}
            stream_s = stream_jobs = 0.0
            for t in tops:
                h = t["name"].split(":", 1)[1]
                mods[modmap[h]] += _dur(t)
                if h.startswith("stream_"):
                    stream_s += _dur(t)
                    stream_jobs += sum(float(s["jobs"]) for s in
                                       _descendants(children, t["id"]))
            parts = [p for _, _, p in r["heads"]]
            row = {"job_s": job_s, "unattributed_s": job_s - layer_self,
                   "posture_parts": statistics.median(parts),
                   "manifest_s": 0.0, "sink_bytes": 0, "sink_files": 0,
                   "modules": mods, "stream_s": stream_s,
                   "stream_jobs": stream_jobs}
        else:
            root = by_id[r["root_span"]]
            desc = _descendants(children, root["id"])
            pass_spans = desc
            job_s = _dur(root)
            layer_self = sum(_dur(s) for s in desc
                             if s["name"] in ("plan", "posture", "exec",
                                              "manifest"))
            row = {"job_s": job_s, "unattributed_s": job_s - layer_self,
                   "posture_parts": r["posture_partitions"],
                   "manifest_s": _sum_layer(desc, "manifest")["s"],
                   "sink_bytes": r["sink_bytes"], "sink_files": r["sink_files"],
                   "modules": {m: 0.0 for m in MODULES}, "stream_s": 0.0,
                   "stream_jobs": 0.0}
        for layer in ("plan", "posture", "exec"):
            row[layer] = _sum_layer(pass_spans, layer)
        rows.append(row)

    def med(f):
        return statistics.median(f(x) for x in rows)

    disk = _input_bytes(data)
    out = {}
    out["plan.build_s"] = _m(med(lambda x: x["plan"]["s"]), "s")
    for layer in ("plan", "exec"):
        for k, unit in (("jobs", "count"), ("stages", "count"),
                        ("tasks", "count"), ("input_bytes", "bytes"),
                        ("shuffle_write_bytes", "bytes"), ("task_s", "s")):
            out[f"{layer}.{k}"] = _m(med(lambda x, l=layer, k=k: x[l][k]), unit)
        out[f"{layer}.core_util"] = _m(med(
            lambda x, l=layer: x[l]["task_s"] / max(x[l]["s"], 1e-9) / cores),
            "ratio")
    out["exec.s"] = _m(med(lambda x: x["exec"]["s"]), "s")
    out["exec.input_rows"] = _m(med(lambda x: x["exec"]["input_rows"]), "count")
    out["exec.shuffle_read_bytes"] = _m(
        med(lambda x: x["exec"]["shuffle_read_bytes"]), "bytes")
    out["exec.spill_bytes"] = _m(med(lambda x: x["exec"]["spill_bytes"]), "bytes")
    out["posture.s"] = _m(med(lambda x: x["posture"]["s"]), "s")
    out["posture.partitions"] = _m(med(lambda x: x["posture_parts"]), "count")
    out["sources.scan_amplification"] = _m(med(
        lambda x: (x["plan"]["input_bytes"] + x["exec"]["input_bytes"]) /
        max(disk, 1)), "ratio")
    out["sink.bytes_written"] = _m(med(lambda x: x["sink_bytes"]), "bytes")
    out["sink.files"] = _m(med(lambda x: x["sink_files"]), "count")
    out["manifest.s"] = _m(med(lambda x: x["manifest_s"]), "s")
    for m in MODULES:
        out[f"queries.{m}.s"] = _m(med(lambda x, m=m: x["modules"][m]), "s")
    out["streaming.s"] = _m(med(lambda x: x["stream_s"]), "s")
    out["streaming.jobs"] = _m(med(lambda x: x["stream_jobs"]), "count")
    out["trace.unattributed_s"] = _m(med(lambda x: x["unattributed_s"]), "s")
    out["trace.job_s"] = _m(med(lambda x: x["job_s"]), "s")
    out["jvm.gc_s"] = _m(statistics.median(r["gc_s"] for r in res["reps"]), "s")
    out["trace.overhead"] = _m(
        statistics.median(r["wall_s"] for r in traced) /
        statistics.median(r["wall_s"] for r in plain), "ratio")
    speedup = 0.0
    if single is not None:
        sres = single["result"]
        s_exec = [_dur(s) for s in sres["spans"] if s["name"] == "exec"]
        speedup = statistics.median(s_exec) / max(out["exec.s"]["value"], 1e-9)
    out["exec.speedup_vs_1core"] = _m(speedup, "ratio")
    tok_failed = res["tokenize_error"] is not None
    tok_attempted = 1 if res["tokenize_attempted"] else 0
    total = attempted + tok_attempted
    out["fail_ratio"] = _m(((attempted - ok_ops) + (1 if tok_failed else 0)) /
                           total, "ratio")
    return out


if __name__ == "__main__":
    main()
