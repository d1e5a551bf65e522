#!/usr/bin/env python3
"""graft's benchmark: one command per workload.

    python3 perfbench/run.py --workload <interactive|corpus|analytics> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It builds graft and the benchmark from
source (`perfbench/build.py`), generates the workload's inputs from the
seed (`perfbench/gen.py`), runs the workload in one JVM
(`perfbench/src/graftbench`), checks the outputs, and prints one JSON
object as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics of BENCHMARK.json, `--trace 1`
its per-layer metrics from a separate serial, traced run (a layer the
workload never calls reports 0). The exit code is non-zero when any
output check fails or the run cannot complete. See perfbench/README.md.
"""
import argparse
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

DEADLINE_S = 170  # the whole run, build excluded

# Workload sizes: a run's set-up, measurement and checks take about a
# minute on 4 cores (README.md, "Time budget").
SIZES = {
    "interactive": {"docs": 120, "mean_chars": 3000,
                    "equiv_sample": 1, "requests": 400},
    "corpus": {"base_docs": 40, "delta_docs": 8, "rounds": 12,
               "mean_chars": 12000, "batch": 64},
    "analytics": {"docs": 300, "orders": 1000},
}

# interactive mode mix: hybrid 30 %, every other mode 10 %
MIX = ["hybrid", "ivf", "hybrid", "hnsw", "int8", "hybrid", "maxsim", "mmr",
       "phrase", "near"]

# the per-layer metrics each workload measures (by name prefix); the
# others belong to layers the workload never calls and read 0
MEASURED = {
    "interactive": lambda n: not n.startswith("ops."),
    "analytics": lambda n: n.startswith(("spark.", "trace_", "ops.")),
}

TOKEN = re.compile(r"[a-z0-9]+")


def tokenize(s):
    return TOKEN.findall(s.lower())


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ------------------------------------------------------------------ inputs

def plain_paragraphs(text):
    """Paragraphs that stay inside one chunk, minus the last (the
    chunker may drop a short tail), each as its sentences without
    citations or names (plain lowercase words only)."""
    paras = text.split("\n\n")[:-1]
    out = []
    for p in paras:
        if len(p) > 1200:
            continue
        sents = [tokenize(s) for s in p.split(". ")
                 if not re.search(r"[0-9§]|v\.|Justice|Court|Title|Act", s)]
        sents = [s for s in sents if len(s) >= 6]
        if sents:
            out.append(sents)
    return out


def queries(rng, docs, n):
    """2-5 index terms per query, mixing common and rare terms."""
    df = {}
    for t in docs:
        for w in set(tokenize(t)):
            df[w] = df.get(w, 0) + 1
    by_df = sorted(df, key=lambda w: (-df[w], w))
    common = [w for w in by_df[:150] if len(w) > 3]
    rare = [w for w in by_df if 2 <= df[w] <= 6 and not w.startswith("mkq")]
    out = []
    for _ in range(n):
        k = int(rng.integers(2, 6))
        n_rare = int(rng.integers(1, k))
        ws = list(rng.choice(common, k - n_rare, replace=False)) + \
            list(rng.choice(rare, n_rare, replace=False))
        rng.shuffle(ws)
        out.append(" ".join(ws))
    return out


def interactive_inputs(seed, data, sz):
    import numpy as np
    import gen
    docs = gen.opinions(seed, 0, sz["docs"], sz["mean_chars"])
    gen.write_table(docs, os.path.join(data, "interactive", "documents.parquet"))
    texts = docs.column("text").to_pylist()
    rng = np.random.default_rng([seed, 3])
    qs = queries(rng, texts, sz["requests"])
    reqs = []
    for i in range(sz["requests"]):
        mode = MIX[i % len(MIX)]
        body = {"query": qs[i], "limit": 5}
        if mode in ("phrase", "near"):
            while True:
                paras = plain_paragraphs(texts[int(rng.integers(0, len(texts)))])
                if paras:
                    break
            para = paras[int(rng.integers(0, len(paras)))]
            sent = para[int(rng.integers(0, len(para)))]
            if mode == "phrase":
                n = int(rng.integers(2, 4))
                s = int(rng.integers(0, len(sent) - n + 1))
                body = {"phrase": " ".join(sent[s:s + n]), "limit": 5}
            else:
                gap = int(rng.integers(2, 5))
                s = int(rng.integers(0, len(sent) - gap))
                body = {"near": [sent[s], sent[s + gap]],
                        "max_span": gap + 2, "limit": 5}
        elif mode == "ivf":
            body["ann"] = "ivf"
        elif mode == "hnsw":
            body["ann"] = "hnsw"
        elif mode == "int8":
            body.update(ann="ivf", rerank="int8")
        elif mode == "maxsim":
            body["rerank"] = "maxsim"
        elif mode == "mmr":
            body["diversify"] = True
        reqs.append({"mode": mode, "path": "/search", "body": body})
    with open(os.path.join(data, "requests.json"), "w") as fh:
        json.dump(reqs, fh)


def corpus_inputs(seed, data, sz):
    import numpy as np
    import gen
    base = gen.opinions(seed, 0, sz["base_docs"], sz["mean_chars"])
    gen.write_table(base, os.path.join(data, "corpus", "documents.parquet"))
    texts = base.column("text").to_pylist()
    deltas = []
    for r in range(sz["rounds"]):
        first = sz["base_docs"] + r * sz["delta_docs"]
        t = gen.opinions(seed, first, sz["delta_docs"], sz["mean_chars"])
        gen.write_table(t, os.path.join(data, "deltas", f"round{r:03d}"))
        deltas.append({"first": first, "n": sz["delta_docs"],
                       "markers": [gen.marker_phrase(d) for d in range(first, first + sz["delta_docs"])]})
        texts += t.column("text").to_pylist()
        sz["delta_bytes"] = sum(len(x.encode()) for x in t.column("text").to_pylist())
    rng = np.random.default_rng([seed, 5])
    base_texts = texts[:sz["base_docs"]]
    qs = queries(rng, base_texts, sz["batch"] * 2)
    phrases = []
    while len(phrases) < sz["batch"]:
        paras = plain_paragraphs(base_texts[int(rng.integers(0, len(base_texts)))])
        if paras:
            sent = paras[int(rng.integers(0, len(paras)))][0]
            s = int(rng.integers(0, len(sent) - 2))
            phrases.append(" ".join(sent[s:s + 3]))
    with open(os.path.join(data, "requests.json"), "w") as fh:
        json.dump({"queries": qs[:sz["batch"]], "rerank_queries": qs[sz["batch"]:],
                   "phrases": phrases, "deltas": deltas}, fh)


def analytics_inputs(seed, data, sz):
    import gen
    gen.analytics(seed, os.path.join(data, "analytics"), sz["docs"], sz["orders"])


INPUTS = {"interactive": interactive_inputs, "corpus": corpus_inputs,
          "analytics": analytics_inputs}


# --------------------------------------------------------------------- run

def cpu_times():
    """Linux host CPU counters (user..steal jiffies), or None."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:9]]
    except (OSError, ValueError):
        return None


def run_jvm(cp, workload, data, work, seconds, trace, seed, deadline):
    import build
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cpus = str(min(4, os.cpu_count() or 1))
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m",
           "-XX:+UseCodeCacheFlushing", "-Dfile.encoding=UTF-8",
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
           f"-Dderby.system.home={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           *build.JVM_OPENS, "-cp", os.pathsep.join(cp), "graftbench.Main",
           workload, data, work, str(seconds), str(trace), str(seed)]
    env = dict(os.environ, SPARK_GRAFT_CPUS=cpus, SPARK_LOCAL_DIRS=tmp)
    log_path = os.path.join(work, "jvm.log")
    cpu0 = cpu_times()
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=log,
                             stderr=subprocess.STDOUT, start_new_session=True)
        try:
            rc = p.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            # also on SIGTERM / ^C: never leave the JVM behind
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    cpu1 = cpu_times()
    if cpu0 and cpu1:
        d = [b - a for a, b in zip(cpu0, cpu1)]
        # steal: time the host ran other guests on this VM's CPUs
        print(f"[bench] host steal {100.0 * d[7] / max(1, sum(d)):.1f}% of CPU time during the run",
              file=sys.stderr)
    with open(log_path, errors="replace") as fh:
        log_text = fh.read()
    for line in log_text.splitlines():
        if line.startswith("[bench]"):
            print(line, file=sys.stderr)
    if rc != 0:
        sys.stderr.write(log_text[-6000:])
        fail("the workload JVM timed out" if rc is None else f"the workload JVM exited {rc}")
    with open(os.path.join(work, "result.json")) as fh:
        return json.load(fh)


def oracle_check(work, data):
    """analytics: each query's output against its DuckDB oracle, with the
    repo's own comparison (tools/check_oracle.py)."""
    out = os.path.join(work, "oracle")
    names = sorted(json.load(open(os.path.join(out, "oracle_sql.json"))))
    r = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"),
                        out, os.path.join(data, "analytics"), *names],
                       capture_output=True, text=True, timeout=120)
    bad = [l for l in r.stdout.splitlines() if l.startswith("q") and ": OK" not in l]
    for l in bad:
        print(f"[bench] ORACLE MISMATCH {l}", file=sys.stderr)
    if r.returncode not in (0, 1):
        sys.stderr.write(r.stderr[-3000:])
        fail(f"oracle check exited {r.returncode}")
    return len(names), len(bad) or (1 if r.returncode else 0)


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        fail("no BENCHMARK.json at the checkout root")
    spec = json.load(open(spec_path))

    import build
    os.makedirs(build.OUT, exist_ok=True)
    cp = build.build()
    start = time.time()

    work = os.path.join(build.OUT, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    os.makedirs(data)
    try:
        sz = dict(SIZES[a.workload], mix=MIX)
        INPUTS[a.workload](a.seed, data, sz)
        with open(os.path.join(data, "params.json"), "w") as fh:
            json.dump(sz, fh)
        res = run_jvm(cp, a.workload, data, work, a.seconds, a.trace, a.seed,
                      start + DEADLINE_S)
        if a.workload == "analytics":
            n, bad = oracle_check(work, data)
            res["attempted"] += n
            res["failed"] += bad
        for f in res.get("failures", []):
            print(f"[bench] failure: {f}", file=sys.stderr)
        if a.trace:
            traces = os.path.join(build.OUT, "traces")
            os.makedirs(traces, exist_ok=True)
            dst = os.path.join(traces, f"{a.workload}-seed{a.seed}.jsonl")
            shutil.copyfile(os.path.join(work, "spans.jsonl"), dst)
            print(f"[bench] spans written to {os.path.relpath(dst, ROOT)}", file=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    got = res["metrics"]
    listed = {w["name"] for w in spec["workloads"]}
    if a.workload not in listed:
        metrics = got  # a workload run by hand: everything it measured
    elif a.trace:
        names = [m["name"] for m in spec["per_layer"]]
        missing = [n for n in names if n not in got and MEASURED[a.workload](n)]
        if missing:
            fail(f"the traced run did not report {missing}")
        metrics = {m["name"]: got.get(m["name"], {"value": 0, "unit": m["unit"]})
                   for m in spec["per_layer"]}
    else:
        missing = [m["name"] for m in spec["end_to_end"] if m["name"] not in got]
        if missing:
            fail(f"the run did not report {missing}")
        metrics = {m["name"]: got[m["name"]] for m in spec["end_to_end"]}
    correct = res["failed"] == 0
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
