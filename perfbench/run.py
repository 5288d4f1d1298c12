"""graft benchmark: one command per workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
harness from source (sbt, offline); every run then generates the seeded
inputs (cached per seed), starts one JVM with a pinned Spark config, and
prints one JSON line as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics of BENCHMARK.json, `--trace 1`
the per-layer ones. Progress and diagnostics go to stderr. The exit code is
non-zero when a correctness check fails or an operation errors.

A run times a fixed amount of work (one batch pass, or one cycle of store
ops), so two builds are compared on the same work at any speed; `--seconds`
is accepted for the command-line contract and does not change the work.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from decimal import Decimal

import numpy as np
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics as M  # noqa: E402

WORK = os.path.join(HERE, ".work")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "graftbench.stamp")
HEAP = "3g"
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.base/" + p + "=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit))) if submit else None
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("Spark not found: set SPARK_HOME")
    return os.path.join(home, "jars")


def sources():
    files = []
    for pattern in ("src/main/scala/**/*.scala", "perfbench/src/**/*.scala",
                    "perfbench/build.sbt", "perfbench/project/build.properties"):
        files += glob.glob(os.path.join(ROOT, pattern), recursive=True)
    return sorted(files)


def build():
    """Compile engine + harness unless the sources are unchanged."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found; run from the repository root")
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    if os.path.exists(STAMP) and open(STAMP).read() == digest and os.path.isdir(CLASSES):
        return
    log("building engine and harness (sbt compile)")
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=os.path.dirname(spark_jars()))
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], cwd=HERE,
                       env=env, stdout=sys.stderr, stderr=sys.stderr, timeout=800)
    if r.returncode != 0:
        fail("build failed")
    with open(STAMP, "w") as fh:
        fh.write(digest)


def run_jvm(workload, inputs, trace):
    run_dir = os.path.join(WORK, "runs", f"{workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    out = os.path.join(run_dir, "result.json")
    cmd = ["java", *[x for p in ADD_OPENS for x in ("--add-opens", p)],
           f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={run_dir}/tmp",
           "-Dspark.ui.enabled=false", "-Dlog4j2.level=error",
           "-cp", f"{CLASSES}:{spark_jars()}/*", "graftbench.Main",
           "--workload", workload, "--inputs", inputs, "--work", run_dir,
           "--trace", str(trace), "--out", out,
           "--spawn-ms", str(int(time.time() * 1000))]
    try:
        proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=subprocess.PIPE, text=True)
        try:
            _, err = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"harness exceeded {JVM_TIMEOUT_S}s")
        if proc.returncode != 0 or not os.path.exists(out):
            sys.stderr.write(err[-4000:])
            fail(f"harness exited with {proc.returncode}")
        with open(out) as fh:
            return json.load(fh)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


# ------------------------------------------------------------ correctness

def check_etl(res, manifest):
    checks = []
    exp = manifest["expected"]
    got = {k[len("digest."):]: v for k, v in res["extra"].items() if k.startswith("digest.")}
    for name, want in exp["full"].items():
        g = got.get(name)
        ok = g is not None and g["n"] == want["n"] and Decimal(g["s"]) == Decimal(want["s"])
        checks.append({"name": f"digest.{name}", "ok": ok, "detail": f"got {g}, want {want}"})
    for name, want in exp["scaled"].items():
        g = got.get(name)
        ok = g is not None and g["n"] == want["n"] and Decimal(g["s"]) == Decimal(want["s"])
        checks.append({"name": f"scaling_law.{name}", "ok": ok,
                       "detail": f"got {g}, want x{manifest['factor']} base {want}"})
    return checks


def shingles(text, k=5):
    t = text.split(" ")
    return {" ".join(t[i:i + k]) for i in range(len(t) - k + 1)}


def check_text(res, manifest, inputs):
    docs = pq.read_table(os.path.join(inputs, "documents.parquet"), columns=["doc_id", "text"])
    text = dict(zip(docs.column("doc_id").to_pylist(), docs.column("text").to_pylist()))
    checks = []
    mh = res["extra"].get("pairs.minhash", [])
    bad = 0
    for a, b, j in mh:
        sa, sb = shingles(text[a]), shingles(text[b])
        exact = len(sa & sb) / len(sa | sb)
        if exact < 0.5 or abs(exact - j) > 1e-5:
            bad += 1
    checks.append({"name": "minhash.pairs_verified", "ok": bad == 0 and bool(mh),
                   "detail": f"{bad} of {len(mh)} pairs fail exact Jaccard >= 0.5"})
    funnel = res["extra"].get("funnel", [])
    counts = [n for _, n in funnel]
    ok = bool(counts) and counts[0] <= manifest["docs"] and all(
        x >= y for x, y in zip(counts, counts[1:]))
    checks.append({"name": "funnel.monotone", "ok": ok, "detail": f"stage counts {funnel}"})
    return checks


def dedup_recall(res, manifest):
    """Mean over the five near-dup operators of the planted groups each
    one finds: text pairs planted by the generator, media clusters planted
    by the fixtures (doc_id % 50)."""
    recalls = {}
    planted = [tuple(p) for p in manifest["planted_pairs"]]
    for op in ("minhash", "simhash"):
        recalls[op] = M.group_recall(planted, [tuple(p[:2]) for p in res["extra"].get(f"pairs.{op}", [])])
    clusters = {}
    for i in manifest["media_doc_ids"]:
        clusters.setdefault(i % 50, []).append(i)
    groups = [g for g in clusters.values() if len(g) > 1]
    for op in ("image", "audio", "video"):
        recalls[op] = M.group_recall(groups, [tuple(p) for p in res["extra"].get(f"pairs.{op}", [])])
    log("dedup recall per operator: " + ", ".join(f"{k}={v:.4f}" for k, v in recalls.items()))
    return float(np.mean(list(recalls.values())))


def check_store(res, manifest, inputs):
    """ANN recall@10 of the final probe against exact cosine top-10 over
    the rows live when the loop stopped."""
    plan = [line.split() for line in open(os.path.join(inputs, "ops.txt"))]
    executed = plan[:int(res["extra"]["ops_executed"])]
    ok_writes = iter(o["ok"] for o in res["ops"] if o["kind"] == "write")
    emb = pq.read_table(os.path.join(inputs, "embeddings.parquet"))
    new = pq.read_table(os.path.join(inputs, "new_vecs.parquet"))
    vecs = dict(zip(emb.column("vec_id").to_pylist(), emb.column("embedding").to_pylist()))
    new_vecs = dict(zip(new.column("vec_id").to_pylist(), new.column("embedding").to_pylist()))
    dead = set()
    for op in executed:
        kind = op[0]
        if kind in ("append", "stream_day"):
            if next(ok_writes, False):
                for i in range(int(op[1]), int(op[2]) + 1):
                    vecs[i] = new_vecs[i]
        elif kind == "tombstone":
            victims = [int(x) for x in op[1:] if int(x) not in dead]
            if victims and next(ok_writes, False):
                dead.update(victims)
        elif kind == "compact":
            next(ok_writes, False)
    live_ids = np.array(sorted(i for i in vecs if i not in dead))
    mat = np.array([vecs[i] for i in live_ids], dtype=np.float64)
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    rv = pq.read_table(os.path.join(inputs, "recall_vecs.parquet"))
    got = {}
    for q, nb in res["extra"]["recall_probe"]:
        got.setdefault(q, set()).add(nb)
    hits = total = 0
    for qid, v in zip(rv.column("vec_id").to_pylist(), rv.column("embedding").to_pylist()):
        v = np.array(v, dtype=np.float64)
        exact = set(live_ids[np.argsort(-(mat @ (v / np.linalg.norm(v))), kind="stable")[:10]].tolist())
        hits += len(exact & got.get(qid, set()))
        total += 10
    fresh = res["extra"]["store_bytes_fresh"]
    return [], {"recall_at_k": hits / total,
                "space_amp": res["extra"]["store_bytes_end"] / fresh if fresh else 0.0}


def store_user_bytes(inputs, batch):
    nd = pq.read_table(os.path.join(inputs, "new_docs.parquet"), columns=["text"])
    doc_bytes = float(np.mean([len(t.encode()) for t in nd.column("text").to_pylist()])) + 8
    vec_bytes = gen.EMB_DIM * 4 + 8
    victims = batch // 4
    return {("doc", "append"): batch * doc_bytes, ("doc", "stream_day"): batch * doc_bytes,
            ("doc", "tombstone"): victims * 8.0, ("vec", "append"): batch * vec_bytes,
            ("vec", "stream_day"): batch * vec_bytes, ("vec", "tombstone"): victims * 8.0}


# ---------------------------------------------------------------- metrics

def phase_ops(res, phase):
    return [o for o in res["ops"] if o["phase"] == phase]


def end_to_end(res, quality, phase="measure"):
    ops = phase_ops(res, phase)
    wall = res["phases"][phase]
    if res["workload"] == "store_mixed":
        records_per_s = sum(o["results"] for o in ops if o["ok"]) / wall
    else:
        records_per_s = res["records_per_step"] / wall
    return {
        "setup_s": res["session_s"] + M.median(res["setup_reps_s"]) + res["warmup_s"],
        "records_per_s": records_per_s,
        "ops_per_s": len(ops) / wall,
        "cache_peak_mb": res["cache_peak_bytes"] / M.MB,
        "dedup_recall": quality.get("dedup_recall", 1.0),
        "recall_at_k": quality.get("recall_at_k", 1.0),
        "space_amp": quality.get("space_amp", 1.0),
    }


def layer_metrics(res, user_bytes):
    out = M.per_layer(res["trace"], phase_ops(res, "traced"))
    out.update(M.write_amp(res["trace"], user_bytes))
    # store latencies, from the untraced step
    untraced = [o for o in phase_ops(res, "untraced") if o["ok"]]
    probes = [o["ms"] for o in untraced if o["name"] == "ext.Similarity.ivfIndexStoreProbe"]
    writes = [o["ms"] for o in untraced if o["kind"] == "write" and o["name"].startswith("store.")]
    out["store.probe_p50_ms"] = M.median(probes) if probes else 0.0
    out["store.write_p50_ms"] = M.median(writes) if writes else 0.0
    # tracing overhead: traced over untraced time, minus one; per pass for
    # a batch, per read for the store (both phases time the same read mix)
    per = {}
    for phase in ("untraced", "traced"):
        if res["workload"] == "store_mixed":
            per[phase] = M.median([o["ms"] for o in phase_ops(res, phase) if o["kind"] == "read" and o["ok"]])
        else:
            per[phase] = res["phases"][phase]
    out["trace.overhead"] = per["traced"] / per["untraced"] - 1.0
    out["trace.spans"] = float(len(res["trace"]["spans"]))
    return out


UNITS = {"setup_s": "s", "records_per_s": "rec/s", "ops_per_s": "op/s", "cache_peak_mb": "MB", "dedup_recall": "ratio", "recall_at_k": "ratio",
         "space_amp": "ratio"}


def layer_unit(name):
    kind = name.rsplit(".", 1)[-1]
    if name.startswith("ext.") and ".write_amp." in name:
        return "ratio"
    return {"busy_s": "s", "task_cpu_s": "s", "driver_gap_s": "s", "queue_s": "s", "gc_s": "s",
            "shuffle_mb": "MB", "spill_mb": "MB", "scan_mb": "MB", "write_mb": "MB",
            "persisted_mb": "MB", "probe_p50_ms": "ms", "write_p50_ms": "ms"}.get(
        kind, "ratio" if kind in ("rows_scanned_per_result", "shuffle_reduction", "overhead")
        else "count")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    build()
    t0 = time.time()
    inputs, manifest = gen.prepare(WORK, args.workload, args.seed)
    t1 = time.time()
    res = run_jvm(args.workload, inputs, args.trace)
    log(f"{args.workload} seed={args.seed}: inputs {t1 - t0:.1f}s, harness {time.time() - t1:.1f}s")

    checks = list(res["checks"])
    if args.workload == "batch":
        more = check_etl(res, manifest) + check_text(res, manifest, inputs)
        quality = {"dedup_recall": dedup_recall(res, manifest)}
    else:
        more, quality = check_store(res, manifest, inputs)
    checks += more
    attempted, failed = M.error_counts(res["ops"], checks)
    by_name = {}
    for o in res["ops"]:
        by_name.setdefault(o["name"], []).append(o["ms"])
    log("median ms per op: " + ", ".join(f"{k}={M.median(v):.0f}" for k, v in by_name.items()))
    log(f"session {res['session_s']:.2f}s, input load (untimed) {res['load_s']:.2f}s, set-up {res['setup_reps_s']}, warm-up {res['warmup_s']:.2f}s, "
        f"verify {res['verify_s']:.2f}s, finish {res['finish_s']:.2f}s")
    for o in res["ops"]:
        if not o["ok"]:
            log(f"op failed: {o['name']}: {o['error']}")
    for c in checks:
        if not c["ok"]:
            log(f"check failed: {c['name']}: {c['detail']}")

    if args.trace:
        values = layer_metrics(res, store_user_bytes(inputs, manifest["scale"]["batch"])
                               if args.workload == "store_mixed" else {})
        units = {k: layer_unit(k) for k in values}
        phase = "untraced"
    else:
        values = end_to_end(res, quality)
        units = UNITS
        phase = "measure"
    reads = [o["ms"] for o in phase_ops(res, phase) if o["kind"] == "read" and o["ok"]]
    tail = next(((q, v) for q in (0.99, 0.95, 0.9, 0.75)
                 if (v := M.percentile(reads, q)) is not None), None)
    log(f"read latency: p50 {M.median(reads) or 0:.0f} ms over {len(reads)} reads; " +
        (f"p{round(tail[0] * 100)} {tail[1]:.0f} ms" if tail
         else "no percentile above the median has 10 samples beyond it"))
    log(f"{len(phase_ops(res, phase))} ops in {res['phases'][phase]:.2f}s, "
        f"{sum(c['ok'] for c in checks)} of {len(checks)} checks passed, "
        f"error_rate={M.error_rate(res['ops'], checks):.4f}")
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": float(v), "unit": units[k]}
                          for k, v in values.items()}}
    print(json.dumps(result))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
