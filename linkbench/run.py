#!/usr/bin/env python3
"""graft benchmark: one sample of one workload, in a fresh JVM.

    python3 linkbench/run.py --workload link --seed 1 --seconds 60 --trace 0

Run from the repository root. The first run builds graft and the harness
into `.bench_build/` (see build.py); inputs are generated from the seed
under `.bench_build/data/`. The last line of standard output is one JSON
object: `correct`, `attempted`, `failed` and `metrics`. With `--trace 0`
the metrics are the end-to-end metrics of BENCHMARK.json, measured with no
tracing; with `--trace 1` they are its per-layer metrics, from a run that
records a span around every call into a layer. See linkbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

PEOPLE = 1600
DOCUMENTS = 1000
EMBEDDINGS = 500
# Arrival batch size of the traced link run: the ~1,580 derived input
# records arrive in three batches.
BATCH = 540
CPUS = min(4, os.cpu_count() or 1)
RUN_LIMIT_S = 175
# Share of Spark jobs by which a repeated sample of the same code and input
# may differ from the first: repeated samples of one seed submitted 519 and
# 517 jobs (link, untraced) and 190 and 189 (curate, traced). A memo that
# leaked into a sample would save far more jobs than this.
JOBS_TOLERANCE = 0.02
LAYERS = ["prep", "lineage", "model", "cascade", "accuracy", "dedup", "vector",
          "text", "image", "stream_batch", "stream_finalize"]
JVM_OPTS = ["-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-XX:-UsePerfData", "-Xss8m",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


def inputs(workload, seed):
    if workload == "link":
        return {"customer": gen.customer(seed, PEOPLE)}
    return {"documents": gen.documents(seed, DOCUMENTS),
            "embeddings": gen.embeddings(seed, EMBEDDINGS)}


def run_jvm(classes, workload, data_dir, out_dir, trace, seed, deadline):
    """Runs one sample; returns (setup seconds, parsed result)."""
    os.makedirs(out_dir)
    tmp = os.path.join(out_dir, "tmp")
    os.makedirs(tmp)
    cmd = [build.java(), *JVM_OPTS, f"-Djava.io.tmpdir={tmp}",
           "-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
           "linkbench.Main", workload, data_dir, out_dir, str(trace), str(seed),
           str(BATCH)]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(CPUS))
    log = open(os.path.join(out_dir, "jvm.log"), "w")
    t0 = time.time()
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                            env=env, cwd=out_dir, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise RuntimeError("sample timed out")
    finally:
        log.close()
    ready = result = None
    for line in out.splitlines():
        if line.startswith("LINKBENCH_READY "):
            ready = int(line.split()[1]) / 1000.0
        elif line.startswith("LINKBENCH_RESULT "):
            result = json.loads(line.split(" ", 1)[1])
    if proc.returncode != 0 or ready is None or result is None:
        raise RuntimeError(f"sample failed (exit {proc.returncode}); "
                           f"see {out_dir}/jvm.log")
    return ready - t0, result


def check_outputs(workload, data_dir, out_dir, result):
    """Checks every output; returns (attempted, failed, frames by output)."""
    out = os.path.join(out_dir, "out")
    oracle = check.Oracle(data_dir)
    attempted = failed = 0
    rows = {}
    for o in result["outputs"]:
        if o["error"]:
            attempted += 1
            failed += 1
            print(f"FAIL {o['name']}: {o['error']}", file=sys.stderr)

    def compare(item):
        name, sql = item
        try:
            df = check.read_spark(os.path.join(out, name))
            return name, df, oracle.compare(df, sql)
        except Exception as e:  # a missing or unreadable output is a failure
            return name, None, str(e)[:300]
    oracles = sorted(json.load(open(os.path.join(out_dir, "oracle.json"))).items())
    with ThreadPoolExecutor(CPUS) as pool:
        for name, df, why in pool.map(compare, oracles):
            attempted += 1
            if df is not None:
                rows[name] = df
            if why:
                failed += 1
                print(f"FAIL {name}: {why}", file=sys.stderr)
    if workload == "link":
        attempted += 1
        try:
            em = check.read_spark(os.path.join(out, "03_link_datasets", "em_report"))
            ok = len(em) > 0 and em["iterations"].between(1, 25).all()
        except Exception:
            ok = False
        if not ok:
            failed += 1
            print("FAIL 03_link_datasets/em_report", file=sys.stderr)
        if "stream/confirmed_links" in rows:
            attempted += 1
            if check.ordered_hash(rows["stream/confirmed_links"]) != \
                    check.ordered_hash(rows["03_link_datasets/confirmed_links"]):
                failed += 1
                print("FAIL streamed confirmed links differ from the pipeline's",
                      file=sys.stderr)
    return attempted, failed, rows


def check_repeat(data_dir, stamp, trace, rows, jobs):
    """Compares this sample with earlier samples of the same input and the
    same build stamp, i.e. the same code; returns (attempted, failed).

    Pipeline tables are written sorted, so every table must hold the same
    rows in the same order, traced or not. Each sample starts from empty
    memos, so it must submit as many Spark jobs as an earlier sample with
    the same tracing, within JOBS_TOLERANCE of them."""
    record = os.path.join(data_dir, f"repeat-{stamp}.json")
    seen = json.load(open(record)) if os.path.exists(record) else {}
    hashes = {k: check.ordered_hash(v) for k, v in rows.items()
              if not k.startswith("stream/")}
    known = seen.get("hashes", {})
    bad = [k for k in hashes if k in known and known[k] != hashes[k]]
    for k in bad:
        print(f"FAIL {k}: rows or their order differ from an earlier run "
              f"of the same code", file=sys.stderr)
    attempted = len([k for k in hashes if k in known])
    failed = len(bad)
    key = f"jobs_trace{trace}"
    if key in seen:
        attempted += 1
        if abs(jobs - seen[key]) > JOBS_TOLERANCE * seen[key]:
            failed += 1
            print(f"FAIL {jobs} Spark jobs, an earlier sample of the same code "
                  f"and input submitted {seen[key]}", file=sys.stderr)
    with open(record, "w") as f:
        json.dump({**seen, "hashes": {**hashes, **known}, key: seen.get(key, jobs)}, f)
    return attempted, failed


def dir_mb(path):
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f))
                     for f in files if f.endswith(".parquet"))
    return total / 1048576.0


def layer_metrics(result, rows, out_dir):
    """Per-layer metrics of a traced run; layers the workload does not run
    read 0."""
    m = {}
    stats = result["layers"]
    for layer in LAYERS:
        s = stats.get(layer, {})
        for k in ("wall_s", "idle_s", "plan_s", "jobs", "tasks", "task_s",
                  "shuffle_mb", "spill_mb", "failed_tasks"):
            m[f"{layer}.{k}"] = s.get(k, 0)
    pairs = result.get("pairs", 0)
    links = len(rows.get("03_link_datasets/best_links", []))
    m["cascade.pairs"] = pairs
    m["cascade.links"] = links
    m["cascade.links_per_kpair"] = 1000.0 * links / pairs if pairs else 0.0
    m["memo.cached_mb"] = result["cached_mb"]
    m["pipeline.out_mb"] = dir_mb(os.path.join(out_dir, "out"))
    acc = rows.get("04_accuracy/accuracy_eval")
    pik = rows.get("03_link_datasets/pik_rate")
    m["accuracy.precision"] = float(acc["precision_"][0]) if acc is not None else 0.0
    m["accuracy.recall"] = float(acc["recall_"][0]) if acc is not None else 0.0
    m["accuracy.pik_rate"] = (float(pik[pik["pass"] == "all"]["pik_rate"].iloc[0])
                              if pik is not None else 0.0)
    batches = result["batch_s"]
    m["stream_batch.p50_s"] = statistics.median(batches) if batches else 0.0
    # Every derived input record arrives once: q39's record count.
    arrivals = (float(pik[pik["pass"] == "all"]["n_records"].iloc[0])
                if pik is not None else 0.0)
    m["stream_batch.arrivals_per_s"] = arrivals / sum(batches) if batches else 0.0
    # The traced wall, without the stream tail: the same calls as the
    # untraced run's wall_s, so the tracing overhead of a seed is this
    # minus wall_s of an untraced sample of that seed and commit.
    m["trace.wall_s"] = sum(o["sec"] for o in result["outputs"]
                            if o["layer"] not in ("stream_batch", "stream_finalize"))
    return m


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=["link", "curate"])
    p.add_argument("--seed", type=int, required=True)
    # Accepted and not used: a sample is one cold pass.
    p.add_argument("--seconds", type=int, default=60)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = p.parse_args()
    deadline = time.time() + RUN_LIMIT_S
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    try:
        classes = build.build(ROOT, BUILD)
    except build.BuildError as e:
        print(e, file=sys.stderr)
        return 1
    data_dir = gen.write(os.path.join(BUILD, "data", f"{a.workload}-{a.seed}"),
                         inputs(a.workload, a.seed))
    out_dir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    setup_s, result = run_jvm(classes, a.workload, data_dir, out_dir, a.trace,
                              a.seed, deadline)
    attempted, failed, rows = check_outputs(a.workload, data_dir, out_dir, result)
    # Curation outputs are written unsorted, so only their job count repeats.
    more = check_repeat(data_dir, build.stamp(classes), a.trace,
                        rows if a.workload == "link" else {}, result["jobs"])
    attempted, failed = attempted + more[0], failed + more[1]
    spans = os.path.join(out_dir, "spans.jsonl")
    if os.path.exists(spans):
        os.makedirs(os.path.join(BUILD, "spans"), exist_ok=True)
        shutil.copy(spans, os.path.join(BUILD, "spans", f"{a.workload}-{a.seed}.jsonl"))
    if a.trace:
        values = layer_metrics(result, rows, out_dir)
        wanted = spec["per_layer"]
    else:
        values = {"setup_s": setup_s, "wall_s": result["wall_s"],
                  "peak_rss_mb": result["peak_rss_mb"]}
        wanted = spec["end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in wanted}
    if failed == 0:
        shutil.rmtree(out_dir, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
