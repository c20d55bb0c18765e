"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload replay_feed|sql_mix|operator_mix \
        --seed N --seconds S --trace 0|1

Run from the repository root. Builds the engine and the harness if the
sources changed (perfbench/build.py), makes the inputs for the seed
(perfbench/gen.py), runs one JVM on all cores with one closed-loop
client, checks every output, and prints one JSON object as the last line
of stdout: end-to-end metrics with --trace 0, per-layer metrics with
--trace 1. See perfbench/README.md.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import gen  # noqa: E402
import numpy as np  # noqa: E402

SQL_MIX = ["q01", "q02", "q03", "q04", "q05", "q06", "q07", "q08", "q09", "q10",
           "q11", "q12", "q13", "q14", "q15", "q16", "q17", "q18", "q19", "q55",
           "q56", "q57", "q59", "q65", "q66", "q75", "q81", "q82", "q86", "q98",
           "q100", "q147"]
OPERATOR_MIX = ["q35", "q97", "q101", "q105", "q179"]
WORKLOADS = {"replay_feed": None, "sql_mix": SQL_MIX, "operator_mix": OPERATOR_MIX}
HISTORY = 200
FEED = 20
WARM_REPLAYS = 1
JVM_LIMIT_S = 165
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def nproc():
    return len(os.sched_getaffinity(0))


def log(*a):
    print("perfbench:", *a, file=sys.stderr, flush=True)


def tables_dir():
    """The analytic tables, generated once per checkout (fixed data seed).
    The directory is keyed on gen.py and the numpy version, so new inputs
    are regenerated rather than checked against digests of old ones."""
    h = hashlib.sha256(np.__version__.encode())
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        h.update(f.read())
    d = os.path.join(build.BUILD, f"tables-sf{gen.SF}-{h.hexdigest()[:16]}")
    with open(os.path.join(build.BUILD, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        done = os.path.join(d, "DONE")
        if not os.path.exists(done):
            shutil.rmtree(d, ignore_errors=True)
            gen.write_tables(d)
            open(done, "w").close()
    return d


def run_jvm(args, work, inputs, tables, out):
    opts = ["--add-opens=" + p + "=ALL-UNNAMED" for p in ADD_OPENS]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # a fixed heap and young generation: with a heap grown on demand, the
    # same rounds differed by up to 20 % between JVMs, and peak_rss_mb
    # spread 0.10 between runs instead of 0.01-0.03
    cmd = (["java", "-Xms4g", "-Xmx4g", "-Xmn1g", "-Xss8m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            f"-Dderby.system.home={work}"] + opts +
           ["-cp", build.classpath(), "graftbench.Main",
            "--workload", args.workload,
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cores", str(nproc()), "--data", tables,
            "--inputs", inputs, "--work", work, "--out", out,
            "--warm-replays", str(WARM_REPLAYS)])
    if WORKLOADS[args.workload]:
        cmd += ["--queries", ",".join(WORKLOADS[args.workload])]
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    with open(os.path.join(work, "jvm.log"), "w") as jlog:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=jlog, stderr=jlog,
                             start_new_session=True)
        try:
            code = p.wait(timeout=JVM_LIMIT_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if code != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            tail = f.read()[-4000:]
        raise SystemExit(f"perfbench: JVM failed ({'timeout' if code is None else code})\n{tail}")


def source_id(stamp):
    """The git commit when there is one, else the build's source stamp."""
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=build.ROOT, check=True,
                              capture_output=True, text=True).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        return "source-" + stamp[:16]


def median(xs):
    return statistics.median(xs) if xs else 0.0


# ---------------------------------------------------------------- checks

def check_mix(res, ops):
    with open(os.path.join(HERE, "digests.json")) as f:
        want = json.load(f)
    got = res["warm_checks"]["digests"]
    wrong = {q for q, d in got.items() if want.get(q) != d}
    for q in sorted(wrong):
        log(f"wrong result: {q}: {got[q]} (expected {want.get(q)})")
    failed = [o for o in ops if not o["ok"] or o["name"] in wrong]
    return failed, not wrong


def check_replay(res, ops, expect):
    c = res["checks"]
    feed = expect["feed"]
    reps = expect["replays"]
    processed = {}
    for k, rid, ingested, delivered in c["ops"]:
        processed[k] = (rid, ingested, delivered)
    sent = c["sent"]
    bad = set()
    for k, (rid, ingested, delivered) in processed.items():
        e = reps[str(feed[k])]
        msg = c["messages"].get(str(rid))
        good = (rid == feed[k] and ingested and delivered
                and c["replay_main"].get(str(rid)) == 1
                and c["vehicles"].get(str(rid)) == e["vehicles"]
                and c["players"].get(str(rid)) == e["players"]
                and c["frags"].get(str(rid)) == e["frags"]
                and sent.count(rid) == 1
                and msg is not None and msg[0] is True
                and msg[1] == [e["top_killer"], e["top_kills"]])
        if not good:
            bad.add(k)
            log(f"wrong result: replay {feed[k]} (feed position {k})")
    ids = set()
    for r in expect["history"] + [feed[k] for k in processed]:
        ids.update(reps[str(r)]["ids"])
    whole = (c["d_players"] == len(ids) and len(sent) == len(set(sent))
             and set(sent) == {r for r, _, _ in processed.values()})
    if not whole:
        log("wrong result: d_players or delivery log")
    timed = {o["feed"] for o in ops}
    failed = [o for o in ops if not o["ok"] or o["feed"] in bad]
    return failed, whole and not (bad - timed)


# ---------------------------------------------------------------- metrics

def end_to_end(res, ops):
    lat = [o["s"] for o in ops]
    return {
        "setup_s": (res["setup_s"], "s"),
        "latency_p50_s": (median(lat), "s"),
        "ops_per_min": (60.0 * len(lat) / sum(lat), "1/min"),
        "peak_rss_mb": (res["vmhwm_kb"] / 1024.0, "MB"),
    }


def per_layer(res, ops, cores, input_bytes):
    tr = res["trace"]
    spans = {s[0]: s for s in tr["spans"]}
    timed = {o["k"] for o in ops}
    stages = {s[0]: s for s in tr.get("stages", [])}
    op_of_span = {i: s[3] for i, s in spans.items()}
    per_op = {k: {"jobs": 0, "stages": 0, "tasks": 0, "run_ms": 0, "shuffle": 0}
              for k in timed}
    jobs_in = {}
    seen = set()
    op_iv = sorted((o["start"], o["end"], o["k"]) for o in ops)
    for jid, span, start, sids in tr.get("jobs", []):
        k = op_of_span.get(span, -1)
        if span < 0:  # a job submitted off the traced thread: attribute by time
            k = next((kk for a, b, kk in op_iv if a <= start <= b), -1)
        if k not in timed:
            continue
        jobs_in[span] = jobs_in.get(span, 0) + 1
        a = per_op[k]
        a["jobs"] += 1
        for sid in sids:
            st = stages.get(sid)
            # stages a later job reuses are skipped there: count each once
            if st and st[1] > 0 and sid not in seen:
                seen.add(sid)
                a["stages"] += 1
                a["tasks"] += st[1]
                a["run_ms"] += st[2]
                a["shuffle"] += st[3]
    n = max(len(ops), 1)
    tot = {key: sum(a[key] for a in per_op.values()) for key in
           ("jobs", "stages", "tasks", "run_ms", "shuffle")}
    wall = sum(o["s"] for o in ops)
    task_s = tot["run_ms"] / 1000.0

    def child_s(name):
        return [sum((s[5] - s[4]) / 1e9 for s in spans.values()
                    if s[1] == name and s[3] == k) for k in sorted(timed)]

    def child_jobs(name):
        return [sum(c for sp, c in jobs_in.items()
                    if sp in spans and spans[sp][1] == name and spans[sp][3] == k)
                for k in sorted(timed)]

    op_s = [o["s"] for o in sorted(ops, key=lambda o: o["k"])]
    build_s = child_s("queries.build")
    blocks = [b for b in tr.get("blocks", []) if b[0] in timed]
    store = res["checks"].get("store", {"files": 0, "partitions": 0, "bytes": 0})
    m = {
        "spark.jobs": (tot["jobs"] / n, "count"),
        "spark.stages": (tot["stages"] / n, "count"),
        "spark.tasks": (tot["tasks"] / n, "count"),
        "spark.tasks_per_stage": (tot["tasks"] / max(tot["stages"], 1), "count"),
        "spark.task_s": (task_s / n, "s"),
        "spark.utilization": (task_s / (wall * cores), "ratio"),
        "spark.stage_overhead_ms": (
            1000.0 * (wall - task_s / cores) / max(tot["stages"], 1), "ms"),
        "spark.shuffle_mb": (tot["shuffle"] / 1e6 / n, "MB"),
        "spark.gc_s": (sum(o["gc_s"] for o in ops) / n, "s"),
        "queries.build_share": (sum(build_s) / wall, "ratio"),
        "queries.build_jobs": (sum(child_jobs("queries.build")) / n, "count"),
        "queries.action_jobs": (sum(child_jobs("queries.action")) / n, "count"),
        "operators.blocks_peak_mb": (max([b[1] for b in blocks] or [0]) / 1e6, "MB"),
        "operators.blocks_residual_mb": (max([b[2] for b in blocks] or [0]) / 1e6, "MB"),
    }
    for step in ("discover", "ingest", "message", "deliver"):
        step_s = child_s(f"pipeline.{step}")
        m[f"pipeline.{step}_share"] = (
            median([a / b for a, b in zip(step_s, op_s) if a > 0]), "ratio")
        m[f"pipeline.{step}_jobs"] = (median(child_jobs(f"pipeline.{step}")), "count")
    m["store.files"] = (store["files"], "count")
    m["store.partitions"] = (store["partitions"], "count")
    m["store.mb"] = (store["bytes"] / 1e6, "MB")
    m["store.bytes_per_input_byte"] = (
        store["bytes"] / input_bytes if input_bytes else 0.0, "ratio")
    m["trace.latency_p50_s"] = (median(op_s), "s")
    m["trace.latency_max_s"] = (max(op_s), "s")
    return m


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    load1 = os.getloadavg()[0]
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    commit = source_id(build.build())
    tables = tables_dir()
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        inputs = os.path.join(work, "inputs")
        expect = None
        if args.workload == "replay_feed":
            gen.replay_feed(inputs, args.seed, HISTORY, FEED)
            with open(os.path.join(inputs, "expect.json")) as f:
                expect = json.load(f)
        else:
            os.makedirs(inputs)
        out = os.path.join(work, "out.json")
        run_jvm(args, work, inputs, tables, out)
        with open(out) as f:
            res = json.load(f)
        warm = WARM_REPLAYS if expect else 0
        ops = [{"k": k, "name": name, "start": a, "end": b, "s": (b - a) / 1e9,
                "ok": ok, "error": err, "gc_s": gc / 1000.0, "feed": k + warm}
               for k, name, a, b, ok, err, gc in res["ops"]]
        for o in ops:
            if not o["ok"]:
                log(f"op {o['k']} ({o['name']}) failed: {o['error']}")
        input_bytes = 0
        if expect:
            failed, whole = check_replay(res, ops, expect)
            done = expect["history"] + expect["feed"][:len(res["checks"]["ops"])]
            for r in done:
                p = os.path.join(inputs, "pages", str(r))
                if os.path.exists(p + ".html"):
                    input_bytes += os.path.getsize(p + ".html") + os.path.getsize(p + ".json")
            with open(os.path.join(inputs, "history.jsonl"), encoding="utf-8") as f:
                for line in f:
                    h = json.loads(line)
                    input_bytes += len(h["html"].encode()) + len(h["json"].encode())
        else:
            failed, whole = check_mix(res, ops)
        if args.trace:
            metrics = per_layer(res, ops, res["cores"], input_bytes)
        else:
            metrics = end_to_end(res, ops)
        print(json.dumps({"context": {
            "workload": args.workload, "seed": args.seed, "nproc": nproc(),
            "loadavg_1m": load1, "commit": commit,
            "serial_anchor_s": res["anchor_s"], "samples": len(ops),
            "warm_s": res["warm_s"], "timed_s": res["timed_s"],
            "op_latency_s": {n: median([o["s"] for o in ops if o["name"] == n])
                             for n in sorted({o["name"] for o in ops})},
            "ops": [[o["name"], round(o["s"], 4)] for o in ops]}}))
        print(json.dumps({
            "correct": whole and not failed,
            "attempted": len(ops), "failed": len(failed),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
