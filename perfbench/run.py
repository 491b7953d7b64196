#!/usr/bin/env python3
"""End-to-end benchmark of the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run compiles the engine
(`src/main/scala`) and the JVM driver (`perfbench/src`) into
`.bench_build/` with the Scala compiler from the build's `unmanagedBase`
jar directory; later runs reuse the classes while the sources are
unchanged. Each run starts a fresh JVM with plain `java -cp`, on
`local[<nproc>]` with the heap the tier-1 tests use, and drives the engine
only through `SparkEntry.queries` and `ApiServer` (see README.md).

`--trace 0` prints the end-to-end metrics. `--trace 1` makes a separate
traced run (Spark listeners, job tags) that prints the per-layer metrics
and writes its spans to `.bench_build/traces/`. The last stdout line is
one JSON object: {"correct", "attempted", "failed", "metrics"}.
"""

import argparse
import glob
import hashlib
import http.client
import json
import os
import queue
import random
import re
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
BUILD = ".bench_build"
RUN_LIMIT_S = 170  # a run must end within 180 s (plus the build on a first run)
MB = 1024 * 1024


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---------------------------------------------------------------- build

def build_settings(root):
    """Jar directory, JVM flags and fixture directory, read from the build
    definition and from Bench, so the benchmark follows them."""
    sbt = os.path.join(root, "build.sbt")
    bench = os.path.join(root, "src", "main", "scala", "graft", "Bench.scala")
    if not (os.path.isfile(sbt) and os.path.isfile(bench)):
        die("no engine sources here (build.sbt, src/main/scala); run from a checkout root")
    text = open(sbt).read()
    jar_dir = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', text)
    opens = re.findall(r'"(java\.base/[\w.]+)"', text)
    props = re.findall(r'"(-D[^"=]+=[^"]*)"', text)
    sf = re.search(r'"SPARK_GRAFT_SF_DIR",\s*"([^"]+)"', open(bench).read())
    if not (jar_dir and opens and sf):
        die("build.sbt or Bench.scala no longer has the settings this benchmark reads")
    jars = sorted(glob.glob(os.path.join(jar_dir.group(1), "*.jar")))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", sf.group(1))
    if not jars:
        die(f"no jars in {jar_dir.group(1)}")
    if not os.path.exists(os.path.join(sf_dir, "lineitem.parquet")):
        die(f"fixtures not found in {sf_dir}")
    flags = [f for p in opens for f in ("--add-opens", f"{p}=ALL-UNNAMED")] + props
    return jars, flags, sf_dir


def scalac(jars, classpath, out, sources):
    os.makedirs(out)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(jars),
           "scala.tools.nsc.Main", "-nowarn", "-d", out,
           "-classpath", os.pathsep.join(classpath)] + sources
    done = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if done.returncode != 0:
        sys.stderr.write(done.stdout[-4000:])
        die(f"compile failed: {out}")


def build(root, jars):
    """Compiles engine and driver once per source state; returns the classpath.
    Everything under .bench_build/classes, the untraced history included, is
    dropped when the sources or the workloads change."""
    engine = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"),
                              recursive=True))
    driver = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    inputs = engine + driver + [os.path.join(HERE, "workloads.json"),
                                os.path.join(root, "build.sbt")]
    h = hashlib.sha256()
    for path in inputs + jars:
        h.update(path.encode())
        if path in inputs:
            h.update(open(path, "rb").read())
    out = os.path.join(root, BUILD, "classes")
    stamp = os.path.join(out, "stamp")
    cp = [os.path.join(out, "engine"), os.path.join(out, "driver")]
    if not (os.path.isfile(stamp) and open(stamp).read() == h.hexdigest()):
        shutil.rmtree(out, ignore_errors=True)
        scalac(jars, jars, cp[0], engine)
        scalac(jars, cp[:1] + jars, cp[1], driver)
        with open(stamp, "w") as f:
            f.write(h.hexdigest())
    return cp + jars


def host_facts(seed):
    with open("/proc/meminfo") as f:
        mem_kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    nproc = len(os.sched_getaffinity(0))
    # The tier-1 heap: MemTotal / 2 GiB, clamped to 2..8 GiB.
    heap_g = min(8, max(2, mem_kb // 2097152))
    return {"nproc": nproc, "mem_total_kb": mem_kb, "heap": f"{heap_g}g", "seed": seed}


# ---------------------------------------------------------------- JVM runs

class Jvm:
    """One driver JVM in its own scratch working directory and tmpdir."""

    live = []  # killed on any exit, so no JVM outlives the run

    def __init__(self, ctx, mode, workload, trace, queries=()):
        self.dir = os.path.join(ctx["root"], BUILD, "run", f"{workload}-{os.getpid()}")
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(os.path.join(self.dir, "tmp"))
        self.out = os.path.join(self.dir, "result.json")
        self.log = os.path.join(self.dir, "stderr.log")
        host = ctx["host"]
        # -XX:-UsePerfData keeps the JVM from writing hsperfdata outside the checkout.
        cmd = (["java", "-XX:-UsePerfData"] + ctx["flags"] +
               [f"-Xmx{host['heap']}", "-Djava.io.tmpdir=" + os.path.join(self.dir, "tmp"),
                "-cp", os.pathsep.join(ctx["cp"]), "perfbench.Driver",
                mode, workload, ctx["sf"], str(host["nproc"]), str(trace), self.out])
        if queries:
            cmd.append(",".join(queries))
        self.lines = queue.Queue()
        self.t0 = time.perf_counter()
        with open(self.log, "w") as err:
            self.proc = subprocess.Popen(cmd, cwd=self.dir, stdin=subprocess.PIPE,
                                         stdout=subprocess.PIPE, stderr=err, text=True)
        Jvm.live.append(self)
        threading.Thread(target=self._pump, daemon=True).start()

    def _pump(self):
        for line in self.proc.stdout:
            self.lines.put(line.strip())
        self.lines.put(None)

    def expect(self, prefix, deadline):
        """Waits for a protocol line; returns (seconds since launch, line)."""
        while True:
            try:
                line = self.lines.get(timeout=max(0.1, deadline - time.monotonic()))
            except queue.Empty:
                line = None
            if line is None:
                self.fail(f"sent no {prefix} line")
            if line.startswith(prefix):
                return time.perf_counter() - self.t0, line

    def finish(self, deadline):
        """Closes stdin, waits for the exit and returns the result file."""
        self.proc.stdin.close()
        try:
            self.proc.wait(timeout=max(1, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            self.fail("timed out")
        if self.proc.returncode != 0 or not os.path.isfile(self.out):
            self.fail(f"exited with code {self.proc.returncode}")
        with open(self.out) as f:
            result = json.load(f)
        self.close()
        return result

    def fail(self, why):
        self.close(keep_log=True)
        die(f"driver JVM {why}; log: {self.log}")

    def close(self, keep_log=False):
        if self.proc.poll() is None:
            self.proc.kill()
        self.proc.wait()
        if self in Jvm.live:
            Jvm.live.remove(self)
        shutil.rmtree(os.path.join(self.dir, "tmp") if keep_log else self.dir,
                      ignore_errors=True)


# ---------------------------------------------------------------- workloads

def run_batch(ctx, name, wl, seed, trace, deadline):
    """One cold pass over the workload's queries, in seeded order."""
    order = [q["name"] for q in wl["queries"]]
    random.Random(seed).shuffle(order)
    jvm = Jvm(ctx, "batch", name, trace, order)
    setup, _ = jvm.expect("READY", deadline)
    res = jvm.finish(deadline)
    expected = {q["name"]: q["rows"] for q in wl["queries"]}
    failed = 0
    for q in res["queries"]:
        if q["error"] is not None or q["rows"] != expected[q["name"]]:
            failed += 1
            print(f"perfbench: {q['name']} rows={q['rows']} expected={expected[q['name']]} "
                  f"error={q['error']}", file=sys.stderr)
    res.update(setup_s=setup, inputs={"order": order},
               op_ms=[q["wall_s"] * 1000 for q in res["queries"]])
    return res, len(order), failed


def request_plan(wl, seed):
    """The route mix as exact counts, in seeded order. Keys are drawn by seed
    without replacement and never include the warm-up keys, so no keyed
    request repeats and every seed has the same share of repeated keys
    (none). With repeats allowed, pass_s varied more between seeds than
    between runs of one seed."""
    rng = random.Random(seed)
    mix = wl["route_mix"]
    plan = [("network", "/api/network")] * mix["network"]
    plan += [("common", "/api/common/{}/{}".format(*pair))
             for pair in rng.sample(wl["common_pairs"][1:], mix["common"])]
    for route in ("links", "node"):
        plan += [(route, f"/api/{route}/{key}")
                 for key in rng.sample(wl["order_keys"][1:], mix[route])]
    rng.shuffle(plan)
    return plan


def fetch(port, path, expected):
    """One GET; returns (ok, start epoch ms, end epoch ms, latency s)."""
    start_ms, t0 = time.time() * 1000, time.perf_counter()
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=60)
    try:
        conn.request("GET", path)
        resp = conn.getresponse()
        status, body = resp.status, resp.read()
    except (OSError, http.client.HTTPException):
        status, body = 0, b""
    finally:
        conn.close()
    latency = time.perf_counter() - t0
    digest = hashlib.sha256(body).hexdigest()
    ok = status == 200 and digest == expected.get(path)
    if not ok:
        print(f"perfbench: {path} status={status} sha256={digest}", file=sys.stderr)
    return ok, start_ms, time.time() * 1000, latency


def run_api(ctx, name, wl, seed, trace, deadline):
    """A closed loop of `clients` connections over a seeded request plan."""
    expected = wl["expected_sha256"]
    jvm = Jvm(ctx, "api", name, trace)
    jvm.expect("READY", deadline)
    port = int(jvm.expect("PORT", deadline)[1].split()[1])
    # Set-up ends after one request per route: the first calls build the
    # session's serving artifacts, which users pay once per server.
    key, pair = wl["order_keys"][0], wl["common_pairs"][0]
    warm = ["/api/network", f"/api/links/{key}", f"/api/node/{key}",
            "/api/common/{}/{}".format(*pair)]
    warm_failed = sum(not fetch(port, p, expected)[0] for p in warm)
    setup = time.perf_counter() - jvm.t0

    plan = request_plan(wl, seed)
    todo = queue.Queue()
    for i, (route, path) in enumerate(plan):
        todo.put((i, route, path))
    done = []

    def client():
        while time.monotonic() < deadline - 15:
            try:
                i, route, path = todo.get_nowait()
            except queue.Empty:
                return
            ok, start_ms, end_ms, latency = fetch(port, path, expected)
            done.append({"id": f"req-{i}", "route": route, "path": path, "ok": ok,
                         "start_ms": start_ms, "end_ms": end_ms, "latency_s": latency})

    t0, loop_start_ms = time.perf_counter(), time.time() * 1000
    clients = [threading.Thread(target=client) for _ in range(wl["clients"])]
    for c in clients:
        c.start()
    for c in clients:
        c.join()
    pass_s = time.perf_counter() - t0
    loop_end_ms = time.time() * 1000
    res = jvm.finish(deadline)

    keyed = [p for _, p in plan if p != "/api/network"]
    res.update(setup_s=setup, pass_s=pass_s, pass_start_ms=loop_start_ms,
               pass_end_ms=loop_end_ms, requests=done,
               op_ms=[r["latency_s"] * 1000 for r in done],
               inputs={"requests": len(plan),
                       "repeated_key_share": 1 - len(set(keyed)) / len(keyed)})
    failed = len(plan) - sum(r["ok"] for r in done) + warm_failed
    return res, len(plan) + len(warm), failed


# ---------------------------------------------------------------- tracing

def union_ms(spans):
    """Total length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(spans):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + (cur_e - cur_s if cur_e is not None else 0)


def layer_metrics(name, wl, res, names):
    """Per-layer metrics and the span tree from a traced run's records."""
    tr = res["trace"]
    lo, hi = res["pass_start_ms"], res["pass_end_ms"]
    jobs = [j for j in tr["jobs"] if j["end_ms"] >= 0 and lo <= j["start_ms"] <= hi]

    def total(counter):
        return sum(j["counters"].get(counter, 0) for j in jobs)

    m = dict.fromkeys(names, 0.0)
    m.update({
        "driver.gap_s": (hi - lo - union_ms((j["start_ms"], min(hi, j["end_ms"]))
                                            for j in jobs)) / 1000,
        "jobs.count": len(jobs), "tasks.count": total("tasks"),
        "executor.cpu_s": total("cpu_ns") / 1e9, "executor.run_s": total("run_ms") / 1000,
        "executor.gc_s": total("gc_ms") / 1000, "scan.input_mb": total("input_bytes") / MB,
        "shuffle.write_mb": total("shuffle_write_bytes") / MB,
        "shuffle.read_mb": total("shuffle_read_bytes") / MB,
        "shuffle.fetch_wait_s": total("fetch_wait_ms") / 1000,
        "spill.disk_mb": total("spill_disk_bytes") / MB,
        "spill.mem_mb": total("spill_mem_bytes") / MB,
        "storage.peak_mb": tr["storage_peak_bytes"] / MB,
        "storage.blocks_end": tr["storage_blocks_end"],
        "peak_rss_mb": res["peak_rss_mb"],
        "op.p50_ms": statistics.median(res["op_ms"]),
    })
    for j in jobs:
        key = f"module.{j['module']}.job_s"
        key = key if key in m else "module.other.job_s"
        m[key] += (j["end_ms"] - j["start_ms"]) / 1000
    batches = [b for b in tr["batches"] if lo <= b["start_ms"] <= hi]
    m["stream.batches"] = len(batches)
    m["stream.trigger_s"] = sum(b["end_ms"] - b["start_ms"] for b in batches) / 1000

    spans = []

    def span(label, id_, parent, start, end):
        spans.append({"span": len(spans), "name": label, "id": id_, "parent": parent,
                      "start_ms": start, "end_ms": end})
        return len(spans) - 1

    def job_span(j, id_, parent):
        span(f"job {j['id']} {j['module']}: {j['site']}", id_, parent,
             j["start_ms"], j["end_ms"])

    root = span("pass", name, None, lo, hi)
    if wl["kind"] == "api":
        reqs = res["requests"]
        for route in wl["route_mix"]:
            lat = [r["latency_s"] * 1000 for r in reqs if r["route"] == route]
            m[f"route.{route}.p50_ms"] = statistics.median(lat) if lat else 0.0
        m["api.jobs_per_req"] = len(jobs) / len(reqs)
        m["api.gap_ms_per_req"] = m["driver.gap_s"] * 1000 / len(reqs)
        req_span = {r["id"]: span("request " + r["path"], r["id"], root,
                                  r["start_ms"], r["end_ms"]) for r in reqs}
        for j in jobs:
            # The server handles one exchange at a time, in arrival order,
            # so a job belongs to the oldest request still open at its start.
            open_reqs = [r for r in reqs if r["start_ms"] <= j["start_ms"] <= r["end_ms"]]
            if open_reqs:
                owner = min(open_reqs, key=lambda r: r["start_ms"])["id"]
                job_span(j, owner, req_span[owner])
            else:
                job_span(j, None, root)
        return m, spans

    by_tag = {}
    for j in jobs:
        by_tag.setdefault(j["desc"], []).append(j)
    for q in res["queries"]:
        qid = f"{name}/{q['name']}"
        m["queries.build_s"] += q["build_s"]
        m["queries.action_s"] += q["action_s"]
        fam = f"fam.{re.match(r'[a-z]+', q['name']).group(0)}.wall_s"
        if fam in m:
            m[fam] += q["wall_s"]
        qs = span("query", qid, root, q["start_ms"], q["end_ms"])
        build_end = q["start_ms"] + q["build_s"] * 1000
        own = []
        for phase, start, end in (("build", q["start_ms"], build_end),
                                  ("action", build_end, q["end_ms"])):
            ps = span(phase, qid, qs, start, end)
            for j in by_tag.get(f"{qid}/{phase}", []):
                own.append((j["start_ms"], j["end_ms"]))
                job_span(j, qid, ps)
        for b in batches:
            if q["start_ms"] <= b["start_ms"] <= q["end_ms"]:
                span(f"stream batch {b['batch_id']}", qid, qs, b["start_ms"], b["end_ms"])
        if f"q.{q['name']}.gap_s" in m:
            m[f"q.{q['name']}.gap_s"] = q["wall_s"] - union_ms(own) / 1000
            m[f"q.{q['name']}.jobs"] = len(own)
    return m, spans


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    with open(os.path.join(HERE, "workloads.json")) as f:
        wl = json.load(f)["workloads"].get(args.workload)
    if wl is None:
        die(f"unknown workload {args.workload}")
    jars, flags, sf_dir = build_settings(root)
    cp = build(root, jars)
    deadline = time.monotonic() + RUN_LIMIT_S
    host = host_facts(args.seed)
    host.update(sf_dir=sf_dir, workload=args.workload)
    ctx = {"root": root, "flags": flags, "sf": sf_dir, "cp": cp, "host": host}
    run = run_api if wl["kind"] == "api" else run_batch

    # Untraced pass times of this build, the base of the tracing overhead.
    hist_path = os.path.join(root, BUILD, "classes", f"untraced-{args.workload}.json")
    history = json.load(open(hist_path)) if os.path.isfile(hist_path) else []
    if args.trace and not history:
        history.append(run(ctx, args.workload, wl, args.seed, 0, deadline)[0]["pass_s"])
    res, attempted, failed = run(ctx, args.workload, wl, args.seed, args.trace, deadline)
    host.update(master=res["master"], java=res["java_version"], heap_max_mb=res["heap_max_mb"])
    group = bench["per_layer" if args.trace else "end_to_end"]
    if args.trace:
        metrics, spans = layer_metrics(args.workload, wl, res, [m["name"] for m in group])
        metrics["trace.overhead"] = res["pass_s"] / statistics.median(history)
        os.makedirs(os.path.join(root, BUILD, "traces"), exist_ok=True)
        trace_file = os.path.join(root, BUILD, "traces", f"{args.workload}-seed{args.seed}.json")
        with open(trace_file, "w") as f:
            json.dump({"host": host, "inputs": res["inputs"], "metrics": metrics,
                       "spans": spans}, f)
    else:
        metrics = {"setup_s": res["setup_s"], "pass_s": res["pass_s"]}
        history.append(res["pass_s"])
    with open(hist_path, "w") as f:
        json.dump(history[-20:], f)
    print(json.dumps({"host": host, "inputs": res["inputs"]}))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
                    for m in group}}))


if __name__ == "__main__":
    try:
        main()
    finally:
        for jvm in list(Jvm.live):
            jvm.close(keep_log=True)
