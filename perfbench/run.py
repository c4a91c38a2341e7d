"""Lakehouse benchmark runner.

    python3 perfbench/run.py --workload lake_dml --seed 3 --seconds 12 --trace 0
    python3 perfbench/run.py --workload all --seed 3 --seconds 12

Run from the root of a source checkout. The first run compiles the
program (src/main/scala) and the benchmark client (perfbench/jvm) against
the Spark jars named by the build and packs them in one jar; later runs
reuse it while the sources are unchanged. Each run generates its seeded
inputs (perfbench/gen.py) into a fresh directory under .bench_runs/,
drives one closed-loop client in one JVM, checks the outputs, removes the
directory and prints one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 prints the end-to-end metrics, --trace 1 the per-layer ones
(perfbench/workloads.json describes both).
"""
import argparse
import fcntl
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import stats  # noqa: E402

SPEC = json.load(open(os.path.join(HERE, "workloads.json")))


def jvm_timeout(seconds):
    """Set-up and checks, plus the measured loop's hard deadline (six
    times --seconds, see perfbench.Main)."""
    return 100 + 6 * seconds


ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def spark_jars(root):
    """The jar directory the build compiles against: SPARK_HOME/jars, or
    the build's own `unmanagedBase` setting."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(root, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    fail("no Spark jars: set SPARK_HOME or run from a checkout whose build.sbt names them")


def sources(root):
    main = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(main):
        fail(f"no program sources under {main}: run from the root of a source checkout")
    out = []
    for base in (main, os.path.join(HERE, "jvm")):
        for d, _, fs in os.walk(base):
            out += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def java_opts(run_tmp):
    return [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] + [
        "-Xmx2g", "-Xss8m", f"-Djava.io.tmpdir={run_tmp}"]


def jvm_env():
    env = dict(os.environ)
    for k in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS", "SPARK_CONF_DIR", "JAVA_TOOL_OPTIONS"):
        env.pop(k, None)
    return env


def build(root, jars):
    """Compile and jar the program and the client unless the sources are
    unchanged since the last build. Returns the jar."""
    out = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(out, exist_ok=True)
    srcs = sources(root)
    h = hashlib.sha256()
    for f in srcs:
        h.update(f.encode())
        h.update(open(f, "rb").read())
    h.update(" ".join(sorted(os.listdir(jars))).encode())
    stamp = h.hexdigest()
    jar = os.path.join(out, "bench.jar")
    with open(os.path.join(out, ".lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp_file = os.path.join(out, "stamp")
        if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
            return jar
        t = time.time()
        classes = os.path.join(out, "classes")
        shutil.rmtree(classes, ignore_errors=True)
        os.makedirs(classes)
        for f in (jar, stamp_file):
            if os.path.exists(f):
                os.remove(f)
        cp = os.path.join(jars, "*")
        r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                            "-nowarn", "-d", classes, "-classpath", cp] + srcs,
                           capture_output=True, text=True)
        if r.returncode != 0:
            fail("compile failed:\n" + r.stdout[-4000:] + r.stderr[-4000:])
        jar_tool = shutil.which("jar") or os.path.join(os.environ.get("JAVA_HOME", ""), "bin", "jar")
        subprocess.run([jar_tool, "cf", jar, "-C", classes, "."], check=True)
        log(f"compiled {len(srcs)} sources in {time.time() - t:.0f} s")
        with open(stamp_file, "w") as f:
            f.write(stamp)
        return jar


def cpu_probe():
    """Fixed single-core work, timed: a contention check, never a scale."""
    t = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x += i * i
    return round(time.perf_counter() - t, 4)


def cpu_times():
    """The host's aggregate CPU time counters (user, nice, system, idle,
    iowait, irq, softirq, steal, ...), or None off Linux."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def contention():
    return {"load_avg_1m": round(os.getloadavg()[0], 2), "cpu_probe_s": cpu_probe()}


def steal_share(a, b):
    """Share of CPU time the hypervisor took from this machine between two
    cpu_times() readings."""
    if not a or not b or len(a) < 8:
        return None
    d = [y - x for x, y in zip(a, b)]
    return round(d[7] / sum(d), 4) if sum(d) else None


def disk_usage(root):
    """(bytes on disk counting each inode once, bytes of the live files of
    every table's current version)."""
    seen, total = set(), 0
    for d, _, fs in os.walk(root):
        for f in fs:
            st = os.lstat(os.path.join(d, f))
            if (st.st_dev, st.st_ino) not in seen:
                seen.add((st.st_dev, st.st_ino))
                total += st.st_size
    live_seen, live = set(), 0
    for d, _, fs in os.walk(root):
        if "CURRENT" in fs:
            v = open(os.path.join(d, "CURRENT")).read().strip().lstrip("v")
            for vd, _, vfs in os.walk(os.path.join(d, f"v{int(v)}")):
                for f in vfs:
                    st = os.lstat(os.path.join(vd, f))
                    if (st.st_dev, st.st_ino) not in live_seen:
                        live_seen.add((st.st_dev, st.st_ino))
                        live += st.st_size
    return total, live


def units_of(samples, spec):
    """The workload's units of work: each non-read op, or (feed_maintain)
    the non-read steps of one change round summed into one unit."""
    ops = [s for s in samples if not s["read"]]
    groups = {}
    for s in ops:
        # a traced run measures two passes over the same rounds
        groups.setdefault((s["traced"], s["group"] if spec["unit_group"] else s["id"]),
                          []).append(s)
    return [{"secs": sum((s["t1"] - s["t0"]) / 1e9 for s in g),
             "ok": all(s["ok"] for s in g), "rows": sum(s["rows"] for s in g),
             "traced": g[0]["traced"]}
            for g in groups.values()]


def e2e_metrics(res, spec, lake_bytes):
    units = units_of(res["samples"], spec)
    measured = res["measured_s"]
    total, live = lake_bytes
    setup = res["setup"]
    return {
        "setup_s": setup["session_s"] + setup["build_s"] + setup["warmup_s"],
        "latency_p50_s": stats.median([u["secs"] for u in units]),
        "ops_per_s": sum(1 for u in units if u["ok"]) / measured,
        "rows_per_s": sum(u["rows"] for u in units if u["ok"]) / measured,
        "space_amp": total / live if live else 1.0,
    }


def tails(res, spec):
    """Tail latencies of runs long enough to have ten samples beyond the
    tail at the workload's fixed sample count; None otherwise."""
    units = [u["secs"] for u in units_of(res["samples"], spec)]
    reads = [(s["t1"] - s["t0"]) / 1e9 for s in res["samples"] if s["read"]]
    out = {}
    for name, xs, n in (("latency_tail_s", units, spec["tail_samples"]),
                        ("read_latency_tail_s", reads, spec["read_tail_samples"])):
        out[name] = ({"value": stats.tail(xs, n), "level": stats.tail_level(n), "samples": len(xs)}
                     if len(xs) >= n else None)
    return out


# the traced run's stack-sampling interval (perfbench.Tracer.intervalNs)
SAMPLE_MS = 5.0
LAYERS = ("sources", "ops", "pipelines", "table", "ivm", "index", "plans", "exec", "driver")


def layer_metrics(res, spec, names):
    """Per-layer metrics of the traced units, each a median over units."""
    tr = res["trace"]
    ops = tr["ops"]
    writes = [o for o in ops if not o["read"]]
    keys = sorted({o["group"] if spec["unit_group"] else o["id"] for o in writes})
    units = []
    for k in keys:
        g = [o for o in writes if (o["group"] if spec["unit_group"] else o["id"]) == k]
        selfs = {}
        for o in g:
            for layer, ms in stats.self_times(o["spans"]).items():
                selfs[layer] = selfs.get(layer, 0.0) + ms
        counters = {c: sum(o["counters"][c] for o in g) for c in g[0]["counters"]}
        units.append({"ops": g, "wall": sum(o["wall_ms"] for o in g), "self": selfs,
                      "counters": counters})
    out = {}

    def med(name, xs):
        out[name] = stats.median(list(xs))

    for layer in LAYERS:
        med(f"{layer}.self_ms", (u["self"].get(layer, 0.0) for u in units))
    # the sampler's coverage: the op thread's stack samples against the
    # number its interval allows in the op's wall time
    med("trace.tick_ratio", (sum(o["ticks"] for o in u["ops"]) * SAMPLE_MS / u["wall"]
                             for u in units if u["wall"]))
    med("trace.sampled_share", (1 - u["self"].get("driver", 0.0) / u["wall"]
                                for u in units if u["wall"]))
    for c in ("sources.load_ms", "sources.scan_ms", "sources.bytes_read", "sources.files_read",
              "plans.analysis_ms", "plans.optimization_ms", "plans.planning_ms",
              "plans.actions_per_op", "exec.jobs", "exec.tasks", "exec.task_run_ms",
              "exec.task_cpu_ms", "exec.gc_ms", "exec.shuffle_write_bytes",
              "exec.spill_bytes", "driver.gap_ms"):
        med(c, (u["counters"][c] for u in units))
    med("exec.core_busy_ratio", (u["counters"]["exec.task_run_ms"] / (u["wall"] * res["cores"])
                                 for u in units if u["wall"]))
    for k in ("valid_ratio", "rejected_rows", "dropped_rows"):
        med(f"ops.{k}", (o["extra"][k] for o in writes if k in o["extra"]))
    for e in ("products", "orders", "order_items"):
        med(f"pipelines.entity_ms.{e}", (o["entities"][e] for o in writes
                                         if e in o["entities"]))
    med("pipelines.overlap", (sum(o["entities"].values()) / o["wall_ms"]
                              for o in writes if o["entities"]))
    # table layer, per write op
    med("table.jobs_per_write", (o["counters"]["table.jobs"] for o in writes))
    med("table.files_per_write", (o["fs"].get("files", 0.0) for o in writes))
    med("table.links_per_write", (o["fs"].get("links", 0.0) for o in writes))
    med("table.parts_rewritten_ratio", (o["fs"]["parts_rewritten_ratio"] for o in writes
                                        if o["fs"].get("parts_rewritten_ratio")))
    med("table.write_amp", (o["fs"].get("bytes_written", 0.0) / o["extra"]["source_bytes"]
                            for o in writes if o["extra"].get("source_bytes")))
    out["table.fs_entries"] = float(tr["fs_entries"])
    out["table.versions_retained"] = float(tr["versions_retained"])
    out["driver.peak_rss_mb"] = res["peak_rss_kb"] / 1024.0
    # change-feed consumers, per maintainer call and per round
    for k, name in (("maintain_sum", "ivm.maintain_ms.sum"),
                    ("maintain_minmax", "ivm.maintain_ms.minmax"),
                    ("maintain_join", "ivm.maintain_ms.join"),
                    ("maintain_dedup", "index.maintain_ms.dedup"),
                    ("maintain_ann", "index.maintain_ms.ann")):
        med(name, (o["wall_ms"] for o in ops if o["kind"] == k))
    rounds = [u for u in units if any(o["kind"].startswith("commit") for o in u["ops"])]
    for layer in ("ivm", "index"):
        med(f"{layer}.jobs_per_round", (u["counters"][f"{layer}.jobs"] for u in rounds))
        med(f"{layer}.rows_read_per_change",
            (u["counters"][f"{layer}.rows_read"] /
             sum(o["rows"] for o in u["ops"] if o["kind"].startswith("commit"))
             for u in rounds))
    # overhead: the run's traced units against its untraced ones, which
    # alternate in pairs over the same run
    plain = [u["secs"] for u in units_of(res["samples"], spec) if not u["traced"]]
    traced = [u["secs"] for u in units_of(res["samples"], spec) if u["traced"]]
    out["trace.overhead_ratio"] = (stats.median(traced) / stats.median(plain)
                                   if traced and plain else 1.0)
    out["failed_ratio"] = (sum(1 for s in res["samples"] if not s["ok"]) /
                           max(1, len(res["samples"])))
    return {k: out.get(k, 0.0) for k in names}


def run_one(root, workload, seed, seconds, trace, jar, jars, bench):
    spec = SPEC["workloads"][workload]
    run = os.path.join(root, ".bench_runs", f"{workload}-{seed}-{uuid.uuid4().hex[:8]}")
    try:
        inputs = os.path.join(run, "inputs")
        gen.generate(workload, seed, inputs)
        os.makedirs(os.path.join(run, "tmp"))
        before, times0 = contention(), cpu_times()
        cores = min(4, os.cpu_count() or 1)
        cmd = (["java"] + java_opts(os.path.join(run, "tmp")) +
               ["-cp", jar + ":" + os.path.join(jars, "*"), "perfbench.Main",
                "--workload", workload, "--inputs", inputs, "--run", run,
                "--seconds", str(seconds), "--trace", "1" if trace else "0", "--cores", str(cores),
                "--out", os.path.join(run, "result.json")])
        err_path = os.path.join(run, "jvm.log")
        with open(err_path, "w") as err:
            p = subprocess.Popen(cmd, stdout=err, stderr=subprocess.STDOUT, env=jvm_env(),
                                 cwd=run)
            try:
                rc = p.wait(timeout=jvm_timeout(seconds))
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                rc = "timeout"
        if rc != 0:
            tail_log = open(err_path, errors="replace").read()[-6000:]
            fail(f"{workload} JVM exited with {rc}:\n{tail_log}")
        res = json.load(open(os.path.join(run, "result.json")))
        after, times1 = contention(), cpu_times()
        lake_bytes = disk_usage(res["lake_root"])
        samples = res["samples"]
        failed = sum(1 for s in samples if not s["ok"])
        checks_ok = all(c["ok"] for c in res["checks"])
        for c in res["checks"]:
            if not c["ok"]:
                log(f"check {c['name']} FAILED: {c['detail']}")
        if trace:
            values = layer_metrics(res, spec, [m["name"] for m in bench["per_layer"]])
            units = {m["name"]: m["unit"] for m in bench["per_layer"]}
        else:
            values = e2e_metrics(res, spec, lake_bytes)
            units = {m["name"]: m["unit"] for m in bench["end_to_end"]}
        summary = {
            "workload": workload, "seed": seed, "held_out_seed": gen.HELD_OUT_SEED,
            "measured_s": round(res["measured_s"], 3), "units": sum(1 for s in samples
                                                                    if not s["read"]),
            "reads": sum(1 for s in samples if s["read"]),
            "inputs_exhausted": res["inputs_exhausted"],
            "unit_latencies_s": [round(u["secs"], 3) for u in units_of(samples, spec)],
            "read_latency_p50_s": stats.median([(s["t1"] - s["t0"]) / 1e9
                                                for s in samples if s["read"]]),
            "tails": tails(res, spec),
            "contention": {"steal_share": steal_share(times0, times1), "start": before,
                           "end": after, "jvm_load_avg": res["load_avg"]},
            "checks": res["checks"],
        }
        return {"correct": checks_ok and failed == 0, "attempted": len(samples),
                "failed": failed,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()}}, summary
    finally:
        shutil.rmtree(run, ignore_errors=True)


def main(argv):
    ap = argparse.ArgumentParser(description="lakehouse benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    root = os.getcwd()
    bench_file = os.path.join(root, "BENCHMARK.json")
    if not os.path.exists(bench_file):
        fail("run from the repository root (no BENCHMARK.json here)")
    bench = json.load(open(bench_file))
    # `all` runs the workloads the benchmark contract lists; any workload
    # of workloads.json runs by name
    wanted = [w["name"] for w in bench["workloads"]] if a.workload == "all" else [a.workload]
    if any(w not in SPEC["workloads"] for w in wanted):
        fail(f"unknown workload {a.workload}; have {', '.join(SPEC['workloads'])}")
    jars = spark_jars(root)
    jar = build(root, jars)
    results = []
    for w in wanted:
        res, summary = run_one(root, w, a.seed, a.seconds, a.trace == 1, jar, jars, bench)
        print(json.dumps({"summary": summary}))
        if a.workload == "all":
            print(json.dumps({"workload": w, **res}))
        results.append((w, res))
    if a.workload == "all":
        res = {"correct": all(r["correct"] for _, r in results),
               "attempted": sum(r["attempted"] for _, r in results),
               "failed": sum(r["failed"] for _, r in results),
               "metrics": {f"{w}.{k}": v for w, r in results for k, v in r["metrics"].items()}}
    else:
        res = results[0][1]
    print(json.dumps(res), flush=True)


if __name__ == "__main__":
    main(sys.argv[1:])
