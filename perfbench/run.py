#!/usr/bin/env python3
"""Benchmark launcher: builds the engine, makes a workload's inputs from the
seed, runs it in one JVM and prints the result as one JSON line.

    python3 perfbench/run.py --workload <ingest|queries-short>
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The engine and the harness under
`perfbench/scala` are compiled with the Scala compiler that ships in the
Spark jar directory `build.sbt` names, into `$CARGO_TARGET_DIR` (default
`.bench_build`), once per source hash, and reused by later runs. The input
tables are the project's sf0.1 tables, copied under `perfbench/data`. See
perfbench/README.md for the workloads and metrics.
"""
import argparse
import datetime as dt
import hashlib
import json
import os
import random
import re
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
SOURCES = ["src/main/scala", os.path.join(HERE, "scala")]
RESOURCES = "src/main/resources"
DATA = os.path.join(HERE, "data", "sf0.1")
HEAP = "3g"
JVM_TIMEOUT_S = 170
WARM_EVENTS = 6
KOLKATA = dt.timezone(dt.timedelta(hours=5, minutes=30))
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]

def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def scala_files():
    out = []
    for root in SOURCES:
        for d, _, fs in os.walk(root):
            out += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def digest_files(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def spark_jars():
    """The Spark jar directory that build.sbt names as `unmanagedBase`."""
    try:
        with open("build.sbt") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m or not os.path.isdir(m.group(1)):
        fail("no Spark jar directory from build.sbt: run from a checkout root")
    return m.group(1)


def build(build_dir):
    """Compile engine + harness once per source hash; return the class dir."""
    files = scala_files()
    if not os.path.isdir("src/main/scala") or not files:
        fail("no engine sources under src/main/scala: run from a checkout root")
    jars = spark_jars()
    out = os.path.join(build_dir, "classes-" + digest_files(files))
    if os.path.isdir(out):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(files))
    print(f"perfbench: compiling {len(files)} Scala files", file=sys.stderr)
    r = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", f"{jars}/*",
         "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", f"{jars}/*",
         "@" + argfile],
        stdout=sys.stderr, stderr=sys.stderr, timeout=800)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail("compilation failed")
    os.remove(argfile)
    if os.path.isdir(RESOURCES):
        shutil.copytree(RESOURCES, tmp, dirs_exist_ok=True)
    os.rename(tmp, out)
    return out


def java_cmd(classes, main, *args, tmp=None):
    """The JVM command line for a harness main class, with the engine's
    forked-run options (Spark on JDK 17 needs the add-opens set)."""
    return (["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}"]
            + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
            + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
               "-Dspark.sql.codegen.cache.maxEntries=5000"]
            + ([f"-Djava.io.tmpdir={tmp}"] if tmp else [])
            + ["-cp", f"{classes}:{spark_jars()}/*", main, *args])


def read_list(name):
    with open(os.path.join(HERE, name)) as f:
        return [l.split("#")[0].strip() for l in f if l.split("#")[0].strip()]


def query_inputs(run, rng):
    names = read_list("queries_short.txt")
    with open(os.path.join(HERE, "digests.json")) as f:
        pinned = json.load(f)
    missing = [n for n in names if n not in pinned]
    if missing:
        fail(f"no pinned digest for {missing}")
    rng.shuffle(names)
    with open(os.path.join(run, "order.txt"), "w") as f:
        f.write("\n".join(names) + "\n")
    with open(os.path.join(run, "expected.tsv"), "w") as f:
        f.write("".join(f"{n}\t{pinned[n]}\n" for n in names))


def api_body(rng):
    """One OpenWeather current-weather response body."""
    temp = round(rng.uniform(285.0, 310.0), 2)
    body = {
        "coord": {"lon": 87.07, "lat": 23.23},
        "weather": [] if rng.random() < 0.1 else [
            {"id": rng.choice([500, 800, 801, 802]),
             "main": rng.choice(["Rain", "Clear", "Clouds"]),
             "description": rng.choice(["light rain", "clear sky", "few clouds"])}],
        "base": "stations",
        "main": {"temp": temp, "feels_like": round(temp + rng.uniform(-3, 3), 2),
                 "temp_min": round(temp - rng.uniform(0, 2), 2),
                 "temp_max": round(temp + rng.uniform(0, 2), 2),
                 "pressure": rng.randint(995, 1020), "humidity": rng.randint(20, 100),
                 "sea_level": rng.randint(995, 1020)},
        "visibility": rng.choice([6000, 8000, 10000]),
        "wind": {"speed": round(rng.uniform(0, 9), 2), "deg": rng.randint(0, 359)},
        "clouds": {"all": rng.randint(0, 100)},
        "sys": {"country": "IN", "sunrise": 1700000000 + rng.randint(0, 999),
                "sunset": 1700040000 + rng.randint(0, 999)},
        "timezone": 19800, "id": 1277333, "name": "Bankura", "cod": 200}
    if rng.random() < 0.7:
        body["main"]["grnd_level"] = rng.randint(990, 1015)
    if rng.random() < 0.5:
        body["wind"]["gust"] = round(rng.uniform(0, 15), 2)
    if rng.random() < 0.3:
        body["rain"] = {"1h": round(rng.uniform(0, 5), 2)}
    return body


def ingest_inputs(run, rng, n_events=300):
    """Hourly readings in Asia/Kolkata time. The 14 days before the start
    day and its first 21 hours prefill the raw table. Events run hourly from
    21:00; the first WARM_EVENTS of them are untimed and cross midnight.
    The timed events resume at 22:00 that next day (a gap in the feed), so
    every run's third timed event starts a new day."""
    start = dt.date(2024, 1, 1) + dt.timedelta(days=rng.randrange(365))
    stamp = lambda d, h: dt.datetime.combine(d, dt.time(h, rng.randrange(60), rng.randrange(60)))
    till = {}
    with open(os.path.join(run, "prefill.ndjson"), "w") as f:
        for k in range(14, -1, -1):
            day = start - dt.timedelta(days=k)
            for h in range(24 if k else 21):
                t = stamp(day, h)
                b = api_body(rng)
                b["dt0"], b["ct0"] = day.isoformat(), t.strftime("%H:%M:%S")
                till[day] = max(till.get(day, ""), b["ct0"])
                f.write(json.dumps(b) + "\n")
    with open(os.path.join(run, "events.tsv"), "w") as f:
        for k in range(n_events):
            hours = 21 + k if k < WARM_EVENTS else 46 + k - WARM_EVENTS
            t = stamp(start + dt.timedelta(days=hours // 24), hours % 24)
            day, ct = t.date(), t.strftime("%H:%M:%S")
            till[day] = max(till.get(day, ""), ct)
            shown = "EOD" if till[day] > "23:00:00" else till[day]
            utc_ms = int(t.replace(tzinfo=KOLKATA).timestamp() * 1000)
            f.write(f"{utc_ms}\t{day.isoformat()}\t{shown}\t{json.dumps(api_body(rng))}\n")


def steal_s():
    """CPU time the hypervisor gave to other guests, all CPUs (/proc/stat)."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def quantile(xs, q):
    return statistics.quantiles(xs, n=100, method="inclusive")[q - 1] if len(xs) > 1 else xs[0]


def main():
    launch = time.time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["ingest", "queries-short"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--inject-fault", action="store_true",
                    help="corrupt one result, to prove the checks catch it")
    a = ap.parse_args()

    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    classes = build(build_dir)
    if not os.path.isdir(DATA):
        fail(f"no input tables under {DATA}")
    run = os.path.join(build_dir, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run, ignore_errors=True)
    os.makedirs(os.path.join(run, "tmp"))
    rng = random.Random(f"{a.workload}/{a.seed}")
    if a.workload == "ingest":
        ingest_inputs(run, rng)
    else:
        query_inputs(run, rng)
    cpus = len(os.sched_getaffinity(0))
    with open(os.path.join(run, "params.properties"), "w") as f:
        f.write(f"workload={a.workload}\nseconds={a.seconds}\ntrace={a.trace}\n"
                f"data_dir={DATA}\ncpus={cpus}\nwarm_events={WARM_EVENTS}\n"
                f"inject={int(a.inject_fault)}\nlaunch_ms={int(time.time() * 1000)}\n")
    steal0 = steal_s()
    cmd = java_cmd(classes, "graft.perfbench.PerfBench", run,
                   tmp=os.path.join(run, "tmp"))
    with open(os.path.join(run, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(10, JVM_TIMEOUT_S - (time.time() - launch)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"JVM timed out; log in {run}/jvm.log")
    steal = steal_s() - steal0
    for bulky in ("ingest", "tmp", "warehouse"):
        shutil.rmtree(os.path.join(run, bulky), ignore_errors=True)
    if rc != 0 or not os.path.exists(os.path.join(run, "metrics.properties")):
        fail(f"JVM exited with {rc}; log in {run}/jvm.log")

    m, machine = {}, {}
    with open(os.path.join(run, "metrics.properties")) as f:
        for line in f:
            k, _, v = line.rstrip("\n").partition("=")
            if k in ("loadavg_before", "loadavg_after", "master", "nproc"):
                machine[k] = v
            else:
                m[k] = float(v)
    with open(os.path.join(run, "samples.tsv")) as f:
        samples = [l.split("\t") for l in f.read().split("\n") if l]
    lat = [float(s[0]) for s in samples]
    n, failed = len(lat), int(m["failed"])
    if n == 0:
        fail("no operation completed")
    p90 = quantile(lat, 90)
    half = max(1, n // 2)
    e2e = {"setup_s": m["setup_s"], "throughput_ops_s": n / m["window_s"],
           "latency_p50_s": quantile(lat, 50), "latency_p90_s": p90,
           "cpu_s_per_op": m["cpu_s"] / n, "peak_rss_mb": m["machine.peak_rss_mb"]}
    report = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "samples": n, "samples_beyond_p90": sum(1 for x in lat if x > p90),
        "drift_first_half_p50_s": statistics.median(lat[:half]),
        "drift_second_half_p50_s": statistics.median(lat[half:] or lat),
        "setup_split_s": {k[6:]: m[k] for k in ("setup.launch_s", "setup.session_s",
                                                 "setup.workload_s")},
        "cpu_anchor_s": m["machine.cpu_anchor_s"], "heap_max_mb": m["machine.heap_max_mb"],
        "nproc": machine.get("nproc"), "master": machine.get("master"),
        "loadavg_before": machine.get("loadavg_before"),
        "loadavg_after": machine.get("loadavg_after"), "steal_s": round(steal, 2),
        "run_dir": run}
    values = dict(m, fail_frac=failed / n) if a.trace else e2e
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer" if a.trace else "end_to_end"]
    missing = [x["name"] for x in spec if x["name"] not in values]
    if missing:
        fail(f"the run did not measure {missing}")
    metrics = {x["name"]: {"value": values[x["name"]], "unit": x["unit"]} for x in spec}
    with open(os.path.join(run, "result.json"), "w") as f:
        json.dump({"report": report, "end_to_end": e2e, "raw": m}, f, indent=1)
    print(json.dumps({"report": report}))
    print(json.dumps({"correct": failed == 0, "attempted": n, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
