#!/usr/bin/env python3
"""graft benchmark: one command, three closed-loop workloads.

Run from the root of a graft checkout:

    python3 perfbench/run.py --workload ts_read --seed 1 --seconds 10 --trace 0

Builds the library and the benchmark with sbt on first use (the build is
reused while no source file changes), runs one workload in a fresh JVM
and prints, as the last line of standard output, one JSON object with
the keys correct, attempted, failed and metrics. --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer ones. The line before it
holds the workload's detail figures and the host calibration labels.
A traced run leaves its spans in .bench_build/traces/. Optional: --ops N
runs exactly N ops, all traced. sql_pipeline needs --data DIR, the
directory of graft's sf0.1 test tables; --pin-out FILE records its
results instead of checking them.

See perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("ts_read", "ts_ingest", "sql_pipeline")
BUILD = ".bench_build"
# A run ends within 180 s of its start, or within 900 s when it builds;
# the JVM gets what is left of that after the build, less this margin
# for the closing calibration and clean-up.
LIMIT_S, LIMIT_BUILD_S, CLOSE_S = 180, 900, 8
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp(root):
    """Hash of every file the build reads, so a reused build is current."""
    h = hashlib.sha256()
    tops = ["build.sbt", "project", "src/main",
            "perfbench/build.sbt", "perfbench/project", "perfbench/src/main"]
    for top in tops:
        p = os.path.join(root, top)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, ds, fs in os.walk(p)
            for f in fs if "target" not in d.split(os.sep)
            and os.sep + "project" + os.sep + "project" not in d)
        for f in files:
            h.update(f[len(root):].encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root):
    """sbt build of library + benchmark; returns the runtime classpath
    and whether this call built it."""
    os.makedirs(os.path.join(root, BUILD), exist_ok=True)
    stamp_file = os.path.join(root, BUILD, "classpath.json")
    stamp = source_stamp(root)
    if os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            saved = json.load(fh)
        if saved.get("stamp") == stamp:
            return saved["classpath"], False
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    t0 = time.time()
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "export Runtime/fullClasspath"],
        cwd=os.path.join(root, "perfbench"), env=env,
        stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
        stdin=subprocess.DEVNULL)
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    if out.returncode != 0 or not lines or "[" in lines[-1][:1]:
        sys.stderr.write(out.stdout[-4000:])
        fail(f"build failed (sbt exit {out.returncode})")
    cp = lines[-1].strip()
    with open(stamp_file, "w") as fh:
        json.dump({"stamp": stamp, "classpath": cp}, fh)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cp, True


def java_cmd(cp, work, *args):
    return [
        "java", "-cp", cp,
        *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
        "-Xmx3g", "-XX:ReservedCodeCacheSize=512m",
        # keep every file the JVM writes inside the checkout
        "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "graft.perfbench.Main", "--work", work, *args]


def run_jvm(cmd, timeout):
    """Run one JVM in its own process group; returns (exit code, stdout).
    The group is killed if the JVM overruns or this process is stopped."""
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL, text=True,
                            start_new_session=True)

    def stop(signum, _frame):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(128 + signum)
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, stop)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        fail(f"JVM did not finish within {timeout} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    return proc.returncode, out


def calib_cpu():
    """Fixed single-thread integer loop; seconds it takes."""
    t0 = time.perf_counter()
    x = 0
    for i in range(3_000_000):
        x = (x * 31 + i) & 0xFFFFFFFF
    return time.perf_counter() - t0


def calib_io(path):
    """Fixed 64 MB write with fsync; seconds it takes."""
    block = b"\xa5" * (1 << 20)
    t0 = time.perf_counter()
    with open(path, "wb") as fh:
        for _ in range(64):
            fh.write(block)
        fh.flush()
        os.fsync(fh.fileno())
    dt = time.perf_counter() - t0
    os.remove(path)
    return dt


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--ops", type=int)
    ap.add_argument("--data", help="sql_pipeline: directory of graft's "
                    "sf0.1 test tables (<table>.parquet)")
    ap.add_argument("--pin-out", help="record sql_pipeline's results here "
                    "instead of checking them against sql_pins.tsv")
    a = ap.parse_args()
    t_start = time.monotonic()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala"))):
        fail("run from the root of a graft checkout (no library source here)")
    data = ""
    if a.workload == "sql_pipeline":
        if not (a.data and os.path.isfile(
                os.path.join(a.data, "lineitem.parquet"))):
            fail("sql_pipeline needs --data, a directory of graft's sf0.1 "
                 "test tables")
        data = os.path.abspath(a.data)
    cp, built = build(root)

    work = os.path.join(root, BUILD,
                        f"work-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    calib = {"cpu": [calib_cpu()],
             "io": [calib_io(os.path.join(work, "calib"))]}

    spans = os.path.join(root, BUILD, "traces",
                         f"spans-{a.workload}-{a.seed}.jsonl")
    os.makedirs(os.path.dirname(spans), exist_ok=True)
    cmd = java_cmd(
        cp, work, "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--data", data, "--pins", os.path.join(HERE, "sql_pins.tsv"),
        "--spans", spans,
        *(["--ops", str(a.ops)] if a.ops else []),
        *(["--pin-out", os.path.abspath(a.pin_out)] if a.pin_out else []))
    limit = LIMIT_BUILD_S if built else LIMIT_S
    code, out = run_jvm(cmd, limit - CLOSE_S - (time.monotonic() - t_start))

    calib["cpu"].append(calib_cpu())
    calib["io"].append(calib_io(os.path.join(work, "calib")))
    labels = {"host.calib_cpu_s": max(calib["cpu"]),
              "host.calib_io_s": max(calib["io"])}

    lines = [l for l in out.splitlines() if l.startswith("{")]
    if len(lines) < 2:
        sys.stderr.write(out[-4000:])
        fail(f"{a.workload} exited {code} without a result")
    detail, result = json.loads(lines[-2]), json.loads(lines[-1])
    for k, v in labels.items():
        detail["detail"][k] = {"value": v, "unit": "s"}
        if a.trace:
            result["metrics"][k] = {"value": v, "unit": "s"}
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(detail))
    print(json.dumps(result))
    sys.exit(0 if code == 0 and result["correct"] else 1)


if __name__ == "__main__":
    main()
