"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload build-ood --seed 1 --seconds 12 --trace 0

Builds the program and the driver from source on first use (build.py),
runs graft.bench.Main in a fresh JVM on local[<all cores but one>], reduces its raw
record (metrics.py) and prints, as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 prints the end-to-end metrics; --trace 1 runs with the
benchmark-side Spark listener and prints the per-layer metrics, and writes
spans and the per-layer detail to .bench_build/trace/. Everything else the
program and Spark write goes to stderr. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("build-ood", "search-mixed")
BUILDER_SOURCE = os.path.join(build.ROOT, "src", "main", "scala", "graft", "build",
                              "RoarGraphBuilder.scala")
JAVA_TIMEOUT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--tiny", action="store_true",
                    help="smoke-test sizes (used by the benchmark's own tests)")
    return ap.parse_args(argv)


def run_driver(args, work, out):
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-Xss8m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", build.runtime_classpath(), "graft.bench.Main",
              args.workload, str(args.seed), str(args.seconds), str(args.trace),
              out, work] + (["tiny"] if args.tiny else []))
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr,
                            cwd=work, start_new_session=True)
    try:
        return proc.wait(timeout=JAVA_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"driver exceeded {JAVA_TIMEOUT_S} s; killed", file=sys.stderr)
        return -1
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def result(raw, trace, builder_source):
    checks = raw["checks"]
    failed = sum(1 for c in checks if not c["ok"])
    if trace:
        m, detail = metrics.per_layer(raw, builder_source)
    else:
        m, detail = metrics.end_to_end(raw), None
    line = {
        "correct": failed == 0,
        "attempted": len(raw["calls"]) + len(checks),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in m.items()},
    }
    return line, detail


def main(argv):
    args = parse_args(argv)
    if not os.path.isfile(BUILDER_SOURCE):
        print("program sources not found next to the benchmark "
              f"(expected {os.path.relpath(BUILDER_SOURCE, build.ROOT)})", file=sys.stderr)
        return 2
    try:
        build.build()
    except (RuntimeError, OSError, subprocess.SubprocessError) as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 1
    work = os.path.join(build.OUT, f"run-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    out = os.path.join(work, "raw.json")
    prev = signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        t0 = time.time()
        code = run_driver(args, work, out)
        if code != 0 or not os.path.exists(out):
            print(f"driver failed (exit {code})", file=sys.stderr)
            return 1
        with open(out) as fh:
            raw = json.load(fh)
        with open(BUILDER_SOURCE) as fh:
            line, detail = result(raw, args.trace, fh.read())
        # the two eval sets walk the graph differently: the beam width each
        # needs for recall 0.90 shows it (recorded, not gated)
        l90 = {kind: metrics.l_at_recall(
            [(p["l"], p["recall"]) for p in raw["sweep"]
             if p["tier"] == "scan" and p["kind"] == kind], 0.90)
            for kind in ("ood", "id")}
        print(f"beam width for recall 0.90: OOD {l90['ood']}, ID {l90['id']}", file=sys.stderr)
        if args.trace:
            tdir = os.path.join(build.OUT, "trace")
            os.makedirs(tdir, exist_ok=True)
            path = os.path.join(tdir, f"{args.workload}-seed{args.seed}.json")
            with open(path, "w") as fh:
                json.dump({"layers": detail, "l_at_recall_0.90": l90,
                           "spans": raw["spans"], "sweep": raw["sweep"],
                           "checks": raw["checks"], "calls": raw["calls"]}, fh)
            print(f"trace written to {os.path.relpath(path, build.ROOT)}", file=sys.stderr)
        walls = {}
        for c in raw["calls"]:
            walls[c["layer"]] = walls.get(c["layer"], 0.0) + c["wall_s"]
        print("wall by layer: " + ", ".join(f"{k} {v:.2f} s" for k, v in walls.items())
              + f"; session {raw['session_s']:.2f} s, setup reps "
              + ", ".join(f"{x:.2f}" for x in raw["setup_reps_s"])
              + f", warm-up {raw['warmup_s']:.2f} s, driver {raw['driver_s']:.2f} s", file=sys.stderr)
        for layer in ("roargraph.build", "knnjoin.exact"):
            print(f"{layer} walls (warm-up | timed): " + " ".join(
                f"{c['wall_s']:.2f}" + (" |" if c.get("warmup") else "")
                for c in raw["calls"] if c["layer"] == layer), file=sys.stderr)
        for tier in ("memory", "bsp"):
            for kind in ("ood", "id"):
                pts = metrics.sweep_points(raw["sweep"], tier, kind)
                if pts:
                    print(f"{tier} {kind}: " + " ".join(
                        f"L{l}:{r:.3f}@{q:.0f}/s" for l, r, q in pts), file=sys.stderr)
        for c in raw["checks"]:
            if not c["ok"]:
                print(f"check failed: {c['name']} {c['detail']}", file=sys.stderr)
        print(f"{args.workload} seed {args.seed}: {time.time() - t0:.1f} s", file=sys.stderr)
        sys.stdout.write(json.dumps(line) + "\n")
        sys.stdout.flush()
        return 0
    finally:
        signal.signal(signal.SIGTERM, prev)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
