#!/usr/bin/env python3
"""WireBench: drive the pg-wire server over loopback like real clients.

Run from the root of a checkout:

    python3 perfbench/run.py --workload point --seed 1 --seconds 12 --trace 0

Builds the server and the bench from source (build.py: scalac, no sbt), generates
the sf0.1-sized tables and the expected results once, starts the server
the way graft.Cli does, warms it up, runs one closed-loop workload sized
by --seconds and checks every result. The last stdout line is one JSON
object: {"correct", "attempted", "failed", "metrics": {name: {"value",
"unit"}}}, with the end-to-end metrics of BENCHMARK.json for --trace 0
and its per-layer metrics for --trace 1 (an in-process replay; see
perfbench/README.md). Exits 1 when an output check fails, 2 when the
run could not be made.
"""
import argparse
import glob
import json
import os
import select
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # importing build must leave no __pycache__ behind
from build import BenchError, build, build_dir, log, sources, spark_jars  # noqa: E402

GEN_VERSION = "1"
WORKLOADS = ("point", "bulk", "write")
RUN_BUDGET_S = 170
SERVER_HEAP = "2g"
LOADGEN_HEAP = "768m"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def java_cmd(classes, jars, heap, tmpdir, props=()):
    # a fixed heap keeps the collector's sizing, and with it the timings
    # and the peak RSS, the same from run to run
    return (["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmpdir}"]
            + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
            + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + [f"-D{k}={v}" for k, v in props]
            + ["-cp", classes + os.pathsep + os.path.join(jars, "*")])


def prepare(out, classes, jars, main, *args):
    """Run a one-off Spark main that fills directory `out`, once."""
    if os.path.exists(os.path.join(out, "DONE")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    work = tmp + ".work"
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(tmp)
    os.makedirs(work)
    log(f"running {main}")
    props = [("spark.sql.warehouse.dir", os.path.join(work, "wh")),
             ("spark.local.dir", work)]
    try:
        r = subprocess.run(java_cmd(classes, jars, "2g", work, props) + [main, *args, tmp],
                           cwd=work, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True, timeout=600)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if r.returncode != 0:
        raise BenchError(f"{main} failed:\n" + r.stdout[-4000:])
    open(os.path.join(tmp, "DONE"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


def drop_stale(pattern, keep):
    for d in glob.glob(pattern):
        if d != keep:
            shutil.rmtree(d, ignore_errors=True)


class Proc:
    """A child JVM spoken to over stdin/stdout lines prefixed 'WB '."""

    def __init__(self, cmd, logpath, cwd):
        self.log = open(logpath, "w")
        self.p = subprocess.Popen(cmd, cwd=cwd, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                                  stderr=self.log, text=True, bufsize=1)

    def expect(self, prefix, deadline):
        while True:
            left = deadline - time.monotonic()
            if left <= 0:
                raise BenchError(f"timed out waiting for {prefix}")
            ready, _, _ = select.select([self.p.stdout], [], [], left)
            if not ready:
                continue
            line = self.p.stdout.readline()
            if not line:
                raise BenchError(f"process exited while waiting for {prefix} (see {self.log.name})")
            if line.startswith("WB "):
                body = line[3:].rstrip("\n")
                if not body.startswith(prefix):
                    raise BenchError(f"expected {prefix}, got {body[:200]}")
                return body[len(prefix):].strip()

    def send(self, *fields):
        self.p.stdin.write("\t".join(str(f) for f in fields) + "\n")
        self.p.stdin.flush()

    def stop(self):
        """Kill the child (its state is thrown away) and wait for it."""
        if self.p.poll() is None:
            self.p.kill()
        self.p.wait()
        self.log.close()


def peak_rss_mb(pid):
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise BenchError("no VmHWM in /proc")


def run(args, root):
    cores = nproc()
    conns = min(4, cores) if args.workload == "point" else 1
    master = f"local[{min(4, cores)}]"
    sources(root)  # fails early, writing nothing, outside a full checkout
    jars = spark_jars(root)
    bdir = build_dir(root)
    os.makedirs(bdir, exist_ok=True)
    classes, stamp = build(root, bdir, jars)
    data = prepare(os.path.join(bdir, f"data-v{GEN_VERSION}"), classes, jars,
                   "graft.wirebench.GenData")
    # expected results of the read workloads: once per build, in a
    # process of their own, so no timed server ever computes them
    expected = prepare(os.path.join(bdir, f"expect-{stamp[:16]}-v{GEN_VERSION}"), classes, jars,
                       "graft.wirebench.Expect", data)
    drop_stale(os.path.join(bdir, "expect-*"), expected)

    log("prepared")
    # the build and the one-off preparation are not part of a run's budget
    deadline = time.monotonic() + RUN_BUDGET_S
    load_start = os.getloadavg()
    rdir = os.path.join(bdir, "runs", str(os.getpid()))
    shutil.rmtree(rdir, ignore_errors=True)
    for sub in ("tmp", "wh", "local"):
        os.makedirs(os.path.join(rdir, sub))
    props = [("spark.sql.warehouse.dir", os.path.join(rdir, "wh")),
             ("spark.local.dir", os.path.join(rdir, "local"))]
    tmp = os.path.join(rdir, "tmp")
    procs = []
    try:
        # set-up: server launch (Spark session, table registration,
        # PgServer.start) until the load generator's warm-up is done
        t0 = time.monotonic()
        # the heap is touched up front, so the peak RSS does not depend
        # on how far a run's allocations happened to spread over it
        server = Proc(java_cmd(classes, jars, SERVER_HEAP, tmp, props)
                      + ["-XX:+AlwaysPreTouch", "graft.wirebench.BenchServer", data, master],
                      os.path.join(rdir, "server.log"), rdir)
        procs.append(server)
        loadgen = Proc(java_cmd(classes, jars, LOADGEN_HEAP, tmp)
                       + ["graft.wirebench.LoadGen", "--workload", args.workload,
                          "--seed", str(args.seed), "--conns", str(conns)],
                       os.path.join(rdir, "loadgen.log"), rdir)
        procs.append(loadgen)
        port = server.expect("READY", deadline)
        t_ready = time.monotonic() - t0
        loadgen.expect("HELLO", deadline)
        loadgen.send("PORT", port)
        loadgen.expect("WARM", deadline)
        setup_s = time.monotonic() - t0
        log(f"server ready after {t_ready:.2f} s, warm after {setup_s:.2f} s")

        if args.workload == "write":
            expect_file = os.path.join(rdir, "expect.tsv")
            server.send("expect", "write", expect_file)
            server.expect("OK", deadline)
        else:
            expect_file = os.path.join(expected, f"{args.workload}.tsv")
        replay_file = os.path.join(rdir, "replay.tsv")
        server.send("gc")
        gc0 = float(server.expect("", deadline))
        loadgen.send("GO", expect_file, args.seconds, replay_file, args.trace)
        log("timed run started")
        res = json.loads(loadgen.expect("RESULT", deadline))
        log("timed run done")
        server.send("gc")
        gc1 = float(server.expect("", deadline))
        rss = peak_rss_mb(server.p.pid)
        trace = None
        if args.trace:
            spans = os.path.join(bdir, "spans", f"{args.workload}-seed{args.seed}.jsonl")
            os.makedirs(os.path.dirname(spans), exist_ok=True)
            trace_json = os.path.join(rdir, "trace.json")
            server.send("trace", args.workload, replay_file, trace_json, spans)
            server.expect("OK", deadline)
            with open(trace_json) as f:
                trace = json.load(f)
            log(f"spans written to {os.path.relpath(spans, root)}")
    except BaseException:
        for p in procs:
            p.stop()
            with open(p.log.name) as f:
                log(f"{os.path.basename(p.log.name)} ends with:\n" + "".join(f.readlines()[-15:]))
        raise
    finally:
        for p in procs:
            p.stop()
        shutil.rmtree(rdir, ignore_errors=True)

    stamp_out = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": cores, "master": master, "connections": conns,
        "loadavg_start": load_start, "loadavg_end": os.getloadavg(),
        "server_ready_s": round(t_ready, 3), "timed_wall_s": res["wall_s"],
        "read_n": res["read_n"], "read_tail_pct": res["read_tail_pct"],
        "write_n": res["write_n"], "write_tail_pct": res["write_tail_pct"],
        "failed_ratio": res["failed"] / res["attempted"],
        "templates": res["templates"], "selftest": res["selftest"],
    }
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if args.trace:
        stamp_out["replayed"] = trace.pop("replayed")
        stamp_out["replayed_rows"] = trace.pop("rows")
        values = dict(trace)
        values["PgStatStatements.attributed_share"] = res["attributed_share"]
        values["jvm.gc_ms_per_s"] = (gc1 - gc0) / res["wall_s"]
        values["client.cpu_ms_per_stmt"] = res["client_cpu_ms_per_stmt"]
        units = {m["name"]: m["unit"] for m in bench["per_layer"]}
    else:
        values = dict(res)
        values["setup_s"] = setup_s
        values["server_peak_rss_mb"] = rss
        units = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    missing = [k for k in units if k not in values]
    if missing:
        raise BenchError(f"metrics missing: {missing}")
    print(json.dumps({"wirebench": stamp_out}))
    correct = res["failed"] == 0
    print(json.dumps({
        "correct": correct, "attempted": res["attempted"], "failed": res["failed"],
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    return correct


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still kills its JVMs (run's finally) on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(3))
    try:
        ok = run(args, os.getcwd())
    except (BenchError, OSError, subprocess.SubprocessError, ValueError, KeyError) as e:
        log(f"error: {e}")
        sys.exit(2)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
