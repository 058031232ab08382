#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload etl_backfill --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run compiles graft and the
harness (perfbench/build.py) into `.bench_build/`; every run then
generates its inputs from the seed, starts one JVM running graft in
`local[<cores>]` as a single closed-loop client, and prints one JSON
line: `correct`, `attempted`, `failed` and `metrics`.

Workloads (see BENCHMARK.json for why each exists):
  etl_backfill     72 files x 10k lineitem rows, batch 12, into Postgres
  analytics_floor  3 floor-class queries and 1 operator query on fixed tables,
                   order from the seed

End-to-end metrics (`--trace 0`): setup_s (everything before the first
timed op), op_p50_s (the Harrell-Davis median op time; an op is one
work-list batch or one query) and
throughput_per_s (rows landed per second on etl_backfill, queries per
second on analytics_floor; the median over the run's passes). `--trace 1`
reports the per-layer metrics instead and writes the spans to
`.bench_build/last/<workload>-spans.jsonl`; the JVM log of the latest
run of each workload is kept beside them.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("etl_backfill", "analytics_floor")
JVM_TIMEOUT_S = 165
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def server_reachable(path):
    """Postgres runs as an unprivileged user, which must be able to reach
    its data directory; a checkout under a private home cannot host it."""
    p = os.path.abspath(path)
    while p != "/":
        p = os.path.dirname(p)
        if not os.stat(p).st_mode & 0o001:
            return False
    return True


def stop_group(proc):
    """Stops the JVM's process group (the JVM, and Postgres if its
    shutdown hook did not run) and waits for every member to end."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()


def stop_postgres(tmp):
    """Stops a server left running from this run's data directory."""
    for pidfile in [os.path.join(tmp, d, "data", "postmaster.pid")
                    for d in os.listdir(tmp) if d.startswith("graft_pglive")]:
        try:
            with open(pidfile) as fh:
                pid = int(fh.readline())
        except (OSError, ValueError):
            continue
        try:
            os.kill(pid, signal.SIGQUIT)
        except ProcessLookupError:
            continue
        for _ in range(100):
            try:
                os.kill(pid, 0)
            except ProcessLookupError:
                break
            time.sleep(0.05)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="print each query's row count and hash on the fixed tables")
    a = ap.parse_args()
    # a terminated run still stops its JVM and server (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    with open(os.path.join(HERE, "expected.json")) as fh:
        if json.load(fh)["fixed_version"] != gen.FIXED_VERSION:
            raise SystemExit("perfbench: expected.json is stale; run perfbench/record.py")
    classes = build.build(root)
    bench = os.path.join(root, build.BUILD_DIR)
    work = os.path.join(bench, "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))

    t0 = time.monotonic()
    if a.workload.startswith("etl_"):
        gen.etl_inputs(a.workload, a.seed, os.path.join(work, "etl"))
    else:
        gen.fixed_tables(os.path.join(work, "tables"))
    gen_s = time.monotonic() - t0

    # Postgres runs as an unprivileged user who must reach its data
    # directory: when the checkout sits under a private home, the JVM's
    # temp dir (where graft's PgServer puts the cluster) moves to a
    # private system temp dir that is removed with the run
    jvm_tmp = os.path.join(work, "tmp")
    if not server_reachable(jvm_tmp):
        jvm_tmp = tempfile.mkdtemp(prefix="graft-perfbench-")
        os.chmod(jvm_tmp, 0o711)
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    cmd = (["java", "-Xms3g", "-Xmx3g", "-Xss8m"]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Djava.io.tmpdir={jvm_tmp}",
              "-cp", classes + ":" + os.path.join(build.SPARK_JARS, "*"),
              "graft.perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--work", work, "--gen-s", f"{gen_s:.6f}",
              "--expected", os.path.join(HERE, "expected.json"),
              "--record", "1" if a.record else "0"])
    with open(os.path.join(work, "jvm.log"), "wb") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, env=env,
                                cwd=work, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            out = b""
        finally:
            stop_group(proc)
            stop_postgres(jvm_tmp)
            if not jvm_tmp.startswith(work):
                shutil.rmtree(jvm_tmp, ignore_errors=True)
    lines = out.decode(errors="replace").strip().splitlines()
    last = os.path.join(bench, "last")
    os.makedirs(last, exist_ok=True)
    for name in ("spans.jsonl", "jvm.log"):
        if os.path.exists(os.path.join(work, name)):
            shutil.copy(os.path.join(work, name), os.path.join(last, f"{a.workload}-{name}"))
    if a.record:
        print("\n".join(lines))
        return 0 if proc.returncode == 0 else 1
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        with open(os.path.join(last, f"{a.workload}-jvm.log"), errors="replace") as fh:
            sys.stderr.write(fh.read()[-3000:])
        sys.stderr.write(f"perfbench: the JVM exited with {proc.returncode}\n")
        return 1
    result = json.loads(lines[-1])
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
