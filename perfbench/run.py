#!/usr/bin/env python3
"""Runs one workload of the benchmark and prints one JSON result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. It builds the program and the benchmark
from source (`perfbench/build.py`), starts a scratch PostgreSQL cluster
when the workload restores into one, runs `perfbench.Main` on Spark at
local[nproc] in one JVM, stops the cluster and prints the JVM's lines;
the last line is `{"correct", "attempted", "failed", "metrics"}`.
Everything it writes stays under `.bench_build/perfbench/`.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("subset-mask-restore", "operators")
NEEDS_PG = ("subset-mask-restore",)
RUN_LIMIT_S = 175
HEAP = "3g"
JVM_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def _tool(name):
    path = shutil.which(name)
    if path is None:
        raise RuntimeError(f"{name} is not on PATH")
    return path


class Cluster:
    """A scratch PostgreSQL cluster on an abstract unix socket (no TCP,
    no socket file). initdb and postgres refuse to run as root, so under
    root they run in a user namespace that maps root to an unprivileged
    uid; the files stay owned by the caller."""

    def __init__(self, base):
        self.base = base
        self.data = os.path.join(base, "data")
        self.socket = f"@perfbench-{os.getpid()}"
        self.pid = None

    def _cmd(self, argv):
        if os.geteuid() == 0:
            return ["unshare", "-U", "--map-user=1000", "--map-group=1000"] + argv
        return argv

    def start(self):
        shutil.rmtree(self.base, ignore_errors=True)
        os.makedirs(self.base)
        log = os.path.join(self.base, "pg.log")
        subprocess.run(self._cmd([_tool("initdb"), "-D", self.data, "--no-sync", "-A", "trust",
                                  "-U", "graft"]), check=True, stdout=sys.stderr, stderr=sys.stderr)
        subprocess.run(self._cmd([_tool("pg_ctl"), "-D", self.data, "-l", log, "-w", "-o",
                                  f"-k {self.socket} -c listen_addresses= -c fsync=off "
                                  f"-c full_page_writes=off -c synchronous_commit=off",
                                  "start"]), check=True, stdout=sys.stderr, stderr=sys.stderr)
        with open(os.path.join(self.data, "postmaster.pid")) as fh:
            self.pid = int(fh.readline())

    def stop(self):
        if self.pid is None:
            return
        try:
            os.kill(self.pid, signal.SIGINT)  # fast shutdown
            deadline = time.time() + 30
            while time.time() < deadline:
                os.kill(self.pid, 0)
                time.sleep(0.1)
            os.kill(self.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        self.pid = None


def java_cmd(root, work, main_class, args):
    """The JVM command line for `main_class` on the built classes."""
    main_cls, bench_cls, _ = build.build(root)
    cp = os.pathsep.join([bench_cls, main_cls] + build.spark_classpath(root))
    opens = [x for p in JVM_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    return ["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", *opens, "-cp", cp, main_class, *args]


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", required=True, choices=("0", "1"))
    a = p.parse_args()
    root = os.getcwd()
    t0 = time.time()
    try:
        _, _, source_id = build.build(root)
    except (FileNotFoundError, OSError, RuntimeError) as e:
        print(f"perfbench: cannot build the program: {e}", file=sys.stderr)
        return 2
    built_s = time.time() - t0
    base = os.path.join(root, ".bench_build", "perfbench")
    work = os.path.join(base, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cores = len(os.sched_getaffinity(0))
    cluster = Cluster(os.path.join(base, "pg")) if a.workload in NEEDS_PG else None
    proc = None

    def on_term(signum, frame):
        raise KeyboardInterrupt

    signal.signal(signal.SIGTERM, on_term)
    try:
        if cluster:
            cluster.start()
        cmd = java_cmd(root, work, "perfbench.Main",
                       [a.workload, str(a.seed), str(a.seconds), a.trace, work, str(cores),
                        cluster.socket if cluster else "-", source_id])
        # the dump workload's masking salt comes from the seed; the
        # operators workload keeps the program's default salt, under which
        # its golden digests were recorded. SPARK_LOCAL_DIRS would take
        # Spark's scratch space out of the checkout.
        env = {k: v for k, v in os.environ.items()
               if k not in ("GRAFT_GLOBAL_SALT", "SPARK_LOCAL_DIRS")}
        if a.workload in NEEDS_PG:
            env["GRAFT_GLOBAL_SALT"] = f"perfbench-{a.seed}"
        proc = subprocess.Popen(cmd, cwd=root, env=env, stdout=subprocess.PIPE, text=True,
                                start_new_session=True)
        out, _ = proc.communicate(timeout=RUN_LIMIT_S - (time.time() - t0) + built_s)
        rc = proc.returncode
    except (subprocess.TimeoutExpired, subprocess.CalledProcessError, RuntimeError,
            KeyboardInterrupt) as e:
        print(f"perfbench: stopped: {type(e).__name__}", file=sys.stderr)
        rc, out = 1, ""
    finally:
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        if cluster:
            cluster.stop()
    lines = [l for l in out.splitlines() if l.strip()]
    if rc != 0 or not lines:
        print(f"perfbench: benchmark JVM exited with {rc}", file=sys.stderr)
        return rc or 1
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        print("perfbench: malformed result line", file=sys.stderr)
        return 1
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
