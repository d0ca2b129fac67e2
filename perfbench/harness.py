"""The benchmark's side of the harness JVM: building it, launching it and
talking to it, and the bookkeeping every workload shares.
"""

import hashlib
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# a fixed heap size, so peak RSS does not depend on when the collector
# chose to grow the heap
HEAP = "1536m"


def log(*a):
    print(*a, file=sys.stderr, flush=True)


# ------------------------------------------------------------------ build

def _read_launch(path):
    cp, opts = "", []
    for line in open(path).read().split("\n"):
        if line.startswith("classpath="):
            cp = line[len("classpath="):]
        elif line.startswith("jvmopt="):
            opts.append(line[len("jvmopt="):])
    return cp, opts


def _digest(cp):
    """Digest of what a build reads: the build definitions, sources and lib/
    directories of engine and harness; every jar on the classpath `cp` by
    path, size and mtime; and the listing of each directory such a jar sits
    in, so that an added jar counts too. sbt's own no-op check costs a JVM
    start, about 10 s on a 4-core host, on every run."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, n) for n in ("build.sbt", "project", "src/main", "lib")] + [
        os.path.join(HERE, n) for n in ("build.sbt", "project", "src", "lib")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, n) for d, ds, ns in os.walk(r)
            if "target" not in os.path.relpath(d, r).split(os.sep) for n in ns)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    jars = [p for p in cp.split(os.pathsep) if p.endswith(".jar")]
    for d in sorted({os.path.dirname(p) for p in jars}):
        h.update(("\n".join(sorted(os.listdir(d))) if os.path.isdir(d) else d).encode())
    for p in jars:
        st = os.stat(p) if os.path.exists(p) else None
        h.update(("%s %s %s" % (p, st and st.st_size, st and st.st_mtime_ns)).encode())
    return h.hexdigest()


def build():
    """Compiles engine and harness with sbt unless the recorded launch line
    is still current (see _digest); returns (classpath, jvm options)."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        log("perfbench: no engine sources next to perfbench/ (build.sbt, src/main/scala)")
        sys.exit(2)
    launch = os.path.join(HERE, "target", "launch.txt")
    stamp = launch + ".sha256"
    if (os.path.exists(launch) and os.path.exists(stamp)
            and open(stamp).read() == _digest(_read_launch(launch)[0])):
        return _read_launch(launch)
    log("perfbench: building engine and harness")
    rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                         cwd=HERE, stdout=sys.stderr, stdin=subprocess.DEVNULL,
                         timeout=900)
    if rc != 0 or not os.path.exists(launch):
        log("perfbench: build failed")
        sys.exit(2)
    cp, opts = _read_launch(launch)
    with open(stamp, "w") as f:
        f.write(_digest(cp))
    return cp, opts


# -------------------------------------------------------------------- jvm

class Harness:
    """One harness JVM; `call` sends a command and returns its reply."""

    def __init__(self, launch, work, trace):
        cp, opts = launch
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        env = {k: v for k, v in os.environ.items()
               if k not in ("SPARK_MASTER", "SPARK_GRAFT_CPUS")}
        env["SPARK_LOCAL_DIRS"] = tmp
        self.p = subprocess.Popen(
            ["java", "-Xms" + HEAP, "-Xmx" + HEAP,
             "-Djava.io.tmpdir=" + tmp] + opts
            + ["-cp", cp, "perfbench.Harness", str(trace)],
            cwd=work, env=env, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
            text=True)

    def call(self, *args):
        self.send(*args)
        return self.reply(args[0])

    def send(self, *args):
        """Sends a command without waiting; `reply` collects its answer."""
        self.p.stdin.write("\t".join(str(a) for a in args) + "\n")
        self.p.stdin.flush()

    def reply(self, command):
        while True:
            line = self.p.stdout.readline()
            if not line:
                raise RuntimeError("harness JVM exited during: %s" % command)
            if line.startswith("@@ "):
                break
            sys.stderr.write(line)
        r = json.loads(line[3:])
        if not r.get("ok"):
            raise RuntimeError("%s failed: %s" % (command, r.get("error")))
        return r

    def peak_rss_mb(self):
        with open("/proc/%d/status" % self.p.pid) as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        return float("nan")

    def close(self):
        if self.p.poll() is None:
            try:
                self.p.stdin.write("exit\n")
                self.p.stdin.flush()
                self.p.wait(timeout=60)
            except (OSError, subprocess.TimeoutExpired):
                self.p.kill()
                self.p.wait()


def cores():
    return max(1, min(4, os.cpu_count() or 1))


class Tally:
    """Operations attempted and failed, with the reasons for failures."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.problems = []

    def ops(self, n, problems=()):
        self.attempted += n
        if problems:
            self.failed += n
            self.problems.extend(problems)


def exec_delta(before, after):
    return {k: after[k] - before[k] for k in before if k != "ok"}


def exec_layers(deltas, wall_s):
    """exec.* per unit of traced work (one drain, or one trickle window)."""
    n = len(deltas)
    tot = {k: sum(d[k] for d in deltas) for k in deltas[0]}
    out = {"exec." + k: v / n for k, v in tot.items()}
    out["exec.cpu_util"] = tot["cpu_s"] / (wall_s * cores())
    return out
