"""Build the SUT from source, launch it, and talk to its control port."""
import hashlib
import json
import os
import subprocess
import threading
import urllib.request

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

# fixed heap (-Xms = -Xmx), so the peak RSS does not depend on when the
# heap grows
HEAP = "2g"

# what the build reads: the repository's sources and the benchmark's own
BUILD_INPUTS = ["build.sbt", "project/build.properties", "src/main",
                "perfbench/build.sbt", "perfbench/project/build.properties",
                "perfbench/src"]


class SutError(RuntimeError):
    pass


def source_stamp(root):
    h = hashlib.sha256()
    for rel in BUILD_INPUTS:
        p = os.path.join(root, rel)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root, out):
    """Compile the repository and the SUT with sbt, once per source
    state; returns the runtime classpath."""
    os.makedirs(out, exist_ok=True)
    stamp_file = os.path.join(out, "stamp")
    cp_file = os.path.join(out, "classpath")
    stamp = source_stamp(root)
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f, open(cp_file) as g:
            cp = g.read().strip()
            if f.read().strip() == stamp and all(
                    os.path.exists(p) for p in cp.split(os.pathsep)):
                return cp
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "export Runtime/fullClasspath"],
        cwd=os.path.join(root, "perfbench"), env=env, stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=840)
    lines = [l.strip() for l in proc.stdout.splitlines()]
    cps = [l for l in lines if ".jar" in l and os.pathsep in l
           and not l.startswith("[")]
    if proc.returncode != 0 or not cps:
        raise SutError("sbt build failed:\n" + "\n".join(lines[-40:]))
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


class Sut:
    """One SUT JVM. Use as a context manager: leaving it stops the JVM
    and waits for it to exit."""

    def __init__(self, classpath, workload, input_dir, work_dir, cores,
                 trace, ready_timeout=170):
        os.makedirs(os.path.join(work_dir, "tmp"), exist_ok=True)
        self.log_path = os.path.join(work_dir, "sut.log")
        self.log = open(self.log_path, "w")
        cmd = (["java"] + [x for p in ADD_OPENS
                           for x in ("--add-opens", p + "=ALL-UNNAMED")]
               + ["-Xms" + HEAP, "-Xmx" + HEAP, "-Dspark.ui.enabled=false",
                  "-Djava.io.tmpdir=" + os.path.join(work_dir, "tmp"),
                  "-cp", classpath, "perfbench.Sut",
                  "--workload", workload, "--input", input_dir,
                  "--work", work_dir, "--cores", str(cores),
                  "--trace", "1" if trace else "0"])
        self.proc = subprocess.Popen(cmd, cwd=work_dir, stdin=subprocess.DEVNULL,
                                     stdout=subprocess.PIPE, stderr=self.log,
                                     text=True)
        self.ready = self._await_ready(ready_timeout)
        self.port = self.ready["port"]
        self.ctl = self.ready["control_port"]

    def _await_ready(self, timeout):
        box = {}
        ready = threading.Event()

        def read():
            for line in self.proc.stdout:
                if line.startswith("PBREADY "):
                    box["ready"] = json.loads(line[len("PBREADY "):])
                    break
            ready.set()
            for _ in self.proc.stdout:   # keep the pipe drained
                pass
        threading.Thread(target=read, daemon=True).start()
        ready.wait(timeout)
        if "ready" not in box:
            self.close()
            raise SutError("SUT not ready within %ds; log tail:\n%s"
                           % (timeout, self.log_tail()))
        return box["ready"]

    def log_tail(self, n=30):
        try:
            with open(self.log_path) as f:
                return "".join(f.readlines()[-n:])
        except OSError:
            return ""

    def call(self, path, body=None, timeout=170):
        req = urllib.request.Request(
            "http://127.0.0.1:%d%s" % (self.ctl, path),
            data=body.encode() if body is not None else b"", method="POST")
        try:
            with urllib.request.urlopen(req, timeout=timeout) as r:
                return json.loads(r.read())
        except urllib.error.HTTPError as e:
            raise SutError("%s -> %d %s" % (path, e.code, e.read()[:2000]))

    def close(self):
        if self.proc.poll() is None:
            try:
                self.call("/quit", timeout=10)
            except Exception:
                pass
            try:
                self.proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
        self.log.close()

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.close()
