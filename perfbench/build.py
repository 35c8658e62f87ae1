"""Builds the graft library and the benchmark harness from the sources in
the checkout, once per source state, and caches the harness classpath
under `.bench_build/`.

One sbt invocation in `perfbench/harness` compiles both: the harness
build depends on the repository root as an external sbt project. sbt runs
offline against the toolchain's pre-filled caches.
"""
import fcntl
import hashlib
import os
import subprocess

BUILD_DIR = ".bench_build"
# what the build reads: a change to any of these rebuilds
INPUTS = ["build.sbt", "project", "src/main",
          "perfbench/harness/build.sbt", "perfbench/harness/project",
          "perfbench/harness/src"]


class BuildError(RuntimeError):
    pass


def source_stamp(root):
    h = hashlib.sha256()
    for rel in INPUTS:
        p = os.path.join(root, rel)
        files = [p] if os.path.isfile(p) else []
        for d, dirs, names in os.walk(p):
            # skip build outputs and sbt's meta-build dirs
            dirs[:] = sorted(x for x in dirs if x != "target" and
                             not (x == "project" and os.path.basename(d) == "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
        for f in files:
            if f.endswith((".scala", ".sbt", ".properties", ".java")):
                h.update(os.path.relpath(f, root).encode())
                with open(f, "rb") as fh:
                    h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def classpath(root, log=None, timeout=700, train=None):
    """The harness runtime classpath (jars), building first if the sources
    changed since the last build in this checkout. `train(cp, archive)`,
    if given, runs once after a build to write the class-data archive."""
    out = os.path.join(root, BUILD_DIR)
    os.makedirs(out, exist_ok=True)
    cp_file = os.path.join(out, "classpath.txt")
    stamp_file = os.path.join(out, "stamp.txt")
    with open(os.path.join(out, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp = source_stamp(root)
        if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
            with open(stamp_file) as f:
                with open(cp_file) as g:
                    cp = g.read().strip()
                if f.read().strip() == stamp and all(map(os.path.exists, cp.split(":"))):
                    return cp
        if os.path.isfile(archive_path(root)):
            os.remove(archive_path(root))  # stale once the jars change
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export harness/Runtime/fullClasspathAsJars"],
            cwd=os.path.join(root, "perfbench", "harness"), env=sbt_env(),
            stdin=subprocess.DEVNULL, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            text=True, timeout=timeout)
        if log:
            with open(log, "w") as f:
                f.write(r.stdout)
        lines = [ln for ln in r.stdout.splitlines()
                 if ln.startswith("/") and ".jar" in ln and ":" in ln]
        if r.returncode != 0 or not lines:
            raise BuildError("sbt build failed:\n" + "\n".join(r.stdout.splitlines()[-30:]))
        cp = lines[-1].strip()
        if train:
            train(cp, archive_path(root))
        with open(cp_file, "w") as f:
            f.write(cp)
        with open(stamp_file, "w") as f:
            f.write(stamp)
        return cp


def archive_path(root):
    return os.path.join(root, BUILD_DIR, "classes.jsa")


def jvm_flags(root):
    """Class-data-sharing flags: the archive, when the build made one,
    halves JVM and session start-up. It holds loaded classes only and does
    not change compiled code."""
    a = archive_path(root)
    return [f"-XX:SharedArchiveFile={a}", "-Xlog:cds=off", "-Xlog:cds+dynamic=off"] \
        if os.path.isfile(a) else []
