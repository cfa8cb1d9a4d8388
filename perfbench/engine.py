"""Build graft from source and launch its mains as child JVMs.

The engine is compiled once per source state with sbt, which also exports
the runtime classpath and the JVM options build.sbt gives its forked
`run`. Every later launch starts `java` directly with those options, so
sbt's own start-up is never inside a measured interval.

Every child process is tracked; `stop_all` (run on every exit path)
terminates them and waits for each, and `cleanup_dirs` removes the
temporary stores and inputs.
"""
import hashlib
import json
import os
import shutil
import signal
import subprocess
import time
from pathlib import Path

ROOT = Path.cwd()
WORK = ROOT / ".bench_work"
CPUS = 4  # engine runs local[4]; the load generator uses at most 4 clients
HEAP = "4g"
SBT_OPTS = ("-Dsbt.override.build.repos=true "
            "-Dsbt.repository.config=" + str(Path.home() / ".sbt" / "repositories") +
            " -Dsbt.offline=true -Xmx2g")

_children = []
_temp_dirs = []


class BenchError(Exception):
    pass


def require_checkout():
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        raise BenchError("no graft sources here: run from the root of a checkout "
                         "(build.sbt and src/main/scala are missing)")


def _source_digest():
    h = hashlib.sha256()
    files = [ROOT / "build.sbt"] + sorted((ROOT / "project").glob("*.sbt")) + \
        sorted((ROOT / "project").glob("*.properties")) + \
        sorted(p for p in (ROOT / "src" / "main").rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile with sbt if the sources changed; return {classpath, java_options}."""
    WORK.mkdir(exist_ok=True)
    stamp = WORK / "build.json"
    digest = _source_digest()
    if stamp.is_file():
        b = json.loads(stamp.read_text())
        if b.get("digest") == digest:
            return b
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_DRIVER_MEM=HEAP)
    env.setdefault("SBT_OPTS", SBT_OPTS)
    env.pop("GRAFT_EXTRA_JAVA_OPTS", None)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
           "export Runtime/fullClasspath", "show Compile/run/javaOptions"]
    log = WORK / "build.log"
    with open(log, "w") as out:
        p = spawn(cmd, stdout=out, stderr=subprocess.STDOUT, env=env)
        rc = wait(p, timeout=840)[0]
    text = log.read_text()
    if rc != 0:
        raise BenchError(f"sbt build failed (exit {rc}); see {log}")
    cp = [ln for ln in text.splitlines()
          if not ln.startswith("[") and ".jar" in ln and os.pathsep in ln]
    opts = [ln[len("[info] * "):] for ln in text.splitlines() if ln.startswith("[info] * ")]
    if len(cp) != 1 or not opts:
        raise BenchError(f"could not read the classpath or JVM options from {log}")
    b = {"digest": digest, "classpath": cp[0].strip(), "java_options": opts}
    stamp.write_text(json.dumps(b))
    return b


def java_cmd(b, main, args, extra_opts=()):
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    argfile = WORK / "classpath.arg"
    if not argfile.is_file() or argfile.read_text() != "-cp " + b["classpath"]:
        argfile.write_text("-cp " + b["classpath"])
    return (["java"] + b["java_options"] + list(extra_opts) +
            [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}", "@" + str(argfile),
             main] + list(args))


def event_log_opts(event_dir):
    """JVM options that make Spark write a plain-JSON event log into event_dir."""
    if not event_dir:
        return []
    return ["-Dspark.eventLog.enabled=true", f"-Dspark.eventLog.dir=file:{event_dir}",
            "-Dspark.eventLog.compress=false", "-Dspark.eventLog.rolling.enabled=false"]


def engine_env(**extra):
    env = dict(os.environ, SPARK_MASTER=f"local[{CPUS}]", SPARK_GRAFT_CPUS=str(CPUS))
    env.update({k: str(v) for k, v in extra.items()})
    return env


def spawn(cmd, **kw):
    p = subprocess.Popen(cmd, start_new_session=True, cwd=ROOT, **kw)
    _children.append(p)
    return p


def wait(p, timeout):
    """Wait for a child; return (exit code, peak RSS in MB).

    Raises BenchError on timeout; the exit path then stops the child."""
    deadline = time.monotonic() + timeout
    while True:
        pid, status, ru = os.wait4(p.pid, os.WNOHANG)
        if pid:
            p.returncode = os.waitstatus_to_exitcode(status)
            _children.remove(p)
            return p.returncode, ru.ru_maxrss / 1024.0
        if time.monotonic() > deadline:
            raise BenchError(f"{p.args[0]} did not finish within {timeout} s")
        time.sleep(0.05)


def terminate(p, grace=20):
    """SIGTERM the child's process group, SIGKILL after `grace` s; return peak RSS MB."""
    if p.returncode is not None:
        return 0.0
    try:
        os.killpg(p.pid, signal.SIGTERM)
    except ProcessLookupError:
        pass
    try:
        return wait(p, grace)[1]
    except BenchError:
        pass
    try:
        os.killpg(p.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    return wait(p, 60)[1]


def stop_all():
    for p in list(_children):
        try:
            terminate(p)
        except Exception:
            pass


def temp_dir(name):
    d = WORK / "run" / name
    shutil.rmtree(d, ignore_errors=True)
    d.mkdir(parents=True)
    _temp_dirs.append(d)
    return d


def cleanup_dirs():
    for d in _temp_dirs:
        shutil.rmtree(d, ignore_errors=True)
    _temp_dirs.clear()
    shutil.rmtree(WORK / "tmp", ignore_errors=True)


def dir_mb(d):
    return sum(f.stat().st_size for f in Path(d).rglob("*") if f.is_file()) / 1e6
