#!/usr/bin/env python3
"""Build the benchmark and run one workload.

    python3 perfbench/run.py --workload annotate_human --seed 1 --seconds 10 --trace 0

Run from the repository root. The first call builds (see build.py); later
calls reuse the classes while no source changed. The last line of standard
output is the result JSON; the lines before it, prefixed with '#', are the
same metrics as a table, the output checks and a detail record (input sizes,
every sample with its host load, the AQE partition floor).
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys
import threading

sys.dont_write_bytecode = True
from build import BENCH, BUILD, fail, prepare  # noqa: E402

# a run must end within this many seconds once the build is done
RUN_LIMIT_S = 170
HEAP = "3g"

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    a = ap.parse_args()

    jars, classes = prepare()

    work = os.path.join(BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (["java", "-XX:-UsePerfData", f"-Xmx{HEAP}",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", classes + os.pathsep + os.path.join(jars, "*"), "graftbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", a.trace, "--work", work])
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    timed_out = threading.Event()

    def kill():
        timed_out.set()
        os.killpg(proc.pid, signal.SIGKILL)

    watchdog = threading.Timer(RUN_LIMIT_S, kill)
    watchdog.start()
    last = None
    try:
        for line in proc.stdout:
            line = line.rstrip("\n")
            if line.startswith("{"):
                last = line
            else:
                print(line, flush=True)
        proc.wait()
    finally:
        watchdog.cancel()
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if timed_out.is_set():
        fail(f"run exceeded {RUN_LIMIT_S}s")
    if proc.returncode != 0 or last is None:
        fail(f"benchmark process exited with {proc.returncode}")
    shutil.rmtree(os.path.join(work, "in"), ignore_errors=True)
    print(last, flush=True)


if __name__ == "__main__":
    main()
