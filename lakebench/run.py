"""Lake benchmark: one seeded closed-loop workload in one JVM.

    python3 lakebench/run.py --workload read_mix --seed 1 --seconds 10 --trace 0

Builds the program and the benchmark from source on first use (build.py),
then runs lakebench.Main with Spark local[nproc]. The JVM prints one
`lakebench-record` line (every named metric with unit and sample count,
the seed and the window stamp) and, last, the result line:
{"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics; --trace 1 the per-layer metrics of the traced run, and
writes its spans to .out/. Run files and Spark scratch space live in .work/
and are removed at exit.
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

WORKLOADS = ("read_mix", "ingest", "dml")
# a run must end within this many seconds of its start, build excluded
RUN_LIMIT_S = 170
HEAP = "2g"

# Spark on JDK 17 outside spark-submit needs these (as in the root build.sbt)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    build.build()
    t0 = time.time()
    work = os.path.join(build.BENCH, ".work", f"{a.workload}-{a.seed}-{os.getpid()}")
    out = os.path.join(build.BENCH, ".out")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(out, exist_ok=True)
    log_path = os.path.join(out, f"jvm_{a.workload}_seed{a.seed}_trace{a.trace}.log")
    cmd = (["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"] + ADD_OPENS +
           ["-cp", build.classpath(), "lakebench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--work", work, "--out", out])
    lines = []
    try:
        with open(log_path, "w") as log:
            p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                                 cwd=work, start_new_session=True)
            try:
                out_s, _ = p.communicate(timeout=max(10, RUN_LIMIT_S - (time.time() - t0)))
            except subprocess.TimeoutExpired:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
                sys.exit(f"lakebench: run exceeded {RUN_LIMIT_S}s; log in {log_path}")
        lines = [l for l in out_s.splitlines() if l.strip()]
        for l in lines[:-1]:
            print(l)
        try:
            result = json.loads(lines[-1]) if lines else None
        except ValueError:
            result = None
        if p.returncode != 0 or not isinstance(result, dict) or \
                set(result) != {"correct", "attempted", "failed", "metrics"}:
            with open(log_path) as f:
                sys.stderr.write(f.read()[-4000:])
            sys.exit(f"lakebench: JVM exited with code {p.returncode} without a result")
        print(json.dumps(result))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
