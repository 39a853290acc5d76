"""Runs one benchmark workload and prints its result as the last stdout line.

    python3 cdcbench/run.py --workload <snapshot_load|restart_tail|curation> \
        --seed <n> --seconds <s> --trace <0|1>
    python3 cdcbench/run.py --selftest

Run from the repository root. The first run compiles (cdcbench/build.py);
later runs reuse the classes while the sources are unchanged. Inputs,
state and Spark scratch live under <build dir>/work/<run> and are deleted
when the run ends; spans of a traced run go to <build dir>/traces/, and
every run appends its machine context and result to <build dir>/runs.jsonl.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402

ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
HEAP = "3g"
TIMEOUT_S = 170


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")
    root = os.getcwd()
    cp = build.build(root)
    out = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    name = "selftest" if a.selftest else f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"
    work = os.path.join(out, "work", name)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    jvm = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-Xss4m", "-Dspark.ui.enabled=false",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-cp", cp]
    for p in ADD_OPENS:
        jvm += ["--add-opens", f"{p}=ALL-UNNAMED"]
    if a.selftest:
        cmd = jvm + ["cdcbench.SelfTest", work]
    else:
        cmd = jvm + ["cdcbench.Main", "--workload", a.workload, "--seed", str(a.seed),
                     "--seconds", str(a.seconds), "--trace", a.trace, "--work", work]
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)

    def stop(signum, frame):
        p.kill()
        p.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        stdout, _ = p.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(f"run: timed out after {TIMEOUT_S} s")
    shutil.rmtree(work, ignore_errors=True)
    lines = stdout.splitlines()
    for line in lines:
        print(line, flush=True)
    if not a.selftest and lines:
        with open(os.path.join(out, "runs.jsonl"), "a") as fh:
            env = next((l[6:] for l in lines if l.startswith("# env ")), "{}")
            fh.write('{"env": %s, "result": %s}\n' % (env, lines[-1]))
    sys.exit(p.returncode)


if __name__ == "__main__":
    main()
