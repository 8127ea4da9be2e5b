"""Serving benchmark entry point.

    python3 servebench/run.py --workload dashboard|search \
        --seed N --seconds S --trace 0|1
    python3 servebench/run.py --self-test

Builds the program and the load generator from source (first run only),
then runs one workload in one JVM and relays its output: the last line of
standard output is the JSON result. Spans of a traced run are written to
servebench/target/run/traces/. See servebench/README.md.
"""
import argparse
import os
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

# Spark on JDK 17 outside spark-submit needs these (Spark's own
# JavaModuleOptions list, as in the program's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
TIMEOUT_S = 170


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=["dashboard", "search"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if not a.self_test and not a.workload:
        ap.error("--workload is required")
    build.build()
    work = os.path.join(build.TARGET, "run", f"{a.workload or 'selftest'}-{a.seed}-{a.trace}")
    tmp = os.path.join(build.TARGET, "tmp")
    os.makedirs(tmp, exist_ok=True)
    jvm = ["java", "-Xmx3g", "-Xss4m", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dderby.system.home=" + tmp]
    for p in ADD_OPENS:
        jvm += ["--add-opens", p + "=ALL-UNNAMED"]
    jvm += ["-cp", build.classpath()]
    if a.self_test:
        cmd = jvm + ["servebench.SelfTest"]
    else:
        cmd = jvm + ["servebench.Main", "--workload", a.workload, "--seed", str(a.seed),
                     "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work]
    p = subprocess.Popen(cmd, cwd=build.TARGET)
    try:
        code = p.wait(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        sys.exit("servebench: run exceeded %d s" % TIMEOUT_S)
    finally:
        subprocess.run(["rm", "-rf", work])
    sys.exit(code)


if __name__ == "__main__":
    main()
