"""The repository benchmark, one command per workload and seed.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Run from the repository root. It builds the program and the benchmark from
source (perfbench/build.py), runs one workload in a fresh JVM on
local[<cores>], and prints the result object as the last line of stdout.
Scratch data lives under .bench_build/perfbench/work and is removed at the
end; the run log (runs.jsonl), per-seed output digests and the profile
artifact of traced runs stay in .bench_build/perfbench/results.
Exits non-zero, without a result, when the build or the run fails, and
non-zero, with a result whose "correct" is false, when an output check fails.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True  # leave nothing behind in the source tree
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ["synthea_backfill", "synthea_daily", "lakehouse_dml", "corpus_dedup"]
RUN_TIMEOUT_S = 170
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
         "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
         "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int)
    p.add_argument("--seconds", type=float)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--selftest", action="store_true")
    a = p.parse_args()
    if not a.selftest and (a.workload is None or a.seed is None or a.seconds is None):
        p.error("--workload, --seed and --seconds are required")

    classes = build.build()
    base = build.build_dir()
    work = os.path.abspath(os.path.join(base, "work"))
    results = os.path.abspath(os.path.join(base, "results"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    jars = os.path.join(build.spark_jars(), "*")
    cmd = (["java"] + [x for o in OPENS for x in ("--add-opens", f"java.base/{o}=ALL-UNNAMED")] +
           ["-Xmx4g", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dlog4j2.configurationFile=" + os.path.abspath("perfbench/log4j2.properties"),
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", os.pathsep.join([classes, os.path.abspath("src/main/resources"), jars]),
            "perfbench.Main"])
    if a.selftest:
        cmd.append("--selftest")
    else:
        cmd += ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--work", work, "--results", results,
                "--build", os.path.basename(classes)]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(f"perfbench: run exceeded {RUN_TIMEOUT_S}s and was stopped")
    shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    result = None
    for line in lines:
        try:
            obj = json.loads(line)
        except ValueError:
            obj = None
        if isinstance(obj, dict) and ("metrics" in obj or "selftest" in obj):
            result = line
        else:
            print(line, file=sys.stderr)
    if result is None:
        sys.exit(f"perfbench: no result (exit code {proc.returncode})")
    print(result)
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
