"""Runs one benchmark run from the repository root.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Builds the engine and the benchmark from source (see build.py), runs one
JVM with a pinned heap and GC threads, and prints its output; the last line
is the run's JSON result. Every file the run makes lives under
``.perfbench_run/`` in the working directory and is removed at the end,
except a traced run's spans, kept as ``.perfbench_run/spans-<workload>-seed<n>.jsonl``.
"""

import argparse
import os
import shutil
import subprocess
import sys
import uuid
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("cda_ingest", "snapshot_read", "table_dml", "table_dml_uri", "doc_dedup")
HEAP = "2g"
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit (org.apache.spark.launcher.JavaModuleOptions)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def jvm_command(classes: Path, run_dir: Path, main_args: list) -> list:
    opts = [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
    opts += [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:ParallelGCThreads=2",
             "-XX:ConcGCThreads=1", "-XX:-UsePerfData", f"-Djava.io.tmpdir={run_dir / 'tmp'}",
             "-Dspark.ui.enabled=false"]
    cp = f"{classes}{os.pathsep}{build.spark_jars() / '*'}"
    return [build.java(), *opts, "-cp", cp, "perfbench.Main", *main_args,
            "--run-dir", str(run_dir)]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and a.workload is None:
        ap.error("--workload is required")
    if a.seconds < 1:
        ap.error("--seconds must be at least 1")
    root = Path.cwd()
    try:
        classes = build.build(root)
    except build.BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    run_dir = root / ".perfbench_run" / uuid.uuid4().hex
    (run_dir / "tmp").mkdir(parents=True)
    main_args = (["--selftest", "1"] if a.selftest else
                 ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                  "--trace", str(a.trace)])
    try:
        proc = subprocess.run(jvm_command(classes, run_dir, main_args), stdout=subprocess.PIPE,
                              stderr=subprocess.PIPE, text=True, timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired as e:
        print(f"perfbench: run exceeded {RUN_TIMEOUT_S}s", file=sys.stderr)
        sys.stderr.write((e.stderr or b"")[-4000:].decode(errors="replace")
                         if isinstance(e.stderr, bytes) else (e.stderr or "")[-4000:])
        return 3
    finally:
        spans = run_dir / "spans.jsonl"
        if spans.exists():
            spans.replace(run_dir.parent / f"spans-{a.workload}-seed{a.seed}.jsonl")
        shutil.rmtree(run_dir, ignore_errors=True)
    notes = [l for l in proc.stderr.splitlines() if l.startswith("[perfbench]")]
    sys.stderr.write("\n".join(notes + ([proc.stderr[-4000:]] if proc.returncode else [])) + "\n")
    sys.stdout.write(proc.stdout)
    return proc.returncode


if __name__ == "__main__":
    sys.exit(main())
