#!/usr/bin/env python3
"""Active911 -> GeoJSON pipeline benchmark.

Run from the root of a checkout:

    python3 pipebench/run.py --workload fleet|busy|redelivery \
        --seed N --seconds S --trace 0|1

The first run builds the product and the benchmark with sbt (pipebench/
build.sbt pulls the product in from the checkout root); later runs reuse
that build while the sources are unchanged and start the JVM directly.
The last line of standard output is the result as one JSON object; the
lines before it print every metric by name with its unit. Work files and
traces go under .bench_build/pipebench/ in the checkout.
"""

import argparse
import hashlib
import json
import os
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
LAUNCH = HERE / "target" / "launch"
WORK = ROOT / ".bench_build" / "pipebench"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
HEAP = "-Xmx3g"


def sources_digest():
    """Hash of everything the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    inputs = [ROOT / "build.sbt", HERE / "build.sbt"]
    for base in (ROOT / "project", HERE / "project"):
        inputs += [p for p in base.glob("*") if p.suffix in (".sbt", ".scala", ".properties")]
    for base in (ROOT / "src" / "main", HERE / "src" / "main"):
        inputs += [p for p in base.rglob("*") if p.is_file()]
    for p in sorted(inputs):
        if p.is_file():
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def build():
    stamp = LAUNCH / "sources.sha256"
    digest = sources_digest()
    if stamp.is_file() and stamp.read_text() == digest:
        return True
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "writeLaunch"]
    try:
        done = subprocess.run(cmd, cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                              timeout=BUILD_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        print(f"pipebench: build failed: {e}", file=sys.stderr)
        return False
    if done.returncode != 0:
        print(f"pipebench: build failed ({done.returncode})", file=sys.stderr)
        return False
    stamp.write_text(digest)
    return True


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["fleet", "busy", "redelivery"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    args = ap.parse_args()

    if not build():
        return 2
    WORK.mkdir(parents=True, exist_ok=True)
    tmp = WORK / "tmp"
    tmp.mkdir(exist_ok=True)
    opts = [o for o in (LAUNCH / "jvm_options.txt").read_text().splitlines()
            if o and not o.startswith("-Xmx")]
    cmd = (["java"] + opts + [
        HEAP, "-XX:+UseG1GC",
        f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={tmp}",
        f"-Dspark.sql.warehouse.dir={WORK / 'warehouse'}",
        f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
        "-cp", (LAUNCH / "classpath.txt").read_text().strip(),
        "pipebench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", args.trace, "--work", str(WORK)])
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)  # would override spark.local.dir
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print("pipebench: run timed out", file=sys.stderr)
        return 3
    lines = out.splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(out)
        print(f"pipebench: run failed ({proc.returncode})", file=sys.stderr)
        return 4
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        print("pipebench: malformed result line", file=sys.stderr)
        return 5
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
