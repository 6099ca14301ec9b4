#!/usr/bin/env python3
"""Count the processes a JVM launched, from a JFR recording.

Usage: python3 tools/jfr_forks.py <file.jfr> [--spans spans.jsonl] [--json]

Runs `jfr print --events jdk.ProcessStart` (the JDK's own `jfr` tool, JDK
17+) on the recording and prints every process launch grouped two ways:
by the program launched (the command's first word, e.g. `readlink`,
`chmod`) and by the first Spark frame on the launching thread's stack
(e.g. `...FileContextBasedCheckpointFileManager.renameTempFile`), with
`(no Spark frame)` for launches outside Spark. `--spans` names the
spans.jsonl of the same traced perfbench run; its `trigger:<id>` spans
give the number of micro-batch triggers, and the launches per trigger are
printed too. `--json` prints the same counts as one JSON object instead.

Record with, for example:

    JAVA_TOOL_OPTIONS="-XX:StartFlightRecording=filename=run.jfr,dumponexit=true" \\
        python3 perfbench/run.py --workload stream-wordcount --seed 1 --seconds 30 --trace 1
"""
import argparse
import collections
import json
import re
import subprocess

STACK_DEPTH = 64
COMMAND = re.compile(r'^\s*command = "(.*)"\s*$')
FRAME = re.compile(r'^\s*([\w$.]+)\(.*\)(?: line: \d+)?\s*$')
SPARK = "org.apache.spark."


def launches(jfr_file):
    """Yield (command, first Spark frame or None) per jdk.ProcessStart event."""
    out = subprocess.run(
        ["jfr", "print", "--stack-depth", str(STACK_DEPTH), "--events", "jdk.ProcessStart", jfr_file],
        check=True, stdout=subprocess.PIPE, text=True).stdout
    for event in out.split("jdk.ProcessStart {")[1:]:
        command, caller = None, None
        for line in event.splitlines():
            m = COMMAND.match(line)
            if m:
                command = m.group(1)
                continue
            m = FRAME.match(line)
            if m and caller is None and m.group(1).startswith(SPARK):
                caller = m.group(1)
        yield command or "", caller


def triggers(spans_file):
    """The number of micro-batch triggers a traced perfbench run recorded."""
    with open(spans_file) as fh:
        return sum(json.loads(line)["name"].startswith("trigger:") for line in fh if line.strip())


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("jfr_file")
    ap.add_argument("--spans", help="spans.jsonl of the same traced perfbench run")
    ap.add_argument("--json", action="store_true")
    args = ap.parse_args()
    by_program = collections.Counter()
    by_caller = collections.Counter()
    for command, caller in launches(args.jfr_file):
        by_program[command.split(" ", 1)[0]] += 1
        by_caller[caller or "(no Spark frame)"] += 1
    report = {"total": sum(by_program.values())}
    if args.spans:
        report["triggers"] = triggers(args.spans)
        report["per_trigger"] = round(report["total"] / max(report["triggers"], 1), 1)
    report["by_program"] = dict(by_program.most_common())
    report["by_spark_caller"] = dict(by_caller.most_common())
    if args.json:
        print(json.dumps(report, indent=1))
        return
    print(f"process launches: {report['total']}")
    if args.spans:
        print(f"triggers: {report['triggers']}, launches per trigger: {report['per_trigger']}")
    for title, key in (("by program", "by_program"), ("by first Spark caller", "by_spark_caller")):
        print(f"\n{title}:")
        for name, n in report[key].items():
            print(f"  {n:7d}  {name}")


if __name__ == "__main__":
    main()
