"""Count the child processes a JVM started, from a JFR recording.

Reads the `jdk.ProcessStart` events of a recording (JFR's default
settings enable them, with stack traces) through the JDK's `jfr` tool
and prints two tables: the count per command (its first word), and the
count per command and caller, the caller being the first Hadoop, Spark,
Parquet or graft frame of the stack outside the process launcher
(`org.apache.hadoop.util.Shell*`) and Hadoop's filesystem layers
(`org.apache.hadoop.fs.*`), e.g. `FileOutputCommitter.setupJob` or
`graft.sources.Sinks$.withDirLock`.

    JAVA_TOOL_OPTIONS="-XX:StartFlightRecording=filename=run.jfr" \\
        python3 perfbench/run.py --workload curation_ingest --seed 1 --seconds 5
    python3 tools/process_starts.py run.jfr
"""
import collections
import json
import subprocess
import sys

FAMILIES = ("org.apache.hadoop.", "org.apache.spark.", "org.apache.parquet.", "graft.")
SKIPPED = ("org.apache.hadoop.util.Shell", "org.apache.hadoop.fs.")


def events(jfr_file):
    out = subprocess.run(
        ["jfr", "print", "--json", "--stack-depth", "64",
         "--events", "jdk.ProcessStart", jfr_file],
        check=True, capture_output=True, text=True).stdout
    return json.loads(out)["recording"]["events"]


def frames(event):
    trace = event["values"].get("stackTrace") or {"frames": []}
    for f in trace["frames"]:
        m = f["method"]
        yield m["type"]["name"].replace("/", ".") + "." + m["name"]


def caller(event):
    for name in frames(event):
        if name.startswith(FAMILIES) and not name.startswith(SKIPPED):
            return name
    return "(no Hadoop/Spark/Parquet/graft frame)"


def main(argv):
    if len(argv) != 2:
        raise SystemExit("usage: process_starts.py <file.jfr>")
    evs = events(argv[1])
    commands = collections.Counter()
    callers = collections.Counter()
    for e in evs:
        command = (e["values"].get("command") or "").split(" ")[0]
        commands[command] += 1
        callers[(command, caller(e))] += 1
    print(f"jdk.ProcessStart events: {len(evs)}")
    print("\nper command:")
    for command, n in commands.most_common():
        print(f"{n:6d}  {command}")
    print("\nper command and first Hadoop/Spark/Parquet/graft frame"
          " outside Shell and org.apache.hadoop.fs:")
    for (command, frame), n in sorted(callers.items(), key=lambda kv: (-kv[1], kv[0])):
        print(f"{n:6d}  {command:8s}  {frame}")


if __name__ == "__main__":
    main(sys.argv)
