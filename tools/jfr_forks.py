#!/usr/bin/env python3
"""Count the processes a JVM forked, from a JFR recording.

    python3 tools/jfr_forks.py <file.jfr> [--frames N]

Reads the recording's `jdk.ProcessStart` events through the JDK's
`jfr print --events jdk.ProcessStart --stack-depth 30` and groups them
by command (the program name, without its arguments), by thread name
(UUIDs and digits stripped, so "task 17" and "task 18" are one thread
kind) and by the first N (default 3) caller frames outside the JDK and
Hadoop's `Shell`/`FileUtil` fork helpers, which name the code that
asked for the fork. Prints one line per group, most frequent first, then totals per
command.

Record with, for example,
`-XX:StartFlightRecording:filename=run.jfr,settings=profile` on the JVM
(`jdk.ProcessStart` is on in the default and profile settings), or from
inside the program with `jdk.jfr.Recording`.
"""
import argparse
import collections
import re
import shutil
import subprocess
import sys

# the JDK itself and Hadoop's fork helpers: frames that say how a
# process was started, not who wanted it
SKIP = ("java.", "javax.", "jdk.", "sun.", "com.sun.",
        "org.apache.hadoop.util.Shell", "org.apache.hadoop.fs.FileUtil.")
UUID = r"[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}"


def events(text):
    """Yield (command, thread, frames) per jdk.ProcessStart event."""
    command = thread = None
    frames = None
    for line in text.splitlines():
        s = line.strip()
        if s == "jdk.ProcessStart {":
            command, thread, frames = "", "", []
        elif frames is None:
            continue
        elif s.startswith("command = "):
            command = s[len("command = "):].strip('"')
        elif s.startswith("eventThread = "):
            m = re.match(r'eventThread = "(.*)" \(javaThreadId', s)
            thread = m.group(1) if m else s[len("eventThread = "):]
        elif s.startswith("stackTrace = ["):
            continue
        elif s == "}":
            yield command, thread, frames
            frames = None
        elif s not in ("]", "...") and "(" in s and "=" not in s:
            frames.append(s.split("(", 1)[0])


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("jfr")
    ap.add_argument("--frames", type=int, default=3,
                    help="caller frames to group by (default 3)")
    a = ap.parse_args()
    jfr = shutil.which("jfr")
    if jfr is None:
        sys.exit("jfr_forks: the JDK's `jfr` tool is not on PATH")
    out = subprocess.run(
        [jfr, "print", "--events", "jdk.ProcessStart", "--stack-depth", "30", a.jfr],
        check=True, capture_output=True, text=True).stdout

    groups = collections.Counter()
    per_command = collections.Counter()
    for command, thread, frames in events(out):
        prog = command.split(" ", 1)[0].rsplit("/", 1)[-1] or "?"
        callers = [f for f in frames if not f.startswith(SKIP)][:a.frames]
        kind = re.sub(r"\d+", "", re.sub(UUID, "", thread)).strip()
        groups[(prog, kind, " < ".join(callers))] += 1
        per_command[prog] += 1

    for (prog, thread, callers), n in groups.most_common():
        print(f"{n:7d}  {prog:10s}  {thread}  |  {callers}")
    print()
    for prog, n in per_command.most_common():
        print(f"{n:7d}  {prog}")
    print(f"{sum(per_command.values()):7d}  total process starts")


if __name__ == "__main__":
    main()
