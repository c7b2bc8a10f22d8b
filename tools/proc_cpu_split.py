"""Run a command and split its CPU by process and by JVM thread group.

    python tools/proc_cpu_split.py [--interval S] [--json FILE] CMD [ARG...]

The command runs to completion with its own stdin, stdout and stderr. Every
`--interval` seconds (default 0.1) the tool walks the command's process tree
through `/proc/<pid>/task/<tid>/children`, so it reads `/proc` only for the
command's own descendants, and keeps the last CPU reading (utime + stime) of
each process and of each thread of each JVM. At the end it prints to stderr:

- CPU by process group: the command line reduced to `python -m MODULE`,
  `java MAINCLASS` or the program name, so the `pyspark.daemon` and its
  forked task workers, each data-source planner and each streaming source
  runner get one line each however many processes they ran in;
- CPU of the JVMs by thread group: `C2`, `C1`, `py4j Thread-N` (the driver's
  py4j calls), `Executor task launch`, `GC`, `other`, and `exited threads`
  (the JVM's CPU that no live thread accounted for at its last reading);
- `total`: the CPU of the command and every descendant it reaped, from the
  kernel's accounting at exit (`wait4`), and `unsampled`: what the samples
  missed (processes that lived less than an interval, and the work after a
  process's last reading).

`--json FILE` also writes the split as one JSON object. Sampling costs about
1 % of a CPU at the default interval; run it in isolation, like the bench.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

_TICKS = os.sysconf("SC_CLK_TCK")


def _read(path: str) -> str | None:
    try:
        with open(path, "rb") as f:
            return f.read().decode("utf-8", "replace")
    except OSError:  # exited while we looked
        return None


def _cpu_s(stat: str) -> float:
    fields = stat[stat.rindex(")") + 2:].split()
    return (int(fields[11]) + int(fields[12])) / _TICKS  # utime + stime


def _group(argv: list[str]) -> str:
    prog = os.path.basename(argv[0]) if argv else "?"
    if "-m" in argv[:-1]:  # python -m MODULE, through any launcher
        return f"python -m {argv[argv.index('-m') + 1]}"
    if prog == "java":
        main = [a for a in argv[1:] if not a.startswith("-")
                and "/" not in a and "." in a]
        return f"java {main[0] if main else ''}".rstrip()
    return prog


def _thread_group(comm: str) -> str:
    if comm.startswith("C2 Compiler"):
        return "C2"
    if comm.startswith("C1 Compiler"):
        return "C1"
    if comm.startswith("Thread-"):
        return "py4j Thread-N"
    if comm.startswith("Executor task"):
        return "Executor task launch"
    if comm.startswith(("GC Thread", "G1 ")):
        return "GC"
    return "other"


class Tree:
    """Last readings of every process and JVM thread seen under one root."""

    def __init__(self, root: int):
        self.root = root
        self.procs: dict[tuple[int, str], tuple[str, float]] = {}
        self.threads: dict[tuple[int, str], dict[int, tuple[str, float]]] = {}

    def sample(self) -> None:
        todo = [self.root]
        while todo:
            pid = todo.pop()
            stat = _read(f"/proc/{pid}/stat")
            cmd = _read(f"/proc/{pid}/cmdline")
            try:
                tids = os.listdir(f"/proc/{pid}/task")
            except OSError:
                continue
            if stat is None or cmd is None:
                continue
            # (pid, start time) names a process across pid reuse
            key = (pid, stat[stat.rindex(")") + 2:].split()[19])
            if cmd:
                group = _group(cmd.rstrip("\0").split("\0"))
            else:  # a zombie has no command line: keep the one seen before
                group = self.procs.get(key, ("(exited)", 0.0))[0]
            self.procs[key] = (group, _cpu_s(stat))
            jvm = group.startswith("java")
            for tid in tids:
                todo.extend(int(c) for c in (_read(
                    f"/proc/{pid}/task/{tid}/children") or "").split())
                if jvm:
                    tstat = _read(f"/proc/{pid}/task/{tid}/stat")
                    if tstat is not None:
                        comm = tstat[tstat.index("(") + 1:tstat.rindex(")")]
                        self.threads.setdefault(key, {})[int(tid)] = (
                            _thread_group(comm), _cpu_s(tstat))

    def split(self, total: float) -> dict:
        by_group: dict[str, float] = {}
        for group, cpu in self.procs.values():
            by_group[group] = by_group.get(group, 0.0) + cpu
        jvm: dict[str, float] = {}
        for key, threads in self.threads.items():
            for group, cpu in threads.values():
                jvm[group] = jvm.get(group, 0.0) + cpu
            jvm["exited threads"] = (jvm.get("exited threads", 0.0)
                                     + self.procs[key][1]
                                     - sum(c for _, c in threads.values()))
        seen = sum(by_group.values())
        return {"total": total, "unsampled": total - seen,
                "processes": dict(sorted(by_group.items(), key=lambda kv: -kv[1])),
                "jvm_threads": dict(sorted(jvm.items(), key=lambda kv: -kv[1]))}


def _print(split: dict) -> None:
    err = sys.stderr
    print(f"{'CPU-s':>9}  process group", file=err)
    for group, cpu in split["processes"].items():
        print(f"{cpu:9.2f}  {group}", file=err)
    print(f"{split['unsampled']:9.2f}  (unsampled)", file=err)
    print(f"{split['total']:9.2f}  total", file=err)
    if split["jvm_threads"]:
        print(f"{'CPU-s':>9}  JVM thread group", file=err)
        for group, cpu in split["jvm_threads"].items():
            print(f"{cpu:9.2f}  {group}", file=err)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--interval", type=float, default=0.1)
    ap.add_argument("--json", metavar="FILE")
    ap.add_argument("cmd", nargs=argparse.REMAINDER)
    args = ap.parse_args(argv)
    if not args.cmd:
        ap.error("no command given")
    pid = os.spawnvp(os.P_NOWAIT, args.cmd[0], args.cmd)
    tree = Tree(pid)
    while True:
        tree.sample()
        done, status, usage = os.wait4(pid, os.WNOHANG)
        if done:
            break
        time.sleep(args.interval)
    split = tree.split(usage.ru_utime + usage.ru_stime)
    _print(split)
    if args.json:
        with open(args.json, "w") as f:
            json.dump(split, f, indent=1)
    return os.waitstatus_to_exitcode(status)


if __name__ == "__main__":
    sys.exit(main())
