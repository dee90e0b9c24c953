"""Shared machinery of a benchmark run: the Spark session, engines, round
timing, resource readings and the traced run's profile."""

from __future__ import annotations

import json
import os
import subprocess
import time

from perfbench import eventlog
from perfbench.tracing import Tracer

STATE_TABLE_SPANS = ("append", "write_frontier", "commit", "read_through")


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def tree_cpu_s(root: int, exclude=()) -> float:
    """CPU seconds (user + system, threads and reaped children included)
    used so far by process ``root`` and all its live descendants, leaving
    out the subtrees rooted at ``exclude``."""
    procs = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[1] is ppid; [11:15] are utime, stime, cutime, cstime
        procs[int(name)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [root]
    while todo:
        pid = todo.pop()
        if pid in exclude:
            continue
        ticks += procs.get(pid, (0, 0))[1]
        todo += children.get(pid, [])
    return ticks / os.sysconf("SC_CLK_TCK")


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(dirpath, name))
    return total


class Run:
    """One workload run: owns the session, the tracer and the round log."""

    def __init__(self, args, run_dir: str, cpus: int):
        self.t_start = time.time()  # set-up is timed from here
        self.args = args
        self.run_dir = run_dir
        self.cpus = cpus
        self.tracer = Tracer() if args.trace else None
        self.spark = None
        self.session_start_s = 0.0
        # (round, start, end) of every round this process ran, for the
        # event-log parser
        self.round_spans: list[tuple[int, float, float]] = []
        self.children: list[subprocess.Popen] = []
        self.info: dict = {}  # run facts reported beside the metrics

    # -- set-up ---------------------------------------------------------------

    def start_session(self):
        from crawler_spark.session import get_spark

        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
            # a fixed-size heap, touched in full at start: peak RSS is then
            # the heap plus what lives outside it (off-heap buffers, code,
            # threads), not a trace of how far the collector let the heap
            # spread before its last cycle, which varied by a tenth
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={self.run_dir}/tmp "
                f"-Xms{os.environ['SPARK_DRIVER_MEM']} -XX:+AlwaysPreTouch"
            ),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.args.trace:
            log_dir = os.path.join(self.run_dir, "eventlog")
            os.makedirs(log_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                # Spark 4 defaults to zstd; the stdlib cannot read it
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        t0 = time.time()
        self.spark = get_spark(
            f"perfbench-{self.args.workload}",
            master=f"local[{self.cpus}]",
            shuffle_partitions=self.cpus,
            extra_conf=conf,
        )
        self.session_start_s = time.time() - t0
        self.info["java"] = self.spark._jvm.java.lang.System.getProperty(
            "java.runtime.version"
        )
        if self.tracer:
            self.tracer.install()
        return self.spark

    def spawn(self, cmd: list[str]) -> subprocess.Popen:
        """Start a helper process; it must exit when its stdin closes."""
        p = subprocess.Popen(
            cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True
        )
        self.children.append(p)
        return p

    def cpu_s(self) -> float:
        """CPU seconds used so far by the crawler: this process, the Spark
        JVM and its Python workers (helper processes left out)."""
        return tree_cpu_s(os.getpid(), exclude={p.pid for p in self.children})

    # -- rounds ---------------------------------------------------------------

    def round(self, eng):
        """Run one engine round; returns (stats, manifest before the round)."""
        rnd = eng.store.latest_round() + 1
        before = eng.store.manifest(rnd - 1)
        if self.tracer:
            self.tracer.round = rnd
        t0 = time.time()
        stats = eng.run(max_rounds=1)
        self.round_spans.append((rnd, t0, time.time()))
        if self.tracer:
            self.tracer.round = None
        return (stats[0] if stats else None), before

    # -- results --------------------------------------------------------------

    def peak_rss_mb(self) -> float:
        jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())
        return vm_hwm_mb(jvm_pid) + vm_hwm_mb(os.getpid())

    def layer_metrics(self, measured, frontier_rows, speed: dict) -> dict:
        """Per-layer metrics of the measured rounds, from the event log and
        the tracer. Call after stop() (the event log is complete then)."""
        rounds = [s.round for s in measured]
        n = len(rounds)
        spans = [sp for sp in self.round_spans if sp[0] in set(rounds)]
        logs = [
            os.path.join(self.run_dir, "eventlog", f)
            for f in os.listdir(os.path.join(self.run_dir, "eventlog"))
        ]
        jobs, stages = eventlog.parse(
            ev for path in logs for ev in eventlog.read_events(path)
        )
        prof = eventlog.round_profile(jobs, stages, spans)
        out: dict[str, tuple[float, str]] = {}
        for ph in eventlog.PHASES:
            for q in eventlog.QUANTITIES:
                v = sum(r["phases"][ph][q] for r in prof) / n
                out[f"{ph}.{q}"] = (v, eventlog.UNITS[q])
        gap = sum(r["driver_gap_s"] for r in prof) / n
        wall = sum(r["wall_s"] for r in prof) / n
        phase_spans = sum(
            r["phases"][ph]["span_s"] for r in prof for ph in eventlog.PHASES
        ) / n
        out["engine.driver_gap_s"] = (gap, "s")
        out["engine.jobs_per_round"] = (sum(r["jobs"] for r in prof) / n, "count")
        out["engine.other_span_s"] = (
            sum(r["phases"]["other"]["span_s"] for r in prof) / n, "s"
        )
        out["engine.accounted_ratio"] = ((phase_spans + gap) / wall, "ratio")
        for name in STATE_TABLE_SPANS:
            calls, secs = self.tracer.totals(f"state.{name}", rounds)
            out[f"state.{name}.calls"] = (calls / n, "count")
            out[f"state.{name}.s"] = (secs / n, "s")
        bloom_s = sum(
            self.tracer.totals(f"dedup.{f}", rounds)[1] for f in ("build_bloom", "or_blooms")
        )
        out["dedup.bloom_build_s"] = (bloom_s / n, "s")
        sel = sum(s.selected for s in measured)
        ok = sum(s.fetched_ok for s in measured)
        out["dedup.survivor_ratio"] = (sel / max(1, sum(frontier_rows)), "ratio")
        out["fetch.ok_ratio"] = (ok / max(1, sel), "ratio")
        out["parse.links_per_page"] = (
            sum(s.new_links for s in measured) / max(1, ok), "count"
        )
        out["session.start_s"] = (self.session_start_s, "s")
        # the traced run's own round speed; against the untraced runs' it
        # gives the tracing overhead
        out["trace.urls_per_s"] = (speed["urls_per_s"], "1/s")
        out["trace.round_s_p50"] = (speed["round_s_p50"], "s")
        out["trace.round_cpu_s"] = (speed["round_cpu_s"], "s")
        out["trace.resume_s"] = (speed["resume_s"], "s")
        self.tracer.write(os.path.join(self.args.out_dir, f"{self.args.workload}_spans.jsonl"))
        with open(os.path.join(self.args.out_dir, f"{self.args.workload}_profile.json"), "w") as f:
            json.dump(prof, f)
        return out

    def stop(self) -> None:
        """Stop Spark, its JVM and every helper process, and wait for them."""
        if self.tracer:
            self.tracer.uninstall()
        for p in self.children:
            if p.stdin:
                p.stdin.close()
        if self.spark is not None:
            from pyspark import SparkContext

            self.spark.stop()
            gw = SparkContext._gateway
            if gw is not None:
                gw.shutdown()
                proc = getattr(gw, "proc", None)
                if proc is not None:
                    proc.stdin.close()
                    proc.wait(timeout=60)
                SparkContext._gateway = None
                SparkContext._jvm = None
            self.spark = None
        for p in self.children:
            try:
                p.wait(timeout=30)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
        self.children.clear()
