"""Served-catalog benchmark: one seeded workload against the HTTP server.

    python3 perfbench/run.py --workload interactive_mql --seed 1 \\
        --seconds 10 --trace 0

Run from the repository root. Each run writes a fresh input directory,
warehouse and durable root under ``.perfbench/`` and removes them at the
end. With ``--trace 0`` the server is ``python -m metacat_spark.server``
in a subprocess and the end-to-end metrics are reported; with
``--trace 1`` the same seeded sequence runs against an in-process
server (``server.start_server``) whose layers are wrapped by
``perfbench/trace.py``, and the per-layer metrics are reported. Every
response is checked; the last stdout line is the JSON result. Runs are
gated on hypervisor steal with ``bench.py``'s probes (see STEAL_CEILING).
"""

from __future__ import annotations

import argparse
import http.client
import json
import os
import select
import shutil
import signal
import socket
import subprocess
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor

ROOT = os.getcwd()
sys.path.insert(0, ROOT)    # the checkout: perfbench/ and metacat_spark/

try:
    # the host-noise probes of the repository's in-process benchmark
    from bench import (_await_low_steal, _cpu_ticks, _idle_ticks,
                       _stray_jvms)
except ImportError as e:
    sys.exit(f"perfbench: {e}; run from the repository root")
from perfbench.datagen import write_tables  # noqa: E402
from perfbench.measure import (JsonSeqParser, dir_usage,  # noqa: E402
                               median, RssSampler, row_key, set_hash,
                               steal_share, tail, tree_cpu_s, tree_pids)
DRIVER_MEMORY = "2g"
READY_TIMEOUT_S = 150
REQUEST_TIMEOUT_S = 120
# Host-noise gate. Before the server starts, wait up to START_WAIT_S for
# a window with steal below STEAL_CEILING (bench._await_low_steal): steal
# episodes on a shared host last minutes and slow every layer, CPU time
# included. A measured pass whose steal share is above the ceiling is
# set aside, the host is re-gated (up to REGATE_WAIT_S) and the same pass
# is sent again, until RETRY_WINDOW_S after the first gate; never when that
# gate found no quiet window. All runs in one checkout share GATE_BUDGET_S of
# waiting (kept in GATE_LEDGER), so a long noisy spell cannot stretch a
# series of runs without bound; a run waits at most about 90 s.
STEAL_CEILING = 0.02
START_WAIT_S = 60
REGATE_WAIT_S = 5
RETRY_WINDOW_S = 60
GATE_BUDGET_S = 600
GATE_LEDGER = os.path.join(ROOT, ".perfbench", "gate_wait_s")

# registered in BENCHMARK.json: reported on every workload
END_TO_END = {"setup_s": "s", "read_p50_ms": "ms"}
# printed, not registered (see perfbench/README.md)
REPORTED = {"peak_rss_mb": "MB", "server_cpu_ms_per_read": "ms",
            "reads_per_s": "1/s", "first_row_p50_ms": "ms",
            "rows_per_s": "1/s", "read_tail_ms": "ms", "write_p50_ms": "ms", "write_tail_ms": "ms",
            "write_amp": "ratio", "error_rate": "ratio"}
# registered: layers that run on both workloads
PER_LAYER = {
    "mql.parse_ms": "ms", "engine.translate_ms": "ms",
    "engine.translate_jobs": "count", "engine.py4j_calls": "count",
    "catalyst.plan_ms": "ms", "spark.exec_ms": "ms",
    "spark.jobs": "count", "spark.stages": "count",
    "spark.tasks": "count", "client.deliver_ms": "ms",
    "client.deliver_jobs": "count", "client.rows_per_job": "count",
    "server.self_ms": "ms", "server.bytes_out": "bytes",
    "catalog.files_partitions": "count", "session.start_s": "s",
    "catalog.ingest_s": "s", "catalog.warehouse_mb": "MB",
    "stats.populate_s": "s", "trace.overhead_pct": "%",
}
# printed: layers that run on one workload only (0 on the other)
LAYER_REPORTED = {
    "stats.restart_populate_s": "s",
    "dml.write_ms": "ms", "dml.jobs": "count",
    "durable.commit_ms": "ms", "durable.bytes_written": "bytes",
    "durable.files_written": "count", "durable.attach_s": "s",
    "llm.analyze.ms": "ms", "llm.analyze.jobs": "count",
    "llm.analyze.tasks": "count", "llm.dedup.ms": "ms",
    "llm.dedup.jobs": "count", "llm.dedup.tasks": "count",
}


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def server_env(work: str) -> dict:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return {"SPARK_GRAFT_CPUS": str(cpus()), "SPARK_LOCAL_DIRS": tmp,
            "SPARK_DRIVER_MEMORY": DRIVER_MEMORY, "TMPDIR": tmp,
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}"}


def host_ticks() -> tuple[int, int, int]:
    """(steal, total, idle) ticks of /proc/stat."""
    return (*_cpu_ticks(), _idle_ticks())


def gate(max_wait_s: float) -> float:
    """Wait for a low-steal window for at most ``max_wait_s``, and at most
    what is left of the checkout's GATE_BUDGET_S; charge the time to
    GATE_LEDGER. Returns the last probed steal share (-1 if skipped)."""
    try:
        with open(GATE_LEDGER) as f:
            spent = float(f.read())
    except (OSError, ValueError):
        spent = 0.0
    t = time.monotonic()
    share = _await_low_steal(
        threshold=STEAL_CEILING, poll_s=5,
        max_wait_s=max(0.0, min(max_wait_s, GATE_BUDGET_S - spent)))
    with open(GATE_LEDGER, "w") as f:
        f.write(f"{spent + time.monotonic() - t:.3f}")
    return share


def free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


# ------------------------------------------------------------ the server

class ServerProcess:
    """``python -m metacat_spark.server`` with its warehouse (the
    working directory's spark-warehouse/) and durable root in ``work``."""

    def __init__(self, work: str, data_dir: str, durable_root=None):
        self.cwd = os.path.join(work, "server")
        os.makedirs(self.cwd, exist_ok=True)
        self.work, self.data_dir = work, data_dir
        self.durable_root = durable_root
        self.proc = None
        self.port = 0
        self.warehouse = os.path.join(self.cwd, "spark-warehouse")

    def start(self) -> float:
        """Launch and wait until the server reports it is serving;
        returns the seconds that took."""
        self.port = free_port()
        cmd = [sys.executable, "-u", "-m", "metacat_spark.server",
               "--sf-dir", self.data_dir, "--port", str(self.port)]
        if self.durable_root:
            cmd += ["--durable-root", self.durable_root]
        env = dict(os.environ, PYTHONPATH=ROOT, **server_env(self.work))
        t0 = time.perf_counter()
        self.log = open(os.path.join(self.work, "server.log"), "ab")
        self.proc = subprocess.Popen(cmd, cwd=self.cwd, env=env,
                                     stdout=subprocess.PIPE,
                                     stderr=self.log)
        self.rss = RssSampler(self.proc.pid)
        deadline = time.monotonic() + READY_TIMEOUT_S
        line = b""
        while time.monotonic() < deadline:
            ready, _, _ = select.select([self.proc.stdout], [], [],
                                        deadline - time.monotonic())
            if not ready:
                break
            line = self.proc.stdout.readline()
            if not line or line.startswith(b"serving on"):
                break
        if not line.startswith(b"serving on"):
            self.kill()
            raise RuntimeError(f"server did not become ready "
                               f"(see {self.work}/server.log)")
        return time.perf_counter() - t0

    def kill(self) -> None:
        """SIGKILL the server's whole process tree (the JVM included)
        and wait until every process of it has ended."""
        if self.proc is None:
            return
        self.rss.stop()
        pids = tree_pids(self.proc.pid)
        for p in pids:
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
        self.proc.wait()
        self.proc.stdout.close()
        self.log.close()
        deadline = time.monotonic() + 30
        while time.monotonic() < deadline and any(
                _alive(p) for p in pids):
            time.sleep(0.05)
        self.proc = None


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


# -------------------------------------------------------- load generator

class LoadGen:
    """The single load-generator process: one closed-loop client that
    sends an op, reads the whole response, checks it, and records it."""

    def __init__(self, port: int, tracer=None):
        self.port = port
        self.tracer = tracer
        self.samples: list[dict] = []
        self.failures: list[str] = []
        self.attempted = 0
        self._n = 0
        self._lock = threading.Lock()
        self.pairs: list[tuple] = []

    def send(self, op, phase: str, traced: bool = False) -> dict:
        with self._lock:
            self._n += 1
            req = f"r{self._n}"
        if self.tracer is not None:
            self.tracer.enabled = traced
        conn = http.client.HTTPConnection("127.0.0.1", self.port,
                                          timeout=REQUEST_TIMEOUT_S)
        s = {"template": op.template, "kind": op.kind, "phase": phase,
             "first": None}
        records, raw, err = [], b"", None
        s["start"] = time.perf_counter()
        try:
            conn.request("POST" if op.body is not None else "GET",
                         op.path, body=op.body,
                         headers={"X-Bench-Req": req})
            resp = conn.getresponse()
            parser = (JsonSeqParser() if op.stream and resp.status == 200
                      else None)
            while True:
                chunk = resp.read1(1 << 16)
                if not chunk:
                    break
                if parser is None:
                    raw += chunk
                    continue
                got = parser.feed(chunk)
                if got and s["first"] is None:
                    s["first"] = time.perf_counter()
                records.extend(got)
            if parser is not None:
                parser.close()
            s["end"] = time.perf_counter()
            err = check(op, resp.status, records, raw)
        except (OSError, http.client.HTTPException, ValueError) as e:
            s["end"] = time.perf_counter()
            err = f"{type(e).__name__}: {e}"
        finally:
            conn.close()
        if self.tracer is not None:
            if traced:
                self.tracer.settle(req)
            self.tracer.enabled = False
        s["records"] = len(records)
        s["ok"] = err is None
        with self._lock:
            self.attempted += 1
            self.samples.append(s)
            if err is not None:
                msg = f"{phase} {op.template} {op.path[:120]}: {err}"
                self.failures.append(msg)
                print(f"# FAILED {msg}", flush=True)
        return s

    def send_pair(self, op, settle: bool = False) -> None:
        """Traced run: a read goes out twice, untraced and traced, in
        alternating order, so ``pairs`` measures the tracing overhead on
        identical requests; a write goes out once, traced. ``settle``
        sends the read once more before the pair, for a read whose
        first execution after a write re-plans the mutated catalog."""
        if op.kind != "read":
            self.send(op, "measure", traced=True)
            return
        if settle:
            self.send(op, "settle")
        if len(self.pairs) % 2:
            t = self.send(op, "measure", traced=True)
            u = self.send(op, "untraced")
        else:
            u = self.send(op, "untraced")
            t = self.send(op, "measure", traced=True)
        self.pairs.append((u, t))

    def warm_up(self, ops: list) -> None:
        """One pass over ``ops`` from up to nproc concurrent connections:
        the first execution of every template (plan compilation, Python
        worker start-up) is paid before the measured closed loop."""
        if not ops:
            return
        with ThreadPoolExecutor(min(cpus(), len(ops))) as pool:
            for f in [pool.submit(self.send, op, "warmup") for op in ops]:
                f.result()


def check(op, status: int, records: list, raw: bytes):
    """None if the response matches the op's expectation, else why not."""
    if status != 200:
        return f"HTTP {status}: {raw[:200].decode(errors='replace')}"
    exp = op.expect
    if op.kind == "write" or exp is None:
        return None
    mode = exp["mode"]
    if mode == "rows":
        n = len(records)
        h = set_hash(row_key(r, exp["fields"]) for r in records)
        if n != exp["count"] or h != exp["hash"]:
            return (f"rows {n} hash {h}, expected {exp['count']} "
                    f"hash {exp['hash']}")
        return None
    body = json.loads(raw)
    if mode == "count":
        got = (body.get("count"), body.get("total_size"))
        want = (exp["count"], exp["total_size"])
    elif mode == "file":
        got = {k: body.get(k) for k in exp["record"]}
        want = exp["record"]
    elif mode == "file_meta":
        got = (body.get("id"), (body.get("metadata") or {}).get("core.run"))
        want = (exp["id"], exp["core.run"])
    else:
        return f"unknown expectation mode {mode}"
    return None if got == want else f"got {got}, expected {want}"


# --------------------------------------------------------------- metrics

def end_to_end(passes: list, writes: list) -> tuple[dict, dict]:
    """Read latency and throughput over the kept measured passes (see
    ``measure_loop``); write latency over every write."""
    kept = [p for p in passes if p["kept"]]
    reads = [s for p in kept for s in p["samples"] if s["kind"] == "read"]
    window = sum(p["seconds"] for p in kept)
    lat = [1e3 * (s["end"] - s["start"]) for s in reads]
    first = [1e3 * (s["first"] - s["start"]) for s in reads
             if s["first"] is not None]
    out = {"read_p50_ms": median(lat),
           "reads_per_s": len(reads) / window,
           "first_row_p50_ms": median(first),
           "rows_per_s": sum(s["records"] for s in reads) / window}
    out["read_tail_ms"], pct, n = tail(lat)
    info = {"read_tail_pct": pct, "read_samples": n,
            "measured_s": window,
            "pass_steal": [round(p["steal"], 4) for p in passes],
            "pass_kept": [p["kept"] for p in passes],
            "kept_steal_max": max(p["steal"] for p in kept)}
    per = {}
    for s in reads + writes:
        per.setdefault(s["template"], []).append(1e3 * (s["end"] - s["start"]))
    info["template_median_ms"] = {k: round(median(v), 1)
                                  for k, v in per.items()}
    if writes:
        wl = [1e3 * (s["end"] - s["start"]) for s in writes]
        out["write_p50_ms"] = median(wl)
        out["write_tail_ms"], info["write_tail_pct"], \
            info["write_samples"] = tail(wl)
    return out, info


def measure_loop(gen, passes: list, seconds: float, deadline: float,
                 traced: bool = False, cpu_pid: int = 0) -> list:
    """Send every pass (a list of ops) once, in order; then the whole
    list again while the kept passes have taken fewer than ``seconds``.
    A run therefore measures whole copies of one mix, whatever the
    program's speed.

    A pass whose steal share is above STEAL_CEILING is not kept: the
    host is re-gated and the same pass is sent again, until ``deadline``
    (time.monotonic()). The last attempt of a pass is kept either way. Returns one record
    per attempt: samples, seconds, steal share, server CPU seconds (of
    ``cpu_pid``'s tree) and whether it is kept."""
    out = []
    while not out or sum(p["seconds"] for p in out if p["kept"]) < seconds:
        for ops in passes:
            while True:
                n, h0, t = len(gen.samples), host_ticks(), time.perf_counter()
                cpu = tree_cpu_s(cpu_pid) if cpu_pid else 0.0
                for op in ops:
                    if traced:
                        gen.send_pair(op)
                    else:
                        gen.send(op, "measure")
                rec = {"samples": [s for s in gen.samples[n:]
                                   if s["phase"] == "measure"],
                       "seconds": time.perf_counter() - t,
                       "steal": steal_share(h0, host_ticks()),
                       "cpu_s": (tree_cpu_s(cpu_pid) - cpu
                                 if cpu_pid else 0.0),
                       "kept": True}
                out.append(rec)
                if (rec["steal"] <= STEAL_CEILING
                        or time.monotonic() > deadline):
                    break
                rec["kept"] = False
                print(f"# pass steal {rec['steal']:.1%} > "
                      f"{STEAL_CEILING:.0%}: re-gating and sending the "
                      f"pass again", file=sys.stderr)
                gate(REGATE_WAIT_S)
    return out


# ------------------------------------------------------------- workloads

def run_served(args, work: str, spec: dict, deadline: float) -> dict:
    """--trace 0: the server in a subprocess. declare_and_query runs its
    write sequence and then one or more read-only passes over the
    mutated catalog."""
    declare = args.workload == "declare_and_query"
    durable = os.path.join(work, "durable") if declare else None
    srv = ServerProcess(work, os.path.join(work, "data"), durable)
    try:
        ready = srv.start()
        gen = LoadGen(srv.port)
        t = time.perf_counter()
        gen.warm_up(spec.get("warmup", []))
        warmup = time.perf_counter() - t
        if declare:
            # the write sequence checks read-after-write; the measured
            # window is the read passes over the mutated catalog after it
            b0, _ = dir_usage(durable)
            for op in spec["sequence"]:
                gen.send(op, "sequence")
            b1, _ = dir_usage(durable)
        passes = measure_loop(gen, spec["passes"], args.seconds, deadline,
                              cpu_pid=srv.proc.pid)
        metrics, info = end_to_end(
            passes, [s for s in gen.samples if s["kind"] == "write"])
        cpu = sum(p["cpu_s"] for p in passes if p["kept"])
        metrics["server_cpu_ms_per_read"] = 1e3 * cpu / info["read_samples"]
        metrics["setup_s"] = ready + warmup
        info["ready_s"], info["warmup_s"] = ready, warmup
        metrics["peak_rss_mb"] = srv.rss.stop()
        if declare:
            metrics["write_amp"] = (b1 - b0) / spec["payload_bytes"]
    finally:
        srv.kill()
    metrics["error_rate"] = len(gen.failures) / gen.attempted
    info["warehouse"] = srv.warehouse
    return {"metrics": metrics, "info": info, "load": gen}


def run_traced(args, work: str, spec: dict, deadline: float) -> dict:
    """--trace 1: the same sequence against an in-process server whose
    layers are wrapped; reads are sent twice, untraced and traced (see
    ``LoadGen.send_pair``)."""
    from perfbench.trace import Tracer, layer_table
    declare = args.workload == "declare_and_query"
    data_dir = os.path.join(work, "data")
    srv_dir = os.path.join(work, "server")
    os.makedirs(srv_dir, exist_ok=True)
    os.environ.update(server_env(work))
    os.chdir(srv_dir)       # the session's spark-warehouse/ goes here
    durable = os.path.join(work, "durable") if declare else None
    timings = {}

    def timed(name, fn, *a, **k):
        t = time.perf_counter()
        out = fn(*a, **k)
        timings[name] = time.perf_counter() - t
        return out

    from metacat_spark import server as SRV
    from metacat_spark.catalog import from_materialized
    from metacat_spark.client import MetaCatSparkClient
    from metacat_spark.session import get_spark

    spark = timed("session.start_s", get_spark, "perfbench_traced")
    tracer = Tracer(spark)
    servers = []
    try:
        tracer.install()
        cat = timed("catalog.ingest_s", from_materialized, spark,
                    data_dir)
        client = MetaCatSparkClient(spark, catalog=cat,
                                    durable_root=durable)
        srv, port = SRV.start_server(client)
        servers.append(srv)
        gen = LoadGen(port, tracer)
        timed("warmup_s", gen.warm_up, spec.get("warmup", []))
        t0 = time.perf_counter()
        if declare:
            for op in spec["sequence"]:
                gen.send_pair(op, settle=True)
            measure_loop(gen, spec["passes"], args.seconds, deadline,
                         traced=True)
            # an in-process restart: a new catalog over the same
            # warehouse attaches the durable root
            client2 = MetaCatSparkClient(
                spark, catalog=from_materialized(spark, data_dir),
                durable_root=durable)
            srv2, port2 = SRV.start_server(client2)
            servers.append(srv2)
            gen.port = port2
            for op in spec["verify"]:
                gen.send(op, "verify")
        else:
            measure_loop(gen, spec["passes"], args.seconds, deadline,
                         traced=True)
        timings["measure_s"] = time.perf_counter() - t0
        table = layer_table(tracer.spans)
        table["catalog.files_partitions"] = \
            client.catalog.files.rdd.getNumPartitions()
        table["catalog.warehouse_mb"] = dir_usage(
            os.path.join(srv_dir, "spark-warehouse"))[0] / 2**20
        table["session.start_s"] = timings["session.start_s"]
        table["catalog.ingest_s"] = timings["catalog.ingest_s"]
        # startup phases: the first server start's stats refresh on
        # both workloads; the in-process restart's refresh and durable
        # attach (the last calls) on declare_and_query
        calls = tracer.timings
        table["stats.populate_s"] = calls["stats.populate_s"][0]
        if declare:
            table["stats.restart_populate_s"] = calls["stats.populate_s"][-1]
            table["durable.attach_s"] = calls["durable.attach_s"][-1]
        else:
            table["durable.attach_s"] = 0.0     # no durable root
        base = sum(u["end"] - u["start"] for u, _ in gen.pairs)
        traced = sum(t["end"] - t["start"] for _, t in gen.pairs)
        table["trace.overhead_pct"] = 100.0 * (traced - base) / base
    finally:
        for s in servers:
            s.shutdown()
            s.server_close()
        tracer.uninstall()
        os.chdir(ROOT)
        timings["stop_s"] = _stop_spark(spark)
    info = {"warehouse": os.path.join(srv_dir, "spark-warehouse"),
            "overhead_pairs": len(gen.pairs),
            "phase_s": dict(timings, **tracer.timings)}
    return {"metrics": table, "info": info, "load": gen,
            "spans": tracer.spans}


def _stop_spark(spark) -> float:
    """Stop the session and wait for its JVM to exit (the JVM leaves when
    its stdin, a pipe from this process, closes)."""
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    t = time.perf_counter()
    spark.stop()
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    return time.perf_counter() - t


# ------------------------------------------------------------------ main

def prepare(args, work: str) -> tuple[dict, dict]:
    """Inputs, request sequence and oracle answers for the seed."""
    from perfbench.oracle import Oracle
    from perfbench.workloads import WORKLOADS
    data_dir = os.path.join(work, "data")
    sizes = write_tables(data_dir, args.seed)
    spec = WORKLOADS[args.workload](args.seed, data_dir)
    oracle = Oracle(data_dir)
    try:
        for key in ("warmup", "passes", "sequence", "verify"):
            ops = spec.get(key, [])
            for op in (o for x in ops for o in
                       (x if isinstance(x, list) else [x])):
                if op.oracle is not None:
                    op.expect = oracle.expect(op.oracle)
    finally:
        oracle.close()
    return spec, sizes


def _exit_on_sigterm(signum, frame):
    # a plain SIGTERM would skip the finally blocks that stop the server
    sys.exit(128 + signum)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["interactive_mql", "declare_and_query"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)
    signal.signal(signal.SIGTERM, _exit_on_sigterm)
    work = os.path.join(ROOT, ".perfbench", "runs",
                        f"{args.workload}-s{args.seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench", "results")
    os.makedirs(work)
    os.makedirs(out_dir, exist_ok=True)
    try:
        h0, la0, stray = host_ticks(), os.getloadavg(), _stray_jvms()
        t = time.perf_counter()
        spec, sizes = prepare(args, work)
        prep_s = time.perf_counter() - t
        gate_steal = gate(START_WAIT_S)
        quiet = 0 <= gate_steal < STEAL_CEILING
        run = run_traced if args.trace else run_served
        res = run(args, work, spec,
                  time.monotonic() + (RETRY_WINDOW_S if quiet else 0))
        h1, la1 = host_ticks(), os.getloadavg()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    gen = res["load"]
    host = {"steal_share": steal_share(h0, h1),
            "gate_steal_share": gate_steal,
            "loadavg_start": la0, "loadavg_end": la1,
            "stray_jvms": stray, "SPARK_GRAFT_CPUS": cpus(),
            "driver_memory": DRIVER_MEMORY,
            "warehouse": os.path.relpath(res["info"].pop("warehouse"),
                                         ROOT),
            "prepare_s": prep_s}
    units = (dict(PER_LAYER, **LAYER_REPORTED) if args.trace
             else dict(END_TO_END, **REPORTED))
    print(f"# perfbench {args.workload} seed={args.seed} "
          f"seconds={args.seconds} trace={args.trace}")
    print("# inputs " + json.dumps(sizes))
    print("# host " + json.dumps(host))
    print("# info " + json.dumps(res["info"]))
    for name, unit in units.items():
        if name in res["metrics"]:
            print(f"# {name:26s} {res['metrics'][name]:14.4f} {unit}")
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    record = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "inputs": sizes, "host": host,
              "info": res["info"], "metrics": res["metrics"],
              "failures": gen.failures}
    with open(os.path.join(out_dir, tag + ".json"), "w") as f:
        json.dump(record, f, indent=1)
    if args.trace:
        with open(os.path.join(out_dir, tag + ".spans.json"), "w") as f:
            json.dump(res["spans"], f)
    names = PER_LAYER if args.trace else END_TO_END
    result = {"correct": not gen.failures, "attempted": gen.attempted,
              "failed": len(gen.failures),
              "metrics": {n: {"value": res["metrics"][n], "unit": u}
                          for n, u in names.items()}}
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
