"""End-to-end benchmark of the Flight server, run from the repository root:

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 20 --trace 0

The server under test (``sut.py``) runs in its own process; this process
is the load generator. It also plays the Ethereum node (``node.py``)
and the chain (``chain.py``), and writes live drops into the server's
stream directory. Inputs are a pure function of ``--seed``; every answer
is checked against a model (``chain.py``) or the query's DuckDB oracle
(``analytics.py``). Workloads:

- ``backfill``: RPC ingest of a seeded chain, then a closed loop of 4
  clients sending bounded logs/blocks tickets;
- ``subscribe``: two hybrid subscribers backfill a stored range, then
  tail one-block parquet drops written at a fixed rate (open loop).

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` the timed phase runs half untraced, half traced, and
the line carries the per-layer metrics. The lines before it are a
readable report. Everything the run writes lives under
``.perfbench-work/`` and is removed at exit.
"""

from __future__ import annotations

import argparse
import ctypes
import itertools
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

import numpy as np
import pyarrow as pa
import pyarrow.flight as flight
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from chain import (  # noqa: E402
    SIGNATURES,
    TICKET_CYCLE,
    Chain,
    backfill_tickets,
    blocks_checksum,
    drop_matches,
    drop_table,
    live_drops,
    logs_checksum,
    mixed_case,
)
from node import Node  # noqa: E402
from spans import Tracer, self_times  # noqa: E402

PACKAGE = "web3_flight_rpc_server_spark"
# latency samples per run, so that ten lie beyond the reported tail:
# p90 of backfill's tickets, p75 of subscribe's lags (each lag costs the
# server a micro-batch; see README.md)
MIN_SAMPLES = 100         # backfill answers
MIN_LAGS = 40             # subscribe lags (drops x subscribers)
SERVE_CLIENTS = 4         # backfill closed loop: bounded-ticket clients
ANALYST_CLIENTS = 1       # ... plus clients sending query tickets
# subscribe: one subscriber per filter, (name, address rank, topic0 rank);
# a rank is the address's or event signature's 0-based place by frequency
SUBSCRIBERS = [("addr-6", 5, None), ("topic-3", None, 2)]
DROPS_PER_S = 1.0         # subscribe open loop
WARM_DROPS = 10           # untimed, written at 2/s before the timed drops
SUBSCRIBE_BACKFILL_BLOCKS = 1200
SUBSCRIBE_ROUNDS = 3      # measured subscriptions per filter; the last stays live
INGEST_RUNS = 3           # measured ingests in backfill, after one untimed
SUT_START_TIMEOUT_S = 120
CALL_OPTIONS = flight.FlightCallOptions(timeout=60)   # a slower ticket fails

END_TO_END = {
    "setup_s": "s",
    "latency_p50_ms": "ms",
    "rows_per_s": "rows/s",
    "load_s": "s",
    "memory_mb": "MB",
}

# each gated metric's figure in a workload's report
GATED = {
    "backfill": {"latency_p50_ms": "ticket_p50_ms", "rows_per_s": "rows_per_s",
                 "load_s": "ingest_s", "memory_mb": "memory_mb"},
    "subscribe": {"latency_p50_ms": "live_lag_p50_ms", "rows_per_s": "live_rows_per_s",
                  "load_s": "backfill_s", "memory_mb": "memory_mb"},
}

# the analyst's query tickets: an aggregate, and two (sessionize, as-of
# join) whose results cross the server's 10k-row spill threshold
QUERY_NAMES = ["q_value_counts", "q_sessionize", "q_join_asof"]

PER_LAYER = {
    "session.spark_start_s": "s",
    "session.first_ticket_s": "s",
    "session.peak_rss_mb": "MB",
    "sources.load_ms": "ms",
    "plans.parse_us": "us",
    "plans.plan_ms": "ms",
    "plans.hybrid_plan_ms": "ms",
    "sources.rpc_calls": "count",
    "sources.rpc_refused_frac": "ratio",
    "sources.rpc_connections": "count",
    "sources.rpc_bytes": "bytes",
    "sources.ingest_read_s": "s",
    "sources.ingest_write_s": "s",
    "sources.single_thread_logs_per_s": "rows/s",
    "sources.store_files": "count",
    "sources.store_bytes_per_log": "bytes",
    "serving.handler_ms": "ms",
    "serving.self_ms": "ms",
    "serving.info_ms": "ms",
    "serving.execute_ms": "ms",
    "serving.queue_ms": "ms",
    "serving.wire_ms": "ms",
    "serving.spill_frac": "ratio",
    "serving.bytes_per_row": "bytes",
    "serving.spark_jobs_per_ticket": "count",
    "serving.spark_tasks_per_ticket": "count",
    "streaming.backfill_exec_ms": "ms",
    "streaming.query_start_ms": "ms",
    "streaming.trigger_ms": "ms",
    "streaming.rows_per_batch": "rows",
    "streaming.backlog_max": "count",
    **{f"queries.build_ms.{q}": "ms" for q in QUERY_NAMES},
    **{f"queries.execute_ms.{q}": "ms" for q in QUERY_NAMES},
    **{f"queries.tasks.{q}": "count" for q in QUERY_NAMES},
    "gen.node_busy_frac": "ratio",
    "gen.late_ms": "ms",
    "gen.cpu_frac": "ratio",
    "gen.steal_frac": "ratio",
    "trace.overhead_frac": "ratio",
}


def mix_pct(weighted: list[tuple[float, float]], q: float) -> float:
    """Percentile of (value, weight) pairs: the smallest value whose
    cumulative weight reaches q% of the total."""
    if not weighted:
        return 0.0
    ordered = sorted(weighted)
    goal = q / 100.0 * sum(w for _, w in ordered)
    acc = 0.0
    for value, w in ordered:
        acc += w
        if acc >= goal - 1e-12:
            return value
    return ordered[-1][0]


def cpu_usage() -> tuple:
    """(this process's os.times(), (steal, total) jiffies of the machine
    from /proc/stat; zeros where the kernel does not report steal)."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    steal = fields[7] if len(fields) > 7 else 0
    return os.times(), (steal, sum(fields[:8]))


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


class Tally:
    """Checked answers: every wrong or failed answer is a failure."""

    def __init__(self):
        self.lock = threading.Lock()
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []

    def record(self, ok: bool, what: str = "") -> bool:
        with self.lock:
            self.attempted += 1
            if not ok:
                self.failed += 1
                if len(self.notes) < 10:
                    self.notes.append(what)
        return ok

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0


def analyst_tickets(seed):
    """Endless query tickets of one analyst: the queries in a seeded
    order, reshuffled every round."""
    rng = np.random.default_rng(seed)
    while True:
        for k in rng.permutation(len(QUERY_NAMES)):
            yield {"dataset": "query", "name": QUERY_NAMES[k]}


def ticket_kind(ticket: dict) -> str:
    if ticket["dataset"] == "query":
        return ticket["name"]
    if "shardBlocks" in ticket:
        return "wide"
    if ticket["dataset"] == "blocks":
        return "blocks_page"
    return "filtered" if ticket.get("contractAddresses") else "logs_page"


def check_chain_result(chain: Chain, ticket: dict, table) -> bool:
    """Rows and checksum of a served logs/blocks answer vs the model."""
    want = chain.expect(ticket)
    if ticket["dataset"] == "blocks":
        got = (table.num_rows, blocks_checksum(
            table.column("number").to_numpy(), table.column("gasUsed").to_numpy()))
    else:
        got = (table.num_rows, logs_checksum(
            table.column("blockNumber").to_numpy(), table.column("logIndex").to_numpy()))
    return got == want


# -- the server process -----------------------------------------------------

def _processes() -> dict[int, tuple[str, int, int]]:
    """pid -> (state, parent pid, session id) of every process."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        out[int(entry)] = (fields[0], int(fields[1]), int(fields[3]))
    return out


def _descendants(procs: dict, root: int) -> set[int]:
    children: dict[int, list[int]] = {}
    for pid, (_, ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = set(), [root]
    while todo:
        for pid in children.get(todo.pop(), ()):
            if pid not in out:
                out.add(pid)
                todo.append(pid)
    return out


def _reap() -> None:
    """Collect every exited child, including orphans handed to this
    process as their subreaper."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_processes(targets, timeout_s: float = 60.0) -> None:
    """SIGKILL every process in ``targets(procs)`` and wait until none
    is left, not even as a zombie. Run as a child subreaper, so each
    orphaned target comes back to this process and is reaped here."""
    deadline = time.monotonic() + timeout_s
    while True:
        procs = _processes()
        left = targets(procs) & procs.keys() - {os.getpid()}
        for pid in left:
            if procs[pid][0] != "Z":
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        _reap()
        if not left or time.monotonic() > deadline:
            return
        time.sleep(0.02)


def become_subreaper() -> None:
    """Make orphaned descendants (the server's JVM and PySpark's daemon
    once the server is gone) children of this process."""
    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


class Sut:
    """One server process (and its JVM), from spawn to a clean stop."""

    def __init__(self, root: str, work: str, trace: bool, tag: str):
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        port_file = os.path.join(work, f"port-{tag}")
        env = dict(os.environ)
        env.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
        env.update(
            TMPDIR=tmp,
            SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
            PYSPARK_SUBMIT_ARGS=(
                f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
                "pyspark-shell"
            ),
        )
        self.log_path = os.path.join(work, f"sut-{tag}.log")
        log = open(self.log_path, "wb")
        t0 = time.monotonic()
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "sut.py"), "--root", root,
             "--work", work, "--port-file", port_file,
             "--trace", str(int(trace))],
            cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        log.close()
        try:
            while not os.path.exists(port_file):
                if self.proc.poll() is not None:
                    raise RuntimeError(f"server exited early: {self.tail_log()}")
                if time.monotonic() - t0 > SUT_START_TIMEOUT_S:
                    raise RuntimeError("server did not start in time")
                time.sleep(0.01)
            with open(port_file) as f:
                self.location = f"grpc://127.0.0.1:{int(f.read())}"
            self.client = flight.connect(self.location)
            while True:
                try:
                    list(self.client.list_flights())
                    break
                except flight.FlightUnavailableError:
                    if time.monotonic() - t0 > SUT_START_TIMEOUT_S:
                        raise
                    time.sleep(0.01)
            self.setup_s = time.monotonic() - t0
        except BaseException:
            self.close()
            raise

    def tail_log(self) -> str:
        with open(self.log_path, "rb") as f:
            return f.read()[-2000:].decode(errors="replace")

    def connect(self):
        return flight.connect(self.location)

    def action(self, kind: str, body: dict | None = None) -> dict:
        act = flight.Action(kind, json.dumps(body or {}).encode())
        results = list(self.client.do_action(act))
        return json.loads(results[0].body.to_pybytes())

    def close(self) -> None:
        """Kill the server's session (its Python driver, JVM and Python
        workers: PySpark's daemon moves itself and its workers to a
        process group of their own, but not out of the session) and
        wait until every member has exited."""
        sid = self.proc.pid
        stop_processes(lambda procs: {
            pid for pid, (_, _, s) in procs.items() if s == sid})
        self.proc.wait()


class Run:
    def __init__(self, args):
        self.args = args
        self.root = os.getcwd()
        self.work = os.path.join(self.root, ".perfbench-work", args.workload)
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)
        self.trace = bool(args.trace)
        self.tally = Tally()
        self.tracer = Tracer("c")
        self.report: dict[str, tuple] = {}   # name -> (value, unit, samples)
        self.layers: dict[str, float] = {k: 0.0 for k in PER_LAYER}
        self.setups: list[float] = []
        self.suts: list[Sut] = []
        self.phases: list[tuple[str, float]] = [("start", time.monotonic())]

    def mark(self, phase: str) -> None:
        """End of a phase, for the report's wall-time breakdown."""
        self.phases.append((phase, time.monotonic()))

    # -- server lifecycle -----------------------------------------------
    def start_sut(self, tag: str) -> Sut:
        """Spawn the server; set-up is spawn -> first list_flights answer."""
        sut = Sut(self.root, self.work, self.trace, tag)
        self.suts.append(sut)
        self.setups.append(sut.setup_s)
        self.mark("setup")
        return sut

    def close(self) -> None:
        for sut in self.suts:
            sut.close()
        self.suts.clear()
        # anything else this process started, or that came back to it
        me = os.getpid()
        stop_processes(lambda procs: _descendants(procs, me))
        shutil.rmtree(self.work, ignore_errors=True)

    def set_trace(self, sut: Sut, on: bool) -> None:
        sut.action("trace", {"on": on})
        self.tracer.enabled = on

    # -- tickets ----------------------------------------------------------
    def fetch(self, client, ticket: dict, trace_id: str | None = None):
        """One client ticket: a do_get, or for a sharded ticket a
        get_flight_info followed by a do_get per endpoint."""
        t = self.tracer
        if trace_id is not None and t.enabled:
            ticket = dict(ticket, traceId=trace_id)
        root = t.open("client.ticket", trace_id=trace_id) if t.enabled else None
        try:
            if "shardBlocks" in ticket:
                span = t.open("client.get_flight_info") if root else None
                info = client.get_flight_info(
                    flight.FlightDescriptor.for_command(json.dumps(ticket).encode()),
                    CALL_OPTIONS)
                if span:
                    t.close(span)
                parts = []
                for k, ep in enumerate(info.endpoints):
                    raw = ep.ticket.ticket
                    tid = None
                    if root:
                        tid = f"{trace_id}/{k}"
                        raw = json.dumps(dict(json.loads(raw), traceId=tid)).encode()
                    parts.append(self._do_get(client, raw, tid))
                return pa.concat_tables(parts) if parts else None
            return self._do_get(client, json.dumps(ticket).encode(), trace_id)
        finally:
            if root:
                t.close(root)

    def _do_get(self, client, raw: bytes, trace_id: str | None):
        t = self.tracer
        span = t.open("client.do_get", trace_id=trace_id) if t.enabled else None
        try:
            return client.do_get(flight.Ticket(raw), CALL_OPTIONS).read_all()
        finally:
            if span:
                t.close(span)

    def closed_loop(self, sut: Sut, streams: list, check, seconds: float,
                    tag: str, min_samples: int = 0) -> list[list]:
        """Each stream is one client sending its next ticket when the
        previous answer arrives. Every client sends at least one ticket
        and stops once the deadline has passed and the clients together
        hold ``min_samples`` correct answers. Returns, per client, one
        entry per ticket sent: (latency_s, rows, bytes, kind, done_s)
        for a correct answer, None for a wrong or failed one."""
        per_client: list[list] = [[] for _ in streams]
        lock = threading.Lock()
        count = [0]
        t_start = time.monotonic()
        deadline = t_start + seconds

        def client_loop(idx, stream):
            client = sut.connect()
            mine = per_client[idx]
            try:
                for n, ticket in enumerate(stream, 1):
                    if n > 1 and time.monotonic() >= deadline and count[0] >= min_samples:
                        break
                    t0 = time.monotonic()
                    try:
                        table = self.fetch(client, ticket, f"{tag}{idx}-{n}")
                    except Exception as e:  # a failed answer is a failure
                        self.tally.record(False, f"{ticket}: {e}")
                        mine.append(None)
                        continue
                    done = time.monotonic()
                    if self.tally.record(check(ticket, table), f"wrong answer: {ticket}"):
                        mine.append((done - t0, table.num_rows, table.nbytes,
                                     ticket_kind(ticket), done - t_start))
                        with lock:
                            count[0] += 1
                    else:
                        mine.append(None)
            finally:
                client.close()

        threads = [threading.Thread(target=client_loop, args=(i, s))
                   for i, s in enumerate(streams)]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        return per_client

    def timed(self, sut: Sut, streams: list, check) -> list[list]:
        """The measured phase. Untraced: --seconds, and at least
        MIN_SAMPLES answers. Traced: half of --seconds with tracing
        off, then half on; the second half feeds the per-layer metrics
        and the pair gives the tracing overhead."""
        seconds = self.args.seconds
        if not self.trace:
            t0 = time.monotonic()
            cpu0 = cpu_usage()
            clients = self.closed_loop(sut, streams, check, seconds, "m", MIN_SAMPLES)
            self._cpu(cpu0, time.monotonic() - t0)
            return clients
        self.set_trace(sut, False)
        plain = self.closed_loop(sut, streams, check, seconds / 2, "u")
        self.set_trace(sut, True)
        t0 = time.monotonic()
        cpu0 = cpu_usage()
        traced = self.closed_loop(sut, streams, check, seconds / 2, "m")
        self._cpu(cpu0, time.monotonic() - t0)
        base = median([s[0] for c in plain for s in c if s])
        if base:
            self.layers["trace.overhead_frac"] = (
                median([s[0] for c in traced for s in c if s]) / base - 1)
        return traced

    def _cpu(self, before, wall: float) -> None:
        """The timed phase's generator CPU share and the share of the
        machine's CPU time the hypervisor gave to other guests."""
        after = cpu_usage()
        used = sum(after[0][:2]) - sum(before[0][:2])
        self.layers["gen.cpu_frac"] = used / wall if wall else 0.0
        steal = after[1][0] - before[1][0]
        total = after[1][1] - before[1][1]
        self.layers["gen.steal_frac"] = steal / total if total else 0.0
        self.put("steal_frac", self.layers["gen.steal_frac"], "ratio", 1)

    def ticket_metrics(self, clients: list[list], cycles: list[int],
                       shares: dict[str, float]) -> None:
        """Latency percentiles over the workload's ticket mix (each kind
        weighs its share of the mix whatever the deadline cut off, so
        runs compare the same mix) and rows received per second."""
        samples = [s for c in clients for s in c if s]
        n = len(samples)
        counts: dict[str, int] = {}
        for s in samples:
            counts[s[3]] = counts.get(s[3], 0) + 1
        weighted = [(s[0] * 1000, shares[s[3]] / counts[s[3]]) for s in samples]
        self.put("ticket_p50_ms", mix_pct(weighted, 50), "ms", n)
        self.put("ticket_p90_ms", mix_pct(weighted, 90), "ms", n)
        elapsed = max((s[4] for s in samples), default=0.0)
        self.put("tickets_per_s", n / elapsed if elapsed else 0.0, "1/s", n)
        # rows the clients received per second, over whole cycles of
        # each client's mix: a wide ticket carries ~10x the rows of a
        # page, so rows counted up to the deadline would swing with how
        # many of those it caught. Each client's rate is the rows of its
        # completed cycles over the time it took to complete them.
        rate, whole = 0.0, 0
        for entries, cycle in zip(clients, cycles):
            done = len(entries) // cycle * cycle
            if done:
                last = entries[done - 1]
                if last:
                    rate += sum(e[1] for e in entries[:done] if e) / last[4]
                whole += done
        self.put("rows_per_s", rate, "rows/s", whole)
        kinds: dict[str, list] = {}
        for s in samples:
            kinds.setdefault(s[3], []).append(s[0] * 1000)
        for kind, values in sorted(kinds.items()):
            self.put(f"  {kind}_p50_ms", median(values), "ms", len(values))
        rows = sum(s[1] for s in samples)
        if self.trace and rows:
            self.layers["serving.bytes_per_row"] = sum(s[2] for s in samples) / rows

    def put(self, name: str, value: float, unit: str, samples: int | None = None):
        self.report[name] = (value, unit, samples)

    def first_ticket(self, sut: Sut, ticket: dict, check) -> None:
        client = sut.connect()
        try:
            t0 = time.monotonic()
            table = self.fetch(client, ticket, "w0")
            first = time.monotonic() - t0
            self.tally.record(check(ticket, table), f"warm-up: {ticket}")
        finally:
            client.close()
        self.layers["session.first_ticket_s"] = first
        self.put("first_ticket_s", first, "s", 1)

    # -- workloads --------------------------------------------------------
    def backfill(self) -> None:
        seed = self.args.seed
        chain = Chain(seed)
        check = self.backfill_checker(chain)
        with Node(chain) as node:
            self.mark("inputs")
            sut = self.start_sut("backfill")
            body = {"rpcUrl": node.url, "start": chain.first, "end": chain.last}
            # warm-up: the analyst's queries run once while an untimed
            # ingest of the whole chain starts the data source's Python
            # workers and warms its path (a first ingest runs ~40% slower)
            queries = [iter([{"dataset": "query", "name": q}]) for q in QUERY_NAMES]
            analyst = threading.Thread(target=self.closed_loop, args=(
                sut, queries, check, 0.0, "w"))
            analyst.start()
            sut.action("ingest", dict(body, store=os.path.join(self.work, "store", "w")))
            analyst.join()
            self.mark("warm-up 1")
            if self.trace:
                r = sut.action("ingest", body)
                self.layers["sources.ingest_read_s"] = r["logs_s"] + r["blocks_s"]
            # the ingest is short, so it runs INGEST_RUNS times, each into
            # a new store (the server serves the last), and the medians
            # are reported
            runs = []
            for k in range(INGEST_RUNS):
                before = node.stats.snapshot()
                t0 = time.monotonic()
                self.store = os.path.join(self.work, "store", str(k))
                r = sut.action("ingest", dict(body, store=self.store))
                wall = time.monotonic() - t0
                runs.append((wall, r, before, node.stats.snapshot()))
            self.mark("ingest")
            logs_s = median([x[1]["logs_s"] for x in runs])
            blocks_s = median([x[1]["blocks_s"] for x in runs])
            self.put("ingest_logs_per_s", chain.n_logs / logs_s, "rows/s", INGEST_RUNS)
            self.put("ingest_blocks_per_s", chain.spec.n_blocks / blocks_s,
                     "blocks/s", INGEST_RUNS)
            self.put("ingest_s", median([x[0] for x in runs]), "s", INGEST_RUNS)
            if self.trace:
                wall, _, before, after = runs[-1]
                calls = after["calls"] - before["calls"]
                self.layers.update({
                    "sources.ingest_write_s": logs_s + blocks_s,
                    "sources.rpc_calls": calls,
                    "sources.rpc_refused_frac":
                        (after["refused"] - before["refused"]) / max(1, calls),
                    "sources.rpc_connections": after["connections"] - before["connections"],
                    "sources.rpc_bytes": after["bytes"] - before["bytes"],
                    "gen.node_busy_frac":
                        (after["busy_s"] - before["busy_s"]) / (wall * node.threads),
                })
                sparse = {"rpcUrl": node.url, "start": chain.first,
                          "end": chain.dense_range[0] - 1}
                st = sut.action("single_thread_read", sparse)
                self.layers["sources.single_thread_logs_per_s"] = st["rows"] / st["seconds"]
            self.store_layers()
            self.first_ticket(sut, {"dataset": "logs", "startBlock": chain.first,
                                    "endBlock": chain.first + 499}, check)
            # warm-up: one ticket of each kind, sent at once
            first_of_kind = {}
            for t in itertools.islice(backfill_tickets(chain, seed, 100), 20):
                first_of_kind.setdefault(ticket_kind(t), t)
            self.closed_loop(sut, [iter([t]) for t in first_of_kind.values()],
                             check, 0.0, "w")
            self.mark("warm-up 2")
            streams = [backfill_tickets(chain, seed, i) for i in range(SERVE_CLIENTS)]
            streams += [analyst_tickets([seed, 0xA2, i]) for i in range(ANALYST_CLIENTS)]
            clients = self.timed(sut, streams, check)
            self.mark("timed")
            # each client weighs the same; within a client, its mix
            per_client = 1 / (SERVE_CLIENTS + ANALYST_CLIENTS)
            shares = {q: per_client * ANALYST_CLIENTS / len(QUERY_NAMES) for q in QUERY_NAMES}
            for kind in TICKET_CYCLE:
                shares[kind] = (shares.get(kind, 0)
                                + per_client * SERVE_CLIENTS / len(TICKET_CYCLE))
            cycles = [len(TICKET_CYCLE)] * SERVE_CLIENTS + [len(QUERY_NAMES)] * ANALYST_CLIENTS
            self.ticket_metrics(clients, cycles, shares)
            self.finish(sut)

    def backfill_checker(self, chain: Chain):
        """Checks logs/blocks answers against the chain model and query
        answers against their DuckDB oracle over the generated events."""
        from analytics import matches, oracle_summaries, summarize, write_events

        sys.path.insert(0, self.root)
        from web3_flight_rpc_server_spark.registry import all_queries

        sf = os.path.join(self.work, "sf")
        write_events(sf, self.args.seed)
        registry = all_queries()
        oracle = oracle_summaries(sf, {q: registry[q].oracle for q in QUERY_NAMES})

        def check(ticket, table):
            if ticket["dataset"] == "query":
                return matches(summarize(table), oracle[ticket["name"]])
            return check_chain_result(chain, ticket, table)

        return check

    def subscribe(self) -> None:
        seed = self.args.seed
        chain = Chain(seed)
        self.store = os.path.join(self.work, "store")
        store = os.path.join(self.store, "logs.parquet")
        os.makedirs(store)
        for k, b in enumerate(range(0, chain.spec.n_blocks, 500)):
            lo, hi = chain.offsets[b], chain.offsets[min(b + 500, chain.spec.n_blocks)]
            pq.write_table(chain.logs_table(int(lo), int(hi)),
                           os.path.join(store, f"part-{k:05d}.parquet"))
        stream_dir = os.path.join(self.work, "stream")
        staging = os.path.join(self.work, "staging")
        os.makedirs(stream_dir)
        os.makedirs(staging)
        # filters by rank: the same selectivity on every seed
        rng = np.random.default_rng([seed, 0x5B5])
        drops = live_drops(chain, seed, [a for _, a, _ in SUBSCRIBERS if a is not None],
                           [t for _, _, t in SUBSCRIBERS if t is not None])
        self.mark("inputs")
        check = lambda ticket, table: check_chain_result(chain, ticket, table)  # noqa: E731

        sut = self.start_sut("subscribe")
        sut.action("load_store", {"store": self.store})
        self.store_layers()
        self.first_ticket(sut, {"dataset": "logs", "startBlock": chain.last - 999,
                                "endBlock": chain.last,
                                "contractAddresses": [chain.addresses[SUBSCRIBERS[0][1]]]},
                          check)
        start = chain.last - SUBSCRIBE_BACKFILL_BLOCKS + 1

        def subscribe() -> list[Subscriber]:
            subs = []
            for name, a, t in SUBSCRIBERS:
                if a is not None:   # a client pasting a checksummed address
                    filt = {"contractAddresses": [mixed_case(chain.addresses[a], rng)]}
                    subs.append(Subscriber(sut, chain, start, name, filt, [a], None))
                else:
                    subs.append(Subscriber(sut, chain, start, name,
                                           {"topics": [SIGNATURES[t]]}, None, [t]))
            for s in subs:
                s.start()
            for s in subs:
                s.backfilled.wait(120)
            return subs

        # one warm-up round, then measured rounds; each subscription but
        # the last round's leaves after its backfill (the server stops
        # its tail at the next drop)
        backfills = []
        for k in range(SUBSCRIBE_ROUNDS + 1):
            subs = subscribe()
            if k:
                backfills += [s.backfill_s for s in subs]
            if k == SUBSCRIBE_ROUNDS:
                break
            for s in subs:
                s.stop()
                self.tally.record(s.verify(), f"subscriber {s.name}: {s.problem}")
            if not k:
                self.mark("warm-up")
        self.mark("backfill")
        written: list[tuple] = []   # (number, due, seconds late)

        def write_drop(due: float) -> None:
            number, addr_id, topic0 = next(drops)
            for s in subs:
                s.expect(number, due, addr_id, topic0)
            path = os.path.join(staging, f"block-{number}.parquet")
            pq.write_table(drop_table(chain, number, addr_id, topic0), path)
            os.replace(path, os.path.join(stream_dir, f"block-{number}.parquet"))
            written.append((number, due, time.monotonic() - due))

        # warm-up drops, until the live path runs warm
        for i in range(WARM_DROPS):
            write_drop(time.monotonic())
            time.sleep(0.5)
        for s in subs:
            s.caught_up(30)
        for s in subs:
            s.timed_from = len(written)
        self.mark("warm drops")
        # --seconds of drops, and at least MIN_LAGS lags (one per drop
        # and subscriber)
        n_drops = max(int(self.args.seconds * DROPS_PER_S), -(-MIN_LAGS // len(subs)))
        t0 = time.monotonic()
        cpu0 = cpu_usage()
        backlog = 0
        for i in range(n_drops):
            due = t0 + i / DROPS_PER_S
            pause = due - time.monotonic()
            if pause > 0:
                time.sleep(pause)
            write_drop(due)
            backlog = max(backlog, max(s.pending() for s in subs))
        for s in subs:
            s.caught_up(20)
        self._cpu(cpu0, time.monotonic() - t0)
        self.mark("timed")
        lags = [(lag, 1.0) for s in subs for lag in s.lags_ms()]
        self.put("live_lag_p50_ms", mix_pct(lags, 50), "ms", len(lags))
        self.put("live_lag_p75_ms", mix_pct(lags, 75), "ms", len(lags))
        self.put("live_lag_p90_ms", mix_pct(lags, 90), "ms", len(lags))
        # live rows the subscribers received per second: timed drops'
        # rows over first due time -> last of them received
        rows = sum(s.live_rows() for s in subs)
        last = max(s.last_receipt() for s in subs)
        self.put("live_rows_per_s", rows / (last - t0), "rows/s", rows)
        self.put("backfill_s", median(backfills), "s", len(backfills))
        self.layers["streaming.backlog_max"] = backlog
        timed_drops = written[WARM_DROPS:]
        self.layers["gen.late_ms"] = max(w[2] for w in timed_drops) * 1000 if timed_drops else 0.0
        stats = self.finish(sut)
        self.put("live_queries", stats["live_queries"], "count", 1)
        for s in subs:
            s.stop()
            self.tally.record(s.verify(), f"subscriber {s.name}: {s.problem}")
        if self.trace:
            prog = stats.get("streaming", {})
            self.layers["streaming.trigger_ms"] = median(prog.get("trigger_ms", []))
            self.layers["streaming.rows_per_batch"] = (
                statistics.fmean(prog["rows_per_batch"]) if prog.get("rows_per_batch") else 0.0)
            self.layers["streaming.query_start_ms"] = median(prog.get("query_start_ms", []))

    # -- shared tail --------------------------------------------------------
    def store_layers(self) -> None:
        store = os.path.join(self.store, "logs.parquet")
        files = [os.path.join(store, f) for f in os.listdir(store) if f.endswith(".parquet")]
        rows = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
        self.layers["sources.store_files"] = len(files)
        self.layers["sources.store_bytes_per_log"] = (
            sum(os.path.getsize(f) for f in files) / rows if rows else 0.0)

    def finish(self, sut: Sut) -> dict:
        stats = sut.action("stats")
        self.mark("stats")
        self.put("peak_rss_mb", stats["peak_rss_kb"] / 1024, "MB", 1)
        self.layers["session.peak_rss_mb"] = stats["peak_rss_kb"] / 1024
        self.put("memory_mb", stats["memory_kb"] / 1024, "MB", 1)
        self.layers["session.spark_start_s"] = stats["spark_start_s"]
        if self.trace:
            self.server_layers(stats.get("spans", []), self.tracer.drain())
        return stats

    def server_layers(self, server: list, client: list) -> None:
        """Per-layer numbers from the traced half: server spans matched
        to client spans by trace id."""
        server = [tuple(s) for s in server]
        by_id = {s[0]: s for s in server}

        def root(s):
            while s[4] is not None and s[4] in by_id:
                s = by_id[s[4]]
            return s

        def dur_ms(s):
            return (s[3] - s[2]) / 1e6

        measured = [s for s in server if s[1] == "serving.do_get"
                    and (s[5] or "").startswith("m")]
        ids = {s[0] for s in measured}
        kids: dict[str, list] = {}
        for s in server:
            r = root(s)
            if r[0] in ids and s is not r:
                kids.setdefault(r[0], []).append(s)
        L = self.layers

        def med(name, values):
            L[name] = median(values)

        by_name: dict[str, list] = {}
        for s in server:
            by_name.setdefault(s[1], []).append(s)
        med("sources.load_ms", [dur_ms(s) for s in by_name.get("sources.load_table", [])])
        med("plans.parse_us", [dur_ms(s) * 1000 for s in by_name.get("plans.parse", [])
                               if root(s)[0] in ids])
        med("plans.plan_ms", [dur_ms(s) for s in by_name.get("plans.plan", [])
                              if root(s)[0] in ids])
        med("plans.hybrid_plan_ms", [dur_ms(s) for s in by_name.get("plans.plan_hybrid", [])])
        med("serving.handler_ms", [dur_ms(s) for s in measured])
        med("serving.info_ms", [dur_ms(s) for s in by_name.get("serving.get_flight_info", [])
                                if (s[5] or "").startswith("m")])
        execute = {
            sid: sum(dur_ms(k) for k in ks
                     if k[1] in ("serving.to_arrow", "serving.write_parquet"))
            for sid, ks in kids.items()
        }
        med("serving.execute_ms", [execute.get(s[0], 0.0) for s in measured])
        selfs = []
        for s in measured:
            own = [s] + kids.get(s[0], [])
            selfs.append(self_times(own).get("serving.do_get", 0) / 1e6)
        med("serving.self_ms", selfs)
        if measured:
            L["serving.spill_frac"] = sum(
                any(k[1] == "serving.write_parquet" for k in kids.get(s[0], []))
                for s in measured) / len(measured)
            L["serving.spark_jobs_per_ticket"] = statistics.fmean(s[6].get("jobs", 0) for s in measured)
            L["serving.spark_tasks_per_ticket"] = statistics.fmean(s[6].get("tasks", 0) for s in measured)
        med("streaming.backfill_exec_ms", [dur_ms(s) for s in by_name.get("serving.to_arrow", [])
                                           if s[6].get("backfill")])
        calls = {s[5]: s for s in client if s[1] == "client.do_get" and s[5]}
        queue, wire = [], []
        for s in measured:
            c = calls.get(s[5])
            if c:
                queue.append((s[2] - c[2]) / 1e6)
                wire.append(dur_ms(c) - dur_ms(s))
        med("serving.queue_ms", queue)
        med("serving.wire_ms", wire)
        for q in QUERY_NAMES:
            mine = [s for s in measured if s[6].get("query") == q]
            med(f"queries.build_ms.{q}", [
                sum(dur_ms(k) for k in kids.get(s[0], []) if k[1] == "queries.build")
                for s in mine])
            med(f"queries.execute_ms.{q}", [execute.get(s[0], 0.0) for s in mine])
            med(f"queries.tasks.{q}", [s[6].get("tasks", 0) for s in mine])

    # -- output -------------------------------------------------------------
    def result(self) -> dict:
        metrics = {"setup_s": median(self.setups)}
        for gated, name in GATED[self.args.workload].items():
            metrics[gated] = self.report[name][0]
        chosen = ({k: (v, END_TO_END[k]) for k, v in metrics.items()} if not self.trace
                  else {k: (self.layers[k], PER_LAYER[k]) for k in PER_LAYER})
        return {
            "correct": self.tally.failed == 0,
            "attempted": self.tally.attempted,
            "failed": self.tally.failed,
            "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in chosen.items()},
        }

    def print_report(self) -> None:
        a = self.args
        print(f"perfbench workload={a.workload} seed={a.seed} seconds={a.seconds} "
              f"trace={a.trace}")
        self.put("setup_s", median(self.setups), "s", len(self.setups))
        self.put("error_rate", self.tally.error_rate, "ratio", self.tally.attempted)
        for name, (value, unit, n) in self.report.items():
            print(f"  {name:<22} {value:>14.4f} {unit:<8} n={n}")
        print(f"  correctness: {self.tally.attempted} answers checked, "
              f"{self.tally.failed} wrong or failed")
        for note in self.tally.notes:
            print(f"    {note[:300]}")
        walls = ", ".join(f"{name} {t - prev:.1f}s" for (_, prev), (name, t)
                          in zip(self.phases, self.phases[1:]))
        print(f"  phase walls: {walls}")
        if self.trace:
            for name, value in self.layers.items():
                print(f"  {name:<40} {value:>14.4f} {PER_LAYER[name]}")


class Subscriber:
    """One hybrid subscriber holding a live do_get stream."""

    def __init__(self, sut: Sut, chain: Chain, start: int, name: str,
                 filt: dict, address_ids, topic_ids):
        self.chain, self.name = chain, name
        self.ticket = dict({"dataset": "logs", "startBlock": start, "endBlock": None}, **filt)
        self.want_backfill = chain.expect_logs(
            start, chain.last, filt.get("contractAddresses"), filt.get("topics"))
        self.address_ids, self.topic_ids = address_ids, topic_ids
        self.client = sut.connect()
        self.lock = threading.Lock()
        self.backfilled = threading.Event()
        self.backfill_s = 0.0
        self.backfill_rows = 0
        self._bf_blocks: list = []
        self._bf_index: list = []
        self.live: list[tuple] = []          # (block, logIndex) in receipt order
        self.first_seen: dict[int, float] = {}   # block -> first / last row received
        self.last_seen: dict[int, float] = {}
        self.expected: dict[int, set] = {}   # block -> logIndex set
        self.due: dict[int, float] = {}
        self.order: list[int] = []           # blocks in write order
        self.timed_from = 0
        self.problem = ""
        self.stopping = False
        self.reader = None
        self.thread = threading.Thread(target=self._read, name=f"sub-{name}")

    def start(self) -> None:
        self.thread.start()

    def _read(self) -> None:
        t0 = time.monotonic()
        try:
            self.reader = self.client.do_get(flight.Ticket(json.dumps(self.ticket).encode()))
            while True:
                chunk = self.reader.read_chunk()
                now = time.monotonic()
                batch = chunk.data
                blocks = batch.column("blockNumber").to_numpy()
                index = batch.column("logIndex").to_numpy()
                hist = blocks <= self.chain.last
                if hist.any():
                    self._bf_blocks.append(blocks[hist])
                    self._bf_index.append(index[hist])
                    self.backfill_rows += int(hist.sum())
                    if self.backfill_rows >= self.want_backfill[0]:
                        self.backfill_s = now - t0
                        self.backfilled.set()
                with self.lock:
                    for b, i in zip(blocks[~hist].tolist(), index[~hist].tolist()):
                        self.live.append((b, i))
                        self.first_seen.setdefault(b, now)
                        self.last_seen[b] = now
        except StopIteration:
            if not self.stopping:
                self.problem = "stream ended while subscribed"
        except Exception as e:
            if not self.stopping:
                self.problem = f"stream error: {e}"
        finally:
            self.backfilled.set()

    def expect(self, number: int, due: float, addr_id, topic0) -> None:
        mask = drop_matches(addr_id, topic0, self.address_ids, self.topic_ids)
        with self.lock:
            self.expected[number] = set(np.flatnonzero(mask).tolist())
            self.due[number] = due
            self.order.append(number)

    def pending(self) -> int:
        with self.lock:
            return sum(1 for b in self.order if b not in self.first_seen)

    def caught_up(self, timeout: float) -> bool:
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            with self.lock:
                got = len(self.live)
                want = sum(len(v) for v in self.expected.values())
            if got >= want:
                return True
            time.sleep(0.02)
        return False

    def lags_ms(self) -> list[float]:
        with self.lock:
            return [(self.first_seen[b] - self.due[b]) * 1000
                    for b in self.order[self.timed_from:] if b in self.first_seen]

    def live_rows(self) -> int:
        """Live rows received of the timed drops."""
        with self.lock:
            timed = set(self.order[self.timed_from:])
            return sum(1 for b, _ in self.live if b in timed)

    def last_receipt(self) -> float:
        with self.lock:
            return max(self.last_seen.get(b, 0.0) for b in self.order[self.timed_from:])

    def stop(self) -> None:
        self.stopping = True
        if self.reader is not None:
            try:
                self.reader.cancel()
            except Exception:
                pass
        self.thread.join(30)
        self.client.close()

    def verify(self) -> bool:
        """Backfill rows match the model; every matching live log
        arrived exactly once, in block order."""
        if self.problem:
            return False
        blocks = np.concatenate(self._bf_blocks) if self._bf_blocks else np.array([], np.int64)
        index = np.concatenate(self._bf_index) if self._bf_index else np.array([], np.int64)
        if (len(blocks), logs_checksum(blocks, index)) != self.want_backfill:
            self.problem = "backfill rows differ from the model"
            return False
        if len(set(self.live)) != len(self.live):
            self.problem = "a live log arrived twice"
            return False
        seq = [b for b, _ in self.live]
        if seq != sorted(seq):
            self.problem = "live logs arrived out of block order"
            return False
        want = {(b, i) for b, s in self.expected.items() for i in s}
        if set(self.live) != want:
            self.problem = f"live logs differ: got {len(self.live)}, want {len(want)}"
            return False
        return True


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["backfill", "subscribe"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(os.getcwd(), PACKAGE)):
        print(f"perfbench: run from the repository root ({PACKAGE}/ not found)",
              file=sys.stderr)
        return 2
    become_subreaper()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run = Run(args)
    try:
        getattr(run, args.workload)()
    finally:
        run.close()
    result = run.result()
    run.print_report()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
