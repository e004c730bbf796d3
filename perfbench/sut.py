"""System under test: the repository's Flight server in its own process.

    python3 perfbench/sut.py --root . --work <dir> --port-file <file> [--trace 1]

Starts a Spark session with the package's own ``get_spark``, serves an
``EngineFlightServer`` on a free localhost port and writes the port to
``--port-file``. A thin harness subclass adds Flight actions the load
generator drives it with: ``ingest`` (the RPC ingest into the store it
then serves, or into a ``noop`` sink when no store is given),
``load_store``, ``single_thread_read``, ``trace`` (tracing on or off)
and ``stats`` (spans, streaming progress, memory). The load generator
starts it in a session of its own and stops it by killing every
process of that session. With ``--trace 1`` the harness wraps the
package's public functions at import time (no program edits) and
records spans while tracing is on.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import uuid
from datetime import datetime

from spans import Tracer


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


class Instruments:
    """The traced run's wrappers around the package's public calls."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.backfill_frames: set[int] = set()
        self.stream_starts: dict[str, float] = {}

    def install(self) -> None:
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameWriter
        from pyspark.sql.streaming.readwriter import DataStreamWriter

        import web3_flight_rpc_server_spark.registry as registry
        import web3_flight_rpc_server_spark.serving.flight_server as fs
        import web3_flight_rpc_server_spark.streaming.backfill as backfill
        from web3_flight_rpc_server_spark.plans.requests import ClientRequest
        from web3_flight_rpc_server_spark.sources import tables

        t = self.tracer
        t.patch(tables, "load_table", "sources.load_table")
        t.patch(ClientRequest, "from_json", "plans.parse")
        t.patch(fs, "plan_request", "plans.plan")
        t.patch(DataFrameWriter, "parquet", "serving.write_parquet")
        t.patch(DataFrame, "toArrow", "serving.to_arrow",
                attrs_of=lambda df, *a, **k: (
                    {"backfill": True} if id(df) in self.backfill_frames else {}
                ))

        plan_hybrid = backfill.plan_hybrid

        def traced_plan_hybrid(*args, **kwargs):
            plan = plan_hybrid(*args, **kwargs)
            if plan.backfill is not None:
                self.backfill_frames.add(id(plan.backfill))
            return plan

        backfill.plan_hybrid = t.wrap(traced_plan_hybrid, "plans.plan_hybrid")

        start = DataStreamWriter.start

        def traced_start(writer, *args, **kwargs):
            t0 = time.time()
            query = start(writer, *args, **kwargs)
            self.stream_starts[str(query.id)] = t0
            return query

        DataStreamWriter.start = traced_start

        for name, q in list(registry.all_queries().items()):
            registry.REGISTRY[name] = type(q)(
                q.name, t.wrap(q.fn, "queries.build", lambda *a, n=name: {"query": n}),
                q.oracle, q.doc, q.declared,
            )

    def streaming_progress(self, spark) -> dict:
        """Per-trigger durations and input rows of the live queries,
        and each query's start() -> first finished trigger time."""
        triggers, rows, starts = [], [], []
        for q in spark.streams.active:
            progress = q.recentProgress
            t0 = self.stream_starts.get(str(q.id))
            with_rows = [p for p in progress if p.get("numInputRows", 0) > 0]
            for p in with_rows:
                triggers.append(p["durationMs"].get("triggerExecution", 0))
                rows.append(p["numInputRows"])
            if t0 is not None and progress:
                p = progress[0]
                ts = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00"))
                done = ts.timestamp() + p["durationMs"].get("triggerExecution", 0) / 1000
                starts.append((done - t0) * 1000)
        return {"trigger_ms": triggers, "rows_per_batch": rows,
                "query_start_ms": starts}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--root", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--port-file", required=True)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()

    sys.path.insert(0, os.path.abspath(args.root))
    tracer = Tracer("s")
    instruments = Instruments(tracer) if args.trace else None
    if instruments:
        instruments.install()
        tracer.enabled = True

    import pyarrow.flight as flight

    from web3_flight_rpc_server_spark.serving.flight_server import EngineFlightServer
    from web3_flight_rpc_server_spark.session import get_spark
    from web3_flight_rpc_server_spark.sources import tables

    work = os.path.abspath(args.work)
    t0 = time.monotonic()
    spark = get_spark(app_name="perfbench-sut")
    spark_start_s = time.monotonic() - t0
    sc = spark.sparkContext
    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())

    class Harness(EngineFlightServer):
        def do_get(self, context, ticket):
            if not tracer.enabled:
                return super().do_get(context, ticket)
            obj = json.loads(ticket.ticket)
            span = tracer.open("serving.do_get", trace_id=obj.get("traceId"),
                               query=obj.get("name"))
            group = f"t-{uuid.uuid4().hex}"
            sc.setJobGroup(group, "perfbench ticket", False)
            try:
                return super().do_get(context, ticket)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
                st = sc.statusTracker()
                jobs = st.getJobIdsForGroup(group)
                tasks = 0
                for j in jobs:
                    info = st.getJobInfo(j)
                    for s in (info.stageIds if info else ()):
                        stage = st.getStageInfo(s)
                        tasks += stage.numTasks if stage else 0
                span[5].update(jobs=len(jobs), tasks=tasks)
                tracer.close(span)

        def get_flight_info(self, context, descriptor):
            if not tracer.enabled:
                return super().get_flight_info(context, descriptor)
            obj = json.loads(descriptor.command)
            span = tracer.open("serving.get_flight_info", trace_id=obj.get("traceId"))
            try:
                return super().get_flight_info(context, descriptor)
            finally:
                tracer.close(span)

        def do_action(self, context, action):
            body = json.loads(action.body.to_pybytes() or b"{}")
            handler = getattr(self, f"_action_{action.type}", None)
            if handler is None:
                raise flight.FlightServerError(f"unknown action {action.type!r}")
            yield flight.Result(json.dumps(handler(body)).encode())

        def _action_ingest(self, body):
            from web3_flight_rpc_server_spark.sources.ethereum_rpc import (
                EthereumBlocksDataSource,
                EthereumLogsDataSource,
            )

            spark.dataSource.register(EthereumLogsDataSource)
            spark.dataSource.register(EthereumBlocksDataSource)
            store = body.get("store")
            out = {}
            for name, fmt in (("logs", "ethereum_logs"), ("blocks", "ethereum_blocks")):
                df = (spark.read.format(fmt)
                      .option("startBlock", body["start"])
                      .option("endBlock", body["end"])
                      .option("transport", "http")
                      .option("rpcUrl", body["rpcUrl"])
                      .load())
                t = time.monotonic()
                if store is None:
                    df.write.format("noop").mode("overwrite").save()
                else:
                    df.write.parquet(f"{store}/{name}.parquet")
                out[f"{name}_s"] = time.monotonic() - t
            if store is not None:
                self._logs = tables.load_table(spark, store, "logs")
                self._blocks = tables.load_table(spark, store, "blocks")
            return out

        def _action_load_store(self, body):
            self._logs = tables.load_table(spark, body["store"], "logs")
            return {}

        def _action_single_thread_read(self, body):
            """EthereumLogsReader.read over fixed pages, in this process."""
            from web3_flight_rpc_server_spark.sources.ethereum_rpc import EthereumLogsReader

            reader = EthereumLogsReader({
                "startblock": body["start"], "endblock": body["end"],
                "transport": "http", "rpcurl": body["rpcUrl"],
            })
            t = time.monotonic()
            rows = sum(1 for p in reader.partitions() for _ in reader.read(p))
            return {"rows": rows, "seconds": time.monotonic() - t}

        def _action_trace(self, body):
            tracer.enabled = bool(body["on"]) and instruments is not None
            return {"enabled": tracer.enabled}

        def _action_stats(self, body):
            # the JVM's peak RSS follows when its collector chose to grow
            # the heap; what the server holds shows after a full collection
            jvm = spark._jvm
            jvm.java.lang.System.gc()
            mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
            jvm_used = (mx.getHeapMemoryUsage().getUsed()
                        + mx.getNonHeapMemoryUsage().getUsed())
            out = {
                "live_queries": len(spark.streams.active),
                "spark_start_s": spark_start_s,
                "peak_rss_kb": _vm_hwm_kb(os.getpid()) + _vm_hwm_kb(jvm_pid),
                "memory_kb": _vm_hwm_kb(os.getpid()) + jvm_used // 1024,
            }
            if instruments:
                out["streaming"] = instruments.streaming_progress(spark)
                out["spans"] = tracer.drain()
            return out

    server = Harness(
        "grpc://127.0.0.1:0", spark,
        sf_dir=os.path.join(work, "sf"),
        stream_dir=os.path.join(work, "stream"),
        checkpoint_root=os.path.join(work, "ckpt"),
        realtime_poll_timeout_s=10.0,
    )
    tmp = args.port_file + ".tmp"
    with open(tmp, "w") as f:
        f.write(str(server.port))
    os.replace(tmp, args.port_file)
    server.serve()
    return 0


if __name__ == "__main__":
    sys.exit(main())
