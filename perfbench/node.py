"""The load generator's Ethereum node: a JSON-RPC endpoint over the
seeded chain.

Serves ``eth_getLogs``, ``eth_getBlockByNumber`` and
``eth_blockNumber`` from per-block JSON encoded once up front, and
refuses a range whose result exceeds 10,000 logs with the error text
real nodes use, so the server's bisection runs. The server's ingest
reads unfiltered ranges, the only kind this node answers. The node
speaks HTTP/1.1 and keeps a connection open unless the client asks to
close it, so ``connections`` counts what the reader opens. One thread
runs an event loop that accepts, reads and answers every request: an
answer is a few joins of pre-encoded bytes, so a second thread would
only add hand-offs between threads to each request's path. The node
counts calls, refusals, connections, response bytes and busy time, so
a run can show the node was never the bottleneck.
"""

from __future__ import annotations

import asyncio
import json
import threading
import time
import traceback

from chain import NODE_LIMIT_ERROR, NODE_RESULT_LIMIT, Chain


class NodeStats:
    def __init__(self):
        self.lock = threading.Lock()
        self.calls = 0
        self.refused = 0
        self.connections = 0
        self.bytes = 0
        self.busy_s = 0.0

    def snapshot(self) -> dict:
        with self.lock:
            return {"calls": self.calls, "refused": self.refused,
                    "connections": self.connections, "bytes": self.bytes,
                    "busy_s": self.busy_s}


class Node:
    threads = 1

    def __init__(self, chain: Chain):
        self.chain = chain
        self.logs = chain.encode_logs()
        self.blocks = [chain.encode_block(b) for b in range(chain.spec.n_blocks)]
        self.stats = NodeStats()
        self._loop = asyncio.new_event_loop()
        self._server = self._loop.run_until_complete(
            asyncio.start_server(self._serve, "127.0.0.1", 0, backlog=128))
        port = self._server.sockets[0].getsockname()[1]
        self.url = f"http://127.0.0.1:{port}"
        self._thread = threading.Thread(target=self._loop.run_forever,
                                        name="node", daemon=True)

    def __enter__(self) -> "Node":
        self._thread.start()
        return self

    def __exit__(self, *exc):
        async def stop():
            self._server.close()
            await self._server.wait_closed()

        asyncio.run_coroutine_threadsafe(stop(), self._loop).result(30)
        self._loop.call_soon_threadsafe(self._loop.stop)
        self._thread.join()
        self._loop.close()

    async def _serve(self, reader: asyncio.StreamReader,
                     writer: asyncio.StreamWriter) -> None:
        """One connection: requests in turn until the client closes it
        or asks to (``Connection: close``). Clients must not pipeline."""
        stats = self.stats
        with stats.lock:
            stats.connections += 1
        try:
            while True:
                try:
                    head = await reader.readuntil(b"\r\n\r\n")
                except asyncio.IncompleteReadError:
                    return  # the client hung up between requests
                lines = head.decode("latin-1").split("\r\n")
                version = lines[0].rsplit(" ", 1)[-1]
                headers = {}
                for line in lines[1:]:
                    if line:
                        k, _, v = line.partition(":")
                        headers[k.strip().lower()] = v.strip().lower()
                body = await reader.readexactly(int(headers.get("content-length", 0)))
                t0 = time.perf_counter()
                out, refused = self.answer(json.loads(body))
                close = headers.get("connection") == "close" or version == "HTTP/1.0"
                writer.write(
                    b"HTTP/1.1 200 OK\r\nContent-Type: application/json\r\n"
                    b"Content-Length: %d\r\n%s\r\n"
                    % (len(out), b"Connection: close\r\n" if close else b"") + out)
                with stats.lock:
                    stats.calls += 1
                    stats.refused += refused
                    stats.bytes += len(out)
                    stats.busy_s += time.perf_counter() - t0
                await writer.drain()
                if close:
                    return
        except (ConnectionError, asyncio.IncompleteReadError):
            pass  # client went away mid-request or mid-response
        except Exception:  # the node keeps serving; the client sees a reset
            traceback.print_exc()
        finally:
            writer.close()

    def answer(self, req: dict) -> tuple[bytes, int]:
        method, params, rid = req.get("method"), req.get("params") or [], req.get("id", 1)
        head = f'{{"jsonrpc":"2.0","id":{json.dumps(rid)},'.encode()
        c = self.chain
        if method == "eth_blockNumber":
            return head + f'"result":"{hex(c.last)}"}}'.encode(), 0
        if method == "eth_getBlockByNumber":
            b = int(params[0], 16) - c.first
            if 0 <= b < len(self.blocks):
                return head + b'"result":' + self.blocks[b] + b"}", 0
            return head + b'"result":null}', 0
        if method == "eth_getLogs":
            f = params[0]
            lo = max(int(f["fromBlock"], 16), c.first) - c.first
            hi = min(int(f["toBlock"], 16), c.last) - c.first
            if f.get("address") or f.get("topics"):
                err = {"code": -32602, "message": "this node serves unfiltered ranges only"}
                return head + b'"error":' + json.dumps(err).encode() + b"}", 0
            if hi >= lo and c.offsets[hi + 1] - c.offsets[lo] > NODE_RESULT_LIMIT:
                return self._refuse(head), 1
            parts = [x for b in range(lo, hi + 1) for x in self.logs[b]]
            return head + b'"result":[' + b",".join(parts) + b"]}", 0
        err = {"code": -32601, "message": f"the method {method} does not exist"}
        return head + b'"error":' + json.dumps(err).encode() + b"}", 0

    @staticmethod
    def _refuse(head: bytes) -> bytes:
        err = {"code": -32005, "message": NODE_LIMIT_ERROR}
        return head + b'"error":' + json.dumps(err).encode() + b"}"

