"""Stub fleet: many monitored hosts, one process.

Every host is a loopback address ``127.0.0.<2+i>`` on one shared port and
answers ``GET /metrics/snapshot`` the way a Mesos agent would: a flat JSON
object of about 200 numeric metrics. ``127.0.0.1`` on the same port answers
the schema-registry register call and ``GET /_bench/log``, which returns the
request log and the stub's own health.

One host of each hostile kind is in the fleet, at fixed positions spread
over the host list, the slow one first (the source schedules one task per
host in list order, so the slow host's position changes how long a
micro-batch takes):

- ``down``: nothing listens on its address, so connections are refused.
- ``http_5xx``: answers 500.
- ``non_numeric``: a valid payload plus one string-valued metric.
- ``slow``: a valid payload, sent ``SLOW_FACTOR`` intervals late.

Payloads are a pure function of (seed, host, request number), so the checker
recomputes what was served without shipping payloads between processes.
The request number is itself a metric, ``bench/seq``.

Run: ``python3 stubfleet.py --port P --hosts 32 --seed S --interval 1``.
It prints ``READY`` once every address listens and serves until killed or
until its parent process exits.
"""

from __future__ import annotations

import argparse
import asyncio
import json
import os
import random
import sys
import time

HOSTILE = ("down", "http_5xx", "non_numeric", "slow")
N_METRICS = 200
SCHEMA_ID = 7
SLOW_FACTOR = 1.5
SEQ_METRIC = "bench/seq"
NON_NUMERIC_METRIC = "bench/version"


def host_address(i: int) -> str:
    return f"127.0.0.{2 + i}"


def fleet_roles(n_hosts: int) -> list[str]:
    """Role of each host index: the hostile kinds spread evenly, the slow
    host first."""
    roles = ["healthy"] * n_hosts
    step = n_hosts // len(HOSTILE)
    for k, role in enumerate(("slow", "down", "http_5xx", "non_numeric")):
        roles[k * step] = role
    return roles


def metric_names() -> list[str]:
    return [f"slave/metric_{j:03d}" for j in range(N_METRICS - 1)] + [SEQ_METRIC]


def numeric_payload(seed: int, host: int, seq: int) -> dict[str, float]:
    """The numeric metrics host ``host`` serves on its ``seq``-th request.
    Values are thousandths, which survive every decimal round trip exactly."""
    rng = random.Random((seed * 1_000_003 + host) * 1_000_003 + seq)
    names = metric_names()
    out = {n: rng.randrange(0, 10**9) / 1000.0 for n in names[:-1]}
    out[SEQ_METRIC] = float(seq)
    return out


def served_payload(seed: int, host: int, seq: int, role: str) -> dict:
    body: dict = numeric_payload(seed, host, seq)
    if role == "non_numeric":
        body[NON_NUMERIC_METRIC] = "1.2.3-stub"
    return body


class Fleet:
    def __init__(self, seed: int, n_hosts: int, interval: float):
        self.seed = seed
        self.roles = fleet_roles(n_hosts)
        self.interval = interval
        self.seq = [0] * n_hosts
        # (host, seq, arrival_ns, done_ns, status)
        self.log: list[tuple[int, int, int, int, int]] = []
        self.started = time.monotonic()
        self.cpu0 = time.process_time()

    async def handle(self, host: int | None, reader, writer) -> None:
        arrival = time.time_ns()
        path, seq, status = "", -1, 0
        try:
            head = await reader.readuntil(b"\r\n\r\n")
            method, path, _ = head.split(b"\r\n", 1)[0].decode().split(" ", 2)
            length = 0
            for line in head.decode().split("\r\n")[1:]:
                if line.lower().startswith("content-length:"):
                    length = int(line.split(":", 1)[1])
            if length:
                await reader.readexactly(length)
            status, body, seq = await self.route(host, method, path)
            writer.write(
                f"HTTP/1.1 {status} X\r\nContent-Type: application/json\r\n"
                f"Content-Length: {len(body)}\r\nConnection: close\r\n\r\n".encode() + body
            )
            await writer.drain()
        except (asyncio.IncompleteReadError, ConnectionError, ValueError):
            status = 0
        finally:
            writer.close()
        if host is not None and path == "/metrics/snapshot":
            self.log.append((host, seq, arrival, time.time_ns(), status))

    async def route(self, host: int | None, method: str, path: str) -> tuple[int, bytes, int]:
        """(status, body, request number of the host; -1 off the scrape path)."""
        if host is None:
            if method == "POST" and path.startswith("/subjects/"):
                return 200, json.dumps({"id": SCHEMA_ID}).encode(), -1
            if path == "/_bench/log":
                return 200, json.dumps(self.report()).encode(), -1
            return 404, b"{}", -1
        if path != "/metrics/snapshot":
            return 404, b"{}", -1
        role = self.roles[host]
        seq = self.seq[host]
        self.seq[host] += 1
        if role == "http_5xx":
            return 500, b'{"error":"stub"}', seq
        if role == "slow":
            await asyncio.sleep(SLOW_FACTOR * self.interval)
        return 200, json.dumps(served_payload(self.seed, host, seq, role)).encode(), seq

    def report(self) -> dict:
        return {
            "roles": self.roles,
            "requests": self.log,
            "cpu_s": time.process_time() - self.cpu0,
            "wall_s": time.monotonic() - self.started,
        }


async def serve(port: int, seed: int, n_hosts: int, interval: float) -> None:
    fleet = Fleet(seed, n_hosts, interval)
    servers = [await asyncio.start_server(lambda r, w: fleet.handle(None, r, w), "127.0.0.1", port)]
    for i, role in enumerate(fleet.roles):
        if role == "down":
            continue
        servers.append(await asyncio.start_server(
            lambda r, w, i=i: fleet.handle(i, r, w), host_address(i), port, backlog=64))
    print("READY", flush=True)
    await asyncio.gather(orphan_watch(), *(s.serve_forever() for s in servers))


async def orphan_watch() -> None:
    """Exit when the process that started the stub is gone."""
    parent = os.getppid()
    while os.getppid() == parent:
        await asyncio.sleep(1.0)
    raise SystemExit(0)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--port", type=int, required=True)
    ap.add_argument("--hosts", type=int, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--interval", type=float, default=1.0)
    a = ap.parse_args()
    try:
        asyncio.run(serve(a.port, a.seed, a.hosts, a.interval))
    except KeyboardInterrupt:
        sys.exit(0)


if __name__ == "__main__":
    main()
