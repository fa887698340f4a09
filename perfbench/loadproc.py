"""The ``notify_live`` load process, separate from the engine's.

It connects one WebSocket and one SSE subscriber, then waits for the
engine's go file. From then on its main thread writes the seeded plan
on a fixed tick (``loadgen.run_live``) while a third thread polls
``/stats`` once a second: four threads in all. When the plan is
written it waits until both subscribers hold every id the reference
admits, or a deadline passes, and writes everything it saw to
``--out`` as JSON.

    python3 perfbench/loadproc.py --port P --dir IN --go GO --out OUT \
        --seed N --rate 200 --users 500 --dup-share 0.1 --warm-s 2 --seconds 10
"""

from __future__ import annotations

import argparse
import base64
import http.client
import json
import os
import socket
import struct
import threading
import time

import loadgen
import reference
from tracer import Tracer

HOST = "127.0.0.1"
# after the plan is written, every admitted id must arrive within this
DRAIN_TIMEOUT_S = 60.0


def _read_headers(f) -> bytes:
    status = f.readline()
    while f.readline() not in (b"\r\n", b""):
        pass
    return status


class Subscriber(threading.Thread):
    """Reads one live channel; records (id, receipt time, stamp)."""

    def __init__(self, kind: str, port: int, tracer: Tracer) -> None:
        super().__init__(daemon=True)
        self.kind = kind
        self.tracer = tracer
        self.got: list[tuple[int, float, float]] = []
        self.error: str | None = None
        self.closing = False
        self.sock = socket.create_connection((HOST, port), timeout=30)
        self.sock.settimeout(None)
        self.f = self.sock.makefile("rb")
        if kind == "ws":
            key = base64.b64encode(os.urandom(16)).decode()
            self.sock.sendall(
                (
                    f"GET /ws HTTP/1.1\r\nHost: {HOST}\r\nUpgrade: websocket\r\n"
                    "Connection: Upgrade\r\nSec-WebSocket-Version: 13\r\n"
                    f"Sec-WebSocket-Key: {key}\r\n\r\n"
                ).encode()
            )
            expect = b"101"
        else:
            self.sock.sendall(b"GET /stream HTTP/1.0\r\n\r\n")
            expect = b"200"
        status = _read_headers(self.f)
        if expect not in status:
            raise RuntimeError(f"{kind} subscribe failed: {status!r}")

    def _record(self, payload: bytes, start: float) -> None:
        now = time.time()
        e = json.loads(payload)
        self.got.append((int(e["id"]), now, float(e["timestamp"])))
        self.tracer.add(f"client.{self.kind}.recv", start, now)

    def _ws_loop(self) -> None:
        while True:
            start = time.time()
            head = self.f.read(2)
            if len(head) < 2:
                return
            opcode, n = head[0] & 0x0F, head[1] & 0x7F
            if n == 126:
                n = struct.unpack(">H", self.f.read(2))[0]
            elif n == 127:
                n = struct.unpack(">Q", self.f.read(8))[0]
            data = self.f.read(n)
            if opcode == 0x8:
                return
            if opcode == 0x1:
                self._record(data, start)

    def _sse_loop(self) -> None:
        while True:
            start = time.time()
            line = self.f.readline()
            if not line:
                return
            if line.startswith(b"data: "):
                self._record(line[6:].strip(), start)

    def run(self) -> None:
        try:
            self._ws_loop() if self.kind == "ws" else self._sse_loop()
        except (OSError, ValueError) as e:
            if not self.closing:
                self.error = f"{type(e).__name__}: {e}"

    def close(self) -> None:
        self.closing = True
        try:
            if self.kind == "ws":  # masked, empty close frame
                self.sock.sendall(b"\x88\x80" + os.urandom(4))
            self.sock.shutdown(socket.SHUT_RDWR)
        except OSError:
            pass
        self.join(timeout=10)
        self.f.close()
        self.sock.close()


class StatsPoller(threading.Thread):
    """GET /stats once a second; records (start, ms, ok)."""

    def __init__(self, port: int, tracer: Tracer) -> None:
        super().__init__(daemon=True)
        self.port = port
        self.tracer = tracer
        self.polls: list[tuple[float, float, bool]] = []
        self.stop = threading.Event()

    def run(self) -> None:
        due = time.time()
        while not self.stop.is_set():
            start = time.time()
            ok = False
            try:
                conn = http.client.HTTPConnection(HOST, self.port, timeout=30)
                conn.request("GET", "/stats")
                resp = conn.getresponse()
                body = resp.read()
                conn.close()
                ok = resp.status == 200 and "total_events" in json.loads(body)
            except (OSError, ValueError, http.client.HTTPException):
                ok = False
            end = time.time()
            self.polls.append((start, (end - start) * 1000.0, ok))
            self.tracer.add("client.stats.get", start, end)
            due += 1.0
            self.stop.wait(max(0.0, due - time.time()))


def main() -> int:
    ap = argparse.ArgumentParser()
    for name in ("--port", "--seed", "--users"):
        ap.add_argument(name, type=int, required=True)
    for name in ("--rate", "--dup-share", "--warm-s", "--seconds"):
        ap.add_argument(name, type=float, required=True)
    ap.add_argument("--dir", required=True)
    ap.add_argument("--go", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()

    tracer = Tracer("load", enabled=bool(args.trace))
    subs = [Subscriber(k, args.port, tracer) for k in ("ws", "sse")]
    for s in subs:
        s.start()
    with open(args.go + ".ready", "w"):
        pass
    while not os.path.exists(args.go):
        time.sleep(0.01)

    spec = loadgen.LoadSpec(
        seed=args.seed, rate=args.rate, users=args.users, dup_share=args.dup_share
    )
    plan = loadgen.plan(spec, int(round(args.rate * (args.warm_s + args.seconds))))
    t0_ms = int(time.time() * 1000)
    want = reference.admitted(
        plan.ids, plan.users, reference.wire_ts_us(t0_ms, plan.ts_ms)
    )
    stats = StatsPoller(args.port, tracer)
    stats.start()
    gen = loadgen.run_live(plan, args.dir, t0_ms)
    gen_end = time.time()
    stats.stop.set()

    lo, hi = int(plan.ids.min()), int(plan.ids.max())

    def live_count(s: Subscriber) -> int:
        return sum(1 for i, _, _ in list(s.got) if lo <= i <= hi)

    deadline = gen_end + DRAIN_TIMEOUT_S
    while time.time() < deadline and any(live_count(s) < len(want) for s in subs):
        time.sleep(0.05)
    drained_s = time.time() - gen_end
    stats.join(timeout=35)
    for s in subs:
        s.close()
    out = {
        "t0_ms": t0_ms,
        "gen_end": gen_end,
        "drained_s": drained_s,
        "gen": gen,
        "admitted": sorted(want),
        "id_range": [lo, hi],
        "subscribers": {
            s.kind: {"got": s.got, "error": s.error} for s in subs
        },
        "stats": stats.polls,
        "spans": tracer.spans,
    }
    tmp = args.out + ".tmp"
    with open(tmp, "w") as f:
        json.dump(out, f)
    os.rename(tmp, args.out)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
