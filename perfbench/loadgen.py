#!/usr/bin/env python3
"""Open-loop load generator for the soak, run as its own process.

    loadgen.py --port P --rate R --seconds S --conns C --users U --seed N
               --phases warm:W,measure:S --out FILE

It POSTs CDP events to /cdp/ingest on a fixed schedule, event i of a
phase due at phase start + i / R, over C keep-alive connections (a user's
events always use the same connection, so each profile sees its events in
order), and holds one SSE connection on /sse/cdp/segments. Each event's
`ts` is its due time; each request is timed from its due time, so a stall
also counts against the requests queued behind it. Before each phase it
prints `PHASE <name>` on standard output. Phases follow each other without
a pause; after the last one it waits until the server has processed every
accepted event and the expected segment frames have arrived.

The event mix: half are IDENTIFY events that flip the user's plan (pro,
free, pro, ...), which enter and leave pro_plan; the rest are TRACK
events, whose fifth per user enters power_user; one in twenty re-sends
the user's previous event, which the pipeline drops as a duplicate.
"""
import argparse
import http.client
import json
import os
import random
import socket
import sys
import threading
import time
import zlib
from datetime import datetime, timezone

import model


def iso_ms(ms):
    return datetime.fromtimestamp(ms // 1000, timezone.utc).strftime(
        "%Y-%m-%dT%H:%M:%S.") + f"{ms % 1000:03d}Z"


def make_events(rng, phase, n, users, prefix):
    """The phase's events in due order:
    (index, user, event_id, payload, plan, type)."""
    plans = {}
    last = {}
    out = []
    for i in range(n):
        u = f"{prefix}{rng.randrange(users)}"
        if u in last and rng.random() < 0.05:
            out.append((i, u) + last[u][2:])
            continue
        eid = f"{phase}-{i:07d}"
        if rng.random() < 0.5:
            plan = "free" if plans.get(u) == "pro" else "pro"
            plans[u] = plan
            payload = {"type": "IDENTIFY", "userId": u, "traits": {"plan": plan}}
        else:
            plan = None
            payload = {"type": "TRACK", "userId": u, "name": "feature_used"}
        ev = (i, u, eid, payload, plan, "IDENTIFY" if plan else "TRACK")
        last[u] = ev
        out.append(ev)
    return out


class Sse(threading.Thread):
    """Reads /sse/cdp/segments and records (receive time, frame)."""

    def __init__(self, port):
        super().__init__(daemon=True)
        self.sock = socket.create_connection(("127.0.0.1", port))
        self.sock.sendall(b"GET /sse/cdp/segments HTTP/1.1\r\nHost: localhost\r\n\r\n")
        self.frames = []
        self.lock = threading.Lock()

    def count(self):
        """Frames of the pipeline's own segments (reengage is timer-driven)."""
        with self.lock:
            return sum(1 for _, d in self.frames if d.get("segment") != "reengage")

    def run(self):
        f = self.sock.makefile("rb")
        try:
            while f.readline() not in (b"\r\n", b""):  # response headers
                pass
            buf = b""
            while True:
                size = int(f.readline().strip() or b"0", 16)
                if size == 0:
                    return
                buf += f.read(size)
                f.readline()
                while b"\n\n" in buf:
                    frame, buf = buf.split(b"\n\n", 1)
                    now = time.time()
                    if frame.startswith(b"data: "):
                        msg = json.loads(frame[6:])
                        if msg.get("type") == "segment_event":
                            with self.lock:
                                self.frames.append((now, msg["data"]))
        except (OSError, ValueError):
            return


def run_phase(args, name, seconds, events_rng, sse, results):
    n = int(args.rate * seconds)
    events = make_events(events_rng, name, n, args.users, f"{name[0]}u")
    by_conn = [[] for _ in range(args.conns)]
    for ev in events:
        by_conn[zlib.crc32(ev[1].encode()) % args.conns].append(ev)
    t0 = time.time() + 0.2
    records = []
    lock = threading.Lock()

    def sender(evs):
        conn = http.client.HTTPConnection("127.0.0.1", args.port, timeout=30)
        mine = []
        for i, user, eid, payload, plan, typ in evs:
            due = t0 + i / args.rate
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            start = time.time()
            ts_ms = int(round(due * 1000))
            body = json.dumps({"eventId": eid, "ts": iso_ms(ts_ms), "payload": payload})
            try:
                conn.request("POST", "/cdp/ingest", body,
                             {"Content-Type": "application/json"})
                resp = conn.getresponse()
                resp.read()
                status = resp.status
            except (OSError, http.client.HTTPException):
                status = 0
                conn.close()
                conn = http.client.HTTPConnection("127.0.0.1", args.port, timeout=30)
            mine.append({"i": i, "user": user, "event_id": eid, "type": typ,
                         "plan": plan, "ts_ms": ts_ms, "due": due, "start": start,
                         "end": time.time(), "status": status})
        conn.close()
        with lock:
            records.extend(mine)

    print(f"PHASE {name}", flush=True)
    # the main thread sends on the first connection
    threads = [threading.Thread(target=sender, args=(c,)) for c in by_conn[1:]]
    for t in threads:
        t.start()
    sender(by_conn[0])
    for t in threads:
        t.join()
    sent_end = time.time()
    accepted = sum(1 for r in records if r["status"] == 202)
    results[name] = {"records": sorted(records, key=lambda r: r["i"]),
                     "t0": t0, "sent_end": sent_end, "accepted": accepted}


def get_json(port, path, method="GET"):
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=30)
    try:
        conn.request(method, path)
        return json.loads(conn.getresponse().read() or b"{}")
    finally:
        conn.close()


def expected_frames(records):
    """Segment frames the accepted events must produce (see model.py)."""
    events = [(r["event_id"], r["ts_ms"], r["type"], r["user"], r["plan"])
              for r in records if r["status"] == 202]
    return sum(model.segment_counts(events).values())


def settle(port, sse, want_processed, want_frames, timeout=30.0, quiet=3.0):
    """Wait until the server processed `want_processed` events and
    `want_frames` segment frames arrived, or no frame came for `quiet`
    seconds."""
    deadline = time.time() + timeout
    while time.time() < deadline:
        if get_json(port, "/stats/cdp").get("cdp.events.processed", 0) >= want_processed:
            break
        time.sleep(0.05)
    last, since = sse.count(), time.time()
    while time.time() < deadline and time.time() - since < quiet \
            and last < want_frames:
        time.sleep(0.05)
        if sse.count() != last:
            last, since = sse.count(), time.time()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--port", type=int, required=True)
    ap.add_argument("--rate", type=float, required=True)
    ap.add_argument("--conns", type=int, default=3)
    ap.add_argument("--users", type=int, default=500)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--phases", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    if args.conns + 1 > (os.cpu_count() or 1):
        args.conns = max(1, (os.cpu_count() or 1) - 1)
    rng = random.Random(args.seed)
    sse = Sse(args.port)
    sse.start()
    results = {}
    for spec in args.phases.split(","):
        name, secs = spec.split(":")
        run_phase(args, name, float(secs), rng, sse, results)
    for r in results.values():
        r["expected_frames"] = expected_frames(r["records"])
    # phases follow each other without a pause, so each one after the
    # first starts under steady load; the drain is awaited once, at the end
    settle(args.port, sse, sum(r["accepted"] for r in results.values()),
           sum(r["expected_frames"] for r in results.values()))
    with sse.lock:
        frames = list(sse.frames)
    with open(args.out, "w") as f:
        json.dump({"conns": args.conns, "sse_conns": 1,
                   "threads": args.conns + 1, "phases": results,
                   "frames": [{"recv": r, **d} for r, d in frames]}, f)


if __name__ == "__main__":
    sys.exit(main())
