"""CDC changelog generator: a MaxScale CDC endpoint in its own process.

    python3 perfbench/cdcgen.py --seed 1 --plan '[{"name": "low", "rows": 20000, "rate": 2500}]'

It listens on one localhost port (printed as ``{"port": N}``), accepts
one connection, checks the handshake with the same rules as
``gomaxscale_spark.sources.mock_server`` and then sends the seeded
changelog phase by phase. Each phase starts when ``go`` arrives on
stdin and sends on an absolute schedule: row ``i`` of a phase is due at
``t0 + i / rate`` and every due row is written at once, so a stalled
consumer (TCP backpressure) makes the generator late instead of slowing
the schedule. A rate of 0 writes the whole phase at once. After each
phase one JSON line reports ``t0``, the wire index of its first row and
how late the writes ran.

The changelog (``changelog``) is a pure function of the seed, so the
benchmark replays the same rows to get the expected snapshot.
"""

from __future__ import annotations

import argparse
import binascii
import json
import random
import socket
import sys
import time

DATABASE, TABLE = "example", "users"
DDL = {
    "namespace": "MaxScaleChangeDataSchema.avro", "type": "record", "name": "ChangeRecord",
    "table": TABLE, "database": DATABASE, "version": 1, "gtid": "0-1-0",
    "fields": [
        {"name": "id", "type": "int", "real_type": "int", "length": -1},
        {"name": "name", "type": ["null", "string"], "real_type": "varchar", "length": 255},
        {"name": "email", "type": "string", "real_type": "varchar", "length": 255},
        {"name": "state", "type": {"type": "enum", "name": "state", "symbols": ["active", "blocked"]}},
    ],
}
STATES = ("active", "blocked")


def changelog(seed: int, load_rows: int, rows: int) -> list[dict]:
    """The wire rows: the DDL event, ``load_rows - 1`` inserts (the live
    key space), then ``rows`` change rows over it. Change rows come in
    pairs: an update (update_before + update_after) or a delete of a
    cold key followed by an insert of a fresh key, so the number of
    live keys never changes. Half of the updates hit the 1% hot keys."""
    if rows % 2:
        raise ValueError("change rows come in pairs")
    rng = random.Random(seed)
    out: list[dict] = [DDL]
    live: dict[int, dict] = {}
    seq = 0

    def emit(kind: str, num: int, row: dict) -> None:
        out.append({"domain": 0, "server_id": 1, "sequence": seq, "event_number": num,
                    "timestamp": 1_704_067_200 + seq // 1000, "event_type": kind, **row})

    def fresh(key: int) -> dict:
        return {"id": key, "name": f"user-{key}-{rng.randrange(1000)}",
                "email": f"user{key}@example.com", "state": STATES[rng.randrange(2)]}

    for key in range(load_rows - 1):
        seq += 1
        live[key] = fresh(key)
        emit("insert", 1, live[key])
    n_hot = max(1, len(live) // 100)
    cold = list(range(n_hot, load_rows - 1))
    next_key = load_rows - 1
    for _ in range(rows // 2):
        seq += 1
        if rng.random() < 0.7:
            key = rng.randrange(n_hot) if rng.random() < 0.5 else rng.choice(cold)
            emit("update_before", 1, live[key])
            after = dict(live[key], name=f"user-{key}-{rng.randrange(1000)}",
                         state=STATES[rng.randrange(2)])
            after["name"] = None if rng.random() < 0.05 else after["name"]
            live[key] = after
            emit("update_after", 2, after)
        else:
            i = rng.randrange(len(cold))
            key = cold[i]
            emit("delete", 1, live.pop(key))
            seq += 1
            cold[i] = next_key
            live[next_key] = fresh(next_key)
            emit("insert", 1, live[next_key])
            next_key += 1
    return out


def replay(rows: list[dict]) -> dict[int, tuple]:
    """Table state after applying the rows in order."""
    state: dict[int, tuple] = {}
    for r in rows:
        kind = r.get("event_type")
        if kind in ("insert", "update_after"):
            state[r["id"]] = (r["name"], r["email"], r["state"])
        elif kind == "delete":
            state.pop(r["id"], None)
    return state


def _handshake(conn: socket.socket) -> None:
    from gomaxscale_spark.sources.mock_server import RE_AUTH, RE_DATA_STREAM, RE_REGISTRATION

    if not RE_AUTH.match(binascii.unhexlify(conn.recv(1024))):
        raise ConnectionError("bad authentication request")
    conn.sendall(b"OK")
    if not RE_REGISTRATION.match(conn.recv(1024)):
        raise ConnectionError("bad registration request")
    conn.sendall(b"OK")
    if not RE_DATA_STREAM.match(conn.recv(1024)):
        raise ConnectionError("bad data request")


def send_phase(conn: socket.socket, wire: list[bytes], rate: float) -> dict:
    """Send ``wire`` on the absolute schedule; return timing facts."""
    t0 = time.time()
    lateness: list[float] = []
    sent = 0
    n = len(wire)
    while sent < n:
        now = time.time()
        due = n if rate <= 0 else min(n, int((now - t0) * rate) + 1)
        if due > sent:
            lateness.append(now - (t0 + sent / rate if rate > 0 else t0))
            conn.sendall(b"".join(wire[sent:due]))
            sent = due
        if sent < n:
            time.sleep(max(0.0, t0 + sent / rate - time.time()))
    return {"t0": t0, "lateness_ms_max": max(lateness) * 1000.0}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--load-rows", type=int, required=True)
    ap.add_argument("--plan", required=True, help="JSON list of {name, rows, rate}")
    ap.add_argument("--drop", type=int, default=-1, help="never send this row of the last phase")
    args = ap.parse_args()
    plan = json.loads(args.plan)

    rows = changelog(args.seed, args.load_rows, sum(p["rows"] for p in plan))
    wire = [json.dumps(r).encode() + b"\n" for r in rows]
    phases = [("load", wire[:args.load_rows], 0.0)]
    start = args.load_rows
    for p in plan:
        phases.append((p["name"], wire[start:start + p["rows"]], float(p["rate"])))
        start += p["rows"]
    if args.drop >= 0:
        name, chunk, rate = phases[-1]
        phases[-1] = (name, chunk[:args.drop] + chunk[args.drop + 1:], rate)

    srv = socket.create_server(("127.0.0.1", 0))
    print(json.dumps({"port": srv.getsockname()[1]}), flush=True)
    srv.settimeout(120)
    conn, _ = srv.accept()
    srv.close()
    first = 0
    try:
        _handshake(conn)
        for name, chunk, rate in phases:
            cmd = sys.stdin.readline().strip()
            if cmd != "go":
                break
            report = send_phase(conn, chunk, rate)
            print(json.dumps(dict(report, phase=name, first=first, rows=len(chunk), rate=rate)),
                  flush=True)
            first += len(chunk)
        sys.stdin.readline()  # EOF: the benchmark is done
    finally:
        conn.close()
    return 0


if __name__ == "__main__":
    sys.exit(main())
