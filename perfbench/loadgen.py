#!/usr/bin/env python3
"""Closed-loop HTTP load generator, run by perfbench/run.py as a child
process so the clients do not share the server's interpreter lock.

Reads one JSON object on stdin: port, paths (the query pool as request
paths), seconds, clients, traced, and known (pool indexes whose reference
answer the caller already holds). Each client thread walks the pool in
order from its own offset (client c of n starts at c/n of the pool) and
sends its next request when the previous answer has arrived; with
``traced`` every other request of a client carries an X-Bench-Rid header,
which makes the server trace it. Writes one JSON object on stdout: the
loop's start, per request [t_send, wall_s, status, pool_index, rid,
body_digest] (times from time.perf_counter, the system-wide monotonic
clock), and the body of the first answer to each pool index not in
``known``.
"""

from __future__ import annotations

import hashlib
import http.client
import json
import sys
import threading
import time


def digest(body: bytes) -> str:
    return hashlib.blake2b(body, digest_size=16).hexdigest()


def main() -> int:
    cfg = json.load(sys.stdin)
    port, paths = cfg["port"], cfg["paths"]
    known = set(cfg["known"])
    lock = threading.Lock()
    recs: list[list] = []
    bodies: dict[int, str] = {}
    errors: list[BaseException] = []
    t_start = time.perf_counter()
    deadline = t_start + cfg["seconds"]

    def client(c: int) -> None:
        start = c * len(paths) // cfg["clients"]
        n = 0
        try:
            while time.perf_counter() < deadline:
                i = (start + n) % len(paths)
                n += 1
                rid = f"c{c}-{n}" if cfg["traced"] and n % 2 else None
                conn = http.client.HTTPConnection("127.0.0.1", port,
                                                  timeout=170)
                t0 = time.perf_counter()
                try:
                    conn.request("GET", paths[i],
                                 headers={"X-Bench-Rid": rid} if rid else {})
                    r = conn.getresponse()
                    body = r.read()
                    status = r.status
                finally:
                    conn.close()
                t1 = time.perf_counter()
                with lock:
                    recs.append([t0, t1 - t0, status, i, rid, digest(body)])
                    if i not in known and i not in bodies:
                        bodies[i] = body.decode()
        except BaseException as e:  # noqa: BLE001 — reported below
            errors.append(e)

    threads = [threading.Thread(target=client, args=(c,))
               for c in range(cfg["clients"])]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    if errors:
        print(f"loadgen: {errors[0]!r}", file=sys.stderr)
        return 1
    json.dump({"t_start": t_start, "recs": recs, "bodies": bodies},
              sys.stdout)
    return 0


if __name__ == "__main__":
    sys.exit(main())
